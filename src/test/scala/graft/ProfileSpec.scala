package graft

/** [[Profile]]'s per-entry routine on a bench-pinned entry, and its
  * up-front name check. */
class ProfileSpec extends SparkSpec {

  test("profile: formatted plan, timed reps and bench counters of one entry") {
    val r = Profile.profile(spark, new BenchCounters(spark.sparkContext),
      sfDir, "eval_grouped_metrics", reps = 1)
    assert(r.plan.contains("== Physical Plan =="))
    assert(r.reps.size === 1 && r.median > 0)
    assert(r.counters.jobs > 0 && r.counters.tasks > 0)
    assert(r.json.startsWith("""{"entry":"eval_grouped_metrics","median":"""))
  }

  test("an unknown entry name fails with the list of available names") {
    assert(SparkEntry.unknownNames(Seq("knn_pagerank")) === None)
    val msg = SparkEntry.unknownNames(Seq("knn_pagerank", "no_such_entry")).get
    assert(msg.startsWith("unknown entry 'no_such_entry'; available: "))
    assert(SparkEntry.catalog.forall(q => msg.contains(q.name)))
  }
}
