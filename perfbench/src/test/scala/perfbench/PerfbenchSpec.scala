package perfbench

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

class PerfbenchSpec extends AnyFunSuite {

  test("median of odd and even samples") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(3.0, 1.0, 2.0, 10.0)) == 2.5)
  }

  test("self time subtracts the union of the direct children only") {
    val parent = Span(0, "diff", -1, 0.0, 100.0)
    val spans = Seq(parent,
      Span(1, "read", 0, 10.0, 40.0),
      Span(2, "read", 0, 30.0, 50.0),      // overlaps its sibling
      Span(3, "inner", 1, 12.0, 20.0),     // a grandchild: already inside span 1
      Span(4, "late", 0, 90.0, 130.0),     // clipped to the parent's end
      Span(5, "other", -1, 0.0, 100.0))
    assert(Trace.selfTime(parent, spans) == 100.0 - 40.0 - 10.0)
    assert(Trace.selfTime(spans(1), spans) == 30.0 - 8.0)
    assert(Stats.unionLength(Seq((0.0, 1.0), (0.5, 2.0), (3.0, 4.0), (5.0, 5.0))) == 3.0)
  }

  test("a job's module is the first graft frame of its call site") {
    val site = Seq(
      "org.apache.spark.sql.Dataset.collect(Dataset.scala:3000)",
      "scala.collection.immutable.List.foreach(List.scala:333)",
      "graft.operators.Similarity$.$anonfun$appendToGraphIndex$3(Similarity.scala:1400)",
      "graft.streaming.EventStream$.$anonfun$streamingGraphIngest$1(EventStream.scala:601)",
      "perfbench.RetrievalLive$.ingest$1(RetrievalLive.scala:100)").mkString("\n")
    assert(Trace.moduleOf(site) == "Similarity")
    assert(Trace.moduleOf("graft.Pipeline$.run(Pipeline.scala:240)") == "Pipeline")
    assert(Trace.moduleOf("graft.operators.Par$$anon$1.run(Par.scala:10)") == "Par")
    assert(Trace.moduleOf("org.apache.spark.rdd.RDD.count(RDD.scala:1)\nperfbench.Main$.main(Main.scala:1)") == "other")
    assert(Trace.moduleOf("") == "other")
  }

  test("jobs without an engine frame take the module of their SQL execution, stream or request") {
    val spans = Seq(Span(0, "page", -1, 0, 10), Span(1, "inner", 0, 1, 2), Span(2, "probe", -1, 20, 30))
    val jobs = Trace.resolveModules(Seq(
      JobRec(0, -1, "Retrieval", 0, 1, Some("7")),
      JobRec(1, -1, "other", 0, 1, Some("7")),         // an adaptive stage of execution 7
      JobRec(2, -1, "other", 0, 1, Some("8"), streaming = true),
      JobRec(3, -1, "other", 0, 1, Some("9")),
      JobRec(4, -1, "other", 0, 1, None),
      JobRec(5, -1, "Similarity", 0, 1, Some("8"), streaming = true),
      JobRec(6, 1, "other", 0, 1, Some("8")),          // the collect of a served page
      JobRec(7, 2, "other", 0, 1, None)),              // in a span of no request
      Map("7" -> "Retrieval", "8" -> "other", "9" -> "Similarity"), spans)
    assert(jobs.map(_.module) ==
      Seq("Retrieval", "Retrieval", "EventStream", "Similarity", "other", "Similarity", "Retrieval", "other"))
  }

  test("jobs belong to the operation their span names, else to the one open when they start") {
    val ops = Seq(Span(0, "page", -1, 0.0, 10.0), Span(2, "ingest", -1, 20.0, 30.0))
    val spans = ops :+ Span(1, "inner", 0, 2.0, 4.0)
    val jobs = Seq(JobRec(0, 1, "Retrieval", 3.0, 3.5),
      JobRec(1, -1, "EventStream", 21.0, 22.0), // a streaming query's job
      JobRec(2, -1, "other", 15.0, 16.0))      // between operations
    val byOp = Report.jobsByOp(spans, jobs, ops)
    assert(byOp(0).map(_.id) == Seq(0))
    assert(byOp(2).map(_.id) == Seq(1))
    assert(!byOp.values.flatten.exists(_.id == 2))
  }

  test("a cycle's figure weights each kind's median by how often a cycle runs it") {
    def cost(jobs: Int) = Report.OpCost(jobs, 0, 0.0, 0.0, 0.0, 0, 0.0, Map.empty)
    val cycle = Seq(1.0 -> Seq(cost(10), cost(30), cost(12)), 1.0 -> Seq(cost(4)),
      1.0 / 3 -> Seq(cost(30), cost(36)), 0.5 -> Nil)
    assert(math.abs(Report.perCycle(cycle)(_.jobs.toDouble) - (12.0 + 4.0 + 11.0)) < 1e-9)
  }

  private def tmp(): Path = Files.createTempDirectory("perfbench-spec")
  private def bytes(p: Path): Array[Byte] = Files.readAllBytes(p)

  test("the WRF generator is deterministic per seed") {
    val (a, b, c) = (tmp(), tmp(), tmp())
    Gen.writeWrfRun(Gen.wrfRun(7, 12, 10, 9), a.toString)
    Gen.writeWrfRun(Gen.wrfRun(7, 12, 10, 9), b.toString)
    Gen.writeWrfRun(Gen.wrfRun(8, 12, 10, 9), c.toString)
    for (s <- Gen.Systems) {
      val f = s"d03_RAINNC_$s.nc"
      assert(bytes(a.resolve(f)).sameElements(bytes(b.resolve(f))), f)
      assert(!bytes(a.resolve(f)).sameElements(bytes(c.resolve(f))), f)
      assert(bytes(a.resolve(f)).length == bytes(c.resolve(f)).length, f)
    }
    val run = Gen.wrfRun(7, 12, 10, 9)
    val cum = run.cumulative("A")
    assert(cum.take(run.cells).forall(_ == 0.0f), "rain accumulates from zero")
    assert(cum.indices.drop(run.cells).forall(i => cum(i) >= cum(i - run.cells)), "cumulative")
    assert(cum.drop((run.nt - 1) * run.cells).exists(_ == 0.0f), "dry cells")
    assert(cum.exists(_ > 0.0f), "storm cells")
  }

  test("the corpus generator is deterministic per seed and keeps the fixture's mix") {
    val spark = graft.Sessions.local("1")
    try {
      def write(seed: Long): Path = {
        val d = tmp()
        Gen.writeCorpus(spark, d.toString, Gen.documents(seed, 400),
          Gen.vectors(seed, 400).zipWithIndex.map { case ((v, l), i) => (i.toLong, v, l) })
        d
      }
      val (a, b, c) = (write(3), write(3), write(4))
      for (t <- Seq("documents", "embeddings")) {
        val f = s"$t.parquet/part-00000.parquet"
        assert(bytes(a.resolve(f)).sameElements(bytes(b.resolve(f))), f)
        assert(!bytes(a.resolve(f)).sameElements(bytes(c.resolve(f))), f)
        assert(spark.read.parquet(a.resolve(s"$t.parquet").toString).count() ==
          spark.read.parquet(c.resolve(s"$t.parquet").toString).count())
      }
    } finally spark.stop()
    val docs = Gen.documents(5, 5000)
    val near = docs.count(_.text.endsWith(" dup")).toDouble / docs.size
    assert(math.abs(near - Gen.NearDupFrac) < 0.015, s"near-dup share $near")
    val en = docs.count(_.lang == "en").toDouble / docs.size
    assert(math.abs(en - 0.412) < 0.03, s"en share $en")
    assert(docs.forall(d => d.text.split(' ').length >= 10))
  }
}
