package graft

import org.apache.spark.sql.SparkSession

/** Shared local-session builder for the runnable mains (Verify, Bench,
  * Profile, Pipeline) — one place for the configs every entry point
  * needs instead of four copies. */
object Sessions {
  /** `spark.sql.codegen.cache.maxEntries`: the JVM-wide cache of
    * compiled generated classes. Spark's default of 100 is smaller
    * than what one warm serving cycle (a page, a knn and a streaming
    * ingest batch) touches, so eviction made every warm cycle
    * recompile ~85 classes — as many as the cold one (measured in
    * `plans/r18/`). A static setting: it must be set when the session
    * is built, and the cache is sized when the JVM first compiles. */
  val CodegenCacheEntries = "5000"

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  def local(cpus: String, shufflePartitions: String = null,
            extra: Map[String, String] = Map.empty): SparkSession = {
    val settings = Seq(
      "spark.master" -> s"local[$cpus]",
      // reuse cpus as the partition count only when it IS a count —
      // "*" is a legal local[...] master spec but would blow up far
      // away in SQLConf validation as a partition number
      "spark.sql.shuffle.partitions" -> Option(shufflePartitions).getOrElse(
        if (cpus.matches("[0-9]+")) cpus else "32"),
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      // r16: the engine's signature bounded-collect pattern —
      // `limit(ceiling + 1).collect()` protecting driver metadata
      // (beam-serve hop pages, MMR candidate frames, admission
      // checks) — plans as CollectLimitExec, whose executeTake ramps
      // 1 → ×scaleUpFactor partitions per pass. Those protective
      // caps almost never BIND, so the ramp recomputes the scan in
      // 2+ sequential sub-jobs for zero saved work (measured: each
      // graph-serve hop paid it). A higher initial partition count
      // makes pass 1 cover the whole scan for anything under this
      // many partitions — one job per bounded collect.
      "spark.sql.limit.initialNumPartitions" -> "512",
      // r17: every LOCAL relation in this engine is bounded driver
      // metadata BY DOCTRINE (beam frontiers, known-pair sets, query
      // pages, admission sets — all ≤ 4096 rows or ceiling-guarded),
      // but LocalTableScanExec parallelizes its rows over
      // defaultParallelism when executed as an RDD — and Spark 4's
      // AQE broadcast-stage build executes exactly that RDD, so every
      // broadcast of a local frame paid a defaultParallelism-task job
      // (measured: a 6-hop graph serve ran 919 tasks / 45 exec-s, of
      // which ~580 tasks were 32-way parallelize of <100 KB local
      // data; at parallelism 1 the same serve runs 108 tasks /
      // 2.3 exec-s, identical results). One partition is the right
      // shape for ≤4096-row relations on ANY cluster size — shipping
      // bounded metadata through hundreds of scheduler slots is pure
      // overhead.
      "spark.sql.leafNodeDefaultParallelism" -> "1",
      // r16: let AQE re-plan the partitioning of CACHED intermediates
      // — the engine caches small intermediate frames everywhere
      // (CacheSlots), and with the default (false) every consumer of
      // a cached frame inherits the cached plan's pre-AQE shuffle
      // partition count instead of AQE-coalesced partitions (measured:
      // knn_pagerank_ann over a cached graph ran 505 → 779 tasks when
      // the graph cache pinned its partitioning). Scale-safe: this
      // only re-enables the same AQE coalescing uncached plans get.
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
      "spark.sql.codegen.cache.maxEntries" -> CodegenCacheEntries) ++ extra
    val b = SparkSession.builder()
    settings.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // getOrCreate hands back a running session as is, apart from its
    // runtime SQL settings: say which requested settings it lacks
    val ignored = ignoredSettings(spark, settings)
    if (ignored.nonEmpty)
      log.warn("Sessions.local reuses a running Spark session that does not carry " +
        ignored.map { case (k, v) => s"$k=$v" }.mkString(", ") +
        " (static and core settings take effect only in a new session)")
    spark
  }

  /** The `settings` that `spark` does not carry: the session's value of
    * each key (its SQL conf, or its SparkContext's conf for core keys)
    * differs from the requested one. */
  def ignoredSettings(spark: SparkSession,
                      settings: Seq[(String, String)]): Seq[(String, String)] =
    settings.filterNot { case (k, v) =>
      spark.conf.getOption(k).orElse(spark.sparkContext.getConf.getOption(k)).contains(v)
    }
}
