package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Timeseries
import graft.sinks.{JdbcUpsert, RfieldSink}
import graft.sources.{NetCdfClassic, NetCdfClassicWriter}

/** End-to-end demo of the reference pipeline on graft — everything
  * `wrf_data_pusher.py` + `gen_rfields.py` do per forecast run, as one
  * Spark job:
  *
  *   netCDF grids → per-interval rainfall → LK-time series keyed by
  *   registered station + deterministic tms id → upsert statements +
  *   per-timestep rfield files + fgt watermark.
  *
  * Config-driven like the reference (`wrf_data_pusher.py:283-310` runs
  * one process per system from the `config/` JSONs; here all systems of a
  * run are ONE job — the per-system frames union into a single plan,
  * so stage boundaries amortize across systems instead of re-running
  * per process):
  *
  *   sbt "runMain graft.Pipeline --config path/to/run.json"
  *   sbt "runMain graft.Pipeline <ncDir> <outDir>"        # defaults
  *   sbt "runMain graft.Pipeline <ny> <nx> <nt>"          # synthetic
  *
  * With no args, generates a synthetic 2-system WRF run (via
  * [[NetCdfClassicWriter]]) into a temp dir first, then processes it —
  * a self-contained smoke of source → operators → sinks; the temp dir
  * is removed once the run has printed its lines
  * ([[withSyntheticRun]]).
  */
object Pipeline {

  /** Driver-side summary: totals plus per-system series counts (the
    * reference prints "-- {system} --" blocks; this is the queryable
    * version of the same accounting). `stageSeconds` carries the
    * per-stage wall clock of the run so callers (Bench) can attribute
    * a regression to parse/diff vs sinks instead of reading one
    * opaque end-to-end number. `parse_diff` times the fill of the
    * cached diffs and reads 0 when no diff is cached (the parse then
    * runs inside `rfields`); `stations`, `series` and `watermarks` are
    * driver tallies over the primary pattern's grid headers (no Spark
    * job). */
  final case class PipelineResult(stations: Long, seriesRows: Long,
                                  watermarks: Long, perSystem: Map[String, Long],
                                  stageSeconds: Map[String, Double] = Map.empty)

  def main(args: Array[String]): Unit = {
    val spark = Sessions.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"), shufflePartitions = "8")

    def numeric(s: String) = s.matches("[0-9]+")
    def report(cfg: PipelineConfig): Unit = {
      val t0 = System.nanoTime()
      run(spark, cfg)
      println(f"PIPELINE wall=${(System.nanoTime() - t0) / 1e9}%.1fs")
    }
    args match {
      case Array("--config", path) => report(PipelineConfig.fromJson(path))
      // DISCOVERY config, not the Seq("A","C") default: a directory
      // with A/C/E files must process all three — the default subset
      // would silently omit E from every mean, count, and watermark
      case Array(a, b) if !numeric(a) || !numeric(b) => report(discoveryConfig(a, b))
      // numeric-guarded so a 3-token typo ("--config run.json
      // --verbose") reaches the usage error below instead of dying in
      // toInt
      case Array(ny, nx, nt) if Seq(ny, nx, nt).forall(numeric) =>
        withSyntheticRun(ny.toInt, nx.toInt, nt.toInt)(report)
      case Array() => withSyntheticRun()(report) // default synthetic demo run
      case other =>
        // fail loud: a malformed invocation must not silently
        // fabricate and process a synthetic run the operator
        // mistakes for their real one
        throw new IllegalArgumentException(
          s"unrecognized arguments: ${other.mkString(" ")}\n" +
            "usage: Pipeline                      (synthetic demo)\n" +
            "       Pipeline <ny> <nx> <nt>       (synthetic at size)\n" +
            "       Pipeline <ncDir> <outDir>\n" +
            "       Pipeline --config <path>")
    }
    spark.stop()
  }

  /** A synthetic run ([[generateSyntheticRun]]) in a fresh
    * `graft_pipeline*` directory under `java.io.tmpdir`, handed to
    * `body` as a config that writes into its `out/`; the directory,
    * inputs and outputs alike, is deleted when `body` returns or
    * throws. */
  def withSyntheticRun[A](ny: Int = 4, nx: Int = 6, nt: Int = 25)
                         (body: PipelineConfig => A): A = {
    val d = java.nio.file.Files.createTempDirectory("graft_pipeline")
    try {
      generateSyntheticRun(d.toString, ny, nx, nt)
      body(PipelineConfig(ncDir = d.toString, outDir = s"$d/out"))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(d.toFile)
  }

  /** WRF systems × nt steps × ny×nx grid of cumulative rainfall
    * (defaults sized for a quick smoke; 100×100×240 ≈ the reference's
    * real d03 grid per run). */
  def generateSyntheticRun(dir: String, ny: Int = 4, nx: Int = 6,
                           nt: Int = 25,
                           systems: Seq[String] = Seq("A", "C")): String = {
    val lats = Array.tabulate(ny)(i => 5.0f + 0.03f * i)
    val lons = Array.tabulate(nx)(i => 79.0f + 0.03f * i)
    val times = Array.tabulate(nt)(t => 15.0f * t)
    for ((sys, k) <- systems.zipWithIndex) {
      val base = 1.0f + k
      val cell = ny * nx
      val values = Array.tabulate(nt * cell) { i =>
        val t = i / cell; base * t * ((i % cell) % 5)  // cumulative, per-cell slope
      }
      NetCdfClassicWriter.writeWrfGrid(s"$dir/d03_RAINNC_$sys.nc",
        lats, lons, times, "2020-01-01 00:00:00", "RAINNC", values)
    }
    dir
  }

  /** Legacy two-arg entry — DISCOVERS the systems present in ncDir by
    * matching the default file pattern (the pre-config behavior: a
    * directory with A/C/E files processes all three; a directory whose
    * files don't match the pattern fails loud instead of silently
    * processing the default subset). */
  def run(spark: SparkSession, ncDir: String, outDir: String): PipelineResult = {
    // start the residual clock BEFORE discovery: the directory listing
    // is part of this entry's wall and must land in the `other` stage
    val t0 = System.nanoTime()
    run(spark, discoveryConfig(ncDir, outDir), t0)
  }

  /** The discovery config behind the two-arg entries (CLI and API). */
  private def discoveryConfig(ncDir: String, outDir: String): PipelineConfig = {
    val base = PipelineConfig(ncDir = ncDir, outDir = outDir)
    val rx = java.util.regex.Pattern.quote(base.filePattern)
      .replace("{system}", "\\E(.+)\\Q").r
    val found = Option(new java.io.File(ncDir).list()).getOrElse(Array.empty)
      .flatMap { n => n match { case rx(s) => Some(s); case _ => None } }
      .toSeq.sorted
    require(found.nonEmpty,
      s"no files matching '${base.filePattern}' in $ncDir")
    base.copy(systems = found)
  }

  /** `startedNanos` lets an entry point that did work before calling
    * here (the discovery overload's directory listing) charge that
    * time to the `other` stage instead of losing it. */
  def run(spark: SparkSession, cfg: PipelineConfig,
          startedNanos: Long = System.nanoTime()): PipelineResult = {
    val runT0 = startedNanos
    val domains = cfg.runDomains
    val primary = domains.head
    // primary domain feeds the station/series/watermark path (the
    // reference pushes only d03 series to the DB); the readiness and
    // existence gates cover EVERY domain's files — a run must not
    // start with d01 still uploading
    val allPaths = domains.flatMap(d =>
      cfg.systems.map(s => cfg.ncPath(d.filePattern, s))).distinct
    if (cfg.waitReadyMs > 0L) { // is_netcdf_ready.sh semantics
      val gate = graft.sources.ArrivalGate.awaitReady(allPaths, cfg.waitReadyMs)
      require(gate.ready,
        s"inputs not complete after ${gate.waitedMs}ms: ${gate.notReady.mkString(", ")}")
    }
    val missing = allPaths.filterNot(p => new java.io.File(p).exists())
    require(missing.isEmpty, s"missing netCDF inputs: ${missing.mkString(", ")}")

    // every input's grid header, read once on the driver: the split
    // reader's plan, the accounting and the bundles' cells
    val patterns = domains.map(_.filePattern).distinct
    val headers = patterns.map(p =>
      p -> cfg.systems.map(s => NetCdfClassic.gridHeader(cfg.ncPath(p, s)))).toMap

    val stageSecs = scala.collection.mutable.LinkedHashMap[String, Double]()
    def stage(label: String, secs: Double): Unit = {
      stageSecs(label) = secs
      println(f"PIPELINE stage $label%-12s $secs%6.1fs")
    }
    def timed[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      stage(label, (System.nanoTime() - t0) / 1e9)
      r
    }
    // every frame this run caches, released on success AND failure: a
    // sink that throws must not leave them pinned in a long-lived session
    val caches = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def pinned(df: DataFrame): DataFrame = { caches += df; df.cache() }

    val (nStations, perSystem, nWm) = try {
      // 1-2. per file pattern, every system's grid diffed per
      //    (system, cell) series (A1). Its mean always reads it; so do
      //    its bundles, and the primary's also feeds the landing. A diff
      //    two of these read is cached; one only the mean reads streams
      //    straight into the rfield write
      def reads(p: String): Int = 1 + (if (cfg.packagedRfields) 1 else 0) +
        (if (p == primary.filePattern && cfg.landSeries) 1 else 0)
      val diffs = patterns.map { p =>
        val diff = diffOf(spark, cfg, headers(p))
        p -> (if (reads(p) > 1) pinned(diff) else diff)
      }.toMap
      val rain = diffs(primary.filePattern)

      // LK time (A2) + deterministic tms id (A10)
      def withMeta(df: DataFrame) = df
        .withColumn("sim_tag", lit(cfg.simTag))
        // source via the ONE documented spelling (cfg.sourceName) — the
        // systems list is finite, so each binds to its helper-derived
        // name; an inline concat would silently diverge if the helper's
        // format ever changes
        .withColumn("source",
          cfg.systems.foldLeft(when(lit(false), lit(""))) { (acc, s) =>
            acc.when(col("system") === s, lit(cfg.sourceName(s)))
          })
        .withColumn("variable", lit(cfg.variable))
        .withColumn("unit", lit(cfg.unit))
      val metaCols = Seq("sim_tag", "cell", "source", "variable", "unit")

      // 3. sinks: per-timestep rfield files (ensemble mean across
      //    systems per cell, gen_*_mean_rfields.py flavor) — ONE mean
      //    per file pattern, its rows hash-partitioned on the timestep
      //    below the groupBy so the mean and the write share one
      //    shuffle, and ONE write for all the pattern's domains, each
      //    bbox domain a cut of the mean's rows (a cut on the grouping
      //    keys commutes with the mean; the Kelani basin shares d03's
      //    pattern)
      def inBbox(d: DomainConfig): Column =
        d.bbox.fold(lit(true)) { case (lonMin, latMin, lonMax, latMax) =>
          col("lon") >= lonMin && col("lon") <= lonMax &&
            col("lat") >= latMin && col("lat") <= latMax
        }
      // the same cut of one (lon, lat) on the driver
      def holds(d: DomainConfig, lon: Double, lat: Double): Boolean =
        d.bbox.forall { case (lonMin, latMin, lonMax, latMax) =>
          lon >= lonMin && lon <= lonMax && lat >= latMin && lat <= latMax
        }
      def domainDir(root: String, d: DomainConfig): String =
        if (d.name.isEmpty) s"${cfg.outDir}/$root"
        else s"${cfg.outDir}/$root/${d.name}"
      // `agg` of pattern `p`'s deltas per (`keys`, step, cell), its
      // rows hash-partitioned on the step below the groupBy
      def perCell(p: String, keys: Seq[Column], agg: Column): DataFrame = diffs(p)
        .select(keys ++ Seq(col("epoch_s").as("t"), col("lon"), col("lat"), col("delta")): _*)
        .repartition(spark.sparkContext.defaultParallelism, col("t"))
        .groupBy(keys ++ Seq(col("t"), col("lon"), col("lat")): _*).agg(round(agg, 4).as("value"))

      // fill the cached post-diff tables as their OWN stage: the
      // netCDF parse + A1 diff otherwise hide inside whichever sink
      // action runs first. With nothing cached the parse runs inside
      // `rfields` (its one pass over the files) and `parse_diff` reads 0
      val cached = patterns.filter(reads(_) > 1)
      if (cached.isEmpty) stage("parse_diff", 0.0)
      else timed("parse_diff")(cached.foreach(diffs(_).count()))
      timed("rfields")(patterns.foreach { p =>
        RfieldSink.writeDomains(perCell(p, Nil, avg("delta")),
          domains.filter(_.filePattern == p).map(d => domainDir("rfields", d) -> inBbox(d)),
          s"${cfg.outDir}/_rfields_staging", "t")
      })
      // the reference's per-system bundles, per DOMAIN (it zips d03,
      // the basin cut and d01 each per system): per file pattern, ONE
      // sum per (system, cell, step) — its rows hash-partitioned on the
      // timestep below the groupBy, as the mean's — and ONE write of
      // every (domain, system) bundle, each a cut of the sums' rows.
      // Every record holds the header's whole grid, so a bundle's cells
      // are its system's grid cut by the domain's bbox (none for a file
      // of fewer than 2 records, which has no diff row)
      def cells(d: DomainConfig, s: String): Seq[(Double, Double)] = {
        val h = headers(d.filePattern)(cfg.systems.indexOf(s))
        if (h.numRecs < 2) Nil
        else for (lat <- h.lats.toSeq; lon <- h.lons if holds(d, lon, lat)) yield (lon, lat)
      }
      if (cfg.packagedRfields) timed("rfield_pkg")(patterns.foreach { p =>
        RfieldSink.writePackaged(perCell(p, Seq(col("system")), sum("delta")),
          for (d <- domains.filter(_.filePattern == p); s <- cfg.systems)
            yield RfieldSink.Bundle(s"${domainDir("rfields_packaged", d)}/$s",
              col("system") === s && inBbox(d), s"${cfg.model}_${s}_${cfg.version}",
              cells(d, s)),
          s"${cfg.outDir}/_rfields_staging", "t")
      })
      // 4. the registry (A9), the series rows and the fgt watermarks
      //    (A11), from the primary pattern's headers: a file of n ≥ 2
      //    records gives one series per cell with n - 1 rows, the
      //    registry is the distinct 6-dp (lat, lon) keys, and each series
      //    has its own tms id (the cell, system included, is part of its
      //    hashed key)
      val hs = cfg.systems.zip(headers(primary.filePattern))
      val nStations = timed("stations")(hs.iterator.flatMap(_._2.diffKeys).toSet.size.toLong)
      val perSystem =
        timed("series")(hs.collect { case (s, h) if h.diffRows > 0 => s -> h.diffRows }.toMap)
      val nWm = timed("watermarks")(hs.map(_._2.diffCells).sum)
      // optional z-ordered series landing (r13, VERDICT r12 #5): the
      // persisted artifact the standing consumer queries read — runs
      // off the still-cached post-diff table, so no netCDF re-parse.
      // The cached table has no `path`: each system reads the one file
      // of the primary pattern, so the system gives it back
      if (cfg.landSeries) timed("series_land") {
        val withId = Timeseries.tmsId(
          withMeta(Timeseries.tzShiftLk(rain, "ts_us")), metaCols)
        val path = cfg.systems.foldLeft(lit(null).cast("string")) { (acc, s) =>
          when(col("system") === s, lit(cfg.ncPath(primary.filePattern, s))).otherwise(acc)
        }
        landSeries(withId.select(path.as("path") +: withId.columns.toSeq.map(col): _*),
          s"${cfg.outDir}/series", cfg.landSeriesFiles)
      }
      (nStations, perSystem, nWm)
    } finally caches.foreach(_.unpersist())

    val upsertSql = JdbcUpsert.MySqlDialect.sql("curw_fcst.data",
      Seq("id", "time", "fgt", "value"), Seq("id", "time"))
    val nSeries = perSystem.values.sum
    // the residual OUTSIDE every timed stage (config discovery,
    // readiness gate, the driver's netCDF header reads,
    // analyzer/optimizer time, inter-job
    // gaps) — tracked as its own stage so the bench sub-entries sum
    // to the e2e wall and a regression can never hide in unattributed
    // time
    val runSecs = (System.nanoTime() - runT0) / 1e9
    stage("other", math.max(0.0, runSecs - stageSecs.values.sum))
    println(s"PIPELINE stations=$nStations series_rows=$nSeries watermarks=$nWm")
    cfg.systems.foreach(s =>
      println(s"PIPELINE system $s: series_rows=${perSystem.getOrElse(s, 0L)}"))
    println(s"PIPELINE upsert: $upsertSql")
    println(s"PIPELINE rfields at ${cfg.outDir}/rfields")
    PipelineResult(nStations, nSeries, nWm, perSystem, stageSecs.toMap)
  }

  /** One file pattern's post-diff table over every system of the run,
    * from the split reader ([[NetCdfClassic.readGridDiff]] over the
    * systems' `headers`: no shuffle, keys from the headers):
    * `(t_idx, epoch_s, lat, lon, value, system, cell, delta, ts_us)`
    * (no `path`: a long string on every cached row, and the system
    * names its file), one row per (system, cell) series and step after its
    * first, `cell` = `<system>_<lat6>_<lon6>` with the `%.6f`
    * coordinate keys. */
  private def diffOf(spark: SparkSession, cfg: PipelineConfig,
                     headers: Seq[NetCdfClassic.GridHeader]): DataFrame = {
    // tag each row with its system by matching the path (verbatim —
    // the reader echoes the strings it was given) back to the config
    // entry; the config gives each system its own file
    val system = cfg.systems.zip(headers.map(_.path))
      .foldLeft(lit(null).cast("string")) {
        case (acc, (s, p)) => when(col("path") === p, lit(s)).otherwise(acc)
      }
    // system folded into the cell key — two systems sharing a
    // (lat, lon) are SEPARATE series
    NetCdfClassic.readGridDiff(spark, headers, NetCdfClassic.RecordsPerSplit)
      .withColumn("system", system)
      .withColumn("cell", concat_ws("_", col("system"), col("lat6"), col("lon6")))
      .withColumn("ts_us", col("epoch_s") * lit(1000000L))
      .select(Seq("t_idx", "epoch_s", "lat", "lon", "value", "system",
        "cell", "delta", "ts_us").map(col): _*)
  }

  /** Land the post-diff series table as a Z-ORDERED parquet artifact
    * (r13, VERDICT r12 #5 — the layout operator wired into its
    * consumer): cluster on the Morton key of (lat, lon, time) so the
    * run's STANDING read patterns — a basin bbox over a time window
    * (the gen_rfields cut), one cell's full history, one timestep's
    * full grid — each prune parquet files on their own dims instead
    * of scanning the landing. lat/lon land as exact micro-degree
    * longs (`lat_u`/`lon_u`, the 6-dp registry key precision —
    * wrf_data_pusher.py:175's %.6f station keys — so consumer
    * predicates are integer compares the scan pushes down); the
    * z-key itself is dropped before landing, rows are
    * layout-invariant. At 100 TB this is the same one range-exchange
    * write, with `files` sized to the target file bytes. */
  def landSeries(series: org.apache.spark.sql.DataFrame, path: String,
                 files: Int): Unit =
    graft.operators.Layout.writeZorderedN(
      series
        .withColumn("lat_u", round(col("lat") * 1e6, 0).cast("long"))
        .withColumn("lon_u", round(col("lon") * 1e6, 0).cast("long")),
      path, Seq("lat_u", "lon_u", "ts_us"), files)

  /** The standing consumer query over a [[landSeries]] landing: the
    * ensemble-mean rfield of a bbox × time-window slice (the Kelani
    * basin-cut shape, gen_rfields.py:18-19/:113 — degrees in the
    * reference's lonMin/latMin/lonMax/latMax extent order), computed
    * FROM the landed artifact. All five predicates are integer/long
    * compares on landed columns — they reach the parquet scan as
    * PushedFilters and prune z-ordered files on both the spatial and
    * the time dims (spec-pinned; measured in PERF.md). */
  def seriesWindow(spark: SparkSession, path: String,
                   bbox: (Double, Double, Double, Double),
                   t0Us: Long, t1Us: Long): org.apache.spark.sql.DataFrame = {
    val (lonMin, latMin, lonMax, latMax) = bbox
    // HALF_UP away from zero — the SAME rounding landSeries's Spark
    // `round` applies to the landed keys (math.round rounds toward
    // +∞, which disagrees at negative half-micro-degrees and could
    // exclude a station from a bbox bound equal to its own
    // coordinate — r13 review)
    def u(d: Double): Long = BigDecimal(d * 1e6)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    spark.read.parquet(path)
      .filter(col("lat_u") >= u(latMin) && col("lat_u") <= u(latMax) &&
        col("lon_u") >= u(lonMin) && col("lon_u") <= u(lonMax) &&
        col("ts_us") >= t0Us && col("ts_us") < t1Us)
      .groupBy(col("ts_us"), col("lat_u"), col("lon_u"))
      .agg(round(avg(col("delta")), 4).as("value"))
  }
}
