package graft

import java.io.File
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Timeseries
import graft.sinks.RfieldSink
import graft.sources.{NetCdfClassic, NetCdfClassicWriter}

/** `Pipeline.run` against the run as the window operators compute it:
  * readGrid → intervalDiff per (system, cell) → stationRegistry /
  * tmsId / fgtWatermark, and each domain's mean from its own diff.
  * Outputs must be identical, a file whose XTIME steps back included. */
class PipelineDiffSpec extends SparkSpec {

  private val Systems = Seq("A", "C", "E", "SE")
  private val D03 = "d03_RAINNC_{system}.nc"
  private val D01 = "d01_RAINNC_{system}.nc"
  /** The runs' first XTIME, 2020-01-01 00:00:00 UTC, in epoch seconds. */
  private val Epoch0 = 1577836800L

  /** One cumulative (time, y, x) grid per system of `systems`;
    * `inc(system index, t, y, x)` is step t's increment. */
  private def writeRun(dir: String, pattern: String, lats: Array[Float],
                       lons: Array[Float], times: Array[Float],
                       inc: (Int, Int, Int, Int) => Float,
                       systems: Seq[String] = Systems): Unit =
    for (s <- systems; k = Systems.indexOf(s)) {
      val (ny, nx) = (lats.length, lons.length)
      val values = new Array[Float](times.length * ny * nx)
      for (t <- times.indices; y <- 0 until ny; x <- 0 until nx) {
        val i = (t * ny + y) * nx + x
        values(i) = (if (t == 0) 0f else values(i - ny * nx)) + inc(k, t, y, x)
      }
      NetCdfClassicWriter.writeWrfGrid(s"$dir/${pattern.replace("{system}", s)}",
        lats, lons, times, "2020-01-01 00:00:00", "RAINNC", values)
    }

  private def grid(n: Int, start: Float, step: Float) =
    Array.tabulate(n)(i => start + step * i)

  /** Fractional storm-like increments, distinct per system and cell. */
  private def storm(k: Int, t: Int, y: Int, x: Int): Float =
    ((k * 7 + t * 13 + y * 5 + x * 3) % 11) * 0.37f + (if ((x + y) % 4 == 0) 0f else 0.125f * k)

  private def config(dir: String, out: String, domains: Seq[DomainConfig],
                     packaged: Boolean = true) =
    PipelineConfig(ncDir = dir, outDir = out, systems = Systems,
      packagedRfields = packaged, landSeries = true, landSeriesFiles = 4,
      domains = domains)

  /** The run through the window operators, into `out`; returns the
    * stations / series / watermarks counts. */
  private def windowRun(cfg: PipelineConfig, out: String): (Long, Long, Long) = {
    def cellKey(system: Option[String]) = concat_ws("_", (system.map(col).toSeq ++
      Seq(format_string("%.6f", col("lat")), format_string("%.6f", col("lon")))): _*)
    def diffOf(pattern: String): DataFrame = {
      val paths = cfg.systems.map(s => cfg.ncPath(pattern, s))
      val sys = cfg.systems.zip(paths).foldLeft(lit(null).cast("string")) {
        case (acc, (s, p)) => when(col("path") === p, lit(s)).otherwise(acc)
      }
      val g = NetCdfClassic.readGrid(spark, paths).withColumn("system", sys)
        .withColumn("cell", cellKey(Some("system")))
      Timeseries.intervalDiff(g, "cell", "epoch_s", "t_idx", "value")
    }
    def cut(df: DataFrame, d: DomainConfig) = d.bbox.fold(df) {
      case (lonMin, latMin, lonMax, latMax) =>
        df.filter(col("lon") >= lonMin && col("lon") <= lonMax &&
          col("lat") >= latMin && col("lat") <= latMax)
    }
    val primary = cfg.runDomains.head
    val rain = diffOf(primary.filePattern).withColumn("ts_us", col("epoch_s") * lit(1000000L))
    val withId = Timeseries.tmsId(Timeseries.tzShiftLk(rain, "ts_us")
        .withColumn("sim_tag", lit(cfg.simTag))
        .withColumn("source", concat(lit(s"${cfg.model}_"), col("system")))
        .withColumn("variable", lit(cfg.variable))
        .withColumn("unit", lit(cfg.unit)),
      Seq("sim_tag", "cell", "source", "variable", "unit"))
    for (d <- cfg.runDomains) {
      RfieldSink.write(cut(diffOf(d.filePattern), d)
        .groupBy(col("epoch_s").as("t"), col("lon"), col("lat"))
        .agg(round(avg("delta"), 4).as("value")), s"$out/rfields/${d.name}", "t")
      if (cfg.packagedRfields) for (s <- cfg.systems) {
        val sysDiff =
          if (d.filePattern == primary.filePattern) rain.filter(col("system") === s)
          else Timeseries.intervalDiff(
            NetCdfClassic.readGrid(spark, Seq(cfg.ncPath(d.filePattern, s)))
              .withColumn("cell", cellKey(None)), "cell", "epoch_s", "t_idx", "value")
        writeBundle(cut(sysDiff, d)
            .groupBy(col("epoch_s").as("t"), col("lon"), col("lat"))
            .agg(round(sum("delta"), 4).as("value")),
          s"$out/rfields_packaged/${d.name}/$s", s"${cfg.model}_${s}_${cfg.version}")
      }
    }
    Pipeline.landSeries(withId, s"$out/series", cfg.landSeriesFiles)
    (Timeseries.stationRegistry(rain, Seq("lat", "lon"), "wrf").count(),
      withId.count(), Timeseries.fgtWatermark(withId, "tms_id", "ts_us").count())
  }

  /** The reference's bundle (`gen_rfields.py:198-219`), written in
    * plain Scala from the collected rows: `xy.csv` holds every cell of `rfield` as `lon,lat` sorted
    * by (lon, lat); one `{prefix}_{LK time}.txt` per timestep holds its
    * values rounded to 3 dp in xy.csv's order; `{dir}.zip` holds those
    * files. */
  private def writeBundle(rfield: DataFrame, dir: String, prefix: String): Unit = {
    def num(v: Any) = v.asInstanceOf[Number].doubleValue
    val rows = rfield.select(col("t"), col("lon"), col("lat"),
        round(col("value").cast("double"), 3).as("value")).collect()
      .map(r => (r.getLong(0), r.get(1), r.get(2), r.getDouble(3)))
      .sortBy { case (t, lon, lat, _) => (t, num(lon), num(lat)) }
    val cells = rows.map { case (_, lon, lat, _) => (lon, lat) }.distinct
      .sortBy { case (lon, lat) => (num(lon), num(lat)) }
    val files = ("xy.csv" -> cells.map { case (lon, lat) => s"$lon,$lat" }.toSeq) +:
      rows.groupBy(_._1).toSeq.map { case (t, step) =>
        val lk = java.time.LocalDateTime.ofEpochSecond(t + 19800L, 0, java.time.ZoneOffset.UTC)
          .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd_HH-mm"))
        s"${prefix}_$lk.txt" -> step.map(_._4.toString).toSeq
      }
    val out = Paths.get(dir)
    Files.createDirectories(out)
    val zip = new java.util.zip.ZipOutputStream(Files.newOutputStream(Paths.get(s"$dir.zip")))
    try for ((name, lines) <- files.sortBy(_._1)) {
      val bytes = lines.map(_ + "\n").mkString.getBytes("UTF-8")
      Files.write(out.resolve(name), bytes)
      zip.putNextEntry(new java.util.zip.ZipEntry(name))
      zip.write(bytes)
      zip.closeEntry()
    } finally zip.close()
  }

  /** Relative path → bytes of every file under `root`, part files keyed
    * by their directory (their names carry a random job id), zips by
    * entry (entry timestamps differ run to run). */
  private def contents(root: String): Map[String, Seq[Byte]] = {
    val base = Paths.get(root)
    Files.walk(base).iterator().asScala.filter(Files.isRegularFile(_))
      .filterNot(p => p.getFileName.toString.startsWith(".") ||
        p.getFileName.toString == "_SUCCESS")
      .flatMap { p =>
        val rel = base.relativize(p).toString
        if (rel.endsWith(".zip")) {
          val zf = new java.util.zip.ZipFile(p.toFile)
          try zf.entries().asScala.toList.map(e =>
            s"$rel!${e.getName}" -> zf.getInputStream(e).readAllBytes().toSeq)
          finally zf.close()
        } else Seq((if (p.getFileName.toString.startsWith("part-"))
          base.relativize(p.getParent).toString + "/part" else rel) ->
          Files.readAllBytes(p).toSeq)
      }.toMap
  }

  /** Runs `cfg` through `Pipeline.run` and through [[windowRun]] and
    * asserts identical rfields, bundles, landed rows and counts;
    * returns the run's result. */
  private def assertSameAsWindow(dir: String, domains: Seq[DomainConfig],
                                 packaged: Boolean = true): Pipeline.PipelineResult = {
    val res = Pipeline.run(spark, config(dir, s"$dir/out", domains, packaged))
    val expect = windowRun(config(dir, s"$dir/ref", domains, packaged), s"$dir/ref")
    assert((res.stations, res.seriesRows, res.watermarks) === expect)
    for (sub <- Seq("rfields") ++ (if (packaged) Seq("rfields_packaged") else Nil)) {
      val (got, want) = (contents(s"$dir/out/$sub"), contents(s"$dir/ref/$sub"))
      assert(got.keySet === want.keySet, sub)
      val differ = want.keys.filter(k => got(k) != want(k))
      assert(differ.isEmpty, s"$sub files differ: ${differ.take(5)}")
    }
    val (got, want) = (spark.read.parquet(s"$dir/out/series"), spark.read.parquet(s"$dir/ref/series"))
    assert(got.schema === want.schema)
    assert(got.count() === want.count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    res
  }

  test("reader-path run equals the window operators: rfields, bundles, landing, counts") {
    val dir = Files.createTempDirectory("graft_diff_eq").toString
    writeRun(dir, D03, grid(6, 6.8f, 0.03f), grid(7, 79.9f, 0.05f),
      grid(9, 0f, 15f), storm)
    writeRun(dir, D01, grid(3, 5.0f, 0.5f), grid(3, 79.0f, 0.5f),
      grid(9, 0f, 60f), (k, t, y, x) => storm(k + 1, t, x, y))
    val res = assertSameAsWindow(dir, Seq(DomainConfig("d03", D03),
      DomainConfig("basin", D03, Some((80.0, 6.85, 80.12, 6.92))),
      DomainConfig("d01", D01)))
    assert(res.stations === 42L && res.seriesRows === 4L * 42 * 8 &&
      res.watermarks === 4L * 42)
  }

  test("XTIME stepping back gives the window operators' output") {
    val dir = Files.createTempDirectory("graft_diff_back").toString
    writeRun(dir, D03, grid(4, 6.8f, 0.03f), grid(5, 79.9f, 0.05f),
      Array(0f, 15f, 30f, 20f, 45f, 60f), storm)
    assertSameAsWindow(dir, Seq(DomainConfig("d03", D03)))
  }

  test("a repeated 6-dp latitude is rejected before anything is written") {
    val dir = Files.createTempDirectory("graft_diff_lat").toString
    writeRun(dir, D03, Array(6.8f, 6.83f, 6.83f, 6.86f), grid(5, 79.9f, 0.05f),
      grid(6, 0f, 15f), storm)
    spark.catalog.clearCache()
    val e = intercept[IllegalArgumentException](Pipeline.run(spark,
      config(dir, s"$dir/out", Seq(DomainConfig("d03", D03)))))
    assert(e.getMessage.contains("repeated 6-dp latitude 6.830000"), e.getMessage)
    assert(!new File(dir, "out/_rfields_staging").exists())
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("tied XTIME values keep the reader path (record order is the window's tie-break)") {
    val dir = Files.createTempDirectory("graft_diff_tie").toString
    writeRun(dir, D03, grid(4, 6.8f, 0.03f), grid(5, 79.9f, 0.05f),
      Array(0f, 15f, 15f, 30f, 30f, 45f), storm)
    // bundles need one file per timestep, which tied steps cannot give
    assertSameAsWindow(dir, Seq(DomainConfig("d03", D03)), packaged = false)
  }

  test("a system whose file holds one record contributes no series and no stations") {
    val dir = Files.createTempDirectory("graft_diff_onerec").toString
    writeRun(dir, D03, grid(4, 6.8f, 0.03f), grid(5, 79.9f, 0.05f), grid(6, 0f, 15f), storm)
    // SE: one record on a grid of its own, whose keys no other system has
    writeRun(dir, D03, grid(3, 5.0f, 0.03f), grid(5, 79.9f, 0.05f), Array(0f), storm,
      systems = Seq("SE"))
    val res = assertSameAsWindow(dir, Seq(DomainConfig("d03", D03),
      DomainConfig("basin", D03, Some((79.9, 6.8, 80.0, 6.86)))))
    assert(res.stations === 20L && res.seriesRows === 3L * 20 * 5 && res.watermarks === 3L * 20)
    assert(res.perSystem === Map("A" -> 100L, "C" -> 100L, "E" -> 100L))
    // its bundle is an xy.csv-only bundle with no cell
    assert(Files.readAllBytes(Paths.get(dir, "out/rfields_packaged/d03/SE/xy.csv")).isEmpty)
  }

  test("two systems with different d03 grids give stations = the union of their 6-dp keys") {
    val dir = Files.createTempDirectory("graft_diff_union").toString
    val lats = grid(6, 6.8f, 0.03f)
    val lons = grid(7, 79.9f, 0.05f)
    writeRun(dir, D03, lats, lons, grid(5, 0f, 15f), storm, systems = Seq("A", "C"))
    // E and SE: the last 4 latitude rows of A's grid and 2 rows north of it
    writeRun(dir, D03, lats.drop(2) ++ grid(2, 7.0f, 0.03f), lons, grid(5, 0f, 15f), storm,
      systems = Seq("E", "SE"))
    val res = assertSameAsWindow(dir, Seq(DomainConfig("d03", D03),
      DomainConfig("basin", D03, Some((80.0, 6.85, 80.12, 6.92)))))
    assert(res.stations === 8L * 7 && res.seriesRows === 4L * 42 * 4 && res.watermarks === 4L * 42)
  }

  test("an unnamed single-domain run writes rfields/t=… as the window operators do") {
    val dir = Files.createTempDirectory("graft_diff_unnamed").toString
    writeRun(dir, D03, grid(4, 6.8f, 0.03f), grid(5, 79.9f, 0.05f),
      grid(5, 0f, 15f), storm)
    assertSameAsWindow(dir, Seq.empty, packaged = false)
    val rfields = new File(dir, "out/rfields")
    assert(rfields.list().toSet === (1 to 4).map(t => s"t=${Epoch0 + t * 900}").toSet ++
      Set("_SUCCESS", "._SUCCESS.crc"))
    assert(!new File(dir, "out/_rfields_staging").exists())
  }

  test("overlapping and empty bbox domains, run twice into one outDir, equal the window operators") {
    val dir = Files.createTempDirectory("graft_diff_cuts").toString
    writeRun(dir, D03, grid(6, 6.8f, 0.03f), grid(7, 79.9f, 0.05f),
      grid(5, 0f, 15f), storm)
    // west and south overlap each other and d03; nowhere holds no grid point
    val domains = Seq(DomainConfig("d03", D03),
      DomainConfig("west", D03, Some((79.9, 6.8, 80.05, 6.95))),
      DomainConfig("south", D03, Some((79.9, 6.8, 80.2, 6.86))),
      DomainConfig("nowhere", D03, Some((90.0, 1.0, 91.0, 2.0))))
    assertSameAsWindow(dir, domains, packaged = false)
    val out = s"$dir/out/rfields"
    // a cell of both west and south is written to both
    def lines(domain: String) = Files.readAllLines(Files.list(Paths.get(out, domain, s"t=${Epoch0 + 900}"))
      .iterator().asScala.find(_.getFileName.toString.startsWith("part-")).get).asScala.toList
    assert(lines("west").map(_.split(' ').take(2).toSeq).toSet
      .intersect(lines("south").map(_.split(' ').take(2).toSeq).toSet).nonEmpty)
    assert(new File(out, "nowhere").list().toSet === Set("_SUCCESS", "._SUCCESS.crc"))
    // a second run into the same outDir replaces each domain's directory
    Files.write(Paths.get(out, "d03", s"t=${Epoch0 + 900}", "stray"), Array[Byte](1))
    Files.write(Paths.get(out, "nowhere", "stray"), Array[Byte](1))
    assertSameAsWindow(dir, domains, packaged = false)
    for (d <- domains.map(_.name)) {
      assert(new File(s"$out/$d/_SUCCESS").isFile, d)
      assert(!Files.walk(Paths.get(out, d)).iterator().asScala
        .exists(_.getFileName.toString == "stray"), d)
    }
    assert(new File(s"$dir/out").list().toSet === Set("rfields", "series"))
  }

  private lazy val counters = new BenchCounters(spark.sparkContext)

  /** The Spark jobs of a warm run of `cfg(outDir name)` after one run
    * that warms codegen and the netCDF classes, and each job's
    * execution id and stage count. */
  private def warmJobs(cfg: String => PipelineConfig): (Long, String) = {
    val started = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        started.add(s"execution ${e.properties.getProperty("spark.sql.execution.id")}: " +
          s"${e.stageInfos.size} stages")
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      Pipeline.run(spark, cfg("cold"))
      counters.record("warm-0")(())
      started.clear()
      counters.record("warm")(Pipeline.run(spark, cfg("warm")))
    } finally spark.sparkContext.removeSparkListener(listener)
    (counters.all("warm").jobs, started.asScala.mkString("; "))
  }

  private def jobsRun(dir: String) =
    writeRun(dir, D03, grid(6, 6.8f, 0.03f), grid(7, 79.9f, 0.05f), grid(9, 0f, 15f), storm)
  private val D03Basin = Seq(DomainConfig("d03", D03),
    DomainConfig("basin", D03, Some((80.0, 6.85, 80.12, 6.92))))

  test("a warm d03 + basin run schedules 2 Spark jobs") {
    val dir = Files.createTempDirectory("graft_diff_jobs").toString
    jobsRun(dir)
    val (jobs, started) = warmJobs(out => PipelineConfig(ncDir = dir, outDir = s"$dir/$out",
      systems = Systems, domains = D03Basin))
    info(s"warm run: $jobs jobs")
    // the shared mean and write of both domains (2: the mean's
    // exchange, the write); the diff streams into it uncached, and the
    // accounting is a driver tally over the grid headers. Caching the
    // diff adds 3 (its fill, the count's map stage and result), a
    // summary collect 2, and a write per domain or a header-reading
    // split-planning job 1 each
    assert(jobs === 2L, s"warm run jobs: $started")
  }

  test("a warm d03 + basin run with bundles schedules 7 Spark jobs, as many bundle jobs for 1 system × 1 domain as for 4 × 2") {
    val dir = Files.createTempDirectory("graft_diff_pkg_jobs").toString
    jobsRun(dir)
    def jobs(systems: Seq[String], domains: Seq[DomainConfig], packaged: Boolean) =
      warmJobs(out => PipelineConfig(ncDir = dir, outDir = s"$dir/$out", systems = systems,
        domains = domains, packagedRfields = packaged))
    val (all, started) = jobs(Systems, D03Basin, packaged = true)
    val bundleJobs = all - jobs(Systems, D03Basin, packaged = false)._1
    val oneBundleJobs = jobs(Seq("A"), D03Basin.take(1), packaged = true)._1 -
      jobs(Seq("A"), D03Basin.take(1), packaged = false)._1
    info(s"warm run with bundles: $all jobs, $bundleJobs for 8 bundles, $oneBundleJobs for 1")
    // the run's 2 and 5 for the bundles: the diff, read by the mean
    // and the bundles, is cached (3: its fill, the count's map stage
    // and result), and the bundle pass is the sums' exchange and the
    // write of every bundle (2); a write or a check per bundle adds to
    // it
    assert(all === 7L, s"warm run jobs: $started")
    assert(bundleJobs === oneBundleJobs)
  }

  test("a failing sink leaves nothing cached") {
    val dir = Files.createTempDirectory("graft_diff_fail").toString
    writeRun(dir, D03, grid(3, 6.8f, 0.03f), grid(3, 79.9f, 0.05f),
      grid(4, 0f, 15f), storm)
    val outFile = new File(dir, "out")
    assert(outFile.createNewFile()) // rfields under a regular file cannot be written
    spark.catalog.clearCache()
    intercept[Exception](Pipeline.run(spark,
      config(dir, outFile.getPath, Seq(DomainConfig("d03", D03)))))
    assert(spark.sharedState.cacheManager.isEmpty)
    // the staged rfield write succeeds, its move to rfields/d03 fails:
    // the staging directory goes too
    val out = Files.createTempDirectory("graft_diff_fail_out").toFile
    assert(new File(out, "rfields").createNewFile())
    intercept[Exception](Pipeline.run(spark,
      config(dir, out.getPath, Seq(DomainConfig("d03", D03)))))
    assert(spark.sharedState.cacheManager.isEmpty)
    assert(out.list().toSet === Set("rfields"))
  }

  test("a synthetic run's directory is gone once its body returns or throws") {
    var dir: File = null
    val res = Pipeline.withSyntheticRun(3, 4, 5) { cfg =>
      dir = new File(cfg.ncDir)
      assert(new File(dir, "d03_RAINNC_A.nc").isFile)
      val r = Pipeline.run(spark, cfg)
      assert(new File(cfg.outDir, "rfields").isDirectory)
      r
    }
    assert(res.stations === 12L && !dir.exists())
    val e = intercept[IllegalStateException](Pipeline.withSyntheticRun() { cfg =>
      dir = new File(cfg.ncDir)
      throw new IllegalStateException("a failed run")
    })
    assert(e.getMessage === "a failed run" && !dir.exists())
  }
}
