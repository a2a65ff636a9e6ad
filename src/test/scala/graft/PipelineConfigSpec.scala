package graft

import java.nio.file.Files

class PipelineConfigSpec extends SparkSpec {

  test("fromJson parses a reference-shaped config (comma-joined systems)") {
    val dir = Files.createTempDirectory("graft_cfg")
    val p = dir.resolve("run.json")
    Files.write(p,
      """{
        |  "nc_dir": "/data/nc", "out_dir": "/data/out",
        |  "model": "WRF", "version": "4.0", "sim_tag": "gfs_d0_18",
        |  "wrf_systems": "A,C,E,SE",
        |  "unit": "mm", "unit_type": "Accumulative",
        |  "variable": "Precipitation",
        |  "rfield_host": "ignored.example", "rfield_user": "ignored"
        |}""".stripMargin.getBytes)
    val cfg = PipelineConfig.fromJson(p.toString)
    assert(cfg.systems === Seq("A", "C", "E", "SE"))
    assert(cfg.simTag === "gfs_d0_18")
    assert(cfg.sourceName("SE") === "WRF_SE")
    assert(cfg.ncPath("A") === "/data/nc/d03_RAINNC_A.nc")
  }

  test("fromJson accepts a JSON-array systems list and applies defaults") {
    val dir = Files.createTempDirectory("graft_cfg")
    val p = dir.resolve("run.json")
    Files.write(p,
      """{"nc_dir": "/n", "out_dir": "/o", "wrf_systems": ["X", "Y"]}""".getBytes)
    val cfg = PipelineConfig.fromJson(p.toString)
    assert(cfg.systems === Seq("X", "Y"))
    assert(cfg.model === "WRF" && cfg.unit === "mm")
  }

  test("systems that would read one file are rejected, naming it; one system needs no placeholder") {
    val dir = Files.createTempDirectory("graft_cfg")
    val p = dir.resolve("run.json")
    def parse(systems: String) = {
      Files.write(p, s"""{"nc_dir": "/n", "out_dir": "/o", "wrf_systems": $systems,
        | "file_pattern": "d03_RAINNC.nc"}""".stripMargin.getBytes)
      PipelineConfig.fromJson(p.toString)
    }
    val e = intercept[IllegalArgumentException](parse("\"A,C\""))
    assert(e.getMessage.contains("/n/d03_RAINNC.nc is read by more than one"), e.getMessage)
    assert(parse("\"A\"").ncPath("A") === "/n/d03_RAINNC.nc")
    // a system listed twice reads its file twice
    val twice = intercept[IllegalArgumentException](
      PipelineConfig(ncDir = "/n", outDir = "/o", systems = Seq("A", "C", "A")))
    assert(twice.getMessage.contains("/n/d03_RAINNC_A.nc"), twice.getMessage)
  }

  test("legacy ncDir entry discovers every system present, not just the defaults") {
    val dir = Files.createTempDirectory("graft_disc").toString
    Pipeline.generateSyntheticRun(dir, ny = 2, nx = 2, nt = 3,
      systems = Seq("A", "C", "E"))
    val res = Pipeline.run(spark, dir, s"$dir/out")
    assert(res.perSystem.keySet === Set("A", "C", "E")) // E not silently dropped
    // and a directory with nothing matching the pattern fails loud
    val empty = Files.createTempDirectory("graft_disc_empty").toString
    val e = intercept[IllegalArgumentException](Pipeline.run(spark, empty, s"$empty/out"))
    assert(e.getMessage.contains("no files matching"))
  }

  test("multi-domain run: d03 + basin bbox cut + d01 each emit rfields and bundles") {
    val dir = Files.createTempDirectory("graft_dom").toString
    val systems = Seq("A", "C")
    // d03: fine 3×4 grid (the generator's default pattern)
    Pipeline.generateSyntheticRun(dir, ny = 3, nx = 4, nt = 5, systems = systems)
    // d01: coarse 2×2 grid per system, same run
    for ((sysName, k) <- systems.zipWithIndex) {
      val values = Array.tabulate(5 * 4)(i => (1.0f + k) * (i / 4) * (i % 3))
      graft.sources.NetCdfClassicWriter.writeWrfGrid(
        s"$dir/d01_RAINNC_$sysName.nc",
        Array(4.0f, 6.0f), Array(78.0f, 80.0f),
        Array.tabulate(5)(t => 60.0f * t), "2020-01-01 00:00:00",
        "RAINNC", values)
    }
    // basin = d03's files + a bbox keeping only lon ∈ [79.0, 79.031],
    // i.e. the first 2 of 4 columns → 6 of 12 cells
    val cfg = PipelineConfig(ncDir = dir, outDir = s"$dir/out",
      systems = systems, packagedRfields = true,
      domains = Seq(
        DomainConfig("d03", "d03_RAINNC_{system}.nc"),
        DomainConfig("basin", "d03_RAINNC_{system}.nc",
          bbox = Some((79.0, 4.9, 79.031, 5.2))),
        DomainConfig("d01", "d01_RAINNC_{system}.nc")))
    val res = Pipeline.run(spark, cfg)
    // series path runs on the PRIMARY domain only (reference pushes d03)
    assert(res.stations === 12L && res.seriesRows === 2L * 4L * 12L)
    // every domain emitted per-timestep rfields (t= partition dirs)
    def stepCount(p: String) =
      Option(new java.io.File(p).list()).getOrElse(Array.empty)
        .count(_.startsWith("t="))
    assert(stepCount(s"$dir/out/rfields/d03") === 4)   // nt-1 steps
    assert(stepCount(s"$dir/out/rfields/basin") === 4)
    assert(stepCount(s"$dir/out/rfields/d01") === 4)
    // the bbox cut: basin xy.csv holds 6 cells vs d03's 12; d01's own
    // coarse grid holds 4 — and BOTH packaged bundle trees exist per
    // system (the r8 verdict's two-domain packaged ask)
    for (sysName <- systems) {
      def xyLines(dom: String) = Files.readAllLines(java.nio.file.Paths
        .get(s"$dir/out/rfields_packaged/$dom/$sysName", "xy.csv")).size
      assert(xyLines("d03") === 12)
      assert(xyLines("basin") === 6)
      assert(xyLines("d01") === 4)
      assert(new java.io.File(
        s"$dir/out/rfields_packaged/d01/$sysName.zip").exists())
      assert(new java.io.File(
        s"$dir/out/rfields_packaged/d03/$sysName.zip").exists())
    }
    // legacy single-domain configs keep their exact output layout
    assert(PipelineConfig(ncDir = dir, outDir = "/o").runDomains
      === Seq(DomainConfig("", "d03_RAINNC_{system}.nc", None)))
  }

  test("landSeries: the run lands a z-ordered series artifact; the bbox-window consumer is exact and prunes files") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("graft_land").toString
    // 16×16 grid × 25 cumulative steps × 2 systems → 12288 series rows
    Pipeline.generateSyntheticRun(dir, ny = 16, nx = 16, nt = 25)
    val cfg = PipelineConfig(ncDir = dir, outDir = s"$dir/out",
      landSeries = true, landSeriesFiles = 32)
    val res = Pipeline.run(spark, cfg)
    assert(res.stageSeconds.contains("series_land"))
    val landed = spark.read.parquet(s"$dir/out/series")
    assert(landed.count() === res.seriesRows)
    val total = landed.inputFiles.length
    assert(total >= 16, s"expected a multi-file landing, got $total")
    // micro-degree dims are exactly their source doubles' 6-dp keys
    assert(landed.filter(
      col("lat_u") =!= round(col("lat") * 1e6, 0).cast("long") ||
        col("lon_u") =!= round(col("lon") * 1e6, 0).cast("long")).isEmpty)
    // the standing consumer (the gen_rfields basin-cut shape): the
    // 4×4-cell corner bbox over intervals 1..7 of the 24
    val t0 = 1577836800L // 2020-01-01T00:00Z, the generator's base
    val bbox = (79.0, 5.0, 79.091, 5.091)
    val (t0Us, t1Us) = ((t0 + 900L) * 1000000L, (t0 + 900L * 8) * 1000000L)
    val out = Pipeline.seriesWindow(spark, s"$dir/out/series", bbox,
        t0Us, t1Us)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq.sorted
    // first-principles oracle: the generator's cumulative value is
    // base·t·(c%5) with base 1/2 for systems A/C and c = yi·nx + xi,
    // so every interval's delta is base·(c%5) and the ensemble mean
    // is 1.5·(c%5) — 16 cells × 7 steps
    val expect = (for {
      step <- 1 to 7; yi <- 0 until 4; xi <- 0 until 4
    } yield ((t0 + 900L * step) * 1000000L,
        math.round((5.0f + 0.03f * yi).toDouble * 1e6),
        math.round((79.0f + 0.03f * xi).toDouble * 1e6),
        1.5 * ((yi * 16 + xi) % 5))).sorted
    assert(out === expect)
    // pruning: each dim's own predicate skips files, and the consumer
    // slice reads no more than its loosest single-dim slab
    def hit(p: org.apache.spark.sql.Column): Long =
      landed.filter(p).select(input_file_name()).distinct().count()
    val pT = col("ts_us") >= t0Us && col("ts_us") < t1Us
    val pLat = col("lat_u").between(5000000L, 5091000L)
    val pLon = col("lon_u").between(79000000L, 79091000L)
    val (hT, hLat, hLon) = (hit(pT), hit(pLat), hit(pLon))
    assert(hT < total && hLat < total && hLon < total,
      s"$hT/$hLat/$hLon of $total")
    val hBox = hit(pT && pLat && pLon)
    assert(hBox <= Seq(hT, hLat, hLon).min, s"box=$hBox vs $hT/$hLat/$hLon")
    // and the consumer's predicates reach the parquet scan
    val plan = Pipeline.seriesWindow(spark, s"$dir/out/series", bbox,
      t0Us, t1Us).queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("lat_u"),
      s"expected pushed filters in:\n$plan")
  }

  test("fromJson parses a domains list with bbox in reference extent order") {
    val dir = Files.createTempDirectory("graft_cfg")
    val p = dir.resolve("run.json")
    Files.write(p,
      """{"nc_dir": "/n", "out_dir": "/o",
        | "domains": [
        |   {"name": "d03", "file_pattern": "d03_RAINNC_{system}.nc"},
        |   {"name": "kelani", "file_pattern": "d03_RAINNC_{system}.nc",
        |    "bbox": [79.6, 6.6, 81.0, 7.4]},
        |   {"name": "d01", "file_pattern": "d01_RAINNC_{system}.nc"}
        |]}""".stripMargin.getBytes)
    val cfg = PipelineConfig.fromJson(p.toString)
    assert(cfg.domains.map(_.name) === Seq("d03", "kelani", "d01"))
    assert(cfg.domains(1).bbox === Some((79.6, 6.6, 81.0, 7.4)))
    assert(cfg.ncPath(cfg.domains(2).filePattern, "A") === "/n/d01_RAINNC_A.nc")
    // malformed bbox fails loud, not quiet-default
    Files.write(p,
      """{"nc_dir": "/n", "out_dir": "/o",
        | "domains": [{"name": "x", "file_pattern": "p", "bbox": [1, 2]}]}"""
        .stripMargin.getBytes)
    val e = intercept[IllegalArgumentException](PipelineConfig.fromJson(p.toString))
    assert(e.getMessage.contains("bbox"))
  }

  test("one config-driven invocation processes all systems; per-system counts sum to total") {
    val dir = Files.createTempDirectory("graft_pipe").toString
    val systems = Seq("A", "C", "E", "SE")
    Pipeline.generateSyntheticRun(dir, ny = 3, nx = 4, nt = 6, systems = systems)
    val cfg = PipelineConfig(ncDir = dir, outDir = s"$dir/out",
      simTag = "gfs_d0_18", systems = systems, packagedRfields = true)
    val res = Pipeline.run(spark, cfg)
    assert(res.perSystem.keySet === systems.toSet)
    // every system contributes the same shape: (nt-1) diffs × ny×nx cells
    assert(res.perSystem.values.toSet === Set(5L * 12L))
    assert(res.seriesRows === res.perSystem.values.sum)
    assert(res.stations === 12L)            // registry unions identical grids
    assert(res.watermarks === 4L * 12L)     // one fgt per (system, cell) series
    assert(new java.io.File(s"$dir/out/rfields").exists())
    // per-system reference bundles: shared xy.csv + 5 value files + zip
    for (sysName <- systems) {
      val home = s"$dir/out/rfields_packaged/$sysName"
      assert(Files.readAllLines(java.nio.file.Paths.get(home, "xy.csv")).size === 12)
      val txts = new java.io.File(home).list().count(_.endsWith(".txt"))
      assert(txts === 5) // nt-1 diff steps
      assert(new java.io.File(s"$home.zip").exists())
    }
  }
}
