package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{DomainConfig, Pipeline, PipelineConfig, Sessions}
import graft.operators.Timeseries
import graft.sinks.RfieldSink
import graft.sources.NetCdfClassic

/** `forecast_run`: the reference's own job. One seeded WRF run (four
  * systems, storm and dry cells) goes through `Pipeline.run` once cold
  * and then warm, each run into a fresh output directory. */
object ForecastRun {
  val Ny = 60
  val Nx = 60
  val Nt = 13
  /** The Kelani-basin cut, (lonMin, latMin, lonMax, latMax) inside the
    * generated grid. */
  val Basin = (80.0, 6.8, 80.4, 7.2)
  val BaseEpochS = 1577836800L // 2020-01-01 00:00:00 UTC

  def config(inDir: String, outDir: String): PipelineConfig =
    PipelineConfig(ncDir = inDir, outDir = outDir, systems = Gen.Systems,
      domains = Seq(DomainConfig("d03", "d03_RAINNC_{system}.nc"),
        DomainConfig("kelani_basin", "d03_RAINNC_{system}.nc", Some(Basin))))

  def run(ctx: Ctx): Unit = {
    // the session Pipeline.main builds
    val spark = Sessions.local(ctx.cpus, shufflePartitions = "8")
    val wrf = Gen.wrfRun(ctx.seed, Ny, Nx, Nt)
    val inDir = s"${ctx.work}/in"
    Gen.writeWrfRun(wrf, inDir)
    ctx.put("setup_s", ctx.uptimeS(), "s", traced = false)

    val tracer = if (ctx.trace) Some(new Tracer(spark)) else None
    var i = 0
    def oneRun(traced: Boolean): Option[(Double, (Pipeline.PipelineResult, String))] = {
      val out = s"${ctx.work}/out_$i"
      i += 1
      val res = Setup.timedOp(ctx, tracer, traced, "Pipeline.run") {
        Pipeline.run(spark, config(inDir, out))
      }
      res.foreach { case (_, r) => checkRun(ctx, wrf, r, out) }
      res.map { case (s, r) => (s, (r, out)) }
    }
    val loop = Setup.batchLoop(ctx, tracer, oneRun) { case (_, out) =>
      probeLayers(spark, tracer.get, inDir, s"${ctx.work}/probe")
      val (files, bytes) = Fs.footprint(new File(s"$out/rfields"))
      Map("RfieldSink.files" -> files.toDouble, "RfieldSink.output_mb" -> bytes / 1048576.0)
    } { case (_, out) => Fs.deleteRecursively(new File(out)) }

    tracer.foreach { tr =>
      val stageKeys = Seq("parse_diff", "rfields", "stations", "series", "watermarks", "other")
      for (k <- stageKeys)
        ctx.layer(s"Pipeline.${k}_s", Stats.median(loop.traced.map(_._1.stageSeconds.getOrElse(k, 0.0))), "s")
      val spans = tr.spans
      def spanMed(name: String, self: Boolean) = {
        val ss = spans.filter(_.name == name)
        if (ss.isEmpty) 0.0
        else Stats.median(ss.map(s => (if (self) Trace.selfTime(s, spans) else s.ms) / 1e3))
      }
      ctx.layer("NetCdfClassic.readGrid_s", spanMed("NetCdfClassic.readGrid", self = false), "s")
      ctx.layer("Timeseries.intervalDiff_s", spanMed("Timeseries.intervalDiff", self = true), "s")
      ctx.layer("RfieldSink.write_s", spanMed("RfieldSink.write", self = false), "s")
      for (k <- Seq("RfieldSink.files", "RfieldSink.output_mb"))
        ctx.layer(k, Stats.median(loop.probes.map(_(k))), if (k.endsWith("mb")) "MB" else "count")
    }
    Setup.finish(ctx, spark, tracer, loop, "Pipeline.run")
  }

  /** Series and registry counts from the grid's shape, and rfield
    * values at seeded (t, cell) samples recomputed from the generator's
    * own arrays. */
  def checkRun(ctx: Ctx, wrf: Gen.WrfRun, r: Pipeline.PipelineResult, out: String): Unit = {
    val sys = Gen.Systems.size
    ctx.check("forecast counts")(r.stations == wrf.cells &&
      r.seriesRows == sys.toLong * wrf.cells * (wrf.nt - 1) &&
      r.watermarks == sys.toLong * wrf.cells,
      s"stations=${r.stations} series=${r.seriesRows} watermarks=${r.watermarks}")
    val rnd = new java.util.Random(ctx.seed ^ 0x5eedL)
    val samples = Seq.fill(24)((1 + rnd.nextInt(wrf.nt - 1), rnd.nextInt(wrf.cells)))
    val bad = samples.flatMap { case (t, c) =>
      val (y, x) = (c / wrf.nx, c % wrf.nx)
      val (lat, lon) = (wrf.lats(y), wrf.lons(x))
      val expect = Gen.Systems.map(s => wrf.delta(s, t, c)).sum / sys
      val (lonMin, latMin, lonMax, latMax) = Basin
      val inBasin = lon >= lonMin && lon <= lonMax && lat >= latMin && lat <= latMax
      val domains = Seq("d03") ++ (if (inBasin) Seq("kelani_basin") else Nil)
      domains.flatMap { d =>
        val got = rfieldValue(s"$out/rfields/$d", BaseEpochS + (wrf.timesMin(t) * 60).toLong, lon, lat)
        if (got.exists(v => math.abs(v - expect) <= 0.5e-4 + 1e-9)) None
        else Some(s"$d t=$t cell=$c expect=$expect got=$got")
      }
    }
    ctx.check("forecast rfield values")(bad.isEmpty, bad.take(3).mkString("; "))
  }

  /** The value at (lon, lat) in the rfield file of epoch second `t`. */
  def rfieldValue(dir: String, t: Long, lon: Float, lat: Float): Option[Double] = {
    val files = Option(new File(s"$dir/t=$t").listFiles()).toSeq.flatten
      .filter(f => f.getName.startsWith("part-"))
    files.iterator.flatMap { f =>
      val src = scala.io.Source.fromFile(f)
      try src.getLines().map(_.split(' ')).collect {
        case Array(lo, la, v) if lo.toFloat == lon && la.toFloat == lat => v.toDouble
      }.toList
      finally src.close()
    }.nextOption()
  }

  /** Isolated layer timings on the run's own files: the netCDF parse
    * materialized to the noop sink, the interval diff over that parsed
    * grid, and the rfield sink over a materialized ensemble mean. */
  def probeLayers(spark: SparkSession, tr: Tracer, inDir: String,
                  dir: String): Unit = {
    val paths = Gen.Systems.map(s => s"$inDir/d03_RAINNC_$s.nc")
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    var grid: DataFrame = null
    val diff = tr.span("Timeseries.intervalDiff") {
      grid = tr.span("NetCdfClassic.readGrid") {
        val g = NetCdfClassic.readGrid(spark, paths)
          .withColumn("cell", concat_ws("_", col("path"),
            format_string("%.6f", col("lat")), format_string("%.6f", col("lon"))))
          .persist()
        noop(g); g
      }
      val d = Timeseries.intervalDiff(grid, "cell", "epoch_s", "t_idx", "value").persist()
      noop(d); d
    }
    val rfield = diff.groupBy(col("epoch_s").as("t"), col("lon"), col("lat"))
      .agg(round(avg("delta"), 4).as("value")).persist()
    rfield.count()
    tr.span("RfieldSink.write")(RfieldSink.write(rfield, s"$dir/rfields", "t"))
    Seq(rfield, diff, grid).foreach(_.unpersist())
    Fs.deleteRecursively(new File(dir))
  }
}
