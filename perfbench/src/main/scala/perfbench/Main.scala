package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable

/** One benchmark run of one workload in a fresh JVM:
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --cpus <n> --work <dir>
  *
  * Prints one JSON line last: `correct`, `attempted`, `failed` and the
  * metrics (end-to-end ones untraced, per-layer ones traced). Exits 1
  * when an output check failed. */
object Main {

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def opt(k: String): String =
      opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val ctx = new Ctx(opt("workload"), opt("seed").toLong, opt("seconds").toDouble,
      opt("trace") == "1", opt("cpus"), new File(opt("work")).getAbsolutePath)
    val workload: Ctx => Unit = ctx.workload match {
      case "forecast_run" => ForecastRun.run
      case "retrieval_live" => RetrievalLive.run
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    Fs.deleteRecursively(new File(ctx.work))
    new File(ctx.work).mkdirs()
    workload(ctx)
    ctx.layer("jvm.peak_rss_mb", Ctx.peakRssMb(), "MB")
    println(ctx.resultJson)
    System.out.flush()
    sys.exit(if (ctx.failed == 0) 0 else 1)
  }
}

/** What one run accumulates: operation and check outcomes, metrics. */
final class Ctx(val workload: String, val seed: Long, val seconds: Double,
                val trace: Boolean, val cpus: String, val work: String) {
  var attempted = 0L
  var failed = 0L
  private val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]

  /** Record an end-to-end (`traced = false`) or per-layer metric; only
    * the kind this run measures is kept. */
  def put(name: String, value: Double, unit: String, traced: Boolean): Unit =
    if (traced == trace) metrics(name) = (value, unit)

  def layer(name: String, value: Double, unit: String): Unit = put(name, value, unit, traced = true)

  /** Count one check; log and count a failure. */
  def check(what: String)(ok: Boolean, detail: => String = ""): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      System.err.println(s"[perfbench] CHECK FAILED: $what $detail")
    }
  }

  /** Run one operation; an exception counts as a failed operation. */
  def op[T](what: String)(f: => T): Option[T] = {
    attempted += 1
    try Some(f)
    catch {
      case scala.util.control.NonFatal(e) =>
        failed += 1
        System.err.println(s"[perfbench] OPERATION FAILED: $what: $e")
        e.printStackTrace()
        None
    }
  }

  /** Seconds since the JVM started. */
  def uptimeS(): Double = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0

  def resultJson: String = {
    def num(d: Double): String =
      if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
    val ms = metrics.map { case (k, (v, u)) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
    s"""{"correct": ${failed == 0}, "attempted": ${math.max(1L, attempted)}, """ +
      s""""failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }
}

object Ctx {
  /** `VmHWM` of this process, in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(Double.NaN)
    finally src.close()
  }
}
