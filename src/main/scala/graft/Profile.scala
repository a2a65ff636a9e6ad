package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** Plan, wall time and cost counters of named catalog entries,
  * measured with the bench's own code: per entry, the formatted
  * physical plan, then one untimed warm-up and 5 timed noop-sink reps
  * ([[Bench.timeNoop]]), each after [[Bench.clearAllCaches]] and under
  * [[BenchCounters.record]] (last rep wins, as in the bench loop).
  * Prints the plan and one JSON line per entry: `entry`, `median`,
  * `reps`, `counters`, `load1m`, `sf`.
  *
  *   sbt "runMain graft.Profile <sfDir> <entry> [entry ...]"
  */
object Profile {

  final case class Result(entry: String, sfDir: String, plan: String,
                          reps: Seq[Double], counters: BenchCounters.Snapshot,
                          load1m: Double) {
    def median: Double = Bench.median(reps)
    def json: String =
      s"""{"entry":${Jsons.str(entry)},"median":${Jsons.num(median, 3)},""" +
        s""""reps":${reps.map(Jsons.num(_, 3)).mkString("[", ",", "]")},""" +
        s""""counters":${counters.json},"load1m":${Jsons.num(load1m, 2)},""" +
        s""""sf":${Jsons.str(sfDir)}}"""
  }

  private[graft] def profile(spark: SparkSession, counters: BenchCounters,
                             sfDir: String, entry: String, reps: Int = 5): Result = {
    val fn = SparkEntry.query(entry).build
    val plan = fn(spark, sfDir).queryExecution.explainString(FormattedMode)
    Bench.clearAllCaches(spark)
    Bench.timeNoop(() => fn(spark, sfDir)) // untimed warm-up: JIT and codegen
    val times = (1 to reps).map { _ =>
      Bench.clearAllCaches(spark)
      counters.record(entry)(Bench.timeNoop(() => fn(spark, sfDir)))
    }
    Result(entry, sfDir, plan, times, counters.all(entry),
      Bench.loadAvg().headOption.getOrElse(-1.0))
  }

  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println("usage: Profile <sfDir> <entry> [entry ...]")
      sys.exit(2)
    }
    val sfDir = args.head
    val entries = args.toSeq.tail
    SparkEntry.unknownNames(entries).foreach { msg => System.err.println(msg); sys.exit(2) }
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    val counters = new BenchCounters(spark.sparkContext)
    // per-entry catch (the Bench.runAll posture): one entry's failure
    // must not hide every later entry's numbers
    val failed = try entries.filterNot { entry =>
      try {
        val r = profile(spark, counters, sfDir, entry)
        println(s"\n===== $entry =====\n${r.plan}")
        println(r.json)
        true
      } catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[profile] $entry FAILED: ${e.getMessage}")
        false
      }
    } finally spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
