package graft

import org.apache.spark.sql.functions._
import graft.operators.Timeseries

/** A21 rangeJoinBinned: binned equi-join containment semantics, floor
  * division across negative ticks, loud guards, and — the operator's
  * whole reason to exist — a plan with NO cartesian/BNLJ node. */
class RangeJoinSpec extends SparkSpec {
  import spark.implicits._

  private def points(ts: Long*) =
    ts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("pid", "t")

  test("A21 matches exactly the contained (point, interval) pairs") {
    val p = points(0L, 10L, 20L, 30L)
    val i = Seq(("A", 5L, 25L), ("B", 18L, 40L)).toDF("iid", "s", "e")
    // binWidth 7 < interval length: intervals span multiple bins
    val out = Timeseries.rangeJoinBinned(p, "t", i, "s", "e", binWidth = 7L)
      .select($"t", $"iid").as[(Long, String)].collect().toSet
    assert(out === Set((10L, "A"), (20L, "A"), (20L, "B"), (30L, "B")))
  }

  test("A21 bounds are inclusive on both ends") {
    val p = points(5L, 25L)
    val i = Seq(("A", 5L, 25L)).toDF("iid", "s", "e")
    val out = Timeseries.rangeJoinBinned(p, "t", i, "s", "e", binWidth = 100L)
    assert(out.count() === 2L)
  }

  test("A21 floor-divides negative ticks correctly (pre-1970 timestamps)") {
    val p = points(-10L, -3L, 4L)
    val i = Seq(("A", -15L, -5L)).toDF("iid", "s", "e")
    // plain `div` truncation toward zero would put -10 in bin -1
    // instead of bin -2 and silently lose the match at binWidth 7
    val out = Timeseries.rangeJoinBinned(p, "t", i, "s", "e", binWidth = 7L)
      .select($"t").as[Long].collect().toSeq
    assert(out === Seq(-10L))
  }

  test("A21 stays exact past 2^53 ticks (integral division, no double detour)") {
    val big = (1L << 60) + 123456789L // unrepresentable as a double
    val p = points(big)
    val i = Seq(("A", big - 5L, big + 5L)).toDF("iid", "s", "e")
    val out = Timeseries.rangeJoinBinned(p, "t", i, "s", "e", binWidth = 7L)
    assert(out.count() === 1L)
  }

  test("A21 catalog entry plans as a shuffled equi-join, never cartesian/BNLJ") {
    // the ACTUAL benched/verified entry, not a spec-local re-spelling
    // that could silently drift from it
    val joined = SparkEntry.query("ts_range_join").build(spark, sfDir)
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(!plan.contains("BroadcastNestedLoop"), plan.take(2000))
    assert(joined.count() > 0L, "catalog entry must produce pairs")
  }

  test("A21 agrees with the brute-force theta join on real data") {
    val e = {
      val ev = Tables.events(spark, sfDir)
      ev.withColumn("ts_us", Tables.eventTsUs(ev))
    }
    val w = 900L * 1000000L
    val clicks = e.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("ts_us"))
    val errors = e.filter(col("event_type") === "error")
      .select(col("event_id").as("error_id"), col("ts_us").as("err_ts"))
    val brute = clicks.join(errors,
        col("ts_us") >= col("err_ts") - w && col("ts_us") <= col("err_ts") + w)
      .select($"click_id", $"error_id").as[(Long, Long)].collect().toSet
    val binned = Timeseries.rangeJoinBinned(
        clicks, "ts_us",
        errors.select(col("error_id"),
          (col("err_ts") - w).as("s"), (col("err_ts") + w).as("e")),
        "s", "e", binWidth = 2 * w)
      .select($"click_id", $"error_id").as[(Long, Long)].collect().toSet
    assert(binned === brute)
  }

  test("A21 refuses a malformed interval (end < start) loudly") {
    val p = points(0L)
    val i = Seq(("A", 10L, 5L)).toDF("iid", "s", "e")
    val ex = intercept[Exception] {
      Timeseries.rangeJoinBinned(p, "t", i, "s", "e", binWidth = 7L).count()
    }
    assert(ex.getMessage != null)
  }

  test("A21 refuses an interval exploding past maxBinsPerInterval") {
    val p = points(0L)
    val i = Seq(("A", 0L, 100L)).toDF("iid", "s", "e")
    intercept[Exception] {
      Timeseries.rangeJoinBinned(p, "t", i, "s", "e",
        binWidth = 1L, maxBinsPerInterval = 50).count()
    }
  }
}
