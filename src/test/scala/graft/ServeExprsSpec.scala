package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.functions.{ServeExprs, VecExprs}

/** The plan-referenced serve expressions: what they compute, the
  * contracts they enforce, and that the generated code does not
  * depend on the values they carry. */
class ServeExprsSpec extends SparkSpec {
  import spark.implicits._

  private def compiled(f: => Unit): Long = {
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    f
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
  }

  test("PairKnown: !PairKnown ≡ left-anti join on non-null keys; a null key throws") {
    val known = ServeExprs.LongPairSet(Seq((1L, 10L), (2L, 20L)))
    val pairs = Seq((1L, 10L), (1L, 20L), (2L, 20L), (3L, 30L)).toDF("a", "b")
    val ref = pairs.join(Seq((1L, 10L), (2L, 20L)).toDF("a", "b"), Seq("a", "b"), "left_anti")
      .as[(Long, Long)].collect().toSet
    VecExprs.withTempFunction(spark, "graft_known",
        args => ServeExprs.PairKnown(args(0), args(1), known)) { fn =>
      val kept = pairs.filter(!call_function(fn, col("a"), col("b")))
      assert(kept.as[(Long, Long)].collect().toSet === ref)
      assert(ref === Set((1L, 20L), (3L, 30L)))
      // the anti-join keeps a null-keyed row; PairKnown refuses it
      // instead of dropping it, in generated code and interpreted
      val withNull = Seq((Some(1L), 20L), (None, 30L)).toDF("a", "b")
      val e = intercept[Exception] {
        withNull.filter(!call_function(fn, col("a"), col("b"))).collect()
      }
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => Option(t.getMessage).exists(_.contains(ServeExprs.PairKnown.NullKey))), e)
    }
    val interpreted = intercept[IllegalArgumentException] {
      ServeExprs.PairKnown(Literal(null, LongType), Literal(10L), known).eval(null)
    }
    assert(interpreted.getMessage === ServeExprs.PairKnown.NullKey)
    assert(ServeExprs.PairKnown(Literal(1L), Literal(10L), known).eval(null) === true)
    assert(!ServeExprs.PairKnown(Literal(1L), Literal(10L), known).nullable)
  }

  test("longParam: the value of lit(v), one compiled class for every value") {
    def plan(v: org.apache.spark.sql.Column) =
      spark.range(0, 8, 1, 2).select((col("id") * 3 + v).as("x"))
    assert(plan(ServeExprs.longParam(spark, 5L)).as[Long].collect().toSeq ===
      plan(lit(5L)).as[Long].collect().toSeq)
    val warm = compiled(plan(ServeExprs.longParam(spark, 17L)).collect(): Unit)
    val again = Seq(18L, -4L, 1L << 40).map(v =>
      compiled(plan(ServeExprs.longParam(spark, v)).collect(): Unit))
    assert(again === Seq(0L, 0L, 0L), s"after $warm on the first value")
    // the literal spelling writes each value into the source
    val literal = compiled(plan(lit(1234567L)).collect(): Unit)
    assert(literal > 0L)
    val e = intercept[Exception](
      spark.range(1).select(call_function("graft_long_param", col("id"))).collect())
    assert(e.getMessage.contains("bigint literal"))
  }
}
