package graft

import org.apache.spark.sql.functions.lit
import org.scalatest.funsuite.AnyFunSuite

import SparkEntry.{Oracle, Query, Recall, RowsOnly}

/** The shape of [[SparkEntry.catalog]], the checks its construction
  * makes, and the name checks every main runs before it builds a
  * session. No entry is run. */
class CatalogSpec extends AnyFunSuite {

  private def record(name: String, check: SparkEntry.Check): Query =
    Query(name, (s, _) => s.range(1).select(lit(1)), check)

  test("160 distinct names: 130 oracle, 30 rows-only with exact count or recall gate") {
    val names = SparkEntry.catalog.map(_.name)
    assert(names.size === 160 && names.distinct.size === 160)
    val rowsOnly = SparkEntry.catalog.collect { case Query(n, _, r: RowsOnly, _) => n -> r }
    assert(SparkEntry.catalog.count(_.check.isInstanceOf[Oracle]) === 130)
    assert(rowsOnly.size === 30)
    assert(rowsOnly.filterNot { case (_, r) => r.exact.isDefined || r.recall.isDefined } === Seq.empty)
  }

  test("a name declared twice is rejected at construction") {
    val e = intercept[IllegalArgumentException](SparkEntry.checked(Seq(
      record("a", Oracle("SELECT 1")), record("b", Oracle("SELECT 1")),
      record("a", RowsOnly(floor = 2)))))
    assert(e.getMessage.endsWith("catalog names repeat: a"))
  }

  test("a recall baseline that is rows-only or absent is rejected at construction") {
    val base = Seq(record("exact", Oracle("SELECT 1")), record("approx", RowsOnly(floor = 2)))
    assert(SparkEntry.checked(base :+ record("ok", RowsOnly(recall = Some(Recall("exact", 0.9))))).size === 3)
    for (baseline <- Seq("approx", "missing")) {
      val e = intercept[IllegalArgumentException](SparkEntry.checked(
        base :+ record("bad", RowsOnly(recall = Some(Recall(baseline, 0.9))))))
      assert(e.getMessage.endsWith(s"oracle-checked entries: bad vs $baseline"))
    }
  }

  test("a lookup of an unknown entry fails naming it") {
    assert(SparkEntry.query("knn_pagerank").name === "knn_pagerank")
    val e = intercept[IllegalArgumentException](SparkEntry.query("knn_pagerankk"))
    assert(e.getMessage.startsWith("unknown entry 'knn_pagerankk'; available: "))
  }

  test("Verify's subset: run order, and an unknown name fails listing the available ones") {
    assert(Verify.selected(None).map(_.size) === Right(160))
    assert(Verify.selected(Some("bpe_encode,bpe_train")).map(_.map(_.name)) ===
      Right(Seq("bpe_train", "bpe_encode")))
    val msg = Verify.selected(Some("ts_tz_shift,ts_tz_shfit")).swap.getOrElse(fail("accepted"))
    assert(msg.startsWith("unknown entry 'ts_tz_shfit'; available: "))
    assert(SparkEntry.catalog.forall(q => msg.contains(q.name)))
  }
}
