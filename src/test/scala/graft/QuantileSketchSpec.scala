package graft

import org.apache.spark.sql.Row
import graft.operators.Corpus

/** F13b tokenQuantilesApprox vs F13 exact: the rank-error bound the
  * rows-only entry ships under, and the partial-merge plan shape that
  * makes the GK summary the corpus-scale path. */
class QuantileSketchSpec extends SparkSpec {
  import spark.implicits._

  private val ps = Seq(0.25, 0.5, 0.75, 0.95)
  private def docsTable = Tables.documents(spark, sfDir)

  test("F13b reproduces every group and approximates each percentile within rank error") {
    val labels = ps.map(Corpus.quantileLabel)
    def byLang(df: org.apache.spark.sql.DataFrame): Map[String, Row] =
      df.collect().map(r => r.getAs[String]("lang") -> r).toMap
    val exactDf = Corpus.tokenQuantiles(docsTable, "lang", ps)
    val approxDf = Corpus.tokenQuantilesApprox(docsTable, "lang", ps)
    // both spellings name their percentile columns identically
    assert(labels.forall(exactDf.columns.contains))
    assert(labels.forall(approxDf.columns.contains))
    val exact = byLang(exactDf)
    val approx = byLang(approxDf)
    assert(approx.keySet === exact.keySet)
    // with accuracy=10000 and n_docs ≪ accuracy per stratum at this
    // sf, rank error < 1: the estimate must land inside the exact
    // ±0.02-percentile band (the interpolated exact value can sit
    // between order statistics; the GK summary returns an actual one)
    val bandPs = ps.flatMap(p =>
      Seq(math.max(0.0, p - 0.02), math.min(1.0, p + 0.02)))
    val bands = byLang(Corpus.tokenQuantiles(docsTable, "lang", bandPs))
    exact.keySet.foreach { lang =>
      assert(approx(lang).getAs[Long]("n_docs") === exact(lang).getAs[Long]("n_docs"))
      ps.zipWithIndex.foreach { case (p, i) =>
        val est = approx(lang).getAs[Double](Corpus.quantileLabel(p))
        val lo = bands(lang).getAs[Double](Corpus.quantileLabel(bandPs(2 * i)))
        val hi = bands(lang).getAs[Double](Corpus.quantileLabel(bandPs(2 * i + 1)))
        assert(est >= lo && est <= hi,
          f"$lang p$p: est $est outside exact band [$lo, $hi]")
      }
    }
  }

  test("F13b aggregates partially before the exchange (mergeable summary)") {
    val plan = Corpus.tokenQuantilesApprox(docsTable, "lang", ps)
      .queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("partial_approx_percentile"),
      plan.take(2000))
  }

  test("F13b rejects out-of-range percentiles and duplicate labels loudly") {
    val docs = Seq((1L, "a b c", "en")).toDF("doc_id", "text", "lang")
    intercept[IllegalArgumentException] {
      Corpus.tokenQuantilesApprox(docs, "lang", Seq(1.5))
    }
    intercept[IllegalArgumentException] {
      Corpus.tokenQuantilesApprox(docs, "lang", Seq(0.5, 0.50))
    }
  }
}
