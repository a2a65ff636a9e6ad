package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.{Corpus, Dedup, TextAnalysis}

/** End-to-end demo of the TRAINING-DATA side of the library — the
  * clean-dedup-mix-pack chain a corpus goes through before training,
  * composed entirely from catalog operators:
  *
  *   quality gate (F2 score + F9 repetition + F10 compression) →
  *   exact dedup (F4 fingerprints) → near-dup clustering (D3 pairs →
  *   D8 components, keep cluster representatives) → benchmark
  *   decontamination (D9) → mixing plan + deterministic stratified
  *   sample (F6b → F6) → sequence packing (F7).
  *
  *   sbt "runMain graft.CorpusPipeline [sfDir]"
  *
  * Prints one funnel line per stage (docs surviving) and the final
  * packed-sequence count. The only driver-side data movement is the
  * O(strata)-row mixing plan — everything else stays distributed, so
  * the same chain runs unchanged on a 100 TB corpus.
  */
object CorpusPipeline {

  final case class Funnel(input: Long, quality: Long, exactDedup: Long,
                          nearDedup: Long, decontaminated: Long,
                          sampled: Long, sequences: Long)

  /** `maxDf` feeds the hot-gram cap of the near-dup and
    * decontamination stages (the 100 TB-safe default — a boilerplate
    * gram shared corpus-wide cannot blow the candidate joins;
    * `Long.MaxValue` restores uncapped exact grams). Tune it off
    * `Dedup.gramDocFrequencies`' tail. */
  def run(spark: SparkSession, sfDir: String,
          targetShares: Map[String, Double] = Map("en" -> 0.4, "es" -> 0.3, "de" -> 0.3),
          packBudget: Int = 512,
          maxDf: Long = 1000L): Funnel = {
    val docs = Tables.documents(spark, sfDir)
    val input = docs.count()

    // 1. quality gate: prose-like score, low gram repetition, and a
    //    deflate ratio that rules out degenerate/boilerplate text
    val scored = TextAnalysis.qualityScore(docs).select("doc_id", "score")
      .join(TextAnalysis.repetition(docs).select("doc_id", "rep_ratio"), "doc_id")
      .join(TextAnalysis.compressionRatio(docs).select("doc_id", "comp_ratio"), "doc_id")
    // score ≥ 0.2 is a REAL floor (the F2 score is in [0,1] with
    // degenerate/empty docs pinned at exactly 0.0 — a ≥ 0.0 gate
    // filtered nothing); each funnel stage is cached: its frame feeds
    // both its own count and the next stage, and the quality join in
    // particular sits on a three-way scoring join including the
    // per-doc deflate pass — recomputing that per consumer is the
    // exact O(stages²) re-scan the 100 TB posture forbids
    val quality = docs.join(
      scored.filter(col("score") >= 0.2 && col("rep_ratio") <= 0.5 &&
        col("comp_ratio") >= 0.2).select("doc_id"), "doc_id")
      .cache()
    val nQuality = quality.count()

    // 2. exact dedup on content fingerprints: keep the min doc_id per
    //    normalized content (F4 → the D1 keep-one rule)
    val keepExact = TextAnalysis.fingerprint(quality)
      .groupBy("fingerprint").agg(min("doc_id").as("doc_id"))
      .select("doc_id")
    val exact = quality.join(keepExact, "doc_id").cache()
    val nExact = exact.count()

    // 3. near-dup clustering: D3 candidate pairs → D8 components; the
    //    cluster representative (doc_id == cluster_id) survives
    val clusters = Dedup.clusters(exact, Dedup.ngramJaccard(exact, 0.2, maxDf))
    val near = exact.join(
      clusters.filter(col("doc_id") === col("cluster_id")).select("doc_id"), "doc_id")
      .cache()
    val nNear = near.count()

    // 4. decontamination: drop anything sharing ≥5 grams with the
    //    benchmark slice (here: every 97th doc plays the eval set)
    val contaminated = Dedup.contamination(near, col("doc_id") % 97 === 0, 5,
        maxDf)
      .select("doc_id").distinct()
    val clean = near.join(contaminated, Seq("doc_id"), "left_anti")
      .filter(col("doc_id") % 97 =!= 0) // the eval slice itself never trains
      .cache()
    val nClean = clean.count()

    // 5. mix: plan the rates (O(strata) rows — the one legitimate
    //    collect), then the deterministic md5-coin sample
    val plan = Corpus.mixPlan(clean, "lang", targetShares)
      .select("lang", "rate").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val sampled = Corpus.sampleStratified(clean, "lang",
      plan.filter(_._2 > 0), defaultRate = 0.0)
    val nSampled = sampled.count()

    // 6. pack into fixed token budgets per stratum
    val packed = Corpus.packSequences(sampled, "lang", packBudget)
    val nSeqs = packed.select("lang", "seq_id").distinct().count()

    Seq(quality, exact, near, clean).foreach(_.unpersist(false))
    // the operators' OWN slots too: ngramJaccard's exploded gram
    // tables (the largest intermediate here), contamination's slot,
    // and packSequences' staging pins outlive this call otherwise —
    // a long-lived session hits eviction churn on the next job (the
    // same cleanup Bench runs between phases)
    graft.operators.Dedup.releaseCaches()
    graft.operators.Corpus.releaseCaches()
    Funnel(input, nQuality, nExact, nNear, nClean, nSampled, nSeqs)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
    val t0 = System.nanoTime()
    val f = run(spark, sfDir)
    val secs = (System.nanoTime() - t0) / 1e9
    println(f"CORPUS input=${f.input} quality=${f.quality} " +
      f"exact=${f.exactDedup} near=${f.nearDedup} clean=${f.decontaminated} " +
      f"sampled=${f.sampled} sequences=${f.sequences} wall=$secs%.1fs")
    spark.stop()
  }
}
