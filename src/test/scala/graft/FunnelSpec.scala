package graft

import org.apache.spark.sql.functions._
import graft.operators.{Corpus, Dedup, TextAnalysis}

/** F14 full-funnel pins: a hand-built corpus where EVERY stage of
  * [[Corpus.prepFunnel]] provably does its job — one doc dropped per
  * gate, one exact-dup pair that only merges BECAUSE redaction runs
  * before hashing, one near-dup pair, one benchmark-contaminated doc
  * — and the per-stage ledger matches the hand count exactly. */
class FunnelSpec extends SparkSpec {
  import spark.implicits._

  test("CorpusPrepJob lands consistent shards + manifest + ledger from one run") {
    val out = java.nio.file.Files.createTempDirectory("graft_cp").toString
    val r = CorpusPrepJob.run(spark, sfDir, out, nShards = 4)
    // the ledger covers the full gate sequence, in order, monotone
    assert(r.ledger.map(_._1) === Seq("input", "bench_holdout", "lang_id",
      "quality", "blocklist", "pii_redact", "exact_dedup", "near_dedup",
      "decontam"))
    assert(r.ledger.map(_._2).sliding(2).forall { case Seq(a, b) => b <= a })
    assert(r.docsIn === r.ledger.head._2 && r.docsIn > 0L)
    // clean docs == shard rows == the decontam stage's ledger count
    assert(r.cleanDocs === r.ledger.last._2 && r.cleanDocs > 0L)
    assert(r.shards.rows === r.cleanDocs && r.shards.files === 4L)
    assert(r.shards.maxRows - r.shards.minRows <= 1L)
    // the packing manifest is 1:1 with the clean docs
    assert(r.manifestRows === r.cleanDocs)
    // artifacts actually landed and agree with the report
    assert(spark.read.parquet(s"$out/shards").count() === r.cleanDocs)
    assert(spark.read.parquet(s"$out/manifest").count() === r.manifestRows)
    assert(spark.read.parquet(s"$out/ledger").count() === 9L)
  }

  test("CorpusPrepJob auditFrac: the dedup self-audit lands as one metrics row over a deterministic sample") {
    import graft.operators.Dedup
    val out = java.nio.file.Files.createTempDirectory("graft_cpau").toString
    val r = CorpusPrepJob.run(spark, sfDir, out, nShards = 2,
      auditFrac = 1.0) // frac 1.0: the audit covers the whole corpus
    val a = r.audit.get
    assert(spark.read.parquet(s"$out/audit").count() === 1L)
    // at frac 1.0 the audit equals evalPairs over the full input —
    // the sample coin is deterministic, not a fresh random draw
    val full = Dedup.evalPairs(
      Dedup.minhashLsh(Tables.documents(spark, sfDir)),
      Dedup.ngramJaccard(Tables.documents(spark, sfDir), 0.05))
      .collect().head
    assert(a === ((full.getLong(0), full.getLong(1), full.getLong(2),
      full.getDouble(3), full.getDouble(4), full.getDouble(5))))
    assert(a._1 > 0L, "the corpus plants near-dups — tp must be > 0")
    // a re-run lands the identical audit (replayable sample)
    val out2 = java.nio.file.Files.createTempDirectory("graft_cpau2").toString
    val r2 = CorpusPrepJob.run(spark, sfDir, out2, nShards = 2,
      auditFrac = 0.5)
    val r3 = CorpusPrepJob.run(spark, sfDir, out2 + "_b", nShards = 2,
      auditFrac = 0.5)
    assert(r2.audit === r3.audit)
  }

  test("CorpusPrepJob profile: the D16 duplication profile lands as the seventh artifact ≡ the direct call (r13 verdict #3)") {
    val out = java.nio.file.Files.createTempDirectory("graft_cppr").toString
    val r = CorpusPrepJob.run(spark, sfDir, out, nShards = 2, profile = true)
    val landed = spark.read.parquet(s"$out/profile")
      .orderBy("cluster_size").collect().toSeq.map(_.toSeq)
    // re-derive the near-dedup INPUT (exact-dedup survivors) with the
    // run's own funnel spelling, and profile it directly under the
    // run's own τ/df-cap — the landed artifact must be THAT histogram
    val stages = Corpus.funnelStages(Tables.documents(spark, sfDir),
      col("doc_id") % 97 === 0, Seq("spam"), "en", 0.45, "lang", 2048,
      tau = 0.5, maxDf = 10000L, minShared = 3)
    val nearIn = stages.collectFirst { case ("exact_dedup", df) => df }.get
    val direct = Dedup.dedupProfile(nearIn,
        Dedup.ngramJaccard(nearIn, 0.5, maxDf = 10000L))
      .orderBy("cluster_size").collect().toSeq.map(_.toSeq)
    assert(landed === direct && landed.nonEmpty)
    // the JSON-line report field: band count and the 1 − Σcl/Σdocs
    // dedup ratio both re-derive from the landed artifact
    val (bands, ratio) = r.profile.get
    assert(bands === landed.size.toLong)
    val nDocs = landed.map(_(2).asInstanceOf[Long]).sum
    val nCl = landed.map(_(1).asInstanceOf[Long]).sum
    assert(math.abs(ratio - (1.0 - nCl.toDouble / nDocs)) < 1e-12)
    // singleton mass rides as cluster_size = 1, so the histogram
    // totals the near-dedup input corpus
    assert(nDocs === r.ledger.collectFirst {
      case ("exact_dedup", n) => n }.get)
  }

  test("CorpusPrepJob buildIndex: the landed serve index answers only from the clean corpus") {
    val out = java.nio.file.Files.createTempDirectory("graft_cpi").toString
    val r = CorpusPrepJob.run(spark, sfDir, out, nShards = 4,
      buildIndex = true)
    assert(r.indexSec > 0.0)
    // the fourth artifact landed: frozen BM25 stats + the IVF index
    assert(spark.read.parquet(s"$out/index/bm25_meta").count() === 1L)
    assert(spark.read.parquet(s"$out/index/ivf/lists").count() > 0L)
    val cleanIds = spark.read.parquet(s"$out/shards")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // the BM25 stats were trained on exactly the clean doc count
    assert(spark.read.parquet(s"$out/index/bm25_meta")
      .head().getLong(0) === r.cleanDocs)
    // the IVF index holds only survivors' vectors
    val idxIds = spark.read.parquet(s"$out/index/ivf/lists")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(idxIds.subsetOf(cleanIds) && idxIds.nonEmpty)
    // a page served from the landed artifacts returns only clean docs
    val q = Tables.embeddings(spark, sfDir)
      .filter(col("vec_id").isin(cleanIds.toSeq.take(1).map(Long.box): _*))
      .select("vec_id", "embedding")
    // the posting artifact landed alongside dfs+meta (r11): the
    // serve below reads it — never the docs table — and its rows
    // cover exactly the survivor corpus (a dropped doc leaking into
    // the postings would let a serve page resurface it)
    val postIds = spark.read.parquet(s"$out/index/bm25_post")
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(postIds.nonEmpty && postIds === cleanIds)
    val page = graft.operators.Retrieval.serve(spark, "prep_bm25",
      s"$out/index",
      Tables.embeddings(spark, sfDir), q,
      graft.operators.Retrieval.ServeConfig(
        Seq("spark", "window", "merge", "dup"), nprobe = 64))
      .collect()
    assert(page.nonEmpty &&
      page.forall(row => cleanIds.contains(row.getAs[Long]("doc_id"))))
  }

  test("CorpusPrepJob graphIndex: the graph-ANN serve index lands as the eighth artifact ≡ the direct writeGraphIndex (r14 verdict #6)") {
    val S = graft.operators.Similarity
    val out = java.nio.file.Files.createTempDirectory("graft_cpg").toString
    val r = CorpusPrepJob.run(spark, sfDir, out, nShards = 2,
      buildIndex = true, graphIndex = true, graphK = 5)
    val cleanIds = spark.read.parquet(s"$out/shards")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // direct build over the SAME survivor frame — the landed artifact
    // must be edge-identical (writeGraphIndex is deterministic). The
    // survivors come from the landed shards via a semi-join, like the
    // prep's own graph stage — a several-hundred-literal isin would
    // re-embed in every self-join copy of the graph build's plan
    val direct = java.nio.file.Files
      .createTempDirectory("graft_cpg_direct").toString
    S.writeGraphIndex(
      Tables.embeddings(spark, sfDir)
        .join(spark.read.parquet(s"$out/shards")
            .select(col("doc_id").as("vec_id")),
          Seq("vec_id"), "left_semi"),
      direct, k = 5)
    def edges(p: String) = spark.read.parquet(s"$p/adj")
      .select("src", "dst").collect()
      .map(row => (row.getLong(0), row.getLong(1))).toSet
    val landed = edges(s"$out/index/graph")
    assert(landed === edges(direct) && landed.nonEmpty)
    // only survivors in the graph — a dropped doc in vec/ or adj/
    // would let a serve hop resurface it
    val vecIds = spark.read.parquet(s"$out/index/graph/vec")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(vecIds.subsetOf(cleanIds) &&
      landed.forall(e => cleanIds(e._1) && cleanIds(e._2)))
    // frozen entry agrees
    assert(spark.read.parquet(s"$out/index/graph/meta").head()
      .getAs[Long]("entry") ===
      spark.read.parquet(s"$direct/meta").head().getAs[Long]("entry"))
    // the report field re-derives from the landed artifact
    assert(r.graph === Some((vecIds.size.toLong, landed.size.toLong)))
    // and the serve family answers from the prep artifacts alone
    val q = Tables.embeddings(spark, sfDir)
      .filter(col("vec_id").isin(cleanIds.toSeq.take(3).map(Long.box): _*))
      .select("vec_id", "embedding")
    val page = S.graphTopKFromIndex(spark, s"$out/index/graph", q, k = 3)
      .collect()
    assert(page.nonEmpty &&
      page.forall(row => cleanIds.contains(row.getAs[Long]("n_id"))))
    // graphIndex without buildIndex is a contract error, not a
    // silently-empty index dir
    intercept[IllegalArgumentException] {
      CorpusPrepJob.run(spark, sfDir, out + "_x", graphIndex = true)
    }
  }

  test("CorpusPrepJob evalQueries: the retrieval self-audit artifact equals a direct grouped eval on the landed index") {
    val out = java.nio.file.Files.createTempDirectory("graft_cpe").toString
    val r = CorpusPrepJob.run(spark, sfDir, out, nShards = 2,
      buildIndex = true, evalQueries = 4, evalK = 10, evalNprobe = 4)
    assert(r.evalSec > 0.0)
    assert(r.serveEval.exists(_._1 === 4L), s"got ${r.serveEval}")
    val landed = spark.read.parquet(s"$out/eval")
      .orderBy("system").collect().toSeq.map(_.toSeq)
    assert(landed.size === 4)
    // the artifact IS evalTopKGrouped over the landed index vs
    // exhaustive truth on the clean embeddings — recompute directly
    val S = graft.operators.Similarity
    val cleanIds = spark.read.parquet(s"$out/shards")
      .select(col("doc_id").as("vec_id")).distinct()
    val embClean = Tables.embeddings(spark, sfDir)
      .join(cleanIds, Seq("vec_id"), "left_semi")
    val qIds = embClean
      .filter(expr("aggregate(embedding, 0D, (a, x) -> a + x*x) > 0"))
      .select("vec_id").orderBy("vec_id").limit(4)
      .collect().map(_.getLong(0)).toSeq
    val isQ = col("vec_id").isin(qIds.map(Long.box): _*)
    def keyed(df: org.apache.spark.sql.DataFrame) =
      df.select(col("q_id").cast("string").as("system"),
        col("n_id").as("doc_id"), col("rank"))
    val direct = graft.operators.Retrieval.evalTopKGrouped(
        keyed(S.ivfTopKFromIndex(spark, s"$out/index/ivf",
          embClean.filter(isQ).select("vec_id", "embedding"), 10,
          nprobe = 4)),
        keyed(S.bruteForceTopK(embClean, isQ, 10)), 10)
      .orderBy("system").collect().toSeq.map(_.toSeq)
    assert(landed === direct)
    // the audit is informative: every per-query recall in (0, 1], and
    // the macro number the job reports is their mean
    val recalls = spark.read.parquet(s"$out/eval")
      .collect().map(_.getAs[Double]("recall")).toSeq
    assert(recalls.forall(x => x > 0.0 && x <= 1.0), recalls.toString)
    assert(math.abs(r.serveEval.get._2 - recalls.sum / recalls.size) < 1e-12)
  }

  // the near-dup pair (from CorpusSpec's F14 premise): all grams
  // shared but the final one → Jaccard 11/13 ≈ 0.846 ≥ 0.5
  private val cleanDoc = "the quick brown fox jumps over the lazy dog " +
    "and then the dog sleeps"
  private val nearDoc = "the quick brown fox jumps over the lazy dog " +
    "and then the dog barks"
  // exact-dup pair AFTER redaction: identical except the email address
  private val emailA = "contact alice@example.com about the fox and " +
    "the dog in the morning of a day"
  private val emailB = "contact bob.smith@test.org about the fox and " +
    "the dog in the morning of a day"
  // 6-token span shared doc8 ↔ bench100 → 4 shared 3-grams ≥ minShared 3
  private val contaminated = "the answer is in the secret benchmark " +
    "question is hidden here and the dog is of a fox"
  private val benchDoc = "filler words here secret benchmark question " +
    "is hidden here end"

  private def corpus = Seq(
    (1L, "le chat est un animal et les chiens est le chat", "en"), // pred 'fr' → lang gate
    (2L, "4 8 15 16 23 42", "en"),                                 // digit junk → quality gate
    (3L, "this badword text is about the fox and the dog in a tree of the forest", "en"),
    (4L, emailA, "en"),
    (5L, emailB, "en"),          // exact dup of 4 post-redaction → D1 keeps 4
    (6L, cleanDoc, "en"),
    (7L, nearDoc, "en"),         // near-dup pair (6,7) → D6 drops 7
    (8L, contaminated, "en"),    // shares ≥3 grams with bench → decontam
    (100L, benchDoc, "en")       // the held-out eval doc
  ).toDF("doc_id", "text", "lang")

  private val isBench = col("doc_id") === 100L
  private val minQ = 0.3

  test("funnel premises hold stage by stage (assert the setup, not just the outcome)") {
    // lang: only doc 1 is non-English under F1's argmax
    val preds = TextAnalysis.langId(corpus)
      .select("doc_id", "pred_lang").as[(Long, String)].collect().toMap
    assert(preds(1L) === "fr")
    assert(corpus.select("doc_id").as[Long].collect()
      .filter(_ != 1L).forall(preds(_) === "en"))
    // quality: only doc 2 falls under the gate (bench never scored)
    val scores = TextAnalysis.qualityScore(corpus)
      .select("doc_id", "score").as[(Long, Double)].collect().toMap
    assert(scores(2L) < minQ)
    assert(Seq(3L, 4L, 5L, 6L, 7L, 8L).forall(scores(_) >= minQ))
    // redaction: A and B collapse to the same clean text
    val red = TextAnalysis.piiRedact(corpus.filter(col("doc_id").isin(4L, 5L)))
      .select("doc_id", "text_clean").as[(Long, String)].collect().toMap
    assert(red(4L) === red(5L) && red(4L).contains("[EMAIL]"))
    // near-dup: (6,7) holds at tau 0.5; (4,5) is also a raw near-dup
    // but merges at exact dedup first, so stage 7 only ever sees (6,7)
    val pairs = Dedup.ngramJaccard(corpus.filter(!isBench), 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((4L, 5L), (6L, 7L)))
    // contamination: doc 8 shares ≥3 grams with the bench doc, others none
    val contam = Dedup.contamination(corpus, isBench, minShared = 3)
      .select("doc_id", "bench_id", "shared_grams")
      .as[(Long, Long, Long)].collect()
    assert(contam.map(c => (c._1, c._2)).toSet === Set((8L, 100L)))
    assert(contam.head._3 >= 3L)
  }

  test("prepFunnelLedger: exact per-stage survivor counts; 1:1 stages pinned") {
    val ledger = Corpus.prepFunnelLedger(corpus, isBench, Seq("badword"),
        minQuality = minQ, budgetTokens = 16)
      .orderBy("stage_idx")
      .select("stage_idx", "stage", "n_docs")
      .as[(Int, String, Long)].collect().toSeq
    assert(ledger === Seq(
      (0, "input", 9L),
      (1, "bench_holdout", 8L),  // bench 100 held out
      (2, "lang_id", 7L),        // 1 (French) gated
      (3, "quality", 6L),        // 2 (digit junk) gated
      (4, "blocklist", 5L),      // 3 ('badword') gated
      (5, "pii_redact", 5L),     // 1:1 — redacts, never drops
      (6, "exact_dedup", 4L),    // 5 merges into 4 (post-redaction hash)
      (7, "near_dedup", 3L),     // 7 drops (near-dup of 6)
      (8, "decontam", 2L),       // 8 drops (bench overlap)
      (9, "pack", 2L)))          // 1:1 — one packed row per doc
  }

  test("prepFunnel: survivors packed; exact-dedup merged on the REDACTED hash") {
    val out = Corpus.prepFunnel(corpus, isBench, Seq("badword"),
        minQuality = minQ, budgetTokens = 16)
      .select("doc_id", "lang", "ws_tokens", "seq_id", "seq_offset")
      .as[(Long, String, Long, Long, Long)].collect().sortBy(_._1).toSeq
    // doc 4 survives ONLY because 4/5 hash equal after [EMAIL] masking
    // (raw texts differ); its redacted text is 14 tokens, as is doc 6's
    assert(out === Seq(
      (4L, "en", 14L, 0L, 0L),
      (6L, "en", 14L, 0L, 14L)))
  }

  test("prepFunnel on the verify corpus: output = ledger's pack count, ledger monotone") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val bench = col("doc_id") % 97 === 0
    val ledger = Corpus.prepFunnelLedger(docs, bench, Seq("spam"), minQuality = 0.45)
      .orderBy("stage_idx").select("stage", "n_docs")
      .as[(String, Long)].collect().toSeq
    val counts = ledger.map(_._2)
    // non-increasing through the drop stages; 1:1 at redact and pack
    assert(counts.sliding(2).forall { case Seq(a, b) => b <= a })
    assert(counts(5) === counts(4) && counts(9) === counts(8))
    val out = Corpus.prepFunnel(docs, bench, Seq("spam"), minQuality = 0.45)
    assert(out.count() === counts.last)
  }
}
