package graft

import org.apache.spark.sql.functions._

import graft.operators.{Retrieval, Similarity, TextAnalysis}

/** The composed serve path's contract (VERDICT r9 ask #6): with
  * exhaustive probing, every frozen-artifact stage reproduces the
  * self-contained catalog entry it composes — the artifacts add a
  * storage layer, never a semantics change. */
class RetrievalServeSpec extends SparkSpec {

  private val terms = Seq("spark", "window", "merge", "dup")
  private def docs = Tables.documents(spark, sfDir)
  private def emb = Tables.embeddings(spark, sfDir)
  private def query = emb.filter(col("vec_id") === 0)
    .select("vec_id", "embedding")

  private lazy val servePath = {
    val p = java.nio.file.Files.createTempDirectory("graft_serve_spec").toString
    Retrieval.buildArtifacts(docs, emb, "serve_spec_bm25", p, nlist = 8)
    p
  }

  test("frozen-path stages ≡ the self-contained catalog entries (exhaustive probing)") {
    val p = servePath // force artifact build
    assert(p.nonEmpty)
    // lexical from frozen stats ≡ one-pass self-ranking
    val lexFrozen = TextAnalysis.bm25TopKAgainst(spark, "serve_spec_bm25",
      docs, terms, 20).orderBy("rank").collect().toSeq.map(_.toSeq)
    val lexSelf = TextAnalysis.bm25TopK(docs, terms, 20)
      .orderBy("rank").collect().toSeq.map(_.toSeq)
    assert(lexFrozen === lexSelf && lexFrozen.nonEmpty)
    // lexical from the POSTING index (r11) ≡ both of the above —
    // score-identical without ever reading a document
    val lexIdx = TextAnalysis.bm25TopKFromIndex(spark, "serve_spec_bm25",
      terms, 20).orderBy("rank").collect().toSeq.map(_.toSeq)
    assert(lexIdx === lexSelf)
    // semantic from the written index at nprobe = nlist ≡ brute force
    val semIdx = Similarity.ivfTopKFromIndex(spark, s"$servePath/ivf",
        query, 20, nprobe = 8)
      .orderBy("rank").collect().toSeq.map(_.toSeq)
    val semExact = Similarity.bruteForceTopK(emb, col("vec_id") === 0, 20)
      .orderBy("rank").collect().toSeq.map(_.toSeq)
    assert(semIdx === semExact)
    // fused from the two frozen stages ≡ the retrieval_hybrid_rrf
    // catalog spelling (same corpus, same query)
    val fusedFrozen = TextAnalysis.rrfFuse(
        TextAnalysis.bm25TopKAgainst(spark, "serve_spec_bm25", docs, terms, 20)
          .select(col("doc_id"), col("rank")),
        Similarity.ivfTopKFromIndex(spark, s"$servePath/ivf", query, 20,
            nprobe = 8)
          .select(col("n_id").as("doc_id"), col("rank")))
      .orderBy("rank").collect().toSeq.map(_.toSeq)
    val fusedCatalog = SparkEntry.query("retrieval_hybrid_rrf").build(spark, sfDir)
      .orderBy("rank").collect().toSeq.map(_.toSeq)
    assert(fusedFrozen === fusedCatalog)
  }

  test("serve: kOut diversified rows, rank-1 = fused argmax, deterministic") {
    val cfg = Retrieval.ServeConfig(terms, nprobe = 8)
    val page = Retrieval.serve(spark, "serve_spec_bm25", servePath,
      emb, query, cfg).collect()
    assert(page.length === cfg.kOut)
    assert(page.map(_.getAs[Long]("rank")).toSeq === (1L to cfg.kOut))
    assert(page.forall(_.getAs[Long]("q_id") === 0L))
    // the first greedy pick is pure relevance (S is empty): the
    // fused page's top rrf score, doc-id tie-break. The serve's MMR
    // candidate set is the WHOLE fused page (topK = kLex + kSem)
    val fused = TextAnalysis.rrfFuse(
      TextAnalysis.bm25TopK(docs, terms, 20).select(col("doc_id"), col("rank")),
      Similarity.bruteForceTopK(emb, col("vec_id") === 0, 20)
        .select(col("n_id").as("doc_id"), col("rank")),
      topK = cfg.kLex + cfg.kSem)
    val top = fused.orderBy(col("rrf_score").desc, col("doc_id")).head()
    assert(page.head.getAs[Long]("doc_id") === top.getAs[Long]("doc_id"))
    // picks are distinct docs from the fused page
    val pageDocs = page.map(_.getAs[Long]("doc_id")).toSet
    assert(pageDocs.size === cfg.kOut)
    val fusedDocs = fused.collect().map(_.getAs[Long]("doc_id")).toSet
    assert(pageDocs.subsetOf(fusedDocs))
    // deterministic re-serve
    val again = Retrieval.serve(spark, "serve_spec_bm25", servePath,
      emb, query, cfg).collect()
    assert(again.map(_.toSeq).toSeq === page.map(_.toSeq).toSeq)
  }

  test("driver RRF fusion ≡ rrfFuse: shared, one-leg and tied docs, an empty lexical leg") {
    import spark.implicits._
    // (doc_id, rrf_score, rank) both ways; ranks are ints, as the legs' row_number
    def fused(lex: Seq[(Long, Int)], sem: Seq[(Long, Int)], topK: Int) = {
      val viaSpark = TextAnalysis.rrfFuse(lex.toDF("doc_id", "rank"),
          sem.toDF("doc_id", "rank"), 60, topK)
        .orderBy("rank").collect().toSeq
        .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
      val viaDriver = TextAnalysis.rrfFuseLocal(
          lex.map { case (d, r) => (d, r.toLong) },
          sem.map { case (d, r) => (d, r.toLong) }, 60, topK)
        .zipWithIndex.map { case ((d, s6), i) => (d, s6.toDouble / 1e6, i + 1L) }
      assert(viaDriver === viaSpark, s"lex=$lex sem=$sem topK=$topK")
      viaDriver
    }
    // 1 and 4 on both legs, 2/3/5 lexical-only, 6/7 semantic-only; 10
    // and 9 each hold one rank-1 term, so their s6 ties and 9 goes first
    val lex = Seq(10L -> 1, 2L -> 2, 3L -> 3, 1L -> 4, 4L -> 5, 5L -> 6)
    val sem = Seq(9L -> 1, 4L -> 2, 6L -> 3, 1L -> 4, 7L -> 5)
    val all = fused(lex, sem, 20)
    assert(all.size === 9 && all.map(_._1).indexOf(9L) + 1 === all.map(_._1).indexOf(10L))
    assert(all.count(_._2 == all.find(_._1 == 9L).get._2) === 2)
    assert(fused(lex, sem, 3).size === 3 && fused(lex, Nil, 20).size === lex.size)
    assert(fused(Nil, Nil, 20).isEmpty)
    // the serve's own legs, a query term set the vocabulary lacks included
    val p = servePath
    for (ts <- Seq(terms, Seq("zzqx_not_a_term"))) {
      def ranks(df: org.apache.spark.sql.DataFrame) =
        df.select(col("doc_id"), col("rank")).as[(Long, Int)].collect().toSeq
      val lexLeg = ranks(TextAnalysis.bm25TopKFromIndex(spark, "serve_spec_bm25", ts, 20))
      val semLeg = ranks(Similarity.ivfTopKFromIndex(spark, s"$p/ivf", query, 20, nprobe = 4)
        .select(col("n_id").as("doc_id"), col("rank")))
      assert(semLeg.nonEmpty && lexLeg.isEmpty === (ts != terms))
      assert(fused(lexLeg, semLeg, 40).nonEmpty)
    }
  }

  test("a page ≡ its distributed spelling: rrfFuse over the legs, mmrGreedy over the fused frame") {
    val p = servePath
    val vecs = Similarity.readIndexVectors(spark, s"$p/ivf").filter(col("n2") > 0)
    for (ts <- Seq(terms, Seq("zzqx_not_a_term"))) {
      val cfg = Retrieval.ServeConfig(ts, nprobe = 4)
      val lex = TextAnalysis.bm25TopKFromIndex(spark, "serve_spec_bm25", ts, cfg.kLex)
        .select(col("doc_id"), col("rank"))
      val sem = Similarity.ivfTopKFromIndex(spark, s"$p/ivf", query, cfg.kSem,
          nprobe = cfg.nprobe)
        .select(col("n_id").as("doc_id"), col("rank"))
      val cand = TextAnalysis.rrfFuse(lex, sem, cfg.kRrf, topK = cfg.kLex + cfg.kSem)
        .select(lit(0L).as("q_id"), col("doc_id").as("n_id"),
          round(col("rrf_score") * 1e6, 0).cast("long").as("rel_u"))
      val want = Similarity.mmrGreedy(spark, vecs, cand, cfg.kOut, cfg.lamN, cfg.lamD)
        .select(col("q_id"), col("doc_id"),
          (col("rel_u").cast("double") / lit(1e6)).as("rrf_score"),
          col("mmr_score"), col("rank"))
        .orderBy(col("rank")).collect().toSeq.map(_.toSeq)
      val got = Retrieval.serveFromIndex(spark, "serve_spec_bm25", p, query, cfg)
        .collect().toSeq.map(_.toSeq)
      assert(got === want && got.size === cfg.kOut, s"terms $ts")
    }
  }

  test("posting-list serve reads Σ df(term) rows through pruned buckets, never the corpus") {
    val p = servePath // force artifact build
    assert(p.nonEmpty)
    // the serve's posting scan reads exactly Σ df(term) rows: one
    // (tok, doc) posting per doc containing the term
    val post = spark.table("serve_spec_bm25_post")
    val scanned = post.filter(col("tok").isin(terms: _*))
    val sumDf = spark.table("serve_spec_bm25_df")
      .filter(col("tok").isin(terms: _*))
      .agg(sum(col("df"))).head().getLong(0)
    assert(scanned.count() === sumDf && sumDf > 0L)
    // ... a small slice of the index, not the whole vocabulary's
    // postings (the r10 scale-killer was worse still: the old lexical
    // leg re-tokenized every full document per query). Σ df(term)
    // CAN exceed the doc count — common terms post in most docs — so
    // the scale claim is rows-of-index, not rows-vs-corpus.
    assert(sumDf < post.count())
    // bucket pruning: the tok IN filter reaches the scan as bucket
    // selection — the filtered read touches strictly fewer bucket
    // files than the table holds
    val allFiles = post.select(input_file_name()).distinct().count()
    val readFiles = scanned.select(input_file_name()).distinct().count()
    assert(readFiles < allFiles,
      s"expected bucket pruning: read $readFiles of $allFiles files")
    // no join anywhere in the lexical leg (dl is denormalized onto the
    // posting row), and no exchange: one task sums the postings
    val plan = TextAnalysis.bm25TopKFromIndex(spark, "serve_spec_bm25",
      terms, 20).queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"lexical serve plan has a join:\n$plan")
    assert(!plan.contains("Exchange"), s"lexical serve plan has an exchange:\n$plan")
  }

  test("appendToBm25Index: serve after appends ≡ full rebuild, replay-idempotent, delta reads pruned") {
    val p = java.nio.file.Files.createTempDirectory("graft_bm25inc_spec").toString
    val half = docs.filter(col("doc_id") % 2 === 0)
    TextAnalysis.writeBm25Stats(half, "inc_spec_bm25", s"$p/bm25")
    // two delta segments on top of the half-corpus base
    val b0 = docs.filter(col("doc_id") % 4 === 1)
    val b1 = docs.filter(col("doc_id") % 4 === 3)
    TextAnalysis.appendToBm25Index(b0, "inc_spec_bm25", ingestBatch = 0L)
    TextAnalysis.appendToBm25Index(b1, "inc_spec_bm25", ingestBatch = 1L)
    // equality-to-rebuild: base + two deltas ≡ one pass over ALL docs
    val served = TextAnalysis.bm25TopKFromIndex(spark, "inc_spec_bm25",
      terms, 20).orderBy("rank").collect().toSeq.map(_.toSeq)
    val full = TextAnalysis.bm25TopK(docs, terms, 20)
      .orderBy("rank").collect().toSeq.map(_.toSeq)
    assert(served === full && served.nonEmpty)
    // replay idempotence: re-running batch 0's append REPLACES its
    // delta partitions — same page, and df/meta masses unchanged
    TextAnalysis.appendToBm25Index(b0, "inc_spec_bm25", ingestBatch = 0L)
    val again = TextAnalysis.bm25TopKFromIndex(spark, "inc_spec_bm25",
      terms, 20).orderBy("rank").collect().toSeq.map(_.toSeq)
    assert(again === full)
    val metaDelta = spark.read.parquet(s"$p/bm25_meta_delta")
    assert(metaDelta.count() === 2L) // one row per batch, not three
    assert(metaDelta.agg(sum(col("n"))).head().getLong(0) ===
      b0.count() + b1.count())
    // the serve's delta read prunes to the query terms' pbkt
    // partitions: for a single term, only files under its bucket
    val term = terms.head
    val bkt = spark.range(1)
      .select(pmod(xxhash64(lit(term)), lit(64L))).head().getLong(0)
    val pruned = spark.read.parquet(s"$p/bm25_post_delta")
      .filter(col("pbkt") === pmod(xxhash64(lit(term)), lit(64L)) &&
        col("tok") === term)
      .select(input_file_name()).distinct().collect().map(_.getString(0))
    assert(pruned.nonEmpty && pruned.forall(_.contains(s"pbkt=$bkt")),
      s"expected only pbkt=$bkt delta files, got:\n${pruned.mkString("\n")}")
    // df sums: a term present in base AND deltas serves the full
    // corpus' document frequency (the arithmetic's only df input)
    val dfBase = spark.table("inc_spec_bm25_df")
      .filter(col("tok") === term).agg(sum(col("df"))).head().getLong(0)
    val dfDelta = spark.read.parquet(s"$p/bm25_df_delta")
      .filter(col("tok") === term && col("ingest_batch") >= 0)
      .agg(sum(col("df"))).head().getLong(0)
    val dfFull = docs.select(explode(array_distinct(
        graft.functions.TextFunctions.tokens(col("text")))).as("tok"))
      .filter(col("tok") === term).count()
    assert(dfBase + dfDelta === dfFull && dfBase > 0L && dfDelta > 0L)
    // an empty append is a no-op (no schema-less dir, no meta row)
    TextAnalysis.appendToBm25Index(docs.filter(lit(false)),
      "inc_spec_bm25", ingestBatch = 9L)
    assert(spark.read.parquet(s"$p/bm25_meta_delta").count() === 2L)
  }

  test("compactBm25Index folds delta batches into one segment: serve unchanged, files bounded, appends continue") {
    val p = java.nio.file.Files.createTempDirectory("graft_bm25cmp").toString
    TextAnalysis.writeBm25Stats(docs.filter(col("doc_id") % 2 === 0),
      "cmp_spec_bm25", s"$p/bm25")
    // three delta batches, then compact
    Seq(1L, 3L, 5L).zipWithIndex.foreach { case (m, i) =>
      TextAnalysis.appendToBm25Index(
        docs.filter(col("doc_id") % 8 === m), "cmp_spec_bm25",
        ingestBatch = i.toLong) }
    val before = TextAnalysis.bm25TopKFromIndex(spark, "cmp_spec_bm25",
      terms, 20).orderBy("rank").collect().toSeq.map(_.toSeq)
    def files(dir: String) = spark.read.parquet(dir)
      .select(input_file_name()).distinct().count()
    val postFilesBefore = files(s"$p/bm25_post_delta")
    val dfRowsBefore = spark.read.parquet(s"$p/bm25_df_delta").count()
    TextAnalysis.compactBm25Index(spark, "cmp_spec_bm25")
    // serve identical; everything folded into the -1 segment
    val after = TextAnalysis.bm25TopKFromIndex(spark, "cmp_spec_bm25",
      terms, 20).orderBy("rank").collect().toSeq.map(_.toSeq)
    assert(after === before && after.nonEmpty)
    val post = spark.read.parquet(s"$p/bm25_post_delta")
    assert(post.select(col("ingest_batch").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSeq === Seq(-1L))
    assert(files(s"$p/bm25_post_delta") < postFilesBefore)
    // df increments aggregated: strictly fewer rows, same mass
    assert(spark.read.parquet(s"$p/bm25_df_delta").count() < dfRowsBefore)
    assert(spark.read.parquet(s"$p/bm25_meta_delta").count() === 1L)
    // a fresh append after compaction still serves correctly
    TextAnalysis.appendToBm25Index(
      docs.filter(col("doc_id") % 8 === 7), "cmp_spec_bm25",
      ingestBatch = 3L)
    val grown = TextAnalysis.bm25TopKFromIndex(spark, "cmp_spec_bm25",
      terms, 20).orderBy("rank").collect().toSeq.map(_.toSeq)
    val expect = TextAnalysis.bm25TopK(
        docs.filter(col("doc_id") % 2 === 0 || col("doc_id") % 8 === 1 ||
          col("doc_id") % 8 === 3 || col("doc_id") % 8 === 5 ||
          col("doc_id") % 8 === 7), terms, 20)
      .orderBy("rank").collect().toSeq.map(_.toSeq)
    assert(grown === expect)
    // the reserved segment id refuses direct appends
    val e = intercept[IllegalArgumentException] {
      TextAnalysis.appendToBm25Index(docs.limit(1), "cmp_spec_bm25",
        ingestBatch = -1L) }
    assert(e.getMessage.contains("reserved"))
    Seq("_df", "_meta", "_post").foreach(sfx =>
      spark.sql(s"DROP TABLE IF EXISTS cmp_spec_bm25$sfx"))
  }

  test("live hybrid: arrivals appended to BOTH indexes serve the full-build page (exhaustive probing)") {
    // build the serve artifacts on HALF the corpus, append the other
    // half to both legs (appendToBm25Index delta segments +
    // appendToIvfIndex frozen-quantizer lists), then serve: at
    // nprobe = nlist the probe is exhaustive, so centroid drift
    // between the half-trained and full-trained quantizers cannot
    // matter — the page must equal the full-build page row-for-row.
    // This is the freshness contract of the whole composed path: a
    // corpus that grew since index time serves EXACTLY as if
    // re-indexed.
    val p = java.nio.file.Files.createTempDirectory("graft_livehyb").toString
    val halfD = docs.filter(col("doc_id") % 2 === 0)
    val halfE = emb.filter(col("vec_id") % 2 === 0)
    Retrieval.buildArtifacts(halfD, halfE, "live_hyb_bm25", p, nlist = 8)
    TextAnalysis.appendToBm25Index(docs.filter(col("doc_id") % 2 =!= 0),
      "live_hyb_bm25", ingestBatch = 0L)
    Similarity.appendToIvfIndex(emb.filter(col("vec_id") % 2 =!= 0),
      s"$p/ivf", ingestBatch = 0L)
    val cfg = Retrieval.ServeConfig(terms, nprobe = 8)
    val live = Retrieval.serve(spark, "live_hyb_bm25", p, emb, query, cfg)
      .collect().toSeq.map(_.toSeq)
    // the reference page: both artifacts built over the FULL corpus
    val pf = java.nio.file.Files.createTempDirectory("graft_livehyb_f").toString
    Retrieval.buildArtifacts(docs, emb, "live_hyb_full_bm25", pf, nlist = 8)
    val full = Retrieval.serve(spark, "live_hyb_full_bm25", pf, emb, query, cfg)
      .collect().toSeq.map(_.toSeq)
    assert(live === full && live.nonEmpty)
    // serveFromIndex: the IVF lists as the MMR vector source — no
    // side embeddings table — must produce the identical page (the
    // lists hold every vector, base and appended, in prepared form)
    val fromIdx = Retrieval.serveFromIndex(spark, "live_hyb_bm25", p,
      query, cfg).collect().toSeq.map(_.toSeq)
    assert(fromIdx === full)
    Seq("live_hyb_bm25", "live_hyb_full_bm25").foreach { t =>
      Seq("_df", "_meta", "_post").foreach(sfx =>
        spark.sql(s"DROP TABLE IF EXISTS $t$sfx")) }
  }

  test("F32 ltrRerank: exact feature arithmetic, missing features coalesce to 0, quality can reorder the page") {
    import spark.implicits._
    val fused = TextAnalysis.rrfFuse(
      TextAnalysis.bm25TopK(docs, terms, 20)
        .select(col("doc_id"), col("rank")),
      Similarity.bruteForceTopK(emb, col("vec_id") === 0, 20)
        .select(col("n_id").as("doc_id"), col("rank")))
    val out = Retrieval.ltrRerank(fused, docs, emb, queryVec = 0L)
      .orderBy("rank").collect().toSeq
    assert(out.size === 10)
    // driver-side reference: recompute su for every page doc from
    // independently collected feature frames
    val rrf6 = fused.select(col("doc_id"),
        round(col("rrf_score") * 1e6, 0).cast("long"))
      .as[(Long, Long)].collect().toMap
    val q6 = graft.operators.TextAnalysis.qualityScore(docs)
      .select(col("doc_id"),
        round(col("score") * lit(1000000.0)).cast("long"))
      .as[(Long, Long)].collect().toMap
    val qRow = Similarity.bruteForceTopK(emb,
        col("vec_id") === 0, Int.MaxValue - 1)
    val cos6 = qRow.select(col("n_id"),
        round(col("cos_sim") * lit(1e6), 0).cast("long"))
      .as[(Long, Long)].collect().toMap
    // self-cosine: doc 0 scores 1.0 against itself by convention
    val want = rrf6.map { case (id, r6) =>
      val c6 = if (id == 0L) 1000000L else cos6.getOrElse(id, 0L)
      id -> (2L * r6 + q6.getOrElse(id, 0L) + c6)
    }
    val ranked = want.toSeq.sortBy { case (id, su) => (-su, id) }.take(10)
    val got = out.map(r => (r.getLong(0),
      math.round(r.getDouble(1) * 1e6)))
    assert(got === ranked)
    // ranks are dense 1..10
    assert(out.map(_.getLong(2)) === (1L to 10L))
    // a page doc with NO docs/embeddings row: features coalesce to 0
    // (su = wRrf·rrf6 only), never a dropped row or a null score
    val phantom = Seq((987654321L, 0.03, 1L), (0L, 0.02, 2L))
      .toDF("doc_id", "rrf_score", "rank")
    val ph = Retrieval.ltrRerank(phantom, docs, emb, queryVec = 0L, kOut = 2)
      .orderBy("doc_id").collect().toSeq
    assert(ph.size === 2)
    val phRow = ph.find(_.getLong(0) == 987654321L).get
    assert(math.round(phRow.getDouble(1) * 1e6) === 2L * 30000L)
  }

  test("F32 trainLtrWeights: sweep finds the discriminative feature; frozen artifact serves identically") {
    import spark.implicits._
    // two training queries where QUALITY is the only feature that
    // separates relevant from irrelevant candidates: rrf6 anti-ranks
    // the relevant docs, cosine is constant — any weight vector with
    // wQ dominating wRrf reaches perfect nDCG, pure-rrf inverts it
    val feats = Seq(
      (100L, 1L, 30000L, 900000L, 500000L),
      (100L, 2L, 32000L, 100000L, 500000L),
      (100L, 3L, 31000L, 850000L, 500000L),
      (200L, 4L, 20000L, 950000L, 500000L),
      (200L, 5L, 26000L, 50000L, 500000L),
      (200L, 6L, 24000L, 120000L, 500000L)
    ).toDF("q_id", "doc_id", "rrf6", "q6", "cos6")
    val ref = Seq((100L, 1L), (100L, 3L), (200L, 4L))
      .toDF("q_id", "doc_id")
    val (wr, wq, wc) = Retrieval.trainLtrWeights(feats, ref, k = 2)
    // driver-re-derived expectation: the chosen combo must achieve
    // the grid's maximum summed ndcg6 (and beat pure-rrf strictly)
    def ndcgTotal(w: (Long, Long, Long)): Long = {
      val disc = Retrieval.disc6(2)
      val rel = Map(100L -> Set(1L, 3L), 200L -> Set(4L))
      val rows = feats.as[(Long, Long, Long, Long, Long)].collect()
      rows.groupBy(_._1).map { case (q, cs) =>
        val page = cs.map { case (_, d, r6, q6v, c6) =>
          (d, w._1 * r6 + w._2 * q6v + w._3 * c6) }
          .sortBy { case (d, su) => (-su, d) }.take(2)
        val dcg = page.zipWithIndex.collect {
          case ((d, _), i) if rel(q).contains(d) => disc(i) }.sum
        val idcg = disc.take(math.min(2, rel(q).size)).sum
        (2L * 1000000L * dcg + idcg) / (2L * idcg)
      }.sum
    }
    val grid = Seq(0L, 1L, 2L, 4L)
    val all = for (a <- grid; b <- grid; c <- grid
                   if a != 0 || b != 0 || c != 0) yield (a, b, c)
    val maxTotal = all.map(ndcgTotal).max
    assert(ndcgTotal((wr, wq, wc)) === maxTotal)
    assert(ndcgTotal((wr, wq, wc)) > ndcgTotal((1L, 0L, 0L)))
    assert(wq > 0)
    // lexicographic tie-break: re-running is bit-identical
    assert(Retrieval.trainLtrWeights(feats, ref, k = 2) === ((wr, wq, wc)))
    // frozen artifact round-trip: rerank against the stored weights
    // ≡ the inline-weights call
    val wh = java.nio.file.Files.createTempDirectory("graft_ltr").toString
    Retrieval.writeLtrModel(spark, "ltr_spec_model", s"$wh/m", (wr, wq, wc))
    val fused = TextAnalysis.rrfFuse(
      TextAnalysis.bm25TopK(docs, terms, 20)
        .select(col("doc_id"), col("rank")),
      Similarity.bruteForceTopK(emb, col("vec_id") === 0, 20)
        .select(col("n_id").as("doc_id"), col("rank")))
    val a = Retrieval.ltrRerankAgainst(spark, "ltr_spec_model",
        fused, docs, emb, queryVec = 0L)
      .orderBy("rank").collect().toSeq.map(_.toSeq)
    val b = Retrieval.ltrRerank(fused, docs, emb, queryVec = 0L,
        wRrf = wr, wQ = wq, wCos = wc)
      .orderBy("rank").collect().toSeq.map(_.toSeq)
    assert(a === b && a.nonEmpty)
    spark.sql("DROP TABLE IF EXISTS ltr_spec_model")
  }

  test("F32 serveLtr: frozen-artifact two-stage page ≡ self-contained ltrRerank (exhaustive probing)") {
    val p = servePath
    TextAnalysis.writeQualityStats(docs, "serve_spec_bm25", s"$p/quality")
    val cfg = Retrieval.ServeConfig(terms, nprobe = 8)
    val got = Retrieval.serveLtr(spark, "serve_spec_bm25", p, query, cfg)
      .orderBy("rank").collect().toSeq.map(_.toSeq)
    // the self-contained spelling over the same corpus: the fused
    // page at the serve's own page size, then the catalog rerank
    val fused = TextAnalysis.rrfFuse(
      TextAnalysis.bm25TopK(docs, terms, cfg.kLex)
        .select(col("doc_id"), col("rank")),
      Similarity.bruteForceTopK(emb, col("vec_id") === 0, cfg.kSem)
        .select(col("n_id").as("doc_id"), col("rank")),
      cfg.kRrf, topK = cfg.kLex + cfg.kSem)
    val want = Retrieval.ltrRerank(fused, docs, emb, queryVec = 0L,
        kOut = cfg.kOut)
      .orderBy("rank").collect().toSeq.map(_.toSeq)
    assert(got === want && got.size === cfg.kOut)
    // a doc ABSENT from the quality artifact coalesces to q6 = 0 —
    // the ltrRerank phantom convention, never an error: an empty
    // artifact serves exactly the ltrRerank page over an empty docs
    TextAnalysis.writeQualityStats(docs.filter(col("doc_id") < 0),
      "serve_spec_bm25", s"$p/quality")
    val sparse = Retrieval.serveLtr(spark, "serve_spec_bm25", p, query, cfg)
      .orderBy("rank").collect().toSeq.map(_.toSeq)
    val wantSparse = Retrieval.ltrRerank(fused, docs.limit(0), emb,
        queryVec = 0L, kOut = cfg.kOut)
      .orderBy("rank").collect().toSeq.map(_.toSeq)
    assert(sparse === wantSparse && sparse.size === cfg.kOut)
    // a MISSING quality artifact fails loudly (no silent zero-feature
    // page from a typo'd table name)
    intercept[Exception](
      Retrieval.serveLtr(spark, "serve_spec_nosuch", p, query, cfg))
    // restore the full artifact for any later consumer of servePath
    TextAnalysis.writeQualityStats(docs, "serve_spec_bm25", s"$p/quality")
    // the FROZEN-model serve: modelTable overrides the inline weights
    // with the stored ones — identical to passing them inline; a
    // named-but-missing model fails loudly, never defaults
    Retrieval.writeLtrModel(spark, "serve_ltr_model", s"$p/ltr",
      (3L, 2L, 1L))
    val fromModel = Retrieval.serveLtr(spark, "serve_spec_bm25", p,
        query, cfg, modelTable = "serve_ltr_model")
      .orderBy("rank").collect().toSeq.map(_.toSeq)
    val inline = Retrieval.serveLtr(spark, "serve_spec_bm25", p,
        query, cfg, wRrf = 3L, wQ = 2L, wCos = 1L)
      .orderBy("rank").collect().toSeq.map(_.toSeq)
    assert(fromModel === inline && fromModel.nonEmpty)
    intercept[Exception](Retrieval.serveLtr(spark, "serve_spec_bm25", p,
      query, cfg, modelTable = "serve_ltr_model_nosuch"))
    spark.sql("DROP TABLE IF EXISTS serve_ltr_model")
  }

  test("serve refuses a multi-row query frame") {
    val p = servePath
    assert(p.nonEmpty)
    val two = emb.filter(col("vec_id").isin(0L, 50L))
      .select("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Retrieval.serve(spark, "serve_spec_bm25", p, emb, two,
        Retrieval.ServeConfig(terms, nprobe = 8))
    }
    assert(e.getMessage.contains("exactly ONE query vector"))
  }

  test("streaming serve dedups a duplicate vec_id within one micro-batch") {
    import spark.implicits._
    val cfg = Retrieval.ServeConfig(terms, nprobe = 8)
    val q0 = emb.filter(col("vec_id") === 0L)
      .select("vec_id", "embedding").as[(Long, Array[Float])].head()
    implicit val sqlCtx = spark.sqlContext
    val stream =
      org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Array[Float])]
    val input = stream.toDS().toDF("vec_id", "embedding")
    val got = scala.collection.mutable.Map[Long, Seq[Seq[Any]]]()
    val writer = graft.streaming.EventStream.streamingRetrievalServe(
      input, "serve_spec_bm25", servePath, emb, cfg,
      (id, pages) => got(id) =
        pages.orderBy("q_id", "rank").collect().toSeq.map(_.toSeq))
    val q = writer.start()
    try {
      stream.addData(Seq(q0, q0)) // the same query twice in one batch
      q.processAllAvailable()
    } finally q.stop()
    val direct = Retrieval.serve(spark, "serve_spec_bm25", servePath, emb,
        emb.filter(col("vec_id") === 0L).select("vec_id", "embedding"), cfg)
      .collect().toSeq.map(_.toSeq)
    // ONE page, not two — and identical to the direct serve
    assert(got.values.flatten.toSeq === direct && direct.size === cfg.kOut)
  }

  test("F32 streamingLtrServe: per-batch pages ≡ direct serveLtr, arrivals carry real q6") {
    import spark.implicits._
    // isolated artifacts on HALF the corpus: batches append the rest
    val p = java.nio.file.Files.createTempDirectory("graft_sltr").toString
    val halfD = docs.filter(col("doc_id") % 2 === 0)
    val halfE = emb.filter(col("vec_id") % 2 === 0)
    Retrieval.buildArtifacts(halfD, halfE, "sltr_bm25", p, nlist = 8)
    TextAnalysis.writeQualityStats(halfD, "sltr_bm25", s"$p/quality")
    val cfg = Retrieval.ServeConfig(terms, nprobe = 8)
    val arrivals = docs.filter(col("doc_id") % 2 =!= 0)
      .join(emb.select(col("vec_id").as("doc_id"), col("embedding")),
        Seq("doc_id"))
      .select("doc_id", "text", "embedding")
      .as[(Long, String, Array[Float])].collect()
    implicit val sqlCtx = spark.sqlContext
    val stream = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, Array[Float])]
    val input = stream.toDS().toDF("doc_id", "text", "embedding")
    val got = scala.collection.mutable.Map[Long, Seq[Seq[Any]]]()
    val writer = graft.streaming.EventStream.streamingLtrServe(
      input, "sltr_bm25", p, query, cfg,
      onPages = (id, pages) => got(id) =
        pages.orderBy("q_id", "rank").collect().toSeq.map(_.toSeq))
    val q = writer.start()
    try {
      stream.addData(arrivals.take(arrivals.length / 2).toSeq)
      q.processAllAvailable()
      stream.addData(arrivals.drop(arrivals.length / 2).toSeq)
      q.processAllAvailable()
    } finally q.stop()
    assert(got.keySet === Set(0L, 1L))
    // each batch's page ≡ a direct serveLtr over the post-append
    // artifacts + delta (batch 1's page reflects ALL appends)
    val directRows = Retrieval.serveLtr(spark, "sltr_bm25", p, query, cfg,
        qualityDelta = s"$p/quality_delta")
      .collect().toSeq
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    val direct: Seq[Seq[Any]] =
      directRows.map { case (d, sc, rk) => Seq[Any](0L, d, sc, rk) }
    assert(got(1L) === direct && direct.size === cfg.kOut)
    // arrivals carry their REAL q6: every batch-appended doc on the
    // final page scores strictly above the frozen-only spelling
    // whenever its q6 is nonzero (a frozen-only lookup gives it 0)
    val frozenOnly = Retrieval.serveLtr(spark, "sltr_bm25", p, query, cfg)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val deltaQ6 = spark.read.parquet(s"$p/quality_delta")
      .select(col("doc_id"), col("q6")).as[(Long, Long)].collect().toMap
    val appendedOnPage = directRows.collect {
      case (d, sc, _) if deltaQ6.getOrElse(d, 0L) > 0 => (d, sc)
    }
    assert(appendedOnPage.nonEmpty,
      "spec needs at least one appended doc on the served page")
    appendedOnPage.foreach { case (d, sc) =>
      frozenOnly.get(d).foreach(f => assert(sc > f, s"doc $d q6 missing")) }
    Seq("_df", "_meta", "_post", "_quality").foreach(sfx =>
      spark.sql(s"DROP TABLE IF EXISTS sltr_bm25$sfx"))
  }

  test("streaming serve: micro-batch pages ≡ direct serve calls, batch-isolated") {
    import spark.implicits._
    val cfg = Retrieval.ServeConfig(terms, nprobe = 8)
    val qs = emb.filter(col("vec_id").isin(0L, 50L))
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect()
    implicit val sqlCtx = spark.sqlContext
    val stream =
      org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Array[Float])]
    val input = stream.toDS().toDF("vec_id", "embedding")
    val got = scala.collection.mutable.Map[Long, Seq[Seq[Any]]]()
    val writer = graft.streaming.EventStream.streamingRetrievalServe(
      input, "serve_spec_bm25", servePath, emb, cfg,
      (id, pages) => got(id) =
        pages.orderBy("q_id", "rank").collect().toSeq.map(_.toSeq))
    val q = writer.start()
    try {
      stream.addData(qs.toSeq)
      q.processAllAvailable()
    } finally q.stop()
    val direct = Seq(0L, 50L).flatMap { id =>
      Retrieval.serve(spark, "serve_spec_bm25", servePath, emb,
          emb.filter(col("vec_id") === id).select("vec_id", "embedding"), cfg)
        .collect().toSeq.map(_.toSeq)
    }
    assert(got.values.flatten.toSeq === direct && direct.size === 2 * cfg.kOut)
  }

  test("F32 trained composition: trainLtrWeights -> writeLtrModel -> serveLtr(modelTable) ≡ inline trained weights (r13 verdict #8)") {
    val p = servePath
    TextAnalysis.writeQualityStats(docs, "serve_spec_bm25", s"$p/quality")
    val cfg = Retrieval.ServeConfig(terms, nprobe = 8)
    // the TRAINING page: the same fused candidates the serve ranks,
    // featurized by the shared ltrFeatures spelling
    val fused = TextAnalysis.rrfFuse(
      TextAnalysis.bm25TopK(docs, terms, cfg.kLex)
        .select(col("doc_id"), col("rank")),
      Similarity.bruteForceTopK(emb, col("vec_id") === 0, cfg.kSem)
        .select(col("n_id").as("doc_id"), col("rank")),
      cfg.kRrf, topK = cfg.kLex + cfg.kSem)
    val cand = fused.select(lit(0L).as("q_id"), col("doc_id"),
      round(col("rrf_score") * lit(1e6), 0).cast("long").as("rrf6"))
    val feats = Retrieval.ltrFeatures(cand, docs, emb)
    // deterministic labeled reference: the exact semantic top-5
    val ref = Similarity.bruteForceTopK(emb, col("vec_id") === 0, 5)
      .select(lit(0L).as("q_id"), col("n_id").as("doc_id"))
    val w = Retrieval.trainLtrWeights(feats, ref, k = cfg.kOut)
    val wh = java.nio.file.Files.createTempDirectory("graft_ltr_e2e").toString
    Retrieval.writeLtrModel(spark, "ltr_e2e_model", s"$wh/m", w)
    // the PRODUCTION composition end-to-end: serve against the frozen
    // trained artifact ≡ the inline spelling with the trained weights
    val fromModel = Retrieval.serveLtr(spark, "serve_spec_bm25", p,
        query, cfg, modelTable = "ltr_e2e_model")
      .orderBy("rank").collect().toSeq.map(_.toSeq)
    val inline = Retrieval.serveLtr(spark, "serve_spec_bm25", p,
        query, cfg, wRrf = w._1, wQ = w._2, wCos = w._3)
      .orderBy("rank").collect().toSeq.map(_.toSeq)
    assert(fromModel === inline && fromModel.size === cfg.kOut)
    spark.sql("DROP TABLE IF EXISTS ltr_e2e_model")
  }

  test("serveLtr q6 fold is deterministic: the latest ingest batch wins over earlier deltas (r13 ADVICE)") {
    import spark.implicits._
    val p = servePath
    TextAnalysis.writeQualityStats(docs, "serve_spec_bm25", s"$p/quality")
    val cfg = Retrieval.ServeConfig(terms, nprobe = 8)
    val ids = docs.select(col("doc_id")).as[Long].collect().toSeq
    val d1 = java.nio.file.Files.createTempDirectory("graft_qd1").toString
    val d2 = java.nio.file.Files.createTempDirectory("graft_qd2").toString
    // two conflicting re-ingests of EVERY doc: batch 0 says one
    // quality, batch 1 another — the fold must take batch 1's value
    // by the max-ingest-batch rule, never by collect order (the
    // scores carry q6, so a wrong winner shifts every ltr_score)
    ids.map(d => (d, 111111L, 0L)).toDF("doc_id", "q6", "ingest_batch")
      .unionByName(
        ids.map(d => (d, 654321L, 1L)).toDF("doc_id", "q6", "ingest_batch"))
      .write.partitionBy("ingest_batch").mode("overwrite").parquet(d1)
    ids.map(d => (d, 654321L, 1L)).toDF("doc_id", "q6", "ingest_batch")
      .write.partitionBy("ingest_batch").mode("overwrite").parquet(d2)
    val both = Retrieval.serveLtr(spark, "serve_spec_bm25", p, query,
      cfg, qualityDelta = d1).collect().toSeq.map(_.toSeq)
    val latest = Retrieval.serveLtr(spark, "serve_spec_bm25", p, query,
      cfg, qualityDelta = d2).collect().toSeq.map(_.toSeq)
    assert(both === latest && both.nonEmpty)
  }
}
