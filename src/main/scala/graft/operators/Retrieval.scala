package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The composed retrieval SERVE path (r10, VERDICT r9 ask #6).
  *
  * F24/F27/F28 each rank a self-contained corpus — correct for the
  * oracle gate, but production retrieval answers a query from FROZEN
  * artifacts built once at index time:
  *
  *   - the BM25 index ([[TextAnalysis.writeBm25Stats]] — bucketed
  *     whole-vocabulary df table, one-row n/t meta, and the
  *     token-bucketed POSTING table `(tok, doc_id, tf, dl)` — r11);
  *   - the written IVF index ([[Similarity.writeIvfIndex]] — lists
  *     partitioned by c_id, trained centroids alongside);
  *   - the embeddings table (the MMR rerank's sim matrix). The DOCS
  *     table is never touched at serve time (r11 — the r10 verdict's
  *     one scale-killer): lexical tf comes from the posting rows.
  *
  * [[serve]] then runs the standard hybrid page pipeline for ONE
  * query (a term list + a query vector, the interactive-request
  * shape): lexical top-k from the inverted index
  * ([[TextAnalysis.bm25TopKFromIndex]] — stats from ≤|terms|+1
  * bucketed rows in one job, scoring over the query terms'
  * bucket-pruned Σ df(term) posting rows), semantic top-k from the
  * written index ([[Similarity.ivfTopKFromIndex]] — partition-pruned
  * probed lists), rank-only RRF fusion ([[TextAnalysis.rrfFuse]] —
  * BM25 scores and cosines are incommensurable), and MMR
  * diversification of the fused page ([[Similarity.mmrGreedy]] with
  * the RRF s6 score as the scale-6 integer relevance — the standard
  * MMR-over-fused-page composition; the sim matrix reads only the
  * page's ≤ kLex+kSem vectors via a pushed-down id filter).
  *
  * Scale posture: serve-time work is Σ df(term) posting rows
  * (bucket-pruned), nprobe/nlist of the vector index (pruned at the
  * storage layer), and O(page²) driver integers for the greedy — no
  * corpus scan and no training-corpus aggregate anywhere at serve
  * time.
  *
  * Spec contract (RetrievalServeSpec): with exhaustive probing the
  * frozen-path stages reproduce the self-contained catalog entries
  * row-for-row — lexical ≡ bm25TopK, semantic ≡ bruteForceTopK,
  * fused ≡ retrieval_hybrid_rrf's spelling — and the degenerate
  * mmrGreedy config (cosine candidates, cosine relevance) ≡
  * retrieval_mmr. [[graft.streaming.EventStream.streamingRetrievalServe]]
  * is the micro-batch flavor. */
object Retrieval {

  /** One query's page-serve parameters. `nprobe` widens the index
    * probe; everything else mirrors the F24/F27/F28 catalog knobs. */
  final case class ServeConfig(terms: Seq[String], kLex: Int = 20,
                               kSem: Int = 20, kRrf: Int = 60,
                               kOut: Int = 10, lamN: Long = 1,
                               lamD: Long = 2, nprobe: Int = 4)

  /** Build both frozen artifacts from the corpus — the index-time
    * job ([[graft.CorpusPrepJob]] posture: artifacts land once, every
    * serve reads them). BM25 stats under `<table>_df`/`<table>_meta`
    * at `path/bm25*`; the IVF index under `path/ivf`. */
  def buildArtifacts(docs: DataFrame, emb: DataFrame, table: String,
                     path: String, buckets: Int = 64,
                     nlist: Int = 0): Unit =
    // the two artifacts are independent (docs → bm25/, emb → ivf/) —
    // build them concurrently (r16, guide §2.6): each build is a
    // chain of small fixed-latency jobs, so the pair costs
    // max(bm25, ivf) instead of their sum; identical artifacts land
    Par.run(Seq(
      () => TextAnalysis.writeBm25Stats(docs, table, s"$path/bm25", buckets),
      () => Similarity.writeIvfIndex(emb, s"$path/ivf", nlist))): Unit

  /** Serve one query from the frozen artifacts: ranked, fused,
    * diversified page `(q_id, doc_id, rrf_score, mmr_score, rank)` —
    * kOut rows (fewer only if the fused page itself is smaller).
    * `queryVec` is a one-row (vec_id, embedding) frame — enforced
    * (a multi-row frame would silently duplicate probe rows inside
    * the per-query rank window); its vec_id becomes q_id. In-corpus
    * query ids exclude themselves on the semantic side (the
    * ivfTopKFromIndex contract).
    *
    * Driver-job shape: one stats job (lexical dfs+meta), then
    * mmrGreedy's two bounded collects. The first runs the fused-page
    * lineage ONCE — the |terms|-task posting scan, the probe-list
    * broadcast and the pruned list scan, the fusion windows — and the
    * second the page's sim matrix over its id-filtered vectors. No
    * job reads index metadata: the query id and the semantic probe
    * come from the query's driver rows, the centroids and the lists
    * schema from the IVF index's cached handle
    * ([[Similarity.ivfTopKFromIndex]]). A warm page over a local query
    * frame is 11 jobs (spec-pinned). rrf_score = rel_u/1e6 exactly,
    * since rel_u = s6 and s6 ≤ ~2e6·k is held exactly by the
    * double. */
  def serve(spark: SparkSession, table: String, path: String,
            emb: DataFrame, queryVec: DataFrame,
            cfg: ServeConfig): DataFrame =
    page(spark, table, path, Similarity.preparedNonZeroFrame(emb),
      queryVec, cfg)

  /** [[serve]] with the INDEX ITSELF as the MMR vector source: the
    * written IVF lists already hold every vector in prepared form
    * `(vec_id, label, v, n2)` — base and appended alike — so the
    * serve needs NO external embeddings table at all. This is the
    * live-ingest serve shape ([[graft.streaming.EventStream
    * .streamingHybridIngest]]): after arrivals append to both legs,
    * the page re-serves from exactly three artifacts (BM25 index +
    * IVF index + nothing else), and a restart needs only them. */
  def serveFromIndex(spark: SparkSession, table: String, path: String,
                     queryVec: DataFrame, cfg: ServeConfig): DataFrame =
    page(spark, table, path,
      Similarity.readIndexVectors(spark, s"$path/ivf")
        .filter(col("n2") > 0),
      queryVec, cfg)

  /** Scale-6 half-up position discounts `1e6 / log2(i + 1)` for
    * i = 1..k — computed ONCE here and injected as LITERALS into both
    * engines (SparkEntry renders the same longs into the DuckDB
    * mirror's VALUES list), so the nDCG arithmetic never depends on
    * two libm `ln` implementations rounding alike. */
  def disc6(k: Int): IndexedSeq[Long] =
    (1 to k).map(i => BigDecimal(1e6 / (math.log(i + 1.0) / math.log(2.0)))
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLongExact)

  /** F30: retrieval-quality metrics — the evaluation layer every
    * retrieval stack runs over its own serves (TREC-style offline
    * eval): recall@k, MRR and binary nDCG@k of one or more candidate
    * rankings against a reference ranking.
    *
    *   - `cand (system, doc_id, rank)`: the rankings under test,
    *     keyed by a system name (a q_id folds into the key for
    *     multi-query eval — the group-by is the key column);
    *   - `ref (doc_id, ...)`: the reference set (its doc membership
    *     defines binary relevance; e.g. exact cosine top-k judging
    *     an ANN/lexical/fused serve).
    *
    * Exactness (the cross-engine rules, PERF.md): every metric is an
    * integer quotient rounded half-up at scale 6 — recall6 =
    * 1e6·hits/min(k, |ref|) (the CAPPED-recall convention: a ranking
    * of k slots can hold at most k of the reference docs, so a
    * reference larger than k is scored against the k retrievable
    * slots and a perfect system reaches 1.0 — recall@k, not absolute
    * recall; r12 ADVICE pinned this in both scaladocs), mrr6 =
    * 1e6/first_rel_rank, ndcg6 = 1e6·dcg6/idcg6 with dcg6 a sum of
    * the [[disc6]] literals over relevant positions and idcg6 their
    * prefix sum (the ideal ranking: the min(k, |ref|) relevant docs
    * first — the same cap) — emitted as the exact doubles those
    * scale-6 integers recover to.
    *
    * Scale shape: the reference is a top-k frame, so the join is a
    * BROADCAST equi-join on doc_id and the aggregate is one
    * map-side-combined pass over |cand| rows — no shuffle larger
    * than the system-key cardinality, no driver loop. */
  def evalTopK(cand: DataFrame, ref: DataFrame, k: Int): DataFrame = {
    require(ref.limit(1).count() > 0L, "evalTopK: empty reference ranking")
    // one SHARED reference for every system: key it by each system
    // present in cand (a bounded small cross — |systems| × k rows)
    // and run the grouped evaluation
    val systems = cand.select(col("system")).distinct()
    // coverage holds BY CONSTRUCTION (every system is crossed with
    // the ref), so the grouped coverage job is skipped
    evalGrouped(cand, systems.crossJoin(ref.select(col("doc_id"))), k,
      checkCoverage = false)
  }

  /** [[evalTopK]] with PER-SYSTEM references: both frames carry
    * `system`, the join runs on (system, doc_id), and every system's
    * denominator/idcg comes from ITS OWN reference size — so
    * multi-query evaluation really is ONE call and one job with
    * system = q_id (or q_id folded into a composite key), never a
    * driver loop over queries (second review pass: the loop the
    * scaladoc used to hand-wave is now the operator). Systems present
    * in `cand` but absent from `ref` are a contract violation —
    * enforced, since a metric against no reference is undefined.
    * Recall/idcg denominators follow the same min(k, n_ref)
    * capped-recall convention as [[evalTopK]] — a per-system
    * reference larger than k scores the k retrievable slots. */
  def evalTopKGrouped(cand: DataFrame, ref: DataFrame, k: Int): DataFrame =
    evalGrouped(cand, ref, k, checkCoverage = true)

  private def evalGrouped(cand: DataFrame, ref: DataFrame, k: Int,
                          checkCoverage: Boolean): DataFrame = {
    require(k > 0, s"k=$k must be positive")
    val d6 = disc6(k)
    val prefix = d6.scanLeft(0L)(_ + _).tail // idcg6 at denom = i
    val idcgMap: Column = map((1 to k).flatMap(i =>
      Seq(lit(i), lit(prefix(i - 1)))): _*)
    val discCol: Column = element_at(
      map(d6.zipWithIndex.flatMap { case (v, i) =>
        Seq(lit(i + 1), lit(v)) }: _*), col("rank").cast("int"))
    // every system present in cand gets a row — a system whose
    // ranking is empty past the rank filter must REPORT zeros, not
    // vanish from the eval (r12 review: the worst-performing system
    // disappearing from the report is the failure mode an eval layer
    // exists to expose)
    val systems = cand.select(col("system")).distinct()
    val refCnt = ref.groupBy(col("system")).agg(count(lit(1)).as("n_ref"))
    if (checkCoverage)
      require(systems.join(refCnt, Seq("system"), "left_anti")
          .limit(1).count() == 0L,
        "evalTopKGrouped: every candidate system needs reference rows — " +
          "a metric against an empty reference is undefined")
    val scored = cand.filter(col("rank") <= k)
      .join(ref.select(col("system"), col("doc_id"), lit(1L).as("rel")),
        Seq("system", "doc_id"), "left")
      .groupBy(col("system"))
      .agg(sum(coalesce(col("rel"), lit(0L))).as("hits"),
        min(when(col("rel") === 1L, col("rank").cast("long"))).as("fr"),
        sum(when(col("rel") === 1L, discCol).otherwise(lit(0L))).as("dcg6"))
    systems.join(scored, Seq("system"), "left")
      .join(refCnt, Seq("system"))
      .select(col("system"), coalesce(col("hits"), lit(0L)).as("hits"),
        col("fr"), coalesce(col("dcg6"), lit(0L)).as("dcg6"),
        least(lit(k.toLong), col("n_ref")).as("denom"))
      .withColumn("idcg6", element_at(idcgMap, col("denom").cast("int")))
      .select(col("system"), col("hits"),
        (expr("(2 * 1000000 * hits + denom) div (2 * denom)")
          .cast("double") / lit(1e6)).as("recall"),
        (coalesce(expr("(2 * 1000000 + fr) div (2 * fr)"), lit(0L))
          .cast("double") / lit(1e6)).as("mrr"),
        (expr("(2 * 1000000 * dcg6 + idcg6) div (2 * idcg6)")
          .cast("double") / lit(1e6)).as("ndcg"))
  }

  /** The shared page pipeline; `vecs` is a prepared non-zero vector
    * frame (the [[graft.operators.Similarity.prepared]] shape) for
    * the MMR rerank's sim matrix. */
  /** F32: second-stage LINEAR rerank of a fused retrieval page — the
    * standard two-stage serving shape (candidate generation, then a
    * calibrated learning-to-rank model over per-candidate features;
    * linear feature combination is the classic LTR baseline — e.g.
    * RankSVM's serving form, Joachims KDD 2002): rescore the hybrid
    * page with
    *
    *   su = wRrf·rrf6 + wQ·q6 + wCos·cos6
    *
    * where rrf6 is the page's own scale-6 RRF score (recovered
    * exactly — the [[page]] contract), q6 the F2 quality score's
    * scale-6 integer, and cos6 the candidate's 6-dp cosine to the
    * query vector in micro-units. Weights are the frozen integer
    * model (retrieval quality ranks ABOVE lexical-only fusion for
    * low-quality near-dup pages — the feature the RRF rank fusion
    * cannot see); all arithmetic is exact longs, the reported score
    * divides once at the end, rank ties break on doc_id — the DuckDB
    * mirror hash-matches bit-for-bit.
    *
    * Feature conventions (shared with the mirror): a candidate with
    * no document row (or an empty doc) contributes q6 = 0; a
    * candidate with no embedding row or a zero-norm vector
    * contributes cos6 = 0 (unknown semantics is evidence of nothing,
    * not of dissimilarity — and never a NaN). The query doc itself,
    * if it surfaces on the lexical list, scores its self-cosine like
    * any other candidate.
    *
    * Scale shape: the page is ≤ kLex+kSem rows, so it BROADCASTS
    * into the two feature joins — quality streams only the page's
    * docs (broadcast hash join, corpus never shuffles), the cosine
    * reads only the page's vectors; the final rank window sorts a
    * bounded page, never a corpus. */
  def ltrRerank(fusedPage: DataFrame, docs: DataFrame, emb: DataFrame,
                queryVec: Long, kOut: Int = 10, wRrf: Long = 2,
                wQ: Long = 1, wCos: Long = 1): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(kOut > 0, s"kOut=$kOut must be positive")
    val cand = fusedPage.select(lit(queryVec).as("q_id"), col("doc_id"),
      round(col("rrf_score") * lit(1e6), 0).cast("long").as("rrf6"))
    ltrFeatures(cand, docs, emb)
      .select(col("doc_id"),
        (lit(wRrf) * col("rrf6") + lit(wQ) * col("q6") +
          lit(wCos) * col("cos6")).as("su"))
      .withColumn("rank",
        row_number().over(Window.orderBy(col("su").desc, col("doc_id")))
          .cast("bigint"))
      .filter(col("rank") <= kOut)
      .select(col("doc_id"),
        (col("su").cast("double") / lit(1e6)).as("ltr_score"), col("rank"))
  }

  /** The F32 FEATURE frame, multi-query — `(q_id, doc_id, rrf6)`
    * candidates in, `(q_id, doc_id, rrf6, q6, cos6)` out, with the
    * exact integral conventions [[ltrRerank]]'s scaladoc pins
    * (missing doc → q6 = 0, missing/zero-norm vector → cos6 = 0,
    * cosine measured against each candidate's OWN q_id vector).
    * Shared by the serve-time rerank (one q_id) and the training
    * sweep ([[trainLtrWeights]] — many queries, same spelling, so
    * trained weights score exactly what the serve executes). The
    * candidate frame is bounded page metadata (nQ·page rows) and
    * BROADCASTS into every corpus-sized join. */
  def ltrFeatures(cand: DataFrame, docs: DataFrame,
                  emb: DataFrame): DataFrame = {
    import graft.functions.VectorFunctions.{cosineFromParts, dot}
    val spark = cand.sparkSession
    import spark.implicits._
    // the candidate frame branches into FOUR reads below (doc ids,
    // query ids, the cosine pair list, the final assembly) — left as
    // lineage, the whole upstream page pipeline (BM25 chain + cosine
    // ranking) would re-execute once per branch. It is bounded page
    // metadata (nQ·page rows — the mmrGreedy posture), so collect it
    // ONCE through a hard ceiling and re-enter as a local relation:
    // the page pipeline runs exactly once, every branch reads rows
    val ceiling = 1 << 20
    val candRows = cand.select(col("q_id"), col("doc_id"), col("rrf6"))
      .limit(ceiling + 1).collect()
    require(candRows.length <= ceiling,
      s"ltrFeatures would collect more than $ceiling candidate rows; " +
        "page the query set or shrink the candidate pages")
    val local = candRows.toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toDF("q_id", "doc_id", "rrf6")
    val docIds = broadcast(local.select(col("doc_id")).distinct())
    val q6 = TextAnalysis.qualityScore(docs.join(docIds, Seq("doc_id")))
      .select(col("doc_id"),
        round(col("score") * lit(1000000.0)).cast("long").as("q6"))
    val p = Similarity.preparedNonZeroFrame(emb)
    val qv = p.join(broadcast(local.select(col("q_id")).distinct()),
        p("vec_id") === col("q_id"))
      .select(col("q_id"), col("v").as("q_v"), col("n2").as("q_n2"))
    val cv = p.select(col("vec_id").as("doc_id"),
      col("v").as("c_v"), col("n2").as("c_n2"))
    val cos6 = broadcast(local.select(col("q_id"), col("doc_id")))
      .join(broadcast(qv), Seq("q_id"))
      .join(cv, Seq("doc_id"))
      .select(col("q_id"), col("doc_id"),
        round(round(cosineFromParts(dot(col("q_v"), col("c_v")),
          col("q_n2"), col("c_n2")), 6) * lit(1e6), 0)
          .cast("long").as("cos6"))
    local
      .join(q6, Seq("doc_id"), "left")
      .join(cos6, Seq("q_id", "doc_id"), "left")
      .select(col("q_id"), col("doc_id"), col("rrf6"),
        coalesce(col("q6"), lit(0L)).as("q6"),
        coalesce(col("cos6"), lit(0L)).as("cos6"))
  }

  /** The F32 serve-time composition over FROZEN artifacts only — the
    * production two-stage stack (candidate generation → LTR rerank)
    * with the docs table never touched at serve time (the F29 r11
    * contract): lexical and semantic candidates come from the two
    * index artifacts exactly as [[serve]], and the rerank features
    * come from (a) the page's own RRF score, (b) the QUALITY artifact
    * ([[TextAnalysis.writeQualityStats]] — per-doc scale-6 quality
    * landed at index time, the feature-store posture; the serve reads
    * only the page's ≤ kLex+kSem rows through a pushed-down id
    * filter), and (c) exact cosines against the written IVF lists
    * ([[Similarity.readIndexVectors]] — same id-filtered bounded
    * read). Feature conventions, arithmetic, and tie-breaks are
    * [[ltrRerank]]'s verbatim (spec-pinned ≡ the self-contained
    * catalog spelling when the artifacts were built from the same
    * corpus); the page assembly is bounded driver metadata (the
    * mmrGreedy posture).
    *
    * `modelTable` (when non-empty) points at the FROZEN weights
    * artifact ([[writeLtrModel]]) and overrides the inline weights —
    * the trained-serve composition: trainLtrWeights → writeLtrModel →
    * serveLtr(modelTable = …). Left empty, the inline weights apply
    * (the catalog/oracle spelling). A named-but-missing model table
    * fails loudly — never a silent fall-back to defaults.
    *
    * `qualityDelta` (when non-empty) names the live-ingest quality
    * DELTA directory ([[graft.streaming.EventStream.streamingLtrServe]]
    * lands one `ingest_batch=<id>` partition per micro-batch): the q6
    * lookup unions it with the frozen artifact, so arrivals carry
    * their REAL quality feature instead of coalescing to 0. A delta
    * dir that does not exist yet reads as no deltas (the batch-0
    * shape — nothing has ever been appended); duplicate (doc_id, q6)
    * rows across base and deltas are harmless (q6 is a pure row
    * function — every copy carries the identical value). */
  def serveLtr(spark: SparkSession, table: String, path: String,
               queryVec: DataFrame, cfg: ServeConfig, wRrf: Long = 2,
               wQ: Long = 1, wCos: Long = 1,
               modelTable: String = "",
               qualityDelta: String = ""): DataFrame = {
    val (w1, w2, w3) =
      if (modelTable.isEmpty) (wRrf, wQ, wCos)
      else {
        val w = spark.table(modelTable)
          .select(col("w_rrf"), col("w_q"), col("w_cos")).head()
        (w.getLong(0), w.getLong(1), w.getLong(2))
      }
    import graft.functions.VectorFunctions.{cosineFromParts, dot, norm2, toDoubleVec}
    import spark.implicits._
    graft.functions.VecExprs.register(spark)
    require(cfg.terms.nonEmpty, "serveLtr needs at least one query term")
    val lex = TextAnalysis.bm25TopKFromIndex(spark, table,
      cfg.terms, cfg.kLex).select(col("doc_id"), col("rank"))
    val sem = Similarity.ivfTopKFromIndex(spark, s"$path/ivf", queryVec,
        cfg.kSem, nprobe = cfg.nprobe)
      .select(col("n_id").as("doc_id"), col("rank"))
    val fused = TextAnalysis.rrfFuse(lex, sem, cfg.kRrf,
      topK = cfg.kLex + cfg.kSem)
    // the page is ≤ kLex+kSem rows — bounded driver metadata
    val pageRows = fused.select(col("doc_id"),
        round(col("rrf_score") * lit(1e6), 0).cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val ids = pageRows.map(_._1)
    if (ids.isEmpty)
      return Seq.empty[(Long, Double, Long)]
        .toDF("doc_id", "ltr_score", "rank")
    val qBase = spark.table(s"${table}_quality")
      .filter(col("doc_id").isin(ids: _*))
      .select(col("doc_id"), col("q6"), lit(-1L).as("ib"))
    val qAll =
      if (qualityDelta.isEmpty) qBase
      else {
        val dp = new org.apache.hadoop.fs.Path(qualityDelta)
        if (!dp.getFileSystem(spark.sessionState.newHadoopConf()).exists(dp))
          qBase
        else qBase.unionByName(spark.read.parquet(qualityDelta)
          .filter(col("doc_id").isin(ids: _*))
          .select(col("doc_id"), col("q6"),
            col("ingest_batch").cast("long").as("ib")))
      }
    // DETERMINISTIC fold, not last-wins over an unordered collect
    // (r13 ADVICE): when base and deltas both carry a doc — e.g. a
    // re-ingested doc whose text (and so q6) changed — the LATEST
    // ingest batch's value wins, ties on the larger q6 (a replayed
    // batch can only hold one q6 per doc, so the tiebreak is for
    // defense, not a real ordering)
    val q6 = qAll.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1)
      .map { case (d, rs) => d -> rs.maxBy(r => (r._3, r._2))._2 }
    val qRows = queryVec.limit(2)
      .select(toDoubleVec(col("embedding")).as("q_v"))
      .withColumn("q_n2", norm2(col("q_v"))).collect()
    require(qRows.length == 1,
      s"serveLtr answers exactly ONE query vector, got ${qRows.length} rows")
    val qvDf = spark.createDataFrame(java.util.Arrays.asList(qRows(0)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("q_v",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.DoubleType)),
        org.apache.spark.sql.types.StructField("q_n2",
          org.apache.spark.sql.types.DoubleType))))
    val cos6 = Similarity.readIndexVectors(spark, s"$path/ivf")
      .filter(col("n2") > 0).filter(col("vec_id").isin(ids: _*))
      .crossJoin(broadcast(qvDf))
      .filter(col("q_n2") > 0)
      .select(col("vec_id"),
        round(round(cosineFromParts(dot(col("q_v"), col("v")),
          col("q_n2"), col("n2")), 6) * lit(1e6), 0).cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ranked = pageRows
      .map { case (d, r6) =>
        (d, w1 * r6 + w2 * q6.getOrElse(d, 0L) +
          w3 * cos6.getOrElse(d, 0L)) }
      .sortBy { case (d, su) => (-su, d) }.take(cfg.kOut)
    ranked.zipWithIndex
      .map { case ((d, su), i) => (d, su.toDouble / 1e6, (i + 1).toLong) }
      .toSeq.toDF("doc_id", "ltr_score", "rank")
  }

  /** TRAIN the F32 weights — exhaustive integer grid sweep maximizing
    * mean nDCG@k over a labeled query set (the standard LTR fit,
    * degree-bounded to the exact arithmetic the serve executes: with
    * three features and integer weights, the whole model space is a
    * small grid, and sweeping it exactly beats a gradient fit that
    * lands on engine-dependent floats). For every (wRrf, wQ, wCos) in
    * grid³ except the degenerate all-zeros: rank each query's
    * candidates by (su desc, doc_id), score dcg6 against the query's
    * reference membership with the SAME [[disc6]] literals the eval
    * layer uses, ndcg6 per query as the house half-up integer
    * quotient, total = Σ ndcg6 in exact longs; argmax with
    * lexicographic (wRrf, wQ, wCos) tie-break — bit-reproducible
    * everywhere. The feature frame and reference are collected
    * through hard ceilings (training pages are bounded metadata —
    * the mmrGreedy posture; this is a page-size × query-count frame,
    * never a corpus). */
  def trainLtrWeights(feats: DataFrame, ref: DataFrame, k: Int = 10,
                      grid: Seq[Long] = Seq(0L, 1L, 2L, 4L))
      : (Long, Long, Long) = {
    require(k > 0, s"k=$k must be positive")
    require(grid.nonEmpty && grid.forall(w => w >= 0 && w <= 1000000),
      s"grid=$grid must be non-negative weights ≤ 1e6")
    val ceiling = 1 << 20
    val featRows = feats
      .select(col("q_id"), col("doc_id"), col("rrf6"), col("q6"), col("cos6"))
      .limit(ceiling + 1).collect()
    require(featRows.length <= ceiling,
      s"trainLtrWeights would collect more than $ceiling feature rows; " +
        "page the training query set")
    val refRows = ref.select(col("q_id"), col("doc_id"))
      .limit(ceiling + 1).collect()
    require(refRows.length <= ceiling,
      s"trainLtrWeights would collect more than $ceiling reference rows")
    val byQ = featRows
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
      .groupBy(_._1)
    val refByQ = refRows.map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).toSet }
    val disc = disc6(k)
    val combos = for (wr <- grid; wq <- grid; wc <- grid
                      if wr != 0 || wq != 0 || wc != 0)
      yield (wr, wq, wc)
    val best = combos.map { case (wr, wq, wc) =>
      val total = byQ.iterator.map { case (q, cands) =>
        val rel = refByQ.getOrElse(q, Set.empty)
        if (rel.isEmpty) 0L
        else {
          val page = cands
            .map { case (_, d, r6, q6, c6) =>
              (d, wr * r6 + wq * q6 + wc * c6) }
            .sortBy { case (d, su) => (-su, d) }.take(k)
          val dcg6 = page.zipWithIndex.collect {
            case ((d, _), i) if rel.contains(d) => disc(i) }.sum
          val idcg6 = disc.take(math.min(k, rel.size)).sum
          (2L * 1000000L * dcg6 + idcg6) / (2L * idcg6)
        }
      }.sum
      ((wr, wq, wc), total)
    }.minBy { case ((wr, wq, wc), total) => (-total, wr, wq, wc) }
    best._1
  }

  /** Land the trained weights as the frozen model artifact (one row —
    * the emb-stats/NB-model posture) and serve against them. */
  def writeLtrModel(spark: SparkSession, table: String, path: String,
                    weights: (Long, Long, Long)): Unit = {
    import spark.implicits._
    Seq(weights).toDF("w_rrf", "w_q", "w_cos")
      .write.format("parquet").option("path", path)
      .mode("overwrite").saveAsTable(table)
  }

  /** [[ltrRerank]] against the FROZEN weights artifact — identical to
    * the inline-weights call with the stored values (spec-pinned). */
  def ltrRerankAgainst(spark: SparkSession, table: String,
                       fusedPage: DataFrame, docs: DataFrame,
                       emb: DataFrame, queryVec: Long,
                       kOut: Int = 10): DataFrame = {
    val w = spark.table(table).select(col("w_rrf"), col("w_q"), col("w_cos"))
      .head()
    ltrRerank(fusedPage, docs, emb, queryVec, kOut,
      wRrf = w.getLong(0), wQ = w.getLong(1), wCos = w.getLong(2))
  }

  private def page(spark: SparkSession, table: String, path: String,
                   vecs: DataFrame, queryVec: DataFrame,
                   cfg: ServeConfig): DataFrame = {
    require(cfg.terms.nonEmpty, "serve needs at least one query term")
    val lex = TextAnalysis.bm25TopKFromIndex(spark, table,
      cfg.terms, cfg.kLex).select(col("doc_id"), col("rank"))
    val sem = Similarity.ivfTopKFromIndex(spark, s"$path/ivf", queryVec,
        cfg.kSem, nprobe = cfg.nprobe)
      .select(col("n_id").as("doc_id"), col("rank"))
    // the whole fused page (≤ kLex + kSem docs) is the MMR candidate
    // set; rrf_score = s6/1e6 with s6 ≤ ~2e6·k — the double holds it
    // exactly, so s6 recovers exactly
    val fused = TextAnalysis.rrfFuse(lex, sem, cfg.kRrf,
      topK = cfg.kLex + cfg.kSem)
    val qRows = queryVec.select(col("vec_id")).limit(2).collect()
    require(qRows.length == 1,
      s"serve answers exactly ONE query vector, got ${qRows.length} rows")
    val qId = qRows(0).getLong(0)
    val cand = fused.select(lit(qId).as("q_id"), col("doc_id").as("n_id"),
      round(col("rrf_score") * 1e6, 0).cast("long").as("rel_u"))
    Similarity.mmrGreedy(spark, vecs, cand, cfg.kOut, cfg.lamN, cfg.lamD)
      .select(col("q_id"), col("doc_id"),
        (col("rel_u").cast("double") / lit(1e6)).as("rrf_score"),
        col("mmr_score"), col("rank"))
      .orderBy(col("rank"))
  }
}
