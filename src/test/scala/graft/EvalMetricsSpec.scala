package graft

import org.apache.spark.sql.functions._

import graft.operators.Retrieval

/** F30 — the retrieval evaluation layer: recall@k / MRR / binary
  * nDCG@k as exact scale-6 integer quotients (the cross-engine
  * arithmetic the catalog oracle hash-matches). */
class EvalMetricsSpec extends SparkSpec {
  import spark.implicits._

  private def frame(sys: String, ids: Seq[Long]) =
    ids.zipWithIndex.toDF("doc_id", "r0")
      .select(lit(sys).as("system"), col("doc_id"),
        (col("r0") + 1).cast("bigint").as("rank"))

  private def ref(ids: Seq[Long]) =
    ids.zipWithIndex.toDF("doc_id", "r0")
      .select(col("doc_id"), (col("r0") + 1).cast("bigint").as("rank"))

  test("perfect, disjoint and single-hit candidates: hand-computed metrics") {
    val r = ref(Seq(1L, 2L, 3L))
    val cand = frame("perfect", Seq(1L, 2L, 3L))
      .unionByName(frame("disjoint", Seq(7L, 8L, 9L)))
      .unionByName(frame("hit_at_3", Seq(7L, 8L, 1L)))
      .unionByName(frame("hit_at_1", Seq(1L, 8L, 9L)))
    val out = Retrieval.evalTopK(cand, r, 3)
      .orderBy("system").collect()
      .map(x => x.getString(0) ->
        (x.getLong(1), x.getDouble(2), x.getDouble(3), x.getDouble(4)))
      .toMap
    assert(out("perfect") === ((3L, 1.0, 1.0, 1.0)))
    assert(out("disjoint") === ((0L, 0.0, 0.0, 0.0)))
    // disc6(3) = [1000000, 630930, 500000], idcg6 = 2130930; one hit
    // at rank 3: recall = mrr = halfUp(1e6/3), ndcg = halfUp
    // (1e6·500000/2130930) — pinned from the shared literals
    assert(out("hit_at_3") === ((1L, 0.333333, 0.333333, 0.234639)))
    // the same single hit at rank 1 scores the full discount — the
    // ordering sensitivity binary recall alone can't see
    assert(out("hit_at_1") === ((1L, 0.333333, 1.0, 0.469279)))
  }

  test("binary nDCG is order-blind only when every position is relevant") {
    val r = ref(Seq(1L, 2L, 3L))
    val out = Retrieval.evalTopK(
      frame("reversed", Seq(3L, 2L, 1L)), r, 3).collect().head
    // all three positions relevant: dcg = idcg regardless of order
    assert((out.getLong(1), out.getDouble(2), out.getDouble(3),
      out.getDouble(4)) === ((3L, 1.0, 1.0, 1.0)))
  }

  test("candidate rows beyond rank k are ignored; short references set the denominator") {
    val r = ref(Seq(1L, 2L))
    // k = 3 but only 2 reference docs: recall denominator is |ref|,
    // idcg the 2-position prefix — a perfect 2-row candidate is 1.0
    val out = Retrieval.evalTopK(frame("p", Seq(1L, 2L)), r, 3)
      .collect().head
    assert((out.getLong(1), out.getDouble(2), out.getDouble(4)) ===
      ((2L, 1.0, 1.0)))
    // rank-4 rows never score (rank > k filter)
    val out2 = Retrieval.evalTopK(frame("q", Seq(7L, 8L, 9L, 1L)), r, 3)
      .collect().head
    assert(out2.getLong(1) === 0L)
  }

  test("a system whose rows all fall past rank k reports zeros instead of vanishing") {
    val r = ref(Seq(1L, 2L, 3L))
    // system "late" has candidates only at ranks 4-5: the eval must
    // still emit its row with zero metrics — a broken serve
    // disappearing from the report is the failure an eval exposes
    val late = Seq((1L, 4L), (2L, 5L)).toDF("doc_id", "rank")
      .select(lit("late").as("system"), col("doc_id"),
        col("rank").cast("bigint").as("rank"))
    val out = Retrieval.evalTopK(
        frame("ok", Seq(1L, 2L, 3L)).unionByName(late), r, 3)
      .orderBy("system").collect()
      .map(x => x.getString(0) ->
        (x.getLong(1), x.getDouble(2), x.getDouble(3), x.getDouble(4)))
      .toMap
    assert(out.keySet === Set("ok", "late"))
    assert(out("late") === ((0L, 0.0, 0.0, 0.0)))
    assert(out("ok") === ((3L, 1.0, 1.0, 1.0)))
  }

  test("evalPairs: hand-computed precision/recall/F1, duplicate and empty inputs") {
    import graft.operators.Dedup
    def pairs(p: (Long, Long)*) = p.toSeq.toDF("doc_a", "doc_b")
    // cand {AB, AC, AD}, ref {AB, AC, AE}: tp=2 fp=1 fn=1
    // prec = rec = 2/3 -> 0.666667 (half-up), f1 = 4/6 -> 0.666667
    val out = Dedup.evalPairs(
      pairs((1L, 2L), (1L, 3L), (1L, 4L), (1L, 2L)), // dup row collapses
      pairs((1L, 2L), (1L, 3L), (1L, 5L))).collect().head
    assert((out.getLong(0), out.getLong(1), out.getLong(2)) === ((2L, 1L, 1L)))
    assert((out.getDouble(3), out.getDouble(4), out.getDouble(5)) ===
      ((0.666667, 0.666667, 0.666667)))
    // empty candidate set: zeros, not a divide-by-zero error
    val z = Dedup.evalPairs(pairs(), pairs((1L, 2L))).collect().head
    assert((z.getLong(0), z.getDouble(3), z.getDouble(4), z.getDouble(5)) ===
      ((0L, 0.0, 0.0, 0.0)))
    // orientation is NORMALIZED, not assumed: a caller passing one
    // side unordered is scored on the undirected pair set it meant,
    // never double-penalized as both fp and fn (r12 ADVICE)
    val flipped = Dedup.evalPairs(
      pairs((2L, 1L), (1L, 3L), (4L, 1L)), // AB + AD flipped
      pairs((1L, 2L), (3L, 1L), (1L, 5L))) // AC flipped on the ref side
      .collect().head
    assert((flipped.getLong(0), flipped.getLong(1), flipped.getLong(2)) ===
      ((2L, 1L, 1L)))
  }

  test("multi-query eval: q_id folds into the system key; per-query recall matches the gate's per-query fractions") {
    import graft.operators.Similarity
    // per-query eval of the LSH serve against brute force — the
    // scaladoc's multi-query pattern, proven: one evalTopK call over
    // all queries, keyed system = q_id
    val emb = Tables.embeddings(spark, sfDir)
      .filter(expr("aggregate(embedding, 0D, (a, x) -> a + x*x) > 0"))
    val isQ = col("vec_id") % 50 === 0
    val exact = Similarity.bruteForceTopK(emb, isQ, 5)
    val approx = Similarity.lshTopK(emb, isQ, 5)
    val qs = exact.select(col("q_id")).distinct()
      .collect().map(_.getLong(0)).toSeq
    assert(qs.size > 1, "need multiple queries for the multi-query shape")
    def keyed(df: org.apache.spark.sql.DataFrame) =
      df.select(col("q_id").cast("string").as("system"),
        col("n_id").as("doc_id"), col("rank"))
    // ONE grouped call, system = q_id, per-query references — no
    // driver loop over queries
    val out = graft.operators.Retrieval.evalTopKGrouped(
        keyed(approx), keyed(exact), 5)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(out.keySet === qs.map(_.toString).toSet,
      "one metrics row per query")
    // every per-query recall is a fraction of 5 in [0, 1], and the
    // macro average sits in the LSH gate's plausible band
    assert(out.values.forall(r => r >= 0.0 && r <= 1.0))
    val macroAvg = out.values.sum / out.size
    assert(macroAvg > 0.2, s"macro recall $macroAvg — LSH should find some")
    // and the grouped call agrees with the per-query loop exactly
    qs.take(3).foreach { q =>
      val one = graft.operators.Retrieval.evalTopK(
          keyed(approx).filter(col("system") === q.toString),
          exact.filter(col("q_id") === q).select(col("n_id").as("doc_id")),
          5).collect().head.getDouble(2)
      assert(one === out(q.toString), s"query $q")
    }
  }

  test("evalClustering: hand-computed ARI — identical 1.0, crossed -0.5, chance-level 0.0") {
    import graft.operators.Dedup
    def lab(p: (Long, Long)*) = p.toSeq.toDF("doc_id", "cluster_id")
    val a = lab(1L -> 10L, 2L -> 10L, 3L -> 20L, 4L -> 20L)
    assert(Dedup.evalClustering(a, a).collect().head.getDouble(4) === 1.0)
    // {12|34} vs {13|24}: the classic fully-crossed 2×2 case, ARI -1/2
    val b = lab(1L -> 7L, 3L -> 7L, 2L -> 9L, 4L -> 9L)
    assert(Dedup.evalClustering(a, b).collect().head.getDouble(4) === -0.5)
    // {12|34} vs {123|4}: Sij·T = Sa·Sb exactly -> ARI 0 (chance level)
    val c = lab(1L -> 5L, 2L -> 5L, 3L -> 5L, 4L -> 6L)
    val row = Dedup.evalClustering(a, c).collect().head
    assert((row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3))
      === ((4L, 1L, 2L, 3L)))
    assert(row.getDouble(4) === 0.0)
    // den2 = 0 (both all-singletons): the identical-trivial convention
    val s = lab(1L -> 1L, 2L -> 2L)
    assert(Dedup.evalClustering(s, s).collect().head.getDouble(4) === 1.0)
  }

  test("catalog entry (ARI): lexical vs semantic near-dup components over the corpus") {
    val out = SparkEntry.query("eval_clustering_ari").build(spark, sfDir)
      .collect().head
    assert(out.getLong(0) > 0L)
    // an ARI is always in [-1, 1]; the synthetic corpus plants its
    // lexical and semantic near-dups on disjoint docs, so agreement
    // sits at chance level — the honest reading
    assert(out.getDouble(4) >= -1.0 && out.getDouble(4) <= 1.0)
  }

  test("catalog entry (pairs): LSH is high-precision against sub-threshold truth, misses marginal pairs") {
    val out = SparkEntry.query("eval_dedup_metrics").build(spark, sfDir)
      .collect().head
    val (tp, fp, fn) = (out.getLong(0), out.getLong(1), out.getLong(2))
    assert(tp > 0L, "no true positives — the corpus should have near-dups")
    // at τ=0.05 the truth set includes pairs below the bands'
    // collision knee: recall may dip, precision stays high here
    assert(out.getDouble(3) > 0.9, s"precision tp=$tp fp=$fp fn=$fn")
  }

  test("catalog entry: one row per system, fused page retrieves semantic mass bm25 alone may not") {
    val out = SparkEntry.query("eval_retrieval_metrics").build(spark, sfDir)
      .collect().map(x => x.getString(0) -> x.getDouble(2)).toMap
    assert(out.keySet === Set("bm25", "rrf"))
    // rrf fuses the reference list itself into the page, so its
    // recall is bounded below by the fused page's semantic half
    assert(out("rrf") > 0.0 && out("rrf") >= out("bm25"))
  }
}
