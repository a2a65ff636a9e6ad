package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._

/** Similarity-search block (SURVEY.md §2 E + D5) over the
  * `embeddings` table (`vec_id`, `embedding array<float>`, `label`).
  *
  * Scale posture: the query set is always the broadcast side — the
  * 100 TB candidate corpus streams through one scan, never shuffles
  * for the join. Brute force is the exactness baseline; the LSH
  * variant turns ANN into an equi-join on a hyperplane-sign bucket so
  * candidate generation is a shuffle on the bucket key (skew-safe:
  * 2^P buckets, P chosen so buckets ≫ executors).
  */
object Similarity {

  /** One live cache slot per operator (shared [[CacheSlots]]
    * lifecycle, same as [[graft.operators.Dedup]]'s). */
  private val liveCaches = new CacheSlots

  private def cachedAs(key: String, df: DataFrame): DataFrame =
    liveCaches(key, df)

  /** Drop every cache this object holds (end-of-job cleanup). */
  def releaseCaches(): Unit = liveCaches.release()

  /** `localCheckpoint` + handles to the blocks it pinned — the
    * [[Dedup]] checkpointPinned discipline (Dataset.unpersist cannot
    * free checkpoint blocks; the getPersistentRDDs delta captures the
    * new RDDs for an explicit release once a loop round is dead),
    * shared by the iterative operators here ([[knnPagerank]],
    * [[graphTopK]]). */
  private def checkpointPinned(df: DataFrame, eager: Boolean = true)
      : (DataFrame, Seq[org.apache.spark.rdd.RDD[_]]) =
    // one shared implementation (r16 review) — locked registration,
    // AQE stages materialized before the lock. Eager by default (a
    // loop that unpersists superseded pins immediately requires the
    // new frame materialized on return); the pagerank loop passes
    // eager=false and defers every unpersist to its finally (r17 —
    // the M2 fusion).
    Par.checkpointPinned(df, eager)

  /** Precompute the double vector + squared norm once per row —
    * amortized across every pair the row participates in. */
  def prepared(emb: DataFrame): DataFrame = {
    graft.functions.VecExprs.register(emb.sparkSession)
    emb.withColumn("v", toDoubleVec(col("embedding")))
      .withColumn("n2", norm2(col("v")))
      .select(col("vec_id"), col("label"), col("v"), col("n2"))
  }

  /** [[prepared]] minus zero-norm rows — THE spelling every cosine
    * pair/ranking operator must start from: a zero vector's 0/0
    * cosine is undefined — a guarded NULL on the Spark side and a
    * NaN in DuckDB, which orders LARGEST there — so unexcluded it
    * passes ≥ tau filters and ranks FIRST in desc sorts as a phantom
    * result. One helper so the next ranking path can't forget the
    * exclusion. (The PQ paths get the same guarantee via
    * [[unitFrame]]'s filter.) */
  private def preparedNonZero(emb: DataFrame): DataFrame =
    prepared(emb).filter(col("n2") > 0)

  /** Squared L2 between a subvector and a codebook entry for the
    * ADC lookup tables: ‖a‖² + ‖b‖² − 2·a·b — the SAME accumulator
    * order as [[graft.functions.VecExprs.PqEncode]], so LUT distances
    * are bit-identical to the encode side everywhere it is spelled
    * (in-memory pqCore, index serve, residual serve). */
  private def subDist(a: Column, b: Column): Column =
    dot(a, a) + dot(b, b) - lit(2.0) * dot(a, b)

  private def cosTo(a: String, b: String): Column =
    cosineFromParts(dot(col(s"$a.v"), col(s"$b.v")), col(s"$a.n2"), col(s"$b.n2"))

  /** [[prepared]] for an EXTERNAL query frame — needs only
    * (vec_id, embedding), no `label` (the index serve paths promise
    * exactly that contract; `prepared` would throw on the missing
    * column). */
  private[graft] def preparedQueries(queries: DataFrame): DataFrame = {
    graft.functions.VecExprs.register(queries.sparkSession)
    queries.withColumn("v", toDoubleVec(col("embedding")))
      .withColumn("n2", norm2(col("v")))
      .select(col("vec_id"), col("v"), col("n2"))
  }

  /** Ceiling for the quadratic exactness baselines below: past this
    * corpus size an all-pairs/nested-loop plan is a cluster-melter, so
    * the guard trips with a pointer to the bucketed scale paths instead
    * of silently scheduling O(n²) work. The count is one cheap
    * column-pruned scan — noise next to the quadratic job it gates. */
  val quadraticRowCeiling: Long = 1L << 20

  private def guardQuadratic(emb: DataFrame, op: String, scalePath: String): Unit = {
    val n = emb.count()
    require(n <= quadraticRowCeiling,
      s"$op is the O(n²) exactness baseline and got n=$n rows " +
        s"(ceiling ${quadraticRowCeiling}); use $scalePath at this scale")
  }

  /** Hot-key star-collapse candidate generation shared by the
    * bucketed pair flavors ([[cosinePairsLsh]], [[semanticDedup]]):
    * keys whose group exceeds `maxKey` collapse to a star around the
    * min member (per-key output O(size), not size² — connectivity
    * survives for D8's transitive clustering); kept keys self-join
    * for the full within-key pairs. `raw` is (vec_id, keys…);
    * output (a_id, b_id) has a_id < b_id by construction on both
    * branches (the star hub IS the min member). */
  private def bucketedCandidates(raw: DataFrame, keys: Seq[String],
                                 maxKey: Long): DataFrame = {
    val keyCols = keys.map(col)
    val (buckets, hotStar) =
      if (maxKey == Long.MaxValue) (raw, None)
      else {
        val hot = raw.groupBy(keyCols: _*).agg(count(lit(1)).as("sz"))
          .filter(col("sz") > maxKey).select(keys.head, keys.tail: _*)
        val kept = raw.join(broadcast(hot), keys, "left_anti")
        val members = raw.join(broadcast(hot), keys)
        val star = members
          .groupBy(keyCols: _*).agg(min(col("vec_id")).as("a_id"))
          .join(members, keys)
          .filter(col("vec_id") =!= col("a_id"))
          .select(col("a_id"), col("vec_id").as("b_id"))
        (kept, Some(star))
      }
    val joinCond = keys.map(k => col(s"a.$k") === col(s"b.$k"))
      .reduce(_ && _) && col("a.vec_id") < col("b.vec_id")
    val keptPairs = buckets.as("a").join(buckets.as("b"), joinCond)
      .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"))
    hotStar.fold(keptPairs)(keptPairs.unionByName(_))
  }

  /** Exact cosine verification of an (a_id, b_id) candidate list —
    * the same score spelling and 6 dp round as [[cosinePairs]], so
    * surviving pairs are bit-identical to the quadratic ground truth
    * (the subset property both pair specs assert). */
  private def verifyPairs(p0: DataFrame, cand: DataFrame,
                          tau: Double): DataFrame =
    cand
      .join(p0.select(col("vec_id").as("a_id"), col("v").as("a_v"),
        col("n2").as("a_n2")), Seq("a_id"))
      .join(p0.select(col("vec_id").as("b_id"), col("v").as("b_v"),
        col("n2").as("b_n2")), Seq("b_id"))
      .select(col("a_id").as("vec_a"), col("b_id").as("vec_b"),
        round(cosineFromParts(dot(col("a_v"), col("b_v")),
          col("a_n2"), col("b_n2")), 6).as("cos_sim"))
      .filter(col("cos_sim") >= tau)

  /** D5: all pairs with cosine ≥ tau (rounded at 6 dp before the
    * threshold — see SURVEY §5). Self-join candidate generation is
    * quadratic by nature at the exactness baseline — size-guarded; the
    * scale path for near-dup-by-embedding is [[cosinePairsLsh]].
    * Zero-norm rows are excluded (their cosine is undefined: NULL
    * under the guarded division here, NaN — ordered LARGEST — on the
    * DuckDB side, where it would pass ≥ tau as a phantom pair; the
    * oracle SQL applies the same predicate). */
  def cosinePairs(emb: DataFrame, tau: Double): DataFrame = {
    guardQuadratic(emb, "cosinePairs", "Similarity.cosinePairsLsh bucketing")
    val p = preparedNonZero(emb)
    p.as("a").join(p.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        round(cosTo("a", "b"), 6).as("cos_sim"))
      .filter(col("cos_sim") >= tau)
  }

  /** D5's 100 TB path: near-dup pairs by embedding with LSH-bucketed
    * candidate generation — the equi-join-on-bucket shape of
    * [[graft.operators.Dedup.minhashLsh]] applied to the embedding
    * space, replacing [[cosinePairs]]'s guarded all-pairs join.
    * Candidates are pairs sharing a hyperplane bucket in ANY of the
    * `tables` tables (OR-construction recall); every candidate is then
    * EXACTLY verified (cosine ≥ tau) — so precision is 1.0 and only
    * recall is approximate, the standard trade.
    *
    * `planes` sizes the bucket key space (2^planes per table). The
    * default (0 = auto) derives it from the corpus count so mean
    * bucket occupancy stays ~256 — a FIXED planes is a scale trap: 16
    * buckets/table over >65k rows pushes EVERY bucket past any sane
    * cap by pigeonhole. `maxBucket` then star-collapses residual hot
    * buckets (near-constant embedding regions) around their min
    * member, bounding per-key fan-out at the price of recall inside
    * that bucket — unlike D2's minhash bands a hyperplane bucket can
    * mix dissimilar vectors, so the star is a fan-out bound, NOT a
    * similarity claim; the exact verification keeps precision 1.0
    * regardless. Zero-norm embeddings are excluded up front: they
    * have no direction, and their cosine is undefined — NULL here,
    * NaN (ordered LARGEST, passing ≥ tau as a phantom) on the DuckDB
    * side (the unitFrame rationale).
    *
    * `probes` turns on multi-probe candidate generation (Lv et al.
    * 2007 — the trick [[lshTopK]] already uses on its query side).
    * A pair list has no broadcastable query side, so the probes go
    * INTO THE BUCKET TABLE instead: every row registers, per table,
    * its exact bucket plus the `probes` buckets reached by flipping
    * its lowest-margin hyperplane bits — exactly the buckets a true
    * near-dup most plausibly fell into when it straddled a plane. Two
    * rows then meet when ANY of their (1+probes) bucket sets
    * intersect (stronger than one-sided query probing). The plan is
    * BIT-IDENTICAL in shape to probes=0 — same cached table, same
    * single bucket-keyed self-join, zero additional exchanges — only
    * the table's row volume grows ×(1+probes); `maxBucket` caps the
    * expanded occupancy the same way. probes=0 is plain LSH (the
    * probe array degenerates to the one exact bucket). */
  def cosinePairsLsh(emb: DataFrame, tau: Double, planes: Int = 0,
                     tables: Int = 8, maxBucket: Long = 4096L,
                     probes: Int = 0, occupancy: Long = 256L): DataFrame = {
    require(probes >= 0, s"probes=$probes must be non-negative")
    require(occupancy > 0, s"occupancy=$occupancy must be positive")
    val p0 = preparedNonZero(emb)
    val nPlanes =
      if (planes > 0) planes
      else {
        // count the RAW frame: counting p0 would force a full
        // embedding scan + per-row norms just to size the key space,
        // and zero-norm rows are noise at log2 resolution. On a bare
        // parquet table this is a footer-stats count; at 100 TB with
        // upstream filters it is a real pass — pass `planes`
        // explicitly there (the auto-size is a convenience default).
        // `occupancy` is the mean-bucket-size target: smaller buckets
        // = fewer candidates per table at the price of more plane
        // straddles — with probes ≥ 2 re-finding the straddlers, 128
        // measured 3.3× cheaper than 256 at UNCHANGED pair recall
        // (PERF.md Round 8: D5b retune)
        val n = emb.count()
        math.max(4, 64 - java.lang.Long.numberOfLeadingZeros(
          math.max(1L, n / occupancy)))
      }
    // the exploded bucket table feeds the hot-bucket aggregate, the
    // anti-join, the star branch, AND both self-join sides — cache it
    // (slot lifecycle, see cachedAs) so the corpus isn't re-hashed
    // once per branch; ids-only, so the cached footprint is narrow.
    // At probes=0 graft_hyperplane_probes returns exactly [exact
    // bucket], so the probe spelling IS plain LSH there; distinct
    // flip bits mean a vector never repeats within one (t, bucket).
    val nProbes = math.min(probes, nPlanes)
    val raw = cachedAs("cosinePairsLsh",
      p0.select(col("vec_id"),
          posexplode(array((0 until tables).map(t =>
            call_function("graft_hyperplane_probes",
              col("v"), lit(nPlanes), lit(t), lit(nProbes))): _*))
            .as(Seq("t", "pb")))
        // probe index rides along: pi = 0 is the row's EXACT bucket
        // (graft_hyperplane_probes emits it first), pi > 0 its
        // low-margin flips — the asymmetric join below needs the flag
        .select(col("vec_id"), col("t"),
          posexplode(col("pb")).as(Seq("pi", "bucket"))))
    // multi-table (and probe-overlap) candidates repeat — dedup
    // before the verification joins
    val cand =
      if (nProbes == 0)
        bucketedCandidates(raw.drop("pi"), Seq("t", "bucket"), maxBucket)
      else probedCandidates(raw, maxBucket)
    verifyPairs(p0, cand.dropDuplicates("a_id", "b_id"), tau)
  }

  /** [[bucketedCandidates]] for the multi-probe pair path, joined
    * ASYMMETRICALLY: exact-bucket rows (pi = 0) against the full
    * probe-expanded table. A straddling pair still meets — if B fell
    * one plane across, B's probe set contains A's exact bucket (the
    * Lv et al. guarantee, and the E2b query-side precedent measured
    * at recall 1.00) — but the both-flipped candidate volume the
    * symmetric all×all join paid is gone: per bucket the join output
    * is m·(1+p)m instead of ((1+p)m)²/2, a 1.5× cut at p = 2 on the
    * catalog's slowest query. Both orientations arrive (A exact ⋈ B
    * probe AND B exact ⋈ A probe), so pairs canonicalize via
    * least/greatest before the caller's dedup. Hot buckets star-
    * collapse on the EXPANDED table exactly as before (the cap bounds
    * the true join fan-out, probes included). */
  private def probedCandidates(raw: DataFrame, maxKey: Long): DataFrame = {
    val keys = Seq("t", "bucket")
    val keyCols = keys.map(col)
    val (buckets, hotStar) =
      if (maxKey == Long.MaxValue) (raw, None)
      else {
        val hot = raw.groupBy(keyCols: _*).agg(count(lit(1)).as("sz"))
          .filter(col("sz") > maxKey).select(keys.head, keys.tail: _*)
        val kept = raw.join(broadcast(hot), keys, "left_anti")
        val members = raw.join(broadcast(hot), keys)
        val star = members
          .groupBy(keyCols: _*).agg(min(col("vec_id")).as("a_id"))
          .join(members, keys)
          .filter(col("vec_id") =!= col("a_id"))
          .select(col("a_id"), col("vec_id").as("b_id"))
        (kept, Some(star))
      }
    val joinCond = keys.map(k => col(s"a.$k") === col(s"b.$k"))
      .reduce(_ && _) && col("a.vec_id") =!= col("b.vec_id")
    val keptPairs = buckets.filter(col("pi") === 0).as("a")
      .join(buckets.as("b"), joinCond)
      .select(least(col("a.vec_id"), col("b.vec_id")).as("a_id"),
        greatest(col("a.vec_id"), col("b.vec_id")).as("b_id"))
    hotStar.fold(keptPairs)(keptPairs.unionByName(_))
  }

  /** D10: SemDeDup (Abbas et al. 2023, arXiv:2303.09540) — semantic
    * deduplication: partition the embedding space with the trained
    * coarse quantizer, then verify exact cosine ONLY within each
    * cluster. The paper's observation is that semantic duplicates of
    * a document land in the same k-means cluster, so the all-pairs
    * quadratic collapses from corpus² to Σ(listᵢ²) — size nlist so
    * lists stay bounded and that is ~linear in the corpus. The plan:
    * sampled driver-side training ([[trainCentroidsPrepared]]),
    * ZERO-shuffle assignment (the [[graft.functions.VecExprs.NearestCentroids]]
    * scan), and one candidate equi-join whose shuffle key is the
    * list id — work distributes by cluster, never all-pairs.
    *
    * `maxList` star-collapses a runaway list around its min member
    * (the [[cosinePairsLsh]]/minhashLsh rationale: per-list output
    * O(size) instead of size², connectivity survives for D8's
    * transitive clustering); star candidates are cosine-verified like
    * any other, so precision stays 1.0.
    *
    * Output shape and the 6 dp round match [[cosinePairs]] exactly:
    * reported pairs are a SUBSET of D5's ground truth (spec-asserted);
    * recall is what clustering trades for scale. `assign` is the
    * recall knob: each vector joins its `assign` nearest lists (the
    * IVF multi-probe idea on the BUILD side), so a pair straddling a
    * cluster boundary still meets in the runner-up list — candidate
    * volume grows ×assign, recall is monotone in it, and assign=1 is
    * the paper's exact shape (where no distinct is needed: one list
    * per vector means a pair can only be generated once).
    *
    * `nlist = 0` (the default) auto-sizes from the corpus count so
    * mean list occupancy stays ~4096 — a FIXED nlist is the same
    * scale trap cosinePairsLsh's planes doc calls out: 16 lists over
    * 10M rows push EVERY list past `maxList` by pigeonhole, and the
    * operator would silently degrade to hub-spoke stars (recall
    * collapse that looks healthy — precision stays 1.0). The count is
    * footer-cheap on a bare table; pass `nlist` explicitly when the
    * input carries filters at scale. */
  def semanticDedup(emb: DataFrame, tau: Double, nlist: Int = 0,
                    trainIters: Int = 5, maxList: Long = 1L << 16,
                    assign: Int = 1): DataFrame = {
    require(assign >= 1, s"assign=$assign must be at least 1")
    val p0 = preparedNonZero(emb)
    val raw = trainedListAssignment(emb, p0, nlist, trainIters, assign,
      "semanticDedup")
    val cand0 = bucketedCandidates(raw, Seq("c_id"), maxList)
    // multi-assignment can meet the same pair in up to `assign`
    // shared lists; single-assignment provably cannot duplicate
    val cand = if (assign <= 1) cand0 else cand0.dropDuplicates("a_id", "b_id")
    verifyPairs(p0, cand, tau)
  }

  /** Trained-coarse-quantizer list assignment shared by D10 and E10b:
    * auto-sized list count (mean occupancy ~`targetList`),
    * driver-trained centroids, and a ZERO-shuffle multi-assignment
    * scan (each vector lands in its `assign` nearest lists). Returns
    * the cached ids-only (vec_id, c_id) table: narrow cache
    * footprint, feeds the hot-list aggregate, the star branch, and
    * both self-join sides (slot lifecycle, see cachedAs).
    *
    * `targetList` is the SELF-JOIN cost dial: candidate pairs are
    * ~n·targetList·assign²/2 — linear in n at any fixed target, so
    * the target trades candidate volume (cost) for within-list reach
    * (recall). D10 keeps 4096 (pair-finding at tau must reach every
    * near-dup, and its sf1 posture is priced on that); the kNN-graph
    * build uses 512 (each vector only needs a top-k-sized candidate
    * pool, and ×10-corpus wall measured ×43.7 → ~linear after the
    * change — PERF.md round 9e). */
  private def trainedListAssignment(emb: DataFrame, p0: DataFrame, nlist: Int,
                                    trainIters: Int, assign: Int,
                                    cacheKey: String,
                                    targetList: Long = 4096L): DataFrame = {
    val nl =
      if (nlist > 0) nlist
      else math.max(4, ((emb.count() - 1L) / targetList).toInt + 1)
    val cents0 = collectCentroids(p0, nl)
    val cents = if (trainIters > 0)
      trainCentroidsPrepared(p0, cents0, trainIters, 1e-4) else cents0
    val assigned =
      if (cents.isEmpty) // empty input: no lists (ivfAssignPrepared rationale)
        p0.filter(lit(false)).select(col("vec_id"), lit(0).as("c_id"))
      else if (assign <= 1)
        ivfAssignPrepared(p0, cents).select(col("vec_id"), col("c_id"))
      else
        graft.functions.VecExprs.withNearestCentroids(p0.sparkSession, cents,
          assign) { fn =>
          p0.select(col("vec_id"), explode(call_function(fn, col("v"))).as("c_id"))
        }
    cachedAs(cacheKey, assigned)
  }

  /** E10: the exact k-NN GRAPH — every non-zero vector's top-k cosine
    * neighbors, the all-queries generalization of [[bruteForceTopK]]
    * and the ground truth for graph-based corpus curation (SemDeDup's
    * cluster step, NN-Descent-style graph builds — Dong et al. 2011,
    * WWW '11). O(n²) by nature, so it carries the same explicit guard
    * and declared-baseline contract as [[cosinePairs]]: the deploy
    * path at scale is [[knnGraphAnn]]. Deterministic rank:
    * (cos desc, neighbor id) — identical to E1, so the two oracles
    * share their spelling. */
  def knnGraph(emb: DataFrame, k: Int): DataFrame = {
    guardQuadratic(emb, "knnGraph", "Similarity.knnGraphAnn list bucketing")
    val p = preparedNonZero(emb)
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_sim").desc, col("n_id"))
    p.as("a").join(p.as("b"), col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("q_id"), col("b.vec_id").as("n_id"),
        round(cosTo("a", "b"), 6).as("cos_sim"))
      .withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= k)
  }

  /** F28: MMR — maximal-marginal-relevance diversified retrieval
    * (Carbonell & Goldstein, SIGIR '98): greedily select `kOut` of the
    * query's `kCand` nearest candidates maximizing
    * λ·rel(d) − (1−λ)·max_{s∈S} sim(d, s) — the standard rerank that
    * stops a result page from being `kOut` copies of the same answer
    * (exactly the failure mode a near-dup-heavy corpus produces).
    *
    * Split of labor at scale: relevance (the corpus-wide top-kCand
    * scan) and the candidate×candidate sim matrix are DISTRIBUTED —
    * the greedy argmax loop runs on the driver over the collected
    * O(nQ·kCand²) scale-6 integer frame, which is bounded METADATA by
    * the same argument as BM25's index stats or the trained centroids
    * (kCand is a page-size knob, guarded below — never corpus-sized).
    * An in-engine spelling would be `kOut` chained jobs over the same
    * tiny frame: pure scheduling latency for zero distribution win.
    *
    * Exactness: λ = lamN/lamD rational; the argmax compares
    * `lamN·rel_u − (lamD−lamN)·maxSim_u` — EXACT 64-bit integers on
    * scale-6 cosines (both engines round the 6-dp cosine once, then
    * all arithmetic is integral; ties break on doc id), so the oracle
    * (the same greedy unrolled into `kOut` chained CTEs) hash-matches
    * bit-for-bit. The reported score divides by lamD·1e6 as the ONE
    * double op at the end. */
  def mmrTopK(emb: DataFrame, isQuery: Column, kCand: Int = 20,
              kOut: Int = 10, lamN: Long = 1, lamD: Long = 2): DataFrame = {
    require(kCand > 0 && kCand <= 1024,
      s"kCand=$kCand out of range: the greedy frame is O(kCand²) driver rows")
    require(kOut > 0 && kOut <= kCand, s"kOut=$kOut must be in [1, $kCand]")
    require(lamD > 0 && lamN >= 0 && lamN <= lamD,
      s"λ=$lamN/$lamD must be a rational in [0, 1]")
    val spark = emb.sparkSession
    // the driver frame is nQ·kCand² longs — mmrGreedy's EXACT Σ c_q²
    // ceiling (computed from the collected candidate frame itself)
    // bounds it; no pre-guard corpus scan here (r10 ADVICE: the
    // isQuery count was a redundant aggregate re-checking what
    // mmrGreedy already checks exactly)
    val p = preparedNonZero(emb)
    val cand = bruteForceTopK(emb, isQuery, kCand)
      .select(col("q_id"), col("n_id"),
        round(col("cos_sim") * 1e6, 0).cast("long").as("rel_u"))
    mmrGreedy(spark, p, cand, kOut, lamN, lamD)
      .select(col("q_id"), col("doc_id"), col("mmr_score"), col("rank"))
  }

  /** The MMR greedy core over an EXPLICIT candidate frame
    * `(q_id, n_id, rel_u)` — rel_u any scale-6 integer relevance
    * ([[mmrTopK]] passes the scale-6 cosine). Same split of labor,
    * exactness, and output contract as [[mmrTopK]]'s scaladoc: the
    * candidate frame is collected through a hard limit (so the collect
    * itself is bounded, and the candidate lineage executes exactly
    * once), then [[mmrPicks]] runs the greedy. */
  private[graft] def mmrGreedy(spark: org.apache.spark.sql.SparkSession,
                               p: DataFrame, cand: DataFrame, kOut: Int,
                               lamN: Long, lamD: Long): DataFrame = {
    import spark.implicits._
    val relCeiling = 4 << 20 // ~4M (q, n, rel) rows ≈ 100 MB, max
    val relRows = cand.select(col("q_id"), col("n_id"), col("rel_u"))
      .limit(relCeiling + 1).collect()
    require(relRows.length <= relCeiling,
      s"mmrGreedy would collect more than $relCeiling candidate rows " +
        "to the driver; page the query set or shrink the candidate pages")
    // rel_u rides along so a caller can recover its relevance without
    // a join-back; mmrTopK drops it
    mmrPicks(p, relRows.toSeq.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))),
        kOut, lamN, lamD)
      .toDF("q_id", "doc_id", "rel_u", "mmr_score", "rank")
      .repartition(1)
  }

  /** The MMR greedy over candidate rows `(q_id, n_id, rel_u)` already
    * on the driver (the composed [[graft.operators.Retrieval]] serve
    * passes its driver-fused page with the RRF s6 score as rel_u, the
    * standard MMR-over-fused-page composition): `(q_id, doc_id, rel_u,
    * mmr_score, rank)` per pick, each query's picks in rank order. The
    * candidate×candidate sim matrix comes from the prepared vector
    * frame `p` ([[mmrSims]]; its size is guarded below on the exact
    * Σ per-query candidates²), and the greedy argmax compares exact
    * BIGINTs with doc-id tie-break. */
  private[graft] def mmrPicks(p: DataFrame, rels: Seq[(Long, Long, Long)],
                              kOut: Int, lamN: Long, lamD: Long)
      : Seq[(Long, Long, Long, Double, Long)] = {
    require(kOut > 0, s"kOut=$kOut must be positive")
    require(lamD > 0 && lamN >= 0 && lamN <= lamD,
      s"λ=$lamN/$lamD must be a rational in [0, 1]")
    val simCeiling = 64L << 20 // ~64M sim longs ≈ 512 MB of rows, max
    val byQ = rels.groupBy(_._1)
    val simRows = byQ.valuesIterator
      .map(rows => rows.length.toLong * rows.length).sum
    require(simRows <= simCeiling,
      s"mmrGreedy would collect $simRows sim rows to the driver " +
        s"(ceiling $simCeiling); page the query set or shrink " +
        "the candidate pages")
    val simMap = mmrSims(p, rels)
    // a candidate with no (non-zero) vector in `p` has no sim rows —
    // possible for lexical-only docs in the composed serve. A missing
    // pair is SKIPPED in the max (unknown similarity contributes no
    // information, not a 0); only when a candidate has no known pair
    // at all does the penalty default to 0 — exactly the serveSql
    // mirror's max-over-existing-rows + coalesce(…, 0) spelling
    // (r10 ADVICE: the old inject-0-per-missing-pair spelling floored
    // the max at 0 whenever ANY picked doc lacked a vector, which
    // diverges from the mirror when all known sims are negative).
    // mmrTopK's candidates always have vectors (they come from
    // bruteForceTopK), so there the distinction never fires.
    def sim(q: Long, a: Long, b: Long): Option[Long] =
      if (a < b) simMap.get((q, a, b)) else simMap.get((q, b, a))
    byQ.toSeq.flatMap { case (q, rows) =>
      val relOf = rows.map(r => r._2 -> r._3).toMap
      var remaining = rows.map(_._2).sorted.toVector
      var picked = Vector.empty[Long]
      val acc = Vector.newBuilder[(Long, Long, Long, Double, Long)]
      var step = 1L
      while (picked.size < kOut && remaining.nonEmpty) {
        // argmax of the exact integer objective, doc-id tie-break
        val best = remaining.map { d =>
          val known = picked.flatMap(s => sim(q, d, s))
          val maxSim = if (known.isEmpty) 0L else known.max
          (d, lamN * relOf(d) - (lamD - lamN) * maxSim)
        }.maxBy { case (d, num) => (num, -d) }
        acc += ((q, best._1, relOf(best._1),
          best._2.toDouble / (lamD * 1e6), step))
        picked :+= best._1
        remaining = remaining.filterNot(_ == best._1)
        step += 1
      }
      acc.result()
    }
  }

  /** A candidate pair's scale-6 cosine in micro-units over
    * `(a_v, a_n2, b_v, b_n2)` — the one sim_u spelling of the MMR
    * matrix, on the driver and distributed. */
  private def simU: Column =
    round(round(cosineFromParts(dot(col("a_v"), col("b_v")),
      col("a_n2"), col("b_n2")), 6) * 1e6, 0).cast("long")

  /** The MMR candidate×candidate matrix `(q_id, a_id, b_id) → sim_u`,
    * same-query pairs with a_id < b_id whose two candidates both have
    * a row in `p`.
    *
    * Up to [[idFilterCeiling]] distinct candidates (a serve page holds
    * ≤ kLex + kSem): ONE read of their vectors, `vec_id IN (…)`
    * pushed down so an index-backed `p` scans only those rows, then
    * every pair's sim_u on the driver — [[simU]] analysed once over
    * the pair's column types and evaluated interpreted (the
    * [[graft.functions.VecExprs.nearestCentroidsLocal]] posture), so
    * each value is the distributed join's bit for bit. No row carries
    * two vectors and no join is planned. Past the ceiling the literal
    * list would cost more than it prunes: the pair list is built from
    * the collected ids (a local frame), and the vector joins and the
    * codegen dot run distributed. */
  private[graft] def mmrSims(p: DataFrame, rels: Seq[(Long, Long, Long)])
      : Map[(Long, Long, Long), Long] = {
    val spark = p.sparkSession
    import spark.implicits._
    val candIds = rels.map(_._2).distinct
    if (candIds.length > idFilterCeiling) {
      val ids = rels.map(r => (r._1, r._2)).toDF("q_id", "n_id")
      ids.as("x").join(ids.as("y"),
          col("x.q_id") === col("y.q_id") && col("x.n_id") < col("y.n_id"))
        .select(col("x.q_id").as("q_id"), col("x.n_id").as("a_id"),
          col("y.n_id").as("b_id"))
        .join(p.select(col("vec_id").as("a_id"), col("v").as("a_v"),
          col("n2").as("a_n2")), Seq("a_id"))
        .join(p.select(col("vec_id").as("b_id"), col("v").as("b_v"),
          col("n2").as("b_n2")), Seq("b_id"))
        .select(col("q_id"), col("a_id"), col("b_id"), simU.as("sim_u"))
        .collect()
        .map(r => ((r.getLong(0), r.getLong(1), r.getLong(2)), r.getLong(3)))
        .toMap
    } else {
      import org.apache.spark.sql.catalyst.expressions.{Alias, BindReferences}
      import org.apache.spark.sql.catalyst.plans.logical.Project
      import org.apache.spark.sql.types.{StructField, StructType}
      val pc = p.filter(col("vec_id").isin(candIds: _*))
        .select(col("vec_id"), col("v"), col("n2"))
      val vecs = pc.collect().map(r => r.getLong(0) ->
          (org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
            .fromPrimitiveArray(r.getSeq[Double](1).toArray), r.getDouble(2)))
        .toMap
      val (vt, nt) = (pc.schema("v").dataType, pc.schema("n2").dataType)
      val pairs = spark.createDataFrame(java.util.Collections.emptyList[Row](),
        StructType(Seq(StructField("a_v", vt), StructField("a_n2", nt),
          StructField("b_v", vt), StructField("b_n2", nt))))
      val simExpr = pairs.select(simU).queryExecution.analyzed match {
        case Project(Seq(Alias(e, _)), child) =>
          BindReferences.bindReference(e, child.output)
        case other => throw new IllegalStateException(
          s"sim_u did not analyse to one projection: $other")
      }
      (for {
        (q, rows) <- rels.groupBy(_._1).iterator
        ids = rows.map(_._2).distinct.filter(vecs.contains).sorted
        i <- ids.indices.iterator
        j <- (i + 1 until ids.length).iterator
        (av, an2) = vecs(ids(i))
        (bv, bn2) = vecs(ids(j))
        // a null cosine (a zero-norm row in `p`) is an unknown pair
        s <- Option(simExpr.eval(InternalRow(av, an2, bv, bn2)))
      } yield (q, ids(i), ids(j)) -> s.asInstanceOf[Long]).toMap
    }
  }

  /** Most distinct candidate ids [[mmrSims]] pushes into its vector
    * read as an `IN` list (a serve page holds ≤ kLex + kSem). */
  private val idFilterCeiling = 4096

  /** [[prepared]] exposed for [[graft.operators.Retrieval]]'s MMR
    * rerank and the mmrGreedy specs (zero-norm rows excluded — the
    * cosine doctrine). */
  private[graft] def preparedNonZeroFrame(emb: DataFrame): DataFrame =
    preparedNonZero(emb)

  /** E10b: the k-NN graph at corpus scale — candidates only within
    * shared trained k-means lists (the SemDeDup partition applied to
    * GRAPH construction instead of tau-pairs), each undirected
    * candidate scored exactly ONCE, then mirrored into directed edges
    * and ranked per source vector. `assign` is the recall knob
    * (build-side multi-probe: a true neighbor straddling a list
    * boundary still meets in the runner-up list); precision of the
    * reported cosines is exact — only graph COVERAGE is approximate,
    * measured against [[knnGraph]] by the verify recall gate.
    *
    * At 100 TB: Σ(listᵢ²) replaces n² — auto-sized lists hold mean
    * occupancy ~`targetList`, and for a GRAPH build that target is
    * 512, not D10's 4096: a build's cost is n·target·assign² scored
    * pairs (linear in n at fixed target), and each vector only needs
    * a candidate pool a couple of orders above k, not a tau-reach
    * pair sweep (the ×10-corpus drive measured the 4096 target at
    * wall ×43.7; 512 brings the build to ~linear at held recall —
    * PERF.md round 9e). The one shuffle is the candidate equi-join
    * keyed by list id, `maxList` star-collapses runaway lists, and
    * the final rank is a window over per-vector candidate sets
    * (≤ assign·occupancy rows each), never the corpus. */
  def knnGraphAnn(emb: DataFrame, k: Int, nlist: Int = 0,
                  trainIters: Int = 5, assign: Int = 2,
                  maxList: Long = 1L << 16,
                  targetList: Long = 512L,
                  refine: Int = 1): DataFrame = {
    require(assign >= 1, s"assign=$assign must be at least 1")
    require(refine >= 0, s"refine=$refine must be non-negative")
    val p0 = preparedNonZero(emb)
    val raw = trainedListAssignment(emb, p0, nlist, trainIters, assign,
      "knnGraphAnn", targetList)
    val cand0 = bucketedCandidates(raw, Seq("c_id"), maxList)
    val cand = if (assign <= 1) cand0 else cand0.dropDuplicates("a_id", "b_id")
    val scored = cand
      .join(p0.select(col("vec_id").as("a_id"), col("v").as("a_v"),
        col("n2").as("a_n2")), Seq("a_id"))
      .join(p0.select(col("vec_id").as("b_id"), col("v").as("b_v"),
        col("n2").as("b_n2")), Seq("b_id"))
      .select(col("a_id"), col("b_id"),
        round(cosineFromParts(dot(col("a_v"), col("b_v")),
          col("a_n2"), col("b_n2")), 6).as("cos_sim"))
    val directed = scored
      .select(col("a_id").as("q_id"), col("b_id").as("n_id"), col("cos_sim"))
      .unionByName(scored
        .select(col("b_id").as("q_id"), col("a_id").as("n_id"), col("cos_sim")))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_sim").desc, col("n_id"))
    val g0 = directed
      .withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= k)
    val refined = (1 to refine).foldLeft(g0) { (g, i) =>
      nnDescentRound(p0, cachedAs(s"knnGraphAnn_g$i", g), k)
    }
    // cache the FINAL graph too (r16): every downstream composition
    // reads it more than once in one plan — knnComponents' mutual
    // self-join (2×), writeGraphIndex's undirect union (2×),
    // graphTopK's adjacency union (2×) — and without this cache each
    // read re-ran the refine round's candidate joins (only the
    // round's INPUT was cached). One materialization, n·k rows.
    cachedAs("knnGraphAnn_out", refined)
  }

  /** One NN-DESCENT refinement round (Dong et al., WWW '11 — the
    * paper's local join over current neighborhoods): candidates are
    * each vector's neighbors-of-neighbors through the UNDIRECTED
    * current graph (forward + reverse edges, the paper's
    * B(v) ∪ R(v)), exact-rescored and merged with the current edges,
    * top-k kept. Why it lifts recall: a true neighbor missed by the
    * list partition is usually a neighbor OF a found neighbor —
    * "the neighbor of my neighbor is likely my neighbor" is the
    * paper's convergence engine. Cost: ≤ n·(2k)² candidate rows per
    * round (k² through a 2k-wide undirected neighborhood), one
    * equi-join shuffle keyed by the middle vector id, exact scoring
    * only on NEW pairs (the anti-join) — per-vector work stays O(k²),
    * never corpus-shaped, at any n. The input graph is cached by the
    * caller: this plan reads it four times (two neighborhood sides,
    * the anti-join, the merge union). */
  private def nnDescentRound(p: DataFrame, g: DataFrame, k: Int): DataFrame = {
    val und = g.select(col("q_id"), col("n_id"))
      .unionByName(g.select(col("n_id").as("q_id"), col("q_id").as("n_id")))
      .distinct()
    val cand = und.as("x").join(und.as("y"),
        col("x.n_id") === col("y.q_id") && col("x.q_id") =!= col("y.n_id"))
      .select(col("x.q_id").as("q_id"), col("y.n_id").as("n_id"))
      .distinct()
      .join(g.select(col("q_id"), col("n_id")), Seq("q_id", "n_id"),
        "left_anti")
    val scored = cand
      .join(p.select(col("vec_id").as("q_id"), col("v").as("q_v"),
        col("n2").as("q_n2")), Seq("q_id"))
      .join(p.select(col("vec_id").as("n_id"), col("v").as("n_v"),
        col("n2").as("n_n2")), Seq("n_id"))
      .select(col("q_id"), col("n_id"),
        round(cosineFromParts(dot(col("q_v"), col("n_v")),
          col("q_n2"), col("n_n2")), 6).as("cos_sim"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_sim").desc, col("n_id"))
    g.select(col("q_id"), col("n_id"), col("cos_sim"))
      .unionByName(scored)
      .withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= k)
  }

  /** E11: MUTUAL-kNN components — semantic corpus clusters from any
    * k-NN graph: keep only RECIPROCATED edges (a lists b AND b lists
    * a — the standard mutual-kNN sparsification that drops hub
    * one-way edges; Brito et al. 1997's mutual-neighborhood graph),
    * then label connected components with the D8 min-label machinery
    * ([[Dedup.clusters]] — checkpoint-pinned doubling rounds, salted
    * min for mega-hubs). Output one row per VECTOR (vec_id,
    * cluster_id = min member id, cluster_size); vectors with no
    * mutual edge — including zero-norm vectors, which never enter the
    * graph — are singletons by definition. The graph argument decides
    * the cost contract: [[knnGraph]] for the oracled exact baseline,
    * [[knnGraphAnn]] for the trained-list deploy path (both verify
    * flavors ship; label agreement between them is the recall gate).
    * Scale shape: the mutual join is an equi-self-join of an O(n·k)
    * edge list on (q_id, n_id) — never quadratic regardless of which
    * builder fed it. */
  def knnComponents(emb: DataFrame, graph: DataFrame): DataFrame = {
    // NOT cached here (r16, measured): the deploy builder
    // (knnGraphAnn) already arrives as one cached frame, and caching
    // the exact builder's edge list pins the cached subplan's
    // pre-AQE partitioning (spark keeps a cached plan's output
    // partitioning), exploding the downstream task count (84 → 515
    // tasks measured at sf0.1) for a recompute that exchange reuse
    // mostly deduplicates anyway.
    val g = graph.select(col("q_id"), col("n_id"))
    val mutual = g.as("a").join(g.as("b"),
        col("a.q_id") === col("b.n_id") && col("a.n_id") === col("b.q_id") &&
          col("a.q_id") < col("a.n_id"))
      .select(col("a.q_id").as("doc_a"), col("a.n_id").as("doc_b"))
    Dedup.clusters(emb.select(col("vec_id").as("doc_id")), mutual)
      .select(col("doc_id").as("vec_id"), col("cluster_id"),
        col("cluster_size"))
  }

  /** E13: PageRank CENTRALITY over a k-NN graph — graph-based
    * representativeness weighting for corpus curation (Page et al.
    * 1999; centrality/diversity subset selection over similarity
    * graphs is the standard graph-based data-pruning move — e.g.
    * facility-location / prototype selection families): documents
    * whose neighborhoods recursively point at them are corpus
    * "prototypes" (up-weight for coverage-preserving sampling),
    * low-rank periphery is near-singleton noise. The graph argument
    * decides the cost contract exactly as [[knnComponents]]:
    * [[knnGraph]] for the oracled exactness baseline, [[knnGraphAnn]]
    * for the trained-list deploy path.
    *
    * Semantics (the exact integral formulation both engines share):
    * every `emb` row is a node (zero-norm vectors too — they hold
    * base rank as dangling singletons); ranks are per-node scale-6
    * longs starting at 1e6 ("mass 1.0 per node", the un-normalized
    * per-node formulation); `iters` synchronous rounds of
    *
    *   r'(v) = base + (dampN · Σ_{u→v} (r(u) div deg(u))) div dampD
    *
    * with damping dampN/dampD (default 85/100) and
    * base = ((dampD−dampN)·1e6) div dampD. Floor division on
    * non-negative longs agrees between Spark `div` and DuckDB `//`,
    * so ten rounds stay bit-identical cross-engine — the mirror is
    * the same recurrence unrolled into `iters` chained CTEs (the MMR
    * oracle pattern). Dangling mass is NOT redistributed (the
    * per-node formulation's documented convention: dangling nodes
    * leak their damped mass, they never crash the sum) — ranks are
    * relative centrality weights, not a probability simplex.
    *
    * Overflow headroom: Σ r ≤ n·1e6 and a single node's inflow is
    * < Σ r, so pr6 < n·1e6 — at n = 5·10¹⁰ rows (the 100 TB corpus)
    * that is 5·10¹⁶, and the dampN multiply tops out at 85× that:
    * three orders of magnitude inside Long. Scale shape per round:
    * one equi-join of the O(n·k) out-edge list (degree denormalized
    * onto the edge once, up front) against the n-row rank frame on
    * the source id, one partial-agg groupBy on the destination, one
    * left join back to the node frame — no all-pairs anything, and
    * the loop's lineage is cut every round ([[Dedup.clusters]]'
    * checkpoint-pinned discipline, blocks freed as rounds die). */
  def knnPagerank(emb: DataFrame, graph: DataFrame, iters: Int = 10,
                  dampN: Long = 85, dampD: Long = 100): DataFrame =
    knnPagerank6(emb, graph, iters, dampN, dampD)
      .select(col("vec_id"),
        (col("pr6").cast("double") / lit(1e6)).as("pagerank"))

  /** [[knnPagerank]] exposing the EXACT scale-6 rank `(vec_id, pr6)`
    * — the frame integer consumers ([[Corpus.centralitySample]]'s
    * wide-arithmetic coin compare) must read: the double projection
    * above holds pr6 exactly only below 2⁵³, and on a
    * mass-concentrating graph at corpus scale pr6 can exceed that —
    * a consumer that round-trips through the double would disagree
    * with an exact-integer mirror by an ulp exactly there. */
  def knnPagerank6(emb: DataFrame, graph: DataFrame, iters: Int = 10,
                   dampN: Long = 85, dampD: Long = 100): DataFrame = {
    require(iters >= 1 && iters <= 50,
      s"iters=$iters out of [1, 50]: each round is a full shuffle pass")
    require(dampD > 0 && dampN >= 0 && dampN <= dampD,
      s"damping=$dampN/$dampD must be a rational in [0, 1]")
    val base = (dampD - dampN) * 1000000L / dampD
    val nodes = emb.select(col("vec_id"))
    // degree rides on the edge row: deg(u) is a property of the
    // SOURCE, so one window pass denormalizes it and no round needs a
    // second degree join. The recurrence only ever READS source
    // ranks (every contributor u→v is a q_id), so the loop iterates
    // over the SOURCE frame alone and the full node universe joins in
    // exactly once at the end — round iters reads r_{iters−1}, which
    // is source-complete by induction. LAZY checkpoints land every
    // third round (lineage stays shallow for Catalyst; blocks
    // materialize inside the final round's one job — r17, the M2
    // fusion); pinned generations are freed together once the final
    // output is materialized.
    val (edges, edgePins) = checkpointPinned(
      graph.select(col("q_id"), col("n_id"))
        .withColumn("deg", count(lit(1)).over(Window.partitionBy(col("q_id")))))
    // pinned: referenced as the target of every intermediate round —
    // left as lineage, each materialization would re-run the distinct
    // exchange over the O(n·k) edge list
    val (src, srcPins) = checkpointPinned(
      edges.select(col("q_id").as("vec_id")).distinct())
    // inflow edges that feed LATER rounds: destination is a source
    val (e2, e2Pins) = checkpointPinned(
      edges.join(src.withColumnRenamed("vec_id", "dst"),
          col("n_id") === col("dst"))
        .select(col("q_id"), col("n_id"), col("deg")))
    def round(edgeFrame: DataFrame, targets: DataFrame,
              ranks: DataFrame): DataFrame = {
      val inflow = edgeFrame
        .join(ranks.withColumnRenamed("vec_id", "__src"),
          col("q_id") === col("__src"))
        .select(col("n_id"), expr("pr6 div deg").as("c"))
        .groupBy(col("n_id")).agg(sum(col("c")).as("acc"))
      targets
        .join(inflow, targets("vec_id") === inflow("n_id"), "left")
        .select(targets("vec_id"),
          (lit(base) +
            expr(s"($dampN * coalesce(acc, 0L)) div $dampD")).as("pr6"))
    }
    var ranks = src.withColumn("pr6", lit(1000000L))
    var rankPins = Seq.empty[org.apache.spark.rdd.RDD[_]]
    try {
      for (i <- 1 until iters) {
        val next = round(e2, src, ranks)
        if (i % 3 == 0) {
          // LAZY pin (r17 — the Dedup.clusters/Bpe M2 fusion applied
          // to the rank loop, r16 verdict #6): the pin still truncates
          // the LOGICAL plan every third round (Catalyst never plans
          // more than 3 rounds deep), but block materialization defers
          // to the final full-universe round's ONE job, which persists
          // the marked generations as it computes through them —
          // the per-pin result-pass jobs disappear, executor work is
          // identical. Superseded pins are therefore freed in the
          // finally, not per-generation (an unpersist before the final
          // job runs would strip blocks its lineage still reads); at
          // most ⌊iters/3⌋ bounded (vec_id, pr6) generations stay
          // pinned — rank frames, far under the edge pin this loop
          // already holds.
          val (pinnedNext, pins) = checkpointPinned(next, eager = false)
          ranks = pinnedNext; rankPins ++= pins
        } else ranks = next
      }
      // the one full-universe round: r_iters for EVERY node (zero-norm
      // dangling rows included), materialized before the edge pins die
      val (finalOut, _) = checkpointPinned(round(edges, nodes, ranks))
      finalOut
    } finally {
      edgePins.foreach(_.unpersist(blocking = false))
      srcPins.foreach(_.unpersist(blocking = false))
      e2Pins.foreach(_.unpersist(blocking = false))
      rankPins.foreach(_.unpersist(blocking = false))
    }
  }

  /** E14: GRAPH-based ANN serve — batch-query BEAM SEARCH over a
    * k-NN graph (the HNSW/NSG serving family — Malkov & Yashunin
    * 2016, Fu et al. VLDB 2019 — flattened to one layer and batched
    * the Spark way): every query walks the graph simultaneously, so
    * each hop is ONE distributed job — the bounded frontier joins the
    * O(n·k) adjacency list and the discovered candidates rescore
    * against the broadcast query vectors (exact 6-dp cosine, the E1
    * spelling) — never a per-query driver loop over the corpus, never
    * an all-pairs join. The graph argument decides the build contract
    * exactly as [[knnComponents]] / [[knnPagerank]] ([[knnGraphAnn]]
    * is the deploy builder); the adjacency is used UNDIRECTED
    * (reverse edges double the escape routes from a bad entry — the
    * NSG trick) and the entry point is the deterministic min node id,
    * seeded with its neighborhood so an entry-node query can still
    * expand past self-exclusion.
    *
    * Split of labor (the [[mmrGreedy]] posture): the beam STATE —
    * per-query best-so-far sets — is bounded page metadata
    * (≤ nQ·hops·beam·deg rows, ceiling-guarded), so it lives on the
    * driver and each hop's frontier re-enters as a local relation;
    * the corpus-sized work (adjacency expansion, vector rescoring)
    * is one distributed job per hop whose collect is the hop's
    * candidate page. An in-engine beam state would be hops×3 extra
    * exchanges of a few thousand rows — pure scheduling latency for
    * zero distribution win (measured 2× the whole serve). Already-
    * scored (q, node) pairs are skipped driver-side, so a vector
    * rescores at most once per query.
    *
    * Fixed `hops` rounds — monotone: the seen set only grows, so the
    * final top-k can only improve with hops. Output is E1-shaped
    * `(q_id, n_id, cos_sim, rank)`, self excluded, ranks dense 1..k
    * (ties on n_id), deterministic end to end — re-runs are
    * bit-identical. Recall gated against [[bruteForceTopK]] like
    * every approximate serve. At index scale the serve runs from the
    * LANDED graph artifacts instead — [[graphTopKFromIndex]], whose
    * per-hop vector read is the pb-pruned adjacency scan itself
    * (O(frontier·deg) rows), never a corpus-table probe.
    *
    * `stateCeiling` bounds the CUMULATIVE beam state (the seen set
    * only grows, and it is also what the known-pair anti-join
    * broadcasts each hop); each hop's collect is capped at the
    * REMAINING budget, so the driver never holds ceiling + page rows
    * before the guard fires (r13 ADVICE). The default covers the
    * documented bounded-page posture with slack — a max page at max
    * beam over a dense graph (4096 · 32 · deg · hops) needs an
    * explicit larger ceiling, which is the caller declaring that
    * driver budget. (DELIBERATE r14 tightening of r13's fixed
    * 16M-row guard, per the r13 ADVICE: a workload between 4M and
    * 16M cumulative pairs that ran before now needs the explicit
    * parameter — the broadcast those rows become each hop is the
    * cost being surfaced.) */
  def graphTopK(emb: DataFrame, graph: DataFrame, isQuery: Column,
                k: Int, beam: Int = 32, hops: Int = 6,
                stateCeiling: Long = 4L << 20): DataFrame = {
    requireBeamConfig(k, beam, hops, stateCeiling)
    val spark = emb.sparkSession
    import spark.implicits._
    val p = cachedAs("graphTopK_p", preparedNonZero(emb))
    val q = p.filter(isQuery)
      .select(col("vec_id").as("q_id"), col("v").as("q_v"),
        col("n2").as("q_n2"))
    val (adj, adjPins) = checkpointPinned(
      graph.select(col("q_id").as("src"), col("n_id").as("dst"))
        .union(graph.select(col("n_id").as("src"), col("q_id").as("dst")))
        .distinct())
    try {
      // one distributed job: expand a LOCAL (q_id, node) frontier
      // through the adjacency, score every newly discovered candidate
      // against its query vector, collect the bounded page. seedOnly
      // skips the expansion (the hop-0 scoring of the literal seed).
      def expandScored(frontier: Seq[(Long, Long)], seedOnly: Boolean,
                       known: Seq[(Long, Long)],
                       limitRows: Int): Array[(Long, Long, Double)] = {
        if (frontier.isEmpty) return Array.empty
        val f = frontier.toDF("q_id", "node")
        val expanded =
          if (seedOnly) f
          else broadcast(f).join(adj, f("node") === adj("src"))
            .select(col("q_id"), col("dst").as("node")).distinct()
        // (q, node) pairs already scored leave BEFORE the vector read
        // (broadcast anti-join against the local known-pair relation —
        // no exchange): a rescoring would reproduce the same cosine,
        // so each vector is read at most once per query
        val cand =
          if (known.isEmpty) expanded
          else expanded.join(broadcast(known.toDF("q_id", "node")),
            Seq("q_id", "node"), "left_anti")
        cand.join(broadcast(q), Seq("q_id"))
          .join(p, cand("node") === p("vec_id"))
          .filter(col("node") =!= col("q_id"))
          .select(col("q_id"), col("node").as("n_id"),
            round(cosineFromParts(dot(col("q_v"), col("v")),
              col("q_n2"), col("n2")), 6).as("cos_sim"))
          .limit(limitRows)
          .as[(Long, Long, Double)].collect()
      }
      // bounded driver collects: the query page and the entry seed
      val qIds = q.select(col("q_id")).limit(4097).as[Long].collect()
      require(qIds.length <= 4096,
        s"graphTopK serves a bounded query PAGE, got > 4096 query vectors")
      if (qIds.isEmpty)
        return Seq.empty[(Long, Long, Double, Long)]
          .toDF("q_id", "n_id", "cos_sim", "rank")
      val entryRow = p.agg(min(col("vec_id"))).head()
      if (entryRow.isNullAt(0))
        return Seq.empty[(Long, Long, Double, Long)]
          .toDF("q_id", "n_id", "cos_sim", "rank")
      val entry = entryRow.getLong(0)
      val seedNodes = (adj.filter(adj("src") === entry)
        .select(col("dst")).as[Long].collect() :+ entry).distinct
      beamSearchDrive(spark, qIds, k, beam, hops, stateCeiling, "graphTopK",
        hop0 = lim => expandScored(
          qIds.toSeq.flatMap(qi => seedNodes.map(n => (qi, n))),
          seedOnly = true, known = Nil, limitRows = lim),
        expand = (frontier, known, lim) =>
          expandScored(frontier, seedOnly = false, known = known,
            limitRows = lim))
    } finally {
      adjPins.foreach(_.unpersist(blocking = false))
    }
  }

  private def requireBeamConfig(k: Int, beam: Int, hops: Int,
                                stateCeiling: Long): Unit = {
    require(k > 0, s"k=$k must be positive")
    require(beam >= k && beam <= 1024,
      s"beam=$beam must be in [k=$k, 1024] — the frontier is per-query metadata")
    require(hops >= 1 && hops <= 32,
      s"hops=$hops out of [1, 32]: each hop is a full adjacency join")
    require(stateCeiling > 0 && stateCeiling <= (64L << 20),
      s"stateCeiling=$stateCeiling out of (0, ${64L << 20}]: the beam " +
        "state and its known-pair broadcast live on the driver")
  }

  /** The ONE driver-side beam-search state machine behind
    * [[graphTopK]] (in-memory adjacency) and [[graphTopKFromIndex]]
    * (landed pb-pruned adjacency): per-query best-so-far maps,
    * absorption under the INCREMENTAL state ceiling (each hop's
    * collect is capped at the budget REMAINING, never ceiling + page
    * — r13 ADVICE), per-query top-`beam` frontiers, and the final
    * dense-ranked top-k. `hop0`/`expand` return scored
    * (q_id, n_id, cos_sim) pages; both receive the row cap to pass
    * to their `limit`. */
  private def beamSearchDrive(spark: org.apache.spark.sql.SparkSession,
      qIds: Array[Long], k: Int, beam: Int, hops: Int, stateCeiling: Long,
      op: String,
      hop0: Int => Array[(Long, Long, Double)],
      expand: (Seq[(Long, Long)], Seq[(Long, Long)], Int)
        => Array[(Long, Long, Double)]): DataFrame = {
    import spark.implicits._
    // beam state: per query, every (node -> cosine) scored so far
    val seen = scala.collection.mutable.Map[Long,
      scala.collection.mutable.Map[Long, Double]]()
    var seenTotal = 0L
    // the cap handed to each hop's limit: what the budget has LEFT,
    // plus one row so an overshoot is distinguishable from an
    // exactly-full page (the require below reads it as a breach)
    def remainingCap: Int =
      (math.min(stateCeiling - seenTotal, Int.MaxValue.toLong - 1L) + 1L).toInt
    def absorb(rows: Array[(Long, Long, Double)]): Unit = {
      seenTotal += rows.length
      require(seenTotal <= stateCeiling,
        s"$op beam state would exceed $stateCeiling rows; " +
          "shrink beam/hops, page the query set, or raise stateCeiling")
      rows.foreach { case (qi, ni, c) =>
        seen.getOrElseUpdate(qi,
          scala.collection.mutable.Map[Long, Double]()).update(ni, c) }
    }
    absorb(hop0(remainingCap))
    // EXACT early exit (r14): a hop that scores zero NEW pairs is a
    // fixpoint — the frontier (top-beam of seen) and the known set
    // are then unchanged, and expand is a deterministic function of
    // both, so every remaining hop would return zero too. Results are
    // bit-identical to running all `hops` rounds; only the dead scans
    // are skipped (the verify corpora converge in ~3 of 6 hops).
    var converged = false
    for (_ <- 1 to hops if !converged) {
      val frontier = qIds.toSeq.flatMap { qi =>
        seen.get(qi).toSeq.flatMap(_.toSeq
          .sortBy { case (n, c) => (-c, n) }.take(beam)
          .map { case (n, _) => (qi, n) })
      }
      val known = seen.toSeq.flatMap { case (qi, m) =>
        m.keysIterator.map(n => (qi, n)) }
      val page = expand(frontier, known, remainingCap)
      absorb(page)
      converged = page.isEmpty
    }
    val out = qIds.toSeq.flatMap { qi =>
      seen.get(qi).toSeq.flatMap(_.toSeq
        .sortBy { case (n, c) => (-c, n) }.take(k).zipWithIndex
        .map { case ((n, c), i) => (qi, n, c, (i + 1).toLong) })
    }
    out.toDF("q_id", "n_id", "cos_sim", "rank")
  }

  // ---- E14 durable graph-serve index ------------------------------
  //
  // The landed form of the [[graphTopK]] serve (r13 VERDICT #1): the
  // UNDIRECTED adjacency is built ONCE at land time with each row
  // CARRYING its endpoint vector, hash-partitioned on the source node
  // (`pb = pmod(xxhash64(src), P)` — the BM25 delta-bucket posture),
  // so a hop's candidate-and-vector read IS the pruned adjacency
  // scan: partition-pruned to the frontier's pb values, filtered to
  // the frontier's node ids, O(frontier·deg) rows — never a
  // full-corpus vector probe. A flat `vec/` twin (same layout keyed
  // on vec_id) serves the append path's bounded point lookups. The
  // index carries the same commit-ledger / append / compaction
  // discipline as the IVF and BM25 artifacts.

  /** Partition key of the graph-index layout — ONE spelling for the
    * write side and the serve side's foldable prune literals (a
    * drifted hash would silently miss every row). */
  private def graphPb(c: Column, buckets: Int): Column =
    pmod(xxhash64(c), lit(buckets.toLong)).cast("int")

  /** The graph index stores no labels, but its build/append kernels
    * run through [[prepared]] (which selects one) — a label-less
    * frame (the streaming ingest contract is (vec_id, embedding))
    * rides through on a null instead of failing the analysis. */
  private def withNullLabel(emb: DataFrame): DataFrame =
    if (emb.columns.contains("label")) emb
    else emb.withColumn("label", lit(null).cast("string"))

  /** Driver-side mirror of [[graphPb]] for building the prune set
    * from a LOCAL frontier without a Spark job: Catalyst's own
    * XxHash64 evaluated on the literal (bit-identical to the scan
    * side by construction — same expression class, same seed). */
  private def graphPbLocal(id: Long, buckets: Int): Int = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    val h = new XxHash64(Seq(Literal(id))).eval(null).asInstanceOf[Long]
    val m = h % buckets
    (if (m < 0) m + buckets else m).toInt
  }

  /** Ceiling on a single hop's frontier NODE set: the prune predicate
    * carries one literal per node, so the frontier must stay driver
    * metadata (it is: ≤ page·beam by construction). */
  private val graphFrontierCeiling = 1 << 17

  /** The ONE pruned point-lookup scan both graph-index read paths
    * spell ([[graphTopKFromIndex]] hops on `adj`/`src`,
    * [[appendToGraphIndex]] vector fetches on `vec`/`vec_id`):
    * partition filter on the ids' pb values (foldable literals —
    * PartitionFilters, spec-proved) + id IN list for the row filter,
    * COMMITTED ingest batches only, with the optional replayed-batch
    * exclusion. Exposed `private[graft]` so the spec and the bench
    * pruning audit measure the very scan the serve plans. */
  private[graft] def graphPointScan(spark: org.apache.spark.sql.SparkSession,
      path: String, dir: String, keyCol: String, pbCol: String, buckets: Int,
      ids: Seq[Long], excludeIngestBatch: Option[Long]): DataFrame =
    graphPointFilter(
      graphCommittedRead(spark, path, dir, excludeIngestBatch),
      keyCol, pbCol, buckets, ids)

  /** The `vec/` point lookup for an id set that may EXCEED the
    * frontier ceiling (r14 ADVICE — [[appendToGraphIndex]]'s existing
    * endpoints are bounded by batch·k, which passes 2^17 at k ≥ 33 on
    * a full batch): the ids are chunked into ≤-ceiling pages, each
    * page filtered over ONE committed read, results unioned. `chunk`
    * is parameterized only so the multi-chunk assembly is spec-testable
    * on a small index (GraphIndexSpec) — production callers take the
    * ceiling default. */
  private[graft] def chunkedVecLookup(spark: org.apache.spark.sql.SparkSession,
      path: String, buckets: Int, ids: Seq[Long],
      excludeIngestBatch: Option[Long],
      chunk: Int = graphFrontierCeiling): DataFrame = {
    require(chunk > 0 && chunk <= graphFrontierCeiling,
      s"chunk=$chunk out of (0, $graphFrontierCeiling]")
    val vecRel = graphCommittedRead(spark, path, "vec", excludeIngestBatch)
    ids.grouped(chunk)
      .map(c => graphPointFilter(vecRel, "vec_id", "vb", buckets, c))
      .reduceOption(_.unionByName(_))
      .getOrElse(graphPointFilter(vecRel, "vec_id", "vb", buckets, Nil))
  }

  /** The committed-batches relation under a graph-index dir — read
    * ONCE per serve/append and re-filtered per hop
    * ([[graphPointFilter]]): re-reading per hop would re-list the
    * directory and re-read footers hops× per page for zero plan
    * difference. */
  private def graphCommittedRead(spark: org.apache.spark.sql.SparkSession,
      path: String, dir: String,
      excludeIngestBatch: Option[Long]): DataFrame = {
    val base = spark.read.parquet(s"$path/$dir")
    val committed = committedBatches(spark, path).fold(base)(bs =>
      base.filter(col("ingest_batch").isin(bs: _*)))
    excludeIngestBatch.fold(committed)(b =>
      committed.filter(col("ingest_batch") =!= lit(b)))
  }

  /** The pruned point-lookup predicate over an already-read relation:
    * pb IN (the ids' partition values, driver-mirrored foldables) +
    * key IN (ids). */
  private def graphPointFilter(scan: DataFrame, keyCol: String,
      pbCol: String, buckets: Int, ids: Seq[Long]): DataFrame = {
    require(ids.size <= graphFrontierCeiling,
      s"graph-index point scan got ${ids.size} ids (> $graphFrontierCeiling) " +
        "— the frontier/lookup set must stay bounded driver metadata")
    if (ids.isEmpty) scan.filter(lit(false))
    else {
      val pbs = ids.map(graphPbLocal(_, buckets)).distinct
      scan.filter(col(pbCol).isin(pbs: _*) && col(keyCol).isin(ids: _*))
    }
  }

  /** Land the E14 graph-serve index: build the deploy k-NN graph
    * ([[knnGraphAnn]] — or take a prebuilt one via `graph`, the
    * spec's ≡-to-in-memory hook), undirect + dedupe it ONCE, and
    * write
    *
    *   - `adj/`  — (src, dst, dst_v, dst_n2), partitioned
    *     (pb, ingest_batch), sorted by src within files: the hop
    *     scan's whole read, vectors ON the rows (deg·dim doubles per
    *     node — the price of making every hop's vector read exactly
    *     the candidate read);
    *   - `vec/`  — flat (vec_id, v, n2) twin partitioned
    *     (vb, ingest_batch): the append path's bounded point-lookup
    *     source;
    *   - `meta/` — the FROZEN entry point (deterministic min nonzero
    *     vec_id, vector inline so hop-0 never scans), graph k, and
    *     the partition-bucket count P;
    *   - `commits/` — the [[writeCommitRecord]] ledger, empty =
    *     ledgered from birth.
    *
    * The entry point and P are frozen build geometry (the
    * [[writeIvfIndex]] frozen-quantizer posture): appends attach new
    * arrivals under their own ingest_batch partitions and reach the
    * entry via undirected edges; [[writeGraphIndex]] itself is the
    * heavy periodic rebuild when graph drift accumulates, and
    * [[compactGraphIndex]] the cheap small-files fold. */
  def writeGraphIndex(emb: DataFrame, path: String, k: Int = 5,
                      buckets: Int = 64,
                      graph: Option[DataFrame] = None): Unit = {
    require(k > 0, s"k=$k must be positive")
    require(buckets > 0 && buckets <= 4096,
      s"buckets=$buckets out of [1, 4096]")
    val spark = emb.sparkSession
    import spark.implicits._
    val embL = withNullLabel(emb)
    val p = preparedNonZero(embL)
    val g = graph.getOrElse(knnGraphAnn(embL, k))
    val und = g.select(col("q_id").as("src"), col("n_id").as("dst"))
      .union(g.select(col("n_id").as("src"), col("q_id").as("dst")))
      .distinct()
    val pv = p.select(col("vec_id"), col("v"), col("n2"))
    // the three artifact lands are independent of each other (adj/
    // from the graph lineage, vec/ and meta/ from the prepared frame
    // alone, all disjoint dirs) — overlap them (r16, guide §2.6) so
    // the vec/meta jobs back-fill the adjacency job's shuffle tail
    // instead of queuing behind it; identical files land either way
    Par.run(Seq(
      () =>
        und.join(pv.select(col("vec_id").as("dst"), col("v").as("dst_v"),
            col("n2").as("dst_n2")), Seq("dst"))
          .select(col("src"), col("dst"), col("dst_v"), col("dst_n2"))
          .withColumn("pb", graphPb(col("src"), buckets))
          .withColumn("ingest_batch", lit(-1L))
          .repartition(col("pb")).sortWithinPartitions(col("src"))
          .write.partitionBy("pb", "ingest_batch")
          .mode("overwrite").parquet(s"$path/adj"),
      () =>
        pv.withColumn("vb", graphPb(col("vec_id"), buckets))
          .withColumn("ingest_batch", lit(-1L))
          .repartition(col("vb")).sortWithinPartitions(col("vec_id"))
          .write.partitionBy("vb", "ingest_batch")
          .mode("overwrite").parquet(s"$path/vec"),
      () => {
        val entryRows = pv.orderBy(col("vec_id")).limit(1).collect()
        require(entryRows.nonEmpty,
          "writeGraphIndex: no nonzero vectors — nothing to serve")
        val e = entryRows(0)
        Seq((e.getLong(0), e.getSeq[Double](1), e.getDouble(2), k, buckets))
          .toDF("entry", "entry_v", "entry_n2", "k", "p_buckets")
          .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
      }))
    initCommitLedger(spark, path)
  }

  /** [[graphTopK]] from the LANDED index — identical beam semantics,
    * entry, scoring, and tie-breaks (spec-pinned ≡ the in-memory
    * serve on the same graph), but every hop's candidate-and-vector
    * read is ONE [[graphPointScan]] over `adj/`: partition-pruned to
    * the frontier's pb values and filtered to the frontier's node
    * ids, so the hop reads O(frontier·deg) rows — never the corpus
    * vector table (the r13 `weak`, closed). hop-0 scores the frozen
    * entry (vector from meta) and its committed neighborhood (the
    * entry's own pruned scan) against the query page through a
    * constant-key broadcast hash join — bounded (deg+1)·page rows,
    * no corpus read there either. `queries` is any frame with
    * (vec_id, embedding) — the external query page of a real
    * deployment; `excludeIngestBatch` is the streaming replay hook
    * ([[committedLists]] doctrine). */
  def graphTopKFromIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, queries: DataFrame, k: Int, beam: Int = 32,
      hops: Int = 6, excludeIngestBatch: Option[Long] = None,
      stateCeiling: Long = 4L << 20): DataFrame =
    indexBeamServe(spark, path, queries, k, beam, hops,
        excludeIngestBatch, stateCeiling, "graphTopKFromIndex") { ctx =>
      import spark.implicits._
      val entry = ctx.meta.getAs[Long]("entry")
      val entryV = ctx.meta.getSeq[Double](ctx.meta.fieldIndex("entry_v"))
      val entryN2 = ctx.meta.getAs[Double]("entry_n2")
      // the entry's vector comes from meta, its neighborhood (with
      // vectors) from the entry's own pruned scan; the seed×page
      // cross is an explode of the bounded query-id LITERAL (r17 —
      // the old constant-key broadcast join paid a broadcast-build
      // job per serve; a ≤4096-long array literal fans out inside
      // the scan's own codegen span): identical (q, seed) multiset.
      // No dedup here (r17): duplicate n_ids carry identical vectors
      // and the serve core's scorePage dedups the NARROW scored rows —
      // a dropDuplicates over rows still carrying dst_v would plan as
      // a wide-row SortAggregate (see scorePage)
      val seedVecs = ctx.adjScan(Seq(entry))
        .select(col("dst").as("n_id"), col("dst_v"), col("dst_n2"))
        .unionByName(Seq((entry, entryV, entryN2))
          .toDF("n_id", "dst_v", "dst_n2"))
      seedVecs
        .select(explode(typedlit(ctx.qRows.map(_._1).toSeq)).as("q_id"),
          col("n_id"), col("dst_v"), col("dst_n2"))
    }

  /** Context the serve core hands its hop-0 builder: the index `meta`
    * row, the collected query page, and the pruned adjacency scan. */
  private final case class IndexServeCtx(
      meta: org.apache.spark.sql.Row,
      qRows: Array[(Long, Seq[Double], Double)],
      adjScan: Seq[Long] => DataFrame)

  /** The ONE driver core behind the landed-graph serves
    * ([[graphTopKFromIndex]]'s frozen min-id entry,
    * [[graphTopKFromIndexSeeded]]'s IVF-seeded per-query frontier):
    * meta read, bounded query-page collect, committed adj relation
    * read ONCE, per-hop pruned scans, Catalyst-scored pages under the
    * incremental state ceiling, dense-ranked top-k. The strategies
    * differ ONLY in the hop-0 candidate frame `hop0Cand` builds —
    * (q_id, n_id, dst_v, dst_n2) rows — so every later hop (and the
    * specs pinning the machinery) exercises one engine, not two
    * copies that could drift. */
  private def indexBeamServe(spark: org.apache.spark.sql.SparkSession,
      path: String, queries: DataFrame, k: Int, beam: Int,
      hops: Int, excludeIngestBatch: Option[Long], stateCeiling: Long,
      op: String)(hop0Cand: IndexServeCtx => DataFrame): DataFrame = {
    requireBeamConfig(k, beam, hops, stateCeiling)
    import spark.implicits._
    graft.functions.VecExprs.register(spark)
    // startup reads are mutually independent (meta head, the commits
    // ledger + adj listing, the bounded query-page collect) and each
    // is a fixed-latency driver action — overlap them (r17, guide
    // §2.6); the joins below preserve the old failure order (meta
    // joined before the empty-page return, adj consumed when a page
    // exists); an empty page's return still waits for the adj read
    // and rethrows its failure
    Par.overlap { par =>
    val metaJoin = par.async(() => spark.read.parquet(s"$path/meta").head())
    val adjJoin = par.async(() =>
      graphCommittedRead(spark, path, "adj", excludeIngestBatch))
    // the query page is bounded driver metadata — collect it ONCE and
    // re-enter as a local relation: left as lineage, every hop's
    // collect would re-evaluate the query SOURCE through the
    // broadcast (for the catalog/bench callers a corpus-table scan,
    // ~hops+2 times per serve — r14 review)
    val qRows = preparedQueries(queries).filter(col("n2") > 0)
      .select(col("vec_id"), col("v"), col("n2"))
      .limit(4097).as[(Long, Seq[Double], Double)].collect()
    require(qRows.length <= 4096,
      s"$op serves a bounded query PAGE, got > 4096 query vectors")
    val meta = metaJoin()
    val buckets = meta.getAs[Int]("p_buckets")
    if (qRows.isEmpty)
      return Seq.empty[(Long, Long, Double, Long)]
        .toDF("q_id", "n_id", "cos_sim", "rank")
    val qIds = qRows.map(_._1)
    // the adj relation READS once per serve; each hop re-filters it
    // (same plan-level pruning, minus hops× directory re-listing)
    val adjRel = adjJoin()
    def adjScan(nodes: Seq[Long]): DataFrame =
      graphPointFilter(adjRel, "src", "pb", buckets, nodes)
    // Per-hop shape (r17, guide §2.3/§2.4/§4 — r16 verdict #1). Two
    // structural rewrites, results bit-identical:
    //
    //  (a) score FIRST, dedup the NARROW (q_id, n_id, cos_sim) rows
    //      after: the old per-hop dropDuplicates ran over rows still
    //      CARRYING dst_v — an array-typed first() buffer
    //      disqualifies HashAggregate, so every hop paid Sort + a
    //      wide-vector Exchange + Sort (SortAggregate,
    //      plans/r17/idx_graph_serve_hop_before.txt; ~45 executor-
    //      seconds and 33 shuffle-MB per 128-query serve). Scoring
    //      map-side keeps the pre-exchange pipeline in one codegen
    //      span and the exchange carries 24-byte rows. Pages are
    //      identical: duplicate (q_id, n_id) candidates carry the
    //      same dst_v by construction, so the same cos_sim, and
    //      dedup/anti-join/score commute on identical-valued rows
    //      (the limit still caps the DEDUPED page, so ceiling
    //      accounting and convergence see exactly what they saw).
    //
    //  (b) the hop's three LOCAL relations (frontier, known pairs,
    //      query page) ride as codegen REFERENCE OBJECTS
    //      (ServeExprs) instead of broadcast joins: under Spark 4's
    //      AQE every broadcast build is its own stage job, so a
    //      6-hop serve paid ~18 fixed-latency jobs shipping driver
    //      metadata back to the driver's own executors. Explode of
    //      the frontier multimap ≡ the inner equi-join (empty array
    //      = dropped row); !PairKnown ≡ the left-anti join on
    //      non-null keys; VecForKey/N2ForKey feed the UNCHANGED
    //      cosine expression the same doubles the broadcast rows
    //      carried.
    val qTable = graft.functions.ServeExprs.VecTable(qRows.toSeq)
    graft.functions.VecExprs.withTempFunction(spark, "graft_qvec",
        args => graft.functions.ServeExprs.VecForKey(args(0), qTable)) { qvFn =>
    graft.functions.VecExprs.withTempFunction(spark, "graft_qn2",
        args => graft.functions.ServeExprs.N2ForKey(args(0), qTable)) { qnFn =>
    def scorePage(cand: DataFrame, limitRows: Int): Array[(Long, Long, Double)] =
      cand.filter(col("n_id") =!= col("q_id"))
        .select(col("q_id"), col("n_id"),
          round(cosineFromParts(
            dot(call_function(qvFn, col("q_id")), col("dst_v")),
            call_function(qnFn, col("q_id")), col("dst_n2")), 6)
            .as("cos_sim"))
        .dropDuplicates("q_id", "n_id")
        .limit(limitRows)
        .as[(Long, Long, Double)].collect()
    beamSearchDrive(spark, qIds, k, beam, hops, stateCeiling, op,
      hop0 = { lim =>
        scorePage(hop0Cand(IndexServeCtx(meta, qRows, adjScan)), lim)
      },
      expand = { (frontier, known, lim) =>
        if (frontier.isEmpty) Array.empty
        else {
          val ft = graft.functions.ServeExprs.LongsTable.byKey(frontier)
          graft.functions.VecExprs.withTempFunction(spark, "graft_frontier",
              args => graft.functions.ServeExprs.LongsForKey(args(0), ft)) { fFn =>
            val cand0 = adjScan(frontier.map(_._2).distinct)
              .select(explode(call_function(fFn, col("src"))).as("q_id"),
                col("dst").as("n_id"), col("dst_v"), col("dst_n2"))
            val cand =
              if (known.isEmpty) cand0
              else {
                val ks = graft.functions.ServeExprs.LongPairSet(known)
                graft.functions.VecExprs.withTempFunction(spark, "graft_known",
                    args => graft.functions.ServeExprs.PairKnown(
                      args(0), args(1), ks)) { kFn =>
                  cand0.filter(!call_function(kFn, col("q_id"), col("n_id")))
                }
              }
            scorePage(cand, lim)
          }
        }
      })
    }}
    }
  }

  /** [[graphTopKFromIndex]] with the hop-0 frontier seeded from the
    * LANDED IVF index instead of the frozen min-id entry (r15 verdict
    * #4 — the scale path): the frozen entry is diameter-bound — at
    * 100× corpus the beam must walk the graph's whole diameter from
    * one fixed node before recall saturates, so "hops=6 suffices"
    * only holds at the committed corpus sizes. Seeding each query
    * from its own region of the space makes hop-0 land beside the
    * answer: the stored coarse quantizer assigns each query its
    * `nprobe` nearest centroids (the exact [[probeAndPrune]]
    * expression — one spelling), a pruned `lists/` read takes the
    * first `seedsPerList` members of each probed list (deterministic:
    * lowest vec_id), and those members become the query's OWN hop-0
    * frontier. Both artifacts already coexist in a prep-run's output
    * ([[graft.CorpusPrepJob]] lands the IVF index and the graph
    * index side by side), so the composition costs no new build.
    *
    * Seed vectors are looked up in the GRAPH's own committed `vec/`
    * (never taken from the IVF rows): a seed the graph doesn't hold
    * as committed-and-not-excluded — an IVF list member from a newer
    * ingest, or a member of the replay-excluded batch — silently
    * drops out, so every hop-0 candidate respects the serve's replay
    * posture (an excluded arrival must not match its own copy at
    * cos 1.0). Queries left with NO live seed fall back to the frozen
    * entry, so the serve never returns fewer results than the
    * entry-seeded serve would. Scoring, beam machinery, pruning, and
    * ceilings are [[indexBeamServe]]'s — identical to
    * [[graphTopKFromIndex]] from hop 1 on. With beam/hops wide enough
    * to exhaust the component this is bit-identical to the frozen
    * serve (spec-pinned); at tight hops it reaches recall the frozen
    * entry needs more hops to match (measured at 10× corpus in r16). */
  def graphTopKFromIndexSeeded(spark: org.apache.spark.sql.SparkSession,
      path: String, ivfPath: String, queries: DataFrame, k: Int,
      beam: Int = 32, hops: Int = 6, nprobe: Int = 2,
      seedsPerList: Int = 8, excludeIngestBatch: Option[Long] = None,
      stateCeiling: Long = 4L << 20): DataFrame = {
    require(nprobe > 0 && nprobe <= 64, s"nprobe=$nprobe out of [1, 64]")
    require(seedsPerList > 0 && seedsPerList <= 64,
      s"seedsPerList=$seedsPerList out of [1, 64]")
    indexBeamServe(spark, path, queries, k, beam, hops,
        excludeIngestBatch, stateCeiling, "graphTopKFromIndexSeeded") { ctx =>
      import spark.implicits._
      val entry = ctx.meta.getAs[Long]("entry")
      val entryV = ctx.meta.getSeq[Double](ctx.meta.fieldIndex("entry_v"))
      val entryN2 = ctx.meta.getAs[Double]("entry_n2")
      val buckets = ctx.meta.getAs[Int]("p_buckets")
      // per-query probed centroids DRIVER-SIDE (r17, r16 verdict #4):
      // the query page (ctx.qRows) and the centroid matrix (the IVF
      // index's cached handle) are both bounded driver data, so a
      // probeList Spark job would pay one fixed-latency job per serve
      // for |page|·nlist dots of local arithmetic — see [[localProbes]]
      val ivf = ivfHandle(spark, ivfPath)
      val probed: Array[(Long, Int)] = ctx.qRows.flatMap { case (qi, v, _) =>
        localProbes(v, ivf.cents, nprobe).map(qi -> _)
      }
      // seed members: first seedsPerList per probed list, from a
      // c_id-pruned committed lists read — bounded by
      // |probed lists|·seedsPerList driver rows
      val probedCids = probed.map(_._2).distinct.toSeq
      val seedsByList: Map[Int, Seq[Long]] =
        if (probedCids.isEmpty) Map.empty
        else {
          val w = Window.partitionBy(col("c_id")).orderBy(col("vec_id"))
          committedLists(spark, ivfPath, None, ivf)
            .filter(col("c_id").isin(probedCids: _*))
            .select(col("c_id"), col("vec_id"))
            .withColumn("__r", row_number().over(w))
            .filter(col("__r") <= seedsPerList)
            .select(col("c_id"), col("vec_id"))
            .as[(Int, Long)].collect().toSeq
            .groupBy(_._1).map { case (c, xs) => c -> xs.map(_._2) }
        }
      // live seeds only: vectors from the GRAPH's committed vec/ (the
      // replay posture — see scaladoc); the lookup is one bounded
      // point scan
      val seedIds = seedsByList.valuesIterator.flatten.toSeq.distinct
      val liveSeedVecs: Map[Long, (Seq[Double], Double)] =
        chunkedVecLookup(spark, path, buckets, seedIds, excludeIngestBatch)
          .select(col("vec_id"), col("v"), col("n2"))
          .as[(Long, Seq[Double], Double)].collect()
          .map(r => r._1 -> (r._2, r._3)).toMap
      // per-query hop-0 pairs; a query with no live seed falls back
      // to the frozen entry
      val probedByQ: Map[Long, Array[Int]] =
        probed.groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2) }
      val pairs: Seq[(Long, Long)] = ctx.qRows.toSeq.flatMap { case (qi, _, _) =>
        val mine = probedByQ.getOrElse(qi, Array.empty[Int]).iterator
          .flatMap(c => seedsByList.getOrElse(c, Nil))
          .filter(liveSeedVecs.contains).toSeq.distinct
        if (mine.isEmpty) Seq((qi, entry)) else mine.map(qi -> _)
      }
      // seed self-rows are pure driver data — construct the local
      // relation directly (r17: the old spelling joined two local
      // frames through a broadcast, paying a broadcast-build job for
      // a map lookup the driver can do in place)
      val seedVecOf: Map[Long, (Seq[Double], Double)] =
        pairs.map(_._2).distinct.map { n =>
          if (n == entry) entry -> ((entryV, entryN2))
          else n -> liveSeedVecs(n)
        }.toMap
      val seedSelf = pairs.map { case (qi, n) =>
          val (v, n2) = seedVecOf(n); (qi, n, v, n2)
        }.toDF("q_id", "n_id", "dst_v", "dst_n2")
      // ...plus each seed's committed neighborhood, like the frozen
      // entry's hop 0 (one pruned scan over the distinct seed set);
      // the (seed → queries) attach is the ServeExprs explode — the
      // frontier-join spelling of the serve core, not a broadcast
      // (r17). No dedup here: a node reachable both as a seed and as
      // a seed's neighbor carries the same vector through either
      // branch (vec/ and adj rows land from the one prepared frame),
      // and the serve core's scorePage dedups the narrow scored rows.
      val nbrTable = graft.functions.ServeExprs.LongsTable.byKey(pairs)
      graft.functions.VecExprs.withTempFunction(spark, "graft_seed_qids",
          args => graft.functions.ServeExprs.LongsForKey(args(0), nbrTable)) { fn =>
        val seedNbr = ctx.adjScan(pairs.map(_._2).distinct)
          .select(explode(call_function(fn, col("src"))).as("q_id"),
            col("dst").as("n_id"), col("dst_v"), col("dst_n2"))
        seedSelf.unionByName(seedNbr)
      }
    }
  }

  /** [[graphTopKFromIndex]] over an UNBOUNDED query set — the paging
    * loop the serve's 4096-query ceiling tells callers to write,
    * provided once: the query frame is split into deterministic pages
    * by a hash of vec_id, each page served independently, results
    * unioned. `pageSize` steers the EXPECTED split (the page count
    * targets pageSize/2 queries per page, i.e. 2× slack for hash
    * skew); the HARD per-page ceiling is the serve's own 4096 guard —
    * a hash-skewed page may exceed pageSize (it still serves, under
    * 4096), and skew beyond 4096 aborts via the serve's admission
    * require. Per-query results are IDENTICAL to serving that query
    * in any other page (the beam state is per-query; pages share
    * nothing), so paging is pure admission control — spec-pinned ≡
    * the one-page serve. Pages run CONCURRENTLY, at most
    * `pageParallelism` in flight (r16, guide §2.6): each page's hops
    * are small sequential driver-launched jobs whose fixed scheduling
    * latency — not executor work — dominates the paged serve's wall
    * time, so overlapping pages back-fills that latency while every
    * page keeps its own independent beam state and its own UNCHANGED
    * `stateCeiling` (identical results and identical per-page abort
    * behavior; the driver's concurrent footprint is bounded by
    * pageParallelism × one page's ceiling instead of one page's —
    * size pageParallelism down if the ceiling is raised). Admission
    * is `maxPages · pageSize/2` queries — with the 2×-slack target
    * that is exactly what fits in `maxPages` pages, so the split
    * never exceeds the caller's page budget; a serve over millions
    * of queries is a BATCH scoring job (use [[knnGraphAnn]]
    * composition), not a paged online serve.
    *
    * CHANGED in r15 (breaking, intentional): admission used to be
    * `maxPages · pageSize` — callers sized against the old product
    * must double `maxPages` (or `pageSize`) to admit the same query
    * count; the halving is what guarantees the split both fits the
    * page budget and keeps the 2× skew headroom, instead of
    * discovering either failure as a runtime `require`. Note also
    * that extreme hash skew past the 2× slack still aborts at the
    * per-page 4096 guard mid-serve (after earlier pages ran) — by
    * design: partial pages are never returned, and results are
    * page-independent so a rerun with a bigger budget recomputes
    * nothing wrong. */
  def graphTopKFromIndexPaged(spark: org.apache.spark.sql.SparkSession,
      path: String, queries: DataFrame, k: Int, beam: Int = 32,
      hops: Int = 6, excludeIngestBatch: Option[Long] = None,
      stateCeiling: Long = 4L << 20, pageSize: Int = 4096,
      maxPages: Int = 256, pageParallelism: Int = 4): DataFrame = {
    require(pageSize > 0 && pageSize <= 4096,
      s"pageSize=$pageSize out of [1, 4096] — the serve's page ceiling")
    require(maxPages > 0, s"maxPages=$maxPages must be positive")
    require(pageParallelism > 0 && pageParallelism <= 16,
      s"pageParallelism=$pageParallelism out of [1, 16] — each in-flight " +
        "page holds its own beam state on the driver")
    // page count from ONE cheap count; hash-mod assignment keeps every
    // page under pageSize in expectation — the per-page serve guard
    // still enforces the hard ceiling (2x slack for hash skew). The
    // per-page target floors at 1 so the documented-legal pageSize=1
    // doesn't zero the denominator (r14 ADVICE). Admission bounds the
    // query count by maxPages · pageSize/2 — NOT maxPages · pageSize:
    // with the 2x-slack target that is exactly the set that fits in
    // maxPages pages, so the split never exceeds the caller's page
    // budget AND never gives up the skew headroom (r15 review, both
    // passes: the raw product admitted sets that either ran 2·maxPages
    // pages or, if capped, lost the slack and aborted on a skewed
    // page at the serve's 4096 guard).
    val n = queries.count()
    val perPage = math.max(1, pageSize / 2)
    require(n <= maxPages.toLong * perPage,
      s"graphTopKFromIndexPaged got $n queries (> maxPages=$maxPages × " +
        s"pageSize/2=$perPage — the 2x-slack page budget) — raise " +
        "maxPages/pageSize or batch-score instead of paging an online serve")
    val nPages = math.max(1L, (n + perPage - 1) / perPage)
    // pages overlap (bounded pool, results re-assembled in page
    // order — deterministic union); each page's serve is EAGER by
    // construction (the beam drive collects per hop and returns a
    // local relation), so the thunks really do run the work here
    Par.run((0L until nPages).map { pg => () =>
      graphTopKFromIndex(spark, path,
        queries.filter(pmod(xxhash64(col("vec_id")), lit(nPages)) === pg),
        k, beam, hops, excludeIngestBatch, stateCeiling)
    }, maxConcurrent = pageParallelism).reduce(_.unionByName(_))
  }

  /** Pruning audit for the graph serve — the [[probedListFiles]]
    * dual: the `adj/` files a hop for `nodes` ACTUALLY reads (distinct
    * `input_file_name()` over the same [[graphPointScan]] the serve
    * plans). Bench asserts this is strictly fewer files than the
    * index holds. */
  def graphHopFiles(spark: org.apache.spark.sql.SparkSession, path: String,
                    nodes: Seq[Long]): Array[String] = {
    import spark.implicits._
    val meta = spark.read.parquet(s"$path/meta").head()
    graphPointScan(spark, path, "adj", "src", "pb",
        meta.getAs[Int]("p_buckets"), nodes, None)
      .select(input_file_name()).distinct().as[String].collect()
  }

  /** Incremental graph-index maintenance — the E14 dual of
    * [[appendToIvfIndex]], shaped like an HNSW insertion: each
    * arrival's neighbors are found by THE SERVE ITSELF over the
    * frozen committed graph ([[graphTopKFromIndex]] — O(frontier·deg)
    * pruned reads, never a corpus scan, excluding this batch's own
    * partition so a crash replay re-attaches identically), plus exact
    * within-batch edges ([[knnGraph]] over the bounded batch), top-k
    * kept per arrival across both sources. The landed delta carries
    * BOTH directions of every new edge, so existing nodes gain their
    * escape routes to the arrivals without their base rows being
    * touched; existing endpoints' vectors come from a bounded
    * [[graphPointScan]] point lookup on `vec/`.
    *
    * Batches are bounded (≤ 4096 arrivals — the serve-page ceiling)
    * and sequential (the foreachBatch contract: a replay completes
    * before the next batch starts — what makes the dynamic-overwrite
    * recompute land the identical partition set). Arrival vec_ids are
    * new by the append contract (the BM25 doctrine). The batch's
    * visibility is gated on its commit record, written LAST.
    *
    * `stateCeiling` is threaded to the serve that finds the arrivals'
    * neighbors (r14 ADVICE): an append over a dense/large committed
    * graph can legitimately need more cumulative beam state than the
    * 4M default, and shrinking beam/hops instead would silently
    * change which edges the append lands.
    *
    * `precomputedNeighbors` (r15) lets a caller that ALREADY served
    * this exact batch from the frozen graph hand that page in instead
    * of paying a second multi-hop serve — the streamingGraphIngest
    * case, where the neighbor report and the attach search are the
    * same computation. Contract: it must be the output of
    * [[graphTopKFromIndex]] over THIS batch's (vec_id, embedding)
    * with k' ≥ the index's frozen k, beam ≥ this append's own
    * `max(beam, k)`, and the SAME excludeIngestBatch — the append
    * re-truncates to the index k per arrival, so a wider page is fine
    * and a narrower one would silently starve the edge candidates.
    * Bit-identity with the self-served append ("spec-pinned ≡") holds
    * when the page's (k', beam) EQUAL the self-serve's (index k,
    * max(beam, k)) — a strictly wider beam can visit nodes the
    * narrower search never reaches, landing edges that are still
    * valid top-k but not byte-identical (r15 ADVICE;
    * streamingGraphIngest threads one beam through both sides for
    * exactly this reason). */
  def appendToGraphIndex(emb: DataFrame, path: String,
                         ingestBatch: Long, beam: Int = 32,
                         hops: Int = 6,
                         stateCeiling: Long = 4L << 20,
                         precomputedNeighbors: Option[DataFrame] = None)
      : Unit = {
    require(ingestBatch != -1L,
      "ingest_batch -1 is reserved for the base/compacted graph — " +
        "an append keyed on it would overwrite base index data")
    val spark = emb.sparkSession
    import spark.implicits._
    assertNoMaintenance(spark, path, "appendToGraphIndex")
    adoptLegacyLedger(spark, path, listsDir = "adj")
    // the meta head and the page-validation collect below are
    // independent of the admission collect — overlap the three
    // fixed-latency actions (r17, guide §2.6); joins preserve the
    // sequential failure order (meta consumed right after admission)
    Par.overlap { par =>
    val metaJoin = par.async(() => spark.read.parquet(s"$path/meta").head())
    val embL = withNullLabel(emb)
    val batch = preparedNonZero(embL).cache()
    try {
      // ONE bounded collect serves as count AND id set (r16: the
      // separate count() paid a second fixed-latency job per batch
      // for a number the id collect already yields); the limit makes
      // the collect itself bounded. The ceiling checks the ROW count
      // (the array length, exactly what count() measured — r16
      // review: a toSet size would let a duplicate-carrying oversized
      // batch slip the ceiling AND truncate the id set the page
      // validation and endpoint split below key on), and ≤ 4096 rows
      // through limit(4097) means the collect saw EVERY row, so the
      // id set is complete.
      // the validation collect over a handed-in page only READS the
      // page — start it beside the admission collect, check subset
      // containment once both are in hand
      val pageQJoin = precomputedNeighbors.map { page =>
        par.async(() => {
          require(Seq("q_id", "n_id", "cos_sim")
              .forall(page.columns.contains),
            s"precomputedNeighbors must be a graphTopKFromIndex page " +
              s"(q_id, n_id, cos_sim) — got ${page.columns.mkString(",")}")
          page.select(col("q_id")).distinct().as[Long].collect().toSet
        })
      }
      val idRows = batch.select(col("vec_id")).limit(4097).as[Long].collect()
      // meta joined before the empty-batch return: an append into a
      // missing/corrupt index must still throw, not commit (the
      // sequential spelling's order)
      val meta = metaJoin()
      val k = meta.getAs[Int]("k")
      val buckets = meta.getAs[Int]("p_buckets")
      // an index built with k > beam must stay appendable: the serve's
      // frontier contract is beam ≥ k, so widen rather than refuse
      // (r14 review — a k=33 index was un-appendable at the default)
      val b0 = math.max(beam, k)
      // a handed-in page is still validated before an empty batch
      // commits: its failure must throw before the commit, not after
      if (idRows.isEmpty) {
        pageQJoin.foreach(_())
        writeCommitRecord(spark, path, ingestBatch)
        return
      }
      require(idRows.length <= 4096,
        "appendToGraphIndex attaches a bounded batch (got > 4096 nonzero " +
          "vector rows, ceiling 4096 — the serve-page posture); split " +
          "larger arrivals into sequential batches")
      val batchIds = idRows.toSet
      // validate a handed-in page against the checkable half of its
      // contract (r15 review): the columns must be the serve's and
      // its query set must be CONTAINED in this batch's nonzero ids —
      // a page carrying foreign ids was served for a different batch
      // and would silently attach wrong edges. Containment, not
      // equality (r15 ADVICE): a batch query can legitimately score
      // ZERO rows (e.g. an arrival colliding with the frozen entry of
      // a single-node graph, where the n_id =!= q_id filter drops the
      // only candidate) and then appears in no page row — the
      // self-serve would produce the same empty result for it, and
      // its edges still come from the within-batch exact kNN below,
      // so absence is indistinguishable from (and identical to) the
      // self-served outcome. The exclusion and the page's k/beam are
      // the caller's replay obligation (truncation-at-k' is
      // indistinguishable from a small graph's natural exhaustion, so
      // they cannot be checked from the page alone — the scaladoc
      // carries the contract).
      pageQJoin.foreach { join =>
        val pageQ = join()
        require(pageQ.subsetOf(batchIds),
          "precomputedNeighbors was served for a DIFFERENT query set " +
            s"than this batch (${(pageQ -- batchIds).size} page queries " +
            s"not among the ${batchIds.size} nonzero batch vectors)")
      }
      val fwd = precomputedNeighbors
        .getOrElse(graphTopKFromIndex(spark, path,
          emb.select(col("vec_id"), col("embedding")), k, b0, hops,
          excludeIngestBatch = Some(ingestBatch),
          stateCeiling = stateCeiling))
        .select(col("q_id"), col("n_id"), col("cos_sim"))
      val within = knnGraph(embL, k)
        .select(col("q_id"), col("n_id"), col("cos_sim"))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("cos_sim").desc, col("n_id"))
      val edges = fwd.unionByName(within)
        .withColumn("__r", row_number().over(w)).filter(col("__r") <= k)
        .select(col("q_id"), col("n_id"))
      val und = edges.select(col("q_id").as("src"), col("n_id").as("dst"))
        .union(edges.select(col("n_id").as("src"), col("q_id").as("dst")))
        .distinct()
      // endpoint vectors: batch members from the cached batch,
      // existing members via the bounded vec/ point lookup (the ids
      // are ≤ 2·batch·k driver metadata)
      // this collect EXECUTES the edge computation (within-batch kNN +
      // union + per-arrival top-k window + undirect/distinct)
      val dstIds = und.select(col("dst")).distinct().as[Long].collect()
      val existIds = dstIds.filterNot(batchIds).toSeq
      // the distinct existing endpoints are bounded by batch·k, which
      // for k ≥ 33 can exceed the point-scan frontier ceiling (2^17) —
      // chunk the lookup into ≤-ceiling id pages over ONE committed
      // read so a wide-k full-size batch appends instead of tripping
      // the admission require (r14 ADVICE)
      val dstVecs = chunkedVecLookup(spark, path, buckets, existIds,
          Some(ingestBatch))
        .select(col("vec_id"), col("v"), col("n2"))
        .unionByName(batch.select(col("vec_id"), col("v"), col("n2")))
      // the two landing writes are independent (disjoint dirs, adj/
      // from the edge lineage, vec/ from the cached batch) — overlap
      // them (r16, guide §2.6): the batch-sized jobs are fixed-latency
      // bound, so the pair costs max(adj, vec) instead of their sum.
      // Commit-record-last is unchanged — it still lands only after
      // BOTH writes return.
      Par.run(Seq(
        () => und.join(dstVecs.select(col("vec_id").as("dst"),
            col("v").as("dst_v"), col("n2").as("dst_n2")), Seq("dst"))
          .select(col("src"), col("dst"), col("dst_v"), col("dst_n2"))
          .withColumn("pb", graphPb(col("src"), buckets))
          .withColumn("ingest_batch",
            graft.functions.ServeExprs.longParam(spark, ingestBatch))
          .repartition(col("pb")).sortWithinPartitions(col("src"))
          .write.partitionBy("pb", "ingest_batch")
          .option("partitionOverwriteMode", "dynamic")
          .mode("overwrite").parquet(s"$path/adj"),
        () => batch.select(col("vec_id"), col("v"), col("n2"))
          .withColumn("vb", graphPb(col("vec_id"), buckets))
          .withColumn("ingest_batch",
            graft.functions.ServeExprs.longParam(spark, ingestBatch))
          .repartition(col("vb")).sortWithinPartitions(col("vec_id"))
          .write.partitionBy("vb", "ingest_batch")
          .option("partitionOverwriteMode", "dynamic")
          .mode("overwrite").parquet(s"$path/vec")))
      // commit record last — see appendToIvfIndex
      writeCommitRecord(spark, path, ingestBatch)
    } finally batch.unpersist(false): Unit
    }
  }

  /** Compact the graph index's ingest partitions: fold every
    * COMMITTED batch's `adj/` and `vec/` files into the base
    * partition (−1) — the [[compactIvfIndex]] small-files cleanup,
    * edge structure and frozen entry untouched ([[writeGraphIndex]]'s
    * full rebuild stays the HEAVY compaction for graph drift). Both
    * dirs swap under the shared maintenance lock; a crash between the
    * two swaps leaves each dir independently healable and the index
    * correct at every intermediate state (folding changes layout,
    * never visible content — uncommitted batches are discarded, and
    * their ids may then be replayed in full). */
  def compactGraphIndex(spark: org.apache.spark.sql.SparkSession,
                        path: String): Unit = {
    import org.apache.hadoop.fs.Path
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    IndexMaintenance.withLock(fs, IndexMaintenance.lockFile(root)) {
      def foldDir(dir: String, partCol: String, keyCol: String): Unit = {
        val live = new Path(s"$path/$dir")
        val tmp = new Path(s"$path/${dir}_compacting")
        val old = new Path(s"$path/${dir}_old")
        IndexMaintenance.heal(fs, live, tmp, old)
        committedBatches(spark, path)
          .fold(spark.read.parquet(live.toString))(ids =>
            spark.read.parquet(live.toString)
              .filter(col("ingest_batch").isin(ids: _*)))
          .withColumn("ingest_batch", lit(-1L))
          .repartition(col(partCol)).sortWithinPartitions(col(keyCol))
          .write.partitionBy(partCol, "ingest_batch")
          .mode("overwrite").parquet(tmp.toString)
        IndexMaintenance.swap(fs, live, tmp, old)
      }
      foldDir("adj", "pb", "src")
      foldDir("vec", "vb", "vec_id")
      // all committed batches now live in -1 — reset to EMPTY, not
      // absent (the compactIvfIndex rationale)
      initCommitLedger(spark, path)
    }
  }

  /** Pair-count ceiling for E1: the guarded quantity is the SCORED
    * PAIR count (queries × corpus — the actual nested-loop cost), not
    * the corpus size; a hundred queries over a huge corpus is a fine
    * broadcast-join plan and passes. */
  val pairCeiling: Long = 1L << 32

  /** E1: exact cosine top-k per query vector (brute force baseline).
    * Queries (small) broadcast; candidates stream. Deterministic rank:
    * (cos desc, candidate id). Guarded on queries × corpus — the real
    * cost of the nested loop (two cheap column-pruned counts up
    * front, noise next to the scoring job they gate). */
  def bruteForceTopK(emb: DataFrame, isQuery: Column, k: Int): DataFrame = {
    val n = emb.count()
    val nQ = emb.filter(isQuery).count()
    // divide, never multiply: nQ * n overflows Long at exactly the
    // scale the guard exists to stop, and a wrapped negative product
    // would pass the ceiling check
    require(nQ == 0L || n <= pairCeiling / nQ,
      s"bruteForceTopK would score $nQ × $n pairs (ceiling $pairCeiling); " +
        "use Similarity.lshTopK (E2) / ivfTopK (E3) at this scale")
    // zero-norm rows out: their cosine is undefined (NULL here, NaN —
    // ranking FIRST in a desc sort — on the oracle side), so they must
    // not appear as queries or candidates (the cosinePairs rationale)
    val p = preparedNonZero(emb)
    val q = p.filter(isQuery)
      .select(col("vec_id").as("q_id"), col("v").as("q_v"), col("n2").as("q_n2"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
    p.as("c").join(broadcast(q), col("q_id") =!= col("vec_id"))
      .withColumn("cos_sim",
        round(cosineFromParts(dot(col("q_v"), col("c.v")), col("q_n2"), col("c.n2")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("vec_id").as("n_id"), col("cos_sim"), col("rank"))
  }

  /** E12: FILTERED exact top-k — each query ranks only candidates
    * sharing ITS OWN label (the "search within my tenant/domain"
    * shape every production vector store serves; labels stand in for
    * any equality predicate). Same guard, zero-norm doctrine, 6 dp
    * round, and (cos desc, id) tie-break as [[bruteForceTopK]] — the
    * label equality is part of the JOIN predicate, so filtered-out
    * candidates never reach the scorer, and rank is dense over the
    * per-query filtered set. Declared exactness baseline; the deploy
    * path is [[ivfTopKFiltered]]. */
  def filteredTopK(emb: DataFrame, isQuery: Column, k: Int): DataFrame = {
    val n = emb.count()
    val nQ = emb.filter(isQuery).count()
    require(nQ == 0L || n <= pairCeiling / nQ,
      s"filteredTopK would score $nQ × $n pairs (ceiling $pairCeiling); " +
        "use Similarity.ivfTopKFiltered (E12b) at this scale")
    val p = preparedNonZero(emb)
    val q = p.filter(isQuery)
      .select(col("vec_id").as("q_id"), col("v").as("q_v"),
        col("n2").as("q_n2"), col("label").as("q_label"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
    p.as("c").join(broadcast(q),
        col("q_id") =!= col("vec_id") && col("q_label") === col("c.label"))
      .withColumn("cos_sim",
        round(cosineFromParts(dot(col("q_v"), col("c.v")), col("q_n2"), col("c.n2")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("vec_id").as("n_id"), col("cos_sim"), col("rank"))
  }

  /** E12b: filtered IVF serve — trained coarse quantizer, probed
    * lists, and the label predicate applied POST-assignment with
    * SELECTIVITY-AWARE PROBE WIDENING: post-filtering discards
    * ~(1 − 1/L) of every probed list (L = corpus label cardinality,
    * one bounded-metadata aggregate), so the probe count widens to
    * min(nlist, nprobe·L) — the standard filtered-search correction
    * (a fixed nprobe under a 1% filter returns near-empty lists and
    * silently starves top-k). At the verify corpora the widened probe
    * is exhaustive (recall 1.0 vs [[filteredTopK]] by construction);
    * at scale it stays a fixed fraction of lists. 100 TB layout: the
    * on-disk variant is [[writeIvfIndex]] with `labelBuckets > 0`
    * (lists partitioned by (c_id, lbl)) served by
    * [[filteredTopKFromIndex]], where the predicate PRUNES partitions
    * instead of post-filtering rows — spec-proved PartitionFilters +
    * file-set shrink. */
  def ivfTopKFiltered(emb: DataFrame, isQuery: Column, k: Int,
                      nlist: Int = 0, nprobe: Int = 4,
                      trainIters: Int = 5): DataFrame = {
    val nl = autoNlist(emb, nlist)
    val p = preparedNonZero(emb)
    val nLabels = math.max(1L,
      p.agg(countDistinct(col("label"))).first().getLong(0))
    val probeN = math.min(nl.toLong, nprobe * nLabels).toInt
    val cents0 = collectCentroids(p, nl)
    val cents = if (trainIters > 0)
      trainCentroidsPrepared(p, cents0, trainIters, 1e-4) else cents0
    val assigned = ivfAssignPrepared(p, cents)
      .select(col("vec_id"), col("label"), col("v"), col("n2"), col("c_id"))
    val probes = probeList(p, isQuery, cents, probeN)
      .join(p.select(col("vec_id").as("q_id"), col("label").as("q_label")),
        Seq("q_id"))
    val wRank = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
    assigned.as("c").join(broadcast(probes), Seq("c_id"))
      .filter(col("q_id") =!= col("vec_id") &&
        col("q_label") === col("c.label"))
      .select(col("q_id"), col("vec_id"),
        round(cosineFromParts(dot(col("q_v"), col("c.v")), col("q_n2"), col("c.n2")), 6)
          .as("cos_sim"))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("vec_id").as("n_id"), col("cos_sim"), col("rank"))
  }

  /** E3: IVF (inverted-file) ANN top-k — the FAISS-style coarse
    * quantizer as dataframes. Centroids are a deterministic sample of
    * the corpus (smallest xxhash64(vec_id) — no training iteration, a
    * k-means|| refinement drops in where the sample is today);
    * every vector is assigned to its nearest centroid (broadcast
    * centroid table, argmin via codegen dot), queries probe the
    * `nprobe` nearest centroid lists, candidates come from ONE
    * equi-join on the centroid id. At 100 TB: the inverted lists are
    * the corpus partitioned by centroid_id — probing reads only
    * nprobe/nlist of the data, and the join shuffle key space (nlist)
    * is sized ≫ executor count.
    */
  /** Deterministic coarse-quantizer centroids, collected and
    * unit-normalized on the driver (smallest-xxhash64 sample — shared
    * by E3's probing and E6's IVFPQ composition; a k-means train
    * replaces the sample via [[trainCentroidsPrepared]]). The collect
    * is bounded metadata, not data: nlist × dim doubles — the same
    * "coarse quantizer lives in memory" posture as FAISS, and the
    * price of the zero-shuffle assignment below. Unit-normalizing
    * here lets the assignment rank by raw dot (≡ cosine). */
  private def collectCentroids(p: DataFrame, nlist: Int): Array[Array[Double]] =
    // n2 > 0: a zero vector sampled as a seed would survive
    // normalizeRows unchanged (all-zero centroid, dot 0 with
    // everything — a junk list distorting assignment and probing).
    // vec_id tie-break: an xxhash64 collision straddling the limit
    // cutoff must not make the "deterministic sample" plan-dependent.
    normalizeRows(p.filter(col("n2") > 0)
      .withColumn("hsel", xxhash64(col("vec_id")))
      .orderBy(col("hsel"), col("vec_id")).limit(nlist)
      .select(col("v")).collect()
      .map(_.getSeq[Double](0).toArray))

  private def normalizeRows(rows: Array[Array[Double]]): Array[Array[Double]] =
    rows.map { v =>
      var n2 = 0.0; var i = 0
      while (i < v.length) { n2 += v(i) * v(i); i += 1 }
      if (n2 > 0) { val n = math.sqrt(n2); v.map(_ / n) } else v
    }

  /** IVF assignment: every vector labeled with the index of its
    * nearest coarse centroid — the index-BUILD step of E3/E6, exposed
    * so the plan is auditable: one codegen'd argmax
    * ([[graft.functions.VecExprs.NearestCentroids]]) over the
    * plan-referenced centroid matrix, fused into the scan. The round-3
    * spelling exploded ×nlist candidate rows and ran
    * `row_number().over(Window.partitionBy(vec_id))` — a full exchange
    * of the inflated set; this has NO exchange at all (spec-proved in
    * SimilaritySpec). */
  def ivfAssign(emb: DataFrame, nlist: Int = 16): DataFrame = {
    val p = prepared(emb)
    ivfAssignPrepared(p, collectCentroids(p, nlist))
  }

  private def ivfAssignPrepared(p: DataFrame,
                                cents: Array[Array[Double]]): DataFrame =
    if (cents.isEmpty)
      // an empty (or all-zero-norm) input samples no centroids — no
      // lists exist, so the assignment is the EMPTY frame, not a
      // NearestCentroids construction throw: an empty filtered input
      // is a plausible runtime state, not a programming error
      p.filter(lit(false)).withColumn("c_id", lit(0))
    else graft.functions.VecExprs.withNearestCentroids(p.sparkSession, cents, 1) {
      fn => p.withColumn("c_id", element_at(call_function(fn, col("v")), 1))
    }

  /** Query-side probe list: each query paired with its `nprobe`
    * nearest centroid indices (same expression, n=nprobe, exploded —
    * queries are few, so the explode is trivially small). */
  private[graft] def probeList(p: DataFrame, isQuery: Column,
                        cents: Array[Array[Double]], nprobe: Int): DataFrame =
    if (cents.isEmpty)
      // no centroids → nothing to probe (the ivfAssignPrepared rationale)
      p.filter(lit(false))
        .select(col("vec_id").as("q_id"), col("v").as("q_v"),
          col("n2").as("q_n2"), lit(0).as("c_id"))
    else graft.functions.VecExprs.withNearestCentroids(p.sparkSession, cents, nprobe) {
      fn =>
        p.filter(isQuery)
          .select(col("vec_id").as("q_id"), col("v").as("q_v"),
            col("n2").as("q_n2"),
            explode(call_function(fn, col("v"))).as("c_id"))
    }

  /** Training-sample ceiling: ~10⁴ vectors bounds driver memory at a
    * few MB and exceeds FAISS's recommended points-per-centroid many
    * times over at the nlist/ks sizes in this catalog. */
  val trainSampleRows: Int = 1 << 14

  /** Bounded deterministic training sample of an array column: the
    * `n` smallest (xxhash64(vec_id), vec_id) rows. `orderBy.limit`
    * plans as TakeOrderedAndProject — per-partition top-n heaps plus
    * one driver merge, never a full sort, never O(corpus) driver
    * memory. */
  private def sampleArrays(p: DataFrame, c: String, n: Int): Array[Array[Double]] =
    p.withColumn("hsel", xxhash64(col("vec_id")))
      .orderBy(col("hsel"), col("vec_id")).limit(n)
      .select(col(c)).collect().map(_.getSeq[Double](0).toArray)

  private def l2(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length && i < b.length) {
      val d = a(i) - b(i); s += d * d; i += 1
    }
    math.sqrt(s)
  }

  /** Spherical k-means (Lloyd) training of the coarse quantizer from
    * the `seed` centroids to convergence — the driver loop
    * [[centroidUpdate]]'s scaladoc names, now feeding E3/E6 in place of the raw hash sample.
    * Trains on a BOUNDED deterministic sample (the FAISS posture:
    * quantizers never train on the whole corpus — k-means quality
    * saturates at a few hundred points per centroid, and at 100 TB a
    * per-round corpus pass is pure waste). ONE cluster job collects
    * the sample; every Lloyd round then runs on the driver over
    * ≤ [[trainSampleRows]] vectors — no per-round jobs at all.
    * Assignment is argmax-dot with first-wins ties (the exact
    * [[graft.functions.VecExprs.NearestCentroids]] contract), the
    * update normalizes each cluster's member SUM (spherical k-means),
    * empty clusters keep their previous centroid, and the loop stops
    * at `maxIter` or when the largest per-centroid movement drops
    * below `tol`. The DISTRIBUTED one-step update stays available as
    * [[centroidUpdate]] (E4, oracle-checked).
    */
  private def trainCentroidsPrepared(p: DataFrame, seed: Array[Array[Double]],
                                     maxIter: Int, tol: Double): Array[Array[Double]] = {
    if (seed.isEmpty) return seed
    val sample = sampleArrays(p, "v", trainSampleRows)
    if (sample.isEmpty) return seed
    val width = seed.head.length
    var cents = seed
    var iter = 0
    var moved = Double.MaxValue
    while (iter < maxIter && moved > tol) {
      val acc = Array.ofDim[Double](cents.length, width)
      sample.foreach { v =>
        // argmax dot, FIRST-wins on ties — the NearestCentroids
        // contract, so serve-time assignment agrees with training
        var best = 0; var bs = Double.NegativeInfinity
        var c = 0
        while (c < cents.length) {
          val row = cents(c)
          val d = math.min(v.length, row.length)
          var s = 0.0; var i = 0
          while (i < d) { s += v(i) * row(i); i += 1 }
          if (s > bs) { bs = s; best = c }
          c += 1
        }
        // a ragged corpus (vector longer than the sampled centroids)
        // contributes its in-range dims instead of throwing
        val a = acc(best)
        var i = 0
        val d = math.min(v.length, width)
        while (i < d) { a(i) += v(i); i += 1 }
      }
      val next = cents.zipWithIndex.map { case (old, c) =>
        val norm = normalizeRows(Array(acc(c))).head
        // an empty (or all-zero) cluster keeps its previous centroid
        if (norm.exists(_ != 0.0)) norm else old
      }
      moved = cents.zip(next).map { case (a, b) => l2(a, b) }.max
      cents = next
      iter += 1
    }
    cents
  }

  /** Deploy-time IVF index: the corpus written PARTITIONED BY LIST
    * (`lists/c_id=<i>/…`) next to its trained centroid matrix
    * (`centroids/`). [[ivfTopKFromIndex]] then reads ONLY the probed
    * lists' directories — Spark's partition pruning is the
    * storage-layer realization of IVF's "scan nprobe/nlist of the
    * data" (the in-memory flavor still scans the corpus once to
    * assign; the index pays that scan at WRITE time, once). */
  /** nlist = 0 → ~√n lists (FAISS's guideline), shared by the four
    * IVF-family builders and both index writers. The count is
    * footer-cheap on a bare table; pass nlist explicitly when the
    * input carries filters at scale. */
  private def autoNlist(emb: DataFrame, nlist: Int): Int =
    if (nlist > 0) nlist
    else math.max(4, math.round(math.sqrt(emb.count().toDouble)).toInt)

  /** `labelBuckets > 0` is E12's on-disk FILTERED layout: each list
    * subpartitions by `lbl = pmod(xxhash64(label), B)` —
    * `lists/c_id=…/lbl=…/ingest_batch=…` — so a label-equality serve
    * ([[filteredTopKFromIndex]]) PRUNES to its query labels' buckets
    * instead of post-filtering rows: the scan reads ~1/B of every
    * probed list for a single-tenant query batch, which is what makes
    * the selectivity-widened probe affordable at 100 TB (widening
    * multiplies probed lists by ~L; bucket pruning divides the bytes
    * per list by ~B — net list bytes ≈ the unfiltered serve's).
    * `meta/` freezes (label_buckets, n_labels): B so appends land in
    * the SAME bucket space, n_labels so serve-time probe widening is
    * a frozen build-time statistic, not a per-query corpus scan.
    * `labelBuckets = 0` (default) keeps the label-free layout. */
  def writeIvfIndex(emb: DataFrame, path: String, nlist: Int = 16,
                    trainIters: Int = 5, labelBuckets: Int = 0): Unit = {
    // the index writer is where the auto-size matters most (the
    // serve's probe cost is fixed by what was built)
    val nl = autoNlist(emb, nlist)
    val spark = emb.sparkSession
    val p = prepared(emb)
    val cents0 = collectCentroids(p, nl)
    val cents = if (trainIters > 0)
      trainCentroidsPrepared(p, cents0, trainIters, 1e-4) else cents0
    import spark.implicits._
    // base corpus is ingest batch −1; appendToIvfIndex adds later
    // batches under their own ingest_batch= subpartitions (one
    // consistent partition depth for the whole directory)
    val assigned = ivfAssignPrepared(p, cents)
      .select(col("vec_id"), col("label"), col("v"), col("n2"), col("c_id"),
        lit(-1L).as("ingest_batch"))
    // the artifact lands are independent of each other (centroids
    // from the trained matrix alone, meta from a label count over p,
    // lists from the assignment — disjoint dirs) — overlap them
    // (r17, guide §2.6, the writeGraphIndex posture); identical
    // files land either way, ledger init still strictly last
    val landCentroids = () =>
      cents.zipWithIndex.toSeq.map { case (c, i) => (i, c.toSeq) }
        .toDF("c_id", "c_v")
        .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    if (labelBuckets > 0)
      Par.run(Seq(
        landCentroids,
        () => {
          val nLabels = p.agg(countDistinct(col("label"))).first().getLong(0)
          Seq((labelBuckets, nLabels)).toDF("label_buckets", "n_labels")
            .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
        },
        () => assigned.withColumn("lbl", labelBucket(col("label"), labelBuckets))
          .write.partitionBy("c_id", "lbl", "ingest_batch")
          .mode("overwrite").parquet(s"$path/lists")))
    else
      Par.run(Seq(
        landCentroids,
        () => assigned.write.partitionBy("c_id", "ingest_batch")
          .mode("overwrite").parquet(s"$path/lists")))
    // an EMPTY ledger dir marks a ledgered index from birth — absent
    // means pre-ledger legacy (see committedBatches)
    initCommitLedger(spark, path)
  }

  /** The ONE spelling of the label-bucket key (write side and serve
    * side must hash identically or pruning silently misses rows). */
  private def labelBucket(label: Column, buckets: Int): Column =
    pmod(xxhash64(label), lit(buckets.toLong))

  /** The driver-resident metadata of one written IVF/IVFPQ index: the
    * stored coarse quantizer as the in-memory matrix every
    * assignment/probing kernel takes (bounded: nlist × dim doubles),
    * the `lists/` schema (so no serve or append pays a parquet
    * schema-inference job), and the frozen `meta/` row of a
    * label-bucketed layout. All three change only when the index is
    * REBUILT ([[writeIvfIndex]] / [[writeIvfPqIndex]]), and a rebuild
    * always lands new part files under `centroids/` — appends and
    * compaction never touch that directory — so `stamp`, the
    * (name, length, mtime) listing of `centroids/`, is the handle's
    * validity key. */
  private final class IvfHandle(val stamp: Seq[(String, Long, Long)],
                                val cents: Array[Array[Double]],
                                val listsSchema: org.apache.spark.sql.types.StructType,
                                val meta: Option[Row])

  /** Handles by qualified index path, least recently used first. A
    * few live indexes per process is the serving shape; the cap
    * bounds what an index-churning process keeps on the driver. */
  private val ivfHandles =
    new java.util.LinkedHashMap[String, IvfHandle](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, IvfHandle]): Boolean = size() > 32
    }

  /** The index's [[IvfHandle]], revalidated per call by ONE
    * filesystem listing of `centroids/` (no Spark job): a cached
    * handle whose stamp still matches is returned as is; otherwise
    * (first use, or a rebuild at the same path) the metadata is
    * re-read. The listing precedes the read, so a rebuild racing the
    * reload leaves a stamp that the next call no longer matches.
    * Concurrent callers may both reload — they read the same files
    * and store equal handles. */
  private def ivfHandle(spark: org.apache.spark.sql.SparkSession,
                        path: String): IvfHandle = {
    import org.apache.hadoop.fs.Path
    val dir = new Path(s"$path/centroids")
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val key = fs.makeQualified(dir).toString
    val stamp = fs.listStatus(dir).toSeq
      .map(s => (s.getPath.getName, s.getLen, s.getModificationTime)).sorted
    val cached = ivfHandles.synchronized(Option(ivfHandles.get(key)))
    cached.filter(_.stamp == stamp).getOrElse {
      val cents = spark.read.parquet(dir.toString).orderBy("c_id")
        .select("c_v").collect().map(_.getSeq[Double](0).toArray)
      // ingest_batch widened to long: partition inference types it
      // by the ids present (int while they fit), and an append may
      // later land an id past Int.MaxValue under this cached schema
      val inferred = spark.read.parquet(s"$path/lists").schema
      val listsSchema = org.apache.spark.sql.types.StructType(inferred.map(f =>
        if (f.name == "ingest_batch")
          f.copy(dataType = org.apache.spark.sql.types.LongType)
        else f))
      val metaDir = new Path(s"$path/meta")
      val meta =
        if (fs.exists(metaDir)) Some(spark.read.parquet(metaDir.toString).head())
        else None
      val h = new IvfHandle(stamp, cents, listsSchema, meta)
      ivfHandles.synchronized(ivfHandles.put(key, h))
      h
    }
  }

  /** The stored PQ codebook, back as the [m][ks][subLen] matrix
    * [[graft.functions.VecExprs.PqEncode]] takes (bounded: m × ks
    * unit subvectors). */
  private def readCodebookMat(spark: org.apache.spark.sql.SparkSession,
                              path: String): Array[Array[Array[Double]]] = {
    val rows = spark.read.parquet(s"$path/codebook")
      .select("j", "c_idx", "c_sub").collect()
    val m = rows.iterator.map(_.getInt(0)).max + 1
    val ks = rows.iterator.map(_.getInt(1)).max + 1
    val cb = Array.ofDim[Array[Double]](m, ks)
    rows.foreach(r => cb(r.getInt(0))(r.getInt(1)) = r.getSeq[Double](2).toArray)
    cb
  }

  /** Index entry points accept (vec_id, embedding[, label]): a batch
    * without the optional label lands with a null one, cast to the
    * EXISTING lists' label type — a hardcoded type here would leave
    * the directory with mixed parquet types for the same column and
    * break any later read that materializes it. */
  private def withLabel(emb: DataFrame,
                        existing: org.apache.spark.sql.types.StructType): DataFrame =
    if (emb.columns.contains("label")) {
      // cast a PRESENT label to the lists' stored type too (r11):
      // labelBucket hashes by physical type, so an int-labeled index
      // appended with string labels would bucket "2" away from 2 —
      // rows landing in partitions no serve ever prunes to, a silent
      // recall hole rather than an error. And the cast itself must
      // fail LOUDLY: an uncastable label (say "cat-a" into an int
      // index) would cast to null and write rows no filtered serve's
      // label equality can ever match — permanently unreachable, the
      // very hole the cast exists to close. Batches are bounded by
      // the ingest contract, so the integrity job is cheap.
      val t = existing("label").dataType
      // try_cast for the probe: under ANSI the plain cast THROWS on
      // malformed input mid-write — this require fires first with
      // the targeted message (and catches non-ANSI silent nulls too).
      // Skipped when the types already match (the steady state): an
      // identity cast cannot null, and the probe is a full-batch job
      if (emb.schema("label").dataType != t)
        require(emb.filter(col("label").isNotNull &&
            expr(s"try_cast(label AS ${t.sql})").isNull).isEmpty,
          s"label values not castable to the index's stored type $t " +
            "would become unreachable null-label rows — fix the batch")
      emb.withColumn("label", col("label").cast(t))
    } else emb.withColumn("label",
      lit(null).cast(existing("label").dataType))

  /** Commit-record ledger for the IVF append family (r12 — the
    * [[graft.operators.TextAnalysis.appendToBm25Index]]
    * meta-as-commit-record posture, applied to the ANN side): an
    * append's `lists/` write lands one partition per touched coarse
    * list, so a crash mid-write leaves a PARTIAL batch — some lists
    * hold the batch's vectors, others never got theirs. Nothing is
    * mis-scored (every written vector ranks correctly), but a
    * filtered serve would SILENTLY miss the unwritten ones — a
    * recall hole no gate sees. The ledger makes the batch's
    * visibility atomic: the zero-byte marker
    * `commits/ingest_batch=N` is created LAST (one atomic filesystem
    * call — no Spark job, r12 review), and the serves' prune helpers
    * read only committed batches (base -1 is always committed), so a
    * crashed append stays invisible until its replay re-lands the
    * batch in full. Marker re-creation is the replay's idempotence. */
  private def writeCommitRecord(spark: org.apache.spark.sql.SparkSession,
                                path: String, ingestBatch: Long): Unit = {
    val (fs, dir) = commitsDir(spark, path)
    fs.mkdirs(dir)
    fs.create(new org.apache.hadoop.fs.Path(dir, s"ingest_batch=$ingestBatch"),
      true).close()
  }

  /** An EMPTY ledger dir, created at base-write time: marks the index
    * as ledgered from birth, so "ledger absent" is unambiguous — a
    * PRE-LEDGER legacy index whose appends were all visible by
    * construction, not a fresh index whose first append crashed. */
  private def initCommitLedger(spark: org.apache.spark.sql.SparkSession,
                               path: String): Unit = {
    val (fs, dir) = commitsDir(spark, path)
    // mkdirs-then-clear, never delete-then-recreate: a crash between
    // a delete and a recreate would leave the dir ABSENT, flipping
    // the index into pre-ledger legacy mode where a future crashed
    // append is serve-visible (r12 review). mkdirs is idempotent and
    // the clear invalidates old batch ids one marker at a time.
    fs.mkdirs(dir)
    if (fs.exists(dir))
      fs.listStatus(dir).foreach(st => fs.delete(st.getPath, true))
  }

  private def commitsDir(spark: org.apache.spark.sql.SparkSession,
                         path: String) = {
    val dir = new org.apache.hadoop.fs.Path(s"$path/commits")
    (dir.getFileSystem(spark.sessionState.newHadoopConf()), dir)
  }

  /** First append to a PRE-LEDGER legacy index: back-fill a marker
    * for every batch already in the lists (they were all visible
    * before the ledger existed — ledgering only the new batch would
    * silently drop them from serves). One-time, append-path only:
    * serves never pay this. */
  /** `listsDir` names the index's batch-partitioned data dir —
    * "lists" for the IVF family, "adj" for the graph index (r14
    * review: the hardcoded lists path made a ledger-less graph index
    * permanently un-appendable — the adoption read a nonexistent
    * directory). */
  private def adoptLegacyLedger(spark: org.apache.spark.sql.SparkSession,
                                path: String,
                                listsDir: String = "lists"): Unit = {
    val (fs, dir) = commitsDir(spark, path)
    if (!fs.exists(dir)) {
      // cast: partition-value inference may type the column INT
      val ids = spark.read.parquet(s"$path/$listsDir")
        .select(col("ingest_batch").cast("long")).distinct()
        .collect().map(_.getLong(0)).filter(_ != -1L)
      // ATOMIC adoption (r12 review): build the full marker set in a
      // temp dir and rename it in — a crash (or a concurrent append)
      // mid-backfill must never leave a ledger that exists but lacks
      // some legacy batch's marker, which would silently drop that
      // batch from serves and let compaction DELETE it. The tmp name
      // is PER-ATTEMPT unique (second review pass: a shared tmp path
      // lets a racing adopter wipe this one's half-built set, whose
      // remaining creates then rename an INCOMPLETE ledger in); a
      // crashed attempt's orphan dir is tiny and swept by the next
      // base rewrite's overwrite of the index dir
      val tmp = new org.apache.hadoop.fs.Path(
        s"$path/commits_adopting-${java.util.UUID.randomUUID()}")
      fs.mkdirs(tmp)
      ids.foreach(b => fs.create(
        new org.apache.hadoop.fs.Path(tmp, s"ingest_batch=$b"), true).close())
      if (!fs.rename(tmp, dir)) {
        // lost the adoption race to a concurrent append — its ledger
        // (same fs listing, same ids) is already in place
        require(fs.exists(dir),
          s"legacy-ledger adoption rename $tmp -> $dir failed with no " +
            "ledger present — inspect the index before appending")
        fs.delete(tmp, true): Unit
      } else {
        // HDFS move-into-dir semantics: a racing creator's dir made
        // the rename NEST tmp inside it. Every creator path runs this
        // adoption first, so the winner's marker set is complete —
        // the nested copy is redundant (markers filter on the
        // ingest_batch= prefix, so it is invisible either way)
        val nested = new org.apache.hadoop.fs.Path(dir, tmp.getName)
        if (fs.exists(nested)) fs.delete(nested, true): Unit
      }
    }
  }

  /** The committed ingest-batch ids (always including the base /
    * compacted -1) — read straight from the marker-file names with
    * ONE filesystem listing, no Spark job on the serve path (r12
    * review). None = a legacy index written before the ledger
    * existed: every batch stays visible, exactly as it was then
    * (gating them would silently drop long-lived streaming ingests
    * on upgrade). */
  private def committedBatches(spark: org.apache.spark.sql.SparkSession,
                               path: String): Option[Seq[Long]] = {
    val (fs, dir) = commitsDir(spark, path)
    if (!fs.exists(dir)) None
    else Some((fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("ingest_batch="))
      .map { name =>
        // refuse-loud, not skip: a foreign/truncated marker name
        // (e.g. `ingest_batch=3.tmp` left by tooling) would otherwise
        // throw a bare NumberFormatException on EVERY serve with no
        // protocol-level diagnostic (r12 ADVICE)
        name.stripPrefix("ingest_batch=").toLongOption.getOrElse(
          sys.error(s"foreign marker file '$name' in commits dir $dir " +
            "— this ledger holds only ingest_batch=<long> marker " +
            "files (see writeCommitRecord); remove the stray file " +
            "before serving"))
      } :+ -1L).distinct)
  }

  /** The serve-side lists scan: committed batches only (see
    * [[writeCommitRecord]]), with the optional replayed-batch
    * exclusion the streaming flows use. ingest_batch is a partition
    * column, so both filters prune partitions — an uncommitted
    * partial batch costs the serve nothing, not even its files. */
  private def committedLists(spark: org.apache.spark.sql.SparkSession,
                             path: String,
                             excludeIngestBatch: Option[Long],
                             h: IvfHandle,
                             only: Option[Seq[String]] = None): DataFrame = {
    // the handle's schema: file listing only, no schema-inference job
    val reader = spark.read.schema(h.listsSchema)
    val base = only.fold(reader.parquet(s"$path/lists")) { subs =>
      val dirs = existingListDirs(spark, path, subs)
      if (dirs.isEmpty) reader.parquet(s"$path/lists").filter(lit(false))
      else reader.option("basePath", s"$path/lists").parquet(dirs: _*)
    }
    val lists = committedBatches(spark, path).fold(base)(ids =>
      base.filter(col("ingest_batch").isin(ids: _*)))
    excludeIngestBatch.fold(lists)(b =>
      lists.filter(col("ingest_batch") =!= lit(b)))
  }

  /** The directories `lists/<sub>` that exist, for partition
    * sub-paths such as `c_id=3` or `c_id=3/lbl=1`: one glob, which
    * lists `lists/` (and each matched `c_id=` directory for a
    * two-level pattern) once. A probed list with no members has no
    * directory, and a read of a missing path fails. */
  private def existingListDirs(spark: org.apache.spark.sql.SparkSession,
                               path: String, subs: Seq[String]): Seq[String] =
    if (subs.isEmpty) Nil
    else {
      import org.apache.hadoop.fs.Path
      val pattern = new Path(s"$path/lists/{${subs.distinct.mkString(",")}}")
      val fs = pattern.getFileSystem(spark.sessionState.newHadoopConf())
      Option(fs.globStatus(pattern)).toSeq.flatten
        .filter(_.isDirectory).map(_.getPath.toString)
    }

  /** The written index's vector rows — COMMITTED batches only (the
    * [[writeCommitRecord]] contract), in the prepared
    * `(vec_id, label, v, n2)` shape. The read every non-serve
    * consumer of the lists should use (e.g.
    * [[graft.operators.Retrieval.serveFromIndex]]'s MMR vector
    * source), so an uncommitted partial batch is invisible there
    * exactly as it is to the serves. */
  def readIndexVectors(spark: org.apache.spark.sql.SparkSession,
                       path: String): DataFrame =
    committedLists(spark, path, None, ivfHandle(spark, path))
      .select(col("vec_id"), col("label"), col("v"), col("n2"))

  /** Append-side half of the no-concurrent-maintenance contract: a
    * compaction holds the index's sentinel lock for its whole run
    * (see [[IndexMaintenance]]); an append that slipped in mid-swap
    * would recreate `lists/` and strand the pre-compaction segments
    * in `lists_old` — silent recall loss. Fail loudly instead. */
  private def assertNoMaintenance(spark: org.apache.spark.sql.SparkSession,
                                  path: String, what: String): Unit = {
    import org.apache.hadoop.fs.Path
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    IndexMaintenance.assertUnlocked(fs, IndexMaintenance.lockFile(root), what)
  }

  /** Incremental IVF index maintenance — the ANN dual of
    * [[graft.operators.Dedup.appendToSignatureTable]]: a new vector
    * batch is assigned with the STORED coarse quantizer (never
    * retrained — the existing lists' geometry is frozen, so old and
    * new members rank identically at serve time) and lands in the
    * same `c_id=` partition layout; the next [[ivfTopKFromIndex]]
    * sees the arrivals with no index rebuild. Re-train + full rewrite
    * ([[writeIvfIndex]]) stays the periodic compaction job when drift
    * accumulates.
    *
    * `ingestBatch` keys the write: each batch lands under its own
    * `ingest_batch=` subpartition via DYNAMIC partition overwrite, so
    * re-running the same id REPLACES that batch's files instead of
    * duplicating rows — the idempotence [[graft.streaming.EventStream
    * .streamingAnnIngest]] needs under foreachBatch's at-least-once
    * replay (a plain append would permanently duplicate a replayed
    * batch's vectors in the index). Distinct batches use distinct
    * ids; [[writeIvfIndex]] writes the base corpus as batch −1.
    *
    * Atomicity (r12): the batch's visibility is gated on its
    * [[writeCommitRecord commit record]], written LAST — a crash
    * mid-append leaves the partial batch invisible to every serve
    * (instead of a silent recall hole) until the replay re-lands it
    * in full, and compaction discards it. */
  def appendToIvfIndex(emb: DataFrame, path: String,
                       ingestBatch: Long): Unit = {
    // -1 is the BASE partition ([[writeIvfIndex]]'s write, and what
    // [[compactIvfIndex]] folds into): dynamic overwrite keyed on it
    // would REPLACE base-corpus rows in every touched list — silent
    // recall destruction, the worst failure mode an append can have
    // (the appendToBm25Index guard, where the blast radius is merely
    // a duplicated segment, exists for the same reason)
    require(ingestBatch != -1L,
      "ingest_batch -1 is reserved for the base/compacted lists — " +
        "an append keyed on it would overwrite base index data")
    val spark = emb.sparkSession
    assertNoMaintenance(spark, path, "appendToIvfIndex")
    adoptLegacyLedger(spark, path)
    val h = ivfHandle(spark, path)
    val existing = h.listsSchema
    val assigned = ivfAssignPrepared(prepared(withLabel(emb, existing)), h.cents)
      .select(col("vec_id"), col("label"), col("v"), col("n2"), col("c_id"),
        graft.functions.ServeExprs.longParam(spark, ingestBatch).as("ingest_batch"))
    // a label-bucketed index (E12 layout) buckets arrivals with the
    // FROZEN build-time B from meta/ — a drifted bucket count would
    // scatter one label across buckets and break serve-time pruning
    if (existing.fieldNames.contains("lbl")) {
      val bkts = labelMeta(h, path).getAs[Int]("label_buckets")
      assigned.withColumn("lbl", labelBucket(col("label"), bkts))
        .write.partitionBy("c_id", "lbl", "ingest_batch")
        .option("partitionOverwriteMode", "dynamic")
        .mode("overwrite").parquet(s"$path/lists")
    } else
      assigned.write.partitionBy("c_id", "ingest_batch")
        .option("partitionOverwriteMode", "dynamic")
        .mode("overwrite").parquet(s"$path/lists")
    // the batch's COMMIT RECORD — last, so a crash above leaves the
    // partial batch invisible to serves instead of a silent recall hole
    writeCommitRecord(spark, path, ingestBatch)
  }

  /** Incremental IVFPQ index maintenance: assign with the stored
    * coarse quantizer AND encode with the stored codebook (both
    * frozen — codes stay comparable with the lists' existing codes
    * under the same ADC tables). Zero vectors are excluded exactly as
    * at write time; `ingestBatch` as in [[appendToIvfIndex]]. */
  def appendToIvfPqIndex(emb: DataFrame, path: String,
                         ingestBatch: Long): Unit = {
    require(ingestBatch != -1L,
      "ingest_batch -1 is reserved for the base/compacted lists — " +
        "an append keyed on it would overwrite base index data")
    val spark = emb.sparkSession
    assertNoMaintenance(spark, path, "appendToIvfPqIndex")
    adoptLegacyLedger(spark, path)
    val h = ivfHandle(spark, path)
    val cbMat = readCodebookMat(spark, path)
    graft.functions.VecExprs.withPqEncode(spark, cbMat) { fn =>
      ivfAssignPrepared(prepared(withLabel(emb, h.listsSchema)), h.cents)
        .filter(col("n2") > 0)
        .withColumn("u", transform(col("v"), x => x / sqrt(col("n2"))))
        .withColumn("codes", call_function(fn, col("u")))
        .select(col("vec_id"), col("label"), col("v"), col("n2"),
          col("codes"), col("c_id"),
          graft.functions.ServeExprs.longParam(spark, ingestBatch).as("ingest_batch"))
        .write.partitionBy("c_id", "ingest_batch")
        .option("partitionOverwriteMode", "dynamic")
        .mode("overwrite").parquet(s"$path/lists")
    }
    // commit record last — see appendToIvfIndex
    writeCommitRecord(spark, path, ingestBatch)
  }

  /** Compact an index's ingest partitions: fold every batch's files
    * back into the base partition (−1), one file per coarse list,
    * WITHOUT touching assignments or quantizers — the cheap
    * small-files cleanup after N streaming ingests (each micro-batch
    * leaves a file per touched list; a thousand batches means a
    * thousand tiny files per list and read amplification at serve).
    * [[writeIvfIndex]]'s re-train + rewrite stays the HEAVY
    * compaction for quantizer drift. Works for both IVF and IVFPQ
    * layouts (the row schema passes through untouched).
    *
    * The swap is rename-based (write `lists_compacting`, move the old
    * dir away, move the new one in) — run it in a maintenance window,
    * not concurrently with serves or appends. No-overlap is ENFORCED
    * against appends (r12): the whole run holds the index's
    * maintenance-lock sentinel, which [[appendToIvfIndex]] /
    * [[appendToIvfPqIndex]] check at entry — see
    * [[IndexMaintenance]]; a failed rename throws
    * with both paths intact, and a crash BETWEEN the renames is
    * healed on the next call: `lists/` missing next to a complete
    * `lists_compacting/` (the rename order guarantees the tmp write
    * finished) resumes the swap forward; missing next to only
    * `lists_old/` rolls back. */
  def compactIvfIndex(spark: org.apache.spark.sql.SparkSession,
                      path: String): Unit = {
    import org.apache.hadoop.fs.Path
    val lists = new Path(s"$path/lists")
    val tmp = new Path(s"$path/lists_compacting")
    val old = new Path(s"$path/lists_old")
    val fs = lists.getFileSystem(spark.sessionState.newHadoopConf())
    // the maintenance lock: appends check it at entry, so a
    // mis-scheduled concurrent append dies loudly instead of
    // recreating `lists` between the swap's renames (r11 ADVICE)
    IndexMaintenance.withLock(fs, IndexMaintenance.lockFile(new Path(path))) {
      // crash recovery from a previous compaction that died mid-swap
      // (the shared protocol — see IndexMaintenance)
      IndexMaintenance.heal(fs, lists, tmp, old)
      // only COMMITTED batches fold (writeCommitRecord contract):
      // folding a crash-orphaned partial batch into -1 would make its
      // serve-invisible partial membership permanent. The discarded
      // batch id may then be replayed in full.
      // repartition on the list id: one shuffle sized by nlist, one
      // output file per list — the ideal serve layout (a label-bucketed
      // E12 layout keeps its lbl subpartitioning through compaction)
      val folded = committedBatches(spark, path)
        .fold(spark.read.parquet(lists.toString))(ids =>
          spark.read.parquet(lists.toString)
            .filter(col("ingest_batch").isin(ids: _*)))
        .withColumn("ingest_batch", lit(-1L))
        .repartition(col("c_id"))
      val partCols =
        if (folded.columns.contains("lbl")) Seq("c_id", "lbl", "ingest_batch")
        else Seq("c_id", "ingest_batch")
      folded.write.partitionBy(partCols: _*)
        .mode("overwrite").parquet(tmp.toString)
      IndexMaintenance.swap(fs, lists, tmp, old)
      // every committed batch now lives in -1 (always committed), so
      // the ledger resets to EMPTY — not absent, which would flip the
      // index into pre-ledger legacy mode where a future crashed
      // append becomes visible (r12 review). A crash before this
      // reset only leaves stale ids matching no partition — harmless.
      initCommitLedger(spark, path)
    }
  }

  /** The ONE probe-and-prune spelling every index serve and the
    * [[probedListFiles]] audit share: probe the index's cached coarse
    * quantizer ([[ivfHandle]]) on the driver with the zero-norm-filtered
    * queries ([[probedQueries]] — a zero query has no defined ranking,
    * and its degenerate probe rows would inflate the probed set,
    * reading list partitions no real query needs), and return
    * (probed queries, prunedLists) where the list scan reads only the
    * probed `lists/c_id=<id>` directories, plus the optional
    * replayed-batch exclusion. The probed ids are paths, not a
    * `c_id IN (…)` literal: a literal partition predicate compiled a
    * new predicate class for every probe set. Nothing here schedules a
    * Spark job beyond the query rows' collect (none for a local query
    * frame): the centroids and the lists schema come from the handle,
    * the probed ids from the driver probe, the committed batches from
    * one ledger listing. The audit MEASURING the same scan the serves
    * PLAN is the point — a hand-copied spelling de-syncs silently. */
  private[graft] def probeAndPrune(spark: org.apache.spark.sql.SparkSession,
                                   path: String, queries: DataFrame, nprobe: Int,
                                   excludeIngestBatch: Option[Long] = None)
      : (Seq[(Row, Array[Int])], DataFrame) = {
    val h = ivfHandle(spark, path)
    val probed = probedQueries(queries, h.cents, nprobe)
    val probedIds = probed.flatMap(_._2).distinct
    val lists = committedLists(spark, path, excludeIngestBatch, h,
      Some(probedIds.map(c => s"c_id=$c")))
    (probed, lists)
  }

  /** The non-zero prepared query rows `(vec_id, v, n2)`, collected once
    * (the serve broadcast them anyway), each with the list ids
    * [[localProbes]] assigns it on the DRIVER. */
  private def probedQueries(queries: DataFrame, cents: Array[Array[Double]],
                            nprobe: Int): Seq[(Row, Array[Int])] =
    preparedQueries(queries).filter(col("n2") > 0).collect().toSeq
      .map(r => (r, localProbes(r.getSeq[Double](1), cents, nprobe)))

  /** `probeList` over the non-zero prepared queries, from
    * [[probedQueries]]: a local relation `(q_id, q_v, q_n2, c_id)`
    * with exactly probeList's rows (spec-pinned, ties and zero-norm
    * exclusion included). */
  private[graft] def queryProbes(queries: DataFrame,
                                 cents: Array[Array[Double]],
                                 nprobe: Int): DataFrame =
    probeFrame(queries, probedQueries(queries, cents, nprobe))

  /** [[probedQueries]]' rows as the probe-list relation, one row per
    * (query row, probed list). */
  private def probeFrame(queries: DataFrame,
                         probed: Seq[(Row, Array[Int])]): DataFrame = {
    import org.apache.spark.sql.types._
    val q = preparedQueries(queries)
    val rows = probed.flatMap { case (r, cs) =>
      cs.toSeq.map(c => Row(r.get(0), r.get(1), r.get(2), c))
    }
    queries.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*),
      StructType(Seq(
        StructField("q_id", q.schema("vec_id").dataType),
        StructField("q_v", q.schema("v").dataType),
        StructField("q_n2", DoubleType),
        StructField("c_id", IntegerType, nullable = false))))
  }

  /** One query vector's `nprobe` nearest centroids on the driver: the
    * EXACT [[graft.functions.VecExprs.NearestCentroids]] expression
    * probeList evaluates (same class, same insertion top-n, first-wins
    * ties — a driver mirror by construction, never a re-spelling), so
    * probe results are bit-identical. No centroids, no probes (the
    * [[probeList]] empty-index rule). */
  private def localProbes(v: Seq[Double], cents: Array[Array[Double]],
                          nprobe: Int): Array[Int] =
    if (cents.isEmpty) Array.empty
    else graft.functions.VecExprs.nearestCentroidsLocal(v, cents, nprobe)

  /** Partition-pruning audit quantity for the index serves: the list
    * files a serve for `queries` at `nprobe` ACTUALLY reads — distinct
    * `input_file_name()` over the same [[probeAndPrune]] scan
    * [[ivfTopKFromIndex]] plans. (`DataFrame.inputFiles` is useless
    * here: it lists the whole relation, ignoring partition pruning.)
    * Bench asserts this is strictly fewer files than the index holds —
    * the "scan nprobe/nlist of the data" claim, measured. */
  def probedListFiles(spark: org.apache.spark.sql.SparkSession, path: String,
                      queries: DataFrame, nprobe: Int = 4): Array[String] = {
    import spark.implicits._
    val (_, lists) = probeAndPrune(spark, path, queries, nprobe)
    lists.select(input_file_name()).distinct().as[String].collect()
  }

  /** Query a written IVF index: probe the stored quantizer, then read
    * ONLY the probed partitions (the scan reads the probed `c_id=`
    * directories — spec-proved by [[probedListFiles]], which measures
    * the same scan). `queries` is any frame with (vec_id, embedding) —
    * the external query set of a real deployment. The probe runs on
    * the driver against the index's cached quantizer
    * ([[probeAndPrune]]), and the serve is ONE Spark job with no
    * exchange: the pruned list scan scores each row against the query
    * rows that probed its list — the probe list, the query vectors and
    * norms ride the scan as plan reference objects
    * ([[graft.functions.ServeExprs]]: `LongsForKey` + explode ≡ the
    * probe-list equi-join, `VecForKey` / `N2ForKey` feed the same
    * cosine expression) — and each task keeps its k best rows per
    * query under the rank order (cos_sim desc, vec_id) with Spark's
    * ordering for it ([[bestPerQuery]]). The driver merges the tasks'
    * rows per q_id under the same ordering: rows and ranks equal the
    * broadcast join + `row_number` window this replaced
    * (`IndexServeSpec`), and the merge reads at most
    * queries × k × tasks rows. The answer is a local relation
    * `(q_id, n_id, cos_sim, rank)`, computed when this returns; its
    * collect runs no job.
    *
    * `selfExclude` drops candidates whose vec_id equals the query's —
    * right when queries ARE corpus members (don't return yourself);
    * set false when query ids live in a separate namespace, where an
    * id-equal corpus vector is a legitimate neighbor, not "self". It
    * needs integral ids on both sides (compared as longs, what Spark's
    * `=!=` compares after widening).
    *
    * `excludeIngestBatch`: drop that ingest partition from the serve
    * (partition-pruned). [[graft.streaming.EventStream
    * .streamingAnnIngest]] passes its CURRENT batch id: under
    * crash-replay the batch's vectors are already appended, and
    * without the exclusion every replayed query would match its own
    * copy at cos 1.0 rank 1, displacing the real neighbors. */
  def ivfTopKFromIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                       queries: DataFrame, k: Int,
                       nprobe: Int = 4, selfExclude: Boolean = true,
                       excludeIngestBatch: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{Ascending, BoundReference,
      Descending, InterpretedOrdering, SortOrder}
    import org.apache.spark.sql.types._
    import graft.functions.ServeExprs._
    import graft.functions.VecExprs.withTempFunction
    // zero-norm rows out on BOTH sides (undefined cosine): queries
    // inside probeAndPrune; a zero INDEXED vector is never a
    // legitimate cosine neighbor either
    val (probed, lists0) =
      probeAndPrune(spark, path, queries, nprobe, excludeIngestBatch)
    val lists = lists0.filter(col("n2") > 0)
    val (qType, nType) = (queries.schema("vec_id").dataType,
      lists0.schema("vec_id").dataType)
    def integral(t: DataType) = t match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    require(!selfExclude || (integral(qType) && integral(nType)),
      s"ivfTopKFromIndex selfExclude compares integral ids; got query vec_id " +
        s"${qType.simpleString} and index vec_id ${nType.simpleString}")
    // the window's partitions: one per distinct q_id; a query row's
    // position in `probed` is its key in the reference tables. Under
    // selfExclude a null q_id matches nothing (`=!=` is null there).
    val qIds = probed.map(_._1.get(0)).distinct
    val groupOf = {
      val g = qIds.zipWithIndex.toMap
      probed.map(p => g(p._1.get(0))).toArray
    }
    val live = probed.indices.filter(i => !selfExclude || !probed(i)._1.isNullAt(0))
    // the rank window's order over the scan's (pos, vec_id, cos_sim)
    val order = new InterpretedOrdering(Seq(
      SortOrder(BoundReference(2, DoubleType, nullable = true), Descending),
      SortOrder(BoundReference(1, nType, nullable = true), Ascending)))
    val best =
      if (live.isEmpty || k <= 0) Array.empty[InternalRow]
      else {
        val probeTable = LongsTable.byKey(
          for (i <- live; c <- probed(i)._2.toSeq) yield (i.toLong, c.toLong))
        val qTable = VecTable(live.map(i =>
          (i.toLong, probed(i)._1.getSeq[Double](1), probed(i)._1.getDouble(2))))
        // the functions resolve into the plan as it is built, so the
        // plan runs after their names are dropped
        val scored =
          withTempFunction(spark, "graft_probes", a => LongsForKey(a(0), probeTable)) { pFn =>
          withTempFunction(spark, "graft_qvec", a => VecForKey(a(0), qTable)) { qvFn =>
          withTempFunction(spark, "graft_qn2", a => N2ForKey(a(0), qTable)) { qnFn =>
            val cand = lists
              .select(explode(call_function(pFn, col("c_id").cast("long"))).as("pos"),
                col("vec_id"), col("v"), col("n2"))
            val kept = if (!selfExclude) cand else {
              val self = LongPairSet(live.map(i =>
                (i.toLong, probed(i)._1.getAs[Number](0).longValue)))
              withTempFunction(spark, "graft_self", a => PairKnown(a(0), a(1), self)) { sFn =>
                cand.filter(col("vec_id").isNotNull &&
                  !call_function(sFn, col("pos"), col("vec_id").cast("long")))
              }
            }
            kept.select(col("pos"), col("vec_id"),
              round(cosineFromParts(dot(call_function(qvFn, col("pos")), col("v")),
                call_function(qnFn, col("pos")), col("n2")), 6).as("cos_sim"))
          }}}
        val qe = scored.queryExecution
        org.apache.spark.sql.execution.SQLExecution.withNewExecutionId(qe, Some("collect")) {
          qe.toRdd.mapPartitions(bestPerQuery(_, groupOf, k, order)).collect()
        }
      }
    val toScala = org.apache.spark.sql.catalyst.CatalystTypeConverters
      .createToScalaConverter(nType)
    val rows = best.groupBy(r => groupOf(r.getLong(0).toInt)).toSeq.flatMap {
      case (g, rs) => rs.sorted(order).take(k).zipWithIndex.map { case (r, i) =>
        Row(qIds(g), toScala(r.get(1, nType)), r.get(2, DoubleType), i + 1)
      }
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(Seq(
      StructField("q_id", qType), StructField("n_id", nType),
      StructField("cos_sim", DoubleType),
      StructField("rank", IntegerType, nullable = false))))
  }

  /** One scan task's k best rows per query group under `order`: rows
    * are `(pos, vec_id, cos_sim)`, `pos` a query row whose group is
    * `groupOf(pos)`. A bounded heap per group, worst row on top; a
    * row that ties the worst kept one under `order` has equal rank
    * keys, so either may stay. */
  private def bestPerQuery(rows: Iterator[InternalRow], groupOf: Array[Int],
                           k: Int, order: Ordering[InternalRow]): Iterator[InternalRow] = {
    import scala.jdk.CollectionConverters._
    val worstFirst = order.reverse
    val heaps = scala.collection.mutable.HashMap.empty[Int,
      java.util.PriorityQueue[InternalRow]]
    rows.foreach { r =>
      val heap = heaps.getOrElseUpdate(groupOf(r.getLong(0).toInt),
        new java.util.PriorityQueue(k + 1, worstFirst))
      if (heap.size < k) heap.add(r.copy())
      else if (order.lt(r, heap.peek())) { heap.poll(); heap.add(r.copy()) }
    }
    heaps.valuesIterator.flatMap(_.iterator.asScala)
  }

  /** E12's on-disk serve: label-FILTERED top-k from an index written
    * with `labelBuckets > 0` — the predicate PRUNES partitions instead
    * of post-filtering rows. Three prunings compose on the one list
    * scan: the probed `c_id=` directories (IVF's "read nprobe/nlist"),
    * within each only the query labels' `lbl=` buckets (the filter's
    * "read ~1/B of each probed list"), and the optional replayed-batch
    * exclusion — spec-proved with the input-file set. Probe
    * count widens by the FROZEN build-time label cardinality from
    * `meta/` (nprobe·L, capped at nlist — [[ivfTopKFiltered]]'s
    * selectivity correction without its per-serve corpus aggregate);
    * within a bucket, exact label equality re-checks candidates (B is
    * a hash space — collisions share a bucket but never a result).
    * Queries must carry (vec_id, embedding, label); null-label
    * queries return nothing (null equals no label — the
    * [[filteredTopK]] contract). */
  def filteredTopKFromIndex(spark: org.apache.spark.sql.SparkSession,
                            path: String, queries: DataFrame, k: Int,
                            nprobe: Int = 4, selfExclude: Boolean = true,
                            excludeIngestBatch: Option[Long] = None): DataFrame = {
    val (probes, lists) =
      filteredPrune(spark, path, queries, nprobe, excludeIngestBatch)
    val wRank = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
    lists.as("c").join(broadcast(probes.as("p")),
        col("c.c_id") === col("p.c_id") && col("c.lbl") === col("p.q_lbl"))
      .filter(col("c.label") === col("p.q_label") &&
        (if (selfExclude) col("p.q_id") =!= col("c.vec_id") else lit(true)))
      .select(col("p.q_id").as("q_id"), col("c.vec_id").as("vec_id"),
        round(cosineFromParts(dot(col("p.q_v"), col("c.v")),
          col("p.q_n2"), col("c.n2")), 6).as("cos_sim"))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("vec_id").as("n_id"), col("cos_sim"), col("rank"))
  }

  /** The probe-widen-and-doubly-prune spelling [[filteredTopKFromIndex]]
    * and [[filteredListFiles]] share (the [[probeAndPrune]] rationale:
    * the audit must MEASURE the same scan the serve PLANS). Returns
    * (probes with q_label/q_lbl attached, doubly-pruned lists). */
  private def filteredPrune(spark: org.apache.spark.sql.SparkSession,
                            path: String, queries: DataFrame, nprobe: Int,
                            excludeIngestBatch: Option[Long])
      : (DataFrame, DataFrame) = {
    import org.apache.spark.sql.types._
    val h = ivfHandle(spark, path)
    val meta = labelMeta(h, path)
    val bkts = meta.getAs[Int]("label_buckets")
    val nLabels = math.max(1L, meta.getAs[Long]("n_labels"))
    val probeN = math.min(h.cents.length.toLong, nprobe.toLong * nLabels).toInt
    // query labels cast to the lists' stored type (the withLabel
    // rationale, serve side): a string-typed query label would hash
    // into a different bucket space and prune to nothing
    val storedLabelType = h.listsSchema("label").dataType
    // loud, not silent (the withLabel rationale): an uncastable query
    // label would cast to null and fall to the isNotNull filter — an
    // empty page instead of an error. Query frames are bounded.
    if (queries.schema("label").dataType != storedLabelType)
      require(queries.filter(col("label").isNotNull &&
          expr(s"try_cast(label AS ${storedLabelType.sql})").isNull).isEmpty,
        s"query label values not castable to the index's stored type " +
          s"$storedLabelType would silently prune to nothing — fix the query")
    val q = prepared(queries.withColumn("label",
        col("label").cast(storedLabelType)))
      .filter(col("n2") > 0 && col("label").isNotNull)
      .select(col("vec_id"), col("v"), col("n2"), col("label"),
        labelBucket(col("label"), bkts).as("q_lbl"))
    // probes on the driver ([[queryProbes]]), each probe row carrying
    // the label and bucket of every query row with its id — the rows
    // a q_id equi-join of the probe list with the queries yields
    // (null ids join nothing)
    val qRows = q.collect().filterNot(_.isNullAt(0))
    val byId = qRows.groupBy(_.get(0))
    val rows = qRows.toSeq.flatMap { r =>
      for {
        c <- localProbes(r.getSeq[Double](1), h.cents, probeN).toSeq
        l <- byId(r.get(0)).toSeq
      } yield Row(r.get(0), r.get(1), r.get(2), c, l.get(3), l.get(4))
    }
    val probes = spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      StructType(Seq(
        StructField("q_id", q.schema("vec_id").dataType),
        StructField("q_v", q.schema("v").dataType),
        StructField("q_n2", DoubleType),
        StructField("c_id", IntegerType, nullable = false),
        StructField("q_label", storedLabelType),
        StructField("q_lbl", q.schema("q_lbl").dataType))))
    // both pruning sets are bounded driver metadata: probed ids by
    // nlist, query buckets by min(distinct query labels, B); read as
    // `c_id=<id>/lbl=<bucket>` directories (the probeAndPrune reason)
    val probedIds = rows.map(_.getInt(3)).distinct
    val qLbls = qRows.map(_.get(4)).distinct.toSeq
    val lists = committedLists(spark, path, excludeIngestBatch, h,
        Some(for (c <- probedIds; l <- qLbls) yield s"c_id=$c/lbl=$l"))
      .filter(col("n2") > 0)
    (probes, lists)
  }

  /** The frozen `meta/` row of a label-bucketed index, from its handle. */
  private def labelMeta(h: IvfHandle, path: String): Row =
    h.meta.getOrElse(throw new IllegalArgumentException(
      s"$path has no meta/ — it was written without labelBuckets, so it " +
        "has no label-bucket layout to serve or append to"))

  /** Pruning audit for the filtered serve — the [[probedListFiles]]
    * dual over the SAME scan [[filteredTopKFromIndex]] plans: the
    * list files a filtered serve actually reads. The spec asserts
    * this shrinks against the unfiltered probed set for a
    * single-label query batch — the ~1/B claim, measured. */
  def filteredListFiles(spark: org.apache.spark.sql.SparkSession,
                        path: String, queries: DataFrame,
                        nprobe: Int = 4): Array[String] = {
    import spark.implicits._
    val (_, lists) = filteredPrune(spark, path, queries, nprobe, None)
    lists.select(input_file_name()).distinct().as[String].collect()
  }

  /** Full IVFPQ index on disk — the FAISS index file re-expressed as
    * a parquet layout: `lists/c_id=<i>/` holds each coarse list's
    * members WITH their PQ codes and full vectors (codes drive the
    * ADC scan, vectors serve the exact rerank without a second
    * source), `centroids/` and `codebook/` hold both trained
    * quantizers. Codes are computed inline on the assignment frame
    * (unit-normalize → PqEncode), so the whole write is one corpus
    * scan + the partitioned shuffle. */
  def writeIvfPqIndex(emb: DataFrame, path: String,
                      nlist: Int = 16, m: Int = 8, ks: Int = 64,
                      trainIters: Int = 5): Unit = {
    val nl = autoNlist(emb, nlist)
    val spark = emb.sparkSession
    val dim = pqDim(emb, m)
    val p = prepared(emb)
    val cents0 = collectCentroids(p, nl)
    val cents = if (trainIters > 0)
      trainCentroidsPrepared(p, cents0, trainIters, 1e-4) else cents0
    val pu = unitFrame(p)
    val cbMat0 = pqCodebookMat(pu, m, ks, dim / m)
    val cbMat = if (trainIters > 0)
      trainPqCodebook(pu, cbMat0, m, trainIters) else cbMat0
    import spark.implicits._
    cents.zipWithIndex.toSeq.map { case (c, i) => (i, c.toSeq) }
      .toDF("c_id", "c_v")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    (for { j <- 0 until m; c <- cbMat(j).indices }
      yield (c, j, cbMat(j)(c).toSeq)).toDF("c_idx", "j", "c_sub")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/codebook")
    graft.functions.VecExprs.withPqEncode(spark, cbMat) { fn =>
      ivfAssignPrepared(p, cents)
        .filter(col("n2") > 0) // zero vectors have no direction (see unitFrame)
        .withColumn("u", transform(col("v"), x => x / sqrt(col("n2"))))
        .withColumn("codes", call_function(fn, col("u")))
        .select(col("vec_id"), col("label"), col("v"), col("n2"),
          col("codes"), col("c_id"), lit(-1L).as("ingest_batch"))
        .write.partitionBy("c_id", "ingest_batch")
        .mode("overwrite").parquet(s"$path/lists")
    }
    initCommitLedger(spark, path) // see writeIvfIndex
  }

  /** Query a written IVFPQ index: probe the stored coarse quantizer,
    * read ONLY the probed partitions, ADC-score their stored codes
    * against a per-query lookup table from the stored codebook, and
    * exact-rerank the shortlist from the vectors stored in the same
    * pruned lists — the standard serve path, no access to the
    * original corpus table at all. `selfExclude` as in
    * [[ivfTopKFromIndex]]: keep true for in-corpus queries, false for
    * an external id namespace. */
  def ivfpqTopKFromIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                         queries: DataFrame, k: Int, nprobe: Int = 4,
                         rerank: Int = 16, selfExclude: Boolean = true): DataFrame = {
    import spark.implicits._
    val codebook = spark.read.parquet(s"$path/codebook")
    val m = codebook.agg(max(col("j"))).as[Int].head() + 1
    val q0 = preparedQueries(queries).filter(col("n2") > 0)
    val qu = unitFrame(q0)
    val (probed, lists) = probeAndPrune(spark, path, queries, nprobe)
    val probes = probeFrame(queries, probed)
    // per-query LUT from the STORED codebook (same subDist spelling as
    // the encode expression — bit-identical ADC)
    val subLen = (size(col("u")) / m).cast("int")
    val qSubs = qu.select(col("vec_id"),
      posexplode(transform(sequence(lit(0), lit(m - 1)),
        j => slice(col("u"), j * subLen + 1, subLen))).as(Seq("j", "sub")))
    val lut = qSubs.join(broadcast(codebook), Seq("j"))
      .select(col("vec_id").as("q_id"), col("j"), col("c_idx").as("code"),
        subDist(col("sub"), col("c_sub")).as("pd"))
    val wAdc = Window.partitionBy(col("q_id")).orderBy(col("adc"), col("vec_id"))
    val shortlist = lists.join(broadcast(probes.select("q_id", "c_id")), Seq("c_id"))
      .filter(if (selfExclude) col("q_id") =!= col("vec_id") else lit(true))
      .select(col("q_id"), col("vec_id"), posexplode(col("codes")).as(Seq("j", "code")))
      .join(broadcast(lut), Seq("q_id", "j", "code"))
      .groupBy(col("q_id"), col("vec_id")).agg(sum(col("pd")).as("adc"))
      .withColumn("srn", row_number().over(wAdc))
      .filter(col("srn") <= k * rerank)
      .select(col("q_id"), col("vec_id"))
    val wExact = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
    shortlist
      .join(q0.select(col("vec_id").as("q_id"), col("v").as("q_v"),
        col("n2").as("q_n2")), Seq("q_id"))
      .join(lists.select(col("vec_id"), col("v"), col("n2")), Seq("vec_id"))
      .withColumn("cos_sim",
        round(cosineFromParts(dot(col("q_v"), col("v")), col("q_n2"), col("n2")), 6))
      .withColumn("rank", row_number().over(wExact))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("vec_id").as("n_id"), col("cos_sim"), col("rank"))
  }

  /** `nlist = 0` auto-sizes to ~√n (FAISS's guideline for IVF list
    * counts): with nlist FIXED, every list grows linearly with the
    * corpus and each query's nprobe-list scan is a constant FRACTION
    * of the data — the serve degrades toward brute force (measured
    * ×15 wall at ×10 corpus on the fixed nlist=32 catalog config,
    * PERF.md r8 sf1 table). At nlist ∝ √n the per-query candidate
    * volume grows only √n and the centroid table stays bounded
    * driver-side metadata (√n rows). The count is footer-cheap on a
    * bare table; pass `nlist` explicitly when the input carries
    * filters at scale. */
  def ivfTopK(emb: DataFrame, isQuery: Column, k: Int,
              nlist: Int = 16, nprobe: Int = 4,
              trainIters: Int = 5): DataFrame = {
    val nl = autoNlist(emb, nlist)
    // zero-norm exclusion as in bruteForceTopK (undefined cosine)
    val p = preparedNonZero(emb)
    val cents0 = collectCentroids(p, nl)
    val cents = if (trainIters > 0)
      trainCentroidsPrepared(p, cents0, trainIters, 1e-4) else cents0
    val assigned = ivfAssignPrepared(p, cents)
      .select(col("vec_id"), col("label"), col("v"), col("n2"), col("c_id"))
    // queries probe their nprobe nearest centroid lists
    val probes = probeList(p, isQuery, cents, nprobe)
    val wRank = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
    assigned.as("c").join(broadcast(probes), Seq("c_id"))
      .filter(col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id"),
        round(cosineFromParts(dot(col("q_v"), col("c.v")), col("q_n2"), col("c.n2")), 6)
          .as("cos_sim"))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("vec_id").as("n_id"), col("cos_sim"), col("rank"))
  }

  /** E4: one k-means (Lloyd) refinement step for the IVF coarse
    * quantizer — the training iteration E3's scaladoc points at:
    * seed centroids are the `nlist` vectors with the smallest
    * `md5(vec_id)` (engine-portable determinism, same role as E3's
    * xxhash64 sample), every vector is assigned to its nearest
    * centroid by cosine (broadcast centroid table, rounded 6 dp +
    * c_id tie-break so the argmin is cross-engine deterministic), and
    * the updated centroid is the per-dimension member mean.
    *
    * Cross-engine exactness: elements are rounded at 6 dp and summed
    * as DECIMAL — a float32 can never sit exactly on a .5×10⁻⁶
    * boundary (10⁻⁶ is not dyadic), so the per-element round is
    * engine-independent and the decimal sum is order-independent; the
    * one double division happens at the end.
    *
    * Scale posture: assignment is a broadcast nested-loop over nlist
    * centroids fused into the scan, and the argmax is a `max_by`
    * aggregation whose PARTIAL collapses the ×nlist candidate rows
    * map-side — the exchange carries one row per vector, not nlist
    * (a window-argmin would shuffle the inflated set); the update
    * then aggregates on (centroid, dim) — nlist × dim groups, partial
    * aggregation map-side, exchange volume O(groups) not O(corpus).
    * Iterating to convergence = calling this in a driver loop exactly
    * like [[graft.operators.Dedup.clusters]].
    */
  def centroidUpdate(emb: DataFrame, nlist: Int = 16): DataFrame = {
    // n2 > 0 on BOTH roles (the file's zero-norm doctrine): a zero
    // seed or member has an undefined cosine against everything —
    // NULL under the guarded division, and on the oracle side a NaN
    // that orders LARGEST and would hand one centroid the whole
    // corpus. vec_id tie-break on the
    // seed sample keeps it deterministic under an md5 collision at
    // the cutoff (both mirrored in the oracle SQL).
    val p = preparedNonZero(emb)
    val centroids = p
      .withColumn("hsel", md5(col("vec_id").cast("string")))
      .orderBy(col("hsel"), col("vec_id")).limit(nlist)
      .select(col("vec_id").as("c_id"), col("v").as("c_v"), col("n2").as("c_n2"))
    // max_by ordering (c_sim, −c_id) ≡ ORDER BY c_sim DESC, c_id ASC:
    // struct comparison is lexicographic, NaN orders largest in both
    // spellings, and the 6-dp round keeps the argmax cross-engine
    // deterministic exactly as before
    val assigned = p.crossJoin(broadcast(centroids))
      .withColumn("c_sim",
        round(cosineFromParts(dot(col("v"), col("c_v")), col("n2"), col("c_n2")), 6))
      .groupBy(col("vec_id"))
      .agg(max_by(struct(col("c_id"), col("v")),
        struct(col("c_sim"), -col("c_id"))).as("best"))
      .select(col("vec_id"), col("best.c_id").as("c_id"), col("best.v").as("v"))
    assigned
      .select(col("c_id"), posexplode(col("v")).as(Seq("dim", "value")))
      .groupBy(col("c_id"), col("dim").cast("bigint").as("dim"))
      .agg(count(lit(1)).as("n_members"),
        round(sum(round(col("value"), 6).cast("decimal(16,6)")).cast("double")
          / count(lit(1)), 6).as("mean_val"))
  }

  /** E5: product-quantization ANN top-k (rows-only; spec-verified
    * recall vs E1) — the COMPRESSION quarter of the FAISS design
    * space, complementing E2's hashing and E3's partitioning. Vectors
    * are unit-normalized (so L2² = 2 − 2·cos and ADC ranks by
    * cosine), split into `m` subvectors, and each subvector is
    * replaced by the index of its nearest codebook entry — the corpus
    * index is `m` small ints per vector instead of `dim` floats
    * (8 codes vs 64 floats here: 32× smaller, the reason PQ exists).
    * Queries score candidates by ASYMMETRIC distance: a per-query
    * lookup table of exact query-subvector→centroid distances
    * (nq × m × ks rows — broadcast), so scoring one candidate is `m`
    * table adds, never a `dim`-wide dot product.
    *
    * The ADC pass produces a k·`rerank` SHORTLIST that is then
    * exact-reranked (the standard PQ deployment): measured recall@5
    * vs E1 on the repo's embeddings is 0.72 at m=8/ks=16/rerank=8 and
    * 0.98 at the m=8/ks=64/rerank=16 default (FAISS ships 8-bit
    * ks=256 codes; 6-bit is the same fidelity class at this dim),
    * with exact cosines on everything returned.
    * Codebooks are the deterministic smallest-xxhash sample per
    * subspace ([[centroidUpdate]] is the training-iteration drop-in).
    * Scale posture: encoding is one broadcast join + per-(vec,
    * subspace) argmin; scoring shuffles one row per (query,
    * candidate) pair after map-side partial aggregation of the `m`
    * partial distances. Composing with E3's list-probing (score only
    * nprobe lists) yields IVFPQ — both halves are in this file.
    */
  def pqTopK(emb: DataFrame, isQuery: Column, k: Int,
             m: Int = 8, ks: Int = 64, rerank: Int = 16,
             trainIters: Int = 5): DataFrame = {
    // same scored-pair guard as E1: ADC scoring still visits every
    // (query, candidate) pair — PQ shrinks the per-pair cost and the
    // index size, not the pair space ([[ivfpqTopK]] is the sub-linear
    // composition with E3's list probing)
    val n = emb.count()
    val nQ = emb.filter(isQuery).count()
    // divide, never multiply (overflow fails the guard open — see E1)
    require(nQ == 0L || n <= pairCeiling / nQ,
      s"pqTopK would ADC-score $nQ × $n pairs (ceiling $pairCeiling); " +
        "use ivfpqTopK (E6) at this scale")
    pqCore(emb, isQuery, k, m, ks, rerank, trainIters, candidates = None)
  }

  /** E6: IVFPQ — the flagship FAISS composition: E3's coarse
    * quantizer restricts candidates to the query's `nprobe` probed
    * inverted lists, and E5's compressed codes + asymmetric-distance
    * lookup score ONLY those candidates (ADC work ∝ nprobe/nlist of
    * the corpus, each candidate costing m table adds), with the exact
    * rerank of the shortlist on top. Sub-linear scan AND compressed
    * index — no scored-pair guard needed.
    */
  def ivfpqTopK(emb: DataFrame, isQuery: Column, k: Int,
                nlist: Int = 16, nprobe: Int = 4,
                m: Int = 8, ks: Int = 64, rerank: Int = 16,
                trainIters: Int = 5): DataFrame = {
    val nl = autoNlist(emb, nlist)
    val p = prepared(emb)
    val cents0 = collectCentroids(p, nl)
    val cents = if (trainIters > 0)
      trainCentroidsPrepared(p, cents0, trainIters, 1e-4) else cents0
    val assigned = ivfAssignPrepared(p, cents)
      .select(col("vec_id"), col("c_id"))
    // zero-norm queries out BEFORE probing (as the index serve paths
    // do): their degenerate probes would fan candidate x m code rows
    // into the ADC join just to be dropped at the LUT lookup
    val probes = probeList(p.filter(col("n2") > 0), isQuery, cents, nprobe)
      .select(col("q_id"), col("c_id"))
    val candidates = assigned.join(broadcast(probes), Seq("c_id"))
      .filter(col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id"))
    pqCore(emb, isQuery, k, m, ks, rerank, trainIters, candidates = Some(candidates))
  }

  /** E6r: IVFPQ with RESIDUAL encoding — what FAISS's `IndexIVFPQ`
    * actually stores: each vector's PQ codes quantize
    * `u − centroid(list)` rather than `u`. When lists are TIGHT
    * (mean cos(u, centroid) → 1 — the production regime, where nlist
    * scales with corpus size), residuals live in a ball much smaller
    * than the unit sphere and the same m × ks code budget quantizes
    * far finer. On this repo's near-isotropic synthetic embeddings
    * (measured mean cos ≈ 0.34 at nlist=16, i.e. residual norms
    * ≈ 1.15 — LARGER than the vectors) the flavor is recall-neutral
    * once `rerank` absorbs ADC noise; the spec therefore pins the
    * EXACTNESS invariant (a rerank window covering every candidate
    * reproduces exact IVF at the same nprobe) and recall parity, not
    * a win. The win is MEASURED in the clustered regime
    * (PERF.md Round 8, 100k-vector mixture-of-256-Gaussians): recall@5 0.988 residual vs 0.848 plain at nlist=256/
    * rr=16, growing with nlist (0.920 vs 0.848 at nlist=64) exactly
    * as the tight-list argument predicts, and decisive at thin
    * rerank budgets (0.612 vs 0.216 at rr=1 — residual ADC ordering
    * needs far less exact-rerank rescue). Prefer this flavor over
    * [[ivfpqTopK]] for clustered production corpora.
    * Ranking is preserved because
    * ‖u_q − u_c‖ = ‖(u_q − cent) − (u_c − cent)‖: per probed list,
    * ADC over residual codes approximates the same distances with
    * the query's own residual on the LUT side.
    *
    * Cost shape vs [[ivfpqTopK]]: the LUT grows ×nprobe (one table
    * per (query, probed list): nq × nprobe × m × ks rows — still
    * broadcast metadata) and candidate scoring joins on
    * (q, list, j, code) instead of (q, j, code). Everything else —
    * zero-shuffle assignment, zero-shuffle residual+encode
    * ([[graft.functions.VecExprs.ResidualVec]] composed with
    * [[graft.functions.VecExprs.PqEncode]] in one codegen span),
    * ADC shortlist, exact rerank — is the same plan shape. */
  def ivfpqResidualTopK(emb: DataFrame, isQuery: Column, k: Int,
                        nlist: Int = 16, nprobe: Int = 4,
                        m: Int = 8, ks: Int = 64, rerank: Int = 16,
                        trainIters: Int = 5): DataFrame = {
    val nl = autoNlist(emb, nlist)
    val spark = emb.sparkSession
    val dim = pqDim(emb, m)
    val p0 = prepared(emb)
    val cents0 = collectCentroids(p0, nl)
    val cents = if (trainIters > 0)
      trainCentroidsPrepared(p0, cents0, trainIters, 1e-4) else cents0
    val a = ivfAssignPrepared(p0, cents)
    val assigned = a.select(col("vec_id"), col("c_id"))
    // corpus residuals computed IN the assignment projection (never a
    // self-join of two same-scan derivatives — that spelling cost a
    // SortMergeJoin); named `u` so the shared PQ helpers (codebook
    // sample, k-means refine, encode) apply verbatim
    val rc = graft.functions.VecExprs.withResidual(spark, cents) { fn =>
      a.filter(col("n2") > 0)
        .withColumn("u", transform(col("v"), x => x / sqrt(col("n2"))))
        .select(col("vec_id"), col("c_id"),
          call_function(fn, col("u"), col("c_id")).as("u"))
    }
    val cbMat0 = pqCodebookMat(rc, m, ks, dim / m)
    val cbMat = if (trainIters > 0)
      trainPqCodebook(rc, cbMat0, m, trainIters) else cbMat0
    val codes = encodeCodes(rc, cbMat)
    import spark.implicits._
    val codebook = (for { j <- 0 until m; c <- cbMat(j).indices }
      yield (c, j, cbMat(j)(c).toSeq)).toDF("code", "j", "c_sub")
    // zero-norm queries out before probing (see ivfpqTopK)
    val probes = probeList(p0.filter(col("n2") > 0), isQuery, cents, nprobe)
      .select(col("q_id"), col("c_id"))
    // query residual PER PROBED LIST (nq × nprobe rows); unit queries
    // come straight off the filtered scan, not a join back into p
    val qU = unitFrame(p0.filter(isQuery))
      .withColumnRenamed("vec_id", "q_id")
    val qResid = graft.functions.VecExprs.withResidual(spark, cents) { fn =>
      probes.join(qU, Seq("q_id"))
        .select(col("q_id"), col("c_id"),
          call_function(fn, col("u"), col("c_id")).as("qr"))
    }
    // per-(query, list) asymmetric LUT: exact residual-subvector →
    // codebook-entry squared L2, same accumulator order as the encode
    val subLen = (size(col("qr")) / m).cast("int")
    val lut = qResid.select(col("q_id"), col("c_id"),
        posexplode(transform(sequence(lit(0), lit(m - 1)),
          j => slice(col("qr"), j * subLen + 1, subLen))).as(Seq("j", "sub")))
      .join(broadcast(codebook), Seq("j"))
      .select(col("q_id"), col("c_id"), col("j"), col("code"),
        subDist(col("sub"), col("c_sub")).as("pd"))
    // each corpus vector sits in exactly one list, so (q_id, vec_id)
    // is unique across candidates — the adc sum never double-counts
    val candidates = assigned.join(broadcast(probes), Seq("c_id"))
      .filter(col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("c_id"), col("vec_id"))
    val wAdc = Window.partitionBy(col("q_id"))
      .orderBy(col("adc"), col("vec_id"))
    val shortlist = candidates.join(codes, Seq("vec_id"))
      .join(broadcast(lut), Seq("q_id", "c_id", "j", "code"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(sum(col("pd")).as("adc"))
      .withColumn("srn", row_number().over(wAdc))
      .filter(col("srn") <= k * rerank)
      .select(col("q_id"), col("vec_id"))
    exactRerank(shortlist, p0, k)
  }

  /** Unit-normalized vector frame (vec_id, u). Zero vectors have no
    * direction: excluding them beats undefined codes (NaN orders LARGEST in
    * Spark and would poison the rankings). */
  private def unitFrame(p0: DataFrame): DataFrame =
    p0.filter(col("n2") > 0)
      .withColumn("u", transform(col("v"), x => x / sqrt(col("n2"))))
      .select(col("vec_id"), col("u"))

  /** Per-subspace codebook from the deterministic sample, collected on
    * the driver (bounded: ks unit vectors) — entry c of subspace j is
    * sample row c's j-th slice. [[trainPqCodebook]] replaces the
    * sample with k-means-refined entries. */
  private def pqCodebookMat(p: DataFrame, m: Int, ks: Int,
                            subLenI: Int): Array[Array[Array[Double]]] = {
    val rows = p.withColumn("hsel", xxhash64(col("vec_id")))
      .orderBy(col("hsel"), col("vec_id")).limit(ks) // tie-break as in collectCentroids
      .select(col("u")).collect().map(_.getSeq[Double](0).toArray)
    Array.tabulate(m)(j => rows.map(_.slice(j * subLenI, (j + 1) * subLenI)))
  }

  /** Encode: nearest codebook entry per (vector, subspace) in one
    * fused map-side pass over the plan-referenced codebook
    * ([[graft.functions.VecExprs.PqEncode]]) — the round-3 explode →
    * ×m·ks join → window-argmin exchanged m·ks ≈ 128 rows per corpus
    * vector on vec_id; this encodes with ZERO shuffle (spec-proved in
    * SimilaritySpec). */
  private def encodeCodes(p: DataFrame,
                          cbMat: Array[Array[Array[Double]]]): DataFrame =
    graft.functions.VecExprs.withPqEncode(p.sparkSession, cbMat) { fn =>
      p.select(col("vec_id"),
        posexplode(call_function(fn, col("u"))).as(Seq("j", "code")))
    }

  /** Per-subspace L2 k-means refinement of the PQ codebook, trained —
    * like [[trainCentroidsPrepared]] — on a BOUNDED deterministic
    * sample: ONE cluster job collects ≤ [[trainSampleRows]] unit
    * vectors, then every Lloyd round runs on the driver (all `m`
    * subspaces per round). Assignment is nearest-entry by squared L2 with
    * first-wins ties and the d² = ‖a‖² + ‖b‖² − 2·a·b accumulator
    * order — the exact [[graft.functions.VecExprs.PqEncode]] contract,
    * so serve-time encoding agrees with training. Entries with no
    * members keep their previous value; stops at `maxIter` or
    * movement < `tol`. */
  private def trainPqCodebook(p: DataFrame, seed: Array[Array[Array[Double]]],
                              m: Int, maxIter: Int,
                              tol: Double = 1e-4): Array[Array[Array[Double]]] = {
    val sample = sampleArrays(p, "u", trainSampleRows)
    if (sample.isEmpty || seed.isEmpty) return seed
    val subLen = sample.head.length / m
    // d² with PqEncode's accumulator order: ‖a‖² then ‖b‖² then a·b
    def d2(u: Array[Double], off: Int, e: Array[Double]): Double = {
      var aa = 0.0; var bb = 0.0; var ab = 0.0; var i = 0
      while (i < subLen && i < e.length) {
        val a = u(off + i); val b = e(i)
        aa += a * a; bb += b * b; ab += a * b; i += 1
      }
      aa + bb - 2.0 * ab
    }
    var cb = seed
    var iter = 0
    var moved = Double.MaxValue
    while (iter < maxIter && moved > tol) {
      val sums = Array.ofDim[Double](m, cb.head.length, subLen)
      val counts = Array.ofDim[Long](m, cb.head.length)
      sample.foreach { u =>
        var j = 0
        while (j < m) {
          val off = j * subLen
          // nearest entry, FIRST-wins ties (PqEncode's `<` strict)
          var best = 0; var bd = Double.PositiveInfinity
          var c = 0
          while (c < cb(j).length) {
            val dd = d2(u, off, cb(j)(c))
            if (dd < bd) { bd = dd; best = c }
            c += 1
          }
          counts(j)(best) += 1L
          val s = sums(j)(best)
          var i = 0
          while (i < subLen && off + i < u.length) { s(i) += u(off + i); i += 1 }
          j += 1
        }
      }
      val next = cb.zipWithIndex.map { case (entries, j) =>
        entries.zipWithIndex.map { case (old, c) =>
          if (counts(j)(c) > 0L) sums(j)(c).map(_ / counts(j)(c)) else old.clone()
        }
      }
      moved = (for { j <- cb.indices; c <- cb(j).indices }
        yield l2(cb(j)(c), next(j)(c))).max
      cb = next
      iter += 1
    }
    cb
  }

  /** Embedding width probed from one row, with the standard PQ
    * precondition checked once: `dim % m == 0` (a remainder would
    * silently drop trailing dims). */
  private def pqDim(emb: DataFrame, m: Int): Int = {
    val dim = emb.select(size(col("embedding")).as("d")).limit(1)
      .collect().headOption.map(_.getInt(0)).getOrElse(0)
    require(dim > 0 && dim % m == 0,
      s"dim=$dim must be a positive multiple of m=$m (the standard PQ " +
        "precondition — a remainder would silently drop trailing dims)")
    dim
  }

  /** The PQ index-BUILD step alone — corpus codes (vec_id, j, code) —
    * exposed as the deploy-time "write the compressed index" job and
    * for plan audits (its physical plan has no Exchange at all). */
  def pqCodes(emb: DataFrame, m: Int = 8, ks: Int = 64): DataFrame = {
    val dim = pqDim(emb, m)
    val p = unitFrame(prepared(emb))
    encodeCodes(p, pqCodebookMat(p, m, ks, dim / m))
  }

  /** Shared PQ machinery: codebook build, corpus encoding, per-query
    * ADC lookup table, shortlist, exact rerank. `candidates` (q_id,
    * vec_id) restricts ADC scoring to given pairs (the IVFPQ path);
    * None scores all query × corpus pairs (guarded in [[pqTopK]]). */
  private def pqCore(emb: DataFrame, isQuery: Column, k: Int,
                     m: Int, ks: Int, rerank: Int, trainIters: Int,
                     candidates: Option[DataFrame]): DataFrame = {
    val dim = pqDim(emb, m)
    val p0 = prepared(emb)
    val p = unitFrame(p0)
    val spark = emb.sparkSession
    val subLen = (size(col("u")) / m).cast("int")
    def subvectors(df: DataFrame): DataFrame =
      df.select(col("vec_id"),
        posexplode(transform(sequence(lit(0), lit(m - 1)),
          j => slice(col("u"), j * subLen + 1, subLen))).as(Seq("j", "sub")))
    val cbMat0 = pqCodebookMat(p, m, ks, dim / m)
    val cbMat = if (trainIters > 0)
      trainPqCodebook(p, cbMat0, m, trainIters) else cbMat0
    import spark.implicits._
    val codebook = (for { j <- 0 until m; c <- cbMat(j).indices }
      yield (c, j, cbMat(j)(c).toSeq)).toDF("c_idx", "j", "c_sub")
    val codes = encodeCodes(p, cbMat)
    // per-query asymmetric lookup table: exact subvector→centroid dists
    val qIds = p0.filter(isQuery).select(col("vec_id"))
    val lut = subvectors(p.join(qIds, Seq("vec_id")))
      .join(broadcast(codebook), Seq("j"))
      .select(col("vec_id").as("q_id"), col("j"), col("c_idx"),
        subDist(col("sub"), col("c_sub")).as("pd"))
    val wAdc = Window.partitionBy(col("q_id"))
      .orderBy(col("adc"), col("vec_id"))
    // ADC scoring base: all pairs (codes × per-query LUT), or — on
    // the IVFPQ path — only the probed-list candidate pairs, each
    // expanding to its m code rows before the LUT lookup
    val scoredRows = candidates match {
      case None =>
        codes.join(broadcast(lut),
          codes("j") === lut("j") && codes("code") === lut("c_idx"))
      case Some(cand) =>
        cand.join(codes, Seq("vec_id"))
          .join(broadcast(lut.withColumnRenamed("c_idx", "code")),
            Seq("q_id", "j", "code"))
    }
    // ADC shortlist: overfetch k·rerank candidates on compressed codes…
    val shortlist = scoredRows
      .groupBy(col("q_id"), col("vec_id"))
      .agg(sum(col("pd")).as("adc"))
      .filter(col("q_id") =!= col("vec_id"))
      .withColumn("srn", row_number().over(wAdc))
      .filter(col("srn") <= k * rerank)
      .select(col("q_id"), col("vec_id"))
    // …then EXACT-rerank only the shortlist (nq × k·rerank dot
    // products — the standard ADC-shortlist + rerank deployment; the
    // full vectors are read for a per-query handful of rows)
    exactRerank(shortlist, p0, k)
  }

  /** Exact-cosine rerank of a `(q_id, vec_id)` shortlist against the
    * prepared frame — the tail every ADC path shares. */
  private def exactRerank(shortlist: DataFrame, p0: DataFrame, k: Int): DataFrame = {
    val wExact = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
    shortlist
      .join(p0.select(col("vec_id").as("q_id"), col("v").as("q_v"),
        col("n2").as("q_n2")), Seq("q_id"))
      .join(p0.select(col("vec_id"), col("v"), col("n2")), Seq("vec_id"))
      .withColumn("cos_sim",
        round(cosineFromParts(dot(col("q_v"), col("v")), col("q_n2"), col("n2")), 6))
      .withColumn("rank", row_number().over(wExact))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("vec_id").as("n_id"), col("cos_sim"), col("rank"))
  }

  /** E2: LSH-bucketed ANN top-k (rows-only; spec-verified recall vs
    * E1). Bucket equi-join replaces the all-pairs join: only
    * same-bucket candidates are scored. With P planes collisions keep
    * ~cos-similar vectors together (probability (1 − θ/π)^P per
    * table); `tables` independent plane sets OR-combined recover the
    * recall a single table loses — candidates are the UNION of
    * same-bucket matches across tables (the standard multi-table LSH
    * construction), deduped before ranking. Still an equi-join on
    * (table, bucket): shuffle volume ∝ T × corpus, never O(n²), and
    * the bucket key space (T × 2^P) is far above any executor count —
    * skew-safe. */
  /** `probes` turns on multi-probe LSH (Lv et al. 2007): each query
    * additionally visits, per table, the `probes` buckets reached by
    * flipping its lowest-margin hyperplane bits — the buckets a true
    * near-neighbor most plausibly fell into. Recall rises WITHOUT
    * growing the corpus-side index or the shuffle: only the broadcast
    * query side fans out ×(probes+1) (at probes=0 the probe array is
    * exactly the one true bucket, bit-identical to plain LSH). */
  /** `planes = 0` auto-sizes the bit depth so MEAN bucket occupancy
    * stays ~`occupancy` as the corpus grows — a FIXED depth is the
    * same scale trap cosinePairsLsh's doc calls out: 4 planes over
    * 10M rows put ~600k vectors in every bucket and the "ANN" serve
    * degrades to a brute-force scan per query (measured ×31–40 wall
    * at ×10 corpus on the fixed catalog config, PERF.md r8 sf1
    * table). Deeper buckets trade per-table recall for volume; pair
    * with `probes` ≥ 2 so straddlers are re-found on the query side
    * (broadcast fan-out only — the corpus-side index and the shuffle
    * don't grow). The count is footer-cheap on a bare table; pass
    * `planes` explicitly when the input carries filters at scale. */
  def lshTopK(emb: DataFrame, isQuery: Column, k: Int, planes: Int = 4,
              tables: Int = 8, probes: Int = 0,
              occupancy: Long = 64L): DataFrame = {
    require(probes >= 0, s"probes=$probes must be non-negative")
    require(occupancy > 0, s"occupancy=$occupancy must be positive")
    val nPlanes =
      if (planes > 0) planes
      else math.max(4, 64 - java.lang.Long.numberOfLeadingZeros(
        math.max(1L, emb.count() / occupancy)))
    // clamp as in cosinePairsLsh: flipping more bits than there are
    // planes is meaningless (the expression would reject it at plan
    // build with its internal-contract message)
    val nProbes = math.min(probes, nPlanes)
    // zero-norm exclusion as in bruteForceTopK (undefined cosine)
    val p0 = preparedNonZero(emb)
    val bucketArr = array((0 until tables).map(t =>
      call_function("graft_hyperplane_t", col("v"), lit(nPlanes), lit(t))): _*)
    // isQuery is applied to the FULL prepared frame (label included) so
    // label-based predicates work here exactly as in E1/E3
    val p = p0.select(col("vec_id"), col("v"), col("n2"),
      posexplode(bucketArr).as(Seq("t", "bucket")))
    // per-table probe sequences (exact bucket + lowest-margin flips),
    // then one bucket row per (table, probe) — the corpus side above
    // stays on the single exact bucket
    val qProbeArr = array((0 until tables).map(t =>
      call_function("graft_hyperplane_probes",
        col("v"), lit(nPlanes), lit(t), lit(nProbes))): _*)
    val q = p0.filter(isQuery)
      .select(col("vec_id").as("q_id"), col("v").as("q_v"), col("n2").as("q_n2"),
        posexplode(qProbeArr).as(Seq("t", "probe_buckets")))
      .select(col("q_id"), col("q_v"), col("q_n2"), col("t"),
        explode(col("probe_buckets")).as("bucket"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
    p.as("c").join(broadcast(q), Seq("t", "bucket"))
      .filter(col("q_id") =!= col("vec_id"))
      // score BEFORE deduping: a pair colliding in several tables costs
      // ≤T redundant dot products (map-side, codegen'd), but the dedup
      // then runs on three scalar columns — a hash aggregate — instead
      // of shuffling array payloads through a sort-based aggregate
      .select(col("q_id"), col("vec_id"),
        round(cosineFromParts(dot(col("q_v"), col("c.v")), col("q_n2"), col("c.n2")), 6)
          .as("cos_sim"))
      .dropDuplicates("q_id", "vec_id")
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("vec_id").as("n_id"), col("cos_sim"), col("rank"))
  }

  // ── E7: random-projection dimension reduction ────────────────────

  /** E7: Johnson–Lindenstrauss SIGN random projection (Achlioptas
    * 2003's database-friendly ±1 variant) — the dimension-reduction
    * step a pipeline runs before ANN when the raw embedding is wider
    * than the recall target needs: p_j = (Σ_i v_i · s_ij) / √k with
    * s_ij ∈ {±1}. Pairwise inner products are preserved in
    * expectation with variance O(1/k), so a k-dim index serves the
    * same top-k queries at d/k of the scan cost.
    *
    * Zero shuffle: the projection is one per-row expression pass
    * (scan-fused, codegen'd) — the sign matrix is a DRIVER-computed
    * deterministic literal (md5(i:j) high nibble < 8 → +1), k·d
    * doubles broadcast inside the plan, never a join. Output is LONG
    * format (vec_id, dim, value) — one row per projected coordinate.
    *
    * Cross-engine exactness: each element rounds ONCE to an integer
    * micro-unit (round(v_i·1e6) — a float-derived product essentially
    * never lands on an exact half, the E4 rationale), the ±1-weighted
    * sum S is EXACT 64-bit integer arithmetic (order-independent — no
    * fold-order coupling at all), and the final ÷√k rounds via pure
    * integer arithmetic: sign(S)·((|S|+√k/2) div √k). A naive
    * "round(sum/4, 6)" spelling is GUARANTEED to hit engine-dependent
    * half boundaries — the 6dp elements sum to a multiple of 1e-6, so
    * S/4 sits exactly on x.xxxxxx5 a quarter of the time (found in the
    * first sf0.001 run: 14 of 8000 coordinates split between the
    * engines) — the F16 integer-mean lesson applied to vectors.
    * `outDim` must be a perfect square so √k stays integral. */
  def randomProject(emb: DataFrame, outDim: Int = 16,
                    inDim: Int = 64): DataFrame = {
    graft.functions.VecExprs.register(emb.sparkSession)
    emb.select(col("vec_id"),
        posexplode(projectionArr(outDim, inDim)).as(Seq("dim", "value")))
      .select(col("vec_id"), col("dim").cast("bigint").as("dim"), col("value"))
  }

  /** The shared JL projection core: `embedding` → array<double> of
    * `outDim` projected coordinates — one fused codegen pass
    * ([[graft.functions.VecExprs.JlProject]]; the HOF spelling below
    * is interpreted per lambda and measured ~50× slower, kept as
    * [[projectionArrHof]] for the spec's bit-equality pin). Callers
    * must have [[graft.functions.VecExprs.register]]ed. */
  private def projectionArr(outDim: Int, inDim: Int): Column =
    call_function("graft_jl_project", toDoubleVec(col("embedding")),
      lit(outDim), lit(inDim))

  /** The declarative HOF spelling of [[projectionArr]] — entirely in
    * integer micro-units until the final cast (see [[randomProject]]'s
    * exactness scaladoc). Floor division is spelled
    * `(x − pmod(x, m)) / m` on non-negative operands — the
    * subtraction makes the numerator an exact multiple of m, so the
    * double division is exact and truncation-vs-floor can't differ.
    * RandomProjectSpec pins bit-equality with the codegen path over
    * the whole verify corpus. */
  private[graft] def projectionArrHof(outDim: Int, inDim: Int): Column = {
    require(outDim > 0 && inDim > 0,
      s"outDim=$outDim and inDim=$inDim must be positive")
    val isqrt = math.sqrt(outDim.toDouble).toLong
    require(isqrt * isqrt == outDim,
      s"outDim=$outDim must be a perfect square (integral √k exact path)")
    val signs: Seq[Seq[Long]] =
      Seq.tabulate(outDim)(j => Seq.tabulate(inDim)(i => jlSign(i, j)))
    val sgn = typedLit(signs)
    val vi = transform(col("embedding"),
      x => round(x.cast("double") * lit(1e6)).cast("long"))
    val half = isqrt / 2
    def idiv(x: Column, m: Long): Column =
      ((x - pmod(x, lit(m))) / lit(m)).cast("long")
    transform(sequence(lit(0), lit(outDim - 1)), j => {
      val s = aggregate(
        zip_with(vi, element_at(sgn, (j + 1).cast("int")), (x, y) => x * y),
        lit(0L), (acc, x) => acc + x)
      (when(s >= 0, idiv(s + lit(half), isqrt))
        .otherwise(-idiv(-s + lit(half), isqrt))
        .cast("double") / lit(1e6))
    })
  }

  /** E8: embedding NORMALIZATION — corpus mean-centering + unit-norm,
    * the standard preprocessing before cosine-family work (centering
    * removes the corpus' common direction that inflates every pairwise
    * cosine; unit-norm makes dot product = cosine so downstream dedup/
    * ANN (D5/D10/E-block) can use the cheaper product). Long-format
    * output like [[randomProject]]: `(vec_id, dim, value, norm)` with
    * `value` the normalized coordinate and `norm` the centered L2
    * norm (0-norm vectors emit value 0.0 — flagged by norm, never a
    * NaN).
    *
    * Exactness (SURVEY §5): coordinates round once to scale-6 longs,
    * the per-dim mean is the sign-adjusted half-away integer quotient
    * (the F16 integer-mean rule), centered coords are exact longs,
    * and the squared norm Σc² is an EXACT LONG (no float sum, no
    * order sensitivity; long-safe while |value|·√dims ≲ 3e3 — any
    * embedding-scale input). `value = c/√ss` and `norm = √ss/1e6` are
    * single double ops on identical operands, rounded at 6 dp (a 6-dp
    * half is non-dyadic — no double sits on it).
    *
    * Scale shape: one posexplode scan → per-dim partial-agg sums
    * (O(dims) rows, broadcast back) → per-vector partial-agg Σc²
    * (vec-keyed) → one vec-keyed equi-join. Nothing wider than the
    * exploded scan, no window, no driver-side data. */
  def normalizeEmbeddings(emb: DataFrame): DataFrame = {
    val x6 = emb.select(col("vec_id"),
        posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(col("vec_id"), col("dim").cast("long").as("dim"),
        round(col("v").cast("double") * 1e6).cast("long").as("x6"))
    val mean = x6.groupBy("dim")
      .agg(sum(col("x6")).as("s"), count(lit(1)).as("n"))
      .select(col("dim"), expr(
        "cast(sign(s) as bigint) * ((2 * abs(s) + n) div (2 * n))").as("m6"))
    val centered = x6.join(broadcast(mean), Seq("dim"))
      .select(col("vec_id"), col("dim"), (col("x6") - col("m6")).as("c6"))
    val norms = centered.groupBy("vec_id")
      .agg(sum(col("c6") * col("c6")).as("ss"))
    centered.join(norms, Seq("vec_id"))
      .select(col("vec_id"), col("dim"),
        when(col("ss") > 0,
          round(col("c6").cast("double") / sqrt(col("ss").cast("double")), 6))
          .otherwise(lit(0.0)).as("value"),
        round(sqrt(col("ss").cast("double")) / lit(1e6), 6).as("norm"))
  }

  /** E8's deploy flow: freeze the TRAINING corpus' per-dim scale-6
    * mean as a tiny `(dim, m6)` table + one-row meta (n) — the
    * serving rule for normalization: arrivals center by the FROZEN
    * training mean (recomputing the mean per batch would make two
    * batches of the same vector normalize differently — the idf-drift
    * problem, vector edition), norms are per-row and need no state.
    * The [[graft.operators.TextAnalysis.writeLmModel]] artifact
    * shape. */
  def writeEmbStats(emb: DataFrame, table: String, path: String): Unit = {
    val x6 = emb.select(posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(col("dim").cast("long").as("dim"),
        round(col("v").cast("double") * 1e6).cast("long").as("x6"))
    x6.groupBy("dim")
      .agg(sum(col("x6")).as("s"), count(lit(1)).as("n"))
      .select(col("dim"), expr(
        "cast(sign(s) as bigint) * ((2 * abs(s) + n) div (2 * n))").as("m6"))
      .coalesce(1)
      .write.format("parquet").option("path", s"${path}_mean")
      .mode("overwrite").saveAsTable(s"${table}_mean")
    emb.agg(count(lit(1)).as("n"))
      .write.format("parquet").option("path", s"${path}_meta")
      .mode("overwrite").saveAsTable(s"${table}_meta")
  }

  /** Normalize a vector batch against FROZEN stats ([[writeEmbStats]])
    * — identical output (and identical integer path, spec-pinned) to
    * [[normalizeEmbeddings]] when the stats came from the same corpus;
    * arrivals longer than the frozen dimensionality reject loudly
    * (inner join drops unknown dims silently otherwise — a schema
    * drift tripwire, not a degrade). */
  def normalizeAgainst(spark: org.apache.spark.sql.SparkSession,
                       table: String, emb: DataFrame): DataFrame = {
    val mean = spark.table(s"${table}_mean")
    val x6 = emb.select(col("vec_id"),
        posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(col("vec_id"), col("dim").cast("long").as("dim"),
        round(col("v").cast("double") * 1e6).cast("long").as("x6"))
    val centered = x6.join(broadcast(mean), Seq("dim"), "left")
      .select(col("vec_id"), col("dim"),
        // a dim the frozen stats never saw → fail loudly, not softly
        when(col("m6").isNull,
          raise_error(concat(lit("normalizeAgainst: dim "),
            col("dim").cast("string"),
            lit(" absent from frozen stats " + table))))
          .otherwise(col("x6") - col("m6")).as("c6"))
    val norms = centered.groupBy("vec_id")
      .agg(sum(col("c6") * col("c6")).as("ss"))
    centered.join(norms, Seq("vec_id"))
      .select(col("vec_id"), col("dim"),
        when(col("ss") > 0,
          round(col("c6").cast("double") / sqrt(col("ss").cast("double")), 6))
          .otherwise(lit(0.0)).as("value"),
        round(sqrt(col("ss").cast("double")) / lit(1e6), 6).as("norm"))
  }

  /** E9: SCALAR quantization (SQ8 — FAISS `ScalarQuantizer` QT_8bit
    * shape): each dimension compressed INDEPENDENTLY to an 8-bit code
    * against per-dim [min, max] trained on the corpus — 64-dim float
    * embeddings drop 4× (256 B → 64 B) while every dim keeps 256
    * levels (vs PQ's m subspaces sharing ks centroids): the standard
    * middle point on the compression/recall curve, with NO training
    * iterations and no codebook state beyond 2·dims longs.
    *
    * Exactness (SURVEY §5): coordinates round once to scale-6 longs,
    * per-dim min/max are exact, `code` = half-up(255·(x6−min6)/Δ) in
    * pure long arithmetic (non-negative numerator: (2·255·(x6−min6)
    * + Δ) div (2Δ)), `recon6` = min6 + half-up(code·Δ/255) likewise,
    * and `recon` = recon6/1e6 is ONE double op on exact operands —
    * every value hash-matches DuckDB. A flat dimension (Δ = 0)
    * encodes 0 and reconstructs min6.
    *
    * Scale shape: posexplode scan → O(dims) min/max aggregate
    * broadcast back → per-row integer expressions. No window, no
    * driver-side data. */
  def sqEncode(emb: DataFrame): DataFrame = {
    val x6 = emb.select(col("vec_id"),
        posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(col("vec_id"), col("dim").cast("long").as("dim"),
        round(col("v").cast("double") * 1e6).cast("long").as("x6"))
    val rng = x6.groupBy("dim")
      .agg(min(col("x6")).as("min6"), max(col("x6")).as("max6"))
    x6.join(broadcast(rng), Seq("dim"))
      .withColumn("d", col("max6") - col("min6"))
      .withColumn("code", when(col("d") === 0, lit(0L))
        .otherwise(expr("(2 * 255 * (x6 - min6) + d) div (2 * d)")))
      .withColumn("recon6", col("min6") + when(col("d") === 0, lit(0L))
        .otherwise(expr("(2 * code * d + 255) div (2 * 255)")))
      .select(col("vec_id"), col("dim"), col("code"),
        (col("recon6").cast("double") / lit(1e6)).as("recon"))
  }

  /** E9 serving: ANN THROUGH the SQ8 codes — asymmetric, the FAISS
    * rule: the query keeps full precision, every candidate scores by
    * its RECONSTRUCTED vector (decoded once into an array so the scan
    * is the same codegen dot as E1), top `rerank` per query by
    * quantized cosine (scalar-only rows through the sort, the E2/E7b
    * rationale), then exact full-precision rerank to k — served
    * `cos_sim` is EXACT, only the shortlist is approximate. Same
    * visit-every-pair guard as E1/E5: SQ shrinks per-pair cost and
    * index bytes, not the pair space — compose with E3's lists for
    * sub-linear scans exactly as PQ does in E6. */
  def sqTopK(emb: DataFrame, isQuery: Column, k: Int,
             rerank: Int = 16): DataFrame = {
    val n = emb.count()
    val nQ = emb.filter(isQuery).count()
    // divide, never multiply (overflow fails the guard open — see E1)
    require(nQ == 0L || n <= pairCeiling / nQ,
      s"sqTopK would score $nQ × $n pairs (ceiling $pairCeiling); " +
        "use ivfSqTopK (the E6 pattern) at this scale")
    sqCore(emb, isQuery, k, rerank, candidates = None)
  }

  /** E9b: IVF + SQ — FAISS's `IndexIVFScalarQuantizer`: E3's coarse
    * quantizer restricts candidates to the query's `nprobe` probed
    * inverted lists, SQ8 reconstruction scores ONLY those candidates
    * (scan work ∝ nprobe/nlist of the corpus), exact rerank on top —
    * the sub-linear serve for the quantizer that keeps 256 levels per
    * dim. Exhaustive probing (nprobe = nlist) with a corpus-covering
    * rerank reproduces brute force row-for-row (the E3x/E6x pin —
    * catalog entry `ann_ivfsq_exhaustive` holds it hash-green against
    * E1's oracle). */
  def ivfSqTopK(emb: DataFrame, isQuery: Column, k: Int,
                nlist: Int = 16, nprobe: Int = 4, rerank: Int = 16,
                trainIters: Int = 5): DataFrame = {
    val nl = autoNlist(emb, nlist)
    val p = prepared(emb)
    val cents0 = collectCentroids(p, nl)
    val cents = if (trainIters > 0)
      trainCentroidsPrepared(p, cents0, trainIters, 1e-4) else cents0
    val assigned = ivfAssignPrepared(p, cents)
      .select(col("vec_id"), col("c_id"))
    // zero-norm queries out before probing (the E6 rationale)
    val probes = probeList(p.filter(col("n2") > 0), isQuery, cents, nprobe)
      .select(col("q_id"), col("c_id"))
    val candidates = assigned.join(broadcast(probes), Seq("c_id"))
      .filter(col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id"))
    sqCore(emb, isQuery, k, rerank, candidates = Some(candidates))
  }

  /** Shared E9 serving core: quantized shortlist (reconstructed
    * candidates, scalar-only rows through the sort) + exact rerank.
    * `candidates = None` scores every (query, candidate) pair (E9's
    * guarded flat scan); `Some(frame)` restricts scoring to the given
    * (q_id, vec_id) pairs (E9b's probed lists). */
  private def sqCore(emb: DataFrame, isQuery: Column, k: Int, rerank: Int,
                     candidates: Option[DataFrame]): DataFrame = {
    graft.functions.VecExprs.register(emb.sparkSession)
    val recon = sqEncode(emb)
      .groupBy(col("vec_id"))
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("recon")))),
        s => s.getField("recon")).as("rv"))
      .withColumn("rn2", norm2(col("rv")))
      .filter(col("rn2") > 0)
    val p = preparedNonZero(emb)
    val q = p.filter(isQuery)
      .select(col("vec_id").as("q_id"), col("v").as("q_v"), col("n2").as("q_n2"))
    val scored = candidates match {
      case None => recon.join(broadcast(q), col("q_id") =!= col("vec_id"))
      case Some(c) => recon.join(c, Seq("vec_id")).join(broadcast(q), Seq("q_id"))
    }
    val short = scored
      .withColumn("sq_sim",
        cosineFromParts(dot(col("q_v"), col("rv")), col("q_n2"), col("rn2")))
      .withColumn("srank", row_number().over(Window.partitionBy(col("q_id"))
        .orderBy(col("sq_sim").desc, col("vec_id"))))
      .filter(col("srank") <= rerank)
      .select(col("q_id"), col("vec_id"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
    short.join(p.as("c"), Seq("vec_id")).join(broadcast(q), Seq("q_id"))
      .withColumn("cos_sim",
        round(cosineFromParts(dot(col("q_v"), col("c.v")), col("q_n2"), col("c.n2")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("vec_id").as("n_id"), col("cos_sim"), col("rank"))
  }

  /** E7b: ANN serving THROUGH the projection — JL shortlist + exact
    * rerank, the composition a pipeline actually deploys dimension
    * reduction for: score all candidates in the k-dim projected space
    * (d/k of the scan flops), keep the top k·overfetch per query by
    * projected cosine, then rank ONLY that shortlist by exact
    * full-dimension cosine. Recall is the projection's shortlist hit
    * rate (JL distortion ~√(ln n / k)); precision of the final
    * ordering is 1.0 — every served score is exact.
    *
    * Plan shape: the projected scoring window sorts SCALAR rows only
    * (q_id, vec_id, psim — the E2 rationale: no array payloads
    * through the sort), the shortlist then re-fetches vectors by id
    * (shortlist-sized join) for the exact rerank. Still an O(nQ·n)
    * projected scan — the honest baseline path; compose with IVF
    * lists for sub-linear probing at 100 TB.
    *
    * `overfetch = 0` (default) AUTO-SIZES the shortlist to a constant
    * 20% corpus fraction (max(20, ⌈0.2·n/k⌉) per query): on an
    * ISOTROPIC corpus the number of bulk vectors within JL distortion
    * of the true neighbors grows ~linearly with n, so a FIXED
    * shortlist decays (measured .62/.74/.42 at 500/500/5000 vectors
    * with shortlist 100) while the constant fraction holds recall
    * flat — that fraction is the isotropic regime's price. Clustered
    * corpora (real embeddings) don't pay it: a fixed overfetch=20 —
    * 0.2% of a 50k corpus — holds 0.886 there (PERF.md Round 8b), which
    * is the regime this operator deploys in. */
  def projectedTopK(emb: DataFrame, isQuery: Column, k: Int,
                    outDim: Int = 16, inDim: Int = 64,
                    overfetch: Int = 0): DataFrame = {
    require(overfetch >= 0, s"overfetch=$overfetch must be >= 0")
    val n = emb.count()
    val nQ = emb.filter(isQuery).count()
    require(nQ == 0L || n <= pairCeiling / nQ,
      s"projectedTopK would score $nQ × $n projected pairs (ceiling " +
        s"$pairCeiling); compose with ivfTopK lists at this scale")
    val overfetchEff =
      if (overfetch > 0) overfetch
      else math.max(20L, (n / 5 + k - 1) / k).toInt
    graft.functions.VecExprs.register(emb.sparkSession)
    // zero-norm exclusion on BOTH spaces: an all-zero projection of a
    // nonzero vector has the same undefined-cosine hazard
    val base = emb.withColumn("v", toDoubleVec(col("embedding")))
      .withColumn("n2", norm2(col("v")))
      .withColumn("pv", projectionArr(outDim, inDim))
      .withColumn("pn2", norm2(col("pv")))
      .filter(col("n2") > 0 && col("pn2") > 0)
      .select(col("vec_id"), col("v"), col("n2"), col("pv"), col("pn2"))
    val q = base.filter(isQuery)
      .select(col("vec_id").as("q_id"), col("v").as("q_v"),
        col("n2").as("q_n2"), col("pv").as("q_pv"), col("pn2").as("q_pn2"))
    val wShort = Window.partitionBy(col("q_id"))
      .orderBy(col("psim").desc, col("vec_id"))
    val shortIds = base.select(col("vec_id"), col("pv"), col("pn2")).as("c")
      .join(broadcast(q.select(col("q_id"), col("q_pv"), col("q_pn2"))),
        col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id"),
        round(cosineFromParts(dot(col("q_pv"), col("c.pv")),
          col("q_pn2"), col("c.pn2")), 6).as("psim"))
      .withColumn("prank", row_number().over(wShort))
      .filter(col("prank") <= k * overfetchEff)
      .select(col("q_id"), col("vec_id"))
    val wFinal = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
    shortIds
      .join(base.select(col("vec_id"), col("v"), col("n2")), "vec_id")
      .join(broadcast(q.select(col("q_id"), col("q_v"), col("q_n2"))), "q_id")
      .withColumn("cos_sim",
        round(cosineFromParts(dot(col("q_v"), col("v")),
          col("q_n2"), col("n2")), 6))
      .withColumn("rank", row_number().over(wFinal))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("vec_id").as("n_id"), col("cos_sim"), col("rank"))
  }

  /** The deterministic ±1 JL sign — canonical definition lives next
    * to the codegen expression ([[graft.functions.VecExprs.jlSign]]);
    * the DuckDB mirror flips the same coin with
    * substring(md5(...), 1, 1) < '8'. */
  private[operators] def jlSign(i: Int, j: Int): Long =
    graft.functions.VecExprs.jlSign(i, j)
}
