package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.functions.TextFunctions._

/** Corpus-preparation block (SURVEY.md §2 F6–F8) — the operations a
  * training-data pipeline runs AFTER dedup/quality filtering to turn a
  * cleaned corpus into training batches: rebalance strata, pack
  * documents into fixed token budgets, and inspect the token
  * distribution.
  *
  * Scale posture: sampling is a pure per-row filter fused into the
  * scan (zero shuffle); packing is one window per stratum (shuffle key
  * = stratum — the same key the data is naturally sharded by);
  * top-tokens is explode → partial-agg groupBy where the map-side
  * combine collapses the token blow-up before the exchange, and the
  * rank window gets `WindowGroupLimit` pushdown below it.
  */
object Corpus {

  /** Pack staging pins, scoped per call up to a bounded depth: both
    * prefix-sum phases of [[packSequences]] must read the SAME
    * physical partitioning, and a plain `.cache()` cannot guarantee
    * it — an evicted (or slot-replaced) cache would silently RE-RUN
    * the range shuffle, whose boundary sampling is seeded per RDD id,
    * reassigning `__pid`s and corrupting every broadcast offset
    * lookup. A `localCheckpoint` truncates lineage, so a lost block
    * FAILS LOUDLY instead. Dataset.unpersist is a no-op for
    * checkpoint blocks (they are RDD-level persists — the
    * Dedup.clusters rationale), so the registry holds the pinned RDD
    * handles PER CALL, newest last: up to [[maxLivePacks]] returned
    * frames stay live at once (concurrent callers — or a caller
    * revisiting an earlier pack — no longer free each other's staging
    * blocks mid-job, the round-5 one-slot hazard), beyond which the
    * OLDEST call's blocks are freed. Memory stays bounded at
    * maxLivePacks staged frames; releaseCaches() frees everything. */
  private val packPins =
    new java.util.concurrent.ConcurrentLinkedDeque[Seq[org.apache.spark.rdd.RDD[_]]]()

  /** F17's own registry — SEPARATE from [[packPins]] so repeated
    * globalShuffle calls (one per training epoch is the natural
    * usage) can never evict a still-live packSequences staging block
    * out from under a caller holding that pack's frame. */
  private val shufflePins =
    new java.util.concurrent.ConcurrentLinkedDeque[Seq[org.apache.spark.rdd.RDD[_]]]()

  /** How many staging frames stay pinned at once, per registry. */
  private val maxLivePacks = 4

  /** The funnel's shared stage frame (one live slot — see
    * [[CacheSlots]]): the narrow gate prefix (bench holdout → lang →
    * quality → blocklist → PII redact) feeds the exact-dedup
    * aggregate, BOTH near-dup gram branches, and every ledger count
    * branch — uncached, each branch re-tokenizes and re-redacts the
    * corpus. */
  private val funnelCaches = new CacheSlots

  private def checkpointStaged(df: DataFrame,
      registry: java.util.concurrent.ConcurrentLinkedDeque[
        Seq[org.apache.spark.rdd.RDD[_]]] = packPins): DataFrame = {
    val sc = df.sparkSession.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val out = df.localCheckpoint()
    val pins = (sc.getPersistentRDDs -- before).values.toSeq
    registry.addLast(pins)
    while (registry.size > maxLivePacks) {
      val oldest = registry.pollFirst()
      if (oldest != null) oldest.foreach(_.unpersist(false))
    }
    out
  }

  /** Drop every staging block this object holds (end-of-job cleanup). */
  def releaseCaches(): Unit = {
    funnelCaches.release()
    Seq(packPins, shufflePins).foreach { registry =>
      var pins = registry.pollFirst()
      while (pins != null) {
        pins.foreach(_.unpersist(false))
        pins = registry.pollFirst()
      }
    }
  }

  /** F6: deterministic stratified sampling — corpus mixing / rebalance
    * (downsample over-represented languages or sources) with a
    * reproducible, engine-portable coin: keep a row iff the first 8 hex
    * chars of `md5(doc_id ":" stratum)` sort below the stratum's
    * threshold `floor(rate·2³²)` in `%08x`. Lexicographic compare of
    * equal-length lowercase hex equals numeric compare, and md5 is
    * identical everywhere — so the SAME rows survive in Spark, DuckDB,
    * or any engine with md5, independent of partitioning and cluster
    * size. No RNG state, no `sample()` nondeterminism.
    *
    * Mirrors the reference's per-system config-driven selection of what
    * to push (the `config/` JSON files) generalized to rate-based mixing.
    */
  def sampleStratified(docs: DataFrame, strataCol: String,
                       rates: Map[String, Double],
                       defaultRate: Double = 1.0): DataFrame = {
    // NULL strata sample at the default rate, NULL doc_ids at their
    // stratum's rate (one shared coin per stratum) — without the
    // coalesces the concat (and so the coin) is NULL and the filter
    // silently drops the row even at rate 1.0
    val stratum = coalesce(col(strataCol), lit(""))
    val coin = substring(
      md5(concat(coalesce(col("doc_id").cast("string"), lit("")),
        lit(":"), stratum)), 1, 8)
    val threshold = rates.foldLeft(when(lit(false), lit(""))) {
      case (acc, (s, rate)) =>
        acc.when(stratum === s, lit(hexThreshold(rate)))
    }.otherwise(lit(hexThreshold(defaultRate)))
    docs.filter(coin < threshold)
  }

  /** `floor(rate·2³²)` as 8 lowercase hex chars; rate ≥ 1 maps to "g"
    * (sorts above every hex digit — keep all). Shared with the oracle
    * SQL generator so both engines compare against identical literals. */
  def hexThreshold(rate: Double): String = {
    require(rate >= 0.0, s"sampling rate $rate < 0")
    if (rate >= 1.0) "g" else f"${(rate * 4294967296.0).toLong}%08x"
  }

  /** F6b: mixing plan — given target mixture shares per stratum,
    * compute the per-stratum DOWN-sampling rates that achieve them:
    * the largest total T with `share_s · T ≤ n_s` for every stratum is
    * `T = min_s(n_s / share_s)` (no stratum can be upsampled), giving
    * `rate_s = share_s · T / n_s`. The output feeds
    * [[sampleStratified]] directly — plan, then sample, is the
    * two-step corpus-mixing loop.
    *
    * One tiny aggregation (strata-count groups) + a broadcast scalar
    * min — O(strata) rows of output regardless of corpus size, fully
    * LAZY (the corpus is scanned once, at materialization). Strata
    * missing from `targetShares` get rate 0 (excluded from the mix);
    * a TARGET stratum missing from the corpus raises in-plan at
    * materialization (the mixture is unsatisfiable — T = 0 — and a
    * plan over only the present strata would silently ship the wrong
    * proportions); shares need not sum to 1 (only ratios matter).
    */
  def mixPlan(docs: DataFrame, strataCol: String,
              targetShares: Map[String, Double]): DataFrame = {
    require(targetShares.nonEmpty && targetShares.values.forall(_ > 0.0),
      "targetShares must be non-empty with positive shares")
    val counts = docs.groupBy(col(strataCol))
      .agg(count(lit(1)).as("n_docs"))
    val share = targetShares.foldLeft(when(lit(false), lit(0.0))) {
      case (acc, (s, w)) => acc.when(col(strataCol) === s, lit(w))
    }.otherwise(lit(0.0))
    val counted = counts.withColumn("share", share)
    // T = min over included strata of n_s / share_s, as a broadcast
    // scalar. A target stratum ABSENT from the corpus makes the
    // mixture unsatisfiable (its constraint is share·T ≤ 0 ⟹ T = 0,
    // all rates 0) — computing T over only the present strata would
    // instead return a plan that silently ships the WRONG mixture.
    // The check rides IN-PLAN on the same one-row aggregate (a target
    // stratum matches at most one group, so n_present = targeted ⟺
    // all present): the plan stays lazy and the corpus is scanned
    // ONCE at materialization, not once more per mixPlan() call.
    val expected = targetShares.size
    val targeted = targetShares.keySet.toSeq.sorted.mkString(", ")
    val t = counted.filter(col("share") > 0)
      .agg(min(col("n_docs") / col("share")).as("t_total"),
        count(lit(1)).as("__n_present"),
        array_join(array_sort(collect_list(col(strataCol).cast("string"))),
          ", ").as("__present"))
      .select(when(col("__n_present") === lit(expected), col("t_total"))
        .otherwise(raise_error(concat(
          lit(s"targetShares strata absent from the corpus (targeted: " +
            s"$targeted; present: "), col("__present"),
          lit(") — the requested mixture is unsatisfiable (T = 0)"))))
        .as("t_total"))
    counted.crossJoin(broadcast(t))
      .select(col(strataCol), col("n_docs"),
        round(col("share"), 6).as("share"),
        when(col("share") > 0,
          round(col("share") * col("t_total") / col("n_docs"), 6))
          .otherwise(lit(0.0)).as("rate"))
  }

  /** F7: sequence packing — concatenate-and-chunk each stratum's
    * document stream into fixed `budgetTokens` training sequences:
    * documents ordered by doc_id within a stratum, each assigned the
    * sequence its first token lands in (`seq_id = offset ÷ budget`)
    * plus its offset inside that sequence (the standard "pack by
    * offset" batching layout).
    *
    * The exclusive running token sum is a TWO-PHASE DISTRIBUTED
    * PREFIX SUM, not a per-stratum window: a window partition is
    * semantically unsplittable, and real pretraining corpora are
    * stratum-skewed (English ≈ half the corpus), so
    * `Window.partitionBy(stratum)` would pin the dominant stratum's
    * entire running sum onto ONE task at 100 TB. Instead:
    *
    *  1. range-partition by (stratum, doc_id) + sort within
    *     partitions — a mega-stratum spans MANY partitions, split by
    *     doc_id, while rows stay stratum-then-id ordered within each;
    *  2. aggregate per-(partition, stratum) token subtotals — O(nPart
    *     + strata) rows (strata are contiguous under the range
    *     partitioner), collected as bounded metadata like the
    *     centroid/mix-rate collects;
    *  3. exclusive-scan the subtotals per stratum in partition order
    *     on the driver, broadcast the (partition, stratum) → start
    *     offset map, and finish with a partition-LOCAL running sum in
    *     one `mapPartitions` pass (the EWMA streaming pattern — one
    *     long of state per open stratum).
    *
    * Output is bit-identical to the window spelling (the oracle keeps
    * the window SQL). `partitions` sizes the range shuffle; 0 = the
    * session's shuffle parallelism.
    */
  def packSequences(docs: DataFrame, strataCol: String, budgetTokens: Int,
                    partitions: Int = 0): DataFrame = {
    require(budgetTokens > 0, s"budgetTokens=$budgetTokens must be positive")
    val spark = docs.sparkSession
    val nPart = if (partitions > 0) partitions
      else spark.sessionState.conf.numShufflePartitions
    // __skey: the stratum as a string travels alongside the original
    // column so phase 2's grouping key and phase 3's JVM-side key are
    // the SAME cast — no cast-vs-toString drift for non-string strata.
    // __pid: the range-shuffle partition id FROZEN INTO THE STAGED
    // DATA (checkpointStaged — a re-run of the range shuffle could
    // redraw its sampled boundaries and reassign pids, see the slot
    // doc). Reading TaskContext.getPartitionId() in phase 3 instead
    // would be wrong under any downstream narrow merge — a
    // coalesce(1) sink runs every parent partition's iterator inside
    // one task, so the task id is NOT the data partition id.
    val prepared = checkpointStaged(
      docs.select(col("doc_id"), col(strataCol),
          size(tokens(col("text"))).cast("bigint").as("ws_tokens"),
          col(strataCol).cast("string").as("__skey"))
        .repartitionByRange(nPart, col(strataCol), col("doc_id"))
        .sortWithinPartitions(col(strataCol), col("doc_id"))
        .withColumn("__pid", spark_partition_id()))
    // Phase 2: per-(partition, stratum) subtotals. Bounded collect:
    // strata are contiguous under range partitioning, so this is
    // O(nPart + strata) rows of metadata, independent of corpus size.
    val subtotals = prepared
      .groupBy(col("__pid"), col("__skey"))
      .agg(sum(col("ws_tokens")).as("__sub"))
      .collect()
      .map(r => (r.getInt(0),
        if (r.isNullAt(1)) null else r.getString(1),
        if (r.isNullAt(2)) 0L else r.getLong(2)))
    // Phase 3a: exclusive scan per stratum in partition order — each
    // (partition, stratum) pair learns where its slice of the stratum's
    // token stream starts.
    val starts: Map[(Int, String), Long] =
      subtotals.groupBy(_._2).iterator.flatMap { case (skey, rows) =>
        var acc = 0L
        rows.sortBy(_._1).map { case (pid, _, sub) =>
          val start = acc; acc += sub; ((pid, skey), start)
        }
      }.toMap
    val bcStarts = spark.sparkContext.broadcast(starts)
    // Phase 3b: partition-local running sum seeded from the broadcast
    // offsets; null token counts contribute 0 (sum-over-window skips
    // nulls — same oracle semantics).
    val inSchema = prepared.schema
    val iDoc = inSchema.fieldIndex("doc_id")
    val iStratum = inSchema.fieldIndex(strataCol)
    val iTok = inSchema.fieldIndex("ws_tokens")
    val iKey = inSchema.fieldIndex("__skey")
    val iPid = inSchema.fieldIndex("__pid")
    val outSchema = StructType(Seq(
      inSchema(iDoc), inSchema(iStratum), inSchema(iTok),
      StructField("seq_id", LongType, nullable = false),
      StructField("seq_offset", LongType, nullable = false)))
    implicit val enc: Encoder[Row] = Encoders.row(outSchema)
    prepared.mapPartitions { it =>
      val startByKey = bcStarts.value
      var cur: String = null
      var open = false
      var run = 0L
      it.map { r =>
        val k = if (r.isNullAt(iKey)) null else r.getString(iKey)
        if (!open || k != cur) {
          cur = k; open = true
          run = startByKey.getOrElse((r.getInt(iPid), k), 0L)
        }
        val off = run
        if (!r.isNullAt(iTok)) run += r.getLong(iTok)
        // integral div, not a double roundtrip: cumulative offsets
        // past 2^53 would round across a sequence boundary (the
        // bucketEpochSec rationale); matches the oracle's `//`
        Row(r.get(iDoc), r.get(iStratum), r.get(iTok),
          off / budgetTokens, off % budgetTokens)
      }
    }
  }

  /** F17: deterministic global shuffle — every document gets a stable
    * position in a pseudo-random total order (the training-epoch
    * shuffle: order by (md5(doc_id), doc_id)) plus a round-robin
    * shard id, the assignment a data-parallel trainer consumes.
    *
    * The naive spelling — `row_number()` over an UNPARTITIONED
    * window — collapses the whole corpus into one task (the classic
    * global-window antipattern this file's F7 already dodges for
    * per-stratum offsets). The scale spelling here: Spark's
    * DISTRIBUTED sort (`repartitionByRange` on the hash key samples
    * range boundaries, `sortWithinPartitions` finishes locally), then
    * TWO-PHASE numbering — per-partition row counts (one row per
    * partition, bounded collect), exclusive-scanned on the driver in
    * partition order (range partitions are globally ordered),
    * broadcast back, and finished with a partition-local counter in
    * one `mapPartitions` pass. Output is bit-identical to the window
    * spelling (the oracle keeps the window SQL; the spec pins
    * equality). `__pid` is frozen into the staged data via
    * [[checkpointStaged]] — the F7 rationale: a re-run of the range
    * shuffle could redraw sampled boundaries, and
    * `TaskContext.getPartitionId` lies under narrow merges. */
  def globalShuffle(docs: DataFrame, nShards: Int = 8,
                    partitions: Int = 0): DataFrame = {
    require(nShards > 0, s"nShards=$nShards must be positive")
    val numbered = numberInRangeOrder(
      docs.select(col("doc_id"),
        md5(col("doc_id").cast("string")).as("__hkey")),
      sortKeys = Seq("__hkey", "doc_id"), keep = Seq("doc_id"),
      partitions = partitions)
    numbered.withColumn("shard", col("pos") % nShards)
  }

  /** The F17 scale core, shared with [[curriculum]]: distributed
    * range-sort of `staged` on `sortKeys`, then TWO-PHASE global
    * numbering (per-partition counts → driver exclusive scan in
    * partition order → broadcast offsets → one partition-local
    * `mapPartitions` counter). Output = the `keep` columns + a dense
    * 0-based `pos` — bit-identical to the unpartitioned-window
    * spelling the oracles keep, without the single-task collapse. */
  private def numberInRangeOrder(staged: DataFrame, sortKeys: Seq[String],
                                 keep: Seq[String],
                                 partitions: Int): DataFrame = {
    val spark = staged.sparkSession
    val nPart = if (partitions > 0) partitions
      else spark.sessionState.conf.numShufflePartitions
    val sortCols = sortKeys.map(col)
    val prepared = checkpointStaged(
      staged
        .repartitionByRange(nPart, sortCols: _*)
        .sortWithinPartitions(sortCols: _*)
        .withColumn("__pid", spark_partition_id()),
      registry = shufflePins)
    val counts = prepared.groupBy(col("__pid"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getInt(0), r.getLong(1)))
    val offsets: Map[Int, Long] = {
      var acc = 0L
      counts.sortBy(_._1).map { case (pid, n) =>
        val start = acc; acc += n; (pid, start)
      }.toMap
    }
    val bc = spark.sparkContext.broadcast(offsets)
    val keepIdx = keep.map(prepared.schema.fieldIndex)
    val iPid = prepared.schema.fieldIndex("__pid")
    val outSchema = StructType(keepIdx.map(prepared.schema(_)) :+
      StructField("pos", LongType, nullable = false))
    implicit val enc: Encoder[Row] = Encoders.row(outSchema)
    prepared.mapPartitions { it =>
      val off = bc.value
      var pos = 0L
      var init = false
      it.map { r =>
        if (!init) { pos = off.getOrElse(r.getInt(iPid), 0L); init = true }
        val p = pos; pos += 1
        Row(keepIdx.map(r.get) :+ (p: Any): _*)
      }
    }
  }

  /** F33: CENTRALITY-weighted corpus sampling — the E13 consumer:
    * keep each document with probability min(1, pagerank) under the
    * house deterministic md5 coin (seedless, replayable — the F6/F12
    * posture), so graph-central "prototype" documents survive and the
    * near-singleton periphery thins to its damped base rate. This is
    * the graph-weighted flavor of stratified sampling: the weight is
    * [[Similarity.knnPagerank6]]'s scale-6 integral rank `(vec_id,
    * pr6)` — the EXACT frame, not the double projection: pagerank
    * doubles hold pr6 exactly only below 2⁵³, and a
    * mass-concentrating graph at corpus scale exceeds that, so a
    * double round-trip here could disagree with an exact-integer
    * mirror by an ulp precisely on the rows near their coin cut.
    *
    * Exactness (both engines): coin32 = the first 8 hex chars of
    * md5(doc_id || ":cent") as a 32-bit integer; keep iff
    * coin32·1e6 < pr6·2³² in EXACT wide arithmetic (DECIMAL(38,0)
    * here, HUGEINT in the mirror — pr6 is unbounded above 1e6 on
    * mass-concentrating graphs, so 64-bit products can overflow at
    * corpus scale; the ARI precedent).
    * A doc with no pagerank row (no embedding) has no weight and is
    * DROPPED — sampling by a weight you don't have is not a default.
    * Scale shape: one equi-join on the id + a scan-fused filter —
    * zero new shuffles beyond the join. */
  def centralitySample(docs: DataFrame, pagerank6: DataFrame): DataFrame = {
    val coin32 = conv(substring(md5(concat(
      col("doc_id").cast("string"), lit(":cent"))), 1, 8), 16, 10)
      .cast("decimal(38,0)")
    docs.select(col("doc_id"))
      .join(pagerank6.select(col("vec_id").as("doc_id"), col("pr6")),
        Seq("doc_id"))
      .filter(coin32 * lit(1000000L).cast("decimal(38,0)") <
        col("pr6").cast("decimal(38,0)") *
          lit(4294967296L).cast("decimal(38,0)"))
      .select(col("doc_id"),
        (col("pr6").cast("double") / lit(1e6)).as("pagerank"))
  }

  /** F31: CURRICULUM ordering — the quality-staged training order
    * (curriculum learning, Bengio et al. ICML 2009: present easy
    * examples first): every document gets a stage (0 = the
    * highest-quality band, `nStages−1` = the lowest, from the F2
    * quality score's scale-6 integer banded into `nStages` equal-width
    * cuts) and one dense GLOBAL 0-based position ordered by
    * (stage, md5(doc_id), doc_id) — within a stage the order is
    * exactly F17's deterministic shuffle, so a trainer consuming
    * positions 0..n−1 walks the corpus easy→hard with each band
    * internally well-mixed. Replayable end to end: score, band, and
    * hash are all deterministic functions of the row.
    *
    * Exactness: band = least(nStages−1, (score6·nStages) div 1e6) on
    * the scale-6 score both engines round identically (the F2b
    * histogram contract); the position is the same two-phase numbering
    * as F17 ([[numberInRangeOrder]]) against the oracle's
    * unpartitioned-window spelling. Scale shape: one quality scan
    * (zero shuffle, F2), one distributed range sort on
    * (stage, hash) — the same single total-order exchange F17 already
    * pays; nothing here is new shuffle work beyond the sort that IS
    * the deliverable. */
  def curriculum(docs: DataFrame, nStages: Int = 4,
                 partitions: Int = 0): DataFrame = {
    require(nStages > 0 && nStages <= 1000,
      s"nStages=$nStages out of [1, 1000]")
    val scored = TextAnalysis.qualityScore(docs)
      .select(col("doc_id"),
        round(col("score") * lit(1000000.0)).cast("long").as("__score6"))
      .withColumn("stage",
        lit(nStages - 1).cast("long") -
          least(lit(nStages - 1).cast("long"),
            expr(s"(__score6 * $nStages) div 1000000")))
      .select(col("doc_id"), col("stage"),
        md5(col("doc_id").cast("string")).as("__hkey"))
    numberInRangeOrder(scored,
      sortKeys = Seq("stage", "__hkey", "doc_id"),
      keep = Seq("doc_id", "stage"), partitions = partitions)
  }

  /** F18: overlapping token-window chunking — the embedding/RAG prep
    * step: each document splits into windows of `chunkTokens` tokens
    * whose starts advance by `chunkTokens − overlap` (consecutive
    * chunks share `overlap` tokens so a sentence straddling a
    * boundary appears whole in one of them), the last chunk runs
    * short, and a non-empty doc always yields ≥ 1 chunk. Pure per-row
    * explode — zero shuffle, scan-fused like F1–F4; chunk ids are
    * (doc_id, chunk_id) with positions, ready to join back or feed an
    * embedding encoder. Fully oracled (deterministic token slicing
    * mirrors to DuckDB list_slice). */
  def chunkDocs(docs: DataFrame, chunkTokens: Int = 256,
                overlap: Int = 32): DataFrame = {
    require(chunkTokens > 0, s"chunkTokens=$chunkTokens must be positive")
    require(overlap >= 0 && overlap < chunkTokens,
      s"overlap=$overlap must be in [0, chunkTokens)")
    val s = chunkTokens - overlap
    docs
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .filter(size(col("t")) > 0)
      // nChunks = ceil(max(nt − overlap, 1) / stride): the last start
      // is the largest i·s < nt − overlap, so the final chunk always
      // reaches the last token and short docs get exactly one chunk
      .select(col("doc_id"), col("t"),
        explode(expr(
          s"sequence(0, greatest((size(t) - $overlap + $s - 1) div $s, 1) - 1)"))
          .as("chunk_id"))
      .select(col("doc_id"), col("chunk_id").cast("bigint").as("chunk_id"),
        (col("chunk_id") * s).cast("bigint").as("start_tok"),
        expr(s"slice(t, chunk_id * $s + 1, $chunkTokens)").as("ct"))
      .select(col("doc_id"), col("chunk_id"), col("start_tok"),
        size(col("ct")).cast("bigint").as("n_tokens"),
        concat_ws(" ", col("ct")).as("chunk_text"))
  }

  /** F14: the end-to-end pretraining-prep job as ONE declared plan —
    * the composition a production corpus actually runs nightly, from
    * raw documents to packed training sequences:
    *
    *   1. quality gate — F2's score, docs below `minQuality` dropped
    *      (null/empty text scores 0.0 and exits here);
    *   2. exact dedup — D1's keep-lowest-id-per-content-hash, spelled
    *      as `min_by(struct(...))` inside the SAME hash aggregate so
    *      the survivor's stratum+text ride along (no corpus-sized
    *      join back against the keep-list);
    *   3. near-dup dedup — D3b's df-capped gram-Jaccard pairs at
    *      `tau`, D6 survivors (lowest id per near-dup pair wins);
    *   4. sequence packing — F7's two-phase distributed prefix sum
    *      into `budgetTokens` sequences per stratum.
    *
    * Every stage is individually oracled/spec'd in the catalog; this
    * entry pins the COMPOSITION and gives the driver one benched
    * headline number for the whole job (`corpus_prep_e2e`).
    *
    * Shuffle ledger at 100 TB: the quality gate is scan-fused
    * (narrow); exact dedup is one hash aggregate on the content hash
    * (map-side partials, no skew — hashes are uniform); the pair join
    * runs on D3b's df-capped exploded-gram table (fan-out bounded
    * ≤ maxDf² per gram); survivors is an anti-join against the pair
    * list (pairs ≪ corpus — AQE broadcasts it); packing pays F7's
    * range shuffle. Nothing shuffles on a raw skewed column. */
  def prepPipeline(docs: DataFrame, minQuality: Double = 0.2,
                   strataCol: String = "lang", budgetTokens: Int = 2048,
                   tau: Double = 0.5, maxDf: Long = 10000L): DataFrame = {
    require(minQuality > 0.0,
      s"minQuality=$minQuality must be positive: the quality gate is " +
        "what drops null/empty-text docs (score 0.0) before dedup")
    val kept = TextAnalysis.qualityScore(docs, passthrough = Seq(strataCol, "text"))
      .filter(col("score") >= minQuality)
      .select(col("doc_id"), col(strataCol), col("text"))
    val exactKept = kept
      .groupBy(md5(col("text")).as("__h"))
      .agg(min_by(struct(col("doc_id"), col(strataCol), col("text")),
        col("doc_id")).as("__s"))
      .select(col("__s.doc_id").as("doc_id"),
        col(s"__s.$strataCol").as(strataCol), col("__s.text").as("text"))
    val pairs = Dedup.ngramJaccard(exactKept, tau, maxDf = maxDf)
    packSequences(Dedup.survivors(exactKept, pairs), strataCol, budgetTokens)
  }

  /** The FULL modern prep funnel (C4 / Dolma class) — [[prepPipeline]]
    * extended with the four hygiene stages every production corpus
    * prep also runs, in pipeline order:
    *
    *   1. bench holdout — eval-benchmark rows (`isBenchmark`) leave
    *      the training stream entirely (they only feed stage 8);
    *   2. language gate — F1's stopword-argmax label; keep
    *      `pred_lang = keepLang` (C4 keeps English; Raffel et al.
    *      2020 §2.2);
    *   3. quality gate — F2's score ≥ `minQuality` (nulls exit here);
    *   4. blocklist — F22: any blocklisted token occurrence drops the
    *      doc (C4's "bad words" filter);
    *   5. PII redaction — F11's staged email→IP→phone masking,
    *      1:1 (redacts, never drops). Runs BEFORE the dedup hashes so
    *      docs differing only in volatile PII spans dedup together;
    *   6. exact dedup — D1 keep-lowest-id per content hash (of the
    *      REDACTED text);
    *   7. near-dup dedup — D3b df-capped gram-Jaccard at `tau`, D6
    *      survivors;
    *   8. decontamination — D9c's Bloom-pre-cut gram overlap against
    *      the held-out benchmark docs (RAW bench text): any survivor
    *      sharing ≥ `minShared` grams with any bench doc drops;
    *   9. packing — F7 into `budgetTokens` sequences per stratum.
    *
    * Every stage is individually oracled/spec'd in the catalog; this
    * composition is `corpus_prep_e2e` (one benched headline number)
    * and [[prepFunnelLedger]] is its per-stage row accounting.
    *
    * Shuffle ledger at 100 TB, beyond [[prepPipeline]]'s: stages 1–5
    * are all scan-fused per-row expression work — the funnel reaches
    * its first exchange at exact dedup with the corpus already
    * filtered; decontamination adds D9c's Bloom-guarded equi-join
    * (bench grams ≪ corpus, sketch ships as plan bytes). */
  def prepFunnel(docs: DataFrame, isBenchmark: Column,
                 blocklist: Seq[String], keepLang: String = "en",
                 minQuality: Double = 0.2, strataCol: String = "lang",
                 budgetTokens: Int = 2048, tau: Double = 0.5,
                 maxDf: Long = 10000L, minShared: Int = 3): DataFrame =
    funnelStages(docs, isBenchmark, blocklist, keepLang, minQuality,
      strataCol, budgetTokens, tau, maxDf, minShared).last._2

  /** [[prepFunnel]]'s stage-by-stage row ledger: one row per stage,
    * `(stage_idx, stage, n_docs)` = documents still alive AFTER that
    * stage. The audit artifact a production funnel publishes with
    * every run — "we dropped 4% at quality, 11% at near-dup" — and
    * the regression tripwire: a stage silently emptying (bad regex,
    * empty blocklist broadcast) moves its count to 0 while the final
    * output may still look plausible. Identical 1:1 counts pin the
    * redaction and packing stages as non-dropping.
    *
    * Cost shape: each stage count re-declares the prefix plan, but
    * the two cached stage frames (redacted prefix, near-dup
    * survivors) plus runtime shuffle-stage reuse make the expensive
    * subtrees shared across branches — the ledger costs ~one funnel
    * pass (1.69 s vs the funnel's 1.94 s at sf0.1, measured r14), not
    * O(stages) passes. */
  def prepFunnelLedger(docs: DataFrame, isBenchmark: Column,
                       blocklist: Seq[String], keepLang: String = "en",
                       minQuality: Double = 0.2, strataCol: String = "lang",
                       budgetTokens: Int = 2048, tau: Double = 0.5,
                       maxDf: Long = 10000L, minShared: Int = 3): DataFrame =
    funnelStages(docs, isBenchmark, blocklist, keepLang, minQuality,
      strataCol, budgetTokens, tau, maxDf, minShared)
      .zipWithIndex.map { case ((name, df), i) =>
        df.agg(count(lit(1)).as("n_docs"))
          .select(lit(i).as("stage_idx"), lit(name).as("stage"),
            col("n_docs"))
      }.reduce(_.unionByName(_))

  /** The funnel's stage list: `(stage name, frame of rows alive after
    * the stage)`, last = packed sequences. Single source for
    * [[prepFunnel]] and [[prepFunnelLedger]]. */
  private[graft] def funnelStages(docs: DataFrame, isBenchmark: Column,
                           blocklist: Seq[String], keepLang: String,
                           minQuality: Double, strataCol: String,
                           budgetTokens: Int, tau: Double,
                           maxDf: Long, minShared: Int): Seq[(String, DataFrame)] = {
    require(minQuality > 0.0,
      s"minQuality=$minQuality must be positive: the quality gate is " +
        "what drops null/empty-text docs (score 0.0) before dedup")
    // coalesce: a NULL bench flag means "corpus doc" on the holdout
    // side but "check it" inside D9c (its own documented coalesce) —
    // both reads keep the doc in play, never silently drop it
    val bench = coalesce(isBenchmark, lit(false))
    val corpus = docs.filter(!bench)
    val gates = gateStages(corpus, blocklist, keepLang, minQuality, strataCol)
    // cached: the whole narrow gate prefix materializes ONCE — the
    // exact-dedup aggregate, both gram branches of near-dup, the
    // decontamination union side, and every ledger count branch read
    // this frame (without the cache each re-runs tokenize+regex over
    // the corpus; with it the funnel+ledger pair costs ~one pass)
    val redacted = funnelCaches("funnel_redacted", gates.last._2)
    // D1 spelled as min_by inside the SAME hash aggregate (the
    // prepPipeline rationale: survivor's stratum+text ride along, no
    // corpus-sized join back against a keep-list)
    val exactKept = redacted
      .groupBy(md5(col("text")).as("__h"))
      .agg(min_by(struct(col("doc_id"), col(strataCol), col("text")),
        col("doc_id")).as("__s"))
      .select(col("__s.doc_id").as("doc_id"),
        col(s"__s.$strataCol").as(strataCol), col("__s.text").as("text"))
    // cached for the same reason: survivors feed the decontamination
    // gram expansion (twice — Bloom build side + probe), the clean
    // anti-join, packing, and two ledger counts
    val surv = funnelCaches("funnel_surv", Dedup.survivors(exactKept,
      Dedup.ngramJaccard(exactKept, tau, maxDf = maxDf))
      .select(col("doc_id"), col(strataCol), col("text")))
    // decontamination: survivors (redacted text) vs the held-out
    // bench docs (RAW text — eval sets are not redacted); disjoint
    // id spaces by construction (bench left at stage 1)
    val benchDocs = docs.filter(bench)
      .select(col("doc_id"), col(strataCol), col("text"))
    val contaminated = Dedup.contaminationBloom(
        surv.withColumn("__bench", lit(false))
          .unionByName(benchDocs.withColumn("__bench", lit(true))),
        col("__bench"), minShared = minShared)
      .select(col("doc_id")).distinct()
    val clean = surv.join(contaminated, Seq("doc_id"), "left_anti")
    Seq("input" -> docs, "bench_holdout" -> corpus) ++
      gates.init ++ Seq(
      "pii_redact"    -> redacted,
      "exact_dedup"   -> exactKept,
      "near_dedup"    -> surv,
      "decontam"      -> clean,
      "pack"          -> packSequences(clean, strataCol, budgetTokens))
  }

  /** The funnel's stateless per-row gate prefix (language gate →
    * quality gate → blocklist → PII redact), ordered, each stage's
    * surviving frame `(doc_id, strataCol, text)`. ONE spelling shared
    * by [[funnelStages]] and the streaming arrival gate
    * ([[graft.streaming.EventStream.streamingFunnelGate]]) so batch
    * and stream can never diverge on gate semantics. All four stages
    * are scan-fused per-row expression work — zero shuffle, zero
    * state, which is exactly why they can run per micro-batch. */
  private[graft] def gateStages(corpus: DataFrame, blocklist: Seq[String],
                                keepLang: String, minQuality: Double,
                                strataCol: String): Seq[(String, DataFrame)] = {
    val langKept = TextAnalysis.withLangPred(corpus)
      .filter(col("pred_lang") === keepLang)
      .select(col("doc_id"), col(strataCol), col("text"))
    val qualKept = TextAnalysis
      .qualityScore(langKept, passthrough = Seq(strataCol, "text"))
      .filter(col("score") >= minQuality)
      .select(col("doc_id"), col(strataCol), col("text"))
    val blockKept = qualKept
      .filter(TextAnalysis.blocklistHits(blocklist) === 0)
    val redacted = TextAnalysis
      .piiRedact(blockKept, passthrough = Seq(strataCol))
      .select(col("doc_id"), col(strataCol), col("text_clean").as("text"))
    Seq("lang_id" -> langKept, "quality" -> qualKept,
      "blocklist" -> blockKept, "pii_redact" -> redacted)
  }

  /** F7b: per-stratum PACKING statistics — the sequence-budget audit
    * read off [[packSequences]]' assignment: docs, sequences, token
    * mass, and the fill rate (token mass over sequence capacity) per
    * stratum. The number that tells you whether `budgetTokens` wastes
    * capacity (fill ≪ 1 — tiny docs, consider a bigger budget or doc
    * concatenation) before sequences ever get built.
    *
    * Scale shape: the pack assignment's two-phase prefix sum runs as
    * is; this adds ONE partial-agg groupBy to O(strata) rows.
    * Exactness: counts and token sums are exact longs; the fill rate
    * is one double division of exact longs rounded at 6 dp — a 6-dp
    * half is (2a+1)/(2·10^6), which no double equals exactly (the
    * denominator carries 5^6 — not dyadic), so both engines round the
    * identical quotient identically. */
  def packStats(docs: DataFrame, strataCol: String,
                budgetTokens: Int): DataFrame =
    packSequences(docs, strataCol, budgetTokens)
      .groupBy(col(strataCol))
      .agg(count(lit(1)).as("n_docs"),
        (max(col("seq_id")) + 1).as("n_seqs"),
        sum(col("ws_tokens")).as("n_tokens"))
      .withColumn("fill_rate",
        round(col("n_tokens").cast("double") /
          (col("n_seqs") * budgetTokens).cast("double"), 6))

  /** Corpus REFERENTIAL-INTEGRITY audit — the cross-modal sanity pass
    * a multi-table corpus (text + embeddings here; images/audio the
    * same way) runs before training: one row of counts for dangling
    * references (docs with no vector, vectors with no doc), duplicate
    * primary ids on either side, and degenerate payloads (null/empty
    * text, null vectors). Silent referential drift — an embedding job
    * that skipped a shard — is invisible to every per-table operator;
    * this is the tripwire.
    *
    * Scale shape: two whole-table aggregates (exact, partial-agg) +
    * two anti-joins over the DISTINCT id sets (id-keyed exchanges on
    * frames already collapsed to one row per id); the four one-row
    * results cross-broadcast into the single output row. */
  def integrity(docs: DataFrame, emb: DataFrame): DataFrame = {
    val d = docs.agg(
      count(lit(1)).as("n_docs"),
      (count(lit(1)) - countDistinct(col("doc_id"))).as("dup_doc_ids"),
      count(when(col("text").isNull || length(col("text")) === 0, 1))
        .as("empty_text_docs"))
    val e = emb.agg(
      count(lit(1)).as("n_vectors"),
      (count(lit(1)) - countDistinct(col("vec_id"))).as("dup_vec_ids"),
      count(when(col("embedding").isNull, 1)).as("null_vectors"))
    val docOrphans = docs.select("doc_id").distinct()
      .join(emb.select(col("vec_id").as("doc_id")).distinct(),
        Seq("doc_id"), "left_anti")
      .agg(count(lit(1)).as("docs_without_vector"))
    val vecOrphans = emb.select("vec_id").distinct()
      .join(docs.select(col("doc_id").as("vec_id")).distinct(),
        Seq("vec_id"), "left_anti")
      .agg(count(lit(1)).as("vectors_without_doc"))
    d.crossJoin(e).crossJoin(docOrphans).crossJoin(vecOrphans)
  }

  /** F15: temperature-scaled mixing plan — the standard multilingual
    * rebalance (T5/mT5's α-sampling): target share `p_s ∝ n_s^α`, so
    * α = 1 keeps natural proportions, α → 0 flattens toward uniform,
    * and intermediate α up-weights rare strata smoothly. Shares feed
    * the same no-upsampling largest-T rule as [[mixPlan]]
    * (`T = min_s(n_s / p_s)`, `rate_s = p_s·T/n_s`), and the output
    * shape matches — plan, then [[sampleStratified]], is the loop.
    *
    * Same scale posture as mixPlan: one strata-count aggregate + a
    * broadcast scalar, O(strata) output, fully lazy, corpus scanned
    * once at materialization. Shares/rates round at 6 dp — `power` is
    * within 1 ulp per engine, and a 1-ulp wobble at 1e-16 relative
    * cannot move a 6-dp rounding off a non-boundary value. */
  def mixTemperature(docs: DataFrame, strataCol: String,
                     alpha: Double): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0,
      s"alpha=$alpha must sit in (0, 1]: α > 1 sharpens skew (never " +
        "wanted for rebalance) and α = 0 breaks ties arbitrarily")
    val counts = docs.groupBy(col(strataCol))
      .agg(count(lit(1)).as("n_docs"))
    // NULL strata count like any other group and get a share: the
    // temperature law is a function of the COUNT, not the label
    val tot = counts.agg(
      sum(pow(col("n_docs"), lit(alpha))).as("z"),
      min(pow(col("n_docs"), lit(1.0 - alpha))).as("m"))
    // p_s = n^α / z;  T = min_s(n_s/p_s) = z · min_s(n_s^(1-α))
    // rate_s = p_s·T/n_s = n_s^(α-1) · min_s(n_s^(1-α))
    counts.crossJoin(broadcast(tot))
      .select(col(strataCol), col("n_docs"),
        round(pow(col("n_docs"), lit(alpha)) / col("z"), 6).as("share"),
        round(pow(col("n_docs"), lit(alpha - 1.0)) * col("m"), 6).as("rate"))
  }

  /** F16: per-stratum token-budget cap — keep each stratum's document
    * stream (doc_id order) until the running token total reaches
    * `budgetTokens`: a doc is kept iff its FIRST token starts under
    * the budget (the doc straddling the boundary stays whole — caps
    * trim streams, they don't split documents). The cumulative sum is
    * [[packSequences]]' two-phase distributed prefix sum verbatim —
    * kept ⟺ `seq_id = 0` at sequence length `budgetTokens` — so the
    * mega-stratum never pins to one task and the cap needs no new
    * machinery. Output: the kept docs with their token count and
    * stream offset. */
  def budgetCap(docs: DataFrame, strataCol: String,
                budgetTokens: Int): DataFrame =
    packSequences(docs, strataCol, budgetTokens)
      .filter(col("seq_id") === 0L)
      .select(col("doc_id"), col(strataCol), col("ws_tokens"),
        col("seq_offset").as("tok_offset"))

  /** F17: exact-count stratified take — exactly `min(n, n_s)` docs per
    * stratum (mixture building needs exact counts where
    * [[sampleStratified]]'s rate coin gives binomial ones), chosen by
    * the same engine-portable md5 coin so membership is deterministic
    * and decoupled from partitioning: rank docs per stratum by
    * `(md5(doc_id ":" salt), doc_id)` — the id tie-break pins the
    * order even on the measure-zero chance of a coin collision — and
    * keep rank ≤ n. One rank window per stratum; Spark plans
    * `WindowGroupLimit` below the exchange, so each map task ships at
    * most n rows per stratum, not its whole slice. */
  def sampleExact(docs: DataFrame, strataCol: String, n: Int,
                  salt: String = "take"): DataFrame = {
    require(n > 0, s"n=$n must be positive")
    val coin = substring(
      md5(concat(coalesce(col("doc_id").cast("string"), lit("")),
        lit(":"), lit(salt))), 1, 8)
    val w = Window.partitionBy(col(strataCol))
      .orderBy(coin.asc, col("doc_id").asc)
    docs.select(col("doc_id"), col(strataCol))
      .withColumn("rnk", row_number().over(w).cast("bigint"))
      .filter(col("rnk") <= n)
  }

  /** F12: deterministic train/val/test assignment — the split every
    * training run needs pinned BEFORE any shuffling or sampling, with
    * the same engine-portable md5 coin as [[sampleStratified]]: a doc
    * lands in the first split whose cumulative weight threshold its
    * coin sorts below, so membership is a pure function of (doc_id,
    * salt) — stable across engines, partitionings, re-runs, and
    * incremental appends (a new batch splits consistently without
    * seeing old data). Zero shuffle: a per-row projection fused into
    * the scan.
    *
    * `splits` are (name, weight) in priority order; weights are
    * normalized (need not sum to 1). `salt` decorrelates independent
    * splits of the same corpus (resplitting with a new salt is a fresh
    * draw). The final split absorbs the ≤2⁻³² hex-rounding sliver so
    * every doc is assigned. */
  def splitAssign(docs: DataFrame, splits: Seq[(String, Double)],
                  salt: String = "split"): DataFrame = {
    require(splits.nonEmpty && splits.forall(_._2 > 0.0),
      "splits must be non-empty with positive weights")
    require(splits.map(_._1).distinct.size == splits.size,
      "split names must be distinct")
    val total = splits.map(_._2).sum
    val cum = splits.scanLeft(0.0) { case (acc, (_, w)) => acc + w / total }.tail
    // NULL doc_ids coin from the empty string (all land in ONE split,
    // varying with the salt) — an un-coalesced NULL coin would send
    // every null-id row to the LAST split via the otherwise branch,
    // silently biasing whatever split happens to be listed last
    val coin = substring(
      md5(concat(coalesce(col("doc_id").cast("string"), lit("")),
        lit(":"), lit(salt))), 1, 8)
    val assigned = splits.zip(cum).dropRight(1)
      .foldLeft(when(lit(false), lit(""))) {
        case (acc, ((name, _), c)) =>
          acc.when(coin < lit(hexThreshold(c)), lit(name))
      }.otherwise(lit(splits.last._1))
    docs.withColumn("split", assigned)
  }

  /** F13: exact token-length quantiles per stratum — the distribution
    * diagnostic that sizes [[packSequences]]' budget and catches a
    * stratum of truncated or runaway documents before training. EXACT
    * interpolated percentiles (Spark's `percentile` aggregate, the
    * same linear rank·(n−1) definition DuckDB's `quantile_cont`
    * uses — oracle-comparable, unlike `approx_percentile`'s
    * engine-specific sketch): one groupBy on the stratum; the sort
    * happens inside the aggregate per group, never globally. Exact
    * percentiles buffer each group's counts — fine for any corpus
    * whose distinct token-length domain is bounded (lengths, not
    * docs); a truly unbounded-domain column would switch to
    * `approx_percentile` and a rows-only check. Rounded at 6 dp: the
    * interpolation is one double multiply-add per engine. */
  def tokenQuantiles(docs: DataFrame, strataCol: String,
                     ps: Seq[Double]): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p >= 0.0 && p <= 1.0),
      s"percentiles $ps must sit in [0, 1]")
    val labels = ps.map(quantileLabel)
    require(labels.distinct.size == labels.size,
      s"percentiles $ps produce duplicate column labels $labels")
    val lengths = docs.select(col(strataCol),
      size(tokens(col("text"))).cast("double").as("n_tokens"))
    val aggs = count(lit(1)).as("n_docs") +: ps.zip(labels).map { case (p, l) =>
      round(expr(s"percentile(n_tokens, CAST($p AS DOUBLE))"), 6).as(l) }
    lengths.groupBy(col(strataCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** F13b: approximate token-length percentiles — F13's 100 TB shape.
    * Exact `percentile` buffers EVERY value of a group in one
    * aggregation buffer (fine for sizing a bench stratum, an OOM at
    * corpus scale); `approx_percentile` keeps a bounded
    * Greenwald-Khanna summary per group instead — constant memory at
    * any n, built per partition and MERGED in the partial-agg combine
    * like F15b's HLL sketch, with rank error ≤ n/accuracy. Same
    * output schema/labels as F13 so the spec gates one against the
    * other column-for-column. Rows-only: a bounded-rank-error
    * estimate has no cross-engine mirror (DuckDB's approx_quantile is
    * a different summary). */
  def tokenQuantilesApprox(docs: DataFrame, strataCol: String,
                           ps: Seq[Double], accuracy: Int = 10000): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p >= 0.0 && p <= 1.0),
      s"percentiles $ps must sit in [0, 1]")
    val labels = ps.map(quantileLabel)
    require(labels.distinct.size == labels.size,
      s"percentiles $ps produce duplicate column labels $labels")
    val lengths = docs.select(col(strataCol),
      size(tokens(col("text"))).cast("double").as("n_tokens"))
    val psSql = ps.map(p => s"CAST($p AS DOUBLE)").mkString("array(", ",", ")")
    val est = expr(s"approx_percentile(n_tokens, $psSql, $accuracy)")
    val withArr = lengths.groupBy(col(strataCol))
      .agg(count(lit(1)).as("n_docs"), est.as("_q"))
    labels.zipWithIndex.foldLeft(withArr) { case (df, (l, i)) =>
      df.withColumn(l, round(col("_q").getItem(i), 6))
    }.drop("_q")
  }

  /** Output column label for percentile `p` — exact, not rounded to a
    * percent (`math.round(p·100)` collides 0.025 with 0.03 and labels
    * 0.005 as "p1"): `p25`, `p2_5`, `p0_5`. Shared with the oracle
    * SQL generator so both engines name the columns identically. */
  def quantileLabel(p: Double): String =
    "p" + BigDecimal(p.toString).*(100).underlying
      .stripTrailingZeros.toPlainString.replace(".", "_").replace("-", "m")

  /** F8: token frequency top-k per stratum — the corpus-inspection
    * counterpart of F1/F5 (vocabulary skew, boilerplate detection).
    * Explode → groupBy(stratum, token) with map-side partial
    * aggregation (the exchange carries one row per distinct (stratum,
    * token), not per occurrence) → rank window with deterministic
    * (count desc, token asc) tie-break; Spark plans a
    * `WindowGroupLimit` below the exchange for the rank filter.
    */
  def topTokens(docs: DataFrame, strataCol: String, k: Int): DataFrame = {
    val counts = docs
      .select(col(strataCol), explode(tokens(col("text"))).as("token"))
      .groupBy(col(strataCol), col("token"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(strataCol).orderBy(col("cnt").desc, col("token"))
    counts
      .withColumn("rnk", row_number().over(w).cast("bigint"))
      .filter(col("rnk") <= k)
  }

  /** F25: TF-IDF distinctive terms per stratum — [[topTokens]]'
    * idf-weighted sibling: raw counts surface the SHARED boilerplate
    * (the same stopwords top every stratum), tf-idf surfaces what
    * makes each stratum DIFFERENT — the corpus-inspection dual a prep
    * runs to sanity-check domain/language labels and spot
    * cross-stratum leakage. Smooth idf (the sklearn form, finite even
    * at df = N): idf = ln((N+1)/(df+1)) + 1, df counted over DOCS
    * corpus-wide, tf summed per (stratum, token).
    *
    * Cross-engine exactness (SURVEY §5): idf rounds in-expression to
    * a scale-4 integer (N+1 ≥ df+1 so ln ≥ 0 — positive halves round
    * identically under HALF_UP and half-away; the 1-ulp ln() wobble
    * argument covers the rest), score_i = tf·idf4 is exact long
    * arithmetic, the rank orders on (score_i desc, token) — integers
    * and strings only — and the reported score divides once by 1e4
    * into a double.
    *
    * Scale shape: two partial-agg groupBys collapse the corpus to
    * (strata × vocab) tf rows and vocab df rows before anything
    * joins; the join key is the token — one row per distinct token
    * however hot the token is in the corpus, so no skew; N rides as
    * a broadcast one-row frame; the rank window partitions by stratum
    * over vocab-sized groups with `WindowGroupLimit` keeping map
    * output at k rows per stratum. Nothing downstream of the first
    * aggregate is corpus-sized. */
  def tfidfTerms(docs: DataFrame, strataCol: String, k: Int): DataFrame = {
    val base = docs.select(col(strataCol), col("doc_id"),
      tokens(col("text")).as("toks"))
    val tf = base
      .select(col(strataCol), explode(col("toks")).as("token"))
      .groupBy(col(strataCol), col("token"))
      .agg(count(lit(1)).as("tf"))
    val dfT = base
      .select(explode(array_distinct(col("toks"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(strataCol)
      .orderBy(col("score_i").desc, col("token"))
    tf.join(dfT, Seq("token")).crossJoin(broadcast(n))
      .withColumn("score_i", col("tf") *
        round((log((col("n") + lit(1.0)) / (col("df") + lit(1.0)))
          + lit(1.0)) * lit(10000.0)).cast("long"))
      .withColumn("rnk", row_number().over(w).cast("bigint"))
      .filter(col("rnk") <= k)
      .select(col(strataCol), col("token"), col("tf"), col("df"),
        (col("score_i").cast("double") / lit(10000.0)).as("score"),
        col("rnk"))
  }

  // ── F20: DSIR importance resampling ──────────────────────────────

  /** F20: Data Selection via Importance Resampling (Xie et al. 2023,
    * NeurIPS — the "make the crawl look like the target domain"
    * selection stage): hashed unigram features, per-doc importance
    * weight ln w = Σ_b m_b · ln(p_target(b)/p_raw(b)) under add-k
    * smoothing over B hashed buckets, then the top `selectRate`
    * fraction of docs by weight is selected. The target domain here
    * is the `targetLang` slice of the corpus itself (DSIR's target is
    * e.g. Wikipedia; a language slice is this dataset's analog).
    *
    * Determinism/mirroring (SURVEY §5): the feature bucket is the
    * first 2 hex chars of md5(token) — a STRING key, B = 256, no
    * hex→int conversion to disagree on — each bucket's ln ratio
    * rounds to a scale-4 INTEGER, doc weights are exact integer sums,
    * and the selection rank orders (weight desc, doc_id) — integers
    * again, so no double ever enters a comparison.
    *
    * Scale shape: one explode pass feeds BOTH the per-doc feature
    * rows and (via a second partial-agg groupBy) the 256-row bucket
    * count tables, which broadcast; the per-doc weight is one
    * doc-keyed groupBy; the global top-N rank is the F17 spelling —
    * distributed range sort on (weight desc, doc_id) + two-phase
    * numbering (per-partition counts, driver exclusive scan,
    * partition-local counter) — never a single-task global window.
    * The only driver-side values are the 256-row λ table's inputs and
    * the partition count array (bounded metadata). */
  /** F20's hashed-feature space: 2 hex chars of md5 → 256 buckets. */
  private val DsirB = 256

  /** Per-(doc, lang, bucket) feature multiplicities — one explode
    * pass; lang rides along (functionally dependent on doc_id). */
  private def dsirDm(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("lang"),
        explode(tokens(col("text"))).as("tok"))
      .select(col("doc_id"), col("lang"),
        substring(md5(col("tok")), 1, 2).as("b"))
      .groupBy(col("doc_id"), col("lang"), col("b"))
      .agg(count(lit(1)).as("m"))

  /** The λ table `(b, lam_i)` — one row per OCCUPIED raw bucket (a
    * doc feature row always references an occupied bucket), ln ratio
    * → scale-4 int — plus the one-row total frames `(n_r)`, `(n_t)`
    * the smoothing (and the frozen model's OOV backoff) needs. */
  private def dsirLam(dm: DataFrame, targetLang: String, k: Double)
      : (DataFrame, DataFrame, DataFrame) = {
    val raw = dm.groupBy(col("b")).agg(sum(col("m")).as("c_r"))
    val tgt = dm.filter(col("lang") === targetLang)
      .groupBy(col("b")).agg(sum(col("m")).as("c_t"))
    val nR = raw.agg(coalesce(sum(col("c_r")), lit(0L)).as("n_r"))
    val nT = tgt.agg(coalesce(sum(col("c_t")), lit(0L)).as("n_t"))
    val lam = raw.join(tgt, Seq("b"), "left")
      .crossJoin(broadcast(nR)).crossJoin(broadcast(nT))
      .select(col("b"),
        round(log(((coalesce(col("c_t"), lit(0L)) + lit(k)) *
            (col("n_r") + lit(k * DsirB))) /
          ((col("c_r") + lit(k)) * (col("n_t") + lit(k * DsirB)))) * lit(1e4))
          .cast("long").as("lam_i"))
    (lam, nR, nT)
  }

  def dsirSample(docs: DataFrame, targetLang: String = "en",
                 selectRate: Double = 0.25, k: Double = 0.5,
                 partitions: Int = 0): DataFrame = {
    require(selectRate > 0 && selectRate <= 1,
      s"selectRate=$selectRate must be in (0, 1]")
    val spark = docs.sparkSession
    val dm = dsirDm(docs)
    val (lam, _, _) = dsirLam(dm, targetLang, k)
    val weights = docs.select(col("doc_id"))
      .join(dm.join(broadcast(lam), Seq("b"))
          .groupBy(col("doc_id"))
          .agg(sum(col("m") * col("lam_i")).as("w_i"),
            sum(col("m")).as("n_toks")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("w_i"), lit(0L)).as("w_i"),
        coalesce(col("n_toks"), lit(0L)).as("n_toks"))

    // global rank by (w_i desc, doc_id): F17's two-phase numbering
    val nPart = if (partitions > 0) partitions
      else spark.sessionState.conf.numShufflePartitions
    val prepared = checkpointStaged(
      weights.repartitionByRange(nPart, col("w_i").desc, col("doc_id"))
        .sortWithinPartitions(col("w_i").desc, col("doc_id"))
        .withColumn("__pid", spark_partition_id()),
      registry = shufflePins)
    val counts = prepared.groupBy(col("__pid"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getInt(0), r.getLong(1)))
    val offsets: Map[Int, Long] = {
      var acc = 0L
      counts.sortBy(_._1).map { case (pid, n) =>
        val start = acc; acc += n; (pid, start)
      }.toMap
    }
    val nSel = math.floor(selectRate * counts.map(_._2).sum).toLong
    val bc = spark.sparkContext.broadcast(offsets)
    val iDoc = prepared.schema.fieldIndex("doc_id")
    val iW = prepared.schema.fieldIndex("w_i")
    val iN = prepared.schema.fieldIndex("n_toks")
    val iPid = prepared.schema.fieldIndex("__pid")
    val outSchema = StructType(Seq(prepared.schema(iDoc),
      StructField("rank", LongType, nullable = false),
      StructField("dsir_weight", org.apache.spark.sql.types.DoubleType,
        nullable = false),
      prepared.schema(iN).copy(name = "n_toks"),
      StructField("selected", org.apache.spark.sql.types.BooleanType,
        nullable = false)))
    implicit val enc: Encoder[Row] = Encoders.row(outSchema)
    prepared.mapPartitions { it =>
      val off = bc.value
      var pos = 0L
      var init = false
      it.map { r =>
        if (!init) { pos = off.getOrElse(r.getInt(iPid), 0L); init = true }
        pos += 1
        Row(r.get(iDoc), pos, r.getLong(iW).toDouble / 1e4,
          r.getLong(iN), pos <= nSel)
      }
    }
  }

  /** F20's deploy flow (the F16/F19 frozen-model pattern applied to
    * the importance sampler): freeze the trained λ table (≤256 rows —
    * `<t>_lam`) plus a one-row `<t>_meta (n_r, n_t, n_sel, thr_i)`
    * where `thr_i` is the integer weight of the training corpus'
    * n_sel-th ranked doc. Arrival-time gating then never re-ranks the
    * corpus: a new shard is scored against the frozen λ and kept iff
    * its weight reaches the frozen threshold — what DSIR deployment
    * actually looks like (score the crawl against importance weights
    * trained once on the target/raw pair). `thr_i` is NULL when
    * n_sel = 0 (nothing selected at training → gate closed). */
  def writeDsirModel(docs: DataFrame, table: String, path: String,
                     targetLang: String = "en", selectRate: Double = 0.25,
                     k: Double = 0.5): Unit = {
    val spark = docs.sparkSession
    val dm = dsirDm(docs)
    val (lam, nR, nT) = dsirLam(dm, targetLang, k)
    lam.write.format("parquet").option("path", s"${path}_lam")
      .mode("overwrite").saveAsTable(s"${table}_lam")
    val ranked = dsirSample(docs, targetLang, selectRate, k)
    val nSel = math.floor(selectRate * ranked.count()).toLong
    val thr: Option[Long] =
      if (nSel <= 0) None
      else Some(ranked.filter(col("rank") === nSel)
        .select(round(col("dsir_weight") * lit(1e4)).cast("long"))
        .head().getLong(0))
    import spark.implicits._
    Seq((nR.head().getLong(0), nT.head().getLong(0), nSel, thr))
      .toDF("n_r", "n_t", "n_sel", "thr_i")
      .write.format("parquet").option("path", s"${path}_meta")
      .mode("overwrite").saveAsTable(s"${table}_meta")
  }

  /** Score documents against a FROZEN DSIR model: identical weights
    * to [[dsirSample]] on the training corpus (spec-pinned), plus the
    * OOV backoff a frozen model needs — a feature bucket with no raw
    * mass at training time scores the pure smoothing ratio
    * λ_oov = round(ln((n_r + kB)/(n_t + kB))·1e4) (set c_t = c_r = 0
    * in the λ formula; the add-k terms cancel). `selected` is the
    * frozen-threshold gate: weight ≥ thr_i — accept-at-threshold, so
    * an arrival tying the training boundary is kept (recall-biased;
    * the training-time id tie-break has no analog for unseen docs). */
  def dsirScoreAgainst(spark: org.apache.spark.sql.SparkSession,
                       table: String, docs: DataFrame,
                       k: Double = 0.5): DataFrame = {
    val lam = spark.table(s"${table}_lam")
    val meta = spark.table(s"${table}_meta")
    val dmA = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .select(col("doc_id"), substring(md5(col("tok")), 1, 2).as("b"))
      .groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("m"))
    val scored = dmA.join(broadcast(lam), Seq("b"), "left")
      .crossJoin(broadcast(meta.select(col("n_r"), col("n_t"))))
      .withColumn("lam_eff", coalesce(col("lam_i"),
        round(log((col("n_r") + lit(k * DsirB)) /
          (col("n_t") + lit(k * DsirB))) * lit(1e4)).cast("long")))
      .groupBy(col("doc_id"))
      .agg(sum(col("m") * col("lam_eff")).as("w_i"),
        sum(col("m")).as("n_toks"))
    docs.select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .crossJoin(broadcast(meta.select(col("thr_i"))))
      .select(col("doc_id"),
        (coalesce(col("w_i"), lit(0L)).cast("double") / lit(1e4))
          .as("dsir_weight"),
        coalesce(col("n_toks"), lit(0L)).as("n_toks"),
        when(col("thr_i").isNull, lit(false))
          .otherwise(coalesce(col("w_i"), lit(0L)) >= col("thr_i"))
          .as("selected"))
  }
}
