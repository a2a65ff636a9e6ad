package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.BpeExprs
import graft.functions.TextFunctions._

/** F21: byte-pair-encoding tokenizer TRAINING and ENCODING (Sennrich
  * et al. 2016) — the "BPE-ish regex" token counter (F3) upgraded to
  * a real learned subword vocabulary, the tokenizer step every
  * pretraining pipeline runs before packing (F7).
  *
  * Scale shape: training iterates over the DISTINCT-WORD table (word,
  * count, symbol array) — the corpus collapses to its vocabulary
  * before any merge work, so a 100 TB crawl with a 100M-word
  * vocabulary trains on 100M rows regardless of corpus size. Training
  * runs in BATCHED ROUNDS (r9 — the fix for one-driver-round-per-merge
  * latency): each round is a pair-count groupBy (map-side partial agg)
  * + top-M `collect` (≤M tiny rows to the driver — bounded metadata,
  * the FAISS "coarse quantizer on the driver" posture), a pure
  * driver-side [[selectBatch]] that accepts the longest provably
  * sequential-equivalent prefix of merges, then ONE fused scan of
  * nested [[graft.functions.BpeExprs.BpeMergePass]] expressions
  * applying all of them (projection collapse → a single codegen'd
  * pass). `localCheckpoint` truncates the per-round lineage (the
  * dedup_cluster rationale) and the superseded checkpoint blocks are
  * explicitly unpersisted.
  *
  * Determinism: argmax ties break on (count desc, left asc, right
  * asc) — the merge list is a pure function of the corpus. */
object Bpe {

  /** Character symbols + the word-end marker — `split(word, "")`
    * keeps possible empty fragments out (engine-dependent trailing
    * empties), and "</w>" marks the boundary so merges can't cross
    * words (Sennrich's construction). */
  private def charSyms(word: Column): Column =
    concat(filter(split(word, ""), s => length(s) > 0),
      array(lit("</w>")))

  /** Distinct-word working table `(word, cnt, syms)`. */
  private def wordTable(docs: DataFrame): DataFrame =
    docs.select(explode(tokens(col("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .withColumn("syms", charSyms(col("word")))

  /** Adjacent-pair counts over the current symbol arrays, weighted by
    * word count — one row per distinct (l, r) after the partial agg. */
  private def pairCounts(words: DataFrame): DataFrame =
    words.filter(size(col("syms")) >= 2)
      .select(col("cnt"), explode(expr(
        "transform(sequence(2, size(syms)), " +
          "i -> struct(syms[i-2] AS l, syms[i-1] AS r))")).as("p"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum(col("cnt")).as("c"))

  /** The localCheckpoint-with-explicit-pins pattern (see
    * Dedup.checkpointPinned's scaladoc for why Dataset.unpersist
    * cannot free checkpoint blocks). */
  private def checkpointPinned(df: DataFrame, eager: Boolean)
      : (DataFrame, Seq[org.apache.spark.rdd.RDD[_]]) =
    // one shared implementation (r16 review) — locked registration,
    // AQE stages materialized before the lock; the train loop uses
    // the lazy flavor (materialization fuses with the next round's
    // pair-count collect, which runs before old pins are freed)
    Par.checkpointPinned(df, eager)

  /** The batched-round selection rule: from one canonical-sorted
    * pair-count snapshot, the longest prefix of picks PROVABLY equal
    * to what sequential Sennrich argmax would produce — the fix for
    * the one-driver-round-per-merge scale defect (a 32k-merge vocab
    * must not cost 32k sequential job rounds).
    *
    * Soundness argument (why batched ≡ sequential, pick by pick):
    *  - Applying merge (a,b) can only change the count of a pair that
    *    TOUCHES it: pairs containing a or b (destroyed/diminished at
    *    merge sites) or containing the new symbol string "ab" (created,
    *    or an existing pair with a symbol spelled "ab" absorbing the
    *    new occurrences). A pair sharing none of {a, b, "ab"} keeps
    *    its exact count.
    *  - So a later pick p_j with symbols disjoint from every earlier
    *    pick's {l, r, concat} still has its snapshot count when
    *    sequential reaches it.
    *  - What could leapfrog p_j is a pair whose count GREW or was
    *    created: any such pair's count is bounded by the snapshot
    *    count of some pair that interferes with an earlier pick (each
    *    new-pair occurrence "x·ab" consumes a pre-merge "x·a"
    *    occurrence; chains of new symbols bound the same way by
    *    induction). Hence p_j is safe iff its count STRICTLY exceeds
    *    every snapshot count of a pair interfering with picks before
    *    it — including the unseen tail, bounded by the snapshot's
    *    last (M-th) count when the snapshot is truncated. Strictness
    *    also closes the tie-break hole (an equal-count grown pair
    *    could win the canonical tie).
    *
    * Pure driver-side metadata work over ≤M tiny rows; the property
    * spec drives it against literal sequential training on random
    * corpora.
    *
    * `strict = false` is the PRODUCTION throughput mode — the
    * standard parallel-BPE construction: accept every pairwise
    * non-interfering pick in the snapshot (skip interferers and keep
    * scanning instead of stopping, no dominance cut). The merge LIST
    * may deviate from sequential order (a pair whose count a prior
    * batch-mate diminished can be picked a few ranks early), but
    * every pick is top-M-by-count and independent of its batch-mates,
    * and the resulting tokenizer's compression is measured ≈
    * sequential's (PERF.md Rounds 9 and 10 report the piece-count
    * delta).
    * Strict mode on natural text caps at ~3 picks/round — the
    * provable-equivalence ceiling, not an implementation limit —
    * because the top of the pair distribution shares common
    * high-frequency symbols. */
  private[graft] def selectBatch(cands: Array[(String, String, Long)],
                                 complete: Boolean, maxPick: Int,
                                 strict: Boolean = true): Array[(String, String, Long)] = {
    if (cands.isEmpty || maxPick <= 0) return Array.empty
    def interferes(q: (String, String, Long), a: (String, String, Long)): Boolean = {
      val s = a._1 + a._2
      q._1 == a._1 || q._1 == a._2 || q._1 == s ||
      q._2 == a._1 || q._2 == a._2 || q._2 == s
    }
    val accepted = scala.collection.mutable.ArrayBuffer(cands.head)
    if (!strict) {
      // count-threshold guard: only accept picks within 2× of the
      // round's max — a deep pick's count is stale by up to the sum
      // of its batch-mates' site overlaps, and merging far-tail pairs
      // early is what degrades the learned vocab (measured: unguarded
      // acceptance cost +9.2% pieces; guarded ≈ sequential)
      val floor = (cands.head._3 + 1L) / 2L
      var i = 1
      while (i < cands.length && accepted.size < maxPick &&
        cands(i)._3 >= floor) {
        val p = cands(i)
        if (!accepted.exists(a => interferes(p, a))) accepted += p
        i += 1
      }
      return accepted.toArray
    }
    val tailC = if (complete) -1L else cands.last._3
    // maximal disjoint prefix in canonical order
    var i = 1
    var open = true
    while (open && i < cands.length && accepted.size < maxPick) {
      val p = cands(i)
      if (accepted.exists(a => interferes(p, a))) open = false
      else { accepted += p; i += 1 }
    }
    // strict-dominance cut: pick j must beat every snapshot pair that
    // interferes with picks 0..j-1 (their counts bound any grown or
    // newly created pair sequential could see), and the unseen tail
    val constraint = Array.fill(accepted.length)(tailC)
    for (q <- cands) {
      val k = accepted.indexWhere(a => interferes(q, a))
      if (k >= 0 && !accepted.contains(q)) {
        var j = k + 1
        while (j < accepted.length) {
          constraint(j) = math.max(constraint(j), q._3); j += 1
        }
      }
    }
    var keep = 1
    while (keep < accepted.length && accepted(keep)._3 > constraint(keep))
      keep += 1
    accepted.take(keep).toArray
  }

  /** Train `nMerges` merges; returns ((left, right, pair_count) in
    * rank order, rounds used) — driver-side bounded metadata (the
    * merge list IS the tokenizer model). Stops early only if no
    * adjacent pair remains anywhere (every word fully merged to one
    * symbol).
    *
    * Each ROUND is one pair-count job (top-M snapshot, M = clamped
    * 8× batch — bounded driver metadata) + ONE fused scan applying
    * every [[selectBatch]]-accepted merge (nested merge passes
    * collapse into a single projection), so a production vocab costs
    * ~vocab/batch driver rounds instead of vocab rounds, with the
    * merge list provably identical to sequential training in `strict`
    * mode (the default and the catalog entry's contract);
    * `strict = false` is the parallel-BPE throughput mode — see
    * [[selectBatch]] for the deviation bound. */
  def trainWithRounds(docs: DataFrame, nMerges: Int,
                      batchMerges: Int = 256,
                      strict: Boolean = true): (Array[(String, String, Long)], Int) = {
    require(nMerges > 0, s"nMerges=$nMerges must be positive")
    require(batchMerges > 0, s"batchMerges=$batchMerges must be positive")
    val spark = docs.sparkSession
    // LAZY round checkpoints (r16): each round's pair-count collect is
    // the round's one materialization — compute+persist+snapshot fuse
    // into one job instead of a separate eager pass per round (the
    // loop was 2 driver jobs per round for <1 s of executor work —
    // pure scheduling latency). The PREVIOUS round's blocks are
    // unpersisted only AFTER the collect that materialized the next
    // round's table (its lineage reads them), so at most three
    // bounded word-table generations are pinned at once.
    var (words, pins) = checkpointPinned(wordTable(docs), eager = false)
    var prevPins: Seq[org.apache.spark.rdd.RDD[_]] = Nil
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    var rounds = 0
    var continue = true
    // (r16, measured and deliberately NOT taken: disabling AQE for
    // the loop halves the job count — 72 → 37 — but the tiny
    // per-round shuffles then run at the static partition count,
    // 103 → 1188 tasks, and the wall is unchanged; AQE's coalescing
    // is also exactly what the loop needs at corpus scale.)
    while (merges.size < nMerges && continue) {
      val want = math.min(batchMerges, nMerges - merges.size)
      val m = math.max(64, 8 * want)
      val top = pairCounts(words)
        .orderBy(col("c").desc, col("l"), col("r")).limit(m).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      // `words` is materialized now — the round BEFORE it is dead
      prevPins.foreach(_.unpersist(false))
      prevPins = Nil
      rounds += 1
      if (top.isEmpty) continue = false
      else {
        val picked = selectBatch(top, complete = top.length < m, want, strict)
        merges ++= picked
        val next = picked.foldLeft(words) { case (df, (l, r, _)) =>
          BpeExprs.withMergePass(spark, l, r) { fn =>
            df.withColumn("syms", call_function(fn, col("syms")))
          }
        }
        val (w2, p2) = checkpointPinned(next, eager = false)
        prevPins = pins
        words = w2
        pins = p2
      }
    }
    (prevPins ++ pins).foreach(_.unpersist(false))
    (merges.toArray, rounds)
  }

  /** [[trainWithRounds]] without the round count. */
  def train(docs: DataFrame, nMerges: Int,
            batchMerges: Int = 256): Array[(String, String, Long)] =
    trainWithRounds(docs, nMerges, batchMerges)._1

  /** A merge list as a DataFrame for the catalog/bench surface:
    * `(rank, left, right, merged, pair_count)`. */
  def mergeTable(spark: org.apache.spark.sql.SparkSession,
                 merges: Array[(String, String, Long)]): DataFrame = {
    import spark.implicits._
    merges.zipWithIndex.map { case ((l, r, c), i) =>
      (i + 1L, l, r, l + r, c)
    }.toSeq.toDF("rank", "left", "right", "merged", "pair_count")
  }

  /** Freeze the learned merge list as an ON-DISK tokenizer artifact
    * (r10) — the deploy flow every other trained model here already
    * has (writeLmModel/writeNbModel/writeDsirModel/writeBm25Stats/
    * writeCcnetModel), and for a tokenizer THE canonical one: a
    * production pipeline trains BPE once and every later encode —
    * batch or stream, this cluster or another — reads the frozen
    * merges (tokenizer.json's role). One tiny ordered parquet
    * `(rank, left, right, pair_count)`: merge PRIORITY is the
    * artifact's semantic payload (greedy encoding applies merges in
    * rank order — an order-scrambled read would tokenize
    * differently), so the reader re-sorts on the explicit rank
    * column rather than trusting file order. */
  def writeBpeModel(spark: org.apache.spark.sql.SparkSession,
                    merges: Array[(String, String, Long)],
                    path: String): Unit = {
    import spark.implicits._
    merges.zipWithIndex.map { case ((l, r, c), i) => (i + 1L, l, r, c) }
      .toSeq.toDF("rank", "left", "right", "pair_count")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** The frozen merge list, back in rank order — feeds [[encode]] /
    * [[streamingBpeEncode]] exactly like an in-memory training result
    * (bounded driver metadata: nMerges rows). */
  def readBpeModel(spark: org.apache.spark.sql.SparkSession,
                   path: String): Array[(String, String)] =
    spark.read.parquet(path).orderBy("rank")
      .select("left", "right").collect()
      .map(r => (r.getString(0), r.getString(1)))

  /** [[encode]] against the frozen artifact — train-once,
    * encode-anywhere. */
  def encodeAgainst(spark: org.apache.spark.sql.SparkSession,
                    path: String, docs: DataFrame): DataFrame =
    encode(docs, readBpeModel(spark, path))

  /** Memoized [[train]] for catalog entries that compose training and
    * encoding over the same directory (bpe_train + bpe_encode must
    * not each pay the iteration loop in one Verify/Bench run). */
  private val trainMemo = new java.util.concurrent.ConcurrentHashMap[
    (String, Int), Array[(String, String, Long)]]()
  def trainCached(key: String, docs: => DataFrame,
                  nMerges: Int): Array[(String, String, Long)] =
    trainMemo.computeIfAbsent((key, nMerges), _ => train(docs, nMerges))

  /** [[trainCached]]'s UNCONDITIONAL sibling for the bpe_train catalog
    * entry: always re-pays the full training loop and (re)seeds the
    * memo — the entry's bench number is thereby the training cost by
    * construction, never a function of which sibling entry happened
    * to run first (the r8 advice attribution nit). */
  def trainSeedingCache(key: String, docs: => DataFrame,
                        nMerges: Int): Array[(String, String, Long)] = {
    val m = train(docs, nMerges)
    trainMemo.put((key, nMerges), m)
    m
  }

  /** Drop memoized trainings — Bench calls this between reps so the
    * first bpe entry of EVERY rep re-pays the iteration loop (the
    * memo would otherwise zero reps 2..n and ship a phantom median);
    * within one rep the train/encode pair still shares one training,
    * which is the composition a real pipeline runs. */
  def clearCache(): Unit = trainMemo.clear()

  /** Encode documents with a learned merge list: per-doc BPE piece
    * counts `(doc_id, n_toks, n_pieces)`. The batch's DISTINCT words
    * encode once (fused [[graft.functions.BpeExprs.BpeEncodeExpr]]
    * scan over the vocabulary table — corpus size never multiplies
    * the merge work), docs join the per-word piece counts back on the
    * word key and aggregate. Token-less docs keep a (0, 0) row. */
  def encode(docs: DataFrame,
             merges: Array[(String, String)]): DataFrame = {
    val spark = docs.sparkSession
    val wcount = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("word"))
      .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("m"))
    val pieces = BpeExprs.withEncode(spark, merges) { fn =>
      wcount.select(col("word")).distinct()
        .select(col("word"),
          size(call_function(fn, charSyms(col("word"))))
            .cast("bigint").as("wp"))
    }
    docs.select(col("doc_id"))
      .join(wcount.join(pieces, Seq("word"))
          .groupBy(col("doc_id"))
          .agg(sum(col("m")).as("n_toks"),
            sum(col("m") * col("wp")).as("n_pieces")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_toks"), lit(0L)).as("n_toks"),
        coalesce(col("n_pieces"), lit(0L)).as("n_pieces"))
  }
}
