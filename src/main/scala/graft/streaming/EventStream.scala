package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming flavor of the ETL core — the always-on version
  * of the reference's cron-driven batch loop (crontab.txt runs the
  * pusher every 15 min; a stream with 15-min event-time windows is the
  * native Spark expression of the same contract).
  *
  * All transforms are `DataFrame => DataFrame` so they apply
  * identically to `readStream` sources and batch frames (tested with
  * MemoryStream; production wires `spark.readStream.format(...)`).
  *
  * Scale posture: watermark + windowed aggregation keeps state bounded
  * (late data beyond the watermark is dropped, state for closed
  * windows evicted); state is sharded by (key, window) — the same
  * station-key sharding as the batch A-ops.
  */
object EventStream {

  /** A3-as-a-stream: per-key 15-min windowed sums with event-time
    * watermark. Append-mode-compatible (emits only closed windows). */
  def windowedSums(events: DataFrame, tsCol: String, keyCol: String,
                   valueCol: String, windowLen: String = "15 minutes",
                   watermark: String = "30 minutes"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(col(keyCol), window(col(tsCol), windowLen))
      .agg(sum(col(valueCol)).as("value"), count(lit(1)).as("n_events"))
      .select(col(keyCol), col("window.start").as("bucket_start"),
        col("window.end").as("bucket_end"), col("value"), col("n_events"))

  /** A11-as-a-stream: running max event time per key (the fgt
    * watermark ledger). Update-mode output. */
  def runningWatermark(events: DataFrame, tsCol: String, keyCol: String): DataFrame =
    events.groupBy(col(keyCol)).agg(max(col(tsCol)).as("latest_fgt"))

  /** A5-as-a-stream: drop duplicate (key, event-time) arrivals —
    * at-least-once sources (the reference's cron retries re-push the
    * same readings) become exactly-once downstream. State is bounded
    * by the watermark: dedup entries older than it are evicted. */
  def dedupStream(events: DataFrame, tsCol: String, keyCols: Seq[String],
                  watermark: String = "30 minutes"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols :+ tsCol)

  /** A15-as-a-stream: sessionization with the native
    * `session_window` — events gapped less than `gap` apart merge into
    * one growing session per key; a session closes (and is emitted,
    * append mode) once the watermark passes its end. This is the
    * streaming dual of the batch lag/cumsum sessionizer: state is one
    * open session per active key (bounded), merged incrementally
    * instead of re-windowed per batch.
    */
  def sessionize(events: DataFrame, tsCol: String, keyCol: String,
                 gap: String = "30 minutes",
                 watermark: String = "30 minutes"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(col(keyCol), session_window(col(tsCol), gap))
      .agg(count(lit(1)).as("n_events"))
      .select(col(keyCol),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"))

  /** A7-as-a-stream: hybrid obs+fcst — the windowed STREAM-STREAM
    * inner join. Each side carries its event-time watermark and its
    * reading's 15-min window; joining on (key, window) equality is
    * the canonical windowed stream-stream join, so state on BOTH
    * sides is bounded: a buffered reading is evicted once the other
    * stream's watermark passes its window. Inner join = the batch
    * operator's overlap-only semantics (reference keeps only
    * timestamps where obs AND fcst exist); `hybrid_value` prefers the
    * observation, as in batch.
    *
    * ONE stateful operator (the join) — append mode with no
    * multiple-stateful-op restrictions. Per-reading pairing: feed
    * at-least-once sources through [[dedupStream]] first (a replayed
    * reading would otherwise re-pair), and pre-aggregate upstream if
    * a (key, window) can legitimately hold several readings per side.
    */
  def streamingHybrid(obs: DataFrame, fcst: DataFrame, tsCol: String,
                      keyCol: String, valueCol: String,
                      windowLen: String = "15 minutes",
                      watermark: String = "30 minutes"): DataFrame = {
    val w = window(col(tsCol), windowLen)
    val o = obs.withWatermark(tsCol, watermark)
      .select(col(keyCol).as("__okey"), w.as("__ow"),
        col(valueCol).as("obs_value"))
    val f = fcst.withWatermark(tsCol, watermark)
      .select(col(keyCol).as("__fkey"), w.as("__fw"),
        col(valueCol).as("fcst_value"))
    o.join(f, col("__okey") === col("__fkey") && col("__ow") === col("__fw"))
      .select(col("__okey").as(keyCol),
        col("__ow.start").as("bucket_start"),
        col("__ow.end").as("bucket_end"),
        col("obs_value"), col("fcst_value"),
        coalesce(col("obs_value"), col("fcst_value")).as("hybrid_value"))
  }

  /** A21-as-a-stream: stream-stream INTERVAL join — every point event
    * paired with every anchor event within ±`widthMinutes` of it.
    * Spark refuses a stream-stream join on a pure range predicate
    * ("without equality predicate is not supported"), so this reuses
    * the batch operator's trick as the required equality: both sides
    * derive a time BIN of width 2·W — the point takes its one bin
    * (exact floor division via [[graft.operators.Timeseries
    * .floorDivCol]]), the anchor explodes to the ≤2 bins its ±W
    * window overlaps — and the join is bin-equality AND the exact
    * BETWEEN. State stays finite twice over: the bin equality keeps
    * the pairing local (never a cross product), and the watermarked
    * range condition lets a buffered row be evicted as soon as the
    * opposite watermark passes its last possible match — neither
    * side's state grows with stream length. Inner append-mode; pairs
    * emit as soon as both sides have arrived. */
  def streamingRangeJoin(points: DataFrame, anchors: DataFrame,
                         ptCol: String, anchorCol: String,
                         widthMinutes: Int = 15,
                         watermark: String = "30 minutes"): DataFrame = {
    require(widthMinutes > 0, s"widthMinutes must be positive, got $widthMinutes")
    require(!points.columns.exists(Set("__pbin", "__abin")) &&
            !anchors.columns.exists(Set("__pbin", "__abin")),
      "streamingRangeJoin: inputs must not already carry __pbin/__abin columns")
    val widthUs = widthMinutes * 60L * 1000000L
    val binUs = 2L * widthUs
    val us = (c: String) => unix_micros(col(c))
    val p = points.withWatermark(ptCol, watermark)
      .withColumn("__pbin", graft.operators.Timeseries.floorDivCol(us(ptCol), binUs))
    val a = anchors.withWatermark(anchorCol, watermark)
      .withColumn("__abin", explode(sequence(
        graft.operators.Timeseries.floorDivCol(us(anchorCol) - widthUs, binUs),
        graft.operators.Timeseries.floorDivCol(us(anchorCol) + widthUs, binUs))))
    p.join(a,
        col("__pbin") === col("__abin") &&
        col(ptCol) >= col(anchorCol) - expr(s"INTERVAL $widthMinutes MINUTES") &&
        col(ptCol) <= col(anchorCol) + expr(s"INTERVAL $widthMinutes MINUTES"))
      .drop("__pbin", "__abin")
  }

  /** D3-as-a-stream: arrival-time near-dup detection. Each micro-batch
    * of documents is checked against the MATERIALIZED corpus signature
    * table via [[graft.operators.Dedup.incrementalJaccard]] (the
    * bucketed equi-join — per-batch cost O(batch × bucket density),
    * independent of corpus size), plus within-batch pairs; the batch's
    * own grams are then APPENDED to the table (bucket-compatible
    * write) so the next micro-batch sees today's arrivals. `onPairs`
    * receives each batch's pair frame — the caller quarantines,
    * ledgers, or drops. Pass the `<table>_hot` side table when the
    * signature table was written with a df cap.
    *
    * This is the streaming dual of the batch dedup: the signature
    * table is the state store, already sharded on the gram hash, so
    * state never lives in executor memory and a restart resumes from
    * the table as-is.
    */
  def streamingDedup(docs: DataFrame, table: String, tau: Double,
                     hotTable: Option[String] = None,
                     onPairs: (Long, DataFrame) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // single-shingle flow: the batch is tokenized + shingled ONCE
        // and shared by the vs-corpus join, the within-batch join
        // (same capped gram subspace — the table's frozen hot list,
        // never a batch-local threshold), and the replay-safe append.
        // The corpus side excludes THIS batch id, so a crash-replay
        // (whose grams are already appended) can't re-find each
        // within-batch pair two more times from the table.
        onPairs(batchId, graft.operators.Dedup.dedupBatch(
          batch.sparkSession, table, batch, tau, hotTable, batchId))
      }

  /** D2-as-a-stream: arrival-time minhash-LSH candidate detection.
    * Each micro-batch is signed ONCE ([[graft.operators.Dedup.minhashBatch]]),
    * joined against the MATERIALIZED bucket table (exchange-free on
    * the corpus side — per-batch cost O(batch × bucket density),
    * independent of corpus size), self-joined within the batch, and
    * split-appended (kept rows to the main table, frozen-hot rows to
    * `<table>_hot` — a boilerplate arrival hub-attaches instead of
    * fanning out). Same state posture as [[streamingDedup]]: the
    * bucket table IS the state store, sharded on the band bucket,
    * restart resumes from the table as-is. */
  def streamingMinhashDedup(docs: DataFrame, table: String,
                            hotTable: Option[String] = None,
                            numHashes: Int = 32, bands: Int = 8,
                            maxBucket: Long = 1024L,
                            onPairs: (Long, DataFrame) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // numHashes/bands MUST match the table build — a mismatched
        // band count would join and append in a disjoint bucket space
        // (zero pairs, corrupted state) with no error to catch it
        onPairs(batchId, graft.operators.Dedup.minhashBatch(
          batch.sparkSession, table, batch, hotTable, batchId,
          numHashes, bands, maxBucket))
      }

  /** D13-as-a-stream: arrival-time perceptual IMAGE dedup — the fourth
    * candidate family's streaming dual. Each micro-batch of media rows
    * (doc_id, kind, payload) is pixel-hashed and banded ONCE
    * ([[graft.operators.Dedup.phashBatch]]), exact-verified against
    * the MATERIALIZED bucket table (exchange-free on the corpus side;
    * payload bytes never leave the batch's scan — only 8-byte hashes
    * travel), self-verified within the batch, and appended
    * replay-safely. The bucket table IS the state store, restart
    * resumes from the table as-is; `maxHamming` must match the table
    * build (the streamingMinhashDedup caveat). */
  def streamingImageDedup(media: DataFrame, table: String,
                          maxHamming: Int = 3,
                          onPairs: (Long, DataFrame) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    media.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        onPairs(batchId, graft.operators.Dedup.phashBatch(
          batch.sparkSession, table, batch, batchId, maxHamming))
      }

  /** D11-as-a-stream: arrival-time exact-substring detection. Each
    * micro-batch is winnow-fingerprinted ONCE
    * ([[graft.operators.Dedup.substringBatch]]), joined against the
    * MATERIALIZED fingerprint table plus within-batch, in the same
    * frozen capped fingerprint subspace, then appended replay-safely.
    * The fingerprint table IS the state store — nothing in executor
    * memory, restart resumes from the table as-is. */
  def streamingSubstringDedup(docs: DataFrame, table: String,
                              hotTable: Option[String] = None,
                              k: Int = 16, w: Int = 8,
                              maxSegment: Int = 4096,
                              onPairs: (Long, DataFrame) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // k/w/maxSegment MUST match the table build: winnowing is only
        // comparable within one (k, w) fingerprint space, and the
        // segmented spelling is only boundary-exact at one maxSegment
        onPairs(batchId, graft.operators.Dedup.substringBatch(
          batch.sparkSession, table, batch, hotTable, batchId, k, w,
          maxSegment))
      }

  /** F16-as-a-stream: arrival-time quality scoring against FROZEN LM
    * model tables ([[graft.operators.TextAnalysis.writeLmModel]]) —
    * the CCNet deployment shape: a pretrained reference model scores
    * every arriving batch (out-of-vocabulary bigrams back off to pure
    * smoothing mass instead of erroring). Like
    * [[streamingContamination]] there is NO state growth — scores
    * never feed back into the model — so a restart needs nothing but
    * the model artifacts. `onScores` receives each batch's (doc_id,
    * n_bigrams, lm_score) frame; the caller gates, routes, or drops
    * before the batch reaches training storage. */
  def streamingLmScore(docs: DataFrame, table: String, k: Double = 0.5,
                       onScores: (Long, DataFrame) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        onScores(batchId, graft.operators.TextAnalysis.lmScoreAgainst(
          batch.sparkSession, table, batch, k))
      }

  /** E8-as-a-stream: arrival-time embedding NORMALIZATION against the
    * FROZEN training-corpus mean
    * ([[graft.operators.Similarity.writeEmbStats]]) — the serving
    * rule: centering by a per-batch mean would normalize the same
    * vector differently across batches; the frozen mean keeps the
    * embedding space stable for every downstream dedup/ANN consumer.
    * Per-row norms need no state, so zero state growth — a restart
    * needs only the stats tables. */
  def streamingNormalize(emb: DataFrame, table: String,
                         onNormalized: (Long, DataFrame) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    emb.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        onNormalized(batchId, graft.operators.Similarity.normalizeAgainst(
          batch.sparkSession, table, batch))
      }

  /** F26-as-a-stream: arrival-time CCNet bucketing against the FROZEN
    * model + thresholds
    * ([[graft.operators.TextAnalysis.writeCcnetModel]]) — the serving
    * rule: per-batch thirds would put the same doc in different
    * buckets depending on what it arrived with; the frozen cuts keep
    * labels comparable across batches (the F16/F24 frozen-artifact
    * posture). Zero state growth — a restart needs only the tables. */
  def streamingCcnetBucket(docs: DataFrame, table: String,
                           onBucketed: (Long, DataFrame) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        onBucketed(batchId, graft.operators.TextAnalysis.ccnetBucketAgainst(
          batch.sparkSession, table, batch))
      }

  /** F24-as-a-stream: arrival-time BM25 ranking against FROZEN index
    * statistics ([[graft.operators.TextAnalysis.writeBm25Stats]]) —
    * the curation-queue shape: each arriving micro-batch is ranked
    * for the standing topical query and `onRanked` receives that
    * batch's top-k (doc_id, score, rank). Zero state growth, the
    * [[streamingLmScore]] posture: dfs and corpus stats are frozen
    * artifacts (idf never drifts as arrivals flow — scores stay
    * comparable across batches), so a restart needs only the tables.
    * Terms the frozen vocabulary never saw keep the finite maximal
    * Lucene idf instead of erroring. */
  def streamingBm25Rank(docs: DataFrame, table: String,
                        terms: Seq[String], k: Int,
                        onRanked: (Long, DataFrame) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        onRanked(batchId, graft.operators.TextAnalysis.bm25TopKAgainst(
          batch.sparkSession, table, batch, terms, k))
      }

  /** The composed page serve as a stream (r10): micro-batches of
    * arriving QUERY VECTORS `(vec_id, embedding)` are each answered a
    * fused, diversified page from the FROZEN serve artifacts
    * ([[graft.operators.Retrieval.buildArtifacts]] — BM25 stats + the
    * written IVF index; `cfg.terms` is the stream's standing lexical
    * query, the curation-channel shape). Zero state growth: every
    * batch reads the same artifacts, a restart needs nothing else.
    * Per-query driver loop, deliberately: a page serve is an
    * interactive request — a micro-batch's query list is bounded
    * metadata by contract, and each query's serve is itself a
    * composition of bounded frames. `onPages` receives each batch's
    * union of pages `(q_id, doc_id, rrf_score, mmr_score, rank)`. */
  def streamingRetrievalServe(queries: DataFrame, table: String,
                              path: String,
                              emb: DataFrame,
                              cfg: graft.operators.Retrieval.ServeConfig,
                              onPages: (Long, DataFrame) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    queries.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        // dedup BEFORE the per-id serve loop (r10 ADVICE): a
        // duplicate vec_id in one micro-batch would otherwise hand
        // serve a multi-row queryVec — duplicated probe rows inside
        // the per-query ranking and a double-emitted page.
        // dedupById picks the max-payload row, so a replay serves
        // the SAME page the original attempt did.
        val dedup = dedupById(batch, "vec_id")
        val ids = dedup.select(col("vec_id"))
          .collect().map(_.getLong(0)).sorted
        val pages = ids.toSeq.map { id =>
          graft.operators.Retrieval.serve(spark, table, path, emb,
            dedup.filter(col("vec_id") === lit(id)), cfg)
        }
        onPages(batchId, pages.reduceOption(_.unionByName(_)).getOrElse {
          import org.apache.spark.sql.types._
          spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            StructType(Seq(StructField("q_id", LongType),
              StructField("doc_id", LongType),
              StructField("rrf_score", DoubleType),
              StructField("mmr_score", DoubleType),
              StructField("rank", LongType))))
        })
      }

  /** F19-as-a-stream: arrival-time quality/domain CLASSIFICATION
    * against the frozen Naive Bayes model
    * ([[graft.operators.TextAnalysis.writeNbModel]]) — the same
    * zero-state-growth shape as [[streamingLmScore]]: the model is
    * FROZEN artifacts, each micro-batch shuffles once on the token
    * and left-joins the bucketed count tables (OOV pairs back off to
    * smoothing mass), and a restart needs nothing but the tables.
    * `onScores` receives each batch's (doc_id, pred_source, nb_score,
    * n_toks) frame — the caller routes or drops by predicted class
    * before the batch reaches training storage. */
  def streamingNbScore(docs: DataFrame, table: String, k: Double = 0.5,
                       onScores: (Long, DataFrame) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        onScores(batchId, graft.operators.TextAnalysis.nbScoreAgainst(
          batch.sparkSession, table, batch, k))
      }

  /** F20-as-a-stream: the arrival-time DSIR gate against the frozen
    * model ([[graft.operators.Corpus.writeDsirModel]]) — same
    * zero-state-growth shape as [[streamingLmScore]]: the ≤256-row λ
    * table and one-row meta are frozen artifacts, each micro-batch
    * scores + threshold-gates in one pass, restart needs only the
    * tables. `onScores` receives (doc_id, dsir_weight, n_toks,
    * selected) — the caller keeps the selected rows. */
  def streamingDsirGate(docs: DataFrame, table: String, k: Double = 0.5,
                        onScores: (Long, DataFrame) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        onScores(batchId, graft.operators.Corpus.dsirScoreAgainst(
          batch.sparkSession, table, batch, k))
      }

  /** F21-as-a-stream: encode arrivals with the FROZEN learned merge
    * list ([[graft.operators.Bpe.train]]'s output — driver-side
    * bounded metadata, no tables needed): each micro-batch's distinct
    * words encode once through the fused merge-list scan. Zero state
    * growth — the tokenizer never retrains from arrivals. */
  def streamingBpeEncode(docs: DataFrame, merges: Array[(String, String)],
                         onEncoded: (Long, DataFrame) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        onEncoded(batchId, graft.operators.Bpe.encode(batch, merges))
      }

  /** D9-as-a-stream: arrival-time benchmark decontamination. The
    * bench signature is FROZEN state built once
    * ([[graft.operators.Dedup.writeBenchSignature]] — gram table +
    * Bloom sketch); each micro-batch probes the sketch inside its own
    * scan and exact-joins the signature table
    * ([[graft.operators.Dedup.contaminationAgainst]]). Per-batch cost
    * is O(batch grams), with only the ~fpp false-positive fraction
    * reaching the join — and unlike [[streamingDedup]] there is NO
    * state growth: the stream never feeds back into the bench, so a
    * restart needs nothing but the artifacts. `onFlags` receives each
    * batch's (doc_id, bench_id, shared_grams) frame — the caller
    * quarantines or drops before the batch reaches training storage. */
  def streamingContamination(docs: DataFrame, benchPath: String,
                             sketch: Array[Byte], minShared: Int,
                             onFlags: (Long, DataFrame) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        onFlags(batchId, graft.operators.Dedup.contaminationAgainst(
          batch, benchPath, sketch, minShared))
      }

  /** F14-as-a-stream: the ARRIVAL-TIME hygiene funnel — the batch
    * funnel's stateless gate prefix ([[graft.operators.Corpus]]'s
    * language gate → quality gate → blocklist → PII redact, the same
    * spelling via `gateStages` so batch and stream cannot diverge)
    * plus Bloom decontamination against a FROZEN bench signature
    * ([[graft.operators.Dedup.writeBenchSignature]]). Each
    * micro-batch emits its clean redacted docs AND a per-batch stage
    * ledger (the prepFunnelLedger accounting, per arrival window).
    *
    * Zero state growth: every gate is per-row expression work and
    * the bench signature is a frozen artifact — a restart needs
    * nothing. The STATEFUL funnel stages (exact/near dedup) compose
    * DOWNSTREAM on this stream via the table-as-state flows
    * ([[streamingDedup]]/[[streamingMinhashDedup]]) — dedup needs
    * cross-batch memory by nature and its state store is the
    * bucketed signature table, not this operator. */
  def streamingFunnelGate(docs: DataFrame, blocklist: Seq[String],
                          benchPath: String, sketch: Array[Byte],
                          keepLang: String = "en", minQuality: Double = 0.2,
                          strataCol: String = "lang", minShared: Int = 3,
                          onBatch: (Long, DataFrame, Seq[(String, Long)]) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val cachedBatch = batch.cache()
        try {
          val stages = graft.operators.Corpus.gateStages(
            cachedBatch, blocklist, keepLang, minQuality, strataCol)
          val redacted = stages.last._2.cache()
          try {
            val contaminated = graft.operators.Dedup.contaminationAgainst(
                redacted, benchPath, sketch, minShared)
              .select(col("doc_id")).distinct()
            val clean = redacted.join(contaminated, Seq("doc_id"), "left_anti")
            val ledger =
              (("input", cachedBatch.count()) +:
                stages.init.map { case (n, df) => (n, df.count()) }) ++
              Seq(("pii_redact", redacted.count()),
                ("decontam", clean.count()))
            onBatch(batchId, clean, ledger)
          } finally redacted.unpersist()
        } finally cachedBatch.unpersist()
      }

  /** ANN-as-a-stream — the embedding dual of [[streamingDedup]]: each
    * micro-batch of vectors is served against the WRITTEN IVF index
    * ([[graft.operators.Similarity.ivfTopKFromIndex]] — partition-
    * pruned probing, per-batch cost O(batch × list density),
    * independent of corpus size), then APPENDED to the index with the
    * frozen stored quantizer so the next micro-batch sees today's
    * arrivals. `onNeighbors` receives each batch's top-k frame — the
    * caller flags near-dups (cos ≥ its threshold), routes for
    * clustering, or just logs. `selfExclude` is false: the batch is
    * not in the index yet when it is served, so an id-equal indexed
    * vector is a prior arrival under the same key — a real neighbor
    * (flag it as an upsert collision downstream if ids are meant to
    * be unique).
    *
    * Same state posture as streamingDedup: the index IS the state
    * store, sharded on the coarse list, nothing lives in executor
    * memory, and a restart resumes from the index as-is.
    */
  /** Deterministic per-id dedup for micro-batch INGESTION: one row
    * per id, the max of the remaining columns' struct. At-least-once
    * sources may repeat an id within a batch — identical payloads
    * (the common case) collapse to that payload, and a conflicting
    * re-send still resolves to the SAME winner on every replay.
    * `dropDuplicates` would keep a partition-order-dependent row,
    * so a crash-replay could emit a different page (and append a
    * different vector) than the original attempt — breaking the
    * replay-idempotence the ingest functions promise. */
  private def dedupById(df: DataFrame, id: String): DataFrame = {
    val others = df.columns.filter(_ != id).toSeq
    df.groupBy(col(id))
      .agg(max(struct(others.map(col): _*)).as("__s"))
      .select(col(id) +: others.map(c => col(s"__s.$c").as(c)): _*)
  }

  def streamingAnnIngest(emb: DataFrame, indexPath: String, k: Int,
                         nprobe: Int = 4,
                         onNeighbors: (Long, DataFrame) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    emb.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        import graft.operators.Similarity
        // in-batch id dedup BEFORE serve and append: a duplicated
        // vec_id would otherwise be written twice into the ingest
        // partition — permanently occupying two of every later
        // page's k slots (dynamic overwrite dedups whole-batch
        // replays, not rows within one batch)
        val b = dedupById(batch, "vec_id")
        // excludeIngestBatch: under crash-replay this batch's vectors
        // are already in the index — without the exclusion every
        // replayed query would match its own copy at cos 1.0 rank 1
        onNeighbors(batchId, Similarity.ivfTopKFromIndex(spark, indexPath,
          b.select("vec_id", "embedding"), k, nprobe,
          selfExclude = false, excludeIngestBatch = Some(batchId)))
        // keyed by the streaming batch id: a crash-replay of this
        // batch REPLACES its ingest partition instead of duplicating
        // the vectors (dynamic partition overwrite — see the append's
        // scaladoc); this is what makes "restart resumes from the
        // index as-is" true under at-least-once foreachBatch
        Similarity.appendToIvfIndex(b, indexPath, ingestBatch = batchId)
      }

  /** [[streamingAnnIngest]] for the GRAPH index (r14 — the E14b
    * layout): each arrival batch of `(vec_id, embedding)` is served
    * from the landed graph FIRST
    * ([[graft.operators.Similarity.graphTopKFromIndex]], excluding
    * this batch's own ingest partition — under crash-replay the
    * batch's vectors are already attached, and without the exclusion
    * every replayed query would match its own copy at cos 1.0
    * rank 1), then ATTACHED via
    * [[graft.operators.Similarity.appendToGraphIndex]] — the
    * HNSW-insertion append whose dynamic partition overwrite keyed
    * on the streaming batch id makes replay idempotent. foreachBatch
    * processes batches SEQUENTIALLY — exactly the ordering the
    * append's replay-recompute determinism documents. The index is
    * the state store; nothing lives in executor memory.
    *
    * `stateCeiling` is threaded to BOTH serves (the neighbor report
    * and the append's own attach search — r14 ADVICE): a dense/large
    * committed graph can need more beam state than the 4M default,
    * and the only other knob (shrinking beam/hops) would silently
    * change the edges an ingest lands. */
  def streamingGraphIngest(emb: DataFrame, indexPath: String, k: Int,
                           onNeighbors: (Long, DataFrame) => Unit,
                           stateCeiling: Long = 4L << 20)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    // the index's frozen k, read ONCE at stream construction (the
    // index must exist before appends stream into it, and neither
    // append nor compaction ever changes k) — a per-batch meta read
    // would pay a listing + job on every micro-batch for a constant
    // (r15 review)
    val metaK = emb.sparkSession.read.parquet(s"$indexPath/meta")
      .head().getAs[Int]("k")
    val kEff = math.max(k, metaK)
    emb.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        import graft.operators.Similarity
        // in-batch id dedup before serve and append — the
        // streamingAnnIngest rationale (dynamic overwrite dedups
        // whole-batch replays, not rows within one batch)
        val b = dedupById(batch, "vec_id")
        // ONE serve per batch (r15): the neighbor report and the
        // append's attach search are the same frozen-graph beam
        // search, so serve once at k widened to the index's frozen k
        // (the append re-truncates to index k; the report truncates
        // to the caller's k) and hand the page to the append — the
        // pre-r15 spelling paid the multi-hop serve twice per batch.
        // beam widened to kEff so a k > 32 page is served, not
        // refused (the appendToGraphIndex widening, r14 review); the
        // SAME beam is passed to the append (r15 ADVICE: a caller k
        // exceeding both 32 and the frozen k widened the page's beam
        // past the append's default b0, so "≡ the self-served append"
        // held only on top-k validity, not bit-identity — with the
        // beam threaded through, the handed page IS what the append
        // would have served itself)
        val bServe = math.max(32, kEff)
        val page = Similarity.graphTopKFromIndex(spark,
          indexPath, b.select("vec_id", "embedding"), kEff,
          beam = bServe, excludeIngestBatch = Some(batchId),
          stateCeiling = stateCeiling)
        onNeighbors(batchId,
          page.filter(org.apache.spark.sql.functions.col("rank") <= k))
        Similarity.appendToGraphIndex(b, indexPath, ingestBatch = batchId,
          beam = bServe, stateCeiling = stateCeiling,
          precomputedNeighbors = Some(page))
      }
  }

  /** [[streamingAnnIngest]] for the LABEL-BUCKETED (E12) index layout
    * (r11): micro-batches of `(vec_id, embedding, label)` are served
    * label-FILTERED from the written index
    * ([[graft.operators.Similarity.filteredTopKFromIndex]] — the
    * (c_id, lbl) partition pruning, frozen-n_labels probe widening,
    * exact label re-check), then appended into the SAME frozen bucket
    * space ([[graft.operators.Similarity.appendToIvfIndex]] reads B
    * from `meta/` — a drifted bucket count would scatter a label
    * across buckets and break serve-time pruning). Same crash-replay
    * posture as the unfiltered flavor: the current batch's ingest
    * partition is excluded from its own serve, and the append's
    * dynamic partition overwrite makes replay idempotent. The index
    * is the state store; nothing lives in executor memory. */
  def streamingFilteredAnnIngest(emb: DataFrame, indexPath: String, k: Int,
                                 nprobe: Int = 4,
                                 onNeighbors: (Long, DataFrame) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    emb.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        import graft.operators.Similarity
        // same in-batch id dedup as the unfiltered flavor — a
        // duplicated arrival would permanently hold two index rows
        val b = dedupById(batch, "vec_id")
        onNeighbors(batchId, Similarity.filteredTopKFromIndex(spark, indexPath,
          b.select("vec_id", "embedding", "label"), k, nprobe,
          selfExclude = false, excludeIngestBatch = Some(batchId)))
        Similarity.appendToIvfIndex(b, indexPath, ingestBatch = batchId)
      }

  /** F24-as-a-LIVE-index (r11): the lexical dual of
    * [[streamingAnnIngest]]. Each micro-batch of `(doc_id, text)`
    * arrivals is APPENDED into the frozen BM25 index as a delta
    * segment ([[graft.operators.TextAnalysis.appendToBm25Index]] —
    * df/meta increments + pbkt-partitioned postings), then the
    * STANDING query's page is re-served from the now-fresh index
    * ([[graft.operators.TextAnalysis.bm25TopKFromIndex]] — base
    * buckets + the terms' pruned delta partitions) and handed to
    * `onPage` — the continuous-query shape: a curation channel whose
    * ranked page tracks the corpus as it grows, scores at every
    * batch EXACTLY what a full re-index would produce. The index is
    * the state store; replay overwrites the batch's own delta
    * partitions (dynamic partition overwrite), so recovery is
    * idempotent. Contrast [[streamingBm25Rank]], which ranks the
    * ARRIVALS against frozen stats and never updates the index. */
  def streamingBm25Ingest(docs: DataFrame, table: String,
                          terms: Seq[String], k: Int,
                          onPage: (Long, DataFrame) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        // dedup BEFORE the append (the streamingRetrievalServe r10
        // lesson): a doc_id duplicated within one micro-batch would
        // double-count its df/n/t mass in the delta segment — a
        // silent score skew, not an error. dedupById's deterministic
        // winner keeps replays appending the identical segment.
        graft.operators.TextAnalysis.appendToBm25Index(
          dedupById(batch.select("doc_id", "text"), "doc_id"),
          table, ingestBatch = batchId)
        onPage(batchId, graft.operators.TextAnalysis.bm25TopKFromIndex(
          spark, table, terms, k))
      }

  /** The fully-LIVE hybrid channel (r11): micro-batches of
    * `(doc_id, text, embedding)` arrivals append to BOTH serve legs —
    * BM25 delta segments ([[graft.operators.TextAnalysis
    * .appendToBm25Index]]) and the frozen-quantizer IVF lists
    * ([[graft.operators.Similarity.appendToIvfIndex]], vec_id ≡
    * doc_id, the corpus_integrity contract) — then the STANDING
    * query's diversified page re-serves from the indexes alone
    * ([[graft.operators.Retrieval.serveFromIndex]] — the IVF lists
    * double as the MMR vector source, so there is NO side
    * embeddings table). The two indexes are the entire state;
    * replays overwrite their own batch partitions on both legs, and
    * a restart needs only the artifacts. The streaming capstone of
    * the live-hybrid freshness contract (RetrievalServeSpec): at
    * exhaustive probing every page ≡ the page a full re-index would
    * serve. */
  def streamingHybridIngest(arrivals: DataFrame, table: String,
                            path: String, queryVec: DataFrame,
                            cfg: graft.operators.Retrieval.ServeConfig,
                            onPage: (Long, DataFrame) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    arrivals.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        appendHybrid(batch, table, path, batchId)
        onPage(batchId, graft.operators.Retrieval.serveFromIndex(
          batch.sparkSession, table, path, queryVec, cfg))
      }

  /** F32 live: the TWO-STAGE serving loop over the hybrid ingest
    * path (r13) — each micro-batch appends to the BM25/IVF legs
    * ([[appendHybrid]], the one dual-append spelling) AND lands its
    * quality feature rows as an `ingest_batch=<id>` DELTA partition
    * (q6 is a pure row function — [[graft.operators.TextAnalysis
    * .qualityQ6]], the one projection — so a crash-replayed batch
    * overwrites its own partition with identical rows:
    * replay-idempotent like both index legs), then EVERY standing
    * query re-serves its LTR page from the frozen artifacts + deltas
    * ([[graft.operators.Retrieval.serveLtr]] with `qualityDelta`,
    * optionally the frozen weights via `modelTable`). `onPages`
    * receives (batchId, all pages as ONE bounded local relation
    * keyed by q_id) — pages are served once and collected (the
    * streamingServeEval posture); arrivals surface with their REAL
    * q6, not the phantom 0 a frozen-only lookup would give them. */
  def streamingLtrServe(arrivals: DataFrame, table: String, path: String,
                        queryVecs: DataFrame,
                        cfg: graft.operators.Retrieval.ServeConfig,
                        modelTable: String = "",
                        onPages: (Long, DataFrame) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val qSchema = queryVecs.select(col("vec_id"), col("embedding")).schema
    val qRows = queryVecs.select(col("vec_id"), col("embedding")).collect()
    require(qRows.nonEmpty &&
      qRows.map(_.getLong(0)).distinct.length == qRows.length,
      "streamingLtrServe needs a non-empty panel of DISTINCT standing queries")
    val deltaPath = s"$path/quality_delta"
    arrivals.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        appendHybrid(batch, table, path, batchId)
        graft.operators.TextAnalysis.qualityQ6(
            dedupById(batch.select("doc_id", "text"), "doc_id"))
          .withColumn("ingest_batch",
            graft.functions.ServeExprs.longParam(spark, batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("ingest_batch").parquet(deltaPath)
        val pageRows: Seq[(Long, Long, Double, Long)] =
          qRows.toSeq.flatMap { q =>
            graft.operators.Retrieval.serveLtr(spark, table, path,
                spark.createDataFrame(java.util.Arrays.asList(q), qSchema),
                cfg, modelTable = modelTable, qualityDelta = deltaPath)
              .collect()
              .map(r => (q.getLong(0), r.getLong(0), r.getDouble(1),
                r.getLong(2)))
          }
        import spark.implicits._
        onPages(batchId,
          pageRows.toDF("q_id", "doc_id", "ltr_score", "rank"))
      }
  }

  /** The ONE spelling of the hybrid dual append ([[streamingHybridIngest]]
    * and [[streamingServeEval]] share it — r13 review: two copies of
    * the dedup + both-leg append prologue would silently drift):
    * dedup within the micro-batch (a doc_id duplicated in one batch
    * would double-count its df/n/t mass), then append the lexical
    * delta segments and the frozen-quantizer IVF lists (vec_id ≡
    * doc_id, the corpus_integrity contract). Replays overwrite their
    * own batch partitions on both legs. */
  private def appendHybrid(batch: DataFrame, table: String, path: String,
                           batchId: Long): Unit = {
    val b = dedupById(batch.select("doc_id", "text", "embedding"),
      "doc_id")
    graft.operators.TextAnalysis.appendToBm25Index(
      b.select("doc_id", "text"), table, ingestBatch = batchId)
    graft.operators.Similarity.appendToIvfIndex(
      b.select(col("doc_id").as("vec_id"), col("embedding")),
      s"$path/ivf", ingestBatch = batchId)
  }

  /** [[streamingHybridIngest]] with LIVE QUALITY SCORING (r13, VERDICT
    * r12 #8): after each micro-batch appends to both legs, EVERY
    * standing query's diversified page re-serves from the indexes
    * alone, and the whole page set is scored in one
    * [[graft.operators.Retrieval.evalTopKGrouped]] call against a
    * FROZEN reference (system = the query's vec_id as string;
    * per-query reference sizes free to differ — the grouped
    * contract). This is the live quality-regression tripwire for the
    * hybrid ingest path: an ingest batch that poisons an index leg
    * (bad embeddings, a skewed df append) surfaces as a falling
    * recall/MRR/nDCG row within ONE batch, instead of waiting for the
    * next offline eval run.
    *
    * `queryVecs` is the bounded standing panel `(vec_id, embedding)`
    * — collected ONCE at wiring time (serveFromIndex's contract is
    * one vector per call, so the panel loops driver-side over a
    * handful of standing queries; the per-query work is the indexed
    * serve, never a corpus scan, and no panel lineage re-executes
    * per batch). Each page is served ONCE and held as a bounded
    * local relation (N·kOut rows), so the callback reading both
    * frames re-runs no serves (r13 review). A standing query whose
    * page comes back EMPTY still reports — a zero-metrics row, never
    * a vanished one: the worst regression is exactly what the
    * tripwire exists to expose (the r12 evalGrouped lesson). `ref`
    * is the frozen `(system, doc_id)` judgment set (e.g. the
    * exhaustive-serve pages at freeze time, or editorial labels).
    * `onMetrics` receives (batchId, the union of the pages keyed by
    * system, the per-query metrics frame). */
  def streamingServeEval(arrivals: DataFrame, table: String, path: String,
                         queryVecs: DataFrame,
                         cfg: graft.operators.Retrieval.ServeConfig,
                         ref: DataFrame, k: Int,
                         onMetrics: (Long, DataFrame, DataFrame) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val qSchema = queryVecs.select(col("vec_id"), col("embedding")).schema
    val qRows = queryVecs.select(col("vec_id"), col("embedding")).collect()
    val qIds = qRows.map(_.getLong(0)).toSeq
    require(qIds.nonEmpty && qIds.distinct.size == qIds.size,
      s"streamingServeEval needs a non-empty panel of DISTINCT standing " +
        s"query vec_ids, got $qIds")
    arrivals.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        appendHybrid(batch, table, path, batchId)
        // one serve per standing query, page collected (bounded kOut
        // rows) — the pages/metrics frames below are local relations
        val pageRows: Seq[(String, Long, Long)] = qRows.toSeq.flatMap { q =>
          graft.operators.Retrieval.serveFromIndex(spark, table, path,
              spark.createDataFrame(java.util.Arrays.asList(q), qSchema),
              cfg)
            .select(col("doc_id"), col("rank").cast("long"))
            .collect()
            .map(r => (q.getLong(0).toString, r.getLong(0), r.getLong(1)))
        }
        // past-k sentinel per panel query: never scores (the rank ≤ k
        // filter drops it) but keeps every system PRESENT, so an
        // empty page reports zeros instead of vanishing
        val sentinels = qIds.map(q => (q.toString, -1L, k.toLong + 1L))
        import spark.implicits._
        val pages = pageRows.toDF("system", "doc_id", "rank")
        onMetrics(batchId, pages,
          graft.operators.Retrieval.evalTopKGrouped(
            (pageRows ++ sentinels).toDF("system", "doc_id", "rank"),
            ref, k))
      }
  }

  /** One cumulative reading (the shape RAINNC arrives in). `id` is the
    * per-station event id that breaks timestamp ties — the batch
    * flavors order by (time, id), and carrying it here lets the
    * streaming state tell a second legitimate same-ts reading apart
    * from a crash-replay re-delivery of the first. Streams without a
    * natural id keep the default 0 (distinct-ts contract unchanged). */
  final case class CumulReading(station: String, ts: java.sql.Timestamp,
                                value: Double, id: Long = 0L)
  /** One per-interval delta (what the reference pushes to the DB). */
  final case class IntervalDelta(station: String, ts: java.sql.Timestamp, delta: Double)

  /** One smoothed reading (A19's output shape as a stream). */
  final case class Smoothed(station: String, ts: java.sql.Timestamp,
                            value: Double, ewma: Double)

  /** The shared ordered-fold skeleton of [[streamingEwma]] and
    * [[streamingIntervalDiff]]: per-station `flatMapGroupsWithState`
    * carrying (last applied (event time, event id), one double of
    * state), events (time, id)-ordered within each micro-batch — the
    * batch flavors' sort key — and the SINGLE copy of the late/replay
    * drop rule both operators document: an event at or behind the last
    * applied (ts, id) is dropped (folding it would corrupt the
    * recurrence / regress the cumulative), while a SECOND reading at
    * the same ts with a LARGER id folds normally — batch parity on
    * ts-tied streams. `step` maps (previous state double, in-order
    * reading) to (next state double, optional emission). */
  private def statefulOrderedFold[O: org.apache.spark.sql.Encoder](
      events: Dataset[CumulReading])(
      step: (Option[Double], CumulReading) => (Double, Option[O])): Dataset[O] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.station)
      .flatMapGroupsWithState[(Long, Long, Double), O](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_, readings, state: GroupState[(Long, Long, Double)]) =>
          var cur = state.getOption
          val out = readings.toSeq.sortBy(r => (r.ts.getTime, r.id)).flatMap { r =>
            val t = r.ts.getTime
            // lexicographic (ts, id): behind-or-identical ⇒ replay, drop
            if (cur.exists { case (lt, lid, _) =>
                  lt > t || (lt == t && lid >= r.id) }) None
            else {
              val (next, o) = step(cur.map(_._3), r)
              cur = Some((t, r.id, next))
              o
            }
          }
          cur.foreach(state.update)
          out.iterator
      }
  }

  /** A19-as-a-stream: exponential smoothing with the previous EWMA
    * value carried across micro-batches in per-key state (one double
    * per station — the same bounded-state contract as
    * [[streamingIntervalDiff]]). Within a batch events are event-time
    * ordered before applying the recurrence.
    *
    * Timestamp ties: [[CumulReading.id]] disambiguates — two distinct
    * same-ts readings with distinct ids both fold, in (ts, id) order,
    * matching the batch flavor ([[graft.operators.Timeseries.ewma]],
    * ordered by (time, id)); only an event at-or-behind the last
    * applied (ts, id) is dropped as a crash-replay re-delivery.
    * Streams that leave `id` at its default 0 keep the old
    * distinct-timestamp contract (same-ts ⇒ replay ⇒ dropped).
    */
  def streamingEwma(events: Dataset[CumulReading], alpha: Double)
      : Dataset[Smoothed] = {
    require(alpha > 0.0 && alpha <= 1.0, s"alpha=$alpha outside (0, 1]")
    import events.sparkSession.implicits._
    // the late/replay drop rule lives in statefulOrderedFold (state =
    // the running EWMA); parity with Timeseries.ewma holds for
    // in-order, distinct-timestamp streams — late/duplicate events
    // are the streaming trade the watermark model makes everywhere
    statefulOrderedFold[Smoothed](events) { (prev, r) =>
      val e = prev.fold(r.value)(p => alpha * r.value + (1.0 - alpha) * p)
      // same floor-based 6-dp rounding as the batch flavor
      (e, Some(Smoothed(r.station, r.ts, r.value,
        math.floor(e * 1e6 + 0.5) / 1e6)))
    }
  }

  /** A1-as-a-stream: cumulative → per-interval deltas with CUSTOM
    * per-key state (`flatMapGroupsWithState`) — the last cumulative
    * value per station survives across micro-batches, so the first
    * event of batch N diffs correctly against the last of batch N-1
    * (a windowed agg can't express this: the diff needs the previous
    * ROW, not a window).
    *
    * State is one double per station — bounded by station count, the
    * same shard key as batch A1. Within a batch, events are ordered by
    * event time before diffing (micro-batch iterators carry no order
    * guarantee).
    *
    * Timestamp ties follow the [[streamingEwma]] contract:
    * [[CumulReading.id]] disambiguates, so a second same-ts reading
    * with a larger id diffs normally (batch A1 parity, ordered by
    * (time, id)); only (ts, id) at-or-behind the last applied is
    * dropped as a replay re-delivery.
    */
  def streamingIntervalDiff(events: Dataset[CumulReading]): Dataset[IntervalDelta] = {
    import events.sparkSession.implicits._
    // the late/replay drop rule lives in statefulOrderedFold (state =
    // the last cumulative value): diffing a late event would regress
    // the cumulative (negative phantom rainfall) AND double-count the
    // next interval; the first reading seeds state, emitting nothing
    statefulOrderedFold[IntervalDelta](events) { (last, r) =>
      (r.value, last.map(pv => IntervalDelta(r.station, r.ts, r.value - pv)))
    }
  }

  /** One event of the merged as-of input stream: a left probe row
    * (`isRight = false`, `value` = the probe's own reading) or a
    * right reference row (`isRight = true`, `value` = the reference
    * value later probes should pick up). `id` breaks timestamp ties
    * within a side, the [[CumulReading.id]] contract. */
  final case class AsofEvent(station: String, ts: java.sql.Timestamp,
                             isRight: Boolean, value: Double, id: Long = 0L)

  /** One joined probe row — `asof_value` is the latest right value at
    * or before `ts`, None before any right row arrived (the batch
    * flavor's NULL). */
  final case class AsofJoined(station: String, ts: java.sql.Timestamp,
                              value: Double, asof_value: Option[Double])

  /** A13-as-a-stream: as-of join with the last-known right-side value
    * carried in per-key state (`flatMapGroupsWithState`, the
    * [[streamingEwma]] pattern) — the one A-block operator that had
    * no streaming flavor. The batch spelling
    * ([[graft.operators.Timeseries.asofJoinLatest]]) is a union-sort
    * forward fill; here the two sides arrive MERGED as one tagged
    * stream and the "fill" is one (ts, id, value) triple per station
    * surviving across micro-batches — state bounded by key count,
    * never by stream length (a stream-stream join's buffered-rows
    * state is the wrong shape for this: the left side needs no
    * buffering at all once the right's latest value is a fold).
    *
    * Within a micro-batch events sort by (ts, right-first, id) — the
    * batch flavor's exact window order, so a probe at the same ts as
    * a reference row sees it. Late events follow the
    * [[statefulOrderedFold]] contract, extended with the side rank:
    * an event at or behind the last applied (ts, rank, id) position
    * is dropped as a crash-replay re-delivery — an appended probe
    * result can't be retracted, so a genuinely-late right row must
    * not rewrite history (the watermark-model trade every streaming
    * flavor here documents; batch parity holds for streams whose
    * cross-batch arrival respects event order). */
  def streamingAsofJoin(events: Dataset[AsofEvent]): Dataset[AsofJoined] = {
    import events.sparkSession.implicits._
    // rank 0 = right, 1 = left: right sorts (and compares) first at
    // equal ts, so a probe tied with a reference row matches it and a
    // probe is never dropped by a same-(ts, id) reference apply
    def rank(e: AsofEvent): Int = if (e.isRight) 0 else 1
    events.groupByKey(_.station)
      // state: (last applied ts, rank, id, has a right value, value)
      .flatMapGroupsWithState[(Long, Int, Long, Boolean, Double), AsofJoined](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_, evs, state: GroupState[(Long, Int, Long, Boolean, Double)]) =>
          var cur = state.getOption
          val out = evs.toSeq.sortBy(e => (e.ts.getTime, rank(e), e.id))
            .flatMap { e =>
              val t = e.ts.getTime
              val r = rank(e)
              val behind = cur.exists { case (lt, lr, lid, _, _) =>
                lt > t || (lt == t && (lr > r || (lr == r && lid >= e.id)))
              }
              if (behind) None
              else {
                val rv = cur.collect { case (_, _, _, true, v) => v }
                cur = Some((t, r, e.id,
                  e.isRight || rv.isDefined,
                  if (e.isRight) e.value else rv.getOrElse(0.0)))
                if (e.isRight) None
                else Some(AsofJoined(e.station, e.ts, e.value, rv))
              }
            }
          cur.foreach(state.update)
          out.iterator
      }
  }
}
