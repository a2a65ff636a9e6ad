package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._

/** Text-analysis block (SURVEY.md §2 F) on the `documents` table.
  *
  * Every operator is per-row expression work — embarrassingly parallel,
  * no shuffle at all: at 100 TB these run as a single mapper stage
  * fused into the scan by whole-stage codegen. Outputs are integers,
  * strings, or single-op double ratios, so DuckDB oracle results match
  * bit-exactly (same expression shape both sides, see SURVEY §5).
  */
object TextAnalysis {

  /** One live cached frame per operator (shared [[CacheSlots]]
    * lifecycle) — F26's scored table feeds both the cut computation
    * and the output join. */
  private val liveCaches = new CacheSlots

  /** Drop every cache this object holds (end-of-job cleanup). */
  def releaseCaches(): Unit = liveCaches.release()

  /** Per-language stopword lists for the n-gram/stopword-hit language
    * heuristic. Tie-break is the fixed list order below (first wins). */
  val stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein"),
    "es" -> Seq("el", "la", "de", "que", "y", "es"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un"),
    "zh" -> Seq("de", "shi", "le", "bu", "wo"))

  /** Shared F1 internals: append per-language stopword-hit columns
    * (`hits_<lang>`) plus `pred_lang` to `docs`, leaving a temp
    * `toks` column behind — [[langId]] keeps the hits (its output
    * contract), [[withLangPred]] drops everything but the label.
    * One spelling so the catalog entry and the funnel's language
    * gate can never diverge on tie-break semantics. */
  private def withHitsAndPred(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    // coalesce: NULL text must behave like EMPTY text (all hits 0 →
    // the documented first-list-entry tie-break → 'en'); un-coalesced
    // NULL hits would fail every >= and fall through to the LAST
    // language — a null doc labeled 'zh' while an empty doc is 'en'
    val withHits = stopwords.foldLeft(docs.withColumn("toks", toks)) {
      case (df, (lang, words)) =>
        df.withColumn(s"hits_$lang",
          coalesce(stopwordHits(col("toks"), words), lit(0)))
    }
    // First-match-wins CASE chain: a language wins when its hits are >=
    // every other language's hits; earlier list position breaks ties.
    val langs = stopwords.map(_._1)
    val pred = langs.init.foldRight(lit(langs.last): Column) { (lang, elsePart) =>
      val geAll = langs.filter(_ != lang)
        .map(o => col(s"hits_$lang") >= col(s"hits_$o"))
        .reduce(_ && _)
      when(geAll, lit(lang)).otherwise(elsePart)
    }
    withHits.withColumn("pred_lang", pred)
  }

  /** F1: language-ID — stopword-hit counts per language, argmax with
    * deterministic list-order tie-break (chained CASE, not greatest(),
    * so the oracle mirrors it trivially). */
  def langId(docs: DataFrame): DataFrame =
    withHitsAndPred(docs)
      .select(Seq(col("doc_id")) ++
        stopwords.map { case (l, _) => col(s"hits_$l") } :+ col("pred_lang"): _*)

  /** F1 as an annotation: `docs` + one `pred_lang` column (hit
    * columns dropped) — the funnel's language gate, which needs the
    * label on the full row, not the per-language diagnostics. */
  def withLangPred(docs: DataFrame): DataFrame =
    withHitsAndPred(docs)
      .drop((Seq("toks") ++ stopwords.map { case (l, _) => s"hits_$l" }): _*)

  /** F2: quality score — length / stopword / digit / punctuation
    * signals combined into one [0,1] score. Exact expression order is
    * part of the contract (oracle mirrors it verbatim).
    * `passthrough` columns ride along in the output (between doc_id
    * and the signals) so aggregating callers like [[corpusStats]]
    * never need a corpus-wide join back to recover them. */
  def qualityScore(docs: DataFrame,
                   passthrough: Seq[String] = Nil): DataFrame = {
    val toks = tokens(col("text"))
    val enStop = stopwords.head._2
    docs
      .withColumn("n_chars_c", length(col("text")))
      .withColumn("wc", size(toks))
      .withColumn("stop_hits", stopwordHits(toks, enStop))
      .withColumn("digit_chars", length(col("text")) -
        length(regexp_replace(col("text"), "[0-9]", "")))
      .withColumn("punct_chars", length(col("text")) -
        length(regexp_replace(col("text"), "[.!?,;:]", "")))
      // token-less or empty docs score 0.0 explicitly: engines
      // disagree on 0/0 (Spark NULL vs DuckDB NaN), a NULL score
      // would silently deflate corpusStats' avg (summed as 0,
      // counted as 1), and a quality gate should reject such docs
      // anyway
      .withColumn("score",
        when(col("wc") > 0 && col("n_chars_c") > 0,
          lit(0.3) * least(lit(1.0), col("wc") / lit(120.0)) +
          lit(0.3) * (col("stop_hits") / col("wc")) +
          lit(0.2) * (lit(1.0) - col("digit_chars") / col("n_chars_c")) +
          lit(0.2) * (lit(1.0) - col("punct_chars") / col("n_chars_c")))
        .otherwise(lit(0.0)))
      .select("doc_id", passthrough ++ Seq("n_chars_c", "wc", "stop_hits",
        "digit_chars", "punct_chars", "score"): _*)
  }

  /** F2b: quality-gate threshold sweep — the survivor count and keep
    * rate at every candidate cutoff τ ∈ {0, 1/steps, …, 1}: the
    * tuning artifact you compute ONCE before burning a 100 TB pass
    * with the wrong gate (pick τ off this table, then run the funnel).
    *
    * Scale shape: the corpus-sized work is exactly one [[qualityScore]]
    * scan + one partial-agg groupBy collapsing it to the DISTINCT-score
    * histogram (scores are sums of coarse ratios — the histogram is
    * ≪ corpus); the τ fan-out joins the histogram against a broadcast
    * (steps+1)-row frame, so the ≥-comparison never multiplies corpus
    * rows. Exactness: scores round to scale-6 integers (bit-identical
    * doubles on both engines — the F2 hash-green contract — so the ·1e6
    * rounding agrees), the τ compare is integer-only (score6 ≥ i·1e6/steps),
    * and keep_rate is the house half-up integer quotient
    * floor((2k·1e6 + n)/(2n)) — no double ever hits a rounding
    * boundary. */
  def qualityThresholdSweep(docs: DataFrame, steps: Int = 20): DataFrame = {
    require(steps > 0 && 1000000 % steps == 0,
      s"steps=$steps must divide 1e6 so thresholds are exact scale-6 ints")
    val step6 = 1000000L / steps
    val hist = qualityScore(docs)
      .select(round(col("score") * lit(1000000.0)).cast("long").as("score6"))
      .groupBy("score6").agg(count(lit(1)).as("cnt"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val taus = docs.sparkSession.range(0, steps + 1).select(col("id").as("i"))
    broadcast(taus)
      .join(hist, col("score6") >= col("i") * lit(step6), "left")
      .groupBy("i").agg(coalesce(sum(col("cnt")), lit(0L)).as("n_keep"))
      .crossJoin(broadcast(n))
      .select((col("i").cast("double") / lit(steps.toDouble)).as("tau"),
        col("n_keep"),
        (expr("(n_keep * 2000000 + n_docs) div (2 * n_docs)")
          .cast("double") / lit(1000000.0)).as("keep_rate"))
  }

  /** F3: token counting — whitespace tokens vs a BPE-ish lexer count
    * (letter runs / digit runs / single non-alnum marks, the classic
    * pre-tokenizer shape). regexp_count keeps it codegen'd. */
  def tokenCount(docs: DataFrame): DataFrame =
    docs
      .withColumn("ws_tokens", size(tokens(col("text"))))
      .withColumn("bpe_tokens",
        regexp_count(col("text"), lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]")))
      .select("doc_id", "ws_tokens", "bpe_tokens")

  /** F5: corpus statistics — per (lang, source) doc counts and mean
    * quality. The double score is cast to decimal(10,6) per row before
    * summation (bit-identical per row cross-engine since the formula
    * is mirrored; decimal sum is then order-independent), one double
    * division at the end — the SURVEY §5 pattern for aggregating
    * derived doubles. */
  def corpusStats(docs: DataFrame): DataFrame =
    // passthrough, NOT a join back: re-joining the corpus to itself on
    // doc_id to recover two columns the select dropped would be a
    // second full scan plus a corpus-wide shuffle at 100 TB
    qualityScore(docs, passthrough = Seq("lang", "source"))
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        (sum(col("score").cast("decimal(10,6)")).cast("double") / count(lit(1)))
          .as("avg_quality"))

  /** F4: content fingerprint — md5 over the whitespace-normalized
    * lowercase token stream: stable under case / spacing / punctuation
    * jitter, the content-defined identity a 100 TB dedup ledger keys
    * on (cheap exact-dup prefilter ahead of D2/D3). */
  def fingerprint(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), md5(normalized(col("text"))).as("fingerprint"))

  /** Conservative ASCII PII patterns shared by [[piiRedact]] and its
    * oracle. Deliberately restricted to syntax Java regex and RE2
    * (DuckDB) match identically — no lookaround, no backreferences,
    * greedy quantifiers over disjoint character classes. */
  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val ipv4Pattern = "\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b"
  val phonePattern = "\\+?[0-9][0-9()\\- ]{6,}[0-9]"

  /** F11: PII detection + redaction — the hygiene stage every
    * training-data pipeline runs before text reaches storage (C4 and
    * Dolma both ship one): per document, count and mask emails, IPv4
    * addresses, and phone-shaped digit runs. STAGED semantics — each
    * pattern counts and redacts the PREVIOUS stage's output (emails →
    * IPs → phones, most-specific first), so one span is never
    * double-counted by a later, looser pattern; the oracle spells the
    * same three stages. Pure per-row regexp expression work: no
    * shuffle, fused into the scan by codegen, exactly like the rest
    * of the F-block. The patterns are deliberately conservative
    * (precision over recall — a redaction pass must not shred clean
    * text); swap in stricter ones per deployment policy. */
  def piiRedact(docs: DataFrame, passthrough: Seq[String] = Nil): DataFrame = {
    val t1 = regexp_replace(col("text"), emailPattern, "[EMAIL]")
    docs
      .withColumn("n_emails", regexp_count(col("text"), lit(emailPattern)))
      .withColumn("t1", t1)
      .withColumn("n_ips", regexp_count(col("t1"), lit(ipv4Pattern)))
      .withColumn("t2", regexp_replace(col("t1"), ipv4Pattern, "[IP]"))
      .withColumn("n_phones", regexp_count(col("t2"), lit(phonePattern)))
      .withColumn("text_clean", regexp_replace(col("t2"), phonePattern, "[PHONE]"))
      .select((Seq("doc_id") ++ passthrough ++
        Seq("n_emails", "n_ips", "n_phones", "text_clean")).map(col): _*)
  }

  /** F10: compression-ratio quality signal (rows-only) — deflate size
    * over raw size per document: highly repetitive/boilerplate text
    * compresses far below prose, making this the cheap complement to
    * [[repetition]]'s exact gram ratio. zlib is not expressible in
    * built-in expressions OR the DuckDB oracle, so this is the one
    * justified `mapPartitions` in the F-block: the `Deflater` is
    * allocated once per partition (the amortize-setup batching
    * pattern, like the multimodal codecs) and the level is pinned so
    * output is deterministic. Narrow op — no shuffle.
    */
  def compressionRatio(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // Option[Long]: a NULL doc_id must pass through like every other
    // F-block operator — the bare Long encoder would kill the task
    // with "null value in non-nullable field"
    docs.select(col("doc_id"), col("text")).as[(Option[Long], String)]
      .mapPartitions { it =>
        val deflater = new java.util.zip.Deflater(java.util.zip.Deflater.BEST_SPEED)
        // native zlib memory is invisible to the JVM heap — release it
        // at task end, not at finalization (mapPartitions' iterator is
        // lazy, so a try/finally around `it.map` would end() too early)
        Option(org.apache.spark.TaskContext.get())
          .foreach(_.addTaskCompletionListener[Unit](_ => deflater.end()))
        val buf = new Array[Byte](1 << 16)
        it.map { case (id, text) =>
          // null-propagating like the rest of the F-block: a NULL
          // text is an empty payload, never a task-killing NPE
          val bytes =
            if (text == null) Array.emptyByteArray else text.getBytes("UTF-8")
          deflater.reset()
          deflater.setInput(bytes)
          deflater.finish()
          var compressed = 0L
          while (!deflater.finished()) compressed += deflater.deflate(buf)
          val ratio = if (bytes.isEmpty) 1.0
            else math.rint(compressed.toDouble / bytes.length * 1e6) / 1e6
          (id, bytes.length.toLong, compressed, ratio)
        }
      }.toDF("doc_id", "n_bytes", "compressed_bytes", "comp_ratio")
  }

  /** F9: intra-document repetition — the repeated-n-gram quality
    * signal (boilerplate, keyword stuffing, degenerate generations):
    * `rep_ratio = 1 − distinct_grams / total_grams` over word
    * 3-grams. Pure per-row expression work fused into the scan (the
    * distinct-gram count is one codegen'd `Grams3Hashes` pass; the
    * total is arithmetic on the token count) — zero shuffle, like
    * F1–F4. The single double division rounds at 6 dp (SURVEY §5).
    */
  def repetition(docs: DataFrame): DataFrame = {
    graft.functions.VecExprs.register(docs.sparkSession)
    docs
      .select(col("doc_id"),
        greatest(size(tokens(col("text"))) - 2, lit(0)).cast("bigint")
          .as("total_grams"),
        size(call_function("graft_grams3h", tokens(col("text"))))
          .cast("bigint").as("distinct_grams"))
      .withColumn("rep_ratio",
        when(col("total_grams") > 0,
          round(lit(1.0) - col("distinct_grams").cast("double")
            / col("total_grams"), 6))
          .otherwise(lit(0.0)))
  }

  /** F15: exact per-language vocabulary — distinct normalized tokens
    * per `lang`. `countDistinct` runs as Spark's two-phase distinct
    * aggregate: partial (lang, token) dedup happens BEFORE the
    * exchange, so the shuffle carries unique pairs (bounded by the
    * vocabulary, which grows ~Heaps-law sublinearly), never the raw
    * token stream. This is F15b's exactness baseline; at true corpus
    * scale the distinct pair set itself is the cost the sketch
    * removes. */
  def vocabExact(docs: DataFrame): DataFrame =
    docs.select(col("lang"), explode(tokens(col("text"))).as("tok"))
      .groupBy(col("lang"))
      .agg(countDistinct(col("tok")).as("vocab"))

  /** F16: n-gram language-model quality score — the CCNet-style
    * perplexity filter (Wenzek et al. 2020's KenLM pass, re-expressed
    * relationally): score each document by the mean add-k-smoothed
    * bigram log-likelihood under a model TRAINED ON THE CORPUS ITSELF
    * (self-perplexity — fluent, corpus-typical text scores high;
    * gibberish, OOV-heavy noise, and token salad score low — the
    * standard quality gate before training). p(cur|prev) =
    * (c(prev,cur) + k) / (c(prev) + k·V), k = 0.5, V = corpus
    * vocabulary; `lm_score` = mean ln p over the doc's bigrams (NULL
    * for docs with <2 tokens), `n_bigrams` alongside.
    *
    * Scale shape: two count aggregates (bigram, unigram) + one V
    * total; scoring equi-joins each doc position against count tables
    * that hold ONE row per key — a hot bigram ("of the") costs its
    * occurrence count in probe-side rows, never a pair blow-up, and
    * AQE splits an oversized probe partition. Cross-engine
    * determinism (SURVEY §5, with a twist found at sf0.001): each ln
    * rounds to a scale-4 INTEGER (a 1-ulp libm-vs-JVM ln difference
    * essentially never crosses that boundary — transcendentals don't
    * land on exact halves), the integers sum exactly, and the final
    * mean rounds via pure integer arithmetic — floor((2A+n)/(2n)) =
    * half-up(A/n) for the all-negative sums — because the rational
    * S/n lands EXACTLY on a half boundary often (any n dividing the
    * scaled sum: measured doc with S=−83.0196, n=24 → mean −3.45915
    * exact), where double rounding is engine-dependent. */
  def lmScore(docs: DataFrame, k: Double = 0.5): DataFrame = {
    val uni = uniCounts(docs)
    val docBig = docBigrams(docs)
    val vocab = uni.agg(count(lit(1)).as("v")) // one row — broadcast
    lmFinalize(docBig
      .join(bigCounts(docBig), Seq("prev", "cur"))
      .join(uni.withColumnRenamed("tok", "prev"), Seq("prev"))
      .crossJoin(broadcast(vocab)), k, docs)
  }

  /** F26: CCNet-style perplexity bucketing (Wenzek et al. 2020 §4.3)
    * — label every doc `head`/`middle`/`tail` by where its [[lmScore]]
    * sits in its language's score distribution thirds (head = best
    * scores = lowest self-perplexity, the slice CCNet keeps;
    * `unscored` for docs with <2 tokens). Buckets are THRESHOLD-based
    * on pure integer count comparisons, not NTILE: a doc is `head`
    * when strictly fewer than ⌈n/3⌉ docs of its lang score higher
    * (3·above < n), `middle` below 2n/3, else `tail` — so ties share
    * a bucket (no doc_id tie-break inside equal scores, unlike NTILE,
    * whose boundary assignment would also make bucket sizes
    * row-order-trivia) and no float quantile interpolation exists to
    * diverge between engines.
    *
    * Scale shape — this is why it is NOT spelled ntile() over the
    * corpus: lm_score is a scale-4 integer in a bounded range
    * (ln-probability means), so distinct (lang, score) values are
    * bounded (~10⁵ per lang) REGARDLESS of corpus size. The window
    * runs over that bounded aggregate frame, never a full-corpus
    * per-lang sort, and the cut table broadcasts back — two
    * aggregates + one broadcast join at any scale. */
  def ccnetBuckets(docs: DataFrame, k: Double = 0.5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // cached: the scored table feeds BOTH the cut computation and the
    // output join — uncached, the whole F16 pipeline (two count
    // aggregates + three joins) would run twice
    val scored = liveCaches("ccnetBuckets_scored", lmScore(docs, k)
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id")))
    val byScore = scored.filter(col("n_bigrams") > 0)
      .groupBy(col("lang"), col("lm_score"))
      .agg(count(lit(1)).as("c"))
    val byLang = Window.partitionBy(col("lang"))
    val cuts = byScore
      .withColumn("above", coalesce(
        sum(col("c")).over(byLang.orderBy(col("lm_score").desc)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("n_lang", sum(col("c")).over(byLang))
      .select(col("lang").as("c_lang"), col("lm_score").as("c_score"),
        when(lit(3) * col("above") < col("n_lang"), "head")
          .when(lit(3) * col("above") < lit(2) * col("n_lang"), "middle")
          .otherwise("tail").as("bucket"))
    // null-safe on lang (a null-lang stratum must match its own cut
    // rows, not fall through to `unscored`); plain equality on the
    // score — unscored docs carry NULL lm_score, never match, and
    // take the coalesce arm
    scored.join(broadcast(cuts),
        col("lang") <=> col("c_lang") && col("lm_score") === col("c_score"),
        "left")
      .select(col("doc_id"), col("lang"), col("lm_score"),
        coalesce(col("bucket"), lit("unscored")).as("bucket"))
  }

  /** F26's deploy flow, freeze side: the frozen n-gram model
    * ([[writeLmModel]], same `table`/`path`) PLUS per-lang bucket
    * THRESHOLDS at `<table>_cuts` — `(lang, t_head, t_mid)`, the
    * minimum self-score of each bucket. Buckets are monotone in
    * score, so threshold comparison reproduces the training labels
    * exactly AND generalizes to arrival scores the training corpus
    * never produced (a frozen (lang, score)→bucket map would not).
    * A lang whose scored set is a single doc has no middle bucket —
    * t_mid freezes as t_head (everything below the head cut is tail,
    * which is what the count rule degenerates to). */
  def writeCcnetModel(docs: DataFrame, table: String, path: String,
                      buckets: Int = 64, k: Double = 0.5): Unit = {
    writeLmModel(docs, table, path, buckets)
    ccnetBuckets(docs, k)
      .filter(col("bucket").isin("head", "middle"))
      .groupBy(col("lang"))
      .agg(min(when(col("bucket") === "head", col("lm_score"))).as("t_head"),
        min(when(col("bucket") === "middle", col("lm_score"))).as("t_mid"))
      .select(col("lang"), col("t_head"),
        coalesce(col("t_mid"), col("t_head")).as("t_mid"))
      .coalesce(1)
      .write.format("parquet").option("path", s"${path}_cuts")
      .mode("overwrite").saveAsTable(s"${table}_cuts")
  }

  /** F26's deploy flow, serve side: bucket ARRIVALS by the frozen
    * model + frozen thresholds — scores via [[lmScoreAgainst]] (OOV
    * backs off exactly as F16's deploy does), labels by per-lang
    * threshold compare (null-safe on lang — the null-lang stratum
    * matches its own frozen cuts). Scoring the training corpus
    * reproduces [[ccnetBuckets]] exactly (spec-pinned). A lang the
    * training corpus never saw has no thirds to place into —
    * `unscored`, the conservative label, never a guess (documented,
    * spec-asserted); <2-token docs are `unscored` as in the one-pass
    * operator. Per-row work + two broadcast joins: zero state, the
    * [[lmScoreAgainst]] scale shape. */
  def ccnetBucketAgainst(spark: org.apache.spark.sql.SparkSession,
                         table: String, docs: DataFrame,
                         k: Double = 0.5): DataFrame = {
    val cuts = spark.table(s"${table}_cuts")
      .select(col("lang").as("c_lang"), col("t_head"), col("t_mid"))
    lmScoreAgainst(spark, table, docs, k)
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .join(broadcast(cuts), col("lang") <=> col("c_lang"), "left")
      .select(col("doc_id"), col("lang"), col("lm_score"),
        when(col("n_bigrams") === 0 || col("t_head").isNull, "unscored")
          .when(col("lm_score") >= col("t_head"), "head")
          .when(col("lm_score") >= col("t_mid"), "middle")
          .otherwise("tail").as("bucket"))
  }

  /** Corpus unigram counts `(tok, c_uni)` — ONE definition shared by
    * the one-pass score and the model writer, so the frozen-model ≡
    * self-score invariant can't drift on a one-sided edit. */
  private def uniCounts(docs: DataFrame): DataFrame =
    docs.select(explode(tokens(col("text"))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c_uni"))

  /** Corpus bigram counts `(prev, cur, c_big)` over the weighted
    * doc-bigram rows — same sharing rationale as [[uniCounts]]. */
  private def bigCounts(docBig: DataFrame): DataFrame =
    docBig.groupBy(col("prev"), col("cur")).agg(sum(col("m")).as("c_big"))

  /** The per-doc weighted bigram rows every F16 flavor shares:
    * `(doc_id, prev, cur, m)` — one row per distinct in-doc bigram
    * with its multiplicity (a doc repeating "of the" 50 times carries
    * ONE row with m=50 through every count join). */
  private def docBigrams(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 2)
      // t[i] is 0-BASED in Spark SQL subscripts (element_at is the
      // 1-based one): i ∈ [2, size] → (t[i−2], t[i−1]) = consecutive
      // pairs; the size≥2 filter keeps the sequence ascending
      .select(col("doc_id"), explode(expr(
        "transform(sequence(2, size(t)), " +
          "i -> struct(t[i-2] AS prev, t[i-1] AS cur))")).as("bg"))
      .select(col("doc_id"), col("bg.prev").as("prev"), col("bg.cur").as("cur"))
      .groupBy(col("doc_id"), col("prev"), col("cur"))
      .agg(count(lit(1)).as("m"))

  /** The shared F16 score tail over weighted doc-bigram rows already
    * joined to `(c_big, c_uni, v)` — ln → scale-4 integer, exact
    * integer sums, integer-rounded mean (see [[lmScore]]'s scaladoc
    * for why the mean must never round through a double). */
  private def lmFinalize(joined: DataFrame, k: Double,
                         docs: DataFrame): DataFrame = {
    val scored = joined
      // ln < 0 always: c_big ≤ c_uni and the smoothing adds k·V > k
      // to the denominator (OOV backs off to p = 1/V < 1) — the
      // integer-rounding spelling below leans on the all-negative sign
      .withColumn("lnp_i",
        round(log((col("c_big") + lit(k)) / (col("c_uni") + lit(k) * col("v")))
          * lit(1e4)).cast("long"))
      .groupBy(col("doc_id"))
      .agg(sum(col("m")).as("n_bigrams"),
        (-sum(col("m") * col("lnp_i"))).as("a"))
      .select(col("doc_id"), col("n_bigrams"),
        // CAST to double BEFORE the divide: a bare 10000.0 literal is
        // a DECIMAL in SQL text on both engines and would silently
        // type the score column decimal
        expr("cast(-((2 * a + n_bigrams) div (2 * n_bigrams)) as double) / 10000")
          .as("lm_score"))
    docs.select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("lm_score"))
  }

  /** F16's deploy flow: materialize the trained bigram LM as BUCKETED
    * count tables — `<table>_uni (tok, c_uni)` bucketed on `tok`,
    * `<table>_big (prev, cur, c_big)` bucketed on `prev`, and a
    * one-row `<table>_meta (v)` — so arrival-time scoring
    * ([[lmScoreAgainst]], [[graft.streaming.EventStream.streamingLmScore]])
    * never re-counts the training corpus. This is what CCNet actually
    * ships: a FROZEN reference model (their pretrained KenLM) scoring
    * new data, where [[lmScore]] is the train-and-score-in-one-pass
    * flavor. Bucketing both tables on the leading token means a
    * scored batch shuffles ONCE on `prev` and both count joins read
    * co-located buckets (HashPartitioning(prev) satisfies the
    * (prev, cur) join's distribution). */
  def writeLmModel(docs: DataFrame, table: String, path: String,
                   buckets: Int = 64): Unit = {
    val spark = docs.sparkSession
    uniCounts(docs)
      .write.format("parquet").bucketBy(buckets, "tok").sortBy("tok")
      .option("path", s"${path}_uni").mode("overwrite")
      .saveAsTable(s"${table}_uni")
    bigCounts(docBigrams(docs))
      .write.format("parquet").bucketBy(buckets, "prev").sortBy("prev", "cur")
      .option("path", s"${path}_big").mode("overwrite")
      .saveAsTable(s"${table}_big")
    spark.table(s"${table}_uni").agg(count(lit(1)).as("v"))
      .write.format("parquet").option("path", s"${path}_meta")
      .mode("overwrite").saveAsTable(s"${table}_meta")
  }

  /** Score documents against a FROZEN LM model table — identical
    * semantics to [[lmScore]] when the model was trained on the same
    * corpus (spec-pinned), plus the out-of-vocabulary handling a
    * frozen model needs: an unseen bigram backs off to c_big = 0 and
    * an unseen history to c_uni = 0 (p = 1/V — pure smoothing mass),
    * so gibberish arrivals score ln(1/V)-ish instead of erroring.
    * LEFT joins against the count tables keep every batch bigram. */
  def lmScoreAgainst(spark: org.apache.spark.sql.SparkSession,
                     table: String, docs: DataFrame,
                     k: Double = 0.5): DataFrame = {
    val joined = docBigrams(docs)
      .join(spark.table(s"${table}_big").hint("merge"),
        Seq("prev", "cur"), "left")
      .join(spark.table(s"${table}_uni").hint("merge")
        .withColumnRenamed("tok", "prev"), Seq("prev"), "left")
      .crossJoin(broadcast(spark.table(s"${table}_meta")))
      .withColumn("c_big", coalesce(col("c_big"), lit(0L)))
      .withColumn("c_uni", coalesce(col("c_uni"), lit(0L)))
    lmFinalize(joined, k, docs)
  }

  /** F15b: sketched vocabulary — the same statistic via the Apache
    * DataSketches HLL aggregate (`hll_sketch_agg`), the 100 TB shape
    * for distinct-count: per-partition sketches of 2^lgK buckets
    * (constant memory), merged losslessly in the partial-agg combine,
    * one tiny sketch per lang over the wire instead of the distinct
    * pair set. Sketches are also persistable/unionable across corpus
    * shards (`hll_union_agg` — VocabSketchSpec proves shard-merge ≡
    * single-pass, exactly). Relative error ~1.04/√2^lgK ≈ 1.6% at the
    * default lgK=12; the spec gates the estimate against F15 at 5%. */
  def vocabHll(docs: DataFrame, lgK: Int = 12): DataFrame =
    docs.select(col("lang"), explode(tokens(col("text"))).as("tok"))
      .groupBy(col("lang"))
      .agg(hll_sketch_estimate(
        hll_sketch_agg(col("tok"), lit(lgK))).as("vocab_est"))

  /** F22: blocklist filter — C4's "bad words" hygiene stage (Raffel
    * et al. 2020 §2.2 drop any page containing a blocklisted word;
    * Dolma ships the same stage): per-doc count of blocklisted token
    * OCCURRENCES plus the keep flag. Pure scan-fused per-row work
    * (zero shuffle) like F1–F4; the blocklist is a bounded literal in
    * the plan. Emitting the flag rather than filtering keeps the
    * audit trail — the pipeline drops `!keep` rows downstream but can
    * report what it dropped and why. */
  def blocklistFilter(docs: DataFrame, blocklist: Seq[String]): DataFrame = {
    require(blocklist.nonEmpty, "blocklist must not be empty")
    val hits = blocklistHits(blocklist)
    docs.select(col("doc_id"),
      hits.cast("bigint").as("n_blocked"),
      (hits === 0).as("keep"))
  }

  /** F22's occurrence count as a bare expression over `text` — shared
    * with the funnel's blocklist gate (`keep` ⟺ hits = 0) so the
    * catalog entry and the composed stage can't diverge. */
  def blocklistHits(blocklist: Seq[String]): Column =
    coalesce(stopwordHits(tokens(col("text")), blocklist), lit(0))

  /** F24: BM25 top-k retrieval (Robertson & Zaragoza 2009) at the
    * standard k1 = 1.2, b = 0.75 — the ranked-search primitive a
    * curation pipeline uses to pull topical slices out of a crawl
    * ("find the docs most about X, keep/drop them"). Okapi BM25:
    *
    *   score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))
    *   idf(t)   = ln((N − df + 0.5)/(df + 0.5) + 1)      (Lucene form)
    *
    * Two passes, like any BM25 engine: ONE bounded-metadata aggregate
    * collects N, total tokens T, and per-term dfs (a row of |terms|+2
    * longs to the driver — index statistics, the FAISS-centroid
    * posture), then one scan scores and TakeOrderedAndProject takes
    * the global top-k (no single-task window: rank is computed on the
    * k survivors only).
    *
    * Cross-engine exactness (SURVEY §5): idf pre-rounds to a scale-4
    * integer (a 1-ulp ln() wobble cannot move the rounding off a
    * non-boundary value — the mixTemperature argument); the tf weight
    * at k1=1.2, b=0.75 clears denominators into EXACT integer
    * arithmetic (num = 22·tf·T, denom = 10·T·tf + 3·T + 9·dl·N) held
    * in DECIMAL(38,0) so 100 TB-scale T·tf cannot wrap a long, so
    * each term's contribution is one double multiply+divide in pinned
    * order, rounded at 6 dp into DECIMAL; the per-doc score is an
    * exact decimal sum in term order. Ties rank by doc_id. */
  def bm25TopK(docs: DataFrame, terms: Seq[String], k: Int): DataFrame = {
    require(terms.nonEmpty, "bm25TopK needs at least one query term")
    bm25TopKMulti(docs, Seq(("q", terms)), k).head._2
  }

  /** [[bm25TopK]] over SEVERAL term sets at once (r17, guide §2.4 —
    * the r16 verdict's ask #5): N and T are term-set independent and
    * the per-term dfs for the UNION of the sets' terms come out of
    * ONE stats aggregate instead of |sets| eager jobs; each set then
    * ranks through the shared [[bm25Rank]] tail. Per-set results are
    * IDENTICAL to calling [[bm25TopK]] per set (spec-pinned: the df
    * each term reads is the same sum, so the idf rounding and the
    * scoring tail see identical inputs). */
  def bm25TopKMulti(docs: DataFrame, sets: Seq[(String, Seq[String])],
                    k: Int): Seq[(String, DataFrame)] = {
    require(sets.nonEmpty, "bm25TopKMulti needs at least one term set")
    sets.foreach { case (q, ts) =>
      require(ts.nonEmpty, s"bm25TopKMulti: term set '$q' is empty") }
    require(k > 0, s"k=$k must be positive")
    // cached (r16): every call pays an eager stats aggregate AND the
    // ranking scan over the tokenized corpus, and the eval entries
    // rank three term sets over the same docs in one query — the
    // slot tokenizes once instead of 2×sets. This is the
    // SELF-CONTAINED catalog flavor (the deploy path at index scale
    // is bm25TopKFromIndex, which reads frozen artifacts and never
    // tokenizes the corpus), so the cache is bounded by the corpora
    // this flavor is declared for; MEMORY_AND_DISK spills, never OOMs.
    val base = liveCaches("bm25TopK_base", docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .withColumn("dl", coalesce(size(col("toks")), lit(0)).cast("long")))
    val allTerms = sets.flatMap(_._2).distinct
    val statsRow = base.agg(count(lit(1)).as("n"),
      (coalesce(sum(col("dl")), lit(0L)).as("t") +:
        allTerms.map(t => coalesce(
          sum(when(array_contains(col("toks"), t), 1L).otherwise(0L)),
          lit(0L)))): _*).head()
    val n = statsRow.getLong(0)
    val t = statsRow.getLong(1)
    require(t > 0L, "bm25TopK: corpus has no tokens (avgdl undefined)")
    val dfOf: Map[String, Long] = allTerms.zipWithIndex
      .map { case (tm, i) => tm -> statsRow.getLong(2 + i) }.toMap
    sets.map { case (q, ts) =>
      val idf4 = ts.map { tm =>
        val df = dfOf(tm)
        math.round(math.log((n - df + 0.5) / (df + 0.5) + 1.0) * 1e4)
      }
      q -> bm25Rank(base, ts, idf4, n, t, k)
    }
  }

  /** The shared BM25 scoring tail: `base` is `(doc_id, toks, dl)`,
    * `idf4` the scale-4 idf per term (parallel to `terms`), `n`/`t`
    * the corpus stats. One scan + TakeOrderedAndProject — see
    * [[bm25TopK]] for the exact-arithmetic contract. */
  private def bm25Rank(base: DataFrame, terms: Seq[String],
                       idf4: Seq[Long], n: Long, t: Long,
                       k: Int): DataFrame = {
    // cleared-denominator products in DECIMAL(38,0), not LONG: at the
    // 100 TB posture (T ~ 1e13 total tokens) a doc with tf > ~4e4
    // silently wraps 22·tf·T past Long.MaxValue — wrong scores, no
    // guard. Decimal holds 38 digits (22·1e5·1e13 ≈ 2e19 needs 20),
    // and at gate scale every product is ≪ 2^53, so the one
    // double cast at the end is value-identical to the old long path
    // (the oracle mirror is unchanged).
    val D38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val termDec = terms.zip(idf4).map { case (term, i4) =>
      val tf = coalesce(size(filter(col("toks"), x => x === term)), lit(0))
        .cast(D38)
      round((lit(i4).cast("double") / lit(10000.0)) *
          (tf * lit(22L) * lit(t)).cast("double") /
          (tf * lit(10L) * lit(t) + lit(3L * t).cast(D38) +
            col("dl").cast(D38) * lit(9L * n))
            .cast("double"), 6)
        .cast(org.apache.spark.sql.types.DecimalType(20, 6))
    }
    rankScored(base.withColumn("score_dec", termDec.reduce(_ + _)), k)
  }

  /** The shared top-k tail over a `(doc_id, score_dec)` frame: drop
    * zero scores, global top-k via TakeOrderedAndProject, rank the k
    * survivors — [[bm25Rank]] and [[bm25TopKFromIndex]] share it so
    * the two serve paths can't diverge in ordering or rounding. The
    * rank is each survivor's position in their array sorted by
    * (-score, doc_id), i.e. (score desc, doc_id): one aggregate row
    * over ≤ k rows, where a window without a partition would log a
    * WARN on every call. Scores are > 0, so -score orders exactly as
    * score reversed (no signed zero, no NaN) and negates back exactly. */
  private def rankScored(scored: DataFrame, k: Int): DataFrame =
    scored
      .filter(col("score_dec") > 0)
      .select(col("doc_id"), col("score_dec").cast("double").as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
      .agg(sort_array(collect_list(struct((-col("score")).as("neg"),
        col("doc_id")))).as("top"))
      .select(posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("t.doc_id").as("doc_id"), (-col("t.neg")).as("score"),
        (col("pos") + 1).as("rank"))

  /** F24's deploy flow: freeze the corpus' BM25 INDEX as
    * three artifacts —
    *
    *   - `<table>_df (tok, df)` bucketed+sorted on `tok`: per-token
    *     document frequency over the WHOLE vocabulary, so serve-time
    *     queries are not limited to a pre-declared term list;
    *   - `<table>_meta (n, t)`: one row — doc count, total tokens;
    *   - `<table>_post (tok, doc_id, tf, dl)` bucketed+sorted on
    *     `tok` (r11): the INVERTED POSTING LIST — per (token, doc)
    *     term frequency with the doc length denormalized onto the
    *     row, so a serve never joins back to (or scans) the corpus.
    *     Reading a query's terms touches only their buckets
    *     (bucket pruning on the `tok` IN filter) — Σ df(term) rows,
    *     never n docs, the inverted-index contract every production
    *     retrieval stack serves from.
    *
    * The same freeze-the-trained-artifact shape as [[writeLmModel]] /
    * [[writeNbModel]]: the training corpus is scanned once at build
    * time and never again at serve time ([[bm25TopKFromIndex]]). */
  /** Land the F2 quality score as a serve-time FEATURE artifact
    * `(doc_id, q6)` — per-doc scale-6 integers, bucketed+sorted on
    * doc_id so a page-serve's id filter reads ≤ page rows (the
    * feature-store posture [[graft.operators.Retrieval.serveLtr]]
    * consumes: quality is computed ONCE at index time, and the serve
    * never touches the docs table — the F29 r11 contract extended to
    * the rerank features). */
  def writeQualityStats(docs: DataFrame, table: String, path: String,
                        buckets: Int = 64): Unit =
    qualityQ6(docs)
      .write.format("parquet").bucketBy(buckets, "doc_id").sortBy("doc_id")
      .option("path", path).mode("overwrite")
      .saveAsTable(s"${table}_quality")

  /** The ONE projection of the F2 score to its serve-time feature row
    * `(doc_id, q6)` — shared by the frozen artifact above and the
    * streaming delta writer ([[graft.streaming.EventStream
    * .streamingLtrServe]]), so the two spellings cannot drift. */
  def qualityQ6(docs: DataFrame): DataFrame =
    qualityScore(docs)
      .select(col("doc_id"),
        round(col("score") * lit(1000000.0)).cast("long").as("q6"))

  def writeBm25Stats(docs: DataFrame, table: String, path: String,
                     buckets: Int = 64): Unit = {
    // three artifact builds = three scans of the corpus, deliberately
    // UNCACHED here: at index-build scale, persisting the tokenized
    // corpus trades three cheap parallel scans for a cluster-wide
    // spill (contrast appendToBm25Index, whose batches are bounded).
    // The three lands are independent (disjoint tables and dirs off
    // one shared lineage) and run CONCURRENTLY (r16, guide §2.6):
    // sequential, each scan paid its own scheduling + tail latency
    // end-to-end; overlapped, the cluster pipelines the three scans
    val base = bm25DocStats(docs)
    Par.run(Seq(
      () => bm25DfCounts(base)
        .write.format("parquet").bucketBy(buckets, "tok").sortBy("tok")
        .option("path", s"${path}_df").mode("overwrite")
        .saveAsTable(s"${table}_df"),
      () => bm25Meta(base)
        .write.format("parquet").option("path", s"${path}_meta")
        .mode("overwrite").saveAsTable(s"${table}_meta"),
      () => bm25Postings(base)
        .write.format("parquet").bucketBy(buckets, "tok").sortBy("tok")
        .option("path", s"${path}_post").mode("overwrite")
        .saveAsTable(s"${table}_post"))): Unit
  }

  /** `(doc_id, toks, dl)` — the ONE tokenization every BM25 artifact
    * builder shares ([[writeBm25Stats]], [[appendToBm25Index]]): a
    * drifted tokenizer between build and append would make appended
    * postings incomparable with the base index. The three builders
    * below are shared for the same reason — the append path's
    * equality-to-rebuild contract rests on the delta segments being
    * built by the very spellings that built the base artifacts. */
  private def bm25DocStats(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), tokens(col("text")).as("toks"))
      .withColumn("dl", coalesce(size(col("toks")), lit(0)).cast("long"))

  /** Postings: one shuffle on (tok, doc_id); dl rides the groupBy
    * (functionally dependent on doc_id) so serve needs no dl join. */
  private def bm25Postings(base: DataFrame): DataFrame =
    base.select(col("doc_id"), col("dl"), explode(col("toks")).as("tok"))
      .groupBy(col("tok"), col("doc_id"), col("dl"))
      .agg(count(lit(1)).cast("long").as("tf"))
      .select(col("tok"), col("doc_id"), col("tf"), col("dl"))

  private def bm25DfCounts(base: DataFrame): DataFrame =
    base.select(explode(array_distinct(col("toks"))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("df"))

  private def bm25Meta(base: DataFrame): DataFrame =
    base.agg(count(lit(1)).as("n"),
      coalesce(sum(col("dl")), lit(0L)).as("t"))

  /** Token-hash partition count for the DELTA segment layout — a
    * CONSTANT, deliberately not a knob: the serve prunes delta
    * partitions by recomputing each query term's bucket, and a
    * build/serve disagreement on B would prune to the WRONG
    * partitions — silently missing postings, not erroring. */
  private[graft] val Bm25DeltaBuckets = 64L

  private def tableLocation(spark: org.apache.spark.sql.SparkSession,
                            name: String): String =
    spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(name))
      .location.toString

  /** The `<table>_{post,df,meta}` delta-segment dirs live NEXT TO
    * their base artifact (`<location>_delta`); absent until the first
    * append. Explicit schema — a crash-orphaned empty dir must read
    * as zero rows, not fail inference. */
  private def readDelta(spark: org.apache.spark.sql.SparkSession,
                        baseTable: String,
                        schema: String): Option[DataFrame] = {
    import org.apache.hadoop.fs.Path
    val dir = tableLocation(spark, baseTable) + "_delta"
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(p))
      Some(spark.read.schema(schema).parquet(dir))
    else None
  }

  /** The BM25 index family's maintenance-lock sentinel — a sibling
    * of the three `_delta` dirs ([[IndexMaintenance]] contract:
    * [[compactBm25Index]] holds it, [[appendToBm25Index]] refuses
    * while it is held). */
  private def bm25Lock(spark: org.apache.spark.sql.SparkSession,
                       table: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(
      tableLocation(spark, s"${table}_post") + "_delta_maintenance_lock")

  /** Append NEW documents into a frozen BM25 index
    * ([[writeBm25Stats]]'s three artifacts) WITHOUT rebuilding it —
    * the lexical dual of
    * [[graft.operators.Similarity.appendToIvfIndex]] (r11). Each
    * append lands a DELTA SEGMENT next to each base artifact:
    *
    *   - `<post>_delta (tok, doc_id, tf, dl)` partitioned by
    *     `(ingest_batch, pbkt = xxhash64(tok) mod 64)` — the serve
    *     prunes to the query terms' pbkt partitions, so delta reads
    *     stay Σ df(term)-shaped like the bucketed base;
    *   - `<df>_delta (tok, df)`, same partitioning: per-token df
    *     INCREMENTS (serve sums base + deltas per term);
    *   - `<meta>_delta (n, t)` one row per batch (serve sums).
    *
    * Correctness is equality-to-rebuild: df/n/t sums and the
    * postings union reproduce EXACTLY the numbers a full
    * [[writeBm25Stats]] over base ∪ appended would freeze, and BM25
    * arithmetic reads nothing else — so [[bm25TopKFromIndex]] after
    * appends is score-identical to a rebuilt index (spec-pinned, and
    * the text_bm25_incremental catalog entry holds it against the
    * UNSPLIT corpus' DuckDB mirror). Caller contract: appended
    * doc_ids are NEW (a re-sent doc would double-count df mass —
    * same contract as the IVF append's vec_ids).
    *
    * Replay-idempotent: partitions carry `ingest_batch` and writes
    * use dynamic partition overwrite, so a crashed-and-replayed
    * batch REPLACES its own segment (the
    * [[graft.operators.Similarity.appendToIvfIndex]] posture). An
    * empty batch is a no-op — never a schema-less empty dir.
    *
    * Atomicity (r11 ADVICE): the three delta writes cannot be one
    * filesystem transaction, so the META segment is the batch's
    * COMMIT RECORD — written LAST, and [[bm25TopKFromIndex]] /
    * [[compactBm25Index]] ignore any delta batch with no meta row.
    * A crash after the postings/df writes but before the meta write
    * therefore leaves the batch INVISIBLE (its posting rows never
    * fold without their df/n/t mass — the silent score skew this
    * ordering exists to prevent) until the replay completes it;
    * compaction DISCARDS such uncommitted segments, after which the
    * same batch id may safely be replayed in full (a COMMITTED
    * pre-compaction batch must still never be replayed — its rows
    * are already folded into the reserved -1 segment).
    *
    * Scale posture: delta segments accumulate per batch; serve cost
    * grows by the terms' delta-partition rows only (pbkt-pruned).
    * The compaction story is periodic re-index ([[writeBm25Stats]]
    * over the full corpus — the Lucene segment-merge role): deltas
    * are a freshness layer between re-indexes, not an ever-growing
    * primary. */
  def appendToBm25Index(docs: DataFrame, table: String,
                        ingestBatch: Long = 0L): Unit = {
    require(ingestBatch != -1L,
      "ingest_batch -1 is reserved for compacted segments (compactBm25Index)")
    val spark = docs.sparkSession
    // no-concurrent-maintenance contract: see IndexMaintenance
    IndexMaintenance.assertUnlocked(
      bm25Lock(spark, table).getFileSystem(spark.sessionState.newHadoopConf()),
      bm25Lock(spark, table), "appendToBm25Index")
    // batches are bounded by the ingest contract, so the tokenized
    // frame is persisted for the emptiness probe + three delta
    // builds — one tokenization pass, not four (contrast
    // writeBm25Stats, where caching the whole corpus would spill)
    val base = bm25DocStats(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      if (base.isEmpty) return
      val pbkt = pmod(xxhash64(col("tok")), lit(Bm25DeltaBuckets))
      // the batch id as a plan reference, not a literal: every batch
      // reuses the same compiled write stages
      val batchCol = graft.functions.ServeExprs.longParam(spark, ingestBatch)
      // the postings and df segments are independent (disjoint dirs,
      // both off the persisted batch) — overlap them (r16, guide
      // §2.6); the META commit record below still lands strictly
      // AFTER both, so the crash-visibility ordering is unchanged
      Par.run(Seq(
        () => bm25Postings(base)
          .select(col("tok"), col("doc_id"), col("tf"), col("dl"),
            batchCol.as("ingest_batch"), pbkt.as("pbkt"))
          .write.partitionBy("ingest_batch", "pbkt")
          .option("partitionOverwriteMode", "dynamic")
          .mode("overwrite")
          .parquet(tableLocation(spark, s"${table}_post") + "_delta"),
        () => bm25DfCounts(base)
          .select(col("tok"), col("df"),
            batchCol.as("ingest_batch"), pbkt.as("pbkt"))
          .write.partitionBy("ingest_batch", "pbkt")
          .option("partitionOverwriteMode", "dynamic")
          .mode("overwrite")
          .parquet(tableLocation(spark, s"${table}_df") + "_delta")))
      // the batch's COMMIT RECORD — must stay the LAST of the three
      // writes (serve and compaction treat a meta-less batch as
      // uncommitted and skip its postings/df segments)
      bm25Meta(base)
        .select(col("n"), col("t"), batchCol.as("ingest_batch"))
        .write.partitionBy("ingest_batch")
        .option("partitionOverwriteMode", "dynamic")
        .mode("overwrite")
        .parquet(tableLocation(spark, s"${table}_meta") + "_delta")
    } finally base.unpersist()
  }

  /** Compact a BM25 index's delta segments: fold every append
    * batch's partitions into the single reserved `ingest_batch = -1`
    * consolidated segment — one file per pbkt for postings, df
    * increments AGGREGATED per token (N batch rows collapse to one),
    * metas summed to one row. The
    * [[graft.operators.Similarity.compactIvfIndex]] role for the
    * lexical side: after a thousand streaming appends each delta dir
    * holds a thousand batches' small files and the serve's pruned
    * read amplifies; compaction bounds it WITHOUT touching the
    * bucketed base artifacts (which stay in their ideal layout —
    * the heavy compaction remains a full re-index via
    * [[writeBm25Stats]]). Serve results are unchanged: sums are
    * associative, and the serve already folds whatever partitions
    * the delta dirs hold.
    *
    * Same swap discipline and caveats as the IVF compaction: each
    * delta dir is rewritten to `<dir>_compacting`, the old dir moved
    * aside, the new one moved in — run it in a maintenance window,
    * not concurrently with serves or appends. No-overlap is ENFORCED
    * against appends (r12): the whole run holds the index's
    * maintenance-lock sentinel, which [[appendToBm25Index]] checks —
    * see [[IndexMaintenance]]. Uncommitted batches (postings/df
    * segments whose meta commit record never landed — a crashed
    * append) are DISCARDED, not folded: their rows were never
    * serve-visible, and folding them into -1 would make the missing
    * df/n/t mass permanent; the discarded batch id may then be
    * replayed in full. Never replay a
    * pre-compaction batch afterwards: its rows are already folded
    * into -1, and a replay would re-add them as a fresh segment —
    * also why -1 is reserved). A crash between renames is healed on
    * the next call: a missing live dir next to a complete
    * `_compacting` resumes forward, next to only `_old` rolls
    * back. */
  def compactBm25Index(spark: org.apache.spark.sql.SparkSession,
                       table: String): Unit = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(tableLocation(spark, s"${table}_post"))
      .getFileSystem(spark.sessionState.newHadoopConf())
    IndexMaintenance.withLock(fs, bm25Lock(spark, table)) {
    // only COMMITTED batches fold (those whose meta commit record
    // landed — see appendToBm25Index): folding a crash-orphaned
    // partial batch into -1 would make its serve-invisible posting
    // rows permanent with their df/n/t mass missing. -1 itself (a
    // previous compaction's output, produced under this lock from
    // committed batches only) is always committed.
    val committed: Seq[Long] = (readDelta(spark, s"${table}_meta",
        "n long, t long, ingest_batch long")
      .map(_.select(col("ingest_batch")).distinct()
        .collect().map(_.getLong(0)).toSeq)
      .getOrElse(Seq.empty) :+ -1L).distinct
    def compactDir(baseTable: String, schema: String)
                  (fold: DataFrame => DataFrame): Unit = {
      val live = new Path(tableLocation(spark, baseTable) + "_delta")
      val tmp = new Path(s"${live}_compacting")
      val old = new Path(s"${live}_old")
      IndexMaintenance.heal(fs, live, tmp, old)
      if (!fs.exists(live)) return // never appended — nothing to fold
      fold(spark.read.schema(schema).parquet(live.toString)
          .filter(col("ingest_batch").isin(committed: _*))
          .withColumn("ingest_batch", lit(-1L)))
        .write.partitionBy("ingest_batch" +:
          (if (schema.contains("pbkt")) Seq("pbkt") else Nil): _*)
        .mode("overwrite").parquet(tmp.toString)
      IndexMaintenance.swap(fs, live, tmp, old)
    }
    compactDir(s"${table}_post",
      "tok string, doc_id long, tf long, dl long, " +
        "ingest_batch long, pbkt long") {
      // one output file per pbkt partition — the pruned-read layout
      _.repartition(col("pbkt"))
    }
    compactDir(s"${table}_df",
      "tok string, df long, ingest_batch long, pbkt long") {
      _.groupBy(col("tok"), col("pbkt"), col("ingest_batch"))
        .agg(sum(col("df")).as("df"))
        .select(col("tok"), col("df"), col("ingest_batch"), col("pbkt"))
        .repartition(col("pbkt"))
    }
    compactDir(s"${table}_meta", "n long, t long, ingest_batch long") {
      _.groupBy(col("ingest_batch"))
        .agg(sum(col("n")).as("n"), sum(col("t")).as("t"))
        .select(col("n"), col("t"), col("ingest_batch"))
    }
    }
  }

  /** Rank a document batch against FROZEN BM25 stats
    * ([[writeBm25Stats]]) — identical semantics (and identical
    * rounding path, spec-pinned) to [[bm25TopK]] when the stats were
    * built from the same corpus, but the serve pass never touches the
    * training corpus: per-term dfs come from ≤ |terms| bucketed-table
    * rows and `n`/`t` from the one-row meta (bounded metadata — the
    * [[bm25TopK]] statsRow posture, read from artifacts instead of
    * recomputed). A query term the training vocabulary never saw
    * keeps df = 0 — the Lucene idf form stays finite there
    * (ln(2N+...) — maximal rarity), so arrivals CONTAINING the new
    * term still rank instead of erroring. */
  /** F27: reciprocal-rank fusion (Cormack, Clarke & Buettcher 2009)
    * — the standard hybrid-retrieval combiner: fuse a LEXICAL ranking
    * (BM25) with a SEMANTIC ranking (embedding cosine) using RANKS
    * only, score(d) = Σ_lists 1/(kRrf + rank_d). BM25 scores and
    * cosines are incommensurable — RRF never compares them, which is
    * why it needs no calibration and is the default fusion in hybrid
    * search engines. A doc on one list only gets that list's term.
    *
    * Exactness: each term is the scale-6 half-up integer quotient
    * 1e6/(kRrf+r) — the rational sum's 6-dp rounding lands on half
    * boundaries whenever kRrf+r divides 2e6 (r=40 at the default k
    * does), where double rounding is engine-dependent — summed in
    * exact longs, ranked by (score desc, doc_id).
    *
    * Scale shape: inputs are two top-k frames, so everything here is
    * O(k) rows — the single-partition rank window is bounded by
    * construction (≤ 2k candidates), never a corpus sort. The serves
    * fuse collected legs with [[rrfFuseLocal]], the same arithmetic
    * on the driver. */
  def rrfFuse(lex: DataFrame, sem: DataFrame, kRrf: Int = 60,
              topK: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def scored(df: DataFrame): DataFrame =
      df.select(col("doc_id"),
        expr(s"(2 * 1000000 + ($kRrf + rank)) div (2 * ($kRrf + rank))")
          .as("s6"))
    scored(lex).unionByName(scored(sem))
      .groupBy(col("doc_id")).agg(sum(col("s6")).as("s6"))
      .withColumn("rank", row_number().over(
        Window.orderBy(col("s6").desc, col("doc_id"))))
      .filter(col("rank") <= topK)
      .select(col("doc_id"),
        (col("s6").cast("double") / lit(1e6)).as("rrf_score"),
        col("rank").cast("bigint").as("rank"))
  }

  /** [[rrfFuse]] on the driver, for two ranked `(doc_id, rank)` lists
    * already in hand: the same scale-6 term
    * `(2·10⁶ + (kRrf + r)) div (2·(kRrf + r))` per row, summed in exact
    * longs per doc, ranked by (s6 desc, doc_id) and cut at `topK`.
    * Returns `(doc_id, s6)` in rank order; rrfFuse's `rrf_score` is
    * s6 / 1e6 and its `rank` the position. A serve page fuses ≤ 2k
    * rows, so this runs no Spark job. */
  def rrfFuseLocal(lex: Seq[(Long, Long)], sem: Seq[(Long, Long)],
                   kRrf: Int, topK: Int): Seq[(Long, Long)] =
    (lex ++ sem)
      .groupMapReduce(_._1) { case (_, r) =>
        (2L * 1000000L + (kRrf + r)) / (2L * (kRrf + r)) }(_ + _)
      .toSeq.sortBy { case (d, s6) => (-s6, d) }
      .take(topK)

  def bm25TopKAgainst(spark: org.apache.spark.sql.SparkSession,
                      table: String, docs: DataFrame,
                      terms: Seq[String], k: Int): DataFrame = {
    require(terms.nonEmpty, "bm25TopKAgainst needs at least one query term")
    require(k > 0, s"k=$k must be positive")
    // ≤ |terms| rows + one meta row: index statistics to the driver
    val dfs = spark.table(s"${table}_df")
      .filter(col("tok").isin(terms: _*))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val meta = spark.table(s"${table}_meta").head()
    val (n, t) = (meta.getLong(0), meta.getLong(1))
    require(t > 0L, "bm25TopKAgainst: frozen stats have no tokens")
    val idf4 = terms.map { term =>
      val df = dfs.getOrElse(term, 0L)
      math.round(math.log((n - df + 0.5) / (df + 0.5) + 1.0) * 1e4)
    }
    val base = docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .withColumn("dl", coalesce(size(col("toks")), lit(0)).cast("long"))
    bm25Rank(base, terms, idf4, n, t, k)
  }

  /** BM25 top-k served ENTIRELY from the frozen index
    * ([[writeBm25Stats]]'s three artifacts) — the inverted-index
    * serve: score-identical to [[bm25TopK]] over the indexed corpus
    * (same scale-4 idf round, same cleared-denominator DECIMAL
    * arithmetic, same exact decimal sum — decimal addition is exact,
    * so posting-order summation ≡ bm25Rank's term-order reduce), but
    * the serve never reads a document. Work per query:
    *
    *   - ONE bounded-metadata job: the query terms' df rows unioned
    *     with the (n, t) meta row — ≤ |terms| + 1 rows to the driver
    *     (the [[bm25TopKAgainst]] stats read, collapsed from two jobs
    *     to one);
    *   - one posting scan: `tok IN (terms)` bucket-prunes the
    *     `<table>_post` layout, reading Σ df(term) rows — never the
    *     n-doc corpus (the r10 verdict's one serve scale-killer,
    *     removed). No join at all: dl is denormalized on the posting
    *     row. The posting union is coalesced to ONE task, so the
    *     groupBy(doc_id), the top-k and the rank run in it with no
    *     exchange (one job).
    *
    * A term the vocabulary never saw has no posting rows and df = 0 —
    * maximal finite Lucene idf, zero contribution, exactly
    * [[bm25TopK]]'s tf = 0 arithmetic. Duplicate query terms weight
    * their term's (identically-rounded) contribution by multiplicity —
    * the exact sum bm25TopK's per-occurrence term list produces. Docs
    * containing no query term score 0 in both spellings (every BM25
    * term needs tf > 0), so scoring only posting-bearing docs loses
    * nobody.
    *
    * After [[appendToBm25Index]] calls, the serve additionally folds
    * the delta segments — df/meta sums driver-side, delta postings
    * pbkt-partition-pruned into the same union — and remains
    * score-identical to a full rebuild over base ∪ appended (the
    * append's equality-to-rebuild contract). */
  def bm25TopKFromIndex(spark: org.apache.spark.sql.SparkSession,
                        table: String, terms: Seq[String],
                        k: Int): DataFrame = {
    require(terms.nonEmpty, "bm25TopKFromIndex needs at least one query term")
    require(k > 0, s"k=$k must be positive")
    val uniq = terms.distinct
    // the query terms' delta partitions: pbkt recomputed per term as
    // a FOLDABLE expression (pmod(xxhash64(lit), 64) constant-folds),
    // so the delta scans partition-prune exactly like the base
    // tables bucket-prune
    def pbPrune =
      uniq.map(tm => col("pbkt") === pmod(xxhash64(lit(tm)),
        lit(Bm25DeltaBuckets))).reduce(_ || _)
    // one job: per-term dfs + meta rows, base ∪ delta segments,
    // unioned (tok NULL = meta); sums fold driver-side — after
    // appends a term's df is the SUM of its base row and per-batch
    // increments, and (n, t) the sum over base + batch metas
    // `ib` tags each stat row's provenance: -1 for the base
    // artifacts AND the compacted -1 segment (both always
    // committed), the batch id for per-append delta rows. The meta
    // rows' ib set IS the committed-batch set (meta is the append's
    // commit record): df/posting rows from a batch with no meta row
    // are a crash-orphaned partial append — fold them and the score
    // silently skews by the missing df/n/t mass, so they are skipped
    // until the replay completes the batch (r11 ADVICE).
    val dfDelta = readDelta(spark, s"${table}_df",
        "tok string, df long, ingest_batch long, pbkt long")
      .map(_.filter(pbPrune && col("tok").isin(uniq: _*))
        .select(col("tok"), col("df").as("a"),
          lit(null).cast("long").as("b"), col("ingest_batch").as("ib")))
    val metaDelta = readDelta(spark, s"${table}_meta",
        "n long, t long, ingest_batch long")
      .map(_.select(lit(null).cast("string").as("tok"),
        col("n").as("a"), col("t").as("b"), col("ingest_batch").as("ib")))
    val statRows = (Seq(
        spark.table(s"${table}_df")
          .filter(col("tok").isin(uniq: _*))
          .select(col("tok"), col("df").as("a"),
            lit(null).cast("long").as("b"), lit(-1L).as("ib")),
        spark.table(s"${table}_meta")
          .select(lit(null).cast("string").as("tok"),
            col("n").as("a"), col("t").as("b"), lit(-1L).as("ib"))
      ) ++ dfDelta ++ metaDelta)
      .reduce(_.unionByName(_))
      .collect()
    val metas = statRows.filter(_.getString(0) == null)
    val committed = metas.map(_.getLong(3)).toSet + -1L
    val dfs = statRows.filter(r => r.getString(0) != null &&
        committed(r.getLong(3)))
      .groupBy(_.getString(0))
      .map { case (tok, rs) => tok -> rs.map(_.getLong(1)).sum }
    require(metas.nonEmpty, s"bm25TopKFromIndex: ${table}_meta is empty")
    val (n, t) = (metas.map(_.getLong(1)).sum, metas.map(_.getLong(2)).sum)
    require(t > 0L, "bm25TopKFromIndex: frozen stats have no tokens")
    val idf4 = uniq.map { term =>
      val df = dfs.getOrElse(term, 0L)
      term -> math.round(math.log((n - df + 0.5) / (df + 0.5) + 1.0) * 1e4)
    }.toMap
    val mult = terms.groupBy(identity).map { case (tm, o) => tm -> o.size }
    val D38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val idfCol = coalesce(element_at(
      map(uniq.flatMap(tm => Seq(lit(tm), lit(idf4(tm)))): _*),
      col("tok")), lit(0L))
    val multCol = coalesce(element_at(
      map(uniq.flatMap(tm => Seq(lit(tm), lit(mult(tm).toLong))): _*),
      col("tok")), lit(0L))
    // the bm25Rank spelling verbatim, tf from the posting row
    val tfD = col("tf").cast(D38)
    val contrib =
      round((idfCol.cast("double") / lit(10000.0)) *
          (tfD * lit(22L) * lit(t)).cast("double") /
          (tfD * lit(10L) * lit(t) + lit(3L * t).cast(D38) +
            col("dl").cast(D38) * lit(9L * n)).cast("double"), 6)
        .cast(org.apache.spark.sql.types.DecimalType(20, 6))
    // bucket-pruned: Σ df(term) rows
    val postBase = spark.table(s"${table}_post")
      .filter(col("tok").isin(uniq: _*))
      .select(col("tok"), col("doc_id"), col("tf"), col("dl"))
    // delta segments ride the same shape: pbkt partition-pruned to
    // the query terms' buckets, still Σ df(term) rows — appended
    // doc_ids are new by the append contract, so the union is
    // disjoint and the groupBy(doc_id) sum is exactly the rebuilt
    // index's per-doc score
    // ingest_batch is a partition column, so the committed-batch
    // filter (meta-as-commit-record — see the stats read above)
    // partition-prunes uncommitted segments away for free
    val postAll = readDelta(spark, s"${table}_post",
        "tok string, doc_id long, tf long, dl long, " +
          "ingest_batch long, pbkt long")
      .map(d => postBase.unionByName(
        d.filter(pbPrune && col("tok").isin(uniq: _*) &&
            col("ingest_batch").isin(committed.toSeq: _*))
          .select(col("tok"), col("doc_id"), col("tf"), col("dl"))))
      .getOrElse(postBase)
    // one task reads every posting row and sums them: no exchange
    val scored = postAll.coalesce(1)
      .select(col("doc_id"),
        (contrib * multCol.cast(org.apache.spark.sql.types
          .DecimalType(20, 6))).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("score_dec"))
    rankScored(scored, k)
  }

  /** F23: the Gopher quality rules (Rae et al. 2021, Appendix A1.1)
    * — the rule-based document filter MassiveText/Gopher-class preps
    * run alongside the score-based gate (F2), adapted to this
    * engine's tokenizer:
    *
    *   1. word count ∈ [minWords, maxWords];
    *   2. mean word length ∈ [3, 10] chars;
    *   3. ≥ 80% of raw whitespace-words contain an alphabetic char;
    *   4. ≥ 2 stopword hits (the F2 list);
    *   5. duplicate 3-gram fraction ≤ 0.30 (F9's rep_ratio, spelled
    *      verbatim — Gopher bounds several n-gram duplication ratios,
    *      this engine's shingle primitive is the 3-gram);
    *   6. symbol-to-word ratio ≤ 0.10 ('#' chars + '...' runs, the
    *      paper's hash/ellipsis rule).
    *
    * Emits every signal plus the composite `keep` (audit-trail
    * posture, like F22). NULL text fails rule 1 with n_words 0. One
    * codegen'd projection — zero shuffle, scan-fused; every signal
    * has an exact DuckDB mirror (int/int divisions rounded at 6 dp
    * on both engines). */
  def gopherRules(docs: DataFrame, minWords: Long = 50L,
                  maxWords: Long = 100000L): DataFrame = {
    graft.functions.VecExprs.register(docs.sparkSession)
    val toks = tokens(col("text"))
    val rawWords = filter(split(col("text"), "\\s+"), w => length(w) > 0)
    val out = docs
      .select(col("doc_id"), col("text"),
        coalesce(size(toks).cast("bigint"), lit(0L)).as("n_words"),
        // Σ token length without a higher-order aggregate: join-and-
        // measure stays inside codegen
        coalesce(length(array_join(toks, "")), lit(0)).as("tok_chars"),
        coalesce(size(rawWords), lit(0)).as("n_raw"),
        coalesce(size(filter(rawWords, w => w.rlike("[A-Za-z]"))), lit(0))
          .as("n_alpha"),
        coalesce(stopwordHits(toks, stopwords.head._2), lit(0)).as("stop_hits"),
        greatest(size(toks) - 2, lit(0)).cast("bigint").as("total_grams"),
        coalesce(size(call_function("graft_grams3h", toks)), lit(0))
          .cast("bigint").as("distinct_grams"),
        (coalesce(length(col("text")) -
            length(regexp_replace(col("text"), "#", "")), lit(0)) +
          coalesce(regexp_count(col("text"), lit("\\.\\.\\.")), lit(0)))
          .cast("bigint").as("n_symbols"))
      .withColumn("mean_word_len",
        when(col("n_words") > 0,
          round(col("tok_chars").cast("double") / col("n_words"), 6))
          .otherwise(lit(0.0)))
      .withColumn("alpha_ratio",
        when(col("n_raw") > 0,
          round(col("n_alpha").cast("double") / col("n_raw"), 6))
          .otherwise(lit(0.0)))
      .withColumn("rep_ratio",
        when(col("total_grams") > 0,
          round(lit(1.0) - col("distinct_grams").cast("double")
            / col("total_grams"), 6))
          .otherwise(lit(0.0)))
      .withColumn("symbol_ratio",
        when(col("n_words") > 0,
          round(col("n_symbols").cast("double") / col("n_words"), 6))
          .otherwise(lit(0.0)))
    out.select(col("doc_id"), col("n_words"), col("mean_word_len"),
      col("alpha_ratio"), col("stop_hits"), col("rep_ratio"),
      col("symbol_ratio"),
      (col("n_words") >= minWords && col("n_words") <= maxWords &&
        col("mean_word_len") >= 3.0 && col("mean_word_len") <= 10.0 &&
        col("alpha_ratio") >= 0.8 &&
        col("stop_hits") >= 2 &&
        col("rep_ratio") <= 0.3 &&
        col("symbol_ratio") <= 0.1).as("keep"))
  }

  // ── F19: Naive Bayes document classifier ─────────────────────────

  /** F19: the pipeline's QUALITY/DOMAIN CLASSIFIER stage — the role
    * fastText's wiki-vs-CommonCrawl linear model plays in GPT-3/LLaMA
    * data curation (Brown et al. 2020 §A; Touvron et al. 2023 §2) —
    * realized as multinomial Naive Bayes trained on the corpus' own
    * `source` labels and scored per doc: pred = argmax_c [ ln P(c) +
    * Σ_tok m·ln P(tok|c) ] with add-k smoothing, class-name
    * tie-break. Train-and-score in one pass (the frozen-model deploy
    * flavor is [[writeNbModel]]/[[nbScoreAgainst]]).
    *
    * Scale shape mirrors F16's: the class-conditional count table
    * holds ONE row per (tok, class) — a hot token costs its probe
    * rows × |classes|, never a pair blow-up — and per-doc token
    * multiplicities collapse to one weighted row before the join.
    * |classes| is bounded (sources), so the doc×class score frame is
    * |docs|·|classes| rows and the class stats broadcast.
    *
    * Cross-engine exactness (SURVEY §5): each ln rounds to a scale-4
    * INTEGER (per (tok, class) term AND per-class prior), per-doc
    * class scores are exact integer sums, and the argmax compares
    * INTEGERS with a class-name tie-break — no double ever enters a
    * comparison, so the oracle can't half-round differently. */
  def nbClassify(docs: DataFrame, k: Double = 0.5): DataFrame = {
    val dt = trainToks(docs)
    val clsP = nbClassTable(docs, dt)
    val tc = dt.groupBy(col("tok"), col("source")).agg(sum(col("m")).as("c_tc"))
    val metaV = dt.agg(countDistinct(col("tok")).as("v"))
    nbFinalize(dt.select(col("doc_id"), col("tok"), col("m")),
      docs, clsP, tc, metaV, k)
  }

  /** Per-(doc, class-label, token) multiplicities — the training-side
    * explode; `source` rides the explode (functionally dependent on
    * doc_id — no join back to the corpus). */
  private def trainToks(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("source"),
        explode(tokens(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("source"), col("tok"))
      .agg(count(lit(1)).as("m"))

  /** Class table `(source, prior_i, n_toks_c)` — per-class doc count
    * → scale-4-integer ln prior, plus the class token mass the
    * smoothing denominator needs. O(|classes|) rows — broadcast. */
  private def nbClassTable(docs: DataFrame, dt: DataFrame): DataFrame = {
    val nd = docs.agg(count(lit(1)).as("n_docs"))
    docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs_c"))
      .join(dt.groupBy(col("source")).agg(sum(col("m")).as("n_toks_c")),
        Seq("source"), "left")
      .crossJoin(broadcast(nd))
      .select(col("source"),
        round(log(col("n_docs_c").cast("double") / col("n_docs")) * lit(1e4))
          .cast("long").as("prior_i"),
        coalesce(col("n_toks_c"), lit(0L)).as("n_toks_c"))
  }

  /** Shared F19 score tail: per-doc token rows × every class, LEFT
    * join to the (tok, class) counts (an unseen pair backs off to
    * c_tc = 0 — pure smoothing mass, which is also exactly the frozen
    * model's OOV behavior), integer term sums, integer argmax with
    * class-name tie-break. Empty/token-less docs score prior-only and
    * land on the max-prior class. Exchanges: one on (doc_id, tok)
    * (the multiplicity collapse), one on (doc_id, source) (the term
    * sum), one on doc_id (the argmax window over |classes| rows per
    * doc) — all doc-sized, none keyed on a raw skewed column. */
  private def nbFinalize(scoreToks: DataFrame, docs: DataFrame,
                         clsP: DataFrame, tc: DataFrame, metaV: DataFrame,
                         k: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val terms = scoreToks
      .crossJoin(broadcast(clsP.select(col("source"), col("n_toks_c"))))
      .join(tc, Seq("tok", "source"), "left")
      .crossJoin(broadcast(metaV))
      .withColumn("lnp_i",
        round(log((coalesce(col("c_tc"), lit(0L)) + lit(k)) /
          (col("n_toks_c") + lit(k) * col("v"))) * lit(1e4)).cast("long"))
      .groupBy(col("doc_id"), col("source"))
      .agg(sum(col("m") * col("lnp_i")).as("a"), sum(col("m")).as("n"))
    val scores = docs.select(col("doc_id"))
      .crossJoin(broadcast(clsP.select(col("source"), col("prior_i"))))
      .join(terms, Seq("doc_id", "source"), "left")
      .withColumn("score_i", col("prior_i") + coalesce(col("a"), lit(0L)))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score_i").desc, col("source").asc)
    scores.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("doc_id"), col("source").as("pred_source"),
        (col("score_i").cast("double") / lit(1e4)).as("nb_score"),
        coalesce(col("n"), lit(0L)).as("n_toks"))
  }

  /** F19's deploy flow: freeze the trained classifier as tables —
    * `<t>_tok (tok, source, c_tc)` bucketed on `tok` (a scored batch
    * shuffles once on the token and the count join reads co-located
    * buckets), tiny `<t>_cls (source, prior_i, n_toks_c)` and
    * one-row `<t>_meta (v)`. This is what the curation pipelines
    * actually ship: a classifier trained ONCE on labeled reference
    * data scoring every new crawl shard. */
  def writeNbModel(docs: DataFrame, table: String, path: String,
                   buckets: Int = 64): Unit = {
    val dt = trainToks(docs)
    dt.groupBy(col("tok"), col("source")).agg(sum(col("m")).as("c_tc"))
      .write.format("parquet").bucketBy(buckets, "tok").sortBy("tok", "source")
      .option("path", s"${path}_tok").mode("overwrite")
      .saveAsTable(s"${table}_tok")
    nbClassTable(docs, dt)
      .write.format("parquet").option("path", s"${path}_cls")
      .mode("overwrite").saveAsTable(s"${table}_cls")
    dt.agg(countDistinct(col("tok")).as("v"))
      .write.format("parquet").option("path", s"${path}_meta")
      .mode("overwrite").saveAsTable(s"${table}_meta")
  }

  /** Score documents against a FROZEN classifier — identical to
    * [[nbClassify]] when the model was trained on the same corpus
    * (spec-pinned). OOV handling is structural: a token/class pair
    * absent from the count table left-joins to c_tc = 0 (smoothing
    * mass), and a fully-OOV doc scores Σ m·ln(k/(N_c+kV)) + prior —
    * every class evaluated, never an error. */
  def nbScoreAgainst(spark: org.apache.spark.sql.SparkSession,
                     table: String, docs: DataFrame,
                     k: Double = 0.5): DataFrame = {
    val scoreToks = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("m"))
    nbFinalize(scoreToks, docs, spark.table(s"${table}_cls"),
      spark.table(s"${table}_tok").hint("merge"),
      spark.table(s"${table}_meta"), k)
  }
}
