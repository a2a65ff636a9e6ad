package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators._

/** Driver contract: the full operator catalog (SURVEY.md §2), one
  * [[SparkEntry.Query]] record per operator in [[SparkEntry.catalog]]:
  * its Spark plan beside its check — a DuckDB [[SparkEntry.Oracle]]
  * mirror for every SQL-expressible entry, row and recall gates
  * ([[SparkEntry.RowsOnly]]) for the rest (LSH banding, approximate
  * serves, multimodal hashes have no mirror by design). Verify, Bench
  * and Profile iterate the one catalog.
  *
  * Cross-engine exactness rules (SURVEY §5) used throughout:
  *  - money/value sums run in DECIMAL (exact, order-independent),
  *    cast to double only at the end; averages are sum/count with a
  *    single final double division;
  *  - float-accumulation outputs (cosine) are rounded at 6 dp on both
  *    sides before any threshold/rank compare;
  *  - every window/top-k has a deterministic id tie-break;
  *  - both sides key timestamps as epoch-MICROS longs: whatever
  *    physical type the generator gave `events.ts` (nanos-long or
  *    timestamp — it has shipped both), [[Tables.eventTsUs]] floors it
  *    to µs on the Spark side and DuckDB uses `epoch_us`, the highest
  *    resolution both engines hold exactly.
  */
object SparkEntry {

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q1PricingSummary(
      Tables.lineitem(spark, "/root/testdata/sf0.001"))

  // ---- shared wiring helpers -------------------------------------------

  /** events with an epoch-micros time column — µs is the highest
    * resolution BOTH engines hold exactly (DuckDB's `epoch_us(ts)`),
    * so all keys/orderings run on ts_us. [[Tables.eventTsUs]] adapts
    * to the generator's physical ts type (nanos-long vs timestamp). */
  private def evt(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
    e.withColumn("ts_us", Tables.eventTsUs(e))
  }

  /** evt + the 2-dp value mirrored into an exact decimal. */
  private def ev(s: SparkSession, d: String): DataFrame =
    evt(s, d).withColumn("value_dec", col("value").cast("decimal(14,2)"))

  private def bucket15 = Timeseries.bucketEpochSec("ts_us", 900L, 1000000L)

  /** layout_zorder's rectangle: the generator's first event day —
    * present at every sf (epoch-µs of 2024-01-01T00/01). */
  private val ZorderT0 = 1704067200000000L
  private val ZorderT1 = ZorderT0 + 86400L * 1000000L

  /** 15-min resample of one event_type's series, exact decimal sums. */
  private def resampled(s: SparkSession, d: String, eventType: String): DataFrame =
    Timeseries.resample(ev(s, d).filter(col("event_type") === eventType),
      "user_id", bucket15, "value_dec")

  private def docs(s: SparkSession, d: String): DataFrame = Tables.documents(s, d)
  private def emb(s: SparkSession, d: String): DataFrame  = Tables.embeddings(s, d)

  /** The media-dedup gate corpus (D12/D13/D14): documents plus a
    * deterministic replica of every 5th doc re-keyed at +30,000,000
    * (far above the id domain; the offset is ≡ 0 mod 3, so each
    * replica stays in its source's modality stratum, and %5 hits
    * every mod-3 class — images AND audio get planted duplicates).
    * The corpus ships no byte-identical texts, so the exact-media
    * truth sets must plant their own — the DuckDB mirrors apply the
    * identical union in SQL. */
  private def mediaDupDocs(s: SparkSession, d: String): DataFrame = {
    val base = docs(s, d)
    base.unionByName(base.filter(pmod(col("doc_id"), lit(5)) === 0)
      .withColumn("doc_id", col("doc_id") + lit(30000000L)))
  }

  /** The catalog's ANN query-vector predicate — shared with the serve
    * bench so the idx_* numbers can never silently bench a different
    * query set than the ann_* entries and the recall gates. */
  private[graft] val annIsQuery: Column = col("vec_id") % 50 === 0

  /** Temp dirs created by index-building catalog entries
    * (retrieval_serve, ann_ivf_filtered_indexed,
    * text_bm25_incremental), swept by ONE JVM shutdown hook (r10
    * ADVICE: per-invocation dirs used to accumulate in /tmp across
    * verify+bench reps forever). Deletion can't happen inside the
    * entry itself — the returned frame is LAZY and still reads the
    * index when the driver materializes it. A bench run with reps×
    * entries invocations would still hold every copy until exit, so
    * creating a NEW dir for a prefix sweeps all but the TWO most
    * recent dirs (r12 — keep-1 assumed the materialize-before-
    * reinvoke driver contract, which a caller comparing two lazy
    * frames from the same entry breaks): the previous frame stays
    * readable, the bench's disk footprint stays bounded at two
    * copies per entry, and the exit hook sweeps the rest. */
  private val tempIndexDirs =
    new java.util.concurrent.ConcurrentHashMap[String, List[java.nio.file.Path]]()
  private def rmTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmTree))
    f.delete(): Unit
  }
  private lazy val tempSweepHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      tempIndexDirs.values.forEach(_.foreach(p => rmTree(p.toFile)))))
  private def tempIndexDir(prefix: String): String = {
    tempSweepHook
    val p = java.nio.file.Files.createTempDirectory(prefix)
    // keep the TWO most recent dirs per prefix: the previous
    // invocation's lazy frame stays readable even when a caller holds
    // two frames from the same entry side by side (r11 ADVICE — the
    // keep-1 sweep deleted the path under the older frame at action
    // time), while a reps × entries bench run still holds at most
    // two copies per prefix instead of accumulating all of them
    val stale = tempIndexDirs.synchronized {
      val all = p :: tempIndexDirs.getOrDefault(prefix, Nil)
      tempIndexDirs.put(prefix, all.take(2))
      all.drop(2)
    }
    stale.foreach(prev => rmTree(prev.toFile))
    p.toString
  }

  /** F6 mixing rates: downsample dominant en hard, fr lightly, keep
    * 90% of everything else. Thresholds are generated from these by
    * [[Corpus.hexThreshold]] for BOTH engines (see sampleCaseSql). */
  private val SampleRates = Map("en" -> 0.25, "fr" -> 0.5)
  private val SampleDefaultRate = 0.9
  private val PackBudget = 512

  /** F12 split weights, priority order; thresholds derive via
    * cumulative-normalized [[Corpus.hexThreshold]] for BOTH engines
    * (see splitCaseSql). */
  private val SplitWeights = Seq(("train", 0.9), ("val", 0.05), ("test", 0.05))

  /** F13 percentiles — shared so the oracle's quantile_cont calls and
    * the Spark percentile() aggregates stay in lockstep. */
  private val QuantilePs = Seq(0.25, 0.5, 0.75, 0.95)

  /** F21: merges trained for the bpe_train/bpe_encode entries.
    * bpe_encode composes via Bpe.trainCached (trains only on a cold
    * memo); bpe_train ALWAYS re-pays the loop (trainSeedingCache) so
    * its bench number is the training cost by construction — the two
    * run train-first via [[runOrderKey]], making both numbers
    * deterministic. */
  private val BpeMerges = 48

  /** F22: the demo blocklist — tokens that occur in the synthetic
    * corpus, so both branches of the keep flag are exercised. */
  private val BlockWords = Seq("slow", "dup", "spam")

  /** The F14 funnel's blocklist + quality threshold (see the
    * corpus_prep_e2e entry comment for why they differ from the F22
    * demo list / library default). Mirrored into funnelCtes. */
  private val FunnelBlockWords = Seq("spam")
  private val FunnelMinQuality = 0.45

  /** F24's demo query — corpus words spanning a df range ('dup' is
    * rare, the rest common) so idf genuinely ranks. Mirrored into
    * bm25Sql. */
  private val Bm25Terms = Seq("spark", "window", "merge", "dup")

  /** F30d's multi-query eval workload: three term-set queries keyed
    * q1/q2/q3 (q1 = the F24 terms), each judged against ITS OWN
    * relevance set — docs whose total occurrence count of the query's
    * terms ≥ [[GroupedEvalMinCount]]. The threshold was swept so the
    * three reference sizes genuinely DIFFER (15/47/39 at sf0.001,
    * 6/52/44 at sf0.01), every reference is non-empty at every verify
    * sf (the grouped coverage contract), the min(k, n_ref) recall cap
    * engages on both sides of k=20, and no per-query recall pins at
    * 1.0 (BM25's length normalization genuinely diverges from the
    * raw-count truth — a pinned metric would gate nothing). */
  private val GroupedEvalQueries: Seq[(String, Seq[String])] = Seq(
    "q1" -> Seq("spark", "window", "merge", "dup"),
    "q2" -> Seq("join", "hash", "batch", "scan"),
    "q3" -> Seq("stream", "filter", "sort", "query"))
  private val GroupedEvalMinCount = 14

  /** F6b target mixture: rebalance to 40/30/30 en/es/de, excluding the
    * other strata (share 0 → rate 0). Mirrored into SQL by mixCaseSql. */
  private val MixShares = Map("en" -> 0.4, "es" -> 0.3, "de" -> 0.3)

  /** F15 temperature (√n shares — the mT5 default α = 0.3–0.7 band);
    * F16 per-stratum token budget (~half of each verify stratum's
    * ~6k-token stream, so the cap provably engages); F17 exact take
    * (below the ~100-doc stratum size, so the rank cut engages). All
    * three are mirrored literally into the oracle SQL. */
  private val MixAlpha = 0.5
  private val CapBudget = 3000
  private val TakeN = 40

  // ---- DuckDB mirrors ---------------------------------------------------

  /** shared SQL fragments (kept textually identical across queries so
    * the mirrors stay in lockstep with the Spark expressions). */
  private val B = "(epoch_us(ts) // 1000000 // 900) * 900"  // 15-min bucket
  // list_filter drops the [''] that string_split returns on an
  // all-punctuation text — Spark's tokens() yields [] there, and wc=0
  // vs wc=1 would diverge (NaN score vs finite) on such rows
  private val TOKS =
    "list_filter(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '), x -> len(x) > 0)"

  /** 16 hex chars → HUGEINT (DuckDB has no wrapping 64-bit signed
    * arithmetic, so the minhash mirrors run the slot-hash recurrence
    * in non-negative HUGEINT — bit-identical to the Java unsigned
    * arithmetic, see [[graft.functions.VecExprs.MinHashSigMd5]]). */
  private def hex16Hug(col: String): String =
    s"list_sum(list_transform(range(1,17), i -> (strpos('0123456789abcdef', " +
      s"substr($col, CAST(i AS INTEGER), 1)) - 1)::HUGEINT * " +
      "(1::HUGEINT << (4*(16 - CAST(i AS INTEGER))))))"

  /** The md5-derived minhash slot-value CTE chain shared by the D2
    * and D7 mirrors (one definition — the two can't drift): per
    * (doc, slot) the min over the doc's 3-grams of
    * ((h1 + s·h2) mod 2⁶⁴) ÷ 2, where h1/h2 are the two 8-byte halves
    * of md5 of the space-joined gram — the EXACT MinHashSigMd5
    * arithmetic. Docs with < 3 tokens have no grams and drop out,
    * mirroring the Spark-side filter. */
  private lazy val minhashSigCtes: String =
    s"""toks AS (SELECT doc_id, source, $TOKS AS t FROM documents),
       |g AS (SELECT doc_id, source,
       |        unnest(list_transform(range(1, len(t) - 1),
       |          i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS gram
       |      FROM toks WHERE len(t) >= 3),
       |hh AS (SELECT doc_id, source,
       |         ${hex16Hug("substr(md5(gram),1,16)")} AS h1,
       |         ${hex16Hug("substr(md5(gram),17,16)")} AS h2 FROM g),
       |sv AS (SELECT doc_id, source, s,
       |         min(((h1 + s::HUGEINT * h2) % 18446744073709551616::HUGEINT) // 2) AS v
       |       FROM hh CROSS JOIN (SELECT unnest(range(0, 32)) AS s)
       |       GROUP BY doc_id, source, s)""".stripMargin

  /** F16's CTE chain (tokens → doc bigrams → count tables → per-doc
    * exact integer ln-sum `g(doc_id, n_bigrams, a)`) — ONE definition
    * shared by the score mirror and F26's bucket mirror so the two
    * can never drift. DuckDB t[i] is 1-BASED (Spark subscripts are
    * 0-based) and range() is end-exclusive, so i ∈ [2, len] reads
    * (t[i−1], t[i]). Each ln rounds to a scale-4 INTEGER; the mean
    * rounds via floor((2A+n)/(2n)) = half-up(A/n) in exact integer
    * arithmetic — the rational S/n lands on exact half boundaries
    * often (e.g. n=24) where double rounding is engine-dependent. */
  private def lmCtes: String =
    s"""t AS (SELECT doc_id, $TOKS AS t FROM documents),
       |pc AS (
       |  SELECT doc_id, bg.prev AS prev, bg.cur AS cur
       |  FROM (SELECT doc_id, unnest(list_transform(range(2, len(t) + 1),
       |          i -> struct_pack(prev := t[i-1], cur := t[i]))) AS bg
       |        FROM t WHERE len(t) >= 2)),
       |db AS (SELECT doc_id, prev, cur, count(*) AS m
       |       FROM pc GROUP BY 1, 2, 3),
       |big AS (SELECT prev, cur, sum(m) AS c_big FROM db GROUP BY 1, 2),
       |uni AS (SELECT u AS tok, count(*) AS c_uni
       |        FROM (SELECT unnest(t) AS u FROM t) GROUP BY 1),
       |v AS (SELECT count(*) AS v FROM uni),
       |s AS (SELECT doc_id, m,
       |        CAST(round(ln((c_big + 0.5) / (c_uni + 0.5 * v)) * 10000, 0)
       |          AS BIGINT) AS lnp_i
       |      FROM db
       |      JOIN big USING (prev, cur)
       |      JOIN uni ON uni.tok = db.prev
       |      CROSS JOIN v),
       |g AS (SELECT doc_id, CAST(sum(m) AS BIGINT) AS n_bigrams,
       |        CAST(-sum(m * lnp_i) AS BIGINT) AS a
       |      FROM s GROUP BY 1)""".stripMargin
  /** The F14 funnel's shared CTE chain (corpus_prep_e2e +
    * corpus_prep_ledger): every stage copied verbatim from its own
    * hash-green mirror, chained in funnel order. CTE names are the
    * ledger's stage handles — keep them in lockstep with
    * [[graft.operators.Corpus.funnelStages]]. */
  private def funnelCtes: String = {
    val bl = FunnelBlockWords.map(w => s"'$w'").mkString("[", ", ", "]")
    s"""corpus AS (
       |  SELECT doc_id, lang, text FROM documents
       |  WHERE NOT coalesce(doc_id % 97 = 0, FALSE)),
       |lh AS (
       |  SELECT doc_id, lang, text,
       |    coalesce(len(list_filter($TOKS, x -> x IN ('the','a','of','and','to','in','is'))), 0) AS hits_en,
       |    coalesce(len(list_filter($TOKS, x -> x IN ('der','die','das','und','ist','ein'))), 0) AS hits_de,
       |    coalesce(len(list_filter($TOKS, x -> x IN ('el','la','de','que','y','es'))), 0) AS hits_es,
       |    coalesce(len(list_filter($TOKS, x -> x IN ('le','la','les','et','est','un'))), 0) AS hits_fr,
       |    coalesce(len(list_filter($TOKS, x -> x IN ('de','shi','le','bu','wo'))), 0) AS hits_zh
       |  FROM corpus),
       |lk AS (
       |  SELECT doc_id, lang, text FROM lh
       |  WHERE (CASE
       |    WHEN hits_en >= hits_de AND hits_en >= hits_es AND hits_en >= hits_fr AND hits_en >= hits_zh THEN 'en'
       |    WHEN hits_de >= hits_en AND hits_de >= hits_es AND hits_de >= hits_fr AND hits_de >= hits_zh THEN 'de'
       |    WHEN hits_es >= hits_en AND hits_es >= hits_de AND hits_es >= hits_fr AND hits_es >= hits_zh THEN 'es'
       |    WHEN hits_fr >= hits_en AND hits_fr >= hits_de AND hits_fr >= hits_es AND hits_fr >= hits_zh THEN 'fr'
       |    ELSE 'zh' END) = 'en'),
       |qb AS (
       |  SELECT doc_id, lang, text, length(text) AS n_chars_c,
       |    len($TOKS) AS wc,
       |    len(list_filter($TOKS,
       |        x -> x IN ('the','a','of','and','to','in','is'))) AS stop_hits,
       |    length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS digit_chars,
       |    length(text) - length(regexp_replace(text, '[.!?,;:]', '', 'g')) AS punct_chars
       |  FROM lk),
       |qk AS (
       |  SELECT doc_id, lang, text FROM qb
       |  WHERE (CASE WHEN wc > 0 AND n_chars_c > 0 THEN
       |           0.3 * least(1.0, wc / 120.0) +
       |           0.3 * (stop_hits / wc) +
       |           0.2 * (1.0 - digit_chars / n_chars_c) +
       |           0.2 * (1.0 - punct_chars / n_chars_c)
       |         ELSE 0.0 END) >= $FunnelMinQuality),
       |bk AS (
       |  SELECT doc_id, lang, text FROM qk
       |  WHERE coalesce(len(list_filter($TOKS, x -> list_contains($bl, x))), 0) = 0),
       |p1 AS (
       |  SELECT doc_id, lang,
       |         regexp_replace(text,
       |           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
       |           '[EMAIL]', 'g') AS t1
       |  FROM bk),
       |p2 AS (
       |  SELECT doc_id, lang,
       |         regexp_replace(t1, '\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b',
       |           '[IP]', 'g') AS t2
       |  FROM p1),
       |pk AS (
       |  SELECT doc_id, lang,
       |         regexp_replace(t2, '\\+?[0-9][0-9()\\- ]{6,}[0-9]',
       |           '[PHONE]', 'g') AS text
       |  FROM p2),
       |ek AS (
       |  SELECT doc_id, lang, text FROM (
       |    SELECT doc_id, lang, text,
       |      row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
       |    FROM pk) WHERE rn = 1),
       |g0 AS (
       |  SELECT DISTINCT doc_id,
       |    unnest(list_transform(range(1, len(t) - 1),
       |           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS gram
       |  FROM (SELECT doc_id, $TOKS AS t FROM ek)),
       |dfs AS (SELECT gram, count(*) AS df FROM g0 GROUP BY 1),
       |g AS (SELECT g0.doc_id, g0.gram
       |      FROM g0 JOIN dfs USING (gram) WHERE df <= 10000),
       |sizes AS (SELECT doc_id, count(*) AS n FROM g GROUP BY 1),
       |inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
       |  FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |dups AS (
       |  SELECT DISTINCT doc_b FROM inter
       |  JOIN sizes sa ON sa.doc_id = doc_a
       |  JOIN sizes sb ON sb.doc_id = doc_b
       |  WHERE inter / (sa.n + sb.n - inter) >= 0.5),
       |surv AS (
       |  SELECT doc_id, lang, text FROM ek d
       |  WHERE NOT EXISTS (SELECT 1 FROM dups WHERE dups.doc_b = d.doc_id)),
       |bg AS (
       |  SELECT DISTINCT doc_id AS bench_id,
       |    unnest(list_transform(range(1, len(t) - 1),
       |           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS gram
       |  FROM (SELECT doc_id, $TOKS AS t FROM documents
       |        WHERE coalesce(doc_id % 97 = 0, FALSE))),
       |cg AS (
       |  SELECT DISTINCT doc_id,
       |    unnest(list_transform(range(1, len(t) - 1),
       |           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS gram
       |  FROM (SELECT doc_id, $TOKS AS t FROM surv)),
       |contam AS (
       |  SELECT DISTINCT doc_id FROM (
       |    SELECT cg.doc_id, bg.bench_id FROM cg JOIN bg USING (gram)
       |    GROUP BY 1, 2 HAVING count(*) >= 3)),
       |clean AS (
       |  SELECT s.doc_id, s.lang, s.text FROM surv s
       |  WHERE NOT EXISTS (SELECT 1 FROM contam WHERE contam.doc_id = s.doc_id)),
       |packt AS (
       |  SELECT doc_id, lang, CAST(len($TOKS) AS BIGINT) AS ws_tokens
       |  FROM clean),
       |packc AS (
       |  SELECT doc_id, lang, ws_tokens,
       |    CAST(coalesce(sum(ws_tokens) OVER (
       |      PARTITION BY lang ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |      AS tok_offset
       |  FROM packt)""".stripMargin
  }

  /** F24's mirror, generated from the SAME terms list: per-term df →
    * scale-4 idf (ln here vs Math.log on the Spark driver — a 1-ulp
    * wobble cannot move the ·1e4 rounding off a non-boundary value),
    * exact-integer tf weight at k1=1.2/b=0.75 (22·tf·T over
    * 10·T·tf + 3·T + 9·dl·N), one double multiply+divide in pinned
    * order, 6-dp round into DECIMAL, exact decimal sum in term
    * order. */
  /** The shared tokenized-docs + corpus-stats CTEs (d, s) every BM25
    * chain scores against. */
  private def bm25DocsCtes: String =
    s"""d AS (
       |  SELECT doc_id, $TOKS AS toks,
       |    CAST(coalesce(len($TOKS), 0) AS BIGINT) AS dl
       |  FROM documents),
       |s AS (SELECT count(*) AS n, coalesce(sum(dl), 0) AS t FROM d)""".stripMargin

  /** One BM25 scoring chain (idf CTEs + scored$sfx + topk$sfx) for a
    * term set, over the shared d/s CTEs — parameterized (r13) so the
    * grouped-eval mirror can run one chain per query without the
    * three copies drifting from the F24 spelling. */
  private def bm25ChainFor(terms: Seq[String], sfx: String): String = {
    val dfCtes = terms.zipWithIndex.map { case (term, i) =>
      s"""i$sfx$i AS (
         |  SELECT CAST(round(ln((s.n - df.df + 0.5) / (df.df + 0.5) + 1.0)
         |                    * 10000, 0) AS BIGINT) AS i4
         |  FROM s, (SELECT count(*) AS df FROM d
         |           WHERE list_contains(toks, '$term')) df)""".stripMargin
    }.mkString(",\n")
    val termSum = terms.zipWithIndex.map { case (term, i) =>
      s"""CAST(round((CAST((SELECT i4 FROM i$sfx$i) AS DOUBLE) / 10000.0) *
         |  CAST(coalesce(len(list_filter(toks, x -> x = '$term')), 0)
         |       * 22 * (SELECT t FROM s) AS DOUBLE) /
         |  CAST(coalesce(len(list_filter(toks, x -> x = '$term')), 0)
         |       * 10 * (SELECT t FROM s)
         |       + 3 * (SELECT t FROM s)
         |       + dl * 9 * (SELECT n FROM s) AS DOUBLE), 6)
         |  AS DECIMAL(20,6))""".stripMargin
    }.mkString(" +\n")
    s"""$dfCtes,
       |scored$sfx AS (
       |  SELECT doc_id, $termSum AS score_dec, dl FROM d),
       |topk$sfx AS (
       |  SELECT doc_id, CAST(score_dec AS DOUBLE) AS score
       |  FROM scored$sfx WHERE score_dec > 0
       |  ORDER BY score DESC, doc_id LIMIT 20)""".stripMargin
  }

  /** The F24 CTE chain through `topk` — ONE definition shared by the
    * BM25 mirror and F27's fusion mirror (the lmCtes pattern: the two
    * can never drift). */
  private def bm25Ctes: String =
    s"""$bm25DocsCtes,
       |${bm25ChainFor(Bm25Terms, "")}""".stripMargin

  private def bm25Sql: String =
    s"""WITH $bm25Ctes
       |SELECT doc_id, score,
       |  row_number() OVER (ORDER BY score DESC, doc_id) AS rank
       |FROM topk""".stripMargin

  /** DuckDB mirror of Timeseries.tmsEnc — the injective
    * `v<len>:<chars>` / `n:` tuple encoding behind tms_id. Edit in
    * lockstep with the Spark expression. */
  private def tmsEncSql(e: String): String =
    s"(CASE WHEN CAST($e AS VARCHAR) IS NULL THEN 'n:' " +
      s"ELSE 'v' || length(CAST($e AS VARCHAR)) || ':' || CAST($e AS VARCHAR) END)"

  /** F12 split assignment as a CASE over cumulative thresholds,
    * generated from the SAME weights + hexThreshold the Spark side
    * uses — byte-identical literals on both engines. */
  private def splitCaseSql: String = {
    val total = SplitWeights.map(_._2).sum
    val cum = SplitWeights.scanLeft(0.0) {
      case (acc, (_, w)) => acc + w / total }.tail
    val coin =
      "substr(md5(coalesce(CAST(doc_id AS VARCHAR), '') || ':split'), 1, 8)"
    "CASE " + SplitWeights.zip(cum).dropRight(1).map { case ((name, _), c) =>
      s"WHEN $coin < '${Corpus.hexThreshold(c)}' THEN '$name'"
    }.mkString(" ") + s" ELSE '${SplitWeights.last._1}' END"
  }

  /** F6 per-stratum thresholds as a CASE, generated from the SAME
    * rate map + hexThreshold the Spark side uses — the two engines
    * compare the md5 coin against byte-identical literals. */
  private def sampleCaseSql: String =
    "CASE coalesce(lang, '') " +
      SampleRates.map { case (l, r) =>
        s"WHEN '$l' THEN '${Corpus.hexThreshold(r)}'" }.mkString(" ") +
      s" ELSE '${Corpus.hexThreshold(SampleDefaultRate)}' END"

  /** F6b target shares as a CASE over the SAME map the Spark wiring
    * uses (cast to DOUBLE — DuckDB numeric literals are DECIMAL). */
  private def mixCaseSql: String =
    "CAST(CASE lang " +
      MixShares.map { case (l, w) => s"WHEN '$l' THEN $w" }.mkString(" ") +
      " ELSE 0.0 END AS DOUBLE)"

  private val LAT = "6.0 + (user_id % 10) * 0.25"
  private val LON = "79.0 + ((user_id // 10) % 15) * 0.25"

  /** DuckDB mirror of Timeseries.pyFloatKey — Python's
    * `str(float('%.6f' % v))` incl. the scientific branch below 1e-4.
    * Edit in lockstep with the Spark expression. */
  private def pyKeySql(e: String): String = {
    val s = s"printf('%.6f', $e)"
    val a = s"regexp_replace($s, '^-', '')"
    val micro = s"CAST(substr($a, 3, 6) AS INTEGER)"
    val sign = s"(CASE WHEN substr($s, 1, 1) = '-' THEN '-' ELSE '' END)"
    val pos = s"regexp_replace(regexp_replace($s, '0+$$', ''), '\\.$$', '.0')"
    s"""(CASE WHEN substr($a, 1, 6) = '0.0000' AND $micro > 0
       | THEN $sign || (CASE WHEN $micro >= 10
       |   THEN CAST($micro // 10 AS VARCHAR) ||
       |        (CASE WHEN $micro % 10 = 0 THEN ''
       |              ELSE '.' || CAST($micro % 10 AS VARCHAR) END) || 'e-05'
       |   ELSE CAST($micro AS VARCHAR) || 'e-06' END)
       | ELSE $pos END)""".stripMargin.linesIterator.mkString(" ")
  }
  private val EP  = "CAST(l_extendedprice AS DECIMAL(12,2))"
  private val DISC1 = "(CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))"
  private val TAX1  = "(CAST(1 AS DECIMAL(6,4)) + CAST(l_tax AS DECIMAL(6,4)))"
  private val COS =
    "list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))"

  /** F21 mirror machinery (r10): SEQUENTIAL Sennrich BPE training
    * unrolled into k materialized CTE rounds — possible because the
    * catalog trains in `strict` mode, which is PROVABLY equal to
    * sequential argmax (the selectBatch soundness argument,
    * property-spec'd against literal sequential training), so the
    * sequential mirror is the ground truth for the batched engine.
    *
    * Representation: each vocab word is a symbol string with a
    * DOUBLE-space separator and single-space borders
    * (' l  o  w  </w> '). One plain (non-regex) replace of
    * ' l  r ' → ' lr ' is then EXACTLY the greedy left-to-right
    * non-overlapping merge pass: the single-space borders make every
    * match a whole-symbol match, and consuming the shared border
    * space is what stops overlapping re-matches — while the double
    * separators keep ADJACENT disjoint occurrences matchable
    * ('a b a b' merges both pairs, which a single-space encoding
    * would miss; found in the prototype). Pair counts are OVERLAPPING
    * adjacent pairs (list_zip of the symbol array with its own tail —
    * the pairCounts spelling), argmax ties on (count desc, l, r). */
  private def bpeRoundCtes(k: Int): String =
    (1 to k).map { i =>
      val prev = s"v${i - 1}"
      s"""pc$i AS MATERIALIZED (
         |  SELECT p[1] AS l, p[2] AS r, sum(cnt) AS c FROM (
         |    SELECT cnt, unnest(list_zip(sy[1:len(sy)-1], sy[2:len(sy)])) AS p
         |    FROM (SELECT cnt, string_split(trim(s), '  ') AS sy FROM $prev)
         |    WHERE len(sy) >= 2) GROUP BY 1, 2),
         |m$i AS MATERIALIZED (SELECT l, r, c FROM pc$i ORDER BY c DESC, l, r LIMIT 1),
         |v$i AS MATERIALIZED (
         |  SELECT word, cnt, replace(s,
         |    ' ' || (SELECT l FROM m$i) || '  ' || (SELECT r FROM m$i) || ' ',
         |    ' ' || (SELECT l FROM m$i) || (SELECT r FROM m$i) || ' ') AS s
         |  FROM $prev)""".stripMargin
    }.mkString(",\n")

  /** The shared head of both BPE mirrors: tokenized docs, the
    * distinct-word table, and the double-space symbol encoding. */
  private def bpeBaseCtes: String =
    s"""dt AS (SELECT doc_id, $TOKS AS t FROM documents),
       |w AS (SELECT word, count(*) AS cnt
       |      FROM (SELECT unnest(t) AS word FROM dt) GROUP BY 1),
       |v0 AS MATERIALIZED (
       |  SELECT word, cnt,
       |    ' ' || regexp_replace(word, '(.)', '\\1  ', 'g') || '</w> ' AS s
       |  FROM w)""".stripMargin

  private def bpeTrainSql(k: Int): String = {
    val unions = (1 to k).map(i =>
      s"""SELECT CAST($i AS BIGINT) AS rank, l AS "left", r AS "right",
         |       l || r AS merged, CAST(c AS BIGINT) AS pair_count FROM m$i"""
        .stripMargin).mkString("\n  UNION ALL\n  ")
    s"""WITH $bpeBaseCtes,
       |${bpeRoundCtes(k)}
       |SELECT * FROM ($unions)""".stripMargin
  }

  /** bpe_encode's mirror rides the SAME chain: the catalog encodes
    * the training corpus itself, and rank-order greedy encoding of a
    * training-vocab word reproduces exactly the training rewrites —
    * so the final round's symbol strings ARE the encodings, and
    * per-doc piece counts are occurrence-weighted sums over them.
    * Token-less docs keep their (0, 0) row via the left join. */
  private def bpeEncodeSql(k: Int): String =
    s"""WITH $bpeBaseCtes,
       |${bpeRoundCtes(k)},
       |pieces AS (SELECT word, len(string_split(trim(s), '  ')) AS np FROM v$k),
       |dw AS (SELECT doc_id, unnest(t) AS word FROM dt),
       |agg AS (SELECT doc_id, sum(np) AS n_pieces
       |        FROM dw JOIN pieces USING (word) GROUP BY 1)
       |SELECT d.doc_id, CAST(coalesce(len(t), 0) AS BIGINT) AS n_toks,
       |       CAST(coalesce(agg.n_pieces, 0) AS BIGINT) AS n_pieces
       |FROM dt d LEFT JOIN agg USING (doc_id)""".stripMargin

  /** F29 mirror generator: the WHOLE composed serve unrolled — the
    * bm25Ctes lexical ranks, E1's cosine semantic ranks (the serve's
    * nlist = nprobe = 8 probing is exhaustive, hence ≡ exact at any
    * sf), the F27 integer RRF fusion over the full fused page, then
    * the F28 greedy MATERIALIZED-CTE chain with the RRF s6 as rel_u.
    * One deviation from mmrSql: the per-step max-sim subquery wraps in
    * coalesce(…, 0) — a fused doc with no (non-zero) vector has no
    * sim rows, and the penalty is the max over EXISTING sim rows,
    * 0 only when there are none. Since r11 the Spark greedy spells
    * this identically (missing pairs are SKIPPED in the max, not
    * injected as 0 — the r10 ADVICE corner where all known sims are
    * negative now agrees bit-for-bit; mmrSql's cosine candidates
    * always have vectors, so it never needs the guard). rrf_score
    * joins back from the fused frame (= rel_u/1e6 on the Spark side —
    * same s6 integer). */
  private def serveSql(kOut: Int, lamN: Long, lamD: Long): String = {
    val steps = (2 to kOut).map { i =>
      s"""p$i AS MATERIALIZED (
         |  SELECT r.n_id,
         |    $lamN * r.rel_u - ${lamD - lamN} * coalesce((
         |      SELECT max(s.sim_u) FROM simfull s
         |      WHERE s.a_id = r.n_id
         |        AND s.b_id IN (SELECT n_id FROM sel${i - 1})), 0) AS num
         |  FROM rel r WHERE r.n_id NOT IN (SELECT n_id FROM sel${i - 1})
         |  ORDER BY num DESC, r.n_id LIMIT 1),
         |sel$i AS MATERIALIZED (SELECT n_id FROM sel${i - 1} UNION ALL SELECT n_id FROM p$i)"""
        .stripMargin
    }.mkString(",\n")
    val unions = (1 to kOut)
      .map(i => s"SELECT n_id, num, $i AS rank FROM p$i")
      .mkString("\n  UNION ALL\n  ")
    s"""WITH $bm25Ctes,
       |lex AS (SELECT doc_id,
       |          row_number() OVER (ORDER BY score DESC, doc_id) AS rank
       |        FROM topk),
       |em AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |      WHERE list_dot_product(CAST(embedding AS DOUBLE[]),
       |                             CAST(embedding AS DOUBLE[])) > 0),
       |sem AS (SELECT doc_id, rank FROM (
       |    SELECT a.vec_id AS doc_id,
       |           row_number() OVER (ORDER BY round($COS, 6) DESC, a.vec_id) AS rank
       |    FROM em a JOIN em b ON b.vec_id = 0 AND a.vec_id <> 0)
       |  WHERE rank <= 20),
       |u AS (SELECT doc_id,
       |        (2 * 1000000 + (60 + rank)) // (2 * (60 + rank)) AS s6 FROM lex
       |      UNION ALL
       |      SELECT doc_id,
       |        (2 * 1000000 + (60 + rank)) // (2 * (60 + rank)) AS s6 FROM sem),
       |f AS MATERIALIZED (SELECT doc_id, CAST(sum(s6) AS BIGINT) AS s6 FROM u GROUP BY 1),
       |rel AS MATERIALIZED (SELECT doc_id AS n_id, s6 AS rel_u FROM f),
       |cem AS MATERIALIZED (SELECT f.doc_id AS n_id, em.v FROM f JOIN em ON em.vec_id = f.doc_id),
       |sim AS MATERIALIZED (
       |  SELECT a.n_id AS a_id, b.n_id AS b_id,
       |         CAST(round(round($COS, 6) * 1e6, 0) AS BIGINT) AS sim_u
       |  FROM cem a JOIN cem b ON a.n_id < b.n_id),
       |simfull AS MATERIALIZED (SELECT a_id, b_id, sim_u FROM sim
       |            UNION ALL SELECT b_id, a_id, sim_u FROM sim),
       |p1 AS MATERIALIZED (SELECT r.n_id, $lamN * r.rel_u AS num FROM rel r
       |       ORDER BY num DESC, r.n_id LIMIT 1),
       |sel1 AS MATERIALIZED (SELECT n_id FROM p1),
       |$steps
       |SELECT CAST(0 AS BIGINT) AS q_id, pk.n_id AS doc_id,
       |       CAST(f.s6 AS DOUBLE) / 1e6 AS rrf_score,
       |       CAST(pk.num AS DOUBLE) / ${lamD * 1000000L}.0 AS mmr_score,
       |       CAST(pk.rank AS BIGINT) AS rank
       |FROM ($unions) pk JOIN f ON f.doc_id = pk.n_id""".stripMargin
  }

  /** Exact cosine top-5 ground truth — E1's oracle, shared verbatim by
    * the exhaustive IVF/IVFPQ rows (their exactness invariants say
    * they must equal it). `queryPred` restricts the query side: E1's
    * %50 sample, or every vector for E10's k-NN graph. */
  private def annExactTopkSql(queryPred: String = "b.vec_id % 50 = 0 AND "): String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |           WHERE list_dot_product(CAST(embedding AS DOUBLE[]),
       |                                  CAST(embedding AS DOUBLE[])) > 0)
       |SELECT * FROM (
       |  SELECT b.vec_id AS q_id, a.vec_id AS n_id, round($COS, 6) AS cos_sim,
       |         row_number() OVER (
       |           PARTITION BY b.vec_id ORDER BY round($COS, 6) DESC, a.vec_id) AS rank
       |  FROM e a JOIN e b ON ${queryPred}a.vec_id <> b.vec_id)
       |WHERE rank <= 5""".stripMargin

  /** E13's mirror: the same integral PageRank recurrence unrolled
    * into `iters` chained CTE rounds over the exact k-NN graph (the
    * knn_components `g` spelling) — no recursive CTE (aggregates in
    * the recursive term are engine-dependent SQL), floor division on
    * non-negative BIGINTs throughout (DuckDB `//` ≡ Spark `div`
    * there), DuckDB's HUGEINT sums CAST back to BIGINT each round. */
  /** The F2 quality score as a scale-6 CTE pair (`qb` features, `qs`
    * (doc_id, q6)) — ONE spelling shared by every mirror that joins
    * quality as a feature (F31 curriculum, F32 ltr rerank), so a
    * future F2 weight/stop-list tweak cannot drift one of them
    * silently (the bm25Ctes/pagerankCtes rationale). */
  private def qualityQ6Ctes: String =
    s"""qb AS (
       |  SELECT doc_id, length(text) AS n_chars_c,
       |    len($TOKS) AS wc,
       |    len(list_filter($TOKS,
       |        x -> x IN ('the','a','of','and','to','in','is'))) AS stop_hits,
       |    length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS digit_chars,
       |    length(text) - length(regexp_replace(text, '[.!?,;:]', '', 'g')) AS punct_chars
       |  FROM documents),
       |qs AS (
       |  SELECT doc_id, CAST(round((CASE WHEN wc > 0 AND n_chars_c > 0 THEN
       |    0.3 * least(1.0, wc / 120.0) +
       |    0.3 * (stop_hits / wc) +
       |    0.2 * (1.0 - digit_chars / n_chars_c) +
       |    0.2 * (1.0 - punct_chars / n_chars_c)
       |  ELSE 0.0 END) * 1000000, 0) AS BIGINT) AS q6 FROM qb)""".stripMargin

  /** The D8 transitive-closure labeling as a CTE chain ending in
    * `lab (doc_id, cluster_id, cluster_size)` — ONE spelling shared
    * by the dedup_cluster and dedup_profile mirrors (the
    * bm25Ctes/pagerankCtes rationale). Callers prepend
    * `WITH RECURSIVE`. */
  private def clusterLabCtes: String =
    s"""toks AS (SELECT doc_id, $TOKS AS t FROM documents),
       |g AS (
       |  SELECT DISTINCT doc_id,
       |    unnest(list_transform(range(1, len(t) - 1),
       |           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS gram
       |  FROM toks),
       |sizes AS (SELECT doc_id, count(*) AS n FROM g GROUP BY 1),
       |inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
       |  FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |pairs AS (
       |  SELECT doc_a, doc_b FROM inter
       |  JOIN sizes sa ON sa.doc_id = doc_a
       |  JOIN sizes sb ON sb.doc_id = doc_b
       |  WHERE inter / (sa.n + sb.n - inter) >= 0.2),
       |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
       |          UNION ALL SELECT doc_b, doc_a FROM pairs),
       |walk(node, lbl) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.dst, w.lbl FROM walk w JOIN edges e ON e.src = w.node),
       |comp AS (SELECT node AS doc_id, min(lbl) AS cluster_id
       |         FROM walk GROUP BY 1),
       |lab AS (
       |  SELECT d.doc_id,
       |         coalesce(c.cluster_id, d.doc_id) AS cluster_id,
       |         CASE WHEN c.cluster_id IS NULL THEN 1
       |              ELSE count(*) OVER (PARTITION BY c.cluster_id) END
       |           AS cluster_size
       |  FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id)""".stripMargin

  private def pagerankCtes(k: Int, iters: Int,
                           dampN: Long, dampD: Long): String = {
    val base = (dampD - dampN) * 1000000L / dampD
    val rounds = (1 to iters).map { i =>
      s"""r$i AS (
         |  SELECT n.vec_id,
         |         CAST($base + ($dampN * coalesce(s.acc, 0)) // $dampD
         |              AS BIGINT) AS pr6
         |  FROM n LEFT JOIN (
         |    SELECT ed.n_id AS vid, sum(r.pr6 // ed.deg) AS acc
         |    FROM ed JOIN r${i - 1} r ON r.vec_id = ed.q_id
         |    GROUP BY 1) s ON s.vid = n.vec_id)""".stripMargin
    }.mkString(",\n")
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |           WHERE list_dot_product(CAST(embedding AS DOUBLE[]),
       |                                  CAST(embedding AS DOUBLE[])) > 0),
       |g AS (
       |  SELECT q_id, n_id FROM (
       |    SELECT b.vec_id AS q_id, a.vec_id AS n_id,
       |           row_number() OVER (
       |             PARTITION BY b.vec_id
       |             ORDER BY round($COS, 6) DESC, a.vec_id) AS rank
       |    FROM e a JOIN e b ON a.vec_id <> b.vec_id)
       |  WHERE rank <= $k),
       |ed AS (SELECT q_id, n_id,
       |              count(*) OVER (PARTITION BY q_id) AS deg FROM g),
       |n AS (SELECT vec_id FROM embeddings),
       |r0 AS (SELECT vec_id, CAST(1000000 AS BIGINT) AS pr6 FROM n),
       |$rounds""".stripMargin
  }

  private def pagerankSql(k: Int, iters: Int,
                          dampN: Long, dampD: Long): String =
    s"""WITH ${pagerankCtes(k, iters, dampN, dampD)}
       |SELECT vec_id, CAST(pr6 AS DOUBLE) / 1e6 AS pagerank FROM r$iters"""
      .stripMargin

  /** F28's mirror: the SAME greedy MMR selection unrolled into `kOut`
    * chained CTE steps (p_i = integer argmax over the remaining
    * candidates, sel_i = the selected set so far) — no recursive CTE,
    * so every engine executes it deterministically. All comparisons
    * are on exact BIGINTs (`lamN·rel_u − (lamD−lamN)·maxSim_u`), the
    * one double is the final reported score. */
  private def mmrSql(kCand: Int, kOut: Int, lamN: Long, lamD: Long): String = {
    val steps = (2 to kOut).map { i =>
      s"""p$i AS MATERIALIZED (
         |  SELECT r.n_id,
         |    $lamN * r.rel_u - ${lamD - lamN} * (
         |      SELECT max(s.sim_u) FROM simfull s
         |      WHERE s.a_id = r.n_id
         |        AND s.b_id IN (SELECT n_id FROM sel${i - 1})) AS num
         |  FROM rel r WHERE r.n_id NOT IN (SELECT n_id FROM sel${i - 1})
         |  ORDER BY num DESC, r.n_id LIMIT 1),
         |sel$i AS MATERIALIZED (SELECT n_id FROM sel${i - 1} UNION ALL SELECT n_id FROM p$i)"""
        .stripMargin
    }.mkString(",\n")
    val unions = (1 to kOut)
      .map(i => s"SELECT n_id, num, $i AS rank FROM p$i")
      .mkString("\n  UNION ALL\n  ")
    // every CTE is MATERIALIZED: the chained steps reference their
    // predecessors twice each, and an engine that inlines CTEs would
    // expand the plan EXPONENTIALLY in kOut (found as an fd-exhaustion
    // crash at kOut=10 before the hint)
    s"""WITH em AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |            WHERE list_dot_product(CAST(embedding AS DOUBLE[]),
       |                                   CAST(embedding AS DOUBLE[])) > 0),
       |cand AS MATERIALIZED (
       |  SELECT a.vec_id AS n_id, round($COS, 6) AS cos_sim,
       |         row_number() OVER (
       |           ORDER BY round($COS, 6) DESC, a.vec_id) AS rank
       |  FROM em a JOIN em b ON b.vec_id = 0 AND a.vec_id <> 0
       |  QUALIFY rank <= $kCand),
       |rel AS MATERIALIZED (SELECT n_id, CAST(round(cos_sim * 1e6, 0) AS BIGINT) AS rel_u
       |        FROM cand),
       |sim AS MATERIALIZED (
       |  SELECT x.n_id AS a_id, y.n_id AS b_id,
       |         CAST(round(round($COS, 6) * 1e6, 0) AS BIGINT) AS sim_u
       |  FROM cand x JOIN cand y ON x.n_id < y.n_id
       |  JOIN em a ON a.vec_id = x.n_id
       |  JOIN em b ON b.vec_id = y.n_id),
       |simfull AS MATERIALIZED (SELECT a_id, b_id, sim_u FROM sim
       |            UNION ALL SELECT b_id, a_id, sim_u FROM sim),
       |p1 AS MATERIALIZED (SELECT r.n_id, $lamN * r.rel_u AS num FROM rel r
       |       ORDER BY num DESC, r.n_id LIMIT 1),
       |sel1 AS MATERIALIZED (SELECT n_id FROM p1),
       |$steps
       |SELECT CAST(0 AS BIGINT) AS q_id, n_id AS doc_id,
       |       CAST(num AS DOUBLE) / ${lamD * 1000000L}.0 AS mmr_score,
       |       CAST(rank AS BIGINT) AS rank
       |FROM ($unions)""".stripMargin
  }

  /** G-block mirror fragments (r11): the mm_* stub values are
    * md5-derived (Multimodal.Codec.stubMeta / featureExtractPayloads),
    * so the mirror recomputes them from the raw text — payload =
    * utf-8 text bytes at the catalog entries, md5(VARCHAR) hashes
    * exactly those bytes, and DuckDB's hex-slice→BIGINT arithmetic
    * mirrors md5Long. Edit in lockstep with the Scala stubs. */
  private val MmT = "coalesce(text, '')"
  private val MmM = s"(('0x' || substr(md5($MmT), 1, 15))::BIGINT)"
  private val MmW = s"(64 + ($MmM % 1856))"
  private val MmH = s"(64 + (($MmM // 2048) % 1016))"
  private val MmKind =
    "CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END"
  private val MmFrames =
    s"""CASE doc_id % 3 WHEN 2 THEN 1 + (($MmM // 4194304) % 240)
       |     WHEN 1 THEN 1 + (($MmM // 4194304) % 48000) ELSE 1 END"""
      .stripMargin.linesIterator.mkString(" ")

  // ---- the catalog ------------------------------------------------------

  /** Deterministic run order for Bench/Verify: sorted names, with ONE
    * documented exception — bpe_train runs BEFORE bpe_encode, so the
    * entry that TIMES the training loop is the one that seeds the
    * shared memo and bpe_encode's number is pure encoding (the r8
    * advice attribution nit, closed both ways: order-independent AND
    * honestly labeled). */
  def runOrderKey(name: String): String =
    if (name == "bpe_encode") "bpe_train~encode" else name // '~' sorts after 'z'

  /** One catalog entry: its name (the output directory Verify writes
    * and the key Bench and Profile report it under), the plan it builds
    * over a scale-factor directory, the check that makes its output
    * trustworthy, and how Bench times it. */
  final case class Query(name: String, build: (SparkSession, String) => DataFrame,
                         check: Check, bench: Benched = Benched.Loop)

  /** What Verify checks of an entry's written output. */
  sealed trait Check

  /** A DuckDB mirror: `sql` over the same input tables must hash-match
    * the written output. Verify writes every mirror to
    * `oracle_sql.json`; `tools/check_correctness.py` runs the compare. */
  final case class Oracle(sql: String) extends Check

  /** No mirror (LSH banding, approximate serves, multimodal hashes):
    * the hash gate cannot see such an output silently emptying or
    * collapsing, so Verify counts the written rows and fails the run
    * when the count is below `floor`, differs from `exact` (computed
    * from the input tables, both directions: a serve that pads with
    * duplicates is as red as one collapsing to k/2), or when the
    * entry's `recall` gate is breached.
    *
    * The pair-entry floors are the planted-near-duplicate minimums of
    * the two verify corpora: sf0.001 and sf0.01 ship different 500-doc
    * documents/embeddings tables, so each floor is the smaller of the
    * two measured pair counts, tight (zero slack) at one of the two
    * sfs. Measured r6: embedding-lsh 7/14, semantic 6/11 at
    * sf0.001/sf0.01. */
  final case class RowsOnly(floor: Long = 1L, exact: Option[InputCounts => Long] = None,
                            recall: Option[Recall] = None) extends Check

  /** An approximate entry's recall gate: Verify joins its written
    * output with the exact `baseline`'s on the baseline's leading
    * `keyCols` columns (the (id, id) edge/pair convention; a kept-set
    * agreement keys on its one id), computes |approx ∩ exact| /
    * |exact| with the approx side key-deduped, writes the measurements
    * as VERIFY_RECALL.json and fails the run below `floor` — a
    * quantizer regression that halves recall is a hard signal, not
    * only a spec's. Floors are ~0.9× the smaller of the two verify-sf
    * recalls measured under the current quality params (each entry's
    * comment holds its measured values, PERF.md the sweeps). Every
    * quantizer and plane is deterministically seeded and same-corpus
    * reruns reproduce identical recalls, so a drop without a dataset
    * regeneration is a real regression. */
  final case class Recall(baseline: String, floor: Double, keyCols: Int = 2)

  /** How Bench times an entry. */
  sealed trait Benched
  object Benched {
    /** Timed in the catalog loop. */
    case object Loop extends Benched
    /** Timed in the catalog loop, then re-measured alone, back to back
      * and with more reps (the `isolated` block): entries whose loop
      * numbers swing with ambient load — the ngram-jaccard lineage
      * (±26% between identical-code runs, PERF.md r10) and the knn
      * family (a driver-run knn_components_ann delta read as a
      * regression while the same-day local run said improved). */
    case object Isolated extends Benched
    /** Not benched (still verified and recall-gated): the graph-serve
      * family would pay three bench lines for one serve path (the
      * in-memory anchor probes the full corpus per hop by design; the
      * indexed entries build and land an index per rep); Bench's
      * idx_graph_* block costs build, serve, paged serve and streaming
      * ingest separately instead. */
    case object Skip extends Benched
  }

  /** The input-table counts rows-only entries' exact row counts derive
    * from: documents, its image and audio strata, the rendered video
    * frames, the langs owning a token and all langs (a null lang
    * counting as one), k = 5 neighbors per ANN query vector, and the
    * embedding vectors. */
  final case class InputCounts(docs: Long, images: Long, audios: Long, videoFrames: Long,
                               tokenLangs: Long, langs: Long, topk: Long, vectors: Long)

  /** Every entry, one record each. Lazy, so the SQL fragments above are
    * initialised when the mirrors read them. */
  lazy val catalog: Seq[Query] = checked(Seq(
    // --- A: timeseries / ETL core ---
    Query("ts_interval_diff", (s, d) =>
      Timeseries.intervalDiff(ev(s, d), "user_id", "ts_us", "event_id", "value")
        .select(col("user_id"), col("event_id"), col("ts_us"), col("delta")),
      Oracle(s"""SELECT user_id, event_id, epoch_us(ts) AS ts_us,
                |       value - lag(value) OVER w AS delta
                |FROM events
                |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
                |QUALIFY lag(event_id) OVER w IS NOT NULL""".stripMargin)),

    Query("ts_tz_shift", (s, d) =>
      Timeseries.tzShiftLk(evt(s, d), "ts_us")
        .select(col("event_id"), col("lk_time")),
      Oracle(s"""SELECT event_id,
                |  strftime(make_timestamp(epoch_us(ts) + 19800000000),
                |           '%Y-%m-%d %H:%M:00') AS lk_time
                |FROM events""".stripMargin)),

    Query("ts_resample_15min", (s, d) =>
      Timeseries.resample(ev(s, d), "user_id", bucket15, "value_dec")
        .select(col("user_id"), col("bucket"), col("value").cast("double").as("value")),
      Oracle(s"""SELECT user_id, $B AS bucket,
                |  CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS value
                |FROM events GROUP BY 1, 2""".stripMargin)),

    // salted two-phase flavor of the same aggregation (skew path);
    // same oracle semantics as a plain groupBy — that's the point.
    Query("ts_resample_salted", (s, d) =>
      Skew.saltedSumCount(
        ev(s, d).withColumn("bucket", bucket15),
        Seq("user_id", "bucket"), "value_dec", saltBy = "event_id")
        .select(col("user_id"), col("bucket"),
          col("value").cast("double").as("value"), col("n")),
      Oracle(s"""SELECT user_id, $B AS bucket,
                |  CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS value,
                |  count(*) AS n
                |FROM events GROUP BY 1, 2""".stripMargin)),

    Query("ts_latest_run", (s, d) =>
      Timeseries.latestRun(evt(s, d), "user_id", "ts_us", "event_id")
        .select(col("user_id"), col("event_id"), col("ts_us"), col("value")),
      Oracle(s"""SELECT user_id, event_id, epoch_us(ts) AS ts_us, value
                |FROM events
                |QUALIFY row_number() OVER (
                |  PARTITION BY user_id ORDER BY epoch_us(ts) DESC, event_id DESC) = 1""".stripMargin)),

    Query("ts_upsert_dedup", (s, d) =>
      Timeseries.upsertDedup(evt(s, d), Seq("user_id", "event_type"), "ts_us", "event_id")
        .select(col("user_id"), col("event_type"), col("event_id"),
          col("ts_us"), col("value")),
      Oracle(s"""SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us, value
                |FROM events
                |QUALIFY row_number() OVER (
                |  PARTITION BY user_id, event_type
                |  ORDER BY epoch_us(ts) DESC, event_id DESC) = 1""".stripMargin)),

    Query("ts_ensemble_mean", (s, d) =>
      Timeseries.ensembleMean(ev(s, d), "user_id", "event_type", bucket15, "value_dec"),
      Oracle(s"""WITH per AS (
                |  SELECT user_id, event_type, $B AS bucket,
                |         sum(CAST(value AS DECIMAL(14,2))) AS source_sum
                |  FROM events GROUP BY 1, 2, 3)
                |SELECT user_id, bucket,
                |       CAST(sum(source_sum) AS DOUBLE) / count(source_sum) AS mean_value,
                |       count(source_sum) AS n_sources
                |FROM per GROUP BY 1, 2""".stripMargin)),

    Query("ts_hybrid_obs_fcst", (s, d) =>
      Timeseries.hybridObsFcst(resampled(s, d, "click"), resampled(s, d, "view"), "user_id")
        .select(col("user_id"), col("bucket"),
          col("obs_value").cast("double").as("obs_value"),
          col("fcst_value").cast("double").as("fcst_value"),
          col("hybrid_value").cast("double").as("hybrid_value")),
      Oracle(s"""WITH obs AS (
                |  SELECT user_id, $B AS bucket, sum(CAST(value AS DECIMAL(14,2))) AS v
                |  FROM events WHERE event_type = 'click' GROUP BY 1, 2),
                |fcst AS (
                |  SELECT user_id, $B AS bucket, sum(CAST(value AS DECIMAL(14,2))) AS v
                |  FROM events WHERE event_type = 'view' GROUP BY 1, 2)
                |SELECT obs.user_id, obs.bucket,
                |       CAST(obs.v AS DOUBLE) AS obs_value,
                |       CAST(fcst.v AS DOUBLE) AS fcst_value,
                |       CAST(coalesce(obs.v, fcst.v) AS DOUBLE) AS hybrid_value
                |FROM obs JOIN fcst
                |  ON obs.user_id = fcst.user_id AND obs.bucket = fcst.bucket""".stripMargin)),

    // daily buckets: the four-system overlap the dropna keeps is real
    // at test scale (a 15-min grid leaves zero full rows)
    Query("ts_hybrid_wide", (s, d) =>
      Timeseries.hybridWide(ev(s, d), "user_id", "event_type",
        Timeseries.bucketEpochSec("ts_us", 86400L, 1000000L),
        "value_dec", Seq("click", "view", "purchase", "signup"))
        .select(col("user_id"), col("bucket"),
          col("click").cast("double").as("obs_value"),
          col("view").cast("double").as("fcst_view"),
          col("purchase").cast("double").as("fcst_purchase"),
          col("signup").cast("double").as("fcst_signup")),
      // A6b/A7b: the pivoted per-system layout; sum over an empty CASE
      // set is NULL in both engines, and the outer WHERE is the dropna
      Oracle(s"""SELECT * FROM (
                |  SELECT user_id, (epoch_us(ts) // 1000000 // 86400) * 86400 AS bucket,
                |    CAST(sum(CASE WHEN event_type = 'click'
                |             THEN CAST(value AS DECIMAL(14,2)) END) AS DOUBLE) AS obs_value,
                |    CAST(sum(CASE WHEN event_type = 'view'
                |             THEN CAST(value AS DECIMAL(14,2)) END) AS DOUBLE) AS fcst_view,
                |    CAST(sum(CASE WHEN event_type = 'purchase'
                |             THEN CAST(value AS DECIMAL(14,2)) END) AS DOUBLE) AS fcst_purchase,
                |    CAST(sum(CASE WHEN event_type = 'signup'
                |             THEN CAST(value AS DECIMAL(14,2)) END) AS DOUBLE) AS fcst_signup
                |  FROM events GROUP BY 1, 2)
                |WHERE obs_value IS NOT NULL AND fcst_view IS NOT NULL
                |  AND fcst_purchase IS NOT NULL AND fcst_signup IS NOT NULL""".stripMargin)),

    Query("ts_active_stations", (s, d) =>
      Timeseries.activeKeys(evt(s, d), "user_id", "ts_us", 7, 1000000L),
      Oracle(s"""SELECT user_id, count(*) AS recent_events,
                |       max(epoch_us(ts)) // 1000000 AS last_seen_s
                |FROM events, (SELECT max(epoch_us(ts)) AS max_ts FROM events) m
                |WHERE epoch_us(ts) >= m.max_ts - 604800000000
                |GROUP BY user_id""".stripMargin)),

    Query("ts_station_registry", (s, d) =>
      Timeseries.stationRegistry(
        Grid.deriveGrid(Tables.events(s, d), "user_id"), Seq("lat", "lon"), "wrf"),
      Oracle(s"""WITH g AS (
                |  SELECT DISTINCT
                |    ${pyKeySql(LAT)} AS lat_key,
                |    ${pyKeySql(LON)} AS lon_key
                |  FROM events)
                |SELECT lat_key, lon_key,
                |       'wrf_' || lat_key || '_' || lon_key AS station_name,
                |       md5('wrf_' || lat_key || '_' || lon_key) AS station_id
                |FROM g""".stripMargin)),

    Query("ts_tms_id", (s, d) =>
      Timeseries.tmsId(
        Tables.events(s, d).select(col("user_id"), col("event_type")).distinct()
          .withColumn("sim_tag", lit("evt0"))
          .withColumn("source", lit("graft_v1"))
          .withColumn("unit", lit("count")),
        Seq("sim_tag", "user_id", "source", "event_type", "unit"))
        .select(col("user_id"), col("event_type"), col("tms_id")),
      Oracle(s"""SELECT DISTINCT user_id, event_type,
                |  md5(${Seq("'evt0'", "user_id", "'graft_v1'", "event_type", "'count'")
                         .map(tmsEncSql).mkString("\n         |      || ")}) AS tms_id
                |FROM events""".stripMargin)),

    Query("ts_fgt_watermark", (s, d) =>
      Timeseries.fgtWatermark(evt(s, d), "user_id", "ts_us"),
      Oracle("SELECT user_id, max(epoch_us(ts)) AS latest_fgt FROM events GROUP BY user_id")),

    Query("ts_sessionize", (s, d) =>
      Timeseries.sessionize(evt(s, d), "user_id", "ts_us", "event_id",
        gapTicks = 3600L * 1000000L) // 1-hour inactivity gap
        .select(col("user_id"), col("event_id"), col("ts_us"), col("session_id")),
      Oracle(s"""SELECT user_id, event_id, epoch_us(ts) AS ts_us,
                |  CAST(sum(CASE WHEN prev_ts IS NULL
                |           OR epoch_us(ts) - prev_ts > 3600000000 THEN 1 ELSE 0 END)
                |    OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
                |FROM (
                |  SELECT user_id, event_id, ts,
                |    lag(epoch_us(ts)) OVER (
                |      PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_ts
                |  FROM events)""".stripMargin)),

    Query("ts_asof_join", (s, d) => {
      // each click joined to the latest view at-or-before it, per user
      val e = evt(s, d)
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id"), col("ts_us"))
      val views = e.filter(col("event_type") === "view")
        .groupBy(col("user_id"), col("ts_us").as("v_ts"))
        .agg(max(col("value")).as("rv"))
      Timeseries.asofJoinLatest(clicks, views, "user_id", "ts_us", "v_ts", "rv")
        .select(col("user_id"), col("event_id"), col("ts_us"), col("asof_value"))
    },
      Oracle(s"""WITH l AS (
                |  SELECT user_id, event_id, epoch_us(ts) AS ts_us
                |  FROM events WHERE event_type = 'click'),
                |r AS (
                |  SELECT user_id, epoch_us(ts) AS v_ts, max(value) AS rv
                |  FROM events WHERE event_type = 'view' GROUP BY 1, 2)
                |SELECT l.user_id, l.event_id, l.ts_us, r.rv AS asof_value
                |FROM l ASOF LEFT JOIN r
                |  ON l.user_id = r.user_id AND l.ts_us >= r.v_ts""".stripMargin)),

    Query("ts_gap_fill", (s, d) =>
      Timeseries.gapFillForward(
        evt(s, d).withColumn("v",
          when(col("event_type") === "error", lit(null)).otherwise(col("value"))),
        "user_id", "ts_us", "event_id", "v")
        .select(col("user_id"), col("event_id"), col("ts_us"), col("filled")),
      Oracle(s"""SELECT user_id, event_id, epoch_us(ts) AS ts_us,
                |  last_value(CASE WHEN event_type = 'error' THEN NULL ELSE value END
                |             IGNORE NULLS) OVER (
                |    PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
                |FROM events""".stripMargin)),

    Query("ts_interp_linear", (s, d) =>
      Timeseries.interpLinear(
        evt(s, d).withColumn("v",
          when(col("event_type") === "error", lit(null)).otherwise(col("value"))),
        "user_id", "ts_us", "event_id", "v")
        .select(col("user_id"), col("event_id"), col("ts_us"), col("interp")),
      Oracle(s"""WITH b AS (
                |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
                |    CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v
                |  FROM events)
                |SELECT user_id, event_id, ts_us,
                |  CASE WHEN v IS NOT NULL THEN v
                |       WHEN pt IS NULL AND nt IS NULL THEN NULL
                |       WHEN pt IS NULL THEN nv
                |       WHEN nt IS NULL THEN pv
                |       WHEN nt = pt THEN pv
                |       ELSE round(pv + (nv - pv) * ((ts_us - pt) / (nt - pt)), 6)
                |  END AS interp
                |FROM (
                |  SELECT user_id, event_id, ts_us, v,
                |    last_value(v IGNORE NULLS) OVER wb AS pv,
                |    last_value(CASE WHEN v IS NOT NULL THEN ts_us END IGNORE NULLS)
                |      OVER wb AS pt,
                |    first_value(v IGNORE NULLS) OVER wf AS nv,
                |    first_value(CASE WHEN v IS NOT NULL THEN ts_us END IGNORE NULLS)
                |      OVER wf AS nt
                |  FROM b
                |  WINDOW wb AS (PARTITION BY user_id ORDER BY ts_us, event_id
                |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                |         wf AS (PARTITION BY user_id ORDER BY ts_us, event_id
                |                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))""".stripMargin)),

    Query("ts_zscore_outliers", (s, d) =>
      Timeseries.zscoreOutliers(ev(s, d), "user_id", "ts_us", "event_id",
        "value", "value_dec", tau = 3.0),
      Oracle(s"""WITH b AS (
                |  SELECT user_id, event_id, epoch_us(ts) AS ts_us, value,
                |    CAST(value AS DECIMAL(14,2)) AS vd
                |  FROM events),
                |m AS (
                |  SELECT user_id, event_id, ts_us, value,
                |    CAST(sum(vd) OVER w AS DOUBLE) / count(vd) OVER w AS mean,
                |    CAST(sum(vd * vd) OVER w AS DOUBLE) / count(vd) OVER w
                |      - (CAST(sum(vd) OVER w AS DOUBLE) / count(vd) OVER w)
                |        * (CAST(sum(vd) OVER w AS DOUBLE) / count(vd) OVER w) AS variance
                |  FROM b WINDOW w AS (PARTITION BY user_id)),
                |z AS (
                |  SELECT user_id, event_id, ts_us, value,
                |    CASE WHEN variance > 0
                |         THEN round((value - mean) / sqrt(variance), 6)
                |         ELSE 0.0 END AS z
                |  FROM m)
                |SELECT * FROM z WHERE abs(z) >= 3""".stripMargin)),

    Query("ts_seasonal_anomaly", (s, d) =>
      Timeseries.seasonalAnomaly(ev(s, d), "user_id", "ts_us", "value_dec")
        .select(col("event_id"), col("user_id"), col("hour_of_day"),
          col("value"), round(col("clim_value"), 6).as("clim_value"),
          round(col("anomaly"), 6).as("anomaly")),
      Oracle(s"""WITH b AS (
                |  SELECT event_id, user_id, value,
                |    (epoch_us(ts) // 3600000000) % 24 AS hour_of_day,
                |    CAST(value AS DECIMAL(14,2)) AS vd
                |  FROM events)
                |SELECT event_id, user_id, hour_of_day, value,
                |  round(CAST(sum(vd) OVER w AS DOUBLE) / count(vd) OVER w, 6)
                |    AS clim_value,
                |  round(CAST(vd AS DOUBLE)
                |        - CAST(sum(vd) OVER w AS DOUBLE) / count(vd) OVER w, 6)
                |    AS anomaly
                |FROM b WINDOW w AS (PARTITION BY user_id, hour_of_day)""".stripMargin)),

    Query("ts_rolling_stats", (s, d) =>
      Timeseries.rollingStats(ev(s, d), "user_id", "ts_us", "event_id",
        "value_dec", k = 4)
        .select(col("user_id"), col("event_id"), col("ts_us"),
          col("roll_sum"), col("roll_n"), col("roll_mean")),
      Oracle(s"""SELECT user_id, event_id, epoch_us(ts) AS ts_us,
                |  CAST(sum(CAST(value AS DECIMAL(14,2))) OVER w AS DOUBLE) AS roll_sum,
                |  count(value) OVER w AS roll_n,
                |  round(CAST(sum(CAST(value AS DECIMAL(14,2))) OVER w AS DOUBLE)
                |        / count(value) OVER w, 6) AS roll_mean
                |FROM events
                |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                |             ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)""".stripMargin)),

    // A21: clicks inside ±15 min of any error — the binned equi-join
    // range join (a bare theta join would plan as BNLJ/cartesian)
    Query("ts_range_join", (s, d) => {
      val e = evt(s, d)
      val w = 900L * 1000000L // ±15 min in µs
      val clicks = e.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("ts_us"))
      val errors = e.filter(col("event_type") === "error")
        .select(col("event_id").as("error_id"), col("ts_us").as("err_ts"),
          (col("ts_us") - w).as("win_start"), (col("ts_us") + w).as("win_end"))
      Timeseries.rangeJoinBinned(clicks, "ts_us", errors,
          "win_start", "win_end", binWidth = 2 * w)
        .select(col("click_id"), col("error_id"),
          (col("ts_us") - col("err_ts")).as("lag_us"))
    },
      Oracle(s"""SELECT c.event_id AS click_id, e.event_id AS error_id,
                |       epoch_us(c.ts) - epoch_us(e.ts) AS lag_us
                |FROM events c, events e
                |WHERE c.event_type = 'click' AND e.event_type = 'error'
                |  AND epoch_us(c.ts) BETWEEN epoch_us(e.ts) - 900000000
                |                         AND epoch_us(e.ts) + 900000000""".stripMargin)),

    Query("ts_ewma", (s, d) =>
      Timeseries.ewma(evt(s, d), "user_id", "ts_us", "event_id",
        "value", alpha = 0.3),
      // A19: the recurrence e_t = α·v_t + (1−α)·e_{t−1} as list_reduce
      // over each row's time-ordered prefix list — the same left-to-right
      // double ops as the Spark mapPartitions loop, so values are
      // bit-identical. α and 1−α go through explicit DOUBLE casts (DuckDB
      // numeric literals are DECIMAL; the subtraction must be the same
      // IEEE op Spark runs), and the 6-dp rounding is the shared
      // floor(e·1e6 + 0.5)/1e6 formula.
      Oracle(s"""WITH b AS (
                |  SELECT CAST(user_id AS VARCHAR) AS user_id,
                |         epoch_us(ts) AS ts_us, event_id,
                |         CAST(value AS DOUBLE) AS value
                |  FROM events WHERE value IS NOT NULL),
                |p AS (
                |  SELECT user_id, ts_us, event_id, value,
                |    array_agg(value) OVER (
                |      PARTITION BY user_id ORDER BY ts_us, event_id
                |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS vs
                |  FROM b)
                |SELECT user_id, ts_us, event_id, value,
                |  floor(list_reduce(vs, (acc, x) ->
                |          CAST(0.3 AS DOUBLE) * x +
                |          (CAST(1.0 AS DOUBLE) - CAST(0.3 AS DOUBLE)) * acc)
                |        * 1e6 + 0.5) / 1e6 AS ewma
                |FROM p""".stripMargin)),

    // --- B: grid / rfield ---
    // value: decimal sum cast to double at the edge — the oracle emits
    // DOUBLE and the driver hashes typed values (decimal(25,2) != double
    // even when numerically equal).
    Query("grid_rfield_flatten", (s, d) =>
      Grid.rfieldFlatten(Grid.deriveGrid(ev(s, d), "user_id"), "value_dec")
        .withColumn("value", col("value").cast("double")),
      Oracle(s"""SELECT $LON AS lon, $LAT AS lat,
                |  CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS value
                |FROM events GROUP BY 1, 2 ORDER BY lon, lat""".stripMargin)),

    Query("grid_bbox_filter", (s, d) =>
      Grid.bboxFilter(
        Grid.rfieldFlatten(Grid.deriveGrid(ev(s, d), "user_id"), "value_dec"),
        79.0, 79.3, 6.5, 7.5)
        .withColumn("value", col("value").cast("double")),
      Oracle(s"""SELECT * FROM (
                |  SELECT $LON AS lon, $LAT AS lat,
                |    CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS value
                |  FROM events GROUP BY 1, 2)
                |WHERE lon >= 79.0 AND lon <= 79.3 AND lat >= 6.5 AND lat <= 7.5
                |ORDER BY lon, lat""".stripMargin)),

    Query("grid_regrid", (s, d) =>
      Grid.regrid(Grid.deriveGrid(ev(s, d), "user_id"), 0.5, "value_dec")
        .withColumn("value", col("value").cast("double")),
      Oracle(s"""SELECT floor(CAST($LON AS DOUBLE) / 0.5) * 0.5 AS lon_c,
                |       floor(CAST($LAT AS DOUBLE) / 0.5) * 0.5 AS lat_c,
                |       CAST(round(sum(CAST(value AS DECIMAL(14,2))), 4) AS DOUBLE)
                |         AS value
                |FROM events GROUP BY 1, 2""".stripMargin)),

    Query("grid_idw", (s, d) => {
      import s.implicits._
      val mesh = (for { j <- 0 until 5; i <- 0 until 8 }
        yield (79.0 + i * 0.5, 6.0 + j * 0.5)).toDF("lon", "lat")
      val stations = ev(s, d).groupBy(col("user_id"))
        .agg((sum(col("value_dec")).cast("double") / count(lit(1)))
          .as("s_val"))
        .select(
          (lit(79.0) + expr("(user_id div 10) % 15").cast("double") * 0.25).as("s_lon"),
          (lit(6.0) + (col("user_id") % 10).cast("double") * 0.25).as("s_lat"),
          col("s_val"))
      Grid.idw(mesh, stations)
    },
      Oracle(s"""WITH mesh AS (
                |  SELECT CAST(79.0 AS DOUBLE) + i * CAST(0.5 AS DOUBLE) AS lon,
                |         CAST(6.0 AS DOUBLE) + j * CAST(0.5 AS DOUBLE) AS lat
                |  FROM (SELECT unnest(range(8)) AS i), (SELECT unnest(range(5)) AS j)),
                |stations AS (
                |  SELECT * FROM (
                |    SELECT CAST($LON AS DOUBLE) AS s_lon, CAST($LAT AS DOUBLE) AS s_lat,
                |           CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE) / count(*)
                |             AS s_val
                |    FROM events GROUP BY user_id)
                |  WHERE s_val IS NOT NULL),
                |terms AS (
                |  SELECT lon, lat,
                |    CAST(round((1.0 / greatest((lat - s_lat) * (lat - s_lat)
                |        + (lon - s_lon) * (lon - s_lon), 1e-9)) * s_val, 12)
                |      AS DECIMAL(38,12)) AS wv,
                |    CAST(round(1.0 / greatest((lat - s_lat) * (lat - s_lat)
                |        + (lon - s_lon) * (lon - s_lon), 1e-9), 12)
                |      AS DECIMAL(38,12)) AS w
                |  FROM mesh CROSS JOIN stations)
                |SELECT lon, lat,
                |  round(CAST(sum(wv) AS DOUBLE) / CAST(sum(w) AS DOUBLE), 6) AS idw_value
                |FROM terms GROUP BY 1, 2""".stripMargin)),

    Query("grid_nearest_station", (s, d) => {
      val grid = Grid.deriveGrid(Tables.events(s, d), "user_id")
      val stations = grid.filter(col("user_id") % 13 === 0)
        .select(concat(lit("obs_"), col("user_id").cast("string")).as("station_id"),
          (col("lat") + lit(0.07)).as("s_lat"),
          (col("lon") + lit(0.11)).as("s_lon"))
        .distinct()
      Grid.nearestGridPoint(stations, grid)
    },
      Oracle(s"""WITH st AS (
                |  SELECT DISTINCT 'obs_' || CAST(user_id AS VARCHAR) AS station_id,
                |         $LAT + 0.07 AS s_lat, $LON + 0.11 AS s_lon
                |  FROM events WHERE user_id % 13 = 0),
                |g AS (SELECT DISTINCT $LAT AS g_lat, $LON AS g_lon FROM events),
                |x AS (
                |  SELECT station_id, s_lat, s_lon, g_lat, g_lon,
                |    round((s_lat - g_lat) * (s_lat - g_lat) +
                |          (s_lon - g_lon) * (s_lon - g_lon), 12) AS d2
                |  FROM st CROSS JOIN g)
                |SELECT * FROM x
                |QUALIFY row_number() OVER (
                |  PARTITION BY station_id, s_lat, s_lon
                |  ORDER BY d2, g_lon, g_lat) = 1""".stripMargin)),

    // --- C: relational analytics ---
    Query("q1_pricing_summary", (s, d) =>
      Relational.q1PricingSummary(Tables.lineitem(s, d)),
      Oracle(s"""SELECT l_returnflag, l_linestatus,
                |  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
                |  CAST(sum($EP) AS DOUBLE) AS sum_base_price,
                |  CAST(sum($EP * $DISC1) AS DOUBLE) AS sum_disc_price,
                |  CAST(round(sum($EP * $DISC1 * $TAX1), 6) AS DOUBLE) AS sum_charge,
                |  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_qty,
                |  CAST(sum($EP) AS DOUBLE) / count(*) AS avg_price,
                |  CAST(sum(CAST(l_discount AS DECIMAL(6,4))) AS DOUBLE) / count(*) AS avg_disc,
                |  count(*) AS count_order
                |FROM lineitem
                |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
                |GROUP BY l_returnflag, l_linestatus
                |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    Query("q3_shipping_priority", (s, d) =>
      Relational.q3ShippingPriority(
        Tables.customer(s, d), Tables.orders(s, d), Tables.lineitem(s, d)),
      Oracle(s"""SELECT l_orderkey, o_orderdate, o_orderpriority,
                |  CAST(sum($EP * $DISC1) AS DOUBLE) AS revenue
                |FROM customer
                |JOIN orders   ON c_custkey = o_custkey
                |JOIN lineitem ON o_orderkey = l_orderkey
                |WHERE c_mktsegment = 'BUILDING'
                |  AND o_orderdate < TIMESTAMP '1998-06-15 00:00:00'
                |  AND l_shipdate  > TIMESTAMP '1998-06-15 00:00:00'
                |GROUP BY l_orderkey, o_orderdate, o_orderpriority
                |ORDER BY revenue DESC, l_orderkey
                |LIMIT 10""".stripMargin)),

    Query("q5_local_supplier", (s, d) =>
      Relational.q5LocalSupplier(
        Tables.region(s, d), Tables.nation(s, d), Tables.customer(s, d),
        Tables.supplier(s, d), Tables.orders(s, d), Tables.lineitem(s, d)),
      Oracle(s"""SELECT n_name, CAST(sum($EP * $DISC1) AS DOUBLE) AS revenue
                |FROM lineitem
                |JOIN orders   ON l_orderkey = o_orderkey
                |JOIN customer ON o_custkey = c_custkey
                |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
                |JOIN nation   ON s_nationkey = n_nationkey
                |JOIN region   ON n_regionkey = r_regionkey
                |WHERE r_name = 'ASIA'
                |GROUP BY n_name
                |ORDER BY revenue DESC, n_name""".stripMargin)),

    // C10: TPC-H Q15 flavor — revenue view + exact-decimal global
    // max; ties all surface; winner list broadcast into the dim
    Query("q15_top_supplier", (s, d) =>
      Relational.q15TopSupplier(Tables.supplier(s, d), Tables.lineitem(s, d)),
      // C10 mirror: the same revenue view, max joined back in exact
      // DECIMAL (who ties is a decimal equality, never a double)
      Oracle(s"""WITH r AS (
                |  SELECT l_suppkey, sum($EP * $DISC1) AS total_rev
                |  FROM lineitem
                |  WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
                |    AND l_shipdate <  TIMESTAMP '1998-04-01 00:00:00'
                |  GROUP BY 1),
                |m AS (SELECT max(total_rev) AS max_rev FROM r)
                |SELECT s.s_suppkey, s.s_name,
                |       CAST(r.total_rev AS DOUBLE) AS total_rev
                |FROM r JOIN m ON r.total_rev = m.max_rev
                |       JOIN supplier s ON s.s_suppkey = r.l_suppkey""".stripMargin)),

    // C11: TPC-H Q17 flavor — correlated per-part avg joined back,
    // cross-multiplied exact-decimal compare, one double at the edge
    Query("q17_small_qty_revenue", (s, d) =>
      Relational.q17SmallQtyRevenue(Tables.part(s, d), Tables.lineitem(s, d)),
      // C11 mirror: the same grouped-avg join-back with the identical
      // cross-multiplied decimal predicate
      Oracle(s"""WITH bp AS (SELECT p_partkey FROM part WHERE p_brand = 'Brand#19'),
                |li AS (SELECT l_partkey, CAST(l_quantity AS DECIMAL(12,2)) AS q,
                |              CAST(l_extendedprice AS DECIMAL(12,2)) AS ep
                |       FROM lineitem JOIN bp ON p_partkey = l_partkey),
                |st AS (SELECT l_partkey AS k, sum(q) AS sum_qty, count(*) AS cnt
                |       FROM li GROUP BY 1)
                |SELECT CAST(sum(ep) AS DOUBLE) / 7.0 AS avg_yearly
                |FROM li JOIN st ON st.k = li.l_partkey
                |WHERE q * 5 * cnt < sum_qty""".stripMargin)),

    Query("q14_promo_revenue", (s, d) =>
      Relational.q14PromoRevenue(Tables.part(s, d), Tables.lineitem(s, d)),
      Oracle(s"""SELECT 100.0 * CAST(sum(CASE WHEN p_type LIKE 'PROMO%'
                |           THEN $EP * $DISC1 ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
                |       / CAST(NULLIF(sum($EP * $DISC1), 0) AS DOUBLE) AS promo_revenue_pct
                |FROM lineitem JOIN part ON l_partkey = p_partkey
                |WHERE l_shipdate >= TIMESTAMP '1998-06-01 00:00:00'
                |  AND l_shipdate <  TIMESTAMP '1998-07-01 00:00:00'""".stripMargin)),

    // C7: TPC-H Q7 volume shipping — nation-pair bilateral revenue by
    // ship year; pair filter pushed into the broadcast dims
    Query("q7_volume_shipping", (s, d) =>
      Relational.q7VolumeShipping(
        Tables.nation(s, d), Tables.customer(s, d), Tables.supplier(s, d),
        Tables.orders(s, d), Tables.lineitem(s, d),
        "NATION_1", "NATION_2"),
      // C7 mirror: same pushed pair predicate, same half-open year
      // window, same decimal revenue spelling
      Oracle(s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                |  CAST(extract(year FROM l_shipdate) AS BIGINT) AS l_year,
                |  CAST(sum($EP * $DISC1) AS DOUBLE) AS revenue
                |FROM lineitem
                |JOIN orders   ON l_orderkey = o_orderkey
                |JOIN customer ON o_custkey = c_custkey
                |JOIN supplier ON l_suppkey = s_suppkey
                |JOIN nation n1 ON s_nationkey = n1.n_nationkey
                |JOIN nation n2 ON c_nationkey = n2.n_nationkey
                |WHERE n1.n_name IN ('NATION_1', 'NATION_2')
                |  AND n2.n_name IN ('NATION_1', 'NATION_2')
                |  AND n1.n_name <> n2.n_name
                |  AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
                |  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
                |GROUP BY 1, 2, 3
                |ORDER BY 1, 2, 3""".stripMargin)),

    // C8 (r11): the NOT-EXISTS/anti-join OLAP headline — TPC-H Q21
    // flavor; LeftSemi + LeftAnti equi-joins on the order key (no
    // BNLJ, plan-pinned in GridRelationalSpec)
    Query("q21_waiting_orders", (s, d) =>
      Relational.q21WaitingOrders(
        Tables.nation(s, d), Tables.supplier(s, d),
        Tables.orders(s, d), Tables.lineitem(s, d), "NATION_19"),
      // C8 mirror: the same two correlated quantifiers as SQL
      // subqueries — DuckDB plans them as semi/anti hash joins, Spark
      // as LeftSemi/LeftAnti; "late" spelled identically on both sides
      // (timestamp + interval arithmetic, no date truncation)
      Oracle(s"""SELECT s_name, count(*) AS numwait
                |FROM supplier
                |JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
                |JOIN orders ON o_orderkey = l1.l_orderkey
                |JOIN nation ON s_nationkey = n_nationkey
                |WHERE o_orderstatus = 'F' AND n_name = 'NATION_19'
                |  AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
                |  AND EXISTS (SELECT 1 FROM lineitem l2
                |              WHERE l2.l_orderkey = l1.l_orderkey
                |                AND l2.l_suppkey <> l1.l_suppkey)
                |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                |                  JOIN orders o3 ON o3.o_orderkey = l3.l_orderkey
                |                  WHERE l3.l_orderkey = l1.l_orderkey
                |                    AND l3.l_suppkey <> l1.l_suppkey
                |                    AND o3.o_orderstatus = 'F'
                |                    AND l3.l_shipdate > o3.o_orderdate + INTERVAL 60 DAY)
                |GROUP BY 1
                |ORDER BY numwait DESC, s_name""".stripMargin)),

    // C9 (r11): TPC-H Q22 shape — global scalar threshold (cross-
    // multiplied, division-free) + LeftAnti dormancy quantifier
    Query("q22_dormant_capital", (s, d) =>
      Relational.q22DormantCapital(
        Tables.customer(s, d), Tables.orders(s, d)),
      // C9 mirror: same cross-multiplied threshold (no division on
      // either side) + NOT EXISTS over the date-pruned orders slice
      Oracle(s"""WITH pos AS (
                |  SELECT sum(CAST(c_acctbal AS DECIMAL(12,2))) AS s_pos,
                |         count(*) AS n_pos
                |  FROM customer WHERE c_acctbal > 0)
                |SELECT c_nationkey, count(*) AS n_cust,
                |  CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_bal
                |FROM customer, pos
                |WHERE CAST(c_acctbal AS DECIMAL(12,2)) * n_pos > s_pos
                |  AND NOT EXISTS (SELECT 1 FROM orders o
                |                  WHERE o.o_custkey = c_custkey
                |                    AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
                |GROUP BY c_nationkey
                |ORDER BY c_nationkey""".stripMargin)),

    Query("q18_large_orders", (s, d) =>
      Relational.q18LargeOrders(
        Tables.customer(s, d), Tables.orders(s, d), Tables.lineitem(s, d), 140),
      Oracle(s"""WITH big AS (
                |  SELECT l_orderkey,
                |         sum(CAST(l_quantity AS DECIMAL(12,2))) AS total_qty
                |  FROM lineitem GROUP BY 1 HAVING total_qty > 140)
                |SELECT c_name, c_custkey, o_orderkey, o_orderdate,
                |       CAST(total_qty AS DOUBLE) AS total_qty
                |FROM orders
                |JOIN big      ON o_orderkey = l_orderkey
                |JOIN customer ON o_custkey = c_custkey""".stripMargin)),

    // C12 (r14): TPC-H Q13 shape — LEFT OUTER join (zero-order
    // customers keep their row and land in the c_count = 0 bucket)
    // + two-level aggregate; the priority NOT-LIKE is applied below
    // the outer join, so discounted orders never shuffle
    Query("q13_order_distribution", (s, d) =>
      Relational.q13OrderDistribution(
        Tables.customer(s, d), Tables.orders(s, d)),
      // C12 mirror: the same below-the-join NOT LIKE + LEFT OUTER +
      // count-of-counts (count(o_orderkey) skips null-extended rows in
      // both engines, so zero-order customers land in the 0 bucket)
      Oracle(s"""SELECT c_count, count(*) AS custdist
                |FROM (SELECT c_custkey, count(o_orderkey) AS c_count
                |      FROM customer LEFT OUTER JOIN orders
                |        ON c_custkey = o_custkey
                |       AND o_orderpriority NOT LIKE '%I%'
                |      GROUP BY c_custkey)
                |GROUP BY c_count
                |ORDER BY custdist DESC, c_count DESC""".stripMargin)),

    // C13 (r14): TPC-H Q20 shape — the nested SEMI-JOIN chain (part
    // name filter ⋉ fact aggregate ⋉ supplier ⋉ nation), exact
    // decimal quantity threshold
    Query("q20_potential_promotion", (s, d) =>
      Relational.q20PotentialPromotion(
        Tables.nation(s, d), Tables.supplier(s, d),
        Tables.part(s, d), Tables.lineitem(s, d)),
      // C13 mirror: the same semi-join chain as correlated EXISTS/IN —
      // the decimal sum + decimal literal compare on both sides
      Oracle(s"""SELECT s_name, s_acctbal
                |FROM supplier JOIN nation ON s_nationkey = n_nationkey
                |WHERE n_name IN ('NATION_3','NATION_7','NATION_11',
                |                 'NATION_19','NATION_22')
                |  AND EXISTS (
                |    SELECT 1 FROM (
                |      SELECT l_suppkey,
                |             sum(CAST(l_quantity AS DECIMAL(12,2))) AS q
                |      FROM lineitem
                |      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
                |        AND l_partkey IN (SELECT p_partkey FROM part
                |                          WHERE p_name LIKE '%widget%')
                |      GROUP BY l_suppkey, l_partkey) t
                |    WHERE t.l_suppkey = s_suppkey
                |      AND t.q > CAST(30 AS DECIMAL(12,2)))
                |ORDER BY s_name""".stripMargin)),

    // C14 (r14): TPC-H Q6 shape — the pure scan-aggregate; every
    // predicate pushed to the parquet scan, zero joins
    Query("q6_forecast_revenue", (s, d) =>
      Relational.q6ForecastRevenue(Tables.lineitem(s, d)),
      // C14 mirror: identical decimal band + product/sum
      Oracle(s"""SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
                |                CAST(l_discount AS DECIMAL(6,4))) AS DOUBLE)
                |         AS revenue
                |FROM lineitem
                |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
                |  AND l_shipdate <  TIMESTAMP '1997-01-01'
                |  AND CAST(l_discount AS DECIMAL(6,4))
                |      BETWEEN CAST(0.05 AS DECIMAL(6,4))
                |          AND CAST(0.07 AS DECIMAL(6,4))
                |  AND l_quantity < 24""".stripMargin)),

    // C15 (r14): TPC-H Q4 shape — EXISTS quantifier (one LeftSemi
    // with the lateness predicate inside the join) + tiny-key agg
    Query("q4_order_priority", (s, d) =>
      Relational.q4OrderPriority(Tables.orders(s, d), Tables.lineitem(s, d)),
      // C15 mirror: correlated EXISTS with the same lateness interval
      Oracle(s"""SELECT o_orderpriority, count(*) AS order_count
                |FROM orders o
                |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
                |  AND o_orderdate <  TIMESTAMP '1996-07-01'
                |  AND EXISTS (SELECT 1 FROM lineitem l
                |              WHERE l.l_orderkey = o.o_orderkey
                |                AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY)
                |GROUP BY o_orderpriority
                |ORDER BY o_orderpriority""".stripMargin)),

    // C16 (r14): TPC-H Q10 shape — fact aggregate, dims joined AFTER
    // the group-by, deterministic exact-decimal top-20
    Query("q10_returned_items", (s, d) =>
      Relational.q10ReturnedItems(
        Tables.customer(s, d), Tables.nation(s, d),
        Tables.orders(s, d), Tables.lineitem(s, d)),
      // C16 mirror: same aggregate-then-join with the exact-decimal
      // (revenue DESC, custkey) cutoff
      Oracle(s"""SELECT c_custkey, c_name, n_name, c_acctbal,
                |       CAST(rev AS DOUBLE) AS revenue
                |FROM (SELECT o_custkey,
                |             sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
                |                 (CAST(1 AS DECIMAL(6,4)) -
                |                  CAST(l_discount AS DECIMAL(6,4)))) AS rev
                |      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                |      WHERE l_returnflag = 'R'
                |        AND o_orderdate >= TIMESTAMP '1996-01-01'
                |        AND o_orderdate <  TIMESTAMP '1996-04-01'
                |      GROUP BY o_custkey)
                |JOIN customer ON c_custkey = o_custkey
                |JOIN nation ON c_nationkey = n_nationkey
                |ORDER BY rev DESC, c_custkey
                |LIMIT 20""".stripMargin)),

    // C17 (r14): TPC-H Q12 shape — join + dual conditional aggregate
    // in one grouped pass
    Query("q12_priority_shipping", (s, d) =>
      Relational.q12PriorityShipping(
        Tables.orders(s, d), Tables.lineitem(s, d)),
      // C17 mirror: the same one-pass dual conditional counts. The CASTs
      // matter: DuckDB sums integers into HUGEINT, which pandas reads as
      // float64 and the driver's value hash then diverges from Spark's
      // int64 — every count mirror casts to BIGINT for this reason.
      Oracle(s"""SELECT l_linestatus,
                |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                |           THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
                |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                |           THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
                |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
                |  AND l_shipdate <  TIMESTAMP '1997-01-01'
                |GROUP BY l_linestatus
                |ORDER BY l_linestatus""".stripMargin)),

    // C18 (r15): TPC-H Q19 shape — disjunctive predicate join:
    // per-side unions of the OR pushed to the scans, broadcast-hash
    // equi-join, exact OR residual after
    Query("q19_discount_eligibility", (s, d) =>
      Relational.q19DiscountEligibility(
        Tables.part(s, d), Tables.lineitem(s, d)),
      // C18 mirror: the same OR-of-conjunct bands; the oracle spells the
      // disjunction directly — the per-side pushdown is plan shape, not
      // semantics
      Oracle(s"""SELECT CAST(sum($EP * $DISC1) AS DOUBLE) AS revenue
                |FROM lineitem JOIN part ON l_partkey = p_partkey
                |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
                |       AND l_quantity BETWEEN 1 AND 11)
                |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
                |       AND l_quantity BETWEEN 10 AND 20)
                |   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35
                |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin)),

    // C19 (r15): TPC-H Q8 shape — region-filtered star, fact
    // aggregated to (year, suppkey) before the supplier join,
    // two-level conditional share per order year
    Query("q8_market_share", (s, d) =>
      Relational.q8MarketShare(
        Tables.region(s, d), Tables.nation(s, d), Tables.customer(s, d),
        Tables.supplier(s, d), Tables.orders(s, d), Tables.lineitem(s, d),
        Tables.part(s, d)),
      // C19 mirror: the same share-of-volume by order year; both sums
      // stay exact DECIMAL until the one NULLIF-guarded double division
      // (the q14 convention); o_year CAST to INTEGER to match Spark's
      // year()
      Oracle(s"""SELECT o_year,
                |  CAST(sum(CASE WHEN supp_nation = 'NATION_6' THEN vol
                |           ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
                |    / CAST(NULLIF(sum(vol), 0) AS DOUBLE) AS mkt_share
                |FROM (
                |  SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
                |         $EP * $DISC1 AS vol, n2.n_name AS supp_nation
                |  FROM lineitem
                |  JOIN part ON l_partkey = p_partkey
                |  JOIN orders ON l_orderkey = o_orderkey
                |  JOIN customer ON o_custkey = c_custkey
                |  JOIN nation n1 ON c_nationkey = n1.n_nationkey
                |  JOIN region ON n1.n_regionkey = r_regionkey
                |  JOIN supplier ON l_suppkey = s_suppkey
                |  JOIN nation n2 ON s_nationkey = n2.n_nationkey
                |  WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
                |    AND o_orderdate >= TIMESTAMP '1995-01-01'
                |    AND o_orderdate <  TIMESTAMP '1997-01-01')
                |GROUP BY o_year
                |ORDER BY o_year""".stripMargin)),

    // C20 (r15): ROLLUP / grouping-sets shape — detail + per-nation
    // subtotal + grand total from ONE Expand+aggregate pass
    Query("q_rollup_revenue", (s, d) =>
      Relational.qRollupRevenue(
        Tables.customer(s, d), Tables.nation(s, d),
        Tables.orders(s, d), Tables.lineitem(s, d)),
      // C20 mirror: the same ROLLUP with the same sentinel labels;
      // GROUPING(n_name, o_year) bit-encodes identically in both
      // engines (first listed column = most significant bit)
      Oracle(s"""SELECT coalesce(n_name, 'ALL') AS nation,
                |  coalesce(o_year, -1) AS o_year,
                |  CAST(GROUPING(n_name, o_year) AS BIGINT) AS lvl,
                |  CAST(sum(rev) AS DOUBLE) AS revenue
                |FROM (
                |  SELECT n_name, CAST(year(o_orderdate) AS INTEGER) AS o_year,
                |         $EP * $DISC1 AS rev
                |  FROM lineitem
                |  JOIN orders ON l_orderkey = o_orderkey
                |  JOIN customer ON o_custkey = c_custkey
                |  JOIN nation ON c_nationkey = n_nationkey
                |  WHERE o_orderdate >= TIMESTAMP '1995-01-01'
                |    AND o_orderdate <  TIMESTAMP '1997-01-01')
                |GROUP BY ROLLUP (n_name, o_year)
                |ORDER BY lvl, nation, o_year""".stripMargin)),

    Query("ts_cumsum", (s, d) =>
      Timeseries.cumulative(ev(s, d), "user_id", "ts_us", "event_id", "value_dec")
        .select(col("user_id"), col("event_id"), col("ts_us"),
          col("cum_value").cast("double").as("cum_value")),
      Oracle(s"""SELECT user_id, event_id, epoch_us(ts) AS ts_us,
                |  CAST(sum(CAST(value AS DECIMAL(14,2))) OVER (
                |    PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
                |    AS cum_value
                |FROM events""".stripMargin)),

    Query("q_topk_per_group", (s, d) =>
      Relational.topKPerGroup(
        Tables.orders(s, d).select("o_custkey", "o_orderkey", "o_totalprice"),
        "o_custkey", "o_totalprice", "o_orderkey", 3),
      Oracle(s"""SELECT o_custkey, o_orderkey, o_totalprice
                |FROM orders
                |QUALIFY row_number() OVER (
                |  PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) <= 3""".stripMargin)),

    // --- D: deduplication ---
    Query("dedup_exact", (s, d) => Dedup.exact(docs(s, d)),
      Oracle(s"""SELECT md5(text) AS text_hash, min(doc_id) AS keep_id,
                |       count(*) AS n_docs
                |FROM documents GROUP BY 1""".stripMargin)),

    // D2: hash-green since r10 — md5-derived slot hashes let the
    // mirror recompute the exact signature matrix and band buckets
    // failOnHot: the mirror brute-forces every band bucket, so a
    // gated run must PROVE no bucket exceeds the star-collapse cap
    // (r10 ADVICE — a corpus regen can no longer silently diverge)
    Query("dedup_minhash_lsh", (s, d) =>
      Dedup.minhashLsh(docs(s, d), failOnHot = true),
      // D2 mirror: recompute the EXACT md5-derived signature matrix
      // (Dedup's MinHashSigMd5 — h1/h2 = the two md5 halves of the gram
      // string, slot s = ((h1 + s·h2) mod 2⁶⁴) ÷ 2, Kirsch–Mitzenmacher)
      // and brute-force the band buckets: docs sharing any 4-slot band
      // slice pair up. Equal to the banded Spark plan because the band
      // bucket is a hash OF the slice (collision odds ~2⁻⁶⁴) and the
      // auto bucket cap (floor 1024) cannot engage at gate corpus sizes
      Oracle(s"""WITH $minhashSigCtes,
                |sig AS (SELECT doc_id, list(v ORDER BY s) AS sg FROM sv GROUP BY doc_id),
                |banded AS (SELECT doc_id, b, sg[b*4+1 : b*4+4] AS slice
                |           FROM sig CROSS JOIN (SELECT unnest(range(0, 8)) AS b))
                |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                |FROM banded a JOIN banded b
                |  ON a.b = b.b AND a.slice = b.slice AND a.doc_id < b.doc_id""".stripMargin)),

    Query("dedup_ngram_jaccard", (s, d) => Dedup.ngramJaccard(docs(s, d), 0.2),
      Oracle(s"""WITH toks AS (SELECT doc_id, $TOKS AS t FROM documents),
                |g AS (
                |  SELECT DISTINCT doc_id,
                |    unnest(list_transform(range(1, len(t) - 1),
                |           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS gram
                |  FROM toks),
                |sizes AS (SELECT doc_id, count(*) AS n FROM g GROUP BY 1),
                |inter AS (
                |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
                |  FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
                |  GROUP BY 1, 2)
                |SELECT doc_a, doc_b, inter, sa.n AS n_a, sb.n AS n_b,
                |       inter / (sa.n + sb.n - inter) AS jaccard
                |FROM inter
                |JOIN sizes sa ON sa.doc_id = doc_a
                |JOIN sizes sb ON sb.doc_id = doc_b
                |WHERE inter / (sa.n + sb.n - inter) >= 0.2""".stripMargin),
      bench = Benched.Isolated),

    // r12: the eval layer's CLUSTERING flavor — Adjusted Rand Index
    // between the lexical near-dup components (D8 over n-gram Jaccard
    // τ=0.2) and the semantic ones (the same walk over embedding
    // cosine ≥ 0.45 pairs): do the two dedup signals agree beyond
    // chance before we commit to one? Exact rational arithmetic —
    // hash-green vs a mirror composing the two recursive-CTE
    // component chains.
    // r13 (the r12 verdict's one `weak`): the semantic pair leg is
    // D5b's BUCKETED-LSH verified pairs, not the O(n²) all-pairs
    // cosine join — every candidate is exact-cosine-verified
    // (precision 1.0 by construction) and the swept 6-table/2-probe
    // config holds pair recall 1.00 at the verify sfs, so the
    // component set — and the hash vs the exact-cosine DuckDB
    // mirror — is unchanged while the entry's own physical plan
    // carries no all-pairs join (an LSH recall regression lands as a
    // hash mismatch here, not a silent drift)
    Query("eval_clustering_ari", (s, d) => {
      val dd = docs(s, d)
      // the two component legs are INDEPENDENT iterative loops (each
      // clusters() call runs its label-propagation rounds eagerly at
      // call time) — overlap them (r16, guide §2.6): each leg's
      // rounds are small fixed-latency jobs, so the pair costs
      // max(lex, sem) instead of their sum; checkpointPinned's
      // registration lock makes the concurrent loops safe, and the
      // resulting labelings — and the ARI — are identical
      val legs = Par.run(Seq[() => DataFrame](
        () => Dedup.clusters(dd, Dedup.ngramJaccard(dd, 0.2))
          .select(col("doc_id"), col("cluster_id")),
        () => Dedup.clusters(dd,
          Similarity.cosinePairsLsh(emb(s, d), 0.45, tables = 6,
              probes = 2, occupancy = 128L)
            .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b")))
          .select(col("doc_id"), col("cluster_id"))))
      Dedup.evalClustering(legs(0), legs(1))
    },
      // eval_clustering_ari mirror: the D8 recursive component chain
      // (lexical, the dedup_cluster spelling) + the same walk over the
      // D5 cosine pairs (semantic), singletons coalesced to their own
      // doc_id on both sides, then the exact rational ARI — num2/den2
      // in BIGINTs, half-up scale-6 on the ABSOLUTE value in HUGEINT
      // (floor-division negativity is engine-dependent), den2 = 0 → 1.0
      Oracle(s"""WITH RECURSIVE toks AS (SELECT doc_id, $TOKS AS t FROM documents),
                |g AS (
                |  SELECT DISTINCT doc_id,
                |    unnest(list_transform(range(1, len(t) - 1),
                |           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS gram
                |  FROM toks),
                |sizes AS (SELECT doc_id, count(*) AS n FROM g GROUP BY 1),
                |inter AS (
                |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
                |  FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
                |  GROUP BY 1, 2),
                |pairsL AS (
                |  SELECT doc_a, doc_b FROM inter
                |  JOIN sizes sa ON sa.doc_id = doc_a
                |  JOIN sizes sb ON sb.doc_id = doc_b
                |  WHERE inter / (sa.n + sb.n - inter) >= 0.2),
                |edgesL AS (SELECT doc_a AS src, doc_b AS dst FROM pairsL
                |           UNION ALL SELECT doc_b, doc_a FROM pairsL),
                |walkL(node, lbl) AS (
                |  SELECT src, src FROM edgesL
                |  UNION
                |  SELECT e.dst, w.lbl FROM walkL w JOIN edgesL e ON e.src = w.node),
                |compL AS (SELECT node AS doc_id, min(lbl) AS cluster_id
                |          FROM walkL GROUP BY 1),
                |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
                |      WHERE list_dot_product(CAST(embedding AS DOUBLE[]),
                |                             CAST(embedding AS DOUBLE[])) > 0),
                |pairsS AS (SELECT * FROM (
                |    SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
                |           round($COS, 6) AS cos_sim
                |    FROM e a JOIN e b ON a.vec_id < b.vec_id)
                |  WHERE cos_sim >= 0.45),
                |edgesS AS (SELECT doc_a AS src, doc_b AS dst FROM pairsS
                |           UNION ALL SELECT doc_b, doc_a FROM pairsS),
                |walkS(node, lbl) AS (
                |  SELECT src, src FROM edgesS
                |  UNION
                |  SELECT e2.dst, w.lbl FROM walkS w JOIN edgesS e2 ON e2.src = w.node),
                |compS AS (SELECT node AS doc_id, min(lbl) AS cluster_id
                |          FROM walkS GROUP BY 1),
                |jj AS (SELECT coalesce(cl.cluster_id, d.doc_id) AS la,
                |              coalesce(cs.cluster_id, d.doc_id) AS lb
                |       FROM documents d
                |       LEFT JOIN compL cl ON cl.doc_id = d.doc_id
                |       LEFT JOIN compS cs ON cs.doc_id = d.doc_id),
                |cells AS (SELECT la, lb, count(*) AS nij FROM jj GROUP BY 1, 2),
                |s1 AS (SELECT CAST(coalesce(sum((nij * (nij - 1)) // 2), 0)
                |         AS BIGINT) AS s_ab FROM cells),
                |ra AS (SELECT la, sum(nij) AS ai FROM cells GROUP BY 1),
                |s2 AS (SELECT CAST(coalesce(sum((ai * (ai - 1)) // 2), 0)
                |         AS BIGINT) AS s_a FROM ra),
                |rb AS (SELECT lb, sum(nij) AS bj FROM cells GROUP BY 1),
                |s3 AS (SELECT CAST(coalesce(sum((bj * (bj - 1)) // 2), 0)
                |         AS BIGINT) AS s_b FROM rb),
                |nn AS (SELECT count(*) AS n FROM jj),
                |x AS (SELECT n, s_ab, s_a, s_b, (n * (n - 1)) // 2 AS t
                |      FROM nn, s1, s2, s3),
                |y AS (SELECT n, s_ab, s_a, s_b,
                |        2 * CAST(t AS HUGEINT) * CAST(s_ab AS HUGEINT)
                |          - 2 * CAST(s_a AS HUGEINT) * CAST(s_b AS HUGEINT) AS num2,
                |        CAST(t AS HUGEINT) * CAST(s_a + s_b AS HUGEINT)
                |          - 2 * CAST(s_a AS HUGEINT) * CAST(s_b AS HUGEINT) AS den2
                |      FROM x)
                |SELECT n, s_ab, s_a, s_b,
                |  CASE WHEN den2 = 0 THEN 1.0 ELSE
                |    CAST((CASE WHEN num2 < 0 THEN -1 ELSE 1 END) *
                |      ((2 * 1000000 * CAST(abs(num2) AS HUGEINT)
                |          + CAST(den2 AS HUGEINT))
                |        // (2 * CAST(den2 AS HUGEINT))) AS DOUBLE) / 1e6
                |  END AS ari
                |FROM y""".stripMargin)),

    // r12: the eval layer's PAIR flavor — precision/recall/F1 of the
    // D2 LSH candidate set against exact-Jaccard truth, the
    // band/threshold tuning audit. τ=0.05 (below D3's dedup cut) so
    // the truth set includes marginal pairs the 8×4 bands genuinely
    // miss — the metric SHOWS the collision curve instead of pinning
    // 1.0. Hash-green: both pair sets have exact mirrors, and the
    // metrics are half-up scale-6 integer quotients
    Query("eval_dedup_metrics", (s, d) =>
      Dedup.evalPairs(
        Dedup.minhashLsh(docs(s, d), failOnHot = true),
        Dedup.ngramJaccard(docs(s, d), 0.05)),
      // eval_dedup_metrics mirror: the D2 cand spelling + the D3 ref
      // spelling (g2/sizes2/inter2 — renamed: minhashSigCtes already
      // owns g), one FULL OUTER join on the pair key, then the same
      // half-up scale-6 integer quotients the Spark side computes.
      // `prec`/`rec` names: PRECISION is a reserved SQL keyword
      Oracle(s"""WITH $minhashSigCtes,
                |sig AS (SELECT doc_id, list(v ORDER BY s) AS sg FROM sv GROUP BY doc_id),
                |banded AS (SELECT doc_id, b, sg[b*4+1 : b*4+4] AS slice
                |           FROM sig CROSS JOIN (SELECT unnest(range(0, 8)) AS b)),
                |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                |         FROM banded a JOIN banded b
                |           ON a.b = b.b AND a.slice = b.slice AND a.doc_id < b.doc_id),
                |g2 AS (SELECT DISTINCT doc_id,
                |         unnest(list_transform(range(1, len(t) - 1),
                |           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS gram
                |       FROM toks),
                |sizes2 AS (SELECT doc_id, count(*) AS n FROM g2 GROUP BY 1),
                |inter2 AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                |             count(*) AS inter
                |           FROM g2 a JOIN g2 b
                |             ON a.gram = b.gram AND a.doc_id < b.doc_id
                |           GROUP BY 1, 2),
                |ref AS (SELECT doc_a, doc_b FROM inter2
                |        JOIN sizes2 sa ON sa.doc_id = doc_a
                |        JOIN sizes2 sb ON sb.doc_id = doc_b
                |        WHERE inter / (sa.n + sb.n - inter) >= 0.05),
                |m AS (SELECT c.doc_a IS NOT NULL AS ic, r.doc_a IS NOT NULL AS ir
                |      FROM cand c FULL OUTER JOIN ref r
                |        ON c.doc_a = r.doc_a AND c.doc_b = r.doc_b),
                |a AS (SELECT
                |  CAST(coalesce(sum(CASE WHEN ic AND ir THEN 1 ELSE 0 END), 0)
                |    AS BIGINT) AS tp,
                |  CAST(coalesce(sum(CASE WHEN ic AND NOT ir THEN 1 ELSE 0 END), 0)
                |    AS BIGINT) AS fp,
                |  CAST(coalesce(sum(CASE WHEN NOT ic AND ir THEN 1 ELSE 0 END), 0)
                |    AS BIGINT) AS fn
                |  FROM m)
                |SELECT tp, fp, fn,
                |  CASE WHEN tp + fp = 0 THEN 0.0 ELSE
                |    CAST((2 * 1000000 * tp + (tp + fp)) // (2 * (tp + fp))
                |      AS DOUBLE) / 1e6 END AS prec,
                |  CASE WHEN tp + fn = 0 THEN 0.0 ELSE
                |    CAST((2 * 1000000 * tp + (tp + fn)) // (2 * (tp + fn))
                |      AS DOUBLE) / 1e6 END AS rec,
                |  CASE WHEN 2 * tp + fp + fn = 0 THEN 0.0 ELSE
                |    CAST((2 * 1000000 * 2 * tp + (2 * tp + fp + fn))
                |      // (2 * (2 * tp + fp + fn)) AS DOUBLE) / 1e6 END AS f1
                |FROM a""".stripMargin)),

    // D3 with the hot-gram df cap ON — the 100 TB-safe flavor (bounded
    // per-key join fan-out); maxDf=5 actually bites on this corpus
    // (its df tail reaches 7), so the oracle exercises the capped
    // denominators, not just the uncapped fast path.
    Query("dedup_ngram_jaccard_capped", (s, d) =>
      Dedup.ngramJaccard(docs(s, d), 0.2, maxDf = 5L),
      // D3 capped: grams with df > 5 leave both the join and the
      // denominators (sizes recomputed over kept grams)
      Oracle(s"""WITH toks AS (SELECT doc_id, $TOKS AS t FROM documents),
                |g0 AS (
                |  SELECT DISTINCT doc_id,
                |    unnest(list_transform(range(1, len(t) - 1),
                |           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS gram
                |  FROM toks),
                |dfs AS (SELECT gram, count(*) AS df FROM g0 GROUP BY 1),
                |g AS (SELECT g0.doc_id, g0.gram
                |      FROM g0 JOIN dfs USING (gram) WHERE df <= 5),
                |sizes AS (SELECT doc_id, count(*) AS n FROM g GROUP BY 1),
                |inter AS (
                |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
                |  FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
                |  GROUP BY 1, 2)
                |SELECT doc_a, doc_b, inter, sa.n AS n_a, sb.n AS n_b,
                |       inter / (sa.n + sb.n - inter) AS jaccard
                |FROM inter
                |JOIN sizes sa ON sa.doc_id = doc_a
                |JOIN sizes sb ON sb.doc_id = doc_b
                |WHERE inter / (sa.n + sb.n - inter) >= 0.2""".stripMargin)),

    Query("dedup_simhash", (s, d) => Dedup.simhashPairs(docs(s, d)),
      // D4 mirror: brute-force hamming over the SAME md5-derived token
      // bit matrix (Dedup.md5Hash64 ≡ bits of substr(md5(tok),1,16)),
      // majority-bit simhash, all pairs with hamming ≤ 3. Equal to the
      // banded Spark plan because banding is recall-exact and the
      // bucket cap cannot engage at gate corpus sizes (≤ maxBucket
      // docs per band value).
      Oracle(s"""WITH toks AS (SELECT doc_id, unnest($TOKS) AS t FROM documents),
                |h AS (SELECT doc_id, substr(md5(t), 1, 16) AS hx FROM toks),
                |bits AS (
                |  SELECT doc_id, j,
                |    ((strpos('0123456789abcdef',
                |        substr(hx, CAST(16 - j // 4 AS INTEGER), 1)) - 1)
                |      // (CASE j % 4 WHEN 0 THEN 1 WHEN 1 THEN 2
                |                    WHEN 2 THEN 4 ELSE 8 END)) % 2 AS b
                |  FROM h CROSS JOIN (SELECT unnest(range(0, 64)) AS j)),
                |maj AS (
                |  SELECT doc_id, j,
                |    CASE WHEN 2 * sum(b) > count(*) THEN 1 ELSE 0 END AS mb
                |  FROM bits GROUP BY doc_id, j),
                |sv AS (SELECT doc_id, list(mb ORDER BY j) AS bv FROM maj GROUP BY doc_id)
                |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                |  CAST(len(list_filter(range(1, 65), i -> a.bv[i] <> b.bv[i]))
                |    AS INTEGER) AS hamming
                |FROM sv a JOIN sv b ON a.doc_id < b.doc_id
                |WHERE len(list_filter(range(1, 65), i -> a.bv[i] <> b.bv[i])) <= 3""".stripMargin)),

    // D12: exact image dedup over REAL rendered PNGs — payload byte
    // equality (md5 equi-join). renderTextImages is injective on the
    // corpus texts, so the DuckDB mirror is plain text equality over
    // the image-kind docs — hash-green without DuckDB decoding a
    // single pixel. The corpus ships NO byte-identical texts (its
    // planted duplicates are near-dups), so the gate corpus plants
    // its own: [[mediaDupDocs]] replicates every 5th doc re-keyed
    // far above the id domain, and the mirror applies the same union
    // in SQL — a 0-row truth set would gate nothing
    Query("dedup_image_exact", (s, d) =>
      Dedup.imageExactPairs(Multimodal.renderTextImages(mediaDupDocs(s, d))),
      // D12 mirror: renderTextImages is injective on NUL-free texts
      // (distinct text bytes → distinct pixel rasters → distinct PNGs;
      // identical texts → byte-identical PNGs, ImageIO's encoder being
      // deterministic), so payload-md5 equality over the rendered
      // image-kind docs IS text equality — DuckDB never decodes a
      // pixel. The UNION plants the same +30,000,000 re-keyed replicas
      // as [[mediaDupDocs]]
      Oracle(s"""WITH img0 AS (SELECT doc_id, coalesce(text, '') AS t
                |             FROM documents WHERE doc_id % 3 = 0),
                |img AS (SELECT doc_id, t FROM img0
                |        UNION ALL
                |        SELECT doc_id + 30000000, t FROM img0 WHERE doc_id % 5 = 0)
                |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
                |FROM img a JOIN img b ON a.t = b.t AND a.doc_id < b.doc_id""".stripMargin)),

    // D13: perceptual image near-dup (rows-only, recall-gated 1.0 vs
    // D12): real dHash per rendered PNG, then D4's banded hamming
    // self-join — byte-identical payloads share a dHash, so the
    // perceptual pair set must CONTAIN every exact pair (the
    // containment gate, semantic-survivors posture)
    Query("dedup_image_phash", (s, d) =>
      Dedup.imagePhashPairs(Multimodal.renderTextImages(mediaDupDocs(s, d))),
      // containment, not a recall trade-off: byte-identical payloads
      // share a dHash (hamming 0, banding recall-exact, cap disengaged
      // at verify scale) ⟹ the perceptual pair set ⊇ the exact pair
      // set — any dip is a dropped true duplicate
      RowsOnly(recall = Some(Recall("dedup_image_exact", 1.0)))),

    // D14a: exact AUDIO dedup over REAL rendered WAVs — same planted
    // replicas + text-equality mirror as D12, audio-kind stratum
    Query("dedup_audio_exact", (s, d) =>
      Dedup.audioExactPairs(Multimodal.renderTextAudio(mediaDupDocs(s, d))),
      // D14a mirror: renderTextAudio is injective (samples ARE the text
      // bytes; the 44-byte header is a function of the length), so WAV
      // byte equality IS text equality over the audio-kind stratum —
      // same planted replicas as D12 (+30M ≡ 0 mod 3 keeps the kind)
      Oracle(s"""WITH au0 AS (SELECT doc_id, coalesce(text, '') AS t
                |            FROM documents WHERE doc_id % 3 = 1),
                |au AS (SELECT doc_id, t FROM au0
                |       UNION ALL
                |       SELECT doc_id + 30000000, t FROM au0 WHERE doc_id % 5 = 0)
                |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
                |FROM au a JOIN au b ON a.t = b.t AND a.doc_id < b.doc_id""".stripMargin)),

    // D14: perceptual audio near-dup (rows-only, recall-gated 1.0 vs
    // D14a by containment — byte-identical ⟹ envelope-hash identical)
    Query("dedup_audio_phash", (s, d) =>
      Dedup.audioPhashPairs(Multimodal.renderTextAudio(mediaDupDocs(s, d))),
      // same containment argument, audio modality
      RowsOnly(recall = Some(Recall("dedup_audio_exact", 1.0)))),

    // D15a: exact VIDEO dedup over REAL rendered animated GIFs — same
    // planted replicas + text-equality mirror, video-kind stratum
    Query("dedup_video_exact", (s, d) =>
      Dedup.videoExactPairs(Multimodal.renderTextVideo(mediaDupDocs(s, d))),
      // D15a mirror: renderTextVideo is injective (GIF is lossless at
      // ≤256 colors; the frames ARE the text-byte chunks), so payload
      // equality IS text equality over the video-kind stratum — same
      // planted replicas
      Oracle(s"""WITH vi0 AS (SELECT doc_id, coalesce(text, '') AS t
                |            FROM documents WHERE doc_id % 3 = 2),
                |vi AS (SELECT doc_id, t FROM vi0
                |       UNION ALL
                |       SELECT doc_id + 30000000, t FROM vi0 WHERE doc_id % 5 = 0)
                |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
                |FROM vi a JOIN vi b ON a.t = b.t AND a.doc_id < b.doc_id""".stripMargin)),

    // D15: video near-dup by shared frame fingerprints (rows-only,
    // recall-gated 1.0 vs D15a — byte-identical videos share every
    // frame hash)
    Query("dedup_video_phash", (s, d) =>
      Dedup.videoPhashPairs(Multimodal.renderTextVideo(mediaDupDocs(s, d))),
      // byte-identical videos share EVERY frame hash — the df cap can't
      // engage at verify scale, so exact pairs always surface
      RowsOnly(recall = Some(Recall("dedup_video_exact", 1.0)))),

    Query("dedup_embedding_cosine", (s, d) => Dedup.embeddingCosine(emb(s, d), 0.45),
      // zero-norm rows are excluded on BOTH sides (list_dot_product of a
      // zero vector with itself is 0 → 0/0 cosine is NaN, which both
      // engines order LARGEST — it would pass >= tau as a phantom pair)
      Oracle(s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
                |           WHERE list_dot_product(CAST(embedding AS DOUBLE[]),
                |                                  CAST(embedding AS DOUBLE[])) > 0)
                |SELECT * FROM (
                |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, round($COS, 6) AS cos_sim
                |  FROM e a JOIN e b ON a.vec_id < b.vec_id)
                |WHERE cos_sim >= 0.45""".stripMargin)),

    // tables=6/probes=2/occupancy=128: the r8 D5b retune pick — the
    // cheapest swept config holding pair recall 1.00 at BOTH verify
    // sfs (3.3× less candidate volume than the old 8-table/256
    // config; precision stays 1.0 — every candidate is exact-verified)
    Query("dedup_embedding_lsh", (s, d) =>
      Similarity.cosinePairsLsh(emb(s, d), 0.45, tables = 6,
        probes = 2, occupancy = 128L),
      RowsOnly(floor = 7, recall = Some(Recall("dedup_embedding_cosine", 0.90)))),

    // D10 SemDeDup: cluster-then-verify — pairs are a subset of
    // dedup_embedding_cosine's ground truth (precision 1.0, recall
    // measured in the spec); nlist=8 bounds each candidate list at
    // the test corpus' size, assign=2 recovers boundary-straddling
    // pairs in the runner-up list
    Query("dedup_semantic", (s, d) =>
      Similarity.semanticDedup(emb(s, d), 0.45, nlist = 8, assign = 2),
      RowsOnly(floor = 6, recall = Some(Recall("dedup_embedding_cosine", 0.70)))),

    // D6-for-embeddings, exact flavor: the per-corpus survivor set
    // from D5's ground-truth pairs — hash-green, and the baseline the
    // semantic flavor's recall gate joins against
    Query("dedup_embedding_survivors", (s, d) =>
      Dedup.embeddingSurvivors(emb(s, d),
        Dedup.embeddingCosine(emb(s, d), 0.45)),
      // D6-for-embeddings: every vec_id minus the exact pair set's
      // dropped (higher-id) side; zero-norm vectors never pair → survive
      Oracle(s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
                |           WHERE list_dot_product(CAST(embedding AS DOUBLE[]),
                |                                  CAST(embedding AS DOUBLE[])) > 0),
                |p AS (
                |  SELECT b.vec_id AS vec_b
                |  FROM e a JOIN e b ON a.vec_id < b.vec_id
                |  WHERE round($COS, 6) >= 0.45)
                |SELECT vec_id FROM embeddings
                |WHERE vec_id NOT IN (SELECT vec_b FROM p)""".stripMargin)),

    // D10's DEPLOY contract (rows-only, recall-gated): survivors from
    // the clustered pair finder — O(n) output however clustered the
    // corpus (the pair list went ~quadratic at sf1 by contract; this
    // is what a production run materializes). D10 pairs are a SUBSET
    // of D5's (precision 1.0, spec-asserted), so this survivor set ⊇
    // the exact one and the recall gate pins that containment at 1.0
    Query("dedup_semantic_survivors", (s, d) =>
      Dedup.embeddingSurvivors(emb(s, d),
        Similarity.semanticDedup(emb(s, d), 0.45, nlist = 8, assign = 2)),
      // containment gate, not a recall trade-off: D10 pairs ⊆ D5 pairs
      // (precision 1.0) ⟹ semantic survivors ⊇ exact survivors ⟹ the
      // measured value is exactly 1.0 — any dip means the clustered
      // finder emitted a FALSE pair (a precision regression, the one
      // failure mode the pair-recall gates above cannot see)
      RowsOnly(recall = Some(Recall("dedup_embedding_survivors", 1.0)))),

    Query("dedup_survivors", (s, d) =>
      Dedup.survivors(docs(s, d), Dedup.ngramJaccard(docs(s, d), 0.2))
        .select(col("doc_id"), col("lang"), col("source")),
      Oracle(s"""WITH toks AS (SELECT doc_id, $TOKS AS t FROM documents),
                |g AS (
                |  SELECT DISTINCT doc_id,
                |    unnest(list_transform(range(1, len(t) - 1),
                |           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS gram
                |  FROM toks),
                |sizes AS (SELECT doc_id, count(*) AS n FROM g GROUP BY 1),
                |inter AS (
                |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
                |  FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
                |  GROUP BY 1, 2),
                |dups AS (
                |  SELECT DISTINCT doc_b FROM inter
                |  JOIN sizes sa ON sa.doc_id = doc_a
                |  JOIN sizes sb ON sb.doc_id = doc_b
                |  WHERE inter / (sa.n + sb.n - inter) >= 0.2)
                |SELECT doc_id, lang, source FROM documents d
                |WHERE NOT EXISTS (SELECT 1 FROM dups WHERE dups.doc_b = d.doc_id)""".stripMargin),
      bench = Benched.Isolated),

    // D7: hash-green since r10 (merged md5-derived signatures — the
    // mirror recomputes per-slot corpus mins and the agreement count)
    Query("dedup_corpus_sim", (s, d) =>
      Dedup.corpusSimilarity(docs(s, d), "source"),
      // D7 mirror: the merged per-source signature is the per-slot min
      // over every member doc's grams (min is merge-order-free), and
      // est_jaccard = agreeing slots / 32 — an exact dyadic rational,
      // no cross-engine float risk. n_docs counts member docs WITH
      // grams (the Spark filter)
      Oracle(s"""WITH $minhashSigCtes,
                |msig AS (SELECT source, s, min(v) AS v FROM sv GROUP BY source, s),
                |csig AS (SELECT source, list(v ORDER BY s) AS sg FROM msig GROUP BY source),
                |nd AS (SELECT source, count(DISTINCT doc_id) AS n_docs FROM g GROUP BY source),
                |j AS (SELECT source, sg, n_docs FROM csig JOIN nd USING (source))
                |SELECT a.source AS group_a, b.source AS group_b,
                |       a.n_docs AS n_a, b.n_docs AS n_b,
                |  CAST(len(list_filter(range(1, 33), i -> a.sg[i] = b.sg[i]))
                |    AS DOUBLE) / 32.0 AS est_jaccard
                |FROM j a JOIN j b ON a.source < b.source""".stripMargin)),

    Query("dedup_cluster", (s, d) =>
      Dedup.clusters(docs(s, d), Dedup.ngramJaccard(docs(s, d), 0.2)),
      // transitive closure of the D3 pair list via recursive min-label
      // reachability — DuckDB's WITH RECURSIVE plays the role of the
      // Spark side's propagation loop
      Oracle(s"""WITH RECURSIVE $clusterLabCtes
                |SELECT doc_id, cluster_id, cluster_size FROM lab""".stripMargin),
      bench = Benched.Isolated),

    // D16: duplication PROFILE — the D8 cluster-size histogram (the
    // "how duplicated is my corpus" audit), singleton mass included
    Query("dedup_profile", (s, d) =>
      Dedup.dedupProfile(docs(s, d), Dedup.ngramJaccard(docs(s, d), 0.2)),
      // D16 mirror: the SAME D8 closure (shared clusterLabCtes — the
      // two cannot drift) collapsed to the cluster-size histogram
      Oracle(s"""WITH RECURSIVE $clusterLabCtes
                |SELECT cluster_size,
                |       count(DISTINCT cluster_id) AS n_clusters,
                |       count(*) AS n_docs
                |FROM lab GROUP BY 1""".stripMargin)),

    // D11: verbatim token-run duplicates (ExactSubstr via winnowing);
    // guarantee: every shared run of ≥ k+w−1 = 23 tokens is caught
    Query("dedup_substring", (s, d) =>
      Dedup.substringDedup(docs(s, d), k = 16, w = 8),
      // D11: same winnowing construction — DuckDB range() is EXCLUSIVE
      // where Spark sequence() is inclusive (hence the +1 on the
      // greatest-floored bound), slices are 16 tokens / 8 hashes both
      // sides, list_min ≡ array_min on the lexicographic md5 ordering
      Oracle(s"""WITH t AS (SELECT doc_id, $TOKS AS t FROM documents),
                |h AS (
                |  SELECT doc_id,
                |         list_transform(range(1, greatest(len(t) - 15, 1) + 1),
                |           i -> md5(array_to_string(t[i : i + 15], ' '))) AS hs
                |  FROM t WHERE len(t) >= 16),
                |fp AS (
                |  SELECT DISTINCT doc_id, unnest(
                |    list_transform(range(1, greatest(len(hs) - 7, 1) + 1),
                |      j -> list_min(hs[j : j + 7]))) AS wh
                |  FROM h)
                |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
                |FROM fp a JOIN fp b ON a.wh = b.wh AND a.doc_id < b.doc_id
                |GROUP BY 1, 2""".stripMargin)),

    // D11 with the boilerplate-fingerprint df cap ON — the 100 TB-safe
    // flavor (bounded per-key join fan-out, the D3b posture); maxDf=2
    // actually bites on this corpus (its df tail reaches 3–4), so the
    // oracle exercises the capped pair set, not just the fast path
    Query("dedup_substring_capped", (s, d) =>
      Dedup.substringDedup(docs(s, d), k = 16, w = 8, maxDf = 2L),
      // D11 capped: fingerprints with df > 2 leave the join (no
      // denominators to resize — n_shared counts kept fingerprints)
      Oracle(s"""WITH t AS (SELECT doc_id, $TOKS AS t FROM documents),
                |h AS (
                |  SELECT doc_id,
                |         list_transform(range(1, greatest(len(t) - 15, 1) + 1),
                |           i -> md5(array_to_string(t[i : i + 15], ' '))) AS hs
                |  FROM t WHERE len(t) >= 16),
                |fp0 AS (
                |  SELECT DISTINCT doc_id, unnest(
                |    list_transform(range(1, greatest(len(hs) - 7, 1) + 1),
                |      j -> list_min(hs[j : j + 7]))) AS wh
                |  FROM h),
                |dfs AS (SELECT wh, count(*) AS df FROM fp0 GROUP BY 1),
                |fp AS (SELECT fp0.doc_id, fp0.wh FROM fp0
                |       JOIN dfs USING (wh) WHERE df <= 2)
                |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
                |FROM fp a JOIN fp b ON a.wh = b.wh AND a.doc_id < b.doc_id
                |GROUP BY 1, 2""".stripMargin)),

    Query("dedup_contamination", (s, d) =>
      Dedup.contamination(docs(s, d), col("doc_id") % 97 === 0, minShared = 3),
      Oracle(s"""WITH toks AS (SELECT doc_id, $TOKS AS t FROM documents),
                |g AS (
                |  SELECT DISTINCT doc_id,
                |    unnest(list_transform(range(1, len(t) - 1),
                |           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS gram
                |  FROM toks),
                |b AS (SELECT doc_id AS bench_id, gram FROM g
                |      WHERE coalesce(doc_id % 97 = 0, FALSE)),
                |c AS (SELECT doc_id, gram FROM g
                |      WHERE NOT coalesce(doc_id % 97 = 0, FALSE))
                |SELECT c.doc_id, b.bench_id, count(*) AS shared_grams
                |FROM c JOIN b ON c.gram = b.gram
                |GROUP BY 1, 2 HAVING count(*) >= 3""".stripMargin)),

    // D9 with the same df cap — shared INFORMATIVE grams only
    Query("dedup_contamination_capped", (s, d) =>
      Dedup.contamination(docs(s, d), col("doc_id") % 97 === 0,
        minShared = 3, maxDf = 5L),
      // D9 capped: df computed over ALL docs (bench + corpus), hot grams
      // dropped from both sides before the join — mirrors the Scala path
      Oracle(s"""WITH toks AS (SELECT doc_id, $TOKS AS t FROM documents),
                |g0 AS (
                |  SELECT DISTINCT doc_id,
                |    unnest(list_transform(range(1, len(t) - 1),
                |           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS gram
                |  FROM toks),
                |dfs AS (SELECT gram, count(*) AS df FROM g0 GROUP BY 1),
                |g AS (SELECT g0.doc_id, g0.gram
                |      FROM g0 JOIN dfs USING (gram) WHERE df <= 5),
                |b AS (SELECT doc_id AS bench_id, gram FROM g
                |      WHERE coalesce(doc_id % 97 = 0, FALSE)),
                |c AS (SELECT doc_id, gram FROM g
                |      WHERE NOT coalesce(doc_id % 97 = 0, FALSE))
                |SELECT c.doc_id, b.bench_id, count(*) AS shared_grams
                |FROM c JOIN b ON c.gram = b.gram
                |GROUP BY 1, 2 HAVING count(*) >= 3""".stripMargin)),

    // D9 bench-suite scale: Bloom pre-cut + exact re-join — same
    // result as dedup_contamination (same oracle), no broadcast of
    // the bench gram table
    Query("dedup_contamination_bloom", (s, d) =>
      Dedup.contaminationBloom(docs(s, d), col("doc_id") % 97 === 0,
        minShared = 3),
      // bloom flavor is a pre-filter + exact re-join: same result set as
      // the broadcast flavor, so it shares dedup_contamination's oracle
      Oracle(s"""WITH toks AS (SELECT doc_id, $TOKS AS t FROM documents),
                |g AS (
                |  SELECT DISTINCT doc_id,
                |    unnest(list_transform(range(1, len(t) - 1),
                |           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS gram
                |  FROM toks),
                |b AS (SELECT doc_id AS bench_id, gram FROM g
                |      WHERE coalesce(doc_id % 97 = 0, FALSE)),
                |c AS (SELECT doc_id, gram FROM g
                |      WHERE NOT coalesce(doc_id % 97 = 0, FALSE))
                |SELECT c.doc_id, b.bench_id, count(*) AS shared_grams
                |FROM c JOIN b ON c.gram = b.gram
                |GROUP BY 1, 2 HAVING count(*) >= 3""".stripMargin)),

    // D9d fuzzy: Jaccard-normalized near-dup contamination; bench =
    // %89 so the flag set intersects the corpus' planted near-dup
    // pairs and the entry is non-empty at every verify sf (3/3/5
    // pairs at sf0.001/0.01/0.1 — %97 would make this vacuously
    // empty at the gate sf)
    Query("dedup_contamination_fuzzy", (s, d) =>
      Dedup.contaminationFuzzy(docs(s, d), col("doc_id") % 89 === 0, 0.5),
      // D9d mirror: cross-set gram join + exact Jaccard over per-doc
      // distinct-gram sizes (uncapped at the catalog defaults, so no
      // dfs CTE), same raw int/int division as the D3 mirrors
      Oracle(s"""WITH toks AS (SELECT doc_id, $TOKS AS t FROM documents),
                |g AS (
                |  SELECT DISTINCT doc_id,
                |    unnest(list_transform(range(1, len(t) - 1),
                |           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS gram
                |  FROM toks),
                |sizes AS (SELECT doc_id, count(*) AS n FROM g GROUP BY 1),
                |b AS (SELECT doc_id AS bench_id, gram FROM g
                |      WHERE coalesce(doc_id % 89 = 0, FALSE)),
                |c AS (SELECT doc_id, gram FROM g
                |      WHERE NOT coalesce(doc_id % 89 = 0, FALSE)),
                |inter AS (
                |  SELECT c.doc_id AS doc_id, b.bench_id, count(*) AS inter
                |  FROM c JOIN b ON c.gram = b.gram
                |  GROUP BY 1, 2)
                |SELECT inter.doc_id AS doc_id, bench_id, inter,
                |       sd.n AS n_doc, sb.n AS n_bench,
                |       inter / (sd.n + sb.n - inter) AS jaccard
                |FROM inter
                |JOIN sizes sd ON sd.doc_id = inter.doc_id
                |JOIN sizes sb ON sb.doc_id = bench_id
                |WHERE inter / (sd.n + sb.n - inter) >= 0.5""".stripMargin)),

    // --- E: similarity search ---
    Query("ann_bruteforce_topk", (s, d) =>
      Similarity.bruteForceTopK(emb(s, d), annIsQuery, 5)
        .withColumn("rank", col("rank").cast("bigint")),
      // zero-norm exclusion mirrors the operator (NaN cosine would rank
      // FIRST in the desc sort — phantom top hits; see dedup_embedding_cosine)
      Oracle(annExactTopkSql())),

    // E12: FILTERED exact top-k — each query ranks only candidates
    // with its own label (the tenant/domain predicate); fully oracled
    Query("ann_filtered_topk", (s, d) =>
      Similarity.filteredTopK(emb(s, d), annIsQuery, 5)
        .withColumn("rank", col("rank").cast("bigint")),
      // E12 mirror: the E1 spelling with the label-equality predicate
      // in the join (rank dense over the per-query filtered set)
      Oracle(s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
                |           WHERE list_dot_product(CAST(embedding AS DOUBLE[]),
                |                                  CAST(embedding AS DOUBLE[])) > 0)
                |SELECT * FROM (
                |  SELECT b.vec_id AS q_id, a.vec_id AS n_id, round($COS, 6) AS cos_sim,
                |         row_number() OVER (
                |           PARTITION BY b.vec_id ORDER BY round($COS, 6) DESC, a.vec_id) AS rank
                |  FROM e a JOIN e b ON b.vec_id % 50 = 0 AND a.label = b.label
                |                    AND a.vec_id <> b.vec_id)
                |WHERE rank <= 5""".stripMargin)),

    // E12b deploy path (rows-only): probed trained lists + label
    // post-filter with selectivity-aware probe widening; exact-count
    // (5 per query) + recall gates
    Query("ann_ivf_filtered_topk", (s, d) =>
      Similarity.ivfTopKFiltered(emb(s, d), annIsQuery, 5)
        .withColumn("rank", col("rank").cast("bigint")),
      // the widened probe is exhaustive at the verify corpora (probeN =
      // nlist) and every label stratum holds ≥ k members: exactly k
      // rows per query, and measured recall is 1.0 by construction;
      // floor 0.9 per the convention (a dataset regen that breaks the
      // exhaustive regime still has to keep real recall)
      RowsOnly(exact = Some(_.topk), recall = Some(Recall("ann_filtered_topk", 0.90)))),

    // E12c the ON-DISK filtered serve (rows-only): index written
    // partitioned by (c_id, lbl = hash(label) % 8), label predicate
    // PRUNES partitions (PartitionFilters spec-proved); auto nlist
    // ≈ √n with the frozen-n_labels probe widening is exhaustive at
    // the verify corpora, so recall vs the exact baseline is 1.0 by
    // construction (the ivfTopKFiltered argument, storage edition).
    // The entry pays the index WRITE too — an honest build+serve cost
    Query("ann_ivf_filtered_indexed", (s, d) => {
      val path = tempIndexDir("graft_e12idx")
      Similarity.writeIvfIndex(emb(s, d), path, nlist = 0, trainIters = 5,
        labelBuckets = 8)
      Similarity.filteredTopKFromIndex(s, path,
          emb(s, d).filter(annIsQuery).select("vec_id", "embedding", "label"),
          5, nprobe = 4)
        .withColumn("rank", col("rank").cast("bigint"))
    },
      // the E12b argument from the on-disk index: widened probe
      // exhaustive, every label stratum ≥ k members, so exactly k rows
      // per query and recall 1.0 by construction; floor 0.9 per the
      // convention
      RowsOnly(exact = Some(_.topk), recall = Some(Recall("ann_filtered_topk", 0.90)))),

    // E10: exact k-NN GRAPH — every vector's top-5 neighbors (the
    // all-queries E1; declared O(n²) exactness baseline, fully
    // oracled). The graph backbone of SemDeDup-style curation.
    Query("knn_graph", (s, d) => Similarity.knnGraph(emb(s, d), 5),
      // E10: the same spelling with every vector as a query
      Oracle(annExactTopkSql(queryPred = "")),
      bench = Benched.Isolated),

    // E10b deploy path (rows-only, recall-gated vs knn_graph):
    // candidates within shared trained k-means lists only, assign=2
    // build-side multi-probe, exact cosines on every reported edge
    Query("knn_graph_ann", (s, d) => Similarity.knnGraphAnn(emb(s, d), 5),
      // E10b edge recall vs the exact graph (directed (q_id, n_id)
      // join keys): trained lists + assign=2 build-side multi-probe +
      // one NN-DESCENT refinement round (r10) measured .940/.943 at
      // sf0.001/sf0.01 (up from .927/.931 unrefined; the isotropic
      // verify corpora plateau there — further rounds add ≤ .001, and
      // the clustered deploy-regime corpus is at 1.00 with or without
      // refinement, PERF.md Round 10); floor 0.9× the
      // smaller measured
      RowsOnly(recall = Some(Recall("knn_graph", 0.85))),
      bench = Benched.Isolated),

    // E11: mutual-kNN components over the EXACT graph — reciprocated
    // edges only, D8 min-label propagation; one row per vector
    // (singletons included), fully oracled via recursive CTE
    Query("knn_components", (s, d) =>
      Similarity.knnComponents(emb(s, d),
        Similarity.knnGraph(emb(s, d), 5)),
      // E11 mirror: the exact graph's reciprocated edges walked to
      // min-label components (the D8 recursive-CTE pattern); every
      // embeddings row surfaces (zero-norm vectors = singletons)
      Oracle(s"""WITH RECURSIVE e AS (
                |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
                |  WHERE list_dot_product(CAST(embedding AS DOUBLE[]),
                |                         CAST(embedding AS DOUBLE[])) > 0),
                |g AS (
                |  SELECT q_id, n_id FROM (
                |    SELECT b.vec_id AS q_id, a.vec_id AS n_id,
                |           row_number() OVER (
                |             PARTITION BY b.vec_id
                |             ORDER BY round($COS, 6) DESC, a.vec_id) AS rank
                |    FROM e a JOIN e b ON a.vec_id <> b.vec_id)
                |  WHERE rank <= 5),
                |m AS (
                |  SELECT x.q_id AS src, x.n_id AS dst FROM g x JOIN g y
                |  ON x.q_id = y.n_id AND x.n_id = y.q_id AND x.q_id < x.n_id),
                |edges AS (SELECT src, dst FROM m UNION ALL SELECT dst, src FROM m),
                |walk(node, lbl) AS (
                |  SELECT src, src FROM edges
                |  UNION
                |  SELECT e2.dst, w.lbl FROM walk w JOIN edges e2 ON e2.src = w.node),
                |comp AS (SELECT node AS vec_id, min(lbl) AS cluster_id
                |         FROM walk GROUP BY 1)
                |SELECT v.vec_id,
                |       coalesce(c.cluster_id, v.vec_id) AS cluster_id,
                |       CASE WHEN c.cluster_id IS NULL THEN 1
                |            ELSE count(*) OVER (PARTITION BY c.cluster_id) END
                |         AS cluster_size
                |FROM embeddings v LEFT JOIN comp c ON c.vec_id = v.vec_id""".stripMargin),
      bench = Benched.Isolated),

    // E11 deploy path (rows-only): same component labeling over the
    // trained-list ANN graph; exact-count gate (one row per vector)
    // + label-agreement recall vs the exact flavor
    Query("knn_components_ann", (s, d) =>
      Similarity.knnComponents(emb(s, d),
        Similarity.knnGraphAnn(emb(s, d), 5)),
      // E11b: label-AGREEMENT gate (overlap on (vec_id, cluster_id)) —
      // stricter than edge recall: one missed mutual edge can split a
      // component and relabel every member of the split half. Measured
      // 1.00 / 0.994 at sf0.001 / sf0.01; floor 0.9× the smaller
      // (PERF.md round 9e)
      RowsOnly(exact = Some(_.vectors), recall = Some(Recall("knn_components", 0.89))),
      bench = Benched.Isolated),

    // E13: PageRank centrality over the exact k-NN graph — the
    // graph-based representativeness weight for curation sampling;
    // 10 integral rounds, fully oracled (chained-CTE unroll)
    Query("knn_pagerank", (s, d) =>
      Similarity.knnPagerank(emb(s, d), Similarity.knnGraph(emb(s, d), 5)),
      // E13 mirror: integral PageRank unrolled to 10 chained rounds
      // over the exact-graph spelling (same g CTE as knn_components)
      Oracle(pagerankSql(k = 5, iters = 10, dampN = 85, dampD = 100))),

    // E13 deploy path (rows-only): the same recurrence over the
    // trained-list ANN graph; exact-count gate (one row per vector),
    // top-decile centrality agreement pinned in the spec
    Query("knn_pagerank_ann", (s, d) =>
      Similarity.knnPagerank(emb(s, d), Similarity.knnGraphAnn(emb(s, d), 5)),
      // E13b: one centrality row per vector, zero-norm dangling
      // singletons included (they hold base rank)
      RowsOnly(exact = Some(_.vectors))),

    // E14: graph-ANN serve — batched beam search over the
    // trained-list kNN graph (undirected adjacency, min-id entry,
    // exact rescoring); rows-only: exact-count + recall gates
    Query("ann_graph_topk", (s, d) =>
      Similarity.graphTopK(emb(s, d),
        Similarity.knnGraphAnn(emb(s, d), 5), annIsQuery, 5),
      // the beam search reaches ≥ k candidates per query at the
      // verify corpora (the undirected graph is connected there);
      // recall measured .88/.80
      // at sf0.001/sf0.01 (beam=32, hops=6; BEAM drives recall on the
      // isotropic verify corpora — 64 reaches .96/.94, hops saturate at
      // 6 — E14 sweep, PERF.md r13). Floor 0.9× the smaller measured
      RowsOnly(exact = Some(_.topk), recall = Some(Recall("ann_bruteforce_topk", 0.72))),
      bench = Benched.Skip),

    // E14b (r14): the SAME beam serve from the LANDED graph-index
    // artifacts — adjacency rows carry their endpoint vectors, so a
    // hop's vector read IS the pb-pruned adjacency scan (never a
    // corpus-table probe; the r13 `weak`, closed). The entry pays
    // the index WRITE too — an honest build+serve cost (the
    // ann_ivf_filtered_indexed posture); idx_graph_serve is the
    // serve-only bench dual
    Query("ann_graph_topk_indexed", (s, d) => {
      val path = tempIndexDir("graft_gidx")
      Similarity.writeGraphIndex(emb(s, d), path, k = 5)
      Similarity.graphTopKFromIndex(s, path,
        emb(s, d).filter(annIsQuery).select("vec_id", "embedding"), 5)
    },
      // the landed-index serve is spec-pinned IDENTICAL to the
      // in-memory E14 on the same graph, so the same ≥ k argument
      // holds and its measured recall is the E14 number by
      // construction; same floor
      RowsOnly(exact = Some(_.topk), recall = Some(Recall("ann_bruteforce_topk", 0.72))),
      bench = Benched.Skip),

    // E14c (r16): the SAME landed-graph beam serve with hop-0 seeded
    // from the coexisting IVF index instead of the frozen min-id
    // entry — the diameter-unbound scale path (a frozen entry makes
    // recall hops-bound at 100× corpus; per-query nearest-centroid
    // seeds land hop-0 beside the answer). Pays both index writes —
    // an honest build+serve cost; idx_graph_serve_seeded is the
    // serve-only bench dual
    Query("ann_graph_topk_seeded", (s, d) => {
      val path = tempIndexDir("graft_gidxs")
      // the two builds are independent (disjoint dirs, same source
      // table) — overlap them (r16, guide §2.6); identical artifacts
      Par.run(Seq(
        () => Similarity.writeGraphIndex(emb(s, d), s"$path/gidx", k = 5),
        () => Similarity.writeIvfIndex(emb(s, d), s"$path/ivf", nlist = 0)))
      Similarity.graphTopKFromIndexSeeded(s, s"$path/gidx", s"$path/ivf",
        emb(s, d).filter(annIsQuery).select("vec_id", "embedding"), 5)
    },
      // same machinery from hop 1 on; hop 0 only ADDS seeds
      // (frozen-entry fallback per query), so reach ≥ the E14b serve;
      // IVF-seeded hop-0 recall measured .94/.84 at sf0.001/sf0.01
      // (r16 — vs the frozen entry's .88/.80 at the same beam=32/
      // hops=6: per-query seeds start beside the answer instead of
      // walking from one fixed node); floor 0.9× the smaller measured
      RowsOnly(exact = Some(_.topk), recall = Some(Recall("ann_bruteforce_topk", 0.75))),
      bench = Benched.Skip),

    // E7: JL sign random projection 64→16 — per-row scan-fused
    // expression, driver-computed ±1 literal matrix; fully oracled
    // (integer micro-unit sums, integer ÷√k rounding)
    Query("emb_project", (s, d) => Similarity.randomProject(emb(s, d)),
      // E7 mirror: same md5 sign coin (first hex char < '8' → +1);
      // elements round ONCE to integer micro-units, the ±1-weighted sum
      // is exact BIGINT (order-free — list_sum, no fold mirroring
      // needed), and ÷√k rounds via integer arithmetic on non-negative
      // operands ("round(sum/4, 6)" lands on engine-dependent halves a
      // quarter of the time — the F16 lesson, measured 14/8000 coords)
      Oracle(s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                |           FROM embeddings),
                |d AS (SELECT unnest(range(0, 16)) AS dim)
                |SELECT vec_id, CAST(dim AS BIGINT) AS dim,
                |       CAST(CASE WHEN s >= 0 THEN (s + 2) // 4
                |            ELSE -((-s + 2) // 4) END AS DOUBLE) / 1e6 AS value
                |FROM (
                |  SELECT vec_id, CAST(dim AS BIGINT) AS dim,
                |         CAST(list_sum(list_transform(range(1, 65), i ->
                |           CAST(round(v[i] * 1e6, 0) AS BIGINT) *
                |           (CASE WHEN substring(md5(CAST(i - 1 AS VARCHAR) || ':' ||
                |                                     CAST(dim AS VARCHAR)), 1, 1) < '8'
                |                 THEN 1 ELSE -1 END))) AS BIGINT) AS s
                |  FROM e CROSS JOIN d)""".stripMargin)),

    // E8: corpus mean-centering + unit-norm — integer mean, exact
    // long Σc², single-op double tail; fully oracled
    Query("emb_normalize", (s, d) => Similarity.normalizeEmbeddings(emb(s, d)),
      // E8 mirror: same scale-6 coordinate rounding, sign-adjusted
      // integer mean, exact BIGINT sum of squares, identical double
      // tail (c/sqrt(ss), sqrt(ss)/1e6) rounded at 6 dp
      Oracle(s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                |           FROM embeddings),
                |x AS (SELECT vec_id, CAST(dim AS BIGINT) AS dim,
                |        CAST(round(v[dim + 1] * 1e6, 0) AS BIGINT) AS x6
                |      FROM e, (SELECT unnest(range(0, 64)) AS dim) d),
                |m AS (SELECT dim, CAST(sign(sum(x6)) AS BIGINT) *
                |        ((2 * abs(sum(x6)) + count(*)) // (2 * count(*))) AS m6
                |      FROM x GROUP BY 1),
                |c AS (SELECT vec_id, x.dim AS dim, x6 - m6 AS c6
                |      FROM x JOIN m ON x.dim = m.dim),
                |n AS (SELECT vec_id, CAST(sum(c6 * c6) AS BIGINT) AS ss
                |      FROM c GROUP BY 1)
                |SELECT c.vec_id AS vec_id, dim,
                |  CASE WHEN ss > 0
                |       THEN round(CAST(c6 AS DOUBLE) / sqrt(CAST(ss AS DOUBLE)), 6)
                |       ELSE 0.0 END AS value,
                |  round(sqrt(CAST(ss AS DOUBLE)) / 1e6, 6) AS norm
                |FROM c JOIN n ON c.vec_id = n.vec_id""".stripMargin)),

    // E9: SQ8 scalar quantization — fully ORACLED integer encode path
    Query("emb_sq_encode", (s, d) => Similarity.sqEncode(emb(s, d)),
      // E9 mirror: the same scale-6 integer path — exact per-dim
      // min/max, code and recon6 via non-negative half-up integer
      // quotients (// ≡ div on non-negative operands), one double cast
      // at the end
      Oracle(s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                |           FROM embeddings),
                |x AS (SELECT vec_id, CAST(dim AS BIGINT) AS dim,
                |        CAST(round(v[dim + 1] * 1e6, 0) AS BIGINT) AS x6
                |      FROM e, (SELECT unnest(range(0, 64)) AS dim) d),
                |r AS (SELECT dim, min(x6) AS min6, max(x6) AS max6
                |      FROM x GROUP BY 1),
                |c AS (SELECT vec_id, x.dim AS dim, x6, min6, max6 - min6 AS d
                |      FROM x JOIN r ON x.dim = r.dim),
                |k AS (SELECT vec_id, dim, min6, d,
                |        CASE WHEN d = 0 THEN 0
                |             ELSE (2 * 255 * (x6 - min6) + d) // (2 * d) END AS code
                |      FROM c)
                |SELECT vec_id, dim, CAST(code AS BIGINT) AS code,
                |  CAST(min6 + CASE WHEN d = 0 THEN 0
                |       ELSE (2 * code * d + 255) // (2 * 255) END AS DOUBLE) / 1e6
                |    AS recon
                |FROM k""".stripMargin)),

    // E9 serving (rows-only, recall-gated vs brute force): quantized
    // shortlist, exact rerank — served scores are exact
    Query("ann_sq_topk", (s, d) =>
      Similarity.sqTopK(emb(s, d), annIsQuery, 5),
      // SQ8 keeps 256 levels per dim — near-lossless on this corpus:
      // measured 1.00 at BOTH verify sfs (rerank=16); floor 0.9×
      RowsOnly(recall = Some(Recall("ann_bruteforce_topk", 0.90)))),

    // E9b: IVF+SQ sub-linear composition — same probing config as
    // ann_ivf_topk (nlist=32/nprobe=8), so its recall ceiling is the
    // probing's; SQ8 reconstruction loses nothing at rr=16 (rows-only,
    // recall-gated at the IVF floor)
    Query("ann_ivfsq_topk", (s, d) =>
      Similarity.ivfSqTopK(emb(s, d), annIsQuery, 5, nlist = 32, nprobe = 8),
      // probing-ceiling-bound like the other IVF serves (same config)
      RowsOnly(recall = Some(Recall("ann_bruteforce_topk", 0.55)))),

    // E9b exhaustive pin: every list probed + corpus-covering rerank
    // must reproduce brute force row-for-row — same oracle as E1
    Query("ann_ivfsq_exhaustive", (s, d) =>
      Similarity.ivfSqTopK(emb(s, d), annIsQuery, 5, nlist = 16,
        nprobe = 16, rerank = Int.MaxValue)
        .withColumn("rank", col("rank").cast("bigint")),
      Oracle(annExactTopkSql())),

    // E7b: serving THROUGH the projection — 16-dim shortlist
    // auto-sized to a constant corpus fraction (the isotropic
    // regime's price; clustered corpora take a fixed overfetch),
    // exact full-dim rerank (precision 1.0; recall gated); rows-only
    Query("ann_project_topk", (s, d) =>
      Similarity.projectedTopK(emb(s, d), annIsQuery, 5),
      // JL shortlist recall on the ISOTROPIC verify corpus (the same
      // regime that caps the ivf family): a FIXED shortlist decays
      // with corpus size here (.62/.74/.42 measured at 500/500/5000
      // vectors — bulk vectors within JL distortion of the true
      // neighbors grow ~n), so the catalog serve auto-sizes the
      // shortlist to a constant 20% corpus fraction, which holds
      // recall flat across sfs (.62/.74 at the verify sfs; clustered
      // corpora hold 0.886 at a 0.2% shortlist — PERF.md Round 8b).
      // Floor 0.9× the smaller verify sf
      RowsOnly(exact = Some(_.topk), recall = Some(Recall("ann_bruteforce_topk", 0.55)))),

    Query("ann_lsh_topk", (s, d) =>
      Similarity.lshTopK(emb(s, d), annIsQuery, 5),
      RowsOnly(exact = Some(_.topk), recall = Some(Recall("ann_bruteforce_topk", 0.55)))),

    Query("ann_lsh_multiprobe", (s, d) =>
      Similarity.lshTopK(emb(s, d), annIsQuery, 5, probes = 2),
      RowsOnly(exact = Some(_.topk), recall = Some(Recall("ann_bruteforce_topk", 0.86)))),

    // nlist=32/nprobe=8 scans the same 25% of the corpus as the old
    // 16/4 but through finer lists: measured recall@5 .58 → .62 at
    // sf0.01 for identical scan cost (PERF.md r7, E-block retune)
    Query("ann_ivf_topk", (s, d) =>
      Similarity.ivfTopK(emb(s, d), annIsQuery, 5,
        nlist = 32, nprobe = 8),
      // this floor and the other ivf and pq serves' reflect the r8
      // quality params — nlist/planes now
      // AUTO-SIZED (nlist ≈ √n, planes by mean-occupancy; Similarity
      // autoNlist/auto-planes), which at the 500-vector verify corpora
      // resolves to the same effective probing the r7 fixed params had:
      // ivf + ivfpq + residual .78/.62 at sf0.001/sf0.01 (the probing
      // ceiling — ks64+rr16 codes lose nothing), pq ks64+rr16 .98/1.00
      // — each ~0.9× the smaller sf (VERIFY_RECALL.json r8 re-confirmed
      // these exact values under auto-sizing)
      RowsOnly(exact = Some(_.topk), recall = Some(Recall("ann_bruteforce_topk", 0.55)))),

    // E3 exactness invariant pinned hash-green: probing EVERY list
    // (nprobe = nlist) scores every candidate exactly, so the serve
    // must reproduce brute force row-for-row — same oracle as E1. The
    // nprobe=4 flavor above stays the benched approximate path.
    Query("ann_ivf_exhaustive", (s, d) =>
      Similarity.ivfTopK(emb(s, d), annIsQuery, 5, nlist = 16, nprobe = 16)
        .withColumn("rank", col("rank").cast("bigint")),
      // exhaustive IVF / IVFPQ must reproduce brute force row-for-row
      // (every list probed; for PQ additionally every candidate inside
      // the rerank window) — the SAME oracle pins both invariants
      Oracle(annExactTopkSql())),

    Query("ann_centroid_update", (s, d) =>
      Similarity.centroidUpdate(emb(s, d), nlist = 16),
      // E4: one Lloyd step. Seed = smallest-md5 sample (engine-portable);
      // assignment argmin on 6dp-rounded cosine + c_id tie-break; update
      // mean = DECIMAL sum of 6dp-rounded elements (order-independent; a
      // float32 never sits exactly on a .5e-6 boundary) / count.
      Oracle(s"""WITH n AS (
                |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                |         list_dot_product(CAST(embedding AS DOUBLE[]),
                |                          CAST(embedding AS DOUBLE[])) AS n2
                |  FROM embeddings
                |  WHERE list_dot_product(CAST(embedding AS DOUBLE[]),
                |                         CAST(embedding AS DOUBLE[])) > 0),
                |cent AS (
                |  SELECT vec_id AS c_id, v AS c_v, n2 AS c_n2 FROM n
                |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
                |assigned AS (
                |  SELECT cid AS c_id, v FROM (
                |    SELECT a.v, c.c_id AS cid,
                |      row_number() OVER (PARTITION BY a.vec_id ORDER BY
                |        round(list_dot_product(a.v, c.c_v)
                |              / (sqrt(a.n2) * sqrt(c.c_n2)), 6) DESC, c.c_id) AS rn
                |    FROM n a CROSS JOIN cent c) WHERE rn = 1),
                |expl AS (
                |  SELECT c_id, dim,
                |         CAST(round(v[dim + 1], 6) AS DECIMAL(16,6)) AS val6
                |  FROM assigned CROSS JOIN (SELECT unnest(range(64)) AS dim))
                |SELECT c_id, dim, count(*) AS n_members,
                |       round(CAST(sum(val6) AS DOUBLE) / count(*), 6) AS mean_val
                |FROM expl GROUP BY 1, 2""".stripMargin)),

    // rerank=128 (not the function's 16 default): the r8 sf1 stretch
    // verify found plain-PQ ADC ordering collapse on a clustered
    // corpus (recall@5 .44 at rr=16 where sf0.01 measures .98 — the
    // isotropic-calibrated shortlist is too thin when a query has
    // thousands of near neighbors); the r8 sf1 sweep shows recall
    // monotone in rr (.44/.58/.74/.89 at 16/32/64/128) at FLAT wall
    // (the shortlist rerank is nq × k·rr exact dots — noise next to
    // the ADC scan). rr can only widen the exact-reranked superset, so
    // the sf0.01 gate numbers keep their .98.
    Query("ann_pq_topk", (s, d) =>
      Similarity.pqTopK(emb(s, d), annIsQuery, 5, rerank = 128),
      RowsOnly(exact = Some(_.topk), recall = Some(Recall("ann_bruteforce_topk", 0.88)))),

    // nlist=32/nprobe=8 as in E3: the ks=64 codes recover EVERYTHING
    // the finer list probing admits — recall ≡ the plain IVF serve
    // (.62/.78 at sf0.01/sf0.001) at a compressed index. rerank=64
    // from the same r8 sf1 sweep (.44→.74 clustered, sf0.01
    // unchanged); the RESIDUAL flavor below stays the documented
    // deploy choice for clustered corpora (.96 at the same budget).
    Query("ann_ivfpq_topk", (s, d) =>
      Similarity.ivfpqTopK(emb(s, d), annIsQuery, 5,
        nlist = 32, nprobe = 8, rerank = 64),
      RowsOnly(exact = Some(_.topk), recall = Some(Recall("ann_bruteforce_topk", 0.55)))),

    // E6's exact-cover invariant pinned hash-green: every list probed
    // AND the rerank window covering every candidate (k·rerank ≥ any
    // test corpus) → the ADC shortlist can't lose anyone, and the
    // exact rerank reproduces brute force row-for-row (E1's oracle).
    Query("ann_ivfpq_exhaustive", (s, d) =>
      Similarity.ivfpqTopK(emb(s, d), annIsQuery, 5,
          nlist = 16, nprobe = 16, rerank = 1 << 22)
        .withColumn("rank", col("rank").cast("bigint")),
      Oracle(annExactTopkSql())),

    // E6r: FAISS-faithful residual encoding (codes quantize u − cent);
    // rerank=64 as E6 — on the clustered sf1 corpus the residual codes
    // turn the same budget into .96 recall (PERF.md Round 8, sf1)
    Query("ann_ivfpq_residual_topk", (s, d) =>
      Similarity.ivfpqResidualTopK(emb(s, d), annIsQuery, 5,
        nlist = 32, nprobe = 8, rerank = 64),
      RowsOnly(exact = Some(_.topk), recall = Some(Recall("ann_bruteforce_topk", 0.55)))),

    // --- F: text analysis ---
    Query("text_lang_id", (s, d) => {
      val out = TextAnalysis.langId(docs(s, d))
      val hitCols = TextAnalysis.stopwords.map { case (l, _) =>
        col(s"hits_$l").cast("bigint").as(s"hits_$l") }
      out.select(Seq(col("doc_id")) ++ hitCols :+ col("pred_lang"): _*)
    },
      Oracle(s"""WITH t AS (SELECT doc_id, $TOKS AS toks FROM documents),
                |h AS (SELECT doc_id,
                |  coalesce(len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is'))), 0) AS hits_en,
                |  coalesce(len(list_filter(toks, x -> x IN ('der','die','das','und','ist','ein'))), 0) AS hits_de,
                |  coalesce(len(list_filter(toks, x -> x IN ('el','la','de','que','y','es'))), 0) AS hits_es,
                |  coalesce(len(list_filter(toks, x -> x IN ('le','la','les','et','est','un'))), 0) AS hits_fr,
                |  coalesce(len(list_filter(toks, x -> x IN ('de','shi','le','bu','wo'))), 0) AS hits_zh
                |FROM t)
                |SELECT doc_id, hits_en, hits_de, hits_es, hits_fr, hits_zh,
                |  CASE
                |    WHEN hits_en >= hits_de AND hits_en >= hits_es AND hits_en >= hits_fr AND hits_en >= hits_zh THEN 'en'
                |    WHEN hits_de >= hits_en AND hits_de >= hits_es AND hits_de >= hits_fr AND hits_de >= hits_zh THEN 'de'
                |    WHEN hits_es >= hits_en AND hits_es >= hits_de AND hits_es >= hits_fr AND hits_es >= hits_zh THEN 'es'
                |    WHEN hits_fr >= hits_en AND hits_fr >= hits_de AND hits_fr >= hits_es AND hits_fr >= hits_zh THEN 'fr'
                |    ELSE 'zh' END AS pred_lang
                |FROM h""".stripMargin)),

    Query("text_quality_score", (s, d) =>
      TextAnalysis.qualityScore(docs(s, d))
        .select(col("doc_id"), col("n_chars_c").cast("bigint").as("n_chars_c"),
          col("wc").cast("bigint").as("wc"),
          col("stop_hits").cast("bigint").as("stop_hits"),
          col("digit_chars").cast("bigint").as("digit_chars"),
          col("punct_chars").cast("bigint").as("punct_chars"), col("score")),
      Oracle(s"""WITH b AS (
                |  SELECT doc_id, length(text) AS n_chars_c,
                |    len($TOKS) AS wc,
                |    len(list_filter($TOKS,
                |        x -> x IN ('the','a','of','and','to','in','is'))) AS stop_hits,
                |    length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS digit_chars,
                |    length(text) - length(regexp_replace(text, '[.!?,;:]', '', 'g')) AS punct_chars
                |  FROM documents)
                |SELECT doc_id, n_chars_c, wc, stop_hits, digit_chars, punct_chars,
                |  CASE WHEN wc > 0 AND n_chars_c > 0 THEN
                |    0.3 * least(1.0, wc / 120.0) +
                |    0.3 * (stop_hits / wc) +
                |    0.2 * (1.0 - digit_chars / n_chars_c) +
                |    0.2 * (1.0 - punct_chars / n_chars_c)
                |  ELSE 0.0 END AS score
                |FROM b""".stripMargin)),

    // F2b: the gate-tuning sweep — survivor count + keep rate at
    // every candidate quality cutoff, computed in one corpus pass
    Query("quality_threshold_sweep", (s, d) =>
      TextAnalysis.qualityThresholdSweep(docs(s, d)),
      // F2b mirror: F2's score CTE verbatim → scale-6 histogram →
      // integer τ compare → half-up integer keep_rate quotient
      Oracle(s"""WITH b AS (
                |  SELECT length(text) AS n_chars_c,
                |    len($TOKS) AS wc,
                |    len(list_filter($TOKS,
                |        x -> x IN ('the','a','of','and','to','in','is'))) AS stop_hits,
                |    length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS digit_chars,
                |    length(text) - length(regexp_replace(text, '[.!?,;:]', '', 'g')) AS punct_chars
                |  FROM documents),
                |s AS (
                |  SELECT CASE WHEN wc > 0 AND n_chars_c > 0 THEN
                |    0.3 * least(1.0, wc / 120.0) +
                |    0.3 * (stop_hits / wc) +
                |    0.2 * (1.0 - digit_chars / n_chars_c) +
                |    0.2 * (1.0 - punct_chars / n_chars_c)
                |  ELSE 0.0 END AS score FROM b),
                |h AS (SELECT CAST(round(score * 1000000, 0) AS BIGINT) AS score6,
                |             count(*) AS cnt
                |      FROM s GROUP BY 1),
                |n AS (SELECT count(*) AS n_docs FROM documents),
                |t AS (SELECT unnest(range(0, 21)) AS i),
                |k AS (SELECT i, CAST(coalesce(sum(cnt), 0) AS BIGINT) AS n_keep
                |      FROM t LEFT JOIN h ON score6 >= i * 50000 GROUP BY 1)
                |SELECT CAST(i AS DOUBLE) / 20 AS tau, n_keep,
                |  CAST((n_keep * 2000000 + n_docs) // (2 * n_docs) AS DOUBLE)
                |    / 1000000 AS keep_rate
                |FROM k, n""".stripMargin)),

    Query("text_token_count", (s, d) =>
      TextAnalysis.tokenCount(docs(s, d))
        .select(col("doc_id"), col("ws_tokens").cast("bigint").as("ws_tokens"),
          col("bpe_tokens").cast("bigint").as("bpe_tokens")),
      Oracle(s"""SELECT doc_id, len($TOKS) AS ws_tokens,
                |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS bpe_tokens
                |FROM documents""".stripMargin)),

    Query("text_fingerprint", (s, d) => TextAnalysis.fingerprint(docs(s, d)),
      Oracle(s"""SELECT doc_id, md5(array_to_string($TOKS, ' ')) AS fingerprint
                |FROM documents""".stripMargin)),

    Query("text_pii_redact", (s, d) =>
      TextAnalysis.piiRedact(docs(s, d))
        .select(col("doc_id"), col("n_emails").cast("bigint").as("n_emails"),
          col("n_ips").cast("bigint").as("n_ips"),
          col("n_phones").cast("bigint").as("n_phones"), col("text_clean")),
      // same three STAGED pattern passes as piiRedact (each stage counts
      // and redacts the previous stage's output); DuckDB's RE2 and
      // Spark's Java regex agree on these conservative ASCII patterns
      Oracle(s"""WITH s1 AS (
                |  SELECT doc_id,
                |         len(regexp_extract_all(text,
                |           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS n_emails,
                |         regexp_replace(text,
                |           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                |           '[EMAIL]', 'g') AS t1
                |  FROM documents),
                |s2 AS (
                |  SELECT doc_id, n_emails,
                |         len(regexp_extract_all(t1,
                |           '\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b')) AS n_ips,
                |         regexp_replace(t1, '\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b',
                |           '[IP]', 'g') AS t2
                |  FROM s1)
                |SELECT doc_id, n_emails, n_ips,
                |       len(regexp_extract_all(t2,
                |         '\\+?[0-9][0-9()\\- ]{6,}[0-9]')) AS n_phones,
                |       regexp_replace(t2, '\\+?[0-9][0-9()\\- ]{6,}[0-9]',
                |         '[PHONE]', 'g') AS text_clean
                |FROM s2""".stripMargin)),

    Query("text_corpus_stats", (s, d) => TextAnalysis.corpusStats(docs(s, d)),
      Oracle(s"""WITH b AS (
                |  SELECT doc_id, lang, source, length(text) AS n_chars_c,
                |    len($TOKS) AS wc,
                |    len(list_filter($TOKS,
                |        x -> x IN ('the','a','of','and','to','in','is'))) AS stop_hits,
                |    length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS digit_chars,
                |    length(text) - length(regexp_replace(text, '[.!?,;:]', '', 'g')) AS punct_chars
                |  FROM documents),
                |s AS (
                |  SELECT lang, source,
                |    CAST(CASE WHEN wc > 0 AND n_chars_c > 0 THEN
                |           0.3 * least(1.0, wc / 120.0) +
                |           0.3 * (stop_hits / wc) +
                |           0.2 * (1.0 - digit_chars / n_chars_c) +
                |           0.2 * (1.0 - punct_chars / n_chars_c)
                |         ELSE 0.0 END AS DECIMAL(10,6)) AS score_d
                |  FROM b)
                |SELECT lang, source, count(*) AS n_docs,
                |       CAST(sum(score_d) AS DOUBLE) / count(*) AS avg_quality
                |FROM s GROUP BY 1, 2""".stripMargin)),

    Query("text_top_tokens", (s, d) => Corpus.topTokens(docs(s, d), "lang", 10),
      Oracle(s"""WITH toks AS (SELECT lang, $TOKS AS t FROM documents),
                |tok AS (SELECT lang, unnest(t) AS token FROM toks),
                |counts AS (SELECT lang, token, count(*) AS cnt FROM tok GROUP BY 1, 2)
                |SELECT lang, token, cnt, rnk FROM (
                |  SELECT lang, token, cnt,
                |    row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, token)
                |      AS rnk
                |  FROM counts)
                |WHERE rnk <= 10""".stripMargin)),

    // F25: idf-weighted distinctive terms per stratum (F8's dual —
    // raw counts find boilerplate, tf-idf finds what differs)
    Query("text_tfidf_terms", (s, d) => Corpus.tfidfTerms(docs(s, d), "lang", 15),
      // F25 mirror: same scale-4 idf rounding (ln ≥ 0 here, so HALF_UP
      // and half-away agree), exact long tf·idf4, integer-ordered rank
      Oracle(s"""WITH base AS (SELECT doc_id, lang, $TOKS AS t FROM documents),
                |tf AS (SELECT lang, token, count(*) AS tf
                |       FROM (SELECT lang, unnest(t) AS token FROM base)
                |       GROUP BY 1, 2),
                |dft AS (SELECT token, count(*) AS df
                |        FROM (SELECT DISTINCT doc_id, unnest(t) AS token FROM base)
                |        GROUP BY 1),
                |n AS (SELECT count(*) AS n FROM documents),
                |s AS (SELECT lang, tf.token AS token, tf, df,
                |        tf * CAST(round((ln((n.n + 1.0) / (df + 1.0)) + 1.0)
                |                        * 10000, 0) AS BIGINT) AS score_i
                |      FROM tf JOIN dft ON tf.token = dft.token, n)
                |SELECT lang, token, tf, df,
                |       CAST(score_i AS DOUBLE) / 10000 AS score, rnk
                |FROM (SELECT *, row_number() OVER (
                |        PARTITION BY lang ORDER BY score_i DESC, token) AS rnk
                |      FROM s)
                |WHERE rnk <= 15""".stripMargin)),

    Query("text_repetition", (s, d) => TextAnalysis.repetition(docs(s, d)),
      Oracle(s"""WITH t AS (SELECT doc_id, $TOKS AS t FROM documents),
                |g AS (
                |  SELECT doc_id,
                |    CAST(greatest(len(t) - 2, 0) AS BIGINT) AS total_grams,
                |    CAST(len(list_distinct(list_transform(range(1, len(t) - 1),
                |         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS BIGINT)
                |      AS distinct_grams
                |  FROM t)
                |SELECT doc_id, total_grams, distinct_grams,
                |  CASE WHEN total_grams > 0
                |       THEN round(1.0 - distinct_grams / CAST(total_grams AS DOUBLE), 6)
                |       ELSE 0.0 END AS rep_ratio
                |FROM g""".stripMargin)),

    Query("text_vocab_exact", (s, d) => TextAnalysis.vocabExact(docs(s, d)),
      Oracle(s"""SELECT lang, count(DISTINCT t) AS vocab
                |FROM (SELECT lang, unnest($TOKS) AS t FROM documents)
                |GROUP BY lang""".stripMargin)),

    // F16: CCNet-style self-perplexity quality score (bigram LM
    // trained on the corpus itself) — fully oracled: the 4-dp ln
    // round + DECIMAL sum keeps both engines bit-identical
    Query("text_lm_score", (s, d) => TextAnalysis.lmScore(docs(s, d)),
      // F16 mirror over the shared [[lmCtes]] chain
      Oracle(s"""WITH $lmCtes
                |SELECT d.doc_id, coalesce(g.n_bigrams, 0) AS n_bigrams,
                |       CAST(-((2 * g.a + g.n_bigrams) // (2 * g.n_bigrams)) AS DOUBLE)
                |         / 10000 AS lm_score
                |FROM documents d LEFT JOIN g USING (doc_id)""".stripMargin)),

    // F26: CCNet head/middle/tail perplexity buckets — integer
    // count-threshold cuts over the bounded (lang, score) frame, no
    // corpus-wide sort, no quantile interpolation to diverge
    Query("text_ccnet_bucket", (s, d) => TextAnalysis.ccnetBuckets(docs(s, d)),
      // F26 mirror: the same score chain, then integer count-threshold
      // cuts per (lang, score) — `above` = docs of the lang scoring
      // strictly higher; head iff 3·above < n, middle iff 3·above < 2n.
      // IS NOT DISTINCT FROM on lang (the null-lang stratum must match
      // its own cut rows); n_lang IS NULL marks the unmatched
      // (unscored) docs — cuts.lang can be legitimately NULL on a
      // matched row
      Oracle(s"""WITH $lmCtes,
                |sc AS (SELECT d.doc_id, d.lang, coalesce(g.n_bigrams, 0) AS n_bigrams,
                |        CAST(-((2 * g.a + g.n_bigrams) // (2 * g.n_bigrams)) AS DOUBLE)
                |          / 10000 AS lm_score
                |       FROM documents d LEFT JOIN g USING (doc_id)),
                |bysc AS (SELECT lang, lm_score, count(*) AS c
                |         FROM sc WHERE n_bigrams > 0 GROUP BY 1, 2),
                |cuts AS (SELECT lang, lm_score,
                |    coalesce(sum(c) OVER (PARTITION BY lang ORDER BY lm_score DESC
                |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS above,
                |    sum(c) OVER (PARTITION BY lang) AS n_lang
                |  FROM bysc)
                |SELECT sc.doc_id, sc.lang, sc.lm_score,
                |  CASE WHEN cuts.n_lang IS NULL THEN 'unscored'
                |       WHEN 3 * cuts.above < cuts.n_lang THEN 'head'
                |       WHEN 3 * cuts.above < 2 * cuts.n_lang THEN 'middle'
                |       ELSE 'tail' END AS bucket
                |FROM sc LEFT JOIN cuts ON sc.lang IS NOT DISTINCT FROM cuts.lang
                |  AND sc.lm_score = cuts.lm_score""".stripMargin)),

    // F19: the quality/domain classifier stage (fastText's role in
    // GPT-3/LLaMA curation) as multinomial Naive Bayes trained on the
    // corpus' source labels — fully oracled: scale-4-integer ln terms
    // and priors, exact integer score sums, integer argmax with
    // class-name tie-break (no double ever enters a comparison)
    Query("text_classifier_score", (s, d) => TextAnalysis.nbClassify(docs(s, d)),
      // F19 mirror: multinomial NB — per-(tok, class) ln term and
      // per-class ln prior both round to scale-4 integers, per-doc
      // class scores are exact BIGINT sums, argmax compares integers
      // with a class-name tie-break; a (tok, class) pair unseen in
      // training left-joins to c_tc = 0 (smoothing mass), so the CROSS
      // JOIN over classes scores every class for every doc
      Oracle(s"""WITH dt AS (
                |  SELECT doc_id, source, tok, count(*) AS m
                |  FROM (SELECT doc_id, source, unnest($TOKS) AS tok FROM documents)
                |  GROUP BY 1, 2, 3),
                |nd AS (SELECT count(*) AS n_docs FROM documents),
                |clsp AS (
                |  SELECT c.source,
                |         CAST(round(ln(CAST(c.n_docs_c AS DOUBLE) / nd.n_docs)
                |           * 10000, 0) AS BIGINT) AS prior_i,
                |         coalesce(cm.n_toks_c, 0) AS n_toks_c
                |  FROM (SELECT source, count(*) AS n_docs_c
                |        FROM documents GROUP BY 1) c
                |  LEFT JOIN (SELECT source, CAST(sum(m) AS BIGINT) AS n_toks_c
                |             FROM dt GROUP BY 1) cm USING (source)
                |  CROSS JOIN nd),
                |tc AS (SELECT tok, source, CAST(sum(m) AS BIGINT) AS c_tc
                |       FROM dt GROUP BY 1, 2),
                |v AS (SELECT count(DISTINCT tok) AS v FROM dt),
                |terms AS (
                |  SELECT st.doc_id, c.source,
                |         CAST(sum(st.m * CAST(round(ln((coalesce(tc.c_tc, 0) + 0.5)
                |           / (c.n_toks_c + 0.5 * v.v)) * 10000, 0) AS BIGINT))
                |           AS BIGINT) AS a,
                |         CAST(sum(st.m) AS BIGINT) AS n
                |  FROM (SELECT doc_id, tok, m FROM dt) st
                |  CROSS JOIN (SELECT source, n_toks_c FROM clsp) c
                |  LEFT JOIN tc ON tc.tok = st.tok AND tc.source = c.source
                |  CROSS JOIN v
                |  GROUP BY 1, 2),
                |scores AS (
                |  SELECT d.doc_id, c.source,
                |         c.prior_i + coalesce(t2.a, 0) AS score_i,
                |         coalesce(t2.n, 0) AS n_toks
                |  FROM documents d CROSS JOIN clsp c
                |  LEFT JOIN terms t2 ON t2.doc_id = d.doc_id AND t2.source = c.source)
                |SELECT doc_id, source AS pred_source,
                |       CAST(score_i AS DOUBLE) / 10000 AS nb_score, n_toks
                |FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                |        ORDER BY score_i DESC, source ASC) AS rn FROM scores)
                |WHERE rn = 1""".stripMargin)),

    // F22: C4-style blocklist hygiene — occurrence counts + keep
    // flag, scan-fused zero-shuffle; list chosen to actually hit the
    // corpus so the flag path is exercised
    Query("text_blocklist", (s, d) =>
      TextAnalysis.blocklistFilter(docs(s, d), BlockWords),
      // F22 mirror: occurrence count over the same normalized tokens
      Oracle {
        val bl = BlockWords.map(w => s"'$w'").mkString("[", ", ", "]")
        s"""SELECT doc_id,
           |  CAST(coalesce(len(list_filter($TOKS, x -> list_contains($bl, x))), 0)
           |    AS BIGINT) AS n_blocked,
           |  coalesce(len(list_filter($TOKS, x -> list_contains($bl, x))), 0) = 0
           |    AS keep
           |FROM documents""".stripMargin
      }),

    // F23: the Gopher rule filter — every signal + composite keep;
    // minWords=30 on the verify corpora so rule 1 genuinely engages
    // (the synthetic docs run ~20-120 words)
    Query("text_gopher_rules", (s, d) =>
      TextAnalysis.gopherRules(docs(s, d), minWords = 30L),
      // F23 mirror: each Gopher signal spelled from the same
      // normalized-token / whitespace-word primitives, int/int ratios
      // rounded at 6 dp on both engines, NULL text failing rule 1 at
      // n_words 0 exactly like the Spark coalesces
      Oracle(s"""WITH t AS (
                |  SELECT doc_id, $TOKS AS t,
                |    list_filter(string_split_regex(text, '\\s+'), x -> len(x) > 0) AS w,
                |    text FROM documents),
                |b AS (
                |  SELECT doc_id,
                |    CAST(coalesce(len(t), 0) AS BIGINT) AS n_words,
                |    coalesce(len(array_to_string(t, '')), 0) AS tok_chars,
                |    coalesce(len(w), 0) AS n_raw,
                |    coalesce(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]'))), 0)
                |      AS n_alpha,
                |    CAST(coalesce(len(list_filter(t,
                |        x -> x IN ('the','a','of','and','to','in','is'))), 0) AS INTEGER)
                |      AS stop_hits,
                |    CAST(coalesce(greatest(len(t) - 2, 0), 0) AS BIGINT) AS total_grams,
                |    CAST(coalesce(len(list_distinct(list_transform(range(1, len(t) - 1),
                |         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))), 0) AS BIGINT)
                |      AS distinct_grams,
                |    CAST(coalesce(len(text) - len(regexp_replace(text, '#', '', 'g')), 0)
                |       + coalesce(len(regexp_extract_all(text, '\\.\\.\\.')), 0) AS BIGINT)
                |      AS n_symbols
                |  FROM t),
                |r AS (
                |  SELECT doc_id, n_words,
                |    CASE WHEN n_words > 0
                |         THEN round(CAST(tok_chars AS DOUBLE) / n_words, 6)
                |         ELSE 0.0 END AS mean_word_len,
                |    CASE WHEN n_raw > 0
                |         THEN round(CAST(n_alpha AS DOUBLE) / n_raw, 6)
                |         ELSE 0.0 END AS alpha_ratio,
                |    stop_hits,
                |    CASE WHEN total_grams > 0
                |         THEN round(1.0 - distinct_grams / CAST(total_grams AS DOUBLE), 6)
                |         ELSE 0.0 END AS rep_ratio,
                |    CASE WHEN n_words > 0
                |         THEN round(CAST(n_symbols AS DOUBLE) / n_words, 6)
                |         ELSE 0.0 END AS symbol_ratio
                |  FROM b)
                |SELECT doc_id, n_words, mean_word_len, alpha_ratio, stop_hits,
                |  rep_ratio, symbol_ratio,
                |  (n_words >= 30 AND n_words <= 100000 AND
                |   mean_word_len >= 3.0 AND mean_word_len <= 10.0 AND
                |   alpha_ratio >= 0.8 AND stop_hits >= 2 AND
                |   rep_ratio <= 0.3 AND symbol_ratio <= 0.1) AS keep
                |FROM r""".stripMargin)),

    // F24: BM25 top-k retrieval over a fixed topical query (terms
    // present in the corpus at different dfs, so idf genuinely
    // differentiates)
    Query("text_bm25_topk", (s, d) =>
      TextAnalysis.bm25TopK(docs(s, d), Bm25Terms, 20),
      // F24 mirror — generated from the same Bm25Terms (see bm25Sql)
      Oracle(bm25Sql)),

    // F24c (r11): the INCREMENTAL lexical index — freeze the index on
    // half the corpus, append the other half as a delta segment
    // (df/meta increments + pbkt-partitioned postings), serve from
    // base+delta. The oracle is the UNSPLIT corpus' one-pass BM25
    // mirror, so the hash gate holds the append path's
    // equality-to-rebuild contract end-to-end
    Query("text_bm25_incremental", (s, d) => {
      val path = tempIndexDir("graft_bm25inc")
      val dd = docs(s, d)
      TextAnalysis.writeBm25Stats(dd.filter(col("doc_id") % 2 === 0),
        "bm25inc_cat", s"$path/bm25")
      TextAnalysis.appendToBm25Index(dd.filter(col("doc_id") % 2 =!= 0),
        "bm25inc_cat", ingestBatch = 0L)
      TextAnalysis.bm25TopKFromIndex(s, "bm25inc_cat", Bm25Terms, 20)
    },
      // F24c mirror — the SAME unsplit-corpus SQL: the Spark side
      // builds the index on half the docs and appends the rest, so
      // hash-matching the one-pass mirror IS the append path's
      // equality-to-rebuild proof
      Oracle(bm25Sql)),

    // F27: hybrid retrieval — RRF of F24's lexical top-20 and the
    // embedding-cosine top-20 of doc 0's vector (vec_id ≡ doc_id, the
    // corpus_integrity contract); rank-only fusion, fully ORACLED
    // from the two green mirrors
    Query("retrieval_hybrid_rrf", (s, d) =>
      TextAnalysis.rrfFuse(
        TextAnalysis.bm25TopK(docs(s, d), Bm25Terms, 20)
          .select(col("doc_id"), col("rank")),
        Similarity.bruteForceTopK(emb(s, d), col("vec_id") === 0, 20)
          .select(col("n_id").as("doc_id"), col("rank"))),
      // F27 mirror: the SAME bm25Ctes chain (lex ranks), E1's cosine
      // spelling for the semantic ranks of vec 0, then rank-only RRF —
      // each term the scale-6 half-up integer 1e6/(60+rank) (60+r
      // divides 2e6 at r=40: the rational sum's 6-dp rounding is
      // engine-dependent exactly there), summed in exact BIGINTs
      Oracle(s"""WITH $bm25Ctes,
                |lex AS (SELECT doc_id,
                |          row_number() OVER (ORDER BY score DESC, doc_id) AS rank
                |        FROM topk),
                |em AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
                |       WHERE list_dot_product(CAST(embedding AS DOUBLE[]),
                |                              CAST(embedding AS DOUBLE[])) > 0),
                |sem AS (SELECT doc_id, rank FROM (
                |    SELECT a.vec_id AS doc_id,
                |           row_number() OVER (ORDER BY round($COS, 6) DESC, a.vec_id)
                |             AS rank
                |    FROM em a JOIN em b ON b.vec_id = 0 AND a.vec_id <> 0)
                |  WHERE rank <= 20),
                |u AS (SELECT doc_id,
                |        (2 * 1000000 + (60 + rank)) // (2 * (60 + rank)) AS s6
                |      FROM lex
                |      UNION ALL
                |      SELECT doc_id,
                |        (2 * 1000000 + (60 + rank)) // (2 * (60 + rank)) AS s6
                |      FROM sem),
                |f AS (SELECT doc_id, CAST(sum(s6) AS BIGINT) AS s6
                |      FROM u GROUP BY 1)
                |SELECT doc_id, CAST(s6 AS DOUBLE) / 1e6 AS rrf_score,
                |  row_number() OVER (ORDER BY s6 DESC, doc_id) AS rank
                |FROM f QUALIFY rank <= 20""".stripMargin)),

    // F28: MMR diversified rerank of doc 0's cosine top-20 (λ = 1/2)
    // — greedy argmax over EXACT scale-6 integers, so the unrolled
    // CTE oracle hash-matches bit-for-bit
    Query("retrieval_mmr", (s, d) =>
      Similarity.mmrTopK(emb(s, d), col("vec_id") === 0),
      // F28: greedy MMR unrolled into chained integer-argmax CTEs
      Oracle(mmrSql(kCand = 20, kOut = 10, lamN = 1, lamD = 2))),

    // F32: two-stage serve — the F27 fused page rescored by the
    // frozen linear LTR model (RRF + quality + cosine features, all
    // exact scale-6 longs; fully oracled)
    Query("retrieval_ltr_rerank", (s, d) =>
      Retrieval.ltrRerank(
        TextAnalysis.rrfFuse(
          TextAnalysis.bm25TopK(docs(s, d), Bm25Terms, 20)
            .select(col("doc_id"), col("rank")),
          Similarity.bruteForceTopK(emb(s, d), col("vec_id") === 0, 20)
            .select(col("n_id").as("doc_id"), col("rank"))),
        docs(s, d), emb(s, d), queryVec = 0L),
      // F32 mirror: the F27 fused-page CTEs verbatim, then the frozen
      // linear model — q6 from the F2 score spelling, cos6 from E1's
      // cosine spelling (self-cosine included; missing rows coalesce
      // to 0 per the ltrRerank feature conventions), su in exact
      // BIGINTs, one double at the end
      Oracle(s"""WITH $bm25Ctes,
                |lex AS (SELECT doc_id,
                |          row_number() OVER (ORDER BY score DESC, doc_id) AS rank
                |        FROM topk),
                |em AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
                |       WHERE list_dot_product(CAST(embedding AS DOUBLE[]),
                |                              CAST(embedding AS DOUBLE[])) > 0),
                |sem AS (SELECT doc_id, rank FROM (
                |    SELECT a.vec_id AS doc_id,
                |           row_number() OVER (ORDER BY round($COS, 6) DESC, a.vec_id)
                |             AS rank
                |    FROM em a JOIN em b ON b.vec_id = 0 AND a.vec_id <> 0)
                |  WHERE rank <= 20),
                |u AS (SELECT doc_id,
                |        (2 * 1000000 + (60 + rank)) // (2 * (60 + rank)) AS s6
                |      FROM lex
                |      UNION ALL
                |      SELECT doc_id,
                |        (2 * 1000000 + (60 + rank)) // (2 * (60 + rank)) AS s6
                |      FROM sem),
                |f AS (SELECT doc_id, CAST(sum(s6) AS BIGINT) AS s6
                |      FROM u GROUP BY 1),
                |page AS (SELECT doc_id, s6 FROM (
                |    SELECT doc_id, s6,
                |           row_number() OVER (ORDER BY s6 DESC, doc_id) AS rank
                |    FROM f) WHERE rank <= 20),
                |$qualityQ6Ctes,
                |cs AS (SELECT a.vec_id AS doc_id,
                |         CAST(round(round($COS, 6) * 1e6, 0) AS BIGINT) AS cos6
                |       FROM em a JOIN em b ON b.vec_id = 0),
                |feat AS (SELECT p.doc_id,
                |           2 * p.s6 + coalesce(q.q6, 0) + coalesce(c.cos6, 0) AS su
                |         FROM page p LEFT JOIN qs q USING (doc_id)
                |                     LEFT JOIN cs c USING (doc_id))
                |SELECT doc_id, CAST(su AS DOUBLE) / 1e6 AS ltr_score,
                |  row_number() OVER (ORDER BY su DESC, doc_id) AS rank
                |FROM feat QUALIFY rank <= 10""".stripMargin)),

    // F30 (r12): the retrieval EVALUATION layer — recall@20 / MRR /
    // binary nDCG@20 of the lexical and fused rankings against the
    // exact semantic top-20 (vec 0's query, the F27 reference).
    // Every metric is an exact scale-6 integer quotient and the
    // log2 discounts are shared literals (Retrieval.disc6), so the
    // whole eval hash-matches the DuckDB mirror
    Query("eval_retrieval_metrics", (s, d) => {
      val lexRank = TextAnalysis.bm25TopK(docs(s, d), Bm25Terms, 20)
        .select(col("doc_id"), col("rank"))
      val ref = Similarity.bruteForceTopK(emb(s, d), col("vec_id") === 0, 20)
        .select(col("n_id").as("doc_id"), col("rank"))
      val cand = lexRank
        .select(lit("bm25").as("system"), col("doc_id"), col("rank"))
        .unionByName(operators.TextAnalysis.rrfFuse(lexRank, ref)
          .select(lit("rrf").as("system"), col("doc_id"), col("rank")))
      operators.Retrieval.evalTopK(cand, ref, 20).orderBy("system")
    },
      // F30 mirror: the SAME lex/ref/fused spellings as the F24/F27
      // mirrors, then the metric arithmetic — binary relevance via a
      // LEFT JOIN on the reference membership, the position discounts
      // as the IDENTICAL scale-6 literals Retrieval.disc6 renders on
      // the Spark side, every metric an integer half-up quotient
      Oracle {
        val d6 = operators.Retrieval.disc6(20)
        val discVals = d6.zipWithIndex
          .map { case (v, i) => s"(${i + 1}, $v)" }.mkString(", ")
        val idcg6 = d6.sum
        s"""WITH $bm25Ctes,
           |lex AS (SELECT doc_id,
           |          row_number() OVER (ORDER BY score DESC, doc_id) AS rank
           |        FROM topk),
           |em AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
           |       WHERE list_dot_product(CAST(embedding AS DOUBLE[]),
           |                              CAST(embedding AS DOUBLE[])) > 0),
           |ref AS (SELECT doc_id, rank FROM (
           |    SELECT a.vec_id AS doc_id,
           |           row_number() OVER (ORDER BY round($COS, 6) DESC, a.vec_id)
           |             AS rank
           |    FROM em a JOIN em b ON b.vec_id = 0 AND a.vec_id <> 0)
           |  WHERE rank <= 20),
           |u AS (SELECT doc_id,
           |        (2 * 1000000 + (60 + rank)) // (2 * (60 + rank)) AS s6
           |      FROM lex
           |      UNION ALL
           |      SELECT doc_id,
           |        (2 * 1000000 + (60 + rank)) // (2 * (60 + rank)) AS s6
           |      FROM ref),
           |f AS (SELECT doc_id, CAST(sum(s6) AS BIGINT) AS s6
           |      FROM u GROUP BY 1),
           |fused AS (SELECT doc_id,
           |            row_number() OVER (ORDER BY s6 DESC, doc_id) AS rank
           |          FROM f QUALIFY rank <= 20),
           |cand AS (SELECT 'bm25' AS system, doc_id, rank FROM lex
           |         UNION ALL
           |         SELECT 'rrf' AS system, doc_id, rank FROM fused),
           |disc(i, d6) AS (VALUES $discVals),
           |j AS (SELECT c.system, c.rank,
           |        (r.doc_id IS NOT NULL) AS rel, disc.d6
           |      FROM cand c
           |      LEFT JOIN ref r USING (doc_id)
           |      LEFT JOIN disc ON disc.i = c.rank),
           |agg AS (SELECT system,
           |          CAST(sum(CASE WHEN rel THEN 1 ELSE 0 END) AS BIGINT)
           |            AS hits,
           |          min(CASE WHEN rel THEN rank END) AS fr,
           |          CAST(sum(CASE WHEN rel THEN d6 ELSE 0 END) AS BIGINT)
           |            AS dcg6
           |        FROM j GROUP BY 1)
           |SELECT system, hits,
           |  CAST((2 * 1000000 * hits + 20) // (2 * 20) AS DOUBLE) / 1e6
           |    AS recall,
           |  coalesce(CAST((2 * 1000000 + fr) // (2 * fr) AS DOUBLE) / 1e6, 0.0)
           |    AS mrr,
           |  CAST((2 * 1000000 * dcg6 + $idcg6) // (2 * $idcg6) AS DOUBLE) / 1e6
           |    AS ndcg
           |FROM agg ORDER BY system""".stripMargin
      }),

    // F30d (r13, the r12 verdict's #4): evalTopKGrouped exercised
    // END-TO-END — three term-set queries (system = q_id), each
    // BM25-served page judged against its OWN reference whose size
    // differs per query (see GroupedEvalQueries), so the per-system
    // denominator/idcg path — the thing the grouped contract adds
    // over evalTopK's shared-reference cross — is what the oracle
    // hashes. ONE grouped call, never a driver loop over queries
    Query("eval_grouped_metrics", (s, d) => {
      val dd = docs(s, d)
      // ONE stats aggregate for all three term sets (r17 — bm25TopK
      // per set paid three eager stats jobs over the same cached
      // tokenization); per-set pages identical (spec-pinned)
      val cand = TextAnalysis.bm25TopKMulti(dd, GroupedEvalQueries, 20)
        .map { case (q, df) =>
          df.select(lit(q).as("system"), col("doc_id"), col("rank"))
        }.reduce(_.unionByName(_))
      val toks = dd.select(col("doc_id"),
        graft.functions.TextFunctions.tokens(col("text")).as("toks"))
      val ref = GroupedEvalQueries.map { case (q, ts) =>
        toks.filter(
            ts.map(t => size(filter(col("toks"), x => x === lit(t))))
              .reduce(_ + _) >= lit(GroupedEvalMinCount))
          .select(lit(q).as("system"), col("doc_id"))
      }.reduce(_.unionByName(_))
      operators.Retrieval.evalTopKGrouped(cand, ref, 20).orderBy("system")
    },
      // F30d mirror: one bm25ChainFor chain per query (the F24 spelling,
      // suffixed _g0/_g1/_g2), the raw-count relevance rule as plain
      // list_filter sums, then the GROUPED metric arithmetic — the
      // per-system denominator comes from EACH query's own reference
      // count via least(k, n_ref), and idcg6 is the disc6 prefix sum AT
      // that denominator (a VALUES lookup mirroring the Spark side's
      // idcgMap literal), so the capped-recall convention is what gets
      // hash-checked
      Oracle {
        val d6 = operators.Retrieval.disc6(20)
        val discVals = d6.zipWithIndex
          .map { case (v, i) => s"(${i + 1}, $v)" }.mkString(", ")
        val idcgVals = d6.scanLeft(0L)(_ + _).tail.zipWithIndex
          .map { case (v, i) => s"(${i + 1}, $v)" }.mkString(", ")
        val chains = GroupedEvalQueries.zipWithIndex
          .map { case ((_, ts), i) => bm25ChainFor(ts, s"_g$i") }
          .mkString(",\n")
        val candU = GroupedEvalQueries.zipWithIndex.map { case ((q, _), i) =>
          s"""SELECT '$q' AS system, doc_id,
             |    row_number() OVER (ORDER BY score DESC, doc_id) AS rank
             |  FROM topk_g$i""".stripMargin
        }.mkString("\n  UNION ALL\n")
        val refU = GroupedEvalQueries.map { case (q, ts) =>
          val cnt = ts
            .map(t => s"coalesce(len(list_filter(toks, x -> x = '$t')), 0)")
            .mkString(" + ")
          s"""SELECT '$q' AS system, doc_id FROM d
             |  WHERE ($cnt) >= $GroupedEvalMinCount""".stripMargin
        }.mkString("\n  UNION ALL\n")
        s"""WITH $bm25DocsCtes,
           |${chains},
           |cand AS (
           |  $candU),
           |ref AS (
           |  $refU),
           |refc AS (SELECT system, count(*) AS n_ref FROM ref GROUP BY 1),
           |disc(i, d6) AS (VALUES $discVals),
           |idcg(denom, idcg6) AS (VALUES $idcgVals),
           |j AS (SELECT c.system, c.rank,
           |        (r.doc_id IS NOT NULL) AS rel, disc.d6
           |      FROM cand c
           |      LEFT JOIN ref r ON r.system = c.system AND r.doc_id = c.doc_id
           |      LEFT JOIN disc ON disc.i = c.rank),
           |agg AS (SELECT system,
           |          CAST(sum(CASE WHEN rel THEN 1 ELSE 0 END) AS BIGINT)
           |            AS hits,
           |          min(CASE WHEN rel THEN rank END) AS fr,
           |          CAST(sum(CASE WHEN rel THEN d6 ELSE 0 END) AS BIGINT)
           |            AS dcg6
           |        FROM j GROUP BY 1)
           |SELECT a.system, a.hits,
           |  CAST((2 * 1000000 * a.hits + i2.denom) // (2 * i2.denom)
           |       AS DOUBLE) / 1e6 AS recall,
           |  coalesce(CAST((2 * 1000000 + a.fr) // (2 * a.fr) AS DOUBLE) / 1e6,
           |           0.0) AS mrr,
           |  CAST((2 * 1000000 * a.dcg6 + i2.idcg6) // (2 * i2.idcg6)
           |       AS DOUBLE) / 1e6 AS ndcg
           |FROM agg a
           |JOIN refc USING (system)
           |JOIN idcg i2 ON i2.denom = least(20, refc.n_ref)
           |ORDER BY system""".stripMargin
      }),

    // The composed SERVE flow (r10, HASH-GREEN — serveSql unrolls the
    // whole composition): frozen BM25 index (dfs + meta + the r11
    // posting table) + written IVF index built per call (an honest
    // build+serve number), then posting-list lexical top-k → pruned
    // index probe → RRF fuse → MMR diversify — the production page
    // path, docs table never read at serve time; every stage
    // additionally spec-pinned ≡ its catalog sibling at exhaustive
    // probing (RetrievalServeSpec)
    Query("retrieval_serve", (s, d) => {
      val path = tempIndexDir("graft_rserve")
      operators.Retrieval.buildArtifacts(docs(s, d), emb(s, d),
        "serve_bm25_cat", path, nlist = 8)
      operators.Retrieval.serve(s, "serve_bm25_cat", path,
        emb(s, d),
        emb(s, d).filter(col("vec_id") === 0).select("vec_id", "embedding"),
        operators.Retrieval.ServeConfig(Bm25Terms, nprobe = 8))
    },
      // F29 mirror: the whole composed serve, end-to-end (exhaustive
      // probing makes the index side ≡ exact; frozen stats ≡ self-stats
      // by the bm25TopKAgainst contract) — hash-green, prototyped
      // bit-identical before wiring
      Oracle(serveSql(kOut = 10, lamN = 1, lamD = 2))),

    // F15b: rows-only (a sketch estimate has no cross-engine mirror);
    // gated by the exact lang-count invariant + VocabSketchSpec's 5%
    // error and shard-merge bounds against F15
    Query("text_vocab_hll", (s, d) => TextAnalysis.vocabHll(docs(s, d)),
      RowsOnly(exact = Some(_.tokenLangs))),

    // H+ (r12): Z-ORDER layout — events re-clustered on the Morton
    // key of (user_id, ts) buckets, then a 2-D rectangle query
    // answered FROM THE ZORDERED TABLE. The result is layout-
    // independent, so the raw-parquet DuckDB mirror hash-gates the
    // whole write-read round trip; the point of the layout — files
    // pruned on BOTH dims — is measured in LayoutSpec and PERF.md
    Query("layout_zorder", (s, d) => {
      val path = tempIndexDir("graft_zorder")
      operators.Layout.writeZordered(
        ev(s, d).select(col("event_id"), col("user_id"), col("ts_us"),
          col("event_type"), col("value_dec")),
        path, "user_id", "ts_us", files = 16)
      s.read.parquet(path)
        .filter(col("user_id").between(40, 59) &&
          col("ts_us") >= ZorderT0 && col("ts_us") < ZorderT1)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value_dec")).cast("double").as("value"))
    },
      // layout_zorder mirror: the same rectangle aggregate over the RAW
      // events parquet — the zordered copy must be row-identical, so
      // the hash gate holds the whole cluster-write-read round trip
      Oracle(s"""SELECT event_type, count(*) AS n,
                |  CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS value
                |FROM events
                |WHERE user_id BETWEEN 40 AND 59
                |  AND epoch_us(ts) >= 1704067200000000
                |  AND epoch_us(ts) < 1704153600000000
                |GROUP BY 1""".stripMargin)),

    // --- F6/F7: corpus preparation (training-batch shaping) ---
    Query("corpus_sample_stratified", (s, d) =>
      Corpus.sampleStratified(docs(s, d), "lang", SampleRates, SampleDefaultRate)
        .select(col("doc_id"), col("lang"), col("source")),
      Oracle(s"""SELECT doc_id, lang, source FROM documents
                |WHERE substr(md5(coalesce(CAST(doc_id AS VARCHAR), '') || ':'
                |               || coalesce(lang, '')), 1, 8)
                |      < $sampleCaseSql""".stripMargin)),

    Query("corpus_pack_sequences", (s, d) =>
      Corpus.packSequences(docs(s, d), "lang", PackBudget),
      Oracle(s"""WITH t AS (
                |  SELECT doc_id, lang, CAST(len($TOKS) AS BIGINT) AS ws_tokens
                |  FROM documents),
                |c AS (
                |  SELECT doc_id, lang, ws_tokens,
                |    CAST(coalesce(sum(ws_tokens) OVER (
                |      PARTITION BY lang ORDER BY doc_id
                |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                |      AS tok_offset
                |  FROM t)
                |SELECT doc_id, lang, ws_tokens,
                |       tok_offset // $PackBudget AS seq_id,
                |       tok_offset % $PackBudget AS seq_offset
                |FROM c""".stripMargin)),

    // F7b: per-stratum packing audit (docs/seqs/token mass/fill rate)
    Query("corpus_pack_stats", (s, d) =>
      Corpus.packStats(docs(s, d), "lang", PackBudget),
      // F7b mirror: the pack CTE + one aggregate; fill_rate is one
      // double division of exact longs rounded at 6 dp (no double sits
      // exactly on a 6-dp half — see packStats scaladoc)
      Oracle(s"""WITH t AS (
                |  SELECT doc_id, lang, CAST(len($TOKS) AS BIGINT) AS ws_tokens
                |  FROM documents),
                |c AS (
                |  SELECT doc_id, lang, ws_tokens,
                |    CAST(coalesce(sum(ws_tokens) OVER (
                |      PARTITION BY lang ORDER BY doc_id
                |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                |      AS tok_offset
                |  FROM t),
                |p AS (
                |  SELECT lang, ws_tokens, tok_offset // $PackBudget AS seq_id
                |  FROM c)
                |SELECT lang,
                |  count(*) AS n_docs,
                |  max(seq_id) + 1 AS n_seqs,
                |  CAST(sum(ws_tokens) AS BIGINT) AS n_tokens,
                |  round(CAST(sum(ws_tokens) AS DOUBLE)
                |        / ((max(seq_id) + 1) * $PackBudget), 6) AS fill_rate
                |FROM p GROUP BY 1""".stripMargin)),

    // cross-modal referential-integrity audit: dangling refs, dup
    // ids, degenerate payloads — one row of exact counts
    Query("corpus_integrity", (s, d) =>
      Corpus.integrity(docs(s, d), emb(s, d)),
      // integrity mirror: same exact-count semantics (count DISTINCT
      // ignores NULL on both engines; a NULL id joins nothing, so it
      // counts as an orphan on both sides)
      Oracle(s"""WITH d AS (
                |  SELECT count(*) AS n_docs,
                |    count(*) - count(DISTINCT doc_id) AS dup_doc_ids,
                |    count(CASE WHEN text IS NULL OR length(text) = 0 THEN 1 END)
                |      AS empty_text_docs
                |  FROM documents),
                |e AS (
                |  SELECT count(*) AS n_vectors,
                |    count(*) - count(DISTINCT vec_id) AS dup_vec_ids,
                |    count(CASE WHEN embedding IS NULL THEN 1 END) AS null_vectors
                |  FROM embeddings),
                |od AS (
                |  SELECT count(*) AS docs_without_vector
                |  FROM (SELECT DISTINCT doc_id FROM documents) dd
                |  LEFT JOIN (SELECT DISTINCT vec_id FROM embeddings) ee
                |    ON dd.doc_id = ee.vec_id
                |  WHERE ee.vec_id IS NULL),
                |oe AS (
                |  SELECT count(*) AS vectors_without_doc
                |  FROM (SELECT DISTINCT vec_id FROM embeddings) ee
                |  LEFT JOIN (SELECT DISTINCT doc_id FROM documents) dd
                |    ON ee.vec_id = dd.doc_id
                |  WHERE dd.doc_id IS NULL)
                |SELECT * FROM d, e, od, oe""".stripMargin)),

    Query("corpus_mix_plan", (s, d) =>
      Corpus.mixPlan(docs(s, d), "lang", MixShares),
      Oracle(s"""WITH counts AS (
                |  SELECT lang, count(*) AS n_docs, $mixCaseSql AS share
                |  FROM documents GROUP BY 1),
                |t AS (SELECT min(n_docs / share) AS t_total
                |      FROM counts WHERE share > 0)
                |SELECT lang, n_docs, round(share, 6) AS share,
                |  CASE WHEN share > 0
                |       THEN round(share * t_total / n_docs, 6)
                |       ELSE 0.0 END AS rate
                |FROM counts CROSS JOIN t""".stripMargin)),

    Query("corpus_split", (s, d) =>
      Corpus.splitAssign(docs(s, d), SplitWeights)
        .select(col("doc_id"), col("lang"), col("split")),
      Oracle(s"""SELECT doc_id, lang, $splitCaseSql AS split
                |FROM documents""".stripMargin)),

    // F17: deterministic epoch shuffle — distributed sort + two-phase
    // numbering (the oracle keeps the single-task window spelling)
    Query("corpus_global_shuffle", (s, d) =>
      Corpus.globalShuffle(docs(s, d), nShards = 8),
      // NULLS FIRST pins the one ordering the engines disagree on:
      // Spark's asc default is NULLS FIRST, DuckDB's is NULLS LAST — a
      // NULL doc_id (md5 of NULL is NULL in both) would otherwise land
      // at opposite ends and shift every position by one
      Oracle(s"""WITH r AS (
                |  SELECT doc_id,
                |         row_number() OVER (
                |           ORDER BY md5(CAST(doc_id AS VARCHAR)) NULLS FIRST,
                |                    doc_id NULLS FIRST) - 1 AS pos
                |  FROM documents)
                |SELECT doc_id, pos, pos % 8 AS shard FROM r""".stripMargin)),

    // F31: curriculum ordering — quality-banded stages (0 = best),
    // F17's md5 shuffle within each band, same two-phase numbering
    Query("corpus_curriculum", (s, d) =>
      Corpus.curriculum(docs(s, d), nStages = 4),
      // F31 mirror: the F2 score CTE verbatim → scale-6 band → the F17
      // window numbering ordered by (stage, hash, id)
      Oracle(s"""WITH $qualityQ6Ctes,
                |st AS (
                |  SELECT doc_id,
                |    3 - least(3, (q6 * 4) // 1000000) AS stage
                |  FROM qs)
                |SELECT doc_id, stage,
                |       row_number() OVER (
                |         ORDER BY stage NULLS FIRST,
                |                  md5(CAST(doc_id AS VARCHAR)) NULLS FIRST,
                |                  doc_id NULLS FIRST) - 1 AS pos
                |FROM st""".stripMargin)),

    // F33: centrality-weighted sampling — the E13 consumer (keep
    // probability = min(1, pagerank) under the deterministic md5
    // coin); exact-graph pagerank feeds the weight so the whole
    // chain is oracled
    Query("corpus_centrality_sample", (s, d) =>
      Corpus.centralitySample(docs(s, d),
        Similarity.knnPagerank6(emb(s, d),
          Similarity.knnGraph(emb(s, d), 5))),
      // F33 mirror: the E13 CTE chain + the 8-hex md5 coin parsed the
      // hex16Hug way, keep compare in HUGEINT (≡ Spark's DECIMAL(38,0))
      Oracle(s"""WITH ${pagerankCtes(5, 10, 85, 100)},
                |coin AS (SELECT doc_id,
                |  CAST(list_sum(list_transform(range(1,9), i ->
                |    (strpos('0123456789abcdef',
                |       substr(md5(CAST(doc_id AS VARCHAR) || ':cent'),
                |              CAST(i AS INTEGER), 1)) - 1)::BIGINT *
                |    (1::BIGINT << (4*(8 - CAST(i AS INTEGER)))))) AS HUGEINT) AS c32
                |  FROM documents)
                |SELECT c.doc_id, CAST(p.pr6 AS DOUBLE) / 1e6 AS pagerank
                |FROM coin c JOIN r10 p ON p.vec_id = c.doc_id
                |WHERE c.c32 * 1000000::HUGEINT <
                |      CAST(p.pr6 AS HUGEINT) * 4294967296::HUGEINT""".stripMargin)),

    // F33b (r14): the DEPLOY composition — the identical coin-vs-pr6
    // keep rule over the trained-list ANN graph's pagerank (the E13b
    // graph; rows-only, kept-set agreement floor vs the exact flavor
    // — its recall gate joins on doc_id alone, since the two graphs'
    // pagerank VALUES differ by construction)
    Query("corpus_centrality_sample_ann", (s, d) =>
      Corpus.centralitySample(docs(s, d),
        Similarity.knnPagerank6(emb(s, d),
          Similarity.knnGraphAnn(emb(s, d), 5))),
      // F33b: kept-SET agreement vs the exact flavor, joined on doc_id
      // alone (keyCols = 1: the baseline's second column is a pagerank
      // VALUE, so joining on it would read a correct kept set as ~0
      // recall). Measured 0.971/0.983 at
      // sf0.001/sf0.01 (the ANN graph's pagerank ranks the coin-cut
      // band nearly identically); floor 0.9× the smaller measured
      RowsOnly(recall = Some(Recall("corpus_centrality_sample", 0.87, keyCols = 1)))),

    // F18: overlapping token-window chunking (32-token windows,
    // 8-token overlap — small enough that verify docs multi-chunk)
    Query("corpus_chunk", (s, d) =>
      Corpus.chunkDocs(docs(s, d), chunkTokens = 32, overlap = 8),
      // F18 mirror: DuckDB range() is end-exclusive (≡ sequence(0, n−1))
      // and list_slice is (begin, end)-positional where Spark's slice is
      // (begin, LENGTH) — hence the least(...) clamp
      Oracle(s"""WITH t AS (SELECT doc_id, $TOKS AS t FROM documents),
                |c AS (SELECT doc_id, t,
                |        unnest(range(0, greatest((len(t) - 8 + 23) // 24, 1)))
                |          AS chunk_id
                |      FROM t WHERE len(t) > 0)
                |SELECT doc_id, chunk_id,
                |       CAST(chunk_id * 24 AS BIGINT) AS start_tok,
                |       CAST(len(list_slice(t, chunk_id * 24 + 1,
                |         least(chunk_id * 24 + 32, len(t)))) AS BIGINT) AS n_tokens,
                |       array_to_string(list_slice(t, chunk_id * 24 + 1,
                |         least(chunk_id * 24 + 32, len(t))), ' ') AS chunk_text
                |FROM c""".stripMargin)),

    // F20: DSIR importance resampling — hashed-unigram importance
    // weights toward the 'en' slice, top-25% selected; scale-4
    // integer λ terms + integer rank keep the mirror hash-exact
    // (the oracle keeps the single-task window spelling; the engine
    // runs F17's range-sort + two-phase numbering)
    Query("corpus_dsir_sample", (s, d) => Corpus.dsirSample(docs(s, d)),
      // F20 mirror: every λ operand is CAST to DOUBLE before the
      // arithmetic so both engines run identical IEEE ops (the +0.5 /
      // +128.0 addends are binary-exact, products are ·0.5-multiples
      // far below 2^53 — the quotient is bit-identical); weights are
      // exact BIGINT sums of the scale-4 λ integers, rank is the
      // NULLS FIRST window (Spark's asc default) over (w_i desc, doc_id)
      Oracle(s"""WITH dm AS (
                |  SELECT doc_id, lang, substring(md5(tok), 1, 2) AS b,
                |         count(*) AS m
                |  FROM (SELECT doc_id, lang, unnest($TOKS) AS tok FROM documents)
                |  GROUP BY 1, 2, 3),
                |raw AS (SELECT b, CAST(sum(m) AS BIGINT) AS c_r FROM dm GROUP BY 1),
                |tgt AS (SELECT b, CAST(sum(m) AS BIGINT) AS c_t
                |        FROM dm WHERE lang = 'en' GROUP BY 1),
                |nr AS (SELECT coalesce(CAST(sum(c_r) AS BIGINT), 0) AS n_r FROM raw),
                |nt AS (SELECT coalesce(CAST(sum(c_t) AS BIGINT), 0) AS n_t FROM tgt),
                |lam AS (
                |  SELECT raw.b,
                |         CAST(round(ln(
                |           ((CAST(coalesce(tgt.c_t, 0) AS DOUBLE) + 0.5)
                |              * (CAST(nr.n_r AS DOUBLE) + 128.0))
                |           / ((CAST(raw.c_r AS DOUBLE) + 0.5)
                |              * (CAST(nt.n_t AS DOUBLE) + 128.0))) * 10000, 0)
                |           AS BIGINT) AS lam_i
                |  FROM raw LEFT JOIN tgt USING (b) CROSS JOIN nr CROSS JOIN nt),
                |w AS (
                |  SELECT d.doc_id, coalesce(x.w_i, 0) AS w_i,
                |         coalesce(x.n_toks, 0) AS n_toks
                |  FROM documents d
                |  LEFT JOIN (SELECT dm.doc_id,
                |               CAST(sum(dm.m * lam.lam_i) AS BIGINT) AS w_i,
                |               CAST(sum(dm.m) AS BIGINT) AS n_toks
                |             FROM dm JOIN lam ON lam.b = dm.b
                |             GROUP BY 1) x USING (doc_id)),
                |n AS (SELECT CAST(floor(0.25 * count(*)) AS BIGINT) AS n_sel
                |      FROM documents)
                |SELECT doc_id, rank, CAST(w_i AS DOUBLE) / 10000 AS dsir_weight,
                |       n_toks, rank <= n.n_sel AS selected
                |FROM (SELECT *, row_number() OVER (
                |        ORDER BY w_i DESC, doc_id NULLS FIRST) AS rank FROM w)
                |CROSS JOIN n""".stripMargin)),

    // F21: learned BPE tokenizer — training iterates on the
    // distinct-word table (argmax merge per round, deterministic
    // tie-break); rows-only with an EXACT-count gate (= nMerges —
    // BpeSpec pins the canonical Sennrich merges; no SQL mirror for
    // an iterative argmax loop)
    // bpe_train ALWAYS pays the full training loop (seeding the memo
    // for its encode sibling), so its bench number is the training
    // cost deterministically — never a function of catalog iteration
    // order (the r8 advice's attribution nit; Bench/Verify also run
    // entries in sorted-name order now)
    Query("bpe_train", (s, d) =>
      Bpe.mergeTable(s, Bpe.trainSeedingCache(d, docs(s, d), BpeMerges)),
      // F21 mirrors (r10): the learned tokenizer is ORACLED — training
      // unrolled into BpeMerges sequential rounds (strict batching ≡
      // sequential, property-spec'd), encoding from the final round's
      // symbol state. Prototyped bit-identical at both verify sfs
      Oracle(bpeTrainSql(BpeMerges))),

    // F21b: encode the corpus with the learned merges — the batch's
    // distinct words encode once through the fused merge-list scan;
    // rows-only, exact-count gate = nDocs (losslessness + greedy
    // semantics are spec-pinned). runOrderKey places this AFTER
    // bpe_train in Bench/Verify, so its number is pure ENCODING off
    // the memo bpe_train seeded (a subset run without bpe_train still
    // works — encode trains its own memo, composed)
    Query("bpe_encode", (s, d) =>
      Bpe.encode(docs(s, d),
        Bpe.trainCached(d, docs(s, d), BpeMerges).map(t => (t._1, t._2))),
      Oracle(bpeEncodeSql(BpeMerges))),

    Query("corpus_token_quantiles", (s, d) =>
      Corpus.tokenQuantiles(docs(s, d), "lang", QuantilePs),
      Oracle {
        val qs = QuantilePs.map(p =>
          s"round(quantile_cont(n_tokens, $p), 6) AS ${Corpus.quantileLabel(p)}")
          .mkString(",\n         |  ")
        s"""WITH t AS (
           |  SELECT lang, CAST(len($TOKS) AS DOUBLE) AS n_tokens
           |  FROM documents)
           |SELECT lang, count(*) AS n_docs,
           |  $qs
           |FROM t GROUP BY 1""".stripMargin
      }),

    // F13b: rows-only (bounded-rank-error summary, no cross-engine
    // mirror); gated by the exact strata-count invariant +
    // QuantileSketchSpec's rank-error bound against F13
    Query("corpus_token_quantiles_approx", (s, d) =>
      Corpus.tokenQuantilesApprox(docs(s, d), "lang", QuantilePs),
      RowsOnly(exact = Some(_.langs))),

    Query("corpus_mix_temperature", (s, d) =>
      Corpus.mixTemperature(docs(s, d), "lang", MixAlpha),
      // F15: same temperature law, spelled from the count — p_s = n^α/z,
      // rate_s = n^(α-1)·min(n^(1-α)); 6-dp rounding absorbs per-engine
      // 1-ulp power/sum wobble (the mixPlan posture)
      Oracle(s"""WITH counts AS (
                |  SELECT lang, count(*) AS n_docs FROM documents GROUP BY 1),
                |tot AS (
                |  SELECT sum(power(n_docs, $MixAlpha)) AS z,
                |         min(power(n_docs, ${1.0 - MixAlpha})) AS m
                |  FROM counts)
                |SELECT lang, n_docs,
                |  round(power(n_docs, $MixAlpha) / z, 6) AS share,
                |  round(power(n_docs, ${MixAlpha - 1.0}) * m, 6) AS rate
                |FROM counts CROSS JOIN tot""".stripMargin)),

    Query("corpus_budget_cap", (s, d) =>
      Corpus.budgetCap(docs(s, d), "lang", CapBudget),
      // F16: kept ⟺ the doc's first token starts under the budget —
      // the F7 window cumsum with a WHERE instead of the seq split
      Oracle(s"""WITH t AS (
                |  SELECT doc_id, lang, CAST(len($TOKS) AS BIGINT) AS ws_tokens
                |  FROM documents),
                |c AS (
                |  SELECT doc_id, lang, ws_tokens,
                |    CAST(coalesce(sum(ws_tokens) OVER (
                |      PARTITION BY lang ORDER BY doc_id
                |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                |      AS tok_offset
                |  FROM t)
                |SELECT doc_id, lang, ws_tokens, tok_offset
                |FROM c WHERE tok_offset < $CapBudget""".stripMargin)),

    Query("corpus_sample_exact", (s, d) =>
      Corpus.sampleExact(docs(s, d), "lang", TakeN),
      // F17: rank by (md5 coin, doc_id) per stratum, keep rank ≤ n
      Oracle(s"""SELECT doc_id, lang, rnk FROM (
                |  SELECT doc_id, lang,
                |    row_number() OVER (PARTITION BY lang ORDER BY
                |      substr(md5(coalesce(CAST(doc_id AS VARCHAR), '') || ':take'),
                |             1, 8), doc_id) AS rnk
                |  FROM documents)
                |WHERE rnk <= $TakeN""".stripMargin)),

    // F14: the whole prep job as one benched composition — since r9
    // the FULL modern funnel (bench holdout → lang-id → quality →
    // blocklist → PII redact → exact dedup → near-dup survivors →
    // Bloom decontamination → packed sequences); every stage is
    // oracled/spec'd on its own, the e2e entry pins that the stages
    // COMPOSE (and gives the driver one headline prep number).
    // Params picked so the gates genuinely ENGAGE on the verify
    // corpora (the ledger shows real drops, not no-ops): quality at
    // 0.45 cuts the low tail (~6%); the blocklist is FunnelBlockWords
    // — BlockWords minus 'slow' (df ≈ 0.8 — would drop most of the
    // synthetic corpus) and minus 'dup' (the corpus' planted near-dup
    // marker — blocklisting it would starve stage 7 of its signal)
    Query("corpus_prep_e2e", (s, d) =>
      Corpus.prepFunnel(docs(s, d), col("doc_id") % 97 === 0,
        FunnelBlockWords, minQuality = FunnelMinQuality),
      // F14: the full funnel, each stage verbatim from its own
      // hash-green mirror (bench holdout coalesce, F1 lang CASE, F2
      // quality CASE, F22 blocklist, F11 staged PII regexes, D1
      // keep-lowest-id, D3b capped grams at tau=0.5 / maxDf=10000, D6
      // NOT EXISTS, D9 gram-overlap decontam, F7 window pack) — the
      // composition is what this oracle pins. The Bloom pre-cut is
      // exact-equivalent to the plain join (false positives re-checked,
      // no false negatives), so D9c mirrors as the join.
      Oracle(s"""WITH $funnelCtes
                |SELECT doc_id, lang, ws_tokens,
                |       tok_offset // 2048 AS seq_id,
                |       tok_offset % 2048 AS seq_offset
                |FROM packc""".stripMargin)),

    // F14's audit artifact: per-stage surviving-row ledger for the
    // same funnel — the drop accounting a production prep publishes
    Query("corpus_prep_ledger", (s, d) =>
      Corpus.prepFunnelLedger(docs(s, d), col("doc_id") % 97 === 0,
        FunnelBlockWords, minQuality = FunnelMinQuality),
      // F14 ledger: surviving-doc counts per funnel stage, from the
      // SAME CTE chain (pii_redact and pack pinned 1:1 by equality
      // with their upstream counts)
      Oracle(s"""WITH $funnelCtes
                |SELECT CAST(stage_idx AS INTEGER) AS stage_idx, stage, n_docs
                |FROM (
                |  SELECT 0 AS stage_idx, 'input' AS stage,
                |         (SELECT count(*) FROM documents) AS n_docs
                |  UNION ALL SELECT 1, 'bench_holdout', (SELECT count(*) FROM corpus)
                |  UNION ALL SELECT 2, 'lang_id',       (SELECT count(*) FROM lk)
                |  UNION ALL SELECT 3, 'quality',       (SELECT count(*) FROM qk)
                |  UNION ALL SELECT 4, 'blocklist',     (SELECT count(*) FROM bk)
                |  UNION ALL SELECT 5, 'pii_redact',    (SELECT count(*) FROM pk)
                |  UNION ALL SELECT 6, 'exact_dedup',   (SELECT count(*) FROM ek)
                |  UNION ALL SELECT 7, 'near_dedup',    (SELECT count(*) FROM surv)
                |  UNION ALL SELECT 8, 'decontam',      (SELECT count(*) FROM clean)
                |  UNION ALL SELECT 9, 'pack',          (SELECT count(*) FROM packc))""".stripMargin)),

    Query("text_compression_ratio", (s, d) =>
      TextAnalysis.compressionRatio(docs(s, d)),
      RowsOnly(exact = Some(_.docs))),

    // --- G: multimodal ---
    // G1: HASH-GREEN since r11 — the stub dims are md5-derived
    // (Codec.stubMeta), so the mirror recomputes every column from
    // the raw text (the D12 injective-render argument, metadata
    // edition: the payload IS the utf-8 text at this entry)
    Query("mm_decode_meta", (s, d) => Multimodal.decodeMeta(docs(s, d)),
      // G1 mirror (r11): every column of the typed decode row from the
      // raw text — md5-derived stub dims, modality from doc_id mod 3,
      // audio fields 0 (the stub path carries none), is_real false (a
      // text payload is no recognizable codec stream on any modality)
      Oracle(s"""SELECT doc_id, $MmKind AS kind,
                |  CAST(octet_length(encode($MmT)) AS INTEGER) AS n_bytes,
                |  CAST($MmW AS INTEGER) AS width, CAST($MmH AS INTEGER) AS height,
                |  CAST($MmFrames AS INTEGER) AS frames,
                |  CAST(0 AS INTEGER) AS sample_rate, CAST(0 AS INTEGER) AS channels,
                |  CAST(0.0 AS DOUBLE) AS duration_s, FALSE AS is_real
                |FROM documents""".stripMargin)),

    // G5 (rows-only, exact-count nImages): perceptual hash over REAL
    // rendered PNGs — every row takes the pixel dHash path at the
    // gate, not the stub
    Query("mm_phash", (s, d) =>
      Multimodal.imagePhash(Multimodal.renderTextImages(docs(s, d))),
      RowsOnly(exact = Some(_.images))),

    // G5 audio (rows-only, exact-count nAudio): envelope hash over
    // REAL rendered WAVs — the pixel-path posture, audio edition
    Query("mm_audio_phash", (s, d) =>
      Multimodal.audioPhash(Multimodal.renderTextAudio(docs(s, d))),
      RowsOnly(exact = Some(_.audios))),

    // G5 video (rows-only, exact-count = Σ⌈utf8 bytes/256⌉ over the
    // video stratum): per-frame hashes over REAL rendered animated
    // GIFs — every row takes the composite-decode path at the gate
    Query("mm_video_phash", (s, d) =>
      Multimodal.videoPhash(Multimodal.renderTextVideo(docs(s, d))),
      RowsOnly(exact = Some(_.videoFrames))),

    // G2: HASH-GREEN since r11 — stub frame counts are md5-derived,
    // so the mirror unrolls the same sampled index sequence in SQL
    Query("mm_frame_sample", (s, d) =>
      Multimodal.frameSample(Multimodal.decodeMeta(docs(s, d))),
      // G2 mirror (r11): the sampled index sequence unrolled per video
      // doc from the md5-derived frame count (step 30, fps 24)
      Oracle(s"""WITH v AS (SELECT doc_id, CAST($MmFrames AS INTEGER) AS frames
                |           FROM documents WHERE doc_id % 3 = 2),
                |e AS (SELECT doc_id, frames,
                |        unnest(generate_series(0, frames - 1, 30)) AS f FROM v)
                |SELECT doc_id, frames, CAST(f AS INTEGER) AS frame_idx,
                |       CAST(f AS DOUBLE) / 24.0 AS t_offset_s
                |FROM e""".stripMargin)),

    // G4: HASH-GREEN since r11 — payload projected to an md5-over-hex
    // digest both engines can compute (binary column kept out of the
    // harness canonicalization); the stub byte-subsample is a prefix
    // of the utf-8 text, which the mirror slices in hex space
    Query("mm_resize", (s, d) =>
      Multimodal.resize(docs(s, d))
        .select(col("doc_id"), col("src_w"), col("src_h"),
          col("dst_w"), col("dst_h"), col("n_bytes"),
          md5(hex(col("payload"))).as("payload_digest")),
      // G4 mirror (r11): stub resize arithmetic replayed in SQL — md5
      // src dims, aspect-fit scale in the same least/greatest order,
      // byte-subsample length via the same double mult-then-divide, and
      // the payload prefix sliced in HEX space (blob slicing isn't in
      // DuckDB; both engines md5 the identical uppercase hex string).
      // scale ≥ 1 passes the whole payload through untouched.
      Oracle(s"""WITH b AS (SELECT doc_id, octet_length(encode($MmT)) AS len,
                |             hex(encode($MmT)) AS hx, $MmW AS w, $MmH AS h
                |           FROM documents WHERE doc_id % 3 = 0),
                |s AS (SELECT *, least(1.0, least(224.0 / w, 224.0 / h)) AS scale FROM b),
                |d AS (SELECT *, greatest(1, CAST(floor(w * scale) AS INTEGER)) AS dw,
                |        greatest(1, CAST(floor(h * scale) AS INTEGER)) AS dh FROM s),
                |o AS (SELECT *, CASE WHEN scale >= 1.0 THEN len
                |        ELSE least(len, greatest(1, CAST(ceil(
                |          (CAST(len AS DOUBLE) * (CAST(dw AS BIGINT) * dh))
                |            / (CAST(w AS BIGINT) * h)) AS INTEGER))) END AS outlen
                |      FROM d)
                |SELECT doc_id, CAST(w AS INTEGER) AS src_w, CAST(h AS INTEGER) AS src_h,
                |  dw AS dst_w, dh AS dst_h, CAST(outlen AS INTEGER) AS n_bytes,
                |  md5(substr(hx, 1, 2 * outlen)) AS payload_digest
                |FROM o""".stripMargin)),

    // G3: HASH-GREEN since r11 — the raw array<float> is projected to
    // a comma-joined SCALE-6 INTEGER string (the harness canonicalizes
    // by sorting every column — numpy arrays aren't sortable there,
    // and integer strings dodge engine float-printing differences);
    // the md5-derived stub values are exact in float and double with
    // no 6-dp half boundary, so the mirror reproduces the string
    // bit-for-bit
    Query("mm_feature_extract", (s, d) =>
      Multimodal.featureExtract(docs(s, d))
        .select(col("doc_id"), size(col("embedding")).cast("bigint").as("dim"),
          concat_ws(",",
            transform(col("embedding"),
              x => round(x.cast("double") * lit(1e6), 0).cast("long")
                .cast("string"))).as("vec_s6"),
          col("is_real")),
      // G3 mirror (r11): the 16-dim md5 stub — 4 hex chars per dim from
      // md5(t) || md5(t || ':1'), (k − 32768)/2¹⁵, scale-6 integer join
      // (exact in both engines; no half boundary — see the entry)
      Oracle(s"""WITH p AS (SELECT doc_id, md5($MmT) || md5($MmT || ':1') AS hx
                |           FROM documents)
                |SELECT doc_id, CAST(16 AS BIGINT) AS dim,
                |  array_to_string(
                |    [CAST(CAST(round(((('0x' || substr(hx, 4 * d + 1, 4))::BIGINT
                |        - 32768) / 32768.0) * 1000000.0, 0) AS BIGINT) AS VARCHAR)
                |     for d in range(16)], ',') AS vec_s6,
                |  FALSE AS is_real
                |FROM p""".stripMargin))
  ))

  /** `qs`, once its names are distinct (a second record of a name would
    * shadow the first in every lookup) and every recall baseline is an
    * oracle-checked record of `qs` (a rows-only or missing baseline
    * would gate one approximation against another, or nothing). */
  private[graft] def checked(qs: Seq[Query]): Seq[Query] = {
    val repeated = qs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(repeated.isEmpty, s"catalog names repeat: ${repeated.toSeq.sorted.mkString(", ")}")
    val oracled = qs.collect { case Query(n, _, _: Oracle, _) => n }.toSet
    val unchecked = qs.collect {
      case Query(n, _, RowsOnly(_, _, Some(r)), _) if !oracled(r.baseline) => s"$n vs ${r.baseline}"
    }
    require(unchecked.isEmpty,
      s"recall baselines must be oracle-checked entries: ${unchecked.mkString(", ")}")
    qs
  }

  private lazy val byName: Map[String, Query] = catalog.map(q => q.name -> q).toMap

  /** An error naming every entry of `names` the catalog lacks, with
    * the available names; None when all are catalog entries. */
  def unknownNames(names: Seq[String]): Option[String] = {
    val unknown = names.filterNot(byName.contains)
    if (unknown.isEmpty) None
    else Some(s"unknown entry ${unknown.mkString("'", "', '", "'")}; available: " +
      catalog.map(_.name).sorted.mkString(", "))
  }

  /** The entry named `name`; fails naming it if the catalog has none. */
  def query(name: String): Query =
    byName.getOrElse(name, throw new IllegalArgumentException(unknownNames(Seq(name)).get))

  /** Every rows-only entry's exact row count, from one aggregate over
    * documents' metadata columns, the video-frame sum, and two
    * footer-cheap counts over embeddings (no query re-runs). */
  def exactCounts(spark: SparkSession, sfDir: String): Map[String, Long] = {
    val counts = inputCounts(spark, sfDir)
    catalog.collect { case Query(n, _, RowsOnly(_, Some(exact), _), _) => n -> exact(counts) }.toMap
  }

  private def inputCounts(spark: SparkSession, sfDir: String): InputCounts = {
    val tokenful = lower(col("text")).rlike("[a-z0-9]")
    val m = docs(spark, sfDir).agg(
      count(lit(1)),
      count(when(pmod(col("doc_id"), lit(3)) === 0, 1)),
      count(when(pmod(col("doc_id"), lit(3)) === 2, 1)),
      // langs owning ≥1 token under tokens()'s alnum normalization —
      // the exact group count F15b's sketch aggregate must emit
      countDistinct(when(tokenful, col("lang"))),
      // ALL langs (token-less docs still count toward their stratum's
      // quantile row) — F13b's exact group count
      countDistinct(col("lang")),
      // groupBy(lang) emits a NULL-lang group that countDistinct never
      // sees — count the null stratum separately so a dataset
      // regeneration introducing null langs moves the gate instead of
      // failing it with a misleading count mismatch
      coalesce(max(when(col("lang").isNull && tokenful, 1).otherwise(0)), lit(0)),
      coalesce(max(when(col("lang").isNull, 1).otherwise(0)), lit(0))).head()
    val (nDocs, nImages, nVideos) = (m.getLong(0), m.getLong(1), m.getLong(2))
    // one hash row per rendered frame = ⌈utf8 bytes / 256⌉ (min 1)
    // summed over the video stratum — renderTextVideo's chunking,
    // recomputed from the raw table
    val videoFrames = docs(spark, sfDir)
      .filter(pmod(col("doc_id"), lit(3)) === 2)
      .agg(sum(greatest(lit(1L),
        expr("(octet_length(encode(coalesce(text, ''), 'UTF-8')) + 255) div 256")
          .cast("long"))))
      .head().getLong(0)
    InputCounts(docs = nDocs, images = nImages, audios = nDocs - nImages - nVideos,
      videoFrames = videoFrames, tokenLangs = m.getLong(3) + m.getInt(5),
      langs = m.getLong(4) + m.getInt(6),
      topk = 5L * emb(spark, sfDir).filter(annIsQuery).count(),
      vectors = emb(spark, sfDir).count())
  }

}
