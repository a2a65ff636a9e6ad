package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Timeseries / ETL core (SURVEY.md §2 A) — the reference's heart,
  * re-expressed as declarative window/agg plans.
  *
  * Every operator partitions its window by the series key (station /
  * user), the natural shard key at 100 TB: Spark shuffles once on the
  * key and each executor handles whole series locally. No operator
  * collects to the driver.
  */
object Timeseries {

  /** A1: cumulative → per-interval values.
    * Reference: `get_per_time_slot_values`, wrf_data_pusher.py:63-65
    * (`prcp[1:] - prcp[:-1]` along the time axis).
    * `lag` over (key, time); first row of each series drops, exactly
    * like the numpy diff losing index 0.
    */
  def intervalDiff(df: DataFrame, key: String, time: String, id: String,
                   value: String): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col(time), col(id))
    // Drop only the FIRST row per series (no predecessor), detected via
    // lag over the always-present id column — a null *measurement* mid-
    // series yields a null delta but keeps its row, unlike numpy diff
    // which would only ever lose index 0.
    df.withColumn("delta", col(value) - lag(col(value), 1).over(w))
      .withColumn("prev_row_id", lag(col(id), 1).over(w))
      .filter(col("prev_row_id").isNotNull)
      .drop("prev_row_id")
  }

  /** A2: UTC → Sri Lanka local (+5:30), minute-floored string.
    * Reference: `datetime_utc_to_lk`, wrf_data_pusher.py:75-76 and the
    * `'%Y-%m-%d %H:%M:00'` format at wrf_data_pusher.py:268.
    */
  def tzShiftLk(df: DataFrame, tsMicros: String): DataFrame = {
    // date_format renders in the SESSION timezone: the explicit +5:30
    // is only a Sri Lanka shift when that zone is UTC (Sessions/
    // Tables.configure set it). On any other zone the shift would
    // silently double-apply — fail loudly instead.
    val tz = df.sparkSession.sessionState.conf.sessionLocalTimeZone
    require(tz == "UTC" || tz == "Etc/UTC" || tz == "GMT",
      s"tzShiftLk renders via date_format in the session timezone and " +
        s"requires UTC (session has '$tz'): the +5:30 shift would double-apply")
    df.withColumn("lk_time",
      date_format(
        timestamp_micros(expr(s"$tsMicros + 19800000000")),
        "yyyy-MM-dd HH:mm:00"))
  }

  /** Epoch-second bucket from an integer epoch-tick column — `div` is
    * exact long integral division end to end (truncating, identical
    * to the oracle's spelling on the non-negative epoch domain this
    * pipeline inhabits — pre-1970 ticks would floor differently;
    * engine-portable because a double
    * roundtrip would lose precision above 2^53). `ticksPerSec` adapts
    * to the stored resolution (1e9 for nanos, 1e6 for micros). */
  def bucketEpochSec(tsCol: String, widthSec: Long = 900L,
                     ticksPerSec: Long = 1000000L): Column =
    expr(s"((($tsCol) div $ticksPerSec) div $widthSec) * $widthSec")

  /** A3: resample to fixed buckets, summing values per key.
    * Reference: `extract_obs_rain_15_min_ts` (db_adapter.curw_sim.common)
    * used at gen_active_stations_rfields.py:205.
    * Epoch-floor bucketing keeps the groupBy a plain hash agg with
    * map-side partial aggregation; no window needed.
    */
  def resample(df: DataFrame, key: String, bucket: Column,
               value: String): DataFrame =
    df.groupBy(col(key), bucket.as("bucket"))
      .agg(sum(col(value)).as("value"))

  /** A4: latest run per series — the newest reading per key.
    * Reference: `Timeseries.get_latest_timeseries` (rows at max fgt),
    * used at gen_active_stations_rfields.py:196.
    * row_number desc with id tie-break keeps it deterministic.
    */
  def latestRun(df: DataFrame, key: String, time: String,
                id: String): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col(time).desc, col(id).desc)
    df.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
  }

  /** A5: upsert last-write-wins — one surviving row per business key,
    * newest version wins.
    * Reference: `insert_formatted_data(ts_data, True)` upsert,
    * wrf_data_pusher.py:127.
    */
  def upsertDedup(df: DataFrame, keys: Seq[String], version: String,
                  id: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(version).desc, col(id).desc)
    df.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
  }

  /** A6: ensemble mean — resample each source's series to the bucket
    * grid, then row-wise mean across sources at each (key, bucket).
    * Reference: row-wise mean over the WRF system columns A/C/E/SE,
    * gen_hybrid_mean_wrf_rfields.py:205.
    * The reference pivots then means across columns; two stacked hash
    * aggs are the shuffle-minimal equivalent (no pivot materialized,
    * partial agg on both levels). The mean is written sum/count rather
    * than avg() so a decimal-typed value column stays exact until the
    * single final double division (cross-engine exactness, SURVEY §5).
    */
  def ensembleMean(df: DataFrame, key: String, source: String, bucket: Column,
                   value: String): DataFrame =
    df.groupBy(col(key), col(source), bucket.as("bucket"))
      .agg(sum(col(value)).as("source_sum"))
      .groupBy(col(key), col("bucket"))
      // count REPORTING sources (non-null sums): a source with only
      // null readings at this bucket must not deflate the row-wise
      // mean — pandas' row-wise mean skips NaN the same way
      .agg((sum(col("source_sum")).cast("double") / count(col("source_sum")))
          .as("mean_value"),
        count(col("source_sum")).as("n_sources"))

  /** A7: hybrid obs+fcst — align two series on (key, bucket), prefer
    * the observation where present.
    * Reference: fcst outer-join then obs left-join + dropna — only
    * timestamps where BOTH obs and fcst exist survive,
    * gen_active_stations_rfields.py:200-214. Inner join on the bucketed
    * key mirrors that overlap-only semantic; both sides pre-aggregated
    * so the join keys are unique (no row explosion).
    */
  def hybridObsFcst(obs: DataFrame, fcst: DataFrame, key: String): DataFrame = {
    val o = obs.withColumnRenamed("value", "obs_value")
    val f = fcst.withColumnRenamed("value", "fcst_value")
    o.join(f, Seq(key, "bucket"), "inner")
      .withColumn("hybrid_value", coalesce(col("obs_value"), col("fcst_value")))
  }

  /** A6b/A7b: WIDE hybrid — one column per source system, side by
    * side at each (key, bucket), keeping only rows where EVERY listed
    * system reported.
    * Reference: `gen_hybrid_wrf_rfields.py:194-216` — the per-grid-point
    * loop outer-merges each WRF system's series on `time` into its own
    * column (A, C, E, SE side by side, obs next to them) and then
    * `df.dropna()` keeps only the timestamps all systems cover. The
    * row-wise mean flavor is [[ensembleMean]]; this is the layout a
    * user reproducing the reference's hybrid CSVs needs.
    *
    * One hash aggregation with an explicit-values pivot — Catalyst
    * rewrites it to per-system conditional aggregates in a single
    * groupBy (no second pivot job because the values are given), so
    * the plan is one shuffle on (key, bucket) with map-side partials,
    * identical in shape to [[resample]]. The dropna filter runs on the
    * aggregated frame (tiny relative to the input).
    */
  def hybridWide(df: DataFrame, key: String, source: String, bucket: Column,
                 value: String, systems: Seq[String]): DataFrame = {
    require(systems.nonEmpty, "hybridWide needs at least one system column")
    val wide = df.filter(col(source).isin(systems: _*))
      .groupBy(col(key), bucket.as("bucket"))
      .pivot(source, systems)
      .agg(sum(col(value)))
    // pivot names columns with the raw system VALUE — backtick it so a
    // dotted label ("wrf.A") resolves as one column, not a struct path
    systems.foldLeft(wide)((d, s) =>
      d.filter(col(s"`${s.replace("`", "``")}`").isNotNull))
  }

  /** A8: active series — keys with any activity within `days` of the
    * dataset's latest timestamp.
    * Reference: `getActiveRainfallObsStations` ("active within last
    * week"), gen_active_stations_rfields.py:102-131.
    * Global max via scalar agg (tiny) cross-joined as a literal-like
    * broadcast; then a groupBy — one shuffle on the key.
    */
  def activeKeys(df: DataFrame, key: String, tsCol: String,
                 days: Int = 7, ticksPerSec: Long = 1000000L): DataFrame = {
    val horizon = days.toLong * 86400L * ticksPerSec
    val maxTs = df.agg(max(col(tsCol)).as("max_ts"))
    df.join(broadcast(maxTs))
      .filter(col(tsCol) >= col("max_ts") - lit(horizon))
      .groupBy(col(key))
      .agg(count(lit(1)).as("recent_events"),
        expr(s"max($tsCol) div $ticksPerSec").as("last_seen_s"))
  }

  /** A9: station registry — one stable station per rounded grid key.
    * Reference: `wrf_{lat}_{lon}` station naming + add-if-absent,
    * wrf_data_pusher.py:211-228. Grid keys are normalized at 6 dp so
    * float jitter across files can't mint duplicate stations, then
    * rendered the way the reference renders them —
    * `str(float('%.6f' % lat))`, which strips trailing zeros but keeps
    * one fractional digit (`wrf_6.9_79.85`, `wrf_7.0_80.0`) — so
    * station names and the md5 ids derived from them are byte-for-byte
    * the real system's. (Stripping is injective on 6-dp strings, so
    * dedup semantics are unchanged. For |v| ≥ 1e-4 the 6-dp decimal IS
    * the shortest repr of its double, so strip-zeros equals Python's
    * str(float(...)); below 1e-4 Python switches to scientific
    * notation — `5e-05`, `1.5e-05`, `1e-06` — which [[pyFloatKey]]
    * reproduces from the formatted digits. |v| ≥ 1e16, where Python
    * also goes scientific, is out of coordinate range and not
    * rendered.) Deterministic content-derived id (md5 of the key)
    * instead of an auto-increment — idempotent across re-runs and
    * executors, which is what upsert-once semantics need at scale.
    */
  def stationRegistry(df: DataFrame, keyCols: Seq[String],
                      prefix: String = "st"): DataFrame =
    stationRegistry6dp(df.select(keyCols.map(c => sixDp(col(c)).as(c)): _*),
      keyCols, prefix)

  /** [[stationRegistry]] over key columns already rendered `%.6f`
    * (the `format_string` rendering): dedups the 6-dp strings first,
    * then renders each distinct key once. Same rows as rendering every
    * input row, because the reference rendering is injective on 6-dp
    * strings. */
  def stationRegistry6dp(df: DataFrame, keyCols: Seq[String],
                         prefix: String = "st"): DataFrame = {
    val keyed = keyCols.map(c => pyFloatKey(col(c)).as(s"${c}_key"))
    // concat, not concat_ws: a NULL key (null coordinate) must
    // propagate to a NULL name/id like the oracle's `||` chain —
    // concat_ws would SKIP the null part and mint a malformed
    // shorter name ("wrf_79.85") with a valid-looking md5 id
    val name = concat(lit(prefix) +:
      keyCols.flatMap(c => Seq(lit("_"), col(s"${c}_key"))): _*)
    df.select(keyCols.map(col): _*).distinct()
      .select(keyed: _*)
      .withColumn("station_name", name)
      .withColumn("station_id", md5(name))
  }

  /** `%.6f` of a numeric column as `format_string` renders it, NULL
    * kept NULL (the oracle's printf(NULL) is NULL) — format_string
    * alone would render java.util.Formatter's literal "null". */
  private def sixDp(v: Column): Column =
    when(v.isNull, lit(null).cast("string")).otherwise(format_string("%.6f", v))

  /** Python `str(float('%.6f' % v))` as a Column, from the `%.6f`
    * string `s6` of a coordinate-scale magnitude (|v| < 1e16):
    * positional with trailing zeros stripped
    * and one fractional digit kept, EXCEPT 0 < |v| < 1e-4 after 6-dp
    * rounding, where Python's shortest-repr goes scientific. The 6-dp
    * string pins the value to ≤2 significant digits there (micro-units
    * 1..99), so the mantissa/exponent derive exactly from the
    * formatted digits: micro ≥ 10 → `d.d e-05` (trailing-zero digit
    * dropped), micro < 10 → `d e-06`. Shortest-repr uniqueness at ≤2
    * sig digits (neighbor decimals differ by ≫ 1 ulp) makes this
    * byte-for-byte Python's rendering. Shared shape with the DuckDB
    * oracle mirror (SparkEntry.pyKeySql) — edit in lockstep.
    * Character ops (ltrim/rtrim/substring), not regexes: the three
    * regexp_replace calls the first spelling paid tripled the
    * registry's scan cost. Values are identical (a %.6f string has at
    * most one leading '-', and rtrim-of-'0' ≡ strip-trailing-zeros on
    * it). */
  private def pyFloatKey(s6: Column): Column = {
    val absS = ltrim(s6, "-")
    val micro = substring(absS, 3, 6).cast("int")
    val sign = when(substring(s6, 1, 1) === "-", lit("-")).otherwise(lit(""))
    val sci = concat(sign,
      when(micro >= 10, concat(
        (micro / lit(10)).cast("int").cast("string"),
        when(micro % 10 === 0, lit(""))
          .otherwise(concat(lit("."), (micro % 10).cast("string"))),
        lit("e-05")))
      .otherwise(concat(micro.cast("string"), lit("e-06"))))
    val stripped = rtrim(s6, "0")
    val positional = when(endswith(stripped, lit(".")),
      concat(stripped, lit("0"))).otherwise(stripped)
    when(substring(absS, 1, 6) === "0.0000" && micro > 0, sci)
      .otherwise(positional)
  }

  /** A10: deterministic timeseries id from the metadata tuple.
    * Reference: `Timeseries.generate_timeseries_id(tms_meta)` hashing
    * (sim_tag, station, source, variable, unit), wrf_data_pusher.py:237.
    *
    * Each value travels through [[tmsEnc]]'s injective encoding —
    * plain colon-joined `concat_ws` COLLIDES distinct tuples: it
    * skips nulls entirely (('a', NULL, 'b') ≡ ('a', 'b', NULL)) and a
    * ':' inside a value shifts the boundary (('a:b', 'c') ≡
    * ('a', 'b:c')). Two different series silently sharing a tms_id
    * would merge on upsert. Oracle mirrored (tmsEncSql).
    */
  def tmsId(df: DataFrame, metaCols: Seq[String]): DataFrame =
    df.withColumn("tms_id", md5(concat(metaCols.map(tmsEnc): _*)))

  /** `v<len>:<chars>` for a value, `n:` for NULL — length-prefixing
    * makes the tuple encoding injective (no delimiter can be spoofed
    * by value content, nulls are distinguishable from "null"). */
  private def tmsEnc(c: String): Column = {
    val s = col(c).cast("string")
    when(s.isNull, lit("n:"))
      .otherwise(concat(lit("v"), length(s).cast("string"), lit(":"), s))
  }

  /** A11: fgt watermark — newest generation time per series.
    * Reference: `update_latest_fgt`, wrf_data_pusher.py:103-116.
    */
  def fgtWatermark(df: DataFrame, key: String, fgt: String): DataFrame =
    df.groupBy(col(key)).agg(max(col(fgt)).as("latest_fgt"))

  /** A15: sessionize — split each key's event stream into sessions at
    * inactivity gaps > `gapTicks`: flag rows whose gap from the
    * previous event exceeds the threshold, running-sum the flags.
    * Two stacked windows on the same (key, time) ordering — one
    * shuffle, one sort. Session ids are 1-based per key. */
  def sessionize(df: DataFrame, key: String, time: String, id: String,
                 gapTicks: Long): DataFrame = {
    val order = Window.partitionBy(col(key)).orderBy(col(time), col(id))
    val cum = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val prev = lag(col(time), 1).over(order)
    df.withColumn("_new_session",
        when(prev.isNull || col(time) - prev > gapTicks, 1).otherwise(0))
      .withColumn("session_id", sum(col("_new_session")).over(cum))
      .drop("_new_session")
  }

  /** A14: running cumulative sum per series — the inverse of
    * [[intervalDiff]] (reconstructs the RAINNC-style cumulative curve
    * from per-interval values; the reference round-trips between the
    * two representations). Decimal-typed values keep the running sum
    * exact and engine-portable. */
  def cumulative(df: DataFrame, key: String, time: String, id: String,
                 value: String): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col(time), col(id))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("cum_value", sum(col(value)).over(w))
  }

  /** A13: as-of join — for each left row, the latest right value with
    * right time ≤ left time, per key (the temporal-alignment primitive
    * behind the reference's obs↔fcst matching when time axes differ;
    * DuckDB expresses it natively as ASOF LEFT JOIN, which is the
    * oracle).
    *
    * Spark has no asof join; the scalable formulation is the
    * union-sort trick: tag right rows, union with left, one window
    * sorted by (time, right-first) per key, forward-fill the right
    * value — exactly one shuffle on the key and one sort, no range
    * join blow-up, no per-row search. Right must be unique per
    * (key, rt) (pre-aggregate if not) so the match is deterministic.
    * Left columns ride along; right rows are filtered back out.
    */
  def asofJoinLatest(left: DataFrame, right: DataFrame, key: String,
                     lt: String, rt: String, rightValue: String): DataFrame = {
    val rvType = right.schema(rightValue).dataType
    val leftCols = left.columns.toSeq.filterNot(_ == key)
    // the right value travels INSIDE a struct: the fill must skip only
    // left placeholder rows, and a bare nullable _rv can't tell a
    // matched right row whose VALUE is null from a placeholder —
    // last(ignoreNulls) would skip it and forward-fill an OLDER right
    // value where the ASOF LEFT JOIN oracle returns NULL
    val l2 = left
      .withColumn("_t", col(lt))
      .withColumn("_m", lit(null).cast(org.apache.spark.sql.types
        .StructType(Seq(org.apache.spark.sql.types.StructField("v", rvType)))))
      .withColumn("_isr", lit(0))
    val r2 = leftCols.foldLeft(
      right.select(col(key), col(rt).as("_t"),
          struct(col(rightValue).as("v")).as("_m"))
        .withColumn("_isr", lit(1))) {
      (df, c) => df.withColumn(c, lit(null).cast(left.schema(c).dataType))
    }
    val cols = (Seq(key, "_t", "_m", "_isr") ++ leftCols).map(col)
    val w = Window.partitionBy(col(key))
      .orderBy(col("_t"), col("_isr").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    l2.select(cols: _*).unionByName(r2.select(cols: _*))
      .withColumn("asof_value",
        last(col("_m"), ignoreNulls = true).over(w).getField("v"))
      .filter(col("_isr") === 0)
      .drop("_t", "_m", "_isr")
  }

  /** A12: gap fill — forward-fill the last known value along each
    * series (the inverse convenience of the reference's dropna after
    * outer-joining misaligned time axes,
    * gen_active_stations_rfields.py:200-214).
    * `last(ignoreNulls)` over an unbounded-preceding window.
    */
  def gapFillForward(df: DataFrame, key: String, time: String, id: String,
                     value: String): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col(time), col(id))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("filled", last(col(value), ignoreNulls = true).over(w))
  }

  /** A16: z-score outlier QC — flag readings more than `tau` standard
    * deviations from their series mean (the sensor-spike screen an
    * obs-rainfall ingest runs before trusting a gauge). Moments come
    * from EXACT decimal sums over one per-series window (sum, sum of
    * squares, count — order-independent, cross-engine identical),
    * converted to double for the final mean/variance/σ arithmetic;
    * the z division is guarded on `variance > 0` so constant series
    * flag nothing (NaN would compare as largest in Spark). One
    * shuffle on the series key; the window carries three partial
    * aggregates, no second pass.
    */
  def zscoreOutliers(df: DataFrame, key: String, time: String, id: String,
                     valueRaw: String, valueDec: String,
                     tau: Double): DataFrame = {
    val w = Window.partitionBy(col(key))
    // count the READINGS (non-null), not the rows: the sums skip
    // nulls, so an all-rows n would deflate both moments on any
    // series with missing readings (oracle mirrors count(vd))
    val n = count(col(valueDec)).over(w).cast("double")
    val sumD = sum(col(valueDec)).over(w).cast("double")
    val sumSqD = sum(col(valueDec) * col(valueDec)).over(w).cast("double")
    val mean = sumD / n
    val variance = sumSqD / n - mean * mean
    df.withColumn("z",
        when(variance > 0,
          round((col(valueRaw) - mean) / sqrt(variance), 6))
          .otherwise(lit(0.0)))
      .filter(abs(col("z")) >= tau)
      .select(col(key), col(id), col(time), col(valueRaw), col("z"))
  }

  /** A18: rolling statistics — trailing `k`-row sum/count/mean per
    * series (the moving-average smoother every rainfall dashboard
    * plots next to the raw gauge). The sum runs in DECIMAL inside the
    * frame (exact at any k), one double division per row for the
    * mean. Single shuffle on the series key; the frame is
    * rows-bounded so state per key is O(k), not O(series).
    */
  def rollingStats(df: DataFrame, key: String, time: String, id: String,
                   valueDec: String, k: Int): DataFrame = {
    require(k > 0, s"window k=$k must be positive")
    val w = Window.partitionBy(col(key)).orderBy(col(time), col(id))
      .rowsBetween(-(k - 1), Window.currentRow)
    // roll_n counts the frame's non-null READINGS (the sum skips
    // nulls — dividing by all rows would deflate the mean on gaps)
    df.withColumn("roll_sum", sum(col(valueDec)).over(w).cast("double"))
      .withColumn("roll_n", count(col(valueDec)).over(w))
      .withColumn("roll_mean", round(col("roll_sum") / col("roll_n"), 6))
  }

  /** A19: exponentially-weighted moving average — the recurrence
    * `e_t = α·v_t + (1−α)·e_{t−1}` depends on its own previous OUTPUT,
    * which no window frame expresses, so it runs as one streaming
    * `mapPartitions` pass: repartition on the series key co-locates
    * each series, `sortWithinPartitions` orders it with Spark's
    * spill-safe external sort, and the recurrence then carries ONE
    * double of state per open series — an arbitrarily long series can
    * never blow an executor heap (unlike a per-group `toSeq`). The
    * streaming sibling is
    * [[graft.streaming.EventStream.streamingEwma]], which carries the
    * same double across micro-batches. Shuffle key = series key, same
    * as every A-op.
    *
    * The 6-dp output rounding is `floor(e·1e6 + 0.5)/1e6` — plain IEEE
    * double ops that any engine reproduces bit-identically (the oracle
    * spells the recurrence as `list_reduce` over the per-row prefix
    * list and rounds with the same formula).
    */
  def ewma(df: DataFrame, key: String, time: String, id: String,
           value: String, alpha: Double): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, s"alpha=$alpha outside (0, 1]")
    val spark = df.sparkSession
    import spark.implicits._
    val beta = 1.0 - alpha
    // null readings out FIRST: the recurrence is undefined on them
    // (pandas ewm likewise carries the state over NaN rows), and a
    // null would abort the non-nullable Double encoder below. The
    // oracle applies the same WHERE.
    // key travels as its string form so ANY atomic key type works
    // (the pipeline's station keys are strings; a long cast would
    // null them and kill the non-nullable encoder). time/id/value
    // casts FAIL LOUDLY on un-castable input (a UUID-style string id
    // would cast to null and kill the same encoder with an opaque
    // "null in non-nullable field" — name the column instead).
    // the guard is FREE when the column already has the target type
    // (a cast of the right type can't null) — only lossy/parsing
    // casts pay the when-branch
    def castOrFail(name: String, to: String, what: String): Column = {
      val c = col(name)
      if (df.schema(name).dataType.simpleString == to) c
      else when(c.cast(to).isNotNull, c.cast(to))
        .otherwise(raise_error(concat(
          lit(s"ewma: $what not castable to $to: "),
          coalesce(c.cast("string"), lit("null")))).cast(to))
    }
    df.filter(col(value).isNotNull)
      .select(col(key).cast("string").as(key),
        castOrFail(time, "bigint", s"time column '$time'").as(time),
        castOrFail(id, "bigint", s"id column '$id'").as(id),
        castOrFail(value, "double", s"value column '$value'").as(value))
      .repartition(col(key))
      .sortWithinPartitions(col(key), col(time), col(id))
      .as[(String, Long, Long, Double)]
      .mapPartitions { it =>
        // keys arrive contiguous and time-ordered; one double of state
        var cur: String = null
        var started = false
        var prev = 0.0
        it.map { case (k, t, rid, v) =>
          if (!started || k != cur) { cur = k; started = true; prev = v }
          else prev = alpha * v + beta * prev
          (k, t, rid, v, math.floor(prev * 1e6 + 0.5) / 1e6)
        }
      }
      .toDF(key, time, id, value, "ewma")
  }

  /** A17: linear gap interpolation — null readings take the
    * time-weighted value between the nearest known neighbors on each
    * side (`prev + (next − prev)·(t − t_prev)/(t_next − t_prev)`), the
    * standard upgrade over A12's step-function forward fill for
    * continuous signals. Edges degrade gracefully: only a previous
    * neighbor → forward fill, only a next → backfill, neither → null.
    * Two frames over ONE per-series sort (unbounded-preceding last +
    * unbounded-following first, both ignoreNulls) — still a single
    * shuffle on the series key.
    */
  def interpLinear(df: DataFrame, key: String, time: String, id: String,
                   value: String): DataFrame = {
    val order = Window.partitionBy(col(key)).orderBy(col(time), col(id))
    val back = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fwd = order.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val knownT = when(col(value).isNotNull, col(time))
    val pv = last(col(value), ignoreNulls = true).over(back)
    val pt = last(knownT, ignoreNulls = true).over(back)
    val nv = first(col(value), ignoreNulls = true).over(fwd)
    val nt = first(knownT, ignoreNulls = true).over(fwd)
    df.withColumn("interp",
      when(col(value).isNotNull, col(value))
        .when(pt.isNull && nt.isNull, lit(null).cast("double"))
        .when(pt.isNull, nv)
        .when(nt.isNull, pv)
        // duplicate timestamps can pin both neighbors to the same
        // instant — 0/0 would be NaN, which Spark orders LARGEST
        .when(nt === pt, pv)
        .otherwise(round(pv + (nv - pv) * ((col(time) - pt) / (nt - pt)), 6)))
  }

  /** A20: seasonal climatology + anomaly — each reading's departure
    * from its series' mean at the same hour of day (the weather-domain
    * diagnostic behind "was this rainfall unusual FOR 3 AM": WRF bias
    * varies diurnally, so a flat per-series mean hides the signal
    * A16's z-score would mis-flag).
    *
    * One whole-partition window aggregate over (key, hour-of-day) —
    * ONE shuffle and every input column rides along for free, versus
    * the groupBy + join-back spelling's two exchanges of the full
    * frame. The partition is splittable-safe in practice: a (series,
    * hour) group holds at most years×365 readings, nothing like F7's
    * mega-strata. No orderBy on the window, so no sort — a pure
    * hash-style whole-partition aggregate.
    *
    * Cross-engine exactness — PRECONDITION: pass a DECIMAL-typed
    * `value` column (the catalog passes `value_dec`). The mean is then
    * an exact decimal sum divided by the non-null count, cast to
    * double once (the q1/C-block float rule), and the anomaly
    * subtracts two bit-identical doubles (the same decimal operand on
    * both engines). With a plain double column the whole-partition
    * sum is float-order-dependent and the cross-engine claim does NOT
    * hold — exactness is the caller's contract, not enforced here.
    * `ticksPerSec` scales the epoch arithmetic (µs default). */
  def seasonalAnomaly(df: DataFrame, key: String, tsTicks: String,
                      value: String,
                      ticksPerSec: Long = 1000000L): DataFrame = {
    val hod = expr(s"(($tsTicks div ${3600L * ticksPerSec}) % 24)")
    val w = Window.partitionBy(col(key), col("hour_of_day"))
    df.withColumn("hour_of_day", hod)
      .withColumn("clim_value",
        sum(col(value)).over(w).cast("double") / count(col(value)).over(w))
      .withColumn("anomaly", col(value).cast("double") - col("clim_value"))
  }

  /** Exact floor-division of a long column by a positive constant —
    * `div` alone truncates toward zero (wrong for negative ticks, e.g.
    * pre-1970 timestamps); subtracting the non-negative `pmod` first
    * makes the operand exactly divisible, so truncation IS floor.
    * `call_function("div", …)` is Spark's registered IntegralDivide:
    * the whole path stays in long arithmetic — the `/` operator would
    * detour through a double and go lossy past 2^53 ticks. */
  private[graft] def floorDivCol(c: Column, d: Long): Column =
    call_function("div", c - pmod(c, lit(d)), lit(d))

  /** A21: range (interval-containment) join — every `points` row whose
    * `pt` tick falls inside a right row's `[start, end]` (inclusive),
    * WITHOUT the cartesian/BroadcastNestedLoopJoin plan Spark picks
    * for a bare theta join (unusable past one small side; the
    * reference's obs-window extraction joins readings to fgt windows
    * this way, gen_active_stations_rfields.py's time-slicing, but
    * row-at-a-time in pandas).
    *
    * Scale shape: the time axis is cut into fixed `binWidth` bins;
    * each interval explodes to the ⌈len/bin⌉+1 bins it overlaps, each
    * point gets exactly its one containing bin, and the two sides
    * equi-join ON THE BIN — one hash shuffle each, partitioned by
    * time, so a 1000-executor cluster spreads the axis uniformly (no
    * hot key while binWidth tracks the typical interval length; skew
    * only if intervals pile onto one bin, which `maxBinsPerInterval`
    * can't cause — it guards the dual failure, a runaway interval
    * exploding to millions of rows, aborting loudly instead).
    * The exact BETWEEN predicate prunes in-bin misses after the join;
    * a (point, interval) pair matches in exactly one bin — the
    * point's own — so no post-join dedup is needed.
    */
  def rangeJoinBinned(points: DataFrame, pt: String,
                      intervals: DataFrame, start: String, end: String,
                      binWidth: Long,
                      maxBinsPerInterval: Int = 4096): DataFrame = {
    require(binWidth > 0, s"binWidth must be positive, got $binWidth")
    // the temp bin column is plain withColumn — a caller column of the
    // same name would be silently overwritten and corrupt the join
    require(!points.columns.contains("_bin") && !intervals.columns.contains("_bin"),
      "rangeJoinBinned: inputs must not already carry a `_bin` column")
    val p = points.withColumn("_bin", floorDivCol(col(pt), binWidth))
    val b0 = floorDivCol(col(start), binWidth)
    val b1 = floorDivCol(col(end), binWidth)
    // malformed (end < start) or runaway intervals die loudly: a
    // silent sequence() of 10^6 bins per row is the quadratic blowup
    // this operator exists to avoid. The guard is the sequence's OWN
    // upper bound — a detached assert_true column would rely on the
    // optimizer declining to prune an unreferenced projection
    val b1Guarded = when(
      col(end) >= col(start) && (b1 - b0) < lit(maxBinsPerInterval.toLong), b1)
      .otherwise(raise_error(
        lit(s"rangeJoinBinned: interval [$start,$end] invalid or wider " +
          s"than $maxBinsPerInterval bins of $binWidth — raise binWidth"))
        .cast("long"))
    val i = intervals.withColumn("_bin", explode(sequence(b0, b1Guarded)))
    p.join(i, "_bin")
      .filter(col(pt) >= col(start) && col(pt) <= col(end))
      .drop("_bin")
  }
}
