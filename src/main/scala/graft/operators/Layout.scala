package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-ORDER (Morton-curve) data layout — the multi-dimensional
  * clustering lever lakehouse tables run under `OPTIMIZE ZORDER BY`:
  * a table range-partitioned and sorted on ONE key prunes files for
  * predicates on that key only; clustered on the INTERLEAVED bits of
  * two keys, every file covers a small rectangle of the (a, b) space,
  * so parquet footer min/max stats on the ORIGINAL columns prune
  * files (and row groups, via the pushed-down filters) for rectangle
  * predicates on EITHER or BOTH dims.
  *
  * At 100 TB this is a WRITE-TIME investment with read-time payoff:
  * one range shuffle on the z-key when the table lands (or is
  * periodically re-clustered), then every selective 2-D query reads
  * ~the matching rectangle's files instead of the full table. The
  * z-key itself never persists — it exists only to drive the
  * partitioner and the within-partition sort; queries filter on the
  * original columns and the layout does the rest (no BIGMIN range
  * translation needed, which is what makes this spelling robust:
  * pruning comes from per-file column stats, not z-key range math).
  *
  * Everything here is codegen'd integer bit arithmetic — no UDF, no
  * shuffle beyond the one repartitionByRange. */
object Layout {

  /** Spread the low 16 bits of `x` (a non-negative bucketed
    * coordinate) into the even bit positions of a 32-bit lane — the
    * classic mask-shift ladder, as Column ops so it stays inside
    * whole-stage codegen. */
  private def spread16(x: Column): Column =
    Seq((8, 0x00FF00FFL), (4, 0x0F0F0F0FL), (2, 0x33333333L),
        (1, 0x55555555L))
      .foldLeft(x.cast("long").bitwiseAND(lit(0xFFFFL))) {
        case (acc, (s, mask)) =>
          acc.bitwiseOR(shiftleft(acc, s)).bitwiseAND(lit(mask))
      }

  /** Morton key of two bucketed coordinates (each in [0, 2^16)):
    * `a`'s bits land in the even positions, `b`'s in the odd. */
  def zkey2(a: Column, b: Column): Column =
    spread16(a).bitwiseOR(shiftleft(spread16(b), 1))

  /** Morton key of N bucketed coordinates (2 ≤ N ≤ 4, each in
    * [0, 2^(63/N))): dim j's bit i lands at position i·N + j. 63/N,
    * not 64/N — bit 63 is the long's SIGN bit, and a key landing
    * there would sort the top half of that dim FIRST under the
    * signed range-partition, splitting the curve into two swapped
    * halves (second review pass; N = 4 therefore gets 15 bits per
    * dim, max position 59). The generic spread is an unrolled
    * shift/mask/or chain per bit, all inside whole-stage codegen;
    * paid once at write time, like the rest of the layout. N = 2
    * takes the mask-ladder fast path. */
  def zkeyN(dims: Seq[Column]): Column = {
    require(dims.size >= 2 && dims.size <= 4,
      s"zkeyN takes 2 to 4 dims, got ${dims.size}")
    if (dims.size == 2) zkey2(dims.head, dims(1))
    else {
      val n = dims.size
      val bits = 63 / n
      dims.zipWithIndex.map { case (d, j) =>
        val x = d.cast("long").bitwiseAND(lit((1L << bits) - 1))
        (0 until bits).map(i =>
          shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), i * n + j))
          .reduce(_.bitwiseOR(_))
      }.reduce(_.bitwiseOR(_))
    }
  }

  /** Bucket a long column into [0, 2^bits) over [min, max] with pure
    * integer arithmetic — and NORMALIZED: a narrow dim (say 150
    * user ids) must still fill the whole bucket range, or its bits
    * sit above the wide dim's in the interleave and that dim stops
    * pruning (PERF.md Round 12: user-only predicates hit 64/64 files
    * before this scaling). Small spans scale UP via an exact
    * (off · 2^bits) div span (the product fits a long whenever
    * span ≤ Long.Max >> bits — true for µs timestamps over
    * millennia); astronomically wide spans fall back to fixed
    * ceil-width chunks. Integral `div`, never `/` — the double it
    * returns is not exact at these magnitudes. */
  def rangeBucket(c: Column, min: Long, max: Long, bits: Int): Column = {
    // 21 = the widest z-key lane (N = 3); 2-dim keys use ≤ 16
    require(bits > 0 && bits <= 21, s"bits=$bits must be in [1, 21]")
    require(min <= max, s"rangeBucket: min=$min > max=$max")
    // (max - min + 1) must fit a long, and (c - min) must not
    // overflow under ANSI either — a dim spanning most of the signed
    // 64-bit range (e.g. raw hashes) needs pre-bucketing by the
    // caller; silently wrapped spans would cluster rows randomly and
    // the promised pruning would never materialize (r12 review)
    require(BigInt(max) - BigInt(min) + 1 <= BigInt(Long.MaxValue),
      s"rangeBucket: span of [$min, $max] overflows a long — " +
        "pre-bucket the dimension (e.g. shift raw hashes to " +
        "unsigned-scaled longs) before z-ordering on it")
    val span = math.max(1L, max - min + 1L)
    val off = c.cast("long") - lit(min)
    if (span <= (Long.MaxValue >> bits))
      call_function("div", off * lit(1L << bits), lit(span))
    else {
      // ceil WITHOUT the +((1<<bits)-1) trick: a span within 2^bits of
      // Long.MaxValue passes the BigInt require but overflows the
      // additive form, wrapping width negative and silently destroying
      // the promised clustering (r12 ADVICE — content stays
      // row-identical, so no gate would catch it)
      val width = span / (1L << bits) +
        (if (span % (1L << bits) == 0L) 0L else 1L)
      call_function("div", off, lit(width))
    }
  }

  /** Write `df` clustered on the z-curve of two to four long-typed
    * dims: bucket each dim by its own min/max (one bounded agg job —
    * the index-build cost), interleave, range-partition into `files`
    * output files, sort within partitions, drop the key. The written
    * table is row-identical to `df`; only the file layout changes.
    * Each dim gets a sign-safe 63/N-bit lane (N = 2 → the 16-bit
    * mask ladder). */
  def writeZordered(df: DataFrame, path: String, dimA: String,
                    dimB: String, files: Int, bits: Int = 16): Unit =
    writeZorderedN(df, path, Seq(dimA, dimB), files, bits)

  /** `bits = 0` (the default) auto-sizes to the widest sign-safe
    * per-dim width (16/21/15 for N = 2/3/4); an explicit value must
    * fit the key's per-dim lane. */
  def writeZorderedN(df: DataFrame, path: String, dims: Seq[String],
                     files: Int, bits: Int = 0): Unit = {
    require(files > 0, s"files=$files must be positive")
    require(dims.size >= 2 && dims.size <= 4,
      s"writeZorderedN takes 2 to 4 dims, got ${dims.size}")
    val lane = if (dims.size == 2) 16 else 63 / dims.size
    val width = if (bits == 0) lane else bits
    require(width > 0 && width <= lane,
      s"bits=$bits must be in [1, $lane] for ${dims.size} dims")
    val r = df.agg(
      dims.flatMap(d => Seq(min(col(d)).cast("long"),
        max(col(d)).cast("long"))).head,
      dims.flatMap(d => Seq(min(col(d)).cast("long"),
        max(col(d)).cast("long"))).tail: _*).head()
    require(!r.anyNull, s"writeZordered: ${dims.mkString("/")} must be non-null")
    val z = zkeyN(dims.zipWithIndex.map { case (d, i) =>
      rangeBucket(col(d), r.getLong(2 * i), r.getLong(2 * i + 1), width) })
    df.withColumn("__zkey", z)
      .repartitionByRange(files, col("__zkey"))
      .sortWithinPartitions("__zkey")
      .drop("__zkey")
      .write.mode("overwrite").parquet(path)
  }
}
