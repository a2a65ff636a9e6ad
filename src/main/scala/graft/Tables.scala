package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.{LongType, TimestampType}

/** Table registry: one loader per driver-generated parquet table.
  *
  * All operators take `DataFrame`s, never paths, so Catalyst sees a
  * single plan per query (scan → transform), letting filter pushdown
  * and column pruning reach the parquet reader.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Reader configs the test tables need:
    *  - `events.ts` is parquet TIMESTAMP(NANOS) which Spark's vectorized
    *    reader rejects; `nanosAsLong` surfaces it as epoch-nanos
    *    LongType — exact integer time arithmetic, no precision loss.
    *  - NTZ inference off so naive parquet timestamps land as plain
    *    TimestampType (session tz is pinned UTC everywhere).
    */
  def configure(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    // timestamp semantics (tzShiftLk's date_format, the relational
    // queries' timestamp literals) assume UTC; pin it here — the one
    // hook every library entry point passes through — instead of
    // relying on each main() to remember
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark
  }

  /** Resolved-DataFrame cache: repeated loads of the same table reuse
    * the analyzed relation (file listing + parquet footer/schema read
    * happen once per (session, dir, table) instead of once per query —
    * a fixed cost that multiplies across a 40-query catalog).
    * A cached DataFrame strongly references its SparkSession, so weak
    * KEYS alone could never evict (the key stays reachable through its
    * own entry's value); the values are SoftReferences instead — under
    * heap pressure the GC clears them, which also unpins the session. */
  private val cache =
    new java.util.WeakHashMap[SparkSession,
      scala.collection.concurrent.TrieMap[(String, String),
        java.lang.ref.SoftReference[DataFrame]]]()

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val perSession = cache.synchronized {
      cache.computeIfAbsent(spark,
        _ => scala.collection.concurrent.TrieMap.empty)
    }
    val key = (sfDir, name)
    perSession.get(key).flatMap(r => Option(r.get())).getOrElse {
      val df = configure(spark).read.parquet(s"$sfDir/$name.parquet")
      perSession.put(key, new java.lang.ref.SoftReference(df))
      df
    }
  }

  /** Register every table as a temp view so the engine's full SQL
    * surface (`spark.sql("SELECT … FROM lineitem …")`) works over the
    * dataset directory. */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    names.foreach(n => load(spark, sfDir, n).createOrReplaceTempView(n))

  /** Epoch-MICROS expression for `events.ts`, robust to the physical
    * type the data generator chose for that column — it has shipped
    * both across dataset versions:
    *  - parquet TIMESTAMP(NANOS) → epoch-nanos LongType under
    *    `nanosAsLong` → floor-divide to µs (exact integer arithmetic);
    *  - parquet TIMESTAMP(MICROS) → TimestampType (session tz pinned
    *    UTC in [[configure]]) → `unix_micros`.
    * Both agree bit-for-bit with DuckDB's `epoch_us(ts)`, which is
    * what every oracle mirror keys on — µs being the highest
    * resolution both engines hold exactly. */
  def eventTsUs(events: DataFrame): Column = events.schema("ts").dataType match {
    // FLOOR division (Timeseries.floorDivCol), not bare `div`: `div`
    // truncates toward zero, which disagrees with floor on sub-µs
    // NEGATIVE ticks (pre-1970 rows in some future regeneration) and
    // would mis-key those rows vs the oracle by 1µs
    case LongType => graft.operators.Timeseries.floorDivCol(
      org.apache.spark.sql.functions.col("ts"), 1000L)
    case _: TimestampType => expr("unix_micros(ts)")
    case dt => throw new IllegalArgumentException(
      s"events.ts: unsupported physical type $dt (expected epoch-nanos long or timestamp)")
  }

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame     = load(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
