package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** One-off sf1 dataset generator (r7 verdict stretch ask #8): a
  * schema-compatible synthetic star at 10× sf0.1 — lineitem 6M,
  * orders 1.5M, events 1M, documents 50k, embeddings 20k — so the
  * whole Verify + DuckDB-oracle gate can run at 100× the driver's
  * sf0.01 gate scale. NOT driver data and NOT catalog input: the
  * oracle compare needs Spark and DuckDB to agree on the SAME input,
  * whatever its distribution, so a faithful-schema corpus with the
  * same planted structure (near-dup clones, exact dups, clustered +
  * twinned embeddings, the driver's value domains) pins the caps'
  * CORRECTNESS at scale, not just their wall clock. region/nation are
  * copied verbatim from sf0.1 (fixed dimension tables).
  *
  *   sbt "Test/runMain graft.Sf1GenDrive /tmp/graft_sf1"
  * then
  *   sbt "runMain graft.Verify /tmp/graft_sf1 /tmp/verify_sf1"
  *   python3 tools/check_correctness.py /tmp/graft_sf1 /tmp/verify_sf1
  */
object Sf1GenDrive {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("/tmp/graft_sf1")
    val srcDir = "/root/testdata/sf0.1"
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "16"),
      shufflePartitions = "32",
      // match the driver datasets' physical timestamp type
      extra = Map("spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS"))

    val conf = spark.sessionState.newHadoopConf()
    def writeOne(df: DataFrame, name: String): Unit = {
      val tmp = s"$outDir/_tmp_$name"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val fs = new Path(tmp).getFileSystem(conf)
      val part = fs.globStatus(new Path(s"$tmp/part-*.parquet"))(0).getPath
      fs.delete(new Path(s"$outDir/$name.parquet"), false)
      fs.rename(part, new Path(s"$outDir/$name.parquet"))
      fs.delete(new Path(tmp), true)
      println(s"[sf1] wrote $name")
    }

    def xx(salt: Int, cols: Column*): Column = xxhash64((lit(salt) +: cols): _*)
    def pick(c: Column, vals: String*): Column =
      element_at(array(vals.map(lit): _*), (pmod(c, lit(vals.length)) + 1).cast("int"))

    // dimension tables verbatim
    writeOne(spark.read.parquet(s"$srcDir/region.parquet"), "region")
    writeOne(spark.read.parquet(s"$srcDir/nation.parquet"), "nation")

    writeOne(spark.range(150000).select(
      (col("id") + 1).as("c_custkey"),
      concat(lit("Customer#"), col("id") + 1).as("c_name"),
      pmod(xx(21, col("id")), lit(25)).cast("int").as("c_nationkey"),
      ((pmod(xx(22, col("id")), lit(1099966)) - 99985) / 100.0).as("c_acctbal"),
      pick(xx(23, col("id")), "BUILDING", "AUTOMOBILE", "MACHINERY",
        "HOUSEHOLD", "FURNITURE").as("c_mktsegment")), "customer")

    writeOne(spark.range(10000).select(
      (col("id") + 1).as("s_suppkey"),
      concat(lit("Supplier#"), col("id") + 1).as("s_name"),
      pmod(xx(31, col("id")), lit(25)).cast("int").as("s_nationkey"),
      ((pmod(xx(32, col("id")), lit(1099966)) - 99985) / 100.0).as("s_acctbal")),
      "supplier")

    val vocab = Seq(
      "spark", "batch", "part", "line", "column", "order", "small", "sort",
      "fast", "value", "scan", "query", "agg", "table", "hash", "key",
      "group", "filter", "stream", "vector", "customer", "slow", "join",
      "shuffle", "merge", "index", "cache", "disk", "memory", "task",
      "stage", "plan", "cost", "rule", "tree", "node", "row", "page",
      "block", "file", "read", "write", "sync", "async", "queue", "pool",
      "thread", "core", "byte", "bit", "word", "text", "token", "gram",
      "dedup", "sample", "split", "pack", "mix", "lang", "score", "clean",
      "crawl", "shard", "bucket", "probe", "list", "code", "book", "train",
      "learn", "model", "layer", "weight", "bias", "loss", "grad", "step",
      "epoch", "data", "label", "class", "field", "grid", "cell", "point",
      "range", "window", "frame", "state", "event", "time", "clock", "tick",
      "wave", "signal")
    require(vocab.length == 96 && vocab.distinct.length == 96)
    val vocabArr = array(vocab.map(lit): _*)
    def wordAt(h: Column): Column =
      element_at(vocabArr, (pmod(h, lit(96)) + 1).cast("int"))

    writeOne(spark.range(200000).select(
      (col("id") + 1).as("p_partkey"),
      concat_ws(" ", wordAt(xx(41, col("id"))), wordAt(xx(42, col("id"))))
        .as("p_name"),
      concat(lit("Brand#"), pmod(xx(43, col("id")), lit(45)) + 1).as("p_brand"),
      pick(xx(44, col("id")), "ECONOMY", "SMALL", "PROMO", "MEDIUM",
        "LARGE", "STANDARD").as("p_type"),
      (pmod(xx(45, col("id")), lit(50)) + 1).cast("int").as("p_size"),
      (lit(900.0) + pmod(xx(46, col("id")), lit(1000)) / 10.0)
        .as("p_retailprice")), "part")

    writeOne(spark.range(1500000).select(
      (col("id") + 1).as("o_orderkey"),
      (pmod(xx(51, col("id")), lit(150000)) + 1).as("o_custkey"),
      pick(xx(52, col("id")), "O", "F", "P").as("o_orderstatus"),
      (lit(1000.0) + pmod(xx(53, col("id")), lit(49900000)) / 100.0)
        .as("o_totalprice"),
      expr("cast(date_add(date'1995-01-01', " +
        "cast(pmod(xxhash64(54, id), 2400) as int)) as timestamp)")
        .as("o_orderdate"),
      pick(xx(55, col("id")), "1-URGENT", "2-HIGH", "3-MEDIUM",
        "4-NOT SPECIFIED", "5-LOW").as("o_orderpriority")), "orders")

    val qty = (pmod(xx(63, col("id")), lit(50)) + 1).cast("double")
    writeOne(spark.range(6000000).select(
      (pmod(xx(61, col("id")), lit(1500000)) + 1).as("l_orderkey"),
      (pmod(xx(62, col("id")), lit(200000)) + 1).as("l_partkey"),
      (pmod(xx(66, col("id")), lit(10000)) + 1).as("l_suppkey"),
      (pmod(xx(67, col("id")), lit(7)) + 1).cast("int").as("l_linenumber"),
      qty.as("l_quantity"),
      (qty * (lit(900.0) + pmod(xx(64, col("id")), lit(1000)) / 10.0))
        .as("l_extendedprice"),
      (pmod(xx(65, col("id")), lit(11)) / 100.0).as("l_discount"),
      (pmod(xx(68, col("id")), lit(9)) / 100.0).as("l_tax"),
      pick(xx(69, col("id")), "A", "N", "R").as("l_returnflag"),
      pick(xx(70, col("id")), "O", "F").as("l_linestatus"),
      expr("cast(date_add(date'1995-01-02', " +
        "cast(pmod(xxhash64(71, id), 2500) as int)) as timestamp)")
        .as("l_shipdate")), "lineitem")

    writeOne(spark.range(1000000).select(
      col("id").as("event_id"),
      timestamp_micros(lit(1704067200000000L) +
        pmod(xx(81, col("id")), lit(2592000000000L))).as("ts"),
      pmod(xx(82, col("id")), lit(15000)).as("user_id"),
      pick(xx(83, col("id")), "view", "click", "purchase", "signup",
        "error").as("event_type"),
      // uniform base with a ~0.2% heavy tail: a pure-uniform value
      // column has NO |z| > 3 points and ts_zscore_outliers degenerates
      // to 0 rows at sf1 — the spike factor keeps the outlier path
      // exercised at scale like the driver corpus does
      ((pmod(xx(84, col("id")), lit(1000)) / 10.0) *
        when(pmod(xx(86, col("id")), lit(499)) === 0, 40.0).otherwise(1.0))
        .as("value"),
      concat(lit("{\"k\": "), pmod(xx(85, col("id")), lit(100)),
        lit("}")).as("props")), "events")

    // documents: clones every 100th doc share the predecessor's BODY
    // (≥ 24 tokens — a guaranteed D11/D3 near-dup run); every 500th is
    // a byte-exact duplicate (tail drawn from the shared seed too)
    val seedD = when(pmod(col("id"), lit(100)) === 1, col("id") - 1)
      .otherwise(col("id"))
    val tailSeed = when(pmod(col("id"), lit(500)) === 1, seedD)
      .otherwise(col("id"))
    val bodyLen = pmod(xx(91, seedD), lit(60)) + 24
    val body = transform(sequence(lit(1), bodyLen),
      i => wordAt(xx(92, seedD, i)))
    val tail3 = transform(sequence(lit(1), lit(3)),
      i => wordAt(xx(93, tailSeed, i)))
    val textCol = concat_ws(" ", concat(body, tail3))
    val langBucket = pmod(xx(94, col("id")), lit(20))
    writeOne(spark.range(50000).select(
      col("id").as("doc_id"),
      textCol.as("text"),
      when(langBucket < 8, "en").when(langBucket < 11, "zh")
        .when(langBucket < 14, "es").when(langBucket < 17, "fr")
        .otherwise("de").as("lang"),
      concat(lit("src"), pmod(xx(95, col("id")), lit(20))).as("source"),
      length(textCol).cast("bigint").as("n_chars")), "documents")

    // embeddings: 10 cluster centers + per-vector noise, unit-
    // normalized; every 100th vector is an identical TWIN of its
    // predecessor (cosine 1.0 — the D5/D5b planted pair structure)
    val seedE = when(pmod(col("id"), lit(100)) === 1, col("id") - 1)
      .otherwise(col("id"))
    val lbl = pmod(xx(101, seedE), lit(10))
    val v0 = transform(sequence(lit(0), lit(63)), d =>
      (pmod(xx(102, lbl, d), lit(2001)) - 1000) / 1000.0 +
        (pmod(xx(103, seedE, d), lit(2001)) - 1000) / 2000.0)
    val n2 = aggregate(v0, lit(0.0), (a, x) => a + x * x)
    writeOne(spark.range(20000).select(
      col("id").as("vec_id"),
      transform(v0, x => (x / sqrt(n2)).cast("float")).as("embedding"),
      lbl.cast("int").as("label")), "embeddings")

    println(s"[sf1] dataset complete at $outDir")
    spark.stop()
  }
}
