package graft

import java.lang.reflect.{InvocationHandler, Method, Proxy}
import java.sql.PreparedStatement
import java.sql.Timestamp

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.sinks.JdbcUpsert
import graft.streaming.EventStream

/** In-JVM fake database for upsert round-trips: a serializable-by-name
  * connection factory (local-mode executors share the JVM, so the
  * static counters observe executor-side behavior) whose connections /
  * batches fail a configurable number of times before recovering. */
object FakeDb {
  import java.util.concurrent.atomic.AtomicInteger
  val connectFails  = new AtomicInteger(0)
  val executeFails  = new AtomicInteger(0)
  val commits       = new AtomicInteger(0)

  def reset(connectFailures: Int = 0, executeBatchFailures: Int = 0): Unit = {
    connectFails.set(connectFailures)
    executeFails.set(executeBatchFailures)
    commits.set(0)
  }

  private def stmt(): PreparedStatement =
    Proxy.newProxyInstance(getClass.getClassLoader,
      Array(classOf[PreparedStatement]),
      new InvocationHandler {
        def invoke(p: Any, m: Method, args: Array[AnyRef]): AnyRef = m.getName match {
          case "executeBatch" =>
            if (executeFails.getAndUpdate(n => math.max(0, n - 1)) > 0)
              throw new java.sql.SQLTransientException("flaky batch")
            Array.empty[Int]
          case _ => null
        }
      }).asInstanceOf[PreparedStatement]

  def connect(): java.sql.Connection = {
    if (connectFails.getAndUpdate(n => math.max(0, n - 1)) > 0)
      throw new java.sql.SQLNonTransientConnectionException("db unreachable")
    Proxy.newProxyInstance(getClass.getClassLoader,
      Array(classOf[java.sql.Connection]),
      new InvocationHandler {
        def invoke(p: Any, m: Method, args: Array[AnyRef]): AnyRef = m.getName match {
          case "prepareStatement" => stmt()
          case "commit"           => commits.incrementAndGet(); null
          case _ => null
        }
      }).asInstanceOf[java.sql.Connection]
  }
}

class SinkStreamSpec extends SparkSpec {
  import spark.implicits._

  test("JdbcUpsert MySQL dialect builds INSERT .. ON DUPLICATE KEY UPDATE") {
    val sql = JdbcUpsert.MySqlDialect.sql("data", Seq("id", "time", "value", "fgt"), Seq("id", "time"))
    assert(sql === "INSERT INTO data (id, time, value, fgt) VALUES (?, ?, ?, ?) " +
      "ON DUPLICATE KEY UPDATE value = VALUES(value), fgt = VALUES(fgt)")
  }

  test("JdbcUpsert Postgres dialect builds ON CONFLICT DO UPDATE") {
    val sql = JdbcUpsert.PostgresDialect.sql("data", Seq("id", "v"), Seq("id"))
    assert(sql === "INSERT INTO data (id, v) VALUES (?, ?) " +
      "ON CONFLICT (id) DO UPDATE SET v = EXCLUDED.v")
  }

  test("JdbcUpsert.writeBatches binds all rows and flushes partial batches") {
    val calls = ArrayBuffer[String]()
    val stmt = Proxy.newProxyInstance(getClass.getClassLoader,
      Array(classOf[PreparedStatement]),
      new InvocationHandler {
        def invoke(p: Any, m: Method, args: Array[AnyRef]): AnyRef = m.getName match {
          case "setObject" => calls += s"set(${args(0)},${args(1)})"; null
          case "addBatch"  => calls += "addBatch"; null
          case "executeBatch" => calls += "executeBatch"; Array.empty[Int]
          case _ => null
        }
      }).asInstanceOf[PreparedStatement]
    val rows = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v").collect().iterator
    val n = JdbcUpsert.writeBatches(rows, stmt, Seq(0, 1), batchSize = 2)
    assert(n === 3)
    assert(calls.count(_ == "executeBatch") === 2) // full batch + tail flush
    assert(calls.count(_ == "addBatch") === 3)
    assert(calls.take(3) === Seq("set(1,1)", "set(2,a)", "addBatch"))
  }

  /** Recording PreparedStatement whose executeBatch fails the first
    * `failures` calls (then succeeds) — the transient-DB stand-in. */
  private def flakyStmt(failures: Int, calls: ArrayBuffer[String]): PreparedStatement = {
    var remaining = failures
    Proxy.newProxyInstance(getClass.getClassLoader,
      Array(classOf[PreparedStatement]),
      new InvocationHandler {
        def invoke(p: Any, m: Method, args: Array[AnyRef]): AnyRef = m.getName match {
          case "setObject"  => calls += s"set(${args(0)},${args(1)})"; null
          case "addBatch"   => calls += "addBatch"; null
          case "clearBatch" => calls += "clearBatch"; null
          case "executeBatch" =>
            if (remaining > 0) { remaining -= 1; calls += "executeBatch:FAIL"
              throw new java.sql.SQLTransientException("connection reset") }
            calls += "executeBatch"; Array.empty[Int]
          case _ => null
        }
      }).asInstanceOf[PreparedStatement]
  }

  test("writeBatchesRetrying: transient executeBatch failure succeeds on retry") {
    val calls = ArrayBuffer[String]()
    val stmt = flakyStmt(failures = 1, calls)
    val rows = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v").collect().iterator
    val errors = ArrayBuffer[JdbcUpsert.PushError]()
    val (ok, bad) = JdbcUpsert.writeBatchesRetrying(rows, stmt, Seq(0, 1), batchSize = 2,
      JdbcUpsert.RetryPolicy(maxAttempts = 3), errors += _, sleep = _ => ())
    assert(ok === 3 && bad === 0 && errors.isEmpty)
    // first batch: fail, re-bind (clearBatch + 2 addBatch), succeed; tail batch once
    assert(calls.count(_ == "executeBatch:FAIL") === 1)
    assert(calls.count(_ == "executeBatch") === 2)
    assert(calls.count(_ == "clearBatch") === 3) // one per attempt (2 + 1)
    assert(calls.count(_ == "addBatch") === 5)   // batch1 bound twice + tail once
  }

  test("writeBatchesRetrying: permanent failure lands in ledger, later batches still write") {
    val calls = ArrayBuffer[String]()
    val stmt = flakyStmt(failures = 3, calls) // exhausts maxAttempts=3 on batch 0
    val rows = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v").collect().iterator
    val errors = ArrayBuffer[JdbcUpsert.PushError]()
    val (ok, bad) = JdbcUpsert.writeBatchesRetrying(rows, stmt, Seq(0, 1), batchSize = 2,
      JdbcUpsert.RetryPolicy(maxAttempts = 3), errors += _, partitionId = 7, sleep = _ => ())
    assert(ok === 1 && bad === 2) // batch 0 (2 rows) failed; tail batch (1 row) written
    assert(errors.map(e => (e.partition, e.batch, e.rows, e.attempts)) ===
      Seq((7, 0, 2L, 3)))
    assert(errors.head.message.contains("connection reset"))
  }

  test("writeBatchesRetrying: commit per ok batch, rollback per failed attempt") {
    val calls = ArrayBuffer[String]()
    val stmt = flakyStmt(failures = 3, calls) // batch 0 exhausts maxAttempts=3
    val rows = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v").collect().iterator
    val errors = ArrayBuffer[JdbcUpsert.PushError]()
    val (ok, bad) = JdbcUpsert.writeBatchesRetrying(rows, stmt, Seq(0, 1), batchSize = 2,
      JdbcUpsert.RetryPolicy(maxAttempts = 3), errors += _, partitionId = 7,
      sleep = _ => (),
      onBatchOk = () => calls += "commit", onAttemptFail = () => calls += "rollback")
    assert(ok === 1 && bad === 2)
    // every failed executeBatch attempt rolls back (a failed statement
    // ABORTS the transaction on PostgreSQL — without the rollback every
    // later attempt/batch dies with "transaction is aborted"), and the
    // surviving tail batch commits ITSELF — a later poisoned
    // end-of-partition commit can't silently erase it
    assert(calls.count(_ == "rollback") === 3)
    assert(calls.count(_ == "commit") === 1)
    assert(calls.indexOf("commit") > calls.lastIndexOf("rollback"))
  }

  test("upsert: accumulator ledger surfaces executor-side failures without killing the job") {
    FakeDb.reset(executeBatchFailures = 100) // every batch fails permanently
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("id", "v").repartition(2)
    val res = JdbcUpsert.upsert(df, "t", Seq("id"), FakeDb.connect _,
      batchSize = 2, policy = JdbcUpsert.RetryPolicy(maxAttempts = 2), sleep = _ => ())
    assert(!res.ok)
    assert(res.rowsWritten === 0 && res.rowsFailed === 4)
    assert(res.errors.map(_.attempts).forall(_ === 2))
    assert(res.errors.map(_.rows).sum === 4)
  }

  test("upsert: transient flake is retried to a clean result") {
    FakeDb.reset(executeBatchFailures = 1) // one global flake, then healthy
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("id", "v").coalesce(1)
    val res = JdbcUpsert.upsert(df, "t", Seq("id"), FakeDb.connect _,
      batchSize = 2, policy = JdbcUpsert.RetryPolicy(maxAttempts = 3), sleep = _ => ())
    assert(res.ok)
    assert(res.rowsWritten === 4 && res.rowsFailed === 0 && res.errors.isEmpty)
    assert(FakeDb.commits.get() >= 1)
  }

  test("upsert: unreachable database ledgers whole partitions under batch -1") {
    FakeDb.reset(connectFailures = 100)
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v").coalesce(1)
    val res = JdbcUpsert.upsert(df, "t", Seq("id"), FakeDb.connect _,
      policy = JdbcUpsert.RetryPolicy(maxAttempts = 2), sleep = _ => ())
    assert(res.rowsWritten === 0 && res.rowsFailed === 3)
    assert(res.errors.map(e => (e.batch, e.rows, e.attempts)) === Seq((-1, 3L, 2)))
  }

  test("EventStream.windowedSums aggregates 15-min windows with watermark (MemoryStream)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val df = mem.toDF().toDF("ts", "station", "value")
    val q = EventStream.windowedSums(df, "ts", "station", "value")
      .writeStream.format("memory").queryName("win_sums").outputMode("complete").start()
    def t(min: Int) = new Timestamp(1577836800000L + min * 60000L) // 2020-01-01 UTC
    mem.addData((t(0), "s1", 1.0), (t(5), "s1", 2.0), (t(16), "s1", 4.0), (t(2), "s2", 8.0))
    q.processAllAvailable()
    val out = spark.table("win_sums")
      .orderBy("station", "bucket_start")
      .select("station", "value", "n_events").collect().toSeq.map(_.toSeq)
    q.stop()
    assert(out === Seq(Seq("s1", 3.0, 2L), Seq("s1", 4.0, 1L), Seq("s2", 8.0, 1L)))
  }

  test("EventStream.streamingHybrid joins obs and fcst per (station, window), obs wins") {
    implicit val sqlCtx = spark.sqlContext
    val obs = MemoryStream[(Timestamp, String, Double)]
    val fcst = MemoryStream[(Timestamp, String, Double)]
    val q = EventStream.streamingHybrid(
        obs.toDF().toDF("ts", "station", "value"),
        fcst.toDF().toDF("ts", "station", "value"),
        "ts", "station", "value")
      .writeStream.format("memory").queryName("hyb").outputMode("append").start()
    def t(min: Int) = new Timestamp(1577836800000L + min * 60000L)
    // window [0,15): both sides report for s1 → one hybrid row, obs wins;
    // fcst-only window [15,30) and fcst-only station s2 → no row (inner =
    // the reference's overlap-only dropna)
    obs.addData((t(1), "s1", 1.5))
    fcst.addData((t(4), "s1", 9.0), (t(16), "s1", 7.0), (t(2), "s2", 8.0))
    q.processAllAvailable()
    val out = spark.table("hyb")
      .select("station", "obs_value", "fcst_value", "hybrid_value")
      .collect().toSeq.map(_.toSeq)
    q.stop()
    assert(out === Seq(Seq("s1", 1.5, 9.0, 1.5)))
  }

  test("EventStream.streamingRangeJoin pairs points within ±width of anchors, drops the rest") {
    implicit val sqlCtx = spark.sqlContext
    val pts = MemoryStream[(Timestamp, Long)]
    val anc = MemoryStream[(Timestamp, Long)]
    val q = EventStream.streamingRangeJoin(
        pts.toDF().toDF("pt_ts", "click_id"),
        anc.toDF().toDF("err_ts", "error_id"),
        "pt_ts", "err_ts", widthMinutes = 15)
      .select("click_id", "error_id")
      .writeStream.format("memory").queryName("rjoin").outputMode("append").start()
    def t(min: Int) = new Timestamp(1577836800000L + min * 60000L)
    // anchor at t=20: clicks at 5 (exactly -15, inclusive), 30 (in),
    // 36 (out by 1 min); a second anchor at t=50 catches the 36 click
    anc.addData((t(20), 100L), (t(50), 200L))
    pts.addData((t(5), 1L), (t(30), 2L), (t(36), 3L))
    q.processAllAvailable()
    val out = spark.table("rjoin").as[(Long, Long)].collect().toSet
    q.stop()
    assert(out === Set((1L, 100L), (2L, 100L), (3L, 200L)))
  }

  test("EventStream.dedupStream drops re-pushed (key, time) duplicates across batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val df = mem.toDF().toDF("ts", "station", "value")
    val q = EventStream.dedupStream(df, "ts", Seq("station"))
      .writeStream.format("memory").queryName("dedup_s").outputMode("append").start()
    def t(min: Int) = new Timestamp(1577836800000L + min * 60000L)
    mem.addData((t(0), "s1", 1.0), (t(0), "s1", 1.0))        // dup within batch
    q.processAllAvailable()
    mem.addData((t(0), "s1", 1.0), (t(5), "s1", 2.0))        // dup across batches
    q.processAllAvailable()
    val out = spark.table("dedup_s").collect()
    q.stop()
    assert(out.length === 2) // one row per distinct (station, ts)
  }

  test("EventStream.sessionize merges gap-close events, splits at inactivity (session_window)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String)]
    val df = mem.toDF().toDF("ts", "station")
    val q = EventStream.sessionize(df, "ts", "station", gap = "10 minutes")
      .writeStream.format("memory").queryName("sess").outputMode("complete").start()
    def t(min: Int) = new Timestamp(1577836800000L + min * 60000L)
    // s1: 0,5 chain into one session (gap<10), 30 starts a new one —
    // and the 5-min event arrives in a LATER batch: the open session
    // must extend across the micro-batch boundary
    mem.addData((t(0), "s1"), (t(30), "s1"), (t(2), "s2"))
    q.processAllAvailable()
    mem.addData((t(5), "s1"))
    q.processAllAvailable()
    val out = spark.table("sess").orderBy("station", "session_start")
      .select("station", "session_start", "session_end", "n_events")
      .collect().toSeq.map(_.toSeq)
    q.stop()
    assert(out === Seq(
      Seq("s1", t(0), t(15), 2L),   // 0 and 5 merged; end = last + gap
      Seq("s1", t(30), t(40), 1L),
      Seq("s2", t(2), t(12), 1L)))
  }

  test("streamingAsofJoin forward-fills across batches with batch parity; late rows drop") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[EventStream.AsofEvent]
    val q = EventStream.streamingAsofJoin(mem.toDS())
      .writeStream.format("memory").queryName("asof_s").outputMode("append").start()
    def t(min: Int) = new Timestamp(1577836800000L + min * 60000L)
    // batch 1: probe before any reference (no match), reference at
    // t1, probe TIED at t1 (right-first ordering must let it match)
    mem.addData(
      EventStream.AsofEvent("s1", t(0), isRight = false, 1.0),
      EventStream.AsofEvent("s1", t(1), isRight = true, 100.0),
      EventStream.AsofEvent("s1", t(1), isRight = false, 2.0))
    q.processAllAvailable()
    // batch 2: the t1 reference survives the batch boundary in state;
    // a newer reference takes over for later probes
    mem.addData(
      EventStream.AsofEvent("s1", t(2), isRight = false, 3.0),
      EventStream.AsofEvent("s1", t(3), isRight = true, 200.0),
      EventStream.AsofEvent("s1", t(4), isRight = false, 4.0))
    q.processAllAvailable()
    // batch 3: a LATE reference (t1) and a LATE probe (t3) are both
    // behind the last applied position — dropped (appended probe
    // results can't be retracted); an in-order probe continues on the
    // uncorrupted state
    mem.addData(
      EventStream.AsofEvent("s1", t(1), isRight = true, 999.0),
      EventStream.AsofEvent("s1", t(3), isRight = false, 9.0),
      EventStream.AsofEvent("s1", t(5), isRight = false, 5.0))
    q.processAllAvailable()
    val got = spark.table("asof_s").orderBy("ts")
      .select("value", "asof_value").collect()
      .map(r => (r.getDouble(0), Option(r.get(1)).map(_.asInstanceOf[Double])))
      .toSeq
    q.stop()
    assert(got === Seq((1.0, None), (2.0, Some(100.0)), (3.0, Some(100.0)),
      (4.0, Some(200.0)), (5.0, Some(200.0))))
    // batch parity (Timeseries.asofJoinLatest) on the in-order subset
    val left = Seq(("s1", t(0), 1.0), ("s1", t(1), 2.0), ("s1", t(2), 3.0),
        ("s1", t(4), 4.0), ("s1", t(5), 5.0))
      .toDF("station", "ts", "value")
    val right = Seq(("s1", t(1), 100.0), ("s1", t(3), 200.0))
      .toDF("station", "rt", "rv")
    val batch = graft.operators.Timeseries
      .asofJoinLatest(left, right, "station", "ts", "rt", "rv")
      .orderBy("ts").select("value", "asof_value").collect()
      .map(r => (r.getDouble(0), Option(r.get(1)).map(_.asInstanceOf[Double])))
      .toSeq
    assert(got === batch)
  }

  test("streamingEwma carries the running average across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[EventStream.CumulReading]
    val q = EventStream.streamingEwma(mem.toDS(), alpha = 0.5)
      .writeStream.format("memory").queryName("ewma_s").outputMode("append").start()
    def t(min: Int) = new Timestamp(1577836800000L + min * 60000L)
    mem.addData(EventStream.CumulReading("s1", t(0), 10.0),
                EventStream.CumulReading("s1", t(1), 20.0))
    q.processAllAvailable()
    mem.addData(EventStream.CumulReading("s1", t(2), 20.0)) // uses e=15 from batch 1
    q.processAllAvailable()
    val out = spark.table("ewma_s").orderBy("ts")
      .select("ewma").as[Double].collect().toSeq
    q.stop()
    assert(out === Seq(10.0, 15.0, 17.5)) // .5·20+.5·15 across the batch boundary
  }

  test("streamingEwma drops late and replayed events instead of corrupting the series") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[EventStream.CumulReading]
    val q = EventStream.streamingEwma(mem.toDS(), alpha = 0.5)
      .writeStream.format("memory").queryName("ewma_late").outputMode("append").start()
    def t(min: Int) = new Timestamp(1577836800000L + min * 60000L)
    mem.addData(EventStream.CumulReading("s1", t(0), 10.0))
    q.processAllAvailable()
    // the recurrence is order-defined: folding a late t(-5) or a
    // replayed t(0) in ARRIVAL order would shift every later smoothed
    // value off the batch flavor permanently — both are dropped, and
    // t(1) continues from the uncorrupted e=10
    mem.addData(EventStream.CumulReading("s1", t(-5), 99.0),
      EventStream.CumulReading("s1", t(0), 10.0),
      EventStream.CumulReading("s1", t(1), 20.0))
    q.processAllAvailable()
    val out = spark.table("ewma_late").orderBy("ts")
      .select("ewma").as[Double].collect().toSeq
    q.stop()
    assert(out === Seq(10.0, 15.0))
  }

  test("streamingEwma folds two distinct same-ts readings (ids break the tie), matching batch ewma") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[EventStream.CumulReading]
    val q = EventStream.streamingEwma(mem.toDS(), alpha = 0.5)
      .writeStream.format("memory").queryName("ewma_tie").outputMode("append").start()
    def t(min: Int) = new Timestamp(1577836800000L + min * 60000L)
    // two LEGITIMATE readings share t(1) — distinct ids; the second
    // must fold (in id order), not be dropped as a replay. Split them
    // across batches so the (ts, id) state — not batch-local sorting —
    // is what lets the id=2 reading through. A true replay (same ts
    // AND id at-or-behind) still drops.
    mem.addData(EventStream.CumulReading("s1", t(0), 10.0, id = 1),
                EventStream.CumulReading("s1", t(1), 20.0, id = 1))
    q.processAllAvailable()
    mem.addData(EventStream.CumulReading("s1", t(1), 30.0, id = 2),
                EventStream.CumulReading("s1", t(1), 20.0, id = 1), // replay: dropped
                EventStream.CumulReading("s1", t(2), 40.0, id = 1))
    q.processAllAvailable()
    val got = spark.table("ewma_tie").orderBy("ts", "value")
      .select("ewma").as[Double].collect().toSeq
    q.stop()
    val batch = graft.operators.Timeseries.ewma(
      Seq(("s1", 0L, 1L, 10.0), ("s1", 1L, 1L, 20.0),
          ("s1", 1L, 2L, 30.0), ("s1", 2L, 1L, 40.0))
        .toDF("station", "t", "id", "v"),
      "station", "t", "id", "v", alpha = 0.5)
      .orderBy("t", "id").select("ewma").as[Double].collect().toSeq
    assert(got === batch)          // 10, 15, 22.5, 31.25
    assert(got === Seq(10.0, 15.0, 22.5, 31.25))
  }

  test("streamingDedup checks arrivals against the corpus table, appends them bucket-compatibly") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Dedup
    val wh = java.nio.file.Files.createTempDirectory("graft_sdedup").toString
    val all = Tables.documents(spark, sfDir)
    Dedup.writeSignatureTable(all.filter(col("doc_id") < 200),
      "grams_s", s"$wh/grams_s", buckets = 4)
    val baseGrams = spark.table("grams_s").count()

    def slice(lo: Long, hi: Long) =
      all.filter(col("doc_id") >= lo && col("doc_id") < hi).select("doc_id", "text")
    def expectedFor(batch: org.apache.spark.sql.DataFrame) =
      Dedup.incrementalJaccard(spark, "grams_s", batch, 0.02)
        .unionByName(Dedup.ngramJaccard(batch, 0.02))
        .orderBy("doc_a", "doc_b").collect().toSeq.map(_.toSeq)

    val mem = MemoryStream[(Long, String)]
    val stream = mem.toDF().toDF("doc_id", "text")
    val got = scala.collection.mutable.Map.empty[Long, Seq[Seq[Any]]]
    val q = EventStream.streamingDedup(stream, "grams_s", 0.02, None,
      (id, pairs) =>
        got(id) = pairs.orderBy("doc_a", "doc_b").collect().toSeq.map(_.toSeq))
      .start()
    // batch 0: vs the seed corpus (expected computed BEFORE the append)
    val b0 = slice(200, 230)
    val exp0 = expectedFor(b0)
    mem.addData(b0.as[(Long, String)].collect().toIndexedSeq)
    q.processAllAvailable()
    assert(got(0L) === exp0)
    // the append ran in the stream's cloned session — refresh this
    // session's relation cache before reading the table
    spark.catalog.refreshTable("grams_s")
    val afterB0 = spark.table("grams_s").count()
    assert(afterB0 > baseGrams) // batch 0's grams are now corpus state
    // batch 1: its expectation is computed against the POST-append
    // table — equality proves batch 1 sees batch 0's documents
    val b1 = slice(230, 260)
    val exp1 = expectedFor(b1)
    mem.addData(b1.as[(Long, String)].collect().toIndexedSeq)
    q.processAllAvailable()
    q.stop()
    spark.catalog.refreshTable("grams_s")
    assert(got(1L) === exp1)
    assert(got(0L).nonEmpty && got(1L).nonEmpty)
    // appends preserved co-location: the candidate self-join over the
    // grown table still has no exchange on the gram key
    val plan = Dedup.ngramJaccardFromTable(spark, "grams_s", 0.2)
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning\\(([a-z_#0-9]+)".r
      .findAllMatchIn(plan).map(_.group(1)).toList
    assert(!exchanges.exists(_.startsWith("gh")),
      s"appends must keep the gram key co-located, got: $exchanges")
    // crash-replay safety: re-running stream batch 1's append REPLACES
    // its ingest partition (dynamic overwrite) — gram count unchanged
    val before = spark.table("grams_s").count()
    Dedup.appendToSignatureTable(b1, "grams_s", ingestBatch = 1L)
    spark.catalog.refreshTable("grams_s")
    assert(spark.table("grams_s").count() === before)
    spark.sql("DROP TABLE IF EXISTS grams_s")
  }

  test("streamingMinhashDedup: batches sign once, hub-attach to frozen hot buckets, split-append") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.Dedup
    val wh = java.nio.file.Files.createTempDirectory("graft_smh").toString
    // the MinhashTableSpec mega-bucket corpus: the 40-copy boilerplate
    // bucket is frozen hot at cap 10, the 2-doc near-dup bucket is kept
    val corpus = ((1L to 40L).map(i =>
      (i, "identical boilerplate text repeated wholesale across the corpus")) ++ Seq(
      (100L, "a distinct sentence about spark dataframes and shuffle plans"),
      (101L, "a distinct sentence about spark dataframes and shuffle plans")
    )).toDF("doc_id", "text")
    Dedup.writeMinhashTable(corpus, "mh_s", s"$wh/mh_s", buckets = 4,
      maxBucket = 10)

    val mem = MemoryStream[(Long, String)]
    val stream = mem.toDF().toDF("doc_id", "text")
    val got = scala.collection.mutable.Map.empty[Long, Set[(Long, Long)]]
    val q = EventStream.streamingMinhashDedup(stream, "mh_s",
      Some("mh_s_hot"),
      onPairs = (id, pairs) => got(id) = pairs.select("doc_a", "doc_b")
        .as[(Long, Long)].collect().toSet).start()

    // batch 0: a 41st boilerplate copy (hub-attaches to doc 1 only —
    // the frozen bucket's size² fan-out stays given up) plus a fresh
    // match for the kept near-dup bucket
    mem.addData(
      (200L, "identical boilerplate text repeated wholesale across the corpus"),
      (201L, "a distinct sentence about spark dataframes and shuffle plans"))
    q.processAllAvailable()
    assert(got(0L) === Set((1L, 200L), (100L, 201L), (101L, 201L)))

    // batch 1: another boilerplate (hub-attach — batch 0's copy sits
    // in the _hot member partition, hub stays doc 1) and another
    // near-dup match, which must now ALSO see batch 0's doc 201
    // through the main table
    mem.addData(
      (300L, "identical boilerplate text repeated wholesale across the corpus"),
      (301L, "a distinct sentence about spark dataframes and shuffle plans"))
    q.processAllAvailable()
    q.stop()
    assert(got(1L) === Set((1L, 300L),
      (100L, 301L), (101L, 301L), (201L, 301L)))

    // the split append kept BOTH tables' contracts: the main table
    // still respects the per-bucket bound, the hot members grew by
    // one row per band per boilerplate arrival
    spark.catalog.refreshTable("mh_s"); spark.catalog.refreshTable("mh_s_hot")
    val maxSz = spark.table("mh_s").groupBy("band", "bucket")
      .agg(count(lit(1)).as("sz")).agg(max(col("sz"))).as[Long].head()
    assert(maxSz <= 10L)
    // crash-replay: re-running batch 1's split append replaces both
    // partitions — row counts unchanged
    val (nMain, nHot) = (spark.table("mh_s").count(), spark.table("mh_s_hot").count())
    Dedup.appendToMinhashTable(
      Seq((300L, "identical boilerplate text repeated wholesale across the corpus"),
        (301L, "a distinct sentence about spark dataframes and shuffle plans"))
        .toDF("doc_id", "text"),
      "mh_s", 1L, hotTable = Some("mh_s_hot"))
    spark.catalog.refreshTable("mh_s"); spark.catalog.refreshTable("mh_s_hot")
    assert(spark.table("mh_s").count() === nMain)
    assert(spark.table("mh_s_hot").count() === nHot)
    spark.sql("DROP TABLE IF EXISTS mh_s")
    spark.sql("DROP TABLE IF EXISTS mh_s_hot")
  }

  test("streamingSubstringDedup: arrivals fingerprint once, join the table, append replay-safe") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.Dedup
    val wh = java.nio.file.Files.createTempDirectory("graft_ssub").toString
    val run = (1 to 30).map(i => s"tok$i").mkString(" ") // 30-token verbatim run
    val corpus = Seq(
      (1L, s"leading words then $run and a distinct tail here"),
      (2L, "completely different content about spark engines and data plans"),
      (3L, s"another opening $run closing with its own words")
    ).toDF("doc_id", "text")
    Dedup.writeFingerprintTable(corpus, "fp_s", s"$wh/fp_s", buckets = 4)

    val mem = MemoryStream[(Long, String)]
    val stream = mem.toDF().toDF("doc_id", "text")
    val got = scala.collection.mutable.Map.empty[Long, Seq[Seq[Any]]]
    val q = EventStream.streamingSubstringDedup(stream, "fp_s", None,
      onPairs = (id, pairs) => got(id) = pairs.orderBy("doc_a", "doc_b")
        .collect().toSeq.map(_.toSeq)).start()

    // batch 0: one doc quoting the run (pairs with corpus docs 1 and
    // 3), one unrelated
    val b0 = Seq(
      (200L, s"a new arrival quoting $run verbatim in the middle"),
      (201L, "unrelated fresh arrival with nothing shared at all today"))
      .toDF("doc_id", "text")
    val exp0 = Dedup.incrementalSubstring(spark, "fp_s", b0)
      .unionByName(Dedup.substringDedup(b0))
      .orderBy("doc_a", "doc_b").collect().toSeq.map(_.toSeq)
    mem.addData((200L, s"a new arrival quoting $run verbatim in the middle"),
      (201L, "unrelated fresh arrival with nothing shared at all today"))
    q.processAllAvailable()
    assert(got(0L) === exp0)
    assert(got(0L).map(r => (r(0), r(1))).toSet === Set((1L, 200L), (3L, 200L)))

    // batch 1: quotes the run again — must see doc 200 THROUGH THE
    // TABLE (the append worked), plus the seed docs
    spark.catalog.refreshTable("fp_s")
    val b1 = Seq((300L, s"final arrival repeating $run once more")).toDF("doc_id", "text")
    val exp1 = Dedup.incrementalSubstring(spark, "fp_s", b1)
      .unionByName(Dedup.substringDedup(b1))
      .orderBy("doc_a", "doc_b").collect().toSeq.map(_.toSeq)
    mem.addData((300L, s"final arrival repeating $run once more"))
    q.processAllAvailable()
    q.stop()
    assert(got(1L) === exp1)
    assert(got(1L).map(r => (r(0), r(1))).toSet ===
      Set((1L, 300L), (3L, 300L), (200L, 300L)))

    // crash-replay: re-running batch 1's append replaces its partition
    spark.catalog.refreshTable("fp_s")
    val before = spark.table("fp_s").count()
    Dedup.appendToFingerprintTable(b1, "fp_s", ingestBatch = 1L)
    spark.catalog.refreshTable("fp_s")
    assert(spark.table("fp_s").count() === before)
    spark.sql("DROP TABLE IF EXISTS fp_s")
  }

  test("ShardSink writes balanced ordered shards; round-robin read rebuilds the epoch order") {
    import graft.sinks.ShardSink
    val base = java.nio.file.Files.createTempDirectory("graft_shards").toString
    val docs = Tables.documents(spark, sfDir)
    val n = docs.count()
    val rep = ShardSink.writeShards(docs, s"$base/a", nShards = 8)
    // accounting: every row lands, one data file per shard, ±1 balance
    assert(rep.nShards === 8 && rep.rows === n && rep.files === 8L)
    assert(rep.byShard.keySet === (0L until 8L).toSet)
    assert(rep.maxRows - rep.minRows <= 1L)
    val back = spark.read.parquet(s"$base/a")
    assert(back.select("doc_id").as[Long].collect().toSet ===
      docs.select("doc_id").as[Long].collect().toSet)
    assert(back.columns.toSet === Set("doc_id", "text", "pos", "shard"))
    // the routing law: shard = pos % nShards, every global pos exactly once
    assert(back.filter(pmod(col("pos"), lit(8)) =!= col("shard")).count() === 0L)
    assert(back.select("pos").as[Long].collect().toSet === (0L until n).toSet)
    // FILE order inside each shard is ascending pos — the data-loader
    // contract: no sort needed at read time, round-robin across shard
    // files replays the global shuffle order
    for (k <- 0 until 8) {
      val pos = spark.read.parquet(s"$base/a/shard=$k")
        .select("pos").as[Long].collect().toSeq
      assert(pos === pos.sorted && pos.nonEmpty)
    }
    // deterministic: a re-write is the identical assignment
    ShardSink.writeShards(docs, s"$base/b", nShards = 8)
    assert(spark.read.parquet(s"$base/b")
      .select(col("doc_id"), col("pos"), col("shard").cast("long"))
      .collect().toSet ===
      back.select(col("doc_id"), col("pos"), col("shard").cast("long"))
        .collect().toSet)
  }

  test("ShardSink curriculum shards: same balance/routing laws, order is the F31 schedule") {
    import graft.sinks.ShardSink
    val base = java.nio.file.Files.createTempDirectory("graft_cshards").toString
    val docs = Tables.documents(spark, sfDir)
    val n = docs.count()
    val rep = ShardSink.writeShards(docs, s"$base/c", nShards = 8,
      curriculumStages = 4)
    // every shard-layout invariant of the hash flavor holds untouched
    assert(rep.nShards === 8 && rep.rows === n && rep.files === 8L)
    assert(rep.maxRows - rep.minRows <= 1L)
    val back = spark.read.parquet(s"$base/c")
    assert(back.filter(pmod(col("pos"), lit(8)) =!= col("shard")).count() === 0L)
    assert(back.select("pos").as[Long].collect().toSet === (0L until n).toSet)
    // the landed order IS the curriculum: pos agrees with F31 per doc
    val sched = graft.operators.Corpus.curriculum(docs, nStages = 4)
      .select(col("doc_id"), col("pos")).as[(Long, Long)].collect().toMap
    val landed = back.select(col("doc_id"), col("pos"))
      .as[(Long, Long)].collect()
    landed.foreach { case (d, p) => assert(sched(d) === p, s"doc $d") }
    // round-robin across shard files replays easy→hard: quality stage
    // is monotone along the landed position order
    val stages = graft.operators.Corpus.curriculum(docs, nStages = 4)
      .select(col("pos"), col("stage")).as[(Long, Long)].collect()
      .sortBy(_._1).map(_._2)
    assert(stages === stages.sorted)
  }

  test("streamingLmScore scores each batch against the frozen model, zero state growth") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.TextAnalysis
    val wh = java.nio.file.Files.createTempDirectory("graft_slm").toString
    val all = Tables.documents(spark, sfDir)
    TextAnalysis.writeLmModel(all.filter(col("doc_id") < 150),
      "lm_s", s"$wh/lm_s", buckets = 4)

    val nUniBefore = spark.table("lm_s_uni").count()
    val mem = MemoryStream[(Long, String)]
    val got = scala.collection.mutable.Map.empty[Long, Seq[Seq[Any]]]
    val q = EventStream.streamingLmScore(mem.toDF().toDF("doc_id", "text"),
      "lm_s",
      onScores = (id, df) => got(id) = df.orderBy("doc_id")
        .collect().toSeq.map(_.toSeq)).start()
    val b0 = all.filter(col("doc_id") >= 150 && col("doc_id") < 180)
      .select("doc_id", "text")
    val exp0 = TextAnalysis.lmScoreAgainst(spark, "lm_s", b0)
      .orderBy("doc_id").collect().toSeq.map(_.toSeq)
    mem.addData(b0.as[(Long, String)].collect().toIndexedSeq)
    q.processAllAvailable()
    q.stop()
    assert(got(0L) === exp0)
    assert(got(0L).nonEmpty)
    // no state growth: scores never feed back into the model
    spark.catalog.refreshTable("lm_s_uni")
    assert(spark.table("lm_s_uni").count() === nUniBefore)
    spark.sql("DROP TABLE IF EXISTS lm_s_uni")
    spark.sql("DROP TABLE IF EXISTS lm_s_big")
    spark.sql("DROP TABLE IF EXISTS lm_s_meta")
  }

  test("streamingBm25Rank ranks each batch against the frozen stats, idf never drifts") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.TextAnalysis
    val wh = java.nio.file.Files.createTempDirectory("graft_sbm").toString
    val all = Tables.documents(spark, sfDir)
    TextAnalysis.writeBm25Stats(all.filter(col("doc_id") < 150),
      "bm25_s", s"$wh/bm25_s", buckets = 4)
    val terms = Seq("spark", "window", "merge", "dup")

    val nDfBefore = spark.table("bm25_s_df").count()
    val mem = MemoryStream[(Long, String)]
    val got = scala.collection.mutable.Map.empty[Long, Seq[Seq[Any]]]
    val q = EventStream.streamingBm25Rank(mem.toDF().toDF("doc_id", "text"),
      "bm25_s", terms, k = 5,
      onRanked = (id, df) => got(id) = df.orderBy("rank")
        .collect().toSeq.map(_.toSeq)).start()
    def slice(lo: Long, hi: Long) =
      all.filter(col("doc_id") >= lo && col("doc_id") < hi)
        .select("doc_id", "text")
    def expFor(lo: Long, hi: Long) =
      TextAnalysis.bm25TopKAgainst(spark, "bm25_s", slice(lo, hi), terms, 5)
        .orderBy("rank").collect().toSeq.map(_.toSeq)
    mem.addData(slice(150, 300).as[(Long, String)].collect().toIndexedSeq)
    q.processAllAvailable()
    mem.addData(slice(300, 450).as[(Long, String)].collect().toIndexedSeq)
    q.processAllAvailable()
    q.stop()
    // each batch ≡ the direct frozen-stats ranking of that slice —
    // scores comparable ACROSS batches because idf is frozen
    assert(got(0L) === expFor(150, 300) && got(1L) === expFor(300, 450))
    assert(got(0L).size === 5 && got(1L).size === 5)
    // zero state growth: arrivals never feed back into the stats
    spark.catalog.refreshTable("bm25_s_df")
    assert(spark.table("bm25_s_df").count() === nDfBefore)
    spark.sql("DROP TABLE IF EXISTS bm25_s_df")
    spark.sql("DROP TABLE IF EXISTS bm25_s_meta")
  }

  test("streamingNormalize centers each batch by the frozen corpus mean") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.Similarity
    val wh = java.nio.file.Files.createTempDirectory("graft_snorm").toString
    val all = Tables.embeddings(spark, sfDir)
    Similarity.writeEmbStats(all.filter(col("vec_id") < 300),
      "emb_s", s"$wh/emb_s")
    val nMeanBefore = spark.table("emb_s_mean").count()
    val mem = MemoryStream[(Long, Array[Float])]
    val got = scala.collection.mutable.Map.empty[Long, Seq[Seq[Any]]]
    val q = EventStream.streamingNormalize(
      mem.toDF().toDF("vec_id", "embedding"), "emb_s",
      onNormalized = (id, df) => got(id) = df.orderBy("vec_id", "dim")
        .collect().toSeq.map(_.toSeq)).start()
    val b0 = all.filter(col("vec_id") >= 300 && col("vec_id") < 360)
      .select("vec_id", "embedding")
    val exp0 = Similarity.normalizeAgainst(spark, "emb_s", b0)
      .orderBy("vec_id", "dim").collect().toSeq.map(_.toSeq)
    mem.addData(b0.as[(Long, Array[Float])].collect().toIndexedSeq)
    q.processAllAvailable()
    q.stop()
    assert(got(0L) === exp0 && got(0L).nonEmpty)
    // zero state growth: arrivals never move the frozen mean
    spark.catalog.refreshTable("emb_s_mean")
    assert(spark.table("emb_s_mean").count() === nMeanBefore)
    spark.sql("DROP TABLE IF EXISTS emb_s_mean")
    spark.sql("DROP TABLE IF EXISTS emb_s_meta")
  }

  test("streamingImageDedup: arrivals pair vs corpus and across batches; the bucket table is the state store") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.{Dedup, Multimodal}
    def gradient(lo: Int, step: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        64, 64, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (x <- 0 until 64; y <- 0 until 64) {
        val v = lo + x * step
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val wh = java.nio.file.Files.createTempDirectory("graft_sph").toString
    val a = gradient(0, 3)
    val corpus = Seq((1L, "image", a), (3L, "image", gradient(252, -3)))
      .toDF("doc_id", "kind", "payload")
    Dedup.writePhashTable(corpus, "ph_s", s"$wh/ph_s", buckets = 4)

    val mem = MemoryStream[(Long, String, Array[Byte])]
    val got = scala.collection.mutable.Map.empty[Long, Set[(Long, Long)]]
    val q = EventStream.streamingImageDedup(
      mem.toDF().toDF("doc_id", "kind", "payload"), "ph_s",
      onPairs = (id, p) => got(id) = p.select("doc_a", "doc_b")
        .as[(Long, Long)].collect().toSet).start()

    // batch 0: a rescaled re-encode of corpus doc 1 — found vs corpus
    val b = Multimodal.Codec.resizeImage(a, 32, 32).get
    mem.addData((10L, "image", b))
    q.processAllAvailable()
    assert(got(0L) === Set((1L, 10L)))

    // batch 1: byte-identical to batch 0's arrival — pairs with the
    // corpus doc AND batch 0's doc through the table (cross-batch
    // memory lives in the table, not executor state)
    mem.addData((20L, "image", b))
    q.processAllAvailable()
    q.stop()
    assert(got(1L) === Set((1L, 20L), (10L, 20L)))
    spark.catalog.refreshTable("ph_s")
    assert(spark.table("ph_s").filter(col("ingest_batch") >= 0L).count() > 0)
    spark.sql("DROP TABLE IF EXISTS ph_s")
  }

  test("streamingCcnetBucket labels each batch by the frozen cuts, zero state growth") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.TextAnalysis
    val wh = java.nio.file.Files.createTempDirectory("graft_scc").toString
    val all = Tables.documents(spark, sfDir)
    TextAnalysis.writeCcnetModel(all.filter(col("doc_id") < 300),
      "cc_s", s"$wh/cc_s", buckets = 4)
    val nCutsBefore = spark.table("cc_s_cuts").count()

    val mem = MemoryStream[(Long, String, String)]
    val got = scala.collection.mutable.Map.empty[Long, Seq[Seq[Any]]]
    val q = EventStream.streamingCcnetBucket(
      mem.toDF().toDF("doc_id", "lang", "text"), "cc_s",
      onBucketed = (id, df) => got(id) = df.orderBy("doc_id")
        .collect().toSeq.map(_.toSeq)).start()
    val b0 = all.filter(col("doc_id") >= 300 && col("doc_id") < 360)
      .select("doc_id", "lang", "text")
    val exp0 = TextAnalysis.ccnetBucketAgainst(spark, "cc_s", b0)
      .orderBy("doc_id").collect().toSeq.map(_.toSeq)
    mem.addData(b0.as[(Long, String, String)].collect().toIndexedSeq)
    q.processAllAvailable()
    q.stop()
    assert(got(0L) === exp0 && got(0L).nonEmpty)
    // arrivals never move the frozen cuts
    spark.catalog.refreshTable("cc_s_cuts")
    assert(spark.table("cc_s_cuts").count() === nCutsBefore)
    Seq("cc_s_uni", "cc_s_big", "cc_s_meta", "cc_s_cuts")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("streamingNbScore classifies each batch against the frozen model, zero state growth") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.TextAnalysis
    val wh = java.nio.file.Files.createTempDirectory("graft_snb").toString
    val all = Tables.documents(spark, sfDir)
    TextAnalysis.writeNbModel(all.filter(col("doc_id") < 150),
      "nb_s", s"$wh/nb_s", buckets = 4)

    val nTokBefore = spark.table("nb_s_tok").count()
    val mem = MemoryStream[(Long, String)]
    val got = scala.collection.mutable.Map.empty[Long, Seq[Seq[Any]]]
    val q = EventStream.streamingNbScore(mem.toDF().toDF("doc_id", "text"),
      "nb_s",
      onScores = (id, df) => got(id) = df.orderBy("doc_id")
        .collect().toSeq.map(_.toSeq)).start()
    val b0 = all.filter(col("doc_id") >= 150 && col("doc_id") < 180)
      .select("doc_id", "text")
    val exp0 = TextAnalysis.nbScoreAgainst(spark, "nb_s", b0)
      .orderBy("doc_id").collect().toSeq.map(_.toSeq)
    mem.addData(b0.as[(Long, String)].collect().toIndexedSeq)
    q.processAllAvailable()
    q.stop()
    assert(got(0L) === exp0)
    assert(got(0L).nonEmpty)
    // no state growth: classifications never feed back into the model
    spark.catalog.refreshTable("nb_s_tok")
    assert(spark.table("nb_s_tok").count() === nTokBefore)
    spark.sql("DROP TABLE IF EXISTS nb_s_tok")
    spark.sql("DROP TABLE IF EXISTS nb_s_cls")
    spark.sql("DROP TABLE IF EXISTS nb_s_meta")
  }

  test("streamingDsirGate and streamingBpeEncode match their direct calls per batch") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.{Bpe, Corpus}
    val wh = java.nio.file.Files.createTempDirectory("graft_sdsir").toString
    val all = Tables.documents(spark, sfDir)
    val train = all.filter(col("doc_id") < 150)
    Corpus.writeDsirModel(train, "dsir_s", s"$wh/dsir_s")
    val merges = Bpe.train(train, 12).map(t => (t._1, t._2))

    val b0 = all.filter(col("doc_id") >= 150 && col("doc_id") < 180)
      .select("doc_id", "text")
    val gotD = scala.collection.mutable.Map.empty[Long, Seq[Seq[Any]]]
    val memD = MemoryStream[(Long, String)]
    val qD = EventStream.streamingDsirGate(memD.toDF().toDF("doc_id", "text"),
      "dsir_s", onScores = (id, df) => gotD(id) = df.orderBy("doc_id")
        .collect().toSeq.map(_.toSeq)).start()
    memD.addData(b0.as[(Long, String)].collect().toIndexedSeq)
    qD.processAllAvailable(); qD.stop()
    val expD = Corpus.dsirScoreAgainst(spark, "dsir_s", b0)
      .orderBy("doc_id").collect().toSeq.map(_.toSeq)
    assert(gotD(0L).nonEmpty && gotD(0L) === expD)

    val gotB = scala.collection.mutable.Map.empty[Long, Seq[Seq[Any]]]
    val memB = MemoryStream[(Long, String)]
    val qB = EventStream.streamingBpeEncode(memB.toDF().toDF("doc_id", "text"),
      merges, onEncoded = (id, df) => gotB(id) = df.orderBy("doc_id")
        .collect().toSeq.map(_.toSeq)).start()
    memB.addData(b0.as[(Long, String)].collect().toIndexedSeq)
    qB.processAllAvailable(); qB.stop()
    val expB = Bpe.encode(b0, merges)
      .orderBy("doc_id").collect().toSeq.map(_.toSeq)
    assert(gotB(0L).nonEmpty && gotB(0L) === expB)

    Seq("dsir_s_lam", "dsir_s_meta")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("streamingContamination flags each batch against the frozen bench signature") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Dedup
    val wh = java.nio.file.Files.createTempDirectory("graft_scontam").toString
    val all = Tables.documents(spark, sfDir)
    val isBench = col("doc_id") % 97 === 0
    val sketch = Dedup.writeBenchSignature(all.filter(isBench), s"$wh/sig")
    // independent oracle: the broadcast flavor over bench ∪ the batch's
    // corpus docs — restricted to that union, flags must coincide
    def expectedFor(lo: Long, hi: Long) =
      Dedup.contamination(
        all.filter(isBench ||
          (col("doc_id") >= lo && col("doc_id") < hi))
          .select("doc_id", "text"),
        isBench, minShared = 3)
        .orderBy("doc_id", "bench_id").collect().toSeq.map(_.toSeq)
    def slice(lo: Long, hi: Long) =
      all.filter(!isBench && col("doc_id") >= lo && col("doc_id") < hi)
        .select("doc_id", "text")
    val mem = MemoryStream[(Long, String)]
    val stream = mem.toDF().toDF("doc_id", "text")
    val got = scala.collection.mutable.Map.empty[Long, Seq[Seq[Any]]]
    val q = EventStream.streamingContamination(stream, s"$wh/sig", sketch, 3,
      (id, flags) =>
        got(id) = flags.orderBy("doc_id", "bench_id").collect().toSeq.map(_.toSeq))
      .start()
    mem.addData(slice(0, 250).as[(Long, String)].collect().toIndexedSeq)
    q.processAllAvailable()
    mem.addData(slice(250, 500).as[(Long, String)].collect().toIndexedSeq)
    q.processAllAvailable()
    q.stop()
    assert(got(0L) === expectedFor(0, 250))
    assert(got(1L) === expectedFor(250, 500))
    assert((got(0L) ++ got(1L)).nonEmpty,
      "fixture must produce at least one contaminated pair")
    // the Bloom pre-cut is in the batch plan, riding the docs scan
    val plan = Dedup.contaminationAgainst(slice(0, 250), s"$wh/sig", sketch, 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("graft_bloom_contains"), plan)
  }

  test("streamingFunnelGate: per-batch gates + frozen decontam ≡ the batch funnel prefix") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{Corpus, Dedup}
    val wh = java.nio.file.Files.createTempDirectory("graft_sfunnel").toString
    val all = Tables.documents(spark, sfDir)
    val isBench = col("doc_id") % 89 === 0
    val sketch = Dedup.writeBenchSignature(all.filter(isBench), s"$wh/sig")
    // batch-side expectation over a corpus slice: the SAME gate
    // prefix + broadcast contamination restricted to the slice
    def expectedFor(lo: Long, hi: Long): (Seq[Seq[Any]], Long) = {
      val slice = all.filter(!isBench &&
        col("doc_id") >= lo && col("doc_id") < hi)
      val redacted = Corpus.gateStages(slice, Seq("spam"), "en", 0.45, "lang")
        .last._2
      val contaminated = Dedup.contamination(
          redacted.select(col("doc_id"), col("text"))
            .unionByName(all.filter(isBench).select(col("doc_id"), col("text"))),
          isBench, minShared = 3)
        .select(col("doc_id")).distinct()
      val clean = redacted.join(contaminated, Seq("doc_id"), "left_anti")
      (clean.orderBy("doc_id").collect().toSeq.map(_.toSeq), slice.count())
    }
    val mem = MemoryStream[(Long, String, String)]
    val stream = mem.toDF().toDF("doc_id", "lang", "text")
    val got = scala.collection.mutable.Map.empty[Long, Seq[Seq[Any]]]
    val ledgers = scala.collection.mutable.Map.empty[Long, Seq[(String, Long)]]
    val q = EventStream.streamingFunnelGate(stream, Seq("spam"),
        s"$wh/sig", sketch, minQuality = 0.45,
        onBatch = (id, clean, ledger) => {
          got(id) = clean.orderBy("doc_id").collect().toSeq.map(_.toSeq)
          ledgers(id) = ledger
        })
      .start()
    def feed(lo: Long, hi: Long) = mem.addData(
      all.filter(!isBench && col("doc_id") >= lo && col("doc_id") < hi)
        .select("doc_id", "lang", "text")
        .as[(Long, String, String)].collect().toIndexedSeq)
    feed(0, 250); q.processAllAvailable()
    feed(250, 500); q.processAllAvailable()
    q.stop()
    val (exp0, n0) = expectedFor(0, 250)
    val (exp1, n1) = expectedFor(250, 500)
    assert(got(0L) === exp0 && got(1L) === exp1)
    assert(exp0.nonEmpty && exp0.size < n0.toInt,
      "fixture must both keep and drop docs through the gate")
    // the per-batch ledger: stage order pinned, counts monotone,
    // input = the fed slice, decontam = the emitted clean frame
    for ((id, n, exp) <- Seq((0L, n0, exp0), (1L, n1, exp1))) {
      val l = ledgers(id)
      assert(l.map(_._1) === Seq("input", "lang_id", "quality",
        "blocklist", "pii_redact", "decontam"))
      assert(l.head._2 === n && l.last._2 === exp.size.toLong)
      assert(l.map(_._2).sliding(2).forall { case Seq(a, b) => b <= a })
    }
  }

  test("streamingAnnIngest serves each batch from the index, then appends it for the next") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Similarity
    val real = Tables.embeddings(spark, sfDir)
      .filter(expr("aggregate(embedding, 0D, (a, x) -> a + x*x) > 0"))
    val path = java.nio.file.Files.createTempDirectory("graft_sann").toString
    Similarity.writeIvfIndex(real.filter(col("vec_id") < 400), path,
      nlist = 16, trainIters = 5)
    val base = spark.read.parquet(s"$path/lists").count()

    // batch 0: genuinely new vectors; batch 1: their identical twins
    // under shifted ids — the twins finding batch 0's arrivals proves
    // the serve-then-append loop (the index IS the state)
    val b0 = real.filter(col("vec_id") >= 400).select("vec_id", "embedding")
    val b0n = b0.count()
    val mem = MemoryStream[(Long, Seq[Float])]
    val stream = mem.toDF().toDF("vec_id", "embedding")
    val got = scala.collection.mutable.Map.empty[Long, Seq[(Long, Long, Double)]]
    val q = EventStream.streamingAnnIngest(stream, path, 1, nprobe = 1,
      (id, nbrs) => got(id) = nbrs.select("q_id", "n_id", "cos_sim")
        .as[(Long, Long, Double)].collect().toSeq)
      .start()
    mem.addData(b0.as[(Long, Seq[Float])].collect().toIndexedSeq)
    q.processAllAvailable()
    assert(got(0L).nonEmpty) // served against the base index
    assert(spark.read.parquet(s"$path/lists").count() === base + b0n)
    mem.addData(b0.withColumn("vec_id", col("vec_id") + lit(1000000L))
      .as[(Long, Seq[Float])].collect().toIndexedSeq)
    q.processAllAvailable()
    q.stop()
    // every twin's single-probe top hit is its batch-0 original at
    // cos 1.0 — placement AND visibility of the previous batch
    val hits = got(1L)
    assert(hits.nonEmpty)
    hits.foreach { case (qid, n, c) =>
      assert(n === qid - 1000000L && c === 1.0, s"query $qid") }
  }

  test("streamingFilteredAnnIngest: same-label twins surface through the label-pruned path; replay-idempotent") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Similarity
    val real = Tables.embeddings(spark, sfDir)
      .filter(expr("aggregate(embedding, 0D, (a, x) -> a + x*x) > 0"))
    val path = java.nio.file.Files.createTempDirectory("graft_sfann").toString
    Similarity.writeIvfIndex(real.filter(col("vec_id") < 400), path,
      nlist = 16, trainIters = 5, labelBuckets = 8)
    val base = spark.read.parquet(s"$path/lists").count()

    // batch 0: new arrivals (shifted ids, labels kept); batch 1: their
    // SAME-LABEL twins under further-shifted ids — each twin's
    // nprobe=1 filtered top hit must be its batch-0 arrival at cos
    // 1.0, which proves the append landed in the frozen (c_id, lbl)
    // bucket space AND is visible through the label-pruned serve
    val b0 = real.filter(col("vec_id") >= 400)
      .select(col("vec_id") + lit(500000L), col("embedding"), col("label"))
      .toDF("vec_id", "embedding", "label")
    val b0n = b0.count()
    // label is int32 in the embeddings table — the stream must carry
    // the same type (xxhash64 of a STRING label would bucket into a
    // different space than the index and prune to nothing)
    val mem = MemoryStream[(Long, Seq[Float], Int)]
    val stream = mem.toDF().toDF("vec_id", "embedding", "label")
    val got = scala.collection.mutable.Map.empty[Long, Seq[(Long, Long, Double)]]
    val q = EventStream.streamingFilteredAnnIngest(stream, path, 1, nprobe = 1,
      (id, nbrs) => got(id) = nbrs.select("q_id", "n_id", "cos_sim")
        .as[(Long, Long, Double)].collect().toSeq)
      .start()
    mem.addData(b0.as[(Long, Seq[Float], Int)].collect().toIndexedSeq)
    q.processAllAvailable()
    assert(got(0L).nonEmpty) // served against the base index, filtered
    assert(spark.read.parquet(s"$path/lists").count() === base + b0n)
    mem.addData(b0.withColumn("vec_id", col("vec_id") + lit(500000L))
      .as[(Long, Seq[Float], Int)].collect().toIndexedSeq)
    q.processAllAvailable()
    q.stop()
    val hits = got(1L)
    assert(hits.nonEmpty)
    hits.foreach { case (qid, n, c) =>
      assert(n === qid - 500000L && c === 1.0, s"query $qid") }

    // replay idempotence: re-running batch 0's append REPLACES its
    // ingest partition (dynamic overwrite) — row count unchanged, and
    // the filtered serve returns the identical frame
    val before = Similarity.filteredTopKFromIndex(spark, path,
        b0.limit(5), 1, nprobe = 1)
      .orderBy("q_id").collect().toSeq.map(_.toSeq)
    Similarity.appendToIvfIndex(b0, path, ingestBatch = 0L)
    assert(spark.read.parquet(s"$path/lists").count() === base + 2 * b0n)
    val after = Similarity.filteredTopKFromIndex(spark, path,
        b0.limit(5), 1, nprobe = 1)
      .orderBy("q_id").collect().toSeq.map(_.toSeq)
    assert(after === before)

    // the label-pruned READ path holds across appended partitions: a
    // single-label query's serve reads only its label bucket's files
    val oneLabel = b0.orderBy("vec_id").limit(1)
    val lbl = oneLabel.select(pmod(xxhash64(col("label")), lit(8L)))
      .head().getLong(0)
    val files = Similarity.filteredListFiles(spark, path, oneLabel, nprobe = 1)
    assert(files.nonEmpty && files.forall(_.contains(s"lbl=$lbl")),
      s"expected only lbl=$lbl files, got:\n${files.mkString("\n")}")
    // and some of those files are post-build ingest partitions — the
    // pruning claim covers the appended data, not just the base write
    assert(files.exists(f => !f.contains("ingest_batch=-1")), files.mkString("\n"))

    // an UNCASTABLE label fails loudly at both entry points (r11
    // review): silently cast-to-null rows would be unreachable by
    // every filtered serve — the hole the cast exists to close
    val badBatch = b0.limit(2).withColumn("label", lit("cat-a"))
    val eA = intercept[IllegalArgumentException] {
      Similarity.appendToIvfIndex(badBatch, path, ingestBatch = 7L) }
    assert(eA.getMessage.contains("unreachable"))
    val eS = intercept[IllegalArgumentException] {
      Similarity.filteredTopKFromIndex(spark, path, badBatch, 1, nprobe = 1)
        .collect() }
    assert(eS.getMessage.contains("prune to nothing"))
  }

  test("streamingBm25Ingest: the standing page tracks arrivals, scores ≡ full rebuild, replay-idempotent") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.TextAnalysis
    val wh = java.nio.file.Files.createTempDirectory("graft_sbmi").toString
    val all = Tables.documents(spark, sfDir)
    val base = all.filter(col("doc_id") < 150)
    TextAnalysis.writeBm25Stats(base, "bm25_si", s"$wh/bm25_si", buckets = 4)
    val terms = Seq("spark", "window", "merge", "dup")

    val mem = MemoryStream[(Long, String)]
    val got = scala.collection.mutable.Map.empty[Long, Seq[Seq[Any]]]
    val q = EventStream.streamingBm25Ingest(mem.toDF().toDF("doc_id", "text"),
      "bm25_si", terms, k = 5,
      onPage = (id, df) => got(id) = df.orderBy("rank")
        .collect().toSeq.map(_.toSeq)).start()
    val b0 = all.filter(col("doc_id") >= 150 && col("doc_id") < 300)
      .select("doc_id", "text")
    // batch 1 plants a doc saturated in every query term — the live
    // page must surface it, which proves the append LANDED and the
    // standing serve reads the delta segments
    val planted = 999999L -> ("spark window merge dup " * 10).trim
    mem.addData(b0.as[(Long, String)].collect().toIndexedSeq)
    q.processAllAvailable()
    // the planted doc arrives DUPLICATED in its batch — the ingest
    // must dedup before appending, or its df/n/t mass double-counts
    mem.addData(IndexedSeq(planted, planted))
    q.processAllAvailable()
    q.stop()
    // every page ≡ a full one-pass rebuild over base ∪ arrivals so
    // far — the append's equality-to-rebuild contract, live
    val base2 = base.select("doc_id", "text")
    val exp0 = TextAnalysis.bm25TopK(base2.unionByName(b0), terms, 5)
      .orderBy("rank").collect().toSeq.map(_.toSeq)
    val exp1 = TextAnalysis.bm25TopK(
        base2.unionByName(b0).unionByName(
          Seq(planted).toDF("doc_id", "text")), terms, 5)
      .orderBy("rank").collect().toSeq.map(_.toSeq)
    assert(got(0L) === exp0 && got(1L) === exp1)
    assert(got(1L).exists(_.head === planted._1))
    // replay idempotence: re-running batch 0's append replaces its
    // delta partitions — the served page is unchanged
    TextAnalysis.appendToBm25Index(b0, "bm25_si", ingestBatch = 0L)
    val again = TextAnalysis.bm25TopKFromIndex(spark, "bm25_si", terms, 5)
      .orderBy("rank").collect().toSeq.map(_.toSeq)
    assert(again === exp1)
    spark.sql("DROP TABLE IF EXISTS bm25_si_df")
    spark.sql("DROP TABLE IF EXISTS bm25_si_meta")
    spark.sql("DROP TABLE IF EXISTS bm25_si_post")
  }

  test("streamingHybridIngest: both legs go live, every page ≡ the full re-index's page") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.Retrieval
    val terms = Seq("spark", "window", "merge", "dup")
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    val emb = Tables.embeddings(spark, sfDir)
    val query = emb.filter(col("vec_id") === 0).select("vec_id", "embedding")
    val cfg = Retrieval.ServeConfig(terms, nprobe = 8)
    val p = java.nio.file.Files.createTempDirectory("graft_shyb").toString
    Retrieval.buildArtifacts(docs.filter(col("doc_id") % 2 === 0),
      emb.filter(col("vec_id") % 2 === 0), "shyb_bm25", p, nlist = 8)

    // the other half arrives in two batches: (doc_id, text, embedding)
    def slice(m: Long) = docs.filter(col("doc_id") % 4 === m)
      .join(emb.select(col("vec_id").as("doc_id"), col("embedding")), "doc_id")
      .select("doc_id", "text", "embedding")
    val mem = MemoryStream[(Long, String, Seq[Float])]
    val got = scala.collection.mutable.Map.empty[Long, Seq[Seq[Any]]]
    val q = EventStream.streamingHybridIngest(
      mem.toDF().toDF("doc_id", "text", "embedding"), "shyb_bm25", p,
      query, cfg,
      onPage = (id, df) => got(id) = df.collect().toSeq.map(_.toSeq)).start()
    mem.addData(slice(1).as[(Long, String, Seq[Float])].collect().toIndexedSeq)
    q.processAllAvailable()
    mem.addData(slice(3).as[(Long, String, Seq[Float])].collect().toIndexedSeq)
    q.processAllAvailable()
    q.stop()
    // every live page ≡ the page full-built artifacts over the same
    // corpus state would serve (exhaustive probing: quantizer drift
    // can't matter) — the freshness contract, live on both legs
    def fullPage(keep: String => org.apache.spark.sql.Column): Seq[Seq[Any]] = {
      val pf = java.nio.file.Files.createTempDirectory("graft_shyb_f").toString
      Retrieval.buildArtifacts(docs.filter(keep("doc_id")),
        emb.filter(keep("vec_id")), "shyb_full_bm25", pf, nlist = 8)
      Retrieval.serve(spark, "shyb_full_bm25", pf, emb, query, cfg)
        .collect().toSeq.map(_.toSeq)
    }
    // page 0: evens + %4==1; page 1: evens + all odds = everything
    val exp0 = fullPage(c => col(c) % 2 === 0 || col(c) % 4 === 1)
    assert(got(0L) === exp0 && got(0L).nonEmpty)
    val exp1 = fullPage(_ => lit(true))
    assert(got(1L) === exp1)
    Seq("shyb_bm25", "shyb_full_bm25").foreach { t =>
      Seq("_df", "_meta", "_post").foreach(sfx =>
        spark.sql(s"DROP TABLE IF EXISTS $t$sfx")) }
  }

  test("streamingServeEval: per-batch page metrics ≡ a direct grouped eval on the same page") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.{Retrieval, Similarity}
    val terms = Seq("spark", "window", "merge", "dup")
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    val emb = Tables.embeddings(spark, sfDir)
    // a two-query standing panel (the lowest-id nonzero vectors) with
    // DIFFERING frozen reference sizes — the grouped denominators
    val qIds = emb
      .filter(expr("aggregate(embedding, 0D, (a, x) -> a + x*x) > 0"))
      .select("vec_id").orderBy("vec_id").limit(2)
      .collect().map(_.getLong(0)).toSeq
    val queries = emb.filter(col("vec_id").isin(qIds.map(Long.box): _*))
      .select("vec_id", "embedding")
    // frozen judgments: exact cosine top-5 / top-8 over the FULL
    // corpus (what an offline freeze would publish)
    def refOf(qid: Long, n: Int) =
      Similarity.bruteForceTopK(emb, col("vec_id") === qid, n)
        .select(lit(qid.toString).as("system"), col("n_id").as("doc_id"))
    val ref = refOf(qIds(0), 5).unionByName(refOf(qIds(1), 8))
      .cache()
    assert(ref.count() === 13L) // sizes genuinely differ: 5 + 8
    val cfg = Retrieval.ServeConfig(terms, nprobe = 8)
    val p = java.nio.file.Files.createTempDirectory("graft_seval").toString
    Retrieval.buildArtifacts(docs.filter(col("doc_id") % 2 === 0),
      emb.filter(col("vec_id") % 2 === 0), "seval_bm25", p, nlist = 8)
    def slice(m: Long) = docs.filter(col("doc_id") % 4 === m)
      .join(emb.select(col("vec_id").as("doc_id"), col("embedding")), "doc_id")
      .select("doc_id", "text", "embedding")
    val mem = MemoryStream[(Long, String, Seq[Float])]
    val gotPages = scala.collection.mutable.Map.empty[Long, Seq[(String, Long, Long)]]
    val gotMetrics = scala.collection.mutable.Map.empty[Long, Seq[Seq[Any]]]
    val q = EventStream.streamingServeEval(
      mem.toDF().toDF("doc_id", "text", "embedding"), "seval_bm25", p,
      queries, cfg, ref, k = 10,
      onMetrics = (id, pages, metrics) => {
        gotPages(id) = pages
          .select(col("system"), col("doc_id"), col("rank").cast("long"))
          .as[(String, Long, Long)].collect().toSeq
        gotMetrics(id) = metrics.orderBy("system")
          .collect().toSeq.map(_.toSeq)
      }).start()
    mem.addData(slice(1).as[(Long, String, Seq[Float])].collect().toIndexedSeq)
    q.processAllAvailable()
    mem.addData(slice(3).as[(Long, String, Seq[Float])].collect().toIndexedSeq)
    q.processAllAvailable()
    q.stop()
    assert(gotMetrics.keySet === Set(0L, 1L))
    for (id <- Seq(0L, 1L)) {
      // one metrics row per standing query, every metric in [0, 1]
      val m = gotMetrics(id)
      assert(m.map(_.head) === qIds.map(_.toString).sorted)
      assert(m.forall(_.drop(2).forall {
        case d: Double => d >= 0.0 && d <= 1.0; case _ => false }), m)
      // the judge's contract: per-batch metrics ≡ a DIRECT grouped
      // eval on the same page the callback received
      val direct = Retrieval.evalTopKGrouped(
          gotPages(id).toDF("system", "doc_id", "rank"), ref, 10)
        .orderBy("system").collect().toSeq.map(_.toSeq)
      assert(m === direct, s"batch $id")
      // pages are real serves: kOut rows per standing query
      assert(gotPages(id).groupBy(_._1).values.forall(_.size === cfg.kOut))
    }
    ref.unpersist()
    Seq("_df", "_meta", "_post").foreach(sfx =>
      spark.sql(s"DROP TABLE IF EXISTS seval_bm25$sfx"))
  }

  test("formatReport renders the reference-style Email Content report for a mixed run") {
    import graft.sinks.JdbcUpsert
    val result = JdbcUpsert.UpsertResult(rowsWritten = 90, rowsFailed = 15,
      errors = Seq(
        JdbcUpsert.PushError(3, 2, 10, 3, "java.sql.SQLException: \"boom\""),
        JdbcUpsert.PushError(7, -1, 5, 3, "connect refused")))
    val now = java.time.Instant.parse("2026-08-12T10:00:00Z")
    val report = JdbcUpsert.formatReport("wrf_push", result, now,
      config = Map("table" -> "curw_fcst.data"))
    assert(report ===
      "2026-08-12 10:00:00 ::: wrf_push rows_written=90 rows_failed=15 ok=false\n" +
      "::: Email Content {\"partition 3 batch 2 (10 rows, 3 attempts)\": " +
      "\"java.sql.SQLException: \\\"boom\\\"\", " +
      "\"partition 7 connection (5 rows, 3 attempts)\": \"connect refused\"}\n" +
      "::: Config Data {\"table\": \"curw_fcst.data\"}")
  }

  test("alertingOnResult sends only when a batch has ledger entries") {
    import graft.sinks.JdbcUpsert
    val sent = scala.collection.mutable.ArrayBuffer.empty[String]
    val hook = JdbcUpsert.alertingOnResult("push", sent.append(_),
      clock = () => java.time.Instant.parse("2026-08-12T10:00:00Z"))
    hook(0L, JdbcUpsert.UpsertResult(100, 0, Nil))              // clean → silent
    hook(1L, JdbcUpsert.UpsertResult(90, 10,
      Seq(JdbcUpsert.PushError(0, 1, 10, 2, "x"))))             // dirty → alert
    assert(sent.size === 1)
    assert(sent.head.startsWith("2026-08-12 10:00:00 ::: push batch=1 "))
    assert(sent.head.contains("rows_failed=10"))
  }

  test("upsertStream pushes each micro-batch through upsert with per-batch results") {
    implicit val sqlCtx = spark.sqlContext
    FakeDb.reset()
    val results = ArrayBuffer[(Long, JdbcUpsert.UpsertResult)]()
    val mem = MemoryStream[(Timestamp, String)]
    val df = mem.toDF().toDF("ts", "station")
    // A11-as-a-stream feeding the reference's update_latest_fgt upsert
    val q = JdbcUpsert.upsertStream(
        EventStream.runningWatermark(df, "ts", "station"),
        "fgt_watermark", Seq("station"), FakeDb.connect _,
        onResult = (id, r) => results.synchronized { results += ((id, r)) })
      .start()
    def t(min: Int) = new Timestamp(1577836800000L + min * 60000L)
    mem.addData((t(0), "s1"), (t(10), "s2"))
    q.processAllAvailable()
    mem.addData((t(45), "s1")) // s1's watermark advances → re-upserts
    q.processAllAvailable()
    q.stop()
    val rs = results.synchronized(results.toList)
    assert(rs.nonEmpty && rs.forall(_._2.ok))
    assert(rs.map(_._2.rowsWritten).sum >= 3) // 2 first batch + ≥1 update
    assert(FakeDb.commits.get() > 0)          // commits happened executor-side
  }

  test("EventStream.runningWatermark tracks max event time per key") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String)]
    val df = mem.toDF().toDF("ts", "station")
    val q = EventStream.runningWatermark(df, "ts", "station")
      .writeStream.format("memory").queryName("run_wm").outputMode("complete").start()
    def t(min: Int) = new Timestamp(1577836800000L + min * 60000L)
    mem.addData((t(0), "s1"), (t(30), "s1"), (t(10), "s2"))
    q.processAllAvailable()
    mem.addData((t(45), "s1"))
    q.processAllAvailable()
    val out = spark.table("run_wm").orderBy("station")
      .select("latest_fgt").as[Timestamp].collect()
    q.stop()
    assert(out.toSeq === Seq(t(45), t(10)))
  }
}
