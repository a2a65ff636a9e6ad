package graft

import java.sql.DriverManager

import graft.sinks.JdbcUpsert
import graft.sinks.JdbcUpsert.{AnsiMergeDialect, RetryPolicy}

/** The upsert contract against a REAL embedded engine (Apache Derby,
  * on the Spark classpath): actual statement execution, actual
  * transactions, actual constraint violations — the part the recording
  * proxy can't exercise. The reference's deployment target is MySQL
  * `INSERT … ON DUPLICATE KEY UPDATE` (wrf_data_pusher.py:103-140);
  * Derby runs the same machinery through the ANSI MERGE dialect. */
class JdbcUpsertDerbySpec extends SparkSpec {
  import spark.implicits._
  // companion members, NOT spec fields: upsert() ships its closures to
  // executors, and a field reference would drag the whole (non-
  // serializable) suite into the task
  import JdbcUpsertDerbySpec._

  override def beforeAll(): Unit = {
    super.beforeAll()
    System.setProperty("derby.system.home", "/tmp/derby-graft")
    val c = DriverManager.getConnection(url)
    try {
      val st = c.createStatement()
      st.execute("CREATE TABLE watermarks (" +
        "k BIGINT PRIMARY KEY, v DOUBLE, CHECK (v >= 0))")
      st.close()
    } finally c.close()
  }

  test("insert + conflicting upsert round-trip: final table state is last-write-wins") {
    // coalesce(1): the suite asserts upsert SEMANTICS, not concurrency
    // — two partitions merging into the same embedded table can trip
    // Derby's lock manager under host load (observed as a ~1-in-3
    // full-suite flake) and that's JdbcUpsert's caller contract to
    // manage, not this test's subject
    val first = Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v").coalesce(1)
    val r1 = JdbcUpsert.upsert(first, "watermarks", Seq("k"),
      () => DriverManager.getConnection(url), AnsiMergeDialect(types),
      batchSize = 10, sleep = noSleep)
    assert(r1.ok && r1.rowsWritten === 2L)
    assert(tableState() === Map(1L -> 10.0, 2L -> 20.0))
    // conflicting upsert: key 2 updated in place, key 3 inserted
    val second = Seq((2L, 25.0), (3L, 30.0)).toDF("k", "v").coalesce(1)
    val r2 = JdbcUpsert.upsert(second, "watermarks", Seq("k"),
      () => DriverManager.getConnection(url), AnsiMergeDialect(types),
      batchSize = 10, sleep = noSleep)
    assert(r2.ok && r2.rowsWritten === 2L)
    assert(tableState() === Map(1L -> 10.0, 2L -> 25.0, 3L -> 30.0))
    // re-running the same upsert is idempotent (the A5 semantics the
    // reference's push relies on for replays)
    val r3 = JdbcUpsert.upsert(second, "watermarks", Seq("k"),
      () => DriverManager.getConnection(url), AnsiMergeDialect(types),
      batchSize = 10, sleep = noSleep)
    assert(r3.ok)
    assert(tableState() === Map(1L -> 10.0, 2L -> 25.0, 3L -> 30.0))
  }

  test("induced failure: bad batch retries, ledgers, rolls back; healthy batches commit") {
    // CHECK (v >= 0) rejects the middle row; batchSize=1 isolates each
    // row in its own batch+transaction so the healthy ones must land
    val rows = Seq((4L, 40.0), (5L, -5.0), (6L, 60.0)).toDF("k", "v").coalesce(1)
    val policy = RetryPolicy(maxAttempts = 2, initialBackoffMs = 1)
    val r = JdbcUpsert.upsert(rows, "watermarks", Seq("k"),
      () => DriverManager.getConnection(url), AnsiMergeDialect(types),
      batchSize = 1, policy = policy, sleep = noSleep)
    assert(!r.ok)
    assert(r.rowsWritten === 2L && r.rowsFailed === 1L)
    assert(r.errors.size === 1)
    assert(r.errors.head.attempts === 2) // retried, then exhausted
    val state = tableState()
    assert(state.get(4L).contains(40.0) && state.get(6L).contains(60.0))
    assert(!state.contains(5L)) // the violating row never lands
    // the run report carries the ledger the reference would mail
    val report = JdbcUpsert.formatReport("derby-roundtrip", r,
      java.time.Instant.EPOCH)
    assert(report.contains("rows_failed=1") && report.contains("Email Content"))
  }

  test("a connection that never opens ledgers the whole partition (batch = -1)") {
    val rows = Seq((9L, 90.0)).toDF("k", "v").coalesce(1)
    val r = JdbcUpsert.upsert(rows, "watermarks", Seq("k"),
      () => DriverManager.getConnection("jdbc:derby:memory:absent"),
      AnsiMergeDialect(types),
      policy = RetryPolicy(maxAttempts = 2, initialBackoffMs = 1),
      sleep = noSleep)
    assert(!r.ok && r.rowsFailed === 1L)
    assert(r.errors.head.batch === -1)
    assert(!tableState().contains(9L))
  }
}

object JdbcUpsertDerbySpec {
  val url = "jdbc:derby:memory:graftup;create=true"
  val types = Map("k" -> "BIGINT", "v" -> "DOUBLE")
  val noSleep: Long => Unit = _ => ()

  def tableState(): Map[Long, Double] = {
    val c = DriverManager.getConnection(url)
    try {
      val rs = c.createStatement().executeQuery("SELECT k, v FROM watermarks")
      val b = Map.newBuilder[Long, Double]
      while (rs.next()) b += (rs.getLong(1) -> rs.getDouble(2))
      b.result()
    } finally c.close()
  }
}
