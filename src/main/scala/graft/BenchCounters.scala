package graft

import java.util.concurrent.atomic.{AtomicLong, LongAdder}

private[graft] object BenchCounters {
  /** One entry's deterministic cost: jobs run, tasks run, summed
    * executor run time, shuffle bytes (read+write kept separately),
    * input bytes read. `quiesceTimeout` flags counters taken while the
    * listener bus was still busy at the quiesce bound, so possibly
    * skewed; the JSON carries `"quiesce_timeout":true` only then. */
  final case class Snapshot(jobs: Long, tasks: Long, execRunMs: Long,
                            shufReadB: Long, shufWriteB: Long, inputB: Long,
                            quiesceTimeout: Boolean = false) {
    def -(o: Snapshot): Snapshot = Snapshot(jobs - o.jobs, tasks - o.tasks,
      execRunMs - o.execRunMs, shufReadB - o.shufReadB,
      shufWriteB - o.shufWriteB, inputB - o.inputB)
    def json: String =
      s"""{"jobs":$jobs,"tasks":$tasks,""" +
        s""""exec_s":${Jsons.num(execRunMs / 1e3, 2)},""" +
        s""""shuffle_mb":${Jsons.num((shufReadB + shufWriteB) / 1e6, 2)},""" +
        s""""input_mb":${Jsons.num(inputB / 1e6, 2)}""" +
        (if (quiesceTimeout) ""","quiesce_timeout":true}""" else "}")
  }
}

/** Deterministic per-entry cost counters INSIDE the bench artifact
  * (r16 verdict ask #2, generalizing PERF.md Round 16's per-entry
  * counters): wall clock on this box swings ±26% with ambient load,
  * so sub-5s entries cannot be adjudicated from wall medians alone —
  * but job count, task count, summed executor run time and shuffle
  * bytes are properties of the PLAN and the DATA, not of the noisy
  * neighbor. A wall swing with flat counters is dismissible from the committed
  * BENCH_FULL.json alone.
  *
  * One listener, registered once; [[record]] snapshots the adders
  * around a thunk. Listener events are posted async, so both
  * snapshots first [[quiesce]]: wait until every started job has
  * ended AND the event stream has been silent for a beat — the bus
  * is FIFO, so observing the last job's end implies its task events
  * landed. The wall timing of a bracketed thunk is unaffected: the
  * quiesce runs OUTSIDE the caller's own t0/t1 bracket (callers time
  * inside the thunk), it only delays the moment the NEXT entry
  * starts.
  *
  * Counters include work submitted from Par-overlapped driver
  * threads inside the entry (the bench runs entries sequentially, so
  * everything between the snapshots belongs to the entry); a
  * concurrent or nested [[record]] is refused, since its snapshots
  * would take in the other entry's work. */
private[graft] final class BenchCounters(sc: org.apache.spark.SparkContext) {
  import BenchCounters.Snapshot

  private val jobsStarted = new AtomicLong
  private val jobsEnded = new AtomicLong
  private val tasks = new AtomicLong
  private val runMs = new LongAdder
  private val shufR = new LongAdder
  private val shufW = new LongAdder
  private val inB = new LongAdder
  // bumped on EVERY observed event — the quiesce silence detector
  private val events = new AtomicLong
  private val recorded =
    scala.collection.concurrent.TrieMap[String, Snapshot]()
  private val recording = new java.util.concurrent.atomic.AtomicBoolean

  sc.addSparkListener(new org.apache.spark.scheduler.SparkListener {
    override def onJobStart(
        e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
      jobsStarted.incrementAndGet(); events.incrementAndGet(): Unit
    }
    override def onJobEnd(
        e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
      jobsEnded.incrementAndGet(); events.incrementAndGet(): Unit
    }
    override def onTaskEnd(
        e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet(); events.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        runMs.add(m.executorRunTime)
        shufR.add(m.shuffleReadMetrics.totalBytesRead)
        shufW.add(m.shuffleWriteMetrics.bytesWritten)
        inB.add(m.inputMetrics.bytesRead)
      }
    }
  })

  /** Wait (bounded) until the listener bus has drained the work that
    * ran so far: all started jobs ended, then ~30ms of event silence.
    * Bounded at `maxWaitMs` so a stuck bus degrades to a skewed
    * counter, never a hung bench; false when the bound was reached. */
  private def quiesce(maxWaitMs: Long = 3000): Boolean = {
    val deadline = System.nanoTime() + maxWaitMs * 1000000L
    var lastEvents = -1L
    var silentSince = System.nanoTime()
    while (System.nanoTime() < deadline) {
      val e = events.get()
      if (e != lastEvents) { lastEvents = e; silentSince = System.nanoTime() }
      val balanced = jobsStarted.get() == jobsEnded.get()
      if (balanced && System.nanoTime() - silentSince > 30L * 1000000L) return true
      Thread.sleep(5)
    }
    false
  }

  private def snap(): Snapshot = Snapshot(jobsEnded.get(), tasks.get(),
    runMs.sum(), shufR.sum(), shufW.sum(), inB.sum())

  /** Run `f`, attributing its counter delta to `name` (a repeat
    * overwrites — with the bench's cache discipline every rep runs
    * the identical computation, so "last rep wins" is "any rep"). A
    * quiesce that reaches its bound flags the entry's counters and
    * names the entry on stderr. Refuses to start while another
    * record runs, on this thread or another. */
  def record[A](name: String)(f: => A): A = {
    if (!recording.compareAndSet(false, true))
      throw new IllegalStateException(
        s"BenchCounters.record($name) while another record runs: counters would mix entries")
    try {
      val quietBefore = quiesce(); val before = snap()
      val a = f
      val quietAfter = quiesce(); val after = snap()
      val timedOut = !(quietBefore && quietAfter)
      if (timedOut) System.err.println(
        s"[counters] $name: listener bus still busy at the quiesce bound, counters flagged quiesce_timeout")
      recorded(name) = (after - before).copy(quiesceTimeout = timedOut)
      a
    } finally recording.set(false)
  }

  /** Every recorded entry's counters. */
  def all: Map[String, Snapshot] = recorded.toMap
}
