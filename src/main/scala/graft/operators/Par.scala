package graft.operators

import scala.jdk.CollectionConverters._

/** Run INDEPENDENT Spark actions concurrently from the driver
  * (optimization guide §2.6: actions are only sequential because
  * driver code calls them sequentially — submitting independent jobs
  * from a small pool lets the next job's tasks back-fill executors
  * freed by the current job's straggler tail, instead of paying each
  * job's fixed scheduling + tail latency end-to-end).
  *
  * Contract: the thunks must be independent — no thunk may read
  * state another thunk writes (the callers here overlap writes to
  * DISJOINT directories, or serves whose per-page state is local by
  * construction). Results come back in input order, so a caller's
  * downstream composition is deterministic regardless of completion
  * order. On failure, EVERY thunk is awaited to completion first and
  * only then is the first failure rethrown (its cause, not the
  * ExecutionException wrapper) — a caller's catch/cleanup/retry code
  * never races a still-running sibling's write (r16 review: an
  * immediate rethrow let a retry's dynamic-overwrite land
  * concurrently with the zombie first writer's).
  *
  * The pool is per-call and sized min(maxConcurrent, thunks) — a few
  * concurrent jobs is enough to fill a scheduling gap or a stage
  * tail (guide: "2-3 jobs in flight is plenty"), and the bound keeps
  * the driver's concurrent footprint (page states, committer
  * buffers) a small constant independent of cluster size. */
private[graft] object Par {

  /** Serializes the (getPersistentRDDs snapshot → localCheckpoint
    * registration → snapshot delta) window of [[checkpointPinned]]:
    * the delta-capture reads GLOBAL SparkContext state, so two
    * concurrent checkpoints could each capture the other's pinned
    * RDDs and later unpersist blocks a sibling loop still needs —
    * fatal for locally-checkpointed RDDs, whose lineage is
    * truncated. Callers keep the window small by materializing the
    * plan's AQE stages BEFORE taking the lock (see
    * [[checkpointPinned]]); a sibling's unrelated cache
    * materialization can still land inside the window and be
    * captured — that costs only a recompute of ITS cache, never
    * correctness (the pre-r16 comment's argument, now holding under
    * concurrency for the checkpoint-vs-checkpoint case too). */
  private val checkpointRegistration = new Object

  /** `localCheckpoint` + handles to the RDDs it pinned — the ONE
    * spelling behind Dedup/Similarity/Bpe's iterative loops (three
    * drifting copies before the r16 review). `Dataset.unpersist`
    * cannot free checkpoint blocks (they are RDD-level persists,
    * reclaimed only when the RDD is GC'd), so the
    * `getPersistentRDDs` delta captures the new RDD(s) for an
    * explicit `RDD.unpersist` once a loop round is dead.
    *
    * The `queryExecution.toRdd` warm-up runs OUTSIDE the lock: with
    * AQE on, producing the final RDD executes every intermediate
    * shuffle stage — inside the lock that would serialize concurrent
    * loops' whole materialization (r16 review); `toRdd` is an
    * idempotent lazy val, so the locked `localCheckpoint` call then
    * only constructs the final RDD over the already-decided plan.
    *
    * `eager = false` defers block materialization to the caller's
    * next action over the frame — a loop whose round already ends in
    * an aggregate (clusters' convergence sum, BPE's pair-count
    * collect) fuses compute+persist+aggregate into fewer passes; the
    * caller must run that action before unpersisting anything the
    * frame's lineage reads. `eager = true` materializes on return
    * (the old contract). */
  private[graft] def checkpointPinned(df: org.apache.spark.sql.DataFrame,
      eager: Boolean = true)
      : (org.apache.spark.sql.DataFrame, Seq[org.apache.spark.rdd.RDD[_]]) = {
    val sc = df.sparkSession.sparkContext
    df.queryExecution.toRdd: Unit
    val (out, pinned) = checkpointRegistration.synchronized {
      val before = sc.getPersistentRDDs.keySet
      val o = df.localCheckpoint(eager = false)
      (o, (sc.getPersistentRDDs -- before).values.toSeq)
    }
    if (eager)
      out.foreachPartition((_: Iterator[org.apache.spark.sql.Row]) => ())
    (out, pinned)
  }

  /** The thunks [[overlap]]'s body started, and the scope's pool. */
  private[graft] final class Overlap private[Par] () {
    private[Par] val started = new java.util.concurrent.ConcurrentLinkedQueue[Started[_]]

    /** At most 4 daemon threads, made on the first [[async]] and shut
      * down when [[overlap]] returns. A pool thread is made by the
      * thread that submits to it, so it inherits that caller's Spark
      * local properties (job group, SQL execution id) as they are
      * now; a pool that outlived the scope would keep some earlier
      * caller's. */
    private[Par] var pool: java.util.concurrent.ExecutorService = null

    /** Start ONE independent action now on the scope's pool, join it
      * later — the two-phase overlap [[run]] cannot express (the caller
      * has other driver work to do between start and join; r17, guide
      * §2.6). The returned joiner waits for the thunk and rethrows its
      * failure unwrapped, like [[run]]. Same independence contract: the
      * thunk must not read state the caller writes before joining. */
    def async[A](thunk: () => A): () => A = synchronized {
      if (pool == null) {
        val threads = java.util.concurrent.Executors.defaultThreadFactory()
        pool = java.util.concurrent.Executors.newFixedThreadPool(4,
          (r: Runnable) => { val th = threads.newThread(r); th.setDaemon(true); th })
      }
      val s = new Started(pool.submit(
        new java.util.concurrent.Callable[A] { def call(): A = thunk() }))
      started.add(s)
      () => s.join()
    }
  }

  /** One started thunk, and whether its caller joined it. */
  private[Par] final class Started[A](future: java.util.concurrent.Future[A]) {
    @volatile private[Par] var joined = false
    def join(): A = {
      joined = true
      try future.get()
      catch {
        case e: java.util.concurrent.ExecutionException =>
          throw Option(e.getCause).getOrElse(e)
      }
    }
  }

  /** Runs `body`, whose [[Overlap.async]] thunks are all finished when
    * this returns, on every exit path — a value, a throw, or a `return`
    * out of `body` before it joined them: none leaves a Spark job
    * running behind the caller. A thunk's failure is never dropped:
    * one `body` did not join is rethrown after `body` returns, or
    * added as suppressed to the exception `body` threw. */
  private[graft] def overlap[B](body: Overlap => B): B = {
    val scope = new Overlap
    var failure: Throwable = null
    try body(scope)
    catch {
      // a `return` out of body is a normal exit, not a failure
      case e: Throwable if !e.isInstanceOf[scala.util.control.ControlThrowable] =>
        failure = e; throw e
    }
    finally {
      val unjoined = scope.started.asScala.toSeq.filterNot(_.joined)
      val failed = unjoined.flatMap(s => scala.util.Try(s.join()).failed.toOption)
      scope.synchronized { if (scope.pool != null) scope.pool.shutdown() }
      if (failure != null) failed.foreach(failure.addSuppressed)
      else failed.headOption.foreach { e => failed.tail.foreach(e.addSuppressed); throw e }
    }
  }

  def run[A](thunks: Seq[() => A], maxConcurrent: Int = 4): Seq[A] = {
    require(maxConcurrent > 0, s"maxConcurrent=$maxConcurrent must be positive")
    if (thunks.lengthCompare(2) < 0) return thunks.map(_())
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(maxConcurrent, thunks.length))
    try {
      val futs = thunks.map { t =>
        pool.submit(new java.util.concurrent.Callable[A] {
          def call(): A = t()
        })
      }
      // await EVERYTHING before propagating anything — see scaladoc
      val results = futs.map { f =>
        try Right(f.get())
        catch {
          case e: java.util.concurrent.ExecutionException =>
            Left(Option(e.getCause).getOrElse(e))
          case scala.util.control.NonFatal(e) => Left(e)
        }
      }
      results.collectFirst { case Left(e) => e }.foreach(throw _)
      results.map(_.toOption.get)
    } finally pool.shutdown()
  }
}
