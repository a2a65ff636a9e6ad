package graft

import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import graft.operators.Par

/** `Par.overlap`: every thunk its body starts is finished when it
  * returns, on every exit path, and no thunk's failure is dropped. */
class ParSpec extends SparkSpec {

  /** A Spark job of two tasks that sleep `ms` each, then `after`. */
  private def sleepingJob(ms: Long)(after: => Unit): () => Long = () => {
    val n = spark.sparkContext.parallelize(1 to 2, 2).map { i => Thread.sleep(ms); i }.count()
    after
    n
  }

  /** Starts `thunk`, then returns out of the body without joining it. */
  private def earlyReturn(thunk: () => Long): Int = Par.overlap[Int] { par =>
    par.async(thunk)
    return 1
  }

  test("an early return waits for the unjoined thunk's Spark job") {
    // `done` is set once the thunk's job has returned its count
    val done = new AtomicBoolean
    assert(earlyReturn(sleepingJob(500)(done.set(true))) === 1)
    assert(done.get())
  }

  test("an early return rethrows the unjoined thunk's failure") {
    val e = intercept[IllegalStateException] {
      earlyReturn(sleepingJob(200)(throw new IllegalStateException("thunk failed")))
    }
    assert(e.getMessage === "thunk failed")
  }

  test("a failing body keeps its exception and carries the unjoined thunk's as suppressed") {
    val e = intercept[IllegalArgumentException] {
      Par.overlap { par =>
        par.async(sleepingJob(200)(throw new IllegalStateException("thunk failed")))
        throw new IllegalArgumentException("body failed")
      }
    }
    assert(e.getMessage === "body failed")
    assert(e.getSuppressed.map(_.getMessage).toSeq === Seq("thunk failed"))
  }

  test("a joined thunk's failure is the body's to handle, not rethrown again") {
    val got = Par.overlap { par =>
      val join = par.async(() => throw new IllegalStateException("thunk failed"))
      try join() catch { case e: IllegalStateException => e.getMessage }
    }
    assert(got === "thunk failed")
  }

  test("thunks run on a bounded pool of daemon threads") {
    val (running, most) = (new AtomicInteger, new AtomicInteger)
    val daemon = new AtomicBoolean(true)
    Par.overlap { par =>
      (1 to 8).map(_ => par.async { () =>
        most.accumulateAndGet(running.incrementAndGet(), math.max)
        daemon.compareAndSet(true, Thread.currentThread().isDaemon)
        Thread.sleep(100)
        running.decrementAndGet()
      }).foreach(_())
    }
    assert(most.get() <= 4 && most.get() >= 2, s"most at once: ${most.get()}")
    assert(daemon.get())
  }

  test("a thunk's job carries the caller's job group as it is at each overlap") {
    val sc = spark.sparkContext
    /** The job group of a job each of 4 thunks of one overlap runs. */
    def groups(): Set[String] = Par.overlap { par =>
      (1 to 4).map(_ => par.async { () =>
        sc.parallelize(1 to 1, 1)
          .map(_ => org.apache.spark.TaskContext.get().getLocalProperty("spark.jobGroup.id"))
          .collect().head
      }).map(_()).toSet
    }
    try {
      sc.setJobGroup("first", "first overlap")
      assert(groups() === Set("first"))
      sc.setJobGroup("second", "second overlap")
      assert(groups() === Set("second"))
    } finally sc.clearJobGroup()
  }
}
