package perfbench

import org.apache.spark.sql.SparkSession

/** The closed loop the batch workloads share, and the bookkeeping
  * around it. */
object Setup {

  def seconds[T](f: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val r = f
    ((System.nanoTime() - t0) / 1e9, r)
  }

  /** Whether the i-th measured cycle of a traced run is traced: in the
    * order untraced, traced, traced, untraced, repeated, so that cycles
    * still getting faster as the JIT compiles favour neither side of
    * `trace_overhead_frac`. */
  def tracedAt(i: Int): Boolean = i % 4 == 1 || i % 4 == 2

  /** One timed operation, inside a top-level span when `traced`. The
    * listener bus is drained on both sides so a traced operation's
    * events are neither lost nor mixed with untraced ones. */
  def timedOp[T](ctx: Ctx, tracer: Option[Tracer], traced: Boolean, name: String)
                (f: => T): Option[(Double, T)] = {
    val tr = tracer.filter(_ => traced)
    tr.foreach { t => t.drain(); t.enabled = true }
    try ctx.op(name)(seconds(tr.fold(f)(_.span(name)(f))))
    finally tr.foreach { t => t.drain(); t.enabled = false }
  }

  final case class Loop[R](cold: Option[(Double, R)], untraced: Seq[(Double, R)],
                           tracedRuns: Seq[(Double, R)], probes: Seq[Map[String, Double]]) {
    def traced: Seq[R] = tracedRuns.map(_._2)
  }

  /** Warm runs at least: the warm runs still get faster while the JIT
    * compiles, and five give a median past the first few. */
  val MinWarmRuns = 5

  /** The first run; one untimed warm-up run, since the JIT is still
    * compiling the engine's hot paths then; and warm runs for
    * `ctx.seconds`, at least `MinWarmRuns` (a traced run traces the
    * ones `tracedAt` picks and probes the layers after each). */
  def batchLoop[R](ctx: Ctx, tracer: Option[Tracer], oneRun: Boolean => Option[(Double, R)])
                  (probe: R => Map[String, Double])(cleanup: R => Unit): Loop[R] = {
    val cold = oneRun(ctx.trace)
    cold.foreach(c => cleanup(c._2))
    oneRun(false).foreach(r => cleanup(r._2))
    val untraced = Seq.newBuilder[(Double, R)]
    val traced = Seq.newBuilder[(Double, R)]
    val probes = Seq.newBuilder[Map[String, Double]]
    val minRuns = MinWarmRuns
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var k = 0
    while (elapsed < ctx.seconds || k < minRuns) {
      val isTraced = ctx.trace && tracedAt(k)
      k += 1
      oneRun(isTraced).foreach { r =>
        if (isTraced) {
          traced += r
          tracer.foreach { t => t.drain(); t.enabled = true }
          ctx.op("layer probes")(probe(r._2)).foreach(probes += _)
          tracer.foreach { t => t.drain(); t.enabled = false }
        } else untraced += r
        cleanup(r._2)
      }
    }
    val loop = Loop(cold, untraced.result(), traced.result(), probes.result())
    System.err.println(f"[perfbench] cold ${cold.map(_._1).getOrElse(0.0)}%.3f s, warm " +
      loop.untraced.map(r => f"${r._1}%.3f").mkString(" ") + " s")
    loop
  }

  /** End-to-end metrics of a batch loop, or the Spark-level per-layer
    * ones of its traced runs; then stop the session. */
  def finish[R](ctx: Ctx, spark: SparkSession, tracer: Option[Tracer], loop: Loop[R],
                opName: String): Unit = {
    loop.cold.foreach(c => ctx.put("cold_run_s", c._1, "s", traced = false))
    if (loop.untraced.nonEmpty)
      ctx.put("run_s", Stats.median(loop.untraced.map(_._1)), "s", traced = false)
    tracer.foreach { tr =>
      val ops = tr.spans.filter(s => s.parent < 0 && s.name == opName).sortBy(_.start)
      val costs = Report.costs(tr, ops)
      Report.putCold(ctx, costs.take(1))
      Report.putModules(ctx, Report.Modules, Seq(1.0 -> costs.drop(1)))
      Report.putSpark(ctx, Seq(1.0 -> costs.drop(1)))
      Report.overhead(ctx, loop.tracedRuns.map(r => opName -> r._1),
        loop.untraced.map(r => opName -> r._1))
      System.err.println(s"[perfbench] traced jobs by call-site module: ${Report.moduleCensus(tr)}")
      tr.close()
    }
    spark.stop()
  }
}
