package perfbench

/** Turns a traced run's spans, jobs and counters into per-layer
  * metrics. Each figure is per cycle of the workload (one pipeline
  * run, one round of requests): a cycle runs operations of one or more
  * kinds, each kind at the median over its traced operations. */
object Report {

  /** Modules that submit Spark jobs in some workload; every other
    * call-site module is reported as `other`. */
  val Modules: Seq[String] = Seq("Pipeline", "RfieldSink", "TextAnalysis",
    "Similarity", "Retrieval", "EventStream", "CorpusPrepJob", "Corpus", "Dedup",
    "ShardSink", "other")

  /** The operations of one cycle: per kind, how many of it a cycle runs
    * and the costs of its traced operations. */
  type Cycle = Seq[(Double, Seq[OpCost])]

  /** Per-operation Spark totals. */
  final case class OpCost(jobs: Int, failedTasks: Long, spillMb: Double, driverGapS: Double,
                          planS: Double, codegen: Long, gcS: Double,
                          byModule: Map[String, ModuleCost])

  final case class ModuleCost(jobs: Int, tasks: Long, execS: Double,
                              jobActiveS: Double, shuffleMb: Double)

  /** The operation each job belongs to: the one its span property
    * names, or the nearest such ancestor; a job started on a thread
    * without the property, such as a streaming query's, belongs to the
    * operation open when it started. Operations never overlap: one
    * client waits for each before issuing the next. */
  def jobsByOp(spans: Seq[Span], jobs: Seq[JobRec], ops: Seq[Span]): Map[Int, Seq[JobRec]] = {
    val byId = spans.map(s => s.id -> s).toMap
    val opIds = ops.map(_.id).toSet
    def owner(id: Int): Option[Int] =
      if (opIds.contains(id)) Some(id) else byId.get(id).flatMap(s => owner(s.parent))
    jobs.flatMap { j =>
      owner(j.span).orElse(ops.find(o => j.start >= o.start && j.start <= o.end).map(_.id))
        .map(_ -> j)
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
  }

  /** Jobs per call-site module over all traced jobs, for the log. */
  def moduleCensus(tr: Tracer): String =
    tr.jobs.groupBy(_.module).toSeq.sortBy(-_._2.size)
      .map { case (m, js) => s"$m=${js.size}" }.mkString(" ")

  def costs(tr: Tracer, ops: Seq[Span]): Seq[OpCost] = {
    val spans = tr.spans
    val jobs = tr.jobs
    val totals = tr.jobTotals
    val byOp = jobsByOp(spans, jobs, ops)
    val plans = tr.plans
    val mb = 1024.0 * 1024.0
    ops.map { op =>
      val js = byOp.getOrElse(op.id, Nil)
      def tot(j: JobRec) = totals.getOrElse(j.id, new StageAgg)
      def active(j: JobRec) =
        if (j.end.isNaN) 0.0 else math.max(0.0, math.min(j.end, op.end) - math.max(j.start, op.start))
      val modules = js.groupBy(j => if (Modules.contains(j.module)) j.module else "other")
        .map { case (m, mj) => m -> ModuleCost(mj.size, mj.map(tot(_).tasks).sum,
          mj.map(tot(_).execMs).sum / 1e3, mj.map(active).sum / 1e3,
          mj.map(tot(_).shuffleBytes).sum / mb) }
      val covered = Stats.unionLength(js.filterNot(_.end.isNaN)
        .map(j => (math.max(j.start, op.start), math.min(j.end, op.end))))
      val (s0, s1) = tr.snapsOf(op.id).getOrElse((Snap(0, 0), Snap(0, 0)))
      OpCost(js.size, js.map(tot(_).failedTasks).sum, js.map(tot(_).spillBytes).sum / mb,
        (op.ms - covered) / 1e3,
        plans.filter(p => p.at >= op.start && p.at <= op.end).map(_.ms).sum / 1e3,
        s1.codegen - s0.codegen, (s1.gcMs - s0.gcMs) / 1e3, modules)
    }
  }

  private def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)

  def perCycle(cycle: Cycle)(f: OpCost => Double): Double =
    cycle.map { case (n, cs) => n * med(cs.map(f)) }.sum

  /** Jobs, tasks, executor time, job wall time and shuffle of each of
    * `modules`, per cycle. */
  def putModules(ctx: Ctx, modules: Seq[String], cycle: Cycle): Unit =
    for (m <- modules) {
      def per(f: ModuleCost => Double) = perCycle(cycle)(_.byModule.get(m).map(f).getOrElse(0.0))
      ctx.layer(s"$m.jobs", per(_.jobs.toDouble), "count")
      ctx.layer(s"$m.tasks", per(_.tasks.toDouble), "count")
      ctx.layer(s"$m.exec_s", per(_.execS), "s")
      ctx.layer(s"$m.job_active_s", per(_.jobActiveS), "s")
      ctx.layer(s"$m.shuffle_mb", per(_.shuffleMb), "MB")
    }

  /** The engine-level `spark.*` metrics, per cycle. */
  def putSpark(ctx: Ctx, cycle: Cycle): Unit = {
    val per = perCycle(cycle) _
    ctx.layer("spark.plan_s", per(_.planS), "s")
    ctx.layer("spark.codegen_classes", per(_.codegen.toDouble), "count")
    ctx.layer("spark.driver_gap_s", per(_.driverGapS), "s")
    ctx.layer("spark.gc_s", per(_.gcS), "s")
    ctx.layer("spark.spill_mb", per(_.spillMb), "MB")
    ctx.layer("spark.failed_tasks", cycle.flatMap(_._2).map(_.failedTasks.toDouble).sum, "count")
  }

  /** The same three planning figures for the operations of the first
    * (cold) cycle. */
  def putCold(ctx: Ctx, cold: Seq[OpCost]): Unit = {
    ctx.layer("spark.cold_plan_s", cold.map(_.planS).sum, "s")
    ctx.layer("spark.cold_codegen_classes", cold.map(_.codegen.toDouble).sum, "count")
    ctx.layer("spark.cold_driver_gap_s", cold.map(_.driverGapS).sum, "s")
  }

  /** Traced over untraced time of the same kinds of operation, each
    * kind weighted by its traced count, minus one. */
  def overhead(ctx: Ctx, traced: Seq[(String, Double)], untraced: Seq[(String, Double)]): Unit = {
    def times(xs: Seq[(String, Double)], k: String) = xs.collect { case (`k`, v) => v }
    val kinds = traced.map(_._1).distinct.filter(k => times(untraced, k).nonEmpty)
    val t = kinds.map(k => times(traced, k).size * med(times(traced, k))).sum
    val u = kinds.map(k => times(traced, k).size * med(times(untraced, k))).sum
    ctx.layer("trace_overhead_frac", if (u > 0) t / u - 1.0 else 0.0, "ratio")
  }
}
