package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** A span around one of the benchmark's calls into the engine. Times
  * are epoch milliseconds; `parent` is -1 for a top-level span. */
final case class Span(id: Int, name: String, parent: Int, start: Double, end: Double) {
  def ms: Double = end - start
}

/** One Spark job as the listener saw it: the span open on the thread
  * that submitted it (-1 when none), the engine module at its call
  * site, the SQL execution it ran for, whether a streaming query ran it,
  * and its interval. */
final case class JobRec(id: Int, span: Int, module: String, start: Double,
                        end: Double, execution: Option[String] = None,
                        streaming: Boolean = false)

/** Task totals of one stage. */
final class StageAgg {
  var tasks = 0L
  var failedTasks = 0L
  var execMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
}

/** Planning time of one executed query: the analysis, optimization and
  * planning phases of its `QueryPlanningTracker`. */
final case class PlanRec(at: Double, ms: Double)

/** Resource counters read on the driver around a top-level span. */
final case class Snap(codegen: Long, gcMs: Long)

object Trace {
  /** Spark local property naming the open span. Local properties are
    * inheritable thread-locals, so jobs the engine starts from its own
    * worker threads carry the span of the call that spawned them. */
  val SpanProp = "perfbench.span"

  /** The engine module of a job: the first `graft.` frame of its call
    * site (`StageInfo.details`, innermost frame first), named by its
    * object, e.g. `graft.operators.Similarity$.$anonfun$x$1(...)` is
    * `Similarity`. Jobs with no engine frame are `other`. */
  def moduleOf(callSite: String): String =
    callSite.linesIterator.map(_.trim).find(_.startsWith("graft.")) match {
      case None => "other"
      case Some(frame) =>
        val qualified = frame.takeWhile(_ != '(')
        val owner = qualified.split('.').dropRight(1).lastOption.getOrElse(qualified)
        val name = owner.takeWhile(_ != '$')
        if (name.isEmpty) "other" else name
    }

  /** Request spans and the layer whose serve they time. The serve
    * functions return lazy frames the benchmark itself collects, so
    * the jobs of a served page or knn answer have no engine frame. */
  val SpanModules: Map[String, String] =
    Map("page" -> "Retrieval", "knn" -> "Similarity", "ingest" -> "EventStream")

  /** Jobs whose call site has no engine frame get a module from their
    * context. Spark runs many of a query's jobs on its own pool threads
    * (adaptive query stages, broadcasts) whose stacks never pass through
    * the engine: they take the module at the call site of their SQL
    * execution (`executions`, execution id to module). A streaming
    * query reports the call site of its start for every job: those jobs
    * belong to `EventStream`, which builds the engine's streaming
    * queries. What is left takes the layer of the request span it ran
    * in (`SpanModules`), else stays `other`. */
  def resolveModules(jobs: Seq[JobRec], executions: Map[String, String],
                     spans: Seq[Span]): Seq[JobRec] = {
    val byId = spans.map(s => s.id -> s).toMap
    def fromSpan(id: Int): Option[String] =
      byId.get(id).flatMap(s => SpanModules.get(s.name).orElse(fromSpan(s.parent)))
    jobs.map { j =>
      if (j.module != "other") j
      else if (j.streaming) j.copy(module = "EventStream")
      else j.copy(module = j.execution.flatMap(executions.get).filter(_ != "other")
        .orElse(fromSpan(j.span)).getOrElse("other"))
    }
  }

  /** A span's duration minus the part of it its direct children
    * cover. */
  def selfTime(span: Span, spans: Seq[Span]): Double = {
    val kids = spans.filter(_.parent == span.id)
      .map(c => (math.max(c.start, span.start), math.min(c.end, span.end)))
    span.ms - Stats.unionLength(kids)
  }

  def snap(): Snap = Snap(CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum)
}

/** Spans kept in memory plus a Spark listener and a query-execution
  * listener that record jobs, tasks and planning while `enabled`. */
final class Tracer(spark: SparkSession) extends SparkListener {
  import Trace._

  @volatile var enabled = false

  private val nanoBase = System.nanoTime()
  private val epochBase = System.currentTimeMillis().toDouble
  def now(): Double = epochBase + (System.nanoTime() - nanoBase) / 1e6

  private val spanBuf = mutable.ArrayBuffer.empty[Span]
  private val snaps = mutable.Map.empty[Int, (Snap, Snap)]
  private val nextId = new java.util.concurrent.atomic.AtomicInteger(0)
  private val jobBuf = mutable.Map.empty[Int, JobRec]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stageAgg = mutable.Map.empty[Int, StageAgg]
  private val planBuf = mutable.ArrayBuffer.empty[PlanRec]
  private val execModule = mutable.Map.empty[String, String]

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = if (enabled) {
      val phases = qe.tracker.phases.values
      if (phases.nonEmpty) {
        val ms = phases.map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum
        planBuf.synchronized(planBuf += PlanRec(phases.map(_.startTimeMs).min.toDouble, ms))
      }
    }
  }

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(qeListener)

  /** Run `f` inside a span. With tracing off this is just `f`. */
  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val sc = spark.sparkContext
      val parent = Option(sc.getLocalProperty(SpanProp)).map(_.toInt).getOrElse(-1)
      val id = nextId.getAndIncrement()
      val topLevel = parent < 0
      val s0 = if (topLevel) snap() else null
      val t0 = now()
      sc.setLocalProperty(SpanProp, id.toString)
      try f
      finally {
        val t1 = now()
        sc.setLocalProperty(SpanProp, if (parent < 0) null else parent.toString)
        spanBuf.synchronized {
          spanBuf += Span(id, name, parent, t0, t1)
          if (topLevel) snaps(id) = (s0, snap())
        }
      }
    }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
      .map(_.toInt).getOrElse(-1)
    val site = e.stageInfos.sortBy(-_.stageId).headOption.map(_.details).getOrElse("")
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    synchronized {
      jobBuf(e.jobId) = JobRec(e.jobId, span, moduleOf(site), e.time.toDouble, Double.NaN,
        prop("spark.sql.execution.root.id").orElse(prop("spark.sql.execution.id")),
        prop("sql.streaming.queryId").isDefined)
      e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart if enabled =>
      synchronized(execModule(x.executionId.toString) = moduleOf(x.details))
    case _ =>
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobBuf.get(e.jobId).foreach(j => jobBuf(e.jobId) = j.copy(end = e.time.toDouble))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (stageJob.contains(e.stageId)) {
      val a = stageAgg.getOrElseUpdate(e.stageId, new StageAgg)
      a.tasks += 1
      if (e.reason != Success) a.failedTasks += 1
      Option(e.taskMetrics).foreach { m =>
        a.execMs += m.executorRunTime
        a.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.diskBytesSpilled
      }
    }
  }

  /** Wait until the listener bus has delivered every event so far. */
  def drain(): Unit = org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)

  def spans: Seq[Span] = spanBuf.synchronized(spanBuf.toList)
  def snapsOf(id: Int): Option[(Snap, Snap)] = spanBuf.synchronized(snaps.get(id))
  def jobs: Seq[JobRec] = {
    val ss = spans
    synchronized(resolveModules(jobBuf.values.toList.sortBy(_.id), execModule.toMap, ss))
  }
  def plans: Seq[PlanRec] = planBuf.synchronized(planBuf.toList)

  /** Task totals per job: (tasks, failed tasks, exec ms, shuffle bytes,
    * spill bytes). A stage counts for the first job that listed it. */
  def jobTotals: Map[Int, StageAgg] = synchronized {
    stageAgg.toSeq.groupBy { case (s, _) => stageJob(s) }.map { case (j, aggs) =>
      val t = new StageAgg
      aggs.foreach { case (_, a) =>
        t.tasks += a.tasks; t.failedTasks += a.failedTasks; t.execMs += a.execMs
        t.shuffleBytes += a.shuffleBytes; t.spillBytes += a.spillBytes
      }
      j -> t
    }
  }

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(qeListener)
  }
}
