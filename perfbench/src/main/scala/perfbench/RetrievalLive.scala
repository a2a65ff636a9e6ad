package perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.{CorpusPrepJob, Sessions, Tables}
import graft.operators.{Retrieval, Similarity}
import graft.streaming.EventStream

/** `retrieval_live`: a retrieval index serving while arrivals are
  * ingested. Set-up lands a BM25+IVF pair over a seeded corpus and
  * starts the streaming hybrid ingest into it. One client then issues
  * rounds of reads, each a `page` (the hybrid serve of one query) and a
  * `knn` (the IVF serve of a small query page) in seeded order; every
  * third round is followed by an `ingest` (one micro-batch of held-out
  * documents and vectors drained through the stream). Reads and appends
  * share the same artifacts: appends grow the uncompacted IVF
  * partitions every read scans. */
object RetrievalLive {
  val BaseDocs = 500
  val IngestBatch = 16
  val KnnQueries = 4
  val K = 5
  /** The IVF serve's probe count and recall floor of the catalog's
    * `ann_ivf_topk` entry. */
  val Nprobe = 8
  val RecallFloor = 0.55
  val RecallPanel = 64
  /** An ingest follows measured rounds 1, 4, 7, ...: one per three. */
  val IngestEvery = 3
  /** Measured rounds at least: four give a steady median and time one
    * ingest. */
  val MinRounds = 4
  /** Documents of the corpus-prep probe of a traced run. */
  val PrepDocs = 120
  val Table = "live_bm25"
  val HeldOutBase = 1000000L
  val QueryBase = 2000000L

  /** The streaming hybrid ingest; each batch also re-serves one
    * standing query's page, as the deployed stream does. */
  final class Live(spark: SparkSession, path: String) {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val arrivals = MemoryStream[(Long, String, Array[Float])]
    private val standing = Seq((QueryBase - 1, Array.fill(Gen.Dim)(0.125f))).toDF("vec_id", "embedding")
    val query = EventStream.streamingHybridIngest(
      arrivals.toDS().toDF("doc_id", "text", "embedding"), Table, path, standing,
      Retrieval.ServeConfig(Seq("spark", "window")), (_, page) => { page.collect(); () }).start()
  }

  /** One timed request: its kind, seconds, whether traced, and the
    * phase of the run it belongs to. */
  final case class Req(kind: String, s: Double, traced: Boolean, phase: String)

  def run(ctx: Ctx): Unit = {
    val spark = Sessions.local(ctx.cpus)
    import spark.implicits._
    val rnd = new java.util.Random(ctx.seed ^ 0x11feL)
    val docs = Gen.documents(ctx.seed, BaseDocs)
    val baseVecs = Gen.vectors(ctx.seed, BaseDocs).zipWithIndex
      .map { case ((v, l), i) => (i.toLong, v, l) }
    val inDir = s"${ctx.work}/in"
    val (genS, _) = Setup.seconds(Gen.writeCorpus(spark, inDir, docs, baseVecs))
    val path = s"${ctx.work}/idx"
    val ivf = s"$path/ivf"
    val (pairS, _) = Setup.seconds(Retrieval.buildArtifacts(
      Tables.documents(spark, inDir), Tables.embeddings(spark, inDir), Table, path))
    val (liveS, live) = Setup.seconds(new Live(spark, path))
    System.err.println(f"[perfbench] set-up: inputs $genS%.3f s, " +
      f"BM25+IVF pair $pairS%.3f s, stream $liveS%.3f s")
    ctx.put("setup_s", ctx.uptimeS(), "s", traced = false)

    // held-out arrivals and queries, seeded apart from the corpus
    val heldDocs = Gen.documents(ctx.seed + 1, 64 * IngestBatch, HeldOutBase)
    val heldVecs = Gen.vectors(ctx.seed + 1, heldDocs.size).map(_._1)
    val queryVecs = Gen.vectors(ctx.seed + 2, 256).map(_._1)
    // vectors the index holds, for exact-cosine truth
    val indexed = scala.collection.mutable.ArrayBuffer.from(baseVecs.map { case (id, v, _) => (id, v) })
    var ingested = 0
    var nextQuery = 0
    val probes = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Float])]

    def page(): Unit = {
      val qi = nextQuery % queryVecs.size; nextQuery += 1
      val terms = Seq.fill(3)(Gen.Vocab(rnd.nextInt(Gen.Vocab.length))).distinct
      val q = Seq((QueryBase + qi, queryVecs(qi))).toDF("vec_id", "embedding")
      val rows = Retrieval.serveFromIndex(spark, Table, path, q,
        Retrieval.ServeConfig(terms)).collect()
      ctx.check("page response")(rows.nonEmpty && rows.length <= 10, s"${rows.length} rows")
    }
    def knn(): Unit = {
      val qs = (0 until KnnQueries).map { _ =>
        val qi = nextQuery % queryVecs.size; nextQuery += 1
        (QueryBase + qi, queryVecs(qi))
      }
      val rows = Similarity.ivfTopKFromIndex(spark, ivf, qs.toDF("vec_id", "embedding"), K, Nprobe)
        .select("q_id", "n_id").collect()
      val byQ = rows.groupBy(_.getLong(0))
      ctx.check("knn response")(qs.forall { case (id, _) => byQ.get(id).exists(r => r.nonEmpty && r.length <= K) },
        s"rows per query ${qs.map(q => byQ.get(q._1).map(_.length).getOrElse(0))}")
    }
    def ingest(): Unit = {
      val from = ingested * IngestBatch
      val batch = (from until from + IngestBatch).map(i => (heldDocs(i), heldVecs(i)))
      ingested += 1
      live.arrivals.addData(batch.map { case (d, v) => (d.docId, d.text, v) })
      live.query.processAllAvailable()
      batch.foreach { case (d, v) => indexed += ((d.docId, v)) }
      probes += ((batch.head._1.docId, batch.head._2))
    }
    val serve: Map[String, () => Unit] = Map("page" -> page, "knn" -> knn, "ingest" -> ingest)

    val tracer = if (ctx.trace) Some(new Tracer(spark)) else None
    val reqs = scala.collection.mutable.ArrayBuffer.empty[Req]
    /** One request, each a top-level operation (span) of its own. */
    def request(kind: String, traced: Boolean, phase: String): Option[Double] =
      Setup.timedOp(ctx, tracer, traced, kind)(serve(kind)()).map { case (s, _) =>
        reqs += Req(kind, s, traced, phase); s
      }
    /** A page and a knn in seeded order; the round's read time when both
      * answered. */
    def round(traced: Boolean, phase: String): Option[Double] = {
      val order = if (rnd.nextBoolean()) Seq("page", "knn") else Seq("knn", "page")
      val times = order.flatMap(request(_, traced, phase))
      if (times.size == order.size) Some(times.sum) else None
    }

    round(ctx.trace, "cold").foreach(s => ctx.put("cold_run_s", s, "s", traced = false))
    // one untimed round and ingest: the JIT is still compiling the serve
    // and ingest paths after the cold ones, so the first warm ones read high
    round(traced = false, "warmup")
    request("ingest", traced = false, "warmup")
    // (seconds, traced) per measured round
    val rounds = scala.collection.mutable.ArrayBuffer.empty[(Double, Boolean)]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var m = 0
    while ((elapsed < ctx.seconds || m < MinRounds) && (ingested + 1) * IngestBatch <= heldDocs.size) {
      val traced = ctx.trace && Setup.tracedAt(m)
      round(traced, "measured").foreach(s => rounds += ((s, traced)))
      if (m % IngestEvery == 1) request("ingest", traced, "measured")
      m += 1
    }
    val measured = reqs.filter(_.phase == "measured").toSeq
    for (kind <- Seq("page", "knn", "ingest")) {
      val first = reqs.find(r => r.kind == kind && r.phase != "measured").map(_.s).getOrElse(0.0)
      val warm = measured.filter(_.kind == kind).map(_.s)
      System.err.println(f"[perfbench] $kind: first $first%.3f s, measured " +
        warm.map(s => f"$s%.3f").mkString(" ") + " s")
    }
    val untracedRounds = rounds.filterNot(_._2).map(_._1).toSeq
    if (untracedRounds.nonEmpty) ctx.put("run_s", Stats.median(untracedRounds), "s", traced = false)

    // every ingested batch must be servable: its first vector comes back
    // first from the IVF index it was appended to
    val probeQ = probes.toSeq.zipWithIndex.map { case ((_, v), i) => (QueryBase + 100000L + i, v) }
      .toDF("vec_id", "embedding")
    val top1 = Similarity.ivfTopKFromIndex(spark, ivf, probeQ, 1)
      .filter(col("rank") === 1).select("q_id", "n_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val unservable = probes.zipWithIndex.filterNot { case ((id, _), i) =>
      top1.get(QueryBase + 100000L + i).contains(id) }
    ctx.check("ingested vectors servable")(unservable.isEmpty,
      s"${unservable.size} of ${probes.size} batches not served back: ${unservable.take(3)}")
    // recall@K of the IVF serve against exact cosine over everything the
    // index holds after the run's appends, on a panel of held-out queries
    val panel = queryVecs.indices.take(RecallPanel).map(i => (QueryBase + 200000L + i, queryVecs(i)))
    val served = Similarity.ivfTopKFromIndex(spark, ivf, panel.toDF("vec_id", "embedding"), K, Nprobe)
      .select("q_id", "n_id").collect().groupBy(_.getLong(0))
    val recall = panel.map { case (id, v) =>
      val got = served.getOrElse(id, Array.empty[Row]).map(_.getLong(1)).toSet
      val truth = exactTopK(indexed.toSeq, v, K)
      truth.count(got.contains).toDouble / truth.size
    }.sum / panel.size
    ctx.check(s"knn recall@$K >= $RecallFloor")(recall >= RecallFloor, f"recall $recall%.4f")
    live.query.stop()

    tracer.foreach { tr =>
      val layerOf = Map("page" -> "Retrieval", "knn" -> "Similarity", "ingest" -> "EventStream")
      // latency per request type over the measured requests, traced or not
      for ((kind, layer) <- layerOf) {
        val xs = measured.filter(_.kind == kind).map(_.s * 1e3)
        ctx.layer(s"$layer.${kind}_ms.n", xs.size.toDouble, "count")
        ctx.layer(s"$layer.${kind}_ms.p50", if (xs.isEmpty) 0.0 else Stats.median(xs), "ms")
      }
      ctx.layer("Similarity.knn_recall", recall, "ratio")
      // IVF list files one query reads, over all list files, after the
      // run's appends
      val lists = spark.read.parquet(s"$ivf/lists").inputFiles.length
      val read = Similarity.probedListFiles(spark, ivf,
        Seq((QueryBase, queryVecs(0))).toDF("vec_id", "embedding")).length
      ctx.layer("Similarity.lists_read_frac", read.toDouble / math.max(1, lists), "ratio")

      // requests are the top-level spans, in issue order; the first two
      // are the cold round's, the measured ones follow the warm-up
      val ops = tr.spans.filter(_.parent < 0).sortBy(_.start)
      val costs = ops.zip(Report.costs(tr, ops))
      val (cold, warm) = (costs.take(2), costs.drop(2))
      def of(kind: String) = warm.filter(_._1.name == kind).map(_._2)
      for ((kind, unit) <- Seq("page" -> "page", "knn" -> "knn", "ingest" -> "batch")) {
        val cs = of(kind)
        val layer = layerOf(kind)
        ctx.layer(s"$layer.jobs_per_$unit", if (cs.isEmpty) 0.0 else Stats.median(cs.map(_.jobs.toDouble)), "count")
        ctx.layer(s"$layer.driver_gap_ms_per_$unit",
          if (cs.isEmpty) 0.0 else Stats.median(cs.map(_.driverGapS * 1e3)), "ms")
      }
      // per round: a page, a knn and a third of an ingest
      val cycle = Seq(1.0 -> of("page"), 1.0 -> of("knn"), 1.0 / IngestEvery -> of("ingest"))
      Report.putCold(ctx, cold.map(_._2))
      Report.putModules(ctx, Report.Modules.filterNot(PrepModules.contains), cycle)
      Report.putSpark(ctx, cycle)
      Report.overhead(ctx, measured.filter(_.traced).map(r => r.kind -> r.s),
        measured.filterNot(_.traced).map(r => r.kind -> r.s))
      prepProbe(ctx, spark, tr)
      System.err.println(s"[perfbench] traced jobs by call-site module: ${Report.moduleCensus(tr)}")
      tr.close()
    }
    spark.stop()
  }

  /** Modules only corpus prep runs: measured on the prep probe. */
  val PrepModules: Seq[String] = Seq("CorpusPrepJob", "Corpus", "Dedup", "ShardSink")

  /** The traced run's corpus-prep probe: one `CorpusPrepJob.run` over a
    * small seeded corpus, in the warm session, with its dedup audit and
    * without the index, eval, profile and graph artifacts. Gives the
    * job's phases and the modules only it runs. The audit covers every
    * document: the deployed quarter sample keeps a near-duplicate pair
    * only when both its documents fall in it, about one pair in sixteen,
    * which at this size leaves none to score. */
  def prepProbe(ctx: Ctx, spark: SparkSession, tr: Tracer): Unit = {
    val dir = s"${ctx.work}/prep_in"
    Gen.writeCorpus(spark, dir, Gen.documents(ctx.seed + 3, PrepDocs),
      Gen.vectors(ctx.seed + 3, PrepDocs).zipWithIndex.map { case ((v, l), i) => (i.toLong, v, l) })
    Setup.timedOp(ctx, Some(tr), traced = true, "CorpusPrepJob.run") {
      CorpusPrepJob.run(spark, dir, s"${ctx.work}/prep_out", nShards = 4, auditFrac = 1.0)
    }.foreach { case (s, r) =>
      val counts = r.ledger.map(_._2)
      ctx.check("corpus prep counts")(r.docsIn == PrepDocs &&
        counts.zip(counts.drop(1)).forall { case (a, b) => a >= b } &&
        r.shards.rows == r.cleanDocs && r.manifestRows == r.cleanDocs,
        s"docs_in=${r.docsIn} ledger=${r.ledger} shard_rows=${r.shards.rows} manifest=${r.manifestRows}")
      System.err.println(f"[perfbench] corpus prep $s%.3f s: funnel ${r.funnelSec}%.3f, " +
        f"shard ${r.shardSec}%.3f, manifest ${r.manifestSec}%.3f, audit ${r.auditSec}%.3f ${r.audit}")
      ctx.layer("CorpusPrepJob.funnel_s", r.funnelSec, "s")
      ctx.layer("CorpusPrepJob.shard_s", r.shardSec, "s")
      ctx.layer("CorpusPrepJob.manifest_s", r.manifestSec, "s")
      ctx.layer("CorpusPrepJob.audit_s", r.auditSec, "s")
      ctx.layer("CorpusPrepJob.clean_frac", r.cleanDocs.toDouble / math.max(1L, r.docsIn), "ratio")
      ctx.layer("CorpusPrepJob.audit_f1", r.audit.map(_._6).getOrElse(0.0), "ratio")
      val prep = tr.spans.filter(s => s.parent < 0 && s.name == "CorpusPrepJob.run")
      Report.putModules(ctx, PrepModules, Seq(1.0 -> Report.costs(tr, prep)))
    }
  }

  /** Ids of the k stored vectors of highest cosine with `q`. */
  def exactTopK(vecs: Seq[(Long, Array[Float])], q: Array[Float], k: Int): Seq[Long] = {
    def dot(a: Array[Float], b: Array[Float]) = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i); i += 1 }
      s
    }
    val qn = math.sqrt(dot(q, q))
    vecs.map { case (id, v) => (id, dot(q, v) / (qn * math.sqrt(dot(v, v)))) }
      .sortBy(x => (-x._2, x._1)).take(k).map(_._1)
  }
}
