package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SQLExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

import graft.functions.VectorFunctions.{cosineFromParts, dot}
import graft.operators.{Par, Retrieval, Similarity, TextAnalysis}

/** The IVF serves' driver-resident metadata: the probe runs on the
  * driver against a cached per-path handle (centroids, lists schema,
  * label meta) that a rebuild invalidates — results must be exactly
  * what the Spark-side probe and a freshly read index give, and a warm
  * serve must schedule only the query's own jobs. */
class IndexServeSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private def emb = Tables.embeddings(spark, sfDir)
    .filter(expr("aggregate(embedding, 0D, (a, x) -> a + x*x) > 0"))

  private def tmp(name: String) =
    java.nio.file.Files.createTempDirectory(name).toString

  private def sorted(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.orderBy("q_id", "rank").collect().toSeq.map(_.toSeq)

  /** The IVF serve as a broadcast join of the probe list and a
    * `row_number` window per q_id: the spelling `ivfTopKFromIndex`
    * replaced, kept as the reference its rows must equal. */
  private def windowTopK(path: String, queries: DataFrame, k: Int, nprobe: Int,
                         selfExclude: Boolean,
                         excludeIngestBatch: Option[Long]): DataFrame = {
    val cents = spark.read.parquet(s"$path/centroids").orderBy("c_id")
      .select("c_v").as[Seq[Double]].collect().map(_.toArray)
    val probes = Similarity.queryProbes(queries, cents, nprobe)
    val lists = Similarity.probeAndPrune(spark, path, queries, nprobe,
      excludeIngestBatch)._2.filter(col("n2") > 0)
    val wRank = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
    lists.as("c").join(broadcast(probes), Seq("c_id"))
      .filter(if (selfExclude) col("q_id") =!= col("vec_id") else lit(true))
      .select(col("q_id"), col("vec_id"),
        round(cosineFromParts(dot(col("q_v"), col("c.v")), col("q_n2"), col("c.n2")), 6)
          .as("cos_sim"))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("vec_id").as("n_id"), col("cos_sim"), col("rank"))
  }

  /** A serve's rows with cos_sim as its raw bits, in a fixed order,
    * and its column types. */
  private def rawRows(df: DataFrame): (Seq[org.apache.spark.sql.types.DataType],
                                       Seq[(String, String, Long, Int)]) =
    (df.schema.map(_.dataType), df.collect().toSeq.map(r => (String.valueOf(r.get(0)),
        String.valueOf(r.get(1)), java.lang.Double.doubleToRawLongBits(r.getDouble(2)),
        r.getInt(3))).sorted)

  test("driver probe ≡ probeList: random queries, tied centroids, zero-norm query excluded") {
    val rnd = new scala.util.Random(7)
    val dim = 6
    def unit(i: Int) = Array.tabulate(dim)(j => if (j == i) 1.0 else 0.0)
    val randomCents = Array.fill(6)(Array.fill(dim)(rnd.nextGaussian()))
    // rows 0/1 identical (every query ties them), and three axis
    // centroids that a query on the remaining axes scores 0 against
    val cents = Array(randomCents(0), randomCents(0).clone()) ++
      randomCents.drop(1) ++ Array(unit(0), unit(1), unit(2))
    val zeroId = 999L
    val qs = (0 until 40).map(i =>
        (i.toLong, Array.fill(dim)(rnd.nextGaussian().toFloat))) ++
      Seq((100L, Array(0f, 0f, 0f, 1f, 0f, 0f)), // ties the axis centroids at 0
        (zeroId, Array.fill(dim)(0f)))
    val q = qs.toDF("vec_id", "embedding")
    val withZero = Similarity.probeList(Similarity.preparedQueries(q), lit(true),
      cents, 3)
    assert(withZero.filter(col("q_id") === zeroId).count() === 3L,
      "the Spark-side probe list alone keeps the zero-norm query")
    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "q_v", "q_n2", "c_id").collect().toSeq
        .map(r => (r.getLong(0), r.getSeq[Double](1), r.getDouble(2), r.getInt(3)))
        .sortBy(r => (r._1, r._4))
    for (n <- Seq(1, 2, 3, cents.length, cents.length + 2)) {
      val spark0 = rowsOf(Similarity.probeList(
        Similarity.preparedQueries(q).filter(col("n2") > 0), lit(true), cents, n))
      val driver = rowsOf(Similarity.queryProbes(q, cents, n))
      assert(driver === spark0, s"nprobe=$n")
      assert(!driver.exists(_._1 == zeroId))
      assert(driver.size === 41 * math.min(n, cents.length))
    }
    assert(Similarity.queryProbes(q, Array.empty, 3).count() === 0L)

    // probedListFiles measures exactly the probed lists' files
    val path = tmp("graft_idx_probe")
    Similarity.writeIvfIndex(emb, path, nlist = 16, trainIters = 3)
    val stored = spark.read.parquet(s"$path/centroids").orderBy("c_id")
      .select("c_v").as[Seq[Double]].collect().map(_.toArray)
    val real = emb.filter(col("vec_id") % 40 === 0).select("vec_id", "embedding")
      .union(Seq((zeroId, Array.fill(64)(0f))).toDF("vec_id", "embedding"))
    val probed = Similarity.probeList(
        Similarity.preparedQueries(real).filter(col("n2") > 0), lit(true), stored, 2)
      .select("c_id").distinct().as[Int].collect().toSet
    val fs = new Path(path).getFileSystem(spark.sessionState.newHadoopConf())
    def listed(dir: Path): Seq[String] = fs.listStatus(dir).toSeq.flatMap(st =>
      if (st.isDirectory) listed(st.getPath)
      else if (st.getPath.getName.endsWith(".parquet")) Seq(st.getPath.toUri.getPath)
      else Nil)
    val expected = probed.toSeq.flatMap(c => listed(new Path(s"$path/lists/c_id=$c")))
    val measured = Similarity.probedListFiles(spark, path, real, nprobe = 2)
      .map(f => new Path(f).toUri.getPath)
    assert(probed.size < 16 && expected.nonEmpty)
    assert(measured.toSet === expected.toSet)
  }

  test("handle invalidation: rebuilds, appends, crashed appends and concurrent serves") {
    val path = tmp("graft_idx_handle")
    val queries = emb.filter(col("vec_id") % 50 === 0).select("vec_id", "embedding", "label")
    val unlabeled = queries.select("vec_id", "embedding")
    def serve(p: String, n: Int = 4) =
      sorted(Similarity.ivfTopKFromIndex(spark, p, unlabeled, 5, nprobe = n))
    Similarity.writeIvfIndex(emb.filter(col("vec_id") < 300), path, nlist = 8,
      trainIters = 3)
    val base = serve(path)
    // an append after a cached serve is visible to the next serve
    val twins = queries.filter(col("vec_id") < 300)
      .withColumn("vec_id", col("vec_id") + lit(1000000L))
    Similarity.appendToIvfIndex(twins, path, ingestBatch = 0L)
    val twinTops = serve(path, n = 1)
      .filter(r => r(3) == 1 && r(0).asInstanceOf[Long] < 300L)
    assert(twinTops.nonEmpty && twinTops.forall(r =>
      r(1) == r(0).asInstanceOf[Long] + 1000000L && r(2) == 1.0))
    assert(serve(path) != base)
    // a crashed append (no commit record) stays invisible
    val before = serve(path)
    Similarity.appendToIvfIndex(emb.filter(col("vec_id") >= 300), path,
      ingestBatch = 1L)
    val fs = new Path(path).getFileSystem(spark.sessionState.newHadoopConf())
    require(fs.delete(new Path(s"$path/commits/ingest_batch=1"), true))
    assert(serve(path) === before)

    // rebuild at the SAME path: another corpus, another nlist, the
    // label-bucket layout — the next serves equal a never-cached path
    val rebuilt = emb.filter(col("vec_id") >= 100)
    Similarity.writeIvfIndex(rebuilt, path, nlist = 16, trainIters = 3,
      labelBuckets = 4)
    val fresh = tmp("graft_idx_fresh")
    Similarity.writeIvfIndex(rebuilt, fresh, nlist = 16, trainIters = 3,
      labelBuckets = 4)
    assert(serve(path) === serve(fresh))
    val filtered = sorted(Similarity.filteredTopKFromIndex(spark, path, queries, 5,
      nprobe = 1))
    assert(filtered.nonEmpty && filtered === sorted(
      Similarity.filteredTopKFromIndex(spark, fresh, queries, 5, nprobe = 1)))
    assert(Similarity.readIndexVectors(spark, path).count() === rebuilt.count())

    // back to the label-free layout, then two serves racing on the
    // reload from Par threads
    Similarity.writeIvfIndex(emb, path, nlist = 8, trainIters = 3)
    Similarity.writeIvfIndex(emb, fresh, nlist = 8, trainIters = 3)
    val pair = Par.run(Seq(() => serve(path), () => serve(path)))
    assert(pair(0) === pair(1) && pair(0) === serve(fresh))
  }

  test("IVF serve ≡ the broadcast-join + window serve: random, duplicate-id and int-id queries, appends, orphans") {
    val rnd = new scala.util.Random(11)
    def gauss() = Array.fill(64)(rnd.nextGaussian().toFloat)
    val corpus = emb.select("vec_id", "embedding", "label")
    // in-corpus queries (their own vectors, so self ranks first unless
    // excluded), 40 random ones, one id with two different vectors, a
    // zero vector
    val members = corpus.filter(col("vec_id") % 37 === 0).select("vec_id", "embedding")
      .as[(Long, Array[Float])]
      .collect().toSeq
    val qs = members ++ (0 until 40).map(i => (i.toLong * 3, gauss())) ++
      Seq((777L, gauss()), (777L, gauss()), (778L, Array.fill(64)(0f)))
    val longQ = qs.toDF("vec_id", "embedding")
    val intQ = longQ.withColumn("vec_id", col("vec_id").cast("int"))
    def check(path: String, label: String): Unit =
      for ((q, qn) <- Seq(longQ -> "long ids", intQ -> "int ids");
           self <- Seq(true, false); (k, nprobe) <- Seq((5, 2), (3, 16));
           excl <- Seq(None, Some(0L))) {
        val served = Similarity.ivfTopKFromIndex(spark, path, q, k, nprobe,
          selfExclude = self, excludeIngestBatch = excl)
        val ref = windowTopK(path, q, k, nprobe, self, excl)
        val (got, want) = (rawRows(served), rawRows(ref))
        val what = s"$label, $qn, selfExclude=$self, k=$k, nprobe=$nprobe, exclude=$excl"
        assert(want._2.nonEmpty, what)
        assert(got === want, what)
      }
    val path = tmp("graft_idx_equiv")
    Similarity.writeIvfIndex(corpus.filter(col("vec_id") < 400), path, nlist = 8,
      trainIters = 3)
    check(path, "base index")
    // an appended batch: twins of the members under fresh ids, and one
    // member's own id again (a vec_id the base already holds)
    val twins = corpus.filter(col("vec_id") % 37 === 0)
      .withColumn("vec_id", col("vec_id") + lit(100000L))
      .union(corpus.filter(col("vec_id") === 37))
    Similarity.appendToIvfIndex(twins, path, ingestBatch = 0L)
    check(path, "appended batch")
    // a crash-orphaned batch (no commit record) must stay invisible
    Similarity.appendToIvfIndex(corpus.filter(col("vec_id") >= 400), path,
      ingestBatch = 1L)
    val fs = new Path(path).getFileSystem(spark.sessionState.newHadoopConf())
    require(fs.delete(new Path(s"$path/commits/ingest_batch=1"), true))
    check(path, "orphaned batch")
    // an index whose vec_id column is int-typed
    val intPath = tmp("graft_idx_equiv_int")
    Similarity.writeIvfIndex(corpus.withColumn("vec_id", col("vec_id").cast("int")),
      intPath, nlist = 8, trainIters = 3)
    check(intPath, "int-typed index")
    assert(Similarity.ivfTopKFromIndex(spark, path,
      qs.take(0).toDF("vec_id", "embedding"), 5).count() === 0L)
  }

  test("warm serves schedule only their own jobs: pinned counts, no parquet schema inference") {
    val path = tmp("graft_idx_jobs")
    Retrieval.buildArtifacts(Tables.documents(spark, sfDir), Tables.embeddings(spark, sfDir),
      "idx_jobs_bm25", path, nlist = 8)
    val q4 = emb.filter(col("vec_id") % 50 === 0).select("vec_id", "embedding")
      .limit(4).collect().toSeq
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val counters = new BenchCounters(spark.sparkContext)
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]
    val planListener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             ns: Long): Unit = plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             e: Exception): Unit = plans.add(qe.executedPlan)
    }
    // the session's plan listeners hear an execution's end on the
    // shared listener queue ahead of any listener added after them, so
    // once the listener below has seen an execution end, its plan is
    // in `plans`
    spark.listenerManager.register(planListener)
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[String]
    // each job's SQL execution id ("" for a job outside one), and the
    // executions that have ended
    val jobExecs = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val ended = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        e.stageInfos.foreach(s => stages.add(s.name))
        jobExecs.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY))).getOrElse(""))
      }
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        e match {
          case end: SparkListenerSQLExecutionEnd => ended.add(end.executionId.toString)
          case _ =>
        }
    })
    // (jobs, stage names, executed plans) of a warm run of `f`
    def counted(name: String)(f: => Unit): (Long, Seq[String], Seq[SparkPlan]) = {
      f // warm-up: handle load, codegen
      counters.record(s"$name-0")(())
      Seq(stages, plans, jobExecs, ended).foreach(_.clear())
      counters.record(name)(f)
      val jobs = counters.all(name).jobs
      // an execution ends after its last job: wait for the end of
      // every execution that ran a job, so each job's plan is in
      val deadline = System.nanoTime() + 10000000000L
      while (!ended.containsAll(jobExecs) && System.nanoTime() < deadline) Thread.sleep(20)
      assert(!jobExecs.contains(""), s"a warm $name job ran outside a SQL execution")
      assert(ended.containsAll(jobExecs),
        s"warm $name: no end seen for executions ${jobExecs.asScala.toSeq.diff(ended.asScala.toSeq)}")
      assert(plans.size >= jobExecs.size,
        s"warm $name: ${plans.size} plans for ${jobExecs.size} executions with jobs")
      (jobs, stages.toArray(Array.empty[String]).toSeq,
        plans.toArray(Array.empty[SparkPlan]).toSeq)
    }
    val (knnJobs, knnStages, knnPlans) = counted("knn") {
      Similarity.ivfTopKFromIndex(spark, s"$path/ivf",
        q4.toDF("vec_id", "embedding"), 5, nprobe = 1).collect(): Unit
    }
    val (pageJobs, pageStages, pagePlans) = counted("page") {
      Retrieval.serveFromIndex(spark, "idx_jobs_bm25", path,
        q4.take(1).toDF("vec_id", "embedding"),
        Retrieval.ServeConfig(Seq("spark", "window", "merge"))).collect(): Unit
    }
    spark.listenerManager.unregister(planListener)
    info(s"warm knn: $knnJobs jobs, warm page: $pageJobs jobs")
    // a warm knn is its list scan; a warm page its lexical stats and
    // scoring, the semantic scan and the MMR vector read: no query
    // stage, so no room for AQE stage-submission races
    assert(knnJobs === 1L, s"warm knn ran $knnJobs jobs: $knnStages")
    assert(pageJobs === 4L, s"warm page ran $pageJobs jobs: $pageStages")
    for ((what, ps) <- Seq("knn" -> knnPlans, "page" -> pagePlans))
      ps.foreach(plan => assert(collect(plan) { case e: Exchange => e }.isEmpty,
        s"an exchange in the warm $what:\n$plan"))
    // the knn's list scan reads only the probed c_id= directories: the
    // lists the probedListFiles audit reads, fewer than nlist (4
    // queries probing 1 list each read at most 4 of the 8)
    val cId = """/lists/c_id=(\d+)""".r.unanchored
    def cIds(paths: Seq[String]) = paths.collect { case cId(c) => c.toInt }.toSet
    val knnRoots = knnPlans.flatMap(collect(_) { case s: FileSourceScanExec => s })
      .flatMap(_.relation.location.rootPaths.map(_.toString))
    assert(knnRoots.nonEmpty && knnRoots.forall(_.matches(".*/lists/c_id=\\d+")),
      s"warm knn scans other than the lists' c_id= directories: $knnRoots")
    val audited = cIds(Similarity.probedListFiles(spark, s"$path/ivf",
      q4.toDF("vec_id", "embedding"), nprobe = 1).toSeq)
    assert(cIds(knnRoots) === audited && audited.size < 8,
      s"warm knn read lists ${cIds(knnRoots)}; the audit read $audited")
    val inference = (knnStages ++ pageStages).filter(_.startsWith("parquet at"))
    assert(inference.isEmpty, s"schema-inference jobs on a warm serve: $inference")
    Seq("_df", "_meta", "_post").foreach(sfx =>
      spark.sql(s"DROP TABLE IF EXISTS idx_jobs_bm25$sfx"))
  }

  test("warm page and knn compile no code: fresh query ids, vectors and terms") {
    val path = tmp("graft_idx_codegen")
    val table = "idx_codegen_bm25"
    val docs = Tables.documents(spark, sfDir)
    val all = Tables.embeddings(spark, sfDir)
    Retrieval.buildArtifacts(docs.filter(col("doc_id") % 4 =!= 0),
      all.filter(col("vec_id") % 4 =!= 0), table, path, nlist = 8)
    // one appended batch, so both legs also read delta segments
    TextAnalysis.appendToBm25Index(docs.filter(col("doc_id") % 4 === 0)
      .select("doc_id", "text"), table, ingestBatch = 0L)
    Similarity.appendToIvfIndex(all.filter(col("vec_id") % 4 === 0)
      .select("vec_id", "embedding"), s"$path/ivf", ingestBatch = 0L)
    val vecs = emb.select("embedding").limit(40).collect().map(_.getSeq[Float](0).toArray)
    // corpus words, three per page: a term count is a plan shape of its
    // own (one comparison per term), and a term the corpus lacks empties
    // the lexical leg, which AQE re-plans — both compile once per shape
    val words = Seq("scan", "column", "window", "order", "sort", "part", "agg",
      "value", "line", "key", "join", "merge", "group", "query", "vector",
      "hash", "slow", "stream", "filter", "fast", "batch", "spark", "table",
      "small", "data", "big", "customer", "row")
    var next = 0
    def fresh(): Int = { next += 1; next }
    def compiled(f: => Unit): Long = {
      val c0 = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      f
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
    }
    def page(): Long = {
      val i = fresh()
      val terms = Seq.tabulate(3)(j => words((3 * i + j) % words.size))
      val q = Seq((9000000L + i, vecs(i))).toDF("vec_id", "embedding")
      compiled(Retrieval.serveFromIndex(spark, table, path, q,
        Retrieval.ServeConfig(terms)).collect(): Unit)
    }
    def knn(): Long = {
      val q = Seq.fill(4) { val i = fresh(); (9000000L + i, vecs(i)) }
        .toDF("vec_id", "embedding")
      compiled(Similarity.ivfTopKFromIndex(spark, s"$path/ivf", q, 5, nprobe = 4)
        .collect(): Unit)
    }
    page(); knn() // warm-up: the shapes compile once
    val counts = Seq.fill(3)((page(), knn()))
    info(s"classes compiled per warm (page, knn): $counts")
    assert(counts.forall(_ == ((0L, 0L))), s"warm serves compiled classes: $counts")
    Seq("_df", "_meta", "_post").foreach(sfx =>
      spark.sql(s"DROP TABLE IF EXISTS $table$sfx"))
  }
}
