package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.operators.{Par, Retrieval, Similarity, TextAnalysis}

/** The IVF serves' driver-resident metadata: the probe runs on the
  * driver against a cached per-path handle (centroids, lists schema,
  * label meta) that a rebuild invalidates — results must be exactly
  * what the Spark-side probe and a freshly read index give, and a warm
  * serve must schedule only the query's own jobs. */
class IndexServeSpec extends SparkSpec {
  import spark.implicits._

  private def emb = Tables.embeddings(spark, sfDir)
    .filter(expr("aggregate(embedding, 0D, (a, x) -> a + x*x) > 0"))

  private def tmp(name: String) =
    java.nio.file.Files.createTempDirectory(name).toString

  private def sorted(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.orderBy("q_id", "rank").collect().toSeq.map(_.toSeq)

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

  test("warm serves schedule only their own jobs: pinned counts, no parquet schema inference") {
    val path = tmp("graft_idx_jobs")
    Retrieval.buildArtifacts(Tables.documents(spark, sfDir), Tables.embeddings(spark, sfDir),
      "idx_jobs_bm25", path, nlist = 8)
    val q4 = emb.filter(col("vec_id") % 50 === 0).select("vec_id", "embedding")
      .limit(4).collect().toSeq
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val counters = new BenchCounters(spark.sparkContext)
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[String]
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        e.stageInfos.foreach(s => stages.add(s.name))
    })
    def counted(name: String)(f: => Unit): (Long, Seq[String]) = {
      f // warm-up: handle load, codegen
      counters.record(s"$name-0")(())
      stages.clear()
      counters.record(name)(f)
      (counters.all(name).jobs, stages.toArray(Array.empty[String]).toSeq)
    }
    val (knnJobs, knnStages) = counted("knn") {
      Similarity.ivfTopKFromIndex(spark, s"$path/ivf",
        q4.toDF("vec_id", "embedding"), 5, nprobe = 4).collect(): Unit
    }
    val (pageJobs, pageStages) = counted("page") {
      Retrieval.serveFromIndex(spark, "idx_jobs_bm25", path,
        q4.take(1).toDF("vec_id", "embedding"),
        Retrieval.ServeConfig(Seq("spark", "window", "merge"))).collect(): Unit
    }
    info(s"warm knn: $knnJobs jobs, warm page: $pageJobs jobs")
    // ±2: the BenchCountersSpec band for AQE stage-submission races
    assert(math.abs(knnJobs - 3) <= 2, s"warm knn ran $knnJobs jobs: $knnStages")
    assert(math.abs(pageJobs - 7) <= 2, s"warm page ran $pageJobs jobs: $pageStages")
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
