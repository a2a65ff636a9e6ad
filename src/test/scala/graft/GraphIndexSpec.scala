package graft

import org.apache.spark.sql.functions._
import graft.operators.Similarity

/** E14 durable graph-serve index (r14, closes r13 VERDICT #1): the
  * landed serve ≡ the in-memory beam search, the per-hop read is
  * plan-proved O(frontier·deg) (partition-pruned, never a corpus
  * probe), and the append/commit/compaction discipline matches the
  * IVF/BM25 artifacts.
  */
class GraphIndexSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(): String =
    java.nio.file.Files.createTempDirectory("graft_gidx_spec").toString

  /** Deterministic PSEUDO-RANDOM synthetic corpus (hash-mixed dims,
    * not a smooth curve: a smooth fixture builds a chain-shaped k-NN
    * graph where removing one vertex — the beam search never expands
    * THROUGH the query itself — disconnects its best neighbors, and
    * the exhaustive-≡-brute-force argument below needs the graph to
    * survive single-vertex removal). Deterministic, so reruns are
    * bit-identical. */
  private def mix64(x0: Long): Long = {
    // splitmix64 — a real mixer: an LCG-style product-mod fixture
    // leaves lattice structure that disconnects the k-NN graph
    var z = x0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def synth(n: Int, dim: Int = 8): org.apache.spark.sql.DataFrame =
    (0 until n).map { i =>
      (i.toLong,
        Array.tabulate(dim) { j =>
          (java.lang.Math.floorMod(mix64(i * 31L + j), 4096L) / 4096.0f
            - 0.5f)
        },
        "c")
    }.toDF("vec_id", "embedding", "label")

  test("E14b serve-from-index ≡ in-memory graphTopK on the same graph (real corpus)") {
    val emb = Tables.embeddings(spark, sfDir)
    val g = Similarity.knnGraphAnn(emb, 5)
    val inMem = Similarity.graphTopK(emb, g, SparkEntry.annIsQuery, 5)
      .orderBy("q_id", "rank").collect().toSeq.map(_.toSeq)
    val path = freshDir()
    Similarity.writeGraphIndex(emb, path, k = 5, graph = Some(g))
    val served = Similarity.graphTopKFromIndex(spark, path,
        emb.filter(SparkEntry.annIsQuery).select("vec_id", "embedding"), 5)
      .orderBy("q_id", "rank").collect().toSeq.map(_.toSeq)
    assert(served === inMem && served.nonEmpty)
  }

  test("hop scan is pruned: O(frontier·deg) rows, partition filter on pb, fewer files than the index holds") {
    val emb = Tables.embeddings(spark, sfDir)
    val path = freshDir()
    Similarity.writeGraphIndex(emb, path, k = 5)
    val adj = spark.read.parquet(s"$path/adj")
    val nodes = adj.select(col("src")).distinct()
      .orderBy("src").limit(3).as[Long].collect().toSeq
    val scan = Similarity.graphPointScan(spark, path, "adj", "src", "pb",
      64, nodes, None)
    // exactly the frontier nodes' adjacency rows — the O(frontier·deg)
    // claim, counted
    val want = adj.filter(col("src").isin(nodes: _*)).count()
    assert(scan.count() === want && want > 0)
    // the filter reaches the scan as a PARTITION filter on pb (the
    // foldable-literal prune), not a post-scan residual only
    val plan = scan.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("pb"),
      s"pb partition filter missing from plan:\n$plan")
    // and the scan READS strictly fewer files than the index holds
    val read = scan.select(input_file_name()).distinct().count()
    assert(read < adj.inputFiles.length,
      s"pruned scan read $read of ${adj.inputFiles.length} adj files")
    // the empty frontier reads nothing (and plans no scan error)
    assert(Similarity.graphPointScan(spark, path, "adj", "src", "pb",
      64, Nil, None).count() === 0L)
  }

  test("append ≡ rebuild ≡ brute force at exhaustive config; commit gating; replay idempotence") {
    val all = synth(48)
    val base = all.filter(col("vec_id") < 40)
    val batch = all.filter(col("vec_id") >= 40)
    val path = freshDir()
    Similarity.writeGraphIndex(base, path, k = 6)
    Similarity.appendToGraphIndex(batch, path, ingestBatch = 7L)
    val isQ = col("vec_id") % 9 === 0
    val queries = all.filter(isQ).select("vec_id", "embedding")
    def serveEx(p: String) = Similarity.graphTopKFromIndex(spark, p,
        queries, 6, beam = 64, hops = 16)
      .orderBy("q_id", "rank").collect().toSeq.map(_.toSeq)
    val appended = serveEx(path)
    // exhaustive config (beam ≥ n, hops ≥ diameter) over a connected
    // graph reaches every node, so the appended index must agree with
    // exact brute force over the UNION corpus…
    val brute = Similarity.bruteForceTopK(all, isQ, 6)
      .select(col("q_id"), col("n_id"), col("cos_sim"),
        col("rank").cast("bigint").as("rank")) // int window rank vs E14's long
      .orderBy("q_id", "rank").collect().toSeq.map(_.toSeq)
    assert(appended === brute && appended.nonEmpty)
    // …and with a full rebuild over the union
    val rebuilt = freshDir()
    Similarity.writeGraphIndex(all, rebuilt, k = 6)
    assert(serveEx(rebuilt) === appended)
    // REPLAY idempotence: re-landing the same ingest batch replaces
    // its partitions — the serve is bit-identical, never doubled
    Similarity.appendToGraphIndex(batch, path, ingestBatch = 7L)
    assert(serveEx(path) === appended)
    // COMMIT gating: with the batch's marker gone (the crash-before-
    // commit state) the batch is invisible — the serve answers from
    // base alone, not from half-landed files
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val marker = new org.apache.hadoop.fs.Path(s"$path/commits/ingest_batch=7")
    assert(fs.delete(marker, false))
    val baseOnlyIdx = freshDir()
    Similarity.writeGraphIndex(base, baseOnlyIdx, k = 6)
    val baseQ = base.filter(isQ).select("vec_id", "embedding")
    def serveBase(p: String) = Similarity.graphTopKFromIndex(spark, p,
        baseQ, 6, beam = 64, hops = 16)
      .orderBy("q_id", "rank").collect().toSeq.map(_.toSeq)
    assert(serveBase(path) === serveBase(baseOnlyIdx))
    // restore the marker: the full index serves the union again
    fs.create(marker, true).close()
    assert(serveEx(path) === appended)
  }

  test("compaction folds committed batches into base; serve unchanged; ledger resets; -1 append refused") {
    val all = synth(48)
    val path = freshDir()
    Similarity.writeGraphIndex(all.filter(col("vec_id") < 40), path, k = 6)
    Similarity.appendToGraphIndex(all.filter(col("vec_id") >= 40), path,
      ingestBatch = 3L)
    val isQ = col("vec_id") % 9 === 0
    val queries = all.filter(isQ).select("vec_id", "embedding")
    def serve() = Similarity.graphTopKFromIndex(spark, path, queries, 6,
        beam = 64, hops = 16)
      .orderBy("q_id", "rank").collect().toSeq.map(_.toSeq)
    val before = serve()
    Similarity.compactGraphIndex(spark, path)
    assert(serve() === before)
    // every row folded into the base partition, both dirs
    for (d <- Seq("adj", "vec"))
      assert(spark.read.parquet(s"$path/$d")
        .select(col("ingest_batch").cast("long")).distinct()
        .as[Long].collect().toSeq === Seq(-1L))
    // ledger reset to EMPTY (ledgered, no batch markers)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val commits = new org.apache.hadoop.fs.Path(s"$path/commits")
    assert(fs.exists(commits) && fs.listStatus(commits).isEmpty)
    // appends keep working after compaction (fresh batch id), and the
    // base id stays refused
    intercept[IllegalArgumentException](
      Similarity.appendToGraphIndex(all.limit(1), path, ingestBatch = -1L))
    Similarity.appendToGraphIndex(synth(50).filter(col("vec_id") >= 48),
      path, ingestBatch = 4L)
    assert(serve().nonEmpty)
  }

  test("streaming graph ingest: arrivals attach per micro-batch (label-less contract), exhaustive serve ≡ brute force") {
    val all = synth(48)
    val path = freshDir()
    Similarity.writeGraphIndex(all.filter(col("vec_id") < 40), path, k = 6)
    implicit val sqlCtx = spark.sqlContext
    val stream = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Array[Float])]
    val rows = all.filter(col("vec_id") >= 40)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect()
    val got = scala.collection.mutable.Map[Long, Long]()
    val writer = graft.streaming.EventStream.streamingGraphIngest(
      stream.toDS().toDF("vec_id", "embedding"), path, 6,
      (id, page) => got(id) = page.count())
    val q = writer.start()
    try {
      stream.addData(rows.take(4).toSeq)
      q.processAllAvailable()
      stream.addData(rows.drop(4).toSeq)
      q.processAllAvailable()
    } finally q.stop()
    // every batch saw a pre-attach page from the index it joined
    assert(got.keySet === Set(0L, 1L) && got.values.forall(_ > 0L))
    // the landed index now holds the union: exhaustive serve agrees
    // with brute force over all 48 vectors (connected robust fixture)
    val isQ = col("vec_id") % 9 === 0
    val served = Similarity.graphTopKFromIndex(spark, path,
        all.filter(isQ).select("vec_id", "embedding"), 6,
        beam = 64, hops = 16)
      .orderBy("q_id", "rank").collect().toSeq.map(_.toSeq)
    val brute = Similarity.bruteForceTopK(all, isQ, 6)
      .select(col("q_id"), col("n_id"), col("cos_sim"),
        col("rank").cast("bigint").as("rank"))
      .orderBy("q_id", "rank").collect().toSeq.map(_.toSeq)
    assert(served === brute)
  }

  test("legacy-ledger adoption reads the graph layout; a wide-k index stays appendable (r14 review)") {
    val all = synth(48)
    val path = freshDir()
    Similarity.writeGraphIndex(all.filter(col("vec_id") < 40), path, k = 6)
    Similarity.appendToGraphIndex(
      all.filter(col("vec_id") >= 40 && col("vec_id") < 44), path,
      ingestBatch = 1L)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // the ledger vanishes (operator mishap / pre-ledger legacy state):
    // the next append must adopt from adj/ — the graph layout, not
    // the IVF `lists/` path — so batch 1 stays serve-visible
    assert(fs.delete(new org.apache.hadoop.fs.Path(s"$path/commits"), true))
    Similarity.appendToGraphIndex(all.filter(col("vec_id") >= 44), path,
      ingestBatch = 2L)
    val isQ = col("vec_id") % 9 === 0
    val served = Similarity.graphTopKFromIndex(spark, path,
        all.filter(isQ).select("vec_id", "embedding"), 6,
        beam = 64, hops = 16)
      .orderBy("q_id", "rank").collect().toSeq.map(_.toSeq)
    val brute = Similarity.bruteForceTopK(all, isQ, 6)
      .select(col("q_id"), col("n_id"), col("cos_sim"),
        col("rank").cast("bigint").as("rank"))
      .orderBy("q_id", "rank").collect().toSeq.map(_.toSeq)
    assert(served === brute)
    // an index whose graph k exceeds the default serve beam widens
    // instead of refusing (append would otherwise be impossible)
    val wide = freshDir()
    Similarity.writeGraphIndex(all.filter(col("vec_id") < 44), wide, k = 33)
    Similarity.appendToGraphIndex(all.filter(col("vec_id") >= 44), wide,
      ingestBatch = 1L)
    assert(Similarity.graphTopKFromIndex(spark, wide,
      all.filter(isQ).select("vec_id", "embedding"), 5,
      beam = 64, hops = 4).count() > 0L)
  }

  test("paged serve ≡ one-page serve: paging is pure admission control") {
    val emb = Tables.embeddings(spark, sfDir)
    val path = freshDir()
    Similarity.writeGraphIndex(emb, path, k = 5)
    val qs = emb.filter(SparkEntry.annIsQuery).select("vec_id", "embedding")
    val one = Similarity.graphTopKFromIndex(spark, path, qs, 5)
      .orderBy("q_id", "rank").collect().toSeq.map(_.toSeq)
    // tiny pages force a real multi-page split; per-query beam state
    // is page-independent, so the union must be row-identical
    val paged = Similarity.graphTopKFromIndexPaged(spark, path, qs, 5,
        pageSize = 4)
      .orderBy("q_id", "rank").collect().toSeq.map(_.toSeq)
    assert(paged === one && paged.nonEmpty)
    // the batch-scoring refusal: a query set past maxPages × pageSize
    // is not an online page stream
    val e = intercept[IllegalArgumentException](
      Similarity.graphTopKFromIndexPaged(spark, path, emb
        .select("vec_id", "embedding"), 5, pageSize = 1, maxPages = 2))
    assert(e.getMessage.contains("batch-score"))
  }

  test("beam state ceiling is incremental: a hop cannot collect past the remaining budget") {
    val emb = Tables.embeddings(spark, sfDir)
    val path = freshDir()
    Similarity.writeGraphIndex(emb, path, k = 5)
    val e = intercept[IllegalArgumentException] {
      Similarity.graphTopKFromIndex(spark, path,
        emb.filter(SparkEntry.annIsQuery).select("vec_id", "embedding"),
        5, stateCeiling = 8L)
    }
    assert(e.getMessage.contains("beam state would exceed"))
  }

  test("paged admission is the 2x-slack page budget: the split never exceeds maxPages, results identical (r15 review, both passes)") {
    val emb = Tables.embeddings(spark, sfDir)
    val path = freshDir()
    Similarity.writeGraphIndex(emb, path, k = 5)
    val qs = emb.filter(SparkEntry.annIsQuery).select("vec_id", "embedding")
    val n = qs.count()
    assert(n > 2)
    val one = Similarity.graphTopKFromIndex(spark, path, qs, 5)
      .orderBy("q_id", "rank").collect().toSeq.map(_.toSeq)
    // tightest admissible budget: maxPages · pageSize/2 == n exactly
    // (pageSize=2 → one-query target pages, maxPages=n) — the split
    // runs AT the page budget with the full skew headroom intact and
    // stays row-identical
    val tight = Similarity.graphTopKFromIndexPaged(spark, path, qs, 5,
        pageSize = 2, maxPages = n.toInt)
      .orderBy("q_id", "rank").collect().toSeq.map(_.toSeq)
    assert(tight === one && tight.nonEmpty)
    // one query past the budget is an ADMISSION error (the pre-r15
    // raw maxPages·pageSize admission either overran the page budget
    // or — if capped — gave up the skew slack and could abort
    // mid-serve on a skewed page)
    val e = intercept[IllegalArgumentException](
      Similarity.graphTopKFromIndexPaged(spark, path, qs, 5,
        pageSize = 2, maxPages = n.toInt - 1))
    assert(e.getMessage.contains("page budget"))
  }

  test("append with a precomputed neighbor page ≡ the self-served append (r15 — the one-serve-per-batch ingest)") {
    val all = synth(48)
    val base = all.filter(col("vec_id") < 40)
    val arriv = all.filter(col("vec_id") >= 40)
    val pA = freshDir(); val pB = freshDir()
    Similarity.writeGraphIndex(base, pA, k = 6)
    Similarity.writeGraphIndex(base, pB, k = 6)
    // A: the append runs its own attach serve; B: the caller hands in
    // the SAME serve's page (the streamingGraphIngest reuse) — the
    // landed graphs must be edge-identical
    Similarity.appendToGraphIndex(arriv, pA, ingestBatch = 7L)
    val page = Similarity.graphTopKFromIndex(spark, pB,
      arriv.select("vec_id", "embedding"), 6, beam = 32,
      excludeIngestBatch = Some(7L))
    Similarity.appendToGraphIndex(arriv, pB, ingestBatch = 7L,
      precomputedNeighbors = Some(page))
    def adj(p: String) = spark.read.parquet(s"$p/adj")
      .select("src", "dst").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val a = adj(pA)
    assert(a === adj(pB) && a.nonEmpty)
    // and a WIDER page (kEff > index k — the stream-k > frozen-k
    // case) still lands a legal append: the window re-truncates to
    // the index k, serve stays green
    val pC = freshDir()
    Similarity.writeGraphIndex(base, pC, k = 6)
    val wide = Similarity.graphTopKFromIndex(spark, pC,
      arriv.select("vec_id", "embedding"), 9, beam = 32,
      excludeIngestBatch = Some(7L))
    Similarity.appendToGraphIndex(arriv, pC, ingestBatch = 7L,
      precomputedNeighbors = Some(wide))
    val served = Similarity.graphTopKFromIndex(spark, pC,
      arriv.limit(1).select("vec_id", "embedding"), 6)
    assert(served.count() > 0)
    // a page carrying ids FOREIGN to the batch is refused at
    // admission (before any write) — the checkable half of the
    // contract: it was provably served for a different batch
    val foreign = Similarity.graphTopKFromIndex(spark, pC,
      base.limit(2).select("vec_id", "embedding"), 6,
      excludeIngestBatch = Some(8L))
    val bad = intercept[IllegalArgumentException] {
      Similarity.appendToGraphIndex(arriv, pC, ingestBatch = 8L,
        precomputedNeighbors = Some(foreign))
    }
    assert(bad.getMessage.contains("DIFFERENT query set"))
    // ...but a page whose query set is a strict SUBSET of the batch is
    // ADMITTED (r15 ADVICE: a batch query can legitimately score zero
    // serve rows — entry-colliding arrival on a single-node graph —
    // and equality would then spuriously abort an honest ingest; the
    // missing query's edges come from the within-batch exact kNN,
    // same as the self-served outcome)
    val pD = freshDir()
    Similarity.writeGraphIndex(base, pD, k = 6)
    val subsetPage = Similarity.graphTopKFromIndex(spark, pD,
      arriv.limit(2).select("vec_id", "embedding"), 6,
      excludeIngestBatch = Some(9L))
    Similarity.appendToGraphIndex(arriv, pD, ingestBatch = 9L,
      precomputedNeighbors = Some(subsetPage))
    // every arrival still landed edges (the within-batch kNN floor)
    val landedSrcs = spark.read.parquet(s"$pD/adj")
      .filter(col("ingest_batch") === 9L)
      .select("src").as[Long].collect().toSet
    val arrivIds = arriv.select("vec_id").as[Long].collect().toSet
    assert(arrivIds.subsetOf(landedSrcs))
  }

  test("an all-zero batch with a malformed neighbor page throws and commits nothing") {
    val path = freshDir()
    Similarity.writeGraphIndex(synth(16), path, k = 4)
    // every vector zero: the admission collect is empty, the early
    // return's path
    val zeros = Seq((100L, Array.fill(8)(0.0f), "c")).toDF("vec_id", "embedding", "label")
    val malformed = Seq((1L, 2L)).toDF("a", "b")
    val e = intercept[IllegalArgumentException] {
      Similarity.appendToGraphIndex(zeros, path, ingestBatch = 7L,
        precomputedNeighbors = Some(malformed))
    }
    assert(e.getMessage.contains("must be a graphTopKFromIndex page"))
    val marker = new org.apache.hadoop.fs.Path(s"$path/commits/ingest_batch=7")
    assert(!marker.getFileSystem(spark.sessionState.newHadoopConf()).exists(marker))
  }

  test("E14c seeded serve ≡ frozen serve ≡ brute force at exhaustive config (r16 — one engine, two hop-0 strategies)") {
    val all = synth(48)
    val isQ = col("vec_id") % 9 === 0
    val queries = all.filter(isQ).select("vec_id", "embedding")
    val path = freshDir()
    Similarity.writeGraphIndex(all, s"$path/gidx", k = 6)
    Similarity.writeIvfIndex(all, s"$path/ivf", nlist = 4)
    // exhaustive config (beam ≥ n, hops ≥ diameter) reaches every
    // node from ANY hop-0 frontier — seeding can only change WHERE
    // the walk starts, so both serves must agree with brute force
    // row-for-row
    def ex(f: => org.apache.spark.sql.DataFrame) =
      f.orderBy("q_id", "rank").collect().toSeq.map(_.toSeq)
    val frozen = ex(Similarity.graphTopKFromIndex(spark, s"$path/gidx",
      queries, 6, beam = 64, hops = 16))
    val seeded = ex(Similarity.graphTopKFromIndexSeeded(spark,
      s"$path/gidx", s"$path/ivf", queries, 6, beam = 64, hops = 16))
    val brute = ex(Similarity.bruteForceTopK(all, isQ, 6)
      .select(col("q_id"), col("n_id"), col("cos_sim"),
        col("rank").cast("bigint").as("rank")))
    assert(seeded === brute && frozen === brute && seeded.nonEmpty)
  }

  test("E14c seeded hop-0 beats the frozen entry at tight hops (real corpus) and falls back on dead seeds") {
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.filter(SparkEntry.annIsQuery)
      .select("vec_id", "embedding")
    val path = freshDir()
    Similarity.writeGraphIndex(emb, s"$path/gidx", k = 5)
    Similarity.writeIvfIndex(emb, s"$path/ivf", nlist = 0)
    val brute = Similarity.bruteForceTopK(emb, SparkEntry.annIsQuery, 5)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    def recall(hops: Int, seeded: Boolean): Double = {
      val served = (if (seeded)
        Similarity.graphTopKFromIndexSeeded(spark, s"$path/gidx",
          s"$path/ivf", queries, 5, hops = hops)
      else
        Similarity.graphTopKFromIndex(spark, s"$path/gidx",
          queries, 5, hops = hops))
        .select("q_id", "n_id").as[(Long, Long)].collect().toSet
      (served & brute).size.toDouble / brute.size
    }
    // at hops=2 the frozen entry has only walked 2 steps from one
    // fixed node; per-query IVF seeds already sit in the answer's
    // region — the scale argument (r15 verdict #4), pinned at the
    // verify corpus
    val (s2, f2) = (recall(2, seeded = true), recall(2, seeded = false))
    assert(s2 >= f2,
      s"seeded hop-0 recall $s2 below frozen-entry $f2 at hops=2")
    // and at the serve defaults the seeded flavor holds well above
    // the catalog floor 0.75 (measured .94 at sf0.001 / .84 at
    // sf0.01 — the source of the catalog record's comment)
    val s6 = recall(6, seeded = true)
    assert(s6 >= 0.85, s"seeded recall $s6 at defaults below the " +
      "measured sf0.001 band (.94)")
    // dead seeds: a seeded serve excluding an ingest batch must not
    // surface that batch's ids (the replay posture — seed vectors come
    // from the graph's committed vec/, so excluded arrivals drop out
    // of hop-0 too, and entry fallback keeps every query served)
    val all = synth(40)
    val base = all.filter(col("vec_id") < 32)
    val arriv = all.filter(col("vec_id") >= 32)
    val p2 = freshDir()
    Similarity.writeGraphIndex(base, s"$p2/gidx", k = 5)
    // the IVF index holds the FULL corpus (arrivals included), so the
    // probe can hand out seeds the graph must refuse under exclusion
    Similarity.writeIvfIndex(all, s"$p2/ivf", nlist = 2)
    Similarity.appendToGraphIndex(arriv, s"$p2/gidx", ingestBatch = 3L)
    val served = Similarity.graphTopKFromIndexSeeded(spark, s"$p2/gidx",
      s"$p2/ivf", arriv.select("vec_id", "embedding"), 5,
      excludeIngestBatch = Some(3L))
    val arrivIds = arriv.select("vec_id").as[Long].collect().toSet
    val got = served.select("q_id", "n_id").as[(Long, Long)].collect()
    assert(got.nonEmpty && got.forall { case (_, n) => !arrivIds(n) },
      "excluded-batch ids surfaced through IVF seeding")
    // every arrival query still got served (entry fallback floor)
    assert(got.map(_._1).toSet === arrivIds)
  }

  test("chunked vec lookup: multi-chunk assembly ≡ one chunk (the wide-k append path, r15 review)") {
    val emb = Tables.embeddings(spark, sfDir)
    val path = freshDir()
    Similarity.writeGraphIndex(emb, path, k = 5)
    val ids = emb.select(col("vec_id")).orderBy("vec_id").limit(9)
      .as[Long].collect().toSeq
    assert(ids.size >= 5)
    def look(chunk: Int) = Similarity.chunkedVecLookup(spark, path,
        spark.read.parquet(s"$path/meta").head().getAs[Int]("p_buckets"),
        ids, None, chunk = chunk)
      .select(col("vec_id")).orderBy("vec_id").as[Long].collect().toSeq
    // chunk=2 forces ceil(9/2)=5 unions — the exact assembly a
    // full-size k>=33 append runs at the frontier ceiling
    assert(look(2) === look(ids.size) && look(2) === ids)
  }
}
