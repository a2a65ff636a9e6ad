package graft

import org.apache.spark.sql.functions._
import graft.operators.Similarity

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private def emb = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f), "q"),
    (1L, Array(0.9f, 0.1f, 0.0f), "c"),
    (2L, Array(0.5f, 0.5f, 0.0f), "c"),
    (3L, Array(0.0f, 1.0f, 0.0f), "c"),
    (4L, Array(0.0f, 0.0f, 1.0f), "c")
  ).toDF("vec_id", "embedding", "label")

  test("E8 normalizeEmbeddings: integer mean-centering, exact-long norms, zero-norm guarded") {
    // dims mean 0 → centering is identity; norms 5, 5, 0
    val v = Seq(
      (1L, Array(3.0f, 4.0f)),
      (2L, Array(-3.0f, -4.0f)),
      (3L, Array(0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.normalizeEmbeddings(v)
      .select("vec_id", "dim", "value", "norm")
      .as[(Long, Long, Double, Double)].collect().toSet
    assert(out === Set(
      (1L, 0L, 0.6, 5.0), (1L, 1L, 0.8, 5.0),
      (2L, 0L, -0.6, 5.0), (2L, 1L, -0.8, 5.0),
      // the all-mean vector: norm 0, values 0.0 — flagged, never NaN
      (3L, 0L, 0.0, 0.0), (3L, 1L, 0.0, 0.0)))
    // a nonzero mean actually centers: dim0 mean 2, dim1 mean 1
    val w = Seq((1L, Array(1.0f, 1.0f)), (2L, Array(3.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.normalizeEmbeddings(w)
      .select("vec_id", "dim", "value", "norm")
      .as[(Long, Long, Double, Double)].collect().toSet
    assert(got === Set(
      (1L, 0L, -1.0, 1.0), (1L, 1L, 0.0, 1.0),
      (2L, 0L, 1.0, 1.0), (2L, 1L, 0.0, 1.0)))
  }

  test("E8 deploy flow: frozen mean reproduces self-normalization; unknown dim fails loudly") {
    val wh = java.nio.file.Files.createTempDirectory("graft_emb").toString
    val corpus = Tables.embeddings(spark, sfDir).filter(col("vec_id") < 300)
    Similarity.writeEmbStats(corpus, "emb_m", s"$wh/emb_m")
    val a = Similarity.normalizeAgainst(spark, "emb_m", corpus)
      .orderBy("vec_id", "dim").collect().toSeq.map(_.toSeq)
    val b = Similarity.normalizeEmbeddings(corpus)
      .orderBy("vec_id", "dim").collect().toSeq.map(_.toSeq)
    assert(a === b && a.nonEmpty)
    // an arrival with MORE dims than the frozen stats is schema
    // drift — loud failure, not a silent drop
    import spark.implicits._
    val wide = Seq((9000L, Array.fill(100)(0.5f))).toDF("vec_id", "embedding")
    val e = intercept[Exception](
      Similarity.normalizeAgainst(spark, "emb_m", wide).collect())
    assert(e.getMessage.contains("absent from frozen stats") ||
      Option(e.getCause).exists(_.getMessage.contains("absent from frozen stats")))
    spark.sql("DROP TABLE IF EXISTS emb_m_mean")
    spark.sql("DROP TABLE IF EXISTS emb_m_meta")
  }

  test("E9 sqEncode: codes span 0..255, reconstruction within half a level; corpus-covering rerank ≡ brute force") {
    val corpus = Tables.embeddings(spark, sfDir).filter(col("vec_id") < 300)
    val enc = Similarity.sqEncode(corpus).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(enc.forall(t => t._3 >= 0L && t._3 <= 255L))
    // reconstruction error ≤ half a quantization level per dim
    val x6 = corpus.select(col("vec_id"),
        posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(col("vec_id"), col("dim").cast("long"),
        round(col("v").cast("double") * 1e6).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val width = enc.groupBy(_._2).map { case (d, rows) =>
      val xs = rows.map(t => x6((t._1, d)))
      d -> (xs.max - xs.min)
    }
    assert(enc.forall { t =>
      math.abs(t._4 * 1e6 - x6((t._1, t._2))) <= width(t._2) / 510.0 + 1
    })
    // the exactness pin (the E3x/E6x posture): a rerank window
    // covering the whole corpus reproduces exact brute force
    val isQ = col("vec_id") < 3
    val a = Similarity.sqTopK(corpus, isQ, 5, rerank = 1000)
      .orderBy("q_id", "rank").collect().toSeq.map(_.toSeq)
    val b = Similarity.bruteForceTopK(corpus, isQ, 5)
      .orderBy("q_id", "rank").collect().toSeq.map(_.toSeq)
    assert(a === b && a.nonEmpty)
  }

  test("E9b ivfSqTopK: exhaustive probing + covering rerank ≡ brute force; probed flavor serves k rows per query") {
    val corpus = Tables.embeddings(spark, sfDir).filter(col("vec_id") < 300)
    val isQ = col("vec_id") < 3
    val a = Similarity.ivfSqTopK(corpus, isQ, 5, nlist = 8, nprobe = 8,
        rerank = Int.MaxValue)
      .orderBy("q_id", "rank").collect().toSeq.map(_.toSeq)
    val b = Similarity.bruteForceTopK(corpus, isQ, 5)
      .orderBy("q_id", "rank").collect().toSeq.map(_.toSeq)
    assert(a === b && a.nonEmpty)
    val probed = Similarity.ivfSqTopK(corpus, isQ, 5, nlist = 8, nprobe = 2)
    assert(probed.groupBy("q_id").count()
      .select("count").distinct().collect().map(_.getLong(0)).toSeq === Seq(5L))
  }

  test("E1 bruteForceTopK ranks by exact cosine, deterministic tie-break") {
    val out = Similarity.bruteForceTopK(emb, col("vec_id") === 0, 3)
      .orderBy("rank").select("n_id").as[Long].collect()
    assert(out.toSeq === Seq(1L, 2L, 3L)) // cos: .994, .707, 0 (vec 4 also 0 but id-later)
  }

  test("quadratic baselines trip their size guard past the row ceiling") {
    // count() is all the guard needs — schema never reaches prepared()
    val big = spark.range(Similarity.quadraticRowCeiling + 1).toDF("vec_id")
    val e1 = intercept[IllegalArgumentException] {
      Similarity.cosinePairs(big, 0.9)
    }
    assert(e1.getMessage.contains("cosinePairsLsh"))
    // E1 guards the scored-pair count: all-rows-as-queries trips …
    val e2 = intercept[IllegalArgumentException] {
      Similarity.bruteForceTopK(big, lit(true), 5)
    }
    assert(e2.getMessage.contains("ivfTopK"))
    // … but a small query set over the same huge corpus passes the
    // guard (the broadcast-join plan is fine; it then fails on the
    // missing embedding column, proving the guard was cleared)
    intercept[org.apache.spark.sql.AnalysisException] {
      Similarity.bruteForceTopK(big, col("vec_id") < 10, 5)
    }
  }

  test("E1 cosine values match a hand computation at 6 dp") {
    val out = Similarity.bruteForceTopK(emb, col("vec_id") === 0, 1)
      .select("cos_sim").as[Double].head()
    val v = Array(0.9f.toDouble, 0.1f.toDouble) // float-storage roundtrip
    val expected = v(0) / math.sqrt(v(0) * v(0) + v(1) * v(1))
    assert(math.abs(out - math.rint(expected * 1e6) / 1e6) < 1e-9)
  }

  test("E2 multi-table OR-construction recall ≥ single-table, measured on real embeddings") {
    val emb2 = Tables.embeddings(spark, sfDir)
    val isQ = col("vec_id") % 50 === 0
    def recallAt5(tables: Int): Double = {
      val truth = Similarity.bruteForceTopK(emb2, isQ, 5)
        .select("q_id", "n_id").as[(Long, Long)].collect().toSet
      val got = Similarity.lshTopK(emb2, isQ, 5, planes = 4, tables = tables)
        .select("q_id", "n_id").as[(Long, Long)].collect().toSet
      (truth & got).size.toDouble / truth.size
    }
    val r1 = recallAt5(1); val r8 = recallAt5(8)
    info(f"recall@5: 1 table = $r1%.2f, 8 tables = $r8%.2f")
    assert(r8 >= r1)
    assert(r8 > 0.3) // 8×4-bit tables on 500 vecs must recover a solid fraction
  }

  test("D5 LSH pair path: every pair exact-verified (precision 1), star cap keeps precision") {
    val real = Tables.embeddings(spark, sfDir)
    val full = Similarity.cosinePairs(real, 0.45)
      .select("vec_a", "vec_b", "cos_sim").as[(Long, Long, Double)]
      .collect().toSet
    val lsh = Similarity.cosinePairsLsh(real, 0.45)
      .select("vec_a", "vec_b", "cos_sim").as[(Long, Long, Double)]
      .collect().toSet
    // candidates are exact-verified with the same rounded score, so
    // the LSH result is a SUBSET of the quadratic baseline, values and
    // all — only recall is approximate
    assert(lsh.subsetOf(full))
    val recall = if (full.isEmpty) 1.0 else lsh.size.toDouble / full.size
    info(f"D5 LSH recall vs exact: $recall%.2f (${lsh.size}/${full.size} pairs)")
    assert(recall > 0.3)
    // maxBucket=1 makes every bucket hot → star candidates only; the
    // exact verification still holds (subset property survives)
    val star = Similarity.cosinePairsLsh(real, 0.45, maxBucket = 1)
      .select("vec_a", "vec_b", "cos_sim").as[(Long, Long, Double)]
      .collect().toSet
    assert(star.subsetOf(full))
    // zero-norm regression: a planted zero vector must surface in NO
    // pair — its 0/0 cosine is NaN, which Spark orders LARGEST, so
    // without the n2 > 0 exclusion it would pass the ≥ tau filter
    val dim = real.select(size(col("embedding"))).as[Int].head()
    val zero = spark.range(1).select(lit(999999L).as("vec_id"),
      array_repeat(lit(0.0f), dim).as("embedding"), lit(0).as("label"))
    val zPairs = Similarity.cosinePairsLsh(real.unionByName(zero), 0.45)
      .filter(col("vec_a") === 999999L || col("vec_b") === 999999L)
    assert(zPairs.count() === 0L)
  }

  test("D5b multi-probe lifts pair recall, same plan shape, precision still 1") {
    val real = Tables.embeddings(spark, sfDir)
    val full = Similarity.cosinePairs(real, 0.45)
      .select("vec_a", "vec_b", "cos_sim").as[(Long, Long, Double)]
      .collect().toSet
    val base = Similarity.cosinePairsLsh(real, 0.45)
      .select("vec_a", "vec_b", "cos_sim").as[(Long, Long, Double)]
      .collect().toSet
    val probed = Similarity.cosinePairsLsh(real, 0.45, probes = 2)
      .select("vec_a", "vec_b", "cos_sim").as[(Long, Long, Double)]
      .collect().toSet
    // probing only ADDS candidates; verification keeps precision 1.0
    assert(base.subsetOf(probed) && probed.subsetOf(full))
    val r0 = if (full.isEmpty) 1.0 else base.size.toDouble / full.size
    val r2 = if (full.isEmpty) 1.0 else probed.size.toDouble / full.size
    info(f"D5b pair recall: probes=0 $r0%.2f → probes=2 $r2%.2f " +
      f"(${probed.size}/${full.size} pairs)")
    assert(r2 >= 0.85, f"multi-probe recall $r2%.2f below 0.85")
    // same shuffle posture: the probe flavor's plan has no MORE
    // exchanges than plain LSH — probes widen the bucket table, they
    // do not add a join
    def exchanges(df: org.apache.spark.sql.DataFrame): Int =
      "Exchange".r.findAllIn(df.queryExecution.executedPlan.toString).length
    val e0 = exchanges(Similarity.cosinePairsLsh(real, 0.45))
    val e2 = exchanges(Similarity.cosinePairsLsh(real, 0.45, probes = 2))
    assert(e2 <= e0, s"probes added exchanges: $e0 → $e2")
  }

  test("empty input short-circuits the centroid paths (no construction throw)") {
    // an empty filtered frame samples no centroids — the operators
    // must return empty results, not die constructing NearestCentroids
    val none = Tables.embeddings(spark, sfDir).filter(lit(false))
    assert(Similarity.semanticDedup(none, 0.45, nlist = 4).count() === 0L)
    assert(Similarity.ivfAssign(none, 4).count() === 0L)
    assert(Similarity.ivfTopK(none, col("vec_id") === 0, 5).count() === 0L)
  }

  test("D10 SemDeDup: within-cluster pairs exact-verified (precision 1), star cap safe") {
    val real = Tables.embeddings(spark, sfDir)
    val full = Similarity.cosinePairs(real, 0.45)
      .select("vec_a", "vec_b", "cos_sim").as[(Long, Long, Double)]
      .collect().toSet
    val sem = Similarity.semanticDedup(real, 0.45, nlist = 8)
      .select("vec_a", "vec_b", "cos_sim").as[(Long, Long, Double)]
      .collect().toSet
    // candidates are exact-verified with the same rounded score:
    // SemDeDup is a SUBSET of the quadratic ground truth, values and
    // all — clustering only trades recall
    assert(sem.subsetOf(full))
    val recall = if (full.isEmpty) 1.0 else sem.size.toDouble / full.size
    info(f"D10 recall vs exact, assign=1: $recall%.2f (${sem.size}/${full.size} pairs)")
    // multi-assignment meets boundary-straddling pairs in the
    // runner-up list: candidate sets only grow with `assign`, so
    // recall is monotone in it — and it still subsets the truth
    val sem2 = Similarity.semanticDedup(real, 0.45, nlist = 8, assign = 2)
      .select("vec_a", "vec_b", "cos_sim").as[(Long, Long, Double)]
      .collect().toSet
    assert(sem2.subsetOf(full))
    assert(sem.subsetOf(sem2))
    val recall2 = if (full.isEmpty) 1.0 else sem2.size.toDouble / full.size
    info(f"D10 recall vs exact, assign=2: $recall2%.2f (${sem2.size}/${full.size} pairs)")
    assert(recall2 > 0.3)
    // fewer clusters can only grow each list → candidate sets, and so
    // recall, are monotone in nlist↓ (nlist=1 is the full quadratic)
    val sem1 = Similarity.semanticDedup(real, 0.45, nlist = 1)
      .select("vec_a", "vec_b", "cos_sim").as[(Long, Long, Double)]
      .collect().toSet
    assert(sem1 === full)
    // maxList=1 makes every list hot → star candidates only; exact
    // verification still holds (subset survives) and per-list output
    // is O(size), not size²
    val star = Similarity.semanticDedup(real, 0.45, nlist = 8, maxList = 1)
      .select("vec_a", "vec_b", "cos_sim").as[(Long, Long, Double)]
      .collect().toSet
    assert(star.subsetOf(full))
    // a planted zero vector must surface in no pair (NaN cosine)
    val dim = real.select(size(col("embedding"))).as[Int].head()
    val zero = spark.range(1).select(lit(999999L).as("vec_id"),
      array_repeat(lit(0.0f), dim).as("embedding"), lit(0).as("label"))
    val zPairs = Similarity.semanticDedup(real.unionByName(zero), 0.45)
      .filter(col("vec_a") === 999999L || col("vec_b") === 999999L)
    assert(zPairs.count() === 0L)
  }

  test("ranking paths exclude zero-norm rows: no phantom NaN top hits") {
    val real = Tables.embeddings(spark, sfDir)
    val dim = real.select(size(col("embedding"))).as[Int].head()
    // plant a zero vector that is BOTH a candidate and (id % 50 = 0)
    // a query — without the n2 > 0 exclusion its NaN cosine ranks
    // FIRST in every desc sort it touches
    val zero = spark.range(1).select(lit(999950L).as("vec_id"),
      array_repeat(lit(0.0f), dim).as("embedding"), lit(0).as("label"))
    val withZero = real.unionByName(zero)
    val isQ = col("vec_id") % 50 === 0
    for ((name, out) <- Seq(
        "E1" -> Similarity.bruteForceTopK(withZero, isQ, 3),
        "E2" -> Similarity.lshTopK(withZero, isQ, 3),
        "E3" -> Similarity.ivfTopK(withZero, isQ, 3))) {
      val rows = out.select("q_id", "n_id").as[(Long, Long)].collect()
      assert(rows.nonEmpty, name)
      assert(!rows.exists(_._2 == 999950L), s"$name returned the zero vector")
      assert(!rows.exists(_._1 == 999950L), s"$name ranked for the zero query")
    }
  }

  test("E2 multi-probe recall ≥ plain at equal tables; probes=0 is bit-identical") {
    val emb2 = Tables.embeddings(spark, sfDir)
    val isQ = col("vec_id") % 50 === 0
    val truth = Similarity.bruteForceTopK(emb2, isQ, 5)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    def recallAt5(probes: Int): Double = {
      val got = Similarity.lshTopK(emb2, isQ, 5, planes = 4, tables = 8,
          probes = probes)
        .select("q_id", "n_id").as[(Long, Long)].collect().toSet
      (truth & got).size.toDouble / truth.size
    }
    val r0 = recallAt5(0); val r2 = recallAt5(2); val r4 = recallAt5(4)
    info(f"recall@5: probes 0 = $r0%.2f, 2 = $r2%.2f, 4 = $r4%.2f")
    // candidate sets only ever GROW with probes → recall is monotone
    assert(r2 >= r0 && r4 >= r2)
    // flipping every plane visits all neighbors-at-1 of every table's
    // bucket — on these embeddings that must improve on plain LSH
    assert(r4 > r0)
    // probes=0 emits exactly the one true bucket per table — the same
    // rows as the plain spelling
    val plain = Similarity.lshTopK(emb2, isQ, 5)
      .orderBy("q_id", "rank").collect().toSeq.map(_.toSeq)
    val p0 = Similarity.lshTopK(emb2, isQ, 5, probes = 0)
      .orderBy("q_id", "rank").collect().toSeq.map(_.toSeq)
    assert(p0 === plain)
  }

  test("E2/E3 auto-sizing lands on the explicit config it derives") {
    val emb2 = Tables.embeddings(spark, sfDir)
    val isQ = col("vec_id") % 50 === 0
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("q_id", "rank").collect().toSeq.map(_.toSeq)
    // 500 vectors / occupancy 64 → depth floor: auto ≡ the catalog's
    // planes=4 at the verify sf (gates measure the same operator)
    assert(rows(Similarity.lshTopK(emb2, isQ, 5, planes = 0)) ===
      rows(Similarity.lshTopK(emb2, isQ, 5, planes = 4)))
    // occupancy 1 → 64 − nlz(500) = 9 planes: the auto path is the
    // same operator as the explicit depth it computes
    assert(rows(Similarity.lshTopK(emb2, isQ, 5, planes = 0, occupancy = 1)) ===
      rows(Similarity.lshTopK(emb2, isQ, 5, planes = 9)))
    // √500 rounds to 22 lists (FAISS's nlist ≈ √n guideline)
    assert(rows(Similarity.ivfTopK(emb2, isQ, 5, nlist = 0)) ===
      rows(Similarity.ivfTopK(emb2, isQ, 5, nlist = 22)))
    assert(rows(Similarity.ivfpqTopK(emb2, isQ, 5, nlist = 0)) ===
      rows(Similarity.ivfpqTopK(emb2, isQ, 5, nlist = 22)))
    assert(rows(Similarity.ivfpqResidualTopK(emb2, isQ, 5, nlist = 0)) ===
      rows(Similarity.ivfpqResidualTopK(emb2, isQ, 5, nlist = 22)))
    // the on-disk writer takes the same auto-size: nlist=0 builds the
    // √n-list layout the explicit config would
    val path = java.nio.file.Files.createTempDirectory("graft_auto").toString
    Similarity.writeIvfIndex(emb2, path, nlist = 0)
    assert(spark.read.parquet(s"$path/centroids").count() === 22L)
  }

  test("E3 ivfTopK recall scales with nprobe; exhaustive probing equals brute force") {
    val emb2 = Tables.embeddings(spark, sfDir)
    val isQ = col("vec_id") % 50 === 0
    val truth = Similarity.bruteForceTopK(emb2, isQ, 5)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    def recall(nprobe: Int): Double = {
      val got = Similarity.ivfTopK(emb2, isQ, 5, nlist = 16, nprobe = nprobe)
        .select("q_id", "n_id").as[(Long, Long)].collect().toSet
      (truth & got).size.toDouble / truth.size
    }
    val r1 = recall(1); val r4 = recall(4); val r16 = recall(16)
    info(f"IVF recall@5: nprobe 1 = $r1%.2f, 4 = $r4%.2f, 16 = $r16%.2f")
    assert(r4 >= r1)
    assert(r16 === 1.0) // probing every list IS brute force
  }

  test("E4 centroidUpdate assigns every vector once and means the members per dim") {
    // nlist = 2: seeds are the 2 vec_ids with smallest md5; every
    // vector lands in exactly one centroid's member set
    val out = Similarity.centroidUpdate(emb, nlist = 2)
      .select("c_id", "dim", "n_members", "mean_val")
      .as[(Long, Long, Long, Double)].collect()
    val dims = out.map(_._2).distinct.sorted
    assert(dims.toSeq === Seq(0L, 1L, 2L))
    // membership partitions the 5 vectors: per-dim member counts sum to 5
    for (d <- dims)
      assert(out.filter(_._2 == d).map(_._3).sum === 5L)
    // each centroid's per-dim mean is the plain average of its members:
    // reconstruct from the assignment the operator itself reports
    val byCentroid = out.groupBy(_._1)
    assert(byCentroid.size === 2)
    // means stay within the coordinate hull [0, 1] of the inputs
    out.foreach { case (_, _, _, m) => assert(m >= 0.0 && m <= 1.0) }
  }

  test("E5 pqTopK recall vs brute force, improving with code length (real embeddings)") {
    val real = Tables.embeddings(spark, sfDir)
    val isQ = col("vec_id") % 50 === 0
    val truth = Similarity.bruteForceTopK(real, isQ, 5)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    def recall(m: Int, ks: Int): Double = {
      val got = Similarity.pqTopK(real, isQ, 5, m, ks)
        .select("q_id", "n_id").as[(Long, Long)].collect().toSet
      (truth & got).size.toDouble / truth.size
    }
    val r8 = recall(8, 16); val r16 = recall(16, 32)
    info(f"PQ recall@5: m=8/ks=16 = $r8%.2f, m=16/ks=32 = $r16%.2f")
    assert(r8 >= 0.4)   // 0.52 sampled → 0.68 with the trained codebook
    assert(r16 > r8)    // longer codes + bigger codebooks buy recall
    assert(r16 >= 0.9)  // trained m=16/ks=32 codebook (measured 0.92)
    // the standard PQ precondition fails loud: 64 dims don't split into 7
    val e = intercept[IllegalArgumentException](Similarity.pqTopK(real, isQ, 5, m = 7))
    assert(e.getMessage.contains("multiple of m"))
    // reranked similarities are EXACT cosines — identical to E1's for
    // any overlapping (query, neighbor) pair
    val bf = Similarity.bruteForceTopK(real, isQ, 5)
      .select("q_id", "n_id", "cos_sim").as[(Long, Long, Double)]
      .collect().map(r => (r._1, r._2) -> r._3).toMap
    Similarity.pqTopK(real, isQ, 5, 8, 16)
      .select("q_id", "n_id", "cos_sim").as[(Long, Long, Double)].collect()
      .foreach { case (q, n, c) => bf.get((q, n)).foreach(e => assert(e === c)) }
  }

  test("E6 ivfpq: probing every list recovers plain PQ; fewer probes trade recall") {
    val real = Tables.embeddings(spark, sfDir)
    val isQ = col("vec_id") % 50 === 0
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "n_id").as[(Long, Long)].collect().toSet
    // nprobe = nlist visits every candidate — identical result to E5
    val full = ids(Similarity.ivfpqTopK(real, isQ, 5, nlist = 16, nprobe = 16))
    val pq = ids(Similarity.pqTopK(real, isQ, 5))
    assert(full === pq)
    // restricted probing returns a subset-quality result that still
    // overlaps the exhaustive PQ answer
    val probed = ids(Similarity.ivfpqTopK(real, isQ, 5, nlist = 16, nprobe = 4))
    val truth = ids(Similarity.bruteForceTopK(real, isQ, 5))
    val rFull = (truth & full).size.toDouble / truth.size
    val rProbed = (truth & probed).size.toDouble / truth.size
    info(f"IVFPQ recall@5: nprobe=16 $rFull%.2f, nprobe=4 $rProbed%.2f")
    assert(rProbed > 0.2 && rProbed <= rFull)
  }

  test("E6r residual IVFPQ: exact-cover invariant, recall parity, exact rerank cosines") {
    val real = Tables.embeddings(spark, sfDir)
    val isQ = col("vec_id") % 50 === 0
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "n_id").as[(Long, Long)].collect().toSet
    // the sharp correctness property of the residual path: a rerank
    // window covering every candidate must reproduce EXACT IVF at the
    // same nprobe — ‖u_q − u_c‖ ≡ ‖r_q − r_c‖ means the residual
    // plumbing (per-list query residual, residual codes, per-(q, list)
    // LUT) cannot change what the probed lists contain, only the ADC
    // shortlist ordering inside them
    val ivfExact = ids(Similarity.ivfTopK(real, isQ, 5, nlist = 16, nprobe = 4))
    val residAll = ids(Similarity.ivfpqResidualTopK(real, isQ, 5,
      nlist = 16, nprobe = 4, rerank = 100000))
    assert(residAll === ivfExact)
    // recall parity with the raw-vector flavor once rerank absorbs ADC
    // noise (this corpus is near-isotropic — residuals are not smaller
    // than the vectors, see the operator scaladoc; at rerank=16 both
    // flavors saturate the probed-list ceiling)
    val truth = ids(Similarity.bruteForceTopK(real, isQ, 5))
    val plain = ids(Similarity.ivfpqTopK(real, isQ, 5, nlist = 16, nprobe = 4,
      rerank = 16))
    val resid = ids(Similarity.ivfpqResidualTopK(real, isQ, 5, nlist = 16,
      nprobe = 4, rerank = 16))
    val rPlain = (truth & plain).size.toDouble / truth.size
    val rResid = (truth & resid).size.toDouble / truth.size
    info(f"IVFPQ recall@5 nprobe=4 rerank=16: raw $rPlain%.2f, residual $rResid%.2f")
    assert(rResid >= rPlain - 0.05,
      f"residual recall fell past parity: $rResid%.2f vs $rPlain%.2f")
    // returned similarities are exact cosines (the rerank reads full
    // vectors) — identical to E1's for any overlapping pair
    val bf = Similarity.bruteForceTopK(real, isQ, 5)
      .select("q_id", "n_id", "cos_sim").as[(Long, Long, Double)]
      .collect().map(r => (r._1, r._2) -> r._3).toMap
    Similarity.ivfpqResidualTopK(real, isQ, 5, nlist = 16, nprobe = 4)
      .select("q_id", "n_id", "cos_sim").as[(Long, Long, Double)].collect()
      .foreach { case (q, n, c) => bf.get((q, n)).foreach(e => assert(e === c)) }
  }

  test("training the quantizers never hurts recall vs the raw hash sample") {
    val real = Tables.embeddings(spark, sfDir)
    val isQ = col("vec_id") % 50 === 0
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val truth = ids(Similarity.bruteForceTopK(real, isQ, 5))
    def rec(df: org.apache.spark.sql.DataFrame) =
      (truth & ids(df)).size.toDouble / truth.size
    val ivfRaw = rec(Similarity.ivfTopK(real, isQ, 5, 16, 4, trainIters = 0))
    val ivfTrn = rec(Similarity.ivfTopK(real, isQ, 5, 16, 4, trainIters = 8))
    val pqRaw = rec(Similarity.pqTopK(real, isQ, 5, trainIters = 0))
    val pqTrn = rec(Similarity.pqTopK(real, isQ, 5, trainIters = 8))
    info(f"IVF@nprobe4 raw=$ivfRaw%.2f trained=$ivfTrn%.2f; " +
      f"PQ m8/ks16 raw=$pqRaw%.2f trained=$pqTrn%.2f")
    assert(ivfTrn >= ivfRaw)
    assert(pqTrn > pqRaw) // Lloyd refinement must buy PQ recall here
  }

  test("index-build plans are exchange-free (assignment and encode fused into the scan)") {
    val real = Tables.embeddings(spark, sfDir)
    // IVF assignment: one codegen'd argmax over the plan-referenced
    // centroid matrix — scan → project, not explode → window
    val assignPlan = Similarity.ivfAssign(real, nlist = 16)
      .queryExecution.executedPlan.toString
    assert(!assignPlan.contains("Exchange"),
      s"IVF assignment must not shuffle:\n$assignPlan")
    assert(!assignPlan.contains("Window"),
      "IVF assignment must not rank via a window")
    // PQ encode: the whole compressed index is scan → project → explode
    val codesPlan = Similarity.pqCodes(real, m = 8, ks = 16)
      .queryExecution.executedPlan.toString
    assert(!codesPlan.contains("Exchange"),
      s"PQ encode must not shuffle:\n$codesPlan")
  }

  test("IVF index on disk: probing prunes to the probed lists, results match in-memory") {
    val real = Tables.embeddings(spark, sfDir)
    val isQ = col("vec_id") % 50 === 0
    val path = java.nio.file.Files.createTempDirectory("graft_ivf").toString
    Similarity.writeIvfIndex(real, path, nlist = 16, trainIters = 5)
    // query frame carries ONLY (vec_id, embedding) — the documented
    // external-query contract (no label column)
    val fromIdx = Similarity.ivfTopKFromIndex(spark, path,
      real.filter(isQ).select("vec_id", "embedding"), 5, nprobe = 4)
    // the list scan is partition-pruned: every file the serve's scan
    // reads (probedListFiles measures that scan; the answer itself is
    // a local relation) lives under a probed c_id= directory, and it
    // reads fewer files than the index holds
    val probedFiles = Similarity.probedListFiles(spark, path,
      real.filter(isQ).select("vec_id", "embedding"), nprobe = 4)
    assert(probedFiles.nonEmpty && probedFiles.forall(_.contains("/lists/c_id=")))
    assert(probedFiles.length < spark.read.parquet(s"$path/lists").inputFiles.length)
    // same training, same probing → identical rows to the in-memory E3
    val a = fromIdx.orderBy("q_id", "rank").collect().toSeq.map(_.toSeq)
    val b = Similarity.ivfTopK(real, isQ, 5, 16, 4, trainIters = 5)
      .orderBy("q_id", "rank").collect().toSeq.map(_.toSeq)
    assert(a === b)
  }

  test("IVFPQ index on disk: codes + vectors served from pruned lists match in-memory E6") {
    val real = Tables.embeddings(spark, sfDir)
    val isQ = col("vec_id") % 50 === 0
    val path = java.nio.file.Files.createTempDirectory("graft_ivfpq").toString
    Similarity.writeIvfPqIndex(real, path, nlist = 16, m = 8, ks = 16,
      trainIters = 5)
    // label-free external query frame, as with the IVF index spec
    val fromIdx = Similarity.ivfpqTopKFromIndex(spark, path,
      real.filter(isQ).select("vec_id", "embedding"), 5, nprobe = 4)
    val plan = fromIdx.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("c_id"),
      "expected a c_id partition filter on the lists scan")
    // the candidate/rerank side reads only pruned index partitions
    // (the one non-index input is the external query frame itself)
    val listFiles = fromIdx.inputFiles.filter(_.contains("/lists/"))
    assert(listFiles.nonEmpty && listFiles.forall(_.contains("c_id=")))
    val a = fromIdx.orderBy("q_id", "rank").collect().toSeq.map(_.toSeq)
    val b = Similarity.ivfpqTopK(real, isQ, 5, nlist = 16, nprobe = 4)
      .orderBy("q_id", "rank").collect().toSeq.map(_.toSeq)
    assert(a === b)
  }

  test("IVF index append: frozen-quantizer placement — planted twins found at nprobe=1") {
    val real = Tables.embeddings(spark, sfDir)
      .filter(expr("aggregate(embedding, 0D, (a, x) -> a + x*x) > 0"))
    val isQ = col("vec_id") % 50 === 0
    val path = java.nio.file.Files.createTempDirectory("graft_ivf_app").toString
    Similarity.writeIvfIndex(real, path, nlist = 16, trainIters = 5)
    // identical twins under new ids: appended with the STORED quantizer
    // they must land in exactly the list nprobe=1 probes for the
    // original — a misplacement would make the twin invisible here
    val twins = real.filter(isQ)
      .withColumn("vec_id", col("vec_id") + lit(1000000L))
    Similarity.appendToIvfIndex(twins, path, ingestBatch = 0L)
    assert(spark.read.parquet(s"$path/lists").count() ===
      real.count() + twins.count())
    // replaying the SAME ingest batch replaces its partition instead
    // of duplicating rows (at-least-once foreachBatch safety)
    Similarity.appendToIvfIndex(twins, path, ingestBatch = 0L)
    assert(spark.read.parquet(s"$path/lists").count() ===
      real.count() + twins.count())
    val hits = Similarity.ivfTopKFromIndex(spark, path,
        real.filter(isQ).select("vec_id", "embedding"), 1, nprobe = 1)
      .select("q_id", "n_id", "cos_sim").as[(Long, Long, Double)].collect()
    assert(hits.nonEmpty)
    // top hit from the single probed list is exactly the planted twin
    // (the corpus has no natural exact-dups; self is excluded)
    hits.foreach { case (q, n, c) =>
      assert(n === q + 1000000L && c === 1.0, s"query $q") }
    // external-namespace contract: selfExclude=false makes the
    // id-equal corpus row a legitimate neighbor — it outranks the
    // twin at the cos=1.0 tie (smaller vec_id)
    val withSelf = Similarity.ivfTopKFromIndex(spark, path,
        real.filter(isQ).select("vec_id", "embedding"), 1, nprobe = 1,
        selfExclude = false)
      .select("q_id", "n_id", "cos_sim").as[(Long, Long, Double)].collect()
    withSelf.foreach { case (q, n, c) =>
      assert(n === q && c === 1.0, s"query $q") }
  }

  test("IVF index compaction folds ingest partitions; serves are unchanged, files collapse") {
    val real = Tables.embeddings(spark, sfDir)
      .filter(expr("aggregate(embedding, 0D, (a, x) -> a + x*x) > 0"))
    val path = java.nio.file.Files.createTempDirectory("graft_ivf_cmp").toString
    Similarity.writeIvfIndex(real.filter(col("vec_id") < 350), path,
      nlist = 16, trainIters = 5)
    // three streaming-style ingests, each its own batch partition
    for ((lo, hi, b) <- Seq((350, 400, 0L), (400, 450, 1L), (450, 500, 2L)))
      Similarity.appendToIvfIndex(
        real.filter(col("vec_id") >= lo && col("vec_id") < hi), path, b)
    val isQ = col("vec_id") % 50 === 0
    val queries = real.filter(isQ).select("vec_id", "embedding")
    val before = Similarity.ivfTopKFromIndex(spark, path, queries, 5, nprobe = 4)
      .orderBy("q_id", "rank").collect().toSeq.map(_.toSeq)
    val filesBefore = spark.read.parquet(s"$path/lists").inputFiles.length
    val rowsBefore = spark.read.parquet(s"$path/lists").count()
    Similarity.compactIvfIndex(spark, path)
    val lists = spark.read.parquet(s"$path/lists")
    assert(lists.count() === rowsBefore)
    // every row folded into the base partition, one file per list
    assert(lists.select("ingest_batch").distinct().as[Long].collect().toSeq === Seq(-1L))
    val filesAfter = lists.inputFiles.length
    assert(filesAfter < filesBefore && filesAfter <= 16,
      s"$filesBefore files -> $filesAfter")
    // same quantizer, same members — serves are row-identical
    val after = Similarity.ivfTopKFromIndex(spark, path, queries, 5, nprobe = 4)
      .orderBy("q_id", "rank").collect().toSeq.map(_.toSeq)
    assert(after === before)
    // crash recovery: a compaction that died BETWEEN the two renames
    // (lists/ already moved to lists_old/, the complete compacted dir
    // still at lists_compacting/) is healed by the next call — swap
    // finished forward, leftovers cleared, serves still identical
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def p(s: String) = new org.apache.hadoop.fs.Path(s"$path/$s")
    spark.read.parquet(s"$path/lists")
      .write.partitionBy("c_id", "ingest_batch").parquet(s"$path/lists_compacting")
    require(fs.rename(p("lists"), p("lists_old")))
    Similarity.compactIvfIndex(spark, path)
    assert(!fs.exists(p("lists_old")) && !fs.exists(p("lists_compacting")))
    val healed = Similarity.ivfTopKFromIndex(spark, path, queries, 5, nprobe = 4)
      .orderBy("q_id", "rank").collect().toSeq.map(_.toSeq)
    assert(healed === before)
  }

  test("E12 filtered index on disk: (c_id, lbl) partition pruning, exhaustive regime ≡ exact filtered top-k, appends land in frozen buckets") {
    val real = Tables.embeddings(spark, sfDir)
    val isQ = col("vec_id") % 50 === 0
    val path = java.nio.file.Files.createTempDirectory("graft_ivf_flt").toString
    Similarity.writeIvfIndex(real, path, nlist = 16, trainIters = 5,
      labelBuckets = 8)
    val queries = real.filter(isQ).select("vec_id", "embedding", "label")
    // nprobe=2 widens by the FROZEN n_labels=10 to min(16, 20) = 16 —
    // exhaustive probing, and the query set spans every label, so the
    // serve must reproduce the exact filtered baseline row-for-row
    val fromIdx = Similarity.filteredTopKFromIndex(spark, path, queries, 5,
      nprobe = 2)
    val plan = fromIdx.queryExecution.executedPlan.toString
    // BOTH partition keys prune the list scan
    assert(plan.contains("PartitionFilters") && plan.contains("c_id") &&
      plan.contains("lbl"),
      s"expected c_id AND lbl partition filters on the lists scan:\n$plan")
    val a = fromIdx.orderBy("q_id", "rank").collect().toSeq.map(_.toSeq)
    val b = Similarity.filteredTopK(real, isQ, 5)
      .orderBy("q_id", "rank").collect().toSeq.map(_.toSeq)
    assert(a === b && a.nonEmpty)
    // the ~1/B claim, measured: a single-label query batch reads a
    // strict fraction of the files the unfiltered serve at the SAME
    // effective probe count reads (10 labels hash into 8 buckets, so
    // one label needs exactly one lbl= subdirectory per probed list)
    val oneLabel = real.filter(col("label") === 3 && isQ)
      .select("vec_id", "embedding", "label")
    val filtered = Similarity.filteredListFiles(spark, path, oneLabel,
      nprobe = 2) // widened to 16 = exhaustive
    val unfiltered = Similarity.probedListFiles(spark, path,
      oneLabel.select("vec_id", "embedding"), nprobe = 16)
    assert(filtered.nonEmpty &&
      filtered.forall(f => f.contains("c_id=") && f.contains("lbl=")))
    assert(filtered.toSet.subsetOf(unfiltered.toSet))
    assert(filtered.length * 4 <= unfiltered.length,
      s"label pruning read ${filtered.length}/${unfiltered.length} files — " +
        "expected ~1/8")
    // appends bucket with the FROZEN B from meta/: planted same-label
    // twins must surface at nprobe=1 (the appendToIvfIndex contract,
    // filtered edition), and replaying the batch must not duplicate
    val twins = real.filter(isQ)
      .withColumn("vec_id", col("vec_id") + lit(1000000L))
    Similarity.appendToIvfIndex(twins, path, ingestBatch = 0L)
    Similarity.appendToIvfIndex(twins, path, ingestBatch = 0L)
    assert(spark.read.parquet(s"$path/lists").count() ===
      real.count() + twins.count())
    val hits = Similarity.filteredTopKFromIndex(spark, path, queries, 1,
        nprobe = 1)
      .select("q_id", "n_id", "cos_sim").as[(Long, Long, Double)].collect()
    assert(hits.nonEmpty)
    hits.foreach { case (q, n, c) =>
      assert(n === q + 1000000L && c === 1.0, s"query $q") }
    // compaction preserves the lbl subpartitioning and the serve
    Similarity.compactIvfIndex(spark, path)
    val lists = spark.read.parquet(s"$path/lists")
    assert(lists.columns.contains("lbl"))
    assert(lists.count() === real.count() + twins.count())
    val afterCmp = Similarity.filteredTopKFromIndex(spark, path, queries, 5,
        nprobe = 2)
      .filter(col("n_id") < 1000000L) // twins now outrank the originals
      .orderBy("q_id", "rank").collect()
    assert(afterCmp.nonEmpty)
  }

  test("IVFPQ index append: stored-codebook codes stay comparable — twins at rank 1") {
    val real = Tables.embeddings(spark, sfDir)
      .filter(expr("aggregate(embedding, 0D, (a, x) -> a + x*x) > 0"))
    val isQ = col("vec_id") % 50 === 0
    val path = java.nio.file.Files.createTempDirectory("graft_ivfpq_app").toString
    Similarity.writeIvfPqIndex(real, path, nlist = 16, m = 8, ks = 16,
      trainIters = 5)
    val twins = real.filter(isQ)
      .withColumn("vec_id", col("vec_id") + lit(1000000L))
    Similarity.appendToIvfPqIndex(twins, path, ingestBatch = 0L)
    assert(spark.read.parquet(s"$path/lists").count() ===
      real.count() + twins.count())
    // twin codes equal the query's own codes, so ADC(query, twin) is
    // the minimum achievable — the shortlist keeps it and exact rerank
    // puts an exact duplicate at the top
    val hits = Similarity.ivfpqTopKFromIndex(spark, path,
        real.filter(isQ).select("vec_id", "embedding"), 1, nprobe = 1)
      .select("q_id", "n_id", "cos_sim").as[(Long, Long, Double)].collect()
    assert(hits.nonEmpty)
    // exactly the twin: no natural dups, self excluded by default
    hits.foreach { case (q, n, c) =>
      assert(n === q + 1000000L && c === 1.0, s"query $q") }
  }

  test("E2 lshTopK returns a subset ranking consistent with brute force within buckets") {
    val bf = Similarity.bruteForceTopK(emb, col("vec_id") === 0, 4)
      .select("n_id", "cos_sim").as[(Long, Double)].collect().toMap
    val lsh = Similarity.lshTopK(emb, col("vec_id") === 0, 4)
      .select("n_id", "cos_sim").as[(Long, Double)].collect()
    // every LSH hit carries the exact same cosine as brute force
    lsh.foreach { case (id, cs) => assert(bf(id) === cs) }
    // and the top brute-force hit shares the query's bucket (cos .994 → same signs)
    assert(lsh.map(_._1).contains(1L))
  }

  test("F28 mmrTopK: diversity beats a near-dup at λ=1/2, λ=1 is pure relevance") {
    // query [1,0,0]; A and A' are near-identical top hits, C is a
    // weaker but DIFFERENT answer — the page-of-copies setup MMR exists for
    val v = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f), "q"),
      (1L, Array(0.98f, 0.2f, 0.0f), "a"),   // A    cos≈0.98
      (2L, Array(0.97f, 0.22f, 0.0f), "a2"), // A'   cos≈0.975, sim(A,A')≈1
      (3L, Array(0.7f, 0.0f, 0.7f), "c")     // C    cos≈0.70, dissimilar to A
    ).toDF("vec_id", "embedding", "label")
    val mmr = Similarity.mmrTopK(v, col("vec_id") === 0, kCand = 3, kOut = 2)
      .select(col("doc_id"), col("rank")).as[(Long, Long)].collect().toMap
    // pick 1 = the top hit A; pick 2 = C, NOT the near-dup A'
    assert(mmr === Map(1L -> 1L, 3L -> 2L))
    // λ=1 (lamN=lamD): the diversity term vanishes — MMR IS the
    // relevance ranking, A' back at rank 2
    val rel = Similarity.mmrTopK(v, col("vec_id") === 0, kCand = 3, kOut = 2,
      lamN = 1, lamD = 1)
      .select(col("doc_id"), col("rank")).as[(Long, Long)].collect().toMap
    assert(rel.get(1L).contains(1L) && rel.get(2L).contains(2L))
    // real corpus: selected ⊆ candidates, ranks dense 1..kOut, and
    // pick 1 is always the global top hit
    val real = Tables.embeddings(spark, sfDir)
    val cand = Similarity.bruteForceTopK(real, col("vec_id") === 0, 20)
      .select("n_id").as[Long].collect().toSet
    val out = Similarity.mmrTopK(real, col("vec_id") === 0)
      .select(col("doc_id"), col("rank")).as[(Long, Long)].collect()
    assert(out.length === 10 && out.map(_._2).sorted.toSeq === (1L to 10L))
    assert(out.map(_._1).forall(cand.contains))
    val top1 = Similarity.bruteForceTopK(real, col("vec_id") === 0, 1)
      .select("n_id").as[Long].head()
    assert(out.find(_._2 === 1L).map(_._1).contains(top1))
  }

  test("mmrGreedy skips UNKNOWN sim pairs in the max (the serveSql mirror corner)") {
    // the r10 ADVICE corner: a lexical-only doc (10 — no vector) is
    // picked, and a later candidate's only KNOWN sims are negative.
    // The mirror takes max over EXISTING sim rows (coalesce to 0 only
    // when all are missing); injecting 0 for the missing pair would
    // floor the max at 0 and flip this argmax.
    val v = Seq(
      (1L, Array(1.0f, 0.0f), "a"),
      (2L, Array(-1.0f, 0.0f), "b"),  // cos(2,1) = -1
      (3L, Array(0.05f, 1.0f), "c")   // cos(3,1) ≈ +0.05
    ).toDF("vec_id", "embedding", "label")
    val cand = Seq(
      (0L, 10L, 2000000L), // lexical-only: no vector at all
      (0L, 1L, 1900000L),
      (0L, 3L, 900000L),
      (0L, 2L, 800000L)
    ).toDF("q_id", "n_id", "rel_u")
    val out = Similarity.mmrGreedy(spark,
        Similarity.preparedNonZeroFrame(v), cand, kOut = 3,
        lamN = 1, lamD = 2)
      .orderBy("rank")
      .select(col("doc_id"), col("mmr_score")).as[(Long, Double)].collect()
    // picks: 10 (pure relevance), 1 (no known sims to 10 → penalty 0),
    // then 2 — its known sim is cos(2,1) = -1, so its objective is
    // 800000 − (−1000000) = 1.8e6, beating 3's ≈ 850k. The old
    // inject-0 spelling would have scored 2 at 800000/2e6 = 0.4 and
    // picked 3 instead.
    assert(out.map(_._1).toSeq === Seq(10L, 1L, 2L))
    assert(out(2)._2 === 1800000.0 / 2e6)
  }

  test("MMR sim matrix: the driver's sim_u ≡ the distributed join's, bit for bit, negative cosines included") {
    val rnd = new scala.util.Random(11)
    val n = 4200
    val base = (0 until n).map(i =>
      (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat), "x"))
    // an exact opposite of vector 0 (cos −1) and a copy of vector 1 (cos 1)
    val vs = base ++ Seq((n.toLong, base(0)._2.map(-_), "x"),
      (n + 1L, base(1)._2.clone(), "x"))
    val p = Similarity.preparedNonZeroFrame(vs.toDF("vec_id", "embedding", "label"))
    // ten candidates per query, the two specials with their twins in
    // query 0, and a candidate with no vector in query 1
    val rels = (0L until n).map(i => (i / 10, i, 0L)) ++
      Seq((0L, n.toLong, 0L), (0L, n + 1L, 0L), (1L, 99999L, 0L))
    // n + 3 distinct candidates are past the id-filter ceiling: this
    // call joins distributed; each chunk of 200 queries (≤ 2002
    // candidates) is under it and computes its pairs on the driver
    val joined = Similarity.mmrSims(p, rels)
    val driver = rels.groupBy(_._1).toSeq.sortBy(_._1).grouped(200)
      .map(qs => Similarity.mmrSims(p, qs.flatMap(_._2)))
      .reduce(_ ++ _)
    assert(driver === joined)
    assert(driver.size === 419 * 45 + 66)
    assert(driver((0L, 0L, n.toLong)) === -1000000L && driver((0L, 1L, n + 1L)) === 1000000L)
    assert(driver.values.count(_ < 0) > driver.size / 3)
  }

  test("E10 knnGraph: complete ranked graph, consistent with E1 on its query set") {
    val real = Tables.embeddings(spark, sfDir)
    val k = 5
    val g = Similarity.knnGraph(real, k)
    val n = real.count()
    // every vector is a source with exactly k ranked neighbors,
    // ranks dense 1..k, never a self-edge
    assert(g.count() === n * k)
    assert(g.select("q_id").distinct().count() === n)
    assert(g.filter(col("q_id") === col("n_id")).count() === 0L)
    val badRank = g.groupBy("q_id")
      .agg(countDistinct(col("rank")).as("nr"), max(col("rank")).as("mx"))
      .filter(col("nr") =!= k || col("mx") =!= k)
    assert(badRank.count() === 0L)
    // restricted to E1's query sample, the graph IS bruteForceTopK —
    // one spelling, two entry points
    val e1 = Similarity.bruteForceTopK(real, col("vec_id") % 50 === 0, k)
      .select(col("q_id"), col("n_id"), col("cos_sim"), col("rank").cast("long"))
      .as[(Long, Long, Double, Long)].collect().toSet
    val gq = g.filter(col("q_id") % 50 === 0)
      .select(col("q_id"), col("n_id"), col("cos_sim"), col("rank"))
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(gq === e1)
  }

  test("E10b knnGraphAnn: exact scores on every edge, nlist=1 reproduces the graph") {
    val real = Tables.embeddings(spark, sfDir)
    val k = 5
    val exact = Similarity.knnGraph(real, k)
      .select(col("q_id"), col("n_id"), col("cos_sim"))
      .as[(Long, Long, Double)].collect()
      .map { case (q, nn, c) => (q, nn) -> c }.toMap
    val ann = Similarity.knnGraphAnn(real, k)
      .select(col("q_id"), col("n_id"), col("cos_sim"))
      .as[(Long, Long, Double)].collect()
    // every recovered true edge carries the IDENTICAL exact cosine
    // (candidates are exactly verified — coverage, not scores, is
    // what list bucketing trades)
    ann.foreach { case (q, nn, c) =>
      exact.get((q, nn)).foreach(t => assert(t === c, s"edge ($q,$nn)")) }
    val recall = ann.count { case (q, nn, _) => exact.contains((q, nn)) }
      .toDouble / exact.size
    info(f"E10b edge recall vs exact graph, assign=2: $recall%.3f")
    assert(recall >= 0.8, f"recall $recall%.3f below spec floor 0.8")
    // one list = all candidates: the ann graph IS the exact graph,
    // ranks and all (same tie-break, same rounding)
    val annFull = Similarity.knnGraphAnn(real, k, nlist = 1, assign = 1)
      .select(col("q_id"), col("n_id"), col("cos_sim"), col("rank"))
      .as[(Long, Long, Double, Long)].collect().toSet
    val exactFull = Similarity.knnGraph(real, k)
      .select(col("q_id"), col("n_id"), col("cos_sim"), col("rank"))
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(annFull === exactFull)
    // a planted zero vector surfaces on neither side of any edge
    val dim = real.select(size(col("embedding"))).as[Int].head()
    val zero = spark.range(1).select(lit(999999L).as("vec_id"),
      array_repeat(lit(0.0f), dim).as("embedding"), lit(0).as("label"))
    val z = Similarity.knnGraphAnn(real.unionByName(zero), k)
      .filter(col("q_id") === 999999L || col("n_id") === 999999L)
    assert(z.count() === 0L)
  }

  test("E11 knnComponents: labels are exact connected components of the mutual graph") {
    val real = Tables.embeddings(spark, sfDir)
    val k = 5
    val g = Similarity.knnGraph(real, k)
    val comp = Similarity.knnComponents(real, g)
    val n = real.count()
    // one row per vector — zero-norm vectors (absent from the graph)
    // included as singletons
    assert(comp.count() === n)
    val dim = real.select(size(col("embedding"))).as[Int].head()
    val zero = spark.range(1).select(lit(999999L).as("vec_id"),
      array_repeat(lit(0.0f), dim).as("embedding"), lit(0).as("label"))
    val withZero = real.unionByName(zero)
    val zRow = Similarity.knnComponents(withZero,
        Similarity.knnGraph(withZero, k))
      .filter(col("vec_id") === 999999L)
      .select(col("cluster_id"), col("cluster_size"))
      .as[(Long, Long)].head()
    assert(zRow === ((999999L, 1L)))
    // cluster_size is the exact member count of its label
    val sizeBad = comp.groupBy("cluster_id")
      .agg(count(lit(1)).as("cnt"), max(col("cluster_size")).as("mx"),
        countDistinct(col("cluster_size")).as("nd"))
      .filter(col("cnt") =!= col("mx") || col("nd") =!= 1L)
    assert(sizeBad.count() === 0L)
    // ground truth by driver-side union-find over the SAME mutual
    // edge list (tiny at spec scale): labels must match exactly —
    // over-merged AND split components both fail
    val edges = g.select(col("q_id"), col("n_id"))
      .as[(Long, Long)].collect().toSet
    val mutual = edges.filter { case (a, b) => a < b && edges.contains((b, a)) }
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    mutual.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val got = comp.select(col("vec_id"), col("cluster_id"))
      .as[(Long, Long)].collect().toMap
    got.foreach { case (v, lbl) => assert(lbl === find(v), s"vec $v") }
  }

  /** Driver-side reference for E13's exact integral recurrence:
    * the same floor-division arithmetic over a collected edge list. */
  private def pagerankRef(nodes: Seq[Long], edges: Seq[(Long, Long)],
                          iters: Int, dampN: Long = 85,
                          dampD: Long = 100): Map[Long, Long] = {
    val base = (dampD - dampN) * 1000000L / dampD
    val deg = edges.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
    var r = nodes.map(_ -> 1000000L).toMap
    for (_ <- 1 to iters) {
      val acc = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
      edges.foreach { case (s, d) => acc(d) += r(s) / deg(s) }
      r = nodes.map(v => v -> (base + dampN * acc(v) / dampD)).toMap
    }
    r
  }

  test("E13 knnPagerank: matches the driver-side integral recurrence on the real graph") {
    val real = Tables.embeddings(spark, sfDir)
    val g = Similarity.knnGraph(real, 5)
    val pr = Similarity.knnPagerank(real, g)
    val n = real.count()
    // one row per vector — zero-norm dangling rows included
    assert(pr.count() === n)
    val edges = g.select(col("q_id"), col("n_id"))
      .as[(Long, Long)].collect().toSeq
    val nodes = real.select(col("vec_id")).as[Long].collect().toSeq
    val want = pagerankRef(nodes, edges, iters = 10)
    val got = pr.select(col("vec_id"),
        round(col("pagerank") * 1e6).cast("long").as("pr6"))
      .as[(Long, Long)].collect().toMap
    assert(got.size === nodes.size)
    got.foreach { case (v, p) => assert(p === want(v), s"vec $v") }
    // total mass never exceeds the initial n·1e6 (dangling mass only
    // leaks, the damped inflow never mints)
    assert(got.values.sum <= n * 1000000L)
  }

  test("E13 knnPagerank: fixed points — a 2-cycle holds mass 1.0, a dangling node holds base") {
    // A↔B is a closed regular graph: r = base + 85·1e6/100 = 1e6
    // every round; C has no edges: base after round 1
    val v = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(1.0f, 0.0f)),
      (3L, Array(0.0f, 0.0f))).toDF("vec_id", "embedding")
    val g = Seq((1L, 2L), (2L, 1L)).toDF("q_id", "n_id")
    val out = Similarity.knnPagerank(v, g)
      .select(col("vec_id"), col("pagerank"))
      .as[(Long, Double)].collect().toMap
    assert(out === Map(1L -> 1.0, 2L -> 1.0, 3L -> 0.15))
    // a pure sink accumulates: hub fed by two spokes outranks them
    val g2 = Seq((1L, 3L), (2L, 3L)).toDF("q_id", "n_id")
    val out2 = Similarity.knnPagerank(v, g2)
      .select(col("vec_id"), col("pagerank"))
      .as[(Long, Double)].collect().toMap
    assert(out2(3L) > out2(1L) && out2(1L) === out2(2L) && out2(1L) === 0.15)
    // knob validation is loud
    intercept[IllegalArgumentException](
      Similarity.knnPagerank(v, g, iters = 0))
    intercept[IllegalArgumentException](
      Similarity.knnPagerank(v, g, dampN = 101, dampD = 100))
  }

  test("E13b knnPagerank over the ANN graph: top-decile centrality agreement") {
    val real = Tables.embeddings(spark, sfDir)
    val exact = Similarity.knnPagerank(real, Similarity.knnGraph(real, 5))
      .select(col("vec_id"), col("pagerank")).as[(Long, Double)].collect()
    val ann = Similarity.knnPagerank(real, Similarity.knnGraphAnn(real, 5))
      .select(col("vec_id"), col("pagerank")).as[(Long, Double)].collect()
    assert(ann.length === exact.length)
    def topDecile(xs: Array[(Long, Double)]): Set[Long] =
      xs.sortBy { case (id, p) => (-p, id) }
        .take(math.max(1, xs.length / 10)).map(_._1).toSet
    val (te, ta) = (topDecile(exact), topDecile(ann))
    val agree = te.intersect(ta).size.toDouble / te.size
    info(f"E13b top-decile agreement vs exact graph: $agree%.3f")
    assert(agree >= 0.7, f"agreement $agree%.3f below spec floor 0.7")
  }

  test("E14 graphTopK: beam search over the kNN graph — exact scores, monotone in hops, deterministic") {
    val real = Tables.embeddings(spark, sfDir)
    val isQ = col("vec_id") % 50 === 0
    val k = 5
    val g = Similarity.knnGraph(real, k)
    val exact = Similarity.bruteForceTopK(real, isQ, k)
      .select(col("q_id"), col("n_id"), col("cos_sim"))
      .as[(Long, Long, Double)].collect()
    val exactMap = exact.map { case (q, nn, c) => (q, nn) -> c }.toMap
    val got = Similarity.graphTopK(real, g, isQ, k)
      .select(col("q_id"), col("n_id"), col("cos_sim"), col("rank"))
      .as[(Long, Long, Double, Long)].collect()
    // exactly k ranked rows per query, never a self-edge
    val nQ = exact.map(_._1).distinct.length
    assert(got.length === nQ * k)
    assert(got.forall { case (q, nn, _, _) => q != nn })
    // every recovered true edge carries the IDENTICAL exact cosine
    got.foreach { case (q, nn, c, _) =>
      exactMap.get((q, nn)).foreach(t => assert(t === c, s"edge ($q,$nn)")) }
    val recall = got.count { case (q, nn, _, _) =>
      exactMap.contains((q, nn)) }.toDouble / exact.length
    info(f"E14 recall vs brute force (exact graph, beam=32, hops=6): $recall%.3f")
    assert(recall >= 0.7, f"recall $recall%.3f below spec floor 0.7")
    // deterministic: a re-run is bit-identical
    val again = Similarity.graphTopK(real, g, isQ, k)
      .select(col("q_id"), col("n_id"), col("cos_sim"), col("rank"))
      .as[(Long, Long, Double, Long)].collect()
    assert(again.sortBy(r => (r._1, r._4)).toSeq ===
      got.sortBy(r => (r._1, r._4)).toSeq)
    // monotone: more hops never lowers any query's best-k cosine sum
    def massOf(hops: Int): Map[Long, Double] =
      Similarity.graphTopK(real, g, isQ, k, hops = hops)
        .groupBy("q_id").agg(sum("cos_sim").as("m"))
        .as[(Long, Double)].collect().toMap
    val (m2, m6) = (massOf(2), massOf(6))
    m2.foreach { case (q, m) => assert(m6(q) >= m - 1e-9, s"query $q") }
    // a planted zero vector never surfaces (excluded from p and graph)
    val dim = real.select(size(col("embedding"))).as[Int].head()
    val zero = spark.range(1).select(lit(999999L).as("vec_id"),
      array_repeat(lit(0.0f), dim).as("embedding"), lit(0).as("label"))
    val z = Similarity.graphTopK(real.unionByName(zero), g, isQ, k)
      .filter(col("n_id") === 999999L)
    assert(z.count() === 0L)
    // knob validation is loud
    intercept[IllegalArgumentException](
      Similarity.graphTopK(real, g, isQ, k, beam = k - 1))
    intercept[IllegalArgumentException](
      Similarity.graphTopK(real, g, isQ, k, hops = 0))
  }

  test("E12 filteredTopK: per-label restriction of E1, exact; E12b widened probe reproduces it") {
    val real = Tables.embeddings(spark, sfDir)
    val k = 5
    val isQ = col("vec_id") % 50 === 0
    val f = Similarity.filteredTopK(real, isQ, k)
    // every neighbor carries the query's own label
    val lbl = real.select(col("vec_id"), col("label"))
    val crossLabel = f
      .join(lbl.select(col("vec_id").as("q_id"), col("label").as("ql")), Seq("q_id"))
      .join(lbl.select(col("vec_id").as("n_id"), col("label").as("nl")), Seq("n_id"))
      .filter(col("ql") =!= col("nl"))
    assert(crossLabel.count() === 0L)
    // per label, the filtered serve IS bruteForceTopK over that
    // label's sub-corpus — one exactness pin per stratum
    val labels = real.select(col("label")).distinct().as[Int].collect().sorted
    labels.take(3).foreach { l =>
      val sub = Similarity.bruteForceTopK(
          real.filter(col("label") === l), isQ, k)
        .select(col("q_id"), col("n_id"), col("cos_sim"), col("rank").cast("long"))
        .as[(Long, Long, Double, Long)].collect().toSet
      val viaFilter = f
        .join(lbl.select(col("vec_id").as("q_id"), col("label")), Seq("q_id"))
        .filter(col("label") === l)
        .select(col("q_id"), col("n_id"), col("cos_sim"), col("rank").cast("long"))
        .as[(Long, Long, Double, Long)].collect().toSet
      assert(viaFilter === sub, s"label $l")
    }
    // E12b: at spec scale the selectivity-widened probe is exhaustive
    // (probeN = nlist), so the ivf serve reproduces the exact result,
    // ranks and all
    val ivf = Similarity.ivfTopKFiltered(real, isQ, k)
      .select(col("q_id"), col("n_id"), col("cos_sim"), col("rank").cast("long"))
      .as[(Long, Long, Double, Long)].collect().toSet
    val exact = f
      .select(col("q_id"), col("n_id"), col("cos_sim"), col("rank").cast("long"))
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(ivf === exact)
  }
}
