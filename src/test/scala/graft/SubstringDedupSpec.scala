package graft

import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** D11 substringDedup: the verbatim-run criterion, winnowing's
  * alignment-independent detection guarantee (the property a
  * fixed-stride sample lacks — an earlier stride draft of this
  * operator failed exactly this sweep), per-doc fingerprint dedup,
  * and the boilerplate cap. */
class SubstringDedupSpec extends SparkSpec {
  import spark.implicits._

  private def words(n: Int, tag: String) =
    (1 to n).map(i => s"$tag$i").mkString(" ")

  test("D11 pairs docs sharing a verbatim run; scattered overlap does not pair") {
    val run = words(23, "shared") // k+w−1 = 23-token verbatim run
    val docs = Seq(
      (1L, s"${words(10, "a")} $run ${words(5, "b")}"),
      (2L, s"${words(7, "c")} $run"),
      // doc 3 holds every shared token but interleaved — no 16-run
      (3L, (1 to 23).map(i => s"shared$i x$i").mkString(" ")),
      (4L, words(40, "d"))
    ).toDF("doc_id", "text")
    val pairs = Dedup.substringDedup(docs, k = 16, w = 8)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((1L, 2L)))
  }

  test("D11 winnowing guarantee: a run of ≥ k+w−1 tokens is caught at EVERY alignment") {
    val k = 8; val w = 4
    val run = words(k + w - 1, "r") // 11 tokens: the guaranteed minimum
    // shift the run through alignment offsets on one side — content-
    // defined selection must catch all of them (a stride-4 sample
    // catches only the offsets that happen to align)
    (0 to 6).foreach { off =>
      val docs = Seq(
        (1L, s"${words(off, "pad")} $run"),
        (2L, s"${words(13, "z")} $run")
      ).toDF("doc_id", "text")
      val n = Dedup.substringDedup(docs, k, w).count()
      assert(n === 1L, s"run missed at alignment offset $off")
    }
  }

  test("D11 a doc with fewer than w window hashes fingerprints its overall min") {
    // two IDENTICAL 16-token docs: one window hash each (below w), the
    // single overall-min fingerprint must match. (A short doc against
    // a LONGER doc is deliberately NOT guaranteed — the run is below
    // k+w−1, winnowing may select a different window on the long side.)
    val run = words(16, "w")
    val docs = Seq((1L, run), (2L, run)).toDF("doc_id", "text")
    val out = Dedup.substringDedup(docs, k = 16, w = 8)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    assert(out === Set((1L, 2L)))
  }

  test("D11 counts a fingerprint repeated inside one doc once per pair") {
    val run = words(23, "w") // k+w−1: detection guaranteed
    val docs = Seq(
      (1L, s"$run $run"), // the run's fingerprints recur in doc 1
      (2L, run)
    ).toDF("doc_id", "text")
    val shared = Dedup.substringDedup(docs, k = 16, w = 8)
      .filter($"doc_a" === 1L && $"doc_b" === 2L)
      .select($"n_shared").as[Long].head()
    // doc 2 emits exactly one fingerprint (8 hashes → one winnow
    // window); dedup inside doc 1 caps the shared count at 1
    assert(shared === 1L)
  }

  test("D11 maxDf drops boilerplate fingerprints shared by more than maxDf docs") {
    val header = words(23, "hdr")
    val docs = (1L to 6L).map(i => (i, s"$header ${words(30, s"u$i")}"))
      .toDF("doc_id", "text")
    // uncapped: the 6-doc header run makes all 15 pairs
    assert(Dedup.substringDedup(docs, 16, 8).count() === 15L)
    // capped at df 3: the header fingerprints are boilerplate — no
    // doc pair may survive on header-only evidence
    assert(Dedup.substringDedup(docs, 16, 8, maxDf = 3L).count() === 0L)
  }

  test("D11 catalog entry finds the planted duplicates") {
    val pairs = SparkEntry.query("dedup_substring").build(spark, sfDir)
    assert(pairs.count() > 0L, "planted near-duplicates must share 23-token runs")
  }

  test("D11 capped catalog entry: cap engages, survivors are a subset") {
    val capped = SparkEntry.query("dedup_substring_capped").build(spark, sfDir)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    val uncapped = SparkEntry.query("dedup_substring").build(spark, sfDir)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    assert(capped.nonEmpty, "capped flavor must keep the non-boilerplate pairs")
    assert(capped.subsetOf(uncapped),
      "dropping fingerprints can only remove pairs, never invent them")
    assert(capped !== uncapped,
      "maxDf=2 should bite on this corpus (df tail reaches 3+)")
  }

  test("D11 segmented winnowing ≡ unsegmented, at every segment size") {
    val k = 4; val w = 3 // min guaranteed run k+w−1 = 6
    val docs = Seq(
      // long docs spanning many segments at the small sizes below
      (1L, s"${words(200, "a")} ${words(60, "sh")} ${words(150, "b")}"),
      (2L, s"${words(90, "c")} ${words(60, "sh")}"),
      (3L, words(2, "tiny")),  // < k tokens: filtered out entirely
      (4L, words(4, "min")),   // nh = 1 < w: single truncated frame
      (5L, words(300, "e"))
    ).toDF("doc_id", "text")
    val ref = Dedup.winnowFingerprints(docs, k, w, maxSegment = 1 << 20)
      .as[(Long, String)].collect().toSet
    assert(ref.nonEmpty)
    // k+w is the legal minimum (stride 2); 11/16/64 exercise ragged
    // last segments and exact-tiling boundaries
    for (seg <- Seq(k + w, 11, 16, 64)) {
      val got = Dedup.winnowFingerprints(docs, k, w, maxSegment = seg)
        .as[(Long, String)].collect().toSet
      assert(got === ref, s"fingerprint set diverged at maxSegment=$seg")
    }
    val unseg = Dedup.substringDedup(docs, k, w)
      .orderBy("doc_a", "doc_b").collect().toSeq.map(_.toSeq)
    val seg16 = Dedup.substringDedup(docs, k, w, maxSegment = 16)
      .orderBy("doc_a", "doc_b").collect().toSeq.map(_.toSeq)
    assert(unseg === seg16)
  }

  // -- the deploy flow: materialized bucketed fingerprint table ------

  private def corpusDocs = {
    // docs 1–8: three substring-duplicate groups (1,2), (3,4,5), plus
    // singletons; every run ≥ k+w−1 = 11 tokens at k=8, w=4
    Seq(
      (1L, s"${words(20, "p")} ${words(12, "g1")}"),
      (2L, s"${words(12, "g1")} ${words(15, "q")}"),
      (3L, s"${words(12, "g2")} ${words(9, "r")}"),
      (4L, s"${words(7, "s")} ${words(12, "g2")}"),
      (5L, s"${words(12, "g2")} ${words(30, "t")}"),
      (6L, words(25, "u")),
      (7L, words(25, "v")),
      (8L, words(25, "x"))
    ).toDF("doc_id", "text")
  }

  test("D11 fingerprint table: same pairs, zero exchange on wh; increments + append") {
    val wh = java.nio.file.Files.createTempDirectory("graft_fp").toString
    Dedup.writeFingerprintTable(corpusDocs, "fps_b", s"$wh/fps_b",
      buckets = 8, k = 8, w = 4)

    // the candidate self-join reads co-located buckets — no Exchange
    // on the fingerprint key anywhere in the plan (the BucketedJoinSpec
    // criterion; only the pair groupBy may shuffle)
    val fromTable = Dedup.substringFromTable(spark, "fps_b")
    val exchanges = "Exchange hashpartitioning\\(([a-z_#0-9]+)".r
      .findAllMatchIn(fromTable.queryExecution.executedPlan.toString)
      .map(_.group(1)).toList
    assert(!exchanges.exists(_.startsWith("wh")),
      s"fingerprint key should be co-located by bucketing, got: $exchanges")

    // identical pair set vs the in-memory flow
    val a = fromTable.orderBy("doc_a", "doc_b").collect().toSeq.map(_.toSeq)
    val b = Dedup.substringDedup(corpusDocs, 8, 4)
      .orderBy("doc_a", "doc_b").collect().toSeq.map(_.toSeq)
    assert(a === b)
    assert(a.nonEmpty)

    // incremental: new batch vs table ≡ full recompute restricted to
    // (corpus, new) cross pairs — doc 21 rejoins group g2, doc 22 is novel
    val batch = Seq(
      (21L, s"${words(12, "g2")} ${words(18, "y")}"),
      (22L, words(25, "z"))
    ).toDF("doc_id", "text")
    val inc = Dedup.incrementalSubstring(spark, "fps_b", batch, 8, 4)
      .orderBy("doc_a", "doc_b").collect().toSeq.map(_.toSeq)
    val fullCross = Dedup.substringDedup(corpusDocs.unionByName(batch), 8, 4)
      .filter($"doc_a" <= 8L && $"doc_b" >= 21L)
      .orderBy("doc_a", "doc_b").collect().toSeq.map(_.toSeq)
    assert(inc === fullCross)
    assert(inc.nonEmpty, "doc 21 must pair with g2's corpus members")

    // append: the next increment sees the appended batch
    Dedup.appendToFingerprintTable(batch, "fps_b", 0L, k = 8, w = 4)
    val rowsAfterAppend = spark.table("fps_b").count()
    val batch2 = Seq((31L, s"${words(8, "w2")} ${words(12, "g2")}"))
      .toDF("doc_id", "text")
    val inc2 = Dedup.incrementalSubstring(spark, "fps_b", batch2, 8, 4)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    assert(inc2.contains((21L, 31L)),
      s"increment must see the appended batch's doc 21, got $inc2")

    // replay idempotence: re-appending the same ingest batch REPLACES
    // its partition — row count unchanged, no duplicated fingerprints
    Dedup.appendToFingerprintTable(batch, "fps_b", 0L, k = 8, w = 4)
    assert(spark.table("fps_b").count() === rowsAfterAppend)

    spark.sql("DROP TABLE IF EXISTS fps_b")
  }

  test("D11 capped fingerprint table: born capped, hot list governs batches") {
    val wh = java.nio.file.Files.createTempDirectory("graft_fp_cap").toString
    // a boilerplate page repeated verbatim in 6 docs + one genuine dup
    // pair. The boilerplate docs are IDENTICAL (no unique tail) so
    // every one of their fingerprints has df = 6 — deterministic hot
    // membership (a unique tail would let winnowing select header
    // hashes doc-dependently near the boundary, df 1..6)
    val header = words(12, "hdr")
    val docs = ((1L to 6L).map(i => (i, header)) :+
      (7L, s"${words(12, "dup")} ${words(9, "m")}") :+
      (8L, s"${words(5, "n")} ${words(12, "dup")}"))
      .toDF("doc_id", "text")
    Dedup.writeFingerprintTable(docs, "fps_c", s"$wh/fps_c",
      buckets = 8, k = 8, w = 4, maxDf = 3L)

    // born capped: no fingerprint above df 3 in the table; the hot
    // side table holds the dropped header fingerprints
    val tableMaxDf = spark.table("fps_c").groupBy("wh")
      .agg(count(lit(1)).as("df")).agg(max($"df")).as[Long].head()
    assert(tableMaxDf <= 3L)
    assert(spark.table("fps_c_hot").count() > 0)

    // reading the capped table ≡ the in-memory capped flow, and the
    // header evidence is gone while the genuine pair survives
    val a = Dedup.substringFromTable(spark, "fps_c")
      .orderBy("doc_a", "doc_b").collect().toSeq.map(_.toSeq)
    val b = Dedup.substringDedup(docs, 8, 4, maxDf = 3L)
      .orderBy("doc_a", "doc_b").collect().toSeq.map(_.toSeq)
    assert(a === b)
    assert(a.map(r => (r(0), r(1))) === Seq((7L, 8L)))

    // a batch doc made of pure boilerplate pairs with NOTHING (its
    // fingerprints die against the frozen hot list); a doc sharing a
    // unique run still pairs
    val batch = Seq(
      (41L, s"$header ${words(3, "pad")}"),
      (42L, s"${words(12, "dup")} ${words(4, "k")}")
    ).toDF("doc_id", "text")
    val inc = Dedup.incrementalSubstring(spark, "fps_c", batch, 8, 4,
      hotTable = Some("fps_c_hot"))
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    assert(!inc.exists(_._2 == 41L),
      s"boilerplate-only batch doc must not pair, got $inc")
    assert(inc.contains((7L, 42L)) && inc.contains((8L, 42L)),
      s"unique-run batch doc must pair with 7 and 8, got $inc")

    // an uncapped rebuild drops the stale _hot companion
    Dedup.writeFingerprintTable(docs, "fps_c", s"$wh/fps_c",
      buckets = 8, k = 8, w = 4)
    assert(!spark.catalog.tableExists("fps_c_hot"),
      "stale _hot companion survived an uncapped rebuild")

    spark.sql("DROP TABLE IF EXISTS fps_c")
    spark.sql("DROP TABLE IF EXISTS fps_c_hot")
  }
}
