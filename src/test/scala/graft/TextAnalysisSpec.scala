package graft

import org.apache.spark.sql.functions._
import graft.operators.TextAnalysis
import graft.functions.TextFunctions

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  test("tokens lowercases, collapses punctuation runs, drops empties") {
    val out = Seq("  Hello,  WORLD!! 42 ").toDF("text")
      .select(TextFunctions.tokens(col("text")).as("t"))
      .as[Seq[String]].head()
    assert(out === Seq("hello", "world", "42"))
  }

  test("grams3 emits n-2 shingles, empty below 3 tokens") {
    val df = Seq("a b c d", "a b").toDF("text")
      .select(TextFunctions.grams3(TextFunctions.tokens(col("text"))).as("g"))
    val out = df.as[Seq[String]].collect()
    assert(out(0) === Seq("a b c", "b c d"))
    assert(out(1) === Seq.empty)
  }

  test("F1 langId picks the max-hit language with list-order tie-break") {
    val df = Seq(
      (1L, "the cat and the dog is in the house"),
      (2L, "der hund und die katze ist ein tier"),
      (3L, "xyzzy plugh")  // zero hits everywhere → first list entry wins
    ).toDF("doc_id", "text")
    val out = TextAnalysis.langId(df).orderBy("doc_id")
      .select("pred_lang").as[String].collect()
    assert(out.toSeq === Seq("en", "de", "en"))
  }

  test("F2 qualityScore components and formula") {
    val df = Seq((1L, "the fox is 42.")).toDF("doc_id", "text")
    val r = TextAnalysis.qualityScore(df).head()
    assert(r.getAs[Int]("n_chars_c") === 14)
    assert(r.getAs[Int]("wc") === 4)          // the fox is 42
    assert(r.getAs[Int]("stop_hits") === 2)   // the, is
    assert(r.getAs[Int]("digit_chars") === 2)
    assert(r.getAs[Int]("punct_chars") === 1)
    val score = 0.3 * math.min(1.0, 4 / 120.0) + 0.3 * (2.0 / 4) +
      0.2 * (1.0 - 2.0 / 14) + 0.2 * (1.0 - 1.0 / 14)
    assert(math.abs(r.getAs[Double]("score") - score) < 1e-12)
  }

  test("F3 tokenCount: whitespace vs BPE-ish lexer") {
    val df = Seq((1L, "don't stop 123abc")).toDF("doc_id", "text")
    val r = TextAnalysis.tokenCount(df).head()
    assert(r.getAs[Int]("ws_tokens") === 4)  // don t stop 123abc
    // don | ' | t | stop | 123 | abc
    assert(r.getAs[Int]("bpe_tokens") === 6)
  }

  test("F4 fingerprint is invariant to case/punctuation/spacing jitter") {
    val df = Seq((1L, "Hello,   World!"), (2L, "hello world"), (3L, "other")).toDF("doc_id", "text")
    val fps = TextAnalysis.fingerprint(df).orderBy("doc_id")
      .select("fingerprint").as[String].collect()
    assert(fps(0) === fps(1))
    assert(fps(0) !== fps(2))
  }

  test("F11 piiRedact: planted PII counted and masked, clean text untouched") {
    val docs = Seq(
      (1L, "mail a.b@c.com or x@y.org, ip 10.0.0.1, call +1 (555) 123-4567 now"),
      (2L, "perfectly clean prose with no identifiers at all"),
      // an @ with no alpha TLD is NOT an email; the dotted quad inside
      // still redacts as an IP (staged most-specific-first semantics)
      (3L, "ping root@10.0.0.2 twice")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.piiRedact(docs)
      .orderBy("doc_id")
      .select("n_emails", "n_ips", "n_phones", "text_clean")
      .as[(Int, Int, Int, String)].collect()
    assert(out(0) === ((2, 1, 1,
      "mail [EMAIL] or [EMAIL], ip [IP], call [PHONE] now")))
    assert(out(1) === ((0, 0, 0,
      "perfectly clean prose with no identifiers at all")))
    assert(out(2) === ((0, 1, 0, "ping root@[IP] twice")))
  }

  test("F10 compressionRatio: repetitive text compresses below varied text, deterministic") {
    val df = Seq(
      (1L, "spam spam spam spam spam spam spam spam spam spam spam spam"),
      (2L, "the quick brown fox jumps over one lazy dog near a riverbank"),
      (3L, "")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.compressionRatio(df).orderBy("doc_id")
      .select("doc_id", "n_bytes", "compressed_bytes", "comp_ratio")
      .as[(Long, Long, Long, Double)].collect()
    assert(out(0)._4 < out(1)._4)  // repetition compresses harder
    assert(out(2)._2 === 0L && out(2)._4 === 1.0) // empty: ratio pinned to 1
    assert(out(0)._2 === 59L) // 12×"spam" + 11 spaces
    // partition-invariant (Deflater state is per-partition but reset per row)
    val b = TextAnalysis.compressionRatio(df.repartition(3)).orderBy("doc_id")
      .select("doc_id", "n_bytes", "compressed_bytes", "comp_ratio")
      .as[(Long, Long, Long, Double)].collect()
    assert(out.toSeq === b.toSeq)
  }

  test("F16 lmScore: hand-computed add-k bigram log-likelihoods, NULL below 2 tokens") {
    // corpus: uni a:3 b:3 x:1 → V=3; big (a,b):3 (b,a):1; k=0.5
    //   p(b|a) = 3.5/4.5 → ln = −0.2513 (4 dp)
    //   p(a|b) = 1.5/4.5 → ln = −1.0986
    val docs = Seq(
      (1L, "a b a b"),   // bigrams (a,b)(b,a)(a,b) → mean = −0.5337
      (2L, "a b"),       // one bigram → −0.2513
      (3L, "x")          // <2 tokens → 0 bigrams, NULL score
    ).toDF("doc_id", "text")
    val out = TextAnalysis.lmScore(docs).orderBy("doc_id")
      .collect().toSeq.map(_.toSeq)
    // doc 1: (−0.2513 − 1.0986 − 0.2513) / 3 = −0.53373̄ → −0.5337
    assert(out === Seq(
      Seq(1L, 3L, -0.5337),
      Seq(2L, 1L, -0.2513),
      Seq(3L, 0L, null)))
  }

  test("F16 deploy flow: frozen model reproduces self-scores; OOV backs off to 1/V") {
    import graft.operators.TextAnalysis
    val wh = java.nio.file.Files.createTempDirectory("graft_lm").toString
    val corpus = Tables.documents(spark, sfDir).filter(col("doc_id") < 200)
    TextAnalysis.writeLmModel(corpus, "lm_m", s"$wh/lm_m", buckets = 4)

    // scoring the training corpus against its own frozen model is
    // exactly the one-pass self-score
    val a = TextAnalysis.lmScoreAgainst(spark, "lm_m", corpus)
      .orderBy("doc_id").collect().toSeq.map(_.toSeq)
    val b = TextAnalysis.lmScore(corpus)
      .orderBy("doc_id").collect().toSeq.map(_.toSeq)
    assert(a === b)

    // a fully-OOV arrival: every bigram and history unseen → each
    // p = k/(kV) = 1/V, so the score is round(ln(1/V)·1e4)/1e4
    val v = spark.table("lm_m_meta").select("v").as[Long].head()
    val oov = Seq((9000L, "zzqq wwrr zzqq")).toDF("doc_id", "text")
    val got = TextAnalysis.lmScoreAgainst(spark, "lm_m", oov)
      .select("n_bigrams", "lm_score").as[(Long, Double)].head()
    val expected = -math.rint(-math.log(1.0 / v) * 1e4) / 1e4
    assert(got === ((2L, expected)))

    spark.sql("DROP TABLE IF EXISTS lm_m_uni")
    spark.sql("DROP TABLE IF EXISTS lm_m_big")
    spark.sql("DROP TABLE IF EXISTS lm_m_meta")
  }

  test("F26 ccnet buckets match the integer-threshold reference; ties share a bucket; unscored = <2 tokens") {
    import graft.operators.TextAnalysis
    val corpus = Tables.documents(spark, sfDir).filter(col("doc_id") < 300)
    val out = TextAnalysis.ccnetBuckets(corpus)
      .collect()
      .map(r => r.getLong(0) -> ((Option(r.get(1)).map(_.toString),
        Option(r.get(2)).map(_.asInstanceOf[Double]), r.getString(3))))
      .toMap

    // reference: recompute the cuts doc-by-doc from the (oracled) F16
    // scores — above = same-lang docs scoring strictly higher
    val sc = TextAnalysis.lmScore(corpus)
      .join(corpus.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .collect()
      .map(r => (r.getLong(0), Option(r.get(3)).map(_.toString),
        r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Double])))
    val scoredByLang = sc.filter(_._3 > 0).groupBy(_._2)
    for ((id, lang, nBig, score) <- sc) {
      val expected =
        if (nBig == 0) "unscored"
        else {
          val peers = scoredByLang(lang)
          val n = peers.length.toLong
          val above = peers.count(_._4.get > score.get).toLong
          if (3 * above < n) "head"
          else if (3 * above < 2 * n) "middle"
          else "tail"
        }
      assert(out(id) === ((lang, score, expected)), s"doc $id")
    }
    // ties share a bucket by construction (no doc_id tie-break): every
    // (lang, score) group carries exactly one distinct label
    val byScore = sc.filter(_._3 > 0).groupBy(t => (t._2, t._4))
    assert(byScore.forall { case (_, ds) => ds.map(d => out(d._1)._3).toSet.size == 1 })
    assert(Set("head", "middle", "tail").subsetOf(out.values.map(_._3).toSet))
  }

  test("F26 deploy flow: frozen cuts reproduce self-buckets; unseen lang stays unscored") {
    import graft.operators.TextAnalysis
    val wh = java.nio.file.Files.createTempDirectory("graft_ccnet").toString
    val corpus = Tables.documents(spark, sfDir).filter(col("doc_id") < 300)
    TextAnalysis.writeCcnetModel(corpus, "cc_m", s"$wh/cc_m", buckets = 4)

    // bucketing the training corpus against its own frozen artifacts
    // is exactly the one-pass operator
    val a = TextAnalysis.ccnetBucketAgainst(spark, "cc_m", corpus)
      .orderBy("doc_id").collect().toSeq.map(_.toSeq)
    val b = TextAnalysis.ccnetBuckets(corpus)
      .orderBy("doc_id").collect().toSeq.map(_.toSeq)
    assert(a === b && a.nonEmpty)

    // a lang the training corpus never saw: no frozen thirds to place
    // into — conservative `unscored`, never a guess
    import spark.implicits._
    val alien = Seq((9000L, "xx", "some words that do score bigrams"))
      .toDF("doc_id", "lang", "text")
    val got = TextAnalysis.ccnetBucketAgainst(spark, "cc_m", alien)
      .select("bucket").as[String].head()
    assert(got === "unscored")

    Seq("cc_m_uni", "cc_m_big", "cc_m_meta", "cc_m_cuts")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("F27 rrfFuse: hand-computed integer RRF terms, one-list docs score one term, rank by (score, id)") {
    import graft.operators.TextAnalysis
    val lex = Seq((10L, 1L), (20L, 2L)).toDF("doc_id", "rank")
    val sem = Seq((20L, 1L), (30L, 2L)).toDF("doc_id", "rank")
    val out = TextAnalysis.rrfFuse(lex, sem)
      .orderBy("rank").as[(Long, Double, Long)].collect().toSeq
    // half-up(1e6/61) = 16393 (0.44 rounds down), half-up(1e6/62) = 16129
    assert(out === Seq(
      (20L, (16393L + 16129L) / 1e6, 1L), // both lists
      (10L, 16393L / 1e6, 2L),            // lexical only
      (30L, 16129L / 1e6, 3L)))           // semantic only
  }

  test("F22 blocklist counts occurrences and flags clean docs") {
    val df = Seq(
      (1L, "clean text here"),
      (2L, "SPAM! spam, and more Spam"), // normalization catches case/punct
      (3L, ""),                          // empty → clean
      (4L, null.asInstanceOf[String]))   // null → clean, not a null flag
      .toDF("doc_id", "text")
    val out = TextAnalysis.blocklistFilter(df, Seq("spam", "junk"))
      .orderBy("doc_id").as[(Long, Long, Boolean)].collect().toSeq
    assert(out === Seq((1L, 0L, true), (2L, 3L, false),
      (3L, 0L, true), (4L, 0L, true)))
  }

  test("F23 Gopher rules: each rule drops its own planted doc, good doc keeps") {
    // 47 distinct words (no gram repeats), stopword-rich, mean len ~5
    val good = ((1 to 40).map(i => s"word$i") ++
      Seq("the", "a", "of", "and", "to", "in", "is")).mkString(" ")
    val fifty = (1 to 25).flatMap(_ => Seq("the", "weather"))
    val df = Seq(
      (1L, good),                                            // passes everything
      (2L, "too few words here the a"),                      // r1: n_words < 30
      (3L, (1 to 50).map(_ => "x").mkString(" ") +
        " the a of and"),                                    // r2: mean len < 3
      (4L, (1 to 50).map(i => s"$i").mkString(" ") +
        " the a of and to in"),                              // r3: digits not alpha
      (5L, (1 to 50).map(i => s"word$i").mkString(" ")),     // r4: no stopwords
      (6L, (1 to 20).flatMap(_ => Seq("the", "cat", "sat"))
        .mkString(" ")),                                     // r5: rep_ratio high
      (7L, good + " " +
        (1 to 20).map(_ => "#").mkString(" ")),              // r6: symbol ratio
                                                             //     ONLY ('#' is
                                                             //     not a token)
      (8L, null.asInstanceOf[String]),                       // null → r1 at 0 words
      (9L, fifty.mkString(" "))                              // r5: a two-word loop
    ).toDF("doc_id", "text")
    val out = TextAnalysis.gopherRules(df, minWords = 30L)
      .orderBy("doc_id")
      .select("doc_id", "keep").as[(Long, Boolean)].collect().toSeq
    assert(out === Seq((1L, true), (2L, false), (3L, false), (4L, false),
      (5L, false), (6L, false), (7L, false), (8L, false), (9L, false)))
    // and the signals carry the WHY (audit-trail posture): the r5 doc
    // fails on rep_ratio specifically, not some other rule
    val r5 = TextAnalysis.gopherRules(df, minWords = 30L)
      .filter(col("doc_id") === 6L)
      .select("n_words", "rep_ratio", "stop_hits").head()
    assert(r5.getLong(0) === 60L && r5.getDouble(1) > 0.3 && r5.getInt(2) >= 2)
    // the two-word loop passes the length rules and fails on repetition
    val loop = TextAnalysis.gopherRules(df, minWords = 30L)
      .filter(col("doc_id") === 9L)
      .select("n_words", "mean_word_len", "rep_ratio").head()
    assert(loop.getLong(0) === 50L && loop.getDouble(1) >= 3.0 &&
      loop.getDouble(2) > 0.3)
  }

  test("F2b threshold sweep matches brute-force per-tau counts, monotone, exact rates") {
    import graft.operators.TextAnalysis
    val corpus = Tables.documents(spark, sfDir).filter(col("doc_id") < 300)
    val out = TextAnalysis.qualityThresholdSweep(corpus, steps = 4)
      .select("tau", "n_keep", "keep_rate")
      .as[(Double, Long, Double)].collect().sortBy(_._1)
    assert(out.map(_._1).toSeq === Seq(0.0, 0.25, 0.5, 0.75, 1.0))
    val n = corpus.count()
    // brute force: per-τ count over the same scale-6 scores
    val score6 = TextAnalysis.qualityScore(corpus)
      .select(round(col("score") * 1000000).cast("long").as("s6"))
      .as[Long].collect()
    for ((tau, k, rate) <- out) {
      assert(k === score6.count(_ >= (tau * 1000000).toLong).toLong)
      assert(rate === math.floor((k * 2000000.0 + n) / (2 * n)) / 1000000.0)
    }
    assert(out.head._2 === n)                       // τ=0 keeps everything
    assert(out.map(_._2).sliding(2).forall {
      case Array(a, b) => b <= a })                 // monotone non-increasing
    // the fixture must actually separate: some τ keeps a strict subset
    assert(out.last._2 < n && out.map(_._2).distinct.size >= 2)
    assertThrows[IllegalArgumentException](
      TextAnalysis.qualityThresholdSweep(corpus, steps = 7))
  }

  test("F24 BM25: tf, idf, and length normalization each rank as Okapi says") {
    val filler = (1 to 10).map(i => s"w$i").mkString(" ")
    val df = Seq(
      (1L, s"spark $filler"),                      // tf 1, short
      (2L, s"spark spark $filler"),                // tf 2 → above doc 1
      (3L, s"spark $filler $filler $filler"),      // tf 1, long → below doc 1
      (4L, s"rare $filler"),                       // rare term (df 1) beats
      (5L, s"$filler no match here at all"),       // no query term → absent
      (6L, s"spark $filler")                       // identical to 1 → doc_id tie
    ).toDF("doc_id", "text")
    val out = TextAnalysis.bm25TopK(df, Seq("spark", "rare"), 10)
      .select("doc_id", "score", "rank")
      .as[(Long, Double, Int)].collect().toSeq.sortBy(_._3)
    val byId = out.map(r => r._1 -> r._2).toMap
    assert(!byId.contains(5L))                     // non-matching absent
    assert(byId(2L) > byId(1L))                    // higher tf wins
    assert(byId(1L) > byId(3L))                    // length normalization
    assert(byId(4L) > byId(1L))                    // df 1 idf beats df 4 idf
    assert(byId(1L) === byId(6L))                  // identical docs tie exactly
    assert(out.filter(r => r._1 == 1L || r._1 == 6L).map(_._1)
      === Seq(1L, 6L))                             // tie ranks by doc_id
    assert(out.map(_._3) === (1 to out.size))     // ranks dense from 1
    // k truncates deterministically
    assert(TextAnalysis.bm25TopK(df, Seq("spark", "rare"), 2).count() === 2L)
  }

  test("bm25TopKMulti: per-set pages identical to per-set bm25TopK (r17)") {
    // overlapping and disjoint sets over a real corpus slice — the
    // fused stats aggregate must reproduce every per-set ranking
    // bit-identically (same df sums → same idf rounding → same tail)
    val corpus = Tables.documents(spark, sfDir).filter(col("doc_id") < 300)
    val sets = Seq(
      "a" -> Seq("spark", "window"),
      "b" -> Seq("merge", "dup", "spark"),
      "c" -> Seq("zzqq_oov", "window"))
    val multi = TextAnalysis.bm25TopKMulti(corpus, sets, 20)
    assert(multi.map(_._1) === sets.map(_._1))
    for (((q, got), (_, ts)) <- multi.zip(sets)) {
      val want = TextAnalysis.bm25TopK(corpus, ts, 20)
        .collect().toSeq.map(_.toSeq)
      assert(got.collect().toSeq.map(_.toSeq) === want,
        s"set '$q' diverged from the per-set serve")
    }
  }

  test("F24 deploy flow: frozen stats reproduce self-ranking; OOV term gets maximal idf") {
    import graft.operators.TextAnalysis
    val wh = java.nio.file.Files.createTempDirectory("graft_bm25").toString
    val corpus = Tables.documents(spark, sfDir).filter(col("doc_id") < 200)
    TextAnalysis.writeBm25Stats(corpus, "bm25_m", s"$wh/bm25_m", buckets = 4)
    val terms = Seq("spark", "window", "merge", "dup")

    // ranking the training corpus against its own frozen stats is
    // exactly the one-pass self-ranking (same rounding path)
    val a = TextAnalysis.bm25TopKAgainst(spark, "bm25_m", corpus, terms, 20)
      .orderBy("rank").collect().toSeq.map(_.toSeq)
    val b = TextAnalysis.bm25TopK(corpus, terms, 20)
      .orderBy("rank").collect().toSeq.map(_.toSeq)
    assert(a === b && a.nonEmpty)

    // a query term the frozen vocabulary never saw keeps df = 0 (the
    // finite maximal Lucene idf) and an ARRIVAL containing it ranks:
    // with one 2-token doc, score = round(idf4/1e4 · 22T/(10T+3T+18N), 6)
    val meta = spark.table("bm25_m_meta").head()
    val (n, t) = (meta.getLong(0), meta.getLong(1))
    val arrivals = Seq((9000L, "zzqq wwrr")).toDF("doc_id", "text")
    val got = TextAnalysis
      .bm25TopKAgainst(spark, "bm25_m", arrivals, Seq("zzqq"), 5)
      .select("doc_id", "score", "rank").as[(Long, Double, Int)].collect()
    val i4 = math.round(math.log((n + 0.5) / 0.5 + 1.0) * 1e4)
    val expected = BigDecimal((i4 / 10000.0) * (22.0 * t) /
        (10.0 * t + 3.0 * t + 2.0 * 9.0 * n))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.toSeq === Seq((9000L, expected, 1)))

    spark.sql("DROP TABLE IF EXISTS bm25_m_df")
    spark.sql("DROP TABLE IF EXISTS bm25_m_meta")
  }

  test("F9 repetition scores repeated 3-grams, zero for short/unique docs") {
    val df = Seq(
      (1L, "a b c a b c a b c"),      // 7 grams, 3 distinct (abc, bca, cab)
      (2L, "one two three four"),     // 2 grams, both distinct
      (3L, "too short")               // < 3 tokens: no grams
    ).toDF("doc_id", "text")
    val out = TextAnalysis.repetition(df).orderBy("doc_id")
      .select("total_grams", "distinct_grams", "rep_ratio")
      .as[(Long, Long, Double)].collect()
    assert(out(0) === ((7L, 3L, math.rint((1.0 - 3.0 / 7.0) * 1e6) / 1e6)))
    assert(out(1) === ((2L, 2L, 0.0)))
    assert(out(2) === ((0L, 0L, 0.0)))
  }
}
