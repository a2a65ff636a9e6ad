package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each [[SparkEntry.catalog]] entry's
  * output → parquet, plus oracle_sql.json (every [[SparkEntry.Oracle]]
  * mirror) for the driver's DuckDB compare.
  *
  * A [[SparkEntry.RowsOnly]] entry has no mirror, so the hash gate
  * can't see a regression that silently empties or collapses it (a
  * filter that drops everything, a serve returning k/2 neighbors).
  * Verify counts every written result and exits non-zero when such an
  * entry misses its floor or its exact count
  * ([[SparkEntry.exactCounts]]). Its recall gate ([[SparkEntry.Recall]])
  * is measured against the exact baseline from the just-written
  * outputs, emitted as VERIFY_RECALL.json (outDir + cwd) so the driver
  * sees drift round-over-round, and enforced against its floor.
  *
  *   sbt "runMain graft.Verify <sfDir> <outDir> [name,name,...]"
  */
object Verify {
  import SparkEntry.{Query, Recall, RowsOnly}

  /** Rows-only entries whose written output misses an invariant: below
    * the entry's floor, off its `exact` count (both directions — a
    * padded serve is as red as a collapsed one), or absent entirely.
    * Pure — the spec drives it with synthetic counts. */
  def floorFailures(rowCounts: Map[String, Long],
                    exact: Map[String, Long] = Map.empty): Seq[String] =
    SparkEntry.catalog.flatMap {
      case Query(name, _, r: RowsOnly, _) =>
        rowCounts.get(name) match {
          case Some(n) if exact.get(name).exists(_ != n) =>
            Some(s"$name: $n rows != exact expected ${exact(name)} (invariant regression)")
          case Some(n) if n < r.floor =>
            Some(s"$name: $n rows < floor ${r.floor} (rows-only regression)")
          case None => Some(s"$name: no output written")
          case _ => None
        }
      case _ => None
    }.sorted

  /** Every recall gate with its entry's name, by name. */
  private def recallGates: Seq[(String, Recall)] =
    SparkEntry.catalog.collect { case Query(n, _, RowsOnly(_, _, Some(r)), _) => n -> r }
      .sortBy(_._1)

  /** Recall-gate breaches: a measured recall below its declared floor,
    * or a recall that couldn't be computed (missing/unreadable
    * output). Pure — specs drive it with synthetic measurements. */
  def recallFailures(measured: Map[String, Option[Double]]): Seq[String] =
    recallGates.flatMap { case (q, g) =>
      measured.getOrElse(q, None) match {
        case None =>
          Some(s"$q: recall vs ${g.baseline} not computable (missing output)")
        case Some(r) if r < g.floor =>
          Some(f"$q: recall $r%.3f vs ${g.baseline} below floor ${g.floor}%.2f")
        case _ => None
      }
    }

  /** The entries a run selects, in [[SparkEntry.runOrderKey]] order:
    * the whole catalog, or the comma-separated `names`; an error naming
    * every unknown name (with the available ones) otherwise. */
  private[graft] def selected(names: Option[String]): Either[String, Seq[Query]] = {
    val picked = names.map(_.split(',').toSeq.distinct)
    picked.flatMap(SparkEntry.unknownNames).toLeft(
      picked.fold(SparkEntry.catalog)(_.map(SparkEntry.query))
        .sortBy(q => SparkEntry.runOrderKey(q.name)))
  }

  /** |approx ∩ exact| / |exact|, joined on the exact baseline's
    * leading `keyCols` columns — computed from the SAME written
    * artifacts the driver hashes, so the number in VERIFY_RECALL.json
    * is the number the round actually shipped. The approx side is
    * key-deduped first: padded duplicate rows must not inflate
    * recall. */
  private def recallOf(spark: SparkSession, outDir: String,
                       approx: String, gate: Recall): Option[Double] =
    try {
      val e = spark.read.parquet(s"$outDir/${gate.baseline}")
      // read the approx side BEFORE the empty-exact early-return: a
      // missing/unreadable approx output must be None (gate failure),
      // never a free 1.0 because the baseline happened to be empty
      val a = spark.read.parquet(s"$outDir/$approx")
      val keys = e.columns.take(gate.keyCols).toSeq
      val nExact = e.count()
      if (nExact == 0L) Some(1.0)
      else {
        val hit = a.select(keys.map(col): _*).distinct()
          .join(e.select(keys.map(col): _*), keys, "inner").count()
        Some(hit.toDouble / nExact)
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query-name subset — dev-loop
    // convenience (the driver always passes two args = full catalog;
    // subset runs skip the floor/recall gates, which need the full set)
    val (sfDir, outDir, only) = args match {
      case Array(s, o)    => (s, o, None)
      case Array(s, o, q) => (s, o, Some(q))
      case _ =>
        System.err.println("usage: Verify <sfDir> <outDir> [name,name,...]")
        sys.exit(2)
    }
    // sorted-name order for the same reproducibility reason as Bench:
    // memo-sharing entries must split their cost deterministically
    val queries = selected(only) match {
      case Right(qs) => qs
      case Left(msg) => System.err.println(msg); sys.exit(2)
    }
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    new java.io.File(outDir).mkdirs()
    val counts = scala.collection.mutable.Map.empty[String, Long]
    val queryFails = scala.collection.mutable.ArrayBuffer.empty[String]
    queries.foreach { q =>
      try {
        q.build(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/${q.name}")
        counts(q.name) = spark.read.parquet(s"$outDir/${q.name}").count()
      } catch {
        // NonFatal ONLY: an OOM mid-query must kill the run — the
        // remaining queries, the row checks, and the recall joins
        // would otherwise execute in a heap-poisoned JVM and could
        // write floor-passing garbage (the Bench catch rationale).
        // The failure is still RECORDED: r6's dataset regeneration
        // broke 24 queries and each just logged-and-vanished from the
        // driver's correctness JSON — a missing row read as "not run",
        // not "broken". The remaining queries still execute (maximize
        // the round's signal), but the run exits non-zero below.
        case scala.util.control.NonFatal(e) =>
          queryFails += q.name
          System.err.println(s"[verify] ${q.name} failed: ${e.getMessage}")
      }
    }
    // Jsons.str escapes backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    val json = SparkEntry.catalog
      .collect { case Query(n, _, SparkEntry.Oracle(sql), _) => s"${Jsons.str(n)}: ${Jsons.str(sql)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)

    if (only.isDefined) {
      // subset dev-loop run: dump the SQL and stop before the
      // full-catalog floor/recall gates (they'd all read "missing")
      failuresExit(spark, queryFails.toSeq.sorted.map(q => s"$q: query threw (no output)"))
      return
    }

    // exact row counts from the input tables; if the computation itself
    // dies (unreadable dir), keep the floors LOUDLY rather than
    // skipping the gate
    val exact =
      try SparkEntry.exactCounts(spark, sfDir)
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[verify] exactCounts failed: ${e.getMessage}")
        Map.empty[String, Long]
      }
    val floorFails = floorFailures(counts.toMap, exact)

    // recall vs exact baselines, from the written outputs
    val recalls: Map[String, Option[Double]] =
      recallGates.map { case (q, g) => q -> recallOf(spark, outDir, q, g) }.toMap
    val recallJson = recallGates.map { case (q, g) =>
      val r = recalls.getOrElse(q, None).map(Jsons.num(_, 4)).getOrElse("null")
      s"""${Jsons.str(q)}: {"baseline": ${Jsons.str(g.baseline)}, "floor": ${g.floor}, "recall": $r}"""
    }.mkString("{", ", ", "}")
    Files.writeString(Paths.get(s"$outDir/VERIFY_RECALL.json"), recallJson)
    // cwd copy: the file the round driver/judge picks up from the repo
    try Files.writeString(Paths.get("VERIFY_RECALL.json"), recallJson)
    catch { case scala.util.control.NonFatal(_) => () }
    val recallFails = recallFailures(recalls)

    failuresExit(spark,
      queryFails.toSeq.sorted.map(q => s"$q: query threw (no output)") ++
      floorFails ++ recallFails)
  }

  private def failuresExit(spark: SparkSession, failures: Seq[String]): Unit = {
    failures.foreach(f => System.err.println(s"[verify] GATE $f"))
    spark.stop()
    if (failures.nonEmpty) sys.exit(1)
  }
}
