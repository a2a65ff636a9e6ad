package graft.sinks

import java.time.{LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** rfield file output — the reference's end product: one text file per
  * forecast timestep holding `lon lat value` rows sorted by (lon, lat)
  * (`gen_rfields.py:177-229` builds exactly these under
  * `<version>/<model>/.../<timestamp>.txt`), and the zipped per-system
  * bundle of value-only files beside one `xy.csv` ([[writePackaged]]).
  *
  * Spark-idiomatic equivalent: hash-partition on the timestep (all rows
  * of a timestep land in one task), sort within partitions by
  * (timestep, lon, lat), then a partitioned write — yielding exactly
  * one sorted file per `t=<timestep>/` directory; file count =
  * timestep count regardless of cluster size, and each file's internal
  * order matches the reference's rfield contract. [[writeDomains]]
  * writes every domain cut from one mean, and [[writePackaged]] every
  * bundle of one field, with one shuffle and one write: each row is
  * tagged with every target that holds it and the write is partitioned
  * by (tag, timestep). Every writer asks for `defaultParallelism`
  * partitions hashed on the timestep; a caller that partitions its
  * aggregate's input that way below the `groupBy` shares the exchange
  * with the aggregate (the planner drops the writer's repartition), so
  * the aggregate and all its targets' files cost a single shuffle.
  */
object RfieldSink {

  /** Tag column of the staged writes: the index of the domain or
    * bundle a row belongs to. */
  private val TagCol = "tag"

  /** One bundle of [[writePackaged]]: the directory it is written to
    * (zipped into `{dir}.zip`), the predicate on the field's columns
    * that selects its rows, its value files' name prefix
    * `{model}_{system}_{version}`, and its (lon, lat) cells: each of
    * its timesteps must hold each of them exactly once (a netCDF grid
    * read in record order: every record holds the header's grid). */
  final case class Bundle(dir: String, holds: Column, prefix: String,
                          cells: Seq[(Double, Double)])

  /** Write `rfield` (must carry `lon`, `lat`, `value` + `timeCol`) as
    * space-separated text partitioned by `timeCol`. The shuffle gets
    * one partition per core, not AQE's coalescing: a run's rfields are
    * a few MB, under AQE's minimum partition size, so a coalesced
    * write put every timestep's file on one task. */
  def write(rfield: DataFrame, outDir: String, timeCol: String): Unit =
    sortedCsv(byTimestep(fieldCols(rfield, timeCol), timeCol), Seq(timeCol), outDir)

  /** [[write]] for several domains of one rfield at once: `domains`
    * pairs each output directory with the predicate on `rfield`'s
    * columns that selects its rows (`lit(true)` for the whole field).
    * A row goes to every domain whose predicate holds — overlapping
    * cuts share their cells. One shuffle and one partitioned write,
    * into `staging` (removed on every exit path); then each domain's
    * directory replaces its output directory with its own `_SUCCESS`,
    * an empty directory for a cut that holds no row. */
  def writeDomains(rfield: DataFrame, domains: Seq[(String, Column)], staging: String,
                   timeCol: String): Unit =
    staged(tagged(byTimestep(fieldCols(rfield, timeCol), timeCol), domains.map(_._2)),
        staging, timeCol) { (fs, stagedDir) =>
      for (((dir, _), i) <- domains.zipWithIndex) {
        val (from, to) = (stagedDir(i), new Path(dir))
        fs.delete(to, true)
        if (fs.exists(from)) {
          require(fs.mkdirs(to.getParent), s"cannot create ${to.getParent}")
          require(fs.rename(from, to), s"rename of $from to $to failed")
        } else require(fs.mkdirs(to), s"cannot create $to")
        fs.create(new Path(to, "_SUCCESS")).close()
      }
    }

  /** `rfield`'s timestep, coordinates and value. */
  private def fieldCols(rfield: DataFrame, timeCol: String): DataFrame =
    rfield.select(col(timeCol), col("lon"), col("lat"), col("value"))

  /** `rows` hash-partitioned on the timestep into one partition per
    * core. */
  private def byTimestep(rows: DataFrame, timeCol: String): DataFrame =
    rows
      .repartition(rows.sparkSession.sparkContext.defaultParallelism, col(timeCol))

  /** `rows` with the [[TagCol]] of every target whose predicate holds:
    * one row per such target, none for a row no target holds. */
  private def tagged(rows: DataFrame, targets: Seq[Column]): DataFrame =
    rows.withColumn(TagCol, explode(array(targets.zipWithIndex
        .map { case (holds, i) => when(holds, lit(i)) }: _*)))
      .filter(col(TagCol).isNotNull)

  /** Writes tagged `rows` once into `staging`, partitioned by (tag,
    * `timeCol`), without the `dropped` columns; then `place` moves each
    * target's staged directory (`stagedDir(index)`, absent for a
    * target with no row) into place. `staging` is removed on every exit
    * path. */
  private def staged(rows: DataFrame, staging: String, timeCol: String, dropped: String*)
                    (place: (FileSystem, Int => Path) => Unit): Unit = {
    val stage = new Path(staging)
    val fs = stage.getFileSystem(rows.sparkSession.sparkContext.hadoopConfiguration)
    try {
      sortedCsv(rows, Seq(TagCol, timeCol), staging, dropped: _*)
      place(fs, i => new Path(stage, s"$TagCol=$i"))
    } finally fs.delete(stage, true)
  }

  /** The write tail: rows sorted within their partitions by
    * `partCols` then (lon, lat), written without the `dropped` columns
    * as space-separated text partitioned by `partCols`. */
  private def sortedCsv(rows: DataFrame, partCols: Seq[String], dir: String,
                        dropped: String*): Unit =
    rows
      .sortWithinPartitions((partCols ++ Seq("lon", "lat")).map(col): _*)
      .drop(dropped: _*) // a narrow projection above the sort keeps its order
      .write
      .partitionBy(partCols: _*)
      .option("sep", " ")
      .mode("overwrite")
      .csv(dir)

  /** UTC epoch-seconds → the reference's LK-time file-name stamp
    * (`datetime_utc_to_lk(...).strftime('%Y-%m-%d_%H-%M')`, +05:30). */
  def lkStamp(epochS: Long): String =
    LocalDateTime.ofEpochSecond(epochS + 19800L, 0, ZoneOffset.UTC)
      .format(DateTimeFormatter.ofPattern("yyyy-MM-dd_HH-mm"))

  /** The reference's exact file contract (`gen_rfields.py:198-219`),
    * for every bundle of `rfield` at once: a bundle's directory holds
    * one `xy.csv` (lon,lat of each of its cells, sorted by (lon, lat),
    * no header) and a value-only `{prefix}_{LK timestamp}.txt` per
    * timestep whose line i is the value (rounded to 3 dp) of xy.csv's
    * line-i cell, and is zipped into `{dir}.zip` — the bundle the
    * reference ships per system. A row goes to every bundle whose
    * predicate holds.
    *
    * Distributed where it matters: the rows are tagged with their
    * bundles, shuffled once on the timestep and written sorted by Spark
    * in one write partitioned by (bundle, timestep), into `staging`
    * (removed on every exit path). A bundle's xy.csv comes from its
    * listed cells. Only the O(#timesteps) file renames, the O(#cells)
    * xy.csv, and the zip run on the driver — the zip is inherently a
    * single-stream artifact (it exists to be scp'd), not a data-path
    * operation.
    *
    * The value-only format is positional, so every timestep of a bundle
    * must hold every listed cell exactly once; the caller vouches for
    * that ([[Bundle]]), and nothing here re-counts it. */
  def writePackaged(rfield: DataFrame, bundles: Seq[Bundle], staging: String,
                    timeCol: String): Unit = {
    val rows = tagged(byTimestep(rfield, timeCol), bundles.map(_.holds))
      .select(col(TagCol), col(timeCol), col("lon"), col("lat"),
        round(col("value").cast("double"), 3).as("value"))
    staged(rows, staging, timeCol, "lon", "lat") { (fs, stagedDir) =>
      for ((b, i) <- bundles.zipWithIndex) {
        val steps = fs.globStatus(new Path(stagedDir(i), s"$timeCol=*/part-*")).map(_.getPath)
          .groupBy(_.getParent.getName.stripPrefix(s"$timeCol=").toLong)
        // Path.getFileSystem's fs, not URI.new (the Retention rationale:
        // a space in a dir is a legal path but an illegal URI)
        val out = new Path(b.dir)
        fs.delete(out, true); fs.mkdirs(out)
        val xy = fs.create(new Path(out, "xy.csv"))
        try b.cells.sorted.foreach { case (lon, lat) => xy.write(s"$lon,$lat\n".getBytes("UTF-8")) }
        finally xy.close()
        for ((t, parts) <- steps) {
          require(parts.length == 1, s"expected 1 file for $timeCol=$t, got ${parts.length}")
          val dest = new Path(out, s"${b.prefix}_${lkStamp(t)}.txt")
          // rename returns false (no throw) when dest exists — e.g. two
          // timesteps inside one LK minute collapsing to one file name;
          // failing loud beats shipping a bundle with a step missing
          require(fs.rename(parts.head, dest),
            s"rename to $dest failed (name collision from sub-minute timesteps?)")
        }
        // zip path from the NORMALIZED Path: "$dir.zip" on a
        // trailing-slash dir resolves to a hidden ".zip" INSIDE the
        // directory, which zipDirectory's listing would then include as
        // a partially-written entry of itself
        zipDirectory(fs, out, new Path(out.toString + ".zip"))
      }
    }
  }

  /** `zip_folder` equivalent (gen_rfields.py:219 via shutil): flat zip
    * of a directory's files, driver-side single stream. */
  def zipDirectory(fs: FileSystem, dir: Path, zipPath: Path): Unit = {
    val zos = new java.util.zip.ZipOutputStream(fs.create(zipPath, true))
    try {
      fs.listStatus(dir).filter(_.isFile).sortBy(_.getPath.getName).foreach { f =>
        zos.putNextEntry(new java.util.zip.ZipEntry(f.getPath.getName))
        val in = fs.open(f.getPath)
        try {
          val buf = new Array[Byte](64 * 1024)
          var n = in.read(buf)
          while (n >= 0) { if (n > 0) zos.write(buf, 0, n); n = in.read(buf) }
        } finally in.close()
        zos.closeEntry()
      }
    } finally zos.close()
  }
}
