package graft.sinks

import java.time.{LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** rfield file output — the reference's end product: one text file per
  * forecast timestep holding `lon lat value` rows sorted by (lon, lat)
  * (`gen_rfields.py:177-229` builds exactly these under
  * `<version>/<model>/.../<timestamp>.txt`).
  *
  * Spark-idiomatic equivalent: hash-partition on the timestep (all rows
  * of a timestep land in one task), sort within partitions by
  * (timestep, lon, lat), then a partitioned write — yielding exactly
  * one sorted file per `t=<timestep>/` directory; file count =
  * timestep count regardless of cluster size, and each file's internal
  * order matches the reference's rfield contract. [[writeDomains]]
  * writes every domain cut from one mean with one shuffle and one
  * write. Both writers ask for `defaultParallelism` partitions hashed
  * on the timestep; a caller that partitions the mean's input that way
  * below its `groupBy` shares the exchange with the aggregate (the
  * planner drops the writer's repartition), so the mean and all its
  * domains' files cost a single shuffle.
  */
object RfieldSink {

  /** Tag column of [[writeDomains]]'s staged write: the index of the
    * domain a row belongs to. */
  private val DomainCol = "domain"

  /** Write `rfield` (must carry `lon`, `lat`, value + `timeCol`) as
    * space-separated text partitioned by `timeCol`. The shuffle gets
    * one partition per core, not AQE's coalescing: a run's rfields are
    * a few MB, under AQE's minimum partition size, so a coalesced
    * write put every timestep's file on one task. */
  def write(rfield: DataFrame, outDir: String, timeCol: String,
            valueCol: String = "value"): Unit =
    sortedCsv(byTimestep(rfield, timeCol, valueCol), Seq(timeCol), outDir)

  /** [[write]] for several domains of one rfield at once: `domains`
    * pairs each output directory with the predicate on `rfield`'s
    * columns that selects its rows (`lit(true)` for the whole field).
    * A row goes to every domain whose predicate holds — overlapping
    * cuts share their cells. One shuffle and one partitioned write,
    * into `staging` (removed on every exit path); then each domain's
    * directory replaces its output directory with its own `_SUCCESS`,
    * an empty directory for a cut that holds no row. */
  def writeDomains(rfield: DataFrame, domains: Seq[(String, Column)], staging: String,
                   timeCol: String, valueCol: String = "value"): Unit = {
    val tag = explode(array(domains.map(_._2).zipWithIndex
      .map { case (holds, i) => when(holds, lit(i)) }: _*))
    val stage = new Path(staging)
    val fs = stage.getFileSystem(rfield.sparkSession.sparkContext.hadoopConfiguration)
    try {
      sortedCsv(byTimestep(rfield, timeCol, valueCol)
        .withColumn(DomainCol, tag).filter(col(DomainCol).isNotNull),
        Seq(DomainCol, timeCol), staging)
      for (((dir, _), i) <- domains.zipWithIndex) {
        val (from, to) = (new Path(stage, s"$DomainCol=$i"), new Path(dir))
        fs.delete(to, true)
        if (fs.exists(from)) {
          require(fs.mkdirs(to.getParent), s"cannot create ${to.getParent}")
          require(fs.rename(from, to), s"rename of $from to $to failed")
        } else require(fs.mkdirs(to), s"cannot create $to")
        fs.create(new Path(to, "_SUCCESS")).close()
      }
    } finally fs.delete(stage, true)
  }

  /** `rfield`'s timestep, coordinates and value, hash-partitioned on
    * the timestep into one partition per core. */
  private def byTimestep(rfield: DataFrame, timeCol: String, valueCol: String): DataFrame =
    rfield
      .select(col(timeCol), col("lon"), col("lat"), col(valueCol))
      .repartition(rfield.sparkSession.sparkContext.defaultParallelism, col(timeCol))

  /** The write tail: rows sorted within their partitions by
    * `partCols` then (lon, lat), written as space-separated text
    * partitioned by `partCols`. */
  private def sortedCsv(rows: DataFrame, partCols: Seq[String], dir: String): Unit =
    rows
      .sortWithinPartitions((partCols ++ Seq("lon", "lat")).map(col): _*)
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

  /** The reference's exact file contract (`gen_rfields.py:198-219`):
    * one shared `xy.csv` (lon,lat of every grid cell, sorted by
    * (lon, lat), no header) written ONCE, plus a value-only
    * `{model}_{system}_{version}_{LK timestamp}.txt` per timestep whose
    * line i is the value of xy.csv's line-i cell, then the whole
    * directory zipped into `{outDir}.zip` — the bundle the reference
    * ships per system.
    *
    * Distributed where it matters: values are shuffled once on the
    * timestep and written sorted by Spark (one task per timestep, the
    * same shape as [[write]] — 100 TB of timesteps just means more
    * parallel tasks). Only the O(#timesteps) file renames, the
    * O(#cells) xy.csv, and the zip run on the driver — the zip is
    * inherently a single-stream artifact (it exists to be scp'd), not
    * a data-path operation.
    *
    * The value-only format is positional, so every timestep must cover
    * every cell exactly once; this is checked and a gap fails fast
    * rather than silently misaligning every later line. */
  def writePackaged(rfield: DataFrame, outDir: String, timeCol: String,
                    model: String, system: String, version: String,
                    valueCol: String = "value", zip: Boolean = true,
                    tsName: Long => String = lkStamp): Unit = {
    val spark = rfield.sparkSession
    // Path.getFileSystem, not URI.new (the Retention rationale: a
    // space in outDir is a legal path but an illegal URI)
    val out = new Path(outDir)
    val fs = out.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(out, true); fs.mkdirs(out)

    // three jobs read the input below (cells distinct, the coverage
    // check, the staged write) — cache so an uncached upstream plan
    // isn't recomputed per job
    val cached = rfield.cache()
    val staging = new Path(out, "_staging")
    try {
      // shared coordinate file: the grid is O(cells) — bounded by the
      // model domain, not the data volume — so a single sorted file is
      // the contract AND cheap
      val cells = cached.select(col("lon"), col("lat")).distinct()
        .orderBy(col("lon"), col("lat"))
      val cellRows = cells.collect()
      val xy = fs.create(new Path(out, "xy.csv"))
      try cellRows.foreach(r => xy.write(s"${r.get(0)},${r.get(1)}\n".getBytes("UTF-8")))
      finally xy.close()

      // positional-format safety: every timestep must cover every cell
      // EXACTLY once — the distinct count catches a duplicated cell
      // masking a missing one (a bare count() would pass that file and
      // misalign every line after the dup)
      val nCells = cellRows.length.toLong
      val bad = cached.groupBy(col(timeCol))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("lon"), col("lat")).as("n_cells"))
        .filter(col("n") =!= nCells || col("n_cells") =!= nCells)
        .limit(5).collect()
      require(bad.isEmpty,
        s"rfield has timesteps not covering all $nCells cells exactly " +
          s"once (value-only files would misalign): ${bad.mkString(", ")}")
      // per-timestep value files: shuffle once on t, Spark sorts within
      // the single task per timestep, one file per t=… directory
      cached
        .select(col(timeCol), col("lon"), col("lat"),
          round(col(valueCol).cast("double"), 3).as("value"))
        .repartition(col(timeCol))
        .sortWithinPartitions(col(timeCol), col("lon"), col("lat"))
        .select(col(timeCol), col("value")) // narrow projection above the sort keeps order
        .write.partitionBy(timeCol).mode("overwrite").csv(staging.toString)
    } finally cached.unpersist(false)

    // rename t=<epoch>/part-* → {model}_{system}_{version}_{stamp}.txt
    fs.listStatus(staging).filter(_.isDirectory).foreach { d =>
      val t = d.getPath.getName.stripPrefix(s"$timeCol=").toLong
      val part = fs.listStatus(d.getPath)
        .map(_.getPath).filter(_.getName.startsWith("part-"))
      require(part.length == 1, s"expected 1 file for $timeCol=$t, got ${part.length}")
      val dest = new Path(out, s"${model}_${system}_${version}_${tsName(t)}.txt")
      // rename returns false (no throw) when dest exists — e.g. two
      // timesteps inside one LK minute collapsing to one file name;
      // failing loud beats shipping a bundle with a step missing
      require(fs.rename(part.head, dest),
        s"rename to $dest failed (name collision from sub-minute timesteps?)")
    }
    fs.delete(staging, true)

    // zip path from the NORMALIZED Path: "$outDir.zip" on a
    // trailing-slash outDir resolves to a hidden ".zip" INSIDE the
    // directory, which zipDirectory's listing would then include as a
    // partially-written entry of itself
    if (zip) zipDirectory(fs, out, new Path(out.toString + ".zip"))
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
