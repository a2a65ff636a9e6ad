package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.lit

import graft.sinks.RfieldSink

class RfieldSinkSpec extends SparkSpec {
  import spark.implicits._

  test("writes one sorted 'lon lat value' file per timestep") {
    val rf = Seq(
      (900L, 79.5, 6.0, 2.5), (900L, 79.0, 6.5, 1.0), (900L, 79.0, 6.0, 0.5),
      (1800L, 79.0, 6.0, 9.0)
    ).toDF("t", "lon", "lat", "value")
    val dir = Files.createTempDirectory("rfield").toString
    RfieldSink.write(rf, dir, "t")

    def partFiles(t: Long) = Files.list(Paths.get(dir, s"t=$t")).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-")).toList
    assert(partFiles(900L).size === 1)   // exactly one file per timestep
    assert(partFiles(1800L).size === 1)
    val lines = Files.readAllLines(partFiles(900L).head).asScala.toList
    assert(lines === List("79.0 6.0 0.5", "79.0 6.5 1.0", "79.5 6.0 2.5")) // (lon, lat) sorted
  }

  test("write spreads more timesteps than cores over tasks, one sorted file per timestep") {
    val steps = spark.sparkContext.defaultParallelism * 3
    val cells = Seq((79.5, 6.0), (79.0, 6.5), (79.0, 6.0), (79.5, 6.5))
    val rf = (for (t <- 0 until steps; ((lon, lat), i) <- cells.zipWithIndex)
      yield (900L * t, lon, lat, t + 0.25 * i)).toDF("t", "lon", "lat", "value")
    val dir = Files.createTempDirectory("rfield_spread").toString
    // the result stage of every job in the write's group: its task count
    val writeTasks = new java.util.concurrent.ConcurrentLinkedQueue[Int]
    val ended = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (e.properties.getProperty("spark.jobGroup.id") == "rfield_spread")
          writeTasks.add(e.stageInfos.maxBy(_.stageId).numTasks)
      override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        ended.incrementAndGet(): Unit
    }
    spark.sparkContext.addSparkListener(listener)
    val endedBefore = ended.get()
    try {
      spark.sparkContext.setJobGroup("rfield_spread", "rfield write")
      RfieldSink.write(rf, dir, "t")
    } finally spark.sparkContext.clearJobGroup()
    // listener events arrive asynchronously: wait for the write's jobs
    val deadline = System.nanoTime() + 10000000000L
    while (ended.get() - endedBefore < writeTasks.size && System.nanoTime() < deadline)
      Thread.sleep(10)
    spark.sparkContext.removeSparkListener(listener)
    // the last job of the group is the write itself
    assert(writeTasks.asScala.toSeq.last > 1, s"write result stages: $writeTasks")

    for (t <- 0 until steps) {
      val parts = Files.list(Paths.get(dir, s"t=${900L * t}")).iterator().asScala
        .filter(_.getFileName.toString.startsWith("part-")).toList
      assert(parts.size === 1, s"t=${900L * t}")
      val lines = Files.readAllLines(parts.head).asScala.toList
      assert(lines === cells.zipWithIndex.sortBy(_._1)
        .map { case ((lon, lat), i) => s"$lon $lat ${t + 0.25 * i}" }, s"t=${900L * t}")
    }
  }

  test("writeDomains writes what write writes for each cut: overlapping cuts share cells, an empty cut keeps its directory") {
    val cells = for (lon <- Seq(79.0, 79.5, 80.0); lat <- Seq(6.0, 6.5, 7.0)) yield (lon, lat)
    val rf = (for (t <- Seq(0L, 900L, 1800L); ((lon, lat), i) <- cells.zipWithIndex)
      yield (t, lon, lat, t / 900 + 0.125 * i)).toDF("t", "lon", "lat", "value")
    def box(lonMin: Double, latMin: Double, lonMax: Double, latMax: Double) =
      $"lon" >= lonMin && $"lon" <= lonMax && $"lat" >= latMin && $"lat" <= latMax
    val cuts = Seq("all" -> lit(true), "west" -> box(79.0, 6.0, 79.5, 7.0),
      "south" -> box(79.0, 6.0, 80.0, 6.5), "nowhere" -> box(90.0, 0.0, 91.0, 1.0))
    val root = Files.createTempDirectory("rfield_domains").toString
    RfieldSink.writeDomains(rf, cuts.map { case (n, c) => s"$root/got/$n" -> c },
      s"$root/_staging", "t")
    for ((n, c) <- cuts) RfieldSink.write(rf.filter(c), s"$root/want/$n", "t")

    /** Relative path → lines of every file under `dir`, part files
      * keyed by their directory (their names carry a job id). */
    def tree(dir: String): Map[String, List[String]] = {
      val base = Paths.get(dir)
      Files.walk(base).iterator().asScala.filter(Files.isRegularFile(_))
        .filterNot(_.getFileName.toString.startsWith("."))
        .map { f =>
          val rel = base.relativize(f).toString
          (if (f.getFileName.toString.startsWith("part-")) s"${base.relativize(f.getParent)}/part"
           else rel) -> Files.readAllLines(f).asScala.toList
        }.toMap
    }
    for ((n, _) <- cuts) assert(tree(s"$root/got/$n") === tree(s"$root/want/$n"), n)
    // the cell (79.0, 6.0) is in both overlapping cuts, and written to both
    for (n <- Seq("all", "west", "south"))
      assert(tree(s"$root/got/$n")("t=900/part").contains("79.0 6.0 1.0"), n)
    assert(tree(s"$root/got/nowhere").keySet === Set("_SUCCESS"))
    assert(!Files.exists(Paths.get(root, "_staging")))
  }

  test("writePackaged emits xy.csv + value-only per-timestep files + zip (round-trips)") {
    // 2×2 grid over 3 timesteps (epoch seconds; 0 → LK 1970-01-01_05-30)
    val cells = Seq((79.0, 6.0), (79.0, 6.5), (79.5, 6.0), (79.5, 6.5))
    val rf = (for {
      (t, k) <- Seq(0L, 900L, 1800L).zipWithIndex
      ((lon, lat), i) <- cells.zipWithIndex
    } yield (t, lon, lat, (k * 10 + i) + 0.125)).toDF("t", "lon", "lat", "value")
    val dir = Files.createTempDirectory("rfield_pkg").toString + "/d03"
    RfieldSink.writePackaged(rf, Seq(RfieldSink.Bundle(dir, lit(true), "WRF_A_4.0", cells)),
      s"${dir}_staging", "t")

    val xy = Files.readAllLines(Paths.get(dir, "xy.csv")).asScala.toList
    assert(xy === List("79.0,6.0", "79.0,6.5", "79.5,6.0", "79.5,6.5")) // (lon,lat) sorted

    val names = Files.list(Paths.get(dir)).iterator().asScala
      .map(_.getFileName.toString).toList.sorted
    assert(names.count(_.endsWith(".txt")) === 3)
    assert(names.contains("WRF_A_4.0_1970-01-01_05-30.txt")) // t=0 in LK time
    assert(names.contains("WRF_A_4.0_1970-01-01_05-45.txt"))

    // positional round-trip: xy.csv line i + txt line i == original row
    val v900 = Files.readAllLines(
      Paths.get(dir, "WRF_A_4.0_1970-01-01_05-45.txt")).asScala.map(_.toDouble)
    assert(v900.size === xy.size)
    val rebuilt = xy.map(_.split(",").map(_.toDouble)).zip(v900)
      .map { case (Array(lon, lat), v) => (lon, lat, v) }
    assert(rebuilt === Seq((79.0, 6.0, 10.125), (79.0, 6.5, 11.125),
      (79.5, 6.0, 12.125), (79.5, 6.5, 13.125)))

    // bundle: zip holds exactly the directory's files
    val zf = new java.util.zip.ZipFile(s"$dir.zip")
    try {
      val entries = zf.entries().asScala.map(_.getName).toList.sorted
      assert(entries === ("xy.csv" :: names.filter(_.endsWith(".txt"))).sorted)
    } finally zf.close()
  }

  test("writePackaged fails loud when two timesteps collapse to one file name") {
    // epochs 0 and 30 both stamp to LK 1970-01-01_05-30; the second
    // rename returns false (dest exists) and must throw, not silently
    // ship a bundle with a step missing
    val cells = Seq((79.0, 6.0), (79.5, 6.0))
    val rf = (for (t <- Seq(0L, 30L); (lon, lat) <- cells)
      yield (t, lon, lat, 1.0)).toDF("t", "lon", "lat", "value")
    val dir = Files.createTempDirectory("rfield_dup").toString + "/d03"
    val e = intercept[IllegalArgumentException] {
      RfieldSink.writePackaged(rf, Seq(RfieldSink.Bundle(dir, lit(true), "WRF_A_4.0", cells)),
        s"${dir}_staging", "t")
    }
    assert(e.getMessage.contains("rename"))
    assert(!Files.exists(Paths.get(s"${dir}_staging")))
  }

  test("writePackaged writes a bundle that holds no row as an xy.csv-only bundle beside a full one") {
    val cells = Seq((79.0, 6.0), (79.5, 6.0))
    val rf = (for (t <- Seq(0L, 900L); (lon, lat) <- cells)
      yield (t, lon, lat, t / 900 + lon)).toDF("t", "lon", "lat", "value")
    val root = Files.createTempDirectory("rfield_empty").toString
    RfieldSink.writePackaged(rf, Seq(RfieldSink.Bundle(s"$root/all", lit(true), "WRF_A_4.0", cells),
      RfieldSink.Bundle(s"$root/none", $"lon" > 90.0, "WRF_A_4.0", Nil)), s"$root/_staging", "t")
    def names(dir: String) = Files.list(Paths.get(dir)).iterator().asScala
      .map(_.getFileName.toString).filterNot(_.startsWith(".")).toList.sorted
    assert(names(s"$root/all") === List("WRF_A_4.0_1970-01-01_05-30.txt",
      "WRF_A_4.0_1970-01-01_05-45.txt", "xy.csv"))
    assert(names(s"$root/none") === List("xy.csv"))
    assert(Files.size(Paths.get(root, "none", "xy.csv")) === 0L)
    val zf = new java.util.zip.ZipFile(s"$root/none.zip")
    try assert(zf.entries().asScala.map(_.getName).toList === List("xy.csv"))
    finally zf.close()
    assert(names(root) === List("all", "all.zip", "none", "none.zip"))
  }

  test("writePackaged sorts a bundle's listed cells into xy.csv by (lon, lat)") {
    val cells = Seq((79.0, 6.0), (79.0, 6.5), (79.5, 6.0), (79.5, 6.5))
    val rf = (for (t <- Seq(0L, 900L, 1800L); ((lon, lat), i) <- cells.zipWithIndex)
      yield (t, lon, lat, t / 900 * 10 + i + 0.125)).toDF("t", "lon", "lat", "value")
    val root = Files.createTempDirectory("rfield_listed").toString
    RfieldSink.writePackaged(rf, Seq(
      RfieldSink.Bundle(s"$root/sorted", lit(true), "WRF_A_4.0", cells),
      RfieldSink.Bundle(s"$root/reversed", lit(true), "WRF_A_4.0", cells.reverse)),
      s"$root/_staging", "t")
    def files(dir: String) = Files.list(Paths.get(dir)).iterator().asScala
      .filterNot(_.getFileName.toString.startsWith("."))
      .map(p => p.getFileName.toString -> Files.readAllBytes(p).toSeq).toMap
    assert(files(s"$root/reversed").keySet.size === 4)
    assert(files(s"$root/reversed") === files(s"$root/sorted"))
    assert(new String(files(s"$root/reversed")("xy.csv").toArray, "UTF-8") ===
      "79.0,6.0\n79.0,6.5\n79.5,6.0\n79.5,6.5\n")
  }
}
