package graft

import java.io.ByteArrayOutputStream
import java.nio.file.Files

import graft.sources.NetCdfClassic

/** Byte-crafts a tiny WRF-shaped classic netCDF file (the layout
  * `xarray.to_netcdf(engine="scipy")` produces: record dim Time,
  * coord vars XLAT/XLONG/XTIME, data var RAINNC) and reads it back
  * through the source — both the parser API and the distributed
  * DataFrame path. */
class NetCdfClassicSpec extends SparkSpec {

  // --- minimal CDF writer (test fixture only) ---------------------------
  private def be32(v: Int): Array[Byte] =
    Array(((v >> 24) & 0xFF).toByte, ((v >> 16) & 0xFF).toByte,
      ((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)
  private def be64(v: Long): Array[Byte] = be32((v >> 32).toInt) ++ be32(v.toInt)
  private def beF(f: Float): Array[Byte] = be32(java.lang.Float.floatToIntBits(f))
  private def padded(b: Array[Byte]): Array[Byte] =
    b ++ Array.fill[Byte]((4 - b.length % 4) % 4)(0)
  private def name(s: String): Array[Byte] =
    be32(s.length) ++ padded(s.getBytes("UTF-8"))

  /** version: 1 (32-bit offsets) or 2 (64-bit). */
  private def craft(version: Int): Array[Byte] = {
    val numRecs = 2
    def header(begins: Map[String, Long]): Array[Byte] = {
      val o = new ByteArrayOutputStream()
      def w(b: Array[Byte]): Unit = o.write(b)
      w(Array('C'.toByte, 'D'.toByte, 'F'.toByte, version.toByte))
      w(be32(numRecs))
      w(be32(0x0A)); w(be32(3))                    // NC_DIMENSION, 3 dims
      w(name("Time")); w(be32(0))                  // record dim
      w(name("south_north")); w(be32(2))
      w(name("west_east")); w(be32(3))
      w(be32(0)); w(be32(0))                       // no global attrs (ABSENT)
      w(be32(0x0B)); w(be32(4))                    // NC_VARIABLE, 4 vars
      def begin(n: String): Array[Byte] =
        if (version == 1) be32(begins.getOrElse(n, 0L).toInt)
        else be64(begins.getOrElse(n, 0L))
      // XLONG(west_east) float, fixed
      w(name("XLONG")); w(be32(1)); w(be32(2))
      w(be32(0)); w(be32(0))                       // no attrs
      w(be32(5)); w(be32(12)); w(begin("XLONG"))
      // XLAT(Time, south_north, west_east) float, record
      w(name("XLAT")); w(be32(3)); w(be32(0)); w(be32(1)); w(be32(2))
      w(be32(0)); w(be32(0))
      w(be32(5)); w(be32(24)); w(begin("XLAT"))
      // XTIME(Time) float with units attr, record
      w(name("XTIME")); w(be32(1)); w(be32(0))
      w(be32(0x0C)); w(be32(1))                    // 1 attr
      val units = "minutes since 2020-01-01 00:00:00"
      w(name("description")); w(be32(2)); w(be32(units.length))
      w(padded(units.getBytes("UTF-8")))
      w(be32(5)); w(be32(4)); w(begin("XTIME"))
      // RAINNC(Time, south_north, west_east) float, record
      w(name("RAINNC")); w(be32(3)); w(be32(0)); w(be32(1)); w(be32(2))
      w(be32(0)); w(be32(0))
      w(be32(5)); w(be32(24)); w(begin("RAINNC"))
      o.toByteArray
    }
    val hlen = header(Map.empty).length.toLong
    val recStart = hlen + 12                       // after fixed XLONG data
    val begins = Map(
      "XLONG" -> hlen, "XLAT" -> recStart,
      "XTIME" -> (recStart + 24), "RAINNC" -> (recStart + 28))
    val o = new ByteArrayOutputStream()
    o.write(header(begins))
    Seq(79.0f, 79.25f, 79.5f).foreach(f => o.write(beF(f)))          // XLONG
    // record 0: XLAT rows (lat constant per row), XTIME, RAINNC
    Seq(6.0f, 6.0f, 6.0f, 6.5f, 6.5f, 6.5f).foreach(f => o.write(beF(f)))
    o.write(beF(0.0f))
    Seq(0f, 1f, 2f, 3f, 4f, 5f).foreach(f => o.write(beF(f)))
    // record 1
    Seq(6.0f, 6.0f, 6.0f, 6.5f, 6.5f, 6.5f).foreach(f => o.write(beF(f)))
    o.write(beF(15.0f))
    Seq(10f, 12f, 14f, 16f, 18f, 20f).foreach(f => o.write(beF(f)))
    o.toByteArray
  }

  for (version <- Seq(1, 2))
    test(s"CDF-$version: header parse + record/fixed variable reads") {
      val nc = NetCdfClassic.parse(craft(version))
      assert(nc.version === version && nc.numRecs === 2)
      assert(nc.dims.map(_.name) === Seq("Time", "south_north", "west_east"))
      assert(nc.variable("RAINNC").dimIds === Seq(0, 1, 2))
      val (shp, vals) = nc.readDoubles("RAINNC")
      assert(shp === Seq(2, 2, 3))
      assert(vals.toSeq === Seq(0, 1, 2, 3, 4, 5, 10, 12, 14, 16, 18, 20).map(_.toDouble))
      val (_, xlong) = nc.readDoubles("XLONG")
      assert(xlong.toSeq === Seq(79.0, 79.25, 79.5))
      val (_, xtime) = nc.readDoubles("XTIME")
      assert(xtime.toSeq === Seq(0.0, 15.0))
      val units = nc.variable("XTIME").attr("description").get.values.asInstanceOf[String]
      assert(NetCdfClassic.parseTimeUnits(units) === ((60L, 1577836800L)))
    }

  test("readGrid: distributed (path, time, lat, lon, value) extraction") {
    val f = Files.createTempFile("graft", ".nc")
    Files.write(f, craft(1))
    val df = NetCdfClassic.readGrid(spark, Seq(f.toString))
    val out = df.orderBy("t_idx", "lat", "lon").collect()
    assert(out.length === 12) // 2 times × 2 lats × 3 lons
    val first = out.head
    assert(first.getAs[Long]("epoch_s") === 1577836800L)
    assert(first.getAs[Double]("lat") === 6.0)
    assert(first.getAs[Double]("lon") === 79.0)
    assert(first.getAs[Double]("value") === 0.0)
    val last = out.last
    assert(last.getAs[Long]("epoch_s") === 1577836800L + 900)
    assert(last.getAs[Double]("value") === 20.0)
    // end-to-end with A1: cumulative → incremental per grid cell
    import org.apache.spark.sql.functions._
    val keyed = df.withColumn("cell", concat_ws("_", col("lat"), col("lon")))
    val diffs = graft.operators.Timeseries
      .intervalDiff(keyed, "cell", "epoch_s", "t_idx", "value")
      .select("delta").as[Double](org.apache.spark.sql.Encoders.scalaDouble).collect()
    assert(diffs.sorted.toSeq === Seq(10.0, 11.0, 12.0, 13.0, 14.0, 15.0))
    Files.delete(f)
  }

  test("readGridDiff equals readGrid → intervalDiff across split boundaries") {
    import org.apache.spark.sql.functions._
    val (ny, nx, nt) = (2, 3, 7)
    val values = Array.tabulate(nt * ny * nx)(i => (i / (ny * nx)) * (1.5f + i % 4))
    // tied XTIME at records 2-3: the window orders ties by t_idx; XTIME
    // stepping back at records 3 and 5: the window orders by epoch_s
    for (times <- Seq(Array(0f, 15f, 30f, 30f, 45f, 60f, 75f),
                      Array(0f, 15f, 45f, 30f, 60f, 20f, 75f))) {
      val f = Files.createTempFile("graft_diff", ".nc")
      graft.sources.NetCdfClassicWriter.writeWrfGrid(f.toString,
        Array(6.0f, 6.25f), Array(79.0f, 79.125f, 79.25f), times,
        "2020-01-01 00:00:00", "RAINNC", values)
      val order = NetCdfClassic.gridHeader(f.toString).order.toSeq
      assert(order === (0 until nt).sortBy(t => (times(t), t)))
      val cols = Seq("path", "t_idx", "epoch_s", "lat", "lon", "value", "delta")
      val expect = graft.operators.Timeseries.intervalDiff(
          NetCdfClassic.readGrid(spark, Seq(f.toString))
            .withColumn("cell", concat_ws("_", col("lat"), col("lon"))),
          "cell", "epoch_s", "t_idx", "value")
        .select(cols.map(col): _*).collect().map(_.toString).sorted.toSeq
      assert(expect.length === (nt - 1) * ny * nx)
      for (perSplit <- Seq(1, 2, 3, 24)) {
        val got = NetCdfClassic.readGridDiff(spark, Seq(f.toString), recordsPerSplit = perSplit)
        assert(got.select(cols.map(col): _*).collect().map(_.toString).sorted.toSeq === expect,
          s"order=$order recordsPerSplit=$perSplit")
        assert(got.filter(col("lat6") =!= format_string("%.6f", col("lat")) ||
          col("lon6") =!= format_string("%.6f", col("lon"))).isEmpty)
      }
      Files.delete(f)
    }
  }

  test("readGridDiff rejects a file whose latitudes share a 6-dp key, naming the key") {
    val f = Files.createTempFile("graft_dup", ".nc").toString
    // 6.8300001 and 6.8300004 as floats both render 6.830000
    graft.sources.NetCdfClassicWriter.writeWrfGrid(f,
      Array(6.8f, 6.8300001f, 6.8300004f), Array(79.0f, 79.125f), Array(0f, 15f, 30f),
      "2020-01-01 00:00:00", "RAINNC", Array.tabulate(3 * 3 * 2)(i => (i / 6).toFloat))
    val e = intercept[IllegalArgumentException](NetCdfClassic.readGridDiff(spark, Seq(f)))
    assert(e.getMessage.contains(s"$f: repeated 6-dp latitude 6.830000"), e.getMessage)
    Files.delete(java.nio.file.Paths.get(f))
  }

  /** A `ny`×`nx` WRF file of `nt` fifteen-minute records. */
  private def wrfFile(prefix: String, nt: Int, ny: Int = 2, nx: Int = 3): String = {
    val f = Files.createTempFile(prefix, ".nc").toString
    graft.sources.NetCdfClassicWriter.writeWrfGrid(f,
      Array.tabulate(ny)(y => 6.0f + 0.25f * y), Array.tabulate(nx)(x => 79.0f + 0.125f * x),
      Array.tabulate(nt)(t => 15f * t), "2020-01-01 00:00:00", "RAINNC",
      Array.tabulate(nt * ny * nx)(i => (i / (ny * nx)) * (1f + i % 3)))
    f
  }

  private lazy val counters = new BenchCounters(spark.sparkContext)

  test("building the readGridDiff frame runs no Spark job: the splits are planned on the driver") {
    import org.apache.spark.sql.functions._
    val paths = Seq(wrfFile("graft_plan", 5), wrfFile("graft_plan", 30))
    val df = counters.record("build")(NetCdfClassic.readGridDiff(spark, paths, recordsPerSplit = 24))
    assert(counters.all("build").jobs === 0L)
    // the counter sees the action's job
    assert(counters.record("count")(df.count()) === 6L * (4 + 29))
    assert(counters.all("count").jobs > 0L)
    val h = NetCdfClassic.gridHeader(paths(1))
    assert(h.numRecs === 30 && h.lats.toSeq === Seq(6.0, 6.25) &&
      h.lons.toSeq === Seq(79.0, 79.125, 79.25))
    assert(h.epochs.toSeq === (0 until 30).map(t => 1577836800L + 900L * t))
    assert(h.diffRows === 6L * 29 && h.diffKeys.toSeq.distinct.size === 6)
    assert(df.filter(col("path") === paths(1)).count() === h.diffRows)
    paths.foreach(p => Files.delete(java.nio.file.Paths.get(p)))
  }

  test("four one-split files land in four non-empty partitions, one file each") {
    import org.apache.spark.sql.functions._
    val paths = (1 to 4).map(_ => wrfFile("graft_deal", 5))
    val df = NetCdfClassic.readGridDiff(spark, paths)
    val byPart = df.select(spark_partition_id().as("p"), col("path")).distinct().collect()
      .groupMap(_.getInt(0))(_.getString(1))
    assert(df.rdd.getNumPartitions === 4)
    assert(byPart.size === 4 && byPart.values.forall(_.length == 1), byPart)
    assert(byPart.values.flatten.toSet === paths.toSet)
    paths.foreach(p => Files.delete(java.nio.file.Paths.get(p)))
  }

  test("a 50-record file at 24 records per split gives 3 splits dealt round-robin") {
    import org.apache.spark.sql.functions._
    val f = wrfFile("graft_split", 50)
    val df = NetCdfClassic.readGridDiff(spark, Seq(f), recordsPerSplit = 24)
    assert(df.rdd.getNumPartitions === 3)
    // each split diffs its first record against the record before it
    val ranges = df.groupBy(spark_partition_id().as("p"))
      .agg(min("t_idx"), max("t_idx"), count(lit(1))).orderBy("p").collect().map(_.toSeq)
    assert(ranges.toSeq === Seq(Seq(0, 1, 23, 23L * 6), Seq(1, 24, 47, 24L * 6),
      Seq(2, 48, 49, 2L * 6)))
    Files.delete(java.nio.file.Paths.get(f))
  }

  test("a zero-record file yields no rows and no error") {
    val empty = wrfFile("graft_empty", 0)
    val full = wrfFile("graft_full", 3)
    val h = NetCdfClassic.gridHeader(empty)
    assert(h.numRecs === 0 && h.diffRows === 0L && h.diffKeys.isEmpty)
    assert(NetCdfClassic.readGridDiff(spark, Seq(empty)).count() === 0L)
    assert(NetCdfClassic.readGrid(spark, Seq(empty)).count() === 0L)
    assert(NetCdfClassic.readGridDiff(spark, Seq(empty, full)).count() === 2L * 6)
    Seq(empty, full).foreach(p => Files.delete(java.nio.file.Paths.get(p)))
  }
}
