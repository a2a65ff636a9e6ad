package graft.sources

import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.file.{Files, Paths}
import java.time.LocalDateTime
import java.time.format.DateTimeFormatter

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, element_at, expr, lit, pmod, posexplode}
import org.apache.spark.sql.types._

/** Pure-Scala reader for netCDF *classic* files (CDF-1 magic `CDF\x01`,
  * CDF-2 `CDF\x02`) — the exact on-disk format the reference's mwrf
  * pre-step emits (`xarray.to_netcdf(engine="scipy")`,
  * mwrf/extract_n_export_mwrf.py:44-45) and its main pipeline then
  * reads (`netCDF4.Dataset`, wrf_data_pusher.py:172-190).
  *
  * Implements the public classic-format spec: big-endian header
  * (dims / global attrs / var metadata with data offsets), fixed-size
  * variables stored contiguously row-major, record variables
  * interleaved per unlimited-dim record, the streaming numrecs
  * sentinel (0xFFFFFFFF → record count derived from file size). No
  * external library — the container has no netCDF jars, and the format
  * is simple enough that a dependency would cost more than these
  * ~250 lines.
  *
  * Data access is abstracted behind a `fetch(offset, len)` function:
  * [[parse]] serves from an in-memory byte array, [[withSeekable]]
  * from positioned `FileChannel` reads — so a record-range split task
  * reads ONLY the header and its own record slabs, never the whole
  * file.
  *
  * Scale posture: one WRF output file is ~10 MB; a forecast archive is
  * millions of them. [[readGrid]] distributes in two dimensions —
  * across files AND record ranges within each file — emitting
  * `(path, time, lat, lon, value)` rows. Downstream operators
  * (A1 intervalDiff etc.) then shard by station key; [[readGridDiff]]
  * takes the A1 diff inside the split reader instead, with no shuffle.
  */
object NetCdfClassic {

  // classic-format tag words
  private val NC_DIMENSION = 0x0A
  private val NC_VARIABLE  = 0x0B
  private val NC_ATTRIBUTE = 0x0C

  final case class NcDim(name: String, length: Int) {
    def isRecord: Boolean = length == 0
  }
  final case class NcAttr(name: String, ncType: Int, values: Any)
  final case class NcVar(name: String, dimIds: Seq[Int], attrs: Seq[NcAttr],
                         ncType: Int, vsize: Long, begin: Long) {
    def attr(n: String): Option[NcAttr] = attrs.find(_.name == n)
  }

  /** Parsed file handle. `fetch(offset, len)` returns a big-endian
    * buffer positioned at 0 over exactly that byte range; `totalSize`
    * is the file length (resolves the streaming numrecs sentinel). */
  final class NcFile(val version: Int, rawNumRecs: Int, val dims: Seq[NcDim],
                     val gattrs: Seq[NcAttr], val vars: Seq[NcVar],
                     fetch: (Long, Int) => ByteBuffer, totalSize: Long) {

    def variable(n: String): NcVar = vars.find(_.name == n)
      .getOrElse(throw new NoSuchElementException(
        s"variable '$n' not in ${vars.map(_.name).mkString(",")}"))

    private[sources] def isRecordVar(v: NcVar): Boolean =
      v.dimIds.headOption.exists(i => dims(i).isRecord)

    /** Stride between consecutive records (sum of record-var vsizes;
      * a single record variable is laid out without inter-record
      * padding per the spec's special case). */
    private lazy val recSize: Long = {
      val rvs = vars.filter(isRecordVar)
      if (rvs.size == 1) {
        val v = rvs.head
        typeSize(v.ncType).toLong *
          v.dimIds.drop(1).map(i => dims(i).length.toLong).product
      } else rvs.map(_.vsize).sum
    }

    /** Record count; the classic spec's STREAMING sentinel (numrecs =
      * 0xFFFFFFFF) is resolved from the bytes actually present. Any
      * OTHER negative word is corruption — accepting it would make
      * every record loop empty and silently drop the file's grid. */
    lazy val numRecs: Int =
      if (rawNumRecs != -1) {
        require(rawNumRecs >= 0,
          s"corrupt numrecs $rawNumRecs (only -1 is the streaming sentinel)")
        rawNumRecs
      }
      else {
        val rvs = vars.filter(isRecordVar)
        if (rvs.isEmpty || recSize == 0) 0
        else {
          val minBegin = rvs.map(_.begin).min
          // torn BEFORE the record section: a negative count would
          // silently read as "no records" and drop the file's whole
          // grid from the run — fail loud instead
          require(totalSize >= minBegin,
            s"file torn before the record section: $totalSize bytes on " +
              s"disk, records begin at $minBegin")
          ((totalSize - minBegin) / recSize).toInt
        }
      }

    /** Dimension lengths of a variable, record dim resolved to numRecs. */
    def shape(v: NcVar): Seq[Int] =
      v.dimIds.map(i => if (dims(i).isRecord) numRecs else dims(i).length)

    /** Bytes the header commits the file to contain: end of the fixed
      * section, plus numRecs full records when the count is declared. */
    lazy val expectedSize: Long = {
      val rvs = vars.filter(isRecordVar)
      val fixedEnd = vars.filterNot(isRecordVar)
        .map(v => v.begin + v.vsize).maxOption.getOrElse(0L)
      if (rvs.isEmpty || rawNumRecs == -1) fixedEnd
      else math.max(fixedEnd, rvs.map(_.begin).min + rawNumRecs.toLong * recSize)
    }

    /** Arrival-readiness check (the compute content of the reference's
      * `is_netcdf_ready.sh`, which polls an upload dir before pushing):
      * a mid-upload file is shorter than its header's commitment. With
      * the STREAMING numrecs sentinel the total is open-ended, so ready
      * means "whole records only" — no torn trailing record. */
    def isComplete: Boolean =
      if (rawNumRecs == -1) {
        val rvs = vars.filter(isRecordVar)
        // the fixed section must be fully present FIRST: a torn
        // upload whose deficit happens to be a multiple of recSize
        // (Scala % keeps the dividend's sign, and -400 % 200 == 0)
        // must not read as ready
        val fixedEnd = vars.filterNot(isRecordVar)
          .map(v => v.begin + v.vsize).maxOption.getOrElse(0L)
        totalSize >= fixedEnd &&
          (rvs.isEmpty || recSize == 0L || {
            val minBegin = rvs.map(_.begin).min
            totalSize >= minBegin &&
              (totalSize - minBegin) % recSize == 0L
          })
      } else totalSize >= expectedSize

    /** Read a variable fully as a flat row-major Double array
      * (numeric types widened; NC_CHAR unsupported here). */
    def readDoubles(name: String): (Seq[Int], Array[Double]) = {
      val v = variable(name)
      if (isRecordVar(v)) readRecords(name, 0, numRecs)
      else {
        val shp = shape(v)
        val n = shp.map(_.toLong).product
        require(n <= Int.MaxValue, s"$name too large for a single read")
        val out = new Array[Double](n.toInt)
        readAt(v, v.begin, n.toInt, out, 0)
        (shp, out)
      }
    }

    /** Read records [r0, r1) of a record variable — the seekable unit
      * that makes classic netCDF intra-file parallel: each split task
      * fetches only its record slabs. Returned shape has (r1-r0) as
      * the leading dimension. */
    def readRecords(name: String, r0: Int, r1: Int): (Seq[Int], Array[Double]) = {
      val v = variable(name)
      require(isRecordVar(v), s"$name is not a record variable")
      require(r0 >= 0 && r1 <= numRecs && r0 <= r1, s"bad record range [$r0,$r1)")
      val tail = shape(v).drop(1)
      val perRec = tail.product
      val out = new Array[Double]((r1 - r0) * perRec)
      if (r1 > r0) {
        // ONE ranged fetch spanning all requested records (1 syscall on
        // the seekable path); the span includes the other record vars'
        // interleaved slabs, which callers typically read next anyway
        val ts = typeSize(v.ncType)
        val slabBytes = perRec * ts
        val spanLen = (r1 - 1 - r0).toLong * recSize + slabBytes
        require(spanLen <= Int.MaxValue, s"record range [$r0,$r1) too large")
        val buf = fetch(v.begin + r0.toLong * recSize, spanLen.toInt)
        var r = r0
        while (r < r1) {
          decode(v, buf, ((r - r0).toLong * recSize).toInt, perRec,
            out, (r - r0) * perRec)
          r += 1
        }
      }
      ((r1 - r0) +: tail, out)
    }

    /** One contiguous slab: fetch exactly count elements at offset. */
    private def readAt(v: NcVar, offset: Long, count: Int,
                       out: Array[Double], outPos: Int): Unit = {
      // Long arithmetic + explicit bound: count ≤ Int.MaxValue does
      // NOT imply count·typeSize fits an Int (300M doubles = 2.4 GB
      // wraps negative and dies in ByteBuffer.allocate with a
      // meaningless "capacity < 0")
      val bytes = count.toLong * typeSize(v.ncType)
      require(bytes <= Int.MaxValue,
        s"${v.name}: $count elements × ${typeSize(v.ncType)} B = $bytes " +
          "bytes exceeds a single fetch — split the read")
      decode(v, fetch(offset, bytes.toInt), 0, count, out, outPos)
    }

    /** Decode `count` elements starting at `base` bytes into `buf`. */
    private def decode(v: NcVar, buf: ByteBuffer, base: Int, count: Int,
                       out: Array[Double], outPos: Int): Unit = {
      val ts = typeSize(v.ncType)
      var i = 0
      while (i < count) {
        val p = base + i * ts
        out(outPos + i) = v.ncType match {
          case 1 => buf.get(p).toDouble                  // NC_BYTE
          case 3 => buf.getShort(p).toDouble             // NC_SHORT
          case 4 => buf.getInt(p).toDouble               // NC_INT
          case 5 => buf.getFloat(p).toDouble             // NC_FLOAT
          case 6 => buf.getDouble(p)                     // NC_DOUBLE
          case t => throw new UnsupportedOperationException(s"nc_type $t")
        }
        i += 1
      }
    }
  }

  private def typeSize(t: Int): Int = t match {
    case 1 | 2 => 1; case 3 => 2; case 4 | 5 => 4; case 6 => 8
    case other => throw new UnsupportedOperationException(s"nc_type $other")
  }

  /** Header fields parsed from a prefix buffer (throws
    * BufferUnderflowException / IndexOutOfBoundsException when the
    * prefix is too short — callers grow and retry). */
  private def parseMeta(buf: ByteBuffer):
      (Int, Int, Seq[NcDim], Seq[NcAttr], Seq[NcVar]) = {
    require(buf.limit() >= 8,
      s"not a netCDF classic file (${buf.limit()} bytes, need at least magic + numrecs)")
    require(buf.get() == 'C' && buf.get() == 'D' && buf.get() == 'F',
      "not a netCDF classic file (bad magic)")
    val version = buf.get().toInt
    require(version == 1 || version == 2,
      s"classic CDF-1/2 only (netCDF-4/HDF5 not supported), got version $version")
    val numRecs = buf.getInt()

    def readName(): String = {
      val n = buf.getInt()
      val b = new Array[Byte](n); buf.get(b)
      buf.position(buf.position() + pad4(n))
      new String(b, "UTF-8")
    }

    def readTagged(expected: Int): Int = {
      val tag = buf.getInt(); val n = buf.getInt()
      require(tag == expected || (tag == 0 && n == 0),
        s"bad tag $tag (expected $expected)")
      n
    }

    val dims = (0 until readTagged(NC_DIMENSION)).map { _ =>
      NcDim(readName(), buf.getInt())
    }

    def readAttrs(): Seq[NcAttr] = (0 until readTagged(NC_ATTRIBUTE)).map { _ =>
      val name = readName(); val t = buf.getInt(); val n = buf.getInt()
      val values: Any = t match {
        case 2 => // NC_CHAR → String
          val b = new Array[Byte](n); buf.get(b)
          buf.position(buf.position() + pad4(n))
          new String(b, "UTF-8")
        case 1 =>
          val b = new Array[Byte](n); buf.get(b)
          buf.position(buf.position() + pad4(n)); b.toSeq
        case 3 =>
          val v = (0 until n).map(_ => buf.getShort())
          buf.position(buf.position() + pad4(2 * n)); v
        case 4 => (0 until n).map(_ => buf.getInt())
        case 5 => (0 until n).map(_ => buf.getFloat())
        case 6 => (0 until n).map(_ => buf.getDouble())
        case other => throw new UnsupportedOperationException(s"attr nc_type $other")
      }
      NcAttr(name, t, values)
    }

    val gattrs = readAttrs()

    val vars = (0 until readTagged(NC_VARIABLE)).map { _ =>
      val name = readName()
      val nd = buf.getInt()
      val dimIds = (0 until nd).map(_ => buf.getInt())
      val attrs = readAttrs()
      val ncType = buf.getInt()
      val vsize = buf.getInt().toLong & 0xFFFFFFFFL
      val begin = if (version == 1) buf.getInt().toLong & 0xFFFFFFFFL else buf.getLong()
      NcVar(name, dimIds, attrs, ncType, vsize, begin)
    }

    (version, numRecs, dims, gattrs, vars)
  }

  private def pad4(n: Int): Int = (4 - (n % 4)) % 4

  /** In-memory parse (whole file in a byte array). */
  def parse(bytes: Array[Byte]): NcFile = {
    val (v, nr, d, g, vs) = parseMeta(ByteBuffer.wrap(bytes))
    new NcFile(v, nr, d, g, vs,
      (off, len) => ByteBuffer.wrap(bytes, off.toInt, len).slice(),
      bytes.length.toLong)
  }

  def open(path: String): NcFile = parse(Files.readAllBytes(Paths.get(path)))

  /** Seekable access: parse the header from a growing prefix, serve
    * data via positioned channel reads — a record-range split task
    * touches only header + its slabs, not the whole file. */
  /** True when `path` exists, parses, and holds every byte its header
    * commits to — the per-file predicate behind [[ArrivalGate]]. A
    * missing file, truncated header, or short data section is simply
    * "not ready yet", not an error: that's the normal state of an
    * in-flight upload. */
  def isReady(path: String): Boolean =
    try withSeekable(path)(_.isComplete)
    catch { case _: Exception => false }

  def withSeekable[T](path: String)(f: NcFile => T): T = {
    val ch = FileChannel.open(Paths.get(path))
    try {
      val size = ch.size()
      def readRange(off: Long, len: Int): ByteBuffer = {
        val b = ByteBuffer.allocate(len)
        var pos = off
        while (b.hasRemaining) {
          val n = ch.read(b, pos)
          require(n > 0, s"$path: unexpected EOF at $pos")
          pos += n
        }
        b.flip(); b
      }
      var prefix = math.min(size, 8192L).toInt
      var meta: (Int, Int, Seq[NcDim], Seq[NcAttr], Seq[NcVar]) = null
      while (meta == null) {
        try meta = parseMeta(readRange(0L, prefix))
        catch {
          // IllegalArgumentException too: a prefix boundary landing
          // inside a 1-3 byte name/attr padding run surfaces from
          // Buffer.position(pos + pad) as IAE, not underflow — real
          // WRF headers exceed the 8 KiB initial prefix, so missing
          // it here made VALID complete files unparseable (and
          // isReady deterministically false — a gate timeout)
          case e @ (_: java.nio.BufferUnderflowException |
                    _: IndexOutOfBoundsException |
                    _: IllegalArgumentException) =>
            if (prefix >= size) throw new IllegalArgumentException(
              s"$path: truncated header", e)
            prefix = math.min(size, prefix.toLong * 4).toInt
        }
      }
      val (v, nr, d, g, vs) = meta
      f(new NcFile(v, nr, d, g, vs, readRange, size))
    } finally ch.close()
  }

  /** Parse a time-axis unit string of the reference's XTIME form —
    * `"<unit> since <timestamp>"` (wrf_data_pusher.py:174-176 splits
    * on `'since '`) — into (secondsPerUnit, baseEpochSeconds). */
  def parseTimeUnits(desc: String): (Long, Long) = {
    val Array(unit, base) = desc.split(" since ", 2)
    val secs = unit.trim.toLowerCase match {
      case "seconds" => 1L; case "minutes" => 60L
      case "hours" => 3600L; case "days" => 86400L
      case u => throw new IllegalArgumentException(s"time unit '$u'")
    }
    val baseStr = base.trim
    // a CF base like "2020-01-01 00:00:00+05:30" must not silently
    // lose its offset (every epoch would shift by it); this reader
    // supports the reference's UTC form only — fail loud otherwise
    require(baseStr.length <= 19,
      s"unsupported time base '$baseStr' — trailing zone offsets are " +
        "not supported (reference files are UTC)")
    val fmt = DateTimeFormatter.ofPattern("yyyy-MM-dd[ HH:mm:ss]")
    val parsed = fmt.parse(baseStr.take(19))
    // date-only units ("days since 2020-01-01") carry no time-of-day —
    // LocalDateTime.from would throw; start-of-day is the convention
    val ldt = if (parsed.isSupported(java.time.temporal.ChronoField.HOUR_OF_DAY))
      LocalDateTime.from(parsed)
    else java.time.LocalDate.from(parsed).atStartOfDay()
    (secs, ldt.toEpochSecond(java.time.ZoneOffset.UTC))
  }

  /** The header of `path`'s (time, y, x) grid `valueVar`, as
    * [[gridHeader]] reads it on the driver: the record count, the axis
    * vectors (`XLAT[0, :, 0]` and `XLONG[0, 0, :]`, or the whole vector
    * when a coordinate variable is 1-D; empty when the file holds no
    * record), each record's epoch second, and what follows from them
    * there: the axes' `%.6f` keys and the file's time order. The split
    * readers plan their splits and take axes, keys and times from it, so
    * a split task reads only its value slabs, and a caller can count
    * what [[readGridDiff]] emits from it without a Spark job. */
  final case class GridHeader(path: String, valueVar: String, numRecs: Int,
                              lats: Array[Double], lons: Array[Double],
                              epochs: Array[Long]) {
    /** `lats` and `lons` rendered `%.6f`: the registry's station keys. */
    val lat6: Array[String] = lats.map(sixDp)
    val lon6: Array[String] = lons.map(sixDp)

    /** The record indices sorted by (epoch second, record index): the
      * order [[readGridDiff]] diffs in, the identity unless XTIME steps
      * back. */
    val order: Array[Int] = Array.range(0, numRecs).sortBy(r => (epochs(r), r))

    /** Cells [[readGridDiff]] emits rows for: every grid cell, or none
      * when the file holds fewer than 2 records. */
    def diffCells: Long = if (numRecs < 2) 0L else lats.length.toLong * lons.length

    /** Rows [[readGridDiff]] emits: one per cell and record after the
      * first. */
    def diffRows: Long = if (numRecs < 2) 0L else diffCells * (numRecs - 1)

    /** The `%.6f` (lat, lon) keys of the cells [[readGridDiff]] emits
      * rows for: none when the file holds fewer than 2 records. */
    def diffKeys: Iterator[(String, String)] =
      if (numRecs < 2) Iterator.empty
      else lat6.iterator.flatMap(lat => lon6.iterator.map(lat -> _))
  }

  /** `path`'s [[GridHeader]], from one [[withSeekable]]: the header,
    * the axis vectors and one time value per record. */
  def gridHeader(path: String, valueVar: String = "RAINNC",
                 latVar: String = "XLAT", lonVar: String = "XLONG",
                 timeVar: String = "XTIME"): GridHeader =
    withSeekable(path) { nc =>
      val shp = nc.shape(nc.variable(valueVar))
      require(shp.size == 3, s"$valueVar must be (time, y, x), got $shp")
      val Seq(n, ny, nx) = shp
      val epochs = epochSeconds(nc, timeVar,
        Array.tabulate(n)(r => nc.readRecords(timeVar, r, r + 1)._2(0)))
      val (lats, lons) =
        if (n == 0) (Array.emptyDoubleArray, Array.emptyDoubleArray)
        else gridAxes(nc, ny, nx, latVar, lonVar)
      require(n == 0 || (lats.length == ny && lons.length == nx),
        s"$path: $latVar/$lonVar hold ${lats.length}/${lons.length} values " +
          s"for $valueVar's $ny×$nx grid")
      GridHeader(path, valueVar, n, lats, lons, epochs)
    }

  /** The split size of [[readGrid]] and [[readGridDiff]] by default. */
  val RecordsPerSplit = 24

  /** Distributed grid extraction over many classic netCDF files:
    * DataFrame of `(path, t_idx, epoch_s, lat, lon, value)`.
    *
    * Mirrors the reference's per-file extraction (wrf_data_pusher.py:
    * 178-190: `lats = XLAT[0,:,0]`, `lons = XLONG[0,0,:]`,
    * `RAINNC[t,y,x]`, `XTIME[t]`), fanned out over the cluster in TWO
    * dimensions: across files AND across record (time-step) ranges
    * within each file — classic netCDF's fixed record stride makes any
    * [r0, r1) slab independently readable via positioned reads, so a
    * handful of large files still saturates every core and a split
    * task's I/O is proportional to ITS slab, not the file. The driver
    * reads each file's [[GridHeader]] and plans the splits from it
    * ([[gridSplits]]); building the frame runs no Spark job. Coordinate
    * variables may be 1-D vectors or (time, y, x) grids (both occur in
    * WRF output); 3-D coords use the t=0 slice exactly as the reference
    * does. [[readGridDiff]] is the same scan with each step's interval
    * diff and 6-dp coordinate keys computed in the split reader.
    */
  def readGrid(spark: SparkSession, paths: Seq[String],
               valueVar: String = "RAINNC", latVar: String = "XLAT",
               lonVar: String = "XLONG", timeVar: String = "XTIME",
               recordsPerSplit: Int = RecordsPerSplit): DataFrame = {
    val headers = paths.map(gridHeader(_, valueVar, latVar, lonVar, timeVar))
    val rdd = gridSplits(spark, headers, recordsPerSplit).flatMap { case (h, r0, r1) =>
      val values = slab(h, r0 until r1)
      val cells = h.lats.length * h.lons.length
      // ONE row per timestep, carrying the step's value slab
      (r0 until r1).map { t =>
        val at = (t - r0) * cells
        Row(h.path, t, h.epochs(t), h.lons.length, h.lats, h.lons,
          java.util.Arrays.copyOfRange(values, at, at + cells))
      }
    }
    explodeCells(spark.createDataFrame(rdd, StructType(stepFields)),
      (_, _) => Nil)
  }

  /** [[readGrid]] with the interval diff (A1, `prcp[1:] - prcp[:-1]`,
    * wrf_data_pusher.py:63-65) taken inside the split reader:
    * `(path, t_idx, epoch_s, lat, lon, value, delta, lat6, lon6)`,
    * one row per cell and record except each file's first in its
    * header's time order ([[GridHeader.order]]: by epoch second, ties
    * in record order), which has no predecessor; `delta` = the cell's
    * value minus its value at the record before in that order,
    * `lat6`/`lon6` the header's `%.6f` keys (the Formatter and locale of
    * Spark's `format_string`). The splits are ranges of positions in the
    * time order, and each also reads the record before its range, so no
    * shuffle or sort is needed; in a file whose XTIME never steps back a
    * split's records are one ascending run, read in one fetch.
    *
    * Equal to [[graft.operators.Timeseries.intervalDiff]] keyed by
    * (file, lat6, lon6) and ordered by (epoch_s, t_idx) whenever the
    * 6-dp keys are distinct. A file whose lat or lon keys repeat would
    * merge two grid points into one series: it is rejected on the
    * driver, before the frame is built. */
  def readGridDiff(spark: SparkSession, paths: Seq[String],
                   valueVar: String = "RAINNC", latVar: String = "XLAT",
                   lonVar: String = "XLONG", timeVar: String = "XTIME",
                   recordsPerSplit: Int = RecordsPerSplit): DataFrame =
    readGridDiff(spark, paths.map(gridHeader(_, valueVar, latVar, lonVar, timeVar)),
      recordsPerSplit)

  /** [[readGridDiff]] over headers the caller has read. */
  def readGridDiff(spark: SparkSession, headers: Seq[GridHeader],
                   recordsPerSplit: Int): DataFrame = {
    for (h <- headers; (axis, keys) <- Seq("latitude" -> h.lat6, "longitude" -> h.lon6)) {
      val repeated = keys.diff(keys.distinct)
      require(repeated.isEmpty, s"${h.path}: repeated 6-dp $axis ${repeated.head}: " +
        "two grid points would share one series")
    }
    val rdd = gridSplits(spark, headers, recordsPerSplit).flatMap { case (h, p0, p1) =>
      val lo = math.max(p0 - 1, 0) // the predecessor of the split's first position
      val values = slab(h, h.order.slice(lo, p1).toSeq)
      val cells = h.lats.length * h.lons.length
      (math.max(p0, 1) until p1).map { p =>
        val at = (p - lo) * cells
        val delta = new Array[Double](cells)
        var i = 0
        while (i < cells) {
          delta(i) = values(at + i) - values(at - cells + i)
          i += 1
        }
        val t = h.order(p)
        Row(h.path, t, h.epochs(t), h.lons.length, h.lats, h.lons,
          java.util.Arrays.copyOfRange(values, at, at + cells),
          h.lat6, h.lon6, delta)
      }
    }
    val schema = StructType(stepFields ++ Seq(
      StructField("lat6s", ArrayType(StringType, containsNull = false), nullable = false),
      StructField("lon6s", ArrayType(StringType, containsNull = false), nullable = false),
      StructField("deltas", ArrayType(DoubleType, containsNull = false), nullable = false)))
    explodeCells(spark.createDataFrame(rdd, schema), (y, x) => Seq(
      element_at(col("deltas"), col("i") + lit(1)).as("delta"),
      element_at(col("lat6s"), y).as("lat6"),
      element_at(col("lon6s"), x).as("lon6")))
  }

  /** `%.6f` exactly as Spark's `format_string` renders a double. */
  private def sixDp(v: Double): String =
    String.format(java.util.Locale.US, "%.6f", Double.box(v))

  /** (header, p0, p1) splits of every file's positions 0 until its
    * record count (records for [[readGrid]], places in the time order
    * for [[readGridDiff]]), planned on the driver and dealt
    * round-robin: ordered by slot f + k·files for
    * split k of file f, the i-th goes to partition i mod P, with P the
    * split count capped at twice the cores. So files with equal record
    * counts fill every partition once before any partition gets a
    * second split (`repartition`'s seeded pseudo-random start slots put
    * two of four one-split files on one task). No Spark job runs: the
    * dealt splits are the partitions of a `parallelize`, one slice per
    * partition. */
  private def gridSplits(spark: SparkSession, headers: Seq[GridHeader],
                         recordsPerSplit: Int): RDD[(GridHeader, Int, Int)] = {
    require(recordsPerSplit > 0, "recordsPerSplit must be positive")
    val files = headers.size
    val dealt = headers.zipWithIndex.flatMap { case (h, f) =>
      (0 until h.numRecs by recordsPerSplit).zipWithIndex.map { case (r0, k) =>
        (f.toLong + k.toLong * files, (h, r0, math.min(r0 + recordsPerSplit, h.numRecs)))
      }
    }.sortBy(_._1).map(_._2).toVector
    val parts = math.min(dealt.size, spark.sparkContext.defaultParallelism * 2).max(1)
    spark.sparkContext
      .parallelize((0 until parts).map(p => (p until dealt.size by parts).map(dealt)), parts)
      .flatMap(identity)
  }

  /** Records `rs` of `h`'s value grid, row-major in the order of `rs`,
    * read on the split's executor: one ranged fetch when `rs` is an
    * ascending run, one per record otherwise. */
  private def slab(h: GridHeader, rs: Seq[Int]): Array[Double] =
    withSeekable(h.path) { nc =>
      val ranges =
        if (rs.indices.forall(i => rs(i) == rs.head + i)) Seq(rs.head -> (rs.last + 1))
        else rs.map(r => r -> (r + 1))
      val parts = ranges.map { case (r0, r1) =>
        val (shp, values) = nc.readRecords(h.valueVar, r0, r1)
        require(shp.drop(1) == Seq(h.lats.length, h.lons.length),
          s"${h.path}: ${h.valueVar} is ${shp.drop(1).mkString("×")} " +
            s"but its header was ${h.lats.length}×${h.lons.length}")
        values
      }
      if (parts.size == 1) parts.head else Array.concat(parts: _*)
    }

  /** `XLAT[0, :, 0]` and `XLONG[0, 0, :]` — or the whole vector when
    * the coordinate variable is 1-D. */
  private def gridAxes(nc: NcFile, ny: Int, nx: Int, latVar: String,
                       lonVar: String): (Array[Double], Array[Double]) = {
    def axis(name: String, take: Int, pick: Int => Int): Array[Double] = {
      val v = nc.variable(name)
      val (shp, raw) =
        if (nc.isRecordVar(v)) nc.readRecords(name, 0, 1)
        else nc.readDoubles(name)
      if (shp.size == 1) raw
      else (0 until take).map(i => raw(pick(i))).toArray // t=0 slice of (t,y,x)
    }
    (axis(latVar, ny, y => y * nx), axis(lonVar, nx, x => x))
  }

  /** Epoch seconds of raw `timeVar` ticks, from its unit string. */
  private def epochSeconds(nc: NcFile, timeVar: String,
                           ticks: Array[Double]): Array[Long] = {
    val tv = nc.variable(timeVar)
    val unitStr = tv.attr("description").orElse(tv.attr("units"))
      .map(_.values.asInstanceOf[String])
      .getOrElse(throw new IllegalArgumentException(
        s"$timeVar has neither 'description' nor 'units' — raw ticks " +
          "would silently read as 1970-epoch seconds"))
    val (secsPer, base) = parseTimeUnits(unitStr)
    // round, don't truncate: XTIME is NC_FLOAT, so 10.2 min arrives as
    // 10.1999998f and truncation lands the whole timestep one second
    // early — file stamps, watermarks, and cross-system joins on
    // epoch_s would silently disagree
    ticks.map(t => base + math.round(t * secsPer))
  }

  /** ONE row per TIMESTEP crosses the external-row encoder (path,
    * t_idx, epoch_s, coordinate vectors, the step's ny·nx value slab);
    * the per-cell rows are built by [[explodeCells]] inside whole-stage
    * codegen — per-cell Row construction paid per-field conversion on
    * millions of rows (r16, guide §1.2 step 2 / §4). */
  private val stepFields = Seq(
    StructField("path", StringType, nullable = false),
    StructField("t_idx", IntegerType, nullable = false),
    StructField("epoch_s", LongType, nullable = false),
    StructField("nx", IntegerType, nullable = false),
    StructField("lats", ArrayType(DoubleType, containsNull = false), nullable = false),
    StructField("lons", ArrayType(DoubleType, containsNull = false), nullable = false),
    StructField("values", ArrayType(DoubleType, containsNull = false), nullable = false))

  /** Per-cell fan-out in codegen: cell i of a step's row-major slab is
    * (y = i div nx, x = i mod nx); `extra` gets the 1-based y and x
    * (element_at's indexing) and adds per-cell columns after `value`. */
  private def explodeCells(steps: DataFrame,
                           extra: (Column, Column) => Seq[Column]): DataFrame = {
    val y = (expr("i div nx") + lit(1L)).cast("int")
    val x = (pmod(col("i"), col("nx")) + lit(1)).cast("int")
    steps
      .select(steps.columns.filter(_ != "values").map(col).toSeq :+
        posexplode(col("values")).as(Seq("i", "value")): _*)
      .select(Seq(col("path"), col("t_idx"), col("epoch_s"),
        element_at(col("lats"), y).as("lat"),
        element_at(col("lons"), x).as("lon"),
        col("value")) ++ extra(y, x): _*)
  }
}
