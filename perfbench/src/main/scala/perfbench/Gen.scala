package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.SparkSession

import graft.sources.NetCdfClassicWriter

/** Seeded input generators. The same seed gives byte-identical files;
  * another seed gives different files of the same size. The engine
  * only ever sees the files written here. */
object Gen {

  /** The reference's `wrf_systems`. */
  val Systems: Seq[String] = Seq("A", "C", "E", "SE")

  /** One WRF forecast run: the generator's own arrays, kept so the
    * output checks can recompute the ensemble-mean increments. */
  final case class WrfRun(lats: Array[Float], lons: Array[Float],
                          timesMin: Array[Float], cumulative: Map[String, Array[Float]]) {
    def ny: Int = lats.length
    def nx: Int = lons.length
    def nt: Int = timesMin.length
    def cells: Int = ny * nx
    /** Per-interval increment of `system` at step t (1..nt-1), cell c,
      * with the engine's arithmetic: float column minus its lag. */
    def delta(system: String, t: Int, c: Int): Double = {
      val v = cumulative(system)
      (v(t * cells + c) - v((t - 1) * cells + c)).toDouble
    }
  }

  /** Cumulative `RAINNC[t, lat, lon]` for the four systems over an
    * ny×nx d03-like grid on 15-minute steps. Rain falls from seeded
    * storm cells that drift across the grid; outside them the cells
    * stay dry. Each system sees the same storms with its own seeded
    * intensity and position error, as an ensemble does. */
  def wrfRun(seed: Long, ny: Int, nx: Int, nt: Int): WrfRun = {
    val rnd = new java.util.Random(seed)
    val lats = Array.tabulate(ny)(i => 6.6f + 0.02f * i)
    val lons = Array.tabulate(nx)(i => 79.8f + 0.02f * i)
    val times = Array.tabulate(nt)(t => 15.0f * t)
    final case class Storm(y0: Double, x0: Double, vy: Double, vx: Double,
                           radius: Double, peak: Double, t0: Int, t1: Int)
    val storms = Seq.fill(6) {
      val t0 = rnd.nextInt(nt / 2)
      Storm(rnd.nextDouble() * ny, rnd.nextDouble() * nx,
        rnd.nextGaussian() * 0.3, rnd.nextGaussian() * 0.3,
        2.0 + rnd.nextDouble() * ny / 6.0, 0.5 + rnd.nextDouble() * 4.0,
        t0, t0 + 4 + rnd.nextInt(nt))
    }
    val cells = ny * nx
    val cumulative = Systems.map { sys =>
      val scale = 0.8 + 0.4 * rnd.nextDouble()
      val (dy, dx) = (rnd.nextGaussian(), rnd.nextGaussian())
      val values = new Array[Float](nt * cells)
      val acc = new Array[Double](cells)
      for (t <- 1 until nt; y <- 0 until ny; x <- 0 until nx) {
        var rate = 0.0
        for (s <- storms if t >= s.t0 && t < s.t1) {
          val cy = s.y0 + s.vy * (t - s.t0) + dy
          val cx = s.x0 + s.vx * (t - s.t0) + dx
          val d2 = ((y - cy) * (y - cy) + (x - cx) * (x - cx)) / (s.radius * s.radius)
          if (d2 < 1.0) rate += s.peak * scale * (1.0 - d2)
        }
        val c = y * nx + x
        acc(c) += rate
        values(t * cells + c) = acc(c).toFloat
      }
      sys -> values
    }.toMap
    WrfRun(lats, lons, times, cumulative)
  }

  /** Write the run as the reference lays it out: one classic netCDF per
    * system, `d03_RAINNC_<system>.nc`. */
  def writeWrfRun(run: WrfRun, dir: String): Unit = {
    new File(dir).mkdirs()
    for (sys <- Systems)
      NetCdfClassicWriter.writeWrfGrid(s"$dir/d03_RAINNC_$sys.nc", run.lats,
        run.lons, run.timesMin, "2020-01-01 00:00:00", "RAINNC", run.cumulative(sys))
  }

  // ---- corpus -------------------------------------------------------

  /** The documents/embeddings fixture's mix, measured on its sf0.1
    * tables (5000 documents, 2000 embeddings): texts are bags of this
    * 30-word vocabulary with 10..100 words; 5% are near-duplicates (an
    * earlier text plus the word `dup`); 0.3% are exact duplicates;
    * the language shares below; `src<doc_id % 20>` sources; no PII.
    * Embeddings are unit 64-float vectors with ten labels. */
  val Vocab: Array[String] = ("join hash row batch scan column customer filter " +
    "small slow merge order vector line table data agg value key stream " +
    "window a spark part group big sort query fast the").split(" ")
  val Langs: Seq[(String, Double)] =
    Seq("en" -> 0.412, "zh" -> 0.151, "es" -> 0.149, "fr" -> 0.148, "de" -> 0.140)
  val NearDupFrac = 0.05
  val ExactDupFrac = 0.0032
  val Dim = 64
  val Labels = 10

  final case class Doc(docId: Long, text: String, lang: String, source: String)

  def documents(seed: Long, n: Int, firstId: Long = 0L): IndexedSeq[Doc] = {
    val rnd = new java.util.Random(seed * 31 + 7)
    val texts = new Array[String](n)
    for (i <- 0 until n) {
      val u = rnd.nextDouble()
      texts(i) =
        if (i > 0 && u < ExactDupFrac) texts(rnd.nextInt(i))
        else if (i > 0 && u < ExactDupFrac + NearDupFrac) texts(rnd.nextInt(i)) + " dup"
        else Seq.fill(10 + rnd.nextInt(91))(Vocab(rnd.nextInt(Vocab.length))).mkString(" ")
    }
    def lang(): String = {
      var u = rnd.nextDouble() * Langs.map(_._2).sum
      Langs.find { case (_, p) => u -= p; u < 0 }.getOrElse(Langs.last)._1
    }
    texts.indices.map { i =>
      val id = firstId + i
      Doc(id, texts(i), lang(), s"src${id % 20}")
    }
  }

  /** Unit vectors with a weak per-label direction (same-label cosine
    * ≈ 0.005 above cross-label, as in the fixture). */
  def vectors(seed: Long, n: Int): IndexedSeq[(Array[Float], Int)] = {
    val rnd = new java.util.Random(seed * 131 + 11)
    val centers = Array.fill(Labels, Dim)(rnd.nextGaussian())
    (0 until n).map { _ =>
      val label = rnd.nextInt(Labels)
      val g = Array.tabulate(Dim)(j => rnd.nextGaussian() + 0.07 * centers(label)(j))
      val norm = math.sqrt(g.map(x => x * x).sum)
      (g.map(x => (x / norm).toFloat), label)
    }
  }

  /** Land `documents.parquet` and `embeddings.parquet` (one file each)
    * under `dir`, in the layout `graft.Tables` reads. */
  def writeCorpus(spark: SparkSession, dir: String, docs: Seq[Doc],
                  vecs: Seq[(Long, Array[Float], Int)]): Unit = {
    import spark.implicits._
    writeOne(dir, "documents", docs.map(d => (d.docId, d.text, d.lang, d.source,
      d.text.length.toLong)).toDF("doc_id", "text", "lang", "source", "n_chars"))
    writeOne(dir, "embeddings",
      vecs.map { case (id, v, l) => (id, v, l) }.toDF("vec_id", "embedding", "label"))
  }

  private def writeOne(dir: String, name: String,
                       df: org.apache.spark.sql.DataFrame): Unit = {
    val tmp = s"$dir/.$name.tmp"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new File(tmp).listFiles().filter(f =>
      f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head
    val out = new File(s"$dir/$name.parquet")
    Files.createDirectories(out.toPath)
    Files.move(part.toPath, new File(out, "part-00000.parquet").toPath,
      StandardCopyOption.REPLACE_EXISTING)
    Fs.deleteRecursively(new File(tmp))
  }
}

object Fs {
  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  /** (files, bytes) under `dir`, ignoring Hadoop's checksum and marker
    * files. */
  def footprint(dir: File): (Long, Long) =
    if (dir.isDirectory)
      Option(dir.listFiles()).toSeq.flatten.map(footprint)
        .foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    else if (dir.getName.endsWith(".crc") || dir.getName == "_SUCCESS") (0L, 0L)
    else (1L, dir.length())
}
