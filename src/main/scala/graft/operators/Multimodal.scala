package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal binary-column plumbing (SURVEY.md §2 G).
  *
  * Media payloads are opaque `binary` columns + typed metadata — the
  * lakehouse-native layout for image/audio/video at 100 TB (payload
  * bytes travel inside parquet row groups; no tiny-file problem, and
  * column pruning means metadata-only queries never touch the bytes).
  *
  * Decoding runs batched inside `mapPartitions` over a typed Dataset —
  * the Scala analogue of a Pandas-batch UDF: the partition iterator is
  * chunked so a codec amortizes per-batch setup (model load, JNI
  * handle) across [[Codec.batchSize]] payloads. The IMAGE codec is
  * real: `javax.imageio` (in the JDK — PNG/JPEG/GIF/BMP) probes
  * dimensions header-only for G1, decodes + rescales pixels for G4,
  * and pools luminance features for G3. The MOTION path is real for
  * animated streams the JDK decodes (animated GIF) AND for MJPEG in
  * a RIFF/AVI container (byte-level chunk walk + per-frame JPEG
  * decode, [[Codec.aviScan]]): G1 reports true frame counts and G2
  * extracts real per-frame pixels ([[Codec.sampleFrames]]). The
  * AUDIO path is real for the
  * containers `javax.sound.sampled` reads (WAV/AIFF/AU): G1 reports
  * true sample rate/channels/duration ([[Codec.audioMeta]],
  * header-only) and G3 pools per-window RMS + zero-crossing features
  * from the decoded PCM ([[Codec.audioFeatures]]). True compressed
  * codecs (H.264, AAC …) are NOT in this container, so those — and
  * payloads neither API recognizes — fall back to [[Codec.stubMeta]],
  * a clearly-marked deterministic fake (`is_real = false`); the
  * schema, encoders, batching, and partition flow around both paths
  * are the same production plumbing.
  */
object Multimodal {

  /** Typed decode result — the metadata face of an opaque payload.
    * `width`/`height`/`frames` carry the visual modalities;
    * `sample_rate`/`channels`/`duration_s` the audio one (0 where a
    * field doesn't apply). `is_real` declares whether a real codec
    * produced the row — the stub's fake dimensions must be
    * filterable downstream, not indistinguishable from a probe. */
  final case class MediaMeta(doc_id: Long, kind: String, n_bytes: Int,
                             width: Int, height: Int, frames: Int,
                             sample_rate: Int = 0, channels: Int = 0,
                             duration_s: Double = 0.0,
                             is_real: Boolean = false)

  object Codec {
    val batchSize = 64

    // The sources here are in-memory byte arrays — ImageIO's default
    // FileCache would otherwise create+delete a temp file in tmpdir
    // PER PAYLOAD (twice on the resize path), pure executor disk I/O
    // the batched decode must not pay. JVM-global, set once on class
    // load of this executor-side object.
    javax.imageio.ImageIO.setUseCache(false)

    /** Refuse to allocate a pixel buffer past this many pixels (256 MP
      * ≈ 1 GiB ARGB) — a decompression-bomb payload declares huge
      * dimensions in a tiny stream, and `ImageIO.read` would OOM the
      * executor before the task could fail cleanly. */
    val maxDecodePixels: Long = 256L * 1024 * 1024

    /** REAL image probe: width/height straight from the stream header
      * via `javax.imageio` — no pixel decode (at 100 TB, G1 must not
      * pay a full decompress to report dimensions). None when the
      * payload isn't a recognized image stream — including malformed
      * ones: JDK readers throw unchecked exceptions (CMMException,
      * AIOOBE, NegativeArraySizeException) on crafted headers, and a
      * corrupt payload must take the stub path, not kill the job. */
    def imageSize(bytes: Array[Byte]): Option[(Int, Int)] = {
      if (bytes == null || bytes.length == 0) return None
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(bytes))
      if (iis == null) return None
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        if (!readers.hasNext) None
        else {
          val r = readers.next()
          try { r.setInput(iis); Some((r.getWidth(0), r.getHeight(0))) }
          finally r.dispose()
        }
      } catch { case scala.util.control.NonFatal(_) => None }
      finally iis.close()
    }

    /** REAL image resize: full pixel decode, bilinear rescale to
      * (dw, dh), deterministic PNG re-encode. None when the payload
      * isn't decodable as an image, throws any unchecked codec
      * exception mid-decode, or declares more than [[maxDecodePixels]]
      * (decompression bomb — None, never an executor OOM). */
    def resizeImage(bytes: Array[Byte], dw: Int, dh: Int): Option[Array[Byte]] =
      resizeImageKnown(bytes, dw, dh, imageSize(bytes))

    /** [[resizeImage]] with the header probe's result already in hand
      * (resizePayloads decoded it one line earlier — re-probing would
      * pay a third header parse per payload on the hot path). */
    private[operators] def resizeImageKnown(bytes: Array[Byte], dw: Int, dh: Int,
                                            declared: Option[(Int, Int)])
        : Option[Array[Byte]] =
      try {
        if (declared.isEmpty ||
            declared.exists { case (w, h) => w.toLong * h > maxDecodePixels })
          return None
        val img =
          javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
        if (img == null) None
        else {
          val out = new java.awt.image.BufferedImage(
            dw, dh, java.awt.image.BufferedImage.TYPE_INT_ARGB)
          val g = out.createGraphics()
          try {
            g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
              java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
            g.drawImage(img, 0, 0, dw, dh, null)
          } finally g.dispose()
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(out, "png", bos)
          Some(bos.toByteArray)
        }
      } catch { case scala.util.control.NonFatal(_) => None }

    /** REAL image features: full pixel decode (same decompression-bomb
      * refusal as the resize path — None before the pixel allocation,
      * never an executor OOM), then BT.601 luminance
      * (0.299R + 0.587G + 0.114B, the public ITU-R standard) mean-
      * pooled over a fixed `grid`×`grid` cell partition of the image
      * — `grid²` floats in [0, 1], row-major. Pixels stream row by
      * row through one reusable w-int buffer (a bulk whole-image
      * getRGB on a near-cap image would allocate ~1 GiB). None when
      * the payload isn't a decodable image. */
    def imageFeatures(bytes: Array[Byte], grid: Int): Option[Array[Float]] =
      try {
        val declared = imageSize(bytes)
        if (declared.isEmpty ||
            declared.exists { case (w, h) => w.toLong * h > maxDecodePixels })
          return None
        val img =
          javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
        if (img == null) None
        else {
          val w = img.getWidth; val h = img.getHeight
          val sums = new Array[Double](grid * grid)
          val counts = new Array[Long](grid * grid)
          val row = new Array[Int](w)
          var y = 0
          while (y < h) {
            img.getRGB(0, y, w, 1, row, 0, w)
            // long multiply: a legal 1×240M-pixel strip (under the
            // pixel cap) overflows y * grid at grid ≥ 9, and a
            // negative cell index would demote the image to the stub
            val gy = (y.toLong * grid / h).toInt
            var x = 0
            while (x < w) {
              val p = row(x)
              val lum = (0.299 * ((p >> 16) & 0xff) +
                0.587 * ((p >> 8) & 0xff) + 0.114 * (p & 0xff)) / 255.0
              val c = gy * grid + (x.toLong * grid / w).toInt
              sums(c) += lum; counts(c) += 1
              x += 1
            }
            y += 1
          }
          // an image narrower/shorter than the grid leaves some cells
          // empty (w < grid ⇒ not every x*grid/w value occurs): 0f
          Some(Array.tabulate(grid * grid)(i =>
            if (counts(i) == 0L) 0f else (sums(i) / counts(i)).toFloat))
        }
      } catch { case scala.util.control.NonFatal(_) => None }

    /** REAL perceptual hash — dHash (difference hash, the public
      * horizontal-gradient fingerprint): full pixel decode (same
      * decompression-bomb refusal as [[imageFeatures]] — None BEFORE
      * the pixel allocation), BT.601 luminance mean-pooled onto a
      * 9-wide × 8-high grid through the same one-row streaming loop,
      * then bit (y·8 + x) set iff cell(y, x+1) > cell(y, x) — 64 bits
      * of gradient signs. Gradient signs survive rescaling and
      * re-encoding (what pooling absorbs), which is exactly the
      * robustness byte hashing lacks and image near-dedup needs.
      * None when the payload isn't a decodable image. */
    def dHash(bytes: Array[Byte]): Option[Long] =
      try {
        val declared = imageSize(bytes)
        if (declared.isEmpty ||
            declared.exists { case (w, h) => w.toLong * h > maxDecodePixels })
          return None
        val img =
          javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
        if (img == null) None
        else {
          val gw = 9; val gh = 8
          val w = img.getWidth; val h = img.getHeight
          val sums = new Array[Double](gw * gh)
          val counts = new Array[Long](gw * gh)
          val row = new Array[Int](w)
          var y = 0
          while (y < h) {
            img.getRGB(0, y, w, 1, row, 0, w)
            // long multiply: the imageFeatures overflow guard
            val gy = (y.toLong * gh / h).toInt
            var x = 0
            while (x < w) {
              val p = row(x)
              val lum = (0.299 * ((p >> 16) & 0xff) +
                0.587 * ((p >> 8) & 0xff) + 0.114 * (p & 0xff)) / 255.0
              val c = gy * gw + (x.toLong * gw / w).toInt
              sums(c) += lum; counts(c) += 1
              x += 1
            }
            y += 1
          }
          // empty cells (w < 9 or h < 8) read 0.0 — the imageFeatures
          // empty-cell convention; comparisons on zeros yield 0 bits
          def cell(yy: Int, xx: Int): Double = {
            val c = yy * gw + xx
            if (counts(c) == 0L) 0.0 else sums(c) / counts(c)
          }
          var bits = 0L
          var yy = 0
          while (yy < gh) {
            var xx = 0
            while (xx < 8) {
              if (cell(yy, xx + 1) > cell(yy, xx)) bits |= 1L << (yy * 8 + xx)
              xx += 1
            }
            yy += 1
          }
          Some(bits)
        }
      } catch { case scala.util.control.NonFatal(_) => None }

    /** Cap on CUMULATIVE decoded pixels across an animation's frames
      * (sum of per-frame w·h). A hostile stream packs thousands of
      * LZW frames into a tiny payload — per-frame size alone doesn't
      * bound the decode work, so frame sampling refuses past this
      * (1 G pixels ≈ 4 GiB of frame traffic) rather than letting one
      * payload monopolize an executor core for minutes. */
    val maxAnimationPixels: Long = 4L * maxDecodePixels

    private def domChild(n: org.w3c.dom.Node, name: String): Option[org.w3c.dom.Node] = {
      var c = if (n == null) null else n.getFirstChild
      while (c != null) {
        if (c.getNodeName == name) return Some(c)
        c = c.getNextSibling
      }
      None
    }

    private def domAttr(n: org.w3c.dom.Node, a: String): Option[String] =
      Option(n.getAttributes).flatMap(m => Option(m.getNamedItem(a)))
        .map(_.getNodeValue)

    private def domAttrInt(n: org.w3c.dom.Node, a: String): Option[Int] =
      domAttr(n, a).flatMap(_.toIntOption)

    /** Per-frame placement/timing of one animation frame, from the
      * reader's native metadata (GIF: ImageDescriptor +
      * GraphicControlExtension). Defaults describe a full-canvas
      * replace with no delay — correct for multi-page formats that
      * carry no placement metadata. */
    private final case class FramePlacement(x: Int, y: Int,
                                            disposal: String, delayCs: Int)

    private def framePlacement(r: javax.imageio.ImageReader, i: Int): FramePlacement =
      try {
        val meta = r.getImageMetadata(i)
        if (meta == null) FramePlacement(0, 0, "none", 0)
        else {
          val tree = meta.getAsTree(meta.getNativeMetadataFormatName)
          val desc = domChild(tree, "ImageDescriptor")
          val gce = domChild(tree, "GraphicControlExtension")
          FramePlacement(
            desc.flatMap(domAttrInt(_, "imageLeftPosition")).getOrElse(0),
            desc.flatMap(domAttrInt(_, "imageTopPosition")).getOrElse(0),
            gce.flatMap(domAttr(_, "disposalMethod")).getOrElse("none"),
            gce.flatMap(domAttrInt(_, "delayTime")).getOrElse(0))
        }
      } catch { case scala.util.control.NonFatal(_) => FramePlacement(0, 0, "none", 0) }

    /** Logical-screen (canvas) dims of an animated stream — GIF keeps
      * them in the stream header, distinct from any one frame's rect.
      * Falls back to frame 0's dims for formats without the notion. */
    private def logicalScreen(r: javax.imageio.ImageReader): (Int, Int) =
      (try {
        val meta = r.getStreamMetadata
        if (meta == null) None
        else {
          val tree = meta.getAsTree(meta.getNativeMetadataFormatName)
          domChild(tree, "LogicalScreenDescriptor").flatMap { d =>
            for (w <- domAttrInt(d, "logicalScreenWidth");
                 h <- domAttrInt(d, "logicalScreenHeight")) yield (w, h)
          }
        }
      } catch { case scala.util.control.NonFatal(_) => None })
        .getOrElse((r.getWidth(0), r.getHeight(0)))

    /** REAL multi-frame probe: (canvasW, canvasH, frameCount) of an
      * animated stream `javax.imageio` can decode — animated GIF in
      * the stock JDK. Counting frames walks the stream's block
      * structure (no pixel decode, cost linear in payload bytes — a
      * real frame count can't be cheaper than that, delta frames are
      * length-prefixed). None when the payload isn't a recognized
      * image stream. */
    def frameProbe(bytes: Array[Byte]): Option[(Int, Int, Int)] = {
      if (bytes == null || bytes.length == 0) return None
      aviScan(bytes) match {
        case Some((w, h, _, chunks)) =>
          // G1 must agree with G2's real/stub verdict for the SAME
          // payload: every non-empty frame chunk is sniffed for the
          // JPEG SOI marker (2 bytes each — an H.264-in-AVI or other
          // compressed codec fails here and keeps the declared stub),
          // and declared avih dims are validated like [[imageSize]]
          // validates image headers (an unsigned-overflow or absent
          // header falls back to the first frame's own JPEG dims)
          val nonEmpty = chunks.filter(_._2 > 0)
          val allJpeg = nonEmpty.nonEmpty && nonEmpty.forall {
            case (off, len) => len >= 2 &&
              (bytes(off) & 0xff) == 0xff && (bytes(off + 1) & 0xff) == 0xd8
          }
          if (!allJpeg) return None
          val dims =
            if (w > 0 && h > 0 && w <= (1 << 20) && h <= (1 << 20))
              Some((w.toInt, h.toInt))
            else {
              val (off, len) = nonEmpty.head
              imageSize(java.util.Arrays.copyOfRange(bytes, off, off + len))
            }
          return dims.map { case (dw, dh) => (dw, dh, chunks.length) }
        case None => ()
      }
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(bytes))
      if (iis == null) return None
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        if (!readers.hasNext) None
        else {
          val r = readers.next()
          try {
            r.setInput(iis)
            val n = r.getNumImages(true)
            if (n <= 0) None
            else {
              val (w, h) = logicalScreen(r)
              Some((w, h, n))
            }
          } finally r.dispose()
        }
      } catch { case scala.util.control.NonFatal(_) => None }
      finally iis.close()
    }

    // ---- RIFF/AVI (MJPEG) — the second REAL video container, parsed
    // byte-level like [[graft.sources.NetCdfClassic]]: RIFF is a flat
    // fourcc+size(LE) chunk stream with nested LISTs; an MJPEG AVI
    // carries one independently-decodable JPEG per '00dc'/'00db'
    // chunk, which the stock JDK decodes. (H.264 inside AVI/MP4 stays
    // the declared stub — inter-frame codecs need native decoders
    // this container doesn't have.)

    private def u32le(b: Array[Byte], off: Int): Long =
      (b(off) & 0xffL) | ((b(off + 1) & 0xffL) << 8) |
        ((b(off + 2) & 0xffL) << 16) | ((b(off + 3) & 0xffL) << 24)

    private def fourcc(b: Array[Byte], off: Int): String =
      new String(b, off, 4, java.nio.charset.StandardCharsets.US_ASCII)

    /** Walk a RIFF-AVI payload: (width, height, µs/frame from `avih`,
      * video frame chunk slices for stream 0 in stream order). Every
      * declared size is bounds-checked against the real payload
      * before use — a hostile header cannot walk the cursor out of
      * the array or into an allocation (the [[imageSize]] posture
      * applied to container structure). None when the payload isn't
      * RIFF/AVI or holds no video chunks. */
    private def aviScan(bytes: Array[Byte])
        : Option[(Long, Long, Long, Vector[(Int, Int)])] = {
      if (bytes.length < 12 || fourcc(bytes, 0) != "RIFF" ||
        fourcc(bytes, 8) != "AVI ") return None
      // dims stay UNSIGNED Longs here — callers validate; an .toInt
      // of a hostile 0xFFFFFFFF header would read as a negative
      // "real" dimension downstream
      var w = 0L; var h = 0L; var usPf = 0L
      val frames = Vector.newBuilder[(Int, Int)]
      def walk(start: Int, end: Int, depth: Int): Unit = {
        if (depth > 8) return // RIFF nests 2-3 deep; a cycle bomb stops here
        var off = start
        var ok = true
        while (ok && off + 8 <= end) {
          val id = fourcc(bytes, off)
          val sz = u32le(bytes, off + 4)
          val body = off + 8
          if (sz > end - body) ok = false // truncated/hostile size
          else {
            id match {
              case "LIST" if sz >= 4 =>
                walk(body + 4, body + sz.toInt, depth + 1)
              case "avih" if sz >= 40 =>
                usPf = u32le(bytes, body)
                w = u32le(bytes, body + 32)
                h = u32le(bytes, body + 36)
              case "00dc" | "00db" =>
                frames += ((body, sz.toInt))
              case _ => ()
            }
            off = body + sz.toInt + (sz.toInt & 1) // chunks word-align
          }
        }
      }
      walk(12, bytes.length, 0)
      val fs = frames.result()
      if (fs.isEmpty) None else Some((w, h, usPf, fs))
    }

    /** MJPEG sampling: every `step`-th '00dc' JPEG decoded (each
      * frame is intra-coded — no compositing state, unlike GIF) and
      * PNG-snapshotted; `t_offset_s` from `avih`'s own µs/frame clock
      * when declared, else `fallbackFps`. Per-frame dims are probed
      * header-only BEFORE the pixel decode and refused past
      * [[maxDecodePixels]]/[[maxAnimationPixels]] — same bomb budget
      * as the GIF path. */
    private def aviSampleFrames(bytes: Array[Byte], step: Int,
                                fallbackFps: Double)
        : Option[Option[(Int, Vector[Sampled])]] =
      aviScan(bytes).map { case (_, _, usPf, chunks) =>
        try {
          var decodedPixels = 0L
          val out = Vector.newBuilder[Sampled]
          var i = 0
          var bombed = false
          while (!bombed && i < chunks.length) {
            // a ZERO-length chunk is the standard AVI dropped-frame
            // encoding: it occupies a frame slot (counted, advances
            // the clock) but holds no pixels — skip the snapshot
            // instead of refusing the whole stream
            if (i % step == 0 && chunks(i)._2 > 0) {
              val (off, len) = chunks(i)
              val slice = java.util.Arrays.copyOfRange(bytes, off, off + len)
              imageSize(slice) match {
                case Some((fw, fh)) =>
                  val fPix = fw.toLong * fh
                  decodedPixels += fPix
                  if (fPix > maxDecodePixels || decodedPixels > maxAnimationPixels)
                    bombed = true
                  else {
                    val img = javax.imageio.ImageIO.read(
                      new java.io.ByteArrayInputStream(slice))
                    if (img == null) bombed = true
                    else {
                      val t = if (usPf > 0) i * usPf / 1e6 else i / fallbackFps
                      val shot = new java.io.ByteArrayOutputStream()
                      javax.imageio.ImageIO.write(img, "png", shot)
                      out += Sampled(i, t, img.getWidth, img.getHeight,
                        shot.toByteArray)
                    }
                  }
                case None => bombed = true // non-JPEG payload chunk
              }
            }
            i += 1
          }
          if (bombed) None else Some((chunks.length, out.result()))
        } catch { case scala.util.control.NonFatal(_) => None }
      }

    /** One sampled frame: composited canvas at `frame_idx`, PNG-encoded. */
    final case class Sampled(idx: Int, tOffsetS: Double, w: Int, h: Int,
                             png: Array[Byte])

    /** REAL frame sampling: decode an animated stream (GIF in the
      * stock JDK), composite every frame onto the logical-screen
      * canvas per the GIF89a model — frames draw at their declared
      * (x, y) rect over what's already there; a frame's disposal then
      * clears its rect to transparent (`restoreToBackgroundColor`) or
      * rewinds the canvas (`restoreToPrevious`) before the next draw —
      * and PNG-snapshot every `step`-th composite. EVERY frame decodes
      * even when only some are sampled (delta frames only mean
      * anything over the composited predecessor — the same reason a
      * video sampler must decode from the previous keyframe).
      *
      * `t_offset_s` comes from the stream's own per-frame delays
      * (GIF centiseconds, cumulative sum of frames 0..i-1); a stream
      * with no timing anywhere falls back to `idx / fallbackFps`.
      *
      * None — never an executor OOM/stall — when the payload isn't a
      * recognized multi-frame stream, the canvas exceeds
      * [[maxDecodePixels]], or cumulative frame rects exceed
      * [[maxAnimationPixels]] (a thousand-frame bomb in a 10 KiB
      * payload). Returns (totalFrames, sampled). */
    def sampleFrames(bytes: Array[Byte], step: Int, fallbackFps: Double)
        : Option[(Int, Vector[Sampled])] = {
      // reject misuse loudly: the NonFatal catch below would otherwise
      // swallow the i % 0 ArithmeticException and report a decodable
      // stream as unrecognized
      require(step > 0, s"step=$step must be positive")
      if (bytes == null || bytes.length == 0) return None
      // RIFF/AVI first (ImageIO has no AVI reader): outer None = not
      // AVI, fall through to the animated-image path; Some(None) = a
      // recognized AVI that was refused (bomb / non-JPEG codec, e.g.
      // H.264-in-AVI) — that MUST return None here for the stub path,
      // not fall through and be re-probed
      aviSampleFrames(bytes, step, fallbackFps) match {
        case Some(result) => return result
        case None => ()
      }
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(bytes))
      if (iis == null) return None
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        if (!readers.hasNext) return None
        val r = readers.next()
        try {
          r.setInput(iis)
          val n = r.getNumImages(true)
          if (n <= 0) return None
          val (lw, lh) = logicalScreen(r)
          if (lw <= 0 || lh <= 0 || lw.toLong * lh > maxDecodePixels) return None
          val canvas = new java.awt.image.BufferedImage(
            lw, lh, java.awt.image.BufferedImage.TYPE_INT_ARGB)
          // metadata pass first: one timing mode for the whole stream
          // (a per-frame fallback would mix clocks when only some
          // frames carry delays)
          val placements = Vector.tabulate(n)(framePlacement(r, _))
          val useDelays = placements.exists(_.delayCs > 0)
          var decodedPixels = 0L
          var tCs = 0L // cumulative delay, centiseconds
          val out = Vector.newBuilder[Sampled]
          var i = 0
          while (i < n) {
            val p = placements(i)
            // frame-level bomb check BEFORE r.read allocates the
            // raster: a frame's own ImageDescriptor rect is not
            // bounded by the logical screen, and a declared
            // 40000×40000 frame (under Int.MaxValue pixels, so the
            // reader itself won't reject it) would otherwise pay a
            // ~1.6 GiB allocation before the cumulative check ran
            val fPix = r.getWidth(i).toLong * r.getHeight(i)
            decodedPixels += fPix
            if (fPix > maxDecodePixels || decodedPixels > maxAnimationPixels)
              return None
            val frame = r.read(i)
            // restoreToPrevious needs the pre-draw canvas back after
            // this frame — copy only when the disposal asks for it
            val saved =
              if (p.disposal == "restoreToPrevious") {
                val c = new java.awt.image.BufferedImage(
                  lw, lh, java.awt.image.BufferedImage.TYPE_INT_ARGB)
                val g = c.createGraphics()
                try g.drawImage(canvas, 0, 0, null) finally g.dispose()
                Some(c)
              } else None
            val g = canvas.createGraphics()
            try g.drawImage(frame, p.x, p.y, null) finally g.dispose()
            if (i % step == 0) {
              val t = if (useDelays) tCs / 100.0 else i / fallbackFps
              val shot = new java.io.ByteArrayOutputStream()
              javax.imageio.ImageIO.write(canvas, "png", shot)
              out += Sampled(i, t, lw, lh, shot.toByteArray)
            }
            tCs += p.delayCs
            p.disposal match {
              case "restoreToBackgroundColor" =>
                val g2 = canvas.createGraphics()
                try {
                  g2.setComposite(java.awt.AlphaComposite.Clear)
                  g2.fillRect(p.x, p.y, frame.getWidth, frame.getHeight)
                } finally g2.dispose()
              case "restoreToPrevious" =>
                saved.foreach { c =>
                  val g2 = canvas.createGraphics()
                  try {
                    g2.setComposite(java.awt.AlphaComposite.Src)
                    g2.drawImage(c, 0, 0, null)
                  } finally g2.dispose()
                }
              case _ => // none / doNotDispose: leave the composite
            }
            i += 1
          }
          Some((n, out.result()))
        } finally r.dispose()
      } catch { case scala.util.control.NonFatal(_) => None }
      finally iis.close()
    }

    /** A NULL payload (null text upstream — encode propagates null)
      * reads as empty bytes on EVERY entry path: one guard, so a new
      * entry point can't forget the posture and NPE on inputs the
      * F/G-block otherwise passes through. */
    def nonNull(bytes: Array[Byte]): Array[Byte] =
      if (bytes == null) Array.emptyByteArray else bytes

    /** Lowercase md5 hex of `bytes` — the stub-value seed. md5, not
      * murmur (r11, the D2/D4 move applied to the G-block): DuckDB has
      * md5() and hex-slice→BIGINT arithmetic, so every stub-derived
      * number becomes EXACTLY recomputable in the oracle mirror —
      * which is what flips the mm_* gate entries from exact-count to
      * hash-green. */
    def md5Hex(bytes: Array[Byte]): String = {
      val d = java.security.MessageDigest.getInstance("MD5").digest(bytes)
      d.map(b => f"${b & 0xff}%02x").mkString
    }

    /** First 15 hex chars of md5 as a NON-NEGATIVE long (60 bits) —
      * mirrored in SQL as ('0x' || substr(md5(t), 1, 15))::BIGINT. */
    def md5Long(bytes: Array[Byte]): Long =
      java.lang.Long.parseLong(md5Hex(bytes).substring(0, 15), 16)

    /** STUB — deterministic fake metadata for the modalities whose
      * codecs are absent in this container (audio/video) and for
      * payloads `javax.imageio` doesn't recognize (the synthetic
      * text-bytes stand-ins). Derived purely from the payload bytes
      * (md5 + length) so the operator stays deterministic, testable,
      * and EXACTLY mirrorable in the DuckDB gate (divide-and-mod
      * extraction on the non-negative [[md5Long]] — no bit shifts on
      * signed values, no murmur); a production build replaces this
      * integration point. */
    def stubMeta(id: Long, kind: String, bytes0: Array[Byte]): MediaMeta = {
      val bytes = nonNull(bytes0)
      val m = md5Long(bytes)
      val w = 64 + (m % 1856L).toInt                 // 64..1919
      val hgt = 64 + ((m / 2048L) % 1016L).toInt     // 64..1079
      val frames = kind match {
        case "video" => 1 + ((m / 4194304L) % 240L).toInt
        case "audio" => 1 + ((m / 4194304L) % 48000L).toInt
        case _       => 1
      }
      MediaMeta(id, kind, bytes.length, w, hgt, frames, is_real = false)
    }

    /** Cap on declared audio frames before any decode work (~90 min
      * at 48 kHz; 1 GiB of 16-bit stereo) — the audio dual of
      * [[maxDecodePixels]]: a hostile header declaring an enormous
      * stream must be refused before the feature loop, not trusted. */
    val maxAudioFrames: Long = 1L << 28

    /** REAL audio probe: sample rate, channels, and frame count
      * straight from the container header via `javax.sound.sampled`
      * (WAV/AIFF/AU are in the JDK) — header-only, no sample decode
      * (the [[imageSize]] posture: G1 must not decompress to report a
      * duration). None when the payload isn't a recognized audio
      * stream — the JDK parser throws on malformed headers, and a
      * corrupt payload must take the stub path, not kill the job. */
    def audioMeta(bytes: Array[Byte]): Option[(Int, Int, Long)] = {
      if (bytes == null || bytes.length == 0) return None
      try {
        val ff = javax.sound.sampled.AudioSystem.getAudioFileFormat(
          new java.io.ByteArrayInputStream(bytes))
        val f = ff.getFormat
        val n = ff.getFrameLength.toLong
        if (f.getSampleRate <= 0 || f.getChannels <= 0 || n < 0) None
        else Some((math.round(f.getSampleRate), f.getChannels, n))
      } catch { case scala.util.control.NonFatal(_) => None }
    }

    /** REAL audio features: decode to canonical signed 16-bit PCM
      * (the JDK converts 8/24/32-bit and µ-law/A-law WAV variants),
      * average channels to mono, then pool the signal into `dim/2`
      * equal time windows — per window the RMS level and the
      * zero-crossing rate (sign flips / (samples−1)), interleaved
      * `[rms₀, zcr₀, rms₁, zcr₁, …]`. The classic cheap audio
      * descriptor pair (energy envelope + spectral-ish texture), and
      * every value is hand-computable in a spec. Streams through one
      * bounded buffer — memory is O(dim), never O(duration).
      * None when the payload isn't decodable audio, `dim` is odd
      * (the window pool needs (rms, zcr) pairs), or the header
      * declares more than [[maxAudioFrames]] frames (bomb refusal
      * before the decode loop, the image-path posture). */
    def audioFeatures(bytes: Array[Byte], dim: Int): Option[Array[Float]] = {
      if (bytes == null || bytes.length == 0 || dim < 2 || dim % 2 != 0)
        return None
      try {
        val in0 = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(bytes))
        try {
          val f0 = in0.getFormat
          val n = in0.getFrameLength
          if (n <= 0 || n > maxAudioFrames || f0.getChannels <= 0) return None
          val fmt = new javax.sound.sampled.AudioFormat(
            javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
            f0.getSampleRate, 16, f0.getChannels, 2 * f0.getChannels,
            f0.getSampleRate, false)
          val in = javax.sound.sampled.AudioSystem.getAudioInputStream(fmt, in0)
          val g = dim / 2
          val ch = fmt.getChannels
          val frameSize = 2 * ch
          val sumSq = new Array[Double](g)
          val cross = new Array[Long](g)
          val count = new Array[Long](g)
          val buf = new Array[Byte](frameSize * 1024)
          var idx = 0L
          var prev = 0.0
          var read = in.read(buf)
          while (read > 0 && idx < n) {
            var off = 0
            while (off + frameSize <= read && idx < n) {
              var s = 0.0
              var c = 0
              while (c < ch) {
                s += ((buf(off + 2 * c + 1) << 8) |
                  (buf(off + 2 * c) & 0xff)) / 32768.0
                c += 1
              }
              val x = s / ch
              // idx < n ≤ maxAudioFrames keeps idx*g within Long
              val wdx = (idx * g / n).toInt
              sumSq(wdx) += x * x
              count(wdx) += 1
              // crossings between consecutive MONO samples inside one
              // window (strict sign flip; the first sample of a window
              // has no in-window predecessor)
              if (count(wdx) > 1 && prev * x < 0) cross(wdx) += 1
              prev = x
              idx += 1
              off += frameSize
            }
            read = in.read(buf)
          }
          // a header-declared frame count longer than the actual data
          // (truncated stream) leaves trailing windows empty: 0f, the
          // imageFeatures empty-cell convention
          Some(Array.tabulate(dim) { i =>
            val wdx = i / 2
            if (count(wdx) == 0L) 0f
            else if (i % 2 == 0) math.sqrt(sumSq(wdx) / count(wdx)).toFloat
            else (cross(wdx).toDouble / math.max(1L, count(wdx) - 1)).toFloat
          })
        } finally in0.close()
      } catch { case scala.util.control.NonFatal(_) => None }
    }

    /** REAL audio perceptual hash — the dHash idea on the ENERGY
      * ENVELOPE: decode to 65 equal time windows of RMS level
      * ([[audioFeatures]] at dim 130, same bomb refusal), then bit j
      * set iff rms(j+1) > rms(j) — 64 gradient-sign bits of the
      * loudness contour. Windows are equal TIME fractions, so the
      * envelope shape survives resampling and re-encoding — the
      * robustness byte equality lacks and audio near-dedup needs.
      * None when the payload isn't decodable audio. */
    def audioPhash(bytes: Array[Byte]): Option[Long] =
      audioFeatures(bytes, 130).map { f =>
        var bits = 0L
        var j = 0
        while (j < 64) {
          if (f(2 * (j + 1)) > f(2 * j)) bits |= 1L << j
          j += 1
        }
        bits
      }

    /** One payload's decode: real header probe for images, real
      * frame-count probe for video payloads that are animated streams
      * the JDK decodes (animated GIF), [[stubMeta]] otherwise. The
      * image probe stays header-only; the video probe pays a
      * block-walk of the payload (frame COUNT requires it — delta
      * frames are length-prefixed, not indexed). Returns the meta AND
      * the dims so a caller that needs them (resize) doesn't re-parse
      * the header. */
    def decodeOne(id: Long, kind: String, bytes: Array[Byte])
        : (MediaMeta, Option[(Int, Int)]) = kind match {
      case "image" =>
        imageSize(bytes) match {
          case d @ Some((w, h)) =>
            (MediaMeta(id, kind, bytes.length, w, h, 1, is_real = true), d)
          case None => (stubMeta(id, kind, bytes), None)
        }
      case "video" =>
        frameProbe(bytes) match {
          case Some((w, h, n)) =>
            (MediaMeta(id, kind, bytes.length, w, h, n, is_real = true),
              Some((w, h)))
          case None => (stubMeta(id, kind, bytes), None)
        }
      case "audio" =>
        audioMeta(bytes) match {
          case Some((rate, ch, n)) =>
            (MediaMeta(id, kind, bytes.length, 0, 0,
              math.min(n, Int.MaxValue.toLong).toInt, rate, ch,
              n.toDouble / rate, is_real = true), None)
          case None => (stubMeta(id, kind, bytes), None)
        }
      case _ => (stubMeta(id, kind, bytes), None)
    }

    /** Batched decode: real header probe for images, [[stubMeta]] for
      * everything else. */
    def decode(batch: Seq[(Long, String, Array[Byte])]): Seq[MediaMeta] =
      batch.map { case (id, kind, bytes) => decodeOne(id, kind, bytes)._1 }
  }

  /** G2: frame sampling — every `step`-th frame index of each video
    * payload, exploded to one row per sampled frame with its timestamp
    * offset at `fps`. The Generate (explode) is a narrow op: frames
    * fan out inside the scan stage, no shuffle; a real pipeline hands
    * (doc_id, frame_idx) to the batched decoder for pixel extraction. */
  def frameSample(decoded: DataFrame, step: Int = 30, fps: Double = 24.0): DataFrame = {
    require(step > 0, s"step=$step must be positive (sequence would reject it " +
      "deep inside codegen otherwise)")
    require(fps > 0.0, s"fps=$fps must be positive")
    decoded.filter(col("kind") === "video")
      .select(col("doc_id"), col("frames"),
        explode(sequence(lit(0), col("frames") - 1, lit(step))).as("frame_idx"))
      .withColumn("t_offset_s", col("frame_idx") / lit(fps))
  }

  /** One row of [[frameSamplePayloads]] output: a sampled frame with
    * its composited pixels (real path) or the stub's index-only row. */
  final case class SampledFrame(doc_id: Long, frames: Int, frame_idx: Int,
                                t_offset_s: Double, frame_w: Int, frame_h: Int,
                                payload: Array[Byte], is_real: Boolean)

  /** G2 on real media payloads — (doc_id, kind, payload). Video
    * payloads that are animated streams the stock JDK decodes
    * (animated GIF) take the REAL path: every frame decoded and
    * composited per the GIF89a disposal model, every `step`-th
    * composite PNG-encoded into `payload`, `t_offset_s` from the
    * stream's own per-frame delays ([[Codec.sampleFrames]]),
    * `is_real = true`. True video codecs (H.264 etc.) are not in the
    * JDK, so those payloads — and unrecognized bytes, refused
    * frame bombs — keep the deterministic stub: [[Codec.stubMeta]]
    * frame count, `idx / fps` offsets, null payload,
    * `is_real = false`. Narrow op both ways: payload bytes never
    * leave their partition, frames fan out inside the scan stage. */
  def frameSamplePayloads(media: DataFrame, step: Int = 30,
                          fps: Double = 24.0): DataFrame = {
    require(step > 0, s"step=$step must be positive")
    require(fps > 0.0, s"fps=$fps must be positive")
    val spark = media.sparkSession
    import spark.implicits._
    media.filter(col("kind") === "video")
      .select(col("doc_id"), col("kind"), col("payload"))
      .as[(Long, String, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, _, bytes0) =>
        val bytes = Codec.nonNull(bytes0)
        Codec.sampleFrames(bytes, step, fps) match {
          case Some((n, sampled)) =>
            sampled.map(s => SampledFrame(id, n, s.idx, s.tOffsetS,
              s.w, s.h, s.png, is_real = true))
          case None =>
            val m = Codec.stubMeta(id, "video", bytes)
            (0 until m.frames by step).map(i => SampledFrame(id, m.frames, i,
              i / fps, m.width, m.height, null, is_real = false))
        }
      })
      .toDF()
  }

  /** G3: feature extraction — payload bytes → fixed-width float
    * vector. Image payloads take the REAL path: full pixel decode via
    * `javax.imageio` → BT.601 luminance mean-pooled over a fixed
    * `√dim`×`√dim` grid ([[Codec.imageFeatures]], bomb-refusing),
    * flagged `is_real = true`. Audio payloads the JDK decodes
    * (WAV/AIFF/AU) are REAL too: per-window RMS + zero-crossing
    * pooled to `dim` ([[Codec.audioFeatures]], even `dim` only).
    * Everything else — video (no codec in this container),
    * unrecognized bytes, refused bombs, or a grid/parity-incompatible
    * `dim` — keeps the deterministic hash-projection stub,
    * `is_real = false`. Schema is
    * ANN-ready (`array<float>`, E-block compatible) on both paths;
    * narrow op, payloads never leave their partition. */
  def featureExtract(docs: DataFrame, dim: Int = 16): DataFrame =
    featureExtractPayloads(payloads(docs), dim)

  /** G3 on a real media frame — (doc_id, kind, payload) with actual
    * media bytes (the [[resizePayloads]]/[[decodeMetaPayloads]] dual). */
  def featureExtractPayloads(media: DataFrame, dim: Int = 16): DataFrame = {
    require(dim > 0, s"dim=$dim must be positive")
    val spark = media.sparkSession
    import spark.implicits._
    val grid = math.sqrt(dim.toDouble).toInt
    val gridReal = grid * grid == dim // pooled features need dim = g²
    media.select(col("doc_id"), col("kind"), col("payload"))
      .as[(Long, String, Array[Byte])]
      // plain per-element map: neither path has per-batch setup to
      // amortize (ImageIO is stateless here; the hash projection is
      // pure) — a grouped() wrapper would only imply batching that
      // doesn't exist
      .mapPartitions(_.map { case (id, kind, bytes) =>
        val b = Codec.nonNull(bytes)
        val real =
          if (gridReal && kind == "image") Codec.imageFeatures(b, grid)
          else if (kind == "audio" && dim % 2 == 0) Codec.audioFeatures(b, dim)
          else None
        real match {
          case Some(v) => (id, v, true)
          case None =>
            // md5-derived stub (r11, see stubMeta): 4 hex chars per
            // dim from chained salted digests → k ∈ [0, 65536) →
            // (k − 32768)/2¹⁵ ∈ [−1, 1). Exact in float AND double
            // (small-int ÷ power of two), and no 6-dp half boundary
            // exists (k/2¹⁵ never lands on x.xxxxxx5 — 5⁶∤2⁸·odd),
            // so the mirror's integer arithmetic reproduces the
            // catalog digest bit-for-bit.
            val hx = Iterator.from(0)
              .map(i => if (i == 0) Codec.md5Hex(b)
                else Codec.md5Hex(b ++ s":$i".getBytes(
                  java.nio.charset.StandardCharsets.UTF_8)))
              .take((4 * dim + 31) / 32).mkString
            val v = Array.tabulate(dim) { d =>
              val k = Integer.parseInt(hx.substring(4 * d, 4 * d + 4), 16)
              (k - 32768) / 32768.0f
            }
            (id, v, false)
        }
      })
      .toDF("doc_id", "embedding", "is_real")
  }

  /** Typed resize result — dims + the rescaled payload. `is_real`
    * marks a payload that IS a decodable image (actual resize output,
    * or the untouched original on the never-upscale path); false =
    * the deterministic stub byte-subsample (unrecognized payload, or
    * a recognized one whose decode was refused/failed — a
    * decompression bomb's garbage must be filterable downstream, not
    * indistinguishable from a PNG). */
  final case class Resized(doc_id: Long, src_w: Int, src_h: Int,
                           dst_w: Int, dst_h: Int, n_bytes: Int,
                           payload: Array[Byte], is_real: Boolean)

  /** Shared payload prelude: modality tag + opaque binary payload —
    * ONE definition so decode and resize can never classify the same
    * doc differently. */
  private def payloads(docs: DataFrame): DataFrame =
    docs
      .withColumn("kind",
        // pmod, not %: a signed/hashed id domain makes doc_id % 3
        // zero or negative — element_at(0) throws, element_at(-1)
        // silently reads from the END (audio tagged as video)
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (pmod(col("doc_id"), lit(3)) + 1).cast("int")))
      .select(col("doc_id"), col("kind"), encode(col("text"), "UTF-8").as("payload"))

  /** G4: fit every image payload inside (maxW, maxH) preserving
    * aspect ratio, never upscaling — [[resizePayloads]] over the
    * synthetic payload prelude. */
  def resize(docs: DataFrame, maxW: Int = 224, maxH: Int = 224): DataFrame =
    resizePayloads(payloads(docs), maxW, maxH)

  /** G4 on a real media frame — (doc_id, kind, payload) with actual
    * image bytes in `payload`. PNG/JPEG payloads take the REAL path:
    * pixel decode, bilinear rescale, PNG re-encode (scale 1.0 — the
    * never-upscale case — passes the original bytes through
    * untouched: no decode, no re-encode). Unrecognized payloads keep
    * the deterministic stub (byte subsample proportional to the area
    * change). Narrow op either way: payload bytes never leave their
    * partition. */
  def resizePayloads(media: DataFrame, maxW: Int, maxH: Int): DataFrame = {
    require(maxW > 0 && maxH > 0, s"bounds ${maxW}x$maxH must be positive")
    val spark = media.sparkSession
    import spark.implicits._
    media
      .filter(col("kind") === "image")
      // explicit column bind: the tuple encoder is POSITIONAL — extra
      // or reordered caller columns would fail (or mis-bind) at action
      // time otherwise (the frameSamplePayloads posture)
      .select(col("doc_id"), col("kind"), col("payload"))
      .as[(Long, String, Array[Byte])]
      // plain per-element map: ImageIO is stateless here, there is no
      // per-batch codec handle to amortize — a grouped() wrapper would
      // only imply batching that doesn't exist (the featureExtract
      // rationale)
      .mapPartitions(_.map { case (id, kind, bytes0) =>
          val bytes = Codec.nonNull(bytes0)
          // ONE header parse per payload: decodeOne hands back the
          // probe result, resizeImageKnown reuses it
          val (m, declared) = Codec.decodeOne(id, kind, bytes)
          val scale = math.min(1.0,
            math.min(maxW.toDouble / m.width, maxH.toDouble / m.height))
          val dw = math.max(1, math.floor(m.width * scale).toInt)
          val dh = math.max(1, math.floor(m.height * scale).toInt)
          val real =
            if (scale >= 1.0) None // within bounds: pass bytes through
            else Codec.resizeImageKnown(bytes, dw, dh, declared)
          real match {
            case Some(out) =>
              Resized(id, m.width, m.height, dw, dh, out.length, out,
                is_real = true)
            case None if scale >= 1.0 =>
              // untouched original; a real image iff the probe
              // recognized it
              Resized(id, m.width, m.height, dw, dh, bytes.length, bytes,
                is_real = declared.isDefined)
            case None =>
              val outLen = math.min(bytes.length,
                math.max(1, math.ceil(bytes.length.toDouble *
                  (dw.toLong * dh) / (m.width.toLong * m.height)).toInt))
              // min() above: an empty payload keeps n_bytes = 0 = the
              // actual output length — take(1) of nothing is nothing,
              // and a consumer asserting n_bytes == length(payload)
              // must hold
              Resized(id, m.width, m.height, dw, dh, outLen,
                bytes.take(outLen), is_real = false)
          }
      })
      .toDF()
  }

  /** One row of [[imagePhash]] output: 64-bit perceptual hash;
    * `is_real` marks an actual pixel dHash vs the deterministic stub
    * for undecodable payloads. */
  final case class PHashed(doc_id: Long, phash: Long, is_real: Boolean)

  /** G5: perceptual hash per image payload — REAL dHash
    * ([[Codec.dHash]]) for payloads `javax.imageio` decodes,
    * deterministic murmur-derived 64-bit stub otherwise (the
    * featureExtract posture: refused bombs and unrecognized bytes
    * stay filterable, never indistinguishable). Byte-identical
    * payloads get equal hashes on EITHER path, so exact duplicates
    * survive a codec gap. Narrow op: payload bytes never leave their
    * partition; the hash is the only thing that shuffles downstream
    * (8 bytes/doc — the whole point of fingerprint dedup at 100 TB). */
  def imagePhash(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.filter(col("kind") === "image")
      .select(col("doc_id"), col("kind"), col("payload"))
      .as[(Long, String, Array[Byte])]
      .mapPartitions(_.map { case (id, _, bytes0) =>
        val bytes = Codec.nonNull(bytes0)
        Codec.dHash(bytes) match {
          case Some(hash) => PHashed(id, hash, is_real = true)
          case None =>
            val h0 = scala.util.hashing.MurmurHash3.bytesHash(bytes, 13)
            val h1 = scala.util.hashing.MurmurHash3.bytesHash(bytes, 29)
            PHashed(id, (h0.toLong << 32) | (h1.toLong & 0xffffffffL),
              is_real = false)
        }
      })
      .toDF()
  }

  /** G5 for audio: perceptual hash per audio payload — REAL envelope
    * dHash ([[Codec.audioPhash]]) for payloads the JDK decodes
    * (WAV/AIFF/AU), deterministic murmur stub otherwise. Same posture
    * as [[imagePhash]]: byte-identical payloads hash equal on either
    * path; only 8-byte hashes shuffle. */
  def audioPhash(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.filter(col("kind") === "audio")
      .select(col("doc_id"), col("kind"), col("payload"))
      .as[(Long, String, Array[Byte])]
      .mapPartitions(_.map { case (id, _, bytes0) =>
        val bytes = Codec.nonNull(bytes0)
        Codec.audioPhash(bytes) match {
          case Some(hash) => PHashed(id, hash, is_real = true)
          case None =>
            val h0 = scala.util.hashing.MurmurHash3.bytesHash(bytes, 17)
            val h1 = scala.util.hashing.MurmurHash3.bytesHash(bytes, 31)
            PHashed(id, (h0.toLong << 32) | (h1.toLong & 0xffffffffL),
              is_real = false)
        }
      })
      .toDF()
  }

  /** One row of [[videoPhash]] output: a sampled frame's perceptual
    * hash (frame_idx −1 = the undecodable-payload stub row). */
  final case class FramePHash(doc_id: Long, frame_idx: Int, phash: Long,
                              is_real: Boolean)

  /** G5 for video: per-FRAME perceptual hashes — the REAL path for
    * multi-frame streams the JDK decodes (animated GIF via the GIF89a
    * compositing sampler, MJPEG-in-AVI via the RIFF walk): every
    * `step`-th COMPOSITED frame is dHashed, one row per sampled frame.
    * Undecodable payloads keep ONE deterministic stub row
    * (frame_idx −1, is_real = false) — filterable, and byte-identical
    * undecodable payloads still share a hash, so exact dups survive
    * the codec gap (the imagePhash posture). Narrow op: frames decode
    * and hash inside the scan; only (doc_id, idx, 8-byte hash) rows
    * ever leave the partition. */
  def videoPhash(media: DataFrame, step: Int = 1,
                 fps: Double = 24.0): DataFrame = {
    require(step > 0, s"step=$step must be positive")
    val spark = media.sparkSession
    import spark.implicits._
    media.filter(col("kind") === "video")
      .select(col("doc_id"), col("kind"), col("payload"))
      .as[(Long, String, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, _, bytes0) =>
        val bytes = Codec.nonNull(bytes0)
        val real = Codec.sampleFrames(bytes, step, fps).map { case (_, sampled) =>
          sampled.flatMap(s =>
            Codec.dHash(s.png).map(h => FramePHash(id, s.idx, h, is_real = true)))
        }.filter(_.nonEmpty)
        real.getOrElse {
          val h0 = scala.util.hashing.MurmurHash3.bytesHash(bytes, 19)
          val h1 = scala.util.hashing.MurmurHash3.bytesHash(bytes, 37)
          Vector(FramePHash(id, -1,
            (h0.toLong << 32) | (h1.toLong & 0xffffffffL), is_real = false))
        }
      })
      .toDF()
  }

  /** The rendered-media injectivity tripwire: the image/video rasters
    * zero-pad their final chunk, so a text whose UTF-8 bytes contain
    * NUL could render byte-identical to a different text — and the
    * DuckDB exact mirrors compare raw texts. Rather than assume the
    * corpus is NUL-free (true of the synthetic tables today, not a
    * law), every rendered byte array is scanned and a NUL fails the
    * render loudly with the doc id. O(len) over bytes already in
    * cache — free next to the PNG/GIF encode that follows. */
  private def requireNulFree(id: Long, b: Array[Byte]): Array[Byte] = {
    var i = 0
    while (i < b.length) {
      if (b(i) == 0) throw new IllegalArgumentException(
        s"renderText*: doc $id contains a NUL byte at offset $i — " +
          "zero-padded rasters are only injective on NUL-free texts " +
          "(the exact-dedup mirrors would silently diverge)")
      i += 1
    }
    b
  }

  /** Deterministic REAL animated-GIF media frame over the documents
    * table's video-kind docs: the doc's utf-8 bytes rastered into
    * 16×16 grayscale frames, one frame per 256-byte chunk
    * (zero-padded tail; empty/null text → one black frame), written
    * as a multi-frame GIF via the stock `javax.imageio` sequence
    * writer. Full-rect frames with default disposal make every
    * composite equal its own frame, so the GIF89a sampler's
    * composited pixels ARE the chunk rasters. INJECTIVE on NUL-free
    * texts (GIF is lossless at ≤256 colors; distinct rasters decode
    * distinct, so the encoder cannot emit equal bytes for them) —
    * the D15 exact mirror compares texts, never pixels. The NUL-free
    * precondition is CHECKED ([[requireNulFree]]): trailing NULs
    * would render identical to their truncation via the zero-padded
    * final chunk. */
  def renderTextVideo(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.filter(pmod(col("doc_id"), lit(3)) === 2)
      .select(col("doc_id"), coalesce(col("text"), lit("")).as("t"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, t) =>
        val b = requireNulFree(id, t.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        val nFrames = math.max(1, (b.length + 255) / 256)
        val bos = new java.io.ByteArrayOutputStream()
        val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
        val w = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
        try {
          w.setOutput(ios)
          w.prepareWriteSequence(null)
          var f = 0
          while (f < nFrames) {
            val img = new java.awt.image.BufferedImage(
              16, 16, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
            val raster = img.getRaster
            var i = 0
            while (i < 256) {
              val gi = f * 256 + i
              raster.setSample(i % 16, i / 16, 0,
                if (gi < b.length) b(gi) & 0xff else 0)
              i += 1
            }
            w.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
            f += 1
          }
          w.endWriteSequence()
        } finally { w.dispose(); ios.close() }
        (id, "video", bos.toByteArray)
      })
      .toDF("doc_id", "kind", "payload")
  }

  /** Deterministic REAL-WAV media frame over the documents table's
    * audio-kind docs: each doc's utf-8 text bytes become unsigned
    * 8-bit PCM samples at 8 kHz mono (empty/null text → one zero
    * sample). INJECTIVE on texts — the sample stream IS the byte
    * stream, the 44-byte RIFF header is a pure function of the length
    * — which is what lets the audio-exact mirror compare texts, and
    * puts REAL decodable samples under the audio gate entries (the
    * [[renderTextImages]] posture, audio edition). */
  def renderTextAudio(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.filter(pmod(col("doc_id"), lit(3)) === 1)
      .select(col("doc_id"), coalesce(col("text"), lit("")).as("t"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, t) =>
        val b0 = t.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val samples = if (b0.isEmpty) Array[Byte](0) else b0
        val n = samples.length
        val bos = new java.io.ByteArrayOutputStream(44 + n)
        def ascii(s: String): Unit = bos.write(s.getBytes("US-ASCII"))
        def le32(v: Int): Unit =
          { bos.write(v & 0xff); bos.write((v >> 8) & 0xff)
            bos.write((v >> 16) & 0xff); bos.write((v >> 24) & 0xff) }
        def le16(v: Int): Unit =
          { bos.write(v & 0xff); bos.write((v >> 8) & 0xff) }
        ascii("RIFF"); le32(36 + n); ascii("WAVE")
        ascii("fmt "); le32(16); le16(1); le16(1) // PCM, mono
        le32(8000); le32(8000)                    // rate, byte rate
        le16(1); le16(8)                          // block align, 8-bit
        ascii("data"); le32(n); bos.write(samples)
        (id, "audio", bos.toByteArray)
      })
      .toDF("doc_id", "kind", "payload")
  }

  /** Deterministic REAL-PNG media frame over the documents table's
    * image-kind docs: each doc's utf-8 text bytes rastered row-major
    * into a 16-wide grayscale PNG (height = ⌈len/16⌉, zero-padded
    * tail; empty/null text → one black row). INJECTIVE on NUL-free
    * texts — distinct texts give distinct rasters, identical texts
    * give byte-identical payloads (ImageIO's PNG encoder is
    * deterministic: pixels in, no timestamps out) — which is what
    * lets D12's payload-equality pairs be mirrored in DuckDB as text
    * equality, and puts REAL decodable pixels (not stub bytes) under
    * the G5/D13 gate entries. The NUL-free precondition is CHECKED,
    * not assumed ([[requireNulFree]]): a text ending in NUL bytes
    * would render byte-identical to its truncation (the zero-padded
    * tail), silently diverging from the text-equality mirror — such a
    * corpus fails loudly here instead. */
  def renderTextImages(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.filter(pmod(col("doc_id"), lit(3)) === 0)
      .select(col("doc_id"), coalesce(col("text"), lit("")).as("t"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, t) =>
        val b = requireNulFree(id, t.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        val w = 16
        val h = math.max(1, (b.length + w - 1) / w)
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
        val raster = img.getRaster
        var i = 0
        while (i < w * h) {
          raster.setSample(i % w, i / w, 0,
            if (i < b.length) b(i) & 0xff else 0)
          i += 1
        }
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", bos)
        (id, "image", bos.toByteArray)
      })
      .toDF("doc_id", "kind", "payload")
  }

  /** G1: attach an opaque binary payload (here: utf-8 bytes of `text`,
    * standing in for real media) + a modality tag, then batch-decode to
    * typed metadata. Pure narrow transformation — no shuffle; at scale
    * this is one codegen'd scan stage feeding the batched decoder. */
  def decodeMeta(docs: DataFrame): DataFrame =
    decodeMetaPayloads(payloads(docs))

  /** G1 on a real media frame — (doc_id, kind, payload) with actual
    * bytes. Image payloads get their true dimensions from the
    * header-only `javax.imageio` probe, audio payloads their true
    * sample rate/channels/duration from the header-only
    * `javax.sound.sampled` probe; everything else (and unrecognized
    * bytes) falls back to the deterministic stub. */
  def decodeMetaPayloads(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    // explicit column bind: the tuple encoder is positional (see
    // resizePayloads)
    val typed: Dataset[(Long, String, Array[Byte])] =
      media.select(col("doc_id"), col("kind"), col("payload"))
        .as[(Long, String, Array[Byte])]
    typed
      .mapPartitions(_.grouped(Codec.batchSize).flatMap(b => Codec.decode(b.toSeq)))
      .toDF()
  }
}
