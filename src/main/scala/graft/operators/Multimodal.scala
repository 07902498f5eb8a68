package graft.operators

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Multimodal-column plumbing (SURVEY.md §7 north star): image/audio/video
  * payloads as opaque `binary` columns with typed metadata, plus a batched
  * decode/feature-extract path with a REAL image codec.
  *
  * The codec is JDK-builtin `javax.imageio` (PNG encode/decode — no
  * external libraries), exercised end-to-end: deterministic grayscale PNGs
  * are synthesized per document (standing in for media arrival; the corpus
  * parquet has no binary table and `/root/testdata` is read-only), carried
  * as a `binary` payload column, then decoded back and feature-extracted
  * partition-parallel via `mapPartitions` over a typed Dataset (the Scala
  * analog of `mapInPandas`: one iterator per partition, amortized per-batch
  * codec setup, no per-row driver round-trips).
  *
  * Because PNG is lossless and the synthesized pixels are an affine
  * function of (x, y), every decoded feature — dims, gray stats, 2×2
  * box-downscale stats — has a closed form in `doc_id`, so the query is
  * hash-checkable against a pure-SQL DuckDB oracle even though the Spark
  * side really round-trips through the codec.
  */
object Multimodal {
  type Q = (SparkSession, String) => DataFrame

  /** Raw media row as it would arrive: payload + declared kind. */
  case class MediaRow(doc_id: Long, kind: String, payload: Array[Byte])

  /** Features extracted from a DECODED image: geometry, gray stats, and
    * the stats of a real 2×2 box-average downscale of the decoded raster. */
  case class ImageFeatures(doc_id: Long, width: Int, height: Int,
                           mean_gray: Double, min_gray: Int, max_gray: Int,
                           resized_w: Int, resized_h: Int, resized_mean: Double)

  /** Perceptual fingerprint of a DECODED image: the 8×8 nearest-neighbor
    * resample of the raster plus its 64-bit average-hash. */
  case class PerceptualRow(doc_id: Long, p: Array[Int], ahash: Long)

  /** Decode → NN-resample to 8×8 → average-hash. All arithmetic is
    * integer so cross-engine parity is exact: resample cell (x, y) reads
    * source pixel (x·w/8, y·h/8) (floor division), and aHash bit i is
    * 64·p(i) > Σp — the integer form of p(i) > mean(p), immune to float
    * rounding on the threshold. */
  def perceptualHash(rows: Iterator[MediaRow]): Iterator[PerceptualRow] = {
    rows.map { r =>
      val img = decodeImageBytes(r.payload)
      require(img != null, s"undecodable payload for doc ${r.doc_id}")
      val (w, h) = (img.getWidth, img.getHeight)
      val raster = img.getRaster
      val p = new Array[Int](64)
      var i = 0
      while (i < 64) {
        p(i) = raster.getSample((i % 8) * w / 8, (i / 8) * h / 8, 0)
        i += 1
      }
      var sum = 0L; i = 0
      while (i < 64) { sum += p(i); i += 1 }
      var bits = 0L; i = 0
      while (i < 64) { if (64L * p(i) > sum) bits |= (1L << i); i += 1 }
      PerceptualRow(r.doc_id, p, bits)
    }
  }

  /** Deterministic test-pattern geometry: even dims (4–14 × 4–10) and a
    * base offset, all pure functions of doc_id; gray(x,y) = base + 7x + 13y
    * (max 31 + 7·13 + 13·9 = 239 < 256, so no clipping anywhere). */
  @inline private def geom(docId: Long): (Int, Int, Int) =
    (2 * ((docId % 6) + 2).toInt, 2 * ((docId % 4) + 2).toInt, (docId % 32).toInt)

  /** Image codec SPI handles, resolved ONCE per JVM — the [[wavWriter]]
    * lesson, image edition (found by the round-10 jstack of a 32-thread
    * video probe): `ImageIO.read`/`ImageIO.write` perform a SYNCHRONIZED
    * SPI-registry lookup per call (`getImageWriters` →
    * `ServiceRegistry.getServiceProviders` locks the category SubRegistry
    * monitor), and the probe caught 5–14 of 32 executor threads BLOCKED
    * on that monitor. Round 9's `setUseCache(false)` removed the disk-
    * cache lock but not this one. The SPI objects are stateless
    * factories; per-call reader/writer INSTANCES are cheap constructions
    * that touch no registry. */
  private lazy val pngWriterSpi: javax.imageio.spi.ImageWriterSpi =
    javax.imageio.ImageIO.getImageWritersByFormatName("png").next()
      .getOriginatingProvider // one registry hit per JVM

  private lazy val imageReaderSpis: Array[javax.imageio.spi.ImageReaderSpi] = {
    import scala.jdk.CollectionConverters._
    javax.imageio.spi.IIORegistry.getDefaultInstance
      .getServiceProviders(classOf[javax.imageio.spi.ImageReaderSpi], true)
      .asScala.toArray
  }

  /** Registry-free `ImageIO.write(img, "png", …)`. */
  private def encodeToPng(img: java.awt.image.BufferedImage): Array[Byte] = {
    val writer = pngWriterSpi.createWriterInstance()
    val bos = new java.io.ByteArrayOutputStream()
    val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
    try { writer.setOutput(ios); writer.write(img); ios.flush() }
    finally { writer.dispose(); ios.close() }
    bos.toByteArray
  }

  /** Registry-free `ImageIO.read` over arbitrary supported formats (the
    * perceptual gates must accept re-encoded payloads — BMP in the spec
    * laws): probe the once-resolved reader SPIs with `canDecodeInput`,
    * mark/reset around each probe exactly as `ImageIO.read` does.
    * Returns null on an undecodable payload (callers `require` non-null
    * with the doc id, as before). */
  private[graft] def decodeImageBytes(bytes: Array[Byte])
      : java.awt.image.BufferedImage = {
    val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
      new java.io.ByteArrayInputStream(bytes))
    val spi = imageReaderSpis.find { s =>
      iis.mark()
      val ok = try s.canDecodeInput(iis)
      catch { case _: java.io.IOException => false }
      iis.reset()
      ok
    }
    spi match {
      case None => iis.close(); null
      case Some(p) =>
        val reader = p.createReaderInstance()
        try { reader.setInput(iis, true, true); reader.read(0) }
        finally { reader.dispose(); iis.close() }
    }
  }

  /** Encode ONE gray test-pattern frame gray(x,y) = base + 7x + 13y as a
    * real PNG via the resolved codec SPI (shared by the still-image and
    * video paths; callers guarantee base + 7(w−1) + 13(h−1) < 256). */
  private def encodePngPattern(w: Int, h: Int, base: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { raster.setSample(x, y, 0, base + 7 * x + 13 * y); x += 1 }
      y += 1
    }
    encodeToPng(img)
  }

  /** Encode the doc's test pattern as a real PNG via javax.imageio. */
  def encodePng(docId: Long): Array[Byte] = {
    val (w, h, base) = geom(docId)
    encodePngPattern(w, h, base)
  }

  /** Features from a DECODED audio payload: geometry, planted-silence
    * frame census, active-region bounds (the silence-trim decision), and
    * RMS energy over the active frames. */
  case class AudioFeatures(doc_id: Long, n_samples: Int, n_frames: Int,
                           n_silent: Int, first_active: Int,
                           last_active: Int, rms_active: Double)

  /** Deterministic PCM test signal (the audio analog of [[encodePng]]'s
    * pattern): n = 1024 + (doc_id % 7)·256 mono samples at 8 kHz in
    * 256-sample frames; frame f is SILENT (all-zero) when
    * (doc_id + f) % 5 == 0, else sample(t) = (doc_id·31 + t·17) % 4096 −
    * 2048. Pure integers, so every decoded feature has a closed form in
    * doc_id for the DuckDB oracle. */
  def audioSamples(docId: Long): Array[Short] = {
    val n = 1024 + ((docId % 7) * 256).toInt
    val out = new Array[Short](n)
    var t = 0
    while (t < n) {
      out(t) =
        if ((docId + t / 256) % 5 == 0) 0
        else ((docId * 31 + t.toLong * 17) % 4096 - 2048).toShort
      t += 1
    }
    out
  }

  /** WAV codec SPI handles, resolved ONCE per JVM. JDK 17's
    * `AudioSystem.write`/`getAudioInputStream` route EVERY call through
    * `JSSecurityManager.getProviders`, which synchronizes on a class-level
    * monitor — 32 concurrent codec tasks serialize on that lock (jstack at
    * the 1000× probe: every executor thread BLOCKED on the
    * JSSecurityManager class monitor, the whole 5M-doc audio pass running
    * at ~1 core). The `ImageIO.setUseCache(false)` lesson, audio edition:
    * resolve the SPI providers directly via ServiceLoader and call them —
    * the provider objects are stateless and thread-safe; only
    * AudioSystem's registry lookup is the bottleneck. */
  private lazy val wavWriter: javax.sound.sampled.spi.AudioFileWriter = {
    import scala.jdk.CollectionConverters._
    java.util.ServiceLoader
      .load(classOf[javax.sound.sampled.spi.AudioFileWriter]).asScala
      .find(_.isFileTypeSupported(javax.sound.sampled.AudioFileFormat.Type.WAVE))
      .getOrElse(throw new IllegalStateException("no WAVE AudioFileWriter SPI"))
  }

  private lazy val wavReader: javax.sound.sampled.spi.AudioFileReader = {
    import scala.jdk.CollectionConverters._
    val sample = encodeWav(0L)
    // probe each provider with a real WAV: catch ONLY the SPI's declared
    // "not my format" signal (a broken WAV-capable provider should fail
    // loudly, not be silently skipped), and close the probe stream. To
    // make selection independent of ServiceLoader iteration order, prefer
    // the JDK's own WaveFileReader when present; otherwise first-parse
    // wins (any provider that parsed the probe can decode our payloads).
    val capable = java.util.ServiceLoader
      .load(classOf[javax.sound.sampled.spi.AudioFileReader]).asScala
      .filter { r =>
        try {
          r.getAudioInputStream(new java.io.ByteArrayInputStream(sample)).close()
          true
        } catch {
          case _: javax.sound.sampled.UnsupportedAudioFileException => false
        }
      }
      .toList
    capable.find(_.getClass.getName.endsWith("WaveFileReader"))
      .orElse(capable.headOption)
      .getOrElse(throw new IllegalStateException("no WAVE AudioFileReader SPI"))
  }

  /** Encode the doc's test signal as a REAL RIFF/WAV container via the
    * JDK-builtin `javax.sound.sampled` codec (16-bit signed LE mono). */
  def encodeWav(docId: Long): Array[Byte] = {
    val samples = audioSamples(docId)
    val bytes = new Array[Byte](samples.length * 2)
    var i = 0
    while (i < samples.length) {
      bytes(2 * i) = (samples(i) & 0xFF).toByte
      bytes(2 * i + 1) = ((samples(i) >> 8) & 0xFF).toByte
      i += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(bytes), fmt, samples.length.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    wavWriter.write(ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** The PCM bytes of a WAV payload, decoded through the resolved SPI
    * ([[wavReader]]), after checking the format is 16-bit LE mono. */
  private def wavPcm(r: MediaRow): Array[Byte] = {
    val ais = wavReader.getAudioInputStream(new java.io.ByteArrayInputStream(r.payload))
    val fmt = ais.getFormat
    require(fmt.getSampleSizeInBits == 16 && !fmt.isBigEndian &&
      fmt.getChannels == 1, s"unexpected WAV format for doc ${r.doc_id}")
    ais.readAllBytes()
  }

  /** Batched WAV decode + feature-extract: per-partition iterator, one
    * real WAV-SPI decode per row (direct provider call — see [[wavReader]]
    * for why not AudioSystem), features computed
    * from the DECODED PCM (not the generator's formula — WAV PCM is
    * lossless, which `MultimodalSpec` pins sample-exactly). */
  def decodeAudio(rows: Iterator[MediaRow]): Iterator[AudioFeatures] = {
    rows.map { r =>
      val raw = wavPcm(r)
      val n = raw.length / 2
      val s = new Array[Int](n)
      var i = 0
      while (i < n) {
        s(i) = (raw(2 * i + 1).toInt << 8) | (raw(2 * i) & 0xFF)
        i += 1
      }
      val nf = n / 256
      var silent = 0; var first = -1; var last = -1
      var ssq = 0L; var nAct = 0
      var f = 0
      while (f < nf) {
        val lo = f * 256; val hi = lo + 256
        var allZero = true
        var t = lo
        while (t < hi) { if (s(t) != 0) allZero = false; t += 1 }
        if (allZero) silent += 1
        else {
          if (first < 0) first = f
          last = f
          var u = lo
          while (u < hi) { ssq += s(u).toLong * s(u); u += 1 }
          nAct += 256
        }
        f += 1
      }
      val rms = BigDecimal(math.sqrt(ssq.toDouble / nAct))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      AudioFeatures(r.doc_id, n, nf, silent, first, last, rms)
    }
  }

  /** Structural fingerprint of a DECODED audio payload: frame count plus
    * the silent-frame bitmask (frame f's bit set iff every decoded sample
    * in frame f is zero). Two clips with the same mask have identical
    * silence STRUCTURE — the first perceptual gate of audio dedup
    * (trim/padding-normalized duplicate detection), sitting between exact
    * byte dedup and content fingerprinting exactly where the image
    * family's aHash sits. */
  case class AudioClass(doc_id: Long, n_frames: Int, n_silent: Int,
                        silent_mask: Long)

  /** Decode WAV → per-frame silence detection → structural fingerprint.
    * Mask bits come from the DECODED PCM, not the generator formula (WAV
    * is lossless — MultimodalSpec pins sample-exactness), and frame count
    * here is ≤ 10 (1024–2560 samples / 256), so the mask always fits a
    * long; a production variant would band a fixed-width mask the same
    * way the image path bands its 64-bit aHash. */
  def audioStructure(rows: Iterator[MediaRow]): Iterator[AudioClass] = {
    rows.map { r =>
      val raw = wavPcm(r)
      val n = raw.length / 2
      val nf = n / 256
      require(nf <= 64, s"frame count $nf overflows the 64-bit mask")
      // the mask covers WHOLE frames only: a trailing partial frame would
      // be silently ignored, letting clips differing only in that tail
      // share a fingerprint — reject rather than assume
      require(n % 256 == 0, s"sample count $n is not frame-aligned for doc ${r.doc_id}")
      var mask = 0L; var silent = 0
      var f = 0
      while (f < nf) {
        val lo = 2 * f * 256; val hi = lo + 512
        var allZero = true
        var i = lo
        while (i < hi) { if (raw(i) != 0) allZero = false; i += 1 }
        if (allZero) { mask |= 1L << f; silent += 1 }
        f += 1
      }
      AudioClass(r.doc_id, nf, silent, mask)
    }
  }

  /** Exact + perceptual fingerprints of a DECODED image in ONE codec
    * pass: the byte-level md5 (the exact gate) plus the 8×8 resample and
    * its aHash (the perceptual gate) — the unit of cross-modal benchmark
    * decontamination, where an eval-suite image must be caught even after
    * re-encoding changes every byte (same pixels ⇒ same (p, ahash),
    * different md5 — pinned by the BMP law in MultimodalSpec). */
  case class ImageFp(doc_id: Long, fp_md5: String, p: Array[Int], ahash: Long)

  def imageFingerprints(rows: Iterator[MediaRow]): Iterator[ImageFp] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.map { r =>
      md.reset()
      val hex = md.digest(r.payload).map("%02x".format(_)).mkString
      val pr = perceptualHash(Iterator(r)).next()
      ImageFp(r.doc_id, hex, pr.p, pr.ahash)
    }
  }

  // ------------------------------------------------------------------ video

  /** Video is the third real-codec modality (r9 verdict #1): a Motion-
    * JPEG-style container — magic `GVID`, a frame count, then length-
    * prefixed REAL PNG frames — so every frame round-trips through the
    * same `javax.imageio` codec as the image family. No external
    * libraries; the container framing is ours (length-prefixed
    * concatenation, the MJPEG idea), the per-frame codec is real.
    *
    * Deterministic content with closed forms (the encodePng discipline):
    * frame dims are the doc's (w, h) = (2(d%6+2), 2(d%4+2)); the clip has
    * n_frames = 3 + d%6 frames; frame f ≥ 1 STARTS A NEW SCENE iff
    * (d + f) % 3 == 0; frame f's pattern is gray(x,y) = base_f + 7x + 13y
    * with base_f = d%29 + 12·(scene(f)%2) + 2·(f%2) ≤ 28+12+2+208 = 250.
    * Within a scene, consecutive frames differ by the ±2 jitter term
    * (sub-threshold camera noise); across a cut the 12-step scene term
    * dominates (|Δbase| ∈ {10, 14}) — so a mean-abs-pixel-diff ≥ 8
    * detector recovers the generator's cut pattern EXACTLY from decoded
    * pixels, and every video feature below has a closed form in doc_id
    * for the DuckDB oracle. */
  val VideoMagic: Int = 0x47564944 // "GVID"

  /** Scene-aware per-frame pattern offset (closed form above). */
  def videoFrameBase(d: Long, f: Int): Int = {
    var s = 0; var i = 1
    while (i <= f) { if ((d + i) % 3 == 0) s += 1; i += 1 }
    ((d % 29) + 12 * (s % 2) + 2 * (f % 2)).toInt
  }

  /** Encode the doc's clip: GVID container of real PNG frames. */
  def encodeVideo(d: Long): Array[Byte] = {
    val nf = (3 + d % 6).toInt
    val (w, h, _) = geom(d)
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeInt(VideoMagic)
    out.writeInt(nf)
    var f = 0
    while (f < nf) {
      val png = encodePngPattern(w, h, videoFrameBase(d, f))
      out.writeInt(png.length)
      out.write(png)
      f += 1
    }
    out.flush()
    bos.toByteArray
  }

  /** Parse the container and decode every frame through javax.imageio;
    * returns (w, h, per-frame rasters). Fails loudly on a bad container
    * or drifting frame geometry (a real clip has constant dims). */
  private def decodeVideoRasters(payload: Array[Byte], docId: Long)
      : (Int, Int, Array[Array[Int]]) = {
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(payload))
    require(in.readInt() == VideoMagic, s"bad video magic for doc $docId")
    val nf = in.readInt()
    require(nf > 0 && nf <= 4096, s"implausible frame count $nf for doc $docId")
    var w = -1; var h = -1
    val frames = new Array[Array[Int]](nf)
    var f = 0
    while (f < nf) {
      val len = in.readInt()
      val bytes = new Array[Byte](len)
      in.readFully(bytes)
      val img = decodeImageBytes(bytes)
      require(img != null, s"undecodable frame $f for doc $docId")
      if (f == 0) { w = img.getWidth; h = img.getHeight }
      else require(img.getWidth == w && img.getHeight == h,
        s"frame geometry drift at frame $f for doc $docId")
      val raster = img.getRaster
      val px = new Array[Int](w * h)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) { px(y * w + x) = raster.getSample(x, y, 0); x += 1 }
        y += 1
      }
      frames(f) = px
      f += 1
    }
    (w, h, frames)
  }

  /** Features a video-curation pipeline gates on: geometry, duration, and
    * the scene-cut census — all computed from DECODED frames (the cut
    * detector compares real pixels: Σ|Δpixel| ≥ 8·w·h, integer-exact). */
  case class VideoFeatures(doc_id: Long, n_frames: Int, width: Int,
                           height: Int, n_cuts: Int, n_scenes: Int,
                           duration_ms: Long, mean_gray_first: Double,
                           mean_gray_last: Double)

  /** The frames f ≥ 1 of a decoded clip that start a new scene: mean
    * |Δpixel| ≥ 8 against frame f − 1, integer-exact as Σ|Δpixel| ≥ 8·w·h. */
  private def sceneCuts(frames: Array[Array[Int]]): Seq[Int] =
    (1 until frames.length).filter { f =>
      val (cur, prev) = (frames(f), frames(f - 1))
      var sumAbs = 0L
      var i = 0
      while (i < cur.length) { sumAbs += math.abs(cur(i) - prev(i)); i += 1 }
      sumAbs >= 8L * cur.length
    }

  def decodeVideoFeatures(rows: Iterator[MediaRow]): Iterator[VideoFeatures] = {
    rows.map { r =>
      val (w, h, frames) = decodeVideoRasters(r.payload, r.doc_id)
      val n = w * h
      val cuts = sceneCuts(frames).length
      def mean(px: Array[Int]): Double = {
        var s = 0L; var i = 0
        while (i < n) { s += px(i); i += 1 }
        s.toDouble / n // exact: the pattern mean is dyadic (x.0 or x.5)
      }
      VideoFeatures(r.doc_id, frames.length, w, h, cuts, cuts + 1,
        frames.length * 40L, mean(frames.head), mean(frames.last))
    }
  }

  /** One row per detected SCENE of a decoded clip: contiguous frame runs
    * between pixel-diff cuts — the segmentation a video-curation pipeline
    * samples training frames from (one keyframe per scene beats every-Nth
    * frame on redundancy). Cut detection is [[sceneCuts]]. */
  case class VideoScene(doc_id: Long, scene_idx: Int, start_frame: Int,
                        end_frame: Int, n_frames: Int)

  def videoScenes(rows: Iterator[MediaRow]): Iterator[VideoScene] = {
    rows.flatMap { r =>
      val (_, _, frames) = decodeVideoRasters(r.payload, r.doc_id)
      val cuts = sceneCuts(frames)
      (0 +: cuts).zip(cuts :+ frames.length).zipWithIndex.map { case ((start, end), i) =>
        VideoScene(r.doc_id, i, start, end - 1, end - start)
      }
    }
  }

  /** Per-FRAME perceptual fingerprints of a decoded clip: one 16-byte
    * hash of each frame's 8×8 resampled raster. The unit of frame-level
    * video decontamination — a training clip that EMBEDS benchmark
    * footage shares frame fingerprints even when the clips as wholes
    * differ (fingerprint collision ⟺ raster equality ⟺ same (w, h,
    * base) by the pinned injectivity). */
  case class FrameFp(doc_id: Long, frame_fp: String)

  /** Append a decoded frame's 8×8 nearest-neighbor resample to `buf`:
    * cell i reads pixel ((i % 8)·w/8, (i / 8)·h/8), as [[perceptualHash]]. */
  private def putGrid(buf: java.nio.ByteBuffer, px: Array[Int], w: Int, h: Int): Unit = {
    var i = 0
    while (i < 64) {
      buf.putInt(px(((i / 8) * h / 8) * w + (i % 8) * w / 8))
      i += 1
    }
  }

  def videoFrameFingerprints(rows: Iterator[MediaRow]): Iterator[FrameFp] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.flatMap { r =>
      val (w, h, frames) = decodeVideoRasters(r.payload, r.doc_id)
      frames.map { px =>
        val buf = java.nio.ByteBuffer.allocate(64 * 4)
        putGrid(buf, px, w, h)
        md.reset()
        FrameFp(r.doc_id, md.digest(buf.array()).map("%02x".format(_)).mkString)
      }
    }
  }

  /** Perceptual video fingerprint: the SEQUENCE of per-frame 8×8
    * NN-resampled rasters (the image family's perceptual unit applied
    * per frame), hashed to 16 bytes. Re-encoding-robust by construction —
    * the fingerprint reads decoded pixels, never container or PNG bytes
    * (pinned by the BMP re-encode law in MultimodalSpec) — and injective
    * in the generator's parameters (frame 0's raster recovers (w, h,
    * d%29), the frame count recovers d%6, h recovers d%4), so the
    * fingerprint classes are EXACTLY doc_id mod 348 = lcm(6, 4, 29, 3):
    * the oracle's closed form. */
  case class VideoClass(doc_id: Long, n_frames: Int, video_fp: String)

  def videoFingerprint(rows: Iterator[MediaRow]): Iterator[VideoClass] = {
    // one digest per partition (getInstance is a provider lookup), reset
    // per row — the imageFingerprints discipline
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.map { r =>
      val (w, h, frames) = decodeVideoRasters(r.payload, r.doc_id)
      md.reset()
      val buf = java.nio.ByteBuffer.allocate(4 + frames.length * 64 * 4)
      buf.putInt(frames.length)
      frames.foreach(putGrid(buf, _, w, h))
      val hex = md.digest(buf.array()).map("%02x".format(_)).mkString
      VideoClass(r.doc_id, frames.length, hex)
    }
  }

  /** One ingest-time fingerprint row per document across ALL codec
    * modalities — the factoring every downstream dedup / admission /
    * decontamination query shares: at 100 TB the payload columns are read
    * and DECODED exactly once, the fixed-width fingerprints persist
    * ([[writeIngestTable]]), and the per-modality gates become
    * joins over this frame instead of re-running three codec scans each.
    * (The 1000× joint-admission probe measured the codec scans as the
    * honest dominant term — 400+ s of 627 s — precisely the cost this
    * amortizes across queries.) */
  case class IngestFp(doc_id: Long, img_fp: String, img_raster: Array[Int],
                      img_ahash: Long, audio_frames: Int,
                      audio_mask: Long, video_fp: String)

  /** Fused per-partition decode: the three modality fingerprint iterators
    * ([[imageFingerprints]], [[audioStructure]], [[videoFingerprint]])
    * run in LOCKSTEP over duplicated id cursors (zip pulls alternately, so
    * the duplicate buffers hold ≤1 element) — each keeps its one-digest-
    * per-partition discipline, and each document's three payloads are
    * encoded, decoded, and dropped before the next row. */
  def ingestFingerprints(ids: Iterator[Long]): Iterator[IngestFp] = {
    val (i1, rest) = ids.duplicate
    val (i2, i3) = rest.duplicate
    val img = imageFingerprints(payloads("image")(i1))
    val au = audioStructure(payloads("audio")(i2))
    val vid = videoFingerprint(payloads("video")(i3))
    img.zip(au).zip(vid).map { case ((i, a), v) =>
      IngestFp(i.doc_id, i.fp_md5, i.p, i.ahash, a.n_frames, a.silent_mask,
        v.video_fp)
    }
  }

  /** The LAZY fused fingerprint frame — one row per document (optionally
    * restricted by a pushdown-friendly `pred`), exactly ONE MapPartitions
    * codec pass over an ids-only scan, fixed-width exact fingerprints only
    * (the perceptual raster/ahash are pruned — callers that need them use
    * the full-width [[ingestFingerprints]] directly). Exposed
    * un-materialized so `PlanAuditSpec` can pin the decode shape. */
  def ingestFingerprintFrame(s: SparkSession, dir: String,
      pred: org.apache.spark.sql.Column = lit(true)): DataFrame = {
    import s.implicits._
    docIds(docs(s, dir).filter(pred))
      .mapPartitions(ingestFingerprints).toDF()
      .select(col("doc_id"), col("img_fp"), col("audio_frames"),
        col("audio_mask"), col("video_fp"))
  }

  /** [[ingestFingerprintFrame]] materialized (localCheckpoint) — the
    * in-query stand-in for the PERSISTED ingest table whenever more than
    * one consumer reads the fingerprints: without it every consumer
    * branch re-runs the codec scan. */
  def ingestTable(s: SparkSession, dir: String,
      pred: org.apache.spark.sql.Column = lit(true)): DataFrame =
    ingestFingerprintFrame(s, dir, pred).localCheckpoint()

  /** Production factoring: write the fused fingerprint table to parquet
    * once at ingest time so every downstream gate — batch or streaming —
    * reads fingerprints with ZERO codec work at query time. */
  def writeIngestTable(s: SparkSession, dir: String, outPath: String): Unit =
    ingestFingerprintFrame(s, dir).write.mode("overwrite").parquet(outPath)

  /** Batched decode + feature-extract: per-partition iterator, one real
    * PNG decode per row (registry-free — see [[decodeImageBytes]]), stats
    * and a genuine 2×2 box-average downscale
    * computed from the DECODED raster (not from the generator's formula —
    * the oracle's closed form is only valid because PNG round-trips
    * losslessly, which `MultimodalSpec` pins). */
  def decodeImages(rows: Iterator[MediaRow]): Iterator[ImageFeatures] = {
    // codec history: round 9 found ImageIO's DISK-backed stream cache
    // behind a static lock (3× super-linear at the 100× probe; fixed with
    // setUseCache(false)); round 10's jstack then found the per-call SPI
    // REGISTRY lookup monitor — decodeImageBytes resolves the SPIs once
    // and uses explicit memory streams, removing both.
    rows.map { r =>
      val img = decodeImageBytes(r.payload)
      require(img != null, s"undecodable payload for doc ${r.doc_id}")
      val (w, h) = (img.getWidth, img.getHeight)
      val raster = img.getRaster
      var sum = 0L; var mn = 255; var mx = 0
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val v = raster.getSample(x, y, 0)
          sum += v; if (v < mn) mn = v; if (v > mx) mx = v
          x += 1
        }
        y += 1
      }
      // real 2×2 box-average downscale over decoded pixels (even dims by
      // construction; general images would need edge handling)
      val rw = w / 2; val rh = h / 2
      var rsum = 0L
      var ry = 0
      while (ry < rh) {
        var rx = 0
        while (rx < rw) {
          rsum += (raster.getSample(2 * rx, 2 * ry, 0)
            + raster.getSample(2 * rx + 1, 2 * ry, 0)
            + raster.getSample(2 * rx, 2 * ry + 1, 0)
            + raster.getSample(2 * rx + 1, 2 * ry + 1, 0)) / 4
          rx += 1
        }
        ry += 1
      }
      ImageFeatures(r.doc_id, w, h, sum.toDouble / (w * h), mn, mx,
        rw, rh, rsum.toDouble / (rw * rh))
    }
  }

  /** Shared machinery of the perceptual family: (raster classes, verified
    * rep pairs).
    *
    * classes: one row per DISTINCT resampled raster — (p, ahash, rep =
    * min doc_id, members sorted). Exact-content collapse first, so every
    * downstream step scales with unique perceptual content
    * (replication-invariant, the embeddingRepCandidatesOf discipline).
    *
    * repPairs: distinct representative pairs passing the perceptual
    * predicate — 4×16-bit Hamming bands bucket the candidates (pigeonhole:
    * hamming ≤ 3 ⇒ ≥ 1 band equal ⇒ 100% recall), then the exact verify
    * (bit_count hamming ≤ 3 AND Σ|Δpixel| ≤ 512). */
  private def perceptualParts(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val fp = decoded(docs(s, dir), "image")(perceptualHash)
    val clusters = fp.groupBy(col("p"), col("ahash"))
      .agg(min(col("doc_id")).as("rep"),
        sort_array(collect_list(col("doc_id"))).as("members"))
    val banded = ahashBands(clusters, "rep", "ahash").withColumnRenamed("rep", "doc_id")
    val reps = clusters.select(col("rep"), col("p"), col("ahash"))
    val repPairs = Dedup.bucketPairs(banded, Seq("band_idx", "band_val"))
      .join(reps.select(col("rep").as("doc_a"), col("p").as("pa"),
        col("ahash").as("ha")), "doc_a")
      .join(reps.select(col("rep").as("doc_b"), col("p").as("pb"),
        col("ahash").as("hb")), "doc_b")
      .withColumn("hamming", expr("bit_count(ha ^ hb)").cast("long"))
      .filter(col("hamming") <= 3)
      .withColumn("pix_dist",
        aggregate(zip_with(col("pa"), col("pb"), (a, b) => abs(a - b)),
          lit(0L), (acc, d) => acc + d.cast("long")))
      .filter(col("pix_dist") <= 512)
      .select(col("doc_a"), col("doc_b"), col("hamming"), col("pix_dist"))
    (clusters, repPairs)
  }

  /** The ids-only input of every codec query, round-robin spread to
    * [[Dedup.width]] BEFORE the codec mapPartitions. Parquet split planning
    * uses TOTAL file bytes (not the projected column), so a compactly
    * written corpus yields a handful of splits and a codec-bound scan runs
    * on that handful of cores — the 1000× probe measured the 5M-doc WAV
    * pass on ≤5 of 32 cores (542 MB file → 5 splits, ~25 min). The
    * exchange moves 8-byte ids; the codec work — the actual cost — spreads
    * to every core. At real cluster scale files outnumber cores and the
    * exchange is redundant but stays O(ids), never payloads. A filter on
    * `docs` (a bench slice, an arrival split) sits BELOW the exchange and
    * the codec fan-out, so a sliced scan decodes only its slice. `docs`
    * may be a stream: the spread then applies per micro-batch. */
  private def docIds(docs: DataFrame): Dataset[Long] =
    Dedup.spread(docs.select(col("doc_id"))).as[Long](Encoders.scalaLong)

  /** Synthesized media arrival, the one place a payload is made per
    * doc_id: each id becomes a `kind` ("image", "audio" or "video")
    * [[MediaRow]] carrying [[encodePng]], [[encodeWav]] or
    * [[encodeVideo]] of it. */
  private[graft] def payloads(kind: String)(ids: Iterator[Long]): Iterator[MediaRow] = {
    val encode: Long => Array[Byte] = kind match {
      case "image" => encodePng
      case "audio" => encodeWav
      case "video" => encodeVideo
      case other => throw new IllegalArgumentException(s"unknown media kind $other")
    }
    ids.map(id => MediaRow(id, kind, encode(id)))
  }

  /** The codec fan-out of every media query, batch and streaming:
    * `docs`' ids spread to full width ([[docIds]]), then each partition's
    * `kind` payloads ([[payloads]]) run through `kernel` — a decoder or
    * fingerprinter of this object, or the identity for the raw payload. */
  private[graft] def decoded[T <: Product : TypeTag](docs: DataFrame, kind: String)(
      kernel: Iterator[MediaRow] => Iterator[T]): DataFrame =
    docIds(docs).mapPartitions(it => kernel(payloads(kind)(it)))(Encoders.product[T]).toDF()

  /** 4×16-bit bands of a 64-bit aHash: one (`id`, band_idx, band_val)
    * row per band. By pigeonhole two hashes within Hamming distance 3
    * share a band, so the band equi-join is a complete candidate set for
    * every perceptual gate. */
  private[graft] def ahashBands(df: DataFrame, id: String, hash: String): DataFrame =
    df.select(col(id), col(hash).as("ahash"), explode(sequence(lit(0), lit(3))).as("band_idx"))
      .select(col(id), col("band_idx"),
        expr("shiftrightunsigned(ahash, band_idx * 16) & 65535").as("band_val"))

  private def docs(s: SparkSession, dir: String): DataFrame = Tables.load(s, dir, "documents")

  /** Batch rows whose `key` also occurs on the store side, as (doc_id,
    * true): a left-semi probe of the store's distinct-key class index. */
  private def semiGate(batch: DataFrame, store: DataFrame,
      key: org.apache.spark.sql.Column): DataFrame =
    batch.select(col("doc_id"), key.as("key"))
      .join(store.select(key.as("key")).distinct(), Seq("key"), "left_semi")
      .select(col("doc_id"), lit(true))

  /** The text gates of incremental joint admission over (doc_id, text)
    * frames: `text_exact`, a left-semi against the store's distinct texts,
    * and `text_neardup` — both sides quotiented by text identity, the class
    * reps banded ([[Dedup.minhashBands]]) and band-joined batch × store
    * only (never store × store), exact jaccard ≥ 0.8 on candidates. */
  private def textGates(batch: DataFrame, store: DataFrame): Seq[(String, DataFrame)] = {
    import graft.functions.Sketches
    val bCls = batch.groupBy(col("text")).agg(min(col("doc_id")).as("bid"))
      .select(col("bid"), col("text").as("text_b"))
    val sCls = store.select(col("text").as("text_s")).distinct()
      .withColumn("sid", monotonically_increasing_id())
    val ndTexts = Dedup.minhashBands(bCls, "text_b", Seq("bid", "text_b"))
      .join(Dedup.minhashBands(sCls, "text_s", Seq("sid", "text_s")),
        Seq("band_idx", "band_hash"))
      .select(col("bid"), col("text_b"), col("text_s")).distinct()
      .filter(Sketches.jaccardShingles(col("text_b"), col("text_s"), 3) >= 0.8)
      .select(col("bid"), col("text_b")).distinct()
    Seq("text_exact" -> semiGate(batch, store, col("text")),
      "text_neardup" -> batch
        .join(ndTexts.select(col("text_b").as("text")), Seq("text"), "left_semi")
        .select(col("doc_id"), lit(true)))
  }

  /** The audio and video gates of incremental joint admission over the
    * two sides' fused fingerprint frames ([[ingestFingerprints]]):
    * `audio_struct` matches the silence-structure class, `video_seq` the
    * frame-sequence fingerprint. */
  private def audioVideoGates(bFp: DataFrame, sFp: DataFrame): Seq[(String, DataFrame)] =
    Seq("audio_struct" -> semiGate(bFp, sFp, struct(col("audio_frames").as("n_frames"),
        col("audio_mask").as("silent_mask"))),
      "video_seq" -> semiGate(bFp, sFp, col("video_fp")))

  /** The admission record: one row per batch doc with each gate's flag
    * (false where the gate's (doc_id, _) hit frame has no row), and
    * `admitted` iff no gate fired. */
  private def admissionRecord(batch: DataFrame, gates: Seq[(String, DataFrame)]): DataFrame = {
    val flags = gates.map(_._1)
    gates.foldLeft(batch.select(col("doc_id"))) { case (acc, (flag, hits)) =>
        acc.join(hits.toDF("doc_id", flag), Seq("doc_id"), "left_outer")
      }
      .select(col("doc_id") +: flags.map(f => coalesce(col(f), lit(false)).as(f)): _*)
      .withColumn("admitted", !flags.map(col).reduce(_ || _))
      .select(col("doc_id") +: col("admitted") +: flags.map(col): _*)
      .orderBy(col("doc_id"))
  }

  private def media(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(
      col("doc_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (col("doc_id") % 3 + 1).cast("int")).as("kind"),
      col("text").cast("binary").as("payload"))

  val queries: Map[String, Q] = Map(
    // metadata over opaque binary payloads — all built-ins, oracle-checked
    "q_multimodal_meta" -> ((s, dir) => {
      media(s, dir).select(
        col("doc_id"), col("kind"),
        length(col("payload")).cast("long").as("n_bytes"),
        ascii(substring(col("payload").cast("string"), 1, 1)).cast("long")
          .as("first_byte"))
        .orderBy(col("doc_id"))
    }),

    // frame sampling: one "frame" per fixed byte stride of the payload
    // (stand-in for video frame extraction — the array-building/stride
    // plumbing is the real part; string-joined for the oracle compare)
    "q_multimodal_frames" -> ((s, dir) => {
      media(s, dir)
        .withColumn("txt", col("payload").cast("string"))
        .select(col("doc_id"), col("kind"),
          expr("""array_join(transform(sequence(0, cast((length(txt)-1)/50 as int)),
                   i -> ascii(substr(txt, i*50 + 1, 1))), ',')""").as("frame_bytes"),
          (floor((length(col("txt")) - 1) / 50) + 1).cast("long").as("n_frames"))
        .orderBy(col("doc_id"))
    }),

    // exact binary-content dedup over the media payloads — the first gate
    // any multimodal training pipeline runs (byte-identical image dedup).
    // Spark groups on md5 OF THE REAL ENCODED PNG BYTES (a 16-byte
    // fingerprint crosses the exchange, never the payload — the 100 TB
    // shape); the oracle groups by the generator's equivalence classes
    // (the pattern is a pure function of (doc_id%6, doc_id%4, doc_id%32),
    // i.e. doc_id mod 96), so hash-equality proves content-grouping is
    // exactly content identity — which also pins PNG encode determinism
    // across partitions.
    "q_multimodal_dedup" -> ((s, dir) => {
      decoded(docs(s, dir), "image")(identity)
        .select(col("doc_id"), md5(col("payload")).as("fp"))
        .groupBy(col("fp"))
        .agg(min(col("doc_id")).as("keeper_doc_id"),
          count(lit(1)).as("n_copies"))
        .select(col("keeper_doc_id"), col("n_copies"))
        .orderBy(col("keeper_doc_id"))
    }),

    // the ingest-time fingerprint table, all modalities in ONE fused
    // codec pass ([[ingestFingerprints]]): per doc, the exact-image md5,
    // audio silence-structure key, and video sequence fingerprint, plus
    // each class's keeper/size facts. r12 de-skew: the facts were
    // min/count over `Window.partitionBy(class)` — correct on every
    // fixture, but a window partition's size is its class's duplication
    // count, and at 100 TB the hottest class (a boilerplate image, a
    // silence clip) is a material fraction of the corpus: ONE WindowExec
    // task buffering billions of rows, with no AQE mitigation (AQE
    // skew-splits joins, not windows). The facts now come from map-side-
    // combined `groupBy(class).agg(min, count)` frames joined back —
    // partial aggregation collapses a mega-class to one row per map task
    // before any exchange, and the three equi-joins are AQE skew-
    // splittable (and broadcast outright when the class-fact frames are
    // small). The fingerprint frame is materialized once
    // ([[ingestTable]] — the in-query stand-in for the persisted table)
    // because four consumers read it. Oracle: the three class bijections
    // (img ⟺ mod 96, audio ⟺ mod 35, video ⟺ mod 348, each pinned in
    // MultimodalSpec) give every output column a closed form. Production
    // persists this frame once ([[writeIngestTable]]) and the whole
    // dedup/admission/decontamination family joins it instead
    // of re-decoding — the factoring the 1000× joint probes costed out.
    "q_multimodal_ingest" -> ((s, dir) => {
      val fp = ingestTable(s, dir)
      val fi = fp.groupBy(col("img_fp"))
        .agg(min(col("doc_id")).as("img_keeper"),
          count(lit(1)).as("img_copies"))
      val fa = fp.groupBy(col("audio_frames"), col("audio_mask"))
        .agg(min(col("doc_id")).as("audio_keeper"),
          count(lit(1)).as("audio_copies"))
      val fv = fp.groupBy(col("video_fp"))
        .agg(min(col("doc_id")).as("video_keeper"),
          count(lit(1)).as("video_copies"))
      fp.join(fi, Seq("img_fp"))
        .join(fa, Seq("audio_frames", "audio_mask"))
        .join(fv, Seq("video_fp"))
        .select(col("doc_id"),
          col("img_keeper"), col("img_copies"),
          col("audio_keeper"), col("audio_copies"),
          col("video_keeper"), col("video_copies"))
        .orderBy(col("doc_id"))
    }),

    // perceptual (near-duplicate) image dedup — the first non-trivial gate
    // of a real multimodal pipeline, between exact binary dedup above and
    // the text near-dup family: byte-different images that LOOK the same
    // must still pair. The text-dedup discipline applied to the image
    // column end-to-end:
    //   decode (real javax.imageio PNG round-trip) → 8×8 NN-resample →
    //   64-bit average-hash → exact-content collapse on the resampled
    //   raster → 4×16-bit Hamming bands over collapsed representatives
    //   (pigeonhole: hamming ≤ 3 ⇒ ≥1 band equal ⇒ 100% candidate
    //   recall for the predicate) → exact verify (bit_count hamming ≤ 3
    //   AND Σ|Δpixel| ≤ 512) → re-expand to member pairs.
    // All hash/distance arithmetic is integer, so cross-engine parity is
    // exact; the DuckDB oracle computes the same predicate over the
    // closed-form pixel values (valid because PNG is lossless — pinned by
    // MultimodalSpec) on an all-pairs join, which only the ORACLE may do.
    // 100 TB shape: one codec scan, a 72-byte fingerprint (raster+hash)
    // crosses the exchange instead of the payload, candidates are
    // bucket-joined per band over collapsed reps (replication-invariant:
    // copies of a pattern join the same class, never the candidate set),
    // output is the true pair set.
    "q_multimodal_perceptual" -> ((s, dir) => {
      val (clusters, repPairs) = perceptualParts(s, dir)
      // copies of one raster class pair at distance 0
      Dedup.observePairs(Dedup.expandClassPairs(repPairs,
          clusters.select(col("rep"), col("members")),
          clusters.filter(size(col("members")) >= 2)
            .select(col("members"), lit(0L).as("hamming"), lit(0L).as("pix_dist"))),
        "q_multimodal_perceptual", col("doc_a"), col("doc_b"))
    }),

    // perceptual dedup DECISION: one keeper per connected component of the
    // perceptual near-dup graph (pairwise similarity is not transitive —
    // keep-smaller-of-each-pair can drop every doc of a chain, so the
    // component policy from the text family applies unchanged). Components
    // run over raster-class REPRESENTATIVES only (a class is internally
    // connected at distance 0, so a class joins a component iff its rep
    // does); the component label is the smallest rep, which IS the
    // smallest member doc_id — the keeper. One row per doc: (doc_id,
    // keeper_doc_id, cluster_size).
    "q_multimodal_perceptual_clusters" -> ((s, dir) => {
      val (clusters, repPairs) = perceptualParts(s, dir)
      val labels = Dedup.connectedComponentsLss(
        repPairs.select(col("doc_a"), col("doc_b")))
      clusters
        .join(labels.withColumnRenamed("id", "rep"), Seq("rep"), "left_outer")
        // a class with no external edge is its own component (internally
        // connected at distance 0 whatever its size — no zero-vector-style
        // null edge case exists for rasters)
        .withColumn("label", coalesce(col("label"), col("rep")))
        .withColumn("m", size(col("members")).cast("long"))
        .groupBy(col("label"))
        .agg(sum(col("m")).as("cluster_size"),
          flatten(collect_list(col("members"))).as("docs"))
        .select(col("label").as("keeper_doc_id"), col("cluster_size"),
          explode(col("docs")).as("doc_id"))
        .select(col("doc_id"), col("keeper_doc_id"), col("cluster_size"))
        .orderBy(col("doc_id"))
    }),

    // REAL codec round-trip: synthesize PNG payloads (media arrival),
    // decode with javax.imageio, feature-extract — all partition-parallel;
    // hash-green against the closed-form DuckDB oracle below
    "q_multimodal_features" -> ((s, dir) =>
      decoded(docs(s, dir), "image")(decodeImages).orderBy(col("doc_id"))),

    // audio as a first-class modality: synthesize a REAL RIFF/WAV payload
    // per doc (javax.sound.sampled encode), decode it back through the
    // same codec, and extract the features an audio-curation pipeline
    // gates on — duration geometry, silent-frame census, active-region
    // bounds (the silence-trim decision), RMS energy of the active part.
    // Same scale shape as the image path: partition-parallel
    // mapPartitions, only the fixed-width feature row crosses any
    // exchange (the presentation sort), never the waveform.
    "q_audio_features" -> ((s, dir) => {
      decoded(docs(s, dir), "audio")(decodeAudio)
        .select(col("doc_id"),
          col("n_samples").cast("long").as("n_samples"),
          col("n_frames").cast("long").as("n_frames"),
          col("n_silent").cast("long").as("n_silent"),
          col("first_active").cast("long").as("first_active"),
          col("last_active").cast("long").as("last_active"),
          col("rms_active"))
        .orderBy(col("doc_id"))
    }),

    // structural (silence-pattern) audio dedup — the audio analog of the
    // image family's perceptual class collapse: decode the REAL WAV,
    // detect silent frames from the PCM, and group clips by
    // (n_frames, silent-frame bitmask). Clips in a class share duration
    // geometry and silence structure — the trim/padding-normalized
    // duplicate gate an audio curation pipeline runs before content
    // fingerprinting. 100 TB shape: one codec scan, a 20-byte fingerprint
    // crosses the exchange (never the waveform), hash-groupBy with
    // map-side partial aggregation. The oracle regenerates the silence
    // pattern from the closed form ((doc_id + f) % 5 == 0 on
    // 4 + doc_id % 7 frames), so hash-equality proves the decoded-PCM
    // detection reproduces the generator's classes exactly.
    "q_audio_dedup" -> ((s, dir) => {
      decoded(docs(s, dir), "audio")(audioStructure)
        .groupBy(col("n_frames"), col("silent_mask"))
        .agg(min(col("doc_id")).as("keeper_doc_id"),
          count(lit(1)).as("n_copies"),
          first(col("n_silent")).as("n_silent")) // mask-determined: constant per group
        .select(col("keeper_doc_id"), col("n_copies"),
          col("n_frames").cast("long").as("n_frames"),
          col("n_silent").cast("long").as("n_silent"),
          col("silent_mask"))
        .orderBy(col("keeper_doc_id"))
    }),

    // REAL video codec round-trip — the third modality leg (r9 verdict
    // #1): synthesize a GVID container of real PNG frames per doc, decode
    // every frame back through javax.imageio, and extract the features a
    // video-curation pipeline gates on — geometry, duration, and the
    // scene-cut census computed by a pixel-diff detector over DECODED
    // frames (Σ|Δpixel| ≥ 8·w·h between consecutive frames; the
    // generator's within-scene jitter is 2, its cut step 10–14, so the
    // detector recovers the planted cut pattern exactly — hash-green vs
    // the closed-form DuckDB oracle). Same 100 TB shape as image/audio:
    // ids round-robin to full width before the codec fan-out, one codec
    // scan, only the fixed-width feature row crosses the exchange.
    "q_video_features" -> ((s, dir) => {
      decoded(docs(s, dir), "video")(decodeVideoFeatures)
        .select(col("doc_id"),
          col("n_frames").cast("long").as("n_frames"),
          col("width"), col("height"),
          col("n_cuts").cast("long").as("n_cuts"),
          col("n_scenes").cast("long").as("n_scenes"),
          col("duration_ms"), col("mean_gray_first"), col("mean_gray_last"))
        .orderBy(col("doc_id"))
    }),

    // scene segmentation: one row per detected scene (contiguous frames
    // between decoded-pixel cuts) — the sampling unit of frame-level
    // curation (one keyframe per scene). Same codec scan shape as
    // q_video_features; output is Σ scenes rows, linear in corpus.
    "q_video_scenes" -> ((s, dir) => {
      decoded(docs(s, dir), "video")(videoScenes)
        .select(col("doc_id"),
          col("scene_idx").cast("long").as("scene_idx"),
          col("start_frame").cast("long").as("start_frame"),
          col("end_frame").cast("long").as("end_frame"),
          col("n_frames").cast("long").as("n_frames"))
        .orderBy(col("doc_id"), col("scene_idx"))
    }),

    // perceptual video dedup: decode → per-frame 8×8 NN-resample → the
    // frame-raster SEQUENCE is the video fingerprint (16-byte hash) →
    // class dedup. Robust to re-encoding by construction (pixels, not
    // bytes — the BMP re-encode law in MultimodalSpec) and injective in
    // the generator parameters, so classes are exactly doc_id mod 348:
    // the oracle's closed form. 100 TB shape: one codec scan, a 16-byte
    // fingerprint + frame count cross the exchange (never frames or
    // payloads), hash-groupBy with map-side partial aggregation.
    "q_video_dedup" -> ((s, dir) => {
      decoded(docs(s, dir), "video")(videoFingerprint)
        .groupBy(col("video_fp"))
        .agg(min(col("doc_id")).as("keeper_doc_id"),
          count(lit(1)).as("n_copies"),
          first(col("n_frames")).as("nf")) // fp-determined: constant per group
        .select(col("keeper_doc_id"), col("n_copies"),
          col("nf").cast("long").as("n_frames"))
        .orderBy(col("keeper_doc_id"))
    }),

    // cross-modal benchmark decontamination, IMAGE edition (r9 verdict
    // #2): five text gates exist, but an eval-suite IMAGE in the training
    // corpus passed every one of them. Bench slice = doc_id < 50 (the
    // q_stream_decontaminate split); a training doc is contaminated when
    // its image matches a bench image EXACTLY (byte md5) or PERCEPTUALLY
    // (aHash hamming ≤ 3 AND Σ|Δpixel| ≤ 512 over the 8×8 resample — the
    // perceptual-family predicate, so a bench image re-encoded to
    // different bytes is still caught; BMP law in MultimodalSpec).
    // 100 TB shape: the bench side is an eval suite (small by nature) —
    // its fingerprints BROADCAST to the banded training side; training
    // collapses to raster classes first (the standing quotient: candidate
    // volume scales with distinct content, not copies), 4×16-bit Hamming
    // bands bucket candidates with pigeonhole-complete recall, and only
    // the 72-byte fingerprints cross any exchange. Output: one row per
    // contaminated training doc with its exact / perceptual bench-match
    // census and best hamming.
    "q_decontaminate_image" -> ((s, dir) => {
      def fps(pred: org.apache.spark.sql.Column) =
        decoded(docs(s, dir).filter(pred), "image")(imageFingerprints)
      val training = fps(col("doc_id") >= 50)
      val bench = fps(col("doc_id") < 50)
      // quotient: one row per distinct training raster class (md5 is
      // class-determined — deterministic PNG encode + raster injectivity)
      val tCls = training.groupBy(col("fp_md5"))
        .agg(first(col("p")).as("p"), first(col("ahash")).as("ahash"),
          sort_array(collect_list(col("doc_id"))).as("members"))
      val bCls = bench.groupBy(col("fp_md5"))
        .agg(first(col("p")).as("bp"), first(col("ahash")).as("bhash"),
          count(lit(1)).as("n_bench"))
        .select(col("fp_md5").as("bench_fp"), col("bp"), col("bhash"),
          col("n_bench"))
      val tBand = ahashBands(tCls, "fp_md5", "ahash")
      val bBand = ahashBands(bCls, "bench_fp", "bhash")
      val hits = tBand.join(broadcast(bBand), Seq("band_idx", "band_val"))
        .select(col("fp_md5"), col("bench_fp")).distinct()
        .join(tCls, "fp_md5")
        .join(broadcast(bCls), "bench_fp")
        .withColumn("hamming", expr("bit_count(ahash ^ bhash)").cast("long"))
        .filter(col("hamming") <= 3)
        .withColumn("pix_dist",
          aggregate(zip_with(col("p"), col("bp"), (a, b) => abs(a - b)),
            lit(0L), (acc, d) => acc + d.cast("long")))
        .filter(col("pix_dist") <= 512)
        .groupBy(col("fp_md5"), col("members"))
        .agg(sum(when(col("fp_md5") === col("bench_fp"), col("n_bench"))
            .otherwise(lit(0L))).as("n_exact"),
          sum(col("n_bench")).as("n_perceptual"),
          min(col("hamming")).as("min_hamming"))
      hits.select(explode(col("members")).as("doc_id"),
          col("n_exact"), col("n_perceptual"), col("min_hamming"))
        .orderBy(col("doc_id"))
    }),

    // cross-modal benchmark decontamination, AUDIO edition: a training
    // clip is contaminated when its silence-structure fingerprint
    // (n_frames, silent-frame bitmask — the trim/padding-normalized
    // duplicate class of q_audio_dedup) matches a bench clip's. Same
    // broadcast shape: bench structural fingerprints (20 bytes each)
    // broadcast against the training class quotient; one codec scan per
    // side, the filter below the codec fan-out.
    "q_decontaminate_audio" -> ((s, dir) => {
      def structs(pred: org.apache.spark.sql.Column) =
        decoded(docs(s, dir).filter(pred), "audio")(audioStructure)
      val training = structs(col("doc_id") >= 50)
      val bench = structs(col("doc_id") < 50)
        .groupBy(col("n_frames"), col("silent_mask"))
        .agg(count(lit(1)).as("n_bench"))
      val tCls = training.groupBy(col("n_frames"), col("silent_mask"))
        .agg(sort_array(collect_list(col("doc_id"))).as("members"))
      tCls.join(broadcast(bench), Seq("n_frames", "silent_mask"))
        .select(explode(col("members")).as("doc_id"),
          col("n_frames").cast("long").as("n_frames"),
          col("n_bench"))
        .orderBy(col("doc_id"))
    }),

    // cross-modal benchmark decontamination, VIDEO edition — the frame-
    // level gate: a training clip is contaminated when ANY of its decoded
    // frames perceptually matches a frame of a bench clip (the "embedded
    // benchmark footage" semantics — whole-clip fingerprints miss a clip
    // that splices eval frames into new material). Bench slice doc_id <
    // 50 as in the image/audio gates. 100 TB shape: the bench frame-
    // fingerprint set is eval-suite-sized and BROADCASTS; training emits
    // one 16-byte fingerprint per frame from a single codec scan, a
    // left-semi against the broadcast set filters before the per-doc
    // distinct count. Output: contaminated docs with their shared-frame
    // census.
    "q_decontaminate_video" -> ((s, dir) => {
      def frameFps(pred: org.apache.spark.sql.Column) =
        decoded(docs(s, dir).filter(pred), "video")(videoFrameFingerprints)
      val bench = frameFps(col("doc_id") < 50)
        .select(col("frame_fp")).distinct()
      frameFps(col("doc_id") >= 50)
        .join(broadcast(bench), Seq("frame_fp"), "left_semi")
        .select(col("doc_id"), col("frame_fp")).distinct()
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shared_frames"))
        .orderBy(col("doc_id"))
    }),

    // JOINT multimodal dedup: a document duplicates another if ANY of its
    // modalities matches — TEXT (exact, or near-dup jaccard ≥ 0.8), IMAGE
    // (byte-identical payload), AUDIO (silence-structure class from the
    // decoded PCM), or VIDEO (sequence fingerprint from the decoded
    // frames; r10 verdict #2 completed the matrix) — the any-modality
    // recall-first gate of a multimodal crawl, where mirrored pages keep
    // the text but re-encode the image and scraped duplicates keep the
    // media but truncate the text. Output: one row per doc with its
    // cluster representative and size, components over the union graph of
    // all four modalities.
    //
    // The 100 TB discipline is what this query exists to demonstrate:
    // modality-equality cliques are NEVER materialized (a payload shared
    // by m docs is a C(m,2) clique — quadratic in replication). Each
    // equality class instead contributes a STAR to its minimum member,
    // and components run on the MULTIPARTITE CLASS GRAPH — nodes are
    // text-class reps and per-modality class reps (all min-doc_ids),
    // edges are the distinct (text-rep, modality-rep) combos plus the
    // text near-dup rep pairs — so LSS touches Σ |distinct classes|
    // nodes, not the corpus. Per-doc labels come back through one
    // equi-join on the doc's text rep (sound: doc ~ its text rep by
    // construction, and the component min over rep nodes IS the min
    // member doc_id, since the min doc of any component is the rep of its
    // own text class). Every modality class groups by a fingerprint of
    // the REAL DECODED payload; the oracle uses the generator's closed
    // forms — image (doc_id mod 6/4/32), audio (mod 35), video (mod 348),
    // the bijections q_multimodal_dedup / MultimodalSpec pin — and the
    // near-dup edge set shares q_dedup_minhash_lsh's
    // exact-recall-on-this-corpus guarantee.
    "q_dedup_joint" -> ((s, dir) => {
      import s.implicits._
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      // ONE fused codec pass, materialized ([[ingestFingerprints]] —
      // the ingest-table factoring, applied INSIDE the query): before
      // r11 each modality frame was built by its own codec scan AND
      // self-joined with its own groupBy, so Spark executed every codec
      // scan twice — six decode passes total. The 1000× probe measured
      // the rewrite: 627.7 s → 375.1 s, sf0.1 checksum bit-identical.
      // The perceptual raster is pruned BEFORE the checkpoint (this
      // query's gates are byte-exact; materializing 64-int rasters per
      // doc would bloat the frame ~4×). [[ingestTable]]'s localCheckpoint
      // is the in-query stand-in for the persisted fingerprint table
      // (q_multimodal_ingest) a production deployment reads here.
      val fp = ingestTable(s, dir)
      val img = fp.select(col("doc_id"), col("img_fp"))
      val withImg = img
        .join(img.groupBy(col("img_fp")).agg(min(col("doc_id")).as("img_rep")),
          "img_fp")
        .select(col("doc_id"), col("img_rep"))
      val aud = fp.select(col("doc_id"),
        struct(col("audio_frames").as("n_frames"),
          col("audio_mask").as("silent_mask")).as("aud_cls"))
      val withAud = aud
        .join(aud.groupBy(col("aud_cls")).agg(min(col("doc_id")).as("aud_rep")),
          "aud_cls")
        .select(col("doc_id"), col("aud_rep"))
      val vid = fp.select(col("doc_id"), col("video_fp"))
      val withVid = vid
        .join(vid.groupBy(col("video_fp")).agg(min(col("doc_id")).as("vid_rep")),
          "video_fp")
        .select(col("doc_id"), col("vid_rep"))
      val tg = d.groupBy(col("text")).agg(min(col("doc_id")).as("gid"))
      val withGid = d.join(tg, "text").select(col("doc_id"), col("gid"))
      val mods = withGid.join(withImg, "doc_id")
        .join(withAud, "doc_id").join(withVid, "doc_id")
      val combos = mods.select(col("gid"), col("img_rep").as("mrep"))
        .unionByName(mods.select(col("gid"), col("aud_rep").as("mrep")))
        .unionByName(mods.select(col("gid"), col("vid_rep").as("mrep")))
        .distinct()
      val ndPairs = Dedup
        .minhashRepPairs(tg.select(col("gid").as("doc_id"), col("text")))
        .select(col("doc_a"), col("doc_b"))
      val edges = combos.filter(col("gid") =!= col("mrep"))
        .select(col("gid").as("doc_a"), col("mrep").as("doc_b"))
        .unionByName(ndPairs)
      val labels = Dedup.connectedComponentsLss(edges)
      // a gid absent from every edge (sole member of both its classes and
      // its own image rep) is its own singleton component
      val lab = withGid
        .join(labels.withColumnRenamed("id", "gid"), Seq("gid"), "left_outer")
        .select(col("doc_id"), coalesce(col("label"), col("gid")).as("cluster_rep"))
      lab.join(lab.groupBy(col("cluster_rep"))
          .agg(count(lit(1)).as("cluster_size")), "cluster_rep")
        .select(col("doc_id"), col("cluster_rep"), col("cluster_size"))
        .orderBy(col("doc_id"))
    }),
    // any-modality joint dedup with PERCEPTUAL image matching — the
    // full-recall multimodal gate: mirrored pages re-encode images
    // (different bytes, same pixels), so the byte-md5 edge of
    // q_dedup_joint misses them while the raster-class + Hamming-banded
    // perceptual path still pairs them. Deliberately stays on the
    // text+image axes — this query varies the IMAGE-matching semantics
    // (perceptual vs byte-exact), so the audio/video stars q_dedup_joint
    // carries would only blur the comparison. Same class-graph quotient
    // as q_dedup_joint — nodes are text reps and RASTER-class
    // reps, plus the verified perceptual rep pairs as cross-class edges
    // (pigeonhole-complete at hamming ≤ 3, so recall is deterministic).
    // The oracle closes over the all-pairs perceptual predicate, which
    // subsumes the class cliques at distance 0.
    "q_dedup_joint_perceptual" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val (pcls, pPairs) = perceptualParts(s, dir)
      val withImg = pcls.select(col("rep").as("img_rep"),
        explode(col("members")).as("doc_id"))
      val tg = d.groupBy(col("text")).agg(min(col("doc_id")).as("gid"))
      val withGid = d.join(tg, "text").select(col("doc_id"), col("gid"))
      val combos = withGid.join(withImg, "doc_id")
        .select(col("gid"), col("img_rep")).distinct()
      val ndText = Dedup
        .minhashRepPairs(tg.select(col("gid").as("doc_id"), col("text")))
        .select(col("doc_a"), col("doc_b"))
      val edges = combos.filter(col("gid") =!= col("img_rep"))
        .select(col("gid").as("doc_a"), col("img_rep").as("doc_b"))
        .unionByName(ndText)
        .unionByName(pPairs.select(col("doc_a"), col("doc_b")))
      val labels = Dedup.connectedComponentsLss(edges)
      val lab = withGid
        .join(labels.withColumnRenamed("id", "gid"), Seq("gid"), "left_outer")
        .select(col("doc_id"), coalesce(col("label"), col("gid")).as("cluster_rep"))
      lab.join(lab.groupBy(col("cluster_rep"))
          .agg(count(lit(1)).as("cluster_size")), "cluster_rep")
        .select(col("doc_id"), col("cluster_rep"), col("cluster_size"))
        .orderBy(col("doc_id"))
    }),

    // incremental JOINT multimodal admission (r9 verdict #3): a new batch
    // (doc_id % 10 == 0, the standing incremental split) is admitted
    // against the PERSISTED joint-class index of the store corpus — the
    // production ingest gate, where a doc is rejected iff it has a direct
    // joint edge to the store: exact text match, text near-dup
    // (jaccard ≥ 0.8), byte-identical image, matching audio silence
    // structure, or matching video sequence fingerprint (r10 verdict #2
    // completed the modality matrix). Emits the full admission record
    // (one row per batch doc, per-gate flags), the
    // q_dedup_minhash_incremental contract lifted to the multipartite
    // class index of q_dedup_joint.
    //
    // 100 TB shape: every probe runs against a CLASS index, never rows —
    // exact text via left-semi against distinct store texts, near-dup via
    // batch-quotient × store-quotient band equi-join (batch×store only,
    // never store×store — the incremental contract), image/audio/video
    // via left-semi on fixed-width fingerprint class indexes; one codec
    // scan per modality per side with the split filter below the codec
    // fan-out.
    "q_dedup_joint_incremental" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val batch = d.filter(col("doc_id") % 10 === 0)
      val store = d.filter(col("doc_id") % 10 =!= 0)
      // gates 3–5: image byte identity, audio silence structure, video
      // sequence fingerprint — each side's three fingerprints from ONE
      // fused codec pass ([[ingestFingerprints]]), materialized because
      // three gate branches consume it (without the checkpoint each
      // branch would re-run the fused scan and the rewrite would TRIPLE
      // the codec work instead of thirding it). Honest 1000× A/B: the
      // six per-side scans measured 333.4 s, the two fused frames
      // 346.3 s — a WASH, because each old scan already ran once per
      // modality per side (codec work is conserved) and the checkpoint
      // materialization offsets the saved scan overhead. The fused form
      // is kept for the architecture, not a local win: in production
      // these two frames are reads of the persisted ingest fingerprint
      // table (q_multimodal_ingest), split by arrival — zero codec work
      // at admission time. Raster pruned pre-checkpoint (exact gates).
      val bFp = ingestTable(s, dir, col("doc_id") % 10 === 0)
      val sFp = ingestTable(s, dir, col("doc_id") % 10 =!= 0)
      admissionRecord(batch, textGates(batch, store) ++
        Seq("image_exact" -> semiGate(bFp, sFp, col("img_fp"))) ++
        audioVideoGates(bFp, sFp))
    }),

    // incremental joint admission with a PERCEPTUAL image gate — the
    // recall-complete form of q_dedup_joint_incremental: a mirrored-page
    // arrival re-encodes its image (different bytes, same pixels), so the
    // byte-md5 gate admits it; the raster-class + Hamming-banded
    // perceptual gate still rejects. Adds the `image_perceptual` flag
    // (⊇ image_exact, distance-0 included). 100 TB shape: both sides
    // collapse to raster classes before the 4×16-bit Hamming band
    // equi-join (batch classes × store classes only — never store ×
    // store), exact (hamming, Σ|Δpixel|) verify on candidates; the other
    // gates are q_dedup_joint_incremental's, unchanged.
    "q_dedup_joint_incremental_perceptual" -> ((s, dir) => {
      import s.implicits._
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val batch = d.filter(col("doc_id") % 10 === 0)
      val store = d.filter(col("doc_id") % 10 =!= 0)
      // ALL codec gates share ONE fused scan per side, materialized
      // ([[ingestFingerprints]] — the r11 factoring): the image frame
      // alone has three consumers (exact semi-join, raster classes,
      // perceptual hit check), so without the checkpoint every consumer
      // re-ran its codec scan. In production these frames are reads of
      // the persisted ingest fingerprint table, split by arrival.
      def fusedFps(pred: org.apache.spark.sql.Column) =
        docIds(docs(s, dir).filter(pred))
          .mapPartitions(ingestFingerprints).toDF().localCheckpoint()
      val bFp = fusedFps(col("doc_id") % 10 === 0)
      val sFp = fusedFps(col("doc_id") % 10 =!= 0)
      // perceptual: batch raster classes × store raster classes via
      // Hamming bands (pigeonhole-complete at hamming ≤ 3)
      def rasterCls(fp: DataFrame) = fp
        .groupBy(col("img_fp")) // md5 ⟺ raster class (pinned injectivity)
        .agg(first(col("img_raster")).as("p"), first(col("img_ahash")).as("ahash"))
      val bRc = rasterCls(bFp)
      val sRc = rasterCls(sFp)
      val percTrainClasses = ahashBands(bRc, "img_fp", "ahash")
        .join(ahashBands(sRc.withColumnRenamed("img_fp", "s_fp"), "s_fp", "ahash"),
          Seq("band_idx", "band_val"))
        .select(col("img_fp"), col("s_fp")).distinct()
        .join(bRc.select(col("img_fp"), col("p").as("bp"), col("ahash").as("bh")), "img_fp")
        .join(sRc.select(col("img_fp").as("s_fp"), col("p").as("sp"),
          col("ahash").as("sh")), "s_fp")
        .filter(expr("bit_count(bh ^ sh)") <= 3)
        .withColumn("pix_dist",
          aggregate(zip_with(col("bp"), col("sp"), (a, b) => abs(a - b)),
            lit(0L), (acc, x) => acc + x.cast("long")))
        .filter(col("pix_dist") <= 512)
        .select(col("img_fp")).distinct()
      val percHits = bFp
        .join(percTrainClasses, Seq("img_fp"), "left_semi")
        .select(col("doc_id"), lit(true).as("image_perceptual"))
      // the perceptual form keeps the full gate superset, so the "only
      // ever rejects more" monotonicity law stays structural
      admissionRecord(batch, textGates(batch, store) ++
        Seq("image_exact" -> semiGate(bFp, sFp, col("img_fp")),
          "image_perceptual" -> percHits) ++
        audioVideoGates(bFp, sFp))
    }),

    // STRICT-form joint dedup: a duplicate must match on BOTH modalities —
    // near-dup text (exact, or jaccard ≥ 0.8) AND byte-identical image —
    // the "same article with the same picture" semantics of syndication
    // tracking, next to q_dedup_joint's any-modality recall gate.
    //
    // The scale lesson is the inverse of the disjunction's: a CONJUNCTION
    // constraint makes LSH banding CHEAPER, not costlier — the image
    // fingerprint joins the band key (img_fp, band_idx, band_hash), so
    // candidates only ever form inside an image class and the hottest
    // text band splits across image classes. Quotient unit = the joint
    // (text, image) class; one row per distinct combination is banded and
    // verified, components run on the joint-class graph, and per-doc
    // labels come back through the class equi-join. Conjunction semantics
    // fall out structurally: same text under different images lands in
    // different joint classes and can never band together.
    "q_dedup_joint_both" -> ((s, dir) => {
      import graft.functions.Sketches
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val img = decoded(docs(s, dir), "image")(identity)
        .select(col("doc_id"), md5(col("payload")).as("img_fp"))
      val cls = d.join(img, "doc_id")
        .groupBy(col("text"), col("img_fp"))
        .agg(min(col("doc_id")).as("jid"))
      val reps = cls.select(col("jid").as("doc_id"), col("text"), col("img_fp"))
      val pairs = Dedup
        .bucketPairs(Dedup.minhashBands(reps, "text", Seq("doc_id", "img_fp")),
          Seq("img_fp", "band_idx", "band_hash"))
        .join(reps.select(col("doc_id").as("doc_a"), col("text").as("text_a")), "doc_a")
        .join(reps.select(col("doc_id").as("doc_b"), col("text").as("text_b")), "doc_b")
        .filter(Sketches.jaccardShingles(col("text_a"), col("text_b"), 3) >= 0.8)
        .select(col("doc_a"), col("doc_b"))
      val labels = Dedup.connectedComponentsLss(pairs)
      val lab = d.join(img, "doc_id").join(cls, Seq("text", "img_fp"))
        .join(labels.withColumnRenamed("id", "jid"), Seq("jid"), "left_outer")
        .select(col("doc_id"), coalesce(col("label"), col("jid")).as("cluster_rep"))
      lab.join(lab.groupBy(col("cluster_rep"))
          .agg(count(lit(1)).as("cluster_size")), "cluster_rep")
        .select(col("doc_id"), col("cluster_rep"), col("cluster_size"))
        .orderBy(col("doc_id"))
    }),
  )

  /** The perceptual near-dup pair predicate over closed-form pixels
    * (hamming ≤ 3 on the 8×8-resample average-hash AND Σ|Δpixel| ≤ 512),
    * evaluated all-pairs — ground truth only the ORACLE may afford.
    * Emits (doc_a, doc_b, hamming, pix_dist); same-raster pairs pass at
    * distance 0, so this pair set subsumes the raster-class cliques.
    * Shared by q_multimodal_perceptual and the joint-perceptual closure. */
  private val perceptualPairsSql: String =
    """WITH d AS (SELECT doc_id,
      |             2*((doc_id % 6) + 2) AS w,
      |             2*((doc_id % 4) + 2) AS h,
      |             doc_id % 32 AS base
      |           FROM documents),
      |r AS (SELECT doc_id,
      |        list_transform(range(0, 64), i ->
      |          base + 7 * (((i % 8) * w) // 8)
      |               + 13 * (((i // 8) * h) // 8)) AS p
      |      FROM d),
      |s AS (SELECT doc_id, p, list_sum(p) AS sp FROM r),
      |pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |         list_sum(list_transform(range(0, 64), i ->
      |           CASE WHEN (64*a.p[i+1] > a.sp) <> (64*b.p[i+1] > b.sp)
      |                THEN 1 ELSE 0 END)) AS hamming,
      |         list_sum(list_transform(range(0, 64), i ->
      |           abs(a.p[i+1] - b.p[i+1]))) AS pix_dist
      |       FROM s a JOIN s b ON a.doc_id < b.doc_id)
      |SELECT doc_a, doc_b, CAST(hamming AS BIGINT) AS hamming,
      |       CAST(pix_dist AS BIGINT) AS pix_dist
      |FROM pr WHERE hamming <= 3 AND pix_dist <= 512""".stripMargin

  /** q_multimodal_dedup's oracle, shared by its streaming twin. */
  private[graft] val imageClassesSql: String =
    """SELECT CAST(min(doc_id) AS BIGINT) AS keeper_doc_id,
      |       CAST(count(*) AS BIGINT) AS n_copies
      |FROM documents
      |GROUP BY doc_id % 6, doc_id % 4, doc_id % 32
      |ORDER BY keeper_doc_id""".stripMargin

  val oracle: Map[String, String] = Map(
    // the generator's silence-structure classes in closed form: frame f of
    // doc_id is silent iff (doc_id + f) % 5 == 0, over 4 + doc_id % 7
    // frames — the engine must reproduce them from the decoded PCM
    "q_audio_dedup" ->
      """WITH d AS (SELECT doc_id, 4 + (doc_id % 7) AS nf FROM documents),
        |fz AS (SELECT doc_id, nf, r.f,
        |         CASE WHEN (doc_id + r.f) % 5 = 0 THEN 1 ELSE 0 END AS s
        |       FROM d, unnest(range(0, nf)) AS r(f)),
        |m AS (SELECT doc_id, nf,
        |        CAST(SUM(s * (CAST(1 AS BIGINT) << f)) AS BIGINT) AS mask,
        |        CAST(SUM(s) AS BIGINT) AS n_silent
        |      FROM fz GROUP BY doc_id, nf)
        |SELECT CAST(MIN(doc_id) AS BIGINT) AS keeper_doc_id,
        |       CAST(COUNT(*) AS BIGINT) AS n_copies,
        |       CAST(nf AS BIGINT) AS n_frames, n_silent,
        |       mask AS silent_mask
        |FROM m GROUP BY nf, mask, n_silent
        |ORDER BY keeper_doc_id""".stripMargin,
    // ground-truth components over PER-DOC edges (the oracle may build the
    // corpus-sized graph; the engine must not): text-identity stars,
    // image-class stars via the generator's doc_id mod 6/4/32 classes
    // (== md5-of-real-bytes classes, pinned by q_multimodal_dedup), and
    // the exact all-pairs near-dup set
    "q_dedup_joint" ->
      s"""WITH RECURSIVE
         |tg AS (SELECT doc_id,
         |         MIN(doc_id) OVER (PARTITION BY text) AS tmin,
         |         MIN(doc_id) OVER (PARTITION BY doc_id % 6, doc_id % 4,
         |                           doc_id % 32) AS imin,
         |         MIN(doc_id) OVER (PARTITION BY doc_id % 35) AS amin,
         |         MIN(doc_id) OVER (PARTITION BY doc_id % 348) AS vmin
         |       FROM documents),
         |nd AS (SELECT doc_a, doc_b FROM (${Dedup.exactPairsSql})
         |       WHERE jaccard >= 0.8),
         |e0 AS (SELECT doc_id AS a, tmin AS b FROM tg WHERE doc_id <> tmin
         |       UNION SELECT doc_id, imin FROM tg WHERE doc_id <> imin
         |       UNION SELECT doc_id, amin FROM tg WHERE doc_id <> amin
         |       UNION SELECT doc_id, vmin FROM tg WHERE doc_id <> vmin
         |       UNION SELECT doc_a, doc_b FROM nd),
         |e AS (SELECT a, b FROM e0 UNION SELECT b AS a, a AS b FROM e0),
         |reach AS (
         |  SELECT doc_id AS id, doc_id AS x FROM documents
         |  UNION
         |  SELECT r.id, e.b AS x FROM reach r JOIN e ON r.x = e.a
         |)
         |SELECT id AS doc_id, CAST(MIN(x) AS BIGINT) AS cluster_rep,
         |  CAST(COUNT(DISTINCT x) AS BIGINT) AS cluster_size
         |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin,
    // any-modality-with-perceptual ground truth: text stars + text
    // near-dup pairs + the all-pairs perceptual predicate (subsumes
    // raster-class cliques at distance 0)
    "q_dedup_joint_perceptual" ->
      s"""WITH RECURSIVE
         |tg AS (SELECT doc_id, MIN(doc_id) OVER (PARTITION BY text) AS tmin
         |       FROM documents),
         |ndt AS (SELECT doc_a, doc_b FROM (${Dedup.exactPairsSql})
         |        WHERE jaccard >= 0.8),
         |ndi AS (SELECT doc_a, doc_b FROM ($perceptualPairsSql)),
         |e0 AS (SELECT doc_id AS a, tmin AS b FROM tg WHERE doc_id <> tmin
         |       UNION SELECT doc_a, doc_b FROM ndt
         |       UNION SELECT doc_a, doc_b FROM ndi),
         |e AS (SELECT a, b FROM e0 UNION SELECT b AS a, a AS b FROM e0),
         |reach AS (
         |  SELECT doc_id AS id, doc_id AS x FROM documents
         |  UNION
         |  SELECT r.id, e.b AS x FROM reach r JOIN e ON r.x = e.a
         |)
         |SELECT id AS doc_id, CAST(MIN(x) AS BIGINT) AS cluster_rep,
         |  CAST(COUNT(DISTINCT x) AS BIGINT) AS cluster_size
         |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin,
    // strict-form ground truth: joint-class stars (text AND image class,
    // image class = doc_id mod 96 ⟺ the mod-6/4/32 triple, lcm = 96) plus
    // the near-dup pair set RESTRICTED to equal image classes
    "q_dedup_joint_both" ->
      s"""WITH RECURSIVE
         |cls AS (SELECT doc_id,
         |          MIN(doc_id) OVER (PARTITION BY text, doc_id % 96) AS jmin
         |        FROM documents),
         |nd AS (SELECT doc_a, doc_b FROM (${Dedup.exactPairsSql})
         |       WHERE jaccard >= 0.8 AND doc_a % 96 = doc_b % 96),
         |e0 AS (SELECT doc_id AS a, jmin AS b FROM cls WHERE doc_id <> jmin
         |       UNION SELECT doc_a, doc_b FROM nd),
         |e AS (SELECT a, b FROM e0 UNION SELECT b AS a, a AS b FROM e0),
         |reach AS (
         |  SELECT doc_id AS id, doc_id AS x FROM documents
         |  UNION
         |  SELECT r.id, e.b AS x FROM reach r JOIN e ON r.x = e.a
         |)
         |SELECT id AS doc_id, CAST(MIN(x) AS BIGINT) AS cluster_rep,
         |  CAST(COUNT(DISTINCT x) AS BIGINT) AS cluster_size
         |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin,
    // regenerates the PCM closed-form per doc — valid because WAV PCM
    // round-trips losslessly (MultimodalSpec pins sample-exactness)
    "q_audio_features" ->
      """WITH d AS (SELECT doc_id, 1024 + (doc_id % 7) * 256 AS n
        |           FROM documents),
        |t AS (SELECT doc_id, n, r.t, r.t // 256 AS f
        |      FROM d, unnest(range(0, n)) AS r(t)),
        |s AS (SELECT doc_id, n, f,
        |        CASE WHEN (doc_id + f) % 5 = 0 THEN 0
        |             ELSE (doc_id * 31 + t * 17) % 4096 - 2048 END AS v
        |      FROM t),
        |fr AS (SELECT doc_id, n, f, max(abs(v)) AS mx, SUM(v * v) AS ssq
        |       FROM s GROUP BY doc_id, n, f),
        |a AS (SELECT doc_id, n,
        |        CAST(COUNT(*) AS BIGINT) AS n_frames,
        |        CAST(SUM(CASE WHEN mx = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |          AS n_silent,
        |        CAST(MIN(CASE WHEN mx > 0 THEN f END) AS BIGINT)
        |          AS first_active,
        |        CAST(MAX(CASE WHEN mx > 0 THEN f END) AS BIGINT)
        |          AS last_active,
        |        round(sqrt(CAST(SUM(CASE WHEN mx > 0 THEN ssq ELSE 0 END)
        |            AS DOUBLE)
        |          / (256 * SUM(CASE WHEN mx > 0 THEN 1 ELSE 0 END))), 6)
        |          AS rms_active
        |      FROM fr GROUP BY doc_id, n)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_samples, n_frames, n_silent,
        |  first_active, last_active, rms_active
        |FROM a ORDER BY doc_id""".stripMargin,
    // incremental joint admission ground truth: per-gate direct-edge
    // predicates batch × store (exact text, shingle-jaccard ≥ 0.8 text
    // near-dup, image class = doc_id mod 96, audio class = mod 35, video
    // class = mod 348 — the decoded-fingerprint bijections
    // q_multimodal_dedup / MultimodalSpec pin); admission = no gate fires
    "q_dedup_joint_incremental" ->
      """WITH t AS (SELECT doc_id, text FROM documents),
        |b AS (SELECT * FROM t WHERE doc_id % 10 = 0),
        |c AS (SELECT * FROM t WHERE doc_id % 10 <> 0),
        |ex AS (SELECT DISTINCT b.doc_id FROM b JOIN c ON b.text = c.text),
        |w AS (SELECT doc_id, string_split(text, ' ') AS w FROM t),
        |sg AS (SELECT doc_id,
        |         list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |                        for i in range(1, len(w)-1)]) AS sh
        |       FROM w WHERE len(w) >= 3),
        |nd AS (SELECT DISTINCT bs.doc_id
        |       FROM (SELECT * FROM sg WHERE doc_id % 10 = 0) bs,
        |            (SELECT * FROM sg WHERE doc_id % 10 <> 0) cs
        |       WHERE CAST(len(list_intersect(bs.sh, cs.sh)) AS DOUBLE)
        |             / len(list_distinct(list_concat(bs.sh, cs.sh))) >= 0.8),
        |im AS (SELECT DISTINCT b2.doc_id
        |       FROM (SELECT doc_id, doc_id % 96 AS icls FROM documents
        |             WHERE doc_id % 10 = 0) b2
        |       JOIN (SELECT DISTINCT doc_id % 96 AS icls FROM documents
        |             WHERE doc_id % 10 <> 0) c2 USING (icls)),
        |au AS (SELECT DISTINCT b3.doc_id
        |       FROM (SELECT doc_id, doc_id % 35 AS acls FROM documents
        |             WHERE doc_id % 10 = 0) b3
        |       JOIN (SELECT DISTINCT doc_id % 35 AS acls FROM documents
        |             WHERE doc_id % 10 <> 0) c3 USING (acls)),
        |vi AS (SELECT DISTINCT b4.doc_id
        |       FROM (SELECT doc_id, doc_id % 348 AS vcls FROM documents
        |             WHERE doc_id % 10 = 0) b4
        |       JOIN (SELECT DISTINCT doc_id % 348 AS vcls FROM documents
        |             WHERE doc_id % 10 <> 0) c4 USING (vcls))
        |SELECT b.doc_id,
        |  (ex.doc_id IS NULL AND nd.doc_id IS NULL AND im.doc_id IS NULL
        |   AND au.doc_id IS NULL AND vi.doc_id IS NULL) AS admitted,
        |  ex.doc_id IS NOT NULL AS text_exact,
        |  nd.doc_id IS NOT NULL AS text_neardup,
        |  im.doc_id IS NOT NULL AS image_exact,
        |  au.doc_id IS NOT NULL AS audio_struct,
        |  vi.doc_id IS NOT NULL AS video_seq
        |FROM b
        |LEFT JOIN ex ON ex.doc_id = b.doc_id
        |LEFT JOIN nd ON nd.doc_id = b.doc_id
        |LEFT JOIN im ON im.doc_id = b.doc_id
        |LEFT JOIN au ON au.doc_id = b.doc_id
        |LEFT JOIN vi ON vi.doc_id = b.doc_id
        |ORDER BY b.doc_id""".stripMargin,
    // perceptual joint admission ground truth: the perceptual predicate
    // evaluated on the 96 closed-form IMAGE CLASSES (doc_id mod 96 —
    // raster injectivity makes class-level evaluation exact), then joined
    // back to docs; the other gates are q_dedup_joint_incremental's
    "q_dedup_joint_incremental_perceptual" ->
      """WITH t AS (SELECT doc_id, text FROM documents),
        |b AS (SELECT * FROM t WHERE doc_id % 10 = 0),
        |c AS (SELECT * FROM t WHERE doc_id % 10 <> 0),
        |ex AS (SELECT DISTINCT b.doc_id FROM b JOIN c ON b.text = c.text),
        |w AS (SELECT doc_id, string_split(text, ' ') AS w FROM t),
        |sg AS (SELECT doc_id,
        |         list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |                        for i in range(1, len(w)-1)]) AS sh
        |       FROM w WHERE len(w) >= 3),
        |nd AS (SELECT DISTINCT bs.doc_id
        |       FROM (SELECT * FROM sg WHERE doc_id % 10 = 0) bs,
        |            (SELECT * FROM sg WHERE doc_id % 10 <> 0) cs
        |       WHERE CAST(len(list_intersect(bs.sh, cs.sh)) AS DOUBLE)
        |             / len(list_distinct(list_concat(bs.sh, cs.sh))) >= 0.8),
        |im AS (SELECT DISTINCT b2.doc_id
        |       FROM (SELECT doc_id, doc_id % 96 AS icls FROM documents
        |             WHERE doc_id % 10 = 0) b2
        |       JOIN (SELECT DISTINCT doc_id % 96 AS icls FROM documents
        |             WHERE doc_id % 10 <> 0) c2 USING (icls)),
        |cl AS (SELECT c96.c AS icls,
        |         2*((c96.c % 6) + 2) AS w, 2*((c96.c % 4) + 2) AS h,
        |         c96.c % 32 AS base
        |       FROM (SELECT unnest(range(0, 96)) AS c) c96),
        |r AS (SELECT icls, list_transform(range(0, 64), i ->
        |        base + 7 * (((i % 8) * w) // 8)
        |             + 13 * (((i // 8) * h) // 8)) AS p
        |      FROM cl),
        |s AS (SELECT icls, p, list_sum(p) AS sp FROM r),
        |pm AS (SELECT a.icls AS ca, bb.icls AS cb FROM s a, s bb
        |       WHERE list_sum(list_transform(range(0, 64), i ->
        |               CASE WHEN (64*a.p[i+1] > a.sp) <> (64*bb.p[i+1] > bb.sp)
        |                    THEN 1 ELSE 0 END)) <= 3
        |         AND list_sum(list_transform(range(0, 64), i ->
        |               abs(a.p[i+1] - bb.p[i+1]))) <= 512),
        |imp AS (SELECT DISTINCT b3.doc_id
        |        FROM (SELECT doc_id, doc_id % 96 AS icls FROM documents
        |              WHERE doc_id % 10 = 0) b3
        |        JOIN pm ON pm.ca = b3.icls
        |        JOIN (SELECT DISTINCT doc_id % 96 AS icls FROM documents
        |              WHERE doc_id % 10 <> 0) c3 ON c3.icls = pm.cb),
        |au AS (SELECT DISTINCT b4.doc_id
        |       FROM (SELECT doc_id, doc_id % 35 AS acls FROM documents
        |             WHERE doc_id % 10 = 0) b4
        |       JOIN (SELECT DISTINCT doc_id % 35 AS acls FROM documents
        |             WHERE doc_id % 10 <> 0) c4 USING (acls)),
        |vi AS (SELECT DISTINCT b5.doc_id
        |       FROM (SELECT doc_id, doc_id % 348 AS vcls FROM documents
        |             WHERE doc_id % 10 = 0) b5
        |       JOIN (SELECT DISTINCT doc_id % 348 AS vcls FROM documents
        |             WHERE doc_id % 10 <> 0) c5 USING (vcls))
        |SELECT b.doc_id,
        |  (ex.doc_id IS NULL AND nd.doc_id IS NULL AND im.doc_id IS NULL
        |   AND imp.doc_id IS NULL AND au.doc_id IS NULL
        |   AND vi.doc_id IS NULL) AS admitted,
        |  ex.doc_id IS NOT NULL AS text_exact,
        |  nd.doc_id IS NOT NULL AS text_neardup,
        |  im.doc_id IS NOT NULL AS image_exact,
        |  imp.doc_id IS NOT NULL AS image_perceptual,
        |  au.doc_id IS NOT NULL AS audio_struct,
        |  vi.doc_id IS NOT NULL AS video_seq
        |FROM b
        |LEFT JOIN ex ON ex.doc_id = b.doc_id
        |LEFT JOIN nd ON nd.doc_id = b.doc_id
        |LEFT JOIN im ON im.doc_id = b.doc_id
        |LEFT JOIN imp ON imp.doc_id = b.doc_id
        |LEFT JOIN au ON au.doc_id = b.doc_id
        |LEFT JOIN vi ON vi.doc_id = b.doc_id
        |ORDER BY b.doc_id""".stripMargin,
    // cross-modal image decontamination ground truth: the perceptual
    // predicate over closed-form pixels, evaluated all-pairs training ×
    // bench (only the ORACLE may); exact ⟺ pix_dist = 0 ⟺ byte-identical
    // (raster injectivity + deterministic PNG encode)
    "q_decontaminate_image" ->
      """WITH d AS (SELECT doc_id,
        |             2*((doc_id % 6) + 2) AS w,
        |             2*((doc_id % 4) + 2) AS h,
        |             doc_id % 32 AS base
        |           FROM documents),
        |r AS (SELECT doc_id,
        |        list_transform(range(0, 64), i ->
        |          base + 7 * (((i % 8) * w) // 8)
        |               + 13 * (((i // 8) * h) // 8)) AS p
        |      FROM d),
        |s AS (SELECT doc_id, p, list_sum(p) AS sp FROM r),
        |pr AS (SELECT t.doc_id AS doc_id,
        |         list_sum(list_transform(range(0, 64), i ->
        |           CASE WHEN (64*t.p[i+1] > t.sp) <> (64*b.p[i+1] > b.sp)
        |                THEN 1 ELSE 0 END)) AS hamming,
        |         list_sum(list_transform(range(0, 64), i ->
        |           abs(t.p[i+1] - b.p[i+1]))) AS pix_dist
        |       FROM (SELECT * FROM s WHERE doc_id >= 50) t,
        |            (SELECT * FROM s WHERE doc_id < 50) b),
        |q AS (SELECT doc_id,
        |        SUM(CASE WHEN pix_dist = 0 THEN 1 ELSE 0 END) AS n_exact,
        |        COUNT(*) AS n_perceptual,
        |        MIN(hamming) AS min_hamming
        |      FROM pr WHERE hamming <= 3 AND pix_dist <= 512
        |      GROUP BY doc_id)
        |SELECT doc_id, CAST(n_exact AS BIGINT) AS n_exact,
        |  CAST(n_perceptual AS BIGINT) AS n_perceptual,
        |  CAST(min_hamming AS BIGINT) AS min_hamming
        |FROM q ORDER BY doc_id""".stripMargin,
    // audio decontamination ground truth: silence-structure classes ⟺
    // doc_id mod 35 (the q_stream_audio_dedup bijection)
    "q_decontaminate_audio" ->
      """WITH b AS (SELECT doc_id % 35 AS cls, COUNT(*) AS n_bench
        |           FROM documents WHERE doc_id < 50 GROUP BY 1)
        |SELECT d.doc_id, CAST(4 + (d.doc_id % 7) AS BIGINT) AS n_frames,
        |       CAST(b.n_bench AS BIGINT) AS n_bench
        |FROM documents d JOIN b ON d.doc_id % 35 = b.cls
        |WHERE d.doc_id >= 50 ORDER BY d.doc_id""".stripMargin,
    // closed forms of the decoded video features: nf = 3 + d%6; frame f
    // (f ≥ 1) is a cut iff (d+f)%3 = 0; base_f = d%29 + 12·(cuts≤f % 2) +
    // 2·(f%2); frame mean = base_f + 7(w−1)/2 + 13(h−1)/2 (dyadic, so
    // double-exact in both engines). The engine must recover n_cuts from
    // DECODED pixels; the oracle regenerates the plant.
    "q_video_features" ->
      """WITH d AS (SELECT doc_id, 3 + (doc_id % 6) AS nf,
        |             2*((doc_id % 6) + 2) AS w, 2*((doc_id % 4) + 2) AS h,
        |             doc_id % 29 AS b0
        |           FROM documents),
        |c AS (SELECT doc_id, nf, w, h, b0,
        |        CAST(len(list_filter(range(1, nf),
        |               f -> (doc_id + f) % 3 = 0)) AS BIGINT) AS n_cuts
        |      FROM d)
        |SELECT doc_id, CAST(nf AS BIGINT) AS n_frames,
        |  CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
        |  n_cuts, n_cuts + 1 AS n_scenes,
        |  CAST(nf * 40 AS BIGINT) AS duration_ms,
        |  CAST(b0 + 7*(w-1)/2.0 + 13*(h-1)/2.0 AS DOUBLE) AS mean_gray_first,
        |  CAST(b0 + 12*(n_cuts % 2) + 2*((nf-1) % 2)
        |       + 7*(w-1)/2.0 + 13*(h-1)/2.0 AS DOUBLE) AS mean_gray_last
        |FROM c ORDER BY doc_id""".stripMargin,
    // video decontamination ground truth: frame fingerprint ⟺ the
    // (w, h, base_f) tuple (raster injectivity), so shared frames reduce
    // to tuple joins over the closed-form frame parameters
    "q_decontaminate_video" ->
      """WITH d AS (SELECT doc_id, 3 + (doc_id % 6) AS nf,
        |             2*((doc_id % 6) + 2) AS w, 2*((doc_id % 4) + 2) AS h
        |           FROM documents),
        |fr AS (SELECT doc_id, w, h,
        |         (doc_id % 29)
        |         + 12 * (CAST(len(list_filter(range(1, r.f + 1),
        |                  g -> (doc_id + g) % 3 = 0)) AS BIGINT) % 2)
        |         + 2 * (r.f % 2) AS base
        |       FROM d, unnest(range(0, nf)) AS r(f)),
        |b AS (SELECT DISTINCT w, h, base FROM fr WHERE doc_id < 50),
        |t AS (SELECT DISTINCT doc_id, w, h, base FROM fr WHERE doc_id >= 50)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared_frames
        |FROM t JOIN b USING (w, h, base)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // scene segmentation closed form: frame f's scene index = number of
    // planted cuts in 1..f; the engine must recover it from decoded pixels
    "q_video_scenes" ->
      """WITH d AS (SELECT doc_id, 3 + (doc_id % 6) AS nf FROM documents),
        |fr AS (SELECT doc_id, nf, r.f,
        |         CAST(len(list_filter(range(1, r.f + 1),
        |                g -> (doc_id + g) % 3 = 0)) AS BIGINT) AS scene_idx
        |       FROM d, unnest(range(0, nf)) AS r(f))
        |SELECT doc_id, scene_idx,
        |  CAST(MIN(f) AS BIGINT) AS start_frame,
        |  CAST(MAX(f) AS BIGINT) AS end_frame,
        |  CAST(COUNT(*) AS BIGINT) AS n_frames
        |FROM fr GROUP BY doc_id, scene_idx
        |ORDER BY doc_id, scene_idx""".stripMargin,
    // the generator's video-equivalence classes: the clip is a pure
    // function of (d%6, d%4, d%29, d%3) and the fingerprint recovers each
    // factor (injectivity argued at videoFingerprint, pinned in
    // MultimodalSpec), so classes ⟺ doc_id mod lcm(6,4,29,3) = 348
    "q_video_dedup" ->
      """SELECT CAST(min(doc_id) AS BIGINT) AS keeper_doc_id,
        |       CAST(count(*) AS BIGINT) AS n_copies,
        |       CAST(3 + min(doc_id % 6) AS BIGINT) AS n_frames
        |FROM documents
        |GROUP BY doc_id % 348
        |ORDER BY keeper_doc_id""".stripMargin,
    // the generator's content-equivalence classes: the PNG payload is a
    // pure function of (doc_id%6, doc_id%4, doc_id%32); Spark's md5-of-
    // real-bytes grouping must reproduce them exactly
    "q_multimodal_dedup" -> imageClassesSql,
    // the three class bijections at once (img ⟺ mod 96 via the
    // (d%6, d%4, d%32) pattern params, audio ⟺ mod 35, video ⟺ mod 348)
    "q_multimodal_ingest" ->
      """WITH i AS (SELECT doc_id % 96 AS c, CAST(MIN(doc_id) AS BIGINT) AS k,
        |             CAST(COUNT(*) AS BIGINT) AS n FROM documents GROUP BY 1),
        |a AS (SELECT doc_id % 35 AS c, CAST(MIN(doc_id) AS BIGINT) AS k,
        |        CAST(COUNT(*) AS BIGINT) AS n FROM documents GROUP BY 1),
        |v AS (SELECT doc_id % 348 AS c, CAST(MIN(doc_id) AS BIGINT) AS k,
        |        CAST(COUNT(*) AS BIGINT) AS n FROM documents GROUP BY 1)
        |SELECT d.doc_id,
        |  i.k AS img_keeper, i.n AS img_copies,
        |  a.k AS audio_keeper, a.n AS audio_copies,
        |  v.k AS video_keeper, v.n AS video_copies
        |FROM documents d
        |JOIN i ON d.doc_id % 96 = i.c
        |JOIN a ON d.doc_id % 35 = a.c
        |JOIN v ON d.doc_id % 348 = v.c
        |ORDER BY d.doc_id""".stripMargin,
    // the perceptual predicate over closed-form pixels: the 8×8
    // NN-resample of gray(x,y) = base + 7x + 13y samples source pixel
    // ((i%8)·w/8, (i/8)·h/8); aHash bit i is the integer form
    // 64·p[i] > Σp; pairs qualify at hamming ≤ 3 AND Σ|Δp| ≤ 512. The
    // oracle may go all-pairs (ground truth); the engine must not.
    "q_multimodal_perceptual" ->
      s"""SELECT doc_a, doc_b, hamming, pix_dist FROM ($perceptualPairsSql)
         |ORDER BY doc_a, doc_b""".stripMargin,
    // the dedup decision: recursive closure of the perceptual pair graph,
    // keeper = min doc_id per component, one row per doc
    "q_multimodal_perceptual_clusters" ->
      """WITH RECURSIVE d AS (SELECT doc_id,
        |             2*((doc_id % 6) + 2) AS w,
        |             2*((doc_id % 4) + 2) AS h,
        |             doc_id % 32 AS base
        |           FROM documents),
        |r AS (SELECT doc_id,
        |        list_transform(range(0, 64), i ->
        |          base + 7 * (((i % 8) * w) // 8)
        |               + 13 * (((i // 8) * h) // 8)) AS p
        |      FROM d),
        |s AS (SELECT doc_id, p, list_sum(p) AS sp FROM r),
        |pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |         list_sum(list_transform(range(0, 64), i ->
        |           CASE WHEN (64*a.p[i+1] > a.sp) <> (64*b.p[i+1] > b.sp)
        |                THEN 1 ELSE 0 END)) AS hamming,
        |         list_sum(list_transform(range(0, 64), i ->
        |           abs(a.p[i+1] - b.p[i+1]))) AS pix_dist
        |       FROM s a JOIN s b ON a.doc_id < b.doc_id),
        |q AS (SELECT doc_a, doc_b FROM pr
        |      WHERE hamming <= 3 AND pix_dist <= 512),
        |ed AS (SELECT doc_a AS a, doc_b AS b FROM q
        |       UNION SELECT doc_b, doc_a FROM q),
        |nn AS (SELECT DISTINCT a AS id FROM ed),
        |reach AS (
        |  SELECT id, id AS x FROM nn
        |  UNION
        |  SELECT rr.id, ed.b AS x FROM reach rr JOIN ed ON rr.x = ed.a),
        |lab AS (SELECT id, MIN(x) AS label FROM reach GROUP BY id),
        |lab2 AS (SELECT doc_id, COALESCE(l.label, doc_id) AS label
        |         FROM documents LEFT JOIN lab l ON l.id = doc_id),
        |sizes AS (SELECT label, count(*) AS cluster_size
        |          FROM lab2 GROUP BY label)
        |SELECT l.doc_id, CAST(l.label AS BIGINT) AS keeper_doc_id,
        |       CAST(sz.cluster_size AS BIGINT) AS cluster_size
        |FROM lab2 l JOIN sizes sz USING (label)
        |ORDER BY doc_id""".stripMargin,
    // closed forms of the decoded-pixel stats (valid because the PNG
    // round-trip is lossless and gray(x,y) = base + 7x + 13y is affine):
    //   mean = base + 7(w-1)/2 + 13(h-1)/2
    //   min  = base ; max = base + 7(w-1) + 13(h-1)
    //   2×2 box downscale pixel = base + 14rx + 26ry + 10
    "q_multimodal_features" ->
      """SELECT doc_id,
        |  CAST(2*((doc_id % 6) + 2) AS INTEGER) AS width,
        |  CAST(2*((doc_id % 4) + 2) AS INTEGER) AS height,
        |  CAST((doc_id % 32) + 7*(2*((doc_id % 6) + 2) - 1)/2.0
        |       + 13*(2*((doc_id % 4) + 2) - 1)/2.0 AS DOUBLE) AS mean_gray,
        |  CAST(doc_id % 32 AS INTEGER) AS min_gray,
        |  CAST((doc_id % 32) + 7*(2*((doc_id % 6) + 2) - 1)
        |       + 13*(2*((doc_id % 4) + 2) - 1) AS INTEGER) AS max_gray,
        |  CAST((doc_id % 6) + 2 AS INTEGER) AS resized_w,
        |  CAST((doc_id % 4) + 2 AS INTEGER) AS resized_h,
        |  CAST((doc_id % 32) + 10 + 7*((doc_id % 6) + 1)
        |       + 13*((doc_id % 4) + 1) AS DOUBLE) AS resized_mean
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_multimodal_frames" ->
      """SELECT doc_id,
        |  ['image','audio','video'][CAST(doc_id % 3 AS INTEGER) + 1] AS kind,
        |  array_to_string([ascii(substr(text, i*50 + 1, 1))
        |                   for i in range(0, CAST(floor((length(text)-1)/50) AS INTEGER) + 1)],
        |                  ',') AS frame_bytes,
        |  CAST(floor((length(text)-1)/50) + 1 AS BIGINT) AS n_frames
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_multimodal_meta" ->
      """SELECT doc_id,
        |  ['image','audio','video'][CAST(doc_id % 3 AS INTEGER) + 1] AS kind,
        |  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
        |  CAST(ascii(substr(text, 1, 1)) AS BIGINT) AS first_byte
        |FROM documents ORDER BY doc_id""".stripMargin,
  )
}
