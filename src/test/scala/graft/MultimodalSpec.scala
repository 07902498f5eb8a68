package graft

import graft.operators.Multimodal
import graft.operators.Multimodal.MediaRow
import org.apache.spark.sql.functions.col

/** Pins the properties the q_multimodal_features oracle depends on:
  * the javax.imageio PNG round-trip is sample-exact (lossless 8-bit gray),
  * and the decoded-feature closed forms hold for concrete doc_ids. */
class MultimodalSpec extends SparkSpec {

  test("PNG encode → decode round-trips every sample exactly") {
    for (docId <- Seq(0L, 1L, 5L, 23L, 64L, 1234L)) {
      val bytes = Multimodal.encodePng(docId)
      // a real PNG, not a stub: magic bytes
      assert((bytes(0) & 0xff) == 0x89 && bytes(1) == 'P'.toByte
        && bytes(2) == 'N'.toByte && bytes(3) == 'G'.toByte)
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      val (w, h) = (2 * ((docId % 6) + 2).toInt, 2 * ((docId % 4) + 2).toInt)
      val base = (docId % 32).toInt
      assert(img.getWidth == w && img.getHeight == h)
      for (y <- 0 until h; x <- 0 until w)
        assert(img.getRaster.getSample(x, y, 0) == base + 7 * x + 13 * y,
          s"pixel ($x,$y) of doc $docId corrupted by the codec round-trip")
    }
  }

  test("WAV encode → decode round-trips every PCM sample exactly") {
    for (docId <- Seq(0L, 1L, 4L, 23L, 64L, 1234L)) {
      val bytes = Multimodal.encodeWav(docId)
      // a real RIFF/WAVE container, not a stub: magic bytes
      assert(bytes(0) == 'R'.toByte && bytes(1) == 'I'.toByte
        && bytes(2) == 'F'.toByte && bytes(3) == 'F'.toByte)
      assert(new String(bytes.slice(8, 12), "US-ASCII") == "WAVE")
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      val raw = ais.readAllBytes()
      val expect = Multimodal.audioSamples(docId)
      assert(raw.length == expect.length * 2)
      for (i <- expect.indices) {
        val got = ((raw(2 * i + 1).toInt << 8) | (raw(2 * i) & 0xFF)).toShort
        assert(got == expect(i), s"sample $i of doc $docId corrupted")
      }
    }
  }

  test("audio features: silence census and trim bounds match the planting") {
    for (docId <- Seq(0L, 2L, 6L, 11L, 999L)) {
      val f = Multimodal.decodeAudio(
        Iterator(MediaRow(docId, "audio", Multimodal.encodeWav(docId)))).next()
      val nf = (1024 + (docId % 7) * 256).toInt / 256
      val silentFrames = (0 until nf).filter(fr => (docId + fr) % 5 == 0)
      val active = (0 until nf).filterNot(fr => (docId + fr) % 5 == 0)
      assert(f.n_frames == nf && f.n_samples == nf * 256)
      assert(f.n_silent == silentFrames.size, s"doc $docId silence census")
      assert(f.first_active == active.head && f.last_active == active.last,
        s"doc $docId trim bounds")
      assert(f.rms_active > 0.0 && f.rms_active < 2048.0)
    }
  }

  test("decoded features match the oracle's closed forms") {
    for (docId <- Seq(0L, 3L, 17L, 100L)) {
      val f = Multimodal.decodeImages(
        Iterator(MediaRow(docId, "image", Multimodal.encodePng(docId)))).next()
      val (w, h) = (2 * ((docId % 6) + 2).toInt, 2 * ((docId % 4) + 2).toInt)
      val base = (docId % 32).toInt
      assert(f.width == w && f.height == h)
      assert(f.mean_gray == base + 7 * (w - 1) / 2.0 + 13 * (h - 1) / 2.0)
      assert(f.min_gray == base)
      assert(f.max_gray == base + 7 * (w - 1) + 13 * (h - 1))
      assert(f.resized_w == w / 2 && f.resized_h == h / 2)
      assert(f.resized_mean ==
        base + 10.0 + 7 * (w / 2 - 1) + 13 * (h / 2 - 1))
    }
  }

  test("undecodable payload fails loudly, not silently") {
    val junk = MediaRow(9L, "image", Array[Byte](1, 2, 3, 4))
    val e = intercept[IllegalArgumentException](
      Multimodal.decodeImages(Iterator(junk)).next())
    assert(e.getMessage.contains("undecodable payload"))
  }

  test("PNG encoding is byte-deterministic; fp classes = generator classes") {
    // q_multimodal_dedup's md5 grouping is only sound if the SAME raster
    // always encodes to the SAME bytes (across calls — and by extension
    // across partitions/executors, which run this same JVM codec path)
    (0L until 200L).foreach { id =>
      assert(java.util.Arrays.equals(
        Multimodal.encodePng(id), Multimodal.encodePng(id)), s"doc $id")
    }
    // distinct payloads correspond 1:1 with the generator's (id mod 96)
    // equivalence classes: same class -> identical bytes, different class
    // -> different bytes (the oracle's GROUP BY relies on both directions)
    val byClass = (0L until 200L).groupBy(_ % 96)
    byClass.values.foreach { ids =>
      val fps = ids.map(id =>
        java.util.Base64.getEncoder.encodeToString(Multimodal.encodePng(id))).toSet
      assert(fps.size == 1, s"class split: $ids")
    }
    val reps = byClass.values.map(ids =>
      java.util.Base64.getEncoder.encodeToString(Multimodal.encodePng(ids.head))).toSet
    assert(reps.size == byClass.size, "distinct classes must differ in bytes")
  }

  test("perceptual hash: aHash is invariant to brightness offset") {
    // the defining perceptual property: adding a constant to every pixel
    // (same dims, different base) must not change a single aHash bit —
    // 64·(base+g_i) > 64·base + Σg  ⟺  64·g_i > Σg, base cancels exactly
    def hashOf(id: Long) = Multimodal.perceptualHash(Iterator(
      Multimodal.MediaRow(id, "image", Multimodal.encodePng(id)))).next()
    // ids ≡ mod 12 share dims; bases differ via mod 32
    val sameDims = Seq(0L, 12L, 24L, 36L, 48L).map(hashOf)
    assert(sameDims.map(_.ahash).toSet.size == 1,
      "same-dims images must share the full aHash")
    // and the rasters differ exactly by the base offset
    val (a, b) = (sameDims(0), sameDims(1))
    val diffs = a.p.zip(b.p).map { case (x, y) => x - y }.toSet
    assert(diffs.size == 1, s"non-constant pixel offset: $diffs")
  }

  test("perceptual near-dup pairs: replication + threshold laws") {
    val out = Queries.all("q_multimodal_perceptual")(spark, sfDir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getLong(3)))).toMap
    assert(out.nonEmpty)
    val n = Tables.load(spark, sfDir, "documents").count()
    // exact replicas (same id mod 96 → identical image) always pair at 0/0
    for (a <- 0L until math.min(96L, n); b <- Seq(a + 96L) if b < n) {
      assert(out.get((a, b)).contains((0L, 0L)), s"replica pair ($a,$b)")
    }
    // same dims, base diff ≤ 8 → hamming 0 and pix_dist = 64·|Δbase|;
    // base diff > 8 with same dims → excluded by the distance verify
    for (((a, b), (hd, pd)) <- out) {
      assert(hd <= 3 && pd <= 512, s"($a,$b) exceeds thresholds")
      if (a % 12 == b % 12) {
        val dbase = math.abs(a % 32 - b % 32)
        assert(hd == 0L, s"same-dims pair ($a,$b) hamming $hd")
        assert(pd == 64L * dbase, s"($a,$b) pix_dist $pd != ${64 * dbase}")
      }
    }
    // negative control: same dims, base diff 16 (e.g. doc 0 vs doc 48)
    // must NOT pair — near-dup is a threshold, not a dims bucket
    assert(!out.contains((0L, 48L)), "base-diff-16 pair leaked through")
  }

  test("perceptual clusters: partition of the corpus, consistent with pairs") {
    val cl = Queries.all("q_multimodal_perceptual_clusters")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val n = Tables.load(spark, sfDir, "documents").count()
    assert(cl.size == n, "exactly one row per doc")
    // keeper is a member of its own cluster and the minimum of it
    val byKeeper = cl.groupBy(_._2._1)
    byKeeper.foreach { case (k, ms) =>
      assert(cl(k)._1 == k, s"keeper $k not its own keeper")
      assert(ms.keys.min == k, s"keeper $k is not the component minimum")
      val sizes = ms.values.map(_._2).toSet
      assert(sizes == Set(ms.size.toLong), s"keeper $k size drift: $sizes")
    }
    // pair consistency: every near-dup pair lands in the same component
    Queries.all("q_multimodal_perceptual")(spark, sfDir).collect().foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      assert(cl(a)._1 == cl(b)._1, s"paired docs ($a,$b) split across clusters")
    }
  }

  test("audio structure: decoded-PCM mask matches the planting; classes = doc_id mod 35") {
    // direct: the mask detected from real decoded PCM equals the closed form
    for (docId <- Seq(0L, 3L, 7L, 34L, 35L, 1234L)) {
      val c = Multimodal.audioStructure(
        Iterator(MediaRow(docId, "audio", Multimodal.encodeWav(docId)))).next()
      val nf = (1024 + (docId % 7) * 256).toInt / 256
      val expectMask = (0 until nf).filter(f => (docId + f) % 5 == 0)
        .foldLeft(0L)((m, f) => m | (1L << f))
      assert(c.n_frames == nf && c.silent_mask == expectMask,
        s"doc $docId structural fingerprint")
      assert(c.n_silent == java.lang.Long.bitCount(c.silent_mask))
    }
    // class law: (n_frames, mask) coincide exactly when doc_id ≡ (mod 35)
    // — n_frames is doc_id%7, and the mask's bit phase is doc_id%5 (there
    // is always a silent frame among the first 5, so phase is observable)
    val fps = (0L until 140L).map { id =>
      val c = Multimodal.audioStructure(
        Iterator(MediaRow(id, "audio", Multimodal.encodeWav(id)))).next()
      id -> (c.n_frames, c.silent_mask)
    }.toMap
    for (a <- 0L until 140L; b <- 0L until 140L)
      assert((fps(a) == fps(b)) == (a % 35 == b % 35),
        s"class law broken for ($a,$b)")
  }

  // each stream keys state on its modality's decoded fingerprint class;
  // its batch twin groups the same modality, so keeper/copy-count sets
  // must be equal
  private def assertStreamEqualsBatch(stream: String, batch: String): Unit = {
    def keepers(q: String) = Queries.all(q)(spark, sfDir)
      .select(col("keeper_doc_id"), col("n_copies"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = keepers(batch)
    assert(b.nonEmpty, batch)
    assert(keepers(stream) == b, s"$stream != $batch")
  }

  test("streaming multimodal dedup == batch byte dedup (class injectivity)") {
    // the stream's perceptual raster class and the batch md5-of-PNG-bytes
    // class both coincide with the generator's (w, h, base) classes (the
    // raster resample is injective in (w, h, base))
    assertStreamEqualsBatch("q_stream_multimodal_dedup", "q_multimodal_dedup")
  }

  test("streaming audio dedup == batch structural classes") {
    // the same silence-structure class on both sides
    assertStreamEqualsBatch("q_stream_audio_dedup", "q_audio_dedup")
  }

  test("streaming video dedup == batch frame-sequence classes") {
    // the same frame-sequence fingerprint on both sides
    assertStreamEqualsBatch("q_stream_video_dedup", "q_video_dedup")
  }

  test("joint dedup: quotiented components == ground-truth doc-level components") {
    import org.apache.spark.sql.functions._
    val d = Tables.load(spark, sfDir, "documents").select(col("doc_id"), col("text"))
    // ground truth: per-DOC edges (the quadratic form the query must avoid
    // but the law may afford at 500 docs): text star + per-modality class
    // stars — image mod 6/4/32, audio mod 35, video mod 348 (generator
    // classes — pinned equal to the decoded fingerprints by the
    // multimodal dedup oracles) + doc-level near-dup pairs
    val textStar = d
      .withColumn("tmin", min(col("doc_id")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("text"))))
      .filter(col("doc_id") =!= col("tmin"))
      .select(col("doc_id").as("doc_a"), col("tmin").as("doc_b"))
    val imgStar = d
      .withColumn("imin", min(col("doc_id")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(
          col("doc_id") % 6, col("doc_id") % 4, col("doc_id") % 32)))
      .filter(col("doc_id") =!= col("imin"))
      .select(col("doc_id").as("doc_a"), col("imin").as("doc_b"))
    def modStar(m: Int) = d
      .withColumn("mmin", min(col("doc_id")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id") % m)))
      .filter(col("doc_id") =!= col("mmin"))
      .select(col("doc_id").as("doc_a"), col("mmin").as("doc_b"))
    val nd = operators.Dedup.minhashNearDupPairsOf(d)
      .select(col("doc_a"), col("doc_b"))
    val labels = operators.LabelPropagation
      .connectedComponents(textStar.unionByName(imgStar)
        .unionByName(modStar(35)).unionByName(modStar(348)).unionByName(nd))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = Queries.all("q_dedup_joint")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val n = d.count()
    assert(got.length == n, "one row per doc")
    val byRep = got.groupBy(_._2)
    got.foreach { case (id, rep, size) =>
      assert(labels.getOrElse(id, id) == rep,
        s"doc $id: quotient rep $rep != ground-truth ${labels.getOrElse(id, id)}")
      assert(byRep(rep).length.toLong == size, s"doc $id size drift")
      assert(rep <= id, s"doc $id rep $rep above it")
    }
  }

  test("perceptual joint dedup: components == ground truth over doc-level edges") {
    import org.apache.spark.sql.functions._
    val d = Tables.load(spark, sfDir, "documents").select(col("doc_id"), col("text"))
    val textStar = d
      .withColumn("tmin", min(col("doc_id")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("text"))))
      .filter(col("doc_id") =!= col("tmin"))
      .select(col("doc_id").as("doc_a"), col("tmin").as("doc_b"))
    val ndText = operators.Dedup.minhashNearDupPairsOf(d)
      .select(col("doc_a"), col("doc_b"))
    // doc-level perceptual edges from the PAIR QUERY's own output —
    // cross-query consistency: the closure of q_multimodal_perceptual's
    // pairs plus the text edges must equal the joint-perceptual clusters
    val ndImg = Queries.all("q_multimodal_perceptual")(spark, sfDir)
      .select(col("doc_a"), col("doc_b"))
    val labels = operators.LabelPropagation
      .connectedComponents(textStar.unionByName(ndText).unionByName(ndImg))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = Queries.all("q_dedup_joint_perceptual")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.length == d.count(), "one row per doc")
    val byRep = got.groupBy(_._2)
    got.foreach { case (id, rep, size) =>
      assert(labels.getOrElse(id, id) == rep,
        s"doc $id: quotient rep $rep != ground-truth ${labels.getOrElse(id, id)}")
      assert(byRep(rep).length.toLong == size, s"doc $id size drift")
    }
  }

  test("strict joint dedup: conjunction components == ground truth; text-only near-dups split") {
    import org.apache.spark.sql.functions._
    val d = Tables.load(spark, sfDir, "documents").select(col("doc_id"), col("text"))
    val jointStar = d
      .withColumn("jmin", min(col("doc_id")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(
          col("text"), col("doc_id") % 96)))
      .filter(col("doc_id") =!= col("jmin"))
      .select(col("doc_id").as("doc_a"), col("jmin").as("doc_b"))
    val nd = operators.Dedup.minhashNearDupPairsOf(d)
      .filter(col("doc_a") % 96 === col("doc_b") % 96)
      .select(col("doc_a"), col("doc_b"))
    val labels = operators.LabelPropagation
      .connectedComponents(jointStar.unionByName(nd))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = Queries.all("q_dedup_joint_both")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.length == d.count(), "one row per doc")
    val byRep = got.groupBy(_._2)
    val repOf = got.map(r => r._1 -> r._2).toMap
    got.foreach { case (id, rep, size) =>
      assert(labels.getOrElse(id, id) == rep,
        s"doc $id: conjunction rep $rep != ground-truth ${labels.getOrElse(id, id)}")
      assert(byRep(rep).length.toLong == size, s"doc $id size drift")
    }
    // conjunction negative: any text-level near-dup pair whose image
    // classes DIFFER must not be merged by that pair alone — verify at
    // least one such pair exists on the gate corpus and stays split
    // (unless connected through some other path, which ground truth
    // already accounts for; here we assert the direct check on pairs
    // whose ground-truth components differ)
    val split = operators.Dedup.minhashNearDupPairsOf(d)
      .filter(col("doc_a") % 96 =!= col("doc_b") % 96)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(split.nonEmpty, "corpus has no cross-image near-dup pair to test")
    val actuallySplit = split.filter { case (a, b) =>
      labels.getOrElse(a, a) != labels.getOrElse(b, b) }
    assert(actuallySplit.nonEmpty, "no pair separated by the image constraint")
    actuallySplit.foreach { case (a, b) =>
      assert(repOf(a) != repOf(b), s"text-only pair ($a,$b) wrongly merged") }
  }

  test("video container: every PNG frame round-trips sample-exactly") {
    for (docId <- Seq(0L, 1L, 7L, 29L, 347L, 1234L)) {
      val bytes = Multimodal.encodeVideo(docId)
      // a real GVID container of real PNGs: magic + first frame's magic
      assert(java.nio.ByteBuffer.wrap(bytes, 0, 4).getInt == Multimodal.VideoMagic)
      assert((bytes(12) & 0xff) == 0x89 && bytes(13) == 'P'.toByte)
      val feats = Multimodal.decodeVideoFeatures(
        Iterator(MediaRow(docId, "video", bytes))).next()
      val nf = (3 + docId % 6).toInt
      val (w, h) = (2 * ((docId % 6) + 2).toInt, 2 * ((docId % 4) + 2).toInt)
      assert(feats.n_frames == nf && feats.width == w && feats.height == h)
      // pin pixel-exactness of a middle frame via the fingerprint path's
      // inputs: re-decode by hand and compare to the closed form
      val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
      in.readInt(); in.readInt()
      for (f <- 0 until nf) {
        val len = in.readInt(); val fb = new Array[Byte](len); in.readFully(fb)
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(fb))
        val base = Multimodal.videoFrameBase(docId, f)
        for (y <- 0 until h; x <- 0 until w)
          assert(img.getRaster.getSample(x, y, 0) == base + 7 * x + 13 * y,
            s"frame $f pixel ($x,$y) of doc $docId corrupted")
      }
    }
  }

  test("video features: cut census from decoded pixels matches the plant") {
    for (docId <- 0L until 48L) {
      val feats = Multimodal.decodeVideoFeatures(Iterator(
        MediaRow(docId, "video", Multimodal.encodeVideo(docId)))).next()
      val nf = (3 + docId % 6).toInt
      val cuts = (1 until nf).count(f => (docId + f) % 3 == 0)
      assert(feats.n_cuts == cuts, s"doc $docId cut census")
      assert(feats.n_scenes == cuts + 1 && feats.duration_ms == nf * 40L)
      // frame-0 mean: base_0 + 7(w-1)/2 + 13(h-1)/2, dyadic-exact
      val (w, h) = (2 * ((docId % 6) + 2).toInt, 2 * ((docId % 4) + 2).toInt)
      assert(feats.mean_gray_first ==
        (docId % 29) + 7.0 * (w - 1) / 2 + 13.0 * (h - 1) / 2)
    }
  }

  test("video fingerprint classes are exactly doc_id mod 348") {
    // two full parameter cycles: equal fingerprints ⟺ equal mod 348 —
    // the injectivity the q_video_dedup oracle's closed form relies on
    val fps = (0L until 696L).map { d =>
      d -> Multimodal.videoFingerprint(Iterator(
        MediaRow(d, "video", Multimodal.encodeVideo(d)))).next().video_fp
    }.toMap
    for (d <- 0L until 348L) {
      assert(fps(d) == fps(d + 348), s"doc $d: same class, different fp")
    }
    assert(fps.values.toSet.size == 348, "distinct classes collided")
  }

  test("video scenes partition the frames at exactly the planted cuts") {
    for (docId <- 0L until 48L) {
      val scenes = Multimodal.videoScenes(Iterator(
        MediaRow(docId, "video", Multimodal.encodeVideo(docId)))).toSeq
      val nf = (3 + docId % 6).toInt
      val cuts = (1 until nf).filter(f => (docId + f) % 3 == 0)
      assert(scenes.length == cuts.size + 1, s"doc $docId scene count")
      // scenes tile [0, nf) contiguously, breaking exactly at the cuts
      assert(scenes.head.start_frame == 0 && scenes.last.end_frame == nf - 1)
      scenes.sliding(2).foreach {
        case Seq(a, b) =>
          assert(b.start_frame == a.end_frame + 1, s"doc $docId gap")
          assert(cuts.contains(b.start_frame), s"doc $docId false cut")
        case _ =>
      }
      assert(scenes.map(_.n_frames).sum == nf)
    }
  }

  test("video decontamination: a spliced benchmark frame is caught frame-level") {
    // the law behind q_decontaminate_video: a training clip that EMBEDS
    // one benchmark frame inside otherwise-novel footage shares exactly
    // that one frame fingerprint — whole-clip fingerprints would miss it
    val benchId = 7L
    val benchBytes = Multimodal.encodeVideo(benchId)
    val benchFps = Multimodal.videoFrameFingerprints(
      Iterator(MediaRow(benchId, "video", benchBytes))).map(_.frame_fp).toSet
    // pull bench frame 1's PNG out of the container
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(benchBytes))
    in.readInt(); in.readInt()
    val f0len = in.readInt(); in.skipBytes(f0len)
    val f1len = in.readInt()
    val benchFrame = new Array[Byte](f1len); in.readFully(benchFrame)
    // novel frames with the same geometry (w=6, h=10 for doc 7) but bases
    // no bench frame uses (doc 7 bases live in {7..21})
    val (w, h) = (6, 10)
    def freshFrame(base: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      for (y <- 0 until h; x <- 0 until w)
        img.getRaster.setSample(x, y, 0, base + 7 * x + 13 * y)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeInt(Multimodal.VideoMagic); out.writeInt(3)
    for (fb <- Seq(freshFrame(40), benchFrame, freshFrame(44))) {
      out.writeInt(fb.length); out.write(fb)
    }
    out.flush()
    val fps = Multimodal.videoFrameFingerprints(
      Iterator(MediaRow(999L, "video", bos.toByteArray))).map(_.frame_fp).toSeq
    assert(fps.count(benchFps) == 1, "exactly the spliced frame must match")
  }

  test("video fingerprint is re-encoding-robust (BMP frames, same pixels)") {
    val docId = 17L
    val nf = (3 + docId % 6).toInt
    val (w, h) = (2 * ((docId % 6) + 2).toInt, 2 * ((docId % 4) + 2).toInt)
    // rebuild the container with frames re-encoded as BMP — different
    // bytes, identical decoded pixels (the mirrored-clip scenario)
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeInt(Multimodal.VideoMagic)
    out.writeInt(nf)
    for (f <- 0 until nf) {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      val base = Multimodal.videoFrameBase(docId, f)
      for (y <- 0 until h; x <- 0 until w)
        img.getRaster.setSample(x, y, 0, base + 7 * x + 13 * y)
      val fb = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, "bmp", fb), "no BMP writer")
      out.writeInt(fb.size()); out.write(fb.toByteArray)
    }
    out.flush()
    val reencoded = bos.toByteArray
    val original = Multimodal.encodeVideo(docId)
    assert(!java.util.Arrays.equals(reencoded, original), "bytes must differ")
    val fpA = Multimodal.videoFingerprint(
      Iterator(MediaRow(docId, "video", original))).next().video_fp
    val fpB = Multimodal.videoFingerprint(
      Iterator(MediaRow(docId, "video", reencoded))).next().video_fp
    assert(fpA == fpB, "perceptual fingerprint must survive re-encoding")
  }

  test("image decontamination: a re-encoded bench image is still caught") {
    // the law behind q_decontaminate_image's perceptual gate: re-encoding
    // changes every byte (md5 gate misses) but not the decoded pixels
    // (raster/aHash gate catches at hamming 0)
    val docId = 42L
    val png = Multimodal.encodePng(docId)
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
    val fb = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "bmp", fb), "no BMP writer")
    val bmp = fb.toByteArray
    assert(!java.util.Arrays.equals(bmp, png))
    val a = Multimodal.imageFingerprints(
      Iterator(MediaRow(docId, "image", png))).next()
    val b = Multimodal.imageFingerprints(
      Iterator(MediaRow(docId, "image", bmp))).next()
    assert(a.fp_md5 != b.fp_md5, "exact gate must miss the re-encode")
    assert(a.ahash == b.ahash && a.p.sameElements(b.p),
      "perceptual gate must catch the re-encode")
  }

  test("joint admission: stream twin == batch; rejection soundness vs full clustering") {
    val inc = Queries.all("q_dedup_joint_incremental")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getBoolean(2),
        r.getBoolean(3), r.getBoolean(4), r.getBoolean(5), r.getBoolean(6)))
    // the admission record covers exactly the batch slice
    val batchIds = Tables.load(spark, sfDir, "documents")
      .filter(org.apache.spark.sql.functions.col("doc_id") % 10 === 0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(inc.map(_._1).toSet == batchIds)
    // the decision is exactly the disjunction of the five gates
    inc.foreach { case (d, admitted, te, nd, im, au, vi) =>
      assert(admitted == !(te || nd || im || au || vi),
        s"doc $d: admitted flag inconsistent with its gates")
    }
    // the audio/video gates discriminate per the closed-form classes —
    // the mod-348 video classes are small enough at this SF that the
    // flag genuinely varies across the batch (not a constant)
    val storeAudCls = (0L until 500L).filter(_ % 10 != 0).map(_ % 35).toSet
    val storeVidCls = (0L until 500L).filter(_ % 10 != 0).map(_ % 348).toSet
    val docsN = Tables.load(spark, sfDir, "documents").count()
    if (docsN == 500) {
      inc.foreach { case (d, _, _, _, _, au, vi) =>
        assert(au == storeAudCls.contains(d % 35), s"doc $d audio gate drift")
        assert(vi == storeVidCls.contains(d % 348), s"doc $d video gate drift")
      }
      assert(inc.exists(_._7) && inc.exists(!_._7),
        "video gate should discriminate at sf0.01")
    }
    // stream == batch: the streaming rejection table is exactly the
    // rejected slice of the batch admission record, flags included
    val streamRejects = Queries.all("q_stream_joint_rejects")(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getBoolean(2),
        r.getBoolean(3), r.getBoolean(4), r.getBoolean(5)))
      .toSet
    val batchRejects = inc.filter(!_._2)
      .map(t => (t._1, t._3, t._4, t._5, t._6, t._7)).toSet
    assert(streamRejects == batchRejects, "stream/batch admission drift")
    // soundness: a rejected doc's full-corpus joint cluster contains at
    // least one store doc (the direct edge it was rejected for)
    val joint = Queries.all("q_dedup_joint")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val clusterOf = joint.toMap
    val clustersWithStore = joint.filter(_._1 % 10 != 0).map(_._2).toSet
    for ((d, admitted, _, _, _, _, _) <- inc if !admitted)
      assert(clustersWithStore.contains(clusterOf(d)),
        s"rejected $d has no store member in its joint cluster")
    // composition (r10 verdict #2's law): store keeps ∪ batch admits is a
    // TRANSVERSAL of the full-corpus joint components with all four
    // modality gates active — exactly one kept doc per component. Store
    // keeps come from the same doc-level ground-truth closure restricted
    // to the store slice.
    import org.apache.spark.sql.functions._
    val store = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
      .filter(col("doc_id") % 10 =!= 0)
    def star(part: org.apache.spark.sql.Column*) = store
      .withColumn("mmin", min(col("doc_id")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(part: _*)))
      .filter(col("doc_id") =!= col("mmin"))
      .select(col("doc_id").as("doc_a"), col("mmin").as("doc_b"))
    val storeEdges = star(col("text"))
      .unionByName(star(col("doc_id") % 6, col("doc_id") % 4, col("doc_id") % 32))
      .unionByName(star(col("doc_id") % 35))
      .unionByName(star(col("doc_id") % 348))
      .unionByName(operators.Dedup.minhashNearDupPairsOf(store)
        .select(col("doc_a"), col("doc_b")))
    val storeLabels = operators.LabelPropagation.connectedComponents(storeEdges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val storeIds = store.select("doc_id").collect().map(_.getLong(0))
    val storeKeeps = storeIds.map(id => storeLabels.getOrElse(id, id)).toSet
    val batchAdmits = inc.filter(_._2).map(_._1).toSet
    val kept = storeKeeps ++ batchAdmits
    val fullReps = joint.map(_._2).toSet
    val keptByComponent = kept.groupBy(clusterOf)
    assert(keptByComponent.keySet == fullReps,
      "kept set misses a full-corpus joint component")
    keptByComponent.foreach { case (repC, ks) =>
      assert(ks.size == 1,
        s"component $repC keeps ${ks.size} docs (${ks.take(5)}) — not a transversal")
    }
  }

  test("perceptual joint admission: gate monotonicity laws") {
    val p = Queries.all("q_dedup_joint_incremental_perceptual")(spark, sfDir)
      .collect()
    // byte-identical ⇒ perceptually identical (distance 0)
    p.foreach(r => assert(!r.getBoolean(4) || r.getBoolean(5),
      s"doc ${r.getLong(0)}: image_exact without image_perceptual"))
    // the perceptual form only ever REJECTS MORE than the md5 form
    val md5Admitted = Queries.all("q_dedup_joint_incremental")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    p.foreach(r => assert(!r.getBoolean(1) || md5Admitted(r.getLong(0)),
      s"doc ${r.getLong(0)}: admitted here but rejected by the md5 form"))
  }

  test("dedup census: per-source identities and cross-check vs direct counts") {
    import org.apache.spark.sql.functions._
    val rows = Queries.all("q_dedup_census")(spark, sfDir).collect()
    val d = Tables.load(spark, sfDir, "documents")
    val total = d.count()
    assert(rows.map(_.getLong(1)).sum == total, "sources partition the corpus")
    rows.foreach { r =>
      val (src, nDocs, nClasses, nDup, maxC, nSingle) =
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(5), r.getLong(6))
      assert(nDocs == nClasses + nDup, s"$src: docs != classes + dups")
      assert(maxC >= 1 && nSingle <= nClasses, s"$src: bounds")
      val direct = d.filter(col("source") === src)
        .select(col("text")).distinct().count()
      assert(direct == nClasses, s"$src: class count drift")
    }
  }

  test("ingest fingerprint table: per-modality facts == the single-modality dedup queries") {
    // the fused one-pass decode must reproduce EXACTLY the (keeper, size)
    // facts each standalone codec query computes from its own scan
    val ing = Queries.all("q_multimodal_ingest")(spark, sfDir).collect()
    assert(ing.nonEmpty)
    def classFacts(keeperIdx: Int, copiesIdx: Int) =
      ing.map(r => (r.getLong(keeperIdx), r.getLong(copiesIdx))).toSet
    def dedupFacts(q: String) =
      Queries.all(q)(spark, sfDir).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(classFacts(1, 2) == dedupFacts("q_multimodal_dedup"), "image")
    assert(classFacts(3, 4) == dedupFacts("q_audio_dedup"), "audio")
    assert(classFacts(5, 6) == dedupFacts("q_video_dedup"), "video")
    // every doc belongs to its keeper's class: keeper ≤ doc_id, and the
    // keeper row is self-keeping on all three modalities
    ing.foreach { r =>
      val id = r.getLong(0)
      assert(r.getLong(1) <= id && r.getLong(3) <= id && r.getLong(5) <= id)
    }
  }

  test("persisted-ingest joint admission == in-plan variant (production factoring)") {
    // the 100 TB shape: ONE codec pass writes the fingerprint table at
    // ingest time; streaming admission then probes parquet projections of
    // it — zero store-side codec work. Must be indistinguishable from the
    // self-contained in-plan variant.
    val out = java.nio.file.Files.createTempDirectory("graft_ingest_spec").toString
    operators.Multimodal.writeIngestTable(spark, sfDir, out)
    val ing = spark.read.parquet(out)
    assert(ing.columns.sorted.toSeq ==
      Seq("audio_frames", "audio_mask", "doc_id", "img_fp", "video_fp"))
    assert(ing.count() == Tables.load(spark, sfDir, "documents").count())
    val fromIngest = streaming.Streams
      .jointAdmissionStream(spark, sfDir, Some(ing))
      .collect().map(_.toSeq).toSet
    val inPlan = Queries.all("q_stream_joint_rejects")(spark, sfDir)
      .collect().map(_.toSeq).toSet
    assert(fromIngest == inPlan, "persisted-ingest admission drift")
  }

  test("bucketed ingest table: doc_id joins plan with no exchange on the bucketed side") {
    // the cluster deployment (r12 verdict #4): the fingerprint table is
    // bucketed by doc_id at write time, so downstream doc_id equi-joins
    // never re-shuffle it — pay the exchange once at ingest, not per gate
    sources.Layouts.writeBucketed(
      operators.Multimodal.ingestFingerprintFrame(spark, sfDir),
      "ingest_bkt", 4, Seq("doc_id"))
    val ing = spark.table("ingest_bkt")
    // same rows as the path-addressed form
    val flat = operators.Multimodal.ingestTable(spark, sfDir)
    assert(ing.collect().map(_.toSeq).toSet == flat.collect().map(_.toSeq).toSet)
    // the joint admission gate takes the table's frame as its store
    // side and admits exactly what the in-plan variant does
    val fromTable = streaming.Streams
      .jointAdmissionStream(spark, sfDir, Some(ing))
      .collect().map(_.toSeq).toSet
    val inPlan = Queries.all("q_stream_joint_rejects")(spark, sfDir)
      .collect().map(_.toSeq).toSet
    assert(inPlan.nonEmpty, "gate vacuous: no rejected docs in corpus")
    assert(fromTable == inPlan, "bucketed-table joint admission drift")
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val docs = Tables.load(spark, sfDir, "documents")
        .select(col("doc_id"), col("lang"))
      // against an unbucketed probe side: exactly ONE exchange (the probe
      // side shuffles to the bucket layout; the ingest scan feeds the
      // join directly)
      val oneSided = ing.join(docs, "doc_id")
      val plan = oneSided.queryExecution.executedPlan.toString
      assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1,
        s"expected the probe side's exchange only:\n$plan")
      assert(oneSided.count() == docs.count())
      // against a CO-bucketed probe side: zero exchanges end to end
      sources.Layouts.writeBucketed(docs, "docs_bkt", 4, Seq("doc_id"))
      val co = ing.join(spark.table("docs_bkt"), "doc_id")
      val coPlan = co.queryExecution.executedPlan.toString
      assert(!coPlan.contains("Exchange hashpartitioning"),
        s"co-bucketed join must not shuffle:\n$coPlan")
      assert(co.count() == docs.count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
  }
}
