package graft

import org.apache.spark.sql.functions._

import graft.operators.{Similarity, TextAnalysis}

/** Behavior tests for the queries that have no SQL oracle: language ID on
  * known-language text, ANN recall vs the brute-force baseline, and the
  * winnowing fingerprint query shape. */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  test("langPred: classifies stopword-bearing texts") {
    val df = Seq(
      "the cat sat of a mat and it is fine",
      "der hund und die katze das ist gut",
      "el perro y la casa los gatos es asi",
      "le chien et les chats la maison est belle",
    ).toDF("text")
    val got = df.select(TextAnalysis.langPred($"text")).as[String].collect().toSeq
    assert(got == Seq("en", "de", "es", "fr"))
  }

  test("streaming decontamination equals the batch benchmark gate") {
    val stream = Queries.all("q_stream_decontaminate")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = Queries.all("q_decontaminate")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(batch.nonEmpty, "gate vacuous: no contaminated docs in corpus")
    assert(stream == batch,
      s"missing ${(batch -- stream).size}, spurious ${(stream -- batch).size}")
  }

  test("streaming near-dup rejection table equals the batch rejected slice") {
    val stream = Queries.all("q_stream_neardup_rejects")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val batch = Queries.all("q_dedup_minhash_incremental")(spark, sfDir)
      .filter(!col("admitted"))
      .select(col("doc_id"), col("n_matches"), col("max_jaccard"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(batch.nonEmpty, "gate vacuous: no rejected docs in corpus")
    assert(stream == batch,
      s"missing ${(batch -- stream).size}, spurious ${(stream -- batch).size}")
  }

  test("streaming semantic rejection table equals the batch incremental form") {
    val stream = Queries.all("q_stream_semantic_rejects")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    val batch = Queries.all("q_dedup_semantic_incremental")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(batch.nonEmpty, "gate vacuous: no rejected vectors in corpus")
    assert(stream == batch,
      s"missing ${(batch -- stream).size}, spurious ${(stream -- batch).size}")
  }

  test("persisted band index == in-plan store side (batch and streaming forms)") {
    // the 100 TB shape (r12 verdict #1): the store's quotient + band rows
    // are written to parquet ONCE at ingest time; both the batch arrival
    // gate and the streaming twin must be indistinguishable from their
    // self-contained in-plan variants when reading it
    import graft.operators.Dedup
    val p = java.nio.file.Files.createTempDirectory("graft_bandidx_spec").toString
    Dedup.writeBandIndex(spark, sfDir, p)
    val (bands, vectors) = Dedup.readBandIndex(spark, p)
    assert(bands.columns.sorted.toSeq == Seq("band_idx", "band_val", "sid"))
    assert(vectors.columns.sorted.toSeq == Seq("embedding", "sid"))
    // the index holds the store-side embedding QUOTIENT: one row per
    // distinct non-arrival embedding, b=64 band rows each
    val nQuotient = Tables.load(spark, sfDir, "embeddings")
      .filter(col("vec_id") % 10 =!= 0).select(col("embedding")).distinct().count()
    assert(vectors.count() == nQuotient)
    assert(bands.count() == nQuotient * 64)
    val inPlan = Queries.all("q_dedup_semantic_incremental")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    val fromIndex = Dedup.semanticIncrementalAdmission(spark, sfDir,
        Some((bands, vectors)))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(inPlan.nonEmpty, "gate vacuous: no rejected vectors in corpus")
    assert(fromIndex == inPlan, "persisted-index batch admission drift")
    val streamFromIndex = streaming.Streams
      .semanticAdmissionStream(spark, sfDir, Some((bands, vectors)))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(streamFromIndex == inPlan, "persisted-index streaming admission drift")
  }

  /** The band index as bucketed managed tables `<table>_bands` (on the
    * candidate-join key) and `<table>_vectors` (on sid) — the cluster
    * layout a deployment may hand the admission gates as frames. */
  private def bucketBandIndex(table: String): Unit = {
    val (bands, vectors) = graft.operators.Dedup.semanticStoreIndex(
      Tables.load(spark, sfDir, "embeddings"))
    sources.Layouts.writeBucketed(
      bands, s"${table}_bands", 4, Seq("band_idx", "band_val"))
    sources.Layouts.writeBucketed(vectors, s"${table}_vectors", 4, Seq("sid"))
  }

  test("bucketed band-index frames: admission gate reads the bucketed store, same rows, fewer exchanges") {
    // the gate takes its store as frames, so a bucketed store is just
    // spark.table frames: the plan must scan the bucketed tables, cut
    // the store-side exchange the path-addressed parquet store pays (the
    // registered _ingest query), and emit identical rows
    import graft.operators.Dedup
    bucketBandIndex("graft_bandidx_gate")
    def run() = Queries.all("q_dedup_semantic_incremental_ingest")(spark, sfDir)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    def nEx(df: org.apache.spark.sql.DataFrame) =
      "Exchange hashpartitioning".r
        .findAllIn(df.queryExecution.executedPlan.toString).length
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val pathDf = run()
      val pathRows = rows(pathDf)
      val bktDf = Dedup.semanticIncrementalAdmission(spark, sfDir,
        Some((spark.table("graft_bandidx_gate_bands"),
          spark.table("graft_bandidx_gate_vectors"))))
      assert(bktDf.queryExecution.executedPlan.toString
          .contains("graft_bandidx_gate"),
        "bucketed frames passed, but no bucketed-table scan in the plan")
      assert(nEx(bktDf) < nEx(pathDf),
        s"bucketed store should plan fewer exchanges " +
          s"(${nEx(bktDf)} vs ${nEx(pathDf)})")
      val bktRows = rows(bktDf)
      assert(bktRows.nonEmpty && bktRows == pathRows,
        "bucketed-layout admission drift")
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
  }

  test("persisted ANN models: round-trip exact, _ingest twins equal in-plan forms") {
    // the similarity-axis ingest factoring (r13 verdict #2): the model
    // (codebooks + viability p90 / PCA moments) is trained once and
    // persisted; a loaded model must be value-identical to an in-plan
    // fit, and each _ingest query must reproduce its twin's rows exactly
    import graft.operators.Similarity
    import Similarity.{IvfModel, PcaModel, PqModel}
    val e = Tables.load(spark, sfDir, "embeddings")
    val pI = java.nio.file.Files.createTempDirectory("graft_ivfm_spec").toString
    Similarity.writeModel(spark, pI, Similarity.ivfModelOf(e))
    assert(Similarity.readModel[IvfModel](spark, pI) == Similarity.ivfModelOf(e),
      "IVF model round-trip drift")
    val pP = java.nio.file.Files.createTempDirectory("graft_pqm_spec").toString
    Similarity.writeModel(spark, pP, Similarity.pqModelOf(e))
    assert(Similarity.readModel[PqModel](spark, pP) == Similarity.pqModelOf(e),
      "PQ model round-trip drift")
    val pC = java.nio.file.Files.createTempDirectory("graft_pcam_spec").toString
    Similarity.writeModel(spark, pC, Similarity.pcaModelOf(e))
    assert(Similarity.readModel[PcaModel](spark, pC) == Similarity.pcaModelOf(e),
      "PCA model round-trip drift")
    for (name <- Seq("q_similarity_ivf", "q_similarity_pq", "q_embed_project")) {
      val inPlan = Queries.all(name)(spark, sfDir).collect().toSeq
      val ingest = Queries.all(s"${name}_ingest")(spark, sfDir).collect().toSeq
      assert(inPlan.nonEmpty, s"$name: vacuous")
      assert(ingest == inPlan, s"$name: _ingest twin drift")
    }
  }

  test("bucketed band index: candidate join plans with one exchange (arrival side only)") {
    // the cluster form: the band table is bucketed on the join key at
    // ingest time, so the admission probe's band equi-join never
    // re-shuffles the corpus-sized store side — only the per-batch
    // arrival quotient exchanges
    import graft.operators.Dedup
    bucketBandIndex("bandidx_bkt")
    val sBand = spark.table("bandidx_bkt_bands")
    val e = Tables.load(spark, sfDir, "embeddings")
    val bCls = e.filter(col("vec_id") % 10 === 0)
      .groupBy(col("embedding")).agg(min(col("vec_id")).as("rep"))
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      def candWith(store: org.apache.spark.sql.DataFrame) =
        Dedup.bandedEmbeddings(
            bCls.select(col("rep"), col("embedding")), "rep")
          .join(store, Seq("band_idx", "band_val"))
          .select(col("rep"), col("sid")).distinct()
      val cand = candWith(sBand)
      // exchanges with the bucketed store: arrival quotient groupBy +
      // arrival band rows to the join key + the distinct — the bucketed
      // store scan contributes NONE. The differential pin: the same join
      // against the unbucketed in-plan store side pays one more (its
      // band rows must shuffle to the join key).
      def nEx(df: org.apache.spark.sql.DataFrame) =
        "Exchange hashpartitioning".r
          .findAllIn(df.queryExecution.executedPlan.toString).length
      val flat = java.nio.file.Files
        .createTempDirectory("graft_bandidx_flat").toString
      sBand.write.mode("overwrite").parquet(flat)
      val bucketed = nEx(cand)
      val unbucketed = nEx(candWith(spark.read.parquet(flat)))
      assert(bucketed == unbucketed - 1,
        s"bucketed store side must save exactly the store exchange: " +
          s"bucketed=$bucketed unbucketed=$unbucketed")
      // and the candidates equal the in-plan store side's
      val (inPlanBands, _) = Dedup.semanticStoreIndex(e)
      val expected = Dedup.bandedEmbeddings(
          bCls.select(col("rep"), col("embedding")), "rep")
        .join(inPlanBands, Seq("band_idx", "band_val"))
        .select(col("rep"), col("sid")).distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val got = cand.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == expected && got.nonEmpty)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
  }

  test("q_embed_project: score/residual satisfy the Pythagorean identity") {
    import graft.operators.Similarity
    val e = Tables.load(spark, sfDir, "embeddings")
    val out = Queries.all("q_embed_project")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getDouble(2), r.getDouble(3)))
    assert(out.length == e.count())
    val (mu, v, _, _) = Similarity.pcaModel(e)
    // independent plain-double recomputation per vector
    val vecs = e.select($"vec_id", $"embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(x =>
        BigDecimal(x.toDouble).setScale(9, BigDecimal.RoundingMode.HALF_UP)
          .toDouble).toArray).toMap
    out.foreach { case (id, score, resid) =>
      val cv = vecs(id).indices.map(p => vecs(id)(p) - mu(p))
      val dot = cv.indices.map(p => cv(p) * v(p)).sum
      val ss = cv.map(x => x * x).sum
      assert(math.abs(score - dot) < 1e-5, s"vec $id score")
      assert(math.abs(resid - math.sqrt(math.max(0, ss - dot * dot))) < 1e-5,
        s"vec $id residual")
      // projection never exceeds the vector's centered norm
      assert(score * score <= ss + 1e-6, s"vec $id Cauchy-Schwarz")
    }
  }

  test("embedding centroids: shape, counts, and agreement with plain avg") {
    val e = Tables.load(spark, sfDir, "embeddings")
    val nLabels = e.select($"label").distinct().count()
    val out = Queries.all("q_embed_centroids")(spark, sfDir).cache()
    assert(out.count() == nLabels * 64, "one row per (label, dimension)")
    // n_vecs constant across dimensions and equal to the label's count
    val counts = e.groupBy($"label").count()
    assert(out.join(counts, "label")
      .filter($"n_vecs" =!= $"count").isEmpty)
    // the decimal-routed mean agrees with the built-in double avg to 6dp
    val plain = e
      .select($"label", posexplode($"embedding").as(Seq("pos", "v")))
      .groupBy($"label", $"pos").agg(avg($"v".cast("double")).as("a"))
    assert(out.join(plain, Seq("label", "pos"))
      .filter(abs($"mean_v" - $"a") > 1e-5).isEmpty)
  }

  test("ANN LSH top-5 equals the brute-force top-5 (recall-1 band config)") {
    val bf = Queries.all("q_similarity_topk")(spark, sfDir)
      .select($"qid", $"vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Queries.all("q_similarity_lsh")(spark, sfDir)
      .select($"qid", $"vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(bf.nonEmpty && lsh == bf,
      s"missed ${(bf -- lsh).size} slots, spurious ${(lsh -- bf).size}")
  }

  test("ANN searches rank zero-vector (null) scores last, as brute force does") {
    // 3 non-zero vectors among 21 zero vectors: every query's top-5 mixes
    // real cosines with the null scores of zero vectors, which the
    // brute-force `score DESC` order ranks last
    val vecs = (0 until 24).map { v =>
      (v.toLong, Seq.tabulate(64)(j =>
        if (v < 3) math.sin(1.3 * v + 0.7 * j + 0.2).toFloat else 0f))
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_annnull").toString
    vecs.toDF("vec_id", "embedding").write.parquet(s"$dir/embeddings.parquet")
    val bf = Queries.all("q_similarity_topk")(spark, dir).collect().toSeq
    assert(bf.exists(_.isNullAt(2)) && bf.exists(!_.isNullAt(2)),
      "fixture must mix null and real scores")
    for (name <- Seq("q_similarity_lsh", "q_similarity_ivf", "q_similarity_pq"))
      assert(Queries.all(name)(spark, dir).collect().toSeq == bf,
        s"$name: ranks differ from brute force")
  }

  test("certified IVF equals brute force exactly on the test corpus") {
    // same contract as PQ: per query, either the cell-geometry
    // certificate proves probe coverage or the query falls back to brute
    // force — equality is exact, triples including rank, on ANY corpus.
    // On this structure-free one the viability gate (sample centroid
    // residuals ≫ 0.01) skips straight to the exact pass.
    val bf = Queries.all("q_similarity_topk")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    val ivf = Queries.all("q_similarity_ivf")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    assert(bf.nonEmpty && ivf == bf,
      s"missed ${(bf -- ivf).size} slots, spurious ${(ivf -- bf).size}")
    // and the certificate is honest about it: nothing certifies here
    val certs = Similarity.ivfCertificates(spark, sfDir)
    assert(certs.count() == 10 && certs.filter($"certified").count() == 0)
  }

  test("IVF certificate fires on a 16-direction corpus and stays exact") {
    // corpus = 16 distinct well-separated unit directions × 4 identical
    // copies: spherical k-means (first-16 init = one vector per
    // direction) converges with residual 0, so every copy sits exactly
    // on its cell centroid. For query i the true top-5 = its 3 other
    // copies (cos 1) + 2 copies of the best other direction; nprobe=3
    // probes {own, best, second-best} cells, and the unprobed bound is
    // the third-best direction cosine + 0 — certified whenever the
    // direction-cosine gaps clear the 2e-6 margin (asserted below, so
    // the test is self-validating rather than seed-lucky).
    val dim = 64
    val dirs: Array[Array[Double]] = Array.tabulate(16) { i =>
      val raw = Array.tabulate(dim)(j => math.sin(0.7 + 13.37 * i + 0.91 * j))
      val n = math.sqrt(raw.map(x => x * x).sum)
      raw.map(_ / n)
    }
    def cos(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map { case (x, y) => x * y }.sum
    (0 until 10).foreach { i =>
      val others = (0 until 16).filterNot(_ == i)
        .map(j => cos(dirs(i), dirs(j))).sorted(Ordering[Double].reverse)
      assert(others(2) + 2e-6 < math.rint(others(0) * 1e6) / 1e6,
        s"query direction $i: third-best ${others(2)} too close to best ${others(0)}")
    }
    val vecs = (0 until 64).map { v =>
      (v.toLong, dirs(v % 16).map(_.toFloat).toSeq)
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfcert").toString
    vecs.toDF("vec_id", "embedding").write.parquet(s"$dir/embeddings.parquet")
    val certs = Similarity.ivfCertificates(spark, dir)
    assert(certs.count() == 10 &&
      certs.filter(!$"certified").count() == 0, "expected all queries certified")
    val bf = Queries.all("q_similarity_topk")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    val ivf = Queries.all("q_similarity_ivf")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    assert(bf.nonEmpty && ivf == bf,
      s"missed ${(bf -- ivf).size} slots, spurious ${(ivf -- bf).size}")
  }

  test("certified PQ equals brute force exactly on the test corpus") {
    // the certificate proves shortlist coverage per query or falls the
    // query back to brute force, so equality is exact — triples including
    // rank — on ANY corpus. On this structure-free one, quantization
    // noise exceeds the top-5 margin and every query falls back.
    val bf = Queries.all("q_similarity_topk")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    val pq = Queries.all("q_similarity_pq")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    assert(bf.nonEmpty && pq == bf,
      s"missed ${(bf -- pq).size} slots, spurious ${(pq -- bf).size}")
    // and the certificate is honest about it: nothing certifies here
    val certs = Similarity.pqCertificates(spark, sfDir)
    assert(certs.count() == 10 && certs.filter($"certified").count() == 0)
  }

  test("PQ certificate fires on a structured corpus and stays exact") {
    // corpus built from 4 unit patterns per 4-dim subspace → every
    // subspace of every (equal-norm) vector quantizes residual-0, so
    // ADC == exact cosine and the Cauchy–Schwarz certificate proves
    // coverage for every query — no brute-force fallback — while the
    // output still equals the exact baseline.
    val dsub = 4; val m = 16
    val bank: Array[Array[Double]] = Array.tabulate(4) { c =>
      val raw = Array.tabulate(dsub)(d => math.sin(1.0 + 3 * c + d) + 1.5)
      val n = math.sqrt(raw.map(x => x * x).sum)
      raw.map(_ / n)
    }
    val vecs = (0 until 60).map { i =>
      val v = Array.tabulate(m * dsub) { j =>
        val mi = j / dsub
        // integer-hash pattern pick keeps neighbor scores generic (no
        // accidental rank-5/6 ties, which would — correctly — de-certify)
        val h = (i * 0x9E3779B1 ^ ((mi + 1) * 0x85EBCA77)) >>> 13
        bank(h % 4)(j % dsub).toFloat
      }
      (i.toLong, v.toSeq)
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_pqcert").toString
    vecs.toDF("vec_id", "embedding").write.parquet(s"$dir/embeddings.parquet")
    val certs = Similarity.pqCertificates(spark, dir)
    assert(certs.count() == 10 &&
      certs.filter(!$"certified").count() == 0, "expected all queries certified")
    val bf = Queries.all("q_similarity_topk")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    val pq = Queries.all("q_similarity_pq")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    assert(bf.nonEmpty && pq == bf,
      s"missed ${(bf -- pq).size} slots, spurious ${(pq -- bf).size}")
  }

  test("int8 quantization error stays within the round-to-nearest bound") {
    // |x/s·127 − round(x/s·127)| ≤ 0.5 ⟹ |x − q·s/127| ≤ s/254 — every
    // vector must satisfy the bound (tiny fp slack for the re-scaling)
    val bad = Queries.all("q_embed_quantize")(spark, sfDir)
      .filter($"max_err" > $"scale" / 254 * 1.0000001).count()
    assert(bad == 0, s"$bad vectors exceed the s/254 dequantization bound")
  }

  test("q_embed_outliers: flagged set is exactly the per-label z>2 distance tail") {
    val got = Queries.all("q_embed_outliers")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2), r.getDouble(3)))
    assert(got.forall(_._4 > 2.0), "every flagged row has z > 2")
    assert(got.forall(_._3 >= 0.0), "distances are non-negative")
    val total = Tables.load(spark, sfDir, "embeddings").count()
    assert(got.nonEmpty && got.length < total / 5,
      s"outliers are a tail: ${got.length} of $total")
    // brute-force recomputation (same rounding discipline, plain Scala)
    val vecs = Tables.load(spark, sfDir, "embeddings")
      .select("vec_id", "label", "embedding").collect().map(r =>
      (r.getLong(0), r.getInt(1),
        r.getSeq[Float](2).map(v => BigDecimal(v.toDouble)
          .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble).toArray))
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val dist = vecs.groupBy(_._2).toSeq.flatMap { case (label, vs) =>
      val dim = vs.head._3.length
      val cent = (0 until dim).map(p => r6(
        vs.map(v => BigDecimal(v._3(p)).setScale(9, BigDecimal.RoundingMode.HALF_UP))
          .sum.toDouble / vs.length))
      vs.map { case (id, _, v) =>
        val d2 = (0 until dim).map { p =>
          val d = v(p) - cent(p)
          BigDecimal(d * d).setScale(9, BigDecimal.RoundingMode.HALF_UP)
        }.sum
        (id, label, r6(math.sqrt(d2.toDouble)))
      }
    }
    val expect = dist.groupBy(_._2).toSeq.flatMap { case (_, ds) =>
      val n = ds.size.toDouble
      val sx = ds.map(d => BigDecimal(d._3).setScale(6, BigDecimal.RoundingMode.HALF_UP)).sum.toDouble
      val sxx = ds.map { d =>
        val b = BigDecimal(d._3).setScale(6, BigDecimal.RoundingMode.HALF_UP); b * b
      }.sum.toDouble
      val mean = r6(sx / n)
      val std = r6(math.sqrt((sxx - sx * sx / n) / (n - 1)))
      ds.map { case (id, label, d) =>
        val z = BigDecimal((d - mean) / std)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
        (id, label, d, z)
      }.filter(_._4 > 2.0)
    }.toSet
    assert(got.toSet == expect,
      s"flagged sets differ: got ${got.length}, expected ${expect.size}")
  }

  test("q_dedup_minhash_incremental: rejections = cross-side verified pairs") {
    val out = Queries.all("q_dedup_minhash_incremental")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3))))
    val batchIds = Tables.load(spark, sfDir, "documents")
      .filter(col("doc_id") % 10 === 0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(out.map(_._1).toSet == batchIds && out.length == batchIds.size,
      "one decision row per batch doc")
    // ground truth from the full-corpus verified pair set: a batch doc is
    // rejected iff some pair links it to a corpus-side (non-batch) doc
    val pairs = graft.operators.Dedup.minhashNearDupPairs(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    def isBatch(id: Long) = id % 10 == 0
    val reject = collection.mutable.Map[Long, (Long, Double)]()
    for ((a, b, j) <- pairs; (bd, cd) <- Seq((a, b), (b, a))
         if isBatch(bd) && !isBatch(cd)) {
      val (c, m) = reject.getOrElse(bd, (0L, 0.0))
      reject(bd) = (c + 1, math.max(m, j))
    }
    out.foreach { case (id, admitted, n, mj) =>
      reject.get(id) match {
        case Some((c, m)) =>
          assert(!admitted && n == c && mj.contains(m), s"doc $id")
        case None =>
          assert(admitted && n == 0 && mj.isEmpty, s"doc $id")
      }
    }
    assert(out.exists(!_._2) && out.exists(_._2),
      "corpus exercises both admission outcomes")
  }

  test("q_embed_pca: unit-norm loading aligned with an independent eigensolve") {
    val rows = Queries.all("q_embed_pca")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    val dim = rows.length
    val v = rows.sortBy(_._1).map(_._2)
    // protocol invariants: unit norm after 6-dp rounding; one var_share
    assert(math.abs(v.map(x => x * x).sum - 1.0) < 1e-4, "unit norm")
    assert(rows.map(_._3).distinct.length == 1, "var_share constant")
    val share = rows.head._3
    assert(share > 0.0 && share <= 1.0)
    // independent check: plain-double scatter matrix + 100 power steps
    // (no decimal routing — a DIFFERENT computation of the same object);
    // the 3-step protocol vector must already align with the converged
    // top eigenvector
    val vecs = Tables.load(spark, sfDir, "embeddings")
      .select("embedding").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    val n = vecs.length
    val mu = Array.tabulate(dim)(p => vecs.map(_(p)).sum / n)
    val g = Array.tabulate(dim, dim)((p, q) =>
      vecs.map(x => (x(p) - mu(p)) * (x(q) - mu(q))).sum)
    // replay the SAME 3-step protocol in plain doubles (no decimal
    // routing, no 9/12-dp rounding) — the engine vector must match up to
    // rounding noise. (Alignment with the fully-converged eigenvector is
    // NOT a law here: near-random embeddings have a flat spectrum, so 3
    // power steps provably cannot converge on them.)
    def rayleigh(x: Array[Double]): Double = {
      val nn = x.map(a => a * a).sum
      (0 until dim).map(p =>
        (0 until dim).map(q => g(p)(q) * x(q)).sum * x(p)).sum / nn
    }
    var t = Array.fill(dim)(1.0 / math.sqrt(dim.toDouble))
    val r0 = rayleigh(t)
    var lamP = 0.0
    for (_ <- 1 to 3) {
      val y = Array.tabulate(dim)(p => (0 until dim).map(q => g(p)(q) * t(q)).sum)
      lamP = math.sqrt(y.map(x => x * x).sum)
      t = y.map(_ / lamP)
    }
    val cos = math.abs(v.zip(t).map { case (a, b) => a * b }.sum)
    assert(cos > 0.9999, s"engine drifted from the plain-double protocol: $cos")
    // power iteration never decreases the Rayleigh quotient, and the
    // eigenvalue estimate stays inside the spectrum (≤ trace)
    val trace = (0 until dim).map(p => g(p)(p)).sum
    val r3 = rayleigh(t)
    assert(r3 >= r0 - 1e-9, s"Rayleigh decreased: $r0 -> $r3")
    assert(lamP > 0 && lamP <= trace + 1e-9)
    // var_share equals the plain-double lam/trace up to rounding noise
    assert(math.abs(share - lamP / trace) / (lamP / trace) < 1e-3,
      s"var_share $share vs plain-double ${lamP / trace}")
  }

  test("PqEncode picks the L2-argmin sub-centroid, ties to the lower index") {
    import graft.functions.Pq
    // 2 subspaces of dim 2; centroids chosen so expected codes are obvious
    val cb = Seq(
      Seq(Seq(0f, 0f), Seq(10f, 10f)),
      Seq(Seq(5f, 5f), Seq(5f, 5f), Seq(-5f, -5f)))
    val df = Seq((1L, Seq(1f, 1f, 4f, 6f)), (2L, Seq(9f, 9f, -4f, -6f)))
      .toDF("id", "v")
    val got = df.select($"id", Pq.pqEncode($"v", cb).as("code"))
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1))).toMap
    assert(got(1L) == Seq(0, 0), "tie between equal centroids must pick index 0")
    assert(got(2L) == Seq(1, 2))
  }

  test("embedding LSH pairs equal the exact pairs (recall-1 band config)") {
    val exact = Queries.all("q_dedup_embedding")(spark, sfDir)
      .select($"vec_a", $"vec_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Queries.all("q_dedup_embedding_lsh")(spark, sfDir)
      .select($"vec_a", $"vec_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty && lsh == exact,
      s"missed ${(exact -- lsh).size} pairs, spurious ${(lsh -- exact).size}")
  }

  test("semantic dedup quotient equals the member-expanded formula") {
    import org.apache.spark.sql.DataFrame
    import graft.functions.Sketches
    import graft.operators.Dedup
    // the pre-quotient shape, with exact quadratic pairs (small inputs):
    // member-level components, member-level keeper election
    def expanded(e: DataFrame): Set[(Long, Long, Double)] = {
      val a = e.select($"vec_id".as("va"), $"embedding".as("ea"))
      val b = e.select($"vec_id".as("vb"), $"embedding".as("eb"))
      val pairs = a.join(b, col("va") < col("vb"))
        .withColumn("cos", round(Sketches.cosineSim($"ea", $"eb"), 6))
        .filter($"cos" >= 0.45)
        .select($"va".as("doc_a"), $"vb".as("doc_b"))
      val norms = e.select($"vec_id", expr(
        """round(sqrt(aggregate(embedding, cast(0.0 as double),
          |  (acc, x) -> acc + cast(x as double) * cast(x as double))), 6)"""
          .stripMargin).as("norm"))
      val labels = operators.LabelPropagation.connectedComponents(pairs)
      val memb = norms.join(labels, norms("vec_id") === labels("id"), "left_outer")
        .select($"vec_id", coalesce($"label", $"vec_id").as("label"), $"norm")
      val keep = memb.groupBy($"label").agg(
        max(struct($"norm", (-$"vec_id").as("negid"))).as("k"),
        count(lit(1)).cast("long").as("cluster_size"))
        .select($"label", (-$"k.negid").as("keeper"), $"cluster_size")
      memb.join(keep, "label").filter($"vec_id" === $"keeper")
        .select($"vec_id", $"cluster_size", $"norm")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    }
    def quotient(e: DataFrame) = Dedup.semanticDedupOf(e)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // fixture: a 3-copy group near-dup to a 2-copy group (one component of
    // 5), a ZERO-vector pair (self-cosine null → members stay mutual
    // singletons), and an unrelated singleton
    val v1 = Array(1f, 0f, 0f, 0f)
    val v2 = Array(0.9f, 0.1f, 0f, 0f)
    val z = Array(0f, 0f, 0f, 0f)
    val far = Array(0f, 1f, 0f, 0f)
    val fix = Seq(1L -> v1, 2L -> v1, 3L -> v1, 4L -> v2, 5L -> v2,
      6L -> z, 7L -> z, 8L -> far).toDF("vec_id", "embedding")
    val got = quotient(fix)
    assert(got == expanded(fix), s"got=$got")
    assert(got.map(_._1) == Set(1L, 6L, 7L, 8L), got.toString)
    assert(got.find(_._1 == 1L).get._2 == 5L) // component of 5, keeper norm 1.0
    assert(got.count(_._2 == 1L) == 3) // two zero copies + far, all singletons
    // and on the corpus (the registered query's input)
    val corpus = Tables.load(spark, sfDir, "embeddings")
    assert(quotient(corpus) == expanded(corpus))
  }

  test("semantic decontamination: gate consistent with the exact pair set") {
    val out = Queries.all("q_decontaminate_semantic")(spark, sfDir).cache()
    try {
      val e = Tables.load(spark, sfDir, "embeddings")
      // one row per training vector, kept is exactly the threshold gate
      assert(out.count() == e.filter($"vec_id" >= 50).count())
      assert(out.filter($"kept" =!= ($"max_benchmark_cos" < 0.45)).isEmpty)
      assert(out.filter($"max_benchmark_cos" > 1.000001 ||
        $"max_benchmark_cos" < -1.000001).isEmpty)
      // dropped ⟺ the UNCAPPED exact quadratic pair set holds a ≥0.45
      // pair against a benchmark id. Built here rather than reusing
      // q_dedup_embedding, whose vec_id < 1000 cap would miss a training
      // vector ≥ 1000 contaminated on a regenerated corpus and fail this
      // equality spuriously.
      val contaminated = e.filter($"vec_id" >= 50)
        .select($"vec_id", $"embedding".as("t_emb"))
        .crossJoin(broadcast(
          e.filter($"vec_id" < 50).select($"embedding".as("b_emb"))))
        .filter(round(graft.functions.Sketches.cosineSim($"t_emb", $"b_emb"), 6) >= 0.45)
        .select($"vec_id").distinct()
      val dropped = out.filter(!$"kept").select($"vec_id")
      assert(dropped.exceptAll(contaminated).isEmpty &&
        contaminated.exceptAll(dropped).isEmpty)
    } finally out.unpersist()
  }

  test("semantic decontamination keeps a zero training vector (null-safe gate)") {
    // cos(0, ·) is undefined → max_benchmark_cos null; kept must coalesce
    // to TRUE (no similarity to any benchmark item), or a downstream
    // boolean filter would read the null as false and drop the vector
    val dir = java.nio.file.Files.createTempDirectory("graft_zerovec").toString
    Seq(
      (0L, Array(1f, 0f, 0f), 0),  // benchmark side (vec_id < 50)
      (50L, Array(0f, 0f, 0f), 0), // zero training vector
      (51L, Array(1f, 0f, 0f), 0)) // contaminated training vector
      .toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    val out = Queries.all("q_decontaminate_semantic")(spark, dir).collect()
      .map(r => r.getLong(0) -> ((Option(r.get(1)), r.getBoolean(2)))).toMap
    assert(out(50L) == ((None, true)), s"zero vector must be kept: $out")
    assert(!out(51L)._2, s"contaminated vector must be dropped: $out")
  }

  test("minhash LSH near-dup pairs match simhash near-dup pairs on corpus") {
    val mh = Queries.all("q_dedup_minhash_lsh")(spark, sfDir)
      .select($"doc_a", $"doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sh = Queries.all("q_dedup_simhash")(spark, sfDir)
      .select($"doc_a", $"doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mh.nonEmpty, "corpus has planted near-duplicates")
    assert(mh == sh, "two independent sketches agree on the dup set")
  }
}
