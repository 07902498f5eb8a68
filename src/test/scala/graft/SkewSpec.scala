package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The hot-class paths over a corpus with a planted mega-class: a
  * [[ScaleData.write]] corpus of sf0.001 (3 copies, documents and
  * embeddings, skewPct 10) whose planted block is one text / one domain /
  * one image / one audio / one video class and one embedding, each ~10% of
  * its table. Every aspect checks the engine against a closed-form
  * arithmetic twin (the codec class ⟺ doc_id-residue bijections
  * MultimodalSpec pins), so a path that mishandles a mega-class fails here
  * whatever its speed. Wall and max-task time of a large skewed corpus come
  * from `graft.Probe stages <query> <scaleDir>`.
  */
class SkewSpec extends SparkSpec {
  lazy val dir: String = {
    val out = Files.createTempDirectory("graft_skew").toString + "/corpus"
    ScaleData.write(spark, sfDir, out, 3, Set("documents", "embeddings"), 10)
    out
  }
  lazy val docs: DataFrame = Tables.load(spark, dir, "documents")
  /** Size and lowest doc_id of the planted text class. */
  lazy val (m, plantedLo) = {
    val r = docs.filter(col("text") === ScaleData.HotText)
      .agg(count(lit(1)), min(col("doc_id"))).head()
    (r.getLong(0), r.getLong(1))
  }

  def query(name: String): DataFrame = SparkEntry.queries(name)(spark, dir)

  def assertSame(engine: DataFrame, closed: DataFrame): Unit = {
    val e = Harness.checksum(engine)
    assert(e._1 > 0, "empty engine result")
    assert(e == Harness.checksum(closed))
  }

  test("the skewed corpus holds the planted mega-class: skewPct of the final documents") {
    val n = docs.count()
    assert(m == (n - m) * 10 / 90, s"$m planted of $n docs")
    assert(m > 100)
    // planted ids sit past every replicated id, on residue 0 of every codec period
    assert(docs.filter(col("doc_id") >= plantedLo).count() == m)
    assert(docs.filter(col("doc_id") >= plantedLo &&
      col("doc_id") % ScaleData.ModalityLcm =!= 0).isEmpty)
  }

  // ingest: the de-skewed class facts — closed form via the residue
  // bijections (img ⟺ mod 96, audio ⟺ mod 35, video ⟺ mod 348)
  test("ingest: class facts equal the residue closed form") {
    val ids = docs.select(col("doc_id"))
    def facts(mod: Int, p: String) =
      ids.groupBy((col("doc_id") % mod).as(s"${p}_k"))
        .agg(min(col("doc_id")).as(s"${p}_keeper"),
          count(lit(1)).as(s"${p}_copies"))
    val closed = ids
      .withColumn("img_k", col("doc_id") % 96)
      .withColumn("audio_k", col("doc_id") % 35)
      .withColumn("video_k", col("doc_id") % 348)
      .join(facts(96, "img"), "img_k")
      .join(facts(35, "audio"), "audio_k")
      .join(facts(348, "video"), "video_k")
      .select(col("doc_id"),
        col("img_keeper"), col("img_copies"),
        col("audio_keeper"), col("audio_copies"),
        col("video_keeper"), col("video_copies"))
    assertSame(query("q_multimodal_ingest"), closed)
  }

  // joint: LSS components with a class that is hot in EVERY modality at
  // once — the twin runs the same quotient/edge/LSS/label structure on
  // residue keys instead of decoded fingerprints (equal by the bijections)
  test("joint: components over a class hot in every modality equal the residue twin") {
    val d = docs.select(col("doc_id"), col("text"))
    def withRep(mod: Int, rep: String) = {
      val keyed = d.select(col("doc_id"), (col("doc_id") % mod).as("k"))
      keyed.join(keyed.groupBy(col("k")).agg(min(col("doc_id")).as(rep)), "k")
        .select(col("doc_id"), col(rep))
    }
    val tg = d.groupBy(col("text")).agg(min(col("doc_id")).as("gid"))
    val withGid = d.join(tg, "text").select(col("doc_id"), col("gid"))
    val mods = withGid.join(withRep(96, "img_rep"), "doc_id")
      .join(withRep(35, "aud_rep"), "doc_id")
      .join(withRep(348, "vid_rep"), "doc_id")
    val combos = mods.select(col("gid"), col("img_rep").as("mrep"))
      .unionByName(mods.select(col("gid"), col("aud_rep").as("mrep")))
      .unionByName(mods.select(col("gid"), col("vid_rep").as("mrep")))
      .distinct()
    val ndPairs = operators.Dedup
      .minhashRepPairs(tg.select(col("gid").as("doc_id"), col("text")))
      .select(col("doc_a"), col("doc_b"))
    val edges = combos.filter(col("gid") =!= col("mrep"))
      .select(col("gid").as("doc_a"), col("mrep").as("doc_b"))
      .unionByName(ndPairs)
    val labels = operators.Dedup.connectedComponentsLss(edges)
    val lab = withGid
      .join(labels.withColumnRenamed("id", "gid"), Seq("gid"), "left_outer")
      .select(col("doc_id"), coalesce(col("label"), col("gid")).as("cluster_rep"))
    val closed = lab.join(
        lab.groupBy(col("cluster_rep")).agg(count(lit(1)).as("cluster_size")),
        "cluster_rep")
      .select(col("doc_id"), col("cluster_rep"), col("cluster_size"))
    assertSame(query("q_dedup_joint"), closed)
  }

  // pairs: the member-pair expansion's per-row array is |B|-sized, so the
  // hot class is the case that would OOM a naive |A|·|B| array. The planted
  // block pairs exactly C(m,2) ways with itself (all planted ids sit past
  // every replicated id, so a both-ends-planted filter isolates them)
  test("pairs: the planted class expands to exactly C(m,2) member pairs") {
    val pairs = query("q_multimodal_perceptual")
      .filter(col("doc_a") >= plantedLo && col("doc_b") >= plantedLo).count()
    assert(pairs == m * (m - 1) / 2)
  }

  // caps: one domain holds the whole mega-class — keep sizes must equal
  // min(k, |domain|) per domain
  test("caps: per-domain keep sizes are min(k, |domain|) with one hot domain") {
    val kept = query("q_domain_caps").groupBy(col("domain")).agg(count(lit(1)).as("n"))
    val k = operators.PipelineOps.DomainCapK
    val closed = operators.PipelineOps
      .withUrl(docs.select(col("doc_id"), col("source")))
      .select(operators.PipelineOps.domainOfUrl(col("url")).as("domain"))
      .groupBy(col("domain"))
      .agg(least(count(lit(1)), lit(k.toLong)).as("n"))
    assertSame(kept, closed)
  }

  // strata: the planted block is all in ONE lang — the heap form must agree
  // with the window form (correct at any scale, single-task-serial here)
  test("strata: the stratified sample equals the window-form twin with one hot lang") {
    val w = Window.partitionBy(col("lang"))
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    val closed = docs
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 5)
      .select(col("lang"), col("doc_id"), col("rn"))
    assertSame(query("q_sample_stratified"), closed)
  }

  // hh: the mega-class text makes its 3 tokens unambiguous heavy hitters at
  // ANY scale (~9% of the token stream each at skewPct=10)
  test("hh: the streaming heavy hitters include the three planted tokens") {
    val tokens = query("q_stream_heavy_hitters").collect().map(_.getString(0)).toSet
    assert(Set("boilerplate", "cookie", "copyright").subsetOf(tokens))
  }

  // semantic: the planted vector sits on BOTH sides of the admission split
  // (~10% arrivals, 90% store), so the band join sees a 10%-duplicated key
  // family. Every planted ARRIVAL is rejected at max_cos exactly 1.0 (its
  // store twin is the identical vector); the streaming twin equals the
  // batch gate row-for-row; SemDeDup elects the planted class rep as its
  // component keeper (the hot vector's norm dominates by construction) with
  // cluster_size ≥ m (≥: background classes may legitimately merge)
  test("semantic: planted arrivals reject at 1.0, stream equals batch, the hot keeper holds ≥ m") {
    val emb = Tables.load(spark, dir, "embeddings")
    val hot = emb.groupBy(col("embedding"))
      .agg(count(lit(1)).as("n"), min(col("vec_id")).as("rep"))
      .orderBy(col("n").desc).select(col("n"), col("rep")).head()
    val (mEmb, hotRep) = (hot.getLong(0), hot.getLong(1))
    assert(mEmb > 1, "no planted hot embedding")
    val hotArrivals = emb.filter(col("embedding") === array_repeat(
        lit(ScaleData.HotEmbeddingValue), size(col("embedding"))) &&
        col("vec_id") % 10 === 0)
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    assert(hotArrivals.nonEmpty, "no planted arrivals")
    val batch = query("q_dedup_semantic_incremental")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    hotArrivals.foreach(id => assert(batch.get(id).contains(1.0), s"planted arrival $id"))
    val stream = query("q_stream_semantic_rejects")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(stream == batch)
    val sem = query("q_dedup_semantic").filter(col("vec_id") === hotRep)
      .select(col("cluster_size")).collect().map(_.getLong(0))
    assert(sem.length == 1 && sem(0) >= mEmb, s"hot keeper rows ${sem.toSeq}, want one ≥ $mEmb")
  }

  // mix: the planted block is pure source-side mass (no target doc contains
  // HotText), so DSIR ranks it at the BOTTOM: its grams' buckets carry huge
  // source counts against Laplace-only target counts. Every planted arrival
  // scores ONE identical (n_grams, logweight) pair below the arrival
  // median, and the incremental top-K rows appear identically in the
  // streaming scores (per-micro-batch scoring concatenates to the global)
  test("mix: DSIR scores the planted class once, below the arrival median") {
    val batch = query("q_mix_dsir_incremental")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val stream = query("q_stream_mix_dsir")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(batch.nonEmpty)
    assert(batch.filterNot(stream.toSet).isEmpty)
    val plantedArrivals = docs
      .filter(col("text") === ScaleData.HotText && col("doc_id") % 10 === 0
        && col("doc_id") >= 50)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(plantedArrivals.nonEmpty, "no planted arrival docs")
    val byId = stream.map(r => r._1 -> (r._2, r._3)).toMap
    val plantedScores = plantedArrivals.map(byId(_))
    assert(plantedScores.size == 1, s"mega-class scores diverged: ${plantedScores.take(3)}")
    val others = stream.collect { case (id, _, w) if !plantedArrivals(id) => w }.sorted
    assert(plantedScores.head._2 < others(others.length / 2))
  }

  test("Probe warms up on nation when present, else on the first present table") {
    assert(Probe.warmUp(spark, dir) == "documents")
    assert(Probe.warmUp(spark, sfDir) == "nation")
  }

  /** `ScaleData.write` with these arguments must throw before it
    * creates its out dir; returns the message. */
  def refused(copies: Int, tables: Set[String]): String = {
    val out = Files.createTempDirectory("graft_scale_args").toString + "/out"
    val e = intercept[IllegalArgumentException](
      ScaleData.write(spark, sfDir, out, copies, tables, 10))
    assert(!Files.exists(java.nio.file.Paths.get(out)))
    e.getMessage
  }

  test("ScaleData.write refuses zero copies before writing anything") {
    assert(refused(0, Set("documents")).contains("copies"))
  }

  test("ScaleData.write refuses an unknown table name before writing anything") {
    assert(refused(3, Set("document")).contains("unknown tables document"))
    assert(refused(3, Set("documents", "embedings")).contains("unknown tables embedings"))
  }
}
