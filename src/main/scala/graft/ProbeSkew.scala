package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Adversarial-skew probe (r12): drives the hot-class paths over a
  * [[ScaleData]] corpus generated with `skewPct > 0` — a planted
  * mega-class that is one text / one domain / one image / one audio / one
  * video class at ~10% of the corpus — and reports WALL time plus MAX
  * SINGLE-TASK time for each. Max-task is the skew tell the uniform
  * corpora can't produce: a path that serializes a mega-class onto one
  * task shows max-task ≈ wall (the single-task tail), while a skew-safe
  * shape keeps max-task a small fraction of wall. Every aspect checks its
  * result against a closed-form arithmetic oracle (the codec class ⟺
  * doc_id-residue bijections MultimodalSpec pins), so the probe is a
  * correctness gate at probe scale, not just a stopwatch.
  *
  * Usage: tools/run.sh graft.ProbeSkew <skewedSfDir> [aspects]
  *   aspects ⊆ ingest,joint,pairs,caps,strata,hh,semantic,mix
  *   (comma list; default all — an unknown name fails loudly rather than
  *   silently printing nothing, r12 advice)
  *   `pairs` is for ≤100× corpora ONLY: the pair form's TRUE output on
  *   the planted class is C(m,2) — ~1.5G rows at 1000×, which OOMs the
  *   8g probe heap BY DESIGN (the documented guidance is the clusters/
  *   keeper twins at that scale; every other aspect runs at 1000×).
  * Generate the corpus first, e.g.:
  *   tools/run.sh graft.ScaleData /root/testdata/sf0.01 /tmp/skew100 \
  *     100 documents,embeddings 10
  */
object ProbeSkew {

  /** Tracks the longest single task across everything run while attached
    * — the skew signal (one straggler task = one buffered mega-class). */
  private final class MaxTaskListener extends SparkListener {
    val maxMs = new java.util.concurrent.atomic.AtomicLong(0L)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskInfo != null)
        maxMs.getAndUpdate(m => math.max(m, e.taskInfo.duration))
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "args: <skewedSfDir> [aspects]")
    val dir = args(0)
    val knownAspects =
      Set("ingest", "joint", "pairs", "caps", "strata", "hh", "semantic", "mix")
    val aspects: Set[String] =
      if (args.length > 1) args(1).split(",").map(_.trim).toSet
      else knownAspects
    require(aspects.subsetOf(knownAspects),
      s"unknown aspects ${aspects -- knownAspects} — known: " +
        knownAspects.toSeq.sorted.mkString(","))
    val spark = Harness.session(Harness.cpus)
    Tables.preflight(spark, dir)

    val docs = Tables.load(spark, dir, "documents")
    val planted = docs.filter(col("text") === ScaleData.HotText)
      .agg(count(lit(1)).as("m"), min(col("doc_id")).as("lo")).head()
    val m = planted.getLong(0)
    require(m > 0, s"$dir has no planted mega-class — generate with skewPct > 0")
    val plantedLo = planted.getLong(1)
    println(s"[skew] corpus ${docs.count()} docs, mega-class $m members (ids >= $plantedLo)")

    def timed[A](label: String)(f: => A): A = {
      val l = new MaxTaskListener
      spark.sparkContext.addSparkListener(l)
      val t0 = System.nanoTime()
      val r = f
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(1000) // listener bus is async; let task-end events drain
      spark.sparkContext.removeSparkListener(l)
      println(f"[skew] $label%-22s wall ${wall}%8.2f s   max-task ${l.maxMs.get / 1000.0}%7.2f s")
      r
    }

    def check(label: String, engine: DataFrame, closed: DataFrame): Unit = {
      val e = timed(label)(Harness.checksum(engine))
      val c = Harness.checksum(closed)
      require(e == c, s"$label checksum mismatch: engine $e != closed-form $c")
      println(s"[skew] $label OK: ${e._1} rows, checksum ${e._2}")
    }

    // ingest: the de-skewed class facts — closed form via the residue
    // bijections (img ⟺ mod 96, audio ⟺ mod 35, video ⟺ mod 348)
    if (aspects("ingest")) {
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
      check("ingest", SparkEntry.queries("q_multimodal_ingest")(spark, dir), closed)
    }

    // joint: LSS label propagation with a class that is hot in EVERY
    // modality at once — arithmetic twin runs the identical quotient/
    // edge/LSS/label structure on residue keys instead of decoded
    // fingerprints (equal by the pinned bijections)
    if (aspects("joint")) {
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
      check("joint", SparkEntry.queries("q_dedup_joint")(spark, dir), closed)
    }

    // pairs: the member-pair expansion with a mega-class — the per-row
    // array in the expansion is |B|-sized, so the hot class is the case
    // that would OOM a naive |A|·|B| array. The planted block pairs
    // exactly C(m,2) ways with itself (all planted ids sit past every
    // replicated id, so a both-ends-planted filter isolates them).
    if (aspects("pairs")) {
      val pairs = timed("pairs(perceptual)") {
        val p = SparkEntry.queries("q_multimodal_perceptual")(spark, dir)
        p.filter(col("doc_a") >= plantedLo && col("doc_b") >= plantedLo).count()
      }
      val expected = m * (m - 1) / 2
      require(pairs == expected,
        s"hot-class member pairs $pairs != C($m,2) = $expected")
      println(s"[skew] pairs OK: $pairs hot-class pairs")
    }

    // caps: per-domain cap with one domain holding the whole mega-class —
    // keep sizes must equal min(k, |domain|) per domain
    if (aspects("caps")) {
      val kept = timed("caps(domain)") {
        SparkEntry.queries("q_domain_caps")(spark, dir)
          .groupBy(col("domain")).agg(count(lit(1)).as("n"))
      }
      val k = operators.PipelineOps.DomainCapK
      val closed = operators.PipelineOps
        .withUrl(docs.select(col("doc_id"), col("source")))
        .select(operators.PipelineOps.domainOfUrl(col("url")).as("domain"))
        .groupBy(col("domain"))
        .agg(least(count(lit(1)), lit(k.toLong)).as("n"))
      val e = Harness.checksum(kept)
      val c = Harness.checksum(closed)
      require(e == c, s"caps keep-size mismatch: engine $e != closed-form $c")
      println(s"[skew] caps OK: ${e._1} domains, hot domain capped at $k")
    }

    // strata: per-lang stratified quota with the planted block all in ONE
    // lang — the r12 heap rewrite must agree with the window form (the
    // old implementation, kept here as the arithmetic twin: correct at
    // any scale, single-task-serial at this one)
    if (aspects("strata")) {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("lang"))
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      val closed = docs
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 5)
        .select(col("lang"), col("doc_id"), col("rn"))
      check("strata", SparkEntry.queries("q_sample_stratified")(spark, dir), closed)
    }

    // hh: the mega-class text makes its 3 tokens unambiguous heavy
    // hitters at ANY scale (~9% of the token stream each at skewPct=10) —
    // the corpus where the streaming Misra–Gries sketch provably fires
    if (aspects("hh")) {
      val hh = timed("heavy-hitters") {
        SparkEntry.queries("q_stream_heavy_hitters")(spark, dir).collect()
      }
      val tokens = hh.map(_.getString(0)).toSet
      val want = Set("boilerplate", "cookie", "copyright")
      require(want.subsetOf(tokens),
        s"planted heavy hitters missing: got ${tokens.take(10)}")
      println(s"[skew] hh OK: ${hh.length} verified heavy hitters, planted 3 present")
    }

    // semantic: the embedding family under a hot embedding at ~skewPct of
    // the table (r12 verdict #3). The planted class sits on BOTH sides of
    // the admission split (~10% arrivals, 90% store), so the band join
    // sees a 10%-duplicated key family; closed forms:
    //  - every planted ARRIVAL is rejected at max_cos exactly 1.0 (its
    //    store twin is the identical vector);
    //  - the streaming twin equals the batch gate row-for-row;
    //  - SemDeDup elects the planted class rep as its component keeper
    //    (the hot vector's norm dominates by construction) with
    //    cluster_size ≥ m (≥: background classes may legitimately merge).
    if (aspects("semantic")) {
      val emb = Tables.load(spark, dir, "embeddings")
      val hot = emb.groupBy(col("embedding"))
        .agg(count(lit(1)).as("n"), min(col("vec_id")).as("rep"))
        .orderBy(col("n").desc).select(col("n"), col("rep")).head()
      val (mEmb, hotRep) = (hot.getLong(0), hot.getLong(1))
      require(mEmb > 1, s"$dir has no planted hot embedding — regenerate " +
        "with skewPct > 0 (ScaleData plants it on the embeddings table)")
      println(s"[skew] hot embedding: $mEmb members, rep $hotRep")
      val hotArrivals = emb.filter(col("embedding") === array_repeat(
          lit(ScaleData.HotEmbeddingValue), size(col("embedding"))) &&
          col("vec_id") % 10 === 0)
        .select(col("vec_id")).collect().map(_.getLong(0)).toSet
      require(hotArrivals.nonEmpty, "no planted arrivals (all ids store-side?)")
      val batch = timed("semantic(incremental)") {
        SparkEntry.queries("q_dedup_semantic_incremental")(spark, dir)
          .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      }
      hotArrivals.foreach { id =>
        require(batch.get(id).contains(1.0),
          s"planted arrival $id: expected max_cos 1.0, got ${batch.get(id)}") }
      val stream = timed("semantic(stream)") {
        SparkEntry.queries("q_stream_semantic_rejects")(spark, dir)
          .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      }
      require(stream == batch,
        s"stream != batch: missing ${(batch.keySet -- stream.keySet).take(5)}, " +
          s"spurious ${(stream.keySet -- batch.keySet).take(5)}")
      val sem = timed("semantic(dedup)") {
        SparkEntry.queries("q_dedup_semantic")(spark, dir)
          .filter(col("vec_id") === hotRep)
          .select(col("cluster_size")).collect()
      }
      require(sem.length == 1 && sem(0).getLong(0) >= mEmb,
        s"hot component keeper/size wrong: ${sem.toSeq} (want one row ≥ $mEmb)")
      println(s"[skew] semantic OK: ${hotArrivals.size} planted arrivals " +
        s"rejected at 1.0, hot component size ${sem(0).getLong(0)}")
    }

    // mix: DSIR importance scoring with the boilerplate mega-class at
    // ~skewPct of the corpus (r14 — the mixture axis's skew probe). The
    // planted block is pure source-side mass (no target doc contains
    // HotText), so DSIR must (a) not blow up — the gram stream is the
    // only corpus-sized flow and never self-joins, identical texts cost
    // bandwidth, not candidates; and (b) rank the mega-class at the
    // BOTTOM: its grams' buckets carry huge source counts against
    // Laplace-only target counts, so its log importance weight sits
    // far below the arrival median. Closed forms:
    //  - every planted arrival scores ONE identical (n_grams, logweight)
    //    pair (identical text ⇒ identical grams ⇒ identical score);
    //  - that shared logweight < the median arrival logweight;
    //  - the streaming twin equals the incremental batch pass row-for-row
    //    (per-micro-batch scoring concatenates to the global scoring).
    if (aspects("mix")) {
      val batch = timed("mix(incremental)") {
        SparkEntry.queries("q_mix_dsir_incremental")(spark, dir)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      }
      val stream = timed("mix(stream)") {
        SparkEntry.queries("q_stream_mix_dsir")(spark, dir)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      }
      // the incremental query is the deterministic top-100 of the same
      // scoring the stream emits in full — every ranked row must appear
      // identically in the stream's score table
      val streamSet = stream.toSet
      val missing = batch.filterNot(streamSet)
      require(missing.isEmpty,
        s"incremental top-K rows absent from the streaming scores: ${missing.take(3).toSeq}")
      val plantedArrivals = docs
        .filter(col("text") === ScaleData.HotText && col("doc_id") % 10 === 0
          && col("doc_id") >= 50)
        .select(col("doc_id")).collect().map(_.getLong(0)).toSet
      require(plantedArrivals.nonEmpty, "no planted arrival docs (all ids store-side?)")
      val byId = stream.map(r => r._1 -> (r._2, r._3)).toMap
      val plantedScores = plantedArrivals.map(byId(_))
      require(plantedScores.size == 1,
        s"mega-class scores diverged: ${plantedScores.take(3)}")
      val hotW = plantedScores.head._2
      val others = stream.collect {
        case (id, _, w) if !plantedArrivals(id) => w }.sorted
      val medianW = others(others.length / 2)
      require(hotW < medianW,
        s"boilerplate mega-class not dispreferred: planted $hotW vs arrival median $medianW")
      println(s"[skew] mix OK: ${stream.length} arrivals scored, " +
        s"${plantedArrivals.size} planted at logweight $hotW < median $medianW")
    }

    spark.stop()
  }
}
