package graft

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Bench-only scale-up replicator: derives an ~Nx dataset from an existing
  * scale-factor dir by unioning key-shifted copies, so scaling cliffs the
  * small-SF numbers hide (quadratic candidate growth, spill thresholds,
  * skew) show up locally. NOT part of the correctness surface — oracles
  * run only on the driver-provided corpora.
  *
  * Shape choices:
  *  - documents: each copy transliterates its text by a rotated vowel
  *    mapping — most docs become unique, while copies sharing a rotation
  *    (10 copies over 6 rotations) form planted exact-dup groups, a
  *    realistic dup-heavy crawl.
  *  - embeddings: copies keep identical vectors → every vector sits in an
  *    exact-dup cluster of N, stress-testing the near-dup path's bucket
  *    and verify volume.
  *  - lineitem/orders: orderkeys shift consistently so joins stay sound;
  *    dimension tables stay single-copy (10x facts per dimension row).
  *  - events: event_ids shift; timestamps repeat (10x events per day).
  *
  * Usage: runMain graft.ScaleData <srcSfDir> <outDir> [copies] [tables] [skewPct]
  * (tables = comma list to replicate a subset, e.g. "documents,embeddings"
  * for a deep text/embedding probe without paying for 1000x events)
  *
  * skewPct > 0 plants the ADVERSARIAL-SKEW block the uniform replication
  * above cannot produce: real crawls have mega-classes (one blank image /
  * silence clip / boilerplate page duplicated billions of times), and the
  * hot-class paths — ingest class facts, joint-class label propagation,
  * member-pair expansions, per-domain caps — never see one on the mod-
  * rotated corpora. The block is `skewPct` percent of the final document
  * count, every row of which shares
  *  - ONE text (a 180-token page over a 3-word vocabulary, so its tokens
  *    are unambiguous >3% heavy hitters at ANY scale — the corpus where
  *    q_stream_heavy_hitters provably fires, scale-invariantly);
  *  - ONE source (⇒ one hot domain for the cap operators; planted ids are
  *    ≡0 mod 3, so the derived domain is single); and
  *  - ONE class in EVERY codec modality: planted doc_ids are multiples of
  *    lcm(96, 35, 348) = 97 440, the period of the image / audio / video
  *    generator patterns, so all planted payloads are byte-identical per
  *    modality — the mega-class lands on the image class of residue 0,
  *    the audio class of residue 0, and the video class of residue 0
  *    simultaneously (the harshest joint-class case).
  * Planted ids start at the first multiple of lcm beyond every replicated
  * id, so they collide with nothing while keeping residue 0.
  */
object ScaleData {
  /** Period of all three codec generator patterns: lcm(96, 35, 348). */
  val ModalityLcm: Long = 97440L
  /** The planted mega-class text: 3 distinct tokens × 60 — each token is
    * ~9% of the skewed corpus' token stream at skewPct=10 (base docs
    * average ~54 tokens), far above the 1/(k+1)=1/30 heavy-hitter bar. */
  val HotText: String =
    Seq.fill(60)("boilerplate").concat(Seq.fill(60)("cookie"))
      .concat(Seq.fill(60)("copyright")).mkString(" ")
  /** Every component of the planted hot EMBEDDING (r12 verdict #3 — the
    * semantic-family mega-class the text/domain/codec block doesn't
    * cover). Constant vector: self-cosine is exactly 1.0 (so every
    * planted arrival's closed-form max_cos is 1.0), and the magnitude is
    * chosen ≫ any generated embedding's norm so the hot component's
    * SemDeDup keeper is provably the planted class rep — cosine itself
    * is scale-invariant, so the size only pins the keeper election. */
  val HotEmbeddingValue: Float = 100.0f

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "args: <srcSfDir> <outDir> [copies] [tables] [skewPct]")
    val (src, out) = (args(0), args(1))
    val copies = if (args.length > 2) args(2).toInt else 10
    val only: Set[String] =
      if (args.length > 3) args(3).split(",").map(_.trim).toSet else Set.empty
    val skewPct = if (args.length > 4) args(4).toInt else 0
    require(skewPct >= 0 && skewPct < 100, s"skewPct in [0,100): $skewPct")
    // FIXED default width: derived-parquet part-file layout follows the
    // generating session's parallelism, and layout sets scan split counts
    // downstream — two corpora generated at different widths bench
    // differently on scan-bound queries (measured, r11 sf1 refresh).
    // Override SPARK_GRAFT_CPUS consciously, and record it next to the
    // artifact if you do; shuffle width stays 32 either way.
    val spark = Harness.session(Harness.cpusOr(32),
      Map("spark.sql.shuffle.partitions" -> "32"))
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    def replicate(name: String)(shift: (DataFrame, Int) => DataFrame): Unit = {
      if (only.nonEmpty && !only.contains(name)) return
      val base = spark.read.parquet(Tables.path(src, name))
      val all = (0 until copies).map(i => shift(base, i)).reduce(_ unionAll _)
      if (name == "events" || name == "documents") {
        // the doc/event streaming sources glob for FILES named
        // events.parquet / documents.parquet — write one flat file, not a
        // directory of parts, or every stream probe silently reads ZERO
        // rows (the pre-r8 q_stream_doc_clean sf10 rows were vacuous
        // exactly so). Embeddings deliberately stay a parts DIRECTORY:
        // the semantic stream is path-addressed (handles both layouts),
        // and a flat 51 MB embeddings file serialized every BATCH
        // embedding scan onto one split (measured 3-4× on the sf1
        // family, r12)
        val tmp = s"$out/.${name}_tmp"
        all.coalesce(1).write.mode(SaveMode.Overwrite).parquet(tmp)
        val fs = new org.apache.hadoop.fs.Path(out)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        val part = fs.listStatus(new org.apache.hadoop.fs.Path(tmp))
          .map(_.getPath).find(_.getName.endsWith(".parquet")).get
        val dst = new org.apache.hadoop.fs.Path(Tables.path(out, name))
        fs.delete(dst, true)
        fs.rename(part, dst)
        fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
      } else {
        all.write.mode(SaveMode.Overwrite).parquet(Tables.path(out, name))
      }
      println(s"[scale] $name -> ${copies}x")
    }

    val idStep = 10_000_000L
    val vowels = "aeiouy"
    def rot(i: Int): String = { val r = i % vowels.length; vowels.drop(r) + vowels.take(r) }

    // the planted mega-class block (see object scaladoc): ids are
    // consecutive multiples of ModalityLcm starting past every replicated
    // id, so every planted payload is byte-identical per modality and no
    // id collides. Appended to the LAST copy so the single-file
    // documents.parquet keeps one lineage.
    def plantedBlock(spark: SparkSession, base: DataFrame): Option[DataFrame] = {
      if (skewPct == 0) return None
      import spark.implicits._
      val baseN = base.count()
      val total = baseN * copies
      // m/(total+m) = skewPct/100  ⇒  m = total*skewPct/(100-skewPct)
      val m = math.max(1L, total * skewPct / (100 - skewPct))
      val maxRep = (copies - 1).toLong * idStep +
        base.agg(max("doc_id")).head().getLong(0)
      val offset = (maxRep / ModalityLcm + 1) * ModalityLcm
      println(s"[scale] planting $m hot docs (ids $offset + j*$ModalityLcm)")
      Some(spark.range(m).select(
        (lit(offset) + col("id") * lit(ModalityLcm)).as("doc_id"),
        lit(HotText).as("text"),
        lit("en").as("lang"),
        lit("hotmirror").as("source"),
        lit(HotText.length.toLong).as("n_chars")))
    }

    replicate("documents") { (df, i) =>
      val shifted = df.withColumn("doc_id", col("doc_id") + lit(i * idStep))
        .withColumn("text", translate(col("text"), vowels, rot(i)))
      if (i == copies - 1)
        plantedBlock(spark, df).map(b => shifted.unionByName(b)).getOrElse(shifted)
      else shifted
    }
    // embeddings keep the CORPUS CONTRACT: vec_ids contiguous 0..N-1
    // (TESTDATA.md shape; q_contrastive_triples' LCG negative indexing
    // depends on it and fails loudly otherwise — the r9 probe corpus
    // with idStep-sparse vec_ids tripped exactly that guard). Copies
    // shift by the exact source count, so contiguity is preserved.
    val vecCount = spark.read.parquet(Tables.path(src, "embeddings")).count()
    replicate("embeddings") { (df, i) =>
      val shifted = df.withColumn("vec_id", col("vec_id") + lit(i * vecCount))
      // the embedding mega-class (see [[HotEmbeddingValue]]): skewPct of
      // the final table shares ONE vector, appended to the LAST copy with
      // vec_ids continuing contiguously past every replicated id (the
      // corpus contract: vec_ids contiguous 0..N-1). ~10% of planted ids
      // are arrivals (vec_id % 10 == 0) and the rest store rows, so the
      // semantic admission gates see a hot class on BOTH sides at once.
      if (i == copies - 1 && skewPct > 0) {
        val dim = df.select(size(col("embedding"))).head().getInt(0)
        val total = vecCount * copies
        val mEmb = math.max(1L, total * skewPct / (100 - skewPct))
        println(s"[scale] planting $mEmb hot vectors (ids $total..${total + mEmb - 1})")
        val planted = spark.range(mEmb).select(
          (lit(total) + col("id")).as("vec_id"),
          array_repeat(lit(HotEmbeddingValue), dim).as("embedding"),
          lit(0).as("label"))
        shifted.unionByName(planted)
      } else shifted
    }
    replicate("events") { (df, i) =>
      df.withColumn("event_id", col("event_id") + lit(i * idStep))
    }
    replicate("orders") { (df, i) =>
      df.withColumn("o_orderkey", col("o_orderkey") + lit(i * idStep))
    }
    replicate("lineitem") { (df, i) =>
      df.withColumn("l_orderkey", col("l_orderkey") + lit(i * idStep))
    }
    for (dim <- Seq("region", "nation", "customer", "supplier", "part")
         if only.isEmpty || only.contains(dim))
      spark.read.parquet(Tables.path(src, dim))
        .write.mode(SaveMode.Overwrite).parquet(Tables.path(out, dim))
    spark.stop()
  }
}
