package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Gap-aware LSH band auto-configuration laws (r9 verdict #4).
  *
  * The driver corpus is ADVERSARIALLY gapped (true pairs from cos 0.4501,
  * background to 0.4494 — a 0.0007 gap), so on it the chooser must fall
  * back to the recall-first default and q_dedup_semantic_auto must equal
  * q_dedup_semantic bit-for-bit (that equality is also oracle-enforced:
  * both share one DuckDB ground truth). The candidate-volume win needs a
  * REAL-gap corpus, so this spec builds one: 32 duplicate classes living
  * in disjoint 2-dim coordinate planes — within-class cosines ≥ 0.995,
  * cross-class cosines exactly 0 — replicated with exact copies to
  * exercise the quotient. On it the chooser must leave the default, and
  * the coarse bands must cut raw candidate volume while the verified
  * output stays EQUAL to the default config's (recall intact).
  */
class DedupAutoSpec extends SparkSpec {

  /** 32 classes × 3 perturbation variants × `copies` exact copies.
    * Class k spans dims (k, k+32): variant v = normalize(e_k + δ_v e_{k+32})
    * with δ ∈ {0, 0.05, 0.1} — within-class cos ≥ cos(atan 0.1) ≈ 0.995,
    * cross-class cos = 0 (disjoint support). */
  private def gappedFixture(copies: Int): DataFrame = {
    val rows = for {
      k <- 0 until 32
      (d, v) <- Seq(0.0, 0.05, 0.1).zipWithIndex
      c <- 0 until copies
    } yield {
      val vec = new Array[Float](64)
      val n = math.sqrt(1.0 + d * d)
      vec(k) = (1.0 / n).toFloat
      vec(k + 32) = (d / n).toFloat
      (((k * 3 + v) * copies + c).toLong, vec.toSeq)
    }
    spark.createDataFrame(rows).toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
  }

  test("adversarial corpus: chooser falls back; auto == default output") {
    val e = Tables.load(spark, sfDir, "embeddings")
    val cfg = Dedup.autoBandConfig(e)
    assert(cfg.fallback, s"must fall back on a 0.0007-gap corpus, got $cfg")
    assert(cfg.r == 4 && cfg.b == 64)
    val auto = Queries.all("q_dedup_semantic_auto")(spark, sfDir)
    val base = Queries.all("q_dedup_semantic")(spark, sfDir)
    assert(auto.exceptAll(base).isEmpty && base.exceptAll(auto).isEmpty)
    // the decision evidence surfaces as observe metrics
    auto.collect()
    val m = auto.queryExecution.observedMetrics("graft.lsh_auto")
    assert(m.getAs[Int]("r") == 4 && m.getAs[Int]("b") == 64)
    assert(m.getAs[Long]("fallback") == 1L)
    assert(m.getAs[Double]("miss_bound") < 1e-5)
  }

  test("real-gap fixture: coarse bands chosen with a certified miss bound") {
    val e = gappedFixture(copies = 4)
    val cfg = Dedup.autoBandConfig(e)
    assert(!cfg.fallback, s"gap 0.995/0.0 must leave the default, got $cfg")
    assert(cfg.r > 4, s"coarser-than-default rows expected, got $cfg")
    assert(cfg.missBound <= 1e-6, s"certificate violated: $cfg")
    assert(cfg.dupMin >= 0.99 && cfg.bgMax <= 0.01)
  }

  test("real-gap fixture: candidate volume drops, verified output unchanged") {
    val e = gappedFixture(copies = 4)
    val cfg = Dedup.autoBandConfig(e)
    // pre-verify candidate volume = bucketPairs output size per config
    // (the verify is fused into repPairs, so run the shipped band stage alone)
    def candCount(r: Int, b: Int): Long = {
      val clusters = e.groupBy(col("embedding"))
        .agg(min(col("vec_id")).as("rep"))
      val banded = Dedup.bandedEmbeddings(clusters, "rep", r, b)
        .withColumnRenamed("rep", "doc_id")
      Dedup.bucketPairs(banded, Seq("band_idx", "band_val")).count()
    }
    val candDefault = candCount(4, 64)
    val candAuto = candCount(cfg.r, cfg.b)
    info(s"candidates: default(4,64)=$candDefault auto(${cfg.r},${cfg.b})=$candAuto")
    assert(candAuto < candDefault / 2,
      s"auto config must at least halve candidates: $candAuto vs $candDefault")
    // recall intact: the verified dedup decision is identical
    val outAuto = Dedup.semanticDedupOf(e, cfg.r, cfg.b).orderBy(col("vec_id"))
    val outDef = Dedup.semanticDedupOf(e).orderBy(col("vec_id"))
    assert(outAuto.exceptAll(outDef).isEmpty && outDef.exceptAll(outAuto).isEmpty)
    // and it matches the ground truth: 32 components of 12 members each
    val rows = outAuto.collect()
    assert(rows.length == 32 && rows.forall(_.getLong(1) == 12L))
  }

  /** Text twin of the embedding fixture (r10 verdict #3): 32 classes over
    * a shared 60-word common prefix plus 40 class-specific words —
    * within-class jaccard ≈ 0.94 (variants swap ONE class word at a fixed
    * position: 3 shingles differ out of 98), cross-class ≈ 0.42 (the
    * common prefix's 58 shingles over a 138-shingle union) — a real gap
    * whose background is hot enough for the candidate-volume win to show
    * (at r=4 a 0.42-jaccard pair collides in some band with p≈0.4). */
  private def gappedTextFixture(copies: Int): DataFrame = {
    val common = (0 until 60).map(i => s"c$i")
    val rows = for {
      k <- 0 until 32
      v <- 0 until 3
      c <- 0 until copies
    } yield {
      val cls = (0 until 40).map(i => s"k${k}w$i").toVector
      val words = common ++ (if (v == 0) cls else cls.updated(10, s"k${k}v$v"))
      (((k * 3 + v) * copies + c).toLong, words.mkString(" "))
    }
    spark.createDataFrame(rows).toDF("doc_id", "text")
  }

  test("driver corpus: text minhash chooser falls back; auto == lsh output") {
    val d = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
    val reps = d.groupBy(col("text")).agg(min(col("doc_id")).as("rep"))
      .select(col("rep").as("doc_id"), col("text"))
    val cfg = Dedup.autoBandConfigMinhash(reps)
    // the fallback is provable, not sampled luck: dup floor 0.9 → sEff
    // 0.8 → both coarse r need > 512 permutations
    assert(cfg.fallback, s"must fall back at a 0.9 dup floor, got $cfg")
    assert(cfg.r == 4 && cfg.b == 16)
    val auto = Queries.all("q_dedup_minhash_auto")(spark, sfDir)
    val base = Queries.all("q_dedup_minhash_lsh")(spark, sfDir)
    assert(auto.exceptAll(base).isEmpty && base.exceptAll(auto).isEmpty)
    auto.collect()
    val m = auto.queryExecution.observedMetrics("graft.lsh_auto_minhash")
    assert(m.getAs[Int]("r") == 4 && m.getAs[Int]("b") == 16)
    assert(m.getAs[Long]("fallback") == 1L)
  }

  test("real-gap text fixture: coarse bands cut candidates, output unchanged") {
    val d = gappedTextFixture(copies = 2)
    val reps = d.groupBy(col("text")).agg(min(col("doc_id")).as("rep"))
      .select(col("rep").as("doc_id"), col("text"))
    val cfg = Dedup.autoBandConfigMinhash(reps)
    assert(!cfg.fallback, s"0.94/0.42 gap must leave the default, got $cfg")
    assert(cfg.r == 8, s"coarser-than-default rows expected, got $cfg")
    assert(cfg.missBound <= 1e-6, s"certificate violated: $cfg")
    assert(cfg.dupMin >= 0.93 && cfg.bgMax <= 0.45, s"gap estimate drift: $cfg")
    // raw candidate volume = banded bucket pairs before verification
    def candCount(r: Int, b: Int): Long =
      Dedup.bucketPairs(Dedup.minhashBands(reps, "text", Seq("doc_id"), r, b),
        Seq("band_idx", "band_hash")).count()
    val candDefault = candCount(4, 16)
    val candAuto = candCount(cfg.r, cfg.b)
    info(s"candidates: default(4,16)=$candDefault auto(${cfg.r},${cfg.b})=$candAuto")
    assert(candAuto < candDefault / 2,
      s"auto config must at least halve candidates: $candAuto vs $candDefault")
    // recall intact: verified pair set identical to the default config's,
    // and equal to the closed form (32 cliques of 6 → 480 pairs)
    val outAuto = Dedup.minhashNearDupPairsAutoOf(d)._1
    val outDef = Dedup.minhashNearDupPairsOf(d)
    assert(outAuto.exceptAll(outDef).isEmpty && outDef.exceptAll(outAuto).isEmpty)
    assert(outAuto.count() == 32L * 15L)
  }
}
