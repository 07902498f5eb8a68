package graft

/** The pair-form telemetry fence (r9 verdict #6): every OUTPUT-QUADRATIC
  * pair query must surface its emitted pair count as a
  * `graft.pair_count.<query>` observe metric, so a consumer who picks a
  * pair form at scale gets a loud signal instead of a silent multi-
  * billion-row job (the clusters/decision form of each family is the
  * linear-output alternative). The metric must equal the true row count.
  */
class PairTelemetrySpec extends SparkSpec {

  private val pairQueries = Seq(
    "q_dedup_minhash_lsh", "q_dedup_minhash_auto", "q_dedup_simhash",
    "q_dedup_ngram", "q_dedup_embedding", "q_dedup_embedding_lsh",
    "q_multimodal_perceptual", "q_cosine_pairs", "q_editdist_pairs",
    "q_block_sorted")

  test("every pair-form query reports pairs_emitted == its row count") {
    for (name <- pairQueries) {
      val df = Queries.all(name)(spark, sfDir)
      // collect() (not count()) so the observed plan itself executes —
      // count() spawns a separate query execution with fresh metrics
      val n = df.collect().length.toLong
      val metrics = df.queryExecution.observedMetrics
        .collect { case (k, v) if k == s"graft.pair_count.$name" => v }
      assert(metrics.size == 1, s"$name: expected one pair_count metric")
      assert(metrics.head.getAs[Long]("pairs_emitted") == n,
        s"$name: metric != emitted rows")
    }
  }

  /** The bench-mode sort bypass (r13 verdict #1): with
    * `spark.graft.pairPresentationSort=false` the presentation sort (a
    * Verify/oracle determinism artifact) is dropped — the result must be
    * the same MULTISET (Bench's checksum is order-independent), the plan
    * must carry no single-partition exchange, and the observe metric must
    * still be exact. */
  test("pairPresentationSort=false preserves the multiset and drops the 1-partition sort") {
    val name = "q_cosine_pairs"
    val sorted = Queries.all(name)(spark, sfDir)
    val sortedSum = Harness.checksum(sorted)
    spark.conf.set("spark.graft.pairPresentationSort", "false")
    try {
      val bare = Queries.all(name)(spark, sfDir)
      assert(Harness.checksum(bare) == sortedSum,
        s"$name: checksum diverges between sort modes")
      // differential: the query body may carry scalar-aggregate single-
      // partition exchanges of its own — the bypass must remove exactly
      // the presentation repartition(1) (one fewer SinglePartition) and
      // the within-partition presentation sort
      def spCount(df: org.apache.spark.sql.DataFrame): Int =
        "SinglePartition".r
          .findAllIn(df.queryExecution.executedPlan.toString).length
      assert(spCount(bare) == spCount(sorted) - 1,
        s"$name: bench mode should drop exactly the presentation " +
          s"repartition(1) (${spCount(bare)} vs ${spCount(sorted)})")
      val rows = bare.collect().length.toLong
      val metrics = bare.queryExecution.observedMetrics
        .collect { case (k, v) if k == s"graft.pair_count.$name" => v }
      assert(metrics.size == 1 && metrics.head.getAs[Long]("pairs_emitted") == rows,
        s"$name: metric inexact in bench mode")
    } finally spark.conf.set("spark.graft.pairPresentationSort", "true")
  }
}
