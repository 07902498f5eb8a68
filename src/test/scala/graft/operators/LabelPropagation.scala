package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** The reference the specs check [[Dedup.connectedComponentsLss]] and its
  * callers against: connected components by iterative min-label
  * propagation. Every node adopts the minimum label among itself and its
  * neighbors until fixpoint, so the output is (id, label = component
  * minimum) for every id of every pair, a self-loop-only id included as
  * its own singleton.
  *
  * It runs through [[Fixpoint]] under op name `connectedComponents`, one
  * shuffle per round, and needs O(component diameter) rounds: a label that
  * must travel `Fixpoint.MaxRounds` or more hops makes it throw, which is
  * how the specs exercise the loop's cap. */
object LabelPropagation {

  def connectedComponents(pairs: DataFrame): DataFrame = {
    // labels are min-propagated over a FIXED id set and each label is
    // non-increasing, so (count, decimal sum of labels) is an exact
    // convergence certificate.
    // The symmetrized edge list is hash-partitioned on `dst` once and
    // cached (a cached frame keeps its partitioning; a checkpointed one
    // does not), so each round's message join reads it without an edge
    // exchange; next labels = min over (own label ∪ neighbor labels) as
    // one union + groupBy. The cache is released even when the loop throws.
    val np = pairs.sparkSession.sessionState.conf.numShufflePartitions
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .repartition(np, col("dst"))
      .persist()
    try Fixpoint.run("connectedComponents",
        edges.select(col("dst").as("id")).distinct().withColumn("label", col("id")),
        cert = Seq(sum(col("label").cast(DecimalType(38, 0))).as("s"))) { labels =>
      val msgs = edges
        .join(labels.withColumnRenamed("id", "dst"), "dst")
        .select(col("src").as("id"), col("label"))
      msgs.unionByName(labels.select(col("id"), col("label")))
        .groupBy(col("id")).agg(min(col("label")).as("label"))
    } finally edges.unpersist(false)
  }
}
