package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** The reference the specs check [[Graph.docPageRank]] against: `k` fixed
  * PageRank iterations (d = 0.85) over the expanded, per-doc pair graph,
  * with the rounding discipline of the q_pagerank oracle SQL — every
  * per-edge contribution rounded to 12 dp and summed as DECIMAL(28,12),
  * every rank update re-rounded to 12 dp. Returns (doc_id, degree,
  * pagerank) for every id of an undirected edge list of src < dst pairs;
  * both directions materialize internally.
  *
  * The pair plan is localCheckpointed first: it feeds the degrees plus one
  * join per iteration. The rounds themselves are a plain loop whose plan
  * grows with `k`, which is fine for the small fixtures and the few
  * iterations the specs run. */
object PlainPageRank {

  private val damping = 0.85

  def pageRank(pairs: DataFrame, k: Int): DataFrame = {
    val p = pairs.localCheckpoint()
    val edges = p.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(p.select(col("doc_b").as("src"), col("doc_a").as("dst")))
    val deg = edges.groupBy(col("src").as("id"))
      .agg(count(lit(1)).as("deg"))
    val n = deg.agg(count(lit(1)).as("n"))
    var pr = deg.crossJoin(n)
      .select(col("id"), col("deg"), col("n"),
        round(lit(1.0) / col("n"), 12).as("pr"))
    for (_ <- 1 to k) {
      val contribs = pr
        .join(edges, col("id") === col("src"))
        .select(col("dst"),
          round(col("pr") / col("deg"), 12).cast(DecimalType(28, 12)).as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("s"))
      pr = pr.join(contribs, col("id") === col("dst"), "left")
        .select(col("id"), col("deg"), col("n"),
          round(lit(1 - damping) / col("n") +
            lit(damping) * coalesce(col("s").cast("double"), lit(0.0)), 12)
            .as("pr"))
    }
    pr.select(col("id").as("doc_id"), col("deg").cast("long").as("degree"),
      col("pr").as("pagerank"))
  }
}
