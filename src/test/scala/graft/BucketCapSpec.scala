package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Hot-bucket behavior of the LSH candidate generator: one adversarial
  * band value shared by many docs (boilerplate-heavy corpus) must expand
  * to at most C(cap, 2) pairs — never quadratic in the bucket — and the
  * drop must be observable via the `graft.bucket_cap` metrics. */
class BucketCapSpec extends SparkSpec {

  test("a 10k-doc bucket caps at C(cap,2) pairs and reports drops") {
    val cap = 64
    val banded = spark.range(10000).select(
      col("id").as("doc_id"), lit(0).as("band_idx"), lit(0L).as("band_val"))
    val pairs = Dedup.bucketPairs(banded, Seq("band_idx", "band_val"), cap)
    val rows = pairs.collect()
    assert(rows.length == cap * (cap - 1) / 2, s"got ${rows.length} pairs")
    // deterministic keep-set: the cap smallest doc_ids
    assert(rows.map(_.getLong(0)).max < cap && rows.map(_.getLong(1)).max < cap)
    // sum across ALL graft.bucket_cap.* keys: a multi-branch plan carries
    // one observe per bucketPairs call (the obsId suffix), and collectFirst
    // would silently assert against an arbitrary branch
    val ms = pairs.queryExecution.observedMetrics.collect {
      case (k, v) if k.startsWith("graft.bucket_cap") => v }
    assert(ms.map(_.getAs[Long]("docs_dropped")).sum == 10000 - cap)
    assert(ms.map(_.getAs[Long]("buckets_capped")).sum == 1L)
  }

  test("buckets under the cap are untouched and report zero drops") {
    val banded = spark.range(100).select(
      col("id").as("doc_id"), (col("id") % 4).as("band_idx"), lit(0L).as("band_val"))
    val pairs = Dedup.bucketPairs(banded, Seq("band_idx", "band_val"))
    assert(pairs.collect().length == 4 * (25 * 24 / 2))
    val ms = pairs.queryExecution.observedMetrics.collect {
      case (k, v) if k.startsWith("graft.bucket_cap") => v }
    assert(ms.nonEmpty)
    assert(ms.map(_.getAs[Long]("docs_dropped")).sum == 0L)
    assert(ms.map(_.getAs[Long]("buckets_capped")).sum == 0L)
  }

  test("explodeMemberPairs == idPairs expansion, carried columns intact") {
    // the skew-safe two-stage expansion (r12) must emit EXACTLY the pair
    // multiset of the one-row idPairs form on arbitrary (sorted) member
    // arrays — including a mega-class-shaped one — with every non-member
    // column carried through unchanged
    val rng = new scala.util.Random(12)
    val rows = (0 until 40).map { i =>
      val n = 1 + rng.nextInt(60)
      val members = Seq.fill(n)(rng.nextLong().abs % 100000).distinct.sorted
      (i.toLong, s"cls$i", members)
    } :+ (999L, "mega", (0L until 3000L).map(_ * 7).toSeq) // one hot class
    val df = spark.createDataFrame(rows).toDF("cls_id", "tag", "members")
    val got = Dedup.explodeMemberPairs(df, "members", "a", "b")
      .select(col("cls_id"), col("tag"), col("a"), col("b"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .sorted
    val want = df
      .select(col("cls_id"), col("tag"),
        explode(graft.functions.Pairs.idPairs(col("members"))).as("pk"))
      .select(col("cls_id"), col("tag"), col("pk.a"), col("pk.b"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .sorted
    assert(want.nonEmpty && got.toSeq == want.toSeq)
  }
}
