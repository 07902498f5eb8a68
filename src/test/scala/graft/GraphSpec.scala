package graft

import org.apache.spark.sql.functions._

import graft.operators.Graph

/** PageRank invariants (3 fixed iterations, d = 0.85, rounding discipline):
  * probability conservation, the hand-computed fixed shape on a known
  * graph, and insensitivity to input partitioning (the decimal-sum
  * order-independence the oracle relies on).
  */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  test("pagerank on a known graph: conservation, symmetry, centrality order") {
    // path graph 1-2-3 plus isolated edge 4-5:
    //   degree: 2:2, others 1. Node 2 must outrank 1/3; 4/5 sit at the
    //   two-clique fixed point pr = 1/5 exactly (regular component).
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("doc_a", "doc_b")
    val pr = Graph.pageRank(pairs, 3).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(pr.keySet == Set(1L, 2L, 3L, 4L, 5L))
    // undirected graph, no dangling mass: ranks stay a distribution
    assert(math.abs(pr.values.sum - 1.0) < 1e-9, pr.toString)
    // symmetry: 1 and 3 are automorphic, 4 and 5 are automorphic
    assert(pr(1L) == pr(3L) && pr(4L) == pr(5L), pr.toString)
    // centrality: the path's center beats its leaves; leaves of the path
    // lose mass to the center so the 2-clique nodes beat them
    assert(pr(2L) > pr(1L) && pr(4L) > pr(1L), pr.toString)
    // the 2-clique is 1-regular: pr = 1/5 is its exact fixed point
    assert(math.abs(pr(4L) - 0.2) < 1e-9, pr.toString)
  }

  test("triangle counts: cliques, orientation-independence, no false wedges") {
    // K4 on 1..4 (every node in C(3,2)=3 triangles) + a triangle-free
    // 4-cycle 10-11-12-13 + a pendant edge 4-20
    val k4 = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val cyc = Seq((10L, 11L), (11L, 12L), (12L, 13L), (10L, 13L), (4L, 20L))
    val pairs = (k4 ++ cyc).toDF("doc_a", "doc_b")
    val got = Graph.triangleCounts(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L), got.toString)
    // duplicate + reversed edges must not create or double-count triangles
    val noisy = pairs.unionByName(
      Seq((2L, 1L), (3L, 4L), (1L, 2L)).toDF("doc_a", "doc_b"))
    val got2 = Graph.triangleCounts(noisy).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got2 == got, got2.toString)
  }

  test("quotient triangle census equals the plain census under dup texts") {
    import graft.operators.Dedup
    // three pairwise-near-dup texts (append-one-word edits keep 3-shingle
    // jaccard ≥ 0.9) with multiplicities 3 / 2 / 1, plus an unrelated
    // singleton: nodes 1..6 form K6 (each in C(5,2)=10 triangles), node 7
    // is isolated and must not appear
    val baseWords = (1 to 20).map(i => s"w$i").mkString(" ")
    val a = baseWords
    val b = baseWords + " extra"
    val c = baseWords + " extra more"
    val d = (1 to 20).map(i => s"z$i").mkString(" ")
    val docs = Seq(1L -> a, 2L -> a, 3L -> a, 4L -> b, 5L -> b, 6L -> c, 7L -> d)
      .toDF("doc_id", "text")
    val grouped = Graph.docTriangleCounts(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(grouped == (1L to 6L).map(_ -> 10L).toMap, grouped.toString)
    // and it matches the uncollapsed pipeline on the same corpus
    val plain = Graph.triangleCounts(
      Dedup.minhashNearDupPairsOf(docs).select("doc_a", "doc_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(grouped == plain, s"grouped=$grouped\nplain=$plain")
    // corpus-level equality too (the real query's input; sfDir has its own
    // duplicate structure)
    val qGrouped = Queries.all("q_graph_triangles")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val qPlain = Graph.triangleCounts(
      Dedup.minhashNearDupPairs(spark, sfDir).select("doc_a", "doc_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(qGrouped == qPlain)
  }

  test("quotient pagerank equals plain pagerank bit-for-bit under dup texts") {
    import graft.operators.Dedup
    // same dup-rich corpus shape as the triangle law: K6 of near-dup
    // classes with multiplicities 3/2/1 plus an isolated singleton —
    // exercises intra-clique, inter-class, and excluded-node branches
    val baseWords = (1 to 20).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      1L -> baseWords, 2L -> baseWords, 3L -> baseWords,
      4L -> (baseWords + " extra"), 5L -> (baseWords + " extra"),
      6L -> (baseWords + " extra more"),
      7L -> (1 to 20).map(i => s"z$i").mkString(" ")).toDF("doc_id", "text")
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getDouble(2))
    val quot = Graph.docPageRank(docs, 3).collect().map(key).sortBy(_._1).toSeq
    val plain = Graph.pageRank(
      Dedup.minhashNearDupPairsOf(docs).select("doc_a", "doc_b"), 3)
      .collect().map(key).sortBy(_._1).toSeq
    assert(quot == plain, s"quot=$quot\nplain=$plain")
    assert(quot.map(_._1) == (1L to 6L) && !quot.exists(_._1 == 7L))
    // corpus-level bit-equality too (the real query's input)
    val qQuot = Queries.all("q_pagerank")(spark, sfDir)
      .collect().map(key).sortBy(_._1).toSeq
    val qPlain = Graph.pageRank(
      Dedup.minhashNearDupPairs(spark, sfDir).select("doc_a", "doc_b"), 3)
      .collect().map(key).sortBy(_._1).toSeq
    assert(qQuot == qPlain)
  }

  test("kcore peels pendant cascades to the clique core (k=2, k=3)") {
    // K4 on 1..4 + pendant chain 4-30-31-32 (peels in a 3-round cascade:
    // 32 first, which drops 31 below k, which drops 30) + triangle
    // 10-11-12 + isolated edge 40-41
    val k4 = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val chain = Seq((4L, 30L), (30L, 31L), (31L, 32L))
    val tri = Seq((10L, 11L), (11L, 12L), (10L, 12L), (40L, 41L))
    val pairs = (k4 ++ chain ++ tri).toDF("doc_a", "doc_b")
    val core2 = Graph.kCore(pairs, 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // 2-core = K4 + triangle; chain and isolated edge gone; degrees are
    // measured INSIDE the core (node 4 back to 3 once the chain is peeled)
    assert(core2 == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L,
      10L -> 2L, 11L -> 2L, 12L -> 2L), core2.toString)
    // 3-core drops the triangle too
    val core3 = Graph.kCore(pairs, 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core3 == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L), core3.toString)
    // 4-core is empty
    assert(Graph.kCore(pairs, 4).isEmpty)
  }

  test("quotient kcore equals the plain peel under dup texts") {
    import graft.operators.Dedup
    // near-dup family a/b/c with multiplicities 3/2/1 → K6 on 1..6;
    // an unrelated singleton (drops, deg 0); an unrelated exact-dup PAIR
    // (drops at k=2: intra-clique degree 1); an unrelated exact-dup
    // TRIPLE (survives at k=2 as an isolated 3-clique with no quotient
    // edges — exercises the m−1 self-degree path)
    val baseWords = (1 to 20).map(i => s"w$i").mkString(" ")
    val a = baseWords
    val b = baseWords + " extra"
    val c = baseWords + " extra more"
    val d = (1 to 20).map(i => s"z$i").mkString(" ")
    val e = (1 to 20).map(i => s"y$i").mkString(" ")
    val f = (1 to 20).map(i => s"x$i").mkString(" ")
    val docs = Seq(1L -> a, 2L -> a, 3L -> a, 4L -> b, 5L -> b, 6L -> c,
      7L -> d, 8L -> e, 9L -> e, 10L -> f, 11L -> f, 12L -> f)
      .toDF("doc_id", "text")
    val grouped = Graph.docKCore(docs, 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = (1L to 6L).map(_ -> 5L).toMap ++
      Seq(10L, 11L, 12L).map(_ -> 2L).toMap
    assert(grouped == expected, grouped.toString)
    // equality with the uncollapsed peel on the same corpus, k=2 and k=5
    for (k <- Seq(2, 5)) {
      val plain = Graph.kCore(
        Dedup.minhashNearDupPairsOf(docs).select("doc_a", "doc_b"), k)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val quot = Graph.docKCore(docs, k).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(quot == plain, s"k=$k quot=$quot\nplain=$plain")
    }
    // k=6 exceeds every degree: both empty
    assert(Graph.docKCore(docs, 6).isEmpty)
    // corpus-level equality too (the real query's input; sfDir has its
    // own duplicate structure)
    val qGrouped = Queries.all("q_graph_kcore")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val qPlain = Graph.kCore(
      Dedup.minhashNearDupPairs(spark, sfDir).select("doc_a", "doc_b"), 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(qGrouped == qPlain)
  }

  test("lss components equal label propagation on chains, stars, and forests") {
    import graft.operators.Dedup
    // long chain (the label-propagation worst case), a star, a clique,
    // and an isolated pair — mixed in one edge list
    val chain = (100L until 120L).map(i => (i, i + 1))
    val star = (2L to 6L).map(i => (1L, i))
    val clique = for (a <- 50L to 53L; b <- (a + 1) to 53L) yield (a, b)
    val pairs = (chain ++ star ++ clique ++ Seq((200L, 201L)))
      .toDF("doc_a", "doc_b")
    def toMapOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // each call reports its convergence once, as a structured event
    val events = scala.collection.mutable.ArrayBuffer.empty[String]
    val listener = (_: String, l: String) => synchronized {
      if (l.startsWith("event=cc_converged")) events += l: Unit
    }
    StructuredLog.addListener(listener)
    val (lp, lss) = try {
      (toMapOf(Dedup.connectedComponents(pairs).select(col("id"), col("label"))),
        toMapOf(Dedup.connectedComponentsLss(pairs).select(col("id"), col("label"))))
    } finally StructuredLog.removeListener(listener)
    assert(events.map(_.split(" ")(1)) == Seq("algo=labelprop", "algo=lss"),
      events.toString)
    // the 21-node chain needs many label-propagation rounds
    assert(events.forall(_.split(" ")(2).stripPrefix("rounds=").toInt > 1),
      events.toString)
    assert(lss == lp, s"lss=$lss\nlp=$lp")
    assert(lss(119L) == 100L && lss(6L) == 1L && lss(53L) == 50L &&
      lss(201L) == 200L)
  }

  test("quotient lss clusters equal plain lss clusters under dup texts") {
    import graft.operators.Dedup
    // the kcore fixture's shape: a near-dup family with multiplicities
    // 3/2/1 (one cross-text component), an isolated exact-dup PAIR (a
    // cluster with no quotient edges — exercises the m ≥ 2 self-label
    // path), an isolated exact-dup TRIPLE, and a singleton (must be
    // absent from the output)
    val baseWords = (1 to 20).map(i => s"w$i").mkString(" ")
    val a = baseWords
    val b = baseWords + " extra"
    val c = baseWords + " extra more"
    val d = (1 to 20).map(i => s"z$i").mkString(" ")
    val e = (1 to 20).map(i => s"y$i").mkString(" ")
    val f = (1 to 20).map(i => s"x$i").mkString(" ")
    val docs = Seq(1L -> a, 2L -> a, 3L -> a, 4L -> b, 5L -> b, 6L -> c,
      7L -> d, 8L -> e, 9L -> e, 10L -> f, 11L -> f, 12L -> f)
      .toDF("doc_id", "text")
    def toTriples(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val quot = toTriples(Dedup.docNearDupClustersLss(docs))
    val expected = ((1L to 6L).map((_, 1L, 6L)) ++
      Seq(8L, 9L).map((_, 8L, 2L)) ++ Seq(10L, 11L, 12L).map((_, 10L, 3L))).toSet
    assert(quot == expected, quot.toString)
    // equality with plain LSS over the uncollapsed pair set
    def plainOf(dd: org.apache.spark.sql.DataFrame) = {
      val labels = Dedup.connectedComponentsLss(Dedup.minhashNearDupPairsOf(dd))
      val sizes = labels.groupBy(col("label")).agg(count(lit(1)).as("cluster_size"))
      toTriples(labels.join(sizes, "label")
        .select(col("id"), col("label"), col("cluster_size")))
    }
    assert(quot == plainOf(docs))
    // corpus-level equality too (sfDir has its own duplicate structure)
    val corpus = Tables.load(spark, sfDir, "documents")
    assert(toTriples(Queries.all("q_dedup_clusters_lss")(spark, sfDir)) ==
      plainOf(corpus))
  }

  test("pagerank is partitioning-invariant (order-independent sums)") {
    val pairs = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id").as("doc_a"),
        (col("doc_id") % 7 + 1000).as("doc_b")) // synthetic skewed graph
    val a = Graph.pageRank(pairs, 3).orderBy("doc_id").collect().toSeq
    val b = Graph.pageRank(pairs.repartition(13), 3)
      .orderBy("doc_id").collect().toSeq
    assert(a == b)
  }
}
