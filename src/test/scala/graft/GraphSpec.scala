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
    val pr = operators.PlainPageRank.pageRank(pairs, 3).collect()
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
    // under the default budget the class graph is ranked on the driver;
    // with broadcasts off every round runs distributed
    for (distributed <- Seq(false, true)) {
      def under[T](body: => T) = if (distributed) withoutBroadcast(body) else body
      val what = if (distributed) "distributed rounds" else "driver rounds"
      under {
        val quot = Graph.docPageRank(docs, 3).collect().map(key).sortBy(_._1).toSeq
        val plain = operators.PlainPageRank.pageRank(
          Dedup.minhashNearDupPairsOf(docs).select("doc_a", "doc_b"), 3)
          .collect().map(key).sortBy(_._1).toSeq
        assert(quot == plain, s"$what: quot=$quot\nplain=$plain")
        assert(quot.map(_._1) == (1L to 6L) && !quot.exists(_._1 == 7L), what)
        // corpus-level bit-equality too (the real query's input)
        val qQuot = Queries.all("q_pagerank")(spark, sfDir)
          .collect().map(key).sortBy(_._1).toSeq
        val qPlain = operators.PlainPageRank.pageRank(
          Dedup.minhashNearDupPairs(spark, sfDir).select("doc_a", "doc_b"), 3)
          .collect().map(key).sortBy(_._1).toSeq
        assert(qQuot == qPlain, what)
      }
    }
  }

  test("pagerank driver rounds equal the distributed rounds bit-for-bit on random class graphs") {
    import graft.operators.Dedup.{DupClass, RepEdge}
    // the converged event of every distributed call, as key→value maps
    val converged = scala.collection.mutable.ArrayBuffer.empty[Map[String, String]]
    val listener = (_: String, l: String) => synchronized {
      if (l.startsWith("event=fixpoint_converged op=docPageRank ")) converged += l
        .split(" ").map { kv => val Array(k, v) = kv.split("=", 2); k -> v }.toMap: Unit
    }
    for (seed <- 1 to 20) {
      val rnd = new scala.util.Random(seed)
      val ids = Seq.fill(8 + rnd.nextInt(10))(rnd.nextLong() & ((1L << 40) - 1)).distinct
      // (gid, m, clique, members): multiplicities 1-4, a class of m >= 2 is
      // a clique or not; ids(1) is a non-clique class of 3 and ids(2) a
      // clique of 3, so both occur on every seed
      val classes = ids.zipWithIndex.map { case (id, i) =>
        val m = if (i == 1 || i == 2) 3L else 1L + rnd.nextInt(4)
        (id, m, i == 2 || (i != 1 && m >= 2 && rnd.nextBoolean()), Seq(id))
      }
      // a clique class with no edge, ranked on its clique alone, and a
      // non-clique class with no edge, of degree 0, which drops out. The
      // clique's size pads the expanded node count n to the next total at
      // which 0.15 / n is a finite decimal (3·2^a·5^b or 2^a·5^b), so the
      // rank updates land on exact 12-dp rounding ties — where HALF_UP, the
      // exact decimal sums and every double step decide the last digit
      def strip(x: Long): Long =
        if (x % 2 == 0) strip(x / 2) else if (x % 5 == 0) strip(x / 5) else x
      val others = classes.map(_._2).sum
      val n = Iterator.iterate(others + 2)(_ + 1).find(t => Set(1L, 3L)(strip(t))).get
      val cliqueOnly = (1L << 41, n - others, true, Seq(1L << 41))
      val lone = ((1L << 41) + 1, 2L, false, Seq((1L << 41) + 1))
      val all = rnd.shuffle(classes :+ cliqueOnly :+ lone)
      // ids.head is a hub adjacent to every other class; the rest are
      // random distinct pairs
      val und = (ids.tail.map(ids.head -> _) ++ Seq.fill(ids.size)(
        (ids(rnd.nextInt(ids.size)), ids(rnd.nextInt(ids.size)))))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (a min b, a max b) }.distinct
      val k = 2 + seed % 3
      // the driver ranks the in-memory class graph: a clique class scores
      // its within-class pairs at jaccard 1, a non-clique class of m >= 2
      // below the 0.8 threshold
      val local = Graph.pageRankOnDriver(
        all.map { case (id, m, clique, ms) =>
          DupClass(id, m, ms.toArray, if (clique) 1.0 else 0.5) },
        und.map { case (a, b) => RepEdge(a, b, 0.9) }, k)
        .map { case (c, deg, pr) => (c.gid, c.m, c.members.toSeq, deg, pr) }.sortBy(_._1)
      // the distributed rounds take the directed edges, both ways
      converged.clear()
      StructuredLog.addListener(listener)
      val rounds = try Graph.classPageRank(all.toDF("gid", "m", "clique", "members"),
          rnd.shuffle(und ++ und.map(_.swap)).toDF("src", "dst"), k)
        .select("gid", "m", "members", "deg", "pr").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2), r.getLong(3),
          r.getDouble(4))).sortBy(_._1).toSeq
      finally StructuredLog.removeListener(listener)
      assert(local == rounds, s"seed $seed k $k: local=$local\nrounds=$rounds")
      assert(converged.map(e => (e("local"), e("rounds"))) == Seq(("false", k.toString)),
        s"seed $seed: $converged")
      // the degree-0 class drops out; the clique-only class keeps its m - 1
      assert(local.map(_._1) == (ids :+ cliqueOnly._1).sorted, s"seed $seed: $local")
      assert(local.find(_._1 == cliqueOnly._1).map(_._4).contains(cliqueOnly._2 - 1))
      // an undirected graph has no dangling mass: the expanded ranks stay
      // a distribution
      val mass = local.map { case (_, m, _, _, pr) => m * pr }.sum
      assert(math.abs(mass - 1.0) < 1e-6, s"seed $seed: mass $mass")
    }
  }

  /** A corpus of near-dup families (a base text of 15-24 words and 1-3
    * edits of it: one or two appended words, or a replaced last word — each
    * within 0.8 of the base, edits not always within 0.8 of each other),
    * texts under 3 words, an isolated exact-dup class and a singleton, each
    * family or short text in 1-4 copies, under sparse shuffled doc ids. */
  private def replicatedCorpus(seed: Int) = {
    val rnd = new scala.util.Random(seed)
    def words(n: Int) = Seq.fill(n)(s"t${rnd.nextInt(1000000)}")
    val families = Seq.fill(2 + rnd.nextInt(3)) {
      val base = words(15 + rnd.nextInt(10))
      base +: Seq.fill(1 + rnd.nextInt(3))(rnd.nextInt(3) match {
        case 0 => base ++ words(1)
        case 1 => base ++ words(2)
        case _ => base.init ++ words(1)
      })
    }.flatten ++ Seq.fill(2)(words(1 + rnd.nextInt(2)))
    val copies = families.map(_.mkString(" ")).distinct
      .flatMap(t => Seq.fill(1 + rnd.nextInt(4))(t)) ++
      Seq.fill(2 + rnd.nextInt(3))(words(12).mkString(" ")) ++ Seq(words(12).mkString(" "))
    val ids = (1 to copies.size).map(i => i * 7919L + rnd.nextInt(7919))
    rnd.shuffle(copies).zip(ids).map { case (t, id) => (id, t) }.toDF("doc_id", "text")
  }

  test("near-dup driver finishes equal the distributed paths on dup-text and random replicated corpora") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    import graft.operators.Dedup
    // pairs as a multiset, clusters as triples, PageRank rows with Double
    // ==, and the three schemas, nullability included
    def finishes(docs: org.apache.spark.sql.DataFrame) = {
      val (p, c, r) = (Dedup.minhashNearDupPairsOf(docs), Dedup.docNearDupClustersLss(docs),
        Graph.docPageRank(docs, 3))
      (p.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(p => (p._1, p._2)).toSeq,
        c.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq,
        r.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1).toSeq,
        Seq(p, c, r).map(_.schema))
    }
    // the `neardup_graph` events of `body`, one per builder call
    val graphs = scala.collection.mutable.ArrayBuffer.empty[Map[String, String]]
    val listener = (_: String, l: String) => graphs.synchronized {
      if (l.startsWith("event=neardup_graph ")) graphs += l
        .split(" ").map { kv => val Array(k, v) = kv.split("=", 2); k -> v }.toMap: Unit
    }
    def withGraphs[T](body: => T) = {
      graphs.clear()
      StructuredLog.addListener(listener)
      val out = try body finally StructuredLog.removeListener(listener)
      (out, graphs.toSeq)
    }
    // the dup-text fixture: a near-dup family of multiplicities 3/2/1, a
    // singleton, an exact-dup pair and an exact-dup triple
    val baseWords = (1 to 20).map(i => s"w$i").mkString(" ")
    val (a, b, c) = (baseWords, baseWords + " extra", baseWords + " extra more")
    val Seq(d, e, f) = Seq("z", "y", "x").map(p => (1 to 20).map(i => s"$p$i").mkString(" "))
    val fixture = Seq(1L -> a, 2L -> a, 3L -> a, 4L -> b, 5L -> b, 6L -> c,
      7L -> d, 8L -> e, 9L -> e, 10L -> f, 11L -> f, 12L -> f).toDF("doc_id", "text")
    val (local, localGraphs) = withGraphs(finishes(fixture))
    val (dist, distGraphs) = withGraphs(withoutBroadcast(finishes(fixture)))
    assert(local == dist, s"fixture: local=$local\ndistributed=$dist")
    // one event per builder call: collected by default, not at -1, the
    // same graph either way
    assert(localGraphs.map(_ - "ms") == Seq.fill(3)(Map("event" -> "neardup_graph",
      "local" -> "true", "classes" -> "6", "edges" -> "3", "bytes" -> "640")), localGraphs)
    assert(distGraphs.map(_ - "ms") == localGraphs.map(_ - "ms" + ("local" -> "false")),
      distGraphs)
    val (pairs, clusters, ranks, _) = local
    // K6 on 1..6 plus the pair and the triple's internal pairs
    assert(pairs.size == 15 + 1 + 3, pairs)
    assert(clusters.map(_._2).distinct == Seq(1L, 8L, 10L), clusters)
    assert(ranks.map(_._1) == (1L to 6L) ++ (8L to 12L), ranks)
    // ten random replicated corpora, each mode's calls side by side
    val corpora = (1 to 10).map(replicatedCorpus)
    def all = Await.result(Future.traverse(corpora)(c => Future(finishes(c))), Duration.Inf)
    val (locals, localEvents) = withGraphs(all)
    val (dists, distEvents) = withGraphs(withoutBroadcast(all))
    for (((l, r), seed) <- locals.zip(dists).zipWithIndex)
      assert(l == r, s"seed ${seed + 1}: local=$l\ndistributed=$r")
    assert(localEvents.size == 30 && localEvents.forall(_("local") == "true"), localEvents)
    assert(distEvents.size == 30 && distEvents.forall(_("local") == "false"), distEvents)
    // every corpus carries cross-text edges, not only exact-dup classes
    assert(localEvents.forall(_("edges").toLong >= 2), localEvents)
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
    // each call reports every round, then its convergence once, as
    // structured events
    val events = scala.collection.mutable.ArrayBuffer.empty[Map[String, String]]
    val listener = (_: String, l: String) => synchronized {
      if (l.startsWith("event=fixpoint_")) events += l.split(" ")
        .map { kv => val Array(k, v) = kv.split("=", 2); k -> v }.toMap: Unit
    }
    def lssOf = toMapOf(Dedup.connectedComponentsLss(pairs).select(col("id"), col("label")))
    StructuredLog.addListener(listener)
    // broadcasts off: the fixture would fit the budget and finish on the
    // driver before any round — this half covers the distributed rounds
    val (lp, lss) = try withoutBroadcast {
      (toMapOf(operators.LabelPropagation.connectedComponents(pairs)
        .select(col("id"), col("label"))), lssOf)
    } finally StructuredLog.removeListener(listener)
    val converged = events.filter(_("event") == "fixpoint_converged")
    assert(converged.map(_("op")) ==
      Seq("connectedComponents", "connectedComponentsLss"), events.toString)
    assert(converged.forall(_("local") == "false"), events.toString)
    // the 21-node chain needs many label-propagation rounds
    assert(converged.forall(_("rounds").toInt > 1), events.toString)
    // one fixpoint_round event per round of each call, numbered 1..rounds
    for (c <- converged) assert(events
      .filter(e => e("event") == "fixpoint_round" && e("op") == c("op"))
      .map(_("round").toInt) == (1 to c("rounds").toInt), events.toString)
    assert(lss == lp, s"lss=$lss\nlp=$lp")
    assert(lss(119L) == 100L && lss(6L) == 1L && lss(53L) == 50L &&
      lss(201L) == 200L)
    // the same fixture under the default budget: its 32 edges fit, so the
    // initial state is collected and finished on the driver, with no round
    events.clear()
    StructuredLog.addListener(listener)
    val local = try lssOf finally StructuredLog.removeListener(listener)
    assert(events.map(e => (e("event"), e("rounds"), e("local"), e("rows"))) ==
      Seq(("fixpoint_converged", "0", "true", "32")), events.toString)
    assert(local == lp, s"local=$local\nlp=$lp")
  }

  test("lss local finish equals the distributed rounds and label propagation on random graphs") {
    import graft.operators.Dedup
    // the (id, label) rows as a map, once there is exactly one row per id:
    // the clustering queries join on this frame, and a map comparison
    // alone would hide a duplicated row
    def toMapOf(df: org.apache.spark.sql.DataFrame, what: String) = {
      val rows = df.select(col("id"), col("label")).collect()
        .map(r => r.getLong(0) -> r.getLong(1))
      val m = rows.toMap
      assert(rows.length == m.size, s"$what: more than one row per id: ${rows.sorted.toSeq}")
      m
    }
    for (seed <- 1 to 20) {
      val rnd = new scala.util.Random(seed)
      // 3-5 groups of distinct sparse ids; edges only inside a group, so
      // the graph has several components (a group may split further)
      val groups = Seq.fill(3 + rnd.nextInt(3))(
        Seq.fill(2 + rnd.nextInt(7))(rnd.nextLong() & ((1L << 40) - 1)).distinct)
      val edges = groups.flatMap { g =>
        val es = Seq.fill(1 + rnd.nextInt(2 * g.size))(
          (g(rnd.nextInt(g.size)), g(rnd.nextInt(g.size))))
        // duplicate pairs, reversed pairs and self-loops
        es ++ es.take(2) ++ es.takeRight(2).map(_.swap) ++ Seq((g.head, g.head))
      }
      val pairs = rnd.shuffle(edges).toDF("doc_a", "doc_b")
      val local = toMapOf(Dedup.connectedComponentsLss(pairs), s"seed $seed local")
      val (rounds, lp) = withoutBroadcast(
        (toMapOf(Dedup.connectedComponentsLss(pairs), s"seed $seed rounds"),
          toMapOf(operators.LabelPropagation.connectedComponents(pairs), s"seed $seed lp")))
      // LSS drops self-loops; label propagation keeps a node whose only
      // edge is a self-loop as its own singleton component
      val sizes = lp.values.groupBy(identity).map { case (l, ls) => l -> ls.size }
      val lpNonSingleton = lp.filter { case (_, l) => sizes(l) > 1 }
      assert(local == rounds, s"seed $seed: local=$local\nrounds=$rounds")
      assert(local == lpNonSingleton, s"seed $seed: local=$local\nlp=$lp")
    }
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
    val a = operators.PlainPageRank.pageRank(pairs, 3).orderBy("doc_id").collect().toSeq
    val b = operators.PlainPageRank.pageRank(pairs.repartition(13), 3)
      .orderBy("doc_id").collect().toSeq
    assert(a == b)
  }
}
