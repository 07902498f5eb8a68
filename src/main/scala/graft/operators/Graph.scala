package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType, StructField, StructType}

import graft.functions.Sketches

/** Iterative graph analytics over the near-duplicate graph — the step
  * beyond connected components ([[Dedup.connectedComponentsLss]]): PageRank
  * centrality on the similarity graph ranks cluster members by how
  * embedded they are (a hub shared by many near-dups scores high; a
  * leaf edit scores low), which is a principled "pick the canonical
  * variant" signal alongside SemDeDup's max-norm heuristic.
  *
  * Scale design: classic distributed PageRank — each round is one join
  * (rank × out-edges) + one aggregate (sum contributions per destination),
  * both shuffling on the node id, so K rounds cost K bounded shuffles over
  * |E| rows; the rounds run through [[Fixpoint]] with a fixed round count,
  * whose per-round checkpoint keeps the plan linear in K. What Spark would
  * broadcast, an operator may collect, and the rule applies to the RAW
  * class graph: [[Dedup.nearDupGraph]] builds the classes and verified rep
  * edges once per call and collects them when their bound fits
  * `spark.sql.autoBroadcastJoinThreshold`. PageRank then computes degrees,
  * the node count and every round on the driver with the same arithmetic
  * ([[pageRankOnDriver]]) and never reaches the loop; above the budget, or
  * at -1, every round runs distributed from the builder's checkpoints.
  * Triangles and k-core take their classes and rep edges from the same
  * builder and stay distributed.
  * Iterations are FIXED (k=3), not run-to-convergence: the result is a
  * deterministic dataflow any engine can replay — which is also what makes
  * it oracle-checkable.
  *
  * Cross-engine exactness discipline (the q_lm_score/q_ewma playbook):
  * every per-edge contribution is rounded to 12 dp and summed as
  * DECIMAL(28,12) — order-independent — and each rank update re-rounds to
  * 12 dp, so both engines walk identical doubles at every step; the final
  * ranks are bit-identical, not approximately equal.
  */
object Graph {
  type Q = (SparkSession, String) => DataFrame

  private val damping = 0.85

  /** PageRank over the near-dup graph of a (doc_id, text) corpus, computed
    * on the TEXT-IDENTITY QUOTIENT ([[Dedup.nearDupGraph]], shared with the
    * pairs, LSS clusters, triangles and k-core). Members of an exact-dup class have identical
    * neighborhoods in the expanded pair graph, hence identical degree and
    * rank — so every iteration runs on the class-level graph with
    * multiplicity weights and only the final output expands to members.
    * The expanded form's per-iteration join shuffles |E| rows where |E| is
    * quadratic in replication (914M directed edges on the 1000× probe
    * corpus — the per-doc form exhausted shuffle disk there); here every
    * exchange is linear in distinct texts.
    *
    * Bit-exactness with per-doc PageRank over the expanded pair set (the
    * oracle the specs keep, and the q_pagerank oracle SQL; law in
    * GraphSpec): a member of class C receives (m_C − 1) copies of C's
    * per-edge contribution c_C plus m_D copies of c_D per neighbor class
    * D. The per-doc form sums those copies as DECIMAL(28,12); here the
    * copy-sum is the exact decimal product c × m (DECIMAL(13,12) ×
    * DECIMAL(12,0) — sized so no precision loss, the q_embed_pca lesson),
    * and exact decimal sums are multiset-invariant, so both engines and
    * both forms walk identical doubles through every round(·, 12).
    *
    * When the class graph fits the broadcast budget the ranks come from
    * [[pageRankOnDriver]] as a local frame; otherwise from the distributed
    * [[classPageRank]]. Both forms are bit-identical (law in GraphSpec). */
  private[graft] def docPageRank(d: DataFrame, k: Int): DataFrame = {
    val g = Dedup.nearDupGraph(d.select(col("doc_id"), col("text")))
    g.local match {
      case Some(l) =>
        val rows = for ((c, deg, pr) <- pageRankOnDriver(l.classes.toSeq, l.edges.toSeq, k);
                        doc <- c.members) yield Row(doc, deg, pr)
        d.sparkSession.createDataFrame(rows.asJava, StructType(Seq(
          StructField("doc_id", LongType, nullable = false),
          StructField("degree", LongType, nullable = false),
          StructField("pagerank", DoubleType))))
      case None =>
        val eDir = g.edges
          .select(explode(array(
            struct(col("doc_a").as("src"), col("doc_b").as("dst")),
            struct(col("doc_b").as("src"), col("doc_a").as("dst")))).as("e"))
          .select(col("e.src"), col("e.dst"))
        // a class is an intra-clique iff its copies would pair in the
        // expanded graph — the within-class condition of DupClass.clique
        val nodes = g.classes.select(col("gid"), col("m"), col("members"),
          (col("m") >= 2 &&
            Sketches.jaccardShingles(col("text"), col("text"), 3) >= 0.8).as("clique"))
        Dedup.spread(classPageRank(nodes, eDir, k))
          .select(explode(col("members")).as("doc_id"),
            col("deg").cast("long").as("degree"), col("pr").as("pagerank"))
    }
  }

  /** [[docPageRank]]'s distributed class-level iteration: `k` PageRank
    * rounds over a class graph, run through [[Fixpoint]] as op
    * `docPageRank`. `nodes` holds one row per class — `gid`, its
    * multiplicity `m`, whether its members pair with each other (`clique`),
    * and any columns to pass through; `edges` holds the directed class
    * edges (`src`, `dst`), both directions of each. A class of degree 0
    * drops out. Returns the nodes' columns plus `deg`, `n` (the expanded
    * node count) and `pr`. */
  private[graft] def classPageRank(nodes: DataFrame, edges: DataFrame, k: Int): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
    val nbm = e
      .join(nodes.select(col("gid").as("src"), col("m").as("msrc")), "src")
      .groupBy(col("dst").as("gid")).agg(sum(col("msrc")).as("nbm"))
    val ranked = nodes.join(nbm, Seq("gid"), "left")
      .withColumn("deg",
        when(col("clique"), col("m") - 1).otherwise(lit(0L)) +
          coalesce(col("nbm"), lit(0L)))
      .drop("nbm")
      .filter(col("deg") > 0)
    val n = ranked.agg(sum(col("m")).as("n"))
    val init = ranked.crossJoin(broadcast(n))
      .withColumn("pr", round(lit(1.0) / col("n"), 12))
    Fixpoint.run("docPageRank", init, rounds = Some(k)) { pr =>
      val c = pr.withColumn("c",
        round(col("pr") / col("deg"), 12).cast(DecimalType(13, 12)))
      val inter = c
        .select(col("gid").as("src"),
          (col("c") * col("m").cast(DecimalType(12, 0))).as("w"))
        .join(e, "src")
        .groupBy(col("dst")).agg(sum(col("w")).as("si"))
      c.join(inter, col("gid") === col("dst"), "left")
        .withColumn("pr",
          round(lit(1 - damping) / col("n") + lit(damping) *
            (when(col("clique"),
              col("c") * (col("m") - 1).cast(DecimalType(12, 0)))
              .otherwise(lit(BigDecimal(0)).cast(DecimalType(26, 12))) +
              coalesce(col("si"), lit(BigDecimal(0)).cast(DecimalType(36, 12))))
              .cast("double"), 12))
        .select(pr.columns.map(col): _*)
    }
  }

  /** [[classPageRank]] in driver memory, a pure function of the collected
    * class graph: each class with its degree — (m − 1 if its copies pair)
    * plus Σ m over its neighbours — and its rank after `k` rounds; a class
    * of degree 0 drops out. Each step replays Spark's arithmetic bit for
    * bit, so the ranks equal the distributed rounds' (law in GraphSpec):
    *   - `round(x, 12)` is HALF_UP on `BigDecimal(x)`, which Spark's
    *     `RoundBase` builds through `Double.toString`;
    *   - the `DECIMAL(13,12)` cast of `round(pr / deg, 12)` is the same
    *     decimal, HALF_UP to scale 12;
    *   - `c × m` is the exact `DECIMAL(13,12) × DECIMAL(12,0)` product, and
    *     the per-destination sums are exact decimal sums, so their order
    *     does not matter;
    *   - the intra-clique term plus the inter-class sum becomes a double as
    *     `Decimal.toDouble` does, through `BigDecimal.doubleValue`. */
  private[graft] def pageRankOnDriver(classes: Seq[Dedup.DupClass],
      edges: Seq[Dedup.RepEdge], k: Int): Seq[(Dedup.DupClass, Long, Double)] = {
    import java.math.{BigDecimal => JDec, RoundingMode}
    def dec12(x: Double) =
      new JDec(java.lang.Double.toString(x)).setScale(12, RoundingMode.HALF_UP)
    def round12(x: Double) = dec12(x).doubleValue
    val cs = classes.sortBy(_.gid).toArray
    val ids = cs.map(_.gid)
    val m = cs.map(_.m)
    def idx(id: Long) = java.util.Arrays.binarySearch(ids, id)
    val a = edges.map(e => idx(e.a)).toArray
    val b = edges.map(e => idx(e.b)).toArray
    val deg = cs.map(c => if (c.clique) c.m - 1 else 0L)
    for (j <- a.indices) { deg(a(j)) += m(b(j)); deg(b(j)) += m(a(j)) }
    val ranked = cs.indices.filter(deg(_) > 0)
    val n = ranked.map(m).sum.toDouble
    def step(pr: Array[Double]): Array[Double] = {
      val c = Array.tabulate(ids.length)(i =>
        if (deg(i) > 0) dec12(round12(pr(i) / deg(i))) else JDec.ZERO)
      val s = Array.tabulate(ids.length)(i =>
        if (cs(i).clique) c(i).multiply(JDec.valueOf(m(i) - 1)) else JDec.ZERO)
      for (j <- a.indices) {
        s(b(j)) = s(b(j)).add(c(a(j)).multiply(JDec.valueOf(m(a(j)))))
        s(a(j)) = s(a(j)).add(c(b(j)).multiply(JDec.valueOf(m(b(j)))))
      }
      s.map(x => round12((1 - damping) / n + damping * x.doubleValue))
    }
    if (ranked.isEmpty) Nil else {
      val pr = (1 to k).foldLeft(Array.fill(ids.length)(round12(1.0 / n)))((p, _) => step(p))
      ranked.map(i => (cs(i), deg(i), pr(i)))
    }
  }

  /** Canonical undirected edge list (a < b, no self-loops, deduped). */
  private def canonPairs(pairs: DataFrame): DataFrame = pairs
    .select(least(col("doc_a"), col("doc_b")).as("a"),
      greatest(col("doc_a"), col("doc_b")).as("b"))
    .filter(col("a") =!= col("b")).distinct()

  /** One row per triangle of the canonical edge list `und`, enumerated at
    * its degree-ordered apex (columns apex, d1, d2 = the 3 node ids). */
  private def triangleTriples(und: DataFrame): DataFrame = {
    val deg = und.select(col("a").as("id")).unionByName(und.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    val oriented = und
      .join(deg.select(col("id").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("id").as("b"), col("deg").as("db")), "b")
      .select(
        when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
          col("a")).otherwise(col("b")).as("src"),
        when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
          col("b")).otherwise(col("a")).as("dst"))
    val wedges = oriented.as("e1")
      .join(oriented.as("e2"), col("e1.src") === col("e2.src"))
      .filter(col("e1.dst") < col("e2.dst"))
      .select(col("e1.src").as("apex"), col("e1.dst").as("d1"), col("e2.dst").as("d2"))
    wedges.join(und,
      least(col("d1"), col("d2")) === col("a") &&
        greatest(col("d1"), col("d2")) === col("b"))
      .select(col("apex"), col("d1"), col("d2"))
  }

  /** Per-node triangle counts over an undirected edge list — the local
    * clustering signal: a doc in many triangles sits in a dense near-dup
    * clique (template/boilerplate family), one in none is a chain artifact.
    *
    * Scale shape: the classic degree-ordered orientation. Every edge is
    * directed from its lower-(degree, id) endpoint to the higher one, so
    * each node's out-degree is O(√|E|) even on power-law graphs — the
    * wedge join (out-list ⋈ out-list on the apex) never explodes on a
    * hub the way the naive a<b orientation does on low-id hubs. Each
    * triangle is generated at exactly one apex (its orientation-minimum
    * vertex), then confirmed by one join against the undirected edge set:
    * two hash shuffles total, no CartesianProduct. */
  def triangleCounts(pairs: DataFrame): DataFrame =
    triangleTriples(canonPairs(pairs).localCheckpoint())
      .select(explode(array(col("apex"), col("d1"), col("d2"))).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_triangles"))

  /** Document triangle census with exact-duplicate collapse — the form
    * that survives a duplicate-heavy crawl. Identical texts form perfect
    * cliques in the near-dup graph, and a clique of m copies holds
    * C(m,3) triangles: enumerating them explicitly is Θ(m³) PER GROUP
    * (the wedge join materializes every one), which is exactly the
    * replicated-corpus cliff the 100× probe exists to catch. Instead:
    * take the class graph quotiented by text identity
    * ([[Dedup.nearDupGraph]], always distributed here), run the wedge join
    * on the (small) representative graph, and re-expand per-member counts
    * in closed form over each class's member list. For a member of group i with multiplicity m_i,
    * neighbors N(i), and collapsed triangles T(i) at i:
    *   count = C(m_i−1, 2)                  (both partners own-group)
    *         + (m_i−1) · Σ_{j∈N(i)} m_j     (one own-group, one neighbor)
    *         + Σ_{j∈N(i)} C(m_j, 2)         (both partners in one neighbor)
    *         + Σ_{(j,k)∈T(i)} m_j · m_k     (all three groups distinct)
    * Sound because neighborhoods are text-determined: every member of a
    * group has exactly the same jaccard relations as its representative.
    * On a dup-free corpus every m_i = 1 and this degenerates to the
    * plain census (the oracle equality). All counts are exact integers;
    * the sums stay below 2^53 so the double path is lossless. */
  def docTriangleCounts(docsDf: DataFrame): DataFrame = {
    val g = Dedup.nearDupGraph(docsDf.select(col("doc_id"), col("text")), collect = false)
    val und = g.edges.select(col("doc_a").as("a"), col("doc_b").as("b"))
    val w = g.classes.select(col("gid"), col("m"))
    val nb = und.select(col("a").as("i"), col("b").as("j"))
      .unionByName(und.select(col("b").as("i"), col("a").as("j")))
    val nbAgg = nb.join(w.select(col("gid").as("j"), col("m").as("mj")), "j")
      .groupBy(col("i"))
      .agg(sum(col("mj")).as("s1"),
        sum(col("mj") * (col("mj") - 1) / 2).as("s2"))
    val tri = triangleTriples(und)
    val triW = tri
      .join(w.select(col("gid").as("apex"), col("m").as("ma")), "apex")
      .join(w.select(col("gid").as("d1"), col("m").as("m1")), "d1")
      .join(w.select(col("gid").as("d2"), col("m").as("m2")), "d2")
    val triContrib = triW.select(col("apex").as("gid"), (col("m1") * col("m2")).as("t"))
      .unionByName(triW.select(col("d1").as("gid"), (col("ma") * col("m2")).as("t")))
      .unionByName(triW.select(col("d2").as("gid"), (col("ma") * col("m1")).as("t")))
      .groupBy(col("gid")).agg(sum(col("t")).as("tsum"))
    val perGroup = w
      .join(nbAgg, w("gid") === nbAgg("i"), "left")
      .join(triContrib, Seq("gid"), "left")
      .select(col("gid"),
        ((col("m") - 1) * (col("m") - 2) / 2
          + (col("m") - 1) * coalesce(col("s1"), lit(0L))
          + coalesce(col("s2"), lit(0L))
          + coalesce(col("tsum"), lit(0L))).as("c"))
    perGroup.filter(col("c") > 0)
      .join(g.classes.select(col("gid"), col("members")), "gid")
      .select(explode(col("members")).as("doc_id"), col("c").cast("long").as("n_triangles"))
  }

  /** k-core decomposition by iterative peeling: drop every node whose
    * degree in the SURVIVING subgraph is < k, repeat to fixpoint; what
    * remains is the maximal subgraph of minimum degree ≥ k — the standard
    * density filter for boilerplate/spam hubs in a near-dup graph (a doc
    * cross-linked into a dense near-dup blob is suspect even when no
    * single pair is decisive). Returns (doc_id, core_deg = degree inside
    * the core).
    *
    * Scale shape: each round is one degree aggregate + two semi-joins,
    * all hash-shuffled on node id over a monotonically SHRINKING edge
    * set, with a localCheckpoint per round to cut lineage (the
    * connected-components discipline). Rounds needed = the longest
    * peel cascade (≤ graph diameter), not O(n); the fixpoint check is
    * an edge count — removals-only makes count equality a correct
    * convergence test. */
  def kCore(pairs: DataFrame, k: Int): DataFrame = {
    // the per-round edge count rides the checkpoint job (r14, Fixpoint)
    // instead of a separate count() action — removals-only peeling makes
    // count equality an exact fixpoint test
    val edges = Fixpoint.run("kCore", canonPairs(pairs)) { edges =>
      val deg = edges.select(col("a").as("id"))
        .unionByName(edges.select(col("b").as("id")))
        .groupBy("id").agg(count(lit(1)).as("deg"))
      val keep = deg.filter(col("deg") >= k).select(col("id"))
      edges
        .join(keep.select(col("id").as("a")), Seq("a"), "left_semi")
        .join(keep.select(col("id").as("b")), Seq("b"), "left_semi")
    }
    edges.select(col("a").as("doc_id")).unionByName(edges.select(col("b").as("doc_id")))
      .groupBy("doc_id").agg(count(lit(1)).as("core_deg"))
  }

  /** k-core with exact-duplicate collapse — the form that survives a
    * duplicate-heavy crawl (the [[docTriangleCounts]] discipline, fourth
    * use). Identical texts are pairwise near-dups (jaccard 1), so an
    * m-copy group is an m-clique contributing Θ(m²) edges; peeling the
    * raw graph re-shuffles all of them every round. Instead: peel the
    * (small) class graph of [[Dedup.nearDupGraph]] (always distributed
    * here) with multiplicity-weighted degrees. Sound because degrees are
    * text-determined — every member of group i has, in any
    * union-of-full-groups subgraph S, the identical degree
    *   d_i = (m_i − 1) + Σ_{j∈N(i)∩S} m_j
    * ((m_i − 1) own-group clique edges plus one edge per member of each
    * surviving neighbor group), so the whole group drops or survives as
    * one and the peel sequence on the quotient replays the peel sequence
    * on the full graph exactly (GraphSpec proves equality against the
    * plain peel on a replicated corpus). Final core_deg per member is
    * the same closed form over the surviving neighborhood. Each round
    * shuffles |E_rep| quotient edges — independent of duplication
    * factor — vs Θ(Σ m_i²) raw. */
  def docKCore(docsDf: DataFrame, k: Int): DataFrame = {
    val g = Dedup.nearDupGraph(docsDf.select(col("doc_id"), col("text")), collect = false)
    var edges = g.edges.select(col("doc_a").as("a"), col("doc_b").as("b"))
    // the surviving-group count rides keep's checkpoint job (r14,
    // Fixpoint) instead of a separate count() action per peel round;
    // removals-only peeling makes count equality an exact fixpoint test
    val nodes = Fixpoint.run("docKCore", g.classes.select(col("gid"), col("m"))) { nodes =>
      // edges between surviving groups only (round 1: every group). After
      // the last round the edges still span the previous round's groups,
      // which at the fixpoint are the same groups (or none survive)
      edges = edges
        .join(nodes.select(col("gid").as("a")), Seq("a"), "left_semi")
        .join(nodes.select(col("gid").as("b")), Seq("b"), "left_semi")
        .localCheckpoint()
      val nbW = edges.select(col("a").as("gid"), col("b").as("j"))
        .unionByName(edges.select(col("b").as("gid"), col("a").as("j")))
        .join(nodes.select(col("gid").as("j"), col("m").as("mj")), "j")
        .groupBy(col("gid")).agg(sum(col("mj")).as("nbsum"))
      nodes.join(nbW, Seq("gid"), "left")
        .filter(col("m") - 1 + coalesce(col("nbsum"), lit(0L)) >= k)
        .select(col("gid"), col("m"))
    }
    val nbFinal = edges.select(col("a").as("gid"), col("b").as("j"))
      .unionByName(edges.select(col("b").as("gid"), col("a").as("j")))
      .join(nodes.select(col("gid").as("j"), col("m").as("mj")), "j")
      .groupBy(col("gid")).agg(sum(col("mj")).as("nbsum"))
    val perGroup = nodes.join(nbFinal, Seq("gid"), "left")
      .select(col("gid"),
        (col("m") - 1 + coalesce(col("nbsum"), lit(0L))).as("core_deg"))
    perGroup.join(g.classes.select(col("gid"), col("members")), "gid")
      .select(explode(col("members")).as("doc_id"), col("core_deg").cast("long").as("core_deg"))
  }

  val queries: Map[String, Q] = Map(
    // PageRank over the exact near-dup graph (≥0.8 jaccard pair set, the
    // q_dedup_minhash_lsh semantics), computed on the text-identity
    // quotient graph with multiplicity-weighted iterations — bit-identical
    // to per-doc PageRank over the expanded pair set (law in GraphSpec),
    // linear in distinct texts where the expanded form is quadratic in
    // replication
    "q_pagerank" -> ((s, dir) =>
      docPageRank(graft.Tables.load(s, dir, "documents"), 3)
        .orderBy(col("doc_id"))),

    // triangle census of the same exact near-dup graph, computed on the
    // text-identity quotient graph (exact-dup collapse + closed-form
    // re-expansion — see docTriangleCounts)
    "q_graph_triangles" -> ((s, dir) =>
      docTriangleCounts(graft.Tables.load(s, dir, "documents"))
        .orderBy(col("doc_id"))),

    // 2-core of the near-dup graph: docs that survive pendant-stripping,
    // i.e. sit in a cycle of near-duplicates — computed on the
    // text-identity quotient graph (exact-dup collapse + weighted peel +
    // closed-form re-expansion, see docKCore); Spark peels to fixpoint,
    // the oracle unrolls 8 peel rounds over the full graph (the gate
    // corpus's cascades are far shorter; GraphSpec proves both fixpoint
    // semantics and quotient-vs-plain equality independently)
    "q_graph_kcore" -> ((s, dir) =>
      docKCore(graft.Tables.load(s, dir, "documents"), 2)
        .orderBy(col("doc_id"))),
  )

  /** `rounds` unrolled peel iterations (keep nodes with degree ≥ k among
    * survivors) as chained CTEs — SQL can't express the data-dependent
    * fixpoint, so the oracle over-peels a fixed depth instead; equality
    * with the fixpoint implies the corpus converged within `rounds`.
    * Every CTE is MATERIALIZED: each peel round references the previous
    * e_i twice plus two IN-subqueries, so DuckDB's default CTE inlining
    * expands the chain into exponentially many copies of the (parquet-
    * scanning) pair query and exhausts the process fd limit — the
    * round-4 red. Materialization computes each round once; the
    * documents parquet is opened exactly once, inside p. */
  private def kCoreOracleSql(k: Int, rounds: Int): String = {
    val peels = (0 until rounds).map { i =>
      s"""k$i AS MATERIALIZED (
         |       SELECT id FROM (SELECT a AS id FROM e$i UNION ALL SELECT b FROM e$i)
         |       GROUP BY id HAVING COUNT(*) >= $k),
         |e${i + 1} AS MATERIALIZED (SELECT a, b FROM e$i
         |       WHERE a IN (SELECT id FROM k$i) AND b IN (SELECT id FROM k$i))"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH p AS MATERIALIZED (SELECT doc_a, doc_b FROM (${Dedup.exactPairsSql})
       |           WHERE jaccard >= 0.8),
       |e0 AS MATERIALIZED (SELECT doc_a AS a, doc_b AS b FROM p),
       |$peels
       |SELECT id AS doc_id, CAST(COUNT(*) AS BIGINT) AS core_deg
       |FROM (SELECT a AS id FROM e$rounds UNION ALL SELECT b FROM e$rounds)
       |GROUP BY id ORDER BY doc_id""".stripMargin
  }

  /** 3 unrolled iterations as chained CTEs over the same exact pair set,
    * with the identical rounding/decimal-sum discipline. */
  val oracle: Map[String, String] = Map(
    "q_pagerank" ->
      s"""WITH p AS (SELECT doc_a, doc_b FROM (${Dedup.exactPairsSql})
         |           WHERE jaccard >= 0.8),
         |e AS (SELECT doc_a AS src, doc_b AS dst FROM p
         |      UNION ALL SELECT doc_b, doc_a FROM p),
         |d AS (SELECT src AS id, COUNT(*) AS deg FROM e GROUP BY 1),
         |nn AS (SELECT COUNT(*) AS n FROM d),
         |p0 AS (SELECT id, deg, n, round(1.0 / n, 12) AS pr FROM d, nn),
         |c1 AS (SELECT dst, SUM(CAST(round(pr / deg, 12) AS DECIMAL(28,12))) AS s
         |       FROM p0 JOIN e ON p0.id = e.src GROUP BY dst),
         |p1 AS (SELECT id, deg, n,
         |         round(0.15 / n + 0.85 * COALESCE(CAST(s AS DOUBLE), 0.0), 12) AS pr
         |       FROM p0 LEFT JOIN c1 ON p0.id = c1.dst),
         |c2 AS (SELECT dst, SUM(CAST(round(pr / deg, 12) AS DECIMAL(28,12))) AS s
         |       FROM p1 JOIN e ON p1.id = e.src GROUP BY dst),
         |p2 AS (SELECT id, deg, n,
         |         round(0.15 / n + 0.85 * COALESCE(CAST(s AS DOUBLE), 0.0), 12) AS pr
         |       FROM p1 LEFT JOIN c2 ON p1.id = c2.dst),
         |c3 AS (SELECT dst, SUM(CAST(round(pr / deg, 12) AS DECIMAL(28,12))) AS s
         |       FROM p2 JOIN e ON p2.id = e.src GROUP BY dst),
         |p3 AS (SELECT id, deg, n,
         |         round(0.15 / n + 0.85 * COALESCE(CAST(s AS DOUBLE), 0.0), 12) AS pr
         |       FROM p2 LEFT JOIN c3 ON p2.id = c3.dst)
         |SELECT id AS doc_id, CAST(deg AS BIGINT) AS degree, pr AS pagerank
         |FROM p3 ORDER BY doc_id""".stripMargin,
    // the orientation trick changes the join sizes, never the triangle
    // set — the oracle enumerates triangles the textbook way (a<b<c
    // three-way join over the canonical pair list)
    "q_graph_triangles" ->
      s"""WITH p AS (SELECT doc_a, doc_b FROM (${Dedup.exactPairsSql})
         |           WHERE jaccard >= 0.8),
         |t AS (SELECT e1.doc_a AS x, e1.doc_b AS y, e2.doc_b AS z
         |      FROM p e1
         |      JOIN p e2 ON e1.doc_b = e2.doc_a
         |      JOIN p e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b)
         |SELECT id AS doc_id, COUNT(*) AS n_triangles FROM (
         |  SELECT x AS id FROM t
         |  UNION ALL SELECT y FROM t
         |  UNION ALL SELECT z FROM t)
         |GROUP BY id ORDER BY doc_id""".stripMargin,
    "q_graph_kcore" -> kCoreOracleSql(2, 8),
  )
}
