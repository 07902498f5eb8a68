package graft.operators

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DecimalType, DoubleType, FloatType,
  IntegerType, LongType, StructField, StructType}

import graft.Tables
import graft.functions.Sketches

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (SURVEY.md §7.2 step 7).
  *
  * Two paths:
  *  - brute-force cosine top-k: exact baseline. Queries are broadcast, so
  *    the fact side streams — O(n·q) with no shuffle of the corpus; right
  *    whenever q (the query batch) is small, at any corpus size.
  *  - LSH-bucketed: random-hyperplane signatures partition the corpus into
  *    buckets; a query only probes matching signature bands. Candidate
  *    generation is an equi-join — shuffle bounded by bucket sizes, the
  *    100 TB path when the corpus has neighbor structure.
  *
  * Cosine is a custom fused catalyst expression
  * ([[graft.functions.CosineSim]]) — one pass, double precision. Scores are
  * rounded to 6 decimals *before* ranking so ordering (and the oracle
  * comparison) is stable across engines.
  */
object Similarity {
  type Q = (SparkSession, String) => DataFrame

  private val nQueries = 10
  private val topK = 5

  val queries: Map[String, Q] = Map(
    "q_similarity_topk" -> ((s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("score").desc, col("vec_id"))
      broadcast(queryBatch(e)).join(e, col("vec_id") =!= col("qid"))
        .withColumn("score", round(Sketches.cosineSim(col("qv"), col("embedding")), 6))
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= topK)
        .select(col("qid"), col("vec_id"), col("score"), col("rn"))
        .orderBy(col("qid"), col("rn"))
    }),

    // ANN via hyperplane LSH, 48 bands × 2 bits (96 planes over 2 stacked
    // signatures; sign-agreement p=1-θ/π per plane → band hit p², 48
    // independent chances → miss (1-p²)⁴⁸). This corpus has NO neighbor
    // structure — true top-5 scores sit at cos 0.25-0.51 against background
    // ~0.2, so p≈0.58-0.65 at the floor and recall ~1 (miss ≤ 2.4e-9 per
    // slot) costs probing most of the corpus; exact cosine re-ranks the
    // candidates, making the output equal brute force (the registered
    // oracle). On a corpus with real cluster structure the same operator
    // runs r=8/b=16 and probes a small fraction — b, r are tuning knobs.
    // Scale shape (probe-driven, 1000×): banding/scoring is QUOTIENTED by
    // embedding identity — identical vectors have identical signatures,
    // bands, and scores, so one row per DISTINCT embedding carries
    // (rep_id, the topK+1 smallest member ids) through the pipeline; a
    // class can contribute at most topK rows to any result (its members
    // in vec_id order, minus a possible qid self-exclusion), so the
    // bounded-heap collapse loses nothing. The candidate exchange carries
    // only (qid, rep_id) — the pre-quotient form shuffled BOTH 64-float
    // arrays through a corpus-sized distinct() (240M candidate rows /
    // ~130 GB at 2M vectors in 1000-member dup classes: 166 s at 1000×
    // vs 5.8 s at 100× — super-linear; identical output checksum).
    "q_similarity_lsh" -> ((s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      val members = graft.plans.TopK.perKey(
        e.select(col("embedding"), col("vec_id")),
        Seq("embedding"), Seq(("vec_id", false)), topK + 1)
      val uniq = members.groupBy(col("embedding")).agg(
        min(col("vec_id")).as("rep_id"),
        sort_array(collect_list(col("vec_id"))).as("member_ids"))
      val sig = uniq
        .select(col("rep_id"), col("embedding"), col("member_ids"),
          Sketches.rhSignature(col("embedding"), 64, 64, 256).as("sa"),
          Sketches.rhSignature(col("embedding"), 32, 64, 320).as("sb"))
      def bands(df: DataFrame, idc: Seq[String]) = df
        .select(idc.map(col) :+ explode(sequence(lit(0), lit(47))).as("band_idx"): _*)
        .withColumn("band_val", expr(
          """CASE WHEN band_idx < 32
            |  THEN shiftrightunsigned(sa, band_idx * 2) & 3
            |  ELSE shiftrightunsigned(sb, (band_idx - 32) * 2) & 3 END""".stripMargin))
      val banded = bands(sig.select(col("rep_id"), col("sa"), col("sb")),
          Seq("rep_id", "sa", "sb"))
        .select(col("rep_id"), col("band_idx"), col("band_val"))
      val qf = queryBatch(e)
      val qBanded = bands(qf
          .select(col("qid"),
            Sketches.rhSignature(col("qv"), 64, 64, 256).as("sa"),
            Sketches.rhSignature(col("qv"), 32, 64, 320).as("sb")),
          Seq("qid", "sa", "sb"))
        .select(col("qid"), col("band_idx"), col("band_val"))
      val cand = broadcast(qBanded).join(banded, Seq("band_idx", "band_val"))
        .select(col("qid"), col("rep_id")).distinct()
      rankStamp(top5(cand
        .join(sig.select(col("rep_id"), col("embedding"), col("member_ids")), "rep_id")
        .join(broadcast(qf), "qid")
        .withColumn("score", round(Sketches.cosineSim(col("qv"), col("embedding")), 6))
        .select(col("qid"), col("score"), explode(col("member_ids")).as("vec_id"))
        .filter(col("vec_id") =!= col("qid"))))
    }),

    "q_similarity_ivf" -> ((s, dir) => ivf(s, dir)),

    "q_similarity_pq" -> ((s, dir) => pq(s, dir)),

    // the PRODUCTION factorings (r13 verdict #2 — the similarity-axis
    // analogue of q_dedup_semantic_incremental_ingest): the ANN model is
    // trained + persisted ONCE at ingest time ([[writeModel]]), then the
    // search pass LOADS it ([[readModel]]) — zero in-query
    // sample collection, Lloyd iterations, or codebook fitting. Same
    // deterministic training sample ⇒ same model ⇒ same certified-exact
    // output, so each shares its in-plan twin's brute-force oracle;
    // equality of the twins is pinned in PipelineSpec.
    "q_similarity_ivf_ingest" -> ((s, dir) => {
      val p = graft.Scratch.tempDir("graft_ivfmodel_")
      writeModel(s, p, ivfModelOf(Tables.load(s, dir, "embeddings")))
      ivf(s, dir, model = Some(readModel[IvfModel](s, p)))
    }),

    "q_similarity_pq_ingest" -> ((s, dir) => {
      val p = graft.Scratch.tempDir("graft_pqmodel_")
      writeModel(s, p, pqModelOf(Tables.load(s, dir, "embeddings")))
      pq(s, dir, model = Some(readModel[PqModel](s, p)))
    }),

    // int8 symmetric quantization of the embedding column — 4× smaller
    // vectors for shuffle/storage (the cheap first rung of the
    // compression ladder below PQ's 16×). Pure scan-stage column algebra:
    // per-vector absmax scale, round-to-int codes, and the max
    // dequantization error (∞-norm) for a quality gate. Oracle-exact:
    // both engines compute in widened doubles with the same op order,
    // and round() is half-away-from-zero in both. The code vector is
    // emitted as a comma-joined STRING, not a raw array column: the
    // values are exact integers so the text form hashes identically,
    // and downstream tabular harnesses can sort it (raw array columns
    // are unhashable in pandas — the round-4 red).
    // per-label embedding centroids, one row per (label, dimension) — the
    // aggregation a domain-mixture or clustering pipeline runs over the
    // vector column (class centroids, domain prototypes, drift baselines).
    // Pure two-level aggregate keyed on (label, pos): 64·|labels| groups,
    // partial-combined map-side, skew-free by construction; no vector is
    // ever collected. Exactness: per-dimension sums route through 9-dp
    // decimals (order-independent), mean rounds to 6 dp.
    "q_embed_centroids" -> ((s, dir) => {
      Tables.load(s, dir, "embeddings")
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy(col("label"), col("pos"))
        .agg(count(lit(1)).cast("long").as("n_vecs"),
          sum(round(col("v").cast("double"), 9).cast(DecimalType(28, 9))).as("sv"))
        .select(col("label"), col("pos").cast("long").as("pos"), col("n_vecs"),
          round(col("sv").cast("double") / col("n_vecs"), 6).as("mean_v"))
        .orderBy(col("label"), col("pos"))
    }),

    // embedding outlier pruning — the prototypicality gate a curation
    // pipeline runs after clustering (drop/flag vectors far from their
    // class prototype; mislabeled or junk points sit in the distance
    // tail). Distance to the per-label centroid, then a per-label z-score
    // over the distance distribution; rows with z > 2 are the flagged
    // outliers. Scale shape: the centroid table (|labels|·64 rows) and
    // the per-label distance stats (|labels| rows) are bounded frames
    // broadcast back onto the scan; the only corpus-sized exchanges are
    // the two linear vec_id-keyed partial aggs. Output is tail-sized.
    // Exactness discipline: coordinates round to 9 dp, squared diffs
    // route through decimals (order-independent sums), distances round
    // to 6 dp and their per-label moments sum as DECIMAL(18,6) — the
    // q_zscore_outliers discipline on a derived measure.
    "q_embed_outliers" -> ((s, dir) => {
      val ex = Tables.load(s, dir, "embeddings")
        .select(col("vec_id"), col("label"),
          posexplode(col("embedding")).as(Seq("pos", "v")))
        .select(col("vec_id"), col("label"), col("pos"),
          round(col("v").cast("double"), 9).as("rv"))
      val cent = ex.groupBy(col("label"), col("pos"))
        .agg(round(sum(col("rv").cast(DecimalType(28, 9))).cast("double")
          / count(lit(1)), 6).as("mean_v"))
      val dist = ex.join(broadcast(cent), Seq("label", "pos"))
        .select(col("vec_id"), col("label"),
          round((col("rv") - col("mean_v")) * (col("rv") - col("mean_v")), 9)
            .cast(DecimalType(28, 9)).as("sq"))
        .groupBy(col("vec_id"), col("label"))
        .agg(round(sqrt(sum(col("sq")).cast("double")), 6).as("dist"))
      val dd = col("dist").cast(DecimalType(18, 6))
      val n = count(lit(1)).cast("double")
      val sx = sum(dd).cast("double")
      val sxx = sum(dd * dd).cast("double")
      val stats = dist.groupBy(col("label")).agg(
        round(sx / n, 6).as("mean_dist"),
        round(sqrt((sxx - sx * sx / n) / (n - 1)), 6).as("std_dist"))
      dist.join(broadcast(stats), "label")
        .withColumn("z",
          round((col("dist") - col("mean_dist")) / col("std_dist"), 4))
        .filter(col("z") > 2.0)
        .select(col("vec_id"), col("label"), col("dist"), col("z"))
        .orderBy(col("vec_id"))
    }),

    // top principal component of the embedding corpus — the spectral
    // summary a curation pipeline uses for whitening checks, dominant-
    // axis drift detection, and dimensionality-reduction sizing.
    // Computed the 100 TB way: ONE linear pass builds the centered
    // scatter matrix G = Σ (x−μ)(x−μ)ᵀ as an upper-triangle aggregate of
    // dim(dim+1)/2 groups (map-side partial combine — only the 2080-entry
    // frame crosses the exchange), then power iteration runs DRIVER-side
    // on the collected bounded matrix: 3 unrolled steps, no per-iteration
    // corpus scan (iterating y = Xᵀ(Xv) instead would re-scan the corpus
    // per step). Cross-engine exactness: elements round to 9 dp, products
    // to 9 dp and sum as DECIMAL(28,9); each iteration routes G·v terms
    // through 12-dp decimals, re-rounds v to 9 dp — the DuckDB oracle
    // unrolls the identical three steps in SQL, so every double on both
    // sides is the IEEE image of the same decimal.
    "q_embed_pca" -> ((s, dir) => embedPca(s, Tables.load(s, dir, "embeddings"))),

    // apply the PCA model in-scan: per-vector dominant-axis score and
    // residual norm (see [[embedProject]] — μ and v enter as bounded
    // literal arrays; one linear scan + one vec_id-keyed decimal agg)
    "q_embed_project" -> ((s, dir) =>
      embedProject(Tables.load(s, dir, "embeddings"))),

    // production factoring of the projection: the PCA model is fitted +
    // persisted once at ingest ([[writeModel]]); the projection pass
    // loads (μ, v) from parquet and applies them as literals — zero
    // in-query moment passes over the corpus. Same model by determinism
    // ⇒ same oracle as q_embed_project.
    "q_embed_project_ingest" -> ((s, dir) => {
      val p = graft.Scratch.tempDir("graft_pcamodel_")
      val e = Tables.load(s, dir, "embeddings")
      writeModel(s, p, pcaModelOf(e))
      embedProject(e, Some(readModel[PcaModel](s, p)))
    }),

    "q_embed_quantize" -> ((s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      val v = transform(col("embedding"), x => x.cast("double"))
      e.select(col("vec_id"), v.as("v"))
        .withColumn("scale",
          greatest(abs(array_max(col("v"))), abs(array_min(col("v")))))
        .withColumn("qv", transform(col("v"),
          x => round(x / col("scale") * 127).cast("int")))
        .withColumn("max_err", aggregate(
          zip_with(col("v"), col("qv"),
            (x, q) => abs(x - q.cast("double") * col("scale") / 127)),
          lit(0.0), (acc, d) => greatest(acc, d)))
        .select(col("vec_id"), col("scale"),
          concat_ws(",", col("qv")).as("qv"), col("max_err"))
        .orderBy(col("vec_id"))
    }),

    // contrastive training-triple generation (anchor, positive, negative)
    // — the embedding-training counterpart of the dedup pipeline: positives
    // are REAL near-duplicates (the exact LSH pair set, min-id partner per
    // anchor), negatives are a deterministic pseudo-random pick via an
    // LCG-style index map (see [[contrastiveTriples]] for the formula,
    // the collision stepping, and the loud contiguity guard). The
    // registered form computes the positive on the CLASS-LEVEL quotient
    // ([[positivesQuotiented]]) — never the expanded pair set, which is
    // quadratic in replication by pair semantics (1.14B rows / 382 s at
    // the 1000× probe through the expanded path).
    "q_contrastive_triples" -> ((s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      val (cl, rp) = Dedup.embeddingRepCandidatesOf(e)
      contrastiveTriplesFromPos(e, positivesQuotiented(cl, rp))
    }),

    // hard-negative mining for the contrastive set — the form an
    // embedding-training pipeline actually wants (r8 verdict #7): instead
    // of the LCG's random pick, the negative per anchor is the HARDEST
    // sound one — the highest-cosine vector that is NOT a near-dup
    // (rounded cos < 0.45, the same threshold that defines positives, so
    // a hard negative can never be a true near-dup BY CONSTRUCTION; ties
    // → lowest vec_id). See [[contrastiveHardFromPos]] for the scale shape; the
    // registered form draws positives from the class-level quotient
    // ([[positivesQuotiented]]) like q_contrastive_triples — the expanded
    // pair set never materializes.
    "q_contrastive_hard" -> ((s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      val (cl, rp) = Dedup.embeddingRepCandidatesOf(e)
      contrastiveHardFromPos(e, positivesQuotiented(cl, rp))
    }),

    // distributed Lloyd's k-means over the FULL corpus (k=8, 2 iterations,
    // deterministic init = first k vectors) — the clustering primitive a
    // training-data pipeline runs for domain discovery / cluster-balanced
    // sampling. Unlike the driver-trained IVF codebook (sample-bounded),
    // every step here is a lazy distributed plan:
    //   assignment: corpus × broadcast(k centroids) in-scan expansion,
    //     collapsed by a partial-aggregatable min(struct(dist, cid)) —
    //     the exchange carries ONE candidate row per vector per partition,
    //     never the k-way expansion;
    //   recenter:  (cid, pos)-keyed two-level aggregate (k·dim groups,
    //     map-side combined) exactly like q_embed_centroids.
    // Per iteration: one broadcast + one |vecs|-row exchange + one k·dim
    // exchange — the canonical 100 TB k-means shape (MLlib's loop, minus
    // the driver collect). Cross-engine exactness: distances round to
    // 6 dp before argmin (ties → lowest cid in both engines), recentered
    // means route through 9-dp decimal sums and round to 12 dp, so both
    // engines walk identical doubles into iteration 2 (the q_pagerank
    // rounding discipline).
    "q_kmeans" -> ((s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
        .select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("v"))
      kmeansAssign(e, k = 8, iters = 2)
        .select(col("vec_id"), col("cid").as("cluster"), col("dist2"))
        .orderBy(col("vec_id"))
    }),
  )

  /** (anchor_id, pos_id, pos_cos): min-id near-dup partner per anchor —
    * the positive side shared by both contrastive queries. Partial-
    * aggregatable struct-min; partner is unique per anchor in a distinct
    * pair set, so the reduction is deterministic in both engines. */
  private[graft] def positivesOf(pairs: DataFrame): DataFrame =
    pairs
      .select(col("vec_a").as("anchor_id"), col("vec_b").as("partner"), col("cos"))
      .unionByName(pairs
        .select(col("vec_b").as("anchor_id"), col("vec_a").as("partner"), col("cos")))
      .groupBy(col("anchor_id"))
      .agg(min(struct(col("partner"), col("cos"))).as("m"))
      .select(col("anchor_id"), col("m.partner").as("pos_id"),
        col("m.cos").as("pos_cos"))

  /** Class-level quotient of [[positivesOf]] — the positive per anchor
    * computed from the embedding family's (clusters, repPairs)
    * decomposition ([[Dedup.embeddingRepCandidatesOf]]) WITHOUT expanding
    * the pair set. The expansion is quadratic in replication by pair
    * semantics (1.14 BILLION pair rows on the 1000× probe corpus), but
    * the positive is a struct-min the quotient computes directly:
    *
    *  - inter-class: a neighbor class D's minimum member IS its rep
    *    (rep = min vec_id), so the min partner any anchor in C can draw
    *    from D is rep(D), at the rep-pair cosine (member cosines are
    *    byte-identical to the representatives'). One struct-min over the
    *    symmetrized rep pairs — a |classes|-scale aggregate.
    *  - intra-class: the min partner of anchor a in class C (members
    *    sorted asc, m1 = min, m2 = second) is m1 unless a == m1, then m2
    *    — at the self-cosine (identical expression as the pair query's
    *    within-cluster form: null for zero vectors, which therefore
    *    produce no intra candidate, matching the pair set).
    *
    * Partner ids are disjoint across the two candidates (different
    * classes), so `least` of the two structs is exactly the pair-set
    * struct-min. Output == positivesOf(expanded pairs) row-for-row
    * (law-tested in ContrastiveSpec); cost is linear in distinct
    * embeddings + true anchor count, replication-invariant.
    *
    * The class frame is [[Dedup.spread]] before the member fan-out. */
  private[graft] def positivesQuotiented(clusters: DataFrame,
                                         repPairs: DataFrame): DataFrame = {
    val sym = repPairs
      .select(col("vec_a").as("rep"), col("vec_b").as("partner"), col("cos"))
      .unionByName(repPairs
        .select(col("vec_b").as("rep"), col("vec_a").as("partner"), col("cos")))
    val nbr = sym.groupBy(col("rep"))
      .agg(min(struct(col("partner"), col("cos"))).as("nb"))
      .select(col("rep").as("nrep"), col("nb"))
    val selfCos = round(Sketches.cosineSim(col("embedding"), col("embedding")), 6)
    clusters
      .join(nbr, col("rep") === col("nrep"), "left")
      .withColumn("self_cos",
        when(size(col("members")) >= 2, selfCos))
      .filter(col("nb").isNotNull ||
        (col("self_cos").isNotNull && col("self_cos") >= 0.45))
      .select(col("members"), element_at(col("members"), 1).as("m1"),
        try_element_at(col("members"), lit(2)).as("m2"),
        col("nb"), col("self_cos"))
      .transform(Dedup.spread)
      .select(explode(col("members")).as("anchor_id"), col("m1"), col("m2"),
        col("nb"), col("self_cos"))
      .withColumn("intra",
        when(col("self_cos").isNotNull && col("self_cos") >= 0.45,
          struct(when(col("anchor_id") === col("m1"), col("m2"))
            .otherwise(col("m1")).as("partner"),
            col("self_cos").as("cos"))))
      .select(col("anchor_id"), least(col("intra"), col("nb")).as("m"))
      .select(col("anchor_id"), col("m.partner").as("pos_id"),
        col("m.cos").as("pos_cos"))
  }

  private[graft] def contrastiveTriples(e: DataFrame, pairs: DataFrame): DataFrame =
    contrastiveTriplesFromPos(e, positivesOf(pairs))

  /** Contrastive (anchor, positive, negative) training triples over the
    * embedding corpus — the set an embedding-model trainer consumes.
    *
    * Positives are REAL near-duplicates: `pairs` must be the exact
    * cosine-≥0.45 pair set (the replication-invariant LSH path,
    * [[Dedup.embeddingLshPairs]]); the positive per anchor is its min-id
    * partner (struct-min on (partner, cos) — partner is unique per anchor
    * in a distinct pair set, so this is deterministic in both engines).
    *
    * Negatives are a deterministic pseudo-random index map: nid0 =
    * (anchor·48271 + 7) mod N, then the first of [nid0, nid0+1, nid0+2]
    * (mod N) that is neither the anchor nor the positive — three
    * candidates suffice whenever N ≥ 3, so neg ≠ anchor and neg ≠ pos by
    * construction (the r8-ADVICE collision hole).
    *
    * Contract: vec_ids are contiguous 0..N-1 (TESTDATA.md corpus shape).
    * The guard is LOUD, not silent: the negative lookup is a LEFT join
    * and a missing vec_id raises a runtime error through `raise_error`
    * in the `neg_cos` output column (never prunable), instead of the
    * inner join silently dropping the anchor — and the registered DuckDB
    * oracle shares the exact formula, so any engine-side drift is a hash
    * mismatch on top.
    *
    * Scale shape: the pair set is the replication-invariant LSH path, N
    * is a 1-row broadcast, the positive reduction is a partial-
    * aggregatable struct-min, and the negative lookup is ONE equi-join —
    * everything linear in the pair set, no sampling-by-sort anywhere. */
  private[graft] def contrastiveTriplesFromPos(e: DataFrame, pos: DataFrame): DataFrame = {
    val n = e.agg(count(lit(1)).as("n_total"))
    def cand(step: Int) =
      ((col("anchor_id") * 48271L + 7L) % col("n_total") + step) % col("n_total")
    def ok(c: Column) =
      c =!= col("anchor_id") && c =!= col("pos_id")
    val withNeg = pos.crossJoin(broadcast(n))
      .withColumn("neg_id",
        when(ok(cand(0)), cand(0)).when(ok(cand(1)), cand(1)).otherwise(cand(2)))
    val anc = e.select(col("vec_id").as("anchor_id"),
      col("embedding").as("anchor_emb"), col("label").as("anchor_label"))
    val neg = e.select(col("vec_id").as("neg_id"),
      col("embedding").as("neg_emb"), col("label").as("neg_label"))
    withNeg.join(anc, "anchor_id").join(neg, Seq("neg_id"), "left")
      .select(col("anchor_id"), col("anchor_label"),
        col("pos_id"), col("pos_cos"),
        col("neg_id"), col("neg_label"),
        when(col("neg_emb").isNull,
          raise_error(concat(lit("contrastiveTriples: vec_ids not contiguous "
            + "0..N-1 — computed neg_id "), col("neg_id"),
            lit(" has no embedding row"))).cast("double"))
          .otherwise(round(Sketches.cosineSim(col("anchor_emb"), col("neg_emb")), 6))
          .as("neg_cos"))
      .orderBy(col("anchor_id"))
  }

  /** Hard-negative contrastive triples: per anchor (= every vector with a
    * near-dup partner), the positive is its min-id exact near-dup (as in
    * [[contrastiveTriples]]) and the negative is the MOST SIMILAR vector
    * that is not a near-dup — argmax of the 6-dp-rounded cosine over
    * vectors with score < 0.45 (ties → lowest vec_id), plus the training
    * margin pos_cos − hard_neg_cos.
    *
    * Soundness is definitional: the negative's score is bounded below the
    * near-dup threshold that produced the positive, so no hard negative
    * is ever a true near-dup (law-tested in ContrastiveSpec).
    *
    * Scale shape — QUOTIENTED exact mining (the LSS discipline): the
    * hard negative is a pure function of the anchor's EMBEDDING, because
    * (a) identical anchors score identically against everything, and
    * (b) the explicit self-exclusion is subsumed by the threshold —
    * cos(v, v) = 1.0 ≥ 0.45, so an anchor (and its exact copies) can
    * never be its own hard negative. Mining therefore runs once per
    * DISTINCT anchor embedding against DISTINCT corpus embeddings (each
    * represented by its min vec_id, which also reproduces the global
    * (score desc, vec_id asc) tie-break exactly: ties between classes
    * resolve to the class with the lower min-id member), and the result
    * re-expands to all anchors by one equi-join on the embedding. On a
    * replicated corpus the scored frame is replication-INVARIANT; the
    * residual |distinct anchors|·|distinct vectors| compute is the known
    * price of exact mining. [[graft.plans.TopK]] bounded heaps collapse
    * the argmax to one candidate per (anchor-class, partition) map-side.
    * Zero vectors have no cosine (null score) → excluded on both
    * engines; anchor sets too large to broadcast batch the rep frame. */
  private[graft] def contrastiveHardFromPos(e: DataFrame, pos: DataFrame): DataFrame = {
    val anchors = pos.join(
      e.select(col("vec_id").as("anchor_id"), col("embedding").as("anchor_emb")),
      "anchor_id")
    val aReps = anchors.groupBy(col("anchor_emb")).agg(min(col("anchor_id")).as("arep"))
    // spread before the |classes|·|anchors| cosine scoring (r14 without
    // it: 12 s of task time on 20 tasks)
    val classes = Dedup.spread(
      e.groupBy(col("embedding")).agg(min(col("vec_id")).as("crep")))
    val scored = classes.crossJoin(broadcast(aReps))
      .withColumn("score", round(Sketches.cosineSim(col("anchor_emb"), col("embedding")), 6))
      .filter(col("score").isNotNull && col("score") < 0.45)
      .select(col("arep"), col("anchor_emb"), col("crep"), col("score"))
    val mined = graft.plans.TopK.perKey(scored, Seq("arep"),
        Seq(("score", true), ("crep", false)), 1)
      .select(col("anchor_emb"), col("crep").as("hard_neg_id"),
        col("score").as("hard_neg_cos"))
    anchors.join(mined, "anchor_emb")
      .select(col("anchor_id"), col("pos_id"), col("pos_cos"),
        col("hard_neg_id"), col("hard_neg_cos"),
        round(col("pos_cos") - col("hard_neg_cos"), 6).as("margin"))
      .orderBy(col("anchor_id"))
  }

  /** Distributed Lloyd's k-means: `iters` assignment passes over the full
    * corpus, entirely as one lazy plan (no driver-side model state, unlike
    * [[trainCodebook]] which fits on a bounded sample). Input `e` must have
    * (vec_id: long, v: array<double>); init = the first k vectors by
    * vec_id; returns the final (vec_id, v, cid, dist2) assignment.
    *
    * Each assignment is corpus × broadcast(k centroids) expanded IN-SCAN
    * and collapsed by a partial-aggregatable min(struct(dist, cid)), so
    * the exchange carries one candidate row per vector per partition —
    * never the k-way expansion. Recentering is the (cid, pos)-keyed
    * two-level aggregate (k·dim groups, map-side combined). Cross-engine
    * exactness discipline (the q_pagerank pattern): distances round to
    * 6 dp before argmin (ties → lowest cid in both engines), recentered
    * means route through 9-dp decimal sums and round to 12 dp, so both
    * engines walk identical doubles into every iteration. For deep loops
    * (iters ≫ 10) the centroid frame should be checkpointed per iteration
    * to bound plan depth; at the 2–8 iterations typical for corpus
    * bucketing the lazy chain is fine. */
  private[graft] def kmeansAssign(e: DataFrame, k: Int, iters: Int): DataFrame = {
    require(iters >= 1, "need at least one assignment pass")
    def dist2(v: Column, cv: Column) =
      round(aggregate(zip_with(v, cv, (x, c) => (x - c) * (x - c)),
        lit(0.0), (acc, d) => acc + d), 6)
    def assign(cents: DataFrame): DataFrame =
      e.crossJoin(broadcast(cents))
        .select(col("vec_id"), col("v"),
          struct(dist2(col("v"), col("cv")).as("dd"), col("cid")).as("cand"))
        .groupBy(col("vec_id"))
        .agg(first(col("v")).as("v"), min(col("cand")).as("m"))
        .select(col("vec_id"), col("v"),
          col("m.cid").as("cid"), col("m.dd").as("dist2"))
    def recenter(a: DataFrame): DataFrame =
      a.select(col("cid"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("cid"), col("pos"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("x"), 9).cast(DecimalType(28, 9))).as("sx"))
        .select(col("cid"),
          struct(col("pos"),
            round(col("sx").cast("double") / col("n"), 12).as("mv")).as("pm"))
        .groupBy(col("cid"))
        .agg(transform(array_sort(collect_list(col("pm"))),
          p => p.getField("mv")).as("cv"))
    val c0 = e.filter(col("vec_id") < k)
      .select(col("vec_id").as("cid"), col("v").as("cv"))
    (1 until iters).foldLeft(assign(c0))((a, _) => assign(recenter(a)))
  }

  /** The bounded PCA model: per-dim means, the 3-step protocol component,
    * its eigenvalue estimate, and the scatter trace. Shared by the
    * component query and the in-scan projection query. */
  private[graft] def pcaModel(e: DataFrame)
      : (Array[Double], Array[Double], Double, Double) = {
    def rd(x: Double, sc: Int): Double =
      BigDecimal(x).setScale(sc, BigDecimal.RoundingMode.HALF_UP).toDouble
    val rv = transform(col("embedding"), x => round(x.cast("double"), 9))
    // exact-dup quotient (the corpus-wide discipline): mean and scatter
    // are MULTISET sums, so each DISTINCT vector contributes its value ×
    // multiplicity — decimal × integer is exact, so the result is
    // bit-identical to the unquotiented sums while the expensive
    // ×dim(dim+1)/2 fan-out runs over UNIQUE vectors only (the 1000×
    // dup-heavy probe collapsed 2M rows → 2k uniques: 397 s → seconds)
    // decimal × multiplicity must stay EXACT: precisions are sized so the
    // product fits 38 digits without Spark's allowPrecisionLoss scale
    // shrink (coordinates/products are < 1e6 in magnitude by the 9-dp
    // rounding of unit-scale embeddings; multiplicity < 1e13)
    val uniq = e.groupBy(col("embedding"))
      .agg(count(lit(1)).cast(DecimalType(13, 0)).as("nc"))
    // per-dimension weighted mean: one dim-group aggregate, collected
    val muMap = uniq.select(col("nc"), posexplode(rv).as(Seq("pos", "v")))
      .groupBy(col("pos"))
      .agg(round(sum(col("v").cast(DecimalType(15, 9)) * col("nc"))
        .cast("double") / sum(col("nc")).cast("double"), 6).as("mu"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val dim = muMap.size
    val mu = array((0 until dim).map(p => lit(muMap(p))): _*)
    // centered upper-triangle products × multiplicity → dim(dim+1)/2
    // exact decimal sums, spread before the ×2080 fan-out. NB a key-based
    // repartition(n, embedding) here is ELIMINATED as redundant (the
    // groupBy already hash-distributes on the same key) and the coalesce
    // then wins — measured 7.8 s vs 2.5 s on identical unique counts
    val triRows = Dedup.spread(uniq)
      .select(col("nc"), zip_with(rv, mu, (x, m) => x - m).as("cv"))
      .select(col("nc"), explode(expr(
        """flatten(transform(cv, (a, p) ->
             transform(slice(cv, p + 1, size(cv) - p), (b, j) ->
               named_struct('p', p, 'q', p + j, 't', round(a * b, 9)))))"""))
        .as("s"))
      .select(col("s.p").as("p"), col("s.q").as("q"),
        (col("s.t").cast(DecimalType(15, 9)) * col("nc")).as("t"))
      .groupBy(col("p"), col("q")).agg(sum(col("t")).as("g"))
      .collect()
    val gBig = Array.fill(dim, dim)(BigDecimal(0))
    triRows.foreach { r =>
      val (p, q) = (r.getInt(0), r.getInt(1))
      val v = BigDecimal(r.getDecimal(2))
      gBig(p)(q) = v; gBig(q)(p) = v
    }
    val trace = (0 until dim).map(p => gBig(p)(p)).sum.toDouble
    val gD = Array.tabulate(dim, dim)((p, q) => gBig(p)(q).toDouble)
    var v = Array.fill(dim)(rd(1.0 / math.sqrt(dim.toDouble), 9))
    var lam = 0.0
    for (_ <- 1 to 3) {
      val y = Array.tabulate(dim) { p =>
        (0 until dim).map(q => BigDecimal(rd(gD(p)(q) * v(q), 12))).sum.toDouble
      }
      val n2 = y.map(x => BigDecimal(rd(x * x, 12))).sum.toDouble
      lam = rd(math.sqrt(n2), 9)
      v = y.map(x => rd(x / lam, 9))
    }
    (Array.tabulate(dim)(muMap), v, lam, trace)
  }

  /** Top principal component via a one-pass upper-triangle scatter-matrix
    * aggregate + bounded driver-side power iteration (3 unrolled steps;
    * see the q_embed_pca registry comment for the scale shape and the
    * cross-engine rounding protocol). The two collects are bounded by the
    * dimensionality (dim rows of means; dim(dim+1)/2 scatter cells) —
    * constant-size regardless of corpus size, the same legitimacy class
    * as the k-means codebook collects below. */
  private[graft] def embedPca(s: SparkSession, e: DataFrame): DataFrame = {
    import scala.jdk.CollectionConverters._
    def rd(x: Double, sc: Int): Double =
      BigDecimal(x).setScale(sc, BigDecimal.RoundingMode.HALF_UP).toDouble
    val (_, v, lam, trace) = pcaModel(e)
    val rows = v.indices.map(p => Row(p.toLong, rd(v(p), 6), rd(lam / trace, 6)))
    s.createDataFrame(rows.asJava, StructType(Seq(
      StructField("pos", LongType, nullable = false),
      StructField("loading", DoubleType, nullable = false),
      StructField("var_share", DoubleType, nullable = false))))
      .orderBy(col("pos"))
  }

  /** Project every vector onto the protocol component: score = (x−μ)·v
    * and the residual norm √(‖x−μ‖² − score²) — the "how much of this
    * vector does the dominant axis explain" diagnostic, and the first
    * step of any whitening/compression pass. The model (μ, v) enters as
    * LITERAL arrays (bounded, from [[pcaModel]]), so the projection is
    * one linear scan + one vec_id-keyed decimal aggregate — no join. */
  private[graft] def embedProject(e: DataFrame,
      model: Option[PcaModel] = None): DataFrame = {
    // model = Some(...) skips the in-query moment passes entirely — the
    // persisted (μ, v) enter as literals ([[writeModel]])
    val m = model.getOrElse(pcaModelOf(e))
    val (mu, v) = (m.mu, m.v)
    val muLit = array(mu.map(lit(_)): _*)
    val vLit = array(v.map(lit(_)): _*)
    val rv = transform(col("embedding"), x => round(x.cast("double"), 9))
    e.select(col("vec_id"), col("label"),
      posexplode(zip_with(rv, muLit, (x, m) => x - m)).as(Seq("pos", "cv")))
      .select(col("vec_id"), col("label"), col("cv"),
        element_at(vLit, col("pos") + 1).as("vv"))
      .groupBy(col("vec_id"), col("label"))
      .agg(
        sum(round(col("cv") * col("vv"), 12).cast(DecimalType(38, 12)))
          .cast("double").as("dot"),
        sum(round(col("cv") * col("cv"), 12).cast(DecimalType(38, 12)))
          .cast("double").as("ss"))
      .select(col("vec_id"), col("label"), round(col("dot"), 6).as("score"),
        round(sqrt(greatest(lit(0.0), col("ss") - col("dot") * col("dot"))), 6)
          .as("residual"))
      .orderBy(col("vec_id"))
  }

  /** Trained ANN/embedding models as plain values — the unit the
    * `_ingest` factoring persists (r13 verdict #2). Each carries the
    * codebook(s) plus the training-sample p90 residual, the viability
    * signal the certificate short-circuit needs, so a LOADED model makes
    * the same certify-vs-brute decision as an in-plan one with zero
    * sample re-collection. */
  case class IvfModel(centroids: Seq[Seq[Float]], p90Residual: Double)
  case class PqModel(codebooks: Seq[Seq[Seq[Float]]], p90Residual: Double)
  case class PcaModel(mu: Seq[Double], v: Seq[Double], lam: Double,
                      trace: Double)

  private def p90Of(resid: Array[Double]): Double = {
    val s = resid.sorted
    s(math.round((s.length - 1) * 0.9f))
  }

  /** Train the IVF model from the corpus's bounded deterministic sample
    * — the one-time ingest step [[writeModel]] persists. */
  private[graft] def ivfModelOf(e: DataFrame): IvfModel = {
    val sample = loadSample(e)
    val cb = trainCodebook(sample)
    IvfModel(cb, p90Of(ivfSampleResiduals(sample.map(normalized), unitCentroids(cb))))
  }

  /** Train the PQ model (per-subspace codebooks + sample p90 residual). */
  private[graft] def pqModelOf(e: DataFrame): PqModel = {
    val sample = loadSample(e).map(normalized)
    val cb = trainPqCodebooks(sample, pqM, pqKCent)
    PqModel(cb, p90Of(sampleResiduals(sample, cb)))
  }

  /** The PCA model as a value (μ, dominant axis v, eigenvalue, trace). */
  private[graft] def pcaModelOf(e: DataFrame): PcaModel = {
    val (mu, v, lam, trace) = pcaModel(e)
    PcaModel(mu.toSeq, v.toSeq, lam, trace)
  }

  /** Persist a trained model value to parquet ONCE at ingest time (r13
    * verdict #2 — the similarity-axis analogue of
    * [[graft.operators.Dedup.writeBandIndex]]): at 100 TB the codebook is
    * trained once when the corpus lands, and every later search pass
    * loads it instead of re-collecting a sample and re-running Lloyd
    * iterations inside the query. One row in the case class's own
    * encoder layout, so the file follows the model type with nothing to
    * keep in step; an IVF or PQ model carries its sample p90 residual, so
    * a loaded one drives the certificate viability gate without the
    * sample. */
  def writeModel[T <: Product : TypeTag](s: SparkSession, path: String,
      m: T): Unit =
    s.createDataset(Seq(m))(Encoders.product[T])
      .write.mode("overwrite").parquet(path)

  /** Read back the model [[writeModel]] persisted (one row), with the
    * encoder's schema: the file holds exactly that layout, so loading a
    * model runs no schema-inference job. */
  def readModel[T <: Product : TypeTag](s: SparkSession, path: String): T = {
    val enc = Encoders.product[T]
    s.read.schema(enc.schema).parquet(path).as[T](enc).head()
  }

  /** Lloyd iterations over `points` from the centroids `init`: each point
    * joins the centroid of highest `score` (ties → lower index), then
    * every centroid moves to its members' mean; an empty cell keeps its
    * centroid. The driver-side loop behind both trained codebooks —
    * cosine for the IVF cells, negated L2 for the PQ subspaces. */
  private def lloyd(points: Array[Array[Double]], init: Array[Array[Double]],
      iters: Int)(score: (Array[Double], Array[Double]) => Double): Seq[Seq[Float]] = {
    val k = init.length
    val dim = points.head.length
    var centroids = init
    for (_ <- 0 until iters) {
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Int](k)
      points.foreach { v =>
        var best = 0; var bs = Double.NegativeInfinity
        var c = 0
        while (c < k) { val sc = score(v, centroids(c)); if (sc > bs) { bs = sc; best = c }; c += 1 }
        var i = 0
        while (i < dim) { sums(best)(i) += v(i); i += 1 }
        counts(best) += 1
      }
      centroids = Array.tabulate(k)(c =>
        if (counts(c) == 0) centroids(c) else sums(c).map(_ / counts(c)))
    }
    centroids.map(_.map(_.toFloat).toSeq).toSeq
  }

  /** Spherical k-means codebook, trained driver-side on the bounded
    * deterministic [[loadSample]] (constant-size regardless of corpus
    * size; model fitting is the one legitimate driver-side loop in this
    * module). Init = first k sample vectors; [[lloyd]] iterations assign
    * by cosine and recenter by mean, all deterministic, so the codebook —
    * and every query using it — is stable across runs. */
  private[operators] def trainCodebook(sample: Array[Array[Double]],
      k: Int = 16, iters: Int = 8): Seq[Seq[Float]] = {
    require(sample.length >= k, s"need ≥$k sample vectors, got ${sample.length}")
    lloyd(sample, sample.take(k).map(_.clone), iters) { (a, b) =>
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      if (na == 0.0 || nb == 0.0) Double.NegativeInfinity
      else dot / (math.sqrt(na) * math.sqrt(nb))
    }
  }

  /** The certified-exact search shared by [[ivf]] and [[pq]] (filter,
    * then verify): `parts` yields the per-query candidate top-5 (qid,
    * vec_id, score) in the brute-force output order (rounded score,
    * vec_id) and the per-query certificate `(qid, certified)`. A certified
    * query keeps its candidates; the rest re-run brute force (the
    * [[queries]] baseline shape: query batch broadcast, corpus streams).
    * The result therefore equals the exact baseline on EVERY corpus — the
    * brute-force SQL is its registered oracle — and soundness never
    * depends on how the candidates were chosen: a bad candidate set
    * simply fails its certificate and falls back.
    *
    * The viability gate: whether certification CAN succeed is predictable
    * driver-side for free from the model's training-sample p90 residual —
    * the exact terms each certificate adds to every excluded row's bound.
    * Above [[certSkipResidual]] the bound cannot beat any realistic top-5
    * margin, so `parts` never runs and the brute-force baseline runs once
    * (the output is identical by construction — the gate is a pure
    * performance decision, logged as `<kind>_cert_skip` via
    * [[graft.StructuredLog]], else `<kind>_cert_attempt`). This is what
    * bounds the fallback-dominant case on incompressible corpora: one
    * exact pass, not candidates + certificate + brute force. */
  private def certifiedSearch(kind: String, e: DataFrame, p90Residual: Double)(
      parts: => (DataFrame, DataFrame)): DataFrame = {
    val p90 = f"$p90Residual%.6f"
    if (p90Residual > certSkipResidual) {
      graft.StructuredLog.info(s"${kind}_cert_skip", "p90_residual" -> p90,
        "threshold" -> certSkipResidual, "action" -> "brute_force_all")
      rankStamp(top5(bruteScores(e, None)))
    } else {
      graft.StructuredLog.info(s"${kind}_cert_attempt", "p90_residual" -> p90,
        "threshold" -> certSkipResidual)
      val (cand, cert0) = parts
      // ≤ nQueries rows; checkpointed so the certificate job (whose
      // lineage the keep and fallback sides would otherwise both re-run)
      // computes once
      val cert = cert0.localCheckpoint()
      val certQ = cert.filter(col("certified")).select(col("qid"))
      val uncertQ = cert.filter(!col("certified")).select(col("qid"))
      rankStamp(cand.join(broadcast(certQ), Seq("qid"), "left_semi")
        .unionByName(top5(bruteScores(e, Some(uncertQ)))))
    }
  }

  /** CERTIFIED-EXACT IVF search (the PQ discipline applied to cell
    * geometry) through [[certifiedSearch]]: every vector is assigned to
    * its nearest trained-codebook cell by the
    * [[graft.functions.NearestCells]] expression — pure scan-stage
    * compute, no crossed frame, no window, no shuffle (the round-1 shape
    * shuffled 16× the corpus through `row_number()` to take this argmax).
    * The same scan emits `r` = ‖x̂ − ĉ̂_cell‖₂, the residual of the
    * double-normalized vector to its assigned cell's NORMALIZED centroid.
    * Queries probe their top-`nprobe` cells; candidates come from a
    * broadcast join on cell id (corpus side streams) and are re-ranked by
    * exact cosine in the brute-force output order (rounded score, vec_id)
    * on [[graft.plans.TopKPerKey]] bounded heaps.
    *
    * The coverage certificate, per query: for any vector x in an
    * UNPROBED cell j, Cauchy–Schwarz gives cos(q,x) = ⟨q̂, ĉ̂_j⟩ +
    * ⟨q̂, x̂ − ĉ̂_j⟩ ≤ qcos_j + r_x. So ub = max over unprobed-cell rows
    * of (qcos_cell + r) bounds every non-candidate's true cosine; if
    * ub < r5 − 2·10⁻⁶ (r5 = the 5th-best ROUNDED candidate score; the
    * margin absorbs the ≤5·10⁻⁷ round-to-6dp shift on each side plus
    * tie-breaks), no excluded vector can reach rank ≤ k and the
    * candidate top-5 IS the exact top-5. Corpus scans per certified run:
    * one for candidates, one for the unprobed-cell bound — both against
    * broadcast ≤k·nQueries-row query frames, partial-aggregated before the
    * one hash exchange each. */
  private[graft] def ivf(s: SparkSession, dir: String,
      nprobe: Int = 3, model: Option[IvfModel] = None): DataFrame = {
    val e = Tables.load(s, dir, "embeddings")
    // model = Some(...) is the ingest-factored path: codebook and
    // viability signal come from the PERSISTED model ([[writeModel]]),
    // zero in-query sample collection or Lloyd iterations
    val m = model.getOrElse(ivfModelOf(e))
    certifiedSearch("ivf", e, m.p90Residual)(ivfParts(s, e, m.centroids, nprobe))
  }

  /** (candidate top-5 in brute-force output order, per-query certificate
    * frame) — the certify-path internals of [[ivf]], shared with the law
    * tests. The candidate top-5 is a bounded `localCheckpoint`. */
  private def ivfParts(s: SparkSession, e: DataFrame, cb: Seq[Seq[Float]],
      nprobe: Int): (DataFrame, DataFrame) = {
    import scala.jdk.CollectionConverters._
    val k = cb.length
    val cbN = unitCentroids(cb)
    // corpus scan: assigned cell + residual to its normalized centroid
    val cbnFlat = typedLit(cbN.flatten.toSeq)
    val dim = cbN.head.length
    val cells = e
      .withColumn("cell",
        element_at(Sketches.nearestCells(col("embedding"), cb, 1), 1))
      .withColumn("nvec", unitEmbedding._2)
      .withColumn("cbflat", cbnFlat)
      .withColumn("r", expr(
        s"""sqrt(aggregate(sequence(1, $dim), CAST(0.0 AS DOUBLE),
           |  (a, d) -> a + pow(element_at(nvec, d)
           |    - element_at(cbflat, cell * $dim + d), 2)))""".stripMargin))
      .drop("nvec", "cbflat")
    // bounded driver-side query prep (nQueries rows, like PQ's LUT build):
    // per query, cosine to every normalized centroid → probe set =
    // top-nprobe cells (ties → lower index), unprobed set carries qcos
    val probedRows = Seq.newBuilder[Row]
    val unprobedRows = Seq.newBuilder[Row]
    queryRows(e).foreach { case (qid, qv) =>
      val qn = normalized(qv.toArray.map(_.toDouble))
      val qcos = cbN.map { c =>
        var dot = 0.0; var i = 0
        while (i < dim) { dot += qn(i) * c(i); i += 1 }
        dot
      }
      val probed = qcos.zipWithIndex.sortBy { case (sc, j) => (-sc, j) }
        .take(nprobe).map(_._2).toSet
      (0 until k).foreach { j =>
        if (probed(j)) probedRows += Row(qid, j, qv)
        else unprobedRows += Row(qid, j, qcos(j))
      }
    }
    val probedDf = s.createDataFrame(probedRows.result().asJava, StructType(Seq(
      StructField("qid", LongType), StructField("cell", IntegerType),
      StructField("qv", ArrayType(FloatType)))))
    val unprobedDf = s.createDataFrame(unprobedRows.result().asJava, StructType(Seq(
      StructField("qid", LongType), StructField("cell", IntegerType),
      StructField("qcos", DoubleType))))
    // candidates: members of probed cells, re-ranked in the exact output
    // order (rounded score, vec_id) — identical tie-breaks to brute force
    val short = top5(cells.join(broadcast(probedDf), Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("score", round(Sketches.cosineSim(col("qv"), col("embedding")), 6))
      .select(col("qid"), col("vec_id"), col("score"))).localCheckpoint()
    val r5 = short.groupBy(col("qid"))
      .agg(min(col("score")).as("r5"), count(lit(1)).as("nres"))
    // the unprobed-cell bound: ≤(k−nprobe) broadcast rows per query; the
    // join multiplies each corpus row by its #unprobed-queries but the
    // partial max collapses to one row per (qid) per partition pre-shuffle
    val ub = cells.join(broadcast(unprobedDf), Seq("cell"))
      .select(col("qid"), (col("qcos") + col("r")).as("ub1"))
      .groupBy(col("qid")).agg(max(col("ub1")).as("ub"))
    val cert = r5.join(ub, Seq("qid"), "left")
      .select(col("qid"),
        (col("nres") === topK &&
          (col("ub").isNull || col("ub") < col("r5") - lit(2e-6))).as("certified"))
    (short, cert)
  }

  /** The per-query IVF coverage certificate `(qid, certified)` — exposed
    * for the law tests (computed unconditionally; the viability gate
    * lives in [[certifiedSearch]] only). */
  private[graft] def ivfCertificates(s: SparkSession, dir: String,
      nprobe: Int = 3): DataFrame = {
    val e = Tables.load(s, dir, "embeddings")
    ivfParts(s, e, ivfModelOf(e).centroids, nprobe)._2
  }

  /** Residual of each normalized sample vector to its max-cosine
    * NORMALIZED centroid — the driver-side viability signal for [[ivf]]'s
    * certificate short-circuit (mirrors [[sampleResiduals]] for PQ). */
  private[operators] def ivfSampleResiduals(sample: Array[Array[Double]],
      cbN: Array[Array[Double]]): Array[Double] = {
    sample.map { v =>
      var bestCos = Double.NegativeInfinity; var best = 0
      var j = 0
      while (j < cbN.length) {
        var dot = 0.0; var n2 = 0.0; var i = 0
        while (i < v.length) { dot += v(i) * cbN(j)(i); n2 += v(i) * v(i); i += 1 }
        val c = if (n2 == 0.0) Double.NegativeInfinity else dot / math.sqrt(n2)
        if (c > bestCos) { bestCos = c; best = j }
        j += 1
      }
      var d2 = 0.0; var i = 0
      while (i < v.length) { val df = v(i) - cbN(best)(i); d2 += df * df; i += 1 }
      math.sqrt(d2)
    }
  }

  /** Bounded deterministic training sample: `sampleN` vectors — a
    * constant-size collect regardless of corpus size (the one legitimate
    * driver-side materialization in this module). */
  private[operators] def loadSample(e: DataFrame,
      sampleN: Int = 256): Array[Array[Double]] =
    e.filter(col("vec_id") < sampleN)
      .orderBy(col("vec_id")).select(col("embedding")).collect()
      .map(_.getSeq[Float](0).toArray.map(_.toDouble))

  /** Per-subspace L2 k-means codebooks for product quantization — same
    * bounded-deterministic training contract as [[trainCodebook]]: a
    * constant-size NORMALIZED sample (never the corpus), first-k-distinct
    * init, [[lloyd]] iterations by negated L2 distance; stable across
    * runs. Returns M codebooks of K centroids of dim/M floats each. */
  private[operators] def trainPqCodebooks(sample: Array[Array[Double]],
      m: Int = 8, k: Int = 16, iters: Int = 8): Seq[Seq[Seq[Float]]] = {
    require(sample.length >= k, s"need ≥$k sample vectors, got ${sample.length}")
    val dim = sample.head.length
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val dsub = dim / m
    (0 until m).map { mi =>
      val subs = sample.map(_.slice(mi * dsub, (mi + 1) * dsub))
      // structural distinct (Array equality is referential): the
      // documented first-k-DISTINCT init — on a corpus whose subspaces
      // take ≤k values this seeds every value as a centroid, so Lloyd
      // converges to residual 0 (the PQ certificate's best case)
      val init = subs.map(_.toSeq).distinct.take(k).map(_.toArray)
      lloyd(subs, Array.tabulate(k)(i => init(i % init.length).clone), iters) { (v, c) =>
        var dist = 0.0; var i = 0
        while (i < dsub) { val df = v(i) - c(i); dist += df * df; i += 1 }
        -dist
      }
    }
  }

  /** Quantization residual ‖x̂ − decode(code(x̂))‖₂ of each (normalized)
    * training-sample vector, computed driver-side with the same argmin /
    * tie-break as [[graft.functions.PqEncode]] and the same double
    * arithmetic as the scan-stage `r` column. Free (the sample is already
    * collected for training) — this is the viability signal for the
    * certificate short-circuit in [[pq]]: large sample residuals mean the
    * Cauchy–Schwarz bound cannot separate excluded rows from the top-5
    * margin, so the ADC + certificate passes would be wasted work. */
  private[operators] def sampleResiduals(sample: Array[Array[Double]],
      cb: Seq[Seq[Seq[Float]]]): Array[Double] = {
    val m = cb.length
    val dsub = cb.head.head.length
    sample.map { v =>
      var total = 0.0
      var mi = 0
      while (mi < m) {
        val sub = cb(mi)
        var bd = Double.PositiveInfinity
        var c = 0
        while (c < sub.length) {
          var dist = 0.0; var d = 0
          while (d < dsub) {
            val x = if (mi * dsub + d < v.length) v(mi * dsub + d) else 0.0
            val df = x - sub(c)(d)
            dist += df * df
            d += 1
          }
          if (dist < bd) bd = dist
          c += 1
        }
        total += bd
        mi += 1
      }
      math.sqrt(total)
    }
  }

  /** Full-vector L2 normalization (zero vectors pass through): PQ
    * encodes the DIRECTION, not the raw vector, because the ranking
    * metric is cosine. On a corpus with varying norms, quantizing raw
    * vectors makes ADC approximate the unnormalized inner product — a
    * metric mismatch that buries small-norm high-cosine neighbors at ANY
    * shortlist depth. (The test corpus happens to be unit-norm already,
    * so this is an identity there; it is required for general inputs,
    * and it makes the certificate's Cauchy–Schwarz bound tight: with
    * ‖q̂‖ = 1, |cos − adc| ≤ ‖x̂ − decode(x̂)‖.) */
  private def normalized(v: Array[Double]): Array[Double] = {
    var n2 = 0.0; var i = 0
    while (i < v.length) { n2 += v(i) * v(i); i += 1 }
    if (n2 == 0.0) v else { val n = math.sqrt(n2); v.map(_ / n) }
  }

  /** The IVF codebook's centroids, each [[normalized]] in double. */
  private def unitCentroids(cb: Seq[Seq[Float]]): Array[Array[Double]] =
    cb.map(c => normalized(c.map(_.toDouble).toArray)).toArray

  /** [[normalized]] as in-scan column algebra (codegen'd): the L2 norm of
    * `embedding` and the double-precision unit vector (zero vectors pass
    * through). */
  private def unitEmbedding: (Column, Column) = {
    val nrm = sqrt(aggregate(col("embedding"), lit(0.0),
      (a, x) => a + x.cast("double") * x.cast("double")))
    (nrm, when(nrm === lit(0.0), transform(col("embedding"), x => x.cast("double")))
      .otherwise(transform(col("embedding"), x => x.cast("double") / nrm)))
  }

  /** PQ ANN (asymmetric distance): the corpus is scanned as M-byte PQ codes
    * ([[graft.functions.PqEncode]], scan-stage, no shuffle) — at 100 TB the
    * ANN pass reads ~64× less than raw vectors. Codes quantize the L2-
    * NORMALIZED vector (see [[normalized]]) so ADC approximates cosine,
    * the ranking metric. Each of the (bounded, broadcast) queries carries
    * a precomputed lookup table `lut[m*K + c] = <q̂_m, centroid_{m,c}>`,
    * so the approximate cosine per corpus row is M array lookups via
    * built-in `aggregate` — whole-stage codegen, no custom scoring
    * expression needed. The ADC shortlist (bounded
    * [[graft.plans.TopKPerKey]] heaps) is re-ranked by exact cosine.
    *
    * Alongside `adc`, every row carries `r` = ‖x̂ − decode(code(x̂))‖₂,
    * the full-vector quantization residual, computed in the same scan
    * against the DOUBLE-precision normalized vector (the same x̂ the exact
    * re-rank and the oracle use, up to a few machine ulps — NOT the
    * float-cast copy the encoder reads, whose rounding would otherwise
    * consume up to √dim·2⁻²⁴ ≈ 5·10⁻⁷ of the certificate margin at
    * dim 64). By Cauchy–Schwarz, |cos(q,x) − adc| =
    * |⟨q̂, x̂ − decode⟩| ≤ ‖q̂‖·r = r — the certificate [[pq]] uses to
    * prove per-query shortlist coverage. */
  private def adcScores(s: SparkSession, e: DataFrame,
      cb: Seq[Seq[Seq[Float]]], m: Int, kCent: Int): DataFrame = {
    import scala.jdk.CollectionConverters._
    // normalize in the scan: the encoder reads the float-cast copy
    // (PqEncode is a float-array expression), the residual reads the
    // double-precision one
    val (nrm, nvd) = unitEmbedding
    val nv = when(nrm === lit(0.0), col("embedding"))
      .otherwise(transform(col("embedding"), x => (x.cast("double") / nrm).cast("float")))
    val dsub = cb.head.head.length
    // flattened codebook literal for the residual: centroid (mm, ci) dim d
    // lives at flat index (mm*kCent + ci)*dsub + d (1-based element_at)
    val cbFlat = typedLit(cb.flatten.flatten.map(_.toDouble))
    val codes = e.select(col("vec_id"), col("embedding"), nvd.as("nvec"),
        graft.functions.Pq.pqEncode(nv, cb).as("code"))
      .withColumn("cbflat", cbFlat)
      .withColumn("r", expr(
        s"""sqrt(aggregate(sequence(0, ${m - 1}), CAST(0.0 AS DOUBLE),
           |  (acc, mm) -> acc + aggregate(sequence(1, $dsub), CAST(0.0 AS DOUBLE),
           |    (a, d) -> a + pow(CAST(element_at(nvec, mm * $dsub + d) AS DOUBLE)
           |      - element_at(cbflat, (mm * $kCent + element_at(code, mm + 1)) * $dsub + d), 2))))"""
          .stripMargin))
      .drop("nvec", "cbflat")
    // bounded driver-side LUT build: nQueries rows, like the codebook sample
    val lutRows = queryRows(e).map { case (qid, qv) =>
      val qn = normalized(qv.toArray.map(_.toDouble))
      val lut = Array.tabulate(m * kCent) { i =>
        val (mi, ci) = (i / kCent, i % kCent)
        var dot = 0.0; var d = 0
        while (d < dsub) { dot += qn(mi * dsub + d) * cb(mi)(ci)(d); d += 1 }
        dot
      }
      Row(qid, qv, lut.toSeq)
    }
    val luts = s.createDataFrame(lutRows.toSeq.asJava, StructType(Seq(
      StructField("qid", LongType), StructField("qv", ArrayType(FloatType)),
      StructField("lut", ArrayType(DoubleType)))))
    codes.crossJoin(broadcast(luts))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("adc", expr(
        s"""aggregate(sequence(0, ${m - 1}), CAST(0.0 AS DOUBLE),
           |  (acc, mm) -> acc + element_at(lut, mm * $kCent + element_at(code, mm + 1) + 1))"""
          .stripMargin))
      .select(col("qid"), col("qv"), col("vec_id"), col("embedding"),
        col("adc"), col("r"))
  }

  // m=16 subspaces of 4 dims, 16 centroids each: 16 bytes/vector (16×
  // compression); on the structure-free test corpus (top-5 at cos
  // 0.25-0.51 vs background ~0.2) coarser m=8 drops recall below 0.8
  private val pqM = 16
  private val pqKCent = 16
  /** Sample-residual ceiling above which the certificate is hopeless: a
    * p90 residual of 0.01 already means excluded-row upper bounds sit
    * ≥ 0.01 above their true cosines, swamping typical top-5 margins
    * (the structured-corpus certify case has residual exactly 0). */
  private val certSkipResidual = 0.01

  /** (candidate top-5 in brute-force output order, per-query certificate
    * frame) — shared by [[pq]] and the law tests. The ADC scan executes
    * exactly TWICE here: once to build the shortlist — materialized by
    * `localCheckpoint` (bounded: nQueries·slf·k rows), so the exact
    * re-rank and the t5 margin reuse it instead of re-running the scan —
    * and once for the excluded-rows upper bound (an anti-join against the
    * checkpointed shortlist keys; inherently a second pass, since it
    * aggregates over every row NOT shortlisted). */
  private def pqParts(s: SparkSession, e: DataFrame, cb: Seq[Seq[Seq[Float]]],
      shortlistFactor: Int): (DataFrame, DataFrame) = {
    val adc = adcScores(s, e, cb, pqM, pqKCent)
    val shortlist = graft.plans.TopK.perKey(adc, Seq("qid"),
      Seq(("adc", true), ("vec_id", false)), shortlistFactor * topK)
      .localCheckpoint()
    val exactU = shortlist
      .withColumn("cos", Sketches.cosineSim(col("qv"), col("embedding")))
      .select(col("qid"), col("vec_id"), col("cos"))
    val top5u = graft.plans.TopK.perKey(exactU, Seq("qid"),
      Seq(("cos", true), ("vec_id", false)), topK)
    val t5 = top5u.groupBy(col("qid"))
      .agg(min(col("cos")).as("t5"), count(lit(1)).as("nres"))
    val excluded = adc.select(col("qid"), col("vec_id"), (col("adc") + col("r")).as("ub1"))
      .join(shortlist.select(col("qid"), col("vec_id")), Seq("qid", "vec_id"), "left_anti")
      .groupBy(col("qid")).agg(max(col("ub1")).as("ub"))
    val cert = t5.join(excluded, Seq("qid"), "left")
      .select(col("qid"),
        (col("nres") === topK &&
          (col("ub").isNull || col("ub") < col("t5") - lit(2e-6))).as("certified"))
    (top5(exactU.select(col("qid"), col("vec_id"), round(col("cos"), 6).as("score"))), cert)
  }

  /** The per-query coverage certificate `(qid, certified)` — exposed for
    * the law tests (computed unconditionally; the viability gate lives in
    * [[certifiedSearch]] only). */
  private[graft] def pqCertificates(s: SparkSession, dir: String,
      shortlistFactor: Int = 8): DataFrame = {
    val e = Tables.load(s, dir, "embeddings")
    pqParts(s, e, pqModelOf(e).codebooks, shortlistFactor)._2
  }

  /** The query batch: the first `nQueries` vectors as (qid, qv). Every
    * search here ranks the corpus against it. */
  private def queryBatch(e: DataFrame): DataFrame =
    e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))

  /** The query batch on the driver in qid order — bounded (nQueries rows),
    * like the training sample; IVF's probe sets and PQ's lookup tables
    * are built from it. */
  private def queryRows(e: DataFrame): Array[(Long, Seq[Float])] =
    queryBatch(e).orderBy(col("qid")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))

  /** Brute-force scored pairs (the exact baseline shape: bounded query
    * batch broadcast, corpus streams), optionally restricted to a bounded
    * set of query ids. */
  private def bruteScores(e: DataFrame, onlyQ: Option[DataFrame]): DataFrame = {
    val q0 = queryBatch(e)
    val q = onlyQ.fold(q0)(ids => q0.join(broadcast(ids), Seq("qid"), "left_semi"))
    broadcast(q).join(e, col("vec_id") =!= col("qid"))
      .withColumn("score", round(Sketches.cosineSim(col("qv"), col("embedding")), 6))
      .select(col("qid"), col("vec_id"), col("score"))
  }

  /** The `topK` best (qid, vec_id, score) rows per query in the brute-force
    * output order (rounded score desc, vec_id asc), on
    * [[graft.plans.TopKPerKey]] bounded heaps. */
  private def top5(scored: DataFrame): DataFrame =
    graft.plans.TopK.perKey(scored, Seq("qid"),
      Seq(("score", true), ("vec_id", false)), topK)

  /** Rank stamp over the ≤k survivors per query: sorted collect +
    * position, reusing TopK's hash partitioning — no Window, no extra
    * wide exchange. The output tail of every ANN search here. A null
    * score (a zero vector has no cosine) ranks last, as in the
    * brute-force `score DESC` order; `sort_array` alone would put it
    * first. */
  private def rankStamp(top: DataFrame): DataFrame =
    top.groupBy(col("qid"))
      .agg(sort_array(collect_list(
        struct(col("score").isNull.as("nul"), (-col("score")).as("neg"),
          col("vec_id").as("vec_id"), col("score").as("score")))).as("xs"))
      .select(col("qid"), posexplode(col("xs")).as(Seq("pos", "x")))
      .select(col("qid"), col("x.vec_id").as("vec_id"), col("x.score").as("score"),
        (col("pos") + 1).cast("long").as("rn"))
      .orderBy(col("qid"), col("rn"))

  /** Certified-exact PQ search through [[certifiedSearch]]: ADC shortlist
    * → exact cosine re-rank → per-query coverage CERTIFICATE → brute-force
    * fallback for queries the certificate cannot prove.
    *
    * The certificate: let t₅ = the 5th-best exact (unrounded) cosine
    * inside the shortlist, and ub = max over NON-shortlisted rows of
    * `adc + r` (an upper bound on each excluded vector's true cosine —
    * Cauchy–Schwarz, [[adcScores]]). If ub < t₅ − 2·10⁻⁶ (two rounding
    * ulps, so the proof survives the 6-dp output rounding and its
    * tie-breaks), no excluded vector can reach rank ≤ k, hence the
    * shortlist's re-ranked top-k IS the exact top-k. Corpora with real
    * cluster structure (small residuals, separated neighbors) certify and
    * skip the fallback entirely (proven in `PipelineSpec`); the viability
    * gate reads the quantization residuals of the training sample
    * ([[sampleResiduals]]). */
  private[graft] def pq(s: SparkSession, dir: String,
      shortlistFactor: Int = 8, model: Option[PqModel] = None): DataFrame = {
    val e = Tables.load(s, dir, "embeddings")
    // model = Some(...) is the ingest-factored path ([[writeModel]]):
    // codebooks + viability signal load from parquet, zero in-query
    // training
    val m = model.getOrElse(pqModelOf(e))
    certifiedSearch("pq", e, m.p90Residual)(pqParts(s, e, m.codebooks, shortlistFactor))
  }

  /** The exact brute-force top-5 of the query batch: the oracle of every
    * ANN search here. */
  private val bruteTop5Sql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
      |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10),
      |scored AS (
      |  SELECT qid, vec_id,
      |    round(list_inner_product(qv, v)
      |      / (sqrt(list_inner_product(qv, qv)) * sqrt(list_inner_product(v, v))), 6) AS score
      |  FROM q CROSS JOIN e WHERE vec_id != qid)
      |SELECT qid, vec_id, score, rn FROM (
      |  SELECT qid, vec_id, score,
      |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS rn
      |  FROM scored)
      |WHERE rn <= 5 ORDER BY qid, rn""".stripMargin

  /** The PCA oracles' opening CTEs: the 9-dp coordinates, per-dimension
    * means, centered values, the decimal-routed scatter matrix `g` (the
    * quadratic vec_id self-join is gate-SF-only; the engine builds G in
    * one linear pass) and the dimensionality `d`. */
  private val pcaScatterSql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      |           FROM embeddings),
      |x AS (SELECT vec_id, t.i - 1 AS pos, round(v[t.i], 9) AS rv
      |      FROM e, unnest(range(1, len(v) + 1)) AS t(i)),
      |m AS (SELECT pos, round(CAST(SUM(CAST(rv AS DECIMAL(28,9))) AS DOUBLE)
      |              / COUNT(*), 6) AS mu
      |      FROM x GROUP BY pos),
      |c AS (SELECT vec_id, pos, rv - mu AS cv FROM x JOIN m USING (pos)),
      |g AS (SELECT a.pos AS p, b.pos AS q,
      |        SUM(CAST(round(a.cv * b.cv, 9) AS DECIMAL(28,9))) AS gd
      |      FROM c a JOIN c b USING (vec_id) GROUP BY 1, 2),
      |d AS (SELECT COUNT(*) AS dim FROM m),
      |""".stripMargin

  /** The engine's three power-iteration steps unrolled as CTEs v0 … v3
    * (`v3` is the 9-dp protocol component, `l3` its eigenvalue). */
  private val pcaPowerSql: String =
    "v0 AS (SELECT pos, round(1.0 / sqrt(dim), 9) AS vv FROM m, d),\n" +
      (1 to 3).map { i =>
        s"""y$i AS (SELECT p AS pos, CAST(SUM(CAST(round(CAST(gd AS DOUBLE) * vv, 12)
           |              AS DECIMAL(38,12))) AS DOUBLE) AS y
           |       FROM g JOIN v${i - 1} ON g.q = v${i - 1}.pos GROUP BY p),
           |l$i AS (SELECT round(sqrt(CAST(SUM(CAST(round(y * y, 12)
           |              AS DECIMAL(38,12))) AS DOUBLE)), 9) AS lam FROM y$i),
           |v$i AS (SELECT pos, round(y / lam, 9) AS vv FROM y$i, l$i)""".stripMargin
      }.mkString(",\n")

  /** The pair-set and positive CTEs of both contrastive oracles, over
    * their `e`: the exact cosine-≥0.45 pair set `p` (the LSH path's ground
    * truth) and the min-(partner, cos) positive `pos` per anchor. */
  private val contrastivePosSql: String =
    """p AS (SELECT a.vec_id AS pa, b.vec_id AS pb,
      |        round(list_inner_product(a.v, b.v)
      |          / (sqrt(list_inner_product(a.v, a.v))
      |             * sqrt(list_inner_product(b.v, b.v))), 6) AS cos
      |      FROM e a JOIN e b ON a.vec_id < b.vec_id
      |      WHERE round(list_inner_product(a.v, b.v)
      |          / (sqrt(list_inner_product(a.v, a.v))
      |             * sqrt(list_inner_product(b.v, b.v))), 6) >= 0.45),
      |sym AS (SELECT pa AS anchor_id, pb AS partner, cos FROM p
      |        UNION ALL SELECT pb, pa, cos FROM p),
      |pos AS (SELECT anchor_id, partner AS pos_id, cos AS pos_cos FROM (
      |          SELECT *, row_number() OVER (PARTITION BY anchor_id
      |                      ORDER BY partner, cos) AS rn FROM sym)
      |        WHERE rn = 1),
      |""".stripMargin

  /** q_embed_project's oracle (and its `_ingest` twin's): the q_embed_pca
    * chain, then the per-vector projection against the UNROUNDED 9-dp
    * protocol vector (the engine's literal). */
  private val embedProjectSql: String =
    pcaScatterSql + pcaPowerSql +
      """,
        |pr AS (SELECT c.vec_id,
        |         CAST(SUM(CAST(round(cv * vv, 12) AS DECIMAL(38,12)))
        |           AS DOUBLE) AS dot,
        |         CAST(SUM(CAST(round(cv * cv, 12) AS DECIMAL(38,12)))
        |           AS DOUBLE) AS ss
        |       FROM c JOIN v3 USING (pos) GROUP BY c.vec_id)
        |SELECT pr.vec_id, e2.label, round(dot, 6) AS score,
        |  round(sqrt(greatest(0.0, ss - dot * dot)), 6) AS residual
        |FROM pr JOIN (SELECT vec_id, label FROM embeddings) e2 USING (vec_id)
        |ORDER BY pr.vec_id""".stripMargin

  val oracle: Map[String, String] = Map(
    // unrolls the engine's exact three power-iteration steps in SQL over
    // the same decimal-routed scatter matrix
    "q_embed_pca" ->
      (pcaScatterSql +
        "tr AS (SELECT CAST(SUM(gd) AS DOUBLE) AS trace FROM g WHERE p = q),\n" +
        pcaPowerSql +
        """
          |SELECT pos, round(vv, 6) AS loading, round(lam / trace, 6) AS var_share
          |FROM v3, l3, tr ORDER BY pos""".stripMargin),
    "q_embed_project" -> embedProjectSql,
    // the _ingest twins produce identical output to their in-plan forms
    // (same deterministic training sample ⇒ same persisted model ⇒ same
    // result), so each registers its twin's oracle
    "q_embed_project_ingest" -> embedProjectSql,
    // shares the engine's exact formula end-to-end: exact cosine-≥0.45
    // pair set (the LSH path's ground truth), min-(partner,cos) positive,
    // the 48271-LCG negative with the three-candidate collision stepping
    "q_contrastive_triples" ->
      ("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
         |           FROM embeddings),
         |n AS (SELECT count(*) AS n_total FROM e),
         |""".stripMargin + contrastivePosSql +
        """cand AS (SELECT pos.*,
          |           (anchor_id * 48271 + 7) % n_total AS c0,
          |           ((anchor_id * 48271 + 7) % n_total + 1) % n_total AS c1,
          |           ((anchor_id * 48271 + 7) % n_total + 2) % n_total AS c2
          |         FROM pos CROSS JOIN n),
          |sel AS (SELECT anchor_id, pos_id, pos_cos,
          |          CASE WHEN c0 <> anchor_id AND c0 <> pos_id THEN c0
          |               WHEN c1 <> anchor_id AND c1 <> pos_id THEN c1
          |               ELSE c2 END AS neg_id
          |        FROM cand)
          |SELECT s.anchor_id, ea.label AS anchor_label, s.pos_id, s.pos_cos,
          |       s.neg_id, en.label AS neg_label,
          |       round(list_inner_product(ea.v, en.v)
          |         / (sqrt(list_inner_product(ea.v, ea.v))
          |            * sqrt(list_inner_product(en.v, en.v))), 6) AS neg_cos
          |FROM sel s
          |JOIN e ea ON ea.vec_id = s.anchor_id
          |JOIN e en ON en.vec_id = s.neg_id
          |ORDER BY anchor_id""".stripMargin),
    // hard negative = argmax rounded cosine among sub-threshold vectors
    // (ties → lowest vec_id); NULL cosines (zero vectors) fall out of the
    // `< 0.45` predicate in both engines
    "q_contrastive_hard" ->
      ("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
         |           FROM embeddings),
         |""".stripMargin + contrastivePosSql +
        """sc AS (SELECT pos.anchor_id, pos.pos_id, pos.pos_cos, b.vec_id,
          |         round(list_inner_product(a.v, b.v)
          |           / (sqrt(list_inner_product(a.v, a.v))
          |              * sqrt(list_inner_product(b.v, b.v))), 6) AS score
          |       FROM pos
          |       JOIN e a ON a.vec_id = pos.anchor_id
          |       JOIN e b ON b.vec_id <> pos.anchor_id),
          |sel AS (SELECT *, row_number() OVER (PARTITION BY anchor_id
          |                    ORDER BY score DESC, vec_id) AS rn
          |        FROM sc WHERE score < 0.45)
          |SELECT anchor_id, pos_id, pos_cos, vec_id AS hard_neg_id,
          |       score AS hard_neg_cos, round(pos_cos - score, 6) AS margin
          |FROM sel WHERE rn = 1 ORDER BY anchor_id""".stripMargin),
    "q_embed_centroids" ->
      """WITH e AS (SELECT label, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings)
        |SELECT label, CAST(t.i - 1 AS BIGINT) AS pos,
        |  CAST(COUNT(*) AS BIGINT) AS n_vecs,
        |  round(CAST(SUM(CAST(round(v[t.i], 9) AS DECIMAL(28,9)))
        |        AS DOUBLE) / COUNT(*), 6) AS mean_v
        |FROM e, unnest(range(1, len(v) + 1)) AS t(i)
        |GROUP BY label, t.i
        |ORDER BY label, pos""".stripMargin,
    "q_embed_outliers" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings),
        |x AS (SELECT vec_id, label, t.i - 1 AS pos, round(v[t.i], 9) AS rv
        |      FROM e, unnest(range(1, len(v) + 1)) AS t(i)),
        |c AS (SELECT label, pos,
        |        round(CAST(SUM(CAST(rv AS DECIMAL(28,9))) AS DOUBLE)
        |              / COUNT(*), 6) AS mean_v
        |      FROM x GROUP BY label, pos),
        |d AS (SELECT vec_id, x.label,
        |        round(sqrt(CAST(SUM(CAST(round((rv - mean_v)*(rv - mean_v), 9)
        |              AS DECIMAL(28,9))) AS DOUBLE)), 6) AS dist
        |      FROM x JOIN c ON x.label = c.label AND x.pos = c.pos
        |      GROUP BY vec_id, x.label),
        |s AS (SELECT label,
        |        round(CAST(SUM(CAST(dist AS DECIMAL(18,6))) AS DOUBLE)
        |              / COUNT(*), 6) AS mean_dist,
        |        round(sqrt((CAST(SUM(CAST(dist AS DECIMAL(18,6))
        |                             * CAST(dist AS DECIMAL(18,6))) AS DOUBLE)
        |          - CAST(SUM(CAST(dist AS DECIMAL(18,6))) AS DOUBLE)
        |            * CAST(SUM(CAST(dist AS DECIMAL(18,6))) AS DOUBLE)
        |            / COUNT(*)) / (COUNT(*) - 1)), 6) AS std_dist
        |      FROM d GROUP BY label)
        |SELECT vec_id, d.label, dist,
        |  round((dist - mean_dist) / std_dist, 4) AS z
        |FROM d JOIN s ON d.label = s.label
        |WHERE round((dist - mean_dist) / std_dist, 4) > 2.0
        |ORDER BY vec_id""".stripMargin,
    "q_embed_quantize" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |s AS (SELECT vec_id, v,
        |        greatest(abs(list_max(v)), abs(list_min(v))) AS scale
        |      FROM e),
        |q AS (SELECT vec_id, v, scale,
        |        list_transform(v, x -> CAST(round(x / scale * 127) AS INTEGER)) AS qv
        |      FROM s)
        |SELECT vec_id, scale, array_to_string(qv, ',') AS qv,
        |  list_max(list_transform(list_zip(v, qv),
        |    p -> abs(p[1] - CAST(p[2] AS DOUBLE) * scale / 127))) AS max_err
        |FROM q ORDER BY vec_id""".stripMargin,
    "q_kmeans" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |c0 AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
        |d0 AS (SELECT e.vec_id, e.v, c.cid,
        |         round(list_sum(list_transform(list_zip(e.v, c.cv),
        |           p -> (p[1]-p[2])*(p[1]-p[2]))), 6) AS dd
        |       FROM e CROSS JOIN c0 c),
        |a0 AS (SELECT vec_id, v, cid FROM (
        |         SELECT vec_id, v, cid,
        |           row_number() OVER (PARTITION BY vec_id ORDER BY dd, cid) AS rn
        |         FROM d0) WHERE rn = 1),
        |m1 AS (SELECT cid, t.i AS pos,
        |         round(CAST(SUM(CAST(round(v[t.i], 9) AS DECIMAL(28,9))) AS DOUBLE)
        |           / COUNT(*), 12) AS mv
        |       FROM a0, unnest(range(1, len(v) + 1)) AS t(i)
        |       GROUP BY cid, t.i),
        |c1 AS (SELECT cid, list(mv ORDER BY pos) AS cv FROM m1 GROUP BY cid),
        |d1 AS (SELECT e.vec_id, c.cid,
        |         round(list_sum(list_transform(list_zip(e.v, c.cv),
        |           p -> (p[1]-p[2])*(p[1]-p[2]))), 6) AS dd
        |       FROM e CROSS JOIN c1 c)
        |SELECT vec_id, cluster, dist2 FROM (
        |  SELECT vec_id, cid AS cluster, dd AS dist2,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY dd, cid) AS rn
        |  FROM d1) WHERE rn = 1
        |ORDER BY vec_id""".stripMargin,
    "q_similarity_topk" -> bruteTop5Sql,
    // certified-exact: per query, either the Cauchy–Schwarz certificate
    // proves the ADC shortlist covers the true top-5 (then the exact
    // re-rank equals brute force), or the query re-runs brute-force —
    // so the output equals the baseline on every corpus, by construction
    "q_similarity_pq" -> bruteTop5Sql,
    "q_similarity_pq_ingest" -> bruteTop5Sql,
    // certified-exact: per query, either the cell-geometry certificate
    // proves the probed cells cover the true top-5 (then the candidate
    // re-rank equals brute force), or the query re-runs brute-force —
    // so the output equals the baseline on every corpus, by construction
    "q_similarity_ivf" -> bruteTop5Sql,
    "q_similarity_ivf_ingest" -> bruteTop5Sql,
    // LSH candidates cover every true top-5 slot (miss ≤ 2.4e-9, fixed
    // seeded planes → deterministic) and the re-rank is exact cosine, so
    // the output equals the brute-force baseline's
    "q_similarity_lsh" -> bruteTop5Sql,
  )
}
