package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

import graft.Tables
import graft.functions.Sketches

/** Deduplication operators for LLM training-data pipelines (SURVEY.md §7.2
  * step 7): exact content-hash dedup, MinHash+LSH near-dup detection,
  * SimHash near-dup detection, character-n-gram Jaccard (quadratic
  * baseline), and embedding-cosine near-dup.
  *
  * Scale design: the LSH pipelines are the 100 TB path — cost is
  * O(n · bands) shuffle plus candidate verification, never O(n²). The
  * quadratic n-gram query is kept as the correctness baseline the LSH
  * variants are judged against (its own Scaladoc says so); at cluster scale
  * you run the LSH one.
  *
  * The near-dup graph operators — MinHash pairs, LSS clusters, and
  * `Graph`'s PageRank, triangles and k-core — share one builder of the
  * verified class graph ([[nearDupGraph]]). The broadcast-budget rule
  * ("what Spark would broadcast, an operator may collect") applies to that
  * RAW class graph: when its bound fits
  * `spark.sql.autoBroadcastJoinThreshold`, the graph is collected once and
  * the pairs, clusters and ranks finish on the driver; above it, or at -1,
  * they run distributed from the builder's two checkpoints.
  */
object Dedup {
  type Q = (SparkSession, String) => DataFrame

  private def docs(s: SparkSession, dir: String) = Tables.load(s, dir, "documents")

  private def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b)).cast("double")


  /** Banded rows → distinct candidate pairs (doc_a < doc_b) via
    * groupBy-bucket + in-bucket expansion, NOT a self-join: one exchange on
    * the band key materializes the (expensive, custom-expression) sketch
    * projection exactly once — a self-join would re-evaluate it on both
    * sides per banded row (CollapseProject inlines the expression tree),
    * measured 6× slower. Bucket sizes are bounded by band selectivity, so
    * the in-bucket expansion is linear-ish in the common case.
    *
    * Hot buckets are capped: a bucket over `cap` docs keeps only its `cap`
    * smallest doc_ids (sort_array → deterministic keep-set across runs), so
    * one adversarial band value — think boilerplate shared by millions of
    * docs — costs at most C(cap, 2) expanded pairs in one task instead of a
    * quadratic blow-up. Drops are observable through the `graft.bucket_cap`
    * observe metrics (docs_dropped, buckets_capped) on the same action, no
    * extra pass. The capped doc list itself is linear in bucket size
    * (8 bytes/doc) — the quadratic expansion, not the list, is the killer. */
  private[graft] val bucketCap = 1024
  /** Observed-metric names must be unique WITHIN a plan (Spark rejects
    * [DUPLICATED_METRICS_NAME]); a joint query that unions two banded
    * candidate branches — e.g. text minhash pairs with image perceptual
    * pairs — would otherwise fail analysis. Each observe gets a unique
    * suffix; consumers match on the `graft.bucket_cap` prefix. */
  private val obsId = new java.util.concurrent.atomic.AtomicLong()
  /** The one exchange width: at least every local core, and never below
    * the session's shuffle width (on a cluster where
    * spark.sql.shuffle.partitions is tuned above defaultParallelism, a bare
    * defaultParallelism would UNDER-partition — the r14 ADVICE). Every
    * explicit-width exchange in the engine reads it: [[spread]]'s
    * round-robin ones and the keyed ones of [[bucketPairs]] and
    * [[explodeMemberPairs]]. */
  private[graft] def width(s: SparkSession): Int =
    math.max(s.sparkContext.defaultParallelism,
      s.sessionState.conf.numShufflePartitions)

  /** `df` round-robin repartitioned to [[width]], placed before a fan-out
    * (explode, codec mapPartitions, per-row scoring). The frame below a
    * fan-out is often SMALL IN BYTES — a post-groupBy class frame, a
    * distinct pair set, an ids-only projection — so AQE coalesces its
    * exchange's read side to one or a handful of partitions and the
    * expensive work above it runs on that many cores (the standing
    * AQE-coalesce lesson, measured at every call site as a single-task
    * stage holding most of the query's wall). An explicit-width
    * repartition is exempt from AQE coalescing, and round-robin survives
    * where a key-based repartition on the upstream's own key would be
    * eliminated as redundant. */
  private[graft] def spread(df: DataFrame): DataFrame = df.repartition(width(df.sparkSession))

  private[graft] def bucketPairs(banded: DataFrame, keyCols: Seq[String],
      cap: Int = bucketCap, spread: Boolean = false): DataFrame = {
    // explicit-width keyed repartition instead of the groupBy's implicit
    // ENSURE_REQUIREMENTS exchange (r14 stage attribution): the bucket
    // lists are SMALL IN BYTES, so AQE coalesced the exchange's read side
    // to one partition and the whole in-bucket pair expansion (sort_array
    // + idPairs explode + distinct partial-agg) ran on ONE CORE — a
    // 4.5 s single task = ~70% of q_dedup_embedding_lsh's sf0.1 wall,
    // with the same serialized stage inside every bucketPairs consumer
    // (minhash/prefix/cosine/editdist/banding). Same key distribution,
    // same exchange count, deterministic output (xs0 is sorted before
    // the cap; pair order follows the sorted array)
    banded.repartition(width(banded.sparkSession), keyCols.map(col): _*)
      .groupBy(keyCols.map(col): _*)
      .agg(collect_list(col("doc_id")).as("xs0"))
      .filter(size(col("xs0")) >= 2)
      .observe(s"graft.bucket_cap.${obsId.incrementAndGet()}",
        sum(greatest(size(col("xs0")) - cap, lit(0))).as("docs_dropped"),
        sum(when(size(col("xs0")) > cap, 1).otherwise(0)).as("buckets_capped"))
      .select(slice(sort_array(col("xs0")), 1, cap).as("xs"))
      // pairs expand as (a, b) structs from a primitive loop (see
      // [[graft.functions.IdPairs]]) — no id-width ceiling (packed-long
      // pairs required ids < 2^32, which a 100 TB corpus exceeds). The
      // struct unpacks to two flat long columns BEFORE the distinct, so
      // the dedup keys are a fixed 16-byte flat UnsafeRow, never a
      // nested struct
      .select(explode(graft.functions.Pairs.idPairs(col("xs"))).as("pk"))
      .select(col("pk.a").as("doc_a"), col("pk.b").as("doc_b"))
      .distinct()
      // `spread`: fixed-width spread of the deduped candidates, the same
      // AQE-coalesce lesson as the banding exchange above, one level
      // further down (r15 plan-metric attribution on q_dedup_prefix): the
      // distinct pair set is byte-SMALL (16 B/row — 122k candidates ≈
      // 2.9 MB) while the consumer's next step is compute-HEAVY per pair
      // (jaccard re-shingling, levenshtein), so AQE coalesced the
      // distinct's read side to ONE partition and the whole
      // BROADCAST-joined verification ran single-core — a 5.1 s max task
      // ≈ 55% of q_dedup_prefix's wall. A round-robin exchange of 16-byte
      // rows is the cheap side of that trade, and the distinct keeps its
      // partial (map-side) dedup. OPT-IN (default false): the paired
      // full-bench A/B showed the extra exchange costs ~0.1–0.7 s per use
      // in the warm bench for SMALL candidate sets (the minhash family's
      // ~2k candidates, per-micro-batch streaming gates, the embedding
      // family whose verification re-shuffles by join key anyway), while
      // the single-core-verification fix only pays off where candidates ×
      // per-pair work is large — q_dedup_prefix's 122k jaccard
      // re-shinglings (8.0 → 3.1 s). Callers opt in when their
      // verification is broadcast-joined AND heavy per candidate.
      .transform(p => if (spread) Dedup.spread(p) else p)
  }

  /** Skew-safe within-class unordered pair expansion — the mega-class-
    * proof replacement for a bare `explode(idPairs(members))` on
    * DUP-CLASS member arrays: [[graft.functions.IdPairs]] materializes
    * the full C(|class|,2) struct array inside ONE row and explodes it on
    * ONE task, which is fine for cap-bounded candidate buckets
    * ([[bucketPairs]]) but was an 11.8 s single-task tail (and 70% of
    * wall) on the r12 skew probe's 5.5k-member planted class — and an
    * outright OOM on a crawl-scale blank-image class. Two stages instead:
    * posexplode to one row per (class, member) spread by a keyed
    * repartition at [[width]] (AQE-coalesce-exempt), then each row
    * emits only its LATER partners via a codegen'd slice — per-task
    * arrays stay |class|-sized, and the shuffled bytes are output-order
    * (the pair form's true output is itself quadratic in the hot class;
    * the DECISION forms are the scale path). Measured trade: the planted
    * mega-class probe drops 16.9→9.5 s wall with max-task 11.8→2.2 s,
    * while sf0.1 q_multimodal_perceptual pays ≲0.4 s (within the box's
    * noise band; a size-adaptive small/big union was tried and REJECTED —
    * splitting the frame double-consumes the lazy upstream, which
    * re-ran the perceptual codec scan and cost 2× more than it saved).
    * Pair (a, b) order follows array order, identical to idPairs over
    * the sorted member arrays every caller builds. All columns except
    * `members` are carried through. Its one caller is
    * [[expandClassPairs]]. */
  private[graft] def explodeMemberPairs(df: DataFrame, members: String,
      aName: String, bName: String): DataFrame = {
    val carried = df.columns.filterNot(_ == members).map(col)
    df.select(carried :+ col(members) :+
        posexplode(col(members)).as(Seq("__pi", "__pa")): _*)
      .repartition(width(df.sparkSession), col("__pa"))
      // partners strictly after position __pi (0-based): slice is 1-based
      // and clamps past the array end
      .withColumn("__pb", explode(slice(col(members),
        col("__pi") + lit(2), size(col(members)))))
      .drop(members, "__pi")
      .withColumnRenamed("__pa", aName)
      .withColumnRenamed("__pb", bName)
  }

  /** Rep pairs → member pairs: the one re-expansion of every quotiented
    * pair operator (text, simhash, embedding, perceptual, prefix, edit
    * distance, cosine), which find their pairs over exact-dup class
    * representatives and expand to copies as the FINAL step, directly
    * into the true output — never an intermediate blow-up.
    *
    *  - `repPairs`: (doc_a, doc_b, score columns…) over class reps;
    *  - `members`: (rep, members) — every class's sorted member ids;
    *  - `within`: (members, the same score columns) — only the classes
    *    whose copies pair with each other, with the score their pairs
    *    carry.
    *
    * Returns (doc_a, doc_b, score columns…): every copy of A × every copy
    * of B as (least, greatest) with the rep pair's scores, plus each
    * `within` class's internal pairs in member order
    * ([[explodeMemberPairs]]). The joined rep-pair frame is [[spread]]
    * before the |A|·|B| fan-out (the r9 sf10 probe ran a perceptual
    * expansion single-core for 30+ min without it), and side A explodes
    * before side B, so a row holds |B| ids, never |A|·|B| pairs. */
  private[graft] def expandClassPairs(repPairs: DataFrame, members: DataFrame,
      within: DataFrame): DataFrame = {
    val scores = repPairs.columns.filterNot(Set("doc_a", "doc_b")).toSeq.map(col)
    val cross = spread(repPairs
        .join(members.select(col("rep").as("doc_a"), col("members").as("ms_a")), "doc_a")
        .join(members.select(col("rep").as("doc_b"), col("members").as("ms_b")), "doc_b"))
      .select(scores :+ explode(col("ms_a")).as("a") :+ col("ms_b"): _*)
      .select(scores :+ col("a") :+ explode(col("ms_b")).as("b"): _*)
      .select(least(col("a"), col("b")).as("doc_a") +:
        greatest(col("a"), col("b")).as("doc_b") +: scores: _*)
    cross.unionByName(explodeMemberPairs(within, "members", "doc_a", "doc_b")
      .select(col("doc_a") +: col("doc_b") +: scores: _*))
  }

  /** MinHash-LSH candidate generation + exact-jaccard verification →
    * (doc_a, doc_b, jaccard) near-dup pairs. Shared by the pair query, the
    * cleaning composites, and clustering. Fused shingle+minhash evaluates
    * once per doc; shingle work for verification happens only on candidate
    * rows. */
  /** Telemetry fence for OUTPUT-QUADRATIC pair queries (r9 verdict #6):
    * on a replicated corpus the member-expanded pair set is the TRUE
    * output size — every copy of A pairs with every copy of B — so a
    * consumer who picks a pair form at scale gets a silently enormous
    * job. The `graft.pair_count.<query>` observe metric makes that loud:
    * production telemetry can alert on it, and the clusters/decision form
    * of each family (`q_dedup_clusters*`, `q_multimodal_perceptual_
    * clusters`, `q_dedup_semantic`) is the linear-output alternative.
    * Asserted in `PairTelemetrySpec`. */
  private[graft] def observePairs(
      df: DataFrame, name: String, sortKeys: Column*): DataFrame = {
    // The telemetry node owns the presentation sort (r10 verdict #1). A
    // global orderBy's range-partitioner SAMPLES its child, so wherever
    // the CollectMetrics sits relative to it one of two bad things
    // happens: below the sort it executes twice and double-counts; above
    // it, it blocks EliminateSorts and the checksum/bench consumer pays
    // the sampling pass re-executing the expensive pair join (the r10
    // q_cosine_pairs tax). repartition(1).sortWithinPartitions has
    // neither failure mode: round-robin repartition consumes the child
    // EXACTLY ONCE (no sampling), and a within-partition sort of a single
    // partition is a global order. Pair outputs at gate scale are tiny,
    // so the 1-partition sort is cheap; production drops the sort either
    // way. Metric exactness asserted in PairTelemetrySpec.
    //
    // r13 re-litigated this under the sf1 stage attribution (the
    // one-partition sort serializes ~half of q_multimodal_perceptual's
    // 67M-row sf1 wall onto one core, making that row track host
    // single-core speed 1:1) and REAFFIRMED the r10 choice with fresh
    // measurements: a bare orderBy double-counts the metric (spec fails,
    // 29 s), and localCheckpoint-then-orderBy moves the metric into the
    // checkpoint's own execution (spec fails) while storing 67M rows
    // costs MORE than it saves (109 s vs 42 s). The single-task tail is
    // a property of the quadratic-OUTPUT pair forms only — their
    // linear-output decision forms are the scale path, and production
    // drops the presentation sort.
    //
    // r14: the sort is now CONF-GATED (`spark.graft.pairPresentationSort`,
    // default true). `Verify` keeps the default — the oracle diff hashes a
    // written parquet file, so the deterministic global order stays load-
    // bearing there — but `Bench`'s timing action is
    // [[graft.Harness.checksum]], which is order-independent BY
    // CONSTRUCTION (count + bit_xor + wrapping sum of row hashes), so
    // Bench clears the flag and the pair rows keep their natural
    // parallelism instead of serializing onto one core (the r13 sf1 stage
    // attribution: the 1-partition sort was ~half of
    // q_multimodal_perceptual's 41.9 s wall). The observe metric is
    // upstream of the gate, so PairTelemetrySpec's exactness holds in
    // both modes; equality of the two modes' checksums is pinned there
    // too.
    val observed =
      df.observe(s"graft.pair_count.$name", count(lit(1)).as("pairs_emitted"))
    val wantSort = df.sparkSession.conf
      .get("spark.graft.pairPresentationSort", "true").toBoolean
    if (sortKeys.isEmpty || !wantSort) observed
    else observed.repartition(1).sortWithinPartitions(sortKeys: _*)
  }

  private[graft] def minhashNearDupPairs(s: SparkSession, dir: String): DataFrame =
    minhashNearDupPairsOf(docs(s, dir))

  /** The one MinHash-LSH text signature: one (`keep`…, band_idx,
    * band_hash) row per band for each `text` of ≥ 3 words — word
    * 3-shingles, r·b permutations, b bands of r rows. Every text near-dup
    * gate bands through it, batch and streaming, pair query and
    * batch×store probe alike: candidates collide only between texts banded
    * by the same rule, so a streaming gate returns its batch twin's rows
    * only while both sides call this. */
  private[graft] def minhashBands(df: DataFrame, text: String, keep: Seq[String],
      r: Int = 4, b: Int = 16): DataFrame =
    df.select(keep.map(col) :+ split(col(text), " ").as("w"): _*)
      .filter(size(col("w")) >= 3)
      .select(keep.map(col) :+ posexplode(Sketches.bandhashes(
          Sketches.shingleMinhashes(col("w"), 3, r * b), r))
        .as(Seq("band_idx", "band_hash")): _*)

  /** LSH candidate generation + exact-jaccard verification over a frame of
    * DISTINCT-text representatives — the rep edges of [[nearDupGraph]]. */
  private[graft] def minhashRepPairs(reps: DataFrame): DataFrame =
    minhashRepPairsCfg(reps, 4, 16)

  /** [[minhashRepPairs]] under an explicit (r rows, b bands) band
    * configuration — k = r·b MinHash permutations. The default (4, 16) is
    * the shipped k=64 recall-first config; [[autoBandConfigMinhash]] may
    * choose a coarser one on a gapped corpus. Exact-jaccard verification
    * is config-independent, so precision never varies with the config. */
  private[graft] def minhashRepPairsCfg(reps: DataFrame, r: Int, b: Int): DataFrame =
    bucketPairs(minhashBands(reps, "text", Seq("doc_id"), r, b), Seq("band_idx", "band_hash"))
      .join(reps.select(col("doc_id").as("doc_a"), col("text").as("text_a")), "doc_a")
      .join(reps.select(col("doc_id").as("doc_b"), col("text").as("text_b")), "doc_b")
      .withColumn("jaccard", Sketches.jaccardShingles(col("text_a"), col("text_b"), 3))
      .filter(col("jaccard") >= 0.8)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))

  /** One exact-dup class of the near-dup graph in driver memory: its
    * representative `gid` (the min doc_id), multiplicity `m`, sorted
    * `members`, and the 3-shingle jaccard of its text with itself, which
    * scores its within-class pairs. */
  private[graft] final case class DupClass(gid: Long, m: Long, members: Array[Long],
      jaccard: Double) {
    /** Its copies pair with each other: the within-class pair condition. */
    def clique: Boolean = m >= 2 && jaccard >= 0.8
  }
  /** A verified rep edge between two classes, by gid (`a` < `b`). */
  private[graft] final case class RepEdge(a: Long, b: Long, jaccard: Double)
  /** The touched classes (m ≥ 2, or an edge endpoint) and every rep edge,
    * collected. */
  private[graft] final case class LocalGraph(classes: Array[DupClass], edges: Array[RepEdge])

  /** The verified near-dup class graph of a corpus, built once per call by
    * [[nearDupGraph]]: `classes` (gid, m, members, text — one row per
    * distinct text of ≥ 3 words) and `edges` (doc_a, doc_b, jaccard — the
    * verified rep pairs between gids), both localCheckpointed, and `local`
    * when the graph fits the broadcast budget. */
  private[graft] final case class NearDupGraph(classes: DataFrame, edges: DataFrame,
      local: Option[LocalGraph])

  /** The text-identity quotient of a (doc_id, text) frame and its verified
    * rep edges, shared by every near-dup graph operator (pairs, LSS
    * clusters, PageRank, triangles, k-core). Identical texts have identical
    * neighbourhoods in the near-dup graph, so banding and verification run
    * once per distinct text and each operator expands members last.
    *
    * Two checkpoints: the class frame (docs with ≥ 3 words grouped by text;
    * its job also observes `c2`, the classes with m ≥ 2, and `mm`, their
    * Σ m) and the rep edges ([[minhashRepPairs]]; its job observes their
    * count E). From those metrics, before anything is collected, the
    * touched classes with their members are bounded by
    *   E × the edge row's `defaultSize` + (2E + c2) × the class row's
    *   `defaultSize` + (2E + mm) × 8 B,
    * and when that fits the broadcast budget (and `collect` is set) the
    * edges and the touched classes — with their within-class jaccard — are
    * collected once, so the operators finish on the driver; at sf0.1 the
    * graph is ~31 KB against the 10 MB default. Above the budget, or at -1,
    * the operators run distributed from the same two checkpoints. One
    * `neardup_graph` event per call reports `local`, `classes`, `edges`,
    * `bytes` (the bound) and `ms`. */
  private[graft] def nearDupGraph(d: DataFrame, collect: Boolean = true): NearDupGraph = {
    val t0 = System.nanoTime()
    val classObs = Observation()
    val edgeObs = Observation()
    val classes = d.filter(size(split(col("text"), " ")) >= 3)
      .groupBy(col("text"))
      .agg(min(col("doc_id")).as("gid"), count(lit(1)).as("m"),
        sort_array(collect_list(col("doc_id"))).as("members"))
      .select(col("gid"), col("m"), col("members"), col("text"))
      .observe(classObs, count(lit(1)).as("n"), count(when(col("m") >= 2, 1)).as("c2"),
        coalesce(sum(when(col("m") >= 2, col("m"))), lit(0L)).as("mm"))
      .localCheckpoint()
    val edges = minhashRepPairs(classes.select(col("gid").as("doc_id"), col("text")))
      .observe(edgeObs, count(lit(1)).as("e")).localCheckpoint()
    val cm = classObs.get
    val e = edgeObs.get("e").asInstanceOf[Long]
    val (c2, mm) = (cm("c2").asInstanceOf[Long], cm("mm").asInstanceOf[Long])
    val bytes = e * edges.schema.defaultSize +
      (2 * e + c2) * classes.schema.defaultSize + (2 * e + mm) * 8
    val local = if (!collect || !Fixpoint.fitsBroadcast(d.sparkSession, bytes)) None else {
      val es = edges.collect().map(r => RepEdge(r.getLong(0), r.getLong(1), r.getDouble(2)))
      val ends = es.flatMap(x => Seq(x.a, x.b)).distinct.toSeq
      val cs = classes.filter(col("m") >= 2 || col("gid").isInCollection(ends))
        .select(col("gid"), col("m"), col("members"),
          Sketches.jaccardShingles(col("text"), col("text"), 3))
        .collect().map(r =>
          DupClass(r.getLong(0), r.getLong(1), r.getSeq[Long](2).toArray, r.getDouble(3)))
      Some(LocalGraph(cs, es))
    }
    graft.StructuredLog.info("neardup_graph", "local" -> local.isDefined,
      "classes" -> cm("n"), "edges" -> e, "bytes" -> bytes,
      "ms" -> (System.nanoTime() - t0) / 1000000)
    NearDupGraph(classes, edges, local)
  }

  private val pairSchema = StructType(Seq(StructField("doc_a", LongType, nullable = false),
    StructField("doc_b", LongType, nullable = false), StructField("jaccard", DoubleType)))

  /** Near-dup pairs (doc_a < doc_b, jaccard) of an arbitrary (doc_id,
    * text) frame, over its class graph ([[nearDupGraph]]).
    *
    * Exact-dup quotient FIRST (the [[embeddingLshPairs]] discipline,
    * applied here after the 1000× probe): banding and jaccard
    * verification run once per DISTINCT text; member pairs expand as the
    * FINAL step, directly into the true output. The per-copy form's
    * in-bucket C(n,2) expansion is quadratic in replication — on the
    * 1000× probe corpus (exact-dup classes to ~1000 members) it emitted
    * tens of billions of candidate rows pre-distinct and exhausted 70+ GB
    * of shuffle disk. Intermediate volume here is linear in distinct
    * texts; the pair OUTPUT stays quadratic in replication by pair
    * semantics (the clusters form is the decision-scale path).
    * Side effect: the bucket cap counts distinct texts, not copies —
    * strictly better recall under the same cap.
    *
    * The pairs expand on the driver when the graph was collected and the
    * exact output — Σ m_a·m_b cross pairs over the edges plus C(m, 2)
    * within each clique class — fits the broadcast budget too; otherwise
    * distributed from the graph's checkpoints ([[expandClassPairs]]). */
  private[graft] def minhashNearDupPairsOf(d: DataFrame): DataFrame = {
    val g = nearDupGraph(d)
    val s = d.sparkSession
    g.local.filter(l => Fixpoint.fitsBroadcast(s, pairCount(l) * pairSchema.defaultSize)) match {
      case Some(l) => s.createDataFrame(localPairs(l).toSeq.asJava, pairSchema)
      case None => expandClassPairs(g.edges,
        g.classes.select(col("gid").as("rep"), col("members")), textCliques(g.classes))
    }
  }

  private def pairCount(l: LocalGraph): Long = {
    val m = l.classes.map(c => c.gid -> c.m).toMap
    l.edges.map(e => m(e.a) * m(e.b)).sum +
      l.classes.filter(_.clique).map(c => c.m * (c.m - 1) / 2).sum
  }

  /** [[expandClassPairs]] on the driver: members × members of each rep
    * edge as (least, greatest) with the edge's jaccard, then each clique
    * class's internal pairs in member order. */
  private def localPairs(l: LocalGraph): Iterator[Row] = {
    val members = l.classes.map(c => c.gid -> c.members).toMap
    val cross = l.edges.iterator.flatMap { e =>
      for (a <- members(e.a).iterator; b <- members(e.b).iterator)
        yield Row(math.min(a, b), math.max(a, b), e.jaccard)
    }
    val within = l.classes.iterator.filter(_.clique).flatMap { c =>
      val ms = c.members
      for (i <- ms.indices.iterator; j <- (i + 1 until ms.length).iterator)
        yield Row(ms(i), ms(j), c.jaccard)
    }
    cross ++ within
  }

  /** Text classes whose copies pair with each other, as
    * [[expandClassPairs]]' `within` (members, jaccard): identical texts
    * share every band, so the per-copy form paired them whenever they band
    * at all (≥3 words); jaccard comes from the same expression on the
    * identical texts. */
  private def textCliques(classes: DataFrame): DataFrame = classes
    .filter(size(col("members")) >= 2 && size(split(col("text"), " ")) >= 3)
    .withColumn("jaccard", Sketches.jaccardShingles(col("text"), col("text"), 3))
    .filter(col("jaccard") >= 0.8)
    .select(col("members"), col("jaccard"))

  /** Connected components of a pair set (doc_a, doc_b) → (id, label):
    * exactly one row per id of a non-self-loop pair, labelled with its
    * component's minimum id (the minimum labels itself). A pair (x, x)
    * adds nothing, so an id whose only pair is a self-loop has no row.
    *
    * This is the step that turns PAIRS into a dedup decision: jaccard is
    * not transitive, so keep-smallest-of-each-pair can drop both docs of a
    * chain a-b-c; one keeper PER COMPONENT is the sound policy.
    *
    * Alternating large-star / small-star (Kiveris et al., "Connected
    * Components in MapReduce and Beyond"): where label propagation needs
    * O(diameter) rounds that each shuffle the full label set, this
    * converges in O(log² n) rounds on ANY graph shape (long chains
    * included) and each round touches only the shrinking edge set:
    *   large-star: every node points its larger neighbors at its
    *     neighborhood minimum (keeps connectivity, cuts long paths);
    *   small-star: every node folds itself and its smaller neighbors
    *     onto that minimum (flattens toward a star).
    * At fixpoint the edge set IS the component assignment — one
    * (component-min, member) star per component. Each phase is one
    * groupBy-min + one join, both hash-shuffled on node id. Convergence is
    * exact set equality, gated by a (count, hash-sum, hash-xor) triple
    * observed during each round's checkpoint: only a round whose triple
    * matches the previous one pays the two anti-join emptiness checks.
    *
    * Local finish: once the canonical edge set fits the broadcast budget
    * (16 B per edge against `spark.sql.autoBroadcastJoinThreshold`, 655k
    * edges at the 10 MB default), `Fixpoint` collects it and [[lssStars]]
    * computes the same star set on the driver — the rounds left are pure
    * per-job overhead on a state that small. At scale the rounds run until
    * clique collapse shrinks the edge set under the budget; a threshold of
    * -1 runs every round distributed. */
  private[graft] def connectedComponentsLss(pairs: DataFrame): DataFrame = {
    def canon(e: DataFrame): DataFrame = e
      .filter(col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("u"), greatest(col("u"), col("v")).as("v"))
      .distinct()
    def bothWays(e: DataFrame): DataFrame =
      e.select(col("u").as("c"), col("v").as("n"))
        .unionByName(e.select(col("v").as("c"), col("u").as("n")))
    // convergence rides the per-round checkpoint job (r14, Fixpoint):
    // the canonical edge set's (count, hash-sum, hash-xor) triple is
    // computed for free during each round's checkpoint materialization.
    // Differing triples PROVE the sets differ, so the common
    // not-yet-converged round pays ZERO convergence actions. Matching
    // triples trigger the exact confirmation, which stays the two
    // except().isEmpty probes: r15 tried fusing them into one
    // union+groupBy symmetric-difference job and the interleaved A/B came
    // back WORSE (clusters_lss 3.8 → 4.4 s, joint 6.4 → 7.3 s min-of-4) —
    // except() over these tiny checkpointed frames plans as BROADCAST
    // anti-joins with no exchange at all, while the fused form forces a
    // real shuffle. Convergence is still decided by exact set equality,
    // never by the hash.
    import org.apache.spark.sql.types.DecimalType
    val edges = Fixpoint.run("connectedComponentsLss",
        canon(pairs.select(col("doc_a").as("u"), col("doc_b").as("v"))),
        cert = Seq(
          sum(xxhash64(col("u"), col("v")).cast(DecimalType(38, 0))).as("s"),
          expr("bit_xor(xxhash64(u, v))").as("x")),
        confirm = (prev, next) =>
          next.except(prev).isEmpty && prev.except(next).isEmpty,
        local = Some(edges => lssStars(edges.map(r => (r.getLong(0), r.getLong(1))))
          .map { case (u, v) => Row(u, v) })) { edges =>
      val nb = bothWays(edges)
      val mins = nb.groupBy(col("c")).agg(min(col("n")).as("mn"))
        .select(col("c"), least(col("c"), col("mn")).as("m"))
      val large = canon(nb.join(mins, "c").filter(col("n") > col("c"))
        .select(col("n").as("u"), col("m").as("v")))
      val nb2 = bothWays(large)
      val mins2 = nb2.groupBy(col("c")).agg(min(col("n")).as("mn"))
        .select(col("c"), least(col("c"), col("mn")).as("m"))
      canon(nb2.join(mins2, "c").filter(col("n") < col("c"))
        .select(col("n").as("u"), col("m").as("v"))
        .unionByName(mins2.select(col("c").as("u"), col("m").as("v"))))
    }
    // converged: every edge is (component-min u, member v); the minima
    // themselves re-enter as their own label
    edges.select(col("v").as("id"), col("u").as("label"))
      .unionByName(edges.select(col("u").as("id"), col("u").as("label")).distinct())
  }

  /** The set large-star/small-star converges to, from an in-memory edge
    * list of (u, v) ids: (min C, v) for every member v ≠ min C of every
    * component C. Union-find over primitive arrays — sorted distinct ids,
    * int parents, each union rooted at the smaller index (so a root is its
    * component's minimum id), path halving — so an edge set at the
    * broadcast budget stays a few tens of MB on the driver. */
  private def lssStars(edges: Array[(Long, Long)]): Seq[(Long, Long)] = {
    val ids = new Array[Long](2 * edges.length)
    for (i <- edges.indices) {
      ids(2 * i) = edges(i)._1
      ids(2 * i + 1) = edges(i)._2
    }
    java.util.Arrays.sort(ids)
    var k = 0
    for (id <- ids if k == 0 || id != ids(k - 1)) { ids(k) = id; k += 1 }
    val parent = Array.tabulate(k)(identity)
    def find(i0: Int): Int = {
      var i = i0
      while (parent(i) != i) { parent(i) = parent(parent(i)); i = parent(i) }
      i
    }
    def idx(id: Long) = java.util.Arrays.binarySearch(ids, 0, k, id)
    for ((u, v) <- edges) {
      val (a, b) = (find(idx(u)), find(idx(v)))
      if (a < b) parent(b) = a else if (b < a) parent(a) = b
    }
    (0 until k).filter(i => find(i) != i).map(i => (ids(find(i)), ids(i)))
  }

  /** Near-dup clusters over the text-identity quotient graph, components
    * by large-star/small-star — the replication-invariant scale path.
    *
    * Identical texts form perfect cliques in the near-dup graph (jaccard
    * exactly 1.0), so a crawl where the dominant mass is exact duplicates
    * feeds Θ(Σ mᵢ²) clique edges into every LSS round — the 100× probe
    * measured 30.5 s for exactly that reason. Neighborhoods are
    * text-determined (every member has the same jaccard relations as its
    * representative), so the components run over the class graph
    * ([[nearDupGraph]]: one node per distinct text, edge set independent
    * of duplication depth) and members expand last, from the class's own
    * member list.
    *
    * Re-expansion is closed-form: a doc's component is its class's
    * component; a class with m ≥ 2 is clustered even with no cross-text
    * edge (its own intra-class clique), labeled by its gid; cluster_rep =
    * component-min gid = min doc_id over the component's docs (each gid is
    * its class's min); cluster_size = Σ m over the component's classes.
    * Texts under 3 words produce no shingles and thus no pairs — excluded,
    * like the raw pipeline. When the class graph was collected, [[lssStars]]
    * labels it on the driver; otherwise LSS runs over the rep edges and the
    * members expand with `explode`. Equality with plain LSS over the
    * uncollapsed pair set is law-tested on a replicated corpus
    * (`GraphSpec`). */
  def docNearDupClustersLss(docsDf: DataFrame): DataFrame = {
    val g = nearDupGraph(docsDf.select(col("doc_id"), col("text")))
    g.local match {
      case Some(l) =>
        val label = lssStars(l.edges.map(e => (e.a, e.b))).map(_.swap).toMap
        val rep = l.classes.map(c => c.gid -> label.getOrElse(c.gid, c.gid)).toMap
        val size = l.classes.groupMapReduce(c => rep(c.gid))(_.m)(_ + _)
        val rows = for (c <- l.classes.toSeq; doc <- c.members)
          yield Row(doc, rep(c.gid), size(rep(c.gid)))
        docsDf.sparkSession.createDataFrame(rows.asJava, StructType(Seq(
          StructField("doc_id", LongType, nullable = false),
          StructField("cluster_rep", LongType), StructField("cluster_size", LongType))))
      case None =>
        val labels = connectedComponentsLss(g.edges)
        val c = g.classes
          .join(labels.withColumnRenamed("id", "gid"), Seq("gid"), "left")
          .filter(col("m") >= 2 || col("label").isNotNull)
          .select(col("members"), coalesce(col("label"), col("gid")).as("label"), col("m"))
        c.join(c.groupBy(col("label")).agg(sum(col("m")).as("cluster_size")), "label")
          .select(explode(col("members")).as("doc_id"), col("label").as("cluster_rep"),
            col("cluster_size"))
    }
  }

  /** (doc_id, idx, chunk, k_doc, k_idx): every 10-word chunk of every doc,
    * tagged with the corpus-wide first occurrence (min (doc_id, idx)) of
    * that chunk's text. Keeper election is a partial-aggregatable
    * min-struct — a corpus-wide boilerplate chunk collapses map-side
    * instead of flooding one task the way a window row_number over the
    * chunk would. */
  private def chunksWithKeeper(s: SparkSession, dir: String): DataFrame = {
    val ch = docs(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), posexplode(expr(
        """transform(sequence(0, cast(ceil(size(w)/10.0) as int) - 1),
           i -> concat_ws(' ', slice(w, i*10+1, 10)))""")))
      .withColumnRenamed("pos", "idx").withColumnRenamed("col", "chunk")
    val keeper = ch.groupBy(col("chunk"))
      .agg(min(struct(col("doc_id"), col("idx"))).as("k"))
      .select(col("chunk"), col("k.doc_id").as("k_doc"), col("k.idx").as("k_idx"))
    ch.join(keeper, "chunk")
  }

  /** Exact substring-level dedup (the suffix-array family: Lee et al.,
    * ACL'22 — dedup at substring granularity, not document granularity):
    * for every document, the maximal character spans whose every
    * length-`subWin` window occurs ≥ 2 times in the corpus, plus the
    * duplicated-char total and ratio. Any substring duplicated at length
    * ≥ subWin is covered window-by-window, so spans are exactly the
    * union of duplicated windows — merged where consecutive duplicated
    * positions are ≤ subWin apart (overlapping or touching intervals).
    *
    * Scale shape, stage by stage:
    *  1. exact-dup collapse (groupBy the text itself, multiplicity m) —
    *     a crawl's thousandfold-replicated page costs ONE row downstream,
    *     and a window inside an m ≥ 2 group is duplicated by definition
    *     (weight sum(m) counts corpus occurrences, not rep occurrences);
    *  2. [[graft.functions.WindowHashes]] emits one 8-byte rolling hash
    *     per codepoint in the scan stage — the shuffle is O(unique
    *     corpus chars) × 8 bytes, the same asymptotics as the
    *     suffix-array build it replaces, and the count ≥ 2 filter is a
    *     partial-aggregatable sum so singleton hashes (the vast
    *     majority) collapse map-side;
    *  3. only hash-survivors re-materialize their 32-char window text
    *     for the verification groupBy — string equality, not hash
    *     equality, decides, so a 2^-64 Rabin–Karp collision can add a
    *     candidate but never a wrong answer;
    *  4. span assembly is a per-document window (partitioned by gid,
    *     never global) over only the duplicated positions.
    */
  private[graft] val subWin = 32

  /** Stage 1–3 of [[duplicatedSubstringSpans]] pre-materialization:
    * (dedup groups, raw candidate windows). Split out so the plan audit
    * can count windowhashes scans on the lazy plan — the public entry
    * checkpoints `cand`, which hides its scans from the final explain. */
  private[graft] def substringCandidatePlan(docsDf: DataFrame): (DataFrame, DataFrame) = {
    val base = docsDf.select(col("doc_id"), col("text"), col("n_chars"))
    val groups = base.groupBy(col("text"))
      .agg(min(col("doc_id")).as("gid"), count(lit(1)).as("m"))
      .localCheckpoint() // feeds windows, membership, and the verify join
    val wins = groups
      .select(col("gid"), col("m"),
        posexplode(Sketches.windowHashes(col("text"), subWin)).as(Seq("pos", "h")))
    val dupH = wins.groupBy(col("h")).agg(sum(col("m")).as("cnt"))
      .filter(col("cnt") >= 2).select(col("h"))
    val cand = wins.join(dupH, "h")
      .join(groups.select(col("gid"), col("text")), "gid")
      .select(col("gid"), col("m"), col("pos"),
        expr(s"substring(text, pos + 1, $subWin)").as("win"))
    (groups, cand)
  }

  private[graft] def duplicatedSubstringSpans(docsDf: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = docsDf.select(col("doc_id"), col("text"), col("n_chars"))
    // candidates materialize via localCheckpoint: `cand` feeds BOTH the
    // verification aggregate and the verified join, and without the cut
    // Catalyst re-expands the whole subtree per reference — 4 full
    // windowhashes scans instead of 2 (seen in the executed plan). The
    // candidate set is small (hash-survivors only), so materializing it
    // is cheap; the per-position `wins` frame is NOT materialized — at
    // scale, re-running the O(chars) hash scan twice (once for the count
    // aggregate, once here) beats writing ~30× the corpus bytes to disk.
    val (groups, candRaw) = substringCandidatePlan(docsDf)
    val cand = candRaw.localCheckpoint()
    val dupWin = cand.groupBy(col("win")).agg(sum(col("m")).as("cnt"))
      .filter(col("cnt") >= 2).select(col("win"))
    val verified = cand.join(dupWin, "win").select(col("gid"), col("pos"))
    val w = Window.partitionBy(col("gid")).orderBy(col("pos"))
    val spans = verified
      .withColumn("brk",
        when(col("pos") - lag(col("pos"), 1).over(w) > subWin, 1).otherwise(0))
      .withColumn("island", sum(col("brk")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("gid"), col("island"))
      .agg(min(col("pos")).as("s"), max(col("pos")).as("e"))
      .groupBy(col("gid"))
      .agg(count(lit(1)).as("n_dup_spans"),
        sum(col("e") - col("s") + lit(subWin)).cast("long").as("dup_chars"))
    base.join(groups.select(col("text"), col("gid")), "text")
      .join(spans, "gid")
      .select(col("doc_id"), col("n_dup_spans"), col("dup_chars"),
        (col("dup_chars").cast("double") / col("n_chars")).as("dup_ratio"))
  }

  val queries: Map[String, Q] = Map(
    // exact dedup: hash-groupBy on normalized content; keeper = min doc_id
    "q_dedup_exact" -> ((s, dir) => {
      docs(s, dir)
        .groupBy(md5(lower(col("text")).cast("binary")).as("content_hash"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keep_id"))
        .orderBy(col("content_hash"))
    }),

    // dedup census: the per-source duplication telemetry a curation run
    // reports before any dedup decision — how much of each source is
    // copies, how large the worst clique is, how much survives a
    // keep-one-per-class pass. Two stacked hash aggregations, both
    // map-side combined ((source, text) then source — the second sees
    // |classes| rows), no joins; the dup_ratio division happens once per
    // source row in widened doubles on both engines.
    "q_dedup_census" -> ((s, dir) =>
      docs(s, dir)
        .groupBy(col("source"), col("text"))
        .agg(count(lit(1)).as("m"))
        .groupBy(col("source"))
        .agg(sum(col("m")).as("n_docs"),
          count(lit(1)).as("n_classes"),
          (sum(col("m")) - count(lit(1))).as("n_dup_docs"),
          round(lit(1.0) -
            count(lit(1)).cast("double") / sum(col("m")).cast("double"), 6)
            .as("dup_ratio"),
          max(col("m")).as("max_class"),
          sum(when(col("m") === 1, 1L).otherwise(0L)).as("n_singletons"))
        .orderBy(col("source"))),

    // sub-document (chunk-level) dedup — the CCNet/RefinedWeb line-dedup
    // shape on a corpus without newlines: the doc splits into consecutive
    // 10-word chunks, the first occurrence of each distinct chunk (min
    // (doc_id, idx)) is the keeper, and the per-doc duplicate-chunk count
    // comes back. Keeper election is a partial-aggregatable min-struct —
    // a corpus-wide boilerplate chunk collapses map-side instead of
    // flooding one task the way a window row_number over the chunk would.
    "q_dedup_chunks" -> ((s, dir) => {
      val tagged = chunksWithKeeper(s, dir)
      tagged.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("doc_id") =!= col("k_doc") || col("idx") =!= col("k_idx"),
            1L).otherwise(0L)).as("n_dup_chunks"))
        .orderBy(col("doc_id"))
    }),

    // exact substring-span dedup (suffix-array semantics, window-hash
    // mechanics — see duplicatedSubstringSpans): per doc, the maximal
    // spans whose every 32-codepoint window repeats in the corpus
    "q_dedup_substrings" -> ((s, dir) =>
      duplicatedSubstringSpans(docs(s, dir)).orderBy(col("doc_id"))),

    // content-defined chunk dedup: same first-occurrence election as
    // q_dedup_chunks, but over CDC (Gear rolling-hash) boundaries —
    // chunk identity survives insertions/shifts that re-key every
    // fixed-width chunk. Chunks materialize in the scan stage
    // (CdcChunks expression, codegen'd); election stays the
    // partial-aggregatable min-struct. No SQL oracle (the gear hash is
    // not SQL-computable); boundary/locality laws are property-tested
    // in CdcChunksSpec.
    "q_dedup_chunks_cdc" -> ((s, dir) => {
      val ch = docs(s, dir).select(col("doc_id"),
          posexplode(Sketches.cdcChunks(col("text"), 16, 6, 256)).as(Seq("idx", "c")))
        .select(col("doc_id"), col("idx"), col("c.hash").as("h"))
      val keeper = ch.groupBy(col("h"))
        .agg(min(struct(col("doc_id"), col("idx"))).as("k"))
      ch.join(keeper, "h")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("doc_id") =!= col("k.doc_id") || col("idx") =!= col("k.idx"),
            1L).otherwise(0L)).as("n_dup_chunks"))
        .orderBy(col("doc_id"))
    }),

    // the APPLY half of chunk dedup: emit the cleaned corpus itself —
    // each doc's surviving (first-occurrence) chunks reassembled in
    // original order. Docs whose every chunk lost its election disappear,
    // exactly like a fully-boilerplate page. The rebuild is one per-doc
    // aggregate (array_sort over (idx, chunk) structs — bounded by doc
    // size), so the cleaned 100 TB corpus streams out with one shuffle
    // beyond the keeper election.
    "q_dedup_chunks_apply" -> ((s, dir) => {
      chunksWithKeeper(s, dir)
        .filter(col("doc_id") === col("k_doc") && col("idx") === col("k_idx"))
        .groupBy(col("doc_id"))
        .agg(
          array_join(expr(
            "transform(array_sort(collect_list(struct(idx, chunk))), x -> x.chunk)"),
            " ").as("clean_text"),
          count(lit(1)).as("n_kept"))
        .orderBy(col("doc_id"))
    }),

    // MinHash (k=64) + LSH (16 bands × 4 rows) near-dup pairs, verified
    // with exact shingle-set Jaccard ≥ 0.8. At the corpus' similarity
    // separation (dup pairs ≥0.98, background ≤0.1) LSH recall is ~1-1e-18,
    // so the output equals the exact all-pairs oracle.
    "q_dedup_minhash_lsh" -> ((s, dir) =>
      observePairs(minhashNearDupPairs(s, dir),
        "q_dedup_minhash_lsh", col("doc_a"), col("doc_b"))),

    // gap-aware auto-banded MinHash near-dup pairs (r10 verdict #3):
    // q_dedup_minhash_lsh under autoBandConfigMinhash. On this corpus the
    // chooser PROVABLY falls back (dup floor 0.9 → sEff 0.8 → no coarse
    // config fits the 512-perm budget), so the output is bit-identical to
    // the default form and both share the exact-pairs oracle; the
    // decision evidence surfaces as graft.lsh_auto_minhash metrics.
    "q_dedup_minhash_auto" -> ((s, dir) => {
      val (pairs, cfg) = minhashNearDupPairsAutoOf(docs(s, dir))
      observePairs(pairs.observe("graft.lsh_auto_minhash",
        max(lit(cfg.r)).as("r"), max(lit(cfg.b)).as("b"),
        max(lit(if (cfg.fallback) 1L else 0L)).as("fallback"),
        max(lit(cfg.missBound)).as("miss_bound")),
        "q_dedup_minhash_auto", col("doc_a"), col("doc_b"))
    }),

    // Incremental NEAR-dup admission — the steady-state crawl shape the
    // exact-fingerprint q_dedup_incremental can't cover: a new batch
    // (doc_id % 10 == 0 stands in for today's arrivals) is admitted
    // against the indexed corpus, rejecting any doc whose verified
    // 3-shingle jaccard against SOME corpus doc reaches 0.8. Candidates
    // come from a band-signature equi-join BETWEEN the two sides (never
    // corpus×corpus — the corpus side of a production run reads its
    // persisted signature table, recomputed in-plan here only because the
    // gate corpus is parquet-only); verification touches candidate rows
    // only. Output is decision-scale: one row per batch doc, admitted or
    // not, with the match count and the strongest hit.
    "q_dedup_minhash_incremental" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val corpus = d.filter(col("doc_id") % 10 =!= 0)
      val batch = d.filter(col("doc_id") % 10 === 0)
      def banded(df: DataFrame, idCol: String) =
        minhashBands(df.withColumnRenamed("doc_id", idCol), "text", Seq(idCol))
      val cand = banded(batch, "new_id")
        .join(banded(corpus, "old_id"), Seq("band_idx", "band_hash"))
        .select(col("new_id"), col("old_id")).distinct()
      val hits = cand
        .join(batch.select(col("doc_id").as("new_id"), col("text").as("text_n")),
          "new_id")
        .join(corpus.select(col("doc_id").as("old_id"), col("text").as("text_o")),
          "old_id")
        .withColumn("jaccard",
          Sketches.jaccardShingles(col("text_n"), col("text_o"), 3))
        .filter(col("jaccard") >= 0.8)
        .groupBy(col("new_id"))
        .agg(count(lit(1)).as("n_matches"), max(col("jaccard")).as("max_jaccard"))
      batch.select(col("doc_id"))
        .join(hits.withColumnRenamed("new_id", "doc_id"), Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_matches").isNull.as("admitted"),
          coalesce(col("n_matches"), lit(0L)).as("n_matches"),
          col("max_jaccard"))
        .orderBy(col("doc_id"))
    }),

    // near-dup CLUSTERS: connected components over the verified pair set —
    // one row per clustered doc with its component representative (the
    // keeper) and component size. Jaccard is not transitive, so this, not
    // per-pair keep-smallest, is the sound dedup decision.
    "q_dedup_clusters" -> ((s, dir) => {
      val labels = connectedComponentsLss(minhashNearDupPairs(s, dir))
      val sizes = labels.groupBy(col("label")).agg(count(lit(1)).as("cluster_size"))
      labels.join(sizes, "label")
        .select(col("id").as("doc_id"), col("label").as("cluster_rep"),
          col("cluster_size"))
        .orderBy(col("doc_id"))
    }),

    // Same clustering contract, computed over the text-identity quotient
    // graph — the replication-invariant scale path. Must produce
    // byte-identical clusters to q_dedup_clusters, which runs the same
    // components over the member-level pair set (both share the
    // recursive-SQL transitive-closure oracle).
    "q_dedup_clusters_lss" -> ((s, dir) =>
      docNearDupClustersLss(docs(s, dir)).orderBy(col("doc_id"))),

    // SimHash over word-3-shingles, banded 16×4 bits: by pigeonhole, any
    // pair within signature hamming ≤ 15 shares at least one band
    // DETERMINISTICALLY (measured true-pair max on this corpus: 13 — an
    // 8×8 banding provably missed a hamming-11 pair at sf0.1, and a raw
    // hamming ≤ 12 gate provably killed a true hamming-13 pair). 4-bit
    // band values are deliberately coarse (~64% of random pairs share some
    // band), so candidates pass a sig-only hamming ≤ 15 prefilter — one
    // bit_count per pair, no text — before the expensive exact
    // shingle-jaccard ≥ 0.8 verification: precision is exact, so the
    // output equals the exact near-dup pair set (the registered oracle).
    "q_dedup_simhash" -> ((s, dir) => {
      // exact-dup quotient first (the minhashNearDupPairsOf discipline —
      // identical texts have identical simhashes, so per-copy banding is
      // quadratic in replication); then explode the band INDEX (Generate
      // is a projection-collapse barrier → simhash evaluates once per
      // distinct text) and derive band values
      val clusters = docs(s, dir).groupBy(col("text"))
        .agg(min(col("doc_id")).as("rep"),
          sort_array(collect_list(col("doc_id"))).as("members"))
      val reps = clusters.select(col("rep").as("doc_id"), col("text"))
      val banded = reps
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .filter(size(col("w")) >= 3)
        .select(col("doc_id"), Sketches.shingleSimhash64(col("w"), 3).as("sig"))
        .select(col("doc_id"), col("sig"),
          explode(sequence(lit(0), lit(15))).as("band_idx"))
        .withColumn("band_val",
          expr("shiftrightunsigned(sig, cast(band_idx * 4 as int)) & 15"))
      val cand = banded
        .groupBy(col("band_idx"), col("band_val"))
        .agg(collect_list(struct(col("doc_id"), col("sig"))).as("xs0"))
        .filter(size(col("xs0")) >= 2)
        .observe(s"graft.bucket_cap.${obsId.incrementAndGet()}",
          sum(greatest(size(col("xs0")) - bucketCap, lit(0))).as("docs_dropped"),
          sum(when(size(col("xs0")) > bucketCap, 1).otherwise(0)).as("buckets_capped"))
        .select(slice(sort_array(col("xs0")), 1, bucketCap).as("xs"))
        // the hamming gate runs INSIDE a primitive loop (see
        // [[graft.functions.HammingPairs]]): non-matching pairs never
        // materialize — the SQL struct formulation allocated 12M+ Catalyst
        // rows here just to filter them away (measured ~7 s at sf0.1)
        .select(explode(graft.functions.Pairs.hammingPairs(col("xs"), 15)).as("pk"))
        .select(col("pk.a").as("doc_a"), col("pk.b").as("doc_b"))
        .distinct()
      val repPairs = cand
        .join(reps.select(col("doc_id").as("doc_a"), col("text").as("text_a")), "doc_a")
        .join(reps.select(col("doc_id").as("doc_b"), col("text").as("text_b")), "doc_b")
        .filter(Sketches.jaccardShingles(col("text_a"), col("text_b"), 3) >= 0.8)
        .select(col("doc_a"), col("doc_b"))
      observePairs(expandClassPairs(repPairs,
          clusters.select(col("rep"), col("members")),
          textCliques(clusters).select(col("members"))),
        "q_dedup_simhash", col("doc_a"), col("doc_b"))
    }),

    // character-5-gram Jaccard, all-pairs — the O(n²) correctness baseline
    // for the LSH pipelines (run the LSH ones at scale, not this). Capped
    // to doc_id < 1000 (a no-op at the sf0.01 gate, bounded at larger SFs
    // — uncapped it is quadratic by construction; the oracle mirrors the
    // cap)
    "q_dedup_ngram" -> ((s, dir) => {
      val g = docs(s, dir)
        .filter(length(col("text")) >= 5 && col("doc_id") < 1000)
        .select(col("doc_id"), array_distinct(expr(
          "transform(sequence(0, length(text)-5), i -> substr(text, i+1, 5))")).as("g"))
      g.select(col("doc_id").as("doc_a"), col("g").as("g_a"))
        .join(g.select(col("doc_id").as("doc_b"), col("g").as("g_b")),
          col("doc_a") < col("doc_b"))
        .withColumn("jaccard5", jaccard(col("g_a"), col("g_b")))
        .filter(col("jaccard5") >= 0.5)
        .select(col("doc_a"), col("doc_b"), col("jaccard5"))
        .transform(observePairs(_, "q_dedup_ngram", col("doc_a"), col("doc_b")))
    }),

    // the composite training-data preparation pipeline: drop near-dups
    // (minhash-LSH pairs, keep the smaller doc_id), then gate on quality
    // (token count + stopword ratio) — the query an ingestion job runs
    // over the whole corpus before tokenization
    "q_corpus_clean" -> ((s, dir) => {
      val d = docs(s, dir)
      // deterministic keep policy: smaller id wins
      val dupLosers = minhashNearDupPairs(s, dir).select(col("doc_b"))
      val tk = split(lower(col("text")), " ")
      d.join(dupLosers, d("doc_id") === dupLosers("doc_b"), "left_anti")
        .withColumn("n_tokens", size(tk).cast("long"))
        .withColumn("stop_ratio",
          size(filter(tk, t => t.isInCollection(Seq("the", "a")))).cast("double") /
            size(tk).cast("double"))
        .filter(col("n_tokens") >= 10 && col("n_tokens") <= 2000 &&
          col("stop_ratio") >= 0.01)
        .select(col("doc_id"), col("lang"), col("n_tokens"), col("stop_ratio"))
        .orderBy(col("doc_id"))
    }),

    // THE capstone composite: the complete training-data preparation
    // pipeline a 100 TB ingestion run executes, end to end in one lazy
    // plan — r12 adds the RefinedWeb URL recipe AT THE HEAD, in its
    // published order: canonicalize → domain blocklist → per-domain cap,
    // all BEFORE any content work (dedup sees only URL survivors, the
    // RefinedWeb staging). Then: near-dup removal (minhash-LSH over the
    // gated corpus, smaller id wins), benchmark decontamination (8-gram
    // overlap with the eval split — the benchmark is EXTERNAL, so eval
    // grams are not URL-gated; r13 adds the SEMANTIC gate beside it —
    // broadcast max-cosine vs the eval vectors, catching paraphrases the
    // verbatim grams miss), normalization, quality gates,
    // deterministic md5-bucket train/val/test split, per-split token
    // budget. Plan shape: the URL gate set is computed on a
    // (doc_id, source) column-pruned scan — domain + blocklist are
    // in-row Column algebra, the cap is the bounded TopKPerKey heap —
    // and applied as one left-semi. Every stage is individually
    // oracle-checked elsewhere; this query checks their composition.
    "q_training_mix" -> ((s, dir) => {
      val d0 = docs(s, dir)
      val urlKeep = graft.plans.TopK.perKey(
          PipelineOps.withUrl(d0.select(col("doc_id"), col("source")))
            .withColumn("domain", PipelineOps.domainOfUrl(
              PipelineOps.canonicalizeUrl(col("url"))))
            .filter(!col("domain").isin(PipelineOps.blockedDomains: _*))
            .select(col("domain"), col("doc_id"),
              md5(col("doc_id").cast("string")).as("h")),
          Seq("domain"), Seq("h" -> false, "doc_id" -> false),
          PipelineOps.DomainCapK)
        .select(col("doc_id"))
      val d = d0.join(urlKeep, Seq("doc_id"), "left_semi")
      val losers = minhashNearDupPairsOf(d.select(col("doc_id"), col("text")))
        .select(col("doc_b").as("doc_id"))
      val g = d0
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .filter(size(col("w")) >= 8)
        .select(col("doc_id"), explode(array_distinct(expr(
          """transform(sequence(0, size(w)-8), i ->
             concat_ws(' ', w[i], w[i+1], w[i+2], w[i+3],
                            w[i+4], w[i+5], w[i+6], w[i+7]))"""))).as("gram"))
      val evalGrams = g.filter(col("doc_id") < 50).select(col("gram")).distinct()
      // contamination flags may include URL-rejected ids — harmless: the
      // anti-join below runs on the gated frame, extra ids are no-ops
      val contaminated = g.filter(col("doc_id") >= 50)
        .join(broadcast(evalGrams), "gram").select(col("doc_id")).distinct()
      // semantic decontamination (r12 verdict #6): the
      // q_decontaminate_semantic broadcast max-cosine gate — the
      // PARAPHRASE catcher the verbatim 8-gram overlap misses — composed
      // as one more anti-join stage of the same lazy plan. The benchmark
      // side is eval-suite-sized (vec_id < 50) and broadcasts; the doc →
      // vector association is the corpus's doc_id == vec_id bijection.
      // At 100 TB the corpus side stays a single embeddings scan and the
      // broadcast is |eval|×|vec| floats — the decontamination frames
      // never shuffle.
      val semContaminated = {
        val e = Tables.load(s, dir, "embeddings")
        val bench = e.filter(col("vec_id") < 50)
          .select(col("embedding").as("b_emb"))
        e.filter(col("vec_id") >= 50)
          .crossJoin(broadcast(bench))
          .filter(round(Sketches.cosineSim(col("embedding"), col("b_emb")), 6)
            >= 0.45)
          .select(col("vec_id").as("doc_id")).distinct()
      }
      val tk = split(regexp_replace(trim(lower(col("text"))), " +", " "), " ")
      val bucket = substring(md5(col("doc_id").cast("string")), 1, 1)
      d.filter(col("doc_id") >= 50) // the eval split is not training data
        .join(losers, Seq("doc_id"), "left_anti")
        .join(contaminated, Seq("doc_id"), "left_anti")
        .join(semContaminated, Seq("doc_id"), "left_anti")
        .withColumn("n_tokens", size(tk).cast("long"))
        .withColumn("stop_ratio",
          size(filter(tk, t => t.isInCollection(Seq("the", "a")))).cast("double") /
            size(tk).cast("double"))
        .filter(col("n_tokens") >= 10 && col("n_tokens") <= 2000 &&
          col("stop_ratio") >= 0.01)
        .withColumn("split",
          when(bucket <= "b", "train").when(bucket <= "d", "val").otherwise("test"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).cast("long").as("total_tokens"))
        .orderBy(col("split"))
    }),

    // embedding-cosine near-dup pairs (custom fused cosine expression);
    // quadratic here, LSH-bucketed path below is the scale variant
    "q_dedup_embedding" -> ((s, dir) => {
      val e = Tables.load(s, dir, "embeddings").filter(col("vec_id") < 1000)
      val a = e.select(col("vec_id").as("vec_a"), col("embedding").as("emb_a"))
      val b = e.select(col("vec_id").as("vec_b"), col("embedding").as("emb_b"))
      a.join(b, col("vec_a") < col("vec_b"))
        .withColumn("cos", round(Sketches.cosineSim(col("emb_a"), col("emb_b")), 6))
        .filter(col("cos") >= 0.45)
        .select(col("vec_a"), col("vec_b"), col("cos"))
        .transform(observePairs(_, "q_dedup_embedding", col("vec_a"), col("vec_b")))
    }),

    "q_dedup_embedding_lsh" -> ((s, dir) =>
      observePairs(embeddingLshPairs(s, dir),
        "q_dedup_embedding_lsh", col("vec_a"), col("vec_b"))),

    // semantic dedup (the SemDeDup recipe, Abbas et al. 2023,
    // arXiv:2303.09540): connected components over the embedding near-dup
    // graph, ONE representative kept per component — chosen by max vector
    // norm (rounded to the oracle's 6dp, ties to the lower vec_id), a
    // deterministic stand-in for the paper's quality criterion.
    "q_dedup_semantic" -> ((s, dir) =>
      semanticDedupOf(Tables.load(s, dir, "embeddings")).orderBy(col("vec_id"))),

    // gap-aware variant: a bounded sampled pre-pass estimates the corpus's
    // dup/background cosine gap and auto-picks the band config with an
    // explicit recall bound (observe metrics `graft.lsh_auto`); on this
    // adversarially-gapped corpus it falls back to the recall-first
    // default, so the output — and the oracle — are q_dedup_semantic's.
    // On a real-gap corpus the coarse bands cut candidate volume ~30×
    // (DedupAutoSpec's fixture law).
    "q_dedup_semantic_auto" -> ((s, dir) =>
      semanticDedupAutoOf(Tables.load(s, dir, "embeddings")).orderBy(col("vec_id"))),

    // SEMANTIC decontamination — the third standard gate next to
    // q_decontaminate (absolute 8-gram overlap) and q_ngram_containment
    // (fractional): drop a training item when its embedding is too close
    // to ANY benchmark item, catching paraphrases and translations the
    // n-gram gates cannot see. Scale shape: the benchmark side is bounded
    // (an eval suite — thousands of vectors, here ids < 50) and
    // BROADCASTS; the training side streams through one scan with a
    // 50-way in-scan expansion that a partial max collapses map-side —
    // no shuffle beyond the per-vector aggregate, the q_decontaminate
    // discipline applied to vectors. Zero-vector caveat inherited from
    // the cosine family: cos(0, ·) is null and drops from max — such a
    // vector has NO similarity to any benchmark item, so `kept` coalesces
    // to true (max_benchmark_cos stays null, faithfully "no defined
    // cosine"); without the coalesce a downstream boolean filter would
    // read the null as false and silently DROP the vector.
    "q_decontaminate_semantic" -> ((s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      val bench = e.filter(col("vec_id") < 50)
        .select(col("embedding").as("b_emb"))
      e.filter(col("vec_id") >= 50)
        .crossJoin(broadcast(bench))
        .withColumn("cos", round(Sketches.cosineSim(col("embedding"), col("b_emb")), 6))
        .groupBy(col("vec_id"))
        .agg(max(col("cos")).as("max_benchmark_cos"))
        .withColumn("kept", coalesce(col("max_benchmark_cos") < 0.45, lit(true)))
        .orderBy(col("vec_id"))
    }),

    // semantic (embedding) incremental admission — completes the
    // incremental matrix (exact text / minhash / bloom / joint /
    // perceptual / domain caps all have arrival forms; the embedding
    // axis didn't): an arriving vector (vec_id % 10 == 0) is REJECTED
    // when some STORE vector sits at cosine ≥ 0.45. 100 TB shape: both
    // sides quotient by embedding identity, band with the SAME seeded
    // hyperplane family ([[bandedEmbeddings]]), and probe via a
    // batch×INDEX band equi-join — never batch×store all-pairs (unlike
    // q_decontaminate_semantic, whose static side is eval-suite-sized
    // and broadcasts; a dedup store is corpus-sized). Exact cosine
    // verifies candidates; recall is the embedding family's
    // recall-1-at-this-corpus band guarantee (r=4, b=64, per-pair miss
    // < 4e-6), so the per-arrival MAX over candidates equals the max
    // over all qualifying store vectors — which is the closed-form
    // oracle. Zero vectors: cosine null → never rejected (both engines).
    "q_dedup_semantic_incremental" -> ((s, dir) =>
      semanticIncrementalAdmission(s, dir)),
    // the PRODUCTION factoring (r12 verdict #1 — the embedding-axis
    // analogue of q_stream_joint_rejects_ingest): the store-side band
    // index is written to parquet ONCE at ingest time, then the arrival
    // gate reads it with zero store-side banding work at query time.
    // Same semantics, same oracle; the in-plan variant stays as the
    // self-contained form and A/B baseline.
    "q_dedup_semantic_incremental_ingest" -> ((s, dir) => {
      val p = graft.Scratch.tempDir("graft_bandidx_")
      writeBandIndex(s, dir, p)
      semanticIncrementalAdmission(s, dir, Some(readBandIndex(s, p)))
    }),
  )

  /** Semantic (embedding) incremental admission — the query body behind
    * `q_dedup_semantic_incremental` (in-plan store side) and its
    * `_ingest` variant (store side read from the parquet band index
    * written by [[writeBandIndex]]). An arriving vector (vec_id % 10 == 0)
    * is rejected when some STORE vector sits at cosine ≥ 0.45; both sides
    * band with the SAME seeded hyperplane family so candidates collide.
    *
    * `index` is the store side as frames (bands, vectors): here the
    * parquet [[writeBandIndex]] wrote, read back by [[readBandIndex]]; at
    * cluster scale it may be `spark.table` frames of a store bucketed on
    * the join keys. `None` builds it in plan ([[semanticStoreIndex]]). */
  def semanticIncrementalAdmission(s: SparkSession, dir: String,
      index: Option[(DataFrame, DataFrame)] = None): DataFrame = {
    val e = Tables.load(s, dir, "embeddings")
    val bCls = e.filter(col("vec_id") % 10 === 0)
      .groupBy(col("embedding"))
      .agg(min(col("vec_id")).as("rep"),
        sort_array(collect_list(col("vec_id"))).as("members"))
    val (sBand, sVec) = index.getOrElse(semanticStoreIndex(e))
    val cand = bandedEmbeddings(
        bCls.select(col("rep"), col("embedding")), "rep")
      .join(sBand, Seq("band_idx", "band_val"))
      .select(col("rep"), col("sid")).distinct()
    val verified = cand
      .join(bCls.select(col("rep"), col("embedding").as("b_emb")), "rep")
      .join(sVec.select(col("sid"), col("embedding").as("s_emb")), "sid")
      .withColumn("cos",
        round(Sketches.cosineSim(col("b_emb"), col("s_emb")), 6))
      .filter(col("cos") >= 0.45)
      .groupBy(col("rep")).agg(max(col("cos")).as("max_cos"))
    bCls.select(col("rep"), explode(col("members")).as("vec_id"))
      .join(verified, "rep")
      .select(col("vec_id"), col("max_cos"))
      .orderBy(col("vec_id"))
  }

  /** The store-side semantic admission index, in-plan: the embedding-
    * identity quotient of the non-arrival slice, banded with the shared
    * seeded hyperplane family. Returns (bands = (sid, band_idx,
    * band_val), vectors = (sid, embedding)) — the two frames every
    * admission gate needs (band rows for the candidate equi-join, the
    * quotient vectors for exact-cosine verification). */
  private[graft] def semanticStoreIndex(e: DataFrame): (DataFrame, DataFrame) = {
    val sCls = e.filter(col("vec_id") % 10 =!= 0)
      .groupBy(col("embedding")).agg(min(col("vec_id")).as("sid"))
    (bandedEmbeddings(sCls.select(col("sid"), col("embedding")), "sid"),
      sCls.select(col("sid"), col("embedding")))
  }

  /** Production factoring of the semantic admission store side (r12
    * verdict #1): persist [[semanticStoreIndex]] to parquet once at
    * ingest time — `bands/` (sid, band_idx, band_val) and `vectors/`
    * (sid, embedding) — so every later admission pass (batch arrival
    * gate or streaming twin) probes parquet projections with ZERO
    * store-side quotienting/banding work, the fused-ingest discipline
    * of [[graft.operators.Multimodal.writeIngestTable]]. */
  def writeBandIndex(s: SparkSession, dir: String, outPath: String): Unit = {
    val (bands, vectors) = semanticStoreIndex(Tables.load(s, dir, "embeddings"))
    bands.write.mode("overwrite").parquet(s"$outPath/bands")
    vectors.write.mode("overwrite").parquet(s"$outPath/vectors")
  }

  /** Read back the two frames [[writeBandIndex]] persisted. */
  def readBandIndex(s: SparkSession, path: String): (DataFrame, DataFrame) =
    (s.read.parquet(s"$path/bands"), s.read.parquet(s"$path/vectors"))

  /** SemDeDup over the exact-dup quotient graph: components, keeper
    * election and sizes all computed per DISTINCT embedding, re-expanded
    * in closed form — never over member-level pairs.
    *
    * Components over the member-expanded pair set would take, on a
    * dup-heavy corpus, Θ(Σ mᵢ·mⱼ) edges for work the quotient does on one
    * edge per rep pair. Soundness: members of an
    * exact-dup group share the embedding, hence the norm and every cosine
    * relation, so (a) a group joins a component iff its rep does; (b) a
    * group with m ≥ 2 whose self-cosine passes the threshold is a
    * component even with no cross edges (its members pair with each
    * other) — while a ZERO vector's self-cosine is null (dropped), so its
    * copies stay mutual singletons, exactly like the expanded pipeline;
    * (c) the member-level keeper max(struct(norm, −vec_id)) reduces to
    * max(struct(norm, −rep)) because each group's min member IS its rep;
    * (d) member-level cluster_size = Σ m. Equality with the expanded
    * formula is law-tested (`PipelineSpec`), incl. the zero-vector group.
    */
  def semanticDedupOf(e: DataFrame, r: Int = 4, b: Int = 64): DataFrame = {
    val (clusters, repPairs) = embeddingRepCandidatesOf(e, r, b)
    val g = clusters.select(col("rep"), col("members"),
      size(col("members")).cast("long").as("m"),
      expr(
        """round(sqrt(aggregate(embedding, cast(0.0 as double),
          |  (acc, x) -> acc + cast(x as double) * cast(x as double))), 6)"""
          .stripMargin).as("norm"),
      (round(Sketches.cosineSim(col("embedding"), col("embedding")), 6) >= 0.45)
        .as("self_conn"))
    val labels = connectedComponentsLss(
      repPairs.select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b")))
    val gl = g.join(labels.withColumnRenamed("id", "rep"), Seq("rep"), "left_outer")
      .withColumn("label", coalesce(col("label"),
        when(col("m") >= 2 && col("self_conn"), col("rep"))))
    val comp = gl.filter(col("label").isNotNull)
      .groupBy(col("label")).agg(
        max(struct(col("norm"), (-col("rep")).as("negid"))).as("k"),
        sum(col("m")).as("cluster_size"))
      .select((-col("k.negid")).as("vec_id"), col("cluster_size"),
        col("k.norm").as("norm"))
    // label-less groups: every member is its own singleton component
    val singles = gl.filter(col("label").isNull)
      .select(explode(col("members")).as("vec_id"),
        lit(1L).as("cluster_size"), col("norm"))
    comp.unionByName(singles)
  }

  /** Hyperplane-LSH band rows for a frame of (`idCol`, embedding): one
    * (id, band_idx, band_val) row per band — r-bit slices of the seeded
    * 64-bit signature family. Shared by the self-join candidate machinery
    * ([[embeddingRepCandidatesOf]]) and the cross-side batch×index probes
    * (the incremental/admission forms), which must band both sides with
    * the SAME seeded planes for candidates to collide. Signatures
    * materialize below the Generate barrier → nSigs expression evals per
    * row, band values are bit slices per banded row. */
  private[graft] def bandedEmbeddings(reps: DataFrame, idCol: String,
      r: Int = 4, b: Int = 64, carry: Seq[String] = Nil): DataFrame = {
    // r | 64 keeps every band inside one 64-bit signature word; r·b ≤ 512
    // bounds the seeded-plane family (the default 4×64 uses 256; coarse
    // auto-chosen configs may take up to 8 signature words)
    require(Set(2, 4, 8, 16).contains(r) && b >= 1 && r * b <= 512,
      s"unsupported band config (r=$r, b=$b)")
    val nSigs = math.max(4, (r * b + 63) / 64)
    val sigCols = (0 until nSigs).map(i =>
      graft.functions.Sketches.rhSignature(col("embedding"), 64, 64, i * 64).as(s"s$i"))
    // `carry` rides through the band explode (b copies per row) — for a
    // STREAMING probe side that must keep its embedding without a
    // stream-stream join back; batch callers leave it empty and re-join
    reps.select(col(idCol) +: carry.map(col) ++: sigCols: _*)
      .select(col(idCol) +: carry.map(col) :+
        array((0 until nSigs).map(i => col(s"s$i")): _*).as("sigs") :+
        explode(sequence(lit(0), lit(b - 1))).as("band_idx"): _*)
      .withColumn("band_val",
        expr(s"""shiftrightunsigned(
                |  element_at(sigs, cast((band_idx * $r) div 64 as int) + 1),
                |  (band_idx * $r) % 64) & ${(1L << r) - 1}""".stripMargin))
      .select(col(idCol) +: carry.map(col) :+ col("band_idx") :+
        col("band_val"): _*)
  }

  /** Shared candidate machinery for the embedding family:
    * (exact-dup clusters, verified cross-cluster representative pairs).
    * Exact-dup clustering FIRST (the canonical dup-heavy-corpus shape):
    * identical vectors collapse to one representative before LSH, so the
    * candidate problem scales with UNIQUE vectors. On a 10×-replicated
    * probe corpus this cut the pair query from 224 s to seconds; on a
    * dup-free corpus it is a no-op costing one aggregate. */
  private[graft] def embeddingRepCandidatesOf(e: DataFrame, r: Int = 4,
      b: Int = 64): (DataFrame, DataFrame) = {
    val clusters = e.groupBy(col("embedding"))
      .agg(min(col("vec_id")).as("rep"), sort_array(collect_list(col("vec_id"))).as("members"))
    // spread before the r·b hyperplane projections per rep + band explode
    // (r14 stage attribution without it: a 5.2 s single-task stage = 75% of
    // q_dedup_embedding_lsh's sf0.1 wall; same stage inside
    // q_dedup_semantic(_auto) and both contrastive queries)
    val banded = bandedEmbeddings(
        spread(clusters.select(col("rep"), col("embedding"))), "rep", r, b)
      .withColumnRenamed("rep", "doc_id")
    val emb = clusters.select(col("rep").as("vec_id"), col("embedding"))
    val repPairs = bucketPairs(banded, Seq("band_idx", "band_val"))
      .select(col("doc_a").as("vec_a"), col("doc_b").as("vec_b"))
      .join(emb.select(col("vec_id").as("vec_a"), col("embedding").as("emb_a")), "vec_a")
      .join(emb.select(col("vec_id").as("vec_b"), col("embedding").as("emb_b")), "vec_b")
      .withColumn("cos", round(graft.functions.Sketches.cosineSim(col("emb_a"), col("emb_b")), 6))
      .filter(col("cos") >= 0.45)
    (clusters, repPairs)
  }

  /** A chosen LSH band configuration with its evidence: the sampled
    * dup-band floor and background ceiling, the S-curve per-pair miss
    * bound at the conservative dup-band edge, and whether the chooser
    * fell back to the recall-first default. */
  case class LshBandConfig(r: Int, b: Int, fallback: Boolean,
                           dupMin: Double, bgMax: Double, missBound: Double)

  /** Gap-aware LSH band auto-configuration (r9 verdict #4): a BOUNDED
    * sampled pre-pass estimates the corpus's dup/background cosine gap and
    * picks (r, b) with an explicit recall bound, falling back to the
    * recall-first default (r=4, b=64 — per-pair miss < 4e-6 even at this
    * corpus's adversarial 0.0007 gap) whenever the observed gap is inside
    * the safety margin.
    *
    * Sample = the `sampleN` distinct-embedding reps with the smallest
    * xxhash64(rep) — a deterministic pseudo-random draw that Spark
    * executes as TakeOrderedAndProject (per-partition top-N + driver
    * merge: one scan, no shuffle, no full sort), so the pre-pass is O(n)
    * scan + O(sampleN²) driver cosines (≤ 131k dot products at the
    * default 512 — the bounded-collect discipline of the PQ codebook).
    *
    * Gap estimate: dupMin = smallest sampled cosine ≥ threshold, bgMax =
    * largest below it. Only when BOTH edges clear `margin` does the
    * chooser leave the default; the certified dup-band edge is then
    * sEff = max(threshold, dupMin − margin) — unseen true pairs in a
    * genuinely gapped corpus live in the dup band, and the margin absorbs
    * sampling error at its edge. Among r ∈ {16, 8} (coarser than the
    * default 4), pick the largest r whose S-curve bound
    * (1 − pEff^r)^b ≤ eps fits the 512-plane budget (r·b ≤ 512), where
    * pEff = 1 − acos(sEff)/π; larger r shrinks background collisions
    * exponentially (the candidate-volume win the adversarial corpus can
    * never have). Every decision input surfaces in the returned config
    * for `observe` telemetry. */
  private[graft] def autoBandConfig(e: DataFrame, threshold: Double = 0.45,
      margin: Double = 0.1, sampleN: Int = 512,
      eps: Double = 1e-6): LshBandConfig = {
    val sample = e.groupBy(col("embedding")).agg(min(col("vec_id")).as("rep"))
      .orderBy(xxhash64(col("rep")))
      .limit(sampleN)
      .select(col("embedding"))
      .collect()
      .map(_.getSeq[Float](0).toArray.map(_.toDouble))
      .filter(v => v.exists(_ != 0.0)) // zero vectors have no cosine
      .map(v => (v, math.sqrt(v.map(x => x * x).sum)))
    def cosine(a: (Array[Double], Double), b: (Array[Double], Double)): Double = {
      var dot = 0.0; var k = 0
      while (k < a._1.length) { dot += a._1(k) * b._1(k); k += 1 }
      dot / (a._2 * b._2)
    }
    chooseBands(sample, cosine, (4, 64),
      s => 1.0 - math.acos(math.min(1.0, s)) / math.Pi, threshold, margin, eps)
  }

  /** [[semanticDedupOf]] under [[autoBandConfig]], with the chosen config
    * and its recall bound surfaced as `graft.lsh_auto` observe metrics.
    * On a gapped corpus the coarse bands cut candidate volume (law-tested
    * on a synthetic fixture in `DedupAutoSpec`); on the adversarial test
    * corpus the chooser falls back and the output is bit-identical to
    * q_dedup_semantic — which is why both share one oracle. */
  def semanticDedupAutoOf(e: DataFrame): DataFrame = {
    val cfg = autoBandConfig(e)
    semanticDedupOf(e, cfg.r, cfg.b).observe("graft.lsh_auto",
      max(lit(cfg.r)).as("r"), max(lit(cfg.b)).as("b"),
      max(lit(if (cfg.fallback) 1L else 0L)).as("fallback"),
      max(lit(cfg.missBound)).as("miss_bound"))
  }

  /** Gap-aware band auto-configuration for the TEXT MinHash family (r10
    * verdict #3): the [[autoBandConfig]] recipe lifted from cosine space
    * to jaccard space. MinHash needs no geometry — a pair's per-hash
    * match probability IS its jaccard, so a pair at jaccard j misses all
    * b bands of r rows with probability (1 − j^r)^b, and coarser r
    * shrinks background collisions exponentially.
    *
    * Sample = the `sampleN` distinct-text reps with the smallest
    * xxhash64(doc_id) (TakeOrdered: one scan, no shuffle), pairwise exact
    * word-3-shingle jaccard on the driver (≤ ~131k set intersections at
    * the default 512; shingles hash to ints — a collision only perturbs
    * the ESTIMATE and the margin absorbs it). The chooser leaves the
    * recall-first default (r=4, b=16 — the shipped k=64 config) only when
    * the sampled gap clears `margin` on BOTH sides and a coarser
    * r ∈ {16, 8} satisfies the S-curve bound (1 − sEff^r)^b ≤ eps at the
    * certified dup-band edge sEff = max(threshold, dupMin − margin)
    * within the 512-permutation budget (r·b ≤ 512 — the signature width
    * the pipeline is willing to compute per doc).
    *
    * On the driver corpus the fallback is PROVABLE, not incidental: the
    * observed dup floor is 0.9, so sEff = max(0.8, 0.9 − 0.1) = 0.8, and
    * at jaccard 0.8 the bound needs b=76 of r=8 rows (608 perms) or
    * b≈485 of 16 — both over budget — so the chooser returns the default
    * and q_dedup_minhash_auto is bit-identical to q_dedup_minhash_lsh,
    * which is why both share one exact-pairs oracle. On a gapped corpus
    * (dup floor ≥ ~0.92) a coarse config fits and the equality holds only
    * up to the certified eps miss bound — the [[autoBandConfig]] caveat
    * verbatim. Law-tested on a real-gap text fixture in DedupAutoSpec. */
  private[graft] def autoBandConfigMinhash(reps: DataFrame,
      threshold: Double = 0.8, margin: Double = 0.1, sampleN: Int = 512,
      eps: Double = 1e-6): LshBandConfig = {
    val texts = reps.orderBy(xxhash64(col("doc_id"))).limit(sampleN)
      .select(col("text")).collect().map(_.getString(0))
    val shingleSets = texts.map { t =>
      val w = t.split(" ")
      if (w.length < 3) Set.empty[Int]
      else w.sliding(3).map(_.mkString(" ").hashCode).toSet
    }.filter(_.nonEmpty)
    def jaccard(a: Set[Int], b: Set[Int]): Double = {
      val inter = if (a.size <= b.size) a.count(b) else b.count(a)
      inter.toDouble / (a.size + b.size - inter)
    }
    chooseBands(shingleSets, jaccard, (4, 16), s => s, threshold, margin, eps)
  }

  /** The one band chooser behind [[autoBandConfig]] (cosine) and
    * [[autoBandConfigMinhash]] (jaccard), which differ only in `sim`, the
    * pairwise similarity of two sampled items; the recall-first `default`
    * (r, b); and `collide`, the per-row collision probability of a pair at
    * similarity s. Scans the sample's pairs for dupMin (smallest ≥
    * threshold) and bgMax (largest below), falls back to the default
    * unless both clear `margin`, else takes the largest r ∈ {16, 8} whose
    * S-curve bound (1 − collide(sEff)^r)^b ≤ eps fits r·b ≤ 512 at
    * sEff = max(threshold, dupMin − margin). */
  private def chooseBands[A](sample: Array[A], sim: (A, A) => Double,
      default: (Int, Int), collide: Double => Double, threshold: Double,
      margin: Double, eps: Double): LshBandConfig = {
    var dupMin = Double.PositiveInfinity
    var bgMax = Double.NegativeInfinity
    var i = 0
    while (i < sample.length) {
      var j = i + 1
      while (j < sample.length) {
        val c = sim(sample(i), sample(j))
        if (c >= threshold) { if (c < dupMin) dupMin = c }
        else if (c > bgMax) bgMax = c
        j += 1
      }
      i += 1
    }
    val (r0, b0) = default
    val fallback = LshBandConfig(r0, b0, fallback = true, dupMin, bgMax,
      missBound = math.pow(1.0 - math.pow(collide(threshold), r0), b0))
    if (!dupMin.isFinite || dupMin - threshold < margin
        || threshold - bgMax < margin) fallback
    else {
      val pEff = collide(math.max(threshold, dupMin - margin))
      Seq(16, 8).view.flatMap { r =>
        val bNeeded = math.ceil(math.log(eps)
          / math.log(1.0 - math.pow(pEff, r))).toInt.max(1)
        if (r * bNeeded <= 512)
          Some(LshBandConfig(r, bNeeded, fallback = false, dupMin, bgMax,
            missBound = math.pow(1.0 - math.pow(pEff, r), bNeeded)))
        else None
      }.headOption.getOrElse(fallback)
    }
  }

  /** [[minhashNearDupPairsOf]] under [[autoBandConfigMinhash]]; returns
    * the pair frame and the chosen config so the caller can surface the
    * decision evidence as `observe` metrics. */
  private[graft] def minhashNearDupPairsAutoOf(
      d: DataFrame): (DataFrame, LshBandConfig) = {
    val clusters = d.groupBy(col("text"))
      .agg(min(col("doc_id")).as("gid"),
        sort_array(collect_list(col("doc_id"))).as("members"))
    val reps = clusters.select(col("gid").as("doc_id"), col("text"))
    val cfg = autoBandConfigMinhash(reps)
    (expandClassPairs(minhashRepPairsCfg(reps, cfg.r, cfg.b),
      clusters.select(col("gid").as("rep"), col("members")), textCliques(clusters)), cfg)
  }

  /** LSH-bucketed embedding near-dup: hyperplane-signature buckets generate
    * candidates in O(n·bands), exact cosine verifies ≥0.45 — precision is
    * exact by construction, so output equality with the quadratic baseline
    * reduces to candidate recall.
    *
    * Band parameters come from the standard S-curve: a pair at bit-agreement
    * p survives with prob 1-(1-p^r)^b. This corpus is adversarially
    * separated — true pairs start at cos 0.4501 (p≈0.6486) with background
    * up to cos 0.4494 — so r=4, b=64 (256 planes, 4 stacked 64-bit
    * signatures) drives per-pair miss below 4e-6; with fixed seeded planes
    * the result is deterministic and verified equal to the exact baseline at
    * every test SF. A corpus with a real dup/background gap (dups ≥0.8,
    * background ≤0.3) gets the same recall from b=8 at a fraction of the
    * candidate volume — b, r are the per-corpus tuning knobs. */
  private[operators] def embeddingLshPairs(s: SparkSession, dir: String): DataFrame = {
    val (clusters, repPairs) = embeddingRepCandidatesOf(Tables.load(s, dir, "embeddings"))
    // within-cluster pairs score cos(v,v) (~1.0); cross-cluster pairs
    // inherit their reps' cosines, which are byte-identical to the members'
    expandClassPairs(
        repPairs.select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"), col("cos")),
        clusters.select(col("rep"), col("members")),
        clusters.filter(size(col("members")) >= 2)
          .withColumn("cos",
            round(graft.functions.Sketches.cosineSim(col("embedding"), col("embedding")), 6))
          .filter(col("cos") >= 0.45) // zero vectors: cos is null → dropped
          .select(col("members"), col("cos")))
      .select(col("doc_a").as("vec_a"), col("doc_b").as("vec_b"), col("cos"))
  }

  /** Shared by the batch and streaming semantic-admission forms —
    * identical semantics, one oracle. */
  private[graft] val semanticIncrementalSql: String =
  """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
        |b AS (SELECT * FROM e WHERE vec_id % 10 = 0),
        |s AS (SELECT * FROM e WHERE vec_id % 10 <> 0)
        |SELECT b.vec_id,
        |  max(round(list_inner_product(b.v, s.v)
        |    / (sqrt(list_inner_product(b.v, b.v)) * sqrt(list_inner_product(s.v, s.v))), 6))
        |    AS max_cos
        |FROM b JOIN s
        |  ON round(list_inner_product(b.v, s.v)
        |    / (sqrt(list_inner_product(b.v, b.v)) * sqrt(list_inner_product(s.v, s.v))), 6) >= 0.45
        |GROUP BY b.vec_id ORDER BY b.vec_id""".stripMargin

  private[operators] val exactPairsSql =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |s AS (SELECT doc_id,
      |        list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
      |                       for i in range(1, len(w)-1)]) AS sh
      |      FROM t WHERE len(w) >= 3)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |    / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
      |FROM s a JOIN s b ON a.doc_id < b.doc_id""".stripMargin

  /** The exact jaccard ≥ 0.8 pair set: the oracle of q_dedup_minhash_lsh
    * and q_dedup_minhash_auto. */
  private val minhashPairsSql: String =
    s"""SELECT doc_a, doc_b, jaccard FROM ($exactPairsSql)
       |WHERE jaccard >= 0.8 ORDER BY doc_a, doc_b""".stripMargin

  private[operators] val clustersOracleSql: String =
    s"""WITH RECURSIVE
       |p AS (SELECT doc_a, doc_b FROM ($exactPairsSql) WHERE jaccard >= 0.8),
       |e AS (SELECT doc_a a, doc_b b FROM p UNION SELECT doc_b, doc_a FROM p),
       |n AS (SELECT DISTINCT a AS id FROM e),
       |reach AS (
       |  SELECT id, id AS x FROM n
       |  UNION
       |  SELECT r.id, e.b AS x FROM reach r JOIN e ON r.x = e.a
       |)
       |SELECT id AS doc_id, CAST(MIN(x) AS BIGINT) AS cluster_rep,
       |  CAST(COUNT(DISTINCT x) AS BIGINT) AS cluster_size
       |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin

  // PRECONDITION for the LSH oracles below: they assert equality with the
  // exact all-pairs set, which holds only while no band bucket exceeds the
  // bucketPairs hot-bucket cap (1024). On a corpus with a hotter bucket the
  // cap (by design) drops candidates and the comparison fails on recall, not
  // on a bug — check the `graft.bucket_cap` observed metric first when
  // adjudicating a pair-set mismatch.
  private def oracleBase: Map[String, String] = Map(
    "q_dedup_exact" ->
      """SELECT md5(lower(text)) AS content_hash, COUNT(*) AS n_docs,
        |  CAST(MIN(doc_id) AS BIGINT) AS keep_id
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_dedup_census" ->
      """WITH c AS (SELECT source, text, COUNT(*) AS m
        |           FROM documents GROUP BY source, text)
        |SELECT source,
        |  CAST(SUM(m) AS BIGINT) AS n_docs,
        |  CAST(COUNT(*) AS BIGINT) AS n_classes,
        |  CAST(SUM(m) - COUNT(*) AS BIGINT) AS n_dup_docs,
        |  round(1.0 - CAST(COUNT(*) AS DOUBLE) / CAST(SUM(m) AS DOUBLE), 6)
        |    AS dup_ratio,
        |  CAST(MAX(m) AS BIGINT) AS max_class,
        |  CAST(SUM(CASE WHEN m = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_singletons
        |FROM c GROUP BY source ORDER BY source""".stripMargin,
    "q_dedup_chunks" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |ch AS (
        |  SELECT doc_id, idx,
        |    array_to_string(w[idx*10+1 : idx*10+10], ' ') AS chunk
        |  FROM (SELECT doc_id, w,
        |          unnest(range(0, CAST(ceil(len(w)/10.0) AS BIGINT))) AS idx
        |        FROM t)),
        |m AS (SELECT doc_id,
        |        row_number() OVER (PARTITION BY chunk
        |                           ORDER BY doc_id, idx) AS rn
        |      FROM ch)
        |SELECT doc_id, COUNT(*) AS n_chunks,
        |  CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks
        |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_dedup_chunks_apply" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |ch AS (
        |  SELECT doc_id, idx,
        |    array_to_string(w[idx*10+1 : idx*10+10], ' ') AS chunk
        |  FROM (SELECT doc_id, w,
        |          unnest(range(0, CAST(ceil(len(w)/10.0) AS BIGINT))) AS idx
        |        FROM t)),
        |m AS (SELECT doc_id, idx, chunk,
        |        row_number() OVER (PARTITION BY chunk
        |                           ORDER BY doc_id, idx) AS rn
        |      FROM ch)
        |SELECT doc_id,
        |  string_agg(chunk, ' ' ORDER BY idx) AS clean_text,
        |  COUNT(*) AS n_kept
        |FROM m WHERE rn = 1 GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // substring-span dedup: the oracle enumerates every 32-char window
    // directly (substr + generate_series — no hashing at all), so it
    // independently checks both the rolling-hash candidate generation and
    // the span algebra
    "q_dedup_substrings" ->
      """WITH g AS (SELECT text, MIN(doc_id) AS gid, COUNT(*) AS m
        |           FROM documents GROUP BY text),
        |w AS (SELECT gid, m, CAST(i AS INT) AS pos,
        |             substr(text, CAST(i + 1 AS INT), 32) AS win
        |      FROM g, UNNEST(generate_series(0, CAST(length(text) - 32 AS INT))) AS t(i)),
        |dup AS (SELECT win FROM w GROUP BY win HAVING SUM(m) >= 2),
        |v AS (SELECT gid, pos FROM w JOIN dup USING (win)),
        |brk AS (SELECT gid, pos,
        |          CASE WHEN pos - lag(pos) OVER (PARTITION BY gid ORDER BY pos) > 32
        |               THEN 1 ELSE 0 END AS b
        |        FROM v),
        |isl AS (SELECT gid, pos,
        |          SUM(b) OVER (PARTITION BY gid ORDER BY pos
        |                       ROWS UNBOUNDED PRECEDING) AS island
        |        FROM brk),
        |sp AS (SELECT gid, island, MIN(pos) AS s, MAX(pos) AS e
        |       FROM isl GROUP BY 1, 2),
        |agg AS (SELECT gid, COUNT(*) AS n_dup_spans,
        |               CAST(SUM(e - s + 32) AS BIGINT) AS dup_chars
        |        FROM sp GROUP BY 1)
        |SELECT d.doc_id, n_dup_spans, dup_chars,
        |       CAST(dup_chars AS DOUBLE) / d.n_chars AS dup_ratio
        |FROM documents d JOIN g ON d.text = g.text JOIN agg USING (gid)
        |ORDER BY d.doc_id""".stripMargin,
    "q_dedup_minhash_lsh" -> minhashPairsSql,
    // shares the exact-pairs ground truth: on this corpus the auto
    // chooser provably falls back (see autoBandConfigMinhash), so the
    // equality is guaranteed here and holds only up to the certified eps
    // miss bound on a genuinely gapped corpus
    "q_dedup_minhash_auto" -> minhashPairsSql,
    // exact batch×corpus jaccard (quadratic is gate-SF-only; the engine's
    // band join is the scale path). Same recall precondition as above.
    "q_dedup_minhash_incremental" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |s AS (SELECT doc_id,
        |        list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |                       for i in range(1, len(w)-1)]) AS sh
        |      FROM t WHERE len(w) >= 3),
        |j AS (SELECT b.doc_id AS new_id,
        |        CAST(len(list_intersect(b.sh, c.sh)) AS DOUBLE)
        |          / len(list_distinct(list_concat(b.sh, c.sh))) AS jaccard
        |      FROM (SELECT * FROM s WHERE doc_id % 10 = 0) b,
        |           (SELECT * FROM s WHERE doc_id % 10 <> 0) c),
        |h AS (SELECT new_id, CAST(COUNT(*) AS BIGINT) AS n_matches,
        |        MAX(jaccard) AS max_jaccard
        |      FROM j WHERE jaccard >= 0.8 GROUP BY new_id)
        |SELECT d.doc_id, h.new_id IS NULL AS admitted,
        |  COALESCE(h.n_matches, 0) AS n_matches, h.max_jaccard
        |FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 0) d
        |LEFT JOIN h ON h.new_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    // transitive closure of the exact pair set via recursive min-label
    // reachability — the ground truth for BOTH clusterings (plain and
    // text-identity quotient components must agree with it and therefore
    // with each other)
    "q_dedup_clusters" -> clustersOracleSql,
    "q_dedup_clusters_lss" -> clustersOracleSql,
    // simhash banding (pigeonhole-deterministic to hamming 15) + exact
    // jaccard verification ⇒ the pair set equals the exact near-dup set;
    // the signature is not SQL-computable so the query emits pairs only
    "q_dedup_simhash" ->
      s"""SELECT doc_a, doc_b FROM ($exactPairsSql)
         |WHERE jaccard >= 0.8 ORDER BY doc_a, doc_b""".stripMargin,
    // the LSH variant's precision is exact (cosine-verified) and its
    // candidate recall is driven to ~1-4e-6 per pair (see embeddingLshPairs
    // Scaladoc), so it shares the quadratic baseline's oracle — over the
    // FULL table (the exact query caps at vec_id < 1000 for boundedness;
    // the LSH path needs no cap, that being the point)
    "q_dedup_embedding_lsh" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings)
        |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |  round(list_inner_product(a.v, b.v)
        |    / (sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(b.v, b.v))), 6) AS cos
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE round(list_inner_product(a.v, b.v)
        |    / (sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(b.v, b.v))), 6) >= 0.45
        |ORDER BY vec_a, vec_b""".stripMargin,
    // semantic dedup ground truth: recursive closure of the exact
    // embedding near-dup graph, keeper = max 6dp-rounded norm (tie → lower
    // vec_id; the oracle's window formulation vs the engine's
    // partial-aggregatable max-struct)
    "q_dedup_semantic" ->
      """WITH RECURSIVE
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
        |n AS (SELECT vec_id, round(sqrt(list_inner_product(v, v)), 6) AS norm FROM e),
        |p AS (SELECT a.vec_id AS pa, b.vec_id AS pb FROM e a JOIN e b ON a.vec_id < b.vec_id
        |      WHERE round(list_inner_product(a.v, b.v)
        |        / (sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(b.v, b.v))), 6) >= 0.45),
        |ed AS (SELECT pa AS a, pb AS b FROM p UNION SELECT pb, pa FROM p),
        |nn AS (SELECT DISTINCT a AS id FROM ed),
        |reach AS (
        |  SELECT id, id AS x FROM nn
        |  UNION
        |  SELECT r.id, ed.b AS x FROM reach r JOIN ed ON r.x = ed.a),
        |lab AS (SELECT id, MIN(x) AS label FROM reach GROUP BY id),
        |memb AS (SELECT n.vec_id, COALESCE(l.label, n.vec_id) AS label, n.norm
        |         FROM n LEFT JOIN lab l ON n.vec_id = l.id),
        |k AS (SELECT label, vec_id AS keeper FROM (
        |        SELECT label, vec_id,
        |          row_number() OVER (PARTITION BY label ORDER BY norm DESC, vec_id) AS rn
        |        FROM memb) WHERE rn = 1),
        |sz AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS cluster_size FROM memb GROUP BY label)
        |SELECT m.vec_id, sz.cluster_size, m.norm
        |FROM memb m JOIN k USING (label) JOIN sz USING (label)
        |WHERE m.vec_id = k.keeper ORDER BY m.vec_id""".stripMargin,
    "q_corpus_clean" ->
      s"""WITH losers AS (
         |  SELECT DISTINCT doc_b FROM ($exactPairsSql) WHERE jaccard >= 0.8),
         |q AS (
         |  SELECT doc_id, lang,
         |    CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens,
         |    CAST(len(list_filter(string_split(lower(text), ' '), x -> x IN ('the','a'))) AS DOUBLE)
         |      / len(string_split(lower(text), ' ')) AS stop_ratio
         |  FROM documents
         |  WHERE doc_id NOT IN (SELECT doc_b FROM losers))
         |SELECT doc_id, lang, n_tokens, stop_ratio FROM q
         |WHERE n_tokens BETWEEN 10 AND 2000 AND stop_ratio >= 0.01
         |ORDER BY doc_id""".stripMargin,
    "q_training_mix" ->
      s"""WITH uk AS (
         |  SELECT doc_id FROM (
         |    SELECT doc_id,
         |      row_number() OVER (PARTITION BY domain ORDER BY h, doc_id) AS rk
         |    FROM (SELECT doc_id,
         |            lower(source) || (doc_id % 3) || '.example.com' AS domain,
         |            md5(CAST(doc_id AS VARCHAR)) AS h
         |          FROM documents
         |          WHERE lower(source) || (doc_id % 3) || '.example.com' NOT IN
         |            ('src10.example.com', 'src41.example.com',
         |             'src122.example.com', 'badhost.example.com'))
         |  ) WHERE rk <= 5),
         |t AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
         |losers AS (
         |  SELECT DISTINCT doc_b FROM ($exactPairsSql) WHERE jaccard >= 0.8
         |    AND doc_a IN (SELECT doc_id FROM uk)
         |    AND doc_b IN (SELECT doc_id FROM uk)),
         |g AS (SELECT doc_id,
         |        unnest(list_distinct([array_to_string(w[i:i+7], ' ')
         |                              for i in range(1, len(w)-6)])) AS gram
         |      FROM t WHERE len(w) >= 8),
         |ev AS (SELECT DISTINCT gram FROM g WHERE doc_id < 50),
         |cont AS (SELECT DISTINCT doc_id FROM g JOIN ev USING (gram) WHERE doc_id >= 50),
         |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
         |semcont AS (SELECT DISTINCT t2.vec_id AS doc_id
         |            FROM e t2 JOIN e b2 ON t2.vec_id >= 50 AND b2.vec_id < 50
         |            WHERE round(list_inner_product(t2.v, b2.v)
         |              / (sqrt(list_inner_product(t2.v, t2.v))
         |                 * sqrt(list_inner_product(b2.v, b2.v))), 6) >= 0.45),
         |q AS (
         |  SELECT doc_id,
         |    string_split(regexp_replace(trim(lower(text)), ' +', ' ', 'g'), ' ') AS tk
         |  FROM documents
         |  WHERE doc_id >= 50
         |    AND doc_id IN (SELECT doc_id FROM uk)
         |    AND doc_id NOT IN (SELECT doc_b FROM losers)
         |    AND doc_id NOT IN (SELECT doc_id FROM cont)
         |    AND doc_id NOT IN (SELECT doc_id FROM semcont)),
         |q2 AS (
         |  SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
         |    CAST(len(list_filter(tk, x -> x IN ('the', 'a'))) AS DOUBLE)
         |      / len(tk) AS stop_ratio
         |  FROM q)
         |SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'b' THEN 'train'
         |            WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'd' THEN 'val'
         |            ELSE 'test' END AS split,
         |  COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
         |FROM q2
         |WHERE n_tokens BETWEEN 10 AND 2000 AND stop_ratio >= 0.01
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_dedup_ngram" ->
      """WITH g AS (
        |  SELECT doc_id,
        |    list_distinct([substr(text, i, 5) for i in range(1, length(text)-3)]) AS gg
        |  FROM documents WHERE length(text) >= 5 AND doc_id < 1000)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(len(list_intersect(a.gg, b.gg)) AS DOUBLE)
        |    / len(list_distinct(list_concat(a.gg, b.gg))) AS jaccard5
        |FROM g a JOIN g b ON a.doc_id < b.doc_id
        |WHERE CAST(len(list_intersect(a.gg, b.gg)) AS DOUBLE)
        |    / len(list_distinct(list_concat(a.gg, b.gg))) >= 0.5
        |ORDER BY doc_a, doc_b""".stripMargin,
    "q_dedup_embedding" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v
        |           FROM embeddings WHERE vec_id < 1000)
        |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |  round(list_inner_product(a.v, b.v)
        |    / (sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(b.v, b.v))), 6) AS cos
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE round(list_inner_product(a.v, b.v)
        |    / (sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(b.v, b.v))), 6) >= 0.45
        |ORDER BY vec_a, vec_b""".stripMargin,
    "q_decontaminate_semantic" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings)
        |SELECT t.vec_id,
        |  max(round(list_inner_product(t.v, b.v)
        |    / (sqrt(list_inner_product(t.v, t.v)) * sqrt(list_inner_product(b.v, b.v))), 6))
        |    AS max_benchmark_cos,
        |  COALESCE(max(round(list_inner_product(t.v, b.v)
        |    / (sqrt(list_inner_product(t.v, t.v)) * sqrt(list_inner_product(b.v, b.v))), 6))
        |    < 0.45, TRUE) AS kept
        |FROM e t JOIN e b ON t.vec_id >= 50 AND b.vec_id < 50
        |GROUP BY t.vec_id ORDER BY t.vec_id""".stripMargin,
    "q_dedup_semantic_incremental" -> semanticIncrementalSql,
    // same semantics, store side read from the persisted band index
    "q_dedup_semantic_incremental_ingest" -> semanticIncrementalSql,
  )

  /** q_dedup_semantic_auto shares q_dedup_semantic's ground truth. On
    * THIS corpus the equality is guaranteed: the adversarial fixture has
    * no cosine gap wide enough to clear the 0.1 safety margin, so the
    * chooser provably falls back to the recall-first static config and
    * the plans are identical (certified bit-identical in DedupAutoSpec).
    * On a genuinely gapped corpus the guarantee is only probabilistic —
    * a coarser auto-chosen (r, b) has recall 1-eps with the certified
    * per-pair miss bound ≤ 1e-6, and a missed candidate pair WOULD change
    * the verified pair set and its connected components. Exact equality
    * is a property of the fallback, not of the chooser in general. */
  val oracle: Map[String, String] =
    oracleBase + ("q_dedup_semantic_auto" -> oracleBase("q_dedup_semantic"))
}
