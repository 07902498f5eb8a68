package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Exact similarity-join operators — the non-approximate scale paths for
  * near-duplicate detection. Where MinHash/SimHash (Dedup.scala) trade
  * recall for speed, these return EXACTLY the pairs the quadratic
  * baselines return, using classic filter-verification joins:
  *
  *  - Prefix filtering (AllPairs/PPJoin family; Bayardo et al., WWW'07):
  *    order each record's token set by ascending global frequency; two
  *    sets with Jaccard ≥ t must share a token in their (1−t)-fraction
  *    prefixes — index only prefixes, verify candidates exactly.
  *  - Partition-based edit-distance join (PassJoin; Li et al., SIGMOD'11):
  *    split each string into k+1 segments; ed ≤ k ⟹ some segment of one
  *    string appears verbatim in the other within a ±k position window —
  *    inverted-index join on (segment idx, content), verify with the real
  *    levenshtein.
  *  - Sorted-neighborhood blocking (Hernández & Stolfo, SIGMOD'95): sort by
  *    a cheap blocking key, compare each record only to its w successors —
  *    the entity-resolution workhorse when a domain sort key clusters
  *    matches.
  *
  * Scale design: every operator is explode → one hash exchange on the
  * index key → bounded in-bucket pair expansion → verification join.
  * No self-join of raw records, no cartesian anywhere; candidate volume is
  * governed by prefix rarity (rarest-first ordering), segment selectivity,
  * and window width respectively. The reference (431-line Python ETL,
  * the `dags/spark_jobs` scripts) has no similarity machinery at all — these are
  * the §7.2 training-data-pipeline extensions.
  */
object SimilarityJoins {
  type Q = (SparkSession, String) => DataFrame

  private def docs(s: SparkSession, dir: String) = Tables.load(s, dir, "documents")

  private def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b)).cast("double")

  /** Distinct character 5-gram set of `text` — the `q_dedup_ngram`
    * (Dedup.scala) element universe, used by the blocking scorer. */
  private val gram5: Column = array_distinct(expr(
    "transform(sequence(0, length(text)-5), i -> substr(text, i+1, 5))"))

  /** Distinct word-3-shingle set of `text` — the SAME element universe as
    * MinHash-LSH dedup (`Sketches.jaccardShingles(_, _, 3)`), so the
    * prefix join below is the exact filter-verification counterpart of
    * `q_dedup_minhash_lsh`: identical pair set, no probabilistic recall. */
  private val shingle3: Column = array_distinct(expr(
    """transform(sequence(0, size(w)-3),
      |  i -> concat(w[i], ' ', w[i+1], ' ', w[i+2]))""".stripMargin))

  /** Exact Jaccard-≥-t pairs via prefix filtering. For a set of n tokens
    * in canonical (rarest-first) order, any partner with J ≥ t shares at
    * least ⌈t·n⌉ tokens, so at least one lands in the first
    * n − ⌈t·n⌉ + 1 — and the globally smallest shared token lands in BOTH
    * prefixes, so indexing prefixes alone finds every qualifying pair.
    *
    * Plan shape: token-frequency aggregate (one exchange on token), per-doc
    * re-sort inside a hash aggregate (collect_list + array_sort — never a
    * window), prefix explode → [[Dedup.bucketPairs]]-style grouped pair
    * expansion (one exchange on the prefix token), then a two-sided
    * verification join computing the exact Jaccard. The rarest-first
    * ordering is what bounds bucket sizes: a token shared by b docs'
    * prefixes costs C(b,2) candidates, and frequent tokens are exactly the
    * ones the prefix excludes. Hot buckets still cap at
    * [[Dedup.bucketCap]] (boilerplate shared by an adversarial fraction of
    * the corpus) with drops observable via `graft.bucket_cap`.
    *
    * Element choice matters: word-3-shingles keep the index selective —
    * a shared 3-word sequence is already strong evidence. Char-5-grams on
    * a small vocabulary (this corpus) have near-flat document frequency,
    * every prefix stays hot, and the candidate set degenerates toward the
    * quadratic baseline (measured 75 s vs 1.4 s at sf0.1).
    *
    * Exact-duplicate collapse (the q_dedup_embedding_lsh discipline):
    * docs with IDENTICAL shingle sets first collapse to one
    * representative (groupBy the set itself — no hashing, no collision
    * caveat), the filter-verification join runs over unique sets only,
    * and the pair set re-expands afterwards: within-cluster pairs are
    * exact dups (Jaccard 1.0 by definition), cross-cluster member pairs
    * inherit their representatives' score (identical inputs ⇒ identical
    * score). Without this, a corpus of b-member duplicate clusters pays
    * C(b,2) WASTED in-bucket candidates per shared prefix token — the
    * 100× probe filled the spill disk exactly this way. */
  def prefixJoinPairs(d: DataFrame, t: Double): DataFrame = {
    val allToks = d.select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"), shingle3.as("g"))
    val clusters = allToks.groupBy(col("g"))
      .agg(sort_array(collect_list(col("doc_id"))).as("members"))
      .localCheckpoint() // feeds reps + intra + two cross expansions once
    val toks = clusters.select(col("members")(0).as("doc_id"), col("g"))
    val ex = toks.select(col("doc_id"), explode(col("g")).as("token"))
    val dfreq = ex.groupBy(col("token")).agg(count(lit(1)).as("df"))
    // tokens back into one array, rarest first (df, then token for
    // determinism); prefix length n − ⌈t·n⌉ + 1
    val sorted = ex.join(dfreq, "token")
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_list(struct(col("df"), col("token")))).as("st"))
      .select(col("doc_id"),
        expr("transform(st, x -> x.token)").as("w"))
    val pref = sorted.select(col("doc_id"),
      explode(slice(col("w"), lit(1),
        size(col("w")) - ceil(lit(t) * size(col("w"))).cast("int") + 1))
        .as("token"))
    // spread=true (r15): 122k candidates each re-shingle two texts in the
    // broadcast-joined verification below — AQE coalesced the candidate
    // distinct's 2.9 MB read side to one partition and the whole
    // verification ran single-core (a 5.1 s max task ≈ 55% of this
    // query's wall; 8.0 → 3.1 s with the spread)
    val cand = Dedup.bucketPairs(pref, Seq("token"), spread = true)
    val g = toks
    val repPairs = cand
      .join(g.select(col("doc_id").as("doc_a"), col("g").as("g_a")), "doc_a")
      .join(g.select(col("doc_id").as("doc_b"), col("g").as("g_b")), "doc_b")
      .withColumn("jaccard", jaccard(col("g_a"), col("g_b")))
      .filter(col("jaccard") >= t)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
    Dedup.expandClassPairs(repPairs, classReps(clusters),
      clusters.filter(size(col("members")) >= 2)
        .select(col("members"), lit(1.0).as("jaccard")))
  }

  /** [[Dedup.expandClassPairs]]' `members` frame of a (…, members)
    * cluster frame: each class's first (smallest) member is its rep. */
  private def classReps(clusters: DataFrame): DataFrame =
    clusters.select(col("members")(0).as("rep"), col("members"))

  /** Exact edit-distance-≤-k pairs over the first `plen` chars (PassJoin).
    * Each doc indexes its k+1 segments and probes every same-length
    * substring within ±k of each segment start: if ed(a,b) ≤ k, some
    * segment survives every edit unshifted beyond the net indel budget
    * ±k, so the (segment idx, content) inverted index finds the pair.
    * Candidates verify with the real `levenshtein` — output is exact.
    *
    * One exchange on (idx, content); per-bucket expansion pairs index rows
    * with probe rows through a packed-long product (primitive loop via
    * SQL transform/flatten, distinct on 8-byte longs). Exact duplicates
    * of the compared prefix collapse to one representative first and
    * re-expand after ([[Dedup.expandClassPairs]]), so duplicate-heavy
    * corpora pay the index join once per distinct string, and the final
    * explode is output-bound (measured 80.8 s → output-bound seconds at
    * the 100× probe's planted 100-member clusters). */
  def editDistancePairs(d: DataFrame, plen: Int, k: Int): DataFrame = {
    val nSeg = k + 1
    val segLen = plen / nSeg // plen must divide evenly; asserted by callers
    require(plen % nSeg == 0, s"plen=$plen must be a multiple of k+1=$nSeg")
    // same exact-duplicate collapse as the prefix join, keyed by the
    // compared prefix itself: identical strings join once, members
    // re-expand afterwards (ed(a,b)=0 within a cluster, inherited across)
    val clusters = d.filter(length(col("text")) >= plen)
      .select(col("doc_id"), substring(lower(col("text")), 1, plen).as("s"))
      .groupBy(col("s"))
      .agg(sort_array(collect_list(col("doc_id"))).as("members"))
      .localCheckpoint()
    val s = clusters.select(col("members")(0).as("doc_id"), col("s"))
    // segment rows (role 0) at fixed starts 1, 1+segLen, …; probe rows
    // (role 1) at every start within ±k of a segment start, deduped
    val segStarts = (0 until nSeg).map(i => 1 + i * segLen)
    val segRows = segStarts.zipWithIndex.map { case (p, i) =>
      struct(lit(i).as("i"), lit(0).as("role"),
        substring(col("s"), p, segLen).as("sub"))
    }
    val probeRows = segStarts.zipWithIndex.flatMap { case (p, i) =>
      ((p - k) to (p + k)).filter(q => q >= 1 && q + segLen - 1 <= plen).map(q =>
        struct(lit(i).as("i"), lit(1).as("role"),
          substring(col("s"), q, segLen).as("sub")))
    }
    val keys = s.select(col("doc_id"),
        explode(array_distinct(array(segRows ++ probeRows: _*))).as("x"))
      .select(col("doc_id"), col("x.i").as("i"), col("x.role").as("role"),
        col("x.sub").as("sub"))
    // one exchange on the index key; in-bucket index×probe product as
    // (a, b) structs with the smaller id first, so distinct collapses
    // (a,b) found via several segments AND both directions of the
    // asymmetric index (packed-long `a * 2^32 + b` would overflow —
    // loudly, under ANSI — once ids reach 2^32)
    val cand = keys
      .groupBy(col("i"), col("sub"))
      .agg(collect_list(when(col("role") === 0, col("doc_id"))).as("ixs"),
        collect_list(when(col("role") === 1, col("doc_id"))).as("pxs"))
      .filter(size(col("ixs")) >= 1 && size(col("pxs")) >= 1)
      .select(explode(expr(
        """flatten(transform(ixs, a -> filter(
          |  transform(pxs, b -> case when a < b then named_struct('a', a, 'b', b)
          |                           when b < a then named_struct('a', b, 'b', a)
          |                           end),
          |  p -> p is not null)))""".stripMargin)).as("pk"))
      .select(col("pk.a").as("doc_a"), col("pk.b").as("doc_b"))
      .distinct()
    val repPairs = cand
      .join(s.select(col("doc_id").as("doc_a"), col("s").as("s_a")), "doc_a")
      .join(s.select(col("doc_id").as("doc_b"), col("s").as("s_b")), "doc_b")
      .withColumn("edist", levenshtein(col("s_a"), col("s_b")).cast("long"))
      .filter(col("edist") <= k)
      .select(col("doc_a"), col("doc_b"), col("edist"))
    Dedup.expandClassPairs(repPairs, classReps(clusters),
      clusters.filter(size(col("members")) >= 2)
        .select(col("members"), lit(0L).as("edist")))
  }

  /** Sorted-neighborhood candidate pairs: within each `lang`, sort by
    * (n_chars, doc_id) and pair every doc with its `w` successors, scoring
    * each candidate with the exact 5-gram Jaccard. The lead-chain frame is
    * bounded (state is w rows), so memory is safe at any stratum size;
    * candidate volume is exactly w·n. The blocking key (length within
    * language) is the classic cheap proxy: near-dups have near-equal
    * lengths, so they sort adjacent.
    *
    * Honest scale note: `partitionBy(lang)` serializes each language's
    * SCAN onto one task (WindowExec spills, so it is time, not memory) —
    * inherent to the algorithm, whose whole premise is a total order per
    * block. The scale path for a mega-stratum is a finer composite block
    * key (lang, n_chars bucket) at the documented cost of losing the ≤w
    * neighbor pairs that straddle bucket boundaries; this operator keeps
    * the exact classic semantics because its oracle does. */
  def sortedNeighborhoodPairs(d: DataFrame, w: Int): DataFrame = {
    val win = Window.partitionBy(col("lang")).orderBy(col("n_chars"), col("doc_id"))
    val leads = (1 to w).map(j => lead(col("doc_id"), j).over(win))
    val paired = d.select(col("doc_id"), col("lang"), col("n_chars"), gram5.as("g"))
      .withColumn("nbrs", array(leads: _*))
      .select(col("doc_id").as("doc_a"), col("g").as("g_a"),
        explode(expr("filter(nbrs, x -> x is not null)")).as("doc_b"))
    paired
      .join(d.select(col("doc_id").as("doc_b"), gram5.as("g_b")), "doc_b")
      .withColumn("jaccard5", round(jaccard(col("g_a"), col("g_b")), 6))
      .select(col("doc_a"), col("doc_b"), col("jaccard5"))
  }

  /** Exact weighted-cosine-≥-t pairs over unit-normalized tf-idf vectors —
    * the WEIGHTED member of the AllPairs family (Bayardo et al., WWW'07:
    * cosine is that paper's native measure; [[prefixJoinPairs]] is its
    * set/Jaccard specialization). The prefix bound is norm-based instead
    * of count-based: with each vector's terms in canonical rarest-first
    * order, any partner matching only the suffix beyond prefix mass
    * Σw² > 1 − t² has cos ≤ ‖suffix‖ < t, and the canonically-smallest
    * SHARED term of a qualifying pair must therefore sit in BOTH prefixes
    * — so indexing prefixes alone finds every qualifying pair. Rarest-
    * first ordering doubles as the shortest-prefix choice: tf-idf mass
    * concentrates in rare terms, so prefixes are few tokens AND their
    * index buckets are small.
    *
    * Exactness discipline (hash-green vs the quadratic oracle): raw
    * weight = tf · lnPortable(N/df) (deterministic product, the q_tfidf
    * formula); the norm and every dot product are order-independent
    * decimal sums of 9-dp-rounded terms; final cosine rounds to 6 dp.
    * Exact-duplicate collapse keys on the (token, tf) multiset itself —
    * identical multisets ⇒ identical vectors ⇒ identical scores — so
    * dup-heavy corpora pay the index and verification once per distinct
    * vector ([[prefixJoinPairs]]'s replication-invariance discipline);
    * within-cluster pairs score the representative's self-cosine through
    * the SAME rounded pipeline (not a 1.0 literal — the rounded sum of a
    * unit vector's squared weights may land at 0.999999/1.000001 and the
    * oracle computes it, not assumes it). */
  def cosinePrefixPairs(d: DataFrame, t: Double): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val lnP = graft.functions.PortableMath.lnPortable _
    def dec9(c: Column): Column = round(c, 9).cast(DecimalType(28, 9))
    // ONE full-corpus pass total: the (doc,token,tf) aggregate feeds only
    // the dup collapse. Corpus-wide model stats (df, N — duplicates
    // counted, exactly like the quadratic oracle) are then QUOTIENT-
    // derived from the checkpointed clusters: df(token) = Σ cluster sizes
    // containing it, N = Σ cluster sizes. Without this the tf→df→raw→
    // norm→weight chain re-ran the corpus explode once per consumer.
    //
    // Element choice (the prefixJoinPairs lesson, re-measured for the
    // weighted case): vector terms are word-3-shingles WITH multiplicity,
    // not unigrams. On this low-entropy corpus the unigram vocabulary is
    // so small and flat that every document's "rarest" terms are the same
    // ~23 tokens — the prefix index degenerates (max bucket 3,628, 32.8M
    // candidates ≈ the quadratic baseline, 8 buckets over the hot-bucket
    // cap ⇒ silent recall loss at scale). Word bigrams: 5.1M candidates.
    // Trigrams: 90k candidates, max bucket 8, and a clean similarity gap
    // (every pair either ≥0.9 or <0.5 at sf0.01) — the same element
    // universe as the Jaccard twin above, now weighted.
    val clusters = d.select(col("doc_id"), split(lower(col("text")), " ").as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(0, size(w)-3),
          |  i -> concat(w[i], ' ', w[i+1], ' ', w[i+2]))""".stripMargin))
        .as("token"))
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("token"), col("tf")))).as("v"))
      .groupBy(col("v"))
      .agg(sort_array(collect_list(col("doc_id"))).as("members"))
      .localCheckpoint() // feeds stats, weights, intra pairs, expansions
    val reps = clusters
      .select(col("members")(0).as("doc_id"),
        size(col("members")).cast("long").as("csz"), explode(col("v")).as("x"))
      .select(col("doc_id"), col("csz"),
        col("x.token").as("token"), col("x.tf").as("tf"))
    val dfreq = reps.groupBy(col("token")).agg(sum(col("csz")).as("df"))
    val nd = clusters.agg(sum(size(col("members"))).cast("long").as("n_docs"))
    // raw weights are REP-level (post-collapse) — a bounded frame worth
    // materializing: three consumers below (norm, prefix, vector map)
    // each re-derive from it with one cheap join instead of re-running
    // the corpus chain
    val raw = reps.join(dfreq, "token").crossJoin(broadcast(nd))
      .withColumn("raw", col("tf").cast("double") *
        lnP(col("n_docs").cast("double") / col("df")))
      .select(col("doc_id"), col("df"), col("token"), col("tf"), col("raw"))
    val nrm = raw.groupBy(col("doc_id"))
      .agg(sqrt(sum(dec9(col("raw") * col("raw"))).cast("double")).as("nr"))
    // nr = 0 ⟺ every term appears in every doc (idf 0 across the board):
    // cosine is undefined there, in both engines — excluded
    val u = raw.join(nrm.filter(col("nr") > 0), "doc_id")
      .withColumn("wt", col("raw") / col("nr"))
      .select(col("doc_id"), col("df"), col("token"), col("wt"))
    // canonical rarest-first vector; prefix = terms until cumulative
    // squared mass exceeds 1 − t² (+ float-safety margin and one extra
    // term, so the suffix norm is STRICTLY below t)
    val bound = 1.0 - t * t
    val pref = u.groupBy(col("doc_id"))
      .agg(array_sort(collect_list(struct(col("df"), col("token"), col("wt"))))
        .as("st"))
      .withColumn("plen", least(size(col("st")), expr(
        s"""aggregate(st, named_struct('cum', CAST(0.0 AS DOUBLE), 'cnt', 0),
           |  (acc, x) -> IF(acc.cum < $bound + 1e-9,
           |    named_struct('cum', acc.cum + x.wt * x.wt, 'cnt', acc.cnt + 1),
           |    acc),
           |  acc -> acc.cnt)""".stripMargin) + 1))
      .select(col("doc_id"),
        explode(expr("transform(slice(st, 1, plen), x -> x.token)")).as("token"))
    val cand = Dedup.bucketPairs(pref, Seq("token"))
    // verification vectors keyed by xxhash64(token), not the ~30-byte
    // trigram string: the two candidate joins below shuffle ~2×|cand|
    // full vectors, and 8-byte keys cut that payload ~3.5×. r14: the
    // vector representation moved from a MAP to a KEY-SORTED
    // array<struct<h, w>> and the dots to the codegen'd two-pointer
    // merge [[graft.functions.SparseDotExact]] — Spark's map
    // element_at is a linear scan, so the old aggregate-over-map_keys
    // walk cost O(|a|·|b|) per candidate (measured: the verification
    // stage held 18.4 s of task time with a 4.9 s max task at sf0.1;
    // see plans/r14/q_cosine_pairs_*). Same term multiset, same scale-9
    // decimal discipline, identical output (oracle unchanged). An
    // in-doc hash collision was a loud map_from_entries failure
    // (mapKeyDedupPolicy=EXCEPTION, p ≈ 3e-14 per document) and stays a
    // loud merge failure inside the expression.
    val vec = u.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(
        struct(xxhash64(col("token")).as("h"), col("wt").as("w")))).as("m"))
    def dot(a: String, b: String): Column =
      round(graft.functions.PortableMath.sparseDotExact(col(a), col(b)), 6)
    // plain-double dot for the candidate prefilter: no per-term rounding,
    // no decimal boxing — each rounded term of the exact dot differs from
    // its double term by ≤ 5e-10, vectors hold ≪ 2e4 terms, and double
    // summation error at unit magnitudes is ≪ 1e-10 per term REGARDLESS
    // of summation order, so |exact − approx| < 1e-5: a t − 1e-4 gate
    // provably keeps every qualifying pair while the expensive decimal
    // pipeline runs only on the output-bound survivor set
    def dotFast(a: String, b: String): Column =
      graft.functions.PortableMath.sparseDotFast(col(a), col(b))
    val repPairs = cand
      .join(vec.select(col("doc_id").as("doc_a"), col("m").as("m_a")), "doc_a")
      .join(vec.select(col("doc_id").as("doc_b"), col("m").as("m_b")), "doc_b")
      .filter(dotFast("m_a", "m_b") >= t - 1e-4)
      .withColumn("cosine", dot("m_a", "m_b"))
      .filter(col("cosine") >= t)
      .select(col("doc_a"), col("doc_b"), col("cosine"))
    // expansion with a COMPUTED self-score (see scaladoc): within-cluster
    // pairs take their representative's self-cosine
    val selfCos = vec.select(col("doc_id").as("rep"), dot("m", "m").as("self_cos"))
    Dedup.expandClassPairs(repPairs, classReps(clusters),
      classReps(clusters.filter(size(col("members")) >= 2))
        .join(selfCos, "rep")
        .filter(col("self_cos") >= t)
        .select(col("members"), col("self_cos").as("cosine")))
  }

  val queries: Map[String, Q] = Map(
    // the exact counterpart of q_dedup_minhash_lsh: same word-3-shingle
    // universe and 0.8 threshold, identical pair set (oracle: full-corpus
    // quadratic jaccard), found by prefix filtering instead of MinHash
    "q_dedup_prefix" -> ((s, dir) =>
      prefixJoinPairs(docs(s, dir), 0.8)
        .orderBy(col("doc_a"), col("doc_b"))),
    // t = 0.9, deliberately ABOVE this corpus's structural-similarity
    // floor: at 0.8 some 3.3% of ALL pairs qualify (the synthetic text is
    // low-entropy), so the OUTPUT of any exact join — however generated —
    // is quadratic in corpus size, and the 100× probe dies enumerating
    // ~billions of true pairs. A similarity threshold below the corpus's
    // background similarity is an output-bound enumeration, not a join;
    // 0.9 sits above the floor (22 pairs at sf0.01) and scales.
    "q_cosine_pairs" -> ((s, dir) =>
      Dedup.observePairs(cosinePrefixPairs(docs(s, dir), 0.9),
        "q_cosine_pairs", col("doc_a"), col("doc_b"))),
    "q_editdist_pairs" -> ((s, dir) =>
      Dedup.observePairs(editDistancePairs(docs(s, dir), 30, 2),
        "q_editdist_pairs", col("doc_a"), col("doc_b"))),
    "q_block_sorted" -> ((s, dir) =>
      Dedup.observePairs(sortedNeighborhoodPairs(docs(s, dir), 3),
        "q_block_sorted", col("doc_a"), col("doc_b"))),
  )

  val oracle: Map[String, String] = Map(
    "q_dedup_prefix" ->
      s"""SELECT doc_a, doc_b, jaccard FROM (${Dedup.exactPairsSql})
         |WHERE jaccard >= 0.8 ORDER BY doc_a, doc_b""".stripMargin,
    "q_cosine_pairs" ->
      """WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS w
        |           FROM documents),
        |toks AS (
        |  SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS token
        |  FROM d, unnest(range(1, len(w) - 1)) AS t(i) WHERE len(w) >= 3),
        |tfc AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
        |dfc AS (SELECT token, COUNT(*) AS df FROM tfc GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n_docs FROM d WHERE len(w) >= 3),
        |w AS (SELECT doc_id, token,
        |        tf * ln(CAST(n_docs AS DOUBLE) / df) AS raw
        |      FROM tfc JOIN dfc USING (token), n),
        |nrm AS (SELECT doc_id,
        |          sqrt(CAST(SUM(CAST(round(raw * raw, 9) AS DECIMAL(28,9)))
        |               AS DOUBLE)) AS nr
        |        FROM w GROUP BY 1),
        |u AS (SELECT w.doc_id, token, raw / nr AS wt
        |      FROM w JOIN nrm USING (doc_id) WHERE nr > 0),
        |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |        round(CAST(SUM(CAST(round(a.wt * b.wt, 9) AS DECIMAL(28,9)))
        |              AS DOUBLE), 6) AS cosine
        |      FROM u a JOIN u b ON a.token = b.token AND a.doc_id < b.doc_id
        |      GROUP BY 1, 2)
        |SELECT doc_a, doc_b, cosine FROM p
        |WHERE cosine >= 0.9 ORDER BY doc_a, doc_b""".stripMargin,
    "q_editdist_pairs" ->
      """WITH p AS (
        |  SELECT doc_id, substr(lower(text), 1, 30) AS s
        |  FROM documents WHERE length(text) >= 30)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(levenshtein(a.s, b.s) AS BIGINT) AS edist
        |FROM p a JOIN p b ON a.doc_id < b.doc_id
        |WHERE levenshtein(a.s, b.s) <= 2
        |ORDER BY doc_a, doc_b""".stripMargin,
    "q_block_sorted" ->
      """WITH d AS (
        |  SELECT doc_id, lang, n_chars,
        |    list_distinct([substr(text, i, 5) for i in range(1, length(text)-3)]) AS gg,
        |    row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rn
        |  FROM documents)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  round(CAST(len(list_intersect(a.gg, b.gg)) AS DOUBLE)
        |    / len(list_distinct(list_concat(a.gg, b.gg))), 6) AS jaccard5
        |FROM d a JOIN d b
        |  ON a.lang = b.lang AND b.rn - a.rn BETWEEN 1 AND 3
        |ORDER BY doc_a, doc_b""".stripMargin,
  )
}
