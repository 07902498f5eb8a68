package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Dataset splitting and sampling for training-data preparation — the
  * step between corpus cleaning and tokenization: carve train/val/test
  * and draw per-stratum quotas.
  *
  * Determinism is the whole point: assignment must be a pure function of
  * the ROW (not of partitioning, sample order, or RNG state), so a rerun,
  * a backfill, or a different cluster layout yields the identical split —
  * `rand()`-based sampling violates all of that. Rows hash to buckets via
  * md5 of their id, which both engines compute identically (the oracle
  * shares the formula), and every operation is a plain scan + filter, no
  * shuffle at all for the split; the stratified quota is one bounded
  * window per stratum.
  */
object Sampling {
  type Q = (SparkSession, String) => DataFrame

  private def docs(s: SparkSession, dir: String) = Tables.load(s, dir, "documents")

  /** First hex nibble of md5(doc_id): 16 stable buckets. */
  private val bucket = substring(md5(col("doc_id").cast("string")), 1, 1)

  /** DSIR's hashed-n-gram stream: unigrams + bigrams of the lowercased
    * whitespace tokens, hashed into 4096 buckets via the first 3 md5 hex
    * chars (the cross-engine-stable hash). One (doc_id, bucket) row per
    * gram occurrence. */
  private[graft] def dsirGrams(d: DataFrame): DataFrame = {
    // full-width spread BEFORE the gram explode: a flat-file corpus scan
    // yields row-group-grained splits, so the tokenize/explode/md5 work —
    // ~2× the text bytes and the dominant cost of both the model fit and
    // scoring — would otherwise run on a handful of tasks (the r14 `mix`
    // skew probe measured a 70 s single-task tail at 1000×; the batch
    // docIds lesson). The exchange carries (doc_id, text) once.
    val w = split(lower(col("text")), " ")
    Dedup.spread(d.select(col("doc_id"), col("text")))
      .select(col("doc_id"),
        explode(concat(w, zip_with(
          slice(w, lit(1), size(w) - 1), slice(w, lit(2), size(w) - 1),
          (a, b) => concat(a, lit(" "), b)))).as("gram"))
      .select(col("doc_id"), substring(md5(col("gram")), 1, 3).as("bucket"))
  }

  /** The DSIR model: per hashed bucket, ln p̂_target − ln p̂_source with
    * Laplace smoothing, each ln rounded to 9 dp through PortableLn and
    * carried as DECIMAL(18,9) so per-doc sums are order-independent.
    * ONE partial-aggregatable pass over the gram stream computes both
    * distributions; the result is a ≤4096-row frame. */
  private[graft] def dsirLogRatios(grams: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val B = 4096.0
    val counts = grams.groupBy(col("bucket")).agg(
      sum(when(col("doc_id") < 50, 1L).otherwise(0L)).as("nt"),
      sum(when(col("doc_id") >= 50, 1L).otherwise(0L)).as("ns"))
    val totals = counts.agg(sum(col("nt")).as("tt"), sum(col("ns")).as("ts"))
    val lnP = graft.functions.PortableMath.lnPortable _
    counts.crossJoin(broadcast(totals))
      .select(col("bucket"),
        (round(lnP((col("nt") + 1).cast("double")
            / (col("tt").cast("double") + B)), 9).cast(DecimalType(18, 9))
          - round(lnP((col("ns") + 1).cast("double")
            / (col("ts").cast("double") + B)), 9).cast(DecimalType(18, 9)))
          .as("lr"))
  }

  /** Score a gram stream against a (broadcast) log-ratio model: one row
    * per doc with its gram count and log importance weight. No selection —
    * the streaming twin scores each micro-batch's arrivals with this and
    * leaves ranking/sampling to the downstream consumer. */
  private[graft] def dsirScoreAll(grams: DataFrame, lr: DataFrame): DataFrame =
    grams.join(broadcast(lr), "bucket")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        round(sum(col("lr")).cast("double"), 6).as("dsir_logweight"))

  /** Score a gram stream against a (broadcast) log-ratio model and take
    * the deterministic top-`k` by importance weight. */
  private def dsirScore(grams: DataFrame, lr: DataFrame,
                        k: Int = 100): DataFrame =
    dsirScoreAll(grams, lr)
      .orderBy(col("dsir_logweight").desc, col("doc_id"))
      .limit(k)

  /** The in-plan DSIR model over a corpus directory — the rebuild side
    * of the store==rebuild law in `SplitSpec`. */
  private[graft] def dsirModelOf(s: SparkSession, dir: String): DataFrame =
    dsirLogRatios(dsirGrams(docs(s, dir)))

  /** Persist the DSIR model once at fit time (r13 verdict #3 — the
    * mixture-axis ingest factoring): the ≤4096-row log-ratio table goes
    * to parquet, so recrawl scoring passes load it instead of rescanning
    * the corpus-sized gram stream of the already-fitted pool. */
  def writeDsirModel(s: SparkSession, dir: String, outPath: String): Unit =
    dsirModelOf(s, dir).coalesce(1)
      .write.mode("overwrite").parquet(outPath)

  /** Read back the model [[writeDsirModel]] persisted (≤4096 rows —
    * broadcast at every use site). */
  def readDsirModel(s: SparkSession, path: String): DataFrame =
    s.read.parquet(path)

  val queries: Map[String, Q] = Map(
    // 12/2/2 train/val/test split on hash buckets — scan-only, no shuffle;
    // a row's split never changes as the corpus grows
    "q_sample_split" -> ((s, dir) => {
      docs(s, dir)
        .withColumn("split",
          when(bucket <= "b", "train").when(bucket <= "d", "val").otherwise("test"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("long").as("total_chars"))
        .orderBy(col("split"))
    }),

    // per-language quota: the 5 hash-first docs per lang — deterministic
    // stratified downsampling (balances a lang-skewed corpus). r12: the
    // rank used to come from row_number over Window.partitionBy(lang) —
    // but a lang partition is corpus/|langs| (and the hottest lang of a
    // real crawl is ~half the corpus), so ONE WindowExec task ranked it,
    // buffering/spilling the whole stratum to elect 5 rows. Same fix as
    // the domain cap: bounded per-lang TopKPerKey heaps (partial-
    // aggregatable, O(k) state per task), then the presentation rank as
    // a window over the ≤5-row survivor partitions only.
    "q_sample_stratified" -> ((s, dir) => {
      val kept = graft.plans.TopK.perKey(
        docs(s, dir).select(col("lang"), col("doc_id"),
          md5(col("doc_id").cast("string")).as("h")),
        Seq("lang"), Seq("h" -> false, "doc_id" -> false), 5)
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("h"), col("doc_id"))
      kept
        .withColumn("rn", row_number().over(w).cast("long"))
        .select(col("lang"), col("doc_id"), col("rn"))
        .orderBy(col("lang"), col("rn"))
    }),

    // weighted sampling WITHOUT replacement (Efraimidis–Spirakis A-ES):
    // each row draws key = -ln(u)/w from a uniform u and weight w
    // (n_chars — longer docs carry more training tokens, so sample
    // char-mass, not doc-count); the global k smallest keys are exactly a
    // weighted sample without replacement. Determinism again: u derives
    // from md5(doc_id) (4 hex nibbles → 16-bit uniform, midpoint-offset
    // to dodge ln(0)), ln goes through PortableLn (cross-engine-exact),
    // and ties break on doc_id — so the oracle replays the identical
    // draw. Scale shape: scan-stage key computation + TakeOrdered top-k;
    // no shuffle, no global sort, no RNG state.
    "q_sample_weighted" -> ((s, dir) => {
      val v = conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("long")
      docs(s, dir)
        .withColumn("u", (v.cast("double") + 0.5d) / 65536.0d)
        .withColumn("es_key",
          (-graft.functions.PortableMath.lnPortable(col("u"))) / col("n_chars"))
        .select(col("doc_id"), col("lang"), col("n_chars"), col("es_key"))
        .orderBy(col("es_key"), col("doc_id"))
        .limit(20)
    }),

    // curriculum bucketing: decile assignment by a difficulty proxy
    // (n_chars) WITHOUT a global ntile — the window version is a one-task
    // global sort at 100 TB. Instead: 9 decile fences from ONE bounded
    // GK-sketch aggregate (percentile_approx — mergeable, memory-bounded,
    // and EXACT in the gate-scale uncompressed regime; discrete-element
    // convention == DuckDB quantile_disc, the q_quantile_approx
    // precedent), broadcast onto the scan, bucket = 1 + #fences strictly
    // below the value. Equal values always land in the same bucket
    // (unlike ntile, which splits ties by row position —
    // nondeterministic under partitioning).
    "q_curriculum_buckets" -> ((s, dir) => {
      val f = docs(s, dir).agg(expr(
        """transform(percentile_approx(n_chars,
          |  array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9), 50000),
          |  x -> CAST(x AS DOUBLE))""".stripMargin)
        .as("fences"))
      docs(s, dir).crossJoin(f)
        .withColumn("bucket", (lit(1) +
          size(expr("filter(fences, f -> f < CAST(n_chars AS DOUBLE))"))).cast("long"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"))
        .orderBy(col("bucket"))
    }),

    // α-power source-mixture weights (α = 0.5, the multilingual-sampling
    // rebalancing family: w_s ∝ c_s^α upweights small sources relative to
    // proportional sampling) plus the per-source token allocation for a
    // fixed 1M-token epoch budget. Shape: one two-level aggregate to
    // per-source counts (|sources| rows), the normalizer broadcast back
    // as a 1-row frame — no window, no second scan. Cross-engine
    // exactness: per-source sqrt rounds to 9 dp and sums as decimal
    // (order-independent), the weight division rounds to 6, the
    // allocation floors — all integer/decimal-exact in both engines.
    "q_mix_weights" -> ((s, dir) => {
      import org.apache.spark.sql.types.DecimalType
      val perSrc = docs(s, dir)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(split(col("text"), " "))).cast("long").as("n_tokens"))
        .withColumn("pw", round(sqrt(col("n_tokens")), 9).cast(DecimalType(28, 9)))
      val total = perSrc.agg(sum(col("pw")).as("tw"))
      perSrc.crossJoin(broadcast(total))
        .withColumn("weight",
          round(col("pw").cast("double") / col("tw").cast("double"), 6))
        .select(col("source"), col("n_docs"), col("n_tokens"), col("weight"),
          floor(col("weight") * 1000000).cast("long").as("budget_tokens"))
        .orderBy(col("source"))
    }),

    // temperature-scaled LANGUAGE-mixture weights — the multilingual
    // sampling recipe (mC4/XLM-R family): w_l ∝ p_l^α with α < 1
    // upweights low-resource languages relative to proportional
    // sampling; the boost column shows the rebalancing factor
    // w_l / p_l each language receives. α = 0.25 ON PURPOSE: x^0.25 =
    // sqrt(sqrt(x)) is two exactly-rounded IEEE operations, so Spark and
    // DuckDB agree bit-for-bit — a libm pow(x, 0.3) does NOT carry that
    // guarantee cross-engine (the q_mix_weights α = 0.5 = one sqrt is
    // the same trick; α is a corpus-tuning knob in production anyway).
    // Shape mirrors q_mix_weights: one partial-aggregatable two-level
    // agg to |langs| rows, 1-row normalizer broadcast back, no window.
    "q_mix_temperature" -> ((s, dir) => {
      import org.apache.spark.sql.types.DecimalType
      val perLang = docs(s, dir)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(split(col("text"), " "))).cast("long").as("n_tokens"))
        .withColumn("pw",
          round(sqrt(sqrt(col("n_tokens"))), 9).cast(DecimalType(28, 9)))
      val total = perLang.agg(sum(col("pw")).as("tw"),
        sum(col("n_tokens")).as("tt"))
      perLang.crossJoin(broadcast(total))
        .withColumn("weight",
          round(col("pw").cast("double") / col("tw").cast("double"), 6))
        .withColumn("boost", round(col("weight") * col("tt").cast("double")
          / col("n_tokens").cast("double"), 4))
        .select(col("lang"), col("n_docs"), col("n_tokens"), col("weight"),
          col("boost"),
          floor(col("weight") * 1000000).cast("long").as("budget_tokens"))
        .orderBy(col("lang"))
    }),

    // DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
    // arXiv:2302.03169), the hashed-n-gram recipe: featurize every doc
    // as unigram+bigram occurrences hashed into B=4096 buckets (first 3
    // md5 hex chars — the cross-engine-stable hash), fit Laplace-
    // smoothed bucket distributions over the TARGET domain (the eval
    // sample, doc_id < 50) and the raw SOURCE pool (the rest), score
    // each source doc by its log importance weight
    // Σ_g [ln p̂_target(b(g)) − ln p̂_source(b(g))], and select the top-K.
    // (The paper resamples with Gumbel noise; the deterministic top-K-
    // by-weight variant is the oracle-able twin, and the ranking is the
    // recipe's substance.) Exactness: each per-bucket ln is rounded to
    // 9 dp through PortableLn (libm parity) and carried as
    // DECIMAL(18,9), so the per-doc sum is order-independent; final
    // round to 6 dp — the q_lm_score discipline. 100 TB shape: the
    // bucket tables are ≤B rows (one partial-aggregatable pass over the
    // gram stream computes BOTH sides), the log-ratio frame broadcasts,
    // per-doc scoring is explode → broadcast join → map-side-combined
    // sum by doc_id, and the selection is a TakeOrdered — the gram
    // stream is the only corpus-sized flow and it never joins itself.
    "q_mix_dsir" -> ((s, dir) =>
      dsirScore(dsirGrams(docs(s, dir)).filter(col("doc_id") >= 50),
        dsirLogRatios(dsirGrams(docs(s, dir))))),

    // the incremental twin (r13 verdict #3 — completes the pattern: the
    // mixture axis was the only batch-only family): the ≤4096-row
    // target/source log-ratio table is PERSISTED once at fit time
    // ([[writeDsirModel]]), and a recrawl scores only the ARRIVING
    // documents (doc_id % 10 == 0, the registry's arrival convention)
    // against the broadcast persisted model — the corpus-sized gram
    // stream of the already-scored pool is never rescanned. Store ==
    // rebuild is pinned in SplitSpec; the oracle is the q_mix_dsir chain
    // with scoring restricted to the arrival slice.
    "q_mix_dsir_incremental" -> ((s, dir) => {
      val p = graft.Scratch.tempDir("graft_dsir_")
      writeDsirModel(s, dir, p)
      dsirScore(
        dsirGrams(docs(s, dir)
          .filter(col("doc_id") >= 50 && col("doc_id") % 10 === 0)),
        readDsirModel(s, p))
    }),

    // temporal embargo split — the time-series leakage guard: train on
    // the past, evaluate on the future, and DISCARD an embargo window
    // between them so near-boundary correlations (a user's session
    // straddling the cutoff) can't leak. Cutoffs anchor to max(ts) −
    // {5,7} days, so the split is a pure function of the corpus, rerun-
    // stable, and needs no config. Shape: one 1-row max aggregate
    // broadcast back onto the scan, then a 3-group partial agg — the
    // labeling itself never shuffles, so the same plan labels 100 TB of
    // events with one exchange of 3 rows per partition. Output is the
    // per-split boundary audit (count, distinct, min/max ts) a pipeline
    // logs to prove the gap exists.
    "q_time_split" -> ((s, dir) => {
      val e = Tables.load(s, dir, "events").select(col("event_id"), col("ts"))
      val mx = e.agg(max(col("ts")).as("mx"))
      e.crossJoin(broadcast(mx))
        .withColumn("split",
          when(col("ts") > col("mx") - expr("INTERVAL 5 DAYS"), "test")
            .when(col("ts") > col("mx") - expr("INTERVAL 7 DAYS"), "embargo")
            .otherwise("train"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("event_id")).as("n_distinct"),
          min(col("ts")).as("min_ts"), max(col("ts")).as("max_ts"))
        .orderBy(col("split"))
    }),
  )

  /** The DSIR oracle: hashed unigram+bigram buckets, target (doc_id < 50)
    * and source counts, the smoothed per-bucket log-ratio, and the summed
    * log-weight of each doc matching `where`, ordered by `orderBy`. Shared
    * by q_mix_dsir, its incremental form and its streaming twin. */
  private[graft] def dsirOracleSql(where: String, orderBy: String): String =
    s"""WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS w
       |           FROM documents),
       |g AS (SELECT doc_id,
       |        substr(md5(unnest(list_concat(w,
       |          [w[i] || ' ' || w[i+1] for i in range(1, len(w))]))), 1, 3)
       |          AS bucket
       |      FROM t),
       |c AS (SELECT bucket,
       |        SUM(CASE WHEN doc_id < 50 THEN 1 ELSE 0 END) AS nt,
       |        SUM(CASE WHEN doc_id >= 50 THEN 1 ELSE 0 END) AS ns
       |      FROM g GROUP BY bucket),
       |tot AS (SELECT SUM(nt) AS tt, SUM(ns) AS ts FROM c),
       |lr AS (SELECT bucket,
       |         CAST(round(ln((nt + 1) / (CAST(tt AS DOUBLE) + 4096.0)), 9)
       |              AS DECIMAL(18,9))
       |       - CAST(round(ln((ns + 1) / (CAST(ts AS DOUBLE) + 4096.0)), 9)
       |              AS DECIMAL(18,9)) AS lr
       |       FROM c CROSS JOIN tot)
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
       |  round(CAST(SUM(lr) AS DOUBLE), 6) AS dsir_logweight
       |FROM g JOIN lr USING (bucket)
       |WHERE $where
       |GROUP BY doc_id
       |ORDER BY $orderBy""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_time_split" ->
      """WITH m AS (SELECT max(CAST(ts AS TIMESTAMP)) AS mx FROM events),
        |lab AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS t,
        |         CASE WHEN CAST(ts AS TIMESTAMP) > mx - INTERVAL 5 DAY THEN 'test'
        |              WHEN CAST(ts AS TIMESTAMP) > mx - INTERVAL 7 DAY THEN 'embargo'
        |              ELSE 'train' END AS split
        |        FROM events CROSS JOIN m)
        |SELECT split, CAST(COUNT(*) AS BIGINT) AS n_events,
        |       CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_distinct,
        |       min(t) AS min_ts, max(t) AS max_ts
        |FROM lab GROUP BY split ORDER BY split""".stripMargin,
    "q_mix_weights" ->
      """WITH s AS (SELECT source, COUNT(*) AS n_docs,
        |             CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |           FROM documents GROUP BY source),
        |p AS (SELECT *, CAST(round(sqrt(n_tokens), 9) AS DECIMAL(28,9)) AS pw
        |      FROM s),
        |t AS (SELECT SUM(pw) AS tw FROM p)
        |SELECT source, n_docs, n_tokens,
        |  round(CAST(pw AS DOUBLE) / CAST(tw AS DOUBLE), 6) AS weight,
        |  CAST(floor(round(CAST(pw AS DOUBLE) / CAST(tw AS DOUBLE), 6)
        |             * 1000000) AS BIGINT) AS budget_tokens
        |FROM p CROSS JOIN t ORDER BY source""".stripMargin,
    "q_mix_temperature" ->
      """WITH s AS (SELECT lang, COUNT(*) AS n_docs,
        |             CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |           FROM documents GROUP BY lang),
        |p AS (SELECT *, CAST(round(sqrt(sqrt(n_tokens)), 9) AS DECIMAL(28,9)) AS pw
        |      FROM s),
        |t AS (SELECT SUM(pw) AS tw, SUM(n_tokens) AS tt FROM p)
        |SELECT lang, n_docs, n_tokens,
        |  round(CAST(pw AS DOUBLE) / CAST(tw AS DOUBLE), 6) AS weight,
        |  round(round(CAST(pw AS DOUBLE) / CAST(tw AS DOUBLE), 6)
        |        * CAST(tt AS DOUBLE) / CAST(n_tokens AS DOUBLE), 4) AS boost,
        |  CAST(floor(round(CAST(pw AS DOUBLE) / CAST(tw AS DOUBLE), 6)
        |             * 1000000) AS BIGINT) AS budget_tokens
        |FROM p CROSS JOIN t ORDER BY lang""".stripMargin,
    "q_mix_dsir" ->
      dsirOracleSql("doc_id >= 50", "dsir_logweight DESC, doc_id LIMIT 100"),
    // same model chain, scoring restricted to the arrival slice — the
    // persisted-model recrawl pass in closed form
    "q_mix_dsir_incremental" ->
      dsirOracleSql("doc_id >= 50 AND doc_id % 10 = 0",
        "dsir_logweight DESC, doc_id LIMIT 100"),
    "q_sample_split" ->
      """SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'b' THEN 'train'
        |            WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'd' THEN 'val'
        |            ELSE 'test' END AS split,
        |       COUNT(*) AS n_docs,
        |       CAST(SUM(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_sample_stratified" ->
      """SELECT lang, doc_id, rn FROM (
        |  SELECT lang, doc_id,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 5 ORDER BY lang, rn""".stripMargin,
    "q_sample_weighted" ->
      """WITH k AS (
        |  SELECT doc_id, lang, n_chars,
        |    (CAST((instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 4096
        |        + (instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 256
        |        + (instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 3, 1)) - 1) * 16
        |        + (instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 4, 1)) - 1) AS DOUBLE)
        |     + 0.5) / 65536.0 AS u
        |  FROM documents)
        |SELECT doc_id, lang, n_chars, -ln(u) / n_chars AS es_key
        |FROM k ORDER BY es_key, doc_id LIMIT 20""".stripMargin,
    "q_curriculum_buckets" ->
      """WITH f AS (
        |  SELECT list_transform(quantile_disc(n_chars,
        |    [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]), x -> CAST(x AS DOUBLE)) AS fences
        |  FROM documents),
        |b AS (SELECT doc_id, n_chars,
        |        1 + len(list_filter(fences, f -> f < CAST(n_chars AS DOUBLE)))
        |          AS bucket
        |      FROM documents, f)
        |SELECT CAST(bucket AS BIGINT) AS bucket, COUNT(*) AS n_docs,
        |  MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin,
  )
}
