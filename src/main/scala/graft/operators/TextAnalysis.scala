package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Sketches

/** Text-analysis operators for LLM training-data pipelines over the
  * `documents` table (SURVEY.md §7.2 step 7): per-document statistics,
  * token counting (exact whitespace + BPE-style estimate), quality scoring,
  * n-gram language identification, token frequency, and document
  * fingerprinting.
  *
  * Everything is built-in `functions._` column algebra (codegen'd, no UDFs)
  * except the winnowing fingerprint, which is a custom catalyst expression
  * ([[graft.functions.Winnow64]]). All queries are single-scan,
  * shuffle-free (or shuffle only on bounded aggregates) — the shapes that
  * stream through 100 TB of text without a hot spot.
  */
object TextAnalysis {
  type Q = (SparkSession, String) => DataFrame

  private def docs(s: SparkSession, dir: String) = Tables.load(s, dir, "documents")

  /** Whitespace tokens of the raw text (literal single-space split — keep
    * oracle parity with DuckDB's string_split). */
  private def toks(c: Column): Column = split(c, " ")

  private val stop = Seq("the", "a")

  /** Linear quality-classifier model: token → weight in 64ths (dyadic, so
    * every partial sum is exact in double and order-independent). Fluent
    * prose markers score positive, spam/boilerplate markers negative.
    * Single source of truth for BOTH the Spark literal-map column and the
    * generated DuckDB oracle SQL. */
  private[graft] val clfWeights: Seq[(String, Int)] = Seq(
    "the" -> 16, "and" -> 12, "of" -> 12, "to" -> 10,
    "a" -> 8, "in" -> 8, "is" -> 6, "it" -> 4,
    "slow" -> -8, "big" -> -8,
    "http" -> -32, "www" -> -32, "click" -> -24, "!!!" -> -24,
    "free" -> -20, "winner" -> -20, "buy" -> -16, "subscribe" -> -16)
  /** −1/256 — dyadic, and sited inside the corpus's weighted-density
    * distribution (p25 ≈ −0.002 < bias-cut < p75 ≈ +0.009) so the gate
    * genuinely separates classes at every SF. */
  private[graft] val clfBias: Double = -1.0 / 256

  /** Candidate operating points for the quality-gate PR sweep. Dyadic
    * rationals (exact doubles), so `logit > t` is bit-identical across
    * engines with no rounding discipline needed on the threshold side. */
  private[graft] val prThresholds: Seq[Double] =
    Seq(-1.0 / 64, -1.0 / 128, 0.0, 1.0 / 128, 1.0 / 64)
  // tiny per-language stopword lists for the n-gram/stopword language guess
  val langStops: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "es" -> Seq("el", "la", "los", "y", "es"),
    "fr" -> Seq("le", "la", "les", "et", "est"),
  )

  def hitCount(tokens: Column, words: Seq[String]): Column =
    size(filter(tokens, t => t.isInCollection(words))).cast("long")

  /** Deterministic stopword-profile language guess (tie-break en>de>es>fr). */
  def langPred(text: Column): Column = {
    val tk = toks(lower(text))
    val h = langStops.map { case (l, ws) => l -> hitCount(tk, ws) }.toMap
    when(h("en") >= h("de") && h("en") >= h("es") && h("en") >= h("fr"), "en")
      .when(h("de") >= h("es") && h("de") >= h("fr"), "de")
      .when(h("es") >= h("fr"), "es")
      .otherwise("fr")
  }

  val queries: Map[String, Q] = Map(
    // pairwise source-overlap matrix — the cross-corpus contamination
    // audit a mixture designer runs before weighting sources ("how much
    // of src_a is already in src_b?"): per source pair, the count and
    // Jaccard of shared word-8-gram sets. Scale shape: the (source, gram)
    // distinct is ONE linear shuffle; the per-gram source set is bounded
    // by |sources| (~20), so the pair fan-out is ≤ C(|S|,2) rows per gram
    // and partial-combines map-side down to the |S|² output groups; the
    // per-source gram totals are a bounded frame broadcast back. No
    // gram-key self-join (that shape is output-quadratic per hot gram at
    // corpus scale — the oracle uses it only because DuckDB runs at gate
    // SF). Quotiented by (source, text) identity up front: the gram set
    // is a pure function of the text, so exact-duplicate docs within a
    // source contribute nothing — collapsing them first cut the 100×
    // dup-heavy probe from 112 s to the volume of UNIQUE text (the
    // final distinct already implied this; doing it pre-explode keeps
    // the gram exchange duplicate-free too).
    "q_source_overlap" -> ((s, dir) => {
      val g = docs(s, dir)
        .select(col("source"), col("text")).distinct()
        .select(col("source"), split(col("text"), " ").as("w"))
        .filter(size(col("w")) >= 8)
        .select(col("source"), explode(array_distinct(expr(
          """transform(sequence(0, size(w)-8), i ->
             concat_ws(' ', w[i], w[i+1], w[i+2], w[i+3],
                            w[i+4], w[i+5], w[i+6], w[i+7]))"""))).as("gram"))
        .distinct()
      val perSrc = g.groupBy(col("source")).agg(count(lit(1)).as("n_grams"))
      val pairs = g.groupBy(col("gram"))
        .agg(sort_array(collect_set(col("source"))).as("ss"))
        .filter(size(col("ss")) >= 2)
        .select(explode(flatten(expr(
          """transform(ss, (a, i) ->
             transform(slice(ss, i + 2, size(ss)), b -> struct(a, b)))"""
        ))).as("p"))
        .groupBy(col("p.a").as("src_a"), col("p.b").as("src_b"))
        .agg(count(lit(1)).as("shared_grams"))
      pairs
        .join(broadcast(perSrc.withColumnRenamed("source", "src_a")
          .withColumnRenamed("n_grams", "na")), "src_a")
        .join(broadcast(perSrc.withColumnRenamed("source", "src_b")
          .withColumnRenamed("n_grams", "nb")), "src_b")
        .select(col("src_a"), col("src_b"), col("shared_grams"),
          round(col("shared_grams").cast("double")
            / (col("na") + col("nb") - col("shared_grams")), 6).as("jaccard"))
        .orderBy(col("src_a"), col("src_b"))
    }),

    // first-occurrence novelty — the memorization-risk metric a curation
    // pipeline scores per doc: what fraction of this doc's word-8-grams
    // appears HERE for the first time, in doc_id ingest order? Low
    // novelty = mostly restatement of earlier corpus content (dedup's
    // soft sibling: a score, not a drop decision). Scale shape: two
    // linear gram-keyed exchanges (per-doc distinct grams → min-doc_id
    // first-occurrence table → join back) then a doc_id partial agg —
    // no self-join, no window, and the join key is the gram (bounded
    // fan-in: each gram matches its occurrence list once, not
    // quadratically). Conservation law (tested): Σ n_novel over docs ==
    // |distinct grams| — every gram is novel exactly once.
    // Quotiented by text identity: per text group, only the min-id
    // holder (the rep) can be first-seen for any of its grams — a later
    // exact copy restates its rep by construction, so its n_novel is 0
    // without touching the gram machinery. And min-over-reps equals the
    // global first-occurrence (every doc's rep precedes it with the same
    // grams), so rep novelty is unchanged by the collapse. The expensive
    // gram exchanges run over UNIQUE text (112 s-class blowup avoided on
    // the 100-copy probe); members re-expand through two linear joins.
    "q_novelty" -> ((s, dir) => {
      val base = docs(s, dir)
        .select(col("doc_id"), col("text"))
        .filter(size(split(col("text"), " ")) >= 8)
      val reps = base.groupBy(col("text")).agg(min(col("doc_id")).as("rep_id"))
      val g = reps
        .select(col("rep_id"), split(col("text"), " ").as("w"))
        .select(col("rep_id"), explode(array_distinct(gram8)).as("gram"))
      val first = g.groupBy(col("gram")).agg(min(col("rep_id")).as("first_doc"))
      val repNov = g.join(first, "gram")
        .groupBy(col("rep_id"))
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("first_doc") === col("rep_id"), 1L).otherwise(0L))
            .as("rep_novel"))
      base.join(reps, "text").join(repNov, "rep_id")
        .select(col("doc_id"), col("n_grams"),
          when(col("doc_id") === col("rep_id"), col("rep_novel"))
            .otherwise(0L).as("n_novel"))
        .select(col("doc_id"), col("n_grams"), col("n_novel"),
          round(col("n_novel").cast("double") / col("n_grams"), 6).as("novelty"))
        .orderBy(col("doc_id"))
    }),

    // boilerplate phrase stripping — the CCNet/RefinedWeb-style rewrite
    // gate: any word-5-gram appearing in ≥ 2 DISTINCT documents is
    // boilerplate (shared template/navigation text); every token position
    // covered by a boilerplate gram occurrence is removed and the doc is
    // reassembled from the surviving words in order. This is the corpus's
    // one document-REWRITING operator (dedup drops docs; this repairs
    // them). Scale shape: grams, coverage, and the rewrite are pure
    // functions of the text, so the whole pipeline runs on DISTINCT texts
    // (the quotient discipline) — gram doc-frequency is one linear
    // gram-keyed agg, coverage re-expands each boilerplate occurrence to
    // its 5 positions (bounded ×5), and the reassembly is a per-text
    // sort_array over collect_list bounded by doc length. Members rejoin
    // through one text-keyed join. No self-join, no window, no driver
    // loop; per-gram fan-out is its occurrence count (the same contract
    // as q_novelty), never quadratic.
    "q_boilerplate_strip" -> ((s, dir) => {
      val base = docs(s, dir).select(col("doc_id"), col("text"))
      // spread after the distinct (r15 stage attribution without it: the
      // gram explode + coverage + reassembly ran single-core, a 5.7 s task
      // ≈ 70% of this query's wall)
      val uniq = Dedup.spread(base.select(col("text")).distinct())
        .withColumn("w", split(col("text"), " "))
      val g = uniq.filter(size(col("w")) >= 5)
        .select(col("text"), posexplode(gram5).as(Seq("s", "gram")))
      val boiler = g.select(col("gram"), col("text")).distinct()
        .groupBy(col("gram")).agg(count(lit(1)).as("nd"))
        .filter(col("nd") >= 2).select(col("gram"))
      val covered = g.join(boiler, "gram")
        .select(col("text"), explode(sequence(col("s"), col("s") + 4)).as("pos"))
        .distinct()
      val words = uniq.select(col("text"),
        posexplode(col("w")).as(Seq("pos", "word")))
      val kept = words.join(covered, Seq("text", "pos"), "left_anti")
        .groupBy(col("text"))
        .agg(count(lit(1)).as("n_kept"),
          concat_ws(" ", transform(
            array_sort(collect_list(struct(col("pos"), col("word")))),
            x => x.getField("word"))).as("clean_text"))
      val perText = uniq
        .select(col("text"), size(col("w")).cast("long").as("n_tokens"))
        .join(kept, Seq("text"), "left")
        .select(col("text"), col("n_tokens"),
          (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
          coalesce(col("clean_text"), lit("")).as("clean_text"))
      base.join(perText, "text")
        .select(col("doc_id"), col("n_tokens"), col("n_removed"),
          col("clean_text"))
        .orderBy(col("doc_id"))
    }),

    // benchmark decontamination: training docs (id >= 50) sharing any
    // word-8-gram with the eval set (id < 50). The eval gram set is tiny →
    // broadcast; the training side streams and only hits shuffle into the
    // per-doc count — the shape that sweeps 100 TB of training text
    // against a fixed benchmark suite.
    "q_decontaminate" -> ((s, dir) => {
      val g = docs(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .filter(size(col("w")) >= 8)
        .select(col("doc_id"), explode(array_distinct(expr(
          """transform(sequence(0, size(w)-8), i ->
             concat_ws(' ', w[i], w[i+1], w[i+2], w[i+3],
                            w[i+4], w[i+5], w[i+6], w[i+7]))"""))).as("gram"))
      val ev = g.filter(col("doc_id") < 50).select(col("gram")).distinct()
      g.filter(col("doc_id") >= 50)
        .join(broadcast(ev), "gram")
        .groupBy(col("doc_id"))
        .agg(countDistinct(col("gram")).as("n_shared_grams"))
        .orderBy(col("doc_id"))
    }),

    // Bloom-gated decontamination: same semantics as q_decontaminate, but
    // the benchmark gram set compresses to a Bloom filter (a scalar
    // subquery of BITS) that gates the training gram stream IN ITS SCAN
    // STAGE, before any exchange. This is the decontamination shape for
    // when the benchmark suite is too large to broadcast as rows (at
    // 100 TB: millions of eval grams → the semi-join becomes a shuffle,
    // and the bloom keeps ~non-matching grams out of it entirely). The
    // exact join afterwards removes bloom false positives, so the output
    // is identical to the broadcast form — same oracle, hash-green.
    "q_decontaminate_bloom" -> ((s, dir) => {
      val g = docs(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .filter(size(col("w")) >= 8)
        .select(col("doc_id"), explode(array_distinct(expr(
          """transform(sequence(0, size(w)-8), i ->
             concat_ws(' ', w[i], w[i+1], w[i+2], w[i+3],
                            w[i+4], w[i+5], w[i+6], w[i+7]))"""))).as("gram"))
      val ev = g.filter(col("doc_id") < 50).select(col("gram")).distinct()
      val bloom = ev.agg(graft.functions.Bloom
        .bloomAgg(xxhash64(col("gram")), 100000L, 800000L).as("bf"))
      g.filter(col("doc_id") >= 50)
        .filter(graft.functions.Bloom.mightContain(bloom, xxhash64(col("gram"))))
        .join(ev, "gram")
        .groupBy(col("doc_id"))
        .agg(countDistinct(col("gram")).as("n_shared_grams"))
        .orderBy(col("doc_id"))
    }),

    // Fractional-containment decontamination (the Dolma/BigCode policy):
    // instead of q_decontaminate's absolute shared-gram count, score each
    // training doc by the FRACTION of its distinct 8-grams that appear
    // anywhere in the benchmark set, and gate on a threshold — a long doc
    // quoting one benchmark line stays, a short doc that IS a benchmark
    // item drops. Same scale shape: benchmark grams broadcast, training
    // side streams through one scan + one bounded per-doc aggregate; docs
    // with zero overlap keep n_shared = 0 via the left join (they must
    // appear in the output — the kept/dropped decision is the product).
    "q_ngram_containment" -> ((s, dir) =>
      ngramContainment(docs(s, dir)).orderBy(col("doc_id"))),

    // canonical text normalization: lowercase, trim, squeeze runs of
    // spaces — the pure column-algebra pre-tokenization step (both
    // engines share the regex subset: a literal-space character class)
    "q_text_normalize" -> ((s, dir) => {
      docs(s, dir)
        .select(col("doc_id"),
          regexp_replace(trim(lower(col("text"))), " +", " ").as("norm_text"))
        .withColumn("n_chars_norm", length(col("norm_text")).cast("long"))
        .orderBy(col("doc_id"))
    }),

    // per-document size/token statistics + BPE-style token estimate
    "q_doc_stats" -> ((s, dir) => {
      docs(s, dir).select(
        col("doc_id"),
        length(col("text")).cast("long").as("len_chars"),
        size(toks(col("text"))).cast("long").as("n_tokens"),
        size(array_distinct(toks(col("text")))).cast("long").as("n_uniq_tokens"),
        (length(translate(col("text"), " ", "")).cast("double") /
          size(toks(col("text")))).as("mean_token_len"),
        ceil(length(col("text")) / 4.0).cast("long").as("est_bpe_tokens"))
        .orderBy(col("doc_id"))
    }),

    // BPE-style tokenization estimate: count matches of a GPT-2-like
    // pretokenizer regex (ASCII-class subset so Java regex and RE2 agree),
    // alongside the cheap chars/4 heuristic — the two token-budget
    // estimators a training-data pipeline carries
    "q_bpe_tokens" -> ((s, dir) => {
      val pat = " ?[a-z]+| ?[A-Z]+| ?[0-9]+| ?[^ a-zA-Z0-9]+"
      docs(s, dir).select(
        col("doc_id"),
        regexp_count(col("text"), lit(pat)).cast("long").as("n_bpe_pretokens"),
        ceil(length(col("text")) / 4.0).cast("long").as("est_tokens_c4"))
        .orderBy(col("doc_id"))
    }),

    // corpus-level token frequency (top 20). explode → partial agg per
    // partition → tiny final shuffle: the scalable word-count shape.
    "q_token_freq" -> ((s, dir) => {
      docs(s, dir)
        .select(explode(toks(lower(col("text")))).as("token"))
        .groupBy(col("token"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token"))
        .limit(20)
    }),

    // First BPE merge-induction step of tokenizer TRAINING: adjacent
    // character-pair frequencies over the corpus, weighted by word count.
    // The scale trick is the classic one — collapse the corpus to its
    // word-frequency vocabulary FIRST (one word-count shuffle), then
    // enumerate pairs over the (tiny) distinct vocab instead of over
    // every corpus token occurrence; 100 TB of text folds to a few
    // million vocab rows before the per-character work starts.
    // Driver-side state bound (audit): NONE — the step is pure distributed
    // column algebra ending in limit(20); nothing is collected. A full
    // training loop iterates this step with each winning pair folded into
    // the vocab; the only driver-resident data in that loop is the merge
    // table itself, bounded by the TARGET VOCAB SIZE (a few 10k rows) —
    // never by corpus size, which stays behind the word-frequency
    // aggregate.
    "q_bpe_merge" -> ((s, dir) => {
      val words = docs(s, dir)
        .select(explode(toks(lower(col("text")))).as("word"))
        .filter(length(col("word")) >= 2)
        .groupBy(col("word")).agg(count(lit(1)).as("wc"))
      words
        .select(col("wc"), explode(expr(
          """transform(sequence(1, length(word)-1), i ->
             concat(substring(word, i, 1), ' ', substring(word, i+1, 1)))"""))
          .as("pair"))
        .groupBy(col("pair"))
        .agg(sum(col("wc")).cast("long").as("n"))
        .orderBy(col("n").desc, col("pair"))
        .limit(20)
    }),

    // Per-language top-5 tokens through the custom TopKPerKey physical
    // operator — bounded per-key heaps over the (lang, token) counts, no
    // per-language sort and no window; the same operator the relational
    // q_topk_per_key freezes, exercised on the text path.
    "q_top_tokens_per_lang" -> ((s, dir) => {
      val counts = docs(s, dir)
        .select(col("lang"), explode(toks(lower(col("text")))).as("token"))
        .groupBy(col("lang"), col("token"))
        .agg(count(lit(1)).as("n"))
      graft.plans.TopK.perKey(counts, Seq("lang"),
          Seq("n" -> true, "token" -> false), 5)
        .orderBy(col("lang"), col("n").desc, col("token"))
    }),

    // heuristic quality score: stopword ratio, punctuation ratio, length
    "q_doc_quality" -> ((s, dir) => {
      val tk = toks(lower(col("text")))
      val nTok = size(tk)
      val punct = length(col("text")) - length(translate(col("text"), ".,!?", ""))
      val stopRatio = hitCount(tk, stop).cast("double") / nTok.cast("double")
      val punctRatio = punct.cast("double") / length(col("text")).cast("double")
      docs(s, dir).select(
        col("doc_id"),
        nTok.cast("long").as("n_tokens"),
        punct.cast("long").as("punct_cnt"),
        stopRatio.as("stop_ratio"),
        (stopRatio * 0.5 + least(lit(1.0), nTok.cast("double") / 200.0) * 0.5
          - punctRatio * 0.1).as("quality_score"))
        .orderBy(col("doc_id"))
    }),

    // fastText-style linear quality classifier: a fixed token→weight
    // model scored entirely IN-SCAN — the model ships as a literal map
    // column (the broadcast-a-tiny-model pattern; a trained model would
    // arrive the same way), each doc's logit is one fold over its tokens,
    // zero exchanges anywhere. Weights are exact 64ths (dyadic rationals)
    // so the fold is EXACT in double and order-independent — no decimal
    // routing needed; only the final /n_tokens division rounds (6 dp, the
    // proven cross-engine discipline). The oracle SQL is GENERATED from
    // the same weight table, so the two engines cannot drift.
    "q_quality_classifier" -> ((s, dir) => {
      val wmap = map(clfWeights.flatMap { case (t, n) =>
        Seq(lit(t), lit(n / 64.0)) }: _*)
      val tk = toks(lower(col("text")))
      val score = aggregate(tk, lit(0.0),
        (acc, t) => acc + coalesce(element_at(wmap, t), lit(0.0)))
      val logit = round(lit(clfBias) + score / size(tk).cast("double"), 6)
      docs(s, dir).select(
        col("doc_id"),
        size(tk).cast("long").as("n_tokens"),
        logit.as("quality_logit"),
        (logit > 0).as("kept"))
        .orderBy(col("doc_id"))
    }),

    // classifier threshold calibration — the PR sweep a pipeline runs
    // before picking the quality gate's operating point: for each
    // candidate threshold, precision/recall of (logit > t) against a
    // deterministic weak label (lang = 'en' here; a labeled eval set
    // would arrive the same way). One scan computes each doc's logit
    // once and reduces straight to a SINGLE row of 3×|thresholds|
    // conditional sums; the 5 output rows come from stack() over that
    // one row. (The first cut exploded a 5-threshold literal per doc and
    // grouped — Catalyst collapsed the projection into the Generate and
    // re-evaluated the token-fold logit per exploded row: 46.5 s at the
    // 100× probe, ≈ 5× the classifier's own 9.4 s scan. The one-row
    // aggregate keeps the fold per-doc: no corpus-sized Generate exists
    // in this plan at all.)
    "q_classifier_pr_curve" -> ((s, dir) => {
      val wmap = map(clfWeights.flatMap { case (t, n) =>
        Seq(lit(t), lit(n / 64.0)) }: _*)
      val tk = toks(lower(col("text")))
      val score = aggregate(tk, lit(0.0),
        (acc, t) => acc + coalesce(element_at(wmap, t), lit(0.0)))
      val logit = round(lit(clfBias) + score / size(tk).cast("double"), 6)
      val sums = prThresholds.zipWithIndex.flatMap { case (t, i) => Seq(
        sum(when(col("logit") > t && col("y"), 1L).otherwise(0L)).as(s"tp$i"),
        sum(when(col("logit") > t && !col("y"), 1L).otherwise(0L)).as(s"fp$i"),
        sum(when(!(col("logit") > t) && col("y"), 1L).otherwise(0L)).as(s"fn$i"))
      }
      val rows = prThresholds.zipWithIndex.map { case (t, i) =>
        s"CAST($t AS DOUBLE), tp$i, fp$i, fn$i" }.mkString(", ")
      docs(s, dir)
        .select(logit.as("logit"), (col("lang") === "en").as("y"))
        .agg(sums.head, sums.tail: _*)
        .select(expr(s"stack(${prThresholds.size}, $rows)")
          .as(Seq("threshold", "tp", "fp", "fn")))
        .select(col("threshold"), col("tp"), col("fp"), col("fn"),
          when(col("tp") + col("fp") > 0,
            round(col("tp").cast("double") / (col("tp") + col("fp")), 6))
            .as("precision"),
          when(col("tp") + col("fn") > 0,
            round(col("tp").cast("double") / (col("tp") + col("fn")), 6))
            .as("recall"))
        .orderBy(col("threshold"))
    }),

    // stopword-profile language guess (deterministic argmax with fixed
    // tie-break order en > de > es > fr)
    "q_lang_id" -> ((s, dir) => {
      val tk = toks(lower(col("text")))
      val hits = langStops.map { case (l, ws) => l -> hitCount(tk, ws) }.toMap
      docs(s, dir).select(
        col("doc_id"),
        hits("en").as("en_hits"), hits("de").as("de_hits"),
        hits("es").as("es_hits"), hits("fr").as("fr_hits"),
        langPred(col("text")).as("lang_pred"))
        .orderBy(col("doc_id"))
    }),

    // content-hash fingerprint of the case-normalized text
    "q_doc_fingerprint" -> ((s, dir) => {
      docs(s, dir).select(
        col("doc_id"),
        md5(lower(col("text")).cast("binary")).as("fp_md5"))
        .orderBy(col("doc_id"))
    }),

    // tokenizer-vocabulary coverage: tokens holding ≥2% of total mass form
    // the vocab; report its size and the corpus fraction it covers. The
    // relative threshold keeps the query meaningful at any corpus size
    // (an absolute min-count saturates as the corpus grows).
    "q_vocab" -> ((s, dir) => {
      val c = docs(s, dir)
        .select(explode(toks(lower(col("text")))).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("n"))
      val g = c.agg(sum(col("n")).as("t"))
      c.crossJoin(g)
        .agg(
          sum(when(col("n").cast("double") >= col("t") * 0.02, 1).otherwise(0))
            .as("n_vocab"),
          sum(when(col("n").cast("double") >= col("t") * 0.02, col("n"))
            .otherwise(0L)).as("kept_mass"),
          sum(col("n")).as("total_mass"))
        .select(col("n_vocab"), col("kept_mass"), col("total_mass"),
          round(col("kept_mass").cast("double") / col("total_mass"), 6)
            .as("coverage"))
    }),

    // TF-IDF: top-3 most distinctive terms per document. tf and df are
    // two partial-aggregatable counts (explode → per-(doc,term) → per-term);
    // the scalar corpus size joins in as a broadcast literal frame; the
    // final rank is a window partitioned BY DOCUMENT (never global).
    // ln goes through [[graft.functions.PortableLn]] (Math.log): Spark's
    // built-in log is StrictMath.log, off-by-one-ULP vs DuckDB's libm ln on
    // ~7% of this domain. Each score is a single product — no
    // order-dependent double summation.
    "q_tfidf" -> ((s, dir) => {
      val tf = docs(s, dir)
        .select(col("doc_id"), explode(toks(lower(col("text")))).as("token"))
        .groupBy(col("doc_id"), col("token"))
        .agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
      val n = docs(s, dir).agg(count(lit(1)).as("n_docs"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id"))
        .orderBy(col("tfidf").desc, col("token"))
      tf.join(dfreq, "token").crossJoin(n)
        .withColumn("tfidf", col("tf").cast("double") *
          graft.functions.PortableMath.lnPortable(
            col("n_docs").cast("double") / col("df")))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("doc_id"), col("token"), col("tf"), col("df"), col("tfidf"))
        .orderBy(col("doc_id"), col("tfidf").desc, col("token"))
    }),

    // unigram LM quality score: avg log P(token) per document under the
    // corpus's own unigram model — the cheap perplexity proxy for
    // quality-filtering training text. Per-(doc,token) counts aggregate
    // BEFORE the frequency join (the join carries distinct pairs, not the
    // token stream), the corpus total joins as a one-row broadcast, and
    // each term's ln (PortableLn — cross-engine-exact) is rounded to 9 dp
    // and summed as DECIMAL so the per-doc sum is order-independent; only
    // then does the final division produce the score.
    // per-doc character Shannon entropy (bits) — the cheap repetitive-junk
    // detector (low entropy ⇒ boilerplate/degenerate text).
    // H = (ln n − Σ c·ln c / n)/ln 2 with the q_lm_score exactness
    // discipline: each c·ln c term rounds to 9 dp and sums as DECIMAL
    // (order-independent), ln through the platform libm (matches the
    // oracle engine), final round 6 dp → hash-exact.
    //
    // r11 rewrite: per-doc entropy is a pure function of the ROW, so the
    // frequency histogram builds in one local pass inside the codegen'd
    // CharEntropySum expression — scan → project, ZERO pre-sort
    // exchanges. The original explode-per-character + two-level groupBy
    // shuffled ~75M (doc_id, char) rows at sf1 (19.9 s → the aggregation
    // state was corpus-shaped for a row-shaped quantity); the expression
    // replicates the old round→decimal term algebra bit-for-bit, so the
    // DuckDB oracle is unchanged and still hash-green.
    "q_doc_entropy" -> ((s, dir) => {
      val lnP = graft.functions.PortableMath.lnPortable _
      docs(s, dir)
        .select(col("doc_id"), length(col("text")).cast("long").as("n_chars"),
          graft.functions.PortableMath.charEntropySum(col("text")).as("s"))
        .select(col("doc_id"), col("n_chars"),
          round((lnP(col("n_chars").cast("double"))
            - col("s").cast("double") / col("n_chars").cast("double"))
            / lnP(lit(2.0)), 6).as("entropy_bits"))
        .orderBy(col("doc_id"))
    }),

    "q_lm_score" -> ((s, dir) => {
      val tf = docs(s, dir)
        .select(col("doc_id"), explode(toks(lower(col("text")))).as("token"))
        .groupBy(col("doc_id"), col("token"))
        .agg(count(lit(1)).as("n_dt"))
      val freq = tf.groupBy(col("token")).agg(sum(col("n_dt")).as("n_tok"))
      val tot = freq.agg(sum(col("n_tok")).as("t"))
      tf.join(freq, "token").crossJoin(tot)
        .withColumn("lp", round(graft.functions.PortableMath.lnPortable(
          col("n_tok").cast("double") / col("t")), 9)
          .cast(org.apache.spark.sql.types.DecimalType(18, 9)))
        .groupBy(col("doc_id"))
        .agg(sum(col("n_dt")).as("n_tokens"),
          round((sum(col("n_dt") * col("lp")).cast("double") / sum(col("n_dt"))), 6)
            .as("avg_logprob"))
        .orderBy(col("doc_id"))
    }),

    // corpus bigram counts (top 20): the n-gram LM statistics sweep.
    // Bigrams materialize per row inside the scan projection (transform
    // over the token array), then the word-count shape: partial agg per
    // partition, tiny final shuffle.
    "q_ngram_counts" -> ((s, dir) => {
      docs(s, dir)
        .select(split(lower(col("text")), " ").as("w"))
        .filter(size(col("w")) >= 2)
        .select(explode(expr(
          "transform(sequence(0, size(w)-2), i -> concat_ws(' ', w[i], w[i+1]))"))
          .as("bigram"))
        .groupBy(col("bigram")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("bigram"))
        .limit(20)
    }),

    // winnowed rolling-hash fingerprint (custom catalyst expression; robust
    // to local edits — no SQL oracle, rows-only + unit-tested)
    "q_doc_winnow" -> ((s, dir) => {
      docs(s, dir).select(
        col("doc_id"),
        Sketches.winnow64(col("text"), 5, 8).as("fp_winnow"))
        .orderBy(col("doc_id"))
    }),
  )

  private val gram8 = expr(
    """transform(sequence(0, size(w)-8), i ->
       concat_ws(' ', w[i], w[i+1], w[i+2], w[i+3],
                      w[i+4], w[i+5], w[i+6], w[i+7]))""")

  private val gram5 = expr(
    """transform(sequence(0, size(w)-5), i ->
       concat_ws(' ', w[i], w[i+1], w[i+2], w[i+3], w[i+4]))""")

  /** Fractional 8-gram containment of each training doc (doc_id ≥ 50)
    * against the benchmark set (doc_id < 50), quotiented by text identity.
    *
    * Containment is a pure function of the text, so the gram explode +
    * broadcast join run over DISTINCT training texts and the per-member
    * scores re-expand through one text-keyed join. On a real crawl the
    * dominant mass is exact duplicates — the uncollapsed join re-emitted
    * every copy's identical gram set and measured 28× time at 100× data
    * (the planted-dup probe corpus); the quotient makes the expensive
    * stage's volume a function of UNIQUE text, with the re-expansion join
    * linear in members. Equality with the uncollapsed join is law-tested
    * on a replicated corpus (`TextAnalysisSpec`).
    *
    * Docs with < 8 words have no 8-grams and are excluded (inner
    * re-expansion join preserves that), matching the DuckDB oracle. */
  def ngramContainment(docsDf: DataFrame): DataFrame = {
    val ev = docsDf.filter(col("doc_id") < 50)
      .select(split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 8)
      .select(explode(array_distinct(gram8)).as("gram")).distinct()
      .withColumn("hit", lit(1L))
    val members = docsDf.filter(col("doc_id") >= 50)
      .select(col("doc_id"), col("text"))
    val scored = members.select(col("text")).distinct()
      .withColumn("w", split(col("text"), " "))
      .filter(size(col("w")) >= 8)
      .select(col("text"), explode(array_distinct(gram8)).as("gram"))
      .join(broadcast(ev), Seq("gram"), "left")
      .groupBy(col("text"))
      .agg(count(lit(1)).as("n_grams"),
        coalesce(sum(col("hit")), lit(0L)).as("n_shared"))
      .withColumn("containment",
        round(col("n_shared").cast("double") / col("n_grams"), 6))
      .withColumn("kept", col("containment") < 0.05)
    members.join(scored, "text")
      .select(col("doc_id"), col("n_grams"), col("n_shared"),
        col("containment"), col("kept"))
  }

  /** q_decontaminate's oracle, shared by the bloom form and the
    * streaming twin. */
  private[graft] val decontaminateSql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
      |g AS (SELECT doc_id,
      |        unnest(list_distinct([array_to_string(w[i:i+7], ' ')
      |                              for i in range(1, len(w)-6)])) AS gram
      |      FROM t WHERE len(w) >= 8),
      |ev AS (SELECT DISTINCT gram FROM g WHERE doc_id < 50)
      |SELECT doc_id, CAST(COUNT(DISTINCT gram) AS BIGINT) AS n_shared_grams
      |FROM g JOIN ev USING (gram)
      |WHERE doc_id >= 50
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  val oracle: Map[String, String] = Map(
    // doc-frequency counts DISTINCT TEXTS (not doc_ids): replication-
    // invariant by construction — an exact copy can't make its own
    // phrases boilerplate, and the quotient path needs no special-casing
    "q_boilerplate_strip" ->
      """WITH b AS (SELECT doc_id, text FROM documents),
        |u AS (SELECT DISTINCT text FROM b),
        |t AS (SELECT text, string_split(text, ' ') AS w FROM u),
        |g AS (SELECT text, r.i - 1 AS s, array_to_string(w[r.i:r.i+4], ' ') AS gram
        |      FROM t, unnest(range(1, len(w) - 3)) AS r(i) WHERE len(w) >= 5),
        |bo AS (SELECT gram FROM (SELECT DISTINCT gram, text FROM g)
        |       GROUP BY gram HAVING COUNT(*) >= 2),
        |cov AS (SELECT DISTINCT g.text, s + q.j AS pos
        |        FROM g JOIN bo USING (gram), unnest(range(0, 5)) AS q(j)),
        |w2 AS (SELECT text, r.i - 1 AS pos, w[r.i] AS word
        |       FROM t, unnest(range(1, len(w) + 1)) AS r(i)),
        |k AS (SELECT text, COUNT(*) AS n_kept,
        |        string_agg(word, ' ' ORDER BY pos) AS clean_text
        |      FROM w2
        |      WHERE NOT EXISTS (SELECT 1 FROM cov
        |                        WHERE cov.text = w2.text AND cov.pos = w2.pos)
        |      GROUP BY text),
        |p AS (SELECT t.text, len(w) AS n_tokens FROM t)
        |SELECT b.doc_id, CAST(p.n_tokens AS BIGINT) AS n_tokens,
        |  CAST(p.n_tokens - COALESCE(k.n_kept, 0) AS BIGINT) AS n_removed,
        |  COALESCE(k.clean_text, '') AS clean_text
        |FROM b JOIN p USING (text) LEFT JOIN k USING (text)
        |ORDER BY doc_id""".stripMargin,
    "q_novelty" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
        |g AS (SELECT DISTINCT doc_id,
        |        unnest([array_to_string(w[i:i+7], ' ')
        |                for i in range(1, len(w)-6)]) AS gram
        |      FROM t WHERE len(w) >= 8),
        |f AS (SELECT gram, min(doc_id) AS first_doc FROM g GROUP BY gram)
        |SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
        |  CAST(SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
        |       AS BIGINT) AS n_novel,
        |  round(SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
        |        * 1.0 / COUNT(*), 6) AS novelty
        |FROM g JOIN f USING (gram)
        |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin,
    // gate-SF transcription: the gram-key self-join is fine at oracle
    // scale; the engine's collect_set/pair-explode form is the scale path
    "q_source_overlap" ->
      """WITH t AS (SELECT source, string_split(text, ' ') w FROM documents),
        |g0 AS (SELECT source,
        |         unnest(list_distinct([array_to_string(w[i:i+7], ' ')
        |                               for i in range(1, len(w)-6)])) AS gram
        |       FROM t WHERE len(w) >= 8),
        |g AS (SELECT DISTINCT source, gram FROM g0),
        |n AS (SELECT source, COUNT(*) AS n_grams FROM g GROUP BY source),
        |c AS (SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS shared
        |      FROM g a JOIN g b USING (gram) WHERE a.source < b.source
        |      GROUP BY 1, 2)
        |SELECT src_a, src_b, CAST(shared AS BIGINT) AS shared_grams,
        |  round(CAST(shared AS DOUBLE)
        |        / (na.n_grams + nb.n_grams - shared), 6) AS jaccard
        |FROM c JOIN n na ON na.source = src_a JOIN n nb ON nb.source = src_b
        |ORDER BY src_a, src_b""".stripMargin,
    // generated from the same weight table + threshold list as the engine
    // (the q_quality_classifier discipline) — the two cannot drift
    "q_classifier_pr_curve" -> {
      val entries = clfWeights.map { case (t, n) =>
        s"'${t}': CAST($n AS DOUBLE)/64" }.mkString(", ")
      val ths = prThresholds.map(t => s"CAST($t AS DOUBLE)").mkString(", ")
      s"""WITH t AS (SELECT doc_id, lang, string_split(lower(text), ' ') AS tk
         |           FROM documents),
         |s AS (SELECT lang = 'en' AS y,
         |        round($clfBias + coalesce(list_sum(list_transform(tk,
         |            t -> coalesce(MAP {$entries}[t][1], 0.0))), 0.0)
         |          / len(tk), 6) AS logit
         |      FROM t),
         |x AS (SELECT th.threshold, s.logit, s.y
         |      FROM s CROSS JOIN (SELECT unnest([$ths]) AS threshold) th),
         |g AS (SELECT threshold,
         |        SUM(CASE WHEN logit > threshold AND y THEN 1 ELSE 0 END) AS tp,
         |        SUM(CASE WHEN logit > threshold AND NOT y THEN 1 ELSE 0 END) AS fp,
         |        SUM(CASE WHEN NOT (logit > threshold) AND y THEN 1 ELSE 0 END) AS fn
         |      FROM x GROUP BY threshold)
         |SELECT threshold, CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
         |  CAST(fn AS BIGINT) AS fn,
         |  CASE WHEN tp + fp > 0
         |       THEN round(CAST(tp AS DOUBLE) / (tp + fp), 6) END AS precision,
         |  CASE WHEN tp + fn > 0
         |       THEN round(CAST(tp AS DOUBLE) / (tp + fn), 6) END AS recall
         |FROM g ORDER BY threshold""".stripMargin
    },
    "q_decontaminate" -> decontaminateSql,
    // identical answer to q_decontaminate: the bloom is a pure prefilter,
    // false positives die in the exact join
    "q_decontaminate_bloom" -> decontaminateSql,
    "q_ngram_containment" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
        |g AS (SELECT doc_id,
        |        unnest(list_distinct([array_to_string(w[i:i+7], ' ')
        |                              for i in range(1, len(w)-6)])) AS gram
        |      FROM t WHERE len(w) >= 8),
        |ev AS (SELECT DISTINCT gram FROM g WHERE doc_id < 50),
        |c AS (SELECT g.doc_id, COUNT(*) AS n_grams,
        |        CAST(SUM(CASE WHEN ev.gram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |          AS n_shared
        |      FROM g LEFT JOIN ev ON g.gram = ev.gram
        |      WHERE g.doc_id >= 50 GROUP BY g.doc_id)
        |SELECT doc_id, n_grams, n_shared,
        |  round(CAST(n_shared AS DOUBLE) / n_grams, 6) AS containment,
        |  round(CAST(n_shared AS DOUBLE) / n_grams, 6) < 0.05 AS kept
        |FROM c ORDER BY doc_id""".stripMargin,
    "q_text_normalize" ->
      """SELECT doc_id,
        |  regexp_replace(trim(lower(text)), ' +', ' ', 'g') AS norm_text,
        |  CAST(length(regexp_replace(trim(lower(text)), ' +', ' ', 'g')) AS BIGINT) AS n_chars_norm
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_doc_stats" ->
      """SELECT doc_id,
        |  CAST(length(text) AS BIGINT) AS len_chars,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |  CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_uniq_tokens,
        |  CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(string_split(text, ' ')) AS mean_token_len,
        |  CAST(CEIL(length(text) / 4.0) AS BIGINT) AS est_bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_bpe_tokens" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, ' ?[a-z]+| ?[A-Z]+| ?[0-9]+| ?[^ a-zA-Z0-9]+')) AS BIGINT) AS n_bpe_pretokens,
        |  CAST(CEIL(length(text) / 4.0) AS BIGINT) AS est_tokens_c4
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_bpe_merge" ->
      """WITH w AS (SELECT word, COUNT(*) AS wc FROM (
        |    SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents)
        |  WHERE length(word) >= 2 GROUP BY word),
        |p AS (SELECT wc,
        |        unnest([substr(word, i, 1) || ' ' || substr(word, i+1, 1)
        |                for i in range(1, length(word))]) AS pair
        |      FROM w)
        |SELECT pair, CAST(SUM(wc) AS BIGINT) AS n
        |FROM p GROUP BY pair ORDER BY n DESC, pair LIMIT 20""".stripMargin,
    "q_top_tokens_per_lang" ->
      """SELECT lang, token, n FROM (
        |  SELECT lang, token, COUNT(*) AS n,
        |    row_number() OVER (PARTITION BY lang
        |                       ORDER BY COUNT(*) DESC, token) AS rn
        |  FROM (SELECT lang, unnest(string_split(lower(text), ' ')) AS token
        |        FROM documents)
        |  GROUP BY lang, token
        |) WHERE rn <= 5 ORDER BY lang, n DESC, token""".stripMargin,
    "q_token_freq" ->
      """SELECT token, COUNT(*) AS n FROM (
        |  SELECT unnest(string_split(lower(text), ' ')) AS token FROM documents
        |) GROUP BY token ORDER BY n DESC, token LIMIT 20""".stripMargin,
    "q_doc_quality" ->
      """SELECT doc_id,
        |  CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens,
        |  CAST(length(text) - length(replace(replace(replace(replace(text,'.',''),',',''),'!',''),'?','')) AS BIGINT) AS punct_cnt,
        |  CAST(len(list_filter(string_split(lower(text), ' '), t -> t IN ('the','a'))) AS DOUBLE)
        |    / len(string_split(lower(text), ' ')) AS stop_ratio,
        |  (CAST(len(list_filter(string_split(lower(text), ' '), t -> t IN ('the','a'))) AS DOUBLE)
        |     / len(string_split(lower(text), ' '))) * 0.5
        |  + LEAST(1.0, CAST(len(string_split(lower(text), ' ')) AS DOUBLE) / 200.0) * 0.5
        |  - (CAST(length(text) - length(replace(replace(replace(replace(text,'.',''),',',''),'!',''),'?','')) AS DOUBLE)
        |     / length(text)) * 0.1 AS quality_score
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_quality_classifier" -> {
      val entries = clfWeights.map { case (t, n) =>
        s"'${t}': CAST($n AS DOUBLE)/64" }.mkString(", ")
      s"""WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS tk
         |           FROM documents),
         |s AS (SELECT doc_id, len(tk) AS n,
         |        round($clfBias + coalesce(list_sum(list_transform(tk,
         |            t -> coalesce(MAP {$entries}[t][1], 0.0))), 0.0)
         |          / len(tk), 6) AS quality_logit
         |      FROM t)
         |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens, quality_logit,
         |  quality_logit > 0 AS kept
         |FROM s ORDER BY doc_id""".stripMargin
    },
    "q_lang_id" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split(lower(text),' '), t -> t IN ('the','a','of','and','is'))) AS BIGINT) AS en_hits,
        |    CAST(len(list_filter(string_split(lower(text),' '), t -> t IN ('der','die','das','und','ist'))) AS BIGINT) AS de_hits,
        |    CAST(len(list_filter(string_split(lower(text),' '), t -> t IN ('el','la','los','y','es'))) AS BIGINT) AS es_hits,
        |    CAST(len(list_filter(string_split(lower(text),' '), t -> t IN ('le','la','les','et','est'))) AS BIGINT) AS fr_hits
        |  FROM documents)
        |SELECT doc_id, en_hits, de_hits, es_hits, fr_hits,
        |  CASE WHEN en_hits >= de_hits AND en_hits >= es_hits AND en_hits >= fr_hits THEN 'en'
        |       WHEN de_hits >= es_hits AND de_hits >= fr_hits THEN 'de'
        |       WHEN es_hits >= fr_hits THEN 'es'
        |       ELSE 'fr' END AS lang_pred
        |FROM h ORDER BY doc_id""".stripMargin,
    "q_doc_fingerprint" ->
      """SELECT doc_id, md5(lower(text)) AS fp_md5
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_doc_entropy" ->
      """WITH ch AS (
        |  SELECT doc_id,
        |    unnest([substr(text, i, 1) for i in range(1, length(text)+1)]) AS c
        |  FROM documents),
        |cc AS (SELECT doc_id, c, COUNT(*) AS k FROM ch GROUP BY 1, 2),
        |ag AS (SELECT doc_id, SUM(k) AS n,
        |         SUM(CAST(round(CAST(k AS DOUBLE) * ln(CAST(k AS DOUBLE)), 9)
        |             AS DECIMAL(18,9))) AS s
        |       FROM cc GROUP BY 1)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_chars,
        |  round((ln(CAST(n AS DOUBLE)) - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
        |        / ln(2.0), 6) AS entropy_bits
        |FROM ag ORDER BY doc_id""".stripMargin,
    "q_lm_score" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
        |  FROM documents),
        |tfc AS (SELECT doc_id, token, COUNT(*) AS n_dt
        |        FROM toks GROUP BY doc_id, token),
        |freq AS (SELECT token, SUM(n_dt) AS n_tok FROM tfc GROUP BY token),
        |tot AS (SELECT SUM(n_tok) AS t FROM freq),
        |lp AS (SELECT doc_id, n_dt,
        |         CAST(round(ln(CAST(n_tok AS DOUBLE) / t), 9)
        |              AS DECIMAL(18,9)) AS lp
        |       FROM tfc JOIN freq USING (token), tot)
        |SELECT doc_id, CAST(SUM(n_dt) AS BIGINT) AS n_tokens,
        |  round(CAST(SUM(n_dt * lp) AS DOUBLE) / SUM(n_dt), 6) AS avg_logprob
        |FROM lp GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_tfidf" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
        |  FROM documents),
        |tfc AS (SELECT doc_id, token, COUNT(*) AS tf
        |        FROM toks GROUP BY doc_id, token),
        |dfc AS (SELECT token, COUNT(*) AS df FROM tfc GROUP BY token),
        |nd AS (SELECT COUNT(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT doc_id, token, tf, df,
        |    CAST(tf AS DOUBLE) * ln(CAST(n_docs AS DOUBLE) / df) AS tfidf,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY CAST(tf AS DOUBLE) * ln(CAST(n_docs AS DOUBLE) / df) DESC,
        |               token) AS rk
        |  FROM tfc JOIN dfc USING (token), nd)
        |SELECT doc_id, token, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
        |  tfidf
        |FROM scored WHERE rk <= 3
        |ORDER BY doc_id, tfidf DESC, token""".stripMargin,
    "q_ngram_counts" ->
      """WITH t AS (SELECT string_split(lower(text), ' ') AS w FROM documents),
        |g AS (SELECT unnest([array_to_string(w[i:i+1], ' ')
        |                     for i in range(1, len(w))]) AS bigram
        |      FROM t WHERE len(w) >= 2)
        |SELECT bigram, COUNT(*) AS n FROM g
        |GROUP BY bigram ORDER BY n DESC, bigram LIMIT 20""".stripMargin,
    "q_vocab" ->
      """WITH tf AS (SELECT unnest(string_split(lower(text), ' ')) tok FROM documents),
        |c AS (SELECT tok, COUNT(*) n FROM tf GROUP BY tok),
        |g AS (SELECT SUM(n) t FROM c)
        |SELECT
        |  CAST(SUM(CASE WHEN CAST(n AS DOUBLE) >= t * 0.02 THEN 1 ELSE 0 END) AS BIGINT) AS n_vocab,
        |  CAST(SUM(CASE WHEN CAST(n AS DOUBLE) >= t * 0.02 THEN n ELSE 0 END) AS BIGINT) AS kept_mass,
        |  CAST(SUM(n) AS BIGINT) AS total_mass,
        |  round(CAST(SUM(CASE WHEN CAST(n AS DOUBLE) >= t * 0.02 THEN n ELSE 0 END) AS DOUBLE)
        |    / SUM(n), 6) AS coverage
        |FROM c, g""".stripMargin,
  )
}
