package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main: times every registered query at the target scale factor
  * and prints one JSON line `{"metric":"total",...,"queries":{...}}`.
  *
  * Timing action (round 9+): [[Harness.checksum]] — every output
  * row and column is forced through an xxhash64 fold, so the measured time
  * is the TRUE cost of computing the full result. Rounds ≤8 timed
  * `df.count()`, which lets Catalyst prune computed columns out of
  * scan-shaped queries (q_quality_classifier benched 0.28 s vs a true
  * 9.4 s at sf10) and even prunes aggregate expressions under a count of
  * a groupBy — so r9+ per-query numbers are systematically ≥ the r≤8
  * ledgers for value-heavy queries BY CONSTRUCTION of the honesty fix,
  * not through plan regressions. Round-over-round comparison restarts at
  * the r9 ledger.
  *
  * Excluded from timing (still correctness-checked by graft.Verify): the
  * two deliberately-quadratic baselines `q_dedup_ngram` and
  * `q_dedup_embedding` — they exist as all-pairs ground truth for the LSH
  * pipelines (which ARE timed) and scale as O(n²) by construction, so
  * timing them at growing SF measures the baseline's quadratic blow-up,
  * not the engine. The JSON lists them under "skipped".
  */
object Bench {
  private val skip = Set("q_dedup_ngram", "q_dedup_embedding")

  /** Drift-control calibration set (r12 verdict #5): ten PINNED,
    * shape-diverse, cheap queries whose code has been stable for rounds —
    * timed FIRST each run and emitted as `"drift_control"` in both JSON
    * outputs. Cross-round ledger diffs divide each calibration time by
    * the previous round's and take the MEDIAN as the ambient-host drift
    * factor, so a loaded host self-adjudicates instead of the prose
    * protocol BENCH_SCALING carried through r12. The set spans scan,
    * filter, shuffle/broadcast join, aggregation, window, and the
    * streaming fixed-overhead band (which historically drifts ~2× the
    * batch band — two streaming rows keep that visible). DO NOT change
    * members: the control only works if the set is identical across
    * rounds. */
  private val driftControl = Seq(
    "q_daily_transactions", "q_top5_zones", "q1_agg", "q6_filter_range",
    "q_join_shuffle", "q_multi_join", "q_scalar_date", "q_agg_distinct",
    "q_stream_daily_counts", "q_stream_user_counts")

  /** Bench's overrides of the [[Harness.session]] policy — `graft.Probe`
    * runs under the same ones, so a probe timing is a bench timing. */
  private[graft] val sessionOverrides = Map(
    // the timing action (Harness.checksum) is order-independent by
    // construction, so the pair queries' presentation sort — a
    // Verify/oracle determinism artifact — buys nothing here; clearing
    // the flag keeps quadratic-output pair rows parallel instead of
    // serializing the largest sf1 rows onto one core (r13 verdict #1)
    "spark.graft.pairPresentationSort" -> "false")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // optional subset (comma-separated names) — scaling probes time the
    // expensive queries at large derived SFs without paying for all 100+
    val only: Option[Set[String]] = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val spark = Harness.session(Harness.cpus, sessionOverrides)
    // schema preflight BEFORE any timing: an unhandled corpus drift must
    // fail the bench loudly, not ship a round of corrupted numbers (r6)
    Tables.preflight(spark, sfDir)
    // warm-up: session/codegen/parquet-footer costs land here, not on q1
    spark.read.parquet(s"$sfDir/nation.parquet").count()
    // benign by shape: the registry's only unpartitioned windows are
    // post-aggregation bounded frames (≤|zones| rank rows, ≤poolK RRF
    // rows — PlanAuditSpec's hot-partition sweep), so any WindowExec
    // "No Partition Defined" warnings below do not indicate a
    // corpus-sized single-task window
    println("[bench] note: WindowExec 'No Partition Defined' warnings are " +
      "benign here — post-agg bounded frames only (see PlanAuditSpec)")
    // best of two runs per query: the first run pays one-off codegen/plan
    // compilation, the second measures steady-state execution
    // a crashing query must NOT masquerade as a fast pass: failures are
    // recorded as -1 with the name listed under "failed"
    def timeQuery(name: String,
                  fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : (String, Double, Boolean) = {
      def once(): (Double, Boolean) = {
        val t0 = System.nanoTime()
        val ok = try { Harness.checksum(fn(spark, sfDir)); true } catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}"); false
        }
        ((System.nanoTime() - t0) / 1e9, ok)
      }
      val (t1, ok1) = once()
      val (t2, ok2) = once()
      // drop this query's memory-sink tables before moving on: the sink
      // holds the full result on the driver heap, and 2 runs × every
      // streaming query would otherwise accumulate across the whole bench
      spark.catalog.listTables().collect().map(_.name)
        .filter(_.startsWith("graft_stream")).foreach(spark.catalog.dropTempView)
      (name, math.min(t1, t2), ok1 && ok2)
    }
    // drift-control calibration pass FIRST (skipped in subset/probe mode —
    // probes compare against their own baselines, not across rounds)
    val drift: Seq[(String, Double, Boolean)] =
      if (only.isEmpty)
        driftControl.map(n => timeQuery(n, SparkEntry.queries(n)))
      else Nil
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot { case (name, _) => skip(name) }
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) => timeQuery(name, fn) }
    def fmt(v: Double): String = if (v < 0) "-1" else f"$v%.3f"
    def toJson(rs: Seq[(String, Double, Boolean)]): String =
      rs.map { case (k, v, ok) => "\"" + k + "\":" + (if (ok) fmt(v) else "-1") }
        .mkString("{", ",", "}")
    val skipped = skip.toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val failed = results.collect { case (k, _, false) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    // a calibration-pass failure must be as loud as a main-pass one: a -1
    // inside "drift_control" silently poisons the cross-round per-query
    // ratio before a ledger consumer takes the median (r13 ADVICE), so
    // drift failures get their own list AND flip the partial flag
    val driftFailed = drift.collect { case (k, _, false) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results.collect { case (_, v, true) => v }.sum
    val nFailed = results.count(!_._3) + drift.count(!_._3)
    // full per-query detail goes to a FILE, not stdout: the harness keeps
    // only the final ~2 KB of stdout, and two JSON lines (full + compact)
    // proved ambiguous to parse in round 6 — exactly one runner line below.
    val driftJson = if (drift.isEmpty) ""
      else s""","drift_control":${toJson(drift)},"drift_failed":$driftFailed"""
    val full = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":${toJson(results)}$driftJson,"skipped":$skipped,"failed":$failed,"sf":"$sfDir",${RunMeta.jsonFields()}}"""
    val out = java.nio.file.Paths.get("target", "bench_full.json")
    java.nio.file.Files.createDirectories(out.getParent)
    java.nio.file.Files.write(out, (full + "\n").getBytes("UTF-8"))
    // The ONE stdout line (must survive truncation AND parse). Fixed
    // headline set → comparable across rounds. A run with failures is
    // flagged partial and counts only queries that actually ran: a -1
    // sentinel must never masquerade as a faster total.
    // r15 (verdict #2): the original 12 keep cross-round continuity; the
    // 8 additions are the suite's top-cost queries, so the driver's
    // per-query comparison finally sees where the seconds actually go
    // (additions-only — removals/renames read as dropped queries)
    val headline = Seq("q_daily_transactions", "q_top5_zones", "q1_agg",
      "q6_filter_range", "q_join_shuffle", "q_multi_join",
      "q_dedup_minhash_lsh", "q_dedup_embedding_lsh", "q_similarity_topk",
      "q_corpus_clean", "q_training_mix", "q_stream_stream_join",
      "q_dedup_joint", "q_cosine_pairs", "q_contrastive_hard",
      "q_contrastive_triples", "q_dedup_semantic", "q_stream_joint_rejects",
      "q_dedup_prefix", "q_multimodal_perceptual")
    val head = results.filter(r => headline.contains(r._1))
    val partial = if (nFailed > 0) ""","partial":true""" else ""
    val compact = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n_queries":${results.size - nFailed},"n_failed":$nFailed$partial,"queries":${toJson(head)}$driftJson,"failed":$failed,"sf":"$sfDir",${RunMeta.jsonFields()}}"""
    java.nio.file.Files.write(java.nio.file.Paths.get("target", "bench.json"),
      (compact + "\n").getBytes("UTF-8"))
    println(compact)
    spark.stop()
  }
}
