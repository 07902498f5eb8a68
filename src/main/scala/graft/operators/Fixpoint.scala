package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** The one loop of the iterative operators: connected components by
  * large-star/small-star (`Dedup`), the two k-core peels and PageRank
  * (`Graph`). Each caller supplies only its step and either a fixed round
  * count (PageRank) or its certificate columns and, where the certificate
  * is not exact, an exact confirmation; the loop owns the checkpoint, the
  * stop rule, the round cap, the local finish and the per-round events.
  *
  * Convergence rides each round's `localCheckpoint` job (r14, guide §2.4
  * "remove shuffles outright" applied to ACTIONS): every round already pays
  * one materialization job to cut lineage, so the certificate is computed
  * there as observe metrics instead of as separate `count()` / `isEmpty` /
  * `except(...).isEmpty` actions. Each eliminated action is a driver
  * round-trip plus its own AQE stage chain — at sf0.1 the q_dedup_joint
  * family spent more wall in these checks than in all its task compute.
  * The same per-round checkpoint keeps a fixed-rounds plan linear in the
  * round count: a step that reads its state twice (PageRank's rank feeds
  * both the contributions and the update) would otherwise double its plan
  * every round.
  *
  * Soundness contract: observe metrics are exact aggregates of the
  * materialized rows, so equal frames ALWAYS produce equal metrics, and
  * differing metrics prove the frames differ. A caller whose certificate
  * can collide (a hash sum) passes an exact `confirm`, which then runs only
  * on the round whose metrics matched — once per call, at the fixpoint.
  * A null metric over a non-empty frame (a decimal sum overflow) fails
  * loudly: two null rounds would otherwise compare equal and "converge".
  *
  * Local finish: a caller that can compute its result from a state in
  * driver memory passes `local`. Once a checkpointed state's estimated
  * size (`n` × the schema's `defaultSize`) fits
  * `spark.sql.autoBroadcastJoinThreshold`, the loop collects it, applies
  * `local`, and returns the result as a local frame — what Spark would
  * broadcast, the loop may collect. Large-star/small-star is the one
  * caller: PageRank and the near-dup operators apply the same rule one
  * step earlier, to the raw class graph ([[Dedup.nearDupGraph]]), and
  * reach the loop only above the budget. A threshold of -1 turns the local
  * finish off, as it turns broadcasts off.
  *
  * `localCheckpoint` does not survive executor loss; at cluster scale a
  * reliable checkpoint directory would replace it here, in one place. */
private[operators] object Fixpoint {

  /** Round cap of every run to a fixpoint. Reaching it without a confirmed
    * fixpoint throws: a partial propagation or peel would be silently wrong. */
  val MaxRounds = 30

  /** Whether `bytes` fits `spark.sql.autoBroadcastJoinThreshold` (never at
    * -1): what Spark would broadcast, an operator may collect. */
  def fitsBroadcast(s: SparkSession, bytes: Long): Boolean = {
    val budget = s.sessionState.conf.autoBroadcastJoinThreshold
    budget > 0 && bytes <= budget
  }

  /** Iterate `step` from `init` and return the last (checkpointed) state.
    * Every state, `init` included, is localCheckpointed with `count`
    * observed as `n` next to the `cert` columns. Without `rounds` the loop
    * runs to the fixpoint: it stops when a round's metrics equal the
    * previous round's and `confirm(prev, next)` holds. With `rounds = Some(k)`
    * it runs exactly `k` rounds and consults neither `cert` nor `confirm`.
    * Either way it stops early at an empty state (every caller's step maps
    * the empty frame to itself), and — with `local` — as soon as a
    * non-empty state fits the broadcast budget: `local` of its rows is
    * returned instead. Emits one
    * `fixpoint_round` event per round (`op`, `round`, `rows`, `ms`) and one
    * `fixpoint_converged` event (`op`, `rounds`, `local`, and on a local
    * finish the collected `rows` and its `ms`); empty input converges after
    * 0 rounds. */
  def run(op: String, init: DataFrame, cert: Seq[Column] = Nil,
          confirm: (DataFrame, DataFrame) => Boolean = (_, _) => true,
          rounds: Option[Int] = None,
          local: Option[Array[Row] => Seq[Row]] = None)
         (step: DataFrame => DataFrame): DataFrame = {
    val metrics = count(lit(1)).as("n") +: cert
    def checkpoint(df: DataFrame): (DataFrame, Map[String, Any]) = {
      val obs = Observation()
      val out = df.observe(obs, metrics.head, metrics.tail: _*).localCheckpoint()
      val m = obs.get
      for ((k, v) <- m if v == null && m("n") != 0L) throw new IllegalStateException(
        s"$op: certificate metric '$k' is null over ${m("n")} rows — a " +
          "null certificate would compare equal and converge spuriously")
      (out, m)
    }
    var (state, m) = checkpoint(init)
    var round = 0
    var done = m("n") == 0L || rounds.contains(0)
    def fits = !done && local.isDefined &&
      fitsBroadcast(init.sparkSession, m("n").asInstanceOf[Long] * state.schema.defaultSize)
    while (!done && !fits && round < rounds.getOrElse(MaxRounds)) {
      val t0 = System.nanoTime()
      val (next, m2) = checkpoint(step(state))
      round += 1
      done = m2("n") == 0L || rounds.contains(round) ||
        (rounds.isEmpty && m2 == m && confirm(state, next))
      state = next
      m = m2
      graft.StructuredLog.info("fixpoint_round", "op" -> op, "round" -> round,
        "rows" -> m("n"), "ms" -> (System.nanoTime() - t0) / 1000000)
    }
    if (fits) {
      val t0 = System.nanoTime()
      val out = init.sparkSession.createDataFrame(
        local.get(state.collect()).asJava, state.schema)
      graft.StructuredLog.info("fixpoint_converged", "op" -> op, "rounds" -> round,
        "local" -> true, "rows" -> m("n"), "ms" -> (System.nanoTime() - t0) / 1000000)
      out
    } else {
      if (!done) throw new IllegalStateException(
        s"$op: no fixpoint after $MaxRounds rounds (${m("n")} rows remain); " +
          "returning a partial result would be silently wrong")
      graft.StructuredLog.info("fixpoint_converged", "op" -> op, "rounds" -> round,
        "local" -> false)
      state
    }
  }
}
