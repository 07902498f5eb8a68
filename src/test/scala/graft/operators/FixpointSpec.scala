package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{SparkSpec, StructuredLog}

/** The shared fixpoint loop: its stop rule, round cap, fixed rounds, null
  * guard, local finish and events, and the operators that run through it —
  * the four in src/main and the label-propagation reference
  * ([[LabelPropagation]]). */
class FixpointSpec extends SparkSpec with org.scalatest.LoneElement {
  import spark.implicits._

  /** `fixpoint_*` events emitted while `body` runs, as key→value maps. */
  private def eventsOf[T](body: => T): (Either[Throwable, T], Seq[Map[String, String]]) = {
    val events = scala.collection.mutable.ArrayBuffer.empty[Map[String, String]]
    val listener = (_: String, l: String) => synchronized {
      if (l.startsWith("event=fixpoint_")) events += l.split(" ")
        .map { kv => val Array(k, v) = kv.split("=", 2); k -> v }.toMap: Unit
    }
    StructuredLog.addListener(listener)
    val out = try Right(body) catch { case t: Throwable => Left(t) }
    finally StructuredLog.removeListener(listener)
    (out, events.toSeq)
  }

  // a 40-node path: its minimum label must travel 39 hops, past the cap
  private def path(from: Long = 0L) =
    (from until from + 39L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")

  test("label propagation fails at the round cap on a 40-node path; LSS labels it one component") {
    val (lp, lpEvents) = eventsOf(LabelPropagation.connectedComponents(path()))
    val err = lp.swap.getOrElse(fail(s"returned a partial labelling: $lp"))
    assert(err.isInstanceOf[IllegalStateException], err)
    assert(err.getMessage.contains("connectedComponents") &&
      err.getMessage.contains(s"${Fixpoint.MaxRounds} rounds"), err.getMessage)
    assert(lpEvents.count(_("event") == "fixpoint_round") == Fixpoint.MaxRounds)
    assert(!lpEvents.exists(_("event") == "fixpoint_converged"), lpEvents)

    def lssOf = Dedup.connectedComponentsLss(path()).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("label")).toMap
    val (lss, lssEvents) = eventsOf(lssOf)
    assert(lss == Right((0L until 40L).map(_ -> 0L).toMap), lss.toString)
    assert(lssEvents.last("local") == "true", lssEvents)
    // the distributed rounds, with the local finish off
    val (rounds, roundsEvents) = eventsOf(withoutBroadcast(lssOf))
    assert(rounds == lss, rounds.toString)
    assert(roundsEvents.last("local") == "false" &&
      roundsEvents.last("rounds").toInt >= 1, roundsEvents)
  }

  /** LSS's `fixpoint_converged` event under a broadcast budget of `budget`. */
  private def lssConverged(pairs: DataFrame, budget: Long) = {
    val (out, events) = eventsOf(withConf(
      "spark.sql.autoBroadcastJoinThreshold", budget.toString)(
      Dedup.connectedComponentsLss(pairs).collect()))
    assert(out.isRight, out)
    events.filter(_("event") == "fixpoint_converged").loneElement
  }

  // a canonical edge is two longs: 16 bytes against the budget
  private val EdgeBytes = 16L

  test("lss finishes locally exactly when its edge set fits the broadcast budget") {
    // every state of a connected 40-node graph holds >= 39 edges, so a
    // budget one byte short of 39 edges never fits: the rounds run to the
    // fixpoint
    val over = lssConverged(path(), 39 * EdgeBytes - 1)
    assert(over("local") == "false" && over("rounds").toInt >= 1, over)
    // at exactly 39 edges the initial state fits: no round at all
    val under = lssConverged(path(), 39 * EdgeBytes)
    assert(under("local") == "true" && under("rounds") == "0" && under("rows") == "39", under)
    // a clique K_m (m(m-1)/2 edges) collapses to its (m-1)-edge star in one
    // round; a budget between the two finishes locally after that round
    val m = 8
    val clique = (for (a <- 0 until m; b <- a + 1 until m) yield (a.toLong, b.toLong))
      .toDF("doc_a", "doc_b")
    val k = lssConverged(clique, EdgeBytes * m * (m - 1) / 2 - 1)
    assert(k("local") == "true" && k("rounds") == "1" && k("rows") == (m - 1).toString, k)
    // -1 turns the local finish off with broadcasts
    val off = lssConverged(clique, -1)
    assert(off("local") == "false", off)
  }

  test("pagerank finishes on the driver exactly when its class graph fits the broadcast budget") {
    // a path of 5 classes of multiplicity 2, none a clique: 5 state rows
    // and 8 directed edges
    val nodes = (1L to 5L).map(i => (i, 2L, false, Seq(i)))
      .toDF("gid", "m", "clique", "members")
    val edges = (1L to 4L).flatMap(i => Seq((i, i + 1), (i + 1, i))).toDF("src", "dst")
    // a state row is gid, m, members (one long), deg, n and pr at 8 B each
    // plus the 1 B clique flag; a directed edge is two longs
    val bytes = 5 * (6 * 8L + 1) + 8 * EdgeBytes
    def ranked(budget: Long) = eventsOf(withConf(
      "spark.sql.autoBroadcastJoinThreshold", budget.toString)(
      Graph.classPageRank(nodes, edges, 3).select("gid", "pr").as[(Long, Double)]
        .collect().sortBy(_._1).toSeq))
    // one byte short: all three rounds run distributed, one event each
    val (over, overEvents) = ranked(bytes - 1)
    assert(overEvents.map(e => (e("event"), e.get("round"))) ==
      (1 to 3).map(r => ("fixpoint_round", Some(r.toString))) :+
        (("fixpoint_converged", None)), overEvents)
    assert(overEvents.last("local") == "false" && overEvents.last("rounds") == "3", overEvents)
    // at exactly the budget the initial state is collected: no round at all
    val (under, underEvents) = ranked(bytes)
    val converged = underEvents.loneElement
    assert(converged("local") == "true" && converged("rounds") == "0" &&
      converged("rows") == "5", converged)
    assert(under == over && over.isRight, s"under=$under\nover=$over")
  }

  test("label propagation releases its cached edge list when it throws") {
    def persisted = spark.sparkContext.getPersistentRDDs
    val before = persisted.keySet
    // a path of its own: an edge list still cached from an earlier call on
    // the same input would be reused instead of registered anew
    intercept[IllegalStateException](LabelPropagation.connectedComponents(path(1000L)))
    // every round's localCheckpoint also registers its (lineage-only) RDD
    // until it is garbage-collected; the cached edge list must be gone
    val leaked = persisted.filter { case (id, rdd) =>
      !before.contains(id) && !rdd.isCheckpointed }
    assert(leaked.isEmpty, leaked.values.map(_.toDebugString).mkString("\n"))
  }

  test("a null certificate over a non-empty frame fails loudly") {
    val nullCert = Seq(max(lit(null).cast("long")).as("c"))
    val err = intercept[IllegalStateException](
      Fixpoint.run("nullCert", spark.range(3).toDF(), nullCert)(identity))
    assert(err.getMessage.contains("nullCert") && err.getMessage.contains("'c'"),
      err.getMessage)
    // over an empty frame the same certificate is null by definition: no
    // rounds run and the empty frame is the fixpoint
    val (empty, events) = eventsOf(
      Fixpoint.run("nullCertEmpty", spark.range(0).toDF(), nullCert)(identity))
    assert(empty.toOption.get.isEmpty)
    assert(events.map(e => e("event") -> e("rounds")) ==
      Seq("fixpoint_converged" -> "0"), events)
  }

  test("equal certificates converge only once the exact confirmation holds") {
    // rotating {0,1,2} keeps (count, sum) fixed every round while the rows
    // change; a never-true confirmation must run into the cap
    val rotate = (df: DataFrame) => df.select(((col("id") + 1) % 3).as("id"))
    val cert = Seq(sum(col("id")).as("s"))
    val (capped, events) = eventsOf(Fixpoint.run("rotate", spark.range(3).toDF(),
      cert, confirm = (_, _) => false)(rotate))
    assert(capped.left.toOption.exists(_.getMessage.contains("rotate")), capped)
    assert(events.map(_("round").toInt) == (1 to Fixpoint.MaxRounds), events)
    // an identity step reproduces its input: equal certificates, the exact
    // set-equality confirmation holds, and the loop stops after one round
    val (same, sameEvents) = eventsOf(Fixpoint.run("identity", spark.range(3).toDF(),
      cert, confirm = (a, b) => a.except(b).isEmpty && b.except(a).isEmpty)(identity))
    assert(same.toOption.get.as[Long].collect().sorted.toSeq == Seq(0L, 1L, 2L))
    assert(sameEvents.last == Map("event" -> "fixpoint_converged",
      "op" -> "identity", "rounds" -> "1", "local" -> "false"), sameEvents)
  }

  test("empty input to every fixpoint operator is empty after 0 rounds") {
    val pairs = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    val docs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val (out, events) = eventsOf(Seq(
      LabelPropagation.connectedComponents(pairs), Dedup.connectedComponentsLss(pairs),
      Graph.kCore(pairs, 2), Graph.docKCore(docs, 2), Graph.docPageRank(docs, 3))
      .map(_.isEmpty))
    assert(out == Right(Seq(true, true, true, true, true)), out)
    assert(events.map(e => (e("event"), e("op"), e("rounds"))) == Seq(
      ("fixpoint_converged", "connectedComponents", "0"),
      ("fixpoint_converged", "connectedComponentsLss", "0"),
      ("fixpoint_converged", "kCore", "0"),
      ("fixpoint_converged", "docKCore", "0"),
      ("fixpoint_converged", "docPageRank", "0")), events)
  }
}
