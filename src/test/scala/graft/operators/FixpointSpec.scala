package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{SparkSpec, StructuredLog}

/** The shared fixpoint loop: its stop rule, round cap, fixed rounds, null
  * guard, local finish and events, and the operators that run through it —
  * the four in src/main and the label-propagation reference
  * ([[LabelPropagation]]) — plus the broadcast-budget rule of the near-dup
  * class graph ([[Dedup.nearDupGraph]]), which decides whether PageRank
  * and the near-dup operators reach the loop at all. */
class FixpointSpec extends SparkSpec with org.scalatest.LoneElement {
  import spark.implicits._

  /** `fixpoint_*` events (or those whose line starts with `prefix`)
    * emitted while `body` runs, as key→value maps. */
  private def eventsOf[T](body: => T, prefix: String = "event=fixpoint_")
      : (Either[Throwable, T], Seq[Map[String, String]]) = {
    val events = scala.collection.mutable.ArrayBuffer.empty[Map[String, String]]
    val listener = (_: String, l: String) => synchronized {
      if (l.startsWith(prefix)) events += l.split(" ")
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

  /** GraphSpec's dup-text fixture: a near-dup family a/b/c of
    * multiplicities 3/2/1 (3 rep edges), a singleton, an exact-dup pair and
    * an exact-dup triple. */
  private lazy val dupTexts = {
    val base = (1 to 20).map(i => s"w$i").mkString(" ")
    val Seq(d, e, f) = Seq("z", "y", "x").map(p => (1 to 20).map(i => s"$p$i").mkString(" "))
    Seq(1L -> base, 2L -> base, 3L -> base, 4L -> s"$base extra", 5L -> s"$base extra",
      6L -> s"$base extra more", 7L -> d, 8L -> e, 9L -> e, 10L -> f, 11L -> f, 12L -> f)
      .toDF("doc_id", "text")
  }

  /** Every event of `body` (`neardup_graph` and `fixpoint_*` here) under a
    * broadcast budget of `budget`. */
  private def underBudget[T](budget: Long)(body: => T) = eventsOf(withConf(
    "spark.sql.autoBroadcastJoinThreshold", budget.toString)(body),
    prefix = "event=")

  test("pagerank finishes on the driver exactly when its class graph fits the broadcast budget") {
    // the bound of the touched classes: E edges of (doc_a, doc_b, jaccard)
    // at 24 B; 2E + c2 class rows of (gid, m, members, text) at 8 + 8 + 8 +
    // 20 B; 2E + mm members at 8 B. The fixture has E = 3 and four classes
    // of m >= 2 with 10 members between them
    val (e, c2, mm) = (3L, 4L, 10L)
    val bytes = e * 24 + (2 * e + c2) * 44 + (2 * e + mm) * 8
    def ranked(budget: Long) = underBudget(budget)(
      Graph.docPageRank(dupTexts, 3).as[(Long, Long, Double)].collect().sortBy(_._1).toSeq)
    def graph(events: Seq[Map[String, String]]) =
      events.filter(_("event") == "neardup_graph").loneElement
    // one byte short: the class graph stays distributed and all three
    // rounds run through the loop, one event each
    val (over, overEvents) = ranked(bytes - 1)
    assert(graph(overEvents)("local") == "false" &&
      graph(overEvents)("bytes") == bytes.toString, overEvents)
    assert(overEvents.filter(_("event").startsWith("fixpoint_"))
      .map(e => (e("event"), e.get("round"))) ==
      (1 to 3).map(r => ("fixpoint_round", Some(r.toString))) :+
        (("fixpoint_converged", None)), overEvents)
    assert(overEvents.last("local") == "false" && overEvents.last("rounds") == "3", overEvents)
    // at exactly the budget the class graph is collected and ranked on the
    // driver: no round, no loop at all
    val (under, underEvents) = ranked(bytes)
    assert(graph(underEvents) - "ms" == Map("event" -> "neardup_graph", "local" -> "true",
      "classes" -> "6", "edges" -> "3", "bytes" -> bytes.toString), underEvents)
    assert(underEvents.size == 1, underEvents)
    assert(under == over && over.isRight && over.toOption.get.size == 11,
      s"under=$under\nover=$over")
  }

  test("near-dup pairs expand on the driver only when their output fits the budget too") {
    // 40 copies of one text and 5 of a near-dup edit: a class graph of
    // one edge and two classes of m >= 2 (24 + 4 × 44 + 47 × 8 = 576 B),
    // but 40 × 5 cross pairs and C(40, 2) + C(5, 2) within-class pairs at
    // 24 B each
    val base = (1 to 20).map(i => s"w$i").mkString(" ")
    val docs = ((1L to 40L).map(_ -> base) ++ (41L to 45L).map(_ -> s"$base extra"))
      .toDF("doc_id", "text")
    val (graphBytes, pairBytes) = (576L, (200L + 780 + 10) * 24)
    def pairsOf(budget: Long) = underBudget(budget) {
      val p = Dedup.minhashNearDupPairsOf(docs)
      (p.isLocal, p.as[(Long, Long, Double)].collect().sortBy(p => (p._1, p._2)).toSeq)
    }
    val (fits, fitsEvents) = pairsOf(pairBytes)
    val (graphOnly, graphOnlyEvents) = pairsOf(pairBytes - 1)
    val (neither, neitherEvents) = pairsOf(graphBytes - 1)
    assert(fitsEvents.map(e => (e("local"), e("bytes"))) == Seq(("true", "576")), fitsEvents)
    assert(graphOnlyEvents.map(_("local")) == Seq("true"), graphOnlyEvents)
    assert(neitherEvents.map(_("local")) == Seq("false"), neitherEvents)
    // the driver expands only when the output fits; the rows never change
    assert(fits.map(_._1) == Right(true) && graphOnly.map(_._1) == Right(false) &&
      neither.map(_._1) == Right(false), (fits, graphOnly, neither))
    assert(fits.map(_._2) == graphOnly.map(_._2) && fits.map(_._2) == neither.map(_._2))
    assert(fits.toOption.get._2.size == 990)
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
    // PageRank reaches the loop only when its class graph stays distributed
    val (out, events) = eventsOf(Seq(
      LabelPropagation.connectedComponents(pairs), Dedup.connectedComponentsLss(pairs),
      Graph.kCore(pairs, 2), Graph.docKCore(docs, 2),
      withoutBroadcast(Graph.docPageRank(docs, 3)))
      .map(_.isEmpty))
    assert(out == Right(Seq(true, true, true, true, true)), out)
    assert(events.map(e => (e("event"), e("op"), e("rounds"))) == Seq(
      ("fixpoint_converged", "connectedComponents", "0"),
      ("fixpoint_converged", "connectedComponentsLss", "0"),
      ("fixpoint_converged", "kCore", "0"),
      ("fixpoint_converged", "docKCore", "0"),
      ("fixpoint_converged", "docPageRank", "0")), events)
    // under the default budget the empty class graph is collected and each
    // near-dup operator finishes on the driver, with no loop
    val (local, localEvents) = eventsOf(Seq(Graph.docPageRank(docs, 3),
      Dedup.docNearDupClustersLss(docs), Dedup.minhashNearDupPairsOf(docs))
      .map(df => (df.isLocal, df.isEmpty)), prefix = "event=")
    assert(local == Right(Seq.fill(3)((true, true))), local)
    assert(localEvents.map(_ - "ms") == Seq.fill(3)(Map("event" -> "neardup_graph",
      "local" -> "true", "classes" -> "0", "edges" -> "0", "bytes" -> "0")), localEvents)
  }
}
