package graft

import org.scalatest.funsuite.AnyFunSuite

/** Argument parsing of the `graft.Probe` dev main. */
class ProbeSpec extends AnyFunSuite {
  test("parses mode, query list, optional corpus dir and k=v overrides") {
    val c = Probe.parse(Seq("time", "q_a, q_b", "/data/sf1", "a.b=1", "c=x=y", "e="))
    assert(c == Probe.Cmd("time", Seq("q_a", "q_b"), "/data/sf1",
      Map("a.b" -> "1", "c" -> "x=y", "e" -> "")))
    val d = Probe.parse(Seq("plan", "q_a", "spark.sql.autoBroadcastJoinThreshold=-1"))
    assert(d.sfDir == "perfbench/data/sf0.1")
    assert(d.overrides == Map("spark.sql.autoBroadcastJoinThreshold" -> "-1"))
  }

  test("a malformed override, mode or query list fails instead of setting a garbage conf") {
    Seq(Seq("time", "q_a", "/data", "no_equals_sign"),
      Seq("time", "q_a", "/data", "=value"),
      Seq("time", "q_a", "k=v", "nope"),
      Seq("conf", "q_a"),
      Seq("time", " , "),
      Seq("time")).foreach { args =>
      intercept[IllegalArgumentException](Probe.parse(args))
    }
  }
}
