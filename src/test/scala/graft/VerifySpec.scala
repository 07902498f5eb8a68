package graft

import org.scalatest.funsuite.AnyFunSuite

/** Verify's submission order: longest first by the committed table of
  * last-run seconds, names the table does not know first of all. */
class VerifySpec extends AnyFunSuite {
  test("queries are submitted longest first, unknown names before them") {
    val qs = Seq("q1_agg", "q_not_in_the_table", "q_dedup_ngram", "q_stream_stream_join",
      "q_also_unknown")
    assert(Verify.longestFirst(qs.map(_ -> ())).map(_._1) == Seq("q_not_in_the_table",
      "q_also_unknown", "q_dedup_ngram", "q_stream_stream_join", "q1_agg"))
  }
}
