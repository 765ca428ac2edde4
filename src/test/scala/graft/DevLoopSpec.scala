package graft

import org.scalatest.funsuite.AnyFunSuite

/** The harness pieces Bench, Verify and ExplainAll share: the
  * `SPARK_GRAFT_ONLY` query filter and the bench's stall count.
  */
class DevLoopSpec extends AnyFunSuite {

  test("query filter: unset, empty or blank selects the full catalog") {
    val all = SparkEntry.queries.keys.toSeq.sorted
    for (raw <- Seq(None, Some(""), Some("  "), Some(" , ,")))
      assert(QueryFilter.names(raw) == all, s"raw=$raw")
  }

  test("query filter: a comma list selects those queries, sorted, and drops unknown names") {
    assert(QueryFilter.names(Some(" q1_agg,j2_asof ,nope")) == Seq("j2_asof", "q1_agg"))
  }

  test("stall count: sub-second jitter on a fast query is not a stall") {
    // 0.10 → 0.16 / 0.30 s is ≥ 1.5× the min but under the 0.25 s floor
    assert(Bench.stalledSamples(Seq(Seq(0.10, 0.16, 0.30), Seq(1.0, 1.1, 1.2))) == 0)
  }

  test("stall count: a 10 s stall is counted") {
    assert(Bench.stalledSamples(Seq(Seq(2.0, 12.0, 2.1), Seq(0.5, 0.5, 0.6))) == 1)
  }
}
