package graft

import org.scalatest.funsuite.AnyFunSuite

/** `graft.Bench` times only the queries that succeed: a query that
  * throws is left out of the total and listed under `failed`. */
class BenchSpec extends AnyFunSuite {
  test("a failed query is untimed, left out of the total and listed as failed") {
    var cleared = 0
    val (timed, failed) = Bench.timeQueries(Seq(
      "ok_a" -> (() => 1L),
      "bad" -> (() => { Thread.sleep(200); throw new IllegalStateException("boom") }),
      "ok_b" -> (() => 2L)),
      () => cleared += 1)
    assert(timed.map(_._1) == Seq("ok_a", "ok_b"))
    assert(timed.forall(_._2 >= 0.0))
    assert(failed == Seq("bad"))
    assert(cleared == 3, "the per-query cleanup must run after failures too")
    val (compact, full) = Bench.report(timed, failed, "/sf")
    val total = timed.map(_._2).sum
    assert(total < 0.2, s"the failed query's 0.2 s reached the timings: $total")
    for (line <- Seq(compact, full)) {
      assert(line.contains(""""failed":["bad"]"""), line)
      assert(!line.contains(""""bad":"""), s"the failed query was timed: $line")
    }
    assert(compact.contains(""""n_queries":3""") && compact.contains(""""n_failed":1"""), compact)
    assert(full.contains(s""""value":$total,"""), full)
  }

  test("a clean run reports an empty failed list") {
    val (timed, failed) = Bench.timeQueries(Seq("q" -> (() => 0L)))
    assert(failed.isEmpty)
    val (compact, full) = Bench.report(timed, failed, "/sf")
    assert(compact.contains(""""n_failed":0,"failed":[]""") && full.contains(""""failed":[]"""))
  }
}
