package graft

/** `graft.Bench` times only the queries that succeed: a query that
  * throws is left out of the total and listed under `failed`. Both
  * output lines say which session config produced them. */
class BenchSpec extends SparkSpec {
  test("a failed query is untimed, left out of the total and listed as failed") {
    var cleared = 0
    val (timed, failed) = Bench.timeQueries(spark, Seq(
      "ok_a" -> (() => 1L),
      "bad" -> (() => { Thread.sleep(200); throw new IllegalStateException("boom") }),
      "ok_b" -> (() => 2L)),
      () => cleared += 1)
    assert(timed.map(_._1) == Seq("ok_a", "ok_b"))
    assert(timed.forall(_._2 >= 0.0))
    assert(failed == Seq("bad"))
    assert(cleared == 3, "the per-query cleanup must run after failures too")
    val (compact, full) = Bench.report(timed, failed, "/sf", Bench.config(spark))
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
    val (timed, failed) = Bench.timeQueries(spark, Seq("q" -> (() => 0L)))
    assert(failed.isEmpty)
    val (compact, full) = Bench.report(timed, failed, "/sf", Bench.config(spark))
    assert(compact.contains(""""n_failed":0,"failed":[]""") && full.contains(""""failed":[]"""))
  }

  test("both lines carry the session config; the full line carries per-query jobs") {
    val (timed, failed) = Bench.timeQueries(spark, Seq(
      "two_jobs" -> (() => { spark.sparkContext.parallelize(1 to 4).count(); spark.sparkContext.parallelize(1 to 4).count() }),
      "no_job" -> (() => 0L)))
    assert(timed.map(t => t._1 -> t._3) == Seq("two_jobs" -> 2, "no_job" -> 0))
    val (compact, full) = Bench.report(timed, failed, "/sf", Bench.config(spark))
    for (line <- Seq(compact, full))
      assert(line.contains(""""cpus":4,"master":"local[4]","shuffle_partitions":4,"aqe":true"""), line)
    assert(full.contains(""""jobs":{"two_jobs":2,"no_job":0}"""), full)
  }

  test("the compact line fits the driver's ~2000-char output tail in the worst case") {
    // every query run; the 50 longest names fill the slowest-25 map (at
    // 4-digit seconds) and the failed list; 3-digit cpus, AQE off
    val byLength = SparkEntry.queries.keys.toSeq.sortBy(n => (-n.length, n))
    val failed = byLength.slice(25, 50)
    val timed = byLength.take(25).map(n => (n, 9999.999, 999)) ++
      byLength.drop(50).map(n => (n, 0.001, 1))
    val config = Bench.config(spark).replace("4", "256").replace("true", "false")
    val (compact, _) = Bench.report(timed, failed, sf001, config)
    assert(compact.contains(""""n_queries":443,"""), compact)
    assert(compact.length < 2000, s"${compact.length} chars: $compact")
  }
}
