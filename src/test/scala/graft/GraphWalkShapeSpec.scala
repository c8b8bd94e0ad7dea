package graft

import graft.operators.{Similarity, Vectors}

/** The graph walks' job shape, counted by a listener: a walk round is
  * at most one job and that job's plan has no exchange, a round whose
  * frontier was already fetched launches no job, and no walk writes
  * `spark.sql.adaptive.enabled` (session-global conf). */
class GraphWalkShapeSpec extends SparkSpec {
  /** The walk rounds: the only plans the walks build with a Union. */
  private def fetches(r: SqlRecorder): Seq[(String, Int)] =
    r.plans.filter(_._1.contains("Union"))

  private def recorded[T](f: => T): (T, SqlRecorder) = SqlRecorder.recorded(spark)(f)

  private def assertRoundShape(r: SqlRecorder, what: String): Unit = {
    assert(fetches(r).nonEmpty, s"$what: no walk round was recorded")
    for ((plan, jobs) <- fetches(r)) {
      assert(jobs <= 1, s"$what: a round ran $jobs jobs\n$plan")
      assert(!plan.contains("Exchange"), s"$what: a round plans an exchange\n$plan")
    }
    val aqeWrites = r.executions.values.flatMap(_.modifiedConfigs.get("spark.sql.adaptive.enabled"))
    assert(!aqeWrites.exists(_ == "false"), s"$what: ran a query with AQE switched off")
  }

  test("a beam round is one exchange-free job; rounds past the fixpoint launch none") {
    val e = chain(120)
    val g = Similarity.knnGraph(e).localCheckpoint()
    val (fast, rFast) = recorded(Similarity.graphBeamSearch(e, g, 10).collect().toSeq)
    val (full, rFull) = recorded(
      Similarity.graphBeamSearch(e, g, 10, earlyExit = false).collect().toSeq)
    assert(fast == full)
    assertRoundShape(rFast, "beam")
    assertRoundShape(rFull, "beam, earlyExit = false")
    // the chain converges before GraphRounds: the unrolled rounds after
    // the fixpoint find their frontier fetched and launch nothing
    assert(fetches(rFull).size == fetches(rFast).size &&
           fetches(rFull).size < Similarity.GraphRounds + 1,
      s"fetch jobs: earlyExit ${fetches(rFast).size}, unrolled ${fetches(rFull).size}")
    // the entry-point aggregate still plans adaptively: AQE stayed on
    assert(rFull.executions.values.exists(
      _.physicalPlanDescription.contains("AdaptiveSparkPlan")))
  }

  test("batched and ADC walks: every round is one exchange-free job") {
    val g = Similarity.knnGraphCached(spark, sf001)
    val e = Tables.embeddings(spark, sf001)
    val (_, rBatch) = recorded(Similarity.graphBeamBatch(e, g, 10).collect())
    assertRoundShape(rBatch, "batch")
    assert(fetches(rBatch).size <= Similarity.GraphRounds + 1)
    Vectors.pqPrelude(spark, sf001) // the codebook is index state, built outside
    val (_, rPq) = recorded(Vectors.graphPqWalk(spark, sf001, g).collect())
    assertRoundShape(rPq, "ADC walk")
    assert(fetches(rPq).size <= Similarity.GraphRounds + 1)
  }

  test("a fetch of ids already fetched launches no job") {
    val e = chain(40)
    val g = Similarity.knnGraph(e).localCheckpoint()
    val walk = new Similarity.GraphWalk(e, g,
      Seq(Similarity.cosine(org.apache.spark.sql.functions.col("embedding"),
                            org.apache.spark.sql.functions.col("embedding"))))
    val (_, first) = recorded(walk.fetch(Seq(1L, 2L, 3L)))
    assert(first.allJobs == 1, s"first fetch ran ${first.allJobs} jobs")
    val (_, again) = recorded(walk.fetch(Seq(3L, 2L, 1L, 2L)))
    assert(again.allJobs == 0, s"a repeated fetch ran ${again.allJobs} jobs")
    assert(walk.neighbors(2L).nonEmpty && walk.scoresOf(2L).size == 1)
    val (_, more) = recorded(walk.fetch(Seq(3L, 4L)))
    assert(more.allJobs == 1)
    assert(walk.scoresOf(99L).isEmpty && walk.neighbors(99L).isEmpty)
  }
}
