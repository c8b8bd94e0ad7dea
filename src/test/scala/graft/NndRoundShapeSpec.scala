package graft

import graft.operators.Similarity
import org.apache.spark.sql.functions.col

/** NN-descent's plan shape, recorded by a listener, and its rows
  * against the two-projection reference ([[NndDescentReference]]).
  * The plan-shape tests pin the distributed arm (the driver arm plans
  * no round at all). Both NND bodies run with AQE off, so nothing
  * dedupes a subtree a plan holds twice: a round needs 3 `repartition`
  * exchanges — the undirected adjacency, the candidate dedup, topM —
  * and must plan no more. */
class NndRoundShapeSpec extends SparkSpec {
  import NndDescentReference.{bits, duplicates, zeroTies}

  private def repartitions(plan: String): Int =
    "REPARTITION_BY_COL".r.findAllMatchIn(plan).size

  test("the build equals the two-projection rounds row for row on planted " +
       "corpora (chain, zero-score ties, duplicate ids and embeddings)") {
    for ((name, e) <- Seq("chain" -> chain(120), "zero ties" -> zeroTies(spark),
                          "duplicates" -> duplicates(spark))) {
      val got = bits(Similarity.knnGraphNnDescentScored(e))
      assert(got.nonEmpty, name)
      val want = bits(NndDescentReference.knnGraphNnDescentScored(e))
      if (got != want) fail(s"$name: ${got.diff(want).size} rows only in the build, " +
        s"${want.diff(got).size} only in the reference, of ${want.size}")
      // the zero tie reaches the graph: 0.0 scores are kept edges
      if (name == "zero ties") assert(got.count(_._3 == 0L) > 160, name)
    }
  }

  test("an NN-descent round plans its candidate pipeline once") {
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    val e = chain(120)
    val ((_, counts), r) = SqlRecorder.recorded(spark)(
      JobCounter.countsOf(spark)(Similarity.knnGraphNnDescentDistributed(e).collect()))
    val perPlan = r.plans.map { case (p, _) => repartitions(p) }
    assert(perPlan.count(_ == 3) == Similarity.NndRounds,
      s"one 3-exchange plan per round expected, got $perPlan")
    for ((plan, _) <- r.plans)
      assert(repartitions(plan) <= 3, s"a plan holds a subtree twice\n$plan")
    // 10 jobs at 4 partitions: the seed and the 3 rounds' checkpoints,
    // the corpus-count broadcast, the v broadcasts, the final collect;
    // the two-projection rounds paid the same jobs in 28 stages
    assert((counts.jobs, counts.stages) == (10, 22),
      s"jobs/stages/tasks ${counts.jobs}/${counts.stages}/${counts.tasks}")
  }

  test("the DiskANN insert patch plans each subtree once") {
    val all = chain(120)
    val base = all.where(col("vec_id") % Similarity.NndAppendMod =!= Similarity.NndAppendMod - 1)
    val newV = all.where(col("vec_id") % Similarity.NndAppendMod === Similarity.NndAppendMod - 1)
    val scored = Similarity.knnGraphNnDescentDistributed(base).localCheckpoint()
    val ((_, counts), r) = SqlRecorder.recorded(spark)(
      JobCounter.countsOf(spark)(Similarity.nndInsertGraph(all, base, scored, newV).collect()))
    assert(r.plans.nonEmpty)
    for ((plan, _) <- r.plans)
      assert(repartitions(plan) <= 3, s"a plan holds a subtree twice\n$plan")
    assert((counts.jobs, counts.stages) == (7, 13),
      s"jobs/stages/tasks ${counts.jobs}/${counts.stages}/${counts.tasks}")
  }
}
