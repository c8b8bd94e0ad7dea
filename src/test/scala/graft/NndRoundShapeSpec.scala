package graft

import graft.operators.Similarity
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** NN-descent's plan shape, recorded by a listener, and its rows
  * against the two-projection reference ([[NndDescentReference]]).
  * Both NND bodies run with AQE off, so nothing dedupes a subtree a
  * plan holds twice: a round needs 3 `repartition` exchanges — the
  * undirected adjacency, the candidate dedup, topM — and must plan
  * no more. */
class NndRoundShapeSpec extends SparkSpec {
  import spark.implicits._

  private def repartitions(plan: String): Int =
    "REPARTITION_BY_COL".r.findAllMatchIn(plan).size

  /** 160 vectors in 32 dims, one unit axis each (i % 32), with a
    * ±1e-6 or 0 leak into the next axis: every cross-axis raw cosine
    * is a tiny positive, a tiny negative or exactly 0, and all of them
    * pin to a 0.0 score. Each vector has 4 same-axis neighbours (a
    * score of 1.0), fewer than GraphM, so every top-M cut and every
    * adjacency cap falls inside a wide zero tie, whose negation (-0.0)
    * keys the adjacency sort. */
  private def zeroTies: DataFrame = (0L until 160L).map { i =>
    val axis = (i % 32).toInt
    val leak = ((i / 32) % 3 - 1) * 1e-6
    (i, Array.tabulate(32)(d =>
      if (d == axis) 1.0f else if (d == (axis + 1) % 32) leak.toFloat else 0.0f))
  }.toDF("vec_id", "embedding")

  /** 150 ids over 6 embeddings (exact cosine ties everywhere), plus
    * duplicate vec_id rows: 7 a second time with another vector, 11 a
    * second time with its own — one pair then scores twice. */
  private def duplicates: DataFrame = {
    val patterns = Array.tabulate(6, 16)((p, d) => ((p * 7 + d * 3) % 5 - 2).toFloat)
    val rows = (0L until 150L).map(i => (i, patterns((i % 6).toInt)))
    (rows ++ Seq((7L, patterns(2)), (11L, patterns(5)))).toDF("vec_id", "embedding")
  }

  /** (vec_id, nbr_id, cos bits), sorted: -0.0 and 0.0 differ here. */
  private def bits(df: DataFrame): Seq[(Long, Long, Long)] =
    df.select("vec_id", "nbr_id", "cos").collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), java.lang.Double.doubleToRawLongBits(r.getDouble(2))))
      .sorted

  test("the build equals the two-projection rounds row for row on planted " +
       "corpora (chain, zero-score ties, duplicate ids and embeddings)") {
    for ((name, e) <- Seq("chain" -> chain(120), "zero ties" -> zeroTies,
                          "duplicates" -> duplicates)) {
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
      JobCounter.countsOf(spark)(Similarity.knnGraphNnDescentScored(e).collect()))
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
    val scored = Similarity.knnGraphNnDescentScored(base).localCheckpoint()
    val ((_, counts), r) = SqlRecorder.recorded(spark)(
      JobCounter.countsOf(spark)(Similarity.nndInsertGraph(all, base, scored, newV).collect()))
    assert(r.plans.nonEmpty)
    for ((plan, _) <- r.plans)
      assert(repartitions(plan) <= 3, s"a plan holds a subtree twice\n$plan")
    assert((counts.jobs, counts.stages) == (7, 13),
      s"jobs/stages/tasks ${counts.jobs}/${counts.stages}/${counts.tasks}")
  }
}
