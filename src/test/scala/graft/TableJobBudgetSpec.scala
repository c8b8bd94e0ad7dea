package graft

import graft.JobCounter.{jobsOf, withConfs}
import graft.operators.{Aggregations, Joins, Ragged, SortSetOps, Windows}

/** Job budget of the engine-side `ragged_analytics` benchmark queries,
  * counted by a listener: once their tables' schemas are known, building
  * a query launches no job, and at 32 shuffle partitions a single-table
  * query runs in at most 4 jobs and the two-table join in at most 5. */
class TableJobBudgetSpec extends SparkSpec {

  /** operation -> (module query map, job budget at 32 partitions) */
  private val ops: Seq[(String, Map[String, Tables.Q], Int)] = Seq(
    ("ragged_pack", Ragged.queries, 4),
    ("agg_hash_groupby", Aggregations.queries, 4),
    ("ragged_explode", Ragged.queries, 4),
    ("join_inner_hash", Joins.queries, 5),
    ("ragged_reduce_hof", Ragged.queries, 4),
    ("win_rank", Windows.queries, 4),
    ("ragged_zip", Ragged.queries, 4),
    ("topk_per_group_native", SortSetOps.queries, 4),
    ("categ_index", Ragged.queries, 4))

  private def build(name: String, q: Map[String, Tables.Q]) = q(name)(spark, sf001)

  test("building the nine queries a second time launches no job") {
    ops.foreach { case (name, q, _) => build(name, q) }
    val (_, jobs) = jobsOf(spark)(ops.foreach { case (name, q, _) => build(name, q) })
    assert(jobs == 0, s"rebuilding the queries ran $jobs jobs")
  }

  test("at 32 shuffle partitions each query runs within its job budget") {
    withConfs(spark, "spark.sql.shuffle.partitions" -> "32") {
      ops.foreach { case (name, q, _) => build(name, q) }
      val over = ops.flatMap { case (name, q, budget) =>
        val (_, jobs) = jobsOf(spark)(
          build(name, q).write.format("noop").mode("overwrite").save())
        if (jobs > budget) Some(s"$name: $jobs jobs > $budget") else None
      }
      assert(over.isEmpty, over.mkString("; "))
    }
  }
}
