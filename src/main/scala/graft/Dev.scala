package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression, LambdaFunction, Size}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}

/** Dev tool over `SparkEntry.queries`, on the `Session` factory's session:
  * `SPARK_GRAFT_CPUS=N sbt "runMain graft.Dev <time|plan|sweep> <sfDir> [query ...]"`.
  * No query names means every query, in name order. The first line is
  * `cpus=N`, so every number printed carries its core count.
  *  - `time`: wall time, rows, and the jobs/stages/tasks each query
  *    launched (each job is a driver-synchronized barrier), with its
  *    slowest stages, each named after the query (its call site).
  *    Bench's measurement shape: warm-up outside the clock, `count()`
  *    once, cache cleared per query.
  *  - `plan`: the formatted plan of each query, to eyeball pushdown,
  *    broadcast and shuffle shape (PlanAuditSpec pins the load-bearing
  *    properties).
  *  - `sweep`: one `HIT` line per `offendingFilters` hit in each query's
  *    optimized plan. */
object Dev {
  def main(args: Array[String]): Unit = {
    val cmds = Map("time" -> time _, "plan" -> plan _, "sweep" -> sweep _)
    require(args.length >= 2 && cmds.contains(args(0)), "usage: graft.Dev <time|plan|sweep> <sfDir> [query ...]")
    println(s"cpus=${Session.cpus}")
    val spark = Session.build(Session.cpus)
    val names = if (args.length > 2) args.drop(2).toSeq else SparkEntry.queries.keys.toSeq.sorted
    try cmds(args(0))(spark, args(1), names) finally spark.stop()
  }

  def time(spark: SparkSession, sfDir: String, names: Seq[String]): Unit = {
    try {
      spark.range(1000).selectExpr("sum(id)").collect()
      spark.read.parquet(s"$sfDir/region.parquet").groupBy("r_name").count().collect()
    } catch { case _: Throwable => }
    for (n <- names) {
      val ((rows, dt), c) = JobCounter.countsOf(spark)(JobCounter.named(spark, n) {
        val t0 = System.nanoTime()
        val rows = SparkEntry.queries(n)(spark, sfDir).count()
        (rows, (System.nanoTime() - t0) / 1e9)
      })
      println(f"$n%-28s $dt%8.2f s  rows=$rows  jobs=${c.jobs} stages=${c.stages} tasks=${c.tasks}")
      c.stageRows.sortBy(-_._3).take(10).foreach { case (id, nt, ms, nm) =>
        println(f"    stage $id%5d  $ms%6d ms  $nt%4d tasks  $nm")
      }
      spark.sharedState.cacheManager.clearCache()
    }
  }

  def plan(spark: SparkSession, sfDir: String, names: Seq[String]): Unit =
    for (n <- names) {
      println(s"===== $n =====")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }

  def sweep(spark: SparkSession, sfDir: String, names: Seq[String]): Unit = {
    var hits = 0
    for (n <- names) {
      try {
        val bad = offendingFilters(SparkEntry.queries(n)(spark, sfDir).queryExecution.optimizedPlan)
        hits += bad.size
        bad.foreach { case (kind, cond) => println(s"HIT\t$n\t$kind\t$cond") }
      } catch { case e: Throwable => println(s"ERR\t$n\t${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(120)}") }
    }
    println(s"SWEEP DONE: $hits offending filters across ${names.size} queries")
  }

  /** Filters of the InferFiltersFromGenerate duplication class (the
    * dedup_cdc_chunks 108× bug, commit ba29383): a Filter whose
    * condition carries an inlined expensive generator-feed expression —
    * either a higher-order-function lambda inside the condition, or a
    * size(<non-attribute>) guard (the exact shape the rule synthesizes
    * and predicate pushdown then substitutes the projection into). */
  def offendingFilters(plan: LogicalPlan): Seq[(String, String)] =
    plan.collect {
      case f: Filter if hasLambda(f.condition) =>
        ("lambda-in-filter", f.condition.sql.take(160))
      case f: Filter if sizeOfComputed(f.condition) =>
        ("size-of-computed", f.condition.sql.take(160))
    }

  private def hasLambda(e: Expression): Boolean =
    e.exists(_.isInstanceOf[LambdaFunction])
  private def sizeOfComputed(e: Expression): Boolean =
    e.exists {
      case Size(c, _) => !c.isInstanceOf[AttributeReference]
      case _ => false
    }
}
