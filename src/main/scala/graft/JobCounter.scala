package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftx.shims

/** Spark jobs, stages and tasks launched while a block runs, counted by
  * a listener. The listener bus is drained before and after the block,
  * so the counts are complete when returned; time the block inside `f`
  * to keep the drains off the clock. Jobs other threads launch on the
  * same context land in the count too. */
object JobCounter {
  /** Written by the listener bus's one dispatch thread. `stageRows`:
    * each completed stage as (id, tasks, wall ms, its name's first line). */
  final class Counts extends SparkListener {
    @volatile var jobs, stages, tasks = 0
    @volatile var stageRows = Vector.empty[(Int, Int, Long, String)]
    override def onJobStart(j: SparkListenerJobStart): Unit = jobs += 1
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = tasks += 1
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val si = sc.stageInfo
      val ms = (for (s <- si.submissionTime; c <- si.completionTime) yield c - s).getOrElse(-1L)
      stages += 1
      stageRows :+= ((si.stageId, si.numTasks, ms, si.name.split("\n").head.take(60)))
    }
  }

  def countsOf[T](spark: SparkSession)(f: => T): (T, Counts) = {
    shims.drainListeners(spark)
    val c = new Counts
    spark.sparkContext.addSparkListener(c)
    try {
      val out = f
      shims.drainListeners(spark)
      (out, c)
    } finally spark.sparkContext.removeSparkListener(c)
  }

  def jobsOf[T](spark: SparkSession)(f: => T): (T, Int) = {
    val (out, c) = countsOf(spark)(f)
    (out, c.jobs)
  }
}
