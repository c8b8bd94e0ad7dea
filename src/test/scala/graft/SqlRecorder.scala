package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.graftx.shims
import scala.collection.mutable

/** SQL executions (plan, modified confs) and their job counts. */
final class SqlRecorder extends SparkListener {
  val executions = mutable.LinkedHashMap.empty[Long, SparkListenerSQLExecutionStart]
  val jobs = mutable.HashMap.empty[Long, Int].withDefaultValue(0)
  var allJobs = 0
  override def onOtherEvent(ev: SparkListenerEvent): Unit = ev match {
    case s: SparkListenerSQLExecutionStart => synchronized(executions(s.executionId) = s)
    case _ =>
  }
  override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
    allJobs += 1
    Option(j.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .foreach(id => jobs(id.toLong) += 1)
  }
  /** Each recorded execution's physical plan and its job count. */
  def plans: Seq[(String, Int)] = synchronized {
    executions.values.toSeq.map(s => (s.physicalPlanDescription, jobs(s.executionId)))
  }
}

object SqlRecorder {
  /** Run `f` with a recorder attached; the listener bus is drained
    * before and after, so the record is complete when returned. */
  def recorded[T](spark: SparkSession)(f: => T): (T, SqlRecorder) = {
    shims.drainListeners(spark)
    val r = new SqlRecorder
    spark.sparkContext.addSparkListener(r)
    try {
      val out = f
      shims.drainListeners(spark)
      (out, r)
    } finally spark.sparkContext.removeSparkListener(r)
  }
}
