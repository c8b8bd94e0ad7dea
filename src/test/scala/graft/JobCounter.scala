package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftx.testShims

/** Spark jobs launched while a block runs, counted by a listener. The
  * suites run one at a time in the forked test JVM, so no other suite's
  * jobs land in the count. */
object JobCounter {
  def jobsOf[T](spark: SparkSession)(f: => T): (T, Int) = {
    testShims.drainListeners(spark)
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val out = f
      testShims.drainListeners(spark)
      (out, n.get)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  /** Run `f` with session confs set, restoring the previous values. */
  def withConfs[T](spark: SparkSession, kvs: (String, String)*)(f: => T): T = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
