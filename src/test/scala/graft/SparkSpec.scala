package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.{CountDownLatch, Executors}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole suite (forked test JVM),
  * from the mains' factory. Four cores, whatever `SPARK_GRAFT_CPUS`
  * says: the plan-shape specs assume 4 shuffle partitions. */
object TestSpark {
  lazy val spark: SparkSession = Session.build(4)
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val sf001 = "/root/testdata/sf0.001"
  val sf01 = "/root/testdata/sf0.01"

  def tempDir(): Path = Files.createTempDirectory("graft_spec")

  /** Copy one sf0.001 table file into `dir` under its usual name. */
  def copyTable(name: String, dir: Path): String = {
    val dst = dir.resolve(s"$name.parquet")
    Files.copy(Paths.get(sf001, s"$name.parquet"), dst, StandardCopyOption.REPLACE_EXISTING)
    dst.toString
  }

  /** Run `f` on `n` threads released together; their results in order. */
  def inParallel[T](n: Int)(f: => T): Seq[T] = {
    val pool = Executors.newFixedThreadPool(n)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val go = new CountDownLatch(1)
      val fs = Seq.fill(n)(Future { go.await(); f })
      go.countDown()
      Await.result(Future.sequence(fs), 10.minutes)
    } finally pool.shutdown()
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

  /** A navigable chain of `n` vectors in 64 dims, (vec_id, embedding,
    * label): vector i interpolates between two orthogonal anchors, so
    * cosine falls off monotonically with |i − j|; 5 labels interleave. */
  def chain(n: Int): DataFrame = {
    val s = spark
    import s.implicits._
    (0L until n.toLong).map { i =>
      val t = i.toDouble / (n - 1)
      val v = Array.tabulate(64) { d =>
        (if (d == 0) math.cos(t * math.Pi / 2)
         else if (d == 1) math.sin(t * math.Pi / 2)
         else 0.02 * math.sin(0.7 * d + 0.3 * i)).toFloat
      }
      (i, v, (i % 5).toInt)
    }.toDF("vec_id", "embedding", "label")
  }

  /** Set equality of two DataFrames with identical schemas. */
  def assertSameRows(a: DataFrame, b: DataFrame, hint: String = ""): Unit = {
    val extraA = a.exceptAll(b).count()
    val extraB = b.exceptAll(a).count()
    assert(extraA == 0 && extraB == 0,
      s"$hint rows only in left: $extraA, only in right: $extraB")
  }
}
