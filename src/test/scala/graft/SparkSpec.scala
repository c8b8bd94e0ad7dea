package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.{CountDownLatch, Executors}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole suite (forked test JVM). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
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

  /** Set equality of two DataFrames with identical schemas. */
  def assertSameRows(a: DataFrame, b: DataFrame, hint: String = ""): Unit = {
    val extraA = a.exceptAll(b).count()
    val extraB = b.exceptAll(a).count()
    assert(extraA == 0 && extraB == 0,
      s"$hint rows only in left: $extraA, only in right: $extraB")
  }
}
