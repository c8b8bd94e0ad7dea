package graft

import java.io.ByteArrayOutputStream
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** `Session.build` is the one way a session is made: its confs, the
  * shared test session coming from it, and no second builder or main
  * call creeping back in. */
class SessionSpec extends SparkSpec {
  private def scalaFiles(root: String): Seq[Path] =
    Files.walk(Paths.get(root)).iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq

  test("the shared test session is Session.build(4): the mains' confs, 4 cores") {
    val sc = spark.sparkContext
    assert(sc.master == "local[4]" && sc.defaultParallelism == 4)
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(sc.getConf.get("spark.shuffle.sort.bypassMergeThreshold") == "1")
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "4000")
    assert(sc.getConf.get("spark.ui.enabled") == "false" && sc.uiWebUrl.isEmpty)
  }

  test("exactly one file under src/main builds a SparkSession") {
    val builders = scalaFiles("src/main").filter(p => Files.readString(p).contains("SparkSession.builder"))
    assert(builders.map(_.getFileName.toString) == Seq("Session.scala"), builders)
  }

  test("no spec calls a main: each one stops the shared session") {
    val callers = scalaFiles("src/test").filter(p => """\w\.main\(""".r.findFirstIn(Files.readString(p)).nonEmpty)
    assert(callers.isEmpty, callers)
  }

  test("Dev's subcommands run on a given session, without the main") {
    val out = new ByteArrayOutputStream
    Console.withOut(out) {
      Dev.time(spark, sf001, Seq("agg_hash_groupby"))
      Dev.plan(spark, sf001, Seq("agg_hash_groupby"))
      Dev.sweep(spark, sf001, Seq("agg_hash_groupby"))
    }
    val text = out.toString
    val timed = """agg_hash_groupby +[0-9.]+ s  rows=6  jobs=(\d+) stages=(\d+) tasks=(\d+)""".r
    val counts = timed.findFirstMatchIn(text).map(m => (1 to 3).map(m.group(_).toInt))
    assert(counts.exists(_.forall(_ > 0)), text)
    assert(text.contains("===== agg_hash_groupby =====") && text.contains("Physical Plan"), text)
    assert(text.contains("SWEEP DONE: 0 offending filters across 1 queries"), text)
  }
}
