package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import graft.operators.{Analytics, Dedup, Similarity}
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.Row

/** The artifact memo in [[Tables]]: one key per (scope, artifact name,
  * source path), `fsSig(source)` as the staleness stamp, builds under a
  * per-key lock, superseded entries dropped but never unpersisted. */
class ArtifactMemoSpec extends SparkSpec {

  private def setMtime(path: String, mtime: Long): Unit = {
    val p = new HPath(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).setTimes(p, mtime, -1)
  }

  test("two threads requesting one key build it exactly once") {
    val src = copyTable("documents", tempDir())
    val builds = new AtomicInteger(0)
    val got = inParallel(2) {
      Tables.memo(spark, "spec_concurrent", src) {
        builds.incrementAndGet()
        Thread.sleep(300)
        new Object
      }
    }
    assert(builds.get == 1, s"the build ran ${builds.get} times")
    assert(got.forall(_ eq got.head))
  }

  test("a new source signature rebuilds; a frame taken before the rebuild still collects") {
    val dir = tempDir()
    val src = copyTable("documents", dir)
    val before = Dedup.shingledCorpusCached(spark, dir.toString)
    val n = before.count()
    assert(Dedup.shingledCorpusCached(spark, dir.toString) eq before, "second call must hit")
    setMtime(src, new java.io.File(src).lastModified + 60000L)
    val after = Dedup.shingledCorpusCached(spark, dir.toString)
    assert(!(after eq before), "a changed fsSig must rebuild")
    assert(before.collect().length == n,
      "the superseded frame must stay readable — no unpersist on rebuild")
    assert(after.count() == n)
  }

  test("identical listings with different content get different nndGraphCached graphs") {
    // same name, same length, same mtime: one corpus and a copy whose
    // embeddings are rotated one vec_id along — plain-encoded,
    // uncompressed and without page checksums (a varint whose width
    // follows the content), so the rotation cannot change the length
    val e = Tables.embeddings(spark, sf001)
    val rows = e.orderBy("vec_id").collect()
    val rotated = rows.indices.map { i =>
      val r = rows(i)
      Row(r.getLong(0), rows((i + 1) % rows.length).get(1), r.get(2))
    }
    def write(data: Seq[Row]): String = {
      val staged = tempDir().resolve("staged").toString
      spark.createDataFrame(spark.sparkContext.parallelize(data, 1), e.schema)
        .write.option("compression", "none").option("parquet.enable.dictionary", "false")
        .option("parquet.page.write-checksum.enabled", "false")
        .parquet(staged)
      val part = new java.io.File(staged).listFiles().filter(_.getName.endsWith(".parquet")).head
      val dir = tempDir()
      Files.copy(part.toPath, dir.resolve("embeddings.parquet"))
      setMtime(dir.resolve("embeddings.parquet").toString, 1700000000000L)
      dir.toString
    }
    val d1 = write(rows.toSeq)
    val d2 = write(rotated)
    assert(Tables.fsSig(spark, s"$d1/embeddings.parquet") ==
           Tables.fsSig(spark, s"$d2/embeddings.parquet"), "precondition: equal listings")
    val g1 = Similarity.nndGraphCached(spark, d1).collect().toSet
    val g2 = Similarity.nndGraphCached(spark, d2).collect().toSet
    assert(g1 != g2, "one directory's graph was served for the other")
    val direct = Similarity.knnGraphNnDescent(Tables.embeddings(spark, d2)).collect().toSet
    assert(g2 == direct)
  }

  test("a nested memo build (lpaLabelsCached over cooccurEdgesCached) completes under the lock") {
    val dir = tempDir()
    copyTable("lineitem", dir)
    val got = inParallel(2)(Analytics.lpaLabelsCached(spark, dir.toString))
    assert(got.forall(_ eq got.head))
    assert(got.head.count() > 0)
  }
}
