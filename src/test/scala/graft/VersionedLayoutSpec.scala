package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.operators.Scans

/** The versioned table's on-disk layout (the manifest directory, the
  * `vN.txt` version files) is written down once, in the layout helpers
  * of `Scans.scala`; every other line under src/main reaches it through
  * them, so the layout cannot fork. */
class VersionedLayoutSpec extends SparkSpec {
  private val Begin = "// ---- versioned-table layout: the ONLY code that names its files ----"
  private val End = "// ---- end of the versioned-table layout ----"
  // the directory name, a version-file regex in any quoting, or a
  // version-file name built by interpolation
  private val Layout = """_manifests|v\(?\\{1,2}d\+\)?\\{1,2}\.txt|v\$\{?\w+\}?\.txt""".r

  private def code(p: Path): Seq[(String, Int)] =
    Files.readAllLines(p).asScala.toSeq.zipWithIndex.filterNot { case (l, _) =>
      val t = l.trim
      t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
    }

  test("only the layout helpers in Scans.scala name the manifest directory or a version file") {
    val scans = Paths.get("src/main/scala/graft/operators/Scans.scala")
    val lines = Files.readAllLines(scans).asScala.toSeq
    val (b, e) = (lines.indexWhere(_.trim == Begin), lines.indexWhere(_.trim == End))
    val outside = Files.walk(Paths.get("src/main")).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq.flatMap { p =>
        code(p).collect { case (l, i) if Layout.findFirstIn(l).nonEmpty &&
                                          !(p.endsWith(scans) && i > b && i < e) =>
          s"$p:${i + 1}: ${l.trim}" }
      }
    assert(outside.isEmpty, outside.mkString("\n"))
    assert(b >= 0 && e > b, "the layout helpers' markers are missing from Scans.scala")
    // and inside, each decision once: the directory, the version regex,
    // the version-file name
    val inside = lines.slice(b + 1, e).filterNot(_.trim.startsWith("*"))
    Seq("\"_manifests\"", "\"v(\\\\d+)\\\\.txt\"", "s\"v$v.txt\"").foreach { text =>
      assert(inside.count(_.contains(text)) == 1, s"$text in the layout helpers")
    }
  }

  test("a built versioned fixture stores each committed file once: no stage " +
       "directory is left, and every file a manifest lists exists") {
    val roots = Seq(Scans.timeTravelFixture(spark, sf001), Scans.compactionFixture(spark, sf001),
                    Scans.evolutionFixture(spark, sf001), Scans.rollbackFixture(spark, sf001))
    for (root <- roots) {
      val left = new java.io.File(root).listFiles().map(_.getName).filter(_.startsWith("stage_"))
      assert(left.isEmpty, s"$root keeps ${left.mkString(", ")}")
      val manifests = new java.io.File(root, "_manifests").listFiles().filter(_.getName.endsWith(".txt"))
      assert(manifests.nonEmpty, root)
      for (m <- manifests; f <- Files.readAllLines(m.toPath).asScala if f.nonEmpty)
        assert(Files.exists(Paths.get(f)), s"${m.getName} lists missing $f")
    }
  }
}
