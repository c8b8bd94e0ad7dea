package graft

import graft.operators.Scans
import graft.sources.{AvroContainer, AvroManifest}

/** The Iceberg v2 positional-delete manifest arm (VERDICT r19
  * Missing #4, scan_iceberg_delete_files): the export's physical
  * claims, each checked through the OFFICIAL Avro decoder so the
  * hand-rolled bytes stay conformance-tested at every hop. */
class IcebergDeleteManifestSpec extends SparkSpec {

  private lazy val root = Scans.deleteVectorFixture(spark, sf001)
  private lazy val listPath = Scans.exportIcebergDeleteSnapshot(spark, root)

  test("the manifest list carries exactly one data and one deletes " +
       "manifest_file record, official-decoded") {
    val recs = AvroContainer.decodeRows(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(listPath)))
    assert(recs.size == 2, s"expected 2 manifest_file records, got ${recs.size}")
    // field 3 = content (0 data, 1 deletes) per the spec's field-ids
    val byContent = recs.map(r => r(3).asInstanceOf[Number].intValue -> r).toMap
    assert(byContent.keySet == Set(0, 1))
    // every record's counts follow its own entries' status (the
    // spec's rule for data and deletes manifests alike): added /
    // existing / deleted files and rows from status 1 / 0 / 2 and
    // each data_file's record_count — here and in the equality and
    // mixed snapshots' lists
    val allRecs = recs ++ Seq(Scans.exportIcebergEqualityDeleteSnapshot(spark, root),
                              Scans.exportIcebergMixedDeleteSnapshot(spark, root))
      .flatMap(l => AvroContainer.decodeRows(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(l))))
    allRecs.foreach { r =>
      val entries = AvroContainer.decodeRows(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(r.head.asInstanceOf[String])))
      assert(entries.nonEmpty)
      def byStatus(st: Int) = entries.filter(_(0).asInstanceOf[Number].intValue == st)
        .map(_(4).asInstanceOf[Array[Any]](4).asInstanceOf[Number].longValue)
      val want = Seq(1, 0, 2).map(byStatus)
      val files = Seq(7, 8, 9).map(r(_).asInstanceOf[Number].intValue)
      val rows = Seq(10, 11, 12).map(r(_).asInstanceOf[Number].longValue)
      assert(files == want.map(_.size) && rows == want.map(_.sum),
        s"content ${r(3)}: files $files rows $rows, entries say " +
        s"${want.map(_.size)} / ${want.map(_.sum)}")
    }
  }

  test("delete manifest entries carry data_file.content = 1 (the " +
       "POSITION_DELETES marker) and real byte sizes") {
    val delManifest = AvroManifest.readContentFilePaths(listPath)
    assert(delManifest.exists(_._1 == 1))
    val recs = AvroContainer.decodeRows(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(
        AvroContainer.decodeRows(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(listPath)))
          .find(_(3).asInstanceOf[Number].intValue == 1).get
          .head.asInstanceOf[String])))
    assert(recs.nonEmpty)
    recs.foreach { e =>
      val df = e(4).asInstanceOf[Array[Any]]
      assert(df(0).asInstanceOf[Number].intValue == 1,
        "delete entries must mark data_file.content = 1")
      val p = df(1).asInstanceOf[String]
      assert(df(5).asInstanceOf[Number].longValue ==
             java.nio.file.Files.size(java.nio.file.Paths.get(p)),
        s"manifest byte size must match the file: $p")
    }
  }

  test("readFilePaths (the data walk) skips the deletes manifest " +
       "entirely — delete files are not data") {
    val data = AvroManifest.readFilePaths(listPath)
    assert(data.nonEmpty && data.forall(_.endsWith(".parquet")),
      s"data walk leaked a non-parquet path: $data")
  }

  test("delete files are spec-sorted by (file_path, pos) and their " +
       "ordinals identify exactly the deleted keys in the data file") {
    val delFiles = AvroManifest.readContentFilePaths(listPath)
      .collect { case (1, p) => p }
    assert(delFiles.nonEmpty)
    var total = 0L
    delFiles.foreach { p =>
      val dels = AvroManifest.decodePositionalDeletes(
        java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)))
      assert(dels == dels.sorted, s"$p not spec-sorted by (file_path, pos)")
      assert(dels.map(_._1).distinct.size == 1,
        "the export writes one delete file per data file")
      total += dels.size
      // replay: the ordinals must land exactly on o_orderkey % 7 rows
      val fp = dels.head._1
      val keysAtPos = spark.read.parquet(fp)
        .select(org.apache.spark.sql.functions.col("_metadata.row_index")
                  .as("pos"),
                org.apache.spark.sql.functions.col("o_orderkey"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      dels.foreach { case (_, pos) =>
        assert(keysAtPos(pos) % 7 == 0,
          s"ordinal $pos of $fp names o_orderkey ${keysAtPos(pos)} — not deleted")
      }
    }
    // completeness: every %7 row in the fixture is named exactly once
    val want = spark.read.parquet(s"$root/_deletes/v3").count()
    assert(total == want, s"delete rows $total != sidecar keys $want")
  }

  test("the EQUALITY arm marks data_file.content = 2 with equality_ids " +
       "= [1], and its key file replays the sidecar exactly") {
    val eqList = Scans.exportIcebergEqualityDeleteSnapshot(spark, root)
    val delManifestPath = AvroContainer.decodeRows(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(eqList)))
      .find(_(3).asInstanceOf[Number].intValue == 1).get
      .head.asInstanceOf[String]
    val entries = AvroContainer.decodeRows(
      java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(delManifestPath)))
    assert(entries.size == 1, "one compact key file by design")
    val df = entries.head(4).asInstanceOf[Array[Any]]
    assert(df(0).asInstanceOf[Number].intValue == 2,
      "equality entries must mark data_file.content = 2")
    assert(df(6).asInstanceOf[Seq[Any]].map(
             _.asInstanceOf[Number].intValue) == Seq(1),
      s"equality_ids must name the equated field id: ${df(6)}")
    val keys = AvroManifest.decodeEqualityDeletes(
      java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(df(1).asInstanceOf[String])))
    assert(keys == keys.sorted)
    val want = spark.read.parquet(s"$root/_deletes/v3")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(keys == want, s"equality keys != sidecar: ${keys.size} vs ${want.size}")
  }

  test("positional entries leave equality_ids null (the spec's marker " +
       "distinguishes the two delete kinds)") {
    val delManifestPath = AvroContainer.decodeRows(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(listPath)))
      .find(_(3).asInstanceOf[Number].intValue == 1).get
      .head.asInstanceOf[String]
    val entries = AvroContainer.decodeRows(
      java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(delManifestPath)))
    entries.foreach { e =>
      val df = e(4).asInstanceOf[Array[Any]]
      assert(df(0).asInstanceOf[Number].intValue == 1)
      assert(df(6) == null, s"positional equality_ids must be null: ${df(6)}")
    }
  }

  test("the MIXED snapshot carries three manifest_file records and " +
       "readDeleteFiles splits the kinds by entry content") {
    val mixList = Scans.exportIcebergMixedDeleteSnapshot(spark, root)
    val recs = AvroContainer.decodeRows(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(mixList)))
    assert(recs.size == 3, s"expected 3 manifest_file records: ${recs.size}")
    assert(recs.map(_(3).asInstanceOf[Number].intValue).sorted == Seq(0, 1, 1))
    val byKind = AvroManifest.readDeleteFiles(mixList).groupBy(_._1)
    assert(byKind.keySet == Set(1, 2), s"kinds: ${byKind.keySet}")
    // the positional half names only %14==0 keys, the equality file
    // only %14==7 — the split rule replayed through both decoders
    byKind(1).foreach { case (_, p) =>
      val dels = AvroManifest.decodePositionalDeletes(
        java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)))
      val fp = dels.head._1
      val keysAtPos = spark.read.parquet(fp)
        .select(org.apache.spark.sql.functions.col("_metadata.row_index"),
                org.apache.spark.sql.functions.col("o_orderkey"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      dels.foreach { case (_, pos) =>
        assert(keysAtPos(pos) % 14 == 0, s"$fp@$pos: ${keysAtPos(pos)}") }
    }
    byKind(2).foreach { case (_, p) =>
      val ks = AvroManifest.decodeEqualityDeletes(
        java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)))
      assert(ks.nonEmpty && ks.forall(_ % 14 == 7), s"eq keys: ${ks.take(3)}")
    }
  }

  /** The three delete exports and their output dirs: the memo and
    * re-export tests run each of them as an input. */
  private val exports: Seq[(String, (org.apache.spark.sql.SparkSession, String) => String)] = Seq(
    "_iceberg_del" -> Scans.exportIcebergDeleteSnapshot,
    "_iceberg_eqdel" -> Scans.exportIcebergEqualityDeleteSnapshot,
    "_iceberg_mixdel" -> Scans.exportIcebergMixedDeleteSnapshot)

  test("a repeated export is memoized and byte-stable") {
    exports.foreach { case (out, export) =>
      val first = export(spark, root)
      val again = export(spark, root)
      assert(again == first, out)
      val b1 = java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(first))
      val b2 = java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(again))
      assert(b1.sameElements(b2), out)
    }
    assert(Scans.exportIcebergDeleteSnapshot(spark, root) == listPath)
  }

  test("a listed data file rewritten in place re-exports the positional " +
       "deletes, and a removed output dir re-exports too") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import org.apache.spark.sql.functions.col
    // a private copy of the merge-on-read table: rewriting the shared
    // fixture's files would leak into the other tests
    val own = Files.createTempDirectory("graft_iceberg_del").toString
    Scans.evolutionBase(spark, sf001, own)
    Files.copy(Paths.get(own, "_manifests", "v2.txt"), Paths.get(own, "_manifests", "v3.txt"))
    Tables.orders(spark, sf001).where(col("o_orderkey") % 7 === 0)
      .select("o_orderkey").write.parquet(s"$own/_deletes/v3")
    // the positional deletes of a list, per data file
    def positions(list: String): Map[String, Seq[Long]] =
      AvroManifest.readDeleteFiles(list).collect { case (1, p) => p }
        .flatMap(p => AvroManifest.decodePositionalDeletes(Files.readAllBytes(Paths.get(p))))
        .groupBy(_._1).map { case (fp, ds) => fp -> ds.map(_._2).sorted }
    def equalityKeys(list: String): Seq[Long] =
      AvroManifest.readDeleteFiles(list).collect { case (2, p) => p }
        .flatMap(p => AvroManifest.decodeEqualityDeletes(Files.readAllBytes(Paths.get(p))))
        .sorted
    // the ordinals of fp's rows whose key the export deletes positionally
    def truth(fp: String, positional: org.apache.spark.sql.Column): Seq[Long] =
      spark.read.parquet(fp)
        .select(col("_metadata.row_index"), col("o_orderkey"))
        .where(positional).collect().map(_.getLong(0)).toSeq.sorted
    val pos7 = col("o_orderkey") % 7 === 0
    val pos14 = col("o_orderkey") % 14 === 0
    val first = Scans.exportIcebergDeleteSnapshot(spark, own)
    val fp = positions(first).keys.min
    val before = positions(first)(fp)
    val mixedBefore = positions(Scans.exportIcebergMixedDeleteSnapshot(spark, own))(fp)
    val keysBefore = equalityKeys(Scans.exportIcebergEqualityDeleteSnapshot(spark, own))
    // same rows in reverse order at the same path: the listing is
    // unchanged, every ordinal moves
    val mtime = new java.io.File(fp).lastModified
    val staged = s"$own/rewrite"
    spark.read.parquet(fp).orderBy(col("o_orderkey").desc).coalesce(1).write.parquet(staged)
    val part = new java.io.File(staged).listFiles().filter(_.getName.endsWith(".parquet")).head
    Files.copy(part.toPath, Paths.get(fp), StandardCopyOption.REPLACE_EXISTING)
    new java.io.File(fp).setLastModified(mtime + 60000L)
    val second = Scans.exportIcebergDeleteSnapshot(spark, own)
    assert(positions(second)(fp) == truth(fp, pos7), "stale positional deletes served")
    assert(positions(second)(fp) != before)
    // the mixed export's positional half moves with the rows too; the
    // equality keys name values, not ordinals, so they stay the sidecar
    val mixedSecond = positions(Scans.exportIcebergMixedDeleteSnapshot(spark, own))(fp)
    assert(mixedSecond == truth(fp, pos14), "stale mixed positional deletes served")
    assert(mixedSecond != mixedBefore)
    assert(equalityKeys(Scans.exportIcebergEqualityDeleteSnapshot(spark, own)) == keysBefore)
    exports.foreach { case (out, export) =>
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$own/$out"))
      val third = export(spark, own)
      assert(Files.exists(Paths.get(third)), s"a removed export must be redone: $out")
    }
  }
}
