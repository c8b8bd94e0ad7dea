package graft

import graft.streaming.Streams

/** stream_branch_publish drains its 4 staged parts one per micro-batch
  * (`maxFilesPerTrigger=1`); the parts' mtimes rise in name order, so
  * the batch a part lands in is fixed: batch `sb00k` commits exactly
  * the rows of the k-th part by name. */
class StreamBranchPublishSpec extends SparkSpec {
  test("batch sb00k holds exactly the rows of the k-th staged part by name") {
    Streams.queries("stream_branch_publish")(spark, sf001).collect()
    val sig = java.security.MessageDigest.getInstance("MD5")
      .digest(Tables.fsSig(spark, s"$sf001/orders.parquet").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(12)
    val stage = Tables.scratch(sf001, s"wap_stream_src_$sig")
    val root = Tables.scratch(sf001, s"wap_stream_tbl_$sig")
    val parts = new java.io.File(stage).listFiles().map(_.getName)
      .filter(_.endsWith(".parquet")).sorted
    assert(parts.length == 4)
    def rows(path: String): Seq[String] =
      spark.read.parquet(path).collect().map(_.mkString("|")).toSeq.sorted
    for ((p, k) <- parts.zipWithIndex) {
      val part = rows(s"$stage/$p")
      assert(part.nonEmpty, p)
      assert(rows(f"$root/data/sb$k%03d_*.parquet") == part, s"batch $k vs $p")
    }
  }
}
