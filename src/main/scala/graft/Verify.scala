package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // optional 3rd arg: comma-separated query-name filter (local iteration)
    val only: Set[String] =
      if (args.length > 2) args(2).split(",").toSet else Set.empty
    val spark = Session.build(Session.cpus)
    new java.io.File(outDir).mkdirs()
    // ADVICE r5: the MaxShingleDf stop-shingle cap is exactness-critical
    // for the pair family — the DuckDB oracles compute UNCAPPED stats,
    // so a fixture whose max shingle df crossed the cap would diverge
    // silently. Guarded IN the correctness harness so the invariant
    // holds at every scale factor the driver verifies, not just the
    // sf0.001 a spec pins. Skipped under a query filter (local
    // iteration on one unrelated query shouldn't pay a corpus scan).
    if (only.isEmpty && new java.io.File(s"$sfDir/documents.parquet").exists()) {
      val maxDf = graft.operators.Dedup.maxShingleDf(Tables.documents(spark, sfDir))
      require(maxDf <= graft.operators.Dedup.MaxShingleDf,
        s"fixture max shingle df $maxDf at $sfDir exceeds the " +
        s"MaxShingleDf=${graft.operators.Dedup.MaxShingleDf} cap — pair-family " +
        "oracle rows would diverge from the capped computation")
    }
    SparkEntry.queries.foreach { case (name, fn) =>
      if (only.isEmpty || only.contains(name)) {
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
        // any cache a query built (e.g. text_langid's tokenized corpus)
        // is scoped to that query — drop it so a long session running
        // all queries doesn't accumulate executor storage (ADVICE r1)
        spark.sharedState.cacheManager.clearCache()
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
