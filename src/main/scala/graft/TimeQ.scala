package graft
import org.apache.spark.sql.SparkSession

/** Dev tool: wall-clock named SparkEntry queries at an arbitrary scale
  * factor — the fast feedback loop for single-query perf work without
  * a full Bench pass. `SPARK_GRAFT_SF_DIR=... sbt "runMain graft.TimeQ
  * <query> [query ...]"`; mirrors Bench's measurement shape (count()
  * once, cold cache per query, warmup outside the timed region). */
object TimeQ {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // match Bench's shuffle-writer choice (see Bench.scala r21 note)
      .config("spark.shuffle.sort.bypassMergeThreshold",
        sys.env.getOrElse("SPARK_GRAFT_BYPASS_THRESHOLD", "1"))
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      spark.range(1000).selectExpr("sum(id)").collect()
      spark.read.parquet(s"$sfDir/region.parquet").groupBy("r_name").count().collect()
    } catch { case _: Throwable => }
    for (n <- args) {
      val t0 = System.nanoTime()
      val c = SparkEntry.queries(n)(spark, sfDir).count()
      println(f"$n%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s  rows=$c")
      spark.sharedState.cacheManager.clearCache()
    }
    spark.stop()
  }
}
