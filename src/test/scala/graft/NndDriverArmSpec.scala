package graft

import graft.operators.Similarity
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions.{col, lit, when}

/** The NN-descent build's driver arm: under the driver budget the seed
  * and every round run in Scala over one collect, and the graph equals
  * the distributed arm's and the two-projection reference's row for
  * row, on raw `cos` bits and on schema. */
class NndDriverArmSpec extends SparkSpec {
  import NndDescentReference.{bits, duplicates, zeroTies}

  private def isLocal(df: DataFrame): Boolean =
    df.queryExecution.analyzed.collectFirst { case l: LocalRelation => l }.nonEmpty

  private def shape(df: DataFrame) = df.schema.map(f => (f.name, f.dataType, f.nullable))

  /** The chain with one all-zero vector: its cosines are 0/0 = NaN,
    * which Spark's long-valued floor pins to a 0.0 score. */
  private def withZeroVector: DataFrame =
    chain(40).select("vec_id", "embedding").unionByName(
      chain(1).select(lit(1000L).as("vec_id"),
        org.apache.spark.sql.functions.array_repeat(lit(0.0f), 64).as("embedding")))

  test("the driver arm equals the distributed arm and the reference row for " +
       "row, on cos bits and schema") {
    val corpora = Seq(
      "chain" -> chain(120), "zero ties" -> zeroTies(spark),
      "duplicates" -> duplicates(spark), "zero vector" -> withZeroVector,
      "sf0.001" -> Tables.embeddings(spark, sf001), "sf0.01" -> Tables.embeddings(spark, sf01))
    for ((name, e) <- corpora) {
      val local = Similarity.knnGraphNnDescentScored(e)
      assert(isLocal(local), s"$name: the build under the budget runs the driver arm")
      val dist = Similarity.knnGraphNnDescentDistributed(e)
      assert(!isLocal(dist), name)
      val ref = NndDescentReference.knnGraphNnDescentScored(e)
      assert(shape(local) == shape(dist), s"$name: ${local.schema} vs ${dist.schema}")
      assert(shape(local) == shape(ref), name)
      val got = bits(local)
      assert(got.nonEmpty, name)
      for ((other, rows) <- Seq("distributed" -> bits(dist), "reference" -> bits(ref)))
        if (got != rows) fail(s"$name: ${got.diff(rows).size} rows only in the driver arm, " +
          s"${rows.diff(got).size} only in the $other arm, of ${rows.size}")
      if (name == "zero vector")
        assert(got.exists { case (v, _, c) => v == 1000L && c == 0L }, name)
    }
  }

  test("the gate: exactly at the budget runs the driver arm, one byte over " +
       "or a null embedding runs the distributed arm") {
    val e = chain(120)
    val need = Similarity.nndLocalBytes(120, 120 * 64)
    assert(isLocal(Similarity.knnGraphNnDescentScored(e, localMaxBytes = need)))
    assert(!isLocal(Similarity.knnGraphNnDescentScored(e, localMaxBytes = need - 1)))
    val withNull = e.withColumn("embedding",
      when(col("vec_id") === 5L, lit(null)).otherwise(col("embedding")))
    assert(!isLocal(Similarity.knnGraphNnDescentScored(withNull, localMaxBytes = Long.MaxValue)))
    // the gate and the collect are one job for a corpus spread evenly
    val (even, jobs) = JobCounter.jobsOf(spark)(Similarity.knnGraphNnDescentScored(e))
    assert(isLocal(even) && jobs == 1, s"$jobs jobs")
    // one that fits but sits in 2 of 4 partitions ships no rows from the
    // partition over its share, and a second collect takes them all
    val skewed = e.repartition(4, col("vec_id") < 100L)
    val fromSkewed = Similarity.knnGraphNnDescentScored(skewed, localMaxBytes = need)
    assert(isLocal(fromSkewed))
    assert(bits(fromSkewed) == bits(even))
    // the default budget takes every fixture corpus up to sf0.1
    assert(Similarity.nndLocalBytes(2000, 2000 * 64) <= operators.Dedup.LocalCcBudgetBytes)
  }
}
