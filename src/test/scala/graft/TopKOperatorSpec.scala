package graft

import graft.plans.TopKPerGroup
import org.apache.spark.sql.functions._

/** The custom per-group top-k operator (logical node + strategy +
  * two-stage physical exec) returns exactly the window formulation's
  * rows under every shape that matters: k larger than the group,
  * k = 1, many partitions, and empty input. The plan-shape property
  * (map-side partial before ONE exchange) is what makes it a scale
  * win over the window. */
class TopKOperatorSpec extends SparkSpec {

  private def windowed(k: Int) = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(spark, sf001)
      .select("o_custkey", "o_orderkey", "o_totalprice")
      .withColumn("rn", row_number().over(w)).where(col("rn") <= k).drop("rn")
  }

  private def native(k: Int, partitions: Int = 1) = {
    val o = Tables.orders(spark, sf001)
      .select("o_custkey", "o_orderkey", "o_totalprice")
    val in = if (partitions > 1) o.repartition(partitions) else o
    TopKPerGroup(in, Seq("o_custkey"), "o_totalprice", k,
      descending = true, tieCols = Seq("o_orderkey"))
  }

  test("native top-k equals the ranked-window rows for k = 1, 3, 100") {
    for (k <- Seq(1, 3, 100)) {
      assertSameRows(native(k), windowed(k), s"k=$k")
    }
  }

  test("result is stable under input partitioning (map-side heaps merge exactly)") {
    assertSameRows(native(3, partitions = 7), windowed(3), "7 partitions")
    assertSameRows(native(3, partitions = 32), windowed(3), "32 partitions")
  }

  test("empty input yields empty output") {
    val empty = Tables.orders(spark, sf001)
      .select("o_custkey", "o_orderkey", "o_totalprice")
      .where(lit(false))
    assert(TopKPerGroup(empty, Seq("o_custkey"), "o_totalprice", 3,
      tieCols = Seq("o_orderkey")).count() == 0)
  }

  test("physical plan: partial heap stage below exactly one exchange") {
    val p = native(3).queryExecution.executedPlan.toString
    assert(p.contains("PartialTopKPerGroup"), p)
    assert(p.contains("TopKPerGroup"), p)
    assert("hashpartitioning".r.findAllIn(p).size == 1, p)
  }

  test("ascending variant picks the bottom-k") {
    val got = TopKPerGroup(
      Tables.orders(spark, sf001).select("o_custkey", "o_orderkey", "o_totalprice"),
      Seq("o_custkey"), "o_totalprice", 1, descending = false, tieCols = Seq("o_orderkey"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").asc, col("o_orderkey"))
    val expect = Tables.orders(spark, sf001)
      .select("o_custkey", "o_orderkey", "o_totalprice")
      .withColumn("rn", row_number().over(w)).where(col("rn") <= 1).drop("rn")
    assertSameRows(got, expect, "bottom-1")
  }

  test("threads sharing a fresh session install the strategy exactly once") {
    for (round <- 1 to 25) {
      val s = spark.newSession()
      val df = s.range(10).selectExpr("id % 2 AS g", "id AS v")
      inParallel(8)(TopKPerGroup(df, Seq("g"), "v", 1))
      val n = s.experimental.extraStrategies.count(_ == graft.plans.TopKPerGroupStrategy)
      assert(n == 1, s"round $round: $n strategies installed")
    }
  }
}
