package graft

import graft.Tables._
import graft.operators.Similarity
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The NN-descent build with the round shape it had before each round
  * emitted both edge directions from one pass: the reversed scored
  * pairs come from a second projection of `scoredPairs`, unioned with
  * the first — two copies of the candidate pipeline in every round's
  * plan. Kept as the reference [[Similarity.knnGraphNnDescentScored]]
  * must equal row for row. */
object NndDescentReference {
  import Similarity.{GraphM, NndBucketCap, NndBucketTarget, NndRounds, NndUndCap, cosine}

  def knnGraphNnDescentScored(emb: DataFrame, m: Int = GraphM,
                              rounds: Int = NndRounds): DataFrame =
    Tables.withAqeOff(emb.sparkSession)(body(emb, m, rounds))

  private def body(emb: DataFrame, m: Int, rounds: Int): DataFrame = {
    val v = emb.select(col("vec_id"), col("embedding"))
    val nb = v.agg(greatest(lit(1L),
      floor(count(lit(1)) / lit(NndBucketTarget.toDouble)).cast("long"))
      .as("nb"))
    val wK = Window.partitionBy("vec_id").orderBy(col("cos").desc, col("nbr_id"))
    def topM(edges: DataFrame): DataFrame = edges
      .repartition(col("vec_id"))
      .groupBy("vec_id", "nbr_id").agg(max(col("cos")).as("cos"))
      .withColumn("rnk", row_number().over(wK))
      .where(col("rnk") <= m)
      .select("vec_id", "nbr_id", "cos")
    val armed = v.crossJoin(broadcast(nb))
      .select(col("vec_id"), col("embedding"), col("nb"),
              explode(array(lit("nnd:"), lit("nnd2:"))).as("arm"))
      .select(col("arm"), col("vec_id"), col("embedding"),
              pmod(conv(substring(md5(concat(col("arm"),
                col("vec_id").cast("string"))), 1, 8), 16, 10).cast("long"),
                col("nb")).as("bkt"))
    val members = armed
      .withColumn("rn", row_number().over(
        Window.partitionBy("arm", "bkt").orderBy("vec_id")))
      .where(col("rn") <= NndBucketCap)
      .select("arm", "bkt", "vec_id", "embedding")
    val seedEdges = members
      .select(col("arm"), col("bkt"), col("vec_id"), col("embedding").as("va"))
      .join(members.select(col("arm"), col("bkt"), col("vec_id").as("nbr_id"),
                           col("embedding").as("vb")), Seq("arm", "bkt"))
      .where(col("vec_id") =!= col("nbr_id"))
      .select(col("vec_id"), col("nbr_id"),
              fround(cosine(col("va"), col("vb")), 4).as("cos"))
    var e = topM(seedEdges).localCheckpoint()
    (1 to rounds).foreach { _ =>
      val cand = e
        .unionByName(e.select(col("nbr_id").as("vec_id"),
                              col("vec_id").as("nbr_id"), col("cos")))
        .repartition(col("vec_id"))
        .groupBy("vec_id", "nbr_id").agg(max(col("cos")).as("cos"))
        .groupBy("vec_id")
        .agg(collect_list(struct((-col("cos")).as("nc"),
                                 col("nbr_id").as("n"))).as("raw"))
        .select(array_sort(transform(
          slice(array_sort(col("raw")), 1, NndUndCap),
          x => x.getField("n"))).as("ids"))
        .select(explode(expr(
          "flatten(transform(ids, (x, i) -> " +
          "transform(slice(ids, i + 2, size(ids) - i - 1), " +
          "y -> struct(x AS a, y AS b))))")).as("p"))
        .select(col("p.a").as("a"), col("p.b").as("b"))
        .repartition(col("a"))
        .distinct()
      val scoredPairs = cand
        .join(v.select(col("vec_id").as("a"), col("embedding").as("va")), Seq("a"))
        .join(v.select(col("vec_id").as("b"), col("embedding").as("vb")), Seq("b"))
        .select(col("a"), col("b"),
                fround(cosine(col("va"), col("vb")), 4).as("cos"))
      val newDir = scoredPairs
        .select(col("a").as("vec_id"), col("b").as("nbr_id"), col("cos"))
        .unionByName(scoredPairs
          .select(col("b").as("vec_id"), col("a").as("nbr_id"), col("cos")))
      e = topM(e.unionByName(newDir)).localCheckpoint()
    }
    e
  }
}
