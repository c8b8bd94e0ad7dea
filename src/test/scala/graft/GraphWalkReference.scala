package graft

import graft.Tables._
import graft.operators.{Similarity, Vectors}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The graph walks as Spark plan algebra — the shape they had before
  * their state moved to the driver ([[Similarity.GraphWalk]]), kept as
  * the reference the driver-side walks must equal row for row: each
  * round scores the frontier with joins against the corpus, unions it
  * with the beam, merges with `groupBy(vec_id).max` (`.min` for the
  * ADC walk) and cuts with `orderBy(score, vec_id).limit(beam)`. */
object GraphWalkReference {
  import Similarity.{GraphBatchQueries, GraphBeam, GraphRounds, cosine}

  private def localDf(s: SparkSession, rows: Array[Row], schema: StructType): DataFrame =
    s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  private def entries(e: DataFrame): DataFrame =
    e.groupBy("label").agg(min(col("vec_id")).as("vec_id")).select("vec_id")

  def beamSearch(e: DataFrame, graph: DataFrame, k: Int, queryVecId: Long = 0L,
                 earlyExit: Boolean = true,
                 tombstoned: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    val sp = e.sparkSession
    val q0 = e.where(col("vec_id") === queryVecId).select(col("embedding").as("qv"))
    val q = localDf(sp, q0.collect(), q0.schema)
    def scored(ids: DataFrame): DataFrame =
      e.join(broadcast(ids), Seq("vec_id")).crossJoin(broadcast(q))
        .select(col("vec_id"), fround(cosine(col("embedding"), col("qv")), 4).as("cos"))
    val beam0 = scored(entries(e)).orderBy(col("cos").desc, col("vec_id")).limit(GraphBeam)
    val beamSchema = beam0.schema
    var beamRows = beam0.collect()
    var prevIds: Set[Long] = beamRows.map(_.getLong(0)).toSet
    var round = 0
    var converged = false
    while (round < GraphRounds && !converged) {
      val beam = localDf(sp, beamRows, beamSchema)
      val frontier = graph.join(broadcast(beam.select("vec_id")), Seq("vec_id"))
        .select(col("nbr_id").as("vec_id"))
      beamRows = scored(frontier).unionByName(beam)
        .groupBy("vec_id").agg(max(col("cos")).as("cos"))
        .orderBy(col("cos").desc, col("vec_id")).limit(GraphBeam)
        .collect()
      val ids = beamRows.map(_.getLong(0)).toSet
      converged = earlyExit && ids == prevIds
      prevIds = ids
      round += 1
    }
    localDf(sp, beamRows, beamSchema)
      .where(col("vec_id") =!= queryVecId && !tombstoned.getOrElse(lit(false)))
      .withColumn("rnk",
        big(row_number().over(Window.orderBy(col("cos").desc, col("vec_id")))))
      .where(col("rnk") <= k)
      .select("rnk", "vec_id", "cos")
      .orderBy("rnk")
  }

  def beamBatch(e: DataFrame, graph: DataFrame, k: Int): DataFrame = {
    val sp = e.sparkSession
    val qs0 = e.where(col("vec_id") < GraphBatchQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
    val qs = localDf(sp, qs0.collect(), qs0.schema)
    def scored(ids: DataFrame): DataFrame =
      e.select(col("vec_id"), col("embedding"))
        .join(broadcast(ids), Seq("vec_id"))
        .join(broadcast(qs), Seq("q_id"))
        .select(col("q_id"), col("vec_id"),
                fround(cosine(col("embedding"), col("qv")), 4).as("cos"))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("vec_id"))
    def prune(sc: DataFrame): DataFrame =
      sc.withColumn("rn", row_number().over(w)).where(col("rn") <= GraphBeam).drop("rn")
    val beam0 = prune(scored(qs.select("q_id").crossJoin(entries(e))))
    val beamSchema = beam0.schema
    var beamRows = beam0.collect()
    var prevIds: Set[(Long, Long)] = beamRows.map(r => (r.getLong(0), r.getLong(1))).toSet
    var round = 0
    var converged = false
    while (round < GraphRounds && !converged) {
      val beam = localDf(sp, beamRows, beamSchema)
      val frontier = graph.join(broadcast(beam.select("q_id", "vec_id")), Seq("vec_id"))
        .select(col("q_id"), col("nbr_id").as("vec_id"))
      beamRows = prune(scored(frontier).unionByName(beam)
        .groupBy("q_id", "vec_id").agg(max(col("cos")).as("cos"))).collect()
      val ids = beamRows.map(r => (r.getLong(0), r.getLong(1))).toSet
      converged = ids == prevIds
      prevIds = ids
      round += 1
    }
    localDf(sp, beamRows, beamSchema)
      .where(col("vec_id") =!= col("q_id"))
      .withColumn("rnk", big(row_number().over(w)))
      .where(col("rnk") <= k)
      .select("q_id", "rnk", "vec_id", "cos")
      .orderBy("q_id", "rnk")
  }

  /** The ADC walk: min-merge, (adist, vec_id) cut, and the visited set
    * as the entry points plus every scored frontier. */
  def adcVisited(e: DataFrame, graph: DataFrame,
                 adist: org.apache.spark.sql.Column): Set[Long] = {
    val s = e.sparkSession
    def scored(ids: DataFrame): DataFrame =
      e.join(broadcast(ids), Seq("vec_id")).select(col("vec_id"), adist.as("adist"))
    val beam0 = scored(entries(e)).orderBy(col("adist"), col("vec_id"))
      .limit(Vectors.GraphPqBeam)
    val beamSchema = beam0.schema
    var beamRows = beam0.collect()
    var visited: Set[Long] = beamRows.map(_.getLong(0)).toSet
    var prevIds: Set[Long] = visited
    var round = 0
    var converged = false
    while (round < GraphRounds && !converged) {
      val beam = localDf(s, beamRows, beamSchema)
      val fs = scored(graph.join(broadcast(beam.select("vec_id")), Seq("vec_id"))
        .select(col("nbr_id").as("vec_id")))
      visited ++= fs.select("vec_id").collect().map(_.getLong(0))
      beamRows = fs.unionByName(beam)
        .groupBy("vec_id").agg(min(col("adist")).as("adist"))
        .orderBy(col("adist"), col("vec_id")).limit(Vectors.GraphPqBeam)
        .collect()
      val ids = beamRows.map(_.getLong(0)).toSet
      converged = ids == prevIds
      prevIds = ids
      round += 1
    }
    visited
  }

  /** The ADC walk over fround4 ADC distances, then the exact rerank. */
  def pqWalk(s: SparkSession, dir: String, graph: DataFrame): DataFrame = {
    val (books, qsubs) = Vectors.pqPrelude(s, dir)
    val e = embeddings(s, dir)
    val visited = adcVisited(e, graph, fround(Vectors.pqAdist(books, qsubs), 4))
    import s.implicits._
    visited.toSeq.toDF("vec_id").where(col("vec_id") =!= 0)
      .join(e.select(col("vec_id"), col("embedding")), Seq("vec_id"))
      .select(col("vec_id"),
        fround(cosine(col("embedding"), typedLit(qsubs.flatten)), 4).as("cos"))
      .withColumn("rnk", big(row_number().over(
        Window.orderBy(col("cos").desc, col("vec_id")))))
      .where(col("rnk") <= 10)
      .select("rnk", "vec_id", "cos")
      .orderBy("rnk")
  }
}
