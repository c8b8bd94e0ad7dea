package graft

import graft.operators.Analytics
import org.apache.spark.sql.functions.col

/** HITS hubs/authorities (graph_hits): the oracle unrolls the rounds;
  * these plant a star whose ranking is hand-derivable. */
class HitsSpec extends SparkSpec {
  import spark.implicits._

  test("a super-hub and a super-authority top their sides") {
    // hub 100 links to ALL of 5 authorities; hubs 1..3 link only to
    // authority 200; authority 200 is also linked by the super-hub.
    val edges = (201L to 204L).map(d => (100L, d)) ++
      Seq((100L, 200L), (1L, 200L), (2L, 200L), (3L, 200L))
    val out = Analytics.hitsRounds(
      edges.toDF("src", "dst"), Analytics.HitsIters).collect()
    val hubs = out.filter(_.getString(0) == "hub")
    val auths = out.filter(_.getString(0) == "auth")
    assert(hubs.head.getLong(2) == 100L, "the all-links hub must rank first")
    assert(hubs.head.getDouble(3) == 1.0) // max-normalized
    assert(auths.head.getLong(2) == 200L, "the in-degree-4 authority must rank first")
    assert(auths.head.getDouble(3) == 1.0)
    // the three one-link hubs tie below the super-hub, id order
    assert(hubs.map(_.getLong(2)).toSeq == Seq(100L, 1L, 2L, 3L))
  }

  test("each round's aggregate is evaluated once: the final plan sees only " +
       "checkpoint scans, not the unrolled per-round join DAG") {
    // without the per-round localCheckpoint, the optimized plan of the
    // output carried every round's join+agg twice (max scalar +
    // crossJoin), compounding ~4x per round — the r17 #2 query at
    // minima. With it, the ONLY aggregates left are the two final
    // max-normalizations (one per side), each over a LogicalRDD
    // checkpoint scan, and the only joins are their broadcast
    // crossJoins.
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("src", "dst")
    val plan = Analytics.hitsRoundsDistributed(edges, Analytics.HitsIters)
      .queryExecution.optimizedPlan
    val aggs = plan.collect { case a: Aggregate => a }
    val joins = plan.collect { case j: Join => j }
    val rdds = plan.collect {
      case r if r.getClass.getSimpleName == "LogicalRDD" => r }
    assert(aggs.size == 2,
      s"expected exactly the 2 final max aggregates, got ${aggs.size}")
    assert(joins.size == 2,
      s"expected exactly the 2 broadcast crossJoins, got ${joins.size}")
    assert(rdds.nonEmpty, "per-round state must be checkpoint-scanned")
  }

  test("driver-side arm equals the distributed rounds row for row " +
       "(planted star and the real fixture graph)") {
    // the r18 Wrong-#3 shave: under HitsLocalMaxEdges the rounds run
    // driver-side with the round6/dsum6Local twins — rows must be
    // BIT-identical to the distributed arm on both a hand graph and
    // the real part→supplier edges
    val star = ((201L to 204L).map(d => (100L, d)) ++
      Seq((100L, 200L), (1L, 200L), (2L, 200L), (3L, 200L)))
      .toDF("src", "dst")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq
    assert(rows(Analytics.hitsRounds(star, Analytics.HitsIters)) ==
           rows(Analytics.hitsRoundsDistributed(star, Analytics.HitsIters)))
    val e = Tables.lineitem(spark, sf001)
      .select(col("l_partkey").as("src"), col("l_suppkey").as("dst"))
      .distinct()
    assert(rows(Analytics.hitsRounds(e, Analytics.HitsIters)) ==
           rows(Analytics.hitsRoundsDistributed(e, Analytics.HitsIters)))
  }

  test("both arms read a non-bigint edge list as bigint node ids: " +
       "string ids \"1\" and \"01\" are one node on either arm") {
    val e = Seq(("1", "200"), ("01", "200"), ("2", "200"), ("2", "201"))
      .toDF("src", "dst")
    val local = Analytics.hitsRounds(e, Analytics.HitsIters)
    val dist = Analytics.hitsRoundsDistributed(e, Analytics.HitsIters)
    def types(df: org.apache.spark.sql.DataFrame) = df.schema.map(f => f.name -> f.dataType)
    assert(types(dist) == types(local))
    assert(dist.schema("node").dataType == org.apache.spark.sql.types.LongType)
    assert(dist.collect().toSeq == local.collect().toSeq)
    // node 1 links 200 twice (a(200) = 3 after round one), node 2
    // links 200 and 201: hub 1 leads, and no hub "01" exists
    assert(dist.where(col("side") === "hub").select("node").as[Long].collect().toSeq ==
           Seq(1L, 2L))
  }

  test("fixture query: both sides present, scores in (0, 1], non-increasing") {
    val out = SparkEntry.queries("graph_hits")(spark, sf001).collect()
    val sides = out.map(_.getString(0)).distinct.toSet
    assert(sides == Set("hub", "auth"))
    Seq("hub", "auth").foreach { s =>
      val sc = out.filter(_.getString(0) == s).sortBy(_.getLong(1))
        .map(_.getDouble(3))
      assert(sc.head == 1.0)
      assert(sc.forall(x => x > 0.0 && x <= 1.0))
      assert(sc.zip(sc.tail).forall { case (x, y) => x >= y })
    }
  }
}
