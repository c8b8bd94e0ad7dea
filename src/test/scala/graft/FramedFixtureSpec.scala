package graft

import graft.operators.Scans
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Every framed fixture, decoded row by row through FramedSource and
  * checked against its closed form, joined to the events table on
  * event_id. The framed queries' oracles compare aggregates only, which
  * compensating per-row errors could pass. The fixtures are built from
  * private copies of the sf0.001 tables, so no other spec's reads (the
  * backfill query adds a sidecar to the bare archive) leak in. */
class FramedFixtureSpec extends SparkSpec {

  private lazy val dir: String = {
    val d = tempDir()
    copyTable("events", d)
    copyTable("documents", d)
    d.toString
  }

  /** The source events as (event_id, user_id, event_type, value, ts_us). */
  private lazy val events: Seq[(Long, Long, String, Double, Long)] =
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"),
              unix_micros(col("ts")))
      .collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3), r.getLong(4)))
  private lazy val byId = events.map(e => e._1 -> e).toMap

  private def decode(out: String): Seq[Row] =
    spark.read.format("graft.sources.FramedSource").load(out).collect().toSeq

  /** The decoded rows, after checking they hold every event exactly once. */
  private def oncePerEvent(out: String): Seq[Row] = {
    val rows = decode(out)
    assert(byId.size == events.size, "event_id is not a key of events")
    assert(rows.map(_.getAs[Long]("event_id")).sorted == events.map(_._1).sorted,
      s"$out: ${rows.size} rows for ${events.size} events")
    rows
  }

  private def files(out: String): Set[String] =
    new java.io.File(out).listFiles().map(_.getName).filterNot(_.startsWith(".")).toSet

  /** The extract keys against the source row: `pulses` ramps from
    * ts_us % 1e6, n = event_id % 5 (empty at 0); `user_id`/`ts_us`
    * where the fixture carries them. */
  private def checkExtract(out: String): Unit =
    oncePerEvent(out).foreach { r =>
      val (id, user, kind, value, tsUs) = byId(r.getAs[Long]("event_id"))
      assert(r.getAs[String]("event_type") == kind && r.getAs[Double]("value") == value, id)
      val pulses = r.getSeq[Long](r.fieldIndex("pulses"))
      assert(pulses == (0L until id % 5).map(tsUs % 1000000L + _), s"$id: $pulses")
      assert(pulses.isEmpty == (id % 5 == 0), id)
      if (r.schema.fieldNames.contains("user_id"))
        assert(r.getAs[Long]("user_id") == user && r.getAs[Long]("ts_us") == tsUs, id)
    }

  test("framedFixture writes exactly FramedFixtureParts part files, the bare " +
       "fixture one archive file, neither a sidecar") {
    assert(files(Scans.framedFixture(spark, dir)) ==
      (0 until Scans.FramedFixtureParts).map(p => s"part-$p.frames").toSet)
    assert(files(Scans.framedBareFixture(spark, dir)) == Set("archive.frames"))
  }

  test("the six-key fixtures and their gz/zst/bz2 copies decode to the closed form") {
    for (out <- Seq(Scans.framedFixture(spark, dir), Scans.framedBareFixture(spark, dir),
                    Scans.framedFixtureGz(spark, dir), Scans.framedFixtureZst(spark, dir),
                    Scans.framedFixtureBz2(spark, dir))) {
      assert(decode(out).head.schema.fieldNames.toSeq ==
        Seq("event_id", "user_id", "ts_us", "value", "event_type", "pulses"), out)
      checkExtract(out)
    }
  }

  test("the one-file split, stats and split-gz fixtures decode to the closed form") {
    Seq(Scans.framedSplitFixture(spark, dir), Scans.framedStatsFixture(spark, dir),
        Scans.framedSplitGzFixture(spark, dir)).foreach(checkExtract)
    val stats = decode(Scans.framedStatsFixture(spark, dir)).map(_.getAs[Long]("event_id"))
    assert(stats == stats.sorted, "the stats fixture is written sorted by event_id")
  }

  test("the pulse-series fixture carries the t and q ramps") {
    oncePerEvent(Scans.framedPulsesFixture(spark, dir)).foreach { r =>
      val (id, _, kind, _, tsUs) = byId(r.getAs[Long]("event_id"))
      assert(r.getAs[String]("event_type") == kind, id)
      val got = r.getSeq[Row](r.fieldIndex("pulses")).map(p => (p.getAs[Long]("t"), p.getAs[Double]("q")))
      val want = (0L until id % 5).map(i => (tsUs % 1000000L + i, (id % 7) + 0.25 * i))
      assert(got == want, s"$id: $got")
    }
  }

  test("the header fixture carries run, sub, t0 and q") {
    oncePerEvent(Scans.framedHeaderFixture(spark, dir)).foreach { r =>
      val (id, _, _, value, tsUs) = byId(r.getAs[Long]("event_id"))
      val h = r.getAs[Row]("header")
      assert((h.getAs[Long]("run"), h.getAs[Long]("sub"), h.getAs[Long]("t0"),
              h.getAs[Double]("q")) == ((id % 97, id % 10, tsUs, value)), id)
    }
  }

  test("the sub-event fixture keeps each Q frame's P frames in order") {
    oncePerEvent(Scans.framedSubeventsFixture(spark, dir)).foreach { r =>
      val (id, _, kind, _, _) = byId(r.getAs[Long]("event_id"))
      assert(r.getAs[String]("event_type") == kind, id)
      val got = r.getSeq[Row](r.fieldIndex("subevents"))
        .map(p => (p.getAs[Long]("sub_id"), p.getAs[Double]("q")))
      assert(got == (0L until id % 3).map(i => (i, (id % 7) + 0.25 * i)), s"$id: $got")
    }
  }

  test("the documents fixture decodes to the documents table") {
    val cols = Seq("doc_id", "lang", "source", "n_chars", "text")
    assertSameRows(
      spark.read.format("graft.sources.FramedSource")
        .load(Scans.framedDocsFixture(spark, dir)).select(cols.map(col): _*),
      Tables.documents(spark, dir).select(cols.map(col): _*), "framed docs")
  }
}
