package graft.operators

import graft.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Join operators. The reference has no relational joins (implicit
  * positional alignment only — SURVEY.md §1.1); this is the declared
  * engine surface. Every join here is written for 100 TB shape:
  * dimension tables broadcast, large-large joins shuffle on their equi
  * keys, the theta/range join is bucketized into an equi-join (never a
  * full cross product), and the as-of join is a single-shuffle
  * union-and-window rather than a per-row lookup.
  */
object Joins {

  /** join_asof_tolerance's staleness bound — ONE literal shared with
    * the oracle (interpolated into both), so the two cannot drift. */
  val AsofToleranceDays = 30

  /** join_dpp_partitioned's bucket fan-out — BOUNDED on purpose: the
    * fact lays out by `key % DppBuckets`, not by the raw key, so the
    * directory count stays 50 at any corpus size (partitioning by an
    * unbounded key is the classic small-file/metadata explosion).
    * Shared with the oracle SQL. */
  val DppBuckets = 50

  /** join_runtime_bloom's session knobs, saved and restored around the
    * one materialization so no OTHER query's plan is affected: the
    * injection rule needs the probe-side scan to clear the
    * application-side threshold (0 here because the fixture is MBs —
    * the production default of 10 GB is exactly the right bar at
    * 100 TB, where this filter skips shuffle-writing the ~99% of fact
    * rows that cannot match) and the join must stay a SHUFFLE join
    * (a broadcast join already probes a hash map — Catalyst rightly
    * refuses to add a redundant bloom). */
  private[graft] def withRuntimeBloomConfs[T](s: SparkSession)(body: => T): T = {
    val want = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val saved = want.map { case (k, _) => k -> s.conf.getOption(k) }
    want.foreach { case (k, v) => s.conf.set(k, v) }
    try body finally saved.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None)    => s.conf.unset(k)
    }
  }

  /** The join join_runtime_bloom materializes — exposed so
    * PlanAuditSpec can pin the injected `bloom_filter_agg` /
    * `might_contain` pair on the pre-materialization plan. */
  private[graft] def runtimeBloomJoin(s: SparkSession, dir: String): DataFrame = {
    val dim = orders(s, dir)
      .where(col("o_orderpriority") === "3-MEDIUM" && col("o_totalprice") > 400000)
      .select(col("o_orderkey"), col("o_orderstatus"))
    lineitem(s, dir)
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      .join(dim, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderstatus")
      .agg(big(count(lit(1))).as("n_items"),
           dsum6(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
  }

  val queries: Map[String, Q] = Map(
    // Large-ish equi-join, aggregated. Shuffle on the join key; AQE picks
    // broadcast automatically when one side is small at runtime.
    "join_inner_hash" -> ((s, dir) =>
      orders(s, dir)
        .join(customer(s, dir), col("o_custkey") === col("c_custkey"), "inner")
        .groupBy("c_mktsegment")
        .agg(big(count(lit(1))).as("n_orders"), dsum(col("o_totalprice")).as("revenue"))
        .orderBy("c_mktsegment")),

    // Star-schema dims explicitly broadcast: zero shuffle of the fact side
    // beyond the final tiny aggregation.
    "join_broadcast" -> ((s, dir) =>
      customer(s, dir)
        .join(broadcast(nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(region(s, dir)), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(big(count(lit(1))).as("n_cust"), dsum(col("c_acctbal")).as("total_bal"))
        .orderBy("r_name", "n_name")),

    // Large-large: force sort-merge (the plan that survives when neither
    // side fits in memory at 100 TB).
    "join_sortmerge" -> ((s, dir) =>
      lineitem(s, dir).hint("merge")
        .join(orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderstatus")
        .agg(big(count(lit(1))).as("n_li"),
             dsum6(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
        .orderBy("o_orderstatus")),

    // Left outer with null-aware aggregates: customers with zero orders
    // must appear with n_orders = 0.
    "join_outer_left" -> ((s, dir) =>
      customer(s, dir)
        .join(orders(s, dir), col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(big(count(col("o_orderkey"))).as("n_orders"),
             coalesce(dsum(col("o_totalprice")), lit(0.0)).as("spent"))
        .orderBy("c_custkey")),

    // Full outer of two pre-aggregated sides (per-nation supplier vs
    // customer balance) — aggregate-before-join keeps the shuffle tiny.
    "join_outer_full" -> ((s, dir) => {
      val sAgg = supplier(s, dir).groupBy(col("s_nationkey").as("snk"))
        .agg(dsum(col("s_acctbal")).as("supp_bal"))
      val cAgg = customer(s, dir).groupBy(col("c_nationkey").as("cnk"))
        .agg(dsum(col("c_acctbal")).as("cust_bal"))
      sAgg.join(cAgg, col("snk") === col("cnk"), "full")
        .select(coalesce(col("snk"), col("cnk")).as("nationkey"),
                col("supp_bal"), col("cust_bal"))
        .orderBy(col("nationkey").asc_nulls_first)
    }),

    // Existential join — no row multiplication, dedup-free.
    "join_semi" -> ((s, dir) =>
      customer(s, dir)
        .join(orders(s, dir).where(col("o_orderpriority") === "1-URGENT"),
              col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")),

    // Negated existential.
    "join_anti" -> ((s, dir) =>
      customer(s, dir)
        .join(orders(s, dir), col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")),

    // Theta/range join done scalably: bucketize price to integer buckets
    // and equi-join on bucket (candidates = bucket±1), then filter the
    // exact range predicate. Never a cross product — at 100 TB the naive
    // BroadcastNestedLoopJoin is the difference between minutes and days.
    "join_theta_range" -> ((s, dir) => {
      val p  = part(s, dir).select("p_partkey", "p_brand", "p_retailprice")
      val p1 = p.withColumn("bkt", floor(col("p_retailprice")))
      val p2 = p.select(col("p_partkey").as("k2"), col("p_brand").as("b2"),
                        col("p_retailprice").as("pr2"))
        .withColumn("bkt", explode(array(floor(col("pr2")) - 1, floor(col("pr2")),
                                         floor(col("pr2")) + 1)))
      p1.join(p2, Seq("bkt"))
        .where(col("b2") =!= col("p_brand") &&
               col("pr2") >= col("p_retailprice") - 1.0 &&
               col("pr2") <= col("p_retailprice") + 1.0)
        .groupBy("p_partkey")
        .agg(big(count(lit(1))).as("n_close"))
        .orderBy("p_partkey")
    }),

    // DYNAMIC PARTITION PRUNING — the star-schema scale feature that
    // makes a selective dim filter skip FACT partitions at runtime:
    // the fact is laid out by the bounded join bucket (`l_suppkey %
    // DppBuckets` — 50 dirs at any SF, never the raw-key explosion),
    // the dim filter (`s_suppkey % 10 = 0`) is only known at plan
    // time on the DIM side, and Catalyst injects a
    // dynamicpruningexpression into the fact scan's PartitionFilters
    // (reusing the broadcast) so only the dim's surviving buckets are
    // ever read — at 100 TB that is the difference between scanning
    // the table and scanning 1/5th of it. PlanAuditSpec pins the
    // dynamicpruning subquery in the executed scan.
    "join_dpp_partitioned" -> ((s, dir) => {
      val out = scratch(dir, "dpp_fact")
      graft.Tables.once(s, "dpp_fact", s"$dir/lineitem.parquet") {
          lineitem(s, dir)
            .select(col("l_orderkey"), col("l_suppkey"), col("l_quantity"))
            .withColumn("sbkt", pmod(col("l_suppkey"), lit(DppBuckets)))
            // co-locate each bucket before the write — one file per
            // dir, not (tasks × dirs) small files
            .repartition(col("sbkt"))
            .write.mode("overwrite").partitionBy("sbkt").parquet(out)
        }
      val fact = s.read.parquet(out)
      val dim = supplier(s, dir)
        .where(col("s_suppkey") % 10 === 0)
        .withColumn("dbkt", pmod(col("s_suppkey"), lit(DppBuckets)))
      fact.join(broadcast(dim),
          fact("sbkt") === dim("dbkt") && fact("l_suppkey") === dim("s_suppkey"))
        .groupBy("s_suppkey")
        .agg(big(count(lit(1))).as("n"), r2(sum(col("l_quantity"))).as("sum_qty"))
        .orderBy("s_suppkey")
    }),

    // As-of join (latest event at or before each order date, per user):
    // union-tag + running-window max. ONE shuffle on the user key —
    // the scalable formulation vs. a per-order point lookup. Emits the
    // matched timestamp (not an id) so equal-timestamp ties cannot make
    // the result nondeterministic.
    "join_asof" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = events(s, dir)
        .select(col("user_id").as("uid"), col("ts"),
                lit(0).as("is_order"), lit(null).cast("long").as("o_orderkey"))
      val od = orders(s, dir)
        .select(col("o_custkey").as("uid"), col("o_orderdate").as("ts"),
                lit(1).as("is_order"), col("o_orderkey"))
      val w = Window.partitionBy("uid").orderBy(col("ts"), col("is_order"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ev.unionByName(od)
        .withColumn("last_ev_ts",
          max(when(col("is_order") === 0, col("ts"))).over(w))
        .where(col("is_order") === 1)
        .select(col("o_orderkey"), col("uid").as("o_custkey"), col("last_ev_ts"))
        .orderBy("o_orderkey")
    }),

    // BACKWARD as-of with a TOLERANCE bound (pandas merge_asof
    // tolerance semantics): the match is the latest prior event, but
    // only if it lies within the window — a stale match older than
    // the bound reports NO match (null), which is what a
    // feature-freshness join actually wants ("the last reading, if
    // it isn't too old to trust"). Identical plan to join_asof (ONE
    // shuffle on the user key, union-tag + running window); the
    // bound is a row-local null-out AFTER the window, so tolerance
    // costs nothing at any scale.
    "join_asof_tolerance" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = events(s, dir)
        .select(col("user_id").as("uid"), col("ts"),
                lit(0).as("is_order"), lit(null).cast("long").as("o_orderkey"))
      val od = orders(s, dir)
        .select(col("o_custkey").as("uid"), col("o_orderdate").as("ts"),
                lit(1).as("is_order"), col("o_orderkey"))
      val w = Window.partitionBy("uid").orderBy(col("ts"), col("is_order"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ev.unionByName(od)
        .withColumn("last_ev_ts",
          max(when(col("is_order") === 0, col("ts"))).over(w))
        .where(col("is_order") === 1)
        .select(col("o_orderkey"), col("uid").as("o_custkey"),
          when(col("last_ev_ts") >= col("ts") - expr(s"INTERVAL $AsofToleranceDays DAYS"),
               col("last_ev_ts")).as("last_ev_ts"))
        .orderBy("o_orderkey")
    }),

    // NEAREST as-of with tolerance — the BIDIRECTIONAL variant of
    // join_asof (backward-only): each purchase event matches the
    // nearest view event of the same user within ±30 min, whichever
    // side is closer, tie to the earlier (backward) neighbor. Same
    // union-tag + window machinery, ONE shuffle on user_id, and both
    // directional windows share partitioning AND ordering, so they
    // stack over a single Exchange — no per-row range probe, no
    // interval explosion. The sort key (t, tag, event_id) puts a view
    // at the exact purchase micro BEFORE the purchase row, so a
    // zero-distance neighbor lands in the backward window and the
    // backward tie rule applies identically in both engines. All
    // distances are exact integer µs.
    "join_asof_nearest" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val tolUs = 1800L * 1000000L
      val ev = events(s, dir)
      val views = ev.where(col("event_type") === "view")
        .select(col("user_id"), unix_micros(col("ts")).as("t"),
                lit(0).as("tag"), col("event_id"))
      val purch = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), unix_micros(col("ts")).as("t"),
                lit(1).as("tag"), col("event_id"))
      val ord = Window.partitionBy("user_id")
        .orderBy(col("t"), col("tag"), col("event_id"))
      val prevV = max(when(col("tag") === 0, col("t")))
        .over(ord.rowsBetween(Window.unboundedPreceding, Window.currentRow))
      val nextV = min(when(col("tag") === 0, col("t")))
        .over(ord.rowsBetween(Window.currentRow, Window.unboundedFollowing))
      views.unionByName(purch)
        .withColumn("dprev", col("t") - prevV)
        .withColumn("dnext", nextV - col("t"))
        .where(col("tag") === 1)
        .withColumn("dist",
          when(col("dprev").isNotNull &&
               (col("dnext").isNull || col("dprev") <= col("dnext")), col("dprev"))
            .otherwise(col("dnext")))
        .where(col("dist").isNotNull && col("dist") <= tolUs)
        .withColumn("direction",
          when(col("dprev").isNotNull &&
               (col("dnext").isNull || col("dprev") <= col("dnext")), lit("backward"))
            .otherwise(lit("forward")))
        .select(col("event_id"), col("user_id"), col("dist").as("dist_us"),
                col("direction"))
        .orderBy("event_id")
    }),

    // Bucketed co-located join: both sides pre-bucketed on the join key
    // into the same bucket count → the join needs NO exchange at read
    // time (each task joins bucket i with bucket i). At 100 TB this is
    // the difference between re-shuffling two fact tables on every join
    // and shuffling once at ingest; the bucket layout persists in the
    // table catalog. PlanAuditSpec asserts the exchange-free plan.
    "join_bucketed_colocated" -> ((s, dir) => {
      val nb = 8
      // Table names are scoped by a fingerprint of the input dir AND
      // its source files (name/size/mtime) (ADVICE r1+r2): a bucketed
      // table that exists in the catalog under this name was, by
      // construction, built from THIS data — reuse it instead of
      // re-deleting/re-writing (which raced with concurrent queries and
      // touched paths derived from mutable session conf). Regenerated
      // fixtures change the fingerprint → a fresh table, never stale
      // buckets; the hash is also collision-free where the old
      // [^A-Za-z0-9]→_ sanitization wasn't (/d/sf0.1 vs /d/sf0_1).
      def fsSig(path: String): String = graft.Tables.fsSig(s, path)
      val tag = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$dir|${fsSig(s"$dir/orders.parquet")}|${fsSig(s"$dir/customer.parquet")}"
          .getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(16)
      // pid scope: the catalog is per-JVM (in-memory), but the
      // warehouse DIR is shared — two concurrent JVMs (bench + verify)
      // each saw "table missing" and wrote the same path twice,
      // doubling the data files a later read picks up. Cross-JVM reuse
      // was never real (tableExists is this JVM's catalog), so keying
      // the name by pid removes the race at zero reuse cost; the
      // fingerprint still invalidates within-JVM reuse on fixture
      // regeneration.
      val pid = ProcessHandle.current().pid()
      val ordersT = s"graft_orders_b_${tag}_$pid"
      val custT   = s"graft_customer_b_${tag}_$pid"
      def build(t: String, write: => Unit): Unit =
        if (!s.catalog.tableExists(t)) {
          val p = new org.apache.hadoop.fs.Path(
            s.conf.get("spark.sql.warehouse.dir") + "/" + t)
          p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
          write
        }
      // repartition on the bucket key with the bucket count BEFORE the
      // bucketed write: bucketBy emits one file per (task, bucket)
      // pair, so an unpartitioned input writes tasks×buckets small
      // files; hash-pre-partitioned input writes exactly nb files —
      // the same small-file explosion partitionBy has, one level down
      build(ordersT,
        orders(s, dir).select("o_orderkey", "o_custkey", "o_totalprice")
          .repartition(nb, col("o_custkey"))
          .write.mode("overwrite")
          .bucketBy(nb, "o_custkey").sortBy("o_custkey")
          .saveAsTable(ordersT))
      build(custT,
        customer(s, dir).select("c_custkey", "c_mktsegment")
          .repartition(nb, col("c_custkey"))
          .write.mode("overwrite")
          .bucketBy(nb, "c_custkey").sortBy("c_custkey")
          .saveAsTable(custT))
      s.table(ordersT)
        .join(s.table(custT), col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(big(count(lit(1))).as("n_orders"), dsum(col("o_totalprice")).as("revenue"))
        .orderBy("c_mktsegment")
    }),

    // Salted join for join-key skew: the fact side gets a salt from a
    // NON-key column (spreading one hot key over 8 reducers); the dim
    // side replicates ×8 via explode so every (key, salt) pair still
    // meets its match. The rewrite is exact — the oracle is the plain
    // join. This is the manual fallback for skew AQE can't fix (e.g.
    // when the hot key is known and the dim side is replicable but too
    // big to broadcast whole).
    "join_salted_skew" -> ((s, dir) => {
      val nSalts = 8
      val ev = events(s, dir)
        .withColumn("salt", pmod(col("event_id"), lit(nSalts)))
      val cust = customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment"))
        .withColumn("salt", explode(array((0 until nSalts).map(lit): _*)))
      ev.join(cust, col("user_id") === col("c_custkey") && ev("salt") === cust("salt"))
        .groupBy("c_mktsegment")
        .agg(big(count(lit(1))).as("n_events"), r2(sum(col("value"))).as("val_sum"))
        .orderBy("c_mktsegment")
    }),

    // Interval self-join: same-user event pairs within 10 minutes.
    // Bucketized like the theta join: ts2 ∈ [ts1, ts1+10min) implies
    // bucket(ts2) ∈ {bucket(ts1), bucket(ts1)+1} for 10-minute buckets,
    // so the right side replicates into its own and previous bucket and
    // the join key becomes (user_id, bucket) — candidates per row are
    // O(events in two buckets), not O(events per user). This is what
    // keeps a dense user's month of events from exploding quadratically.
    "join_interval_overlap" -> ((s, dir) => {
      val bucketUs = 600L * 1000000 // 10 minutes in µs
      val e1 = events(s, dir)
        .select(col("user_id"), col("ts").as("ts1"), col("event_id").as("id1"))
        .withColumn("b", (unix_micros(col("ts1")) / bucketUs).cast("long"))
      val e2 = events(s, dir)
        .select(col("user_id"), col("ts").as("ts2"), col("event_id").as("id2"))
        .withColumn("b2", (unix_micros(col("ts2")) / bucketUs).cast("long"))
        .withColumn("b", explode(array(col("b2"), col("b2") - 1)))
      e1.join(e2, Seq("user_id", "b"))
        .where(col("id2") =!= col("id1") &&
               col("ts2") >= col("ts1") &&
               col("ts2") < col("ts1") + expr("INTERVAL 10 MINUTES"))
        .groupBy("user_id")
        .agg(big(count(lit(1))).as("n_pairs"))
        .orderBy("user_id")
    }),

    // Forward as-of: each order joined to the user's FIRST event
    // at-or-after the order date (the mirror of join_asof's
    // latest-prior). Same union-tag + one-window design — a running
    // min over the future frame — so the whole bitemporal pair costs
    // ONE shuffle on the user key; ties (event at the exact order
    // timestamp) are included by ordering orders before events at
    // equal ts.
    "join_asof_forward" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = events(s, dir)
        .select(col("user_id").as("uid"), col("ts"),
                lit(0).as("is_order"), lit(null).cast("long").as("o_orderkey"))
      val od = orders(s, dir)
        .select(col("o_custkey").as("uid"), col("o_orderdate").as("ts"),
                lit(1).as("is_order"), col("o_orderkey"))
      val w = Window.partitionBy("uid").orderBy(col("ts"), col("is_order").desc)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      ev.unionByName(od)
        .withColumn("next_ev_ts",
          min(when(col("is_order") === 0, col("ts"))).over(w))
        .where(col("is_order") === 1)
        .select(col("o_orderkey"), col("uid").as("o_custkey"), col("next_ev_ts"))
        .orderBy("o_orderkey")
    }),

    // Cross join as a report scaffold: every (region × returnflag)
    // combination carries the flag's global totals, so downstream
    // per-region allocation always sees a dense matrix (no missing
    // combos after sparse joins). Both sides are aggregates a few rows
    // tall — Catalyst plans a BroadcastNestedLoopJoin, never a
    // shuffle; the pattern stays O(dims) at any corpus size because
    // the cross product is over DIMENSIONS, not facts.
    "join_cross" -> ((s, dir) => {
      val r = region(s, dir).select(col("r_name"))
      val f = lineitem(s, dir).groupBy("l_returnflag")
        .agg(big(count(lit(1))).as("n_items"), dsum(col("l_quantity")).as("qty"))
      r.crossJoin(f)
        .select(col("r_name"), col("l_returnflag"), col("n_items"), col("qty"))
        .orderBy("r_name", "l_returnflag")
    }),

    // Bloom-prefiltered join (semi-join reduction): build a Bloom
    // filter over the selective side's keys (urgent orders), prefilter
    // the fact scan with it, then run the exact join — false positives
    // are eliminated by the join, so the result is bit-identical to
    // the plain join while the shuffle carries only ~|matching|(1+fpp)
    // fact rows instead of the whole table. This is the pattern behind
    // Spark's own runtime bloom-filter rewrite
    // (spark.sql.optimizer.runtime.bloomFilter.enabled, on by
    // default); building it explicitly makes the reduction available
    // across stages (e.g. before a checkpoint) where the optimizer
    // rewrite can't reach. The build is one treeAggregate over the
    // filtered dim; the filter ships to executors as a broadcast.
    // FUZZY STRING SELF-JOIN (entity resolution): near-identical part
    // names by Levenshtein distance ≤ 4, the typo/variant-spelling
    // matcher. The 100-TB discipline is THREE-layer: (1) collapse the
    // corpus to its name VOCABULARY first (one hash-agg — distance
    // computations scale with distinct names, never rows); (2) BLOCK
    // candidates on the noun token (pairs must share it — the declared
    // contract, mirrored by the oracle, exactly like the dedup
    // family's MaxShingleDf cap being part of the operator); (3) a
    // length-band prefilter |len(a)−len(b)| ≤ 4 that is semantics-free
    // (edit distance ≥ length gap, so it drops only rows Levenshtein
    // would drop — the oracle omits it and must agree) but prunes
    // before the O(len²) DP runs. The vocab table is broadcast-sized
    // by construction, so the block join is exchange-free on the
    // corpus side.
    "join_fuzzy_string" -> ((s, dir) => {
      val vocab = part(s, dir).groupBy(col("p_name").as("name"))
        .agg(big(count(lit(1))).as("n"))
        .withColumn("blk", element_at(split(col("name"), " "), -1))
      val a = vocab.select(col("blk"), col("name").as("name_a"), col("n").as("n_a"))
      val b = vocab.select(col("blk"), col("name").as("name_b"), col("n").as("n_b"))
      a.join(b, Seq("blk"))
        .where(col("name_a") < col("name_b") &&
               abs(length(col("name_a")) - length(col("name_b"))) <= 4 &&
               levenshtein(col("name_a"), col("name_b")) <= 4)
        .select(col("name_a"), col("name_b"),
                big(levenshtein(col("name_a"), col("name_b"))).as("dist"),
                col("n_a"), col("n_b"))
        .orderBy("name_a", "name_b")
    }),

    "join_bloom_prefilter" -> ((s, dir) => {
      val urgent = orders(s, dir)
        .where(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"), col("o_orderdate"))
      val bf = urgent.stat.bloomFilter("o_orderkey", 100000L, 0.01)
      // probe with the native BloomFilterMightContain expression — the
      // same codegen'd probe Spark's runtime bloom-filter rule emits —
      // instead of a boxed per-row Scala UDF (VERDICT r3 #5). The
      // serialized filter rides as a foldable binary literal, exactly
      // how the injected rule ships its subquery result.
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      val probe = org.apache.spark.sql.graftx.shims.column(
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
          org.apache.spark.sql.catalyst.expressions.Literal.create(
            bos.toByteArray, org.apache.spark.sql.types.BinaryType),
          org.apache.spark.sql.graftx.shims.expression(col("l_orderkey"))))
      lineitem(s, dir)
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
        .where(probe)
        .join(urgent, col("l_orderkey") === col("o_orderkey"))
        .groupBy(month(col("o_orderdate")).cast("long").as("order_month"))
        .agg(big(count(lit(1))).as("n_items"),
             dsum6(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
        .orderBy("order_month")
    }),

    // RUNTIME-INJECTED bloom filter — the AUTOMATIC cousin of
    // join_bloom_prefilter: no hand-built sketch, Catalyst's
    // InjectRuntimeFilter plants a bloom_filter_agg subquery on the
    // selective dim side and a might_contain probe on the fact side,
    // so the fact drops ~99% of its rows BEFORE the join shuffle
    // writes them. The result materializes once under the scoped
    // confs (memoized by fixture fingerprint) and reads back ordered;
    // PlanAuditSpec pins the injected pair on the live plan.
    "join_runtime_bloom" -> ((s, dir) => {
      val out = scratch(dir, "runtime_bloom")
      graft.Tables.once(s, "runtime_bloom", s"$dir/lineitem.parquet") {
          // the conf flips ride a DEDICATED newSession (own SQLConf,
          // shared SparkContext), so a query planned concurrently in
          // the parent session can never see the disabled-broadcast /
          // zeroed-threshold window (ADVICE r14)
          val ns = s.newSession()
          withRuntimeBloomConfs(ns) {
            runtimeBloomJoin(ns, dir).write.mode("overwrite").parquet(out)
          }
        }
      s.read.parquet(out).orderBy("o_orderstatus")
    }),

    // DEEP star schema — one fact pass, every dimension broadcast. The
    // supplier→nation→region snowflake arm collapses BROADCAST-SIDE
    // (three tiny tables join among themselves before any of them
    // touches the fact), then the fact stream-probes two broadcast
    // hash maps back to back inside one whole-stage-codegen span. The
    // fact is never shuffled — the only exchange in the plan is the
    // final ≤ |region|×|brand| aggregation. This is the plan shape
    // that survives 100 TB: dims are MBs at any corpus scale, so
    // scaling the fact 1000× adds zero shuffle bytes.
    "join_star_schema" -> ((s, dir) => {
      val geo = supplier(s, dir)
        .join(broadcast(nation(s, dir)), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(region(s, dir)), col("n_regionkey") === col("r_regionkey"))
        .select(col("s_suppkey"), col("r_name"))
      val pdim = part(s, dir).where(col("p_size") <= 20)
        .select(col("p_partkey"), col("p_brand"))
      lineitem(s, dir)
        .join(broadcast(pdim), col("l_partkey") === col("p_partkey"))
        .join(broadcast(geo), col("l_suppkey") === col("s_suppkey"))
        .groupBy("r_name", "p_brand")
        .agg(big(count(lit(1))).as("n_items"),
             dsum6(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
        .orderBy("r_name", "p_brand")
    }),

    // SPATIAL DISTANCE JOIN via grid bucketing — the ST_DWithin /
    // closest-pairs pattern: points land in cells of side = radius,
    // one side probes its 3×3 cell neighborhood (a point within r of
    // another MUST be in an adjacent cell — the grid is lossless by
    // construction), candidates come from an EQUI-join on the cell
    // key, the exact integer gate (dx²+dy² ≤ r², no floats anywhere)
    // runs after. Each qualifying pair matches exactly once: the probe
    // side fans out, the build side sits in its single home cell, and
    // a < b kills the mirror — no distinct needed. The k closest pairs
    // cut is a TakeOrderedAndProject heap, never a global sort. The
    // oracle brute-forces all O(n²) pairs, so the hash match PROVES
    // the grid join's completeness. Coordinates are the house
    // md5-prefix hash of the key (engine-portable, recomputable
    // forever); a real deployment reads lat/lon and scales by r.
    "join_spatial_grid" -> ((s, dir) => {
      val r = SpatialRadius
      def coord(salt: String) = pmod(
        conv(substring(md5(concat(lit(salt), col("c_custkey").cast("string"))), 1, 8),
             16, 10).cast("long"), lit(10000L))
      val pts = customer(s, dir).select(
        col("c_custkey").as("id"), coord("sx:").as("x"), coord("sy:").as("y"))
      val probe = pts.select(col("id").as("a"), col("x").as("xa"), col("y").as("ya"),
        explode(expr(s"flatten(transform(sequence(-1, 1), dx -> " +
          s"transform(sequence(-1, 1), dy -> " +
          s"struct((x div $r) + dx AS cx, (y div $r) + dy AS cy))))")).as("c"))
        .select(col("a"), col("xa"), col("ya"),
                col("c.cx").as("cx"), col("c.cy").as("cy"))
      val build = pts.select(col("id").as("b"), col("x").as("xb"), col("y").as("yb"),
        expr(s"x div $r").as("cx"), expr(s"y div $r").as("cy"))
      probe.join(build, Seq("cx", "cy"))
        .where(col("a") < col("b"))
        .withColumn("dist2",
          (col("xa") - col("xb")) * (col("xa") - col("xb")) +
          (col("ya") - col("yb")) * (col("ya") - col("yb")))
        .where(col("dist2") <= r * r)
        .select(col("a"), col("b"), big(col("dist2")).as("dist2"))
        .orderBy(col("dist2"), col("a"), col("b"))
        .limit(SpatialTopK)
    })
  )

  /** Spatial-join geometry (shared with the oracle): cell side =
    * radius 100 on the 10000×10000 hashed-coordinate plane; the
    * report keeps the 500 closest qualifying pairs. */
  val SpatialRadius = 100
  val SpatialTopK = 500

  val oracle: Map[String, String] = Map(
    // brute-force all pairs — the grid plan must find every one of
    // them (cell side = radius makes the 3×3 probe lossless)
    "join_spatial_grid" ->
      ("WITH p AS (SELECT c_custkey AS id, " +
       "CAST(CONCAT('0x', SUBSTRING(MD5('sx:' || CAST(c_custkey AS VARCHAR)), 1, 8)) AS BIGINT) % 10000 AS x, " +
       "CAST(CONCAT('0x', SUBSTRING(MD5('sy:' || CAST(c_custkey AS VARCHAR)), 1, 8)) AS BIGINT) % 10000 AS y " +
       "FROM customer) " +
       "SELECT a.id AS a, b.id AS b, " +
       "CAST((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS BIGINT) AS dist2 " +
       "FROM p a JOIN p b ON a.id < b.id " +
       s"WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= ${SpatialRadius * SpatialRadius} " +
       s"ORDER BY dist2, a, b LIMIT $SpatialTopK"),
    "join_inner_hash" ->
      ("SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_orders, " +
       s"${dsumSql("o_totalprice")} AS revenue " +
       "FROM orders JOIN customer ON o_custkey = c_custkey " +
       "GROUP BY c_mktsegment ORDER BY c_mktsegment"),
    "join_broadcast" ->
      ("SELECT r_name, n_name, CAST(COUNT(*) AS BIGINT) AS n_cust, " +
       s"${dsumSql("c_acctbal")} AS total_bal " +
       "FROM customer JOIN nation ON c_nationkey = n_nationkey " +
       "JOIN region ON n_regionkey = r_regionkey " +
       "GROUP BY r_name, n_name ORDER BY r_name, n_name"),
    "join_sortmerge" ->
      ("SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_li, " +
       s"${dsum6Sql("l_extendedprice * (1 - l_discount)")} AS revenue " +
       "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
       "GROUP BY o_orderstatus ORDER BY o_orderstatus"),
    "join_outer_left" ->
      ("SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS n_orders, " +
       s"COALESCE(${dsumSql("o_totalprice")}, 0.0) AS spent " +
       "FROM customer LEFT JOIN orders ON c_custkey = o_custkey " +
       "GROUP BY c_custkey ORDER BY c_custkey"),
    "join_outer_full" ->
      ("SELECT COALESCE(s.snk, c.cnk) AS nationkey, s.supp_bal, c.cust_bal FROM " +
       s"(SELECT s_nationkey AS snk, ${dsumSql("s_acctbal")} AS supp_bal FROM supplier GROUP BY s_nationkey) s " +
       "FULL JOIN " +
       s"(SELECT c_nationkey AS cnk, ${dsumSql("c_acctbal")} AS cust_bal FROM customer GROUP BY c_nationkey) c " +
       "ON s.snk = c.cnk ORDER BY nationkey ASC NULLS FIRST"),
    "join_semi" ->
      ("SELECT c_custkey, c_name FROM customer WHERE c_custkey IN " +
       "(SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT') " +
       "ORDER BY c_custkey"),
    "join_anti" ->
      ("SELECT c_custkey, c_name FROM customer WHERE NOT EXISTS " +
       "(SELECT 1 FROM orders WHERE o_custkey = c_custkey) ORDER BY c_custkey"),
    "join_theta_range" ->
      ("SELECT p1.p_partkey, CAST(COUNT(*) AS BIGINT) AS n_close " +
       "FROM part p1 JOIN part p2 ON p2.p_brand <> p1.p_brand " +
       "AND p2.p_retailprice >= p1.p_retailprice - 1.0 " +
       "AND p2.p_retailprice <= p1.p_retailprice + 1.0 " +
       "GROUP BY p1.p_partkey ORDER BY p1.p_partkey"),
    // the bucket conjunct is implied by the key equality — same rows;
    // the partition layout is a Spark physical concern the oracle
    // needn't see
    "join_dpp_partitioned" ->
      ("SELECT s_suppkey, CAST(COUNT(*) AS BIGINT) AS n, " +
       "ROUND(SUM(l_quantity), 2) AS sum_qty " +
       "FROM lineitem JOIN supplier ON l_suppkey = s_suppkey " +
       "WHERE s_suppkey % 10 = 0 " +
       "GROUP BY 1 ORDER BY 1"),

    "join_asof" ->
      ("SELECT o_orderkey, o_custkey, " +
       "(SELECT MAX(e.ts) FROM events e WHERE e.user_id = o.o_custkey AND e.ts <= o.o_orderdate) AS last_ev_ts " +
       "FROM orders o ORDER BY o_orderkey"),
    "join_asof_forward" ->
      ("SELECT o_orderkey, o_custkey, " +
       "(SELECT MIN(e.ts) FROM events e WHERE e.user_id = o.o_custkey AND e.ts >= o.o_orderdate) AS next_ev_ts " +
       "FROM orders o ORDER BY o_orderkey"),
    // the same latest-prior subquery with the staleness bound folded
    // into the predicate — a match outside the window is no match
    "join_asof_tolerance" ->
      ("SELECT o_orderkey, o_custkey, " +
       "(SELECT MAX(e.ts) FROM events e WHERE e.user_id = o.o_custkey " +
       "AND e.ts <= o.o_orderdate " +
       s"AND e.ts >= o.o_orderdate - INTERVAL $AsofToleranceDays DAY) AS last_ev_ts " +
       "FROM orders o ORDER BY o_orderkey"),
    // independent correlated-subquery derivation of the window
    // formulation; equal-micros views land in BOTH tprev and tnext
    // here but only the backward window there — outcome identical
    // because dprev = 0 wins the tie in both
    "join_asof_nearest" ->
      ("WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS t FROM events " +
       "WHERE event_type = 'purchase'), " +
       "pv AS (SELECT p.event_id, p.user_id, p.t, " +
       "(SELECT MAX(epoch_us(v.ts)) FROM events v WHERE v.event_type = 'view' " +
       "AND v.user_id = p.user_id AND epoch_us(v.ts) <= p.t) AS tprev, " +
       "(SELECT MIN(epoch_us(v.ts)) FROM events v WHERE v.event_type = 'view' " +
       "AND v.user_id = p.user_id AND epoch_us(v.ts) >= p.t) AS tnext FROM p), " +
       "d AS (SELECT event_id, user_id, " +
       "CASE WHEN tprev IS NOT NULL AND (tnext IS NULL OR t - tprev <= tnext - t) " +
       "THEN t - tprev ELSE tnext - t END AS dist_us, " +
       "CASE WHEN tprev IS NOT NULL AND (tnext IS NULL OR t - tprev <= tnext - t) " +
       "THEN 'backward' ELSE 'forward' END AS direction FROM pv) " +
       "SELECT event_id, user_id, dist_us, direction FROM d " +
       "WHERE dist_us IS NOT NULL AND dist_us <= 1800000000 ORDER BY event_id"),
    "join_bucketed_colocated" ->
      ("SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_orders, " +
       s"${dsumSql("o_totalprice")} AS revenue " +
       "FROM orders JOIN customer ON o_custkey = c_custkey " +
       "GROUP BY c_mktsegment ORDER BY c_mktsegment"),
    "join_salted_skew" ->
      ("SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_events, " +
       "ROUND(SUM(value), 2) AS val_sum " +
       "FROM events JOIN customer ON user_id = c_custkey " +
       "GROUP BY c_mktsegment ORDER BY c_mktsegment"),
    "join_interval_overlap" ->
      ("SELECT e1.user_id, CAST(COUNT(*) AS BIGINT) AS n_pairs " +
       "FROM events e1 JOIN events e2 ON e1.user_id = e2.user_id " +
       "AND e2.event_id <> e1.event_id AND e2.ts >= e1.ts " +
       "AND e2.ts < e1.ts + INTERVAL 10 MINUTE " +
       "GROUP BY e1.user_id ORDER BY e1.user_id"),
    "join_cross" ->
      ("SELECT r_name, l_returnflag, n_items, qty FROM region CROSS JOIN " +
       "(SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n_items, " +
       dsumSql("l_quantity") + " AS qty FROM lineitem GROUP BY l_returnflag) " +
       "ORDER BY r_name, l_returnflag"),
    // same vocab + noun-token blocking contract; the length-band
    // prefilter is deliberately absent (it must be semantics-free)
    "join_fuzzy_string" ->
      ("WITH vocab AS (SELECT p_name AS name, CAST(COUNT(*) AS BIGINT) AS n, " +
       "split_part(p_name, ' ', -1) AS blk FROM part GROUP BY 1) " +
       "SELECT a.name AS name_a, b.name AS name_b, " +
       "CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist, " +
       "a.n AS n_a, b.n AS n_b " +
       "FROM vocab a JOIN vocab b ON a.blk = b.blk AND a.name < b.name " +
       "WHERE levenshtein(a.name, b.name) <= 4 " +
       "ORDER BY name_a, name_b"),
    "join_bloom_prefilter" ->
      ("SELECT CAST(MONTH(o_orderdate) AS BIGINT) AS order_month, " +
       "CAST(COUNT(*) AS BIGINT) AS n_items, " +
       dsum6Sql("l_extendedprice * (1 - l_discount)") + " AS revenue " +
       "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
       "WHERE o_orderpriority = '1-URGENT' " +
       "GROUP BY 1 ORDER BY 1"),
    "join_star_schema" ->
      ("SELECT r_name, p_brand, CAST(COUNT(*) AS BIGINT) AS n_items, " +
       s"${dsum6Sql("l_extendedprice * (1 - l_discount)")} AS revenue " +
       "FROM lineitem JOIN part ON l_partkey = p_partkey " +
       "JOIN supplier ON l_suppkey = s_suppkey " +
       "JOIN nation ON s_nationkey = n_nationkey " +
       "JOIN region ON n_regionkey = r_regionkey " +
       "WHERE p_size <= 20 GROUP BY 1, 2 ORDER BY 1, 2"),
    "join_runtime_bloom" ->
      ("SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_items, " +
       s"${dsum6Sql("l_extendedprice * (1 - l_discount)")} AS revenue " +
       "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
       "WHERE o_orderpriority = '3-MEDIUM' AND o_totalprice > 400000 " +
       "GROUP BY 1 ORDER BY 1")
  )
}
