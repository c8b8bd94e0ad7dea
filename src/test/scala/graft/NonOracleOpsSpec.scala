package graft

import graft.operators.{Dedup, Similarity}
import org.apache.spark.sql.functions._

/** Coverage for the ops the DuckDB oracle can't check (SURVEY.md §2.2 ✗
  * entries): approx distinct, map functions, watermark semantics,
  * MinHash-LSH, LSH ANN. */
class NonOracleOpsSpec extends SparkSpec {
  import spark.implicits._

  test("agg_approx_distinct is within 5% of exact per group") {
    val approx = SparkEntry.queries("agg_approx_distinct")(spark, sf01)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = Tables.events(spark, sf01)
      .groupBy("event_type").agg(countDistinct("user_id").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(approx.keySet == exact.keySet)
    approx.foreach { case (k, a) =>
      val e = exact(k)
      assert(math.abs(a - e).toDouble / e <= 0.05, s"$k: approx=$a exact=$e")
    }
  }

  test("agg_bitmap_distinct equals exact count(DISTINCT) per group") {
    val got = SparkEntry.queries("agg_bitmap_distinct")(spark, sf001)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = Tables.events(spark, sf001)
      .groupBy("event_type").agg(countDistinct("user_id").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == exact, s"got=$got exact=$exact")
  }

  test("HashedShingles kernel equals the five-stage HOF shingle pipeline") {
    val docs = Tables.documents(spark, sf001)
    val viaKernel = Dedup.withHashedShingles(docs).select(col("doc_id"), col("sh"))
    val viaHof = Dedup.withShingles(docs)
      .withColumn("sh", array_sort(transform(col("sh"), s => xxhash64(s))))
      .select(col("doc_id"), col("sh"))
    // compare as joined strings (array cells aren't comparator-sortable)
    def flat(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"),
        concat_ws(",", transform(col("sh"), x => x.cast("string"))).as("sh"))
    assertSameRows(flat(viaKernel), flat(viaHof), "hashed shingles")
  }

  test("agg_hll_merge: sketch estimates within 5% of exact at both levels") {
    val got = SparkEntry.queries("agg_hll_merge")(spark, sf001)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val tok = Tables.documents(spark, sf001)
      .select(col("lang"), explode(split(lower(col("text")), " ")).as("token"))
    val exactPerLang = tok.groupBy("lang").agg(countDistinct("token").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exactAll = tok.select("token").distinct().count()
    exactPerLang.foreach { case (lang, e) =>
      assert(math.abs(got(lang) - e).toDouble / e <= 0.05, s"$lang: got=${got(lang)} exact=$e")
    }
    assert(math.abs(got("ALL") - exactAll).toDouble / exactAll <= 0.05,
      s"ALL: got=${got("ALL")} exact=$exactAll")
  }

  test("connectedComponents resolves chains, triangles, and isolated pairs (both arms)") {
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), // 5-node chain -> cluster 1
      (10L, 11L), (11L, 12L), (10L, 12L),     // triangle -> cluster 10
      (20L, 21L)                              // isolated pair -> cluster 20
    ).toDF("a", "b")
    // localMaxEdges = -1 forces the distributed large/small-star arm;
    // the default exercises the driver union-find arm
    for (localMax <- Seq(Dedup.LocalCcMaxEdges, -1L)) {
      val got = Dedup.connectedComponents(pairs, localMax)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert((1L to 5L).forall(got(_) == 1L), s"localMax=$localMax: $got")
      assert((10L to 12L).forall(got(_) == 10L), s"localMax=$localMax: $got")
      assert(got(20L) == 20L && got(21L) == 20L, s"localMax=$localMax: $got")
    }
  }

  test("the byte-budgeted CC cap bounds driver heap and both arms agree AT the boundary") {
    // VERDICT r16 Wrong #3: the cutoff must derive from an explicit
    // byte budget, an order of magnitude below the old flat 4M
    assert(Dedup.LocalCcMaxEdges ==
      Dedup.LocalCcBudgetBytes / Dedup.LocalCcBytesPerEdge)
    assert(Dedup.LocalCcMaxEdges <= 500000L,
      s"cap ${Dedup.LocalCcMaxEdges} exceeds the bounded-driver intent")
    // a planted graph with edge count EXACTLY at / one above a tiny
    // cap routes local / distributed respectively — identical answers
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("a", "b")
    val atCap = Dedup.connectedComponents(pairs, localMaxEdges = 4L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val aboveCap = Dedup.connectedComponents(pairs, localMaxEdges = 3L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(atCap == aboveCap)
    assert((1L to 4L).forall(atCap(_) == 1L) && atCap(11L) == 10L)
  }

  /** Scope a JVM property mutation: snapshot, set, run, ALWAYS
    * restore — the shared pattern for every prop-mutating test
    * (ADVICE r8: a leaked flag would skew concurrently-running suites
    * if parallel suite execution is ever enabled). */
  private def withSysProp[T](key: String, value: String)(body: => T): T = {
    val prev = sys.props.get(key)
    sys.props(key) = value
    try body
    finally prev match {
      case Some(v) => sys.props(key) = v
      case None    => sys.props.remove(key)
    }
  }

  test("distributed large/small-star CC matches the driver arm on the real fixture (forced flag)") {
    // the flag routes the REAL dedup_cluster / dedup_keep_canonical
    // queries through the distributed arm — the VERDICT-r7 "forced on
    // the fixture" contract, not just planted toy graphs
    def snap(name: String) =
      SparkEntry.queries(name)(spark, sf001).collect().map(_.toSeq).toSeq
    val clusterBase = snap("dedup_cluster")
    val canonBase = snap("dedup_keep_canonical")
    assert(clusterBase.nonEmpty, "fixture pair graph must be non-trivial")
    withSysProp("graft.cc.forceDistributed", "true") {
      assert(snap("dedup_cluster") == clusterBase)
      assert(snap("dedup_keep_canonical") == canonBase)
    }
  }

  test("both CC arms keep nodes declared only by self-pairs (singleton clusters)") {
    // (a,a) carries no connectivity but declares the node: the
    // distributed arm must return it labeled with itself, exactly as
    // the driver union-find arm does (ADVICE r8 cross-arm contract)
    val pairs = Seq((1L, 2L), (7L, 7L)).toDF("a", "b")
    for (localMax <- Seq(Dedup.LocalCcMaxEdges, -1L)) {
      val got = Dedup.connectedComponents(pairs, localMax)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == Map(1L -> 1L, 2L -> 1L, 7L -> 7L), s"localMax=$localMax: $got")
    }
  }

  test("large/small-star converges on a long chain (multi-hop, distributed arm)") {
    // a 30-hop chain: label propagation needs 30 rounds (diameter);
    // star alternations collapse it in O(log n) — well under the cap
    val chain = (1L until 31L).map(i => (i, i + 1)).toDF("a", "b")
    val got = Dedup.connectedComponents(chain, -1L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.keySet == (1L to 31L).toSet)
    assert(got.values.forall(_ == 1L), got.toString)
  }

  test("connectedComponents on an empty pair graph returns empty, not NPE (ADVICE r2)") {
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    for (localMax <- Seq(Dedup.LocalCcMaxEdges, -1L)) {
      assert(Dedup.connectedComponents(empty, localMax).count() == 0, s"localMax=$localMax")
    }
  }

  test("bfsDepths: exact depths on chain + shortcut + unreachable component (both arms)") {
    // source = min node 1; 1-2-3-4-5 chain with a 1-4 shortcut, so
    // dist(4)=1 (not 3) and dist(5)=2; nodes 20-21 are a separate
    // component — unreachable, thus absent from the result
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (1L, 4L),
      (20L, 21L)
    ).toDF("a", "b")
    val want = Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 1L, 5L -> 2L)
    for (localMax <- Seq(Dedup.LocalCcMaxEdges, -1L)) {
      val got = Dedup.bfsDepths(pairs, localMax)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"localMax=$localMax: $got")
    }
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    for (localMax <- Seq(Dedup.LocalCcMaxEdges, -1L)) {
      assert(Dedup.bfsDepths(empty, localMax).count() == 0, s"localMax=$localMax")
    }
  }

  test("ArrayExtremeAgg: distributed elementwise min/max, nulls skipped, empty group null") {
    import graft.functions.ArrayExtremeAgg
    val rows = Seq(
      (0, Some(Seq(1.0f, 5.0f))), (0, Some(Seq(3.0f, 2.0f))), (0, None),
      (1, Some(Seq(7.0f, -7.0f))), (2, None))
    val df = rows.toDF("g", "v").repartition(4) // force partial + merge across partitions
    val out = df.groupBy("g")
      .agg(ArrayExtremeAgg.min(col("v")).as("mn"), ArrayExtremeAgg.max(col("v")).as("mx"))
      .orderBy("g").collect()
    assert(out(0).getSeq[Double](1) == Seq(1.0, 2.0), out(0))
    assert(out(0).getSeq[Double](2) == Seq(3.0, 5.0), out(0))
    assert(out(1).getSeq[Double](1) == Seq(7.0, -7.0), out(1))
    assert(out(2).isNullAt(1) && out(2).isNullAt(2), out(2)) // only-null group -> NULL
    // dimension mismatch must throw, not zip-truncate
    val bad = Seq((0, Seq(1.0f)), (0, Seq(1.0f, 2.0f))).toDF("g", "v")
    val e = intercept[Exception] {
      bad.groupBy("g").agg(ArrayExtremeAgg.min(col("v"))).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).map(x => Option(x.getMessage).toSeq ++ msgs(x.getCause)).getOrElse(Nil)
    assert(msgs(e).exists(_.contains("dimension mismatch")), e.toString)
  }

  test("dedup_source_sketch estimates cross-source Jaccard within MinHash error") {
    val out = SparkEntry.queries("dedup_source_sketch")(spark, sf001).collect()
    assert(out.nonEmpty)
    val shingleSets = Dedup.withShingles(Tables.documents(spark, sf001), "lang", "source")
      .select(col("lang"), col("source"), explode(col("sh")).as("g"))
      .distinct().collect()
      .groupBy(r => (r.getString(0), r.getString(1)))
      .map { case (k, rs) => k -> rs.map(_.getString(2)).toSet }
    out.foreach { r =>
      val (lang, a, b, est) =
        (r.getString(0), r.getString(1), r.getString(2), r.getDouble(3))
      val (sa, sb) = (shingleSets((lang, a)), shingleSets((lang, b)))
      val exact = sa.intersect(sb).size.toDouble / sa.union(sb).size
      // 32 permutations → σ = sqrt(J(1−J)/32) ≤ 0.09; 0.35 ≈ 4σ
      assert(math.abs(est - exact) <= 0.35, s"$lang $a-$b est=$est exact=$exact")
    }
  }

  test("agg_mad_approx tracks the exact agg_mad twin within tolerance at two SFs") {
    // the documented "at 100 TB swap percentile → approx_percentile"
    // executed end-to-end: same rows, exact n, median/MAD within a
    // 2%-relative (or small absolute) band of the exact twin
    for (sf <- Seq(sf001, sf01)) {
      def slurp(name: String) =
        SparkEntry.queries(name)(spark, sf).collect()
          .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3)))
          .toMap
      val exact = slurp("agg_mad")
      val approx = slurp("agg_mad_approx")
      assert(approx.keySet == exact.keySet)
      approx.foreach { case (k, (nA, medA, madA)) =>
        val (nE, medE, madE) = exact(k)
        assert(nA == nE, s"$sf/$k: n approx=$nA exact=$nE")
        def close(a: Double, e: Double, what: String): Unit =
          assert(math.abs(a - e) <= math.max(0.02 * math.abs(e), 0.05),
            s"$sf/$k $what: approx=$a exact=$e")
        close(medA, medE, "median")
        close(madA, madE, "mad")
      }
    }
  }

  test("agg_approx_quantile is within 2% of the exact interpolated percentile") {
    val approx = SparkEntry.queries("agg_approx_quantile")(spark, sf01)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val exact = Tables.orders(spark, sf01)
      .groupBy("o_orderstatus")
      .agg(expr("percentile(o_totalprice, 0.5)").as("p50"),
           expr("percentile(o_totalprice, 0.9)").as("p90"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(approx.keySet == exact.keySet)
    approx.foreach { case (k, (a50, a90)) =>
      val (e50, e90) = exact(k)
      assert(math.abs(a50 - e50) / e50 <= 0.02, s"$k p50: approx=$a50 exact=$e50")
      assert(math.abs(a90 - e90) / e90 <= 0.02, s"$k p90: approx=$a90 exact=$e90")
    }
  }

  test("fn_map builds per-user type->count maps consistent with raw counts") {
    val out = SparkEntry.queries("fn_map")(spark, sf001)
    val rows = out.collect()
    assert(rows.nonEmpty)
    // n_types must equal the true distinct event_type count per user
    val truth = Tables.events(spark, sf001)
      .groupBy("user_id").agg(countDistinct("event_type").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      assert(r.getLong(out.columns.indexOf("n_types")) == truth(r.getLong(0)))
    }
  }

  test("stream_watermark_late drops exactly the events behind the prior-batch watermark") {
    val out = SparkEntry.queries("stream_watermark_late")(spark, sf001)
      .select("event_id").as[Long].collect().toSet
    val ev = Tables.events(spark, sf001)
      .select(col("event_id"), unix_micros(col("ts")).as("us"))
      .orderBy("event_id").collect()
    // reference model: 1000-event arrival-order micro-batches; the
    // watermark a batch is filtered against is the max event time over
    // every PRIOR batch (Spark advances watermarks at batch boundaries)
    val byBatch = ev.groupBy(r => r.getLong(0) / 1000).toSeq.sortBy(_._1)
    var prevMax = Long.MinValue
    val expect = byBatch.flatMap { case (_, rows) =>
      val keep = rows.filter(r =>
        prevMax == Long.MinValue || r.getLong(1) >= prevMax - 3600L * 1000000)
      prevMax = math.max(prevMax, rows.map(_.getLong(1)).max)
      keep.map(_.getLong(0))
    }.toSet
    assert(out == expect)
  }

  test("prefix-filtered candidate generation keeps every pair above threshold (AllPairs lemma)") {
    // the production-τ candidate path: with prefixes of length
    // |X| − ceil(τ|X|) + 1 over hash-sorted shingles, every pair with
    // true Jaccard ≥ τ must still collide on ≥1 posted shingle
    val tau = 0.3
    val d = Dedup.withHashedShingles(
      Tables.documents(spark, sf001).limit(300), "lang", "source").localCheckpoint()
    val cand = Dedup.shingleCandidatePairs(d, tau)
      .select("a", "b").as[(Long, Long)].collect().toSet
    val truth = Dedup.shinglePairStats(d)
      .where(Dedup.jaccardFromStats >= tau)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(truth.subsetOf(cand),
      s"prefix filter dropped ${(truth -- cand).size} qualifying pairs")
  }

  test("stop-shingle df cap: planted boilerplate is excluded consistently from every measure") {
    // three docs share the boilerplate lead "c1 c2 c3"; d0 and d1 also
    // genuinely share their next two shingles
    val docs = Seq(
      (0L, "en", "web", "c1 c2 c3 u1 u2 u3 u4"),
      (1L, "en", "web", "c1 c2 c3 u1 u2 v3 v4"),
      (2L, "en", "web", "c1 c2 c3 x1 x2 x3 x4")
    ).toDF("doc_id", "lang", "source", "text")
    val d = Dedup.withHashedShingles(docs, "lang", "source")
    // uncapped: every pair shares at least the boilerplate shingle
    val open = Dedup.shinglePairStats(d, maxDf = 64).collect()
    assert(open.length == 3)
    // cap = 2: "c1 c2 c3" (df 3) becomes a stop-shingle; only (0, 1)
    // survives via its genuine overlap, with inter AND sizes computed
    // over the stop-filtered sets (5 shingles each, minus the capped 1)
    val capped = Dedup.shinglePairStats(d, maxDf = 2).collect()
    assert(capped.length == 1, capped.mkString(";"))
    val r = capped.head
    assert(r.getAs[Long]("a") == 0L && r.getAs[Long]("b") == 1L)
    assert(r.getAs[Int]("inter") == 2, r.toString)   // "c2 c3 u1", "c3 u1 u2"
    assert(r.getAs[Int]("nsh_a") == 4 && r.getAs[Int]("nsh_b") == 4, r.toString)
  }

  test("stop-shingle df cap bounds the candidate space under corpus-wide boilerplate") {
    // 40 docs, all sharing a boilerplate phrase, otherwise disjoint —
    // the web-corpus shape VERDICT r4 #1 names: uncapped, the hot
    // posting alone contributes C(40,2) pairs; capped, zero survive
    val docs = (0 until 40).map { i =>
      (i.toLong, "en", "web", s"all rights reserved w${i}a w${i}b w${i}c w${i}d")
    }.toDF("doc_id", "lang", "source", "text")
    val d = Dedup.withHashedShingles(docs, "lang", "source")
    assert(Dedup.shinglePairStats(d, maxDf = 64).count() == 40L * 39 / 2)
    assert(Dedup.shinglePairStats(d, maxDf = 8).count() == 0)
    // the shipped default cap leaves the natural fixture untouched
    // (max df is 3 at sf0.001), so every oracle row is the exact
    // uncapped computation — the contract the green CORRECTNESS
    // entries for the pair family certify with the cap ACTIVE.
    // (Verify re-asserts the same invariant at EVERY scale factor the
    // driver runs — ADVICE r5; this spec pins sf0.001 and the shared
    // helper.)
    val maxDf = Dedup.maxShingleDf(Tables.documents(spark, sf001))
    assert(maxDf <= Dedup.MaxShingleDf,
      s"fixture max df $maxDf exceeds the cap — oracle rows would diverge")
  }

  test("category index column stats route a range probe to a strict subset of one category's files") {
    SparkEntry.queries("scan_categ_index_stats")(spark, sf001).collect()
    val idxPath = s"${Tables.scratch(sf001, "categ_layout")}/_index"
    val idx = spark.read.parquet(idxPath)
      .select("category", "file", "id_min", "id_max").collect()
    val click = idx.filter(_.getString(0) == "click")
    // the range-clustered layout gives each category several files...
    assert(click.length > 1, s"click category has ${click.length} file(s) — no stats to exploit")
    // ...with tight disjoint id ranges, so the [0, 300] probe matches a
    // strict, non-empty subset
    val matching = click.filter(r => r.getLong(3) >= 0L && r.getLong(2) <= 300L)
    assert(matching.nonEmpty && matching.length < click.length,
      s"probe matched ${matching.length} of ${click.length} click files")
    // no pruned file may hold an in-range row (stats are trustworthy)
    val prunedFiles = click.filterNot(matching.contains).map(_.getString(1))
    prunedFiles.foreach { f =>
      assert(spark.read.parquet(f).where(col("event_id").between(0L, 300L)).isEmpty,
        s"pruned file $f holds in-range rows")
    }
  }

  test("incremental _index append footer-reads only the new run's files and never touches old data") {
    import graft.operators.Scans
    val dir = s"${java.nio.file.Files.createTempDirectory("graft_categ_append")}/table"
    val idxPath = s"$dir/_index"
    val ev = spark.range(0, 1000).select(
      col("id").as("event_id"),
      concat(lit("t"), col("id") % 3).as("event_type"),
      (col("id") * 0.5).as("value"))
    // season bootstrap: archived runs, fully indexed once
    ev.where(col("event_id") % 10 < 8)
      .repartition(4)
      .write.mode("overwrite").partitionBy("event_type").parquet(dir)
    Scans.categIndexWrite(spark, dir, idxPath)
    val idxBefore = spark.read.parquet(idxPath)
      .select("file").collect().map(_.getString(0)).toSet
    def dataFiles(): Seq[java.io.File] =
      new java.io.File(dir).listFiles()
        .filter(d => d.isDirectory && d.getName.startsWith("event_type="))
        .flatMap(_.listFiles().filter(_.getName.endsWith(".parquet"))).toSeq
    val before = dataFiles()
      .map(f => f.getPath -> (f.length(), f.lastModified())).toMap
    // the new run lands append-only
    ev.where(col("event_id") % 10 >= 8)
      .repartition(2)
      .write.mode("append").partitionBy("event_type").parquet(dir)
    val newlyIndexed = Scans.categIndexAppend(spark, dir, idxPath)
    // 1) ONLY the appended files were footer-read
    assert(newlyIndexed.nonEmpty)
    assert(newlyIndexed.toSet.intersect(idxBefore).isEmpty,
      "incremental update re-read already-indexed files")
    // 2) the old data files' bytes are untouched (length + mtime)
    before.foreach { case (p, (len, mtime)) =>
      val f = new java.io.File(p)
      assert(f.exists() && f.length() == len && f.lastModified() == mtime,
        s"append cycle modified existing data file $p")
    }
    // 3) the appended index covers exactly the live file set...
    val liveFiles = dataFiles().map(_.getAbsolutePath).toSet
    val idxAfter = spark.read.parquet(idxPath)
      .select("file").collect().map(_.getString(0)).toSet
    def localPath(p: String) =
      new java.io.File(new java.net.URI(p).getPath).getAbsolutePath
    assert(idxAfter.map(localPath) == liveFiles,
      "appended index does not cover exactly the live files")
    assert(idxAfter == idxBefore ++ newlyIndexed)
    // ...and equals a from-scratch rebuild, row for row
    val rebuilt = s"$dir/_index_rebuilt"
    Scans.categIndexWrite(spark, dir, rebuilt)
    val a = spark.read.parquet(idxPath).collect().map(_.toString).sorted
    val b = spark.read.parquet(rebuilt).collect().map(_.toString).sorted
    assert(a.sameElements(b), "incrementally-appended index diverges from a full rebuild")
    // 4) a probe routed by the appended index sees BOTH phases' rows
    val t1Files = spark.read.parquet(idxPath)
      .where(col("category") === "t1").select("file")
      .collect().map(_.getString(0)).toSeq
    val routed = spark.read.parquet(t1Files: _*)
      .agg(count(lit(1)), sum(col("event_id"))).collect()(0)
    val plain = ev.where(col("event_type") === "t1")
      .agg(count(lit(1)), sum(col("event_id"))).collect()(0)
    assert(routed == plain, s"routed $routed != plain $plain")
  }

  test("two-level incremental _index append: new run's footers only, routed probe sees both phases") {
    import graft.operators.Scans
    val dir = s"${java.nio.file.Files.createTempDirectory("graft_categ2_append")}/table"
    val idxPath = s"$dir/_index"
    val ev = spark.range(0, 1200).select(
      col("id").as("event_id"),
      concat(lit("t"), col("id") % 2).as("event_type"),
      (col("id") % 3).as("bucket"),
      (col("id") * 0.5).as("value"))
    ev.where(col("event_id") % 10 < 8)
      .repartition(2)
      .write.mode("overwrite").partitionBy("event_type", "bucket").parquet(dir)
    // full two-level footer index (the categIndex2Build shape)
    run2LevelIndex(dir, idxPath)
    val idxBefore = spark.read.parquet(idxPath)
      .select("file").collect().map(_.getString(0)).toSet
    val before = twoLevelFiles(dir).map(f => f.getPath -> (f.length(), f.lastModified())).toMap
    ev.where(col("event_id") % 10 >= 8)
      .repartition(2)
      .write.mode("append").partitionBy("event_type", "bucket").parquet(dir)
    val newlyIndexed = Scans.categIndex2Append(spark, dir, idxPath)
    assert(newlyIndexed.nonEmpty &&
      newlyIndexed.toSet.intersect(idxBefore).isEmpty,
      "two-level incremental update re-read already-indexed files")
    before.foreach { case (p, (len, mtime)) =>
      val f = new java.io.File(p)
      assert(f.exists() && f.length() == len && f.lastModified() == mtime,
        s"append cycle modified existing data file $p")
    }
    // a (category, bucket)-routed probe over the appended index sees
    // both phases' rows
    val files = spark.read.parquet(idxPath)
      .where(col("category") === "t1" && col("bucket") === 2L)
      .select("file").collect().map(_.getString(0)).toSeq
    val routed = spark.read.parquet(files: _*)
      .agg(count(lit(1)), sum(col("event_id"))).collect()(0)
    val plain = ev.where(col("event_type") === "t1" && col("bucket") === 2L)
      .agg(count(lit(1)), sum(col("event_id"))).collect()(0)
    assert(routed == plain, s"routed $routed != plain $plain")
  }

  private def twoLevelFiles(dir: String): Seq[java.io.File] =
    new java.io.File(dir).listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith("event_type="))
      .flatMap(_.listFiles().filter(b => b.isDirectory && b.getName.startsWith("bucket=")))
      .flatMap(_.listFiles().filter(_.getName.endsWith(".parquet"))).toSeq

  /** Build the (category, bucket, file, n_rows, id_min, id_max) index
    * from footers — the categIndex2Build walk over an arbitrary dir. */
  private def run2LevelIndex(dir: String, idxPath: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(conf)
    val rows = fs.listStatus(root).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("event_type="))
      .flatMap { catDir =>
        val cat = catDir.getPath.getName.stripPrefix("event_type=")
        fs.listStatus(catDir.getPath).toSeq
          .filter(st => st.isDirectory && st.getPath.getName.startsWith("bucket="))
          .flatMap { bDir =>
            val bucket = bDir.getPath.getName.stripPrefix("bucket=").toLong
            fs.listStatus(bDir.getPath).toSeq
              .filter(_.getPath.getName.endsWith(".parquet"))
              .map { f =>
                val (c, file, n, mn, mx) = graft.operators.Scans
                  .footerIndexRow(conf, cat, f.getPath.toString)
                (c, bucket, file, n, mn, mx)
              }
          }
      }
    import spark.implicits._
    rows.toDF("category", "bucket", "file", "n_rows", "id_min", "id_max")
      .coalesce(1).write.mode("overwrite").parquet(idxPath)
  }

  test("multi-level category index routes a probe to a strict subset of one level-1 category's files") {
    SparkEntry.queries("scan_categ_index_multilevel")(spark, sf001).collect()
    val idxPath = s"${Tables.scratch(sf001, "categ2_layout")}/_index"
    val idx = spark.read.parquet(idxPath)
      .select("category", "bucket", "file", "id_min", "id_max").collect()
    val click = idx.filter(_.getString(0) == "click")
    val buckets = click.map(_.getLong(1)).distinct
    assert(buckets.length > 1, s"click spans ${buckets.length} bucket(s) — no level-2 to exploit")
    // the probe's cell (click, bucket=2) + range [0,500]
    val matching = click.filter(r => r.getLong(1) == 2L &&
      r.getLong(4) >= 0L && r.getLong(3) <= 500L)
    assert(matching.nonEmpty && matching.length < click.length,
      s"probe matched ${matching.length} of ${click.length} click files")
    // no pruned click file may hold a row the probe's filters accept —
    // level-2 and range stats are both trustworthy
    val prunedFiles = click.filterNot(matching.contains).map(_.getString(2))
    prunedFiles.foreach { f =>
      assert(spark.read.parquet(f)
        .where(col("user_id") % 4 === 2L && col("event_id").between(0L, 500L)).isEmpty,
        s"pruned file $f holds rows matching the probe")
    }
  }

  test("IVF Lloyd training: the spherical-k-means objective is non-decreasing per round") {
    import graft.operators.Vectors
    val e = Tables.embeddings(spark, sf001)
    val init = e.where(col("vec_id") < 8)
      .select(col("vec_id"), col("embedding"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
      .sortBy(_._1)
    // run a round more than the shipped IvfLloydIters to show the
    // property is the algorithm's, not an artifact of stopping early
    val objectives = (1 to Vectors.IvfLloydIters + 1)
      .scanLeft(init)((c, _) => Vectors.lloydStep(e, c))
      .map(c => Vectors.ivfObjective(e, c))
    objectives.sliding(2).foreach { case Seq(a, b) =>
      // mean-update = spherical k-means maximizer (cosine is scale-
      // invariant in the centroid); tolerance covers the 6-decimal
      // centroid rounding both engines apply
      assert(b >= a - 1e-4, s"objective decreased: $objectives")
    }
    // training actually moved the needle vs the raw seed
    assert(objectives.last > objectives.head, s"no improvement: $objectives")
  }

  test("PQ training: per-subspace quantization MSE is non-increasing per k-means round") {
    import graft.operators.Vectors
    val e = Tables.embeddings(spark, sf001)
    val initRows = e.where(col("vec_id") < Vectors.PqCodes)
      .select(col("vec_id"), col("embedding"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
      .sortBy(_._1)
    // MSE under a codebook = Σ over vectors of the min squared-L2 to
    // any codeword (assignment is the argmin, so this IS the k-means
    // objective); decimal sum for partition-order independence
    def mse(j: Int, cb: Array[(Long, Array[Double])]): Double = {
      val minDist = array_min(array(cb.map { case (_, cv) =>
        Vectors.l2sq(Vectors.pqSub(j), typedLit(cv))
      }: _*))
      e.agg(Tables.dsum6(minDist)).collect()(0).getDouble(0)
    }
    val initBooks: Array[Array[(Long, Array[Double])]] =
      (0 until Vectors.PqSubspaces).map { j =>
        initRows.map { case (id, ev) =>
          (id, ev.slice(j * Vectors.PqSubDim, (j + 1) * Vectors.PqSubDim))
        }
      }.toArray
    // one round PAST the shipped PqIters: the property is the
    // algorithm's, not an artifact of stopping early
    val stages = (1 to Vectors.PqIters + 1)
      .scanLeft(initBooks)((b, _) => Vectors.pqLloydStepAll(e, b))
    (0 until Vectors.PqSubspaces).foreach { j =>
      val objectives = stages.map(b => mse(j, b(j)))
      objectives.sliding(2).foreach { case Seq(a, b) =>
        // both k-means steps (assignment, mean update) minimize
        // squared L2; tolerance covers the 6-decimal codeword rounding
        assert(b <= a + 1e-4, s"subspace $j MSE increased: $objectives")
      }
      assert(objectives.last < objectives.head,
        s"subspace $j training did not improve: $objectives")
    }
  }

  test("PQ assignment ties resolve like the oracle's ORDER BY LIST_DISTANCE, code") {
    import graft.operators.Vectors
    // sqrt is monotone but NOT injective in doubles: 1.0 and
    // nextUp(1.0) = 1+2^-52 are distinct, yet sqrt(1+2^-52) ≈ 1+2^-53
    // rounds-to-even back to exactly 1.0. A comparator on the RAW
    // squared distance sees a strict order where the oracle's
    // post-sqrt ORDER BY sees a tie and falls through to the code
    // tiebreak — so the engine must compare post-sqrt too.
    val d2a = 1.0                       // |(1,0)|²
    val d2b = 1.0 + math.pow(2, -52)    // |(1, 2^-26)|² — exact: 1 + 2^-52
    assert(d2a != d2b, "premise: squared distances are distinct doubles")
    assert(math.sqrt(d2a) == math.sqrt(d2b),
      "premise: their square roots collide to the same double")
    // vector at the origin; the FARTHER-by-square codeword carries the
    // SMALLER code, so only the post-sqrt tie-break can select it
    val cb = Array(
      (5L, Array(1.0, 0.0)),
      (3L, Array(1.0, math.pow(2, -26))))
    val picked = spark.range(1)
      .select(Vectors.pqAssign(typedLit(Array(0.0, 0.0)), cb).as("code"))
      .collect()(0).getLong(0)
    // raw-square comparison would pick 5 (strictly smaller d²); the
    // oracle — and therefore the engine — picks 3 (tie on LIST_DISTANCE,
    // smaller code wins)
    assert(picked == 3L, s"tie-break diverged from the oracle: picked $picked")
  }

  test("interval coalesce boundary semantics: touching endpoints merge, strictly-after splits, containment") {
    import graft.operators.Analytics
    val rows = Seq(
      // user 1: [0,10], [10,20] touch (closed intervals: MERGE),
      // [21,30] strictly after → covers [0,20] and [21,30]
      (1L, 1L, 0L, 10L), (1L, 2L, 10L, 20L), (1L, 3L, 21L, 30L),
      // user 2: [0,100] contains [5,50] and [60,90] → ONE cover of 100
      (2L, 4L, 0L, 100L), (2L, 5L, 5L, 50L), (2L, 6L, 60L, 90L),
      // user 3: chained overlap [0,10],[5,15],[14,25] → one cover [0,25]
      (3L, 7L, 0L, 10L), (3L, 8L, 5L, 15L), (3L, 9L, 14L, 25L),
      // user 4: single span
      (4L, 10L, 7L, 9L))
    val iv = rows.toDF("user_id", "event_id", "s0", "e0")
    val out = Analytics.coalesceOf(iv).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(out(1L) == ((2L, 29L, 20L)), out(1L).toString)
    assert(out(2L) == ((1L, 100L, 100L)), out(2L).toString)
    assert(out(3L) == ((1L, 25L, 25L)), out(3L).toString)
    assert(out(4L) == ((1L, 2L, 2L)), out(4L).toString)
  }

  test("sessionize boundary semantics: strict 30-min threshold, zero-gap ties, single-event user") {
    import graft.operators.Analytics
    val base = 1000000000000000L // µs
    val gap = Analytics.SessionGapUs
    val rows = Seq(
      // user 1: events at 0, +gap (exactly 30 min: SAME session),
      // +gap+1µs past that (breaks) → sessions of 2 and 1
      (1L, base), (1L, base + gap), (1L, base + 2 * gap + 1),
      // user 2: a zero-gap tie then a break → sessions of 2 and 1
      (2L, base), (2L, base), (2L, base + gap + 1),
      // user 3: single event → one session, duration 0
      (3L, base))
    val ev = rows.toDF("user_id", "us")
      .select(col("user_id"), timestamp_micros(col("us")).as("ts"))
    val out = Analytics.sessionizeOf(ev).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))))
      .toMap
    assert(out(1L) == ((2L, 3L, 2L, gap / 2 / 1e6)), out(1L).toString)
    assert(out(2L) == ((2L, 3L, 2L, 0.0)), out(2L).toString)
    assert(out(3L) == ((1L, 1L, 1L, 0.0)), out(3L).toString)
    // the pre-split hatch reproduces the same synthetic boundaries —
    // including the cross-day merge the day split must not break
    val day = 86400L * 1000000L
    val rows2 = rows ++ Seq(
      // user 4: 23:59:50 then +20 s across midnight → ONE session
      (4L, base / day * day + day - 10000000L),
      (4L, base / day * day + day + 10000000L))
    val ev2 = rows2.toDF("user_id", "us")
      .select(col("user_id"), timestamp_micros(col("us")).as("ts"))
    val plain = Analytics.sessionizeOf(ev2).collect().toSeq
    val split = Analytics.sessionizeSkewOf(ev2).collect().toSeq
    assert(plain == split, s"plain=$plain split=$split")
    val u4 = split.find(_.getLong(0) == 4L).get
    assert(u4.getLong(1) == 1L && u4.getLong(2) == 2L, u4.toString)
  }

  test("forced skew: pre-split sessionize hatch equals the plain plan on a 50%-owner key") {
    import graft.operators.Analytics
    // plant the degenerate key the hatch exists for: one bot user owns
    // every even event_id — half the corpus through one collect_list
    // in the plain plan, but ≤ span-days bounded state in the hatch
    val skewed = Tables.events(spark, sf001)
      .withColumn("user_id",
        when(col("event_id") % 2 === 0, lit(424242L)).otherwise(col("user_id")))
    val plain = Analytics.sessionizeOf(skewed).collect().toSeq
    val split = Analytics.sessionizeSkewOf(skewed).collect().toSeq
    assert(plain.nonEmpty && plain == split,
      s"plain=${plain.take(3)}... split=${split.take(3)}...")
    // the planted key really is degenerate AND survives intact
    val bot = split.find(_.getLong(0) == 424242L).get
    val total = split.map(_.getLong(2)).sum
    assert(bot.getLong(2) >= total / 2 - 1, s"bot=$bot total=$total")
  }

  test("dedup_minhash finds planted near-duplicates") {
    val docs = Tables.documents(spark, sf001).select("doc_id", "text").limit(50)
    // plant: copy of doc with one token appended → Jaccard close to 1
    val planted = docs
      .withColumn("doc_id", col("doc_id") + 1000000L)
      .withColumn("text", concat(col("text"), lit(" plantedtoken")))
    val corpus = docs.unionByName(planted)
    val pairs = Dedup.minhashPairs(corpus, 0.5).collect()
    val found = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    val ids = docs.select("doc_id").as[Long].collect()
    val expected = ids.map(id => (id, id + 1000000L)).toSet
    val recall = expected.count(found.contains).toDouble / expected.size
    assert(recall >= 0.8, s"recall=$recall (found ${found.size} pairs)")
    // every reported jaccard must be a true Jaccard ≥ threshold
    pairs.foreach(r => assert(r.getDouble(2) >= 0.5))
  }

  test("dedup_minhash reported jaccard equals exact shingle Jaccard") {
    val docs = Tables.documents(spark, sf001).select("doc_id", "text").limit(30)
    val dup = docs.withColumn("doc_id", col("doc_id") + 1000000L)
    val corpus = docs.unionByName(dup)
    val pairs = Dedup.minhashPairs(corpus, 0.99)
      .where(col("b") === col("a") + 1000000L).collect()
    // identical docs: Jaccard exactly 1.0
    assert(pairs.length == 30)
    pairs.foreach(r => assert(r.getDouble(2) == 1.0))
  }

  test("dedup idempotence: dedup of deduped corpus collapses nothing") {
    val first = SparkEntry.queries("dedup_exact")(spark, sf001)
    val kept = first.select(col("keep_id").as("doc_id"))
      .join(Tables.documents(spark, sf001), "doc_id")
    val again = kept
      .groupBy(md5(col("text").cast("binary")).as("h"))
      .agg(count(lit(1)).as("n"))
      .where(col("n") > 1)
    assert(again.count() == 0)
  }

  test("sim_ann_recall: recall lattice ivf >= rerank >= plain ADC, all in [0,10]") {
    // Each method's hit count is |true-top-10 ∩ pool| under the same
    // fround(cos,4)+vec_id total order (exact ranking of a candidate
    // pool always surfaces every true-top member the pool contains),
    // and the pools nest: ADC-top-10 ⊆ rerank shortlist ⊆ probed
    // cells. So ivf >= ivfpq_rerank >= ivfpq is a theorem of the
    // construction — this pins it (and VERDICT r9 #2's ask that
    // rerank recall >= plain ADC recall) against regressions in any
    // of the cut disciplines.
    for (sf <- Seq(sf001, sf01)) {
      val rep = SparkEntry.queries("sim_ann_recall")(spark, sf)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(rep.keySet == Set("ivf", "pq", "ivfpq", "ivfpq_rerank"),
        s"$sf: unexpected method set ${rep.keySet}")
      rep.foreach { case (m, n) =>
        assert(n >= 0 && n <= 10, s"$sf: $m n_hits=$n out of range") }
      assert(rep("ivfpq_rerank") >= rep("ivfpq"),
        s"$sf: exact re-ranking must not lose recall vs plain ADC: $rep")
      assert(rep("ivf") >= rep("ivfpq_rerank"),
        s"$sf: pruning-only IVF bounds the quantized family: $rep")
    }
  }

  test("dedup_minhash_recall: recall lattice r@0.7 >= r@0.5, counts bounded and consistent") {
    // banding catch probability 1-(1-j^r)^b is monotone in j, so the
    // >=0.7 truth subset cannot recall worse than the >=0.5 superset;
    // hits are bounded by both truth and candidate counts, and the
    // reported recall must be exactly the fround4 hit ratio
    for (sf <- Seq(sf001, sf01)) {
      val rows = SparkEntry.queries("dedup_minhash_recall")(spark, sf)
        .collect().map(r => (r.getDouble(0), r.getLong(1), r.getLong(2),
                             r.getLong(3), if (r.isNullAt(4)) -1.0 else r.getDouble(4)))
      assert(rows.map(_._1).toSeq == Seq(0.5, 0.7), s"$sf: ${rows.toSeq}")
      rows.foreach { case (tau, nTruth, nHit, nCand, rec) =>
        assert(nHit <= nTruth && nHit <= nCand, s"$sf tau=$tau: $nHit/$nTruth/$nCand")
        if (nTruth > 0)
          assert(rec == math.floor(nHit.toDouble / nTruth * 1e4 + 0.5) / 1e4,
            s"$sf tau=$tau: recall $rec != $nHit/$nTruth")
      }
      val byTau = rows.map(r => r._1 -> r._5).toMap
      if (byTau(0.5) >= 0 && byTau(0.7) >= 0)
        assert(byTau(0.7) >= byTau(0.5), s"$sf: lattice violated $byTau")
    }
  }

  test("scan_time_travel: snapshots isolate through manifests, not directory state") {
    import graft.operators.Scans
    val root = Scans.timeTravelFixture(spark, sf001)
    val dataFiles = new java.io.File(s"$root/data").listFiles()
      .map(_.getName).filter(_.endsWith(".parquet"))
    // both commits' files physically share the directory — a plain
    // directory scan could NOT return the v1 table
    assert(dataFiles.exists(_.startsWith("c1_")) &&
           dataFiles.exists(_.startsWith("c2_")), dataFiles.mkString(","))
    def manifest(v: Int) = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(root, "_manifests", s"v$v.txt")), "UTF-8")
      .split("\n").toSet
    // append-only: v2 is a strict superset; v1's files are untouched
    assert(manifest(1).subsetOf(manifest(2)))
    assert(manifest(2).size > manifest(1).size)
    // v1 read == the pre-cutoff predicate despite c2 files being present
    val cutoff = lit(Scans.TimeTravelCutoff).cast("timestamp")
    val expect = Tables.orders(spark, sf001)
      .where(col("o_orderdate") < cutoff).count()
    assert(Scans.snapshotRead(spark, root, 1).count() == expect)
    val all = Tables.orders(spark, sf001).count()
    assert(Scans.snapshotRead(spark, root, 2).count() == all)
  }

  test("snapshot tags: unknown tag loud, uncommitted version refused, retarget is one-file metadata") {
    import graft.operators.Scans
    val root = Scans.tagFixture(spark, sf001)
    // resolution: audit pinned at v1, prod retargeted to v2 (last write wins)
    assert(Scans.resolveTag(root, "audit") == 1)
    assert(Scans.resolveTag(root, "prod") == 2)
    // (a) unknown tag fails loudly NAMING the available set
    val e1 = intercept[IllegalArgumentException] {
      Scans.resolveTag(root, "nope")
    }
    assert(e1.getMessage.contains("'nope'") &&
           e1.getMessage.contains("audit") && e1.getMessage.contains("prod"),
      e1.getMessage)
    // (b) tagging a version that was never committed is refused
    val e2 = intercept[IllegalArgumentException] {
      Scans.writeTag(root, "future", 99)
    }
    assert(e2.getMessage.contains("no such committed version"), e2.getMessage)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(root, "_tags", "future.txt")))
    // (c) a retarget rewrites exactly ONE file under _tags/ and the
    // data directory stays byte-identical — tagging is O(1) metadata
    def md5(f: java.io.File): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
      java.util.Base64.getEncoder.encodeToString(
        d.digest(java.nio.file.Files.readAllBytes(f.toPath)))
    }
    def dataFp() = new java.io.File(s"$root/data").listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .map(f => f.getName -> md5(f)).toMap
    def tagsState() = new java.io.File(s"$root/_tags").listFiles()
      .filter(_.getName.endsWith(".txt"))
      .map(f => f.getName -> new String(
        java.nio.file.Files.readAllBytes(f.toPath), "UTF-8").trim).toMap
    val (dataBefore, tagsBefore) = (dataFp(), tagsState())
    Scans.writeTag(root, "prod", 1) // demote
    val (dataAfter, tagsAfter) = (dataFp(), tagsState())
    assert(dataAfter == dataBefore, "retarget touched a data file")
    assert(tagsAfter - "prod.txt" == tagsBefore - "prod.txt",
      "retarget touched a sibling tag")
    assert(tagsBefore("prod.txt") == "2" && tagsAfter("prod.txt") == "1")
    assert(Scans.resolveTag(root, "prod") == 1)
    Scans.writeTag(root, "prod", 2) // restore the fixture's memoized state
    assert(Scans.resolveTag(root, "prod") == 2)
  }

  test("branch WAP: staged commits invisible to main; publish = one atomic pointer file") {
    import graft.operators.Scans
    val root = java.nio.file.Files.createTempDirectory("graft_wap_spec")
      .toString + "/tbl"
    Scans.evolutionBase(spark, sf001, root)
    val all = Tables.orders(spark, sf001).count()
    val sliceN = Tables.orders(spark, sf001)
      .where(col("o_orderkey") % 10 === 0).count()
    // branch creation refuses an uncommitted version, resolves loudly
    val e0 = intercept[IllegalArgumentException] {
      Scans.createBranch(root, "main", 42)
    }
    assert(e0.getMessage.contains("no such committed version"), e0.getMessage)
    Scans.createBranch(root, "main", 2)
    Scans.createBranch(root, "audit", 2)
    val e1 = intercept[IllegalArgumentException] {
      Scans.resolveBranch(root, "nope")
    }
    assert(e1.getMessage.contains("'nope'") && e1.getMessage.contains("audit") &&
           e1.getMessage.contains("main"), e1.getMessage)
    // stage on audit: ONLY audit advances; the staged files are
    // physically in data/ but main's manifest doesn't reference them
    val slice = Tables.orders(spark, sf001)
      .select("o_orderkey", "o_orderdate", "o_totalprice")
      .where(col("o_orderkey") % 10 === 0)
    val v3 = Scans.commitOnBranch(spark, root, "audit", slice, "a3")
    assert(v3 == 3)
    assert(Scans.resolveBranch(root, "audit") == 3)
    assert(Scans.resolveBranch(root, "main") == 2)
    val staged = new java.io.File(s"$root/data").listFiles()
      .map(_.getName).filter(_.startsWith("a3_"))
    assert(staged.nonEmpty, "staged commit wrote no a3_* files")
    assert(Scans.snapshotRead(spark, root, Scans.resolveBranch(root, "main"))
      .count() == all, "main saw the staged commit before publish")
    assert(Scans.snapshotRead(spark, root, Scans.resolveBranch(root, "audit"))
      .count() == all + sliceN)
    // publish: exactly ONE _branches/ file rewritten, data dir
    // byte-identical, main fast-forwards to the audited state
    def md5(f: java.io.File): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
      java.util.Base64.getEncoder.encodeToString(
        d.digest(java.nio.file.Files.readAllBytes(f.toPath)))
    }
    def dataFp() = new java.io.File(s"$root/data").listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .map(f => f.getName -> md5(f)).toMap
    def branchState() = new java.io.File(s"$root/_branches").listFiles()
      .filter(_.getName.endsWith(".txt"))
      .map(f => f.getName -> new String(
        java.nio.file.Files.readAllBytes(f.toPath), "UTF-8").trim).toMap
    val (dBefore, bBefore) = (dataFp(), branchState())
    val pv = Scans.publishBranch(root, "audit", "main")
    val (dAfter, bAfter) = (dataFp(), branchState())
    assert(pv == 3)
    assert(dAfter == dBefore, "publish touched a data file")
    assert(bAfter - "main.txt" == bBefore - "main.txt",
      "publish touched a sibling branch")
    assert(bBefore("main.txt") == "2" && bAfter("main.txt") == "3")
    assert(Scans.snapshotRead(spark, root, Scans.resolveBranch(root, "main"))
      .count() == all + sliceN)
  }

  test("branch vacuum: abandoned staging reclaimed, heads byte-identical, dangling refused, idempotent") {
    import graft.operators.Scans
    val root = java.nio.file.Files.createTempDirectory("graft_bvac_spec")
      .toString + "/tbl"
    Scans.evolutionBase(spark, sf001, root)
    Scans.createBranch(root, "main", 2)
    Scans.writeTag(root, "release", 1)
    Scans.createBranch(root, "audit", 2)
    val slice = Tables.orders(spark, sf001)
      .select("o_orderkey", "o_orderdate", "o_totalprice")
      .where(col("o_orderkey") % 10 === 0)
    // stage on audit (v3, exclusive a3 files), then ABANDON the
    // staging by resetting the branch — the WAP loop's reject path
    assert(Scans.commitOnBranch(spark, root, "audit", slice, "a3") == 3)
    Scans.createBranch(root, "audit", 2)
    def dataFiles() = new java.io.File(s"$root/data").listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    def md5(f: java.io.File): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
      java.util.Base64.getEncoder.encodeToString(
        d.digest(java.nio.file.Files.readAllBytes(f.toPath)))
    }
    val keepBefore = dataFiles().filterNot(_.getName.startsWith("a3_"))
      .map(f => f.getName -> md5(f)).toMap
    assert(dataFiles().exists(_.getName.startsWith("a3_")))
    // (a) the vacuum expires exactly the unreferenced staging version
    assert(Scans.branchVacuum(root) == Seq(3))
    // (b) its exclusive files are physically gone; every referenced
    //     version's files are byte-for-byte untouched
    assert(!dataFiles().exists(_.getName.startsWith("a3_")))
    assert(dataFiles().map(f => f.getName -> md5(f)).toMap == keepBefore)
    // (c) every pointer still resolves to its exact state
    val allRows = Tables.orders(spark, sf001).count()
    assert(Scans.snapshotRead(spark, root,
      Scans.resolveBranch(root, "main")).count() == allRows)
    assert(Scans.snapshotRead(spark, root,
      Scans.resolveTag(root, "release")).count() < allRows)
    // (d) the expired staging version fails loudly when read
    intercept[IllegalArgumentException] {
      Scans.snapshotRead(spark, root, 3)
    }
    // (e) idempotent: a second pass finds nothing unreferenced
    assert(Scans.branchVacuum(root).isEmpty)
    // (f) a dangling pointer REFUSES the vacuum instead of reclaiming
    //     under a name that still resolves (metadata bug ≠ data loss)
    Scans.expireVersions(root, Seq(1)) // release tag now dangles
    val e = intercept[IllegalArgumentException] { Scans.branchVacuum(root) }
    assert(e.getMessage.contains("dangling"), e.getMessage)
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(root).getParentFile)
  }

  test("cherry-pick: concurrent commit survives, double-pick refused, metadata-only") {
    import graft.operators.Scans
    val root = java.nio.file.Files.createTempDirectory("graft_cp_spec")
      .toString + "/tbl"
    Scans.evolutionBase(spark, sf001, root)
    Scans.createBranch(root, "main", 2)
    Scans.createBranch(root, "audit", 2)
    Scans.writeTag(root, "fork", 2)
    val all = Tables.orders(spark, sf001).count()
    def slice(m: Int) = Tables.orders(spark, sf001)
      .select("o_orderkey", "o_orderdate", "o_totalprice")
      .where(col("o_orderkey") % 10 === m)
    val (n0, n1) = (slice(0).count(), slice(1).count())
    assert(Scans.commitOnBranch(spark, root, "audit", slice(0), "a3") == 3)
    assert(Scans.commitOnBranch(spark, root, "main", slice(1), "m4") == 4)
    // main moved past the fork: fast-forward would drop m4's files
    def md5(f: java.io.File): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
      java.util.Base64.getEncoder.encodeToString(
        d.digest(java.nio.file.Files.readAllBytes(f.toPath)))
    }
    def dataFp() = new java.io.File(s"$root/data").listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .map(f => f.getName -> md5(f)).toMap
    def manifests() = new java.io.File(s"$root/_manifests").listFiles()
      .map(_.getName).toSet
    val (dBefore, mBefore) = (dataFp(), manifests())
    val v5 = Scans.cherryPick(root, "audit", "main", "fork")
    assert(v5 == 5)
    // (a) metadata-only: no data file written or touched; exactly one
    //     new manifest; audit's pointer untouched
    assert(dataFp() == dBefore, "cherry-pick touched a data file")
    assert(manifests() -- mBefore == Set("v5.txt"))
    assert(Scans.resolveBranch(root, "audit") == 3)
    assert(Scans.resolveBranch(root, "main") == 5)
    // (b) the concurrent commit SURVIVED: main-head carries BOTH
    //     increments; audit still only its own
    assert(Scans.snapshotRead(spark, root, 5).count() == all + n0 + n1)
    assert(Scans.snapshotRead(spark, root, 3).count() == all + n0)
    // (c) double-pick refuses loudly: the increment's files are
    //     already referenced by main's head
    val e = intercept[IllegalArgumentException] {
      Scans.cherryPick(root, "audit", "main", "fork")
    }
    assert(e.getMessage.contains("already referenced"), e.getMessage)
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(root).getParentFile)
  }

  test("retention: vacuum deletes ONLY exclusive files, survivors byte-identical, expired reads loud") {
    import graft.operators.Scans
    val root = java.nio.file.Files.createTempDirectory("graft_ret_spec")
      .toString + "/tbl"
    Scans.retentionBuild(spark, sf001, root)
    def dataFiles() = new java.io.File(s"$root/data").listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    def md5(f: java.io.File): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
      java.util.Base64.getEncoder.encodeToString(
        d.digest(java.nio.file.Files.readAllBytes(f.toPath)))
    }
    val before = dataFiles().filter(_.getName.startsWith("c3_"))
      .map(f => f.getName -> md5(f)).toMap
    assert(before.nonEmpty)
    assert(dataFiles().exists(_.getName.startsWith("c1_")))
    val allRows = Tables.orders(spark, sf001).count()
    Scans.expireVersions(root, Seq(1, 2))
    // (a) exclusive c1/c2 files are physically gone; c3 files remain
    val after = dataFiles()
    assert(!after.exists(f => f.getName.startsWith("c1_") ||
                              f.getName.startsWith("c2_")),
      after.map(_.getName).mkString(","))
    // (b) the surviving snapshot's files are byte-for-byte untouched
    assert(after.map(f => f.getName -> md5(f)).toMap == before)
    // (c) the surviving snapshot still reads the complete table
    assert(Scans.snapshotRead(spark, root, 3).count() == allRows)
    // (d) a read of an expired version fails loudly NAMING the version
    //     (never a directory fallback or a partial read)
    val e = intercept[IllegalArgumentException] {
      Scans.snapshotRead(spark, root, 1)
    }
    assert(e.getMessage.contains("version 1") &&
           e.getMessage.contains("available versions: 3"), e.getMessage)
    // (e) expiring an unknown version is refused, not silently ignored
    intercept[IllegalArgumentException] {
      Scans.expireVersions(root, Seq(7))
    }
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(root).getParentFile)
  }

  test("a root with no manifest directory: snapshotRead and expireVersions fail loudly, naming the version") {
    import graft.operators.Scans
    val root = java.nio.file.Files.createTempDirectory("graft_no_manifests").toString
    val e1 = intercept[IllegalArgumentException] {
      Scans.snapshotRead(spark, root, 1)
    }
    assert(e1.getMessage.contains("snapshot version 1 does not exist") &&
           e1.getMessage.endsWith("available versions: "), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      Scans.expireVersions(root, Seq(1))
    }
    assert(e2.getMessage.contains("cannot expire 1: available versions are"), e2.getMessage)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("snapshot schema evolution: v3 adds a column; older versions byte-identical, null-fill exact") {
    import graft.operators.Scans
    val root = java.nio.file.Files.createTempDirectory("graft_evo_spec")
      .toString + "/tbl"
    Scans.evolutionBase(spark, sf001, root)
    def dataFiles() = new java.io.File(s"$root/data").listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    def md5(f: java.io.File): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
      java.util.Base64.getEncoder.encodeToString(
        d.digest(java.nio.file.Files.readAllBytes(f.toPath)))
    }
    val before = dataFiles().map(f => f.getName -> md5(f)).toMap
    val v2Before = Scans.snapshotRead(spark, root, 2)
      .orderBy("o_orderkey").collect()
    Scans.evolutionCommitV3(spark, sf001, root)
    // (a) the evolution commit wrote ONLY new c3 files; every
    //     pre-existing file is byte-for-byte untouched
    val after = dataFiles().map(f => f.getName -> md5(f)).toMap
    assert(before.forall { case (n, h) => after.get(n).contains(h) },
      "pre-existing files changed")
    assert(after.keySet.diff(before.keySet).forall(_.startsWith("c3_")),
      after.keySet.diff(before.keySet).mkString(","))
    // (b) v2 reads byte-identically after the evolved commit: same
    //     schema (no o_flag — mergeSchema over uniform files is the
    //     identity) and same rows in the same order
    val v2After = Scans.snapshotRead(spark, root, 2)
      .orderBy("o_orderkey").collect()
    assert(!Scans.snapshotRead(spark, root, 2).schema
      .fieldNames.contains("o_flag"))
    assert(v2Before.sameElements(v2After))
    // (c) v3 unions both schemas: o_flag present, null on EXACTLY the
    //     pre-evolution rows (counted, not zero-filled), values intact
    val v3 = Scans.snapshotRead(spark, root, 3)
    assert(v3.schema.fieldNames.contains("o_flag"))
    val all = Tables.orders(spark, sf001).count()
    val slice = Tables.orders(spark, sf001)
      .where(col("o_orderkey") % 10 === 0).count()
    assert(v3.count() == all + slice)
    assert(v3.where(col("o_flag").isNotNull).count() == slice)
    assert(v3.where(col("o_flag").isNull).count() == all)
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(root).getParentFile)
  }

  test("merge-on-read delete: the commit writes zero data files, older versions see every row") {
    import graft.operators.Scans
    val root = Scans.deleteVectorFixture(spark, sf001)
    // (a) the data directory holds ONLY the v1/v2 commit files — the
    //     delete commit added no data file and rewrote none
    val dataFiles = new java.io.File(s"$root/data").listFiles()
      .map(_.getName).filter(_.endsWith(".parquet"))
    assert(dataFiles.forall(n => n.startsWith("c1_") || n.startsWith("c2_")),
      dataFiles.mkString(","))
    // (b) v3's manifest is v2's byte-identical file list — merge-on-
    //     read shares the physical files
    def manifest(v: Int) = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(root, "_manifests", s"v$v.txt")), "UTF-8")
    assert(manifest(3) == manifest(2))
    // (c) the sidecar exists and drives the v2/v3 row-count split
    assert(java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get(root, "_deletes", "v3")))
    val all = Tables.orders(spark, sf001).count()
    val kept = Tables.orders(spark, sf001)
      .where(col("o_orderkey") % 7 =!= 0).count()
    assert(Scans.snapshotRead(spark, root, 2).count() == all)
    assert(Scans.snapshotRead(spark, root, 3).count() == kept)
    // (d) expiring the DV version vacuums its sidecar too (no orphan
    //     _deletes dir), and the surviving plain versions still read —
    //     run on a COPY so the memoized fixture stays intact
    val root2 = java.nio.file.Files.createTempDirectory("graft_dv_exp")
      .toString + "/tbl"
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(root), new java.io.File(root2))
    Scans.expireVersions(root2, Seq(3))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(root2, "_deletes", "v3")))
    assert(Scans.snapshotRead(spark, root2, 2).count() == all)
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(root2).getParentFile)
  }

  test("compaction: v4 is fresh files only, sidecar-free, identical to v3's read state") {
    import graft.operators.Scans
    val root = Scans.compactionFixture(spark, sf001)
    // (a) v4's manifest references ONLY the compaction's fresh c4_*
    //     files — the rewrite shares nothing with the MOR version
    def manifest(v: Int) = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(root, "_manifests", s"v$v.txt")), "UTF-8")
      .split("\n").filter(_.nonEmpty)
    assert(manifest(4).nonEmpty &&
           manifest(4).forall(_.contains("c4_")), manifest(4).mkString(","))
    // (b) no delete sidecar at v4 — from v4 on the delete costs
    //     nothing at read
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(root, "_deletes", "v4")))
    assert(java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get(root, "_deletes", "v3")))
    // (c) v4 reads EXACTLY v3's merge-on-read state, row for row
    val v3 = Scans.snapshotRead(spark, root, 3)
      .select("o_orderkey", "o_orderdate", "o_totalprice")
    val v4 = Scans.snapshotRead(spark, root, 4)
      .select("o_orderkey", "o_orderdate", "o_totalprice")
    assert(v3.exceptAll(v4).isEmpty && v4.exceptAll(v3).isEmpty)
    // (d) history untouched: v1-v3's files still present, v2 still
    //     sees every row (compaction appends to history, never
    //     rewrites it)
    val dataFiles = new java.io.File(s"$root/data").listFiles()
      .map(_.getName).filter(_.endsWith(".parquet"))
    assert(dataFiles.exists(_.startsWith("c1_")) &&
           dataFiles.exists(_.startsWith("c2_")), dataFiles.mkString(","))
    assert(Scans.snapshotRead(spark, root, 2).count() ==
           Tables.orders(spark, sf001).count())
  }

  test("sim_ann_lsh returns true-cosine-scored candidates from the corpus") {
    val ann = SparkEntry.queries("sim_ann_lsh")(spark, sf01).collect()
    assert(ann.nonEmpty)
    val brute = Similarity.topK(Tables.embeddings(spark, sf01), 0L, 1000000)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // every ANN candidate's score must equal the exact cosine (re-rank is
    // exact; only the candidate set is approximate)
    ann.foreach { r =>
      val exact = brute(r.getLong(0))
      assert(math.abs(r.getDouble(1) - exact) <= 1e-4)
    }
  }

  test("sim_ann_lsh recalls planted high-similarity neighbors") {
    // LSH recall is a function of similarity: at the corpus's weak
    // cosines (~0.37) collisions are near-random, which is WHY the op
    // re-ranks exactly. The mechanism guarantee worth testing is that
    // near-duplicates (the production use: dedup/near-dup retrieval,
    // cos ≈ 1) are recalled. Plant 5 perturbed copies of the query.
    val emb = Tables.embeddings(spark, sf01)
    val q = emb.where(col("vec_id") === 0L)
    val plants = (1 to 5).map { kk =>
      q.select(
        lit(1000000L * kk).as("vec_id"),
        transform(col("embedding"),
          (x, i) => (x * (lit(1.0) + lit(0.05 * kk) * sin(i.cast("double") + lit(kk))))
            .cast("float")).as("embedding"),
        col("label"))
    }
    val corpus = plants.foldLeft(emb)(_ unionByName _)
    val ann = Similarity.annTopK(corpus, 0L, 10)
      .select("vec_id").as[Long].collect().toSet
    val recalled = (1 to 5).count(kk => ann.contains(1000000L * kk))
    assert(recalled >= 4, s"recalled only $recalled of 5 planted near-copies: $ann")
  }

  test("dedup_embedding finds planted near-duplicate vectors") {
    val emb = Tables.embeddings(spark, sf001)
    // plant a near-copy of every 10th vector (multiplicative noise keeps
    // cosine ≈ 0.999, well above the 0.95 threshold)
    val planted = emb.where(col("vec_id") % 10 === 0)
      .select(
        (col("vec_id") + 1000000L).as("vec_id"),
        transform(col("embedding"),
          (x, i) => (x * (lit(1.0) + lit(0.02) * sin(i.cast("double")))).cast("float"))
          .as("embedding"),
        col("label"))
    val n = planted.count()
    val spiked = emb.unionByName(planted)
    // run the op's pipeline on the spiked corpus
    val bucketed = spiked.select(col("vec_id"), col("embedding"),
      posexplode(functions.HyperplaneLsh(col("embedding"), 8, 8)).as(Seq("tbl", "bucket")))
    val a = bucketed.select(col("tbl"), col("bucket"), col("vec_id").as("a"), col("embedding").as("va"))
    val b = bucketed.select(col("tbl"), col("bucket"), col("vec_id").as("b"), col("embedding").as("vb"))
    val pairs = a.join(b, Seq("tbl", "bucket")).where(col("a") < col("b"))
      .select(col("a"), col("b"), functions.CosineSim(col("va"), col("vb")).as("cos"))
      .where(col("cos") >= 0.95)
      .select("a", "b").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recalled = emb.where(col("vec_id") % 10 === 0)
      .select("vec_id").as[Long].collect()
      .count(id => pairs.contains((id, id + 1000000L)))
    assert(recalled >= (n * 0.8).toInt,
      s"recalled $recalled of $n planted near-copies")
  }

  test("topk_global is the prefix of the full sort") {
    val top = SparkEntry.queries("topk_global")(spark, sf001).collect()
    val full = Tables.orders(spark, sf001)
      .orderBy(Tables.r2(col("o_totalprice")).desc, col("o_orderkey"))
      .limit(25).select("o_orderkey").as[Long].collect()
    assert(top.map(_.getLong(0)).toSeq == full.toSeq)
  }

  test("z-order clustering yields far tighter 2-D run boxes than a 1-D sort") {
    import graft.operators.Scans
    // bucketize both dims to 0..255, sort by z vs by bx alone, chunk
    // into 16 consecutive runs (stand-ins for files), compare the mean
    // bounding-box area — the quantity that predicts min/max pruning
    val o = Tables.orders(spark, sf001)
    val mx = o.agg(max(col("o_custkey")).as("mck"), max(col("o_totalprice")).as("mtp"))
    val b = o.crossJoin(broadcast(mx))
      .withColumn("bx", floor(col("o_custkey") * 256.0 / (col("mck") + 1)).cast("long"))
      .withColumn("bv", floor(col("o_totalprice") * 256.0 / (col("mtp") + 1)).cast("long"))
      .withColumn("z", Scans.zInterleave8(col("bx"), col("bv")))
    // a bx-sorted layout prunes bx filters perfectly but leaves every
    // run spanning the FULL bv range — filters on the second dimension
    // prune nothing. z-order's point is bounded spans on BOTH dims.
    def meanRunSpans(sorted: org.apache.spark.sql.DataFrame): (Double, Double) = {
      val rows = sorted.select("bx", "bv").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      val runs = rows.grouped(math.max(1, rows.length / 16)).map(_.toSeq).toSeq
      def mean(f: Seq[(Long, Long)] => Double) = runs.map(f).sum / runs.length
      (mean(r => (r.map(_._1).max - r.map(_._1).min + 1).toDouble),
       mean(r => (r.map(_._2).max - r.map(_._2).min + 1).toDouble))
    }
    val (zBx, zBv) = meanRunSpans(b.orderBy("z"))
    val (dBx, dBv) = meanRunSpans(b.orderBy("bx", "bv"))
    assert(zBv < dBv / 2,
      s"z-order mean bv span $zBv not < half of bx-sort's $dBv")
    assert(zBx < 256.0 / 2,
      s"z-order lost bx locality entirely: mean span $zBx")
    assert(dBx < zBx,
      s"sanity: bx-sort should have the tightest bx spans ($dBx vs $zBx)")
  }

  test("events_funnel tie semantics: a stage at identical micros does not advance") {
    import graft.operators.Analytics
    import java.sql.Timestamp
    def ts(us: Long) = new Timestamp(us / 1000) // ms precision suffices here
    // user 1: clean view < click < purchase → full conversion
    // user 2: click at the SAME instant as the view → click must not count
    // user 3: purchase BEFORE the first click → purchase must not count
    // user 4: click with no prior view → neither click nor purchase counts
    val rows = Seq(
      (1L, ts(1000000L), "view"), (1L, ts(2000000L), "click"), (1L, ts(3000000L), "purchase"),
      (2L, ts(1000000L), "view"), (2L, ts(1000000L), "click"), (2L, ts(2000000L), "purchase"),
      (3L, ts(1000000L), "view"), (3L, ts(3000000L), "click"), (3L, ts(2000000L), "purchase"),
      (4L, ts(1000000L), "click"), (4L, ts(2000000L), "purchase")
    ).toDF("user_id", "ts", "event_type")
    val r = Analytics.funnelOf(rows).collect()(0)
    assert(r.getLong(0) == 3, s"n_view: $r")      // users 1,2,3 viewed
    assert(r.getLong(1) == 2, s"n_click: $r")     // users 1,3 (user 2's tie rejected)
    assert(r.getLong(2) == 1, s"n_purchase: $r")  // only user 1 (3's purchase precedes click)
    assert(math.abs(r.getDouble(3) - 2.0) < 1e-9, s"avg_s: $r")
  }

  test("persisted category index lists every layout file with exact row counts") {
    // build (memoized) by running the query once, then audit the artifact
    SparkEntry.queries("scan_categ_index_persisted")(spark, sf001).collect()
    val out = Tables.scratch(sf001, "categ_layout")
    val idx = spark.read.parquet(s"$out/_index")
      .select("category", "file", "n_rows").collect()
    // every indexed file exists and the per-category row counts match
    // the layout read — the index is trustworthy query metadata
    idx.foreach(r => assert(new java.io.File(
      r.getString(1).stripPrefix("file:")).exists(), r.getString(1)))
    val idxCounts = idx.groupBy(_.getString(0))
      .view.mapValues(_.map(_.getLong(2)).sum).toMap
    val layoutCounts = spark.read.parquet(out)
      .groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(idxCounts == layoutCounts, s"$idxCounts vs $layoutCounts")
    // the probe consults the index for 2 of 5 categories → strict subset
    val probed = idx.filter(r => Set("click", "purchase")(r.getString(0))).map(_.getString(1))
    assert(probed.nonEmpty && probed.length < idx.length)
  }

  test("manifest pruning opens a strict subset of files and loses no rows") {
    import graft.operators.Scans
    val out = java.nio.file.Files.createTempDirectory("graft_manifest").toString
    Tables.lineitem(spark, sf001)
      .select("l_orderkey", "l_quantity")
      .repartitionByRange(16, col("l_orderkey"))
      .write.mode("overwrite").parquet(out)
    val all = spark.read.parquet(out).inputFiles.length
    val pruned = Scans.manifestPrune(spark, out, "l_orderkey", 100L, 2000L)
    assert(pruned.nonEmpty && pruned.length < all,
      s"pruned ${pruned.length} of $all files — no skipping happened")
    // the pruned read agrees with the full filtered read exactly
    val viaPruned = spark.read.parquet(pruned: _*)
      .where(col("l_orderkey").between(100L, 2000L))
    val viaFull = spark.read.parquet(out)
      .where(col("l_orderkey").between(100L, 2000L))
    assertSameRows(viaPruned, viaFull, "manifest prune")
    // out-of-range probe prunes everything
    assert(Scans.manifestPrune(spark, out, "l_orderkey", Long.MaxValue - 1, Long.MaxValue).isEmpty)
  }

  test("FreqSketchAgg under eviction: Space-Saving guarantees hold") {
    // Zipf-ish stream: key k appears 2000/k times, 200 distinct keys,
    // capacity 16 — evictions fire constantly across 8 partitions.
    val n = 200
    val rows = (1 to n).flatMap(k => Seq.fill(2000 / k)(f"k$k%03d"))
    val truth = rows.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val total = rows.size.toLong
    val cap = 16
    val sketch = rows.toDF("k").repartition(8)
      .agg(functions.FreqSketchAgg(col("k"), cap).as("sk"))
      .select(explode(col("sk")).as("e"))
      .select(col("e.key"), col("e.est"), col("e.err"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(sketch.length <= cap)
    sketch.foreach { case (k, est, err) =>
      val t = truth(k)
      assert(est >= t, s"$k: estimate $est undercounts true $t")
      assert(est - err <= t, s"$k: est-err ${est - err} exceeds true $t")
    }
    // merged sketches keep min-counter error ≤ N/cap per merge level;
    // with one merge round the bound doubles — assert the 2N/cap bound
    sketch.foreach { case (k, _, err) =>
      assert(err <= 2 * total / cap, s"$k: err $err > 2N/cap ${2 * total / cap}")
    }
    // the unambiguous heavy hitter must survive eviction
    assert(sketch.exists(_._1 == "k001"), "true top-1 key evicted")
  }

  test("FreqSketchAgg without eviction is exact (agg_freq_topk contract)") {
    val got = SparkEntry.queries("agg_freq_topk")(spark, sf001)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val exact = Tables.events(spark, sf001)
      .select(concat_ws(":", col("event_type"), (col("user_id") % 10).cast("string")).as("k"))
      .groupBy("k").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("k")).limit(10)
      .collect().map(r => (r.getString(0), r.getLong(1), 0L))
    assert(got.toSeq == exact.toSeq)
  }

  test("bloom sidecar prunes files min/max cannot, and loses no rows") {
    import graft.operators.Scans
    // run the query once — builds the scattered layout + sidecar
    val res = SparkEntry.queries("scan_bloom_sidecar")(spark, sf001).collect()
    assert(res.nonEmpty)
    val out = Tables.scratch(sf001, "bloom_src")
    val idx = Tables.scratch(sf001, "bloom_idx")
    val allFiles = new java.io.File(out).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    // footer min/max is nearly blind on this layout (orderkeys are
    // scattered by the partkey partitioning, so most files span the
    // probe keys) — union of the min/max-kept sets across probes
    val byMinMax = Scans.BloomProbeKeys
      .flatMap(k => Scans.manifestPrune(spark, out, "l_orderkey", k, k))
      .map(f => f.substring(f.lastIndexOf('/') + 1)).toSet
    // the bloom prune must open strictly fewer files than min/max AND
    // strictly fewer than the layout holds
    val pruned = Scans.bloomPrunedFiles(spark, idx, Scans.BloomProbeKeys)
    assert(pruned.size < byMinMax.size,
      s"bloom ${pruned.size} vs minmax ${byMinMax.size}")
    assert(pruned.size < allFiles.size, s"bloom kept ${pruned.size}/${allFiles.size}")
    // ...and the pruned read must equal the full-scan read exactly
    val full = spark.read.parquet(out)
      .where(col("l_orderkey").isin(Scans.BloomProbeKeys: _*))
    val prunedRead = spark.read.parquet(pruned: _*)
      .where(col("l_orderkey").isin(Scans.BloomProbeKeys: _*))
    assertSameRows(prunedRead, full, "bloom-pruned vs full scan")
  }

  test("graph_2hop_hll: every estimate within 5% of the exact 2-ball; rounds are monotone") {
    import graft.operators.Analytics
    val edges = Analytics.cooccurEdgesCached(spark, sf001)
    val est = Analytics.hyperBall(edges, 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // exact 2-hop ball (fixture-scale only: this join IS the hub
    // blowup the sketches exist to avoid)
    val bidir = edges.select(col("a").as("u"), col("b").as("v"))
      .unionByName(edges.select(col("b").as("u"), col("a").as("v")))
    val hop2 = bidir.select(col("u"), col("v").as("w"))
      .unionByName(
        bidir.join(bidir.select(col("u").as("v"), col("v").as("w")), Seq("v"))
          .select("u", "w"))
      .unionByName(bidir.select(col("u"), col("u").as("w")))
      .distinct()
    val exact = hop2.groupBy("u").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(est.keySet == exact.keySet)
    est.foreach { case (n, a) =>
      val e = exact(n)
      assert(math.abs(a - e).toDouble / e <= 0.05, s"node $n: est=$a exact=$e")
    }
    // monotone lattice: |ball(1)| <= |ball(2)| per node (same sketches,
    // one fewer union round)
    val est1 = Analytics.hyperBall(edges, 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    est.foreach { case (n, a) => assert(est1(n) <= a, s"node $n: ${est1(n)} > $a") }
  }

  test("sim_ann_ivf_append is assign-only: centroids byte-identical to base training") {
    import graft.operators.Vectors
    // manual ground truth: Lloyd on the PRE-append slice only
    val base = Tables.embeddings(spark, sf001)
      .where(col("vec_id") % Vectors.IvfAppendBatchMod
               =!= Vectors.IvfAppendBatchMod - 1)
    val init = base.where(col("vec_id") < 8)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
      .sortBy(_._1)
    val manual = (1 to Vectors.IvfLloydIters)
      .foldLeft(init)((c, _) => Vectors.lloydStep(base, c))
    // the centroids the append lane serves BEFORE the probe runs...
    val (pre, _, _) = Vectors.ivfAppendPrelude(spark, sf001)
    assert(pre.length == manual.length)
    pre.zip(manual).foreach { case ((ci, cv), (mi, mv)) =>
      assert(ci == mi)
      assert(cv.sameElements(mv), s"centroid $ci drifted from base-only training")
    }
    // ...and AFTER probing old ∪ new they are the SAME OBJECT — the
    // append never triggered a retrain
    SparkEntry.queries("sim_ann_ivf_append")(spark, sf001).collect()
    val (post, _, _) = Vectors.ivfAppendPrelude(spark, sf001)
    assert(post eq pre, "append retrained the centroids")
  }

  test("resolveAsOf: inclusive boundary, latest-at-ts, loud pre-history, branch cap") {
    import graft.operators.Scans
    val root = Scans.timeTravelFixture(spark, sf001)
    // commit ts boundary is INCLUSIVE (<= ts)
    assert(Scans.resolveAsOf(root, Scans.TimeTravelCommitTs(1)) == 1)
    // between the two commits → the earlier one; after both → latest
    assert(Scans.resolveAsOf(root, Scans.AsOfMid) == 1)
    assert(Scans.resolveAsOf(root, Scans.AsOfLate) == 2)
    // before the first commit: loud, names the earliest commit
    val ex = intercept[IllegalArgumentException] {
      Scans.resolveAsOf(root, "1990-01-01T00:00:00Z")
    }
    assert(ex.getMessage.contains("predates"), ex.getMessage)
    assert(ex.getMessage.contains("v1"), ex.getMessage)
    // composes with branches: a head capped at v1 hides v2 even when
    // the as-of timestamp covers it
    Scans.createBranch(root, "asof_spec_b", 1)
    val head = Scans.resolveBranch(root, "asof_spec_b")
    assert(Scans.resolveAsOf(root, Scans.AsOfLate, Some(head)) == 1)
  }

  test("quarantineJsonRead routes exactly the planted malformed lines, raw payload intact") {
    // the oracle chain proves the LANE TOTALS; only a planted fixture
    // pins MEMBERSHIP — which specific lines land in the dead-letter
    // lane, and that their raw payloads survive byte-for-byte for
    // replay. Four quarantine shapes: truncated record, bare garbage,
    // wrong-structure JSON (valid JSON, non-object), and a TYPE
    // mismatch on a declared column (PERMISSIVE treats unconvertible
    // values as malformed — the row quarantines WITH its payload, it
    // is not silently nulled). A MISSING field, by contrast, is legal
    // sparse JSON: the row stays clean with the field null.
    val dir = java.nio.file.Files.createTempDirectory("quarantine_spec").toString
    val good1 = """{"k": 1, "v": "a"}"""
    val bad1 = """{"k": 2, "v": """
    val bad2 = """not json at all"""
    val bad3 = """[1, 2, 3]"""
    val badType = """{"k": "not-a-number", "v": "d"}"""
    val sparse = """{"v": "e"}"""
    val good2 = """{"k": 5, "v": "f"}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "part-0.json"),
      String.join("\n", good1, bad1, bad2, bad3, badType, sparse, good2).getBytes)
    val parsed = operators.Scans.quarantineJsonRead(spark, dir, "k BIGINT, v STRING")
    val quarantined = parsed.where(col("_bad").isNotNull)
      .select("value").as[String].collect().toSet
    assert(quarantined == Set(bad1, bad2, bad3, badType))
    val clean = parsed.where(col("_bad").isNull)
      .select("value").as[String].collect().toSet
    assert(clean == Set(good1, sparse, good2))
    // the sparse row survives with the absent field nulled
    val sparseRow = parsed.where(col("value") === sparse).collect().head
    assert(sparseRow.isNullAt(sparseRow.fieldIndex("k")))
    assert(sparseRow.getAs[String]("v") == "e")
  }

  test("agg_incremental_retract: deletes fire and the dirty-key max repair is load-bearing") {
    import org.apache.spark.sql.functions._
    // sf0.01: the sf0.001 fixture has no key whose pre-cutoff max row
    // is ALSO tombstoned, so the repair path needs the bigger batch
    val o = Tables.orders(spark, sf01)
    val cut = lit("1999-01-01").cast("timestamp")
    val deletes = o.where(col("o_orderdate") < cut &&
      col("o_orderstatus") === "F" &&
      col("o_orderkey") % operators.Relational.RetractMod === 0)
    assert(deletes.count() > 0, "the tombstone rule must select a non-empty delete batch")
    val out = SparkEntry.queries("agg_incremental_retract")(spark, sf01)
    // a key whose view max sits BELOW its max over ALL orders proves a
    // delete removed that key's latest order and the repair re-derived
    // the bound from surviving rows (the monoid merge alone cannot
    // lower a max)
    val naive = o.groupBy("o_custkey").agg(max(col("o_orderdate")).as("nd"))
    val repairedDown = out.join(naive, Seq("o_custkey"))
      .where(col("last_order_d") < col("nd")).count()
    assert(repairedDown > 0, "no key exercised the max-repair path on this fixture")
    // every view count matches the surviving multiplicity of its key
    val surviving = o.join(deletes.select(col("o_orderkey").as("dk")),
        col("o_orderkey") === col("dk"), "left_anti")
      .groupBy("o_custkey").agg(count(lit(1)).as("sn"))
    val bad = out.join(surviving, Seq("o_custkey"))
      .where(col("n_orders") =!= col("sn")).count()
    assert(bad == 0)
    assert(out.count() == surviving.count(), "zero-count keys must leave the view")
  }

  test("dq_k_anonymity: the generalization ladder fires at all three levels") {
    import org.apache.spark.sql.functions._
    val out = SparkEntry.queries("dq_k_anonymity")(spark, sf001).cache()
    val k = operators.Relational.KAnonymity
    val levels = out.select("gen_level").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(levels == Set(0L, 1L, 2L), s"fixture must exercise the full ladder: $levels")
    // level 0 iff the class itself is anonymous
    assert(out.where(col("gen_level") === 0 && col("n_rows") < k).count() == 0)
    assert(out.where(col("gen_level") > 0 && col("n_rows") >= k).count() == 0)
    // a level-1 class's nation pools >= k sub-k rows; a level-2 class's < k
    val pooled = out.where(col("n_rows") < k)
      .groupBy("c_nationkey").agg(sum(col("n_rows")).as("p"))
    val bad = out.where(col("gen_level") > 0).join(pooled, Seq("c_nationkey"))
      .where((col("gen_level") === 1 && col("p") < k) ||
             (col("gen_level") === 2 && col("p") >= k)).count()
    assert(bad == 0)
    out.unpersist()
  }

  test("events_date_spine: gaps materialize as zero rows and spines are contiguous") {
    import org.apache.spark.sql.functions._
    val out = SparkEntry.queries("events_date_spine")(spark, sf001).cache()
    assert(out.where(col("is_gap")).count() > 0,
      "the sf0.001 fixture must have calendar gaps to fill")
    assert(out.where(col("is_gap") &&
      (col("n_events") =!= 0 || col("value_cents") =!= 0)).count() == 0)
    // every key's spine row-count equals its calendar span (contiguity)
    val bad = out.groupBy("event_type", "user_bucket")
      .agg(count(lit(1)).as("n"),
           datediff(max(to_date(col("day"))), min(to_date(col("day")))).as("span"))
      .where(col("n") =!= col("span") + 1).count()
    assert(bad == 0, "spine must cover every day of [min, max] exactly once")
    out.unpersist()
  }

  test("text_rag_chunks: full coverage, stride spacing, short-doc single chunk") {
    import org.apache.spark.sql.functions._
    val w = operators.TextOps.RagChunkTokens
    val st = operators.TextOps.RagChunkStride
    val out = SparkEntry.queries("text_rag_chunks")(spark, sf001).cache()
    assert(out.where(col("n_chunk_toks") <= 0).count() == 0)
    val docs = Tables.documents(spark, sf001)
      .select(col("doc_id"), size(split(lower(trim(col("text"))), " ")).cast("long").as("n"))
    val per = out.groupBy("doc_id")
      .agg(min(col("start_tok")).as("s0"),
           max(col("start_tok") + col("n_chunk_toks")).as("hi"),
           count(lit(1)).as("nc"))
      .join(docs, Seq("doc_id"))
    // chunks start at 0, end exactly at the doc length, count matches the formula
    assert(per.where(col("s0") =!= 0).count() == 0)
    assert(per.where(col("hi") =!= col("n")).count() == 0)
    val badNc = per.where(col("nc") =!= greatest(lit(1L),
      ceil((col("n") - w).cast("double") / st).cast("long") + 1)).count()
    assert(badNc == 0)
    // sub-window docs produce exactly one chunk carrying the whole doc
    assert(per.where(col("n") <= w && col("nc") =!= 1).count() == 0)
    // consecutive chunks advance by exactly the stride (so adjacent
    // chunks overlap by window - stride whenever the previous is full)
    val wdw = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("chunk_idx")
    val badStep = out
      .withColumn("pstart", lag(col("start_tok"), 1).over(wdw))
      .where(col("pstart").isNotNull && col("start_tok") - col("pstart") =!= st)
      .count()
    assert(badStep == 0)
    out.unpersist()
  }

  test("text_logreg_quality: the fit beats the majority-class baseline") {
    val r = SparkEntry.queries("text_logreg_quality")(spark, sf001).collect()(0)
    val n = r.getAs[Long]("n_train"); val pos = r.getAs[Long]("n_pos")
    val correct = r.getAs[Long]("n_correct"); val ll = r.getAs[Double]("log_loss")
    val baseAcc = math.max(pos, n - pos).toDouble / n
    assert(correct.toDouble / n > baseAcc,
      s"accuracy ${correct.toDouble / n} must beat majority baseline $baseAcc")
    // better than the best constant predictor's log-loss
    val q = pos.toDouble / n
    val constLl = -(q * math.log(q) + (1 - q) * math.log(1 - q))
    assert(ll < constLl, s"log-loss $ll must beat the constant predictor $constLl")
    // TTR separates short from long docs: its weight must be negative
    assert(r.getAs[Double]("b2") < 0)
  }

  test("sim_eval_mrr: panel size, cutoff bounds, and the rr convention hold") {
    import org.apache.spark.sql.functions._
    val out = SparkEntry.queries("sim_eval_mrr")(spark, sf001).cache()
    assert(out.count() == operators.Similarity.EvalQueries)
    assert(out.where(col("hits_at_k") > operators.Similarity.EvalK).count() == 0)
    assert(out.where(col("first_rel_rank").isNotNull &&
      col("rr") =!= round(lit(1.0) / col("first_rel_rank") * 1e6) / 1e6).count() == 0)
    assert(out.where(col("first_rel_rank").isNull && col("rr") =!= 0.0).count() == 0)
    // the label ground truth is non-degenerate on this fixture: at
    // least one query finds a relevant neighbor, at least one misses
    assert(out.where(col("hits_at_k") > 0).count() > 0)
    out.unpersist()
  }

  test("agg_dp_release: noise is two-sided Laplace at the declared scale, release clamps at 0") {
    import org.apache.spark.sql.functions._
    val out = SparkEntry.queries("agg_dp_release")(spark, sf01).cache()
    assert(out.where(col("n_released") < 0).count() == 0)
    assert(out.where(col("noise") > 0).count() > 0)
    assert(out.where(col("noise") < 0).count() > 0)
    // E|Laplace(b)| = b = 1/epsilon; ~100 cells => loose 3x band
    val meanAbs = out.agg(avg(abs(col("noise")))).collect()(0).getDouble(0)
    val b = 1.0 / operators.Aggregations.DpEpsilon
    assert(meanAbs > b / 3 && meanAbs < b * 3, s"mean |noise| $meanAbs vs scale $b")
    out.unpersist()
  }

  test("vec_binary_rerank: the float rerank lifts recall over raw Hamming") {
    import org.apache.spark.sql.functions._
    val e = Tables.embeddings(spark, sf001)
    val q = e.where(col("vec_id") < operators.Vectors.HammingQueryIds)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
    val exact = e.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        operators.Similarity.cosine(col("embedding"), col("qv")).as("cos"))
      .withColumn("rk", row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy("q_id").orderBy(col("cos").desc, col("vec_id"))))
      .where(col("rk") <= operators.Vectors.HammingTopK)
      .select("q_id", "vec_id")
    def recall(name: String): Long =
      SparkEntry.queries(name)(spark, sf001).select("q_id", "vec_id")
        .join(exact, Seq("q_id", "vec_id"), "left_semi").count()
    val raw = recall("vec_hamming_topk")
    val rr  = recall("vec_binary_rerank")
    val total = exact.count()
    assert(rr > raw, s"rerank recall $rr/$total must beat raw Hamming $raw/$total")
    assert(rr * 10 >= total * 3, s"rerank recall $rr/$total must clear 30%")
    // within each query the rerank output is ordered by exact cosine
    val out = SparkEntry.queries("vec_binary_rerank")(spark, sf001)
    val disorder = out.withColumn("pcos",
        lag(col("cos"), 1).over(org.apache.spark.sql.expressions.Window
          .partitionBy("q_id").orderBy("rnk")))
      .where(col("pcos").isNotNull && col("pcos") < col("cos")).count()
    assert(disorder == 0)
  }

  test("text_wordpiece: a driver-side MaxMatch re-derivation agrees with the engine rollup") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sf001)
    val wcl = docs.select(col("lang"), explode(split(lower(trim(col("text"))), " ")).as("w"))
      .groupBy("lang", "w").agg(count(lit(1)).as("cnt"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val wc = wcl.groupBy(_._2).map { case (w, rs) => w -> rs.map(_._3).sum }
    val grams = scala.collection.mutable.Map.empty[String, Long]
    for ((w, c) <- wc; k <- 2 to operators.TextOps.WpMaxPiece;
         i <- 0 to w.length - k)
      grams(w.substring(i, i + k)) = grams.getOrElse(w.substring(i, i + k), 0L) + c
    val vocab = grams.toSeq.sortBy { case (g, f) => (-f, g) }
      .take(operators.TextOps.WpVocabNgrams).map(_._1).toSet
    def segment(w: String): Int = {
      var pos = 0; var np = 0
      while (pos < w.length) {
        val k = (operators.TextOps.WpMaxPiece to 2 by -1)
          .find(k => pos + k <= w.length + operators.TextOps.WpMaxPiece &&
                     vocab.contains(w.substring(pos, math.min(pos + k, w.length))))
          .getOrElse(1)
        pos += math.min(k, w.length - pos); np += 1
      }
      np
    }
    val expected = wcl.groupBy(_._1).map { case (lang, rs) =>
      lang -> rs.map { case (_, w, c) => c * segment(w) }.sum }
    val got = SparkEntry.queries("text_wordpiece")(spark, sf001)
      .select("lang", "n_pieces")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == expected, s"got=$got expected=$expected")
  }
}
