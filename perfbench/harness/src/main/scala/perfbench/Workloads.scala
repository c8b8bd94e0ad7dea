package perfbench

import graft.api.Corpus
import graft.operators._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.io.File

/** What one operation did, beyond its latency: where it wrote, which
  * input it consumed, and any job groups Spark set on its own threads
  * (a streaming query runs its batches under its run id). */
final case class Outcome(output: Option[String] = None, unit: Int = -1,
                         outputBytes: Long = 0L, groups: Seq[String] = Nil)

/** A correctness check `perfbench/run.py` runs in DuckDB after the run:
  * the rows under `result` must equal, as a multiset, the rows `sql`
  * returns over `tables` (name -> Parquet path or glob). `ops` lists the
  * timed operations it vouches for (empty: every operation of `kind`). */
final case class Check(kind: String, result: String, sql: String,
                       tables: Map[String, String], ops: Seq[Int] = Nil)

final case class Op(kind: String, layer: String, request: Long, body: () => Outcome)

/** State shared by the harness and the workloads for one run. */
final class Ctx(val inputs: String, val work: String, val seed: Long) {
  var spark: SparkSession = _
  val spans = new Spans(spark.sparkContext)
  /** side measurements (set-up output, traced-run probes), name -> samples */
  val probes = scala.collection.mutable.LinkedHashMap.empty[String, Vector[Double]]
  def probe(name: String, v: Double): Unit =
    probes(name) = probes.getOrElse(name, Vector.empty) :+ v
  def path(rel: String): String = new File(work, rel).getPath
}

trait Workload {
  /** Operations per schedule cycle; traced runs alternate whole cycles. */
  def period: Int
  /** Nominal seconds of one cycle on a 4-core host: `--seconds` buys
    * round(seconds / cycleSeconds) timed cycles. */
  def cycleSeconds: Double
  /** Untimed cycles before the timed phase, for the JIT to settle. */
  def warmCycles: Int
  /** Fewest timed cycles a run holds, whatever `--seconds` buys. */
  def minCycles: Int = 1
  /** Untimed, cached per seed: inputs only the engine can encode. */
  def generate(ctx: Ctx): Unit = ()
  /** The workload's own set-up phase, after session start. */
  def setup(ctx: Ctx, round: Int): Unit
  /** One operation of each type on warm-up inputs, after set-up and
    * before the timed phase (JIT and codegen are per JVM). */
  def warm(ctx: Ctx): Unit
  def op(ctx: Ctx, i: Int): Op
  /** Traced-only side measurements after operation `i`, outside its latency. */
  def probe(ctx: Ctx, i: Int, o: Outcome): Unit = ()
  /** The run's correctness checks, one or more per operation type, over
    * results dumped in warm-up or written by the operations themselves. */
  def checks(ctx: Ctx, done: Seq[(Int, Op, Option[Outcome])]): Seq[Check]
  /** One operation of each type, for the fixed-partition count pass. */
  def countOps(ctx: Ctx): Seq[Op]
}

object Workloads {
  def apply(name: String): Workload = name match {
    case "extract_convert" => new ExtractConvert
    case "ragged_analytics" => new RaggedAnalytics
    case "similarity_graph" => new SimilarityGraph
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  val Framed = "graft.sources.FramedSource"

  /** Materialize the whole result without collecting it. */
  def noop(df: DataFrame): Outcome = {
    df.write.format("noop").mode("overwrite").save()
    Outcome()
  }

  def dirBytes(p: String): Long = {
    val f = new File(p)
    if (f.isFile) f.length()
    else Option(f.listFiles()).toSeq.flatten
      .filterNot(x => x.getName.startsWith(".") || x.getName.startsWith("_"))
      .map(x => dirBytes(x.getPath)).sum
  }

  def dump(df: DataFrame, path: String): String = {
    df.coalesce(1).write.mode("overwrite").parquet(path)
    path
  }

  /** Run ids of a run directory listing, sorted. */
  def runs(dir: String): Seq[String] =
    Option(new File(dir).listFiles()).toSeq.flatten.map(_.getName)
      .filter(_.startsWith("run")).map(_.stripSuffix(".parquet")).sorted

  val FilesPerRun = 4

  /** Frame archive shared by extract_convert and ragged_analytics: per
    * run, one `events` table encoded into FilesPerRun frame files. Even
    * runs go through the engine's writer (block gzip + FrameIndex
    * sidecar); odd runs are whole-file zstd written outside the engine,
    * with no sidecar. Each event carries a header struct, a ragged
    * `array<bigint>` pulse key and an `array<struct<t,q>>` pulse series
    * whose values are closed-form functions of the event (see
    * [[expectedRows]]). */
  def generateArchive(ctx: Ctx): Unit = {
    val s = ctx.spark
    val root = new File(ctx.inputs, "archive")
    if (new File(root, "_DONE").exists()) return
    val tmp = new File(ctx.work, "archive-plain").getPath
    val raw = runs(s"${ctx.inputs}/events").map { run =>
      val r = run.stripPrefix("run").toLong
      val ev = s.read.parquet(s"${ctx.inputs}/events/$run.parquet")
      val tsUs = unix_micros(col("ts").cast("timestamp"))
      val base = tsUs % 1000000L
      val nP = col("event_id") % 5
      val nS = col("event_id") % 7
      val frames = ev.select(
          col("event_id"), col("user_id"), tsUs.as("ts_us"), col("value"), col("event_type"),
          struct(lit(r).as("run"), (col("event_id") % 10).as("sub"), tsUs.as("t0"),
            col("value").as("q")).as("header"),
          transform(filter(sequence(lit(0L), lit(4L)), i => i < nP), i => base + i).as("pulses"),
          transform(filter(sequence(lit(0L), lit(6L)), i => i < nS), i =>
            struct((base + i).as("t"), (nS.cast("double") + i.cast("double") * 0.25).as("q")))
            .as("series"))
        .repartition(FilesPerRun, col("event_id")).sortWithinPartitions("event_id")
      val out = s"${root.getPath}/$run"
      frames.write.format(Framed).mode("overwrite").save(s"$tmp/$run")
      val plain = graft.sources.FramedSource.frameFiles(s"$tmp/$run",
        s.sparkContext.hadoopConfiguration)
      val rawBytes = plain.map(f => new File(new java.net.URI(f).getPath).length()).sum
      if (r % 2 == 0)
        frames.write.format(Framed).option("compression", "gzip")
          .mode("overwrite").save(out)
      else {
        new File(out).mkdirs()
        plain.foreach { f =>
          val src = new File(new java.net.URI(f).getPath)
          val in = new java.io.FileInputStream(src)
          val o = new com.github.luben.zstd.ZstdOutputStream(
            new java.io.FileOutputStream(new File(out, src.getName + ".zst")))
          try in.transferTo(o) finally { in.close(); o.close() }
        }
      }
      run -> rawBytes
    }
    java.nio.file.Files.writeString(new File(root, "raw_bytes.json").toPath,
      org.json4s.jackson.Serialization.write(raw.toMap)(org.json4s.DefaultFormats))
    new File(root, "_DONE").createNewFile()
  }

  def rawBytes(ctx: Ctx): Map[String, Long] =
    org.json4s.jackson.Serialization.read[Map[String, Long]](java.nio.file.Files.readString(
      new File(ctx.inputs, "archive/raw_bytes.json").toPath))(org.json4s.DefaultFormats, implicitly)

  /** DuckDB rows a lossless conversion of the given runs must produce:
    * the closed form of the archive's frames over the source events. */
  def expectedRows(ctx: Ctx, runIds: Seq[String]): (String, Map[String, String]) = {
    val sel = runIds.map { run =>
      val r = run.stripPrefix("run").toLong
      s"SELECT event_id, user_id, epoch_us(ts) AS ts_us, value, event_type, " +
      s"{'run': CAST($r AS BIGINT), 'sub': event_id % 10, 't0': epoch_us(ts), 'q': value} AS header, " +
      "list_transform(range(event_id % 5), i -> epoch_us(ts) % 1000000 + i) AS pulses, " +
      "list_transform(range(event_id % 7), i -> {'t': epoch_us(ts) % 1000000 + i, " +
      "'q': CAST(event_id % 7 AS DOUBLE) + CAST(i AS DOUBLE) * 0.25}) AS series " +
      s"FROM $run"
    }
    (sel.mkString(" UNION ALL "),
     runIds.map(r => r -> s"${ctx.inputs}/events/$r.parquet").toMap)
  }

  def convert(s: SparkSession, src: String, out: String): Unit =
    s.read.format(Framed).load(src).write.mode("overwrite").parquet(out)
}

/** The i3cols path: frame archive -> Parquet columns, write-heavy. */
final class ExtractConvert extends Workload {
  import Workloads._
  val period = 8 // six conversions, one streaming landing, one season combine
  val cycleSeconds = 2.0
  val warmCycles = 3
  private var runIds: Seq[String] = Nil
  private var raw: Map[String, Long] = Map.empty
  private val outputs = scala.collection.mutable.Map.empty[Int, String]
  /** output root: the count pass must not resume the timed phase's checkpoints */
  private var root = "timed"

  override def generate(ctx: Ctx): Unit = generateArchive(ctx)

  private def runAt(k: Int) = runIds(k % runIds.size)

  def setup(ctx: Ctx, round: Int): Unit = {
    runIds = runs(s"${ctx.inputs}/archive")
    raw = rawBytes(ctx)
  }

  def warm(ctx: Ctx): Unit = {
    val conv = ctx.path("warm/convert")
    convert(ctx.spark, s"${ctx.inputs}/archive/${runIds.head}", conv)
    land(ctx, runIds.last, ctx.path("warm/land"))
    ctx.spark.read.parquet(conv).write.mode("overwrite").parquet(ctx.path("warm/season"))
  }

  private def land(ctx: Ctx, run: String, out: String): String = {
    val q = ctx.spark.readStream.format(Framed)
      .option("maxFilesPerTrigger", "2").load(s"${ctx.inputs}/archive/$run")
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", s"$out-ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    if (!q.awaitTermination(60000)) {
      q.stop()
      throw new IllegalStateException(s"landing of $run did not finish in 60 s")
    }
    q.exception.foreach(e => throw e)
    q.runId.toString
  }

  def op(ctx: Ctx, i: Int): Op = {
    val cycle = i / period
    val pos = i % period
    if (pos < 6) {
      val run = runAt(cycle * 6 + pos)
      Op("convert", "sources", cycle, () => {
        val out = ctx.path(s"$root/out/op-$i")
        ctx.spans("sources.write", "sources") {
          convert(ctx.spark, s"${ctx.inputs}/archive/$run", out)
        }
        outputs(i) = out
        Outcome(Some(out), runIds.indexOf(run), dirBytes(out))
      })
    } else if (pos == 6) {
      val run = runAt(cycle)
      Op("land", "streaming", cycle, () => {
        val out = ctx.path(s"$root/land/op-$i")
        val id = ctx.spans("streaming.landing", "streaming") { land(ctx, run, out) }
        Outcome(Some(out), runIds.indexOf(run), dirBytes(out), Seq(id))
      })
    } else {
      Op("season", "sources", cycle, () => {
        val parts = (cycle * period until cycle * period + 6).map(k =>
          outputs.getOrElse(k, throw new IllegalStateException(s"conversion op $k has no output")))
        val out = ctx.path(s"$root/season/op-$i")
        ctx.spans("sources.season", "sources") {
          ctx.spark.read.parquet(parts: _*).write.mode("overwrite").parquet(out)
        }
        Outcome(Some(out), -1, dirBytes(out))
      })
    }
  }

  override def probe(ctx: Ctx, i: Int, o: Outcome): Unit =
    if (i % period < 6 && o.unit >= 0) {
      val run = runIds(o.unit)
      val t0 = System.nanoTime()
      ctx.spans("sources.read", "sources") {
        noop(ctx.spark.read.format(Framed).load(s"${ctx.inputs}/archive/$run"))
      }
      ctx.probe("sources.read_s", (System.nanoTime() - t0) / 1e9)
      ctx.probe("sources.input_bytes", raw(run).toDouble)
      ctx.probe("sources.output_bytes", o.outputBytes.toDouble)
    }

  def checks(ctx: Ctx, done: Seq[(Int, Op, Option[Outcome])]): Seq[Check] =
    done.collect { case (i, op, Some(o)) if o.output.isDefined =>
      val ids =
        if (op.kind == "season") (0 until 6).map(k => runAt(op.request.toInt * 6 + k))
        else Seq(runIds(o.unit))
      val (sql, tables) = expectedRows(ctx, ids)
      Check(op.kind, o.output.get, sql, tables, Seq(i))
    }

  def countOps(ctx: Ctx): Seq[Op] = {
    outputs.clear()
    root = "count"
    (0 until period).map(i => op(ctx, i))
  }
}

/** Grouped analytics over ragged columns and testdata-shaped tables,
  * read-heavy; also reads the column set the engine's writer produced
  * from the seed's frame archive in set-up. */
final class RaggedAnalytics extends Workload {
  import Workloads._
  import graft.Tables.{big, dsum}

  /** operation -> (layer, module query map, module oracle map) */
  val ops: Seq[(String, String, Map[String, graft.Tables.Q], Map[String, String])] = Seq(
    ("ragged_pack", "operators.ragged", Ragged.queries, Ragged.oracle),
    ("agg_hash_groupby", "operators.aggregations", Aggregations.queries, Aggregations.oracle),
    ("ragged_explode", "operators.ragged", Ragged.queries, Ragged.oracle),
    ("join_inner_hash", "operators.joins", Joins.queries, Joins.oracle),
    ("ragged_reduce_hof", "operators.ragged", Ragged.queries, Ragged.oracle),
    ("win_rank", "operators.windows", Windows.queries, Windows.oracle),
    ("ragged_zip", "operators.ragged", Ragged.queries, Ragged.oracle),
    ("topk_per_group_native", "operators.sortsetops", SortSetOps.queries, SortSetOps.oracle),
    ("categ_index", "operators.ragged", Ragged.queries, Ragged.oracle),
    ("columns_pulse_reduce", "bench", Map.empty, Map.empty),
  )
  val period: Int = ops.size
  val cycleSeconds = 3.5
  val warmCycles = 2
  private var cols = ""

  override def generate(ctx: Ctx): Unit = generateArchive(ctx)

  private def tables(ctx: Ctx) = s"${ctx.inputs}/tables"

  def setup(ctx: Ctx, round: Int): Unit = {
    // the column set: every archive run converted by the engine's reader
    // into one Parquet layout, as extract_convert writes it
    cols = ctx.path(s"cols/$round")
    runs(s"${ctx.inputs}/archive").foreach(run =>
      convert(ctx.spark, s"${ctx.inputs}/archive/$run", s"$cols/$run"))
    ctx.probe("setup.output_bytes", dirBytes(cols).toDouble)
  }

  /** The warm-up pass also writes each operation's result for its check:
    * every operation of a type computes the same function of the same
    * inputs, so one dump vouches for all of them. */
  def warm(ctx: Ctx): Unit =
    ops.indices.foreach(k => dump(frame(ctx, k), ctx.path(s"check/${ops(k)._1}")))

  /** Ragged reductions over the extracted pulse key and pulse series. */
  private def pulseReduce(s: SparkSession): DataFrame =
    s.read.parquet(s"$cols/*")
      .groupBy("event_type")
      .agg(big(count(lit(1))).as("n"),
           big(sum(size(col("pulses")))).as("n_pulses"),
           big(sum(aggregate(col("pulses"), lit(0L), (a, x) => a + x))).as("pulse_sum"),
           big(sum(size(col("series")))).as("n_series"),
           dsum(aggregate(col("series"), lit(0.0), (a, x) => a + x.getField("q"))).as("q_sum"),
           big(max(col("header.t0") - col("ts_us"))).as("t0_skew"))
      .orderBy("event_type")

  private val pulseReduceSql =
    "SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n, " +
    "CAST(SUM(event_id % 5) AS BIGINT) AS n_pulses, " +
    "CAST(SUM((event_id % 5) * (epoch_us(ts) % 1000000) + (event_id % 5) * (event_id % 5 - 1) // 2) AS BIGINT) AS pulse_sum, " +
    "CAST(SUM(event_id % 7) AS BIGINT) AS n_series, " +
    "CAST(SUM(CAST((event_id % 7) * (event_id % 7) + 0.25 * ((event_id % 7) * (event_id % 7 - 1) // 2) " +
    "AS DECIMAL(18,2))) AS DOUBLE) AS q_sum, CAST(0 AS BIGINT) AS t0_skew " +
    "FROM events GROUP BY event_type ORDER BY event_type"

  private def frame(ctx: Ctx, k: Int): DataFrame = {
    val (name, _, q, _) = ops(k)
    if (name == "columns_pulse_reduce") pulseReduce(ctx.spark) else q(name)(ctx.spark, tables(ctx))
  }

  def op(ctx: Ctx, i: Int): Op = {
    val k = i % period
    val (name, layer, _, _) = ops(k)
    Op(name, layer, i / period, () => noop(frame(ctx, k)))
  }

  def checks(ctx: Ctx, done: Seq[(Int, Op, Option[Outcome])]): Seq[Check] = {
    val t = Map(
      "lineitem" -> s"${tables(ctx)}/lineitem.parquet",
      "orders" -> s"${tables(ctx)}/orders.parquet",
      "customer" -> s"${tables(ctx)}/customer.parquet",
      "events" -> s"${ctx.inputs}/events/*.parquet")
    ops.indices.map { k =>
      val (name, _, _, oracle) = ops(k)
      val sql = if (name == "columns_pulse_reduce") pulseReduceSql else oracle(name)
      Check(name, ctx.path(s"check/$name"), sql, t)
    }
  }

  def countOps(ctx: Ctx): Seq[Op] = ops.indices.map(k => op(ctx, k))
}

/** Per request: corpus cleaning and near-dup clustering, an NN-descent
  * kNN graph build, S beam searches against it, a PQ-guided walk, then
  * label propagation and HITS. Each request brings a fresh shard, so
  * every artifact memo misses on its first call. */
final class SimilarityGraph extends Workload {
  import Workloads._
  // two searches per request: with one build in every nine operations the
  // builds take the top ranks, so they set p90, as the workload intends
  val Searches = 2
  private val kinds: Seq[(String, String)] =
    Seq("dedup_exact" -> "operators.dedup", "corpus_clean" -> "api",
        "dedup_cluster" -> "operators.dedup", "knn_build" -> "operators.similarity") ++
    Seq.fill(Searches)("beam_search" -> "operators.similarity") ++
    Seq("pq_walk" -> "operators.vectors", "lpa" -> "operators.analytics",
        "hits" -> "operators.analytics")
  val period: Int = kinds.size
  val cycleSeconds = 9.0
  // two requests, so p90 (nearest rank over 18 operations) falls on the
  // lesser of two graph builds, not on a single PQ walk
  override val minCycles = 2
  // few, heavy operations: the warm pass alone settles them, and a warm
  // cycle would cost a whole request
  val warmCycles = 0
  val MinTokens = 10
  val MinTtr = 0.3
  private var shards: Seq[String] = Nil
  private var nVectors = 0L

  def setup(ctx: Ctx, round: Int): Unit = {
    shards = Option(new File(ctx.inputs, "shards").listFiles()).toSeq.flatten
      .map(_.getPath).sorted
    nVectors = ctx.spark.read.parquet(s"${shards.head}/embeddings.parquet").count()
  }

  /** Shard of request r: the last shard is reserved for warm-up and the
    * count pass, the rest are visited in order. */
  private def shardOf(r: Long) = shards((r % (shards.size - 1)).toInt)

  private def queryId(request: Long, j: Int): Long =
    Math.floorMod(scala.util.hashing.MurmurHash3.productHash((request, j)), nVectors.toInt).toLong

  private def docs(s: SparkSession, dir: String) = s.read.parquet(s"$dir/documents.parquet")
  private def emb(s: SparkSession, dir: String) = s.read.parquet(s"$dir/embeddings.parquet")

  private def graph(ctx: Ctx, dir: String): DataFrame =
    ctx.spans("Similarity.nndGraphCached", "tables") {
      Similarity.nndGraphCached(ctx.spark, dir)
    }

  /** Operation k of a request on `dir`; `sink` materializes its result. */
  private def opOn(ctx: Ctx, dir: String, request: Long, k: Int, tag: String,
                   sink: DataFrame => Outcome = noop): Op = {
    val (kind, layer) = kinds(k)
    val s = ctx.spark
    val body: () => Outcome = kind match {
      case "dedup_exact" => () => sink(Dedup.queries("dedup_exact")(s, dir))
      case "corpus_clean" => () => {
        val out = ctx.path(s"clean/$tag")
        Corpus(docs(s, dir)).dedupExact().qualityFilter(MinTokens, MinTtr).df
          .write.mode("overwrite").parquet(out)
        Outcome(Some(out), shards.indexOf(dir), dirBytes(out))
      }
      case "dedup_cluster" => () => {
        ctx.spans("Dedup.blockedJaccardPairsCached", "tables") {
          Dedup.blockedJaccardPairsCached(docs(s, dir), dir, 0.02)
        }
        sink(Dedup.queries("dedup_cluster")(s, dir))
      }
      case "knn_build" => () => noop(graph(ctx, dir))
      case "beam_search" => () =>
        sink(Similarity.graphBeamSearch(emb(s, dir), graph(ctx, dir), 10, queryId(request, k - 4)))
      case "pq_walk" => () => sink(Vectors.graphPqWalk(s, dir, graph(ctx, dir)))
      case "lpa" => () => {
        ctx.spans("Analytics.lpaLabelsCached", "tables") { Analytics.lpaLabelsCached(s, dir) }
        sink(Analytics.queries("graph_label_propagation")(s, dir))
      }
      case "hits" => () => sink(Analytics.queries("graph_hits")(s, dir))
    }
    Op(kind, layer, request, body)
  }

  def op(ctx: Ctx, i: Int): Op = {
    val r = (i / period).toLong
    opOn(ctx, shardOf(r), r, i % period, s"op-$i")
  }

  /** One operation of each type on the reserved last shard, each writing
    * its result for the checks; the graph build is checked through the
    * vec_id 0 walk over the built graph. */
  def warm(ctx: Ctx): Unit = {
    val dir = shards.last
    kinds.indices.filter(k => kinds.indexWhere(_._1 == kinds(k)._1) == k).foreach { k =>
      val kind = kinds(k)._1
      opOn(ctx, dir, -1, k, "warm", df => {
        dump(df, ctx.path(s"check/$kind")); Outcome()
      }).body()
    }
    dump(Similarity.graphBeamSearch(emb(ctx.spark, dir), Similarity.nndGraphCached(ctx.spark, dir),
      10, 0L), ctx.path("check/knn_build"))
  }

  override def probe(ctx: Ctx, i: Int, o: Outcome): Unit = {
    val s = ctx.spark
    val dir = shardOf((i / period).toLong)
    kinds(i % period)._1 match {
      case "dedup_exact" =>
        // candidate yield: exact near-dup pairs per MinHash-LSH candidate
        val (cands, pairs) = ctx.spans("Dedup.minhash", "operators.dedup") {
          (Dedup.minhashCandidates(docs(s, dir)).count(),
           Dedup.minhashPairs(docs(s, dir), 0.5).count())
        }
        ctx.probe("operators.dedup.candidate_yield",
          if (cands == 0) 0.0 else pairs.toDouble / cands)
        val t0 = System.nanoTime()
        ctx.spans("functions.MinHashSig", "functions") {
          noop(docs(s, dir).select(graft.functions.MinHashSig(
            transform(split(lower(col("text")), " "), w => xxhash64(w)), Dedup.NumPerms)))
        }
        ctx.probe("functions.minhash_s", (System.nanoTime() - t0) / 1e9)
      case "pq_walk" =>
        val e = emb(s, dir)
        val t0 = System.nanoTime()
        ctx.spans("functions.CosineSim", "functions") {
          noop(e.crossJoin(broadcast(e.where(col("vec_id") === 0L)
              .select(col("embedding").as("qv"))))
            .select(graft.functions.CosineSim(col("embedding"), col("qv"))))
        }
        ctx.probe("functions.cosine_s", (System.nanoTime() - t0) / 1e9)
      case _ =>
    }
  }

  private def tables(dir: String) =
    Seq("documents", "embeddings", "lineitem").map(n => n -> s"$dir/$n.parquet").toMap

  private def cleanSql =
    "SELECT * FROM documents WHERE doc_id IN (SELECT MIN(doc_id) FROM documents GROUP BY md5(text)) " +
    s"AND len(string_split(lower(text), ' ')) >= $MinTokens " +
    "AND CAST(len(list_distinct(string_split(lower(text), ' '))) AS DOUBLE) / " +
    s"len(string_split(lower(text), ' ')) >= $MinTtr"

  /** The beam oracle replays build and walk for query vector 0; other
    * query vectors substitute their id in its two query-vector clauses. */
  private def beamSql(q: Long): String = {
    val sql = Similarity.oracle("sim_ann_graph_nnd")
    val a = "FROM v WHERE vec_id = 0)"
    val b = "WHERE vec_id <> 0)"
    require(sql.split(java.util.regex.Pattern.quote(a), -1).length == 2 &&
      sql.split(java.util.regex.Pattern.quote(b), -1).length == 2,
      "sim_ann_graph_nnd oracle no longer names its query vector in one place each")
    sql.replace(a, s"FROM v WHERE vec_id = $q)").replace(b, s"WHERE vec_id <> $q)")
  }

  def checks(ctx: Ctx, done: Seq[(Int, Op, Option[Outcome])]): Seq[Check] = {
    val t = tables(shards.last)
    def c(kind: String, sql: String) = Check(kind, ctx.path(s"check/$kind"), sql, t)
    Seq(
      c("dedup_exact", Dedup.oracle("dedup_exact")),
      c("dedup_cluster", Dedup.oracle("dedup_cluster")),
      c("knn_build", beamSql(0L)),
      c("beam_search", beamSql(queryId(-1, 0))),
      c("pq_walk", Vectors.oracle("sim_ann_graph_nnd_pq")),
      c("lpa", Analytics.oracle("graph_label_propagation")),
      c("hits", Analytics.oracle("graph_hits"))) ++
    // every cleaned corpus the timed phase wrote, against its own shard
    done.collect { case (i, op, Some(o)) if op.kind == "corpus_clean" =>
      Check("corpus_clean", o.output.get, cleanSql, tables(shards(o.unit)), Seq(i))
    } :+ Check("corpus_clean", ctx.path("clean/warm"), cleanSql, t)
  }

  def countOps(ctx: Ctx): Seq[Op] =
    (0 until period).map(k => opOn(ctx, shards.last, -1, k, s"count-$k"))
}
