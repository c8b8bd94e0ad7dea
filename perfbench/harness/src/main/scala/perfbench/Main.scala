package perfbench

import org.apache.spark.sql.SparkSession

import java.io.File
import java.nio.file.Files

/** One benchmark run in one JVM: set up (cold, then once more warm),
  * drive the workload as one closed-loop client for the measured
  * seconds, dump results for the correctness checks, and in a traced
  * run also record spans, side probes and a fixed-partition count pass.
  * Writes one raw JSON record; `perfbench/run.py` reduces it.
  *
  * {{{
  * perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                --inputs DIR --work DIR --cpus N
  *                [--inject-failure N]   (test hook: every N-th operation throws)
  * perfbench.Main --generate 1 --workload W --seed N --inputs DIR --work DIR --cpus N
  * }}}
  *
  * The second form only encodes the seed's inputs that need the engine
  * and exits; it runs in a JVM of its own so that the run's first
  * set-up stays the JVM's first contact with Spark.
  */
object Main {
  /** Shuffle partitions of the host-independent count pass. */
  val CountPartitions = 32
  /** Set-ups in a run: the first is cold (class loading, first codegen);
    * the others restart the session in the warm JVM and are reported
    * beside it. */
  val Setups = 2

  def session(cpus: Int, partitions: Int, work: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", partitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$work/streaming")
      .getOrCreate()

  def conf(s: SparkSession): Map[String, Any] = Map(
    "master" -> s.sparkContext.master,
    "shuffle_partitions" -> s.conf.get("spark.sql.shuffle.partitions"),
    "aqe" -> s.conf.get("spark.sql.adaptive.enabled"),
    "spark_version" -> s.version,
    "session_time_zone" -> s.conf.get("spark.sql.session.timeZone"))

  def main(args: Array[String]): Unit = {
    try org.apache.logging.log4j.core.config.Configurator.setRootLevel(
      org.apache.logging.log4j.Level.ERROR)
    catch { case _: Throwable => }
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workloadName = a("workload")
    val cpus = a("cpus").toInt
    val ctx = new Ctx(a("inputs"), a("work"), a("seed").toLong)
    val w = Workloads(workloadName)
    val rec = new Recorder
    val born = System.nanoTime()
    def mark(what: String): Unit =
      System.err.println(f"[perfbench] ${(System.nanoTime() - born) / 1e9}%.1f s: $what")

    def start(partitions: Int): Unit = {
      ctx.spark = session(cpus, partitions, ctx.work)
      ctx.spark.sparkContext.setLogLevel("ERROR")
      ctx.spark.sparkContext.addSparkListener(rec)
    }

    // seeded inputs only the engine can encode: cached per seed, untimed
    if (a.get("generate").contains("1")) {
      start(cpus)
      w.generate(ctx)
      ctx.spark.stop()
      return
    }
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    // test hook: every n-th timed operation throws before it starts
    val failEvery = a.getOrElse("inject-failure", "0").toInt

    // set-up: session start, a first query (first codegen), and the
    // workload's own set-up phase. Set-up 0 is the JVM's first session.
    val setupS = (0 until Setups).map { k =>
      if (k > 0) ctx.spark.stop()
      val t0 = System.nanoTime()
      start(cpus)
      ctx.spark.range(1000).selectExpr("sum(id)").collect()
      w.setup(ctx, k)
      (System.nanoTime() - t0) / 1e9
    }
    val config = conf(ctx.spark)
    mark(s"set-up done: ${setupS.map(x => f"$x%.2f").mkString(" ")} s")
    w.warm(ctx)
    // then whole cycles of the schedule itself, untimed, while the JIT
    // compiles the hot paths
    val first = w.warmCycles * w.period
    (0 until first).foreach { k =>
      try w.op(ctx, k).body()
      catch { case e: Throwable => System.err.println(s"[perfbench] warm-up op $k failed: $e") }
    }
    mark(s"warm-up done ($first schedule operations)")

    // timed phase: closed loop, one operation at a time
    rec.reset()
    val ops = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    val done = scala.collection.mutable.ArrayBuffer.empty[(Int, Op, Option[Outcome])]
    val phaseStartMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    // a fixed amount of work: whole schedule cycles, as many as fill the
    // measured seconds at the workload's nominal cycle length. Every run
    // then holds the same operation mix at the same point of JIT warm-up,
    // so a slow host shows as slower operations, not as a different mix.
    // (A traced run holds at least two cycles: one traced, one not.)
    val cycles = Seq(w.minCycles, if (traced) 2 else 1,
      math.round(seconds / w.cycleSeconds).toInt).max
    var i = first
    while (i < first + cycles * w.period) {
      val op = w.op(ctx, i)
      val tracedOp = traced && ((i - first) / w.period) % 2 == 1
      ctx.spans.enabled = tracedOp
      ctx.spans.setOp(s"op-$i")
      val startMs = System.currentTimeMillis()
      val s0 = System.nanoTime()
      val result =
        try {
          if (failEvery > 0 && i % failEvery == failEvery - 1)
            throw new IllegalStateException(s"injected failure at operation $i")
          Right(ctx.spans(op.kind, op.layer, op.request)(op.body()))
        }
        catch { case e: Throwable => Left(e) }
      val s1 = System.nanoTime()
      val endMs = System.currentTimeMillis()
      ctx.spans.clearOp()
      result.left.foreach(e => System.err.println(s"[perfbench] op $i ${op.kind} failed: $e"))
      val outcome = result.toOption
      ops += Map(
        "i" -> i, "kind" -> op.kind, "layer" -> op.layer, "request" -> op.request,
        "start_ms" -> startMs, "end_ms" -> endMs, "latency_s" -> (s1 - s0) / 1e9,
        "ok" -> result.isRight, "traced" -> tracedOp,
        "error" -> result.left.toOption
          .map(e => s"${e.getClass.getName}: ${e.getMessage}".take(500)).orNull,
        "unit" -> outcome.map(_.unit).getOrElse(-1),
        "output_bytes" -> outcome.map(_.outputBytes).getOrElse(0L),
        "groups" -> outcome.map(_.groups).getOrElse(Nil))
      done += ((i, op, outcome))
      if (tracedOp && outcome.isDefined) {
        ctx.spans.setOp(s"probe-$i")
        try w.probe(ctx, i, outcome.get)
        catch { case e: Throwable => System.err.println(s"[perfbench] probe $i failed: $e") }
        ctx.spans.clearOp()
      }
      i += 1
    }
    val phaseS = (System.nanoTime() - t0) / 1e9
    mark(f"timed phase done: ${i - first} operations in $phaseS%.1f s")
    ctx.spans.enabled = false
    rec.drain(ctx.spark.sparkContext)
    val events = rec.json
    val storage = ctx.spark.sparkContext.getRDDStorageInfo
      .map(r => r.memSize + r.diskSize).sum

    // result dumps for the correctness checks, outside the timed region
    val checks = w.checks(ctx, done.toSeq).map(c => Map(
      "kind" -> c.kind, "result" -> c.result, "sql" -> c.sql, "tables" -> c.tables,
      "ops" -> c.ops))

    mark("check dumps done")

    // host-independent scheduler counts: a fresh session (cold memos) at a
    // fixed partition count, one operation of each type
    val counts = if (!traced) None else {
      ctx.spark.stop()
      start(CountPartitions)
      rec.reset()
      val out = w.countOps(ctx).zipWithIndex.map { case (op, k) =>
        ctx.spans.setOp(s"count-$k")
        val r = try Some(op.body()) catch {
          case e: Throwable =>
            System.err.println(s"[perfbench] count op ${op.kind} failed: $e"); None
        }
        ctx.spans.clearOp()
        Map("k" -> k, "kind" -> op.kind, "ok" -> r.isDefined,
          "groups" -> r.map(_.groups).getOrElse(Nil))
      }
      rec.drain(ctx.spark.sparkContext)
      Some(Map("partitions" -> CountPartitions, "ops" -> out, "events" -> rec.json))
    }
    ctx.spark.stop()
    mark("stopped")

    val record = Map(
      "workload" -> workloadName, "seed" -> ctx.seed, "seconds" -> seconds,
      "traced" -> traced, "cpus" -> cpus,
      "config" -> (config ++ Map(
        "java_version" -> System.getProperty("java.version"),
        "java_vm" -> System.getProperty("java.vm.name"),
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20))),
      "setup_s" -> setupS.head, "setup_warm_s" -> setupS.tail,
      "phase_start_ms" -> phaseStartMs, "phase_s" -> phaseS,
      "period" -> w.period,
      "ops" -> ops, "events" -> events, "storage_retained_bytes" -> storage,
      "spans" -> ctx.spans.json, "probes" -> ctx.probes.toMap, "checks" -> checks,
      "counts" -> counts.orNull)
    Files.writeString(new File(ctx.work, "raw.json").toPath,
      org.json4s.jackson.Serialization.write(record)(org.json4s.DefaultFormats))
  }
}
