package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Central catalog for the driver-provided parquet tables.
  *
  * Carries the reference's load surface (i3cols `cols.load`, lazy mmap —
  * see SURVEY.md §2.1 R5) re-expressed as lazy, column-pruned,
  * predicate-pushed Parquet scans. At 100 TB these reads become
  * multi-executor file splits with row-group skipping; nothing here
  * collects to the driver.
  *
  * A table's schema is index state, like the i3cols layout that is
  * fixed when the data is extracted: it is inferred once per JVM
  * ([[once]]) and every later scan reads under it, so opening a table
  * launches no footer job. The memo key folds in the session confs
  * that schema inference reads ([[SchemaConfs]]), so a schema inferred
  * under one setting is never served under another, and the entry is
  * stamped by [[fsSig]], so a table rewritten at the same path is
  * inferred again.
  */
object Tables {
  type Q = (SparkSession, String) => DataFrame

  /** Session confs Spark's Parquet schema inference reads. */
  private val SchemaConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong", "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp", "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema", "spark.sql.parquet.fieldId.read.enabled",
    "spark.sql.caseSensitive")

  /** The inferred schema of one parquet table, memoized per JVM under
    * the session's inference confs and the table's [[fsSig]]. */
  def tableSchema(spark: SparkSession, path: String): StructType = {
    val confs = SchemaConfs.map(k => spark.conf.getOption(k).getOrElse("")).mkString(",")
    once(spark, s"schema:$confs", path)(spark.read.parquet(path).schema)
  }

  /** Lazy parquet scan of one driver table under its memoized schema. */
  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    spark.read.schema(tableSchema(spark, path)).parquet(path)
  }

  /** events.ts arrives in whatever parquet timestamp flavor the driver
    * generated this round, so the load is TYPE-ADAPTIVE; downstream
    * code always sees a session-TZ (UTC) µs TIMESTAMP:
    *  - timestamp[ns] (rounds 1–9): Spark 4.x refuses it natively
    *    (PARQUET_TYPE_ILLEGAL) → `nanosAsLong` reads BIGINT nanos,
    *    truncated with `ts DIV 1000` (integer division — `/1000` would
    *    route through DOUBLE and lose precision at 1.7e18 magnitudes).
    *  - timestamp[us] (round-10 regeneration): read natively as
    *    TIMESTAMP_NTZ, cast to TIMESTAMP — with the session TZ pinned
    *    to UTC the micros value is unchanged, matching DuckDB's naive
    *    read bit-for-bit.
    * Both shapes agree with the oracle exactly (FIXTURES.md). The
    * dispatch reads the memoized schema ([[tableSchema]], keyed under
    * `nanosAsLong = true`), so it launches no job.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = t(spark, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // nanosAsLong only fires for parquet timestamp[ns]; a plain
        // BIGINT micros column would land here too and be divided 1000×
        // wrong. Row-local magnitude guard (ADVICE r10): nanos for any
        // post-1973 instant exceed 1e17 while micros stay below 1e14
        // until year ~5138 — a sub-threshold value means the fixture is
        // NOT nanos, so fail loudly on the first row instead of
        // silently corrupting every timestamp 1000×. The CASE folds
        // into the same codegen'd projection: no extra scan, no action.
        raw.withColumn("ts", expr(
          "timestamp_micros((CASE WHEN ts < 100000000000000000 THEN " +
          "CAST(raise_error(concat('events.ts BIGINT value ', CAST(ts AS STRING), " +
          "' is below nanos magnitude (1e17) — a micros-as-BIGINT fixture? " +
          "Teach Tables.events the new shape instead of dividing it 1000x wrong')) AS BIGINT) " +
          "ELSE ts END) DIV 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case org.apache.spark.sql.types.TimestampType => raw
      case other => sys.error(
        s"events.ts arrived as unsupported type $other — teach Tables.events " +
        "the new fixture shape instead of letting it flow unvalidated")
    }
  }

  def lineitem(spark: SparkSession, dir: String): DataFrame  = t(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame    = t(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame  = t(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = t(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = t(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame    = t(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame    = t(spark, dir, "region")
  def documents(spark: SparkSession, dir: String): DataFrame = t(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = t(spark, dir, "embeddings")

  /** Content fingerprint of a table path: file names + sizes + mtimes.
    * The staleness stamp of the artifact memo ([[memo]], [[once]]): a
    * regenerated fixture at the same path changes the fingerprint, so
    * stale cached artifacts are never served. */
  def fsSig(spark: SparkSession, path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) "absent"
    else fs.listStatus(p).sortBy(_.getPath.getName)
      .map(st => s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}")
      .mkString(",")
  }

  /** Run `f` with adaptive query execution disabled, restoring the
    * previous value after (r22, guide §1.2 step 1). Four callers
    * remain, all cap-bounded iterative builds whose rounds still carry
    * exchanges: the NN-descent build's over-budget arm
    * (`knnGraphNnDescentDistributed`; a corpus under the driver budget
    * runs its rounds on the driver and never enters the scope), the
    * DiskANN insert patch (`nndInsertGraph`), HITS
    * (`hitsRoundsOnCheckpointed`) and label propagation
    * (`labelPropagate`). Per-round volumes there are bounded by
    * construction (degree caps, node cardinality), while AQE's
    * per-stage materialize-and-replan turns every exchange into its
    * own job: one NND build measured 26 jobs with AQE on vs 9 off,
    * 3.50 s vs 2.40 s median at 4 cpus (OPTIMIZATION_r22.md) — but at
    * 32 shuffle partitions the uncoalesced exchanges multiply tasks
    * 5–8×, so the trade is not a win at every width. Disabling it ALSO
    * makes the loop's lazy localCheckpoints truly lazy (with AQE on,
    * execute() materializes every shuffle stage at checkpoint-call
    * time).
    *
    * HAZARD: the toggle writes SESSION-GLOBAL conf. Any other thread
    * planning a query on the same session while `f` runs plans it
    * with AQE off, and two overlapping scopes can restore each
    * other's value out of order. The graph walks (beam, batched beam,
    * ADC) no longer need it — their rounds are exchange-free
    * [[graft.operators.Similarity.GraphWalk]] fetches — so the public
    * `Corpus` ANN path never flips it. The other four go once their
    * loops take their partitioning from the plan.
    *
    * HAZARD 2: AQE off also drops AQE's stage cache, which runs a
    * subtree planned twice in one query only once. Static exchange
    * reuse is no substitute: it missed the NND round's two projections
    * of one scored-pair pipeline (5 hash exchanges where 3 were
    * needed; only the broadcast was reused). A scope body must plan
    * each subtree once — one generator emitting both edge directions,
    * not a union of two projections (`NndRoundShapeSpec` pins it). */
  def withAqeOff[T](spark: SparkSession)(f: => T): T = {
    val k = "spark.sql.adaptive.enabled"
    val prev = spark.conf.getOption(k)
    spark.conf.set(k, "false")
    try f finally prev match {
      case Some(v) => spark.conf.set(k, v)
      case None => spark.conf.unset(k)
    }
  }

  /** The one artifact memo: index state (graphs, codebooks, shingled
    * corpora, fixture layouts, exports) is built once from a source
    * path and reused until that source changes — the i3cols
    * build-once, read-many rule. One key, (scope, artifact name,
    * source path), with any extra build parameter (`k`, `minJ`) folded
    * into the name; one staleness stamp, normally `fsSig(source)`.
    * A changed stamp rebuilds and DROPS the superseded value without
    * unpersisting it: a frame taken before the rebuild stays readable,
    * and Spark's ContextCleaner frees its checkpoint blocks once
    * nothing references it. Builds run under a per-key lock, so
    * concurrent callers build a key once; a build may call other
    * memos (distinct keys, distinct locks — never inside a
    * ConcurrentHashMap.compute, which refuses recursive updates). */
  private final class Slot { var stamp: String = null; var value: Any = null }
  private val artifacts =
    new java.util.concurrent.ConcurrentHashMap[(String, String, String), Slot]()

  private def cached[V](scope: String, name: String, source: String, stamp: String,
                        keep: V => Boolean)(build: => V): V = {
    val slot = artifacts.computeIfAbsent((scope, name, source), _ => new Slot)
    slot.synchronized {
      if (slot.stamp != stamp || !keep(slot.value.asInstanceOf[V])) {
        slot.value = build
        slot.stamp = stamp
      }
      slot.value.asInstanceOf[V]
    }
  }

  /** Session-bound artifact (checkpointed frames, collected codebooks),
    * scoped to the SparkContext's applicationId: a localCheckpoint's
    * blocks die with their context, so a later session in the same
    * JVM rebuilds instead of reading dead block ids. */
  def memo[V](s: SparkSession, name: String, source: String)(build: => V): V =
    cached(s.sparkContext.applicationId, name, source, fsSig(s, source),
      (_: V) => true)(build)

  /** Write-once scratch artifact (fixture layouts under [[scratch]]),
    * scoped to the JVM: the files outlive any one session. */
  def once[V](s: SparkSession, name: String, source: String)(build: => V): V =
    cached("jvm", name, source, fsSig(s, source), (_: V) => true)(build)

  /** [[once]] with a caller-computed stamp, for exports whose inputs
    * span more than one directory listing; `keep` rejects a cached
    * value whose output has since been removed. */
  def once[V](name: String, source: String, stamp: String, keep: V => Boolean)
             (build: => V): V =
    cached("jvm", name, source, stamp, keep)(build)

  /** Scratch path for sink/roundtrip operators, scoped by input dir and
    * JVM: two scale factors or a concurrent Bench+Verify pair never
    * collide on the same output location (ADVICE r1). */
  def scratch(dir: String, name: String): String = {
    val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
    val pid = ProcessHandle.current().pid()
    s"${sys.props.getOrElse("java.io.tmpdir", "/tmp")}/graft_${name}_${tag}_$pid"
  }

  // ---- oracle-parity helpers (SURVEY.md §2.6) ----

  /** Round a float aggregate for hash-stable comparison. */
  def r2(c: Column): Column = round(c, 2)
  def r4(c: Column): Column = round(c, 4)

  /** Spark count()/rank() et al. return Int or Long inconsistently vs
    * DuckDB's BIGINT; normalize every integer aggregate to LongType. */
  def big(c: Column): Column = c.cast("long")

  /** Order-independent money sum. Double summation over ~1e5 rows at
    * ~1e5 magnitudes carries ~1e-4..1e-3 accumulation error that depends
    * on partition/merge order — enough to flip a round(x, 2) at the .005
    * boundary and fail hash-parity. Summing as DECIMAL(18,2) is exact and
    * associative; the single final cast to double is deterministic on
    * both engines. Oracle side: CAST(SUM(CAST(x AS DECIMAL(18,2))) AS DOUBLE).
    */
  def dsum(c: Column): Column = sum(c.cast("decimal(18,2)")).cast("double")

  /** Oracle-SQL fragment matching [[dsum]]. */
  def dsumSql(expr: String): String = s"CAST(SUM(CAST($expr AS DECIMAL(18,2))) AS DOUBLE)"

  /** Like [[dsum]] but for COMPUTED money expressions (products of
    * 2-decimal values have up to 6 exact decimals; casting those to
    * DECIMAL(…,2) hits exact .xx5 midpoints, where Spark rounds the
    * double's shortest string repr half-up while DuckDB rounds the exact
    * binary value — systematic mismatches). DECIMAL(24,6) holds the
    * product exactly, so no midpoint is ever hit. */
  def dsum6(c: Column): Column = sum(c.cast("decimal(24,6)")).cast("double")
  def dsum6Sql(expr: String): String = s"CAST(SUM(CAST($expr AS DECIMAL(24,6))) AS DOUBLE)"

  /** Engine-agnostic rounding for computed doubles. Spark's round()
    * rounds the value's shortest decimal repr (HALF_UP via
    * BigDecimal.valueOf), DuckDB rounds the exact binary value — they
    * disagree whenever the true value terminates at the midpoint digit
    * (structural for cents arithmetic). floor(x*10^n + 0.5)/10^n is the
    * SAME IEEE arithmetic on both engines → bit-identical results.
    * Do not use on possibly-NaN input (Spark floor(NaN)→0, DuckDB→NaN). */
  def fround(c: Column, n: Int): Column = {
    val f = math.pow(10, n)
    floor(c * f + 0.5) / f
  }

  /** JVM-scalar twin of [[fround]] at n=6 — ONE definition of the
    * 6-decimal pin shared by batch Column expressions and streaming
    * JVM-side folds (ADVICE r11: a hand-inlined copy in a stream's
    * emission could drift from the batch declaration silently). Same
    * NaN caveat as [[fround]]. */
  def round6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6

  /** JVM-scalar twin of [[fround]] at n=4 as Spark evaluates it: Spark's
    * `floor` returns a LONG, so NaN pins to 0.0 here (where [[round6]]
    * keeps it NaN) and the quotient is never −0.0. The driver-side
    * NN-descent arm scores with it, bit-identical to the distributed
    * arm's `fround(cosine(..), 4)`. */
  def fround4(x: Double): Double = math.floor(x * 1e4 + 0.5).toLong / 1e4

  /** JVM-scalar twin of [[dsum6]] — ONE definition shared by every
    * driver-side budget-gated arm (the PCA eigensolve, HITS): each
    * IEEE term pinned to DECIMAL(24,6) exactly as Spark's
    * double→decimal cast does (shortest decimal repr via
    * Double.toString — java.math.BigDecimal.valueOf is that exact
    * call — then HALF_UP at scale 6), summed exactly in decimal, one
    * final doubleValue — bit-identical to
    * sum(cast(x as decimal(24,6))).cast("double"). */
  def dsum6Local(xs: Iterator[Double]): Double = {
    var acc = java.math.BigDecimal.ZERO
    while (xs.hasNext)
      acc = acc.add(java.math.BigDecimal.valueOf(xs.next())
        .setScale(6, java.math.RoundingMode.HALF_UP))
    acc.doubleValue
  }
  def froundSql(expr: String, n: Int): String =
    s"FLOOR(($expr) * 1e$n + 0.5) / 1e$n"

  /** Exact average: decimal sum (order-independent) over count, floor-
    * rounded. Plain AVG of cents values is sum/count whose decimal
    * expansion often terminates near the rounding digit → see [[fround]]. */
  def avgExact(c: Column, n: Int): Column =
    fround(sum(c.cast("decimal(18,2)")).cast("double") / count(lit(1)), n)
  def avgExactSql(expr: String, n: Int): String =
    froundSql(s"CAST(SUM(CAST($expr AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)", n)
}
