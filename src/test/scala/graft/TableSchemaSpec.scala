package graft

import graft.JobCounter.jobsOf
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** The table schema is index state: [[Tables.t]] reads under a schema
  * inferred once per JVM, keyed on the session's inference confs and
  * stamped by the table's `fsSig`. */
class TableSchemaSpec extends SparkSpec {

  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  test("every sf0.001 table reads under exactly the schema Spark infers, and a second open runs no job") {
    val names = new java.io.File(sf001).list().toSeq.filter(_.endsWith(".parquet"))
      .map(_.stripSuffix(".parquet")).sorted
    assert(names.contains("lineitem") && names.contains("events"))
    for (name <- names) {
      val inferred = spark.read.parquet(s"$sf001/$name.parquet").schema
      val got = Tables.t(spark, sf001, name).schema
      // StructField equality covers name, order, type, nullability and metadata
      assert(got == inferred, s"$name: ${got.treeString} vs ${inferred.treeString}")
      assert(got.json == inferred.json, s"$name: metadata differs")
      val (_, jobs) = jobsOf(spark)(Tables.t(spark, sf001, name))
      assert(jobs == 0, s"$name: reopening the table ran $jobs jobs")
    }
  }

  test("Tables.events still dispatches ts to a session TIMESTAMP with the same values") {
    val ev = Tables.events(spark, sf001)
    val raw = spark.read.parquet(s"$sf001/events.parquet") // nanosAsLong is now set
    assert(ev.schema("ts").dataType == TimestampType)
    assert(ev.schema.fieldNames.toSeq == raw.schema.fieldNames.toSeq)
    assert(ev.schema.filter(_.name != "ts") == raw.schema.filter(_.name != "ts"))
    val want = raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
    assertSameRows(ev, want, "events")
  }

  test("a table rewritten at the same path with an extra column is inferred again") {
    val dir = tempDir().toString
    val path = s"$dir/grow.parquet"
    spark.range(5).toDF("id").write.parquet(path)
    assert(Tables.t(spark, dir, "grow").schema.fieldNames.toSeq == Seq("id"))
    spark.range(5).selectExpr("id", "id * 2 AS twice").write.mode("overwrite").parquet(path)
    val after = Tables.t(spark, dir, "grow")
    assert(after.schema.fieldNames.toSeq == Seq("id", "twice"))
    assert(after.agg(sum("twice")).head.getLong(0) == 20L)
  }

  test("flipping nanosAsLong uses a separate memo key") {
    // a timestamp[ns] column: BIGINT nanos under nanosAsLong, refused without it
    val dir = tempDir()
    val file = dir.resolve("ns.parquet").toString
    val msg = MessageTypeParser.parseMessageType(
      "message m { required int64 id; required int64 ts (TIMESTAMP(NANOS,false)); }")
    val conf = spark.sparkContext.hadoopConfiguration
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(new HPath(file), conf))
      .withType(msg).withConf(conf).build()
    val rows = new SimpleGroupFactory(msg)
    try (0L until 3L).foreach(i => w.write(rows.newGroup().append("id", i)
      .append("ts", 1700000000000000000L + i)))
    finally w.close()

    withConfs(spark, NanosAsLong -> "true") {
      val (df, jobs) = jobsOf(spark)(Tables.t(spark, dir.toString, "ns"))
      assert(jobs == 1, s"first open ran $jobs jobs")
      assert(df.schema("ts").dataType == LongType)
      assert(df.agg(min("ts")).head.getLong(0) == 1700000000000000000L)
    }
    withConfs(spark, NanosAsLong -> "false") {
      // a schema cached under nanosAsLong = true would be served here
      // and read BIGINT; a fresh inference refuses the nanos column
      intercept[Exception](Tables.t(spark, dir.toString, "ns").schema)
    }
    withConfs(spark, NanosAsLong -> "true") {
      val (df, jobs) = jobsOf(spark)(Tables.t(spark, dir.toString, "ns"))
      assert(jobs == 0, s"the nanosAsLong = true entry was lost: $jobs jobs")
      assert(df.schema("ts").dataType == LongType)
    }
  }

  test("the memo is JVM-scoped: a new session under the same confs infers nothing") {
    val dir = tempDir()
    copyTable("region", dir)
    val confs = Seq(NanosAsLong -> spark.conf.getOption(NanosAsLong).getOrElse("false"))
    val (_, first) = jobsOf(spark)(withConfs(spark, confs: _*)(Tables.t(spark, dir.toString, "region")))
    assert(first == 1)
    val other = spark.newSession()
    val (df, again) = jobsOf(other)(withConfs(other, confs: _*)(Tables.t(other, dir.toString, "region")))
    assert(again == 0, s"a new session re-inferred: $again jobs")
    assert(df.count() == 5)
  }

  test("two threads opening one unread table trigger one inference job") {
    val dir = tempDir()
    copyTable("nation", dir)
    val (schemas, jobs) = jobsOf(spark)(inParallel(2)(Tables.t(spark, dir.toString, "nation").schema))
    assert(jobs == 1, s"two threads ran $jobs inference jobs")
    assert(schemas.distinct.size == 1)
  }
}
