package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** Collects Spark's public listener events and attributes them to the
  * benchmark's operations through the job group set around each call.
  * Everything stays in memory and is written out once, after the run. */
final class Recorder extends SparkListener {
  private final class Job(val id: Int, val group: String, val startMs: Long,
                          val stageIds: Seq[Int], var endMs: Long = -1L, var ok: Boolean = false)
  private final class Stage(val id: Int, val attempt: Int, val tasks: Int, val runMs: Long,
                            val shuffleRead: Long, val shuffleWrite: Long, val spill: Long)

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stages = mutable.ArrayBuffer.empty[Stage]
  @volatile private var markersSeen = Set.empty[String]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    if (g.startsWith("drain-")) markersSeen += g
    else jobs(e.jobId) = new Job(e.jobId, g, e.time, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j.endMs = e.time
      j.ok = e.jobResult == JobSucceeded
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = Option(i.taskMetrics)
    stages += new Stage(i.stageId, i.attemptNumber(), i.numTasks,
      m.map(_.executorRunTime).getOrElse(0L),
      m.map(_.shuffleReadMetrics.totalBytesRead).getOrElse(0L),
      m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
      m.map(x => x.memoryBytesSpilled + x.diskBytesSpilled).getOrElse(0L))
  }

  /** Block until every event posted before this call has been delivered:
    * a marker job's start event arrives after all earlier events. */
  def drain(sc: SparkContext): Unit = {
    val marker = s"drain-${System.nanoTime()}"
    sc.setJobGroup(marker, "listener drain", interruptOnCancel = false)
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!markersSeen.contains(marker) && System.nanoTime() < deadline) Thread.sleep(5)
  }

  def reset(): Unit = synchronized { jobs.clear(); stages.clear() }

  def json: Map[String, Any] = synchronized {
    Map(
      "jobs" -> jobs.values.toSeq.map(j => Map(
        "id" -> j.id, "group" -> j.group, "start_ms" -> j.startMs,
        "end_ms" -> j.endMs, "ok" -> j.ok, "stage_ids" -> j.stageIds)),
      "stages" -> stages.toSeq.map(s => Map(
        "id" -> s.id, "attempt" -> s.attempt, "tasks" -> s.tasks, "run_ms" -> s.runMs,
        "shuffle_read" -> s.shuffleRead, "shuffle_write" -> s.shuffleWrite,
        "spill" -> s.spill)))
  }
}

/** Span recorder for the traced run: name, layer, start, end, parent and
  * request id around each call the benchmark makes into the engine. Each
  * span also becomes the job group, so listener events land on the
  * innermost span that launched them. The client is single-threaded, so
  * a plain stack tracks nesting. */
final class Spans(sc: => SparkContext) {
  private final class Span(val id: Int, val parent: Int, val name: String, val layer: String,
                           val request: Long, val group: String, val startNs: Long,
                           var endNs: Long = -1L)

  var enabled = false
  private val done = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private var nextId = 0
  private var opGroup = ""

  /** Job group for jobs outside any span of the current operation. */
  def setOp(group: String): Unit = {
    opGroup = group
    sc.setJobGroup(group, group, interruptOnCancel = false)
  }

  def clearOp(): Unit = { opGroup = ""; sc.clearJobGroup() }

  def apply[T](name: String, layer: String, request: Long = -1L)(f: => T): T =
    if (!enabled) f
    else {
      val parent = stack.headOption
      val s = new Span(nextId, parent.map(_.id).getOrElse(-1), name, layer,
        if (request >= 0) request else parent.map(_.request).getOrElse(-1L),
        opGroup, System.nanoTime())
      nextId += 1
      stack.push(s)
      sc.setJobGroup(s"$opGroup/sp-${s.id}", name, interruptOnCancel = false)
      try f
      finally {
        s.endNs = System.nanoTime()
        stack.pop()
        done += s
        val g = stack.headOption.map(p => s"$opGroup/sp-${p.id}").getOrElse(opGroup)
        if (g.isEmpty) sc.clearJobGroup() else sc.setJobGroup(g, g, interruptOnCancel = false)
      }
    }

  def json: Seq[Map[String, Any]] = done.toSeq.sortBy(_.id).map(s => Map(
    "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "layer" -> s.layer,
    "request" -> s.request, "group" -> s.group, "start_ns" -> s.startNs, "end_ns" -> s.endNs))
}
