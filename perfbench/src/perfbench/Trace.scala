package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** Span recorder for the traced run. A span wraps one call from the
  * benchmark into a layer; spans nest on the driver thread, and each span
  * runs its Spark jobs under its own job group, so the [[TaskListener]]
  * can attribute task metrics to the innermost span. Spans are kept in
  * memory and written out when the run ends. With `enabled = false` a
  * span is just the call.
  */
final class Tracer(sc: SparkContext, var enabled: Boolean) {
  import Tracer._
  val spans = mutable.ArrayBuffer.empty[Span]
  /** Loop round stamped on new spans. */
  var round = 0
  private var stack = List.empty[Span]
  val listener = new TaskListener
  sc.addSparkListener(listener)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, stack.headOption.map(_.id).getOrElse(-1), name, round,
        System.currentTimeMillis(), -1L)
      spans += s
      stack = s :: stack
      sc.setJobGroup(groupOf(s.id), name)
      try body
      finally {
        s.end = System.currentTimeMillis()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(groupOf(p.id), p.name)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Block until the listener bus has delivered every event posted so far:
    * run a marker job and wait for its end event (one queue, in order).
    */
  def flush(): Unit = {
    val group = sc.getLocalProperty("spark.jobGroup.id")
    val desc = sc.getLocalProperty("spark.job.description")
    sc.setJobGroup(FlushGroup, "flush")
    sc.parallelize(Seq(1), 1).count()
    if (group == null) sc.clearJobGroup() else sc.setJobGroup(group, desc)
    val deadline = System.currentTimeMillis() + 30000
    while (!listener.flushed && System.currentTimeMillis() < deadline) Thread.sleep(5)
    listener.flushed = false
  }

  private def children(id: Int): Seq[Span] = spans.filter(_.parent == id).toSeq
  private def subtree(id: Int): Seq[Int] = id +: children(id).flatMap(c => subtree(c.id))

  def wallMs(s: Span): Long = s.end - s.start
  /** Span wall minus the wall its direct child spans cover. */
  def selfMs(s: Span): Long = wallMs(s) - children(s.id).map(wallMs).sum

  /** Jobs run inside the span or any span below it. */
  def jobsOf(s: Span): Seq[JobRec] = {
    val groups = subtree(s.id).map(groupOf).toSet
    listener.jobs.values.filter(j => groups(j.group)).toSeq
  }
  def tasksOf(s: Span): TaskAgg = {
    val groups = subtree(s.id).map(groupOf).toSet
    listener.agg.collect { case (g, a) if groups(g) => a }.foldLeft(TaskAgg())(_ + _)
  }

  /** Driver-side time of the span: its wall minus the union of its jobs'
    * intervals (planning, manifests, footers, cover builds).
    */
  def driverMs(s: Span): Long = {
    val iv = jobsOf(s).map(j => (math.max(j.start, s.start), math.min(math.max(j.end, j.start), s.end)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L; var curA = -1L; var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += curB - curA
    wallMs(s) - covered
  }

  def named(name: String, fromRound: Int): Seq[Span] =
    spans.filter(s => s.name == name && s.round >= fromRound).toSeq

  def spansJson: String = spans.map { s =>
    Json.obj("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "round" -> s.round,
      "start_ms" -> s.start, "end_ms" -> s.end, "self_ms" -> selfMs(s),
      "driver_ms" -> driverMs(s), "jobs" -> jobsOf(s).size,
      "task_run_ms" -> tasksOf(s).runMs)
  }.mkString("[\n", ",\n", "\n]")
}

object Tracer {
  val FlushGroup = "perfbench-flush"
  def groupOf(id: Int): String = s"perfbench-span-$id"

  final case class Span(id: Int, parent: Int, name: String, round: Int, start: Long, var end: Long)
  final case class JobRec(id: Int, group: String, start: Long, var end: Long)

  final case class TaskAgg(tasks: Long = 0, runMs: Long = 0, shuffleWriteBytes: Long = 0,
                           shuffleWriteRecords: Long = 0, fetchWaitMs: Long = 0,
                           spillBytes: Long = 0, inputBytes: Long = 0, outputBytes: Long = 0) {
    def +(o: TaskAgg): TaskAgg = TaskAgg(tasks + o.tasks, runMs + o.runMs,
      shuffleWriteBytes + o.shuffleWriteBytes, shuffleWriteRecords + o.shuffleWriteRecords,
      fetchWaitMs + o.fetchWaitMs, spillBytes + o.spillBytes, inputBytes + o.inputBytes,
      outputBytes + o.outputBytes)
  }

  final case class StageRec(group: String, var wallMs: Long, taskMs: mutable.ArrayBuffer[Long])
}

/** Aggregates task metrics per job group and per stage. */
final class TaskListener extends SparkListener {
  import Tracer._
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val agg = mutable.HashMap.empty[String, TaskAgg]
  val stages = mutable.HashMap.empty[Int, StageRec]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  @volatile var flushed = false
  /** Executor CPU time of every finished task, ns. */
  @volatile var taskCpuNs = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    jobs(e.jobId) = JobRec(e.jobId, g, e.time, -1L)
    e.stageInfos.foreach(si => stageGroup(si.stageId) = g)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j.end = e.time
      if (j.group == FlushGroup) flushed = true
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      taskCpuNs += m.executorCpuTime
      val g = stageGroup.getOrElse(e.stageId, "")
      agg(g) = agg.getOrElse(g, TaskAgg()) + TaskAgg(1, m.executorRunTime,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.recordsWritten,
        m.shuffleReadMetrics.fetchWaitTime, m.memoryBytesSpilled + m.diskBytesSpilled,
        m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten)
      stages.getOrElseUpdate(e.stageId, StageRec(g, 0L, mutable.ArrayBuffer.empty))
        .taskMs += m.executorRunTime
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    for (a <- si.submissionTime; b <- si.completionTime)
      stages.getOrElseUpdate(si.stageId,
        StageRec(stageGroup.getOrElse(si.stageId, ""), 0L, mutable.ArrayBuffer.empty)).wallMs = b - a
  }
}
