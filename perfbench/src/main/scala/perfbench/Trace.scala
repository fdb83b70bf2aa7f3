package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One finished task, as the listener saw it (times in epoch ms). */
final case class TaskRec(stageId: Int, launch: Long, finish: Long, cpuNs: Long, gcMs: Long,
    shuffleWrite: Long, shuffleRead: Long, spill: Long, bytesOut: Long, rowsOut: Long,
    failed: Boolean) {
  def durationMs: Long = finish - launch
}

/** The benchmark's own SparkListener. It keeps every finished task and
  * maps each task's stage to the SQL execution that ran it, and each
  * execution to the checkpoint stage it writes. The written stage is
  * read off the `<root>/<stage>/data` paths in the execution's physical
  * plan: a stage reads only upstream stages, so the highest-numbered
  * stage named is the one written. This attributes the concurrent s3
  * and s4→s5 chains of `GeoPipeline.run` without touching its threads. */
final class Recorder extends SparkListener {
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val stageExec = new ConcurrentHashMap[Int, Long]()
  private val execLabel = new ConcurrentHashMap[Long, String]()
  /** executionId -> (start ms, end ms); end is -1 while running. */
  private val execTimes = new ConcurrentHashMap[Long, (Long, Long)]()
  private val StagePath = """/(s[1-9]_[A-Za-z0-9_]+)/data""".r

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart =>
      execTimes.put(e.executionId, (e.time, -1L))
      val named = StagePath.findAllMatchIn(e.physicalPlanDescription).map(_.group(1)).toSeq
      if (named.nonEmpty) execLabel.put(e.executionId, named.max)
    case e: SparkListenerSQLExecutionEnd =>
      val start = Option(execTimes.get(e.executionId)).map(_._1).getOrElse(e.time)
      execTimes.put(e.executionId, (start, e.time))
    case _ =>
  }

  override def onJobStart(js: SparkListenerJobStart): Unit =
    Option(js.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .foreach(id => js.stageIds.foreach(s => stageExec.put(s, id.toLong)))

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
    val m = te.taskMetrics
    val info = te.taskInfo
    if (m == null || info == null) return
    tasks.add(TaskRec(te.stageId, info.launchTime, info.finishTime,
      m.executorCpuTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.totalBytesRead, m.memoryBytesSpilled + m.diskBytesSpilled,
      m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten, info.failed))
  }

  /** Checkpoint stage a task belongs to ("" when not a stage write). */
  def labelOf(t: TaskRec): String =
    Option(stageExec.get(t.stageId)).flatMap(e => Option(execLabel.get(e))).getOrElse("")

  /** Executions labelled `label` that started inside [from, to]. */
  def execWindows(label: String, from: Long, to: Long): Seq[(Long, Long)] =
    execTimes.asScala.collect {
      case (id, (s, e)) if execLabel.get(id) == label && s >= from && s <= to => (s, e)
    }.toSeq

  def tasksIn(from: Long, to: Long): Seq[TaskRec] =
    tasks.asScala.filter(t => t.launch >= from && t.launch <= to).toSeq
}

/** A span: name, start, end (epoch ns), parent span and trace id. */
final case class Span(id: Int, trace: Int, parent: Int, name: String, startNs: Long, endNs: Long)

/** In-memory span store; written once, as JSON lines, when the run ends.
  * Epoch-ns timestamps keep the listener's epoch-ms spans comparable. */
final class Tracer(val enabled: Boolean) {
  private val spans = ArrayBuffer[Span]()
  private val base = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def now: Long = base + System.nanoTime()

  def add(trace: Int, parent: Int, name: String, startNs: Long, endNs: Long): Int =
    synchronized {
      if (!enabled) return -1
      val id = spans.length
      spans += Span(id, trace, parent, name, startNs, endNs)
      id
    }

  /** Time `body` as a span; the span id is handed to the body so it can
    * parent spans of its own. */
  def span[T](trace: Int, parent: Int, name: String)(body: Int => T): T = {
    if (!enabled) return body(-1)
    val id = add(trace, parent, name, now, 0L)
    try body(id)
    finally synchronized { spans(id) = spans(id).copy(endNs = now) }
  }

  def write(path: java.nio.file.Path): Unit = if (enabled) {
    val lines = spans.map { s =>
      s"""{"id":${s.id},"trace":${s.trace},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}
