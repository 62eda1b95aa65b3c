package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import scala.collection.mutable.ArrayBuffer

/** One timed call into a layer. `parent` is the id of the enclosing span
  * (0 for a root); every span of one run carries the run id. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Spans are opened around the benchmark's own
  * calls into the program's modules, kept in memory, and written once when
  * the run ends. When disabled, [[span]] only runs its body. */
final class Tracer(val runId: String, val enabled: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private var nextId = 0
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = synchronized { nextId += 1; nextId }
      val parents = stack.get()
      stack.set(id :: parents)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(parents)
        synchronized { spans += Span(id, parents.headOption.getOrElse(0), name, t0, t1) }
      }
    }

  /** Records an interval timed elsewhere (a task reported by Spark). */
  def record(name: String, parent: Int, startNs: Long, endNs: Long): Unit = if (enabled)
    synchronized { nextId += 1; spans += Span(nextId, parent, name, startNs, endNs) }

  def all: Vector[Span] = synchronized(spans.toVector)

  /** Total seconds of every span with this name. */
  def total(name: String): Double = all.filter(_.name == name).map(_.seconds).sum

  def durations(name: String): Vector[Double] = all.filter(_.name == name).map(_.seconds)

  def write(path: Path): Unit = if (enabled) {
    val sb = new StringBuilder
    for (s <- all)
      sb ++= s"""{"run":"$runId","id":${s.id},"parent":${s.parent},"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}""" += '\n'
    Files.createDirectories(path.getParent)
    Files.write(path, sb.toString.getBytes(StandardCharsets.UTF_8))
  }
}

/** One finished task as the listener saw it (times in epoch millis). */
final case class TaskRec(stage: Int, launchMs: Long, finishMs: Long, runMs: Long, cpuNs: Long,
    deserMs: Long, gcMs: Long, schedDelayMs: Long,
    shuffleRead: Long, shuffleWrite: Long, spill: Long) {
  def seconds: Double = (finishMs - launchMs) / 1e3
}

/** Per-task statistics of the jobs run while it is registered. */
final class TaskStats extends SparkListener {
  private val tasks = ArrayBuffer.empty[TaskRec]

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val i = e.taskInfo
    if (m != null && i != null) synchronized {
      val wall = i.finishTime - i.launchTime
      val sched = wall - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - (if (i.gettingResult) i.finishTime - i.gettingResultTime else 0L)
      tasks += TaskRec(e.stageId, i.launchTime, i.finishTime, m.executorRunTime, m.executorCpuTime,
        m.executorDeserializeTime, m.jvmGCTime, math.max(0L, sched),
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  /** Waits for queued events, then returns and forgets the tasks seen so far. */
  def drain(sc: SparkContext): Vector[TaskRec] = {
    org.apache.spark.perfbench.Bus.drain(sc)
    synchronized { val out = tasks.toVector; tasks.clear(); out }
  }
}
