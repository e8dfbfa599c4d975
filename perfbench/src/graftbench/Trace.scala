package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** In-memory spans, recorded by the benchmark around each call into a
  * graft layer. Spans of one operation share its id; a span's parent is
  * the span open when it started. Disabled, `span` is a plain call. */
final class Tracer {
  var on = false
  private final class Span(val op: Long, val name: String, val parent: Int, val t0: Long) {
    var t1 = 0L
  }
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private var op = -1L

  def begin(opId: Long): Unit = { op = opId; open = Nil }

  def span[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val s = new Span(op, name, open.headOption.getOrElse(-1), System.nanoTime())
      spans += s
      open = (spans.length - 1) :: open
      try body
      finally { s.t1 = System.nanoTime(); open = open.tail }
    }

  /** Total self time per span name in ms: a span's duration minus the
    * part covered by its children. */
  def selfMs: Map[String, Double] = {
    val child = new Array[Long](spans.length)
    spans.foreach(s => if (s.parent >= 0) child(s.parent) += s.t1 - s.t0)
    spans.indices.groupBy(i => spans(i).name).map { case (n, is) =>
      n -> is.map(i => spans(i).t1 - spans(i).t0 - child(i)).sum / 1e6
    }
  }

  def counts: Map[String, Int] = spans.groupBy(_.name).map { case (n, ss) => n -> ss.length }

  def write(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    spans.zipWithIndex.foreach { case (s, i) =>
      sb ++= s"""{"op":${s.op},"id":$i,"parent":${s.parent},"name":"${s.name}",""" +
        s""""start_ns":${s.t0},"end_ns":${s.t1}}""" += '\n'
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

/** Running totals of Spark scheduler and SQL planning work, read as
  * before/after deltas around one operation (the listener bus is drained
  * first, so every event of the operation has been delivered). */
final class SparkCounters extends SparkListener with QueryExecutionListener {
  final case class Snap(jobs: Long, stages: Long, tasks: Long, jobWallMs: Double,
                        taskRunMs: Double, shuffleWriteB: Long, spillB: Long,
                        inputB: Long, gcMs: Double, planMs: Double) {
    private def zip(o: Snap, f: (Double, Double) => Double): Snap = Snap(
      f(jobs, o.jobs).toLong, f(stages, o.stages).toLong, f(tasks, o.tasks).toLong,
      f(jobWallMs, o.jobWallMs), f(taskRunMs, o.taskRunMs),
      f(shuffleWriteB, o.shuffleWriteB).toLong, f(spillB, o.spillB).toLong,
      f(inputB, o.inputB).toLong, f(gcMs, o.gcMs), f(planMs, o.planMs))
    def -(o: Snap): Snap = zip(o, _ - _)
    def +(o: Snap): Snap = zip(o, _ + _)
  }
  private var jobs, stages, tasks, shuffleWriteB, spillB, inputB = 0L
  private var jobWallMs, taskRunMs, gcMs, planMs = 0.0
  private val jobStart = mutable.HashMap.empty[Int, Long]

  def snap: Snap = synchronized {
    Snap(jobs, stages, tasks, jobWallMs, taskRunMs, shuffleWriteB, spillB, inputB, gcMs, planMs)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1; jobStart(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(t => jobWallMs += e.time - t)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += 1
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    Option(e.taskMetrics).foreach { m =>
      taskRunMs += m.executorRunTime
      gcMs += m.jvmGCTime
      shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
      spillB += m.memoryBytesSpilled + m.diskBytesSpilled
      inputB += m.inputMetrics.bytesRead
    }
  }

  private def planned(qe: QueryExecution): Unit = synchronized {
    val ph = qe.tracker.phases
    planMs += Seq("analysis", "optimization", "planning").flatMap(ph.get).map(_.durationMs).sum
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = planned(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = planned(qe)
}
