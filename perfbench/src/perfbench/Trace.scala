package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Cumulative Spark and JVM counters at one instant. */
final case class Counters(jobs: Long, stages: Long, tasks: Long,
    executorRunMs: Long, executorCpuNs: Long, shuffleBytes: Long,
    spillBytes: Long, inputBytes: Long, jitMs: Long, gcMs: Long) {
  def -(o: Counters): Counters = Counters(jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, executorRunMs - o.executorRunMs,
    executorCpuNs - o.executorCpuNs, shuffleBytes - o.shuffleBytes,
    spillBytes - o.spillBytes, inputBytes - o.inputBytes,
    jitMs - o.jitMs, gcMs - o.gcMs)
}

/** The listener the benchmark registers on a traced run: sums job, stage
  * and task counts and the task metrics Spark reports.
  */
final class SparkCounters extends SparkListener {
  private var jobs, stages, tasks = 0L
  private var runMs, cpuNs, shuffle, spill, input = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized { jobs += 1 }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stages += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      shuffle += m.shuffleWriteMetrics.bytesWritten
      spill += m.diskBytesSpilled
      input += m.inputMetrics.bytesRead
    }
  }

  /** Counters once every event posted so far has been delivered. */
  def read(sc: SparkContext): Counters = {
    org.apache.spark.PerfbenchAccess.drainListeners(sc)
    synchronized {
      Counters(jobs, stages, tasks, runMs, cpuNs, shuffle, spill, input,
        Jvm.jitMs, Jvm.gcMs)
    }
  }
}

object Jvm {
  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime.max(0L)).sum

  /** The JVM's peak resident set (VmHWM), in MiB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(Double.NaN)
    finally src.close()
  }
}

/** In-memory spans of a traced run. A span wraps one call into a graft
  * module and is named `<module>.<function>`; all spans of one op share the
  * op's id. Nothing is written until the run ends. A disabled tracer runs
  * the wrapped code and records nothing.
  */
final class Tracer(val enabled: Boolean) {
  final case class Span(op: Int, id: Int, parent: Int, name: String,
      startNs: Long, endNs: Long)

  val spans = ArrayBuffer.empty[Span]
  val counts = ArrayBuffer.empty[(Int, String, Double)]
  private var op = -1
  private var open: List[Int] = Nil

  def beginOp(i: Int): Unit = { op = i; open = Nil }

  def span[A](name: String)(f: => A): A =
    if (!enabled) f
    else {
      val id = spans.size
      val parent = open.headOption.getOrElse(-1)
      spans += Span(op, id, parent, name, System.nanoTime(), 0L)
      open = id :: open
      try f
      finally {
        open = open.tail
        spans(id) = spans(id).copy(endNs = System.nanoTime())
      }
    }

  /** A count measured at a layer boundary, attached to the current op. */
  def count(name: String, v: Double): Unit =
    if (enabled) counts += ((op, name, v))

  /** Self seconds per span name for each of `ops`: a span's duration
    * minus the part of it its child spans cover (children never overlap,
    * because ops run their calls one after another).
    */
  def selfSeconds(ops: Set[Int]): Map[String, Map[Int, Double]] = {
    val mine = spans.filter(s => ops(s.op))
    val childNs = mine.groupBy(_.parent).view
      .mapValues(_.map(s => s.endNs - s.startNs).sum).toMap
    mine.groupBy(_.name).view.mapValues { ss =>
      ss.groupBy(_.op).view.mapValues(_.map(s =>
        (s.endNs - s.startNs - childNs.getOrElse(s.id, 0L)) / 1e9).sum).toMap
    }.toMap
  }
}
