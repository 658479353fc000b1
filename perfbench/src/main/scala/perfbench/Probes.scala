package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Minimal JSON writer for the harness's result file (read by run.py). */
object Json {
  def apply(v: Any): String = v match {
    case null                 => "null"
    case s: String            => quote(s)
    case b: Boolean           => b.toString
    case d: Double            => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float             => apply(f.toDouble)
    case n: Number            => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_]      => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_]         => apply(xs.toSeq)
    case other                => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < 0x20 => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }
}

/** Wall clock in epoch microseconds with nanoTime resolution, so spans
  * line up with listener timestamps (epoch milliseconds). */
object Clock {
  private val base = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()
  def us(): Long = base + (System.nanoTime() - nano0) / 1000L
}

/** In-memory spans; written out once at the end of the run. */
final class Spans(runId: String) {
  val all = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val durations = mutable.Map.empty[Int, Long]
  private var next = 0

  /** An id for a span whose children are recorded before it closes. */
  def reserve(): Int = synchronized { next += 1; next }

  def record(id: Int, name: String, layer: String, parent: Int, startUs: Long,
             endUs: Long, attrs: Map[String, Any] = Map.empty): Unit = synchronized {
    durations(id) = endUs - startUs
    all += Map("run" -> runId, "id" -> id, "parent" -> parent, "name" -> name,
      "layer" -> layer, "start_us" -> startUs, "end_us" -> endUs) ++ attrs
  }

  def add(name: String, layer: String, parent: Int, startUs: Long, endUs: Long,
          attrs: Map[String, Any] = Map.empty): Int = {
    val id = reserve()
    record(id, name, layer, parent, startUs, endUs, attrs)
    id
  }

  /** Time `body` as a span under `parent`; returns (result, span id). */
  def time[T](name: String, layer: String, parent: Int)(body: => T): (T, Int) = {
    val t0 = Clock.us()
    val r = body
    (r, add(name, layer, parent, t0, Clock.us()))
  }

  def ms(id: Int): Double = synchronized(durations(id) / 1e3)
}

/** Job, stage and task accounting from the listener bus. */
final class ExecListener extends SparkListener {
  final case class Job(id: Int, startMs: Long, endMs: Long)
  private val starts = mutable.Map.empty[Int, Long]
  val jobs = mutable.ArrayBuffer.empty[Job]
  var stages, tasks, failedTasks = 0L
  var taskMs, taskCpuNs, taskGcMs, shuffleBytes, spillBytes = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    starts(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs += Job(e.jobId, starts.remove(e.jobId).getOrElse(e.time), e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += 1
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    if (e.taskInfo != null && e.taskInfo.failed) failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      taskMs += m.executorRunTime
      taskCpuNs += m.executorCpuTime
      taskGcMs += m.jvmGCTime
      shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      spillBytes += m.diskBytesSpilled
    }
  }

  def counters: Map[String, Double] = synchronized(Map(
    "exec.jobs" -> jobs.size.toDouble,
    "exec.stages" -> stages.toDouble,
    "exec.tasks" -> tasks.toDouble,
    "exec.failed_tasks" -> failedTasks.toDouble,
    "exec.task_s" -> taskMs / 1e3,
    "exec.task_cpu_s" -> taskCpuNs / 1e9,
    "exec.task_gc_s" -> taskGcMs / 1e3,
    "exec.shuffle_mb" -> shuffleBytes / 1048576.0,
    "exec.spill_mb" -> spillBytes / 1048576.0))

  def jobsBetween(fromMs: Long, toMs: Long): Seq[Job] = synchronized(
    jobs.filter(j => j.startMs >= fromMs && j.startMs <= toMs).toSeq)
}

/** Micro-batch progress from every streaming query of the session. */
final class StreamListener extends StreamingQueryListener {
  final case class Batch(query: String, batchId: Long, endMs: Long, rows: Long,
                         durations: Map[String, Long], stateRows: Long,
                         stateBytes: Long)
  val batches = mutable.ArrayBuffer.empty[Batch]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    val end = java.time.Instant.parse(p.timestamp).toEpochMilli +
      d.getOrElse("triggerExecution", 0L)
    val ops = Option(p.stateOperators).map(_.toSeq).getOrElse(Nil)
    synchronized {
      batches += Batch(String.valueOf(p.name), p.batchId, end, p.numInputRows, d,
        ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum)
    }
  }
}

/** JVM-wide readings from the platform MXBeans. */
object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuNs: Long = os.getProcessCpuTime

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ > 0).sum

  def jitMs: Long = Option(ManagementFactory.getCompilationMXBean)
    .map(_.getTotalCompilationTime).getOrElse(0L)

  def codeHeapMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getName.startsWith("CodeHeap")).map(_.getUsage.getUsed).sum / 1048576.0
}
