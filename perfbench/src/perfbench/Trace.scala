package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval: `parent` is the enclosing span's id (0 = none),
  * `opId` the closed-loop operation it ran under (-1 = set-up). */
final case class Span(id: Int, name: String, parent: Int, opId: Int,
    startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** One closed-loop operation of a traced run, with the Hadoop `file://`
  * statistics it moved (read ops, write ops, bytes read, bytes written). */
final case class OpRec(id: Int, kind: String, startNs: Long, endNs: Long,
    fs: Array[Long])

/** The span store: spans are kept in memory and written once at the end.
  * Single-threaded by construction — the benchmark is a closed loop with
  * one client. */
final class SpanStore {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[(Int, String, Long)]
  private var nextId = 1
  var opId: Int = -1

  def span[T](name: String)(f: => T): T = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.map(_._1).getOrElse(0)
    open = (id, name, System.nanoTime()) :: open
    try f
    finally {
      val (_, _, t0) = open.head
      open = open.tail
      done += Span(id, name, parent, opId, t0, System.nanoTime())
    }
  }

  def spans: Seq[Span] = done.toSeq
}

object SpanStore {

  /** Length of the union of `ivs` clipped to [lo, hi]. */
  def covered(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var end = lo
    ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
      .foreach { case (a, b) =>
        if (b > end) { total += b - math.max(a, end); end = b }
      }
    total
  }

  /** Self time of every span: its duration minus the part of it covered
    * by its child spans. */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val ch = kids.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs))
      s.id -> (s.durNs - covered(ch, s.startNs, s.endNs))
    }.toMap
  }
}

/** Per-job and per-stage facts from the scheduler. Jobs are attributed
  * to operations by start time, not by a local property: the engine
  * launches some jobs from pooled threads (the concurrent stats
  * read-back), which inherit whatever property their thread was created
  * under. Operations are sequential, so the time attribution is exact. */
final class JobListener extends SparkListener {
  import JobListener.Job
  val jobs = mutable.Map.empty[Int, Job]
  val stageJob = mutable.Map.empty[Int, Int]
  val stageTasks = mutable.Map.empty[Int, Long].withDefaultValue(0L)
  val stageCpuNs = mutable.Map.empty[Int, Long].withDefaultValue(0L)
  val stageShuffleBytes = mutable.Map.empty[Int, Long].withDefaultValue(0L)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = Job(e.time, e.time)
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageTasks(e.stageId) += 1
    Option(e.taskMetrics).foreach { m =>
      stageCpuNs(e.stageId) += m.executorCpuTime
      stageShuffleBytes(e.stageId) += m.shuffleWriteMetrics.bytesWritten
    }
  }
}

object JobListener {
  final case class Job(startMs: Long, var endMs: Long)
}

/** Catalyst phase times and scan-node metrics of every executed query. */
final class QeListener extends QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  import QeListener.Qe
  val qes = mutable.ArrayBuffer.empty[Qe]

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    val scans = collect(qe.executedPlan) { case s: FileSourceScanExec => s }
    def metric(s: FileSourceScanExec, k: String): Long =
      s.metrics.get(k).map(_.value).getOrElse(0L)
    val rec = Qe(
      if (phases.isEmpty) System.currentTimeMillis()
      else phases.values.map(_.endTimeMs).max,
      phases.map { case (k, p) => k -> (p.endTimeMs - p.startTimeMs) },
      scans.map(metric(_, "numFiles")).sum,
      scans.map(metric(_, "numOutputRows")).sum)
    synchronized { qes += rec }
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()
}

object QeListener {
  /** endMs = end of the last tracked phase (planning), the instant the
    * query was handed to execution. */
  final case class Qe(endMs: Long, phaseMs: Map[String, Long],
      filesRead: Long, rowsRead: Long)
}

/** Tracing switchboard. Off, every hook is a pass-through; on, spans,
  * counters, listeners and file-system statistics are recorded. */
object Trace {
  @volatile var enabled = false
  val store = new SpanStore
  val ops = mutable.ArrayBuffer.empty[OpRec]
  val counters = mutable.LinkedHashMap.empty[String, Long]
    .withDefaultValue(0L)
  val jobs = new JobListener
  val qes = new QeListener
  private var nextOp = 0

  def span[T](name: String)(f: => T): T =
    if (enabled) store.span(name)(f) else f

  /** Add to a per-run counter (recorded only while tracing). */
  def count(name: String, v: Long): Unit =
    if (enabled) counters(name) += v

  def start(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(jobs)
    spark.listenerManager.register(qes)
    enabled = true
  }

  /** Run one closed-loop operation under a root span named `kind`. */
  def op[T](kind: String)(f: => T): T =
    if (!enabled) f
    else {
      nextOp += 1
      val id = nextOp
      store.opId = id
      val fs0 = fsStats()
      val t0 = System.nanoTime()
      try store.span(kind)(f)
      finally {
        val t1 = System.nanoTime()
        val fs1 = fsStats()
        ops += OpRec(id, kind, t0, t1, fs1.zip(fs0).map { case (a, b) =>
          a - b })
        store.opId = -1
      }
    }

  /** File-system activity so far: (read ops, write ops) counted by
    * [[CountingLocalFileSystem]], (bytes read, bytes written) from Hadoop's
    * statistics for the `file` scheme. */
  def fsStats(): Array[Long] = {
    val st = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file")
    Array(CountingLocalFileSystem.readOps.get,
      CountingLocalFileSystem.writeOps.get,
      st.map(_.getBytesRead).sum, st.map(_.getBytesWritten).sum)
  }

  /** Wait until the listener bus has delivered every event. */
  def drain(spark: SparkSession): Unit =
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  /** Epoch-ms clock aligned with the listener event times. */
  private val nano0 = System.nanoTime()
  private val ms0 = System.currentTimeMillis()
  def toMs(ns: Long): Double = ms0 + (ns - nano0) / 1e6

  /** Write every span once, as JSON lines. */
  def writeSpans(path: java.nio.file.Path): Unit = {
    val lines = store.spans.map(s => Stats.json(
      scala.collection.immutable.ListMap("id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "op" -> s.opId, "start_ns" -> s.startNs,
        "end_ns" -> s.endNs)))
    java.nio.file.Files.write(path, lines.asJava)
  }
}
