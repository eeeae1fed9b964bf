package graftbench

import java.nio.file.Path
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a call boundary. `parent` is the span that
  * caused it (0 = none); all spans of a run share the run's trace. */
final case class Span(id: Long, parent: Long, name: String,
    startMs: Double, endMs: Double, attrs: Map[String, Any] = Map.empty)

/** In-memory span recorder. Disabled (every call a pass-through) in
  * untraced runs, so end-to-end metrics are measured with tracing off. */
final class Tracer(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  /** Parent for spans recorded off the calling thread (jobs without a
    * job group, streaming triggers). */
  val current = new AtomicLong(0)

  def nextId(): Long = ids.incrementAndGet()

  def add(s: Span): Unit = if (enabled) spans.add(s)

  /** Time `body` as a span named `name` under `parent`. */
  def span[T](name: String, parent: Long, attrs: Map[String, Any] = Map.empty)(
      body: Long => T): T = {
    if (!enabled) return body(0L)
    val id = nextId()
    val t0 = Clock.nowMs()
    try body(id)
    finally add(Span(id, parent, name, t0, Clock.nowMs(), attrs))
  }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Self time per span name, seconds: each span's duration minus the
    * part of its interval that its children cover. */
  def selfSeconds: Map[String, Double] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    ss.groupBy(_.name).map { case (name, group) =>
      name -> group.map { s =>
        val iv = kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered = 0.0
        var (lo, hi) = (Double.NaN, Double.NaN)
        iv.foreach { case (a, b) =>
          if (lo.isNaN || a > hi) {
            if (!lo.isNaN) covered += hi - lo
            lo = a; hi = b
          } else hi = math.max(hi, b)
        }
        if (!lo.isNaN) covered += hi - lo
        math.max(0.0, s.endMs - s.startMs - covered) / 1000.0
      }.sum
    }
  }

  def write(p: Path): Unit = {
    val lines = all.sortBy(_.startMs).map(s => Json(Map(
      "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs, "attrs" -> s.attrs)))
    java.nio.file.Files.write(p, (lines.mkString("\n") + "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}

object Tracer {
  /** Job group that tags a query's jobs with its phase and span. */
  def group(query: String, phase: String, span: Long): String =
    s"$query|$phase|$span"
}

/** Per-phase Spark task totals (`build` = jobs started while a query's
  * DataFrame is constructed, `run` = everything else). */
final class PhaseTotals {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var peakExecBytes = 0L

  def metrics(prefix: String): Map[String, (Double, String)] = Map(
    s"$prefix.jobs" -> (jobs.toDouble, "count"),
    s"$prefix.tasks" -> (tasks.toDouble, "count"),
    s"$prefix.executor_cpu_s" -> (cpuNs / 1e9, "s"),
    s"$prefix.gc_s" -> (gcMs / 1e3, "s"),
    s"$prefix.shuffle_write_mb" -> (shuffleWriteBytes / 1048576.0, "MB"),
    s"$prefix.spill_mb" -> (spillBytes / 1048576.0, "MB"),
    s"$prefix.peak_exec_mem_mb" -> (peakExecBytes / 1048576.0, "MB"))
}

/** Wall time spent inside the benchmark's listener callbacks. */
final class Busy {
  private val ns = new AtomicLong(0)
  def apply(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    try body finally ns.addAndGet(System.nanoTime() - t0)
  }
  def seconds: Double = ns.get / 1e9
}

/** SparkListener: job spans and per-phase task totals. */
final class SparkTrace(tracer: Tracer, busy: Busy) extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, (Long, String)]()
  val phases: mutable.Map[String, PhaseTotals] = mutable.Map(
    "build" -> new PhaseTotals, "run" -> new PhaseTotals)

  private def phaseOf(group: String): String =
    if (group.split('|').lift(1).contains("build")) "build" else "run"

  override def onJobStart(e: SparkListenerJobStart): Unit = busy {
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    e.stageIds.foreach(stageGroup.put(_, g))
    jobStart.put(e.jobId, (e.time, g))
    phases.synchronized { phases(phaseOf(g)).jobs += 1 }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = busy {
    Option(jobStart.remove(e.jobId)).foreach { case (t0, g) =>
      val parent = g.split('|').lift(2).map(_.toLong)
        .getOrElse(tracer.current.get())
      tracer.add(Span(tracer.nextId(), parent, "job", t0.toDouble,
        e.time.toDouble, Map("job_id" -> e.jobId)))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = busy {
    val m = e.taskMetrics
    if (m != null) phases.synchronized {
      val p = phaseOf(Option(stageGroup.get(e.stageId)).getOrElse(""))
      val t = phases(p)
      t.tasks += 1
      t.cpuNs += m.executorCpuTime
      t.gcMs += m.jvmGCTime
      t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      t.spillBytes += m.diskBytesSpilled
      t.peakExecBytes = math.max(t.peakExecBytes, m.peakExecutionMemory)
    }
  }
}

/** QueryExecutionListener: planning-phase times of the output writes
  * that time each query's run (eager actions during construction
  * excluded). */
final class PlanTrace(busy: Busy) extends QueryExecutionListener {
  val phaseMs: mutable.Map[String, Double] = mutable.Map.empty

  private def isWrite(qe: QueryExecution): Boolean = qe.logical match {
    case _: V2WriteCommand | _: InsertIntoHadoopFsRelationCommand => true
    case _ => false
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = busy {
    if (isWrite(qe)) phaseMs.synchronized {
      qe.tracker.phases.foreach { case (k, v) =>
        phaseMs(k) = phaseMs.getOrElse(k, 0.0) + v.durationMs
      }
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()
}

/** StreamingQueryListener: every progress event, kept in full (the
  * query's own `recentProgress` ring drops all but the last 100). */
final class StreamTrace(busy: Busy) extends StreamingQueryListener {
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    busy { progress.add(e.progress) }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  def all: Seq[StreamingQueryProgress] = progress.asScala.toSeq
}

/** The three listeners of a traced run, attached from benchmark code. */
final class Listeners(spark: SparkSession, tracer: Tracer) {
  private val busy = new Busy
  val sparkTrace = new SparkTrace(tracer, busy)
  val planTrace = new PlanTrace(busy)
  val streamTrace = new StreamTrace(busy)

  /** The tracing overhead: time inside the listener callbacks over the
    * wall time of the traced phase, which started at `t0Ns`. */
  def overheadShare(t0Ns: Long): Double = busy.seconds / Clock.secondsSince(t0Ns)

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkTrace)
    spark.listenerManager.register(planTrace)
    spark.streams.addListener(streamTrace)
  }

  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkTrace)
    spark.listenerManager.unregister(planTrace)
    spark.streams.removeListener(streamTrace)
  }

  /** Block until every posted listener event has been delivered. */
  def drain(): Unit = org.apache.spark.BenchBridge.drainListenerBus(spark)
}
