package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Command-line options of one benchmark run (see run.py). */
final case class Opts(
    workload: String, seed: Long, seconds: Int, trace: Boolean,
    work: Path, cores: Int)

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", java.nio.file.Paths.get(need("work")),
      m.get("cores").map(_.toInt)
        .getOrElse(Runtime.getRuntime.availableProcessors))
  }
}

/** What a workload hands back to [[Main]]: the operation counts, the
  * metrics of this run, and facts about the generated inputs. */
final case class Outcome(
    attempted: Long, failed: Long,
    metrics: Map[String, (Double, String)],
    info: Map[String, Any] = Map.empty)

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile, `p` in (0, 100]. */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1))
  }

  /** Harrell-Davis estimate of the `p` quantile, `p` in (0, 1): a
    * beta-weighted mean of all order statistics. Over a dozen samples
    * it scatters far less from run to run than the sample quantile,
    * which rests on one or two of them. */
  def hd(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val n = s.size
    val beta = new org.apache.commons.math3.distribution.BetaDistribution(
      null, p * (n + 1), (1 - p) * (n + 1))
    val cdf = (0 to n).map(i => beta.cumulativeProbability(i.toDouble / n))
    s.indices.map(i => (cdf(i + 1) - cdf(i)) * s(i)).sum
  }

  def medianOr0(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else median(xs)
  def pctOr0(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0 else pct(xs, p)
}

/** Minimal JSON writer for the result and span files. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"non-finite number $d")
      d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] => m.toSeq.map { case (k, x) => s"${str(k.toString)}:${apply(x)}" }
      .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case o => str(o.toString)
  }

  def write(p: Path, v: Any): Unit =
    Files.write(p, apply(v).getBytes(StandardCharsets.UTF_8))
}

object Clock {
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  /** Wall-clock milliseconds with nanosecond resolution, comparable with
    * the millisecond timestamps Spark's listener events carry. */
  def nowMs(): Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6
  def secondsSince(t0Ns: Long): Double = (System.nanoTime() - t0Ns) / 1e9

  /** Log the end of a step with the JVM's uptime, to the run's log. */
  def mark(step: String): Unit = System.err.println(
    f"[bench] ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f s: $step")
}

object Session {
  /** The factory users are told to use, with no extra confs. */
  def open(cores: Int): SparkSession = {
    val s = graft.Graft.session(s"local[$cores]", cores)
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Resident-set high-water mark of this JVM, in MiB. */
  def peakRssMb(): Double = {
    val lines = scala.io.Source.fromFile("/proc/self/status").getLines()
    lines.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(throw new IllegalStateException("no VmHWM in proc status"))
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))
      finally s.close()
    }
}

/** How much slower than a reference host this one ran during a timed
  * phase. The cores of a shared host change speed under their
  * neighbours' load: on a 4-core shared cloud VM, a fixed
  * single-threaded loop ran anywhere from 45 to 85 rounds a second
  * within one minute, in phases of ten seconds and more, and whole
  * sets of runs came out 10-30% slow. The timed metrics are divided by
  * this factor so that a comparison of two commits sees graft, not the
  * neighbours.
  *
  * Two parts, multiplied:
  *  - core speed: every 100 ms a daemon thread runs a fixed integer
  *    kernel on an L1-resident array and takes its own CPU time for it
  *    (about 4.4 ms on that VM, 2% of one core); the phase's median
  *    sample over [[RefKernelMs]];
  *  - stolen time: a hypervisor's steal is charged to no thread, so it
  *    is read from `/proc/stat` over the phase, and the factor is
  *    divided by the share of CPU time the VM kept. */
final class HostSpeed {
  import HostSpeed._
  private val samples = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
  @volatile private var running = true
  private val thread = new Thread(() => {
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
    val a = new Array[Int](1024)
    while (running) {
      val c0 = mx.getCurrentThreadCpuTime
      var x = 1
      var i = 0
      while (i < KernelSteps) {
        x ^= x << 13; x ^= x >>> 17; x ^= x << 5
        a(x & 1023) += x
        i += 1
      }
      samples.add((System.nanoTime(), mx.getCurrentThreadCpuTime - c0))
      Thread.sleep(100)
    }
  }, "host-speed-probe")
  thread.setDaemon(true)
  thread.start()
  val started: Mark = mark()

  /** The start or end of a phase. */
  final case class Mark(ns: Long, steal: Long, total: Long)

  def mark(): Mark = {
    val f = Files.readAllLines(java.nio.file.Paths.get("/proc/stat")).get(0)
      .split("\\s+").slice(1, 9).map(_.toLong)
    Mark(System.nanoTime(), f(7), f.sum)
  }

  /** The slowdown factor over [from, to]; 1.0 is the reference host. */
  def factor(from: Mark, to: Mark): Double = {
    val all = samples.asScala.toSeq
    val in = all.filter { case (t, _) => t >= from.ns && t <= to.ns }
    // a phase shorter than a few probe periods takes the samples
    // nearest to it
    val use = if (in.size >= 5) in
      else all.sortBy { case (t, _) => math.abs(t - (from.ns + to.ns) / 2) }.take(5)
    require(use.nonEmpty, "no host speed samples")
    val core = Stats.median(use.map(_._2 / 1e6)) / RefKernelMs
    val kept = 1.0 - (to.steal - from.steal).toDouble / math.max(1L, to.total - from.total)
    core / math.max(kept, 0.05)
  }

  def stop(): Unit = { running = false; thread.join() }
}

object HostSpeed {
  val KernelSteps = 2000000
  /** The kernel's CPU time on the reference core, by definition. */
  val RefKernelMs = 4.0
}
