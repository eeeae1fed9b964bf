package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.Files

import org.apache.spark.sql.SparkSession

/** Benchmark JVM entry point (launched by run.py):
  *
  *   --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  *
  * Writes `<work>/result.json`: operation counts, metrics (name →
  * value, unit) and facts about the generated inputs; with `--trace 1`
  * also `<work>/spans.jsonl`. */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = Opts.parse(args)
    Files.createDirectories(opts.work)
    val tracer = new Tracer(opts.trace)
    val out = tracer.span("workload", 0, Map("workload" -> opts.workload)) { _ =>
      opts.workload match {
        case "live_tail" => StreamBench.liveTail(opts, tracer)
        case "wallet_analytics" => QueryBench.run(opts, tracer)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
    }
    val selfTimes =
      if (!tracer.enabled) Map.empty[String, (Double, String)]
      else {
        tracer.write(opts.work.resolve("spans.jsonl"))
        tracer.selfSeconds.map { case (k, v) => s"trace.self_s.$k" -> (v, "s") }
      }
    Json.write(opts.work.resolve("result.json"), Map(
      "attempted" -> out.attempted, "failed" -> out.failed,
      "metrics" -> (out.metrics ++ selfTimes).map { case (k, (v, u)) =>
        k -> Map("value" -> v, "unit" -> u) },
      "info" -> out.info))
    // Spark's non-daemon threads must not keep the JVM alive
    System.exit(0)
  }

  /** Open the session and run `warm`, the workload's first operation
    * on its input. Returns the session and the set-up time as measured
    * (from JVM start, minus `genSeconds` spent generating inputs before
    * it) and at the reference host speed. */
  def setup(opts: Opts, genSeconds: Double, host: HostSpeed,
      warm: SparkSession => Unit): (SparkSession, Double, Double) = {
    val s = Session.open(opts.cores)
    warm(s)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val secs = (System.currentTimeMillis() - jvmStartMs) / 1000.0 - genSeconds
    (s, secs, secs / host.factor(host.started, host.mark()))
  }
}
