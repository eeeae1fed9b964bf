package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry

/** Closed loop, one client: passes over a fixed list of oracled
  * queries, each timed as its `SparkEntry.queries` call (which may run
  * eager jobs while constructing the DataFrame) plus the write of its
  * output. */
object QueryBench {
  /** Event-table queries: eager graph loops (pagerank, taint,
    * communities), shuffle-heavy trade screens and the registry/codec
    * decode paths. */
  val Wallet: Seq[String] = Seq(
    "q_events_pagerank", "q_events_taint", "q_events_communities",
    "q_events_wash_pairs", "q_events_sandwich", "q_events_copy_trading",
    "q_events_session_30m", "q_events_ohlc_1h", "q_events_asof_merge",
    "q_events_value_stats", "q_events_registry_dispatch",
    "q_events_decode_health")

  /** One query's build and run seconds, and the host's slowdown factor
    * meanwhile ([[HostSpeed.factor]]). */
  final case class Exec(query: String, buildS: Double, runS: Double,
      slowdown: Double, error: Option[String]) {
    def totalS: Double = buildS + runS
    /** [[totalS]] at the reference host speed. */
    def refS: Double = totalS / slowdown
  }

  /** Run one query: build it, then write it with `write`. */
  def exec(spark: SparkSession, dir: String, q: String, tracer: Tracer,
      parent: Long, host: HostSpeed, write: DataFrame => Unit): Exec = {
    val sc = spark.sparkContext
    try tracer.span("query", parent, Map("query" -> q)) { qid =>
      val m0 = host.mark()
      val t0 = m0.ns
      val df = tracer.span("query_build", qid) { id =>
        if (tracer.enabled) sc.setJobGroup(Tracer.group(q, "build", id), q)
        SparkEntry.queries(q)(spark, dir)
      }
      val t1 = System.nanoTime()
      tracer.span("query_run", qid) { id =>
        if (tracer.enabled) sc.setJobGroup(Tracer.group(q, "run", id), q)
        write(df)
      }
      val m1 = host.mark()
      Exec(q, (t1 - t0) / 1e9, (m1.ns - t1) / 1e9, host.factor(m0, m1), None)
    } catch { case e: Throwable =>
      System.err.println(s"[bench] $q failed: $e")
      Exec(q, 0, 0, 1.0, Some(s"${e.getClass.getName}: ${e.getMessage}"))
    } finally if (tracer.enabled) sc.clearJobGroup()
  }

  def pass(spark: SparkSession, dir: String, qs: Seq[String], tracer: Tracer,
      host: HostSpeed, write: String => DataFrame => Unit): Seq[Exec] =
    tracer.span("pass", 0) { id =>
      tracer.current.set(id)
      qs.map(q => exec(spark, dir, q, tracer, id, host, write(q)))
    }

  /** One measured pass: cold, right after set-up. It writes each output
    * as parquet for the oracle check. With tracing on, the listeners
    * watch this pass. */
  def run(opts: Opts, tracer: Tracer): Outcome = {
    val host = new HostSpeed
    val qs = Wallet
    val dir = opts.work.resolve("tables").toString
    var rows = 0L
    val (spark, rawSetupS, setupS) = Main.setup(opts, 0.0, host,
      s => rows = graft.Tables.events(s, dir).count())
    Clock.mark("set-up done")
    val out = java.nio.file.Files.createDirectories(opts.work.resolve("out"))
    val ls = if (tracer.enabled) Some(new Listeners(spark, tracer)) else None
    ls.foreach(_.attach())
    val t0 = System.nanoTime()
    val m0 = host.mark()
    val first = pass(spark, dir, qs, tracer, host, q => df =>
      df.write.mode("overwrite").parquet(out.resolve(q).toString))
    val h = host.factor(m0, host.mark())
    host.stop()
    val layers = ls.map { l =>
      l.detach()
      val ms = l.planTrace.phaseMs
      first.flatMap(e => Seq(
        s"operators.${e.query}.build_s" -> (e.buildS, "s"),
        s"operators.${e.query}.run_s" -> (e.runS, "s"))).toMap ++
        Seq("analysis", "optimization", "planning").map(k =>
          s"plans.${k}_ms" -> (ms.getOrElse(k, 0.0), "ms")) ++
        l.sparkTrace.phases("build").metrics("spark.build") ++
        l.sparkTrace.phases("run").metrics("spark.run") +
        ("bench.trace_overhead_share" -> (l.overheadShare(t0), "ratio"))
    }.getOrElse(Map.empty)
    Clock.mark("checked pass done")
    Json.write(out.resolve("oracle_sql.json"),
      qs.map(q => q -> SparkEntry.oracleSql(q)).toMap)
    val passS = first.map(_.totalS).sum
    val peak = Session.peakRssMb()
    spark.stop()
    val ok = first.filter(_.error.isEmpty)
    // timed metrics at the reference host speed, each query scaled by
    // the host's slowdown while it ran; as measured under raw.*
    def timed(secs: Exec => Double) = {
      val latMs = ok.map(secs(_) * 1000)
      Map(
        "latency_p50_ms" -> (Stats.hd(latMs, 0.5), "ms"),
        "latency_p99_ms" -> (Stats.hd(latMs, 0.99), "ms"),
        "events_per_s" -> (rows * ok.size / ok.map(secs).sum, "1/s"),
        "pass_s" -> (first.map(secs).sum, "s"))
    }
    Outcome(first.size, first.size - ok.size,
      Map(
        "setup_s" -> (setupS, "s"),
        "peak_rss_mb" -> (peak, "MB"),
        "bench.host_slowdown" -> (h, "ratio")) ++
        timed(_.refS) ++ (timed(_.totalS) + ("setup_s" -> (rawSetupS, "s")))
          .map { case (k, v) => s"raw.$k" -> v } ++ layers,
      Map("pass_s" -> passS,
        "first_pass_ok" -> ok.map(_.query),
        "errors" -> first.flatMap(e => e.error.map(m => e.query -> m)).toMap,
        "query_s" -> first.map(e => e.query -> e.totalS).toMap,
        "query_slowdown" -> first.map(e => e.query -> e.slowdown).toMap))
  }
}
