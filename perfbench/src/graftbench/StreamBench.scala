package graftbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import graft.sources.ProtocolRegistry
import graft.streaming.{EventStreamPipelines, EventSubscription, SubscriptionConfig}

/** The wire-to-metrics pipeline of `live_tail` (run live, and drained
  * with AvailableNow in its set-up and traced run): graft-wire frames →
  * registry dispatch → signature dedup → subscription include-list and
  * metrics → a callback emitting per-(file, minute, kind) counts. */
object Pipeline {
  private val layouts = ProtocolRegistry.registry.flatMap(_.layouts)
  private val Ids = Set("event_id", "pool", "user_id", "ts_us", "slot", "parent_slot")

  private def fields(name: String): Seq[Column] =
    layouts.filter(_.fields.exists(_.name == name)).map(l => col(s"${l.kind}.$name"))

  /** One row per decoded frame that carries an event time. */
  def events(frames: DataFrame): DataFrame = {
    val value = coalesce(layouts.flatMap(l => l.fields
      .find(f => (f.kind == "u64" || f.kind == "u128") && !Ids(f.name))
      .map(f => col(s"${l.kind}.${f.name}").cast("double"))): _*) / 100
    val tsUs = coalesce(fields("ts_us") :+ (col("block_meta.block_time_ms") * 1000): _*)
    ProtocolRegistry.dispatch(frames)
      .filter(col("event_kind") =!= "unknown")
      .select(col("file"),
        coalesce(fields("event_id") ++ fields("slot"): _*).as("event_id"),
        col("event_kind").as("event_type"), col("protocol"),
        coalesce(fields("user_id"): _*).as("user_id"),
        value.as("value"), timestamp_micros(tsUs).as("ts"))
      .filter(col("ts").isNotNull)
  }

  val subscription: SubscriptionConfig = SubscriptionConfig(
    includeEventTypes = layouts.map(_.kind)
      .filterNot(k => WireGen.Unsubscribed(k) || WireGen.Untimed(k)),
    watermark = WireGen.Watermark,
    enableMetrics = true)

  def subscribed(frames: DataFrame): DataFrame =
    EventSubscription.filtered(
      EventStreamPipelines.dedupStream(events(frames), WireGen.Watermark),
      subscription)

  /** The callback's aggregate: (file, minute, kind, n) rows of a batch. */
  def batchCounts(batch: DataFrame): Array[(String, Long, String, Long)] =
    batch.groupBy(col("file"), expr("unix_micros(ts) div 60000000").as("minute"),
        col("event_type"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => (fileName(r.getString(0)), r.getLong(1), r.getString(2), r.getLong(3)))

  private def fileName(path: String): String = path.substring(path.lastIndexOf('/') + 1)

  /** Accumulates what the callback emitted. */
  final class Sink {
    val counts = new ConcurrentHashMap[(Long, String), Long]()
    /** First emission per capture file, System.nanoTime. */
    val emitted = new ConcurrentHashMap[String, Long]()
    @volatile var rows = 0L

    def callback(batch: DataFrame, id: Long): Unit = {
      val rs = batchCounts(batch)
      val t = System.nanoTime()
      rs.foreach { case (f, m, k, n) =>
        counts.merge((m, k), n, (a: Long, b: Long) => a + b)
        emitted.putIfAbsent(f, t)
        rows += n
      }
    }

    /** (minute, kind) cells whose emitted count differs from `want`:
      * (cell, emitted, expected). */
    def mismatches(want: Map[(Long, String), Long]): Seq[((Long, String), Long, Long)] = {
      val got = counts.asScala.toMap
      (got.keySet ++ want.keySet).toSeq.sorted
        .map(k => (k, got.getOrElse(k, 0L), want.getOrElse(k, 0L)))
        .filter { case (_, g, w) => g != w }
    }
  }

  def start(spark: SparkSession, dir: Path, ckpt: Path, trigger: Trigger,
      sink: Sink): StreamingQuery =
    subscribed(spark.readStream.format("graft-wire").load(dir.toString))
      .writeStream
      .option("checkpointLocation", ckpt.toString)
      .trigger(trigger)
      .foreachBatch((b: DataFrame, id: Long) => sink.callback(b, id))
      .start()
}

/** Per-layer numbers of a streaming query, from the progress events a
  * StreamingQueryListener received. */
object StreamLayers {
  private def dur(ps: Seq[StreamingQueryProgress], k: String): Seq[Double] =
    ps.flatMap(p => Option(p.durationMs.get(k)).map(_.doubleValue))

  private def files(offsetJson: String): Int =
    if (offsetJson == null) 0 else "\"".r.findAllMatchIn(offsetJson).size / 2

  def startMs(p: StreamingQueryProgress): Double =
    java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble

  /** `all` holds every progress event of `q`. The per-trigger numbers
    * cover the triggers that started at or after `fromMs`, the measured
    * window; the telemetry cross-check covers all of them. */
  def metrics(all: Seq[StreamingQueryProgress], fromMs: Double, ckpt: Path,
      q: StreamingQuery): Map[String, (Double, String)] = {
    val ps = all.filter(startMs(_) >= fromMs)
    val withData = ps.filter(_.numInputRows > 0)
    val state = ps.filter(_.stateOperators.nonEmpty)
    val last = state.lastOption.map(_.stateOperators.toSeq).getOrElse(Nil)
    val offsetLog = Option(ckpt.resolve("offsets").toFile.listFiles())
      .getOrElse(Array.empty).filter(_.getName.forall(_.isDigit))
      .sortBy(_.getName.toLong).lastOption.map(_.length.toDouble).getOrElse(0.0)
    val inputRows = all.map(_.numInputRows).sum
    Map(
      "wire.latest_offset_ms" -> (Stats.medianOr0(dur(ps, "latestOffset")), "ms"),
      "wire.get_batch_ms" -> (Stats.medianOr0(dur(withData, "getBatch")), "ms"),
      "wire.offset_log_bytes_last" -> (offsetLog, "bytes"),
      "streaming.trigger_ms_p50" -> (Stats.medianOr0(dur(withData, "triggerExecution")), "ms"),
      "streaming.trigger_ms_p99" -> (Stats.pctOr0(dur(withData, "triggerExecution"), 99), "ms"),
      "streaming.add_batch_ms_p50" -> (Stats.medianOr0(dur(withData, "addBatch")), "ms"),
      "streaming.query_planning_ms_p50" -> (Stats.medianOr0(dur(withData, "queryPlanning")), "ms"),
      "streaming.commit_ms_p50" -> (Stats.medianOr0(
        withData.map(p => Seq("walCommit", "commitOffsets")
          .flatMap(k => Option(p.durationMs.get(k)).map(_.doubleValue)).sum)), "ms"),
      "streaming.backlog_files_max" -> (withData.map(p => p.sources.map(s =>
        files(s.endOffset) - files(s.startOffset)).sum.toDouble)
        .foldLeft(0.0)(math.max), "count"),
      "streaming.state_rows_last" -> (last.map(_.numRowsTotal).sum.toDouble, "count"),
      "streaming.state_mem_bytes_last" -> (last.map(_.memoryUsedBytes).sum.toDouble, "bytes"),
      "streaming.state_commit_ms_p50" -> (Stats.medianOr0(
        state.map(_.stateOperators.map(_.commitTimeMs).sum.toDouble)), "ms"),
      "streaming.dropped_late_rows" -> (ps.flatMap(_.stateOperators)
        .map(_.numRowsDroppedByWatermark).sum.toDouble, "count"),
      "streaming.dropstats_missing_rows" ->
        ((inputRows - EventSubscription.dropStats(q).inputRows).toDouble, "count"),
      "streaming.triggers" -> (ps.size.toDouble, "count"))
  }

  /** Trigger spans with their `durationMs` parts laid out in execution
    * order (progress events carry durations, not start times). */
  def spans(tracer: Tracer, ps: Seq[StreamingQueryProgress], parent: Long): Unit =
    ps.foreach { p =>
      val t0 = startMs(p)
      val total = Option(p.durationMs.get("triggerExecution")).map(_.doubleValue).getOrElse(0.0)
      val id = tracer.nextId()
      tracer.add(Span(id, parent, "trigger", t0, t0 + total,
        Map("batch_id" -> p.batchId, "input_rows" -> p.numInputRows)))
      var t = t0
      Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch",
          "commitOffsets").foreach { k =>
        Option(p.durationMs.get(k)).map(_.doubleValue).foreach { d =>
          tracer.add(Span(tracer.nextId(), id, s"trigger.$k", t, t + d))
          t += d
        }
      }
    }
}

object StreamBench {
  val FilesPerSecond = 20
  val FramesPerLiveFile = 100
  /** Older capture files already in the live directory when the stream
    * starts. Its first trigger takes them, so in the measured window of
    * `--seconds 14` the source lists 1,220 to 1,500 files per trigger. */
  val BacklogFiles = 1160
  /** Seconds of files fed on the trigger cadence before the measured
    * ones: three triggers, after which trigger times stop falling. */
  val WarmSeconds = 6
  /** The live stream's trigger interval. Spark fires a processing-time
    * trigger on wall-clock multiples of it, and the feeder starts just
    * after one, so every trigger takes the 40 files of one interval. A
    * trigger of 40 files takes about 1.1 s on 4 cores, so the cadence
    * holds while the host is up to 80% slower. */
  val TriggerMs = 2000L
  /** Delay of a feed's first file after a trigger boundary. */
  val FeedOffsetMs = 25L

  /** One drain: wall time, events emitted, output check, and the host's
    * slowdown factor meanwhile ([[HostSpeed.factor]]). */
  final case class Drain(seconds: Double, rows: Long, ok: Boolean, slowdown: Double) {
    def rate: Double = rows / seconds
  }

  /** Drain everything in `dir` with AvailableNow on a fresh checkpoint,
    * as after an outage, and check the emitted counts against `want`. */
  def drain(spark: SparkSession, dir: Path, ckpt: Path,
      want: Map[(Long, String), Long], host: HostSpeed): Drain = {
    val sink = new Pipeline.Sink
    val m0 = host.mark()
    val q = Pipeline.start(spark, dir, ckpt, Trigger.AvailableNow(), sink)
    q.awaitTermination()
    val m1 = host.mark()
    val secs = (m1.ns - m0.ns) / 1e9
    q.exception.foreach(e => throw e)
    Session.deleteTree(ckpt)
    val bad = sink.mismatches(want)
    bad.take(5).foreach { case (cell, got, w) =>
      System.err.println(s"[bench] drain cell $cell: emitted $got, expected $w") }
    Drain(secs, sink.rows, bad.isEmpty, host.factor(m0, m1))
  }

  /** `waitMs`/`procMs`: per measured file, from its arrival to the start
    * of the trigger planned for it, and from there to the return of the
    * callback that emitted it. */
  final case class LivePhase(waitMs: Seq[Double], procMs: Seq[Double],
      slowdown: Double, genLagMs: Seq[Double], attempted: Long, failed: Long, mismatches: Int,
      windowStartMs: Double, q: StreamingQuery, live: Path, ckpt: Path, tally: Tally)

  /** Open loop: [[BacklogFiles]] older capture files wait in the live
    * directory, and the stream's first trigger takes them. Then the
    * calling thread renames staged capture files into it at
    * [[FilesPerSecond]]; each file's latency runs from its scheduled
    * arrival to the return of the callback that emitted it. The backlog
    * and the first [[WarmSeconds]] of files are warm-up and are not
    * timed; they also advance the watermark, so later too-late events
    * are shed. */
  def livePhase(spark: SparkSession, root: Path, gen: WireGen, seconds: Int,
      host: HostSpeed): LivePhase = {
    val staged = Files.createDirectories(root.resolve("staged"))
    val live = Files.createDirectories(root.resolve("live"))
    val ckpt = root.resolve("ckpt")
    val tally = new Tally
    val nWarm = BacklogFiles + FilesPerSecond * WarmSeconds
    val spanUs = 1000000L
    val names = (0 until nWarm + FilesPerSecond * seconds).map(i => f"cap-$i%06d.bin")
    names.zipWithIndex.foreach { case (n, i) =>
      gen.writeFile((if (i < BacklogFiles) live else staged).resolve(n), FramesPerLiveFile,
        WireGen.T0Us + i * spanUs, spanUs, tooLate = i >= nWarm, tally)
    }
    Clock.mark(s"${names.size} capture files written")
    val sink = new Pipeline.Sink
    val q = Pipeline.start(spark, live, ckpt, Trigger.ProcessingTime(TriggerMs), sink)
    def feed(batch: Seq[String], t0: Long): (Map[String, Long], Seq[Double]) = {
      val due = mutable.Map.empty[String, Long]
      val lag = mutable.ArrayBuffer.empty[Double]
      batch.zipWithIndex.foreach { case (n, i) =>
        val at = t0 + (i * 1e9 / FilesPerSecond).toLong
        var now = System.nanoTime()
        while (now < at) {
          java.util.concurrent.locks.LockSupport.parkNanos(at - now)
          now = System.nanoTime()
        }
        Files.move(staged.resolve(n), live.resolve(n), StandardCopyOption.ATOMIC_MOVE)
        due(n) = at
        lag += (System.nanoTime() - at) / 1e6
      }
      (due.toMap, lag.toSeq)
    }
    def await(batch: Seq[String], timeoutS: Double): Unit = {
      val t0 = System.nanoTime()
      while (!batch.forall(sink.emitted.containsKey) &&
          Clock.secondsSince(t0) < timeoutS && q.exception.isEmpty)
        Thread.sleep(5)
      q.exception.foreach(e => throw e)
    }
    try {
      val (backlog, fed) = names.splitAt(BacklogFiles)
      val (warmNames, measNames) = fed.splitAt(nWarm - BacklogFiles)
      await(backlog, 60)
      require(backlog.forall(sink.emitted.containsKey), "backlog files not emitted")
      Clock.mark("backlog emitted")
      // the backlog's garbage must not be collected inside the window
      System.gc()
      val nowMs = System.currentTimeMillis()
      val feedMs = (nowMs / TriggerMs + 1) * TriggerMs + FeedOffsetMs
      val t0 = System.nanoTime() + (feedMs - nowMs) * 1000000L
      val windowStartMs = (feedMs + WarmSeconds * 1000L).toDouble
      // nanoTime of the trigger boundary that starts the measured feed
      val windowNs = t0 + (WarmSeconds * 1000L - FeedOffsetMs) * 1000000L
      feed(warmNames, t0)
      val m0 = host.mark()
      val (due, lag) = feed(measNames, t0 + WarmSeconds * 1000000000L)
      await(measNames, 30)
      val m1 = host.mark()
      require(warmNames.forall(sink.emitted.containsKey), "warm-up files not emitted")
      val emittedMeas = measNames.filter(sink.emitted.containsKey)
      // the k-th measured trigger takes the files of the k-th interval
      val perTrigger = (FilesPerSecond * TriggerMs / 1000).toInt
      def start(i: Int): Long = windowNs + (i / perTrigger + 1) * TriggerMs * 1000000L
      val timed = measNames.zipWithIndex.filter { case (n, _) => sink.emitted.containsKey(n) }
      val waits = timed.map { case (n, i) => (start(i) - due(n)) / 1e6 }
      val procs = timed.map { case (n, i) => (sink.emitted.get(n) - start(i)) / 1e6 }
      val mism = sink.mismatches(tally.expected(shed = true))
      mism.take(5).foreach { case (cell, got, want) =>
        System.err.println(s"[bench] cell $cell: emitted $got, expected $want") }
      LivePhase(waits, procs, host.factor(m0, m1), lag, attempted = measNames.size,
        failed = if (mism.nonEmpty) measNames.size else measNames.size - emittedMeas.size,
        mismatches = mism.size, windowStartMs = windowStartMs, q = q, live = live,
        ckpt = ckpt, tally = tally)
    } finally q.stop()
  }

  /** Concatenate the capture files of `from` into one file per core in
    * `to` (frames are self-delimiting, so the result is a valid capture
    * with the same frames): batch planning builds a Hadoop configuration
    * per file, which would dominate a batch read of many small files. */
  def compact(from: Path, to: Path, cores: Int): Path = {
    Files.createDirectories(to)
    val fs = from.toFile.listFiles().map(_.toPath).sorted
    fs.grouped(math.max(1, -(-fs.length / cores))).zipWithIndex.foreach { case (g, i) =>
      val out = Files.newOutputStream(to.resolve(f"cap-$i%06d.bin"))
      try g.foreach(f => Files.copy(f, out)) finally out.close()
    }
    to
  }

  /** Drains of `dir`, each after a full GC and checked against `want`,
    * and their median rate of emitted events per second at the
    * reference host speed. */
  def drains(spark: SparkSession, dir: Path, ckpt: Path,
      want: Map[(Long, String), Long], n: Int, host: HostSpeed): (Seq[Drain], Double) = {
    val ds = (1 to n).map { _ => System.gc(); drain(spark, dir, ckpt, want, host) }
    (ds, Stats.median(ds.map(d => d.rate * d.slowdown)))
  }

  def liveTail(opts: Opts, tracer: Tracer): Outcome = {
    val host = new HostSpeed
    val t0 = System.nanoTime()
    // the set-up drain gets its own generator: duplicates in the live
    // capture must only replay frames the live stream itself has seen
    val warmGen = new WireGen(~opts.seed)
    val warmDir = Files.createDirectories(opts.work.resolve("warm"))
    val warmTally = new Tally
    (0 until 4).foreach { i =>
      warmGen.writeFile(warmDir.resolve(f"warm-$i%02d.bin"), 2000, WireGen.T0Us,
        60000000L, tooLate = true, warmTally)
    }
    val genS = Clock.secondsSince(t0)
    val warmCkpt = opts.work.resolve("warm-ckpt")
    val (spark0, rawSetupS, setupS) = Main.setup(opts, genS, host, s => require(
      drain(s, warmDir, warmCkpt, warmTally.expected(shed = false), host).ok,
      "set-up drain: wrong counts"))
    var spark = spark0
    Clock.mark("set-up done")
    // with tracing on, the listeners watch the live phase only
    val ls = if (tracer.enabled) Some(new Listeners(spark, tracer)) else None
    ls.foreach(_.attach())
    val tracedFrom = System.nanoTime()
    var layers = Map.empty[String, (Double, String)]
    val a = tracer.span("window", 0) { id =>
      tracer.current.set(id)
      val r = livePhase(spark, opts.work.resolve("stream"), new WireGen(opts.seed), opts.seconds,
        host)
      ls.foreach { l =>
        l.detach()
        val ps = l.streamTrace.all.filter(_.id == r.q.id)
        StreamLayers.spans(tracer, ps, id)
        layers = StreamLayers.metrics(ps, r.windowStartMs, r.ckpt, r.q) ++
          l.sparkTrace.phases("run").metrics("spark.run") +
          ("bench.trace_overhead_share" -> (l.overheadShare(tracedFrom), "ratio"))
      }
      r
    }
    Clock.mark("live phase done")
    // the live capture drained again as a backlog after an outage, in
    // one batch, so the too-late events are emitted
    val capture = compact(a.live, opts.work.resolve("compact"), opts.cores)
    val want = a.tally.expected(shed = false)
    val ckpt = opts.work.resolve("drain-ckpt")
    // the first drain of this capture runs colder than the rest
    val (ds, drainRate) = drains(spark, capture, ckpt, want, 3, host)
    Clock.mark("drain done")
    var attempted = a.attempted + ds.size
    var failed = a.failed + ds.count(!_.ok)
    if (tracer.enabled) {
      // the wire and registry layers alone, on the compacted capture: a
      // read-only scan, then the same scan through dispatch; then the
      // whole pipeline drained on one core
      def timed(body: => Unit): Double = {
        val t = System.nanoTime(); body; Clock.secondsSince(t)
      }
      val wire = () => spark.read.format("graft-wire").load(capture.toString)
      val scan = Stats.median((1 to 3).map(_ => timed(
        wire().write.format("noop").mode("overwrite").save())))
      val dispatch = Stats.median((1 to 3).map(_ => timed(
        ProtocolRegistry.dispatch(wire()).write.format("noop").mode("overwrite").save())))
      val kinds = ProtocolRegistry.dispatch(wire())
        .agg(count(lit(1)), count(when(col("event_kind") =!= "unknown", 1))).head()
      spark.stop()
      spark = Session.open(1)
      val (one, oneRate) = drains(spark, capture, ckpt, want, 2, host)
      attempted += one.size
      failed += one.count(!_.ok)
      layers ++= Map(
        "wire.scan_s" -> (scan, "s"),
        "registry.dispatch_s" -> (dispatch - scan, "s"),
        "registry.decoded_share" -> (kinds.getLong(1).toDouble / kinds.getLong(0), "ratio"),
        "streaming.drain_speedup" -> (drainRate / oneRate, "ratio"),
        "bench.gen_lag_ms_p99" -> (Stats.pct(a.genLagMs, 99), "ms"))
    }
    val peak = Session.peakRssMb()
    spark.stop()
    host.stop()
    // timed metrics at the reference host speed, as measured under raw.*;
    // a file's wait for its trigger follows the fixed cadence, so only
    // the processing part is scaled
    val h = a.slowdown
    val latency = a.waitMs.zip(a.procMs).map { case (w, p) => w + p / h }
    val rawLatency = a.waitMs.zip(a.procMs).map { case (w, p) => w + p }
    val raw = Map(
      "latency_p50_ms" -> (Stats.hd(rawLatency, 0.5), "ms"),
      "latency_p99_ms" -> (Stats.hd(rawLatency, 0.99), "ms"),
      "events_per_s" -> (Stats.median(ds.map(_.rate)), "1/s"),
      "pass_s" -> (Stats.median(ds.map(_.seconds)), "s"),
      "setup_s" -> (rawSetupS, "s"))
    Outcome(attempted, failed,
      Map(
        "setup_s" -> (setupS, "s"),
        "peak_rss_mb" -> (peak, "MB"),
        "latency_p50_ms" -> (Stats.hd(latency, 0.5), "ms"),
        "latency_p99_ms" -> (Stats.hd(latency, 0.99), "ms"),
        "events_per_s" -> (drainRate, "1/s"),
        // one AvailableNow pass over the whole capture
        "pass_s" -> (Stats.median(ds.map(d => d.seconds / d.slowdown)), "s"),
        "bench.host_slowdown" -> (h, "ratio")) ++
        raw.map { case (k, v) => s"raw.$k" -> v } ++ layers,
      Map("latency_samples" -> latency.size,
        "cell_mismatches" -> a.mismatches,
        "gen_lag_ms_p99" -> Stats.pct(a.genLagMs, 99),
        "expected_emitted" -> a.tally.counted,
        "drain_s" -> ds.map(_.seconds), "drain_rows" -> ds.map(_.rows),
        "drain_slowdown" -> ds.map(_.slowdown),
        "offered_events_per_s" ->
          a.tally.counted.toDouble * FramesPerLiveFile * FilesPerSecond / a.tally.frames) ++
        a.tally.shares)
  }
}
