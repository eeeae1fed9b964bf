package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Subscription facade mirroring the reference's user-facing API
  * (`examples/grpc_example.rs`: client config + protocol list +
  * account-include filter + EventTypeFilter + event callback):
  *
  *   - `includeEventTypes` ≙ `EventTypeFilter { include }`
  *   - `includeProtocols` ≙ the example's protocols list
  *   - `includeUsers` ≙ `account_include` wallet filter
  *   - `onBatch` callback ≙ `create_event_callback()` (batch-at-a-time
  *     instead of event-at-a-time — the set-oriented equivalent)
  *   - `enableMetrics` ≙ `config.enable_metrics`: publishes per-batch
  *     row counts through a named `observe()` metric, the declarative
  *     analog of the reference's atomic counters
  *   - `maxFilesPerTrigger` ≙ bounded-queue backpressure
  */
final case class SubscriptionConfig(
    includeEventTypes: Seq[String] = Nil,
    includeUsers: Seq[Long] = Nil,
    /** Protocol include-list (the example's `vec![Protocol::PumpFun]`);
      * applied when the frame carries a `protocol` column (registry
      * dispatch output), ignored otherwise. */
    includeProtocols: Seq[String] = Nil,
    watermark: String = "1 hour",
    enableMetrics: Boolean = false,
    checkpointDir: Option[String] = None,
    /** Trigger cadence; 0 = re-trigger as soon as the last batch ends. */
    triggerIntervalMs: Long = 0L,
    /** Per-trigger ingest bound for file sources (`maxFilesPerTrigger`) —
      * the bounded-queue `permits` analog; None = unbounded batches. */
    maxFilesPerTrigger: Option[Int] = None)

object SubscriptionConfig {
  /** Reference `config.rs:151` `high_throughput()`: favor volume over
    * latency — big batches (no per-trigger bound), a coarser trigger so
    * each micro-batch amortizes scheduling, and a short watermark (the
    * Drop backpressure strategy: late stragglers are shed rather than
    * held for). */
  def highThroughput: SubscriptionConfig = SubscriptionConfig(
    triggerIntervalMs = 1000L,
    maxFilesPerTrigger = None,
    watermark = "10 minutes")

  /** Reference `config.rs:174` `low_latency()`: favor freshness and
    * losslessness — immediate re-trigger, small bounded batches so one
    * burst cannot delay the next result, and a long watermark (the Block
    * strategy: nothing is shed). */
  def lowLatency: SubscriptionConfig = SubscriptionConfig(
    triggerIntervalMs = 0L,
    maxFilesPerTrigger = Some(1),
    watermark = "24 hours")
}

object EventSubscription {
  val MetricName = "graft_subscription"

  /** Apply the subscription filters to a (streaming or batch) event
    * frame — the pure, testable core. */
  def filtered(events: DataFrame, config: SubscriptionConfig): DataFrame = {
    val typed =
      if (config.includeEventTypes.isEmpty) events
      else events.filter(col("event_type").isin(config.includeEventTypes: _*))
    val scoped0 =
      if (config.includeUsers.isEmpty) typed
      else typed.filter(col("user_id").isin(config.includeUsers: _*))
    val scoped =
      if (config.includeProtocols.isEmpty ||
        !scoped0.columns.contains("protocol")) scoped0
      else scoped0.filter(col("protocol").isin(config.includeProtocols: _*))
    if (config.enableMetrics)
      scoped.observe(MetricName, count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
    else scoped
  }

  /** Start the subscription: filters → watermark → foreachBatch callback.
    * `maxFilesPerTrigger` must be set where the source is read (it is a
    * read option); [[readEvents]] wires it for file sources. */
  def subscribe(events: DataFrame, config: SubscriptionConfig)(
      onBatch: (DataFrame, Long) => Unit): StreamingQuery = {
    val src = filtered(events, config).withWatermark("ts", config.watermark)
    val writer = src.writeStream
      .trigger(Trigger.ProcessingTime(config.triggerIntervalMs))
      .foreachBatch(onBatch)
    config.checkpointDir
      .map(writer.option("checkpointLocation", _))
      .getOrElse(writer)
      .start()
  }

  /** A18: per-subscription drop accounting, folded from the query's
    * recent progress — the live analog of the reference's dropped-event
    * counters (`metrics.rs` bounded-queue drop accounting): every
    * stateful operator counts the rows it SHED for arriving behind the
    * watermark (`numRowsDroppedByWatermark`) and reports them per
    * trigger, next to the total ingest the observe() metric carries.
    * `recentProgress` is bounded
    * (`spark.sql.streaming.numRecentProgressUpdates`, default 100), so
    * long-running subscriptions should poll per trigger (e.g. from a
    * `StreamingQueryListener`) for lossless accounting. */
  final case class DropStats(
      batches: Long, inputRows: Long, droppedLateRows: Long)

  def dropStats(q: StreamingQuery): DropStats = {
    val ps = q.recentProgress
    DropStats(
      batches = ps.length.toLong,
      inputRows = ps.map(_.numInputRows).sum,
      droppedLateRows =
        ps.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum)
  }

  /** Windowed subscription: filters → watermark → per-(window, type)
    * counts → callback. The stateful aggregate is where late-arrival
    * shedding actually happens — rows behind the watermark are dropped
    * there and counted into [[dropStats]]; the plain [[subscribe]] path
    * has no stateful operator, so nothing is ever shed from it. */
  def subscribeWindowed(events: DataFrame, config: SubscriptionConfig,
      windowLen: String = "1 hour")(
      onBatch: (DataFrame, Long) => Unit): StreamingQuery = {
    val src = filtered(events, config)
      .withWatermark("ts", config.watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val writer = src.writeStream
      .outputMode("update")
      .trigger(Trigger.ProcessingTime(config.triggerIntervalMs))
      .foreachBatch(onBatch)
    config.checkpointDir
      .map(writer.option("checkpointLocation", _))
      .getOrElse(writer)
      .start()
  }

  /** Open a parquet event directory as the subscription's source with the
    * config's ingest bound applied — the file-source analog of the
    * reference's per-connection bounded queue. */
  def readEvents(spark: org.apache.spark.sql.SparkSession, dir: String,
      config: SubscriptionConfig,
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val r = spark.readStream.schema(schema)
    config.maxFilesPerTrigger
      .map(n => r.option("maxFilesPerTrigger", n))
      .getOrElse(r)
      .parquet(dir)
  }

  /** A55 oracled readout: both presets drain the SAME fixed-4-file
    * capture to completion; the per-trigger ingest bound is what
    * differs, so `high_throughput` (unbounded batches) must take all 4
    * files in ONE micro-batch and `low_latency` (maxFilesPerTrigger=1)
    * must take exactly 4 — with identical total rows. The batch count
    * is the driver-visible shape of the reference's bounded-queue
    * `permits` knob, and it is SQL-predictable, which upgrades the
    * preset surface from spec-only to hash-oracled. */
  def presetBatchReadout(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val events = graft.Tables.events(spark, sfDir)
    val stage = graft.Scratch.dir("preset_stage")
    // the drain only watermarks on ts and counts rows (both presets run
    // with empty include-lists), so the capture stages ONE column —
    // same 4 files, same row count, ~6x fewer bytes through the
    // round-robin exchange and both AvailableNow scans (guide §2.3:
    // project before the exchange)
    events.select(col("ts")).repartition(4)
      .write.mode("overwrite").parquet(stage)
    val schema = spark.read.parquet(stage).schema
    def drain(preset: String, config: SubscriptionConfig): (String, Long, Long) = {
      val batches = new java.util.concurrent.atomic.AtomicLong(0)
      val rows = new java.util.concurrent.atomic.AtomicLong(0)
      val q = readEvents(spark, stage, config, schema).writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batches.incrementAndGet()
          rows.addAndGet(batch.count())
          ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      (preset, batches.get(), rows.get())
    }
    val out = Seq(
      drain("high_throughput", SubscriptionConfig.highThroughput),
      drain("low_latency", SubscriptionConfig.lowLatency))
    import spark.implicits._
    out.toDF("preset", "n_batches", "n_rows")
  }
}
