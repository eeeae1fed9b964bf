package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Dataset, GraftBridge, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState, GroupStateTimeout, ListState, MapState, OutputMode, StatefulProcessor, StreamingQuery, TTLConfig, TimeMode, TimerValues, Trigger, ValueState}
import org.apache.spark.sql.types.StructType

import graft.Scratch

/** Structured Streaming re-expression of the reference's subscription
  * model (SURVEY §2 A15-A18): protocols × event-type filter × sink instead
  * of per-event callbacks (reference `src/streaming/common/subscription.rs`,
  * `grpc/subscription.rs`). Backpressure is declarative
  * (`maxFilesPerTrigger`/`maxOffsetsPerTrigger`) and late data is bounded
  * by watermarks — the analog of the reference's bounded queues +
  * dropped-event accounting.
  */
object EventStreamPipelines {

  /** Run `df` to completion under the AvailableNow trigger and return
    * what it produced. The executors write each micro-batch as parquet
    * into a fresh scratch directory — overwriting for Complete mode (the
    * last batch is the whole result), appending for Append and Update —
    * so no result is collected into the driver heap (a memory sink
    * OOM'd 85 GB on the ~95M-row sf100 session table) and nothing is
    * registered in the session. A drain that produced no batch reads
    * back as an empty frame of `df`'s schema. */
  private def drain(df: DataFrame, mode: OutputMode): DataFrame = {
    val dir = Scratch.dir("drain_")
    val writeMode =
      if (mode == OutputMode.Complete()) "overwrite" else "append"
    df.writeStream
      .outputMode(mode)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode(writeMode).parquet(dir)
      }
      .start()
      .awaitTermination()
    df.sparkSession.read.schema(df.schema).parquet(dir)
  }

  /** A clone of `spark` with the RocksDB state store provider that
    * transformWithState requires, so the session other builders share
    * never changes. */
  private def rocksDb(spark: SparkSession): SparkSession = {
    val s = GraftBridge.cloneSession(spark)
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    s
  }

  final case class SessionUpdate(
      user_id: Long, start_us: Long, end_us: Long, n_events: Int)

  /** Read the events table as a stream (file source; availableNow runs it
    * to completion, proving batch/stream semantic parity). */
  def eventsStream(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.eventsFrom(spark)(spark.readStream
      .schema(spark.read.parquet(s"$dir/events.parquet").schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir))

  /** A15: include-list filter → tumbling window counts, drained with
    * the availableNow trigger; returns the final table.
    * Identical semantics to the batch EventOps.tumbling1h on the filtered
    * stream — the driver oracle-checks it against plain SQL.
    */
  def windowedCountsAvailableNow(
      spark: SparkSession, dir: String, include: Seq[String]): DataFrame = {
    val agg = eventsStream(spark, dir)
      .filter(col("event_type").isin(include: _*))
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .count()
    drain(agg, OutputMode.Complete())
      .select(expr("unix_timestamp(window.start)").as("ws"),
        col("event_type"), col("count").as("n"))
  }

  /** Ingest analog of the reference's shred/grpc pipelines
    * (`streaming/shred_stream.rs`, `grpc/subscription.rs`): a raw binary
    * payload stream is discriminator-filtered, columnar-decoded, and
    * rolled into per-minute buy/sell counts — the full wire-to-analytics
    * path as one declarative streaming plan. Works on any streaming
    * source that yields a `payload` binary column (rate-synthesized,
    * memory, file, or a real tx feed).
    */
  def decodedTradeMetrics(payloads: DataFrame): DataFrame =
    // decodeTrade guards discriminator AND length: truncated frames on
    // untrusted wire data are skipped, never fail the stream (reference
    // length-checks every read, pumpfun/parser.rs:120-154)
    graft.sources.EventCodec.decodeTrade(payloads)
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 minute"), col("is_buy"))
      .agg(count(lit(1)).as("n"), sum("amount_cents").as("cents"))
      .select(expr("unix_timestamp(window.start)").as("ws"), col("is_buy"),
        col("n"), col("cents"))

  /** A33c: streaming wire EGRESS — the publish side of the reference's
    * pipeline (decoded events re-encoded and shipped downstream). The
    * event stream encodes to the borsh wire format and lands as framed
    * files via `foreachBatch` + the DSv2 frame write
    * (`GraftWireWriter.writeFrames`), one directory per micro-batch id:
    * re-running a batch overwrites its own directory and nothing else, which is the idempotent-sink contract
    * exactly-once delivery needs. Returns the decoded read-back of
    * everything written (≡ the events table; driver oracle-checks it).
    */
  def wireEgressAvailableNow(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.{EventCodec, wire}
    val outDir = Scratch.dir("wire_egress_")
    val q = EventCodec.encodeTrade(eventsStream(spark, dir))
      .select("payload")
      .writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        wire.GraftWireWriter.writeFrames(batch, s"$outDir/batch_$id")
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    EventCodec.decodeTrade(
      spark.read.format("graft-wire").load(s"$outDir/batch_*"))
  }

  /** A33b end-to-end: INCREMENTAL wire micro-batch ingest ≡ the batch
    * DSv2 read (shares q_events_wire_source's oracle SQL verbatim).
    * Capture files are staged and only half are present when the stream
    * starts; after the first drain the rest "arrive" (the capture
    * layer's file rotation) and a second drain must ingest exactly the
    * new files — offset tracking across REAL triggers, not a single
    * availableNow batch. Decoded rows land in an executor-written
    * parquet sink (never the driver); the read-back must equal the
    * batch decode of every frame. */
  def wireIncrementalIngest(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.sources.EventCodec
    import java.nio.file.Paths
    val stage = tradeCapture(spark, sfDir)
    val live = Scratch.dir("wire_live")
    val all = new java.io.File(stage).listFiles().map(_.toPath)
      .sortBy(_.toString).toSeq
    def arrive(ps: Seq[java.nio.file.Path]): Unit = ps.foreach(p =>
      Files.move(p, Paths.get(live).resolve(p.getFileName)))
    val (first, rest) = all.splitAt(math.max(1, all.size / 2))
    arrive(first)
    val sinkDir = Scratch.dir("wire_inc_sink")
    val ckpt = Scratch.dir("wire_inc_ckpt")
    val q = EventCodec.decodeTrade(
        spark.readStream.format("graft-wire").load(live))
      .writeStream
      .format("parquet")
      .option("path", sinkDir)
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append())
      .start()
    try {
      q.processAllAvailable() // trigger(s) over the first capture files
      arrive(rest)            // rotation: new files appear mid-stream
      q.processAllAvailable() // the next offset range ingests ONLY them
    } finally q.stop()
    spark.read.parquet(sinkDir)
  }

  /** A16: watermarked streaming dedup on the event signature — the
    * streaming analog of the reference's signature cache. State is bounded
    * by the watermark horizon. */
  def dedupStream(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicates("event_id")

  /** A16 parity query: streaming dedup (watermarked dropDuplicates on the
    * signature columns) rolled into per-type distinct counts, run to
    * completion with availableNow — oracle-checked against the batch
    * DISTINCT, proving the streaming dedup semantics match the reference's
    * signature-cache dedup (`common/event_processor.rs`). */
  def dedupCountsAvailableNow(spark: SparkSession, dir: String): DataFrame = {
    val deduped = eventsStream(spark, dir)
      .withColumn("minute_bucket", expr("unix_micros(ts) div 60000000"))
      .withWatermark("ts", "1 hour")
      .dropDuplicates("user_id", "event_type", "minute_bucket")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_distinct"))
    drain(deduped, OutputMode.Complete())
  }

  /** A16d: `dropDuplicatesWithinWatermark` — the OTHER streaming dedup
    * contract (Spark 3.5+): duplicates are only guaranteed collapsed
    * when they arrive within the watermark delay of each other, which
    * lets state evict by EVENT TIME rather than key count — the right
    * trade when duplicate bursts are time-local (the reference's
    * signature cache has the same bounded-recency semantics). Under a
    * single availableNow batch every duplicate is within the delay, so
    * the result is the exact batch DISTINCT and the driver can
    * hash-oracle the semantics. */
  def dedupWithinWatermarkAvailableNow(
      spark: SparkSession, dir: String): DataFrame = {
    val deduped = eventsStream(spark, dir)
      .withColumn("minute_bucket", expr("unix_micros(ts) div 60000000"))
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("user_id", "event_type",
        "minute_bucket")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_distinct"))
    drain(deduped, OutputMode.Complete())
  }

  /** A35 (north-star composite): the reference's whole pipeline as one
    * streaming query — framed wire bytes in (custom DSv2 micro-batch
    * source), discriminator-dispatch columnar decode, windowed buy/sell
    * metrics out — run to completion with availableNow and oracle-checked
    * against plain SQL over the events table. Wire capture happens with
    * the distributed frame writer first (one file per partition: the
    * files-as-connections layout the source parallelizes over).
    */
  def wireDecodedCountsAvailableNow(
      spark: SparkSession, sfDir: String): DataFrame = {
    val decoded = graft.sources.EventCodec.decodeTrade(
      spark.readStream.format("graft-wire").load(tradeCapture(spark, sfDir)))
    val agg = decoded
      .withColumn("ws", expr("(ts_us div 3600000000) * 3600"))
      .groupBy(col("ws"), col("is_buy"))
      .agg(count(lit(1)).as("n"), sum("amount_cents").as("cents"))
    drain(agg, OutputMode.Complete())
  }

  /** Capture the events table's trade frames into a fresh scratch
    * directory (its own per call: concurrent builders never share one)
    * and return the directory. */
  private[graft] def tradeCapture(spark: SparkSession, sfDir: String): String = {
    val dir = Scratch.dir("wire_s_")
    graft.sources.wire.GraftWireWriter.writeFrames(
      graft.sources.EventCodec.encodeTrade(
        graft.Tables.events(spark, sfDir)), dir)
    dir
  }

  /** A22 driven end to end: [[decodedTradeMetrics]] — the minute-
    * grained, watermarked, length-guarded wire-to-metrics pipeline —
    * fed by a real wire capture through the DSv2 source under
    * availableNow, and oracle-checked against plain SQL over the
    * events table. Output is (minutes-in-span × 2) rows — bounded by
    * the data's TIME SPAN, never its size. */
  def tradeMetricsAvailableNow(
      spark: SparkSession, sfDir: String): DataFrame = {
    val agg = decodedTradeMetrics(
      spark.readStream.format("graft-wire").load(tradeCapture(spark, sfDir)))
    drain(agg, OutputMode.Complete())
  }

  /** A61/A63 streaming composite: the REAL-layout registry on a live
    * wire. PumpFun and Bonk trade frames — which share one anchor
    * TradeEvent discriminator — stream in from two wire captures, get
    * program-tagged at the source (the reference knows the program from
    * the subscription connection), and ONE registry dispatch kernel call
    * per frame routes and decodes both protocols in the same micro-batch. The
    * aggregate is per (protocol, kind), availableNow ≡ the batch
    * round-trip oracle. The dispatch is stateless map-side work; only
    * the tiny (protocol, kind) aggregate keeps state.
    */
  def realDispatchAvailableNow(
      spark: SparkSession, sfDir: String): DataFrame = {
    import graft.sources.{ProtocolRegistry, RealLayouts, wire}
    import ProtocolRegistry.pubkey
    val ev = graft.Tables.events(spark, sfDir)
    val pfDir = Scratch.dir("wire_pf_")
    wire.GraftWireWriter.writeFrames(ProtocolRegistry.encode(
      ev.filter(col("event_type") === "purchase").select(
        expr("cast(round(value * 100, 0) as bigint)").as("sol_amount"),
        (col("event_id") * 3).as("token_amount"), lit(1L).as("is_buy"),
        expr("unix_micros(ts) div 1000000").as("timestamp"),
        (col("event_id") * 7).as("virtual_sol_reserves"),
        (col("event_id") * 11).as("virtual_token_reserves"),
        (col("event_id") * 13).as("real_sol_reserves"),
        (col("event_id") * 17).as("real_token_reserves"),
        lit(100L).as("fee_basis_points"), lit(0L).as("fee"),
        lit(30L).as("creator_fee_basis_points"), lit(0L).as("creator_fee"),
        lit(0L).as("track_volume"), lit(0L).as("total_unclaimed_tokens"),
        lit(0L).as("total_claimed_tokens"), lit(0L).as("current_sol_volume"),
        lit(0L).as("last_update_timestamp"),
        pubkey("user_id % 100").as("mint"), pubkey("user_id").as("user"),
        pubkey("1").as("fee_recipient"), pubkey("2").as("creator")),
      RealLayouts.PumpFun.layouts(0)), pfDir)
    val bkDir = Scratch.dir("wire_bk_")
    wire.GraftWireWriter.writeFrames(ProtocolRegistry.encode(
      ev.filter(col("event_type") === "view").select(
        pubkey("user_id % 100").as("pool_state"),
        (col("event_id") * 19).as("total_base_sell"),
        (col("event_id") * 3).as("virtual_base"),
        (col("event_id") * 5).as("virtual_quote"),
        (col("event_id") * 7).as("real_base_before"),
        (col("event_id") * 11).as("real_quote_before"),
        (col("event_id") * 13).as("real_base_after"),
        (col("event_id") * 17).as("real_quote_after"),
        expr("cast(round(value * 100, 0) as bigint)").as("amount_in"),
        (col("event_id") * 2 + 1).as("amount_out"),
        (col("event_id") % 97).as("protocol_fee"),
        (col("event_id") % 89).as("platform_fee"),
        (col("event_id") % 83).as("creator_fee"),
        (col("event_id") % 79).as("share_fee"),
        (col("event_id") % 2).as("trade_direction"),
        (col("event_id") % 3).as("pool_status"), lit(1L).as("exact_in")),
      RealLayouts.Bonk.layouts(0)), bkDir)
    val frames = spark.readStream.format("graft-wire").load(pfDir)
      .withColumn("program_id", lit(RealLayouts.PumpFunProgram))
      .union(spark.readStream.format("graft-wire").load(bkDir)
        .withColumn("program_id", lit(RealLayouts.BonkProgram)))
    val agg = ProtocolRegistry
      .dispatch(frames, Seq(RealLayouts.PumpFun, RealLayouts.Bonk),
        programCol = Some("program_id"))
      .groupBy("protocol", "event_kind")
      .agg(count(lit(1)).as("n"),
        sum(coalesce(col("pf_trade.sol_amount"),
          col("bonk_trade.amount_in"))).as("sum_amt"),
        sum(col("bonk_trade.trade_direction")).as("sum_dir"))
    drain(agg, OutputMode.Complete())
  }

  /** A43: stream-static broadcast enrichment — the live event feed joined
    * per micro-batch against a static dimension, the way the reference
    * enriches events from its account-state cache / bot-wallet list
    * (`common/event_processor.rs` consults static lookups per event). The
    * dim side (per-wallet first-seen cohort, computed in batch) is
    * `broadcast()`, so every micro-batch joins map-side — the stream never
    * shuffles on the join key, which is what keeps this cheap when the
    * stream is the 100 TB side. availableNow run-to-completion proves
    * parity with the equivalent batch join (driver oracle-checks vs SQL).
    */
  def streamStaticEnrichment(spark: SparkSession, dir: String): DataFrame = {
    val dim = graft.Tables.events(spark, dir)
      .groupBy("user_id")
      .agg(date_format(min(col("ts")), "yyyy-MM-dd").as("cohort_date"))
    val agg = eventsStream(spark, dir)
      .join(broadcast(dim), Seq("user_id"))
      .groupBy(col("cohort_date"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double")
          .as("total_value"))
    drain(agg, OutputMode.Complete())
  }

  /** A105b: STREAMING seasonal anomaly alerts — live hours scored
    * against the hour-of-day median baseline
    * ([[graft.operators.EventOps.seasonalAnomalies]]'s slot medians,
    * computed batch-side and broadcast into the stream: the
    * stream-static shape of [[streamStaticEnrichment]], with a tiny
    * types × 24 dimension). Streaming state is one count per
    * (window, type); the availableNow run proves exact parity with the
    * batch detector's DuckDB oracle — the same SQL pins both.
    */
  def seasonalAvailableNow(spark: SparkSession, dir: String,
      mult: Int = 2): DataFrame = {
    import graft.operators.EventOps
    val baseline = EventOps.seasonalBaseline(
      EventOps.hourlyCounts(graft.Tables.events(spark, dir)))
    val agg = eventsStream(spark, dir)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("c"))
    drain(agg, OutputMode.Complete())
      .withColumn("hb", expr("unix_timestamp(window.start) div 3600"))
      .withColumn("hod", expr("hb % 24"))
      .join(broadcast(baseline), Seq("event_type", "hod"))
      .filter(col("c") > col("baseline") * lit(mult))
      .select(col("event_type"), (col("hb") * 3600).as("hour"),
        col("hod"), col("c").as("n"), col("baseline"))
  }

  /** A12b: streaming OHLC — the reference's per-window price metrics as a
    * live windowed aggregate. open/close are `min_by`/`max_by` over the
    * total (ts, event_id) order, so the streaming aggregation state is one
    * row per (window, type) — no per-event buffering — and the availableNow
    * run proves exact parity with the batch OHLC oracle.
    */
  def ohlcAvailableNow(spark: SparkSession, dir: String): DataFrame = {
    val agg = eventsStream(spark, dir)
      .select(col("event_type"), col("ts"), col("event_id"),
        col("value").cast("decimal(18,2)").as("v"))
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        min_by(col("v"), struct(col("ts"), col("event_id"))).as("open_d"),
        max_by(col("v"), struct(col("ts"), col("event_id"))).as("close_d"),
        max("v").as("high_d"), min("v").as("low_d"),
        count(lit(1)).as("n"), sum("v").as("volume_d"))
    drain(agg, OutputMode.Complete())
      .select(expr("unix_timestamp(window.start)").as("hb"),
        col("event_type"),
        col("open_d").cast("double").as("open"),
        col("close_d").cast("double").as("close"),
        col("high_d").cast("double").as("high"),
        col("low_d").cast("double").as("low"),
        col("n"), col("volume_d").cast("double").as("volume"))
  }

  /** A8c: STREAMING native session windows — `session_window` under a
    * watermark, run to completion with availableNow: per-wallet gap
    * sessions maintained as merging streaming state (Spark merges
    * overlapping session fragments across micro-batches), proven
    * against the same SQL-islands oracle as the batch formulations.
    * Completes the sessionization triangle: A8 batch islands ≡ A8b
    * batch session_window ≡ this, live.
    */
  def sessionNativeAvailableNow(spark: SparkSession, dir: String,
      gapMinutes: Int = 30): DataFrame = {
    val agg = eventsStream(spark, dir)
      .withWatermark("ts", "1 hour")
      .select(col("user_id"), col("ts"),
        col("value").cast("decimal(18,2)").as("v"))
      .groupBy(col("user_id"),
        session_window(col("ts"), s"$gapMinutes minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"), sum("v").as("tv"))
    drain(agg, OutputMode.Complete())
      .select(col("user_id"), expr("unix_micros(sw.start)").as("start_us"),
        expr("unix_micros(sw.end)").as("end_us"), col("n_events"),
        col("tv").cast("double").as("total_value"))
  }

  /** A37: watermarked stream-stream join — purchases attributed to the
    * signup they followed within one hour, both sides streams (the join
    * state is bounded by the watermark + time-range condition, which is
    * what makes it run at 100 TB: per-key state evicts as event time
    * advances). availableNow runs it to completion; the drained rows are
    * then aggregated in batch so the result is deterministic and
    * oracle-checkable.
    */
  def streamStreamAttribution(
      spark: SparkSession, dir: String): DataFrame = {
    val purchases = eventsStream(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("pts"), col("event_id"))
      .withWatermark("pts", "1 hour")
    val signups = eventsStream(spark, dir)
      .filter(col("event_type") === "signup")
      .select(col("user_id").as("s_user"), col("ts").as("sts"))
      .withWatermark("sts", "1 hour")
    val joined = purchases.join(signups,
      expr("user_id = s_user AND pts >= sts AND pts <= sts + interval 1 hour"))
    drain(joined, OutputMode.Append())
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_attributed"))
  }

  /** A17b: closed-session emission with flatMapGroupsWithState — a wallet
    * closes zero or more sessions per trigger (mapGroupsWithState must
    * emit exactly one row; session *closures* are naturally 0..n, which is
    * exactly what flatMap-style state transitions express). The open tail
    * session survives in state across triggers; only completed sessions
    * are emitted downstream.
    */
  def sessionClosuresStream(
      events: DataFrame, gapMinutes: Int = 30): Dataset[SessionUpdate] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapUs = gapMinutes * 60L * 1000000L
    events
      .select(col("user_id").cast("long"),
        expr("unix_micros(ts)").as("ts_us"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessionUpdate, SessionUpdate](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (user, rows, state: GroupState[SessionUpdate]) =>
          val times = rows.map(_._2).toArray.sorted
          val closed = scala.collection.mutable.ArrayBuffer.empty[SessionUpdate]
          var open = state.getOption
          times.foreach { t =>
            open = open match {
              case Some(s) if t - s.end_us <= gapUs =>
                Some(SessionUpdate(user, s.start_us,
                  math.max(s.end_us, t), s.n_events + 1))
              case Some(s) =>
                closed += s
                Some(SessionUpdate(user, t, t, 1))
              case None => Some(SessionUpdate(user, t, t, 1))
            }
          }
          open.foreach(state.update)
          closed.iterator
      }
  }

  /** A17b driver surface: [[sessionClosuresStream]] run to completion
    * with availableNow. Closed sessions are exactly the batch session
    * islands MINUS each wallet's final (still-open) session — a plain
    * SQL quantity, so the flatMapGroupsWithState emission semantics get
    * a DuckDB hash check instead of only a spec. */
  def sessionClosuresAvailableNow(
      spark: SparkSession, dir: String): DataFrame = {
    drain(sessionClosuresStream(eventsStream(spark, dir)).toDF(),
        OutputMode.Append())
      .select(col("user_id"), col("start_us"), col("end_us"),
        col("n_events").cast("long").as("n_events"))
  }

  /** A16 driver surface: watermarked [[dedupStream]] against a REPLAYED
    * source — the events table delivered twice as two identical files,
    * one micro-batch each (`maxFilesPerTrigger = 1`). Every batch-2 row
    * is either late (behind the watermark batch 1 advanced — dropped
    * before the dedup state is even consulted) or a duplicate id the
    * signature state rejects, so the deduped per-type counts equal the
    * plain batch counts over the table delivered ONCE. That is the
    * reference signature-cache contract (`event_processor.rs` dedup)
    * as an oracle-checkable equation. */
  def dedupReplayAvailableNow(spark: SparkSession, dir: String): DataFrame = {
    val inc = Scratch.dir("ddr_")
    val ev = graft.Tables.events(spark, dir)
      .select("event_id", "ts", "user_id", "event_type", "value")
    ev.coalesce(1).write.mode("append").parquet(inc)
    // second delivery = byte-identical file: an OS-level copy of the
    // staged part file, not a second scan+encode of the events table
    // (the replay contract only needs the same rows delivered twice)
    val part = new java.io.File(inc).listFiles()
      .find(_.getName.startsWith("part-"))
      .getOrElse(throw new IllegalStateException(
        s"dedupReplayAvailableNow: no part- file staged under $inc " +
        "(did the parquet writer's file naming change?)")).toPath
    Files.copy(part, part.resolveSibling("part-replay.parquet"))
    val src = graft.Tables.tzNormalize(spark.readStream
      .schema(spark.read.parquet(inc).schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(inc))
    val counts = dedupStream(src)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"))
    drain(counts, OutputMode.Complete())
  }

  /** Stage the events table as two incoming parquet files (even event
    * ids, then odd), run `start(incoming, store, checkpoint, schema)`
    * over them to completion and return the store directory. */
  private def twoFileIngest(spark: SparkSession, dir: String, name: String)(
      start: (String, String, String, StructType) => StreamingQuery): String = {
    val base = Scratch.dir(name)
    val ev = graft.Tables.events(spark, dir)
      .select("event_id", "ts", "user_id", "event_type", "value")
    ev.filter(col("event_id") % 2 === 0)
      .coalesce(1).write.mode("append").parquet(s"$base/in")
    ev.filter(col("event_id") % 2 === 1)
      .coalesce(1).write.mode("append").parquet(s"$base/in")
    val q = start(s"$base/in", s"$base/store", s"$base/ckpt",
      spark.read.parquet(s"$base/in").schema)
    q.processAllAvailable(); q.stop()
    s"$base/store"
  }

  /** A5d driver surface: [[HistogramIngest]] end to end — the events
    * table split into two incoming files, ingested one micro-batch
    * each into per-batch histogram partials, then answered through the
    * READ path ([[HistogramIngest.dailyHistograms]] →
    * `EventOps.quantilesFromHistograms`). Histogram addition is exact,
    * so the streamed store shares `q_events_quantile_store`'s oracle
    * verbatim. */
  def histIngestAvailableNow(spark: SparkSession, dir: String): DataFrame = {
    val hists = twoFileIngest(spark, dir, "hi_")(
      HistogramIngest.start(spark, _, _, _, _))
    graft.operators.EventOps.quantilesFromHistograms(
      HistogramIngest.dailyHistograms(spark, hists),
      Long.MinValue, Long.MaxValue)
  }

  /** A26d driver surface: [[SketchIngest]] end to end — two-file
    * incoming, one micro-batch each, per-batch HLL partials, COMPACT
    * folds the partials, and the read path reports per-day rows. The
    * oracle checks the EXACT columns (day bucket, event count summed
    * across partials — the store/replay/compaction plumbing); the HLL
    * estimate itself stays spec-pinned with its error bound, like the
    * rest of the sketch family. */
  def sketchIngestAvailableNow(spark: SparkSession, dir: String): DataFrame = {
    val sketches = twoFileIngest(spark, dir, "si_")(
      SketchIngest.start(spark, _, _, _, _))
    SketchIngest.compact(spark, sketches)
    SketchIngest.dailySketches(spark, sketches)
      .select(col("db"), col("n_events"))
  }

  /** A17c: the reference's `track_volume` per-wallet accumulator on the
    * NEW arbitrary-state API (`transformWithState`, Spark 4): explicit
    * `ValueState` per key, processor-scoped lifecycle, RocksDB-backed at
    * scale — the forward path off `mapGroupsWithState`. TimeMode.None:
    * no timers, state lives until the stream ends (bound it with
    * `TTLConfig` in production).
    */
  class WalletVolumeProcessor
      extends StatefulProcessor[Long, (Long, Long), (Long, Long, Long)] {
    @transient private var vol: ValueState[(Long, Long)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      vol = getHandle.getValueState[(Long, Long)]("vol",
        org.apache.spark.sql.Encoders.product[(Long, Long)],
        TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
        timerValues: TimerValues): Iterator[(Long, Long, Long)] = {
      val (n0, c0) = if (vol.exists()) vol.get() else (0L, 0L)
      var n = n0
      var c = c0
      rows.foreach { r => n += 1; c += r._2 }
      vol.update((n, c))
      Iterator.single((key, n, c))
    }
  }

  /** A17f: streaming realized PnL (average-cost basis, the batch A67
    * semantics live): per-wallet `ValueState` holds the exact integer
    * (cum_buy_cents, cum_buy_n) position; each micro-batch's rows are
    * sorted by (event-time, event_id) inside the handler, buys fold into
    * state, and every sell emits its integer mark-against-position row
    * (0..n per batch — the flatMap shape). The double basis division is
    * downstream, keeping all state and emission exact. In-order
    * delivery across batches is the source's contract (same as any
    * sequenced position tracker); within a batch order is restored
    * here. */
  class RealizedPnlProcessor
      extends StatefulProcessor[Long, (Long, Long, Long, Long, Long),
        (Long, Long, Long, Long, Long)] {
    @transient private var pos: ValueState[(Long, Long)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      pos = getHandle.getValueState[(Long, Long)]("pos",
        org.apache.spark.sql.Encoders.product[(Long, Long)],
        TTLConfig.NONE)
    override def handleInputRows(key: Long,
        rows: Iterator[(Long, Long, Long, Long, Long)],
        timerValues: TimerValues): Iterator[(Long, Long, Long, Long, Long)] = {
      var (bc, bn) = if (pos.exists()) pos.get() else (0L, 0L)
      val out =
        scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long, Long)]
      // rows arrive shuffle-ordered; restore the (ts_us, event_id) total
      // order before folding the position
      rows.toArray.sortBy(r => (r._2, r._3)).foreach {
        case (_, _, eventId, isBuy, cents) =>
          if (isBuy == 1L) { bc += cents; bn += 1 }
          else out += ((key, eventId, cents, bc, bn))
      }
      pos.update((bc, bn))
      out.iterator
    }
  }

  /** A94b (stream half): the live CUSUM drift monitor — per-type state
    * is two longs + two edge flags, input minutes fold through the SAME
    * integer recursion as `EventOps.cusumFixed`'s closed form
    * (S = max(0, S + d); lower side mirrors with −d), alarms emit on
    * the rising edge per side. Per-trigger memory is the key's rows in
    * that trigger (sorted to restore minute order — the
    * RealizedPnlProcessor caveat: bound triggers via
    * `maxOffsetsPerTrigger`); a minute split across triggers would
    * split its count, so exactness ≡ batch holds under event-time-
    * complete triggers (availableNow over a capture = one batch). */
  class CusumProcessor(num: Long, den: Long, threshScaled: Long)
      extends StatefulProcessor[String, (String, Long),
        (String, Long, String, Long, Long)] {
    @transient private var st: ValueState[(Long, Long, Boolean, Boolean)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[(Long, Long, Boolean, Boolean)]("cusum",
        org.apache.spark.sql.Encoders.product[(Long, Long, Boolean, Boolean)],
        TTLConfig.NONE)
    override def handleInputRows(key: String,
        rows: Iterator[(String, Long)],
        timerValues: TimerValues)
        : Iterator[(String, Long, String, Long, Long)] = {
      var (sUp, sDn, prevUp, prevDn) =
        if (st.exists()) st.get() else (0L, 0L, false, false)
      val out = scala.collection.mutable.ArrayBuffer
        .empty[(String, Long, String, Long, Long)]
      val counts = rows.toArray.groupBy(_._2).view.mapValues(_.length.toLong)
      counts.keys.toArray.sorted.foreach { minute =>
        val x = counts(minute)
        sUp = math.max(0L, sUp + (2L * den * x - 3L * num))
        sDn = math.max(0L, sDn + (num - 2L * den * x))
        val hitUp = sUp > threshScaled
        val hitDn = sDn > threshScaled
        if (hitUp && !prevUp) out += ((key, minute, "up", x, sUp))
        else if (hitDn && !prevDn) out += ((key, minute, "down", x, sDn))
        prevUp = hitUp; prevDn = hitDn
      }
      st.update((sUp, sDn, prevUp, prevDn))
      out.iterator
    }
  }

  /** A94b driver: events → per-minute alarm rows. */
  def cusumAlarmStream(events: DataFrame, num: Long = 4L, den: Long = 1L,
      threshScaled: Long = 20L): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("event_type"),
        expr("(unix_micros(ts) div 60000000) * 60").as("minute"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .transformWithState(new CusumProcessor(num, den, threshScaled),
        TimeMode.None(), OutputMode.Append(),
        org.apache.spark.sql.Encoders
          .product[(String, Long, String, Long, Long)])
      .toDF("event_type", "minute", "side", "rate", "cusum_scaled")
  }

  /** A94b availableNow harness (oracle ≡ EventOps.cusumFixed's SQL). */
  def cusumAlarmsAvailableNow(spark: SparkSession, dir: String): DataFrame = {
    drain(cusumAlarmStream(eventsStream(rocksDb(spark), dir)),
      OutputMode.Append())
  }

  /** A17f driver: decoded trades → per-sell integer PnL rows. */
  def realizedPnlStream(events: DataFrame,
      buyType: String = "purchase", sellType: String = "view"): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .filter(col("event_type").isin(buyType, sellType))
      .select(col("user_id").cast("long"),
        expr("unix_micros(ts)").as("ts_us"), col("event_id").cast("long"),
        when(col("event_type") === buyType, 1L).otherwise(0L).as("is_buy"),
        expr("cast(round(value * 100, 0) as bigint)").as("cents"))
      .as[(Long, Long, Long, Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new RealizedPnlProcessor, TimeMode.None(),
        OutputMode.Append(),
        org.apache.spark.sql.Encoders.product[(Long, Long, Long, Long, Long)])
      .toDF("user_id", "event_id", "sell_cents", "cum_buy_cents",
        "cum_buy_n")
  }

  /** A17d: bounded per-wallet trade history with `ListState` — the
    * reference keeps a recent-trades ring per wallet for its bot/burst
    * heuristics; here the list state holds the last `keep` amounts and
    * each update emits (wallet, n_recent, recent_cents_sum). `put`
    * rewrites the bounded list so state size is capped per key. */
  class RecentTradesProcessor(keep: Int)
      extends StatefulProcessor[Long, (Long, Long), (Long, Int, Long)] {
    @transient private var recent: ListState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      recent = getHandle.getListState[Long]("recent",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
        timerValues: TimerValues): Iterator[(Long, Int, Long)] = {
      val prev = if (recent.exists()) recent.get().toArray else Array.empty[Long]
      val all = prev ++ rows.map(_._2)
      val bounded = all.takeRight(keep)
      recent.put(bounded)
      Iterator.single((key, bounded.length, bounded.sum))
    }
  }

  /** A17e: per-wallet per-event-type counters with `MapState` — the
    * reference's per-type metrics map keyed inside each wallet's state
    * (`metrics.rs` keeps a counter per EventType). Each update emits the
    * wallet's current (type → count) entries; only touched keys are
    * read/written, so state IO is O(types-in-batch), not O(state). */
  class TypeCountsProcessor
      extends StatefulProcessor[Long, (Long, String), (Long, String, Long)] {
    @transient private var counts: MapState[String, Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      counts = getHandle.getMapState[String, Long]("counts",
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[(Long, String)],
        timerValues: TimerValues): Iterator[(Long, String, Long)] = {
      val touched = scala.collection.mutable.LinkedHashSet.empty[String]
      rows.foreach { r =>
        val t = r._2
        val cur = if (counts.containsKey(t)) counts.getValue(t) else 0L
        counts.updateValue(t, cur + 1)
        touched += t
      }
      touched.iterator.map(t => (key, t, counts.getValue(t)))
    }
  }

  /** A17e end-to-end: the per-wallet per-type MapState counters run to
    * completion with availableNow. Counters are order-independent within
    * a batch and monotone across batches, so the final value per
    * (wallet, type) — extracted with max() exactly as
    * [[walletVolumeAvailableNow]] does — must equal the batch
    * `GROUP BY user_id, event_type` count; the driver oracle-checks the
    * whole MapState read-modify-write path against that SQL. */
  def typeCountsAvailableNow(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val out = eventsStream(rocksDb(spark), dir)
      .select(col("user_id").cast("long"), col("event_type"))
      .as[(Long, String)]
      .groupByKey(_._1)
      .transformWithState(new TypeCountsProcessor, TimeMode.None(),
        OutputMode.Update(),
        org.apache.spark.sql.Encoders.product[(Long, String, Long)])
      .toDF("user_id", "event_type", "n")
    drain(out, OutputMode.Update())
      .groupBy("user_id", "event_type").agg(max("n").as("n"))
  }

  /** A17d, event-time-ordered: the bounded recent-trades ring with the
    * deterministic ordering the driver oracle needs. The in-memory
    * [[RecentTradesProcessor]] keeps arrival order (fine for a live
    * feed, but arrival order is shuffle-dependent); this variant stores
    * (ts_us, event_id, cents) triples and re-sorts prev ++ batch on the
    * (ts, id) total order before truncating, so "last `keep` trades" is
    * event-time last-K regardless of task interleaving — and equals the
    * batch `row_number() OVER (ORDER BY ts DESC, event_id DESC) <= K`
    * under in-order replay. State stays capped at `keep` triples/key. */
  class RecentTradesOrderedProcessor(keep: Int)
      extends StatefulProcessor[Long, (Long, Long, Long, Long),
        (Long, Int, Long, Long)] {
    @transient private var recent: ListState[(Long, Long, Long)] = _
    @transient private var emitted: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      recent = getHandle.getListState[(Long, Long, Long)]("recent",
        org.apache.spark.sql.Encoders.product[(Long, Long, Long)],
        TTLConfig.NONE)
      emitted = getHandle.getValueState[Long]("emitted",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    }
    override def handleInputRows(key: Long,
        rows: Iterator[(Long, Long, Long, Long)],
        timerValues: TimerValues): Iterator[(Long, Int, Long, Long)] = {
      val prev =
        if (recent.exists()) recent.get().toArray
        else Array.empty[(Long, Long, Long)]
      val all = (prev ++ rows.map(r => (r._2, r._3, r._4)))
        .sortBy(t => (t._1, t._2))
      val bounded = all.takeRight(keep)
      recent.put(bounded)
      // per-key emission sequence: Append mode emits one snapshot per
      // micro-batch, so a multi-batch source leaves stale rows in the
      // sink; the strictly increasing seq lets readers keep the FINAL
      // snapshot per key with a max_by instead of assuming one batch
      val seq = (if (emitted.exists()) emitted.get() else 0L) + 1L
      emitted.update(seq)
      Iterator.single((key, bounded.length, bounded.map(_._3).sum, seq))
    }
  }

  /** A17d end-to-end: the event-time-ordered recent-trades ring run to
    * completion with availableNow — each wallet's final (n_recent,
    * recent_cents) over its last `keep` trades, driver-oracled against
    * the batch top-K-by-(ts, id) window formulation. */
  def recentTradesAvailableNow(spark: SparkSession, dir: String,
      keep: Int = 5): DataFrame = {
    import spark.implicits._
    val out = eventsStream(rocksDb(spark), dir)
      .select(col("user_id").cast("long"),
        expr("unix_micros(ts)").as("ts_us"),
        col("event_id").cast("long"),
        expr("cast(round(value * 100, 0) as bigint)").as("cents"))
      .as[(Long, Long, Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new RecentTradesOrderedProcessor(keep),
        TimeMode.None(), OutputMode.Append(),
        org.apache.spark.sql.Encoders.product[(Long, Int, Long, Long)])
      .toDF("user_id", "n_recent", "recent_cents", "seq")
    // keep each wallet's FINAL snapshot: Append mode leaves one row per
    // (key, micro-batch) in the sink, so a multi-batch availableNow run
    // (several source files / low maxFilesPerTrigger) would otherwise
    // surface stale earlier snapshots alongside the final one
    drain(out, OutputMode.Append())
      .groupBy("user_id")
      .agg(max(struct(col("seq"), col("n_recent"), col("recent_cents")))
        .as("fin"))
      .select(col("user_id"),
        col("fin.n_recent").cast("long").as("n_recent"),
        col("fin.recent_cents").as("recent_cents"))
  }

  /** A17g: event-time TIMERS on the new API — the capability
    * `flatMapGroupsWithState` exposes as `EventTimeTimeout` and the
    * reference's idle-wallet session flush needs: a wallet whose open
    * session goes `gapMinutes` past the watermark emits WITHOUT waiting
    * for its own next event. `handleInputRows` folds rows into the open
    * session (closing gap-split sessions inline, as A17b does) and
    * re-arms one timer at `end + gap`; `handleExpiredTimer` fires when
    * the WATERMARK passes that instant, emits the idle session flagged
    * `by_timeout`, and clears state — so state is bounded by activity,
    * not by key cardinality. Exactly one timer per key is alive: the
    * old one is deleted before re-arming (timers don't overwrite).
    * Output: (user_id, start_us, end_us, n_events, by_timeout).
    */
  class SessionTimeoutProcessor(gapMinutes: Int)
      extends StatefulProcessor[Long, (Long, Long),
        (Long, Long, Long, Int, Boolean)] {
    private val gapUs = gapMinutes * 60L * 1000000L
    @transient private var sess: ValueState[(Long, Long, Int)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      sess = getHandle.getValueState[(Long, Long, Int)]("sess",
        org.apache.spark.sql.Encoders.product[(Long, Long, Int)],
        TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
        timerValues: TimerValues): Iterator[(Long, Long, Long, Int, Boolean)] = {
      val closed =
        scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Int, Boolean)]
      var open: Option[(Long, Long, Int)] =
        if (sess.exists()) Some(sess.get()) else None
      rows.map(_._2).toArray.sorted.foreach { t =>
        open = open match {
          case Some((s, e, n)) if t - e <= gapUs =>
            Some((s, math.max(e, t), n + 1))
          case Some((s, e, n)) =>
            closed += ((key, s, e, n, false))
            Some((t, t, 1))
          case None => Some((t, t, 1))
        }
      }
      open.foreach { case st @ (_, e, _) =>
        sess.update(st)
        getHandle.listTimers().foreach(getHandle.deleteTimer)
        getHandle.registerTimer(e / 1000L + gapMinutes * 60000L)
      }
      closed.iterator
    }
    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[(Long, Long, Long, Int, Boolean)] = {
      if (!sess.exists()) Iterator.empty
      else {
        val (s, e, n) = sess.get()
        sess.clear()
        Iterator.single((key, s, e, n, true))
      }
    }
  }

  /** A17g driver: watermarked events → sessions closed either by a
    * gap-splitting successor event or by the event-time timer. */
  def sessionTimeoutStream(events: DataFrame, gapMinutes: Int = 30,
      watermarkDelay: String = "10 minutes"): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", watermarkDelay)
      .select(col("user_id").cast("long"), expr("unix_micros(ts)").as("ts_us"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new SessionTimeoutProcessor(gapMinutes),
        TimeMode.EventTime(), OutputMode.Append(),
        org.apache.spark.sql.Encoders.product[(Long, Long, Long, Int, Boolean)])
      .toDF("user_id", "start_us", "end_us", "n_events", "by_timeout")
  }

  /** A17g end-to-end: run the timer-flushed sessionizer over the events
    * file stream to completion. Single-batch availableNow makes the
    * emission deterministic and SQL-expressible: every non-final session
    * of a wallet closes inline when its successor arrives (by_timeout =
    * false); the wallet's FINAL session closes iff the final watermark
    * (max event time minus the delay) passed its `end + gap` timer —
    * the rest stay open in state and are not emitted. The driver
    * oracle-checks all of it, timer arithmetic included, against a
    * DuckDB gap-island formulation.
    */
  def sessionTimeoutAvailableNow(spark: SparkSession, dir: String,
      gapMinutes: Int = 30,
      watermarkDelay: String = "10 minutes"): DataFrame = {
    drain(sessionTimeoutStream(
      eventsStream(rocksDb(spark), dir), gapMinutes, watermarkDelay),
      OutputMode.Append())
      .select(col("user_id"), col("start_us"), col("end_us"),
        col("n_events").cast("long").as("n_events"),
        col("by_timeout").cast("long").as("by_timeout"))
  }

  /** A17c driver: per-wallet running (count, cents) updates. Volume
    * accumulates in integer cents so state and output are exact and
    * order-independent regardless of shuffle arrival order. */
  def walletVolumeStream(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id").cast("long"),
        expr("cast(round(value * 100, 0) as bigint)").as("cents"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new WalletVolumeProcessor, TimeMode.None(),
        OutputMode.Update(),
        org.apache.spark.sql.Encoders.product[(Long, Long, Long)])
      .toDF("user_id", "n_events", "cents")
  }

  /** A17c end-to-end: run the volume tracker over the events file stream
    * to completion (RocksDB state store — required by transformWithState)
    * and keep each wallet's final state, which must equal the batch
    * count/sum — the driver oracle-checks it against plain SQL. */
  def walletVolumeAvailableNow(spark: SparkSession, dir: String): DataFrame = {
    drain(walletVolumeStream(eventsStream(rocksDb(spark), dir)),
      OutputMode.Update())
      .groupBy("user_id")
      .agg(max(struct(col("n_events"), col("cents"))).as("fin"))
      .select(col("user_id"), col("fin.n_events").as("n_events"),
        col("fin.cents").as("cents"))
  }

  /** A17f driver surface: the streaming realized-PnL processor run to
    * completion with availableNow over the events table, finished with
    * the same average-cost basis projection as the batch A67 — the
    * driver hash-checks it against the IDENTICAL DuckDB oracle. Within
    * a batch the handler restores the (ts, id) total order; the
    * availableNow file pass delivers the table once, so the streamed
    * marks equal the batch marks exactly (the A17f spec additionally
    * pins equality through multi-batch in-order replay). Same wallet
    * decimation as the batch query so both feed one oracle. */
  def realizedPnlAvailableNow(spark: SparkSession, dir: String): DataFrame = {
    drain(realizedPnlStream(
      eventsStream(rocksDb(spark), dir).filter(col("user_id") % 10 === 0)),
      OutputMode.Append())
      .select(col("user_id"), col("event_id"), col("sell_cents"),
        col("cum_buy_cents"), col("cum_buy_n"),
        when(col("cum_buy_n") > 0,
          col("sell_cents").cast("double") -
            col("cum_buy_cents").cast("double") /
            col("cum_buy_n").cast("double")).as("pnl_cents"))
  }

  /** A17 driver surface: [[sessionStream]] (the legacy
    * mapGroupsWithState path) run to completion against a TIME-SPLIT
    * two-file replay — the second micro-batch's events all land after
    * the first's, so the per-wallet state genuinely carries sessions
    * across the batch boundary (extend or restart, the thing a
    * single-trigger run can't prove). The final emission per wallet is
    * its LAST session; end_us only moves forward under a time-ordered
    * replay, so max-by-end picks it deterministically, and the
    * SQL-islands oracle reproduces it by taking each wallet's max
    * session id — the legacy path thereby gets the same driver-oracled
    * treatment as its transformWithState siblings (A17g) instead of a
    * spec-only existence proof. */
  def sessionLegacyAvailableNow(spark: SparkSession, dir: String,
      gapMinutes: Int = 30): DataFrame = {
    val inc = Scratch.dir("ssl_")
    val ev = graft.Tables.events(spark, dir)
      .select("event_id", "ts", "user_id", "event_type", "value")
    // deterministic time split at the midpoint of the observed span
    val mm = ev.agg(expr("min(unix_micros(ts))").as("lo"),
      expr("max(unix_micros(ts))").as("hi")).head()
    val cut = (mm.getLong(0) + mm.getLong(1)) / 2
    ev.filter(expr(s"unix_micros(ts) < ${cut}L"))
      .coalesce(1).write.mode("append").parquet(inc)
    def dataFiles = new java.io.File(inc).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).toSet
    val firstBatch = dataFiles
    ev.filter(expr(s"unix_micros(ts) >= ${cut}L"))
      .coalesce(1).write.mode("append").parquet(inc)
    // FileStreamSource orders files by MODIFICATION TIME; two appends
    // landing in the same mtime tick would make the replay order (and
    // so the cross-batch state carry this query exists to prove)
    // undefined. Pin it: first batch at its observed mtime, second
    // batch strictly one minute later — deterministic on any
    // filesystem tick resolution.
    val t0 = firstBatch.map(_.lastModified).max
    (dataFiles -- firstBatch).foreach(_.setLastModified(t0 + 60000L))
    val src = graft.Tables.tzNormalize(spark.readStream
      .schema(spark.read.parquet(inc).schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(inc))
    drain(sessionStream(src, gapMinutes).toDF(), OutputMode.Update())
      .groupBy("user_id")
      .agg(max(struct(col("end_us"), col("start_us"), col("n_events")))
        .as("s"))
      .select(col("user_id"), col("s.start_us").as("start_us"),
        col("s.end_us").as("end_us"),
        col("s.n_events").cast("bigint").as("n_events"))
  }

  /** A17: stateful sessionization with mapGroupsWithState (processing-time
    * timeout flushes idle wallets). Emits one running session summary per
    * wallet per trigger. */
  def sessionStream(
      events: DataFrame, gapMinutes: Int = 30): Dataset[SessionUpdate] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapUs = gapMinutes * 60L * 1000000L
    events
      .select(col("user_id").cast("long"),
        expr("unix_micros(ts)").as("ts_us"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState[SessionUpdate, SessionUpdate](
        GroupStateTimeout.NoTimeout()) {
        case (user, rows, state: GroupState[SessionUpdate]) =>
          val times = rows.map(_._2).toArray.sorted
          val prev = state.getOption
            .getOrElse(SessionUpdate(user, Long.MaxValue, Long.MinValue, 0))
          // extend the session unless the gap since the last event is
          // exceeded — then start a new one (reference: per-wallet flow)
          val merged = times.foldLeft(prev) { (s, t) =>
            if (s.n_events == 0 || t - s.end_us <= gapUs)
              SessionUpdate(user, math.min(s.start_us, t),
                math.max(s.end_us, t), s.n_events + 1)
            else SessionUpdate(user, t, t, 1)
          }
          state.update(merged)
          merged
      }
  }
}
