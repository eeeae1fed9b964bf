package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.exprs.{base58, le_bytes, le_u128, unbase58}
import graft.operators._
import graft.sources.{EventCodec, ProtocolRegistry, RealLayouts}
import graft.sources.ProtocolRegistry.{LayoutSpec, ProtocolSpec, pubkey}

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory each
  * query key maps to. Every oracle is ANSI-ish SQL in DuckDB dialect over
  * the same parquet tables; Spark results are engineered to hash-match
  * exactly (decimal aggregation, integer epoch-micros, explicit double
  * formulas at the boundary).
  */
object SparkEntry {

  /** Flagship composite on sf0.001 (driver smoke-checks rows>0): the
    * whole pipeline in one plan — events encoded to the borsh wire
    * format, decoded back through the columnar codec (the
    * untrusted-ingest path, length-guarded), enriched with the latest
    * prior view per wallet through the custom as-of merge operator
    * (planner strategy, O(1) state per key), then rolled into hourly
    * OHLC candles joined map-side with per-type counters.
    */
  def entry(spark: SparkSession): DataFrame = {
    // entry() is handed a session that graft did not build
    Graft.attach(spark)
    val dir = "/root/testdata/sf0.001"
    val ev = Tables.events(spark, dir)
    // wire round trip: encode -> raw payloads -> columnar decode
    val decoded = EventCodec
      .decodeTrade(EventCodec.encodeTrade(ev)
        .select("payload"))
      .withColumn("ts", expr("timestamp_micros(ts_us)"))
      .withColumn("event_type",
        when(col("is_buy") === 1, "purchase").otherwise("view"))
      .withColumn("value", col("amount_cents").cast("double") / 100.0)
    // enrich purchases with the latest prior view via the custom exec
    val sides = decoded.select(col("user_id"), col("ts_us"),
      col("event_id"), col("event_type"))
    val attributed = AsOfJoin.asOfMerge(
      sides.filter(col("event_type") === "purchase").drop("event_type"),
      sides.filter(col("event_type") === "view").drop("event_type"),
      "user_id", "ts_us", "event_id", Seq())
      .groupBy("user_id").agg(count(col("asof")).as("n_attributed"))
    EventOps.ohlc1h(decoded)
      .join(broadcast(EventOps.countsByType(decoded)), Seq("event_type"))
      .join(broadcast(attributed.agg(
        sum("n_attributed").as("total_attributed"))))
  }

  /** Per-corpus-dir codebook cache backing `q_ann_pq_topk_served` —
    * the train-once half of the serve-path contract (Similarity
    * .pqTopK's `codebook` parameter). Process-lifetime by design: the
    * bench/verify harnesses are one JVM per run. */
  private val pqCodebookCache =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  /** Per-day, per-type counts and cents read back from the partitioned
    * events layout that `write` leaves in a fresh scratch dir (the
    * `q_sink_*` round trips). */
  private def sinkReadback(s: SparkSession, name: String)(
      write: String => Unit): DataFrame = {
    val dir = Scratch.dir(name)
    write(dir)
    sources.EventSink.readPartitioned(s, dir)
      .groupBy(expr("unix_micros(ts) div 86400000000").as("db"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(expr("cast(round(value * 100, 0) as bigint)"))
          .as("sum_cents"))
  }

  /** Each purchase with its wallet's latest prior view, found by `join`
    * (an as-of join of purchases to views on user_id and ts_us), in the
    * columns of the as-of oracle. */
  private def purchaseViewAsOf(events: DataFrame)(
      join: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val ev = events
      .select(col("user_id"), expr("unix_micros(ts)").as("ts_us"),
        col("event_id"), col("event_type"))
    join(ev.filter(col("event_type") === "purchase").drop("event_type"),
      ev.filter(col("event_type") === "view").drop("event_type"))
      .select(
        col("event_id").as("purchase_id"), col("user_id"),
        col("ts_us").as("purchase_ts_us"),
        col("asof.event_id").as("view_id"),
        col("asof.ts_us").as("view_ts_us"))
  }

  /** Purchases counted per 10-minute signup window, with the earliest
    * window start, over the point-in-interval join `join` of purchase
    * times to signup windows (the range-join oracle's rows). */
  private def purchaseWindows(events: DataFrame)(
      join: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val points = events.filter(col("event_type") === "purchase")
      .select(col("event_id"), expr("unix_micros(ts)").as("ts_us"))
    val intervals = events.filter(col("event_type") === "signup")
      .select(expr("unix_micros(ts)").as("start_us"),
        expr("unix_micros(ts) + 600000000").as("end_us"))
    join(points, intervals)
      .groupBy(col("event_id").as("purchase_id"))
      .agg(count(lit(1)).as("n_windows"),
        min("start_us").as("first_start_us"))
  }

  /** Every event as a swap-shaped wire row: id, pool (wallet mod 100),
    * wallet, its value in cents as `amt`, a second amount `amt2`, the
    * event time in micros and the event type. */
  private def swapRows(events: DataFrame, amt: String,
      amt2: String): DataFrame =
    events.select(
      col("event_id"), (col("user_id") % 100).as("pool"), col("user_id"),
      expr("cast(round(value * 100, 0) as bigint)").as(amt),
      (col("event_id") * 2 + 1).as(amt2),
      expr("unix_micros(ts)").as("ts_us"), col("event_type"))

  /** The top-5 recall gate of the approximate ANN search `approx(emb,
    * queries)` against brute force, over the first ten vectors as
    * queries. */
  private def annRecallGate(emb: DataFrame, gate: String, bound: Double)(
      approx: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val q = emb.filter(col("vec_id") < 10)
    QaGates.topKRecallGate(Similarity.bruteForceTopK(emb, q, 5),
      approx(emb, q), gate, bound)
  }

  /** Wire frames of event-type slices of `ev`: each
    * `(eventType, layout, cols)` slice is selected, encoded into its
    * layout and cut to its `payload`; the frames are unioned in order
    * and, given a program id, tagged with it as `program_id`. */
  private def payloads(ev: DataFrame, programId: Option[String],
      slices: (String, LayoutSpec, Seq[Column])*): DataFrame = {
    val frames = slices.map { case (t, l, cols) =>
      ProtocolRegistry.encode(
        ev.filter(col("event_type") === t).select(cols: _*), l)
        .select("payload")
    }.reduce(_ union _)
    programId.fold(frames)(p => frames.withColumn("program_id", lit(p)))
  }

  private def layoutOf(p: ProtocolSpec, kind: String): LayoutSpec =
    p.layouts.find(_.kind == kind).get

  /** `src` encoded into layout `l` and decoded back from its payload. */
  private def wireRoundTrip(src: DataFrame, l: LayoutSpec): DataFrame =
    ProtocolRegistry.decode(
      ProtocolRegistry.encode(src, l).select("payload"), l)

  /** AMM deposits (clicks) and withdrawals (views) encoded into the
    * `Amm` layouts and dispatched back off the wire. */
  private def ammFlows(events: DataFrame): DataFrame = {
    val ev = events
      .filter(col("event_type").isin("click", "view")).select(
        col("event_id"), (col("user_id") % 100).as("pool"), col("user_id"),
        expr("cast(round(value * 100, 0) as bigint)").as("lp_amount"),
        (col("event_id") * 3).as("base_in"),
        (col("event_id") * 5).as("quote_in"),
        (col("event_id") * 3).as("base_out"),
        (col("event_id") * 5).as("quote_out"),
        expr("unix_micros(ts)").as("ts_us"), col("event_type"))
    dispatchPair(ProtocolRegistry.Amm,
      ev.filter(col("event_type") === "click"),
      ev.filter(col("event_type") === "view"))
  }

  /** `first` and `second` encoded into protocol `p`'s first and second
    * layouts and dispatched back off the wire as one frame stream. */
  private def dispatchPair(p: ProtocolSpec, first: DataFrame,
      second: DataFrame): DataFrame =
    ProtocolRegistry.dispatch(
      ProtocolRegistry.encode(first, p.layouts(0)).select("payload")
        .union(ProtocolRegistry.encode(second, p.layouts(1))
          .select("payload")),
      Seq(p))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- A. event-stream surface ----
    "q_events_filter_types" -> ((s, d) =>
      EventOps.filterTypes(Tables.events(s, d), Seq("purchase", "signup"))),
    "q_events_counts_by_type" -> ((s, d) =>
      EventOps.countsByType(Tables.events(s, d))),
    "q_events_windowed_1h" -> ((s, d) =>
      EventOps.tumbling1h(Tables.events(s, d))),
    "q_events_sliding_1h_15m" -> ((s, d) =>
      EventOps.sliding1h15m(Tables.events(s, d))),
    "q_events_value_stats" -> ((s, d) =>
      EventOps.valueStats(Tables.events(s, d))),
    "q_events_dedup_exact" -> ((s, d) =>
      EventOps.dedupExact(Tables.events(s, d))),
    "q_events_json_props" -> ((s, d) =>
      EventOps.jsonProps(Tables.events(s, d))),
    "q_events_session_30m" -> ((s, d) =>
      EventOps.sessionize(Tables.events(s, d))),
    "q_events_topk_users" -> ((s, d) =>
      EventOps.topKUsers(Tables.events(s, d))),
    "q_events_trending" -> ((s, d) =>
      EventOps.trendingUsers(Tables.events(s, d))),
    "q_events_wallet_lifetimes" -> ((s, d) =>
      EventOps.walletLifetimes(Tables.events(s, d))),
    "q_events_asof_attribution" -> ((s, d) =>
      purchaseViewAsOf(Tables.events(s, d))(
        AsOfJoin.asOf(_, _, "user_id", "ts_us", "event_id", Seq()))),
    // same semantics through the custom whole-operator physical plan
    // (AsOfMergeExec: streaming merge, O(1) state per key)
    "q_events_asof_merge" -> ((s, d) =>
      purchaseViewAsOf(Tables.events(s, d))(
        AsOfJoin.asOfMerge(_, _, "user_id", "ts_us", "event_id", Seq()))),
    "q_events_session_native" -> ((s, d) =>
      EventOps.sessionizeNative(Tables.events(s, d))),
    "q_stream_session_legacy" -> ((s, d) =>
      streaming.EventStreamPipelines.sessionLegacyAvailableNow(s, d)),
    "q_stream_session_native" -> ((s, d) =>
      streaming.EventStreamPipelines.sessionNativeAvailableNow(s, d)),
    "q_stream_session_timeout" -> ((s, d) =>
      streaming.EventStreamPipelines.sessionTimeoutAvailableNow(s, d)),
    "q_stream_type_counts" -> ((s, d) =>
      streaming.EventStreamPipelines.typeCountsAvailableNow(s, d)),
    "q_stream_recent_trades" -> ((s, d) =>
      streaming.EventStreamPipelines.recentTradesAvailableNow(s, d)),
    "q_stream_session_closures" -> ((s, d) =>
      streaming.EventStreamPipelines.sessionClosuresAvailableNow(s, d)),
    "q_stream_dedup_replay" -> ((s, d) =>
      streaming.EventStreamPipelines.dedupReplayAvailableNow(s, d)),
    "q_stream_hist_ingest" -> ((s, d) =>
      streaming.EventStreamPipelines.histIngestAvailableNow(s, d)),
    "q_stream_sketch_ingest" -> ((s, d) =>
      streaming.EventStreamPipelines.sketchIngestAvailableNow(s, d)),
    // A29e driven END TO END: base table written date-partitioned, a
    // correction batch (every 10th id, value+1.0) plus an append batch
    // (every id ending in 5, shifted past the id domain) merged via
    // upsertEvents, the layout read back and aggregated. Oracled against
    // the same merge expressed in SQL over the source table — proves the
    // row-level MERGE semantics AND the round trip through the
    // partitioned layout, not just that a write happened.
    "q_sink_upsert" -> ((s, d) => {
      val ev = Tables.events(s, d)
      sinkReadback(s, "sink_upsert") { dir =>
        sources.EventSink.writePartitionedByDay(ev, dir)
        val corrections = ev.filter(pmod(col("event_id"), lit(10)) === 0)
          .withColumn("value", col("value") + lit(1.0))
        val appends = ev.filter(pmod(col("event_id"), lit(10)) === 5)
          .withColumn("event_id", col("event_id") + lit(10000000000L))
        sources.EventSink.upsertEvents(
          corrections.unionByName(appends), dir)
      }
    }),
    // A29d driven END TO END: full table written, then every date with
    // epoch-day % 7 = 3 re-delivered with corrected values; dynamic
    // partition overwrite rewrites ONLY those dates. The readback
    // aggregate is oracled against the per-date CASE correction — dates
    // outside the backfill set must come back byte-identical.
    "q_sink_backfill" -> ((s, d) => {
      val ev = Tables.events(s, d)
      sinkReadback(s, "sink_backfill") { dir =>
        sources.EventSink.writePartitionedByDay(ev, dir)
        val corrected = ev
          .filter(expr("(unix_micros(ts) div 86400000000) % 7") === 3)
          .withColumn("value", col("value") + lit(2.0))
        sources.EventSink.backfillDates(corrected, dir)
      }
    }),
    // A29b driven END TO END: the layout written deliberately fragmented
    // (8 bucket files per date), compacted in place to one file per
    // partition, read back and aggregated — the oracle is the plain
    // GROUP BY over the source table, so compaction is proven
    // content-preserving (the file-count collapse itself is pinned in
    // StreamingExtensionsSpec).
    "q_sink_compact" -> ((s, d) => {
      val ev = Tables.events(s, d)
      sinkReadback(s, "sink_compact") { dir =>
        sources.EventSink.writePartitionedByDay(ev, dir, buckets = 8)
        sources.EventSink.compactPartitions(s, dir,
          targetBytes = 1L << 40, maxFiles = 1)
      }
    }),
    "q_events_asof_tolerance" -> ((s, d) =>
      purchaseViewAsOf(Tables.events(s, d))(
        AsOfJoin.asOf(_, _, "user_id", "ts_us", "event_id", Seq(),
          toleranceUs = Some(600000000L)))),
    "q_events_cumulative_user" -> ((s, d) =>
      EventOps.cumulativeByUser(Tables.events(s, d))),
    "q_events_latency_calibration" -> ((s, d) =>
      EventOps.latencyCalibration(Tables.events(s, d))),
    "q_events_burst_wallets" -> ((s, d) =>
      EventOps.burstWallets(Tables.events(s, d))),
    "q_events_counts_salted" -> ((s, d) =>
      EventOps.countsByTypeSalted(Tables.events(s, d))),
    "q_events_user_pivot" -> ((s, d) =>
      EventOps.userTypePivot(Tables.events(s, d))),
    "q_events_block_join" -> ((s, d) =>
      EventOps.blockMetaJoin(Tables.events(s, d))),
    // real BlockMeta frames on the wire: a mixed stream of swap fills and
    // block-meta frames dispatches through ONE registry pass; the block
    // class routes via filterClasses (filter.rs include_block_event) and
    // trades join their actual slot metadata (400 ms Solana slots)
    "q_events_block_real" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val trades = payloads(ev, None,
        ("purchase", ProtocolRegistry.Swap.layouts(0), Seq(
          col("event_id"), (col("user_id") % 100).as("pool"), col("user_id"),
          expr("cast(round(value * 100, 0) as bigint)").as("base_amount"),
          (col("event_id") * 2 + 1).as("quote_amount"),
          expr("unix_micros(ts)").as("ts_us"))))
      val metas = ProtocolRegistry.encode(
        ev.filter(col("event_type") === "purchase")
          .select(expr("unix_micros(ts) div 400000").as("slot")).distinct()
          .select(col("slot"), (col("slot") - 1).as("parent_slot"),
            (col("slot") * 400).as("block_time_ms"),
            md5(col("slot").cast("string")).as("block_hash")),
        ProtocolRegistry.Block.layouts(0)).select("payload")
      // one dispatch pass: prune to the two consumed structs + the
      // routing column, then checkpoint — the two class filters below
      // would otherwise each re-run the whole encode+dispatch subtree
      val disp = ProtocolRegistry.dispatch(trades.union(metas))
        .select(col("protocol"), col("buy"), col("block_meta"))
        .localCheckpoint()
      val t = ProtocolRegistry.filterClasses(disp, Seq("transaction"))
        .select(col("buy.user_id").as("user_id"),
          col("buy.base_amount").as("amt"),
          expr("buy.ts_us div 400000").as("slot"))
      val b = ProtocolRegistry.filterClasses(disp, Seq("block"))
        .select(col("block_meta.slot").as("slot"),
          col("block_meta.parent_slot").as("parent_slot"),
          col("block_meta.block_time_ms").as("block_time_ms"),
          col("block_meta.block_hash").as("block_hash"))
      t.join(b, "slot")
        .groupBy("slot", "parent_slot", "block_time_ms", "block_hash")
        .agg(count(lit(1)).as("n_trades"), sum("amt").as("sum_cents"),
          countDistinct("user_id").as("n_wallets"))
    }),
    "q_events_approx_users" -> ((s, d) =>
      EventOps.approxUsers(Tables.events(s, d))),
    "q_events_rate_1m" -> ((s, d) =>
      EventOps.ratePerMinute(Tables.events(s, d))),
    "q_multimodal_frames" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          expr("cast(octet_length(cast(text as binary)) as bigint)").as("byte_len"))
        .select(col("doc_id"), col("byte_len"),
          explode(expr("sequence(0, byte_len div 256)")).as("frame_idx"))
        .select(col("doc_id"), col("frame_idx"),
          (col("frame_idx") * 256).as("frame_offset"))),
    "q_events_ohlc_1h" -> ((s, d) =>
      EventOps.ohlc1h(Tables.events(s, d))),
    // ---- B. relational surface ----
    "q_tpch_q1_pricing" -> ((s, d) =>
      Relational.pricingSummary(Tables.lineitem(s, d))),
    "q_join_orders_customer" -> ((s, d) =>
      Relational.revenueBySegment(Tables.orders(s, d), Tables.customer(s, d))),
    "q_multijoin_nation_region" -> ((s, d) =>
      Relational.regionVolume(Tables.lineitem(s, d), Tables.orders(s, d),
        Tables.customer(s, d), Tables.nation(s, d), Tables.region(s, d))),
    "q_broadcast_part_agg" -> ((s, d) =>
      Relational.brandAgg(Tables.lineitem(s, d), Tables.part(s, d))),
    "q_semi_anti_orders" -> ((s, d) =>
      Relational.customersOrdersPresence(
        Tables.customer(s, d), Tables.orders(s, d))),
    "q_rollup_sales" -> ((s, d) =>
      Relational.rollupSales(Tables.orders(s, d), Tables.customer(s, d))),
    "q_window_rank_orders" -> ((s, d) =>
      Relational.topOrdersPerCustomer(Tables.orders(s, d))),
    "q_vwap_lineitem" -> ((s, d) =>
      Relational.vwapByMonth(Tables.lineitem(s, d))),
    "q_set_ops_customers" -> ((s, d) =>
      Relational.setOps(Tables.customer(s, d), Tables.orders(s, d))),
    "q_part_name_search" -> ((s, d) =>
      Relational.partNameSearch(Tables.part(s, d))),
    "q_orders_dow" -> ((s, d) =>
      Relational.ordersByDayOfWeek(Tables.orders(s, d))),
    // ---- A13/A15: codec + streaming parity ----
    "q_events_decode_roundtrip" -> ((s, d) =>
      EventCodec.decodeTrade(
        EventCodec.encodeTrade(Tables.events(s, d)))),
    "q_events_log_extract" -> ((s, d) => {
      val ev = Tables.events(s, d)
      // payloads ride base64-encoded in "Program data:" log lines among
      // noise lines, exactly as Solana tx logs deliver them
      val logs = EventCodec.encodeTrade(ev)
        .select(concat(lit("Program data: "), base64(col("payload")))
          .as("log"))
        .unionAll(ev.select(
          concat(lit("Program log: instruction "), col("event_type"))
            .as("log")))
      EventCodec.decodeTrade(
        EventCodec.extractProgramData(logs))
    }),
    "q_events_sink_roundtrip" -> ((s, d) => {
      // production layout round trip: date-partitioned time-sorted write,
      // partition-discovering read, per-date rollup ≡ direct aggregation
      val dir = Scratch.dir("sink_q_")
      graft.sources.EventSink.writePartitionedByDay(
        Tables.events(s, d), dir, buckets = 4)
      graft.sources.EventSink.readPartitioned(s, dir)
        .groupBy(date_format(col("event_date"), "yyyy-MM-dd")
          .as("event_date"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double")
            .as("sum_value"))
    }),
    "q_events_wire_source" -> ((s, d) => {
      // capture-side write (one frame file per partition) → DSv2 read →
      // columnar decode: the full wire path the reference implements with
      // gRPC connections + per-event parser callbacks
      EventCodec.decodeTrade(s.read.format("graft-wire")
        .load(graft.streaming.EventStreamPipelines.tradeCapture(s, d)))
    }),
    // wire-frame integrity: byte-sum checksum trailer (fast_checksum
    // analog) — every 37th frame deterministically corrupted, the
    // validator must report exactly those as 'corrupt'
    "q_events_wire_checksum" -> ((s, d) => {
      val framed = EventCodec.frameWithChecksum(
        EventCodec.encodeTrade(Tables.events(s, d)))
        .select(col("event_id"), col("frame"))
      // XOR-255 the first body byte: changes the byte sum by 255-2b ≠ 0,
      // so detection is guaranteed, not probabilistic
      val flipped = expr("unhex(lpad(hex(255 - cast(conv(hex(" +
        "substring(frame, 1, 1)), 16, 10) as int)), 2, '0'))")
      val wire = framed.withColumn("frame",
        when(col("event_id") % 37 === 0,
          concat(flipped, expr("substring(frame, 2)")))
          .otherwise(col("frame")))
      EventCodec.validateChecksum(wire)
        .groupBy("status").agg(count(lit(1)).as("n"))
    }),
    // resync scan: find_pattern locates the discriminator behind a
    // variable-length junk prefix and decode recovers every event
    "q_events_wire_resync" -> ((s, d) => {
      val wire = EventCodec.encodeTrade(Tables.events(s, d)).select(
        col("event_id"),
        concat(expr("unhex(repeat('aa', cast(event_id % 7 + 3 as int)))"),
          col("payload")).as("stream"))
      ProtocolRegistry.dispatch(EventCodec.resyncTrade(wire),
          Seq(ProtocolSpec("trade", Seq(EventCodec.TradeLayout))))
        .select(col("sync_offset"), col("trade.event_id").as("recovered_id"),
          col("event_id"))
        .groupBy("sync_offset").agg(count(lit(1)).as("n"),
          sum(when(col("recovered_id") === col("event_id"), 1L)
            .otherwise(0L)).as("n_recovered"))
    }),
    // A14 oracled: base58 encode∘decode identity over every wire
    // payload, plus a leading-zero-bytes variant (the codec's only
    // special case); any broken roundtrip flips a row to false and the
    // hash compare goes red. Known vectors stay pinned in CodecSpec.
    "q_events_base58_roundtrip" -> ((s, d) => {
      val p = EventCodec.encodeTrade(Tables.events(s, d))
      p.select(col("event_id"),
        (unbase58(base58(col("payload"))) === col("payload")).as("ok"),
        (unbase58(base58(concat(expr("unhex('0000')"), col("payload"))))
          === concat(expr("unhex('0000')"), col("payload")))
          .as("ok_zeros"))
    }),
    // A33b oracled: incremental micro-batch wire ingest (files arriving
    // across REAL triggers, parquet file sink) ≡ the batch DSv2 read —
    // shares q_events_wire_source's oracle verbatim
    "q_stream_wire_incremental" -> ((s, d) =>
      graft.streaming.EventStreamPipelines.wireIncrementalIngest(s, d)),
    // D13 oracled: the DSv2 BatchWrite commit protocol end-to-end —
    // df.write.format("graft-wire") (temp files + driver-side rename
    // publish), read back and decoded ≡ the events table.
    // file/frame_idx are storage-assigned; the write ignores them.
    "q_events_wire_dsv2_write" -> ((s, d) => {
      val dir = Scratch.dir("wire_w_")
      EventCodec.encodeTrade(Tables.events(s, d))
        .select(lit("").as("file"), lit(0L).as("frame_idx"), col("payload"))
        .write.format("graft-wire").mode("overwrite").save(dir)
      EventCodec.decodeTrade(
        s.read.format("graft-wire").load(dir))
    }),
    // A55 oracled: both presets drain the same fixed-4-file capture;
    // the bounded-queue knob's driver-visible shape is the batch count
    "q_stream_config_presets" -> ((s, d) =>
      graft.streaming.EventSubscription.presetBatchReadout(s, d)),
    "q_stream_windowed_counts" -> ((s, d) =>
      graft.streaming.EventStreamPipelines.windowedCountsAvailableNow(
        s, d, Seq("purchase"))),
    "q_events_decode_create" -> ((s, d) => {
      val src = Tables.events(s, d).select(
        expr("concat('tok_', cast(event_id as string))").as("name"),
        expr("upper(substring(md5(cast(concat('s', cast(event_id as string)) as binary)), 1, 6))").as("symbol"),
        expr("concat('ipfs://', md5(cast(concat('u', cast(event_id as string)) as binary)))").as("uri"),
        expr("unhex(concat(md5(cast(concat('ma', cast(event_id as string)) as binary)), md5(cast(concat('mb', cast(event_id as string)) as binary))))").as("mint"),
        expr("unhex(concat(md5(cast(concat('ba', cast(event_id as string)) as binary)), md5(cast(concat('bb', cast(event_id as string)) as binary))))").as("bonding_curve"),
        expr("unhex(concat(md5(cast(concat('ua', cast(event_id as string)) as binary)), md5(cast(concat('ub', cast(event_id as string)) as binary))))").as("user_pk"),
        expr("unhex(concat(md5(cast(concat('ca', cast(event_id as string)) as binary)), md5(cast(concat('cb', cast(event_id as string)) as binary))))").as("creator"),
        expr("unix_micros(ts)").as("ev_ts"),
        expr("event_id * 3 + 1").as("vtr"), expr("event_id * 5 + 2").as("vsr"),
        expr("event_id * 7 + 3").as("rtr"),
        expr("cast(round(value * 100, 0) as bigint)").as("tts"))
      EventCodec
        .decodeCreateToken(EventCodec.encodeCreateToken(src))
        .select(col("ev.name").as("name"), col("ev.symbol").as("symbol"),
          col("ev.uri").as("uri"),
          lower(hex(col("ev.mint"))).as("mint_hex"),
          lower(hex(col("ev.creator"))).as("creator_hex"),
          col("ev.timestamp").as("ev_ts"),
          col("ev.virtual_token_reserves").as("vtr"),
          col("ev.virtual_sol_reserves").as("vsr"),
          col("ev.real_token_reserves").as("rtr"),
          col("ev.token_total_supply").as("tts"))
    }),
    "q_events_decode_dispatch" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val trades = EventCodec
        .encodeTrade(ev.filter(!col("event_type").isin("signup", "error")))
        .select("payload")
      val creates = EventCodec.encodeCreateToken(
        ev.filter(col("event_type") === "signup").select(
          expr("concat('tok_', cast(event_id as string))").as("name"),
          lit("SYM").as("symbol"), lit("ipfs://x").as("uri"),
          expr("unhex(repeat('ab', 32))").as("mint"),
          expr("unhex(repeat('cd', 32))").as("bonding_curve"),
          expr("unhex(repeat('ef', 32))").as("user_pk"),
          expr("unhex(repeat('01', 32))").as("creator"),
          expr("unix_micros(ts)").as("ev_ts"),
          col("event_id").as("vtr"), col("event_id").as("vsr"),
          col("event_id").as("rtr"),
          expr("cast(round(value * 100, 0) as bigint)").as("tts")))
        .select("payload")
      val junk = ev.filter(col("event_type") === "error")
        .select(expr("cast(concat('junkjunk', cast(event_id as string)) as binary)")
          .as("payload"))
      EventCodec
        .dispatch(trades.union(creates).union(junk))
        .groupBy("event_kind")
        .agg(count(lit(1)).as("n"),
          sum(col("trade.amount_cents")).as("trade_cents"),
          sum(col("create_token.token_total_supply")).as("create_cents"))
    }),
    // ---- A13d: multi-protocol registry ----
    "q_events_decode_swap" -> ((s, d) => {
      val ev = swapRows(Tables.events(s, d), "base_amount", "quote_amount")
      dispatchPair(ProtocolRegistry.Swap,
        ev.filter(col("event_type") === "purchase"),
        ev.filter(col("event_type") =!= "purchase")
      ).select(col("event_kind"),
        coalesce(col("buy.event_id"), col("sell.event_id")).as("event_id"),
        coalesce(col("buy.pool"), col("sell.pool")).as("pool"),
        coalesce(col("buy.user_id"), col("sell.user_id")).as("user_id"),
        coalesce(col("buy.base_amount"), col("sell.base_amount"))
          .as("base_amount"),
        coalesce(col("buy.quote_amount"), col("sell.quote_amount"))
          .as("quote_amount"),
        coalesce(col("buy.ts_us"), col("sell.ts_us")).as("ts_us"))
    }),
    "q_events_decode_liquidity" -> ((s, d) =>
      ammFlows(Tables.events(s, d)).select(col("event_kind"),
        coalesce(col("deposit.event_id"), col("withdraw.event_id"))
          .as("event_id"),
        coalesce(col("deposit.pool"), col("withdraw.pool")).as("pool"),
        coalesce(col("deposit.user_id"), col("withdraw.user_id"))
          .as("user_id"),
        coalesce(col("deposit.lp_amount"), col("withdraw.lp_amount"))
          .as("lp_amount"),
        coalesce(col("deposit.base_in"), col("withdraw.base_out"))
          .as("base_amt"),
        coalesce(col("deposit.quote_in"), col("withdraw.quote_out"))
          .as("quote_amt"),
        coalesce(col("deposit.ts_us"), col("withdraw.ts_us")).as("ts_us"))),
    "q_events_registry_dispatch" -> ((s, d) => {
      val ev = swapRows(Tables.events(s, d), "amt", "amt2")
      def cols(amt: String*) = Seq(col("event_id"), col("pool"),
        col("user_id"), col("amt").as(amt.head)) ++
        amt.tail.map(col("amt2").as(_)) :+ col("ts_us")
      val frames = payloads(ev, None,
        ("purchase", ProtocolRegistry.Swap.layouts(0),
          cols("base_amount", "quote_amount")),
        ("view", ProtocolRegistry.Swap.layouts(1),
          cols("base_amount", "quote_amount")),
        ("click", ProtocolRegistry.Amm.layouts(0),
          cols("lp_amount", "base_in", "quote_in")),
        ("signup", ProtocolRegistry.Amm.layouts(1),
          cols("lp_amount", "base_out", "quote_out")))
      val junk = Tables.events(s, d).filter(col("event_type") === "error")
        .select(expr(
          "cast(concat('junkjunk', cast(event_id as string)) as binary)")
          .as("payload"))
      ProtocolRegistry
        .dispatch(frames.union(junk))
        .groupBy("protocol", "event_kind")
        .agg(count(lit(1)).as("n"),
          sum(coalesce(col("buy.base_amount"), col("sell.base_amount"),
            col("deposit.lp_amount"), col("withdraw.lp_amount"))).as("sum_amt"))
    }),
    // class-level include filter: mixed transaction + account frames,
    // only the transaction class survives (filter.rs category checks)
    "q_events_class_filter" -> ((s, d) => {
      val ev = swapRows(Tables.events(s, d), "amt", "amt2")
      val frames = payloads(ev, None,
        ("purchase", ProtocolRegistry.Swap.layouts(0), Seq(
          col("event_id"), col("pool"), col("user_id"),
          col("amt").as("base_amount"), col("amt2").as("quote_amount"),
          col("ts_us"))),
        ("signup", ProtocolRegistry.Account.layouts(0), Seq(
          col("event_id"), col("pool"),
          col("amt").as("base_reserve"), col("amt2").as("quote_reserve"),
          col("ts_us"))))
      ProtocolRegistry.filterClasses(
        ProtocolRegistry.dispatch(frames), Seq("transaction"))
        .groupBy("protocol", "event_kind")
        .agg(count(lit(1)).as("n"))
    }),
    "q_events_pool_stats" -> ((s, d) => {
      // wire-encoded buy/sell fills → registry decode → per-pool market
      // stats straight off the decoded structs (volume, sides, traders)
      val ev = swapRows(Tables.events(s, d), "base_amount", "quote_amount")
      val cols = Seq(col("event_id"), col("pool"), col("user_id"),
        col("base_amount"), col("quote_amount"), col("ts_us"))
      val fills = payloads(ev, None,
        ("purchase", ProtocolRegistry.Swap.layouts(0), cols),
        ("view", ProtocolRegistry.Swap.layouts(1), cols))
      ProtocolRegistry.dispatch(fills)
        .filter(col("event_kind").isin("buy", "sell"))
        .groupBy(expr("coalesce(buy.pool, sell.pool)").as("pool"))
        .agg(
          count(when(col("event_kind") === "buy", 1)).as("n_buys"),
          count(when(col("event_kind") === "sell", 1)).as("n_sells"),
          sum(coalesce(col("buy.base_amount"), col("sell.base_amount")))
            .as("base_volume"),
          countDistinct(coalesce(col("buy.user_id"), col("sell.user_id")))
            .as("n_traders"))
    }),
    // instruction-level decode (amm_v4 analog): nested tx rows with an
    // account-key table, posexplode + LE reads + positional key resolution
    "q_events_instr_decode" -> ((s, d) =>
      graft.sources.InstructionCodec.flattenDecode(
        graft.sources.InstructionCodec.packTransactions(
          Tables.events(s, d)))),
    "q_events_decode_mixed" -> ((s, d) => {
      val src = Tables.events(s, d).select(
        col("event_id"),
        (col("user_id") % 100).as("pool"),
        (col("event_id") % 3).as("flags"),
        expr("unhex(concat(md5(cast(cast(user_id as string) as binary)), " +
          "md5(cast(cast(user_id + 1 as string) as binary))))").as("trader"),
        expr("cast(round(value * 100, 0) as bigint)").as("base_amount"),
        expr("unix_micros(ts)").as("ts_us"))
      wireRoundTrip(src, ProtocolRegistry.Perp.layouts(0))
        .select(col("event_id"), col("pool"), col("flags"),
          expr("lower(hex(trader))").as("trader_hex"),
          col("base_amount"), col("ts_us"))
    }),
    "q_events_launch_decode" -> ((s, d) => {
      val ev = swapRows(Tables.events(s, d), "amt", "amt2")
      ProtocolRegistry.dispatch(payloads(ev, None,
        ("signup", ProtocolRegistry.Launch.layouts(0), Seq(
          col("event_id"), col("pool"), col("user_id"),
          col("amt").as("base_supply"), col("amt2").as("quote_raised"),
          col("ts_us"))),
        ("click", ProtocolRegistry.Launch.layouts(1), Seq(
          col("event_id"), col("pool"), col("user_id"),
          col("amt2").as("lp_minted"), col("ts_us")))))
        .groupBy("protocol", "event_kind")
        .agg(count(lit(1)).as("n"),
          sum(coalesce(col("pool_create.base_supply"),
            col("migrate.lp_minted"))).as("sum_amt"))
    }),
    "q_events_clmm_decode" -> ((s, d) => {
      val src = Tables.events(s, d)
        .filter(col("event_type") === "purchase").select(
          col("event_id"), (col("user_id") % 100).as("pool"), col("user_id"),
          expr("cast(round(value * 100, 0) as bigint)").as("amount_in"),
          (col("event_id") * 2 + 1).as("amount_out"),
          (col("event_id") * 7 + 1).as("sqrt_price"),
          (col("user_id") % 1000).as("tick"),
          expr("unix_micros(ts)").as("ts_us"))
      wireRoundTrip(src, ProtocolRegistry.Clmm.layouts(0))
    }),
    // u128 fields at the REAL reference width, registry-wide: encode two
    // long halves, decode one Decimal(38,0) per field
    "q_events_clmm_u128" -> ((s, d) => {
      val src = Tables.events(s, d)
        .filter(col("event_type") === "purchase").select(
          col("event_id"), (col("user_id") % 100).as("pool"),
          (col("event_id") * 7 + 1).as("sqrt_price_x64_lo"),
          (col("user_id") % 1000).as("sqrt_price_x64_hi"),
          (col("event_id") * 3).as("liquidity_lo"),
          lit(0L).as("liquidity_hi"),
          expr("unix_micros(ts)").as("ts_us"))
      wireRoundTrip(src, ProtocolRegistry.Clmm.layouts(1))
        // u128 decimals travel as strings for the compare: pandas maps
        // DuckDB DECIMAL(38,0) to float64 (lossy >2^53) but Spark's to
        // Decimal objects — strings are exact on both sides
        .withColumn("sqrt_price_x64", col("sqrt_price_x64").cast("string"))
        .withColumn("liquidity", col("liquidity").cast("string"))
    }),
    // ---- real on-chain layouts (RealLayouts registry) ----
    // Round-trip oracles: synthesize reference-shaped rows from the
    // events table, encode into the GENUINE wire bytes (real anchor
    // discriminators, real borsh widths), decode through the registry,
    // aggregate — DuckDB recomputes the same aggregate from the raw rows.
    "q_events_pumpfun_real" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val trades = ProtocolRegistry.encode(
        ev.filter(col("event_type").isin("purchase", "view")).select(
          expr("cast(round(value * 100, 0) as bigint)").as("sol_amount"),
          (col("event_id") * 3).as("token_amount"),
          (col("event_type") === "purchase").cast("long").as("is_buy"),
          expr("unix_micros(ts) div 1000000").as("timestamp"),
          (col("event_id") * 7).as("virtual_sol_reserves"),
          (col("event_id") * 11).as("virtual_token_reserves"),
          (col("event_id") * 13).as("real_sol_reserves"),
          (col("event_id") * 17).as("real_token_reserves"),
          lit(100L).as("fee_basis_points"),
          expr("cast(round(value * 100, 0) as bigint) div 100").as("fee"),
          lit(30L).as("creator_fee_basis_points"),
          expr("cast(round(value * 100, 0) as bigint) div 300")
            .as("creator_fee"),
          (col("event_id") % 2).as("track_volume"),
          (col("event_id") * 19).as("total_unclaimed_tokens"),
          (col("event_id") * 23).as("total_claimed_tokens"),
          (col("event_id") * 29).as("current_sol_volume"),
          expr("unix_micros(ts) div 1000000").as("last_update_timestamp"),
          pubkey("user_id % 100").as("mint"), pubkey("user_id").as("user"),
          pubkey("1").as("fee_recipient"),
          pubkey("user_id % 50").as("creator")),
        RealLayouts.PumpFun.layouts(0))
      val migrates = ProtocolRegistry.encode(
        ev.filter(col("event_type") === "signup").select(
          pubkey("user_id").as("user"), pubkey("user_id % 100").as("mint"),
          (col("event_id") * 2).as("mint_amount"),
          expr("cast(round(value * 100, 0) as bigint)").as("sol_amount"),
          (col("event_id") % 1000).as("pool_migration_fee"),
          pubkey("3").as("bonding_curve"),
          expr("unix_micros(ts) div 1000000").as("timestamp"),
          pubkey("4").as("pool")),
        RealLayouts.PumpFun.layouts(1))
      val junk = ev.filter(col("event_type") === "error")
        .select(expr(
          "cast(concat('junkjunkjunkjunk', cast(event_id as string)) " +
            "as binary)").as("payload"))
      val frames = trades.select("payload").union(migrates.select("payload"))
        .union(junk)
        .withColumn("program_id", lit(RealLayouts.PumpFunProgram))
      ProtocolRegistry
        .dispatch(frames, Seq(RealLayouts.PumpFun),
          programCol = Some("program_id"))
        .groupBy(col("event_kind"), col("pf_trade.is_buy").as("is_buy"))
        .agg(count(lit(1)).as("n"),
          sum(coalesce(col("pf_trade.sol_amount"),
            col("pf_migrate.sol_amount"))).as("sum_sol"),
          sum(col("pf_trade.token_amount")).as("sum_tok"),
          sum(col("pf_trade.fee") + col("pf_trade.creator_fee"))
            .as("sum_fees"),
          countDistinct(coalesce(col("pf_trade.user"),
            col("pf_migrate.user"))).as("n_users"),
          max(coalesce(col("pf_trade.timestamp"),
            col("pf_migrate.timestamp"))).as("max_ts"))
    }),
    "q_events_bonk_real" -> ((s, d) => {
      // the shared-discriminator disambiguation: PumpFun and Bonk trade
      // logs carry the SAME anchor TradeEvent hash — program id routes
      val ev = Tables.events(s, d)
      val pf = ProtocolRegistry.encode(
        ev.filter(col("event_type") === "purchase").select(
          expr("cast(round(value * 100, 0) as bigint)").as("sol_amount"),
          (col("event_id") * 3).as("token_amount"),
          lit(1L).as("is_buy"),
          expr("unix_micros(ts) div 1000000").as("timestamp"),
          (col("event_id") * 7).as("virtual_sol_reserves"),
          (col("event_id") * 11).as("virtual_token_reserves"),
          (col("event_id") * 13).as("real_sol_reserves"),
          (col("event_id") * 17).as("real_token_reserves"),
          lit(100L).as("fee_basis_points"), lit(0L).as("fee"),
          lit(30L).as("creator_fee_basis_points"), lit(0L).as("creator_fee"),
          lit(0L).as("track_volume"), lit(0L).as("total_unclaimed_tokens"),
          lit(0L).as("total_claimed_tokens"),
          lit(0L).as("current_sol_volume"),
          lit(0L).as("last_update_timestamp"),
          pubkey("user_id % 100").as("mint"), pubkey("user_id").as("user"),
          pubkey("1").as("fee_recipient"), pubkey("2").as("creator")),
        RealLayouts.PumpFun.layouts(0))
        .select(col("payload"), lit(RealLayouts.PumpFunProgram).as("program_id"))
      val bonk = ProtocolRegistry.encode(
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
          (col("event_id") % 3).as("pool_status"),
          lit(1L).as("exact_in")),
        RealLayouts.Bonk.layouts(0))
        .select(col("payload"), lit(RealLayouts.BonkProgram).as("program_id"))
      val creates = ProtocolRegistry.encode(
        ev.filter(col("event_type") === "signup").select(
          pubkey("user_id % 100").as("pool_state"),
          pubkey("user_id").as("creator"),
          pubkey("5").as("config"), (col("user_id") % 10).as("base_decimals"),
          concat(lit("tok_"), col("event_id")).as("name")),
        RealLayouts.Bonk.layouts(1))
        .select(col("payload"), lit(RealLayouts.BonkProgram).as("program_id"))
      ProtocolRegistry
        .dispatch(pf.union(bonk).union(creates), Seq(
          RealLayouts.PumpFun, RealLayouts.Bonk),
          programCol = Some("program_id"))
        .groupBy("protocol", "event_kind")
        .agg(count(lit(1)).as("n"),
          sum(coalesce(col("pf_trade.sol_amount"),
            col("bonk_trade.amount_in"))).as("sum_amt"),
          sum(col("bonk_trade.trade_direction")).as("sum_dir"),
          countDistinct(col("bonk_pool_create.name")).as("n_names"))
    }),
    "q_events_pumpswap_real" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val common = Seq(
        expr("unix_micros(ts) div 1000000").as("timestamp"),
        (col("event_id") * 2).as("user_base_token_reserves"),
        (col("event_id") * 3).as("user_quote_token_reserves"),
        (col("event_id") * 5).as("pool_base_token_reserves"),
        (col("event_id") * 7).as("pool_quote_token_reserves"),
        pubkey("user_id % 100").as("pool"), pubkey("user_id").as("user"),
        pubkey("11").as("user_base_token_account"),
        pubkey("12").as("user_quote_token_account"))
      val l = RealLayouts.PumpSwap.layouts
      val frames = payloads(ev, Some(RealLayouts.PumpSwapProgram),
        ("purchase", l(0), common ++ Seq(
          expr("cast(round(value * 100, 0) as bigint)").as("base_amount_out"),
          (col("event_id") + 1).as("max_quote_amount_in"),
          (col("event_id") * 4).as("quote_amount_in"),
          lit(25L).as("lp_fee_basis_points"),
          (col("event_id") % 1000).as("lp_fee"),
          lit(5L).as("protocol_fee_basis_points"),
          (col("event_id") % 500).as("protocol_fee"),
          (col("event_id") * 4 + 1).as("quote_amount_in_with_lp_fee"),
          (col("event_id") * 4 + 2).as("user_quote_amount_in"),
          pubkey("13").as("protocol_fee_recipient"),
          pubkey("14").as("protocol_fee_recipient_token_account"),
          pubkey("user_id % 50").as("coin_creator"),
          lit(30L).as("coin_creator_fee_basis_points"),
          (col("event_id") % 300).as("coin_creator_fee"),
          (col("event_id") % 2).as("track_volume"),
          (col("event_id") * 19).as("total_unclaimed_tokens"),
          (col("event_id") * 23).as("total_claimed_tokens"),
          (col("event_id") * 29).as("current_sol_volume"),
          expr("unix_micros(ts) div 1000000")
            .as("last_update_timestamp"))),
        ("view", l(1), common ++ Seq(
          expr("cast(round(value * 100, 0) as bigint)").as("base_amount_in"),
          (col("event_id") + 1).as("min_quote_amount_out"),
          (col("event_id") * 4).as("quote_amount_out"),
          lit(25L).as("lp_fee_basis_points"),
          (col("event_id") % 1000).as("lp_fee"),
          lit(5L).as("protocol_fee_basis_points"),
          (col("event_id") % 500).as("protocol_fee"),
          (col("event_id") * 4 + 1).as("quote_amount_out_without_lp_fee"),
          (col("event_id") * 4 + 2).as("user_quote_amount_out"),
          pubkey("13").as("protocol_fee_recipient"),
          pubkey("14").as("protocol_fee_recipient_token_account"),
          pubkey("user_id % 50").as("coin_creator"),
          lit(30L).as("coin_creator_fee_basis_points"),
          (col("event_id") % 300).as("coin_creator_fee"))),
        ("click", l(3), common ++ Seq(
          expr("cast(round(value * 100, 0) as bigint)")
            .as("lp_token_amount_out"),
          (col("event_id") + 2).as("max_base_amount_in"),
          (col("event_id") + 3).as("max_quote_amount_in"),
          (col("event_id") * 6).as("base_amount_in"),
          (col("event_id") * 8).as("quote_amount_in"),
          (col("event_id") * 9).as("lp_mint_supply"),
          pubkey("15").as("user_pool_token_account"))),
        ("signup", l(4), common ++ Seq(
          expr("cast(round(value * 100, 0) as bigint)")
            .as("lp_token_amount_in"),
          (col("event_id") + 2).as("min_base_amount_out"),
          (col("event_id") + 3).as("min_quote_amount_out"),
          (col("event_id") * 6).as("base_amount_out"),
          (col("event_id") * 8).as("quote_amount_out"),
          (col("event_id") * 9).as("lp_mint_supply"),
          pubkey("15").as("user_pool_token_account"))))
      ProtocolRegistry
        .dispatch(frames, Seq(RealLayouts.PumpSwap),
          programCol = Some("program_id"))
        .groupBy("event_kind")
        .agg(count(lit(1)).as("n"),
          sum(coalesce(col("ps_buy.base_amount_out"),
            col("ps_sell.base_amount_in"), col("ps_deposit.base_amount_in"),
            col("ps_withdraw.base_amount_out"))).as("sum_base"),
          sum(coalesce(col("ps_buy.quote_amount_in"),
            col("ps_sell.quote_amount_out"),
            col("ps_deposit.quote_amount_in"),
            col("ps_withdraw.quote_amount_out"))).as("sum_quote"),
          sum(coalesce(col("ps_buy.lp_fee"), col("ps_sell.lp_fee")))
            .as("sum_lp_fee"),
          sum(coalesce(col("ps_buy.pool_quote_token_reserves"),
            col("ps_sell.pool_quote_token_reserves"),
            col("ps_deposit.pool_quote_token_reserves"),
            col("ps_withdraw.pool_quote_token_reserves"))).as("sum_pqr"),
          countDistinct(coalesce(col("ps_buy.user"), col("ps_sell.user"),
            col("ps_deposit.user"), col("ps_withdraw.user"))).as("n_users"))
    }),
    "q_events_cpmm_real" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val cents = expr("cast(round(value * 100, 0) as bigint)")
      val l = RealLayouts.RaydiumCpmm.layouts
      val frames = payloads(ev, Some(RealLayouts.RaydiumCpmmProgram),
        ("purchase", l(0), Seq(cents.as("amount_in"),
          (col("event_id") + 1).as("minimum_amount_out"))),
        ("view", l(1), Seq((col("event_id") * 2).as("max_amount_in"),
          cents.as("amount_out"))),
        ("click", l(2), Seq(cents.as("lp_token_amount"),
          (col("event_id") * 3).as("maximum_token0_amount"),
          (col("event_id") * 5).as("maximum_token1_amount"))),
        ("signup", l(3), Seq(cents.as("lp_token_amount"),
          (col("event_id") * 3).as("minimum_token0_amount"),
          (col("event_id") * 5).as("minimum_token1_amount"))),
        ("error", l(4), Seq((col("event_id") * 2).as("init_amount0"),
          (col("event_id") * 4).as("init_amount1"),
          expr("unix_micros(ts) div 1000000").as("open_time"))))
      ProtocolRegistry
        .dispatch(frames, Seq(RealLayouts.RaydiumCpmm),
          programCol = Some("program_id"))
        .groupBy("event_kind")
        .agg(count(lit(1)).as("n"),
          sum(coalesce(col("cpmm_swap_base_input.amount_in"),
            col("cpmm_swap_base_output.amount_out"),
            col("cpmm_deposit.lp_token_amount"),
            col("cpmm_withdraw.lp_token_amount"),
            col("cpmm_initialize.init_amount0"))).as("sum_a"),
          sum(coalesce(col("cpmm_swap_base_input.minimum_amount_out"),
            col("cpmm_swap_base_output.max_amount_in"),
            col("cpmm_deposit.maximum_token1_amount"),
            col("cpmm_withdraw.minimum_token1_amount"),
            col("cpmm_initialize.init_amount1"))).as("sum_b"),
          max(col("cpmm_initialize.open_time")).as("max_open"))
    }),
    "q_events_clmm_real" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val cents = expr("cast(round(value * 100, 0) as bigint)")
      val frames = payloads(ev, Some(RealLayouts.RaydiumClmmProgram),
        ("purchase", RealLayouts.RaydiumClmm.layouts(0), Seq(
          cents.as("amount"), (col("event_id") + 1).as("other_amount_threshold"),
          (col("event_id") * 7 + 1).as("sqrt_price_limit_x64_lo"),
          (col("user_id") % 1000).as("sqrt_price_limit_x64_hi"),
          (col("event_id") % 2).as("is_base_input"))),
        ("view", RealLayouts.RaydiumClmm.layouts(5), Seq(
          (-(col("user_id") % 880 + 1) * 64).as("tick_lower_index"),
          ((col("user_id") % 880 + 1) * 64).as("tick_upper_index"),
          (-(col("user_id") % 880 + 1) * 640)
            .as("tick_array_lower_start_index"),
          ((col("user_id") % 880 + 1) * 640)
            .as("tick_array_upper_start_index"),
          (col("event_id") * 3).as("liquidity_lo"),
          lit(2L).as("liquidity_hi"),
          (col("event_id") * 5).as("amount0_max"),
          (col("event_id") * 7).as("amount1_max"),
          (col("event_id") % 2).as("with_metadata"),
          // borsh Option<bool> tail: every 3rd row None (1-byte tag),
          // the rest Some(user_id % 2) — exercises both wire widths
          when(col("user_id") % 3 === 0, lit(null).cast("int"))
            .otherwise((col("user_id") % 2).cast("int"))
            .as("base_flag"))))
      ProtocolRegistry
        .dispatch(frames, Seq(RealLayouts.RaydiumClmm),
          programCol = Some("program_id"))
        .groupBy("event_kind")
        .agg(count(lit(1)).as("n"),
          sum(col("clmm_swap.amount")).as("sum_amount"),
          sum(col("clmm_swap.is_base_input")).as("n_base_input"),
          sum(col("clmm_swap.sqrt_price_limit_x64")).cast("string")
            .as("sum_sqrt_price"),
          sum(col("clmm_open_position_v2.tick_lower_index")).as("sum_tick_lo"),
          sum(col("clmm_open_position_v2.tick_upper_index")).as("sum_tick_hi"),
          sum(col("clmm_open_position_v2.liquidity")).cast("string")
            .as("sum_liquidity"),
          sum(col("clmm_open_position_v2.base_flag")).as("sum_base_flag"),
          count(col("clmm_open_position_v2.base_flag"))
            .as("n_base_flag_set"))
    }),
    "q_events_ammv4_real" -> ((s, d) => {
      // pre-anchor native program: SINGLE-BYTE instruction discriminators
      val ev = Tables.events(s, d)
      val cents = expr("cast(round(value * 100, 0) as bigint)")
      val l = RealLayouts.RaydiumAmmV4.layouts
      val frames = payloads(ev, Some(RealLayouts.RaydiumAmmV4Program),
        ("purchase", l(0), Seq(cents.as("amount_in"),
          (col("event_id") + 1).as("minimum_amount_out"))),
        ("view", l(1), Seq((col("event_id") * 2).as("max_amount_in"),
          cents.as("amount_out"))),
        ("click", l(2), Seq(cents.as("max_coin_amount"),
          (col("event_id") * 3).as("max_pc_amount"),
          (col("event_id") % 2).as("base_side"))),
        ("signup", l(3), Seq(cents.as("amount"))),
        ("error", l(4), Seq((col("user_id") % 256).as("nonce"),
          expr("unix_micros(ts) div 1000000").as("open_time"),
          (col("event_id") * 2).as("init_pc_amount"),
          (col("event_id") * 4).as("init_coin_amount"))))
      ProtocolRegistry
        .dispatch(frames, Seq(RealLayouts.RaydiumAmmV4),
          programCol = Some("program_id"))
        .groupBy("event_kind")
        .agg(count(lit(1)).as("n"),
          sum(coalesce(col("ammv4_swap_base_in.amount_in"),
            col("ammv4_swap_base_out.amount_out"),
            col("ammv4_deposit.max_coin_amount"),
            col("ammv4_withdraw.amount"),
            col("ammv4_initialize2.init_pc_amount"))).as("sum_a"),
          sum(col("ammv4_initialize2.nonce").cast("bigint")).as("sum_nonce"),
          sum(col("ammv4_deposit.base_side")).as("n_base_side"))
    }),
    "q_events_damm_real" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val swaps = ProtocolRegistry.encode(
        ev.filter(col("event_type").isin("purchase", "view")).select(
          pubkey("user_id % 100").as("pool"),
          (col("event_id") % 2).as("trade_direction"),
          (col("event_id") % 3).as("collect_fee_mode"),
          (col("event_id") % 5 === 0).cast("long").as("has_referral"),
          expr("cast(round(value * 100, 0) as bigint)").as("amount_0"),
          (col("event_id") * 2).as("amount_1"),
          (col("event_id") % 4).as("swap_mode"),
          (col("event_id") * 3).as("included_fee_input_amount"),
          (col("event_id") * 5).as("excluded_fee_input_amount"),
          (col("event_id") % 7).as("amount_left"),
          (col("event_id") * 11).as("output_amount"),
          (col("event_id") * 13 + 1).as("next_sqrt_price_lo"),
          (col("user_id") % 1000).as("next_sqrt_price_hi"),
          (col("event_id") % 97).as("trading_fee"),
          (col("event_id") % 89).as("protocol_fee"),
          (col("event_id") % 83).as("partner_fee"),
          (col("event_id") % 79).as("referral_fee"),
          (col("event_id") * 17).as("included_transfer_fee_amount_in"),
          (col("event_id") * 19).as("included_transfer_fee_amount_out"),
          (col("event_id") * 23).as("excluded_transfer_fee_amount_out"),
          expr("unix_micros(ts) div 1000000").as("current_timestamp"),
          (col("event_id") * 29).as("reserve_a_amount"),
          (col("event_id") * 31).as("reserve_b_amount")),
        RealLayouts.MeteoraDammV2.layouts(0))
        .select("payload")
        .withColumn("program_id", lit(RealLayouts.MeteoraDammV2Program))
      ProtocolRegistry
        .dispatch(swaps, Seq(RealLayouts.MeteoraDammV2),
          programCol = Some("program_id"))
        .groupBy(col("damm_swap.trade_direction").as("trade_direction"))
        .agg(count(lit(1)).as("n"),
          sum(col("damm_swap.amount_0")).as("sum_amount_0"),
          sum(col("damm_swap.output_amount")).as("sum_output"),
          sum(col("damm_swap.next_sqrt_price")).cast("string")
            .as("sum_sqrt_price"),
          sum(col("damm_swap.has_referral")).as("n_referral"),
          sum(col("damm_swap.reserve_a_amount")).as("sum_reserve_a"),
          max(col("damm_swap.current_timestamp")).as("max_ts"))
    }),
    "q_events_pumpfun_create_real" -> ((s, d) => {
      // the REAL CreateTokenEvent: 16-byte discriminator, then three
      // len-prefixed strings + 4 pubkeys + 5 u64 (dynamic offsets — the
      // sequential whole-payload expression decodes it)
      val ev = Tables.events(s, d).filter(col("event_type") === "signup")
      def lp(c: Column) = concat(
        le_bytes(length(c.cast("binary")).cast("bigint"), 4),
        c.cast("binary"))
      val framed = ev.select(concat(
        lit(RealLayouts.PumpFunCreateEventDisc),
        lp(concat(lit("tok_"), col("event_id"))),
        lp(concat(lit("T"), col("user_id") % 100)),
        lp(concat(lit("ipfs://"), col("event_id") % 1000)),
        expr("unhex(repeat('11', 32))"), expr("unhex(repeat('22', 32))"),
        expr("unhex(repeat('33', 32))"), expr("unhex(repeat('44', 32))"),
        le_bytes(expr("unix_micros(ts) div 1000000"), 8),
        le_bytes(col("event_id") * 2, 8), le_bytes(col("event_id") * 3, 8),
        le_bytes(col("event_id") * 5, 8),
        le_bytes(expr("cast(round(value * 100, 0) as bigint)"), 8),
        // even ids carry the V2 tail (token_program + is_mayhem_mode);
        // odd ids are V1 — the decoder nulls the tail
        when(col("event_id") % 2 === 0, concat(
          expr("unhex(repeat('55', 32))"),
          when(col("event_id") % 4 === 0, expr("X'01'"))
            .otherwise(expr("X'00'"))))
          .otherwise(lit(Array.empty[Byte])))
        .as("payload"))
      RealLayouts.decodeCreateReal(framed)
        .select(col("ev.name").as("name"), col("ev.symbol").as("symbol"),
          col("ev.uri").as("uri"), col("ev.timestamp").as("ts_s"),
          col("ev.virtual_token_reserves").as("vtr"),
          col("ev.virtual_sol_reserves").as("vsr"),
          col("ev.real_token_reserves").as("rtr"),
          col("ev.token_total_supply").as("tts"),
          col("ev.is_mayhem_mode").as("mayhem"),
          when(col("ev.token_program").isNotNull, 1)
            .otherwise(0).as("has_tp"))
    }),
    "q_events_account_real" -> ((s, d) => {
      // real account-state layouts dispatched by OWNER program: PumpFun
      // bonding curve, PumpSwap pool, Bonk pool state (incl. the nested
      // VestingSchedule flattened to its five u64 fields)
      val ev = Tables.events(s, d)
      val cents = expr("cast(round(value * 100, 0) as bigint)")
      val curves = ProtocolRegistry.encode(
        ev.filter(col("event_type") === "signup").select(
          (col("event_id") * 11).as("virtual_token_reserves"),
          (col("event_id") * 7).as("virtual_sol_reserves"),
          (col("event_id") * 13).as("real_token_reserves"),
          (col("event_id") * 17).as("real_sol_reserves"),
          (col("event_id") * 19).as("token_total_supply"),
          (col("event_id") % 2).as("complete"), pubkey("user_id").as("creator"),
          lit(0L).as("is_mayhem_mode")),
        RealLayouts.PumpFunAccounts.layouts(0))
        .select(col("payload"), lit(RealLayouts.PumpFunProgram).as("owner"))
      val pools = ProtocolRegistry.encode(
        ev.filter(col("event_type") === "click").select(
          (col("user_id") % 256).as("pool_bump"),
          (col("event_id") % 65536).as("index"),
          pubkey("user_id").as("creator"),
          pubkey("21").as("base_mint"), pubkey("22").as("quote_mint"),
          pubkey("23").as("lp_mint"),
          pubkey("24").as("pool_base_token_account"),
          pubkey("25").as("pool_quote_token_account"), cents.as("lp_supply"),
          pubkey("user_id % 50").as("coin_creator"),
          lit(0L).as("is_mayhem_mode")),
        RealLayouts.PumpSwapAccounts.layouts(0))
        .select(col("payload"), lit(RealLayouts.PumpSwapProgram).as("owner"))
      val states = ProtocolRegistry.encode(
        ev.filter(col("event_type") === "view").select(
          (col("event_id") % 512).as("epoch"),
          (col("user_id") % 256).as("auth_bump"),
          (col("event_id") % 3).as("status"),
          lit(6L).as("base_decimals"), lit(9L).as("quote_decimals"),
          (col("event_id") % 2).as("migrate_type"),
          (col("event_id") * 2).as("supply"),
          (col("event_id") * 19).as("total_base_sell"),
          (col("event_id") * 3).as("virtual_base"),
          (col("event_id") * 5).as("virtual_quote"),
          (col("event_id") * 7).as("real_base"),
          (col("event_id") * 11).as("real_quote"),
          (col("event_id") * 13).as("total_quote_fund_raising"),
          (col("event_id") % 97).as("quote_protocol_fee"),
          (col("event_id") % 89).as("platform_fee"),
          (col("event_id") % 83).as("migrate_fee"),
          (col("event_id") % 1009).as("total_locked_amount"),
          (col("event_id") % 7).as("cliff_period"),
          (col("event_id") % 11).as("unlock_period"),
          (col("event_id") % 13).as("start_time"),
          (col("event_id") % 17).as("allocated_share_amount"),
          pubkey("31").as("global_config"), pubkey("32").as("platform_config"),
          pubkey("33").as("base_mint"), pubkey("34").as("quote_mint"),
          pubkey("35").as("base_vault"), pubkey("36").as("quote_vault")),
        RealLayouts.BonkAccounts.layouts(0))
        .select(col("payload"), lit(RealLayouts.BonkProgram).as("owner"))
      val dispatched = ProtocolRegistry.dispatch(
        curves.union(pools).union(states), RealLayouts.accountRegistry,
        programCol = Some("owner"))
      ProtocolRegistry.filterClasses(dispatched, Seq("account"))
        .groupBy("protocol", "event_kind")
        .agg(count(lit(1)).as("n"),
          sum(coalesce(col("pf_bonding_curve.virtual_token_reserves"),
            col("ps_pool.lp_supply"), col("bonk_pool_state.virtual_base")))
            .as("sum_v"),
          sum(coalesce(col("pf_bonding_curve.complete").cast("bigint"),
            col("ps_pool.index").cast("bigint"),
            col("bonk_pool_state.epoch"))).as("sum_w"),
          sum(coalesce(col("bonk_pool_state.total_locked_amount") +
            col("bonk_pool_state.cliff_period") +
            col("bonk_pool_state.unlock_period") +
            col("bonk_pool_state.start_time") +
            col("bonk_pool_state.allocated_share_amount"), lit(0L)))
            .as("sum_vesting"))
    }),
    "q_events_compute_budget" -> ((s, d) => {
      // compute-budget fee pressure: every tx carries SetComputeUnitLimit
      // + SetComputeUnitPrice (1-byte discriminators); decode both, pair
      // per tx, aggregate per wallet bucket
      val ev = Tables.events(s, d).filter(col("event_type") === "click")
        .select(col("event_id").as("tx_id"), col("user_id"),
          (col("user_id") % 14 * 100000 + 150000).as("units"),
          (col("event_id") % 100000 + 1).as("micro_lamports"))
      val lim = ProtocolRegistry.encode(ev,
        RealLayouts.ComputeBudget.layouts(0))
        .select(col("tx_id"), col("user_id"), col("payload"))
      val pri = ProtocolRegistry.encode(ev,
        RealLayouts.ComputeBudget.layouts(1))
        .select(col("tx_id"), col("user_id"), col("payload"))
      val decoded = ProtocolRegistry.dispatch(
        lim.union(pri).withColumn("program_id",
          lit(RealLayouts.ComputeBudgetProgram)),
        Seq(RealLayouts.ComputeBudget), programCol = Some("program_id"))
      decoded
        .groupBy("tx_id", "user_id")
        .agg(max(col("set_compute_unit_limit.units")).as("units"),
          max(col("set_compute_unit_price.micro_lamports")).as("price"))
        .groupBy((col("user_id") % 25).as("wallet_bucket"))
        .agg(count(lit(1)).as("n_tx"),
          sum("units").as("sum_units"),
          sum(col("units") * col("price")).as("fee_microlamports"),
          max("price").as("max_price"))
    }),
    "q_stream_real_dispatch" -> ((s, d) =>
      graft.streaming.EventStreamPipelines.realDispatchAvailableNow(s, d)),
    "q_events_ix_taxonomy" -> ((s, d) => {
      // instruction-taxonomy breadth: tag-only ix kinds, single-byte
      // native tags, and the cross-program shared anchor hashes (the
      // SAME payload bytes decode as clmm_swap under the CLMM program
      // and damm_swap_ix under Meteora; pf_buy_ix vs ps_buy_ix likewise)
      val ev = Tables.events(s, d)
      val cents = expr("cast(round(value * 100, 0) as bigint)")
      val swapBytes = payloads(ev, None,
        ("purchase", layoutOf(RealLayouts.RaydiumClmm, "clmm_swap"), Seq(
          cents.as("amount"),
          (col("event_id") + 1).as("other_amount_threshold"),
          (col("event_id") * 7 + 1).as("sqrt_price_limit_x64_lo"),
          lit(0L).as("sqrt_price_limit_x64_hi"),
          (col("event_id") % 2).as("is_base_input"))))
      val swaps = swapBytes
        .withColumn("program_id", lit(RealLayouts.RaydiumClmmProgram))
        .union(swapBytes.withColumn("program_id",
          lit(RealLayouts.MeteoraDammV2Program)))
      val buyBytes = payloads(ev, None,
        ("signup", layoutOf(RealLayouts.PumpFunIx, "pf_buy_ix"), Seq(
          cents.as("amount"), (col("event_id") + 5).as("max_sol_cost"))))
      val buys = buyBytes
        .withColumn("program_id", lit(RealLayouts.PumpFunProgram))
        .union(buyBytes.withColumn("program_id",
          lit(RealLayouts.PumpSwapProgram)))
      val migrates = payloads(ev, Some(RealLayouts.BonkProgram),
        ("view", layoutOf(RealLayouts.BonkIx, "bonk_migrate_to_amm"), Seq(
          cents.as("base_lot_size"), (col("event_id") * 2).as("quote_lot_size"),
          (col("user_id") % 256).as("market_vault_signer_nonce"))))
      val pnl = ev.filter(col("event_type") === "click")
        .select(lit(Array[Byte](7)).as("payload"),
          lit(RealLayouts.RaydiumAmmV4Program).as("program_id"))
      val closes = ev.filter(col("event_type") === "error")
        .select(lit(layoutOf(RealLayouts.RaydiumClmm, "clmm_close_position")
          .discriminator).as("payload"),
          lit(RealLayouts.RaydiumClmmProgram).as("program_id"))
      ProtocolRegistry
        .dispatch(Seq(swaps, buys, migrates, pnl, closes).reduce(_ union _),
          RealLayouts.ixRegistry, programCol = Some("program_id"))
        .groupBy("protocol", "event_kind")
        .agg(count(lit(1)).as("n"),
          sum(coalesce(col("clmm_swap.amount"),
            col("damm_swap_ix.amount_in"), col("pf_buy_ix.amount"),
            col("ps_buy_ix.base_amount_out"),
            col("bonk_migrate_to_amm.base_lot_size"))).as("sum_arg"),
          sum(coalesce(col("damm_swap_ix.minimum_amount_out"),
            col("pf_buy_ix.max_sol_cost"),
            col("ps_buy_ix.max_quote_amount_in"),
            col("bonk_migrate_to_amm.quote_lot_size"))).as("sum_arg2"))
    }),
    "q_events_bonk_trade_ix" -> ((s, d) => {
      // A63b promotion: all four REAL Bonk trade-instruction layouts
      // (BuyExactIn/Out, SellExactIn/Out — bonk/parser.rs:136-300)
      // encoded from the events table, routed through the ix registry
      // by program id + 8-byte anchor discriminator, re-aggregated per
      // decoded kind against a pure-SQL oracle over the same slices
      val ev = Tables.events(s, d)
      val cents = expr("cast(round(value * 100, 0) as bigint)")
      def slice(t: String, kind: String, amt: String, thr: String) =
        (t, layoutOf(RealLayouts.BonkIx, kind), Seq(cents.as(amt),
          (col("event_id") + 3).as(thr),
          (col("event_id") % 10000).as("share_fee_rate")))
      val frames = payloads(ev, Some(RealLayouts.BonkProgram),
        slice("purchase", "bonk_buy_exact_in", "amount_in",
          "minimum_amount_out"),
        slice("signup", "bonk_buy_exact_out", "amount_out",
          "maximum_amount_in"),
        slice("view", "bonk_sell_exact_in", "amount_in",
          "minimum_amount_out"),
        slice("click", "bonk_sell_exact_out", "amount_out",
          "maximum_amount_in"))
      ProtocolRegistry
        .dispatch(frames, RealLayouts.ixRegistry,
          programCol = Some("program_id"))
        .groupBy("event_kind")
        .agg(count(lit(1)).as("n"),
          sum(coalesce(col("bonk_buy_exact_in.amount_in"),
            col("bonk_buy_exact_out.amount_out"),
            col("bonk_sell_exact_in.amount_in"),
            col("bonk_sell_exact_out.amount_out"))).as("sum_amount"),
          sum(coalesce(col("bonk_buy_exact_in.minimum_amount_out"),
            col("bonk_buy_exact_out.maximum_amount_in"),
            col("bonk_sell_exact_in.minimum_amount_out"),
            col("bonk_sell_exact_out.maximum_amount_in")))
            .as("sum_threshold"),
          sum(coalesce(col("bonk_buy_exact_in.share_fee_rate"),
            col("bonk_buy_exact_out.share_fee_rate"),
            col("bonk_sell_exact_in.share_fee_rate"),
            col("bonk_sell_exact_out.share_fee_rate")))
            .as("sum_fee_rate"))
    }),
    "q_events_config_accounts" -> ((s, d) => {
      // config/global account breadth incl. the shared GlobalConfig and
      // AmmConfig account hashes routed by owner, and the borsh Vec<u8>
      // platform name (trailing str)
      val ev = Tables.events(s, d)
      val pfGlobal = ProtocolRegistry.encode(
        ev.filter(col("event_type") === "purchase").select(
          lit(1L).as("initialized"), pubkey("1").as("authority"),
          pubkey("2").as("fee_recipient"),
          (col("event_id") * 2).as("initial_virtual_token_reserves"),
          (col("event_id") * 3).as("initial_virtual_sol_reserves"),
          (col("event_id") * 5).as("initial_real_token_reserves"),
          (col("event_id") * 7).as("token_total_supply"),
          lit(100L).as("fee_basis_points"),
          pubkey("3").as("withdraw_authority"),
          (col("event_id") % 2).as("enable_migrate"),
          (col("event_id") % 1000).as("pool_migration_fee"),
          lit(30L).as("creator_fee_basis_points"),
          pubkey("4").as("set_creator_authority")),
        layoutOf(RealLayouts.PumpFunGlobalAccount, "pf_global"))
        .select(col("payload"), lit(RealLayouts.PumpFunProgram).as("owner"))
      val psCfg = ProtocolRegistry.encode(
        ev.filter(col("event_type") === "view").select(
          pubkey("5").as("admin"), lit(25L).as("lp_fee_basis_points"),
          (col("event_id") % 500).as("protocol_fee_basis_points"),
          (col("user_id") % 4).as("disable_flags"),
          lit(30L).as("coin_creator_fee_basis_points"),
          pubkey("6").as("admin_set_coin_creator_authority")),
        layoutOf(RealLayouts.PumpSwapGlobalConfig, "ps_global_config"))
        .select(col("payload"), lit(RealLayouts.PumpSwapProgram).as("owner"))
      val bonkCfg = ProtocolRegistry.encode(
        ev.filter(col("event_type") === "click").select(
          (col("event_id") % 512).as("epoch"),
          (col("user_id") % 3).as("curve_type"),
          (col("event_id") % 65536).as("index"),
          (col("event_id") % 1000).as("migrate_fee"),
          (col("event_id") % 97).as("trade_fee_rate"),
          lit(500L).as("max_share_fee_rate"),
          (col("event_id") * 2).as("min_base_supply"),
          lit(8000L).as("max_lock_rate"),
          lit(100L).as("min_base_sell_rate"),
          lit(200L).as("min_base_migrate_rate"),
          (col("event_id") * 3).as("min_quote_fund_raising"),
          pubkey("7").as("quote_mint"), pubkey("8").as("protocol_fee_owner"),
          pubkey("9").as("migrate_fee_owner"),
          pubkey("10").as("migrate_to_amm_wallet"),
          pubkey("11").as("migrate_to_cpswap_wallet")),
        layoutOf(RealLayouts.BonkConfigAccounts, "bonk_global_config"))
        .select(col("payload"), lit(RealLayouts.BonkProgram).as("owner"))
      val bonkPlat = ProtocolRegistry.encode(
        ev.filter(col("event_type") === "signup").select(
          (col("event_id") % 512).as("epoch"),
          pubkey("12").as("platform_fee_wallet"),
          pubkey("13").as("platform_nft_wallet"),
          lit(2500L).as("platform_scale"), lit(2500L).as("creator_scale"),
          lit(0L).as("burn_scale"), (col("event_id") % 97).as("fee_rate"),
          concat(lit("plat_"), col("event_id")).as("name")),
        layoutOf(RealLayouts.BonkConfigAccounts, "bonk_platform_config"))
        .select(col("payload"), lit(RealLayouts.BonkProgram).as("owner"))
      val err = ev.filter(col("event_type") === "error").select(
        (col("user_id") % 256).as("bump"), (col("event_id") % 2).as("disable_create_pool"),
        (col("event_id") % 65536).as("index"),
        (col("event_id") % 97).as("trade_fee_rate"),
        (col("event_id") % 89).as("protocol_fee_rate"),
        (col("event_id") % 83).as("fund_fee_rate"),
        (col("event_id") % 79).as("create_pool_fee"),
        pubkey("14").as("protocol_owner"), pubkey("15").as("fund_owner"),
        (col("user_id") % 16).as("tick_spacing"), pubkey("16").as("owner"))
      val cpmmCfg = ProtocolRegistry.encode(err,
        layoutOf(RealLayouts.CpmmAccounts, "cpmm_amm_config"))
        .select(col("payload"),
          lit(RealLayouts.RaydiumCpmmProgram).as("owner"))
      val clmmCfg = ProtocolRegistry.encode(err,
        layoutOf(RealLayouts.ClmmAccounts, "clmm_amm_config"))
        .select(col("payload"),
          lit(RealLayouts.RaydiumClmmProgram).as("owner"))
      ProtocolRegistry
        .dispatch(Seq(pfGlobal, psCfg, bonkCfg, bonkPlat, cpmmCfg, clmmCfg)
          .reduce(_ union _), RealLayouts.accountRegistry,
          programCol = Some("owner"))
        .groupBy("protocol", "event_kind")
        .agg(count(lit(1)).as("n"),
          sum(coalesce(col("pf_global.initial_virtual_token_reserves"),
            col("ps_global_config.protocol_fee_basis_points"),
            col("bonk_global_config.trade_fee_rate"),
            col("bonk_platform_config.fee_rate"),
            col("cpmm_amm_config.trade_fee_rate"),
            col("clmm_amm_config.trade_fee_rate").cast("bigint")))
            .as("sum_a"),
          countDistinct(col("bonk_platform_config.name")).as("n_names"))
    }),
    "q_events_pool_accounts" -> ((s, d) => {
      // the last two reference account types: the CPMM PoolState (629 B
      // with its [u64;31] padding, raydium_cpmm/types.rs:61-86 — its
      // anchor hash is shared with Bonk/CLMM pool_state, so the owner
      // program does the routing) and the Bonk vesting record
      // (common/types.rs:128), round-tripped through the account
      // registry and reduced to a TVL-style rollup
      val ev = Tables.events(s, d)
      val pool = ProtocolRegistry.encode(
        ev.filter(col("event_type") === "purchase").select(
          pubkey("event_id % 16").as("amm_config"),
          pubkey("user_id").as("pool_creator"),
          pubkey("2").as("token0_vault"), pubkey("3").as("token1_vault"),
          pubkey("4").as("lp_mint"), pubkey("5").as("token0_mint"),
          pubkey("6").as("token1_mint"), pubkey("7").as("token0_program"),
          pubkey("8").as("token1_program"), pubkey("9").as("observation_key"),
          lit(254L).as("auth_bump"), (col("event_id") % 4).as("status"),
          lit(9L).as("lp_mint_decimals"), lit(6L).as("mint0_decimals"),
          lit(9L).as("mint1_decimals"),
          (col("event_id") * 2).as("lp_supply"),
          (col("event_id") % 1000).as("protocol_fees_token0"),
          (col("event_id") % 997).as("protocol_fees_token1"),
          (col("event_id") % 991).as("fund_fees_token0"),
          (col("event_id") % 983).as("fund_fees_token1"),
          expr("unix_micros(ts) div 1000000").as("open_time"),
          (col("event_id") % 512).as("recent_epoch")),
        layoutOf(RealLayouts.CpmmAccounts, "cpmm_pool_state"))
        .select(col("payload"),
          lit(RealLayouts.RaydiumCpmmProgram).as("owner"))
      val vest = ProtocolRegistry.encode(
        ev.filter(col("event_type") === "signup").select(
          (col("event_id") * 3).as("total_locked_amount"),
          (col("event_id") % 86400).as("cliff_period"),
          lit(3600L).as("unlock_period"),
          expr("unix_micros(ts) div 1000000").as("start_time"),
          (col("event_id") % 500).as("allocated_share_amount")),
        layoutOf(RealLayouts.BonkAccounts, "bonk_vesting_record"))
        .select(col("payload"), lit(RealLayouts.BonkProgram).as("owner"))
      ProtocolRegistry
        .dispatch(pool.union(vest), RealLayouts.accountRegistry,
          programCol = Some("owner"))
        .groupBy("protocol", "event_kind")
        .agg(count(lit(1)).as("n"),
          sum(coalesce(col("cpmm_pool_state.lp_supply"),
            col("bonk_vesting_record.total_locked_amount")))
            .as("sum_locked"),
          sum(coalesce(col("cpmm_pool_state.protocol_fees_token0"),
            col("bonk_vesting_record.allocated_share_amount"))).as("sum_b"),
          sum(coalesce(col("cpmm_pool_state.open_time"),
            col("bonk_vesting_record.start_time"))).as("sum_t"),
          countDistinct(col("cpmm_pool_state.pool_creator"))
            .as("n_creators"))
    }),
    "q_events_token_accounts" -> ((s, d) => {
      // discriminator-LESS SPL token + system nonce accounts: owner
      // program + fixed length are the whole guard, as in the reference
      val ev = Tables.events(s, d)
      def tokFrames(t: String, owner: String) = ProtocolRegistry.encode(
        ev.filter(col("event_type") === t).select(
          pubkey("user_id % 100").as("mint"),
          pubkey("user_id").as("token_owner"),
          expr("cast(round(value * 100, 0) as bigint)").as("amount")),
        RealLayouts.SplAccounts.layouts(0))
        .select(col("payload"), lit(owner).as("owner"))
      // identical account bytes under the legacy vs Token-2022 owner —
      // only the owner program distinguishes them, as on-chain
      val tok = tokFrames("purchase", RealLayouts.TokenProgram)
      val tok22 = tokFrames("click", RealLayouts.Token2022Program)
      val nonce = ProtocolRegistry.encode(
        ev.filter(col("event_type") === "view").select(
          lit(1L).as("version"), lit(1L).as("state"),
          pubkey("user_id").as("authority"), pubkey("event_id").as("blockhash"),
          (col("event_id") % 5000 + 5000).as("fee")),
        RealLayouts.NonceAccounts.layouts(0))
        .select(col("payload"), lit(RealLayouts.SystemProgram).as("owner"))
      val dispatched = ProtocolRegistry.dispatch(
        tok.union(tok22).union(nonce),
        Seq(RealLayouts.SplAccounts, RealLayouts.Spl2022Accounts,
          RealLayouts.NonceAccounts),
        programCol = Some("owner"))
      ProtocolRegistry.filterClasses(dispatched, Seq("account"))
        .groupBy("protocol", "event_kind")
        .agg(count(lit(1)).as("n"),
          sum(coalesce(col("spl_acct_token_account.amount"),
            col("spl22_acct_token_account.amount"),
            col("nonce_account.fee"))).as("sum_amt"),
          countDistinct(coalesce(col("spl_acct_token_account.token_owner"),
            col("spl22_acct_token_account.token_owner"),
            col("nonce_account.authority"))).as("n_owners"))
    }),
    "q_events_cpi_merge" -> ((s, d) =>
      // the inner-CPI tree: outer buy instruction + inner TradeEvent log
      // at (outer_idx, inner_idx), decoded through the REAL layouts and
      // merged with log-fields-overwrite semantics (merger_event.rs)
      graft.sources.InstructionCodec.cpiMerge(
        graft.sources.InstructionCodec.packCpiTransactions(
          Tables.events(s, d).filter(col("event_type") === "purchase")))),
    "q_events_dev_attribution" -> ((s, d) => {
      // dev-address attribution (reference global_state.rs dev_addresses):
      // within a transaction, create events register their wallet as the
      // dev; trades in the SAME tx by a registered wallet are dev trades
      val ev = Tables.events(s, d)
        .withColumn("tx_id", expr("event_id div 8"))
      val devs = ev.filter(col("event_type") === "signup")
        .select("tx_id", "user_id").distinct()
      val trades = ev.filter(col("event_type") === "purchase")
        .select(col("tx_id"), col("user_id"),
          expr("cast(round(value * 100, 0) as bigint)").as("cents"))
      trades
        .join(devs.withColumn("is_dev", lit(1)),
          Seq("tx_id", "user_id"), "left")
        .withColumn("is_dev", coalesce(col("is_dev"), lit(0)))
        .groupBy("is_dev")
        .agg(count(lit(1)).as("n_trades"),
          sum("cents").as("volume_cents"),
          countDistinct("user_id").as("n_wallets"))
    }),
    "q_events_json_ingest" -> ((s, d) =>
      graft.sources.JsonIngest.fromJsonLines(
        graft.sources.JsonIngest.toJsonLines(Tables.events(s, d)))
        .drop("_corrupt")),
    "q_events_account_asof" -> ((s, d) => {
      val ev = Tables.events(s, d)
      // account snapshots ride the wire like any event: encode → decode
      // through the account layout, then feed the as-of "state cache"
      val snapSrc = ev.filter(col("event_type") === "signup").select(
        col("event_id"), (col("user_id") % 100).as("pool"),
        (col("event_id") * 3).as("base_reserve"),
        (col("event_id") * 5).as("quote_reserve"),
        expr("unix_micros(ts)").as("ts_us"))
      val snaps = wireRoundTrip(snapSrc, ProtocolRegistry.Account.layouts(0))
      val trades = ev.filter(col("event_type") === "purchase").select(
        col("event_id"), (col("user_id") % 100).as("pool"),
        expr("unix_micros(ts)").as("ts_us"))
      AsOfJoin.asOf(trades, snaps, "pool", "ts_us", "event_id",
        Seq("base_reserve", "quote_reserve"))
        .select(col("event_id").as("purchase_id"), col("pool"),
          col("ts_us").as("purchase_ts_us"),
          col("asof.event_id").as("snap_id"),
          col("asof.ts_us").as("snap_ts_us"),
          col("asof.base_reserve").as("base_reserve"),
          col("asof.quote_reserve").as("quote_reserve"))
    }),
    "q_events_range_join" -> ((s, d) =>
      purchaseWindows(Tables.events(s, d))(RangeJoin.pointInInterval(
        _, _, "ts_us", "start_us", "end_us"))),
    "q_events_merge_partials" -> ((s, d) => {
      val ev = Tables.events(s, d)
      // two complementary partial decodes of every logical event
      // (instruction decode carries identity; inner-CPI decode carries
      // value/time — reference merger_event.rs fills one from the other)
      val p1 = ev.select(col("event_id"), col("user_id"), col("event_type"),
        lit(null).cast("double").as("value"),
        lit(null).cast("bigint").as("ts_us"))
      val p2 = ev.select(col("event_id"),
        lit(null).cast("bigint").as("user_id"),
        lit(null).cast("string").as("event_type"),
        col("value"), expr("unix_micros(ts)").as("ts_us"))
      EventOps.mergePartials(p1.unionAll(p2), "event_id",
        Seq("user_id", "event_type", "value", "ts_us"))
    }),
    "q_events_trade_price" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val snaps = ev.filter(col("event_type") === "signup").select(
        col("event_id"), (col("user_id") % 100).as("pool"),
        (col("event_id") * 3).as("base_reserve"),
        (col("event_id") * 5).as("quote_reserve"),
        expr("unix_micros(ts)").as("ts_us"))
      val trades = ev.filter(col("event_type") === "purchase").select(
        col("event_id"), (col("user_id") % 100).as("pool"),
        col("value").as("amount"), expr("unix_micros(ts)").as("ts_us"))
      AsOfJoin.asOf(trades, snaps, "pool", "ts_us", "event_id",
        Seq("base_reserve", "quote_reserve"), leftValueCols = Seq("amount"))
        .select(col("event_id").as("purchase_id"), col("pool"),
          col("amount"),
          expr("round(cast(asof.quote_reserve as double) / " +
            "cast(nullif(asof.base_reserve, 0) as double), 6)").as("price6"))
        // notional through exact decimals: double*double + round(…, 6)
        // straddles half-way products differently per engine (BigDecimal
        // HALF_UP vs libm) — caught by the sf0.1 audit at row scale
        // decimal(18,6), not (10,6): Spark nulls a decimal overflow while
        // DuckDB raises — widen so price6 >= 1e4 keeps identical domains
        .withColumn("notional6",
          round(col("amount").cast("decimal(12,2)") *
            col("price6").cast("decimal(18,6)"), 6).cast("double"))
    }),
    "q_events_range_join_auto" -> ((s, d) => {
      // the DECLARATIVE range join: no explicit bucketing — the
      // RangeJoinRewrite rule that Graft.session's extensions inject
      // turns the nested-loop sandwich into the bucketed equi-join at
      // plan time
      purchaseWindows(Tables.events(s, d))((points, ivals) =>
        points.join(ivals,
          col("ts_us") >= col("start_us") && col("ts_us") < col("end_us")))
    }),
    // ---- C. LLM-pipeline surface ----
    "q_dedup_docs_exact" -> ((s, d) =>
      Dedup.exactDocs(Tables.documents(s, d))),
    "q_events_latest_state" -> ((s, d) =>
      EventOps.latestState(Tables.events(s, d))),
    "q_events_type_transitions" -> ((s, d) =>
      EventOps.typeTransitions(Tables.events(s, d))),
    "q_events_equidepth_hist" -> ((s, d) =>
      EventOps.equiDepthHistogram(Tables.events(s, d))),
    "q_events_session_funnel" -> ((s, d) =>
      EventOps.sessionFunnel(Tables.events(s, d))),
    "q_events_cohort_retention" -> ((s, d) =>
      EventOps.cohortRetention(Tables.events(s, d))),
    "q_events_ewma_rate" -> ((s, d) =>
      EventOps.ewmaRatePerMinute(Tables.events(s, d))),
    "q_events_sequence_gaps" -> ((s, d) =>
      EventOps.sequenceGaps(
        Tables.events(s, d).filter(col("event_id") % 97 =!= 0))),
    "q_events_cpmm_decode" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .filter(col("event_type").isin("purchase", "click")).select(
          col("event_id"), (col("user_id") % 50).as("pool"), col("user_id"),
          (col("event_id") * 2).as("base_in"),
          (col("event_id") * 3).as("quote_out"),
          (col("event_id") * 3).as("quote_in"),
          (col("event_id") * 2).as("base_out"),
          expr("unix_micros(ts)").as("ts_us"), col("event_type"))
      dispatchPair(ProtocolRegistry.Cpmm,
        ev.filter(col("event_type") === "purchase"),
        ev.filter(col("event_type") === "click"))
        .select(col("event_kind"),
          coalesce(col("base_in.event_id"), col("base_out.event_id"))
            .as("event_id"),
          coalesce(col("base_in.pool"), col("base_out.pool")).as("pool"),
          coalesce(col("base_in.user_id"), col("base_out.user_id"))
            .as("user_id"),
          coalesce(col("base_in.base_in"), col("base_out.quote_in"))
            .as("amount_in"),
          coalesce(col("base_in.quote_out"), col("base_out.base_out"))
            .as("amount_out"),
          coalesce(col("base_in.ts_us"), col("base_out.ts_us")).as("ts_us"))
    }),
    "q_events_decode_strfield" -> ((s, d) => {
      val ev = Tables.events(s, d).select(
        col("event_id"), (col("user_id") % 100).as("pool"),
        concat_ws("-", col("event_type"), col("user_id")).as("name"))
      val decoded = ProtocolRegistry.dispatch(
        ProtocolRegistry.encode(ev, ProtocolRegistry.Meta.layouts(0))
          .select("payload"),
        Seq(ProtocolRegistry.Meta))
      decoded.select(col("token_meta.event_id").as("event_id"),
        col("token_meta.pool").as("pool"),
        col("token_meta.name").as("name"))
    }),
    "q_docs_corpus_diff" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val oldV = docs.filter(col("doc_id") % 3 =!= 0)
      val newV = docs.filter(col("doc_id") % 5 =!= 0)
        .withColumn("text",
          when(col("doc_id") % 7 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")))
      Dedup.corpusDiff(oldV, newV)
    }),
    "q_dedup_incremental" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.incrementalDedup(
        docs.filter(col("doc_id") % 2 === 1),
        docs.filter(col("doc_id") % 2 === 0))
    }),
    "q_docs_cube" -> ((s, d) =>
      Tables.documents(s, d)
        .cube(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"))),
    "q_docs_sample_fixed_k" -> ((s, d) =>
      Sampling.sampleKPerStratum(Tables.documents(s, d),
        "source", "doc_id", 5)),
    "q_docs_sample_stratified" -> ((s, d) =>
      Sampling.stratifiedByHash(
        Tables.documents(s, d),
        col("doc_id"),
        expr("case when cast(substring(source, 4) as int) % 2 = 0 " +
          "then '40' else '80' end"))
        .select(col("doc_id"), col("source"))),
    "q_docs_mixture" -> ((s, d) =>
      Sampling.mixtureUpsample(
        Tables.documents(s, d),
        expr("case when cast(substring(source, 4) as int) % 4 = 0 " +
          "then 2 else 1 end"))
        .select(col("doc_id"), col("source"),
          col("copy_idx").cast("bigint").as("copy_idx"))),
    "q_docs_pack_sequences" -> ((s, d) =>
      Sampling.packSequences(
        Tables.documents(s, d)
          .select(col("doc_id"), col("source"),
            expr("cast(size(split(text, ' ')) as bigint)").as("n_tok")),
        col("source"), col("doc_id"), col("n_tok"), 2048)
        .select(col("doc_id"), col("source"), col("n_tok"),
          col("cum_tokens"), col("bin"))),
    "q_dedup_docs_corpus" -> ((s, d) =>
      Dedup.dedupedCorpus(Tables.documents(s, d), 0.5)),
    "q_dedup_docs_corpus_rep" -> ((s, d) =>
      Dedup.dedupedCorpusRep(Tables.documents(s, d), 0.5)),
    "q_dedup_cluster_sizes_rep" -> ((s, d) =>
      Dedup.clusterSizesRep(Tables.documents(s, d))),
    "q_docs_pack_efficiency" -> ((s, d) =>
      // per-stratum fill report over the packing plan: bins opened, token
      // volume, and achieved fill ratio vs the 2048-token budget
      Sampling.packSequences(
        Tables.documents(s, d)
          .select(col("doc_id"), col("source"),
            expr("cast(size(split(text, ' ')) as bigint)").as("n_tok")),
        col("source"), col("doc_id"), col("n_tok"), 2048)
        .groupBy("source")
        .agg(countDistinct(col("bin")).as("n_bins"),
          sum("n_tok").as("total_tokens"))
        .withColumn("fill_ratio",
          col("total_tokens").cast("double") /
            (col("n_bins") * 2048L).cast("double"))),
    "q_docs_contamination" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.contamination(docs, docs.filter(col("doc_id") % 97 === 0))
    }),
    "q_docs_decontaminated" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.decontaminatedCorpus(docs, docs.filter(col("doc_id") % 97 === 0))
    }),
    "q_docs_chunk_windows" -> ((s, d) =>
      Sampling.chunkDocuments(Tables.documents(s, d))),
    "q_ann_ivf_full_probe" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 10), 5,
        probes = Int.MaxValue)
    }),
    "q_stream_dedup_within_wm" -> ((s, d) =>
      graft.streaming.EventStreamPipelines
        .dedupWithinWatermarkAvailableNow(s, d)),
    "q_stream_dedup_counts" -> ((s, d) =>
      graft.streaming.EventStreamPipelines.dedupCountsAvailableNow(s, d)),
    "q_stream_wire_decoded" -> ((s, d) =>
      graft.streaming.EventStreamPipelines.wireDecodedCountsAvailableNow(s, d)),
    "q_stream_trade_metrics" -> ((s, d) =>
      graft.streaming.EventStreamPipelines.tradeMetricsAvailableNow(s, d)),
    "q_stream_ss_attribution" -> ((s, d) =>
      graft.streaming.EventStreamPipelines.streamStreamAttribution(s, d)),
    "q_stream_static_enrich" -> ((s, d) =>
      graft.streaming.EventStreamPipelines.streamStaticEnrichment(s, d)),
    "q_stream_ohlc_1h" -> ((s, d) =>
      graft.streaming.EventStreamPipelines.ohlcAvailableNow(s, d)),
    "q_stream_wallet_volume" -> ((s, d) =>
      graft.streaming.EventStreamPipelines.walletVolumeAvailableNow(s, d)),
    "q_stream_realized_pnl" -> ((s, d) =>
      graft.streaming.EventStreamPipelines.realizedPnlAvailableNow(s, d)),
    "q_stream_wire_egress" -> ((s, d) =>
      graft.streaming.EventStreamPipelines.wireEgressAvailableNow(s, d)),
    "q_events_twap_1h" -> ((s, d) =>
      EventOps.twap1h(Tables.events(s, d))),
    "q_events_liquidity_depth" -> ((s, d) =>
      EventOps.liquidityDepth(ammFlows(Tables.events(s, d))
        .select(col("event_kind"),
          coalesce(col("deposit.pool"), col("withdraw.pool")).as("pool"),
          coalesce(col("deposit.event_id"), col("withdraw.event_id"))
            .as("event_id"),
          coalesce(col("deposit.lp_amount"), col("withdraw.lp_amount"))
            .as("lp_amount"),
          coalesce(col("deposit.ts_us"), col("withdraw.ts_us"))
            .as("ts_us")))),
    "q_events_retention" -> ((s, d) =>
      EventOps.retention(Tables.events(s, d))),
    "q_events_funnel" -> ((s, d) =>
      EventOps.funnel(Tables.events(s, d))),
    "q_tpch_q3_shipping" -> ((s, d) =>
      Relational.shippingPriority(Tables.lineitem(s, d),
        Tables.orders(s, d), Tables.customer(s, d))),
    "q_tpch_q18_bigorders" -> ((s, d) =>
      Relational.bigQuantityOrders(Tables.lineitem(s, d),
        Tables.orders(s, d), Tables.customer(s, d))),
    "q_tpch_q4_priority" -> ((s, d) =>
      Relational.orderPriorityCheck(Tables.lineitem(s, d),
        Tables.orders(s, d))),
    "q_tpch_q13_custdist" -> ((s, d) =>
      Relational.custOrderDistribution(Tables.customer(s, d),
        Tables.orders(s, d))),
    "q_tpch_q7_volume" -> ((s, d) =>
      Relational.volumeShipping(Tables.lineitem(s, d), Tables.orders(s, d),
        Tables.customer(s, d), Tables.supplier(s, d), Tables.nation(s, d))),
    "q_tpch_q10_returns" -> ((s, d) =>
      Relational.returnedItems(Tables.lineitem(s, d), Tables.orders(s, d),
        Tables.customer(s, d), Tables.nation(s, d))),
    "q_tpch_q17_smallqty" -> ((s, d) =>
      Relational.smallQtyRevenue(Tables.lineitem(s, d), Tables.part(s, d))),
    "q_tpch_q22_opportunity" -> ((s, d) =>
      Relational.salesOpportunity(Tables.customer(s, d),
        Tables.orders(s, d), Tables.nation(s, d))),
    "q_tpch_q6_forecast" -> ((s, d) =>
      Relational.forecastRevenue(Tables.lineitem(s, d))),
    "q_tpch_q8_share" -> ((s, d) =>
      Relational.marketShare(Tables.lineitem(s, d), Tables.orders(s, d),
        Tables.customer(s, d), Tables.supplier(s, d), Tables.nation(s, d),
        Tables.region(s, d), Tables.part(s, d))),
    "q_tpch_q15_topsupp" -> ((s, d) =>
      Relational.topSupplier(Tables.lineitem(s, d), Tables.supplier(s, d))),
    "q_tpch_q12_late" -> ((s, d) =>
      Relational.latePriority(Tables.lineitem(s, d), Tables.orders(s, d))),
    "q_tpch_q21_waiting" -> ((s, d) =>
      Relational.waitingSuppliers(Tables.lineitem(s, d),
        Tables.orders(s, d), Tables.supplier(s, d))),
    "q_tpch_q2_mincost" -> ((s, d) =>
      Relational.minCostSupplier(Tables.lineitem(s, d), Tables.part(s, d),
        Tables.supplier(s, d), Tables.nation(s, d), Tables.region(s, d))),
    "q_tpch_q9_profit" -> ((s, d) =>
      Relational.productTypeProfit(Tables.lineitem(s, d),
        Tables.orders(s, d), Tables.part(s, d), Tables.supplier(s, d),
        Tables.nation(s, d))),
    "q_tpch_q11_important" -> ((s, d) =>
      Relational.importantParts(Tables.lineitem(s, d),
        Tables.supplier(s, d), Tables.nation(s, d))),
    "q_tpch_q16_suppcnt" -> ((s, d) =>
      Relational.supplierPartCount(Tables.lineitem(s, d),
        Tables.part(s, d), Tables.supplier(s, d))),
    "q_tpch_q20_dominant" -> ((s, d) =>
      Relational.dominantSuppliers(Tables.lineitem(s, d),
        Tables.part(s, d), Tables.supplier(s, d), Tables.nation(s, d))),
    "q_tpch_q5_local" -> ((s, d) =>
      Relational.localSupplierVolume(Tables.lineitem(s, d),
        Tables.orders(s, d), Tables.customer(s, d),
        Tables.supplier(s, d), Tables.nation(s, d))),
    "q_events_concentration" -> ((s, d) =>
      EventOps.walletConcentration(Tables.events(s, d))),
    "q_events_series_corr" -> ((s, d) =>
      EventOps.seriesCorrelation(Tables.events(s, d))),
    "q_events_realized_pnl" -> ((s, d) =>
      EventOps.realizedPnl(
        Tables.events(s, d).filter(col("user_id") % 10 === 0))),
    "q_events_cohort_ltv" -> ((s, d) =>
      EventOps.cohortLtv(Tables.events(s, d))),
    "q_events_ohlc_gapfill" -> ((s, d) =>
      EventOps.ohlcGapFill(Tables.events(s, d))),
    "q_events_max_drawdown" -> ((s, d) =>
      EventOps.maxDrawdown(Tables.events(s, d))),
    "q_events_price_impact" -> ((s, d) =>
      EventOps.priceImpact(Tables.events(s, d))),
    "q_events_volume_autocorr" -> ((s, d) =>
      EventOps.volumeAutocorrelation(Tables.events(s, d))),
    "q_events_round_bias" -> ((s, d) =>
      EventOps.roundNumberBias(Tables.events(s, d))),
    "q_events_burstiness" -> ((s, d) =>
      EventOps.burstiness(Tables.events(s, d))),
    "q_events_wallet_overlap" -> ((s, d) =>
      EventOps.walletOverlap(Tables.events(s, d))),
    "q_events_gini" -> ((s, d) =>
      EventOps.giniByType(Tables.events(s, d))),
    // co-activity family: the unsuffixed keys run the degrade-not-drop
    // default (round-9 flip — the round-8 sf100 sidecar witnessed the
    // drop policy silently vacuous at production density); `_dropall`
    // twins keep the opt-in legacy policy oracled at organic density
    "q_events_pagerank" -> ((s, d) =>
      GraphOps.coactivityPagerank(Tables.events(s, d))),
    "q_events_pagerank_dropall" -> ((s, d) =>
      GraphOps.coactivityPagerank(Tables.events(s, d),
        maxGroupSize = 64, policy = GraphOps.DropAll(acknowledgeVacuous = true))),
    "q_events_taint" -> ((s, d) =>
      GraphOps.seededPagerank(Tables.events(s, d))),
    "q_events_taint_dropall" -> ((s, d) =>
      GraphOps.seededPagerank(Tables.events(s, d),
        maxGroupSize = 64, policy = GraphOps.DropAll(acknowledgeVacuous = true))),
    "q_events_kcore" -> ((s, d) =>
      GraphOps.kCore(Tables.events(s, d))),
    "q_events_kcore_dropall" -> ((s, d) =>
      GraphOps.kCore(Tables.events(s, d), maxGroupSize = 64,
        policy = GraphOps.DropAll(acknowledgeVacuous = true))),
    "q_events_triangles" -> ((s, d) =>
      GraphOps.triangleStats(Tables.events(s, d))),
    "q_events_triangles_dropall" -> ((s, d) =>
      GraphOps.triangleStats(Tables.events(s, d),
        policy = GraphOps.DropAll(acknowledgeVacuous = true))),
    "q_events_wallet_clusters" -> ((s, d) =>
      GraphOps.walletClusters(Tables.events(s, d))),
    "q_events_communities" -> ((s, d) =>
      GraphOps.labelPropagation(Tables.events(s, d))),
    "q_events_template_collisions" -> ((s, d) =>
      EventOps.templateCollisions(Tables.events(s, d))),
    "q_events_assortativity" -> ((s, d) =>
      GraphOps.degreeAssortativity(Tables.events(s, d))),
    "q_events_wallet_clusters_dropall" -> ((s, d) =>
      GraphOps.walletClusters(Tables.events(s, d),
        policy = GraphOps.DropAll(acknowledgeVacuous = true))),
    "q_events_cap_accounting" -> ((s, d) =>
      EventOps.capAccounting(Tables.events(s, d))),
    "q_events_momentum_ic" -> ((s, d) =>
      EventOps.momentumIC(Tables.events(s, d))),
    "q_events_leadlag_ic" -> ((s, d) =>
      EventOps.leadLagIC(Tables.events(s, d))),
    "q_events_quantile_store" -> ((s, d) =>
      EventOps.quantilesFromHistograms(
        EventOps.dailyValueHistograms(Tables.events(s, d)),
        Long.MinValue, Long.MaxValue)),
    // sketch estimate — declared no_oracle like the other sketch family
    "q_events_hll_range" -> ((s, d) =>
      EventOps.usersFromSketches(
        EventOps.dailyUserSketches(Tables.events(s, d)),
        Long.MinValue, Long.MaxValue)),
    "q_events_sandwich" -> ((s, d) =>
      EventOps.sandwichTrades(Tables.events(s, d))),
    "q_events_sandwich_dropall" -> ((s, d) =>
      EventOps.sandwichTrades(Tables.events(s, d),
        policy = GraphOps.DropAll(acknowledgeVacuous = true))),
    "q_events_wash_pairs" -> ((s, d) =>
      EventOps.washPairs(Tables.events(s, d))),
    "q_events_vpin" -> ((s, d) =>
      EventOps.vpin(Tables.events(s, d))),
    "q_events_roll_spread" -> ((s, d) =>
      EventOps.rollSpread(Tables.events(s, d))),
    "q_events_kyle_lambda" -> ((s, d) =>
      EventOps.kyleLambda(Tables.events(s, d))),
    "q_events_bollinger" -> ((s, d) =>
      EventOps.bollingerBreakouts(Tables.events(s, d))),
    "q_events_curve_progress" -> ((s, d) => {
      // composite: REAL BondingCurve snapshots ride the wire (encode →
      // registry decode), as-of enrich trades with the latest prior
      // curve state, then bucket volume by bonding-curve progress —
      // the "how far along the curve do people buy" board
      val ev = Tables.events(s, d)
      val curves = ProtocolRegistry.encode(
        ev.filter(col("event_type") === "signup").select(
          col("user_id"), expr("unix_micros(ts)").as("ts_us"),
          col("event_id"),
          (col("event_id") * 11).as("virtual_token_reserves"),
          (col("event_id") * 7).as("virtual_sol_reserves"),
          (col("event_id") % 1000).as("real_token_reserves"),
          (col("event_id") * 17).as("real_sol_reserves"),
          lit(1000L).as("token_total_supply"),
          (col("event_id") % 2).as("complete"),
          pubkey("user_id").as("creator"), lit(0L).as("is_mayhem_mode")),
        RealLayouts.PumpFunAccounts.layouts(0))
      val decodedSnaps = ProtocolRegistry.dispatch(
          curves.select("user_id", "ts_us", "event_id", "payload"),
          Seq(RealLayouts.PumpFunAccounts.copy(program = null)))
        .select(col("user_id"), col("ts_us"), col("event_id"),
          col("pf_bonding_curve.real_token_reserves")
            .as("real_token_reserves"),
          col("pf_bonding_curve.token_total_supply")
            .as("token_total_supply"))
      val trades = ev.filter(col("event_type") === "purchase").select(
        col("user_id"), expr("unix_micros(ts)").as("ts_us"),
        col("event_id"),
        expr("cast(round(value * 100, 0) as bigint)").as("cents"))
      operators.AsOfJoin.asOf(trades, decodedSnaps,
        "user_id", "ts_us", "event_id",
        Seq("real_token_reserves", "token_total_supply"),
        Seq("cents"))
        .select(col("user_id"), col("cents"),
          expr("asof.real_token_reserves * 10 div " +
            "asof.token_total_supply").as("progress_decile"))
        .groupBy("progress_decile")
        .agg(count(lit(1)).as("n_trades"),
          sum(col("cents")).as("sum_cents"))
    }),
    "q_docs_distinctive_terms" -> ((s, d) =>
      TextAnalysis.distinctiveTerms(Tables.documents(s, d))),
    "q_events_decode_health" -> ((s, d) => {
      EventCodec.decodeHealth(
        EventCodec.corrupt(EventCodec.encodeTrade(Tables.events(s, d))))
    }),
    // resynchronization sweep (find_pattern/simd analog): every frame
    // arrives behind a deterministic garbage prefix; the scan locates the
    // discriminator, decode recovers every event — identity counts
    "q_events_resync" -> ((s, d) => {
      val framed = EventCodec.encodeTrade(Tables.events(s, d))
        .withColumn("stream", concat(
          expr("substring(X'EEEEEEEEEEEEEE', 1, cast(event_id % 7 as int))"),
          col("payload")))
      EventCodec.decodeTrade(
        EventCodec.resyncTrade(framed.select("stream"))
          .filter(col("sync_offset").isNotNull))
        .groupBy("is_buy")
        .agg(count(lit(1)).as("n"), sum("amount_cents").as("cents"))
    }),
    "q_docs_repeated_spans" -> ((s, d) =>
      Dedup.repeatedSpans(Tables.documents(s, d))),
    "q_docs_winnow_pairs" -> ((s, d) =>
      Dedup.winnowedOverlap(Tables.documents(s, d))),
    "q_docs_dedup_curve" -> ((s, d) =>
      Dedup.dedupThresholdCurve(Tables.documents(s, d))),
    "q_docs_bootstrap_ci" -> ((s, d) =>
      Sampling.bootstrapCI(Tables.documents(s, d), "doc_id",
        length(col("text")))),
    "q_docs_shuffle_order" -> ((s, d) =>
      Sampling.shuffleOrder(Tables.documents(s, d), "doc_id", "ep1")),
    "q_events_rate_spikes" -> ((s, d) =>
      EventOps.rateSpikes(Tables.events(s, d))),
    "q_tpch_q14_promo" -> ((s, d) =>
      Relational.promoShare(Tables.lineitem(s, d), Tables.part(s, d))),
    "q_tpch_q19_brackets" -> ((s, d) =>
      Relational.bracketRevenue(Tables.lineitem(s, d), Tables.part(s, d))),
    "q_docs_commonness" -> ((s, d) =>
      TextAnalysis.lexicalCommonness(Tables.documents(s, d))),
    "q_events_metrics_snapshot" -> ((s, d) =>
      EventOps.metricsSnapshot(Tables.events(s, d))),
    "q_events_state_history" -> ((s, d) =>
      EventOps.stateHistory(Tables.events(s, d))),
    // rewind the account cache to 2024-01-15T00:00:00Z
    "q_events_state_at" -> ((s, d) =>
      EventOps.stateAt(Tables.events(s, d), 1705276800000000L)),
    "q_docs_vocab_drift" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      TextAnalysis.vocabDrift(docs, docs.filter(col("doc_id") % 10 =!= 0))
    }),
    "q_docs_dup_provenance" -> ((s, d) =>
      Dedup.dupProvenance(Tables.documents(s, d))),
    "q_docs_split" -> ((s, d) =>
      Sampling.hashSplit(Tables.documents(s, d), "doc_id", "source")),
    // SQL-text front-end: the same engine driven through the SQL parser
    // over the events frame bound as `events_v` — busiest 3 minutes per
    // event type (agg + window + rank filter in one ANSI statement)
    "q_sql_busiest_minutes" -> ((s, d) =>
      org.apache.spark.sql.GraftBridge.sqlOver(s,
        """SELECT event_type, minute, n FROM (
                 SELECT event_type, minute, count(*) AS n,
                        row_number() OVER (PARTITION BY event_type
                          ORDER BY count(*) DESC, minute) AS rn
                 FROM (SELECT event_type,
                              unix_micros(ts) div 60000000 AS minute
                       FROM events_v)
                 GROUP BY 1, 2)
               WHERE rn <= 3""", "events_v" -> Tables.events(s, d))),
    "q_events_gap_dist" -> ((s, d) =>
      EventOps.interEventGaps(Tables.events(s, d))),
    "q_events_value_histogram" -> ((s, d) =>
      EventOps.valueHistogram(Tables.events(s, d))),
    "q_events_wash_trades" -> ((s, d) =>
      EventOps.washTrades(Tables.events(s, d))),
    "q_events_conversion_time" -> ((s, d) =>
      EventOps.conversionTime(Tables.events(s, d))),
    "q_events_ordering_audit" -> ((s, d) =>
      EventOps.orderingAudit(Tables.events(s, d))),
    // the audit exercised on a deliberately disordered replay (xor-1 id
    // perturbation ≙ neighbor-swapped ingest) — the clean-data variant
    // above proves the absence of inversions, this one proves detection
    "q_events_ordering_audit_perturbed" -> ((s, d) =>
      EventOps.orderingAudit(Tables.events(s, d)
        .withColumn("event_id", expr("event_id ^ 1")))),
    "q_dedup_docs_ngram_jaccard" -> ((s, d) =>
      Dedup.ngramJaccard(Tables.documents(s, d), 0.5)),
    "q_dedup_cluster_sizes" -> ((s, d) =>
      Dedup.clusterSizes(Tables.documents(s, d))),
    "q_dedup_docs_containment" -> ((s, d) =>
      Dedup.ngramContainment(Tables.documents(s, d), 0.6)),
    "q_dedup_docs_minhash_lsh" -> ((s, d) =>
      Dedup.minhashLsh(Tables.documents(s, d), 0.5)),
    "q_dedup_docs_simhash" -> ((s, d) =>
      Dedup.simhash(Tables.documents(s, d))),
    "q_dedup_docs_canonical" -> ((s, d) =>
      Dedup.canonicalize(
        Dedup.ngramJaccard(Tables.documents(s, d), 0.5))),
    "q_dedup_docs_hyperplane" -> ((s, d) =>
      Similarity.hyperplaneLshPairs(Tables.embeddings(s, d), 0.3)),
    "q_dedup_docs_hyperplane_rep" -> ((s, d) =>
      Similarity.hyperplaneLshPairs(Tables.embeddings(s, d), 0.3,
          expand = false)
        .select(col("r1"), col("r2"), col("cos6"),
          size(col("m1")).cast("long").as("k1"),
          size(col("m2")).cast("long").as("k2"))),
    "q_dedup_docs_embedding" -> ((s, d) =>
      Similarity.cosinePairs(
        Tables.embeddings(s, d)
          .filter(col("label") === 3 && col("vec_id") % 5 === 0), 0.30)),
    "q_docs_semantic_dedup" -> ((s, d) =>
      Similarity.semanticDedup(
        Tables.embeddings(s, d).filter(col("vec_id") % 2 === 0), 0.35)),
    "q_embeddings_quantize" -> ((s, d) =>
      Similarity.quantizeInt8(
        Tables.embeddings(s, d).filter(col("vec_id") % 10 === 0))),
    "q_docs_strip_boilerplate" -> ((s, d) =>
      operators.Dedup.stripSharedSegments(
        Tables.documents(s, d).filter(col("doc_id") % 7 === 0))),
    "q_docs_weighted_sample" -> ((s, d) =>
      operators.Sampling.weightedSample(Tables.documents(s, d),
        "source", "doc_id", col("n_chars"), 5)),
    "q_docs_select_budget" -> ((s, d) => {
      val toks = split(col("text"), " ")
      operators.Sampling.selectByBudget(
        Tables.documents(s, d),
        size(array_distinct(toks)).cast("double") /
          size(toks).cast("double"),
        size(toks).cast("bigint"), 5000L)
    }),
    "q_ann_int8_topk" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.int8TopK(emb, emb.filter(col("vec_id") < 10), 5)
    }),
    "q_ann_bruteforce_topk" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10), 5)
    }),
    "q_ann_ivf_topk" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 10), 5)
    }),
    "q_ann_pq_topk" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.pqTopK(emb, emb.filter(col("vec_id") < 10), 64, 5)
    }),
    "q_ann_ivfpq_topk" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.ivfpqTopK(emb, emb.filter(col("vec_id") < 10), 64, 5)
    }),
    // train-once-serve-many PQ: the codebook is cached per corpus dir,
    // so Bench's two-sweep-min design measures the pure SERVE wall on
    // sweep 2 (sweep 1 pays the one-time Lloyd training) — the
    // production regime pqTopK(codebook = ...) exists for. Results are
    // bit-identical to q_ann_pq_topk by construction (same codebook
    // arithmetic, injected instead of retrained).
    "q_ann_pq_topk_served" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val cb = pqCodebookCache.computeIfAbsent(d, _ =>
        Similarity.pqCodebook(emb, 64).localCheckpoint(eager = true))
      Similarity.pqTopK(emb, emb.filter(col("vec_id") < 10), 64, 5,
        codebook = Some(cb))
    }),
    "q_ann_ivf_centroids" -> ((s, d) =>
      Similarity.centroids(
        Tables.embeddings(s, d).select(col("label"), col("embedding")),
        "label")),
    "q_text_langid" -> ((s, d) =>
      TextAnalysis.langId(Tables.documents(s, d))),
    "q_text_quality" -> ((s, d) =>
      TextAnalysis.quality(Tables.documents(s, d))),
    "q_text_tokens" -> ((s, d) =>
      TextAnalysis.tokenCounts(Tables.documents(s, d))),
    "q_text_fingerprint" -> ((s, d) =>
      TextAnalysis.fingerprint(Tables.documents(s, d)).drop("roll_min")),
    "q_docs_corpus_stats" -> ((s, d) =>
      TextAnalysis.corpusStats(Tables.documents(s, d))),
    "q_docs_stats_merged" -> ((s, d) => {
      // incremental maintenance path: stats of base ∪ delta from merged
      // digest-level partials — must equal the direct recompute (the
      // oracle below IS the direct recompute)
      val docs = Tables.documents(s, d)
      TextAnalysis.finalizeCorpusStats(
        TextAnalysis.mergeCorpusStatsPartials(
          TextAnalysis.corpusStatsPartial(
            docs.filter(col("doc_id") % 2 === 0)),
          TextAnalysis.corpusStatsPartial(
            docs.filter(col("doc_id") % 2 =!= 0))))
    }),
    "q_docs_filter_chain" -> ((s, d) =>
      TextAnalysis.filterChain(Tables.documents(s, d))),
    "q_text_top_tokens" -> ((s, d) =>
      TextAnalysis.topTokens(Tables.documents(s, d))),
    "q_text_rare_tokens" -> ((s, d) =>
      TextAnalysis.rareTokenRate(Tables.documents(s, d))),
    "q_docs_scrub_pii" -> ((s, d) =>
      TextAnalysis.scrubPii(Tables.documents(s, d))),
    "q_docs_vocab_stats" -> ((s, d) =>
      TextAnalysis.vocabStats(Tables.documents(s, d))),
    "q_docs_msttr" -> ((s, d) =>
      TextAnalysis.msttr(Tables.documents(s, d))),
    "q_docs_doremi_weights" -> ((s, d) =>
      TextAnalysis.doremiLiteWeights(Tables.documents(s, d))),
    "q_text_repetition" -> ((s, d) =>
      TextAnalysis.repetition(Tables.documents(s, d))),
    "q_text_boilerplate" -> ((s, d) =>
      TextAnalysis.boilerplateChunks(Tables.documents(s, d))),
    "q_events_profile" -> ((s, d) =>
      TextAnalysis.profile(Tables.events(s, d),
        Seq("event_id", "user_id", "event_type", "value"))),
    "q_multimodal_features" -> ((s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
        expr("cast(octet_length(cast(text as binary)) as bigint)").as("byte_len"),
        md5(col("text").cast("binary")).as("content_md5"),
        expr("octet_length(cast(text as binary)) div 256 + 1").as("n_frames"))),
    "q_multimodal_resize" -> ((s, d) => {
      val p = graft.multimodal.Multimodal
        .withPayload(Tables.documents(s, d))
      graft.multimodal.Multimodal.resize(p, 100).toDF()
        .select(col("doc_id"),
          expr("cast(octet_length(resized) as bigint)").as("resized_len"),
          md5(col("resized")).as("resized_md5"))
    }),
    "q_multimodal_sample_frames" -> ((s, d) => {
      val p = graft.multimodal.Multimodal
        .withPayload(Tables.documents(s, d))
      graft.multimodal.Multimodal.sampleFrames(p, 256, 2).toDF()
        .select(col("doc_id"), col("frame_idx").cast("bigint").as("frame_idx"),
          expr("cast(octet_length(frame) as bigint)").as("frame_len"),
          md5(col("frame")).as("frame_md5"))
    }),
    // ---- round 5: microstructure risk, forensics, sequential detection,
    //      graph link prediction, retrieval-grade text scoring ----
    "q_events_volatility" -> ((s, d) =>
      EventOps.rangeVolatility(Tables.events(s, d))),
    "q_events_amihud" -> ((s, d) =>
      EventOps.amihudDaily(Tables.events(s, d))),
    "q_events_type_entropy" -> ((s, d) =>
      EventOps.typeEntropy(Tables.events(s, d))),
    "q_events_benford" -> ((s, d) =>
      EventOps.benfordDigits(Tables.events(s, d))),
    "q_events_cusum" -> ((s, d) =>
      EventOps.cusumChangePoints(Tables.events(s, d))),
    "q_events_neighbor_sim" -> ((s, d) =>
      GraphOps.neighborSimilarity(Tables.events(s, d))),
    "q_events_neighbor_sim_dropall" -> ((s, d) =>
      GraphOps.neighborSimilarity(Tables.events(s, d),
        policy = GraphOps.DropAll(acknowledgeVacuous = true))),
    "q_docs_bm25" -> ((s, d) =>
      TextAnalysis.bm25TopK(Tables.documents(s, d),
        Seq("spark", "window", "merge"))),
    "q_docs_unigram_lp" -> ((s, d) =>
      TextAnalysis.unigramLogProb(Tables.documents(s, d))),
    "q_events_variance_ratio" -> ((s, d) =>
      EventOps.varianceRatio(Tables.events(s, d))),
    "q_events_winsorized" -> ((s, d) =>
      EventOps.winsorizedStats(Tables.events(s, d))),
    "q_docs_pmi_bigrams" -> ((s, d) =>
      TextAnalysis.pmiBigrams(Tables.documents(s, d))),
    "q_docs_source_kl" -> ((s, d) =>
      TextAnalysis.sourceKlDivergence(Tables.documents(s, d))),
    "q_events_cusum_fixed" -> ((s, d) =>
      EventOps.cusumFixed(Tables.events(s, d))),
    "q_stream_cusum" -> ((s, d) =>
      streaming.EventStreamPipelines.cusumAlarmsAvailableNow(s, d)),
    "q_events_mad_outliers" -> ((s, d) =>
      EventOps.madOutliers(Tables.events(s, d))),
    "q_docs_zipf" -> ((s, d) =>
      TextAnalysis.zipfSlope(Tables.documents(s, d))),
    "q_docs_source_overlap" -> ((s, d) =>
      TextAnalysis.sourceOverlap(Tables.documents(s, d))),
    "q_events_stickiness" -> ((s, d) =>
      EventOps.stickiness(Tables.events(s, d))),
    "q_events_hill" -> ((s, d) =>
      EventOps.hillTail(Tables.events(s, d))),
    "q_events_spearman" -> ((s, d) =>
      EventOps.spearmanCorrelation(Tables.events(s, d))),
    "q_ann_hard_negatives" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.hardNegatives(emb, emb.filter(col("vec_id") < 10))
    }),
    "q_docs_mixture_alloc" -> ((s, d) =>
      TextAnalysis.temperatureMixture(Tables.documents(s, d))),
    "q_events_edge_growth" -> ((s, d) =>
      GraphOps.edgeGrowth(Tables.events(s, d))),
    "q_events_edge_growth_dropall" -> ((s, d) =>
      GraphOps.edgeGrowth(Tables.events(s, d),
        policy = GraphOps.DropAll(acknowledgeVacuous = true))),
    "q_ann_rrf" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.rrfFusion(emb, emb.filter(col("vec_id") < 10))
    }),
    "q_multimodal_dedup" -> ((s, d) =>
      graft.multimodal.Multimodal.mediaDedup(Tables.documents(s, d))),
    "q_events_slippage" -> ((s, d) =>
      EventOps.vwapSlippage(Tables.events(s, d))),
    "q_events_beta" -> ((s, d) =>
      EventOps.marketBeta(Tables.events(s, d))),
    "q_events_seasonal_anomalies" -> ((s, d) =>
      EventOps.seasonalAnomalies(Tables.events(s, d))),
    "q_embeddings_outliers" -> ((s, d) =>
      Similarity.embeddingOutliers(Tables.embeddings(s, d))),
    "q_docs_split_leakage" -> ((s, d) =>
      Dedup.splitLeakage(Tables.documents(s, d))),
    "q_events_churn" -> ((s, d) =>
      EventOps.walletChurn(Tables.events(s, d))),
    "q_events_rfm" -> ((s, d) =>
      EventOps.walletRfm(Tables.events(s, d))),
    "q_docs_effective_tokens" -> ((s, d) =>
      Dedup.effectiveTokens(Tables.documents(s, d))),
    "q_docs_bigram_entropy" -> ((s, d) =>
      TextAnalysis.bigramEntropy(Tables.documents(s, d))),
    "q_events_stationary_mix" -> ((s, d) =>
      EventOps.stationaryTypeMix(Tables.events(s, d))),
    "q_events_last_digit" -> ((s, d) =>
      EventOps.lastDigitUniformity(Tables.events(s, d))),
    "q_stream_seasonal" -> ((s, d) =>
      streaming.EventStreamPipelines.seasonalAvailableNow(s, d)),
    "q_ann_mmr" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.mmrSelect(emb, emb.filter(col("vec_id") < 10))
    }),
    "q_events_fifo_match" -> ((s, d) =>
      EventOps.fifoMatches(Tables.events(s, d))),
    "q_events_absorption" -> ((s, d) =>
      EventOps.absorptionProbabilities(Tables.events(s, d))),
    "q_docs_dup_flow" -> ((s, d) =>
      Dedup.crossSourceDupFlow(Tables.documents(s, d))),
    "q_docs_curriculum" -> ((s, d) =>
      Sampling.curriculumBins(Tables.documents(s, d))),
    "q_events_diurnal" -> ((s, d) =>
      EventOps.diurnalConcentration(Tables.events(s, d))),
    "q_docs_readability" -> ((s, d) =>
      TextAnalysis.lixReadability(Tables.documents(s, d))),
    "q_docs_burstiness" -> ((s, d) =>
      TextAnalysis.termBurstiness(Tables.documents(s, d))),
    "q_docs_quality_calibrated" -> ((s, d) =>
      TextAnalysis.calibratedQuality(Tables.documents(s, d))),
    "q_docs_novelty" -> ((s, d) =>
      TextAnalysis.ngramNovelty(Tables.documents(s, d))),
    "q_events_sign_runs" -> ((s, d) =>
      EventOps.signRunsTest(Tables.events(s, d))),
    "q_events_hurst" -> ((s, d) =>
      EventOps.hurstExponent(Tables.events(s, d))),
    "q_events_copy_trading" -> ((s, d) =>
      EventOps.copyTrading(Tables.events(s, d))),
    "q_docs_context_fit" -> ((s, d) =>
      Sampling.contextFitReport(Tables.documents(s, d))),
    "q_events_reactivations" -> ((s, d) =>
      EventOps.reactivations(Tables.events(s, d))),
    "q_events_whale_share" -> ((s, d) =>
      EventOps.whaleShare(Tables.events(s, d))),
    "q_ann_dim_stats" -> ((s, d) =>
      Similarity.embeddingDimStats(Tables.embeddings(s, d))),
    "q_events_flow_imbalance" -> ((s, d) =>
      EventOps.flowImbalance(Tables.events(s, d))),
    "q_dedup_best_quality" -> ((s, d) =>
      Dedup.canonicalizeByQuality(Tables.documents(s, d),
        Dedup.ngramJaccard(Tables.documents(s, d), 0.5))),
    // rep-level twin: same report (shares the oracle SQL verbatim) with
    // the expanded pair list nowhere in the plan — the form the scale
    // sidecars verify (the expanded feed is quadratic under replication)
    "q_dedup_best_quality_rep" -> ((s, d) =>
      Dedup.canonicalizeByQualityRep(Tables.documents(s, d),
        Dedup.ngramJaccard(Tables.documents(s, d), 0.5, expand = false))),
    "q_docs_source_scorecard" -> ((s, d) =>
      TextAnalysis.sourceScorecard(Tables.documents(s, d))),
    // C73: DSIR importance weights — target = a fixed 4-source slice
    // (deterministic at every SF); weights feed the sampling operators
    "q_docs_dsir_weights" -> ((s, d) =>
      TextAnalysis.dsirWeights(Tables.documents(s, d),
        col("source").isin("src0", "src1", "src2", "src3"))),
    // A13i oracled: u128 little-endian decode — synthesized 16-byte
    // values (low = event_id, high = event_id·7) must decode to
    // id + id·7·2^64 computed independently in 128-bit integer SQL
    "q_events_u128_decode" -> ((s, d) => {
      // v rendered as digits: Decimal(38,0) loses precision through the
      // oracle harness's float64 frame (2^53), a string never does
      Tables.events(s, d).select(col("event_id"),
        le_u128(concat(le_bytes(col("event_id"), 8),
          le_bytes(col("event_id") * 7, 8)), 0).cast("string").as("v"))
    }),
    // ----- QA gates (round 11): the declared-sketch family's
    // recall/error bounds as DRIVER-CHECKABLE queries — each runs the
    // sketch and its exact in-engine reference in one plan and reduces
    // to a constant (gate, bound, holds=TRUE) row; a regression flips
    // holds and the hash compare goes red. Bounds pinned from measured
    // values at sf0.01–sf10 (GateProbe) with ample margin.
    "q_qa_ivf_recall" -> ((s, d) =>
      annRecallGate(Tables.embeddings(s, d), "ivf_recall", 0.15)(
        Similarity.ivfTopK(_, _, 5))),
    "q_qa_pq_recall" -> ((s, d) =>
      annRecallGate(Tables.embeddings(s, d), "pq_recall", 0.1)(
        Similarity.pqTopK(_, _, 64, 5))),
    "q_qa_ivfpq_recall" -> ((s, d) =>
      annRecallGate(Tables.embeddings(s, d), "ivfpq_recall", 0.08)(
        Similarity.ivfpqTopK(_, _, 64, 5))),
    "q_qa_pq_served_consistent" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val q = emb.filter(col("vec_id") < 10)
      val cb = pqCodebookCache.computeIfAbsent(d, _ =>
        Similarity.pqCodebook(emb, 64).localCheckpoint(eager = true))
      operators.QaGates.multisetEqualGate(
        Similarity.pqTopK(emb, q, 64, 5),
        Similarity.pqTopK(emb, q, 64, 5, codebook = Some(cb)),
        "pq_served_consistent")
    }),
    "q_qa_mmr_valid" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      operators.QaGates.mmrValidGate(emb, emb.filter(col("vec_id") < 10))
    }),
    "q_qa_minhash_recall" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      operators.QaGates.pairRecallGate(
        Dedup.ngramJaccard(docs, 0.5), Dedup.minhashLsh(docs, 0.5),
        ("d1", "d2"), "minhash_recall", 0.7)
    }),
    "q_qa_hyperplane_recall" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      operators.QaGates.pairRecallGate(
        Similarity.cosinePairs(emb, 0.3),
        Similarity.hyperplaneLshPairs(emb, 0.3),
        ("v1", "v2"), "hyperplane_recall", 0.4)
    }),
    // simhash approximates cosine on token space, not Jaccard — the
    // measured recall vs exact jaccard-0.8 pairs is ~0.16-0.20; the
    // gate is a regression FLOOR (breakage → ~0), not a quality claim
    "q_qa_simhash_recall" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      operators.QaGates.pairRecallGate(
        Dedup.ngramJaccard(docs, 0.8), Dedup.simhash(docs),
        ("d1", "d2"), "simhash_recall", 0.08)
    }),
    "q_qa_approx_users" -> ((s, d) =>
      operators.QaGates.approxUsersGate(Tables.events(s, d))),
    "q_qa_hll_range" -> ((s, d) =>
      operators.QaGates.hllRangeGate(Tables.events(s, d))),
    "q_qa_approx_percentile" -> ((s, d) =>
      operators.QaGates.approxPercentileGate(Tables.events(s, d))),
    "q_qa_cms_error" -> ((s, d) =>
      operators.QaGates.cmsErrorGate(Tables.events(s, d))),
    "q_qa_kmeans_descent" -> ((s, d) =>
      operators.QaGates.kmeansDescentGate(Tables.embeddings(s, d))),
    "q_qa_mg_bound" -> ((s, d) =>
      operators.QaGates.mgHeavyHittersGate(Tables.events(s, d))),
    "q_qa_whitening" -> ((s, d) =>
      operators.QaGates.whiteningGate(Tables.embeddings(s, d))),
    "q_ann_truncation" -> ((s, d) =>
      Similarity.truncationFidelity(Tables.embeddings(s, d))),
    // the 100 TB variants of the two dedup-composing reports: identical
    // downstream pipeline fed by LSH candidates instead of the exact
    // quadratic inverted-index join (no SQL oracle — MinHash banding is
    // engine-specific; DedupSimilaritySpec pins recall vs the exact feed)
    "q_docs_split_leakage_lsh" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.splitLeakage(docs, pairs = Some(Dedup.lshPairs(docs)))
    }),
    "q_docs_effective_tokens_lsh" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.effectiveTokens(docs, pairs = Some(Dedup.lshPairs(docs)))
    }),
    // rep-level pair contract for the three composing reports: SAME
    // report (shares the expanded twin's oracle SQL verbatim) with the
    // expanded pair list nowhere in the plan — cost ∝ distinct content
    "q_docs_split_leakage_rep" -> ((s, d) =>
      Dedup.splitLeakageRep(Tables.documents(s, d))),
    "q_docs_effective_tokens_rep" -> ((s, d) =>
      Dedup.effectiveTokensRep(Tables.documents(s, d))),
    "q_docs_dup_flow_rep" -> ((s, d) =>
      Dedup.crossSourceDupFlowRep(Tables.documents(s, d))),
    // the full 100 TB path: MinHash-LSH banding over distinct content,
    // rep pairs + member lists, report algebra over memberships — pair
    // expansion nowhere (no SQL oracle — LSH feed; recall spec-pinned)
    "q_docs_split_leakage_rep_lsh" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.splitLeakageRep(docs, repPairs = Some(Dedup.lshPairsRep(docs)))
    }),
    "q_docs_effective_tokens_rep_lsh" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.effectiveTokensRep(docs,
        repPairs = Some(Dedup.lshPairsRep(docs)))
    }),
    // C65: soft dedup — every doc kept, down-weighted 1/cluster-size;
    // the oracled surface is the exact integer multiplicity histogram
    "q_docs_soft_dedup" -> ((s, d) =>
      Dedup.sourceMultiplicity(Tables.documents(s, d))),
  )

  /** Shared CTE block for the eight exact-n-gram dedup oracles
    * (C4/C13/C13b/C13c/C29/C38/C57/C58 families): doc-level trigram
    * sets, then the SAME exact-duplicate collapse the Spark operators
    * use (Dedup.scala) — docs with identical distinct-trigram sets are
    * interchangeable for every gram-set statistic (inter, n, Jaccard,
    * containment depend only on the sets), so the quadratic pair join
    * runs on ONE representative per class and class-level pairs expand
    * back to doc-level afterwards. Output is provably identical to the
    * uncollapsed formulation (these oracles all run maxDocFreq=None);
    * what changes is feasibility: on K-fold replicated corpora the raw
    * join scans K² times the gram pairs (DuckDB died at sf10, K=100),
    * while the collapsed join is corpus-size-invariant in K.
    *
    * `pred` filters pairs at the REP level, written over `pr.inter`,
    * `s1.n` (size of the d1 side), `s2.n`; it must be true at metric 1
    * (identity pairs expand unfiltered — Jaccard and containment are
    * both exactly 1 within a class, passing every tau used here).
    *
    * Emits CTEs `p(d1, d2, inter)` (d1 < d2), `sz(doc_id, n)` — the
    * same names/shapes the uncollapsed oracles exposed — plus
    * `lbl(doc_id, keep_id)`: connected-component labels over the
    * pred-passing pair graph, for the clustering oracles. r7: the gram
    * chain (t/ti/g) runs over TEXT representatives only — identical
    * text collapses on md5(text) first (`dh`/`tc`), mirroring the Spark
    * side's gramSetGroups — and `fpd` maps every doc to its rep's
    * gram-set fingerprint through id-only joins. Output-preserving
    * (identical text ⇒ identical grams ⇒ identical fpk; the fpk-class
    * min doc is always a text rep, so `gr` semantics are unchanged) and
    * it makes the ORACLE replication-invariant too: at sf100 the
    * per-doc formulation aggregated ~750M gram rows and exceeded both
    * 85 GB RAM and 72 GB spill, where the rep formulation is
    * sf0.1-sized. `p` stays PLAIN deliberately: DuckDB evaluates
    * MATERIALIZED CTEs eagerly even when unreferenced (measured: a
    * 5e8-row unreferenced materialized CTE costs 4.7 s, plain 0.0 s),
    * and the member-level pair expansion is Σ C(k,2) ≈ 10¹⁰ rows at
    * sf100 — every lbl-only query was paying for it. All consumers
    * reference p at most once, so inlining costs them nothing. The
    * transitive closure runs at REP level (member-level closure is
    * quadratic in cluster size — 100-member identity clusters at sf10
    * made `reach` ~500M rows) and expands back: a doc belongs to a
    * component iff its class has ≥2 members or its rep has an edge,
    * and keep_id = the component's minimum doc_id = minimum rep
    * (reps are class minima) — exactly the uncollapsed least(a,
    * min(reachable)) over the complete expanded subgraph. Unreferenced
    * CTEs are pruned by the engine. The MATERIALIZED markers on the
    * shared CTEs are load-bearing at scale: DuckDB inlines plain CTEs
    * per reference, so `fpd`/`cls`/`lbl` (each referenced 2-6 times
    * downstream) would re-evaluate the 26M-row gram chain concurrently
    * — witnessed blowing the 100 GiB buffer limit at sf10 while every
    * individual CTE measured ≤ 1.1M rows. Returned WITHOUT the leading
    * `WITH` so callers can prepend their own CTEs. */
  /** The C4 near-dup predicate (trigram Jaccard ≥ 0.5) at rep level —
    * shared by every dedup-report oracle that consumes exact pairs. */
  private val jaccardPred: String =
    "CAST(pr.inter AS DOUBLE) / " +
      "CAST(s1.n + s2.n - pr.inter AS DOUBLE) >= 0.5"

  private def collapsedDocPairsCtes(pred: String): String =
    s"""dh AS MATERIALIZED (SELECT doc_id, md5(text) AS h
                            FROM documents),
         tc AS MATERIALIZED (SELECT h, min(doc_id) AS tdoc
                             FROM dh GROUP BY 1),
         t AS (SELECT tc.tdoc AS doc_id,
                      string_split(lower(d.text), ' ') AS ws
               FROM documents d JOIN tc ON d.doc_id = tc.tdoc),
         ti AS (SELECT doc_id, ws,
                  unnest(generate_series(1, len(ws) - 2)) AS i
                FROM t WHERE len(ws) >= 3),
         g AS (SELECT DISTINCT doc_id,
                      ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS g
               FROM ti),
         fpr AS (SELECT doc_id,
                        md5(string_agg(g, chr(31) ORDER BY g)) AS fpk
                 FROM g GROUP BY doc_id),
         fpd AS MATERIALIZED (SELECT dh.doc_id, fpr.fpk
                 FROM dh JOIN tc USING (h)
                 JOIN fpr ON fpr.doc_id = tc.tdoc),
         cls AS MATERIALIZED (
           SELECT fpk, min(doc_id) AS rep FROM fpd GROUP BY fpk),
         gr AS MATERIALIZED (
           SELECT g.doc_id, g.g FROM g JOIN cls c ON g.doc_id = c.rep),
         szr AS MATERIALIZED (
           SELECT doc_id, count(*) AS n FROM gr GROUP BY 1),
         sz AS (SELECT f.doc_id, s.n
                FROM fpd f JOIN cls c ON f.fpk = c.fpk
                JOIN szr s ON s.doc_id = c.rep),
         prr AS (SELECT a.doc_id AS r1, b.doc_id AS r2,
                        count(*) AS inter
                 FROM gr a JOIN gr b
                   ON a.g = b.g AND a.doc_id < b.doc_id
                 GROUP BY 1, 2),
         pv AS MATERIALIZED (SELECT pr.r1, pr.r2, pr.inter
                FROM prr pr
                JOIN szr s1 ON pr.r1 = s1.doc_id
                JOIN szr s2 ON pr.r2 = s2.doc_id
                WHERE $pred),
         p AS (
           SELECT least(ma.doc_id, mb.doc_id) AS d1,
                  greatest(ma.doc_id, mb.doc_id) AS d2, pv.inter
           FROM pv
           JOIN cls ca ON pv.r1 = ca.rep
           JOIN fpd ma ON ma.fpk = ca.fpk
           JOIN cls cb ON pv.r2 = cb.rep
           JOIN fpd mb ON mb.fpk = cb.fpk
           UNION ALL
           SELECT x.doc_id AS d1, y.doc_id AS d2, s.n AS inter
           FROM fpd x
           JOIN fpd y ON x.fpk = y.fpk AND x.doc_id < y.doc_id
           JOIN cls c ON x.fpk = c.fpk
           JOIN szr s ON s.doc_id = c.rep),
         redges AS (SELECT r1 AS a, r2 AS b FROM pv
                    UNION SELECT r2, r1 FROM pv),
         rlbl AS (SELECT a AS rep, least(a, min(b)) AS keep FROM (
             WITH RECURSIVE reach(a, b) AS (
               SELECT a, b FROM redges
               UNION
               SELECT r.a, e.b FROM reach r JOIN redges e ON r.b = e.a)
             SELECT a, b FROM reach)
           GROUP BY a),
         csz AS (SELECT fpk, count(*) AS m FROM fpd GROUP BY fpk),
         lbl AS MATERIALIZED (
           SELECT f.doc_id,
                  least(f.doc_id, coalesce(rl.keep, c.rep)) AS keep_id
           FROM fpd f
           JOIN cls c ON f.fpk = c.fpk
           JOIN csz ON csz.fpk = f.fpk
           LEFT JOIN rlbl rl ON rl.rep = c.rep
           WHERE rl.rep IS NOT NULL OR csz.m >= 2)"""

  /** The integer-PageRank oracle unrolls GraphOps.coactivityPagerank's
    * 10 damped steps as plain CTEs (recursive CTEs can't aggregate in
    * the recursive term) — every step is the same 64-bit truncating
    * integer arithmetic as the Spark loop, so the fixed point is
    * bit-identical.
    *
    * The edge CTE is `list(user_id)` per qualifying bucket + double
    * unnest, NOT an act×act self-join: HAVING prunes every over-cap
    * bucket before a single pair exists, so pair cardinality is
    * structurally ≤ 64² per bucket no matter what join order the
    * oracle engine picks. (The self-join form died at sf10: DuckDB
    * reordered act×act ahead of the bucket filter AND inlined the
    * un-MATERIALIZED `e` into all 11 references — ~10¹⁰ rows spilled
    * past 76 GB of temp. `e AS MATERIALIZED` is load-bearing too:
    * it is referenced by every unrolled step.) */
  private def integerPagerankOracle(edgeCtes: String): String = {
    val steps = (1 to 10).map { k =>
      s""", p$k AS (
         SELECT d.src AS node,
                (SELECT 150000000000 // n FROM nn) +
                  (85 * COALESCE(i.s, 0)) // 100 AS pr
         FROM d LEFT JOIN (
           SELECT e.dst AS dnode, sum(p.pr // d2.deg) AS s
           FROM e JOIN p${k - 1} p ON e.src = p.node
                JOIN d d2 ON e.src = d2.src
           GROUP BY e.dst) i ON d.src = i.dnode)"""
    }.mkString
    s"""WITH $edgeCtes,
       d AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
       nn AS (SELECT count(*) AS n FROM d),
       p0 AS (SELECT src AS node, 1000000000000 // n AS pr FROM d, nn)
       $steps
       SELECT d.src AS node, CAST(d.deg AS BIGINT) AS deg,
              CAST(p.pr AS BIGINT) AS pr
       FROM d JOIN p10 p ON d.src = p.node"""
  }

  private lazy val pagerankOracle: String =
    integerPagerankOracle(dropEdgeCtes64)

  /** Shared degrade-not-drop bucket CTEs (GraphOps.cappedBuckets): each
    * (market, hour) keeps its 16 most-active wallets (count desc, id
    * tie-break) instead of being dropped when over-cap — non-vacuous
    * at any density. `cb` carries the bucket keys so day-keyed
    * consumers (edge growth) can reuse it; every CTE that fans out is
    * MATERIALIZED (the kcore/pagerank inlining lesson). */
  private val cappedBucketCtes: String =
    """ac AS (
         SELECT event_type, epoch_us(ts) // 3600000000 AS mb, user_id,
                count(*) AS cnt
         FROM events GROUP BY 1, 2, 3),
       rk AS (
         SELECT event_type, mb, user_id,
                row_number() OVER (PARTITION BY event_type, mb
                  ORDER BY cnt DESC, user_id) AS rk
         FROM ac),
       cb AS MATERIALIZED (
         SELECT event_type, mb, list(user_id) AS us FROM rk
         WHERE rk <= 16
         GROUP BY 1, 2 HAVING count(*) >= 2)"""

  /** C74/C78 shared oracle CTEs: the rep-collapsed winnowing
    * fingerprint pair report, closed as `wp`. */
  private val winnowPairCtes: String =
    """reps AS (SELECT min(doc_id) AS doc_id, min(text) AS text
                       FROM documents GROUP BY md5(text)),
         wins AS (SELECT doc_id,
                         unnest(range(1, length(text) - 10)) AS pos, text
                  FROM reps WHERE length(text) >= 15),
         h AS (SELECT doc_id, pos,
                      md5(substr(text, CAST(pos AS INT), 12)) AS hh
               FROM wins),
         sel AS (SELECT doc_id, pos,
                        min(hh || lpad(CAST(999999999 - pos AS VARCHAR),
                                       9, '0'))
                          OVER (PARTITION BY doc_id ORDER BY pos
                                ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
                          AS s
                 FROM h),
         fps AS (SELECT DISTINCT doc_id, substr(s, 1, 32) AS fp
                 FROM sel WHERE pos >= 4),
         hot AS (SELECT fp FROM fps GROUP BY fp HAVING count(*) > 1000),
         g AS (SELECT * FROM fps
               WHERE fp NOT IN (SELECT fp FROM hot)),
         sizes AS (SELECT doc_id, count(*) AS nfp FROM g GROUP BY 1),
         pairs AS (SELECT a.doc_id AS d1, b.doc_id AS d2,
                          count(*) AS shared
                   FROM g a JOIN g b
                     ON a.fp = b.fp AND a.doc_id < b.doc_id
                   GROUP BY 1, 2 HAVING count(*) >= 2),
         wp AS (SELECT p.d1, p.d2, p.shared, s1.nfp AS n1, s2.nfp AS n2,
                p.shared * 1000000 // least(s1.nfp, s2.nfp) AS sim_ppm
         FROM pairs p
         JOIN sizes s1 ON p.d1 = s1.doc_id
         JOIN sizes s2 ON p.d2 = s2.doc_id)"""

  /** [[cappedBucketCtes]] plus the directed distinct edge set `e` —
    * the capped family's shared edge source (GraphOps.coactivityEdges
    * under its CapTop default). Kept separate from the bucket CTEs
    * because DuckDB evaluates MATERIALIZED CTEs EAGERLY even when
    * unreferenced — a consumer that never reads `e` must not pay for
    * (or spill on) it. */
  private val cappedEdgeCtes: String =
    cappedBucketCtes + """,
       e AS MATERIALIZED (
         SELECT DISTINCT src, dst FROM (
           SELECT src, unnest(us) AS dst FROM (
             SELECT unnest(us) AS src, us FROM cb))
         WHERE src <> dst)"""

  /** A71c oracle: identical unrolled steps over the capped edge set. */
  private lazy val pagerankCappedOracle: String =
    integerPagerankOracle(cappedEdgeCtes)

  /** Absorption-probability oracle: 10 unrolled value-iteration CTEs
    * under the A108/A71 integer contract — p₆-grid transitions from
    * non-absorbing types, per-edge truncating (p6·p) // 10⁶ flow,
    * target pinned to 10¹², trap to 0 — bit-identical to the Spark
    * loop's Long arithmetic. */
  private lazy val absorptionOracle: String = {
    val steps = (1 to 10).map { k =>
      s""", p$k AS (
         SELECT ty.t,
                CASE WHEN ty.t = 'purchase' THEN 1000000000000
                     WHEN ty.t = 'error' THEN 0
                     ELSE COALESCE(s.v, 0) END AS p
         FROM ty LEFT JOIN (
           SELECT tm.a AS t, sum((tm.p6 * p.p) // 1000000) AS v
           FROM tm JOIN p${k - 1} p ON tm.b = p.t
           GROUP BY 1) s ON ty.t = s.t)"""
    }.mkString
    s"""WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id,
                          event_type FROM events),
       nx AS (SELECT event_type,
                lead(event_type) OVER (PARTITION BY user_id
                  ORDER BY ts_us, event_id) AS nt
              FROM e),
       st AS (SELECT event_type AS a, nt AS b, count(*) AS c FROM nx
              WHERE nt IS NOT NULL
                AND event_type NOT IN ('purchase', 'error')
              GROUP BY 1, 2),
       tot AS (SELECT a, sum(c) AS tot FROM st GROUP BY 1),
       -- MATERIALIZED is load-bearing at scale: tm/ty are referenced
       -- by all 10 unrolled steps, and DuckDB inlines plain CTEs PER
       -- REFERENCE — ten concurrent re-evaluations of the corpus-wide
       -- lead() window behind tm exhausted an 88 GB budget at sf100
       -- where the one-shot evaluation is a k²-row table
       tm AS MATERIALIZED (
              SELECT st.a, st.b, (st.c * 1000000) // tot.tot AS p6
              FROM st JOIN tot ON st.a = tot.a),
       ty AS MATERIALIZED (SELECT DISTINCT event_type AS t FROM events),
       p0 AS (SELECT t, CASE WHEN t = 'purchase' THEN 1000000000000
                             ELSE 0 END AS p FROM ty)
       $steps
       SELECT t AS event_type, CAST(p AS BIGINT) AS p,
              CAST(p AS DOUBLE) / 1e12 AS prob FROM p10"""
  }

  /** Seeded-PageRank oracle: identical CTE unrolling to
    * [[pagerankOracle]] (including its bounded list-unnest edge CTE —
    * see the blow-up note there), but rank mass starts on (and
    * restarts to) the seed wallets — the `ns`-way truncating splits
    * mirror the Spark loop's Long divisions exactly. */
  private def taintOracleOn(edgeCtes: String): String = {
    val steps = (1 to 10).map { k =>
      s""", p$k AS (
         SELECT d.src AS node,
                (CASE WHEN sd.seed IS NOT NULL
                      THEN (SELECT 150000000000 // ns FROM nn)
                      ELSE 0 END) +
                  (85 * COALESCE(i.s, 0)) // 100 AS pr
         FROM d LEFT JOIN seeds sd ON d.src = sd.seed
         LEFT JOIN (
           SELECT e.dst AS dnode, sum(p.pr // d2.deg) AS s
           FROM e JOIN p${k - 1} p ON e.src = p.node
                JOIN d d2 ON e.src = d2.src
           GROUP BY e.dst) i ON d.src = i.dnode)"""
    }.mkString
    s"""WITH $edgeCtes,
       d AS MATERIALIZED (SELECT src, count(*) AS deg FROM e GROUP BY 1),
       seeds AS MATERIALIZED (
         -- MATERIALIZED is load-bearing at scale: seeds is referenced
         -- from p0 and every unrolled step (11 references), and DuckDB
         -- inlines plain CTEs PER REFERENCE — eleven concurrent
         -- re-evaluations of this corpus-wide user group-by exhausted
         -- an 88 GB budget at sf100 where the one-shot evaluation is
         -- trivial (output ≤ 10 rows)
         SELECT t.user_id AS seed FROM (
           SELECT user_id, count(*) AS cnt FROM events
           GROUP BY 1 ORDER BY cnt DESC, user_id LIMIT 10) t
         JOIN d ON t.user_id = d.src),
       nn AS MATERIALIZED (SELECT count(*) AS ns FROM seeds),
       p0 AS (
         SELECT d.src AS node,
                CASE WHEN sd.seed IS NOT NULL
                     THEN (SELECT 1000000000000 // ns FROM nn)
                     ELSE 0 END AS pr
         FROM d LEFT JOIN seeds sd ON d.src = sd.seed)
       $steps
       SELECT d.src AS node, CAST(d.deg AS BIGINT) AS deg,
              CAST(p.pr AS BIGINT) AS taint
       FROM d JOIN p10 p ON d.src = p.node"""
  }

  /** Drop-policy (cap 64) edge CTEs — the legacy opt-in edge source
    * the `_dropall` pagerank and taint twins verify against. */
  private val dropEdgeCtes64: String =
    """act AS (
         SELECT DISTINCT event_type, epoch_us(ts) // 3600000000 AS mb,
                         user_id
         FROM events),
       b AS MATERIALIZED (
         SELECT list(user_id) AS us FROM act
         GROUP BY event_type, mb HAVING count(*) BETWEEN 2 AND 64),
       e AS MATERIALIZED (
         SELECT DISTINCT src, dst FROM (
           SELECT src, unnest(us) AS dst FROM (
             SELECT unnest(us) AS src, us FROM b))
         WHERE src <> dst)"""

  /** Seeded-pagerank oracle over the default capped edge set. */
  private lazy val taintOracle: String = taintOracleOn(cappedEdgeCtes)
  /** Seeded-pagerank oracle over the opt-in drop-policy edge set. */
  private lazy val taintDropallOracle: String =
    taintOracleOn(dropEdgeCtes64)

  /** k-core oracle: `maxPeels` peel rounds unrolled; each step MUST be
    * `AS MATERIALIZED` — the step CTE is referenced twice (src and dst
    * semi-joins), and DuckDB's default inlining would re-evaluate the
    * whole chain per reference, going exponential in the peel count. */
  private def kcoreUnrolled(edgeCtes: String): String = {
    val steps = (1 to 12).map { j =>
      s""", s$j AS MATERIALIZED (
         SELECT e.src AS node FROM e
         JOIN s${j - 1} a ON e.src = a.node
         JOIN s${j - 1} b ON e.dst = b.node
         GROUP BY 1 HAVING count(*) >= 8)"""
    }.mkString
    s"""WITH $edgeCtes,
       s0 AS MATERIALIZED (SELECT DISTINCT src AS node FROM e)
       $steps
       SELECT e.src AS node, CAST(count(*) AS BIGINT) AS core_deg
       FROM e
       JOIN s12 a ON e.src = a.node
       JOIN s12 b ON e.dst = b.node
       GROUP BY 1"""
  }

  private lazy val kcoreOracle: String = kcoreUnrolled(
    """act AS (
         SELECT DISTINCT event_type, epoch_us(ts) // 3600000000 AS mb,
                         user_id
         FROM events),
       sized AS (
         SELECT event_type, mb FROM act
         GROUP BY 1, 2 HAVING count(*) BETWEEN 2 AND 64),
       e AS MATERIALIZED (
         SELECT DISTINCT x.user_id AS src, y.user_id AS dst
         FROM (SELECT a.* FROM act a JOIN sized sa
                 ON a.event_type = sa.event_type AND a.mb = sa.mb) x
         JOIN (SELECT a.* FROM act a JOIN sized sb
                 ON a.event_type = sb.event_type AND a.mb = sb.mb) y
           ON y.event_type = x.event_type AND y.mb = x.mb
         WHERE x.user_id <> y.user_id)""")

  /** A76b oracle: the same 12 unrolled peels over the capped edge set. */
  private lazy val kcoreCappedOracle: String = kcoreUnrolled(cappedEdgeCtes)

  /** Legacy drop-policy pair CTEs, the `_dropall` twins' source:
    * `act`, the (market, hour) buckets `sized` of 2 to 16 wallets, and
    * `rel` selecting `cols` from each ordered wallet pair of a bucket. */
  private def dropPairCtes(rel: String, cols: String): String =
    s"""act AS (
           SELECT DISTINCT event_type, epoch_us(ts) // 3600000000 AS mb,
                           user_id
           FROM events),
         sized AS (
           SELECT event_type, mb FROM act
           GROUP BY 1, 2 HAVING count(*) BETWEEN 2 AND 16),
         $rel AS (
           SELECT DISTINCT $cols
           FROM (SELECT a.* FROM act a JOIN sized sa
                   ON a.event_type = sa.event_type AND a.mb = sa.mb) x
           JOIN (SELECT a.* FROM act a JOIN sized sb
                   ON a.event_type = sb.event_type AND a.mb = sb.mb) y
             ON y.event_type = x.event_type AND y.mb = x.mb
           WHERE x.user_id < y.user_id)"""

  private val dropEdgeCtes16: String =
    dropPairCtes("e", "x.user_id AS src, y.user_id AS dst")

  /** Triangle counts and local clustering over the undirected edge
    * relation `u` that `edgeCtes` defines. */
  private def trianglesOracle(edgeCtes: String, u: String): String =
    s"""WITH $edgeCtes,
         deg AS (
           SELECT node, count(*) AS deg FROM (
             SELECT src AS node FROM $u
             UNION ALL SELECT dst AS node FROM $u) GROUP BY 1),
         centers AS (SELECT node FROM deg WHERE deg <= 256),
         tri AS (
           SELECT ab.src AS a, ab.dst AS b, bc.dst AS c
           FROM $u ab
           JOIN centers cz ON ab.dst = cz.node
           JOIN $u bc ON ab.dst = bc.src
           JOIN $u ac ON ac.src = ab.src AND ac.dst = bc.dst),
         pn AS (
           SELECT node, count(*) AS tri FROM (
             SELECT a AS node FROM tri
             UNION ALL SELECT b AS node FROM tri
             UNION ALL SELECT c AS node FROM tri) GROUP BY 1)
         SELECT d.node, CAST(d.deg AS BIGINT) AS deg,
                CAST(COALESCE(p.tri, 0) AS BIGINT) AS tri,
                CAST(CASE WHEN d.deg >= 2
                     THEN (2 * COALESCE(p.tri, 0) * 1000000)
                            // (d.deg * (d.deg - 1))
                     ELSE 0 END AS BIGINT) AS cc_1e6
         FROM deg d LEFT JOIN pn p ON d.node = p.node"""

  /** Connected wallet clusters (min-id label by recursive reach) over
    * the directed relation `edges(a, b)` that `edgeCtes` defines. */
  private def walletClustersOracle(edgeCtes: String, edges: String,
      a: String, b: String): String =
    s"""WITH $edgeCtes,
         cl AS (
           SELECT a AS wallet, least(a, min(b)) AS cluster_id FROM (
             WITH RECURSIVE reach(a, b) AS (
               SELECT $a, $b FROM $edges
               UNION
               SELECT r.a, e2.$b FROM reach r JOIN $edges e2 ON r.b = e2.$a)
             SELECT a, b FROM reach)
           GROUP BY a),
         sz AS (SELECT cluster_id, count(*) AS cluster_size
                FROM cl GROUP BY 1)
         SELECT cl.wallet, cl.cluster_id,
                CAST(sz.cluster_size AS BIGINT) AS cluster_size
         FROM cl JOIN sz USING (cluster_id)"""

  /** Common-neighbour and resource-allocation scores over the
    * directed edges `e` and undirected edges `und` that `edgeCtes`
    * defines. */
  private def neighborSimOracle(edgeCtes: String): String =
    s"""WITH $edgeCtes,
         deg AS (SELECT src AS node, count(*) AS deg FROM e GROUP BY 1),
         centers AS (SELECT node AS z,
                 CAST(round(1.0 / deg, 9) AS DECIMAL(12,9)) AS ra_w
               FROM deg WHERE deg <= 256),
         wedges AS (
           SELECT e1.src AS a, e2.dst AS b, c.ra_w
           FROM e e1
           JOIN e e2 ON e1.dst = e2.src
           JOIN centers c ON e1.dst = c.z
           WHERE e1.src < e2.dst),
         pairs AS (
           SELECT a, b, count(*) AS common, sum(ra_w) AS ra
           FROM wedges GROUP BY 1, 2 HAVING count(*) >= 2)
         SELECT p.a, p.b, p.common, da.deg AS deg_a, db.deg AS deg_b,
                CAST(p.common AS DOUBLE) /
                  CAST(da.deg + db.deg - p.common AS DOUBLE) AS jaccard,
                CAST(p.ra AS DOUBLE) AS ra_score,
                COALESCE(u.is_edge, false) AS is_edge
         FROM pairs p
         JOIN deg da ON p.a = da.node
         JOIN deg db ON p.b = db.node
         LEFT JOIN (SELECT src AS a, dst AS b, true AS is_edge FROM und) u
           ON p.a = u.a AND p.b = u.b"""

  /** Daily new-pair ratio over the pair relation `dp(db, a, b)` that
    * `pairCtes` defines. */
  private def edgeGrowthOracle(pairCtes: String): String =
    s"""WITH $pairCtes,
         fs AS (SELECT a, b, min(db) AS first_db FROM dp GROUP BY 1, 2)
         SELECT dp.db * 86400 AS day, count(*) AS n_pairs,
                count(*) FILTER (WHERE dp.db = fs.first_db) AS n_new,
                CAST(count(*) FILTER (WHERE dp.db = fs.first_db)
                     AS DOUBLE) / CAST(count(*) AS DOUBLE) AS new_ratio
         FROM dp JOIN fs ON dp.a = fs.a AND dp.b = fs.b
         GROUP BY dp.db"""

  /** Sandwich attackers per hour over the trade slice `tt` that
    * `ttCtes` selects from the hourly trades `t`. */
  private def sandwichOracle(ttCtes: String): String =
    s"""WITH t AS (
           SELECT epoch_us(ts) // 3600000000 AS mb, event_id, user_id,
                  event_type,
                  CAST(round(value * 100) AS BIGINT) AS cents
           FROM events WHERE event_type IN ('purchase', 'view')),
         $ttCtes,
         br AS (
           SELECT mb, user_id AS attacker,
                  min(CASE WHEN event_type = 'purchase'
                      THEN event_id END) AS b,
                  max(CASE WHEN event_type = 'view'
                      THEN event_id END) AS s
           FROM tt GROUP BY 1, 2
           HAVING b IS NOT NULL AND s IS NOT NULL AND s > b)
         SELECT br.attacker,
                CAST(count(DISTINCT br.mb) AS BIGINT) AS n_hours,
                CAST(count(*) AS BIGINT) AS n_victim_trades,
                CAST(count(DISTINCT tt.user_id) AS BIGINT) AS n_victims,
                CAST(sum(tt.cents) AS BIGINT) AS victim_cents
         FROM br JOIN tt ON tt.mb = br.mb
         WHERE tt.user_id <> br.attacker
           AND tt.event_id > br.b AND tt.event_id < br.s
         GROUP BY 1"""

  /** Latest prior view per purchase (`viewCols` picks it, or drops it
    * past a tolerance): the as-of join, shared by the sort-merge
    * (`q_events_asof_attribution`), custom-exec (`q_events_asof_merge`)
    * and tolerance (`q_events_asof_tolerance`) plans. */
  private def asOfOracleWith(viewCols: String): String =
    s"""WITH v AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id,
                           0 AS kind, event_id AS view_id,
                           epoch_us(ts) AS view_ts_us
                    FROM events WHERE event_type = 'view'),
         p AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id, 1 AS kind,
                      CAST(NULL AS BIGINT) AS view_id,
                      CAST(NULL AS BIGINT) AS view_ts_us
               FROM events WHERE event_type = 'purchase'),
         u AS (SELECT * FROM v UNION ALL SELECT * FROM p),
         w AS (SELECT *, last_value(view_id IGNORE NULLS) OVER win AS lv,
                      last_value(view_ts_us IGNORE NULLS) OVER win AS lvts
               FROM u WINDOW win AS (PARTITION BY user_id
                 ORDER BY ts_us, kind, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         SELECT event_id AS purchase_id, user_id, ts_us AS purchase_ts_us,
                $viewCols
         FROM w WHERE kind = 1"""

  private val asOfOracle: String =
    asOfOracleWith("lv AS view_id, lvts AS view_ts_us")

  /** 30-minute gap sessions: the batch `session_window` plan and its
    * availableNow stream twin must both hash-match it. */
  private val sessionNativeOracle: String =
    """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us,
                           CAST(value AS DECIMAL(18,2)) AS v FROM events),
         s AS (SELECT user_id, ts_us, v,
                      CASE WHEN lag(ts_us) OVER w IS NULL
                           OR ts_us - lag(ts_us) OVER w >= 1800000000
                           THEN 1 ELSE 0 END AS ns
               FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)),
         c AS (SELECT *, sum(ns) OVER (PARTITION BY user_id ORDER BY ts_us
                 ROWS UNBOUNDED PRECEDING) AS sid
               FROM s)
         SELECT user_id, min(ts_us) AS start_us,
                max(ts_us) + 1800000000 AS end_us,
                count(*) AS n_events, CAST(sum(v) AS DOUBLE) AS total_value
         FROM c GROUP BY user_id, sid"""

  /** Day-bucket histogram quantiles: the batch store and the streamed
    * partials must agree exactly (histogram addition is exact). */
  private val quantileStoreOracle: String =
    """WITH h AS (
           SELECT epoch_us(ts) // 86400000000 AS db,
                  CAST(round(value * 100) AS BIGINT) // 100 AS bucket,
                  count(*) AS n
           FROM events GROUP BY 1, 2),
         m AS (SELECT bucket, sum(n) AS n FROM h GROUP BY 1),
         c AS (SELECT a.bucket, CAST(sum(b.n) AS BIGINT) AS cum
               FROM m a JOIN m b ON b.bucket <= a.bucket GROUP BY 1),
         t AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM m),
         p AS (SELECT unnest([50, 90, 99]) AS pct)
         SELECT p.pct, t.tot AS n_rows,
                (min(c.bucket) + 1) * 100 - 1 AS upper_cents
         FROM p CROSS JOIN t
         JOIN c ON c.cum * 100 >= p.pct * t.tot
         GROUP BY 1, 2"""

  /** Per-type counts: the plain and the salted two-phase aggregate give
    * the same rows. */
  private val countsByTypeOracle: String =
    """SELECT event_type, count(*) AS n_events,
                count(DISTINCT user_id) AS n_users,
                CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
         FROM events GROUP BY event_type"""

  /** Every event as a decoded trade row: each wire path (codec round
    * trip, log extraction, DSv2 read and write, incremental ingest,
    * egress) must give the events back unchanged. */
  private val wireRoundTripOracle: String =
    """SELECT event_id, user_id, epoch_us(ts) AS ts_us,
                CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_buy,
                CAST(round(value * 100, 0) AS BIGINT) AS amount_cents
         FROM events"""

  /** Hourly bars `b`: each trade's hour `hb`, type, decimal value and
    * (ts, id) order keys. */
  private val hourlyBarsCte: String =
    """b AS (SELECT (epoch_us(ts) // 3600000000) * 3600 AS hb,
                           event_type, CAST(value AS DECIMAL(18,2)) AS v,
                           epoch_us(ts) AS tu, event_id
                    FROM events)"""

  /** Hourly bars `b` with first (`rna`) and last (`rnd`) trade ranks
    * `w` per (hour, type): the candle source of the OHLC, gap-fill and
    * volatility oracles. */
  private val hourlyOhlcCtes: String =
    s"""$hourlyBarsCte,
         w AS (SELECT *,
                 row_number() OVER (PARTITION BY hb, event_type
                                    ORDER BY tu, event_id) AS rna,
                 row_number() OVER (PARTITION BY hb, event_type
                                    ORDER BY tu DESC, event_id DESC) AS rnd
               FROM b)"""

  /** Hourly OHLC candles per event type, batch and stream. */
  private val ohlc1hOracle: String =
    s"""WITH $hourlyOhlcCtes
         SELECT hb, event_type,
                CAST(max(CASE WHEN rna = 1 THEN v END) AS DOUBLE) AS open,
                CAST(max(CASE WHEN rnd = 1 THEN v END) AS DOUBLE) AS close,
                CAST(max(v) AS DOUBLE) AS high, CAST(min(v) AS DOUBLE) AS low,
                count(*) AS n, CAST(sum(v) AS DOUBLE) AS volume
         FROM w GROUP BY hb, event_type"""

  /** Average-cost realized PnL marks: the streamed marks must equal the
    * batch marks. */
  private val realizedPnlOracle: String =
    """WITH t AS (
           SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type,
                  CAST(round(value * 100, 0) AS BIGINT) AS cents
           FROM events
           WHERE user_id % 10 = 0
             AND event_type IN ('purchase', 'view')),
         c AS (
           SELECT user_id, event_id, event_type, cents,
                  CAST(coalesce(sum(CASE WHEN event_type = 'purchase'
                         THEN cents ELSE 0 END) OVER (
                    PARTITION BY user_id ORDER BY ts_us, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS cum_buy_cents,
                  CAST(coalesce(sum(CASE WHEN event_type = 'purchase'
                         THEN 1 ELSE 0 END) OVER (
                    PARTITION BY user_id ORDER BY ts_us, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS cum_buy_n
           FROM t)
         SELECT user_id, event_id, cents AS sell_cents,
                cum_buy_cents, cum_buy_n,
                CASE WHEN cum_buy_n > 0
                     THEN CAST(cents AS DOUBLE) -
                          CAST(cum_buy_cents AS DOUBLE) /
                          CAST(cum_buy_n AS DOUBLE) END AS pnl_cents
         FROM c WHERE event_type = 'view'"""

  /** Distinct (wallet, minute) pairs per type: both streaming dedup
    * harnesses must reduce to it. */
  private val dedupCountsOracle: String =
    """SELECT event_type, count(*) AS n_distinct FROM (
           SELECT DISTINCT user_id, event_type,
                  epoch_us(ts) // 60000000 AS minute_bucket
           FROM events)
         GROUP BY event_type"""

  /** Purchases per 10-minute signup window: the explicit bucketed join
    * and the planner-rewritten one. */
  private val rangeJoinOracle: String =
    """SELECT p.event_id AS purchase_id, count(*) AS n_windows,
                min(i.start_us) AS first_start_us
         FROM (SELECT event_id, epoch_us(ts) AS ts_us FROM events
               WHERE event_type = 'purchase') p
         JOIN (SELECT epoch_us(ts) AS start_us,
                      epoch_us(ts) + 600000000 AS end_us FROM events
               WHERE event_type = 'signup') i
           ON p.ts_us >= i.start_us AND p.ts_us < i.end_us
         GROUP BY 1"""

  /** Per-source corpus stats: the one-pass stats and the merged partial
    * stats. */
  private val corpusStatsOracle: String =
    """SELECT source, count(*) AS n_docs,
                count(DISTINCT md5(text)) AS n_unique_texts,
                CAST(sum(length(text)) AS BIGINT) AS total_chars,
                CAST(sum(len(string_split(text, ' '))) AS BIGINT)
                  AS total_ws_tokens,
                CAST(min(length(text)) AS BIGINT) AS min_chars,
                CAST(max(length(text)) AS BIGINT) AS max_chars,
                CAST(count(*) - count(DISTINCT md5(text))
                  AS DOUBLE) / CAST(count(*) AS DOUBLE) AS dup_ratio
         FROM documents GROUP BY 1"""

  /** Exact cosine top-5: brute force, and IVF probing every list, must
    * both return it. */
  private val bruteforceTopkOracle: String =
    """WITH x AS (SELECT vec_id, unnest(generate_series(1, 64)) AS i,
                           CAST(unnest(embedding) AS DOUBLE) AS v
                    FROM embeddings),
         n AS (SELECT vec_id, sum(v * v) AS n2 FROM x GROUP BY 1),
         q AS (SELECT * FROM x WHERE vec_id < 10),
         d AS (SELECT q.vec_id AS q_id, x.vec_id AS neighbor_id,
                      sum(q.v * x.v) AS dot
               FROM q JOIN x ON q.i = x.i AND q.vec_id <> x.vec_id
               GROUP BY 1, 2),
         c AS (SELECT q_id, neighbor_id,
                      round(dot / (sqrt(nq.n2) * sqrt(nn.n2)), 6) AS cos6
               FROM d JOIN n nq ON q_id = nq.vec_id
                      JOIN n nn ON neighbor_id = nn.vec_id),
         r AS (SELECT q_id, neighbor_id, cos6,
                      row_number() OVER (PARTITION BY q_id
                        ORDER BY cos6 DESC, neighbor_id) AS rk
               FROM c)
         SELECT q_id, neighbor_id, cos6, rk FROM r WHERE rk <= 5"""

  /** Near-dup keepers over the collapsed pair graph: the expanded and
    * the rep-level pair contracts must keep the same set. */
  private lazy val dedupKeepersOracle: String =
    s"""WITH ${collapsedDocPairsCtes(jaccardPred)},
         ex AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text))
         SELECT doc_id FROM ex
         WHERE doc_id NOT IN (SELECT doc_id FROM lbl WHERE keep_id < doc_id)"""

  /** Near-dup cluster-size histogram, expanded and rep-level. */
  private lazy val clusterSizesOracle: String =
    s"""WITH ${collapsedDocPairsCtes(jaccardPred)},
         cl AS (SELECT keep_id, count(*) AS cluster_size FROM lbl
                GROUP BY 1)
         SELECT cluster_size, count(*) AS n_clusters
         FROM cl GROUP BY 1"""

  /** Gap-filled hourly close `f(event_type, hb, c)`: the last trade per
    * (type, hour), forward-filled over every hour between the first and
    * the last (the Hurst and variance-ratio oracles). */
  private val gapFilledCloseCtes: String =
    """cl AS (
           SELECT event_type, (epoch_us(ts) // 3600000000) * 3600 AS hb,
                  CAST(round(value * 100, 0) AS BIGINT) AS cents,
                  epoch_us(ts) AS tu, event_id
           FROM events),
         r AS (SELECT *,
                 row_number() OVER (PARTITION BY event_type, hb
                   ORDER BY tu DESC, event_id DESC) AS rnd
               FROM cl),
         c AS (SELECT event_type, hb,
                 max(CASE WHEN rnd = 1 THEN cents END) AS c
               FROM r GROUP BY 1, 2),
         spine AS (
           SELECT event_type,
                  unnest(generate_series(min(hb), max(hb), 3600)) AS hb
           FROM c GROUP BY event_type),
         f AS (SELECT s.event_type, s.hb,
                 last_value(c.c IGNORE NULLS) OVER (
                   PARTITION BY s.event_type ORDER BY s.hb
                   ROWS UNBOUNDED PRECEDING) AS c
               FROM spine s LEFT JOIN c
                 ON s.event_type = c.event_type AND s.hb = c.hb)"""

  /** Last trade per (type, hour): `closes(event_type, hb,
    * close_cents)`, the candle close of the information-coefficient and
    * Roll-spread oracles. */
  private val hourlyClosesCtes: String =
    """b AS (
           SELECT event_type, epoch_us(ts) // 3600000000 AS hb,
                  CAST(round(value * 100) AS BIGINT) AS cents,
                  epoch_us(ts) AS tu, event_id
           FROM events),
         w0 AS (
           SELECT *, row_number() OVER (PARTITION BY event_type, hb
                      ORDER BY tu DESC, event_id DESC) AS rn
           FROM b),
         closes AS (
           SELECT event_type, hb, cents AS close_cents
           FROM w0 WHERE rn = 1)"""

  /** Trades `t` with their global cumulative volume `gcum` in (ts, id)
    * order as `c`: the equal-volume bucket clock of the VPIN and
    * Kyle-lambda oracles. */
  private val volumeClockCtes: String =
    """t AS (
           SELECT epoch_us(ts) AS ts_us, event_id, event_type,
                  CAST(round(value * 100, 0) AS BIGINT) AS cents
           FROM events WHERE event_type IN ('purchase', 'view')
             AND CAST(round(value * 100, 0) AS BIGINT) > 0),
         c AS (
           SELECT *, sum(cents) OVER (ORDER BY ts_us, event_id
             ROWS UNBOUNDED PRECEDING) AS gcum FROM t)"""

  /** Distinct word trigrams `g(doc_id, g)` of each document's
    * lower-cased space-split text `t` (the contamination oracles). */
  private val wordTrigramCtes: String =
    """t AS (SELECT doc_id, string_split(lower(text), ' ') AS ws
                    FROM documents),
         ti AS (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 2)) AS i
                FROM t WHERE len(ws) >= 3),
         g AS (SELECT DISTINCT doc_id,
                      ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS g FROM ti)"""

  def oracleSql: Map[String, String] = {
   val m = Map(
    // co-activity family: since round 9 the UNSUFFIXED keys run the
    // degrade-not-drop (CapTop) default — the `_dropall` twins verify
    // the opt-in legacy drop policy at organic density
    "q_events_pagerank" -> pagerankCappedOracle,
    "q_events_pagerank_dropall" -> pagerankOracle,
    "q_events_taint" -> taintOracle,
    "q_events_taint_dropall" -> taintDropallOracle,
    "q_events_kcore" -> kcoreCappedOracle,
    "q_events_kcore_dropall" -> kcoreOracle,
    "q_events_triangles" -> trianglesOracle(s"""$cappedEdgeCtes,
         eu AS (SELECT src, dst FROM e WHERE src < dst)""", "eu"),
    "q_events_wallet_clusters" ->
      walletClustersOracle(cappedEdgeCtes, "e", "src", "dst"),
    // A120 oracle: 4 unrolled synchronous LPA steps over the same
    // capped edge set — majority neighbor label, count-desc /
    // label-asc tie-break, initial label = own id
    "q_events_communities" -> {
      val steps = (1 to 4).map { k =>
        s""",
         l$k AS (
           SELECT node, lbl FROM (
             SELECT e.src AS node, p.lbl, count(*) AS c,
                    row_number() OVER (PARTITION BY e.src
                      ORDER BY count(*) DESC, p.lbl) AS rk
             FROM e JOIN l${k - 1} p ON e.dst = p.node
             GROUP BY e.src, p.lbl)
           WHERE rk = 1)"""
      }.mkString
      s"""WITH $cappedEdgeCtes,
         l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM e)$steps,
         sz AS (SELECT lbl, count(*) AS community_size
                FROM l4 GROUP BY 1)
         SELECT l.node AS wallet, l.lbl AS community,
                CAST(sz.community_size AS BIGINT) AS community_size
         FROM l4 l JOIN sz USING (lbl)"""
    },
    // A123 oracle: exact DECIMAL(38,0) degree sums over the same
    // capped edges, identical IEEE close
    "q_events_assortativity" ->
      s"""WITH $cappedEdgeCtes,
         deg AS (SELECT src AS node, count(*) AS deg FROM e GROUP BY 1),
         s AS (SELECT count(*) AS m,
                 CAST(sum(CAST(a.deg AS DECIMAL(38,0))) AS DECIMAL(38,0))
                   AS sx,
                 CAST(sum(CAST(b.deg AS DECIMAL(38,0))) AS DECIMAL(38,0))
                   AS sy,
                 CAST(sum(CAST(a.deg * b.deg AS DECIMAL(38,0)))
                      AS DECIMAL(38,0)) AS sxy,
                 CAST(sum(CAST(a.deg * a.deg AS DECIMAL(38,0)))
                      AS DECIMAL(38,0)) AS sxx,
                 CAST(sum(CAST(b.deg * b.deg AS DECIMAL(38,0)))
                      AS DECIMAL(38,0)) AS syy
               FROM e JOIN deg a ON e.src = a.node
               JOIN deg b ON e.dst = b.node),
         nn AS (SELECT count(*) AS n_nodes,
                  CAST(sum(CAST(deg AS DECIMAL(38,0))) AS DECIMAL(38,0))
                    AS sdeg
                FROM deg)
         SELECT nn.n_nodes, s.m AS n_edges,
                CAST(nn.sdeg AS DOUBLE) / CAST(nn.n_nodes AS DOUBLE)
                  AS mean_deg,
                (CAST(s.m AS DOUBLE) * CAST(s.sxy AS DOUBLE) -
                 CAST(s.sx AS DOUBLE) * CAST(s.sy AS DOUBLE)) /
                sqrt((CAST(s.m AS DOUBLE) * CAST(s.sxx AS DOUBLE) -
                      CAST(s.sx AS DOUBLE) * CAST(s.sx AS DOUBLE)) *
                     (CAST(s.m AS DOUBLE) * CAST(s.syy AS DOUBLE) -
                      CAST(s.sy AS DOUBLE) * CAST(s.sy AS DOUBLE)))
                  AS assortativity
         FROM s CROSS JOIN nn""",
    "q_events_neighbor_sim" -> neighborSimOracle(s"""$cappedEdgeCtes,
         und AS (SELECT src, dst FROM e WHERE src < dst)"""),
    "q_events_edge_growth" -> edgeGrowthOracle(s"""$cappedBucketCtes,
         dp AS (
           SELECT DISTINCT db, a, b FROM (
             SELECT mb // 24 AS db, a, unnest(us) AS b FROM (
               SELECT mb, unnest(us) AS a, us FROM cb))
           WHERE a < b)"""),
    "q_events_sandwich" -> sandwichOracle(
      """rkt AS (
           SELECT t.*, row_number() OVER (PARTITION BY mb
             ORDER BY event_id) AS rk
           FROM t),
         tt AS MATERIALIZED (
           SELECT mb, event_id, user_id, event_type, cents
           FROM rkt WHERE rk <= 1024)"""),
    "q_events_cap_accounting" -> {
      def row(family: String, cap: Int, src: String) =
        s"""SELECT '$family' AS family, CAST($cap AS BIGINT) AS cap,
           CAST(count(*) AS BIGINT) AS n_buckets,
           CAST(COALESCE(sum(CASE WHEN n > $cap THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS n_buckets_capped,
           CAST(COALESCE(sum(n), 0) AS BIGINT) AS units_total,
           CAST(COALESCE(sum(least(n, $cap)), 0) AS BIGINT) AS units_kept,
           CAST(COALESCE(sum(n), 0) - COALESCE(sum(least(n, $cap)), 0)
                AS BIGINT) AS units_dropped
           FROM $src"""
      s"""WITH co AS (
           SELECT count(*) AS n FROM (
             SELECT DISTINCT event_type,
                    epoch_us(ts) // 3600000000 AS mb, user_id
             FROM events)
           GROUP BY event_type, mb HAVING count(*) >= 2),
         sides AS MATERIALIZED (
           SELECT epoch_us(ts) // 3600000000 AS mb, user_id,
                  count(*) FILTER (event_type = 'purchase') AS nb,
                  count(*) FILTER (event_type = 'view') AS ns
           FROM events WHERE event_type IN ('purchase', 'view')
           GROUP BY 1, 2),
         bu AS (SELECT count(*) AS n FROM sides WHERE nb > 0 GROUP BY mb),
         se AS (SELECT count(*) AS n FROM sides WHERE ns > 0 GROUP BY mb),
         sa AS (SELECT count(*) AS n FROM events
                WHERE event_type IN ('purchase', 'view')
                GROUP BY epoch_us(ts) // 3600000000)
         ${row("coactivity_hour_wallets", 16, "co")}
         UNION ALL ${row("wash_hour_buyers", 1024, "bu")}
         UNION ALL ${row("wash_hour_sellers", 1024, "se")}
         UNION ALL ${row("sandwich_hour_trades", 1024, "sa")}"""
    },
    "q_events_triangles_dropall" -> trianglesOracle(dropEdgeCtes16, "e"),
    "q_events_quantile_store" -> quantileStoreOracle,
    "q_events_leadlag_ic" ->
      s"""WITH $hourlyClosesCtes,
         l AS (
           SELECT event_type, hb, close_cents,
                  lag(close_cents) OVER win AS prevc,
                  lag(hb) OVER win AS prevh
           FROM closes
           WINDOW win AS (PARTITION BY event_type ORDER BY hb)),
         mv AS (
           SELECT event_type, hb,
                  CAST(close_cents - prevc AS HUGEINT) AS mv
           FROM l WHERE prevh = hb - 1),
         p AS (
           SELECT a.event_type AS type_lead, f.event_type AS type_follow,
                  CAST(count(*) AS HUGEINT) AS n,
                  sum(a.mv) AS sx, sum(f.mv) AS sy,
                  sum(a.mv * f.mv) AS sxy,
                  sum(a.mv * a.mv) AS sxx,
                  sum(f.mv * f.mv) AS syy
           FROM mv a JOIN mv f ON f.hb = a.hb + 1
                AND a.event_type <> f.event_type
           GROUP BY 1, 2)
         SELECT type_lead, type_follow, CAST(n AS BIGINT) AS n_hours,
                CAST(n * sxy - sx * sy AS DOUBLE) /
                  NULLIF(sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) *
                         sqrt(CAST(n * syy - sy * sy AS DOUBLE)), 0)
                  AS ic
         FROM p""",
    "q_events_momentum_ic" ->
      s"""WITH $hourlyClosesCtes,
         l AS (
           SELECT event_type, close_cents,
                  lag(close_cents, 24) OVER win AS lagc,
                  lead(close_cents, 1) OVER win AS leadc
           FROM closes
           WINDOW win AS (PARTITION BY event_type ORDER BY hb)),
         sfm AS (
           SELECT event_type,
                  CAST(close_cents - lagc AS HUGEINT) AS s,
                  CAST(leadc - close_cents AS HUGEINT) AS f
           FROM l WHERE lagc IS NOT NULL AND leadc IS NOT NULL),
         p AS (
           SELECT event_type, CAST(count(*) AS HUGEINT) AS n,
                  sum(s) AS ss, sum(f) AS sf, sum(s * f) AS ssf,
                  sum(s * s) AS sss, sum(f * f) AS sff
           FROM sfm GROUP BY 1)
         SELECT event_type, CAST(n AS BIGINT) AS n_hours,
                CAST(n * ssf - ss * sf AS DOUBLE) /
                  (sqrt(CAST(n * sss - ss * ss AS DOUBLE)) *
                   sqrt(CAST(n * sff - sf * sf AS DOUBLE))) AS ic
         FROM p""",
    "q_events_wallet_clusters_dropall" -> walletClustersOracle(
      s"""$dropEdgeCtes16,
         edges AS (SELECT src AS a, dst AS b FROM e
                   UNION SELECT dst, src FROM e)""", "edges", "a", "b"),
    "q_events_sandwich_dropall" -> sandwichOracle(
      """sized AS (SELECT mb FROM t GROUP BY 1 HAVING count(*) <= 1024),
         tt AS (SELECT t.* FROM t JOIN sized USING (mb))"""),
    "q_events_wash_pairs" ->
      """WITH t AS (
           SELECT epoch_us(ts) // 3600000000 AS mb, user_id, event_type
           FROM events WHERE event_type IN ('purchase', 'view')),
         w AS (
           SELECT mb, user_id,
                  count(*) FILTER (event_type = 'purchase') AS nb,
                  count(*) FILTER (event_type = 'view') AS ns
           FROM t GROUP BY 1, 2),
         bu AS (
           SELECT mb, user_id FROM (
             SELECT mb, user_id, row_number() OVER (PARTITION BY mb
               ORDER BY nb DESC, user_id) AS rk
             FROM w WHERE nb > 0) WHERE rk <= 1024),
         se AS (
           SELECT mb, user_id FROM (
             SELECT mb, user_id, row_number() OVER (PARTITION BY mb
               ORDER BY ns DESC, user_id) AS rk
             FROM w WHERE ns > 0) WHERE rk <= 1024),
         pr AS (
           SELECT least(bu.user_id, se.user_id) AS wallet_a,
                  greatest(bu.user_id, se.user_id) AS wallet_b,
                  CAST(count(*) FILTER (bu.user_id < se.user_id)
                       AS BIGINT) AS hours_ab,
                  CAST(count(*) FILTER (bu.user_id > se.user_id)
                       AS BIGINT) AS hours_ba
           FROM bu JOIN se ON bu.mb = se.mb
             AND bu.user_id <> se.user_id
           GROUP BY 1, 2)
         SELECT wallet_a, wallet_b, hours_ab, hours_ba
         FROM pr WHERE hours_ab >= 1 AND hours_ba >= 1""",
    // VPIN equal-volume buckets: global cumsum in (ts, id) order, bucket
    // = the trade's LAST unit div 1e8 cents; HUGEINT widenings cast back
    // to BIGINT so dtypes match Spark's longs
    "q_events_vpin" ->
      s"""WITH $volumeClockCtes,
         b AS (
           SELECT CAST((gcum - 1) // 100000 AS BIGINT) AS bucket,
                  CAST(coalesce(sum(CASE WHEN event_type = 'purchase'
                       THEN cents END), 0) AS BIGINT) AS buy_cents,
                  CAST(coalesce(sum(CASE WHEN event_type = 'view'
                       THEN cents END), 0) AS BIGINT) AS sell_cents,
                  CAST(count(*) AS BIGINT) AS n_trades,
                  min(ts_us) AS start_us, max(ts_us) AS end_us
           FROM c GROUP BY 1)
         SELECT bucket, buy_cents, sell_cents, n_trades, start_us, end_us,
                CAST((CAST(abs(buy_cents - sell_cents) AS HUGEINT)
                      * 1000000) // (buy_cents + sell_cents) AS BIGINT)
                  AS imbalance_1e6
         FROM b""",
    // Roll 1984 effective spread: serial covariance of consecutive
    // hour-candle moves; spread defined only for NEGATIVE covariance
    "q_events_roll_spread" ->
      s"""WITH $hourlyClosesCtes,
         mv AS (
           SELECT event_type, hb,
                  close_cents - lag(close_cents, 1) OVER win AS mv,
                  hb - lag(hb, 1) OVER win AS dh
           FROM closes
           WINDOW win AS (PARTITION BY event_type ORDER BY hb)),
         m AS (SELECT event_type, hb, mv FROM mv WHERE dh = 1),
         pr AS (
           SELECT event_type,
                  CAST(mv AS HUGEINT) AS x,
                  CAST(lag(mv, 1) OVER win AS HUGEINT) AS y,
                  hb - lag(hb, 1) OVER win AS dh
           FROM m
           WINDOW win AS (PARTITION BY event_type ORDER BY hb)),
         p AS (
           SELECT event_type, CAST(count(*) AS HUGEINT) AS n,
                  sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy
           FROM pr WHERE dh = 1 GROUP BY 1)
         SELECT event_type, CAST(n AS BIGINT) AS n_pairs,
                CASE WHEN n * sxy - sx * sy < 0
                     THEN 2.0 * sqrt(CAST(sx * sy - n * sxy AS DOUBLE))
                          / CAST(n AS DOUBLE)
                END AS spread_cents
         FROM p""",
    // Kyle 1985 price-impact slope over the VPIN volume buckets:
    // lambda = cov(dp, q) / var(q), exact HUGEINT moments, one division
    "q_events_kyle_lambda" ->
      s"""WITH $volumeClockCtes,
         b AS (
           SELECT CAST((gcum - 1) // 100000 AS BIGINT) AS bucket,
                  CAST(coalesce(sum(CASE WHEN event_type = 'purchase'
                       THEN cents END), 0) AS HUGEINT)
                  - CAST(coalesce(sum(CASE WHEN event_type = 'view'
                       THEN cents END), 0) AS HUGEINT) AS q,
                  CAST(last(cents ORDER BY ts_us, event_id) AS HUGEINT)
                  - CAST(first(cents ORDER BY ts_us, event_id) AS HUGEINT)
                    AS dp
           FROM c GROUP BY 1),
         p AS (
           SELECT CAST(count(*) AS HUGEINT) AS n,
                  sum(q) AS sq, sum(dp) AS sp,
                  sum(q * dp) AS sqp, sum(q * q) AS sqq
           FROM b)
         SELECT CAST(n AS BIGINT) AS n_buckets,
                CASE WHEN n * sqq - sq * sq <> 0
                     THEN CAST(n * sqp - sq * sp AS DOUBLE)
                          / CAST(n * sqq - sq * sq AS DOUBLE) * 1000000.0
                END AS lambda_per_1e6
         FROM p""",
    "q_events_bollinger" ->
      """WITH b AS (
           SELECT event_type, epoch_us(ts) // 86400000000 AS db,
                  CAST(round(value * 100) AS BIGINT) AS cents,
                  epoch_us(ts) AS tu, event_id
           FROM events),
         w0 AS (
           SELECT *, row_number() OVER (PARTITION BY event_type, db
                      ORDER BY tu DESC, event_id DESC) AS rn
           FROM b),
         closes AS (
           SELECT event_type, db, cents AS close_cents
           FROM w0 WHERE rn = 1),
         r AS (
           SELECT event_type, db, close_cents,
                  CAST(count(*) OVER win AS HUGEINT) AS n,
                  sum(CAST(close_cents AS HUGEINT)) OVER win AS s1,
                  sum(CAST(close_cents AS HUGEINT) *
                      CAST(close_cents AS HUGEINT)) OVER win AS s2
           FROM closes
           WINDOW win AS (PARTITION BY event_type ORDER BY db
                          RANGE BETWEEN 19 PRECEDING AND CURRENT ROW))
         SELECT event_type, db * 86400 AS day, close_cents,
                CAST(n AS BIGINT) AS n_window,
                CASE WHEN n * close_cents - s1 > 0 THEN 'hi'
                     ELSE 'lo' END AS side
         FROM r
         WHERE n >= 12
           AND 4 * (n * close_cents - s1) * (n * close_cents - s1)
               > 9 * (n * s2 - s1 * s1)""",
    "q_events_filter_types" ->
      """SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value
         FROM events WHERE event_type IN ('purchase', 'signup')""",
    "q_events_counts_by_type" -> countsByTypeOracle,
    "q_events_windowed_1h" ->
      """SELECT (epoch_us(ts) // 3600000000) * 3600 AS ws, event_type,
                count(*) AS n,
                CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
         FROM events GROUP BY 1, 2""",
    "q_events_sliding_1h_15m" ->
      """SELECT (epoch_us(ts) // 900000000 - g.k) * 900 AS ws, event_type,
                count(*) AS n
         FROM events, generate_series(0, 3) AS g(k)
         GROUP BY 1, 2""",
    "q_events_value_stats" ->
      """WITH r AS (
           SELECT event_type, value, event_id,
                  row_number() OVER (PARTITION BY event_type
                                     ORDER BY value, event_id) AS rn,
                  count(*) OVER (PARTITION BY event_type) AS cnt
           FROM events),
         a AS (
           SELECT event_type, count(*) AS n, min(value) AS min_v,
                  max(value) AS max_v,
                  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v,
                  CAST(sum(CAST(value AS DECIMAL(18,2)) *
                           CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sumsq_v,
                  max(CASE WHEN rn = (cnt + 1) // 2 THEN value END) AS p50,
                  max(CASE WHEN rn = (cnt * 95 + 99) // 100 THEN value END) AS p95
           FROM r GROUP BY event_type)
         SELECT event_type, n, min_v, max_v,
                sum_v / CAST(n AS DOUBLE) AS avg_v,
                sqrt((sumsq_v - sum_v * sum_v / CAST(n AS DOUBLE)) /
                     (CAST(n AS DOUBLE) - 1.0)) AS stddev_v,
                p50, p95
         FROM a""",
    "q_events_dedup_exact" ->
      """SELECT user_id, event_type,
                epoch_us(ts) // 60000000 AS minute_bucket,
                min(event_id) AS keep_id, count(*) AS n_dups
         FROM events GROUP BY 1, 2, 3""",
    "q_events_json_props" ->
      """SELECT CAST(regexp_extract(props, '[0-9]+') AS INT) % 10 AS k_mod,
                count(*) AS n,
                CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
         FROM events GROUP BY 1""",
    "q_events_session_30m" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id,
                           CAST(value AS DECIMAL(18,2)) AS v FROM events),
         f AS (SELECT *, CASE WHEN lag(ts_us) OVER w IS NULL THEN 1
                              WHEN ts_us - lag(ts_us) OVER w > 1800000000 THEN 1
                              ELSE 0 END AS ns
               FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
         g AS (SELECT *, CAST(sum(ns) OVER (PARTITION BY user_id
                 ORDER BY ts_us, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                 AS session_id
               FROM f)
         SELECT user_id, session_id, count(*) AS n_events,
                min(ts_us) AS start_us, max(ts_us) AS end_us,
                CAST(sum(v) AS DOUBLE) AS total_value
         FROM g GROUP BY user_id, session_id""",
    "q_events_topk_users" ->
      """WITH t AS (SELECT user_id, sum(CAST(value AS DECIMAL(18,2))) AS td,
                           count(*) AS np
                    FROM events WHERE event_type = 'purchase' GROUP BY user_id),
         r AS (SELECT user_id, td, np,
                      row_number() OVER (ORDER BY td DESC, user_id) AS rk
               FROM t)
         SELECT rk, user_id, CAST(td AS DOUBLE) AS total_value,
                np AS n_purchases
         FROM r WHERE rk <= 10""",
    "q_events_asof_attribution" -> asOfOracle,
    "q_events_asof_merge" -> asOfOracle,
    "q_events_session_native" -> sessionNativeOracle,
    "q_stream_session_legacy" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id
                    FROM events),
         f AS (SELECT *, CASE WHEN lag(ts_us) OVER w IS NULL THEN 1
                              WHEN ts_us - lag(ts_us) OVER w > 1800000000
                                THEN 1
                              ELSE 0 END AS ns
               FROM e WINDOW w AS (PARTITION BY user_id
                 ORDER BY ts_us, event_id)),
         g AS (SELECT *, CAST(sum(ns) OVER (PARTITION BY user_id
                 ORDER BY ts_us, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS sid
               FROM f),
         s AS (SELECT user_id, sid, min(ts_us) AS start_us,
                      max(ts_us) AS end_us,
                      CAST(count(*) AS BIGINT) AS n_events
               FROM g GROUP BY 1, 2),
         lasts AS (SELECT user_id, max(sid) AS sid FROM s GROUP BY 1)
         SELECT s.user_id, s.start_us, s.end_us, s.n_events
         FROM s JOIN lasts ON s.user_id = lasts.user_id
           AND s.sid = lasts.sid""",
    "q_stream_session_native" -> sessionNativeOracle,
    // closed sessions = the batch session islands minus each wallet's
    // final (still-open) session; same gap boundary as the batch oracle
    // (merge at diff <= gap, close strictly beyond)
    "q_stream_session_closures" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us FROM events),
         f AS (SELECT *, CASE WHEN lag(ts_us) OVER w IS NULL THEN 1
                              WHEN ts_us - lag(ts_us) OVER w > 1800000000
                              THEN 1 ELSE 0 END AS ns
               FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)),
         g AS (SELECT *, sum(ns) OVER (PARTITION BY user_id
                 ORDER BY ts_us ROWS UNBOUNDED PRECEDING) AS sid
               FROM f),
         s AS (SELECT user_id, sid, min(ts_us) AS start_us,
                      max(ts_us) AS end_us,
                      CAST(count(*) AS BIGINT) AS n_events
               FROM g GROUP BY 1, 2),
         fin AS (SELECT user_id, max(sid) AS maxsid FROM s GROUP BY 1)
         SELECT s.user_id, s.start_us, s.end_us, s.n_events
         FROM s JOIN fin USING (user_id) WHERE s.sid < fin.maxsid""",
    // the replayed-source dedup must reduce the twice-delivered table
    // to exactly the once-delivered counts
    "q_stream_dedup_replay" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events
         FROM events GROUP BY 1""",
    // streamed histogram partials answer EXACTLY the batch quantile
    // store (histogram addition is exact) — same oracle as
    // q_events_quantile_store
    "q_stream_hist_ingest" -> quantileStoreOracle,
    // the sketch store's EXACT columns (per-day event counts summed
    // across batch partials, read back after compaction); the HLL
    // estimate stays spec-pinned like the rest of the sketch family
    "q_stream_sketch_ingest" ->
      """SELECT epoch_us(ts) // 86400000000 AS db,
                CAST(count(*) AS BIGINT) AS n_events
         FROM events GROUP BY 1""",
    // the upsert merge expressed directly over the source: corrections
    // replace same-id rows, appends add shifted ids — what the
    // partitioned layout must read back after upsertEvents
    "q_sink_upsert" ->
      """WITH merged AS (
           SELECT event_id, ts, event_type,
                  CASE WHEN event_id % 10 = 0 THEN value + 1.0
                       ELSE value END AS value
           FROM events
           UNION ALL
           SELECT event_id + 10000000000, ts, event_type, value
           FROM events WHERE event_id % 10 = 5)
         SELECT epoch_us(ts) // 86400000000 AS db, event_type,
                CAST(count(*) AS BIGINT) AS n_events,
                CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
                  AS sum_cents
         FROM merged GROUP BY 1, 2""",
    // dynamic-partition backfill: dates with epoch-day % 7 = 3 carry the
    // corrected values, every other date is untouched
    "q_sink_backfill" ->
      """SELECT epoch_us(ts) // 86400000000 AS db, event_type,
                CAST(count(*) AS BIGINT) AS n_events,
                CAST(sum(CAST(round(
                  CASE WHEN (epoch_us(ts) // 86400000000) % 7 = 3
                       THEN value + 2.0 ELSE value END * 100, 0)
                  AS BIGINT)) AS BIGINT) AS sum_cents
         FROM events GROUP BY 1, 2""",
    // compaction is content-preserving: the readback must equal the
    // plain aggregate over the source
    "q_sink_compact" ->
      """SELECT epoch_us(ts) // 86400000000 AS db, event_type,
                CAST(count(*) AS BIGINT) AS n_events,
                CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
                  AS sum_cents
         FROM events GROUP BY 1, 2""",
    "q_events_absorption" -> SparkEntry.absorptionOracle,
    // near-dup pairs aggregated to the source level. r7: the count is
    // recovered from per-(class, source) MEMBERSHIP COUNTS instead of
    // expanding member pairs — within a class, sources A<B contribute
    // c_A·c_B and A=A contributes C(c_A,2); across a pred-passing rep
    // pair, every (source-of-class1, source-of-class2) combo
    // contributes c1·c2 — the identical combinatorics the expanded
    // count(*) performed over Σ C(k,2) ≈ 10¹⁰ rows at sf100 (the
    // expanded form exceeded 72 GB of DuckDB spill there; this form is
    // rep-sized). The vestigial jaccard re-filter the expanded form
    // carried was a no-op: `pred` already held at rep level and
    // identity pairs sit at jaccard 1.
    "q_docs_dup_flow" ->
      s"""WITH ${collapsedDocPairsCtes(jaccardPred)},
         mc AS MATERIALIZED (
           SELECT f.fpk, d.source, count(*) AS c
           FROM fpd f JOIN documents d USING (doc_id) GROUP BY 1, 2),
         idp AS (SELECT least(a.source, b.source) AS source_a,
                        greatest(a.source, b.source) AS source_b,
                        CASE WHEN a.source = b.source
                             THEN a.c * (a.c - 1) // 2
                             ELSE a.c * b.c END AS n
                 FROM mc a JOIN mc b
                   ON a.fpk = b.fpk AND a.source <= b.source),
         crp AS (SELECT least(m1.source, m2.source) AS source_a,
                        greatest(m1.source, m2.source) AS source_b,
                        m1.c * m2.c AS n
                 FROM pv
                 JOIN cls c1 ON pv.r1 = c1.rep
                 JOIN mc m1 ON m1.fpk = c1.fpk
                 JOIN cls c2 ON pv.r2 = c2.rep
                 JOIN mc m2 ON m2.fpk = c2.fpk)
         SELECT source_a, source_b, CAST(sum(n) AS BIGINT) AS n_pairs
         FROM (SELECT * FROM idp UNION ALL SELECT * FROM crp)
         GROUP BY 1, 2 HAVING sum(n) > 0""",
    // equal-population length stages on the exact (n_tokens, doc_id)
    // global rank — the RFM quintile arithmetic
    "q_docs_curriculum" ->
      """WITH t AS (SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
             FROM documents),
         r AS (SELECT doc_id, n_tokens,
                 row_number() OVER (ORDER BY n_tokens, doc_id) AS rk,
                 count(*) OVER () AS n
               FROM t)
         SELECT doc_id, n_tokens,
                CAST(((rk - 1) * 10) // n + 1 AS INT) AS stage
         FROM r""",
    // FIFO lot matching via the parenthesis-matching closed form: the
    // unmatched-sell count in any prefix is max(0, running-max excess)
    "q_events_fifo_match" ->
      """WITH t AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us,
               event_type,
               CAST(coalesce(sum(CASE WHEN event_type = 'purchase'
                                 THEN 1 ELSE 0 END)
                 OVER (PARTITION BY user_id
                   ORDER BY epoch_us(ts), event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                 0) AS BIGINT) AS nb
             FROM events WHERE event_type IN ('purchase', 'view')),
         buys AS (SELECT user_id,
                    row_number() OVER (PARTITION BY user_id
                      ORDER BY ts_us, event_id) AS lot,
                    event_id AS buy_id, ts_us AS buy_ts_us
                  FROM t WHERE event_type = 'purchase'),
         s1 AS (SELECT user_id, event_id, ts_us, nb,
                  row_number() OVER (PARTITION BY user_id
                    ORDER BY ts_us, event_id) AS k
                FROM t WHERE event_type = 'view'),
         s2 AS (SELECT *, k - nb AS excess,
                  max(k - nb) OVER (PARTITION BY user_id
                    ORDER BY ts_us, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    AS prior_max
                FROM s1),
         m AS (SELECT user_id,
                 k - greatest(coalesce(prior_max, 0), 0) AS lot,
                 event_id AS sell_id, ts_us AS sell_ts_us
               FROM s2
               WHERE excess <= greatest(coalesce(prior_max, 0), 0))
         SELECT m.user_id, m.lot, b.buy_id, m.sell_id, b.buy_ts_us,
                m.sell_ts_us, m.sell_ts_us - b.buy_ts_us AS holding_us
         FROM m JOIN buys b
           ON m.user_id = b.user_id AND m.lot = b.lot""",
    // per-source percentile calibration of the C9 quality score;
    // percent_rank is (rank-1)/(n-1) over exact integers in both
    // engines, single-doc sources pinned to 0.0
    "q_docs_quality_calibrated" ->
      """WITH b AS (SELECT doc_id, source,
               least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0,
                     1.0) *
               (1.0 - CAST(len(regexp_extract_all(text, '[.,!?;:]'))
                        AS DOUBLE) / CAST(length(text) AS DOUBLE)) *
               (0.5 + CAST(len(regexp_extract_all(text,
                              '\b(the|a|of|to|and)\b')) AS DOUBLE)
                  / CAST(len(string_split(text, ' ')) AS DOUBLE))
                 AS quality_score
             FROM documents)
         SELECT doc_id, source, quality_score,
                CASE WHEN count(*) OVER (PARTITION BY source) = 1 THEN 0.0
                     ELSE percent_rank() OVER (PARTITION BY source
                                               ORDER BY quality_score) END
                  AS src_pct
         FROM b""",
    // n-gram novelty: fraction of each doc's distinct trigrams first
    // seen (min doc_id) in this doc — same shingle definition as the
    // dedup family's gram CTEs
    "q_docs_novelty" ->
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS ws
                    FROM documents),
         ti AS (SELECT doc_id, ws,
                  unnest(generate_series(1, len(ws) - 2)) AS i
                FROM t WHERE len(ws) >= 3),
         gr AS (SELECT DISTINCT doc_id,
                       ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS g
                FROM ti),
         f AS (SELECT g, min(doc_id) AS first_doc FROM gr GROUP BY 1)
         SELECT gr.doc_id, count(*) AS n_grams,
                CAST(sum(CASE WHEN gr.doc_id = f.first_doc
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
                CAST(sum(CASE WHEN gr.doc_id = f.first_doc
                              THEN 1 ELSE 0 END) AS DOUBLE)
                  / CAST(count(*) AS DOUBLE) AS novelty
         FROM gr JOIN f ON gr.g = f.g
         GROUP BY 1""",
    // Wald–Wolfowitz runs test per wallet; E and the V=(E-1)(E-2)/(n-1)
    // identity keep the float dag identical across engines
    "q_events_sign_runs" ->
      """WITH t AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS sgn
             FROM events WHERE event_type IN ('purchase', 'view')),
         c AS (SELECT user_id, sgn,
                 CASE WHEN lag(sgn) OVER (PARTITION BY user_id
                        ORDER BY ts_us, event_id) IS NULL
                     OR lag(sgn) OVER (PARTITION BY user_id
                          ORDER BY ts_us, event_id) <> sgn
                   THEN 1 ELSE 0 END AS chg
               FROM t),
         a AS (SELECT user_id,
                 CAST(sum(CASE WHEN sgn = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_buy,
                 CAST(sum(CASE WHEN sgn = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_sell,
                 CAST(sum(chg) AS BIGINT) AS n_runs
               FROM c GROUP BY 1),
         e AS (SELECT user_id, n_buy, n_sell, n_runs,
                 1.0 + CAST(2 * n_buy * n_sell AS DOUBLE)
                   / CAST(n_buy + n_sell AS DOUBLE) AS e_runs
               FROM a
               WHERE n_buy > 0 AND n_sell > 0 AND n_buy + n_sell >= 10)
         SELECT user_id, n_buy, n_sell, n_runs, e_runs,
                (CAST(n_runs AS DOUBLE) - e_runs) /
                  sqrt((e_runs - 1.0) * (e_runs - 2.0)
                    / CAST(n_buy + n_sell - 1 AS DOUBLE)) AS z_runs
         FROM e""",
    // aggregated-variance Hurst: moments per scale in HUGEINT, lnR6 on
    // the agreed integers, exact decimal subtraction, fixed slope dag
    "q_events_hurst" ->
      s"""WITH $gapFilledCloseCtes,
         d AS (SELECT event_type,
                 CAST(c - lag(c, 1) OVER w AS HUGEINT) AS d1,
                 CAST(c - lag(c, 2) OVER w AS HUGEINT) AS d2,
                 CAST(c - lag(c, 4) OVER w AS HUGEINT) AS d4,
                 CAST(c - lag(c, 8) OVER w AS HUGEINT) AS d8
               FROM f WINDOW w AS (PARTITION BY event_type ORDER BY hb)),
         m AS (SELECT event_type,
                 CAST(count(d1) AS HUGEINT) AS n1,
                 sum(d1) AS s1, sum(d1 * d1) AS q1,
                 CAST(count(d2) AS HUGEINT) AS n2,
                 sum(d2) AS s2, sum(d2 * d2) AS q2,
                 CAST(count(d4) AS HUGEINT) AS n4,
                 sum(d4) AS s4, sum(d4 * d4) AS q4,
                 CAST(count(d8) AS HUGEINT) AS n8,
                 sum(d8) AS s8, sum(d8 * d8) AS q8
               FROM d GROUP BY 1
               HAVING count(d1) > 1 AND n1 * q1 - s1 * s1 > 0
                  AND count(d2) > 1 AND n2 * q2 - s2 * s2 > 0
                  AND count(d4) > 1 AND n4 * q4 - s4 * s4 > 0
                  AND count(d8) > 1 AND n8 * q8 - s8 * s8 > 0),
         v AS (SELECT event_type, CAST(n1 AS BIGINT) AS n_periods,
                 CAST(round(ln(n1 * q1 - s1 * s1), 6) AS DECIMAL(12,6)) -
                   CAST(round(ln(n1 * n1), 6) AS DECIMAL(12,6)) AS lnv1,
                 CAST(round(ln(n2 * q2 - s2 * s2), 6) AS DECIMAL(12,6)) -
                   CAST(round(ln(n2 * n2), 6) AS DECIMAL(12,6)) AS lnv2,
                 CAST(round(ln(n4 * q4 - s4 * s4), 6) AS DECIMAL(12,6)) -
                   CAST(round(ln(n4 * n4), 6) AS DECIMAL(12,6)) AS lnv4,
                 CAST(round(ln(n8 * q8 - s8 * s8), 6) AS DECIMAL(12,6)) -
                   CAST(round(ln(n8 * n8), 6) AS DECIMAL(12,6)) AS lnv8
               FROM m)
         SELECT event_type, n_periods,
                CAST(lnv1 AS DOUBLE) AS lnv1, CAST(lnv2 AS DOUBLE) AS lnv2,
                CAST(lnv4 AS DOUBLE) AS lnv4, CAST(lnv8 AS DOUBLE) AS lnv8,
                (CAST(lnv8 - lnv1 AS DOUBLE) * 1.03972075e0 +
                 CAST(lnv4 - lnv2 AS DOUBLE) * 0.34657375e0) /
                  (2.0e0 * (1.03972075e0 * 1.03972075e0 +
                            0.34657375e0 * 0.34657375e0)) / 2.0e0 AS hurst
         FROM v""",
    // echo pairs on the prefix-capped (type, hour) buckets; lexicographic
    // (tu, event_id) later-than; integer mean lag
    "q_events_copy_trading" ->
      """WITH t0 AS (SELECT event_type, epoch_us(ts) // 3600000000 AS mb,
               epoch_us(ts) AS tu, event_id, user_id
             FROM events WHERE event_type IN ('purchase', 'view')),
         r AS (SELECT *, row_number() OVER (PARTITION BY event_type, mb
                 ORDER BY tu, event_id) AS rk
               FROM t0),
         t AS (SELECT event_type, mb, tu, event_id, user_id
               FROM r WHERE rk <= 256),
         p AS (SELECT a.user_id AS leader, b.user_id AS follower,
                 a.event_type AS et, a.mb AS mb, b.tu - a.tu AS lag_us
               FROM t a JOIN t b
                 ON a.event_type = b.event_type AND a.mb = b.mb
               WHERE b.user_id <> a.user_id
                 AND (b.tu > a.tu OR (b.tu = a.tu
                   AND b.event_id > a.event_id))
                 AND b.tu - a.tu <= 600000000)
         SELECT leader, follower, count(*) AS n_echoes,
                count(DISTINCT (et, mb)) AS n_buckets,
                CAST(sum(lag_us) // count(*) AS BIGINT) AS mean_lag_us
         FROM p GROUP BY 1, 2 HAVING count(*) >= 3""",
    // context-window fit: histogram-compacted exact order statistics
    "q_docs_context_fit" ->
      """WITH tk AS (SELECT source,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
             FROM documents),
         h AS (SELECT source, n_tok, count(*) AS c FROM tk GROUP BY 1, 2),
         tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_docs,
                   CAST(sum(CASE WHEN n_tok > 256 THEN c ELSE 0 END)
                     AS BIGINT) AS docs_over,
                   CAST(sum(c * n_tok) AS BIGINT) AS tok_total,
                   CAST(sum(c * CASE WHEN n_tok > 256 THEN n_tok - 256
                     ELSE 0 END) AS BIGINT) AS tok_lost
                 FROM h GROUP BY 1),
         cu AS (SELECT source, n_tok,
                  sum(c) OVER (PARTITION BY source ORDER BY n_tok
                    ROWS UNBOUNDED PRECEDING) AS cum
                FROM h),
         p AS (SELECT cu.source,
                 min(CASE WHEN cum >= (n_docs - 1) * 50 // 100 + 1
                   THEN n_tok END) AS p50_tok,
                 min(CASE WHEN cum >= (n_docs - 1) * 90 // 100 + 1
                   THEN n_tok END) AS p90_tok,
                 min(CASE WHEN cum >= (n_docs - 1) * 99 // 100 + 1
                   THEN n_tok END) AS p99_tok
               FROM cu JOIN tot ON cu.source = tot.source GROUP BY 1)
         SELECT tot.source, n_docs, docs_over, tok_total, tok_lost,
                CAST(tok_lost AS DOUBLE) / CAST(tok_total AS DOUBLE)
                  AS loss_frac,
                p50_tok, p90_tok, p99_tok
         FROM tot JOIN p ON tot.source = p.source""",
    // top-k by (vol desc, user_id) rank; integer cents end to end
    "q_events_whale_share" ->
      """WITH v AS (SELECT event_type,
               epoch_us(ts) // 86400000000 AS db, user_id,
               CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
                 AS vol
             FROM events GROUP BY 1, 2, 3),
         t AS (SELECT event_type, db, count(*) AS n_wallets,
                 CAST(sum(vol) AS BIGINT) AS total_cents
               FROM v GROUP BY 1, 2),
         r AS (SELECT event_type, db, vol,
                 row_number() OVER (PARTITION BY event_type, db
                   ORDER BY vol DESC, user_id) AS rk
               FROM v),
         tk AS (SELECT event_type, db,
                  CAST(sum(vol) AS BIGINT) AS top_cents
                FROM r WHERE rk <= 10 GROUP BY 1, 2)
         SELECT t.event_type, t.db * 86400 AS day, t.n_wallets,
                t.total_cents, tk.top_cents,
                CAST(tk.top_cents AS DOUBLE) /
                  CAST(t.total_cents AS DOUBLE) AS whale_share
         FROM t JOIN tk ON t.event_type = tk.event_type
           AND t.db = tk.db""",
    // per-(label, dim) moments on the 1e-6 grid; HUGEINT sums
    "q_ann_dim_stats" ->
      """WITH c AS (SELECT label,
               CAST(unnest(generate_series(1, 64)) - 1 AS BIGINT) AS dim,
               CAST(CAST(round(CAST(unnest(embedding) AS DOUBLE)
                 * 1000000, 0) AS BIGINT) AS HUGEINT) AS x6
             FROM embeddings),
         m AS (SELECT label, dim, CAST(count(*) AS HUGEINT) AS n,
                 sum(x6) AS s, sum(x6 * x6) AS q
               FROM c GROUP BY 1, 2)
         SELECT label, dim, CAST(n AS BIGINT) AS n,
                CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 1.0e6 AS mean,
                (CAST((n * q - s * s) // 9007199254740992 AS DOUBLE)
                   * 9007199254740992.0
                 + CAST((n * q - s * s) % 9007199254740992 AS DOUBLE))
                  / CAST(n AS DOUBLE) / CAST(n AS DOUBLE)
                  / 1.0e12 AS variance
         FROM m""",
    // A119: all-integer OFI ledger; close = last print per hour via the
    // leadLagIC rank pattern; signed numerator in HUGEINT (the vpin
    // overflow contract), truncating // matching Spark's decimal div
    "q_events_flow_imbalance" ->
      """WITH t AS (
           SELECT epoch_us(ts) // 3600000000 AS hb, event_type,
                  CAST(round(value * 100) AS BIGINT) AS cents,
                  epoch_us(ts) AS tu, event_id
           FROM events WHERE event_type IN ('purchase', 'view')),
         w0 AS (SELECT hb, cents, row_number() OVER (PARTITION BY hb
                  ORDER BY tu DESC, event_id DESC) AS rn
                FROM t),
         closes AS (SELECT hb, cents AS close_cents FROM w0 WHERE rn = 1),
         f AS (SELECT hb,
                 CAST(sum(CASE WHEN event_type = 'purchase'
                          THEN cents ELSE 0 END) AS BIGINT) AS b_cents,
                 CAST(sum(CASE WHEN event_type = 'view'
                          THEN cents ELSE 0 END) AS BIGINT) AS s_cents
               FROM t GROUP BY 1),
         ff AS (SELECT f.hb, f.b_cents, f.s_cents, c.close_cents
                FROM f JOIN closes c ON f.hb = c.hb),
         l AS (SELECT *, lead(hb) OVER (ORDER BY hb) AS next_hb,
                 lead(close_cents) OVER (ORDER BY hb) AS next_close
               FROM ff),
         o AS (SELECT hb, b_cents, s_cents, close_cents,
                 CAST((CAST(b_cents - s_cents AS HUGEINT) * 1000000)
                   // (b_cents + s_cents) AS BIGINT) AS ofi_1e6,
                 next_close - close_cents AS move_cents
               FROM l
               WHERE next_hb = hb + 1 AND b_cents + s_cents > 0)
         SELECT hb, b_cents, s_cents, ofi_1e6, close_cents, move_cents,
                (ofi_1e6 > 0) = (move_cents > 0) AS hit
         FROM o WHERE ofi_1e6 <> 0 AND move_cents <> 0""",
    // C72: matryoshka truncation fidelity — exact integer prefix
    // dots/norms on the 1e-6 grid, one IEEE cos6 dag, Decimal moments
    "q_ann_truncation" ->
      """WITH sv AS (SELECT vec_id, embedding FROM embeddings
                     WHERE vec_id % 50 = 0 ORDER BY vec_id LIMIT 64),
         x AS (SELECT vec_id,
                 CAST(unnest(generate_series(1, 64)) - 1 AS BIGINT) AS i,
                 CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000)
                   AS BIGINT) AS x6
               FROM sv),
         pr AS (SELECT a.vec_id AS v1, b.vec_id AS v2, a.i,
                  a.x6 * b.x6 AS p, a.x6 * a.x6 AS na, b.x6 * b.x6 AS nb
                FROM x a JOIN x b
                  ON a.i = b.i AND a.vec_id < b.vec_id),
         d AS (SELECT v1, v2,
                 CAST(sum(p) AS BIGINT) AS p64,
                 CAST(sum(na) AS BIGINT) AS na64,
                 CAST(sum(nb) AS BIGINT) AS nb64,
                 CAST(sum(CASE WHEN i < 8 THEN p ELSE 0 END) AS BIGINT) AS p8,
                 CAST(sum(CASE WHEN i < 8 THEN na ELSE 0 END) AS BIGINT) AS na8,
                 CAST(sum(CASE WHEN i < 8 THEN nb ELSE 0 END) AS BIGINT) AS nb8,
                 CAST(sum(CASE WHEN i < 16 THEN p ELSE 0 END) AS BIGINT) AS p16,
                 CAST(sum(CASE WHEN i < 16 THEN na ELSE 0 END) AS BIGINT) AS na16,
                 CAST(sum(CASE WHEN i < 16 THEN nb ELSE 0 END) AS BIGINT) AS nb16,
                 CAST(sum(CASE WHEN i < 32 THEN p ELSE 0 END) AS BIGINT) AS p32,
                 CAST(sum(CASE WHEN i < 32 THEN na ELSE 0 END) AS BIGINT) AS na32,
                 CAST(sum(CASE WHEN i < 32 THEN nb ELSE 0 END) AS BIGINT) AS nb32
               FROM pr GROUP BY 1, 2),
         cs AS (SELECT v1, v2,
                 CAST(round(CAST(p64 AS DOUBLE) / (sqrt(CAST(na64 AS DOUBLE))
                   * sqrt(CAST(nb64 AS DOUBLE))) * 1000000) AS BIGINT) AS c64,
                 CAST(round(CAST(p8 AS DOUBLE) / (sqrt(CAST(na8 AS DOUBLE))
                   * sqrt(CAST(nb8 AS DOUBLE))) * 1000000) AS BIGINT) AS c8,
                 CAST(round(CAST(p16 AS DOUBLE) / (sqrt(CAST(na16 AS DOUBLE))
                   * sqrt(CAST(nb16 AS DOUBLE))) * 1000000) AS BIGINT) AS c16,
                 CAST(round(CAST(p32 AS DOUBLE) / (sqrt(CAST(na32 AS DOUBLE))
                   * sqrt(CAST(nb32 AS DOUBLE))) * 1000000) AS BIGINT) AS c32
                FROM d
                WHERE na8 > 0 AND nb8 > 0 AND na16 > 0 AND nb16 > 0
                  AND na32 > 0 AND nb32 > 0 AND na64 > 0 AND nb64 > 0),
         kk AS (SELECT 8 AS k, c64 AS x, c8 AS y FROM cs
                UNION ALL SELECT 16, c64, c16 FROM cs
                UNION ALL SELECT 32, c64, c32 FROM cs),
         m AS (SELECT k, CAST(count(*) AS HUGEINT) AS n,
                 sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
                 sum(CAST(x AS HUGEINT) * y) AS sxy,
                 sum(CAST(x AS HUGEINT) * x) AS sxx,
                 sum(CAST(y AS HUGEINT) * y) AS syy,
                 sum(abs(CAST(x AS HUGEINT) - y)) AS sad
               FROM kk GROUP BY 1)
         SELECT CAST(k AS BIGINT) AS k, CAST(n AS BIGINT) AS n_pairs,
                CAST(n * sxy - sx * sy AS DOUBLE) /
                  (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) *
                   sqrt(CAST(n * syy - sy * sy AS DOUBLE))) AS pearson,
                CAST(sad // n AS BIGINT) AS mae6
         FROM m""",
    // C71: the per-source curation composite — filterChain's gates +
    // grid-fixed quality + corpus-wide/cross-source dup exposure
    "q_docs_dsir_weights" ->
      """WITH tf AS (
           SELECT doc_id,
                  source IN ('src0', 'src1', 'src2', 'src3') AS is_t,
                  token, count(*) AS tf FROM (
             SELECT doc_id, source,
                    unnest(string_split(lower(text), ' ')) AS token
             FROM documents)
           WHERE token <> '' GROUP BY 1, 2, 3),
         vocab AS (SELECT token, CAST(sum(tf) AS BIGINT) AS cnt_s,
                     CAST(sum(CASE WHEN is_t THEN tf ELSE 0 END)
                          AS BIGINT) AS cnt_t
                   FROM tf GROUP BY 1),
         tot AS (SELECT CAST(sum(cnt_s) AS BIGINT) AS tot_s,
                   CAST(sum(cnt_t) AS BIGINT) AS tot_t,
                   count(*) AS v FROM vocab),
         lr AS (SELECT token,
                  CAST(round(ln(CAST(cnt_t + 1 AS DOUBLE) /
                                CAST(tot_t + v AS DOUBLE)), 6)
                       AS DECIMAL(12,6)) -
                  CAST(round(ln(CAST(cnt_s + 1 AS DOUBLE) /
                                CAST(tot_s + v AS DOUBLE)), 6)
                       AS DECIMAL(12,6)) AS lr
                FROM vocab CROSS JOIN tot),
         a AS (SELECT tf.doc_id, CAST(sum(tf.tf) AS BIGINT) AS len,
                 sum(CAST(tf.tf AS BIGINT) * lr.lr) AS s
               FROM tf JOIN lr ON tf.token = lr.token GROUP BY 1)
         SELECT doc_id, len,
                CAST(s AS DOUBLE) / CAST(len AS DOUBLE) AS avg_log_ratio,
                round(exp(CAST(s AS DOUBLE) / CAST(len AS DOUBLE)), 6)
                  AS importance
         FROM a""",
    "q_events_u128_decode" ->
      """SELECT event_id,
                CAST(CAST(event_id AS HUGEINT) +
                     CAST(event_id AS HUGEINT) * 7 *
                     CAST('18446744073709551616' AS HUGEINT)
                     AS VARCHAR) AS v
         FROM events""",
    // QA gates: the oracle is the CONSTANT row the Spark side must
    // reproduce — holds=false (a recall/error regression) hash-mismatches
    "q_qa_ivf_recall" ->
      operators.QaGates.gateOracle("ivf_recall", 0.15),
    "q_qa_pq_recall" ->
      operators.QaGates.gateOracle("pq_recall", 0.1),
    "q_qa_ivfpq_recall" ->
      operators.QaGates.gateOracle("ivfpq_recall", 0.08),
    "q_qa_pq_served_consistent" ->
      operators.QaGates.gateOracle("pq_served_consistent", 2.0),
    "q_qa_mmr_valid" ->
      operators.QaGates.gateOracle("mmr_selection_valid", 5.0),
    "q_qa_minhash_recall" ->
      operators.QaGates.gateOracle("minhash_recall", 0.7),
    "q_qa_hyperplane_recall" ->
      operators.QaGates.gateOracle("hyperplane_recall", 0.4),
    "q_qa_simhash_recall" ->
      operators.QaGates.gateOracle("simhash_recall", 0.08),
    "q_qa_approx_users" ->
      operators.QaGates.gateOracle("approx_users_rel_err", 0.15),
    "q_qa_hll_range" ->
      operators.QaGates.gateOracle("hll_range_rel_err", 0.15),
    "q_qa_approx_percentile" ->
      operators.QaGates.gateOracle("approx_percentile_rank_err", 0.01),
    "q_qa_cms_error" ->
      operators.QaGates.gateOracle("cms_freq_bounds", 0.001),
    "q_qa_kmeans_descent" ->
      operators.QaGates.gateOracle("kmeans_objective_descent", 3.0),
    "q_qa_mg_bound" ->
      operators.QaGates.gateOracle("mg_heavy_hitters", 64.0),
    "q_qa_whitening" ->
      operators.QaGates.gateOracle("whitening_decorrelates", 0.05),
    "q_docs_source_scorecard" ->
      """WITH b AS (
           SELECT doc_id, source, md5(text) AS h,
                  length(text) AS n_chars_t,
                  len(string_split(text, ' ')) AS n_tok,
                  len(regexp_extract_all(text, '\b(the|a|of|to|and)\b')) AS n_stop,
                  len(regexp_extract_all(text, '[.,!?;:]')) AS n_punct,
                  len(regexp_extract_all(text, '\b(the|is|and)\b')) AS n_en,
                  len(regexp_extract_all(text, '\b(der|und|die)\b')) AS n_de,
                  len(regexp_extract_all(text, '\b(el|la|los)\b')) AS n_es,
                  len(regexp_extract_all(text, '\b(le|les|des)\b')) AS n_fr
           FROM documents),
         q AS (SELECT *,
                 least(CAST(n_tok AS DOUBLE) / 100.0, 1.0) *
                   (1.0 - CAST(n_punct AS DOUBLE) / CAST(n_chars_t AS DOUBLE)) *
                   (0.5 + CAST(n_stop AS DOUBLE) / CAST(n_tok AS DOUBLE))
                   AS quality_score,
                 CASE WHEN n_en >= greatest(n_de, n_es, n_fr) AND n_en > 0 THEN 'en'
                      WHEN n_de >= greatest(n_es, n_fr) AND n_de > 0 THEN 'de'
                      WHEN n_es >= n_fr AND n_es > 0 THEN 'es'
                      WHEN n_fr > 0 THEN 'fr' ELSE 'unk' END AS pred_lang
               FROM b),
         fc AS (SELECT doc_id, source, h, n_tok,
                  CAST(round(quality_score * 1000000) AS BIGINT) AS q6,
                  NOT (n_tok < 5 OR n_tok > 5000 OR pred_lang <> 'en'
                       OR quality_score < 0.3) AS kept
                FROM q),
         hs AS (SELECT h, count(*) AS n_copies,
                  count(DISTINCT source) AS n_sources
                FROM fc GROUP BY 1)
         SELECT fc.source, CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(fc.n_tok) AS BIGINT) AS total_ws_tokens,
                CAST(count(*) FILTER (hs.n_copies > 1) AS BIGINT) AS n_dup_docs,
                CAST(count(*) FILTER (hs.n_sources > 1) AS BIGINT) AS n_cross_dup_docs,
                CAST(count(*) FILTER (NOT fc.kept) AS BIGINT) AS n_rejected,
                CAST(count(*) FILTER (hs.n_copies > 1) AS DOUBLE) /
                  CAST(count(*) AS DOUBLE) AS dup_ratio,
                CAST(count(*) FILTER (hs.n_sources > 1) AS DOUBLE) /
                  CAST(count(*) AS DOUBLE) AS cross_dup_ratio,
                CAST(sum(fc.q6) AS DOUBLE) /
                  CAST(count(*) AS DOUBLE) AS avg_q6,
                CAST(count(*) FILTER (NOT fc.kept) AS DOUBLE) /
                  CAST(count(*) AS DOUBLE) AS reject_ratio
         FROM fc JOIN hs ON fc.h = hs.h
         GROUP BY 1""",
    // dormancy gap in integer micros; the rate is the only double
    "q_events_reactivations" ->
      """WITH t AS (SELECT user_id, epoch_us(ts) AS tu, event_id,
               epoch_us(ts) // 86400000000 AS db,
               lag(epoch_us(ts)) OVER (PARTITION BY user_id
                 ORDER BY epoch_us(ts), event_id) AS ptu
             FROM events)
         SELECT db * 86400 AS day,
                count(DISTINCT user_id) AS n_active,
                count(DISTINCT CASE WHEN ptu IS NULL THEN user_id END)
                  AS n_new,
                count(DISTINCT CASE WHEN ptu IS NOT NULL
                  AND tu - ptu >= 172800000000 THEN user_id END)
                  AS n_reactivated,
                CAST(count(DISTINCT CASE WHEN ptu IS NOT NULL
                  AND tu - ptu >= 172800000000 THEN user_id END)
                  AS DOUBLE) / CAST(count(DISTINCT user_id) AS DOUBLE)
                  AS reactivation_rate
         FROM t GROUP BY db""",
    // Herfindahl over the 24 hour-of-day slots + deterministic peak
    "q_events_diurnal" ->
      """WITH h AS (SELECT event_type,
               (epoch_us(ts) // 3600000000) % 24 AS hod, count(*) AS c
             FROM events GROUP BY 1, 2),
         p AS (SELECT event_type, hod AS peak_hod, c AS peak_c,
                 row_number() OVER (PARTITION BY event_type
                   ORDER BY c DESC, hod) AS rk
               FROM h),
         a AS (SELECT event_type, CAST(sum(c) AS DECIMAL(38,0)) AS n,
                 sum(CAST(c AS DECIMAL(38,0)) * c) AS cc
               FROM h GROUP BY 1)
         SELECT a.event_type, CAST(a.n AS BIGINT) AS n,
                CAST(a.cc AS DOUBLE) / CAST(a.n * a.n AS DOUBLE)
                  AS hhi_hod,
                p.peak_hod,
                CAST(p.peak_c AS DOUBLE) / CAST(a.n AS DOUBLE)
                  AS peak_share
         FROM a JOIN p ON a.event_type = p.event_type AND p.rk = 1""",
    // LIX on per-source integer totals; punctuation-free source -> NULL
    "q_docs_readability" ->
      """SELECT source, count(*) AS n_docs,
                CAST(sum(len(string_split(text, ' '))) AS BIGINT)
                  AS n_words,
                CAST(sum(length(regexp_replace(text, '[^.!?]', '', 'g')))
                  AS BIGINT) AS n_sentences,
                CAST(sum(len(regexp_extract_all(text, '[^ ]{7,}')))
                  AS BIGINT) AS n_long,
                CAST(sum(len(string_split(text, ' '))) AS DOUBLE) /
                  CAST(nullif(sum(length(regexp_replace(text, '[^.!?]',
                    '', 'g'))), 0) AS DOUBLE) +
                  100.0 *
                  CAST(sum(len(regexp_extract_all(text, '[^ ]{7,}')))
                    AS DOUBLE) /
                  CAST(sum(len(string_split(text, ' '))) AS DOUBLE)
                  AS lix
         FROM documents GROUP BY 1""",
    // Church-Gale burstiness cf/df of the top-50 cf terms
    "q_docs_burstiness" ->
      """WITH tok AS (SELECT doc_id,
               unnest(string_split(lower(text), ' ')) AS token
             FROM documents),
         tc AS (SELECT token, doc_id, count(*) AS c FROM tok
                WHERE token <> '' GROUP BY 1, 2),
         agg AS (SELECT token, CAST(sum(c) AS BIGINT) AS cf,
                   count(*) AS df
                 FROM tc GROUP BY 1)
         SELECT token, cf, df,
                CAST(cf AS DOUBLE) / CAST(df AS DOUBLE) AS burstiness
         FROM agg ORDER BY cf DESC, token LIMIT 50""",
    // MapState counters, monotone across batches: final value per
    // (wallet, type) = the plain batch count
    "q_stream_type_counts" ->
      "SELECT user_id, event_type, count(*) AS n FROM events GROUP BY 1, 2",
    // event-time-ordered bounded ring: last 5 trades per wallet on the
    // (ts, event_id) total order
    "q_stream_recent_trades" ->
      """WITH t AS (SELECT user_id,
               CAST(round(value * 100, 0) AS BIGINT) AS cents,
               row_number() OVER (PARTITION BY user_id
                 ORDER BY epoch_us(ts) DESC, event_id DESC) AS rk
             FROM events)
         SELECT user_id, count(*) AS n_recent,
                CAST(sum(cents) AS BIGINT) AS recent_cents
         FROM t WHERE rk <= 5 GROUP BY 1""",
    // timer-flushed sessionizer, single-batch availableNow semantics:
    // non-final sessions close inline (by_timeout=0); a wallet's final
    // session emits iff its end+gap timer (ms) is behind the final
    // watermark max(ts_ms) - 10min; later finals stay open (unemitted).
    // Gap split is STRICTLY > 30min (processor keeps t - end <= gap).
    "q_stream_session_timeout" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us FROM events),
         wm AS (SELECT (max(ts_us) // 1000) - 600000 AS wm_ms FROM e),
         s AS (SELECT user_id, ts_us,
                      CASE WHEN lag(ts_us) OVER w IS NULL
                           OR ts_us - lag(ts_us) OVER w > 1800000000
                           THEN 1 ELSE 0 END AS ns
               FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)),
         c AS (SELECT *, sum(ns) OVER (PARTITION BY user_id ORDER BY ts_us
                 ROWS UNBOUNDED PRECEDING) AS sid
               FROM s),
         g AS (SELECT user_id, sid, min(ts_us) AS start_us,
                      max(ts_us) AS end_us, CAST(count(*) AS BIGINT) AS n_events
               FROM c GROUP BY user_id, sid),
         m AS (SELECT *, max(sid) OVER (PARTITION BY user_id) AS max_sid
               FROM g)
         SELECT user_id, start_us, end_us, n_events,
                CAST(CASE WHEN sid < max_sid THEN 0 ELSE 1 END AS BIGINT)
                  AS by_timeout
         FROM m, wm
         WHERE sid < max_sid OR (end_us // 1000) + 1800000 < wm_ms""",
    "q_events_asof_tolerance" -> asOfOracleWith(
      """CASE WHEN ts_us - lvts <= 600000000 THEN lv END AS view_id,
                CASE WHEN ts_us - lvts <= 600000000 THEN lvts END
                  AS view_ts_us"""),
    "q_events_cumulative_user" ->
      """SELECT event_id, user_id, epoch_us(ts) AS ts_us,
                CAST(sum(CAST(value AS DECIMAL(18,2))) OVER (
                  PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
                  AS cum_value
         FROM events""",
    "q_events_round_bias" ->
      """SELECT event_type, count(*) AS n,
                count(CASE WHEN CAST(round(value * 100, 0) AS BIGINT)
                           % 100 = 0 THEN 1 END) AS n_whole_dollar,
                count(CASE WHEN CAST(round(value * 100, 0) AS BIGINT)
                           % 1000 = 0 THEN 1 END) AS n_ten_dollar,
                CAST(count(CASE WHEN CAST(round(value * 100, 0) AS BIGINT)
                           % 100 = 0 THEN 1 END) AS DOUBLE)
                  / CAST(count(*) AS DOUBLE) AS whole_dollar_rate,
                CAST(count(CASE WHEN CAST(round(value * 100, 0) AS BIGINT)
                           % 1000 = 0 THEN 1 END) AS DOUBLE)
                  / CAST(count(*) AS DOUBLE) AS ten_dollar_rate
         FROM events GROUP BY 1""",
    "q_events_burstiness" ->
      """WITH pm AS (
           SELECT event_type, epoch_us(ts) // 60000000 AS mb,
                  count(*) AS n
           FROM events GROUP BY 1, 2)
         SELECT event_type,
                CAST(sum(n) AS BIGINT) AS total,
                count(*) AS active_minutes,
                CAST(max(mb) - min(mb) + 1 AS BIGINT) AS span_minutes,
                CAST((max(mb) - min(mb) + 1) *
                       CAST(sum(n * n) AS BIGINT) -
                       CAST(sum(n) AS BIGINT) * CAST(sum(n) AS BIGINT)
                     AS DOUBLE) /
                  CAST((max(mb) - min(mb) + 1) * CAST(sum(n) AS BIGINT)
                       AS DOUBLE) AS fano
         FROM pm GROUP BY 1""",
    "q_events_wallet_overlap" ->
      """WITH tw AS (SELECT DISTINCT event_type, user_id FROM events),
         sz AS (SELECT event_type AS st, count(*) AS sz
                FROM tw GROUP BY 1),
         inter AS (
           SELECT a.event_type AS type_a, b.event_type AS type_b,
                  count(*) AS n_common
           FROM tw a JOIN tw b
             ON a.user_id = b.user_id AND a.event_type < b.event_type
           GROUP BY 1, 2)
         SELECT type_a, type_b, n_common,
                sa.sz AS n_a, sb.sz AS n_b,
                CAST(n_common AS DOUBLE) /
                  CAST(sa.sz + sb.sz - n_common AS DOUBLE) AS jaccard
         FROM inter
         JOIN sz sa ON type_a = sa.st
         JOIN sz sb ON type_b = sb.st""",
    "q_events_gini" ->
      """WITH vols AS (
           SELECT event_type, user_id,
                  sum(CAST(round(value * 100, 0) AS BIGINT)) AS v
           FROM events GROUP BY 1, 2),
         r AS (SELECT *,
                 row_number() OVER (PARTITION BY event_type
                                    ORDER BY v, user_id) AS i
               FROM vols)
         SELECT event_type, count(*) AS n_wallets,
                CAST(sum(v) AS BIGINT) AS total_cents,
                (2.0 * CAST(sum(CAST(i AS HUGEINT) *
                                CAST(v AS HUGEINT)) AS DOUBLE)) /
                  CAST(CAST(count(*) AS HUGEINT) *
                       CAST(sum(v) AS HUGEINT) AS DOUBLE) -
                  CAST(count(*) + 1 AS DOUBLE) /
                    CAST(count(*) AS DOUBLE) AS gini
         FROM r GROUP BY event_type""",
    "q_events_volume_autocorr" ->
      """WITH hourly AS (
           SELECT event_type,
                  (epoch_us(ts) // 3600000000) * 3600 AS hb,
                  CAST(sum(CAST(round(value * 100, 0) AS BIGINT))
                       AS HUGEINT) AS x
           FROM events GROUP BY 1, 2),
         p AS (
           SELECT a.event_type,
                  CAST(count(*) AS HUGEINT) AS n,
                  sum(a.x) AS sx, sum(b.x) AS sy,
                  sum(a.x * b.x) AS sxy,
                  sum(a.x * a.x) AS sxx,
                  sum(b.x * b.x) AS syy
           FROM hourly a JOIN hourly b
             ON a.event_type = b.event_type
                AND a.hb = b.hb + 24 * 3600
           GROUP BY 1)
         SELECT event_type, CAST(n AS BIGINT) AS n_pairs,
                CAST(CAST(n * sxy - sx * sy AS VARCHAR) AS DOUBLE) /
                  (sqrt(CAST(CAST(n * sxx - sx * sx AS VARCHAR) AS DOUBLE)) *
                   sqrt(CAST(CAST(n * syy - sy * sy AS VARCHAR) AS DOUBLE)))
                  AS autocorr
         FROM p""",
    "q_events_price_impact" ->
      """WITH t AS (
           SELECT event_type, epoch_us(ts) AS tu, event_id,
                  CAST(round(value * 100, 0) AS BIGINT) AS cents
           FROM events),
         l AS (SELECT *,
                 lead(cents) OVER (PARTITION BY event_type
                   ORDER BY tu, event_id) AS next_cents
               FROM t),
         m AS (SELECT event_type AS mt, max(cents) AS max_cents
               FROM t GROUP BY 1)
         SELECT event_type,
                least(9, cents * 10 // max_cents) AS size_decile,
                count(*) AS n,
                CAST(sum(next_cents - cents) AS BIGINT)
                  AS sum_impact_cents,
                CAST(CAST(sum(next_cents - cents) AS BIGINT) AS DOUBLE)
                  / CAST(count(*) AS DOUBLE) AS avg_impact_cents
         FROM l JOIN m ON event_type = mt
         WHERE next_cents IS NOT NULL
         GROUP BY 1, 2""",
    "q_events_max_drawdown" ->
      s"""WITH $hourlyBarsCte,
         w AS (SELECT *,
                 row_number() OVER (PARTITION BY hb, event_type
                                    ORDER BY tu DESC, event_id DESC) AS rnd
               FROM b),
         c AS (SELECT hb, event_type,
                 CAST(max(CASE WHEN rnd = 1 THEN v END) AS DOUBLE) AS close
               FROM w GROUP BY hb, event_type),
         d AS (SELECT event_type, hb,
                 close / max(close) OVER (PARTITION BY event_type
                   ORDER BY hb ROWS UNBOUNDED PRECEDING) - 1.0 AS dd
               FROM c),
         r AS (SELECT event_type, dd, hb,
                 row_number() OVER (PARTITION BY event_type
                   ORDER BY dd, hb) AS rk,
                 count(*) OVER (PARTITION BY event_type) AS n_hours
               FROM d)
         SELECT event_type, dd AS max_drawdown, hb AS at_hb,
                CAST(n_hours AS BIGINT) AS n_hours
         FROM r WHERE rk = 1""",
    "q_events_ohlc_gapfill" ->
      s"""WITH $hourlyOhlcCtes,
         c AS (SELECT hb, event_type,
                 CAST(max(CASE WHEN rna = 1 THEN v END) AS DOUBLE) AS open,
                 CAST(max(CASE WHEN rnd = 1 THEN v END) AS DOUBLE) AS close,
                 CAST(max(v) AS DOUBLE) AS high,
                 CAST(min(v) AS DOUBLE) AS low,
                 count(*) AS n, CAST(sum(v) AS DOUBLE) AS volume
               FROM w GROUP BY hb, event_type),
         spine AS (
           SELECT event_type,
                  unnest(generate_series(min(hb), max(hb), 3600)) AS hb
           FROM c GROUP BY event_type),
         j AS (SELECT s.event_type, s.hb, c.open, c.high, c.low, c.close,
                      c.n, c.volume,
                      last_value(c.close IGNORE NULLS) OVER (
                        PARTITION BY s.event_type ORDER BY s.hb
                        ROWS UNBOUNDED PRECEDING) AS ffill_close
               FROM spine s LEFT JOIN c
                 ON s.event_type = c.event_type AND s.hb = c.hb)
         SELECT event_type, hb,
                coalesce(open, ffill_close) AS open,
                coalesce(high, ffill_close) AS high,
                coalesce(low, ffill_close) AS low,
                coalesce(close, ffill_close) AS close,
                coalesce(n, 0) AS n,
                coalesce(volume, 0.0) AS volume,
                n IS NULL AS is_gap
         FROM j""",
    "q_events_ohlc_1h" -> ohlc1hOracle,
    "q_tpch_q1_pricing" ->
      """SELECT l_returnflag, l_linestatus,
                CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
                CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
                  AS sum_base_price,
                CAST(CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
                         CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(4,2))), 2)
                       AS DECIMAL(18,2)) AS DOUBLE)
                  AS sum_disc_price,
                CAST(CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
                         CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(4,2)) *
                         CAST(1 + CAST(l_tax AS DECIMAL(4,2)) AS DECIMAL(4,2))), 2)
                       AS DECIMAL(18,2)) AS DOUBLE)
                  AS sum_charge,
                count(*) AS count_order,
                CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) /
                  CAST(count(*) AS DOUBLE) AS avg_qty,
                CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) /
                  CAST(count(*) AS DOUBLE) AS avg_price
         FROM lineitem
         WHERE l_shipdate <= TIMESTAMP '1998-09-01'
         GROUP BY l_returnflag, l_linestatus""",
    "q_join_orders_customer" ->
      """SELECT c_mktsegment, year(o_orderdate) AS yr,
                month(o_orderdate) AS mon, count(*) AS n_orders,
                CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
                  AS revenue
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY 1, 2, 3""",
    "q_multijoin_nation_region" ->
      """SELECT r_name, n_name,
                CAST(CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
                         CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(4,2))), 2)
                       AS DECIMAL(18,2)) AS DOUBLE)
                  AS revenue,
                count(*) AS n_items
         FROM lineitem
           JOIN orders ON l_orderkey = o_orderkey
           JOIN customer ON o_custkey = c_custkey
           JOIN nation ON c_nationkey = n_nationkey
           JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name, n_name""",
    "q_broadcast_part_agg" ->
      """SELECT p_brand, count(*) AS n_items,
                CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
                CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
                  AS revenue
         FROM lineitem JOIN part ON l_partkey = p_partkey
         GROUP BY p_brand""",
    "q_semi_anti_orders" ->
      """WITH w AS (SELECT c_mktsegment, count(*) AS with_orders FROM customer c
                    WHERE EXISTS (SELECT 1 FROM orders o
                                  WHERE o.o_custkey = c.c_custkey)
                    GROUP BY c_mktsegment),
         a AS (SELECT c_mktsegment, count(*) AS n FROM customer c
               WHERE NOT EXISTS (SELECT 1 FROM orders o
                                 WHERE o.o_custkey = c.c_custkey
                                   AND o.o_totalprice > 450000)
               GROUP BY c_mktsegment)
         SELECT w.c_mktsegment AS c_mktsegment, w.with_orders,
                coalesce(a.n, 0) AS no_big_orders
         FROM w LEFT JOIN a ON w.c_mktsegment = a.c_mktsegment""",
    "q_rollup_sales" ->
      """SELECT coalesce(c_mktsegment, 'ALL') AS segment,
                coalesce(o_orderpriority, 'ALL') AS priority,
                count(*) AS n_orders,
                CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
                  AS revenue
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY ROLLUP (c_mktsegment, o_orderpriority)""",
    "q_window_rank_orders" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
                  row_number() OVER (PARTITION BY o_custkey
                    ORDER BY o_totalprice DESC, o_orderkey) AS rk
           FROM orders)
         WHERE rk <= 3""",
    "q_vwap_lineitem" ->
      """SELECT year(l_shipdate) AS yr, month(l_shipdate) AS mon,
                CAST(CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
                         CAST(l_quantity AS DECIMAL(12,2))), 2)
                       AS DECIMAL(18,2)) AS DOUBLE) /
                  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS vwap,
                CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
                  AS total_qty
         FROM lineitem GROUP BY 1, 2""",
    "q_events_decode_roundtrip" -> wireRoundTripOracle,
    "q_events_log_extract" -> wireRoundTripOracle,
    "q_events_sink_roundtrip" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS event_date, count(*) AS n,
                CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                  AS sum_value
         FROM events GROUP BY 1""",
    "q_events_wire_source" -> wireRoundTripOracle,
    "q_stream_wire_incremental" -> wireRoundTripOracle,
    "q_events_wire_dsv2_write" -> wireRoundTripOracle,
    "q_events_base58_roundtrip" ->
      """SELECT event_id, TRUE AS ok, TRUE AS ok_zeros FROM events""",
    "q_stream_config_presets" ->
      """SELECT 'high_throughput' AS preset, CAST(1 AS BIGINT) AS n_batches,
                count(*) AS n_rows FROM events
         UNION ALL
         SELECT 'low_latency', CAST(4 AS BIGINT), count(*) FROM events""",
    "q_events_wire_checksum" ->
      """SELECT CASE WHEN event_id % 37 = 0 THEN 'corrupt' ELSE 'ok' END
                  AS status,
                count(*) AS n
         FROM events GROUP BY 1""",
    "q_events_wire_resync" ->
      """SELECT CAST(event_id % 7 + 3 AS INTEGER) AS sync_offset,
                count(*) AS n, CAST(count(*) AS BIGINT) AS n_recovered
         FROM events GROUP BY 1""",
    "q_stream_windowed_counts" ->
      """SELECT (epoch_us(ts) // 3600000000) * 3600 AS ws, event_type,
                count(*) AS n
         FROM events WHERE event_type = 'purchase' GROUP BY 1, 2""",
    "q_events_rate_1m" ->
      """WITH m AS (SELECT epoch_us(ts) // 60000000 AS mb, count(*) AS n
                    FROM events GROUP BY 1)
         SELECT mb, n,
                CAST(sum(n) OVER w AS DOUBLE) /
                  CAST(count(*) OVER w AS DOUBLE) AS ma5
         FROM m
         WINDOW w AS (ORDER BY mb ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)""",
    "q_multimodal_frames" ->
      """SELECT doc_id, frame_idx, frame_idx * 256 AS frame_offset FROM (
           SELECT doc_id,
                  unnest(generate_series(0, octet_length(encode(text)) // 256))
                    AS frame_idx
           FROM documents)""",
    "q_events_user_pivot" ->
      """SELECT user_id,
                CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
                CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
                CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
                CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
                CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error
         FROM events GROUP BY user_id""",
    "q_events_block_join" ->
      """WITH w AS (SELECT event_id, epoch_us(ts) AS ts_us,
                           epoch_us(ts) // 60000000 AS slot FROM events),
         b AS (SELECT slot, min(ts_us) AS block_start_us, count(*) AS block_n
               FROM w GROUP BY slot)
         SELECT w.slot AS slot, max(b.block_n) AS n_in_block,
                max(w.ts_us - b.block_start_us) AS max_offset_us,
                CAST(sum(w.ts_us - b.block_start_us) AS BIGINT) AS sum_offset_us
         FROM w JOIN b ON w.slot = b.slot
         GROUP BY w.slot""",
    "q_events_block_real" ->
      """WITH t AS (SELECT epoch_us(ts) // 400000 AS slot, user_id,
                           CAST(round(value * 100, 0) AS BIGINT) AS amt
                    FROM events WHERE event_type = 'purchase')
         SELECT slot, slot - 1 AS parent_slot, slot * 400 AS block_time_ms,
                md5(CAST(slot AS VARCHAR)) AS block_hash,
                count(*) AS n_trades, CAST(sum(amt) AS BIGINT) AS sum_cents,
                count(DISTINCT user_id) AS n_wallets
         FROM t GROUP BY 1, 2, 3, 4""",
    "q_set_ops_customers" ->
      """SELECT c_custkey FROM customer WHERE c_acctbal > 5000
         INTERSECT
         SELECT o_custkey AS c_custkey FROM orders
         EXCEPT
         SELECT o_custkey AS c_custkey FROM orders
         WHERE o_totalprice > 400000""",
    "q_part_name_search" ->
      """SELECT substring(p_name, 1, 1) AS first_char, count(*) AS n_parts,
                CAST(sum(CAST(p_retailprice AS DECIMAL(12,2))) AS DOUBLE)
                  AS total_price
         FROM part
         WHERE p_name LIKE '%a%' AND regexp_matches(p_type, '^[A-Za-z]+')
         GROUP BY 1""",
    "q_orders_dow" ->
      """SELECT CAST(dayofweek(o_orderdate) AS BIGINT) AS dow,
                count(*) AS n_orders,
                CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
                  AS revenue
         FROM orders GROUP BY 1""",
    "q_events_latency_calibration" ->
      """WITH b AS (SELECT event_type,
                           epoch_us(ts) // 1000 AS block_time_ms,
                           epoch_us(ts) // 1000 + (event_id % 2000) AS recv_ms
                    FROM events),
         a AS (SELECT event_type,
                      recv_ms - (block_time_ms + 500) AS adjusted_ms FROM b)
         SELECT event_type, count(*) AS n,
                CAST(sum(CASE WHEN adjusted_ms > 400 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_high_latency,
                max(adjusted_ms) AS max_adjusted_ms,
                CAST(sum(adjusted_ms) AS BIGINT) AS sum_adjusted_ms,
                CAST(CAST(sum(adjusted_ms) AS BIGINT) AS DOUBLE) /
                  CAST(count(*) AS DOUBLE) AS avg_adjusted_ms
         FROM a GROUP BY event_type""",
    "q_events_burst_wallets" ->
      """WITH m AS (SELECT user_id, epoch_us(ts) // 60000000 AS mb,
                           count(*) AS n
                    FROM events GROUP BY 1, 2 HAVING count(*) >= 2)
         SELECT user_id, count(*) AS n_bursts, max(n) AS max_burst
         FROM m GROUP BY user_id""",
    "q_events_counts_salted" -> countsByTypeOracle,
    "q_events_decode_create" ->
      """SELECT 'tok_' || CAST(event_id AS VARCHAR) AS name,
                upper(substring(md5('s' || CAST(event_id AS VARCHAR)), 1, 6)) AS symbol,
                'ipfs://' || md5('u' || CAST(event_id AS VARCHAR)) AS uri,
                md5('ma' || CAST(event_id AS VARCHAR)) ||
                  md5('mb' || CAST(event_id AS VARCHAR)) AS mint_hex,
                md5('ca' || CAST(event_id AS VARCHAR)) ||
                  md5('cb' || CAST(event_id AS VARCHAR)) AS creator_hex,
                epoch_us(ts) AS ev_ts,
                event_id * 3 + 1 AS vtr, event_id * 5 + 2 AS vsr,
                event_id * 7 + 3 AS rtr,
                CAST(round(value * 100, 0) AS BIGINT) AS tts
         FROM events""",
    "q_events_decode_dispatch" ->
      """WITH k AS (SELECT CASE WHEN event_type = 'signup' THEN 'create_token'
                               WHEN event_type = 'error' THEN 'unknown'
                               ELSE 'trade' END AS event_kind,
                          CAST(round(value * 100, 0) AS BIGINT) AS cents
                   FROM events)
         SELECT event_kind, count(*) AS n,
                CAST(sum(CASE WHEN event_kind = 'trade' THEN cents END)
                  AS BIGINT) AS trade_cents,
                CAST(sum(CASE WHEN event_kind = 'create_token' THEN cents END)
                  AS BIGINT) AS create_cents
         FROM k GROUP BY event_kind""",
    "q_events_decode_swap" ->
      """SELECT CASE WHEN event_type = 'purchase' THEN 'buy' ELSE 'sell' END
                  AS event_kind,
                event_id, user_id % 100 AS pool, user_id,
                CAST(round(value * 100, 0) AS BIGINT) AS base_amount,
                event_id * 2 + 1 AS quote_amount, epoch_us(ts) AS ts_us
         FROM events""",
    "q_events_decode_liquidity" ->
      """SELECT CASE WHEN event_type = 'click' THEN 'deposit'
                     ELSE 'withdraw' END AS event_kind,
                event_id, user_id % 100 AS pool, user_id,
                CAST(round(value * 100, 0) AS BIGINT) AS lp_amount,
                event_id * 3 AS base_amt, event_id * 5 AS quote_amt,
                epoch_us(ts) AS ts_us
         FROM events WHERE event_type IN ('click', 'view')""",
    "q_events_registry_dispatch" ->
      """WITH k AS (SELECT CASE event_type
                            WHEN 'purchase' THEN 'swap' WHEN 'view' THEN 'swap'
                            WHEN 'click' THEN 'amm' WHEN 'signup' THEN 'amm'
                            ELSE 'unknown' END AS protocol,
                          CASE event_type
                            WHEN 'purchase' THEN 'buy' WHEN 'view' THEN 'sell'
                            WHEN 'click' THEN 'deposit'
                            WHEN 'signup' THEN 'withdraw'
                            ELSE 'unknown' END AS event_kind,
                          CAST(round(value * 100, 0) AS BIGINT) AS amt
                   FROM events)
         SELECT protocol, event_kind, count(*) AS n,
                CAST(sum(CASE WHEN protocol <> 'unknown' THEN amt END)
                  AS BIGINT) AS sum_amt
         FROM k GROUP BY 1, 2""",
    "q_events_instr_decode" ->
      """SELECT event_id // 8 AS tx_id,
                CAST(row_number() OVER (PARTITION BY event_id // 8
                       ORDER BY event_id) - 1 AS INTEGER) AS instr_idx,
                event_id,
                md5(CAST(user_id AS VARCHAR)) ||
                  md5(CAST(user_id + 1 AS VARCHAR)) AS user_hex,
                md5(CAST(mu AS VARCHAR)) ||
                  md5(CAST(mu + 1 AS VARCHAR)) AS authority_hex,
                CAST(round(value * 100, 0) AS BIGINT) AS value_cents,
                epoch_us(ts) AS ts_us
         FROM (SELECT *, min(user_id) OVER (PARTITION BY event_id // 8)
                 AS mu FROM events)""",
    "q_events_decode_mixed" ->
      """SELECT event_id, user_id % 100 AS pool,
                CAST(event_id % 3 AS INTEGER) AS flags,
                md5(CAST(user_id AS VARCHAR)) ||
                  md5(CAST(user_id + 1 AS VARCHAR)) AS trader_hex,
                CAST(round(value * 100, 0) AS BIGINT) AS base_amount,
                epoch_us(ts) AS ts_us
         FROM events""",
    "q_events_pool_stats" ->
      """SELECT user_id % 100 AS pool,
                count(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_buys,
                count(CASE WHEN event_type = 'view' THEN 1 END) AS n_sells,
                CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
                  AS base_volume,
                count(DISTINCT user_id) AS n_traders
         FROM events WHERE event_type IN ('purchase', 'view')
         GROUP BY 1""",
    "q_events_launch_decode" ->
      """SELECT 'launch' AS protocol,
                CASE event_type WHEN 'signup' THEN 'pool_create'
                                ELSE 'migrate' END AS event_kind,
                count(*) AS n,
                CAST(sum(CASE WHEN event_type = 'signup'
                              THEN CAST(round(value * 100, 0) AS BIGINT)
                              ELSE event_id * 2 + 1 END) AS BIGINT) AS sum_amt
         FROM events WHERE event_type IN ('signup', 'click')
         GROUP BY 1, 2""",
    "q_events_clmm_decode" ->
      """SELECT event_id, user_id % 100 AS pool, user_id,
                CAST(round(value * 100, 0) AS BIGINT) AS amount_in,
                event_id * 2 + 1 AS amount_out,
                event_id * 7 + 1 AS sqrt_price,
                user_id % 1000 AS tick, epoch_us(ts) AS ts_us
         FROM events WHERE event_type = 'purchase'""",
    "q_events_clmm_u128" ->
      """SELECT event_id, user_id % 100 AS pool,
                CAST(CAST(user_id % 1000 AS HUGEINT)
                     * 18446744073709551616 + (event_id * 7 + 1)
                     AS VARCHAR) AS sqrt_price_x64,
                CAST(event_id * 3 AS VARCHAR) AS liquidity,
                epoch_us(ts) AS ts_us
         FROM events WHERE event_type = 'purchase'""",
    "q_events_pumpfun_real" ->
      """WITH k AS (
           SELECT CASE WHEN event_type IN ('purchase', 'view')
                       THEN 'pf_trade'
                       WHEN event_type = 'signup' THEN 'pf_migrate'
                       ELSE 'unknown' END AS event_kind,
                  CASE WHEN event_type = 'purchase' THEN 1
                       WHEN event_type = 'view' THEN 0 END AS is_buy,
                  CASE WHEN event_type <> 'error'
                       THEN CAST(round(value * 100, 0) AS BIGINT)
                       END AS sol,
                  CASE WHEN event_type IN ('purchase', 'view')
                       THEN event_id * 3 END AS tok,
                  CASE WHEN event_type IN ('purchase', 'view')
                       THEN CAST(round(value * 100, 0) AS BIGINT) // 100 +
                            CAST(round(value * 100, 0) AS BIGINT) // 300
                       END AS fees,
                  CASE WHEN event_type <> 'error' THEN user_id END AS uid,
                  CASE WHEN event_type <> 'error'
                       THEN epoch_us(ts) // 1000000 END AS tss
           FROM events
           WHERE event_type IN ('purchase', 'view', 'signup', 'error'))
         SELECT event_kind, is_buy, count(*) AS n,
                CAST(sum(sol) AS BIGINT) AS sum_sol,
                CAST(sum(tok) AS BIGINT) AS sum_tok,
                CAST(sum(fees) AS BIGINT) AS sum_fees,
                count(DISTINCT uid) AS n_users, max(tss) AS max_ts
         FROM k GROUP BY 1, 2""",
    "q_events_bonk_real" ->
      """WITH k AS (
           SELECT CASE WHEN event_type = 'purchase' THEN 'pumpfun'
                       WHEN event_type IN ('view', 'signup') THEN 'bonk'
                       END AS protocol,
                  CASE WHEN event_type = 'purchase' THEN 'pf_trade'
                       WHEN event_type = 'view' THEN 'bonk_trade'
                       WHEN event_type = 'signup' THEN 'bonk_pool_create'
                       END AS event_kind,
                  CASE WHEN event_type IN ('purchase', 'view')
                       THEN CAST(round(value * 100, 0) AS BIGINT)
                       END AS amt,
                  CASE WHEN event_type = 'view'
                       THEN event_id % 2 END AS dir,
                  CASE WHEN event_type = 'signup'
                       THEN 'tok_' || event_id END AS nm
           FROM events WHERE event_type IN ('purchase', 'view', 'signup'))
         SELECT protocol, event_kind, count(*) AS n,
                CAST(sum(amt) AS BIGINT) AS sum_amt,
                CAST(sum(dir) AS BIGINT) AS sum_dir,
                count(DISTINCT nm) AS n_names
         FROM k GROUP BY 1, 2""",
    "q_events_pumpswap_real" ->
      """WITH k AS (
           SELECT CASE event_type WHEN 'purchase' THEN 'ps_buy'
                    WHEN 'view' THEN 'ps_sell' WHEN 'click' THEN 'ps_deposit'
                    WHEN 'signup' THEN 'ps_withdraw' END AS event_kind,
                  CASE WHEN event_type IN ('purchase', 'view')
                       THEN CAST(round(value * 100, 0) AS BIGINT)
                       ELSE event_id * 6 END AS base_amt,
                  CASE WHEN event_type IN ('purchase', 'view')
                       THEN event_id * 4 ELSE event_id * 8 END AS quote_amt,
                  CASE WHEN event_type IN ('purchase', 'view')
                       THEN event_id % 1000 END AS lp_fee,
                  event_id * 7 AS pqr, user_id
           FROM events
           WHERE event_type IN ('purchase', 'view', 'click', 'signup'))
         SELECT event_kind, count(*) AS n,
                CAST(sum(base_amt) AS BIGINT) AS sum_base,
                CAST(sum(quote_amt) AS BIGINT) AS sum_quote,
                CAST(sum(lp_fee) AS BIGINT) AS sum_lp_fee,
                CAST(sum(pqr) AS BIGINT) AS sum_pqr,
                count(DISTINCT user_id) AS n_users
         FROM k GROUP BY 1""",
    "q_events_cpmm_real" ->
      """WITH k AS (
           SELECT CASE event_type
                    WHEN 'purchase' THEN 'cpmm_swap_base_input'
                    WHEN 'view' THEN 'cpmm_swap_base_output'
                    WHEN 'click' THEN 'cpmm_deposit'
                    WHEN 'signup' THEN 'cpmm_withdraw'
                    WHEN 'error' THEN 'cpmm_initialize' END AS event_kind,
                  CASE WHEN event_type IN ('purchase', 'view', 'click',
                                           'signup')
                       THEN CAST(round(value * 100, 0) AS BIGINT)
                       ELSE event_id * 2 END AS a,
                  CASE event_type WHEN 'purchase' THEN event_id + 1
                    WHEN 'view' THEN event_id * 2
                    WHEN 'click' THEN event_id * 5
                    WHEN 'signup' THEN event_id * 5
                    ELSE event_id * 4 END AS b,
                  CASE WHEN event_type = 'error'
                       THEN epoch_us(ts) // 1000000 END AS open_time
           FROM events)
         SELECT event_kind, count(*) AS n,
                CAST(sum(a) AS BIGINT) AS sum_a,
                CAST(sum(b) AS BIGINT) AS sum_b,
                max(open_time) AS max_open
         FROM k GROUP BY 1""",
    "q_events_clmm_real" ->
      """WITH k AS (
           SELECT CASE WHEN event_type = 'purchase' THEN 'clmm_swap'
                       ELSE 'clmm_open_position_v2' END AS event_kind,
                  CASE WHEN event_type = 'purchase'
                       THEN CAST(round(value * 100, 0) AS BIGINT)
                       END AS amount,
                  CASE WHEN event_type = 'purchase'
                       THEN event_id % 2 END AS ibi,
                  CASE WHEN event_type = 'purchase'
                       THEN CAST(user_id % 1000 AS HUGEINT)
                            * 18446744073709551616 + (event_id * 7 + 1)
                       END AS sqp,
                  CASE WHEN event_type = 'view'
                       THEN -(user_id % 880 + 1) * 64 END AS tick_lo,
                  CASE WHEN event_type = 'view'
                       THEN (user_id % 880 + 1) * 64 END AS tick_hi,
                  CASE WHEN event_type = 'view'
                       THEN CAST(2 AS HUGEINT) * 18446744073709551616
                            + event_id * 3 END AS liq,
                  CASE WHEN event_type = 'view' AND user_id % 3 <> 0
                       THEN CAST(user_id % 2 AS INTEGER) END AS base_flag
           FROM events WHERE event_type IN ('purchase', 'view'))
         SELECT event_kind, count(*) AS n,
                CAST(sum(amount) AS BIGINT) AS sum_amount,
                CAST(sum(ibi) AS BIGINT) AS n_base_input,
                CAST(sum(sqp) AS VARCHAR) AS sum_sqrt_price,
                CAST(sum(tick_lo) AS BIGINT) AS sum_tick_lo,
                CAST(sum(tick_hi) AS BIGINT) AS sum_tick_hi,
                CAST(sum(liq) AS VARCHAR) AS sum_liquidity,
                CAST(sum(base_flag) AS BIGINT) AS sum_base_flag,
                count(base_flag) AS n_base_flag_set
         FROM k GROUP BY 1""",
    "q_events_ammv4_real" ->
      """WITH k AS (
           SELECT CASE event_type
                    WHEN 'purchase' THEN 'ammv4_swap_base_in'
                    WHEN 'view' THEN 'ammv4_swap_base_out'
                    WHEN 'click' THEN 'ammv4_deposit'
                    WHEN 'signup' THEN 'ammv4_withdraw'
                    WHEN 'error' THEN 'ammv4_initialize2' END AS event_kind,
                  CASE WHEN event_type IN ('purchase', 'view', 'click',
                                           'signup')
                       THEN CAST(round(value * 100, 0) AS BIGINT)
                       ELSE event_id * 2 END AS a,
                  CASE WHEN event_type = 'error'
                       THEN user_id % 256 END AS nonce,
                  CASE WHEN event_type = 'click'
                       THEN event_id % 2 END AS base_side
           FROM events)
         SELECT event_kind, count(*) AS n,
                CAST(sum(a) AS BIGINT) AS sum_a,
                CAST(sum(nonce) AS BIGINT) AS sum_nonce,
                CAST(sum(base_side) AS BIGINT) AS n_base_side
         FROM k GROUP BY 1""",
    "q_events_damm_real" ->
      """SELECT CAST(event_id % 2 AS INTEGER) AS trade_direction,
                count(*) AS n,
                CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
                  AS sum_amount_0,
                CAST(sum(event_id * 11) AS BIGINT) AS sum_output,
                CAST(sum(CAST(user_id % 1000 AS HUGEINT)
                         * 18446744073709551616 + (event_id * 13 + 1))
                  AS VARCHAR) AS sum_sqrt_price,
                CAST(sum(CASE WHEN event_id % 5 = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_referral,
                CAST(sum(event_id * 29) AS BIGINT) AS sum_reserve_a,
                max(epoch_us(ts) // 1000000) AS max_ts
         FROM events WHERE event_type IN ('purchase', 'view')
         GROUP BY 1""",
    "q_events_pumpfun_create_real" ->
      """SELECT 'tok_' || event_id AS name,
                'T' || (user_id % 100) AS symbol,
                'ipfs://' || (event_id % 1000) AS uri,
                epoch_us(ts) // 1000000 AS ts_s,
                event_id * 2 AS vtr, event_id * 3 AS vsr,
                event_id * 5 AS rtr,
                CAST(round(value * 100, 0) AS BIGINT) AS tts,
                CASE WHEN event_id % 2 = 0 THEN
                  CAST(event_id % 4 = 0 AS INTEGER) END AS mayhem,
                CAST(event_id % 2 = 0 AS INTEGER) AS has_tp
         FROM events WHERE event_type = 'signup'""",
    "q_events_account_real" ->
      """WITH k AS (
           SELECT CASE event_type WHEN 'signup' THEN 'pumpfun_acct'
                    WHEN 'click' THEN 'pumpswap_acct'
                    WHEN 'view' THEN 'bonk_acct' END AS protocol,
                  CASE event_type WHEN 'signup' THEN 'pf_bonding_curve'
                    WHEN 'click' THEN 'ps_pool'
                    WHEN 'view' THEN 'bonk_pool_state' END AS event_kind,
                  CASE event_type WHEN 'signup' THEN event_id * 11
                    WHEN 'click' THEN CAST(round(value * 100, 0) AS BIGINT)
                    WHEN 'view' THEN event_id * 3 END AS v,
                  CASE event_type WHEN 'signup' THEN event_id % 2
                    WHEN 'click' THEN event_id % 65536
                    WHEN 'view' THEN event_id % 512 END AS w,
                  CASE event_type WHEN 'view' THEN
                    event_id % 1009 + event_id % 7 + event_id % 11 +
                    event_id % 13 + event_id % 17
                  ELSE 0 END AS vest
           FROM events WHERE event_type IN ('signup', 'click', 'view'))
         SELECT protocol, event_kind, count(*) AS n,
                CAST(sum(v) AS BIGINT) AS sum_v,
                CAST(sum(w) AS BIGINT) AS sum_w,
                CAST(sum(vest) AS BIGINT) AS sum_vesting
         FROM k GROUP BY 1, 2""",
    "q_events_compute_budget" ->
      """SELECT user_id % 25 AS wallet_bucket, count(*) AS n_tx,
                CAST(sum(user_id % 14 * 100000 + 150000) AS BIGINT)
                  AS sum_units,
                CAST(sum((user_id % 14 * 100000 + 150000)
                         * (event_id % 100000 + 1)) AS BIGINT)
                  AS fee_microlamports,
                CAST(max(event_id % 100000 + 1) AS BIGINT) AS max_price
         FROM events WHERE event_type = 'click'
         GROUP BY 1""",
    "q_stream_real_dispatch" ->
      """WITH k AS (
           SELECT CASE WHEN event_type = 'purchase' THEN 'pumpfun'
                       ELSE 'bonk' END AS protocol,
                  CASE WHEN event_type = 'purchase' THEN 'pf_trade'
                       ELSE 'bonk_trade' END AS event_kind,
                  CAST(round(value * 100, 0) AS BIGINT) AS amt,
                  CASE WHEN event_type = 'view'
                       THEN event_id % 2 END AS dir
           FROM events WHERE event_type IN ('purchase', 'view'))
         SELECT protocol, event_kind, count(*) AS n,
                CAST(sum(amt) AS BIGINT) AS sum_amt,
                CAST(sum(dir) AS BIGINT) AS sum_dir
         FROM k GROUP BY 1, 2""",
    "q_events_ix_taxonomy" ->
      """WITH cents AS (SELECT event_type, event_id,
                CAST(round(value * 100, 0) AS BIGINT) AS c FROM events),
         k AS (
           SELECT 'raydium_clmm' AS protocol, 'clmm_swap' AS event_kind,
                  c AS arg, CAST(NULL AS BIGINT) AS arg2
           FROM cents WHERE event_type = 'purchase'
           UNION ALL
           SELECT 'meteora_ix', 'damm_swap_ix', c, event_id + 1
           FROM cents WHERE event_type = 'purchase'
           UNION ALL
           SELECT 'pumpfun_ix', 'pf_buy_ix', c, event_id + 5
           FROM cents WHERE event_type = 'signup'
           UNION ALL
           SELECT 'pumpswap_ix', 'ps_buy_ix', c, event_id + 5
           FROM cents WHERE event_type = 'signup'
           UNION ALL
           SELECT 'bonk_ix', 'bonk_migrate_to_amm', c, event_id * 2
           FROM cents WHERE event_type = 'view'
           UNION ALL
           SELECT 'raydium_amm_v4', 'ammv4_withdraw_pnl',
                  CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
           FROM cents WHERE event_type = 'click'
           UNION ALL
           SELECT 'raydium_clmm', 'clmm_close_position',
                  CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
           FROM cents WHERE event_type = 'error')
         SELECT protocol, event_kind, count(*) AS n,
                CAST(sum(arg) AS BIGINT) AS sum_arg,
                CAST(sum(arg2) AS BIGINT) AS sum_arg2
         FROM k GROUP BY 1, 2""",
    "q_events_bonk_trade_ix" ->
      """SELECT CASE event_type
                WHEN 'purchase' THEN 'bonk_buy_exact_in'
                WHEN 'signup' THEN 'bonk_buy_exact_out'
                WHEN 'view' THEN 'bonk_sell_exact_in'
                ELSE 'bonk_sell_exact_out' END AS event_kind,
              count(*) AS n,
              CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
                AS sum_amount,
              CAST(sum(event_id + 3) AS BIGINT) AS sum_threshold,
              CAST(sum(event_id % 10000) AS BIGINT) AS sum_fee_rate
         FROM events
         WHERE event_type IN ('purchase', 'signup', 'view', 'click')
         GROUP BY 1""",
    "q_events_config_accounts" ->
      """WITH k AS (
           SELECT CASE event_type WHEN 'purchase' THEN 'pumpfun_global_acct'
                    WHEN 'view' THEN 'pumpswap_cfg_acct'
                    WHEN 'click' THEN 'bonk_cfg_acct'
                    WHEN 'signup' THEN 'bonk_cfg_acct' END AS protocol,
                  CASE event_type WHEN 'purchase' THEN 'pf_global'
                    WHEN 'view' THEN 'ps_global_config'
                    WHEN 'click' THEN 'bonk_global_config'
                    WHEN 'signup' THEN 'bonk_platform_config'
                    END AS event_kind,
                  CASE event_type WHEN 'purchase' THEN event_id * 2
                    WHEN 'view' THEN event_id % 500
                    ELSE event_id % 97 END AS a,
                  CASE WHEN event_type = 'signup'
                       THEN 'plat_' || event_id END AS nm
           FROM events
           WHERE event_type IN ('purchase', 'view', 'click', 'signup')
           UNION ALL
           SELECT p, CASE WHEN p = 'cpmm_acct' THEN 'cpmm_amm_config'
                          ELSE 'clmm_amm_config' END,
                  event_id % 97, NULL
           FROM events, (VALUES ('cpmm_acct'), ('clmm_acct')) t(p)
           WHERE event_type = 'error')
         SELECT protocol, event_kind, count(*) AS n,
                CAST(sum(a) AS BIGINT) AS sum_a,
                count(DISTINCT nm) AS n_names
         FROM k GROUP BY 1, 2""",
    "q_events_pool_accounts" ->
      """WITH k AS (
           SELECT 'cpmm_acct' AS protocol, 'cpmm_pool_state' AS event_kind,
                  event_id * 2 AS locked, event_id % 1000 AS b,
                  epoch_us(ts) // 1000000 AS t, user_id AS creator
           FROM events WHERE event_type = 'purchase'
           UNION ALL
           SELECT 'bonk_acct', 'bonk_vesting_record',
                  event_id * 3, event_id % 500,
                  epoch_us(ts) // 1000000, NULL
           FROM events WHERE event_type = 'signup')
         SELECT protocol, event_kind, count(*) AS n,
                CAST(sum(locked) AS BIGINT) AS sum_locked,
                CAST(sum(b) AS BIGINT) AS sum_b,
                CAST(sum(t) AS BIGINT) AS sum_t,
                count(DISTINCT creator) AS n_creators
         FROM k GROUP BY 1, 2""",
    "q_events_token_accounts" ->
      """WITH k AS (
           SELECT CASE event_type WHEN 'purchase' THEN 'spl_acct'
                    WHEN 'click' THEN 'spl22_acct'
                    ELSE 'nonce_acct' END AS protocol,
                  CASE WHEN event_type IN ('purchase', 'click')
                       THEN 'token_account'
                       ELSE 'nonce_account' END AS event_kind,
                  CASE WHEN event_type IN ('purchase', 'click')
                       THEN CAST(round(value * 100, 0) AS BIGINT)
                       ELSE event_id % 5000 + 5000 END AS amt,
                  user_id
           FROM events WHERE event_type IN ('purchase', 'click', 'view'))
         SELECT protocol, event_kind, count(*) AS n,
                CAST(sum(amt) AS BIGINT) AS sum_amt,
                count(DISTINCT user_id) AS n_owners
         FROM k GROUP BY 1, 2""",
    "q_events_cpi_merge" ->
      """SELECT event_id // 8 AS tx_id,
                CAST(row_number() OVER (PARTITION BY event_id // 8
                       ORDER BY event_id) - 1 AS INTEGER) AS outer_idx,
                CAST(0 AS INTEGER) AS inner_idx,
                CAST(round(value * 100, 0) AS BIGINT) AS amount,
                CAST(round(value * 100, 0) AS BIGINT) + 10 AS max_sol_cost,
                md5(CAST(user_id AS VARCHAR)) ||
                  md5(CAST(user_id + 1 AS VARCHAR)) AS user_hex,
                CAST(round(value * 100, 0) AS BIGINT) AS sol_amount,
                event_id * 3 AS token_amount, CAST(1 AS INTEGER) AS is_buy,
                epoch_us(ts) // 1000000 AS ts_s,
                event_id * 7 AS virtual_sol_reserves,
                CAST(round(value * 100, 0) AS BIGINT) // 100 AS fee,
                CAST(round(value * 100, 0) AS BIGINT) // 300 AS creator_fee
         FROM events WHERE event_type = 'purchase'""",
    "q_events_dev_attribution" ->
      """SELECT CASE WHEN EXISTS (
                  SELECT 1 FROM events d
                  WHERE d.event_type = 'signup'
                    AND d.event_id // 8 = t.event_id // 8
                    AND d.user_id = t.user_id) THEN 1 ELSE 0 END AS is_dev,
                count(*) AS n_trades,
                CAST(sum(CAST(round(t.value * 100, 0) AS BIGINT)) AS BIGINT)
                  AS volume_cents,
                count(DISTINCT t.user_id) AS n_wallets
         FROM events t WHERE t.event_type = 'purchase'
         GROUP BY 1""",
    "q_docs_decontaminated" ->
      s"""WITH $wordTrigramCtes,
         -- MATERIALIZED: sz/bg/hits each pull the corpus-wide gram
         -- stream g; DuckDB inlines plain CTEs per reference, so three
         -- concurrent gram explodes exhausted spill at sf100 --
         -- materializing the (small) aggregates serializes them
         sz AS MATERIALIZED (
           SELECT doc_id, count(*) AS n_grams FROM g GROUP BY 1),
         bg AS MATERIALIZED (
           SELECT DISTINCT g FROM g WHERE doc_id % 97 = 0),
         hits AS MATERIALIZED (
           SELECT g.doc_id, count(*) AS n_hits
           FROM g JOIN bg ON g.g = bg.g GROUP BY 1),
         contaminated AS (SELECT h.doc_id FROM hits h
                          JOIN sz ON h.doc_id = sz.doc_id
                          WHERE CAST(h.n_hits AS DOUBLE) /
                                CAST(sz.n_grams AS DOUBLE) >= 0.5)
         SELECT doc_id, source, lang, md5(text) AS text_md5
         FROM documents
         WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)""",
    "q_docs_chunk_windows" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws,
                           CAST(len(string_split(text, ' ')) AS BIGINT) AS n
                    FROM documents),
         c AS (SELECT doc_id, ws, n,
                      unnest(range(0, greatest((n - 64 + 47) // 48, 0) + 1))
                        AS chunk_idx
               FROM t)
         SELECT doc_id, chunk_idx,
                least(64, n - chunk_idx * 48) AS chunk_tokens,
                md5(array_to_string(
                  ws[chunk_idx * 48 + 1 : chunk_idx * 48 + 64], ' '))
                  AS chunk_md5
         FROM c""",
    "q_docs_contamination" ->
      s"""WITH $wordTrigramCtes,
         sz AS MATERIALIZED (
           SELECT doc_id, count(*) AS n_grams FROM g GROUP BY 1),
         bg AS MATERIALIZED (
           SELECT DISTINCT g FROM g WHERE doc_id % 97 = 0),
         hits AS MATERIALIZED (
           SELECT g.doc_id, count(*) AS n_hits
           FROM g JOIN bg ON g.g = bg.g GROUP BY 1)
         SELECT h.doc_id, sz.n_grams, h.n_hits,
                CAST(h.n_hits AS DOUBLE) / CAST(sz.n_grams AS DOUBLE)
                  AS contam_frac,
                (CAST(h.n_hits AS DOUBLE) / CAST(sz.n_grams AS DOUBLE)) >= 0.5
                  AS contaminated
         FROM hits h JOIN sz ON h.doc_id = sz.doc_id""",
    "q_dedup_docs_corpus" -> dedupKeepersOracle,
    // rep-level pair contract: SAME oracle as the expanded twin — the
    // whole point of C13d is keeper-set equality without the expansion
    "q_dedup_docs_corpus_rep" -> dedupKeepersOracle,
    "q_ann_ivf_full_probe" -> bruteforceTopkOracle,
    "q_ann_ivf_centroids" ->
      """WITH x AS (SELECT label, unnest(generate_series(0, 63)) AS i,
                           CAST(unnest(embedding) AS DOUBLE) AS v
                    FROM embeddings)
         SELECT label, i, count(*) AS n,
                (CAST(CAST(sum(CAST(round(v * 1000000, 0) AS BIGINT))
                      AS BIGINT) AS DOUBLE)
                 / CAST(count(*) AS DOUBLE)) / 1000000.0 AS centroid
         FROM x GROUP BY 1, 2""",
    "q_stream_ss_attribution" ->
      """SELECT p.user_id, count(*) AS n_attributed
         FROM (SELECT user_id, epoch_us(ts) AS pts FROM events
               WHERE event_type = 'purchase') p
         JOIN (SELECT user_id, epoch_us(ts) AS sts FROM events
               WHERE event_type = 'signup') s
           ON p.user_id = s.user_id AND p.pts >= s.sts
              AND p.pts <= s.sts + 3600000000
         GROUP BY 1""",
    "q_tpch_q4_priority" ->
      """SELECT o_orderpriority, count(*) AS order_count
         FROM orders o
         WHERE o.o_orderdate >= TIMESTAMP '1995-01-01'
           AND o.o_orderdate < TIMESTAMP '1996-01-01'
           AND EXISTS (SELECT 1 FROM lineitem l
                       WHERE l.l_orderkey = o.o_orderkey
                         AND l.l_shipdate >
                             o.o_orderdate + INTERVAL 60 DAY)
         GROUP BY 1""",
    "q_sql_busiest_minutes" ->
      """SELECT event_type, minute, n FROM (
           SELECT event_type, epoch_us(ts) // 60000000 AS minute,
                  count(*) AS n,
                  row_number() OVER (PARTITION BY event_type
                    ORDER BY count(*) DESC, minute) AS rn
           FROM events GROUP BY 1, 2)
         WHERE rn <= 3""",
    "q_tpch_q13_custdist" ->
      """WITH oc AS (SELECT o_custkey, count(*) AS cnt
                     FROM orders
                     WHERE o_orderpriority <> '1-URGENT'
                     GROUP BY 1)
         SELECT coalesce(cnt, 0) AS n_orders, count(*) AS n_customers
         FROM customer LEFT JOIN oc ON c_custkey = o_custkey
         GROUP BY 1""",
    "q_tpch_q6_forecast" ->
      """SELECT count(*) AS n_items,
                CAST(CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
                         CAST(l_discount AS DECIMAL(4,2))), 2)
                       AS DECIMAL(18,2)) AS DOUBLE)
                  AS revenue
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1996-01-01'
           AND l_shipdate < TIMESTAMP '1997-01-01'
           AND l_discount >= 0.05 AND l_discount <= 0.07
           AND CAST(CAST(l_discount AS DECIMAL(4,2)) * 100 AS BIGINT)
               BETWEEN 5 AND 7
           AND l_quantity < 24""",
    "q_tpch_q8_share" ->
      """WITH v AS (
           SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
                  CAST(l_extendedprice AS DECIMAL(12,2)) *
                    CAST(1 - CAST(l_discount AS DECIMAL(4,2))
                         AS DECIMAL(4,2)) AS volume,
                  n2.n_name AS supp_nation
           FROM lineitem
           JOIN part ON l_partkey = p_partkey AND p_type = 'ECONOMY'
           JOIN orders ON l_orderkey = o_orderkey
           JOIN customer ON o_custkey = c_custkey
           JOIN nation n1 ON c_nationkey = n1.n_nationkey
           JOIN region ON n1.n_regionkey = r_regionkey
                AND r_name = 'AMERICA'
           JOIN supplier ON l_suppkey = s_suppkey
           JOIN nation n2 ON s_nationkey = n2.n_nationkey
           WHERE o_orderdate >= TIMESTAMP '1996-01-01'
             AND o_orderdate < TIMESTAMP '1998-01-01')
         SELECT o_year,
                CAST(CAST(round(sum(CASE WHEN supp_nation = 'NATION_3'
                              THEN volume
                              ELSE CAST(0 AS DECIMAL(12,2)) END), 2)
                       AS DECIMAL(18,2)) AS DOUBLE)
                  / CAST(CAST(round(sum(volume), 2) AS DECIMAL(18,2))
                         AS DOUBLE) AS mkt_share,
                CAST(CAST(round(sum(volume), 2) AS DECIMAL(18,2)) AS DOUBLE)
                  AS total_volume
         FROM v GROUP BY 1""",
    "q_tpch_q15_topsupp" ->
      """WITH revenue AS (
           SELECT l_suppkey,
                  sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
                      CAST(1 - CAST(l_discount AS DECIMAL(4,2))
                           AS DECIMAL(4,2))) AS total_rev
           FROM lineitem
           WHERE l_shipdate >= TIMESTAMP '1996-01-01'
             AND l_shipdate < TIMESTAMP '1996-04-01'
           GROUP BY 1)
         SELECT s_suppkey, s_name,
                CAST(total_rev AS DOUBLE) AS total_revenue
         FROM revenue JOIN supplier ON l_suppkey = s_suppkey
         WHERE total_rev = (SELECT max(total_rev) FROM revenue)""",
    "q_tpch_q12_late" ->
      """SELECT l_returnflag,
                count(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                           THEN 1 END) AS high_line_count,
                count(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                           THEN 1 END) AS low_line_count
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE l_shipdate >= TIMESTAMP '1996-01-01'
           AND l_shipdate < TIMESTAMP '1997-01-01'
           AND l_shipdate >= o_orderdate + INTERVAL 60 DAY
         GROUP BY 1""",
    "q_tpch_q2_mincost" ->
      """WITH reg_supp AS (
           SELECT s_suppkey, s_name, s_acctbal, n_name
           FROM supplier
           JOIN nation ON s_nationkey = n_nationkey
           JOIN region ON n_regionkey = r_regionkey
                AND r_name = 'EUROPE'),
         cost AS (
           SELECT p_partkey, p_name, s_suppkey, s_name, s_acctbal, n_name,
                  min(CAST(l_extendedprice AS DECIMAL(12,2)))
                    AS supply_cost
           FROM lineitem
           JOIN reg_supp ON l_suppkey = s_suppkey
           JOIN part ON l_partkey = p_partkey
                AND p_type = 'LARGE' AND p_size <= 10
           GROUP BY 1, 2, 3, 4, 5, 6)
         SELECT s_acctbal, s_name, n_name, p_partkey, p_name,
                CAST(supply_cost AS DOUBLE) AS min_cost
         FROM cost c
         WHERE supply_cost = (SELECT min(supply_cost) FROM cost c2
                              WHERE c2.p_partkey = c.p_partkey)""",
    "q_tpch_q9_profit" ->
      """SELECT n_name AS nation,
                CAST(year(o_orderdate) AS BIGINT) AS o_year,
                CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
                         CAST(1 - CAST(l_discount AS DECIMAL(4,2))
                              AS DECIMAL(4,2))) AS DOUBLE) -
                CAST(sum(CAST(p_retailprice AS DECIMAL(12,2)) *
                         CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
                  / 10.0 AS profit
         FROM lineitem
         JOIN part ON l_partkey = p_partkey AND p_name LIKE 'red %'
         JOIN orders ON l_orderkey = o_orderkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         GROUP BY 1, 2""",
    "q_tpch_q11_important" ->
      """WITH per_part AS (
           SELECT l_partkey AS p_partkey,
                  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) * 100
                       AS BIGINT) AS value_cents
           FROM lineitem
           JOIN supplier ON l_suppkey = s_suppkey
           JOIN nation ON s_nationkey = n_nationkey
                AND n_name = 'NATION_3'
           GROUP BY 1)
         SELECT p_partkey,
                CAST(value_cents AS DOUBLE) / 100.0 AS value
         FROM per_part
         WHERE value_cents * 1000 >
               (SELECT sum(value_cents) FROM per_part)""",
    "q_tpch_q16_suppcnt" ->
      """WITH pairs AS (
           SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
         ok AS (
           SELECT l_partkey, l_suppkey FROM pairs
           WHERE l_suppkey NOT IN
                 (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0))
         SELECT p_brand, p_type, p_size,
                count(DISTINCT l_suppkey) AS supplier_cnt
         FROM ok
         JOIN part ON l_partkey = p_partkey
         WHERE p_brand <> 'Brand#1'
           AND p_type NOT LIKE 'SMALL%'
           AND p_size IN (1, 3, 9, 14, 19, 23, 36, 45)
         GROUP BY 1, 2, 3""",
    "q_tpch_q20_dominant" ->
      """WITH li AS (
           SELECT l_partkey, l_suppkey, l_quantity
           FROM lineitem
           JOIN part ON l_partkey = p_partkey
                AND p_name LIKE 'small %'
           WHERE l_shipdate >= TIMESTAMP '1996-01-01'
             AND l_shipdate < TIMESTAMP '1997-01-01'),
         pair_qty AS (
           SELECT l_partkey, l_suppkey,
                  CAST(sum(l_quantity) AS BIGINT) AS pair_qty
           FROM li GROUP BY 1, 2),
         part_qty AS (
           SELECT l_partkey,
                  CAST(sum(l_quantity) AS BIGINT) AS total_qty
           FROM li GROUP BY 1)
         SELECT s_suppkey, s_name, count(*) AS n_parts_dominated
         FROM pair_qty
         JOIN part_qty USING (l_partkey)
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
              AND n_name = 'NATION_1'
         WHERE pair_qty * 2 > total_qty
         GROUP BY 1, 2""",
    "q_tpch_q21_waiting" ->
      """WITH li AS (
           SELECT l_orderkey, l_suppkey, l_shipdate
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           WHERE o_orderstatus = 'F'),
         per_order AS (
           SELECT l_orderkey, count(DISTINCT l_suppkey) AS n_supp,
                  max(l_shipdate) AS max_ship
           FROM li GROUP BY 1),
         holdups AS (
           SELECT li.l_orderkey,
                  count(DISTINCT li.l_suppkey) AS n_max_shippers,
                  max(po.n_supp) AS n_supp,
                  max(li.l_suppkey) AS late_supp
           FROM li JOIN per_order po ON li.l_orderkey = po.l_orderkey
             AND li.l_shipdate = po.max_ship
           GROUP BY 1
           HAVING max(po.n_supp) > 1 AND count(DISTINCT li.l_suppkey) = 1)
         SELECT late_supp AS s_suppkey, s_name, count(*) AS numwait
         FROM holdups JOIN supplier ON late_supp = s_suppkey
         GROUP BY 1, 2
         ORDER BY numwait DESC, s_suppkey
         LIMIT 20""",
    "q_tpch_q5_local" ->
      """SELECT n_name,
                CAST(CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
                         CAST(1 - CAST(l_discount AS DECIMAL(4,2))
                              AS DECIMAL(4,2))), 2)
                       AS DECIMAL(18,2)) AS DOUBLE) AS revenue,
                count(*) AS n_items
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN supplier ON l_suppkey = s_suppkey
              AND s_nationkey = c_nationkey
         JOIN nation ON c_nationkey = n_nationkey
         WHERE o_orderdate >= TIMESTAMP '1996-01-01'
           AND o_orderdate < TIMESTAMP '1998-01-01'
         GROUP BY 1""",
    "q_tpch_q7_volume" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                CAST(year(l_shipdate) AS BIGINT) AS l_year,
                CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
                         CAST(1 - CAST(l_discount AS DECIMAL(4,2))
                              AS DECIMAL(4,2))) AS DOUBLE) AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation n1 ON s_nationkey = n1.n_nationkey
         JOIN nation n2 ON c_nationkey = n2.n_nationkey
         WHERE l_shipdate >= TIMESTAMP '1996-01-01'
           AND l_shipdate < TIMESTAMP '1998-01-01'
           AND n1.n_name <> n2.n_name
         GROUP BY 1, 2, 3""",
    "q_tpch_q10_returns" ->
      """SELECT c_custkey, c_name, n_name, CAST(rev AS DOUBLE) AS revenue
         FROM (SELECT c_custkey, c_name, n_name,
                      sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
                          CAST(1 - CAST(l_discount AS DECIMAL(4,2))
                               AS DECIMAL(4,2))) AS rev
               FROM lineitem
               JOIN orders ON l_orderkey = o_orderkey
               JOIN customer ON o_custkey = c_custkey
               JOIN nation ON c_nationkey = n_nationkey
               WHERE l_returnflag = 'R'
                 AND o_orderdate >= TIMESTAMP '1996-01-01'
                 AND o_orderdate < TIMESTAMP '1996-04-01'
               GROUP BY 1, 2, 3)
         ORDER BY rev DESC, c_custkey LIMIT 20""",
    "q_tpch_q17_smallqty" ->
      """WITH li AS (SELECT l_partkey, l_extendedprice,
                CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT)
                  AS qty_c FROM lineitem),
         pp AS (SELECT l_partkey AS pk, count(*) AS cnt,
                       CAST(sum(qty_c) AS BIGINT) AS sum_qty_c
                FROM li GROUP BY 1)
         SELECT p_brand, count(*) AS n_small,
                CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)))
                     AS DOUBLE) AS revenue
         FROM li JOIN pp ON l_partkey = pk
         JOIN part ON l_partkey = p_partkey
         WHERE qty_c * 5 * cnt < sum_qty_c
         GROUP BY 1""",
    "q_tpch_q22_opportunity" ->
      """WITH pos AS (SELECT count(*) AS cnt,
                CAST(sum(CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100
                              AS BIGINT)) AS BIGINT) AS sum_c
                FROM customer WHERE c_acctbal > 0)
         SELECT n_name, count(*) AS numcust,
                CAST(sum(CAST(c_acctbal AS DECIMAL(12,2)))
                     AS DOUBLE) AS totacctbal
         FROM customer
         CROSS JOIN pos
         JOIN nation ON c_nationkey = n_nationkey
         WHERE CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)
                 * cnt > sum_c
           AND NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey
                             AND o_orderdate >= TIMESTAMP '2000-01-01')
         GROUP BY 1""",
    "q_events_concentration" ->
      """WITH c AS (SELECT event_type, user_id, count(*) AS cnt
                    FROM events GROUP BY 1, 2)
         SELECT event_type,
                count(*) AS n_wallets,
                CAST(sum(cnt) AS BIGINT) AS n_events,
                CAST(sum(cnt * cnt) AS BIGINT) * 1.0 /
                  (CAST(sum(cnt) AS BIGINT) *
                   CAST(sum(cnt) AS BIGINT)) AS hhi,
                max(cnt) * 1.0 / CAST(sum(cnt) AS BIGINT) AS top_share
         FROM c GROUP BY 1""",
    "q_events_curve_progress" ->
      """WITH snaps AS (
           SELECT user_id, epoch_us(ts) AS ts_us, event_id,
                  event_id % 1000 AS rtr, 1000 AS tts
           FROM events WHERE event_type = 'signup'),
         trades AS (
           SELECT user_id, epoch_us(ts) AS ts_us, event_id,
                  CAST(round(value * 100, 0) AS BIGINT) AS cents
           FROM events WHERE event_type = 'purchase'),
         matched AS (
           SELECT t.user_id, t.cents,
                  (SELECT s.rtr * 10 // s.tts FROM snaps s
                   WHERE s.user_id = t.user_id AND s.ts_us <= t.ts_us
                   ORDER BY s.ts_us DESC, s.event_id DESC
                   LIMIT 1) AS progress_decile
           FROM trades t)
         SELECT progress_decile, count(*) AS n_trades,
                CAST(sum(cents) AS BIGINT) AS sum_cents
         FROM matched GROUP BY 1""",
    "q_events_cohort_ltv" ->
      """WITH weekly AS (
           SELECT user_id, epoch_us(ts) // 604800000000 AS week,
                  CAST(round(value * 100, 0) AS BIGINT) AS cents
           FROM events),
         fw AS (SELECT user_id, min(week) AS cohort_week
                FROM weekly GROUP BY 1),
         cells AS (
           SELECT cohort_week, w.week - cohort_week AS age_weeks,
                  CAST(sum(cents) AS BIGINT) AS cents,
                  count(DISTINCT w.user_id) AS n_active
           FROM weekly w JOIN fw ON w.user_id = fw.user_id
           GROUP BY 1, 2)
         SELECT cohort_week, age_weeks, cents, n_active,
                CAST(sum(cents) OVER (PARTITION BY cohort_week
                  ORDER BY age_weeks ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS cum_cents
         FROM cells""",
    "q_events_realized_pnl" -> realizedPnlOracle,
    "q_events_series_corr" ->
      """WITH hourly AS (
           SELECT event_type,
                  (epoch_us(ts) // 3600000000) * 3600 AS hb,
                  CAST(sum(CAST(round(value * 100, 0) AS BIGINT))
                       AS HUGEINT) AS x
           FROM events GROUP BY 1, 2),
         p AS (
           SELECT a.event_type AS type_a, b.event_type AS type_b,
                  CAST(count(*) AS HUGEINT) AS n,
                  sum(a.x) AS sx, sum(b.x) AS sy,
                  sum(a.x * b.x) AS sxy,
                  sum(a.x * a.x) AS sxx,
                  sum(b.x * b.x) AS syy
           FROM hourly a JOIN hourly b ON a.hb = b.hb
                AND a.event_type < b.event_type
           GROUP BY 1, 2)
         SELECT type_a, type_b, CAST(n AS BIGINT) AS n_hours,
                CAST(n * sxy - sx * sy AS DOUBLE) /
                  (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) *
                   sqrt(CAST(n * syy - sy * sy AS DOUBLE))) AS corr
         FROM p""",
    "q_docs_distinctive_terms" ->
      """WITH t AS (SELECT source,
                           unnest(string_split(lower(text), ' ')) AS token
                    FROM documents),
         tf AS (SELECT source, token, count(*) AS tf FROM t
                WHERE token <> '' GROUP BY 1, 2),
         sp AS (SELECT token, count(*) AS n_sources FROM tf GROUP BY 1)
         SELECT source, token, tf, n_sources,
                tf * 1.0 / n_sources AS score, rk
         FROM (SELECT source, token, tf, n_sources,
                      row_number() OVER (PARTITION BY source
                        ORDER BY tf * 1.0 / n_sources DESC, token) AS rk
               FROM tf JOIN sp USING (token))
         WHERE rk <= 10""",
    "q_events_wallet_lifetimes" ->
      """SELECT user_id, min(epoch_us(ts)) AS first_us,
                max(epoch_us(ts)) AS last_us,
                count(DISTINCT epoch_us(ts) // 86400000000)
                  AS n_active_days,
                count(*) AS n_events,
                CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                  AS total_value,
                (max(epoch_us(ts)) - min(epoch_us(ts))) // 86400000000
                  AS lifetime_days
         FROM events GROUP BY 1""",
    "q_events_class_filter" ->
      """SELECT 'swap' AS protocol, 'buy' AS event_kind, count(*) AS n
         FROM events WHERE event_type = 'purchase'""",
    "q_events_resync" ->
      """SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                  AS is_buy,
                count(*) AS n,
                CAST(sum(CAST(round(value * 100, 0) AS BIGINT))
                     AS BIGINT) AS cents
         FROM events GROUP BY 1""",
    "q_events_decode_health" ->
      """WITH k AS (SELECT CASE WHEN event_id % 101 = 0 THEN 'unknown'
                               ELSE 'trade' END AS event_kind,
                          CASE WHEN event_id % 101 = 0 THEN 1
                               WHEN event_id % 97 = 0 THEN 1
                               ELSE 0 END AS bad
                   FROM events)
         SELECT event_kind, count(*) AS n,
                CAST(sum(bad) AS BIGINT) AS n_undecodable
         FROM k GROUP BY 1""",
    "q_docs_repeated_spans" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
                       FROM documents),
         w AS (SELECT doc_id, unnest(range(1, len(t) - 6)) AS i, t
               FROM toks WHERE len(t) >= 8),
         d AS (SELECT doc_id,
                      md5(array_to_string(list_slice(t, i, i + 7), ' '))
                        AS dig FROM w),
         hot AS (SELECT dig, count(DISTINCT doc_id) AS n_docs
                 FROM d GROUP BY 1)
         SELECT doc_id, count(*) AS n_windows,
                count(CASE WHEN n_docs > 1 THEN 1 END) AS n_shared,
                count(CASE WHEN n_docs > 1 THEN 1 END) * 1.0 / count(*)
                  AS shared_frac
         FROM d JOIN hot USING (dig)
         GROUP BY 1""",
    "q_docs_winnow_pairs" ->
      s"""WITH $winnowPairCtes SELECT * FROM wp""",
    // C78 oracle: same rep-level pair CTEs, 9-decile threshold table
    // left-joined for pair and doc-affected counts
    "q_docs_dedup_curve" ->
      s"""WITH $winnowPairCtes,
         taus AS (SELECT unnest([100000, 200000, 300000, 400000, 500000,
                                 600000, 700000, 800000, 900000]) AS tau),
         dm AS (SELECT doc, max(m) AS m FROM (
                  SELECT d1 AS doc, sim_ppm AS m FROM wp
                  UNION ALL SELECT d2, sim_ppm FROM wp) GROUP BY 1),
         pc AS (SELECT t.tau, count(wp.d1) AS n_pairs
                FROM taus t LEFT JOIN wp ON wp.sim_ppm >= t.tau
                GROUP BY 1),
         dc AS (SELECT t.tau, count(dm.doc) AS n_docs_affected
                FROM taus t LEFT JOIN dm ON dm.m >= t.tau GROUP BY 1)
         SELECT CAST(pc.tau AS BIGINT) AS tau, pc.n_pairs,
                dc.n_docs_affected
         FROM pc JOIN dc USING (tau)""",
    "q_docs_shuffle_order" ->
      """SELECT doc_id,
                md5('ep1' || CAST(doc_id AS VARCHAR)) AS shuffle_key,
                CAST(row_number() OVER (
                  ORDER BY md5('ep1' || CAST(doc_id AS VARCHAR)), doc_id)
                  AS BIGINT) AS shuffle_rank
         FROM documents""",
    "q_docs_split" ->
      """WITH b AS (SELECT source,
                CAST(strpos('0123456789abcdef',
                  substring(md5('split' || CAST(doc_id AS VARCHAR)), 1, 1))
                  - 1 AS INT) * 16 +
                CAST(strpos('0123456789abcdef',
                  substring(md5('split' || CAST(doc_id AS VARCHAR)), 2, 1))
                  - 1 AS INT) AS bucket
              FROM documents)
         SELECT source,
                CASE WHEN bucket < 204 THEN 'train'
                     WHEN bucket < 230 THEN 'val'
                     ELSE 'test' END AS split,
                count(*) AS n_docs
         FROM b GROUP BY 1, 2""",
    "q_events_rate_spikes" ->
      """WITH pm AS (SELECT event_type, epoch_us(ts) // 60000000 AS minute,
                            count(*) AS c
                     FROM events GROUP BY 1, 2),
         st AS (SELECT event_type, CAST(count(*) AS HUGEINT) AS m,
                       CAST(sum(c) AS HUGEINT) AS t,
                       sum(CAST(c AS HUGEINT) * CAST(c AS HUGEINT)) AS s
                FROM pm GROUP BY 1)
         SELECT event_type, minute, c AS n
         FROM pm JOIN st USING (event_type)
         WHERE c * m - t > 0
           AND (c * m - t) * (c * m - t) > (s * m - t * t) * 9""",
    "q_tpch_q14_promo" ->
      """SELECT CAST(year(l_shipdate) AS BIGINT) AS yr,
                CAST(month(l_shipdate) AS BIGINT) AS mon,
                CAST(CAST(round(sum(CASE WHEN p_type = 'PROMO' THEN
                  CAST(l_extendedprice AS DECIMAL(12,2)) *
                  CAST(1 - CAST(l_discount AS DECIMAL(4,2))
                       AS DECIMAL(4,2)) END), 2)
                     AS DECIMAL(18,2)) AS DOUBLE) AS promo_rev,
                CAST(CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
                  CAST(1 - CAST(l_discount AS DECIMAL(4,2))
                       AS DECIMAL(4,2))), 2)
                     AS DECIMAL(18,2)) AS DOUBLE) AS total_rev,
                coalesce(CAST(CAST(round(sum(CASE WHEN p_type = 'PROMO' THEN
                  CAST(l_extendedprice AS DECIMAL(12,2)) *
                  CAST(1 - CAST(l_discount AS DECIMAL(4,2))
                       AS DECIMAL(4,2)) END), 2)
                     AS DECIMAL(18,2)) AS DOUBLE), 0.0) /
                CAST(CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
                  CAST(1 - CAST(l_discount AS DECIMAL(4,2))
                       AS DECIMAL(4,2))), 2)
                     AS DECIMAL(18,2)) AS DOUBLE) AS promo_share
         FROM lineitem JOIN part ON l_partkey = p_partkey
         GROUP BY 1, 2""",
    "q_tpch_q19_brackets" ->
      """WITH li AS (SELECT l_partkey, l_extendedprice, l_discount,
                CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT)
                  AS qty_c FROM lineitem)
         SELECT count(*) AS n_items,
                CAST(CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
                  CAST(1 - CAST(l_discount AS DECIMAL(4,2))
                       AS DECIMAL(4,2))), 2)
                     AS DECIMAL(18,2)) AS DOUBLE) AS revenue
         FROM li JOIN part ON l_partkey = p_partkey
         WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
                AND qty_c BETWEEN 100 AND 1500)
            OR (p_brand = 'Brand#11' AND p_size BETWEEN 10 AND 30
                AND qty_c BETWEEN 1000 AND 2500)
            OR (p_brand = 'Brand#21' AND p_size BETWEEN 20 AND 50
                AND qty_c BETWEEN 2000 AND 4000)""",
    "q_docs_commonness" ->
      """WITH t AS (SELECT doc_id,
                          unnest(string_split(lower(text), ' ')) AS token
                   FROM documents),
         tk AS (SELECT doc_id, token FROM t WHERE token <> ''),
         f AS (SELECT token, count(*) AS cf FROM tk GROUP BY 1)
         SELECT doc_id, count(*) AS n_tok,
                CAST(sum(cf) AS BIGINT) AS total_cf,
                CAST(sum(cf) AS BIGINT) * 1.0 / count(*) AS avg_cf
         FROM tk JOIN f USING (token)
         GROUP BY 1""",
    "q_events_metrics_snapshot" ->
      """SELECT event_type, count(*) AS n_events,
                count(DISTINCT user_id) AS n_wallets,
                min(epoch_us(ts)) AS first_us,
                max(epoch_us(ts)) AS last_us,
                CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                  AS total_value,
                (max(epoch_us(ts)) - min(epoch_us(ts))) // 1000000
                  AS span_seconds,
                count(*) * 1.0 /
                  greatest((max(epoch_us(ts)) - min(epoch_us(ts)))
                           // 1000000, 1) AS events_per_sec
         FROM events GROUP BY 1""",
    "q_events_state_history" ->
      """SELECT user_id, event_id, event_type,
                CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE) AS state_value,
                epoch_us(ts) AS valid_from_us,
                lead(epoch_us(ts)) OVER (PARTITION BY user_id
                  ORDER BY epoch_us(ts), event_id) AS valid_to_us
         FROM events""",
    "q_events_state_at" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us,
                           CAST(value AS DECIMAL(18,2)) AS v
                    FROM events WHERE epoch_us(ts) <= 1705276800000000),
         r AS (SELECT *, row_number() OVER (PARTITION BY user_id
                 ORDER BY ts_us DESC, event_id DESC) AS rn FROM e)
         SELECT user_id, event_id, CAST(v AS DOUBLE) AS state_value
         FROM r WHERE rn = 1""",
    "q_docs_vocab_drift" ->
      """WITH t1 AS (SELECT unnest(string_split(lower(text), ' ')) AS token
                     FROM documents),
         c1 AS (SELECT token, count(*) AS n1 FROM t1
                WHERE token <> '' GROUP BY 1),
         t2 AS (SELECT unnest(string_split(lower(text), ' ')) AS token
                FROM documents WHERE doc_id % 10 <> 0),
         c2 AS (SELECT token, count(*) AS n2 FROM t2
                WHERE token <> '' GROUP BY 1),
         j AS (SELECT coalesce(c1.token, c2.token) AS token,
                      coalesce(n1, 0) AS n1, coalesce(n2, 0) AS n2
               FROM c1 FULL OUTER JOIN c2 ON c1.token = c2.token),
         tot AS (SELECT CAST(sum(n1) AS BIGINT) AS t1,
                        CAST(sum(n2) AS BIGINT) AS t2 FROM j),
         d AS (SELECT token, n1, n2,
                      abs(n1 * t2 - n2 * t1) AS drift_num, t1, t2
               FROM j CROSS JOIN tot)
         SELECT token, n1, n2, drift_num,
                drift_num * 1.0 / (t1 * t2) AS drift,
                CAST(row_number() OVER (ORDER BY drift_num DESC, token)
                     AS BIGINT) AS rk
         FROM d ORDER BY drift_num DESC, token LIMIT 20""",
    "q_docs_dup_provenance" ->
      """WITH d AS (SELECT doc_id, source,
                      md5(array_to_string(
                        list_slice(string_split(text, ' '), 1, 16), ' '))
                        AS dig
                    FROM documents),
         g AS (SELECT dig, count(*) AS copies,
                      count(DISTINCT source) AS n_sources
               FROM d GROUP BY 1 HAVING count(*) > 1)
         SELECT source, count(*) AS n_dup_docs,
                count(CASE WHEN n_sources = 1 THEN 1 END)
                  AS n_within_source,
                count(CASE WHEN n_sources > 1 THEN 1 END)
                  AS n_cross_source
         FROM d JOIN g USING (dig)
         GROUP BY 1""",
    "q_events_trending" ->
      """SELECT hb, user_id, n, rk FROM (
           SELECT hb, user_id, n,
                  CAST(row_number() OVER (PARTITION BY hb
                    ORDER BY n DESC, user_id) AS BIGINT) AS rk
           FROM (SELECT (epoch_us(ts) // 3600000000) * 3600 AS hb,
                        user_id, count(*) AS n
                 FROM events GROUP BY 1, 2))
         WHERE rk <= 3""",
    "q_events_gap_dist" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us,
                           event_id FROM events),
         g AS (SELECT event_type, user_id, event_id,
                      ts_us - lag(ts_us) OVER (
                        PARTITION BY user_id, event_type
                        ORDER BY ts_us, event_id) AS gap_us
               FROM e),
         r AS (SELECT *, row_number() OVER (PARTITION BY event_type
                           ORDER BY gap_us, user_id, event_id) AS rn,
                      count(*) OVER (PARTITION BY event_type) AS cnt
               FROM g WHERE gap_us IS NOT NULL)
         SELECT event_type, count(*) AS n_gaps,
                min(gap_us) AS min_gap_us, max(gap_us) AS max_gap_us,
                max(CASE WHEN rn = (cnt + 1) // 2 THEN gap_us END)
                  AS p50_gap_us,
                max(CASE WHEN rn = (cnt * 90 + 99) // 100 THEN gap_us END)
                  AS p90_gap_us
         FROM r GROUP BY 1""",
    "q_text_rare_tokens" ->
      """WITH tok AS (SELECT source,
                             unnest(string_split(lower(text), ' ')) AS token
                      FROM documents),
         t AS (SELECT * FROM tok WHERE token <> ''),
         freq AS (SELECT token, count(*) AS f FROM t GROUP BY 1)
         SELECT source, count(*) AS n_tokens,
                count(CASE WHEN f <= 2 THEN 1 END) AS n_rare,
                CAST(count(CASE WHEN f <= 2 THEN 1 END) AS DOUBLE)
                  / CAST(count(*) AS DOUBLE) AS rare_rate
         FROM t JOIN freq USING (token)
         GROUP BY 1""",
    "q_tpch_q18_bigorders" ->
      """WITH big AS (SELECT l_orderkey,
                             sum(CAST(l_quantity AS DECIMAL(18,2)))
                               AS total_qty
                      FROM lineitem GROUP BY 1
                      HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 300)
         SELECT c.c_name, c.c_custkey, o.o_orderkey,
                epoch_us(o.o_orderdate) AS o_orderdate_us,
                o.o_totalprice,
                CAST(big.total_qty AS DOUBLE) AS total_qty
         FROM orders o
         JOIN big ON o.o_orderkey = big.l_orderkey
         JOIN customer c ON o.o_custkey = c.c_custkey""",
    "q_tpch_q3_shipping" ->
      """SELECT l.l_orderkey,
                CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2)) *
                         CAST(1 - CAST(l.l_discount AS DECIMAL(4,2))
                              AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
                epoch_us(o.o_orderdate) AS o_orderdate_us
         FROM lineitem l
         JOIN orders o ON l.l_orderkey = o.o_orderkey
         JOIN customer c ON o.o_custkey = c.c_custkey
         WHERE c.c_mktsegment = 'BUILDING'
           AND o.o_orderdate < TIMESTAMP '1995-03-15'
           AND l.l_shipdate > TIMESTAMP '1995-03-15'
         GROUP BY 1, 3
         ORDER BY revenue DESC, o_orderdate_us, l_orderkey
         LIMIT 10""",
    "q_events_funnel" ->
      """WITH f AS (SELECT user_id,
                  min(CASE WHEN event_type = 'signup'
                           THEN epoch_us(ts) END) AS t1,
                  min(CASE WHEN event_type = 'view'
                           THEN epoch_us(ts) END) AS t2,
                  min(CASE WHEN event_type = 'purchase'
                           THEN epoch_us(ts) END) AS t3
           FROM events GROUP BY 1)
         SELECT count(CASE WHEN t1 IS NOT NULL THEN 1 END) AS n_stage1,
                count(CASE WHEN t1 IS NOT NULL AND t2 >= t1 THEN 1 END)
                  AS n_stage2,
                count(CASE WHEN t1 IS NOT NULL AND t2 >= t1 AND t3 >= t2
                      THEN 1 END) AS n_stage3
         FROM f""",
    "q_events_ordering_audit" ->
      """WITH x AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us,
                           lag(epoch_us(ts)) OVER (PARTITION BY user_id
                             ORDER BY event_id) AS prev_ts
                    FROM events)
         SELECT user_id, count(*) AS n_events,
                count(CASE WHEN ts_us < prev_ts THEN 1 END) AS n_inversions
         FROM x GROUP BY 1
         HAVING count(CASE WHEN ts_us < prev_ts THEN 1 END) > 0""",
    "q_events_ordering_audit_perturbed" ->
      """WITH x AS (SELECT user_id, xor(event_id, 1) AS event_id,
                           epoch_us(ts) AS ts_us
                    FROM events),
         g AS (SELECT user_id, ts_us,
                      lag(ts_us) OVER (PARTITION BY user_id
                        ORDER BY event_id) AS prev_ts
               FROM x)
         SELECT user_id, count(*) AS n_events,
                count(CASE WHEN ts_us < prev_ts THEN 1 END) AS n_inversions
         FROM g GROUP BY 1
         HAVING count(CASE WHEN ts_us < prev_ts THEN 1 END) > 0""",
    "q_events_conversion_time" ->
      """WITH f AS (SELECT user_id,
                  min(CASE WHEN event_type = 'signup'
                           THEN epoch_us(ts) END) AS t_signup,
                  min(CASE WHEN event_type = 'purchase'
                           THEN epoch_us(ts) END) AS t_purchase
           FROM events GROUP BY 1),
         d AS (SELECT user_id, t_purchase - t_signup AS delta_us FROM f
               WHERE t_signup IS NOT NULL AND t_purchase >= t_signup),
         r AS (SELECT delta_us,
                      row_number() OVER (ORDER BY delta_us, user_id) AS rn,
                      count(*) OVER () AS cnt
               FROM d)
         SELECT count(*) AS n_converted,
                min(delta_us) AS min_us, max(delta_us) AS max_us,
                max(CASE WHEN rn = (cnt + 1) // 2 THEN delta_us END)
                  AS p50_us,
                max(CASE WHEN rn = (cnt * 90 + 99) // 100 THEN delta_us END)
                  AS p90_us
         FROM r""",
    "q_events_wash_trades" ->
      """WITH m AS (SELECT user_id, epoch_us(ts) // 60000000 AS minute,
                           count(CASE WHEN event_type = 'purchase'
                                 THEN 1 END) AS n_buys,
                           count(CASE WHEN event_type = 'view'
                                 THEN 1 END) AS n_sells
                    FROM events
                    WHERE event_type IN ('purchase', 'view')
                    GROUP BY 1, 2)
         SELECT user_id, count(*) AS n_wash_minutes,
                CAST(sum(n_buys + n_sells) AS BIGINT) AS n_wash_events
         FROM m WHERE n_buys >= 1 AND n_sells >= 1
         GROUP BY 1""",
    "q_events_value_histogram" ->
      """SELECT event_type,
                CAST(least(greatest(floor((value - 0.0) / 10.0), 0.0), 9.0)
                  AS BIGINT) AS bin,
                count(*) AS n
         FROM events GROUP BY 1, 2""",
    "q_events_retention" ->
      """WITH days AS (SELECT DISTINCT user_id,
                              epoch_us(ts) // 86400000000 AS day
                       FROM events),
         actives AS (SELECT day, count(*) AS actives FROM days GROUP BY 1),
         ret AS (SELECT a.day, count(*) AS retained
                 FROM days a JOIN days b
                   ON a.user_id = b.user_id AND b.day = a.day + 1
                 GROUP BY 1)
         SELECT a.day, a.actives,
                coalesce(r.retained, 0) AS retained,
                CAST(coalesce(r.retained, 0) AS DOUBLE)
                  / CAST(a.actives AS DOUBLE) AS retention_rate
         FROM actives a LEFT JOIN ret r ON a.day = r.day""",
    "q_stream_wire_decoded" ->
      """SELECT (epoch_us(ts) // 3600000000) * 3600 AS ws,
                CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_buy,
                count(*) AS n,
                CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
                  AS cents
         FROM events GROUP BY 1, 2""",
    "q_stream_trade_metrics" ->
      """SELECT (epoch_us(ts) // 60000000) * 60 AS ws,
                CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_buy,
                count(*) AS n,
                CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
                  AS cents
         FROM events GROUP BY 1, 2""",
    "q_stream_dedup_within_wm" -> dedupCountsOracle,
    "q_stream_dedup_counts" -> dedupCountsOracle,
    "q_events_twap_1h" ->
      """WITH e AS (SELECT event_type, epoch_us(ts) AS ts_us, event_id,
                           CAST(floor(value * 100) AS BIGINT) AS price_cents
                    FROM events),
         w AS (SELECT event_type, ts_us, price_cents,
                      (ts_us // 3600000000) * 3600000000 AS hs_us,
                      lead(ts_us) OVER (
                        PARTITION BY event_type, ts_us // 3600000000
                        ORDER BY ts_us, event_id) AS nxt
               FROM e),
         d AS (SELECT event_type, hs_us, price_cents,
                      (COALESCE(nxt, hs_us + 3600000000) - ts_us) // 1000
                        AS dt_ms
               FROM w),
         g AS (SELECT event_type, hs_us, count(*) AS n,
                      CAST(sum(price_cents * dt_ms) AS BIGINT) AS wp_ms,
                      CAST(sum(dt_ms) AS BIGINT) AS held_ms
               FROM d GROUP BY 1, 2)
         SELECT event_type, hs_us // 1000000 AS ws, n, wp_ms, held_ms,
                CAST(wp_ms AS DOUBLE) / CAST(held_ms AS DOUBLE) / 100.0
                  AS twap
         FROM g""",
    "q_events_liquidity_depth" ->
      """WITH f AS (SELECT event_id, user_id % 100 AS pool,
                           epoch_us(ts) AS ts_us, event_type,
                           CASE WHEN event_type = 'click'
                                THEN CAST(round(value * 100, 0) AS BIGINT)
                                ELSE -CAST(round(value * 100, 0) AS BIGINT)
                           END AS delta
                    FROM events WHERE event_type IN ('click', 'view')),
         r AS (SELECT pool, delta, event_type,
                      sum(delta) OVER (PARTITION BY pool
                        ORDER BY ts_us, event_id
                        ROWS UNBOUNDED PRECEDING) AS running_lp
               FROM f)
         SELECT pool,
                count(*) FILTER (event_type = 'click') AS n_deposits,
                count(*) FILTER (event_type = 'view') AS n_withdrawals,
                CAST(sum(delta) AS BIGINT) AS net_lp,
                CAST(max(running_lp) AS BIGINT) AS peak_lp,
                CAST(min(running_lp) AS BIGINT) AS trough_lp
         FROM r GROUP BY 1""",
    "q_stream_static_enrich" ->
      """WITH dim AS (SELECT user_id, strftime(min(ts), '%Y-%m-%d')
                        AS cohort_date
                      FROM events GROUP BY 1)
         SELECT d.cohort_date, e.event_type, count(*) AS n,
                CAST(sum(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE)
                  AS total_value
         FROM events e JOIN dim d ON e.user_id = d.user_id
         GROUP BY 1, 2""",
    "q_events_json_ingest" ->
      """SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value
         FROM events""",
    "q_events_account_asof" ->
      """WITH s AS (SELECT user_id % 100 AS pool, epoch_us(ts) AS ts_us,
                           event_id, 0 AS kind, event_id AS snap_id,
                           epoch_us(ts) AS snap_ts_us,
                           event_id * 3 AS base_reserve,
                           event_id * 5 AS quote_reserve
                    FROM events WHERE event_type = 'signup'),
         p AS (SELECT user_id % 100 AS pool, epoch_us(ts) AS ts_us, event_id,
                      1 AS kind, CAST(NULL AS BIGINT) AS snap_id,
                      CAST(NULL AS BIGINT) AS snap_ts_us,
                      CAST(NULL AS BIGINT) AS base_reserve,
                      CAST(NULL AS BIGINT) AS quote_reserve
               FROM events WHERE event_type = 'purchase'),
         u AS (SELECT * FROM s UNION ALL SELECT * FROM p),
         w AS (SELECT *,
                      last_value(snap_id IGNORE NULLS) OVER win AS l_id,
                      last_value(snap_ts_us IGNORE NULLS) OVER win AS l_ts,
                      last_value(base_reserve IGNORE NULLS) OVER win AS l_br,
                      last_value(quote_reserve IGNORE NULLS) OVER win AS l_qr
               FROM u WINDOW win AS (PARTITION BY pool
                 ORDER BY ts_us, kind, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         SELECT event_id AS purchase_id, pool, ts_us AS purchase_ts_us,
                l_id AS snap_id, l_ts AS snap_ts_us, l_br AS base_reserve,
                l_qr AS quote_reserve
         FROM w WHERE kind = 1""",
    "q_events_merge_partials" ->
      """SELECT event_id, count(*) AS n_parts,
                max(user_id) AS user_id, max(event_type) AS event_type,
                max(value) AS value, max(ts_us) AS ts_us
         FROM (SELECT event_id, user_id, event_type,
                      CAST(NULL AS DOUBLE) AS value,
                      CAST(NULL AS BIGINT) AS ts_us
               FROM events
               UNION ALL
               SELECT event_id, CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR),
                      value, epoch_us(ts)
               FROM events)
         GROUP BY 1""",
    "q_events_trade_price" ->
      """WITH s AS (SELECT user_id % 100 AS pool, epoch_us(ts) AS ts_us,
                           event_id, 0 AS kind,
                           event_id * 3 AS base_reserve,
                           event_id * 5 AS quote_reserve,
                           CAST(NULL AS DOUBLE) AS amount
                    FROM events WHERE event_type = 'signup'),
         p AS (SELECT user_id % 100 AS pool, epoch_us(ts) AS ts_us, event_id,
                      1 AS kind, CAST(NULL AS BIGINT) AS base_reserve,
                      CAST(NULL AS BIGINT) AS quote_reserve, value AS amount
               FROM events WHERE event_type = 'purchase'),
         u AS (SELECT * FROM s UNION ALL SELECT * FROM p),
         w AS (SELECT *,
                      last_value(base_reserve IGNORE NULLS) OVER win AS l_br,
                      last_value(quote_reserve IGNORE NULLS) OVER win AS l_qr
               FROM u WINDOW win AS (PARTITION BY pool
                 ORDER BY ts_us, kind, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         SELECT event_id AS purchase_id, pool, amount,
                round(CAST(l_qr AS DOUBLE)
                      / CAST(nullif(l_br, 0) AS DOUBLE), 6) AS price6,
                CAST(round(CAST(amount AS DECIMAL(12,2)) *
                      CAST(round(CAST(l_qr AS DOUBLE)
                        / CAST(nullif(l_br, 0) AS DOUBLE), 6)
                        AS DECIMAL(18,6)), 6) AS DOUBLE) AS notional6
         FROM w WHERE kind = 1""",
    "q_events_range_join" -> rangeJoinOracle,
    "q_events_range_join_auto" -> rangeJoinOracle,
    "q_docs_sample_stratified" ->
      """SELECT doc_id, source FROM documents
         WHERE substring(md5('smp' || CAST(doc_id AS VARCHAR)), 1, 2) <
               CASE WHEN CAST(substring(source, 4) AS INT) % 2 = 0
                    THEN '40' ELSE '80' END""",
    "q_docs_mixture" ->
      """SELECT doc_id, source, unnest(generate_series(1, CASE
                WHEN CAST(substring(source, 4) AS INT) % 4 = 0 THEN 2
                ELSE 1 END)) AS copy_idx
         FROM documents""",
    "q_docs_pack_sequences" ->
      """WITH t AS (SELECT doc_id, source,
                           CAST(len(string_split(text, ' ')) AS BIGINT)
                             AS n_tok
                    FROM documents)
         SELECT doc_id, source, n_tok,
                CAST(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum_tokens,
                (CAST(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) - n_tok) // 2048 AS bin
         FROM t""",
    "q_docs_pack_efficiency" ->
      """WITH t AS (SELECT doc_id, source,
                           CAST(len(string_split(text, ' ')) AS BIGINT)
                             AS n_tok
                    FROM documents),
         p AS (SELECT source, n_tok,
                      (CAST(sum(n_tok) OVER (PARTITION BY source
                        ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS BIGINT) - n_tok) // 2048 AS bin
               FROM t)
         SELECT source, count(DISTINCT bin) AS n_bins,
                CAST(sum(n_tok) AS BIGINT) AS total_tokens,
                CAST(CAST(sum(n_tok) AS BIGINT) AS DOUBLE) /
                  CAST(count(DISTINCT bin) * 2048 AS DOUBLE) AS fill_ratio
         FROM p GROUP BY 1""",
    "q_dedup_docs_exact" ->
      """SELECT md5(text) AS content_md5, count(*) AS n_dups,
                min(doc_id) AS keep_id
         FROM documents GROUP BY 1""",
    "q_docs_sample_fixed_k" ->
      """SELECT source, doc_id FROM (
           SELECT source, doc_id, row_number() OVER (
                    PARTITION BY source
                    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
           FROM documents)
         WHERE rn <= 5""",
    "q_events_profile" ->
      """SELECT 'event_id' AS "column", count(*) AS n_rows,
                count(*) - count(event_id) AS n_nulls,
                count(DISTINCT event_id) AS n_distinct,
                CAST(min(event_id) AS VARCHAR) AS min_value,
                CAST(max(event_id) AS VARCHAR) AS max_value
         FROM events
         UNION ALL
         SELECT 'user_id', count(*), count(*) - count(user_id),
                count(DISTINCT user_id),
                CAST(min(user_id) AS VARCHAR),
                CAST(max(user_id) AS VARCHAR)
         FROM events
         UNION ALL
         SELECT 'event_type', count(*), count(*) - count(event_type),
                count(DISTINCT event_type),
                CAST(min(event_type) AS VARCHAR),
                CAST(max(event_type) AS VARCHAR)
         FROM events
         UNION ALL
         SELECT 'value', count(*), count(*) - count(value),
                count(DISTINCT value),
                CAST(min(value) AS VARCHAR),
                CAST(max(value) AS VARCHAR)
         FROM events""",
    "q_text_boilerplate" ->
      """WITH c0 AS (SELECT doc_id, text,
                            unnest(range(0, CAST(ceil(length(text) / 50.0)
                              AS BIGINT))) AS idx
                     FROM documents),
         chunks AS (SELECT doc_id,
                           md5(substring(text, CAST(idx * 50 + 1 AS INT),
                             50)) AS h
                    FROM c0),
         shared AS (SELECT h, count(DISTINCT doc_id) AS nd FROM chunks
                    GROUP BY 1)
         SELECT doc_id, count(*) AS n_chunks,
                count(*) FILTER (nd > 1) AS n_shared_chunks,
                CAST(count(*) FILTER (nd > 1) AS DOUBLE) /
                  CAST(count(*) AS DOUBLE) AS shared_ratio
         FROM chunks JOIN shared USING (h)
         GROUP BY 1""",
    "q_docs_cube" ->
      """SELECT source, lang, count(*) AS n_docs,
                CAST(sum(n_chars) AS BIGINT) AS total_chars
         FROM documents GROUP BY CUBE (source, lang)""",
    "q_stream_wire_egress" -> wireRoundTripOracle,
    "q_stream_wallet_volume" ->
      """SELECT user_id, count(*) AS n_events,
                CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
                  AS cents
         FROM events GROUP BY 1""",
    // identical formulation to q_events_realized_pnl: the streamed marks
    // must EQUAL the batch marks, so both keys share one oracle shape
    "q_stream_realized_pnl" -> realizedPnlOracle,
    "q_stream_ohlc_1h" -> ohlc1hOracle,
    "q_events_cpmm_decode" ->
      """SELECT CASE WHEN event_type = 'purchase' THEN 'base_in'
                     ELSE 'base_out' END AS event_kind,
                event_id, user_id % 50 AS pool, user_id,
                CASE WHEN event_type = 'purchase' THEN event_id * 2
                     ELSE event_id * 3 END AS amount_in,
                CASE WHEN event_type = 'purchase' THEN event_id * 3
                     ELSE event_id * 2 END AS amount_out,
                epoch_us(ts) AS ts_us
         FROM events WHERE event_type IN ('purchase', 'click')""",
    "q_events_decode_strfield" ->
      """SELECT event_id, user_id % 100 AS pool,
                event_type || '-' || CAST(user_id AS VARCHAR) AS name
         FROM events""",
    "q_events_equidepth_hist" ->
      """WITH r AS (SELECT event_type, value, event_id,
                           row_number() OVER (PARTITION BY event_type
                             ORDER BY value, event_id) AS r,
                           count(*) OVER (PARTITION BY event_type) AS n
                    FROM events)
         SELECT event_type, ((r - 1) * 4) // n AS bucket,
                count(*) AS n_rows, min(value) AS lo, max(value) AS hi
         FROM r GROUP BY 1, 2""",
    "q_events_session_funnel" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id,
                           event_type FROM events),
         f AS (SELECT *, CASE WHEN lag(ts_us) OVER w IS NULL THEN 1
                              WHEN ts_us - lag(ts_us) OVER w > 1800000000
                              THEN 1 ELSE 0 END AS ns
               FROM e WINDOW w AS (PARTITION BY user_id
                 ORDER BY ts_us, event_id)),
         g AS (SELECT *, sum(ns) OVER (PARTITION BY user_id
                 ORDER BY ts_us, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS session_id
               FROM f),
         sess AS (SELECT user_id, session_id,
                         min(CASE WHEN event_type = 'view' THEN ts_us END)
                           AS first_view,
                         min(CASE WHEN event_type = 'purchase' THEN ts_us
                             END) AS first_purchase
                  FROM g GROUP BY 1, 2)
         SELECT count(*) AS n_sessions,
                count(first_view) AS n_with_view,
                count(first_purchase) AS n_with_purchase,
                count(CASE WHEN first_view < first_purchase THEN 1 END)
                  AS n_converted
         FROM sess""",
    "q_events_cohort_retention" ->
      """WITH days AS (SELECT DISTINCT user_id,
                              epoch_us(ts) // 86400000000 AS day
                       FROM events),
         fd AS (SELECT user_id, min(day) AS cohort_day FROM days
                GROUP BY 1)
         SELECT fd.cohort_day, d.day - fd.cohort_day AS day_offset,
                count(DISTINCT d.user_id) AS n_active
         FROM days d JOIN fd ON d.user_id = fd.user_id
         GROUP BY 1, 2""",
    "q_events_ewma_rate" ->
      """WITH r AS (SELECT event_type, epoch_us(ts) // 60000000 AS minute,
                           count(*) AS n
                    FROM events GROUP BY 1, 2),
         p AS (SELECT a.event_type, a.minute, b.n AS b_n,
                      a.minute - b.minute AS d
               FROM r a JOIN r b ON a.event_type = b.event_type
                 AND b.minute >= a.minute - 9 AND b.minute <= a.minute),
         w AS (SELECT event_type, minute, b_n,
                      CAST(power(8, d) AS BIGINT) *
                        CAST(power(10, 9 - d) AS BIGINT) AS w
               FROM p)
         SELECT event_type, minute,
                CAST(CAST(sum(b_n * w) AS BIGINT) AS DOUBLE) /
                  CAST(CAST(sum(w) AS BIGINT) AS DOUBLE) AS ewma_rate
         FROM w GROUP BY 1, 2""",
    "q_events_sequence_gaps" ->
      """SELECT event_id // 256 AS bucket, min(event_id) AS lo,
                max(event_id) AS hi, count(*) AS n_present,
                max(event_id) - min(event_id) + 1 - count(*) AS missing
         FROM events WHERE event_id % 97 <> 0
         GROUP BY 1""",
    "q_events_type_transitions" ->
      """WITH w AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us,
                           lead(event_type) OVER (PARTITION BY user_id
                             ORDER BY epoch_us(ts), event_id) AS next_type
                    FROM events)
         SELECT event_type, next_type, count(*) AS n,
                count(DISTINCT user_id) AS n_users
         FROM w WHERE next_type IS NOT NULL
         GROUP BY 1, 2""",
    "q_events_latest_state" ->
      """WITH r AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id,
                           event_type, value,
                           row_number() OVER (PARTITION BY user_id
                             ORDER BY epoch_us(ts) DESC, event_id DESC)
                             AS rn,
                           count(*) OVER (PARTITION BY user_id)
                             AS n_updates
                    FROM events)
         SELECT user_id, ts_us, event_id, event_type, value, n_updates
         FROM r WHERE rn = 1""",
    "q_docs_corpus_diff" ->
      """WITH o AS (SELECT doc_id, md5(text) AS old_md5 FROM documents
                    WHERE doc_id % 3 <> 0),
         n AS (SELECT doc_id,
                      md5(CASE WHEN doc_id % 7 = 0 THEN text || ' v2'
                               ELSE text END) AS new_md5
               FROM documents WHERE doc_id % 5 <> 0)
         SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
                CASE WHEN o.old_md5 IS NULL THEN 'added'
                     WHEN n.new_md5 IS NULL THEN 'removed'
                     WHEN o.old_md5 <> n.new_md5 THEN 'changed'
                     ELSE 'unchanged' END AS status
         FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id""",
    "q_dedup_incremental" ->
      """SELECT n.doc_id, n.source FROM documents n
         WHERE n.doc_id % 2 = 1 AND NOT EXISTS (
           SELECT 1 FROM documents c
           WHERE c.doc_id % 2 = 0 AND c.text = n.text)""",
    "q_dedup_docs_containment" ->
      s"""WITH ${collapsedDocPairsCtes(
            "CAST(pr.inter AS DOUBLE) / " +
              "CAST(least(s1.n, s2.n) AS DOUBLE) >= 0.6")}
         SELECT d1, d2, inter, s1.n AS n1, s2.n AS n2,
                CAST(inter AS DOUBLE) / CAST(least(s1.n, s2.n) AS DOUBLE)
                  AS containment
         FROM p JOIN sz s1 ON d1 = s1.doc_id JOIN sz s2 ON d2 = s2.doc_id
         WHERE CAST(inter AS DOUBLE) / CAST(least(s1.n, s2.n) AS DOUBLE)
               >= 0.6""",
    "q_dedup_docs_ngram_jaccard" ->
      s"""WITH ${collapsedDocPairsCtes(jaccardPred)}
         SELECT d1, d2, inter, s1.n AS n1, s2.n AS n2,
                CAST(inter AS DOUBLE) / CAST(s1.n + s2.n - inter AS DOUBLE) AS jac
         FROM p JOIN sz s1 ON d1 = s1.doc_id JOIN sz s2 ON d2 = s2.doc_id
         WHERE CAST(inter AS DOUBLE) / CAST(s1.n + s2.n - inter AS DOUBLE) >= 0.5""",
    "q_dedup_docs_canonical" ->
      s"""WITH ${collapsedDocPairsCtes(jaccardPred)}
         SELECT doc_id, keep_id FROM lbl""",
    // C70: same min-label clusters; keeper = argmax grid-fixed quality
    // (q6 desc, doc_id asc) — exact integer ordering in both engines
    "q_dedup_best_quality" ->
      s"""WITH ${collapsedDocPairsCtes(jaccardPred)},
         qb AS (SELECT doc_id, length(text) AS n_chars_t,
                  len(string_split(text, ' ')) AS n_tok,
                  len(regexp_extract_all(text, '\\b(the|a|of|to|and)\\b')) AS n_stop,
                  len(regexp_extract_all(text, '[.,!?;:]')) AS n_punct
                FROM documents),
         qq AS (SELECT doc_id,
                  CAST(round((least(CAST(n_tok AS DOUBLE) / 100.0, 1.0) *
                    (1.0 - CAST(n_punct AS DOUBLE) / CAST(n_chars_t AS DOUBLE)) *
                    (0.5 + CAST(n_stop AS DOUBLE) / CAST(n_tok AS DOUBLE)))
                    * 1000000) AS BIGINT) AS q6
                FROM qb),
         lq AS (SELECT l.doc_id, l.keep_id, qq.q6
                FROM lbl l JOIN qq ON l.doc_id = qq.doc_id),
         best AS (SELECT keep_id, doc_id AS keeper_id FROM (
             SELECT keep_id, doc_id, row_number() OVER (
               PARTITION BY keep_id ORDER BY q6 DESC, doc_id) AS rn
             FROM lq) WHERE rn = 1)
         SELECT lq.doc_id, lq.keep_id AS cluster_id, lq.q6, b.keeper_id,
                lq.doc_id = b.keeper_id AS is_keeper
         FROM lq JOIN best b ON lq.keep_id = b.keep_id""",
    "q_dedup_cluster_sizes" -> clusterSizesOracle,
    "q_dedup_cluster_sizes_rep" -> clusterSizesOracle,
    "q_dedup_docs_embedding" ->
      """WITH e AS (SELECT vec_id, embedding FROM embeddings
                    WHERE label = 3 AND vec_id % 5 = 0),
         x AS (SELECT vec_id, unnest(generate_series(1, 64)) AS i,
                      CAST(unnest(embedding) AS DOUBLE) AS v FROM e),
         n AS (SELECT vec_id, sum(v * v) AS n2 FROM x GROUP BY 1),
         d AS (SELECT a.vec_id AS v1, b.vec_id AS v2, sum(a.v * b.v) AS dot
               FROM x a JOIN x b ON a.i = b.i AND a.vec_id < b.vec_id
               GROUP BY 1, 2),
         c AS (SELECT v1, v2,
                      round(dot / (sqrt(na.n2) * sqrt(nb.n2)), 6) AS cos6
               FROM d JOIN n na ON v1 = na.vec_id JOIN n nb ON v2 = nb.vec_id)
         SELECT v1, v2, cos6 FROM c WHERE cos6 >= 0.30""",
    "q_ann_int8_topk" ->
      """WITH dims AS (
           SELECT vec_id,
                  CAST(unnest(generate_series(1, 64)) - 1 AS BIGINT) AS i,
                  CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000,
                       0) AS BIGINT) AS v6
           FROM embeddings),
         scales AS (
           SELECT vec_id, max(abs(v6)) AS s6 FROM dims GROUP BY 1),
         codes AS (
           SELECT d.vec_id, d.i, s.s6,
                  CASE WHEN s.s6 = 0 THEN 0
                       ELSE CAST(sign(d.v6) AS BIGINT) *
                            ((254 * abs(d.v6) + s.s6) // (2 * s.s6)) END
                    AS q
           FROM dims d JOIN scales s ON d.vec_id = s.vec_id),
         scored AS (
           SELECT a.vec_id AS q_id, b.vec_id AS neighbor_id,
                  CAST(sum(a.q * b.q) AS HUGEINT)
                    * max(a.s6) * max(b.s6) AS dot_scaled
           FROM codes a JOIN codes b ON a.i = b.i
                AND a.vec_id < 10 AND a.vec_id <> b.vec_id
           GROUP BY 1, 2),
         ranked AS (
           SELECT q_id, neighbor_id, dot_scaled,
                  row_number() OVER (PARTITION BY q_id
                    ORDER BY dot_scaled DESC, neighbor_id) AS rk
           FROM scored)
         SELECT q_id, neighbor_id,
                CAST(dot_scaled AS VARCHAR) AS dot_scaled, rk
         FROM ranked WHERE rk <= 5""",
    "q_docs_weighted_sample" ->
      """WITH t AS (
           SELECT source, doc_id, CAST(n_chars AS BIGINT) AS weight,
                  md5(CAST(doc_id AS VARCHAR)) AS h
           FROM documents WHERE n_chars >= 1),
         hx AS (
           SELECT source, doc_id, weight,
                  CAST(sum((strpos('0123456789abcdef',
                    substring(h, CAST(i AS INT), 1)) - 1)
                    * power(16, 8 - i)) AS BIGINT) AS h32
           FROM t, unnest(generate_series(1, 8)) AS u(i)
           GROUP BY 1, 2, 3),
         r AS (
           SELECT source, doc_id, weight,
                  h32 * 1000000000 // weight AS priority,
                  row_number() OVER (PARTITION BY source
                    ORDER BY h32 * 1000000000 // weight, doc_id) AS rn
           FROM hx)
         SELECT source, doc_id, weight, priority, rn
         FROM r WHERE rn <= 5""",
    "q_docs_select_budget" ->
      """WITH t AS (
           SELECT doc_id,
                  CAST(len(list_distinct(string_split(text, ' ')))
                       AS DOUBLE) /
                    CAST(len(string_split(text, ' ')) AS DOUBLE) AS score,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS tokens
           FROM documents),
         c AS (
           SELECT doc_id, score, tokens,
                  CAST(sum(tokens) OVER (ORDER BY score DESC, doc_id
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
           FROM t)
         SELECT doc_id, score, tokens, cum_tokens
         FROM c WHERE cum_tokens - tokens < 5000""",
    "q_docs_strip_boilerplate" ->
      """WITH toks AS (
           SELECT doc_id, string_split(text, ' ') AS l
           FROM documents WHERE doc_id % 7 = 0),
         idx AS (
           SELECT doc_id, l,
                  unnest(generate_series(0, (len(l) + 2) // 3 - 1)) AS i
           FROM toks),
         segs AS (
           SELECT doc_id, i,
                  array_to_string(l[i*3+1 : i*3+3], ' ') AS seg
           FROM idx),
         freq AS (
           SELECT md5(seg) AS h, count(DISTINCT doc_id) AS nd
           FROM segs GROUP BY 1)
         SELECT s.doc_id,
                coalesce(string_agg(s.seg, ' ' ORDER BY s.i)
                  FILTER (WHERE f.nd <= 1), '') AS text,
                count(*) FILTER (WHERE f.nd <= 1) AS n_kept,
                count(*) FILTER (WHERE f.nd > 1) AS n_dropped
         FROM segs s JOIN freq f ON md5(s.seg) = f.h
         GROUP BY 1""",
    "q_embeddings_quantize" ->
      """WITH dims AS (
           SELECT vec_id,
                  CAST(unnest(generate_series(1, 64)) - 1 AS BIGINT) AS i,
                  CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000,
                       0) AS BIGINT) AS v6
           FROM embeddings WHERE vec_id % 10 = 0),
         scales AS (
           SELECT vec_id, max(abs(v6)) AS s6 FROM dims GROUP BY 1)
         SELECT d.vec_id, d.i, s.s6,
                CAST(CASE WHEN s.s6 = 0 THEN 0
                     ELSE CAST(sign(d.v6) AS BIGINT) *
                          ((254 * abs(d.v6) + s.s6) // (2 * s.s6)) END
                     AS INTEGER) AS q
         FROM dims d JOIN scales s ON d.vec_id = s.vec_id""",
    "q_docs_semantic_dedup" ->
      """WITH e AS (SELECT vec_id, label, embedding FROM embeddings
                    WHERE vec_id % 2 = 0),
         x AS (SELECT vec_id, label,
                      unnest(generate_series(1, 64)) AS i,
                      CAST(unnest(embedding) AS DOUBLE) AS v FROM e),
         n AS (SELECT vec_id, sum(v * v) AS n2 FROM x GROUP BY 1),
         d AS (SELECT a.vec_id AS v1, b.vec_id AS v2, sum(a.v * b.v) AS dot
               FROM x a JOIN x b ON a.i = b.i AND a.label = b.label
                    AND a.vec_id > b.vec_id
               GROUP BY 1, 2),
         dropped AS (
           SELECT DISTINCT v1 AS vec_id
           FROM d JOIN n na ON v1 = na.vec_id JOIN n nb ON v2 = nb.vec_id
           WHERE round(dot / (sqrt(na.n2) * sqrt(nb.n2)), 6) >= 0.35)
         SELECT vec_id, label AS cluster FROM e
         WHERE vec_id NOT IN (SELECT vec_id FROM dropped)""",
    "q_ann_bruteforce_topk" -> bruteforceTopkOracle,
    "q_text_langid" ->
      """SELECT doc_id,
                len(regexp_extract_all(text, '\b(the|is|and)\b')) AS n_en,
                len(regexp_extract_all(text, '\b(der|und|die)\b')) AS n_de,
                len(regexp_extract_all(text, '\b(el|la|los)\b')) AS n_es,
                len(regexp_extract_all(text, '\b(le|les|des)\b')) AS n_fr,
                CASE WHEN len(regexp_extract_all(text, '\b(the|is|and)\b')) >=
                          greatest(len(regexp_extract_all(text, '\b(der|und|die)\b')),
                                   len(regexp_extract_all(text, '\b(el|la|los)\b')),
                                   len(regexp_extract_all(text, '\b(le|les|des)\b')))
                      AND len(regexp_extract_all(text, '\b(the|is|and)\b')) > 0
                     THEN 'en'
                     WHEN len(regexp_extract_all(text, '\b(der|und|die)\b')) >=
                          greatest(len(regexp_extract_all(text, '\b(el|la|los)\b')),
                                   len(regexp_extract_all(text, '\b(le|les|des)\b')))
                      AND len(regexp_extract_all(text, '\b(der|und|die)\b')) > 0
                     THEN 'de'
                     WHEN len(regexp_extract_all(text, '\b(el|la|los)\b')) >=
                          len(regexp_extract_all(text, '\b(le|les|des)\b'))
                      AND len(regexp_extract_all(text, '\b(el|la|los)\b')) > 0
                     THEN 'es'
                     WHEN len(regexp_extract_all(text, '\b(le|les|des)\b')) > 0
                     THEN 'fr'
                     ELSE 'unk' END AS pred_lang,
                lang
         FROM documents""",
    "q_docs_stats_merged" -> corpusStatsOracle,
    "q_docs_corpus_stats" -> corpusStatsOracle,
    "q_docs_filter_chain" ->
      """WITH b AS (SELECT doc_id, length(text) AS n_chars_t,
                           len(string_split(text, ' ')) AS n_tok,
                           len(regexp_extract_all(text, '\b(the|a|of|to|and)\b')) AS n_stop,
                           len(regexp_extract_all(text, '[.,!?;:]')) AS n_punct,
                           len(regexp_extract_all(text, '\b(the|is|and)\b')) AS n_en,
                           len(regexp_extract_all(text, '\b(der|und|die)\b')) AS n_de,
                           len(regexp_extract_all(text, '\b(el|la|los)\b')) AS n_es,
                           len(regexp_extract_all(text, '\b(le|les|des)\b')) AS n_fr
                    FROM documents),
         c AS (SELECT doc_id, n_tok,
                      least(CAST(n_tok AS DOUBLE) / 100.0, 1.0) *
                        (1.0 - CAST(n_punct AS DOUBLE) / CAST(n_chars_t AS DOUBLE)) *
                        (0.5 + CAST(n_stop AS DOUBLE) / CAST(n_tok AS DOUBLE))
                        AS quality_score,
                      CASE WHEN n_en >= greatest(n_de, n_es, n_fr) AND n_en > 0
                             THEN 'en'
                           WHEN n_de >= greatest(n_es, n_fr) AND n_de > 0
                             THEN 'de'
                           WHEN n_es >= n_fr AND n_es > 0 THEN 'es'
                           WHEN n_fr > 0 THEN 'fr'
                           ELSE 'unk' END AS pred_lang
               FROM b)
         SELECT doc_id, n_tok, quality_score, pred_lang,
                CASE WHEN n_tok < 5 THEN 'too_short'
                     WHEN n_tok > 5000 THEN 'too_long'
                     WHEN pred_lang <> 'en' THEN 'lang'
                     WHEN quality_score < 0.3 THEN 'low_quality'
                     ELSE 'kept' END AS reject_reason,
                (CASE WHEN n_tok < 5 THEN 'too_short'
                      WHEN n_tok > 5000 THEN 'too_long'
                      WHEN pred_lang <> 'en' THEN 'lang'
                      WHEN quality_score < 0.3 THEN 'low_quality'
                      ELSE 'kept' END) = 'kept' AS kept
         FROM c""",
    // A122 oracle: same epoch-hour phase bins (4 × 6h), decile
    // truncating quantization, string profile key
    "q_events_template_collisions" ->
      """WITH hc AS (
           SELECT user_id, count(*) AS total,
             sum(CASE WHEN ((epoch_us(ts) // 3600000000) % 24) // 6 = 0
                 THEN 1 ELSE 0 END) AS c0,
             sum(CASE WHEN ((epoch_us(ts) // 3600000000) % 24) // 6 = 1
                 THEN 1 ELSE 0 END) AS c1,
             sum(CASE WHEN ((epoch_us(ts) // 3600000000) % 24) // 6 = 2
                 THEN 1 ELSE 0 END) AS c2,
             sum(CASE WHEN ((epoch_us(ts) // 3600000000) % 24) // 6 = 3
                 THEN 1 ELSE 0 END) AS c3
           FROM events GROUP BY 1),
         p AS (SELECT user_id, total,
                 concat_ws(',', (c0 * 10) // total, (c1 * 10) // total,
                           (c2 * 10) // total, (c3 * 10) // total)
                   AS profile
               FROM hc WHERE total >= 20)
         SELECT profile, count(*) AS n_wallets,
                CAST(sum(total) AS BIGINT) AS total_events,
                min(user_id) AS sample_wallet
         FROM p GROUP BY 1 HAVING count(*) >= 3""",
    // C76 oracle: the C73 log-grid contract — DECIMAL(12,6) logs,
    // exact decimal sums, one IEEE division per entropy, integer
    // micro-unit exp before the truncating ppm division
    "q_docs_doremi_weights" ->
      """WITH tf AS (SELECT source, token, count(*) AS tf FROM (
             SELECT source,
                    unnest(string_split(lower(text), ' ')) AS token
             FROM documents)
           WHERE token <> '' GROUP BY 1, 2),
         vocab AS (SELECT token, CAST(sum(tf) AS BIGINT) AS cnt_c
                   FROM tf GROUP BY 1),
         tot AS (SELECT CAST(sum(cnt_c) AS BIGINT) AS tot_c,
                   count(*) AS v FROM vocab),
         st AS (SELECT source, CAST(sum(tf) AS BIGINT) AS tot_s
                FROM tf GROUP BY 1),
         terms AS (SELECT tf.source, tf.tf,
                     CAST(round(ln(CAST(vocab.cnt_c + 1 AS DOUBLE) /
                                   CAST(tot.tot_c + tot.v AS DOUBLE)), 6)
                          AS DECIMAL(12,6)) AS lp_c,
                     CAST(round(ln(CAST(tf.tf + 1 AS DOUBLE) /
                                   CAST(st.tot_s + tot.v AS DOUBLE)), 6)
                          AS DECIMAL(12,6)) AS lp_s
                   FROM tf JOIN vocab USING (token)
                   JOIN st USING (source) CROSS JOIN tot),
         per AS (SELECT source, CAST(sum(tf) AS BIGINT) AS n_tokens,
                   sum(CAST(tf AS BIGINT) * lp_c) AS s_c,
                   sum(CAST(tf AS BIGINT) * lp_s) AS s_s
                 FROM terms GROUP BY 1),
         w AS (SELECT source, n_tokens,
                 -(CAST(s_c AS DOUBLE)) / CAST(n_tokens AS DOUBLE)
                   AS ce_corpus,
                 -(CAST(s_s AS DOUBLE)) / CAST(n_tokens AS DOUBLE)
                   AS ce_self,
                 CAST(s_s - s_c AS DOUBLE) / CAST(n_tokens AS DOUBLE)
                   AS excess,
                 CAST(round(exp(1.0 * (CAST(s_s - s_c AS DOUBLE) /
                                       CAST(n_tokens AS DOUBLE)))
                            * 1000000, 0) AS BIGINT) AS w6
               FROM per),
         n AS (SELECT CAST(sum(w6) AS BIGINT) AS tot_w6 FROM w)
         SELECT source, n_tokens, ce_corpus, ce_self, excess,
                (w6 * 1000000) // tot_w6 AS weight_ppm
         FROM w CROSS JOIN n""",
    // C79 oracle: same md5-hash 24-bit uniform, same Poisson(1)
    // integer CDF cutpoints, same 2nd/39th order-statistic interval
    "q_docs_bootstrap_ci" ->
      """WITH base AS (SELECT source, doc_id AS bid,
                CAST(length(text) AS BIGINT) AS x FROM documents),
         pt AS (SELECT source, count(*) AS n_docs,
                  CAST(sum(x) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                    AS point_mean
                FROM base GROUP BY 1),
         r AS (SELECT base.*, rep FROM base
               CROSS JOIN (SELECT unnest(range(0, 40)) AS rep)),
         w AS (SELECT source, rep, x,
                 CASE WHEN u < 6171992 THEN 0
                      WHEN u < 12343985 THEN 1
                      WHEN u < 15429982 THEN 2
                      WHEN u < 16458647 THEN 3
                      WHEN u < 16715813 THEN 4
                      WHEN u < 16767247 THEN 5
                      WHEN u < 16775819 THEN 6
                      ELSE 7 END AS w
               FROM (SELECT *, ('0x' || substring(
                       md5('boot' || CAST(bid AS VARCHAR) || ':' ||
                           CAST(rep AS VARCHAR)), 1, 6))::BIGINT AS u
                     FROM r)),
         m AS (SELECT source, rep,
                 CAST(sum(w * x) AS DOUBLE) / CAST(sum(w) AS DOUBLE)
                   AS mean_r
               FROM w GROUP BY 1, 2),
         rk AS (SELECT source, mean_r,
                  row_number() OVER (PARTITION BY source
                    ORDER BY mean_r, rep) AS rk
                FROM m),
         ci AS (SELECT source,
                  min(CASE WHEN rk = 2 THEN mean_r END) AS ci_lo,
                  min(CASE WHEN rk = 39 THEN mean_r END) AS ci_hi,
                  count(*) AS n_replicates
                FROM rk GROUP BY 1)
         SELECT pt.source, pt.n_docs, pt.point_mean, ci.ci_lo, ci.ci_hi,
                ci.n_replicates
         FROM pt JOIN ci USING (source)""",
    // C75 oracle: same rep-collapse, same single-space-normalized ws
    // tokens, positions zipped off the split array (DuckDB parallel
    // unnest), 25-token full segments, truncating integer means
    "q_docs_msttr" ->
      """WITH reps AS (SELECT md5(text) AS h, min(text) AS text
                       FROM documents GROUP BY 1),
         p AS (SELECT h,
                      string_split(regexp_replace(trim(lower(text)),
                                                  ' +', ' ', 'g'),
                                   ' ') AS l
               FROM reps),
         t AS (SELECT h, unnest(l) AS tok,
                      unnest(range(0, len(l))) AS pos
               FROM p),
         s AS (SELECT h, pos // 25 AS seg, count(*) AS n,
                      count(DISTINCT tok) AS d
               FROM t WHERE tok <> '' GROUP BY 1, 2
               HAVING count(*) = 25),
         pr AS (SELECT h, count(*) AS n_segments,
                       sum((d * 1000000) // 25) // count(*) AS msttr_ppm
                FROM s GROUP BY 1),
         dh AS (SELECT doc_id, source, md5(text) AS h FROM documents)
         SELECT source, count(*) AS n_docs_scored,
                CAST(sum(n_segments) AS BIGINT) AS total_segments,
                CAST(sum(msttr_ppm) // count(*) AS BIGINT)
                  AS avg_msttr_ppm,
                CAST(min(msttr_ppm) AS BIGINT) AS min_msttr_ppm,
                CAST(max(msttr_ppm) AS BIGINT) AS max_msttr_ppm
         FROM dh JOIN pr USING (h)
         GROUP BY 1""",
    "q_docs_vocab_stats" ->
      """WITH t AS (SELECT source,
                           unnest(string_split(lower(text), ' ')) AS token
                    FROM documents),
         g AS (SELECT source, token, count(*) AS n FROM t
               WHERE token <> '' GROUP BY 1, 2)
         SELECT source, count(*) AS n_types,
                CAST(sum(n) AS BIGINT) AS n_tokens,
                CAST(max(n) AS BIGINT) AS max_token_freq,
                CAST(count(*) AS DOUBLE) / CAST(CAST(sum(n) AS BIGINT)
                  AS DOUBLE) AS type_token_ratio
         FROM g GROUP BY 1""",
    "q_text_repetition" ->
      """WITH toks AS (
           SELECT doc_id, u.tok AS tok, u.pos AS pos FROM (
             SELECT doc_id, unnest(list_transform(string_split(text, ' '),
                      (x, i) -> struct_pack(tok := x, pos := i))) AS u
             FROM documents)
           WHERE u.tok <> ''),
         bgr AS (
           SELECT doc_id,
                  tok || ' ' ||
                    lead(tok) OVER (PARTITION BY doc_id ORDER BY pos)
                    AS bigram
           FROM toks),
         bg AS (
           SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_bigrams,
                  CAST(max(n) AS BIGINT) AS top_bigram_cnt
           FROM (SELECT doc_id, bigram, count(*) AS n FROM bgr
                 WHERE bigram IS NOT NULL GROUP BY 1, 2)
           GROUP BY 1),
         tk AS (
           SELECT doc_id, count(*) AS n_tok,
                  count(DISTINCT tok) AS n_distinct_tok
           FROM toks GROUP BY 1)
         SELECT tk.doc_id, tk.n_tok, tk.n_distinct_tok,
                CAST(1 AS DOUBLE) - CAST(n_distinct_tok AS DOUBLE) /
                  CAST(n_tok AS DOUBLE) AS dup_word_frac,
                COALESCE(bg.n_bigrams, 0) AS n_bigrams,
                COALESCE(bg.top_bigram_cnt, 0) AS top_bigram_cnt,
                CAST(COALESCE(bg.top_bigram_cnt, 0) AS DOUBLE) /
                  CAST(GREATEST(COALESCE(bg.n_bigrams, 0), 1) AS DOUBLE)
                  AS top_bigram_frac
         FROM tk LEFT JOIN bg ON tk.doc_id = bg.doc_id""",
    "q_docs_scrub_pii" ->
      """SELECT doc_id,
                len(regexp_extract_all(text,
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
                  AS n_emails,
                len(regexp_extract_all(text, '[0-9]{9,}')) AS n_digit_runs,
                md5(regexp_replace(regexp_replace(text,
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                  '<EMAIL>', 'g'), '[0-9]{9,}', '<NUM>', 'g'))
                  AS scrubbed_md5,
                length(regexp_replace(regexp_replace(text,
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                  '<EMAIL>', 'g'), '[0-9]{9,}', '<NUM>', 'g'))
                  AS scrubbed_len
         FROM documents""",
    "q_text_top_tokens" ->
      """SELECT token, count(*) AS cnt
         FROM (SELECT unnest(string_split(lower(text), ' ')) AS token
               FROM documents)
         WHERE token <> ''
         GROUP BY 1 ORDER BY cnt DESC, token LIMIT 20""",
    "q_text_quality" ->
      """WITH b AS (SELECT doc_id, length(text) AS n_chars_t,
                           len(string_split(text, ' ')) AS n_tok,
                           len(regexp_extract_all(text, '\b(the|a|of|to|and)\b')) AS n_stop,
                           len(regexp_extract_all(text, '[.,!?;:]')) AS n_punct,
                           length(regexp_replace(text, ' ', '', 'g')) AS n_nospace
                    FROM documents)
         SELECT doc_id, n_chars_t, n_tok, n_stop, n_punct,
                CAST(n_nospace AS DOUBLE) / CAST(n_tok AS DOUBLE) AS avg_wlen,
                CAST(n_stop AS DOUBLE) / CAST(n_tok AS DOUBLE) AS stop_ratio,
                CAST(n_punct AS DOUBLE) / CAST(n_chars_t AS DOUBLE) AS punct_ratio,
                least(CAST(n_tok AS DOUBLE) / 100.0, 1.0) *
                  (1.0 - CAST(n_punct AS DOUBLE) / CAST(n_chars_t AS DOUBLE)) *
                  (0.5 + CAST(n_stop AS DOUBLE) / CAST(n_tok AS DOUBLE))
                  AS quality_score
         FROM b""",
    "q_text_tokens" ->
      """SELECT source, count(*) AS n_docs,
                CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_ws_tokens,
                CAST(sum(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')))
                  AS BIGINT) AS total_bpe_tokens,
                CAST(sum(len(string_split(text, ' '))) AS DOUBLE) /
                  CAST(count(*) AS DOUBLE) AS avg_ws_tokens
         FROM documents GROUP BY source""",
    "q_text_fingerprint" ->
      """SELECT doc_id, md5(text) AS content_md5, length(text) AS n_chars_t
         FROM documents""",
    "q_multimodal_features" ->
      """SELECT doc_id, octet_length(encode(text)) AS byte_len,
                md5(text) AS content_md5,
                octet_length(encode(text)) // 256 + 1 AS n_frames
         FROM documents""",
    "q_multimodal_resize" ->
      """SELECT doc_id, least(length(text), 100) AS resized_len,
                md5(substring(text, 1, 100)) AS resized_md5
         FROM documents""",
    "q_multimodal_sample_frames" ->
      """SELECT doc_id, frame_idx,
                least(256, length(text) - frame_idx * 256) AS frame_len,
                md5(substring(text, frame_idx * 256 + 1, 256)) AS frame_md5
         FROM (SELECT doc_id, text,
                      unnest(generate_series(0, length(text) // 256, 2))
                        AS frame_idx
               FROM documents)""",
    // ---- round 5 ----
    // Transcendental boundary contract (see EventOps.lnR6): every ln/exp
    // is rounded to a fixed decimal quantum on BOTH engines before any
    // aggregation; sums run in exact decimals; the closing arithmetic is
    // IEEE doubles with identical literals and associativity.
    "q_events_volatility" ->
      s"""WITH $hourlyOhlcCtes,
         c AS (SELECT hb, event_type,
                 CAST(max(CASE WHEN rna = 1 THEN v END) AS DOUBLE) AS open,
                 CAST(max(CASE WHEN rnd = 1 THEN v END) AS DOUBLE) AS close,
                 CAST(max(v) AS DOUBLE) AS high,
                 CAST(min(v) AS DOUBLE) AS low
               FROM w GROUP BY hb, event_type),
         t AS (SELECT event_type, hb // 86400 AS db,
                 CAST(round(ln(high / low), 6) AS DECIMAL(12,6)) AS lhl,
                 CAST(round(ln(close / open), 6) AS DECIMAL(12,6)) AS lco,
                 CAST(round(ln(high / open), 6) AS DECIMAL(12,6)) AS lho,
                 CAST(round(ln(high / close), 6) AS DECIMAL(12,6)) AS lhc,
                 CAST(round(ln(low / open), 6) AS DECIMAL(12,6)) AS llo,
                 CAST(round(ln(low / close), 6) AS DECIMAL(12,6)) AS llc
               FROM c WHERE low > 0 AND open > 0 AND close > 0),
         a AS (SELECT event_type, db, count(*) AS n_bars,
                 sum(lhl * lhl) AS s_hl2, sum(lco * lco) AS s_co2,
                 sum(lho * lhc + llo * llc) AS s_rs
               FROM t GROUP BY 1, 2)
         SELECT event_type, db * 86400 AS day, n_bars,
                CAST(s_hl2 AS DOUBLE) /
                  (2.772588722239781 * CAST(n_bars AS DOUBLE)) AS park_var,
                (0.5 * CAST(s_hl2 AS DOUBLE) -
                 0.3862943611198906 * CAST(s_co2 AS DOUBLE)) /
                  CAST(n_bars AS DOUBLE) AS gk_var,
                CAST(s_rs AS DOUBLE) / CAST(n_bars AS DOUBLE) AS rs_var
         FROM a""",
    "q_events_amihud" ->
      """WITH t AS (SELECT event_type, epoch_us(ts) // 86400000000 AS db,
                           CAST(round(value * 100, 0) AS BIGINT) AS cents,
                           epoch_us(ts) AS tu, event_id
                    FROM events
                    WHERE CAST(round(value * 100, 0) AS BIGINT) > 0),
         w AS (SELECT *,
                 row_number() OVER (PARTITION BY event_type, db
                                    ORDER BY tu, event_id) AS rna,
                 row_number() OVER (PARTITION BY event_type, db
                                    ORDER BY tu DESC, event_id DESC) AS rnd
               FROM t),
         a AS (SELECT event_type, db,
                 max(CASE WHEN rna = 1 THEN cents END) AS open_cents,
                 max(CASE WHEN rnd = 1 THEN cents END) AS close_cents,
                 CAST(sum(cents) AS BIGINT) AS volume_cents,
                 count(*) AS n_trades
               FROM w GROUP BY 1, 2)
         SELECT event_type, db * 86400 AS day, open_cents, close_cents,
                volume_cents, n_trades,
                ((close_cents - open_cents) * 1000000) // open_cents
                  AS ret_1e6,
                CAST(abs(close_cents - open_cents) AS DOUBLE) * 100.0 /
                  CAST(open_cents AS DOUBLE) /
                  CAST(volume_cents AS DOUBLE) AS illiq
         FROM a""",
    "q_events_type_entropy" ->
      """WITH c AS (SELECT user_id, event_type, count(*) AS cnt
                    FROM events GROUP BY 1, 2),
         a AS (SELECT user_id, CAST(sum(cnt) AS BIGINT) AS n_events,
                 count(*) AS n_types,
                 sum(CAST(cnt AS BIGINT) *
                     CAST(round(ln(cnt), 6) AS DECIMAL(12,6))) AS s_clnc
               FROM c GROUP BY 1)
         SELECT user_id, n_events, n_types,
                CAST(CAST(round(ln(n_events), 6) AS DECIMAL(12,6))
                     AS DOUBLE) -
                  CAST(s_clnc AS DOUBLE) / CAST(n_events AS DOUBLE)
                  AS entropy,
                CASE WHEN n_types > 1 THEN
                  (CAST(CAST(round(ln(n_events), 6) AS DECIMAL(12,6))
                        AS DOUBLE) -
                   CAST(s_clnc AS DOUBLE) / CAST(n_events AS DOUBLE)) /
                  CAST(CAST(round(ln(n_types), 6) AS DECIMAL(12,6))
                       AS DOUBLE)
                ELSE 0.0 END AS norm_entropy
         FROM a""",
    "q_events_benford" ->
      """WITH d AS (SELECT event_type,
                 CAST(substr(CAST(CAST(round(value * 100, 0) AS BIGINT)
                                  AS VARCHAR), 1, 1) AS INT) AS digit
               FROM events
               WHERE CAST(round(value * 100, 0) AS BIGINT) > 0),
         g AS (SELECT event_type, digit, count(*) AS n
               FROM d GROUP BY 1, 2),
         t AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS total
               FROM g GROUP BY 1),
         p AS (SELECT g.event_type, digit, n, total,
                 CAST(CASE digit
                   WHEN 1 THEN 0.3010299956639812
                   WHEN 2 THEN 0.17609125905568124
                   WHEN 3 THEN 0.12493873660829992
                   WHEN 4 THEN 0.09691001300805642
                   WHEN 5 THEN 0.07918124604762482
                   WHEN 6 THEN 0.06694678963061322
                   WHEN 7 THEN 0.05799194697768673
                   WHEN 8 THEN 0.05115252244738129
                   WHEN 9 THEN 0.04575749056067514
                 END AS DOUBLE) AS benford_p
               FROM g JOIN t ON g.event_type = t.event_type)
         SELECT event_type, digit, n, total,
                CAST(n AS DOUBLE) / CAST(total AS DOUBLE) AS share,
                benford_p,
                CAST(n AS DOUBLE) / CAST(total AS DOUBLE) - benford_p
                  AS dev
         FROM p""",
    "q_events_cusum" ->
      """WITH pm AS (SELECT event_type,
                 (epoch_us(ts) // 60000000) * 60 AS minute, count(*) AS x
               FROM events GROUP BY 1, 2),
         sp AS (SELECT event_type,
                 unnest(generate_series(min(minute), max(minute), 60))
                   AS minute
               FROM pm GROUP BY event_type),
         f AS (SELECT sp.event_type, sp.minute, COALESCE(pm.x, 0) AS x
               FROM sp LEFT JOIN pm
                 ON sp.event_type = pm.event_type
                    AND sp.minute = pm.minute),
         st AS (SELECT event_type, count(*) AS m,
                  CAST(sum(x) AS BIGINT) AS t,
                  sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx
                FROM f GROUP BY 1),
         j AS (SELECT f.event_type, f.minute, f.x, st.m, st.t, st.sxx,
                 CAST(2 * st.m * f.x - 3 * st.t AS HUGEINT) AS dup,
                 CAST(2 * st.m * f.x - st.t AS HUGEINT) AS ddn
               FROM f JOIN st ON f.event_type = st.event_type),
         pp AS (SELECT *, sum(dup) OVER w AS pup, sum(ddn) OVER w AS pdn
                FROM j WINDOW w AS (PARTITION BY event_type
                  ORDER BY minute ROWS UNBOUNDED PRECEDING)),
         s AS (SELECT *,
                 pup - least(CAST(0 AS HUGEINT), min(pup) OVER w) AS sup,
                 greatest(CAST(0 AS HUGEINT), max(pdn) OVER w) - pdn
                   AS sdn
               FROM pp WINDOW w AS (PARTITION BY event_type
                 ORDER BY minute ROWS UNBOUNDED PRECEDING)),
         h AS (SELECT *,
                 sup * sup > 100 * (CAST(m AS HUGEINT) * sxx -
                   CAST(t AS HUGEINT) * CAST(t AS HUGEINT)) AS hitup,
                 sdn * sdn > 100 * (CAST(m AS HUGEINT) * sxx -
                   CAST(t AS HUGEINT) * CAST(t AS HUGEINT)) AS hitdn
               FROM s),
         l AS (SELECT *,
                 COALESCE(lag(hitup) OVER (PARTITION BY event_type
                   ORDER BY minute), false) AS prevup,
                 COALESCE(lag(hitdn) OVER (PARTITION BY event_type
                   ORDER BY minute), false) AS prevdn
               FROM h)
         SELECT event_type, minute,
                CASE WHEN hitup AND NOT prevup THEN 'up'
                     ELSE 'down' END AS side,
                x AS rate,
                CAST(CASE WHEN hitup AND NOT prevup THEN sup
                          ELSE sdn END AS VARCHAR) AS cusum_scaled
         FROM l
         WHERE (hitup AND NOT prevup) OR (hitdn AND NOT prevdn)""",
    "q_events_neighbor_sim_dropall" -> neighborSimOracle(
      s"""${dropPairCtes("und", "x.user_id AS src, y.user_id AS dst")},
         e AS (SELECT src, dst FROM und
               UNION ALL SELECT dst AS src, src AS dst FROM und)"""),
    "q_docs_bm25" ->
      """WITH tk AS (
           SELECT doc_id, token FROM (
             SELECT doc_id,
                    unnest(string_split(lower(text), ' ')) AS token
             FROM documents)
           WHERE token <> ''),
         lens AS (SELECT doc_id, count(*) AS len FROM tk GROUP BY 1),
         corpus AS (SELECT count(*) AS n_docs,
                 CAST(sum(len) AS BIGINT) AS l_total FROM lens),
         m AS (SELECT doc_id, token, count(*) AS tf
               FROM tk WHERE token IN ('spark', 'window', 'merge')
               GROUP BY 1, 2),
         dfc AS (SELECT token, count(DISTINCT doc_id) AS df
                 FROM m GROUP BY 1),
         sc AS (SELECT m.doc_id, m.tf,
                  CAST(round(ln((CAST(n_docs AS DOUBLE) -
                                 CAST(df AS DOUBLE) + 0.5) /
                                (CAST(df AS DOUBLE) + 0.5)), 6)
                       AS DECIMAL(12,6)) AS idf,
                  lens.len, corpus.n_docs, corpus.l_total
                FROM m
                JOIN dfc ON m.token = dfc.token
                JOIN lens ON m.doc_id = lens.doc_id
                CROSS JOIN corpus),
         s2 AS (SELECT doc_id, tf,
                  CAST(round(CAST(idf AS DOUBLE) *
                    (CAST(tf AS DOUBLE) * 2.2) /
                    (CAST(tf AS DOUBLE) + 1.2 *
                      (0.25 + 0.75 * CAST(len * n_docs AS DOUBLE) /
                        CAST(l_total AS DOUBLE))), 9)
                    AS DECIMAL(20,9)) AS score_t
                FROM sc)
         SELECT doc_id, count(*) AS n_terms,
                CAST(sum(tf) AS BIGINT) AS n_hits,
                CAST(sum(score_t) AS DOUBLE) AS bm25
         FROM s2 GROUP BY 1
         ORDER BY bm25 DESC, doc_id LIMIT 20""",
    "q_docs_unigram_lp" ->
      """WITH tf AS (
           SELECT doc_id, token, count(*) AS tf FROM (
             SELECT doc_id,
                    unnest(string_split(lower(text), ' ')) AS token
             FROM documents)
           WHERE token <> '' GROUP BY 1, 2),
         vocab AS (SELECT token, CAST(sum(tf) AS BIGINT) AS cnt
                   FROM tf GROUP BY 1),
         tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS l_total FROM vocab),
         lp AS (SELECT token,
                  CAST(round(ln(CAST(cnt AS DOUBLE) /
                                CAST(l_total AS DOUBLE)), 6)
                       AS DECIMAL(12,6)) AS logp
                FROM vocab CROSS JOIN tot),
         a AS (SELECT tf.doc_id, CAST(sum(tf.tf) AS BIGINT) AS len,
                 count(*) AS n_distinct,
                 sum(CAST(tf.tf AS BIGINT) * lp.logp) AS s
               FROM tf JOIN lp ON tf.token = lp.token GROUP BY 1)
         SELECT doc_id, len, n_distinct,
                CAST(s AS DOUBLE) / CAST(len AS DOUBLE) AS avg_logp,
                round(exp(-(CAST(s AS DOUBLE) / CAST(len AS DOUBLE))), 6)
                  AS pseudo_ppl
         FROM a""",
    "q_events_variance_ratio" ->
      s"""WITH $gapFilledCloseCtes,
         d AS (SELECT event_type,
                 CAST(c - lag(c, 1) OVER w AS HUGEINT) AS d1,
                 CAST(c - lag(c, 4) OVER w AS HUGEINT) AS dk
               FROM f WINDOW w AS (PARTITION BY event_type ORDER BY hb)),
         m AS (SELECT event_type,
                 CAST(count(d1) AS HUGEINT) AS n1,
                 sum(d1) AS s1, sum(d1 * d1) AS q1,
                 CAST(count(dk) AS HUGEINT) AS nk,
                 sum(dk) AS sk, sum(dk * dk) AS qk
               FROM d GROUP BY 1
               HAVING count(d1) > 1 AND count(dk) > 1)
         SELECT event_type, 4 AS k, CAST(n1 AS BIGINT) AS n_periods,
                CASE WHEN n1 * q1 - s1 * s1 <> 0 THEN
                  (CAST(nk * qk - sk * sk AS DOUBLE) /
                   CAST(nk * nk AS DOUBLE)) /
                  (4.0 * CAST(n1 * q1 - s1 * s1 AS DOUBLE) /
                   CAST(n1 * n1 AS DOUBLE))
                END AS vr
         FROM m""",
    "q_events_winsorized" ->
      """WITH t AS (SELECT event_type,
                 CAST(round(value * 100, 0) AS BIGINT) AS cents, event_id
               FROM events),
         r AS (SELECT *,
                 row_number() OVER (PARTITION BY event_type
                   ORDER BY cents, event_id) AS rk,
                 count(*) OVER (PARTITION BY event_type) AS n
               FROM t),
         b AS (SELECT event_type,
                 min(cents) AS lo_cents, max(cents) AS hi_cents
               FROM r
               WHERE rk = -((-n * 1) // 100) OR rk = -((-n * 99) // 100)
               GROUP BY 1)
         SELECT t.event_type, count(*) AS n, b.lo_cents, b.hi_cents,
                count(*) FILTER (WHERE cents < lo_cents) AS n_clip_lo,
                count(*) FILTER (WHERE cents > hi_cents) AS n_clip_hi,
                CAST(sum(greatest(lo_cents, least(hi_cents, cents)))
                     AS BIGINT) AS clipped_cents,
                CAST(CAST(sum(greatest(lo_cents, least(hi_cents, cents)))
                          AS BIGINT) AS DOUBLE) / 100.0 /
                  CAST(count(*) AS DOUBLE) AS winsorized_mean
         FROM t JOIN b ON t.event_type = b.event_type
         GROUP BY t.event_type, b.lo_cents, b.hi_cents""",
    "q_docs_pmi_bigrams" ->
      """WITH d AS (SELECT doc_id,
                 string_split(lower(text), ' ') AS arr FROM documents),
         uc AS (SELECT token, count(*) AS cnt
                FROM (SELECT unnest(arr) AS token FROM d) GROUP BY 1),
         tt AS (SELECT CAST(sum(cnt) AS BIGINT) AS t_total FROM uc),
         ba AS (SELECT arr[i] AS a, arr[i + 1] AS b, count(*) AS cnt_ab
                FROM d, unnest(range(1, len(arr))) AS u(i)
                GROUP BY 1, 2),
         nt AS (SELECT CAST(sum(cnt_ab) AS BIGINT) AS n_total FROM ba),
         bc AS (SELECT * FROM ba WHERE cnt_ab >= 5)
         SELECT bc.a, bc.b, bc.cnt_ab,
                ua.cnt AS cnt_a, ub.cnt AS cnt_b,
                CAST(CAST(CAST(round(ln(CAST(cnt_ab AS DOUBLE) /
                       CAST(n_total AS DOUBLE)), 6) AS DECIMAL(12,6)) -
                     CAST(round(ln(CAST(ua.cnt AS DOUBLE) /
                       CAST(t_total AS DOUBLE)), 6) AS DECIMAL(12,6)) -
                     CAST(round(ln(CAST(ub.cnt AS DOUBLE) /
                       CAST(t_total AS DOUBLE)), 6) AS DECIMAL(12,6))
                     AS DECIMAL(14,6)) AS DOUBLE) AS pmi
         FROM bc
         JOIN uc ua ON bc.a = ua.token
         JOIN uc ub ON bc.b = ub.token
         CROSS JOIN nt CROSS JOIN tt
         ORDER BY pmi DESC, a, b LIMIT 50""",
    "q_docs_source_kl" ->
      """WITH ps AS (
           SELECT source, token, count(*) AS cnt FROM (
             SELECT source,
                    unnest(string_split(lower(text), ' ')) AS token
             FROM documents)
           WHERE token <> '' GROUP BY 1, 2),
         v AS (SELECT token, CAST(sum(cnt) AS BIGINT) AS g_cnt
               FROM ps GROUP BY 1),
         g AS (SELECT CAST(sum(g_cnt) AS BIGINT) AS t_c FROM v),
         st AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS t_s
                FROM ps GROUP BY 1),
         terms AS (
           SELECT ps.source, st.t_s,
             CAST(ps.cnt AS BIGINT) *
               (CAST(round(ln(CAST(ps.cnt AS DOUBLE) /
                  CAST(st.t_s AS DOUBLE)), 6) AS DECIMAL(12,6)) -
                CAST(round(ln(CAST(v.g_cnt AS DOUBLE) /
                  CAST(g.t_c AS DOUBLE)), 6) AS DECIMAL(12,6))) AS term
           FROM ps
           JOIN v ON ps.token = v.token
           JOIN st ON ps.source = st.source
           CROSS JOIN g)
         SELECT source, t_s AS n_tokens, count(*) AS vocab_size,
                CAST(sum(term) AS DOUBLE) / CAST(t_s AS DOUBLE) AS kl_nats
         FROM terms GROUP BY source, t_s""",
    "q_events_cusum_fixed" -> SparkEntry.cusumFixedOracle,
    "q_stream_cusum" -> SparkEntry.cusumFixedOracle,
    "q_events_mad_outliers" ->
      """WITH t AS (SELECT event_type, event_id,
                 CAST(round(value * 100, 0) AS BIGINT) AS cents
               FROM events),
         rm AS (SELECT *,
                 row_number() OVER (PARTITION BY event_type
                   ORDER BY cents, event_id) AS rk,
                 count(*) OVER (PARTITION BY event_type) AS n
               FROM t),
         med AS (SELECT event_type, cents AS med_cents FROM rm
                 WHERE rk = (n + 1) // 2),
         dev AS (SELECT t.event_type, t.event_id, t.cents, m.med_cents,
                   abs(t.cents - m.med_cents) AS adev
                 FROM t JOIN med m ON t.event_type = m.event_type),
         rd AS (SELECT *,
                 row_number() OVER (PARTITION BY event_type
                   ORDER BY adev, event_id) AS rk,
                 count(*) OVER (PARTITION BY event_type) AS n
               FROM dev),
         mad AS (SELECT event_type, adev AS mad_cents FROM rd
                 WHERE rk = (n + 1) // 2)
         SELECT d.event_type, d.event_id, d.cents, d.med_cents,
                md.mad_cents,
                CAST(d.adev AS DOUBLE) / CAST(md.mad_cents AS DOUBLE)
                  AS dev_ratio
         FROM dev d JOIN mad md ON d.event_type = md.event_type
         WHERE md.mad_cents > 0 AND d.adev > 5 * md.mad_cents""",
    "q_docs_zipf" ->
      """WITH tk AS (SELECT token, count(*) AS cnt FROM (
             SELECT unnest(string_split(lower(text), ' ')) AS token
             FROM documents)
           WHERE token <> '' GROUP BY 1
           ORDER BY cnt DESC, token LIMIT 1000),
         rk AS (SELECT *,
                 row_number() OVER (ORDER BY cnt DESC, token) AS r
               FROM tk),
         xy AS (SELECT
                 CAST(round(ln(r), 6) AS DECIMAL(12,6)) AS x,
                 CAST(round(ln(cnt), 6) AS DECIMAL(12,6)) AS y
               FROM rk),
         m AS (SELECT count(*) AS n,
                 CAST(sum(x) AS DOUBLE) AS sx,
                 CAST(sum(y) AS DOUBLE) AS sy,
                 CAST(CAST(round(sum(x * y), 6) AS DECIMAL(18,6))
                      AS DOUBLE) AS sxy,
                 CAST(CAST(round(sum(x * x), 6) AS DECIMAL(18,6))
                      AS DOUBLE) AS sxx
               FROM xy)
         SELECT n AS n_tokens_used,
                (CAST(n AS DOUBLE) * sxy - sx * sy) /
                  (CAST(n AS DOUBLE) * sxx - sx * sx) AS slope,
                (sy - (CAST(n AS DOUBLE) * sxy - sx * sy) /
                  (CAST(n AS DOUBLE) * sxx - sx * sx) * sx) /
                  CAST(n AS DOUBLE) AS intercept
         FROM m""",
    "q_docs_source_overlap" ->
      """WITH st AS (SELECT DISTINCT source, token FROM (
             SELECT source,
                    unnest(string_split(lower(text), ' ')) AS token
             FROM documents)
           WHERE token <> ''),
         sz AS (SELECT source, count(*) AS sz FROM st GROUP BY 1),
         p AS (SELECT a.source AS source_a, b.source AS source_b,
                 count(*) AS n_common
               FROM st a JOIN st b
                 ON a.token = b.token AND a.source < b.source
               GROUP BY 1, 2)
         SELECT p.source_a, p.source_b, p.n_common,
                za.sz AS sz_a, zb.sz AS sz_b,
                CAST(p.n_common AS DOUBLE) /
                  CAST(za.sz + zb.sz - p.n_common AS DOUBLE) AS jaccard
         FROM p
         JOIN sz za ON p.source_a = za.source
         JOIN sz zb ON p.source_b = zb.source""",
    "q_events_stickiness" ->
      """WITH ud AS (SELECT DISTINCT user_id,
                 epoch_us(ts) // 86400000000 AS db FROM events),
         dau AS (SELECT db, count(*) AS dau FROM ud GROUP BY 1),
         wau AS (SELECT db, count(*) AS wau FROM (
           SELECT DISTINCT user_id, db + i AS db
           FROM ud, unnest(range(0, 7)) AS u(i)) GROUP BY 1),
         mau AS (SELECT db, count(*) AS mau FROM (
           SELECT DISTINCT user_id, db + i AS db
           FROM ud, unnest(range(0, 30)) AS u(i)) GROUP BY 1)
         SELECT d.db * 86400 AS day, d.dau, w.wau, m.mau,
                CAST(d.dau AS DOUBLE) / CAST(m.mau AS DOUBLE)
                  AS stickiness
         FROM dau d
         JOIN wau w ON d.db = w.db
         JOIN mau m ON d.db = m.db""",
    "q_events_hill" ->
      """WITH t AS (SELECT event_type,
                 CAST(round(value * 100, 0) AS BIGINT) AS cents, event_id
               FROM events
               WHERE CAST(round(value * 100, 0) AS BIGINT) > 0),
         r AS (SELECT *,
                 row_number() OVER (PARTITION BY event_type
                   ORDER BY cents DESC, event_id DESC) AS rk
               FROM t),
         th AS (SELECT event_type,
                 CAST(round(ln(cents), 6) AS DECIMAL(12,6)) AS ln_thresh,
                 cents AS x_k1_cents
               FROM r WHERE rk = 101),
         s AS (SELECT r.event_type, count(*) AS k_used,
                 max(th.x_k1_cents) AS x_k1_cents,
                 sum(CAST(round(ln(r.cents), 6) AS DECIMAL(12,6)) -
                     th.ln_thresh) AS s
               FROM r JOIN th ON r.event_type = th.event_type
               WHERE r.rk <= 100 GROUP BY 1)
         SELECT event_type, k_used, x_k1_cents,
                CASE WHEN s <> 0
                     THEN CAST(k_used AS DOUBLE) / CAST(s AS DOUBLE)
                END AS alpha
         FROM s""",
    "q_events_spearman" ->
      """WITH hourly AS (
           SELECT event_type, (epoch_us(ts) // 3600000000) * 3600 AS hb,
                  CAST(sum(CAST(round(value * 100, 0) AS BIGINT))
                       AS BIGINT) AS x
           FROM events GROUP BY 1, 2),
         j AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
                 a.hb, a.x AS x, b.x AS y
               FROM hourly a JOIN hourly b
                 ON a.hb = b.hb AND a.event_type < b.event_type),
         r AS (SELECT *,
                 row_number() OVER (PARTITION BY type_a, type_b
                   ORDER BY x, hb) AS rx,
                 row_number() OVER (PARTITION BY type_a, type_b
                   ORDER BY y, hb) AS ry
               FROM j),
         s AS (SELECT type_a, type_b, count(*) AS n,
                 sum(CAST(rx - ry AS HUGEINT) * (rx - ry)) AS sd2
               FROM r GROUP BY 1, 2 HAVING count(*) > 1)
         SELECT type_a, type_b, n AS n_hours,
                1.0 - 6.0 * CAST(sd2 AS DOUBLE) /
                  CAST(CAST(n AS HUGEINT) *
                       (CAST(n AS HUGEINT) * n - 1) AS DOUBLE) AS rho
         FROM s""",
    "q_ann_hard_negatives" ->
      """WITH dims AS (
           SELECT vec_id, label,
                  CAST(unnest(generate_series(1, 64)) - 1 AS BIGINT) AS i,
                  CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000,
                       0) AS BIGINT) AS v6
           FROM embeddings),
         scales AS (
           SELECT vec_id, max(abs(v6)) AS s6 FROM dims GROUP BY 1),
         codes AS (
           SELECT d.vec_id, d.label, d.i, s.s6,
                  CASE WHEN s.s6 = 0 THEN 0
                       ELSE CAST(sign(d.v6) AS BIGINT) *
                            ((254 * abs(d.v6) + s.s6) // (2 * s.s6)) END
                    AS q
           FROM dims d JOIN scales s ON d.vec_id = s.vec_id),
         scored AS (
           SELECT a.vec_id AS q_id, a.label AS anchor_label,
                  b.vec_id AS neighbor_id, b.label AS neg_label,
                  CAST(sum(a.q * b.q) AS HUGEINT)
                    * max(a.s6) * max(b.s6) AS dot_scaled
           FROM codes a JOIN codes b ON a.i = b.i
                AND a.vec_id < 10 AND a.vec_id <> b.vec_id
                AND a.label <> b.label
           GROUP BY 1, 2, 3, 4),
         ranked AS (
           SELECT *, row_number() OVER (PARTITION BY q_id
                    ORDER BY dot_scaled DESC, neighbor_id) AS rk
           FROM scored)
         SELECT q_id, anchor_label, neighbor_id, neg_label,
                CAST(dot_scaled AS VARCHAR) AS dot_scaled, rk
         FROM ranked WHERE rk > 2 AND rk <= 7""",
    "q_docs_mixture_alloc" ->
      """WITH q AS (
           SELECT doc_id, source,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
                  least(CAST(len(string_split(text, ' ')) AS DOUBLE) /
                        100.0, 1.0) *
                  (1.0 - CAST(len(regexp_extract_all(text, '[.,!?;:]'))
                              AS DOUBLE) /
                         CAST(length(text) AS DOUBLE)) *
                  (0.5 + CAST(len(regexp_extract_all(text,
                                '\b(the|a|of|to|and)\b')) AS DOUBLE) /
                         CAST(len(string_split(text, ' ')) AS DOUBLE))
                    AS qs
           FROM documents),
         s AS (SELECT source, count(*) AS n_docs,
                 CAST(sum(n_tok) AS BIGINT) AS n_tokens,
                 sum(CAST(round(qs, 9) AS DECIMAL(18,9))) AS qsum
               FROM q GROUP BY 1),
         w AS (SELECT *, CAST(qsum AS DOUBLE) / CAST(n_docs AS DOUBLE)
                 AS avg_quality FROM s),
         w2 AS (SELECT *,
                 CAST(round(exp(2.0 *
                   CAST(CAST(round(ln(avg_quality), 6) AS DECIMAL(12,6))
                        AS DOUBLE)), 6) AS DECIMAL(18,6)) AS weight6
               FROM w),
         t AS (SELECT sum(weight6) AS wtot FROM w2),
         a AS (SELECT source, n_docs, n_tokens, avg_quality,
                 CAST(weight6 AS DOUBLE) AS weight,
                 CAST((CAST(1000000 AS HUGEINT) *
                       CAST(weight6 * 1000000 AS BIGINT)) //
                      CAST(wtot * 1000000 AS BIGINT) AS BIGINT)
                   AS alloc_tokens
               FROM w2 CROSS JOIN t)
         SELECT source, n_docs, n_tokens, avg_quality, weight,
                alloc_tokens FROM a
         UNION ALL
         SELECT NULL, 0, 0, NULL, NULL,
                1000000 - (SELECT CAST(sum(alloc_tokens) AS BIGINT)
                           FROM a)""",
    "q_events_edge_growth_dropall" -> edgeGrowthOracle(dropPairCtes("dp",
      """x.mb // 24 AS db, x.user_id AS a,
                           y.user_id AS b""")),
    "q_ann_rrf" ->
      """WITH x AS (SELECT vec_id, unnest(generate_series(1, 64)) AS i,
                           CAST(unnest(embedding) AS DOUBLE) AS v
                    FROM embeddings),
         n AS (SELECT vec_id, sum(v * v) AS n2 FROM x GROUP BY 1),
         qx AS (SELECT * FROM x WHERE vec_id < 10),
         d AS (SELECT qx.vec_id AS q_id, x.vec_id AS neighbor_id,
                      sum(qx.v * x.v) AS dot
               FROM qx JOIN x ON qx.i = x.i AND qx.vec_id <> x.vec_id
               GROUP BY 1, 2),
         cosr AS (SELECT q_id, neighbor_id,
                    row_number() OVER (PARTITION BY q_id ORDER BY
                      round(dot / (sqrt(nq.n2) * sqrt(nn.n2)), 6) DESC,
                      neighbor_id) AS rk
                  FROM d JOIN n nq ON q_id = nq.vec_id
                         JOIN n nn ON neighbor_id = nn.vec_id),
         dims AS (
           SELECT vec_id,
                  CAST(unnest(generate_series(1, 64)) - 1 AS BIGINT) AS i,
                  CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000,
                       0) AS BIGINT) AS v6
           FROM embeddings),
         scales AS (
           SELECT vec_id, max(abs(v6)) AS s6 FROM dims GROUP BY 1),
         codes AS (
           SELECT dm.vec_id, dm.i, s.s6,
                  CASE WHEN s.s6 = 0 THEN 0
                       ELSE CAST(sign(dm.v6) AS BIGINT) *
                            ((254 * abs(dm.v6) + s.s6) // (2 * s.s6)) END
                    AS q
           FROM dims dm JOIN scales s ON dm.vec_id = s.vec_id),
         i8 AS (SELECT a.vec_id AS q_id, b.vec_id AS neighbor_id,
                  row_number() OVER (PARTITION BY a.vec_id ORDER BY
                    CAST(sum(a.q * b.q) AS HUGEINT)
                      * max(a.s6) * max(b.s6) DESC, b.vec_id) AS rk
                FROM codes a JOIN codes b ON a.i = b.i
                     AND a.vec_id < 10 AND a.vec_id <> b.vec_id
                GROUP BY a.vec_id, b.vec_id),
         pool AS (
           SELECT q_id, neighbor_id,
                  CAST(round(1.0 / (60.0 + CAST(rk AS DOUBLE)), 9)
                       AS DECIMAL(12,9)) AS t
           FROM cosr WHERE rk <= 10
           UNION ALL
           SELECT q_id, neighbor_id,
                  CAST(round(1.0 / (60.0 + CAST(rk AS DOUBLE)), 9)
                       AS DECIMAL(12,9)) AS t
           FROM i8 WHERE rk <= 10),
         fused AS (
           SELECT q_id, neighbor_id, count(*) AS n_lists,
                  sum(t) AS rrf
           FROM pool GROUP BY 1, 2),
         rr AS (SELECT q_id, neighbor_id, n_lists,
                  CAST(rrf AS DOUBLE) AS rrf,
                  row_number() OVER (PARTITION BY q_id
                    ORDER BY rrf DESC, neighbor_id) AS rk
                FROM fused)
         SELECT q_id, neighbor_id, n_lists, rrf, rk FROM rr
         WHERE rk <= 5""",
    "q_multimodal_dedup" ->
      """WITH f AS (
           SELECT DISTINCT doc_id,
                  md5(substring(text, fi * 256 + 1, 256)) AS h
           FROM (SELECT doc_id, text,
                   unnest(generate_series(0, length(text) // 256))
                     AS fi
                 FROM documents)),
         sz AS (SELECT doc_id, count(*) AS sz FROM f GROUP BY 1),
         keep AS (SELECT h FROM f GROUP BY h HAVING count(*) <= 64),
         k AS (SELECT f.doc_id, f.h FROM f JOIN keep ON f.h = keep.h),
         p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 count(*) AS n_common
               FROM k a JOIN k b
                 ON a.h = b.h AND a.doc_id < b.doc_id
               GROUP BY 1, 2)
         SELECT p.doc_a, p.doc_b, p.n_common,
                za.sz AS n_a, zb.sz AS n_b,
                CAST(p.n_common AS DOUBLE) /
                  CAST(za.sz + zb.sz - p.n_common AS DOUBLE) AS jaccard
         FROM p
         JOIN sz za ON p.doc_a = za.doc_id
         JOIN sz zb ON p.doc_b = zb.doc_id
         WHERE 5 * p.n_common >= 1 * (za.sz + zb.sz - p.n_common)""",
    "q_events_slippage" ->
      """WITH t AS (SELECT event_type,
                 (epoch_us(ts) // 3600000000) * 3600 AS hour,
                 CAST(CAST(round(value * 100, 0) AS BIGINT)
                      AS DECIMAL(38,0)) AS c,
                 CAST(CAST(regexp_extract(props, '[0-9]+') AS BIGINT)
                      AS DECIMAL(38,0)) AS q
               FROM events
               WHERE CAST(regexp_extract(props, '[0-9]+') AS BIGINT) > 0),
         tot AS (SELECT event_type, hour, sum(q) AS kk, sum(c * q) AS cc
                 FROM t GROUP BY 1, 2)
         SELECT t.event_type, t.hour, count(*) AS n_fills,
                CAST(tot.kk AS BIGINT) AS total_qty,
                CAST(tot.cc AS DOUBLE) / CAST(tot.kk AS DOUBLE)
                  AS vwap_cents,
                CAST(sum(t.q * abs(t.c * tot.kk - tot.cc)) AS DOUBLE) /
                  CAST(tot.kk * tot.kk AS DOUBLE) AS slip_cents
         FROM t JOIN tot
           ON t.event_type = tot.event_type AND t.hour = tot.hour
         GROUP BY t.event_type, t.hour, tot.kk, tot.cc""",
    "q_events_beta" ->
      """WITH hourly AS (SELECT event_type,
                 (epoch_us(ts) // 3600000000) * 3600 AS hb,
                 CAST(sum(CAST(round(value * 100, 0) AS BIGINT))
                      AS DECIMAL(38,0)) AS x
               FROM events GROUP BY 1, 2),
         market AS (SELECT hb, sum(x) AS m FROM hourly GROUP BY 1),
         mom AS (SELECT h.event_type,
                   CAST(count(*) AS DECIMAL(38,0)) AS n,
                   sum(h.x) AS sx, sum(mk.m) AS sm,
                   sum(h.x * mk.m) AS sxm, sum(mk.m * mk.m) AS smm
                 FROM hourly h JOIN market mk ON h.hb = mk.hb
                 GROUP BY 1)
         SELECT event_type, CAST(n AS BIGINT) AS n_hours,
                CAST(n * sxm - sx * sm AS DOUBLE) /
                  nullif(CAST(n * smm - sm * sm AS DOUBLE), 0) AS beta,
                CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) -
                  (CAST(n * sxm - sx * sm AS DOUBLE) /
                   nullif(CAST(n * smm - sm * sm AS DOUBLE), 0)) *
                  (CAST(sm AS DOUBLE) / CAST(n AS DOUBLE)) AS alpha_cents
         FROM mom""",
    "q_events_seasonal_anomalies" -> SparkEntry.seasonalOracle,
    "q_stream_seasonal" -> SparkEntry.seasonalOracle,
    "q_embeddings_outliers" ->
      """WITH comp AS (SELECT vec_id, label,
                 CAST(unnest(generate_series(1, 64)) AS BIGINT) AS pos,
                 CAST(CAST(round(CAST(unnest(embedding) AS DOUBLE)
                      * 1000000, 0) AS BIGINT) AS DECIMAL(38,0)) AS x6
               FROM embeddings),
         cent AS (SELECT label, pos, sum(x6) AS s6,
                    CAST(count(*) AS DECIMAL(38,0)) AS n
                  FROM comp GROUP BY 1, 2),
         d2 AS (SELECT c.vec_id, c.label,
                  sum((ct.n * c.x6 - ct.s6) * (ct.n * c.x6 - ct.s6))
                    AS d2num
                FROM comp c
                JOIN cent ct ON c.label = ct.label AND c.pos = ct.pos
                GROUP BY 1, 2),
         r AS (SELECT *, row_number() OVER (PARTITION BY label
                   ORDER BY d2num, vec_id) AS rk,
                 count(*) OVER (PARTITION BY label) AS nv,
                 row_number() OVER (PARTITION BY label
                   ORDER BY d2num DESC, vec_id) AS far_rk
               FROM d2),
         med AS (SELECT label, d2num AS med
                 FROM r WHERE rk = (nv + 1) // 2)
         SELECT r.label, r.far_rk, r.vec_id,
                CAST(r.d2num AS DOUBLE) / CAST(m.med AS DOUBLE)
                  AS dist_ratio
         FROM r JOIN med m ON r.label = m.label
         WHERE r.far_rk <= 5""",
    "q_docs_split_leakage" ->
      s"""WITH ${collapsedDocPairsCtes(jaccardPred)},
         canon AS (SELECT doc_id, keep_id AS cluster FROM lbl),
         m AS MATERIALIZED (SELECT doc_id, cluster,
                 CASE WHEN CAST(strpos('0123456789abcdef',
                        substring(md5('split' || CAST(doc_id AS VARCHAR)),
                          1, 1)) - 1 AS INT) * 16 +
                      CAST(strpos('0123456789abcdef',
                        substring(md5('split' || CAST(doc_id AS VARCHAR)),
                          2, 1)) - 1 AS INT) < 204 THEN 'train'
                      WHEN CAST(strpos('0123456789abcdef',
                        substring(md5('split' || CAST(doc_id AS VARCHAR)),
                          1, 1)) - 1 AS INT) * 16 +
                      CAST(strpos('0123456789abcdef',
                        substring(md5('split' || CAST(doc_id AS VARCHAR)),
                          2, 1)) - 1 AS INT) < 230 THEN 'val'
                      ELSE 'test' END AS split
               FROM canon),
         leaky AS (SELECT cluster, count(DISTINCT split) AS n_splits
                   FROM m GROUP BY 1 HAVING count(DISTINCT split) > 1)
         SELECT m.cluster, m.doc_id, m.split,
                CASE WHEN CAST(strpos('0123456789abcdef',
                       substring(md5('split' || CAST(m.cluster AS VARCHAR)),
                         1, 1)) - 1 AS INT) * 16 +
                     CAST(strpos('0123456789abcdef',
                       substring(md5('split' || CAST(m.cluster AS VARCHAR)),
                         2, 1)) - 1 AS INT) < 204 THEN 'train'
                     WHEN CAST(strpos('0123456789abcdef',
                       substring(md5('split' || CAST(m.cluster AS VARCHAR)),
                         1, 1)) - 1 AS INT) * 16 +
                     CAST(strpos('0123456789abcdef',
                       substring(md5('split' || CAST(m.cluster AS VARCHAR)),
                         2, 1)) - 1 AS INT) < 230 THEN 'val'
                     ELSE 'test' END AS healed_split,
                l.n_splits
         FROM m JOIN leaky l ON m.cluster = l.cluster""",
    "q_events_churn" ->
      """WITH uw AS (SELECT DISTINCT user_id,
                 epoch_us(ts) // 604800000000 AS wk FROM events),
         fw AS (SELECT user_id, min(wk) AS first_wk FROM uw GROUP BY 1),
         j AS (SELECT coalesce(c.user_id, p.user_id) AS user_id,
                 coalesce(c.wk, p.pwk) AS wk, c.cur, p.prv
               FROM (SELECT user_id, wk, 1 AS cur FROM uw) c
               FULL OUTER JOIN
                 (SELECT user_id, wk + 1 AS pwk, 1 AS prv FROM uw) p
                 ON c.user_id = p.user_id AND c.wk = p.pwk),
         jf AS (SELECT j.*, f.first_wk FROM j
                JOIN fw f ON j.user_id = f.user_id)
         SELECT wk * 604800 AS week,
           count(CASE WHEN cur = 1 AND prv IS NULL AND wk = first_wk
             THEN 1 END) AS new_wallets,
           count(CASE WHEN cur = 1 AND prv = 1 THEN 1 END) AS retained,
           count(CASE WHEN cur = 1 AND prv IS NULL AND wk > first_wk
             THEN 1 END) AS resurrected,
           count(CASE WHEN cur IS NULL AND prv = 1 THEN 1 END)
             AS churned,
           count(CASE WHEN cur = 1 AND prv IS NULL AND wk = first_wk
             THEN 1 END) +
           count(CASE WHEN cur = 1 AND prv = 1 THEN 1 END) +
           count(CASE WHEN cur = 1 AND prv IS NULL AND wk > first_wk
             THEN 1 END) AS active
         FROM jf GROUP BY wk""",
    "q_events_rfm" ->
      """WITH per AS (SELECT user_id, max(epoch_us(ts)) AS last_us,
                 count(*) AS n_events,
                 CAST(sum(CAST(round(value * 100, 0) AS BIGINT))
                      AS BIGINT) AS monetary_cents
               FROM events GROUP BY 1),
         nn AS (SELECT count(*) AS n FROM per),
         r AS (SELECT per.*,
                 row_number() OVER (ORDER BY last_us, user_id) AS rr,
                 row_number() OVER (ORDER BY n_events, user_id) AS rf,
                 row_number() OVER (ORDER BY monetary_cents, user_id)
                   AS rm
               FROM per)
         SELECT user_id, last_us, n_events, monetary_cents,
                CAST(((rr - 1) * 5) // nn.n + 1 AS INT) AS r_score,
                CAST(((rf - 1) * 5) // nn.n + 1 AS INT) AS f_score,
                CAST(((rm - 1) * 5) // nn.n + 1 AS INT) AS m_score,
                CAST((((rr - 1) * 5) // nn.n + 1) * 100 +
                     (((rf - 1) * 5) // nn.n + 1) * 10 +
                     (((rm - 1) * 5) // nn.n + 1) AS INT) AS rfm
         FROM r CROSS JOIN nn""",
    "q_docs_effective_tokens" ->
      s"""WITH ${collapsedDocPairsCtes(jaccardPred)},
         tk AS (SELECT doc_id, source,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
               FROM documents),
         ex AS (SELECT min(doc_id) AS keep_id FROM documents
                GROUP BY md5(text)),
         canon AS (SELECT doc_id, keep_id AS ck FROM lbl),
         nonkeep AS (SELECT doc_id FROM canon WHERE ck <> doc_id),
         kept AS (SELECT keep_id AS doc_id FROM ex
                  WHERE keep_id NOT IN (SELECT doc_id FROM nonkeep)),
         raw AS (SELECT source, count(*) AS raw_docs,
                   CAST(sum(n_tokens) AS BIGINT) AS raw_tokens
                 FROM tk GROUP BY 1),
         kk AS (SELECT source, count(*) AS kept_docs,
                  CAST(sum(n_tokens) AS BIGINT) AS kept_tokens
                FROM tk JOIN kept USING (doc_id) GROUP BY 1)
         SELECT raw.source, raw_docs, raw_tokens, kept_docs,
                kept_tokens,
                CAST(raw_tokens AS DOUBLE) / CAST(kept_tokens AS DOUBLE)
                  AS inflation
         FROM raw JOIN kk ON raw.source = kk.source""",
    "q_docs_bigram_entropy" ->
      """WITH toks AS (SELECT doc_id, source, i AS pos, ws[i] AS token
               FROM (SELECT doc_id, source,
                       string_split(lower(text), ' ') AS ws
                     FROM documents),
                    unnest(generate_series(1, len(ws))) AS u(i)
               WHERE ws[i] <> ''),
         nx AS (SELECT source, doc_id, pos, token,
                  lead(token) OVER (PARTITION BY doc_id ORDER BY pos)
                    AS next
                FROM toks),
         big AS (SELECT source, token AS a, next AS b, count(*) AS c_ab
                 FROM nx WHERE next IS NOT NULL GROUP BY 1, 2, 3),
         pref AS (SELECT source, a, CAST(sum(c_ab) AS BIGINT) AS c_a
                  FROM big GROUP BY 1, 2),
         terms AS (SELECT big.source, big.c_ab,
             CAST(big.c_ab AS BIGINT) *
               CAST(round(ln(CAST(big.c_ab AS DOUBLE) /
                 CAST(pref.c_a AS DOUBLE)), 6) AS DECIMAL(12,6)) AS term
           FROM big JOIN pref
             ON big.source = pref.source AND big.a = pref.a)
         SELECT source, CAST(sum(c_ab) AS BIGINT) AS n_bigrams,
                count(*) AS n_bigram_types,
                -CAST(sum(term) AS DOUBLE) / CAST(sum(c_ab) AS DOUBLE)
                  AS h_cond_nats,
                round(exp(-CAST(sum(term) AS DOUBLE) /
                  CAST(sum(c_ab) AS DOUBLE)), 6) AS branching_factor
         FROM terms GROUP BY 1""",
    "q_events_stationary_mix" -> SparkEntry.stationaryOracle,
    "q_events_last_digit" ->
      """WITH d AS (SELECT event_type, cents % 10 AS digit,
                 CAST(count(*) AS DECIMAL(38,0)) AS o
               FROM (SELECT event_type,
                       CAST(round(value * 100, 0) AS BIGINT) AS cents
                     FROM events)
               WHERE cents > 0 GROUP BY 1, 2)
         SELECT event_type, CAST(sum(o) AS BIGINT) AS n,
                count(*) AS n_digits,
                CAST(CAST(100 AS DECIMAL(38,0)) * sum(o * o) -
                     CAST(10 AS DECIMAL(38,0)) * sum(o) * sum(o)
                     AS DOUBLE) /
                CAST(CAST(10 AS DECIMAL(38,0)) * sum(o) AS DOUBLE)
                  AS chi2
         FROM d GROUP BY 1""",
   )
   // the rep-level report twins share the expanded reports' oracle SQL
   // VERBATIM — the whole point of the rep contract is result equality
   // without the pair expansion (same convention as q_dedup_docs_corpus_rep)
   m ++ Map(
     "q_docs_split_leakage_rep" -> m("q_docs_split_leakage"),
     "q_docs_effective_tokens_rep" -> m("q_docs_effective_tokens"),
     "q_docs_dup_flow_rep" -> m("q_docs_dup_flow"),
     "q_dedup_best_quality_rep" -> m("q_dedup_best_quality"),
     // C65: per-source near-dup multiplicity histogram over the same
     // canonicalization labels the clustering oracles share; docs
     // outside the pair graph are singletons (cluster_size 1)
     "q_docs_soft_dedup" ->
       s"""WITH ${collapsedDocPairsCtes(jaccardPred)},
          cs AS (SELECT keep_id, count(*) AS c FROM lbl GROUP BY 1),
          dc AS (SELECT d.source,
                        coalesce(cs.c, 1) AS cluster_size
                 FROM documents d
                 LEFT JOIN lbl ON d.doc_id = lbl.doc_id
                 LEFT JOIN cs ON lbl.keep_id = cs.keep_id)
          SELECT source, cluster_size,
                 CAST(count(*) AS BIGINT) AS n_docs
          FROM dc GROUP BY 1, 2""")
  }

  /** A105/A105b: one SQL, two queries — the batch seasonal detector and
    * the stream-static availableNow pair must both hash-match it (the
    * A94b batch ≡ stream convention). mult = 2. */
  private val seasonalOracle: String =
    """WITH ph AS (SELECT event_type, epoch_us(ts) // 3600000000 AS hb,
             count(*) AS c
           FROM events GROUP BY 1, 2),
       h AS (SELECT *, hb % 24 AS hod FROM ph),
       r AS (SELECT *, row_number() OVER (PARTITION BY event_type, hod
               ORDER BY c, hb) AS rk,
             count(*) OVER (PARTITION BY event_type, hod) AS nd
           FROM h),
       base AS (SELECT event_type, hod, c AS baseline
                FROM r WHERE rk = (nd + 1) // 2)
       SELECT h.event_type, h.hb * 3600 AS hour, h.hod, h.c AS n,
              b.baseline
       FROM h JOIN base b
         ON h.event_type = b.event_type AND h.hod = b.hod
       WHERE h.c > b.baseline * 2"""

  /** A108: the stationary-mix oracle unrolls the 10 integer power
    * steps as plain CTEs (same convention as [[pagerankOracle]]) —
    * every step is the identical truncating arithmetic as the Spark
    * loop, so the fixed point is bit-identical. */
  private lazy val stationaryOracle: String = {
    val steps = (1 to 10).map { i =>
      s""", p$i AS (SELECT ty.t, coalesce(i.s, CAST(0 AS BIGINT)) AS pr
         FROM ty LEFT JOIN (
           SELECT tm.b AS t,
                  CAST(sum((p.pr * tm.p6) // 1000000) AS BIGINT) AS s
           FROM tm JOIN p${i - 1} p ON tm.a = p.t GROUP BY 1) i
           ON ty.t = i.t)"""
    }.mkString
    s"""WITH st AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id,
             event_type FROM events),
       nx AS (SELECT event_type AS a,
               lead(event_type) OVER (PARTITION BY user_id
                 ORDER BY ts_us, event_id) AS b
             FROM st),
       c AS (SELECT a, b, count(*) AS c FROM nx
             WHERE b IS NOT NULL GROUP BY 1, 2),
       tot AS (SELECT a, CAST(sum(c) AS BIGINT) AS tot
               FROM c GROUP BY 1),
       -- MATERIALIZED: tm/ty feed all 10 unrolled steps; DuckDB's
       -- per-reference inlining would re-run the corpus-wide lead()
       -- window behind them 10× concurrently (witnessed spill-disk
       -- exhaustion at sf100); the one-shot result is k²/k rows
       tm AS MATERIALIZED (
              SELECT c.a, c.b, (c.c * 1000000) // tot.tot AS p6
              FROM c JOIN tot ON c.a = tot.a),
       ty AS MATERIALIZED (SELECT a AS t FROM tot),
       kk AS MATERIALIZED (SELECT count(*) AS k FROM ty),
       p0 AS (SELECT t, 1000000000000 // kk.k AS pr
              FROM ty CROSS JOIN kk)$steps
       SELECT t AS event_type, pr,
              CAST(pr AS DOUBLE) / 1000000000000 AS share
       FROM p10"""
  }

  /** A94b: one SQL, two queries — the batch plan and the availableNow
    * transformWithState stream must both hash-match it (batch ≡ stream
    * pinning, same convention as A8c/A17g). num=4, den=1, h·σ0·2·den=20.
    */
  private val cusumFixedOracle: String =
    """WITH pm AS (SELECT event_type,
             (epoch_us(ts) // 60000000) * 60 AS minute, count(*) AS x
           FROM events GROUP BY 1, 2),
       j AS (SELECT event_type, minute, x,
               2 * x - 12 AS dup, 2 * x - 4 AS ddn
             FROM pm),
       pp AS (SELECT *, sum(dup) OVER w AS pup, sum(ddn) OVER w AS pdn
              FROM j WINDOW w AS (PARTITION BY event_type
                ORDER BY minute ROWS UNBOUNDED PRECEDING)),
       s AS (SELECT *,
               pup - least(0, min(pup) OVER w) AS sup,
               greatest(0, max(pdn) OVER w) - pdn AS sdn
             FROM pp WINDOW w AS (PARTITION BY event_type
               ORDER BY minute ROWS UNBOUNDED PRECEDING)),
       h AS (SELECT *, sup > 20 AS hitup, sdn > 20 AS hitdn FROM s),
       l AS (SELECT *,
               COALESCE(lag(hitup) OVER (PARTITION BY event_type
                 ORDER BY minute), false) AS prevup,
               COALESCE(lag(hitdn) OVER (PARTITION BY event_type
                 ORDER BY minute), false) AS prevdn
             FROM h)
       SELECT event_type, minute,
              CASE WHEN hitup AND NOT prevup THEN 'up'
                   ELSE 'down' END AS side,
              x AS rate,
              CAST(CASE WHEN hitup AND NOT prevup THEN sup
                        ELSE sdn END AS BIGINT) AS cusum_scaled
       FROM l WHERE (hitup AND NOT prevup) OR (hitdn AND NOT prevdn)"""
}
