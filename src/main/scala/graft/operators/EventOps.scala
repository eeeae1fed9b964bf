package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Batch analytics over the decoded event stream.
  *
  * Spark-native re-expression of the reference's event-processing surface:
  * include-list filtering (reference `event_parser/common/filter.rs`),
  * per-type counters and windowed throughput / processing-time statistics
  * (`streaming/common/metrics.rs`), signature dedup and per-wallet flow
  * analysis (`streaming/common/event_processor.rs`). Everything is built
  * from codegen'd built-in expressions; aggregates on monetary values go
  * through fixed-scale decimals so results are exact and reproducible
  * across engines, and event-time ordering uses integer epoch-micros.
  *
  * Scale notes: every operator is a single shuffle on its natural key
  * (event_type / user_id / window bucket) with map-side partial
  * aggregation; nothing collects to the driver.
  */
object EventOps {

  /** Event-time as integer micros — total order used by every operator. */
  private def tsUs = expr("unix_micros(ts)")

  private def valDec = col("value").cast("decimal(18,2)")

  /** A1: include-list event-type filter (EventTypeFilter analog). */
  def filterTypes(events: DataFrame, include: Seq[String]): DataFrame =
    events
      .filter(col("event_type").isin(include: _*))
      .select(col("event_id"), tsUs.as("ts_us"), col("user_id"),
        col("event_type"), col("value"))

  /** A2: per-type counters (process_count / events_processed analog). */
  def countsByType(events: DataFrame): DataFrame =
    events.groupBy("event_type").agg(
      count(lit(1)).as("n_events"),
      countDistinct(col("user_id")).as("n_users"),
      sum(valDec).cast("double").as("total_value"))

  /** A3: tumbling 1h window throughput (metrics window reset analog). */
  def tumbling1h(events: DataFrame): DataFrame =
    events
      .groupBy(expr("(unix_micros(ts) div 3600000000) * 3600").as("ws"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), sum(valDec).cast("double").as("total_value"))

  /** A4: sliding window (1h length, 15m slide) event rates.
    * Uses the built-in `window()` generator — each row lands in 4 windows,
    * assignment is computed map-side, then one shuffle on (window, type).
    */
  def sliding1h15m(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(expr("unix_timestamp(window.start)").as("ws"), col("event_type"),
        col("n"))

  /** A5: value distribution stats per type (processing-time stats analog).
    * min/max are raw column values (bit-exact); avg/stddev are derived from
    * exact decimal sums with an explicit formula; p50/p95 are exact order
    * statistics (element at rank ceil(p*n)) — no interpolation, so results
    * are engine-independent.
    */
  def valueStats(events: DataFrame): DataFrame = {
    val base = events.select(col("event_type"), col("value"))
    // moments from one partial-agg pass (exact decimal sums, no window)
    val moments = base.groupBy("event_type").agg(
      count(lit(1)).as("n"),
      min("value").as("min_v"),
      max("value").as("max_v"),
      sum(valDec).cast("double").as("sum_v"),
      sum(valDec.multiply(valDec)).cast("double").as("sumsq_v"))
    // exact rank percentiles over DISTINCT values with counts: rank k is
    // the smallest value whose cumulative count reaches k, so the sort
    // walks the (type, value) domain (2-decimal values repeat heavily),
    // never the raw rows — a per-type row_number would drag the hottest
    // type through one task at 100 TB
    val byVal = Window.partitionBy("event_type").orderBy("value")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val part = Window.partitionBy("event_type")
    val pct = base.groupBy("event_type", "value")
      .agg(count(lit(1)).as("c"))
      .withColumn("cum", sum("c").over(byVal))
      .withColumn("cnt", sum("c").over(part))
      .groupBy("event_type")
      .agg(
        min(when(col("cum") >= expr("(cnt + 1) div 2"), col("value")))
          .as("p50"),
        min(when(col("cum") >= expr("(cnt * 95 + 99) div 100"),
          col("value"))).as("p95"))
    moments.join(pct, "event_type")
      .select(col("event_type"), col("n"), col("min_v"), col("max_v"),
        (col("sum_v") / col("n").cast("double")).as("avg_v"),
        sqrt((col("sumsq_v") - col("sum_v") * col("sum_v") /
          col("n").cast("double")) / (col("n").cast("double") - lit(1.0)))
          .as("stddev_v"),
        col("p50"), col("p95"))
  }

  /** A5b: sketch-based percentile stats. [[valueStats]] computes exact
    * order statistics (a per-type sort); this variant uses the
    * approx_percentile sketch — constant memory per group and one pass,
    * the right trade at 100 TB when a bounded rank error is acceptable.
    * Error vs exact is spec-bounded (no SQL oracle: sketch internals are
    * engine-specific). */
  def approxValueStats(events: DataFrame, accuracy: Int = 10000): DataFrame =
    events.groupBy("event_type").agg(
      count(lit(1)).as("n"),
      expr(s"approx_percentile(value, 0.5, $accuracy)").as("p50_approx"),
      expr(s"approx_percentile(value, 0.95, $accuracy)").as("p95_approx"))

  /** A6: dedup (signature-dedup analog): collapse to the first event per
    * (user, type, minute) and count suppressed duplicates. Deterministic
    * keep rule: min event_id.
    */
  def dedupExact(events: DataFrame): DataFrame =
    events
      .groupBy(col("user_id"), col("event_type"),
        expr("unix_micros(ts) div 60000000").as("minute_bucket"))
      .agg(min("event_id").as("keep_id"), count(lit(1)).as("n_dups"))

  /** A7: payload JSON field extraction (event payload access analog). */
  def jsonProps(events: DataFrame): DataFrame =
    events
      .select(expr("cast(get_json_object(props, '$.k') as int)").as("k"),
        valDec.as("v"))
      .groupBy(expr("k % 10").as("k_mod"))
      .agg(count(lit(1)).as("n"), sum("v").cast("double").as("total_value"))

  /** A8: gap-based sessionization per wallet (30 min inactivity gap). */
  def sessionize(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val gapUs = gapMinutes * 60L * 1000000L
    events
      .select(col("user_id"), tsUs.as("ts_us"), col("event_id"), valDec.as("v"))
      .withColumn("new_session",
        when(col("ts_us") - lag("ts_us", 1).over(byUser) > gapUs, 1)
          .otherwise(when(lag("ts_us", 1).over(byUser).isNull, 1).otherwise(0)))
      .withColumn("session_id", sum("new_session")
        .over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"),
        min("ts_us").as("start_us"), max("ts_us").as("end_us"),
        sum("v").cast("double").as("total_value"))
  }

  /** A38b: within-session conversion — the ordered funnel (A38) scoped to
    * sessions: of all gap-defined sessions, how many saw a view, a
    * purchase, and a view-then-purchase. Reuses the A8 islands shape,
    * then reduces per session and once globally — shuffle count unchanged
    * from plain sessionization.
    */
  def sessionFunnel(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val gapUs = gapMinutes * 60L * 1000000L
    events
      .select(col("user_id"), tsUs.as("ts_us"), col("event_id"),
        col("event_type"))
      .withColumn("ns",
        when(col("ts_us") - lag("ts_us", 1).over(byUser) > gapUs, 1)
          .otherwise(when(lag("ts_us", 1).over(byUser).isNull, 1)
            .otherwise(0)))
      .withColumn("session_id", sum("ns")
        .over(byUser.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)))
      .groupBy("user_id", "session_id")
      .agg(
        min(when(col("event_type") === "view", col("ts_us")))
          .as("first_view"),
        min(when(col("event_type") === "purchase", col("ts_us")))
          .as("first_purchase"))
      .agg(count(lit(1)).as("n_sessions"),
        count(col("first_view")).as("n_with_view"),
        count(col("first_purchase")).as("n_with_purchase"),
        count(when(col("first_view") < col("first_purchase"), 1))
          .as("n_converted"))
  }

  /** A39b: equi-depth histogram — per type, `buckets` bins holding equal
    * ROW counts (value boundaries fall where the data is dense, unlike
    * A39's fixed-width bins). Rank-based bucketing over the total
    * (value, event_id) order: one shuffle on event_type, partition-local
    * sort, exact and deterministic — no quantile interpolation.
    */
  def equiDepthHistogram(events: DataFrame, buckets: Int = 4): DataFrame = {
    // Bucket boundaries are pure rank arithmetic (bucket k spans ranks
    // (k·n/B, (k+1)·n/B]), and a rank's value is the smallest distinct
    // value whose cumulative count reaches it — so the whole histogram
    // derives from the DISTINCT-value cumulative table (same technique
    // as A5/A51): no row_number over raw rows, no one-task-per-type sort.
    val byVal = Window.partitionBy("event_type").orderBy("value")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val part = Window.partitionBy("event_type")
    val counts = events
      .select(col("event_type"), col("value"))
      .groupBy("event_type", "value").agg(count(lit(1)).as("c"))
      .withColumn("cum", sum("c").over(byVal))
      .withColumn("n", sum("c").over(part))
    counts
      .withColumn("bucket",
        explode(expr(s"sequence(0L, ${buckets - 1}L)")))
      // rank span of bucket k under `((r-1)·B) div n = k`: r-1 lives in
      // [ceil(k·n/B), ceil((k+1)·n/B) - 1] — CEILING boundaries
      .withColumn("lo_rank",
        expr(s"(bucket * n + ${buckets - 1}) div $buckets + 1"))
      .withColumn("hi_rank",
        expr(s"((bucket + 1) * n + ${buckets - 1}) div $buckets"))
      .filter(col("hi_rank") >= col("lo_rank"))
      .groupBy("event_type", "bucket")
      .agg(
        max(col("hi_rank") - col("lo_rank") + 1).as("n_rows"),
        min(when(col("cum") >= col("lo_rank"), col("value"))).as("lo"),
        min(when(col("cum") >= col("hi_rank"), col("value"))).as("hi"))
  }

  /** A51: inter-event gap distribution — per event type, the distribution
    * of the time between a wallet's consecutive events of that type. The
    * reference's bot heuristic keys on exactly this signal (machine-paced
    * wallets have implausibly small, regular gaps). Gaps come from one
    * per-(wallet, type) lag window; percentiles are exact integer-rank
    * picks over a per-type total order (same convention as A41), so the
    * result is engine-reproducible with no interpolation.
    */
  def interEventGaps(events: DataFrame): DataFrame = {
    val byKey = Window.partitionBy("user_id", "event_type")
      .orderBy("ts_us", "event_id")
    val gaps = events
      .select(col("user_id"), col("event_type"), tsUs.as("ts_us"),
        col("event_id"))
      .withColumn("gap_us", col("ts_us") - lag("ts_us", 1).over(byKey))
      .filter(col("gap_us").isNotNull)
    // Rank value k equals the smallest value whose cumulative count
    // reaches k, so the per-type ordering only has to walk DISTINCT gap
    // values with counts (map-side reduced), never the raw gap rows — a
    // per-type row_number over all gaps would funnel every event through
    // one sort task at 100 TB.
    val byVal = Window.partitionBy("event_type").orderBy("gap_us")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val part = Window.partitionBy("event_type")
    gaps
      .groupBy("event_type", "gap_us").agg(count(lit(1)).as("c"))
      .withColumn("cum", sum("c").over(byVal))
      .withColumn("cnt", sum("c").over(part))
      .groupBy("event_type")
      .agg(
        sum("c").as("n_gaps"),
        min("gap_us").as("min_gap_us"),
        max("gap_us").as("max_gap_us"),
        min(when(col("cum") >= expr("(cnt + 1) div 2"), col("gap_us")))
          .as("p50_gap_us"),
        min(when(col("cum") >= expr("(cnt * 90 + 99) div 100"),
          col("gap_us"))).as("p90_gap_us"))
  }

  /** A50: cohort retention matrix — wallets grouped by first-seen day,
    * activity counted per (cohort, day-offset): the full curve A36's
    * single day-over-day number is one diagonal of. Two shuffles (per-day
    * distinct + the cohort join on user_id) regardless of matrix size;
    * the output is |days|² small.
    */
  def cohortRetention(events: DataFrame): DataFrame = {
    val days = events.select(col("user_id"),
      expr("unix_micros(ts) div 86400000000").as("day")).distinct()
    val firstDay = days.groupBy("user_id").agg(min("day").as("cohort_day"))
    days.join(firstDay, "user_id")
      .groupBy(col("cohort_day"),
        (col("day") - col("cohort_day")).as("day_offset"))
      .agg(countDistinct(col("user_id")).as("n_active"))
  }

  /** A50b: cohort LTV triangle — cumulative value per cohort-week and
    * account age (the lifetime-value companion of A50's retention
    * counts): wallets are grouped by first-activity week, weekly volume
    * lands on the (cohort, age) cell, and the running LTV accumulates
    * along each cohort's age axis. All integer cents; the cumulative
    * window is partitioned by cohort over the triangle table (one row
    * per cohort×age — metadata-sized relative to events). */
  def cohortLtv(events: DataFrame): DataFrame = {
    val weekly = events.select(col("user_id"),
        expr("unix_micros(ts) div 604800000000").as("week"),
        expr("cast(round(value * 100, 0) as bigint)").as("cents"))
    val firstWeek = weekly.groupBy("user_id")
      .agg(min("week").as("cohort_week"))
    val cells = weekly.join(firstWeek, "user_id")
      .groupBy(col("cohort_week"),
        (col("week") - col("cohort_week")).as("age_weeks"))
      .agg(sum(col("cents")).as("cents"),
        countDistinct(col("user_id")).as("n_active"))
    val w = Window.partitionBy("cohort_week").orderBy("age_weeks")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cells.withColumn("cum_cents", sum("cents").over(w))
  }

  /** A49: EWMA-smoothed per-minute rate — the reference's throughput
    * smoothing (metrics EWMA) with a bounded 10-minute memory. Weights
    * are exact rationals on a common 10^9 denominator (0.8^d =
    * 8^d·10^(9−d)/10^9), so the weighted sums are integer arithmetic —
    * order-independent and engine-reproducible — and the only float op
    * is the final division. The trailing-window pairing is a small
    * self-join on the (type, minute) rate table, not on raw events.
    */
  def ewmaRatePerMinute(events: DataFrame): DataFrame = {
    val rates = events
      .groupBy(col("event_type"),
        expr("unix_micros(ts) div 60000000").as("minute"))
      .agg(count(lit(1)).as("n"))
    val a = rates.select(col("event_type"), col("minute"))
    val b = rates.select(col("event_type").as("b_type"),
      col("minute").as("b_minute"), col("n").as("b_n"))
    a.join(b, col("event_type") === col("b_type") &&
        col("b_minute") >= col("minute") - 9 &&
        col("b_minute") <= col("minute"))
      .withColumn("d", col("minute") - col("b_minute"))
      .withColumn("w",
        expr("cast(power(8, d) as bigint) * cast(power(10, 9 - d) as bigint)"))
      .groupBy("event_type", "minute")
      .agg(sum(col("b_n") * col("w")).as("num"), sum(col("w")).as("den"))
      .select(col("event_type"), col("minute"),
        (col("num").cast("double") / col("den").cast("double"))
          .as("ewma_rate"))
  }

  /** A48: sequence-gap audit — holes in a monotonically-assigned id/slot
    * range (the reference's shred-stream concern: missed slots between
    * received ones). Distributed without a global sort: ids bucket by
    * range, each bucket reports (min, max, count, missing) from one
    * map-side-partial aggregation; a bucket's `missing` is exact within
    * its range, and bucket boundaries are gap-free by construction
    * (buckets partition the id space).
    */
  def sequenceGaps(events: DataFrame, bucketSize: Int = 256): DataFrame =
    events
      .select(col("event_id"),
        expr(s"event_id div $bucketSize").as("bucket"))
      .groupBy("bucket")
      .agg(min("event_id").as("lo"), max("event_id").as("hi"),
        count(lit(1)).as("n_present"))
      .withColumn("missing", col("hi") - col("lo") + 1 - col("n_present"))

  /** A47: event-type transition matrix — per-wallet consecutive
    * (type → next type) counts, the behavior-flow view of the stream
    * (which actions follow which). One shuffle on `user_id` for the lead
    * window; the pair aggregation is map-side partial over a tiny key
    * space (|types|²).
    */
  def typeTransitions(events: DataFrame): DataFrame =
    typeSteps(events)
      .filter(col("next_type").isNotNull)
      .groupBy("event_type", "next_type")
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"))

  /** Each event with the type of its user's next event (`next_type`,
    * null on the user's last event): the steps of the type chain. */
  private def typeSteps(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    events
      .select(col("user_id"), tsUs.as("ts_us"), col("event_id"),
        col("event_type"))
      .withColumn("next_type", lead("event_type", 1).over(byUser))
  }

  /** Largest event-type taxonomy the type-chain operators take: their
    * transition matrix (types² rows) is collected to the driver. */
  private[graft] val MaxChainTypes = 1000

  /** The [[typeTransitions]] chain, collected once: `types` is every
    * event type, `sources` the types with an outgoing transition, and
    * `p6` the transition matrix on the 1e-6 grid as (a, b, p₆) rows,
    * p₆ = (c·10⁶) div (a's row total). */
  private final case class TypeChain(types: Seq[String],
      sources: Seq[String], p6: Seq[(String, String, Long)])

  private def typeChain(events: DataFrame): TypeChain = {
    // k types give at most k·(k + 1) (type, next type or null) rows
    val cap = MaxChainTypes * (MaxChainTypes + 1)
    val rows = typeSteps(events)
      .groupBy(col("event_type").as("a"), col("next_type").as("b"))
      .agg(count(lit(1)).as("c"))
      .limit(cap + 1).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    val types = rows.map(_._1).distinct
    require(rows.length <= cap && types.length <= MaxChainTypes,
      s"type chain: more than $MaxChainTypes distinct event types; its " +
      "transition matrix is collected to the driver")
    val steps = rows.filter(_._2 != null)
    val tot = steps.groupMapReduce(_._1)(_._3)(_ + _)
    TypeChain(types, tot.keys.toSeq, steps.collect {
      case (a, b, c) if a != null =>
        (a, b, Math.multiplyExact(c, 1000000L) / tot(a))
    })
  }

  /** A46: latest-state-per-key materialization — the batch equivalent of
    * the reference's dashmap account cache (every key holds only its most
    * recent update; `account_event_parser` overwrites on arrival). One
    * hash aggregation with `max_by` on a totally-ordered (ts, id) struct:
    * a single shuffle on the key, map-side partials keep only one row per
    * key per partition, so the shuffle volume is bounded by distinct keys
    * — the merge-on-read compaction pattern at 100 TB.
    */
  def latestState(events: DataFrame): DataFrame =
    events
      .select(col("user_id"), tsUs.as("ts_us"), col("event_id"),
        col("event_type"), col("value"))
      .groupBy("user_id")
      .agg(
        max(struct(col("ts_us"), col("event_id"), col("event_type"),
          col("value"))).as("latest"),
        count(lit(1)).as("n_updates"))
      .select(col("user_id"), col("latest.ts_us").as("ts_us"),
        col("latest.event_id").as("event_id"),
        col("latest.event_type").as("event_type"),
        col("latest.value").as("value"), col("n_updates"))

  /** A8b: sessionization via Spark's native `session_window` — the same
    * gap semantics as [[sessionize]] expressed as a session-window
    * aggregate (Spark merges windows server-side; a gap exactly equal to
    * `gapMinutes` starts a new session, `end = last event + gap`). The
    * oracle cross-checks the native operator against plain SQL islands
    * logic, proving the two formulations agree.
    */
  def sessionizeNative(events: DataFrame, gapMinutes: Int = 30): DataFrame =
    events
      .select(col("user_id"), col("ts"), valDec.as("v"))
      .groupBy(col("user_id"),
        session_window(col("ts"), s"$gapMinutes minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"),
        sum("v").cast("double").as("total_value"))
      .select(col("user_id"), expr("unix_micros(sw.start)").as("start_us"),
        expr("unix_micros(sw.end)").as("end_us"), col("n_events"),
        col("total_value"))

  /** A9: top-K wallets by purchase volume, deterministic tiebreak.
    * The global sort+limit compiles to TakeOrderedAndProject (per-partition
    * top-K merged on the driver) — a billion per-wallet totals never pass
    * through one partition, unlike a rank-the-world global window. Only
    * the k survivors get a window rank (k rows; cost is nil).
    */
  def topKUsers(events: DataFrame, k: Int = 10): DataFrame = {
    val totals = events
      .filter(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(sum(valDec).as("total_dec"), count(lit(1)).as("n_purchases"))
    val top = totals
      .orderBy(col("total_dec").desc, col("user_id"))
      .limit(k)
    // rank the k survivors by counting strict predecessors (triangular
    // self-join over k rows) — same order as a row_number window without
    // the unpartitioned WindowExec
    top.as("a")
      .join(top.as("b"),
        col("b.total_dec") > col("a.total_dec") ||
          (col("b.total_dec") === col("a.total_dec") &&
            col("b.user_id") < col("a.user_id")), "left")
      .groupBy(col("a.user_id").as("user_id"),
        col("a.total_dec").as("total_dec"),
        col("a.n_purchases").as("n_purchases"))
      .agg((count(col("b.user_id")) + 1).as("rk"))
      .select(col("rk"), col("user_id"),
        col("total_dec").cast("double").as("total_value"), col("n_purchases"))
  }

  /** A11: cumulative per-wallet volume (`current_sol_volume` analog). */
  def cumulativeByUser(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .select(col("event_id"), col("user_id"), tsUs.as("ts_us"), valDec.as("v"))
      .withColumn("cum_value", sum("v").over(w).cast("double"))
      .drop("v")
  }

  /** Latency calibration (reference `metrics.rs`
    * `check_and_warn_high_latency`: adjusted = recv - (block_time +
    * 500ms), warn above a threshold). The test table has no ingest
    * timestamp, so receive time is synthesized deterministically as
    * event-time plus an id-derived jitter; production feeds supply a real
    * recv_ms column.
    */
  def latencyCalibration(
      events: DataFrame,
      adjustmentMs: Long = 500, thresholdMs: Long = 400): DataFrame =
    events
      .select(col("event_type"),
        expr("unix_micros(ts) div 1000").as("block_time_ms"),
        expr("unix_micros(ts) div 1000 + (event_id % 2000)").as("recv_ms"))
      .withColumn("adjusted_ms",
        col("recv_ms") - (col("block_time_ms") + lit(adjustmentMs)))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(when(col("adjusted_ms") > thresholdMs, 1L).otherwise(0L))
          .as("n_high_latency"),
        max("adjusted_ms").as("max_adjusted_ms"),
        sum("adjusted_ms").as("sum_adjusted_ms"))
      .withColumn("avg_adjusted_ms",
        col("sum_adjusted_ms").cast("double") / col("n").cast("double"))

  /** Bot-wallet detection (reference tags a `bot_wallet` on trades,
    * `event_processor.rs` / `is_bot`): wallets firing >= `minBurst`
    * events inside one tumbling minute. Single shuffle on
    * (user, minute) with partial counts, then a per-user rollup.
    */
  def burstWallets(events: DataFrame, minBurst: Int = 2): DataFrame =
    events
      .groupBy(col("user_id"),
        expr("unix_micros(ts) div 60000000").as("minute_bucket"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= minBurst)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_bursts"), max("n").as("max_burst"))

  /** A60: wallet lifecycle table — per wallet: first/last activity,
    * active-day count, events, and value volume (the per-account summary
    * the reference's volume tracker accumulates, materialized for the
    * whole population). One keyed aggregation; distinct days via an
    * exact count over day buckets inside the same shuffle.
    */
  def walletLifetimes(events: DataFrame): DataFrame =
    events
      .select(col("user_id"), tsUs.as("ts_us"), valDec.as("v"),
        expr("unix_micros(ts) div 86400000000").as("day"))
      .groupBy("user_id")
      .agg(
        min("ts_us").as("first_us"),
        max("ts_us").as("last_us"),
        countDistinct("day").as("n_active_days"),
        count(lit(1)).as("n_events"),
        sum("v").cast("double").as("total_value"))
      .withColumn("lifetime_days",
        expr("(last_us - first_us) div 86400000000"))

  /** A59: trending actors — the top-k most active wallets per hour (the
    * "trending mints/wallets" board every DEX dashboard ships). Counts
    * reduce with map-side partials; the per-window rank runs under
    * WindowGroupLimit, so only k rows per window survive the map side of
    * the rank shuffle — never a full per-window sort at 100 TB.
    */
  def trendingUsers(events: DataFrame, k: Int = 3): DataFrame = {
    val w = Window
      .partitionBy("hb")
      .orderBy(col("n").desc, col("user_id"))
    events
      .groupBy(expr("(unix_micros(ts) div 3600000000) * 3600").as("hb"),
        col("user_id"))
      .agg(count(lit(1)).as("n"))
      .withColumn("rk", row_number().over(w).cast("bigint"))
      .filter(col("rk") <= k)
  }

  /** A58: state history (SCD2) — the account-state cache materialized as
    * a temporal table: every event opens a state version for its wallet,
    * closed by the next event ([valid_from, valid_to) intervals,
    * open-ended NULL for the current version). The dashmap cache holds
    * only the LAST row of this table ([[latestState]]); keeping the full
    * history makes any past state queryable. One window pass per key —
    * the same single shuffle as sessionization.
    */
  def stateHistory(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    events
      .select(col("user_id"), tsUs.as("ts_us"), col("event_id"),
        col("event_type"), valDec.as("v"))
      .withColumn("valid_to_us", lead("ts_us", 1).over(w))
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("v").cast("double").as("state_value"),
        col("ts_us").as("valid_from_us"), col("valid_to_us"))
  }

  /** A58b: point-in-time snapshot — the state of every wallet AT `tUs`,
    * answered from the temporal table semantics without materializing it:
    * latest event at-or-before the instant, one partial-agg shuffle
    * (max_by), no window. This is "rewind the account cache to T".
    */
  def stateAt(events: DataFrame, tUs: Long): DataFrame =
    events
      .select(col("user_id"), tsUs.as("ts_us"), col("event_id"),
        valDec.as("v"))
      .filter(col("ts_us") <= tUs)
      .groupBy("user_id")
      .agg(
        max_by(struct(col("v"), col("event_id")),
          struct(col("ts_us"), col("event_id"))).as("last"))
      .select(col("user_id"), col("last.event_id").as("event_id"),
        col("last.v").cast("double").as("state_value"))

  /** A57: metrics snapshot composite — the one-scan analog of the
    * reference's `print_metrics()` (`metrics.rs:412`): per event type,
    * counts, distinct wallets, observed span, throughput, and value
    * totals in a single aggregation pass. Rates are integer/(integer
    * span) single divisions; the span derives from min/max event time so
    * re-running over history reproduces the live counters exactly.
    */
  def metricsSnapshot(events: DataFrame): DataFrame =
    events.groupBy("event_type")
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct("user_id").as("n_wallets"),
        min(tsUs).as("first_us"),
        max(tsUs).as("last_us"),
        sum(valDec).cast("double").as("total_value"))
      .withColumn("span_seconds",
        expr("(last_us - first_us) div 1000000"))
      .withColumn("events_per_sec",
        col("n_events").cast("double") /
          greatest(col("span_seconds"), lit(1L)).cast("double"))

  /** A56: adaptive rate-spike detection — minutes whose event count sits
    * more than 3σ above the type's per-minute mean ([[burstWallets]]'s
    * fixed threshold, made self-calibrating). The z-score compare is kept
    * fully rational: with per-minute counts c over m minutes, total T and
    * Σc² = S, `c > mean + 3σ` ⟺ `c·m > T ∧ (c·m − T)² > 9·(S·m − T²)` —
    * pure integer arithmetic accumulated in Decimal(38,0) (dev² and S·m
    * wrap a 64-bit long once per-type volume passes ~10⁹ events), so
    * results are bit-identical on any engine or layout (no float
    * mean/variance accumulation order to disagree on). Two keyed
    * aggregations with map-side partials; the per-type stats row set is
    * tiny and broadcasts back.
    */
  def rateSpikes(events: DataFrame): DataFrame = {
    val perMin = events.groupBy(col("event_type"),
        expr("unix_micros(ts) div 60000000").as("minute"))
      .agg(count(lit(1)).as("c"))
    val stats = perMin.groupBy("event_type")
      .agg(count(lit(1)).cast("decimal(38,0)").as("m"),
        sum("c").cast("decimal(38,0)").as("t"),
        sum(col("c").cast("decimal(38,0)") *
          col("c").cast("decimal(38,0)")).as("s"))
    val dev = col("c").cast("decimal(38,0)") * col("m") - col("t")
    perMin.join(broadcast(stats), "event_type")
      .filter(dev > 0 && dev * dev >
        (col("s") * col("m") - col("t") * col("t")) * 9)
      .select(col("event_type"), col("minute"), col("c").as("n"))
  }

  /** Skew-hardened variant of [[countsByType]]: two-stage aggregation
    * over a salted key so one hot event type cannot bottleneck a single
    * reducer at 100 TB. Semantics identical to countsByType (the oracle
    * checks that); distinct users route through a (type,user) distinct
    * which already shuffles on the composite key.
    */
  def countsByTypeSalted(events: DataFrame, saltBuckets: Int = 16): DataFrame = {
    val partial = events
      .groupBy(col("event_type"),
        (col("event_id") % saltBuckets).as("salt"))
      .agg(count(lit(1)).as("pn"), sum(valDec).as("pv"))
      .groupBy("event_type")
      .agg(sum("pn").as("n_events"), sum("pv").cast("double").as("total_value"))
    val users = events.select("event_type", "user_id").distinct()
      .groupBy("event_type").agg(count(lit(1)).as("n_users"))
    partial.join(users, "event_type")
      .select(col("event_type"), col("n_events"), col("n_users"),
        col("total_value"))
  }

  /** Per-minute event rate with a 5-minute trailing moving average
    * (reference metrics: events_in_window throughput with smoothing).
    * The unpartitioned window is deliberate and safe: it runs over the
    * per-minute aggregate, whose cardinality is bounded by elapsed time
    * (~0.5M rows/year) regardless of input volume — the 100 TB shuffle
    * happened in the groupBy above it.
    */
  /** A44: hourly TWAP (time-weighted average price) per event type — the
    * DEX price metric OHLC can't give you: each observation is weighted by
    * how long it stood as the latest price within the hour (the last one
    * runs to the hour boundary). All weighting is exact integer arithmetic
    * — price in floored cents, holding time in integer milliseconds — so
    * the per-group sums are order-independent and reproducible on any
    * engine; the only float op is the final single division. One window +
    * one aggregation, both keyed on (event_type, hour): a single shuffle,
    * partition-local sort bounded by events-per-type-per-hour.
    */
  def twap1h(events: DataFrame): DataFrame = {
    val hourUs = 3600000000L
    events
      .select(col("event_type"), tsUs.as("ts_us"), col("event_id"),
        floor(col("value") * 100).cast("bigint").as("price_cents"))
      .withColumn("hs_us", expr(s"(ts_us div $hourUs) * $hourUs"))
      .withColumn("dt_ms",
        expr(s"(coalesce(lead(ts_us) over (partition by event_type, hs_us " +
          s"order by ts_us, event_id), hs_us + $hourUs) - ts_us) div 1000"))
      .groupBy("event_type", "hs_us")
      .agg(count(lit(1)).as("n"),
        sum(col("price_cents") * col("dt_ms")).as("wp_ms"),
        sum(col("dt_ms")).as("held_ms"))
      .select(col("event_type"), expr("hs_us div 1000000").as("ws"),
        col("n"), col("wp_ms"), col("held_ms"),
        (col("wp_ms").cast("double") / col("held_ms").cast("double") / 100.0)
          .as("twap"))
  }

  /** A45: per-pool liquidity depth from decoded deposit/withdraw flows
    * (the LP-side state the reference's AMM account cache tracks):
    * signed running balance per pool plus its peak/trough. Input is the
    * registry-decoded flow table (`event_kind`, `pool`, `lp_amount`,
    * `ts_us`, `event_id`) — wire bytes in, depth analytics out, one plan.
    * One shuffle on `pool`; the running sum is a partition-local sort, and
    * the per-pool aggregate reuses the same partitioning.
    */
  def liquidityDepth(flows: DataFrame): DataFrame = {
    val run = Window.partitionBy("pool").orderBy("ts_us", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    flows
      .withColumn("delta",
        when(col("event_kind") === "deposit", col("lp_amount"))
          .otherwise(-col("lp_amount")))
      .withColumn("running_lp", sum("delta").over(run))
      .groupBy("pool")
      .agg(
        count(when(col("event_kind") === "deposit", 1)).as("n_deposits"),
        count(when(col("event_kind") === "withdraw", 1)).as("n_withdrawals"),
        sum("delta").as("net_lp"),
        max("running_lp").as("peak_lp"),
        min("running_lp").as("trough_lp"))
  }

  /** A27: per-minute event rate with a 5-row moving average. No global
    * window: an unpartitioned `Window.orderBy` funnels every row through
    * one task. Instead (terasort shape) the global row ordinal comes from
    * a day-bucketed local row_number plus an exclusive prefix of bucket
    * counts (a #days-sized self-join, no window), and the row-based
    * MA(-4..0) is a contribution fan-out: each row feeds ordinals
    * rn..rn+4, one tiny-key aggregation. Identical semantics to
    * `rowsBetween(-4, 0)` — leading rows average over however many
    * predecessors exist — and every stage is partitioned.
    */
  def ratePerMinute(events: DataFrame): DataFrame = {
    // minutes-sized; materialized because the ordinal/offset/MA stages
    // below consume it through multiple branches
    val perMin = events
      .groupBy(expr("unix_micros(ts) div 60000000").as("mb"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint()
    // global ordinal: partition-local rank + exclusive bucket prefix
    val bucketed = perMin.withColumn("bk", expr("mb div 1440"))
    val wb = Window.partitionBy("bk").orderBy("mb")
    val counts = bucketed.groupBy("bk").agg(count(lit(1)).as("bn"))
    val offsets = counts.as("a")
      .join(counts.as("b"), col("b.bk") < col("a.bk"), "left")
      .groupBy(col("a.bk").as("bk"))
      .agg(coalesce(sum(col("b.bn")), lit(0L)).as("boff"))
    val ranked = bucketed
      .withColumn("lrn", row_number().over(wb).cast("bigint"))
      .join(broadcast(offsets), "bk")
      .select(col("mb"), col("n"), (col("lrn") + col("boff")).as("rn"))
    // each row contributes to the MA of ordinals rn..rn+4; targets past
    // the last row drop out in the join, leading targets see only the
    // rows that exist — exactly the rowsBetween(-4, 0) frame
    val ma = ranked
      .select(col("n"), explode(expr("sequence(rn, rn + 4)")).as("tgt"))
      .groupBy("tgt")
      .agg(sum("n").as("sn"), count(lit(1)).as("cnt"))
    ranked.join(ma, ranked("rn") === ma("tgt"))
      .select(col("mb"), col("n"),
        (col("sn").cast("double") / col("cnt").cast("double")).as("ma5"))
  }

  /** Pivot: per-wallet event-type count matrix (fixed column set so the
    * schema is static and the plan stays a single shuffle). */
  def userTypePivot(events: DataFrame): DataFrame =
    events
      .groupBy("user_id")
      .pivot("event_type", Seq("click", "purchase", "signup", "view", "error"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .select(col("user_id"), col("click").as("n_click"),
        col("purchase").as("n_purchase"), col("signup").as("n_signup"),
        col("view").as("n_view"), col("error").as("n_error"))

  /** Block-meta join analog (reference `protocols/block/block_meta_event
    * .rs` + metadata attach): derive per-minute "block" metadata (first
    * event time = block start), broadcast-join events to their block, and
    * report intra-block latency stats. */
  def blockMetaJoin(events: DataFrame): DataFrame = {
    val withSlot = events.select(col("event_id"), col("user_id"),
      tsUs.as("ts_us"), expr("unix_micros(ts) div 60000000").as("slot"))
    val blocks = withSlot.groupBy("slot")
      .agg(min("ts_us").as("block_start_us"), count(lit(1)).as("block_n"))
    withSlot.join(broadcast(blocks), "slot")
      .withColumn("offset_us", col("ts_us") - col("block_start_us"))
      .groupBy("slot")
      .agg(max("block_n").as("n_in_block"),
        max("offset_us").as("max_offset_us"),
        sum("offset_us").as("sum_offset_us"))
  }

  /** Approximate distinct wallets per type (HLL sketch — the constant-
    * memory cardinality path at 100 TB; sketch values are engine-specific
    * so this is spec/rows checked, with exact counts alongside). */
  def approxUsers(events: DataFrame, rsd: Double = 0.05): DataFrame =
    events.groupBy("event_type")
      .agg(approx_count_distinct(col("user_id"), rsd).as("approx_users"),
        countDistinct(col("user_id")).as("exact_users"))

  /** A26c: mergeable per-day HLL sketch store — the 100 TB pattern for
    * distinct counts over arbitrary ranges: sketch each day ONCE at
    * ingest (datasketches HLL, a few KB per row), then answer any
    * [from, to] range by unioning the stored sketches — no raw-event
    * re-scan, ever. Sketch algebra is associative/commutative, so the
    * union of daily sketches is byte-equivalent to sketching the range
    * directly (pinned in OperatorsSpec), and the estimate is
    * deterministic — unlike a sampled recount. */
  def dailyUserSketches(events: DataFrame, lgK: Int = 12): DataFrame =
    events
      .groupBy(expr("unix_micros(ts) div 86400000000").as("db"))
      .agg(hll_sketch_agg(col("user_id"), lit(lgK)).as("sketch"),
        count(lit(1)).as("n_events"))

  /** Distinct-user estimate for a day range, answered purely from the
    * stored daily sketches. */
  def usersFromSketches(
      sketches: DataFrame, fromDb: Long, toDb: Long): DataFrame =
    sketches
      .filter(col("db").between(fromDb, toDb))
      .agg(count(lit(1)).as("n_days"),
        sum("n_events").as("n_events"),
        hll_sketch_estimate(hll_union_agg(col("sketch"), lit(true)))
          .as("approx_users"))

  /** A31: partial-event merge (reference `core/merger_event.rs`): an
    * instruction decode and its inner-CPI decode carry complementary
    * fields of the same logical event; the reference mutates one struct
    * in place, here merging is per-key max-ignore-nulls — associative and
    * commutative, so it runs as map-side partial aggregation with one
    * shuffle on the key, and is deterministic regardless of which partial
    * arrives first. `n_parts` keeps the audit trail (reference counts
    * merged events for its metrics).
    */
  def mergePartials(partials: DataFrame, key: String,
      fields: Seq[String]): DataFrame =
    partials.groupBy(col(key))
      .agg(count(lit(1)).as("n_parts"),
        fields.map(f => max(col(f)).as(f)): _*)

  /** A36: day-over-day wallet retention — of the wallets active on day d,
    * how many return on d+1. Two shuffles total: one distinct on
    * (user, day), one self-join on user+day (both map-side combined);
    * the cohort sizes aggregate from the same distinct set.
    */
  def retention(events: DataFrame): DataFrame = {
    val days = events
      .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("day"))
      .distinct()
    val actives = days.groupBy("day")
      .agg(count(lit(1)).as("actives"))
    val retained = days.as("a")
      .join(days.as("b"),
        col("a.user_id") === col("b.user_id") &&
          col("b.day") === col("a.day") + 1)
      .groupBy(col("a.day").as("day"))
      .agg(count(lit(1)).as("retained"))
    actives.join(retained, Seq("day"), "left")
      .withColumn("retained", coalesce(col("retained"), lit(0L)))
      .withColumn("retention_rate",
        col("retained").cast("double") / col("actives").cast("double"))
  }

  /** A42: ingest-order audit — per wallet, how often the event-id order
    * disagrees with event-time order (the reference validates slot/
    * tx-index ordering on ingest; out-of-order deliveries feed its
    * dropped/reordered accounting). One window pass per wallet, then a
    * partial-agg rollup of inversion counts.
    */
  def orderingAudit(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("event_id")
    events
      .select(col("user_id"), col("event_id"), tsUs.as("ts_us"))
      .withColumn("prev_ts", lag("ts_us", 1).over(w))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        count(when(col("ts_us") < col("prev_ts"), 1)).as("n_inversions"))
      .filter(col("n_inversions") > 0)
  }

  /** A41: conversion-time distribution — first signup → first purchase
    * latency per wallet, summarized with exact integer-rank percentiles.
    * The rank is a [[GlobalOrder]] rank on the (delta, wallet) order —
    * with microsecond deltas the distinct-value trick doesn't reduce
    * anything — and the converted count reads its frozen checkpoint.
    */
  def conversionTime(events: DataFrame): DataFrame = {
    val firsts = events.groupBy("user_id").agg(
      min(when(col("event_type") === "signup", tsUs)).as("t_signup"),
      min(when(col("event_type") === "purchase", tsUs)).as("t_purchase"))
    val order = GlobalOrder(firsts
        .filter(col("t_signup").isNotNull &&
          col("t_purchase") >= col("t_signup"))
        .select(col("user_id"),
          (col("t_purchase") - col("t_signup")).as("delta_us")),
      Seq(col("delta_us"), col("user_id")))
    val tot = order.parted.agg(count(lit(1)).as("cnt"))
    order.withPosition("rn")
      .join(broadcast(tot))
      .agg(
        count(lit(1)).as("n_converted"),
        min("delta_us").as("min_us"),
        max("delta_us").as("max_us"),
        max(when(col("rn") === expr("(cnt + 1) div 2"), col("delta_us")))
          .as("p50_us"),
        max(when(col("rn") === expr("(cnt * 90 + 99) div 100"),
          col("delta_us"))).as("p90_us"))
  }

  /** A40: wash-trade heuristic — wallets appearing on both sides of the
    * market (buy ≙ purchase, sell ≙ view) inside the same minute; the
    * self-churn pattern the reference's bot-wallet tagging exists to
    * catch. One aggregation keyed on (wallet, minute) with two
    * conditional partial counts — no self-join.
    */
  def washTrades(events: DataFrame): DataFrame =
    events
      .filter(col("event_type").isin("purchase", "view"))
      .groupBy(col("user_id"),
        expr("unix_micros(ts) div 60000000").as("minute"))
      .agg(
        count(when(col("event_type") === "purchase", 1)).as("n_buys"),
        count(when(col("event_type") === "view", 1)).as("n_sells"))
      .filter(col("n_buys") >= 1 && col("n_sells") >= 1)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_wash_minutes"),
        sum(col("n_buys") + col("n_sells")).as("n_wash_events"))

  /** A38: ordered funnel — wallets progressing signup → view → purchase,
    * each stage timed by its FIRST occurrence and required to happen
    * at-or-after the previous stage's first occurrence. One groupBy
    * shuffle builds per-wallet stage times; the funnel counts reduce to a
    * single row with map-side partials.
    */
  def funnel(events: DataFrame): DataFrame = {
    val f = events.groupBy("user_id").agg(
      min(when(col("event_type") === "signup", tsUs)).as("t1"),
      min(when(col("event_type") === "view", tsUs)).as("t2"),
      min(when(col("event_type") === "purchase", tsUs)).as("t3"))
    f.agg(
      count(when(col("t1").isNotNull, 1)).as("n_stage1"),
      count(when(col("t1").isNotNull && col("t2") >= col("t1"), 1))
        .as("n_stage2"),
      count(when(col("t1").isNotNull && col("t2") >= col("t1") &&
        col("t3") >= col("t2"), 1)).as("n_stage3"))
  }

  /** A39: fixed-width value histogram per event type (clamped to
    * [0, nBins)): the constant-memory distribution summary the
    * reference's metrics layer prints as processing-time stats. */
  def valueHistogram(events: DataFrame, lo: Double = 0.0,
      width: Double = 10.0, nBins: Int = 10): DataFrame =
    events.groupBy(col("event_type"),
      least(greatest(floor((col("value") - lo) / width), lit(0.0)),
        lit((nBins - 1).toDouble)).cast("bigint").as("bin"))
      .agg(count(lit(1)).as("n"))

  /** A53: per-type wallet concentration — HHI and top-wallet share of
    * event count (whale/market-concentration signal; the flip side of the
    * reference's bot-wallet tagging: instead of flagging one configured
    * wallet, measure how dominated each event type is). Two keyed
    * aggregations, both with map-side partials; all sums are integer
    * (counts and squared counts), so cross-engine results are bit-exact
    * up to the single final double divisions: HHI = Σcnt² / total²,
    * top_share = max(cnt) / total.
    */
  def walletConcentration(events: DataFrame): DataFrame =
    events.groupBy("event_type", "user_id")
      .agg(count(lit(1)).as("cnt"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_wallets"),
        sum("cnt").as("n_events"),
        sum(col("cnt") * col("cnt")).as("sq"),
        max("cnt").as("max_cnt"))
      .select(col("event_type"), col("n_wallets"), col("n_events"),
        (col("sq").cast("double") /
          (col("n_events") * col("n_events")).cast("double")).as("hhi"),
        (col("max_cnt").cast("double") / col("n_events").cast("double"))
          .as("top_share"))

  /** A12: hourly OHLC candles per event type (DEX price analytics).
    * Open/close are `min_by`/`max_by` over the (ts, event_id) total
    * order — one hash aggregate with map-side partials, no per-candle
    * window sort (the same shape the streaming OHLC keeps one state row
    * per candle with; a hot hour costs O(1) aggregate state, not a
    * row_number over its rows). */
  def ohlc1h(events: DataFrame): DataFrame =
    events.select(
      expr("(unix_micros(ts) div 3600000000) * 3600").as("hb"),
      col("event_type"), valDec.as("v"), tsUs.as("tu"), col("event_id"))
      .groupBy("hb", "event_type")
      .agg(
        min_by(col("v"), struct(col("tu"), col("event_id")))
          .cast("double").as("open"),
        max_by(col("v"), struct(col("tu"), col("event_id")))
          .cast("double").as("close"),
        max("v").cast("double").as("high"),
        min("v").cast("double").as("low"),
        count(lit(1)).as("n"),
        sum("v").cast("double").as("volume"))

  /** A12c: gap-filled OHLC — the chart-ready series: every hour in each
    * type's [first, last] range gets a candle; hours with no trades
    * carry the last known close forward as a flat O=H=L=C candle with
    * zero volume (is_gap tags them). The hour spine is a per-type
    * `sequence()` explode (bounded by the time range, not the event
    * count) and the carry-forward is `last(ignoreNulls)` over the
    * type-partitioned hour order — candle-table sized, never raw
    * events. */
  def ohlcGapFill(events: DataFrame): DataFrame = {
    val candles = ohlc1h(events)
    val spine = candles.groupBy("event_type")
      .agg(min("hb").as("lo"), max("hb").as("hi"))
      .select(col("event_type"),
        explode(expr("sequence(lo, hi, 3600)")).as("hb"))
    val w = Window.partitionBy("event_type").orderBy("hb")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(candles, Seq("event_type", "hb"), "left")
      .withColumn("ffill_close", last("close", ignoreNulls = true).over(w))
      .select(col("event_type"), col("hb"),
        coalesce(col("open"), col("ffill_close")).as("open"),
        coalesce(col("high"), col("ffill_close")).as("high"),
        coalesce(col("low"), col("ffill_close")).as("low"),
        coalesce(col("close"), col("ffill_close")).as("close"),
        coalesce(col("n"), lit(0L)).as("n"),
        coalesce(col("volume"), lit(0.0)).as("volume"),
        col("n").isNull.as("is_gap"))
  }

  /** A12d: maximum drawdown per market — the risk metric over the
    * hourly close series: running peak close per type, per-hour
    * drawdown `close/peak − 1`, and the deepest (drawdown, hour) pair
    * via an order-independent struct-min (ties resolve to the earliest
    * hour). Runs entirely on the candle table; the only floats are the
    * per-row ratio and the final min — no float accumulation. */
  def maxDrawdown(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy("hb")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ohlc1h(events)
      .withColumn("peak", max("close").over(w))
      .withColumn("dd",
        col("close").cast("double") / col("peak").cast("double") - 1.0)
      .groupBy("event_type")
      .agg(min(struct(col("dd"), col("hb"))).as("worst"),
        count(lit(1)).as("n_hours"))
      .select(col("event_type"), col("worst.dd").as("max_drawdown"),
        col("worst.hb").as("at_hb"), col("n_hours"))
  }

  /** A66b: hourly-volume autocorrelation at a fixed lag — the
    * seasonality probe (lag 24 = daily cycle): the series self-joins on
    * `hb + lag·3600`, and the same five exact Decimal(38,0) moment sums
    * as [[seriesCorrelation]] produce a bit-reproducible Pearson per
    * type. Join fan-out is one row per (type, hour) pair — candle-table
    * sized. */
  def volumeAutocorrelation(events: DataFrame, lagHours: Int = 24)
      : DataFrame = {
    val hourly = events
      .groupBy(col("event_type"),
        expr("(unix_micros(ts) div 3600000000) * 3600").as("hb"))
      .agg(sum(expr("cast(round(value * 100, 0) as bigint)"))
        .cast("decimal(38,0)").as("x"))
    val lagged = hourly.select(col("event_type").as("lt"),
      (col("hb") + lagHours * 3600L).as("lhb"), col("x").as("y"))
    val p = hourly
      .join(lagged, col("event_type") === col("lt") &&
        col("hb") === col("lhb"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).cast("decimal(38,0)").as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
    // decimal→STRING→double, not decimal→double: the moment products
    // are ~10²¹ at sf10 (≫2^53), and DuckDB's int128→double conversion
    // double-rounds ((double)hi·2⁶⁴ + (double)lo) while Spark's
    // BigDecimal path rounds once — a witnessed 1-ulp autocorr split.
    // Both engines parse decimal strings with a single correct IEEE
    // rounding, so the round-trip pins the doubles bit-identical
    // (5 output rows — cost is nil).
    def d2d(c: org.apache.spark.sql.Column) =
      c.cast("string").cast("double")
    p.select(col("event_type"), col("n").cast("bigint").as("n_pairs"),
      (d2d(col("n") * col("sxy") - col("sx") * col("sy")) /
        (sqrt(d2d(col("n") * col("sxx") - col("sx") * col("sx"))) *
         sqrt(d2d(col("n") * col("syy") - col("sy") * col("sy")))))
        .as("autocorr"))
  }

  /** A67: realized PnL per wallet, average-cost basis — the position
    * tracker a DEX subscriber builds from decoded trades: every sell is
    * marked against the running average cost of all PRIOR buys in the
    * wallet's (event-time, event_id) total order. Cost and count
    * accumulate as exact integer cents in per-wallet windows (partitioned
    * — never a global window); the basis is the single double division
    * at the output boundary, so each sell row is bit-reproducible.
    * Sells before any buy have a null basis (no position), mirroring a
    * cold-start cache. Emits per-sell rows, not a float aggregate —
    * summing per-sell double PnL would be partition-order dependent;
    * downstream exact aggregation should sum the integer columns. */
  def realizedPnl(events: DataFrame,
      buyType: String = "purchase", sellType: String = "view"): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow - 1)
    val t = events
      .filter(col("event_type").isin(buyType, sellType))
      .select(col("event_id"), col("user_id"), tsUs.as("ts_us"),
        col("event_type"),
        expr("cast(round(value * 100, 0) as bigint)").as("cents"))
    t.withColumn("cum_buy_cents",
        sum(when(col("event_type") === buyType, col("cents"))
          .otherwise(lit(0L))).over(w))
      .withColumn("cum_buy_n",
        sum(when(col("event_type") === buyType, lit(1L))
          .otherwise(lit(0L))).over(w))
      .filter(col("event_type") === sellType)
      .select(col("user_id"), col("event_id"),
        col("cents").as("sell_cents"),
        coalesce(col("cum_buy_cents"), lit(0L)).as("cum_buy_cents"),
        coalesce(col("cum_buy_n"), lit(0L)).as("cum_buy_n"),
        when(coalesce(col("cum_buy_n"), lit(0L)) > 0,
          col("cents").cast("double") -
            col("cum_buy_cents").cast("double") /
            col("cum_buy_n").cast("double")).as("pnl_cents"))
  }

  /** A40b: round-number bias — the wash/bot fingerprint: organic trade
    * sizes spread across the cent grid, scripted flows cluster on whole
    * dollars and $10 multiples. Exact integer counts per type (whole
    * dollar, 10-dollar, first significant digit histogram is left to
    * the per-digit rows of the decile queries); ratios are one double
    * division each at the output boundary. */
  def roundNumberBias(events: DataFrame): DataFrame =
    events
      .select(col("event_type"),
        expr("cast(round(value * 100, 0) as bigint)").as("cents"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        count(when(expr("cents % 100 = 0"), 1)).as("n_whole_dollar"),
        count(when(expr("cents % 1000 = 0"), 1)).as("n_ten_dollar"))
      .withColumn("whole_dollar_rate",
        col("n_whole_dollar").cast("double") / col("n").cast("double"))
      .withColumn("ten_dollar_rate",
        col("n_ten_dollar").cast("double") / col("n").cast("double"))

  /** A51b: burstiness (Fano factor) of per-minute arrival counts — the
    * dispersion index var/mean per type, >1 means bursty (bot storms),
    * ≈1 Poisson-like. Variance forms from the exact integer moments
    * (N·Σn² − (Σn)²) over the minute-count table; the only float ops
    * are the two final divisions. Includes empty minutes in the span
    * (they shift the mean down and the variance up — dropping them
    * understates burstiness), via the span length rather than a spine
    * explode. */
  def burstiness(events: DataFrame): DataFrame = {
    val perMin = events
      .groupBy(col("event_type"),
        expr("unix_micros(ts) div 60000000").as("mb"))
      .agg(count(lit(1)).as("n"))
    perMin.groupBy("event_type")
      .agg(sum("n").as("total"),
        sum(col("n") * col("n")).as("sum_sq"),
        count(lit(1)).as("active_minutes"),
        (max("mb") - min("mb") + 1).as("span_minutes"))
      // moments over the FULL span: empty minutes contribute n=0, so
      // Σn and Σn² are unchanged and only the denominator widens
      .select(col("event_type"), col("total"), col("active_minutes"),
        col("span_minutes"),
        ((col("span_minutes") * col("sum_sq") -
          col("total") * col("total")).cast("double") /
          (col("span_minutes") * col("total")).cast("double"))
          .as("fano"))
  }

  /** A70: cross-market wallet overlap — Jaccard similarity of the
    * active-wallet sets for every type pair (which markets share their
    * crowd): distinct (type, wallet) pairs reduce first, the
    * intersection counts come from one self-join on the wallet key, and
    * set sizes broadcast back — all exact integers, one double division
    * per pair. */
  def walletOverlap(events: DataFrame): DataFrame = {
    val tw = events.select(col("event_type"), col("user_id")).distinct()
    val sizes = tw.groupBy(col("event_type").as("st"))
      .agg(count(lit(1)).as("sz"))
    val inter = tw.as("a")
      .join(tw.as("b"), col("a.user_id") === col("b.user_id") &&
        col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("type_a"),
        col("b.event_type").as("type_b"))
      .agg(count(lit(1)).as("n_common"))
    inter
      .join(broadcast(sizes), col("type_a") === col("st"))
      .withColumnRenamed("sz", "n_a").drop("st")
      .join(broadcast(sizes), col("type_b") === col("st"))
      .withColumnRenamed("sz", "n_b").drop("st")
      .select(col("type_a"), col("type_b"), col("n_common"),
        col("n_a"), col("n_b"),
        (col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common")).cast("double"))
          .as("jaccard"))
  }

  /** A53b: Gini coefficient of wallet volume per market — the
    * inequality companion of A53's HHI: wallets rank by (volume, id)
    * within their type (partitioned window over the wallet-level table,
    * events already reduced), and `G = (2·Σ i·xᵢ)/(n·Σx) − (n+1)/n`
    * forms from exact integer sums — the rank-weighted sum Σi·xᵢ and
    * the n·Σx denominator accumulate in Decimal(38,0) (i·x wraps a long
    * once rank × cent-volume passes 2⁶³, i.e. ~10⁶ wallets of ~10¹³
    * lamport-scale cents) — with double division only at the end. */
  def giniByType(events: DataFrame): DataFrame = {
    val vols = events
      .groupBy(col("event_type"), col("user_id"))
      .agg(sum(expr("cast(round(value * 100, 0) as bigint)")).as("v"))
    val w = Window.partitionBy("event_type").orderBy(col("v"), col("user_id"))
    vols.withColumn("i", row_number().over(w).cast("bigint"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_wallets"),
        sum("v").as("total_cents"),
        sum(col("i").cast("decimal(38,0)") *
          col("v").cast("decimal(38,0)")).as("rank_weighted"))
      .select(col("event_type"), col("n_wallets"), col("total_cents"),
        ((lit(2.0) * col("rank_weighted").cast("double")) /
          (col("n_wallets").cast("decimal(38,0)") *
            col("total_cents").cast("decimal(38,0)")).cast("double") -
          (col("n_wallets") + 1).cast("double") /
            col("n_wallets").cast("double")).as("gini"))
  }

  /** A68: price impact by trade size — does a bigger trade move the next
    * print more? Per type, each trade's impact is the exact integer cent
    * change to the NEXT trade in the (event-time, id) total order
    * (type-partitioned lead); trades bucket into size deciles against
    * the type's max size with truncating integer division; the average
    * impact per (type, decile) is an exact integer sum over counts with
    * one final double division — no float accumulation anywhere. */
  def priceImpact(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy("tu", "event_id")
    val t = events.select(col("event_type"), tsUs.as("tu"), col("event_id"),
      expr("cast(round(value * 100, 0) as bigint)").as("cents"))
    val maxc = t.groupBy(col("event_type").as("mt"))
      .agg(max("cents").as("max_cents"))
    t.withColumn("next_cents", lead("cents", 1).over(w))
      .filter(col("next_cents").isNotNull)
      .join(broadcast(maxc), col("event_type") === col("mt"))
      .withColumn("size_decile",
        least(lit(9L), expr("cents * 10 div max_cents")))
      .groupBy("event_type", "size_decile")
      .agg(count(lit(1)).as("n"),
        sum(col("next_cents") - col("cents")).as("sum_impact_cents"))
      .withColumn("avg_impact_cents",
        col("sum_impact_cents").cast("double") / col("n").cast("double"))
  }

  /** A66: cross-market correlation matrix — Pearson correlation of the
    * hourly volume series between every pair of event types (the
    * "which tokens move together" screen; time-series similarity search
    * shaped like the EDBT'19 distributed-streams formulation, computed
    * as one aggregation instead of per-pair scans).
    *
    * Exactness: all five moment sums (Σx, Σy, Σxy, Σx², Σy²) accumulate
    * integer cents in Decimal(38,0), and `n·Σxy − ΣxΣy` is formed in
    * exact decimal BEFORE the single cast to double — so the correlation
    * is bit-reproducible across engines and partitionings (catastrophic
    * cancellation happens in exact arithmetic, not floats).
    *
    * Scale: one keyed aggregate to the hourly series (shuffle on
    * (type, hour)), one self-join on the hour bucket (shuffle on hour —
    * bounded: one row per (type, hour)), one pair-keyed aggregate. With
    * K series the join fans out K(K-1)/2 pair rows per hour, never raw
    * events. */
  def seriesCorrelation(events: DataFrame): DataFrame = {
    val hourly = events
      .groupBy(col("event_type"),
        expr("(unix_micros(ts) div 3600000000) * 3600").as("hb"))
      .agg(sum(expr("cast(round(value * 100, 0) as bigint)"))
        .cast("decimal(38,0)").as("x"))
    val p = hourly.as("a")
      .join(hourly.as("b"), col("a.hb") === col("b.hb") &&
        col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("type_a"),
        col("b.event_type").as("type_b"))
      .agg(count(lit(1)).cast("decimal(38,0)").as("n"),
        sum(col("a.x")).as("sx"), sum(col("b.x")).as("sy"),
        sum(col("a.x") * col("b.x")).as("sxy"),
        sum(col("a.x") * col("a.x")).as("sxx"),
        sum(col("b.x") * col("b.x")).as("syy"))
    p.select(col("type_a"), col("type_b"), col("n").cast("bigint")
        .as("n_hours"),
      ((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
        (sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
          .cast("double")) *
         sqrt((col("n") * col("syy") - col("sy") * col("sy"))
           .cast("double")))).as("corr"))
  }

  /** A101: Spearman rank correlation between type pairs' hourly volume
    * series — the robust sibling of [[seriesCorrelation]]'s Pearson
    * (whale hours dominate a covariance; ranks cap any hour's influence
    * at 1). Ranks are `row_number` on the (volume, hour) total order —
    * deterministic distinct ranks, so the no-ties identity
    * ρ = 1 − 6·Σd²/(n·(n²−1)) is EXACT: d is an integer difference,
    * Σd² accumulates in Decimal(38,0), and ρ is one IEEE division.
    * (Textbook Spearman averages tied ranks; the deterministic
    * tie-break on the hour key is the reproducible variant, documented
    * — same convention as every rank percentile here.)
    *
    * Shape: the same hour-aligned pair join as [[seriesCorrelation]],
    * then two pair-partitioned rank windows (pair-series sized) and
    * one keyed aggregate. */
  def spearmanCorrelation(events: DataFrame): DataFrame = {
    val hourly = events
      .groupBy(col("event_type"),
        expr("(unix_micros(ts) div 3600000000) * 3600").as("hb"))
      .agg(sum(expr("cast(round(value * 100, 0) as bigint)")).as("x"))
    val joined = hourly.as("a")
      .join(hourly.as("b"), col("a.hb") === col("b.hb") &&
        col("a.event_type") < col("b.event_type"))
      .select(col("a.event_type").as("type_a"),
        col("b.event_type").as("type_b"), col("a.hb").as("hb"),
        col("a.x").as("x"), col("b.x").as("y"))
    val wx = Window.partitionBy("type_a", "type_b")
      .orderBy(col("x"), col("hb"))
    val wy = Window.partitionBy("type_a", "type_b")
      .orderBy(col("y"), col("hb"))
    joined
      .withColumn("d",
        (row_number().over(wx) - row_number().over(wy)).cast("long"))
      .groupBy("type_a", "type_b")
      .agg(count(lit(1)).as("n"),
        sum((col("d") * col("d")).cast("decimal(38,0)")).as("sd2"))
      .filter(col("n") > 1)
      .select(col("type_a"), col("type_b"), col("n").as("n_hours"),
        (lit(1.0) - lit(6.0) * col("sd2").cast("double") /
          (col("n").cast("decimal(38,0)") *
            (col("n").cast("decimal(38,0)") * col("n") - 1))
            .cast("double")).as("rho"))
  }

  /** A5c: mergeable per-day histogram store — the DETERMINISTIC quantile
    * analog of the A26c sketch store: per day, integer-cent values fold
    * into fixed-width buckets (`cents div bucketCents`), and any day
    * range answers rank queries by SUMMING stored bucket counts — no
    * raw re-scan, and unlike KLL/t-digest (randomized compaction,
    * merge-order-dependent buffers) histogram addition is exact,
    * associative, and bit-reproducible, so the store is oracle-checkable
    * end to end. Rank error is bounded by the bucket width — a chosen
    * constant, not a probabilistic bound. */
  def dailyValueHistograms(
      events: DataFrame, bucketCents: Long = 100L): DataFrame =
    events
      .groupBy(expr("unix_micros(ts) div 86400000000").as("db"),
        expr(s"cast(round(value * 100, 0) as bigint) div $bucketCents")
          .as("bucket"))
      .agg(count(lit(1)).as("n"))

  /** Percentile estimates for a day range, answered purely from the
    * stored histograms: merged counts cumulate as a [[GlobalOrder]]
    * running sum over the bucket order — never an unpartitioned window
    * and never a bucket×bucket pair fan-out — and each requested percentile
    * reports the inclusive upper edge of the first bucket whose
    * cumulative count reaches the rank.
    *
    * Cost is LINEAR in the observed bucket count: O(B) for the prefix
    * cumulation plus O(|percents|·B) for the broadcast threshold probe.
    * A pathological store (bucketCents=1 over a lamport-range value
    * column) therefore degrades to a plain scan of its distinct
    * buckets, not a 10¹⁸-pair nested loop — regardless of how many
    * trillion raw rows fed the store. */
  def quantilesFromHistograms(
      hists: DataFrame,
      fromDb: Long,
      toDb: Long,
      percents: Seq[Int] = Seq(50, 90, 99),
      bucketCents: Long = 100L): DataFrame = {
    val merged = hists
      .filter(col("db").between(fromDb, toDb))
      .groupBy("bucket").agg(sum("n").as("n"))
    val order = GlobalOrder(merged, Seq(col("bucket")), weight = Some("n"))
    val cum = order.withPosition("cum").select(col("bucket"), col("cum"))
    val tot = order.parted.agg(sum("n").as("tot"))
    val ps = hists.sparkSession
      .createDataFrame(percents.map(Tuple1(_)))
      .toDF("pct")
    ps.crossJoin(broadcast(tot))
      .join(cum,
        col("cum") * 100 >= col("pct").cast("bigint") * col("tot"))
      .groupBy("pct", "tot")
      .agg(min("bucket").as("bucket"))
      .select(col("pct"), col("tot").as("n_rows"),
        ((col("bucket") + 1) * bucketCents - 1).as("upper_cents"))
  }

  /** A75: momentum information coefficient — does the trailing k-hour
    * price move predict the NEXT hour's move? Per market: signal =
    * close − close[k candles back], forward = next close − close, and
    * IC = Pearson(signal, forward) with the same exactness contract as
    * [[seriesCorrelation]]: both legs are integer cent differences,
    * all five moment sums accumulate in Decimal(38,0), and the
    * numerator/denominator differences form in exact arithmetic before
    * the ONE cast to double.
    *
    * Scale: candle-table sized — the lag/lead pass is a 3-column
    * type-partitioned window, the moments are one keyed aggregate. */
  def momentumIC(events: DataFrame, lookback: Int = 24): DataFrame = {
    val closes = events
      .select(col("event_type"),
        expr("unix_micros(ts) div 3600000000").as("hb"),
        expr("cast(round(value * 100, 0) as bigint)").as("cents"),
        tsUs.as("tu"), col("event_id"))
      .groupBy("event_type", "hb")
      .agg(max_by(col("cents"), struct(col("tu"), col("event_id")))
        .as("close_cents"))
    val w = Window.partitionBy("event_type").orderBy("hb")
    closes
      .withColumn("s",
        col("close_cents") - lag("close_cents", lookback).over(w))
      .withColumn("f",
        lead("close_cents", 1).over(w) - col("close_cents"))
      .filter(col("s").isNotNull && col("f").isNotNull)
      .select(col("event_type"),
        col("s").cast("decimal(38,0)").as("s"),
        col("f").cast("decimal(38,0)").as("f"))
      .groupBy("event_type")
      .agg(count(lit(1)).cast("decimal(38,0)").as("n"),
        sum("s").as("ss"), sum("f").as("sf"),
        sum(col("s") * col("f")).as("ssf"),
        sum(col("s") * col("s")).as("sss"),
        sum(col("f") * col("f")).as("sff"))
      .select(col("event_type"), col("n").cast("bigint").as("n_hours"),
        ((col("n") * col("ssf") - col("ss") * col("sf")).cast("double") /
          (sqrt((col("n") * col("sss") - col("ss") * col("ss"))
            .cast("double")) *
           sqrt((col("n") * col("sff") - col("sf") * col("sf"))
             .cast("double")))).as("ic"))
  }

  /** A75b: lead-lag cross-market coefficient — does market A's hourly
    * move predict market B's NEXT hour? Moves are integer cent
    * differences between CONSECUTIVE hour candles (gaps excluded, so
    * every sample spans exactly one hour), the follower leg shifts by
    * one hour bucket via an equi-join (no cross-type window), and each
    * ordered pair gets the [[seriesCorrelation]] exactness contract:
    * Decimal(38,0) moments, exact differences, one double cast. The
    * matrix is asymmetric by construction — ic(A→B) ≠ ic(B→A). */
  def leadLagIC(events: DataFrame): DataFrame = {
    val closes = events
      .select(col("event_type"),
        expr("unix_micros(ts) div 3600000000").as("hb"),
        expr("cast(round(value * 100, 0) as bigint)").as("cents"),
        tsUs.as("tu"), col("event_id"))
      .groupBy("event_type", "hb")
      .agg(max_by(col("cents"), struct(col("tu"), col("event_id")))
        .as("close_cents"))
    val w = Window.partitionBy("event_type").orderBy("hb")
    val moves = closes
      .withColumn("prevc", lag("close_cents", 1).over(w))
      .withColumn("prevh", lag("hb", 1).over(w))
      .filter(col("prevh") === col("hb") - 1)
      .select(col("event_type"), col("hb"),
        (col("close_cents") - col("prevc")).cast("decimal(38,0)")
          .as("mv"))
    val lead = moves.select(col("event_type").as("type_lead"),
      col("hb"), col("mv").as("x"))
    val follow = moves.select(col("event_type").as("type_follow"),
      (col("hb") - 1).as("hb"), col("mv").as("y"))
    // a sparse pair can have a zero-variance leg (every sampled move
    // identical) — ic is undefined there, and ANSI mode would throw on
    // the 0.0 denominator: emit NULL instead (NULLIF in the oracle)
    val denom = sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
        .cast("double")) *
      sqrt((col("n") * col("syy") - col("sy") * col("sy"))
        .cast("double"))
    lead.join(follow, Seq("hb"))
      .filter(col("type_lead") =!= col("type_follow"))
      .groupBy("type_lead", "type_follow")
      .agg(count(lit(1)).cast("decimal(38,0)").as("n"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("type_lead"), col("type_follow"),
        col("n").cast("bigint").as("n_hours"),
        when(denom =!= 0.0,
          (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
            denom).as("ic"))
  }

  /** A88: Roll's effective-spread estimator per market — bid-ask bounce
    * makes consecutive price changes negatively serially correlated, and
    * `spread = 2·√(−cov(Δpₜ, Δpₜ₋₁))` recovers the effective spread from
    * trade prints alone (Roll 1984), no quote data needed. Moves are
    * integer cent differences between CONSECUTIVE hour candles (gaps
    * excluded, as in [[leadLagIC]]); the serial-covariance moments
    * accumulate in Decimal(38,0) and `n·Σxy − ΣxΣy` forms exact, so the
    * sign test (the spread is only defined for negative covariance —
    * positive means momentum, not bounce) is exact too; one double cast
    * computes `2·√(−cov_num)/n`. Candle-table sized: two windows and one
    * keyed aggregate. Exactness domain: the widest moment is
    * `n·Σxy ≤ n²·Δpmax²`, so `n_hours · Δpmax < 10¹⁹` — a century of
    * hourly candles (~10⁶) with hour-to-hour moves to 10¹² cents sits
    * four orders inside it (witnessed in CodecPropsSpec).
    */
  def rollSpread(events: DataFrame): DataFrame = {
    val closes = events
      .select(col("event_type"),
        expr("unix_micros(ts) div 3600000000").as("hb"),
        expr("cast(round(value * 100, 0) as bigint)").as("cents"),
        tsUs.as("tu"), col("event_id"))
      .groupBy("event_type", "hb")
      .agg(max_by(col("cents"), struct(col("tu"), col("event_id")))
        .as("close_cents"))
    val w = Window.partitionBy("event_type").orderBy("hb")
    val moves = closes
      .withColumn("prevc", lag("close_cents", 1).over(w))
      .withColumn("prevh", lag("hb", 1).over(w))
      .filter(col("prevh") === col("hb") - 1)
      .select(col("event_type"), col("hb"),
        (col("close_cents") - col("prevc")).as("mv"))
    val pairs = moves
      .withColumn("pmv", lag("mv", 1).over(w))
      .withColumn("pmh", lag("hb", 1).over(w))
      .filter(col("pmh") === col("hb") - 1)
      .select(col("event_type"),
        col("mv").cast("decimal(38,0)").as("x"),
        col("pmv").cast("decimal(38,0)").as("y"))
    pairs.groupBy("event_type")
      .agg(count(lit(1)).cast("decimal(38,0)").as("n"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"))
      .select(col("event_type"), col("n").cast("bigint").as("n_pairs"),
        // cov_num = n·Σxy − ΣxΣy (exact); cov = cov_num/n²;
        // spread = 2·√(−cov) = 2·√(−cov_num)/n, null when cov ≥ 0
        when(col("n") * col("sxy") - col("sx") * col("sy") < 0,
          lit(2.0) *
            sqrt((col("sx") * col("sy") - col("n") * col("sxy"))
              .cast("double")) / col("n").cast("double"))
          .as("spread_cents"))
  }

  /** A89: Kyle's lambda over equal-volume buckets — the price-impact
    * slope λ of the bucket price move on the bucket's signed volume
    * (`Δp = λ·q + ε`, Kyle 1985): the companion regression to [[vpin]],
    * over the same three-level-prefix volume bucketing (so flow
    * toxicity and its price cost come from one partitioned pipeline
    * shape). Per bucket: q = buy − sell cents, Δp = last print − first
    * print in (ts, id) order. λ = (n·Σqp − ΣqΣp)/(n·Σqq − (Σq)²) with
    * all moments in Decimal(38,0), exact differences, ONE double
    * division; null when signed volume has zero variance. λ is priced
    * per 1e6 cents of net flow (`lambda_per_1e6`) so the magnitude
    * stays readable.
    */
  /** Equal-volume bucket assignment shared by [[vpin]] and
    * [[kyleLambda]] — the ONE definition of "the same buckets" both
    * operators' docs promise (a drifting copy was the failure mode this
    * helper exists to prevent). The trade stream in (ts, id) execution
    * order is cut every `bucketCents` of traded value; the global
    * cumulative-volume prefix is a three-level partitioned sum — an
    * hour-partitioned running sum over trades, a day-partitioned running
    * sum over hour totals (≤24 rows per partition), and a broadcast
    * triangular prefix over day totals — never a global window. Whole
    * trades land in the bucket of their LAST unit; zero-value prints
    * drop.
    *
    * Exactness domain: every downstream Decimal(38,0) moment is bounded
    * by the bucket geometry — per bucket, B+S ≤ bucketCents + the
    * largest single print, so |q| = |B−S| shares that bound. The widest
    * moment is n·Σq² ≤ n²·qmax², so the supported domain is
    * `n_buckets · (bucketCents + maxPrint) < 10¹⁹`: e.g. 10⁷ buckets
    * carrying whale prints at 10¹² cents, or 10¹⁴ buckets at the
    * default 10⁵-cent geometry — past it the decimal sum NULLs while
    * the HUGEINT oracle stays exact (choose bucketCents so the bucket
    * count lands inside the bound; VPIN practice is ~50 buckets/day).
    * The Long cumulative prefix `gcum` requires total corpus volume
    * < 2⁶³ cents (~9·10¹⁶ dollars) — the one Long in the pipeline.
    * Witnessed in CodecPropsSpec alongside the vpin imbalance-numerator
    * bound. */
  private def volumeBuckets(events: DataFrame, bucketCents: Long,
      buyType: String, sellType: String): DataFrame = {
    val t = events
      .filter(col("event_type").isin(buyType, sellType))
      .select(tsUs.as("ts_us"), col("event_id"), col("event_type"),
        expr("cast(round(value * 100, 0) as bigint)").as("cents"))
      .filter(col("cents") > 0)
      .withColumn("hb", expr("ts_us div 3600000000"))
      .withColumn("day", expr("ts_us div 86400000000"))
    val wh = Window.partitionBy("hb").orderBy("ts_us", "event_id")
    val withLocal = t.withColumn("hcum", sum("cents").over(wh))
    // hour totals feed both the in-day prefix and the day totals; the
    // checkpoint (hours-sized) keeps the raw aggregate single-pass
    val hourTot = t.groupBy("day", "hb").agg(sum("cents").as("hn"))
      .localCheckpoint()
    val wd = Window.partitionBy("day").orderBy("hb")
      .rowsBetween(Window.unboundedPreceding, -1)
    val hourOffInDay = hourTot.withColumn("hoff",
      coalesce(sum("hn").over(wd), lit(0L)))
    val dayTot = hourTot.groupBy("day").agg(sum("hn").as("dn"))
    val dayOff = dayTot.as("a")
      .join(dayTot.as("b"), col("b.day") < col("a.day"), "left")
      .groupBy(col("a.day").as("day"))
      .agg(coalesce(sum(col("b.dn")), lit(0L)).as("doff"))
    val offsets = hourOffInDay.join(broadcast(dayOff), "day")
      .select(col("hb"), (col("hoff") + col("doff")).as("off"))
    withLocal.join(broadcast(offsets), "hb")
      .withColumn("gcum", col("hcum") + col("off"))
      .withColumn("bucket", expr(s"(gcum - 1) div $bucketCents"))
  }

  def kyleLambda(events: DataFrame, bucketCents: Long = 100000L,
      buyType: String = "purchase", sellType: String = "view"): DataFrame = {
    val buckets = volumeBuckets(events, bucketCents, buyType, sellType)
      .groupBy("bucket")
      .agg(
        (sum(when(col("event_type") === buyType, col("cents"))
            .otherwise(lit(0L))) -
          sum(when(col("event_type") === sellType, col("cents"))
            .otherwise(lit(0L)))).as("q"),
        (max_by(col("cents"), struct(col("ts_us"), col("event_id"))) -
          min_by(col("cents"), struct(col("ts_us"), col("event_id"))))
          .as("dp"))
      .select(col("q").cast("decimal(38,0)").as("q"),
        col("dp").cast("decimal(38,0)").as("dp"))
    buckets
      .agg(count(lit(1)).cast("decimal(38,0)").as("n"),
        sum("q").as("sq"), sum("dp").as("sp"),
        sum(col("q") * col("dp")).as("sqp"),
        sum(col("q") * col("q")).as("sqq"))
      .select(col("n").cast("bigint").as("n_buckets"),
        when(col("n") * col("sqq") - col("sq") * col("sq") =!= 0,
          (col("n") * col("sqp") - col("sq") * col("sp")).cast("double") /
            (col("n") * col("sqq") - col("sq") * col("sq"))
              .cast("double") * 1000000.0)
          .as("lambda_per_1e6"))
  }

  /** A72: sandwich-pattern detection — the MEV heuristic the reference's
    * slot/tx-index ordering (grpc/shred `types.rs` transaction_index)
    * exists to enable: an attacker's buy and later sell BRACKET other
    * wallets' trades in the intra-block execution order. Here the block
    * analog is the hour bucket and the order inside it is `event_id`
    * (buy ≙ purchase, sell ≙ view, as in [[washTrades]]).
    *
    * Shape: one keyed aggregate builds each wallet's (first buy, last
    * sell) bracket per bucket, then ONE equi-join on the bucket pulls
    * the trades strictly inside the bracket — fan-out is brackets ×
    * trades per bucket, bounded by `maxBucketTrades` under either
    * policy. Default [[GraphOps.CapTop]]: hot hours keep their FIRST
    * `maxBucketTrades` trades in execution order (event_id asc) —
    * prefix retention preserves the pattern's semantics exactly (a
    * bracket and its victims found in the retained prefix are a true
    * bracket and true victims of the full stream: removing later
    * trades can neither create a bracket nor misplace a victim inside
    * one), so the capped result is a sound SUBSET of the uncapped
    * signal at any density. The rank filter plans as a
    * WindowGroupLimit (top-N per bucket map-side, no full per-hour
    * sort). [[GraphOps.DropAll]] (opt-in) drops over-cap buckets whole
    * — the `Dedup.ngramJaccard` policy, silently vacuous at production
    * density (the round-8 sf100 witness). All comparisons are exact
    * integers on the event_id total order; no windows, no floats. */
  def sandwichTrades(
      events: DataFrame,
      maxBucketTrades: Int = 1024,
      policy: GraphOps.OverCapPolicy = GraphOps.CapTop): DataFrame =
    policy match {
      case GraphOps.CapTop =>
        import org.apache.spark.sql.expressions.Window
        // explicit bucket repartition before the rank window — the
        // bracket join downstream fans out quadratically in bucket size
        // and AQE sizes stages by map input (the washPairs lesson)
        val nPart = math.max(32,
          events.sparkSession.sessionState.conf.numShufflePartitions)
        val tt = sandwichTradeRows(events)
          .repartition(nPart, col("mb"))
          .withColumn("rk", row_number().over(
            Window.partitionBy(col("mb")).orderBy(col("event_id"))))
          .filter(col("rk") <= maxBucketTrades)
          .drop("rk")
        sandwichOn(tt)
      case _: GraphOps.DropAll =>
        val t = sandwichTradeRows(events)
        val sized = t.groupBy("mb").agg(count(lit(1)).as("c"))
          .filter(col("c") <= maxBucketTrades).select("mb")
        sandwichOn(t.join(sized, "mb"))
    }

  private def sandwichTradeRows(events: DataFrame): DataFrame =
    events
      .filter(col("event_type").isin("purchase", "view"))
      .select(expr("unix_micros(ts) div 3600000000").as("mb"),
        col("event_id"), col("user_id"), col("event_type"),
        expr("cast(round(value * 100, 0) as bigint)").as("cents"))

  private def sandwichOn(tt: DataFrame): DataFrame = {
    val brackets = tt.groupBy("mb", "user_id")
      .agg(min(when(col("event_type") === "purchase", col("event_id")))
          .as("b"),
        max(when(col("event_type") === "view", col("event_id"))).as("s"))
      .filter(col("b").isNotNull && col("s").isNotNull &&
        col("s") > col("b"))
      .select(col("mb"), col("user_id").as("attacker"), col("b"),
        col("s"))
    tt.join(brackets, Seq("mb"))
      .filter(col("user_id") =!= col("attacker") &&
        col("event_id") > col("b") && col("event_id") < col("s"))
      .groupBy("attacker")
      .agg(countDistinct("mb").as("n_hours"),
        count(lit(1)).as("n_victim_trades"),
        countDistinct("user_id").as("n_victims"),
        sum("cents").as("victim_cents"))
  }

  /** A40b: two-party wash ("ping-pong") pairs — the PAIR form of
    * [[washTrades]]'s single-wallet self-churn: wallet A buys while B
    * sells in one hour bucket, and somewhere in the pair's history the
    * direction REVERSES (B buys while A sells) — volume bouncing
    * between two accounts, the coordinated-bot shape the reference's
    * dev/bot tagging feeds on.
    *
    * Shape: one keyed aggregate to per-(hour, wallet) side counts, then
    * a DIRECTED buyers × sellers join per hour bucket — fan-out is
    * |buyers|·|sellers|, the actual signal size, not all-active² (the
    * earlier self-join of every active wallet against every active
    * wallet went quadratic one decade up: measured 22 s at sf1.0 where
    * each hour holds ~1000 active wallets, since the pair condition
    * prunes AFTER the fan-out; the directed join builds only the rows
    * whose condition already holds).
    *
    * Hot hours DEGRADE, never drop: each (hour, side) keeps its
    * `maxBucketWallets` most-active wallets (side count desc, wallet id
    * tie-break — a rank-limit window Spark plans as WindowGroupLimit,
    * top-N per partition map-side, never a full per-hour sort). Wash
    * rings concentrate exactly in the densest market-hours, so the old
    * drop-the-whole-hour cap deleted the signal where it lives; the
    * top-N rule bounds fan-out at maxBucketWallets² per hour while
    * keeping the heaviest — i.e. the most wash-like — wallets in play.
    *
    * The pair aggregate REPARTITIONS the directed rows by pair key
    * before grouping: pair keys are nearly unique (~50M directed rows
    * → ~48M distinct pairs at sf1.0), so a map-side partial aggregate
    * builds a huge hash table that reduces nothing, falls back to
    * sort-and-spill, and dominates the query (measured 33 s of a 28 s
    * total at sf1.0; repartition-first is 9-12 s end to end at any
    * post-shuffle partition count — Scratch `wash_profile`). After the
    * exchange every copy of a key is in one task, so the same partial
    * aggregate collapses fully. All integers.
    *
    * Wallets are dictionary-encoded before the fan-out: a
    * STRING-ORDER-PRESERVING dense rank (a [[GlobalOrder]] rank, never
    * a one-task window) so the ~755M-row pair exchange carries two
    * longs instead of two wallet strings — and those two longs plus
    * the direction flag are packed into ONE signed 64-bit key before
    * the exchange (min<<32|max, direction in the sign), halving the
    * dominant shuffle's bytes again. least/greatest/=!= commute with
    * the encoding because rank order ≡ string order; strings rejoin only
    * AFTER the two-direction filter, on the tiny surviving pair set.
    * Measured honestly: on the synthetic corpus's 12-char wallet ids
    * this is a 6% wall win at sf10 (90.1 → 84.4 s solo, same box) —
    * the row COUNT, not width, dominates there. The design case is
    * production keys: real wallet addresses are 32-44 char base58
    * strings, where two longs vs two strings cuts the dominant
    * exchange ~5-10× in bytes. */
  def washPairs(
      events: DataFrame,
      maxBucketWallets: Int = 1024): DataFrame = {
    // materialized once: the side-count aggregate feeds both ranked side
    // tables — unmaterialized, the raw event shuffle runs twice. Its row
    // count rides the checkpoint's own job (observe), for nPart below.
    val sidesRows = org.apache.spark.sql.Observation()
    val sides = events
      .filter(col("event_type").isin("purchase", "view"))
      .groupBy(expr("unix_micros(ts) div 3600000000").as("mb"),
        col("user_id"))
      .agg(count(when(col("event_type") === "purchase", 1)).as("nb"),
        count(when(col("event_type") === "view", 1)).as("ns"))
      .observe(sidesRows, count(lit(1)).as("n"))
      .localCheckpoint()
    // EXPLICIT hour repartition before the rank windows, sized from the
    // wallet-hour row count: one partition per 1,024 rows, clamped to
    // [shuffle.partitions, 256] (shuffle.partitions wins when larger).
    // AQE would coalesce this exchange to ONE partition — the table is
    // tiny (~400k rows at sf1.0) — but the downstream join fans those
    // rows out 140× (54.6M), and the window, join and shuffle write all
    // share that stage. AQE sizes by map INPUT and cannot see output
    // blow-up, so the whole fan-out ran in a single task (measured
    // 31.6 s of the 34 s total); an explicit count opts the exchange out
    // of coalescing, and one fan-out task covers ~nHours/nPart hours,
    // worst case one hour = maxBucketWallets² rows. The former fixed
    // floor of 256 ran every stage at 256 tasks over small tables too
    // (25k wallet-hour rows on 4 cores: 7.1 s to run the query, 2.1 s
    // at 25 partitions), so the count follows the rows: sf0.1 (39k
    // rows) gets 39, sf1 (~400k) and sf10 keep 256. Results cannot
    // depend on it: uid is a dense rank in user_id order, and every
    // rank window orders on a total key.
    val nPart = {
      val sp = events.sparkSession.sessionState.conf.numShufflePartitions
      val n = sidesRows.get("n").asInstanceOf[Number].longValue
      math.max(sp, math.min(256L, (n + 1023) / 1024).toInt)
    }
    // string-order-preserving wallet ids: a [[GlobalOrder]] rank over
    // the (user_id) total order
    val dict0 = GlobalOrder(sides.select("user_id").distinct(),
      Seq(col("user_id")), numPartitions = Some(nPart))
    // packed-key headroom guard: dense ranks must stay below 2^31 or
    // min*2^32+max overflows the signed pair key (see comment below).
    // The per-range totals are metadata-sized, so this one action is
    // ~free next to the fan-out.
    val dictCount = dict0.totals.agg(coalesce(sum(col("c")), lit(0L)))
      .head.getLong(0)
    require(dictCount < (1L << 31),
      s"washPairs: $dictCount distinct wallets exceeds the 2^31-1 " +
      "packed-pair-key capacity (min_uid*2^32+max_uid must stay " +
      "positive in a signed long); shard the corpus or widen the key")
    val dict = dict0.withPosition("uid")
      .select(col("user_id"), col("uid"))
      .localCheckpoint()
    val sidesP = sides.join(dict, "user_id")
      .select(col("mb"), col("uid"), col("nb"), col("ns"))
      .repartition(nPart, col("mb"))
    def topSide(n: org.apache.spark.sql.Column, out: String) =
      sidesP.filter(n > 0)
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("mb")).orderBy(n.desc, col("uid"))))
      .filter(col("rk") <= maxBucketWallets)
      .select(col("mb"), col("uid").as(out))
    val buyers0 = topSide(col("nb"), "bu")
    val sellers0 = topSide(col("ns"), "se")
    // Reversal pre-filter (guide §3.2, a semi-join in bitmask clothing):
    // a pair only survives the final `hours_ab >= 1 && hours_ba >= 1`
    // filter if a REVERSE directed row exists — ∃h′: se ∈ buyers(h′) ∧
    // bu ∈ sellers(h′) over the SAME capped side tables. Each wallet
    // gets one hour-grid bitmask per side (bit = hour − minHour, built
    // by nLongs bit_or aggregates over the capped rows); the masks ride
    // a wallet-sized broadcast onto the opposite side table, and the
    // fan-out keeps a directed row only when buyMask(se) ∩ sellMask(bu)
    // ≠ ∅ — i.e. EXACTLY when the reverse row exists (hour-granular, no
    // false positives; no false negatives, so every row of a surviving
    // pair is kept and the counts are unchanged; rows of never-surviving
    // pairs are the only ones dropped). Measured at sf10 the dominant
    // pair exchange carries 128M rows instead of 755M (DuckDB ground
    // truth: 754 963 336 directed rows, 127 666 971 in surviving pairs)
    // — the §2.5 skew levers were measured inapplicable first: every
    // hour saturates the cap on both sides (per-hour fan-out max =
    // median = 1 048 576), so there is no hot bucket to salt or split.
    // The mask test itself is a codegen'd expression (MaskIntersects):
    // the equivalent exists(zip_with(..)) lambda runs interpreted.
    // Scale guard: masks are (hour-span)/8 bytes per wallet-side; past
    // the bound (deep history × huge wallet count) the unfiltered shape
    // runs verbatim — same outputs, just without the pre-filter.
    // engage only when the corpus is big enough that the saved exchange
    // rows outweigh the pre-filter's ~4 extra scheduler rounds (mask
    // aggregates, broadcasts, side-table materialization): measured at
    // sf0.1 (7k wallets, ~8M fan-out rows) the masked path LOST 3.5 →
    // 6.0 s — fixed job overhead, nothing to save — while at sf10
    // (722k wallets, 755M fan-out rows) it won 108.5 → 26.4 s. The
    // gate is data-derived (the already-computed distinct-wallet
    // count), not a core-count constant; conf-overridable either way.
    val maskMinWallets = events.sparkSession.conf
      .get("spark.graft.washPairsMaskMinWallets", "65536").toLong
    val mbStats =
      if (dictCount < maskMinWallets) null
      else sides.agg(min(col("mb")).as("lo"), max(col("mb")).as("hi")).head
    val maskable = mbStats != null && !mbStats.isNullAt(0) && {
      val span = mbStats.getLong(1) - mbStats.getLong(0) + 1
      // mask tables are built on the CAPPED side tables, so the wallets
      // carrying a mask are bounded by span·maxBucketWallets no matter
      // how many wallets the corpus holds — the broadcast stays
      // ≤ 2²⁵ longs (256 MB of mask words) at ANY corpus size once the
      // hour span is bounded
      val maskedWallets = math.min(dictCount, span * maxBucketWallets)
      span <= 65536 && maskedWallets * ((span + 63) / 64) <= (1L << 25)
    }
    val (buyers, sellers) =
      if (!maskable) (buyers0, sellers0)
      else {
        val lo = mbStats.getLong(0)
        val nLongs = ((mbStats.getLong(1) - lo) / 64 + 1).toInt
        // windows computed once: masks and the fan-out both read the
        // materialized capped side tables (two small checkpoints)
        val bC = buyers0.localCheckpoint()
        val sC = sellers0.localCheckpoint()
        def sideMask(df: DataFrame, idCol: String, out: String) = {
          val aggs = (0 until nLongs).map(i =>
            bit_or(when(expr(s"(mb - $lo) div 64") === i,
              expr(s"shiftleft(1L, cast((mb - $lo) % 64 as int))"))
              .otherwise(0L)).as(s"m$i"))
          df.groupBy(col(idCol).as("muid"))
            .agg(aggs.head, aggs.tail: _*)
            .select(col("muid").as(idCol),
              array((0 until nLongs).map(i => col(s"m$i")): _*).as(out))
        }
        // inner join: a buyer that never tops the sell side has a null
        // sell-mask — no reverse row can exist, so dropping the row is
        // the filter's own verdict
        (bC.join(broadcast(sideMask(sC, "se", "bu_sm")
            .withColumnRenamed("se", "bu")), Seq("bu")),
          sC.join(broadcast(sideMask(bC, "bu", "se_bm")
            .withColumnRenamed("bu", "se")), Seq("se")))
      }
    val maskFilter =
      if (!maskable) lit(true)
      else graft.functions.exprs.mask_intersects(col("bu_sm"), col("se_bm"))
    // ONE signed 64-bit key per directed pair row: (min id << 32 | max
    // id), direction in the sign. The pair exchange is the dominant
    // cost of the whole query (~755M rows at sf10) and its row was
    // (long, long, bool) = 32 unsafe-row bytes; packing moves 16 — the
    // repartition+aggregate now ships half the bytes for the same
    // information. The dictionary ids are dense ranks; positivity of
    // `min*2^32 + max` in a SIGNED long requires min < 2^31, so the
    // packed key holds 2.1e9 DISTINCT trading wallets (≈ 2 orders of
    // magnitude above any real chain's wallet population), NOT the
    // naive 2^32 — beyond 2^31 dense ranks the product overflows
    // negative and would flip direction. The dictCount require below
    // turns that cliff into a named error; ua ≥ 1 keeps the packed
    // value strictly positive, so the sign bit is free for direction.
    // abs(pks) is both the repartition key and the group key — same
    // canonical expression, so the aggregate reuses the exchange's
    // partitioning (no second shuffle) and every copy of a pair,
    // either direction, lands in one task.
    val pairs = buyers.join(sellers, Seq("mb"))
      .filter(col("bu") =!= col("se") && maskFilter)
      .select(when(col("bu") < col("se"),
          col("bu") * lit(4294967296L) + col("se"))
        .otherwise(-(col("se") * lit(4294967296L) + col("bu")))
        .as("pks"))
      .repartition(nPart, abs(col("pks")))
      .groupBy(abs(col("pks")).as("pk"))
      .agg(count(when(col("pks") > 0, 1)).as("hours_ab"),
        count(when(col("pks") < 0, 1)).as("hours_ba"))
      .filter(col("hours_ab") >= 1 && col("hours_ba") >= 1)
      .select(expr("pk div 4294967296").as("ua"),
        (col("pk") % 4294967296L).as("ub"),
        col("hours_ab"), col("hours_ba"))
    pairs
      .join(dict.select(col("uid").as("ua"), col("user_id").as("wallet_a")), "ua")
      .join(dict.select(col("uid").as("ub"), col("user_id").as("wallet_b")), "ub")
      .select("wallet_a", "wallet_b", "hours_ab", "hours_ba")
  }

  /** A87: VPIN — volume-synchronized probability of informed trading,
    * the flow-toxicity gauge (Easley/López de Prado/O'Hara): the trade
    * stream in (ts, id) execution order is cut into equal-VOLUME
    * buckets every `bucketCents` of traded value, and each bucket
    * reports its buy/sell imbalance `|B−S|·1e6 div (B+S)` — persistent
    * one-sided buckets mark informed/toxic flow, the condition the
    * reference's real-time metrics exist to surface.
    *
    * Shape (no global window): the global cumulative-volume prefix is a
    * three-level sum — an hour-partitioned running sum over trades, a
    * day-partitioned running sum over the hour totals (≤24 rows per
    * partition), and a broadcast triangular prefix over day totals
    * (days are metadata-sized) — then ONE keyed aggregate per bucket.
    * The widest window is one market-hour of trades, the same skew
    * bound every hour-bucketed operator here carries. Whole trades land
    * in the bucket holding their LAST unit (the textbook version splits
    * boundary trades; assigning whole keeps every quantity an exact
    * integer and the result engine-reproducible). Zero-value prints
    * carry no volume and are dropped. The imbalance numerator
    * accumulates in Decimal(38,0) so no `bucketCents` choice can wrap
    * the ×1e6 product (the A66 exactness contract).
    */
  def vpin(events: DataFrame, bucketCents: Long = 100000L,
      buyType: String = "purchase", sellType: String = "view"): DataFrame =
    volumeBuckets(events, bucketCents, buyType, sellType)
      .groupBy("bucket")
      .agg(
        sum(when(col("event_type") === buyType, col("cents"))
          .otherwise(lit(0L))).as("buy_cents"),
        sum(when(col("event_type") === sellType, col("cents"))
          .otherwise(lit(0L))).as("sell_cents"),
        count(lit(1)).as("n_trades"),
        min("ts_us").as("start_us"),
        max("ts_us").as("end_us"))
      .withColumn("imbalance_1e6",
        expr("cast((cast(abs(buy_cents - sell_cents) as decimal(38,0)) " +
          "* 1000000) div (buy_cents + sell_cents) as bigint)"))

  /** A12e: Bollinger-band breakouts over the daily close series —
    * candles whose close leaves the ±k·σ band around the trailing
    * 20-day mean (the classic Bollinger length; k is a rational
    * kNum/kDen so 3/2 bands are expressible without floats). The
    * breakout predicate is EXACT integer arithmetic: with rolling cent
    * sums s1 = Σx, s2 = Σx² over n candles,
    * `|x − μ| > k·σ  ⟺  kDen²·(n·x − s1)² > kNum²·(n·s2 − s1²)` —
    * both sides are products of cent sums accumulated in Decimal(38,0)
    * (x² alone wraps a 64-bit long once closes pass ~3×10⁹ cents, well
    * inside lamport magnitudes), so no float ever forms, nothing wraps
    * below 10³⁸, and the flag is bit-identical in any engine (a float
    * mean/stddev version would diverge between Spark and the oracle in
    * the last ulp).
    *
    * Scale: runs on the candle table (one row per (type, day)); the
    * rolling frame is a RANGE window over the integer day bucket,
    * partitioned by type — trailing state is O(window). */
  def bollingerBreakouts(
      events: DataFrame,
      windowDays: Int = 20,
      kNum: Int = 3,
      kDen: Int = 2,
      minPeriods: Int = 12): DataFrame = {
    val closes = events
      .select(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("db"),
        expr("cast(round(value * 100, 0) as bigint)").as("cents"),
        tsUs.as("tu"), col("event_id"))
      .groupBy("event_type", "db")
      .agg(max_by(col("cents"), struct(col("tu"), col("event_id")))
        .as("close_cents"))
    val w = Window.partitionBy("event_type").orderBy("db")
      .rangeBetween(-(windowDays - 1).toLong, 0L)
    val xD = col("close_cents").cast("decimal(38,0)")
    closes
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("s1", sum(xD).over(w))
      .withColumn("s2", sum(xD * xD).over(w))
      .filter(col("n") >= minPeriods)
      .withColumn("d",
        col("n").cast("decimal(38,0)") * xD - col("s1"))
      .filter(lit(kDen.toLong * kDen) * col("d") * col("d") >
        lit(kNum.toLong * kNum) *
          (col("n").cast("decimal(38,0)") * col("s2") -
            col("s1") * col("s1")))
      .select(col("event_type"), (col("db") * 86400).as("day"),
        col("close_cents"), col("n").as("n_window"),
        when(col("d") > 0, lit("hi")).otherwise(lit("lo")).as("side"))
  }

  /** Rounds a log-space double to 6 decimals and fixes it as an exact
    * decimal — the repo's TRANSCENDENTAL BOUNDARY contract: `ln` is the
    * one operation here that is not IEEE-correctly-rounded, so Spark's
    * `Math.log` and the oracle engine's libm can disagree by 1 ulp
    * (measured: 3 in 4000 over realistic ratios). Rounding each ln to a
    * 1e-6 quantum collapses that divergence (disagreement would need the
    * true value within ~1 ulp of a rounding boundary — measured 0 in
    * 4000, expected ~1e-10 per evaluation), and casting the now-agreed
    * double to a fixed-scale decimal makes every downstream sum exact,
    * order-independent, and engine-reproducible. Nothing else in this
    * repo may aggregate raw transcendental doubles. */
  private def lnR6(x: org.apache.spark.sql.Column) =
    graft.functions.exprs.ln_r6(x)

  /** A90: range-based volatility estimators per (type, day) — Parkinson,
    * Garman-Klass and Rogers-Satchell over the hourly [[ohlc1h]] candles
    * (the OHLC consumers the reference's swap-price stream feeds:
    * pumpfun/pumpswap event `price` fields exist to build exactly these
    * daily risk numbers).
    *
    * Exactness: each candle's log-range terms go through [[lnR6]] (the
    * transcendental boundary), squares/products of those decimals are
    * exact (scale 12), the per-day sums are exact decimals, and the
    * final estimators are IEEE double arithmetic on the agreed sums —
    * bit-identical in any engine. Degenerate candles (a zero low/open/
    * close from a zero-value print) are excluded before any log forms.
    *
    * Scale: candle-table sized input (one row per type-hour); one
    * keyed aggregate to days. */
  def rangeVolatility(events: DataFrame): DataFrame = {
    val fourLn2 = 2.772588722239781 // 4·ln2, same literal in the oracle
    val gkC = 0.3862943611198906 // 2·ln2 − 1
    val bars = ohlc1h(events)
      .filter(col("low") > 0.0 && col("open") > 0.0 && col("close") > 0.0)
      .select(col("event_type"), expr("hb div 86400").as("db"),
        lnR6(col("high") / col("low")).as("lhl"),
        lnR6(col("close") / col("open")).as("lco"),
        lnR6(col("high") / col("open")).as("lho"),
        lnR6(col("high") / col("close")).as("lhc"),
        lnR6(col("low") / col("open")).as("llo"),
        lnR6(col("low") / col("close")).as("llc"))
    bars.groupBy("event_type", "db")
      .agg(count(lit(1)).as("n_bars"),
        sum(col("lhl") * col("lhl")).as("s_hl2"),
        sum(col("lco") * col("lco")).as("s_co2"),
        sum(col("lho") * col("lhc") + col("llo") * col("llc")).as("s_rs"))
      .select(col("event_type"), (col("db") * 86400).as("day"),
        col("n_bars"),
        (col("s_hl2").cast("double") /
          (lit(fourLn2) * col("n_bars").cast("double"))).as("park_var"),
        ((lit(0.5) * col("s_hl2").cast("double") -
          lit(gkC) * col("s_co2").cast("double")) /
          col("n_bars").cast("double")).as("gk_var"),
        (col("s_rs").cast("double") / col("n_bars").cast("double"))
          .as("rs_var"))
  }

  /** A91: Amihud illiquidity per (type, day) — |daily return| per dollar
    * of daily volume (Amihud 2002), the price-impact-per-volume gauge
    * that complements [[kyleLambda]]'s regression slope with a
    * per-day ratio. Open/close are the day's first/last prints on the
    * (ts, event_id) total order via `min_by`/`max_by` — one keyed
    * aggregate, no window.
    *
    * Exactness: everything up to the final ratio is integer cents
    * (`ret_1e6` is truncating-integer basis points ×100); the illiquidity
    * itself is two sequential IEEE divisions of exactly-converted int64s
    * (int64→double conversion is correctly rounded by spec), so the
    * doubles are bit-identical cross-engine — no float sums anywhere. */
  def amihudDaily(events: DataFrame): DataFrame =
    events
      .select(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("db"),
        expr("cast(round(value * 100, 0) as bigint)").as("cents"),
        tsUs.as("tu"), col("event_id"))
      .filter(col("cents") > 0)
      .groupBy("event_type", "db")
      .agg(
        min_by(col("cents"), struct(col("tu"), col("event_id")))
          .as("open_cents"),
        max_by(col("cents"), struct(col("tu"), col("event_id")))
          .as("close_cents"),
        sum("cents").as("volume_cents"),
        count(lit(1)).as("n_trades"))
      .select(col("event_type"), (col("db") * 86400).as("day"),
        col("open_cents"), col("close_cents"), col("volume_cents"),
        col("n_trades"),
        expr("((close_cents - open_cents) * 1000000) div open_cents")
          .as("ret_1e6"),
        (abs(col("close_cents") - col("open_cents")).cast("double") *
          lit(100.0) / col("open_cents").cast("double") /
          col("volume_cents").cast("double")).as("illiq"))

  /** A92: per-wallet behavioral entropy — Shannon entropy of each
    * wallet's event-type distribution (bots concentrate on one action;
    * organic wallets spread). Uses the count identity
    * `H = ln N − (Σ cᵢ·ln cᵢ)/N` so the only float work is one [[lnR6]]
    * per distinct count value: integer-count × exact-decimal products
    * sum exactly, and H forms in IEEE doubles at the end. Normalized
    * entropy divides by ln(n_types) for a 0-1 evenness score.
    *
    * Scale: one shuffle to (wallet, type) counts, one node-sized
    * aggregate — the same two-level shape as [[walletConcentration]]. */
  def typeEntropy(events: DataFrame): DataFrame =
    events.groupBy("user_id", "event_type")
      .agg(count(lit(1)).as("cnt"))
      .groupBy("user_id")
      .agg(sum("cnt").as("n_events"),
        count(lit(1)).as("n_types"),
        sum(col("cnt") * lnR6(col("cnt"))).as("s_clnc"))
      .select(col("user_id"), col("n_events"), col("n_types"),
        (lnR6(col("n_events")).cast("double") -
          col("s_clnc").cast("double") / col("n_events").cast("double"))
          .as("entropy"),
        when(col("n_types") > 1,
          (lnR6(col("n_events")).cast("double") -
            col("s_clnc").cast("double") / col("n_events").cast("double")) /
            lnR6(col("n_types")).cast("double"))
          .otherwise(lit(0.0)).as("norm_entropy"))

  /** A93: Benford first-digit audit per event type — organic trade
    * values follow Benford's law; fabricated/wash values cluster on
    * round leading digits (the forensic complement to
    * [[roundNumberBias]]'s trailing-zero test). The leading digit is
    * exact string arithmetic on integer cents (no log10 on data), the
    * expected shares are the nine Benford constants as literals, and
    * the only floats are per-row IEEE ratios of exact counts. */
  def benfordDigits(events: DataFrame): DataFrame = {
    val p = Map(1 -> 0.3010299956639812, 2 -> 0.17609125905568124,
      3 -> 0.12493873660829992, 4 -> 0.09691001300805642,
      5 -> 0.07918124604762482, 6 -> 0.06694678963061322,
      7 -> 0.05799194697768673, 8 -> 0.05115252244738129,
      9 -> 0.04575749056067514)
    val digits = events
      .select(col("event_type"),
        expr("cast(round(value * 100, 0) as bigint)").as("cents"))
      .filter(col("cents") > 0)
      .select(col("event_type"),
        substring(col("cents").cast("string"), 1, 1).cast("int")
          .as("digit"))
      .groupBy("event_type", "digit")
      .agg(count(lit(1)).as("n"))
    val totals = digits.groupBy("event_type")
      .agg(sum("n").as("total"))
    val benfordP = p.foldLeft(lit(null).cast("double")) {
      case (acc, (d, v)) => when(col("digit") === d, lit(v)).otherwise(acc)
    }
    digits.join(broadcast(totals), "event_type")
      .withColumn("share",
        col("n").cast("double") / col("total").cast("double"))
      .withColumn("benford_p", benfordP)
      .withColumn("dev", col("share") - col("benford_p"))
      .select("event_type", "digit", "n", "total", "share", "benford_p",
        "dev")
  }

  /** A94: CUSUM change-point detection on the per-minute event rate —
    * the sequential drift detector behind "did throughput shift?"
    * (reference `metrics.rs` event counters exist to alarm on exactly
    * this). Two-sided CUSUM with slack k = mean/2 and threshold h·σ.
    *
    * The max-reset recursion `S_t = max(0, S_{t−1} + d_t)` is not a
    * window function, but its closed form is: S_t = P_t − min(0,
    * min_{j≤t} P_j) for the prefix sums P of the drift terms — one
    * running-sum window plus one running-min window, both partitioned
    * per type over the minute spine. EXACT throughout: drift terms are
    * scaled to integers (d′ = 2M·x − 3T absorbs mean + half-mean slack
    * over M minutes and total T), and the threshold compare squares
    * both sides — `S′² > h²·4·(M·Σx² − T²)` — in Decimal(38,0), so no
    * float (let alone a σ square root) ever forms and detection is
    * bit-identical in any engine. The zero-count minutes matter (a
    * silent stream IS drift), so the spine is the full [min, max]
    * `sequence()` per type, like [[ohlcGapFill]]'s candle spine.
    *
    * Output: excursion-start minutes (crossing after a non-crossing
    * minute) per type and side, with the scaled statistic. */
  def cusumChangePoints(events: DataFrame, h: Int = 5): DataFrame = {
    val perMin = events
      .groupBy(col("event_type"),
        expr("(unix_micros(ts) div 60000000) * 60").as("minute"))
      .agg(count(lit(1)).as("x"))
    val spine = perMin.groupBy("event_type")
      .agg(min("minute").as("lo"), max("minute").as("hi"))
      .select(col("event_type"),
        explode(expr("sequence(lo, hi, 60)")).as("minute"))
    val filled = spine.join(perMin, Seq("event_type", "minute"), "left")
      .withColumn("x", coalesce(col("x"), lit(0L)))
      .localCheckpoint() // feeds totals AND the windows: one build
    val stats = filled.groupBy("event_type")
      .agg(count(lit(1)).as("m"), sum("x").as("t"),
        sum(col("x").cast("decimal(38,0)") * col("x")).as("sxx"))
    val wOrd = Window.partitionBy("event_type").orderBy("minute")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val joined = filled.join(broadcast(stats), "event_type")
      // d′ scaled by 2M: x − mean − mean/2 (upper), x − mean + mean/2 (lower)
      .withColumn("dUp",
        lit(2L) * col("m") * col("x") - lit(3L) * col("t"))
      .withColumn("dDn",
        lit(2L) * col("m") * col("x") - col("t"))
      .withColumn("pUp", sum(col("dUp").cast("decimal(38,0)")).over(wOrd))
      .withColumn("pDn", sum(col("dDn").cast("decimal(38,0)")).over(wOrd))
      .withColumn("sUp",
        col("pUp") - least(lit(0).cast("decimal(38,0)"),
          min("pUp").over(wOrd)))
      .withColumn("sDn",
        greatest(lit(0).cast("decimal(38,0)"), max("pDn").over(wOrd)) -
          col("pDn"))
    val thresh = (col("m").cast("decimal(38,0)") * col("sxx") -
      col("t").cast("decimal(38,0)") * col("t")) *
      lit(4L * h * h).cast("decimal(38,0)")
    val flagged = joined
      .withColumn("hitUp", col("sUp") * col("sUp") > thresh)
      .withColumn("hitDn", col("sDn") * col("sDn") > thresh)
    val wLag = Window.partitionBy("event_type").orderBy("minute")
    flagged
      .withColumn("prevUp",
        coalesce(lag("hitUp", 1).over(wLag), lit(false)))
      .withColumn("prevDn",
        coalesce(lag("hitDn", 1).over(wLag), lit(false)))
      .filter((col("hitUp") && !col("prevUp")) ||
        (col("hitDn") && !col("prevDn")))
      .select(col("event_type"), col("minute"),
        when(col("hitUp") && !col("prevUp"), lit("up"))
          .otherwise(lit("down")).as("side"),
        col("x").as("rate"),
        when(col("hitUp") && !col("prevUp"), col("sUp"))
          .otherwise(col("sDn")).cast("decimal(38,0)")
          .cast("string").as("cusum_scaled"))
  }

  /** A94b (batch half): CUSUM against a FIXED reference rate — the
    * online form of [[cusumChangePoints]] a live monitor actually runs:
    * μ0 is a known target (num/den events per minute), not the
    * whole-series mean, so the recursion needs no global pass and the
    * identical arithmetic runs 1:1 inside the streaming
    * `CusumProcessor` (availableNow ≡ this batch plan — the same
    * batch≡stream pinning as A8c/A17f). Detection is over OBSERVED
    * minutes (the spine variant A94 owns silent-minute semantics).
    * Integer throughout: drift terms `2·den·x − 3·num` (upper, slack
    * μ0/2) and `2·den·x − num` (lower); alarm when the max-reset
    * statistic exceeds the caller's pre-scaled integer threshold
    * (`h·σ0·2·den`). Closed form: S = P − min(0, running-min P). */
  def cusumFixed(events: DataFrame, num: Long = 4L, den: Long = 1L,
      threshScaled: Long = 20L): DataFrame = {
    val perMin = events
      .groupBy(col("event_type"),
        expr("(unix_micros(ts) div 60000000) * 60").as("minute"))
      .agg(count(lit(1)).as("x"))
    val w = Window.partitionBy("event_type").orderBy("minute")
    val wCum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perMin
      .withColumn("dUp", lit(2L * den) * col("x") - lit(3L * num))
      .withColumn("dDn", lit(2L * den) * col("x") - lit(num))
      .withColumn("pUp", sum("dUp").over(wCum))
      .withColumn("pDn", sum("dDn").over(wCum))
      .withColumn("sUp",
        col("pUp") - least(lit(0L), min("pUp").over(wCum)))
      .withColumn("sDn",
        greatest(lit(0L), max("pDn").over(wCum)) - col("pDn"))
      .withColumn("hitUp", col("sUp") > lit(threshScaled))
      .withColumn("hitDn", col("sDn") > lit(threshScaled))
      .withColumn("prevUp", coalesce(lag("hitUp", 1).over(w), lit(false)))
      .withColumn("prevDn", coalesce(lag("hitDn", 1).over(w), lit(false)))
      .filter((col("hitUp") && !col("prevUp")) ||
        (col("hitDn") && !col("prevDn")))
      .select(col("event_type"), col("minute"),
        when(col("hitUp") && !col("prevUp"), lit("up"))
          .otherwise(lit("down")).as("side"),
        col("x").as("rate"),
        when(col("hitUp") && !col("prevUp"), col("sUp"))
          .otherwise(col("sDn")).as("cusum_scaled"))
  }

  /** A96: Lo-MacKinlay variance-ratio test per type — VR(k) =
    * Var(k-period Δ) / (k · Var(1-period Δ)) over the gap-filled hourly
    * close series; VR ≈ 1 is a random walk, < 1 mean reversion, > 1
    * momentum/trending (the regime gauge behind [[momentumIC]]'s
    * cross-sectional signal). Price changes are CENT DIFFERENCES, not
    * log returns, so every moment (Σd, Σd², ΣD, ΣD²) accumulates in
    * Decimal(38,0) exactly and the ratio is one IEEE division of agreed
    * integers — no transcendental boundary needed at all.
    *
    * Shape: candle-table input; the carry-forward spine (same
    * construction as [[ohlcGapFill]], kept in integer cents) makes
    * every lag land on a real hour, so `lag(k)` needs no gap predicate;
    * two lag windows partitioned per type. */
  def varianceRatio(events: DataFrame, k: Int = 4): DataFrame = {
    val closes = events
      .select(col("event_type"),
        expr("(unix_micros(ts) div 3600000000) * 3600").as("hb"),
        expr("cast(round(value * 100, 0) as bigint)").as("cents"),
        tsUs.as("tu"), col("event_id"))
      .groupBy("event_type", "hb")
      .agg(max_by(col("cents"), struct(col("tu"), col("event_id")))
        .as("c"))
    val spine = closes.groupBy("event_type")
      .agg(min("hb").as("lo"), max("hb").as("hi"))
      .select(col("event_type"),
        explode(expr("sequence(lo, hi, 3600)")).as("hb"))
    val wFfill = Window.partitionBy("event_type").orderBy("hb")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = spine.join(closes, Seq("event_type", "hb"), "left")
      .withColumn("c", last("c", ignoreNulls = true).over(wFfill))
    val wLag = Window.partitionBy("event_type").orderBy("hb")
    val diffs = filled
      .withColumn("d", (col("c") - lag("c", 1).over(wLag))
        .cast("decimal(38,0)"))
      .withColumn("dk", (col("c") - lag("c", k).over(wLag))
        .cast("decimal(38,0)"))
    diffs.groupBy("event_type")
      .agg(
        count(col("d")).cast("decimal(38,0)").as("n1"),
        sum(col("d")).as("s1"), sum(col("d") * col("d")).as("q1"),
        count(col("dk")).cast("decimal(38,0)").as("nk"),
        sum(col("dk")).as("sk"), sum(col("dk") * col("dk")).as("qk"))
      .filter(col("n1") > 1 && col("nk") > 1)
      .select(col("event_type"), lit(k).as("k"),
        col("n1").cast("bigint").as("n_periods"),
        when(col("n1") * col("q1") - col("s1") * col("s1") =!= 0,
          ((col("nk") * col("qk") - col("sk") * col("sk")).cast("double") /
            (col("nk") * col("nk")).cast("double")) /
            (lit(k.toDouble) *
              (col("n1") * col("q1") - col("s1") * col("s1"))
                .cast("double") /
              (col("n1") * col("n1")).cast("double")))
          .as("vr"))
  }

  /** A99: DAU/WAU/MAU stickiness — the engagement ratio dashboard over
    * the wallet-activity stream (DAU/MAU is the classic product-health
    * number; for wallets it separates a protocol's daily core from
    * monthly tourists). EXACT trailing distincts: a distinct-over-range
    * window doesn't exist, so each (user, active-day) row fans out to
    * the ≤ `windowDays` future days it covers, dedupes, and counts —
    * coverage fan-out is user-days × 37, a bounded constant factor on
    * a table that is already the distinct compaction of the raw events
    * (at 100 TB user-days ≪ events; the fan-out ships longs). Only
    * days inside the observed range emit (no spine extrapolation).
    *
    * Shape: one distinct on (user, day), two bounded explodes, three
    * keyed counts, broadcast-joined on the day key. */
  def stickiness(events: DataFrame): DataFrame = {
    val ud = events
      .select(col("user_id"),
        expr("unix_micros(ts) div 86400000000").as("db"))
      .distinct()
      .localCheckpoint() // three consumers; the distinct runs once
    val dau = ud.groupBy("db").agg(count(lit(1)).as("dau"))
    def trailing(days: Int, name: String) = ud
      .select(col("user_id"),
        explode(expr(s"sequence(db, db + ${days - 1})")).as("db"))
      .distinct()
      .groupBy("db").agg(count(lit(1)).as(name))
    // the inner join on DAU days bounds output to observed-activity
    // days (coverage rows past the data range never find a DAU match)
    dau
      .join(trailing(7, "wau"), "db")
      .join(trailing(30, "mau"), "db")
      .select((col("db") * 86400).as("day"), col("dau"), col("wau"),
        col("mau"),
        (col("dau").cast("double") / col("mau").cast("double"))
          .as("stickiness"))
  }

  /** A100: Hill tail-index estimator per type — the power-law exponent
    * of the value distribution's upper tail (whale-heaviness in one
    * number: α ≈ 1 is extreme concentration, α > 2 has finite
    * variance). α̂ = k / Σᵢ₌₁..k (ln x₍ᵢ₎ − ln x₍ₖ₊₁₎) over the top-k
    * order statistics on the (cents, event_id) total order; the log
    * spacings go through the round-6 boundary so the sum is exact and
    * the estimator is one IEEE division.
    *
    * Shape: the same per-type rank window as [[winsorizedStats]]
    * (top-(k+1) filter immediately after), a broadcast join of the
    * k+1-th threshold, one keyed aggregate. */
  def hillTail(events: DataFrame, k: Int = 100): DataFrame = {
    val t = events.select(col("event_type"),
      expr("cast(round(value * 100, 0) as bigint)").as("cents"),
      col("event_id"))
      .filter(col("cents") > 0)
    val w = Window.partitionBy("event_type")
      .orderBy(col("cents").desc, col("event_id").desc)
    val ranked = t.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k + 1)
      .localCheckpoint() // top-(k+1) per type: metadata-sized
    val thresh = ranked.filter(col("rk") === k + 1)
      .select(col("event_type"), lnR6(col("cents")).as("ln_thresh"),
        col("cents").as("x_k1_cents"))
    ranked.filter(col("rk") <= k)
      .join(broadcast(thresh), "event_type")
      .groupBy("event_type")
      .agg(count(lit(1)).as("k_used"),
        first("x_k1_cents").as("x_k1_cents"),
        sum(lnR6(col("cents")) - col("ln_thresh")).as("s"))
      .select(col("event_type"), col("k_used"), col("x_k1_cents"),
        // s = 0 ⟺ the top k+1 values are ALL identical (every ln diff
        // vanishes) — a replicated/flat-tail corpus produces exactly
        // this at density (witnessed: ANSI divide-by-zero at sf100).
        // The tail index is undefined there (α → ∞); emit NULL, which
        // both engines agree on, instead of throwing or NaN
        when(col("s") =!= 0,
          col("k_used").cast("double") / col("s").cast("double"))
          .as("alpha"))
  }

  /** A98: MAD-based outlier labeling per type — the robust sibling of
    * z-scores for wash/fat-finger value screens: a row is an outlier
    * when |x − median| > k · MAD (median absolute deviation). Both
    * medians are exact LOWER medians (rank `(n+1) div 2` on the
    * (value, event_id) total order), so the thresholds are integers
    * both engines pick identically — no interpolation, no floats until
    * the per-row deviation ratio. Types whose MAD is zero (over half
    * the values identical) emit nothing, by construction.
    *
    * Shape: two type-partitioned rank windows (values, then absolute
    * deviations), thresholds broadcast back, one filter — the same
    * per-type-sort bound as [[winsorizedStats]]. */
  def madOutliers(events: DataFrame, k: Int = 5): DataFrame = {
    val t = events.select(col("event_type"), col("event_id"),
      expr("cast(round(value * 100, 0) as bigint)").as("cents"))
    val wMed = Window.partitionBy("event_type")
      .orderBy(col("cents"), col("event_id"))
    val med = t
      .withColumn("rk", row_number().over(wMed))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("event_type")))
      .filter(col("rk") === expr("(n + 1) div 2"))
      .select(col("event_type"), col("cents").as("med_cents"))
    val dev = t.join(broadcast(med), "event_type")
      .withColumn("adev", abs(col("cents") - col("med_cents")))
    val wMad = Window.partitionBy("event_type")
      .orderBy(col("adev"), col("event_id"))
    val mad = dev
      .withColumn("rk", row_number().over(wMad))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("event_type")))
      .filter(col("rk") === expr("(n + 1) div 2"))
      .select(col("event_type"), col("adev").as("mad_cents"))
    dev.join(broadcast(mad), "event_type")
      .filter(col("mad_cents") > 0 &&
        col("adev") > lit(k.toLong) * col("mad_cents"))
      .select(col("event_type"), col("event_id"), col("cents"),
        col("med_cents"), col("mad_cents"),
        (col("adev").cast("double") / col("mad_cents").cast("double"))
          .as("dev_ratio"))
  }

  /** A97: winsorized value statistics per type — the robust mean after
    * clipping at exact integer-rank percentiles (default p1/p99), the
    * whale-insensitive counterpart of [[valueStats]] (a single 1e9-cent
    * print moves a plain mean; the winsorized one bounds any row's
    * influence at the p99 threshold). Thresholds use the ceiling-rank
    * convention `idx = ⌈n·p/100⌉` on the (value, event_id) total order
    * — the same integer-rank percentile rule as
    * [[equiDepthHistogram]], so both engines pick the identical row.
    *
    * Shape: one type-partitioned rank window (the per-type sort is the
    * cost; same bound as every per-type-ordered operator here), the
    * two threshold rows fished out by rank and broadcast back, one
    * exact-decimal aggregate. */
  def winsorizedStats(events: DataFrame, pLo: Int = 1, pHi: Int = 99)
      : DataFrame = {
    val t = events.select(col("event_type"),
      expr("cast(round(value * 100, 0) as bigint)").as("cents"),
      col("event_id"))
    val w = Window.partitionBy("event_type")
      .orderBy(col("cents"), col("event_id"))
    val ranked = t
      .withColumn("rk", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("event_type")))
    val bounds = ranked
      .filter(col("rk") === expr(s"-((-n * $pLo) div 100)") ||
        col("rk") === expr(s"-((-n * $pHi) div 100)"))
      .groupBy("event_type")
      .agg(min("cents").as("lo_cents"), max("cents").as("hi_cents"))
    t.join(broadcast(bounds), "event_type")
      .withColumn("clipped",
        greatest(col("lo_cents"), least(col("hi_cents"), col("cents"))))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        first("lo_cents").as("lo_cents"),
        first("hi_cents").as("hi_cents"),
        count(when(col("cents") < col("lo_cents"), 1)).as("n_clip_lo"),
        count(when(col("cents") > col("hi_cents"), 1)).as("n_clip_hi"),
        sum(col("clipped")).as("clipped_cents"))
      .withColumn("winsorized_mean",
        col("clipped_cents").cast("double") / lit(100.0) /
          col("n").cast("double"))
  }

  /** A103: execution slippage vs the hourly size-weighted VWAP — the
    * per-venue execution-quality report (how far, in cents, the average
    * filled unit printed from the hour's volume-weighted price). Size
    * comes from the payload `k` field ([[jsonProps]]'s extraction), so
    * the benchmark is a true VWAP, not [[twap1h]]'s time weighting.
    * With per-hour totals K = Σq and C = Σ c·q, each fill's deviation
    * from VWAP C/K is kept rational: the hour's size-weighted absolute
    * deviation is Σ q·|c·K − C| / K² — every term an exact
    * Decimal(38,0) product (c·K ~ 10¹⁶ at lamport magnitudes, ×q and
    * summed stays ≪ 10³⁸), with IEEE division only in the final
    * projection.
    *
    * Shape: one keyed aggregate builds the (type, hour) totals —
    * calendar-bounded (types × hours, ~10⁵ rows/decade), so they
    * broadcast back — then one more keyed aggregate over the same key.
    * Two shuffles of map-side-combined partials; fills never shuffle
    * twice. */
  def vwapSlippage(events: DataFrame): DataFrame = {
    val t = events.select(col("event_type"),
      expr("(unix_micros(ts) div 3600000000) * 3600").as("hour"),
      expr("cast(round(value * 100, 0) as bigint)")
        .cast("decimal(38,0)").as("c"),
      expr("cast(regexp_extract(props, '[0-9]+', 0) as bigint)")
        .cast("decimal(38,0)").as("q"))
      .filter(col("q") > 0)
    val tot = t.groupBy("event_type", "hour")
      .agg(sum("q").as("kk"), sum(col("c") * col("q")).as("cc"))
    t.join(broadcast(tot), Seq("event_type", "hour"))
      .groupBy("event_type", "hour")
      .agg(count(lit(1)).as("n_fills"),
        first("kk").as("kk"), first("cc").as("cc"),
        sum(col("q") * abs(col("c") * col("kk") - col("cc"))).as("dev"))
      .select(col("event_type"), col("hour"), col("n_fills"),
        col("kk").cast("bigint").as("total_qty"),
        (col("cc").cast("double") / col("kk").cast("double"))
          .as("vwap_cents"),
        (col("dev").cast("double") /
          (col("kk") * col("kk")).cast("double")).as("slip_cents"))
  }

  /** A104: market beta per type — the OLS slope (and intercept) of a
    * type's hourly cent-volume on the whole market's hourly total, the
    * systematic-exposure companion of [[seriesCorrelation]]'s
    * correlation (β answers "how many cents does this type move per
    * market cent", which a unit-free ρ cannot). Moments accumulate in
    * Decimal(38,0) under the kyleLambda exactness contract (n·Σxm at
    * decade scale ~10³⁷ — inside precision 38; past that ANSI-off
    * nulls, documented not silent-wrong), β = (nΣxm − ΣxΣm)/(nΣmm −
    * (Σm)²) is one IEEE division of exact integers, and
    * α = Σx/n − β·Σm/n closes in doubles with a shared literal
    * expression tree both engines evaluate identically. Hours where
    * the type printed nothing are skipped (same common-hours
    * convention as seriesCorrelation, documented: β is conditional on
    * the type being active).
    *
    * Shape: one keyed hourly aggregate (checkpointed once — the market
    * series and the per-type join both read it), the hour-count-sized
    * market series broadcast back, one keyed moment aggregate. */
  def marketBeta(events: DataFrame): DataFrame = {
    val hourly = events.groupBy(col("event_type"),
        expr("(unix_micros(ts) div 3600000000) * 3600").as("hb"))
      .agg(sum(expr("cast(round(value * 100, 0) as bigint)"))
        .cast("decimal(38,0)").as("x"))
      .localCheckpoint() // two consumers: market totals + the moment join
    val market = hourly.groupBy("hb").agg(sum("x").as("m"))
    val mom = hourly.join(broadcast(market), "hb")
      .groupBy("event_type")
      .agg(count(lit(1)).cast("decimal(38,0)").as("n"),
        sum(col("x")).as("sx"), sum(col("m")).as("sm"),
        sum(col("x") * col("m")).as("sxm"),
        sum(col("m") * col("m")).as("smm"))
    val num = (col("n") * col("sxm") - col("sx") * col("sm"))
      .cast("double")
    // den = 0 when a type is active in exactly one hour or the market
    // total is constant over its active hours — degenerate regression.
    // Engines disagree on 0/0 (NaN vs NULL vs error), so both sides pin
    // NULL: here via the guard, in the oracle via nullif. alpha inherits
    // the NULL through arithmetic propagation.
    val den = nullif(
      (col("n") * col("smm") - col("sm") * col("sm")).cast("double"), lit(0d))
    mom.select(col("event_type"), col("n").cast("bigint").as("n_hours"),
        (num / den).as("beta"),
        (col("sx").cast("double") / col("n").cast("double") -
          (num / den) *
            (col("sm").cast("double") / col("n").cast("double")))
          .as("alpha_cents"))
  }

  /** A105: seasonality-adjusted anomaly detection — hours whose event
    * count exceeds `mult` × the type's hour-of-day median baseline.
    * [[rateSpikes]] z-scores against a single global mean, so a 9 am
    * rush looks anomalous every day; this baseline is the exact lower
    * median of the SAME clock slot across days (rank `(n+1) div 2` on
    * the (count, hour) total order — the madOutliers convention), so
    * only departures from the diurnal pattern fire. The verdict is an
    * integer compare — no floats anywhere.
    *
    * Shape: one keyed hourly count (checkpointed — ranked and joined),
    * a (type × 24)-slot rank window whose partitions are day-count
    * sized, the tiny baseline table broadcast back, one filter. */
  def seasonalAnomalies(events: DataFrame, mult: Int = 2): DataFrame = {
    val perHour = hourlyCounts(events).localCheckpoint()
    perHour.join(broadcast(seasonalBaseline(perHour)),
        Seq("event_type", "hod"))
      .filter(col("c") > col("baseline") * mult)
      .select(col("event_type"), (col("hb") * 3600).as("hour"),
        col("hod"), col("c").as("n"), col("baseline"))
  }

  /** (type, hour-bucket, hour-of-day, count) spine shared by the batch
    * detector and the streaming pair. */
  private[graft] def hourlyCounts(events: DataFrame): DataFrame =
    events.groupBy(col("event_type"),
        expr("unix_micros(ts) div 3600000000").as("hb"))
      .agg(count(lit(1)).as("c"))
      .withColumn("hod", expr("hb % 24"))

  /** The hour-of-day median baseline table (types × 24 — broadcastable
    * anywhere), exposed so the STREAMING detector can score live hours
    * against the same slot medians the batch path uses. */
  private[graft] def seasonalBaseline(perHour: DataFrame): DataFrame = {
    val slot = Window.partitionBy("event_type", "hod")
    perHour
      .withColumn("rk",
        row_number().over(slot.orderBy(col("c"), col("hb"))))
      .withColumn("nd", count(lit(1)).over(slot))
      .filter(col("rk") === expr("(nd + 1) div 2"))
      .select(col("event_type"), col("hod"), col("c").as("baseline"))
  }

  /** A106: weekly growth accounting — each week's active wallets
    * decomposed into NEW (first week ever), RETAINED (also active last
    * week) and RESURRECTED (active before, silent last week), plus the
    * CHURNED count (active last week, silent now). The standard
    * active-base bridge: active_t = new + retained + resurrected and
    * churned_t = active_{t−1} − retained_t — both identities pinned in
    * the spec. [[retention]]/[[cohortRetention]] follow a signup cohort
    * forward; this is the period-over-period bridge an operating review
    * reads. Pure integer set algebra — no floats anywhere.
    *
    * Shape: one (user, week) distinct (checkpointed — three readers),
    * a user-keyed first-week aggregate, one full-outer self-align on
    * (user, week+1), one keyed count. Everything shuffles on user_id
    * once; weekly output is calendar-bounded. */
  def walletChurn(events: DataFrame): DataFrame = {
    val uw = events.select(col("user_id"),
        expr("unix_micros(ts) div 604800000000").as("wk"))
      .distinct()
      .localCheckpoint()
    val firstWk = uw.groupBy("user_id").agg(min("wk").as("first_wk"))
    val cur = uw.withColumn("cur", lit(1))
    val prev = uw.select(col("user_id"), (col("wk") + 1).as("wk"))
      .withColumn("prv", lit(1))
    cur.join(prev, Seq("user_id", "wk"), "full_outer")
      .join(firstWk, Seq("user_id"))
      .groupBy("wk")
      .agg(
        count(when(col("cur") === 1 && col("prv").isNull &&
          col("wk") === col("first_wk"), 1)).as("new_wallets"),
        count(when(col("cur") === 1 && col("prv") === 1, 1))
          .as("retained"),
        count(when(col("cur") === 1 && col("prv").isNull &&
          col("wk") > col("first_wk"), 1)).as("resurrected"),
        count(when(col("cur").isNull && col("prv") === 1, 1))
          .as("churned"))
      .select((col("wk") * 604800).as("week"), col("new_wallets"),
        col("retained"), col("resurrected"), col("churned"),
        (col("new_wallets") + col("retained") + col("resurrected"))
          .as("active"))
  }

  /** A107: RFM wallet scoring — recency / frequency / monetary
    * quintiles (1-5) per wallet, the standard segmentation input for
    * retention campaigns and whale desks. Scores are EXACT integer
    * quintiles of the global rank: score = ((rank−1)·5) div n + 1 on
    * the (metric, user_id) total order — no ntile tie ambiguity, no
    * percentile interpolation, bit-identical across engines.
    *
    * Shape: one user-keyed aggregate, then three [[GlobalOrder]] ranks
    * on (metric, user_id). NO unpartitioned window anywhere — at 10⁹
    * wallets each rank is a range sort, not a one-task funnel. */
  def walletRfm(events: DataFrame): DataFrame = {
    val per = events.groupBy("user_id")
      .agg(max(tsUs).as("last_us"), count(lit(1)).as("n_events"),
        sum(expr("cast(round(value * 100, 0) as bigint)"))
          .as("monetary_cents"))
      .localCheckpoint() // three rank passes + the final join read it
    val n = per.count()
    def score(metric: String): DataFrame =
      GlobalOrder(per.select(col("user_id"), col(metric)),
          Seq(col(metric), col("user_id")))
        .withPosition("rk")
        .select(col("user_id"),
          expr(s"cast(((rk - 1) * 5) div $n + 1 as int)")
            .as(s"${metric.take(1)}_score"))
    per
      .join(score("last_us"), "user_id")
      .join(score("n_events"), "user_id")
      .join(score("monetary_cents"), "user_id")
      .select(col("user_id"),
        col("last_us"), col("n_events"), col("monetary_cents"),
        col("l_score").as("r_score"), col("n_score").as("f_score"),
        col("m_score"),
        (col("l_score") * 100 + col("n_score") * 10 + col("m_score"))
          .as("rfm"))
  }

  /** A108: stationary type mix of the per-user behavior chain — the
    * long-run share of each event type under the Markov chain
    * [[typeTransitions]] counts (where user journeys settle, vs the
    * raw frequency mix [[countsByType]] reports; the gap between the
    * two is the drift a funnel analysis chases). Ten power-iteration
    * steps in pure integer arithmetic under the PageRank contract:
    * transition probabilities fix to the 1e-6 grid
    * (p₆ = (c·10⁶) div rowTotal — c·10⁶ overflows a long, an error,
    * once one ordered pair exceeds ~9·10¹² transitions, documented like
    * the A56 moment domain), mass flows as (π·p₆) div 10⁶ with π on a 10¹² scale, so
    * every step is truncating-exact and the fixed point is
    * bit-identical to the oracle's unrolled CTEs. Types with no
    * outgoing transition (only ever a user's final event) leave the
    * chain, documented; truncation leaks ≤ 10⁻⁶ relative mass/step.
    *
    * Shape: one lead window (user-partitioned) + one keyed count build
    * the type × type matrix — TINY (k² rows) at any corpus size, and
    * past [[MaxChainTypes]] types an error — collected once; every
    * iteration runs on the driver. The corpus is read exactly once. */
  def stationaryTypeMix(events: DataFrame, iterations: Int = 10)
      : DataFrame = {
    val chain = typeChain(events)
    val ts = chain.sources
    val scale = 1000000000000L
    var pi = ts.map(t => t -> (scale / ts.length)).toMap
    for (_ <- 1 to iterations) {
      val inc = scala.collection.mutable.HashMap.empty[String, Long]
      chain.p6.foreach { case (a, b, p6) =>
        inc(b) = inc.getOrElse(b, 0L) + (pi(a) * p6) / 1000000L
      }
      pi = ts.map(t => t -> inc.getOrElse(t, 0L)).toMap
    }
    val spark = events.sparkSession
    import spark.implicits._
    ts.map(t => (t, pi(t), pi(t).toDouble / scale.toDouble))
      .toDF("event_type", "pr", "share")
  }

  /** A109: last-digit uniformity audit — the χ² statistic of the cent
    * amounts' final digit per type, [[benfordDigits]]' forensic
    * complement: first digits follow Benford on organic magnitudes,
    * LAST digits of genuine prices are near-uniform, and operator-set
    * wash amounts (round numbers, fixed ticket sizes) crater specific
    * digits. Absent digits are real evidence, so the statistic
    * completes the support: χ² = [Σ_obs((10·o_d − n)² − n²) + 10·n²]
    * / (10n) — every term an exact Decimal(38,0) product (n² wraps a
    * long past ~3·10⁹ rows per type), one IEEE division at the close.
    *
    * Shape: two keyed aggregates ((type, digit) then type) with
    * map-side partials; digits-per-type is ≤ 10 rows. */
  def lastDigitUniformity(events: DataFrame): DataFrame = {
    val d = events
      .select(col("event_type"),
        expr("cast(round(value * 100, 0) as bigint)").as("cents"))
      .filter(col("cents") > 0)
      .groupBy(col("event_type"), expr("cents % 10").as("digit"))
      .agg(count(lit(1)).cast("decimal(38,0)").as("o"))
    d.groupBy("event_type")
      .agg(sum("o").as("n"), count(lit(1)).as("nd"),
        sum(col("o") * col("o")).as("oo"))
      .select(col("event_type"), col("n").cast("bigint").as("n"),
        col("nd").as("n_digits"),
        // Σ(10o−n)² = 100·Σo² − 20n·Σo + nd·n² over observed digits;
        // absent digits add (10−nd)·n²  ⇒ total = 100Σo² − 20n² + 10n²
        ((lit(100).cast("decimal(38,0)") * col("oo") -
          lit(10).cast("decimal(38,0)") * col("n") * col("n"))
          .cast("double") /
          (lit(10).cast("decimal(38,0)") * col("n")).cast("double"))
          .as("chi2"))
  }

  /** A112: absorption probability — for every event type, the chance a
    * user journey starting there reaches `target` before `trap` under
    * the [[typeTransitions]] Markov chain (the funnel question "does a
    * session at state X convert or die?", answered from structure
    * instead of path counting — [[funnel]] counts one fixed path, this
    * scores every state against ALL paths). `target`/`trap` are made
    * absorbing by dropping their outgoing transitions; `iterations`
    * value-iteration steps under the A108 integer contract (p₆ grid
    * transitions, 10¹² probability scale, per-edge truncating
    * `(p6·p) div 10⁶` flow) make p_k(t) = P(absorb at target within k
    * steps) — monotone in k, bit-identical to the oracle's unrolled
    * CTEs. Dangling non-absorbing types (no outflow) stay at 0,
    * documented; truncation under-counts by ≤ 10⁻⁶ relative per step.
    *
    * Shape: identical to A108 — the same collected k²-row matrix
    * iterates on the driver; the corpus is read once. */
  def absorptionProbabilities(events: DataFrame,
      target: String = "purchase", trap: String = "error",
      iterations: Int = 10): DataFrame = {
    val chain = typeChain(events)
    val ts = chain.types
    val tm = chain.p6.filter { case (a, _, _) => a != target && a != trap }
    val scale = 1000000000000L
    var p = ts.map(t => t -> (if (t == target) scale else 0L)).toMap
    for (_ <- 1 to iterations) {
      val inc = scala.collection.mutable.HashMap.empty[String, Long]
      tm.foreach { case (a, b, p6) =>
        inc(a) = inc.getOrElse(a, 0L) + (p6 * p(b)) / 1000000L
      }
      p = ts.map { t =>
        t -> (if (t == target) scale
              else if (t == trap) 0L
              else inc.getOrElse(t, 0L))
      }.toMap
    }
    val spark = events.sparkSession
    import spark.implicits._
    ts.map(t => (t, p(t), p(t).toDouble / 1e12))
      .toDF("event_type", "p", "prob")
  }

  /** A110: FIFO trade matching — each sell consumes the OLDEST
    * unconsumed unit-size buy of its wallet (the inventory engine
    * behind holding-period and tax-lot reports; [[realizedPnl]] marks
    * against the running AVERAGE cost, this recovers the individual
    * lot). A sell arriving with empty inventory is a short and stays
    * unmatched — the parenthesis-matching closed form makes that a
    * window expression, not a recursion: with sells ranked k and
    * `nb` = buys strictly before, excess = k − nb, the unmatched count
    * in any prefix is max(0, running-max excess), so sell k is matched
    * iff its excess does NOT set a new positive record, and then pairs
    * with buy number k − unmatchedBefore. Every quantity is an integer
    * rank/count; the buy is PROVABLY earlier (inventory ≥ 1 at the
    * sell), so holding_us ≥ 0 by construction.
    *
    * Shape: two user-partitioned window passes over the filtered
    * stream (rank + running max — no self-join), then one equi-join of
    * matched sells to buys on (user, lot rank): all shuffles key on
    * user_id; nothing global. */
  def fifoMatches(events: DataFrame,
      buyType: String = "purchase", sellType: String = "view"): DataFrame = {
    val ordered = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val t = events
      .filter(col("event_type").isin(buyType, sellType))
      .select(col("event_id"), col("user_id"), tsUs.as("ts_us"),
        col("event_type"))
      .withColumn("nb",
        sum(when(col("event_type") === buyType, 1L).otherwise(0L))
          .over(ordered.rowsBetween(Window.unboundedPreceding,
            Window.currentRow - 1)))
      .withColumn("nb", coalesce(col("nb"), lit(0L)))
      .localCheckpoint() // buys and sells branch from one windowed pass
    val buys = t.filter(col("event_type") === buyType)
      .withColumn("lot", row_number().over(ordered).cast("bigint"))
      .select(col("user_id"), col("lot"),
        col("event_id").as("buy_id"), col("ts_us").as("buy_ts_us"))
    val sellW = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val sells = t.filter(col("event_type") === sellType)
      .withColumn("k", row_number().over(sellW).cast("bigint"))
      .withColumn("excess", col("k") - col("nb"))
      .withColumn("prior_max",
        max("excess").over(sellW.rowsBetween(Window.unboundedPreceding,
          Window.currentRow - 1)))
      .withColumn("unmatched_before",
        greatest(coalesce(col("prior_max"), lit(0L)), lit(0L)))
      // a sell whose excess beats every prior positive record finds the
      // inventory empty — it opens a short, not a lot closure
      .filter(col("excess") <= col("unmatched_before"))
      .select(col("user_id"), (col("k") - col("unmatched_before")).as("lot"),
        col("event_id").as("sell_id"), col("ts_us").as("sell_ts_us"))
    sells.join(buys, Seq("user_id", "lot"))
      .select(col("user_id"), col("lot"), col("buy_id"), col("sell_id"),
        col("buy_ts_us"), col("sell_ts_us"),
        (col("sell_ts_us") - col("buy_ts_us")).as("holding_us"))
  }

  /** A113: dropped-data accounting for every capped operator family —
    * the "no silent caps" contract made first-class output. Each row
    * reports one cap family's bucket population: how many buckets
    * exist, how many run over the cap (and therefore degrade under the
    * rank cap / vanish under the drop filter), and the unit totals a
    * capped run keeps vs sheds. This is the batch analog of the
    * reference's dropped-event counters on its bounded subscription
    * queues (`common/subscription.rs`): the consumer always sees HOW
    * MUCH the bound cost, instead of inferring it from silence.
    *
    * Families (cap in the row):
    *  - `coactivity_hour_wallets` — distinct wallets per (market, hour)
    *    bucket vs the graph family's `maxGroupSize` (A71–A102).
    *  - `wash_hour_buyers` / `wash_hour_sellers` — per-hour side
    *    membership vs [[washPairs]]' `maxBucketWallets`.
    *  - `sandwich_hour_trades` — per-hour trade count vs
    *    [[sandwichTrades]]' `maxBucketTrades`.
    *
    * Exact integers end to end; each family is one keyed count plus a
    * metadata-sized rollup — the accounting costs one aggregate per
    * family, never a pair fan-out. */
  def capAccounting(
      events: DataFrame,
      coactivityCap: Int = 16,
      washCap: Int = 1024,
      sandwichCap: Int = 1024): DataFrame = {
    def rollup(buckets: DataFrame, family: String, cap: Int): DataFrame =
      buckets
        .agg(count(lit(1)).as("n_buckets"),
          coalesce(sum(when(col("n") > cap, 1L).otherwise(0L)), lit(0L))
            .as("n_buckets_capped"),
          coalesce(sum(col("n")), lit(0L)).as("units_total"),
          coalesce(sum(least(col("n"), lit(cap.toLong))), lit(0L))
            .as("units_kept"))
        .select(lit(family).as("family"), lit(cap.toLong).as("cap"),
          col("n_buckets"), col("n_buckets_capped"), col("units_total"),
          col("units_kept"),
          (col("units_total") - col("units_kept")).as("units_dropped"))
    val coact = events
      .select(col("event_type"),
        expr("unix_micros(ts) div 3600000000").as("mb"), col("user_id"))
      .distinct()
      .groupBy("event_type", "mb").agg(count(lit(1)).as("n"))
      .filter(col("n") >= 2) // singleton buckets produce no pairs ever
    val sides = events
      .filter(col("event_type").isin("purchase", "view"))
      .groupBy(expr("unix_micros(ts) div 3600000000").as("mb"),
        col("user_id"))
      .agg(count(when(col("event_type") === "purchase", 1)).as("nb"),
        count(when(col("event_type") === "view", 1)).as("ns"))
      .localCheckpoint() // feeds both side rollups
    val buyers = sides.filter(col("nb") > 0)
      .groupBy("mb").agg(count(lit(1)).as("n"))
    val sellers = sides.filter(col("ns") > 0)
      .groupBy("mb").agg(count(lit(1)).as("n"))
    val sand = events
      .filter(col("event_type").isin("purchase", "view"))
      .groupBy(expr("unix_micros(ts) div 3600000000").as("mb"))
      .agg(count(lit(1)).as("n"))
    rollup(coact, "coactivity_hour_wallets", coactivityCap)
      .unionAll(rollup(buyers, "wash_hour_buyers", washCap))
      .unionAll(rollup(sellers, "wash_hour_sellers", washCap))
      .unionAll(rollup(sand, "sandwich_hour_trades", sandwichCap))
  }

  /** A111: diurnal concentration — how much of a type's activity piles
    * onto few clock-hours: Herfindahl over the 24 hour-of-day slots
    * (uniform → 1/24, single-hour bot → 1) plus the peak slot and its
    * share. [[seasonalAnomalies]] flags individual hours against the
    * diurnal baseline; this scores the SHAPE of the baseline itself —
    * the "is this type organic or cron-driven" triage number. Exact
    * integer counts and Σc² products; two double divisions at the
    * output boundary.
    *
    * Shape: one (type, hod) keyed count with map-side partials, then a
    * ≤24-row-per-type aggregate (max_by for the peak, min-hod
    * tie-break via the struct order). */
  def diurnalConcentration(events: DataFrame): DataFrame =
    events
      .groupBy(col("event_type"),
        expr("(unix_micros(ts) div 3600000000) % 24").as("hod"))
      .agg(count(lit(1)).as("c"))
      .groupBy("event_type")
      .agg(sum("c").cast("decimal(38,0)").as("n"),
        sum(col("c").cast("decimal(38,0)") * col("c")).as("cc"),
        max_by(col("hod"), struct(col("c"), -col("hod"))).as("peak_hod"),
        max(struct(col("c"), -col("hod"))).getField("c").as("peak_c"))
      .select(col("event_type"), col("n").cast("bigint").as("n"),
        (col("cc").cast("double") /
          (col("n") * col("n")).cast("double")).as("hhi_hod"),
        col("peak_hod"),
        (col("peak_c").cast("double") / col("n").cast("double"))
          .as("peak_share"))

  /** A114: Wald–Wolfowitz runs test on each wallet's trade-sign
    * sequence — the randomness screen that catches BOTH directions the
    * moment-based screens miss: far too MANY runs (z ≫ 0, mechanical
    * buy/sell alternation — wash cycling, ping-pong market making) and
    * far too FEW (z ≪ 0, long one-sided streaks — momentum ignition,
    * accumulation bots). Signs follow the vpin convention (buyType vs
    * sellType events); runs R count maximal same-sign streaks in
    * (ts, event_id) order. n_buy/n_sell/n_runs are exact integers; the
    * normal approximation uses E = 1 + 2·n1·n2/n and the identity
    * V = (E−1)(E−2)/(n−1), so e_runs/z are a fixed dag of IEEE ops
    * over exact integers — bit-identical in any engine (minTrades ≥ 3
    * with both sides present makes V > 0, so z never divides by zero).
    *
    * Shape: one filtered scan, a lag window per user (state = one
    * row), one keyed aggregate — linear, no joins; user partitions are
    * millions-wide at production scale so the window parallelizes. */
  def signRunsTest(events: DataFrame, buyType: String = "purchase",
      sellType: String = "view", minTrades: Int = 10): DataFrame = {
    require(minTrades >= 3, s"minTrades must be >= 3, got $minTrades")
    val w = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
    events.filter(col("event_type").isin(buyType, sellType))
      .select(col("user_id"), tsUs.as("ts_us"), col("event_id"),
        when(col("event_type") === buyType, lit(1)).otherwise(lit(0))
          .as("sgn"))
      .withColumn("chg",
        when(lag("sgn", 1).over(w).isNull
          || lag("sgn", 1).over(w) =!= col("sgn"), lit(1L))
          .otherwise(lit(0L)))
      .groupBy("user_id")
      .agg(sum(when(col("sgn") === 1, lit(1L)).otherwise(lit(0L)))
          .as("n_buy"),
        sum(when(col("sgn") === 0, lit(1L)).otherwise(lit(0L)))
          .as("n_sell"),
        sum("chg").as("n_runs"))
      .filter(col("n_buy") > 0 && col("n_sell") > 0
        && col("n_buy") + col("n_sell") >= minTrades)
      .withColumn("e_runs",
        lit(1.0) + (lit(2L) * col("n_buy") * col("n_sell")).cast("double")
          / (col("n_buy") + col("n_sell")).cast("double"))
      .select(col("user_id"), col("n_buy"), col("n_sell"), col("n_runs"),
        col("e_runs"),
        ((col("n_runs").cast("double") - col("e_runs")) /
          sqrt((col("e_runs") - lit(1.0)) * (col("e_runs") - lit(2.0)) /
            (col("n_buy") + col("n_sell") - lit(1L)).cast("double")))
          .as("z_runs"))
  }

  /** A115: Hurst exponent per type via the aggregated-variance method —
    * the long-memory gauge that generalizes [[varianceRatio]]'s single
    * VR(k) point to a log-log regression over scales m ∈ {1,2,4,8}:
    * H = ½ · slope of ln Var(mΔ) vs ln m. H ≈ 0.5 is a random walk,
    * > 0.5 trending (momentum bots), < 0.5 mean-reverting (market-maker
    * inventory cycling) — the regime screen behind [[momentumIC]] and
    * [[cusumChangePoints]].
    *
    * Exactness: cent differences at each scale accumulate moments in
    * Decimal(38,0); each variance enters the regression as
    * lnR6(n·q−s²) − lnR6(n²) (two transcendental boundaries on
    * exactly-agreed integers, then an EXACT decimal subtraction), and
    * the closed-form 4-point slope is a fixed IEEE dag over those
    * decimals with the r6-quantized ln m abscissae as literals — the
    * whole chain bit-identical cross-engine.
    *
    * Shape: candle-table input (one row per type-hour); the four lag
    * columns share ONE window sort; one keyed aggregate to types. */
  def hurstExponent(events: DataFrame): DataFrame = {
    val closes = events
      .select(col("event_type"),
        expr("(unix_micros(ts) div 3600000000) * 3600").as("hb"),
        expr("cast(round(value * 100, 0) as bigint)").as("cents"),
        tsUs.as("tu"), col("event_id"))
      .groupBy("event_type", "hb")
      .agg(max_by(col("cents"), struct(col("tu"), col("event_id")))
        .as("c"))
    val spine = closes.groupBy("event_type")
      .agg(min("hb").as("lo"), max("hb").as("hi"))
      .select(col("event_type"),
        explode(expr("sequence(lo, hi, 3600)")).as("hb"))
    val wFfill = Window.partitionBy("event_type").orderBy("hb")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = spine.join(closes, Seq("event_type", "hb"), "left")
      .withColumn("c", last("c", ignoreNulls = true).over(wFfill))
    val wLag = Window.partitionBy("event_type").orderBy("hb")
    val scales = Seq(1, 2, 4, 8)
    val diffs = scales.foldLeft(filled) { (df, m) =>
      df.withColumn(s"d$m",
        (col("c") - lag("c", m).over(wLag)).cast("decimal(38,0)"))
    }
    val moments = scales.flatMap { m =>
      Seq(count(col(s"d$m")).cast("decimal(38,0)").as(s"n$m"),
        sum(col(s"d$m")).as(s"s$m"),
        sum(col(s"d$m") * col(s"d$m")).as(s"q$m"))
    }
    val agged = diffs.groupBy("event_type")
      .agg(moments.head, moments.tail: _*)
      .filter(scales.map(m =>
        col(s"n$m") > 1 &&
          col(s"n$m") * col(s"q$m") - col(s"s$m") * col(s"s$m") > 0)
        .reduce(_ && _))
    val lnVars = scales.foldLeft(agged) { (df, m) =>
      df.withColumn(s"lnv$m",
        lnR6(col(s"n$m") * col(s"q$m") - col(s"s$m") * col(s"s$m")) -
          lnR6(col(s"n$m") * col(s"n$m")))
    }
    // abscissae are the SAME r6 quantum as lnR6: ln m rounded to 1e-6
    // (0, 0.693147, 1.386294, 2.079442), x̄ = 1.03972075. The quantized
    // deviations are ASYMMETRIC at the 7th decimal (-1.03972075/
    // +1.03972125, -0.34657375/+0.34657325), so this two-spread
    // symmetric form is a PINNED ~1e-7 approximation of the exact
    // centered OLS slope, not the exact slope itself — pinned because
    // the oracle evaluates the identical literals, so the hash contract
    // is on the formula, and a symmetric two-spread dag is half the
    // float ops of the four-deviation sum.
    val den = 2.0 * (1.03972075 * 1.03972075 + 0.34657375 * 0.34657375)
    lnVars.select(col("event_type"),
      col("n1").cast("bigint").as("n_periods"),
      col("lnv1").cast("double").as("lnv1"),
      col("lnv2").cast("double").as("lnv2"),
      col("lnv4").cast("double").as("lnv4"),
      col("lnv8").cast("double").as("lnv8"),
      (((col("lnv8") - col("lnv1")).cast("double") * lit(1.03972075) +
        (col("lnv4") - col("lnv2")).cast("double") * lit(0.34657375)) /
        lit(den) / lit(2.0)).as("hurst"))
  }

  /** A118: whale-share concentration per (type, day) — the share of
    * each market-day's volume carried by its top-`k` wallets, the
    * time-resolved dominance trend the static [[walletConcentration]]
    * HHI cannot show (a market drifting from organic to two-whale
    * control moves this curve long before the global number moves).
    * Top-k is deterministic: row_number on (volume desc, user_id).
    *
    * Shape: one keyed aggregate to (type, day, wallet) cents, then the
    * rank FILTER directly follows the window so Catalyst inserts
    * WindowGroupLimit — each map task keeps only k candidates per
    * group and the full per-group sort never materializes at 10⁹
    * wallets; totals come from a second partial-aggregate pass over
    * the same shuffle output, joined group-wise. */
  def whaleShare(events: DataFrame, k: Int = 10): DataFrame = {
    val v = events
      .select(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("db"),
        col("user_id"),
        expr("cast(round(value * 100, 0) as bigint)").as("cents"))
      .groupBy("event_type", "db", "user_id")
      .agg(sum("cents").as("vol"))
    val totals = v.groupBy("event_type", "db")
      .agg(count(lit(1)).as("n_wallets"), sum("vol").as("total_cents"))
    val w = Window.partitionBy("event_type", "db")
      .orderBy(col("vol").desc, col("user_id"))
    val top = v.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k) // WindowGroupLimit: top-k, not a full sort
      .groupBy("event_type", "db")
      .agg(sum("vol").as("top_cents"))
    totals.join(top, Seq("event_type", "db"))
      .select(col("event_type"), (col("db") * 86400).as("day"),
        col("n_wallets"), col("total_cents"), col("top_cents"),
        (col("top_cents").cast("double") /
          col("total_cents").cast("double")).as("whale_share"))
  }

  /** A117: dormant-wallet reactivation screen — per UTC day: active
    * wallets, first-ever wallets, and wallets whose event that day ends
    * a dormancy of ≥ `dormantHours` since their previous event, plus
    * the reactivation rate. Airdrop farming and Sybil waves show as
    * coordinated reactivation spikes (thousands of long-dormant wallets
    * waking the same day) that per-wallet screens never aggregate —
    * the day-level counterpart of [[walletChurn]]'s cohort view and
    * [[burstWallets]]'s intra-day rate view.
    *
    * Exactness: gap comparisons are integer micros; the only double is
    * the final rate division. Shape: ONE lag window per wallet (the
    * per-user sort the session/gap family already pays) + one keyed
    * day aggregate — linear, no joins. */
  def reactivations(events: DataFrame, dormantHours: Int = 48): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("tu"), col("event_id"))
    val gapUs = dormantHours * 3600000000L
    events.select(col("user_id"), tsUs.as("tu"), col("event_id"),
        expr("unix_micros(ts) div 86400000000").as("db"))
      .withColumn("ptu", lag("tu", 1).over(w))
      .groupBy("db")
      .agg(countDistinct("user_id").as("n_active"),
        countDistinct(when(col("ptu").isNull, col("user_id")))
          .as("n_new"),
        countDistinct(when(col("ptu").isNotNull &&
          col("tu") - col("ptu") >= gapUs, col("user_id")))
          .as("n_reactivated"))
      .select((col("db") * 86400).as("day"), col("n_active"),
        col("n_new"), col("n_reactivated"),
        (col("n_reactivated").cast("double") /
          col("n_active").cast("double")).as("reactivation_rate"))
  }

  /** A116: copy-trading (follower/echo) detection — ordered wallet pairs
    * where B repeats A's action (same type, same hour bucket) within
    * `maxLagUs` after A, counted across distinct hour buckets: the
    * pair-level lead-follow screen that complements the market-level
    * [[leadLagIC]] and the bracket-shaped [[sandwichTrades]] (copy bots
    * echo; sandwich bots bracket). Hot buckets are prefix-capped in
    * execution order (the degrade-not-drop contract — every reported
    * echo is a true echo of the full stream).
    *
    * Shape: one keyed rank cap, ONE bucket equi-join whose fan-out is
    * ≤ maxBucketTrades² per (type, hour) bucket at ANY density,
    * all-integer comparisons; the pair aggregate keys on the packed
    * (leader, follower) and the output is floored by `minEchoes`. */
  def copyTrading(
      events: DataFrame,
      maxLagUs: Long = 600000000L,
      maxBucketTrades: Int = 256,
      minEchoes: Int = 3): DataFrame = {
    val nPart = math.max(32,
      events.sparkSession.sessionState.conf.numShufflePartitions)
    val t = events
      .filter(col("event_type").isin("purchase", "view"))
      .select(col("event_type"),
        expr("unix_micros(ts) div 3600000000").as("mb"),
        tsUs.as("tu"), col("event_id"), col("user_id"))
      .repartition(nPart, col("event_type"), col("mb"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("event_type"), col("mb"))
          .orderBy(col("tu"), col("event_id"))))
      .filter(col("rk") <= maxBucketTrades)
      .drop("rk")
    val lead = t.select(col("event_type"), col("mb"),
      col("tu").as("tu_a"), col("event_id").as("id_a"),
      col("user_id").as("leader"))
    val follow = t.select(col("event_type"), col("mb"),
      col("tu").as("tu_b"), col("event_id").as("id_b"),
      col("user_id").as("follower"))
    lead.join(follow, Seq("event_type", "mb"))
      .filter(col("follower") =!= col("leader") &&
        struct(col("tu_b"), col("id_b")) > struct(col("tu_a"), col("id_a")) &&
        col("tu_b") - col("tu_a") <= maxLagUs)
      .groupBy("leader", "follower")
      .agg(count(lit(1)).as("n_echoes"),
        countDistinct(col("event_type"), col("mb")).as("n_buckets"),
        sum(col("tu_b") - col("tu_a")).as("lag_sum_us"))
      .filter(col("n_echoes") >= minEchoes)
      .select(col("leader"), col("follower"), col("n_echoes"),
        col("n_buckets"),
        expr("lag_sum_us div n_echoes").as("mean_lag_us"))
  }

  /** A119: order-flow imbalance vs the next hour's price move — per
    * hour, signed flow `(B−S)·1e6 div (B+S)` (purchase ≙ buy, view ≙
    * sell cents, the [[washTrades]] side convention; numerator in
    * Decimal(38,0), the [[vpin]] overflow contract) and whether its
    * sign predicted the next hour's close-to-close move: the simplest
    * microstructure alpha test (OFI predicts short-horizon returns —
    * Cont/Kukanov/Stoikov 2014), complementing [[momentumIC]]'s rank
    * correlation with a per-hour signed hit/miss ledger a trading
    * readout can aggregate any way it wants.
    *
    * Exact integers end to end: cent sums, truncating-div OFI, close =
    * last print in (ts, event_id) execution order via `max_by` over an
    * exact struct, sign comparison on nonzero integers. Only
    * consecutive-hour rows with BOTH signs nonzero are emitted. The
    * one window (lead over the hour sequence) runs on the HOUR-COUNT
    * sized aggregate — bounded by the corpus time span (~10⁵ rows for
    * a decade), metadata next to the event table, so the global sort
    * is free at any data scale. */
  def flowImbalance(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = events.filter(col("event_type").isin("purchase", "view"))
      .select(expr("unix_micros(ts) div 3600000000").as("hb"),
        col("event_type"),
        expr("cast(round(value * 100, 0) as bigint)").as("cents"),
        expr("unix_micros(ts)").as("tu"), col("event_id"))
    val flows = t.groupBy("hb").agg(
      sum(when(col("event_type") === "purchase", col("cents"))
        .otherwise(lit(0L))).as("b_cents"),
      sum(when(col("event_type") === "view", col("cents"))
        .otherwise(lit(0L))).as("s_cents"),
      max_by(col("cents"), struct(col("tu"), col("event_id")))
        .as("close_cents"))
    val w = Window.orderBy(col("hb"))
    flows
      .withColumn("next_hb", lead(col("hb"), 1).over(w))
      .withColumn("next_close", lead(col("close_cents"), 1).over(w))
      .filter(col("next_hb") === col("hb") + 1 &&
        col("b_cents") + col("s_cents") > 0)
      .withColumn("ofi_1e6",
        expr("cast((cast(b_cents - s_cents as decimal(38,0)) * 1000000)" +
          " div (b_cents + s_cents) as bigint)"))
      .withColumn("move_cents", col("next_close") - col("close_cents"))
      .filter(col("ofi_1e6") =!= 0 && col("move_cents") =!= 0)
      .select(col("hb"), col("b_cents"), col("s_cents"), col("ofi_1e6"),
        col("close_cents"), col("move_cents"),
        ((col("ofi_1e6") > 0) === (col("move_cents") > 0)).as("hit"))
  }

  /** A122: diurnal template collisions — the bot-FARM screen the
    * per-wallet scanners (A20 bursts, A114 runs, A51b burstiness) can't
    * see: scripted wallet fleets share one scheduler, so their
    * activity-by-time-of-day profiles are IDENTICAL after quantization,
    * while organic wallets essentially never collide exactly. Each
    * wallet with ≥ `minEvents` events gets a quantized diurnal
    * profile — activity share per `binHours`-hour phase of day (A111's
    * epoch-hour convention), truncated to `quant` levels — and the
    * report lists every profile shared by ≥ `minWallets` wallets with
    * its population and volume. Coarse defaults (4 phases × deciles)
    * suit sparse per-wallet histories; at production density raise
    * `quant`/lower `binHours` for sharper templates.
    *
    * All integer (counts, truncating share quantization, string-joined
    * profile key) — bit-identical in any engine. Shape: one keyed
    * count per wallet with the phase shares as `bins` conditional sums
    * (pure codegen, no higher-order lambdas), one profile-keyed
    * aggregate — linear, no joins, no windows. */
  def templateCollisions(events: DataFrame, binHours: Int = 6,
      quant: Long = 10, minEvents: Long = 20,
      minWallets: Long = 3): DataFrame = {
    require(24 % binHours == 0, s"binHours must divide 24, got $binHours")
    val bins = 24 / binHours
    val phase = expr(s"((unix_micros(ts) div 3600000000) % 24) div $binHours")
    val counts = events
      .select(col("user_id"), phase.as("ph"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("total"),
        (0 until bins).map(b =>
          sum(when(col("ph") === b, lit(1L)).otherwise(lit(0L)))
            .as(s"c$b")): _*)
    val prof = counts
      .filter(col("total") >= minEvents)
      .select(col("user_id"), col("total"),
        concat_ws(",", (0 until bins).map(b =>
          expr(s"(c$b * $quant) div total")): _*).as("profile"))
    prof.groupBy("profile")
      .agg(count(lit(1)).as("n_wallets"),
        sum("total").as("total_events"),
        min("user_id").as("sample_wallet"))
      .filter(col("n_wallets") >= minWallets)
  }
}
