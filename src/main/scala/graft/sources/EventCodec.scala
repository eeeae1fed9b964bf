package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.exprs._

/** Columnar borsh-style trade-event codec (SURVEY §2 A13).
  *
  * The reference parses DEX trade events by matching an 8-byte
  * discriminator and then reading little-endian fields at fixed offsets
  * (reference `src/streaming/event_parser/protocols/pumpfun/parser.rs:20-35`
  * dispatches on `discriminators::BUY_IX` etc.). The trade frame is
  * declared once, as [[TradeLayout]], encoded by codegen'd column
  * expressions and decoded by [[ProtocolRegistry]]'s `graft_dispatch`
  * kernel: one call per row over a `binary` column. Create-token frames,
  * whose strings make the offsets dynamic, have their own sequential
  * decoder.
  */
object EventCodec {
  val Discriminator: Array[Byte] =
    Array(0x67, 0x72, 0x61, 0x66, 0x74, 0x01, 0x02, 0x03).map(_.toByte)

  /** Second "protocol" discriminator: create-token events (variable-length
    * strings + pubkeys, reference `PumpFunCreateV2TokenEvent`). */
  val CreateDiscriminator: Array[Byte] =
    Array(0x67, 0x72, 0x61, 0x66, 0x74, 0x0a, 0x0b, 0x0c).map(_.toByte)

  /** The 41-byte trade frame: [[Discriminator]], then little-endian
    * event_id, user_id, ts_us (event time, micros), the is_buy byte and
    * amount_cents. Not in [[ProtocolRegistry.registry]]: trade frames
    * dispatch through [[dispatch]] here. */
  val TradeLayout: ProtocolRegistry.LayoutSpec = ProtocolRegistry.LayoutSpec(
    "trade", Discriminator, ProtocolRegistry.borsh(Discriminator.length,
      "event_id" -> "u64", "user_id" -> "u64", "ts_us" -> "i64",
      "is_buy" -> "bool", "amount_cents" -> "u64"))

  /** `is_buy` is 1 only for byte 0x01; the layout's bool reads the raw
    * byte. */
  private def buyFlag(raw: Column): Column = (raw === 1).cast("int")

  /** Encode events rows into the wire format (test/round-trip path):
    * adds `payload` to the events columns. */
  def encodeTrade(events: DataFrame): DataFrame = {
    val derived = Map(
      "ts_us" -> expr("unix_micros(ts)"),
      "is_buy" -> when(col("event_type") === "purchase", 1L).otherwise(0L),
      "amount_cents" -> expr("cast(round(value * 100, 0) as bigint)"))
    ProtocolRegistry.encode(events.withColumns(derived), TradeLayout)
      .drop(derived.keys.toSeq: _*)
  }

  private def lenPrefixed(strCol: String): org.apache.spark.sql.Column =
    concat(
      le_bytes(expr(s"cast(octet_length(cast($strCol as binary)) as bigint)"), 4),
      col(strCol).cast("binary"))

  /** Encode a create-token event (3 length-prefixed strings, 4 pubkeys,
    * 5 LE u64 fields) from columns
    * name/symbol/uri/mint/bonding_curve/user_pk/creator (binary 32) and
    * ev_ts/vtr/vsr/rtr/tts (long). */
  def encodeCreateToken(df: DataFrame): DataFrame =
    df.withColumn("payload", concat(
      lit(CreateDiscriminator),
      lenPrefixed("name"), lenPrefixed("symbol"), lenPrefixed("uri"),
      col("mint"), col("bonding_curve"), col("user_pk"), col("creator"),
      le_bytes(col("ev_ts"), 8), le_bytes(col("vtr"), 8),
      le_bytes(col("vsr"), 8), le_bytes(col("rtr"), 8),
      le_bytes(col("tts"), 8)))

  /** Decode create-token payloads via the sequential struct expression. */
  def decodeCreateToken(df: DataFrame, payload: String = "payload"): DataFrame =
    decodeCreate(df, CreateDiscriminator, 0, payload)

  /** Create-token payloads that start with `disc`, decoded into the
    * struct column `ev` from byte `skip + 1` on (the sequential decoder
    * skips 8 discriminator bytes itself); rows it cannot decode drop out.
    * The guard and the decode run once per row, as a one-row generator,
    * so the filter on `ev` stays above them instead of being pushed below
    * with a copy of the decode and of whatever computes the payload. */
  private[sources] def decodeCreate(df: DataFrame, disc: Array[Byte],
      skip: Int, payload: String): DataFrame =
    df.select(col("*"), inline(array(struct(
        when(expr(s"substring($payload, 1, ${disc.length})") === lit(disc),
          decode_create_token(expr(s"substring($payload, ${skip + 1})")))
          .as("ev")))))
      .filter(col("ev").isNotNull)

  /** Append an 8-byte LE byte-sum checksum to each payload — the wire
    * framing side of the reference's `fast_checksum` integrity check
    * (`streaming/common/simd_utils.rs:183`). */
  def frameWithChecksum(
      df: DataFrame, payload: String = "payload"): DataFrame =
    df.withColumn("frame",
      concat(col(payload), le_bytes(byte_checksum(col(payload)), 8)))

  /** Validate checksummed frames: recompute the byte sum over the body
    * and compare with the stored trailer. Emits `status` ('ok'/'corrupt')
    * and the body payload — corrupt frames are reported, not thrown, like
    * every other malformed-input path in this codec. */
  def validateChecksum(df: DataFrame, frame: String = "frame"): DataFrame = {
    val body = expr(s"substring($frame, 1, octet_length($frame) - 8)")
    val stored = col(frame).substr(
      expr(s"octet_length($frame) - 7"), lit(8))
    df.withColumn("status",
        when(expr(s"octet_length($frame)") >= 9 &&
          le_long(stored, 0) === byte_checksum(body), "ok")
          .otherwise("corrupt"))
      .withColumn("payload", body)
  }

  /** Resynchronization scan (reference `simd_utils.rs:105`
    * `find_pattern_simd`): locate the trade discriminator inside an
    * unframed byte stream and slice the payload from there; rows with no
    * match resolve to null offset / null payload. */
  def resyncTrade(df: DataFrame, stream: String = "stream"): DataFrame = {
    val off = find_pattern(col(stream), lit(Discriminator))
    df.withColumn("sync_offset", off)
      .withColumn("payload",
        expr(s"substring($stream, sync_offset + 1)"))
  }

  /** Program-log payload extraction (reference
    * `event_parser/common/utils.rs:17-26` `extract_program_data` /
    * `extract_program_log`): event payloads arrive base64-wrapped in
    * `"Program data: <b64>"` transaction log lines; other log lines are
    * noise. One codegen'd projection: prefix test + substring + unbase64 —
    * rows without the prefix drop out before any decode runs.
    */
  def extractProgramData(
      df: DataFrame, logCol: String = "log"): DataFrame = {
    val prefix = "Program data: "
    df.filter(col(logCol).startsWith(prefix))
      .withColumn("payload",
        unbase64(expr(s"substring($logCol, ${prefix.length + 1})")))
  }

  /** Multi-protocol dispatch (reference: per-protocol parser registry
    * keyed on the instruction discriminator,
    * `event_parser/protocols/pumpfun/parser.rs:25-35`): tag each payload
    * with its event kind, decode the matching branch, pass through
    * unknown payloads as `unknown` with null bodies.
    */
  def dispatch(df: DataFrame, payload: String = "payload"): DataFrame = {
    // length-guarded like decodeTrade: a truncated trade payload keeps its
    // kind tag but decodes to a null body (same contract as the
    // create-token decoder's null-on-malformed)
    val body = "__graft_trade"
    ProtocolRegistry.withBody(df, TradeLayout, payload, body)
      .withColumn("event_kind", kindOf(payload))
      .withColumn("trade",
        col(body).withField("is_buy", buyFlag(col(s"$body.is_buy"))))
      .withColumn("create_token",
        when(col("event_kind") === "create_token",
          decode_create_token(col(payload))))
      .drop(body)
  }

  /** The event kind [[dispatch]] tags a payload with. */
  private def kindOf(payload: String): Column =
    when(expr(s"substring($payload, 1, 8)") === lit(Discriminator), "trade")
      .when(expr(s"substring($payload, 1, 8)") === lit(CreateDiscriminator),
        "create_token")
      .otherwise("unknown")

  /** A54: decode-health accounting — the parse-failure counters the
    * reference's metrics layer keeps next to its per-type event counts
    * (malformed events are skipped, not fatal; `metrics.rs` +
    * `parser.rs` length guards). Counts per dispatched kind: rows seen
    * and rows whose body failed to decode (foreign discriminator or
    * truncated layout). One projection + one tiny-key aggregate; the
    * wire payloads never shuffle. A row counts as decoded exactly when
    * [[dispatch]] gives it a trade or create-token body, but only the
    * guards run: the trade length guard, and the create-token decode
    * on create-token rows alone.
    */
  def decodeHealth(framed: DataFrame, payload: String = "payload")
      : DataFrame = {
    val kind = kindOf(payload)
    val decoded = ProtocolRegistry.discMatches(payload, TradeLayout) ||
      (kind === "create_token" &&
        decode_create_token(col(payload)).isNotNull)
    framed.select(kind.as("event_kind"),
        coalesce(decoded, lit(false)).as("decoded"))
      .groupBy("event_kind")
      .agg(count(lit(1)).as("n"),
        count(when(!col("decoded"), 1)).as("n_undecodable"))
  }

  /** Deterministic corruption for the decode-health path (tests/oracles):
    * every 101st event's discriminator is zeroed (→ unknown), every 97th
    * surviving event is truncated to 20 bytes (→ trade kind, null body —
    * the length-guard path). */
  def corrupt(framed: DataFrame, payload: String = "payload"): DataFrame =
    framed.withColumn(payload,
      when(col("event_id") % 101 === 0,
        concat(lit(Array[Byte](0)), expr(s"substring($payload, 2)")))
        .when(col("event_id") % 97 === 0,
          expr(s"substring($payload, 1, 20)"))
        .otherwise(col(payload)))

  /** Typed view over decoded trades (Dataset[Trade] with a case-class
    * Encoder) for type-safe downstream logic. */
  def trades(df: DataFrame, payload: String = "payload")
      : org.apache.spark.sql.Dataset[graft.model.Trade] = {
    val spark = df.sparkSession
    import spark.implicits._
    decodeTrade(df, payload).as[graft.model.Trade]
  }

  /** Decode the wire format; rows with a foreign discriminator are dropped,
    * mirroring the reference's discriminator dispatch. Truncated payloads
    * (valid discriminator but fewer than the 41 layout bytes) are skipped
    * too — the reference length-checks every read and drops malformed
    * events (`protocols/pumpfun/parser.rs:120-154`), and untrusted wire
    * data must never be able to fail the job. */
  def decodeTrade(df: DataFrame, payload: String = "payload"): DataFrame =
    ProtocolRegistry.decode(df, TradeLayout, payload)
      .withColumn("is_buy", buyFlag(col("is_buy")))
}
