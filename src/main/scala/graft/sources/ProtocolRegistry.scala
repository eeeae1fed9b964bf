package graft.sources

import org.apache.spark.sql.{Column, DataFrame, GraftBridge}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.functions.DispatchLayout
import graft.functions.exprs._

/** Multi-protocol event-parser registry (SURVEY §2 A13d).
  *
  * The reference registers one parser per DEX protocol, each dispatching
  * on an 8-byte instruction discriminator to a fixed-layout decoder
  * (`event_parser/protocols/pumpswap/parser.rs:25-36` routes BUY_IX /
  * SELL_IX / CREATE_POOL_IX / DEPOSIT_IX / WITHDRAW_IX; same shape for
  * bonk, raydium_amm_v4, raydium_cpmm, raydium_clmm, meteora_damm_v2).
  *
  * Here the registry is DATA: a [[ProtocolSpec]] lists each layout's
  * discriminator and little-endian field offsets. [[dispatch]] hands the
  * whole registry to one codegen'd kernel (`graft_dispatch`,
  * [[graft.functions.RegistryDispatch]]) that, like the reference, reads
  * each frame's discriminator once, picks the first matching layout and
  * decodes only that layout's fields. Adding a protocol is a new spec
  * entry, not new execution code. Every layout is length-guarded, so
  * truncated or foreign payloads degrade to `unknown`/null rather than
  * failing the job (the reference length-checks every read,
  * `pumpfun/parser.rs:120-154`). [[decode]] runs the same kernel over a
  * registry of one known layout, so every fixed-layout decode has one
  * implementation of each field kind's wire semantics.
  */
object ProtocolRegistry {

  /** A fixed-offset field. `kind`: u64/i64 (LE 8-byte), u32/i32 (LE
    * 4-byte; u32 zero-extended, i32 signed), u16 (LE 2-byte), u8, bool
    * (1 byte, decoded 0/1 int), u128 (16-byte LE as Decimal(38,0)),
    * b32 (32-byte pubkey), str (u32-LE length prefix + UTF-8 bytes,
    * trailing only), optbool (borsh `Option<bool>`: 1-byte tag +
    * conditional value byte, trailing only — `raydium_clmm/parser.rs`
    * `read_option_bool` for open_position base_flag; decoded to a
    * nullable 0/1 int), or `pad:<n>` (n reserved bytes — decoded as
    * nothing, encoded as zeros) — the widths the reference's borsh
    * layouts mix (`pumpswap/events.rs` carries u8 flags, u16 indexes and
    * 32-byte pubkeys between the u64 amounts; `pumpfun/events.rs:57-180`
    * carries len-prefixed name/symbol/uri strings). */
  final case class FieldSpec(name: String, offset: Int,
      kind: String = "u64") {
    def width: Int = kind match {
      case "u64" | "i64" => 8
      case "u128" => 16
      case "u32" | "i32" => 4
      case "u16" => 2
      case "u8" | "bool" => 1
      case "b32" => 32
      case "str" => 4 // length prefix; content length is dynamic
      case "optbool" => 1 // tag byte; value byte present only when Some
      case "optb32" => 0 // optional un-tagged 32-byte tail; may be absent
      case p if p.startsWith("pad:") => p.stripPrefix("pad:").toInt
    }
    def isPad: Boolean = kind.startsWith("pad:")
  }

  /** One event layout: discriminator (any length — the reference mixes
    * 16-byte anchor event discriminators, 8-byte instruction
    * discriminators and 1-byte native-program tags) + fixed LE fields
    * after it. A var-length `str` field may only appear last —
    * everything after it would have a dynamic offset. */
  final case class LayoutSpec(
      kind: String, discriminator: Array[Byte], fields: Seq[FieldSpec]) {
    require(fields.dropRight(1).forall(f =>
        f.kind != "str" && f.kind != "optbool" && f.kind != "optb32"),
      s"$kind: a variable-width (str/optbool/optb32) field must be last")
    require(discriminator.nonEmpty || fields.nonEmpty,
      s"$kind: an empty discriminator needs a length-guarding layout")
    // fields may be empty (tag-only instructions: the reference has
    // several events whose payload is account-resolved only) and the
    // discriminator may be empty (SPL token/nonce accounts carry none —
    // owner program + length are the whole guard)
    def minLen: Int =
      (discriminator.length +: fields.map(f => f.offset + f.width)).max
    /** Decoded (non-pad) fields. */
    def dataFields: Seq[FieldSpec] = fields.filterNot(_.isPad)
  }

  /** `program`: when set, [[dispatch]] additionally requires the frame's
    * program column to equal it — the reference routes to a protocol
    * parser by program id BEFORE the discriminator match
    * (`ProtocolInfo.program_ids`), which is what disambiguates e.g. the
    * PumpFun and Bonk TradeEvents that share one anchor discriminator. */
  final case class ProtocolSpec(protocol: String, layouts: Seq[LayoutSpec],
      program: String = null)

  /** Sequential borsh layout builder: offsets computed from the kinds,
    * starting right after the discriminator. */
  def borsh(discLen: Int, specs: (String, String)*): Seq[FieldSpec] = {
    var off = discLen
    specs.map { case (n, k) =>
      val f = FieldSpec(n, off, k); off += f.width; f
    }
  }

  private def disc(tag: Byte*): Array[Byte] =
    (Array[Byte](0x67, 0x72) ++ tag).padTo(8, 0x00.toByte)

  private def u64s(names: String*): Seq[FieldSpec] =
    names.zipWithIndex.map { case (n, i) => FieldSpec(n, 8 + i * 8) }

  /** "swap" protocol: buy/sell fills (PumpSwap analog — the reference's
    * `PumpSwapBuyEvent`/`PumpSwapSellEvent`, pumpswap/events.rs:10-124). */
  val Swap: ProtocolSpec = ProtocolSpec("swap", Seq(
    LayoutSpec("buy", disc(0x51, 0x01),
      u64s("event_id", "pool", "user_id", "base_amount", "quote_amount", "ts_us")),
    LayoutSpec("sell", disc(0x51, 0x02),
      u64s("event_id", "pool", "user_id", "base_amount", "quote_amount", "ts_us"))))

  /** "amm" protocol: liquidity add/remove (deposit/withdraw analog —
    * `PumpSwapDepositEvent`/`PumpSwapWithdrawEvent`,
    * pumpswap/events.rs:167-246). */
  val Amm: ProtocolSpec = ProtocolSpec("amm", Seq(
    LayoutSpec("deposit", disc(0x52, 0x01),
      u64s("event_id", "pool", "user_id", "lp_amount", "base_in", "quote_in",
        "ts_us")),
    LayoutSpec("withdraw", disc(0x52, 0x02),
      u64s("event_id", "pool", "user_id", "lp_amount", "base_out", "quote_out",
        "ts_us"))))

  /** "account" class: pool account-state snapshots (the reference also
    * parses account-data events — `PumpSwapPoolAccountEvent`,
    * pumpswap/events.rs:260-271 — which feed its account-state cache). */
  val Account: ProtocolSpec = ProtocolSpec("account", Seq(
    LayoutSpec("pool_state", disc(0x53, 0x01),
      u64s("event_id", "pool", "base_reserve", "quote_reserve", "ts_us"))))

  /** "block" protocol: block metadata frames — the reference's
    * BlockMetaEvent (protocols/block/block_meta_event.rs:8-13: slot u64 +
    * block_hash String, with block_time_ms riding the event metadata;
    * model.BlockMeta adds parent_slot). The reference receives these over
    * its gRPC block-meta subscription — transport is out of scope here,
    * so graft frames them on its own wire with a registry discriminator,
    * making slot/block-time rows first-class in a mixed dispatch. */
  val Block: ProtocolSpec = ProtocolSpec("block", Seq(
    LayoutSpec("block_meta", disc(0x59, 0x01), Seq(
      FieldSpec("slot", 8),
      FieldSpec("parent_slot", 16),
      FieldSpec("block_time_ms", 24, "i64"),
      FieldSpec("block_hash", 32, "str")))))

  /** Event class of a dispatched row — the reference's filter classes
    * (`filter.rs` `include_transaction_event` / `include_account_event` /
    * `include_block_event`): account snapshots, block metadata, and
    * everything transaction-borne. */
  def eventClass: org.apache.spark.sql.Column =
    when(col("protocol") === "account" ||
      col("protocol").endsWith("_acct"), "account")
      .when(col("protocol") === "block", "block")
      .otherwise("transaction")

  /** Class-level include filter over dispatched frames (A1's type-level
    * include-list, one level up — the `EventTypeFilter` category
    * checks). */
  def filterClasses(dispatched: DataFrame,
      include: Seq[String]): DataFrame =
    dispatched.filter(eventClass.isin(include: _*))

  /** "launch" protocol: token-launch lifecycle (Bonk analog — the
    * reference's `BonkPoolCreateEvent`/`BonkMigrateToAmmEvent`,
    * bonk/events.rs:85-230: a launchpad pool is created, then migrated to
    * an AMM once the curve completes). */
  val Launch: ProtocolSpec = ProtocolSpec("launch", Seq(
    LayoutSpec("pool_create", disc(0x54, 0x01),
      u64s("event_id", "pool", "user_id", "base_supply", "quote_raised",
        "ts_us")),
    LayoutSpec("migrate", disc(0x54, 0x02),
      u64s("event_id", "pool", "user_id", "lp_minted", "ts_us"))))

  /** "clmm" protocol: concentrated-liquidity tick swap (RaydiumClmm /
    * MeteoraDammV2 analog — the reference's CLMM swaps carry sqrt_price
    * and tick state, raydium_clmm/events.rs + meteora_damm_v2/events.rs
    * `next_sqrt_price`/`sqrt_price` fields). */
  val Clmm: ProtocolSpec = ProtocolSpec("clmm", Seq(
    LayoutSpec("tick_swap", disc(0x55, 0x01),
      u64s("event_id", "pool", "user_id", "amount_in", "amount_out",
        "sqrt_price", "tick", "ts_us")),
    // v2 carries the price at its REAL reference width: u128 LE
    // (`raydium_clmm` sqrt_price_x64 / `meteora_damm_v2` sqrt_price are
    // 16-byte values; `common/utils.rs:44` read_u128_le) — decoded
    // registry-wide as Decimal(38,0)
    LayoutSpec("tick_swap_v2", disc(0x55, 0x02), Seq(
      FieldSpec("event_id", 8),
      FieldSpec("pool", 16),
      FieldSpec("sqrt_price_x64", 24, "u128"),
      FieldSpec("liquidity", 40, "u128"),
      FieldSpec("ts_us", 56)))))

  /** "perp" protocol: a mixed-width fill layout — u32 pool index, u8
    * flags, 32-byte trader pubkey between the u64 amounts — the width mix
    * real borsh layouts use (`pumpswap/events.rs` interleaves u8 flags and
    * pubkeys with u64 amounts). */
  val Perp: ProtocolSpec = ProtocolSpec("perp", Seq(
    LayoutSpec("fill_v2", disc(0x56, 0x01), Seq(
      FieldSpec("event_id", 8),
      FieldSpec("pool", 16, "u32"),
      FieldSpec("flags", 20, "u8"),
      FieldSpec("trader", 21, "b32"),
      FieldSpec("base_amount", 53),
      FieldSpec("ts_us", 61)))))

  /** "cpmm" protocol: constant-product swaps quoted from either side —
    * the reference's RaydiumCpmm splits SwapBaseInput / SwapBaseOutput
    * into distinct layouts (`raydium_cpmm` events; same split in
    * `bonk/events.rs` BuyExactIn/BuyExactOut). Two discriminators, two
    * field layouts, one dispatch. */
  val Cpmm: ProtocolSpec = ProtocolSpec("cpmm", Seq(
    LayoutSpec("base_in", disc(0x58, 0x01),
      u64s("event_id", "pool", "user_id", "base_in", "quote_out", "ts_us")),
    LayoutSpec("base_out", disc(0x58, 0x02),
      u64s("event_id", "pool", "user_id", "quote_in", "base_out", "ts_us"))))

  /** "meta" protocol: token metadata with a trailing len-prefixed string
    * (the reference's create-token events carry name/symbol/uri as
    * borsh-prefixed strings, `pumpfun/events.rs:57-180`; here the
    * declarative-registry path decodes the same shape). */
  val Meta: ProtocolSpec = ProtocolSpec("meta", Seq(
    LayoutSpec("token_meta", disc(0x57, 0x01), Seq(
      FieldSpec("event_id", 8),
      FieldSpec("pool", 16),
      FieldSpec("name", 24, "str")))))

  /** Default registry: the multi-layout protocols [[dispatch]] tags and
    * decodes. Two single-layout frames are [[LayoutSpec]]s too but stay
    * out of it — [[EventCodec.TradeLayout]] (tagged by
    * [[EventCodec.dispatch]]) and [[InstructionCodec]]'s swap data blob —
    * and create-token frames keep their own decoder (several
    * variable-length strings). */
  val registry: Seq[ProtocolSpec] =
    Seq(Swap, Amm, Account, Launch, Clmm, Perp, Meta, Cpmm, Block)

  /** Deterministic 32-byte pubkey for the SQL integer expression `e`:
    * `md5(e) ++ md5(e + 1)` over the decimal renderings. Fills the b32
    * fields when synthetic frames are encoded from the events table. */
  def pubkey(e: String): Column =
    expr(s"unhex(concat(md5(cast(cast($e as string) " +
      s"as binary)), md5(cast(cast(($e) + 1 as string) as binary))))")

  /** Per-field encode expression from a source column of the field name:
    * long for u64/u32/u8, binary(32) for b32. */
  private def fieldBytes(f: FieldSpec): Column = f.kind match {
    case "u64" | "i64" => le_bytes(col(f.name), 8)
    // u128 encodes from two long halves `<name>_lo`/`<name>_hi`
    // (LE: low quad first) — the test/round-trip path
    case "u128" => concat(le_bytes(col(s"${f.name}_lo"), 8),
      le_bytes(col(s"${f.name}_hi"), 8))
    case "u32" | "i32" => le_bytes(col(f.name), 4)
    case "u16" => le_bytes(col(f.name), 2)
    case "u8" | "bool" => le_bytes(col(f.name), 1)
    case p if p.startsWith("pad:") =>
      lit(new Array[Byte](p.stripPrefix("pad:").toInt))
    // Option<bool> from a nullable 0/1 int column: None → lone 0x00 tag,
    // Some → 0x01 tag + value byte (borsh wire form)
    case "optbool" => when(col(f.name).isNull, lit(Array[Byte](0)))
      .otherwise(concat(lit(Array[Byte](1)),
        le_bytes(col(f.name).cast("bigint"), 1)))
    // optional tail pubkey: null column → absent on the wire
    case "optb32" => when(col(f.name).isNull, lit(Array.empty[Byte]))
      .otherwise(col(f.name))
    case "b32" => col(f.name)
    // byte length, not char length: a non-ASCII name encodes to more
    // UTF-8 bytes than characters
    case "str" => concat(
      le_bytes(length(col(f.name).cast("binary")).cast("bigint"), 4),
      col(f.name).cast("binary"))
  }

  /** Encode rows into a layout's wire format (round-trip/test path):
    * requires one column per field name (long, or binary for b32). */
  def encode(df: DataFrame, layout: LayoutSpec): DataFrame =
    df.withColumn("payload",
      concat(lit(layout.discriminator) +:
        layout.fields.map(fieldBytes): _*))

  /** Discriminator + length guard of one layout: true for the payloads
    * [[decode]] keeps. */
  def discMatches(payload: String, l: LayoutSpec): Column = {
    val lenOk = expr(s"octet_length($payload)") >= l.minLen
    if (l.discriminator.isEmpty) lenOk
    else expr(s"substring($payload, 1, ${l.discriminator.length})") ===
      lit(l.discriminator) && lenOk
  }

  /** Decode payloads of one layout: [[dispatch]] over a registry of
    * that layout alone, keeping the rows it matches and selecting the
    * layout's fields. Foreign/truncated rows drop out. */
  def decode(df: DataFrame, layout: LayoutSpec,
      payload: String = "payload"): DataFrame = {
    val body = withBody(df, layout, payload, DecodedBody)
    body.filter(col(DecodedBody).isNotNull)
      .select(bodyFields(body, DecodedBody): _*)
  }

  private val DecodedBody = "__graft_body"

  /** `df` with `layout`'s decoded fields as the struct column `body`,
    * null where the layout does not match the payload: the kernel
    * [[dispatch]] runs, over a registry of `layout` alone and under the
    * same one-row generator. */
  private[sources] def withBody(df: DataFrame, layout: LayoutSpec,
      payload: String, body: String): DataFrame =
    df.select(col("*"),
      kernel(payload, None, layoutsOf(Seq(ProtocolSpec(layout.kind,
        Seq(layout))))).as(Seq(s"${body}_protocol", s"${body}_kind", body)))
      .drop(s"${body}_protocol", s"${body}_kind")

  /** The fields of [[withBody]]'s struct column `body` as top-level
    * columns, for rows that have one. A field keeps the kernel's
    * nullability: the struct is nullable only because an unmatched row
    * has none. */
  private[sources] def bodyFields(df: DataFrame, body: String): Seq[Column] =
    df.schema(body).dataType.asInstanceOf[StructType].fields.toSeq.map { f =>
      val c = col(s"$body.${f.name}")
      (if (f.nullable) c else GraftBridge.knownNotNull(c)).as(f.name)
    }

  private def layoutsOf(protocols: Seq[ProtocolSpec]): Seq[DispatchLayout] = {
    val all = protocols.flatMap(p => p.layouts.map(l => (p, l)))
    val dupKinds = all.groupBy(_._2.kind).filter(_._2.size > 1).keySet
    all.map { case (p, l) =>
      DispatchLayout(p.protocol, l.kind,
        if (dupKinds(l.kind)) s"${p.protocol}_${l.kind}" else l.kind,
        p.program, l.discriminator.toSeq, l.minLen,
        l.dataFields.map(f => (f.name, f.kind, f.offset)))
    }
  }

  /** The `graft_dispatch` kernel as a one-row generator: `protocol`,
    * `event_kind` and one struct column per layout. */
  private def kernel(payload: String, programCol: Option[String],
      layouts: Seq[DispatchLayout]): Column =
    inline(array(
      registry_dispatch(col(payload), programCol.map(col), layouts)))

  /** Registry-wide dispatch: tag each frame with (protocol, event_kind)
    * and decode it into its layout's struct column, in one call per row
    * to the `graft_dispatch` kernel. The kernel reads the discriminator
    * (and the program id) once, takes the first matching layout in
    * registry order and decodes only its fields; the other layouts'
    * columns are null, and a frame no layout matches is `unknown`.
    *
    * The decode runs behind that one call because the column form it
    * replaced (a CASE chain per tag and per layout) grew the stage's
    * generated method past HotSpot's 8,000-byte limit, so the stage was
    * never JIT-compiled. The kernel runs as a one-row `inline` generator,
    * so a filter on its columns stays above it instead of being pushed
    * below with a second copy of the decode, while filters on the input
    * columns still push down.
    *
    * Pass `programCol` when any protocol in the registry is
    * program-scoped (several real protocols share anchor
    * discriminators). A layout's struct column is named
    * `<protocol>_<kind>` when two protocols carry the same kind name,
    * plain `<kind>` otherwise. Columns of `df` with those names are
    * replaced in place. */
  def dispatch(df: DataFrame, protocols: Seq[ProtocolSpec] = registry,
      payload: String = "payload",
      programCol: Option[String] = None): DataFrame = {
    if (programCol.isEmpty)
      protocols.find(_.program != null).foreach(p =>
        throw new IllegalArgumentException(
          s"protocol ${p.protocol} is program-scoped (${p.program}): " +
            "dispatch needs a programCol to disambiguate shared " +
            "discriminators"))
    val layouts = layoutsOf(protocols)
    val names = "protocol" +: "event_kind" +: layouts.map(_.column)
    val decoded = kernel(payload, programCol, layouts)
    val clash = df.columns.filter(c => names.exists(_.equalsIgnoreCase(c)))
    if (clash.isEmpty) df.select(col("*"), decoded)
    else {
      // keep withColumn's contract: a replaced column keeps its position
      val moved = clash.foldLeft(df)((d, c) =>
        d.withColumnRenamed(c, s"__graft_replaced_$c"))
      moved.select(col("*"), decoded).select(
        (df.columns.map(c => names.find(_.equalsIgnoreCase(c)).getOrElse(c)) ++
          names.filterNot(n => clash.exists(_.equalsIgnoreCase(n))))
          .map(c => col(s"`$c`")): _*)
    }
  }
}
