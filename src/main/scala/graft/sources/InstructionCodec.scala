package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.exprs._

/** Instruction-level decode with account-table resolution (SURVEY §2 A52).
  *
  * The reference's RaydiumAmmV4 parser is instruction-driven, not
  * log-driven: each instruction carries a small LE data blob plus a list
  * of *indexes into the transaction's account-key table*, and the decoder
  * reads amounts from the blob while resolving named accounts
  * positionally (`raydium_amm_v4/parser.rs:19-39` routes on the data
  * discriminator; `parse_withdraw_instruction` reads `amount` from data
  * and `accounts[0..22]` for the pubkeys; every parse length-checks both
  * `data` and `accounts`).
  *
  * Spark-first re-expression: a transaction is one row with
  * `account_keys: array<binary>` and
  * `instructions: array<struct<event_id, data, accounts>>`; the decode is
  * `posexplode` + codegen'd LE reads over `data` +
  * `element_at(account_keys, idx + 1)` for each named account — nested
  * arrays and positional resolution stay columnar, no per-row callback.
  * Malformed instructions (short blob / wrong discriminator / index out
  * of range) drop out via the same guards the reference applies.
  */
object InstructionCodec {

  /** Wire discriminator for the synthetic "swap" instruction. */
  private val SwapDisc: Array[Byte] =
    Array[Byte](0x67, 0x72, 0x59, 0x01, 0x00, 0x00, 0x00, 0x00)

  /** The swap instruction's 32-byte data blob: [[SwapDisc]], then LE
    * event_id, value_cents and ts_us. */
  private val SwapLayout: ProtocolRegistry.LayoutSpec =
    ProtocolRegistry.LayoutSpec("swap", SwapDisc,
      ProtocolRegistry.borsh(SwapDisc.length, "event_id" -> "u64",
        "value_cents" -> "u64", "ts_us" -> "i64"))

  /** Pack the flat event table into nested transactions: 8 events per tx
    * (`event_id div 8`), the tx's account-key table = the distinct user
    * pubkeys sorted by user id, one instruction per event whose
    * `accounts` list is [this event's user index, 0] — index 0 (the
    * minimum-user key) plays the fixed "authority" slot every reference
    * layout reserves at a known position. */
  def packTransactions(events: DataFrame): DataFrame = {
    val ev = events.select(
      expr("event_id div 8").as("tx_id"),
      col("event_id"),
      col("user_id"),
      expr("cast(round(value * 100, 0) as bigint)").as("value_cents"),
      expr("unix_micros(ts)").as("ts_us"),
      ProtocolRegistry.pubkey("user_id").as("ukey"))
    // per-tx account table, sorted by user id so indexes are deterministic
    val accounts = ev.groupBy("tx_id").agg(
      sort_array(collect_set(struct(col("user_id"), col("ukey"))))
        .as("acct"))
    val withIdx = ev.join(accounts, "tx_id").select(
      col("tx_id"),
      col("event_id"),
      col("acct"),
      // 0-based index of this event's user in the account table
      (expr("array_position(acct.user_id, user_id)").cast("int") - 1)
        .as("user_idx"),
      col("value_cents"), col("ts_us"))
    val instr = ProtocolRegistry.encode(withIdx, SwapLayout).select(
      col("tx_id"), col("acct"),
      struct(
        col("event_id"),
        col("payload").as("data"),
        array(col("user_idx"), lit(0)).as("accounts")).as("ins"))
    instr.groupBy("tx_id").agg(
      first(col("acct")).as("acct"),
      sort_array(collect_list(col("ins"))).as("instructions"))
      .select(col("tx_id"), col("acct.ukey").as("account_keys"),
        col("instructions"))
  }

  /** Nested CPI packing (A52 extended to the inner-instruction tree):
    * each purchase event becomes one OUTER PumpFun buy instruction (real
    * 8-byte discriminator + u64 args + positional accounts) whose inner
    * CPI list carries the matching REAL PumpFun TradeEvent log at
    * `(outer_idx, inner_idx = 0)` — the envelope the reference walks in
    * `event_parser.rs:141-186` (outer loop + per-outer inner loop with
    * both indexes threaded into `EventMetadata`, types.rs:313-314).
    * Expects `event_id, user_id, value, ts` columns. */
  def packCpiTransactions(events: DataFrame): DataFrame = {
    import graft.sources.{ProtocolRegistry, RealLayouts}
    val cents = expr("cast(round(value * 100, 0) as bigint)")
    val ev = events.select(
      expr("event_id div 8").as("tx_id"), col("event_id"), col("user_id"),
      cents.as("cents"), expr("unix_micros(ts) div 1000000").as("ts_s"),
      ProtocolRegistry.pubkey("user_id").as("ukey"))
    val accounts = ev.groupBy("tx_id").agg(
      sort_array(collect_set(struct(col("user_id"), col("ukey"))))
        .as("acct"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("tx_id").orderBy("event_id")
    val withIdx = ev
      .withColumn("outer_idx", row_number().over(w).cast("int") - 1)
      .join(accounts, "tx_id")
      .withColumn("user_idx",
        (expr("array_position(acct.user_id, user_id)").cast("int") - 1))
    // the outer buy instruction: real discriminator, (amount,
    // max_sol_cost) args, user in the reference's slot 6
    val buyIx = RealLayouts.PumpFunIx.layouts(0)
    // the inner CPI log: the full 250-byte TradeEvent body
    val logSrc = withIdx.select(
      col("tx_id"), col("outer_idx"), col("user_idx"), col("acct"),
      col("cents").as("sol_amount"), (col("event_id") * 3).as("token_amount"),
      lit(1L).as("is_buy"), col("ts_s").as("timestamp"),
      (col("event_id") * 7).as("virtual_sol_reserves"),
      (col("event_id") * 11).as("virtual_token_reserves"),
      (col("event_id") * 13).as("real_sol_reserves"),
      (col("event_id") * 17).as("real_token_reserves"),
      lit(100L).as("fee_basis_points"),
      expr("cents div 100").as("fee"),
      lit(30L).as("creator_fee_basis_points"),
      expr("cents div 300").as("creator_fee"),
      (col("event_id") % 2).as("track_volume"),
      (col("event_id") * 19).as("total_unclaimed_tokens"),
      (col("event_id") * 23).as("total_claimed_tokens"),
      (col("event_id") * 29).as("current_sol_volume"),
      col("ts_s").as("last_update_timestamp"),
      col("ukey").as("mint"), col("ukey").as("user"),
      col("ukey").as("fee_recipient"), col("ukey").as("creator"),
      col("cents"))
    val framed = ProtocolRegistry
      .encode(logSrc, RealLayouts.PumpFun.layouts(0))
      .select(col("tx_id"), col("outer_idx"), col("user_idx"), col("acct"),
        col("cents"),
        struct(
          concat(lit(buyIx.discriminator), le_bytes(col("cents"), 8),
            le_bytes(col("cents") + 10, 8)).as("data"),
          concat(expr("array(0, 0, 0, 0, 0, 0)"),
            array(col("user_idx"))).as("accounts")).as("ins"),
        struct(col("outer_idx"), lit(0).as("inner_idx"),
          col("payload")).as("cpi"))
    framed.groupBy("tx_id").agg(
      first(col("acct.ukey")).as("account_keys"),
      sort_array(collect_list(struct(col("outer_idx"), col("ins"))))
        .as("outer_sorted"),
      sort_array(collect_list(col("cpi"))).as("inner"))
      .select(col("tx_id"), col("account_keys"),
        col("outer_sorted.ins").as("instructions"), col("inner"))
  }

  /** Flatten the nested tx envelope and MERGE each outer instruction
    * event with its inner CPI log event (reference `merger_event.rs
    * :4-26`: the log's borsh fields overwrite/fill the instruction
    * event, the instruction keeps its arg-only fields). Decode is the
    * real-layout registry on both sides; the join key is
    * `(tx_id, outer_idx)` — both flattened sides shuffle once on the
    * same key, nothing else moves. */
  def cpiMerge(txs: DataFrame): DataFrame = {
    import graft.sources.{ProtocolRegistry, RealLayouts}
    val buyIx = RealLayouts.PumpFunIx.layouts(0)
    val outer = txs.select(col("tx_id"), col("account_keys"),
      posexplode(col("instructions")).as(Seq("outer_idx", "ins")))
      .select(col("tx_id"), col("outer_idx"),
        col("account_keys"), col("ins.data").as("data"),
        col("ins.accounts").as("accounts"))
    val ix = RealLayouts.decodeInstruction(outer, buyIx)
      .select(col("tx_id"), col("outer_idx"), col("amount"),
        col("max_sol_cost"), col("user"))
    val logs = txs.select(col("tx_id"), explode(col("inner")).as("cpi"))
      .select(col("tx_id"), col("cpi.outer_idx").as("outer_idx"),
        col("cpi.inner_idx").as("inner_idx"),
        col("cpi.payload").as("payload"),
        lit(RealLayouts.PumpFunProgram).as("program_id"))
    val log = ProtocolRegistry.dispatch(logs, Seq(RealLayouts.PumpFun),
      programCol = Some("program_id"))
      .filter(col("event_kind") === "pf_trade")
      .select(col("tx_id"), col("outer_idx"), col("inner_idx"),
        col("pf_trade"))
    // merger_event.rs semantics: log fields overwrite, ix args persist
    ix.join(log, Seq("tx_id", "outer_idx"), "left")
      .select(col("tx_id"), col("outer_idx"), col("inner_idx"),
        col("amount"), col("max_sol_cost"),
        lower(hex(col("user"))).as("user_hex"),
        col("pf_trade.sol_amount").as("sol_amount"),
        col("pf_trade.token_amount").as("token_amount"),
        col("pf_trade.is_buy").as("is_buy"),
        col("pf_trade.timestamp").as("ts_s"),
        col("pf_trade.virtual_sol_reserves").as("virtual_sol_reserves"),
        col("pf_trade.fee").as("fee"),
        col("pf_trade.creator_fee").as("creator_fee"))
  }

  /** Flatten + decode: one row per instruction, LE fields from the data
    * blob, named accounts resolved through the key table. Guards mirror
    * the reference: discriminator match, data length, account index in
    * range. */
  def flattenDecode(txs: DataFrame): DataFrame = {
    val body = "__graft_ix"
    val decoded = ProtocolRegistry.withBody(
      txs.select(col("tx_id"), col("account_keys"),
          posexplode(col("instructions")).as(Seq("instr_idx", "ins")))
        // get(), not [0]: this guard runs before the layout match, so an
        // instruction with no accounts drops out instead of failing the
        // job under ANSI
        .filter(expr("get(ins.accounts, 0)") >= 0 &&
          expr("get(ins.accounts, 0)") < size(col("account_keys"))),
      SwapLayout, "ins.data", body)
    val Seq(eventId, valueCents, tsUs) =
      ProtocolRegistry.bodyFields(decoded, body)
    decoded.filter(col(body).isNotNull)
      .select(
        col("tx_id"),
        col("instr_idx"),
        eventId,
        lower(hex(element_at(col("account_keys"),
          expr("ins.accounts[0]").cast("int") + 1))).as("user_hex"),
        lower(hex(element_at(col("account_keys"),
          expr("ins.accounts[1]").cast("int") + 1))).as("authority_hex"),
        valueCents,
        tsUs)
  }
}
