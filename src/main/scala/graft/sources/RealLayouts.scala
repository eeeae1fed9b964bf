package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import ProtocolRegistry.{borsh, LayoutSpec, ProtocolSpec}

/** The REAL on-chain protocol registry: genuine anchor discriminators and
  * full borsh field schedules transcribed from the reference's protocol
  * parsers, expressed as [[ProtocolRegistry.ProtocolSpec]] data — the
  * same declarative registry machinery decodes synthetic analogs and
  * real wire formats alike.
  *
  * Three event families, exactly like the reference:
  *   - LOG events ("Program data:" CPI logs): 16-byte discriminator
  *     (8-byte anchor event prefix `e445a52e51cb9a1d` + 8-byte event
  *     hash) followed by the borsh event body.
  *   - INSTRUCTION events: 8-byte anchor instruction discriminator
  *     (1-byte native tag for pre-anchor programs: RaydiumAmmV4,
  *     ComputeBudget) + LE data args; named pubkeys resolve positionally
  *     from the transaction's account list ([[ixAccounts]]).
  *   - ACCOUNT events: 8-byte account discriminator + account state.
  *
  * Several protocols share discriminators (PumpFun and Bonk both emit
  * the anchor `TradeEvent` hash; PumpFun and PumpSwap share the `buy`/
  * `sell` instruction hashes; Bonk and RaydiumCpmm share the
  * `pool_state` account hash) — the registry disambiguates by program
  * id first, as the reference's dispatcher does by `ProtocolInfo
  * .program_ids`.
  *
  * Sources (field order, widths and discriminator bytes):
  *   pumpfun/events.rs:182-376, pumpswap/events.rs:9-300,
  *   bonk/events.rs:13-291, bonk/types.rs:96-130,
  *   raydium_cpmm/{events.rs:142-153,parser.rs:71-244},
  *   raydium_clmm/events.rs:250-266 + parser.rs,
  *   raydium_amm_v4/{events.rs:169-180,parser.rs:100-300},
  *   meteora_damm_v2/events.rs:39-398, pumpfun/types.rs:14-33,
  *   pumpswap/types.rs:62-74, core/common_event_parser.rs:10-83.
  */
object RealLayouts {

  // program ids, verbatim from the reference's parser declarations
  val PumpFunProgram = "6EF8rrecthR5Dkzon8Nwu78hRvfCKubJ14M5uBEwF6P"
  val PumpSwapProgram = "pAMMBay6oceH9fJKBRHGP5D4bD4sWpmSwMn52FMfXEA"
  val BonkProgram = "LanMV9sAd7wArD4vJFi2qDdfnVhFxYSUg6eADduJ3uj"
  val RaydiumCpmmProgram = "CPMMoo8L3F4NbTegBCKVNunggL7H1ZpdTHKxQB5qKP1C"
  val RaydiumClmmProgram = "CAMMCzo5YL8w4VFF8KVHrK22GGUsp5VTaW7grrKgrWqK"
  val RaydiumAmmV4Program = "675kPX9MHTjS2zt1qfr1NYHuzeLXfQM9H24wFSUt1Mp8"
  val MeteoraDammV2Program = "cpamdpZCGKUy5JxQXB4dcpGPiikHawvSWAd6mEn1sGG"
  val ComputeBudgetProgram = "ComputeBudget111111111111111111111111111111"

  /** 8-byte anchor event-CPI prefix (sha256("anchor:event")[..8]). */
  val AnchorEventPrefix: Array[Byte] =
    Array(0xe4, 0x45, 0xa5, 0x2e, 0x51, 0xcb, 0x9a, 0x1d).map(_.toByte)

  private def eventDisc(tail: Int*): Array[Byte] = {
    require(tail.length == 8)
    AnchorEventPrefix ++ tail.map(_.toByte)
  }
  private def disc(bytes: Int*): Array[Byte] = bytes.map(_.toByte).toArray

  // ---------------------------------------------------------------- PumpFun

  /** PumpFun log events (pumpfun/events.rs:183-325 + discriminators
    * :353-376). TradeEvent body is 250 bytes, MigrateEvent 160. */
  val PumpFun: ProtocolSpec = ProtocolSpec("pumpfun", Seq(
    LayoutSpec("pf_trade", eventDisc(189, 219, 127, 211, 78, 230, 97, 238),
      borsh(16,
        "mint" -> "b32", "sol_amount" -> "u64", "token_amount" -> "u64",
        "is_buy" -> "bool", "user" -> "b32", "timestamp" -> "i64",
        "virtual_sol_reserves" -> "u64", "virtual_token_reserves" -> "u64",
        "real_sol_reserves" -> "u64", "real_token_reserves" -> "u64",
        "fee_recipient" -> "b32", "fee_basis_points" -> "u64",
        "fee" -> "u64", "creator" -> "b32",
        "creator_fee_basis_points" -> "u64", "creator_fee" -> "u64",
        "track_volume" -> "bool", "total_unclaimed_tokens" -> "u64",
        "total_claimed_tokens" -> "u64", "current_sol_volume" -> "u64",
        "last_update_timestamp" -> "i64")),
    LayoutSpec("pf_migrate", eventDisc(189, 233, 93, 185, 92, 148, 234, 148),
      borsh(16,
        "user" -> "b32", "mint" -> "b32", "mint_amount" -> "u64",
        "sol_amount" -> "u64", "pool_migration_fee" -> "u64",
        "bonding_curve" -> "b32", "timestamp" -> "i64", "pool" -> "b32"))),
    program = PumpFunProgram)

  /** PumpFun CreateTokenEvent discriminator (strings make its offsets
    * dynamic — decoded by the sequential [[graft.functions
    * .DecodeCreateToken]] expression via [[decodeCreateReal]], not by
    * fixed-offset registry fields). */
  val PumpFunCreateEventDisc: Array[Byte] =
    eventDisc(27, 114, 169, 77, 222, 235, 99, 118)

  /** Decode real PumpFun create-token log payloads: 16-byte event
    * discriminator, then the same name/symbol/uri + 4 pubkeys + 5 u64
    * schedule the synthetic path decodes (`pumpfun/events.rs:59-180`,
    * the V1 body the reference's log decoder reads). */
  def decodeCreateReal(df: DataFrame,
      payload: String = "payload"): DataFrame =
    // the sequential decoder skips 8 discriminator bytes itself; hand it
    // the payload from byte 9 so the full 16 are consumed
    EventCodec.decodeCreate(df, PumpFunCreateEventDisc, 8, payload)

  /** PumpFun instruction layouts (pumpfun/parser.rs:113-300): buy/sell
    * carry two u64 args; create/create_v2/migrate are tag-only here —
    * their bodies are strings (decoded on the log path) and
    * account-resolved pubkeys ([[ixAccounts]]). */
  val PumpFunIx: ProtocolSpec = ProtocolSpec("pumpfun_ix", Seq(
    LayoutSpec("pf_buy_ix", disc(102, 6, 61, 18, 1, 218, 235, 234),
      borsh(8, "amount" -> "u64", "max_sol_cost" -> "u64")),
    LayoutSpec("pf_sell_ix", disc(51, 230, 133, 164, 1, 127, 131, 173),
      borsh(8, "amount" -> "u64", "min_sol_output" -> "u64")),
    LayoutSpec("pf_create_ix", disc(24, 30, 200, 40, 5, 28, 7, 119),
      Seq.empty),
    LayoutSpec("pf_create_v2_ix", disc(214, 144, 76, 236, 95, 139, 49, 180),
      Seq.empty),
    LayoutSpec("pf_migrate_ix", disc(155, 234, 231, 146, 236, 158, 162, 30),
      Seq.empty)),
    program = PumpFunProgram)

  /** PumpSwap instruction layouts (pumpswap/parser.rs:132-280) — buy and
    * sell share PumpFun's anchor `buy`/`sell` hashes; program id routes. */
  val PumpSwapIx: ProtocolSpec = ProtocolSpec("pumpswap_ix", Seq(
    LayoutSpec("ps_buy_ix", disc(102, 6, 61, 18, 1, 218, 235, 234),
      borsh(8, "base_amount_out" -> "u64", "max_quote_amount_in" -> "u64")),
    LayoutSpec("ps_sell_ix", disc(51, 230, 133, 164, 1, 127, 131, 173),
      borsh(8, "base_amount_in" -> "u64", "min_quote_amount_out" -> "u64")),
    LayoutSpec("ps_deposit_ix", disc(242, 35, 198, 137, 82, 225, 242, 182),
      borsh(8, "lp_token_amount_out" -> "u64", "max_base_amount_in" -> "u64",
        "max_quote_amount_in" -> "u64")),
    LayoutSpec("ps_withdraw_ix", disc(183, 18, 70, 156, 148, 109, 161, 34),
      borsh(8, "lp_token_amount_in" -> "u64", "min_base_amount_out" -> "u64",
        "min_quote_amount_out" -> "u64")),
    // create_pool args end with an OPTIONAL un-tagged coin_creator
    // pubkey — short frames decode it as Pubkey::default() zeros
    // (pumpswap/parser.rs:213-224)
    LayoutSpec("ps_create_pool_ix", disc(233, 146, 209, 142, 207, 104, 64, 188),
      borsh(8, "index" -> "u16", "base_amount_in" -> "u64",
        "quote_amount_in" -> "u64", "coin_creator" -> "optb32"))),
    program = PumpSwapProgram)

  /** PumpFun account-state layouts (pumpfun/types.rs:14-33, account
    * discriminators events.rs:373-375). */
  val PumpFunAccounts: ProtocolSpec = ProtocolSpec("pumpfun_acct", Seq(
    LayoutSpec("pf_bonding_curve", disc(23, 183, 248, 55, 96, 216, 172, 96),
      borsh(8,
        "virtual_token_reserves" -> "u64", "virtual_sol_reserves" -> "u64",
        "real_token_reserves" -> "u64", "real_sol_reserves" -> "u64",
        "token_total_supply" -> "u64", "complete" -> "bool",
        "creator" -> "b32", "is_mayhem_mode" -> "bool"))),
    program = PumpFunProgram)

  // --------------------------------------------------------------- PumpSwap

  /** PumpSwap log events (pumpswap/events.rs:9-300): buy 385B, sell
    * 352B, create_pool 325B, deposit/withdraw 248B bodies. */
  val PumpSwap: ProtocolSpec = ProtocolSpec("pumpswap", Seq(
    LayoutSpec("ps_buy", eventDisc(103, 244, 82, 31, 44, 245, 119, 119),
      borsh(16,
        "timestamp" -> "i64", "base_amount_out" -> "u64",
        "max_quote_amount_in" -> "u64",
        "user_base_token_reserves" -> "u64",
        "user_quote_token_reserves" -> "u64",
        "pool_base_token_reserves" -> "u64",
        "pool_quote_token_reserves" -> "u64",
        "quote_amount_in" -> "u64", "lp_fee_basis_points" -> "u64",
        "lp_fee" -> "u64", "protocol_fee_basis_points" -> "u64",
        "protocol_fee" -> "u64", "quote_amount_in_with_lp_fee" -> "u64",
        "user_quote_amount_in" -> "u64", "pool" -> "b32", "user" -> "b32",
        "user_base_token_account" -> "b32",
        "user_quote_token_account" -> "b32",
        "protocol_fee_recipient" -> "b32",
        "protocol_fee_recipient_token_account" -> "b32",
        "coin_creator" -> "b32", "coin_creator_fee_basis_points" -> "u64",
        "coin_creator_fee" -> "u64", "track_volume" -> "bool",
        "total_unclaimed_tokens" -> "u64", "total_claimed_tokens" -> "u64",
        "current_sol_volume" -> "u64", "last_update_timestamp" -> "i64")),
    LayoutSpec("ps_sell", eventDisc(62, 47, 55, 10, 165, 3, 220, 42),
      borsh(16,
        "timestamp" -> "i64", "base_amount_in" -> "u64",
        "min_quote_amount_out" -> "u64",
        "user_base_token_reserves" -> "u64",
        "user_quote_token_reserves" -> "u64",
        "pool_base_token_reserves" -> "u64",
        "pool_quote_token_reserves" -> "u64",
        "quote_amount_out" -> "u64", "lp_fee_basis_points" -> "u64",
        "lp_fee" -> "u64", "protocol_fee_basis_points" -> "u64",
        "protocol_fee" -> "u64",
        "quote_amount_out_without_lp_fee" -> "u64",
        "user_quote_amount_out" -> "u64", "pool" -> "b32", "user" -> "b32",
        "user_base_token_account" -> "b32",
        "user_quote_token_account" -> "b32",
        "protocol_fee_recipient" -> "b32",
        "protocol_fee_recipient_token_account" -> "b32",
        "coin_creator" -> "b32", "coin_creator_fee_basis_points" -> "u64",
        "coin_creator_fee" -> "u64")),
    LayoutSpec("ps_create_pool", eventDisc(177, 49, 12, 210, 160, 118, 167, 116),
      borsh(16,
        "timestamp" -> "i64", "index" -> "u16", "creator" -> "b32",
        "base_mint" -> "b32", "quote_mint" -> "b32",
        "base_mint_decimals" -> "u8", "quote_mint_decimals" -> "u8",
        "base_amount_in" -> "u64", "quote_amount_in" -> "u64",
        "pool_base_amount" -> "u64", "pool_quote_amount" -> "u64",
        "minimum_liquidity" -> "u64", "initial_liquidity" -> "u64",
        "lp_token_amount_out" -> "u64", "pool_bump" -> "u8",
        "pool" -> "b32", "lp_mint" -> "b32",
        "user_base_token_account" -> "b32",
        "user_quote_token_account" -> "b32", "coin_creator" -> "b32")),
    LayoutSpec("ps_deposit", eventDisc(120, 248, 61, 83, 31, 142, 107, 144),
      borsh(16,
        "timestamp" -> "i64", "lp_token_amount_out" -> "u64",
        "max_base_amount_in" -> "u64", "max_quote_amount_in" -> "u64",
        "user_base_token_reserves" -> "u64",
        "user_quote_token_reserves" -> "u64",
        "pool_base_token_reserves" -> "u64",
        "pool_quote_token_reserves" -> "u64", "base_amount_in" -> "u64",
        "quote_amount_in" -> "u64", "lp_mint_supply" -> "u64",
        "pool" -> "b32", "user" -> "b32",
        "user_base_token_account" -> "b32",
        "user_quote_token_account" -> "b32",
        "user_pool_token_account" -> "b32")),
    LayoutSpec("ps_withdraw", eventDisc(22, 9, 133, 26, 160, 44, 71, 192),
      borsh(16,
        "timestamp" -> "i64", "lp_token_amount_in" -> "u64",
        "min_base_amount_out" -> "u64", "min_quote_amount_out" -> "u64",
        "user_base_token_reserves" -> "u64",
        "user_quote_token_reserves" -> "u64",
        "pool_base_token_reserves" -> "u64",
        "pool_quote_token_reserves" -> "u64", "base_amount_out" -> "u64",
        "quote_amount_out" -> "u64", "lp_mint_supply" -> "u64",
        "pool" -> "b32", "user" -> "b32",
        "user_base_token_account" -> "b32",
        "user_quote_token_account" -> "b32",
        "user_pool_token_account" -> "b32"))),
    program = PumpSwapProgram)

  /** PumpSwap Pool account (pumpswap/types.rs:62-74, discriminator
    * events.rs:299). */
  val PumpSwapAccounts: ProtocolSpec = ProtocolSpec("pumpswap_acct", Seq(
    LayoutSpec("ps_pool", disc(241, 154, 109, 4, 17, 177, 109, 188),
      borsh(8,
        "pool_bump" -> "u8", "index" -> "u16", "creator" -> "b32",
        "base_mint" -> "b32", "quote_mint" -> "b32", "lp_mint" -> "b32",
        "pool_base_token_account" -> "b32",
        "pool_quote_token_account" -> "b32", "lp_supply" -> "u64",
        "coin_creator" -> "b32", "is_mayhem_mode" -> "bool"))),
    program = PumpSwapProgram)

  // ------------------------------------------------------------------- Bonk

  /** Bonk log events (bonk/events.rs:13-118). TradeEvent shares the
    * anchor hash with PumpFun's TradeEvent — program id disambiguates.
    * PoolCreateEvent's fixed prefix decodes through MintParams.decimals
    * and the trailing-start `name` string (the nested curve/vesting
    * params after it have string-dependent offsets). */
  val Bonk: ProtocolSpec = ProtocolSpec("bonk", Seq(
    LayoutSpec("bonk_trade", eventDisc(189, 219, 127, 211, 78, 230, 97, 238),
      borsh(16,
        "pool_state" -> "b32", "total_base_sell" -> "u64",
        "virtual_base" -> "u64", "virtual_quote" -> "u64",
        "real_base_before" -> "u64", "real_quote_before" -> "u64",
        "real_base_after" -> "u64", "real_quote_after" -> "u64",
        "amount_in" -> "u64", "amount_out" -> "u64",
        "protocol_fee" -> "u64", "platform_fee" -> "u64",
        "creator_fee" -> "u64", "share_fee" -> "u64",
        "trade_direction" -> "u8", "pool_status" -> "u8",
        "exact_in" -> "bool")),
    LayoutSpec("bonk_pool_create", eventDisc(151, 215, 226, 9, 118, 161, 115, 174),
      borsh(16,
        "pool_state" -> "b32", "creator" -> "b32", "config" -> "b32",
        "base_decimals" -> "u8", "name" -> "str"))),
    program = BonkProgram)

  /** Bonk trade instructions (bonk/parser.rs:136-300): exact-in carries
    * (amount_in, minimum_amount_out, share_fee_rate); exact-out
    * (amount_out, maximum_amount_in, share_fee_rate). */
  val BonkIx: ProtocolSpec = ProtocolSpec("bonk_ix", Seq(
    LayoutSpec("bonk_buy_exact_in", disc(250, 234, 13, 123, 213, 156, 19, 236),
      borsh(8, "amount_in" -> "u64", "minimum_amount_out" -> "u64",
        "share_fee_rate" -> "u64")),
    LayoutSpec("bonk_buy_exact_out", disc(24, 211, 116, 40, 105, 3, 153, 56),
      borsh(8, "amount_out" -> "u64", "maximum_amount_in" -> "u64",
        "share_fee_rate" -> "u64")),
    LayoutSpec("bonk_sell_exact_in", disc(149, 39, 222, 155, 211, 124, 152, 26),
      borsh(8, "amount_in" -> "u64", "minimum_amount_out" -> "u64",
        "share_fee_rate" -> "u64")),
    LayoutSpec("bonk_sell_exact_out", disc(95, 200, 71, 34, 8, 9, 11, 166),
      borsh(8, "amount_out" -> "u64", "maximum_amount_in" -> "u64",
        "share_fee_rate" -> "u64")),
    // initialize family: bodies are MintParams/CurveParams strings —
    // tag-only on the ix path (the log path decodes the prefix). The
    // `initialize` hash is anchor-generic and shared with RaydiumCpmm's;
    // program id routes.
    LayoutSpec("bonk_initialize", disc(175, 175, 109, 31, 13, 152, 155, 237),
      Seq.empty),
    LayoutSpec("bonk_initialize_v2", disc(67, 153, 175, 39, 218, 16, 38, 32),
      Seq.empty),
    LayoutSpec("bonk_initialize_t22", disc(37, 190, 126, 222, 44, 154, 171, 17),
      Seq.empty),
    LayoutSpec("bonk_migrate_to_amm", disc(207, 82, 192, 145, 254, 207, 145, 223),
      borsh(8, "base_lot_size" -> "u64", "quote_lot_size" -> "u64",
        "market_vault_signer_nonce" -> "u8")),
    LayoutSpec("bonk_migrate_to_cpswap", disc(136, 92, 200, 103, 28, 218, 144, 140),
      Seq.empty)),
    program = BonkProgram)

  /** Bonk PoolState account (bonk/types.rs:96-130, discriminator
    * events.rs:288 — shared with RaydiumCpmm's PoolState hash; the
    * nested VestingSchedule (bonk/types.rs:88-95) is flattened into its
    * five u64 fields, exactly as borsh lays them out in-place). */
  val BonkAccounts: ProtocolSpec = ProtocolSpec("bonk_acct", Seq(
    LayoutSpec("bonk_pool_state", disc(247, 237, 227, 245, 215, 195, 222, 70),
      borsh(8,
        "epoch" -> "u64", "auth_bump" -> "u8", "status" -> "u8",
        "base_decimals" -> "u8", "quote_decimals" -> "u8",
        "migrate_type" -> "u8", "supply" -> "u64",
        "total_base_sell" -> "u64", "virtual_base" -> "u64",
        "virtual_quote" -> "u64", "real_base" -> "u64",
        "real_quote" -> "u64", "total_quote_fund_raising" -> "u64",
        "quote_protocol_fee" -> "u64", "platform_fee" -> "u64",
        "migrate_fee" -> "u64",
        "total_locked_amount" -> "u64", "cliff_period" -> "u64",
        "unlock_period" -> "u64", "start_time" -> "u64",
        "allocated_share_amount" -> "u64",
        "global_config" -> "b32", "platform_config" -> "b32",
        "base_mint" -> "b32", "quote_mint" -> "b32",
        "base_vault" -> "b32", "quote_vault" -> "b32")),
    // The reference declares AccountBonkVestingRecord in its taxonomy
    // (common/types.rs:128,154) but publishes no struct for it; the one
    // vesting layout it ships is VestingSchedule (bonk/types.rs:89-95),
    // so graft decodes the record as that schedule. Discriminator is
    // the standard Anchor account hash sha256("account:VestingRecord")
    // [0..8] — the same derivation every 8-byte account discriminator
    // above follows.
    LayoutSpec("bonk_vesting_record", disc(106, 243, 221, 205, 230, 126, 85, 83),
      borsh(8,
        "total_locked_amount" -> "u64", "cliff_period" -> "u64",
        "unlock_period" -> "u64", "start_time" -> "u64",
        "allocated_share_amount" -> "u64"))),
    program = BonkProgram)

  // ----------------------------------------------------------- Raydium CPMM

  /** Raydium CPMM instruction layouts (raydium_cpmm/parser.rs:71-244).
    * All five events are instruction-driven: LE args + positional
    * accounts. */
  val RaydiumCpmm: ProtocolSpec = ProtocolSpec("raydium_cpmm", Seq(
    LayoutSpec("cpmm_swap_base_input", disc(143, 190, 90, 218, 196, 30, 51, 222),
      borsh(8, "amount_in" -> "u64", "minimum_amount_out" -> "u64")),
    LayoutSpec("cpmm_swap_base_output", disc(55, 217, 98, 86, 163, 74, 180, 173),
      borsh(8, "max_amount_in" -> "u64", "amount_out" -> "u64")),
    LayoutSpec("cpmm_deposit", disc(242, 35, 198, 137, 82, 225, 242, 182),
      borsh(8, "lp_token_amount" -> "u64", "maximum_token0_amount" -> "u64",
        "maximum_token1_amount" -> "u64")),
    LayoutSpec("cpmm_withdraw", disc(183, 18, 70, 156, 148, 109, 161, 34),
      borsh(8, "lp_token_amount" -> "u64", "minimum_token0_amount" -> "u64",
        "minimum_token1_amount" -> "u64")),
    LayoutSpec("cpmm_initialize", disc(175, 175, 109, 31, 13, 152, 155, 237),
      borsh(8, "init_amount0" -> "u64", "init_amount1" -> "u64",
        "open_time" -> "u64"))),
    program = RaydiumCpmmProgram)

  // ----------------------------------------------------------- Raydium CLMM

  /** Raydium CLMM instruction layouts (raydium_clmm/events.rs:250-266 +
    * parser arg order). `swap` shares its anchor hash with Meteora's
    * swap instruction — program id disambiguates. sqrt_price/liquidity
    * are true u128 (Decimal(38,0) decode). */
  val RaydiumClmm: ProtocolSpec = ProtocolSpec("raydium_clmm", Seq(
    LayoutSpec("clmm_swap", disc(248, 198, 158, 145, 225, 117, 135, 200),
      borsh(8, "amount" -> "u64", "other_amount_threshold" -> "u64",
        "sqrt_price_limit_x64" -> "u128", "is_base_input" -> "bool")),
    LayoutSpec("clmm_swap_v2", disc(43, 4, 237, 11, 26, 201, 30, 98),
      borsh(8, "amount" -> "u64", "other_amount_threshold" -> "u64",
        "sqrt_price_limit_x64" -> "u128", "is_base_input" -> "bool")),
    LayoutSpec("clmm_increase_liquidity_v2", disc(133, 29, 89, 223, 69, 238, 176, 10),
      borsh(8, "liquidity" -> "u128", "amount0_max" -> "u64",
        "amount1_max" -> "u64", "base_flag" -> "optbool")),
    LayoutSpec("clmm_decrease_liquidity_v2", disc(58, 127, 188, 62, 79, 82, 196, 96),
      borsh(8, "liquidity" -> "u128", "amount0_min" -> "u64",
        "amount1_min" -> "u64")),
    LayoutSpec("clmm_create_pool", disc(233, 146, 209, 142, 207, 104, 64, 188),
      borsh(8, "sqrt_price_x64" -> "u128", "open_time" -> "u64")),
    // trailing base_flag is borsh Option<bool> (parser.rs:108/157
    // read_option_bool at offset 49 past the 8-byte disc) — wire width
    // 1 byte (None) or 2 (Some), decoded to a nullable 0/1 int
    LayoutSpec("clmm_open_position_v2", disc(77, 184, 74, 214, 112, 86, 241, 199),
      borsh(8, "tick_lower_index" -> "i32", "tick_upper_index" -> "i32",
        "tick_array_lower_start_index" -> "i32",
        "tick_array_upper_start_index" -> "i32", "liquidity" -> "u128",
        "amount0_max" -> "u64", "amount1_max" -> "u64",
        "with_metadata" -> "bool", "base_flag" -> "optbool")),
    LayoutSpec("clmm_open_position_t22", disc(77, 255, 174, 82, 125, 29, 201, 46),
      borsh(8, "tick_lower_index" -> "i32", "tick_upper_index" -> "i32",
        "tick_array_lower_start_index" -> "i32",
        "tick_array_upper_start_index" -> "i32", "liquidity" -> "u128",
        "amount0_max" -> "u64", "amount1_max" -> "u64",
        "with_metadata" -> "bool", "base_flag" -> "optbool")),
    LayoutSpec("clmm_close_position", disc(123, 134, 81, 0, 49, 68, 98, 98),
      Seq.empty)),
    program = RaydiumClmmProgram)

  // -------------------------------------------------------- Raydium AMM V4

  /** Raydium AMM V4 (raydium_amm_v4/events.rs:169-180): a pre-anchor
    * native program — SINGLE-BYTE instruction tags, args right after. */
  val RaydiumAmmV4: ProtocolSpec = ProtocolSpec("raydium_amm_v4", Seq(
    LayoutSpec("ammv4_swap_base_in", disc(9),
      borsh(1, "amount_in" -> "u64", "minimum_amount_out" -> "u64")),
    LayoutSpec("ammv4_swap_base_out", disc(11),
      borsh(1, "max_amount_in" -> "u64", "amount_out" -> "u64")),
    LayoutSpec("ammv4_deposit", disc(3),
      borsh(1, "max_coin_amount" -> "u64", "max_pc_amount" -> "u64",
        "base_side" -> "u64")),
    LayoutSpec("ammv4_withdraw", disc(4), borsh(1, "amount" -> "u64")),
    LayoutSpec("ammv4_initialize2", disc(1),
      borsh(1, "nonce" -> "u8", "open_time" -> "u64",
        "init_pc_amount" -> "u64", "init_coin_amount" -> "u64")),
    LayoutSpec("ammv4_withdraw_pnl", disc(7), Seq.empty)),
    program = RaydiumAmmV4Program)

  // -------------------------------------------------------- Meteora DAMM v2

  /** Meteora DAMM v2 swap log event (meteora_damm_v2/events.rs:39-101,
    * 180-byte body; discriminator :392-395). */
  val MeteoraDammV2: ProtocolSpec = ProtocolSpec("meteora_damm_v2", Seq(
    LayoutSpec("damm_swap", eventDisc(0xbd, 0x42, 0x33, 0xa8, 0x26, 0x50, 0x75, 0x99),
      borsh(16,
        "pool" -> "b32", "trade_direction" -> "u8",
        "collect_fee_mode" -> "u8", "has_referral" -> "bool",
        "amount_0" -> "u64", "amount_1" -> "u64", "swap_mode" -> "u8",
        "included_fee_input_amount" -> "u64",
        "excluded_fee_input_amount" -> "u64", "amount_left" -> "u64",
        "output_amount" -> "u64", "next_sqrt_price" -> "u128",
        "trading_fee" -> "u64", "protocol_fee" -> "u64",
        "partner_fee" -> "u64", "referral_fee" -> "u64",
        "included_transfer_fee_amount_in" -> "u64",
        "included_transfer_fee_amount_out" -> "u64",
        "excluded_transfer_fee_amount_out" -> "u64",
        "current_timestamp" -> "u64", "reserve_a_amount" -> "u64",
        "reserve_b_amount" -> "u64"))),
    program = MeteoraDammV2Program)

  /** Meteora DAMM v2 instructions (meteora_damm_v2/parser.rs:60-130 +
    * events.rs:380-386): `swap` shares its anchor hash with Raydium
    * CLMM's swap — program id routes. The initialize-pool family bodies
    * are nested fee-parameter structs with an Option mid-struct
    * (dynamic offsets), so they are tag-only on the ix path. */
  val MeteoraIx: ProtocolSpec = ProtocolSpec("meteora_ix", Seq(
    LayoutSpec("damm_swap_ix", disc(0xf8, 0xc6, 0x9e, 0x91, 0xe1, 0x75, 0x87, 0xc8),
      borsh(8, "amount_in" -> "u64", "minimum_amount_out" -> "u64")),
    LayoutSpec("damm_swap2_ix", disc(0x41, 0x4b, 0x3f, 0x4c, 0xeb, 0x5b, 0x5b, 0x88),
      borsh(8, "amount_0" -> "u64", "amount_1" -> "u64",
        "swap_mode" -> "u8")),
    LayoutSpec("damm_initialize_pool_ix",
      disc(0x5f, 0xb4, 0x0a, 0xac, 0x54, 0xae, 0xe8, 0x28), Seq.empty),
    LayoutSpec("damm_initialize_customizable_pool_ix",
      disc(0x14, 0xa1, 0xf1, 0x18, 0xbd, 0xdd, 0xb4, 0x02), Seq.empty),
    LayoutSpec("damm_initialize_pool_dynamic_config_ix",
      disc(0x95, 0x52, 0x48, 0xc5, 0xfd, 0xfc, 0x44, 0x0f), Seq.empty)),
    program = MeteoraDammV2Program)

  // ---------------------------------------------------------- ComputeBudget

  /** Compute-budget common events (core/common_event_parser.rs:46-82):
    * single-byte discriminators 2 (SetComputeUnitLimit, u32 units) and
    * 3 (SetComputeUnitPrice, u64 micro-lamports) — these ride nearly
    * every real transaction. */
  val ComputeBudget: ProtocolSpec = ProtocolSpec("compute_budget", Seq(
    LayoutSpec("set_compute_unit_limit", disc(2), borsh(1, "units" -> "u32")),
    LayoutSpec("set_compute_unit_price", disc(3),
      borsh(1, "micro_lamports" -> "u64"))),
    program = ComputeBudgetProgram)

  // ------------------------------------------------ config/state accounts

  /** PumpFun Global config account (pumpfun/types.rs:60-80; the
    * fee_recipients [Pubkey; 7] array rides as padding). Discriminator
    * events.rs:375. */
  val PumpFunGlobalAccount: ProtocolSpec = ProtocolSpec("pumpfun_global_acct", Seq(
    LayoutSpec("pf_global", disc(167, 232, 232, 177, 200, 108, 114, 127),
      borsh(8,
        "initialized" -> "bool", "authority" -> "b32",
        "fee_recipient" -> "b32",
        "initial_virtual_token_reserves" -> "u64",
        "initial_virtual_sol_reserves" -> "u64",
        "initial_real_token_reserves" -> "u64",
        "token_total_supply" -> "u64", "fee_basis_points" -> "u64",
        "withdraw_authority" -> "b32", "enable_migrate" -> "bool",
        "pool_migration_fee" -> "u64",
        "creator_fee_basis_points" -> "u64",
        "fee_recipients" -> "pad:224",
        "set_creator_authority" -> "b32"))),
    program = PumpFunProgram)

  /** PumpSwap GlobalConfig account (pumpswap/types.rs:15-25; the
    * protocol_fee_recipients [Pubkey; 8] rides as padding). Its
    * discriminator is shared with Bonk's GlobalConfig — owner routes. */
  val PumpSwapGlobalConfig: ProtocolSpec = ProtocolSpec("pumpswap_cfg_acct", Seq(
    LayoutSpec("ps_global_config", disc(149, 8, 156, 202, 160, 252, 176, 217),
      borsh(8,
        "admin" -> "b32", "lp_fee_basis_points" -> "u64",
        "protocol_fee_basis_points" -> "u64", "disable_flags" -> "u8",
        "protocol_fee_recipients" -> "pad:256",
        "coin_creator_fee_basis_points" -> "u64",
        "admin_set_coin_creator_authority" -> "b32"))),
    program = PumpSwapProgram)

  /** Bonk GlobalConfig + PlatformConfig accounts (bonk/types.rs:156-221;
    * PlatformConfig's trailing name is a borsh Vec<u8> — the `str`
    * kind). Discriminators events.rs:289-290. */
  val BonkConfigAccounts: ProtocolSpec = ProtocolSpec("bonk_cfg_acct", Seq(
    LayoutSpec("bonk_global_config", disc(149, 8, 156, 202, 160, 252, 176, 217),
      borsh(8,
        "epoch" -> "u64", "curve_type" -> "u8", "index" -> "u16",
        "migrate_fee" -> "u64", "trade_fee_rate" -> "u64",
        "max_share_fee_rate" -> "u64", "min_base_supply" -> "u64",
        "max_lock_rate" -> "u64", "min_base_sell_rate" -> "u64",
        "min_base_migrate_rate" -> "u64",
        "min_quote_fund_raising" -> "u64", "quote_mint" -> "b32",
        "protocol_fee_owner" -> "b32", "migrate_fee_owner" -> "b32",
        "migrate_to_amm_wallet" -> "b32",
        "migrate_to_cpswap_wallet" -> "b32")),
    LayoutSpec("bonk_platform_config", disc(160, 78, 128, 0, 248, 83, 230, 160),
      borsh(8,
        "epoch" -> "u64", "platform_fee_wallet" -> "b32",
        "platform_nft_wallet" -> "b32", "platform_scale" -> "u64",
        "creator_scale" -> "u64", "burn_scale" -> "u64",
        "fee_rate" -> "u64", "name" -> "str"))),
    program = BonkProgram)

  /** Raydium CPMM AmmConfig + PoolState accounts (raydium_cpmm/types.rs:
    * 17-31 AmmConfig, 228 B with its [u64; 16] padding; types.rs:61-86
    * PoolState, POOL_STATE_SIZE 629 with its [u64; 31] padding,
    * discriminator events.rs:153 — the `amm_config` hash is shared with
    * Raydium CLMM's and the `pool_state` hash with Bonk/CLMM's; owner
    * routes). */
  val CpmmAccounts: ProtocolSpec = ProtocolSpec("cpmm_acct", Seq(
    LayoutSpec("cpmm_amm_config", disc(218, 244, 33, 104, 203, 203, 43, 111),
      borsh(8,
        "bump" -> "u8", "disable_create_pool" -> "bool", "index" -> "u16",
        "trade_fee_rate" -> "u64", "protocol_fee_rate" -> "u64",
        "fund_fee_rate" -> "u64", "create_pool_fee" -> "u64",
        "protocol_owner" -> "b32", "fund_owner" -> "b32",
        "padding" -> "pad:128")),
    LayoutSpec("cpmm_pool_state", disc(247, 237, 227, 245, 215, 195, 222, 70),
      borsh(8,
        "amm_config" -> "b32", "pool_creator" -> "b32",
        "token0_vault" -> "b32", "token1_vault" -> "b32",
        "lp_mint" -> "b32", "token0_mint" -> "b32",
        "token1_mint" -> "b32", "token0_program" -> "b32",
        "token1_program" -> "b32", "observation_key" -> "b32",
        "auth_bump" -> "u8", "status" -> "u8",
        "lp_mint_decimals" -> "u8", "mint0_decimals" -> "u8",
        "mint1_decimals" -> "u8", "lp_supply" -> "u64",
        "protocol_fees_token0" -> "u64", "protocol_fees_token1" -> "u64",
        "fund_fees_token0" -> "u64", "fund_fees_token1" -> "u64",
        "open_time" -> "u64", "recent_epoch" -> "u64",
        "padding" -> "pad:248"))),
    program = RaydiumCpmmProgram)

  /** Raydium CLMM account states (raydium_clmm/types.rs:18-183):
    * AmmConfig (hash shared with CPMM), PoolState prefix through the
    * u128 liquidity/sqrt-price + current tick (hash shared with
    * Bonk/CPMM pool_state), TickArrayState prefix (the [TickState; 60]
    * body follows the start index). */
  val ClmmAccounts: ProtocolSpec = ProtocolSpec("clmm_acct", Seq(
    LayoutSpec("clmm_amm_config", disc(218, 244, 33, 104, 203, 203, 43, 111),
      borsh(8,
        "bump" -> "u8", "index" -> "u16", "owner" -> "b32",
        "protocol_fee_rate" -> "u32", "trade_fee_rate" -> "u32",
        "tick_spacing" -> "u16", "fund_fee_rate" -> "u32",
        "padding_u32" -> "pad:4", "fund_owner" -> "b32",
        "padding" -> "pad:24")),
    LayoutSpec("clmm_pool_state", disc(247, 237, 227, 245, 215, 195, 222, 70),
      borsh(8,
        "bump" -> "u8", "amm_config" -> "b32", "owner" -> "b32",
        "token_mint0" -> "b32", "token_mint1" -> "b32",
        "token_vault0" -> "b32", "token_vault1" -> "b32",
        "observation_key" -> "b32", "mint_decimals0" -> "u8",
        "mint_decimals1" -> "u8", "tick_spacing" -> "u16",
        "liquidity" -> "u128", "sqrt_price_x64" -> "u128",
        "tick_current" -> "i32")),
    LayoutSpec("clmm_tick_array", disc(192, 155, 85, 205, 49, 249, 129, 42),
      borsh(8, "pool_id" -> "b32", "start_tick_index" -> "i32"))),
    program = RaydiumClmmProgram)

  /** Raydium AMM V4 AmmInfo account prefix (raydium_amm_v4/types.rs:
    * 45-61; native single-byte tag 6, events.rs:179). */
  val AmmV4Accounts: ProtocolSpec = ProtocolSpec("ammv4_acct", Seq(
    LayoutSpec("ammv4_amm_info", disc(6),
      borsh(1,
        "status" -> "u64", "nonce" -> "u64", "order_num" -> "u64",
        "depth" -> "u64", "coin_decimals" -> "u64",
        "pc_decimals" -> "u64", "state" -> "u64", "reset_flag" -> "u64",
        "min_size" -> "u64", "vol_max_cut_ratio" -> "u64",
        "amount_wave" -> "u64", "coin_lot_size" -> "u64",
        "pc_lot_size" -> "u64", "min_price_multiplier" -> "u64",
        "max_price_multiplier" -> "u64", "sys_decimal_value" -> "u64"))),
    program = RaydiumAmmV4Program)

  val TokenProgram = "TokenkegQfeZyiNwAJbNbGKPFXCWuBvf9Ss623VQ5DA"
  val SystemProgram = "11111111111111111111111111111111"

  /** SPL token + system nonce accounts (core/account_event_parser.rs:
    * 19-41,121-237): NO discriminator — owner program + fixed length
    * are the whole guard, exactly as the reference recognizes them. */
  val SplAccounts: ProtocolSpec = ProtocolSpec("spl_acct", Seq(
    LayoutSpec("token_account", Array.empty[Byte], Seq(
      ProtocolRegistry.FieldSpec("mint", 0, "b32"),
      ProtocolRegistry.FieldSpec("token_owner", 32, "b32"),
      ProtocolRegistry.FieldSpec("amount", 64, "u64"),
      ProtocolRegistry.FieldSpec("rest", 72, "pad:93")))), // 165 B total
    program = TokenProgram)

  val Token2022Program = "TokenzQdBNbLqP5VEhdkAS6EPFLC1PHnBqCXEpPxuEb"

  /** Token-2022 accounts: identical base layout, different owner — the
    * reference treats Token2022 as a second program id for the same
    * token-account parse (`common/types.rs:361-365` SYSTEM_PROGRAMS).
    * A distinct spec under the 2022 owner; dispatch prefixes the shared
    * kind name, so both decode in one pass. */
  val Spl2022Accounts: ProtocolSpec = ProtocolSpec("spl22_acct", Seq(
    LayoutSpec("token_account", Array.empty[Byte], Seq(
      ProtocolRegistry.FieldSpec("mint", 0, "b32"),
      ProtocolRegistry.FieldSpec("token_owner", 32, "b32"),
      ProtocolRegistry.FieldSpec("amount", 64, "u64"),
      ProtocolRegistry.FieldSpec("rest", 72, "pad:93")))),
    program = Token2022Program)

  val NonceAccounts: ProtocolSpec = ProtocolSpec("nonce_acct", Seq(
    LayoutSpec("nonce_account", Array.empty[Byte],
      borsh(0, "version" -> "u32", "state" -> "u32",
        "authority" -> "b32", "blockhash" -> "b32", "fee" -> "u64"))),
    program = SystemProgram)

  /** Transaction (log-event) registry — dispatch with the emitting
    * program column. */
  val logRegistry: Seq[ProtocolSpec] =
    Seq(PumpFun, PumpSwap, Bonk, MeteoraDammV2)

  /** Instruction registry (8-byte/1-byte discriminators + data args). */
  val ixRegistry: Seq[ProtocolSpec] =
    Seq(PumpFunIx, PumpSwapIx, BonkIx, RaydiumCpmm, RaydiumClmm,
      RaydiumAmmV4, MeteoraIx, ComputeBudget)

  /** Account-state registry — dispatch with the OWNER program column. */
  val accountRegistry: Seq[ProtocolSpec] =
    Seq(PumpFunAccounts, PumpSwapAccounts, BonkAccounts,
      PumpFunGlobalAccount, PumpSwapGlobalConfig, BonkConfigAccounts,
      CpmmAccounts, ClmmAccounts, AmmV4Accounts, SplAccounts,
      Spl2022Accounts, NonceAccounts)

  // -------------------------------------------- positional account schedules

  /** Named account slots per instruction layout — the reference resolves
    * instruction pubkeys positionally from the transaction account list
    * (`pumpfun/parser.rs:253-268`, `raydium_cpmm/parser.rs:194-207`).
    * Only the analytically load-bearing slots are named here; a layout's
    * full list lives in the cited parser. */
  val ixAccounts: Map[String, Seq[(String, Int)]] = Map(
    "pf_buy_ix" -> Seq("global" -> 0, "fee_recipient" -> 1, "mint" -> 2,
      "bonding_curve" -> 3, "associated_bonding_curve" -> 4,
      "associated_user" -> 5, "user" -> 6),
    "pf_sell_ix" -> Seq("global" -> 0, "fee_recipient" -> 1, "mint" -> 2,
      "bonding_curve" -> 3, "associated_bonding_curve" -> 4,
      "associated_user" -> 5, "user" -> 6),
    "cpmm_swap_base_input" -> Seq("payer" -> 0, "authority" -> 1,
      "amm_config" -> 2, "pool_state" -> 3, "input_token_account" -> 4,
      "output_token_account" -> 5, "input_vault" -> 6,
      "output_vault" -> 7, "input_token_mint" -> 10,
      "output_token_mint" -> 11),
    "cpmm_swap_base_output" -> Seq("payer" -> 0, "authority" -> 1,
      "amm_config" -> 2, "pool_state" -> 3, "input_token_account" -> 4,
      "output_token_account" -> 5, "input_vault" -> 6,
      "output_vault" -> 7, "input_token_mint" -> 10,
      "output_token_mint" -> 11),
    "ammv4_swap_base_in" -> Seq("token_program" -> 0, "amm" -> 1,
      "amm_authority" -> 2, "amm_open_orders" -> 3,
      "user_source_token_account" -> 14,
      "user_destination_token_account" -> 15, "user_source_owner" -> 16),
    "pf_create_ix" -> Seq("mint" -> 0, "mint_authority" -> 1,
      "bonding_curve" -> 2, "associated_bonding_curve" -> 3, "user" -> 7),
    "pf_create_v2_ix" -> Seq("mint" -> 0, "mint_authority" -> 1,
      "bonding_curve" -> 2, "associated_bonding_curve" -> 3, "user" -> 7),
    "damm_swap_ix" -> Seq("pool_authority" -> 0, "pool" -> 1,
      "input_token_account" -> 2, "output_token_account" -> 3,
      "token_a_vault" -> 4, "token_b_vault" -> 5, "token_a_mint" -> 6,
      "token_b_mint" -> 7, "payer" -> 8),
    "bonk_buy_exact_in" -> Seq("payer" -> 0, "global_config" -> 2),
    "bonk_buy_exact_out" -> Seq("payer" -> 0, "global_config" -> 2),
    "bonk_sell_exact_in" -> Seq("payer" -> 0, "global_config" -> 2),
    "bonk_sell_exact_out" -> Seq("payer" -> 0, "global_config" -> 2))

  /** Decode one instruction layout over rows with a `data` blob and the
    * transaction's `account_keys` + per-instruction `accounts` index
    * list: LE args from the blob, named pubkeys through the key table
    * (all length/index guarded, malformed rows drop out). */
  def decodeInstruction(df: DataFrame, layout: LayoutSpec,
      data: String = "data", accountIdx: String = "accounts",
      keys: String = "account_keys"): DataFrame = {
    val named = ixAccounts.getOrElse(layout.kind, Seq.empty)
    val maxSlot = named.map(_._2).foldLeft(-1)(math.max)
    val guarded = if (maxSlot < 0) df else df.filter(
      expr(s"size($accountIdx)") > maxSlot &&
        expr(s"array_max($accountIdx)") < expr(s"size($keys)") &&
        expr(s"array_min($accountIdx)") >= 0)
    val body = "__graft_ix"
    val decoded = ProtocolRegistry.withBody(guarded, layout, data, body)
    val acctCols = named.map { case (n, i) =>
      element_at(col(keys),
        element_at(col(accountIdx), i + 1).cast("int") + 1).as(n)
    }
    decoded.filter(col(body).isNotNull).select(
      df.columns.map(c => col(s"`$c`")) ++
        ProtocolRegistry.bodyFields(decoded, body) ++ acctCols: _*)
  }
}
