package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling for training-data pipelines.
  *
  * Sampling at 100 TB must be reproducible (re-runs and engines agree),
  * stateless (no RNG seeds to thread through retries/speculative tasks),
  * and embarrassingly parallel. Hash-based acceptance gives all three:
  * a row is kept iff a content-stable hash of its id falls below the
  * stratum's threshold — a pure codegen'd filter, no shuffle, identical
  * output on any cluster layout.
  */
object Sampling {

  /** Per-row acceptance hash: first byte of md5("smp" || id), as hex.
    * Uniform over 256 values; portable (any engine with md5 agrees). */
  def acceptanceHash(idCol: Column): Column =
    substring(md5(concat(lit("smp"), idCol.cast("string")).cast("binary")),
      1, 2)

  /** Keep rows whose acceptance hash is below the (possibly per-stratum)
    * two-hex-digit threshold: "40" keeps 64/256 = 25%, "80" keeps 50%. */
  def stratifiedByHash(
      df: DataFrame, idCol: Column, thresholdHex: Column): DataFrame =
    df.filter(acceptanceHash(idCol) < thresholdHex)

  /** C15b: fixed-count per-stratum sample — exactly `k` rows per group
    * (rate-based [[stratifiedByHash]] can't promise a count), chosen by a
    * portable hash order (md5, so any engine reproduces the same sample).
    * One shuffle on the stratum key; the per-group top-k sorts are
    * partition-local (WindowGroupLimit pushes the rank bound before the
    * final sort at scale).
    */
  def sampleKPerStratum(df: DataFrame, stratumCol: String, idCol: String,
      k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(stratumCol)
      .orderBy(md5(col(idCol).cast("string").cast("binary")), col(idCol))
    df.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col(stratumCol), col(idCol))
  }

  /** C15c: WEIGHTED k-per-stratum sampling (deterministic priority
    * sampling): each row draws a pseudo-random 32-bit key from its id
    * hash and competes with priority `key·10⁹ div weight` — heavier
    * rows get systematically smaller priorities, so the k smallest per
    * stratum form a weight-biased sample (A-Res with the exponential
    * variate replaced by an exact scaled-integer rational). Everything
    * is integer arithmetic on non-negative operands, so the sample is a
    * pure function of (id, weight): reproducible across engines,
    * partitionings, and reruns — no floats, no logs, no RNG state. */
  def weightedSample(df: DataFrame, stratumCol: String, idCol: String,
      weightCol: Column, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(stratumCol)
      .orderBy(col("priority"), col(idCol))
    df.withColumn("weight", weightCol.cast("bigint"))
      .filter(col("weight") >= 1)
      .withColumn("h32", expr(
        s"cast(conv(substring(md5(cast(cast($idCol as string) " +
          "as binary)), 1, 8), 16, 10) as bigint)"))
      // h32 < 2^32, so h32·10^9 < 2^62 — no overflow; div truncates on
      // non-negative operands identically in Spark and DuckDB
      .withColumn("priority", expr("h32 * 1000000000 div weight"))
      .withColumn("rn", row_number().over(w).cast("bigint"))
      .filter(col("rn") <= k)
      .select(col(stratumCol), col(idCol), col("weight"),
        col("priority"), col("rn"))
  }

  /** Data-mixture construction: upsample each row by an integer repeat
    * factor (training-data recipes weight sources, e.g. books x2 vs web
    * x1). Pure generate — no shuffle; each copy is tagged so downstream
    * shuffling/packing can keep copies apart. Fractional weights compose
    * with [[stratifiedByHash]] (e.g. 1.25x = x1 + a 25% sampled extra). */
  def mixtureUpsample(df: DataFrame, weight: Column): DataFrame =
    df.withColumn("copy_idx",
      explode(sequence(lit(1), weight.cast("int"))))

  /** C32: fixed-token chunking with stride — each document becomes
    * context-window-sized token chunks, overlapping when
    * `strideTokens < chunkTokens` (the "split long docs into training
    * windows" step; C17 packs whole docs into bins, this splits single
    * docs). Chunk starts run at the stride until one chunk reaches the
    * document end — no redundant fully-contained tail chunk. The token
    * array is built once per document and chunks are codegen'd
    * slice/array_join over an exploded index sequence: no per-token
    * lambda, no token-level explode, and the output carries a digest per
    * chunk rather than the chunk text.
    */
  def chunkDocuments(docs: DataFrame, chunkTokens: Int = 64,
      strideTokens: Int = 48): DataFrame =
    docs
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n_tok", size(col("toks")))
      .select(col("doc_id"), col("toks"), col("n_tok"),
        explode(expr(
          s"sequence(0L, greatest((n_tok - $chunkTokens + " +
            s"${strideTokens - 1}) div $strideTokens, 0))"))
          .as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx"),
        least(lit(chunkTokens.toLong),
          col("n_tok").cast("bigint") -
            col("chunk_idx") * strideTokens).as("chunk_tokens"),
        md5(expr(s"array_join(slice(toks, " +
          s"cast(chunk_idx * $strideTokens + 1 as int), $chunkTokens), ' ')"))
          .as("chunk_md5"))

  /** C35: deterministic global shuffle order — the "shuffle the corpus
    * before training" step, reproducibly: rank documents by a salted
    * content-stable hash (md5, portable across engines) rather than an
    * RNG. Same seed → same permutation on any cluster layout or retry;
    * different seed → an independent permutation per epoch. One global
    * rank on the (shuffle_key, id) order ([[GlobalOrder]]), so
    * downstream writers can range-partition on `shuffle_rank`.
    */
  def shuffleOrder(df: DataFrame, idCol: String, seed: String): DataFrame =
    GlobalOrder(df
        .select(col(idCol),
          md5(concat(lit(seed), col(idCol).cast("string")).cast("binary"))
            .as("shuffle_key")),
        Seq(col("shuffle_key"), col(idCol)))
      .withPosition("shuffle_rank")
      .select(col(idCol), col("shuffle_key"), col("shuffle_rank"))

  /** C36: deterministic train/val/test split — hash-bucket assignment
    * (md5 first two hex digits → 256 buckets) so membership is a pure
    * function of the id: stable across re-runs, engines, and table
    * layouts, and never leaks a row into two splits. Reported as
    * per-(stratum, split) counts; thresholds are bucket counts out of
    * 256 (204 ≈ 80% train, 230 ≈ 90% cumulative val).
    */
  def hashSplit(df: DataFrame, idCol: String, stratumCol: String,
      trainBuckets: Int = 204, valBuckets: Int = 26): DataFrame =
    df.withColumn("bucket",
      conv(substring(md5(concat(lit("split"), col(idCol).cast("string"))
        .cast("binary")), 1, 2), 16, 10).cast("int"))
      .withColumn("split",
        when(col("bucket") < trainBuckets, "train")
          .when(col("bucket") < trainBuckets + valBuckets, "val")
          .otherwise("test"))
      .groupBy(col(stratumCol), col("split"))
      .agg(count(lit(1)).as("n_docs"))

  /** Greedy-by-order sequence packing: within each stratum, rows are
    * packed in a deterministic order into fixed-budget bins (the
    * "pack documents into 2k-token training sequences" step). The running
    * total is a single window cumsum per stratum — one shuffle on the
    * stratum key; bins are `(cumsum - tokens) div budget`, i.e. a row
    * starts a new bin when its predecessor total crossed the budget.
    * Rows longer than the budget still get a bin (alone, oversized),
    * matching how packers truncate downstream. */
  def packSequences(
      df: DataFrame, stratumCol: Column, orderCol: Column,
      tokensCol: Column, budget: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(stratumCol).orderBy(orderCol)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    df.withColumn("cum_tokens", sum(tokensCol).over(w))
      .withColumn("bin",
        ((col("cum_tokens") - tokensCol) / budget).cast("bigint"))
  }

  /** C44: token-budget corpus selection — keep the best-scoring prefix
    * of the corpus until the training-token budget is exhausted ("fill
    * 1T tokens with the highest-quality data"). A document is kept when
    * the cumulative token count BEFORE it is still under the budget, so
    * the cut is a deterministic function of the (score desc, doc_id)
    * total order; the boundary document is kept (packers truncate
    * downstream), matching greedy selection. The global running sum is
    * a [[GlobalOrder]] position weighted by tokens. */
  def selectByBudget(df: DataFrame, scoreCol: Column, tokensCol: Column,
      budget: Long): DataFrame =
    GlobalOrder(
        df.select(col("doc_id"), scoreCol.as("score"), tokensCol.as("tokens")),
        Seq(col("score").desc, col("doc_id")), weight = Some("tokens"))
      .withPosition("cum_tokens")
      .filter(col("cum_tokens") - col("tokens") < budget)
      .select(col("doc_id"), col("score"), col("tokens").cast("bigint")
        .as("tokens"), col("cum_tokens"))

  /** C64: curriculum stage assignment — every document binned into
    * `nBins` equal-population stages by token count (short-to-long is
    * the standard length curriculum; the stage column is what a
    * training run orders its epochs by). The bin boundary is EXACT
    * global-rank arithmetic, stage = ((rank−1)·nBins) div n + 1, on
    * the (n_tokens, doc_id) total order — the same quintile contract
    * as the RFM scores, so ties split deterministically and both
    * engines agree without any percentile interpolation.
    *
    * Shape: the rank is a [[GlobalOrder]] rank on (n_tokens, doc_id)
    * — NO unpartitioned window at 10⁹ documents; token counts come from
    * one codegen'd projection (text never shuffles — the range exchange
    * moves (id, count) pairs). */
  def curriculumBins(docs: DataFrame, nBins: Int = 10): DataFrame = {
    val toks = docs.select(col("doc_id"),
        size(split(col("text"), " ")).cast("bigint").as("n_tokens"))
      .localCheckpoint() // count + the frozen range exchange read it
    val n = toks.count()
    GlobalOrder(toks, Seq(col("n_tokens"), col("doc_id")))
      .withPosition("rk")
      .select(col("doc_id"), col("n_tokens"),
        expr(s"cast(((rk - 1) * $nBins) div $n + 1 as int)").as("stage"))
  }

  /** C68: context-window fit report per source — the capacity-planning
    * question every training run asks before picking a sequence length:
    * how many documents exceed `contextTokens` (whitespace tokens, the
    * [[graft.operators.TextAnalysis.tokenCounts]] definition), exactly
    * how many tokens truncation throws away (Σ max(n_tok − L, 0)), and
    * the exact p50/p90/p99 order statistics of per-doc token counts.
    * Percentiles are rank-based — the value at 1-based ascending index
    * ((n−1)·p) div 100 + 1 — pure integer arithmetic, no interpolation,
    * so both engines agree bit-for-bit.
    *
    * Shape: one codegen'd projection to (source, n_tok), then
    * compaction to a (source, n_tok) HISTOGRAM before any window (the
    * calibratedQuality trick): the cumulative pass and the percentile
    * lookup run over |sources| × |distinct lengths| rows, never over
    * documents — no doc-level window exists in the plan, so it holds
    * at 10⁹ docs where per-source doc windows would single-thread. */
  def contextFitReport(docs: DataFrame, contextTokens: Int = 256): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tk = docs.select(col("source"),
      size(split(col("text"), " ")).cast("bigint").as("n_tok"))
    val hist = tk.groupBy("source", "n_tok").agg(count(lit(1)).as("c"))
    val totals = hist.groupBy("source").agg(
      sum("c").as("n_docs"),
      sum(when(col("n_tok") > contextTokens, col("c")).otherwise(0L))
        .as("docs_over"),
      sum(col("c") * col("n_tok")).as("tok_total"),
      sum(col("c") *
        when(col("n_tok") > contextTokens,
          col("n_tok") - contextTokens).otherwise(0L)).as("tok_lost"))
    val wCum = Window.partitionBy("source").orderBy("n_tok")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist.withColumn("cum", sum("c").over(wCum))
      .join(broadcast(totals), "source")
    val picks = cum.groupBy("source").agg(
      min(when(col("cum") >= expr("(n_docs - 1) * 50 div 100 + 1"),
        col("n_tok"))).as("p50_tok"),
      min(when(col("cum") >= expr("(n_docs - 1) * 90 div 100 + 1"),
        col("n_tok"))).as("p90_tok"),
      min(when(col("cum") >= expr("(n_docs - 1) * 99 div 100 + 1"),
        col("n_tok"))).as("p99_tok"))
    totals.join(picks, "source")
      .select(col("source"), col("n_docs"), col("docs_over"),
        col("tok_total"), col("tok_lost"),
        (col("tok_lost").cast("double") / col("tok_total").cast("double"))
          .as("loss_frac"),
        col("p50_tok"), col("p90_tok"), col("p99_tok"))
  }

  /** Poisson(1) CDF as integer cutpoints on a 24-bit uniform hash
    * (⌊CDF(k)·2²⁴⌋ for k = 0..6; mass above the last cutpoint draws 7).
    * Shared verbatim with the SQL oracle — the thresholds ARE the
    * contract. */
  private[graft] val PoissonCdf24: Seq[Long] = Seq(6171992L, 12343985L,
    15429982L, 16458647L, 16715813L, 16767247L, 16775819L)

  /** C79: deterministic Poisson-bootstrap confidence intervals for a
    * per-source corpus metric — the error bars a curation dashboard
    * needs before acting on a per-source mean (C18/C71 report points;
    * a 2%-of-corpus source can move them on noise). Classic online
    * bootstrap: replicate r reweights each doc by a Poisson(1) draw,
    * but the draw is a HASH of (doc_id, r) pushed through the fixed
    * integer CDF cutpoints ([[PoissonCdf24]]) — stateless,
    * partition-proof, identical in any engine (the [[acceptanceHash]]
    * contract), so the whole CI is oracle-checkable. 95%-ish interval
    * by the percentile method: with `b` replicates, lo/hi are the
    * 2nd/(b−1)th order statistics of the replicate means (exact
    * integer ranks, (mean, rep) tie-break).
    *
    * Shape: one b-way `sequence` explode per doc collapses map-side
    * into (source, rep) integer sums (weights and metric are exact
    * integers; ONE IEEE division per replicate mean), then a ≤ b-row
    * per-source window picks the order statistics — metadata-sized.
    * Cost is linear ×b; b tunes precision against compute. */
  def bootstrapCI(docs: DataFrame, idCol: String, metric: Column,
      b: Int = 40): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(b >= 4, s"need >= 4 replicates for the rank CI, got $b")
    val base = docs.select(col("source"), col(idCol).as("bid"),
      metric.cast("bigint").as("x"))
    val point = base.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        (sum("x").cast("double") / count(lit(1)).cast("double"))
          .as("point_mean"))
    val u = conv(substring(md5(concat(lit("boot"),
      col("bid").cast("string"), lit(":"), col("rep").cast("string"))
      .cast("binary")), 1, 6), 16, 10).cast("bigint")
    val cdf = PoissonCdf24.zipWithIndex
      .foldRight(lit(7L)) { case ((t, k), rest) =>
        when(col("u") < t, k.toLong).otherwise(rest)
      }
    val reps = base
      .select(col("source"), col("bid"), col("x"),
        explode(expr(s"sequence(0, ${b - 1})")).as("rep"))
      .withColumn("u", u)
      .withColumn("w", cdf)
      .groupBy("source", "rep")
      .agg(sum(col("w") * col("x")).as("sx"), sum("w").as("sw"))
      .select(col("source"), col("rep"),
        (col("sx").cast("double") / col("sw").cast("double"))
          .as("mean_r"))
    val ranked = reps.withColumn("rk", row_number().over(
      Window.partitionBy("source").orderBy(col("mean_r"), col("rep"))))
    val ci = ranked.groupBy("source")
      .agg(min(when(col("rk") === 2, col("mean_r"))).as("ci_lo"),
        min(when(col("rk") === b - 1, col("mean_r"))).as("ci_hi"),
        count(lit(1)).as("n_replicates"))
    point.join(ci, "source")
      .select(col("source"), col("n_docs"), col("point_mean"),
        col("ci_lo"), col("ci_hi"), col("n_replicates"))
  }
}
