package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** A global rank or running sum over a total order, without a
  * single-task window — the terasort shape every order-statistic
  * operator shares (ranks, quantiles, budget prefixes, dense ids):
  *
  *  1. `repartitionByRange` on the order, so each partition holds one
  *     contiguous range of it;
  *  2. `spark_partition_id` tags each row with its range (`pid`);
  *  3. a `localCheckpoint` freezes the sampled range boundaries, so
  *     the totals pass and the window pass see the same ranges;
  *  4. per-`pid` totals (row counts, or sums of a weight column);
  *  5. a triangular `b.pid < a.pid` self-join of those totals gives
  *     each range its exclusive offset — one row per partition;
  *  6. a window partitioned by `pid` plus the broadcast offset gives
  *     the global position.
  *
  * An unpartitioned window would drag every row through one task;
  * here nothing larger than the partition-count offsets table is
  * gathered. The order must be total (end it with a unique column):
  * positions are then independent of where the range boundaries land.
  *
  * @param parted the frozen, `pid`-tagged rows: callers read grand
  *   totals from it without re-running the range exchange
  * @param totals one row per range: `pid` and `c`, its row count or
  *   weight sum
  */
private[graft] final class GlobalOrder private (
    val parted: DataFrame, val totals: DataFrame,
    order: Seq[Column], weight: Option[String]) {

  /** `parted` joined with its range offset, plus column `name`: the
    * row's 1-based rank in the order, or with a weight, the inclusive
    * running weight sum (both bigint). */
  def withPosition(name: String): DataFrame = {
    val offsets = totals.as("a")
      .join(totals.as("b"), col("b.pid") < col("a.pid"), "left")
      .groupBy(col("a.pid").as("pid"))
      .agg(coalesce(sum(col("b.c")), lit(0L)).as("off"))
    val w = Window.partitionBy("pid").orderBy(order: _*)
    val local = weight.fold(row_number().over(w))(c => sum(c).over(
      w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    parted.join(broadcast(offsets), "pid")
      .withColumn(name, (local + col("off")).cast("bigint"))
  }
}

private[graft] object GlobalOrder {

  /** Range-partitions `df` on `order` (into `numPartitions` ranges, or
    * the session default) and freezes it; `weight` names the column
    * [[GlobalOrder.withPosition]] running-sums instead of ranking. */
  def apply(df: DataFrame, order: Seq[Column],
      weight: Option[String] = None,
      numPartitions: Option[Int] = None): GlobalOrder = {
    val ranged = numPartitions.fold(df.repartitionByRange(order: _*))(
      df.repartitionByRange(_, order: _*))
    val parted = ranged.withColumn("pid", spark_partition_id())
      .localCheckpoint()
    val totals = parted.groupBy("pid")
      .agg(weight.fold(count(lit(1)))(c => sum(c)).as("c"))
    new GlobalOrder(parted, totals, order, weight)
  }
}
