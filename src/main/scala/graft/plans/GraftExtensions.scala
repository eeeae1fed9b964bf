package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{EqualTo, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{BinaryType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions._

/** SparkSessionExtensions wiring (SURVEY §2 D1): exposes the graft
  * expressions to SQL users and installs a small optimizer rule.
  * Activate with
  * `.config("spark.sql.extensions", "graft.plans.GraftExtensions")`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import GraftExtensions._

  override def apply(ext: SparkSessionExtensions): Unit = {
    functions.foreach(ext.injectFunction)
    ext.injectOptimizerRule(_ => GraftNopElimination)
    ext.injectOptimizerRule(_ => Base58LiteralRewrite)
    ext.injectOptimizerRule(_ => RangeJoinRewrite)
    ext.injectPlannerStrategy(_ => AsOfMergeStrategy)
  }
}

object GraftExtensions {
  /** The graft_* SQL functions, shared by the extensions path and
    * [[graft.Graft.attach]]. */
  private[graft] val functions = Seq(
    fn("graft_base58", 1, es => Base58Encode(es.head)),
    fn("graft_unbase58", 1, es => Base58Decode(es.head)),
    fn("graft_le_long", 2, es => LeLong(es(0), es(1))),
    fn("graft_le_int", 2, es => LeInt(es(0), es(1))),
    fn("graft_le_bytes", 2, es => LeBytes(es(0), es(1))),
    fn("graft_le_u128", 2, es => LeU128(es(0), es(1))),
    fn("graft_rolling_min", 2, es => RollingHashMin(es(0), es(1))),
    fn("graft_nop", 1, es => GraftNop(es.head)),
    fn("graft_trigrams", 1, es => Trigrams(es.head)),
    fn("graft_vec_dot", 2, es => VecDot(es(0), es(1))),
    fn("graft_vec_norm2", 1, es => VecNorm2(es.head)),
    fn("graft_hyperplane_sig", 2, es => HyperplaneSig(es(0), es(1))),
    fn("graft_simhash_bands", 1, es => SimHashBands(es.head)),
    fn("graft_checksum", 1, es => ByteChecksum(es.head)),
    fn("graft_find_pattern", 2, es => FindPattern(es(0), es(1))),
    fn("graft_bloom_agg", 3,
      es => new org.apache.spark.sql.catalyst.expressions.aggregate
        .BloomFilterAggregate(es(0), es(1), es(2))
        .toAggregateExpression()),
    fn("graft_might_contain", 2,
      es => org.apache.spark.sql.catalyst.expressions
        .BloomFilterMightContain(es(0), es(1))))

  private def fn(name: String, args: Int, build: Seq[Expression] => Expression)
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = {
    val builder = (es: Seq[Expression]) => {
      require(es.length == args, s"$name expects $args arguments")
      build(es)
    }
    (FunctionIdentifier(name),
      new ExpressionInfo(classOf[GraftExtensions].getName, name), builder)
  }

  /** Strips the graft_nop marker so it never reaches physical planning. */
  object GraftNopElimination extends Rule[LogicalPlan] {
    override def apply(plan: LogicalPlan): LogicalPlan =
      plan.transformAllExpressions { case GraftNop(child) => child }
  }

  /** `graft_base58(col) = 'literal'` → `col = unbase58(literal)`:
    * decodes the literal once at plan time instead of base58-encoding
    * every row (base58 is bijective, so the rewrite is exact). Predicates
    * on rendered pubkeys — the reference's account-include filters — then
    * compare raw bytes and can push into scans. Invalid literals are
    * left untouched (the comparison is then always false/null anyway).
    */
  object Base58LiteralRewrite extends Rule[LogicalPlan] {
    private def decoded(s: UTF8String): Option[Array[Byte]] =
      try Some(Base58.decode(s.toString)) catch { case _: Exception => None }

    override def apply(plan: LogicalPlan): LogicalPlan =
      plan.transformAllExpressions {
        case eq @ EqualTo(Base58Encode(child), Literal(s: UTF8String, StringType)) =>
          decoded(s).map(b => EqualTo(child, Literal(b, BinaryType))).getOrElse(eq)
        case eq @ EqualTo(Literal(s: UTF8String, StringType), Base58Encode(child)) =>
          decoded(s).map(b => EqualTo(Literal(b, BinaryType), child)).getOrElse(eq)
      }
  }
}
