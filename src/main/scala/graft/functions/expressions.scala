package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, Literal, UnaryExpression}
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expressions for the binary event-decode path — the
  * Spark-native equivalent of the reference's hand-rolled little-endian
  * parsers (reference `src/streaming/event_parser/protocols/pumpfun/
  * events.rs:57-180` reads `u32/u64 from_le_bytes` + 32-byte pubkeys).
  * All are codegen'd (whole-stage friendly): the generated Java calls the
  * static forwarders on [[CodecOps]] / [[Base58]].
  */
case class LeLong(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[GraftBridge.ADT] = Seq(BinaryType, IntegerType)
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_le_long"
  override protected def nullSafeEval(bytes: Any, off: Any): Any =
    CodecOps.leLong(bytes.asInstanceOf[Array[Byte]], off.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (b, o) => s"graft.functions.CodecOps.leLong($b, $o)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): LeLong =
    copy(left = newLeft, right = newRight)
}

case class LeInt(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[GraftBridge.ADT] = Seq(BinaryType, IntegerType)
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_le_int"
  override protected def nullSafeEval(bytes: Any, off: Any): Any =
    CodecOps.leInt(bytes.asInstanceOf[Array[Byte]], off.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (b, o) => s"graft.functions.CodecOps.leInt($b, $o)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): LeInt =
    copy(left = newLeft, right = newRight)
}

/** u128 little-endian read as Decimal(38,0) — the reference's
  * `read_u128_le` (`event_parser/common/utils.rs:44`); real CLMM layouts
  * carry sqrt_price/liquidity as u128. Caller length-guards, like the
  * other LE reads. */
case class LeU128(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[GraftBridge.ADT] = Seq(BinaryType, IntegerType)
  override def dataType: DataType = DecimalType(38, 0)
  override def prettyName: String = "graft_le_u128"
  override def nullable: Boolean = true
  override protected def nullSafeEval(bytes: Any, off: Any): Any =
    CodecOps.leU128(bytes.asInstanceOf[Array[Byte]], off.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (b, o) => s"""
      ${ev.value} = graft.functions.CodecOps.leU128($b, $o);
      ${ev.isNull} = ${ev.value} == null;
    """)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): LeU128 =
    copy(left = newLeft, right = newRight)
}

/** Little-endian encode of the low `width` bytes of a long (borsh-style). */
case class LeBytes(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[GraftBridge.ADT] = Seq(LongType, IntegerType)
  override def dataType: DataType = BinaryType
  override def prettyName: String = "graft_le_bytes"
  override protected def nullSafeEval(value: Any, width: Any): Any =
    CodecOps.leBytes(value.asInstanceOf[Long], width.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (v, w) => s"graft.functions.CodecOps.leBytes($v, $w)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): LeBytes =
    copy(left = newLeft, right = newRight)
}

/** Render binary (e.g. a 32-byte pubkey) as base58, as Solana tooling does. */
case class Base58Encode(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[GraftBridge.ADT] = Seq(BinaryType)
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_base58"
  override protected def nullSafeEval(bytes: Any): Any =
    UTF8String.fromString(Base58.encode(bytes.asInstanceOf[Array[Byte]]))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, b =>
      "org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"graft.functions.Base58.encode($b))")
  override protected def withNewChildInternal(newChild: Expression): Base58Encode =
    copy(child = newChild)
}

/** Parse base58 back to bytes (the inverse of [[Base58Encode]] — the
  * pubkey-parsing direction of the codec). Invalid base58 yields null,
  * never a task failure (untrusted input contract). */
case class Base58Decode(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[GraftBridge.ADT] = Seq(StringType)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_unbase58"
  override protected def nullSafeEval(s: Any): Any =
    Base58.decodeOrNull(s.asInstanceOf[UTF8String].toString)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val res = nullSafeCodeGen(ctx, ev, s =>
      s"""${ev.value} = graft.functions.Base58.decodeOrNull($s.toString());
         |if (${ev.value} == null) { ${ev.isNull} = true; }""".stripMargin)
    res
  }
  override protected def withNewChildInternal(newChild: Expression): Base58Decode =
    copy(child = newChild)
}

/** Winnowing-style fingerprint: min polynomial rolling hash over all
  * byte windows of the given size. */
case class RollingHashMin(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[GraftBridge.ADT] = Seq(StringType, IntegerType)
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_rolling_min"
  override protected def nullSafeEval(s: Any, w: Any): Any =
    CodecOps.rollMin(s.asInstanceOf[UTF8String], w.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (s, w) => s"graft.functions.CodecOps.rollMin($s, $w)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): RollingHashMin =
    copy(left = newLeft, right = newRight)
}

/** Sequential struct decode of a variable-length create-token event
  * (length-prefixed strings make offsets dynamic, so this can't be a
  * composition of fixed-offset reads — exactly the case where a custom
  * whole-payload Expression is warranted; see SURVEY §4). Nullable:
  * malformed payloads decode to null rather than failing the task.
  */
case class DecodeCreateToken(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[GraftBridge.ADT] = Seq(BinaryType)
  override def dataType: DataType = DecodeCreateToken.schema
  override def nullable: Boolean = true
  override def prettyName: String = "graft_decode_create_token"
  override protected def nullSafeEval(bytes: Any): Any =
    CodecOps.decodeCreateToken(bytes.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b => {
      s"""${ev.value} = graft.functions.CodecOps.decodeCreateToken($b);
         |${ev.isNull} = (${ev.value} == null);""".stripMargin
    })
  override protected def withNewChildInternal(newChild: Expression): DecodeCreateToken =
    copy(child = newChild)
}

object DecodeCreateToken {
  val schema: StructType = StructType(Seq(
    StructField("name", StringType), StructField("symbol", StringType),
    StructField("uri", StringType), StructField("mint", BinaryType),
    StructField("bonding_curve", BinaryType), StructField("user", BinaryType),
    StructField("creator", BinaryType), StructField("timestamp", LongType),
    StructField("virtual_token_reserves", LongType),
    StructField("virtual_sol_reserves", LongType),
    StructField("real_token_reserves", LongType),
    StructField("token_total_supply", LongType),
    // V2 tail — null for V1 payloads
    StructField("token_program", BinaryType),
    StructField("is_mayhem_mode", IntegerType)))
}

/** Distinct word trigrams of a document (shingling for the dedup family).
  * Null (filterable) for docs under 3 tokens. A single compiled pass per
  * document — the equivalent transform/concat_ws lambda formulation runs
  * interpreted and is re-evaluated by optimizer-inferred generate filters
  * (see [[TextOps.trigrams]]).
  */
case class Trigrams(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[GraftBridge.ADT] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_trigrams"
  override protected def nullSafeEval(s: Any): Any =
    TextOps.trigrams(s.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => {
      s"""${ev.value} = graft.functions.TextOps.trigrams($s);
         |${ev.isNull} = (${ev.value} == null);""".stripMargin
    })
  override protected def withNewChildInternal(newChild: Expression): Trigrams =
    copy(child = newChild)
}

/** Dot product of two float vectors, accumulated in double in index order
  * (bit-identical to the zip_with/aggregate left fold it replaces — those
  * higher-order lambdas run interpreted; see [[VecOps.dot]]). Null on
  * length mismatch. */
case class VecDot(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[GraftBridge.ADT] =
    Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_vec_dot"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    VecOps.dot(a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val tmp = ctx.freshName("dot")
      s"""java.lang.Double $tmp = graft.functions.VecOps.dot($a, $b);
         |if ($tmp == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $tmp.doubleValue(); }""".stripMargin
    })
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecDot =
    copy(left = newLeft, right = newRight)
}

/** Squared L2 norm of a float vector (double accumulation, index order). */
case class VecNorm2(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[GraftBridge.ADT] = Seq(ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_vec_norm2"
  override protected def nullSafeEval(a: Any): Any =
    VecOps.norm2(a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.VecOps.norm2($a)")
  override protected def withNewChildInternal(newChild: Expression): VecNorm2 =
    copy(child = newChild)
}

/** Random-hyperplane LSH signature of a float vector (see
  * [[VecOps.hyperplaneSig]]): one compiled pass instead of a
  * per-(component, plane) explode + shuffle reassembly. */
case class HyperplaneSig(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[GraftBridge.ADT] =
    Seq(ArrayType(FloatType), IntegerType)
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_hyperplane_sig"
  override protected def nullSafeEval(v: Any, bits: Any): Any =
    VecOps.hyperplaneSig(
      v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      bits.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (v, b) =>
      s"graft.functions.VecOps.hyperplaneSig($v, $b)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HyperplaneSig =
    copy(left = newLeft, right = newRight)
}

/** Nearest-PQ-codeword argmin (see [[VecOps.pqArgmin]]): subvector ×
  * row-major codeword matrix × code ids → winning code id, in one
  * compiled pass. Replaces the broadcast-join + min_by formulation
  * whose n·m·|codes| row fan-out was the measured sf10 scale-limiter;
  * arithmetic, NaN guard and tie-break are bit-identical. */
case class PqArgmin(child: Expression, flat: Array[Float],
    codes: Array[Long])
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[GraftBridge.ADT] = Seq(ArrayType(FloatType))
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_pq_argmin"
  override protected def nullSafeEval(sv: Any): Any =
    VecOps.pqArgmin(
      sv.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      flat, codes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // the codebook rides as primitive-array reference objects: element
    // reads in the kernel's hot loop stay unboxed array indexing (a
    // boxed ArrayData literal cost ~100x in the first cut)
    val f = ctx.addReferenceObj("pqFlat", flat, "float[]")
    val cd = ctx.addReferenceObj("pqCodes", codes, "long[]")
    nullSafeCodeGen(ctx, ev, sv => {
      val tmp = ctx.freshName("code")
      s"""java.lang.Long $tmp = graft.functions.VecOps.pqArgmin($sv, $f, $cd);
         |if ($tmp == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $tmp.longValue(); }""".stripMargin
    })
  }
  override protected def withNewChildInternal(newChild: Expression): PqArgmin =
    copy(child = newChild)
}

/** ADC lookup-table distance (see [[VecOps.pqAdc]]): PQ code array ×
  * per-subspace sorted code ids × one query's pre-scaled decimal
  * lookup table → the query's summed distance, in one compiled pass.
  * Replaces the codes ⋈ query-table join + decimal-sum aggregate whose
  * n·m·|queries| row fan-through was the serve path's dominant stage;
  * arithmetic is bit-identical (lookups pre-fixed to the 1e-9 grid,
  * exact long sum, one Decimal→double close). */
case class PqAdc(child: Expression, codeIds: Array[Array[Long]],
    scaled: Array[Array[Long]])
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[GraftBridge.ADT] = Seq(ArrayType(LongType))
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_pq_adc"
  override protected def nullSafeEval(codes: Any): Any =
    VecOps.pqAdc(
      codes.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      codeIds, scaled)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ids = ctx.addReferenceObj("adcCodeIds", codeIds, "long[][]")
    val tab = ctx.addReferenceObj("adcScaled", scaled, "long[][]")
    nullSafeCodeGen(ctx, ev, c => {
      val tmp = ctx.freshName("adc")
      s"""java.lang.Double $tmp = graft.functions.VecOps.pqAdc($c, $ids, $tab);
         |if ($tmp == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $tmp.doubleValue(); }""".stripMargin
    })
  }
  override protected def withNewChildInternal(newChild: Expression): PqAdc =
    copy(child = newChild)
}

/** Winnowing fingerprint set of a document (see [[TextOps.winnowFps]]):
  * the MOSS sampling rule — min md5 per `w`-window of character
  * `k`-gram hashes, rightmost on ties, distinct — in one compiled pass,
  * replacing the per-character posexplode + md5 column + window
  * struct-min + distinct pipeline it is byte-equivalent to. */
case class WinnowFps(child: Expression, k: Int, w: Int)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[GraftBridge.ADT] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_winnow_fps"
  override protected def nullSafeEval(s: Any): Any =
    TextOps.winnowFps(s.asInstanceOf[UTF8String], k, w)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"""${ev.value} = graft.functions.TextOps.winnowFps($s, $k, $w);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)
  override protected def withNewChildInternal(newChild: Expression): WinnowFps =
    copy(child = newChild)
}

/** Bitmask-array intersection test (see [[VecOps.maskIntersects]]):
  * true iff two long-array bitmasks over the same fixed grid share a
  * set bit. The washPairs reversal pre-filter evaluates this per
  * directed fan-out row — a higher-order `exists(zip_with(...))` would
  * run interpreted per the repo's lambda rule; this stays inside
  * whole-stage codegen. */
case class MaskIntersects(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[GraftBridge.ADT] =
    Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = BooleanType
  override def prettyName: String = "graft_mask_intersects"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    VecOps.maskIntersects(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.VecOps.maskIntersects($a, $b)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): MaskIntersects =
    copy(left = newLeft, right = newRight)
}

/** Nearest-IVF-cell argmax-cosine (see [[VecOps.cellArgmin]]): vector ×
  * row-major centroid matrix × centroid norms × centroid ids → winning
  * cell id in one compiled pass, replacing the n·cells crossJoin +
  * min_by whose fan-out dominated the sf10 IVF-PQ wall time. */
case class CellArgmin(child: Expression, flat: Array[Float],
    norms: Array[Double], ids: Array[Long])
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[GraftBridge.ADT] = Seq(ArrayType(FloatType))
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_cell_argmin"
  override protected def nullSafeEval(v: Any): Any =
    VecOps.cellArgmin(
      v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      flat, norms, ids)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val f = ctx.addReferenceObj("centFlat", flat, "float[]")
    val n = ctx.addReferenceObj("centNorms", norms, "double[]")
    val id = ctx.addReferenceObj("centIds", ids, "long[]")
    nullSafeCodeGen(ctx, ev, v => {
      val tmp = ctx.freshName("cell")
      s"""java.lang.Long $tmp = graft.functions.VecOps.cellArgmin($v, $f, $n, $id);
         |if ($tmp == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $tmp.longValue(); }""".stripMargin
    })
  }
  override protected def withNewChildInternal(newChild: Expression): CellArgmin =
    copy(child = newChild)
}

/** Centered dense mat-vec (see [[VecOps.matVecCentered]]): one compiled
  * pass applies the broadcast whitening matrix to every embedding —
  * replacing a d_out-way explode + zip_with dot whose interpreted
  * lambdas would touch every component per output dim. */
case class MatVecCentered(child: Expression, mean: Array[Double],
    flat: Array[Double])
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[GraftBridge.ADT] = Seq(ArrayType(FloatType))
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_mat_vec_centered"
  override protected def nullSafeEval(v: Any): Any =
    VecOps.matVecCentered(
      v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      mean, flat)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("mvcMean", mean, "double[]")
    val f = ctx.addReferenceObj("mvcFlat", flat, "double[]")
    nullSafeCodeGen(ctx, ev, v => {
      s"""${ev.value} = graft.functions.VecOps.matVecCentered($v, $m, $f);
         |${ev.isNull} = (${ev.value} == null);""".stripMargin
    })
  }
  override protected def withNewChildInternal(newChild: Expression): MatVecCentered =
    copy(child = newChild)
}

/** 64-bit SimHash of a document as four 16-bit band values (see
  * [[VecOps.simhashBands]]): one compiled pass instead of a
  * per-(token, bit) explode + two shuffles. */
case class SimHashBands(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[GraftBridge.ADT] = Seq(StringType)
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_simhash_bands"
  override protected def nullSafeEval(s: Any): Any =
    VecOps.simhashBands(s.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"graft.functions.VecOps.simhashBands($s)")
  override protected def withNewChildInternal(newChild: Expression): SimHashBands =
    copy(child = newChild)
}

/** Wrapping u32 byte-sum checksum of a binary payload (the reference's
  * `fast_checksum`, `simd_utils.rs:183`) — wire-frame integrity at ingest. */
case class ByteChecksum(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[GraftBridge.ADT] = Seq(BinaryType)
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_checksum"
  override protected def nullSafeEval(bytes: Any): Any =
    CodecOps.checksum(bytes.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, b => s"graft.functions.CodecOps.checksum($b)")
  override protected def withNewChildInternal(newChild: Expression): ByteChecksum =
    copy(child = newChild)
}

/** First 0-based offset of a byte pattern within a binary payload, null
  * when absent (the reference's `find_pattern_simd`, `simd_utils.rs:105`)
  * — resynchronization scan over unframed/garbled byte streams. */
case class FindPattern(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[GraftBridge.ADT] = Seq(BinaryType, BinaryType)
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_find_pattern"
  override protected def nullSafeEval(hay: Any, needle: Any): Any =
    CodecOps.findPattern(hay.asInstanceOf[Array[Byte]],
      needle.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (h, n) => {
      val tmp = ctx.freshName("pos")
      s"""java.lang.Integer $tmp = graft.functions.CodecOps.findPattern($h, $n);
         |if ($tmp == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $tmp.intValue(); }""".stripMargin
    })
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FindPattern =
    copy(left = newLeft, right = newRight)
}

/** Registry dispatch kernel (see [[RegistryDecoder]]): per frame, one
  * read of the discriminator (and of the program id when `program` is
  * given), the first matching layout in registry order, and a decode of
  * only that layout's fields. Returns `struct<protocol, event_kind, one
  * struct per layout>` with the unmatched layouts null; never null
  * itself. The decode runs in Scala behind one call, so the generated
  * stage stays small enough for the JIT whatever the registry's size. */
case class RegistryDispatch(payload: Expression, program: Option[Expression],
    layouts: Seq[DispatchLayout])
    extends Expression with ExpectsInputTypes {
  override def children: Seq[Expression] = payload +: program.toSeq
  override def inputTypes: Seq[GraftBridge.ADT] =
    BinaryType +: program.map(_ => StringType).toSeq
  override def nullable: Boolean = false
  override def dataType: DataType =
    RegistryDecoder.schema(layouts, payload.nullable)
  override def prettyName: String = "graft_dispatch"
  override def toString: String =
    s"$prettyName(${children.mkString(", ")}, ${layouts.size} layouts)"
  @transient private lazy val interpreted =
    ThreadLocal.withInitial(() => new RegistryDecoder(layouts.toArray))
  override def eval(input: InternalRow): Any =
    interpreted.get.dispatch(
      payload.eval(input).asInstanceOf[Array[Byte]],
      program.map(_.eval(input).asInstanceOf[UTF8String]).orNull)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = classOf[RegistryDecoder].getName
    val ls = ctx.addReferenceObj("dispatchLayouts", layouts.toArray,
      s"${classOf[DispatchLayout].getName}[]")
    val decoder = ctx.addMutableState(cls, "dispatchDecoder",
      v => s"$v = new $cls($ls);")
    val p = payload.genCode(ctx)
    val g = program.map(_.genCode(ctx))
    val prog = g.map(e => s"${e.isNull} ? null : ${e.value}").getOrElse("null")
    ev.copy(code = code"""
      ${p.code}
      ${g.map(_.code.toString).getOrElse("")}
      InternalRow ${ev.value} =
        $decoder.dispatch(${p.isNull} ? null : ${p.value}, $prog);""",
      isNull = FalseLiteral)
  }
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): RegistryDispatch =
    copy(payload = newChildren.head, program = program.map(_ => newChildren(1)))
}

/** Identity marker used to demonstrate the injected optimizer rule (D1):
  * `GraftNopElimination` strips it from plans. */
case class GraftNop(child: Expression) extends UnaryExpression {
  override def dataType: DataType = child.dataType
  override def prettyName: String = "graft_nop"
  override protected def nullSafeEval(v: Any): Any = v
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => c)
  override protected def withNewChildInternal(newChild: Expression): GraftNop =
    copy(child = newChild)
}

/** Column-API entry points for the custom expressions. */
object exprs {
  private def col(e: Expression): Column = GraftBridge.column(e)
  private def ex(c: Column): Expression = GraftBridge.expression(c)

  def le_long(bin: Column, offset: Int): Column =
    col(LeLong(ex(bin), Literal(offset)))
  def le_int(bin: Column, offset: Int): Column =
    col(LeInt(ex(bin), Literal(offset)))
  def le_bytes(value: Column, width: Int): Column =
    col(LeBytes(ex(value), Literal(width)))
  def le_u128(bin: Column, offset: Int): Column =
    col(LeU128(ex(bin), Literal(offset)))
  def base58(bin: Column): Column = col(Base58Encode(ex(bin)))
  def unbase58(s: Column): Column = col(Base58Decode(ex(s)))
  def decode_create_token(bin: Column): Column =
    col(DecodeCreateToken(ex(bin)))
  def rolling_min(s: Column, window: Int): Column =
    col(RollingHashMin(ex(s), Literal(window)))
  /** The transcendental boundary (contract: operators/EventOps.lnR6):
    * natural log rounded to a 1e-6 quantum and fixed as an exact decimal,
    * so the one non-correctly-rounded operation never feeds a float sum
    * and results stay bit-identical across engines. */
  def ln_r6(x: Column): Column =
    org.apache.spark.sql.functions
      .round(org.apache.spark.sql.functions.log(x), 6)
      .cast("decimal(12,6)")
  def trigrams(s: Column): Column = col(Trigrams(ex(s)))
  def vec_dot(a: Column, b: Column): Column = col(VecDot(ex(a), ex(b)))

  def pq_argmin(sv: Column, flat: Array[Float],
      codes: Array[Long]): Column =
    col(PqArgmin(ex(sv), flat, codes))

  def cell_argmin(v: Column, flat: Array[Float], norms: Array[Double],
      ids: Array[Long]): Column =
    col(CellArgmin(ex(v), flat, norms, ids))

  def pq_adc(codes: Column, codeIds: Array[Array[Long]],
      scaled: Array[Array[Long]]): Column =
    col(PqAdc(ex(codes), codeIds, scaled))

  def mask_intersects(a: Column, b: Column): Column =
    col(MaskIntersects(ex(a), ex(b)))

  def winnow_fps(text: Column, k: Int, w: Int): Column =
    col(WinnowFps(ex(text), k, w))
  def registry_dispatch(payload: Column, program: Option[Column],
      layouts: Seq[DispatchLayout]): Column =
    col(RegistryDispatch(ex(payload), program.map(ex), layouts))
  def vec_norm2(a: Column): Column = col(VecNorm2(ex(a)))
  def mat_vec_centered(v: Column, mean: Array[Double],
      flat: Array[Double]): Column =
    col(MatVecCentered(ex(v), mean, flat))
  def hyperplane_sig(v: Column, bits: Int): Column =
    col(HyperplaneSig(ex(v), Literal(bits)))
  def simhash_bands(s: Column): Column = col(SimHashBands(ex(s)))
  def graft_nop(c: Column): Column = col(GraftNop(ex(c)))
  def byte_checksum(c: Column): Column = col(ByteChecksum(ex(c)))
  def find_pattern(hay: Column, needle: Column): Column =
    col(FindPattern(ex(hay), ex(needle)))
}
