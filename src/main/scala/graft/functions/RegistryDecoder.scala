package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BaseGenericInternalRow, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One registry layout as the [[RegistryDispatch]] kernel sees it:
  * protocol and kind tags, its struct column's name, the program id it
  * is scoped to (null: any), its discriminator and length guard, and its
  * decoded fields as (name, kind, offset) — pad fields already dropped.
  * Kinds are those of `ProtocolRegistry.FieldSpec`. */
final case class DispatchLayout(protocol: String, kind: String,
    column: String, program: String, discriminator: Seq[Byte],
    minLen: Int, fields: Seq[(String, String, Int)])

object RegistryDecoder {
  private final val U64 = 0
  private final val U128 = 1
  private final val U32 = 2
  private final val I32 = 3
  private final val U16 = 4
  private final val U8 = 5
  private final val B32 = 6
  private final val OptB32 = 7
  private final val OptBool = 8
  private final val Str = 9

  private def code(kind: String): Int = kind match {
    case "u64" | "i64" => U64
    case "u128" => U128
    case "u32" => U32
    case "i32" => I32
    case "u16" => U16
    case "u8" | "bool" => U8
    case "b32" => B32
    case "optb32" => OptB32
    case "optbool" => OptBool
    case "str" => Str
  }

  /** A decoded field's type, and whether it can be null. Fixed-width
    * reads are null only with a null payload, which no layout matches.
    * A u128 past Decimal(38,0), a str overrun and an absent optbool
    * decode to null. u8/u16 never do, but are declared nullable as the
    * hex-string reads they replaced were, which kept every decoded
    * schema as it was (`RegistryDispatchSpec` keeps those reads as its
    * reference). */
  private def fieldType(kind: String, payloadNullable: Boolean)
      : (DataType, Boolean) = kind match {
    case "u64" | "i64" | "u32" => (LongType, payloadNullable)
    case "i32" => (IntegerType, payloadNullable)
    case "b32" | "optb32" => (BinaryType, payloadNullable)
    case "u128" => (DecimalType(38, 0), true)
    case "u16" | "u8" | "bool" | "optbool" => (IntegerType, true)
    case "str" => (StringType, true)
  }

  /** `struct<protocol, event_kind, one nullable struct per layout>`. */
  def schema(layouts: Seq[DispatchLayout],
      payloadNullable: Boolean): StructType =
    StructType(
      StructField("protocol", StringType, nullable = false) +:
        StructField("event_kind", StringType, nullable = false) +:
        layouts.map(l => StructField(l.column, StructType(l.fields.map {
          case (n, k, _) =>
            val (t, nullable) = fieldType(k, payloadNullable)
            StructField(n, t, nullable)
        }))))

  private val Unknown = UTF8String.fromString("unknown")
  private val ZeroKey = new Array[Byte](32)

  /** Little-endian long of the first (up to) 8 bytes of `b`. */
  private def head(b: Array[Byte]): Long = {
    var v = 0L
    var i = math.min(8, b.length) - 1
    while (i >= 0) {
      v = (v << 8) | (b(i) & 0xffL)
      i -= 1
    }
    v
  }
}

/** The per-task state of the [[RegistryDispatch]] kernel: the registry's
  * guards as flat arrays, and one reusable row writer per layout.
  *
  * [[dispatch]] reads the payload's first eight bytes once, tests the
  * layouts in registry order (length, discriminator head, any longer
  * discriminator tail, program id) and decodes the first match into an
  * UnsafeRow laid out exactly as a projection would write the struct. A
  * frame that matches nothing shares one immutable result row; a match
  * allocates the result row and the decoded row's bytes, nothing per
  * field. Not thread-safe: codegen makes one per task. */
final class RegistryDecoder(layouts: Array[DispatchLayout]) {
  import RegistryDecoder._

  private val n = layouts.length
  private val protocols = layouts.map(l => UTF8String.fromString(l.protocol))
  private val kinds = layouts.map(l => UTF8String.fromString(l.kind))
  private val programs = layouts.map(l =>
    if (l.program == null) null else UTF8String.fromString(l.program))
  private val minLens = layouts.map(_.minLen)
  private val discs = layouts.map(_.discriminator.toArray)
  private val heads = discs.map(head)
  private val headMasks = discs.map(d =>
    if (d.length >= 8) -1L else (1L << (8 * d.length)) - 1)
  private val codes = layouts.map(_.fields.map(f => code(f._2)).toArray)
  private val offsets = layouts.map(_.fields.map(_._3).toArray)
  private val writers = new Array[UnsafeRowWriter](n)
  private val unknown = new DispatchRow(-1, null)

  /** The first layout `payload` matches, or -1. */
  private def layoutOf(payload: Array[Byte], program: UTF8String): Int = {
    if (payload == null) return -1
    val len = payload.length
    val h = head(payload)
    var i = 0
    while (i < n) {
      if (len >= minLens(i) && (h & headMasks(i)) == heads(i) &&
          tailMatches(i, payload) &&
          (programs(i) == null || programs(i) == program)) return i
      i += 1
    }
    -1
  }

  private def tailMatches(i: Int, payload: Array[Byte]): Boolean = {
    val d = discs(i)
    var j = 8
    while (j < d.length) {
      if (payload(j) != d(j)) return false
      j += 1
    }
    true
  }

  def dispatch(payload: Array[Byte], program: UTF8String): InternalRow = {
    val i = layoutOf(payload, program)
    if (i < 0) unknown else new DispatchRow(i, decode(i, payload))
  }

  private def decode(i: Int, p: Array[Byte]): UnsafeRow = {
    val cs = codes(i)
    val os = offsets(i)
    if (writers(i) == null) writers(i) = new UnsafeRowWriter(cs.length, 64)
    val w = writers(i)
    w.reset()
    w.zeroOutNullBytes()
    var j = 0
    while (j < cs.length) {
      val off = os(j)
      (cs(j): @scala.annotation.switch) match {
        case U64 => w.write(j, CodecOps.leLong(p, off))
        case U128 => w.write(j, CodecOps.leU128(p, off), 38, 0)
        case U32 => w.write(j, CodecOps.leInt(p, off) & 0xffffffffL)
        case I32 => w.write(j, CodecOps.leInt(p, off))
        case U16 => w.write(j, (p(off) & 0xff) | ((p(off + 1) & 0xff) << 8))
        case U8 => w.write(j, p(off) & 0xff)
        case B32 => w.write(j, p, off, 32)
        // absent tail: 32 zero bytes, as the reference's Pubkey::default()
        case OptB32 =>
          if (p.length >= off + 32) w.write(j, p, off, 32)
          else w.write(j, ZeroKey)
        // borsh Option<bool>: tag 1 and a value byte, else None
        case OptBool =>
          if (p(off) == 1 && p.length >= off + 2)
            w.write(j, if (p(off + 1) != 0) 1 else 0)
          else w.setNullAt(j)
        // length prefix bounded in 64 bits: a hostile length is an
        // overrun (null), never an arithmetic failure
        case Str =>
          val len = CodecOps.leInt(p, off)
          if (len >= 0 && p.length.toLong >= off + 4L + len)
            w.write(j, p, off + 4, len)
          else w.setNullAt(j)
      }
      j += 1
    }
    w.getRow.copy()
  }

  /** The kernel's result: tags from the matched layout (`unknown` when
    * `idx` is -1) and the decoded body in the matched layout's slot. */
  private final class DispatchRow(idx: Int, body: UnsafeRow)
      extends BaseGenericInternalRow {
    override def numFields: Int = 2 + n
    override protected def genericGet(ordinal: Int): Any =
      if (ordinal == 0) { if (idx < 0) Unknown else protocols(idx) }
      else if (ordinal == 1) { if (idx < 0) Unknown else kinds(idx) }
      else if (ordinal - 2 == idx) body
      else null
    override def setNullAt(i: Int): Unit =
      throw new UnsupportedOperationException("dispatch rows are read-only")
    override def update(i: Int, value: Any): Unit =
      throw new UnsupportedOperationException("dispatch rows are read-only")
  }
}
