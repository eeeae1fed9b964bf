package graft.functions

import java.util.LinkedHashSet

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Static runtime helpers for the text-shingling expressions (called from
  * generated code, so everything here must be a plain static method on a
  * stable class name).
  */
object TextOps {
  private val Space = UTF8String.fromString(" ")

  /** Distinct word trigrams of `lower(text)`, first-occurrence order —
    * exact semantic match for
    * `array_distinct(transform(sequence(0, size(ws)-3),
    *    i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2])))`
    * over `ws = split(lower(text), ' ')` (split keeps empty tokens, like
    * Spark's regex split with limit -1). Returns null when the doc has
    * fewer than 3 tokens, so `isnotnull(...)` doubles as the `size(ws) >= 3`
    * predicate. One compiled pass per document — replaces an interpreted
    * higher-order-function lambda that dominated the LSH pipeline (the
    * optimizer's InferFiltersFromGenerate also re-evaluates the generator
    * input in a Filter, which made the interpreted form 3x worse).
    */
  private val Md5 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  private val HexChars = "0123456789abcdef".toCharArray

  /** The winnowing fingerprint set of one document in one compiled pass
    * — the kernel form of the [[graft.operators.Dedup.winnowedOverlap]]
    * sampling pipeline, replacing (per document) a per-character
    * `posexplode` + md5 column + `w`-row window struct-min + global
    * distinct with a linear scan:
    *
    *   h(p) = md5 hex of the UTF-8 bytes of `substring(text, p, k)`
    *   for every window ending at p ∈ [w, numChars-k+1]:
    *     select the minimum h in the window, rightmost position on ties
    *   return the DISTINCT selected hex digests, sorted (binary order)
    *
    * Equalities that make this bit-identical to the DataFrame form:
    * md5 hex compares lexicographically ≡ the 16 digest bytes compare
    * unsigned (hex is order-preserving), so the rolling min can compare
    * raw digests and hex-encode only the ~2/(w+1) winners; substring
    * positions count CODE POINTS exactly like Spark's `substring`
    * (UTF8String.substringSQL): one byte cursor steps over the UTF-8
    * text by the same lead-byte lengths Spark counts characters with,
    * so each k-gram is hashed straight from the byte array. Only the
    * last `w` digests are kept, in a ring indexed by position mod w.
    * Returns null when numChars < k + w - 1 (the caller's length filter
    * — no window fits). Output order is irrelevant downstream (the set
    * feeds joins/aggregates); sorting pins the plan output anyway. */
  def winnowFps(text: UTF8String, k: Int, w: Int): ArrayData = {
    val n = text.numChars() - k + 1 // number of k-gram positions
    if (n < w) return null
    val md = Md5.get()
    md.reset()
    val bytes = text.getBytes
    def nextChar(b: Int): Int =
      math.min(b + UTF8String.numBytesForFirstByte(bytes(b)), bytes.length)
    val ring = Array.fill(w)(new Array[Byte](16))
    var start = 0 // byte offset of character p
    var end = 0 // byte offset of character p + k
    var c = 0
    while (c < k) { end = nextChar(end); c += 1 }
    val seen = new java.util.LinkedHashSet[UTF8String]()
    var lastSel = -1
    var p = 0
    while (p < n) {
      md.update(bytes, start, end - start)
      md.digest(ring(p % w), 0, 16)
      if (p >= w - 1) {
        // rightmost minimum of the window ending at p: scan
        // right-to-left, replace on strictly-less
        var sel = p
        var q = p - 1
        while (q > p - w) {
          if (compareDigests(ring(q % w), ring(sel % w)) < 0) sel = q
          q -= 1
        }
        if (sel != lastSel) {
          seen.add(hexDigest(ring(sel % w)))
          lastSel = sel
        }
      }
      start = nextChar(start)
      if (end < bytes.length) end = nextChar(end)
      p += 1
    }
    val out = new Array[AnyRef](seen.size)
    seen.toArray(out)
    java.util.Arrays.sort(out, new java.util.Comparator[AnyRef] {
      override def compare(a: AnyRef, b: AnyRef): Int =
        a.asInstanceOf[UTF8String].compareTo(b.asInstanceOf[UTF8String])
    })
    new GenericArrayData(out.asInstanceOf[Array[Any]])
  }

  private def compareDigests(a: Array[Byte], b: Array[Byte]): Int = {
    var i = 0
    while (i < 16) {
      val d = (a(i) & 0xff) - (b(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    0
  }

  private def hexDigest(d: Array[Byte]): UTF8String = {
    val out = new Array[Byte](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = HexChars((d(i) >> 4) & 0xf).toByte
      out(2 * i + 1) = HexChars(d(i) & 0xf).toByte
      i += 1
    }
    UTF8String.fromBytes(out)
  }

  def trigrams(text: UTF8String): ArrayData = {
    val ws = text.toLowerCase.split(Space, -1)
    if (ws.length < 3) return null
    val seen = new LinkedHashSet[UTF8String](ws.length * 2)
    var i = 0
    while (i + 2 < ws.length) {
      seen.add(UTF8String.concatWs(Space, ws(i), ws(i + 1), ws(i + 2)))
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = it.next(); j += 1 }
    new GenericArrayData(out)
  }
}
