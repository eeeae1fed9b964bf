package graftbench

import java.io.{BufferedOutputStream, FileOutputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets
import java.nio.file.Path

import scala.collection.mutable

import graft.sources.ProtocolRegistry
import graft.sources.ProtocolRegistry.{LayoutSpec, ProtocolSpec}

/** What the pipeline must emit for a capture: per-(minute, kind) event
  * counts after signature dedup and the include-list, plus the traffic
  * shares the capture actually has. Too-late events are counted apart:
  * a stream sheds them once its watermark has advanced, while a capture
  * drained in one batch, whose watermark is still unset, emits them. */
final class Tally {
  val counts = mutable.Map.empty[(Long, String), Long]
  val tooLateCounts = mutable.Map.empty[(Long, String), Long]
  var frames = 0L
  var decoded = 0L      // frames whose layout the registry recognises
  var junk = 0L         // foreign discriminators
  var truncated = 0L    // registry frames cut below their layout length
  var dups = 0L         // replayed signatures
  var late = 0L         // out of order, inside the watermark delay
  var tooLate = 0L      // behind the watermark once a batch has run
  var counted = 0L      // events the callback must emit
  val protocolFrames = mutable.Map.empty[String, Long]
  val walletEvents = mutable.Map.empty[Long, Long]

  def count(minute: Long, kind: String, tooLate: Boolean): Unit = {
    val m = if (tooLate) tooLateCounts else counts
    m((minute, kind)) = m.getOrElse((minute, kind), 0L) + 1
    if (!tooLate) counted += 1
  }

  /** The expected per-(minute, kind) counts: with the too-late events
    * shed (`shed`, a live stream) or emitted (one-batch drain). */
  def expected(shed: Boolean): Map[(Long, String), Long] =
    if (shed) counts.toMap
    else (counts.keySet ++ tooLateCounts.keySet).map(k =>
      k -> (counts.getOrElse(k, 0L) + tooLateCounts.getOrElse(k, 0L))).toMap

  def shares: Map[String, Double] = {
    val f = math.max(frames, 1L).toDouble
    val perWallet = walletEvents.values.toSeq.sorted(Ordering[Long].reverse)
    val top = perWallet.take(math.max(1, perWallet.size / 100)).sum
    Map(
      "junk_share" -> junk / f, "truncated_share" -> truncated / f,
      "duplicate_share" -> dups / f, "late_share" -> late / f,
      "too_late_share" -> tooLate / f,
      "top1pct_wallet_share" -> top / math.max(perWallet.sum, 1L).toDouble) ++
      protocolFrames.map { case (p, n) => s"protocol_share.$p" -> n / f }
  }
}

/** Seeded, single-threaded generator of graft-wire capture files: plain
  * little-endian writes of every [[ProtocolRegistry]] layout, mixed with
  * foreign and truncated frames, replayed signatures, out-of-order and
  * too-late events, over Zipf-skewed wallets. */
final class WireGen(seed: Long) {
  import WireGen._

  private val rnd = new java.util.SplittableRandom(seed)
  private val layouts: IndexedSeq[(ProtocolSpec, LayoutSpec)] =
    ProtocolRegistry.registry.flatMap(p => p.layouts.map(l => (p, l))).toIndexedSeq
  private val layoutCdf: Array[Double] = cdf(layouts.map { case (p, l) =>
    ProtocolWeight(p.protocol) / p.layouts.size })
  private val walletCdf: Array[Double] =
    cdf((1 to Wallets).map(r => 1.0 / math.pow(r, ZipfS)))
  private var nextId = 1L
  // recent subscribed, on-time frames: the pool duplicates replay from
  private val recent = new Array[Array[Byte]](512)
  private var nRecent = 0

  private def cdf(w: Seq[Double]): Array[Double] = {
    val s = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / s).toArray
  }

  private def pick(c: Array[Double]): Int = {
    val i = java.util.Arrays.binarySearch(c, rnd.nextDouble())
    math.min(if (i >= 0) i else -i - 1, c.length - 1)
  }

  private def amount(): Long = 1L + rnd.nextLong(999999999L)

  /** Encode one frame of `l` from its field names, offsets and widths. */
  private def encode(l: LayoutSpec, id: Long, tsUs: Long, wallet: Long): Array[Byte] = {
    val text = l.fields.collectFirst { case f if f.kind == "str" =>
      (if (f.name == "block_hash") f"$id%016x" else s"token-$id")
        .getBytes(StandardCharsets.UTF_8) }.getOrElse(Array.emptyByteArray)
    val buf = ByteBuffer.allocate(l.minLen + text.length).order(ByteOrder.LITTLE_ENDIAN)
    buf.put(l.discriminator)
    l.fields.foreach { f =>
      buf.position(f.offset)
      (f.kind, f.name) match {
        case (_, "event_id") | (_, "slot") => buf.putLong(id)
        case (_, "parent_slot") => buf.putLong(id - 1)
        case (_, "ts_us") => buf.putLong(tsUs)
        case (_, "block_time_ms") => buf.putLong(tsUs / 1000)
        case (_, "user_id") => buf.putLong(wallet)
        case ("u64" | "i64", "pool") => buf.putLong(rnd.nextLong(64))
        case ("u64" | "i64", _) => buf.putLong(amount())
        case ("u128", _) => buf.putLong(amount()).putLong(0L)
        case ("u32" | "i32", _) => buf.putInt(rnd.nextInt(64))
        case ("u16", _) => buf.putShort(rnd.nextInt(1 << 15).toShort)
        case ("u8" | "bool", _) => buf.put(rnd.nextInt(2).toByte)
        case ("b32", _) =>
          val b = new Array[Byte](32)
          ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN).putLong(wallet)
          buf.put(b)
        case ("str", _) => buf.putInt(text.length).put(text)
        case (k, n) => throw new IllegalStateException(s"no generator for $n: $k")
      }
    }
    buf.array()
  }

  /** Write one capture file of `frames` frames whose event times fall in
    * [baseUs, baseUs + spanUs). `tooLate` is false for a file that may
    * be read before a stream's first batch has advanced its watermark:
    * such a file carries no too-late events, so its counts hold for a
    * stream and for a one-batch drain alike. */
  def writeFile(path: Path, frames: Int, baseUs: Long, spanUs: Long,
      tooLate: Boolean, tally: Tally): Unit = {
    val out = new BufferedOutputStream(new FileOutputStream(path.toFile), 1 << 16)
    def emit(b: Array[Byte]): Unit = {
      out.write(b.length & 0xff); out.write((b.length >> 8) & 0xff)
      out.write((b.length >> 16) & 0xff); out.write((b.length >> 24) & 0xff)
      out.write(b)
      tally.frames += 1
    }
    try (0 until frames).foreach { i =>
      val r = rnd.nextDouble()
      // the first frame of every file is a fresh, subscribed event, so
      // every file shows up in the callback
      if (i > 0 && r < JunkShare) {
        val b = new Array[Byte](16 + rnd.nextInt(64))
        rnd.nextBytes(b)
        b(0) = 0x67; b(1) = 0x72; b(2) = 0x7e // no registry protocol uses 0x7e
        emit(b); tally.junk += 1
      } else if (i > 0 && r < JunkShare + DupShare && nRecent > 0) {
        emit(recent(rnd.nextInt(math.min(nRecent, recent.length))))
        tally.dups += 1; tally.decoded += 1
      } else {
        val (p, l) = if (i == 0) layouts(0) else layouts(pick(layoutCdf))
        val id = nextId; nextId += 1
        val wallet = pick(walletCdf).toLong + 1
        val kind = if (i > 0 && r > 1 - TruncShare) "truncated"
          else if (i > 0 && r > 1 - TruncShare - TooLateShare)
            (if (tooLate) "too_late" else "on_time")
          else if (i > 0 && r > 1 - TruncShare - TooLateShare - LateShare) "late"
          else "on_time"
        val base = baseUs + rnd.nextLong(spanUs)
        val tsUs = kind match {
          case "late" => base - 1 - rnd.nextLong(LateMaxUs)
          case "too_late" => base - TooLateUs - rnd.nextLong(LateMaxUs)
          case _ => base
        }
        val frame = encode(l, id, tsUs, wallet)
        if (kind == "truncated") {
          emit(java.util.Arrays.copyOf(frame, 1 + rnd.nextInt(l.minLen - 1)))
          tally.truncated += 1
        } else {
          emit(frame)
          tally.decoded += 1
          tally.protocolFrames(p.protocol) =
            tally.protocolFrames.getOrElse(p.protocol, 0L) + 1
          if (l.fields.exists(_.name == "user_id"))
            tally.walletEvents(wallet) = tally.walletEvents.getOrElse(wallet, 0L) + 1
          if (kind == "late") tally.late += 1
          if (kind == "too_late") tally.tooLate += 1
          val timed = !Untimed(l.kind)
          val effUs = if (l.kind == "block_meta") (tsUs / 1000) * 1000 else tsUs
          if (timed && !Unsubscribed(l.kind))
            tally.count(Math.floorDiv(effUs, 60000000L), l.kind, kind == "too_late")
          if (timed && kind != "too_late") {
            recent(nRecent % recent.length) = frame
            nRecent += 1
          }
        }
      }
    } finally out.close()
  }
}

object WireGen {
  /** 2024-01-01T00:00:00Z, the event-time origin of every capture. */
  val T0Us = 1704067200000000L
  val Watermark = "10 minutes"
  val LateMaxUs: Long = 2L * 60 * 1000000    // well inside the watermark delay
  val TooLateUs: Long = 3L * 3600 * 1000000  // well behind it
  val JunkShare = 0.03
  val DupShare = 0.04
  val TruncShare = 0.02
  val LateShare = 0.03
  val TooLateShare = 0.01
  val Wallets = 5000
  val ZipfS = 1.1
  val ProtocolWeight: Map[String, Double] = Map(
    "swap" -> 0.35, "amm" -> 0.10, "account" -> 0.08, "launch" -> 0.05,
    "clmm" -> 0.12, "perp" -> 0.08, "meta" -> 0.04, "cpmm" -> 0.13,
    "block" -> 0.05)
  /** Account snapshots: decoded, but left out by the include-list. */
  val Unsubscribed: Set[String] = Set("pool_state")
  /** Layouts with no event-time field: decoded, but never timed. */
  val Untimed: Set[String] = Set("token_meta")
}
