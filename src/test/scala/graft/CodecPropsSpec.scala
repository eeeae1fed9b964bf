package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{Base58, CodecOps}

/** Property-based checks for the byte-level kernels: these run without a
  * SparkSession (the expressions delegate to these same static helpers
  * from generated code, so the properties transfer). */
class CodecPropsSpec extends AnyFunSuite {

  private def check(p: Prop, n: Int = 300): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(n), p)
    assert(res.passed, res.status.toString)
  }

  test("le bytes/long round-trip for all longs") {
    check(Prop.forAll { (v: Long) =>
      CodecOps.leLong(CodecOps.leBytes(v, 8), 0) == v
    })
  }

  test("le u128 equals BigInt little-endian reconstruction") {
    val bytes16 = Gen.containerOfN[Array, Byte](16, Gen.choose(
      Byte.MinValue, Byte.MaxValue))
    check(Prop.forAll(bytes16) { b =>
      val expected = (0 until 16).map(i =>
        BigInt(b(i) & 0xff) << (8 * i)).sum
      val got = CodecOps.leU128(b, 0)
      if (expected.toString.length > 38) got == null
      else got.toBigDecimal == BigDecimal(expected)
    })
  }

  test("registry u128 halves reconstruct the unsigned 128-bit value") {
    // the ProtocolRegistry u128 encode path: two LE long halves, low
    // quad first — decode must read them as one unsigned 128-bit value
    val mask = (BigInt(1) << 64) - 1
    check(Prop.forAll { (lo: Long, hi: Long) =>
      val b = CodecOps.leBytes(lo, 8) ++ CodecOps.leBytes(hi, 8)
      val expected = ((BigInt(hi) & mask) << 64) | (BigInt(lo) & mask)
      val got = CodecOps.leU128(b, 0)
      if (expected.toString.length > 38) got == null
      else got.toBigDecimal == BigDecimal(expected)
    })
  }

  test("base58 round-trips arbitrary byte strings") {
    val bytes = Gen.choose(0, 64).flatMap(n =>
      Gen.containerOfN[Array, Byte](n, Gen.choose(Byte.MinValue, Byte.MaxValue)))
    check(Prop.forAll(bytes) { b =>
      Base58.decode(Base58.encode(b)).toSeq == b.toSeq
    })
  }

  test("wire frame files round-trip arbitrary payload lists") {
    import graft.sources.wire.{GraftWireFrameReader, GraftWirePartition,
      GraftWireRange, GraftWireTable}
    val payloads = Gen.choose(0, 20).flatMap(n =>
      Gen.listOfN(n, Gen.choose(0, 200).flatMap(m =>
        Gen.containerOfN[Array, Byte](m, Gen.choose(
          Byte.MinValue, Byte.MaxValue)))))
    // what may follow the last whole frame: nothing, a header cut short,
    // a payload cut short, or a header whose length runs past the end of
    // the file (0x7FFFFFFF bytes); each ends the file after the last
    // whole frame
    val tails = Seq(Array.emptyByteArray, Array[Byte](50, 0),
      Array[Byte](50, 0, 0, 0, 1, 2, 3), Array[Byte](-1, -1, -1, 127, 9))
    check(Prop.forAll(payloads) { ps =>
      tails.forall { tail =>
        val f = java.io.File.createTempFile("graft_prop", ".bin")
        try {
          val out = new java.io.FileOutputStream(f)
          ps.foreach { p =>
            out.write(Array[Byte](
              (p.length & 0xff).toByte, ((p.length >> 8) & 0xff).toByte,
              ((p.length >> 16) & 0xff).toByte,
              ((p.length >> 24) & 0xff).toByte))
            out.write(p)
          }
          out.write(tail)
          out.close()
          val r = new GraftWireFrameReader(
            GraftWirePartition(Seq(GraftWireRange.whole(f.getAbsolutePath))),
            GraftWireTable.Schema)
          val got = scala.collection.mutable.ArrayBuffer.empty[Seq[Byte]]
          while (r.next()) got += r.get().getBinary(2).toSeq
          r.close()
          got.toSeq == ps.map(_.toSeq)
        } finally f.delete()
      }
    }, n = 100)
  }

  private val dec38Bound = BigInt(10).pow(38)

  test("bollinger decimal predicate equals the exact |x-mu| > k*sigma " +
      "test at lamport magnitudes and never leaves the Decimal(38,0) domain") {
    // the operator's inequality kDen²·(n·x − s1)² > kNum²·(n·s2 − s1²) now
    // accumulates in Decimal(38,0); Spark decimal arithmetic at scale 0 is
    // exact integer arithmetic whenever every intermediate fits in 38
    // digits (overflow throws under ANSI, never wraps). So the property is
    // two-fold: (a) every intermediate fits for closes up to 2×10¹⁷ cents
    // (10⁸ SOL notionals at lamport resolution — far past the ~6×10⁸-cent
    // Long wrap point), and (b) the formula decides exactly like the
    // textbook band test in arbitrary precision, for k = 3/2
    val window = for {
      n <- Gen.choose(2, 24)
      vs <- Gen.containerOfN[List, Long](n, Gen.choose(0L, 200000000000000000L))
    } yield vs
    check(Prop.forAll(window) { vs =>
      val n = BigInt(vs.length)
      val x = BigInt(vs.last)
      val s1 = vs.map(BigInt(_)).sum
      val s2 = vs.map(v => BigInt(v) * BigInt(v)).sum
      val d = n * x - s1
      val lhs = BigInt(4) * d.pow(2)
      val rhs = BigInt(9) * (n * s2 - s1.pow(2))
      val fitsDec38 = List(s1, s2, d, lhs, rhs).forall(_.abs < dec38Bound)
      // textbook: (x-mu)² > (9/4)·sigma² with mu = s1/n, sigma² =
      // (n·s2 - s1²)/n² — multiply through by 4n² exactly
      fitsDec38 && ((lhs > rhs) == (BigInt(4) * d * d >
        BigInt(9) * (n * s2 - s1 * s1)))
    })
  }

  test("bollinger Long arithmetic wraps past ~6e8 cents — the witness " +
      "for the Decimal(38,0) hardening") {
    // a flat window at 10¹¹ cents (real lamport scale): sigma = 0, the
    // last close equals the mean, so the exact band test must say NO
    // breakout; 64-bit evaluation of the same formula wraps d² and
    // disagrees on some windows in this domain — proving Long was unsafe
    val windows = for {
      n <- Gen.choose(12, 24)
      base <- Gen.choose(100000000000L, 4000000000000L)
      vs <- Gen.containerOfN[List, Long](n, Gen.choose(base, base * 2))
    } yield vs
    var longDisagreed = false
    check(Prop.forAll(windows) { vs =>
      val n = vs.length.toLong
      val x = vs.last
      val s1 = vs.sum
      val s2 = vs.map(v => v * v).sum // wraps silently
      val longFast =
        4L * (n * x - s1) * (n * x - s1) > 9L * (n * s2 - s1 * s1)
      val nB = BigInt(n); val xB = BigInt(x)
      val s1B = vs.map(BigInt(_)).sum
      val s2B = vs.map(v => BigInt(v) * BigInt(v)).sum
      val exact = BigInt(4) * (nB * xB - s1B).pow(2) >
        BigInt(9) * (nB * s2B - s1B.pow(2))
      if (longFast != exact) longDisagreed = true
      true
    }, n = 500)
    assert(longDisagreed,
      "expected Long arithmetic to diverge from exact somewhere past the wrap point")
  }

  test("vpin imbalance ×1e6 stays in the Decimal(38,0) domain across " +
      "the full Long cent range while the Long product wraps") {
    // the operator computes |B−S|·1e6 div (B+S) with the numerator cast
    // to Decimal(38,0): for ANY bucket sums in the Long domain the
    // numerator has ≤ 25 digits (far inside 38) and the quotient is a
    // ratio in [0, 1e6] — always a valid Long. The same numerator in
    // Long arithmetic wraps once |B−S| > ~9.2e12 cents, which a whale
    // bucket at lamport scale reaches — the witness below proves the
    // decimal cast is load-bearing, not defensive decoration
    val pair = for {
      b <- Gen.choose(1L, 4000000000000000000L)
      s <- Gen.choose(0L, 4000000000000000000L)
    } yield (b, s)
    var longWrapped = false
    check(Prop.forAll(pair) { case (b, s) =>
      val num = (BigInt(b) - BigInt(s)).abs * 1000000
      val ratio = num / (BigInt(b) + BigInt(s))
      if (BigInt(math.abs(b - s) * 1000000L) != num) longWrapped = true
      num < dec38Bound && ratio >= 0 && ratio <= 1000000
    }, n = 500)
    assert(longWrapped,
      "expected the Long ×1e6 numerator to wrap somewhere in this domain")
  }

  test("kyle/roll Decimal(38,0) regression moments stay exact under the " +
      "volume-bucket geometry bound while Long moments wrap") {
    // kyleLambda's moments are Σq², Σq·Δp, n·Σqp − ΣqΣp, n·Σqq − (Σq)²
    // over equal-volume buckets; rollSpread's are the same shapes over
    // consecutive-hour candle moves. The bucket geometry bounds
    // |q| ≤ bucketCents + largest single print, and the widest moment is
    // n·Σq² ≤ n²·qmax² — so the documented domain is n·qmax < 10¹⁹
    // (e.g. 10⁷ buckets of whale-print 10¹² magnitude). Inside it every
    // decimal intermediate fits 38 digits, while ONE whale bucket's q²
    // already wraps the Long domain (q = 10¹³ → q² = 10²⁶ ≫ 2⁶³).
    val buckets = for {
      n <- Gen.choose(2, 200)
      qs <- Gen.containerOfN[List, Long](n,
        Gen.choose(-20000000000000L, 20000000000000L))
      dps <- Gen.containerOfN[List, Long](n,
        Gen.choose(-10000000000000L, 10000000000000L))
    } yield qs.zip(dps)
    var longWrapped = false
    check(Prop.forAll(buckets) { bs =>
      val n = BigInt(bs.length)
      val sq = bs.map(b => BigInt(b._1)).sum
      val sp = bs.map(b => BigInt(b._2)).sum
      val sqp = bs.map { case (q, p) => BigInt(q) * BigInt(p) }.sum
      val sqq = bs.map { case (q, _) => BigInt(q) * BigInt(q) }.sum
      val sqqL = bs.map { case (q, _) => q * q }.sum
      if (BigInt(sqqL) != sqq) longWrapped = true
      // the algebraic worst case at the documented ceiling — 10⁷ buckets
      // × qmax 2·10¹³ gives n·qmax = 2·10²⁰... so pin the SUPPORTED
      // ceiling n·qmax = 10¹⁹ exactly: n²·qmax² = 10³⁸ is the first
      // excluded point, one bucket fewer fits
      val atCeiling = (BigInt(10).pow(19) - 1).pow(2)
      List(sqq, sqp, n * sqp - sq * sp, n * sqq - sq * sq, atCeiling)
        .forall(_.abs < dec38Bound)
    }, n = 300)
    assert(longWrapped,
      "expected Long Σq² to wrap on a whale bucket in this domain")
  }

  test("rate-spike decimal z-score predicate matches exact arithmetic " +
      "at 1e9-events-per-minute scale within the Decimal(38,0) domain") {
    // c·m − t and its square, and S·m − T², all accumulate in
    // Decimal(38,0) now; for per-minute counts up to 10⁹ over up to
    // 5000 minutes every intermediate fits 38 digits and the predicate
    // equals the textbook c > mean + 3·sigma test exactly
    val series = for {
      m <- Gen.choose(2, 5000)
      cs <- Gen.containerOfN[List, Long](m, Gen.choose(0L, 1000000000L))
    } yield cs
    var longDisagreed = false
    check(Prop.forAll(series) { cs =>
      val m = BigInt(cs.length)
      val t = cs.map(BigInt(_)).sum
      val s = cs.map(c => BigInt(c) * BigInt(c)).sum
      val mL = cs.length.toLong
      val tL = cs.sum
      val sL = cs.map(c => c * c).sum // wraps silently past ~3e9 counts
      cs.forall { c =>
        val dev = BigInt(c) * m - t
        val lhs = dev.pow(2)
        val rhs = BigInt(9) * (s * m - t.pow(2))
        val fits = List(dev, lhs, rhs, s * m).forall(_.abs < dec38Bound)
        val exact = dev > 0 && lhs > rhs
        val devL = c * mL - tL
        val longFast = devL > 0 &&
          devL * devL > 9L * (sL * mL - tL * tL)
        if (longFast != exact) longDisagreed = true
        fits
      }
    }, n = 100)
    assert(longDisagreed,
      "expected Long z-score arithmetic to diverge from exact in this domain")
  }

  test("gini rank-weighted decimal sum is exact at lamport magnitudes " +
      "where the Long version wraps") {
    // Σ i·vᵢ with ranks to 10⁶ and volumes to 10¹³ cents: the product
    // i·v passes 2⁶³ (Long wraps) but stays far inside 38 digits; the
    // decimal-accumulated Gini therefore equals the arbitrary-precision
    // value bit-for-bit after the single double division
    val vols = for {
      n <- Gen.choose(2, 200)
      vs <- Gen.containerOfN[List, Long](n, Gen.choose(0L, 10000000000000L))
    } yield vs
    check(Prop.forAll(vols) { vs =>
      val sorted = vs.sorted
      val n = BigInt(sorted.length)
      val total = sorted.map(BigInt(_)).sum
      val rw = sorted.zipWithIndex
        .map { case (v, i) => BigInt(i + 1) * BigInt(v) }.sum
      val fits = List(rw, n * total).forall(_.abs < dec38Bound)
      if (total == 0) fits
      else {
        val giniDec = 2.0 * rw.toDouble / (n * total).toDouble -
          (n + 1).toDouble / n.toDouble
        val giniExact =
          (BigDecimal(2 * rw) / BigDecimal(n * total) -
            BigDecimal(n + 1) / BigDecimal(n)).toDouble
        fits && math.abs(giniDec - giniExact) < 1e-12
      }
    }, n = 100)
  }
}
