package graft

import org.apache.spark.sql.functions._

import graft.functions.{Base58, CodecOps}
import graft.functions.exprs._
import graft.sources.EventCodec

class CodecSpec extends TestSparkSession {

  /** A 41-byte trade frame built by hand from the documented layout. */
  private def tradePayload(id: Long, isBuy: Byte = 1): Array[Byte] =
    EventCodec.Discriminator ++ CodecOps.leBytes(id, 8) ++
      CodecOps.leBytes(id % 7, 8) ++ CodecOps.leBytes(id * 1000L, 8) ++
      Array[Byte](isBuy) ++ CodecOps.leBytes(id * 3, 8)

  test("graft-wire DSv2 source: frame round trip, pruning, truncation") {
    import graft.sources.wire.{GraftWireWriter, GraftWireTable}
    val dir = Scratch.dir("wire")
    val ev = Tables.events(spark, sfDir)
    GraftWireWriter.writeFrames(EventCodec.encodeTrade(ev), dir)
    val back = spark.read.format("graft-wire").load(dir)
    // decoded frames ≡ original events
    val dec = EventCodec.decodeTrade(back)
    assert(dec.count() == ev.count())
    assert(dec.select(sum("event_id")).head.getLong(0) ==
      ev.select(sum("event_id")).head.getLong(0))
    // frame_idx is dense per file
    val perFile = back.groupBy("file")
      .agg(count(lit(1)).as("n"), max("frame_idx").as("mx")).collect()
    perFile.foreach(r =>
      assert(r.getAs[Long]("mx") == r.getAs[Long]("n") - 1))
    // column pruning reaches the scan
    val pruned = back.select("frame_idx")
    assert(pruned.queryExecution.executedPlan.toString
      .contains("columns=frame_idx"), "expected pruned scan description")
    // a truncated trailing frame ends the file early, never fails the task
    val f = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".bin")).head
    val out = new java.io.FileOutputStream(f, true)
    out.write(Array[Byte](50, 0, 0, 0, 1, 2, 3)) // header says 50, 3 bytes
    out.close()
    val total = spark.read.format("graft-wire").load(dir).count()
    assert(total == ev.count(), "truncated tail frame must be skipped")
  }

  test("graft-wire one-big-file layout: frame-boundary splits give sane " +
      "parallelism, bit-identical rows, and real size statistics") {
    import graft.sources.wire.{GraftWireWriter, GraftWireTable}
    val dir = java.nio.file.Files.createTempDirectory("graft_wire_big")
      .toString
    val ev = Tables.events(spark, sfDir)
    // force the pathological layout: ALL frames in one file
    GraftWireWriter.writeFrames(
      EventCodec.encodeTrade(ev).repartition(1), dir)
    val whole = spark.read.format("graft-wire").load(dir)
    // AQE sees the real byte size through estimateStatistics
    val fileBytes = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".bin")).map(_.length()).sum
    assert(whole.queryExecution.optimizedPlan.stats.sizeInBytes
      == BigInt(fileBytes), "scan statistics must report the file bytes")
    // default split target (128 MB) leaves a small capture unsplit
    val file = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".bin")).head.toString
    assert(GraftWireTable.planFile(file, GraftWireTable.DefaultSplitBytes)
      .size == 1, "small file must stay one partition (no planning IO)")
    // a tight split target fans the one file out across many partitions
    val target = math.max(fileBytes / 8, 1L)
    val parts = GraftWireTable.planFile(file, target)
    assert(parts.size > 4,
      s"expected >4 frame-aligned splits, got ${parts.size}")
    val split = spark.read.format("graft-wire")
      .option("split.bytes", target).load(dir)
    assert(split.rdd.getNumPartitions == parts.size,
      "planned splits must be the scan's partitions")
    // split read ≡ unsplit read, including the per-file frame indexes
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("frame_idx"), md5(col("payload")))
        .collect().map(_.toSeq).toSet
    assert(rows(split) == rows(whole),
      "frame-aligned splits must not change a single row")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("graft-wire micro-batch stream ingests files incrementally") {
    import graft.functions.CodecOps
    val dir = java.nio.file.Paths.get(Scratch.dir("wire_s"))
    def frame(id: Long): Array[Byte] = {
      val p = tradePayload(id)
      CodecOps.leBytes(p.length.toLong, 4) ++ p
    }
    def writeFile(name: String, ids: Seq[Long]): Unit =
      java.nio.file.Files.write(dir.resolve(name),
        ids.flatMap(frame).toArray)
    writeFile("a.bin", Seq(1L, 2L, 3L))
    val stream = spark.readStream.format("graft-wire").load(dir.toString)
    val decoded = EventCodec.decodeTrade(stream)
    val q = decoded.writeStream.format("memory")
      .queryName("graft_wire_stream").outputMode("append").start()
    q.processAllAvailable()
    assert(spark.table("graft_wire_stream").count() == 3)
    writeFile("b.bin", Seq(10L, 11L)) // capture layer rotates in a new file
    q.processAllAvailable()
    val ids = spark.table("graft_wire_stream").collect()
      .map(_.getAs[Long]("event_id")).sorted.toSeq
    q.stop()
    assert(ids == Seq(1L, 2L, 3L, 10L, 11L))
  }

  test("base58 known vectors") {
    assert(Base58.encode(Array.emptyByteArray) == "")
    assert(Base58.encode(Array[Byte](0)) == "1")
    assert(Base58.encode("Hello World!".getBytes("UTF-8")) == "2NEpo7TZRRrLZSi2U")
    // round trip random-ish bytes
    val bytes = (0 until 32).map(i => (i * 37 % 251).toByte).toArray
    assert(Base58.decode(Base58.encode(bytes)).toSeq == bytes.toSeq)
  }

  test("base58 limb codec ≡ schoolbook BigInteger reference, all sizes " +
      "and zero prefixes") {
    // the 32-bit-limb divmod (5 digits per pass) must reproduce the
    // canonical positional encoding digit for digit — checked against
    // an independent BigInteger digit-at-a-time reference over lengths
    // 0..64 with 0..3 leading zero bytes, plus the exact inverse
    val alphabet = "123456789ABCDEFGHJKLMNPQRSTUVWXYZabcdefghijkmnopqrstuvwxyz"
    def refEncode(b: Array[Byte]): String = {
      val zeros = b.takeWhile(_ == 0).length
      var n = new java.math.BigInteger(1, b)
      val fiftyEight = java.math.BigInteger.valueOf(58)
      val sb = new StringBuilder
      while (n.signum > 0) {
        val qr = n.divideAndRemainder(fiftyEight)
        sb.append(alphabet.charAt(qr(1).intValue))
        n = qr(0)
      }
      "1" * zeros + sb.reverse.toString
    }
    val rnd = new scala.util.Random(20260819)
    for (len <- 0 to 64; zeros <- 0 to 3) {
      val body = new Array[Byte](len)
      rnd.nextBytes(body)
      if (len > 0 && zeros < len) body(zeros) = // keep the zero count exact
        (((body(zeros) & 0xff) % 254) + 1).toByte
      java.util.Arrays.fill(body, 0, math.min(zeros, len), 0.toByte)
      val enc = Base58.encode(body)
      assert(enc == refEncode(body), s"len=$len zeros=$zeros")
      assert(Base58.decode(enc).toSeq == body.toSeq, s"len=$len zeros=$zeros")
    }
    // boundary magnitudes around the 58^5 grouping
    for (v <- Seq(58L * 58 * 58 * 58 * 58, 58L * 58 * 58 * 58 * 58 - 1,
        58L * 58 * 58 * 58 * 58 + 1, 1L, 57L, 58L)) {
      val b = java.math.BigInteger.valueOf(v).toByteArray.dropWhile(_ == 0)
      assert(Base58.encode(b) == refEncode(b), s"v=$v")
      assert(Base58.decode(Base58.encode(b)).toSeq == b.toSeq, s"v=$v")
    }
    assert(Base58.decodeOrNull("0OIl") == null) // invalid chars still null
  }

  test("le long/int read-write round trip") {
    val vals = Seq(0L, 1L, -1L, Long.MaxValue, Long.MinValue, 123456789012345L)
    vals.foreach { v =>
      assert(CodecOps.leLong(CodecOps.leBytes(v, 8), 0) == v)
    }
    assert(CodecOps.leInt(Array[Byte](0x78, 0x56, 0x34, 0x12), 0) == 0x12345678)
  }

  test("le u128 read: known vectors, beyond-long range, codegen path") {
    import spark.implicits._
    // 2^64 + 5 little-endian: low 8 bytes = 5, high 8 bytes = 1
    val big = Array[Byte](5, 0, 0, 0, 0, 0, 0, 0, 1, 0, 0, 0, 0, 0, 0, 0)
    val max = Array.fill[Byte](16)(-1) // 2^128 - 1: 39 digits, > Decimal(38)
    val small = CodecOps.leBytes(123456789L, 8) ++ Array.fill[Byte](8)(0)
    assert(CodecOps.leU128(big, 0).toBigDecimal ==
      BigDecimal(2).pow(64) + 5)
    assert(CodecOps.leU128(max, 0) == null, "39-digit u128 → overflow null")
    // through the expression with codegen (dataframe path)
    val df = Seq(big, max, small).toDF("b")
      .select(le_u128(col("b"), 0).as("v"))
    val got = df.collect().map(r =>
      if (r.isNullAt(0)) "null" else r.getDecimal(0).toBigInteger.toString)
    assert(got.sorted.toSeq ==
      Seq((BigInt(2).pow(64) + 5).toString, "null", "123456789").sorted)
  }

  test("rolling hash min matches brute force") {
    val s = "the quick brown fox jumps over the lazy dog"
    val w = 8
    val M = 2305843009213693951L
    def poly(sub: Array[Byte]): Long =
      sub.foldLeft(0L)((h, b) => (CodecOps.mulMod(h, 257L, M) + (b & 0xffL)) % M)
    val bytes = s.getBytes("UTF-8")
    val brute = (0 to bytes.length - w)
      .map(i => poly(bytes.slice(i, i + w))).min
    assert(CodecOps.rollMin(
      org.apache.spark.unsafe.types.UTF8String.fromString(s), w) == brute)
  }

  test("column expressions run inside whole-stage codegen") {
    // non-literal input so constant folding can't bypass codegen
    val df = spark.range(100)
      .withColumn("bin", le_bytes(col("id") * 1000000007L, 8))
      .withColumn("back", le_long(col("bin"), 0))
      .withColumn("b58", base58(col("bin")))
    val rows = df.collect()
    assert(rows.forall(r =>
      r.getAs[Long]("back") == r.getAs[Long]("id") * 1000000007L))
    assert(rows.forall(_.getAs[String]("b58").nonEmpty))
    // "*(n)" prefixes mark operators fused into a WholeStageCodegen stage
    assert(df.queryExecution.executedPlan.toString.contains("*(1) Project"))
  }

  test("trade event encode/decode round trips the events table") {
    val ev = Tables.events(spark, sfDir)
    val decoded = EventCodec.decodeTrade(EventCodec.encodeTrade(ev))
    assert(decoded.count() == ev.count())
    val expected = ev.select(col("event_id"), col("user_id"),
      expr("unix_micros(ts)").as("ts_us"),
      expr("cast(event_type = 'purchase' as int)").as("is_buy"),
      expr("cast(round(value * 100, 0) as bigint)").as("amount_cents"))
    assert(decoded.exceptAll(expected).count() == 0)
    assert(expected.exceptAll(decoded).count() == 0)
  }

  test("foreign discriminators are dropped") {
    import spark.implicits._
    val junk = Seq(Array.fill[Byte](41)(9)).toDF("payload")
    assert(EventCodec.decodeTrade(junk).count() == 0)
  }

  test("create-token round trip including unicode and empty strings") {
    import spark.implicits._
    val pk = (b: Int) => Array.fill[Byte](32)(b.toByte)
    val src = Seq(
      ("solami 🚀", "SOL", "ipfs://QmAbc", 1),
      ("", "", "", 2)
    ).toDF("name", "symbol", "uri", "seed")
      .select(col("name"), col("symbol"), col("uri"),
        lit(pk(1)).as("mint"), lit(pk(2)).as("bonding_curve"),
        lit(pk(3)).as("user_pk"), lit(pk(4)).as("creator"),
        (col("seed") * 1000L).as("ev_ts"), lit(11L).as("vtr"),
        lit(12L).as("vsr"), lit(13L).as("rtr"), lit(14L).as("tts"))
    val out = EventCodec.decodeCreateToken(EventCodec.encodeCreateToken(src))
      .select("ev.*").collect()
    assert(out.length == 2)
    val byName = out.map(r => r.getAs[String]("name") -> r).toMap
    assert(byName.contains("solami 🚀"))
    assert(byName("solami 🚀").getAs[String]("symbol") == "SOL")
    assert(byName("solami 🚀").getAs[Array[Byte]]("mint").toSeq == pk(1).toSeq)
    assert(byName("").getAs[Long]("token_total_supply") == 14L)
  }

  test("registry str field: unicode round trip, overrun length nulls") {
    import spark.implicits._
    import graft.sources.ProtocolRegistry
    val meta = ProtocolRegistry.Meta.layouts(0)
    val src = Seq((1L, 7L, "solami 🚀"), (2L, 8L, ""))
      .toDF("event_id", "pool", "name")
    val ok = ProtocolRegistry.decode(
      ProtocolRegistry.encode(src, meta).select("payload"), meta)
      .collect().map(r => r.getAs[Long]("event_id") ->
        r.getAs[String]("name")).toMap
    assert(ok(1L) == "solami 🚀" && ok(2L) == "")
    // declared string length overruns the payload → name null, row kept
    val overrun = ProtocolRegistry.encode(src.limit(1), meta)
      .select(expr("substring(payload, 1, octet_length(payload) - 2)")
        .as("payload"))
    val bad = ProtocolRegistry.decode(overrun, meta).collect()
    assert(bad.length == 1 && bad.head.getAs[String]("name") == null)
  }

  test("malformed create-token payloads decode to null and are dropped") {
    import spark.implicits._
    // valid discriminator but truncated body
    val bad = Seq(EventCodec.CreateDiscriminator ++ Array[Byte](5, 0, 0, 0, 'a'))
      .toDF("payload")
    assert(EventCodec.decodeCreateToken(bad).count() == 0)
  }

  test("dispatch tags trade, create_token, and unknown payloads") {
    import spark.implicits._
    val ev = Tables.events(spark, sfDir).limit(50)
    val trades = EventCodec.encodeTrade(ev).select("payload")
    val junk = Seq(Array.fill[Byte](41)(7)).toDF("payload")
    val tagged = EventCodec.dispatch(trades.union(junk))
      .groupBy("event_kind").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(tagged("trade") == 50)
    assert(tagged("unknown") == 1)
  }

  test("encodeTrade bytes equal the hand-built trade frame") {
    import spark.implicits._
    val ids = Seq(1L, 2L, 3L, 10L, 11L)
    val ev = ids.map(id => (id, id % 7, id * 1000L,
        if (id % 2 == 1) "purchase" else "view", id * 3 / 100.0))
      .toDF("event_id", "user_id", "ts_us", "event_type", "value")
      .select(col("event_id"), col("user_id"),
        expr("timestamp_micros(ts_us)").as("ts"), col("event_type"),
        col("value"))
    val got = EventCodec.encodeTrade(ev).select("event_id", "payload")
      .as[(Long, Array[Byte])].collect().map { case (id, p) => id -> p.toSeq }
      .toMap
    assert(got == ids.map(id =>
      id -> tradePayload(id, if (id % 2 == 1) 1 else 0).toSeq).toMap)
  }

  test("trade is_buy decodes to 1 only for byte 0x01") {
    import spark.implicits._
    val flags = Seq[Byte](0, 1, 2, -1)
    val frames = flags.zipWithIndex
      .map { case (b, i) => tradePayload(i.toLong, b) }.toDF("payload")
    val want = Map(0L -> 0, 1L -> 1, 2L -> 0, 3L -> 0)
    assert(EventCodec.decodeTrade(frames).select("event_id", "is_buy")
      .as[(Long, Int)].collect().toMap == want)
    assert(EventCodec.dispatch(frames)
      .select("trade.event_id", "trade.is_buy")
      .as[(Long, Int)].collect().toMap == want)
  }

  test("dispatch keeps a truncated trade frame tagged trade, null body") {
    import spark.implicits._
    val full = tradePayload(5L)
    val frames = Seq(full.take(8), full.take(20), full.take(40), full)
      .toDF("payload")
    val rows = EventCodec.dispatch(frames)
      .select(octet_length(col("payload")), col("event_kind"),
        col("trade").isNull)
      .as[(Int, String, Boolean)].collect().sortBy(_._1).toSeq
    assert(rows == Seq((8, "trade", true), (20, "trade", true),
      (40, "trade", true), (41, "trade", false)))
  }

  test("protocol registry round-trips every layout and guards truncation") {
    import spark.implicits._
    import graft.sources.ProtocolRegistry
    import graft.sources.ProtocolRegistry._
    val src = Seq((1L, 2L, 3L, 4L, 5L, 6L), (7L, 8L, 9L, 10L, 11L, 12L))
      .toDF("event_id", "pool", "user_id", "base_amount", "quote_amount",
        "ts_us")
    for (l <- Swap.layouts) {
      val decoded = ProtocolRegistry.decode(
        ProtocolRegistry.encode(src, l).select("payload"), l)
      assert(decoded.orderBy("event_id").collect().map(_.toSeq).toSeq ==
        src.orderBy("event_id").collect().map(_.toSeq).toSeq, l.kind)
    }
    // truncated payload with a valid discriminator is skipped, not fatal
    val trunc = Seq(Swap.layouts.head.discriminator ++ Array[Byte](1, 2, 3))
      .toDF("payload")
    assert(ProtocolRegistry.decode(trunc, Swap.layouts.head).count() == 0)
    val tagged = ProtocolRegistry.dispatch(trunc)
      .select("protocol", "event_kind").collect().head
    assert(tagged.getString(0) == "unknown" && tagged.getString(1) == "unknown")
  }

  test("typed-width fields round-trip at their edges (u32 sign bit, u8 max)") {
    import spark.implicits._
    import graft.sources.ProtocolRegistry
    val l = ProtocolRegistry.Perp.layouts(0)
    val pk = (0 until 32).map(i => (i * 7 % 251).toByte).toArray
    val src = Seq(
      (1L, 4294967295L, 255L, pk, Long.MaxValue, 0L), // u32/u8 at max
      (2L, 2147483648L, 0L, pk.reverse, 5L, 6L)) // u32 sign bit set
      .toDF("event_id", "pool", "flags", "trader", "base_amount", "ts_us")
    val back = ProtocolRegistry.decode(
      ProtocolRegistry.encode(src, l).select("payload"), l)
      .orderBy("event_id").collect()
    assert(back(0).getAs[Long]("pool") == 4294967295L)
    assert(back(0).getAs[Int]("flags") == 255)
    assert(back(0).getAs[Long]("base_amount") == Long.MaxValue)
    assert(back(1).getAs[Long]("pool") == 2147483648L)
    assert(back(1).getAs[Array[Byte]]("trader").toSeq == pk.reverse.toSeq)
  }

  test("registry dispatch separates protocols and decodes in one pass") {
    import spark.implicits._
    import graft.sources.ProtocolRegistry
    import graft.sources.ProtocolRegistry._
    val swapRows = Seq((1L, 2L, 3L, 4L, 5L, 6L))
      .toDF("event_id", "pool", "user_id", "base_amount", "quote_amount",
        "ts_us")
    val ammRows = Seq((9L, 8L, 7L, 6L, 5L, 4L, 3L))
      .toDF("event_id", "pool", "user_id", "lp_amount", "base_in", "quote_in",
        "ts_us")
    val payloads = ProtocolRegistry.encode(swapRows, Swap.layouts.head)
      .select("payload")
      .union(ProtocolRegistry.encode(ammRows, Amm.layouts.head)
        .select("payload"))
    val out = ProtocolRegistry.dispatch(payloads)
      .select("protocol", "event_kind", "buy.base_amount", "deposit.lp_amount")
      .collect().map(_.toSeq).toSet
    assert(out == Set(Seq("swap", "buy", 4L, null),
      Seq("amm", "deposit", null, 6L)))
  }

  test("checksum and find-pattern: known vectors, frame validation, SQL") {
    // fast_checksum semantics: plain byte sum (simd_utils.rs:183)
    assert(CodecOps.checksum(Array[Byte](1, 2, -1)) == 258L)
    assert(CodecOps.checksum(Array.emptyByteArray) == 0L)
    // find_pattern semantics: first offset or None (simd_utils.rs:105)
    val hay = Array[Byte](9, 8, 7, 6, 7, 6)
    assert(CodecOps.findPattern(hay, Array[Byte](7, 6)) == 2)
    assert(CodecOps.findPattern(hay, Array[Byte](6, 9)) == null)
    assert(CodecOps.findPattern(hay, Array.emptyByteArray) == null)
    assert(CodecOps.findPattern(Array[Byte](1), Array[Byte](1, 2)) == null)
    // SQL-registered names work and run codegen'd on non-literal input
    val df = spark.range(50).toDF("id")
      .selectExpr("id", "graft_le_bytes(id * 2654435761, 8) AS bin")
      .selectExpr("id", "graft_checksum(bin) AS ck",
        "graft_find_pattern(bin, graft_le_bytes(id * 2654435761, 2)) AS p")
    assert(df.collect().forall(r => r.getAs[Long]("ck") >= 0 &&
      r.getAs[Int]("p") == 0))
    assert(df.queryExecution.executedPlan.toString.contains("*(1) Project"))
    // frame round trip: intact frames validate, a flipped byte is caught
    val ev = Tables.events(spark, sfDir)
    val framed = EventCodec.frameWithChecksum(EventCodec.encodeTrade(ev))
    val ok = EventCodec.validateChecksum(framed)
    assert(ok.filter(col("status") =!= "ok").isEmpty)
    val bad = framed.withColumn("frame",
      concat(lit(Array[Byte](0)), expr("substring(frame, 2)")))
    assert(EventCodec.validateChecksum(bad)
      .filter(col("status") === "ok").isEmpty)
  }

  test("instruction decode: account resolution, malformed rows dropped") {
    import graft.sources.InstructionCodec
    val ev = Tables.events(spark, sfDir)
    val txs = InstructionCodec.packTransactions(ev)
    val ok = InstructionCodec.flattenDecode(txs)
    assert(ok.count() == ev.count(), "well-formed instructions all decode")
    // resolved user key must be the md5-derived pubkey of the original row
    val joined = ok.join(ev.select(col("event_id"),
        expr("concat(md5(cast(cast(user_id as string) as binary)), " +
          "md5(cast(cast(user_id + 1 as string) as binary)))").as("want")),
      "event_id")
    assert(joined.filter(col("user_hex") =!= col("want")).isEmpty)
    // corrupt the nested rows: truncated data, foreign disc, bad index —
    // each must drop out without failing the job
    val bad = txs.select(col("tx_id"), col("account_keys"),
      expr("""transform(instructions, x -> named_struct(
                'event_id', x.event_id,
                'data', case when x.event_id % 3 = 0
                             then substring(x.data, 1, 16)
                        when x.event_id % 3 = 1
                             then concat(x'ffff', substring(x.data, 3))
                        else x.data end,
                'accounts', case when x.event_id % 3 = 2
                                 then array(999, 0)
                            else x.accounts end))""").as("instructions"))
    assert(InstructionCodec.flattenDecode(bad).isEmpty,
      "truncated/foreign/out-of-range instructions must be dropped")
  }

  test("instruction decode drops a row whose second account is missing " +
      "or out of range") {
    import graft.sources.InstructionCodec
    val txs = InstructionCodec.packTransactions(Tables.events(spark, sfDir))
    val mangled = txs.select(col("tx_id"), col("account_keys"),
      expr("""transform(instructions, x -> named_struct(
                'event_id', x.event_id,
                'data', x.data,
                'accounts', case when x.event_id % 3 = 0
                                 then slice(x.accounts, 1, 1)
                            when x.event_id % 3 = 1
                                 then array(x.accounts[0], 999)
                            else x.accounts end))""").as("instructions"))
    // collect(), not count(): count prunes the authority column, and
    // with it the second index read
    val got = InstructionCodec.flattenDecode(mangled).collect()
      .map(_.getAs[Long]("event_id")).toSet
    val want = Tables.events(spark, sfDir)
      .filter(col("event_id") % 3 === 2).collect()
      .map(_.getAs[Long]("event_id")).toSet
    assert(want.nonEmpty && got == want)
  }

  test("json ingest captures corrupt lines without failing the job") {
    import spark.implicits._
    import graft.sources.JsonIngest
    val lines = Seq(
      """{"event_id":1,"ts_us":2,"user_id":3,"event_type":"purchase","value":4.5}""",
      """{"event_id": not-json""").toDF("line")
    val out = JsonIngest.fromJsonLines(lines).collect()
      .map(r => (r.getAs[Any]("event_id"), r.getAs[String]("_corrupt") == null))
      .toSet
    assert(out == Set((1L, true), (null, false)))
  }
}
