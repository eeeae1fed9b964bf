package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.{FilterExec, GenerateExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.functions._

import graft.functions.CodecOps
import graft.functions.exprs._
import graft.sources.{ProtocolRegistry, RealLayouts}
import graft.sources.ProtocolRegistry.{FieldSpec, LayoutSpec, ProtocolSpec}

/** The `graft_dispatch` kernel behind [[ProtocolRegistry.dispatch]] and
  * [[ProtocolRegistry.decode]] against the column formula it replaced,
  * kept here as the reference: one CASE chain per tag and one guarded
  * struct per layout. */
class RegistryDispatchSpec extends TestSparkSession {

  /** The replaced column formula, verbatim but for the str guard, which
    * is bounded in 64 bits (in INT arithmetic a length near 2^31 fails
    * the job under ANSI instead of decoding to null). */
  private object Reference {
    private def fieldCol(payload: String, f: FieldSpec): Column = f.kind match {
      case "u64" | "i64" => le_long(col(payload), f.offset)
      case "u128" => le_u128(col(payload), f.offset)
      case "u32" =>
        (le_int(col(payload), f.offset).cast("bigint") bitwiseAND
          lit(0xFFFFFFFFL)).cast("bigint")
      case "i32" => le_int(col(payload), f.offset)
      case "u16" => expr(
        s"cast(conv(hex(substring($payload, ${f.offset + 1}, 1)), 16, 10) + " +
          s"256 * conv(hex(substring($payload, ${f.offset + 2}, 1)), 16, 10) " +
          "as int)")
      case "u8" | "bool" => expr(
        s"cast(conv(hex(substring($payload, ${f.offset + 1}, 1)), 16, 10) as int)")
      case "b32" => expr(s"substring($payload, ${f.offset + 1}, 32)")
      case "optb32" =>
        when(expr(s"octet_length($payload)") >= f.offset + 32,
          expr(s"substring($payload, ${f.offset + 1}, 32)"))
          .otherwise(lit(new Array[Byte](32)))
      case "optbool" => expr(
        s"case when conv(hex(substring($payload, ${f.offset + 1}, 1)), " +
          s"16, 10) = 1 and octet_length($payload) >= ${f.offset + 2} " +
          s"then cast(cast(conv(hex(substring($payload, " +
          s"${f.offset + 2}, 1)), 16, 10) as int) <> 0 as int) end")
      case "str" =>
        val len = le_int(col(payload), f.offset)
        when(len >= 0 && expr(s"octet_length($payload)").cast("bigint") >=
            lit(f.offset + 4L) + len.cast("bigint"),
          col(payload).substr(lit(f.offset + 5), len).cast("string"))
    }

    private def matches(payload: String, p: ProtocolSpec, l: LayoutSpec,
        programCol: Option[String]): Column =
      (Option(p.program), programCol) match {
        case (Some(prog), Some(pc)) => col(pc) === lit(prog) &&
          ProtocolRegistry.discMatches(payload, l)
        case (Some(prog), None) => throw new IllegalArgumentException(
          s"protocol ${p.protocol} is program-scoped ($prog)")
        case _ => ProtocolRegistry.discMatches(payload, l)
      }

    def decode(df: DataFrame, l: LayoutSpec,
        payload: String = "payload"): DataFrame =
      df.filter(ProtocolRegistry.discMatches(payload, l))
        .select(l.dataFields.map(f => fieldCol(payload, f).as(f.name)): _*)

    def dispatch(df: DataFrame, protocols: Seq[ProtocolSpec],
        payload: String = "payload",
        programCol: Option[String] = None): DataFrame = {
      val all = protocols.flatMap(p => p.layouts.map(l => (p, l)))
      val dupKinds = all.groupBy(_._2.kind).filter(_._2.size > 1).keySet
      def colName(p: ProtocolSpec, l: LayoutSpec): String =
        if (dupKinds(l.kind)) s"${p.protocol}_${l.kind}" else l.kind
      val protoCol = all.foldRight(lit("unknown")) { case ((p, l), rest) =>
        when(matches(payload, p, l, programCol), lit(p.protocol))
          .otherwise(rest)
      }
      val kindCol = all.foldRight(lit("unknown")) { case ((p, l), rest) =>
        when(matches(payload, p, l, programCol), lit(l.kind)).otherwise(rest)
      }
      all.foldLeft(
        df.withColumn("protocol", protoCol).withColumn("event_kind", kindCol)) {
        case (acc, (p, l)) =>
          acc.withColumn(colName(p, l),
            when(matches(payload, p, l, programCol),
              struct(l.dataFields.map(f =>
                fieldCol(payload, f).as(f.name)): _*)))
      }
    }
  }

  private def le32(v: Int): Array[Byte] = CodecOps.leBytes(v.toLong, 4)

  /** Seeded frames for every layout of `protocols`: random bodies of and
    * past the minimum length, `minLen - 1`, a discriminator cut short, a
    * foreign discriminator, all-0xFF bodies, wrong and null programs,
    * and each variable-width tail's edge cases; plus an empty and a null
    * payload. */
  private def frames(protocols: Seq[ProtocolSpec],
      seed: Long): Seq[(Array[Byte], String)] = {
    val rnd = new scala.util.Random(seed)
    def bytes(n: Int): Array[Byte] =
      Array.fill(math.max(n, 0))(rnd.nextInt(256).toByte)
    val programs = protocols.map(_.program).filter(_ != null).distinct
    val out = ArrayBuffer[(Array[Byte], String)](
      (Array.emptyByteArray, programs.headOption.orNull), (null, null))
    for (p <- protocols; l <- p.layouts) {
      val d = l.discriminator
      def body(n: Int): Array[Byte] =
        if (n <= d.length) d.take(n) else d ++ bytes(n - d.length)
      def add(b: Array[Byte], prog: String = p.program): Unit =
        out += ((b, prog))
      (1 to 4).foreach(_ => add(body(l.minLen + rnd.nextInt(48))))
      add(body(l.minLen))
      add(body(l.minLen - 1))
      add(d.take(d.length - 1))
      add(d ++ Array.fill(l.minLen - d.length)(0xFF.toByte))
      if (d.nonEmpty) {
        val foreign = body(l.minLen)
        foreign(0) = (foreign(0) ^ 0x5A).toByte
        add(foreign)
      }
      if (p.program != null) {
        add(body(l.minLen), null)
        add(body(l.minLen), "not-a-program")
        programs.find(_ != p.program).foreach(other => add(body(l.minLen), other))
      }
      l.fields.lastOption.foreach { f =>
        f.kind match {
          case "str" =>
            // non-UTF-8 content: 0xC3 0x28 is an invalid two-byte sequence
            val text = Array(0xC3, 0x28, 0xFF).map(_.toByte)
            for (len <- Seq(-1, 0, 3, 4, 0x7FFFFFFF))
              add(body(f.offset) ++ le32(len) ++ text)
          case "optbool" =>
            for (tail <- Seq(Seq(0), Seq(1, 0), Seq(1, 1), Seq(1, 0x80),
                Seq(2, 1), Seq(1)))
              add(body(f.offset) ++ tail.map(_.toByte))
          case "optb32" =>
            add(body(f.offset))
            add(body(f.offset + 31))
            add(body(f.offset + 32))
          case _ =>
        }
      }
    }
    out.toSeq
  }

  private def assertSame(df: DataFrame, protocols: Seq[ProtocolSpec],
      programCol: Option[String]): Unit =
    assertSameFrames(
      ProtocolRegistry.dispatch(df, protocols, programCol = programCol),
      Reference.dispatch(df, protocols, programCol = programCol))

  private def assertSameFrames(got: DataFrame, want: DataFrame): Unit = {
    assert(got.schema == want.schema, "schemas differ, nullability included")
    val extra = got.exceptAll(want)
    val missing = want.exceptAll(got)
    assert(extra.isEmpty && missing.isEmpty,
      s"kernel-only rows: ${extra.limit(3).collect().mkString("; ")}; " +
        s"reference-only rows: ${missing.limit(3).collect().mkString("; ")}")
  }

  /** `dispatch`, and `decode` of every layout, against the reference,
    * with both payload nullabilities: the decoded fields' nullability
    * follows the payload's, and a wire scan's payload is non-null. */
  private def assertSameBothWays(protocols: Seq[ProtocolSpec],
      programCol: Option[String], seed: Long): Unit = {
    import spark.implicits._
    val df = frames(protocols, seed).toDF("payload", "program_id")
    for (in <- Seq(df, df.filter(col("payload").isNotNull).withColumn(
        "payload", coalesce(col("payload"), lit(Array.emptyByteArray))))) {
      assertSame(in, protocols, programCol)
      for (p <- protocols; l <- p.layouts) withClue(s"decode ${l.kind}: ") {
        assertSameFrames(ProtocolRegistry.decode(in, l), Reference.decode(in, l))
      }
    }
  }

  test("kernel equals the column formula on the default registry") {
    assertSameBothWays(ProtocolRegistry.registry, None, 1L)
  }

  test("kernel equals the column formula on the real log registry") {
    assertSameBothWays(RealLayouts.logRegistry, Some("program_id"), 2L)
  }

  test("kernel equals the column formula on the real instruction registry") {
    assertSameBothWays(RealLayouts.ixRegistry, Some("program_id"), 3L)
  }

  test("kernel equals the column formula on the real account registry") {
    assertSameBothWays(RealLayouts.accountRegistry, Some("program_id"), 4L)
  }

  test("interpreted kernel equals the codegen'd kernel") {
    import spark.implicits._
    val df = frames(ProtocolRegistry.registry, 5L).toDF("payload", "program_id")
    val want = ProtocolRegistry.dispatch(df).collect().map(_.toSeq).toSet
    val key = "spark.sql.codegen.wholeStage"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try {
      val got = ProtocolRegistry.dispatch(df).collect().map(_.toSeq).toSet
      assert(got.map(_.map(deep)) == want.map(_.map(deep)))
    } finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  private def deep(v: Any): Any = v match {
    case b: Array[Byte] => b.toSeq
    case r: org.apache.spark.sql.Row => r.toSeq.map(deep)
    case other => other
  }

  test("dispatch replaces a same-named input column in place") {
    import spark.implicits._
    val df = frames(ProtocolRegistry.registry, 6L)
      .map { case (b, _) => ("stale", b, 7L) }
      .toDF("event_kind", "payload", "buy")
    assertSame(df, ProtocolRegistry.registry, None)
    assert(ProtocolRegistry.dispatch(df).columns.take(3).toSeq ==
      Seq("event_kind", "payload", "buy"))
  }

  test("a hostile str length decodes to null in dispatch and decode") {
    import spark.implicits._
    val meta = ProtocolRegistry.Meta.layouts.head
    val frames = Seq(-1, 5, 0x7FFFFFFF - 27, 0x7FFFFFFF).map(len =>
      meta.discriminator ++ CodecOps.leBytes(1L, 8) ++
        CodecOps.leBytes(2L, 8) ++ le32(len) ++ "abc".getBytes("UTF-8"))
      .toDF("payload")
    val names = ProtocolRegistry.dispatch(frames)
      .select(col("event_kind"), col("token_meta.name")).collect()
    assert(names.forall(r => r.getString(0) == "token_meta" && r.isNullAt(1)))
    val decoded = ProtocolRegistry.decode(frames, meta).collect()
    assert(decoded.length == 4 && decoded.forall(_.isNullAt(2)))
  }

  private def codegenPlan(df: DataFrame): SparkPlan =
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }

  test("a dispatch stage stays under the JIT's huge-method limit and " +
      "decodes each frame once") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dispatch_cg")
    val layouts = ProtocolRegistry.registry.flatMap(_.layouts)
    val body = layouts.map(l => l.discriminator ++
      new Array[Byte](l.minLen - l.discriminator.length))
    java.nio.file.Files.write(dir.resolve("a.bin"),
      body.flatMap(b => le32(b.length) ++ b).toArray)
    try assertCompact(dir.toString, layouts)
    finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  private def assertCompact(dir: String, layouts: Seq[LayoutSpec]): Unit = {
    // the live-tail consumer: known frames, with every layout's ids,
    // first amount and event time folded into one event row
    val ids = Set("event_id", "pool", "user_id", "ts_us", "slot", "parent_slot")
    def every(field: String): Seq[Column] = layouts
      .filter(_.fields.exists(_.name == field))
      .map(l => col(s"${l.kind}.$field"))
    val value = coalesce(layouts.flatMap(l => l.fields
      .find(f => (f.kind == "u64" || f.kind == "u128") && !ids(f.name))
      .map(f => col(s"${l.kind}.${f.name}").cast("double"))): _*) / 100
    val tsUs = coalesce(every("ts_us") :+
      (col("block_meta.block_time_ms") * 1000): _*)
    val out = ProtocolRegistry.dispatch(
        spark.read.format("graft-wire").load(dir))
      .filter(col("event_kind") =!= "unknown" && col("file").endsWith(".bin"))
      .select(col("file"),
        coalesce(every("event_id") ++ every("slot"): _*).as("event_id"),
        col("event_kind").as("event_type"), col("protocol"),
        coalesce(every("user_id"): _*).as("user_id"), value.as("value"),
        timestamp_micros(tsUs).as("ts"))
      .filter(col("ts").isNotNull)
    // token_meta frames carry no event time
    assert(out.count() == layouts.count(_.kind != "token_meta"))
    val plan = codegenPlan(out)
    val stages = org.apache.spark.sql.execution.debug.codegenStringSeq(plan)
    assert(stages.nonEmpty, "expected whole-stage codegen")
    val sizes = stages.map(_._3.maxMethodCodeSize)
    assert(sizes.forall(_ <= 8000),
      s"generated method sizes ${sizes.mkString(",")} exceed 8,000 bytes")
    val kernels = plan.collect { case p => p.expressions
      .flatMap(_.collect { case k if k.prettyName == "graft_dispatch" => k })
    }.flatten
    assert(kernels.size == 1, s"kernel appears ${kernels.size} times:\n$plan")
    // the filter on an input column still runs below the kernel
    val below = plan.collectFirst { case g: GenerateExec => g.child }
    assert(below.exists(_.exists {
      case f: FilterExec => f.references.exists(_.name == "file")
      case _ => false
    }), s"expected the file filter under the kernel:\n$plan")
  }

  /** Runs `df` (an adaptive plan builds its codegen stages only as it
    * executes) and returns its executed plan and every whole-stage
    * subtree's largest generated method. */
  private def compiled(df: DataFrame): (SparkPlan, Seq[Int]) = {
    val qe = df.queryExecution
    qe.toRdd.count()
    val stages = org.apache.spark.sql.execution.debug
      .codegenStringSeq(qe.executedPlan)
    (qe.executedPlan, stages.map(_._3.maxMethodCodeSize))
  }

  /** How often `fn` is called in `plan`, adaptive query stages included. */
  private def calls(plan: SparkPlan, fn: String): Int =
    new AdaptiveSparkPlanHelper {}.collect(plan) {
      case p => p.expressions.flatMap(_.collect {
        case e if e.prettyName == fn => e
      })
    }.flatten.size

  test("every fixed-layout decode runs the kernel once and no hex read") {
    import graft.sources.{EventCodec, InstructionCodec}
    val ev = Tables.events(spark, sfDir)
    val trades = EventCodec.encodeTrade(ev)
    for ((name, df) <- Seq(
        "decodeTrade" -> EventCodec.decodeTrade(trades),
        "decode" -> ProtocolRegistry.decode(trades, EventCodec.TradeLayout),
        "flattenDecode" -> InstructionCodec.flattenDecode(
          InstructionCodec.packTransactions(ev)))) {
      val (plan, _) = compiled(df)
      assert(calls(plan, "graft_dispatch") == 1,
        s"$name: the kernel should run once:\n$plan")
      assert(!plan.toString.contains("conv("),
        s"$name: a hex-string byte read is left:\n$plan")
    }
  }

  test("the trade and create-token round trips stay under the JIT's " +
      "huge-method limit and decode each frame once") {
    for ((name, fn) <- Seq("q_events_decode_roundtrip" -> "graft_dispatch",
        "q_events_decode_create" -> "graft_decode_create_token")) {
      val (plan, sizes) = compiled(SparkEntry.queries(name)(spark, sfDir))
      assert(sizes.nonEmpty, s"$name: expected whole-stage codegen")
      assert(sizes.forall(_ <= 8000),
        s"$name: generated method sizes ${sizes.mkString(",")} exceed " +
          "8,000 bytes")
      assert(calls(plan, fn) == 1, s"$name: $fn should run once:\n$plan")
    }
  }
}
