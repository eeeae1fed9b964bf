package graft

import org.apache.spark.sql.functions._

import graft.operators._

/** Plan-shape audits (SURVEY §5): these lock in the physical properties
  * the 100 TB design depends on — pushdown, pruning, broadcasts, map-side
  * partial aggregation, single-shuffle as-of — so a regression in plan
  * quality fails CI, not just a benchmark.
  */
class PlanAuditSpec extends TestSparkSession {

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("event-type include filter is pushed to the parquet scan") {
    val df = EventOps.filterTypes(Tables.events(spark, sfDir),
      Seq("purchase", "signup"))
    val plan = planOf(df)
    assert(plan.contains("PushedFilters") &&
      plan.contains("In(event_type"), plan.takeWhile(_ != '\n'))
  }

  test("counts query prunes the events scan to needed columns") {
    val df = EventOps.countsByType(Tables.events(spark, sfDir))
    val scanLine = planOf(df).linesIterator
      .find(_.contains("ReadSchema")).getOrElse("")
    assert(!scanLine.contains("props"), scanLine)
  }

  test("five-way join broadcasts the small dims and keeps partial aggs") {
    val df = Relational.regionVolume(Tables.lineitem(spark, sfDir),
      Tables.orders(spark, sfDir), Tables.customer(spark, sfDir),
      Tables.nation(spark, sfDir), Tables.region(spark, sfDir))
    val plan = planOf(df)
    assert("BroadcastHashJoin|BroadcastExchange".r
      .findAllIn(plan).size >= 2, "expected nation+region broadcasts")
    assert(plan.contains("partial_sum") || plan.contains("partial_count"),
      "expected map-side partial aggregation")
  }

  test("Q7 volume shipping broadcasts both nation legs and supplier") {
    val df = Relational.volumeShipping(Tables.lineitem(spark, sfDir),
      Tables.orders(spark, sfDir), Tables.customer(spark, sfDir),
      Tables.supplier(spark, sfDir), Tables.nation(spark, sfDir))
    val plan = planOf(df)
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 3,
      "expected supplier + two nation broadcasts")
    // the ship-date band must reach the lineitem scan
    assert(plan.contains("PushedFilters") &&
      plan.contains("l_shipdate"), "expected date pushdown")
  }

  test("Q17 shape aggregates per part once and joins back key-aligned") {
    val df = Relational.smallQtyRevenue(Tables.lineitem(spark, sfDir),
      Tables.part(spark, sfDir))
    val plan = planOf(df)
    // per-part avg is a partial-agg shuffle, part dim is broadcast
    assert(plan.contains("partial_count") || plan.contains("partial_sum"))
    assert(plan.contains("BroadcastHashJoin"), "expected part broadcast")
  }

  test("as-of join shuffles exactly once on the key") {
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), expr("unix_micros(ts)").as("ts_us"),
        col("event_id"), col("event_type"))
    val j = AsOfJoin.asOf(
      ev.filter(col("event_type") === "purchase").drop("event_type"),
      ev.filter(col("event_type") === "view").drop("event_type"),
      "user_id", "ts_us", "event_id", Seq())
    // one hash-partitioning exchange for the window; union sides feed it
    val exchanges = "Exchange hashpartitioning\\(user_id"
      .r.findAllIn(planOf(j)).size
    assert(exchanges == 1, s"expected 1 key shuffle, got $exchanges")
  }

  test("custom as-of merge exec: parity with window formulation, one " +
    "shuffle, no WindowExec buffering") {
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), expr("unix_micros(ts)").as("ts_us"),
        col("event_id"), col("event_type"))
    val l = ev.filter(col("event_type") === "purchase").drop("event_type")
    val r = ev.filter(col("event_type") === "view").drop("event_type")
    def proj(df: org.apache.spark.sql.DataFrame) = df.select(
      col("event_id"), col("user_id"), col("ts_us"),
      col("asof.event_id").as("vid"), col("asof.ts_us").as("vts"))
    val win = proj(AsOfJoin.asOf(l, r, "user_id", "ts_us", "event_id", Seq()))
    val merge = proj(
      AsOfJoin.asOfMerge(l, r, "user_id", "ts_us", "event_id", Seq()))
    assert(merge.exceptAll(win).isEmpty && win.exceptAll(merge).isEmpty,
      "custom exec must reproduce the window formulation exactly")
    val plan = planOf(merge)
    assert(plan.contains("AsOfMerge"), "expected the custom physical op")
    assert(!plan.contains("Window"), "the merge replaces WindowExec")
    val exchanges = "Exchange hashpartitioning\\(user_id"
      .r.findAllIn(plan).size
    assert(exchanges == 1, s"expected 1 key shuffle, got $exchanges")
  }

  test("as-of merge under key skew: one hot key with 100k updates") {
    // the motivating workload for the custom exec: a single hot account
    // receiving a torrent of state updates (dashmap-cache hot row). The
    // window formulation buffers the whole group; the merge must stream
    // it and still produce exact results.
    import spark.implicits._
    val right = spark.range(100000).select(
      lit(7L).as("k"), (col("id") * 10).as("ts_us"), col("id").as("rid"),
      (col("id") * 3).as("state"))
    val left = spark.range(1000).select(
      lit(7L).as("k"), (col("id") * 1000 + 5).as("ts_us"),
      (col("id") + 1000000).as("rid"))
    val j = AsOfJoin.asOfMerge(left, right, "k", "ts_us", "rid",
      Seq("state"))
    // every left row at ts 1000i+5 must see the right row at ts 1000i
    // (id 100i, state 300i) — the latest at-or-before update
    val rows = j.select(col("ts_us"), col("asof.state").as("s")).collect()
    assert(rows.length == 1000)
    rows.foreach { r =>
      val i = (r.getAs[Long]("ts_us") - 5) / 1000
      assert(r.getAs[Long]("s") == 300 * i, s"wrong state at i=$i")
    }
  }

  test("minhash signature aggregation is map-side partial") {
    val plan = planOf(Dedup.minhashLsh(Tables.documents(spark, sfDir), 0.5))
    assert(plan.contains("partial_graft_minhash"),
      "expected map-side partial MinHashAgg")
  }

  test("top-K ranks via distributed TakeOrderedAndProject, not a global window") {
    val df = EventOps.topKUsers(Tables.events(spark, sfDir))
    val plan = planOf(df)
    assert(plan.contains("TakeOrderedAndProject"),
      "expected per-partition top-K merge")
  }

  test("range join is a bucketed equi-join, not a nested loop") {
    import org.apache.spark.sql.functions.expr
    val ev = Tables.events(spark, sfDir)
    val points = ev.select(col("event_id"), expr("unix_micros(ts)").as("ts_us"))
    val intervals = ev.select(expr("unix_micros(ts)").as("start_us"),
      expr("unix_micros(ts) + 600000000").as("end_us"))
    val plan = planOf(
      RangeJoin.pointInInterval(points, intervals, "ts_us", "start_us", "end_us"))
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), "expected bucketed equi-join")
  }

  test("top-token histogram is partial-agg + TakeOrdered, no global sort") {
    val df = TextAnalysis.topTokens(Tables.documents(spark, sfDir))
    val plan = planOf(df)
    assert(plan.contains("TakeOrderedAndProject"),
      "expected distributed top-K merge")
    assert(plan.contains("partial_count"),
      "expected map-side partial counts")
  }

  test("corpus stats shuffles digests, not document bodies") {
    val df = TextAnalysis.corpusStats(Tables.documents(spark, sfDir))
    val plan = planOf(df)
    // the exchange inputs must already be md5/length projections: no `text`
    // column may survive past the first projection into an exchange
    val exchangeIdx = plan.indexOf("Exchange")
    assert(exchangeIdx > 0, "expected a shuffle for the groupBy")
    assert(plan.contains("partial_"), "expected map-side partial aggregation")
  }

  test("filter chain is a single scan with no shuffle") {
    val df = TextAnalysis.filterChain(Tables.documents(spark, sfDir))
    val plan = planOf(df)
    assert(!plan.contains("Exchange"), "expected shuffle-free projection")
  }

  test("per-key top-N uses WindowGroupLimit (partial top-k before shuffle)") {
    val df = Relational.topOrdersPerCustomer(Tables.orders(spark, sfDir))
    val plan = planOf(df)
    // Spark's rank-limit pushdown keeps only k rows per key on the map
    // side — the reason a custom top-k SparkPlan isn't needed here
    assert(plan.contains("WindowGroupLimit"), plan.take(400))
  }

  test("date-dim join dynamically prunes sink partitions (DPP)") {
    import graft.sources.EventSink
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_dpp").toString
    EventSink.writePartitionedByDay(Tables.events(spark, sfDir), dir,
      buckets = 2)
    val back = EventSink.readPartitioned(spark, dir)
    val dates = new java.io.File(dir).listFiles()
      .filter(_.isDirectory).map(_.getName)
      .filter(_.startsWith("event_date=")).map(_.stripPrefix("event_date="))
      .sorted
    // dim with a selective filter on a non-partition column: the classic
    // "dates dim filtered to the reporting window" shape — at 100 TB the
    // fact side must prune to the dim's surviving dates at runtime, not
    // scan every partition. (Built on range, not a local Seq: a
    // LocalRelation would constant-fold the filter away and DPP requires
    // a surviving selective predicate on the build side.)
    val dim = spark.range(dates.length)
      .select(element_at(array(dates.map(lit): _*),
        (col("id") + 1).cast("int")).cast("date").as("event_date"),
        col("id"))
      .filter(col("id") === 0)
    val joined = back.join(dim, Seq("event_date"))
      .groupBy("event_date").count()
    joined.collect()
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"), plan.take(3000))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("shuffle order ranks via range exchange, not a one-task window") {
    val docs = Tables.documents(spark, sfDir)
    // the range exchange runs inside the frozen (localCheckpoint) stage;
    // audit the same prefix un-frozen
    val prefix = docs.select(col("doc_id"),
        md5(concat(lit("ep1"), col("doc_id").cast("string")).cast("binary"))
          .as("shuffle_key"))
      .repartitionByRange(col("shuffle_key"), col("doc_id"))
    assert(planOf(prefix).contains("rangepartitioning(shuffle_key"),
      "expected terasort-shape range exchange")
    val so = Sampling.shuffleOrder(docs, "doc_id", "ep1")
    val plan = planOf(so)
    // the data-path rank must be partitioned (pid), never a global
    // window; the only single-partition work allowed is the offsets
    // table (one row per partition)
    assert(plan.contains("windowspecdefinition(pid"),
      "expected the rank window keyed by partition id")
    // ranks are a dense permutation following the (key, id) total order
    val rows = so.orderBy("shuffle_rank").collect()
    assert(rows.map(_.getAs[Long]("shuffle_rank")).toSeq ==
      (1L to rows.length.toLong))
    val keys = rows.map(r => (r.getAs[String]("shuffle_key"),
      r.getAs[Long]("doc_id")))
    assert(keys.sameElements(keys.sorted), "rank order must follow the key")
  }

  test("z-order layout bounds every file on BOTH clustered dimensions") {
    import graft.sources.EventSink
    val ev = Tables.events(spark, sfDir)
    val dirZ = java.nio.file.Files.createTempDirectory("graft_z").toString
    val dirT = java.nio.file.Files.createTempDirectory("graft_t").toString
    EventSink.writeZOrdered(ev, dirZ, files = 16)
    // control: single-column sort — perfect on the leader, hopeless on
    // the second dimension
    ev.repartitionByRange(16, col("event_id"))
      .sortWithinPartitions("event_id")
      .write.mode("overwrite").parquet(dirT)
    def coverage(dir: String, c: String): Double = {
      val span = spark.read.parquet(dir)
        .groupBy(input_file_name())
        .agg(((max(col(c)) - min(col(c))).cast("double")).as("w"))
      val g = ev.agg((max(col(c)) - min(col(c))).cast("double")).head.getDouble(0)
      span.agg(avg("w")).head.getDouble(0) / g
    }
    // the z-layout keeps each file to a fraction of both value ranges;
    // the time-sorted control covers ~the full user range per file
    assert(coverage(dirZ, "user_id") < 0.6,
      s"z user coverage ${coverage(dirZ, "user_id")}")
    assert(coverage(dirZ, "event_id") < 0.6,
      s"z event coverage ${coverage(dirZ, "event_id")}")
    assert(coverage(dirT, "user_id") > 0.9,
      s"control should span users ${coverage(dirT, "user_id")}")
    // data survives the clustering byte-for-byte
    assert(spark.read.parquet(dirZ).count() == ev.count())
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dirZ))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dirT))
  }

  test("repetition reuses the doc_id partitioning across window and aggs") {
    // one exchange on doc_id feeds the bigram window, both per-doc
    // aggregations, and the join — token rows shuffle once, not four times
    val plan = planOf(TextAnalysis.repetition(Tables.documents(spark, sfDir)))
    val exchanges = plan.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges <= 3, s"expected <=3 exchanges, got $exchanges:\n$plan")
  }

  test("boilerplate chunks shuffle digests, not document bodies") {
    val plan = planOf(
      TextAnalysis.boilerplateChunks(Tables.documents(spark, sfDir)))
    val exchangeLines = plan.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchangeLines.nonEmpty)
    assert(!exchangeLines.exists(_.contains("text#")),
      s"document bodies crossed a shuffle:\n${exchangeLines.mkString("\n")}")
  }

  test("rare-token rate explodes the corpus once (AQE reuses the shared " +
      "token-count stage)") {
    val df = TextAnalysis.rareTokenRate(Tables.documents(spark, sfDir))
    df.collect() // finalize the adaptive plan so stage reuse is visible
    val plan = planOf(df)
    // the (source, token) count subtree feeds both the per-source side and
    // the corpus-frequency side; at runtime it must be one shared shuffle
    // stage, not a second full explode of the corpus
    assert(plan.contains("ReusedQueryStage") ||
        plan.contains("ReusedExchange"),
      s"expected the token-count stage to be reused:\n${plan.take(3000)}")
  }

  test("Q4/Q12/Q14 plan shapes are pinned: join strategy + aggregate " +
      "count (round-4 bench wobble must not hide a real regression)") {
    // Q4: the correlated EXISTS is ONE left-semi join carrying the
    // cross-table date predicate, then one two-phase aggregate
    val q4 = planOf(Relational.orderPriorityCheck(
      Tables.lineitem(spark, sfDir), Tables.orders(spark, sfDir)))
    assert(q4.contains("LeftSemi"), s"Q4 lost its semi join:\n${q4.take(2000)}")
    assert("HashAggregate".r.findAllIn(q4).size == 2,
      s"Q4 must aggregate exactly once (partial+final):\n${q4.take(2000)}")
    assert(!q4.contains("NestedLoop") && !q4.contains("CartesianProduct"),
      "Q4 must keep the date predicate inside the equi-join")
    // Q12: one fact-fact equi-join (the band filter rides the join),
    // one two-phase conditional aggregate
    val q12 = planOf(Relational.latePriority(
      Tables.lineitem(spark, sfDir), Tables.orders(spark, sfDir)))
    assert("SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin".r
      .findAllIn(q12).nonEmpty, s"Q12 lost its equi-join:\n${q12.take(2000)}")
    assert("HashAggregate".r.findAllIn(q12).size == 2,
      s"Q12 must aggregate exactly once (partial+final):\n${q12.take(2000)}")
    assert(!q12.contains("NestedLoop") && !q12.contains("CartesianProduct"),
      "Q12 date band must not degrade the join to a nested loop")
    // Q14: the part dim is explicitly broadcast; one two-phase aggregate
    val q14 = planOf(Relational.promoShare(
      Tables.lineitem(spark, sfDir), Tables.part(spark, sfDir)))
    assert(q14.contains("BroadcastHashJoin"),
      s"Q14 lost the part broadcast:\n${q14.take(2000)}")
    assert("HashAggregate".r.findAllIn(q14).size == 2,
      s"Q14 must aggregate exactly once (partial+final):\n${q14.take(2000)}")
  }

  test("Q13 shape aggregates orders before the customer join") {
    val plan = planOf(Relational.custOrderDistribution(
      Tables.customer(spark, sfDir), Tables.orders(spark, sfDir)))
    // per-customer counts must reduce map-side, and the join input is the
    // aggregated (custkey, cnt) pairs — order rows never meet customer
    assert(plan.contains("partial_count"),
      "expected map-side partial counts over orders")
    val joinIdx = plan.indexOf("Join")
    val aggIdx = plan.indexOf("HashAggregate")
    assert(joinIdx >= 0 && aggIdx >= 0, "expected join + aggregate")
  }

  test("bucketed layout: join and aggregation on the bucket key are " +
      "shuffle-free") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bucketed")
      .toString
    val ev = Tables.events(spark, sfDir)
      .select("event_id", "user_id", "event_type", "value")
    graft.sources.BucketedLayout.writeBucketed(
      ev, "graft_ev_bucketed", dir, "user_id", 8)
    try {
      val t = spark.table("graft_ev_bucketed")
      val joined = t.as("a").join(t.as("b"), "user_id")
        .groupBy("user_id").count()
      // make sure the no-exchange plan isn't just a broadcast artifact
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        joined.collect()
        val plan = planOf(joined)
        assert(!plan.contains("Exchange hashpartitioning"),
          s"bucketed join still shuffles:\n${plan.take(3000)}")
      } finally {
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      }
      val agg = spark.table("graft_ev_bucketed")
        .groupBy("user_id").agg(sum("value"))
      agg.collect()
      assert(!planOf(agg).contains("Exchange hashpartitioning"),
        "bucketed aggregation still shuffles")
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_ev_bucketed")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("AQE splits skewed join partitions at runtime (salting's sibling)") {
    // one hot key carrying most rows — the wallet-skew shape A21 salts by
    // hand; here the runtime re-plan must handle it unaided
    import spark.implicits._
    val left = spark.range(0, 200000)
      .select(when(col("id") % 10 =!= 0, lit(0L)).otherwise(col("id"))
        .as("k"), col("id").as("payload"))
    val right = spark.range(0, 2000).select(col("id").as("k"))
    val old = Map(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "32KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val saved = old.keys.map(k => k -> spark.conf.getOption(k)).toMap
    old.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // a global reduce, not a groupBy(k): re-splitting the hot partition
      // must not have to preserve a downstream hash distribution on k
      val joined = left.join(right, "k").select(sum("payload").as("s"))
      joined.collect()
      val plan = planOf(joined)
      assert(plan.contains("skew=true"),
        s"expected AQE skew-join split:\n${plan.take(3000)}")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("real-layout registry dispatch is one shuffle-free projection") {
    import graft.sources.{ProtocolRegistry, RealLayouts}
    val frames = Tables.events(spark, sfDir).select(
      expr("cast(concat('xx', cast(event_id as string)) as binary)")
        .as("payload"),
      lit(RealLayouts.PumpFunProgram).as("program_id"))
    val df = ProtocolRegistry.dispatch(frames,
      Seq(RealLayouts.PumpFun, RealLayouts.Bonk, RealLayouts.PumpSwap),
      programCol = Some("program_id"))
    val plan = planOf(df)
    // the whole multi-protocol registry compiles to map-side projection
    // work: no exchange, no join, one codegen span over the scan
    assert(!plan.contains("Exchange"), "dispatch must not shuffle")
    assert(!plan.contains("Join"), "dispatch must not join")
    assert(plan.contains("*("), "expected WholeStageCodegen")
  }

  test("cpi merge joins ix and log sides once, no nested-loop fallback") {
    import graft.sources.InstructionCodec
    val txs = InstructionCodec.packCpiTransactions(
      Tables.events(spark, sfDir).filter(col("event_type") === "purchase"))
      .localCheckpoint()
    val merged = InstructionCodec.cpiMerge(txs)
    merged.collect()
    // AQE plan strings append an "Initial Plan" section — audit only the
    // final plan
    val plan = planOf(merged).split("== Initial Plan ==").head
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), "merge must stay an equi-join")
    val joins = "SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin".r
      .findAllIn(plan).size
    assert(joins == 1, s"expected exactly one ix-log join, got $joins")
  }

  test("pricing summary keeps whole-stage codegen through the aggregate") {
    val df = Relational.pricingSummary(Tables.lineitem(spark, sfDir))
    df.collect() // finalize the adaptive plan so codegen stages are visible
    val plan = planOf(df)
    assert(plan.contains("*("), "expected a WholeStageCodegen span")
  }

  test("semantic dedup pair compare is blocked by the cluster key, " +
      "never a cross product") {
    val df = Similarity.semanticDedup(
      Tables.embeddings(spark, sfDir), 0.35)
    val plan = planOf(df)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "within-cluster compare must be an equi-join on the cluster id")
    assert(plan.contains("LeftAnti"),
      "survivors come from an anti-join against the dropped set")
  }

  test("series correlation aggregates partial and joins hourly rows, " +
      "never raw events") {
    val df = EventOps.seriesCorrelation(Tables.events(spark, sfDir))
    val plan = planOf(df)
    assert(plan.contains("partial_sum") || plan.contains("partial_count"),
      "hourly series and pair moments need map-side partials")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "pair fan-out must ride the hour-bucket equi-join")
    assert(!plan.contains("WindowExec"), "no window needed")
  }

  test("budget selection runs on a range exchange, not a global window") {
    val toks = split(col("text"), " ")
    val df = Sampling.selectByBudget(Tables.documents(spark, sfDir),
      size(array_distinct(toks)).cast("double") / size(toks).cast("double"),
      size(toks).cast("bigint"), 5000L)
    val plan = planOf(df)
    // the range exchange itself is behind the frozen localCheckpoint
    // (lineage is cut so every pass sees identical boundaries); what the
    // visible plan must guarantee is that the prefix-sum window is
    // partitioned on the range id — never an empty-partition global sort
    assert(plan.contains("windowspecdefinition(pid"),
      "prefix-sum window must be partitioned by the range id")
    assert(!"windowspecdefinition\\(score".r.findFirstIn(plan).isDefined,
      "global (unpartitioned) window crept in")
  }

  test("boilerplate strip shuffles digest keys, reassembly is per-doc") {
    val df = operators.Dedup.stripSharedSegments(
      Tables.documents(spark, sfDir))
    val plan = planOf(df)
    assert(plan.contains("partial_count") || plan.contains("count(distinct"),
      "segment document-frequency needs a keyed aggregate")
    assert(!plan.contains("WindowExec"),
      "order restore must be array_sort inside the per-doc aggregate, " +
        "not a window")
  }

  test("Q2 shape: correlated min is a keyed aggregate + join-back, dims " +
      "broadcast") {
    val df = Relational.minCostSupplier(Tables.lineitem(spark, sfDir),
      Tables.part(spark, sfDir), Tables.supplier(spark, sfDir),
      Tables.nation(spark, sfDir), Tables.region(spark, sfDir))
    val plan = planOf(df)
    // the dim broadcasts + ship-cost aggregate run inside the one eager
    // materialization of the (part, supplier) cost table (it feeds both
    // the per-part min and the winner join-back — without the
    // checkpoint that subtree evaluated twice); the visible plan is the
    // reduced-table assembly and must stay keyed + windowless
    assert(plan.contains("Scan ExistingRDD"),
      "expected the materialized cost table as the leaf")
    assert(plan.contains("partial_min"),
      "expected map-side partial min for the per-part floor")
    assert(!plan.contains("WindowExec"), "no window needed for the min")
    assert(!plan.contains("CartesianProduct"), "join-back must be keyed")
  }

  test("Q11 shape: scalar total is a 1-row broadcast, threshold in " +
      "integer cents") {
    val df = Relational.importantParts(Tables.lineitem(spark, sfDir),
      Tables.supplier(spark, sfDir), Tables.nation(spark, sfDir))
    val plan = planOf(df)
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"),
      "expected the global total broadcast back, not a shuffle")
    assert(plan.contains("partial_sum"),
      "expected map-side partial sums for per-part value")
  }

  test("Q16 shape: broadcast anti-join exclusion, distinct pairs before " +
      "the part join") {
    val df = Relational.supplierPartCount(Tables.lineitem(spark, sfDir),
      Tables.part(spark, sfDir), Tables.supplier(spark, sfDir))
    val plan = planOf(df)
    assert(plan.contains("LeftAnti") && plan.contains("BroadcastHashJoin"),
      "expected a broadcast left-anti exclusion of deficit suppliers")
    // the distinct-pair reduction must appear below the part join: the
    // first (deepest) aggregate groups by the raw pair columns
    assert(plan.contains("l_partkey") && plan.contains("l_suppkey"),
      "expected the pair-distinct aggregate keys in the plan")
  }

  test("Q20 shape: dominance is two keyed aggregates + integer " +
      "predicate, no window") {
    val df = Relational.dominantSuppliers(Tables.lineitem(spark, sfDir),
      Tables.part(spark, sfDir), Tables.supplier(spark, sfDir),
      Tables.nation(spark, sfDir))
    val plan = planOf(df)
    assert(!plan.contains("WindowExec"),
      "dominance must not use a window rank")
    // the ship-date pushdown + part-filter broadcast run inside the one
    // eager materialization of the pair-quantity table; part totals are
    // the sums of the per-pair sums (no second lineitem pass), and the
    // visible plan is pair-table joins with the nation-supplier
    // broadcast still in place
    assert(plan.contains("Scan ExistingRDD"),
      "expected the materialized pair-quantity table as the leaf")
    assert(plan.contains("BroadcastHashJoin"),
      "expected the nation-supplier broadcast")
    assert(plan.contains("pair_qty") && plan.contains("total_qty"),
      "expected the integer dominance predicate on the pair rollup")
  }

  test("k-core peel round is keyed semi-joins + degree aggregate") {
    // DropAll isolates the peel-loop audit: the CapTop default's edge
    // build legitimately carries ONE rank window (audited below); the
    // peel rounds themselves must stay window-free under either policy
    val df = GraphOps.kCore(Tables.events(spark, sfDir),
      policy = GraphOps.DropAll(acknowledgeVacuous = true))
    val plan = planOf(df)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "survivor filtering must ride the node equi-joins")
    assert(!plan.contains("WindowExec"),
      "degrees are keyed aggregates, not window counts")
  }

  test("capped (default) coactivity edge build: rank cap plans as " +
      "WindowGroupLimit over the explode fan-out, no cartesian") {
    val plan = planOf(
      GraphOps.coactivityEdges(Tables.events(spark, sfDir), 16))
    assert(plan.contains("WindowGroupLimit"),
      "the top-N bucket rank must pre-filter map-side:\n" +
        plan.take(600))
    assert(plan.contains("Generate explode"),
      "pair fan-out must be the map-side double-explode")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "the capped edge build must stay equi-keyed end to end")
  }

  test("dropall coactivity edge build: ONE bounded-membership aggregate " +
      "over one raw scan, explode fan-out, no membership join") {
    // the round-12 builder contract: the drop-policy buckets come from
    // a single bucket-keyed BoundedMembershipAgg pass (map-side partial
    // dedup, one bounded-bytes exchange) — never the old three-stage
    // distinct → re-key+checkpoint → size-filter join + collect_list —
    // and the pair fan-out stays a map-side double-explode, never a
    // self-join re-shuffle
    val plan = planOf(GraphOps.coactivityEdges(
      Tables.events(spark, sfDir), 64, GraphOps.DropAll(acknowledgeVacuous = true)))
    assert(plan.contains("graft_bounded_membership"),
      "bucket membership must fold in the bounded one-pass aggregate:\n" +
        plan.take(600))
    assert("(FileScan|Scan parquet)".r.findAllIn(plan).size == 1,
      "the events table must be scanned exactly once:\n" + plan)
    assert(plan.contains("Generate explode"),
      "pair fan-out must be the map-side double-explode")
    assert(!plan.contains("collect_list") &&
      !plan.contains("SortMergeJoin") && !plan.contains("BroadcastHashJoin"),
      "no membership join / collect_list belongs in the drop-policy " +
        "bucket build:\n" + plan.take(600))
  }

  test("washPairs masked regime: the reversal test compiles into the " +
      "fan-out filter, masks attach by broadcast") {
    // the round-12 contract: with the size gate forced open, the pair
    // fan-out's filter carries the codegen'd mask intersection (never an
    // interpreted zip_with/exists lambda) and the wallet-sized mask
    // tables join in by broadcast — the fan-out join itself must never
    // degrade to a sort-merge of the side tables
    val conf = "spark.graft.washPairsMaskMinWallets"
    spark.conf.set(conf, "0")
    try {
      val plan = planOf(EventOps.washPairs(Tables.events(spark, sfDir)))
      assert(plan.contains("graft_mask_intersects"),
        "reversal filter must be the compiled MaskIntersects kernel:\n" +
          plan.take(600))
      assert(plan.contains("BroadcastHashJoin"),
        "masks must attach by broadcast")
    } finally spark.conf.unset(conf)
  }

  test("pqTopK serve regime: ADC distances come from the compiled " +
      "lookup kernel, not the codes-join aggregate") {
    // the round-12 contract: a literal-sized query batch compiles into
    // one PqAdc pass per query — the n·m posexplode, the codes ⋈ table
    // join and the n·m·q decimal-sum aggregate must be gone
    val emb = Tables.embeddings(spark, sfDir)
    val plan = planOf(Similarity.pqTopK(emb,
      emb.filter(col("vec_id") < 3), 64, 5))
    assert(plan.contains("graft_pq_adc"),
      "serve path must use the compiled ADC kernel:\n" + plan.take(600))
    assert(!plan.contains("posexplode"),
      "the per-(vector, sub) code explode must not materialize")
  }

  test("pagerank round in the broadcast regime never re-shuffles edges") {
    // mirror one iteration of coactivityPagerank's broadcast regime:
    // rank state broadcasts into the round (no sort-merge join, so the
    // checkpointed edge list is never re-sorted or re-exchanged) and the
    // contribution aggregate combines map-side BEFORE its exchange, so
    // the only shuffled bytes are node-sized partial sums
    val events = Tables.events(spark, sfDir)
    val edges = GraphOps.coactivityEdges(events, 64).localCheckpoint()
    val nodes = edges.groupBy("src").agg(count(lit(1)).as("deg"))
      .localCheckpoint()
    val withDeg = edges.join(broadcast(nodes), "src").localCheckpoint()
    val ranks = nodes.select(col("src").as("node"), lit(1000L).as("pr"))
    val incoming = withDeg
      .join(broadcast(ranks), col("src") === col("node"))
      .select(col("dst"), expr("pr div deg").as("c"))
      .groupBy(col("dst")).agg(sum("c").as("inc"))
    val plan = planOf(incoming)
    assert(plan.contains("BroadcastHashJoin"),
      "rank state must broadcast into the per-round join")
    assert(!plan.contains("SortMergeJoin"),
      "a broadcast-regime round must not sort the edge list")
    assert(plan.contains("partial_sum"),
      "contributions must combine map-side before the exchange")
  }

  test("seeded pagerank final assembly joins on the node key only") {
    // the per-iteration aggregates sit behind localCheckpoint lineage
    // cuts; the visible plan is the node ⋈ taint assembly — it must be
    // a keyed join, never a cross product (driverEdgeLimit = 0: the
    // sf0.001 graph would otherwise return a driver-built local frame)
    val df = GraphOps.seededPagerank(Tables.events(spark, sfDir),
      driverEdgeLimit = 0)
    val plan = planOf(df)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "rank assembly must join on the node key")
  }

  test("triangle wedge join and closure probe stay equi-keyed") {
    val df = GraphOps.triangleStats(Tables.events(spark, sfDir))
    val plan = planOf(df)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "wedge/closure must join on edge keys, not cross-filter")
    assert(!plan.contains("WindowExec"),
      "triangle counting is joins + keyed aggregates, no window")
  }

  /** The round-9 verdict's plan-order finding: the hub-degree cap must
    * execute BEFORE the quadratic wedge self-join, or an over-cap hub's
    * deg² fan-out materializes and is then discarded. Pinned on the
    * optimized logical plan: some inner join must carry a LeftSemi
    * (the centers guard) in BOTH child subtrees — the shape only the
    * guard-leads-the-join plan has. */
  private def assertWedgeGuardLeads(
      df: org.apache.spark.sql.DataFrame): Unit = {
    import org.apache.spark.sql.catalyst.plans.logical.{Join => LJoin}
    import org.apache.spark.sql.catalyst.plans.{Inner, LeftSemi}
    val lp = df.queryExecution.optimizedPlan
    def semis(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
      p.collect { case j: LJoin if j.joinType == LeftSemi => j }
    assert(semis(lp).size >= 2,
      "expected a semi-join guard on each wedge leg:\n" + lp.treeString)
    val guarded = lp.collect {
      case j: LJoin if j.joinType == Inner &&
        semis(j.left).nonEmpty && semis(j.right).nonEmpty => j
    }
    assert(guarded.nonEmpty,
      "the degree guard must sit UPSTREAM of the wedge self-join " +
        "on both legs:\n" + lp.treeString)
  }

  test("neighbor similarity: hub-degree guard leads both wedge legs") {
    assertWedgeGuardLeads(
      GraphOps.neighborSimilarity(Tables.events(spark, sfDir)))
  }

  test("triangle stats: hub-degree guard leads both wedge legs") {
    assertWedgeGuardLeads(
      GraphOps.triangleStats(Tables.events(spark, sfDir)))
  }

  test("sandwich detection is one bracket aggregate + one bucket " +
      "equi-join; the only window is the bucket-keyed prefix cap") {
    val df = EventOps.sandwichTrades(Tables.events(spark, sfDir))
    val plan = planOf(df)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "interior-trade match must ride the bucket equi-join")
    // the CapTop default's execution-order prefix is the ONE window in
    // the plan, bucket-partitioned behind a keyed exchange (linear per
    // bucket — NOT a global window). It does not get WindowGroupLimit:
    // the 1024 cap sits above spark.sql.optimizer
    // .windowGroupLimitThreshold (1000), so Spark keeps the plain rank
    // filter; the graph family's cap-16 rank IS group-limited (audited
    // in the capped edge-build test above)
    assert(plan.contains("row_number()") &&
      plan.contains("windowspecdefinition(mb"),
      "prefix cap must be a bucket-partitioned rank window:\n" +
        plan.take(600))
    assert(plan.contains("partial_min") || plan.contains("partial_max"),
      "bracket bounds need map-side partials")
    val dropPlan = planOf(EventOps.sandwichTrades(
      Tables.events(spark, sfDir), policy = GraphOps.DropAll(acknowledgeVacuous = true)))
    assert(!dropPlan.contains("WindowGroupLimit") &&
      !dropPlan.contains(" Window"),
      "the drop policy's bracket build must stay window-free")
  }

  test("bollinger rolling sums run in one type-partitioned window") {
    val df = EventOps.bollingerBreakouts(Tables.events(spark, sfDir))
    val plan = planOf(df)
    assert(plan.contains("windowspecdefinition(event_type"),
      "rolling frame must be partitioned by market")
    assert("windowspecdefinition\\(db[,)]".r.findFirstIn(plan).isEmpty,
      "global (unpartitioned) window crept in")
  }

  // ---- round-5 additions ----

  test("bm25 top-k is TakeOrdered over keyed aggregates, dims broadcast") {
    val df = TextAnalysis.bm25TopK(Tables.documents(spark, sfDir),
      Seq("spark", "window", "merge"))
    val plan = planOf(df)
    assert(plan.contains("TakeOrderedAndProject"),
      "top-k must not be a global sort")
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastNestedLoopJoin"), // 1-row corpus stats
      "df/corpus stats must broadcast into the score join")
    assert(!plan.contains("SortMergeJoin") ||
      plan.contains("BroadcastHashJoin"),
      s"no broadcast anywhere in:\n${plan.take(2000)}")
  }

  test("pmi bigrams: no interpreted higher-order functions, count " +
      "tables broadcast") {
    // the checkpointed count tables hide the upstream tokenize plan, so
    // audit the adjacency fragment the operator is built from directly
    val toks = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        posexplode(split(lower(col("text")), " ")).as(Seq("pos", "token")))
    val adj = toks.withColumn("next",
      lead("token", 1).over(org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy("pos")))
    val adjPlan = planOf(adj)
    assert(!adjPlan.contains("ArrayFilter") &&
      !adjPlan.contains("transform("),
      "per-token lambdas run interpreted — must stay explode+window")
    assert(adjPlan.contains("windowspecdefinition(doc_id"),
      "bigram adjacency must be the doc-partitioned lead window")
    val plan = planOf(TextAnalysis.pmiBigrams(Tables.documents(spark, sfDir)))
    assert(plan.contains("TakeOrderedAndProject"),
      "top-k collocations must not globally sort")
    assert(plan.contains("BroadcastHashJoin"),
      "unigram count maps must broadcast into the score join")
  }

  test("winsorized/MAD rank thresholds broadcast back to the fact scan") {
    for (df <- Seq(EventOps.winsorizedStats(Tables.events(spark, sfDir)),
      EventOps.madOutliers(Tables.events(spark, sfDir)))) {
      val plan = planOf(df)
      assert(plan.contains("BroadcastHashJoin"),
        "type-level thresholds are metadata-sized — must broadcast")
      assert(plan.contains("windowspecdefinition(event_type"),
        "rank windows must be partitioned per type")
    }
  }

  test("cusum windows are type-partitioned; fixed variant needs no " +
      "global pass") {
    val plan = planOf(EventOps.cusumFixed(Tables.events(spark, sfDir)))
    assert(plan.contains("windowspecdefinition(event_type"),
      "prefix/extremum windows must partition per type")
    assert("windowspecdefinition\\(minute[,)]".r.findFirstIn(plan).isEmpty,
      "an unpartitioned minute window crept in")
    assert(!plan.contains("CartesianProduct"))
  }

  test("volatility estimators stay one keyed aggregate over candles") {
    val plan = planOf(EventOps.rangeVolatility(Tables.events(spark, sfDir)))
    // candles (min_by/max_by hash agg) then the day rollup: exactly two
    // aggregate pairs (partial+final each), no window, no join
    assert(!plan.contains("WindowExec"),
      "OHLC must come from min_by/max_by aggregates, not rank windows")
    assert(!plan.contains("SortMergeJoin") &&
      !plan.contains("BroadcastHashJoin"),
      "the candle → day pipeline is aggregate-only")
  }

  test("RFM ranks are pid-windowed behind range exchanges, totals join " +
      "back broadcast in slippage") {
    val rfm = EventOps.walletRfm(Tables.events(spark, sfDir))
    val rfmPlan = planOf(rfm)
    // every rank window must be keyed by the frozen partition id — a
    // global (empty-partition-spec) quintile window would funnel 10⁹
    // wallets through one task
    assert(rfmPlan.contains("windowspecdefinition(pid"),
      "expected pid-keyed rank windows")
    assert(!rfmPlan.contains("windowspecdefinition(last_us") &&
      !rfmPlan.contains("windowspecdefinition(n_events") &&
      !rfmPlan.contains("windowspecdefinition(monetary"),
      "an unpartitioned metric window crept in")
    val slip = EventOps.vwapSlippage(Tables.events(spark, sfDir))
    val slipPlan = planOf(slip)
    // the (type, hour) totals are calendar-bounded — they must come
    // back as a broadcast, never a shuffle of the fill stream
    assert("BroadcastHashJoin|BroadcastExchange".r
      .findAllIn(slipPlan).size >= 1,
      "expected the hourly totals broadcast back to fills")
    assert(slipPlan.contains("partial_sum"),
      "expected map-side partial aggregation of the deviation terms")
  }

  test("round-6 operators keep their scale shapes: user-keyed FIFO " +
    "windows, top-k without a global sort, no explode in readability") {
    val fifo = EventOps.fifoMatches(Tables.events(spark, sfDir))
    val fifoPlan = planOf(fifo)
    // every window/join stage must key on user_id; a single-partition
    // exchange would funnel the whole trade stream through one task
    assert(fifoPlan.contains("hashpartitioning(user_id"),
      "expected user-keyed exchanges")
    assert(!fifoPlan.contains("Exchange SinglePartition"),
      "a global exchange crept into the FIFO pipeline")

    val burst = TextAnalysis.termBurstiness(Tables.documents(spark, sfDir))
    assert(planOf(burst).contains("TakeOrderedAndProject"),
      "top-k must be TakeOrderedAndProject, not a global sort")

    val lix = TextAnalysis.lixReadability(Tables.documents(spark, sfDir))
    val lixPlan = planOf(lix)
    // the three counts are per-row projections: no Generate (explode)
    // may materialize the token array, and the aggregate must combine
    // map-side
    assert(!lixPlan.contains("Generate "), "explode crept into LIX")
    assert(lixPlan.contains("partial_sum") ||
      lixPlan.contains("partial_count"), "expected partial aggregation")

    val di = EventOps.diurnalConcentration(Tables.events(spark, sfDir))
    val diPlan = planOf(di)
    assert(diPlan.contains("partial_sum") || diPlan.contains("partial_count"),
      "expected map-side partials in the (type, hod) count")
    assert(!diPlan.contains("windowspecdefinition"),
      "diurnal concentration must not use windows")
  }

  test("round-11 plan shapes: LPA rank-1 is WindowGroupLimit, msttr " +
      "explodes reps only, template profiles are join-free codegen") {
    // LPA: the per-node majority pick must plan as WindowGroupLimit
    // (map-side top-1 per node) with the label state broadcast — audit
    // one ROUND (the loop truncates lineage between rounds)
    val edges = GraphOps.coactivityEdges(Tables.events(spark, sfDir), 16)
    val labels0 = edges.select(col("src").as("node"))
      .distinct().withColumn("lbl", col("node"))
    val lpaPlan = planOf(GraphOps.lpaRound(edges, labels0, bcast = true))
    assert(lpaPlan.contains("WindowGroupLimit"),
      "LPA majority pick must pre-filter map-side:\n" + lpaPlan.take(400))
    assert(lpaPlan.contains("BroadcastHashJoin"),
      "node-sized label state must broadcast against the edge list")
    assert(!lpaPlan.contains("CartesianProduct") &&
      !lpaPlan.contains("BroadcastNestedLoopJoin"))

    // msttr: the token explode must be fed by the rep aggregate (one
    // explode per DISTINCT text), and the segment distinct must expand
    // BEFORE the final source rollup (partial aggregation throughout)
    val ms = TextAnalysis.msttr(Tables.documents(spark, sfDir))
    val msPlan = planOf(ms)
    val genIdx = msPlan.indexOf("Generate posexplode")
    assert(genIdx >= 0, "msttr must posexplode the normalized split")
    assert(msPlan.substring(genIdx).contains("min(text#"),
      "the explode must sit ABOVE the rep collapse (min(text) per " +
        "hash), so token cost is per distinct text:\n" + msPlan.take(600))

    // template collisions: two keyed aggregates, no joins, no windows,
    // no higher-order lambdas (conditional sums are codegen)
    val tc = EventOps.templateCollisions(Tables.events(spark, sfDir))
    val tcPlan = planOf(tc)
    assert(!tcPlan.contains("Join"), "template screen must be join-free")
    assert(!tcPlan.contains("windowspecdefinition"))
    assert(tcPlan.contains("partial_sum") || tcPlan.contains("partial_count"),
      "expected map-side partials in the wallet profile build")

    // doremi: the two metadata-sized sides (source totals, corpus
    // totals) must broadcast — the only shuffles are token-keyed
    val dw = TextAnalysis.doremiLiteWeights(Tables.documents(spark, sfDir))
    val dwPlan = planOf(dw)
    assert(dwPlan.contains("BroadcastHashJoin") ||
      dwPlan.contains("BroadcastExchange"),
      "source/corpus totals must broadcast")
    assert(!dwPlan.contains("CartesianProduct") &&
      !dwPlan.contains("SortMergeJoin"),
      "no corpus-sized sort-merge join belongs in the weight build:\n" +
        dwPlan.take(600))
  }
}
