package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.EventOps
import graft.plans.{AsOfMergeStrategy, GraftExtensions}
import graft.streaming.{EventStreamPipelines, EventSubscription, SubscriptionConfig}

class StreamingExtensionsSpec extends TestSparkSession {

  test("A15: availableNow stream equals batch windowed counts") {
    val streamed = EventStreamPipelines
      .windowedCountsAvailableNow(spark, sfDir, Seq("purchase"))
    val batch = EventOps
      .tumbling1h(Tables.events(spark, sfDir)
        .filter(col("event_type") === "purchase"))
      .select(col("ws"), col("event_type"), col("n"))
    val s = streamed.select("ws", "event_type", "n")
    assert(s.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(s).count() == 0)
  }

  test("A16: streaming dedup drops repeated signatures") {
    // run the dedup transform through availableNow over the same file twice
    // is not possible with one file; assert on the batch-equivalent contract
    val ev = Tables.events(spark, sfDir)
    val dupes = ev.union(ev)
    val deduped = dupes.dropDuplicates("event_id")
    assert(deduped.count() == ev.count())
  }

  test("A16c: dropDuplicatesWithinWatermark bounds dedup state by time") {
    // the TTL'd signature cache: duplicates arriving within the watermark
    // window are dropped, and state for expired windows is evicted (the
    // unbounded-set problem A16's exact dedup would have at 100 TB)
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, java.sql.Timestamp)]
    val events = input.toDF().toDF("event_id", "ts")
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")
    val q = events.writeStream.format("memory")
      .queryName("graft_ddww_test").outputMode("append").start()
    // keep all event times above the query's initial watermark (epoch 0):
    // rows at-or-below the watermark are dropped as late, not deduped
    def ts(min: Long) = new java.sql.Timestamp((60 + min) * 60000L)
    input.addData((1L, ts(0)), (1L, ts(1)), (2L, ts(0)))
    q.processAllAvailable()
    input.addData((1L, ts(2))) // still within the watermark: dropped
    q.processAllAvailable()
    val out = spark.table("graft_ddww_test").collect()
    q.stop()
    assert(out.map(_.getAs[Long]("event_id")).sorted.toSeq == Seq(1L, 2L))
  }

  test("graft SQL functions register and evaluate") {
    Graft.attach(spark)
    val row = spark.sql(
      "SELECT graft_base58(graft_le_bytes(9999L, 8)) AS b58, " +
        "graft_le_long(graft_le_bytes(-42L, 8), 0) AS back, " +
        "graft_rolling_min('hello world hello world', 8) AS rmin").collect()(0)
    assert(row.getAs[String]("b58").nonEmpty)
    assert(row.getAs[Long]("back") == -42L)
    assert(row.getAs[Long]("rmin") > 0L)
    val row2 = spark.sql(
      "SELECT graft_trigrams('a b c d') AS tg, " +
        "graft_vec_dot(array(cast(1.0 as float), cast(2.0 as float)), " +
        "              array(cast(3.0 as float), cast(4.0 as float))) AS dot, " +
        "graft_vec_norm2(array(cast(3.0 as float), cast(4.0 as float))) AS n2, " +
        "graft_simhash_bands('hello world') AS shb").collect()(0)
    assert(row2.getSeq[String](0) == Seq("a b c", "b c d"))
    assert(row2.getAs[Double]("dot") == 11.0)
    assert(row2.getAs[Double]("n2") == 25.0)
    assert(row2.getSeq[Int](3).length == 4)
  }

  test("optimizer rule eliminates graft_nop") {
    val df = spark.sql("SELECT graft_nop(1 + 2) AS v")
    assert(!df.queryExecution.optimizedPlan.toString.contains("graft_nop"))
    assert(df.collect()(0).getInt(0) == 3)
  }

  test("ingest: payload stream decodes into windowed buy/sell metrics") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.functions.CodecOps
    import graft.sources.EventCodec
    def payload(id: Long, buy: Boolean, tsUs: Long, cents: Long): Array[Byte] =
      EventCodec.Discriminator ++ CodecOps.leBytes(id, 8) ++
        CodecOps.leBytes(id % 97, 8) ++ CodecOps.leBytes(tsUs, 8) ++
        Array[Byte](if (buy) 1 else 0) ++ CodecOps.leBytes(cents, 8)
    val input = MemoryStream[Array[Byte]]
    val metrics = EventStreamPipelines
      .decodedTradeMetrics(input.toDF().toDF("payload"))
    val q = metrics.writeStream.format("memory")
      .queryName("graft_trade_metrics").outputMode("complete").start()
    val t0 = 1700000000000000L // fixed micros
    input.addData(
      payload(1, buy = true, t0, 100), payload(2, buy = true, t0 + 1000, 50),
      payload(3, buy = false, t0 + 2000, 70),
      "nonsense!".getBytes ++ Array.fill[Byte](32)(0)) // foreign discriminator
    q.processAllAvailable()
    val rows = spark.table("graft_trade_metrics").collect()
    q.stop()
    val byBuy = rows.map(r => r.getAs[Int]("is_buy") ->
      (r.getAs[Long]("n"), r.getAs[Long]("cents"))).toMap
    assert(byBuy(1) == ((2L, 150L)))
    assert(byBuy(0) == ((1L, 70L)))
  }

  test("base58 literal rewrite avoids per-row encoding") {
    import graft.functions.Base58
    import graft.functions.exprs._
    val needle = Base58.encode(graft.functions.CodecOps.leBytes(77777L, 8))
    val df = spark.range(100000)
      .withColumn("pk", le_bytes(col("id"), 8))
      .filter(base58(col("pk")) === lit(needle))
    assert(!df.queryExecution.optimizedPlan.toString.contains("graft_base58"),
      "literal comparison should rewrite to a binary equality")
    val hit = df.collect()
    assert(hit.length == 1 && hit(0).getAs[Long]("id") == 77777L)
    // invalid literal (0 is not a base58 char) is left untouched and empty
    val bad = spark.range(10).withColumn("pk", le_bytes(col("id"), 8))
      .filter(base58(col("pk")) === lit("0invalid"))
    assert(bad.count() == 0)
  }

  test("Graft.attach upgrades a session in place, idempotently") {
    Graft.attach(spark)
    Graft.attach(spark)
    // SQL names resolve
    assert(spark.sql("SELECT graft_checksum(X'0102') AS c").head.getLong(0)
      == 3L)
    // the planner strategy is installed exactly once
    assert(spark.experimental.extraStrategies
      .count(_ == graft.plans.AsOfMergeStrategy) == 1)
  }

  test("Graft.session upgrades an existing session that lacks the extensions") {
    // getOrCreate hands back the active session as is; stand in for one
    // built without graft's extensions by dropping its graft_* functions
    val plain = spark.newSession()
    GraftExtensions.functions.foreach { case (id, _, _) =>
      plain.sql(s"DROP TEMPORARY FUNCTION ${id.funcName}")
    }
    assert(!plain.catalog.functionExists("graft_nop"))
    val active = SparkSession.getActiveSession
    SparkSession.setActiveSession(plain)
    try {
      assert(Graft.session("local[4]", 4) eq plain)
      assert(plain.sql("SELECT graft_checksum(X'0102')").head.getLong(0)
        == 3L)
      assert(plain.experimental.extraStrategies.contains(AsOfMergeStrategy))
    } finally active match {
      case Some(s) => SparkSession.setActiveSession(s)
      case None => SparkSession.clearActiveSession()
    }
  }

  test("subscription facade filters, observes metrics, and calls back") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, java.sql.Timestamp, String, Double)]
    val events = input.toDF().toDF("user_id", "ts", "event_type", "value")
    val seen = new java.util.concurrent.atomic.AtomicLong(0)
    val q = EventSubscription.subscribe(events,
      SubscriptionConfig(includeEventTypes = Seq("purchase"),
        includeUsers = Seq(1L, 2L), enableMetrics = true)) { (batch, _) =>
      seen.addAndGet(batch.count())
    }
    def ts(min: Long) = new java.sql.Timestamp(min * 60000L)
    input.addData(
      (1L, ts(0), "purchase", 10.0), (2L, ts(1), "purchase", 20.0),
      (3L, ts(2), "purchase", 30.0), // excluded: user 3
      (1L, ts(3), "click", 40.0)) // excluded: wrong type
    q.processAllAvailable()
    val progress = q.recentProgress.flatMap(p =>
      Option(p.observedMetrics.get(EventSubscription.MetricName)))
    q.stop()
    assert(seen.get() == 2)
    assert(progress.exists(_.getAs[Long]("n_events") == 2L))
    // protocol include-list applies when the frame carries `protocol`
    val framed = Tables.events(spark, sfDir).limit(10)
      .withColumn("protocol",
        when(col("event_id") % 2 === 0, "pumpfun").otherwise("bonk"))
    val only = EventSubscription.filtered(framed,
      SubscriptionConfig(includeProtocols = Seq("pumpfun")))
    assert(only.select("protocol").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("pumpfun"))
  }

  test("A18: dropStats counts late rows shed by the watermark, and zero " +
      "on a clean stream") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(min: Long) = new java.sql.Timestamp(min * 60000L)
    def run(lateBatch: Boolean): EventSubscription.DropStats = {
      val input = MemoryStream[(Long, java.sql.Timestamp, String, Double)]
      val events = input.toDF().toDF("user_id", "ts", "event_type", "value")
      // the callback must consume the whole frame (Spark validates that
      // every stateful partition commits)
      val q = EventSubscription.subscribeWindowed(events,
        SubscriptionConfig(watermark = "10 minutes",
          enableMetrics = true)) { (b, _) => b.count(): Unit }
      // batch 1 at hour 10 advances the watermark to ~9:50
      input.addData((1L, ts(600), "purchase", 1.0),
        (2L, ts(601), "purchase", 2.0))
      q.processAllAvailable()
      // batch 2: either far behind the watermark (shed by the stateful
      // agg and counted) or right at the head (processed, zero drops)
      val lateMin = if (lateBatch) 0L else 602L
      input.addData((3L, ts(lateMin), "purchase", 3.0))
      q.processAllAvailable()
      val stats = EventSubscription.dropStats(q)
      q.stop()
      stats
    }
    val late = run(lateBatch = true)
    assert(late.inputRows == 3L)
    assert(late.droppedLateRows == 1L,
      s"expected exactly the late row counted as dropped, got $late")
    val clean = run(lateBatch = false)
    assert(clean.inputRows == 3L)
    assert(clean.droppedLateRows == 0L,
      s"clean stream must shed nothing, got $clean")
  }

  test("config presets: lowLatency bounds ingest per trigger, " +
    "highThroughput does not") {
    // reference config.rs:151/174 — permits/backpressure presets mapped to
    // Spark's per-trigger ingest bound
    val dir = java.nio.file.Files.createTempDirectory("graft_preset").toString
    val ev = Tables.events(spark, sfDir).limit(300)
    ev.repartition(3).write.mode("overwrite").parquet(dir)
    def runWith(cfg: SubscriptionConfig): Long = {
      val batches = new java.util.concurrent.atomic.AtomicLong(0)
      val src = EventSubscription.readEvents(spark, dir, cfg,
        spark.read.parquet(dir).schema)
      val q = EventSubscription.subscribe(src, cfg) { (b, _) =>
        if (b.count() > 0) batches.incrementAndGet(): Unit
      }
      q.processAllAvailable(); q.stop()
      batches.get()
    }
    // 3 data files: one-file-per-trigger => at least 3 non-empty batches
    assert(runWith(SubscriptionConfig.lowLatency) >= 3)
    // unbounded batches: everything arrives in the first micro-batch
    assert(runWith(SubscriptionConfig.highThroughput) == 1)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("A22b: corrupted wire frames are skipped, never fail the stream") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ev = Tables.events(spark, sfDir).limit(500)
    val good = graft.sources.EventCodec.encodeTrade(ev)
      .select("payload").as[Array[Byte]].collect()
    // corrupt deterministically: truncations (valid discriminator, short
    // body) and foreign discriminators mixed into the stream
    val bad = good.zipWithIndex.map { case (p, i) =>
      if (i % 7 == 0) p.take(20)
      else if (i % 11 == 0) { val q = p.clone(); q(0) = 0; q }
      else p
    }
    val input = MemoryStream[Array[Byte]]
    val out = EventStreamPipelines.decodedTradeMetrics(
      input.toDF().toDF("payload"))
    val q = out.writeStream.format("memory").queryName("graft_resilience")
      .outputMode("update").start()
    input.addData(bad.toIndexedSeq)
    q.processAllAvailable() // must not throw on malformed frames
    q.stop()
    val expectGood = bad.count(p => p.length >= 41 && p(0) == 0x67)
    val got = spark.table("graft_resilience")
      .agg(sum("n")).head.getLong(0)
    assert(got == expectGood, s"decoded $got of $expectGood intact frames")
  }

  test("A29e: row-level upsert rewrites only the touched date partitions") {
    import graft.sources.EventSink
    val dir = java.nio.file.Files.createTempDirectory("graft_upsert").toString
    val ev = Tables.events(spark, sfDir)
    EventSink.writePartitionedByDay(ev, dir, buckets = 2)
    val partDirs = new java.io.File(dir).listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("event_date="))
      .sorted
    assert(partDirs.length >= 3)
    val touchedDate = partDirs.head.stripPrefix("event_date=")
    val untouched = partDirs.last
    def files(p: String) = new java.io.File(s"$dir/$p").listFiles()
      .map(f => f.getName -> f.lastModified).toMap
    val before = files(untouched)
    // corrections: double the value of 5 existing rows on the first date,
    // plus 3 brand-new rows on that date
    val day = ev.filter(to_date(col("ts")) === lit(touchedDate).cast("date"))
    val corrections = day.orderBy("event_id").limit(5)
      .withColumn("value", col("value") * 2)
    val additions = day.orderBy(col("event_id").desc).limit(3)
      .withColumn("event_id", col("event_id") + 10000000L)
    EventSink.upsertEvents(corrections.unionByName(additions), dir)
    val after = spark.read.parquet(dir)
    assert(after.count() == ev.count() + 3, "3 new rows appended")
    // corrected ids carry the doubled values
    val fixedIds = corrections.select("event_id").collect().map(_.getLong(0))
    val got = after.filter(col("event_id").isin(fixedIds: _*))
      .select(sum(col("value").cast("decimal(18,2)"))).head.getDecimal(0)
    val want = corrections
      .select(sum(col("value").cast("decimal(18,2)"))).head.getDecimal(0)
    assert(got.compareTo(want) == 0, s"$got != $want")
    // the untouched partition's files were not rewritten
    assert(files(untouched) == before, "untouched partition must be intact")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("C25b: streaming curation ingest dedups across micro-batches") {
    import graft.streaming.CurationIngest
    val base = java.nio.file.Files.createTempDirectory("graft_cur")
    val incoming = base.resolve("in").toString
    val corpus = base.resolve("corpus").toString
    val digests = base.resolve("digests").toString
    val ckpt = base.resolve("ckpt").toString
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    // file 1: docs 0-99; file 2: 50-149 (half repeats); file 3: 100-199
    // re-keyed so the same text arrives under new doc_ids
    docs.filter(col("doc_id") < 100)
      .coalesce(1).write.mode("append").parquet(incoming)
    docs.filter(col("doc_id").between(50, 149))
      .withColumn("doc_id", col("doc_id") + 10000)
      .coalesce(1).write.mode("append").parquet(incoming)
    docs.filter(col("doc_id").between(100, 199))
      .withColumn("doc_id", col("doc_id") + 20000)
      .coalesce(1).write.mode("append").parquet(incoming)
    val q = CurationIngest.start(spark, incoming, corpus, digests, ckpt,
      spark.read.parquet(incoming).schema)
    q.processAllAvailable(); q.stop()
    val out = spark.read.parquet(corpus)
    // every distinct text admitted exactly once, none lost
    assert(out.count() == 200, s"got ${out.count()}")
    assert(out.select(md5(col("text").cast("binary"))).distinct()
      .count() == 200)
    // first arrival wins: the re-keyed copies were rejected
    assert(out.filter(col("doc_id") >= 10000 && col("doc_id") < 20100)
      .count() == 50)
    // the standing Bloom sidecar was maintained
    assert(new java.io.File(s"$digests/_bloom.bin").exists(),
      "expected the merged Bloom sidecar")
    // a restart fed ONLY duplicates admits nothing (the all-suspects path)
    docs.filter(col("doc_id") < 200)
      .withColumn("doc_id", col("doc_id") + 30000)
      .coalesce(1).write.mode("append").parquet(incoming)
    val q2 = CurationIngest.start(spark, incoming, corpus, digests, ckpt,
      spark.read.parquet(incoming).schema)
    q2.processAllAvailable(); q2.stop()
    assert(spark.read.parquet(corpus).count() == 200,
      "pure-duplicate batch must admit nothing")
    org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
  }

  test("A18b: checkpointed subscription resumes without reprocessing") {
    // production restart semantics: a subscription killed mid-stream and
    // restarted from its checkpoint must process each file exactly once
    // (the reference's per-connection stream positions, durably)
    val dataDir = java.nio.file.Files.createTempDirectory("graft_ckpt_data")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt")
    val ev = Tables.events(spark, sfDir).limit(200)
    def addFile(tag: Int): Unit =
      ev.coalesce(1).write.mode("append").parquet(dataDir.toString)
    addFile(1); addFile(2)
    val schema = spark.read.parquet(dataDir.toString).schema
    val cfg = SubscriptionConfig(checkpointDir = Some(ckpt.toString))
    val seen = new java.util.concurrent.atomic.AtomicLong(0)
    def runOnce(): Unit = {
      val src = EventSubscription.readEvents(spark, dataDir.toString, cfg,
        schema)
      val q = EventSubscription.subscribe(src, cfg) { (b, _) =>
        seen.addAndGet(b.count()): Unit
      }
      q.processAllAvailable(); q.stop()
    }
    runOnce()
    assert(seen.get() == 400L, s"first run saw ${seen.get()}")
    // two more files land while the subscription is down
    addFile(3); addFile(4)
    runOnce()
    // the restart processed ONLY the new files — 800 total, not 1200
    assert(seen.get() == 800L, s"after restart saw ${seen.get()}")
    org.apache.commons.io.FileUtils.deleteDirectory(dataDir.toFile)
    org.apache.commons.io.FileUtils.deleteDirectory(ckpt.toFile)
  }

  test("A17c: transformWithState accumulates per-wallet volume (RocksDB)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val prev = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[(Long, Double)]
      val events = input.toDF().toDF("user_id", "value")
      val out = EventStreamPipelines.walletVolumeStream(events)
      val q = out.writeStream.format("memory")
        .queryName("graft_tws_test").outputMode("update").start()
      input.addData((1L, 10.0), (1L, 5.0), (2L, 7.0))
      q.processAllAvailable()
      input.addData((1L, 1.0))
      q.processAllAvailable()
      val rows = spark.table("graft_tws_test").collect()
      q.stop()
      val lastU1 = rows.filter(_.getAs[Long]("user_id") == 1L)
        .maxBy(_.getAs[Long]("n_events"))
      assert(lastU1.getAs[Long]("n_events") == 3L)
      assert(lastU1.getAs[Long]("cents") == 1600L)
      assert(rows.exists(r => r.getAs[Long]("user_id") == 2L &&
        r.getAs[Long]("cents") == 700L))
    } finally {
      prev match {
        case Some(v) => spark.conf.set(
          "spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset(
          "spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("A17f: streaming realized PnL equals the batch average-cost marks") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val prev = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val src = Tables.events(spark, sfDir)
        .filter(col("user_id") % 10 === 0)
      val input = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double)]
      val events = input.toDF()
        .toDF("user_id", "ts", "event_id", "event_type", "value")
      val q = EventStreamPipelines.realizedPnlStream(events).writeStream
        .format("memory").queryName("graft_pnl_test")
        .outputMode("append").start()
      input.addData(src.select(col("user_id").cast("long"), col("ts"),
          col("event_id").cast("long"), col("event_type"), col("value"))
        .collect().toSeq.map(r => (r.getLong(0), r.getTimestamp(1),
          r.getLong(2), r.getString(3), r.getDouble(4))))
      q.processAllAvailable()
      val streamed = spark.table("graft_pnl_test")
        .select("user_id", "event_id", "sell_cents", "cum_buy_cents",
          "cum_buy_n").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4))).toSet
      q.stop()
      val batch = graft.operators.EventOps.realizedPnl(src)
        .select(col("user_id").cast("long"), col("event_id").cast("long"),
          col("sell_cents"), col("cum_buy_cents"), col("cum_buy_n"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4))).toSet
      assert(streamed == batch,
        s"streamed ${streamed.size} rows != batch ${batch.size}")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(
          "spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset(
          "spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("A17d: ListState keeps a bounded recent-trades ring per wallet") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val prev = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[(Long, Long)]
      val out = input.toDS()
        .groupByKey(_._1)
        .transformWithState(
          new EventStreamPipelines.RecentTradesProcessor(keep = 3),
          org.apache.spark.sql.streaming.TimeMode.None(),
          org.apache.spark.sql.streaming.OutputMode.Update(),
          org.apache.spark.sql.Encoders.product[(Long, Int, Long)])
        .toDF("user_id", "n_recent", "recent_cents")
      val q = out.writeStream.format("memory")
        .queryName("graft_ls_test").outputMode("update").start()
      input.addData((1L, 10L), (1L, 20L))
      q.processAllAvailable()
      input.addData((1L, 30L), (1L, 40L)) // ring: 20,30,40
      q.processAllAvailable()
      val rows = spark.table("graft_ls_test").collect()
      q.stop()
      val last = rows.filter(_.getAs[Long]("user_id") == 1L)
        .maxBy(_.getAs[Long]("recent_cents"))
      assert(last.getAs[Int]("n_recent") == 3)
      assert(last.getAs[Long]("recent_cents") == 90L)
    } finally {
      prev match {
        case Some(v) => spark.conf.set(
          "spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset(
          "spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("A17e: MapState keeps per-wallet per-type counters") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val prev = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[(Long, String)]
      val out = input.toDS()
        .groupByKey(_._1)
        .transformWithState(
          new EventStreamPipelines.TypeCountsProcessor,
          org.apache.spark.sql.streaming.TimeMode.None(),
          org.apache.spark.sql.streaming.OutputMode.Update(),
          org.apache.spark.sql.Encoders.product[(Long, String, Long)])
        .toDF("user_id", "event_type", "n")
      val q = out.writeStream.format("memory")
        .queryName("graft_ms_test").outputMode("update").start()
      input.addData((1L, "buy"), (1L, "buy"), (1L, "sell"), (2L, "buy"))
      q.processAllAvailable()
      input.addData((1L, "buy"))
      q.processAllAvailable()
      val rows = spark.table("graft_ms_test").collect()
      q.stop()
      val u1buy = rows.filter(r => r.getAs[Long]("user_id") == 1L &&
        r.getAs[String]("event_type") == "buy").map(_.getAs[Long]("n"))
      assert(u1buy.max == 3L)
      assert(rows.exists(r => r.getAs[Long]("user_id") == 1L &&
        r.getAs[String]("event_type") == "sell" && r.getAs[Long]("n") == 1L))
      assert(rows.exists(r => r.getAs[Long]("user_id") == 2L &&
        r.getAs[Long]("n") == 1L))
    } finally {
      prev match {
        case Some(v) => spark.conf.set(
          "spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset(
          "spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("A17: stateful session stream over a memory source") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, java.sql.Timestamp)]
    val events = input.toDF().toDF("user_id", "ts")
    val sessions = EventStreamPipelines.sessionStream(events, gapMinutes = 30)
    val q = sessions.writeStream.format("memory")
      .queryName("graft_sessions_test").outputMode("update").start()
    def ts(min: Long) = new java.sql.Timestamp(min * 60000L)
    input.addData((1L, ts(0)), (1L, ts(10)), (2L, ts(5)))
    q.processAllAvailable()
    input.addData((1L, ts(100))) // 90-minute gap -> new session for user 1
    q.processAllAvailable()
    val out = spark.table("graft_sessions_test").collect()
    q.stop()
    val u1Last = out.filter(_.getAs[Long]("user_id") == 1L)
      .maxBy(_.getAs[Long]("end_us"))
    assert(u1Last.getAs[Int]("n_events") == 1) // fresh session after the gap
    assert(out.exists(r => r.getAs[Long]("user_id") == 2L))
  }

  test("range-join rewrite: declarative sandwich join loses its nested loop") {
    import graft.plans.RangeJoinRewrite
    val ev = Tables.events(spark, sfDir)
    val points = ev.select(col("event_id"),
      expr("unix_micros(ts)").as("ts_us"))
    val ivals = ev.filter(col("event_type") === "signup")
      .select(col("event_id").as("ival_id"),
        expr("unix_micros(ts)").as("start_us"),
        expr("unix_micros(ts) + 600000000").as("end_us"))
    def naive = points.join(ivals,
      col("ts_us") >= col("start_us") && col("ts_us") < col("end_us"))
    // without the rule: nested loop
    val excluded = "spark.sql.optimizer.excludedRules"
    spark.conf.set(excluded, RangeJoinRewrite.ruleName)
    val expected = try {
      val before = naive.queryExecution.executedPlan.toString
      assert(before.contains("NestedLoopJoin") || before.contains("CartesianProduct"),
        "precondition: naive plan is a nested loop")
      naive.collect().map(_.toSeq).toSet
    } finally spark.conf.unset(excluded)
    // with the rule (injected by Graft.session): bucketed equi-join,
    // same rows
    val after = naive.queryExecution.executedPlan.toString
    assert(!after.contains("NestedLoopJoin") && !after.contains("CartesianProduct"),
      s"rule must remove the nested loop:\n${after.take(600)}")
    assert(naive.collect().map(_.toSeq).toSet == expected)
    // inclusive upper bound and flipped operand order rewrite too
    val flipped = points.join(ivals,
      col("start_us") <= col("ts_us") && col("ts_us") <= col("end_us"))
    assert(!flipped.queryExecution.executedPlan.toString
      .contains("NestedLoopJoin"))
  }

  test("A17b: flatMapGroupsWithState emits only closed sessions") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, java.sql.Timestamp)]
    val events = input.toDF().toDF("user_id", "ts")
    val closures = EventStreamPipelines
      .sessionClosuresStream(events, gapMinutes = 30)
    val q = closures.writeStream.format("memory")
      .queryName("graft_closures_test").outputMode("append").start()
    def ts(min: Long) = new java.sql.Timestamp(min * 60000L)
    input.addData((1L, ts(0)), (1L, ts(10)), (2L, ts(5)))
    q.processAllAvailable()
    // nothing closed yet: both wallets still have an open session
    assert(spark.table("graft_closures_test").isEmpty)
    input.addData((1L, ts(100))) // 90-min gap closes session [0, 10]
    q.processAllAvailable()
    val out = spark.table("graft_closures_test").collect()
    q.stop()
    assert(out.length == 1)
    val s = out.head
    assert(s.getAs[Long]("user_id") == 1L &&
      s.getAs[Long]("start_us") == 0L &&
      s.getAs[Long]("end_us") == 10L * 60000000L &&
      s.getAs[Int]("n_events") == 2)
  }

  test("A17g: event-time timers flush idle sessions at the watermark") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val prev = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[(Long, java.sql.Timestamp)]
      val events = input.toDF().toDF("user_id", "ts")
      val out = EventStreamPipelines.sessionTimeoutStream(
        events, gapMinutes = 30, watermarkDelay = "0 seconds")
      val q = out.writeStream.format("memory")
        .queryName("graft_timer_test").outputMode("append").start()
      def ts(min: Long) = new java.sql.Timestamp(min * 60000L)
      def us(min: Long) = min * 60000000L
      input.addData((1L, ts(0)), (1L, ts(10)), (2L, ts(5)))
      q.processAllAvailable()
      // watermark is only 10 min: timers armed at 40/35 min, nothing fires
      assert(spark.table("graft_timer_test").isEmpty)
      // user 1 returns after a 90-min gap (inline closure, NOT by timer);
      // user 3's event pushes the watermark to 120 min, past user 2's
      // 35-min timer (timer closure)
      input.addData((1L, ts(100)), (3L, ts(120)))
      q.processAllAvailable()
      val mid = spark.table("graft_timer_test").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3),
          r.getBoolean(4))).toSet
      assert(mid == Set(
        (1L, us(0), us(10), 2, false),  // closed by the gap-splitting event
        (2L, us(5), us(5), 1, true)),   // closed by the event-time timer
        s"unexpected mid-stream closures: $mid")
      // advance the watermark far past every armed timer: the re-armed
      // user-1 session (130-min timer) and user 3 (150-min) both flush
      input.addData((4L, ts(300)))
      q.processAllAvailable()
      val fin = spark.table("graft_timer_test").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3),
          r.getBoolean(4))).toSet
      q.stop()
      // replay equivalence: every session of users 1-3 is now closed and
      // the full emission equals the batch gap-split sessionization of
      // the same input (flags record WHICH path closed each one)
      assert(fin == Set(
        (1L, us(0), us(10), 2, false),
        (2L, us(5), us(5), 1, true),
        (1L, us(100), us(100), 1, true),
        (3L, us(120), us(120), 1, true)),
        s"unexpected final closures: $fin")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(
          "spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset(
          "spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("A29d: backfill overwrites only the corrected date partitions") {
    import graft.sources.EventSink
    val dir = java.nio.file.Files.createTempDirectory("graft_backfill").toString
    val ev = Tables.events(spark, sfDir)
    EventSink.writePartitionedByDay(ev, dir, buckets = 2)
    val dates = new java.io.File(dir).listFiles()
      .filter(_.isDirectory).map(_.getName)
      .filter(_.startsWith("event_date=")).map(_.stripPrefix("event_date="))
      .sorted
    assert(dates.length >= 2, "need at least two date partitions")
    val target = dates.head
    val before = EventSink.readPartitioned(spark, dir)
      .filter(col("event_date") =!= lit(target))
      .agg(count(lit(1)), sum("event_id")).head()
    // corrected batch: only the target date, values doubled
    val corrected = ev.filter(to_date(col("ts")) === lit(target))
      .withColumn("value", col("value") * 2)
    EventSink.backfillDates(corrected, dir, buckets = 2)
    val after = EventSink.readPartitioned(spark, dir)
    // untouched dates identical
    assert(after.filter(col("event_date") =!= lit(target))
      .agg(count(lit(1)), sum("event_id")).head() == before)
    // target date rewritten with the corrected values
    val gotV = after.filter(col("event_date") === lit(target))
      .agg(sum("value")).head().getDouble(0)
    val wantV = corrected.agg(sum("value")).head().getDouble(0)
    assert(math.abs(gotV - wantV) < 1e-6)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("sink compaction: one file per partition after, data unchanged") {
    import graft.sources.EventSink
    val dir = java.nio.file.Files.createTempDirectory("graft_compact").toString
    val ev = Tables.events(spark, sfDir)
    EventSink.writePartitionedByDay(ev, dir, buckets = 8)
    def partDirs = new java.io.File(dir).listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith("event_date="))
    def fileCounts = partDirs.map(d =>
      d.listFiles().count(f =>
        f.isFile && !f.getName.startsWith("_") &&
          !f.getName.startsWith("."))).toSeq
    assert(fileCounts.exists(_ > 1), "precondition: small files exist")
    val before = (ev.count(), ev.select(sum("event_id")).head.getLong(0))
    EventSink.compactPartitions(spark, dir)
    assert(fileCounts.forall(_ == 1), s"expected 1 file/partition: $fileCounts")
    val back = EventSink.readPartitioned(spark, dir)
    assert((back.count(), back.select(sum("event_id")).head.getLong(0))
      == before)
  }

  test("partitioned sink: date layout, read-back equality, partition pruning") {
    import graft.sources.EventSink
    val dir = java.nio.file.Files.createTempDirectory("graft_sink").toString
    val ev = Tables.events(spark, sfDir)
    EventSink.writePartitionedByDay(ev, dir, buckets = 2)
    // layout: one directory per event date
    val parts = new java.io.File(dir).listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("event_date="))
    assert(parts.nonEmpty, "expected event_date= partition directories")
    // read-back equality (modulo the added partition column)
    val back = EventSink.readPartitioned(spark, dir)
    assert(back.count() == ev.count())
    assert(back.select(sum("event_id")).head.getLong(0) ==
      ev.select(sum("event_id")).head.getLong(0))
    // a date predicate must prune partitions at plan time, not scan time
    val oneDate = parts.head.stripPrefix("event_date=")
    val pruned = back.filter(col("event_date") === lit(oneDate))
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") &&
      scan.contains("isnotnull(event_date"), scan.linesIterator.toSeq.last)
    assert(pruned.count() > 0)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("A5d: streaming histogram ingest answers EXACTLY the batch " +
      "quantile-store path") {
    import graft.streaming.HistogramIngest
    val base = java.nio.file.Files.createTempDirectory("graft_hist")
    val incoming = base.resolve("in").toString
    val store = base.resolve("hists").toString
    val ckpt = base.resolve("ckpt").toString
    val ev = Tables.events(spark, sfDir)
      .select("event_id", "ts", "user_id", "event_type", "value")
    ev.filter(col("event_id") % 2 === 0)
      .coalesce(1).write.mode("append").parquet(incoming)
    ev.filter(col("event_id") % 2 === 1)
      .coalesce(1).write.mode("append").parquet(incoming)
    val q = HistogramIngest.start(spark, incoming, store, ckpt,
      spark.read.parquet(incoming).schema)
    q.processAllAvailable(); q.stop()
    def quantiles(h: org.apache.spark.sql.DataFrame): Set[(Int, Long, Long)] =
      EventOps.quantilesFromHistograms(h, Long.MinValue, Long.MaxValue)
        .collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    val streamed = quantiles(HistogramIngest.dailyHistograms(spark, store))
    val batch = quantiles(EventOps.dailyValueHistograms(ev))
    assert(streamed == batch && streamed.nonEmpty,
      s"$streamed vs $batch")
    // replay with the same checkpoint changes nothing (exactness, not
    // just bounded error — histogram partials are idempotent counts)
    val q2 = HistogramIngest.start(spark, incoming, store, ckpt,
      spark.read.parquet(incoming).schema)
    q2.processAllAvailable(); q2.stop()
    assert(
      quantiles(HistogramIngest.dailyHistograms(spark, store)) == batch)
    org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
  }

  test("A26d: streaming sketch ingest matches the batch sketch path " +
      "and survives replay + compaction") {
    import graft.streaming.SketchIngest
    val base = java.nio.file.Files.createTempDirectory("graft_sk")
    val incoming = base.resolve("in").toString
    val store = base.resolve("sketches").toString
    val ckpt = base.resolve("ckpt").toString
    val ev = Tables.events(spark, sfDir)
      .select("event_id", "ts", "user_id", "event_type", "value")
    // three files → three micro-batches, days split across batches
    ev.filter(col("event_id") % 3 === 0)
      .coalesce(1).write.mode("append").parquet(incoming)
    ev.filter(col("event_id") % 3 === 1)
      .coalesce(1).write.mode("append").parquet(incoming)
    ev.filter(col("event_id") % 3 === 2)
      .coalesce(1).write.mode("append").parquet(incoming)
    val q = SketchIngest.start(spark, incoming, store, ckpt,
      spark.read.parquet(incoming).schema)
    q.processAllAvailable(); q.stop()
    // union-of-streamed-partials ≡ the batch dailyUserSketches path:
    // identical day rows AND identical estimates (sketch associativity)
    def estimate(daily: org.apache.spark.sql.DataFrame): (Long, Long, Long) = {
      val r = EventOps
        .usersFromSketches(daily, Long.MinValue, Long.MaxValue).head
      (r.getAs[Long]("n_days"), r.getAs[Long]("n_events"),
        r.getAs[Long]("approx_users"))
    }
    val streamed = estimate(SketchIngest.dailySketches(spark, store))
    val batch = estimate(EventOps.dailyUserSketches(ev))
    assert(streamed == batch, s"$streamed vs $batch")
    // replaying the SAME checkpoint admits nothing new
    val q2 = SketchIngest.start(spark, incoming, store, ckpt,
      spark.read.parquet(incoming).schema)
    q2.processAllAvailable(); q2.stop()
    assert(estimate(SketchIngest.dailySketches(spark, store)) == batch)
    // compaction folds partials without changing any answer
    SketchIngest.compact(spark, store)
    val parts = new java.io.File(store).listFiles()
      .filter(_.isDirectory).map(_.getName)
    assert(parts.toSeq == Seq("batch_id=compacted"), parts.toSeq)
    assert(estimate(SketchIngest.dailySketches(spark, store)) == batch)
    org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
  }
}
