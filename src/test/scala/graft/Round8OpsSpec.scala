package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{EventOps, GraphOps, Similarity}

/** Round-8 surfaces: degrade-not-drop across the whole co-activity
  * family (the round-7 verdict's top item — the bucket drop-filter was
  * witnessed going VACUOUS at production density, silently matching a
  * 0-row oracle) plus the first-class cap accounting.
  */
class Round8OpsSpec extends TestSparkSession {

  import spark.implicits._

  private def mkEvents(
      rows: Seq[(Long, Long, Long, String, Double)]): DataFrame =
    rows.map { case (id, u, h, t, v) =>
      (id, new Timestamp(h * 3600000L), u, t, v, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")

  // one market-hour with `n` wallets, one event each
  private def oneBucket(n: Int): DataFrame =
    mkEvents((1 to n).map(w => (w.toLong, w.toLong, 0L, "m", 1.0)))

  test("drop filter goes vacuous over the cap; the capped edge set " +
      "degrades to the top-N most-active wallets instead") {
    // 20 wallets in one bucket, wallet w fires w events (activity rank
    // = id desc) — over a cap of 8 the drop policy deletes the bucket
    val ev = mkEvents(for {
      w <- 1 to 20; k <- 1 to w
    } yield ((w * 100 + k).toLong, w.toLong, 0L, "m", 1.0))
    assert(GraphOps.coactivityEdges(ev, 8, GraphOps.DropAll(acknowledgeVacuous = true))
      .count() === 0L,
      "drop filter must be vacuous over the cap (the witnessed mode)")
    val capped = GraphOps.coactivityEdges(ev, 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // top 8 by (count desc, id): wallets 13..20
    val want = (for {
      a <- 13L to 20L; b <- 13L to 20L if a != b
    } yield (a, b)).toSet
    assert(capped.toSet === want)
  }

  test("below the cap every capped operator is bit-identical to its " +
      "drop-policy twin") {
    // 3 hours × ≤5 wallets: no bucket over a cap of 8, so both
    // policies keep every bucket whole
    val ev = mkEvents(for {
      h <- 0 to 2; w <- 1 to (3 + h); k <- 1 to 2
    } yield ((h * 1000 + w * 10 + k).toLong, w.toLong, h.toLong, "m",
      1.0))
    def sorted(df: DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    assert(sorted(GraphOps.triangleStats(ev, 8)) ===
      sorted(GraphOps.triangleStats(ev, 8, GraphOps.DropAll(acknowledgeVacuous = true))))
    assert(sorted(GraphOps.kCore(ev, k = 2, maxGroupSize = 8)) ===
      sorted(GraphOps.kCore(ev, k = 2, maxGroupSize = 8,
        policy = GraphOps.DropAll(acknowledgeVacuous = true))))
    assert(sorted(GraphOps.walletClusters(ev, 8)) ===
      sorted(GraphOps.walletClusters(ev, 8,
        policy = GraphOps.DropAll(acknowledgeVacuous = true))))
    assert(sorted(GraphOps.neighborSimilarity(ev, 8)) ===
      sorted(GraphOps.neighborSimilarity(ev, 8,
        policy = GraphOps.DropAll(acknowledgeVacuous = true))))
    assert(sorted(GraphOps.edgeGrowth(ev, 8)) ===
      sorted(GraphOps.edgeGrowth(ev, 8, GraphOps.DropAll(acknowledgeVacuous = true))))
  }

  test("capped k-core keeps the planted ring visible at a density " +
      "where the drop policy returns an empty core") {
    // an 8-clique ring re-co-active every hour, drowned in 60 noise
    // wallets per hour (bucket size 68 > cap 64 everywhere)
    val ring = for {
      h <- 0 to 9; w <- 1 to 8
    } yield ((h * 10000 + w).toLong, w.toLong, h.toLong, "m", 1.0)
    // ring wallets fire twice per hour so the activity rank keeps them
    val ring2 = ring.map { case (id, u, h, t, v) =>
      (id + 1000000L, u, h, t, v)
    }
    val noise = for {
      h <- 0 to 9; w <- 100 to 159
    } yield ((h * 10000 + w).toLong, w.toLong, h.toLong, "m", 1.0)
    val ev = mkEvents(ring ++ ring2 ++ noise)
    assert(GraphOps.kCore(ev, k = 7, maxGroupSize = 64,
      policy = GraphOps.DropAll(acknowledgeVacuous = true)).count() === 0L,
      "drop policy must lose the ring at this density")
    val core = GraphOps.kCore(ev, k = 7, maxGroupSize = 16)
      .collect().map(_.getLong(0)).toSet
    assert((1L to 8L).toSet.subsetOf(core),
      s"ring must survive the capped peel, got $core")
  }

  test("capped sandwich equals the uncapped result on each bucket's " +
      "execution-order prefix (retention soundness)") {
    val full = Tables.events(spark, sfDir)
    val cap = 50
    val prefix = {
      import org.apache.spark.sql.expressions.Window
      full.withColumn("mb", expr("unix_micros(ts) div 3600000000"))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("mb"), col("event_type").isin(
            "purchase", "view")).orderBy(col("event_id"))))
        .filter(!col("event_type").isin("purchase", "view") ||
          col("rk") <= cap)
        .drop("mb", "rk")
    }
    val got = EventOps.sandwichTrades(full, cap)
      .collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    val want = EventOps.sandwichTrades(prefix, Int.MaxValue,
      policy = GraphOps.DropAll(acknowledgeVacuous = true))
      .collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    assert(got === want && got.nonEmpty)
  }

  test("ivfCoarseCentroids with a caller-supplied count submits zero " +
      "jobs and is bit-identical to the counting path") {
    val emb = Tables.embeddings(spark, sfDir)
    val n = emb.count()
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val df = Similarity.ivfCoarseCentroids(emb, centEvery = 7,
        maxCells = 16, rowCount = Some(n))
      // drain the async listener bus DETERMINISTICALLY before asserting
      // (a fixed sleep can mis-time under load); LiveListenerBus is
      // private[spark], so reach waitUntilEmpty via reflection
      val busM = spark.sparkContext.getClass.getMethod("listenerBus")
      busM.setAccessible(true)
      val bus = busM.invoke(spark.sparkContext)
      val waitM = bus.getClass.getMethod("waitUntilEmpty", classOf[Long])
      waitM.setAccessible(true)
      waitM.invoke(bus, java.lang.Long.valueOf(30000L))
      assert(jobs.get() === 0,
        "building the quantizer with a known count must not scan")
      val got = df.select("cent_id").collect().map(_.getLong(0)).toSet
      val want = Similarity.ivfCoarseCentroids(emb, centEvery = 7,
          maxCells = 16)
        .select("cent_id").collect().map(_.getLong(0)).toSet
      assert(got === want && got.nonEmpty)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("quantizer guard widens at the exact boundary instead of " +
      "dropping the largest sampled id") {
    // 21 dense ids, centEvery 5, maxCells 4: the domain holds FIVE
    // multiples of 5 (0,5,10,15,20) — the old n/centEvery guard kept
    // the narrow stride and limit(4) silently dropped id 20; the
    // fixed guard widens to ceil(21/4)=6 and keeps the whole range
    val df = (0 until 21)
      .map(i => (i.toLong, Array.fill(4)(0.1f)))
      .toDF("vec_id", "embedding")
    val cents = Similarity.ivfCoarseCentroids(df, centEvery = 5,
        maxCells = 4)
      .select("cent_id").collect().map(_.getLong(0)).toSet
    assert(cents === Set(0L, 6L, 12L, 18L))
    // at exactly centEvery·maxCells multiples the historical sampling
    // is reproduced — no spurious widening
    val atCap = Similarity.ivfCoarseCentroids(df.filter(col("vec_id") <
        20), centEvery = 5, maxCells = 4)
      .select("cent_id").collect().map(_.getLong(0)).toSet
    assert(atCap === Set(0L, 5L, 10L, 15L))
  }

  test("compactPartitions sweeps stale crash dirs, restores a missing " +
      "live partition, and preserves content") {
    import org.apache.hadoop.fs.Path
    val dir = java.nio.file.Files.createTempDirectory("r8compact")
      .toString
    val ev = Tables.events(spark, sfDir)
    graft.sources.EventSink.writePartitionedByDay(ev, dir, buckets = 4)
    val want = graft.sources.EventSink.readPartitioned(spark, dir)
      .count()
    val fs = new Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val parts = fs.listStatus(new Path(dir)).filter(_.isDirectory)
      .filter(_.getPath.getName.startsWith("event_date="))
      .sortBy(_.getPath.getName)
    assert(parts.length >= 2, "need two partitions to plant crashes")
    // crash state A: driver died mid-swap — live dir moved aside, the
    // compacted copy never renamed in
    val p0 = parts(0).getPath
    assert(fs.rename(p0, new Path(dir, ".old_" + p0.getName)))
    fs.mkdirs(new Path(dir, ".compact_" + p0.getName))
    // crash state B: copy written, swap never started
    val p1 = parts(1).getPath
    fs.mkdirs(new Path(dir, ".compact_" + p1.getName))
    graft.sources.EventSink.compactPartitions(spark, dir,
      targetBytes = 1L << 40, maxFiles = 1)
    val names = fs.listStatus(new Path(dir)).map(_.getPath.getName)
    assert(!names.exists(_.startsWith(".old_")) &&
      !names.exists(_.startsWith(".compact_")),
      s"stale crash dirs survived: ${names.mkString(", ")}")
    assert(names.contains(p0.getName), "mid-swap partition not restored")
    assert(graft.sources.EventSink.readPartitioned(spark, dir)
      .count() === want)
    org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(dir))
  }

  test("lshPlan follows the S-curve: tau 0.5 reproduces the committed " +
      "(16,4) split; other thresholds get tuned bands") {
    import graft.operators.Dedup
    assert(Dedup.lshPlan(0.5) === ((16, 4)))
    assert(Dedup.lshPlan(0.7) === ((8, 8)))
    assert(Dedup.lshPlan(0.3) === ((32, 2)))
    // wider target similarity → steeper curve (never MORE bands)
    val bands = Seq(0.2, 0.35, 0.5, 0.65, 0.8).map(Dedup.lshPlan(_)._1)
    assert(bands === bands.sorted.reverse)
  }

  test("auto-tuned LSH recall >= 0.9 at tau 0.5 on the paraphrase " +
      "corpus — the recall contract, not a hand-picked accident") {
    import graft.operators.Dedup
    val docs = Tables.documents(spark, sfDir)
    val para = graft.tools.ParaphraseBench.paraphraseCorpus(docs, 4)
      .localCheckpoint()
    def pairs(df: org.apache.spark.sql.DataFrame) = df
      .select("d1", "d2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Dedup.ngramJaccard(para, 0.5))
    val lsh = pairs(Dedup.lshPairs(para, 0.5)) // bands from lshPlan
    assert(lsh.subsetOf(exact), "LSH emitted a non-verified pair")
    assert(exact.size >= 1000, s"too few true pairs: ${exact.size}")
    val recall = lsh.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.9,
      s"auto-tuned LSH recall $recall over ${exact.size} pairs")
  }

  test("capAccounting reports exact kept/capped/dropped arithmetic") {
    // 20 wallets co-active in one hour; 3 of them buy, 2 sell
    val co = (1 to 20).map(w => ((w + 500).toLong, w.toLong, 0L, "m",
      1.0))
    val buys = (1 to 3).map(w => (w.toLong * 7, w.toLong, 0L,
      "purchase", 1.0))
    val sells = (1 to 2).map(w => (w.toLong * 11 + 100, w.toLong, 0L,
      "view", 1.0))
    val out = EventOps.capAccounting(mkEvents(co ++ buys ++ sells),
        coactivityCap = 16, washCap = 2, sandwichCap = 4)
      .collect()
      .map(r => r.getString(0) -> (r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
      .toMap
    // coactivity: 2 buckets ('m' hour-0 with 20 wallets, plus the
    // purchase/view wallets' own types don't reach 2 distinct wallets?
    // purchase hour-0 has wallets 1..3 → a bucket of 3; view has 2)
    assert(out("coactivity_hour_wallets") === ((3L, 1L, 25L, 21L, 4L)))
    assert(out("wash_hour_buyers") === ((1L, 1L, 3L, 2L, 1L)))
    assert(out("wash_hour_sellers") === ((1L, 0L, 2L, 2L, 0L)))
    assert(out("sandwich_hour_trades") === ((1L, 1L, 5L, 4L, 1L)))
  }
}
