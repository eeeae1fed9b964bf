package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Checkpoints, Dedup, GraphOps, Similarity}

/** Round-9 surfaces: the train-once-serve-many PQ codebook path, the
  * reliable-checkpoint opt-in for the iterative loops, and the
  * washPairs packed-key guard.
  */
class Round9OpsSpec extends TestSparkSession {

  import spark.implicits._

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  // runs FIRST (declaration order): the shared session must not have a
  // checkpoint dir yet, or the missing-dir guard can't be exercised
  test("reliable-checkpoint flag without a checkpoint dir fails " +
      "loudly, not at iteration 9") {
    assume(spark.sparkContext.getCheckpointDir.isEmpty,
      "another suite already set a checkpoint dir on the shared session")
    spark.conf.set(Checkpoints.ReliableConf, "true")
    try {
      val e = intercept[IllegalArgumentException] {
        Checkpoints.truncate(spark.range(3).toDF())
      }
      assert(e.getMessage.contains("setCheckpointDir"))
      // both Lloyd loops cut their rounds through Checkpoints.truncate
      val emb = Tables.embeddings(spark, sfDir)
      for (lloyd <- Seq(() => Similarity.kmeansFit(emb, iters = 1),
          () => Similarity.pqCodebook(emb, 64, iters = 1)))
        assert(intercept[IllegalArgumentException](lloyd()).getMessage
          .contains("setCheckpointDir"))
    } finally spark.conf.unset(Checkpoints.ReliableConf)
  }

  test("pqTopK with an injected codebook is bit-identical to the " +
      "self-trained path") {
    val emb = Tables.embeddings(spark, sfDir)
    val q = emb.filter(col("vec_id") < 10)
    val cb = Similarity.pqCodebook(emb, 64).localCheckpoint(eager = true)
    val served = rows(Similarity.pqTopK(emb, q, 64, 5,
      codebook = Some(cb)))
    val trained = rows(Similarity.pqTopK(emb, q, 64, 5))
    assert(served === trained && served.nonEmpty)
  }

  test("ivfpqTopK with injected codebook AND quantizer is " +
      "bit-identical to the self-trained path") {
    val emb = Tables.embeddings(spark, sfDir)
    val q = emb.filter(col("vec_id") < 10)
    val cb = Similarity.pqCodebook(emb, 64).localCheckpoint(eager = true)
    val cents = Similarity.ivfCoarseCentroids(emb)
      .localCheckpoint(eager = true)
    val served = rows(Similarity.ivfpqTopK(emb, q, 64, 5,
      centroids = Some(cents), codebook = Some(cb)))
    val trained = rows(Similarity.ivfpqTopK(emb, q, 64, 5))
    assert(served === trained && served.nonEmpty)
  }

  test("reliable-checkpoint opt-in: iterative loops complete with " +
      "spark.graft.reliableCheckpoint=true and match the local path " +
      "bit for bit") {
    val ev = Tables.events(spark, sfDir)
    val prLocal = rows(GraphOps.coactivityPagerank(ev))
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L))
      .toDF("d1", "d2")
    val labLocal = rows(Dedup.canonicalize(pairs))
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ckpt_").toString
    spark.sparkContext.setCheckpointDir(dir)
    spark.conf.set(Checkpoints.ReliableConf, "true")
    try {
      assert(rows(GraphOps.coactivityPagerank(ev)) === prLocal)
      assert(rows(Dedup.canonicalize(pairs)) === labLocal)
      assert(labLocal === Set(Seq(1L, 1L), Seq(2L, 1L), Seq(3L, 1L),
        Seq(10L, 10L), Seq(11L, 10L)))
      // the checkpoint dir must actually carry the reliable blocks —
      // otherwise the flag silently fell through to localCheckpoint
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      val files =
        try walk.filter(java.nio.file.Files.isRegularFile(_)).count()
        finally walk.close()
      assert(files > 0, "reliable checkpoints must persist to the dir")
    } finally {
      spark.conf.unset(Checkpoints.ReliableConf)
      scala.util.Try(org.apache.commons.io.FileUtils
        .deleteDirectory(new java.io.File(dir)))
    }
  }

  test("calibratedQuality: matches Spark's own percent_rank window " +
      "and stays in [0,1]") {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, sfDir)
    val got = operators.TextAnalysis.calibratedQuality(docs)
    // independent reference: the doc-level percent_rank window the
    // histogram path is replacing (small data — the window is fine here)
    val ref = operators.TextAnalysis.quality(docs)
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .select(col("doc_id"), col("source"), col("quality_score"),
        percent_rank().over(Window.partitionBy("source")
          .orderBy("quality_score")).as("src_pct"))
    assert(rows(got) === rows(ref) && got.count() > 0)
    val mm = got.agg(min("src_pct"), max("src_pct")).head()
    assert(mm.getDouble(0) >= 0.0 && mm.getDouble(1) <= 1.0)
  }

  test("calibratedQuality: ties share the first rank; single-doc " +
      "source pins to 0.0") {
    val docs = Seq(
      (1L, "aa bb cc dd!", "s1"), (2L, "aa bb cc dd!", "s1"),
      (3L, "x", "s1"), (4L, "aa bb cc dd ee ff gg hh.", "s1"),
      (5L, "solo doc", "s2"))
      .toDF("doc_id", "text", "source")
    val out = operators.TextAnalysis.calibratedQuality(docs)
      .select("doc_id", "src_pct").as[(Long, Double)].collect().toMap
    // s1 has 4 docs: the tied pair shares (rank-1)/(n-1) = 1/3 or 0
    // depending on score order; the extremes land on 0 and 1
    assert(out(1L) === out(2L))
    assert(out(5L) === 0.0)
    assert(Set(out(1L), out(3L), out(4L)).subsetOf(
      Set(0.0, 1.0 / 3.0, 2.0 / 3.0, 1.0)))
    assert((out(1L) +: out(3L) +: out(4L) +: Nil).max === 1.0 ||
      out.values.max === 1.0)
  }

  test("ngramNovelty: first occurrence wins, copies score zero, " +
      "short docs drop") {
    val docs = Seq(
      (1L, "a b c d"), // grams {a b c, b c d} — all first here
      (2L, "a b c x"), // {a b c (seen), b c x (new)} -> 1/2
      (3L, "a b c d"), // exact copy of 1 -> 0/2
      (4L, "a b"))     // <3 tokens -> dropped
      .toDF("doc_id", "text")
    val out = operators.TextAnalysis.ngramNovelty(docs)
      .select("doc_id", "n_grams", "n_novel", "novelty")
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out.keySet === Set(1L, 2L, 3L))
    assert(out(1L) === ((2L, 2L, 1.0)))
    assert(out(2L) === ((2L, 1L, 0.5)))
    assert(out(3L) === ((2L, 0L, 0.0)))
  }

  test("signRunsTest: perfect alternation z>0, streaks z<0, " +
      "one-sided and short wallets filtered") {
    def mk(uid: Long, types: Seq[String]) = types.zipWithIndex.map {
      case (t, i) => (uid * 1000 + i, uid * 1000000L + i * 1000L, uid, t)
    }
    val pv = "purchase" :: "view" :: Nil
    val events = (
      mk(1L, (0 until 10).map(i => pv(i % 2))) ++      // R=10, max runs
      mk(2L, Seq.fill(5)("purchase") ++ Seq.fill(5)("view")) ++ // R=2
      mk(3L, Seq.fill(10)("purchase")) ++               // one-sided: out
      mk(4L, (0 until 9).map(i => pv(i % 2))) ++        // n=9 < 10: out
      mk(5L, Seq.fill(3)("click"))                      // wrong type: out
      ).toDF("event_id", "us", "user_id", "event_type")
      .select(col("event_id"), expr("timestamp_micros(us)").as("ts"),
        col("user_id"), col("event_type"))
    val out = operators.EventOps.signRunsTest(events)
      .select("user_id", "n_buy", "n_sell", "n_runs", "e_runs", "z_runs")
      .as[(Long, Long, Long, Long, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(out.keySet === Set(1L, 2L))
    val (_, b1, s1, r1, e1, z1) = out(1L)
    assert((b1, s1, r1) === ((5L, 5L, 10L)) && e1 === 6.0)
    assert(math.abs(z1 - 4.0 / math.sqrt(20.0 / 9.0)) < 1e-12 && z1 > 2.6)
    val (_, _, _, r2, _, z2) = out(2L)
    assert(r2 === 2L && z2 < -2.6)
  }

  test("washPairs packed-key bound: 2^31-1 dense ranks pack positive, " +
      "2^31 overflows — the boundary the dictionary guard enforces") {
    // can't materialize 2^31 wallets in a test; pin the guard's
    // arithmetic instead — positivity of min*2^32+max in a signed long
    // requires min < 2^31 (NOT 2^32, the round-8 comment's overclaim)
    assert(((1L << 31) * 4294967296L + 1L) < 0,
      "2^31 dense ranks must overflow the signed packed key")
    assert((((1L << 31) - 1) * 4294967296L + ((1L << 31) - 1)) > 0,
      "2^31-1 dense ranks must still pack positive")
    // and the shipped query still runs green under the guard
    val out = graft.operators.EventOps
      .washPairs(Tables.events(spark, sfDir))
    assert(out.columns.toSeq ===
      Seq("wallet_a", "wallet_b", "hours_ab", "hours_ba"))
    assert(out.count() >= 0)
  }

  test("hurstExponent: zero-variance scales are excluded; a hash-walk " +
      "series lands in the open unit interval with the exact-decimal " +
      "lnv chain") {
    import java.sql.Timestamp
    // linear trend: every m-lag difference is the constant m -> zero
    // variance at every scale -> the type must be filtered out entirely
    val trend = (0 until 64).map(i => (i.toLong,
      new Timestamp(1700000000000L + i * 3600000L), 1L, "trend",
      (100 + i).toDouble, "{}"))
    // deterministic +-1 hash walk: H should be interior, not degenerate
    var c = 10000L
    val walk = (0 until 512).map { i =>
      c += (if (((i * 2654435761L) >>> 7 & 1L) == 1L) 1 else -1)
      (1000L + i, new Timestamp(1700000000000L + i * 3600000L), 2L,
        "walk", c / 100.0, "{}")
    }
    val events = (trend ++ walk).toDF(
      "event_id", "ts", "user_id", "event_type", "value", "props")
    val out = operators.EventOps.hurstExponent(events)
      .select("event_type", "n_periods", "hurst")
      .as[(String, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(!out.contains("trend"),
      "a zero-variance scale must exclude the type, not divide by zero")
    val (_, n, h) = out("walk")
    assert(n === 511L)
    assert(h > 0.0 && h < 1.0 && !h.isNaN)
  }

  test("copyTrading: planted echo pair detected with the exact mean " +
      "lag; the prefix cap degrades (keeps true echoes), never invents") {
    import java.sql.Timestamp
    val base = 1700000000000L
    // leader 1 then follower 2 five seconds later, in 4 distinct hours;
    // wallet 3 trades far away in time (no echo)
    val rows = (0 until 4).flatMap { h =>
      Seq((h * 10L, new Timestamp(base + h * 3600000L), 1L,
        "purchase", 5.0, "{}"),
        (h * 10L + 1, new Timestamp(base + h * 3600000L + 5000L), 2L,
          "purchase", 5.0, "{}"))
    } :+ ((99L, new Timestamp(base + 1800000L), 3L, "purchase", 5.0, "{}"))
    val events = rows.toDF(
      "event_id", "ts", "user_id", "event_type", "value", "props")
    val got = operators.EventOps.copyTrading(events, minEchoes = 3)
      .select("leader", "follower", "n_echoes", "n_buckets", "mean_lag_us")
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(got.map(r => (r._1, r._2)).toSet === Set((1L, 2L)),
      "only the planted direction may appear")
    val (_, _, ne, nb, lag) = got.head
    assert(ne === 4L && nb === 4L && lag === 5000000L)
    // prefix cap 1 keeps only the leader per bucket -> no echoes, and
    // nothing fabricated
    assert(operators.EventOps.copyTrading(events, minEchoes = 1,
      maxBucketTrades = 1).count() === 0L)
  }

  test("reactivations: planted dormancy counted on the waking day; " +
      "first-ever events are new, not reactivated") {
    import java.sql.Timestamp
    val day = 86400000L
    val base = 1700006400000L // aligned: 1700006400 % 86400 == 0
    val rows = Seq(
      // wallet 1: day 0 then wakes on day 3 (gap 72h >= 48h)
      (1L, new Timestamp(base), 1L, "click", 1.0, "{}"),
      (2L, new Timestamp(base + 3 * day), 1L, "click", 1.0, "{}"),
      // wallet 2: events 24h apart -> active both days, never dormant
      (3L, new Timestamp(base), 2L, "view", 1.0, "{}"),
      (4L, new Timestamp(base + day), 2L, "view", 1.0, "{}"))
      .map { case (e, ts, u, t, v, p) => (e, ts, u, t, v, p) }
    val events = rows.toDF(
      "event_id", "ts", "user_id", "event_type", "value", "props")
    val out = operators.EventOps.reactivations(events)
      .select("day", "n_active", "n_new", "n_reactivated")
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    val d0 = base / 1000
    assert(out(d0) === ((d0, 2L, 2L, 0L)),
      "day 0: both wallets new, nothing reactivated")
    assert(out(d0 + 86400L)._4 === 0L, "a 24h gap is not dormancy")
    assert(out(d0 + 3 * 86400L) === ((d0 + 3 * 86400L, 1L, 0L, 1L)),
      "the 72h sleeper reactivates on its waking day")
  }

  test("whaleShare: planted volumes give the exact top-k share; " +
      "deterministic (vol desc, user_id) tie-break") {
    import java.sql.Timestamp
    val base = 1700006400000L
    val events = Seq(
      (1L, new Timestamp(base), 1L, "purchase", 100.0, "{}"),
      (2L, new Timestamp(base + 1000L), 2L, "purchase", 50.0, "{}"),
      (3L, new Timestamp(base + 2000L), 3L, "purchase", 10.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = operators.EventOps.whaleShare(events, k = 2)
      .select("event_type", "n_wallets", "total_cents", "top_cents",
        "whale_share")
      .as[(String, Long, Long, Long, Double)].collect()
    assert(out.toSeq === Seq(("purchase", 3L, 16000L, 15000L,
      15000.0 / 16000.0)))
  }

  test("embeddingDimStats: a constant dimension reports variance 0 " +
      "(dead-dim detection); moments are exact on the 1e-6 grid") {
    val emb = Seq(
      (1L, Array(1.0f, 2.0f), 0),
      (2L, Array(3.0f, 2.0f), 0))
      .toDF("vec_id", "embedding", "label")
    val out = operators.Similarity.embeddingDimStats(emb)
      .orderBy("dim")
      .select("label", "dim", "n", "mean", "variance")
      .as[(Int, Long, Long, Double, Double)].collect()
    assert(out.toSeq === Seq((0, 0L, 2L, 2.0, 1.0), (0, 1L, 2L, 2.0, 0.0)))
  }

  test("contextFitReport: exact integer loss accounting and rank-based " +
      "percentiles on a known length ladder") {
    val docs = (1 to 10).map(n =>
      (n.toLong, Seq.fill(n)("w").mkString(" "), "en", "a", n.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = operators.Sampling.contextFitReport(docs, contextTokens = 5)
      .as[(String, Long, Long, Long, Long, Double, Long, Long, Long)]
      .collect()
    assert(out.length === 1)
    val (src, nDocs, over, tot, lost, frac, p50, p90, p99) = out.head
    assert(src === "a" && nDocs === 10L && over === 5L)
    assert(tot === 55L && lost === 15L && frac === 15.0 / 55.0)
    // ascending index (n-1)*p div 100 + 1 on lengths 1..10
    assert(p50 === 5L && p90 === 9L && p99 === 9L)
  }
}
