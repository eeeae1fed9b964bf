package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{QaGates, TextAnalysis}

/** Round-11 operator pins: DSIR importance weights, the base58 decode
  * expression, the DSv2 wire BatchWrite commit protocol, and — most
  * importantly — NEGATIVE tests for the QA gates: a gate that cannot go
  * red is decoration, so every gate family is driven to `holds=false`
  * with a deliberately broken input or an impossible bound.
  */
class Round11OpsSpec extends AnyFunSuite with TestSparkSession {
  import spark.implicits._

  test("dsirWeights: target-like doc outranks off-target doc") {
    val docs = Seq(
      (1L, "wiki", "alpha beta gamma delta alpha beta"),
      (2L, "wiki", "alpha gamma alpha beta beta delta"),
      (3L, "web", "zebra yak xylophone walrus zebra yak"),
      (4L, "web", "alpha beta gamma delta alpha gamma"), // looks like wiki
      (5L, "web", "zebra walrus yak yak xylophone zebra")
    ).toDF("doc_id", "source", "text")
    val w = TextAnalysis.dsirWeights(docs, col("source") === "wiki")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    // the wiki-looking web doc scores above the zebra docs...
    assert(w(4L) > w(3L) && w(4L) > w(5L))
    // ...and target docs score above off-target docs
    assert(w(1L) > w(3L))
    // weights are finite and deterministic across repartitionings
    val w2 = TextAnalysis.dsirWeights(docs.repartition(7),
      col("source") === "wiki")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(w == w2, "avg_log_ratio must be partitioning-invariant")
  }

  test("base58 decode: roundtrip, leading zeros, invalid input -> null") {
    import graft.functions.exprs._
    val df = Seq(
      Array[Byte](0, 0, 5, 77, -1),
      Array[Byte](1),
      Array.emptyByteArray
    ).toDF("b")
    val rt = df.select(unbase58(base58(col("b"))).as("d"), col("b"))
      .collect()
    rt.foreach(r => assert(
      Option(r.getAs[Array[Byte]]("d")).map(_.toSeq)
        == Option(r.getAs[Array[Byte]]("b")).map(_.toSeq)))
    // '0', 'I', 'O', 'l' are not in the alphabet -> null, not a crash
    val bad = Seq("0OIl", "abc!", "1").toDF("s")
      .select(unbase58(col("s")).as("d")).collect()
    assert(bad(0).isNullAt(0) && bad(1).isNullAt(0))
    assert(bad(2).getAs[Array[Byte]](0).toSeq == Seq(0.toByte))
  }

  test("DSv2 wire write: overwrite truncates, append adds, temps invisible") {
    val dir = Scratch.dir("w11")
    def frames(n: Int, tag: Int) = (1 to n)
      .map(i => (s"", 0L, graft.functions.CodecOps.leBytes(tag * 100L + i, 8)))
      .toDF("file", "frame_idx", "payload")
    frames(6, 1).repartition(3)
      .write.format("graft-wire").mode("overwrite").save(dir)
    val first = spark.read.format("graft-wire").load(dir)
    assert(first.count() == 6)
    // overwrite replaces everything, even with fewer partitions/files
    frames(2, 2).repartition(1)
      .write.format("graft-wire").mode("overwrite").save(dir)
    val second = spark.read.format("graft-wire").load(dir)
    assert(second.count() == 2)
    import graft.functions.exprs._
    val ids = second.select(le_long(col("payload"), 0)).as[Long]
      .collect().sorted.toSeq
    assert(ids == Seq(201L, 202L))
    // append keeps the existing capture
    frames(3, 3).repartition(1)
      .write.format("graft-wire").mode("append").save(dir)
    assert(spark.read.format("graft-wire").load(dir).count() == 5)
    // no temp artifacts survive a committed write
    val leftover = new java.io.File(dir).list().filter(_.endsWith(".tmp"))
    assert(leftover.isEmpty, s"uncleaned temps: ${leftover.mkString(",")}")
  }

  test("QA gates go RED on violated bounds (negative control)") {
    val events = Tables.events(spark, sfDir)
    // an impossible error bound must flip holds to false (negative,
    // since rel-err >= 0 always — at tiny SFs the HLL is exact, so 0.0
    // would NOT be a negative control)
    val red = QaGates.approxUsersGate(events, bound = -1.0)
      .collect().head
    assert(red.getAs[Boolean]("holds") == false)
    // a trivially satisfied bound holds
    val green = QaGates.approxUsersGate(events, bound = 1.0)
      .collect().head
    assert(green.getAs[Boolean]("holds") == true)
    // multiset equality gate: unequal frames -> false
    val a = Seq((1L, 2L), (3L, 4L)).toDF("x", "y")
    val b = Seq((1L, 2L), (3L, 5L)).toDF("x", "y")
    assert(QaGates.multisetEqualGate(a, b, "neg")
      .collect().head.getAs[Boolean]("holds") == false)
    assert(QaGates.multisetEqualGate(a, a.select(col("x"), col("y")), "pos")
      .collect().head.getAs[Boolean]("holds") == true)
    // recall gate: an empty approximate result -> recall 0 -> false
    val exact = Seq((1L, 2L), (1L, 3L)).toDF("q_id", "neighbor_id")
    val empty = exact.filter(lit(false))
    assert(QaGates.topKRecallGate(exact, empty, "neg", 0.5)
      .collect().head.getAs[Boolean]("holds") == false)
    assert(QaGates.topKRecallGate(exact, exact, "pos", 0.99)
      .collect().head.getAs[Boolean]("holds") == true)
  }

  test("cmsErrorGate holds on real data and goes red on impossible bound") {
    val events = Tables.events(spark, sfDir)
    val green = QaGates.cmsErrorGate(events).collect().head
    assert(green.getAs[Boolean]("holds"),
      "CMS one-sided bound must hold on the synthetic corpus")
    // an impossible (negative) bound arm: max overcount >= 0 can never
    // sit under eps*N+1 when eps*N+1 < 0 — the gate must flip
    val red = QaGates.cmsErrorGate(events, boundEps = Some(-1.0))
      .collect().head
    assert(!red.getAs[Boolean]("holds"))
  }

  test("kmeans: Lloyd objective descends and the gate pins it") {
    val emb = Tables.embeddings(spark, sfDir)
    val slice = emb.filter(col("vec_id") < 50000L)
    val c0 = graft.operators.Similarity.kmeansCost(slice,
      graft.operators.Similarity.kmeansFit(slice, 0)).collect().head
    val c2 = graft.operators.Similarity.kmeansCost(slice,
      graft.operators.Similarity.kmeansFit(slice, 2)).collect().head
    assert(c0.getAs[Long]("n") == c2.getAs[Long]("n"),
      "every vector must assign under both centroid sets")
    assert(c2.getAs[Double]("cost") <= c0.getAs[Double]("cost") * 1.000001,
      s"objective ascended: ${c0.getAs[Double]("cost")} -> " +
        s"${c2.getAs[Double]("cost")}")
    val gate = QaGates.kmeansDescentGate(emb).collect().head
    assert(gate.getAs[Boolean]("holds"))
  }

  test("winnowing: shared-substring guarantee, rep collapse, no false pairs") {
    import graft.operators.Dedup
    // k=12, w=4: any shared substring of >= 15 chars must surface at
    // least one shared fingerprint (the winnowing coverage guarantee)
    val shared = "the quick brown fox jumps over the lazy dog"
    val docs = Seq(
      (1L, s"AAAA $shared AAAA padding padding padding one"),
      (2L, s"BBBB $shared BBBB other other other other two"),
      (3L, "completely different content with zero overlap at all xyz"),
      (4L, s"AAAA $shared AAAA padding padding padding one") // = doc 1
    ).toDF("doc_id", "text")
    val pairs = Dedup.winnowedOverlap(docs, minShared = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)),
      "shared 44-char substring must yield a shared fingerprint")
    // identical texts collapse to the min-id rep: doc 4 never appears
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
    // the disjoint doc pairs with nobody
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
    // sim_ppm is exact integer arithmetic within [0, 1e6]
    val ppm = Dedup.winnowedOverlap(docs, minShared = 1)
      .select("sim_ppm").collect().map(_.getLong(0))
    assert(ppm.forall(p => p >= 0 && p <= 1000000))
  }

  test("winnow_fps kernel ≡ the posexplode + window struct-min + " +
      "distinct DataFrame pipeline it replaced") {
    // the retired formulation, reconstructed verbatim: per-position md5,
    // min(struct(h, -pos)) over the trailing w-window, distinct
    val k = 12; val w = 4
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog",
      "aaaaaaaaaaaaaaaaaaaaaaaaaaaaaa", // all-equal hashes: tie-breaks
      "abcabcabcabcabcabcabcabcabc", // period-3 repeats inside a window
      "exactly-15-ch!!", // minimum legal length = k + w - 1
      "päällekkäisyys ja tõlgendus üle tekstide müü", // multi-byte UTF-8
      "𝔘𝔫𝔦 😀 code 𠜎𠜱 points 🎉 past the BMP 𝔘𝔫𝔦 😀", // 4-byte UTF-8
      "z" + ("the quick brown fox jumps over the lazy dog" * 3)
    )
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
      .filter(length(col("text")) >= k + w - 1)
    val winSpec = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos").rowsBetween(-(w - 1), 0)
    val ref = docs
      .select(col("doc_id"),
        explode(expr(s"sequence(1, length(text) - ${k - 1})")).as("pos"),
        col("text"))
      .select(col("doc_id"), col("pos"),
        md5(expr(s"substring(text, pos, $k)").cast("binary")).as("h"))
      .withColumn("sel",
        min(struct(col("h"), (-col("pos")).as("np"))).over(winSpec))
      .filter(col("pos") >= w)
      .select(col("doc_id"), col("sel.h").as("fp"))
      .distinct()
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val got = docs
      .select(col("doc_id"),
        explode(graft.functions.exprs.winnow_fps(col("text"), k, w))
          .as("fp"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == ref, s"kernel diverged: only-kernel=${got diff ref}, " +
      s"only-ref=${ref diff got}")
    assert(got.nonEmpty)
  }

  test("labelPropagation separates bridge-linked rings that connected " +
      "components collapse") {
    import graft.operators.GraphOps
    // two 4-cliques (same market-hour buckets) joined by ONE bridge
    // edge: components see a single 8-wallet blob; LPA keeps each ring
    // its own community because labels need neighbor MAJORITY to cross
    def bucket(h: Long, us: String*) = us.zipWithIndex.map {
      case (u, i) => (u, "t", h * 3600 + i)
    }
    val events = (
      bucket(0, "a1", "a2", "a3", "a4") ++
      bucket(2, "b1", "b2", "b3", "b4") ++
      bucket(4, "a1", "b1") // the bridge
    ).toDF("user_id", "event_type", "ts_s")
      .withColumn("ts", expr("timestamp_seconds(ts_s)"))
    val comm = GraphOps.labelPropagation(events)
      .collect().map(r => r.getString(0) ->
        (r.getString(1), r.getLong(2))).toMap
    assert(Set("a1", "a2", "a3", "a4").forall(w =>
      comm(w) == ("a1", 4L)), s"ring A broke: $comm")
    assert(Set("b1", "b2", "b3", "b4").forall(w =>
      comm(w) == ("b1", 4L)), s"ring B broke: $comm")
    // the control: connected components DO collapse the two rings
    val cc = GraphOps.walletClusters(events)
      .select("cluster_size").distinct().collect()
    assert(cc.map(_.getLong(0)).toSeq == Seq(8L))
    // partitioning invariance (synchronous rounds + deterministic ties)
    val comm2 = GraphOps.labelPropagation(events.repartition(7))
      .collect().map(r => r.getString(0) ->
        (r.getString(1), r.getLong(2))).toMap
    assert(comm == comm2)
  }

  test("mgHeavyHittersGate: bounds hold on skew, any partitioning, " +
      "and on the corpus") {
    import graft.operators.QaGates
    // adversarial skew: one key with 60% of the mass, long uniform tail
    val skew = ((1 to 6000).map(_ => "whale") ++
      (1 to 4000).map(i => s"u${i % 500}"))
      .toDF("user_id")
    for (parts <- Seq(1, 13)) {
      val g = QaGates.mgHeavyHittersGate(
        skew.repartition(parts), k = 8).collect().head
      assert(g.getAs[Boolean]("holds"),
        s"MG bound broke at $parts partitions")
    }
    val real = QaGates.mgHeavyHittersGate(Tables.events(spark, sfDir))
      .collect().head
    assert(real.getAs[Boolean]("holds"))
  }

  test("msttr: known segment values, short docs drop, copies rejoin") {
    import graft.operators.TextAnalysis
    val distinct25 = (1 to 25).map(i => s"w$i").mkString(" ")
    val same25 = Array.fill(25)("x").mkString(" ")
    val docs = Seq(
      // 2 full segments: ttr 1e6 and 40000 -> msttr (1e6+40000) div 2
      (1L, "s1", s"$distinct25 $same25"),
      (2L, "s1", s"$distinct25 $same25"), // exact copy, rejoins by hash
      (3L, "s2", (1 to 24).map(_ => "y").mkString(" ")), // < 25 tokens
      (4L, "s2", distinct25)
    ).toDF("doc_id", "source", "text")
    val out = TextAnalysis.msttr(docs).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(out("s1").getAs[Long]("n_docs_scored") == 2L)
    assert(out("s1").getAs[Long]("total_segments") == 4L)
    assert(out("s1").getAs[Long]("avg_msttr_ppm") == 520000L)
    // s2: doc 3 drops (no full segment), doc 4 scores 1e6
    assert(out("s2").getAs[Long]("n_docs_scored") == 1L)
    assert(out("s2").getAs[Long]("avg_msttr_ppm") == 1000000L)
  }

  test("templateCollisions: identical schedules collide, organic don't") {
    import graft.operators.EventOps
    // 3 bot wallets: same 30-event schedule (all phase 0); 1 organic
    // wallet spread across phases; 1 wallet under minEvents
    val bots = for (b <- 1 to 3; i <- 0 until 30)
      yield (s"bot$b", (i % 6) * 3600L + 60L * i)
    val organic = (0 until 30).map(i => ("organic", i * 3600L * 4 + 7L))
    val tiny = (0 until 5).map(i => ("tiny", i * 3600L))
    val events = (bots ++ organic ++ tiny)
      .toDF("user_id", "ts_s")
      .withColumn("ts", expr("timestamp_seconds(ts_s)"))
    val out = EventOps.templateCollisions(events).collect()
    assert(out.length == 1, s"expected one collision group: ${out.toSeq}")
    val r = out.head
    assert(r.getAs[Long]("n_wallets") == 3L)
    assert(r.getAs[Long]("total_events") == 90L)
    assert(r.getAs[String]("sample_wallet") == "bot1")
    assert(r.getAs[String]("profile") == "10,0,0,0")
    // partitioning invariance
    val out2 = EventOps.templateCollisions(events.repartition(7)).collect()
    assert(out2.toSeq.map(_.toString).sorted ==
      out.toSeq.map(_.toString).sorted)
  }

  test("doremiLiteWeights: divergent source gets the largest weight") {
    import graft.operators.TextAnalysis
    val common = "the quick brown fox jumps over the lazy dog again"
    val docs = (
      (1 to 8).map(i => (i.toLong, "mainstream", common)) ++
      (9 to 16).map(i => (i.toLong, "mainstream2", common)) ++
      Seq((17L, "weird", "zxq vbn mlk poi uyt rew qas dfg hjk zxc"))
    ).toDF("doc_id", "source", "text")
    val out = TextAnalysis.doremiLiteWeights(docs).collect()
      .map(r => r.getString(0) -> r).toMap
    // the distributionally-divergent source pays the most excess nats
    // under the corpus LM and therefore gets the largest weight
    assert(out("weird").getAs[Double]("excess") >
      out("mainstream").getAs[Double]("excess"))
    assert(out("weird").getAs[Long]("weight_ppm") >
      out("mainstream").getAs[Long]("weight_ppm"))
    // excess is >= 0 (KL under shared smoothing) and ppm sums to <= 1e6
    assert(out.values.forall(_.getAs[Double]("excess") >= -1e-9))
    val s = out.values.map(_.getAs[Long]("weight_ppm")).sum
    assert(s > 900000L && s <= 1000000L, s"ppm sum $s")
    // partition invariance (grid-fixed decimal logs)
    val out2 = TextAnalysis.doremiLiteWeights(docs.repartition(5))
      .collect().map(r => r.getString(0) -> r.getAs[Long]("weight_ppm"))
      .toMap
    assert(out2 == out.map { case (k, v) =>
      k -> v.getAs[Long]("weight_ppm") })
  }

  test("whitening: Jacobi reconstructs, output decorrelates, gate holds") {
    import graft.operators.{QaGates, Similarity}
    // Jacobi: A = V diag(eig) V^T on a fixed symmetric 3x3
    val a = Array[Double](4, 1, 2, 1, 3, 0.5, 2, 0.5, 5)
    val (eig, v) = Similarity.jacobiEigen(a, 3)
    for (i <- 0 until 3; j <- 0 until 3) {
      val recon = (0 until 3).map(k => v(i * 3 + k) * eig(k) * v(j * 3 + k)).sum
      assert(math.abs(recon - a(i * 3 + j)) < 1e-9,
        s"recon($i,$j)=$recon vs ${a(i * 3 + j)}")
    }
    // whiten a correlated synthetic cloud: x2 = x1 + noise
    val rnd = new scala.util.Random(7)
    val emb = (0 until 2000).map { i =>
      val x1 = rnd.nextGaussian().toFloat
      val x2 = (x1 * 0.9 + rnd.nextGaussian() * 0.3).toFloat
      val x3 = (rnd.nextGaussian() * 4.0).toFloat // wildly bigger scale
      (i.toLong, Array(x1, x2, x3), 0)
    }.toDF("vec_id", "embedding", "label")
    val white = Similarity.whiten(emb)
      .select("embedding").as[Array[Float]].collect()
    val n = white.length.toDouble
    assert(n == 2000)
    val d = 3
    val mean = Array.tabulate(d)(j => white.map(_(j).toDouble).sum / n)
    def cov(j: Int, k: Int) =
      white.map(v => (v(j) - mean(j)) * (v(k) - mean(k))).sum / n
    for (j <- 0 until d) {
      assert(cov(j, j) > 0.5 && cov(j, j) <= 1.01,
        s"diag $j = ${cov(j, j)}")
      for (k <- j + 1 until d)
        assert(math.abs(cov(j, k) / math.sqrt(cov(j, j) * cov(k, k))) < 0.05,
          s"corr($j,$k) survived whitening")
    }
    // the gate agrees on the real embeddings table
    val gate = QaGates.whiteningGate(Tables.embeddings(spark, sfDir))
      .collect().head
    assert(gate.getAs[Boolean]("holds"))
    // negative control: an impossible tolerance flips it
    val red = QaGates.whiteningGate(Tables.embeddings(spark, sfDir),
      tol = -1.0).collect().head
    assert(!red.getAs[Boolean]("holds"))
  }

  test("dedupThresholdCurve: monotone, zero-tail, counts the known pair") {
    import graft.operators.Dedup
    val shared = "the quick brown fox jumps over the lazy dog"
    val docs = Seq(
      (1L, s"AAAA $shared AAAA padding padding padding one"),
      (2L, s"BBBB $shared BBBB other other other other two"),
      (3L, "completely different content with zero overlap at all xyz")
    ).toDF("doc_id", "text")
    val curve = Dedup.dedupThresholdCurve(docs, minShared = 1)
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Long]("n_pairs"), r.getAs[Long]("n_docs_affected")))
      .toMap
    assert(curve.size == 9, "one row per decile threshold")
    // monotone non-increasing in tau, both series
    val taus = curve.keys.toSeq.sorted
    taus.sliding(2).foreach { case Seq(a, b) =>
      assert(curve(a)._1 >= curve(b)._1 && curve(a)._2 >= curve(b)._2)
    }
    // the 1-2 pair exists at SOME low threshold and dies by 0.9
    assert(curve(100000L)._1 >= 1L && curve(100000L)._2 == 2L)
    assert(curve(900000L)._1 == 0L && curve(900000L)._2 == 0L)
  }

  test("bootstrapCI: brackets the mean, tighter with more data, " +
      "partition-proof") {
    import graft.operators.Sampling
    val rnd = new scala.util.Random(11)
    val docs = (
      (1 to 400).map(i => (i.toLong, "big", "x" * (80 + rnd.nextInt(40)))) ++
      (401 to 420).map(i => (i.toLong, "small", "x" * (80 + rnd.nextInt(40))))
    ).toDF("doc_id", "source", "text")
    val out = Sampling.bootstrapCI(docs, "doc_id", length(col("text")))
      .collect().map(r => r.getString(0) -> r).toMap
    for ((_, r) <- out) {
      val (lo, m, hi) = (r.getAs[Double]("ci_lo"),
        r.getAs[Double]("point_mean"), r.getAs[Double]("ci_hi"))
      assert(lo <= m && m <= hi, s"CI [$lo, $hi] must bracket $m")
      assert(r.getAs[Long]("n_replicates") == 40L)
    }
    // 20x the data -> materially tighter interval
    val wBig = out("big").getAs[Double]("ci_hi") -
      out("big").getAs[Double]("ci_lo")
    val wSmall = out("small").getAs[Double]("ci_hi") -
      out("small").getAs[Double]("ci_lo")
    assert(wBig < wSmall, s"big-source CI $wBig !< small-source $wSmall")
    // hash draws are a pure function of (doc_id, rep): layout-proof
    val out2 = Sampling.bootstrapCI(docs.repartition(7), "doc_id",
      length(col("text"))).collect().map(r => r.getString(0) ->
        (r.getDouble(3), r.getDouble(4))).toMap
    assert(out2 == out.map { case (k, v) =>
      k -> (v.getDouble(3), v.getDouble(4)) })
  }

  test("degreeAssortativity: star graph scores exactly -1") {
    import graft.operators.GraphOps
    // controller-and-drones: hub h meets one leaf per hour -> a star,
    // the canonical perfectly-disassortative graph (r = -1): every
    // edge joins deg 3 to deg 1
    val events = Seq(
      ("h", "t", 0L), ("l1", "t", 10L),
      ("h", "t", 7200L), ("l2", "t", 7210L),
      ("h", "t", 14400L), ("l3", "t", 14410L)
    ).toDF("user_id", "event_type", "ts_s")
      .withColumn("ts", expr("timestamp_seconds(ts_s)"))
    val r = GraphOps.degreeAssortativity(events).collect().head
    assert(r.getAs[Long]("n_nodes") == 4L)
    assert(r.getAs[Long]("n_edges") == 6L)
    assert(math.abs(r.getAs[Double]("assortativity") - (-1.0)) < 1e-12,
      s"star must be perfectly disassortative: $r")
    assert(math.abs(r.getAs[Double]("mean_deg") - 1.5) < 1e-12)
  }

  test("dropDuplicatesWithinWatermark collapses a cross-batch duplicate " +
      "within the delay") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sctx = spark.sqlContext
    val in = MemoryStream[(Long, Long)]
    val deduped = in.toDF().toDF("k", "ts_s")
      .withColumn("ts", expr("timestamp_seconds(ts_s)"))
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("k")
    val name = "graft_r11_ddw"
    val q = deduped.writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData((1L, 100L), (2L, 110L))
      q.processAllAvailable()
      in.addData((1L, 160L), (3L, 170L)) // k=1 again, 60s later (< delay)
      q.processAllAvailable()
      val ks = spark.table(name).select("k").as[Long].collect().sorted.toSeq
      assert(ks == Seq(1L, 2L, 3L), s"duplicate not collapsed: $ks")
    } finally q.stop()
  }
}
