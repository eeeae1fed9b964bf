package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity}

class DedupSimilaritySpec extends TestSparkSession {

  private def docs = Tables.documents(spark, sfDir)

  test("repeated spans: boilerplate-heavy corpus, capped fan-out path " +
    "equals the uncapped result") {
    import spark.implicits._
    // every doc shares an 8-token boilerplate header (the corpus-wide
    // hot digest the cap exists for) plus a unique body
    val header = "terms of service apply to all content here"
    val boiler = (0L until 200L).map(i =>
      (i, s"$header unique body $i token${i * 7} tail${i % 13}"))
      .toDF("doc_id", "text")
    // cap far below the hot digest's 200-doc frequency → the broadcast
    // hot-tag branch handles it; results must equal the uncapped join
    val capped = Dedup.repeatedSpans(boiler, w = 8, maxDocFreq = 5)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val uncapped = Dedup.repeatedSpans(boiler, w = 8, maxDocFreq = 1000000)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(capped == uncapped, "cap must not change shared_frac")
    // the header windows are shared in every doc; the unique tails not
    val frames = Dedup.repeatedSpans(boiler, w = 8, maxDocFreq = 5)
    assert(frames.filter(col("n_shared") < 1).count() == 0,
      "every doc carries the boilerplate span")
    assert(frames.filter(col("shared_frac") >= 1.0).count() == 0,
      "unique bodies must stay unshared")
  }

  /** Synthetic corpus with planted near-duplicates. */
  private lazy val planted = {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    Seq(
      (0L, base),
      (1L, base + " extra"), // near-dup of 0
      (2L, base.replace("gamma", "chi")), // near-dup of 0
      (3L, "completely different text about spark engines and parquet files"),
      (4L, "completely different text about spark engines and parquet files"),
      (5L, "unrelated short doc")
    ).toDF("doc_id", "text")
  }

  test("exact dedup groups identical docs") {
    val res = Dedup.exactDocs(planted).filter(col("n_dups") > 1).collect()
    assert(res.length == 1)
    assert(res(0).getAs[Long]("keep_id") == 3L)
    assert(res(0).getAs[Long]("n_dups") == 2L)
  }

  test("minhash LSH finds the exact-jaccard pairs (recall on planted set)") {
    val exact = Dedup.ngramJaccard(planted, 0.5)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLsh(planted, 0.5)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    // no false positives (LSH verifies candidates exactly)...
    assert(lsh.subsetOf(exact))
    // ...and high recall on clearly-similar pairs
    assert(lsh.intersect(exact).size >= exact.size - 1)
  }

  test("minhash LSH agrees with exact jaccard on the real corpus") {
    val exact = Dedup.ngramJaccard(docs, 0.5)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLsh(docs, 0.5)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact))
    if (exact.nonEmpty) {
      val recall = lsh.size.toDouble / exact.size
      assert(recall >= 0.8, s"LSH recall $recall over ${exact.size} pairs")
    }
  }

  test("incremental dedup equals the plain anti-join") {
    val newBatch = docs.filter(col("doc_id") % 2 === 1)
    val corpus = docs.filter(col("doc_id") % 2 === 0)
    val got = Dedup.incrementalDedup(newBatch, corpus)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val want = newBatch.join(corpus.select("text").distinct(),
        Seq("text"), "left_anti")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("simhash: identical docs collide at hamming 0") {
    val res = Dedup.simhash(planted, maxHamming = 3).collect()
    val pairs = res.map(r => (r.getAs[Long]("d1"), r.getAs[Long]("d2"))).toSet
    assert(pairs.contains((3L, 4L)))
    assert(res.filter(r => r.getAs[Long]("d1") == 3L && r.getAs[Long]("d2") == 4L)
      .head.getAs[Int]("hamming") == 0)
  }

  test("brute-force topk is ranked and bounded") {
    val emb = Tables.embeddings(spark, sfDir)
    val res = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 5), 5)
    val rows = res.collect()
    assert(rows.length == 25)
    assert(rows.forall(r => math.abs(r.getAs[Double]("cos6")) <= 1.000001))
    // per query: ranks 1..5 with non-increasing scores
    rows.groupBy(_.getAs[Long]("q_id")).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getAs[Long]("rk"))
      assert(sorted.map(_.getAs[Long]("rk")).toSeq == (1L to 5L))
      val scores = sorted.map(_.getAs[Double]("cos6"))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    }
  }

  test("canonicalize picks one keeper per near-dup cluster") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("d1", "d2")
    val keep = Dedup.canonicalize(pairs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("keep_id")).toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(keep(_) == 1L))
    assert(keep(10L) == 10L && keep(11L) == 10L)
  }

  test("hot-gram cap only prunes, never adds pairs") {
    val capped = Dedup.ngramJaccard(docs, 0.5, maxDocFreq = Some(50))
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = Dedup.ngramJaccard(docs, 0.5)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // capping changes jaccard on affected pairs; near-identical docs keep
    // their pairs, and nothing below threshold in both appears only capped
    assert(capped.nonEmpty || full.isEmpty)
  }

  test("hyperplane LSH finds a usable share of true cosine pairs") {
    val emb = Tables.embeddings(spark, sfDir)
    val exact = Similarity.cosinePairs(emb, 0.3)
      .select("v1", "v2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.hyperplaneLshPairs(emb, 0.3)
      .select("v1", "v2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact)) // exact-cosine verification of candidates
    if (exact.nonEmpty) {
      val recall = lsh.size.toDouble / exact.size
      assert(recall >= 0.2, s"hyperplane LSH recall $recall of ${exact.size}")
    }
  }

  test("centroids = exact per-label component means") {
    val emb = Tables.embeddings(spark, sfDir)
    val got = Similarity.centroids(emb, "label").collect()
      .map(r => (r.getAs[Int]("label"), r.getAs[Long]("i")) ->
        (r.getAs[Long]("n"), r.getAs[Double]("centroid"))).toMap
    // independent driver-side computation on one label
    val lbl = emb.select("label").head().getInt(0)
    val vecs = emb.filter(col("label") === lbl)
      .select("embedding").collect()
      .map(_.getAs[scala.collection.Seq[Float]]("embedding"))
    val dim = vecs.head.size
    (0 until dim).foreach { i =>
      val exact = vecs.map(v => math.round(v(i).toDouble * 1e6)).sum /
        vecs.size.toDouble / 1e6
      val (n, c) = got((lbl, i.toLong))
      assert(n == vecs.size && math.abs(c - exact) < 1e-12,
        s"dim $i: got $c expected $exact")
    }
  }

  test("kmeansFit partitions every vector and keeps full-dim centroids") {
    val emb = Tables.embeddings(spark, sfDir)
    val total = emb.count()
    val cents = Similarity.kmeansFit(emb, iters = 2).collect()
    val byCell = cents.groupBy(_.getAs[Long]("cell"))
    // every cell carries all 64 dims with one row each
    byCell.values.foreach { rows =>
      assert(rows.map(_.getAs[Long]("i")).sorted.toSeq == (0L until 64L))
    }
    // the assignment is a partition: per-dim counts sum to the corpus size
    val nPerDim = cents.filter(_.getAs[Long]("i") == 0L)
      .map(_.getAs[Long]("n")).sum
    assert(nPerDim == total, s"assigned $nPerDim of $total vectors")
  }

  test("IVF topk recall vs brute force") {
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(emb, queries, 5).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id"))).toSet
    val ivf = Similarity.ivfTopK(emb, queries, 5).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = ivf.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.3, s"IVF recall was $recall")
  }

  test("PQ codes are complete and ADC topk beats random recall") {
    val emb = Tables.embeddings(spark, sfDir)
    val n = emb.count()
    val codes = Similarity.pqEncode(emb, dims = 64).collect()
    assert(codes.length == n, "every vector gets a code")
    assert(codes.forall(_.getSeq[Int](1).length == 8), "m codes per vector")
    val queries = emb.filter(col("vec_id") < 10)
    // exact L2 top-5 (same metric ADC approximates)
    val exact = {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("q_id").orderBy(col("d2"), col("neighbor_id"))
      val q = queries.select(col("vec_id").as("q_id"), col("embedding").as("qe"))
      emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("ne"))
        .crossJoin(q).filter(col("neighbor_id") =!= col("q_id"))
        .select(col("q_id"), col("neighbor_id"),
          (graft.functions.exprs.vec_dot(col("ne"), col("ne"))
            - graft.functions.exprs.vec_dot(col("ne"), col("qe")) * 2
            + graft.functions.exprs.vec_dot(col("qe"), col("qe"))).as("d2"))
        .withColumn("rk", row_number().over(w)).filter(col("rk") <= 5)
        .collect()
        .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id"))).toSet
    }
    val pq = Similarity.pqTopK(emb, queries, dims = 64, k = 5).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = pq.intersect(exact).size.toDouble / exact.size
    // random top-5 of ~500 would land ~1%; quantized distance must do
    // far better even with the coarse deterministic codebook
    assert(recall >= 0.2, s"PQ ADC recall was $recall")
  }

  test("IVF-PQ composite: full-probe ranking is bit-identical to pure " +
      "PQ; bounded probes keep useful recall") {
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.filter(col("vec_id") < 10)
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("q_id"), r.getAs[Long]("rk"),
        r.getAs[Long]("neighbor_id"), r.getAs[Double]("adc_d2"))
    // probes >= cell count => candidate set is the whole corpus and the
    // ONLY difference vs pqTopK vanishes: exact same rows, ranks, dists
    val full = Similarity.ivfpqTopK(emb, queries, dims = 64, k = 5,
      probes = Int.MaxValue).collect().map(key).toSet
    val pq = Similarity.pqTopK(emb, queries, dims = 64, k = 5)
      .collect().map(key).toSet
    assert(full == pq, "full-probe IVF-PQ must equal pure PQ ADC")
    // bounded probes: recall against the PQ ranking it approximates
    val probed = Similarity.ivfpqTopK(emb, queries, dims = 64, k = 5)
      .collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id"))).toSet
    val pqPairs = pq.map(t => (t._1, t._3))
    val recall = probed.intersect(pqPairs).size.toDouble / pqPairs.size
    assert(recall >= 0.2, s"probed IVF-PQ recall vs PQ was $recall")
  }

  test("hyperplane LSH exact-dup collapse: identity pairs at cos 1, base " +
      "pairs expand to every copy combination") {
    val base = Tables.embeddings(spark, sfDir)
    val off = 1000000L
    val dup = base.unionByName(
      base.withColumn("vec_id", col("vec_id") + lit(off)))
    val tau = 0.8
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r =>
        (r.getAs[Long]("v1"), r.getAs[Long]("v2"))).toSet
    val basePairs = pairs(Similarity.hyperplaneLshPairs(base, tau))
    val dupAll = Similarity.hyperplaneLshPairs(dup, tau)
    val dupPairs = pairs(dupAll)
    // every vector pairs with its own copy, at exactly cos 1
    val n = base.count()
    val identity = dupAll.filter(col("v2") === col("v1") + off &&
      col("v1") < off)
    assert(identity.count() == n, "one identity pair per vector")
    assert(identity.filter(col("cos6") =!= 1.0).count() == 0)
    // a base pair (a, b) must surface for all four copy combinations —
    // the expansion step may not lose (or invent) members
    basePairs.foreach { case (a, b) =>
      Seq((a, b), (a, b + off), (b, a + off), (a + off, b + off)).foreach {
        case (x, y) =>
          val p = (math.min(x, y), math.max(x, y))
          assert(dupPairs.contains(p), s"missing expanded pair $p of ($a,$b)")
      }
    }
    // and nothing below the threshold sneaks in
    assert(dupAll.filter(col("cos6") < tau).count() == 0)
  }

  test("PQ seeds survive sparse/offset id domains; degenerate embeddings " +
      "still assign (the min_by NULL-key guard)") {
    val emb = Tables.embeddings(spark, sfDir)
    // offset the id domain far past seedEvery·maxCodes: the old value cap
    // (`vec_id < 13·256`) yielded ZERO seeds here and the whole PQ path
    // returned empty; the rank cap must produce a full codebook and a
    // code for every vector
    val shifted = emb.withColumn("vec_id", col("vec_id") + lit(1000000000L))
    val n = shifted.count()
    val cb = Similarity.pqCodebook(shifted, dims = 64)
    assert(cb.count() > 0, "codebook must be non-empty on offset ids")
    val codes = Similarity.pqEncode(shifted, dims = 64)
    assert(codes.count() == n, "every offset-id vector gets a code")
    // a zero-norm vector's cosine divides by zero → NULL ordering key;
    // min_by must still assign it (deterministically, not drop the row)
    val degenerate = emb.limit(20).withColumn("embedding",
      expr("transform(embedding, v -> cast(0.0 as float))"))
    val mixed = emb.filter(col("vec_id") >= 20).unionByName(
      degenerate.withColumn("vec_id", col("vec_id")))
    val queries = emb.filter(col("vec_id") < 10)
      .withColumn("vec_id", col("vec_id") + lit(5000L))
    val assignedAll = Similarity.ivfTopK(mixed, queries, k = 5)
    assert(assignedAll.count() > 0)
    // the IVF cell assignment itself must cover every vector incl. the
    // zero-norm ones: probe-all equals brute force only if nothing drops
    val km = Similarity.kmeansFit(mixed, iters = 1)
    val assignedN = km.filter(col("i") === 0).agg(sum("n")).head.getLong(0)
    assert(assignedN == mixed.count(),
      s"kmeans assigned $assignedN of ${mixed.count()} (degenerates dropped?)")
  }

  test("pqTopK gives a null-embedding query the join regime's rows in a " +
      "kernel-sized batch too") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sfDir).select("vec_id", "embedding")
    val cb = Similarity.pqCodebook(emb, 64).localCheckpoint(eager = true)
    val nullQuery = Seq(100000L).toDF("vec_id")
      .withColumn("embedding", lit(null).cast(
        emb.schema("embedding").dataType))
    // queries × codebook rows past 65,536 forces the join regime
    val few = emb.filter(col("vec_id") < 10).unionByName(nullQuery)
    val many = emb.unionByName(nullQuery)
    assert(many.count() * cb.count() > 65536)
    def topK(q: org.apache.spark.sql.DataFrame) =
      Similarity.pqTopK(emb, q, 64, 5, codebook = Some(cb))
        .filter(col("q_id") < 10 || col("q_id") === 100000L)
        .collect().map(_.toSeq).toSet
    val join = topK(many)
    // a small batch with a null lookup runs the join regime; without the
    // null query it runs the ADC kernel
    assert(topK(few) == join)
    assert(topK(emb.filter(col("vec_id") < 10)) ==
      join.filterNot(_.head == 100000L))
    val nulls = join.filter(_.head == 100000L)
    assert(nulls.size == 5 && nulls.forall(_(2) == null), nulls)
  }

  test("int8 quantization: codes in range, round-half-away bound holds") {
    val emb = Tables.embeddings(spark, sfDir)
    val q = Similarity.quantizeInt8(emb)
    assert(q.filter(abs(col("q")) > 127).count() == 0,
      "codes must span at most [-127, 127]")
    // q = round(127·v6/s6) ⇒ |v6 − q·s6/127| ≤ s6/254 (+ grid slack);
    // re-derive v6 for the check: join back the exploded grid values
    val dims = emb.select(col("vec_id"),
      posexplode(col("embedding")).as(Seq("i", "v")))
      .select(col("vec_id"), col("i").cast("bigint").as("i"),
        expr("cast(round(cast(v as double) * 1000000, 0) as bigint)")
          .as("v6"))
    val joined = q.join(dims, Seq("vec_id", "i"))
      .filter(col("s6") > 0 &&
        abs(col("v6") * 254 - col("q").cast("bigint") * col("s6") * 2) >
          col("s6") + 2)
    assert(joined.count() == 0, "dequantization error exceeds s6/254")
    // every vector keeps at least one full-range code (scale = max|v|)
    val full = q.filter(abs(col("q")) === 127)
      .select("vec_id").distinct().count()
    assert(full == emb.count(), "max-|v| component must map to ±127")
  }

  test("int8 MIPS topk recall vs exact dot product") {
    import org.apache.spark.sql.expressions.Window
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.filter(col("vec_id") < 10)
    val w = Window.partitionBy("q_id")
      .orderBy(col("dot").desc, col("neighbor_id"))
    val q = queries.select(col("vec_id").as("q_id"), col("embedding").as("qe"))
    val exact = emb
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("ne"))
      .crossJoin(q).filter(col("neighbor_id") =!= col("q_id"))
      .select(col("q_id"), col("neighbor_id"),
        graft.functions.exprs.vec_dot(col("ne"), col("qe")).as("dot"))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= 5)
      .collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id"))).toSet
    val approx = Similarity.int8TopK(emb, queries, 5).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = approx.intersect(exact).size.toDouble / exact.size
    // 8-bit codes carry ~0.8% relative error per component — the top-5
    // set should be nearly identical, far above the PQ bound
    assert(recall >= 0.7, s"int8 MIPS recall was $recall")
  }

  test("PqAdc scaled-long arithmetic ≡ the round/decimal(25,9) aggregate " +
      "it replaces, across magnitudes") {
    import spark.implicits._
    // the ADC kernel pre-fixes each lookup to the 1e-9 grid as an
    // unscaled long (Similarity.adcScaled9) and sums longs; that must
    // reproduce sum(round(d2,9)::decimal(25,9))::double bit for bit
    val rnd = new scala.util.Random(42)
    val d2s = Seq.fill(512)(
      rnd.nextDouble() * math.pow(10.0, rnd.nextInt(9) - 4))
    val df = d2s.zipWithIndex.map { case (d, i) => (i / 8, d) }
      .toDF("g", "d2")
    val ref = df.groupBy("g")
      .agg(sum(round(col("d2"), 9).cast("decimal(25,9)")).cast("double")
        .as("s"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val got = d2s.zipWithIndex.groupBy(_._2 / 8).map { case (g, vs) =>
      g -> java.math.BigDecimal.valueOf(
        vs.map(v => Similarity.adcScaled9(v._1)).sum, 9).doubleValue()
    }
    ref.foreach { case (g, r) =>
      assert(java.lang.Double.doubleToRawLongBits(got(g)) ===
        java.lang.Double.doubleToRawLongBits(r), s"group $g: ${got(g)} != $r")
    }
  }
}
