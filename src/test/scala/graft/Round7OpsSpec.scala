package graft

import org.apache.spark.sql.functions._

import graft.operators._

/** Round-7 surfaces: the BOUNDED IVF coarse quantizer (adaptive cell
  * cap + injectable centroid table — the fix for the measured
  * quadratic-cells scaling at sf10) and its compatibility pins.
  */
class Round7OpsSpec extends TestSparkSession {

  import spark.implicits._

  private def emb = Tables.embeddings(spark, sfDir)

  test("ivfCoarseCentroids: below the cap the historical every-Nth " +
      "sample is reproduced exactly") {
    val got = Similarity.ivfCoarseCentroids(emb, centEvery = 97,
        maxCells = 256)
      .select("cent_id").collect().map(_.getLong(0)).toSet
    val want = emb.filter(col("vec_id") % 97 === 0)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(got == want && got.nonEmpty,
      s"expected the legacy centEvery sample, got ${got.size} cells")
  }

  test("ivfCoarseCentroids: above the cap cell count is bounded and " +
      "centroids spread across the whole id range") {
    // 500 vectors, centEvery = 1 → uncapped would be 500 cells
    val cents = Similarity.ivfCoarseCentroids(emb, centEvery = 1,
        maxCells = 16)
      .select("cent_id").collect().map(_.getLong(0))
    assert(cents.length <= 16, s"cap violated: ${cents.length} cells")
    assert(cents.length >= 12, s"cap too loose a bound: ${cents.length}")
    // adaptive stride (not a prefix take): cells must reach well past
    // the first maxCells ids
    val n = emb.count()
    assert(cents.max >= n / 2,
      s"centroids clustered in the id prefix: max id ${cents.max} of $n")
  }

  test("ivfTopK: full probe against a tightly capped quantizer still " +
      "equals brute force (cells change candidates, never scores)") {
    val queries = emb.filter(col("vec_id") < 10)
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("q_id"), r.getAs[Long]("rk"),
        r.getAs[Long]("neighbor_id"), r.getAs[Double]("cos6"))
    val brute = Similarity.bruteForceTopK(emb, queries, 5)
      .collect().map(key).toSet
    val capped = Similarity.ivfTopK(emb, queries, 5,
        probes = Int.MaxValue, centEvery = 1, maxCells = 16)
      .collect().map(key).toSet
    assert(capped == brute && brute.nonEmpty)
  }

  test("ivfTopK: a kmeansFit-trained injectable quantizer plugs in and " +
      "covers the corpus") {
    val queries = emb.filter(col("vec_id") < 10)
    val trained = Similarity.ivfCentroidTable(
      Similarity.kmeansFit(emb, iters = 1))
    val nq = queries.count()
    val got = Similarity.ivfTopK(emb, queries, 5,
      centroids = Some(trained))
    // every query must fill its whole top-5: the trained assignment
    // covered every base vector, so probed cells are never empty
    assert(got.count() == nq * 5)
    // and full-probe over the trained cells is still exact
    def pair(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id"))
    val full = Similarity.ivfTopK(emb, queries, 5,
        probes = Int.MaxValue, centroids = Some(trained))
      .collect().map(pair).toSet
    val brute = Similarity.bruteForceTopK(emb, queries, 5)
      .collect().map(pair).toSet
    assert(full == brute)
  }

  test("hyperplane LSH recall >= 0.8 on a planted near-dup embedding set") {
    // plant deterministic near-dups: each base vector gets a jittered
    // copy at cos ~0.95-0.99 (seeded per-id perturbation, no run-to-run
    // variance). This is the regime banding exists for — the old 0.2
    // gate on tau=0.3 real-corpus pairs would pass near-broken banding.
    val base = emb.select("vec_id", "embedding").limit(100).collect()
      .map(r => (r.getLong(0),
        r.getAs[scala.collection.Seq[Float]](1).toArray))
    val planted = base.flatMap { case (id, v) =>
      val rnd = new scala.util.Random(id)
      val norm = math.sqrt(v.map(x => x * x.toDouble).sum)
      val jitter = (norm * 0.12 / math.sqrt(v.length)).toFloat
      val copy = v.map(x => x + (rnd.nextFloat() * 2f - 1f) * jitter)
      Seq((id, v.toSeq), (id + 1000000L, copy.toSeq))
    }.toSeq.toDF("vec_id", "embedding")
      .select(col("vec_id"),
        col("embedding").cast("array<float>").as("embedding"))
    val tau = 0.9
    def pairs(df: org.apache.spark.sql.DataFrame) = df
      .select("v1", "v2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.cosinePairs(planted, tau))
    val lsh = pairs(Similarity.hyperplaneLshPairs(planted, tau))
    assert(lsh.subsetOf(exact), "LSH emitted a non-exact pair")
    // every planted (id, id+1e6) pair should be in the exact truth set
    assert(base.count(b => exact.contains((b._1, b._1 + 1000000L))) >= 90,
      "planted jitter drifted below tau — perturbation too large")
    val recall = if (exact.isEmpty) 1.0 else
      lsh.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.8,
      s"hyperplane LSH recall $recall over ${exact.size} planted pairs")
  }

  test("rep-level hyperplane output expands bit-identically to the " +
      "member-pair list (C7g round-trip, exact cliques + near-dups)") {
    // corpus with BOTH shapes the contract must carry: exact-copy
    // cliques (base + two exact copies -> 3-cliques, identity rows
    // r1 = r2) and distinct jittered near-dups (cross rep pairs)
    val base = emb.select("vec_id", "embedding").limit(60).collect()
      .map(r => (r.getLong(0),
        r.getAs[scala.collection.Seq[Float]](1).toArray))
    val corpus = base.flatMap { case (id, v) =>
      val rnd = new scala.util.Random(id * 7 + 3)
      val norm = math.sqrt(v.map(x => x * x.toDouble).sum)
      val jitter = (norm * 0.10 / math.sqrt(v.length)).toFloat
      val copy = v.map(x => x + (rnd.nextFloat() * 2f - 1f) * jitter)
      Seq((id, v.toSeq), (id + 1000000L, v.toSeq),       // exact copy
        (id + 2000000L, v.toSeq),                        // exact copy
        (id + 3000000L, copy.toSeq))                     // near-dup
    }.toSeq.toDF("vec_id", "embedding")
      .select(col("vec_id"),
        col("embedding").cast("array<float>").as("embedding"))
    val tau = 0.9
    val expanded = Similarity.hyperplaneLshPairs(corpus, tau)
      .select("v1", "v2", "cos6").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val rep = Similarity.hyperplaneLshPairs(corpus, tau, expand = false)
    // identity cliques present (r1 = r2) and cross rep pairs present
    assert(rep.filter(col("r1") === col("r2")).count() >= 50,
      "expected identity cliques from the planted exact copies")
    assert(rep.filter(col("r1") =!= col("r2")).count() >= 1,
      "expected cross rep pairs from the planted near-dups")
    val roundTrip = Similarity.expandRepPairs(rep)
      .select("v1", "v2", "cos6").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(roundTrip == expanded,
      s"round-trip mismatch: ${roundTrip.size} vs ${expanded.size} pairs; " +
        s"only-rt=${(roundTrip -- expanded).take(3)} " +
        s"only-exp=${(expanded -- roundTrip).take(3)}")
    // the compression is real: rep-level row count strictly below the
    // expanded pair count on a clique-bearing corpus
    assert(rep.count() < expanded.size,
      "rep-level output should be smaller than the expansion")
  }

  test("rep-level dedup path: canonicalizeRep / dedupedCorpusRep / " +
      "clusterSizesRep are bit-identical to the expanded-pair versions") {
    val docs = Tables.documents(spark, sfDir)
    val tau = 0.5
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    val lblExp = rows(Dedup.canonicalize(Dedup.ngramJaccard(docs, tau)))
    val lblRep = rows(Dedup.canonicalizeRep(
      Dedup.ngramJaccard(docs, tau, expand = false)))
    assert(lblRep == lblExp,
      s"canonicalizeRep labels diverge: ${lblRep.size} vs ${lblExp.size}")
    assert(rows(Dedup.dedupedCorpusRep(docs, tau)) ==
      rows(Dedup.dedupedCorpus(docs, tau)), "dedupedCorpusRep diverges")
    assert(rows(Dedup.clusterSizesRep(docs, tau)) ==
      rows(Dedup.clusterSizes(docs, tau)), "clusterSizesRep diverges")
    // compression is strict once cliques exist: replicate each doc 5×
    // (the sf10/sf100 shape) and the expanded list grows ~C(5,2)-fold
    // while the rep list stays put — also re-pin label equality there
    val maxId = docs.agg(max("doc_id")).first().getLong(0) + 1
    val cliqued = (0 until 5).map(k =>
      docs.withColumn("doc_id", col("doc_id") + lit(k * maxId)))
      .reduce(_ unionByName _)
    val nRep = Dedup.ngramJaccard(cliqued, tau, expand = false).count()
    val nExp = Dedup.ngramJaccard(cliqued, tau).count()
    assert(nRep < nExp,
      s"expected compression: rep rows $nRep vs expanded pairs $nExp")
    assert(rows(Dedup.canonicalizeRep(
        Dedup.ngramJaccard(cliqued, tau, expand = false))) ==
      rows(Dedup.canonicalize(Dedup.ngramJaccard(cliqued, tau))),
      "canonicalizeRep diverges on the cliqued corpus")
  }

  test("minhash LSH recall >= 0.8 on a paraphrase-heavy corpus " +
      "(distinct near-dups — the regime the exact-dup collapse can't help)") {
    val docs = Tables.documents(spark, sfDir)
    val para = graft.tools.ParaphraseBench.paraphraseCorpus(docs, 4)
    // the corpus must be dominated by DISTINCT texts: word-level edits,
    // not exact copies, so ngramJaccard's representative collapse can't
    // shortcut the quadratic join and LSH is the genuine scale path
    val n = para.count()
    val distinct = para.select("text").distinct().count()
    assert(distinct.toDouble / n >= 0.8,
      s"paraphrase corpus degenerated to copies: $distinct of $n distinct")
    def pairs(df: org.apache.spark.sql.DataFrame) = df
      .select("d1", "d2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Dedup.ngramJaccard(para, 0.5))
    val lsh = pairs(Dedup.lshPairs(para, 0.5).select(
      col("d1"), col("d2")))
    assert(lsh.subsetOf(exact), "LSH emitted a non-verified pair")
    assert(exact.size >= 1000, s"too few true pairs: ${exact.size}")
    val recall = lsh.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.8,
      s"minhash LSH recall $recall over ${exact.size} paraphrase pairs")
  }

  test("simhash: collapsed formulation is identical to the uncollapsed " +
      "band join (hamming via packed-long bit_count)") {
    val docs = Tables.documents(spark, sfDir)
    // duplicate-heavy corpus: every doc twice (the shape the collapse
    // exists for), plus the originals
    val dup = docs.select((col("doc_id") + 1000000L).as("doc_id"),
      col("text"))
    val corpus = docs.select("doc_id", "text").unionByName(dup)
    // reference = the pre-collapse formulation, inline
    val fps = corpus.select(col("doc_id"),
      graft.functions.exprs.simhash_bands(col("text")).as("bands16"))
    val banded = fps.select(col("doc_id"), col("bands16"),
      posexplode(col("bands16")).as(Seq("band", "bv")))
    val reference = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        col("a.bands16").as("ba"), col("b.bands16").as("bb"))
      .distinct()
      .withColumn("hamming", expr("aggregate(zip_with(ba, bb, " +
        "(x, y) -> bit_count(x ^ y)), 0, (acc, v) -> acc + v)"))
      .filter(col("hamming") <= 3)
      .select("d1", "d2", "hamming").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val got = Dedup.simhash(corpus, maxHamming = 3).collect()
      .map(r => (r.getAs[Long]("d1"), r.getAs[Long]("d2"),
        r.getAs[Int]("hamming"))).toSet
    assert(got == reference && got.nonEmpty,
      s"collapse changed the pair set: ${got.size} vs ${reference.size}")
    // and the planted copies pair at hamming 0
    assert(got.contains((0L, 1000000L, 0)))
  }

  test("washPairs: a planted ring in an over-cap hour is still caught " +
      "(hot hours degrade to their heaviest wallets, never drop)") {
    // two ring wallets (1, 2) are the HEAVIEST traders in two hours that
    // both exceed the cap; 50 one-trade background wallets per hour push
    // each (hour, side) well past maxBucketWallets = 16
    val h1 = 0L; val h2 = 3600L
    val ring = Seq.tabulate(10)(i => (h1 + i, 1L, "purchase")) ++
      Seq.tabulate(10)(i => (h1 + i, 2L, "view")) ++
      Seq.tabulate(10)(i => (h2 + i, 2L, "purchase")) ++
      Seq.tabulate(10)(i => (h2 + i, 1L, "view"))
    val bg = for {
      h <- Seq(h1, h2); w <- 100L to 149L
      r <- Seq((h + w, w, "purchase"), (h + w, w, "view"))
    } yield r
    val ev = (ring ++ bg).toDF("sec", "user_id", "event_type")
      .select(expr("timestamp_seconds(sec)").as("ts"),
        col("user_id"), col("event_type"))
    val got = EventOps.washPairs(ev, maxBucketWallets = 16)
      .collect().map(r => (r.getAs[Long]("wallet_a"),
        r.getAs[Long]("wallet_b"), r.getAs[Long]("hours_ab"),
        r.getAs[Long]("hours_ba"))).toSet
    // the ring survives with exact direction counts (1 buys/2 sells in
    // h1; reversed in h2)
    assert(got.contains((1L, 2L, 1L, 1L)),
      s"planted ring lost; got ${got.take(5)}")
    // and the cap still binds: per (hour, side) rank keeps ids 100..114
    // of the nb=1 background (user_id tie-break), so 115+ never pair
    val overCap = got.filter(p => p._1 >= 115L || p._2 >= 115L)
    assert(overCap.isEmpty, s"beyond-cap wallets leaked: $overCap")
  }

  test("washPairs reversal-mask pre-filter ≡ the unfiltered shape " +
      "(both regimes, same synthetic corpus)") {
    // same corpus as the planted-ring test, plus wallets that trade
    // ONE direction only (pure buyers 200..204, pure sellers 300..304
    // across both hours) — the rows the mask filter exists to drop
    val h1 = 0L; val h2 = 3600L
    val ring = Seq.tabulate(10)(i => (h1 + i, 1L, "purchase")) ++
      Seq.tabulate(10)(i => (h1 + i, 2L, "view")) ++
      Seq.tabulate(10)(i => (h2 + i, 2L, "purchase")) ++
      Seq.tabulate(10)(i => (h2 + i, 1L, "view"))
    val oneSided = for {
      h <- Seq(h1, h2); w <- 200L to 204L
      r <- Seq((h + w, w, "purchase"), (h + w + 500, w + 100, "view"))
    } yield r
    val bg = for {
      h <- Seq(h1, h2); w <- 100L to 149L
      r <- Seq((h + w, w, "purchase"), (h + w, w, "view"))
    } yield r
    val ev = (ring ++ oneSided ++ bg).toDF("sec", "user_id", "event_type")
      .select(expr("timestamp_seconds(sec)").as("ts"),
        col("user_id"), col("event_type"))
    def run(): Set[(Long, Long, Long, Long)] =
      EventOps.washPairs(ev, maxBucketWallets = 16)
        .collect().map(r => (r.getAs[Long]("wallet_a"),
          r.getAs[Long]("wallet_b"), r.getAs[Long]("hours_ab"),
          r.getAs[Long]("hours_ba"))).toSet
    val conf = "spark.graft.washPairsMaskMinWallets"
    spark.conf.set(conf, "0") // force the masked path on a tiny corpus
    val masked = try run() finally spark.conf.unset(conf)
    val plain = run() // 112 wallets < the default gate → fallback shape
    assert(masked == plain && masked.contains((1L, 2L, 1L, 1L)),
      s"regimes disagree: masked=${masked.size} plain=${plain.size} " +
        s"diff=${(masked diff plain) ++ (plain diff masked)}")
  }

  test("coactivityPagerankCapped: an over-cap hour degrades to its " +
      "heaviest wallets instead of dropping (A71 goes vacuous there)") {
    // one (type, hour) bucket with 40 wallets: 1..16 have 3 events
    // each (the heaviest), 100..123 one event each
    val heavy = for (w <- 1L to 16L; i <- 0 until 3)
      yield (w * 60 + i, w, "purchase")
    val bg = (100L to 123L).map(w => (w + 1800L, w, "purchase"))
    val ev = (heavy ++ bg).toDF("sec", "user_id", "event_type")
      .select(expr("timestamp_seconds(sec)").as("ts"),
        col("user_id"), col("event_type"))
    // the dropped-bucket graph is empty at this density — the sf10
    // vacuity shape this operator exists to fix
    assert(GraphOps.coactivityPagerank(ev, maxGroupSize = 16,
      policy = GraphOps.DropAll(acknowledgeVacuous = true)).count() == 0)
    val got = GraphOps.coactivityPagerank(ev, maxGroupSize = 16)
      .collect().map(r => (r.getAs[Long]("node"),
        r.getAs[Long]("deg"), r.getAs[Long]("pr")))
    assert(got.map(_._1).toSet == (1L to 16L).toSet,
      s"expected exactly the 16 heaviest wallets, got ${got.length}")
    // complete 16-clique: deg 15 each, and rank mass splits evenly
    // (every node symmetric) — pr = 1e12/16 ± the integer truncation
    assert(got.forall(_._2 == 15L))
    assert(got.map(_._3).distinct.length == 1,
      "symmetric clique must rank evenly")
  }

  test("coactivityPagerankCapped: below the cap it is bit-identical " +
      "to coactivityPagerank (same edges, same integer loop)") {
    // buckets of size 2..5, all under both caps
    val ev = (for {
      h <- 0 until 4; w <- 0 to (2 + h)
    } yield (h * 3600L + w, (h * 3 + w).toLong, "view"))
      .toDF("sec", "user_id", "event_type")
      .select(expr("timestamp_seconds(sec)").as("ts"),
        col("user_id"), col("event_type"))
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("node"),
        r.getAs[Long]("deg"), r.getAs[Long]("pr"))).toSet
    val capped = key(GraphOps.coactivityPagerank(ev,
      maxGroupSize = 16))
    val dropped = key(GraphOps.coactivityPagerank(ev,
      maxGroupSize = 64, policy = GraphOps.DropAll(acknowledgeVacuous = true)))
    assert(capped == dropped && capped.nonEmpty)
  }

  test("ivfpqTopK: full probe with the capped quantizer is still " +
      "bit-identical to pure PQ ADC") {
    val queries = emb.filter(col("vec_id") < 10)
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("q_id"), r.getAs[Long]("rk"),
        r.getAs[Long]("neighbor_id"), r.getAs[Double]("adc_d2"))
    val full = Similarity.ivfpqTopK(emb, queries, dims = 64, k = 5,
      probes = Int.MaxValue, centEvery = 1, maxCells = 16)
      .collect().map(key).toSet
    val pq = Similarity.pqTopK(emb, queries, dims = 64, k = 5)
      .collect().map(key).toSet
    assert(full == pq && pq.nonEmpty)
  }

  // -------- round-7 batch 2: the two-level exact collapse + rep reports

  private def cliqued(base: org.apache.spark.sql.DataFrame, copies: Int) = {
    val maxId = base.agg(max("doc_id")).first().getLong(0) + 1
    (0 until copies).map(k =>
      base.withColumn("doc_id", col("doc_id") + lit(k * maxId)))
      .reduce(_ unionByName _)
  }

  test("gramSetGroups: the two-level text-digest collapse is identical " +
      "to the one-level gram-set grouping") {
    val docs = cliqued(Tables.documents(spark, sfDir), 3)
    val oneLevel = Dedup.withTrigrams(docs).groupBy("grams")
      .agg(min("doc_id").as("rep"),
        sort_array(collect_list(col("doc_id"))).as("members"))
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("grams", "rep", "members").collect()
      .map(r => (r.getSeq[String](0), r.getLong(1), r.getSeq[Long](2)))
      .toSet
    val two = rows(Dedup.gramSetGroups(docs))
    assert(two == rows(oneLevel) && two.nonEmpty,
      s"two-level collapse diverges (${two.size} groups)")
  }

  test("minhash LSH: expand=false round-trips to the expanded output " +
      "(identity cliques at jac 1.0, cross pairs through member lists)") {
    val base = graft.tools.ParaphraseBench
      .paraphraseCorpus(Tables.documents(spark, sfDir), 2)
    val corpus = cliqued(base, 2) // distinct near-dups AND exact cliques
    val rep = Dedup.minhashLsh(corpus, 0.5, expand = false).collect()
    // expand rep rows independently, driver-side
    val handExpanded = rep.flatMap { r =>
      val (r1, r2, jac) = (r.getAs[Long]("r1"), r.getAs[Long]("r2"),
        r.getAs[Double]("jac"))
      val m1 = r.getSeq[Long](r.fieldIndex("m1"))
      val m2 = r.getSeq[Long](r.fieldIndex("m2"))
      if (r1 == r2) {
        assert(jac == 1.0 && m1 == m2 && m1.size >= 2,
          s"malformed identity rep row ($r1, $r2)")
        for (a <- m1; b <- m2 if a < b) yield (a, b, jac)
      } else
        for (a <- m1; b <- m2)
          yield (math.min(a, b), math.max(a, b), jac)
    }.toSet
    val expanded = Dedup.minhashLsh(corpus, 0.5).collect()
      .map(r => (r.getAs[Long]("d1"), r.getAs[Long]("d2"),
        r.getAs[Double]("jac"))).toSet
    assert(handExpanded == expanded && expanded.nonEmpty,
      s"rep round-trip diverges: ${handExpanded.size} vs ${expanded.size}")
    // and the collapse compresses once cliques exist
    assert(rep.length < expanded.size,
      s"expected compression: ${rep.length} rep rows vs ${expanded.size}")
  }

  test("rep-fed reports are bit-identical to their expanded twins " +
      "(exact feed AND the shared-banding LSH feed)") {
    val docs = cliqued(Tables.documents(spark, sfDir), 3)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    assert(rows(Dedup.splitLeakageRep(docs)) ==
      rows(Dedup.splitLeakage(docs)), "splitLeakageRep diverges")
    assert(rows(Dedup.effectiveTokensRep(docs)) ==
      rows(Dedup.effectiveTokens(docs)), "effectiveTokensRep diverges")
    assert(rows(Dedup.crossSourceDupFlowRep(docs)) ==
      rows(Dedup.crossSourceDupFlow(docs)),
      "crossSourceDupFlowRep diverges")
    // LSH feeds share the banding (deterministic seeds), so rep-fed and
    // expanded-fed reports must agree exactly — recall loss cancels
    assert(rows(Dedup.splitLeakageRep(docs,
        repPairs = Some(Dedup.lshPairsRep(docs)))) ==
      rows(Dedup.splitLeakage(docs,
        pairs = Some(Dedup.lshPairs(docs)))),
      "LSH-fed splitLeakage rep/expanded diverge")
    assert(rows(Dedup.effectiveTokensRep(docs,
        repPairs = Some(Dedup.lshPairsRep(docs)))) ==
      rows(Dedup.effectiveTokens(docs,
        pairs = Some(Dedup.lshPairs(docs)))),
      "LSH-fed effectiveTokens rep/expanded diverge")
  }

  test("softDedupWeights: planted clusters weight 1/c, singletons 1, " +
      "and the multiplicity histogram conserves the corpus") {
    // 3-clique of exact copies, a 2-cluster of near-dups, 2 singletons
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val near = base + " lambda" // trigram jaccard vs base = 8/11 >= 0.5
    val docs = Seq(
      (1L, base, "a"), (2L, base, "b"), (3L, base, "a"),
      (10L, near, "a"), (11L, near + " mu nu xi omicron pi rho", "b"),
      (20L, "one two three four five six seven eight nine ten", "a"),
      (21L, "completely different words in this document here now", "b"))
      .toDF("doc_id", "text", "source")
    val w = Dedup.softDedupWeights(docs, tau = 0.5)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("cluster_size"), r.getAs[Double]("weight"))).toMap
    // 1,2,3 identical; 10 is a near-dup of them (jac(base, near) =
    // 8/11); 11 drifted past tau of 10? keep the assertion structural:
    // the three exact copies + their near-dups share one cluster
    val c1 = w(1L)._1
    assert(c1 >= 3 && w(1L) == w(2L) && w(2L) == w(3L),
      s"exact 3-clique split: ${w(1L)}, ${w(2L)}, ${w(3L)}")
    assert(w(1L)._2 == 1.0 / c1, s"weight != 1/c: ${w(1L)}")
    assert(w(20L) == (1L, 1.0) && w(21L) == (1L, 1.0),
      s"singletons must weigh 1: ${w(20L)}, ${w(21L)}")
    // histogram conserves: sum(n_docs) == corpus size, and the
    // effective mass sum(n_docs/c) counts each cluster exactly once
    val h = Dedup.sourceMultiplicity(docs, tau = 0.5)
      .collect().map(r => (r.getAs[String]("source"),
        r.getAs[Long]("cluster_size"), r.getAs[Long]("n_docs")))
    assert(h.map(_._3).sum == 7, s"histogram lost docs: ${h.toSeq}")
    val effective = w.values.map(_._2).sum
    val nClusters = w.values.map(_._1).toSeq.distinct // not exact count
    assert(effective > 2.9 && effective < 7.0,
      s"effective mass out of range: $effective (sizes $nClusters)")
  }
}
