package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Graph analytics over the wallet co-activity graph.
  *
  * The reference's bot/dev-attribution heuristics (global_state.rs dev
  * address sets, wash-trade pairing) are all special cases of "who acts
  * together": this operator builds the general co-activity graph and
  * ranks wallets by exact-integer PageRank.
  *
  * Determinism engineering (the property every float query in this repo
  * holds): rank mass is a BIGINT scaled by 1e12 and every PageRank step
  * is integer arithmetic — `pr div deg` truncating division fans mass
  * out, `(85 · Σ incoming) div 100` applies the damping factor — so the
  * fixed-point after k iterations is bit-identical on any partitioning
  * AND reproducible in any engine with 64-bit integer division (the
  * DuckDB oracle unrolls the same 10 steps as plain CTEs). A float
  * PageRank would be partition-order dependent and un-oracle-able.
  *
  * Scale notes (100 TB): the pair fan-out inside one (market, hour)
  * group is quadratic in the group's active-wallet count, so groups
  * beyond `maxGroupSize` degrade to their `maxGroupSize` most-active
  * wallets by default ([[CapTop]]) — a corpus-wide hot hour otherwise
  * materializes k² edge rows; the legacy [[DropAll]] filter (delete
  * over-cap groups whole, the `Dedup.ngramJaccard(maxDocFreq)` policy)
  * is opt-in because it goes silently vacuous at production density. The edge list and out-degrees
  * are built once, `localCheckpoint`ed (iterating on a live lineage
  * re-derives the whole upstream pipeline every round and the plan
  * grows combinatorially — same lesson as `Dedup.canonicalize`).
  * Iteration cost is regime-dependent. The pagerank, taint and
  * label-propagation loops have three regimes, picked by two gates:
  *  - driver: at most [[DefaultDriverEdgeLimit]] directed edges (the
  *    count is observed inside the edge checkpoint's job). The edge list
  *    is collected once into a [[LocalGraph]] and every round runs on
  *    the driver with the same integer arithmetic; building the query
  *    costs the edge build plus one collect, not a job per round. A
  *    graph of a few thousand wallets runs faster on one thread than
  *    spread over a scheduler.
  *  - broadcast: more edges, at most [[DefaultBroadcastNodeLimit]]
  *    nodes. Node-sized rank state broadcasts into the per-round join,
  *    so a round never re-shuffles or re-sorts the edge list — the only
  *    exchange left moves the map-side-combined partial sums, whose
  *    volume is per-partition-distinct dst keys (node-sized), not edge
  *    rows.
  *  - shuffle: past the node limit each round joins on `src` by
  *    shuffle, plus the same combined `dst` aggregate.
  * All three return equal rows (`GraphRegimeSpec` forces each). The
  * other graph operators (k-core, clusters, assortativity) have only
  * the broadcast and shuffle regimes.
  */
object GraphOps {

  /** What to do with a (market, hour) bucket whose active-wallet count
    * exceeds the quadratic-fan-out cap. The DEFAULT everywhere is
    * [[CapTop]] (degrade, never drop): the round-8 sf100 sidecar
    * witnessed every unsuffixed drop-policy graph query returning 0
    * rows at production density while its capped twin returned
    * thousands — the reference never silently drops either (its
    * bounded queues COUNT drops, common/subscription.rs:1), so silent
    * emptiness is the one semantics a 100 TB deployment must not get
    * by default. [[DropAll]] remains as an explicit opt-in for
    * organic-density corpora where deleting crowd-noise hours whole is
    * the analytically right call. */
  sealed trait OverCapPolicy
  /** Degrade-not-drop (default): an over-cap bucket contributes its
    * `maxGroupSize` most-active wallets (count desc, id tie-break). */
  case object CapTop extends OverCapPolicy
  /** Legacy drop policy (opt-in): over-cap buckets are deleted whole —
    * vacuous when density crosses the cap everywhere. Because that
    * vacuity is SILENT (a caller at production density gets 0 rows
    * with no error — the round-8 sf100 witness), constructing the
    * policy requires spelling out `acknowledgeVacuous = true`; the
    * constructor refuses an unacknowledged instance. [[EventOps.capAccounting]]
    * reports how much each family's cap would drop — run it first. */
  final case class DropAll(acknowledgeVacuous: Boolean = false)
      extends OverCapPolicy {
    // enforced at CONSTRUCTION, not per consumer: an unacknowledged
    // instance must not exist, so no consumer that pattern-matches
    // `case _: DropAll` can revert to the legacy silent-emptiness
    // behavior this guard exists to prevent
    require(acknowledgeVacuous,
      "DropAll deletes every over-cap bucket whole and returns ZERO " +
      "rows when density crosses the cap everywhere (witnessed at " +
      "sf100). Pass DropAll(acknowledgeVacuous = true) to confirm " +
      "that is intended, or use the CapTop default (degrade, never " +
      "drop); EventOps.capAccounting quantifies what the cap drops.")
  }

  /** Node-count gate between the broadcast and shuffle regimes (the
    * second and third; graphs under [[DefaultDriverEdgeLimit]] edges
    * never reach it in the pagerank, taint and label-propagation
    * loops). Node-sized iteration state (two longs per row) is
    * broadcast into the per-round joins when the graph is small enough
    * that shipping ~32 MB beats re-sorting the edge list every round;
    * past the limit the loops fall back to the shuffle join. The node
    * count is already on the driver (the loops count it once for the
    * rank seed), so the choice costs nothing extra. Every loop takes
    * the limit as a parameter (default this constant) so the at-scale
    * shuffle-join regime is testable: the specs force the limit to 0
    * (with `driverEdgeLimit = 0` where the loop has a driver regime)
    * and pin bit-equality with the broadcast path — both regimes are
    * the same integer arithmetic, only the join strategy differs. */
  val DefaultBroadcastNodeLimit: Long = 2L * 1000 * 1000

  /** Edge-count gate of the driver regime, the first of the three
    * regimes of the pagerank, taint and label-propagation loops. At or
    * below it the loop collects its checkpointed edge list once into a
    * [[LocalGraph]] (16 B per edge as collected: 4M edges ≈ 64 MiB) and
    * runs every round on the driver with the same integer arithmetic —
    * no job per round, no per-round checkpoint. The count it compares
    * is observed inside the edge checkpoint's own job. Every loop takes
    * the limit as a parameter (default this constant), so a spec can
    * force the distributed regimes on a small graph with 0. */
  val DefaultDriverEdgeLimit: Long = 4L << 20

  /** The edge build's checkpoint, with the directed-edge count observed
    * in the same job (`spark.graft.reliableCheckpoint` applies). */
  private def countedEdges(raw: DataFrame): (DataFrame, Long) =
    Checkpoints.truncateObserved(raw, count(lit(1)))

  /** The driver-regime gate: `m` edges within the limit, and BIGINT
    * wallet keys — the events table's `user_id`; other key types (test
    * fixtures with string ids) iterate the distributed loops. */
  private def onDriver(edges: DataFrame, m: Long,
      driverEdgeLimit: Long): Boolean =
    m <= math.min(driverEdgeLimit, LocalGraph.MaxEdges) &&
      edges.schema("src").dataType == org.apache.spark.sql.types.LongType

  /** A driver-regime result: (node, deg, `name`) per node. */
  private def nodeFrame(edges: DataFrame, g: LocalGraph, v: Array[Long],
      name: String): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    g.ids.indices.map(u => (g.ids(u), g.deg(u).toLong, v(u)))
      .toDF("node", "deg", name)
  }

  /** Pin an iterated table's partitioning to the column its per-round
    * aggregate/join re-clusters on. The partition COUNT is left to AQE
    * (a bare repartition(col) is coalescible): unlike the fan-out
    * spreaders (cappedBuckets/washPairs — explicit counts because their
    * downstream explodes far beyond the map input), a loop round's work
    * is proportional to the iterated table itself, so byte-proportional
    * sizing is exactly right (guide §2: derive partitioning from input
    * size, not a constant tuned for one deployment) — the former
    * max(32, shuffle.partitions) ran 32 near-empty tasks per round per
    * query on node-sized state at bench scale and was no less arbitrary
    * one decade up. */
  private def keyed(df: DataFrame,
      cs: org.apache.spark.sql.Column*): DataFrame =
    df.repartition(cs: _*)

  /** Per-(market, hour) membership lists under the DROP policy: groups
    * larger than `maxGroupSize` are deleted whole before the quadratic
    * pair fan-out. Output: (event_type, mb, us) with 2 ≤ |us| ≤ cap.
    *
    * Shape: ONE bucket-keyed aggregate ([[graft.functions.
    * BoundedMembershipAgg]]) — the map-side partial dedupes a wallet's
    * many same-hour events locally and the single exchange ships one
    * ≤ cap-entry set per (bucket, map partition). This replaces the
    * former three-stage pipeline (3-key `distinct` exchange →
    * bucket-key re-exchange + localCheckpoint → size count + membership
    * join + `collect_list`): two distinct-activity-sized exchanges, a
    * checkpoint and a join collapse into one bounded-bytes shuffle.
    * The old safety property — a corpus-wide hot hour never
    * materializes its membership — holds by construction: a buffer
    * collapses to an overflow sentinel the moment it exceeds the cap.
    *
    * The explicit repartition AFTER the aggregate is task spreading,
    * not clustering: the kept-bucket table is tiny (AQE would coalesce
    * it to one task by map-input size) but the pair explode downstream
    * fans out quadratically in |us| — the washPairs lesson. It moves
    * ≤ cap longs per KEPT bucket, a sliver of the former re-exchange. */
  private def droppedBuckets(
      events: DataFrame, maxGroupSize: Int): DataFrame =
    events.select(col("event_type"),
        expr("unix_micros(ts) div 3600000000").as("mb"),
        col("user_id"))
      .groupBy("event_type", "mb")
      .agg(graft.functions.BoundedMembershipAgg.boundedMembership(
        col("user_id"), maxGroupSize).as("us"))
      .filter(col("us").isNotNull)
      .repartition(math.max(32,
        events.sparkSession.sessionState.conf.numShufflePartitions),
        col("event_type"), col("mb"))

  /** Per-(market, hour) membership lists under the DEGRADE policy: each
    * bucket keeps its `maxGroupSize` MOST-ACTIVE wallets (event count
    * desc, wallet id tie-break) instead of being dropped when over-cap
    * — non-vacuous at ANY density, fan-out still ≤ cap² per bucket.
    * This is the rank-cap the whole capped family shares; Spark plans
    * the rank filter as a WindowGroupLimit (top-N per partition
    * map-side), never a full per-bucket sort. */
  private def cappedBuckets(
      events: DataFrame, maxGroupSize: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // per-(market, hour) wallet activity counts — the ranking signal
    val act = events.select(col("event_type"),
        expr("unix_micros(ts) div 3600000000").as("mb"),
        col("user_id"))
      .groupBy("event_type", "mb", "user_id")
      .agg(count(lit(1)).as("cnt"))
    // explicit bucket repartition before the rank window: the
    // wallet-bucket table is small enough for AQE to coalesce to one
    // partition, but the explode downstream fans it out quadratically
    // and AQE sizes stages by map INPUT (the washPairs lesson) — pin
    // the exchange so one task never owns every bucket's fan-out
    val nPart = math.max(32,
      events.sparkSession.sessionState.conf.numShufflePartitions)
    act.repartition(nPart, col("event_type"), col("mb"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("event_type"), col("mb"))
          .orderBy(col("cnt").desc, col("user_id"))))
      .filter(col("rk") <= maxGroupSize)
      .groupBy("event_type", "mb")
      .agg(collect_list(col("user_id")).as("us")) // bounded ≤ maxGroupSize
      .filter(size(col("us")) >= 2)
  }

  /** Map-side double-explode of per-bucket membership into the directed
    * distinct edge set — pair fan-out is bounded by the builders' cap,
    * replacing a self-join that would re-shuffle the activity set
    * twice more. */
  private def edgesFromBuckets(buckets: DataFrame): DataFrame =
    buckets
      .select(explode(col("us")).as("src"), col("us"))
      .select(col("src"), explode(col("us")).as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()

  /** Directed co-activity edge list: (src, dst) for every ordered pair
    * of wallets active in the same (market, hour) group. Over-cap
    * groups degrade per `policy` — default [[CapTop]]: each keeps its
    * `maxGroupSize` most-active wallets, so the edge set is non-empty
    * at ANY density and fan-out stays ≤ cap² per bucket. Both
    * directions are present (the graph is symmetric); filter
    * `src < dst` for the undirected edge set. One raw scan + one
    * raw-sized shuffle total; everything after moves
    * distinct-activity-sized data.
    *
    * [[DropAll]] (opt-in) deletes over-cap groups whole BEFORE the
    * quadratic pair fan-out — CAUTION: vacuous when every bucket is
    * over-cap (witnessed at sf10/sf100 — empty graph, 0-row result). */
  def coactivityEdges(events: DataFrame, maxGroupSize: Int,
      policy: OverCapPolicy = CapTop): DataFrame =
    edgesFromBuckets(bucketsFor(events, maxGroupSize, policy))

  private def bucketsFor(events: DataFrame, maxGroupSize: Int,
      policy: OverCapPolicy): DataFrame = policy match {
    case CapTop => cappedBuckets(events, maxGroupSize)
    case _: DropAll =>
      droppedBuckets(events, maxGroupSize)
  }

  /** Wallets ranked by 10 rounds of damped (0.85) integer PageRank over
    * the "active in the same market-hour" graph. Output: one row per
    * node — `node`, `deg` (symmetric co-activity degree), `pr` (rank
    * mass out of 1e12).
    *
    * No convergence early-stop, deliberately: only an EXACT fixed point
    * (zero ranks changed) keeps the result bit-identical to the
    * fixed-`iterations` oracle, and measurement (sf0.1, 12 rounds
    * probed) shows integer truncating division never settles — all
    * nodes keep flipping low-order mass every round. A per-round
    * delta probe therefore costs one extra job per round (measured
    * +130% wall) and never fires; a tolerance-based stop would change
    * results. Callers wanting approximate ranks cheaper should lower
    * `iterations` instead.
    *
    * Default policy is [[CapTop]] (degrade-not-drop — see the
    * [[OverCapPolicy]] scaladoc for the witnessed vacuity that made it
    * the default): each hot hour contributes its `maxGroupSize`
    * MOST-ACTIVE wallets (event count desc, wallet id tie-break — the
    * same rank cap as [[EventOps.washPairs]], planned as a
    * WindowGroupLimit top-N, never a full per-bucket sort), so the
    * graph is non-empty and the fan-out stays ≤ maxGroupSize² at ANY
    * density — the invariant a 100 TB co-activity graph needs. */
  def coactivityPagerank(
      events: DataFrame,
      iterations: Int = 10,
      maxGroupSize: Int = 16,
      broadcastNodeLimit: Long = DefaultBroadcastNodeLimit,
      policy: OverCapPolicy = CapTop,
      driverEdgeLimit: Long = DefaultDriverEdgeLimit): DataFrame =
    integerPagerankOn(coactivityEdges(events, maxGroupSize, policy),
      iterations, broadcastNodeLimit, driverEdgeLimit)

  /** The shared 10-round integer-PageRank loop over a prebuilt directed
    * edge list — extracted so the dropped-bucket and capped-bucket edge
    * builders iterate identical arithmetic (bit-identical contract with
    * the unrolled-CTE oracles). */
  private def integerPagerankOn(
      rawEdges: DataFrame,
      iterations: Int,
      broadcastNodeLimit: Long,
      driverEdgeLimit: Long): DataFrame = {
    // checkpoint the edge list BEFORE deriving degrees: it feeds both the
    // degree count and the annotated join, and an unmaterialized lineage
    // would re-run the whole activity build once per consumer
    val (edges, m) = countedEdges(rawEdges)
    val scale = 1000000000000L // total rank mass
    if (onDriver(edges, m, driverEdgeLimit)) {
      val g = LocalGraph.collect(edges)
      val n = g.n
      val pr =
        if (n == 0) Array.emptyLongArray
        else g.rankRounds(Array.fill(n)(scale / n),
          Array.fill(n)((15L * scale / 100L) / n), iterations)
      return nodeFrame(edges, g, pr, "pr")
    }
    // node count observed inside the checkpoint job, not a second action
    val (nodes, n) = Checkpoints.truncateObserved(
      edges.groupBy("src").agg(count(lit(1)).as("deg")), count(lit(1)))
    if (n == 0) {
      return nodes.select(col("src").as("node"), col("deg"),
        col("deg").as("pr"))
    }
    val bcast = n <= broadcastNodeLimit
    // degree-annotated edges: built once (broadcasting the node-sized
    // degree table keeps the build a map-side join), iterated many
    // times. Pre-partition by the key each ROUND re-clusters on, so the
    // per-round exchange disappears (guide §2.4 — operations keyed the
    // same way share one exchange): under the broadcast regime a round
    // is BHJ(ranks) → groupBy(dst), so hash(dst) makes every round a
    // single exchange-free stage; past the limit the round's
    // sort-merge join keys on src, so hash(src) keeps the EDGE side of
    // that join from re-shuffling every round (only node-sized rank
    // state and the combined partials move per round).
    val withDeg = Checkpoints.truncate(keyed(edges
      .join(if (bcast) broadcast(nodes) else nodes, "src"),
      if (bcast) col("dst") else col("src")))
    val base = (15L * scale / 100L) / n // (1 - d) / n, d = 0.85
    var ranks = nodes.select(col("src").as("node"),
      lit(scale / n).as("pr"))
    for (i <- 1 to iterations) {
      val incoming = withDeg
        .join(if (bcast) broadcast(ranks) else ranks,
          col("src") === col("node"))
        .select(col("dst"), expr("pr div deg").as("c"))
        .groupBy(col("dst"))
        .agg(sum("c").as("inc"))
      ranks = nodes
        .join(if (bcast) broadcast(incoming) else incoming,
          col("src") === col("dst"), "left_outer")
        .select(col("src").as("node"),
          (lit(base) +
            expr("(85 * coalesce(inc, cast(0 as bigint))) div 100"))
            .as("pr"))
      // truncate lineage every few rounds: a checkpoint per round pays
      // one job each (10 jobs for nothing), while never checkpointing
      // hands the optimizer a 10-deep join tower — every 3rd round
      // keeps the plan shallow at a third of the materialization cost
      if (i % 3 == 0 || i == iterations)
        ranks = Checkpoints.truncate(ranks)
    }
    nodes.select(col("src").as("node"), col("deg"))
      .join(ranks, "node")
      .select(col("node"), col("deg"), col("pr"))
  }

  /** A71b: seeded (personalized) PageRank — taint/affiliation
    * propagation: restart mass concentrates on a seed set (here the
    * `nSeeds` most-active wallets, tie-broken by id) instead of
    * spreading uniformly, so the stationary mass measures proximity to
    * the seeds through co-activity chains — the general form of the
    * reference's dev/bot attribution (`global_state.rs` dev-address
    * sets tag one hop; this scores every wallet by ALL weighted paths).
    * Same integer contract as [[coactivityPagerank]]: truncating
    * `pr div deg` flow, `(85·Σ) div 100` damping, restart only to
    * seeds present in the graph — bit-identical to the oracle's
    * unrolled CTE steps on any partitioning. */
  def seededPagerank(
      events: DataFrame,
      iterations: Int = 10,
      maxGroupSize: Int = 16,
      nSeeds: Int = 10,
      broadcastNodeLimit: Long = DefaultBroadcastNodeLimit,
      policy: OverCapPolicy = CapTop,
      driverEdgeLimit: Long = DefaultDriverEdgeLimit): DataFrame = {
    val (edges, m) =
      countedEdges(coactivityEdges(events, maxGroupSize, policy))
    // the nSeeds most active wallets — (cnt desc, id) is a total order
    val topSeeds = events.groupBy("user_id")
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("user_id"))
      .limit(nSeeds)
    val scale = 1000000000000L
    if (onDriver(edges, m, driverEdgeLimit)) {
      val g = LocalGraph.collect(edges)
      // restart only to seeds found in the graph; a null id never is
      val seeds = topSeeds.select("user_id").collect()
        .filterNot(_.isNullAt(0)).map(r => g.indexOf(r.getLong(0)))
        .filter(_ >= 0)
      if (seeds.isEmpty)
        return nodeFrame(edges, g, new Array[Long](g.n), "taint").limit(0)
      val restart = new Array[Long](g.n)
      seeds.foreach(restart(_) = (15L * scale / 100L) / seeds.length)
      val pr0 = restart.map(r => if (r > 0) scale / seeds.length else 0L)
      return nodeFrame(edges, g, g.rankRounds(pr0, restart, iterations),
        "taint")
    }
    // node count observed inside the checkpoint job, not a second action
    val (nodes, nNodes) = Checkpoints.truncateObserved(
      edges.groupBy("src").agg(count(lit(1)).as("deg")), count(lit(1)))
    val bcast = nNodes <= broadcastNodeLimit
    // same per-round exchange elision as integerPagerankOn: key the
    // iterated edge table on the round's re-cluster column
    val withDeg = Checkpoints.truncate(keyed(edges
      .join(if (bcast) broadcast(nodes) else nodes, "src"),
      if (bcast) col("dst") else col("src")))
    // read once below (restart carries it forward); counted inside its
    // own checkpoint job
    val (seeds, nSeedsInGraph) = Checkpoints.truncateObserved(
      topSeeds.join(nodes, col("user_id") === col("src"))
        .select(col("user_id").as("seed")),
      count(lit(1)))
    if (nSeedsInGraph == 0) {
      return nodes.select(col("src").as("node"), col("deg"),
        col("deg").as("taint")).limit(0)
    }
    val base = (15L * scale / 100L) / nSeedsInGraph
    // loop-invariant state joined every round — truncated through
    // Checkpoints so the reliable mode covers it too
    val restart = Checkpoints.truncate(
      nodes.join(seeds, col("src") === col("seed"), "left")
        .select(col("src").as("node"),
          when(col("seed").isNotNull, lit(base)).otherwise(lit(0L))
            .as("r")))
    var ranks = restart.select(col("node"),
      when(col("r") > 0, lit(scale / nSeedsInGraph)).otherwise(lit(0L))
        .as("pr")) // full unit mass split across the seeds
    for (i <- 1 to iterations) {
      val incoming = withDeg
        .join(if (bcast) broadcast(ranks) else ranks,
          col("src") === col("node"))
        .select(col("dst"), expr("pr div deg").as("c"))
        .groupBy(col("dst"))
        .agg(sum("c").as("inc"))
      ranks = restart
        .join(if (bcast) broadcast(incoming) else incoming,
          col("node") === col("dst"), "left_outer")
        .select(col("node"),
          (col("r") +
            expr("(85 * coalesce(inc, cast(0 as bigint))) div 100"))
            .as("pr"))
      if (i % 3 == 0 || i == iterations)
        ranks = Checkpoints.truncate(ranks)
    }
    nodes.select(col("src").as("node"), col("deg"))
      .join(ranks, "node")
      .select(col("node"), col("deg"), col("pr").as("taint"))
  }

  /** A76: k-core extraction — the densest-region peel: repeatedly drop
    * wallets with fewer than k surviving co-activity partners until no
    * drop happens (bounded by `maxPeels` rounds). The surviving core is
    * where coordinated rings live — every member keeps ≥ k partners
    * even after the periphery is stripped. Output: the core wallets
    * with their WITHIN-CORE degree.
    *
    * Determinism/oracle: each peel is a keyed degree count + semi-join
    * — no randomness, no ordering — so after any FIXED number of peels
    * both engines hold the identical survivor set, converged or not;
    * the oracle unrolls exactly `maxPeels` steps and equality holds
    * regardless of where the fixed point lands. Spark side stops early
    * when a round removes nothing (the remaining unrolled steps are
    * no-ops by construction). Lineage is truncated per round like
    * [[Dedup.canonicalize]]. */
  def kCore(
      events: DataFrame,
      k: Int = 8,
      maxPeels: Int = 12,
      maxGroupSize: Int = 16,
      broadcastNodeLimit: Long = DefaultBroadcastNodeLimit,
      policy: OverCapPolicy = CapTop): DataFrame =
    kCoreOn(coactivityEdges(events, maxGroupSize, policy), k, maxPeels,
      broadcastNodeLimit)

  private def kCoreOn(
      rawEdges: DataFrame,
      k: Int,
      maxPeels: Int,
      broadcastNodeLimit: Long): DataFrame = {
    // Deliberately NOT pre-keyed on src like the sibling loops:
    // measured at sf10 the peel loop got SLOWER with a keyed edge
    // table (5.7 -> 8.8 s back-to-back on identical data) — each
    // peel's degree count is already map-side-combined so its exchange
    // moves node-sized partials, and the extra edge-sized build
    // exchange never pays back across the handful of peels.
    val edges = Checkpoints.truncate(rawEdges)
    // the survivor count rides the checkpoint's materialization job
    // (truncateObserved) — here and per peel below, one job per round
    // instead of materialize + count
    var (survivors, nSurv) = Checkpoints.truncateObserved(
      edges.select(col("src").as("node")).distinct(), count(lit(1)))
    var round = 0
    var done = false
    def gate(e: DataFrame, s: DataFrame): DataFrame = {
      def side(c: String) = {
        val r = s.withColumnRenamed("node", c)
        if (nSurv <= broadcastNodeLimit) broadcast(r) else r
      }
      e.join(side("src"), Seq("src"), "left_semi")
        .join(side("dst"), Seq("dst"), "left_semi")
    }
    while (round < maxPeels && !done) {
      val deg = gate(edges, survivors)
        .groupBy(col("src").as("node"))
        .agg(count(lit(1)).as("deg"))
      val (next, nNext) = Checkpoints.truncateObserved(
        deg.filter(col("deg") >= k).select("node"), count(lit(1)))
      done = nNext == nSurv // peels only remove: equal count = fixed point
      survivors = next
      nSurv = nNext
      round += 1
    }
    gate(edges, survivors)
      .groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("core_deg"))
  }

  /** A74: connected components over the co-activity graph — the Sybil
    * surface: wallets reachable through chains of shared market-hours
    * collapse into one cluster (cluster_id = min wallet id, label
    * propagation to a fixed point via [[Dedup.canonicalize]], which
    * already carries the per-round `localCheckpoint` lineage hygiene).
    * Output: wallet, cluster_id, cluster_size — wallets with no
    * co-activity don't appear (a singleton row per lone wallet would
    * just mirror the wallet table). */
  def walletClusters(
      events: DataFrame,
      maxGroupSize: Int = 16,
      broadcastNodeLimit: Long = DefaultBroadcastNodeLimit,
      policy: OverCapPolicy = CapTop): DataFrame =
    walletClustersOn(coactivityEdges(events, maxGroupSize, policy),
      broadcastNodeLimit)

  private def walletClustersOn(
      edges: DataFrame,
      broadcastNodeLimit: Long): DataFrame = {
    val pairs = edges
      .filter(col("src") < col("dst"))
      .select(col("src").as("d1"), col("dst").as("d2"))
    val labels = Dedup.canonicalize(pairs,
      broadcastNodeLimit = broadcastNodeLimit)
    val sizes = labels.groupBy("keep_id")
      .agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "keep_id")
      .select(col("doc_id").as("wallet"),
        col("keep_id").as("cluster_id"), col("cluster_size"))
  }

  /** A73: triangle count and local clustering coefficient per wallet —
    * "are this wallet's co-actors also each other's co-actors", the
    * community-tightness signal that separates organic crowds from bot
    * rings (a wash-trading cluster is near-clique: cc → 1e6).
    *
    * Shape: the undirected edge set (src < dst, each edge once) joins
    * itself twice — wedges (a,b)⋈(b,c) then closure probe on (a,c).
    * The group-size cap bounds degree PER BUCKET but degree accumulates
    * across hours, so `maxDeg` additionally guards the wedge CENTER
    * (semi-joins on both legs ahead of the self-join — see
    * [[triangleStatsOn]]): wedge fan-out is Σ deg² over maxDeg-capped
    * centers at any density. The coefficient is
    * a truncating integer `2·tri·1e6 div deg·(deg−1)` — bit-identical
    * in any engine, no floats.
    *
    * The default cap is tighter than PageRank's: a wedge enumeration is
    * quadratic in degree where rank flow is linear in edges, and the
    * ring signal lives in SMALL coordinated groups — a market-hour with
    * dozens of wallets is crowd noise that would densify the graph
    * toward a quasi-clique (observed at bench scale: cap 64 ⇒ 197M
    * triangles of pure noise, cap 16 ⇒ 15k meaningful ones). */
  def triangleStats(
      events: DataFrame,
      maxGroupSize: Int = 16,
      policy: OverCapPolicy = CapTop,
      maxDeg: Int = 256): DataFrame =
    triangleStatsOn(coactivityEdges(events, maxGroupSize, policy),
      maxDeg)

  private def triangleStatsOn(
      directedEdges: DataFrame, maxDeg: Int): DataFrame = {
    val e = directedEdges
      .filter(col("src") < col("dst"))
      .localCheckpoint()
    val deg = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
      .localCheckpoint() // centers semi-joins + the final left join
    // hub guard LEADING the wedge join (the neighborSimilarity
    // contract): the oriented wedge's fan-out at middle node b is
    // deg_lo(b)·deg_hi(b) — bounded per bucket by the group cap but
    // unbounded ACROSS hours for a wallet co-active with rotating
    // crowds — so wedges are only enumerated through middle nodes
    // with total degree ≤ maxDeg, enforced by semi-joins on both legs
    // BEFORE the self-join. Triangles whose by-id middle vertex is an
    // over-cap hub are skipped (reported deg stays the full degree):
    // the ring signal this operator exists for lives in small
    // near-cliques, never in cross-hour mega-hubs. Identity with the
    // unguarded result whenever every degree ≤ maxDeg; the oracle
    // carries the same guard.
    val centers = deg.filter(col("deg") <= maxDeg)
      .select(col("node").as("z"))
    val ab = e.join(centers, col("dst") === col("z"), "left_semi")
    val bc = e.join(centers, col("src") === col("z"), "left_semi")
    // oriented wedges a<b<c close into each triangle exactly once
    val tri = ab.as("ab").join(bc.as("bc"),
        col("ab.dst") === col("bc.src"))
      .join(e.as("ac"), col("ac.src") === col("ab.src") &&
        col("ac.dst") === col("bc.dst"))
      .select(col("ab.src").as("a"), col("ab.dst").as("b"),
        col("bc.dst").as("c"))
    val perNode = tri
      .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("tri"))
    deg.join(perNode, Seq("node"), "left")
      .withColumn("tri", coalesce(col("tri"), lit(0L)))
      .withColumn("cc_1e6",
        when(col("deg") >= 2,
          expr("(2 * tri * 1000000) div (deg * (deg - 1))"))
          .otherwise(lit(0L)))
      .select(col("node"), col("deg"), col("tri"), col("cc_1e6"))
  }

  /** A102: co-activity edge formation over time — per day: how many
    * wallet pairs were co-active, how many for the FIRST time, and the
    * new-edge ratio. A bot ring spinning up shows as a new-edge burst
    * (many first-time pairings at once); organic growth accretes
    * gradually — the temporal complement to [[walletClusters]]'s static
    * components. Exact integers end to end.
    *
    * Shape: the same size-capped group fan-out as [[coactivityEdges]]
    * but keyed per day (pairs dedupe within each day), one min-day
    * aggregate per pair for first-seen, one day-keyed rollup — pair
    * volume is bounded by the group cap exactly like every graph
    * operator here. */
  def edgeGrowth(events: DataFrame, maxGroupSize: Int = 16,
      policy: OverCapPolicy = CapTop): DataFrame =
    edgeGrowthOn(bucketsFor(events, maxGroupSize, policy))

  private def edgeGrowthOn(buckets: DataFrame): DataFrame = {
    val dayPairs = buckets
      .select(expr("mb div 24").as("db"),
        explode(col("us")).as("a"), col("us"))
      .select(col("db"), col("a"), explode(col("us")).as("b"))
      .filter(col("a") < col("b"))
      .distinct()
      .localCheckpoint() // feeds first-seen AND the day rollup
    // two day-keyed aggregates instead of the pair-sized first-seen
    // join: n_pairs(day) counts the day's pair rows, n_new(day) counts
    // pairs whose MIN day is that day — identical quantities with no
    // join back onto the pair set (the join re-shuffled the pair list
    // twice to tag each row with its group min)
    val perDay = dayPairs.groupBy("db").agg(count(lit(1)).as("n_pairs"))
    val newPerDay = dayPairs.groupBy("a", "b")
      .agg(min("db").as("db"))
      .groupBy("db").agg(count(lit(1)).as("n_new"))
    perDay.join(newPerDay, Seq("db"), "left_outer")
      .select((col("db") * 86400).as("day"), col("n_pairs"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        (coalesce(col("n_new"), lit(0L)).cast("double") /
          col("n_pairs").cast("double")).as("new_ratio"))
  }

  /** A95: neighbor-overlap similarity and link prediction over the
    * co-activity graph — for every wallet pair with ≥ `minCommon`
    * shared co-actors: common-neighbor count, Jaccard overlap of
    * neighborhoods, and the Resource-Allocation link score
    * Σ_z 1/deg(z) (Zhou/Lü/Zhang 2009 — the exact-arithmetic sibling
    * of Adamic-Adar, whose 1/ln deg weights would put a transcendental
    * inside a float SUM; 1/deg is one IEEE division per distinct
    * degree, fixed to an exact decimal before aggregation). `is_edge`
    * separates "already co-active" from predicted links — the
    * candidate feed for the reference's dev/bot cluster tagging that
    * [[walletClusters]] hard-connects and this scores softly.
    *
    * Shape: wedge join through the shared neighbor z — fan-out is
    * Σ_z deg(z)², so hub nodes past `maxDeg` are dropped from the
    * WEDGE CENTER role first (they still count in their own
    * neighborhoods' degrees): the same bounded-hot-key policy as
    * [[triangleStats]], which caps exactly this quadratic. One
    * pair-keyed aggregate; the edge probe and degree joins are
    * node/edge-sized. */
  def neighborSimilarity(
      events: DataFrame,
      maxGroupSize: Int = 16,
      maxDeg: Int = 256,
      minCommon: Int = 2,
      policy: OverCapPolicy = CapTop): DataFrame =
    neighborSimilarityOn(coactivityEdges(events, maxGroupSize, policy),
      maxDeg, minCommon)

  private def neighborSimilarityOn(
      directedEdges: DataFrame,
      maxDeg: Int,
      minCommon: Int): DataFrame = {
    val und = directedEdges
      .filter(col("src") < col("dst"))
      .localCheckpoint()
    // both directions for the wedge walk; degree per node
    val e = und.union(und.select(col("dst").as("src"),
      col("src").as("dst")))
    val deg = e.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("deg"))
      .localCheckpoint()
    val centers = deg.filter(col("deg") <= maxDeg)
      .select(col("node").as("z"),
        round(lit(1.0) / col("deg").cast("double"), 9)
          .cast("decimal(12,9)").as("ra_w"))
    // the hub cap must LEAD the quadratic join: semi-joining BOTH wedge
    // legs on the capped-center set first means an over-cap hub's deg²
    // fan-out is never materialized (filtering after the self-join
    // computes it and throws it away — per-bucket degree is bounded,
    // but a wallet co-active with rotating crowds accumulates unbounded
    // distinct-partner degree across hours, exactly what `maxDeg`
    // exists to cap). The filter is on the join key, so results are
    // identical to the post-join inner probe; the semi-join's z
    // exchange is the same exchange the self-join needs, so no extra
    // edge-sized shuffle is paid. Plan order pinned in PlanAuditSpec.
    val zs = centers.select("z")
    val wedges = e.select(col("dst").as("z"), col("src").as("a"))
      .join(zs, Seq("z"), "left_semi")
      .join(e.select(col("src").as("z"), col("dst").as("b"))
        .join(zs, Seq("z"), "left_semi"), "z")
      .filter(col("a") < col("b"))
      .join(centers, "z")
    val pairs = wedges.groupBy("a", "b")
      .agg(count(lit(1)).as("common"), sum("ra_w").as("ra"))
      .filter(col("common") >= minCommon)
    pairs
      .join(deg.select(col("node").as("a"), col("deg").as("deg_a")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("deg_b")), "b")
      .join(und.select(col("src").as("a"), col("dst").as("b"),
        lit(true).as("is_edge")), Seq("a", "b"), "left")
      .select(col("a"), col("b"), col("common"), col("deg_a"),
        col("deg_b"),
        (col("common").cast("double") /
          (col("deg_a") + col("deg_b") - col("common")).cast("double"))
          .as("jaccard"),
        col("ra").cast("double").as("ra_score"),
        coalesce(col("is_edge"), lit(false)).as("is_edge"))
  }

  /** A120: label-propagation communities (synchronous LPA, Raghavan et
    * al. 2007) over the co-activity graph — finer-grained than
    * [[walletClusters]]' connected components: a single bridge wallet
    * linking two dense rings collapses them into one component, but
    * LPA keeps each ring its own community because a node adopts the
    * MAJORITY label of its neighbors, not any reachable label. The
    * reference's cluster tagging (`global_state.rs` dev-address sets)
    * gets the community refinement this way without a modularity
    * solver.
    *
    * Determinism: each of `iterations` SYNCHRONOUS rounds re-labels
    * every node with its neighbors' most frequent label, ties broken
    * by smallest label — no randomness, no partition dependence.
    * Fixed unroll, no convergence stop: synchronous LPA can 2-cycle on
    * bipartite-ish regions, and only a fixed iteration count keeps the
    * result bit-identical to the oracle's k chained CTE steps (the
    * [[coactivityPagerank]] lesson). Initial label = own wallet id.
    *
    * Scale shape: up to `driverEdgeLimit` edges every round runs on
    * the driver ([[LocalGraph.labelRounds]]). Past it, per round, one
    * edge-sized join against node-sized
    * label state (broadcast under `broadcastNodeLimit`, shuffle-join
    * fallback above), one (node, label)-keyed count, and a rank-1
    * filter directly on the count window so Catalyst plans a
    * WindowGroupLimit (map-side top-1 per node, never a full sort).
    * Label state lineage is truncated every other round like the rank
    * loop. Output: wallet, community (final label), community_size. */
  def labelPropagation(
      events: DataFrame,
      iterations: Int = 4,
      maxGroupSize: Int = 16,
      broadcastNodeLimit: Long = DefaultBroadcastNodeLimit,
      policy: OverCapPolicy = CapTop,
      driverEdgeLimit: Long = DefaultDriverEdgeLimit): DataFrame = {
    // keyed on src once at build: each synchronous round's label count
    // groups by (src, lbl) and its top-1 window partitions by src, so
    // hash(src) satisfies both and a broadcast-regime round runs as one
    // exchange-free stage (the shuffle-join fallback is unchanged)
    val (edges, m) = countedEdges(
      keyed(coactivityEdges(events, maxGroupSize, policy), col("src")))
    if (onDriver(edges, m, driverEdgeLimit)) {
      val g = LocalGraph.collect(edges)
      val (lbl, has) = g.labelRounds(iterations)
      val live = g.ids.indices.filter(has(_))
      val size = live.groupMapReduce(lbl(_))(_ => 1L)(_ + _)
      val spark = events.sparkSession
      import spark.implicits._
      return live.map(u => (g.ids(u), lbl(u), size(lbl(u))))
        .toDF("wallet", "community", "community_size")
    }
    // node count observed inside the checkpoint job, not a second action
    val (labels0, nNodes) = Checkpoints.truncateObserved(
      edges.select(col("src").as("node")).distinct()
        .withColumn("lbl", col("node")),
      count(lit(1)))
    var labels = labels0
    val bcast = nNodes <= broadcastNodeLimit
    for (i <- 1 to iterations) {
      labels = lpaRound(edges, labels, bcast)
      if (i % 2 == 0 || i == iterations)
        labels = Checkpoints.truncate(labels)
    }
    val sizes = labels.groupBy("lbl")
      .agg(count(lit(1)).as("community_size"))
    labels
      .join(if (bcast) broadcast(sizes) else sizes, "lbl")
      .select(col("node").as("wallet"), col("lbl").as("community"),
        col("community_size"))
  }

  /** A123: degree assortativity of the co-activity graph — the Newman
    * coefficient (Pearson correlation of endpoint degrees over the
    * directed edge list): organic social graphs run positive
    * (hubs befriend hubs), bot fleets run strongly NEGATIVE (many
    * low-degree drones all wired to a few controllers), so the single
    * number is a cheap structural fingerprint to trend per corpus
    * slice alongside A73's clustering coefficient. Sums are exact
    * DECIMAL(38,0) over integer degrees; the close is one fixed dag of
    * IEEE ops over those exact integers — bit-identical in any engine.
    * Shape: one degree aggregate + two node-keyed joins back to the
    * edge list + one global aggregate; the degree table is node-sized
    * (broadcast under the family limit). */
  def degreeAssortativity(
      events: DataFrame,
      maxGroupSize: Int = 16,
      broadcastNodeLimit: Long = DefaultBroadcastNodeLimit,
      policy: OverCapPolicy = CapTop): DataFrame = {
    // keyed on src at build: the degree aggregate and the
    // broadcast-regime src-endpoint join both cluster on src, so
    // neither re-shuffles the edge set
    val edges = Checkpoints.truncate(
      keyed(coactivityEdges(events, maxGroupSize, policy), col("src")))
    // node count observed inside the checkpoint job, not a second action
    val (deg, nNodes) = Checkpoints.truncateObserved(
      edges.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg")),
      count(lit(1)))
    val bcast = nNodes <= broadcastNodeLimit
    def side(c: String, as: String) = {
      val r = deg.select(col("node").as(c), col("deg").as(as))
      if (bcast) broadcast(r) else r
    }
    val sums = edges
      .join(side("src", "dx"), "src")
      .join(side("dst", "dy"), "dst")
      .agg(count(lit(1)).as("m"),
        sum(col("dx").cast("decimal(38,0)")).as("sx"),
        sum(col("dy").cast("decimal(38,0)")).as("sy"),
        sum((col("dx") * col("dy")).cast("decimal(38,0)")).as("sxy"),
        sum((col("dx") * col("dx")).cast("decimal(38,0)")).as("sxx"),
        sum((col("dy") * col("dy")).cast("decimal(38,0)")).as("syy"))
    val nodes = deg.agg(count(lit(1)).as("n_nodes"),
      sum(col("deg").cast("decimal(38,0)")).as("sdeg"))
    sums.crossJoin(nodes).select(
      col("n_nodes"), col("m").as("n_edges"),
      (col("sdeg").cast("double") / col("n_nodes").cast("double"))
        .as("mean_deg"),
      ((col("m").cast("double") * col("sxy").cast("double") -
        col("sx").cast("double") * col("sy").cast("double")) /
        sqrt((col("m").cast("double") * col("sxx").cast("double") -
          col("sx").cast("double") * col("sx").cast("double")) *
          (col("m").cast("double") * col("syy").cast("double") -
            col("sy").cast("double") * col("sy").cast("double"))))
        .as("assortativity"))
  }

  /** One synchronous LPA round — exposed for the plan audit (the loop
    * truncates lineage, so the round's WindowGroupLimit shape is not
    * visible on the returned frame's final plan). Every node has ≥ 1
    * neighbor (the edge set carries both directions), so the inner
    * join against the label state never loses a node. */
  private[graft] def lpaRound(edges: DataFrame, labels: DataFrame,
      bcast: Boolean): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    edges
      .join(if (bcast) broadcast(labels) else labels,
        col("dst") === col("node"))
      .groupBy(col("src"), col("lbl"))
      .agg(count(lit(1)).as("c"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("src"))
          .orderBy(col("c").desc, col("lbl"))))
      .filter(col("rk") === 1)
      .select(col("src").as("node"), col("lbl"))
  }
}
