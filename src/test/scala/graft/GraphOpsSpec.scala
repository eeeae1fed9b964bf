package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.GraphOps

/** Structural properties of the co-activity graph operators on corpora
  * whose graph shape is known by construction. */
class GraphOpsSpec extends TestSparkSession {
  import spark.implicits._

  // one market-hour with wallets 1..k → a k-clique; a second hour with
  // wallets 100,101 → an isolated edge
  private def cliqueEvents(k: Int): DataFrame =
    ((1 to k).map(w => (w.toLong, "m", 0L)) ++
      Seq((100L, "m", 1L), (101L, "m", 1L)))
      .map { case (u, t, h) =>
        (u * 10 + h, new Timestamp(h * 3600000L), u, t, 1.0, "{}")
      }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")

  test("clique wallets have clustering coefficient exactly 1e6") {
    val out = GraphOps.triangleStats(cliqueEvents(5)).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    (1 to 5).foreach { w =>
      val (deg, tri, cc) = out(w.toLong)
      assert(deg === 4)
      assert(tri === 6) // C(4,2) triangles through each clique node
      assert(cc === 1000000L)
    }
    // the isolated edge has no triangles and cc 0
    assert(out(100L) === ((1L, 0L, 0L)))
    assert(out(101L) === ((1L, 0L, 0L)))
  }

  test("pagerank conserves rank mass up to truncation loss") {
    val out = GraphOps.coactivityPagerank(cliqueEvents(6)).collect()
    val total = out.map(_.getLong(2)).sum
    // truncating divisions only ever LOSE mass; with 8 nodes and 10
    // rounds the loss is bounded by iterations · nodes · (divisor - 1)
    assert(total <= 1000000000000L)
    assert(total > 999999990000L)
    // clique nodes all end with identical rank (graph symmetry)
    val cliqueRanks =
      out.filter(_.getLong(0) <= 6).map(_.getLong(2)).distinct
    assert(cliqueRanks.length === 1)
  }

  test("seeded pagerank taints only wallets reachable from the seeds") {
    // seeds (2 most active, id tiebreak) = clique wallets 1, 2; the
    // isolated edge 100-101 is unreachable and must score exactly 0
    val out = GraphOps.seededPagerank(cliqueEvents(5), nSeeds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out(100L) === 0L && out(101L) === 0L)
    (1 to 5).foreach(w => assert(out(w.toLong) > 0L, s"wallet $w"))
    // seeds hold the restart mass: strictly above the non-seed clique
    // members (symmetric flow, asymmetric restart)
    assert(out(1L) > out(3L) && out(2L) > out(3L))
  }

  test("k-core peels the pendant edge and keeps the clique") {
    // clique 1..6 (degree 5 each) survives k=3; the isolated 100-101
    // edge (degree 1) peels in round one
    val out = GraphOps.kCore(cliqueEvents(6), k = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.keySet === (1 to 6).map(_.toLong).toSet)
    assert(out.values.forall(_ === 5L))
  }

  test("k-core peel cascades: a chain hung off a clique unravels") {
    // clique 1..5 plus a chain 5-20-21: both chain wallets fall below
    // k=2... 20 has degree 2 (5 and 21) but once 21 (degree 1) peels,
    // 20 drops to 1 and peels in the NEXT round — the cascade only a
    // fixed-point peel catches
    val base = cliqueEvents(5).filter(col("user_id") < 100)
    // chain edges: hour 1 = {5, 20}, hour 2 = {20, 21}
    val extra = Seq((5L, 1L), (20L, 1L), (20L, 2L), (21L, 2L))
      .map { case (u, h) =>
        (u * 100 + h, new Timestamp(h * 3600000L), u, "m", 1.0, "{}")
      }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = GraphOps.kCore(base.union(extra), k = 2)
      .collect().map(r => r.getLong(0)).toSet
    assert(out === (1 to 5).map(_.toLong).toSet,
      s"chain must fully unravel, got $out")
  }

  test("shuffle-join fallback (broadcastNodeLimit = 0) is bit-identical " +
      "to the broadcast regime on the real sf0.001 graph") {
    // the >2M-node regime is what actually runs at 100 TB; forcing the
    // limit to 0 exercises that join strategy under the same integer
    // arithmetic, so results must be EQUAL, not approximately equal.
    // driverEdgeLimit = 0 keeps both sides off the driver regime, which
    // the sf0.001 graph would otherwise take
    val events = Tables.events(spark, sfDir)
    def rows(df: DataFrame): Set[Seq[Any]] =
      df.collect().map(_.toSeq).toSet
    assert(rows(GraphOps.coactivityPagerank(events, broadcastNodeLimit = 0,
        driverEdgeLimit = 0))
      === rows(GraphOps.coactivityPagerank(events, driverEdgeLimit = 0)),
      "pagerank")
    assert(rows(GraphOps.seededPagerank(events, broadcastNodeLimit = 0,
        driverEdgeLimit = 0))
      === rows(GraphOps.seededPagerank(events, driverEdgeLimit = 0)),
      "seeded pagerank")
    assert(rows(GraphOps.kCore(events, broadcastNodeLimit = 0))
      === rows(GraphOps.kCore(events)), "k-core")
    assert(rows(GraphOps.walletClusters(events, broadcastNodeLimit = 0))
      === rows(GraphOps.walletClusters(events)), "wallet clusters")
  }

  test("hot group cap drops oversized market-hours before the fan-out") {
    // 70 wallets in one hour exceeds maxGroupSize=64 → no edges at all
    val out = GraphOps.triangleStats(cliqueEvents(70)
      .filter(col("user_id") < 100), maxGroupSize = 64,
      policy = GraphOps.DropAll(acknowledgeVacuous = true))
    assert(out.count() === 0)
  }

  test("sandwich brackets only strictly interior other-wallet trades") {
    // hour 0, event_id order: A buy(1), V trade(2), A sell(3), V trade(4)
    // → exactly one victim trade (id 2); id 4 is outside the bracket
    val ev = Seq(
      (1L, 0L, 1L, "purchase", 10.0),
      (2L, 0L, 2L, "view", 7.0),
      (3L, 0L, 1L, "view", 10.0),
      (4L, 0L, 2L, "purchase", 9.0))
      .map { case (id, h, u, t, v) =>
        (id, new Timestamp(h * 3600000L), u, t, v, "{}")
      }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = graft.operators.EventOps.sandwichTrades(ev).collect()
    assert(out.length === 1)
    assert(out(0).getLong(0) === 1L) // attacker A
    assert(out(0).getLong(2) === 1L) // one victim trade
    assert(out(0).getLong(4) === 700L) // its cents
  }

  test("boundedMembership ≡ distinct + size-filter + collect_list " +
      "(nulls count toward the size like distinct(), never the list)") {
    import graft.functions.BoundedMembershipAgg.boundedMembership
    // groups: g1 = {1,2,3} dup-heavy (kept), g2 = {1..5} over cap 4
    // (dropped), g3 = {7} singleton (dropped), g4 = {null, 9} (kept —
    // distinct() counts the null row, collect_list drops it),
    // g5 = {null} (dropped: 1 distinct), g6 = {null, 10, 11, 12, 13}
    // (over cap 4 BECAUSE of the null — the old count(*) did too)
    val rows: Seq[(String, java.lang.Long)] =
      Seq[(String, java.lang.Long)](("g1", 1L), ("g1", 2L), ("g1", 3L),
        ("g1", 2L), ("g1", 1L)) ++
      (1 to 5).map(i => ("g2", java.lang.Long.valueOf(i.toLong))) ++
      Seq(("g3", java.lang.Long.valueOf(7L)), ("g4", null), ("g4", 9L),
        ("g5", null), ("g6", null), ("g6", 10L), ("g6", 11L),
        ("g6", 12L), ("g6", 13L))
    val df = rows.toDF("g", "uid")
    val got = df.groupBy("g")
      .agg(boundedMembership(col("uid"), 4).as("us"))
      .filter(col("us").isNotNull)
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    // reference formulation: the pre-round-12 three-stage pipeline
    val act = df.distinct()
    val sized = act.groupBy("g").agg(count(lit(1)).as("gs"))
      .filter(col("gs") >= 2 && col("gs") <= 4).select("g")
    val ref = act.join(sized, "g").groupBy("g")
      .agg(sort_array(collect_list(col("uid"))).as("us"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(got === ref)
    assert(got.keySet === Set("g1", "g4"))
    assert(got("g1") === Seq(1L, 2L, 3L))
    assert(got("g4") === Seq(9L)) // null counted the group in, not listed
  }

  test("boundedMembership partial buffers stay bounded through merge " +
      "(over-cap group collapses to the overflow sentinel, not a set)") {
    import graft.functions.BoundedMembershipAgg
    val agg = BoundedMembershipAgg(
      org.apache.spark.sql.GraftBridge.expression(lit(0L)), 3)
    val b = agg.createAggregationBuffer()
    val other = agg.createAggregationBuffer()
    (1L to 3L).foreach(v => other.set.add(v))
    (10L to 12L).foreach(v => b.set.add(v))
    val merged = agg.merge(b, other) // 6 distinct > cap 3
    assert(merged.overflowed)
    assert(merged.set.isEmpty) // the sentinel holds no members
    assert(agg.eval(merged) === null)
    // serialize round-trip keeps the sentinel
    val rt = agg.deserialize(agg.serialize(merged))
    assert(rt.overflowed && rt.set.isEmpty)
  }
}
