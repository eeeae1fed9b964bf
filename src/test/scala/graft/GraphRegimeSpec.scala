package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{EventOps, GraphOps}

/** The iterative co-activity loops (pagerank, taint, label propagation
  * and their `_dropall` twins) run one of three regimes: driver (edge
  * count ≤ `driverEdgeLimit`), broadcast and shuffle. Each is forced
  * here on the sf0.001 corpus and on adversarial fixtures, and all three
  * must return the same rows with the same column names and types. */
class GraphRegimeSpec extends TestSparkSession {
  import spark.implicits._

  private type Rows = (Seq[(String, String)], Set[Seq[Any]])

  private def rows(df: DataFrame): Rows =
    (df.schema.map(f => f.name -> f.dataType.simpleString),
      df.collect().map(_.toSeq).toSet)

  /** One query under the three regimes: (driverEdgeLimit,
    * broadcastNodeLimit) → rows. */
  private val regimes = Seq(
    "driver" -> (GraphOps.DefaultDriverEdgeLimit,
      GraphOps.DefaultBroadcastNodeLimit),
    "broadcast" -> (0L, GraphOps.DefaultBroadcastNodeLimit),
    "shuffle" -> (0L, 0L))

  private val drop = GraphOps.DropAll(acknowledgeVacuous = true)

  private val queries: Seq[(String, (DataFrame, Long, Long) => DataFrame)] =
    Seq(
      "pagerank" -> ((ev, d, b) => GraphOps.coactivityPagerank(ev,
        broadcastNodeLimit = b, driverEdgeLimit = d)),
      "pagerank_dropall" -> ((ev, d, b) => GraphOps.coactivityPagerank(ev,
        maxGroupSize = 64, broadcastNodeLimit = b, policy = drop,
        driverEdgeLimit = d)),
      "taint" -> ((ev, d, b) => GraphOps.seededPagerank(ev,
        broadcastNodeLimit = b, driverEdgeLimit = d)),
      "taint_dropall" -> ((ev, d, b) => GraphOps.seededPagerank(ev,
        maxGroupSize = 64, broadcastNodeLimit = b, policy = drop,
        driverEdgeLimit = d)),
      "communities" -> ((ev, d, b) => GraphOps.labelPropagation(ev,
        broadcastNodeLimit = b, driverEdgeLimit = d)))

  /** Runs every query in every regime on `ev` and asserts the regimes
    * agree; returns the driver-regime rows per query. */
  private def agree(fixture: String, ev: DataFrame): Map[String, Rows] =
    queries.map { case (q, run) =>
      val byRegime = regimes.map { case (r, (d, b)) => r -> rows(run(ev, d, b)) }
      val (_, want) = byRegime.head
      byRegime.tail.foreach { case (r, got) =>
        assert(got === want, s"$fixture/$q: $r regime diverges from driver")
      }
      q -> want
    }.toMap

  /** Events from (user_id, hour) activity; a null id is a wallet-less
    * event. Every event is a "purchase" in one market. */
  private def activity(acts: Seq[(java.lang.Long, Long)]): DataFrame =
    acts.zipWithIndex.map { case ((u, h), i) =>
      (i.toLong, new Timestamp(h * 3600000L), u, "purchase", 1.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")

  private def act(u: Long, h: Long): (java.lang.Long, Long) =
    (java.lang.Long.valueOf(u), h)

  test("three regimes agree on the sf0.001 corpus") {
    val got = agree("sf0.001", Tables.events(spark, sfDir))
    queries.foreach { case (q, _) =>
      assert(got(q)._2.nonEmpty, s"$q: sf0.001 graph must not be empty")
    }
    assert(got("pagerank")._1 ===
      Seq("node" -> "bigint", "deg" -> "bigint", "pr" -> "bigint"))
    assert(got("taint")._1 ===
      Seq("node" -> "bigint", "deg" -> "bigint", "taint" -> "bigint"))
    assert(got("communities")._1 === Seq("wallet" -> "bigint",
      "community" -> "bigint", "community_size" -> "bigint"))
  }

  test("three regimes agree on an empty graph (no shared hour)") {
    val got = agree("empty", activity(Seq(act(1, 0), act(2, 1), act(3, 2))))
    queries.foreach { case (q, _) => assert(got(q)._2.isEmpty, q) }
  }

  test("three regimes agree on a single edge") {
    val got = agree("single edge", activity(Seq(act(1, 0), act(2, 0))))
    assert(got("pagerank")._2.map(_.take(2)) ===
      Set(Seq(1L, 1L), Seq(2L, 1L)))
    assert(got("communities")._2.size === 2)
  }

  test("three regimes agree when the top seeds are outside the graph " +
      "or have a null user_id") {
    // the ten most active "wallets" are a null id and nine loners, each
    // alone in its hour; the graph (wallets 1-3 in hour 0) is quieter
    val loners = (100L to 108L).flatMap(u =>
      Seq.fill(5)(act(u, u)))
    val nulls = Seq.fill(9)((null: java.lang.Long, 0L))
    val graph = Seq(act(1, 0), act(2, 0), act(3, 0))
    val outside = agree("seeds outside", activity(loners ++ nulls ++ graph))
    assert(outside("taint")._2.isEmpty)
    assert(outside("pagerank")._2.size === 3)
    // with fewer loners, the null id takes a top slot next to graph
    // wallets: it must not count as a seed in any regime
    val mixed = agree("null seed", activity(
      loners.take(5 * 7) ++ nulls ++ graph ++ Seq(act(1, 0), act(2, 0))))
    val taint = mixed("taint")._2.map(r => r(0) -> r(2)).toMap
    assert(taint.keySet === Set(1L, 2L, 3L))
    assert(taint.values.forall(_.asInstanceOf[Long] > 0L))
  }

  test("three regimes agree on an LPA node with tied label counts") {
    // a path 1 - 2 - 3 - 4: in round one node 2 sees labels {1, 3} and
    // node 3 sees {2, 4}, one each — the tie goes to the smaller label
    val got = agree("lpa tie", activity(Seq(act(1, 0), act(2, 0),
      act(2, 1), act(3, 1), act(3, 2), act(4, 2))))
    assert(got("communities")._2.size === 4)
  }

  test("three regimes agree on two rings joined by a bridge wallet") {
    val ringA = (1L to 4L).map(act(_, 0))
    val ringB = (11L to 14L).map(act(_, 2))
    val bridge = Seq(act(99, 4), act(1, 4), act(99, 5), act(11, 5))
    val got = agree("bridged rings", activity(ringA ++ ringB ++ bridge))
    val comm = got("communities")._2.map(r => r(0) -> r(1)).toMap
    assert((1L to 4L).map(comm).distinct.size === 1, s"ring A: $comm")
    assert((11L to 14L).map(comm).distinct.size === 1, s"ring B: $comm")
    assert(comm(1L) !== comm(11L), s"rings merged: $comm")
  }

  test("coactivityPagerank in the driver regime starts at most 5 jobs " +
      "at sf0.001, however many rounds it runs") {
    // the edge build's three shuffle stages and its checkpoint, then one
    // collect; the distributed regimes add jobs every round
    val ev = Tables.events(spark, sfDir)
    val ten = jobsDuring(GraphOps.coactivityPagerank(ev))
    assert(ten <= 5, s"$ten jobs building the query")
    assert(jobsDuring(GraphOps.coactivityPagerank(ev, iterations = 30))
      === ten)
    val spread = jobsDuring(GraphOps.coactivityPagerank(ev,
      driverEdgeLimit = 0))
    assert(spread > ten, s"broadcast regime: $spread jobs")
  }

  test("washPairs returns identical rows at shuffle.partitions 1 and 300 " +
      "(the derived fan-out count, then the shuffle.partitions floor)") {
    // 60 hours × 40 wallets out of 97, buying or selling by parity:
    // 2,400 wallet-hour rows, so the derived count (3) is above 1 and
    // below 300
    val ev = spark.range(60 * 40)
      .select((col("id") / 40).cast("long").as("h"),
        (col("id") % 40).as("i"))
      .select(expr("timestamp_seconds(h * 3600 + i)").as("ts"),
        ((col("h") * 7 + col("i")) % 97).as("user_id"),
        when((col("h") + col("i")) % 2 === 0, "purchase")
          .otherwise("view").as("event_type"))
    def at(p: Int): Set[Seq[Any]] = {
      val key = "spark.sql.shuffle.partitions"
      val old = spark.conf.get(key)
      spark.conf.set(key, p.toString)
      try EventOps.washPairs(ev).collect().map(_.toSeq).toSet
      finally spark.conf.set(key, old)
    }
    val one = at(1)
    assert(one.nonEmpty)
    assert(at(300) === one)
  }
}
