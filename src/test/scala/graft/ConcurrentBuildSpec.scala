package graft

import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

/** Verify builds queries on a thread pool, so two builders running at
  * once must not share scratch state: each result built concurrently
  * must equal its sequential build. */
class ConcurrentBuildSpec extends TestSparkSession {
  test("wire-capture stream builders give the same result when built " +
      "concurrently") {
    val keys = Seq("q_stream_wire_decoded", "q_stream_trade_metrics")
    def rows(q: String): Seq[String] =
      SparkEntry.queries(q)(spark, sfDir).collect().map(_.mkString("|"))
        .toSeq.sorted
    val sequential = keys.map(q => q -> rows(q)).toMap
    assert(sequential.values.forall(_.nonEmpty))
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try (1 to 3).foreach { round =>
      val built = Await.result(
        Future.sequence(keys.map(q => Future(q -> rows(q)))), 5.minutes)
      built.foreach { case (q, got) =>
        assert(got == sequential(q), s"$q differs in round $round")
      }
    } finally pool.shutdown()
  }
}
