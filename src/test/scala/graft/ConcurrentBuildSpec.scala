package graft

import java.net.URI
import java.util.concurrent.{CountDownLatch, Executors}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

/** Verify builds queries on a thread pool, so two builders running at
  * once must not share scratch state: each result built concurrently
  * must equal its sequential build. */
class ConcurrentBuildSpec extends TestSparkSession {
  private val keys = Seq("q_stream_wire_decoded", "q_stream_trade_metrics")

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.mkString("|")).toSeq.sorted
  private def rows(q: String): Seq[String] =
    rows(SparkEntry.queries(q)(spark, sfDir))

  private lazy val sequential = keys.map(q => q -> rows(q)).toMap

  private def onTwoThreads[T](body: ExecutionContext => T): T = {
    val pool = Executors.newFixedThreadPool(2)
    try body(ExecutionContext.fromExecutor(pool)) finally pool.shutdown()
  }

  test("wire-capture stream builders give the same result when built " +
      "concurrently") {
    assert(sequential.values.forall(_.nonEmpty))
    onTwoThreads { implicit ec =>
      (1 to 3).foreach { round =>
        val built = Await.result(
          Future.sequence(keys.map(q => Future(q -> rows(q)))), 5.minutes)
        built.foreach { case (q, got) =>
          assert(got == sequential(q), s"$q differs in round $round")
        }
      }
    }
  }

  test("two scopes on two threads delete only their own directories") {
    // the directories a built frame reads its files from
    def dirsOf(df: org.apache.spark.sql.DataFrame): Set[java.io.File] =
      df.inputFiles.map(f => new java.io.File(new URI(f).getPath)
        .getParentFile).toSet
    val Seq(qa, qb) = keys
    assert(sequential.values.forall(_.nonEmpty))
    val aClosed, bBuilt = new CountDownLatch(1)
    def await(l: CountDownLatch): Unit =
      assert(l.await(5, java.util.concurrent.TimeUnit.MINUTES))
    @volatile var aDirs = Set.empty[java.io.File]
    onTwoThreads { implicit ec =>
      // A's scope closes while B's frame is built but not yet read
      val a = Future {
        try Scratch.scoped {
          val df = SparkEntry.queries(qa)(spark, sfDir)
          aDirs = dirsOf(df)
          await(bBuilt)
          assert(rows(df) == sequential(qa))
        } finally aClosed.countDown()
      }
      val b = Future {
        var dirs = Set.empty[java.io.File]
        val got = Scratch.scoped {
          val df = try {
            val built = SparkEntry.queries(qb)(spark, sfDir)
            dirs = dirsOf(built)
            built
          } finally bBuilt.countDown()
          await(aClosed)
          assert(aDirs.nonEmpty && !aDirs.exists(_.exists()),
            "A's scope left its own scratch")
          assert(dirs.nonEmpty && dirs.forall(_.isDirectory),
            "A's scope deleted B's scratch")
          rows(df)
        }
        (dirs, got)
      }
      Await.result(a, 5.minutes)
      val (bDirs, bRows) = Await.result(b, 5.minutes)
      assert(bRows == sequential(qb))
      assert(!bDirs.exists(_.exists()))
    }
  }
}
