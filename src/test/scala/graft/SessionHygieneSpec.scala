package graft

/** Building a registered query must leave the shared session alone:
  * under Verify's thread pool a builder's conf, catalog or planner edit
  * would make plans depend on the order the queries run in. */
class SessionHygieneSpec extends TestSparkSession {
  private val parts = Seq("confs", "tables", "extraStrategies",
    "extraOptimizations")

  private def snapshot: Seq[Any] = Seq(
    spark.conf.getAll,
    spark.catalog.listTables().collect().map(_.name).toSet,
    spark.experimental.extraStrategies,
    spark.experimental.extraOptimizations)

  /** The parts of the session that differ from `before` after building
    * `q`. */
  private def changedBy(q: String, before: Seq[Any]): Seq[String] = {
    SparkEntry.queries(q)(spark, sfDir)
    parts.zip(snapshot.zip(before))
      .collect { case (part, (now, was)) if now != was => part }
  }

  test("query builders leave confs, catalog, strategies and rules alone") {
    val before = snapshot
    Seq("q_events_asof_merge", "q_events_range_join_auto",
      "q_dedup_incremental", "q_sink_backfill", "q_sink_upsert",
      "q_sql_busiest_minutes")
      .foreach { q =>
        val changed = changedBy(q, before)
        assert(changed.isEmpty, s"building $q changed the session")
      }
  }

  test("transformWithState harnesses never set the state-store provider " +
      "on the shared session, even while they run") {
    import java.util.concurrent.atomic.AtomicReference
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val key = "spark.sql.streaming.stateStore.providerClass"
    val before = spark.conf.getAll.get(key)
    val seen = new AtomicReference[Option[String]](before)
    @volatile var building = true
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val poll = Future {
        while (building) {
          val now = spark.conf.getAll.get(key)
          if (now != before) seen.set(now)
          Thread.sleep(1)
        }
      }
      val builds = Seq("q_stream_cusum", "q_stream_wallet_volume")
        .map(q => Future(Scratch.scoped(
          SparkEntry.queries(q)(spark, sfDir).collect())))
      try Await.result(Future.sequence(builds), 5.minutes)
      finally building = false
      Await.result(poll, 1.minute)
    } finally pool.shutdown()
    assert(seen.get == before,
      s"the shared session's $key read ${seen.get} while a harness ran")
  }

  // every streaming harness runs a query to completion while it builds,
  // so each is checked on its own: a result sink that registers a view
  // (as a memory sink does) fails here
  SparkEntry.queries.keys.filter(_.startsWith("q_stream_")).toSeq.sorted
    .foreach { q =>
      test(s"$q leaves the session alone") {
        val changed = changedBy(q, snapshot)
        assert(changed.isEmpty,
          s"building $q changed the session: ${changed.mkString(", ")}")
      }
    }
}
