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
