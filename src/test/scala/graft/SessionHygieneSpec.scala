package graft

/** Building a registered query must leave the shared session alone:
  * under Verify's thread pool a builder's conf, catalog or planner edit
  * would make plans depend on the order the queries run in. */
class SessionHygieneSpec extends TestSparkSession {
  test("query builders leave confs, catalog, strategies and rules alone") {
    val parts = Seq("confs", "tables", "extraStrategies",
      "extraOptimizations")
    def snapshot: Seq[Any] = Seq(
      spark.conf.getAll,
      spark.catalog.listTables().collect().map(_.name).toSet,
      spark.experimental.extraStrategies,
      spark.experimental.extraOptimizations)
    val before = snapshot
    Seq("q_events_asof_merge", "q_events_range_join_auto",
      "q_dedup_incremental", "q_sink_backfill", "q_sink_upsert")
      .foreach { q =>
        SparkEntry.queries(q)(spark, sfDir)
        val changed = parts.zip(snapshot.zip(before))
          .collect { case (part, (now, was)) if now != was => part }
        assert(changed.isEmpty, s"building $q changed the session")
      }
  }
}
