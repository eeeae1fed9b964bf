package graft

import org.apache.spark.sql.{GraftBridge, SparkSession}

/** One-call entry point for a graft-ready session: a user of the
  * reference library gets the whole engine — SQL functions, optimizer
  * rules, the custom as-of strategy, and the conventions every operator
  * assumes (UTC, nanos-as-long parquet reads, AQE with skew handling) —
  * from a single builder. Existing sessions can be upgraded in place
  * with [[attach]].
  */
object Graft {

  /** Build a session wired for graft — the only place graft builds one.
    * `shufflePartitions` should track cluster parallelism (cores
    * locally, 2-3x executor cores at scale). `conf` pairs are applied
    * last, so a harness can add or override settings (e.g.
    * `"spark.driver.maxResultSize" -> "16g"`).
    *
    * If a session already exists (spark-shell, a notebook, an embedding
    * app), `getOrCreate` returns it and the static `spark.sql.extensions`
    * conf does not apply; that session is then upgraded with [[attach]].
    */
  def session(master: String = "local[*]",
      shufflePartitions: Int = Runtime.getRuntime.availableProcessors,
      conf: Seq[(String, String)] = Nil): SparkSession = {
    val s = conf.foldLeft(SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.extensions", classOf[plans.GraftExtensions].getName)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
    if (!s.catalog.functionExists("graft_nop")) attach(s)
    s
  }

  /** Upgrade an existing session in place (idempotent): registers the
    * graft_* SQL functions and installs the planner strategy. Optimizer
    * rules injected via extensions need [[session]]; the rewrite-based
    * operators fall back to their explicit formulations without them.
    */
  def attach(spark: SparkSession): Unit = {
    plans.GraftExtensions.functions
      .foreach(GraftBridge.registerFunction(spark, _))
    GraftBridge.addStrategy(spark, plans.AsOfMergeStrategy)
  }
}
