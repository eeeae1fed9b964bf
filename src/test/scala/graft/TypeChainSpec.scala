package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.EventOps

/** The type-chain operators collect their transition matrix once and
  * iterate on the driver, up to [[EventOps.MaxChainTypes]] types. */
class TypeChainSpec extends TestSparkSession {
  import spark.implicits._

  private val builders: Seq[(String, DataFrame => DataFrame)] = Seq(
    "stationaryTypeMix" -> (EventOps.stationaryTypeMix(_)),
    "absorptionProbabilities" -> (EventOps.absorptionProbabilities(_)))

  for ((name, build) <- builders)
    test(s"$name builds with no checkpoint and at most 4 jobs at sf0.001") {
      // the events file's schema, the lead window's and the count's
      // shuffle stages, and the one collect; building it with three
      // eager checkpoints, a count and two collects took 13 jobs
      val sites = jobSitesDuring(build(Tables.events(spark, sfDir)))
      assert(!sites.exists(_.toLowerCase.contains("checkpoint")),
        s"checkpoint jobs: ${sites.mkString(", ")}")
      assert(sites.size <= 4, s"${sites.size} jobs: ${sites.mkString(", ")}")
    }

  /** `n` users with one event each, each of its own type. */
  private def types(n: Int) = (0 until n)
    .map(i => (s"e$i", s"u$i", s"t$i", i.toLong))
    .toDF("event_id", "user_id", "event_type", "sec")
    .withColumn("ts", timestamp_seconds(col("sec")))

  test("the type chain takes 1,000 event types and fails loudly on 1,001") {
    for ((name, build) <- builders) {
      assert(build(types(1000)).count() == (
        if (name == "stationaryTypeMix") 0 else 1000))
      val e = intercept[IllegalArgumentException](build(types(1001)))
      assert(e.getMessage.contains(
        "type chain: more than 1000 distinct event types"), name)
    }
  }
}
