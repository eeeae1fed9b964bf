package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, EventOps, Similarity}

/** Threshold-calibration probe for the QaGates family (test scope, not
  * part of the library surface): prints the MEASURED recall/error of
  * every sketch gate at a given sf dir, so the committed gate bounds
  * are pinned from data, not guessed. Run:
  *   sbt "Test/runMain graft.GateProbe /root/testdata/sf0.01"
  */
object GateProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Graft.session("local[16]", 16,
      Seq("spark.ui.enabled" -> "false"))
    spark.sparkContext.setLogLevel("WARN")

    def recallTopK(exact: DataFrame, approx: DataFrame): Double = {
      val hits = exact.select("q_id", "neighbor_id")
        .join(approx.select("q_id", "neighbor_id").distinct()
            .withColumn("hit", lit(1)),
          Seq("q_id", "neighbor_id"), "left_outer")
      hits.agg(sum(coalesce(col("hit"), lit(0))).cast("double") /
        count(lit(1)).cast("double")).head.getDouble(0)
    }
    def recallPairs(exact: DataFrame, lsh: DataFrame,
        c1: String, c2: String): Double = {
      val hits = exact.select(c1, c2)
        .join(lsh.select(c1, c2).distinct().withColumn("hit", lit(1)),
          Seq(c1, c2), "left_outer")
      hits.agg(sum(coalesce(col("hit"), lit(0))).cast("double") /
        count(lit(1)).cast("double")).head.getDouble(0)
    }

    val light = args.length > 1 && args(1) == "light" // skip pair-expanded
    val emb = Tables.embeddings(spark, sfDir)
    val docs = Tables.documents(spark, sfDir)
    val events = Tables.events(spark, sfDir)
    val q = emb.filter(col("vec_id") < 10)
    val exact5 = Similarity.bruteForceTopK(emb, q, 5).localCheckpoint()

    println(s"== gate probe at $sfDir ==")
    println(f"ivf_recall      ${recallTopK(exact5, Similarity.ivfTopK(emb, q, 5))}%.4f")
    println(f"pq_recall       ${recallTopK(exact5, Similarity.pqTopK(emb, q, 64, 5))}%.4f")
    println(f"ivfpq_recall    ${recallTopK(exact5, Similarity.ivfpqTopK(emb, q, 64, 5))}%.4f")
    if (!light) {
      println(f"minhash_recall  ${recallPairs(Dedup.ngramJaccard(docs, 0.5), Dedup.minhashLsh(docs, 0.5), "d1", "d2")}%.4f")
      println(f"hyperplane_rec  ${recallPairs(Similarity.cosinePairs(emb, 0.3), Similarity.hyperplaneLshPairs(emb, 0.3), "v1", "v2")}%.4f")
      println(f"simhash_recall  ${recallPairs(Dedup.ngramJaccard(docs, 0.8), Dedup.simhash(docs), "d1", "d2")}%.4f")
    }
    val au = EventOps.approxUsers(events)
      .agg(max(abs(col("approx_users") - col("exact_users")).cast("double") /
        col("exact_users").cast("double"))).head.getDouble(0)
    println(f"approx_users_err $au%.4f")
    val hr = EventOps.usersFromSketches(
        EventOps.dailyUserSketches(events), Long.MinValue, Long.MaxValue)
      .select(col("approx_users"))
      .crossJoin(events.agg(countDistinct(col("user_id"))
        .cast("double").as("exact_users")))
      .agg(max(abs(col("approx_users") - col("exact_users")) /
        col("exact_users"))).head.getDouble(0)
    println(f"hll_range_err   $hr%.4f")
    val ap = EventOps.approxValueStats(events)
      .select(col("event_type"), col("p50_approx"), col("p95_approx"))
    val ranks = events.select(col("event_type"), col("value"))
      .join(broadcast(ap), "event_type")
      .groupBy("event_type")
      .agg(
        (sum(when(col("value") <= col("p50_approx"), 1L).otherwise(0L))
          .cast("double") / count(lit(1)).cast("double")).as("r50"),
        (sum(when(col("value") <= col("p95_approx"), 1L).otherwise(0L))
          .cast("double") / count(lit(1)).cast("double")).as("r95"))
      .agg(max(abs(col("r50") - 0.5)).as("e50"),
        max(abs(col("r95") - 0.95)).as("e95")).head
    println(f"pctl_rank_err   p50=${ranks.getDouble(0)}%.5f p95=${ranks.getDouble(1)}%.5f")
    spark.stop()
    sys.exit(0) // lingering non-daemon threads must not wedge the JVM
  }
}
