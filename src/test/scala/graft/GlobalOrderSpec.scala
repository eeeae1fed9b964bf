package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.GlobalOrder

/** [[GlobalOrder]]'s ranks and running sums equal a single-partition
  * window over the same order, on the inputs where the range-partitioned
  * shape could go wrong. */
class GlobalOrderSpec extends TestSparkSession {
  import spark.implicits._

  private type Rows = Seq[(Long, Option[Long], Long)] // (id, key, weight)

  private val asc = Seq(col("key"), col("id"))
  private val desc = Seq(col("key").desc, col("id"))

  private val cases: Seq[(String, Rows, Seq[Column], Option[Int])] = Seq(
    ("empty input", Nil, asc, None),
    ("one row", Seq((7L, Some(3L), 5L)), asc, None),
    ("ties broken by id", (1L to 40L).map(i => (41 - i, Some(i % 3), i)),
      asc, None),
    ("ties broken by id, descending key",
      (1L to 40L).map(i => (i, Some(i % 4), 2L)), desc, None),
    ("null order keys", (1L to 30L).map(i =>
      (i, if (i % 4 == 0) None else Some(i % 5), i)), asc, None),
    ("more range partitions than rows",
      Seq((1L, Some(9L), 1L), (2L, Some(1L), 2L), (3L, Some(5L), 3L)),
      asc, Some(8)),
    ("running-sum weights of 0", (1L to 30L).map(i =>
      (i, Some(i % 7), if (i % 3 == 0) i else 0L)), asc, Some(4)))

  for ((name, rows, order, nPart) <- cases)
    test(s"GlobalOrder ≡ a single-partition window: $name") {
      val df = rows.toDF("id", "key", "w").repartition(3)
      val all = Window.orderBy(order: _*)
      val ref = df
        .select(col("id"), row_number().over(all).cast("bigint").as("rank"),
          sum("w").over(all.rowsBetween(Window.unboundedPreceding,
            Window.currentRow)).as("cum"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sorted.toSeq
      def positions(weight: Option[String]) =
        GlobalOrder(df, order, weight, nPart).withPosition("pos")
          .select("id", "pos").collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val rank = positions(None)
      val cum = positions(Some("w"))
      val got = rank.keys.toSeq.sorted.map(id => (id, rank(id), cum(id)))
      assert(got == ref)
      assert(got.size == rows.size)
    }

  test("spark_partition_id and the triangular offset join appear in main " +
      "sources only in GlobalOrder.scala") {
    import scala.jdk.CollectionConverters._
    val users = scala.util.Using.resource(Files.walk(Paths.get("src/main"))) {
      _.iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .filter { p =>
          val src = Files.readString(p)
          src.contains("spark_partition_id") ||
            src.matches("(?s).*col\\(\"b\\.pid\"\\)\\s*<.*")
        }
        .map(_.getFileName.toString).toSeq
    }
    assert(users == Seq("GlobalOrder.scala"))
  }
}
