package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs. */
trait TestSparkSession extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = TestSparkSession.session
  val sfDir = "/root/testdata/sf0.001"
}

object TestSparkSession {
  lazy val session: SparkSession = {
    val s = Graft.session("local[4]", 4, Seq("spark.ui.enabled" -> "false"))
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
