package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs. */
trait TestSparkSession extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = TestSparkSession.session
  val sfDir = "/root/testdata/sf0.001"

  /** The call site of every job started while `build` runs (AQE
    * submits each shuffle stage as a job of its own). */
  def jobSitesDuring(build: => Unit): Seq[String] = {
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        sites.add(j.stageInfos.sortBy(_.stageId).lastOption
          .fold("")(_.name)) // the result stage is named for the call site
    }
    // LiveListenerBus is private[spark]: drain it through reflection so
    // every job event has been delivered before the sites are read
    def drain(): Unit = {
      val busM = spark.sparkContext.getClass.getMethod("listenerBus")
      busM.setAccessible(true)
      val bus = busM.invoke(spark.sparkContext)
      val waitM = bus.getClass.getMethod("waitUntilEmpty", classOf[Long])
      waitM.setAccessible(true)
      waitM.invoke(bus, java.lang.Long.valueOf(30000L))
    }
    drain()
    spark.sparkContext.addSparkListener(listener)
    try {
      build; drain()
      scala.jdk.CollectionConverters.IteratorHasAsScala(sites.iterator())
        .asScala.toSeq
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** The number of jobs started while `build` runs. */
  def jobsDuring(build: => Unit): Int = jobSitesDuring(build).size
}

object TestSparkSession {
  lazy val session: SparkSession = {
    val s = Graft.session("local[4]", 4, Seq("spark.ui.enabled" -> "false"))
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
