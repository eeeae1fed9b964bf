package graft

import java.io.File
import java.nio.file.{Files, Paths}

/** Every directory a query builder makes comes from [[Scratch]], and a
  * scope that builds and writes a query leaves none of them behind. */
class ScratchSpec extends TestSparkSession {
  private def graftDirs: Set[String] =
    new File(System.getProperty("java.io.tmpdir")).listFiles()
      .filter(_.getName.startsWith("graft_")).map(_.getName).toSet

  test("Scratch.scala is the only main source that creates a directory") {
    import scala.jdk.CollectionConverters._
    val makers = scala.util.Using.resource(Files.walk(Paths.get("src/main"))) {
      _.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") &&
          Files.readString(p).contains("createTempDirectory"))
        .map(_.getFileName.toString).toSeq
    }
    assert(makers == Seq("Scratch.scala"))
  }

  test("a scope deletes its directories when its body throws") {
    var made = ""
    intercept[IllegalStateException](Scratch.scoped {
      made = Scratch.dir("spec_")
      Files.writeString(Paths.get(made, "f"), "x")
      throw new IllegalStateException("boom")
    })
    assert(made.nonEmpty && !new File(made).exists())
  }

  // the keys whose builders make scratch: sink round trips, wire
  // captures and every streaming harness (drains and replay sources)
  (Seq("q_events_sink_roundtrip", "q_events_wire_source",
    "q_events_wire_dsv2_write", "q_sink_backfill", "q_sink_compact",
    "q_sink_upsert") ++
    SparkEntry.queries.keys.filter(_.startsWith("q_stream_")).toSeq.sorted)
    .foreach { q =>
      test(s"$q leaves no scratch once its scoped write returns") {
        val before = graftDirs
        var made = Set.empty[String]
        Scratch.scoped {
          SparkEntry.queries(q)(spark, sfDir)
            .write.format("noop").mode("overwrite").save()
          made = graftDirs -- before
        }
        assert(made.nonEmpty, s"$q made no scratch directory")
        val left = graftDirs -- before
        assert(left.isEmpty, s"$q left ${left.mkString(", ")}")
      }
    }
}
