package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FormattedMode, debug}

import graft.{Bench, Graft, SparkEntry, Verify}

/** One CLI over the registered queries (`SparkEntry.queries`). `<qs>` is
  * a comma-separated list of query names, or `ALL`.
  *
  * {{{
  * runMain graft.tools.Cli run     <sfDir> <qs> [--show]
  * runMain graft.tools.Cli explain <sfDir> <qs> [<outDir> <suffix>]
  * runMain graft.tools.Cli time    <sfDir>
  * runMain graft.tools.Cli codegen <sfDir> <qs>
  * runMain graft.tools.Cli oracles <outFile> [<qs>]
  * }}}
  *
  *  - `run` prints each query's row count, and its first 10 rows with
  *    `--show`: the quick sanity probe before the full Verify gate.
  *  - `explain` prints each query's formatted physical plan, or writes
  *    it to `<outDir>/<q>_<suffix>.txt` for committed before/after diffs.
  *  - `time` runs `Bench.headline` through the noop sink on Bench's session confs and prints `TIMED <q> <s>`; a
  *    watchdog dumps every thread's stack once a query passes 5 s.
  *  - `codegen` runs each query, compiles its whole-stage code and prints
  *    `CODEGEN <q> max_method=<bytes> over_8000=<n> stages=<n>`: its
  *    largest generated method, and how many stages have one over
  *    HotSpot's 8,000-byte huge-method limit. The JIT never compiles
  *    such a method, so that stage runs interpreted.
  *  - `oracles` writes the oracle SQL as oracle_sql.json without running
  *    a query, so a scale sweep that runs Verify in several passes can
  *    assemble one oracle file.
  *
  * Dumping one query's result with its oracle is
  * `SPARK_GRAFT_ONLY=<q> graft.Verify <sfDir> <outDir>`. Sessions use
  * `SPARK_GRAFT_CPUS` cores (default: all) plus the `k=v,...` session
  * confs in `SPARK_GRAFT_PLANCONF`, e.g. to make a plan dump take a
  * size-gated regime the small test data would not trip.
  */
object Cli {
  def main(args: Array[String]): Unit = args.toList match {
    case "run" :: sfDir :: qs :: flags =>
      withSession(Nil) { spark =>
        names(qs).foreach { name =>
          val df = SparkEntry.queries(name)(spark, sfDir)
          println(s"[run] $name rows=${df.count()}")
          if (flags.contains("--show")) df.show(10, truncate = false)
        }
      }
    case "explain" :: sfDir :: qs :: out if out.length != 1 =>
      withSession(Nil) { spark =>
        names(qs).foreach { name =>
          try {
            val plan = SparkEntry.queries(name)(spark, sfDir)
              .queryExecution.explainString(FormattedMode)
            out match {
              case dir :: suffix :: _ =>
                Files.createDirectories(Paths.get(dir))
                Files.writeString(Paths.get(s"$dir/${name}_$suffix.txt"), plan)
                println(s"[explain] wrote $name")
              case _ => println(plan)
            }
          } catch { case e: Throwable =>
            System.err.println(s"[explain] $name FAILED: ${e.getMessage}")
          }
        }
      }
    case "time" :: sfDir :: Nil =>
      withSession(Bench.sessionConf) { spark =>
        time(spark, sfDir, Bench.headline)
      }
    case "codegen" :: sfDir :: qs :: Nil =>
      withSession(Nil) { spark =>
        names(qs).foreach { name =>
          try {
            // run the plan first: an adaptive plan builds its codegen
            // stages only as it executes
            val qe = SparkEntry.queries(name)(spark, sfDir).queryExecution
            qe.toRdd.count()
            val stats = debug.codegenStringSeq(qe.executedPlan)
              .map(_._3.maxMethodCodeSize)
            println(s"CODEGEN $name max_method=${(0 +: stats).max} " +
              s"over_8000=${stats.count(_ > HugeMethodLimit)} stages=${stats.size}")
          } catch { case e: Throwable =>
            System.err.println(s"[codegen] $name FAILED: ${e.getMessage}")
          }
        }
      }
    case "oracles" :: outFile :: rest =>
      Verify.writeOracles(outFile, rest.headOption.map(names(_).toSet))
      println(s"wrote $outFile")
    case _ =>
      System.err.println("usage: Cli run|explain|time|codegen <sfDir> ... | " +
        "Cli oracles <outFile> [<qs>] (see the scaladoc)")
      sys.exit(2)
  }

  /** HotSpot's `-XX:HugeMethodLimit`: bytecode past it is never JIT-compiled. */
  private val HugeMethodLimit = 8000

  private def names(qs: String): Seq[String] =
    if (qs == "ALL") SparkEntry.queries.keys.toSeq.sorted
    else qs.split(",").map(_.trim).filter(_.nonEmpty).toSeq

  private def withSession(conf: Seq[(String, String)])(
      body: SparkSession => Unit): Unit = {
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val planConf = sys.env.get("SPARK_GRAFT_PLANCONF").toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.contains("="))
      .map { kv => val Array(k, v) = kv.split("=", 2); k -> v }
    val spark = Graft.session(s"local[$cpus]", cpus,
      ("spark.ui.enabled" -> "false") +: (conf ++ planConf))
    spark.sparkContext.setLogLevel("ERROR")
    try body(spark) finally spark.stop()
  }

  private def time(spark: SparkSession, sfDir: String,
      queries: Seq[String]): Unit = {
    // untimed JVM/codegen warm-up, as in Bench
    spark.range(1000000).selectExpr("sum(id * 2)").collect()
    @volatile var current = ""
    @volatile var started = 0L
    val watchdog = new Thread(() => {
      while (true) {
        Thread.sleep(1000)
        val name = current
        if (name.nonEmpty && System.nanoTime() - started > 5e9) {
          println(s"== WATCHDOG: $name running > 5s, dumping stacks ==")
          import scala.jdk.CollectionConverters._
          Thread.getAllStackTraces.asScala.foreach { case (t, st) =>
            if (st.nonEmpty && !t.getName.contains("watchdog")) {
              println(s"-- ${t.getName} state=${t.getState}")
              st.take(12).foreach(f => println(s"   $f"))
            }
          }
          current = "" // one dump per query
        }
      }
    }, "graft-watchdog")
    watchdog.setDaemon(true)
    watchdog.start()
    queries.foreach { name =>
      started = System.nanoTime()
      current = name
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      val el = (System.nanoTime() - started) / 1e9
      current = ""
      println(f"TIMED $name $el%.2fs")
    }
  }
}
