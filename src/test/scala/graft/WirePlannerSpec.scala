package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.streaming.Trigger

import graft.sources.wire.{GraftWireFrameReader, GraftWirePartition,
  GraftWireRange, GraftWireTable}

/** The graft-wire partition planner: small files are packed under
  * Spark's `FilePartition` rule, oversized files are split at frame
  * boundaries, and a packed read gives exactly the rows that reading
  * each file alone gives. */
class WirePlannerSpec extends TestSparkSession {
  private val conf = new org.apache.hadoop.conf.Configuration()
  private val DefaultOpenCost = 4L * 1024 * 1024

  /** A file's frames: `n` frames of `size` payload bytes, each payload
    * distinct, and an optional tail that truncates the file. */
  private case class WireFile(n: Int, size: Int = 50,
      tail: Array[Byte] = Array.emptyByteArray)

  private def write(dir: String, files: Seq[WireFile]): Seq[String] =
    files.zipWithIndex.map { case (f, i) =>
      val bytes = new java.io.ByteArrayOutputStream()
      (0 until f.n).foreach { j =>
        val p = s"$i/$j".getBytes("UTF-8").padTo(f.size, 'x'.toByte)
        bytes.write(Array[Byte](p.length.toByte, (p.length >> 8).toByte,
          (p.length >> 16).toByte, (p.length >> 24).toByte))
        bytes.write(p)
      }
      bytes.write(f.tail)
      val path = Paths.get(dir, f"f$i%03d.bin")
      Files.write(path, bytes.toByteArray)
      path.toString
    }

  /** Every (file, frame_idx, payload) row the partitions read, in
    * (file, frame_idx) order. */
  private def read(parts: Seq[GraftWirePartition])
      : Seq[(String, Long, Seq[Byte])] =
    parts.flatMap { p =>
      val r = new GraftWireFrameReader(p, GraftWireTable.Schema, conf)
      try Iterator.continually(r).takeWhile(_.next()).map(_.get())
        .map(row => (row.getUTF8String(0).toString, row.getLong(1),
          row.getBinary(2).toSeq)).toVector
      finally r.close()
    }.sortBy(t => (t._1, t._2))

  private def fileOf(path: String): String =
    Paths.get(path).getFileName.toString

  /** One planner input; `minPartitions` None is the session's target. */
  private case class Layout(name: String, files: Seq[WireFile],
      splitBytes: Long, openCost: Long, minPartitions: Option[Int],
      check: (Seq[GraftWirePartition], Seq[String]) => Unit)

  private def sessionPartitions = GraftBridge.filePacking(spark)._2

  private val truncatedTail = Array[Byte](50, 0, 0, 0, 1, 2, 3)

  private val layouts = Seq(
    Layout("40 small files pack into at most one partition per core",
      Seq.fill(40)(WireFile(100)), GraftWireTable.DefaultSplitBytes,
      DefaultOpenCost, None, (parts, files) => {
        assert(sessionPartitions == spark.sparkContext.defaultParallelism)
        assert(parts.nonEmpty && parts.size <= sessionPartitions,
          s"${parts.size} partitions")
        assert(parts.flatMap(_.ranges) ==
          parts.flatMap(_.ranges).distinct)
        assert(parts.flatMap(_.ranges.map(_.file)).sorted == files)
      }),
    Layout("an oversized file is split at frame boundaries, the rest packed",
      WireFile(2000) +: Seq.fill(9)(WireFile(20)), 16L * 1024, 1024L,
      Some(4),
      (parts, files) => {
        val (big, small) = parts.partition(_.ranges.exists(_.file ==
          files.head))
        assert(big.size > 1 && big.forall(_.ranges.size == 1),
          s"oversized file ranges: ${big.map(_.ranges)}")
        assert(big.map(_.ranges.head.startOffset).sorted.head == 0L &&
          big.map(_.ranges.head.startFrameIdx).distinct.size == big.size)
        assert(small.size < 9 && small.flatMap(_.ranges).forall(r =>
          r == GraftWireRange.whole(r.file)), s"small: $small")
      }),
    Layout("a truncated file mid-pack does not end the files after it",
      Seq(WireFile(10), WireFile(8), WireFile(6, tail = truncatedTail),
        WireFile(4), WireFile(2)), GraftWireTable.DefaultSplitBytes,
      DefaultOpenCost, Some(1), (parts, files) => {
        assert(parts.size == 1)
        val order = parts.head.ranges.map(r => fileOf(r.file))
        assert(order == Seq("f000.bin", "f001.bin", "f002.bin", "f003.bin",
          "f004.bin"), s"largest first: $order")
        val rows = read(parts)
        assert(rows.size == 30)
        assert(rows.count(r => fileOf(r._1) == "f004.bin") == 2)
      }),
    Layout("an empty batch plans no partition", Seq.empty,
      GraftWireTable.DefaultSplitBytes, DefaultOpenCost, None,
      (parts, _) => assert(parts.isEmpty)))

  for (l <- layouts)
    test(s"planner: ${l.name}; packed reads ≡ one-file-per-partition " +
        "reads") {
      val files = write(Scratch.dir("wire_plan"), l.files)
      val parts = GraftWireTable.planPartitions(files, l.splitBytes,
        l.openCost, l.minPartitions.getOrElse(sessionPartitions), conf)
      l.check(parts, files)
      val alone = files.map(f => GraftWirePartition(
        Seq(GraftWireRange.whole(f))))
      assert(read(parts) == read(alone),
        "packing must not add, drop or change a row")
    }

  test("a 40-file micro-batch runs at most one scan task per core") {
    val dir = Scratch.dir("wire_plan_stream")
    write(dir, Seq.fill(40)(WireFile(100)))
    val tasks = tasksDuring {
      spark.readStream.format("graft-wire").load(dir)
        .writeStream.format("noop")
        .option("checkpointLocation", Scratch.dir("wire_plan_ckpt"))
        .trigger(Trigger.AvailableNow()).start()
        .awaitTermination()
    }
    assert(tasks >= 1 && tasks <= spark.sparkContext.defaultParallelism,
      s"$tasks tasks")
  }

  test("the Hadoop conf reaches tasks only inside a broadcast") {
    import scala.jdk.CollectionConverters._
    val allowed = Seq(
      "import org.apache.spark.util.SerializableConfiguration",
      "Broadcast[SerializableConfiguration]",
      "broadcast(new SerializableConfiguration(")
    val sources = scala.util.Using.resource(
        Files.walk(Paths.get("src/main"))) {
      _.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .map(p => p.getFileName.toString -> Files.readString(p)).toSeq
    }
    val bare = sources.collect {
      case (name, text) if allowed.foldLeft(text)(_.replace(_, ""))
          .contains("SerializableConfiguration") => name
    }
    assert(bare.isEmpty, s"SerializableConfiguration outside a broadcast: " +
      bare.mkString(", "))
    assert(sources.exists(_._2.contains(allowed.last)))
  }
}
