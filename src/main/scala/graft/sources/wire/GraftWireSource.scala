package graft.sources.wire

import java.io.{DataInputStream, EOFException}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** DataSource V2 table for the graft wire format (SURVEY §2 A33): batch
  * and micro-batch reads, and the capture-side batch write
  * ([[GraftWireBatchWrite]]; `GraftWireWriter.writeFrames` is its
  * overwrite form), the only frame writer.
  *
  * The reference consumes framed event bytes off a wire (Yellowstone gRPC
  * / ShredStream connections, each connection an independent byte
  * sequence — `src/grpc/`, `src/shred/`). The Spark-native re-expression
  * is a DSv2 table: a directory of frame files, each file a concatenation
  * of `[u32 LE length][payload]` frames, surfaced as rows
  * `(file, frame_idx, payload)` ready for the columnar decoders
  * ([[graft.sources.EventCodec]] / [[graft.sources.ProtocolRegistry]]).
  *
  * Scale design: files are the unit of parallelism, as connections are
  * in the reference, but a scan task costs far more than a small capture
  * file, so one planner ([[GraftWireTable.planPartitions]]) serves the
  * batch scan and every micro-batch the way Spark's `FilePartition`
  * serves its file sources. A file longer than the `split.bytes` read
  * option (default 128 MB, the `files.maxPartitionBytes` analog) is cut
  * at EXACT frame boundaries by a planning-time header walk
  * ([[GraftWireTable.planFile]]: header-only IO, `seek` past every
  * payload), one partition per ~`split.bytes` of frames; variable-length
  * frames make blind byte-range splits unsafe. Every other file is packed
  * whole, largest first, next-fit, under Spark's `maxSplitBytes` rule:
  * each file costs its length plus `spark.sql.files.openCostInBytes`, and
  * a partition holds up to the total cost over
  * `spark.sql.files.minPartitionNum` (else the default parallelism),
  * capped at `split.bytes` and at least the open cost. A 40-file trigger
  * of small files is then one task per core, not 40. A partition is an
  * ordered list of frame ranges that one reader walks in turn, so every
  * row keeps its own `file` and `frame_idx`. `estimateStatistics` reports
  * the real byte size so Catalyst/AQE can cost joins against wire tables.
  * Column pruning is pushed into the reader: a `count(*)` or
  * metadata-only query skips payload materialization per frame. Each
  * scan and each write reads through the session's Hadoop conf, taken
  * once on the driver and broadcast once per scan, stream or write, so an
  * executor deserializes it once rather than once per task.
  */
class GraftWireSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-wire"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GraftWireTable.Schema

  override def getTable(
      schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new GraftWireTable(properties.get("path"))
}

object GraftWireTable {
  val Schema: StructType = StructType(Seq(
    StructField("file", StringType, nullable = false),
    StructField("frame_idx", LongType, nullable = false),
    StructField("payload", BinaryType, nullable = false)))

  /** Default frame-boundary split target for oversized files — the
    * `spark.sql.files.maxPartitionBytes` analog. */
  val DefaultSplitBytes: Long = 128L * 1024 * 1024

  /** Frame ranges of one file. A file at or under `splitBytes` is one
    * range with no IO at all (the rotated-capture fast path). An
    * oversized file gets a header walk: read each 4-byte length, `seek`
    * past the payload — so planning IO is headers only — and cut a range
    * at the first frame boundary past every `splitBytes` of accumulated
    * frames. Cuts carry the exact byte offset AND frame index, so split
    * readers produce bit-identical (file, frame_idx, payload) rows to the
    * unsplit reader. A truncated tail header/payload ends the walk early
    * exactly as the reader stops early — split planning never makes
    * corrupt data fatal. */
  def planFile(file: String, splitBytes: Long,
      conf: Configuration = new Configuration()): Seq[GraftWireRange] = {
    val p = new Path(file)
    val fs = p.getFileSystem(conf)
    val total = fs.getFileStatus(p).getLen
    if (total <= splitBytes) return Seq(GraftWireRange.whole(file))
    val in = fs.open(p)
    try {
      val hdr = new Array[Byte](4)
      val cuts = scala.collection.mutable.ArrayBuffer[(Long, Long)]((0L, 0L))
      var pos = 0L
      var idx = 0L
      var nextCut = splitBytes
      var halted = false
      while (!halted && pos + 4 <= total) {
        in.seek(pos)
        in.readFully(hdr)
        val len = (hdr(0) & 0xff) | ((hdr(1) & 0xff) << 8) |
          ((hdr(2) & 0xff) << 16) | ((hdr(3) & 0xff) << 24)
        val end = pos + 4 + len.toLong
        if (len < 0 || end > total) halted = true // truncated/corrupt tail
        else {
          if (pos >= nextCut) {
            cuts += ((pos, idx))
            nextCut = pos + splitBytes
          }
          pos = end
          idx += 1
        }
      }
      cuts.zipAll(cuts.drop(1).map(c => Some(c)), (0L, 0L), None).map {
        case ((off, fidx), Some((endOff, _))) =>
          GraftWireRange(file, off, fidx, endOff)
        case ((off, fidx), None) =>
          GraftWireRange(file, off, fidx, Long.MaxValue)
      }.toSeq
    } finally in.close()
  }

  /** The scan partitions over `files`, for a batch scan or one
    * micro-batch. Each file longer than `splitBytes` is split at frame
    * boundaries by [[planFile]], one partition per range. The other
    * files are packed whole, largest first, next-fit, under Spark's
    * `FilePartition` rule: a file costs its length plus `openCostBytes`,
    * and a partition is closed before a file whose length would take it
    * past `min(splitBytes, max(openCostBytes, total cost /
    * minPartitions))`. */
  def planPartitions(files: Seq[String], splitBytes: Long,
      openCostBytes: Long, minPartitions: Int,
      conf: Configuration): Seq[GraftWirePartition] = {
    val sized = files.map { f =>
      val p = new Path(f)
      (f, p.getFileSystem(conf).getFileStatus(p).getLen)
    }
    val (large, small) = sized.partition(_._2 > splitBytes)
    val maxSplitBytes = math.min(splitBytes, math.max(openCostBytes,
      sized.map(_._2 + openCostBytes).sum / math.max(minPartitions, 1)))
    val packed = scala.collection.mutable.ArrayBuffer.empty[GraftWirePartition]
    var ranges = Vector.empty[GraftWireRange]
    var cost = 0L
    small.sortBy(-_._2).foreach { case (f, len) =>
      if (ranges.nonEmpty && cost + len > maxSplitBytes) {
        packed += GraftWirePartition(ranges)
        ranges = Vector.empty
        cost = 0L
      }
      ranges :+= GraftWireRange.whole(f)
      cost += len + openCostBytes
    }
    if (ranges.nonEmpty) packed += GraftWirePartition(ranges)
    large.flatMap { case (f, _) => planFile(f, splitBytes, conf) }
      .map(r => GraftWirePartition(Seq(r))) ++ packed
  }

  /** Frame files under `path` — a directory, a single file, or a glob
    * (e.g. `out/batch_*`, the per-micro-batch egress layout). */
  def listFrameFiles(path: String,
      conf: Configuration = new Configuration()): Seq[String] = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val roots: Seq[Path] =
      if (path.exists(c => "*?[{".contains(c)))
        Option(fs.globStatus(p)).map(_.toSeq.map(_.getPath))
          .getOrElse(Seq.empty)
      else Seq(p)
    roots.flatMap { r =>
      if (fs.getFileStatus(r).isDirectory)
        fs.listStatus(r).filter(_.isFile).map(_.getPath.toString)
          .filter(_.endsWith(".bin")).toSeq
      else Seq(r.toString)
    }.sorted
  }

  /** `conf` broadcast for the tasks of one scan, stream or write: each
    * executor deserializes it once, not once per task. */
  private[wire] def broadcastConf(spark: SparkSession,
      conf: Configuration): Broadcast[SerializableConfiguration] =
    spark.sparkContext.broadcast(new SerializableConfiguration(conf))
}

class GraftWireTable(path: String) extends Table
    with SupportsRead with org.apache.spark.sql.connector.catalog.SupportsWrite {
  require(path != null, "graft-wire requires .load(path)")
  override def name(): String = s"graft-wire:$path"
  override def schema(): StructType = GraftWireTable.Schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(
      TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE)
  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftWireScanBuilder(path,
      options.getLong("split.bytes", GraftWireTable.DefaultSplitBytes),
      SparkSession.active)
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new GraftWireWriteBuilder(path, info.schema(), info.queryId(),
      SparkSession.active)
}

class GraftWireScanBuilder(path: String, splitBytes: Long,
    spark: SparkSession)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = GraftWireTable.Schema

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan =
    new GraftWireScan(path, required, splitBytes, spark)
}

class GraftWireScan(path: String, required: StructType, splitBytes: Long,
    spark: SparkSession)
    extends Scan with Batch with SupportsReportStatistics {
  // the session's Hadoop conf and packing rule, read once on the driver
  private val conf: Configuration = GraftBridge.hadoopConf(spark)
  private val (openCostBytes, minPartitions) = GraftBridge.filePacking(spark)

  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  /** Size from the file listing (frame payloads dominate the bytes), so
    * Catalyst can cost joins against wire tables — e.g. auto-broadcast a
    * small capture against a large history table. */
  override def estimateStatistics(): Statistics = new Statistics {
    private val bytes: Long = {
      val fs = new Path(path).getFileSystem(conf)
      listFiles().map(f => fs.getFileStatus(new Path(f)).getLen).sum
    }
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(bytes)
    override def numRows(): java.util.OptionalLong =
      java.util.OptionalLong.empty()
  }
  override def description(): String =
    s"GraftWireScan(path=$path, columns=${required.fieldNames.mkString(",")})"

  private[wire] def listFiles(): Seq[String] =
    GraftWireTable.listFrameFiles(path, conf)

  private[wire] def plan(files: Seq[String]): Array[InputPartition] =
    GraftWireTable.planPartitions(files, splitBytes, openCostBytes,
      minPartitions, conf).toArray

  override def planInputPartitions(): Array[InputPartition] =
    plan(listFiles())

  /** One reader factory, and so one conf broadcast, per scan: a stream
    * reuses it for every micro-batch. */
  private lazy val readerFactory =
    new GraftWireReaderFactory(required,
      GraftWireTable.broadcastConf(spark, conf))

  override def createReaderFactory(): PartitionReaderFactory = readerFactory

  override def toMicroBatchStream(
      checkpointLocation: String): streaming.MicroBatchStream =
    new GraftWireMicroBatchStream(this)
}

/** Streaming offset: the sorted set of frame files fully ingested so far.
  * Capture files are append-per-file but arrive whole (the capture layer
  * rotates files), so file granularity is the natural commit unit — the
  * analog of the reference's per-connection stream positions. */
case class GraftWireOffset(files: Seq[String])
    extends streaming.Offset {
  override def json(): String =
    files.sorted.map(f => "\"" + f.replace("\"", "\\\"") + "\"")
      .mkString("[", ",", "]")
}

object GraftWireOffset {
  def fromJson(s: String): GraftWireOffset = {
    // minimal JSON string-array parse (no external deps)
    val items = "\"((?:[^\"\\\\]|\\\\.)*)\"".r
      .findAllMatchIn(s).map(_.group(1).replace("\\\"", "\"")).toSeq
    GraftWireOffset(items)
  }
}

/** Micro-batch stream over a growing directory of frame files: each
  * trigger ingests the files that appeared since the last committed
  * offset, planned and read exactly as the batch scan plans and reads
  * them (identical decode semantics, proven by the availableNow parity
  * spec). */
class GraftWireMicroBatchStream(scan: GraftWireScan)
    extends streaming.MicroBatchStream {
  override def latestOffset(): streaming.Offset =
    GraftWireOffset(scan.listFiles())

  override def initialOffset(): streaming.Offset = GraftWireOffset(Seq())

  override def deserializeOffset(json: String): streaming.Offset =
    GraftWireOffset.fromJson(json)

  override def commit(end: streaming.Offset): Unit = ()

  override def stop(): Unit = ()

  override def planInputPartitions(
      start: streaming.Offset, end: streaming.Offset): Array[InputPartition] = {
    val seen = start.asInstanceOf[GraftWireOffset].files.toSet
    scan.plan(end.asInstanceOf[GraftWireOffset].files.filterNot(seen))
  }

  override def createReaderFactory(): PartitionReaderFactory =
    scan.createReaderFactory()
}

/** Frames of one file whose HEADER starts in [startOffset, endOffset),
  * the first of them numbered `startFrameIdx`. */
case class GraftWireRange(file: String, startOffset: Long,
    startFrameIdx: Long, endOffset: Long)

object GraftWireRange {
  def whole(file: String): GraftWireRange =
    GraftWireRange(file, 0L, 0L, Long.MaxValue)
}

/** One scan task's input: frame ranges read in order by one reader. */
case class GraftWirePartition(ranges: Seq[GraftWireRange])
    extends InputPartition

class GraftWireReaderFactory(required: StructType,
    conf: Broadcast[SerializableConfiguration])
    extends PartitionReaderFactory {
  override def createReader(
      partition: InputPartition): PartitionReader[InternalRow] =
    new GraftWireFrameReader(partition.asInstanceOf[GraftWirePartition],
      required, conf.value.value)
}

/** Sequential frame reader over a partition's ranges:
  * `[u32 LE length][payload]`* in each. A truncated or corrupt frame — a
  * header cut short, or a length past the end of the file — ends that
  * file early instead of failing the task, and the reader goes on with
  * the next range (untrusted capture data must never fail the job — the
  * reference length-checks every wire read the same way). */
class GraftWireFrameReader(part: GraftWirePartition, required: StructType,
    conf: Configuration = new Configuration())
    extends PartitionReader[InternalRow] {
  // the table column (0 file, 1 frame_idx, 2 payload) behind each
  // required ordinal, resolved once per partition
  private val columns: Array[Int] =
    required.fieldNames.map(GraftWireTable.Schema.fieldIndex)
  private val ranges = part.ranges.iterator
  private var range: GraftWireRange = _
  private var fileUtf8: UTF8String = _
  private var in: DataInputStream = _
  private var fileLen = 0L
  // byte position of the NEXT frame header; a frame belongs to the
  // range iff its header starts before endOffset
  private var pos = 0L
  private var idx = 0L
  private var current: Array[Byte] = _

  /** Close the current range and open the next; false when none is
    * left. */
  private def openNext(): Boolean = {
    close()
    if (!ranges.hasNext) return false
    range = ranges.next()
    val path = new Path(range.file)
    val fs = path.getFileSystem(conf)
    // frames carry their own length guards; hadoop checksum sidecars would
    // make out-of-band capture appends unreadable
    fs.setVerifyChecksum(false)
    fileLen = fs.getFileStatus(path).getLen
    val raw = fs.open(path)
    if (range.startOffset > 0) raw.seek(range.startOffset)
    in = new DataInputStream(new java.io.BufferedInputStream(raw))
    fileUtf8 = UTF8String.fromString(range.file)
    pos = range.startOffset
    idx = range.startFrameIdx - 1L
    true
  }

  /** The current range's next frame; false at its end. The length is
    * checked against the file before its buffer is allocated. */
  private def nextFrame(): Boolean =
    try {
      if (pos >= range.endOffset || pos + 4 > fileLen) false
      else {
        val len = Integer.reverseBytes(in.readInt())
        if (len < 0 || pos + 4 + len > fileLen) false
        else {
          val buf = new Array[Byte](len)
          in.readFully(buf)
          current = buf
          pos += 4L + len
          idx += 1
          true
        }
      }
    } catch { case _: EOFException => false } // the file shrank

  override def next(): Boolean = {
    var more = in != null && nextFrame()
    while (!more && openNext()) more = nextFrame()
    more
  }

  override def get(): InternalRow = {
    val row = new GenericInternalRow(columns.length)
    var i = 0
    while (i < columns.length) {
      columns(i) match {
        case 0 => row.update(i, fileUtf8)
        case 1 => row.setLong(i, idx)
        case _ => row.update(i, current)
      }
      i += 1
    }
    row
  }

  override def close(): Unit =
    if (in != null) { in.close(); in = null }
}

/** D13: the capture-side writer (the only one) as a DSv2 batch write
  * with the full commit protocol — `df.write.format("graft-wire")
  * .save(dir)` (append) / `.mode("overwrite")` (truncate); each
  * partition of the written frame becomes one frame file, the same
  * files-as-parallelism layout the source reads back. Each task streams
  * its partition's frames into a temp file the reader cannot see (temps
  * don't end in `.bin` — [[GraftWireTable.listFrameFiles]] filters on
  * the suffix), `commit()` hands the driver a rename intent, and
  * [[GraftWireBatchWrite.commit]] publishes every file with one rename
  * per task — so a failed or speculative task never leaves a partial
  * frame file visible. `file`/`frame_idx` are storage-assigned on read
  * and ignored on write (metadata columns). */
class GraftWireWriteBuilder(path: String, schema: StructType,
    queryId: String, spark: SparkSession)
    extends org.apache.spark.sql.connector.write.WriteBuilder
    with org.apache.spark.sql.connector.write.SupportsTruncate {
  import org.apache.spark.sql.connector.write._
  private var doTruncate = false
  override def truncate(): WriteBuilder = { doTruncate = true; this }
  override def build(): Write = new Write {
    override def toBatch: BatchWrite =
      new GraftWireBatchWrite(path, doTruncate,
        schema.fieldIndex("payload"), queryId, spark)
  }
}

case class GraftWireCommit(tmpPath: String, finalName: String)
    extends org.apache.spark.sql.connector.write.WriterCommitMessage

class GraftWireBatchWrite(path: String, truncate: Boolean, payloadIdx: Int,
    queryId: String, spark: SparkSession)
    extends org.apache.spark.sql.connector.write.BatchWrite {
  import org.apache.spark.sql.connector.write._
  private val conf = GraftBridge.hadoopConf(spark)

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory =
    new GraftWireWriterFactory(path, payloadIdx, queryId,
      GraftWireTable.broadcastConf(spark, conf))

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val dirPath = new Path(path)
    val fs = dirPath.getFileSystem(conf)
    fs.mkdirs(dirPath)
    if (truncate)
      fs.listStatus(dirPath).filter(_.isFile)
        .filter(_.getPath.getName.endsWith(".bin"))
        .foreach(s => fs.delete(s.getPath, false))
    messages.foreach { case GraftWireCommit(tmp, fin) =>
      val dst = new Path(dirPath, fin)
      if (fs.exists(dst)) fs.delete(dst, false) // re-run idempotence
      fs.rename(new Path(tmp), dst)
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val fs = new Path(path).getFileSystem(conf)
    messages.filter(_ != null).foreach {
      case GraftWireCommit(tmp, _) =>
        fs.delete(new Path(tmp), false)
      case _ => ()
    }
  }
}

class GraftWireWriterFactory(path: String, payloadIdx: Int, queryId: String,
    conf: Broadcast[SerializableConfiguration])
    extends org.apache.spark.sql.connector.write.DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[InternalRow] =
    new GraftWireDataWriter(path, payloadIdx, queryId, partitionId, taskId,
      conf.value.value)
}

/** Streams `[u32 LE length][payload]` frames to a `.tmp`-suffixed temp
  * (invisible to the reader); the committed name carries the JOB's
  * queryId so an APPEND never collides with — and silently clobbers —
  * a prior capture's `part-w<pid>.bin` (caught by Round11OpsSpec's
  * overwrite/append pin). */
class GraftWireDataWriter(dir: String, payloadIdx: Int, queryId: String,
    pid: Int, taskId: Long, conf: Configuration)
    extends org.apache.spark.sql.connector.write.DataWriter[InternalRow] {
  private val tmp = new Path(dir, s"part-$queryId-w$pid.bin.$taskId.tmp")
  private lazy val out = {
    val fs = tmp.getFileSystem(conf)
    fs.setWriteChecksum(false)
    fs.mkdirs(new Path(dir))
    new java.io.DataOutputStream(
      new java.io.BufferedOutputStream(fs.create(tmp, true)))
  }

  override def write(row: InternalRow): Unit = {
    val bytes = row.getBinary(payloadIdx)
    out.write(bytes.length & 0xff)
    out.write((bytes.length >> 8) & 0xff)
    out.write((bytes.length >> 16) & 0xff)
    out.write((bytes.length >> 24) & 0xff)
    out.write(bytes)
  }

  override def commit()
      : org.apache.spark.sql.connector.write.WriterCommitMessage = {
    out.close()
    GraftWireCommit(tmp.toString, s"part-$queryId-w$pid.bin")
  }

  override def abort(): Unit = {
    scala.util.Try(out.close())
    scala.util.Try(
      tmp.getFileSystem(conf).delete(tmp, false))
  }

  override def close(): Unit = scala.util.Try(out.close())
}

object GraftWireWriter {
  /** Capture the `payload` column as frame files in `dir`, replacing any
    * previous capture there: the [[GraftWireBatchWrite]] overwrite, one
    * frame file per partition, each published by a rename. */
  def writeFrames(payloads: org.apache.spark.sql.DataFrame,
      dir: String): Unit = {
    import org.apache.spark.sql.functions.{col, lit}
    payloads.select(lit("").as("file"), lit(0L).as("frame_idx"),
        col("payload"))
      .write.format("graft-wire").mode("overwrite").save(dir)
  }
}
