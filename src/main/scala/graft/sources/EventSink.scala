package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Production storage layout for decoded event history (SURVEY §5).
  *
  * Events are written date-partitioned and time-sorted within files:
  * partition pruning turns "last N days" queries into a directory listing
  * (no 100 TB scan), and the within-file sort gives parquet min/max
  * row-group statistics on `ts`/`event_id` for fine-grained skipping. One
  * output file per (date, bucket) keeps file count bounded at high
  * partition counts — `buckets` sizes files, not parallelism.
  */
object EventSink {

  /** Write events partitioned by event date. */
  def writePartitionedByDay(
      events: DataFrame, path: String, buckets: Int = 8): Unit =
    events
      .withColumn("event_date", to_date(col("ts")))
      .repartition(buckets, col("event_date"),
        pmod(col("event_id"), lit(buckets)))
      .sortWithinPartitions("event_date", "ts", "event_id")
      .write
      .partitionBy("event_date")
      .mode("overwrite")
      .parquet(path)

  /** Read the partitioned layout back (date filters prune directories). */
  def readPartitioned(
      spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Compact a date-partitioned layout in place: streaming ingest lands
    * one small file per trigger per partition, and at 100 TB the
    * accumulated small files dominate scan cost (footer reads + task
    * scheduling, not bytes). Rewrite each partition into
    * `ceil(bytes / targetBytes)` time-sorted files, then atomically swap
    * directories. Partitions already at or under one target file are
    * skipped (`maxFiles` guard) so routine compaction touches only the
    * partitions that need it.
    */
  /** A29d: idempotent backfill — rewrite ONLY the partitions present in
    * the corrected batch (dynamic partition overwrite), leaving every
    * other date untouched. This is how late/corrected event data
    * reprocesses at 100 TB: the job is repeatable (same input → same
    * layout) and never truncates the rest of the table the way a static
    * overwrite would.
    */
  def backfillDates(events: DataFrame, path: String,
      buckets: Int = 8): Unit = {
    events
      .withColumn("event_date", to_date(col("ts")))
      .repartition(buckets, col("event_date"),
        pmod(col("event_id"), lit(buckets)))
      .sortWithinPartitions("event_date", "ts", "event_id")
      .write
      .partitionBy("event_date")
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite")
      .parquet(path)
  }

  /** A29e: row-level MERGE (upsert) — corrected or late rows replace the
    * stored rows with the same event_id, new ids append, and ONLY the
    * date partitions the update batch touches are rewritten (dynamic
    * partition overwrite); every other partition stays byte-identical.
    * The read side is pruned to affected dates with a broadcast semi-join
    * before the merge, so the rewrite cost scales with the update's date
    * span, not the table. Updates win deterministically (source rank,
    * then the merge dedups on event_id).
    */
  def upsertEvents(updates: DataFrame, path: String,
      buckets: Int = 8): Unit = {
    val spark = updates.sparkSession
    import org.apache.spark.sql.expressions.Window
    val dated = updates.withColumn("event_date", to_date(col("ts")))
    val dates = dated.select("event_date").distinct()
    val existing = spark.read.parquet(path)
      .join(broadcast(dates), Seq("event_date"), "left_semi")
    // updates beat stored rows; two updates of the same id resolve by
    // event time, then by a hash of the full row value — never by
    // partition luck, even for duplicate-(id, ts) update rows
    // xxhash64 over the columns directly (not a string concat): it is
    // type-aware and distinguishes null from empty values
    val valueHash = xxhash64(dated.columns.sorted.map(col): _*)
    val w = Window.partitionBy("event_id")
      .orderBy(col("_src").desc, col("ts").desc, valueHash.asc)
    val merged = dated.withColumn("_src", lit(1))
      .unionByName(existing.withColumn("_src", lit(0)))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn", "_src")
      // materialize before the write: the rewrite reads the same path it
      // overwrites, so the plan must not still reference the source files
      .localCheckpoint()
    merged
      .repartition(buckets, col("event_date"),
        pmod(col("event_id"), lit(buckets)))
      .sortWithinPartitions("event_date", "ts", "event_id")
      .write
      .partitionBy("event_date")
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite")
      .parquet(path)
  }

  /** D9: Z-order clustered layout — multi-dimensional file clustering so
    * parquet min/max statistics prune on BOTH keys, not just the sort
    * leader. A date+time sort gives perfect `ts` pruning but every file
    * spans the whole `user_id` range; interleaving the two dimensions'
    * bits (Morton code) bounds each file to a small rectangle of
    * (ts, user_id) space, so a predicate on either column skips most
    * files. This is the standard remedy when a 100 TB event table serves
    * both time-range scans and per-wallet lookups from one copy.
    *
    * Codes are 16-bit linear-scaled per dimension (bounds from one cheap
    * agg); the Morton spread is four shift-and-mask steps of plain
    * codegen'd column arithmetic — no UDF, no custom expression needed.
    * `repartitionByRange` on the z-value gives disjoint file rectangles.
    */
  def writeZOrdered(events: DataFrame, path: String, files: Int = 16,
      colA: String = "user_id", colB: String = "event_id"): Unit = {
    Seq(colA, colB).foreach { c =>
      require(events.schema(c).dataType == org.apache.spark.sql.types
        .LongType, s"z-order column $c must be LONG (got " +
        s"${events.schema(c).dataType}); cast or rank the dimension first")
    }
    val b = events.agg(
      min(col(colA)).as("amin"), max(col(colA)).as("amax"),
      min(col(colB)).as("bmin"), max(col(colB)).as("bmax")).head()
    def code16(c: String, lo: Long, hi: Long) = {
      val span = math.max(1L, hi - lo)
      // 65535 * (v - lo) / span in DECIMAL: long arithmetic would wrap
      // the multiply for spans over ~1.4e14 and double division drops
      // precision past 2^53 — decimal keeps the code exact for any
      // 64-bit dimension span
      floor((col(c).cast("decimal(38,0)") - lit(lo)) * lit(65535L) /
        lit(span)).cast("long")
    }
    // Morton spread: 16 data bits -> even bit positions of 32
    def spread(x: org.apache.spark.sql.Column) = {
      val s1 = x.bitwiseOR(shiftleft(x, 8)).bitwiseAND(lit(0x00FF00FFL))
      val s2 = s1.bitwiseOR(shiftleft(s1, 4)).bitwiseAND(lit(0x0F0F0F0FL))
      val s3 = s2.bitwiseOR(shiftleft(s2, 2)).bitwiseAND(lit(0x33333333L))
      s3.bitwiseOR(shiftleft(s3, 1)).bitwiseAND(lit(0x55555555L))
    }
    val z = shiftleft(spread(code16(colA, b.getAs[Long]("amin"),
        b.getAs[Long]("amax"))), 1)
      .bitwiseOR(spread(code16(colB, b.getAs[Long]("bmin"),
        b.getAs[Long]("bmax"))))
    events.withColumn("z", z)
      .repartitionByRange(files, col("z"))
      .sortWithinPartitions("z")
      .drop("z")
      .write.mode("overwrite").parquet(path)
  }

  def compactPartitions(
      spark: org.apache.spark.sql.SparkSession, path: String,
      targetBytes: Long = 128L * 1024 * 1024, maxFiles: Int = 1): Unit = {
    import org.apache.hadoop.fs.Path
    val root = new Path(path)
    val fs = root.getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    // crash hygiene BEFORE planning: a driver death between
    // [[compactOne]]'s swap renames leaves a `.compact_*` orphan (copy
    // written, swap not started) or a `.old_*` orphan (original moved
    // aside) — invisible to readers (dot-dirs) but leaking space, and
    // after a mid-swap crash the LIVE directory may be missing
    // entirely. Recover conservatively: the original (`.old_`) is
    // authoritative when the live dir is gone (restored partitions
    // then re-compact in this very run); stale copies are deleted
    // either way. NOT safe to run two compactPartitions concurrently
    // on one root: this sweep would delete a sibling run's live
    // `.compact_*` scratch mid-copy — single-writer per root is the
    // contract (same as the swap renames themselves).
    fs.listStatus(root).filter(_.isDirectory).foreach { s =>
      val n = s.getPath.getName
      if (n.startsWith(".old_event_date=")) {
        val live = new Path(root, n.stripPrefix(".old_"))
        // rename returns false instead of throwing on most filesystems;
        // swallowing it would hide the partition (dot-dir) from readers
        // with no error, so escalate loudly
        if (!fs.exists(live)) {
          if (!fs.rename(s.getPath, live)) throw new java.io.IOException(
            s"compactPartitions: crash-recovery rename ${s.getPath} -> " +
            s"$live failed; partition left hidden, refusing to continue")
        } else fs.delete(s.getPath, true)
      } else if (n.startsWith(".compact_event_date=")) {
        fs.delete(s.getPath, true)
      }
    }
    val parts = fs.listStatus(root).filter(_.isDirectory)
      .filter(_.getPath.getName.startsWith("event_date="))
    // partitions compact INDEPENDENTLY (each rewrite + atomic swap
    // touches only its own directory), so submit them from a bounded
    // pool instead of a sequential driver loop — serially, a 10k-date
    // table is 10k driver round trips of mostly-idle small jobs; Spark
    // interleaves the concurrent jobs across the executor pool
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    val tasks = parts.map { p => pool.submit(new Runnable {
      override def run(): Unit = compactOne(spark, fs, p,
        targetBytes, maxFiles)
    })}
    try tasks.foreach(_.get())
    catch { case e: Throwable =>
      // fail FAST and fail QUIET: cancel the queued compactions and
      // wait out the in-flight ones before rethrowing, so a caller
      // observing the failure never races concurrent rename/swap
      // activity still mutating the table behind its back
      tasks.foreach(_.cancel(false))
      pool.shutdownNow()
      pool.awaitTermination(10, java.util.concurrent.TimeUnit.MINUTES)
      throw e
    }
    finally pool.shutdown()
  }

  private def compactOne(spark: org.apache.spark.sql.SparkSession,
      fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.FileStatus,
      targetBytes: Long, maxFiles: Int): Unit = {
    import org.apache.hadoop.fs.Path
    {
      val files = fs.listStatus(p.getPath)
        .filter(f => f.isFile && !f.getPath.getName.startsWith("_"))
      val bytes = files.map(_.getLen).sum
      val want = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
      if (files.length > math.max(want, maxFiles)) {
        val tmp = new Path(p.getPath.getParent,
          s".compact_${p.getPath.getName}")
        spark.read.parquet(p.getPath.toString)
          .repartition(want)
          .sortWithinPartitions("ts", "event_id")
          .write.mode("overwrite").parquet(tmp.toString)
        val bak = new Path(p.getPath.getParent,
          s".old_${p.getPath.getName}")
        // HDFS-style rename reports failure by RETURNING false; an
        // unchecked false here loses the partition silently (live dir
        // gone or compacted copy never promoted)
        def renameOrThrow(from: Path, to: Path): Unit =
          if (!fs.rename(from, to)) throw new java.io.IOException(
            s"compactPartitions: rename $from -> $to failed mid-swap")
        renameOrThrow(p.getPath, bak)
        renameOrThrow(tmp, p.getPath)
        fs.delete(bak, true)
      }
    }
  }
}
