package graft.io

import java.io.{BufferedInputStream, BufferedOutputStream}

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** TSV sinks matching the reference's writer conventions (SURVEY.md §2.2).
  *
  * The reference writes one file per partition then concatenates them into a
  * single file keeping one header (K1+K2, eggv/dfio.py:22-100), with nulls
  * as "NA" (na_rep, eggv/dfio.py:91) while missing transcripts — already
  * empty strings, not nulls — stay empty (eggv/process.py:171). Spark's CSV
  * writer distinguishes the two natively via nullValue vs emptyValue.
  *
  * At 100 TB, never coalesce(1): `writeTsv` keeps full write parallelism
  * (one part-file per partition — exactly the reference's K1 design, which
  * also wrote per-partition parts). `writeSingleTsv` exists for parity with
  * the reference's single-file outputs on small data; for 100 GB-class
  * outputs, partitioned write + out-of-engine concat is the right call
  * (SURVEY.md §7.5.7).
  *
  * Every file-level maintenance op here (markers, listings, concat,
  * compaction swaps) goes through `org.apache.hadoop.fs.FileSystem`
  * resolved from the path's scheme + the session's Hadoop configuration —
  * the same code path works on driver-local disk (`file:`, what the tests
  * exercise), HDFS, and S3A. Object-store caveat: on S3-style stores
  * `rename` is a server-side COPY + DELETE, not a metadata move — it is
  * neither atomic nor O(1), so the compaction swap's non-atomic window
  * (documented at `compactParquet`) widens from milliseconds to
  * proportional-to-bytes, and the single-owner contract matters even more
  * there. HDFS renames are atomic per-directory, making the swap window the
  * instant between the two renames.
  */
object Sinks {

  /** Resolve the FileSystem owning `path` from the session's Hadoop conf —
    * `file:`, `hdfs:`, `s3a:` all dispatch off the path scheme (a bare path
    * resolves against `fs.defaultFS`). */
  private[graft] def fsFor(spark: SparkSession, path: String): (FileSystem, HPath) = {
    val p = new HPath(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  private def renameOrFail(fs: FileSystem, src: HPath, dst: HPath): Unit =
    require(fs.rename(src, dst), s"rename failed: $src -> $dst")

  private def readUtf8(fs: FileSystem, p: HPath): String = {
    val in = fs.open(p)
    try {
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      new String(out.toByteArray, "UTF-8")
    } finally in.close()
  }

  /** Crash-safe small-file write: stage to a dot-tmp sibling, then delete
    * the old file and rename the tmp in — a crash mid-write leaves the
    * previous content (or the tmp, which every reader ignores), never a
    * truncated file. The delete+rename pair is the same non-atomic window
    * as the compaction swap (instantaneous on HDFS/local, copy+delete on
    * S3) and is covered by the same single-writer contract. */
  private def writeUtf8(fs: FileSystem, p: HPath, s: String): Unit = {
    val tmp = new HPath(p.getParent, s".${p.getName}.tmp")
    val out = fs.create(tmp, true)
    try out.write(s.getBytes("UTF-8")) finally out.close()
    fs.delete(p, false)
    renameOrFail(fs, tmp, p)
  }

  /** The reference's TSV conventions, shared by the batch and streaming
    * writers: tab-separated, header line, nulls as `NA`, empty strings
    * as empty fields. */
  private val TsvOptions = Map(
    "sep" -> "\t", "header" -> "true", "nullValue" -> "NA", "emptyValue" -> "")

  private def tsvWriter(df: DataFrame) =
    df.write.options(TsvOptions).mode("overwrite")

  /** Partition-parallel TSV write (K1). One part file per partition.
    * `partitionBy` columns become `col=value/` directories (hive layout)
    * and are dropped from the file bodies — the reference's
    * one-output-file-per-chromosome identity (eggv/process.py:394-424,
    * eggv/annotate.py:207-235) maps to `partitionBy("chromosome")`:
    * re-reads of a single chromosome prune to its directory instead of
    * scanning the whole dataset. */
  def writeTsv(df: DataFrame, dir: String, partitionBy: Seq[String] = Nil): Unit = {
    val w = tsvWriter(df)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).csv(dir)
  }

  /** Single-file TSV write (K2 parity) — serializes the final write, only
    * for small outputs such as per-chromosome files. */
  def writeSingleTsv(df: DataFrame, dir: String): Unit =
    tsvWriter(df.coalesce(1)).csv(dir)

  /** Streaming TSV sink: the exactly-once file sink (Spark's manifest
    * commit log under `checkpointDir` guarantees a batch's part files
    * appear atomically and are never double-committed on restart), with
    * the SAME writer conventions as the batch `writeTsv` — a consumer
    * cannot tell whether a dataset was produced by the batch or the
    * streaming pipeline. Returns the started query; callers own its
    * lifecycle. */
  def writeTsvStream(df: DataFrame, dir: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream
      .format("csv")
      .options(TsvOptions)
      .option("path", dir)
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .start()

  private def markerPath(dir: String) = new HPath(dir, ".graft_last_batch")

  /** Last batch id recorded in `dir`'s dot-marker, -1 when absent. A
    * damaged marker (external truncation — writeUtf8's staged write can't
    * produce one) must not wedge the stream forever: treat it as "no
    * marker", which re-appends at most the one in-flight batch. */
  def lastCommittedBatch(spark: SparkSession, dir: String): Long = {
    val (fs, _) = fsFor(spark, dir)
    val marker = markerPath(dir)
    if (fs.exists(marker))
      scala.util.Try(readUtf8(fs, marker).trim.toLong).getOrElse {
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"unparseable batch marker $marker — treating as -1")
        -1L
      }
    else -1L
  }

  /** Record `batchId` in `dir`'s marker (staged write — see writeUtf8).
    * Call only after every append the marker guards has completed. */
  def recordCommittedBatch(spark: SparkSession, dir: String, batchId: Long): Unit = {
    val (fs, _) = fsFor(spark, dir)
    writeUtf8(fs, markerPath(dir), batchId.toString)
  }

  /** The at-most-once batch gate every single-marker streaming sink
    * commits through: run `write` unless `batchId` is at or below the
    * last id recorded in `markerDir`'s dot-marker (hidden from every
    * parquet reader), then record `batchId`. A replayed id — Structured
    * Streaming re-runs the failed batch with the SAME id on recovery — is
    * skipped instead of double-written. Returns whether `write` ran. The
    * marker is written AFTER `write` returns, so the residual window is
    * a crash between write-completion and marker-write: that replay
    * writes again (closing it needs an atomic data+marker commit — a
    * table format's job, out of scope). Single-writer contract, same as
    * compaction's; a sink whose writers race takes its lease OUTSIDE the
    * gate, so no writer slips between the check and the write. */
  def onceForBatch(spark: SparkSession, markerDir: String, batchId: Long)(
      write: => Unit): Boolean =
    if (batchId <= lastCommittedBatch(spark, markerDir)) false
    else {
      write
      recordCommittedBatch(spark, markerDir, batchId)
      true
    }

  /** Append one microbatch to a parquet dir at-most-once per `batchId`,
    * gated on `dir`'s own marker ([[onceForBatch]]). Returns whether the
    * batch was written. */
  def appendBatchIdempotent(batch: DataFrame, dir: String, batchId: Long,
      partitionBy: Seq[String] = Nil): Boolean =
    onceForBatch(batch.sparkSession, dir, batchId) {
      val w = batch.write.mode("append")
      (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
        .parquet(dir)
    }

  private def stagedDirName(batchId: Long) = s".staged-$batchId"

  /** The MANIFEST-LAST commit of one microbatch into SEVERAL
    * directories at once: `stage` writes the batch into each of `dirs`
    * INVISIBLY ([[stageBatch]]), then ONE marker flips (the batch marker
    * of `manifestDir`, the commit manifest for every dir), then every
    * staging is published. A reader therefore sees the batch in all
    * dirs or in none.
    *
    * Replay and crash proof. Every commit BEGINS by publishing any
    * staged batch at or below the marker, BEFORE `stage` runs — so a
    * sink whose `stage` reads the standing tables (a dedup probe)
    * never reads a table missing committed rows. A crash BEFORE the
    * flip leaves nothing visible; the replay re-runs `stage`, which
    * must recompute the identical batch (a pure function of the batch
    * and the unchanged standing tables) and restages over its own
    * leftovers. A crash AFTER the flip rolls forward at the next entry
    * ([[publishStagedBatch]] is idempotent), and a replayed id
    * publishes-and-returns without re-running `stage`. Writes `stage`
    * makes outside `dirs` (a side index under its own
    * [[onceForBatch]] gate) must land BEFORE the flip, so a pre-flip
    * crash replays them through their own gate. Every exit refreshes
    * the session's file lists of `dirs`. Single-writer contract. */
  def commitStaged(spark: SparkSession, manifestDir: String,
      dirs: Seq[String], batchId: Long)(stage: => Unit): Unit = {
    val committed = lastCommittedBatch(spark, manifestDir)
    dirs.foreach { d =>
      stagedBatches(spark, d).filter(_ <= committed)
        .foreach(publishStagedBatch(spark, d, _))
    }
    if (batchId > committed) {
      stage
      recordCommittedBatch(spark, manifestDir, batchId) // commit
      dirs.foreach(publishStagedBatch(spark, _, batchId))
    }
    dirs.foreach(spark.catalog.refreshByPath)
  }

  /** Write one microbatch INVISIBLY beside `dir`'s data — parquet into
    * the dot-prefixed subdir `<dir>/.staged-<batchId>`, which no
    * parquet reader of `dir` lists. The staging half of
    * [[commitStaged]]. */
  def stageBatch(batch: DataFrame, dir: String, batchId: Long): Unit =
    batch.write.mode("overwrite")
      .parquet(s"${dir.stripSuffix("/")}/${stagedDirName(batchId)}")

  /** Publish a staged batch: move its parquet part files into `dir`
    * proper and drop the staging dir. Idempotent roll-forward — files
    * already moved are absent from staging, and a missing staging dir
    * is a completed publication (the no-op a replayed roll-forward
    * needs). Part-file names are write-unique (Spark's uuid naming),
    * so publication never collides with standing files. */
  def publishStagedBatch(spark: SparkSession, dir: String, batchId: Long): Unit = {
    val (fs, root) = fsFor(spark, dir)
    val stage = new HPath(root, stagedDirName(batchId))
    if (!fs.exists(stage)) return
    fs.listStatus(stage).foreach { e =>
      if (e.getPath.getName.endsWith(".parquet"))
        renameOrFail(fs, e.getPath, new HPath(root, e.getPath.getName))
    }
    fs.delete(stage, true)
  }

  /** The batch ids staged under `dir` and not yet published — what
    * [[commitStaged]]'s entry roll-forward scans. */
  def stagedBatches(spark: SparkSession, dir: String): Seq[Long] = {
    val (fs, root) = fsFor(spark, dir)
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .filter(_.startsWith(".staged-"))
      .flatMap(n => n.stripPrefix(".staged-").toLongOption)
  }

  /** Parquet files under `root`, excluding dot-prefixed (in-flight
    * compaction tmp/retired) subtrees. */
  private def countParquetFiles(fs: FileSystem, root: HPath): Int = {
    if (!fs.exists(root)) return 0
    val qualifiedRoot = fs.makeQualified(root)
    val it = fs.listFiles(root, true)
    var n = 0
    while (it.hasNext) {
      val p = it.next().getPath
      if (p.getName.endsWith(".parquet")) {
        var hidden = false
        var cur = p.getParent
        while (cur != null && fs.makeQualified(cur) != qualifiedRoot) {
          if (cur.getName.startsWith(".")) hidden = true
          cur = cur.getParent
        }
        if (!hidden) n += 1
      }
    }
    n
  }

  /** Parquet files under `dir` (recursive, dot-prefixed subtrees excluded)
    * — the quantity maintenance thresholds watch. */
  def parquetFileCount(spark: SparkSession, dir: String): Int = {
    val (fs, root) = fsFor(spark, dir)
    countParquetFiles(fs, root)
  }

  /** Whether `dir` holds at least one readable parquet file — the guard
    * for optional standing tables (delete registries, pre-backfill
    * indexes) that other paths must tolerate being absent. */
  def parquetExists(spark: SparkSession, dir: String): Boolean =
    parquetFileCount(spark, dir) > 0

  /** Rewrite a flat parquet dir through `transform` and swap the result
    * in: tmp-write → retire old → move in (the compactParquet leaf-swap
    * contract — two renames, NOT atomic, dot-prefixed tmp/retired dirs
    * invisible to readers, single-owner). For maintenance rewrites that
    * need more than a coalesce: fold increment rows by key, re-sort a
    * layout. Ends with a catalog refresh so session readers drop their
    * pre-swap file lists. */
  def rewriteParquetInPlace(spark: SparkSession, dir: String)(
      transform: DataFrame => DataFrame): Unit = {
    val (fs, rootRaw) = fsFor(spark, dir)
    val root = fs.makeQualified(rootRaw)
    val parent = root.getParent
    val tmp = new HPath(parent, s".${root.getName}.rewrite-tmp")
    fs.delete(tmp, true)
    transform(spark.read.parquet(dir)).write.mode("overwrite").parquet(tmp.toString)
    val retired = new HPath(parent, s".${root.getName}.rewrite-old")
    fs.delete(retired, true)
    renameOrFail(fs, root, retired)
    renameOrFail(fs, tmp, root)
    fs.delete(retired, true)
    spark.catalog.refreshByPath(dir)
  }

  /** The streaming maintenance loop: a foreachBatch parquet sink that
    * keeps its own directory healthy — append the microbatch (idempotent
    * per batchId), and when the accumulated file count crosses
    * `maxFiles`, run the layout-preserving in-place compaction and
    * re-record the batch marker (the swap retires the old leaf dir,
    * marker included). Each batch ends with a catalog refresh
    * (`refreshByPath` + optionally a registered table name), so session
    * readers of `dir` see the new files and never hold post-compaction
    * stale file lists. This is the piece between "a streaming sink that
    * accumulates small files forever" and "a table format": the file
    * count a 100 TB scan's task count follows stays bounded by
    * `maxFiles` + one batch's burst, at the documented cost of the
    * compaction swap's single-owner contract — this query IS that owner.
    * The batch-commit marker makes recovery replays skip, not duplicate
    * (see onceForBatch for the residual window). Returns the
    * started query; callers own its lifecycle. */
  def writeParquetStreamMaintained(df: DataFrame, dir: String,
      checkpointDir: String, maxFiles: Int = 64,
      targetFileBytes: Long = 128L * 1024 * 1024,
      partitionBy: Seq[String] = Nil,
      refreshTable: Option[String] = None): org.apache.spark.sql.streaming.StreamingQuery = {
    require(maxFiles > 0, s"maxFiles must be positive: $maxFiles")
    val commit = (batch: DataFrame, batchId: Long) => {
      val spark = batch.sparkSession
      if (appendBatchIdempotent(batch, dir, batchId, partitionBy) &&
          parquetFileCount(spark, dir) > maxFiles) {
        compactParquet(spark, dir, targetFileBytes)
        recordCommittedBatch(spark, dir, batchId)
      }
      spark.catalog.refreshByPath(dir)
      refreshTable.foreach(spark.catalog.refreshTable)
      ()
    }
    df.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch(commit)
      .start()
  }

  /** K2 at scale: partition-parallel write, then a driver-side concat of
    * the part files (in part order) keeping one header — the reference's
    * consolidation design (eggv/dfio.py:22-60), which preserves full write
    * parallelism where `coalesce(1)` funnels the entire dataset through
    * one task. The concat is a sequential byte copy through the Hadoop
    * FileSystem streams: IO-bound, no parsing, no memory proportional to
    * data size, and it works against whatever store owns `outFile`'s
    * scheme. Byte-identical to `writeSingleTsv` on the same DataFrame
    * (coalesce(1) also merges partitions in order). Returns `outFile`. */
  def consolidateTsv(df: DataFrame, outFile: String): String = {
    val partsDir = outFile + ".parts"
    writeTsv(df, partsDir)
    val (fs, outPath) = fsFor(df.sparkSession, outFile)
    val parts = fs.listStatus(new HPath(partsDir)).toSeq
      .map(_.getPath)
      .filter(_.getName.startsWith("part-"))
      .sortBy(_.getName)
    val out = new BufferedOutputStream(fs.create(outPath, true))
    try {
      var first = true
      for (part <- parts) {
        val in = new BufferedInputStream(fs.open(part))
        try {
          if (!first) { // skip this part's header line
            var b = in.read()
            while (b != -1 && b != '\n') b = in.read()
          }
          val buf = new Array[Byte](1 << 20)
          var n = in.read(buf)
          while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
        } finally in.close()
        first = false
      }
    } finally out.close()
    fs.delete(new HPath(partsDir), true)
    outFile
  }

  /** Parquet sink — the scale-path output format (columnar, statistics,
    * predicate pushdown on re-read); what the TSV outputs should become
    * when the consumer is this engine rather than a third-party tool.
    * `partitionBy` as in `writeTsv` — hive-layout dirs, pruned re-reads. */
  def writeParquet(df: DataFrame, dir: String, partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(dir)
  }

  /** Compact a parquet directory's small files in place. The small-files
    * maintenance op every long-running ingest needs — each streaming
    * microbatch or per-task writer leaves file counts that grow without
    * bound, and at 100 TB a scan's task count (and the namenode's listing
    * cost) follows the file count, not the byte count.
    *
    * Layout-aware: a flat dir rewrites into ceil(totalBytes /
    * targetFileBytes) files; a hive-partitioned dir (`key=value/` subdirs,
    * nested to any depth — exactly what `writeTsv`/`writeParquet`
    * `partitionBy` and the streaming sinks produce) compacts each LEAF
    * partition independently with its own byte budget, preserving the
    * directory layout and its pruning. Leaf rewrites are independent Spark
    * jobs overlapped from driver futures (same design as the pipeline's
    * concurrent sinks), so a 10k-partition table compacts at cluster
    * parallelism, not one partition at a time. A dir mixing top-level
    * parquet files with partition subdirs is rejected (`require`) — no
    * layout Spark's own writers produce looks like that, and guessing
    * would silently merge partitioned and unpartitioned schemas.
    *
    * Coalesce, not repartition: a shuffle-free narrow rewrite (compaction
    * only ever merges). Each leaf swap is tmp-write → retire old → move
    * in: two renames, NOT atomic — a concurrent reader listing the leaf in
    * the instant between them sees it missing, and a reader that resolved
    * file paths before the swap sees deleted files. On HDFS each rename is
    * an atomic metadata op (the window is the gap between the two); on S3
    * "rename" is copy+delete, so the window is proportional to leaf bytes
    * — run it as the ingest's own maintenance step (single-owner dirs,
    * like the reference's). Tmp/retired dirs are dot-prefixed so Spark
    * readers never list them as data. Returns the new total file count
    * across all compacted leaves. */
  def compactParquet(spark: SparkSession, dir: String,
      targetFileBytes: Long = 128L * 1024 * 1024): Int = {
    require(targetFileBytes > 0, s"targetFileBytes must be positive: $targetFileBytes")
    val (fs, root) = fsFor(spark, dir)
    val leaves = parquetLeaves(fs, root)
    if (leaves.size <= 1) leaves.map(compactLeaf(spark, fs, _, targetFileBytes)).sum
    else {
      // overlap leaf jobs; cap the driver pool — each job's tasks already
      // fan out to the cluster, the pool only hides job-submit latency
      import java.util.concurrent.Executors
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      val pool = Executors.newFixedThreadPool(math.min(leaves.size, 8))
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      try Await.result(
        Future.sequence(leaves.map(l => Future(compactLeaf(spark, fs, l, targetFileBytes)))),
        Duration.Inf).sum
      finally pool.shutdownNow()
    }
  }

  /** Leaf dirs holding parquet files under `root`, descending through
    * `key=value` partition dirs only. Rejects mixed layouts. */
  private def parquetLeaves(fs: FileSystem, root: HPath): Seq[HPath] = {
    if (!fs.exists(root)) return Nil
    val entries = fs.listStatus(root).toSeq
    val partDirs = entries.filter(st =>
      st.isDirectory && st.getPath.getName.matches("[^=]+=.*"))
    val hasFiles = entries.exists(_.getPath.getName.endsWith(".parquet"))
    if (partDirs.isEmpty) if (hasFiles) Seq(root) else Nil
    else {
      require(!hasFiles,
        s"mixed layout under $root: top-level parquet files alongside partition " +
          s"dir ${partDirs.head.getPath.getName} — compact the halves separately")
      partDirs.flatMap(st => parquetLeaves(fs, st.getPath))
    }
  }

  /** Per-task file-open cap for [[compactLeaf]]: `coalesce(n)` gives the
    * rewrite exactly n tasks, and each task OPENS its share of the input
    * files sequentially — for a leaf whose byte budget wants few output
    * files but whose file count is huge (the pathological small-file
    * case compaction exists for), per-file open/footer latency, not
    * bytes, dominates wall-clock and grows super-linearly as the scatter
    * outpaces the byte-based task count (measured: the SCALE.md compact
    * row's w→5× = 1.93 was exactly this — 800 files over 3 tasks).
    * Flooring the task count at inputFiles/cap bounds opens-per-task;
    * the output files undershoot the byte target only in that
    * mostly-empty regime, where a follow-up compaction (now over few
    * files) reaches it cheaply. At real scale the byte-based count
    * dominates and this floor is inert. */
  private val MaxFilesPerCompactTask = 64

  /** Rewrite one flat dir of parquet files to its byte-budget file count
    * and swap it in (two renames — see compactParquet's contract). */
  private def compactLeaf(spark: SparkSession, fs: FileSystem, source: HPath,
      targetFileBytes: Long): Int = {
    val inputFiles = fs.listStatus(source).toSeq
      .filter(_.getPath.getName.endsWith(".parquet"))
    val totalBytes = inputFiles.map(_.getLen).sum
    val nFiles = math.max(
      math.max(1, math.ceil(totalBytes.toDouble / targetFileBytes).toInt),
      math.ceil(inputFiles.size.toDouble / MaxFilesPerCompactTask).toInt)
    // reading the leaf directly sees exactly the file-body schema (no
    // inferred partition columns), so the rewrite is layout-neutral
    rewriteParquetInPlace(spark, source.toString)(_.coalesce(nFiles))
    nFiles
  }

  /** Bucketed parquet table: pre-shuffled on `bucketCols` into `numBuckets`
    * files per partition, registered in the session catalog. Joins and
    * aggregations between tables bucketed the same way skip their shuffle
    * entirely — the co-located-join layout for fact tables that are joined
    * on the same key repeatedly (the 100 TB answer to "this join shuffles
    * every run"). */
  def writeBucketed(df: DataFrame, table: String, numBuckets: Int,
      bucketCols: Seq[String]): Unit =
    df.write.mode("overwrite")
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .format("parquet")
      .saveAsTable(table)
}
