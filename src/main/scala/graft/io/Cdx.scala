package graft.io

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.{FileSystem, Path}

/** CDXJ crawl indexes — the selection layer OVER the archives: one
  * sorted text line per capture (`<surt-key> <timestamp14> <json>`,
  * the format Common Crawl publishes alongside every crawl), so a
  * pipeline can pick records by domain/prefix/time and fetch only the
  * archives it needs instead of scanning 100 TB of WARC. SURT keys
  * ([[graft.expressions.NativeUrl.surtUrl]]) make one host's captures
  * contiguous under a plain string sort — the property the whole
  * format exists for.
  *
  * [[cdxFromWarc]] derives index rows from a record scan (narrow
  * codegen'd column work — the SURT kernel, one date reformat);
  * [[writeCdxj]] sorts by (surt, ts) — ONE range shuffle, the sort IS
  * the product — and writes text partitions that are each internally
  * sorted and globally range-partitioned (how CC shards its index);
  * [[readCdxj]] parses lines back strict-per-line with the house
  * tolerant-bridge flag (a malformed line degrades to its own flagged
  * row); [[fetchRecords]] closes the loop — index rows back to the
  * records they name, by offset, without scanning
  * ([[Warc.readWarcRecordsAt]]); [[mergeCdxj]] maintains the standing
  * index incrementally — a delta sorted-merges into only the shards
  * whose ranges it touches, never re-sorting the corpus-scale side.
  *
  * ==The generation manifest — reader-safe maintenance==
  *
  * A maintained index dir holds shard files plus a GENERATION MANIFEST
  * (`.manifest-<gen>`, dot-prefixed so no text reader lists it): the
  * ordered list of the current generation's shard file names, in range
  * order. Every maintenance verb (merge / delete / compact) writes its
  * NEW shard files BESIDE the live ones under fresh generation-stamped
  * names, then publishes by atomically creating the next manifest —
  * never deleting or renaming a live name in place. A reader therefore
  * always resolves a COMPLETE generation: the old one until the flip,
  * the new one after; there is no instant at which a shard is missing
  * or half-replaced (the delete-then-rename gap this design exists to
  * close). Superseded generations are garbage-collected by the NEXT
  * maintenance verb (and opportunistically after each flip) — a reader
  * that resolved the old generation and races that GC fails LOUDLY
  * (file-not-found, retry against the new generation), never silently
  * missing a key range. Tasks only ever CREATE files at deterministic
  * names (idempotent overwrite of their own output), so task retries
  * and speculative attempts are harmless — no attempt deletes or moves
  * anything; publication and GC are the driver's, after the job.
  *
  * A dir with no manifest (a plain [[writeCdxj]] product from an older
  * layout, or hand-built shards) is ADOPTED: readers and writers list
  * its `part-*` files in name order as generation 0, and the first
  * maintenance verb's flip starts the manifest. Files that are neither
  * generation-named (`part-*`, `shard-g*`) nor manifests are FOREIGN
  * sidecars: readers parse them under the tolerant-bridge flag like
  * any line source, writers never touch them (compaction, which
  * consumes and loudly drops their flagged lines, removes them).
  * Single-writer contract across all maintenance verbs, like every
  * standing-artifact maintainer here ([[mergeCdxjIdempotent]] holds
  * the writer lease).
  *
  * Addressing follows the [[Warc.WarcRecord]] contract: for gzipped
  * archives `gz_offset` is the record's member's compressed offset and
  * `offset` member-relative (0 in the record-per-member layout); for
  * bare archives `offset` is the file offset and `gz_offset` absent. */
object Cdx {

  /** Index rows from a record scan: framing-clean responses with a
    * derivable SURT key. `ts` is WARC-Date reduced to the CDX
    * timestamp14 form (digits only); absent dates yield null ts (a
    * staging archive), never a dropped capture. */
  def cdxFromWarc(records: Dataset[Warc.WarcRecord]): DataFrame = {
    import graft.expressions.NativeUrl
    records.toDF()
      .filter(col("warc_type") === "response" && col("framing_ok") &&
        col("target_uri").isNotNull)
      .select(
        NativeUrl.surtUrl(col("target_uri")).as("surt"),
        regexp_replace(col("warc_date"), "[^0-9]", "").substr(1, 14).as("ts"),
        col("target_uri").as("url"),
        Warc.mimeOf(col("http_content_type")).as("mime"),
        col("http_status").as("status"),
        col("payload_digest").as("digest"),
        col("content_length").as("length"),
        col("offset"),
        when(col("gz_offset") >= 0, col("gz_offset")).as("gz_offset"),
        col("path").as("filename"))
      .filter(col("surt").isNotNull)
  }

  /** One CDXJ line from a `(surt, ts, url, mime, status, digest,
    * length, offset, gz_offset, filename)` row — the single format
    * kernel [[writeCdxj]] and [[mergeCdxj]] share. */
  private def formatLine(r: org.apache.spark.sql.Row): String = {
    import graft.operators.Json.quote
    def s(i: Int, key: String): String =
      if (r.isNullAt(i)) "" else s"""${quote(key)}:${quote(r.get(i).toString)},"""
    val json = ("{" + s(2, "url") + s(3, "mime") + s(4, "status") +
      s(5, "digest") + s(6, "length") + s(7, "offset") +
      s(8, "gz_offset") + s(9, "filename")).stripSuffix(",") + "}"
    s"${r.getString(0)} ${Option(r.getString(1)).getOrElse("-")} $json"
  }

  private def indexCols(index: DataFrame): DataFrame =
    index.select(col("surt"), col("ts"), col("url"), col("mime"),
      col("status"), col("digest"), col("length"), col("offset"),
      col("gz_offset"), col("filename"))

  /** The sort key of a CDXJ line: its `<surt> <ts>` prefix. Prefix
    * order (under [[cpCompare]]) equals (surt, ts) column order: SURT
    * keys are space-free by construction (the line format's own
    * framing), every SURT code point is ≥ 0x20 so a prefix SURT sorts
    * before its extensions under both orders, and the absent-ts `-`
    * (0x2D) sorts before any digit — matching the column sort's
    * nulls-first. */
  private def keyOf(line: String): String = {
    val sp2 = line.indexOf(' ', line.indexOf(' ') + 1)
    require(sp2 > 0, s"malformed cdxj line: ${line.take(80)}")
    line.substring(0, sp2)
  }

  /** Compare keys in Unicode CODE-POINT order — the order of the
    * UTF-8 binary comparison Spark's sort laid the standing shards
    * out in. Java's natural `String` order (UTF-16 code units)
    * diverges for supplementary-plane characters: a surrogate
    * (0xD800–0xDFFF) sorts BELOW U+E000–U+FFFF, so a SURT carrying a
    * raw astral code point (an emoji path) would order differently
    * than on disk, and a `<`-driven merge drain against the standing
    * walk could stop early — misordering the rewritten shard and
    * letting a byte-identical replayed line slip past the
    * convergent-replay skip. Every routing/merge/delete comparison
    * against the standing layout goes through THIS, never `<`: at the
    * first differing code unit, surrogates rotate above the BMP
    * (+0x2800 puts 0xD800 at 0x10000), which is exactly UTF-8 byte
    * order for well-formed text. */
  private[graft] def cpCompare(a: String, b: String): Int = {
    val la = a.length; val lb = b.length
    var i = 0
    while (i < la && i < lb) {
      val ca = a.charAt(i); val cb = b.charAt(i)
      if (ca != cb) {
        val xa = if (ca >= 0xD800 && ca < 0xE000) ca + 0x2800 else ca.toInt
        val xb = if (cb >= 0xD800 && cb < 0xE000) cb + 0x2800 else cb.toInt
        return xa - xb
      }
      i += 1
    }
    la - lb
  }

  // ---- the generation shard store ---------------------------------

  private val ManifestPrefix = ".manifest-"
  private val StagePrefix = ".stage-"

  private def isGenerationName(n: String): Boolean =
    n.startsWith("part-") || n.startsWith("shard-g")

  private def manifestName(gen: Long) = f"$ManifestPrefix$gen%09d"
  private def shardName(gen: Long, shard: Int, roll: Int) =
    f"shard-g$gen%09d-$shard%05d-$roll%03d"

  /** Resolve `dir`'s CURRENT generation: (gen, shard files in range
    * order, foreign sidecar files). No manifest = generation 0, the
    * adopted `part-*` listing (empty part files — a range
    * partitioner's empty tails — own no range and are excluded). */
  private[graft] def currentShards(fs: FileSystem, dir: Path)
      : (Long, Array[Path], Array[Path]) = {
    if (!fs.exists(dir)) return (0L, Array.empty, Array.empty)
    val entries = fs.listStatus(dir)
    val foreign = entries
      .filter(e => !e.isDirectory && e.getLen > 0 && {
        val n = e.getPath.getName
        !n.startsWith(".") && !n.startsWith("_") && !isGenerationName(n)
      })
      .map(_.getPath).sortBy(_.getName)
    val manifests = entries
      .filter(_.getPath.getName.startsWith(ManifestPrefix))
      .map(_.getPath).sortBy(_.getName)
    if (manifests.isEmpty) {
      val parts = entries
        .filter(e => e.getPath.getName.startsWith("part-") && e.getLen > 0)
        .map(_.getPath).sortBy(_.getName)
      (0L, parts, foreign)
    } else {
      val m = manifests.last
      val gen = m.getName.stripPrefix(ManifestPrefix).toLong
      val utf8 = java.nio.charset.StandardCharsets.UTF_8
      val in = new java.io.BufferedReader(
        new java.io.InputStreamReader(fs.open(m), utf8))
      val names =
        try Iterator.continually(in.readLine()).takeWhile(_ != null)
          .map(_.trim).filter(_.nonEmpty).toArray
        finally in.close()
      (gen, names.map(n => new Path(dir, n)), foreign)
    }
  }

  /** Publish `names` (range order) as generation `gen`: staged write +
    * one atomic rename — a racing reader sees the previous manifest or
    * this one, never a half-written list. */
  private def writeManifest(fs: FileSystem, dir: Path, gen: Long,
      names: Seq[String]): Unit = {
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    val tmp = new Path(dir, s".tmp-manifest-$gen")
    val out = fs.create(tmp, true)
    try out.write(names.mkString("", "\n", "\n").getBytes(utf8))
    finally out.close()
    val target = new Path(dir, manifestName(gen))
    require(fs.rename(tmp, target),
      s"cdx manifest publish failed: $tmp -> $target")
  }

  /** Remove everything the current generation doesn't reference:
    * superseded manifests, replaced/orphaned generation files, crashed
    * staging dirs. Driver-side, under the single-writer contract;
    * foreign sidecars are never touched. */
  private def gcGenerations(fs: FileSystem, dir: Path, gen: Long,
      live: Array[Path]): Unit = {
    if (!fs.exists(dir)) return
    val keep = live.map(_.getName).toSet
    val keepManifest = manifestName(gen)
    fs.listStatus(dir).foreach { e =>
      val n = e.getPath.getName
      if (e.isDirectory && n.startsWith(StagePrefix))
        fs.delete(e.getPath, true)
      else if (!e.isDirectory && n.startsWith(ManifestPrefix) &&
        n != keepManifest)
        fs.delete(e.getPath, false)
      else if (!e.isDirectory && n.startsWith(".tmp-manifest-"))
        fs.delete(e.getPath, false)
      else if (!e.isDirectory && isGenerationName(n) && !keep.contains(n))
        fs.delete(e.getPath, false)
    }
  }

  /** The bare sorted text write (no manifest) [[writeCdxj]] and the
    * maintenance verbs' staging paths share. */
  private def writeCdxjPlain(index: DataFrame, dir: String,
      shards: Int): Unit = {
    import index.sparkSession.implicits._
    val arranged =
      if (shards > 0)
        indexCols(index)
          .repartitionByRange(shards, col("surt"), col("ts"))
          .sortWithinPartitions("surt", "ts")
      else indexCols(index).orderBy("surt", "ts")
    arranged
      .map(formatLine)
      .write.mode("overwrite").text(dir)
  }

  /** Adopt `dir`'s fresh `part-*` listing as generation `gen`. */
  private def adoptManifest(fs: FileSystem, dir: Path, gen: Long): Unit = {
    val parts = fs.listStatus(dir)
      .filter(e => e.getPath.getName.startsWith("part-") && e.getLen > 0)
      .map(_.getPath.getName).sorted
    writeManifest(fs, dir, gen, parts.toSeq)
  }

  /** Write `(surt, ts, url, mime, status, digest, length, offset,
    * gz_offset, filename)` rows as CDXJ text, globally sorted by
    * (surt, ts), and publish the layout as manifest generation 1.
    * `shards > 0` pins the range-partition count — the layout knob
    * that holds SHARD SIZE constant as the corpus grows (the Common
    * Crawl convention: shard count ∝ index size), which is what keeps
    * [[mergeCdxj]]'s touched-shard cost flat; 0 leaves the session's
    * parallelism in charge. Mode is overwrite: this is the full
    * (re)build verb, not a maintenance verb. */
  def writeCdxj(index: DataFrame, dir: String, shards: Int = 0): Unit = {
    writeCdxjPlain(index, dir, shards)
    val spark = index.sparkSession
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    adoptManifest(fs, p, 1L)
  }

  /** A rolling shard writer: streams lines into one or more
    * generation-named files, rotating at `maxShardBytes` — but ONLY at
    * a (surt, ts) key boundary, so a key's whole capture run stays in
    * exactly one shard (what keeps delta routing unambiguous and the
    * convergent-replay skip airtight). `maxShardBytes = 0` never
    * rotates. Names carry the task attempt number past attempt 0, so
    * a speculative duplicate never writes the file another live
    * attempt is writing; the driver publishes the SUCCESSFUL
    * attempt's returned names and the loser's files are unreferenced
    * garbage the next GC collects. A full re-run (attempt 0 again)
    * overwrites its own deterministic names with identical content —
    * idempotent. */
  private final class RollingShardWriter(fs: FileSystem, dir: Path,
      gen: Long, shard: Int, maxShardBytes: Long) {
    private val utf8 = java.nio.charset.StandardCharsets.UTF_8
    private val attempt = Option(org.apache.spark.TaskContext.get())
      .map(_.attemptNumber()).getOrElse(0)
    private var out: java.io.OutputStream = null
    private var bytes = 0L
    private var pendingRoll = false
    private var lastKey: String = null
    val names = scala.collection.mutable.ArrayBuffer.empty[String]

    def write(key: String, line: String): Unit = {
      if (pendingRoll && key != lastKey) {
        out.close(); out = null; pendingRoll = false; bytes = 0L
      }
      if (out == null) {
        val n = shardName(gen, shard, names.length) +
          (if (attempt > 0) s"-a$attempt" else "")
        names += n
        out = fs.create(new Path(dir, n), true)
      }
      val b = line.getBytes(utf8)
      out.write(b); out.write('\n')
      bytes += b.length + 1
      lastKey = key
      if (maxShardBytes > 0 && bytes >= maxShardBytes) pendingRoll = true
    }

    def close(): Unit = {
      if (out != null) { out.close(); out = null }
    }

    /** Abandon the rewrite: remove this attempt's files (only ever its
      * OWN names — never a live shard). */
    def discard(): Unit = {
      close()
      names.foreach(n => fs.delete(new Path(dir, n), false))
      names.clear()
    }
  }

  /** Incremental index maintenance — the `index-append` analogue for
    * the selection layer: sorted-merge a DELTA (new crawl segments'
    * [[cdxFromWarc]] rows) into a STANDING [[writeCdxj]] index WITHOUT
    * re-sorting the standing side. A continuous crawl
    * ([[graft.io.Warc.readWarcStream]] → [[graft.operators.Recrawl
    * .mergeRefetch]]) re-sorts nothing: the standing shards are each
    * internally sorted and globally range-partitioned, so the merge
    *
    *   1. reads each shard's FIRST line (driver-side, shards-scale —
    *      the range bounds ARE the index's own layout, no extra
    *      metadata);
    *   2. routes every delta row to the one shard whose range owns its
    *      key (broadcast bounds, binary search — keys below the first
    *      shard go to it, keys past the last to the last);
    *   3. rewrites ONLY the shards that received delta rows: one
    *      streaming two-iterator merge per touched shard (standing
    *      lines win ties — stable), written to next-generation files
    *      and published by the manifest flip (see the object doc: a
    *      reader sees the whole old generation or the whole new one).
    *
    * Cost is the delta plus the standing bytes of TOUCHED shards —
    * flat in standing-index size for the locality-bearing deltas a
    * real recrawl produces (a re-fetched site's captures share SURT
    * prefixes and land in few shards); a delta scattered across every
    * shard honestly pays every shard, which is what periodic
    * [[compactCdxj]] re-sharding is for.
    *
    * HOT-SHARD SPLIT (`maxShardBytes > 0`): a touched shard whose
    * rewrite exceeds the threshold rolls into multiple next-generation
    * files at a key boundary, each becoming its own shard in the new
    * manifest — so a hot site recrawled every cycle keeps per-merge
    * cost flat BETWEEN rare global compactions instead of growing one
    * shard linearly (the local analogue of the ANN layer's
    * threshold-triggered rebalance). Untouched shards are never
    * split; global re-balancing stays the compaction pass's job.
    *
    * Convergent replay: a delta line byte-identical to one already
    * present at its (surt, ts) key — a re-run merge, a crash-replayed
    * microbatch — is skipped, however many captures share the key and
    * in whatever order they arrive (the writer tracks the key's
    * written lines, reset at each key boundary), so merging a delta
    * twice converges instead of accumulating. Distinct captures
    * sharing (surt, ts) differ in their json and are kept. Key runs
    * never straddle shard boundaries (writeCdxj's range partitioner
    * keeps equal keys together; the split writer rotates only at key
    * boundaries), so the standing twin is always in the routed shard.
    *
    * An empty standing dir degrades to the bootstrap: the delta is
    * staged (a dot-prefixed dir — the standing dir's own dot-files,
    * the writer lease and the batch marker, are never disturbed),
    * moved in under generation names, and published. Single-writer
    * contract. */
  def mergeCdxj(spark: SparkSession, standingDir: String,
      delta: DataFrame, maxShardBytes: Long = 0L): Unit = {
    import spark.implicits._
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    val dirP = new Path(standingDir)
    val fs = dirP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (gen, parts, _) = currentShards(fs, dirP)
    // clear crashed leftovers (pre-flip files of a dead writer, old
    // generations a dead writer never collected)
    gcGenerations(fs, dirP, gen, parts)
    val nextGen = gen + 1
    if (parts.isEmpty) {
      // bootstrap: stage the delta's sorted write INSIDE the dir under
      // a dot-prefix (invisible to readers), move the shards in, flip
      val stage = new Path(dirP, s"${StagePrefix}g$nextGen")
      writeCdxjPlain(delta, stage.toString, shards = 0)
      val staged = fs.listStatus(stage)
        .filter(e => e.getPath.getName.startsWith("part-") && e.getLen > 0)
        .map(_.getPath).sortBy(_.getName)
      val names = staged.zipWithIndex.map { case (p, i) =>
        val n = shardName(nextGen, i, 0)
        require(fs.rename(p, new Path(dirP, n)),
          s"mergeCdxj bootstrap: staging $p -> $n failed")
        n
      }
      if (names.nonEmpty) writeManifest(fs, dirP, nextGen, names.toSeq)
      fs.delete(stage, true)
      return
    }
    val firstKeys = parts.map { p =>
      val in = new java.io.BufferedReader(
        new java.io.InputStreamReader(fs.open(p), utf8))
      try {
        val l = in.readLine()
        require(l != null, s"mergeCdxj: empty standing shard $p")
        keyOf(l)
      } finally in.close()
    }
    // shard i owns [firstKeys(i), firstKeys(i+1)); bounds = the upper
    // edges, so the routed shard = count of bounds <= key
    val bounds = spark.sparkContext.broadcast(firstKeys.drop(1))
    val shardPaths = spark.sparkContext.broadcast(parts.map(_.toString))
    val hconf = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration))
    val rewritten = indexCols(delta)
      .map(r => (formatLine(r): String))
      .map { line =>
        val k = keyOf(line)
        val b = bounds.value
        var lo = 0; var hi = b.length
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (cpCompare(b(mid), k) <= 0) lo = mid + 1 else hi = mid
        }
        (lo, k, line)
      }
      .toDF("shard", "key", "line")
      .repartition(col("shard"))
      .sortWithinPartitions("shard", "key", "line")
      .as[(Int, String, String)]
      .mapPartitions { it =>
        val utf8 = java.nio.charset.StandardCharsets.UTF_8
        val conf = hconf.value.value
        val done =
          scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Seq[String])]
        val buffered = it.buffered
        while (buffered.hasNext) {
          val shard = buffered.head._1
          val target = new Path(shardPaths.value(shard))
          val sfs = target.getFileSystem(conf)
          val w = new RollingShardWriter(sfs, target.getParent, nextGen,
            shard, maxShardBytes)
          val in = new java.io.BufferedReader(
            new java.io.InputStreamReader(sfs.open(target), utf8))
          var added = 0L
          try {
            var standing = in.readLine()
            var standingKey = if (standing == null) null else keyOf(standing)
            def advance(): Unit = {
              standing = in.readLine()
              standingKey = if (standing == null) null else keyOf(standing)
            }
            // the convergent-replay skip: every line already written at
            // the CURRENT key, standing or delta (multiple captures can
            // share a key, and a replayed twin need not be adjacent)
            var curKey: String = null
            val written = scala.collection.mutable.HashSet.empty[String]
            while (buffered.hasNext && buffered.head._1 == shard) {
              val (_, k, line) = buffered.next()
              if (k != curKey) { written.clear(); curKey = k }
              // drain standing lines below the delta key, then the
              // key's own run (ties: standing first — a stable merge)
              while (standing != null && cpCompare(standingKey, k) < 0) {
                w.write(standingKey, standing); advance()
              }
              while (standing != null && standingKey == k) {
                w.write(k, standing); written += standing; advance()
              }
              if (!written.contains(line)) {
                w.write(k, line); written += line
                added += 1
              }
            }
            while (standing != null) {
              w.write(standingKey, standing); advance()
            }
          } finally { w.close(); in.close() }
          done += ((shard, added, w.names.toSeq))
        }
        done.iterator
      }
      .collect()
    if (rewritten.isEmpty) return // empty delta: current generation stands
    // publish: touched shards swap to their next-generation roll files
    // (a split shard contributes several, still in range order),
    // untouched shards carry their current file forward
    val rolls = rewritten.map(r => r._1 -> r._3).toMap
    val names = parts.indices.flatMap { i =>
      rolls.getOrElse(i, Seq(parts(i).getName))
    }
    writeManifest(fs, dirP, nextGen, names)
    gcGenerations(fs, dirP, nextGen,
      names.map(n => new Path(dirP, n)).toArray)
  }

  /** At-most-once [[mergeCdxj]] per microbatch id — the streaming
    * maintenance guard (the [[graft.io.Sinks.onceForBatch]] gate): the
    * standing dir's dot-marker records the last merged batch and a
    * replayed id — Structured Streaming re-runs a failed
    * batch under the SAME id — is skipped, with the writer lease held
    * for the merge like every mutating index verb. The residual
    * crash-between-merge-and-marker window replays the delta, which
    * [[mergeCdxj]]'s per-key convergent-replay skip absorbs: the
    * re-merge converges instead of duplicating. Returns whether the
    * batch merged. */
  def mergeCdxjIdempotent(spark: SparkSession, standingDir: String,
      delta: DataFrame, batchId: Long,
      maxShardBytes: Long = 0L): Boolean =
    graft.operators.IndexLock.withLock(spark, standingDir, "cdx-merge") {
      graft.io.Sinks.onceForBatch(spark, standingDir, batchId) {
        mergeCdxj(spark, standingDir, delta, maxShardBytes)
      }
    }

  /** Continuous index maintenance — the standing CDXJ maintained AS
    * the crawl streams in: each microbatch of records index-derives
    * ([[cdxFromWarc]]) and sorted-merges into the standing shards
    * at-most-once ([[mergeCdxjIdempotent]]). Compose with
    * [[Warc.readWarcStream]] and the selection layer is never a
    * post-pass — a capture is fetchable through the index the moment
    * its batch commits, the `writeStreamIndexed` analogue for the
    * selection tier. `maxShardBytes` bounds hot-shard growth between
    * compactions (the [[mergeCdxj]] split); periodic [[compactCdxj]]
    * re-balances the shard drift merges accumulate, in the same
    * maintenance window as every standing artifact here. */
  def writeStreamCdx(records: Dataset[Warc.WarcRecord], standingDir: String,
      checkpointDir: String, maxShardBytes: Long = 0L)
      : org.apache.spark.sql.streaming.StreamingQuery =
    records.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: Dataset[Warc.WarcRecord], batchId: Long) =>
        val _ = mergeCdxjIdempotent(batch.sparkSession, standingDir,
          cdxFromWarc(batch), batchId, maxShardBytes)
      }
      .start()

  /** Re-sharding compaction — the maintenance pass [[mergeCdxj]] and
    * [[deleteFromCdxj]] defer to: merges grow (and under the split
    * threshold, locally multiply) the shards they touch, deletes
    * shrink and may remove shards, so a standing index drifts away
    * from the constant-shard-SIZE layout that keeps touched-shard
    * costs flat. Compaction re-sorts the whole index into `shards`
    * fresh range partitions (0 = session parallelism) — corpus-scale
    * by design, scheduled rarely, exactly like the BM25
    * `index-compact` verb. Lines the reader flags malformed cannot be
    * re-sharded typed; they are dropped LOUDLY (the returned second
    * count — a caller that must not lose them fixes the index first),
    * and the foreign sidecar files that carried them are consumed
    * (removed) with the old generation.
    *
    * The rewrite stages INSIDE the live dir under a dot-prefix, moves
    * the new shards in under generation names, and publishes with the
    * one-manifest flip — the index dir never disappears, readers
    * resolve the old generation until the flip (no
    * delete-the-world-then-rename window), and the dir's dot-files
    * (the writer lease, the streaming batch marker) ride through
    * untouched. Single-writer contract. Returns (lines kept, flagged
    * lines dropped). */
  def compactCdxj(spark: SparkSession, dir: String,
      shards: Int = 0): (Long, Long) = {
    val dirP = new Path(dir)
    val fs = dirP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (gen, parts, foreign) = currentShards(fs, dirP)
    gcGenerations(fs, dirP, gen, parts)
    val nextGen = gen + 1
    val rows = readCdxj(spark, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val dropped = rows.filter(!col("ok")).count()
      val kept = rows.filter(col("ok")).count()
      val stage = new Path(dirP, s"${StagePrefix}g$nextGen")
      writeCdxjPlain(rows.filter(col("ok")), stage.toString, shards)
      val staged = fs.listStatus(stage)
        .filter(e => e.getPath.getName.startsWith("part-") && e.getLen > 0)
        .map(_.getPath).sortBy(_.getName)
      val names = staged.zipWithIndex.map { case (p, i) =>
        val n = shardName(nextGen, i, 0)
        require(fs.rename(p, new Path(dirP, n)),
          s"compactCdxj: staging $p -> $n failed")
        n
      }
      writeManifest(fs, dirP, nextGen, names.toSeq)
      fs.delete(stage, true)
      foreign.foreach(f => fs.delete(f, false)) // consumed (counted) above
      gcGenerations(fs, dirP, nextGen,
        names.map(n => new Path(dirP, n)))
      (kept, dropped)
    } finally { val _ = rows.unpersist() }
  }

  /** Takedown maintenance — the `index-delete` analogue for the
    * selection layer: remove EVERY capture of the given URLs from a
    * standing [[writeCdxj]] index, rewriting only the shards whose
    * ranges own them. The index is the archive's visibility gate
    * (WARC segments are immutable, append-only media): un-indexing a
    * URL makes it unfetchable through [[fetchRecords]] /
    * [[latestCaptures]] / [[closestCaptures]], which is what a
    * takedown or robots-revocation pass needs NOW; reclaiming the
    * bytes is the corpus layer's job
    * ([[graft.operators.CorpusPipeline.deleteDocs]]) and archive
    * rewrite/compaction's schedule.
    *
    * Keys are SURT ([[graft.expressions.NativeUrl.surtUrl]] of the
    * `url` column — a row with no derivable SURT names nothing and is
    * ignored). A key's captures can straddle a range boundary (shards
    * split WITHIN a SURT's timestamp run), so each key routes to the
    * full shard span its `<surt> <ts>` range can reach — `"<surt> "`
    * through `"<surt> :"` (ts bytes are `-` and digits, all < `:`) —
    * and each touched shard drops its matching lines in one streaming
    * walk to a next-generation file, published by the manifest flip.
    * A shard deleted down to zero lines simply leaves the new
    * manifest (an empty file would own no range); its attempt file is
    * discarded. Deleting an absent key is a no-op. Tasks only create
    * their own deterministic files, so retries and speculation are
    * harmless and the returned removed-count (summed from the
    * successful attempt per partition) is exact. Returns the number
    * of index lines removed.
    *
    * Scale shape: the delete set distincts and routes through
    * broadcast shard bounds (takedown lists are small against a
    * corpus; the shuffle is delete-scale), and cost is the standing
    * bytes of TOUCHED shards only — flat in standing-index size for
    * the host-local selections real takedowns are. Single-writer
    * contract; readers resolve whole generations (object doc). */
  def deleteFromCdxj(spark: SparkSession, standingDir: String,
      urls: DataFrame): Long = {
    import spark.implicits._
    import graft.expressions.NativeUrl
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    val dirP = new Path(standingDir)
    val fs = dirP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (gen, parts, _) = currentShards(fs, dirP)
    gcGenerations(fs, dirP, gen, parts)
    if (parts.isEmpty) return 0L
    val nextGen = gen + 1
    val firstKeys = parts.map { p =>
      val in = new java.io.BufferedReader(
        new java.io.InputStreamReader(fs.open(p), utf8))
      try {
        val l = in.readLine()
        require(l != null, s"deleteFromCdxj: empty standing shard $p")
        keyOf(l)
      } finally in.close()
    }
    val bounds = spark.sparkContext.broadcast(firstKeys.drop(1))
    val shardPaths = spark.sparkContext.broadcast(parts.map(_.toString))
    val hconf = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration))
    val results = urls
      .select(NativeUrl.surtUrl(col("url")).as("surt"))
      .filter(col("surt").isNotNull)
      .distinct()
      .as[String]
      .flatMap { surt =>
        def route(k: String): Int = {
          val b = bounds.value
          var lo = 0; var hi = b.length
          while (lo < hi) {
            val mid = (lo + hi) >>> 1
            if (cpCompare(b(mid), k) <= 0) lo = mid + 1 else hi = mid
          }
          lo
        }
        // a SURT's captures span ["<surt> ", "<surt> :") in line order
        (route(surt + " ") to route(surt + " :")).map(sh => (sh, surt))
      }
      .toDF("shard", "surt")
      .repartition(col("shard"))
      .sortWithinPartitions("shard", "surt")
      .as[(Int, String)]
      .mapPartitions { it =>
        val utf8 = java.nio.charset.StandardCharsets.UTF_8
        val conf = hconf.value.value
        def surtOf(line: String): String =
          line.substring(0, line.indexOf(' '))
        val done =
          scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Seq[String])]
        val buffered = it.buffered
        while (buffered.hasNext) {
          val shard = buffered.head._1
          val target = new Path(shardPaths.value(shard))
          val sfs = target.getFileSystem(conf)
          val w = new RollingShardWriter(sfs, target.getParent, nextGen,
            shard, maxShardBytes = 0L)
          val in = new java.io.BufferedReader(
            new java.io.InputStreamReader(sfs.open(target), utf8))
          var removed = 0L
          try {
            var standing = in.readLine()
            var standingSurt = if (standing == null) null else surtOf(standing)
            def advance(): Unit = {
              standing = in.readLine()
              standingSurt = if (standing == null) null else surtOf(standing)
            }
            while (buffered.hasNext && buffered.head._1 == shard) {
              val (_, key) = buffered.next()
              while (standing != null && cpCompare(standingSurt, key) < 0) {
                w.write(keyOf(standing), standing); advance()
              }
              while (standing != null && standingSurt == key) {
                removed += 1; advance()
              }
            }
            while (standing != null) {
              w.write(keyOf(standing), standing); advance()
            }
          } finally { in.close() }
          if (removed == 0L) {
            // every routed key was absent here: the rewrite is an
            // identical copy — discard the attempt, keep the old file
            w.discard()
            done += ((shard, 0L, Nil))
          } else {
            // emptied shards wrote nothing (no names → omitted from
            // the manifest); shrunk shards publish their rewrite
            w.close()
            done += ((shard, removed, w.names.toSeq))
          }
        }
        done.iterator
      }
      .collect()
    val removedTotal = results.map(_._2).sum
    // publish only when something actually changed (a no-op delete
    // leaves the current generation standing — its attempts already
    // discarded their identical copies)
    if (removedTotal > 0) {
      val outcome = results.map(r => r._1 -> ((r._2, r._3))).toMap
      val names = parts.indices.flatMap { i =>
        outcome.get(i) match {
          case Some((r, ns)) if r > 0 => ns // emptied: ns is empty
          case _ => Seq(parts(i).getName) // untouched (content or range)
        }
      }
      writeManifest(fs, dirP, nextGen, names)
      gcGenerations(fs, dirP, nextGen,
        names.map(n => new Path(dirP, n)).toArray)
    }
    removedTotal
  }

  /** Fetch the records an index slice names — the whole reason the
    * index exists: `readCdxj(...).filter(<surt prefix, ts range>)`
    * then this, and only the selected records' bytes are ever read.
    * Cost follows the SELECTION (one range read + one member inflate
    * per record over the record-per-member layout), flat in corpus
    * size. Rows flagged `ok = false` by the reader are dropped here —
    * a malformed index line names nothing. */
  def fetchRecords(spark: SparkSession, index: DataFrame): Dataset[Warc.WarcRecord] = {
    val rows =
      if (index.columns.contains("ok")) index.filter(col("ok")) else index
    Warc.readWarcRecordsAt(spark,
      rows.select(col("filename"), col("offset"), col("gz_offset")))
  }

  /** The "current web" view of an index: ONE capture per SURT key —
    * the latest by timestamp (ties and the remaining columns resolve
    * through one deterministic max-struct; null-ts rows, a staging
    * archive's, carry no time axis and are excluded). Compose with
    * [[fetchRecords]] and the corpus of record is every page's newest
    * capture WITHOUT re-crawling or scanning — the selection the
    * conditional-refetch loop maintains, read back out of the index.
    * One map-side-partial aggregate on the surt; index-scale, never
    * corpus-scale. */
  def latestCaptures(index: DataFrame): DataFrame = {
    val rows =
      if (index.columns.contains("ok")) index.filter(col("ok")) else index
    rows.filter(col("ts").isNotNull)
      .groupBy("surt")
      .agg(max(struct(col("ts"), col("url"), col("mime"), col("status"),
        col("digest"), col("length"), col("offset"), col("gz_offset"),
        col("filename"))).as("o"))
      .select(col("surt"), col("o.ts").as("ts"), col("o.url").as("url"),
        col("o.mime").as("mime"), col("o.status").as("status"),
        col("o.digest").as("digest"), col("o.length").as("length"),
        col("o.offset").as("offset"), col("o.gz_offset").as("gz_offset"),
        col("o.filename").as("filename"))
  }

  /** Time travel — the wayback replay semantic: per SURT key, the
    * capture CLOSEST to `atTs` (a 14-digit CDX timestamp), nearest
    * absolute time distance winning and the EARLIER capture breaking
    * exact ties (replay convention: never show newer than asked when
    * equidistant). Distance is computed in epoch seconds parsed from
    * the timestamp14 (calendar-correct — two captures straddling a
    * month boundary compare by real elapsed time, not digit
    * arithmetic). Same single-aggregate shape as [[latestCaptures]]. */
  def closestCaptures(index: DataFrame, atTs: String): DataFrame = {
    require(atTs.matches("[0-9]{14}"), s"atTs must be a 14-digit CDX timestamp: $atTs")
    val rows =
      if (index.columns.contains("ok")) index.filter(col("ok")) else index
    def epochOf(c: org.apache.spark.sql.Column) =
      unix_timestamp(to_timestamp(c, "yyyyMMddHHmmss"))
    val dist = abs(epochOf(col("ts")) - epochOf(lit(atTs)))
    rows.filter(col("ts").isNotNull)
      .groupBy("surt")
      .agg(min(struct(dist.as("d"), col("ts"), col("url"), col("mime"),
        col("status"), col("digest"), col("length"), col("offset"),
        col("gz_offset"), col("filename"))).as("o"))
      .select(col("surt"), col("o.ts").as("ts"), col("o.url").as("url"),
        col("o.mime").as("mime"), col("o.status").as("status"),
        col("o.digest").as("digest"), col("o.length").as("length"),
        col("o.offset").as("offset"), col("o.gz_offset").as("gz_offset"),
        col("o.filename").as("filename"))
  }

  /** Parse CDXJ lines back to typed rows; `ok = false` flags a
    * malformed line (bad framing or JSON) without failing siblings.
    * A directory resolves through its generation manifest (plus any
    * foreign sidecar files — the tolerant-bridge surface); a
    * manifest-less dir falls back to its `part-*` listing, and a
    * non-directory path is read as given. */
  def readCdxj(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    import graft.operators.Json
    import graft.operators.Json.{JNum, JObj, JStr}
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lines: Dataset[String] =
      if (fs.exists(p) && fs.getFileStatus(p).isDirectory) {
        val (_, shards, foreign) = currentShards(fs, p)
        val files = (shards ++ foreign).map(_.toString)
        if (files.isEmpty) spark.emptyDataset[String]
        else spark.read.textFile(files: _*)
      } else spark.read.textFile(path)
    lines
      .map { line =>
        try {
          val sp1 = line.indexOf(' ')
          val sp2 = line.indexOf(' ', sp1 + 1)
          require(sp1 > 0 && sp2 > sp1, "missing surt/ts fields")
          val surt = line.substring(0, sp1)
          val ts0 = line.substring(sp1 + 1, sp2)
          val ts = if (ts0 == "-") null else ts0
          val fields = Json.parse(line.substring(sp2 + 1)) match {
            case JObj(fs) => fs.toMap
            case _ => throw new IllegalArgumentException("payload not an object")
          }
          def str(k: String): String = fields.get(k) match {
            case Some(JStr(v)) => v
            case _ => null
          }
          def num(k: String): java.lang.Long = fields.get(k) match {
            case Some(JStr(v)) => v.toLongOption.map(java.lang.Long.valueOf).orNull
            case Some(JNum(v)) => v.toLongOption.map(java.lang.Long.valueOf).orNull
            case _ => null
          }
          (surt, ts, str("url"), str("mime"),
            Option(str("status")).flatMap(_.toIntOption)
              .map(java.lang.Integer.valueOf).orNull,
            str("digest"), num("length"), num("offset"), num("gz_offset"),
            str("filename"), true)
        } catch {
          case _: Exception =>
            (null: String, null: String, null: String, null: String,
              null: Integer, null: String, null: java.lang.Long,
              null: java.lang.Long, null: java.lang.Long, line, false)
        }
      }
      .toDF("surt", "ts", "url", "mime", "status", "digest", "length",
        "offset", "gz_offset", "filename", "ok")
  }
}
