package graft.operators

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.apache.spark.storage.StorageLevel

/** Binary token shards — the artifact a training fleet actually mmaps:
  * fixed-budget files of little-endian token ids (2 bytes when the
  * vocabulary fits uint16, else 4), each document terminated by `eosId`,
  * documents in deterministic `doc_id` order, plus a parquet manifest
  * (shard → file, doc range, token count). This is the last hop of the
  * pipeline: curate → dedup → BPE-encode ([[BpeTokenizer.bpeEncodeIds]])
  * → pack/shard → train; the format is the standard memory-mapped
  * id-stream layout used by public LLM training stacks, with DOC-ALIGNED
  * shards (a document never splits across files — shard sizes overshoot
  * `tokensPerShard` by at most one document, and a training loader can
  * still pack across the eos markers exactly as `Packing.packManifest`
  * describes).
  *
  * Determinism contract: same input ⇒ byte-identical shards. Shard
  * assignment is a prefix sum over the doc_id total order (the
  * [[Packing.packManifest]] two-job recipe: range-partition by id,
  * collect one long per partition, broadcast cumulative bases — no
  * single-partition window, KB-scale driver traffic at any corpus
  * size); within a shard, documents are written in doc_id order by the
  * one task that owns the shard. Re-running the writer replaces files
  * atomically per shard (write to dot-tmp, rename).
  *
  * Fail-loudly contract: a negative id (the −1 OOV sentinel
  * `bpeEncodeIds` emits) or an id outside `vocabSize` throws with the
  * doc id — silently truncating to the byte width would corrupt
  * training data undetectably.
  *
  * Scale shape: one range shuffle (the id total order) + one hash
  * shuffle on shard_id; the write itself is narrow — each task streams
  * its shards' rows once through a fixed 64 KB buffer. Parallelism
  * follows the shard count, which follows corpus size / tokensPerShard.
  */
object TokenShards {

  /** Write [[BpeTokenizer.bpeEncodeIds]]-shaped rows (`doc_id`,
    * `token_ids`) as binary shards under `dir`; returns the manifest
    * (shard_id, file, byte_width, n_docs, n_tokens, first_doc,
    * last_doc), which is also persisted at `dir/manifest`. */
  def writeTokenShards(encoded: DataFrame, dir: String,
      tokensPerShard: Long, vocabSize: Int, eosId: Int,
      idCol: String = "doc_id", idsCol: String = "token_ids"): DataFrame = {
    require(tokensPerShard > 0, s"tokensPerShard must be positive: $tokensPerShard")
    require(eosId >= 0 && eosId < vocabSize,
      s"eosId $eosId outside the vocabulary [0, $vocabSize)")
    val spark = encoded.sparkSession
    import spark.implicits._
    val width = if (vocabSize <= 0x10000) 2 else 4

    val sorted = encoded
      .select(col(idCol).cast(LongType).as("doc_id"), col(idsCol).as("ids"),
        (size(col(idsCol)) + 1).cast(LongType).as("n")) // + the eos marker
      .repartitionByRange(col("doc_id"))
      .sortWithinPartitions("doc_id")
      .persist(StorageLevel.MEMORY_AND_DISK)

    // the packManifest prefix-sum recipe: per-partition totals → driver
    // cumulative bases → broadcast back (one long per partition)
    val partSums = sorted
      .select(spark_partition_id().as("pid"), col("n"))
      .groupBy("pid").agg(sum("n").as("s"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val nParts = if (partSums.isEmpty) 0 else partSums.keys.max + 1
    val bases = new Array[Long](nParts + 1)
    for (p <- 0 until nParts) bases(p + 1) = bases(p) + partSums.getOrElse(p, 0L)
    val baseB = spark.sparkContext.broadcast(bases)

    val perShard = tokensPerShard
    val assigned = sorted.as[(Long, Seq[Int], Long)].mapPartitions { it =>
      val pid = TaskContext.getPartitionId()
      var off = baseB.value(pid)
      it.map { case (id, ids, n) =>
        val shard = off / perShard // doc-START-aligned: never splits a doc
        off += n
        (shard, id, ids)
      }
    }.toDF("shard", "doc_id", "ids")

    // one owner task per shard: hash-repartition on shard, write each
    // shard's id stream through a streaming buffer, dot-tmp + rename
    val eos = eosId
    val w = width
    val vs = vocabSize
    val outDir = dir
    val manifest = assigned
      .repartition(col("shard"))
      .sortWithinPartitions("shard", "doc_id")
      .as[(Long, Long, Seq[Int])]
      .mapPartitions { it =>
        val conf = new org.apache.hadoop.conf.Configuration()
        val results = scala.collection.mutable.ArrayBuffer
          .empty[(Long, String, Int, Long, Long, Long, Long)]
        var cur = -1L
        var out: java.io.DataOutputStream = null
        var fs: org.apache.hadoop.fs.FileSystem = null
        var tmp: org.apache.hadoop.fs.Path = null
        var fin: org.apache.hadoop.fs.Path = null
        var nDocs = 0L; var nToks = 0L; var firstDoc = 0L; var lastDoc = 0L
        def close(): Unit = if (out != null) {
          out.close()
          if (fs.exists(fin)) fs.delete(fin, false) // replace semantics
          require(fs.rename(tmp, fin), s"rename $tmp -> $fin failed")
          results += ((cur, fin.getName, w, nDocs, nToks, firstDoc, lastDoc))
          out = null
        }
        def open(shard: Long): Unit = {
          fin = new org.apache.hadoop.fs.Path(
            f"$outDir%s/shard-$shard%05d.bin")
          tmp = new org.apache.hadoop.fs.Path(
            f"$outDir%s/.shard-$shard%05d.bin.tmp")
          fs = fin.getFileSystem(conf)
          out = new java.io.DataOutputStream(
            new java.io.BufferedOutputStream(fs.create(tmp, true), 64 * 1024))
          cur = shard; nDocs = 0L; nToks = 0L
        }
        def writeId(v: Int, docId: Long): Unit = {
          if (v < 0 || v >= vs) throw new IllegalArgumentException(
            s"doc $docId: token id $v outside the vocabulary [0, $vs) — " +
              "remap or drop OOV before sharding")
          // little-endian
          out.write(v & 0xff); out.write((v >> 8) & 0xff)
          if (w == 4) { out.write((v >> 16) & 0xff); out.write((v >> 24) & 0xff) }
          nToks += 1
        }
        it.foreach { case (shard, docId, ids) =>
          if (shard != cur) { close(); open(shard) }
          if (nDocs == 0) firstDoc = docId
          lastDoc = docId
          ids.foreach(writeId(_, docId))
          writeId(eos, docId)
          nDocs += 1
        }
        close()
        results.iterator
      }
      .toDF("shard_id", "file", "byte_width", "n_docs", "n_tokens",
        "first_doc", "last_doc")
    // NO orderBy/coalesce above the side-effecting writer: a global
    // sort's range-partitioner SAMPLING job executes the shard-writer
    // stage once before the write job executes it again (every shard
    // file written twice — double I/O on the very sink being measured),
    // and a narrow coalesce(1) would collapse the writer stage itself
    // to one task. The manifest is KB-scale (one row per shard): ONE
    // collect executes the writer exactly once at full parallelism,
    // then the sorted rows land as a single parquet from a local
    // relation.
    val manifestRows = manifest.collect().sortBy(_.getLong(0))
    spark.createDataFrame(
        java.util.Arrays.asList(manifestRows: _*), manifest.schema)
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/manifest")
    sorted.unpersist()
    encoded.sparkSession.read.parquet(s"$dir/manifest").orderBy("shard_id")
  }

  /** Streaming face of the sink: each microbatch of encoded docs becomes
    * NEW shards appended at-most-once under `dir/batch-<id>/` (own
    * manifest per batch — a training loader unions the per-batch
    * manifests with one glob; global doc order holds WITHIN a batch,
    * batches order by arrival, the only order a stream can promise).
    * Replayed microbatch
    * ids are skipped via the root batch marker, so crash recovery never
    * double-writes tokens — the `Sinks.onceForBatch` gate.
    * Single-writer, like every standing-artifact sink here. */
  def writeStreamTokenShards(encoded: DataFrame, dir: String,
      checkpointDir: String, tokensPerShard: Long, vocabSize: Int,
      eosId: Int, idCol: String = "doc_id", idsCol: String = "token_ids")
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val commit = (batch: DataFrame, batchId: Long) => {
      writeTokenShardsIdempotent(batch, dir, batchId,
        tokensPerShard, vocabSize, eosId, idCol, idsCol)
      ()
    }
    encoded.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch(commit)
      .start()
  }

  /** At-most-once per-batch sharding, gated on the root batch marker —
    * the commit [[writeStreamTokenShards]] runs, exposed for direct
    * replay testing and manual batch loops. Returns whether the batch
    * was written. */
  def writeTokenShardsIdempotent(batch: DataFrame, dir: String,
      batchId: Long, tokensPerShard: Long, vocabSize: Int, eosId: Int,
      idCol: String = "doc_id", idsCol: String = "token_ids"): Boolean =
    graft.io.Sinks.onceForBatch(batch.sparkSession, dir, batchId) {
      // materialize before sharding: the writer's range partitioning
      // SAMPLES its child (an extra evaluation a one-shot streaming
      // batch does not support), and the prefix-sum makes two more
      // passes — all of which must hit the cache, not the source
      val local = batch.persist(StorageLevel.MEMORY_AND_DISK)
      local.count()
      try writeTokenShards(local, f"$dir%s/batch-$batchId%05d",
        tokensPerShard, vocabSize, eosId, idCol, idsCol)
      finally local.unpersist()
    }

  /** Read shards back as (`shard_id`, `token_ids`) — the verification
    * face of the writer (a training loader mmaps the files directly).
    * Byte width comes from the manifest; a file whose length is not a
    * multiple of it fails loudly. */
  def readTokenShards(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val widths = spark.read.parquet(s"$dir/manifest")
      .select("file", "shard_id", "byte_width")
    spark.read.format("binaryFile").load(s"$dir/shard-*.bin")
      .select(element_at(split(col("path"), "/"), -1).as("file"),
        col("content"))
      .join(broadcast(widths), Seq("file"))
      .as[(String, Array[Byte], Long, Int)]
      .map { case (file, bytes, shard, w) =>
        require(bytes.length % w == 0,
          s"$file: ${bytes.length} bytes is not a multiple of width $w")
        val n = bytes.length / w
        val ids = new Array[Int](n)
        var i = 0
        while (i < n) {
          val b = i * w
          ids(i) =
            if (w == 2) (bytes(b) & 0xff) | ((bytes(b + 1) & 0xff) << 8)
            else (bytes(b) & 0xff) | ((bytes(b + 1) & 0xff) << 8) |
              ((bytes(b + 2) & 0xff) << 16) | ((bytes(b + 3) & 0xff) << 24)
          i += 1
        }
        (shard, ids)
      }
      .toDF("shard_id", "token_ids")
  }
}
