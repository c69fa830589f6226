package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, StructField, StructType}

import graft.functions.VectorFunctions

/** Standing ANN index — the vector analogue of [[Search]]'s standing BM25
  * index: the IVF-PQ models and the coded corpus persisted under one
  * `indexDir` that a later session (or a streaming append loop) probes
  * without retraining or recoding anything.
  *
  * Layout (all parquet, single-writer maintenance contract):
  *
  *   centroids/  (cid, centroid)          — the IVF coarse model,
  *               `Similarity.saveCentroids` format; KB-scale at any corpus.
  *   codebooks/  (block, cid, centroid)   — the PQ sub-codebooks; KB-scale.
  *   lists/      (cid, vec_id, codes, embedding) — one row per indexed
  *               vector, repartitioned BY LIST and sorted on (cid, vec_id):
  *               a probe's pushed `cid IN (...)` filter skips whole
  *               row groups, so probe IO follows the PROBED LISTS, not the
  *               corpus (the postings/`term IN` design re-expressed for
  *               vectors). Columnar pruning splits the two read paths for
  *               free: the ADC scan reads (cid, vec_id, codes) — m bytes of
  *               code per vector, never the floats — and the exact rerank
  *               reads (cid, vec_id, embedding) for the same pruned lists
  *               only. No second table, no duplicated storage.
  *
  * Append contract: new vectors are coded against the STANDING models —
  * centroids and codebooks never change after build (the FAISS operating
  * model: retrain = rebuild under a new indexDir). Appends therefore
  * change no existing row and probes over build+appends are bit-identical
  * to a fresh build over the union (AnnIndexSpec proves it). From a
  * stream, use [[annIndexAppendIdempotent]] — a root batch marker makes
  * replayed microbatches no-ops (the `Sinks.onceForBatch` gate, with its
  * residual crash window).
  * Appends accumulate files and erode the cid-sorted layout;
  * [[annIndexMaintain]] folds them back past a file threshold.
  */
object AnnIndex {

  /** Build the standing index at `indexDir` (overwrites): train the IVF
    * centroids and PQ codebooks on `corpus` (or pass `trainOn` — at
    * 100 TB, a sample: model quality saturates long before the corpus
    * does), then code and store every corpus vector. */
  def annBuildIndex(corpus: DataFrame, indexDir: String,
      nLists: Int, m: Int, kc: Int = 16, iters: Int = 2,
      trainOn: Option[DataFrame] = None,
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    val spark = corpus.sparkSession
    IndexLock.withLock(spark, indexDir, "build") {
      val train = trainOn.getOrElse(corpus)
      val centroids = Similarity.trainCentroids(train, nLists, iters, idCol, vecCol)
      val codebooks = Similarity.trainPqCodebooks(train, m, kc, iters, idCol, vecCol)
      Similarity.saveCentroids(spark, centroids, s"$indexDir/centroids")
      saveCodebooks(spark, codebooks, s"$indexDir/codebooks")
      writeLists(corpus, indexDir, "overwrite", centroids, codebooks, idCol, vecCol)
      // count the JUST-WRITTEN lists (parquet footer metadata), not the
      // corpus lineage — a non-trivial corpus plan would re-execute
      val n = spark.read.parquet(s"$indexDir/lists").count()
      saveMeta(spark, indexDir, IndexMeta(n, nLists, m, kc, iters, n))
    }
  }

  /** Append a vector batch: coded against the standing models, no rewrite
    * of existing rows. `newVecs` must be NEW vec ids (the signature-table
    * maintenance pattern); from a stream use
    * [[annIndexAppendIdempotent]]. */
  def annIndexAppend(newVecs: DataFrame, indexDir: String,
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit =
    IndexLock.withLock(newVecs.sparkSession, indexDir, "append") {
      appendBody(newVecs, indexDir, idCol, vecCol)
    }

  private def appendBody(newVecs: DataFrame, indexDir: String,
      idCol: String, vecCol: String): Unit = {
    val spark = newVecs.sparkSession
    val centroids = Similarity.loadCentroids(spark, s"$indexDir/centroids")
    val codebooks = loadCodebooks(spark, s"$indexDir/codebooks")
    writeLists(newVecs, indexDir, "append", centroids, codebooks, idCol, vecCol)
    // keep the running count current so the growth trigger never has to
    // scan the table: one footer-metadata count of the standing lists
    // per append (single-writer; a crash before this line leaves the
    // count LOW, which only delays the growth trigger — rebalance
    // recomputes the exact figure)
    loadMeta(spark, indexDir).foreach { meta =>
      val n = spark.read.parquet(s"$indexDir/lists").count()
      saveMeta(spark, indexDir, meta.copy(currentVectors = n))
    }
  }

  /** At-most-once [[annIndexAppend]], gated on the root batch marker —
    * a replayed microbatch id is skipped instead of double-indexing.
    * Returns whether the batch was written. The marker check shares the
    * append's lease, so a racing writer can't slip between the check
    * and the write. */
  def annIndexAppendIdempotent(newVecs: DataFrame, indexDir: String,
      batchId: Long, idCol: String = "vec_id", vecCol: String = "embedding"): Boolean = {
    val spark = newVecs.sparkSession
    IndexLock.withLock(spark, indexDir, "append") {
      graft.io.Sinks.onceForBatch(spark, indexDir, batchId) {
        appendBody(newVecs, indexDir, idCol, vecCol)
      }
    }
  }

  /** Top-`k` neighbors from the standing index. The query batch computes
    * its probe lists and ADC tables with the loaded KB-scale models; the
    * only index IO is two column-pruned scans of `lists/` carrying a
    * pushed `cid IN (<probed>)` filter — codes for the ADC pass,
    * embeddings for the exact rerank of the `rerankDepth` survivors.
    * Results are BIT-IDENTICAL to `Similarity.ivfPqTopK` with the same
    * models over the indexed vectors (same kernels, same tie order —
    * AnnIndexSpec asserts equality), so the probe inherits its recall
    * properties and oracle gates.
    *
    * The probed-cid collect is bounded by min(queries·nProbe, nLists)
    * ints — the KB-scale model-class collect that turns list pruning into
    * a PUSHED parquet filter. The probe regime is a query BATCH against a
    * big standing corpus (the service shape); an all-corpus self-join
    * belongs on `ivfPqTopK` over the raw table, where no pruning exists
    * to exploit.
    *
    * Output: (query_id, rank, neighbor_id, cosine), rank ≤ k. */
  def annIndexProbe(spark: SparkSession, indexDir: String, queries: DataFrame,
      k: Int, nProbe: Int, rerankDepth: Int = 100,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val centroids = Similarity.loadCentroids(spark, s"$indexDir/centroids")
    val codebooks = loadCodebooks(spark, s"$indexDir/codebooks")
    val nLists = centroids.length
    require(nProbe > 0 && nProbe <= nLists, s"nProbe must be in [1, $nLists]: $nProbe")
    require(k >= 1 && rerankDepth >= k, s"need rerankDepth >= k >= 1: $rerankDepth, $k")

    val qRaw = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val probes = qRaw.select(col("query_id"),
      explode(graft.expressions.NearestCentroid.nearestCentroidsTop(
        col("qv"), centroids, nProbe)).as("cid"))
    val probedCids = probes.select("cid").distinct().collect()
      .map(r => Int.box(r.getInt(0)))
    // retracted vectors ([[annIndexDelete]] registry) are masked right at
    // the pruned scan — a broadcast anti-join, gone once compaction
    // physically drops their rows
    val delDir = s"$indexDir/deletes"
    val hasDeletes = graft.io.Sinks.parquetExists(spark, delDir)
    def prunedLists = {
      val scan = spark.read.parquet(s"$indexDir/lists")
        .filter(col("cid").isin(probedCids.toSeq: _*))
      if (hasDeletes)
        scan.join(broadcast(spark.read.parquet(delDir)), Seq("vec_id"), "left_anti")
      else scan
    }

    val qTables = queries.select(col(idCol).as("query_id"),
      graft.expressions.PqAdcTable.pqAdcTable(col(vecCol), codebooks).as("qtable"))
    // bounded per-group top-k instead of rank windows, both stages —
    // the ivfPqTopK swap (identical total orders, bit-identical output,
    // map-side partial aggregation bounds the shuffle at k per query
    // per partition; the probe stays bit-equal to ivfPqTopK because
    // BOTH use the same aggregate now — AnnIndexSpec asserts it)
    val shortlist = prunedLists
      .select(col("cid"), col("vec_id").as("neighbor_id"), col("codes"))
      .join(probes, Seq("cid"))
      .join(qTables, Seq("query_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("adc", graft.expressions.PqAdc.pqAdc(col("codes"), col("qtable")))
      .select(col("query_id"), col("neighbor_id"), col("adc"))
      .groupBy(col("query_id"))
      .agg(graft.expressions.TopKPairs.topKPairs(
        col("adc"), col("neighbor_id"), rerankDepth, smallest = true).as("short"))
      .select(col("query_id"),
        explode(col("short").getField("id")).as("neighbor_id"))

    shortlist
      .join(prunedLists.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("cv")), Seq("neighbor_id"))
      .join(qRaw, Seq("query_id"))
      .withColumn("cosine", VectorFunctions.cosine(col("qv"), col("cv")))
      .groupBy(col("query_id"))
      .agg(graft.expressions.TopKPairs.topKPairs(
        col("cosine"), col("neighbor_id"), k, smallest = false).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("query_id"), (col("pos") + 1).as("rank"),
        col("t.id").as("neighbor_id"), col("t.score").as("cosine"))
  }

  /** Retract vectors from the standing index: ids land in a `deletes/`
    * registry at the index root — [[annIndexProbe]] anti-joins it (so a
    * deleted vector never surfaces as a neighbor) and a replayed delete
    * batch is skipped by the registry guard. Unlike BM25 there are no
    * corpus-relative statistics to correct: IVF-PQ scores each candidate
    * independently, so masking the rows IS the complete retraction;
    * [[annIndexCompact]] physically drops them. Returns the number of
    * NEWLY retracted ids. Single-writer contract. */
  def annIndexDelete(spark: SparkSession, indexDir: String, ids: DataFrame,
      idCol: String = "vec_id"): Long = IndexLock.withLock(spark, indexDir, "delete") {
    require(graft.io.Sinks.parquetExists(spark, s"$indexDir/lists"),
      s"no standing ANN index at $indexDir (lists/ is empty or absent)")
    val delDir = s"$indexDir/deletes"
    val incoming = ids.select(col(idCol).as("vec_id")).distinct()
    val fresh = if (graft.io.Sinks.parquetExists(spark, delDir))
      incoming.join(spark.read.parquet(delDir), Seq("vec_id"), "left_anti")
    else incoming
    val n = fresh.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .count()
    if (n > 0) {
      fresh.write.mode("append").parquet(delDir)
      spark.catalog.refreshByPath(delDir)
    }
    fresh.unpersist()
    n
  }

  /** Fold append debris: rewrite `lists/` back to cid-partitioned,
    * (cid, vec_id)-sorted files, restoring the row-group skipping the
    * probe's pushed filter relies on — and physically dropping retracted
    * vectors ([[annIndexDelete]] registry, which itself only folds to
    * distinct ids: it stays the replay guard). Same two-rename swap
    * window and single-owner contract as the BM25 compactor; probe
    * results are unchanged (row ORDER is not part of any result — every
    * output goes through rank windows with total tie orders). */
  def annIndexCompact(spark: SparkSession, indexDir: String): Unit =
    IndexLock.withLock(spark, indexDir, "compact") {
      compactBody(spark, indexDir)
    }

  private def compactBody(spark: SparkSession, indexDir: String): Unit = {
    val delDir = s"$indexDir/deletes"
    val hasDeletes = graft.io.Sinks.parquetExists(spark, delDir)
    graft.io.Sinks.rewriteParquetInPlace(spark, s"$indexDir/lists")(df =>
      (if (hasDeletes)
        df.join(broadcast(spark.read.parquet(delDir)), Seq("vec_id"), "left_anti")
      else df)
        .repartition(col("cid")).sortWithinPartitions(col("cid"), col("vec_id")))
    if (hasDeletes)
      graft.io.Sinks.rewriteParquetInPlace(spark, delDir)(_.distinct())
  }

  /** Threshold maintenance for an append loop: compact `lists/` past
    * `maxFiles` parquet files, and — when the corpus has grown past
    * `growthFactor` × the size the models were trained at — re-balance
    * the whole index ([[annIndexRebalance]]): appends code against
    * STANDING centroids with nLists fixed at build time, so after the
    * corpus grows several× past the build size every list is several×
    * fatter and probe cost (which reads whole probed lists) grows with
    * it. Re-balancing restores the built mean list size, so probe time
    * returns to flat (SCALE.md rows ann_probe_grown_rebalanced vs
    * _unmaintained). Returns whether any maintenance ran. */
  def annIndexMaintain(spark: SparkSession, indexDir: String,
      maxFiles: Int = 64, growthFactor: Double = 4.0): Boolean = {
    require(maxFiles > 0, s"maxFiles must be positive: $maxFiles")
    require(growthFactor > 1.0, s"growthFactor must exceed 1: $growthFactor")
    // one lease spans the decision AND the chosen action — a racing
    // append can't interleave between the growth check and the rebuild
    IndexLock.withLock(spark, indexDir, "maintain") {
      val grown = loadMeta(spark, indexDir).exists(meta =>
        meta.currentVectors > growthFactor * meta.builtVectors)
      if (grown) { rebalanceBody(spark, indexDir, 100000L); true }
      else {
        val over = graft.io.Sinks.parquetFileCount(spark, s"$indexDir/lists") > maxFiles
        if (over) compactBody(spark, indexDir)
        over
      }
    }
  }

  /** Build-time model provenance: how many vectors the standing models
    * were trained/sized for, and the training hyper-parameters — what
    * the growth trigger and re-balance need to re-train faithfully. */
  private[graft] final case class IndexMeta(
      builtVectors: Long, nLists: Int, m: Int, kc: Int, iters: Int,
      currentVectors: Long)

  /** Meta is swapped in via the same two-rename pattern as
    * centroids/codebooks/lists — a plain `mode("overwrite")` deletes
    * the old meta before the new one commits, so a crash mid-write
    * would leave `loadMeta` = None and silently disable growth
    * maintenance (rebalance would then refuse as "pre-meta"). */
  private def saveMeta(spark: SparkSession, indexDir: String,
      meta: IndexMeta): Unit = {
    val tmp = s"$indexDir/.meta.tmp"
    spark.createDataFrame(
      java.util.Arrays.asList(Row(meta.builtVectors, meta.nLists, meta.m,
        meta.kc, meta.iters, meta.currentVectors)),
      StructType(Seq(
        StructField("built_vectors", org.apache.spark.sql.types.LongType, nullable = false),
        StructField("n_lists", IntegerType, nullable = false),
        StructField("m", IntegerType, nullable = false),
        StructField("kc", IntegerType, nullable = false),
        StructField("iters", IntegerType, nullable = false),
        StructField("current_vectors", org.apache.spark.sql.types.LongType, nullable = false))))
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    swapDir(spark, tmp, s"$indexDir/meta")
  }

  /** None for pre-meta indexes (built before growth tracking existed) —
    * file-count compaction still runs for those; growth maintenance
    * starts at their next rebuild. A meta written before the running
    * count existed reads current = built. A meta left half-swapped by
    * a crash between saveMeta's two renames is restored from its
    * retired twin first, so every reader self-repairs. */
  private[graft] def loadMeta(spark: SparkSession,
      indexDir: String): Option[IndexMeta] = {
    locally {
      val (fs, dst) = graft.io.Sinks.fsFor(spark, s"$indexDir/meta")
      val retired = new org.apache.hadoop.fs.Path(
        dst.getParent, ".meta.rebalance-old")
      if (!fs.exists(dst) && fs.exists(retired))
        require(fs.rename(retired, dst), "restore of half-swapped meta failed")
    }
    if (!graft.io.Sinks.parquetExists(spark, s"$indexDir/meta")) None
    else spark.read.parquet(s"$indexDir/meta").collect().headOption.map { r =>
      val built = r.getAs[Long]("built_vectors")
      val current =
        if (r.schema.fieldNames.contains("current_vectors"))
          r.getAs[Long]("current_vectors")
        else built
      IndexMeta(built, r.getAs[Int]("n_lists"),
        r.getAs[Int]("m"), r.getAs[Int]("kc"), r.getAs[Int]("iters"), current)
    }
  }

  /** Re-balance the standing index for corpus growth: re-train the IVF
    * centroids over a sample of the CURRENT corpus with nLists scaled
    * to restore the built mean list size (nLists ∝ corpus, the sizing
    * rule every scenario here uses), re-train the PQ codebooks on the
    * same sample, re-code every surviving vector, and swap — the FAISS
    * "retrain = rebuild" operating model, run in place. Retracted
    * vectors are dropped physically and the delete registry cleared
    * (the re-code only reads survivors). Deterministic: the training
    * sample is seed-pinned.
    *
    * Crash contract: single-writer, same non-atomic dir-swap window as
    * the BM25 compactor — and RE-RUNNABLE from any crash point: the
    * rebuild reads only `lists/` + `meta/` (swapped LAST), and entry
    * first restores any half-swapped dir from its retired twin (a crash
    * BETWEEN swapDir's two renames leaves dst momentarily absent), so
    * running the verb again always repairs. */
  def annIndexRebalance(spark: SparkSession, indexDir: String,
      sampleCap: Long = 100000L): Unit =
    IndexLock.withLock(spark, indexDir, "rebalance") {
      rebalanceBody(spark, indexDir, sampleCap)
    }

  private def rebalanceBody(spark: SparkSession, indexDir: String,
      sampleCap: Long): Unit = {
    // repair a half-swapped predecessor first: a crash between swapDir's
    // two renames leaves dst missing with the retired dir still present
    Seq("centroids", "codebooks", "lists").foreach { d =>
      val (fs, dst) = graft.io.Sinks.fsFor(spark, s"$indexDir/$d")
      val retired = new org.apache.hadoop.fs.Path(
        dst.getParent, s".$d.rebalance-old")
      if (!fs.exists(dst) && fs.exists(retired))
        require(fs.rename(retired, dst), s"restore of half-swapped $d failed")
    }
    val meta = loadMeta(spark, indexDir).getOrElse(throw new IllegalStateException(
      s"no meta/ at $indexDir — pre-meta index: rebuild with annBuildIndex"))
    val delDir = s"$indexDir/deletes"
    val hasDeletes = graft.io.Sinks.parquetExists(spark, delDir)
    val survivors = {
      val all = spark.read.parquet(s"$indexDir/lists")
        .select(col("vec_id"), col("embedding"))
      if (hasDeletes)
        all.join(broadcast(spark.read.parquet(delDir)), Seq("vec_id"), "left_anti")
      else all
    }.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val current = survivors.count()
    val targetListSize = math.max(1.0, meta.builtVectors.toDouble / meta.nLists)
    val newNLists = math.max(meta.nLists,
      math.ceil(current / targetListSize).toInt)
    // model quality saturates long before the corpus: train on a
    // seed-pinned sample capped at sampleCap vectors
    val frac = math.min(1.0, sampleCap.toDouble / math.max(1L, current))
    val train = if (frac >= 1.0) survivors else survivors.sample(frac, seed = 42L)
    val centroids = Similarity.trainCentroids(train, newNLists, meta.iters)
    val codebooks = Similarity.trainPqCodebooks(train, meta.m, meta.kc, meta.iters)
    // stage the re-coded index, then swap piece by piece (re-runnable:
    // nothing below mutates lists/ until its own swap, and meta goes last)
    Similarity.saveCentroids(spark, centroids, s"$indexDir/.centroids.tmp")
    saveCodebooks(spark, codebooks, s"$indexDir/.codebooks.tmp")
    writeLists(survivors.select(col("vec_id"), col("embedding")),
      s"$indexDir/.relists.tmp", "overwrite", centroids, codebooks,
      "vec_id", "embedding")
    survivors.unpersist()
    swapDir(spark, s"$indexDir/.centroids.tmp", s"$indexDir/centroids")
    swapDir(spark, s"$indexDir/.codebooks.tmp", s"$indexDir/codebooks")
    swapDir(spark, s"$indexDir/.relists.tmp/lists", s"$indexDir/lists")
    locally { // drop the emptied staging parent
      val (fs, p) = graft.io.Sinks.fsFor(spark, s"$indexDir/.relists.tmp")
      fs.delete(p, true)
    }
    if (hasDeletes) {
      val (fs, p) = graft.io.Sinks.fsFor(spark, delDir)
      fs.delete(p, true)
    }
    saveMeta(spark, indexDir,
      IndexMeta(current, newNLists, meta.m, meta.kc, meta.iters, current))
    spark.catalog.refreshByPath(s"$indexDir/lists")
  }

  private def swapDir(spark: SparkSession, tmp: String, dst: String): Unit = {
    val (fs, dstP) = graft.io.Sinks.fsFor(spark, dst)
    val (_, tmpP) = graft.io.Sinks.fsFor(spark, tmp)
    val retired = new org.apache.hadoop.fs.Path(
      dstP.getParent, s".${dstP.getName}.rebalance-old")
    fs.delete(retired, true)
    if (fs.exists(dstP)) require(fs.rename(dstP, retired), s"retire $dst failed")
    require(fs.rename(tmpP, dstP), s"swap $tmp -> $dst failed")
    fs.delete(retired, true)
  }

  /** Streaming maintenance loop for the standing index — the vector
    * analogue of `CorpusPipeline.writeStreamIndexed`'s BM25 leg: each
    * embedding microbatch is coded against the STANDING models and
    * appended at-most-once (root batch marker — recovery replays skip,
    * not double-index), then the file-count threshold folds append
    * debris back to the cid-sorted layout. The index must be BUILT
    * before the stream starts (models never train inside a microbatch's
    * latency budget — [[annBuildIndex]] on a bootstrap corpus or
    * sample); the stream only ever appends and compacts. Single-writer
    * contract shared with every maintenance verb. */
  def writeStreamAnnIndexed(vecs: DataFrame, indexDir: String,
      checkpointDir: String, idCol: String = "vec_id",
      vecCol: String = "embedding", maxFiles: Int = 64)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val commit = (batch: DataFrame, batchId: Long) => {
      if (annIndexAppendIdempotent(batch, indexDir, batchId, idCol, vecCol))
        annIndexMaintain(batch.sparkSession, indexDir, maxFiles)
      ()
    }
    vecs.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch(commit)
      .start()
  }

  /** Persist PQ codebooks as (block, cid, centroid) — the sub-block
    * analogue of `Similarity.saveCentroids`. */
  def saveCodebooks(spark: SparkSession,
      codebooks: Array[Array[Array[Double]]], path: String): Unit = {
    val rows = for {
      (book, b) <- codebooks.zipWithIndex
      (c, j) <- book.zipWithIndex
    } yield Row(b, j, c.toSeq)
    spark.createDataFrame(
      java.util.Arrays.asList(rows: _*),
      StructType(Seq(
        StructField("block", IntegerType, nullable = false),
        StructField("cid", IntegerType, nullable = false),
        StructField("centroid", ArrayType(DoubleType), nullable = false))))
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Load a [[saveCodebooks]] model; (block, cid) must be the contiguous
    * grid the trainer produced. */
  def loadCodebooks(spark: SparkSession,
      path: String): Array[Array[Array[Double]]] = {
    val rows = spark.read.parquet(path).orderBy("block", "cid").collect()
    val m = rows.map(_.getInt(0)).distinct.length
    require(m > 0, s"empty codebook table at $path")
    val kc = rows.length / m
    rows.zipWithIndex.foreach { case (r, i) =>
      require(r.getInt(0) == i / kc && r.getInt(1) == i % kc,
        s"codebook table not a contiguous grid at (${r.getInt(0)}, ${r.getInt(1)})")
    }
    rows.map(_.getSeq[Double](2).toArray).grouped(kc).map(_.toArray).toArray
  }

  /** Code `vecs` with the given models and write/append the `lists/`
    * rows: one coding pass (two literal-model argmin kernels, no
    * shuffle), then the cid repartition that makes the sorted layout. */
  private def writeLists(vecs: DataFrame, indexDir: String, mode: String,
      centroids: Array[Array[Double]], codebooks: Array[Array[Array[Double]]],
      idCol: String, vecCol: String): Unit = {
    val m = codebooks.length
    val sub = codebooks(0)(0).length
    def nc(v: org.apache.spark.sql.Column, model: Array[Array[Double]]) =
      graft.expressions.NearestCentroid.nearestCentroid(v, model)
    vecs.select(
      nc(col(vecCol), centroids).as("cid"),
      col(idCol).as("vec_id"),
      array((0 until m).map(b =>
        nc(slice(col(vecCol), b * sub + 1, sub), codebooks(b))): _*).as("codes"),
      col(vecCol).as("embedding"))
      .repartition(col("cid"))
      .sortWithinPartitions(col("cid"), col("vec_id"))
      .write.mode(mode).parquet(s"$indexDir/lists")
  }
}
