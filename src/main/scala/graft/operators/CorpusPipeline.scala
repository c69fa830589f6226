package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructType}

import graft.functions.{TextFunctions => TF}

/** The curated outputs: `documents` is the cleaned/annotated/split corpus,
  * `packManifest` the context-window map over its train split. */
final case class CuratedCorpus(documents: DataFrame, packManifest: DataFrame)

/** End-to-end training-data curation: the engine's LLM-pipeline operators
  * composed into the standard corpus flow —
  *
  *   redact PII → score (tokens, repetition, language, quality) →
  *   filter (empty / boilerplate) → exact dedup (min-id keeper) →
  *   deterministic split assignment → packing manifest of the train split.
  *
  * Everything before the dedup is a single narrow codegen'd pass over the
  * text; dedup is one hash shuffle on the content digest; the split is
  * seed-free arithmetic; the manifest is the Packing distributed prefix
  * sum. No UDFs, no driver-side loops — the whole flow is the same plan
  * at 500 documents and at 100 TB.
  */
object CorpusPipeline {

  /** Curate a raw corpus (columns: doc_id, text; extra columns ride
    * along). `minTokens` drops empty/trivial docs, `maxDupNgramRatio`
    * drops boilerplate (duplicate word-3-gram fraction above the cut).
    *
    * `gopherRules = true` adds the Gopher-rules keep verdict
    * (`TextFunctions.gopherQuality`) to the narrow scoring pass — the
    * published prose heuristics, off by default because they assume
    * prose-length documents (minimum 50 words).
    *
    * `maxDupSpanFraction = Some(f)` drops documents whose duplicated-span
    * coverage (`Dedup.dupSpanStats`, the Lee et al. exact-substring
    * signal) exceeds `f` — one extra count shuffle on the window
    * fingerprints, before the exact dedup so boilerplate-heavy docs never
    * reach the digest shuffle.
    *
    * `nearDupMaxHamming = Some(h)` adds a near-duplicate pass after the
    * exact dedup: SimHash-blocked candidate pairs within `h` bits →
    * connected components → each cluster keeps its min-id doc. The same
    * bounded-candidate shapes as the standalone operators (16-bit-or-wider
    * exact block keys, id-only shuffles), so the stage scales with the
    * corpus, not with pairs².
    *
    * `sourceCap = Some((col, n))` caps every value of `col` (domain,
    * source) at n docs after dedup — `Sampling.capPerGroup`'s
    * deterministic md5-order keep-set, only over-cap groups shuffled.
    * `tokenBudgets = Some((col, budgets, default))` then trims each
    * source to its token budget (`Sampling.tokenBudget`) — the mixture
    * knob. Both run AFTER dedup (a duplicate shouldn't spend budget) and
    * BEFORE the split (a capped doc shouldn't occupy a split slot); the
    * rank/cum provenance columns are dropped to keep the curated schema
    * stable.
    *
    * `blockedHosts = Some(hostsDf)` drops documents whose `url` host
    * falls under a blocked registrable domain (`UrlFilter
    * .dropBlockedHosts`) BEFORE any content work — the cheapest cut
    * runs first, the CCNet/RefinedWeb ordering. Requires a `url` column
    * (the jsonlDocument/WET-ingest shape has one). The streaming face
    * gets this for free: the streaming sinks commit through
    * foreachBatch, where each microbatch is a batch frame.
    *
    * `dropLinesMinDocFreq = Some(n)` removes corpus-frequent lines
    * (`Dedup.dropFrequentLines`) after the blocklist but before
    * scoring — CCNet's ordering, so boilerplate never inflates quality
    * scores or token counts, and the exact dedup downstream sees the
    * cleaned text (two boilerplate-only variants of one page dedup). */
  def curate(raw: DataFrame, ctxTokens: Long = 2048,
      minTokens: Long = 1, maxDupNgramRatio: Double = 0.9,
      nearDupMaxHamming: Option[Int] = None,
      gopherRules: Boolean = false,
      maxDupSpanFraction: Option[Double] = None,
      sourceCap: Option[(String, Int)] = None,
      tokenBudgets: Option[(String, Map[String, Long], Long)] = None,
      blockedHosts: Option[DataFrame] = None,
      dropLinesMinDocFreq: Option[Long] = None,
      navLineRules: Boolean = false): CuratedCorpus = {
    val unblocked = blockedHosts.fold(raw)(b =>
      UrlFilter.dropBlockedHosts(raw, "url", b))
    val lineClean = dropLinesMinDocFreq.fold(unblocked) { n =>
      // dropFrequentLines returns only (doc_id, text) — rejoin to keep
      // the ingest columns (url/lang/...) flowing to the score stage
      val cleaned = Dedup.dropFrequentLines(unblocked, "doc_id", "text", n)
      unblocked.drop("text").join(cleaned, Seq("doc_id"))
    }
    // navLineRules: the per-page RefinedWeb line battery
    // (TF.dropNavLines) after the corpus-frequency pass — same
    // ordering rationale: boilerplate never inflates quality scores,
    // and the exact dedup sees cleaned text. A narrow codegen'd map,
    // no extra pass.
    val navClean =
      if (navLineRules)
        lineClean.withColumn("text", TF.dropNavLines(col("text")))
      else lineClean
    val scored = scoreAndFilter(navClean, minTokens, maxDupNgramRatio, gopherRules)
    val kept = maxDupSpanFraction.fold(scored) { f =>
      val heavy = Dedup.dupSpanStats(scored, "doc_id", "text")
        .filter(col("dup_fraction") > f)
        .select("doc_id")
      scored.join(heavy, Seq("doc_id"), "left_anti")
    }
    val deduped = Dedup.exactDedup(kept, "doc_id", "text")
    val nearDeduped = nearDupMaxHamming.fold(deduped) { h =>
      val pairs = Dedup.simhashNearDupPairs(deduped, "doc_id", "text", h)
      val keepers = Dedup.connectedComponents(
          pairs, deduped.select("doc_id"), idCol = "doc_id")
        .filter(col("id") === col("component"))
        .select(col("id").as("doc_id"))
      deduped.join(keepers, Seq("doc_id"), "left_semi")
    }
    val capped = sourceCap.fold(nearDeduped) { case (c, n) =>
      Sampling.capPerGroup(nearDeduped, c, "doc_id", n).drop("cap_rank")
    }
    val budgeted = tokenBudgets.fold(capped) { case (c, budgets, default) =>
      Sampling.tokenBudget(capped, c, "doc_id", "n_tokens", budgets, default)
        .drop("cum_tokens")
    }
    val split = Sampling.assignSplit(budgeted, "doc_id")
    val manifest = Packing.packManifest(
      split.filter(col("split") === "train").select("doc_id", "n_tokens"),
      ctxTokens)
    CuratedCorpus(split, manifest)
  }

  /** The curate CAPSTONE — raw archive to training-ready survivors as
    * ONE composed flow, every stage an operator the engine already
    * ships:
    *
    *   readWarc → charset detect/decode ([[graft.io.Warc
    *   .toDocumentsDetected]] — both text faces in ONE archive scan)
    *   → quality floor ([[scoreAndFilter]]: PII redaction, token
    *   count, duplicate-3-gram boilerplate cut) → near-dup dedup
    *   (MinHash LSH candidates + exact shingle-hash Jaccard verify)
    *   → benchmark decontamination ([[Decontaminate
    *   .flagNearContaminated]]).
    *
    * The DEDUP KEEPER is the greedy pairwise rule the streaming sink's
    * intra-batch dedup uses ([[indexedCommit]]): a document drops iff
    * it near-duplicates one with a lexicographically SMALLER URL — the
    * only stable identity an archive carries. Deterministic, total,
    * and replayable by an independent engine (no iterative component
    * resolution in the oracle's way); like the greedy min-keeper it
    * can over-drop a chain's tail (A~B~C with A≁C drops both B and C),
    * the documented trade there.
    *
    * Scale shape — the reason this is one operator and not a script of
    * four: the archive is scanned ONCE — the post-floor document frame
    * PERSISTS (text-scale, far below archive-scale), so the dedup
    * machinery's several consumers (signature table, pair sides, the
    * decontamination verify, the survivor output) read the cache
    * instead of re-walking 100 TB of WARC per reference; dedup is the
    * bounded-candidate LSH shape (banded buckets, id-only pair
    * shuffles, exact verify on the rare candidates); the benchmark
    * side of decontamination broadcasts (eval-scale by contract).
    * The cache releases with the session (the one-shot flow's
    * lifetime) or the caller's `clearCache`. The loser and flagged id
    * sets are EAGER `localCheckpoint`s: executor-local blocks with
    * truncated lineage, so the returned frame cannot be recovered after
    * an executor that holds them is lost — on a real cluster, write the
    * output before relying on it twice, or re-run the flow.
    * Feed the survivors to [[graft.operators.BpeTokenizer]] +
    * [[graft.operators.TokenShards.writeTokenShards]] for the binary
    * training artifact (the `curate-e2e` CLI verb does exactly that).
    *
    * Output: the surviving documents with their provenance columns —
    * (doc_id, url, charset, charset_margin, lang, text, n_tokens,
    * dup_ngram_ratio, lang_pred). */
  def curateArchive(records: org.apache.spark.sql.Dataset[graft.io.Warc.WarcRecord],
      bench: Option[DataFrame] = None,
      minTokens: Long = 1, maxDupNgramRatio: Double = 0.9,
      minJaccard: Double = 0.8): DataFrame = {
    val scored = scoreAndFilter(graft.io.Warc.toDocumentsDetected(records),
        minTokens, maxDupNgramRatio)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // ONE signature pass over the curated corpus (tokenize → shingle →
    // minhash — the flow's heaviest per-row kernels), shared by the
    // near-dup dedup AND the decontamination probe; before r16 the
    // decontamination side re-ran all three kernels over the survivors
    // (guide §1.2: remove redundant passes before tuning anything else).
    // Persisted for the span of the two eager id-set jobs below, then
    // RELEASED — the returned plan never reads it (guide §5: caches get
    // an owner and an unpersist point; the r16 shape leaked this, the
    // flow's widest frame, one copy per call).
    val sigs = Dedup.minhashSignatureTable(scored, "url", "text")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // loser ids are read twice (the corpus anti-join and the
    // survivor-signature anti-join) — uncomputed, each consumer would
    // re-run the whole LSH pair pipeline (measured 4× the flow's cost
    // at sf0.1). Eager localCheckpoint instead of persist: the id-scale
    // result pins as blocks with TRUNCATED lineage, so `sigs` can be
    // released before return instead of leaking for the session.
    val losers = Dedup.minhashNearDupPairs(scored, "url", "text",
        minJaccard = minJaccard, sigs = Some(sigs))
      .select(col("id_b").as("url")).distinct()
      .localCheckpoint(true)
    val deduped = scored.join(losers, Seq("url"), "left_anti")
    val out = bench.fold(deduped) { b =>
      // the survivors' signatures, re-keyed to the docs' id column
      // (doc_id = xxhash64(url) — toDocumentsDetected's derivation)
      val survivorSigs = sigs
        .join(losers.select(col("url").as("doc_id")), Seq("doc_id"),
          "left_anti")
        .select(xxhash64(col("doc_id")).as("doc_id"), col("hs"), col("sig"))
      // contamination is rare by contract (the Decontaminate scaladoc) —
      // the flagged id set is tiny; computing it eagerly here is what
      // lets `sigs` release deterministically below
      val flagged = Decontaminate.nearContaminatedIds(deduped, b,
          minJaccard = minJaccard, docSigs = Some(survivorSigs))
        .localCheckpoint(true)
      deduped.join(broadcast(flagged), Seq("doc_id"), "left_anti")
    }
    sigs.unpersist(false)
    out
  }

  /** The stateless front of the flow — redact, score, filter — one narrow
    * codegen'd pass, shared verbatim by batch `curate` and the streaming
    * face below (same plan, same columns, same cuts). With `gopherRules`
    * the Gopher keep verdict joins the same pass and its rejects are
    * filtered here. */
  def scoreAndFilter(raw: DataFrame,
      minTokens: Long = 1, maxDupNgramRatio: Double = 0.9,
      gopherRules: Boolean = false): DataFrame = {
    val redacted = raw.withColumn("text", TF.redactPii(col("text")))
    // token/gram arrays staged once — every downstream score reads the
    // materialized column (lambda-bearing expressions defeat Catalyst
    // subexpression elimination)
    val scored = redacted
      .withColumn("toks", TF.tokens(col("text")))
      .withColumn("grams", TF.ngramsAll(col("toks"), 3))
    // every score packs into ONE generated struct behind a
    // single-element explode. The Generate is the pushdown fence:
    // PushPredicateThroughNonJoin SUBSTITUTES staged aliases into any
    // deterministic predicate it pushes below a Project — the quality
    // cut was re-evaluating the tokenize/ngram kernels 3-4x PER ROW
    // (Catalyst cannot subexpression-eliminate lambda-bearing
    // expressions; measured 10.7 s → ~2 s at sf0.1) — but a filter
    // referencing a generator's OUTPUT cannot cross the Generate, so
    // every kernel runs exactly once and the filter reads fields. The
    // explode of a one-element array is a codegen'd row-wise no-op;
    // deterministic, streaming-safe.
    val qExpr = struct(
      size(col("toks")).cast(LongType).as("n_tokens"),
      (lit(1.0) -
        size(array_distinct(col("grams"))).cast(DoubleType) /
          size(col("grams")).cast(DoubleType)).as("dup_ngram_ratio"),
      TF.langIdFromTokens(col("toks")).as("lang_pred"),
      (if (gopherRules)
        TF.gopherQualityFromTokens(col("toks")).getField("keep")
      else lit(true)).as("keep_gopher"))
    scored.select(col("*"), explode(array(qExpr)).as("__q"))
      .filter(col("__q.n_tokens") >= minTokens &&
        col("__q.dup_ngram_ratio") <= maxDupNgramRatio &&
        col("__q.keep_gopher"))
      .withColumn("n_tokens", col("__q.n_tokens"))
      .withColumn("dup_ngram_ratio", col("__q.dup_ngram_ratio"))
      .withColumn("lang_pred", col("__q.lang_pred"))
      .drop("toks", "grams", "__q")
  }

  /** Incremental-ingest face: the same redact → score → filter pass over a
    * STREAM of documents, then SimHash-sketch ingest dedup within the
    * watermark horizon (8 B state per surviving sketch). Returns a
    * streaming frame ready for `writeStream` (parquet append, or the
    * exactly-once TSV sink). Corpus-WIDE stages stay batch jobs over the
    * accumulated output on purpose: global near-dup clustering, split
    * assignment, and packing all need the whole corpus (a pack manifest's
    * prefix sum over a partial stream would renumber on every batch), so
    * the streaming face curates what a stream CAN — per-doc transforms and
    * horizon-bounded dedup — and the batch `curate` sweeps the rest.
    *
    * Pair with `Sinks.writeParquetStreamMaintained` for the full
    * maintenance loop: append each curated microbatch, keep the sink
    * directory's file count bounded by threshold-triggered in-place
    * compaction, and refresh the catalog entry every batch. */
  def curateStream(raw: DataFrame, tsCol: String, watermark: String = "1 hour",
      minTokens: Long = 1, maxDupNgramRatio: Double = 0.9): DataFrame =
    graft.streaming.StreamingOps.nearDupDedupWithinWatermark(
      scoreAndFilter(raw, minTokens, maxDupNgramRatio),
      "text", tsCol, watermark)

  /** Continuous-ingest sink with CROSS-BATCH near-dup dedup: each
    * microbatch of an already-curated stream (e.g. [[curateStream]]'s
    * output — its watermark dedup handles WITHIN-horizon twins, this
    * handles everything older) is flagged against the corpus's
    * accumulated MinHash signature table, only the genuinely-new docs are
    * appended, and THEIR signatures join the table for the next batch —
    * so no batch ever re-tokenizes the accumulated corpus (the signature
    * table itself is text-order-sized: its shingle-hash arrays feed the
    * exact verify — see minhashSignatureTable's storage note). Twins
    * WITHIN one microbatch are caught by the same probe (greedy min-id
    * keeper — see indexedCommit), so the first batch (no table yet) is
    * also internally deduped rather than passing wholesale.
    *
    * The PROBE is index-shaped and runs ONCE per batch: a (doc_id, band,
    * bucket) bucket table ([[Dedup.minhashBucketTable]]) is maintained at
    * `sigDir + ".buckets"`, and each batch joins its own buckets against
    * the PRE-BUILT index ∪ its own buckets instead of re-exploding the
    * whole signature table — per-batch cost is O(batch + matching buckets
    * + one signature-table verify probe), not O(corpus bands). A
    * signature table that predates the index (or lost it) is backfilled
    * once, inside the commit, before the probe. The commit shares its
    * kept-set skeleton with [[writeStreamMediaDedup]].
    *
    * Atomicity — the MANIFEST-LAST commit ([[graft.io.Sinks
    * .commitStaged]], which carries the replay and crash proof): every
    * batch stages its corpus rows, bucket rows, and signatures
    * INVISIBLY, flips ONE marker (the corpus dir's — the commit
    * manifest for all three dirs), then publishes the stagings. A
    * reader therefore sees a batch in all three dirs or in none —
    * there is no docs-present-but-unindexed state in which later twins
    * of committed docs could slip past the probe. The kept-set is a
    * pure function of the batch and the standing table, so a pre-flip
    * replay recomputes it identically. Single-writer contract. Every
    * batch's caches (the batch, the kept rows and their signatures) are
    * unpersisted when the commit ends — a long-running query holds no
    * growing cache.
    *
    * (k, bands, shingleN, minJaccard) are pinned per corpus — changing
    * them invalidates the accumulated table AND index (see
    * minhashDedupAgainst). */
  def writeStreamIncrementalDedup(curated: DataFrame, corpusDir: String,
      sigDir: String, checkpointDir: String,
      idCol: String = "doc_id", textCol: String = "text",
      k: Int = 64, bands: Int = 16, shingleN: Int = 3,
      minJaccard: Double = 0.8): org.apache.spark.sql.streaming.StreamingQuery = {
    // the same commit as [[writeStreamIndexed]], minus the BM25 index
    val commit = (batch: DataFrame, batchId: Long) =>
      indexedCommit(batch, batchId, corpusDir, sigDir, indexDir = None,
        idCol, textCol, k, bands, shingleN, minJaccard, maxIndexFiles = 64)
    curated.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch(commit)
      .start()
  }

  /** [[writeStreamIncrementalDedup]]'s indexed sibling: one sink maintains
    * the corpus, the MinHash signature table + band-bucket index, AND a
    * standing BM25 inverted index ([[Search.bm25IndexAppendIdempotent]]),
    * so the curated corpus is keyword-searchable the moment a batch
    * commits — no separate indexing job trailing the ingest.
    *
    * Crash safety: the corpus/bucket/signature trio commits through
    * the MANIFEST-LAST protocol (stage all three → flip the corpus
    * marker → publish; [[graft.io.Sinks.commitStaged]] holds the
    * replay proof — all-or-nothing visibility, pre-flip crashes
    * recompute, post-flip crashes roll forward at the next entry).
    * The BM25 append rides its own marker BEFORE the flip: a pre-flip
    * crash replays to the identical kept-set (the signature table is
    * unchanged until the flip) and the index marker skips the
    * completed append — never a double-count, which
    * CorpusPipelineSpec drives (mid-sequence crash + replay
    * converges). The BM25 index's own residual append-to-marker
    * window is documented at its maintenance contract (Search.scala).
    * Single-writer contract.
    *
    * The BM25 index is threshold-compacted in the commit
    * ([[Search.bm25IndexMaintain]], `maxIndexFiles`) so a long-running
    * ingest keeps bounded file counts. Parameter pinning as in
    * [[writeStreamIncrementalDedup]]. */
  def writeStreamIndexed(curated: DataFrame, corpusDir: String,
      sigDir: String, indexDir: String, checkpointDir: String,
      idCol: String = "doc_id", textCol: String = "text",
      k: Int = 64, bands: Int = 16, shingleN: Int = 3,
      minJaccard: Double = 0.8,
      maxIndexFiles: Int = 64): org.apache.spark.sql.streaming.StreamingQuery = {
    val commit = (batch: DataFrame, batchId: Long) =>
      indexedCommit(batch, batchId, corpusDir, sigDir, Some(indexDir),
        idCol, textCol, k, bands, shingleN, minJaccard, maxIndexFiles)
    curated.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch(commit)
      .start()
  }

  /** One sink commit — shared by [[writeStreamIncrementalDedup]]
    * (indexDir = None) and [[writeStreamIndexed]]; package-visible so the
    * spec can drive replay and mid-sequence-crash scenarios directly.
    * The kept-set is ONE probe ([[Dedup.minhashMatches]]) of the batch's
    * signatures against the standing table ∪ the batch itself: a doc is
    * dropped iff it near-dups any standing doc or a smaller-id doc of
    * its own batch — the greedy min-id keeper, so the first batch (no
    * table yet) is internally deduped too. Chains (A~B~C, A≁C) drop C
    * though its witness B was itself dropped — the over-dropping a CC
    * keeper also applies. The BM25 append rides its own marker and lands
    * before the flip. */
  private[graft] def indexedCommit(batch: DataFrame, batchId: Long,
      corpusDir: String, sigDir: String, indexDir: Option[String],
      idCol: String, textCol: String,
      k: Int, bands: Int, shingleN: Int, minJaccard: Double,
      maxIndexFiles: Int): Unit =
    dedupCommit(batch, batchId, corpusDir, sigDir, idCol,
        Dedup.minhashSignatureTable(_, idCol, textCol, k, shingleN),
        Dedup.minhashBucketTable(_, k, bands),
        Dedup.minhashMatches(_, _, _, k, bands, minJaccard)) { kept =>
      indexDir.foreach { idx =>
        if (Search.bm25IndexAppendIdempotent(kept, idx, batchId, idCol, textCol))
          Search.bm25IndexMaintain(batch.sparkSession, idx, maxIndexFiles)
      }
    }

  /** The kept-set commit both dedup sinks share, inside the
    * manifest-last [[graft.io.Sinks.commitStaged]]: bring the bucket
    * index level with the signature table ([[syncBucketIndex]]), sign the
    * batch, run ONE probe, then stage the kept corpus rows, their bucket
    * rows and their signatures.
    *
    * The probe `dups(batchSigs, refSigs, refBuckets)` returns the
    * `doc_id`s to drop. Its reference rows are the standing tables'
    * (`standing = true`, read with the batch frames' own schemas) ∪ the
    * batch's own (`standing = false`), so one probe serves both the
    * standing and the intra-batch dedup. A batch row with no signature
    * is never dropped (the media sink's unhashable pass-through).
    *
    * The batch, its signatures, the kept rows and their signatures are
    * persisted for the commit and released at its end — a long-running query holds no
    * growing cache. Staged writes land in `<dir>/.staged-<id>`, which no
    * cached plan of the standing dirs is rooted at, so no write of the
    * commit re-caches the kept-set (a recomputed kept-set would probe
    * the commit's own rows and drop every one of them). `sideWrite` gets the kept corpus rows
    * after staging, before the flip. */
  private def dedupCommit(batch: DataFrame, batchId: Long,
      corpusDir: String, sigDir: String, idCol: String,
      signatures: DataFrame => DataFrame, buckets: DataFrame => DataFrame,
      dups: (DataFrame, DataFrame, DataFrame) => DataFrame)(
      sideWrite: DataFrame => Unit): Unit = {
    val spark = batch.sparkSession
    val bucketDir = sigDir + ".buckets"
    graft.io.Sinks.commitStaged(spark, corpusDir,
        Seq(corpusDir, bucketDir, sigDir), batchId) {
      val hasTable = graft.io.Sinks.parquetExists(spark, sigDir)
      if (hasTable)
        syncBucketIndex(spark, sigDir, bucketDir, signatures(batch).schema)(buckets)
      def reference(own: DataFrame, dir: String): DataFrame = {
        val batchRows = own.withColumn("standing", lit(false))
        if (!hasTable) batchRows
        else spark.read.schema(own.schema).parquet(dir)
          .withColumn("standing", lit(true)).union(batchRows)
      }
      // the kept-set reads the batch in several jobs; one cached copy
      // keeps each from re-running the batch's lineage — a WARC decode is
      // a 21-face union, about 2 min a commit when re-run per job. The
      // kept rows and their signatures are cached too: each feeds more
      // than one write, and re-deriving them per write re-runs a join
      val batchP = batch.persist()
      val sigs = signatures(batchP).persist()
      val kept = batchP.join(
        dups(sigs, reference(sigs, sigDir), reference(buckets(sigs), bucketDir))
          .select(col("doc_id").as(idCol)), Seq(idCol), "left_anti").persist()
      val keptSigs = sigs.join(kept.select(col(idCol).as("doc_id")),
        Seq("doc_id"), "left_semi").persist()
      try {
        graft.io.Sinks.stageBatch(kept, corpusDir, batchId)
        graft.io.Sinks.stageBatch(buckets(keptSigs), bucketDir, batchId)
        graft.io.Sinks.stageBatch(keptSigs, sigDir, batchId)
        sideWrite(kept)
      } finally Seq(keptSigs, kept, sigs, batchP).foreach(_.unpersist())
    }
  }

  /** Bring the band-bucket index at `bucketDir` level with the signature
    * table at `sigDir` before a probe reads it: a table that predates
    * its index (or lost it) is backfilled whole, and sig rows the index
    * is missing (a partial divergence) are appended. `buckets` maps
    * signature rows to the sink's bucket rows; both tables are read with
    * declared schemas — `sigSchema` and the bucket rows' own. */
  private def syncBucketIndex(spark: SparkSession, sigDir: String,
      bucketDir: String, sigSchema: StructType)(
      buckets: DataFrame => DataFrame): Unit = {
    val sigRows = spark.read.schema(sigSchema).parquet(sigDir)
    if (!graft.io.Sinks.parquetExists(spark, bucketDir))
      buckets(sigRows).write.mode("overwrite").parquet(bucketDir)
    else {
      val unindexed = sigRows
        .join(spark.read.schema(buckets(sigRows).schema).parquet(bucketDir)
          .select("doc_id").distinct(), Seq("doc_id"), "left_anti")
      if (!unindexed.isEmpty) {
        buckets(unindexed).write.mode("append").parquet(bucketDir)
        spark.catalog.refreshByPath(bucketDir)
      }
    }
  }

  /** Retract documents from every standing artifact the sinks maintain —
    * the takedown path (the legal reality of crawl corpora). Deleted ids
    * are registered in a sibling dir `<corpusDir>.deletes` (never inside
    * the corpus — readers see only corpus rows), then the corpus, the
    * signature table, and the band-bucket index are physically rewritten
    * WITHOUT them, and the BM25 index (when the stream runs indexed)
    * retracts through [[Search.bm25IndexDelete]]'s registry + negative
    * increments.
    *
    * The signature/bucket rewrite is what makes retraction COMPLETE
    * rather than cosmetic: a deleted doc's signatures would otherwise
    * keep matching — suppressing every future near-twin of content that
    * no longer exists, forever (CorpusPipelineSpec proves a post-delete
    * twin survives ingestion). Physical rewrite over tombstone-masking
    * is deliberate here: the dedup probe joins these tables inside every
    * microbatch commit, and a mask would tax the ingest hot path on
    * every batch to spare a rare maintenance verb.
    *
    * Idempotent by construction: every rewrite filters against the FULL
    * registry, so a replayed call (or one resumed after a crash between
    * rewrites) repairs any partially-applied state and converges to the
    * same tables; re-registered ids are skipped, so the BM25 decrements
    * never double-apply. Cost is one rewrite of each table per call —
    * batch takedowns accordingly (the registry append is cheap; the
    * rewrites amortize over any number of ids). Single-writer contract
    * shared with compaction: do not run concurrently with the stream's
    * own commits. Returns the number of NEWLY registered ids. */
  def deleteDocs(spark: SparkSession, ids: DataFrame, corpusDir: String,
      sigDir: String, indexDir: Option[String] = None,
      idCol: String = "doc_id"): Long = {
    require(graft.io.Sinks.parquetExists(spark, corpusDir),
      s"no corpus at $corpusDir")
    val delDir = corpusDir + ".deletes"
    val bucketDir = sigDir + ".buckets"
    val incoming = ids.select(col(idCol).as("doc_id")).distinct()
    val fresh = if (graft.io.Sinks.parquetExists(spark, delDir))
      incoming.join(spark.read.parquet(delDir), Seq("doc_id"), "left_anti")
    else incoming
    val n = fresh.persist().count()
    if (n > 0) {
      fresh.write.mode("append").parquet(delDir)
      spark.catalog.refreshByPath(delDir)
    }
    fresh.unpersist()
    def registry = broadcast(spark.read.parquet(delDir))
    if (graft.io.Sinks.parquetExists(spark, delDir)) {
      graft.io.Sinks.rewriteParquetInPlace(spark, corpusDir)(df =>
        df.join(registry.select(col("doc_id").as(idCol)), Seq(idCol), "left_anti"))
      if (graft.io.Sinks.parquetExists(spark, sigDir))
        graft.io.Sinks.rewriteParquetInPlace(spark, sigDir)(df =>
          df.join(registry, Seq("doc_id"), "left_anti"))
      if (graft.io.Sinks.parquetExists(spark, bucketDir))
        graft.io.Sinks.rewriteParquetInPlace(spark, bucketDir)(df =>
          df.join(registry, Seq("doc_id"), "left_anti"))
      indexDir.foreach(idx =>
        graft.operators.Search.bm25IndexDelete(spark, idx, incoming, "doc_id"))
    }
    n
  }

  // ---- streaming MEDIA dedup (perceptual hashes) -------------------------

  /** Perceptual + identity signatures of a media batch: (`doc_id`,
    * `modality`, `simhash`) — images through
    * [[Multimodal.perceptualHash64]], audio through
    * [[Multimodal.audioHash64]]. Only the kinds the `m.kind match`
    * below names emit rows; everything else passes through the media
    * sink UNDEDUPED (a payload without a pixel/waveform decoder or a
    * content-hash walker cannot be compared; silently hashing its raw
    * bytes would pair nothing and imply it was deduped). Malformed
    * payloads of hashable kinds fail loudly (the codec contract),
    * EXCEPT the container and stream kinds (MPEG audio, MP4, Ogg,
    * Matroska) where an unwalkable stream means framing damage — the
    * documented metadata-only tier — and the payload falls back to
    * pass-through.
    *
    * `audio/mpeg` is hashable PER PAYLOAD: MPEG-1 Layer I decodes to
    * samples and fingerprints like WAV/FLAC; Layer II/III — whose
    * sample decode the clean-room build refuses (see
    * [[graft.operators.Mpeg]]) — keep only the stream identity, decided
    * by a header walk, never by an executor exception. It emits up to
    * TWO rows from ONE frame walk ([[graft.operators.Mpeg.walkFrames]]):
    *  - `audio_stream` at EVERY layer: the tag-invariant
    *    [[graft.operators.Mpeg.streamHash64]] over the ID3-stripped
    *    coded stream — a re-tagged MP3 (different ID3, identical
    *    audio) is an exact dup even where sample decode is refused
    *    (Layer II/III), closing the no-fingerprint gap for the
    *    dominant crawl audio format. A content hash avalanches, so at
    *    the shared Hamming radius only equal hashes ever pair —
    *    exact-dup semantics by construction.
    *  - `audio` for MPEG-1 Layer I: the decoded spectrogram
    *    fingerprint ([[Multimodal.audioHash64With]], fed by the SAME
    *    walk; a stream that walks clean but carries a corrupt Layer-I
    *    payload still fails loudly there).
    *
    * MP4 containers (`video/mp4`, m4a audio) emit the `mp4_stream`
    * identity — [[graft.operators.Mp4.contentHash64]] over the mdat
    * payload ranges, so an edited-metadata copy of the same video is
    * an exact dup; same avalanche-only-pairs-equal property as the
    * audio stream hash. */
  private def mediaSigs(batch: DataFrame): DataFrame = {
    val spark = batch.sparkSession
    import spark.implicits._
    batch.select(col("media_id"), col("kind"), col("bytes"))
      .as[Multimodal.Media]
      .mapPartitions(_.flatMap(m => m.kind match {
        case "image/ppm" | "image/png" | "image/jpeg" | "image/gif" |
            "image/bmp" | "image/x-ms-bmp" | "image/tiff" |
            "image/x-icon" | "image/vnd.microsoft.icon" =>
          Seq((m.media_id, "image", Multimodal.perceptualHash64(m)))
        case "audio/wav" | "audio/flac" | "audio/x-flac" |
            "audio/aiff" | "audio/x-aiff" =>
          Seq((m.media_id, "audio", Multimodal.audioHash64(m)))
        case "video/mp4" | "audio/mp4" | "audio/x-m4a" =>
          // MP4: metadata-invariant mdat content hash ([[Mp4
          // .contentHash64]]) — an edited-metadata copy is an exact dup;
          // malformed containers take the metadata-tier pass-through,
          // the audio/mpeg framing-damage contract
          (try Some(graft.operators.Mp4.contentHash64(m.bytes, m.media_id))
          catch { case _: IllegalArgumentException => None })
            .map(h => (m.media_id, "mp4_stream", h)).toSeq
        case "audio/ogg" | "application/ogg" | "audio/opus" | "audio/vorbis" =>
          // Ogg: tag- AND page-layout-invariant audio-packet hash
          // ([[graft.operators.Ogg.streamHash64]]) — a re-tagged or
          // re-muxed copy of the same coded audio is an exact dup;
          // framing damage takes the metadata-tier pass-through
          (try Some(graft.operators.Ogg.streamHash64(m.bytes, m.media_id))
          catch { case _: IllegalArgumentException => None })
            .map(h => (m.media_id, "ogg_stream", h)).toSeq
        case "video/webm" | "audio/webm" | "video/x-matroska" |
            "audio/x-matroska" =>
          // Matroska/WebM: metadata-invariant Cluster content hash
          // ([[graft.operators.Mkv.contentHash64]]) — a retitled or
          // retagged copy of the same media is an exact dup; framing
          // damage takes the metadata-tier pass-through
          (try Some(graft.operators.Mkv.contentHash64(m.bytes, m.media_id))
          catch { case _: IllegalArgumentException => None })
            .map(h => (m.media_id, "mkv_stream", h)).toSeq
        case "audio/mpeg" | "audio/mp3" | "audio/mpeg3" | "audio/x-mpeg-3" =>
          val walked = // framing damage: metadata tier, pass through
            try Some(graft.operators.Mpeg.walkFrames(m.bytes, m.media_id))
            catch { case _: IllegalArgumentException => None }
          walked.toSeq.flatMap { fs =>
            val stream = (m.media_id, "audio_stream",
              graft.operators.Mpeg.streamHash64Of(m.bytes, fs))
            if (fs.head.layer == 1 && fs.head.version == 1)
              Seq(stream, (m.media_id, "audio", Multimodal.audioHash64With(
                m, graft.operators.Mpeg.infoOf(m.bytes, fs))))
            else Seq(stream)
          }
        case _ => Nil
      }))
      .toDF("doc_id", "modality", "simhash")
  }

  /** Streaming media ingest with standing perceptual dedup — the media
    * face of [[writeStreamIncrementalDedup]]: each microbatch of
    * (`media_id`, `kind`, `bytes`) rows is hashed (DCT pHash for
    * images, spectrogram fingerprint for audio — so a re-encoded,
    * re-levelled, or resized copy of already-kept media is a DUP, not a
    * new row), deduped by ONE probe at Hamming radius `maxHamming`
    * against the STANDING chunk index ∪ the batch's own signatures
    * (a smaller-id batch twin also drops a doc), and the survivors
    * committed atomically through the text sink's kept-set skeleton and
    * MANIFEST-LAST protocol (stage corpus rows, the chunk bucket index
    * [[Dedup.hash64BucketTable]] and signatures invisibly; flip the
    * corpus marker; publish): a reader sees a batch everywhere or
    * nowhere, pre-flip crashes replay to the identical kept-set (a pure
    * function of (batch, signature table)), post-flip crashes roll
    * forward. Modalities never cross-match: `modality` is part of the
    * probe key, so one probe serves every modality.
    *
    * Unhashable kinds pass through to the corpus undeduped (see
    * [[mediaSigs]]). Single-writer contract. */
  def writeStreamMediaDedup(media: DataFrame, corpusDir: String,
      sigDir: String, checkpointDir: String, maxHamming: Int = 8)
      : org.apache.spark.sql.streaming.StreamingQuery =
    media.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch((batch: DataFrame, batchId: Long) =>
        mediaCommit(batch, batchId, corpusDir, sigDir, maxHamming))
      .start()

  /** One media-sink commit — package-visible so the spec drives replay,
    * divergence-repair, and cross-modality scenarios directly. ONE
    * probe ([[Dedup.hash64Matches]]) of the batch's signatures against
    * the standing index ∪ the batch's own buckets: a doc is a dup iff
    * ANY of its signatures matches a standing signature or one of a
    * smaller-id batch doc, of the same modality. */
  private[graft] def mediaCommit(batch: DataFrame, batchId: Long,
      corpusDir: String, sigDir: String, maxHamming: Int): Unit =
    dedupCommit(batch, batchId, corpusDir, sigDir, "media_id",
        mediaSigs, Dedup.hash64BucketTable,
        (sigs, _, buckets) => Dedup.hash64Matches(sigs, buckets, maxHamming))(_ => ())
}
