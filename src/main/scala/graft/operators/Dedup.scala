package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import org.apache.spark.storage.StorageLevel

import graft.expressions.SimHash64
import graft.functions.TextFunctions

/** Deduplication operators for training-data pipelines: exact, MinHash+LSH,
  * SimHash, and n-gram Jaccard. The reference only ever dedups exact rows
  * (SURVEY.md §2.8); these are the scale-path generalizations.
  *
  * Scale notes (100 TB / 1000 executors):
  *  - every operator is a pure DataFrame graph: hash → shuffle on
  *    hash/bucket keys → verify; no driver-side state, no collect;
  *  - candidate generation always goes through LSH-style bucketing so the
  *    all-pairs O(n²) never materializes — only same-bucket pairs shuffle;
  *  - hot buckets (boilerplate shingles) are the skew risk: `maxDocFreq`
  *    drops shingles present in more than that many docs (standard
  *    stop-shingle trick), and AQE skew-join handles the remainder;
  *  - seeds are compile-time constants — signatures are reproducible on any
  *    executor with no broadcast model.
  */
object Dedup {

  /** Session shuffle parallelism — the probe-side repartition width for
    * the pair-generating self-joins below. */
  private def shufflePartitions(df: DataFrame): Int =
    df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200").toInt

  /** Exact-content duplicate groups: md5-keyed, deterministic min-id keeper.
    * One shuffle on the 16-byte digest, map-side partial agg. */
  def exactDupGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("n_copies"))

  /** Keep one row per exact content (the min-id row). */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val keepers = exactDupGroups(df, idCol, textCol)
      .select(col("keeper_id").as(idCol))
    df.join(keepers, Seq(idCol), "left_semi")
  }

  /** Paragraph-level exact dedup (the C4/CCNet move): a paragraph that
    * appears anywhere else in the corpus survives only at its FIRST
    * occurrence (min (id, position)); every document is reassembled from
    * its surviving paragraphs in original order. Boilerplate — headers,
    * navigation, license blocks — is usually duplicated ACROSS documents
    * that are not document-level dups, which is exactly what whole-doc
    * dedup can't see.
    *
    * Shape: split+posexplode (narrow) → one shuffle on the paragraph text
    * for the first-occurrence window → one shuffle back on the id to
    * reassemble. Paragraph-keyed skew (an empty or ultra-common line) is
    * bounded: empties are dropped, and the window only ranks — the
    * paragraph's row count, not its content, rides the exchange. Documents
    * whose every paragraph is claimed elsewhere drop out of the result
    * (C4 drops now-empty docs); left-join the input to keep them.
    *
    * Returns (idCol, textCol). `sep` is a literal separator, split-quoted.
    */
  def paragraphDedup(df: DataFrame, idCol: String, textCol: String,
      sep: String = "\n\n"): DataFrame = {
    val paras = df
      .select(col(idCol).as("id"),
        posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
          .as(Seq("pos", "para")))
      .filter(length(col("para")) > 0)
    val firstSeen = org.apache.spark.sql.expressions.Window
      .partitionBy(col("para")).orderBy(col("id"), col("pos"))
    paras
      .withColumn("rn", row_number().over(firstSeen))
      .filter(col("rn") === 1)
      .groupBy(col("id"))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("para")))),
          x => x.getField("para")),
        sep).as("text"))
      .select(col("id").as(idCol), col("text").as(textCol))
  }

  /** Corpus-wide boilerplate-line removal, the CCNet pre-dedup pass
    * (Wenzek et al. 2020 dedup frequent lines across the whole crawl
    * before scoring; C4's "terms of use"/cookie-notice rule is the same
    * idea as a fixed list): a line that occurs in at least `minDocFreq`
    * DISTINCT documents is removed from EVERY document. Unlike
    * [[paragraphDedup]] no occurrence survives — boilerplate has no
    * canonical owner.
    *
    * Plan: split+posexplode (narrow) → distinct-doc count per line (a
    * partial-aggregated count, bytes per key — no posting list ever
    * materializes for a hot line) → the frequent set (tiny for any real
    * threshold) anti-joins the line stream, strategy left to AQE (never
    * forced broadcast — the Sampling cardinality lesson) → reassemble per
    * doc. Empty lines are dropped unconditionally (same contract as
    * [[paragraphDedup]]); docs whose every line was boilerplate survive
    * with empty text via the final left join.
    *
    * Returns (idCol, textCol). `sep` is a literal separator. */
  def dropFrequentLines(df: DataFrame, idCol: String, textCol: String,
      minDocFreq: Long, sep: String = "\n"): DataFrame = {
    require(minDocFreq > 1, s"minDocFreq must exceed 1: $minDocFreq")
    val lines = df
      .select(col(idCol).as("id"),
        posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
          .as(Seq("pos", "line")))
      .filter(length(col("line")) > 0)
    val frequent = lines.groupBy(col("line"))
      .agg(count_distinct(col("id")).as("__df"))
      .filter(col("__df") >= minDocFreq)
      .select("line")
    val kept = lines.join(frequent, Seq("line"), "left_anti")
      .groupBy(col("id"))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("line")))),
          x => x.getField("line")),
        sep).as("__text"))
    df.select(col(idCol).as("id"))
      .join(kept, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("__text"), lit("")).as(textCol))
  }

  /** MinHash signature from a column of pre-hashed shingles (array<long>):
    * k minima of xxhash64(seed, baseHash). Hashing the 8-byte base hash
    * per seed instead of re-hashing the shingle string makes the k-fold
    * cost independent of shingle length. Native codegen'd kernel —
    * bit-identical to the built-in `array((0 until k).map(i =>
    * array_min(transform(hs, h => xxhash64(lit(i), h)))))` it replaces
    * (parity test in TextFunctionsSpec), computing all k minima in one
    * O(k·m) primitive pass instead of k interpreted lambda traversals. */
  def minhashSignatureFromHashes(shingleHashes: Column, k: Int): Column =
    graft.expressions.NativeText.minhashSignature(shingleHashes, k)

  /** MinHash signature straight from text (convenience; for hot paths
    * materialize shingle hashes once and use minhashSignatureFromHashes). */
  def minhashSignature(text: Column, k: Int, shingleN: Int): Column =
    minhashSignatureFromHashes(
      TextFunctions.shingleHashesFrom(TextFunctions.tokenHashes(text), shingleN), k)

  /** Cluster-level signature: element-wise min of member signatures via
    * the native `minhash_merge` aggregate — exactly the signature of the
    * UNION of the members' shingle sets (min over union = min of mins,
    * lane by lane; parity-tested in DedupSpec), from one group-by over
    * already-computed signatures instead of re-hashing concatenated text.
    * Map-side partial agg: the shuffle moves one k-lane buffer per
    * (partition, group). */
  def mergeSignatures(sig: Column): Column =
    graft.expressions.MinHashMerge.minhashMerge(sig)

  /** LSH banding of a signature array: `bands` rows of (band_id, bucket)
    * where bucket hashes `rowsPerBand` consecutive signature entries.
    * Docs sharing any band bucket become candidate pairs. */
  private def bandBuckets(sig: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map(b =>
      struct(lit(b).as("band"),
        xxhash64(slice(sig, b * rowsPerBand + 1, rowsPerBand)).as("bucket"))): _*)

  /** MinHash+LSH candidate pairs with exact Jaccard verification.
    *
    * Plan shape: signature scan → explode bands (×bands rows) → shuffle on
    * (band, bucket) → same-bucket self-pairs → dedup pair ids → join back
    * the two shingle sets → exact Jaccard filter. The exact-verify join is
    * what makes LSH false positives harmless.
    *
    * `maxBucketSize` is the HOT-BUCKET guard: a (band, bucket) shared by
    * m docs yields m²/2 candidate pairs, and corpus-wide boilerplate
    * (footers, licenses, templates) routinely drives one band value to
    * thousands of docs — a quadratic blow-up that OOMed the skewed-corpus
    * ScaleBench before this cap existed. Buckets over the cap are dropped
    * from pair generation (the stop-shingle defense of [[jaccardPairs]],
    * band-level): docs that agree ONLY on a boilerplate-dominated band
    * are false candidates the exact verify would reject anyway, and a
    * true near-dup pair still surfaces through any of its other
    * `bands - 1` doc-specific bands. The over-cap set's anti-join
    * strategy is AQE's call (tiny in practice, never forced broadcast —
    * the Sampling cardinality lesson). `saltBucketSize > 1` additionally
    * routes under-cap buckets above that size through the shared
    * triangle-salted pair branch ([[saltedSelfPairs]]); off by default —
    * the cap already bounds per-bucket fanout corpus-independently (see
    * the inline note at the call).
    *
    * Caching: the signature table and the bucket-occupancy frame are
    * persisted (the former feeds the bucket explode and both verify
    * sides, the latter the over-cap anti-join build — plus the two hot
    * broadcast builds when salting is enabled) and stay cached after
    * the returned frame is consumed — callers running many corpora per
    * session should spark.catalog.clearCache() between batches (Bench does).
    * `sigs`: pass a pre-computed (and pre-persisted/materialized)
    * [[minhashSignatureTable]] and the caller owns its cache lifecycle;
    * (k, bands, shingleN) must match the table's build parameters.
    */
  def minhashNearDupPairs(
      df: DataFrame, idCol: String, textCol: String,
      k: Int = 64, bands: Int = 16, shingleN: Int = 3,
      minJaccard: Double = 0.8, maxBucketSize: Int = 1000,
      sigs: Option[DataFrame] = None, saltBucketSize: Int = 0): DataFrame = {
    require(bands > 0 && k % bands == 0,
      s"signature length k=$k must be a positive multiple of bands=$bands")
    require(maxBucketSize > 1, s"maxBucketSize must exceed 1: $maxBucketSize")
    require(saltBucketSize == 0 || saltBucketSize > 1,
      s"saltBucketSize must be 0 (off) or exceed 1: $saltBucketSize")
    val rowsPerBand = k / bands
    // staged projections (inside minhashSignatureTable): token hashes →
    // shingle hashes → signature. Each stage aliases a non-cheap
    // expression, so CollapseProject keeps the barriers and every stage is
    // computed exactly once per row. Shingle strings are never built —
    // everything runs on 64-bit hashes, and Jaccard is verified on them
    // too (identical result modulo collisions).
    val withSig = sigs.getOrElse(
      minhashSignatureTable(df, idCol, textCol, k, shingleN)
        .persist(StorageLevel.MEMORY_AND_DISK)) // reused by buckets + both verify sides

    val bucketed = withSig
      .select(col("doc_id"), explode(bandBuckets(col("sig"), bands, rowsPerBand)).as("bb"))
      // single 64-bit bucket key: the (band, bucket) pair hashed — a
      // collision merely merges two buckets' candidate sets, and the
      // exact-Jaccard verify filters any false candidate it adds
      .select(col("doc_id"), xxhash64(col("bb.band"), col("bb.bucket")).as("bkey"))

    // persisted ONLY when salting is on: the over-cap anti-join and the
    // salted branch's two hot broadcast builds each run as their own job,
    // and exchange reuse does not cross job boundaries — uncached, every
    // one re-aggregates the full band stream (measured: 5 redundant
    // occupancy shuffles at 50×). With salting off there is a single
    // consumer, and an unconditional persist would LEAK one cached frame
    // per call in any caller that runs it repeatedly in one session and
    // cannot clearCache between calls (a per-batch loop).
    val bucketCountsRaw = bucketed.groupBy(col("bkey")).agg(count(lit(1)).as("n"))
    val bucketCounts =
      if (saltBucketSize == 0) bucketCountsRaw
      else bucketCountsRaw.persist(StorageLevel.MEMORY_AND_DISK)
    val kept = bucketed.join(
      bucketCounts.filter(col("n") > maxBucketSize).select("bkey"),
      Seq("bkey"), "left_anti")
    // pair generation through the shared core. Salting is OFF by default
    // here, unlike jaccardPairs: an under-cap bucket's fanout is bounded
    // by maxBucketSize²/2 — a CORPUS-INDEPENDENT constant (measured
    // ~2.4 s for the worst admissible 500k-pair bucket), so the bound
    // does not degrade at scale, and a measured salt=100 run at 50×
    // added +575 MB of replication shuffle without moving the op's max
    // task (which sits in cache materialization, not pair generation).
    // Pass saltBucketSize > 1 when a tighter straggler bound matters
    // more than the replication (the candidate SET is salt-invariant).
    val candidates = saltedSelfPairs(
      kept.select(col("bkey").as("key"), col("doc_id").as("id")),
      bucketCounts.filter(col("n") <= maxBucketSize)
        .select(col("bkey").as("key"), col("n")),
      if (saltBucketSize == 0) Long.MaxValue else saltBucketSize,
      shufflePartitions(df))
      .distinct()

    val shA = withSig.select(col("doc_id").as("id_a"), col("hs").as("hs_a"))
    val shB = withSig.select(col("doc_id").as("id_b"), col("hs").as("hs_b"))
    candidates
      .join(shA, Seq("id_a"))
      .join(shB, Seq("id_b"))
      .withColumn("n_shared", size(array_intersect(col("hs_a"), col("hs_b"))))
      .withColumn("jaccard",
        col("n_shared").cast(DoubleType) /
          (size(col("hs_a")) + size(col("hs_b")) - col("n_shared")).cast(DoubleType))
      .filter(col("jaccard") >= minJaccard)
      .select("id_a", "id_b", "jaccard")
  }

  /** The (doc_id, hs, sig) MinHash signature frame `minhashNearDupPairs`
    * stages internally, as a public table: persist it to parquet for a
    * curated corpus and every future ingest batch dedups against the
    * persisted frame instead of re-tokenizing the corpus — the
    * signature-table analogue of `Similarity.saveCentroids`. Storage
    * honesty: `hs` (the full shingle-hash array, ~8 bytes per token) is the
    * same order of magnitude as the text itself — the win is NOT a smaller
    * table; it is skipping re-tokenization every batch and enabling the
    * two-sided bucket join (`minhashDedupAgainst`), whose exact-verify
    * stage genuinely needs `hs`. */
  def minhashSignatureTable(df: DataFrame, idCol: String, textCol: String,
      k: Int = 64, shingleN: Int = 3): DataFrame = df
    .select(col(idCol).as("doc_id"),
      TextFunctions.tokenHashes(col(textCol)).as("th"))
    .withColumn("hs", TextFunctions.shingleHashesFrom(col("th"), shingleN))
    .select(col("doc_id"), col("hs"),
      minhashSignatureFromHashes(col("hs"), k).as("sig"))

  /** LSH band-bucket table of a [[minhashSignatureTable]] frame: one
    * (doc_id, band, bucket) row per band per doc — the signature table's
    * companion INDEX. Persist it to parquet next to the signatures and
    * `minhashDedupAgainst` probes the pre-built buckets instead of
    * re-exploding the whole signature table every batch: per-batch cost
    * becomes O(batch + matching buckets), flat in corpus lifetime instead
    * of growing with the accumulated table's explode. (k, bands) must
    * match the signature table's parameters — same pinning contract. */
  def minhashBucketTable(sigs: DataFrame, k: Int = 64, bands: Int = 16): DataFrame = {
    require(bands > 0 && k % bands == 0,
      s"signature length k=$k must be a positive multiple of bands=$bands")
    sigs
      .select(col("doc_id"), explode(bandBuckets(col("sig"), bands, k / bands)).as("bb"))
      .select(col("doc_id"), col("bb.band"), col("bb.bucket"))
  }

  /** Incremental near-dup dedup: flag every document of a NEW batch that
    * near-duplicates the REFERENCE corpus — the growing-corpus operation
    * ("today's crawl vs everything curated so far") where re-clustering
    * the whole corpus per batch would be quadratic in corpus lifetime.
    *
    * `refSigs` is a [[minhashSignatureTable]] frame (load the persisted
    * one at scale; pass `minhashSignatureTable(referenceDf, ...)` to
    * compute it inline). Same LSH machinery as `minhashNearDupPairs` —
    * band buckets, (band, bucket)-keyed equi-join, exact shingle-hash
    * Jaccard verify — but the BATCH side is the broadcast build of every
    * probe join (its size is the operator's contract: a microbatch
    * against the accumulated corpus), so the reference index and
    * signature table only ever STREAM through column-pruned scans —
    * per-batch shuffle follows the batch, never the corpus, and never
    * pairs². Output: the batch plus `dup_of_ref` (smallest matching
    * reference id, null = genuinely new) and `is_new`.
    *
    * (k, bands, shingleN) must match the persisted table's parameters —
    * mismatched signatures bucket differently and silently flag nothing;
    * store the parameters next to the table (path naming or a sidecar)
    * the way the centroid model does.
    *
    * `refBuckets`: pass the persisted [[minhashBucketTable]] index and the
    * reference side skips its per-batch band explode entirely — the probe
    * reads the pre-built (band, bucket) rows, so per-batch cost stops
    * growing with corpus lifetime (the explode otherwise re-runs over the
    * whole accumulated table each batch). The batch's signature table is
    * persisted internally and stays cached for the session. */
  def minhashDedupAgainst(
      batch: DataFrame, refSigs: DataFrame, idCol: String, textCol: String,
      k: Int = 64, bands: Int = 16, shingleN: Int = 3,
      minJaccard: Double = 0.8,
      refBuckets: Option[DataFrame] = None): DataFrame = {
    require(bands > 0 && k % bands == 0,
      s"signature length k=$k must be a positive multiple of bands=$bands")
    val b = minhashSignatureTable(batch, idCol, textCol, k, shingleN)
      .persist(StorageLevel.MEMORY_AND_DISK) // buckets + verify probe
    // materialize the cache NOW: with exact InMemoryRelation stats the
    // planner picks a broadcast hash join for the candidates probe with
    // the batch side as build — the REFERENCE bucket index then streams
    // through its scan with NO exchange, which is the whole point of a
    // persisted index (an unmaterialized cache estimates from the base
    // scan, plans a sort-merge join, and shuffles the index every
    // batch — measured 230 MB/batch at ScaleBench 50×)
    b.count()
    val standing = lit(true)
    val dupOf = minhashMatches(b, refSigs.withColumn("standing", standing),
      refBuckets.getOrElse(minhashBucketTable(refSigs, k, bands))
        .withColumn("standing", standing),
      k, bands, minJaccard)
    batch.join(dupOf.withColumnRenamed("doc_id", idCol), Seq(idCol), "left")
      .withColumn("is_new", col("dup_of_ref").isNull)
  }

  /** The one MinHash probe: the verified matches of a batch's signatures
    * against reference rows that carry a `standing` flag — (`doc_id`,
    * `band`, `bucket`, `standing`) buckets and (`doc_id`, `hs`,
    * `standing`) signatures. A standing reference row is always a
    * candidate; a row of the batch itself (`standing = false`) only when
    * its id is SMALLER than the probing doc's, the min-id keeper inside
    * one batch. The flag, not the id, tells the two apart: the verify
    * joins on (id, `standing`), so a standing doc re-offered under its
    * own id meets its standing copy and never its batch self.
    * [[minhashDedupAgainst]] passes an all-standing reference; the
    * streaming text commit passes the standing tables ∪ the batch.
    *
    * Returns (`doc_id`, `dup_of_ref` = smallest verified ref id), one row
    * per batch doc with a match. */
  private[graft] def minhashMatches(batchSigs: DataFrame, refSigs: DataFrame,
      refBuckets: DataFrame, k: Int, bands: Int, minJaccard: Double): DataFrame = {
    // The BATCH side is broadcast BY HINT, not left to the planner: the
    // operator's contract is batch ≪ corpus (a microbatch against the
    // accumulated table), so the build side is caller-bounded — this is
    // NOT the unbounded-cardinality case where a forced broadcast risks
    // the driver (capPerGroup's over-cap set). The hint matters because
    // AQE's runtime conversion is too late: by the time the batch side's
    // size is known, the INDEX side's shuffle map stage has already
    // written its files (measured: 230 MB of index shuffle per batch at
    // ScaleBench 50× with the conversion, ~zero with the static hint).
    // With the hint the reference bucket index only ever STREAMS through
    // its column-pruned scan — per-batch shuffle follows the batch.
    val candidates = refBuckets.as("o")
      .join(broadcast(minhashBucketTable(batchSigs, k, bands)).as("n"),
        col("n.band") === col("o.band") && col("n.bucket") === col("o.bucket") &&
          (col("o.standing") || col("o.doc_id") < col("n.doc_id")))
      .select(col("n.doc_id").as("batch_id"), col("o.doc_id").as("ref_id"),
        col("o.standing").as("standing"))
      .distinct()
    // the verify side is PRUNED to candidate ref ids BEFORE the wide hs
    // column joins: without the semi-join the verify shuffles the WHOLE
    // signature table's shingle arrays every batch (measured 456 MB/batch
    // at ScaleBench 50× — identical to the no-index path, swallowing the
    // bucket index's entire win); with it the table contributes only its
    // matching rows, so per-batch bytes follow the candidate set.
    // Broadcast by hint for the same static-vs-AQE-timing reason as the
    // candidates join above — the id set is (batch × matches)-sized,
    // 8 bytes per id, under the same microbatch contract.
    val refNeeded = refSigs
      .select(col("doc_id").as("ref_id"), col("standing"), col("hs").as("hs_r"))
      .join(broadcast(candidates.select("ref_id", "standing").distinct()),
        Seq("ref_id", "standing"), "left_semi")
    candidates
      .join(batchSigs.select(col("doc_id").as("batch_id"), col("hs").as("hs_b")),
        Seq("batch_id"))
      .join(refNeeded, Seq("ref_id", "standing"))
      .withColumn("n_shared", size(array_intersect(col("hs_b"), col("hs_r"))))
      .filter(col("n_shared").cast(DoubleType) /
        (size(col("hs_b")) + size(col("hs_r")) - col("n_shared")).cast(DoubleType)
          >= minJaccard)
      .groupBy(col("batch_id").as("doc_id"))
      .agg(min(col("ref_id")).as("dup_of_ref"))
  }

  /** 64-bit SimHash per document — a pure map operator, zero shuffle:
    * tokenize → hash each token → native simhash64 kernel
    * (graft.expressions.SimHash64, a codegen'd Catalyst expression). The
    * earlier built-in-only formulation (explode + 64 conditional-sum
    * aggregates) shuffled the whole token stream; identical outputs,
    * except empty documents now yield simhash 0 instead of dropping out. */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("doc_id"),
        TextFunctions.tokenHashes(col(textCol)).as("hs"))
      .select(col("doc_id"), SimHash64.simhash64(col("hs")).as("simhash"))

  /** SimHash near-dup pairs. Two blocking regimes, both of which only ever
    * join on EXACT 16-bit-or-wider keys (≥ 65k buckets), so candidate
    * counts stay ~n²/2¹⁶ per block — the shape that survives 100×:
    *
    *  - `maxHamming ≤ 3`: pigeonhole — split the 64 bits into maxHamming+1
    *    chunks (width ≥ 16); a pair within budget must agree exactly on
    *    some chunk.
    *  - `maxHamming ≥ 4`: multi-index blocking (the rotate-and-probe design
    *    of Hamming-space multi-index hashing, cf. Norouzi et al., "Fast
    *    Search in Hamming Space with Multi-Index Hashing", CVPR 2012): 4
    *    chunks of 16 bits with per-chunk budget b = maxHamming/4 — if every
    *    chunk disagreed in > b bits the total would exceed 4(b+1) >
    *    maxHamming, so some chunk is within b; the PROBE side expands each
    *    chunk value to its ≤ b-bit-flip neighborhood (Σᵢ≤b C(16,i) keys:
    *    17 at b=1, 137 at b=2) and meets the index side on an exact key.
    *    Probe-row amplification is a constant factor on a narrow (id,
    *    chunk, key) stream; bucket occupancy stays n/2¹⁶ — unlike the
    *    earlier naive pigeonhole at budget 6, whose 9-bit chunks made the
    *    candidate join O(n²/512).
    *
    * Verification is exact either way: bit_count(xor) ≤ maxHamming.
    * Budgets above 15 are rejected — at that distance simhash "near-dup"
    * is semantically meaningless and the probe neighborhoods explode.
    *
    * `maxBlockSize` is the hot-block guard, the simhash face of
    * [[minhashNearDupPairs]]'s hot-bucket cap: corpus-wide boilerplate
    * pulls many docs' sketches toward the same bit pattern, so one
    * (chunk, value) block can hold thousands of docs and its self-join
    * goes quadratic. Over-cap blocks are dropped from pair generation;
    * a true near-dup pair still meets on any of its other chunks (a pair
    * within the Hamming budget agrees on ≥ 1 chunk by pigeonhole, and
    * boilerplate-dominated agreement concentrates in the hot blocks). */
  def simhashNearDupPairs(
      df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, maxBlockSize: Int = 1000): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 15,
      s"maxHamming out of range [0, 15]: $maxHamming")
    require(maxBlockSize > 1, s"maxBlockSize must exceed 1: $maxBlockSize")
    // The (id, simhash) frame is PERSISTED — 16 bytes/doc, the cheapest
    // cacheable thing in the engine — because it feeds both join sides
    // with different downstream shapes (mask explode + repartition on the
    // probe side), so exchange reuse can't kick in, and without a cache
    // boundary Catalyst alias-substitutes the full tokenize+simhash into
    // each side's isnotnull join filter too: measured 4 full evaluations
    // of the text pipeline per row at sf0.1 (7.1 s), 1 with the cache
    // (2.1 s). Stays cached after the result is consumed — callers
    // running many corpora per session should clearCache between batches
    // (Bench does).
    val sigs = simhash(df, idCol, textCol).persist(StorageLevel.MEMORY_AND_DISK)
    hash64NearDupPairs(sigs, maxHamming, maxBlockSize, sizeByVolume = true)
  }

  /** Banded Hamming-ball pairing core over ANY (`doc_id`, `simhash`)
    * 64-bit signature frame — the engine shared by [[simhashNearDupPairs]]
    * (text SimHash) and `Multimodal.imageNearDupPairs` (DCT perceptual
    * hashes): chunk the 64 bits, bucket-join on chunk values (with the
    * ≤ budget bit-flip mask explode when maxHamming exceeds the chunk
    * count), guard hot blocks, verify with a codegen'd `bit_count` in the
    * join projection. Callers persist `sigs` when it feeds both sides
    * from a recomputed lineage (the SimHash caller's measured 4×-eval
    * lesson); a parquet-backed signature frame needs no cache. */
  private[graft] def hash64NearDupPairs(sigs: DataFrame,
      maxHamming: Int, maxBlockSize: Int, sizeByVolume: Boolean): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 15,
      s"maxHamming out of range [0, 15]: $maxHamming")
    require(maxBlockSize > 1, s"maxBlockSize must exceed 1: $maxBlockSize")
    val (nChunks, budget) =
      if (maxHamming <= 3) (maxHamming + 1, 0) else (4, maxHamming / 4)
    def lo(c: Int) = c * 64 / nChunks
    val chunked = sigs.select(col("doc_id"), col("simhash"),
      explode(array((0 until nChunks).map { c =>
        val w = lo(c + 1) - lo(c)
        val mask = if (w >= 64) -1L else (1L << w) - 1
        struct(lit(c).as("chunk"),
          shiftright(col("simhash"), lo(c)).bitwiseAND(lit(mask)).as("v"))
      }: _*)).as("cb"))
      .select(col("doc_id"), col("simhash"), col("cb.chunk"), col("cb.v"))
      // hot-block guard (see scaladoc): occupancy rides the same
      // (chunk, v) keys; the over-cap set is AQE's to size, never forced
    val occupancyAgg = chunked.groupBy(col("chunk"), col("v"))
      .agg(count(lit(1)).as("__n"))
    val occupancy =
      if (sizeByVolume) occupancyAgg.persist(StorageLevel.MEMORY_AND_DISK)
      else occupancyAgg
    val hotBlocks = occupancy
      .filter(col("__n") > maxBlockSize)
      .select("chunk", "v")
    // predicted candidate volume (Σ n² over kept blocks) sizes the probe
    // width — the jaccardPairs rule: below the cap, blocks FILL as the
    // corpus grows (measured on the 100× skew corpus: 158M → 372M
    // candidates for 2× data as boilerplate blocks approach the cap), so
    // a session-width probe concentrates millions of candidate rows per
    // task; width ∝ predicted volume keeps the verify grain constant.
    // One single-row driver agg, the model-class collect — but an EXTRA
    // ACTION, which re-executes whatever lineage `sigs` carries:
    // callers whose signatures are cheap to (re)materialize — text
    // SimHash over a cached projection, a parquet-backed signature
    // table — turn it on; the decode-bound in-line image and audio
    // pairers (`Multimodal.imageNearDupPairs`/`audioNearDupPairs`) leave
    // it off (measured +1.6 s on the audio gate from the extra decode
    // pass alone).
    val candidateInstances =
      if (!sizeByVolume) 0L
      else occupancy
        .filter(col("__n") <= maxBlockSize)
        .agg(coalesce(sum(col("__n") * col("__n")), lit(0L)))
        .head.getLong(0)
    val keptChunks = chunked.join(hotBlocks, Seq("chunk", "v"), "left_anti")
    // Pair-join scale guards (measured at sf0.1):
    //  - hamming is computed and filtered in the join projection — both
    //    hashes are on the joined row, so the codegen'd bit_count runs
    //    over the candidate stream and only survivors shuffle further
    //    (Catalyst pushes the filter into the join condition);
    //  - the PROBE side is round-robin repartitioned: on small inputs
    //    Spark picks a broadcast hash join whose streamed side inherits
    //    the scan's partitioning — a single small parquet file = 1-2
    //    partitions = the whole O(Σ bucket²) pair generation on 1-2
    //    cores (measured 6.3s -> 1.6s at sf0.1 from this alone). A plain
    //    repartition also spreads hot buckets' rows evenly, where a
    //    (chunk, v) hash partitioning would concentrate their quadratic
    //    work. At cluster scale the join degrades to sort-merge and AQE's
    //    skew split takes over; the extra shuffle is chunk-stream-sized.
    //  - the ≤ budget-bit-flip mask explode (17× rows at budget 1, 137×
    //    at 2) runs AFTER that repartition, map-side: the shuffle moves
    //    the narrow 4-rows/doc chunk stream, never the amplified probe
    //    stream. Chunk widths are uniform when budget > 0 (64/4 = 16),
    //    so one mask set serves all chunks.
    // occupancy stays cached under the SAME release contract as the
    // callers' sigs persist: the result plan's anti-join reads it again,
    // so an eager unpersist here would force the main job to recompute
    // the whole occupancy agg. Nothing in this function can release it
    // (the handle dies with this scope while the plan still needs it) —
    // so the CALLER owns the release: batch callers running many corpora
    // per session clearCache between batches (Bench does; one cached agg
    // per corpus otherwise accumulates for the session lifetime), and a
    // long-lived streaming loop calling this core must pass
    // sizeByVolume=false (streaming sinks probe through
    // `hash64Matches` instead, which caches nothing)
    val width = math.max(shufflePartitions(sigs),
      math.min(16384L, candidateInstances / 1000000L + 1).toInt)
    val repartitioned = keptChunks.repartition(width)
    val probe =
      if (budget == 0) repartitioned
      else {
        val width = 64 / nChunks
        val masks: Seq[Long] = (0 to budget).flatMap(k =>
          (0 until width).combinations(k).map(_.foldLeft(0L)((m, b) => m | (1L << b))))
        repartitioned.select(col("doc_id"), col("simhash"), col("chunk"),
          explode(array(masks.map(m => col("v").bitwiseXOR(lit(m))): _*)).as("v"))
      }
    probe.as("a")
      .join(keptChunks.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.v") === col("b.v") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
      .select("id_a", "id_b", "hamming")
  }

  /** Bucket index over a (`doc_id`, `modality`, `simhash`) signature
    * frame for batch-vs-reference Hamming probing: one row per 16-bit
    * chunk value — (`modality`, `chunk`, `v`, `doc_id`, `simhash`), the
    * persisted artifact an incremental media-dedup stream maintains (the
    * 64-bit analogue of [[minhashBucketTable]]). `modality` leads the
    * key, so signatures of different modalities never share a bucket.
    * Multi-index hashing (Norouzi et al. 2012): any two hashes within
    * Hamming distance h agree exactly on some chunk after at most
    * ⌊h/4⌋ bit flips, so probing 4 chunk tables with a flip budget finds
    * every neighbor. */
  def hash64BucketTable(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"), col("modality"), col("simhash"),
        explode(array((0 until 4).map { c =>
          struct(lit(c).as("chunk"),
            shiftright(col("simhash"), c * 16).bitwiseAND(lit(0xffffL)).as("v"))
        }: _*)).as("cb"))
      .select(col("modality"), col("cb.chunk").as("chunk"), col("cb.v").as("v"),
        col("doc_id"), col("simhash"))

  /** Hot-bucket cap of [[hash64Matches]]: a STANDING reference
    * (`modality`, `chunk`, `v`) bucket holding more rows is dropped from
    * candidate generation (with 16-bit chunks a billion-row index
    * averages thousands per bucket — the cap bounds the pathological
    * ones; documented recall tradeoff, same contract as the pairing
    * core's hot-block guard). */
  private val Hash64MaxBucketSize = 100000

  /** Batch-vs-reference Hamming dedup over 64-bit signatures — the
    * incremental face of [[hash64NearDupPairs]], mirroring
    * [[minhashDedupAgainst]]'s contract: a bounded batch of (`doc_id`,
    * `modality`, `simhash`) signatures probes the STANDING
    * [[hash64BucketTable]] index (today's media against everything
    * kept), O(batch × bucket occupancy), never pairs². The join key is
    * (`modality`, `chunk`, `v`), so every modality is probed in the one
    * join and no signature ever matches one of another modality.
    *
    * Returns one row per (`doc_id`, `modality`): (`doc_id`, `modality`,
    * `dup_of_ref` = min matching ref id or null, `hamming` of that
    * match or null, `is_new`). */
  def hash64DedupAgainst(batchSigs: DataFrame, refBuckets: DataFrame,
      maxHamming: Int = 8): DataFrame =
    batchSigs.select(col("doc_id"), col("modality"))
      .join(hash64Matches(batchSigs,
          refBuckets.withColumn("standing", lit(true)), maxHamming),
        Seq("doc_id", "modality"), "left")
      .withColumn("is_new", col("dup_of_ref").isNull)

  /** The one 64-bit Hamming probe, the [[minhashMatches]] rule over
    * [[hash64BucketTable]] rows that carry a `standing` flag: a standing
    * reference row is always a candidate, a row of the batch itself only
    * when its id is smaller than the probing doc's.
    *
    * The batch side explodes each signature's 4 chunks through the
    * ≤ ⌊maxHamming/4⌋ bit-flip mask set and is broadcast BY HINT (the
    * microbatch contract — same static-vs-AQE timing reason as the
    * minhash probe); the reference index only ever streams through its
    * column-pruned scan. Exact `bit_count` verify on the joined row.
    * Over-cap buckets ([[Hash64MaxBucketSize]]) are counted on, and
    * dropped from, the standing rows only.
    *
    * Returns (`doc_id`, `modality`, `dup_of_ref` = min verified ref id,
    * `hamming` of that match), one row per matched (`doc_id`,
    * `modality`). */
  private[graft] def hash64Matches(batchSigs: DataFrame, refBuckets: DataFrame,
      maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 15,
      s"maxHamming out of range [0, 15]: $maxHamming")
    val budget = maxHamming / 4
    val masks: Seq[Long] = (0 to budget).flatMap(k =>
      (0 until 16).combinations(k).map(_.foldLeft(0L)((m, b) => m | (1L << b))))
    val hot = refBuckets.filter(col("standing"))
      .groupBy(col("modality"), col("chunk"), col("v"))
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") > Hash64MaxBucketSize)
      .select(col("modality"), col("chunk"), col("v"), lit(true).as("standing"))
    val kept = refBuckets.join(hot, Seq("modality", "chunk", "v", "standing"), "left_anti")
    val probe = hash64BucketTable(batchSigs)
      .select(col("doc_id"), col("modality"), col("simhash"), col("chunk"),
        explode(array(masks.map(m => col("v").bitwiseXOR(lit(m))): _*)).as("v"))
    kept.as("o")
      .join(broadcast(probe).as("n"), col("n.modality") === col("o.modality") &&
        col("n.chunk") === col("o.chunk") && col("n.v") === col("o.v") &&
        (col("o.standing") || col("o.doc_id") < col("n.doc_id")))
      .select(col("n.doc_id").as("doc_id"), col("n.modality").as("modality"),
        col("o.doc_id").as("ref_id"),
        bit_count(col("n.simhash").bitwiseXOR(col("o.simhash"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .groupBy(col("doc_id"), col("modality"))
      .agg(min(struct(col("ref_id"), col("hamming"))).as("m"))
      .select(col("doc_id"), col("modality"), col("m.ref_id").as("dup_of_ref"),
        col("m.hamming").as("hamming"))
  }

  /** Connected components over an undirected pair list — the step that
    * turns near-dup PAIRS (minhash/simhash/ngram/embedding output) into
    * dedup CLUSTERS with a canonical keeper (the component's min id).
    *
    * Algorithm: iterative min-label propagation to a fixpoint — each round
    * every vertex takes the min label among itself and its neighbors
    * (label rows flow along edges in both directions, then a min-agg per
    * vertex). Rounds = graph diameter; near-dup graphs are shallow (dup
    * clusters are cliques-ish), so 2-4 rounds typical. Each round is one
    * join + one partial-agg shuffle on vertex id.
    *
    * Every round's result is checkpointed LAZILY, then materialized by the
    * round's single convergence-count action: `labels` feeds its successor
    * twice (directly and via the edge join), so an un-truncated lineage
    * doubles per round — 2^rounds plan nodes, a planner OOM by depth ~12.
    * The previous label is carried THROUGH the min-agg (`min(label) FILTER
    * (is_self)` — each vertex contributes its own label exactly once), so
    * convergence is a filter-count over the just-materialized blocks in the
    * SAME job, not a second join pass per round (the round-2 shape ran two
    * jobs per round: an eager checkpoint, then a labels-vs-prev join).
    *
    * `checkpointDir`: unset → `localCheckpoint` (executor-local blocks —
    * fastest, but lost blocks are unrecoverable on a real cluster, the
    * GraphFrames-CC tradeoff). Set → reliable `checkpoint` into that
    * directory (survives executor loss; one extra checkpoint-write job per
    * round, the price of durability; files accumulate for the session —
    * point it at a job-scoped temp path).
    *
    * Terminates when no label changes, or after `maxIter` rounds with a
    * WARNING — a component whose diameter exceeds `maxIter` would be
    * silently split otherwise (min-label propagation needs diameter
    * rounds); callers clustering pathological chain graphs should raise it.
    *
    * Output: (id, component) — component = min id reachable; isolated
    * vertices of `vertices` keep their own id. Edge endpoints absent from
    * `vertices` are covered too: they enter via their neighbors' label
    * rows (their first labeling is null-safe-counted as progress, see the
    * convergence check below). Deterministic. */
  def connectedComponents(
      edges: DataFrame, vertices: DataFrame,
      idCol: String = "id", aCol: String = "id_a", bCol: String = "id_b",
      maxIter: Int = 25, checkpointDir: Option[String] = None): DataFrame = {
    val spark = vertices.sparkSession
    checkpointDir.foreach(spark.sparkContext.setCheckpointDir)
    def truncate(df: DataFrame): DataFrame =
      if (checkpointDir.isDefined) df.checkpoint(eager = false)
      else df.localCheckpoint(eager = false)
    // symmetric edge list, ids only
    val sym = edges.select(col(aCol).as("src"), col(bCol).as("dst"))
      .union(edges.select(col(bCol).as("src"), col(aCol).as("dst")))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    var labels = truncate(vertices.select(col(idCol).as("id"), col(idCol).as("label")))
    var prevCk = labels
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val viaEdges = labels.join(sym, col("id") === col("src"))
        .select(col("dst").as("id"), col("label"), lit(false).as("is_self"))
      val next = truncate(
        labels.select(col("id"), col("label"), lit(true).as("is_self"))
          .union(viaEdges)
          .groupBy(col("id")).agg(
            min(col("label")).as("label"),
            min(when(col("is_self"), col("label"))).as("prev")))
      // the ONE action per round: materializes the lazy checkpoint and
      // reads the convergence flag off the same pass. Null-safe compare:
      // an edge endpoint absent from `vertices` has prev = NULL in its
      // first round (no is_self row yet) — it just gained its first label,
      // which MUST count as progress or a round whose only movement is
      // labeling such vertices would be read as converged.
      val changed = next.filter(!(col("label") <=> col("prev"))).count()
      prevCk.unpersist()
      prevCk = next
      labels = next.select(col("id"), col("label"))
      converged = changed == 0
      iter += 1
    }
    if (!converged)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"connectedComponents stopped at maxIter=$maxIter without converging: " +
          "components wider than maxIter hops are SPLIT in the output; " +
          "raise maxIter for long-chain graphs")
    sym.unpersist()
    labels.withColumnRenamed("label", "component")
  }

  /** Pick the canonical survivor of each dedup cluster by QUALITY instead
    * of by id: given per-doc cluster labels (connectedComponents output
    * joined back to the corpus) and a numeric quality column, keep the
    * highest-score member (ties → lowest id, so the choice is total and
    * deterministic). This is the "which twin do we actually train on"
    * stage between near-dup clustering and the final corpus — keeping the
    * longest / highest-quality version instead of whichever hashed first.
    *
    * Output: the input rows plus `keeper_id` (the cluster's survivor) and
    * `is_keeper`; filter on `is_keeper` for the deduped corpus, or keep
    * the full frame for dedup provenance (who was dropped for whom).
    *
    * Scale shape: the argmax is ONE min-struct aggregation on the
    * component key — map-side partial, a few bytes per cluster, no window
    * sort — and the join back rides the same component-keyed exchange.
    * Singleton clusters (the overwhelming majority of a real corpus) cost
    * one agg row each; nothing is quadratic in cluster size. */
  def clusterKeepers(membership: DataFrame, idCol: String,
      componentCol: String, scoreCol: String): DataFrame = {
    val keeper = membership.groupBy(col(componentCol))
      .agg(min(struct((-col(scoreCol)).as("neg_score"),
        col(idCol).as("id"))).as("k"))
      .select(col(componentCol), col("k.id").as("keeper_id"))
    membership.join(keeper, Seq(componentCol))
      .withColumn("is_keeper", col(idCol) === col("keeper_id"))
  }

  /** Ordered same-key candidate pairs (id_a < id_b) from a keyed row
    * stream — the shared pair-generation core of [[jaccardPairs]] and
    * [[minhashNearDupPairs]], with triangle-salted splitting of hot keys.
    *
    * `rows` is (key: long, id); `counts` is (key, n) for every ADMITTED
    * key (over-cap keys must already be gone from `rows`). HOT keys
    * (n > saltThreshold) amplify: one key at n rows fans out to n²/2
    * pairs, and AQE's skew handling can't see it — skew split is
    * INPUT-bytes-based, and a 1000-row key producing 500k pairs looks
    * tiny on input (measured: a 98× max/median task ratio on the
    * boilerplate ScaleBench corpus for jaccard, whose admitted df cap
    * is a tunable that real corpora push high). They take a
    * triangle-salted self-join: the probe side gets a row salt in
    * [0, ceil(n/saltThreshold)), the build side replicates once per salt
    * value, and each pair meets exactly once (at the probe row's salt) —
    * one key's pair generation spreads over ~n/saltThreshold tasks. The
    * replication is n/saltThreshold copies of n rows per key — O(n²/T),
    * always ≤ the pair output it enables. Cold keys (the overwhelming
    * majority) pay nothing. The pair MULTISET is identical either way,
    * so results don't depend on the salt (the row salt itself is
    * position-derived, same contract as SkewOps.rowSalt).
    *
    * Both join sides are hash-repartitioned ON THE JOIN KEYS at `width`:
    * the join reuses the distribution (no second shuffle), and the cold
    * self-join's sides share one canonicalized exchange (ReusedExchange).
    * Explicit widening also defeats the degenerate case where an
    * under-threshold stream broadcasts and pair generation streams
    * serially at the scan's partition count. */
  private def saltedSelfPairs(rows: DataFrame, counts: DataFrame,
      saltThreshold: Long, width: Int): DataFrame = {
    // salting disabled → the hot set is empty BY CONSTRUCTION; skip the
    // anti-join/replicate/union machinery instead of planning empty
    // branches (an empty broadcast + two empty exchanges still cost
    // plan and stage overhead per call).
    //
    // The probe side is keyed-repartitioned ONLY when the caller's
    // predicted-volume width exceeds the session width — i.e. when pair
    // generation genuinely needs more grain than any exchange the
    // planner would produce anyway (jaccardPairs' regime). At
    // width == session width the explicit exchange is pure constant: a
    // small input loses the broadcast-only plan (the r7→r8 minhash
    // regression, ~0.4-0.8 s/call at sf0.1), and a large one gets the
    // identical conf-width co-partitioned SMJ from EnsureRequirements
    // with no user exchange at all. When the widen DOES fire it stays
    // one-sided: repartitioning both sides double-pays under a
    // broadcast, and past the threshold the planner completes the build
    // side with the matching hashpartitioning(key, width) exchange.
    if (saltThreshold == Long.MaxValue) {
      val probe =
        if (width > shufflePartitions(rows)) rows.repartition(width, col("key"))
        else rows
      return probe.as("a")
        .join(rows.as("b"),
          col("a.key") === col("b.key") && col("a.id") < col("b.id"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    }
    val hot = counts.filter(col("n") > saltThreshold)
    val coldRows = rows.join(broadcast(hot.select("key")), Seq("key"), "left_anti")
    val hotRows = rows.join(broadcast(hot), Seq("key"))
      .withColumn("n_salt", ceil(col("n").cast(DoubleType) / saltThreshold).cast(LongType))
    val hotA = hotRows.select(col("key"), col("id"),
      pmod(xxhash64(monotonically_increasing_id()), col("n_salt")).as("salt"))
      .repartition(width, col("key"), col("salt"))
    val hotB = hotRows.select(col("key"), col("id"),
      explode(sequence(lit(0L), col("n_salt") - 1)).as("salt"))
      .repartition(width, col("key"), col("salt"))
    val hotPairs = hotA.as("a")
      .join(hotB.as("b"),
        col("a.key") === col("b.key") && col("a.salt") === col("b.salt") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    val coldKeyed = coldRows.repartition(width, col("key"))
    val coldPairs = coldKeyed.as("a")
      .join(coldKeyed.as("b"),
        col("a.key") === col("b.key") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    coldPairs.union(hotPairs)
  }

  /** Exact n-gram Jaccard pairs via inverted index (no LSH approximation):
    * count doc frequency per shingle, drop stop shingles (df > maxDocFreq),
    * group surviving postings by shingle hash, emit doc pairs inside each
    * group, count shared shingles per pair, Jaccard from kept-set sizes.
    *
    * Plan shape, scale-first:
    *  - doc frequency is a COUNT-ONLY aggregation (map-side partial, a few
    *    bytes per key) — no posting list is ever materialized for a hot
    *    shingle, so boilerplate can't blow up executor memory;
    *  - stop shingles (df > maxDocFreq) are by construction a tiny set →
    *    broadcast anti-join removes them from the posting stream with no
    *    extra shuffle of that stream;
    *  - `collect_list` then only ever sees groups of ≤ maxDocFreq docs, so
    *    the hottest pair-generation key is bounded at cap·(cap−1)/2;
    *  - per-doc kept-set size is the count of the doc's kept postings —
    *    one tiny aggregate whose runtime size AQE can see, so the final
    *    size joins broadcast whenever the doc table allows it.
    * Sizes count the SAME capped shingle set as the pair counts, so exact
    * duplicates stay at Jaccard 1.0 when the cap bites. The per-doc shingle
    * frame and the df-stats frame are persisted (multiple consumers each);
    * callers running many corpora per session should
    * spark.catalog.clearCache() between batches (Bench does). */
  def jaccardPairs(
      df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, minJaccard: Double = 0.5,
      maxDocFreq: Long = 1000L, saltDocFreq: Long = 100L): DataFrame = {
    require(saltDocFreq > 1, s"saltDocFreq must exceed 1: $saltDocFreq")
    val docShingles = df.select(
      col(idCol).as("doc_id"),
      TextFunctions.tokenHashes(col(textCol)).as("th"))
      .select(col("doc_id"),
        TextFunctions.shingleHashesFrom(col("th"), shingleN).as("hs"))
      .persist(StorageLevel.MEMORY_AND_DISK) // feeds postings ×2 + totals

    val postings = docShingles.select(col("doc_id"), explode(col("hs")).as("sh"))
    // persisted: the stop/hot broadcast builds below each run as their own
    // broadcast-exchange job, and exchange reuse does not cross job
    // boundaries — uncached, every build re-shuffles the whole posting
    // stream for this one aggregate (measured: 3 redundant full-corpus
    // map stages at 50×)
    val dfs = postings.groupBy(col("sh")).agg(count(lit(1)).as("df"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val stopShingles = dfs.filter(col("df") > maxDocFreq).select("sh")

    // Pair-stage width from PREDICTED pair volume, not the static session
    // conf: Σ df·(df−1) over admitted shingles is (twice) the exact count
    // of pair instances the self-joins will emit, known before they run.
    // A fixed width makes per-task pair work grow linearly with the
    // corpus (measured: balanced but 22 s tasks at 50× — and they'd be
    // 7 min at 1000×); sizing tasks to ~constant pair volume keeps the
    // stage's grain flat at any scale. The estimate is one count-only
    // aggregate over the (persisted) df stats — corpus-independent cost.
    val pairInstances = dfs.filter(col("df") <= maxDocFreq)
      .agg(coalesce(sum(col("df") * (col("df") - lit(1))), lit(0L)))
      .head.getLong(0) / 2
    // grain is set by the pair CONSUMER (hash-agg + verify + sink, ~µs per
    // instance), not the emit side — 4M-instance tasks measured ~20 s with
    // GBs of agg hash spill on the skew corpus at 50×
    val pairsPerTask = 1000000L
    val width = math.max(shufflePartitions(df),
      math.min(16384L, pairInstances / pairsPerTask + 1).toInt)

    // in-group ordered pairs via self-equi-join on the shingle hash: both
    // sides are the identical sub-plan, so the shuffle happens once and the
    // second side is a ReusedExchange; the join itself is codegen'd (the
    // earlier collect_list + nested-lambda pair explode ran interpreted —
    // higher-order functions are CodegenFallback — and built per-key arrays
    // that AQE can't split).
    val kept = postings.join(broadcast(stopShingles), Seq("sh"), "left_anti")

    // The aggregate's own exchange would run at the SESSION width whatever
    // `width` says (EnsureRequirements plans conf partitions; AQE only
    // coalesces) — measured at skew 50× as the whole-op hot spot: the
    // ~135M-instance pair stream funneled into 32 perfectly-balanced
    // ~20 s tasks (final agg + verify joins + sink in one stage) with
    // 2.2 GB of hash-agg spill. Repartitioning ON the group keys at the
    // predicted-volume width replaces that exchange (the distribution
    // satisfies the agg, so no second shuffle) and bounds each task's
    // hash table at ~pairsPerTask entries — flat grain at any scale.
    // …but only when the predicted width EXCEEDS the session width: at
    // width == conf the agg's own exchange lands on the identical
    // distribution anyway AND keeps map-side partial aggregation (pairs
    // sharing several shingles pre-combine before the shuffle) — the
    // explicit repartition there trades that compression for nothing
    // (measured ~0.4 s/call at sf0.1, the same conditional-widen rule as
    // saltedSelfPairs' probe side).
    val rawPairs = saltedSelfPairs(
      kept.select(col("sh").as("key"), col("doc_id").as("id")),
      dfs.filter(col("df") <= maxDocFreq).select(col("sh").as("key"), col("df").as("n")),
      saltDocFreq, width)
    val pairsKeyed =
      if (width > shufflePartitions(df))
        rawPairs.repartition(width, col("id_a"), col("id_b"))
      else rawPairs
    val shared = pairsKeyed
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"))

    // per-doc kept-set size = count of the doc's kept postings (hs is
    // distinct per doc, so this IS |shingles \ stop|). Aggregated — not
    // computed map-side off the cached shingle table — so the frame sits
    // behind an exchange and AQE sees its true one-row-per-doc size when
    // planning the joins below: the map-side formulation carried the
    // cached array-column table's stats, which (once the width estimate
    // materialized the cache) flipped these joins to sort-merge and
    // re-shuffled the whole pair stream twice (measured: +3.7 GB shuffle).
    // Docs with every shingle stopped drop out, but they have no kept
    // postings and so no pairs — the inner joins lose nothing.
    val sizes = kept.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))

    shared
      .join(sizes.withColumnRenamed("doc_id", "id_a").withColumnRenamed("sz", "sz_a"), Seq("id_a"))
      .join(sizes.withColumnRenamed("doc_id", "id_b").withColumnRenamed("sz", "sz_b"), Seq("id_b"))
      .withColumn("jaccard",
        col("n_shared").cast(DoubleType) /
          (col("sz_a") + col("sz_b") - col("n_shared")).cast(DoubleType))
      .filter(col("jaccard") >= minJaccard)
      .select("id_a", "id_b", "jaccard")
  }

  /** Duplicated-SPAN detection — the exact-substring signal of Lee et al.
    * 2022 ("Deduplicating Training Data Makes Language Models Better":
    * repeated ≥50-token substrings across a corpus are memorization fuel
    * that document-level dedup can't see), re-expressed as Spark-native
    * window fingerprinting instead of their single-node suffix array: a
    * sliding `windowTokens`-token fingerprint per position, one count
    * shuffle on the fingerprint to find windows occurring more than once
    * corpus-wide, and a per-doc islands merge (pos − row_number) that
    * collapses overlapping duplicated windows into maximal spans.
    *
    * Output: (doc_id, span_start, span_end, n_windows) — 1-based token
    * positions, inclusive; every span is a maximal run of duplicated
    * windows in that document. Downstream can cut the spans (keeping one
    * global occurrence) or use coverage as a filter signal (RefinedWeb
    * drops docs by duplicate-fraction; see `dupSpanStats`).
    *
    * Scale shape: the window explode is ~n_tokens rows/doc (linear); the
    * count agg is map-side partial on the fingerprint; the join back is a
    * plain equi-join AQE can skew-split (a boilerplate span's fan-out is
    * its occurrence count, bounded by corpus size, and never pairwise).
    * The islands window sorts per doc — keyed on the doc id, partition
    * count grows with the corpus. The fingerprint is md5 of the
    * space-joined span (engine-portable, oracle replays it verbatim);
    * at 100 TB swap in the rolling-hash kernel (`TextFunctions`
    * fingerprints) — same plan, cheaper bytes. */
  def duplicateSpans(df: DataFrame, idCol: String, textCol: String,
      windowTokens: Int = 20): DataFrame = {
    require(windowTokens > 0, s"windowTokens must be positive: $windowTokens")
    val n = windowTokens
    // window keys from the native one-pass kernel (bit-identical md5 hex
    // to the transform/slice/concat_ws formulation, which runs interpreted
    // and re-slices per window — measured 5× on this operator); persisted
    // because BOTH the dup-key count and the join probe read it
    val keyed = df
      .select(col(idCol).as("doc_id"), TextFunctions.tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) >= n)
      .select(col("doc_id"),
        posexplode(graft.expressions.NativeText.windowMd5(col("toks"), n))
          .as(Seq("pos0", "key")))
      .select(col("doc_id"), (col("pos0") + 1).as("pos"), col("key"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val dupKeys = keyed.groupBy("key")
      .agg(count(lit(1)).as("n_occ"))
      .filter(col("n_occ") > 1)
    val islands = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    keyed.join(dupKeys, Seq("key"))
      .withColumn("grp", col("pos") - row_number().over(islands))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + (n - 1)).as("span_end"),
        count(lit(1)).as("n_windows"))
      .select("doc_id", "span_start", "span_end", "n_windows")
  }

  /** Per-document duplicated-token coverage from `duplicateSpans`: the
    * fraction of a doc's tokens inside ANY duplicated span (spans from the
    * islands merge never overlap, so coverage is a plain sum). Docs with
    * no duplicated span report 0.0 — the left join keeps them filterable
    * in one pass. */
  def dupSpanStats(df: DataFrame, idCol: String, textCol: String,
      windowTokens: Int = 20): DataFrame = {
    val spans = duplicateSpans(df, idCol, textCol, windowTokens)
      .groupBy(col("doc_id"))
      .agg(sum(col("span_end") - col("span_start") + 1).as("dup_tokens"))
    df.select(col(idCol).as("doc_id"),
        TextFunctions.tokenCount(col(textCol)).cast(LongType).as("n_tokens"))
      .join(spans, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        (coalesce(col("dup_tokens"), lit(0L)).cast(DoubleType) /
          greatest(col("n_tokens"), lit(1L)).cast(DoubleType)).as("dup_fraction"))
  }
}
