package graft

import org.apache.spark.sql.functions._

import graft.operators.{CorpusPipeline, Dedup}

class CorpusPipelineSpec extends SparkSpec {
  import spark.implicits._

  test("curate: redacts, scores, filters, dedups, splits, packs — one flow") {
    val raw = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
      (3L, "mail me at spy@example.org for the secret files"),
      (4L, ""),                                            // empty → dropped
      (5L, "spam spam spam spam spam spam spam spam spam spam"), // boilerplate
      (6L, "ein ganz anderes dokument mit eigenem inhalt"))
      .toDF("doc_id", "text")
    val curated = CorpusPipeline.curate(raw, ctxTokens = 5,
      minTokens = 1, maxDupNgramRatio = 0.5)
    val docs = curated.documents.collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap

    // dedup kept the min id of the identical pair; empty + boilerplate gone
    assert(docs.keySet == Set(1L, 3L, 6L))
    // PII redacted before anything downstream saw the text
    assert(docs(3L).getAs[String]("text") ==
      "mail me at <EMAIL> for the secret files")
    // scores and split attached
    assert(docs(1L).getAs[Long]("n_tokens") == 9)
    assert(Set("train", "val", "test")(docs(1L).getAs[String]("split")))
    assert(docs(6L).getAs[String]("lang_pred") != null)

    // the manifest covers exactly the train-split keepers, offsets tile
    val trainIds = docs.collect {
      case (id, r) if r.getAs[String]("split") == "train" => id }.toSet
    val manifest = curated.packManifest.orderBy("doc_id").collect()
    assert(manifest.map(_.getAs[Long]("doc_id")).toSet == trainIds)
    val offsets = manifest.map(r =>
      (r.getAs[Long]("start_offset"), r.getAs[Long]("n_tokens")))
    offsets.zip(offsets.drop(1)).foreach { case ((s, n), (s2, _)) =>
      assert(s + n == s2)
    }
  }

  test("curate: blockedHosts drops by url domain before content work") {
    val raw = Seq(
      (1L, "https://good.test/a", "a perfectly fine document with plenty of text"),
      (2L, "https://bad.example.net/x", "same quality text but from a blocked site"),
      (3L, "https://cdn.bad.example.net/y", "subdomain of the blocked domain dies too"),
      (4L, null.asInstanceOf[String], "no url at all still flows through the pipeline"))
      .toDF("doc_id", "url", "text")
    val blocked = Seq("bad.example.net").toDF("host")
    val docs = CorpusPipeline.curate(raw, blockedHosts = Some(blocked))
      .documents.select("doc_id").as[Long].collect().toSet
    assert(docs == Set(1L, 4L))
    // without the list everything survives
    val all = CorpusPipeline.curate(raw)
      .documents.select("doc_id").as[Long].collect().toSet
    assert(all == Set(1L, 2L, 3L, 4L))
  }

  test("curate: dropLinesMinDocFreq cleans boilerplate BEFORE scoring and dedup") {
    // three docs share a footer line; two become IDENTICAL once it's
    // removed — the downstream exact dedup must see the cleaned text
    val raw = Seq(
      (1L, "unique body one\nall rights reserved"),
      (2L, "the very same body\nall rights reserved"),
      (3L, "the very same body\nall rights reserved"),
      (4L, "a document with no footer at all"))
      .toDF("doc_id", "text")
    val docs = CorpusPipeline.curate(raw, dropLinesMinDocFreq = Some(3L))
      .documents.collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(docs.keySet == Set(1L, 2L, 4L)) // 3 deduped into 2 post-clean
    assert(docs(1L).getAs[String]("text") == "unique body one")
    assert(docs(2L).getAs[String]("text") == "the very same body")
    // token counts scored on the CLEANED text (3, not 6)
    assert(docs(1L).getAs[Long]("n_tokens") == 3L)
  }

  test("curate: navLineRules strips per-page nav lines before scoring") {
    val raw = Seq(
      (1L, "A real paragraph of body text.\nHOME | ABOUT | CONTACT\nRead more"),
      (2L, "Another body paragraph entirely.\n- go"))
      .toDF("doc_id", "text")
    val docs = CorpusPipeline.curate(raw, navLineRules = true)
      .documents.collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(docs(1L).getAs[String]("text") == "A real paragraph of body text.")
    assert(docs(2L).getAs[String]("text") == "Another body paragraph entirely.")
    // scored on the cleaned text: nav tokens never inflate n_tokens
    assert(docs(1L).getAs[Long]("n_tokens") == 6L)
    // and OFF by default — the raw text flows untouched
    val off = CorpusPipeline.curate(raw).documents.collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    assert(off(1L).contains("HOME | ABOUT | CONTACT"))
  }

  test("curate with near-dup stage: token-preserving mutants collapse to min id") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val raw = Seq(
      (10L, base),
      (11L, base + "  "),          // whitespace edit: same tokens, new digest
      (12L, base.split(' ').reverse.mkString(" ")), // reorder: same multiset
      (13L, "ein voellig anderes dokument ohne gemeinsame woerter ueberhaupt"))
      .toDF("doc_id", "text")
    // without the stage, only EXACT dedup runs — all four texts differ
    val plain = CorpusPipeline.curate(raw, ctxTokens = 50)
      .documents.select("doc_id").as[Long].collect().toSet
    assert(plain == Set(10L, 11L, 12L, 13L))
    // with it, the sketch-equal mutants fold into doc 10
    val near = CorpusPipeline.curate(raw, ctxTokens = 50,
        nearDupMaxHamming = Some(3))
      .documents.select("doc_id").as[Long].collect().toSet
    assert(near == Set(10L, 13L))
  }

  test("curate: gopherRules gate keeps prose, drops sub-minimum docs") {
    val prose = "the be to of and that have with " +
      "alpha beta gamma delta " * 11 // 52 tokens, passes every Gopher rule
    val raw = Seq((1L, prose), (2L, "way too short the of and"))
      .toDF("doc_id", "text")
    val curated = CorpusPipeline.curate(raw, ctxTokens = 64,
      minTokens = 1, gopherRules = true)
    assert(curated.documents.select("doc_id").as[Long].collect().toSet == Set(1L))
    // same corpus without the gate keeps both
    assert(CorpusPipeline.curate(raw, ctxTokens = 64, minTokens = 1)
      .documents.count() == 2)
  }

  test("curate: maxDupSpanFraction drops span-coverage-heavy docs") {
    val common = (1 to 25).map(i => s"c$i").mkString(" ") // shared 25-token run
    val raw = Seq(
      (1L, (1 to 5).map(i => s"u$i").mkString(" ") + " " + common),  // 25/30 covered
      (2L, (1 to 15).map(i => s"v$i").mkString(" ") + " " + common), // 25/40 covered
      (3L, (1 to 30).map(i => s"w$i").mkString(" ")))                // clean
      .toDF("doc_id", "text")
    val curated = CorpusPipeline.curate(raw, ctxTokens = 64,
      minTokens = 1, maxDupSpanFraction = Some(0.7))
    assert(curated.documents.select("doc_id").as[Long].collect().toSet ==
      Set(2L, 3L))
  }

  test("curate: source cap and token budgets trim after dedup, before the split") {
    // 30 'blog' docs (5 tokens each), 3 'books' docs; dup of a blog doc
    // must not count against the cap (dedup runs first)
    val blogs = (1L to 30L).map(i =>
      (i, s"blog post number $i words", "blog"))
    val raw = (blogs ++ Seq(
      (100L, "blog post number 1 words", "blog"),   // exact dup of doc 1
      (201L, "a long book of many chapters one", "books"),
      (202L, "another book with different chapters", "books"),
      (203L, "third book entirely its own text", "books")))
      .toDF("doc_id", "text", "source")

    val capped = CorpusPipeline.curate(raw, ctxTokens = 8,
      minTokens = 1, maxDupNgramRatio = 1.0,
      sourceCap = Some(("source", 10)))
    val bySrc = capped.documents.collect()
      .groupBy(_.getAs[String]("source"))
    assert(bySrc("blog").length == 10)   // capped (31 deduped to 30, then 10)
    assert(bySrc("books").length == 3)   // under cap, untouched
    // schema stayed stable (provenance dropped) and the split still rides
    assert(!capped.documents.columns.contains("cap_rank"))
    assert(capped.documents.columns.contains("split"))

    val budgeted = CorpusPipeline.curate(raw, ctxTokens = 8,
      minTokens = 1, maxDupNgramRatio = 1.0,
      tokenBudgets = Some(("source", Map("blog" -> 40L), 10000L)))
    val blogTokens = budgeted.documents.filter($"source" === "blog")
      .agg(sum("n_tokens")).collect()(0).getLong(0)
    // 5-token docs against a 40-token budget: 8 docs fill it exactly
    assert(blogTokens == 40L)
    assert(budgeted.documents.filter($"source" === "books").count() == 3)
  }

  test("writeStreamIncrementalDedup: cross-batch twins dropped, fresh docs appended with their signatures") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = java.nio.file.Files.createTempDirectory("graft_incdedup").toString
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val other = "one two three four five six seven eight nine ten eleven " +
      "twelve thirteen fourteen fifteen sixteen"
    val mem = MemoryStream[(Long, String)]
    val docs = mem.toDF().toDF("doc_id", "text")
    val query = CorpusPipeline.writeStreamIncrementalDedup(docs,
      s"$dir/corpus", s"$dir/sigs", s"$dir/ck", minJaccard = 0.5)
    try {
      // batch 0: table empty → both docs land, signatures indexed
      mem.addData((1L, base), (2L, other))
      query.processAllAvailable()
      assert(spark.read.parquet(s"$dir/corpus").count() == 2)
      assert(spark.read.parquet(s"$dir/sigs").count() == 2)
      // batch 1: a near-twin of doc 1 (first token dropped), an exact copy
      // of doc 2, and one genuinely new doc → only the new doc lands
      mem.addData(
        (10L, base.replace("alpha ", "")),
        (11L, other),
        (12L, "completely different content nothing shared with anything"))
      query.processAllAvailable()
      val ids = spark.read.parquet(s"$dir/corpus")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(ids == Set(1L, 2L, 12L))
      // the new doc's signature joined the table → batch 2 twin of 12 drops
      assert(spark.read.parquet(s"$dir/sigs").count() == 3)
      mem.addData((20L, "completely different content nothing shared with anything"))
      query.processAllAvailable()
      assert(spark.read.parquet(s"$dir/corpus").count() == 3)
      // the bucket INDEX tracked the signature table: one row per band per
      // indexed doc (default bands = 16), so the next batch probes the
      // pre-built index instead of re-exploding the whole table
      val buckets = spark.read.parquet(s"$dir/sigs.buckets")
      assert(buckets.count() == 3 * 16)
      assert(buckets.select("doc_id").distinct().collect()
        .map(_.getLong(0)).toSet == Set(1L, 2L, 12L))
      assert(buckets.columns.toSet == Set("doc_id", "band", "bucket"))
    } finally query.stop()
  }

  test("writeStreamIncrementalDedup: pre-index signature table is backfilled once, dedup still holds") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = java.nio.file.Files.createTempDirectory("graft_incdedup_bf").toString
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    // a signature table written BEFORE the bucket index existed (older
    // deployments): table present, no .buckets dir
    val ref = Seq((1L, base)).toDF("doc_id", "text")
    Dedup.minhashSignatureTable(ref, "doc_id", "text")
      .write.parquet(s"$dir/sigs")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/sigs.buckets")))
    val mem = MemoryStream[(Long, String)]
    val query = CorpusPipeline.writeStreamIncrementalDedup(
      mem.toDF().toDF("doc_id", "text"),
      s"$dir/corpus", s"$dir/sigs", s"$dir/ck", minJaccard = 0.5)
    try {
      // a near-twin of the pre-indexed doc must still be caught — the
      // commit backfills the bucket index from the signature table first
      mem.addData((10L, base.replace("alpha ", "")), (11L, "totally new words here"))
      query.processAllAvailable()
      val ids = spark.read.parquet(s"$dir/corpus")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(ids == Set(11L))
      // backfilled index covers the pre-existing doc AND the new one
      assert(spark.read.parquet(s"$dir/sigs.buckets")
        .select("doc_id").distinct().collect()
        .map(_.getLong(0)).toSet == Set(1L, 11L))
    } finally query.stop()
  }

  test("writeStreamIncrementalDedup: partially-diverged bucket index is repaired, not ignored") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = java.nio.file.Files.createTempDirectory("graft_incdedup_rp").toString
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val other = "one two three four five six seven eight nine ten eleven " +
      "twelve thirteen fourteen fifteen sixteen"
    // simulate a crash BETWEEN the signature append and the bucket append:
    // both docs have signatures, but only doc 1 made it into the index —
    // the absent-dir backfill never fires (the dir exists), so without the
    // per-commit anti-join repair, twins of doc 2 would pass dedup forever
    val sigs = Dedup.minhashSignatureTable(
      Seq((1L, base), (2L, other)).toDF("doc_id", "text"), "doc_id", "text")
    sigs.write.parquet(s"$dir/sigs")
    Dedup.minhashBucketTable(sigs.filter($"doc_id" === 1L))
      .write.parquet(s"$dir/sigs.buckets")
    val mem = MemoryStream[(Long, String)]
    val query = CorpusPipeline.writeStreamIncrementalDedup(
      mem.toDF().toDF("doc_id", "text"),
      s"$dir/corpus", s"$dir/sigs", s"$dir/ck", minJaccard = 0.5)
    try {
      mem.addData((10L, other.replace("one ", "")), (11L, "totally new words here"))
      query.processAllAvailable()
      // the twin of the UNINDEXED doc 2 was caught — repair ran first
      val ids = spark.read.parquet(s"$dir/corpus")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(ids == Set(11L))
      // and the index now covers every signed doc
      assert(spark.read.parquet(s"$dir/sigs.buckets")
        .select("doc_id").distinct().collect()
        .map(_.getLong(0)).toSet == Set(1L, 2L, 11L))
    } finally query.stop()
  }

  test("writeStreamIndexed: dedup + standing BM25 index maintained in one commit") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = java.nio.file.Files.createTempDirectory("graft_widx").toString
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val other = "one two three four five six seven eight nine ten eleven " +
      "twelve thirteen fourteen fifteen sixteen"
    val mem = MemoryStream[(Long, String)]
    val query = CorpusPipeline.writeStreamIndexed(
      mem.toDF().toDF("doc_id", "text"),
      s"$dir/corpus", s"$dir/sigs", s"$dir/idx", s"$dir/ck", minJaccard = 0.5)
    try {
      mem.addData((1L, base), (2L, other))
      query.processAllAvailable()
      // twin of doc 1 dropped; new doc 11 lands in corpus AND index
      mem.addData((10L, base.replace("alpha ", "")),
        (11L, "totally new words here"))
      query.processAllAvailable()
      val ids = spark.read.parquet(s"$dir/corpus")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(ids == Set(1L, 2L, 11L))
      assert(spark.read.parquet(s"$dir/sigs").count() == 3)
      assert(spark.read.parquet(s"$dir/sigs.buckets")
        .select("doc_id").distinct().count() == 3)
      // the standing index answers EXACTLY like scan-side BM25 over the
      // committed corpus — searchable the moment the batch commits
      val terms = Seq("alpha", "one", "words")
      val probe = graft.operators.Search
        .bm25IndexProbe(spark, s"$dir/idx", terms, k = 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
      val scan = graft.operators.Search
        .bm25TopK(spark.read.parquet(s"$dir/corpus"), terms, k = 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
      assert(probe.map(_._1).toSeq == scan.map(_._1).toSeq)
      probe.zip(scan).foreach { case ((_, a), (_, b)) =>
        assert(math.abs(a - b) < 1e-9)
      }
    } finally query.stop()
  }

  test("indexedCommit: twins INSIDE one microbatch collapse to the min id — first batch included") {
    val dir = java.nio.file.Files.createTempDirectory("graft_intra").toString
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val other = "one two three four five six seven eight nine ten eleven " +
      "twelve thirteen fourteen fifteen sixteen"
    def commit(docs: Seq[(Long, String)], id: Long): Unit =
      CorpusPipeline.indexedCommit(docs.toDF("doc_id", "text"), id,
        s"$dir/corpus", s"$dir/sigs", None, "doc_id", "text",
        k = 64, bands = 16, shingleN = 3, minJaccard = 0.5, maxIndexFiles = 64)
    // batch 0 — NO standing table yet: an exact twin and a near-twin of
    // doc 1 arrive in the same batch; only the min id of the group lands
    commit(Seq((1L, base), (3L, base), (4L, base.replace("alpha ", "")),
      (2L, other)), 0L)
    val ids0 = spark.read.parquet(s"$dir/corpus")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids0 == Set(1L, 2L), s"intra-batch twins leaked: $ids0")
    // the dropped twins' signatures never entered the table either
    assert(spark.read.parquet(s"$dir/sigs")
      .select("doc_id").collect().map(_.getLong(0)).toSet == Set(1L, 2L))
    // batch 1 — BOTH dedup faces at once: a twin of standing doc 2 (cross
    // batch) and an intra-batch twin pair of a genuinely new doc
    commit(Seq(
      (10L, other),
      (11L, "completely different content nothing shared with anything"),
      (12L, "completely different content nothing shared with anything")), 1L)
    val ids1 = spark.read.parquet(s"$dir/corpus")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids1 == Set(1L, 2L, 11L), s"got $ids1")
    assert(spark.read.parquet(s"$dir/sigs.buckets")
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet ==
      Set(1L, 2L, 11L))
    // batch 2 — standing matches win over ids: a twin of standing 11
    // under a SMALLER id, and standing doc 2 re-offered under its own
    // id, both drop (a min-ref-id rule over standing ∪ batch keeps them)
    commit(Seq(
      (5L, "completely different content nothing shared with anything"),
      (2L, other)), 2L)
    val ids2 = spark.read.parquet(s"$dir/corpus")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids2 == Set(1L, 2L, 11L), s"got $ids2")
    assert(spark.read.parquet(s"$dir/sigs").count() == 3)
    // batch 3 — a chain A~B~C with A≁C (word-shingle Jaccard 0.65, 0.65
    // and 0.41 at the 0.5 cut): the greedy min-id keeper drops B for A
    // and C for B, so only A lands
    def words(from: Int) = (from until from + 40).map(i => s"w$i").mkString(" ")
    commit(Seq((30L, words(0)), (31L, words(8)), (32L, words(16))), 3L)
    val ids3 = spark.read.parquet(s"$dir/corpus")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids3 == Set(1L, 2L, 11L, 30L), s"got $ids3")
  }

  test("writeStreamIndexed: mid-sequence crash replays to convergence, no index double-count") {
    val dir = java.nio.file.Files.createTempDirectory("graft_widx_cr").toString
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val other = "one two three four five six seven eight nine ten eleven " +
      "twelve thirteen fourteen fifteen sixteen"
    def commit(docs: Seq[(Long, String)], id: Long): Unit =
      CorpusPipeline.indexedCommit(docs.toDF("doc_id", "text"), id,
        s"$dir/corpus", s"$dir/sigs", Some(s"$dir/idx"), "doc_id", "text",
        k = 64, bands = 16, shingleN = 3, minJaccard = 0.5, maxIndexFiles = 64)
    commit(Seq((1L, base), (2L, other)), 0L)
    // batch 1 "crashes" PRE-FLIP: stagings written (some of them), the
    // BM25 append completed under its own marker, but the commit
    // manifest never flipped — NOTHING is visible in the three dirs
    val b1 = Seq((5L, "completely different content nothing shared with anything"))
    graft.io.Sinks.stageBatch(b1.toDF("doc_id", "text"), s"$dir/corpus", 1L)
    graft.operators.Search.bm25IndexAppendIdempotent(
      b1.toDF("doc_id", "text"), s"$dir/idx", 1L)
    assert(spark.read.parquet(s"$dir/corpus").count() == 2) // invisible
    assert(spark.read.parquet(s"$dir/sigs").count() == 2) // crash state
    // the replay: recomputes the same kept-set (the standing table is
    // unchanged), restages over the leftovers, flips, publishes; the
    // index marker skips the already-completed BM25 append
    commit(b1, 1L)
    assert(spark.read.parquet(s"$dir/corpus")
      .select("doc_id").collect().map(_.getLong(0)).toSet == Set(1L, 2L, 5L))
    assert(spark.read.parquet(s"$dir/sigs")
      .select("doc_id").collect().map(_.getLong(0)).toSet == Set(1L, 2L, 5L))
    assert(spark.read.parquet(s"$dir/sigs.buckets")
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet == Set(1L, 2L, 5L))
    // df/tf not double-counted: probe == scan-side truth exactly
    val probe = graft.operators.Search
      .bm25IndexProbe(spark, s"$dir/idx", Seq("completely", "alpha"), k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val scan = graft.operators.Search
      .bm25TopK(spark.read.parquet(s"$dir/corpus"), Seq("completely", "alpha"), k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(probe.map(_._1).toSeq == scan.map(_._1).toSeq)
    probe.zip(scan).foreach { case ((_, a), (_, b)) => assert(math.abs(a - b) < 1e-9) }
    // and the repaired state keeps deduping: a twin of doc 5 is dropped
    commit(Seq((20L, "completely different content nothing shared with anything")), 2L)
    assert(spark.read.parquet(s"$dir/corpus").count() == 3)
  }

  test("indexedCommit: the manifest-last commit closes the unindexed-docs window") {
    // the round's directive: a crash BETWEEN the doc append and the
    // signature/bucket appends must never leave docs visible but
    // unindexed (later twins of exactly those docs would slip through).
    // Both crash halves are driven against the real commit:
    val dir = java.nio.file.Files.createTempDirectory("graft_mlast").toString
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    def commit(docs: Seq[(Long, String)], id: Long): Unit =
      CorpusPipeline.indexedCommit(docs.toDF("doc_id", "text"), id,
        s"$dir/corpus", s"$dir/sigs", None, "doc_id", "text",
        k = 64, bands = 16, shingleN = 3, minJaccard = 0.5, maxIndexFiles = 64)
    commit(Seq((1L, base)), 0L)
    // POST-FLIP crash: batch 1 staged in ALL THREE dirs and the
    // manifest flipped, but publication never ran (the worst half —
    // under the OLD per-dir appends this was docs-present-unindexed)
    val b1 = Seq((5L, "completely different content nothing shared here"))
    val sigs1 = Dedup.minhashSignatureTable(
      b1.toDF("doc_id", "text"), "doc_id", "text")
    graft.io.Sinks.stageBatch(b1.toDF("doc_id", "text"), s"$dir/corpus", 1L)
    graft.io.Sinks.stageBatch(Dedup.minhashBucketTable(sigs1),
      s"$dir/sigs.buckets", 1L)
    graft.io.Sinks.stageBatch(sigs1, s"$dir/sigs", 1L)
    graft.io.Sinks.recordCommittedBatch(spark, s"$dir/corpus", 1L)
    // mid-crash visibility: the batch is in NO dir (all-or-nothing) —
    // a reader never observes docs without their signatures
    assert(spark.read.parquet(s"$dir/corpus").count() == 1)
    assert(spark.read.parquet(s"$dir/sigs").count() == 1)
    // batch 2 arrives with a TWIN of the crashed batch's doc: the
    // entry roll-forward publishes batch 1 BEFORE probing, so the twin
    // is caught — no dedup-weakening window survives the crash
    commit(Seq((9L, "completely different content nothing shared here")), 2L)
    assert(spark.read.parquet(s"$dir/corpus")
      .select("doc_id").collect().map(_.getLong(0)).toSet == Set(1L, 5L))
    assert(spark.read.parquet(s"$dir/sigs")
      .select("doc_id").collect().map(_.getLong(0)).toSet == Set(1L, 5L))
    assert(spark.read.parquet(s"$dir/sigs.buckets")
      .select("doc_id").distinct().collect()
      .map(_.getLong(0)).toSet == Set(1L, 5L))
    // a replayed id after full commit publishes-and-returns: no growth
    commit(b1, 1L)
    assert(spark.read.parquet(s"$dir/corpus").count() == 2)
    // and no staging residue remains anywhere
    Seq("corpus", "sigs", "sigs.buckets").foreach { d =>
      assert(graft.io.Sinks.stagedBatches(spark, s"$dir/$d").isEmpty, d)
    }
  }

  test("deleteDocs: takedown across corpus/sigs/buckets/index; a later twin is NOT suppressed") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft_del").toString
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val other = "one two three four five six seven eight nine ten eleven " +
      "twelve thirteen fourteen fifteen sixteen"
    val mem = MemoryStream[(Long, String)]
    val query = CorpusPipeline.writeStreamIndexed(
      mem.toDF().toDF("doc_id", "text"),
      s"$dir/corpus", s"$dir/sigs", s"$dir/idx", s"$dir/ck", minJaccard = 0.5)
    try {
      mem.addData((1L, base), (2L, other))
      query.processAllAvailable()
      // control: while doc 1 stands, its twin IS suppressed
      mem.addData((10L, base.replace("alpha ", "")))
      query.processAllAvailable()
      assert(spark.read.parquet(s"$dir/corpus")
        .select("doc_id").collect().map(_.getLong(0)).toSet == Set(1L, 2L))

      // the takedown
      assert(CorpusPipeline.deleteDocs(spark, Seq(1L).toDF("doc_id"),
        s"$dir/corpus", s"$dir/sigs", indexDir = Some(s"$dir/idx")) == 1L)
      // absent from every standing artifact
      assert(spark.read.parquet(s"$dir/corpus")
        .filter(col("doc_id") === 1L).count() == 0)
      assert(spark.read.parquet(s"$dir/sigs")
        .filter(col("doc_id") === 1L).count() == 0)
      assert(spark.read.parquet(s"$dir/sigs.buckets")
        .filter(col("doc_id") === 1L).count() == 0)
      assert(graft.operators.Search
        .bm25IndexProbe(spark, s"$dir/idx", Seq("alpha", "beta"), k = 10)
        .filter(col("doc_id") === 1L).count() == 0)
      // replay of the same takedown: converges, registers nothing new
      assert(CorpusPipeline.deleteDocs(spark, Seq(1L).toDF("doc_id"),
        s"$dir/corpus", s"$dir/sigs", indexDir = Some(s"$dir/idx")) == 0L)

      // a twin of the DELETED content arriving later must survive — its
      // suppressor no longer exists (the whole point of rewriting sigs
      // and buckets rather than only the corpus)
      mem.addData((20L, base.replace("alpha ", "")))
      query.processAllAvailable()
      val ids = spark.read.parquet(s"$dir/corpus")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(ids == Set(2L, 20L), s"post-delete twin suppressed: $ids")
      // and it is searchable through the maintained index
      val hits = graft.operators.Search
        .bm25IndexProbe(spark, s"$dir/idx", Seq("beta", "gamma"), k = 10)
        .collect().map(_.getLong(0)).toSet
      assert(hits == Set(20L), s"index after delete+reingest: $hits")
    } finally query.stop()
  }

  test("curateStream: redact/score/filter + sketch dedup over a MemoryStream") {
    implicit val sqlCtx = spark.sqlContext
    import java.sql.Timestamp
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    def ts(m: Long) = new Timestamp(m * 60000L)
    val mem = MemoryStream[(Long, Timestamp, String)]
    val docs = mem.toDF().toDF("doc_id", "ts", "text")
    val query = CorpusPipeline.curateStream(docs, "ts", minTokens = 1,
        maxDupNgramRatio = 0.5)
      .writeStream.format("memory").queryName("curated_stream")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(
        (1L, ts(0), "write to spy@example.org about the quiet harbor plan"),
        (2L, ts(1), "write to spy@example.org about the quiet harbor plan  "), // sketch dup
        (3L, ts(2), ""),                                       // empty → cut
        (4L, ts(3), "spam spam spam spam spam spam spam spam") // boilerplate → cut
      )
      query.processAllAvailable()
      val rows = spark.table("curated_stream").collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
      // ingest dedup keeps the first-SEEN sketch representative — within
      // one microbatch that's physical order, so either twin may survive
      assert(rows.size == 1 && Set(1L, 2L).contains(rows.keySet.head))
      val survivor = rows.values.head
      assert(survivor.contains("<EMAIL>") && !survivor.contains("spy@"))
      // score columns ride along, same names as the batch flow
      val cols = spark.table("curated_stream").columns.toSet
      assert(Set("n_tokens", "dup_ngram_ratio", "lang_pred").subsetOf(cols))
    } finally query.stop()
  }
}
