package graft

import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.operators.Dedup

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again"),
    (2L, "the quick brown fox jumps over the lazy dog again and again"), // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy cat again and again"), // near dup of 1
    (4L, "completely different content about spark query engines at scale"),
    (5L, "unrelated text with zero overlap whatsoever in any shingle")
  ).toDF("doc_id", "text")

  test("exactDedup keeps the min-id row per content") {
    val kept = Dedup.exactDedup(docs, "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 3L, 4L, 5L))
    val groups = Dedup.exactDupGroups(docs, "doc_id", "text")
      .filter($"n_copies" > 1).collect()
    assert(groups.length == 1 && groups(0).getAs[Long]("keeper_id") == 1L)
  }

  test("paragraphDedup: cross-doc boilerplate survives only at first occurrence") {
    val corpus = Seq(
      (1L, "intro. shared boilerplate. body one"),
      (2L, "shared boilerplate. body two"),   // boilerplate first seen in doc 1
      (3L, "intro"),                          // fully claimed → doc drops out
      (4L, "body one. fresh content"),
      (5L, "x. x")                            // within-doc repeat
    ).toDF("doc_id", "text")
    val out = Dedup.paragraphDedup(corpus, "doc_id", "text", sep = ". ")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(
      1L -> "intro. shared boilerplate. body one", // first occurrences all keep
      2L -> "body two",
      4L -> "fresh content",
      5L -> "x"))
  }

  test("dropFrequentLines: corpus-frequent lines removed everywhere, others untouched") {
    val corpus = Seq(
      (1L, "unique one\nfooter line\nmore text"),
      (2L, "unique two\nfooter line"),
      (3L, "footer line\nunique three"),
      (4L, "footer line"),                     // only boilerplate → empty text
      (5L, "unaffected doc")
    ).toDF("doc_id", "text")
    val out = Dedup.dropFrequentLines(corpus, "doc_id", "text", minDocFreq = 3)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(
      1L -> "unique one\nmore text",   // removed from the middle, order kept
      2L -> "unique two",
      3L -> "unique three",
      4L -> "",                        // doc survives with empty text
      5L -> "unaffected doc"))
    // below the threshold nothing is touched
    val loose = Dedup.dropFrequentLines(corpus, "doc_id", "text", minDocFreq = 5)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(loose(1L) == "unique one\nfooter line\nmore text")
  }

  test("minhashNearDupPairs finds exact+near dups, not unrelated docs") {
    // 16 bands × 2 rows: detection prob at jaccard≈0.54 is 1-(1-0.54²)¹⁶≈0.996
    // (8×4 would be a coin flip); deterministic either way — these params find it
    val pairs = Dedup.minhashNearDupPairs(docs, "doc_id", "text",
        k = 32, bands = 16, shingleN = 3, minJaccard = 0.5)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs.contains((1L, 2L)))   // identical → jaccard 1.0
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L))) // 1-word change
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
    assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L))
  }

  test("hot-bucket cap bounds boilerplate blow-up; clean pairs unaffected") {
    import spark.implicits._
    // a 12-doc identical-text clique (all 16 bands collide — the
    // boilerplate mega-bucket shape that goes quadratic uncapped) plus
    // one distinct-vocabulary twin pair
    val clique = (1L to 12L).map(i => (i, "common boiler words repeated " +
      "verbatim across every single document in this clique"))
    // 12 tokens, last differs → shingle jaccard 9/11 ≈ 0.82
    val twins = Seq(
      (100L, "completely separate vocabulary twin pair sharing eleven of twelve aligned tokens first"),
      (101L, "completely separate vocabulary twin pair sharing eleven of twelve aligned tokens second"))
    val corpus = (clique ++ twins).toDF("doc_id", "text")
    val capped = Dedup.minhashNearDupPairs(corpus, "doc_id", "text",
        k = 32, bands = 16, shingleN = 3, minJaccard = 0.5, maxBucketSize = 5)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    // every clique bucket holds 12 > 5 docs → dropped from pair
    // generation; the twin pair's buckets (occupancy 2) are untouched
    assert(!capped.exists(p => p._1 <= 12L))
    assert(capped.exists(p => p._1 == 100L && p._2 == 101L))
    // with the cap above the occupancy, the clique pairs come back
    val uncapped = Dedup.minhashNearDupPairs(corpus, "doc_id", "text",
        k = 32, bands = 16, shingleN = 3, minJaccard = 0.5, maxBucketSize = 100)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(uncapped.count(p => p._1 <= 12L && p._2 <= 12L) == 12 * 11 / 2)
    // simhash face: the identical clique shares every chunk block
    val simCapped = Dedup.simhashNearDupPairs(corpus, "doc_id", "text",
        maxHamming = 3, maxBlockSize = 5)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(!simCapped.exists(p => p._1 <= 12L))
    val simUncapped = Dedup.simhashNearDupPairs(corpus, "doc_id", "text",
        maxHamming = 3, maxBlockSize = 100)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(simUncapped.count(p => p._1 <= 12L && p._2 <= 12L) == 12 * 11 / 2)
  }

  test("jaccardPairs: triangle-salted hot keys produce the identical pair multiset") {
    import spark.implicits._
    // 30 docs share one shingle (df 30) — hot under saltDocFreq = 5 —
    // plus per-doc unique tails; every cross pair shares exactly that one
    // shingle, so results must be identical salted and unsalted
    val docs30 = (1L to 30L).map(i =>
      (i, s"common alpha beta uniq$i tail$i end$i")).toDF("doc_id", "text")
    def run(salt: Long) = Dedup.jaccardPairs(docs30, "doc_id", "text",
        shingleN = 3, minJaccard = 0.01, maxDocFreq = 1000L, saltDocFreq = salt)
      .collect().map(r => ((r.getAs[Long]("id_a"), r.getAs[Long]("id_b")),
        r.getAs[Double]("jaccard"))).toMap
    val salted = run(5L)     // df 30 > 5 → triangle-salted branch
    val unsalted = run(500L) // df 30 ≤ 500 → plain self-join branch
    assert(salted.size == 30 * 29 / 2)
    assert(salted == unsalted)
    // one shared shingle over 4+4-1... each doc has 4 shingles, 1 shared:
    // jaccard = 1 / (4 + 4 - 1) = 1/7 for every pair
    assert(salted.values.forall(j => math.abs(j - 1.0 / 7.0) < 1e-12))
  }

  test("minhashNearDupPairs: salted hot buckets produce the identical pair set") {
    import spark.implicits._
    // 20 identical docs → every band bucket holds all 20 (> salt 4,
    // ≤ cap 1000) → the salted branch generates, and must produce
    // exactly the same C(20,2) pair set as the plain branch
    val clique = (1L to 20L).map(i => (i, "same exact text in every copy here"))
      .toDF("doc_id", "text")
    def run(salt: Int) = Dedup.minhashNearDupPairs(clique, "doc_id", "text",
        k = 32, bands = 16, shingleN = 3, minJaccard = 0.5,
        saltBucketSize = salt)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    val salted = run(4)
    val unsalted = run(500)
    assert(salted.size == 20 * 19 / 2)
    assert(salted == unsalted)
  }

  test("jaccardPairs computes exact shingle jaccard") {
    // doc 1 vs 3: 10 3-gram shingles each, differing in the 3 containing
    // dog/cat → 7 shared, union 13 → jaccard 7/13
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text",
        shingleN = 3, minJaccard = 0.1)
      .collect().map(r => ((r.getAs[Long]("id_a"), r.getAs[Long]("id_b")),
        r.getAs[Double]("jaccard"))).toMap
    assert(pairs((1L, 2L)) == 1.0)
    assert(math.abs(pairs((1L, 3L)) - 7.0 / 13.0) < 1e-12)
  }

  test("simhash: identical docs hash equal; near dups within small hamming") {
    val sh = Dedup.simhash(docs, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash")).toMap
    assert(sh(1L) == sh(2L))
    val ham13 = java.lang.Long.bitCount(sh(1L) ^ sh(3L))
    val ham14 = java.lang.Long.bitCount(sh(1L) ^ sh(4L))
    assert(ham13 < ham14, s"near-dup hamming $ham13 should be < unrelated $ham14")
    val pairs = Dedup.simhashNearDupPairs(docs, "doc_id", "text", maxHamming = 8)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs.contains((1L, 2L)))
  }

  test("simhashNearDupPairs matches brute force in BOTH blocking regimes") {
    // real corpus + mutated copies so pairs exist at several distances
    val docs0 = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text")
    val corpus = docs0.union(docs0.select(($"doc_id" + 1000000L).as("doc_id"),
      concat_ws(" ", $"text", lit("tail mutation")).as("text")))
    val sigs = Dedup.simhash(corpus, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    for (maxHamming <- Seq(3, 6, 8)) { // pigeonhole, multi-index b=1, b=2
      val brute = (for {
        (ia, sa) <- sigs; (ib, sb) <- sigs
        if ia < ib && java.lang.Long.bitCount(sa ^ sb) <= maxHamming
      } yield (ia, ib)).toSet
      val got = Dedup.simhashNearDupPairs(corpus, "doc_id", "text", maxHamming)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == brute,
        s"maxHamming=$maxHamming: missed=${(brute -- got).take(5)} extra=${(got -- brute).take(5)}")
    }
  }

  test("connectedComponents: chain, pair, isolated vertex") {
    val edges = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val vertices = Seq(1L, 2L, 3L, 4L, 5L, 6L).toDF("id")
    val cc = Dedup.connectedComponents(edges, vertices)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 5L, 6L -> 5L))
  }

  test("connectedComponents converges on a long chain (diameter > 2)") {
    val n = 12L
    val edges = (1L until n).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val vertices = (1L to n).toDF("id")
    val cc = Dedup.connectedComponents(edges, vertices)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc.values.toSet == Set(1L) && cc.size == n)
  }

  /** Count JOBS started while `body` runs, with AQE *and broadcast joins*
    * turned off for the duration — under AQE one action fans out into a
    * job per shuffle-stage materialization, and broadcast builds run extra
    * jobs from scheduler-internal frames; both measure planner mechanics,
    * not algorithmic passes. With them off, every job the operator runs is
    * one of its own actions, so the assertions below can stick to
    * UPPER BOUNDS the operator controls (jobs ≤ rounds × passes) instead
    * of exact scheduler job counts or Spark-internal stage names.
    * Listener bus is async — poll until stable. */
  private val seenJobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private def countJobsNoAqe[T](body: => T): (T, Int) = {
    seenJobs.clear()
    val counter = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        seenJobs.add(s"job ${j.jobId}: ${j.stageInfos.map(_.name).mkString(";")}")
        counter.incrementAndGet()
      }
    }
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    val bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      org.apache.spark.BusDrain(spark.sparkContext)
      (out, counter.get)
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcast)
    }
  }

  test("connectedComponents runs ONE job per round (convergence folded into the agg)") {
    // chain 1-2-3-4-5-6: min-label propagation needs 5 rounds to move
    // label 1 to vertex 6, +1 round to detect no change = 6 rounds
    val edges = (1L until 6L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val vertices = (1L to 6L).toDF("id")
    val (cc, jobs) = countJobsNoAqe {
      Dedup.connectedComponents(edges, vertices)
    }
    // each round's lazy localCheckpoint is materialized by the same count
    // action that reads the convergence flag — at most one job per round
    // (the round-2 shape ran 2 jobs/round: eager checkpoint + a
    // labels-vs-prev join count = 12, which this bound catches)
    assert(jobs <= 6, s"expected <= 6 jobs (one per round), saw $jobs:\n${seenJobs.toArray.mkString("\n")}")
    val m = cc.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m.values.toSet == Set(1L) && m.size == 6)
  }

  test("connectedComponents with a reliable checkpoint dir: same result, files on disk") {
    val dir = java.nio.file.Files.createTempDirectory("cc-ck").toString
    val edges = (1L until 6L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val vertices = (1L to 6L).toDF("id")
    val (cc, jobs) = countJobsNoAqe {
      Dedup.connectedComponents(edges, vertices, checkpointDir = Some(dir))
    }
    val m = cc.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m.values.toSet == Set(1L) && m.size == 6)
    // durability costs at most one checkpoint-WRITE job per round on top
    // of the round's count job (ReliableRDDCheckpointData writes in its
    // own job) — a 3-pass regression would exceed this bound
    assert(jobs <= 12, s"expected <= 12 jobs (count + checkpoint-write per round), saw $jobs:\n${seenJobs.toArray.mkString("\n")}")
    val ckFiles = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .filter(java.nio.file.Files.isRegularFile(_)).count()
    assert(ckFiles > 0, "no reliable checkpoint files written")
  }

  test("mergeSignatures == signature of the UNIONED shingle sets (real-minhash parity)") {
    val clustered = Seq(
      (1L, 0L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, 0L, "a quick brown fox leaps over the lazy dog every single day"),
      (3L, 0L, "the quick brown fox naps beside the lazy dog all afternoon"),
      (4L, 1L, "completely different content about spark query engines at scale"),
      (5L, 1L, "unrelated text with zero overlap whatsoever in any shingle")
    ).toDF("doc_id", "cluster", "text")
    val k = 16
    val withSig = clustered.select($"cluster",
      TextFunctions.shingleHashesFrom(TextFunctions.tokenHashes($"text"), 3).as("hs"))
      .withColumn("sig", Dedup.minhashSignatureFromHashes($"hs", k))
    val merged = withSig.groupBy("cluster")
      .agg(Dedup.mergeSignatures($"sig").as("m"))
      .as[(Long, Seq[Long])].collect().toMap
    // independent route: union the members' shingle-hash sets, sign once —
    // min over a union is the min of the mins, lane by lane
    val unioned = withSig.groupBy("cluster")
      .agg(array_distinct(flatten(collect_list($"hs"))).as("hs"))
      .select($"cluster", Dedup.minhashSignatureFromHashes($"hs", k).as("m"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(merged.keySet == Set(0L, 1L))
    assert(merged == unioned)
    assert(merged(0L).length == k)
  }

  test("minhash_merge semantics: null/empty identity, NULL-only group, mixed-k failure") {
    val df = Seq(
      (1L, Seq(5L, 10L)), (1L, Seq(3L, 20L)),
      (2L, Seq(7L, 7L)),
      (3L, Seq.empty[Long])
    ).toDF("g", "sig")
      .union(Seq((2L, null.asInstanceOf[Seq[Long]]), (3L, null.asInstanceOf[Seq[Long]]))
        .toDF("g", "sig"))
    val out = df.groupBy("g").agg(Dedup.mergeSignatures($"sig").as("m"))
      .as[(Long, Option[Seq[Long]])].collect().toMap
    assert(out(1L).contains(Seq(3L, 10L)))
    assert(out(2L).contains(Seq(7L, 7L)))   // null row is identity
    assert(out(3L).isEmpty)                 // only null/empty inputs -> NULL
    val err = intercept[Exception] {
      Seq((1L, Seq(1L, 2L)), (1L, Seq(1L, 2L, 3L))).toDF("g", "sig")
        .groupBy("g").agg(Dedup.mergeSignatures($"sig")).collect()
    }
    assert(err.getMessage.contains("length mismatch") ||
      Option(err.getCause).exists(_.getMessage.contains("length mismatch")))
  }

  test("connectedComponents labels edge endpoints absent from vertices (null-safe convergence)") {
    // vertices = {1} only; 2 and 3 exist solely as edge endpoints. Their
    // first labeling arrives with prev = NULL — a non-null-safe compare
    // would read the round as "no change" and stop before 3 gets label 1.
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val vertices = Seq(1L).toDF("id")
    val cc = Dedup.connectedComponents(edges, vertices)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("connectedComponents warns (not wrong-silently) past maxIter but still returns") {
    val edges = (1L until 8L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val vertices = (1L to 8L).toDF("id")
    // maxIter below the diameter: output is a SPLIT component (documented)
    val cc = Dedup.connectedComponents(edges, vertices, maxIter = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc.size == 8)
    assert(cc.values.toSet != Set(1L), "2 rounds cannot close a diameter-7 chain")
  }

  test("duplicateSpans: cross-doc shared run merges into one maximal span") {
    val corpus = Seq(
      (1L, "w1 w2 w3 w4 w5 w6"),
      (2L, "x1 w2 w3 w4 w5 x2"), // shares the w2..w5 run with doc 1
      (3L, "s1 s2")              // shorter than the window: no rows
    ).toDF("doc_id", "text")
    val spans = Dedup.duplicateSpans(corpus, "doc_id", "text", windowTokens = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
      .toSet
    // dup windows: (w2 w3 w4) and (w3 w4 w5) at pos 2,3 of both docs →
    // one island each, span tokens 2..5
    assert(spans == Set((1L, 2, 5, 2L), (2L, 2, 5, 2L)))
  }

  test("duplicateSpans: within-doc repetition covers the whole doc") {
    val corpus = Seq((7L, "r1 r2 r3 r1 r2 r3 r1 r2 r3")).toDF("doc_id", "text")
    val spans = Dedup.duplicateSpans(corpus, "doc_id", "text", windowTokens = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
    // every 3-window repeats later in the doc → a single island over all
    // 7 window positions, spanning tokens 1..9
    assert(spans.toSeq == Seq((7L, 1, 9, 7L)))
  }

  test("dupSpanStats: coverage fractions, zero for clean and short docs") {
    val corpus = Seq(
      (1L, "w1 w2 w3 w4 w5 w6"),
      (2L, "x1 w2 w3 w4 w5 x2"),
      (3L, "s1 s2"),
      (4L, "a1 a2 a3 a4 a5 a6 a7 a8")
    ).toDF("doc_id", "text")
    val stats = Dedup.dupSpanStats(corpus, "doc_id", "text", windowTokens = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(stats(1L) == ((6L, 4L, 4.0 / 6)))
    assert(stats(2L) == ((6L, 4L, 4.0 / 6)))
    assert(stats(3L) == ((2L, 0L, 0.0)))
    assert(stats(4L) == ((8L, 0L, 0.0)))
  }

  test("minhashDedupAgainst: twins flagged with their source, fresh docs pass, empty ref passes all") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val ref = Seq((1L, base), (2L, "one totally different reference document here"))
      .toDF("doc_id", "text")
    val sigs = Dedup.minhashSignatureTable(ref, "doc_id", "text")
    val batch = Seq(
      (10L, base),                                  // exact copy of ref 1
      (11L, base.replace("alpha ", "")),            // near-dup of ref 1
      (12L, "a genuinely new document about nothing shared at all")
    ).toDF("doc_id", "text")
    val res = Dedup.minhashDedupAgainst(batch, sigs, "doc_id", "text",
        minJaccard = 0.5)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((Option(r.getAs[java.lang.Long]("dup_of_ref")).map(_.toLong),
          r.getAs[Boolean]("is_new")))).toMap
    assert(res(10L) == ((Some(1L), false)))
    assert(res(11L) == ((Some(1L), false)))
    assert(res(12L) == ((None, true)))
    // batch columns ride along; empty reference keeps everything
    val emptyRef = Dedup.minhashSignatureTable(ref.filter($"doc_id" < 0),
      "doc_id", "text")
    assert(Dedup.minhashDedupAgainst(batch, emptyRef, "doc_id", "text")
      .filter($"is_new").count() == 3)
  }

  test("clusterKeepers: argmax quality wins, ties fall to min id, singletons keep themselves") {
    val membership = Seq(
      // cluster 10: doc 3 has the best score
      (1L, 10L, 5L), (2L, 10L, 7L), (3L, 10L, 9L),
      // cluster 20: score tie between 4 and 6 → min id 4 wins
      (4L, 20L, 8L), (5L, 20L, 2L), (6L, 20L, 8L),
      // singleton
      (7L, 30L, 1L)
    ).toDF("doc_id", "component", "score")
    val out = Dedup.clusterKeepers(membership, "doc_id", "component", "score")
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("keeper_id"), r.getAs[Boolean]("is_keeper")))).toMap
    assert(out(1L) == ((3L, false)) && out(2L) == ((3L, false)) && out(3L) == ((3L, true)))
    assert(out(4L) == ((4L, true)) && out(5L) == ((4L, false)) && out(6L) == ((4L, false)))
    assert(out(7L) == ((7L, true)))
    // exactly one keeper per cluster
    val keepers = Dedup.clusterKeepers(membership, "doc_id", "component", "score")
      .filter(col("is_keeper")).collect()
    assert(keepers.length == 3)
  }
}
