package graft

import graft.operators.Search

class SearchSpec extends SparkSpec {
  import spark.implicits._

  private lazy val corpus = Seq(
    (1L, "spark spark spark runs the cluster"),             // high tf, short
    (2L, "spark runs here"),                                // tf 1, shortest
    (3L, "spark " + ("filler " * 50).trim),                 // tf 1, long doc
    (4L, "quantum entanglement is rare rare rare"),         // rare-term doc
    (5L, "nothing relevant in this one at all"),            // zero overlap
    (6L, "quantum spark")                                   // both terms
  ).toDF("doc_id", "text")

  test("bm25TopK: tf raises, doc length damps, rarity outweighs commonness") {
    val out = Search.bm25TopK(corpus, Seq("spark", "quantum"), k = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1))
    val rank = out.map(_._1).toSeq
    val score = out.toMap
    // zero-overlap doc excluded
    assert(!score.contains(5L))
    // more occurrences of the same term in comparable-length docs → higher
    assert(score(1L) > score(2L))
    // same tf, longer doc → damped
    assert(score(2L) > score(3L))
    // 'quantum' (df 2/6) outscores a single 'spark' (df 4/6): doc 6 with
    // both terms must beat every single-'spark' doc
    assert(rank.head == 6L || score(6L) > score(2L))
    // scores are strictly ordered in the output with id tie-break
    assert(out.map(_._2).sameElements(out.map(_._2).sortBy(-_)))
  }

  test("bm25TopKBatch: per-query rankings match the scan-side operator") {
    val queries = Seq(("a", "spark"), ("a", "quantum"), ("b", "quantum"))
      .toDF("query_id", "term")
    val batch = Search.bm25TopKBatch(corpus, queries, k = 10).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    for (qid <- Seq("a", "b")) {
      val terms = if (qid == "a") Seq("spark", "quantum") else Seq("quantum")
      val scan = Search.bm25TopK(corpus, terms, k = 10).collect()
        .map(r => (r.getLong(0), r.getDouble(1)))
      val got = batch.filter(_._1 == qid).sortBy(_._4).map(t => (t._2, t._3))
      assert(got.map(_._1).toSeq == scan.map(_._1).toSeq, s"ranking for $qid")
      got.zip(scan).foreach { case ((_, s1), (_, s2)) =>
        assert(math.abs(s1 - s2) < 1e-9, s"score drift for $qid: $s1 vs $s2")
      }
    }
  }

  test("bm25TopKBatch: scores are bit-identical across input partitionings") {
    // the per-(query,doc) score is a value-sorted fold, not a partial
    // shuffle sum — so the doubles cannot depend on how the corpus was
    // partitioned (the property the q_bm25_batch DuckDB oracle relies on)
    val queries = Seq(("a", "spark"), ("a", "quantum"), ("b", "quantum"))
      .toDF("query_id", "term")
    def run(parts: Int): Seq[(String, Long, Double, Int)] = {
      val out = Search.bm25TopKBatch(corpus.repartition(parts), queries, k = 10)
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .sortBy(t => (t._1, t._4)).toSeq
      spark.catalog.clearCache()
      out
    }
    val a = run(1)
    val b = run(7)
    assert(a == b, "batch BM25 scores drifted with input partitioning")
    a.zip(b).foreach { case ((_, _, s1, _), (_, _, s2, _)) =>
      assert(java.lang.Double.doubleToLongBits(s1) ==
        java.lang.Double.doubleToLongBits(s2), s"ulp drift: $s1 vs $s2")
    }
  }

  test("bm25TopKBatch: corpus is tokenized once (cached scan feeds stats and tf)") {
    val queries = Seq(("a", "spark")).toDF("query_id", "term")
    val plan = Search.bm25TopKBatch(corpus, queries, k = 5)
      .queryExecution.executedPlan.toString
    // both consumers (the single-row stats agg and the exploded tf stream)
    // must read the persisted token table, not re-run the tokenizer
    val scans = "InMemoryTableScan".r.findAllIn(plan).size
    assert(scans >= 2, s"expected both branches on the cached token scan:\n$plan")
    spark.catalog.clearCache()
  }

  test("standing index: build+append probe matches the scan-side operator exactly") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bm25idx").toString
    // two-step construction: the append path must leave the index
    // equivalent to a fresh build over the union (df/avdl from increment
    // sums)
    Search.bm25BuildIndex(corpus.filter($"doc_id" <= 3), dir)
    Search.bm25IndexAppend(corpus.filter($"doc_id" > 3), dir)
    for (terms <- Seq(Seq("spark", "quantum"), Seq("quantum"), Seq("rare"))) {
      val scan = Search.bm25TopK(corpus, terms, k = 10).collect()
        .map(r => (r.getLong(0), r.getDouble(1)))
      val probe = Search.bm25IndexProbe(spark, dir, terms, k = 10).collect()
        .map(r => (r.getLong(0), r.getDouble(1)))
      assert(probe.map(_._1).toSeq == scan.map(_._1).toSeq,
        s"ranking for $terms: ${probe.toSeq} vs ${scan.toSeq}")
      probe.zip(scan).foreach { case ((_, s1), (_, s2)) =>
        assert(math.abs(s1 - s2) < 1e-9, s"score drift for $terms: $s1 vs $s2")
      }
    }
    // a term absent from the index returns no rows (not an error)
    assert(Search.bm25IndexProbe(spark, dir, Seq("absentterm"), k = 5).count() == 0)
  }

  test("standing index: probe plan pushes the term filter into the postings scan") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bm25idx_plan").toString
    Search.bm25BuildIndex(corpus, dir)
    val plan = Search.bm25LivePostings(spark, dir, Seq("spark", "quantum"))
      .queryExecution.executedPlan.toString
    // the pushed IN filter is what keeps probe IO tied to the query
    // vocabulary (row-group skipping over the term-sorted layout), and the
    // corpus text is nowhere in the plan
    assert(plan.contains("PushedFilters: [In(term"),
      s"term filter not pushed to the postings scan:\n$plan")
    assert(!plan.toLowerCase.contains("text"), "probe plan touches corpus text")
    // df is counted from the collected postings: no df table is read
    assert(!plan.contains("/terms"), s"probe plan reads a terms table:\n$plan")
    // no maintenance verb writes a terms/ dir either
    def noTermsDir(step: String): Unit =
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "terms")),
        s"$step left a terms/ dir")
    noTermsDir("build")
    Search.bm25IndexAppend(Seq((7L, "spark quantum appended")).toDF("doc_id", "text"), dir)
    noTermsDir("append")
    assert(Search.bm25IndexDelete(spark, dir, Seq(1L).toDF("doc_id")) == 1L)
    noTermsDir("delete")
    Search.bm25IndexCompact(spark, dir)
    noTermsDir("compact")
  }

  test("standing index: a probe runs 2 jobs (3 with deletes/), each labelled with its phase") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bm25idx_jobs").toString
    Search.bm25BuildIndex(corpus, dir)
    val sc = spark.sparkContext
    def probeJobs(): Seq[String] = {
      val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          seen.add(String.valueOf(j.properties.getProperty("spark.job.description")))
      }
      // earlier jobs' queued events must not reach this listener
      org.apache.spark.BusDrain(sc)
      sc.addSparkListener(listener)
      sc.setJobDescription("caller")
      try {
        val got = Search.bm25IndexProbe(spark, dir, Seq("spark", "quantum"), k = 5).collect()
        assert(got.nonEmpty)
        assert(sc.getLocalProperty("spark.job.description") == "caller",
          "the probe did not restore the caller's job description")
        org.apache.spark.BusDrain(sc)
      } finally {
        sc.removeSparkListener(listener)
        sc.setJobDescription(null)
      }
      seen.toArray(Array.empty[String]).toSeq
    }
    val label = s"graft bm25IndexProbe $dir phase="
    val plain = probeJobs()
    assert(plain.size <= 2, s"probe ran ${plain.size} jobs: $plain")
    assert(plain.toSet == Set(label + "stats", label + "postings"), plain)
    assert(Search.bm25IndexDelete(spark, dir, Seq(1L).toDF("doc_id")) == 1L)
    val masked = probeJobs()
    assert(masked.size <= 3, s"probe with deletes/ ran ${masked.size} jobs: $masked")
    assert(masked.toSet == Set(label + "stats", label + "postings"), masked)
  }

  test("standing index: probe is bit-identical to bm25TopK over the live docs (random corpora)") {
    import org.apache.spark.sql.DataFrame
    val vocab = Seq("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta")
    def bits(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), java.lang.Double.doubleToLongBits(r.getDouble(1)))).toSeq
    (1 to 20).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val nDocs = 6 + rnd.nextInt(20)
      // min of two draws skews toward the first words, so tokens repeat
      // within a doc; zero-token docs count in n_docs and avdl too
      val docs = rnd.shuffle((1L to 3L * nDocs).toList).take(nDocs).map(id => id ->
        Seq.fill(rnd.nextInt(10))(vocab(math.min(rnd.nextInt(8), rnd.nextInt(8))))
          .mkString(" "))
      val dir = java.nio.file.Files.createTempDirectory("graft_bm25idx_parity").toString
      Search.bm25BuildIndex(docs.take(nDocs / 2).toDF("doc_id", "text"), dir)
      Search.bm25IndexAppend(docs.drop(nDocs / 2).toDF("doc_id", "text"), dir)
      // victims hold tokens (a zero-token doc's n_docs decrement is the
      // documented drift); one id was never indexed
      val victims = rnd.shuffle(docs.filter(_._2.nonEmpty).map(_._1))
        .take(1 + rnd.nextInt(3)) :+ (1000L + seed)
      def check(state: String, live: Seq[(Long, String)]): Unit = {
        val terms = rnd.shuffle(vocab :+ "absent").take(1 + rnd.nextInt(4))
        val k = 1 + rnd.nextInt(nDocs)
        val want = bits(Search.bm25TopK(live.toDF("doc_id", "text"), terms, k))
        val got = bits(Search.bm25IndexProbe(spark, dir, terms, k))
        assert(got == want, s"seed $seed $state, terms $terms, k $k")
      }
      check("after append", docs)
      Search.bm25IndexDelete(spark, dir, victims.toDF("doc_id"))
      val survivors = docs.filterNot(d => victims.contains(d._1))
      check("after delete", survivors)
      Search.bm25IndexCompact(spark, dir)
      check("after compact", survivors)
    }
  }

  test("standing index: a non-integral id column fails the build, naming the column") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bm25idx_id").toString
    val e = intercept[IllegalArgumentException](Search.bm25BuildIndex(
      Seq(("a1", "spark runs")).toDF("key", "text"), dir, idCol = "key"))
    assert(e.getMessage.contains("'key'"), e.getMessage)
  }

  test("standing index: a stray terms/ table does not change probe scores") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bm25idx_terms").toString
    Search.bm25BuildIndex(corpus, dir)
    def probeBits(terms: Seq[String]) =
      Search.bm25IndexProbe(spark, dir, terms, k = 10).collect()
        .map(r => (r.getLong(0), java.lang.Double.doubleToLongBits(r.getDouble(1)))).toSeq
    val queries = Seq(Seq("spark", "quantum"), Seq("quantum"), Seq("rare"))
    val clean = queries.map(probeBits)
    // a (term, df) table with wrong counts, as an older layout would
    // have left it beside the postings
    Seq(("spark", 1L), ("quantum", 5L), ("rare", 3L)).toDF("term", "df")
      .write.parquet(s"$dir/terms")
    assert(queries.map(probeBits) == clean, "probe read the stray terms/ table")
  }

  test("standing index: replayed append batch is skipped — no df/tf double-count") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bm25idx_rp").toString
    Search.bm25BuildIndex(corpus.filter($"doc_id" <= 3), dir)
    val batch = corpus.filter($"doc_id" > 3)
    assert(Search.bm25IndexAppendIdempotent(batch, dir, batchId = 0L))
    val once = Search.bm25IndexProbe(spark, dir, Seq("spark", "quantum"), k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // the replay: same batch, same id — must be a no-op
    assert(!Search.bm25IndexAppendIdempotent(batch, dir, batchId = 0L))
    val again = Search.bm25IndexProbe(spark, dir, Seq("spark", "quantum"), k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(again == once, "replayed batch changed probe results")
    // and the results still match the scan-side truth over the union
    val scan = Search.bm25TopK(corpus, Seq("spark", "quantum"), k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(once.map(_._1) == scan.map(_._1))
    once.zip(scan).foreach { case ((_, s1), (_, s2)) =>
      assert(math.abs(s1 - s2) < 1e-9)
    }
  }

  test("standing index: maintained append loop keeps file counts bounded, probe results exact") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bm25idx_cp").toString
    val docs = (1L to 40L).map(i =>
      (i, s"spark doc$i " + (if (i % 4 == 0) "quantum " else "") + "common words here"))
      .toDF("doc_id", "text")
    Search.bm25BuildIndex(docs.filter($"doc_id" <= 4), dir)
    // 9 appends of 4 docs each, compacting past the threshold
    for (b <- 1 to 9) {
      val lo = b * 4L
      assert(Search.bm25IndexAppendIdempotent(
        docs.filter($"doc_id" > lo && $"doc_id" <= lo + 4), dir, batchId = b.toLong))
      Search.bm25IndexMaintain(spark, dir, maxFiles = 8)
    }
    // bounded: threshold + one batch's burst, never 10 appends' worth
    for (d <- Seq("postings", "stats")) {
      val n = graft.io.Sinks.parquetFileCount(spark, s"$dir/$d")
      assert(n <= 8 + 32, s"$d grew unbounded: $n files") // burst ≤ shuffle partitions
    }
    // folded increments + re-sorted postings reproduce the scan-side truth
    val scan = Search.bm25TopK(docs, Seq("spark", "quantum"), k = 15)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val probe = Search.bm25IndexProbe(spark, dir, Seq("spark", "quantum"), k = 15)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(probe.map(_._1) == scan.map(_._1))
    probe.zip(scan).foreach { case ((_, s1), (_, s2)) =>
      assert(math.abs(s1 - s2) < 1e-9)
    }
    // an explicit compact folds stats to one row — and probe results
    // stay bit-identical (integer increment sums)
    Search.bm25IndexCompact(spark, dir)
    assert(spark.read.parquet(s"$dir/stats").count() == 1)
    val probe2 = Search.bm25IndexProbe(spark, dir, Seq("spark", "quantum"), k = 15)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(probe2 == probe, "compaction changed probe results")
  }

  test("standing index: retraction scores the survivors exactly as a build without them") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bm25idx_del").toString
    Search.bm25BuildIndex(corpus, dir)
    import org.apache.spark.sql.functions.col
    // takedown of the high-tf doc and the dual-term doc
    assert(Search.bm25IndexDelete(spark, dir, Seq(1L, 6L).toDF("doc_id")) == 2L)
    val truthDir = java.nio.file.Files.createTempDirectory("graft_bm25idx_truth").toString
    Search.bm25BuildIndex(corpus.filter(!col("doc_id").isin(1L, 6L)), truthDir)
    def probeBoth(terms: Seq[String]) = (
      Search.bm25IndexProbe(spark, dir, terms, k = 10).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq,
      Search.bm25IndexProbe(spark, truthDir, terms, k = 10).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq)
    for (terms <- Seq(Seq("spark", "quantum"), Seq("quantum"), Seq("filler"))) {
      val (got, want) = probeBoth(terms)
      // BIT-equality, scores included: the negative df/stats increments
      // must restore the exact minus-corpus score inputs
      assert(got == want, s"post-delete probe for $terms: $got vs $want")
      assert(!got.exists(r => r._1 == 1L || r._1 == 6L))
    }
    // replayed delete: registry guard makes it a no-op, no double decrement
    assert(Search.bm25IndexDelete(spark, dir, Seq(1L, 6L).toDF("doc_id")) == 0L)
    // compaction physically drops the dead postings; probe unchanged
    val before = probeBoth(Seq("spark", "quantum"))._1
    Search.bm25IndexCompact(spark, dir)
    assert(spark.read.parquet(s"$dir/postings")
      .filter(col("doc_id").isin(1L, 6L)).count() == 0)
    assert(probeBoth(Seq("spark", "quantum"))._1 == before)
    // post-compaction replay finds no postings to decrement — still a no-op
    assert(Search.bm25IndexDelete(spark, dir, Seq(1L).toDF("doc_id")) == 0L)
    assert(probeBoth(Seq("spark", "quantum"))._1 == before)
  }

  test("bm25TopK: k truncates after the full ordering; validations reject bad input") {
    val top2 = Search.bm25TopK(corpus, Seq("spark", "quantum"), k = 2)
      .collect().map(_.getLong(0)).toSeq
    val all = Search.bm25TopK(corpus, Seq("spark", "quantum"), k = 10)
      .collect().map(_.getLong(0)).toSeq
    assert(top2 == all.take(2))
    intercept[IllegalArgumentException] {
      Search.bm25TopK(corpus, Seq.empty, k = 5)
    }
    intercept[IllegalArgumentException] {
      Search.bm25TopK(corpus, Seq("a", "a"), k = 5)
    }
  }
}
