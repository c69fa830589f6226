package pipebench

import java.io.ByteArrayOutputStream
import java.nio.charset.Charset
import java.nio.charset.StandardCharsets.{US_ASCII, UTF_8}
import java.nio.file.{Files, Path}
import java.util.zip.GZIPOutputStream

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.io.{Sources, Warc}
import graft.operators.{BpeTokenizer, CorpusPipeline, Decontaminate, Dedup, Search, TokenShards}

/** The `curate-e2e` flow over a gzip-per-record WARC archive:
  * `Warc.readWarc` → `CorpusPipeline.curateArchive` (with a benchmark
  * set) → `BpeTokenizer.trainBpe` → `bpeEncodeIds` →
  * `TokenShards.writeTokenShards`. The generator plants every page kind
  * the flow must treat differently and remembers which pages must survive. */
final class CorpusCurate extends Workload {
  import CorpusCurate.Page
  val pages = 600
  val merges = 6
  /** Ad-hoc searches of the curated corpus per round. */
  val searches = 8
  /** The same queries for every seed, so that the search work does not
    * change with the seed's draw of frequent or rare terms. */
  private val queries = {
    val r = new scala.util.Random(11)
    Seq.fill(searches)(Bm25.query(r))
  }
  val shardTokens = 8192L
  def sizeTag = s"p$pages-m$merges"
  def flowSpan = "flow"

  private val win1251 = Charset.forName("windows-1251")
  private val latin1 = Charset.forName("ISO-8859-1")

  /** Every page of the archive, rebuilt from the seed, plus the benchmark
    * set (doc_id, text). */
  private lazy val plan: (Seq[Page], Seq[(Long, String)]) = {
    val r = Seeds.stream("curate")
    var n = 0
    def url(kind: String): String = {
      n += 1
      f"http://h${r.nextInt(400)}%03d.example/$kind/${r.alphanumeric.take(8).mkString.toLowerCase}-$n"
    }
    val out = mutable.ArrayBuffer.empty[Page]
    def english(lo: Int, hi: Int) = Text.zipfWords(r, lo + r.nextInt(hi - lo))
    def count(share: Double) = math.max(1, (pages * share).toInt)
    for (_ <- 0 until count(0.40)) {
      val t = english(60, 160).mkString(" ")
      out += Page(url("plain"), "text/plain; charset=utf-8", t.getBytes(UTF_8), "singleton", source = t)
    }
    for (_ <- 0 until count(0.10)) {
      val t = english(60, 160).mkString(" ")
      out += Page(url("bare"), "text/plain", t.getBytes(US_ASCII), "singleton", source = t)
    }
    for (_ <- 0 until count(0.10)) {
      val paras = (0 until 2 + r.nextInt(3)).map(_ => english(20, 50).mkString(" "))
      val html = paras.map(p => s"<p>$p</p>").mkString
      out += Page(url("html"), "text/html; charset=utf-8", html.getBytes(UTF_8), "singleton")
    }
    // legacy single-byte pages: declared and undeclared windows-1251,
    // declared ISO-8859-1
    for (i <- 0 until count(0.06)) {
      val t = IndexedSeq.fill(60 + r.nextInt(60))(Text.russian(r.nextInt(Text.russian.size))).mkString(" ")
      val ct = if (i % 2 == 0) "text/plain; charset=windows-1251" else "text/plain"
      out += Page(url("ru"), ct, t.getBytes(win1251), "legacy", source = t)
    }
    for (_ <- 0 until count(0.03)) {
      val t = IndexedSeq.fill(60 + r.nextInt(60))(Text.latin1(r.nextInt(Text.latin1.size))).mkString(" ")
      out += Page(url("fr"), "text/plain; charset=iso-8859-1", t.getBytes(latin1), "legacy", source = t)
    }
    // boilerplate: one navigation phrase repeated, dup-3-gram ratio > 0.9
    for (_ <- 0 until count(0.03)) {
      val phrase = Seq("home", "about", "contact", "privacy", "terms", "login",
        "search", "help").map(w => if (r.nextBoolean()) w else w + "s")
      val t = Seq.fill(20)(phrase.mkString(" ")).mkString(" ")
      out += Page(url("nav"), "text/plain; charset=utf-8", t.getBytes(UTF_8), "boilerplate")
    }
    // near-duplicate clusters with Zipf sizes: exact copies or one-word
    // edits of a base page (shingle Jaccard >= 0.88 between any two)
    var cluster = 0
    var planted = 0
    while (planted < pages * 0.22) {
      val size = 2 + Text.zipfRank(r, 7, 1.2)
      val base = english(110, 160)
      val exact = r.nextInt(3) == 0
      for (_ <- 0 until size) {
        val ws = if (exact) base else Text.substitute(r, base, r.nextInt(base.size))
        val t = ws.mkString(" ")
        out += Page(url("dup"), "text/plain; charset=utf-8", t.getBytes(UTF_8), "dup", cluster, t)
      }
      cluster += 1
      planted += size
    }
    // benchmark set; half its items leak into pages as one-word edits
    val bench = (0 until count(0.06)).map(i => (i.toLong + 1, english(70, 100)))
    bench.take(bench.size / 2).foreach { case (_, ws) =>
      val t = Text.substitute(r, ws, r.nextInt(ws.size)).mkString(" ")
      out += Page(url("leak"), "text/plain; charset=utf-8", t.getBytes(UTF_8), "contaminated")
    }
    (r.shuffle(out.toSeq), bench.map { case (i, ws) => (i, ws.mkString(" ")) })
  }

  /** URLs that must be exactly the curated survivors: every singleton and
    * legacy page, and the smallest URL of each duplicate cluster. */
  private lazy val survivors: Set[String] = {
    val (ps, _) = plan
    (ps.filter(p => p.kind == "singleton" || p.kind == "legacy").map(_.url) ++
      ps.filter(_.kind == "dup").groupBy(_.cluster).values.map(_.map(_.url).min)).toSet
  }

  private def record(p: Page): Array[Byte] = {
    val http = (s"HTTP/1.1 200 OK\r\nContent-Type: ${p.contentType}\r\n" +
      s"Content-Length: ${p.payload.length}\r\n\r\n").getBytes(US_ASCII)
    val rec = new ByteArrayOutputStream()
    rec.write((s"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: ${p.url}\r\n" +
      s"WARC-Date: 2024-05-01T00:00:00Z\r\n" +
      s"Content-Length: ${http.length + p.payload.length}\r\n\r\n").getBytes(US_ASCII))
    rec.write(http)
    rec.write(p.payload)
    rec.write("\r\n\r\n".getBytes(US_ASCII))
    rec.toByteArray
  }

  def stage(spark: SparkSession, dir: Path): Unit = {
    val (ps, bench) = plan
    val warc = dir.resolve("warc")
    Files.createDirectories(warc)
    // four segments, every record its own gzip member
    ps.grouped((ps.size + 3) / 4).zipWithIndex.foreach { case (seg, i) =>
      val out = new ByteArrayOutputStream()
      seg.foreach { p =>
        val gz = new GZIPOutputStream(out)
        gz.write(record(p))
        gz.finish()
      }
      Files.write(warc.resolve(s"seg$i.warc.gz"), out.toByteArray)
    }
    Files2.write(dir.resolve("bench").resolve("bench.jsonl"), bench.map { case (i, t) =>
      s"""{"doc_id": $i, "text": "$t"}""" }.mkString("", "\n", "\n"))
  }

  private def warcPath(in: Path) = in.resolve("warc").toString
  private def benchSet(spark: SparkSession, in: Path) =
    Sources.readJsonl(spark, in.resolve("bench").toString).select("doc_id", "text")

  // ---- checks ---------------------------------------------------------------

  /** The curated documents as written: (doc_id, url, text). */
  private def survivorsOf(spark: SparkSession, out: Path): Seq[(Long, String, String)] =
    spark.read.parquet(out.resolve("documents").toString)
      .select("doc_id", "url", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq

  /** Survivors must be exactly the expected URLs, legacy pages must
    * decode to their source text, and the shards decoded with the model's
    * vocabulary must reproduce every survivor's whitespace tokens. */
  private def check(spark: SparkSession, out: Path, vocab: Map[String, Int],
      docs: Seq[(Long, String, String)], rec: Recorder): Boolean = {
    val got = docs.map(_._2).toSet
    var ok = true
    if (got != survivors) {
      ok = false
      rec.failure(s"survivors: ${got.size} vs ${survivors.size} expected; " +
        s"missing e.g. ${(survivors -- got).take(3).mkString(" ")}; " +
        s"unexpected e.g. ${(got -- survivors).take(3).mkString(" ")}")
    }
    val byUrl = docs.map(d => d._2 -> d._3).toMap
    plan._1.filter(_.kind == "legacy").foreach { p =>
      if (byUrl.get(p.url).exists(_ != p.source)) {
        ok = false
        rec.failure(s"legacy page ${p.url} (${p.contentType}) did not decode to its source text")
      }
    }
    // shards: the id streams in shard order are the documents in doc_id
    // order, each closed by the end-of-sequence id
    val manifest = spark.read.parquet(out.resolve("shards").resolve("manifest").toString)
      .select("shard_id", "file", "byte_width", "n_tokens").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getLong(3))).sortBy(_._1)
    val ids = manifest.iterator.flatMap { case (_, file, w, _) =>
      val b = Files.readAllBytes(out.resolve("shards").resolve(file))
      (0 until b.length / w).iterator.map { i =>
        if (w == 2) (b(2 * i) & 0xff) | ((b(2 * i + 1) & 0xff) << 8)
        else java.nio.ByteBuffer.wrap(b, 4 * i, 4).order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
      }
    }.toArray
    val eos = vocab.size
    val inverse = vocab.map(_.swap)
    val seqs = mutable.ArrayBuffer.empty[Array[Int]]
    var start = 0
    for (i <- ids.indices if ids(i) == eos) { seqs += ids.slice(start, i); start = i + 1 }
    val sorted = docs.sortBy(_._1)
    val total = manifest.map(_._4).sum
    if (start != ids.length || seqs.size != sorted.length ||
        total != sorted.length + seqs.map(_.length.toLong).sum) {
      ok = false
      rec.failure(s"shards: ${seqs.size} sequences for ${sorted.length} docs, " +
        s"manifest total $total")
    } else {
      sorted.zip(seqs).foreach { case ((_, u, text), s) =>
        val words = s.map(inverse.getOrElse(_, "\u0000")).mkString
          .split(BpeTokenizer.EOW, -1).dropRight(1).toSeq
        if (words != text.split("\\s+").filter(_.nonEmpty).toSeq) {
          ok = false
          rec.failure(s"shards: tokens of $u do not decode to its text")
        }
      }
    }
    rec.add("tokens_written", total.toDouble)
    ok
  }

  // ---- rounds ---------------------------------------------------------------

  /** The flow as the `curate-e2e` command composes it; returns the
    * model's vocabulary. */
  private def flow(spark: SparkSession, in: Path, out: Path): Map[String, Int] = {
    val docs = CorpusPipeline.curateArchive(Warc.readWarc(spark, warcPath(in)),
        Some(benchSet(spark, in)))
      .persist(StorageLevel.MEMORY_AND_DISK)
    docs.write.mode("overwrite").parquet(out.resolve("documents").toString)
    val model = BpeTokenizer.trainBpe(docs.select("doc_id", "text"), numMerges = merges)
    BpeTokenizer.saveModel(model, out.resolve("bpe").toString)
    val vocab = BpeTokenizer.vocabMap(model)
    TokenShards.writeTokenShards(
      BpeTokenizer.bpeEncodeIds(docs.select("doc_id", "text"), model.merges, vocab),
      out.resolve("shards").toString, shardTokens,
      vocabSize = vocab.size + 1, eosId = vocab.size)
    docs.unpersist()
    vocab
  }

  /** None. Like the `curate-e2e` command, which pays its cold start on
    * every invocation, the round is timed in a fresh session: a warm-up
    * flow, even over one archive segment, costs as much as the round. */
  override def warmup(spark: SparkSession, in: Path, work: Path): Unit = ()

  def round(spark: SparkSession, in: Path, work: Path, rec: Recorder): (Int, Int) = {
    val out = work.resolve("out")
    Files2.deleteTree(out)
    val (vocab, s) = Bench.timed(flow(spark, in, out))
    rec.add("run_s", s)
    val docs = survivorsOf(spark, out)
    var failed = if (check(spark, out, vocab, docs, rec)) 0 else 1
    // a client searches the curated corpus ad hoc
    val docsDir = out.resolve("documents").toString
    val ref = new Bm25
    docs.foreach { case (id, _, text) => ref.add(id, text) }
    for (terms <- queries) {
      val (got, t) = Bench.timed(Search.bm25TopK(spark.read.parquet(docsDir), terms, 10)
        .collect().map(x => (x.getLong(0), x.getDouble(1))).toSeq)
      rec.add("probe_ms", t * 1000)
      if (!ref.agrees(terms, 10, got)) {
        failed += 1
        rec.failure(s"search ${terms.mkString(" ")}: got ${got.take(3)}, expected ${ref.topK(terms, 10).take(3)}")
      }
    }
    (1 + searches, failed)
  }

  def tracedRound(spark: SparkSession, in: Path, work: Path, rec: Recorder,
      tr: Tracer): (Int, Int) = {
    val cached = mutable.ArrayBuffer.empty[DataFrame]
    def step(span: String, df: => DataFrame) = tr.step(span, cached)(df)
    def rows(df: DataFrame): Double = df.groupBy().count().collect()(0).getLong(0).toDouble
    // the flow itself first, each call under its span, so that it runs as
    // cold as the untraced round and their difference is the tracing cost
    val out = work.resolve("out")
    Files2.deleteTree(out)
    val vocab = tr.span("flow") {
      val curated = tr.span("operators.curate_archive") {
        val d = CorpusPipeline.curateArchive(Warc.readWarc(spark, warcPath(in)),
            Some(benchSet(spark, in))).persist(StorageLevel.MEMORY_AND_DISK)
        d.write.mode("overwrite").parquet(out.resolve("documents").toString)
        d
      }
      val wf = step("operators.bpe_word_freq",
        BpeTokenizer.wordFrequencies(curated.select("doc_id", "text")))
      val model = tr.span("operators.bpe_learn") { BpeTokenizer.learnMerges(wf, merges) }
      rec.add("operators.bpe_merges", model.merges.size.toDouble)
      BpeTokenizer.saveModel(model, out.resolve("bpe").toString)
      val vocab = BpeTokenizer.vocabMap(model)
      val enc = step("operators.bpe_encode",
        BpeTokenizer.bpeEncodeIds(curated.select("doc_id", "text"), model.merges, vocab))
      tr.span("operators.token_shards") {
        TokenShards.writeTokenShards(enc, out.resolve("shards").toString, shardTokens,
          vocabSize = vocab.size + 1, eosId = vocab.size)
      }
      curated.unpersist()
      vocab
    }
    // the layers of curateArchive, each public call materialized alone
    val recs = step("io.read_warc", Warc.readWarc(spark, warcPath(in)).toDF())
    rec.add("io.warc_records", rows(recs))
    import spark.implicits._
    val docs = step("io.to_documents",
      Warc.toDocumentsDetected(recs.as[Warc.WarcRecord]))
    val scored = step("operators.score_filter", CorpusPipeline.scoreAndFilter(docs))
    rec.add("operators.score_keep_ratio", rows(scored) / rows(docs))
    val sigs = step("operators.minhash_sig", Dedup.minhashSignatureTable(scored, "url", "text"))
    val pairs = step("operators.lsh_pairs",
      Dedup.minhashNearDupPairs(scored, "url", "text", sigs = Some(sigs)))
    val buckets = Dedup.minhashBucketTable(sigs)
    val candidates = rows(buckets.as("a").join(buckets.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id")).distinct())
    val verified = rows(pairs)
    rec.add("operators.lsh_candidate_pairs", candidates)
    rec.add("operators.lsh_verified_pairs", verified)
    rec.add("operators.lsh_precision", if (candidates == 0) 1.0 else verified / candidates)
    val deduped = scored.join(pairs.select(col("id_b").as("url")).distinct(), Seq("url"), "left_anti")
    step("operators.decontaminate",
      Decontaminate.nearContaminatedIds(deduped, benchSet(spark, in)))

    cached.foreach(_.unpersist(true))
    (1, if (check(spark, out, vocab, survivorsOf(spark, out), rec)) 0 else 1)
  }

  def endToEnd(rec: Recorder): Seq[(String, Double, String)] = Seq(
    ("run_s", rec.median("run_s"), "s"),
    ("probe_p50_ms", rec.median("probe_ms"), "ms"))

  def perLayer(rec: Recorder, tr: Tracer): Seq[(String, Double, String)] = {
    def med(xs: Seq[Double]) = Stats.quantile(xs, 0.5)
    val learn = med(tr.selfSeconds("operators.bpe_learn"))
    Seq("io.read_warc", "io.to_documents", "operators.score_filter",
      "operators.minhash_sig", "operators.lsh_pairs", "operators.decontaminate",
      "operators.curate_archive", "operators.bpe_word_freq", "operators.bpe_learn",
      "operators.bpe_encode", "operators.token_shards")
      .map(n => (s"${n}_s", med(tr.selfSeconds(n)), "s")) ++
    Seq(
      ("io.warc_records", rec.median("io.warc_records"), "count"),
      ("operators.score_keep_ratio", rec.median("operators.score_keep_ratio"), "ratio"),
      ("operators.lsh_candidate_pairs", rec.median("operators.lsh_candidate_pairs"), "count"),
      ("operators.lsh_verified_pairs", rec.median("operators.lsh_verified_pairs"), "count"),
      ("operators.lsh_precision", rec.median("operators.lsh_precision"), "ratio"),
      ("operators.bpe_merge_s", learn / math.max(1.0, rec.median("operators.bpe_merges")), "s"),
      ("operators.bpe_jobs", med(tr.jobCounts("operators.bpe_learn")), "count"),
      ("operators.tokens_written", rec.median("tokens_written"), "count"),
      ("traced.run_s", med(tr.totalSeconds("flow")), "s"))
  }
}

object CorpusCurate {
  /** One archive page: `kind` is singleton, legacy, boilerplate, dup or
    * contaminated; `source` is the text a page must decode to. */
  final case class Page(url: String, contentType: String, payload: Array[Byte],
      kind: String, cluster: Int = -1, source: String = null)
}
