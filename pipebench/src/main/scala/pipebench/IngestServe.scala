package pipebench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.io.Sources
import graft.operators.{CorpusPipeline, Search}

/** Live ingest beside search: documents arrive one file per microbatch
  * through `CorpusPipeline.writeStreamIndexed`, which dedups each batch
  * against the standing signature table and appends to the standing BM25
  * index; after each commit one client issues a closed loop of
  * `Search.bm25IndexProbe` calls. Every round starts from empty state, so
  * all rounds do the same work. */
final class IngestServe extends Workload {
  import IngestServe.Doc
  val batches = 3
  val freshPerBatch = 100
  val crossTwins = 15
  val intraTwins = 8
  val probesPerCommit = 3
  val k = 10
  /** Small enough that index compaction runs within a round. */
  val maxIndexFiles = 2
  def sizeTag = s"b$batches-d$freshPerBatch"
  def flowSpan = "stream"

  /** The microbatches and the probe queries after each commit. */
  private lazy val plan: (Seq[Seq[Doc]], Seq[Seq[Seq[String]]]) = {
    val r = Seeds.stream("ingest")
    var next = 1L
    val kept = mutable.ArrayBuffer.empty[Doc]
    val bs = (0 until batches).map { b =>
      val fresh = (0 until freshPerBatch).map { _ =>
        next += 1 + r.nextInt(3)
        Doc(next, Text.zipfWords(r, 50 + r.nextInt(50)).mkString(" "), keeper = true)
      }
      // one-word edits (shingle Jaccard ~0.9): of a doc in this batch,
      // with a larger id so the smaller-id original is kept, and of docs
      // committed by earlier batches
      def twin(of: Doc) = {
        next += 1
        val ws = of.text.split(" ").toIndexedSeq
        Doc(next, Text.substitute(r, ws, r.nextInt(ws.size)).mkString(" "), keeper = false)
      }
      val intra = (0 until intraTwins).map(_ => twin(fresh(r.nextInt(fresh.size))))
      val cross = if (kept.isEmpty) Nil else (0 until crossTwins).map(_ => twin(kept(r.nextInt(kept.size))))
      kept ++= fresh
      r.shuffle(fresh ++ intra ++ cross)
    }
    // the same queries for every seed, so that the probe work does not
    // change with the seed's draw of frequent or rare terms
    val qr = new scala.util.Random(7)
    val queries = bs.map(_ => (0 until probesPerCommit).map(_ => Bm25.query(qr)))
    (bs, queries)
  }

  def stage(spark: SparkSession, dir: Path): Unit =
    plan._1.zipWithIndex.foreach { case (b, i) =>
      Files2.write(dir.resolve(f"batch-$i%03d.jsonl"), b.map(d =>
        s"""{"doc_id": ${d.id}, "text": "${d.text}"}""").mkString("", "\n", "\n"))
    }

  private def ids(spark: SparkSession, dir: Path): Set[Long] =
    spark.read.parquet(dir.toString).select("doc_id").collect().map(_.getLong(0)).toSet

  private def indexFiles(dir: Path): Int =
    Files2.files(dir, _.endsWith(".parquet")).count(p =>
      !dir.relativize(p).toString.split('/').exists(_.startsWith(".")))

  /** One stream from empty state over every microbatch. `span` wraps the
    * commits and probes when tracing. */
  private def stream(spark: SparkSession, in: Path, work: Path, rec: Recorder,
      span: (String, () => Unit) => Unit): (Int, Int) = {
    val (bs, queries) = plan
    val root = work.resolve("ingest")
    Files2.deleteTree(root)
    val src = root.resolve("landing")
    Files.createDirectories(src)
    val corpus = root.resolve("corpus")
    val sigs = root.resolve("sigs")
    val index = root.resolve("index")
    val query = CorpusPipeline.writeStreamIndexed(
      Sources.readJsonlStream(spark, src.toString).select("doc_id", "text"),
      corpus.toString, sigs.toString, index.toString, root.resolve("checkpoint").toString,
      maxIndexFiles = maxIndexFiles)
    val ref = new Bm25
    var attempted = 0
    var failed = 0
    var compactions = 0
    var lastFiles = 0
    var streamSeconds = 0.0
    try {
      bs.zipWithIndex.foreach { case (b, i) =>
        // land the batch atomically: hidden name first, then rename
        val hidden = src.resolve(f".batch-$i%03d.jsonl")
        Files.copy(in.resolve(f"batch-$i%03d.jsonl"), hidden)
        span("operators.commit", () => {
          val t0 = System.nanoTime()
          Files.move(hidden, src.resolve(f"batch-$i%03d.jsonl"), StandardCopyOption.ATOMIC_MOVE)
          query.processAllAvailable()
          streamSeconds += Bench.secondsSince(t0)
        })
        attempted += 1
        b.filter(_.keeper).foreach(d => ref.add(d.id, d.text))
        val files = indexFiles(index)
        if (files < lastFiles) compactions += 1
        lastFiles = files
        rec.add("io.index_files", files.toDouble)
        queries(i).foreach { terms =>
          var got: Seq[(Long, Double)] = Nil
          span("operators.probe", () => {
            val t0 = System.nanoTime()
            got = Search.bm25IndexProbe(spark, index.toString, terms, k).collect()
              .map(r => (r.getLong(0), r.getDouble(1))).toSeq
            rec.add("probe_ms", Bench.secondsSince(t0) * 1000)
          })
          attempted += 1
          if (!ref.agrees(terms, k, got)) {
            failed += 1
            rec.failure(s"probe ${terms.mkString(" ")} after batch $i: got ${got.take(3)}, " +
              s"expected ${ref.topK(terms, k).take(3)}")
          }
        }
      }
    } finally query.stop()
    rec.add("run_s", streamSeconds)
    rec.add("operators.compactions", compactions)
    // the final corpus holds exactly the keepers; the signature table and
    // the bucket index cover exactly the corpus ids
    val keepers = bs.flatten.filter(_.keeper).map(_.id).toSet
    val got = ids(spark, corpus)
    val offered = bs.map(_.size).sum
    rec.add("operators.dedup_kept_ratio", got.size.toDouble / offered)
    rec.add("io.sig_table_mb", Files2.treeBytes(sigs) / Bench.MB)
    val okCorpus = got == keepers
    if (!okCorpus) rec.failure(s"corpus: ${got.size} docs vs ${keepers.size} keepers; " +
      s"missing e.g. ${(keepers -- got).take(3)}; unexpected e.g. ${(got -- keepers).take(3)}")
    val okSigs = ids(spark, sigs) == got
    if (!okSigs) rec.failure("signature table ids differ from corpus ids")
    val okBuckets = ids(spark, root.resolve("sigs.buckets")) == got
    if (!okBuckets) rec.failure("bucket table ids differ from corpus ids")
    attempted += 1
    if (!(okCorpus && okSigs && okBuckets)) failed += 1
    (attempted, failed)
  }

  def round(spark: SparkSession, in: Path, work: Path, rec: Recorder): (Int, Int) =
    stream(spark, in, work, rec, (_, f) => f())

  /** None: a warm-up stream, even of one microbatch, costs half a round
    * in a fresh session. The cold first commit is part of the stream's
    * summed commit time, as it is for a restarted stream. */
  override def warmup(spark: SparkSession, in: Path, work: Path): Unit = ()

  def tracedRound(spark: SparkSession, in: Path, work: Path, rec: Recorder,
      tr: Tracer): (Int, Int) =
    tr.span("stream") { stream(spark, in, work, rec, (n, f) => tr.span(n)(f())) }

  def endToEnd(rec: Recorder): Seq[(String, Double, String)] = Seq(
    ("run_s", rec.median("run_s"), "s"),
    ("probe_p50_ms", rec.median("probe_ms"), "ms"))

  def perLayer(rec: Recorder, tr: Tracer): Seq[(String, Double, String)] = {
    def med(xs: Seq[Double]) = Stats.quantile(xs, 0.5)
    Seq(
      ("operators.commit_s", med(tr.totalSeconds("operators.commit")), "s"),
      ("operators.commit_jobs", med(tr.jobCounts("operators.commit")), "count"),
      ("operators.probe_s", med(tr.totalSeconds("operators.probe")), "s"),
      ("operators.probe_jobs", med(tr.jobCounts("operators.probe")), "count"),
      ("operators.dedup_kept_ratio", rec.median("operators.dedup_kept_ratio"), "ratio"),
      ("operators.compactions", rec.median("operators.compactions"), "count"),
      ("io.sig_table_mb", rec.median("io.sig_table_mb"), "MB"),
      ("io.index_files", rec.median("io.index_files"), "count"),
      ("traced.run_s", rec.median("run_s"), "s"))
  }
}

object IngestServe {
  /** `keeper`: the document must survive dedup and stay in the corpus. */
  final case class Doc(id: Long, text: String, keeper: Boolean)
}
