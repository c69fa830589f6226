package pipebench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One workload: stage seeded inputs, then run closed-loop rounds until
  * the measuring time is spent. Each round is a fixed set of operations,
  * each checked against values computed apart from the program. */
trait Workload {
  /** Write the inputs for the run's seed under `dir`. Called only when the
    * (seed, size) cache entry is missing; what the checks need is rebuilt
    * from the seed on every run. */
  def stage(spark: SparkSession, dir: Path): Unit
  /** One untraced round; returns the operations attempted and failed. */
  def round(spark: SparkSession, in: Path, work: Path, rec: Recorder): (Int, Int)
  /** One traced round: every public call materialized under its span. */
  def tracedRound(spark: SparkSession, in: Path, work: Path, rec: Recorder,
      tr: Tracer): (Int, Int)
  /** The end-to-end metrics of the untraced rounds. */
  def endToEnd(rec: Recorder): Seq[(String, Double, String)]
  /** Per-layer metrics of the traced rounds. */
  def perLayer(rec: Recorder, tr: Tracer): Seq[(String, Double, String)]
  /** A short tag naming the input size, part of the cache key. */
  def sizeTag: String
  /** The traced span holding the workload's end-to-end flow. */
  def flowSpan: String
  /** Exercise every code path once before measuring (not checked). */
  def warmup(spark: SparkSession, in: Path, work: Path): Unit =
    round(spark, in, work, new Recorder)
}

/** Samples and counts gathered over a run. */
final class Recorder {
  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val notes = mutable.LinkedHashMap.empty[String, String]
  def add(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
  def all(name: String): Seq[Double] = samples.get(name).map(_.toSeq).getOrElse(Nil)
  def median(name: String): Double = Stats.quantile(all(name), 0.5)
  def failure(what: String): Unit = {
    val n = notes.size
    if (n < 20) notes(s"failure_$n") = what
    System.err.println(s"[pipebench] CHECK FAILED: $what")
  }
}

object Stats {
  /** Linear-interpolated quantile (the median of an even count is the
    * mean of the middle pair). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

object Files2 {
  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val all = Files.walk(p).iterator().asScala.toSeq.reverse
    all.foreach(Files.deleteIfExists)
  }
  def write(p: Path, s: String): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, s.getBytes(UTF_8))
  }
  /** Bytes under `p`, every regular file. */
  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
      .map(Files.size).sum
  /** Regular files under `p` whose name satisfies `ok`. */
  def files(p: Path, ok: String => Boolean): Seq[Path] =
    if (!Files.exists(p)) Nil
    else Files.walk(p).iterator().asScala
      .filter(f => Files.isRegularFile(f) && ok(f.getFileName.toString))
      .toSeq.sortBy(_.toString)
  /** Data lines of Spark's headered CSV/TSV part files under `dir`. */
  def tsvRows(dir: Path): Seq[String] =
    files(dir, n => n.startsWith("part-")).flatMap { f =>
      val lines = Files.readAllLines(f, UTF_8).asScala.toSeq
      if (lines.isEmpty) Nil else lines.tail
    }
}

object Bench {
  val MB = 1024.0 * 1024.0

  /** Materialize a frame through Spark's `noop` sink: every row is
    * computed, nothing is written, and no optimizer shortcut a `count()`
    * allows (join elimination, column pruning to nothing) applies. */
  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, secondsSince(t0))
  }

  /** The program's session, made ready: one trivial job has run. Returns
    * the session and the seconds from JVM start (as the JVM reports it)
    * to that point. */
  def readySession(): (SparkSession, Double) = {
    val spark = graft.Main.session("pipebench")
    noop(spark.range(1).toDF())
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    (spark, (System.currentTimeMillis() - jvmStart) / 1000.0)
  }

  private def loadAvg(): String =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")), UTF_8)
      .split(" ").take(3).mkString(",")
    catch { case _: Exception => "unknown" }

  private def jsonNum(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  private def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** Every per-layer metric, as BENCHMARK.json lists them: the traced run
    * of each workload prints all of them. */
  val perLayer: Seq[(String, String)] = Seq(
    "io.read_gvf_s" -> "s", "io.read_gtf_s" -> "s", "ops.process_gvf_s" -> "s",
    "ops.effect_rows" -> "count", "ops.isolate_effects_s" -> "s",
    "ops.isolate_metadata_s" -> "s", "ops.process_gtf_s" -> "s",
    "ops.dedup_genes_s" -> "s", "ops.annotate_s" -> "s", "io.write_tsv_s" -> "s",
    "io.tsv_out_mb" -> "MB", "Pipeline.complete_s" -> "s",
    "io.read_warc_s" -> "s", "io.warc_records" -> "count", "io.to_documents_s" -> "s",
    "operators.score_filter_s" -> "s", "operators.score_keep_ratio" -> "ratio",
    "operators.minhash_sig_s" -> "s", "operators.lsh_pairs_s" -> "s",
    "operators.lsh_candidate_pairs" -> "count", "operators.lsh_verified_pairs" -> "count",
    "operators.lsh_precision" -> "ratio", "operators.decontaminate_s" -> "s",
    "operators.curate_archive_s" -> "s", "operators.bpe_word_freq_s" -> "s",
    "operators.bpe_learn_s" -> "s", "operators.bpe_merge_s" -> "s",
    "operators.bpe_jobs" -> "count", "operators.bpe_encode_s" -> "s",
    "operators.token_shards_s" -> "s", "operators.tokens_written" -> "count",
    "operators.commit_s" -> "s", "operators.commit_jobs" -> "count",
    "operators.dedup_kept_ratio" -> "ratio", "io.sig_table_mb" -> "MB",
    "io.index_files" -> "count", "operators.compactions" -> "count",
    "operators.probe_s" -> "s", "operators.probe_jobs" -> "count",
    "traced.run_s" -> "s", "shuffle_write_mb" -> "MB", "spill_mb" -> "MB",
    "gc_s" -> "s", "stage_skew" -> "ratio", "task_retries" -> "count")

  private val workloads: Map[String, () => Workload] = Map(
    "variant_annotate" -> (() => new VariantAnnotate),
    "corpus_curate" -> (() => new CorpusCurate),
    "ingest_serve" -> (() => new IngestServe))

  def main(args: Array[String]): Unit = {
    // any failure ends the JVM with a non-zero code and no result line,
    // whatever threads Spark still holds
    val code = try { run(args); 0 } catch {
      case e: Throwable => e.printStackTrace(); 1
    }
    System.out.flush()
    System.exit(code)
  }

  private def run(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val name = need("workload")
    val wl = workloads.getOrElse(name, sys.error(s"unknown workload $name"))()
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val trace = need("trace") == "1"
    val root = Paths.get(need("work")).toAbsolutePath
    val loadStart = loadAvg()

    val (spark, setup) = readySession()
    Seeds.seed = seed
    val in = root.resolve("inputs").resolve(s"$name-s$seed-${wl.sizeTag}")
    if (!Files.exists(in.resolve("_STAGED"))) {
      Files2.deleteTree(in)
      Files.createDirectories(in)
      wl.stage(spark, in)
      Files2.write(in.resolve("_STAGED"), "")
    }
    val work = root.resolve("work").resolve(s"$name-s$seed")
    Files2.deleteTree(work)
    Files.createDirectories(work)

    val rec = new Recorder
    val tracer = new Tracer(spark, s"$name-s$seed-${System.currentTimeMillis()}")
    val heap = new HeapWatch(spark)
    var attempted = 0
    var failed = 0
    def oneRound(): Unit = {
      val (a, f) =
        if (trace) wl.tracedRound(spark, in, work, rec, tracer)
        else wl.round(spark, in, work, rec)
      attempted += a
      failed += f
      heap.sample()
    }
    // untimed and unchecked: lets codegen, JIT and file listing caches settle
    val (_, warmS) = timed(wl.warmup(spark, in, work))
    rec.notes("warmup_s") = f"$warmS%.1f"
    if (trace) tracer.start()
    val t0 = System.nanoTime()
    var rounds = 0
    while (rounds == 0 || secondsSince(t0) < seconds) {
      oneRound()
      rounds += 1
    }
    if (trace) tracer.stop()
    rec.notes("measured_s") = f"${secondsSince(t0)}%.1f"
    rec.notes("run_s_samples") = rec.all("run_s").map(x => f"$x%.3f").mkString(" ")

    val metrics: Seq[(String, Double, String)] =
      if (trace) {
        val f = wl.flowSpan
        def med(xs: Seq[Double]) = Stats.quantile(xs, 0.5)
        val got = (wl.perLayer(rec, tracer) ++ Seq(
          ("shuffle_write_mb", med(tracer.shuffleWriteMb(f)), "MB"),
          ("spill_mb", med(tracer.spillMb(f)), "MB"),
          ("gc_s", med(tracer.gcSeconds(f)), "s"),
          ("stage_skew", med(tracer.stageSkew(f)), "ratio"),
          ("task_retries", tracer.retries(f).sum + tracer.stageRetryCount, "count")))
          .map(m => m._1 -> m).toMap
        // a layer this workload never calls spent no time and did no work
        perLayer.map { case (n, u) => got.getOrElse(n, (n, 0.0, u)) }
      }
      else (("setup_s", setup, "s") +: wl.endToEnd(rec)) :+
        (("peak_live_heap_mb", heap.peakMb, "MB"))
    val loadEnd = loadAvg()
    Files.createDirectories(root.resolve("runs"))
    val tag = s"$name-s$seed-t${if (trace) 1 else 0}"
    if (trace) tracer.writeSpans(root.resolve("runs").resolve(s"$tag.spans.jsonl"))
    val detail = (Seq("workload" -> jsonStr(name), "seed" -> seed.toString,
      "rounds" -> rounds.toString, "loadavg_start" -> jsonStr(loadStart),
      "loadavg_end" -> jsonStr(loadEnd)) ++
      rec.notes.map { case (k, v) => k -> jsonStr(v) })
      .map { case (k, v) => s"${jsonStr(k)}: $v" }.mkString("{", ", ", "}")
    Files2.write(root.resolve("runs").resolve(s"$tag.json"), detail + "\n")
    println(s"# $detail")
    val m = metrics.map { case (k, v, u) =>
      s"""${jsonStr(k)}: {"value": ${jsonNum(v)}, "unit": ${jsonStr(u)}}""" }
    spark.stop()
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, """ +
      s""""failed": $failed, "metrics": {${m.mkString(", ")}}}""")
  }
}

/** The run's seeded random source, shared by every generator. */
object Seeds {
  var seed: Long = 0L
  /** A generator for one named stream of the seed: streams do not shift
    * when another stream draws more numbers. */
  def stream(name: String): scala.util.Random =
    new scala.util.Random(seed * 1000003L ^ name.hashCode.toLong)
}
