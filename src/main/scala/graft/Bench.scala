package graft
import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal
object Bench {
  /** 1-minute load average from /proc/loadavg, or -1 where unreadable
    * (non-Linux). Recorded at bench start and end so a snapshot taken on
    * a loaded box self-identifies: timings captured with load far above
    * the core count are not comparable round-over-round. */
  private def loadAvg1m(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.trim.split("\\s+")(0).toDouble finally src.close()
    } catch { case NonFatal(_) => -1.0 }

  def main(args: Array[String]): Unit = {
    val loadStart = loadAvg1m()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // default to the machine's core count so an unset-env run benches
    // the same shape the driver does (SPARK_GRAFT_CPUS still overrides
    // for deliberate scaling experiments)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // JIT/codegen warmup outside the timed region (first query otherwise
    // pays ~5s of classloading + codegen compilation)
    spark.read.parquet(s"$sfDir/lineitem.parquet")
      .groupBy("l_returnflag").count().collect()
    // session model memos (IVF centroids, PQ codebooks, BM25 index) are
    // one-time builds, not query work — build them untimed so the first
    // memo-using query doesn't absorb them as a phantom regression.
    // SPARK_GRAFT_WARM=skip is the dev-loop escape hatch for filtered
    // single-query iteration (timed rows then absorb their own staging —
    // never publish such a run); the driver never sets it, so the
    // published bench always warms exactly as before.
    if (!sys.env.get("SPARK_GRAFT_WARM").contains("skip"))
      graft.queries.ExtensionQueries.warmSessionModels(spark, sfDir)
    spark.catalog.clearCache()
    // optional comma-separated query filter for local iteration; the driver
    // never sets it, so the published bench always covers every query
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter { case (n, _) => names(n) }
      case None => SparkEntry.queries
    }
    // deterministic name order: Map hash order let a DIFFERENT query
    // absorb the first-query codegen/file-listing overhead each round,
    // which read as phantom per-query regressions across rounds
    val results = selected.toSeq.sortBy(_._1).map { case (name, fn) =>
      val t0 = System.nanoTime()
      // a failed query must not be recorded as a (fast) timing — the bench
      // total would IMPROVE because something crashed. Failures go to the
      // errors list with timing -1 and are excluded from the total.
      val ok = try { fn(spark, sfDir).count(); true } catch {
        case NonFatal(e) =>
          System.err.println(s"[bench] $name FAILED: ${e.getClass.getName}: ${e.getMessage}")
          false
      }
      val dt = (System.nanoTime() - t0) / 1e9
      // operators may persist intermediates (e.g. LSH signature tables);
      // drop them so queries are timed in isolation
      spark.catalog.clearCache()
      (name, if (ok) dt else -1.0, ok)
    }
    val qs = results.map { case (k, v, _) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val errs = results.collect { case (k, _, false) => s"\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results.collect { case (_, v, true) => v }.sum
    val loadEnd = loadAvg1m()
    // self-arbitration: a snapshot started on a busy box (load above
    // an eighth of the core count) is flagged loaded=true — such runs
    // carry phantom per-query regressions and must be re-run idle
    // before publishing, never read round-over-round. The threshold is
    // the MACHINE's core count (what /proc/loadavg measures), not the
    // session's `local[n]` parallelism — a 32-core box at load 0.75 is
    // idle no matter how many threads this session was given.
    val machineCores = Runtime.getRuntime.availableProcessors()
    val loaded = loadStart > machineCores.toDouble / 8.0
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$errs,"sf":"$sfDir","loadavg_start":$loadStart,"loadavg_end":$loadEnd,"cpus":$cpus,"loaded":$loaded}"""
    println(line)
    // the printed line is ~8 KB for 249 queries and log captures truncate
    // it, so ALSO write the identical JSON to a file (additions-only: the
    // stdout contract is unchanged)
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case NonFatal(e) =>
      System.err.println(s"[bench] could not write $outPath: $e") }
    spark.stop()
  }
}
