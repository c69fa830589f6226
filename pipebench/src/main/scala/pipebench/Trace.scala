package pipebench

import java.lang.management.ManagementFactory
import java.nio.file.Path

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Spans recorded by the benchmark around its calls into the program's
  * layers, kept in memory and written out when the run ends. A
  * `SparkListener` records jobs, stages and tasks; after the run each job
  * is attributed to the innermost span open when it was submitted (by
  * wall-clock time, so jobs a streaming query's own thread submits are
  * attributed too). */
final class Tracer(spark: SparkSession, runId: String) {
  import Tracer.{Span, TaskRec}

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  // listener state, written on the listener bus thread
  private val jobTime = mutable.Map.empty[Int, Long]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val tasks = mutable.Map.empty[Int, mutable.ArrayBuffer[TaskRec]]
  private var stageRetries = 0

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobTime(e.jobId) = e.time
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      if (e.stageInfo.attemptNumber() > 0) stageRetries += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      tasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += TaskRec(
        e.taskInfo.duration, e.taskInfo.successful,
        if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
        if (m == null) 0L else m.diskBytesSpilled)
    }
  }

  private def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def start(): Unit = spark.sparkContext.addSparkListener(listener)

  def stop(): Unit = {
    org.apache.spark.BusDrain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
  }

  def span[T](name: String)(body: => T): T = {
    val s = Span(spans.size, name, open.headOption.map(_.id).getOrElse(-1),
      System.currentTimeMillis(), System.nanoTime())
    spans += s
    open = s :: open
    val gc0 = gcMillis()
    try body
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      s.gcMs = gcMillis() - gc0
      open = open.tail
    }
  }

  /** Cache `df`, materialize it through the `noop` sink under span `name`,
    * and remember it in `cached` for release: the next call's span then
    * holds its own work and not its inputs'. */
  def step(name: String, cached: mutable.Buffer[DataFrame])(df: => DataFrame): DataFrame =
    span(name) {
      val d = df.persist(StorageLevel.MEMORY_AND_DISK)
      Bench.noop(d)
      cached += d
      d
    }

  private def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  /** Self time of each occurrence of `name`: its duration minus the time
    * its child spans cover (children of one span never overlap — the
    * benchmark's calls are sequential). */
  def selfSeconds(name: String): Seq[Double] = named(name).map { s =>
    s.seconds - spans.filter(_.parent == s.id).map(_.seconds).sum
  }

  def totalSeconds(name: String): Seq[Double] = named(name).map(_.seconds)

  /** Jobs submitted while `s` was the innermost open span. */
  private def jobsOf(s: Span): Seq[Int] = {
    synchronized(jobTime.toSeq).collect {
      case (job, t) if innermostAt(t).exists(_.id == s.id) => job
    }
  }

  /** Jobs submitted while `s` or a span under it was open. */
  private def jobsUnder(s: Span): Seq[Int] = {
    synchronized(jobTime.toSeq).collect {
      case (job, t) if s.startMs <= t && t <= s.endMs => job
    }
  }

  private def innermostAt(t: Long): Option[Span] =
    spans.filter(s => s.startMs <= t && t <= s.endMs && s.endMs >= 0)
      .sortBy(s => -s.startNs).headOption

  private def tasksOf(jobs: Seq[Int]): Seq[(Int, TaskRec)] = synchronized {
    val js = jobs.toSet
    stageJob.toSeq.collect { case (st, j) if js(j) => st }
      .flatMap(st => tasks.getOrElse(st, Nil).map(st -> _))
  }

  /** Per occurrence of `name`: the number of jobs it submitted itself. */
  def jobCounts(name: String): Seq[Double] = named(name).map(jobsOf(_).size.toDouble)

  def shuffleWriteMb(name: String): Seq[Double] = named(name).map(s =>
    tasksOf(jobsUnder(s)).map(_._2.shuffleWrite).sum / Bench.MB)

  def spillMb(name: String): Seq[Double] = named(name).map(s =>
    tasksOf(jobsUnder(s)).map(_._2.spill).sum / Bench.MB)

  def gcSeconds(name: String): Seq[Double] = named(name).map(_.gcMs / 1000.0)

  /** Failed task attempts plus resubmitted stages under each `name`. */
  def retries(name: String): Seq[Double] = named(name).map(s =>
    tasksOf(jobsUnder(s)).count(!_._2.ok).toDouble)

  def stageRetryCount: Int = synchronized(stageRetries)

  /** max / median task time in the stage with the most tasks. */
  def stageSkew(name: String): Seq[Double] = named(name).map { s =>
    val byStage = tasksOf(jobsUnder(s)).groupBy(_._1)
    if (byStage.isEmpty) 0.0
    else {
      val widest = byStage.values.maxBy(ts => (ts.size, -ts.head._1))
      val d = widest.map(_._2.durationMs.toDouble)
      val med = Stats.quantile(d, 0.5)
      if (med <= 0) 1.0 else d.max / med
    }
  }

  /** One JSON line per span: name, start, end, parent and run id, with
    * its self time and job count. */
  def writeSpans(out: Path): Unit = {
    val lines = spans.map { s =>
      val self = s.seconds - spans.filter(_.parent == s.id).map(_.seconds).sum
      s"""{"run": "$runId", "id": ${s.id}, "name": "${s.name}", """ +
        s""""parent": ${s.parent}, "start_ms": ${s.startMs}, "end_ms": ${s.endMs}, """ +
        s""""seconds": ${s.seconds}, "self_seconds": $self, """ +
        s""""jobs": ${jobsOf(s).size}, "gc_ms": ${s.gcMs}}"""
    }
    Files2.write(out, lines.mkString("", "\n", "\n"))
  }
}

object Tracer {
  final case class Span(id: Int, name: String, parent: Int,
      startMs: Long, startNs: Long, var endMs: Long = -1L, var endNs: Long = -1L,
      var gcMs: Long = 0L) {
    def seconds: Double = (endNs - startNs) / 1e9
  }
  final case class TaskRec(durationMs: Long, ok: Boolean, shuffleWrite: Long, spill: Long)
}

/** Live heap: the heap in use right after a full collection, taken at the
  * end of every round; the peak is the largest such reading. The listener
  * bus is drained first, so queued events (which hold query plans) are not
  * counted, and of two collections the smaller reading is kept: the first
  * lets Spark's cleaner drop released caches, checkpoints and broadcasts,
  * which it does asynchronously. */
final class HeapWatch(spark: SparkSession) {
  private var peak = 0L
  def sample(): Unit = {
    org.apache.spark.BusDrain(spark.sparkContext)
    val used = (0 until 2).map { _ =>
      System.gc()
      Thread.sleep(250)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }.min
    peak = math.max(peak, used)
  }
  def peakMb: Double = peak / Bench.MB
}
