package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.StreamingOps
import graft.streaming.StreamingOps.Event

class StreamingOpsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(minutes: Long) = new Timestamp(minutes * 60000L)

  private val batch = Seq(
    Event(1L, ts(0), "click", 1.0),
    Event(1L, ts(10), "click", 2.0),
    Event(1L, ts(100), "buy", 3.0),   // >30min gap → new session
    Event(2L, ts(5), "click", 4.0)
  )

  test("windowedStats (batch): hourly buckets per event type") {
    val out = StreamingOps.windowedStats(batch.toDF(), "1 hour", "1 hour")
      .collect().map(r => (r.getAs[Timestamp]("window_start").getTime / 60000,
        r.getAs[String]("event_type"), r.getAs[Long]("n_events"),
        r.getAs[Double]("total_value"))).toSet
    assert(out == Set((0L, "click", 3L, 7.0), (60L, "buy", 1L, 3.0)))
  }

  test("sessionWindowStats (batch): 30-minute gap sessions") {
    val out = StreamingOps.sessionWindowStats(batch.toDF(), "30 minutes")
      .collect().map(r => (r.getAs[Long]("user_id"),
        r.getAs[Timestamp]("session_start").getTime / 60000,
        r.getAs[Long]("n_events"), r.getAs[Double]("total_value"))).toSet
    assert(out == Set((1L, 0L, 2L, 3.0), (1L, 100L, 1L, 3.0), (2L, 5L, 1L, 4.0)))
  }

  test("sessionize (batch): custom state closes sessions on gap and tail") {
    val out = StreamingOps.sessionize(batch.toDS(), gapMs = 30 * 60000L)
      .collect().map(s => (s.user_id, s.session_start_ms / 60000,
        s.session_end_ms / 60000, s.n_events, s.total_value)).toSet
    assert(out == Set((1L, 0L, 10L, 2L, 3.0), (1L, 100L, 100L, 1L, 3.0),
      (2L, 5L, 5L, 1L, 4.0)))
  }

  test("sessionize (batch): one dominant key with 2*10^5 events stays bounded") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit, timestamp_millis}
    // a hot key whose event history must NOT materialize per-group: the
    // secondary-sort fold keeps O(1) state however many events one user
    // has. 200k events, one per minute → every 30-minute gap is exceeded
    // never, so the hot user folds to ONE session spanning the range; a
    // handful of cold users interleave to prove key transitions flush.
    val n = 200000
    val hot = spark.range(n).select(
      lit(7L).as("user_id"),
      timestamp_millis((col("id") * 60000L) + 1000000000000L).as("ts"),
      lit("click").as("event_type"), lit(1.0).as("value"))
    val cold = spark.range(3).select(
      (col("id") + 100L).as("user_id"),
      timestamp_millis(lit(1000000000000L)).as("ts"),
      lit("click").as("event_type"), lit(2.0).as("value"))
    val events = hot.union(cold).as[StreamingOps.Event]
    val out = StreamingOps.sessionize(events, gapMs = 30 * 60000L).collect()
    val hotSessions = out.filter(_.user_id == 7L)
    assert(hotSessions.length == 1)
    assert(hotSessions.head.n_events == n)
    assert(hotSessions.head.session_end_ms - hotSessions.head.session_start_ms ==
      (n - 1).toLong * 60000L)
    assert(out.count(_.user_id >= 100L) == 3)
  }

  test("windowedStats (streaming): MemoryStream end-to-end with watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val query = StreamingOps.windowedStats(mem.toDF(), "1 hour", "10 minutes")
      .writeStream.format("memory").queryName("win_stats")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(batch: _*)
      query.processAllAvailable()
      // advance watermark far past hour 1 so both windows finalize
      mem.addData(Event(3L, ts(10000), "late", 0.0))
      query.processAllAvailable()
      val rows = spark.table("win_stats")
        .collect().map(r => (r.getAs[Timestamp]("window_start").getTime / 60000,
          r.getAs[String]("event_type"), r.getAs[Long]("n_events"))).toSet
      assert(rows.contains((0L, "click", 3L)))
      assert(rows.contains((60L, "buy", 1L)))
    } finally query.stop()
  }

  test("nearDupDedupWithinWatermark: sketch-equal docs collapse in-stream") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, String)]
    val docs = mem.toDF().toDF("doc_id", "ts", "text")
    val query = StreamingOps.nearDupDedupWithinWatermark(docs, "text", "ts")
      .writeStream.format("memory").queryName("near_dedup")
      .outputMode(OutputMode.Append).start()
    try {
      val base = "one two three four five six seven eight nine ten"
      mem.addData(
        (1L, ts(0), base),
        (2L, ts(1), base + "   "),                      // whitespace mutant
        (3L, ts(2), base.split(' ').reverse.mkString(" ")), // reorder mutant
        (4L, ts(3), "completely different content here entirely"))
      query.processAllAvailable()
      val ids = spark.table("near_dedup").select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(ids.size == 2 && ids.contains(4L))
      assert((ids - 4L).subsetOf(Set(1L, 2L, 3L))) // exactly one sketch rep
    } finally query.stop()
  }

  test("enrichWithStatic (streaming): MemoryStream + broadcast dim == batch join") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "tier")
    val mem = MemoryStream[Event]
    val query = StreamingOps.enrichWithStatic(mem.toDF(), dim, Seq("user_id"))
      .select(col("user_id"), col("event_type"), col("tier"))
      .writeStream.format("memory").queryName("enriched")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(batch :+ Event(9L, ts(1), "click", 0.5): _*) // 9L: no dim row
      query.processAllAvailable()
      val streamed = spark.table("enriched").collect()
        .map(r => (r.getLong(0), r.getString(1), Option(r.getString(2)))).sorted.toSeq
      val expected = StreamingOps.enrichWithStatic(
          (batch :+ Event(9L, ts(1), "click", 0.5)).toDF(), dim, Seq("user_id"))
        .select(col("user_id"), col("event_type"), col("tier")).collect()
        .map(r => (r.getLong(0), r.getString(1), Option(r.getString(2)))).sorted.toSeq
      assert(streamed == expected)
      // the unmatched stream row survives the left join with a null tier
      assert(streamed.contains((9L, "click", None)))
      intercept[IllegalArgumentException] {
        StreamingOps.enrichWithStatic(mem.toDF(), dim, Seq("user_id"), "full")
      }
    } finally query.stop()
  }

  test("readGvfStream: the batch GVF chain runs unchanged over a file stream") {
    val dir = java.nio.file.Files.createTempDirectory("graft-gvf-stream")
    val out = graft.io.Sources.readGvfStream(spark, dir.toString)
    val processed = graft.ops.VariantOps.processGvf(out)
    val query = processed.writeStream.format("memory").queryName("gvf_stream")
      .outputMode(OutputMode.Append).start()
    try {
      // a file "lands" in the watched directory after the stream starts
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(resource("sample-hg38-chromosome-10.gvf")),
        dir.resolve("chromosome-10.gvf"))
      query.processAllAvailable()
      val streamed = spark.table("gvf_stream").collect().map(_.toString).sorted
      val batch = graft.ops.VariantOps.processGvf(
        graft.io.Sources.readGvf(spark, resource("sample-hg38-chromosome-10.gvf")))
        .collect().map(_.toString).sorted
      assert(streamed.nonEmpty && streamed.sameElements(batch))
    } finally query.stop()
  }

  test("intervalJoinStreams: two MemoryStreams, bounded state, == batch theta-join") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.DataFrame
    val pMem = MemoryStream[Event]
    val cMem = MemoryStream[Event]
    def purchases(df: DataFrame) =
      df.select($"user_id", $"ts".as("p_ts"), $"value".as("p_val"))
    def clicks(df: DataFrame) =
      df.select($"user_id", $"ts".as("c_ts"), $"value".as("c_val"))
    val joined = StreamingOps.intervalJoinStreams(
      purchases(pMem.toDF()), clicks(cMem.toDF()), "user_id", "p_ts", "c_ts",
      before = "30 minutes", after = "0 seconds", watermark = "10 minutes")
    val query = joined.writeStream.format("memory").queryName("ssj")
      .outputMode(OutputMode.Append).start()
    try {
      val pData = Seq(Event(1L, ts(60), "purchase", 10.0), Event(2L, ts(60), "purchase", 20.0))
      val cData = Seq(
        Event(1L, ts(40), "click", 1.0), // 20 min before user 1's purchase → match
        Event(1L, ts(20), "click", 2.0), // 40 min before → outside interval
        Event(2L, ts(61), "click", 3.0)) // after the purchase → outside
      pMem.addData(pData: _*)
      cMem.addData(cData: _*)
      query.processAllAvailable()
      val streamed = spark.table("ssj").select("user_id", "p_val", "c_val")
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSet
      assert(streamed == Set((1L, 10.0, 1.0)))
      // batch parity: the same operator over batch frames, same rows
      val batch = StreamingOps.intervalJoinStreams(
          purchases(pData.toDF()), clicks(cData.toDF()), "user_id", "p_ts", "c_ts",
          before = "30 minutes", after = "0 seconds")
        .select("user_id", "p_val", "c_val")
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSet
      assert(batch == streamed)
    } finally query.stop()
  }

  test("intervalJoinStreams left_outer: unmatched purchase emits nulls after watermark") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.DataFrame
    val pMem = MemoryStream[Event]
    val cMem = MemoryStream[Event]
    def purchases(df: DataFrame) =
      df.select($"user_id", $"ts".as("p_ts"), $"value".as("p_val"))
    def clicks(df: DataFrame) =
      df.select($"user_id", $"ts".as("c_ts"), $"value".as("c_val"))
    val joined = StreamingOps.intervalJoinStreams(
      purchases(pMem.toDF()), clicks(cMem.toDF()), "user_id", "p_ts", "c_ts",
      before = "30 minutes", after = "0 seconds", watermark = "10 minutes",
      joinType = "left_outer")
    val query = joined.writeStream.format("memory").queryName("ssj_left")
      .outputMode(OutputMode.Append).start()
    try {
      val pData = Seq(Event(1L, ts(60), "purchase", 10.0), Event(2L, ts(60), "purchase", 20.0))
      val cData = Seq(
        Event(1L, ts(40), "click", 1.0), // match for user 1
        Event(2L, ts(61), "click", 3.0)) // after user 2's purchase → no match
      pMem.addData(pData: _*)
      cMem.addData(cData: _*)
      query.processAllAvailable()
      // push both watermarks far past the interval so the unmatched left
      // row is provably final and the null-padded result can emit
      pMem.addData(Event(9L, ts(10000), "purchase", 0.0))
      cMem.addData(Event(9L, ts(10001), "click", 0.0))
      query.processAllAvailable()
      val streamed = spark.table("ssj_left")
        .filter($"user_id" < 9L)
        .select($"user_id", $"p_val", $"c_val")
        .collect()
        .map(r => (r.getLong(0), r.getDouble(1),
          if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSet
      assert(streamed == Set((1L, 10.0, Some(1.0)), (2L, 20.0, None)))
      // batch parity: same operator, batch frames, plain left theta-join
      val batch = StreamingOps.intervalJoinStreams(
          purchases(pData.toDF()), clicks(cData.toDF()), "user_id", "p_ts", "c_ts",
          before = "30 minutes", after = "0 seconds", joinType = "left_outer")
        .select($"user_id", $"p_val", $"c_val")
        .collect()
        .map(r => (r.getLong(0), r.getDouble(1),
          if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSet
      assert(batch == streamed)
    } finally query.stop()
  }

  test("streaming annotate chain end-to-end == batch q_annotate_pipeline on the golden GVF") {
    // readGvfStream -> processGvf -> watermarked dedup -> broadcast-join
    // genes -> sink: the whole EP2 chain with only source/sink swapped.
    // GVF rows carry no event time, so ingest time is the dedup horizon's
    // clock — the standard shape for at-least-once file ingest.
    val dir = java.nio.file.Files.createTempDirectory("graft-annotate-stream")
    val genes = graft.ops.GeneOps.processGtf(
      graft.io.Sources.readGtf(spark, resource("sample-hg38-gene-build.gtf")))
    val effectsStream = graft.ops.VariantOps.processGvf(
        graft.io.Sources.readGvfStream(spark, dir.toString))
      .select("rsid", "effect", "transcript")
      .withColumn("ingest_ts", org.apache.spark.sql.functions.current_timestamp())
    val deduped = StreamingOps.dedupWithinWatermark(
      effectsStream, Seq("rsid", "effect", "transcript"), "ingest_ts", "10 minutes")
    val annotated = graft.ops.AnnotateOps.annotateVariants(deduped, genes)
    val query = annotated.writeStream.format("memory").queryName("annotate_stream")
      .outputMode(OutputMode.Append).start()
    try {
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(resource("sample-hg38-chromosome-10.gvf")),
        dir.resolve("chromosome-10.gvf"))
      query.processAllAvailable()
      val streamed = spark.table("annotate_stream").collect().map(_.toString).sorted
      val batchRows = graft.ops.AnnotateOps.annotateVariants(
          graft.ops.VariantOps.isolateEffects(graft.ops.VariantOps.processGvf(
            graft.io.Sources.readGvf(spark, resource("sample-hg38-chromosome-10.gvf")))),
          genes)
        .collect().map(_.toString).sorted
      assert(streamed.nonEmpty && streamed.sameElements(batchRows))
      // the same file landing again is all duplicates within the horizon:
      // the watermarked dedup emits nothing new downstream
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(resource("sample-hg38-chromosome-10.gvf")),
        dir.resolve("chromosome-10-replayed.gvf"))
      query.processAllAvailable()
      assert(spark.table("annotate_stream").count() == streamed.length.toLong)
    } finally query.stop()
  }

  test("dedupWithinWatermark: duplicates in horizon collapse, state bounded") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val deduped = StreamingOps.dedupWithinWatermark(
      mem.toDF(), Seq("user_id", "event_type"), "ts", "30 minutes")
    val query = deduped.writeStream.format("memory").queryName("dedup_stream")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(
        Event(1L, ts(60), "click", 1.0),
        Event(1L, ts(61), "click", 99.0), // dup key within horizon → dropped
        Event(2L, ts(62), "click", 2.0))
      query.processAllAvailable()
      mem.addData(Event(1L, ts(65), "click", 98.0)) // still within horizon
      query.processAllAvailable()
      val rows = spark.table("dedup_stream")
        .collect().map(r => (r.getAs[Long]("user_id"),
          r.getAs[String]("event_type"), r.getAs[Double]("value"))).toSet
      assert(rows == Set((1L, "click", 1.0), (2L, "click", 2.0)))
    } finally query.stop()
  }

  test("sessionize (streaming): event-time timeout closes sessions") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val query = StreamingOps.sessionize(mem.toDS(), gapMs = 30 * 60000L)
      .writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Append).start()
    try {
      // minute 60 base: an event exactly at the initial watermark (epoch 0)
      // would be discarded as late
      mem.addData(Event(1L, ts(60), "click", 1.0), Event(1L, ts(70), "click", 2.0))
      query.processAllAvailable()
      // watermark advance → timeout fires for user 1's session
      mem.addData(Event(9L, ts(1000), "click", 0.0))
      query.processAllAvailable()
      mem.addData(Event(8L, ts(2000), "click", 0.0))
      query.processAllAvailable()
      val rows = spark.table("sessions").as[StreamingOps.Session].collect()
        .map(s => (s.user_id, s.session_start_ms / 60000, s.session_end_ms / 60000,
          s.n_events)).toSet
      assert(rows.contains((1L, 60L, 70L, 2L)))
    } finally query.stop()
  }

  test("writeParquetStreamMaintained: file count stays bounded, rows exact") {
    import graft.io.Sinks
    implicit val sqlCtx = spark.sqlContext
    def nFiles(dir: String): Int = {
      val root = java.nio.file.Paths.get(dir)
      if (!java.nio.file.Files.exists(root)) 0
      else {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(root).iterator().asScala.count { p =>
          p.getFileName.toString.endsWith(".parquet") &&
            !root.relativize(p).iterator().asScala
              .exists(_.toString.startsWith("."))
        }
      }
    }
    val mem = MemoryStream[(Long, String)]
    val dir = java.nio.file.Files.createTempDirectory("graft-maint").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-maint-ck").toString
    // 4 part files per microbatch: 12 batches would pile up 48 files
    // unmaintained; the loop must keep the dir at or under maxFiles
    val query = Sinks.writeParquetStreamMaintained(
      mem.toDF().toDF("doc_id", "text").repartition(4),
      dir, ckpt, maxFiles = 10)
    try {
      for (b <- 0 until 12) {
        mem.addData((0 until 50).map(i =>
          ((b * 1000 + i).toLong, s"doc $b $i")): _*)
        query.processAllAvailable()
        // post-commit invariant: append then compact-if-over-threshold
        assert(nFiles(dir) <= 10, s"batch $b left ${nFiles(dir)} files")
      }
    } finally query.stop()
    // exactness: every streamed row present exactly once — compaction
    // swaps and idempotent appends never dropped or doubled anything
    val out = spark.read.parquet(dir)
    assert(out.count() == 600L)
    assert(out.select("doc_id").distinct().count() == 600L)
    // recovery replay: a batchId at or below the committed marker is
    // skipped, not double-appended
    import spark.implicits._
    assert(!Sinks.appendBatchIdempotent(
      Seq((99999L, "replay")).toDF("doc_id", "text"), dir, batchId = 0))
    assert(spark.read.parquet(dir).count() == 600L)
    // a damaged marker reads as "no marker" rather than wedging the
    // stream: the next gated append writes
    val (fs, _) = Sinks.fsFor(spark, dir)
    val marker = fs.create(new org.apache.hadoop.fs.Path(dir, ".graft_last_batch"), true)
    try marker.write("not-a-batch-id".getBytes("UTF-8")) finally marker.close()
    assert(Sinks.lastCommittedBatch(spark, dir) == -1L)
    assert(Sinks.appendBatchIdempotent(
      Seq((99998L, "after damage")).toDF("doc_id", "text"), dir, batchId = 0))
    assert(spark.read.parquet(dir).count() == 601L)
  }
}
