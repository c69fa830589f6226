package graft

import org.apache.spark.sql.functions._

import graft.operators.{CorpusPipeline, Multimodal}
import graft.operators.Multimodal.Media

class MediaDedupStreamSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("media_dedup").toString

  private def img(id: Long, sceneId: Long, perturb: Boolean = false): Media =
    Media(id, "image/ppm", Multimodal.syntheticScenePpm(sceneId, perturb = perturb))

  private def wavSamples(k: Int): IndexedSeq[Int] =
    TestWav.toneSamples(8000, 0.5, Seq((400.0 + 200 * k, 0.5), (1100.0 + 150 * k, 0.3)))

  private def corpusIds(dir: String): Set[Long] =
    spark.read.parquet(dir).select("media_id").as[Long].collect().toSet

  test("mediaCommit: intra-batch twins dropped per modality, pass-through kept") {
    val corpus = tmp() + "/corpus"; val sigs = tmp() + "/sigs"
    val batch = Seq(
      img(1L, 0L), img(2L, 0L, perturb = true),                 // image twins
      Media(3L, "audio/wav", TestWav(8000, 1, 16, wavSamples(0))),
      Media(4L, "audio/wav", TestWav(8000, 1, 16,
        TestWav.toneSamples(8000, 0.5,
          Seq((400.0, 0.55), (1100.0, 0.27))))),                // audio remix twin
      Media(5L, "application/pdf", Array[Byte](1, 2, 3))        // unhashable
    ).toDF()
    CorpusPipeline.mediaCommit(batch, 0L, corpus, sigs, maxHamming = 8)
    assert(corpusIds(corpus) == Set(1L, 3L, 5L))
    val sigRows = spark.read.parquet(sigs)
      .select("doc_id", "modality").as[(Long, String)].collect().toSet
    assert(sigRows == Set((1L, "image"), (3L, "audio")))
  }

  test("cross-batch suppression spans formats and sizes; replay is a no-op") {
    val corpus = tmp() + "/corpus"; val sigs = tmp() + "/sigs"
    val s0 = wavSamples(1)
    CorpusPipeline.mediaCommit(Seq(
      img(1L, 4L),
      Media(2L, "audio/wav", TestWav(8000, 1, 16, s0))
    ).toDF(), 0L, corpus, sigs, maxHamming = 8)
    // batch 1: FLAC re-encode of the standing audio, a resized copy of
    // the standing image, and one genuinely new image
    val resized = Multimodal.resizePpm(img(10L, 4L), 96, 96)
    CorpusPipeline.mediaCommit(Seq(
      Media(10L, "image/ppm", resized.bytes),
      Media(11L, "audio/flac", TestFlac(8000, 1, 16, s0.toArray)),
      img(12L, 5L)
    ).toDF(), 1L, corpus, sigs, maxHamming = 8)
    assert(corpusIds(corpus) == Set(1L, 2L, 12L))
    // replay of batch 1 with the same id: markers skip, state unchanged
    CorpusPipeline.mediaCommit(Seq(
      Media(10L, "image/ppm", resized.bytes),
      Media(11L, "audio/flac", TestFlac(8000, 1, 16, s0.toArray)),
      img(12L, 5L)
    ).toDF(), 1L, corpus, sigs, maxHamming = 8)
    assert(corpusIds(corpus) == Set(1L, 2L, 12L))
    assert(spark.read.parquet(sigs).count() == 3)
    // batch 2: a twin of standing 12 under a SMALLER id, and standing 2
    // re-offered under its own id — both are standing matches, so both
    // drop (a min-ref-id rule over standing ∪ batch would keep them)
    CorpusPipeline.mediaCommit(Seq(
      img(7L, 5L, perturb = true),
      Media(2L, "audio/wav", TestWav(8000, 1, 16, s0))
    ).toDF(), 2L, corpus, sigs, maxHamming = 8)
    assert(corpusIds(corpus) == Set(1L, 2L, 12L))
    assert(spark.read.parquet(sigs).count() == 3)
  }

  test("re-tagged MP3s dedup at every layer via the tag-invariant stream hash") {
    import graft.operators.Mpeg
    val corpus = tmp() + "/corpus"; val sigs = tmp() + "/sigs"
    // Layer III — sample decode REFUSED, so only the audio_stream
    // identity can catch these; distinct payload fills = distinct audio
    val l3a = Mpeg.writeCbrStream(3, 44100, 128, 12, fill = 17)
    val l3b = Mpeg.writeCbrStream(3, 44100, 128, 12, fill = 91)
    // Layer II twin pair, and a Layer I stream (dual-signature path)
    val l2 = Mpeg.writeCbrStream(2, 48000, 192, 9, fill = 33)
    val l1 = Mpeg.writeCbrStream(1, 32000, 128, 8)
    CorpusPipeline.mediaCommit(Seq(
      Media(1L, "audio/mpeg", l3a),
      Media(2L, "audio/mpeg", Mpeg.wrapId3(l3a, 150)), // re-tag: intra-batch dup
      Media(3L, "audio/mpeg", l3b),                    // different audio: kept
      Media(4L, "audio/mpeg", l2),
      Media(5L, "audio/mpeg", l1)
    ).toDF(), 0L, corpus, sigs, maxHamming = 8)
    assert(corpusIds(corpus) == Set(1L, 3L, 4L, 5L),
      "the re-tagged Layer III twin must be suppressed, distinct audio kept")
    val sigRows = spark.read.parquet(sigs)
      .select("doc_id", "modality").as[(Long, String)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(sigRows(1L) == Set("audio_stream"), "Layer III: stream identity only")
    assert(sigRows(5L) == Set("audio_stream", "audio"),
      "Layer I carries both the stream identity and the decoded fingerprint")
    // cross-batch: a re-tag of the standing Layer II stream arrives later
    CorpusPipeline.mediaCommit(Seq(
      Media(10L, "audio/mpeg", Mpeg.wrapId3(l2, 80, v1 = false)),
      Media(11L, "audio/mpeg", Mpeg.writeCbrStream(2, 48000, 192, 9, fill = 77))
    ).toDF(), 1L, corpus, sigs, maxHamming = 8)
    assert(corpusIds(corpus) == Set(1L, 3L, 4L, 5L, 11L),
      "the re-tagged standing stream is a dup; genuinely new audio admitted")
  }

  test("edited-metadata MP4s dedup via the mdat content hash") {
    import graft.operators.Mp4
    import graft.operators.Mp4.Mp4TrackSpec
    val corpus = tmp() + "/corpus"; val sigs = tmp() + "/sigs"
    def mdat(seed: Int) =
      Array.tabulate[Byte](96)(j => ((seed * 131 + j * 31) & 0xff).toByte)
    val track = Mp4TrackSpec(1L, "vide", "avc1", width = 320, height = 240,
      timescale = 600L, duration = 600L, sampleCount = 24)
    val a = Mp4.writeMp4("isom", 1000L, 5000L, Seq(track), mdatBytes = mdat(1))
    val aEdited = Mp4.writeMp4("mp42", 1000L, 5000L,
      Seq(track.copy(version = 1)), version = 1, largesizeMoov = true,
      mdatBytes = mdat(1))
    val other = Mp4.writeMp4("isom", 1000L, 5000L, Seq(track),
      mdatBytes = mdat(2))
    CorpusPipeline.mediaCommit(Seq(
      Media(1L, "video/mp4", a),
      Media(2L, "video/mp4", aEdited),               // same media: dup
      Media(3L, "video/mp4", other),                 // new media: kept
      Media(4L, "video/mp4", Array[Byte](9, 9, 9))   // malformed: pass-through
    ).toDF(), 0L, corpus, sigs, maxHamming = 8)
    assert(corpusIds(corpus) == Set(1L, 3L, 4L),
      "the edited-metadata twin is suppressed; malformed passes through")
    val sigRows = spark.read.parquet(sigs)
      .select("doc_id", "modality").as[(Long, String)].collect().toSet
    assert(sigRows == Set((1L, "mp4_stream"), (3L, "mp4_stream")))
  }

  test("re-tagged and re-muxed Ogg streams dedup via the packet hash") {
    import graft.operators.Ogg
    val corpus = tmp() + "/corpus"; val sigs = tmp() + "/sigs"
    val a = Ogg.writeOgg("opus", 2, 48000, 8, seed = 3)
    val reTagged = Ogg.writeOgg("opus", 2, 48000, 8, seed = 3,
      comments = Seq("TITLE" -> "renamed", "ARTIST" -> "someone"))
    val reMuxed = Ogg.writeOgg("opus", 2, 48000, 8, seed = 3,
      packetsPerPage = 1)
    // NOTE seed 4: the generator's audio packets depend only on (seed,
    // index), so a same-seed vorbis stream would carry the SAME coded
    // bytes as `a` and correctly dedup against it
    val other = Ogg.writeOgg("vorbis", 2, 44100, 8, seed = 4)
    CorpusPipeline.mediaCommit(Seq(
      Media(1L, "audio/opus", a),
      Media(2L, "audio/opus", reTagged),            // same audio: dup
      Media(3L, "audio/ogg", reMuxed),              // same audio: dup
      Media(4L, "audio/ogg", other),                // new media: kept
      Media(5L, "audio/ogg", Array[Byte](9, 9, 9))  // malformed: pass-through
    ).toDF(), 0L, corpus, sigs, maxHamming = 8)
    assert(corpusIds(corpus) == Set(1L, 4L, 5L),
      "re-tagged AND re-muxed twins suppressed; malformed passes through")
    val sigRows = spark.read.parquet(sigs)
      .select("doc_id", "modality").as[(Long, String)].collect().toSet
    assert(sigRows == Set((1L, "ogg_stream"), (4L, "ogg_stream")))
  }

  test("retitled/retagged Matroska files dedup via the cluster hash") {
    import graft.operators.Mkv
    val corpus = tmp() + "/corpus"; val sigs = tmp() + "/sigs"
    val tracks = Seq(Mkv.MkvTrackSpec(1L, 1, "V_VP9", width = 320, height = 180))
    val a = Mkv.writeMkv("webm", 1000000L, 4000.0, tracks, 3, seed = 11)
    val edited = Mkv.writeMkv("matroska", 1000000L, 4000.0, tracks, 3,
      seed = 11, title = "renamed", tags = Seq("ARTIST" -> "someone"))
    val other = Mkv.writeMkv("webm", 1000000L, 4000.0, tracks, 3, seed = 12)
    CorpusPipeline.mediaCommit(Seq(
      Media(1L, "video/webm", a),
      Media(2L, "video/x-matroska", edited),        // same media: dup
      Media(3L, "video/webm", other),               // new media: kept
      Media(4L, "video/webm", Array[Byte](9, 9, 9)) // malformed: pass-through
    ).toDF(), 0L, corpus, sigs, maxHamming = 8)
    assert(corpusIds(corpus) == Set(1L, 3L, 4L),
      "the retitled/retagged twin is suppressed; malformed passes through")
    val sigRows = spark.read.parquet(sigs)
      .select("doc_id", "modality").as[(Long, String)].collect().toSet
    assert(sigRows == Set((1L, "mkv_stream"), (3L, "mkv_stream")))
  }

  test("a deleted bucket index is rebuilt; dedup still holds") {
    val corpus = tmp() + "/corpus"; val sigs = tmp() + "/sigs"
    CorpusPipeline.mediaCommit(Seq(img(1L, 7L)).toDF(), 0L, corpus, sigs, 8)
    // simulate divergence: the chunk index vanishes
    val bucketPath = new java.io.File(sigs + ".buckets")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete()
    }
    rm(bucketPath)
    CorpusPipeline.mediaCommit(
      Seq(img(2L, 7L, perturb = true), img(3L, 8L)).toDF(), 1L, corpus, sigs, 8)
    assert(corpusIds(corpus) == Set(1L, 3L))
  }

  test("modalities never cross-match: an audio signature equal to an image pHash does not suppress the image") {
    val corpus = tmp() + "/corpus"; val sigs = tmp() + "/sigs"
    val image = img(5L, 9L)
    val phash = Multimodal.perceptualHash64(image)
    // plant a standing AUDIO signature with the image's exact hash
    Seq((999L, "audio", phash)).toDF("doc_id", "modality", "simhash")
      .write.parquet(sigs)
    CorpusPipeline.mediaCommit(Seq(image).toDF(), 0L, corpus, sigs, 8)
    assert(corpusIds(corpus) == Set(5L))
  }

  test("writeStreamMediaDedup drives end-to-end through a real stream") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val corpus = tmp() + "/corpus"; val sigs = tmp() + "/sigs"
    val mem = MemoryStream[(Long, String, Array[Byte])]
    val query = CorpusPipeline.writeStreamMediaDedup(
      mem.toDF().toDF("media_id", "kind", "bytes"),
      corpus, sigs, tmp() + "/ckpt", maxHamming = 8)
    mem.addData((1L, "image/ppm", Multimodal.syntheticScenePpm(11L)))
    query.processAllAvailable()
    mem.addData((2L, "image/ppm", Multimodal.syntheticScenePpm(11L, perturb = true)),
      (3L, "image/ppm", Multimodal.syntheticScenePpm(12L)))
    query.processAllAvailable()
    query.stop()
    assert(corpusIds(corpus) == Set(1L, 3L))
  }

  test("mediaCommit: MPEG audio — Layer I dedups perceptually, Layer III exactly") {
    val corpus = tmp() + "/corpus"; val sigs = tmp() + "/sigs"
    def pcm(freq: Double) = TestWav.toneSamples(32000, 0.3, Seq((freq, 0.5)))
      .map(v => v) // IndexedSeq[Int]
    val l1a = TestMp3.layer1(32000, 1, pcm(440.0).toArray, nb = 13)
    val l1b = TestMp3.layer1(32000, 1, pcm(440.0).map(v => (v * 1.08).toInt).toArray, nb = 13)
    val l3 = TestMp3.layerStub(3, 44100, 128, frames = 20)
    val l3other = TestMp3.layerStub(3, 44100, 128, frames = 21)
    val batch = Seq(
      Media(1L, "audio/mpeg", l1a),
      Media(2L, "audio/mpeg", l1b), // re-levelled Layer I twin: must dedup
      Media(3L, "audio/mpeg", l3),  // Layer III: stream identity only
      Media(4L, "audio/mpeg", l3.clone()), // exact L3 twin: NOW a dup
      Media(5L, "audio/mpeg", l3other))    // different audio: kept
    CorpusPipeline.mediaCommit(batch.toDF(), 0L, corpus, sigs, maxHamming = 8)
    assert(corpusIds(corpus) == Set(1L, 3L, 5L),
      "Layer I twin suppressed perceptually; exact Layer III twin by stream hash")
    val sigRows = spark.read.parquet(sigs)
      .select("doc_id", "modality").as[(Long, String)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(sigRows(1L) == Set("audio", "audio_stream"),
      "decodable Layer I carries both the fingerprint and the stream identity")
    assert(sigRows(3L) == Set("audio_stream") && sigRows(5L) == Set("audio_stream"),
      "Layer III enters the signature tier with the stream identity alone")
    // cross-batch: the re-levelled twin arrives later (a NEW stream hash,
    // a matching fingerprint) beside a distinct Layer I tone
    val l1other = TestMp3.layer1(32000, 1, pcm(1320.0).toArray, nb = 13)
    CorpusPipeline.mediaCommit(Seq(
      Media(6L, "audio/mpeg", l1b),     // matches l1a's fingerprint: a dup
      Media(7L, "audio/mpeg", l1other)  // new in both modalities: kept
    ).toDF(), 1L, corpus, sigs, maxHamming = 8)
    assert(corpusIds(corpus) == Set(1L, 3L, 5L, 7L),
      "a doc is a dup iff ANY of its signatures matches the standing table")
    // one signature row per (doc_id, modality); exactly the 4 chunk rows
    // of each signature row in the bucket index, labelled with its own
    // modality
    val sigTable = spark.read.parquet(sigs)
      .select("doc_id", "modality", "simhash").as[(Long, String, Long)].collect()
    assert(sigTable.length == sigTable.map(r => (r._1, r._2)).distinct.length)
    assert(sigTable.length == 6)
    val bucketSigs = spark.read.parquet(sigs + ".buckets")
      .select("doc_id", "modality", "simhash").as[(Long, String, Long)].collect()
    assert(bucketSigs.groupBy(identity).view.mapValues(_.length).toMap ==
      sigTable.map(_ -> 4).toMap)
  }
}
