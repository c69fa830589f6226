package graft

import org.apache.spark.sql.functions._
import graft.operators.{AnnIndex, IndexLock, Search}

/** Concurrent-writer contract on the standing indexes: every mutating
  * verb runs under the writer lease, the loser of an interleave fails
  * loudly naming the holder, the index is never corrupted (probes
  * still pass their exactness gates), and the lease itself is atomic
  * under a real thread race, released on exception, and breakable only
  * when explicitly leased with a TTL. */
class IndexLockSpec extends SparkSpec {
  import spark.implicits._

  private def emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    .select($"vec_id", $"embedding")
  private def docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    .select($"doc_id", $"text")
  private def queries = emb.filter($"vec_id" < 5)

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  // a foreign writer's lease, planted as if mid-verb (optionally aged)
  private def plantLock(dir: String, verb: String, ageMs: Long = 0L): Unit = {
    val f = new java.io.File(dir, ".writer-lock")
    f.getParentFile.mkdirs()
    java.nio.file.Files.writeString(f.toPath,
      s"verb=$verb\nacquired_ms=${System.currentTimeMillis() - ageMs}\n")
  }

  private def annProbe(dir: String) =
    AnnIndex.annIndexProbe(spark, dir, queries, k = 5, nProbe = 2,
        rerankDepth = 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .sortBy(x => (x._1, x._2)).toSeq

  test("ANN: appends interleaving maintain at every boundary — loser loud, index intact") {
    val dir = tmp("graft_lock_ann")
    AnnIndex.annBuildIndex(emb.filter($"vec_id" % 3 =!= 2), dir,
      nLists = 4, m = 8, kc = 8, iters = 2)
    // the winner's chain, one verb at a time; before each step a racing
    // writer (holding the lease the running verb would hold) attempts
    // both an append and a maintain — each must fail loudly, and the
    // standing tree must be byte-consistent afterwards
    val chain: Seq[(String, () => Any)] = Seq(
      ("append", () => AnnIndex.annIndexAppend(emb.filter($"vec_id" % 3 === 2), dir)),
      ("maintain", () => AnnIndex.annIndexMaintain(spark, dir, maxFiles = 1)),
      ("delete", () => AnnIndex.annIndexDelete(spark, dir, Seq(3L).toDF("vec_id"))),
      ("compact", () => AnnIndex.annIndexCompact(spark, dir)),
      ("rebalance", () => AnnIndex.annIndexRebalance(spark, dir)))
    chain.foreach { case (verb, run) =>
      val before = annProbe(dir)
      plantLock(dir, verb)
      val eA = intercept[IllegalStateException] {
        AnnIndex.annIndexAppend(emb.filter($"vec_id" === 0), dir)
      }
      assert(eA.getMessage.contains("concurrent writer") &&
        eA.getMessage.contains(verb), s"append vs $verb")
      val eM = intercept[IllegalStateException] {
        AnnIndex.annIndexMaintain(spark, dir)
      }
      assert(eM.getMessage.contains("concurrent writer"), s"maintain vs $verb")
      val eI = intercept[IllegalStateException] {
        AnnIndex.annIndexAppendIdempotent(emb.filter($"vec_id" === 0), dir, 999L)
      }
      assert(eI.getMessage.contains("concurrent writer"), s"appendIdem vs $verb")
      assert(annProbe(dir) == before,
        s"losing writers must not have touched the index (boundary: $verb)")
      IndexLock.forceUnlock(spark, dir) // the holder finishes/clears
      run() // the winner's verb itself succeeds with the lease free
    }
    // never corrupt: the surviving index still satisfies the probe
    // exactness gate — bit-identical to the model-taking search over
    // the survivors (build+append minus the delete, all compacted and
    // rebalanced above)
    val survivors = emb.filter($"vec_id" =!= 3L)
    val centroids = graft.operators.Similarity.loadCentroids(spark, s"$dir/centroids")
    val codebooks = AnnIndex.loadCodebooks(spark, s"$dir/codebooks")
    val fresh = graft.operators.Similarity.ivfPqTopK(queries, survivors, k = 5,
        centroids, codebooks, nProbe = 2, rerankDepth = 10, "vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .sortBy(x => (x._1, x._2)).toSeq
    assert(annProbe(dir) == fresh && fresh.nonEmpty)
  }

  test("BM25: every mutating verb loses loudly against a held lease; scores unmoved") {
    val dir = tmp("graft_lock_bm25")
    Search.bm25BuildIndex(docs, dir)
    val terms = Seq("spark", "data")
    def probe() = Search.bm25IndexProbe(spark, dir, terms, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
    val before = probe()
    plantLock(dir, "compact")
    val attempts: Seq[(String, () => Any)] = Seq(
      ("build", () => Search.bm25BuildIndex(docs, dir)),
      ("append", () => Search.bm25IndexAppend(docs.limit(1), dir)),
      ("appendIdem", () => Search.bm25IndexAppendIdempotent(docs.limit(1), dir, 999L)),
      ("delete", () => Search.bm25IndexDelete(spark, dir, Seq(1L).toDF("doc_id"))),
      ("compact", () => Search.bm25IndexCompact(spark, dir)),
      ("maintain", () => Search.bm25IndexMaintain(spark, dir)))
    attempts.foreach { case (name, run) =>
      val e = intercept[IllegalStateException](run())
      assert(e.getMessage.contains("concurrent writer"), name)
    }
    assert(probe() == before, "losing writers must not have touched the index")
    IndexLock.forceUnlock(spark, dir)
    // the winner proceeds once the lease frees: an append then maintain
    Search.bm25IndexAppend(
      Seq((900000001L, "zzqxuniq marker document")).toDF("doc_id", "text"), dir)
    Search.bm25IndexMaintain(spark, dir)
    assert(Search.bm25IndexProbe(spark, dir, Seq("zzqxuniq"), k = 5)
      .collect().map(_.getLong(0)).contains(900000001L),
      "the appended doc scores once the lease frees")
  }

  test("the lease is atomic under a real thread race: exactly one winner per round") {
    val dir = tmp("graft_lock_race")
    (1 to 25).foreach { round =>
      val wins = new java.util.concurrent.atomic.AtomicInteger(0)
      val losses = new java.util.concurrent.atomic.AtomicInteger(0)
      val barrier = new java.util.concurrent.CyclicBarrier(2)
      val threads = (1 to 2).map(i => new Thread(() => {
        barrier.await()
        try IndexLock.withLock(spark, dir, s"racer-$i") {
          wins.incrementAndGet(); Thread.sleep(2)
        } catch { case _: IllegalStateException => losses.incrementAndGet() }
      }))
      threads.foreach(_.start()); threads.foreach(_.join())
      assert(wins.get() >= 1, s"round $round: nobody won")
      assert(wins.get() + losses.get() == 2, s"round $round accounting")
      assert(!new java.io.File(dir, ".writer-lock").exists(),
        s"round $round: lease leaked")
    }
  }

  test("exceptions release the lease; TTL breaks only an EXPIRED one") {
    val dir = tmp("graft_lock_ttl")
    // a verb that throws still releases
    intercept[RuntimeException] {
      IndexLock.withLock(spark, dir, "boom") { throw new RuntimeException("x") }
    }
    assert(IndexLock.withLock(spark, dir, "after") { 42 } == 42)
    // default lease is NEVER broken, however old
    plantLock(dir, "died", ageMs = 86400000L)
    val e = intercept[IllegalStateException] {
      IndexLock.withLock(spark, dir, "patient") { 1 }
    }
    assert(e.getMessage.contains("forceUnlock"))
    // an explicit TTL breaks the expired lease...
    assert(IndexLock.withLock(spark, dir, "ttl", leaseMs = 60000L) { 7 } == 7)
    // ...but never a LIVE one inside its TTL
    plantLock(dir, "alive", ageMs = 0L)
    intercept[IllegalStateException] {
      IndexLock.withLock(spark, dir, "ttl2", leaseMs = 60000L) { 1 }
    }
    IndexLock.forceUnlock(spark, dir)
  }
  test("expired-lease break is single-winner; a displaced writer's release spares the new lock") {
    // N waiters all observe the same expired lease and race to break
    // it: the TICKETED break admits AT MOST ONE holder at a time —
    // the earlier rename-based break let a stale observer rename a
    // FRESH lock away (this very test caught it under load), and the
    // original delete-then-create let two through
    val dir = tmp("graft_lock_break")
    plantLock(dir, "died", ageMs = 86400000L)
    val inCritical = new java.util.concurrent.atomic.AtomicInteger(0)
    val overlaps = new java.util.concurrent.atomic.AtomicInteger(0)
    val wins = new java.util.concurrent.atomic.AtomicInteger(0)
    val start = new java.util.concurrent.CountDownLatch(1)
    val threads = (1 to 8).map { i =>
      new Thread(() => {
        start.await()
        try {
          IndexLock.withLock(spark, dir, s"breaker$i", leaseMs = 60000L) {
            if (inCritical.incrementAndGet() > 1) overlaps.incrementAndGet()
            Thread.sleep(30)
            inCritical.decrementAndGet()
          }
          wins.incrementAndGet()
        } catch { case _: IllegalStateException => () }
      })
    }
    threads.foreach(_.start()); start.countDown(); threads.foreach(_.join())
    assert(overlaps.get() == 0, "two writers held the lease at once")
    assert(wins.get() >= 1, "no waiter managed to break the expired lease")

    // a slow writer whose lease was broken must NOT delete the
    // breaker's fresh lock on its way out (token-verified release)
    val dir2 = tmp("graft_lock_spare")
    val slowStarted = new java.util.concurrent.CountDownLatch(1)
    val breakerHolding = new java.util.concurrent.CountDownLatch(1)
    // the slow writer stays inside its lease until the breaker holds the
    // lock, whatever the machine's load — no timing window to miss
    val slow = new Thread(() => {
      IndexLock.withLock(spark, dir2, "slow") {
        slowStarted.countDown()
        breakerHolding.await(30, java.util.concurrent.TimeUnit.SECONDS)
      }
    })
    slow.start(); slowStarted.await()
    Thread.sleep(100)
    // breaker treats the 100ms-old lease as expired under a 50ms TTL
    // and holds PAST the slow writer's exit AND the main thread's reads
    // of its lock below — releasing on `slow.join()` alone raced them
    val breakerDone = new java.util.concurrent.CountDownLatch(1)
    val lockRead = new java.util.concurrent.CountDownLatch(1)
    val breaker = new Thread(() => {
      IndexLock.withLock(spark, dir2, "breaker", leaseMs = 50L) {
        breakerHolding.countDown()
        slow.join() // outlive the displaced writer's release
        lockRead.await(30, java.util.concurrent.TimeUnit.SECONDS)
        breakerDone.countDown()
      }
    })
    breaker.start(); breakerHolding.await(); slow.join()
    // the displaced writer has exited: the breaker's lock must survive
    val lockFile = new java.io.File(dir2, ".writer-lock")
    try {
      assert(lockFile.exists(), "displaced writer deleted the breaker's lock")
      val body = java.nio.file.Files.readString(lockFile.toPath)
      assert(body.contains("verb=breaker"))
    } finally lockRead.countDown()
    breaker.join(); breakerDone.await()
    // the breaker outlived its OWN 50ms lease, but release runs UNDER
    // the break ticket (verify+delete atomic wrt breaks), so deleting
    // its still-token-matching lock is safe even past the lease — no
    // forfeited leftover, and the next acquire needs no break
    assert(!lockFile.exists(), "ticketed release should clear an " +
      "expired-but-unbroken holder's own lock")
    assert(IndexLock.withLock(spark, dir2, "next", leaseMs = 50L) { 9 } == 9)
    assert(!lockFile.exists())
  }

  test("a crashed breaker's ticket wedges breaks loudly; forceUnlock clears it") {
    val dir = tmp("graft_lock_wedge")
    plantLock(dir, "died", ageMs = 86400000L)
    // plant a crashed breaker's ticket, itself long past any lease
    val ticket = new java.io.File(dir, ".writer-lock.break")
    java.nio.file.Files.writeString(ticket.toPath,
      s"verb=deadbreaker\nacquired_ms=${System.currentTimeMillis() - 86400000L}\ntoken=x\n")
    val e = intercept[IllegalStateException] {
      IndexLock.withLock(spark, dir, "w", leaseMs = 60000L) { 1 }
    }
    assert(e.getMessage.contains("forceUnlock") &&
      e.getMessage.contains("break"))
    // a FRESH ticket (live breaker) fails with the ordinary holder
    // message instead — no false wedge alarm
    java.nio.file.Files.writeString(ticket.toPath,
      s"verb=livebreaker\nacquired_ms=${System.currentTimeMillis()}\ntoken=y\n")
    val e2 = intercept[IllegalStateException] {
      IndexLock.withLock(spark, dir, "w2", leaseMs = 60000L) { 1 }
    }
    assert(e2.getMessage.contains("concurrent writer"))
    // recovery clears BOTH files and the index is writable again
    IndexLock.forceUnlock(spark, dir)
    assert(!ticket.exists() && !new java.io.File(dir, ".writer-lock").exists())
    assert(IndexLock.withLock(spark, dir, "after") { 3 } == 3)
  }
}
