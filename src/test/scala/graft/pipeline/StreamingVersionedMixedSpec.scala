package graft.pipeline

import java.util.concurrent.atomic.{AtomicBoolean, AtomicReference}

import graft.TestSpark
import graft.streaming.{EventStreamPipeline, StreamingVersionedIngest}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[graft.streaming.StreamingVersionedIngest]] sharing its table with
  * other writers: batch appends between runs and during a run, z-order
  * compactions between and inside micro-batches, and crashes both after
  * a batch's publish (replay) and before it (nothing published). The
  * ingest frontier lives in the same manifest as the data, so every
  * other writer must carry it forward unchanged — the property each
  * case checks from a different side. `StreamingVersionedIngestSpec`
  * covers a stream that owns its table alone.
  */
class StreamingVersionedMixedSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val Stats = Seq("user_id", "ts_us")

  private def servedIds(root: String): Seq[Long] =
    VersionedTable.read(spark, root)
      .select($"event_id").collect().map(_.getLong(0)).toSeq.sorted

  /** A stream source dir, a table root and a checkpoint under one temp
    * dir, deleted when `body` ends.
    */
  private def withStreamTable[T](tag: String)(
      body: (java.nio.file.Path, String, String) => T): T = {
    val base = java.nio.file.Files.createTempDirectory(s"graft-svm-$tag")
    try body(java.nio.file.Files.createDirectory(base.resolve("src")),
      base.resolve("table").toString, s"$base/ckpt")
    finally org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
  }

  private def stream(src: java.nio.file.Path) =
    EventStreamPipeline.readEvents(spark, src.toString,
        maxFilesPerTrigger = Some(1))
      .select($"event_id", $"user_id",
        expr(graft.queries.Tables.fldivExpr("ts", 1000L)).as("ts_us"))

  /** Stream file `f<k>`: event ids `[k * 50, (k + 1) * 50)`. */
  private def arrive(src: java.nio.file.Path, k: Int): Unit =
    TestSpark.writeEventsFile(src, s"f$k",
      (k * 50L until (k + 1) * 50L)
        .map(i => (i, (i + 1) * 60000000000L, i % 7, "view")))

  /** A batch append of ids `[from, from + n)`, outside every stream id. */
  private def batchRows(from: Long, n: Int) =
    spark.range(from, from + n, 1, 1)
      .select($"id".as("event_id"), ($"id" % 7).as("user_id"),
        ($"id" * 1000000L).as("ts_us"))

  private def frontiers(root: String): Seq[Long] =
    VersionedTable.versions(spark, root)
      .map(VersionedTable.ingestFrontier(spark, root, _))

  private def dataFiles(root: String): Set[String] =
    Option(new java.io.File(s"$root/files").listFiles()).toSeq.flatten
      .filter(f => f.isFile && !f.getName.startsWith("."))
      .map(_.getName).toSet

  test("a batch append between a post-publish crash and the restart carries the frontier: the replay still publishes nothing") {
    withStreamTable("between") { (src, root, ckpt) =>
      arrive(src, 0); arrive(src, 1)
      StreamingVersionedIngest.ingestAvailable(stream(src), root, ckpt, Stats)
      assert(servedIds(root) == (0L until 100L))

      arrive(src, 2)
      val crashOnce = new AtomicBoolean(true)
      intercept[Exception] {
        StreamingVersionedIngest.ingestAvailable(stream(src), root, ckpt,
          Stats, afterBatch = _ =>
            if (crashOnce.getAndSet(false))
              throw new RuntimeException("injected post-publish crash"))
      }
      assert(!crashOnce.get(), "the injected crash must have fired")
      // another writer appends before the stream restarts
      val vBatch = VersionedTable.append(batchRows(5000L, 40), root, Stats)
      assert(VersionedTable.ingestFrontier(spark, root, vBatch) == 2L,
        "a plain append must carry the stream's frontier")

      StreamingVersionedIngest.ingestAvailable(stream(src), root, ckpt, Stats)
      assert(VersionedTable.latestVersion(spark, root).contains(vBatch),
        "the replayed batch must publish nothing")
      assert(servedIds(root) == ((0L until 150L) ++ (5000L until 5040L)))
      // the change feed sees every row once: three stream batches and
      // one batch append
      assert(VersionedTable.readChanges(spark, root, 0L, vBatch).count() ==
        190L)
      assert(frontiers(root) == Seq(0L, 1L, 2L, 2L))
    }
  }

  test("compactZorder inside every micro-batch, then a replay of an already-folded batch: the frontier survives compaction") {
    withStreamTable("inside") { (src, root, ckpt) =>
      (0 until 3).foreach(arrive(src, _))
      val crashOnce = new AtomicBoolean(true)
      intercept[Exception] {
        StreamingVersionedIngest.ingestAvailable(stream(src), root, ckpt,
          Stats, afterBatch = id => {
            // maintenance runs while the query is live, between the
            // batch's publish and its checkpoint commit
            VersionedTable.compactZorder(spark, root, 2)
            if (id == 2 && crashOnce.getAndSet(false))
              throw new RuntimeException("injected crash after the fold")
          })
      }
      assert(!crashOnce.get(), "the injected crash must have fired")
      val kinds = VersionedTable.history(spark, root).map(_._3)
      assert(kinds == Seq("append", "compact", "append", "compact",
        "append", "compact"), s"history: $kinds")
      val vFolded = VersionedTable.latestVersion(spark, root).get
      assert(VersionedTable.ingestFrontier(spark, root, vFolded) == 2L,
        "compaction must carry the frontier of the batch it folded")
      // batch 2's rows now live only in the compacted files
      assert(VersionedTable.entryNames(spark, root, vFolded).size == 2)

      StreamingVersionedIngest.ingestAvailable(stream(src), root, ckpt, Stats)
      assert(VersionedTable.latestVersion(spark, root).contains(vFolded),
        "a replay of a folded batch must publish nothing")
      assert(servedIds(root) == (0L until 150L))

      // the stream keeps going after the replay
      arrive(src, 3)
      StreamingVersionedIngest.ingestAvailable(stream(src), root, ckpt, Stats)
      assert(servedIds(root) == (0L until 200L))
      assert(frontiers(root).last == 3L)
    }
  }

  test("a micro-batch crashed before its publish: nothing is served or folded, and the restart publishes it once") {
    withStreamTable("prepublish") { (src, root, ckpt) =>
      arrive(src, 0)
      StreamingVersionedIngest.ingestAvailable(stream(src), root, ckpt, Stats)
      val before = dataFiles(root)

      arrive(src, 1)
      VersionedTable.beforePublishHook.set(() =>
        throw new java.io.IOException("injected crash before publish"))
      try {
        intercept[Exception] {
          StreamingVersionedIngest.ingestAvailable(stream(src), root, ckpt,
            Stats)
        }
      } finally VersionedTable.beforePublishHook.set(() => ())
      val orphans = dataFiles(root) -- before
      assert(orphans.nonEmpty, "fixture: the crashed batch wrote its file")
      assert(VersionedTable.versions(spark, root) == Seq(1L),
        "a batch crashed before its publish publishes nothing")
      assert(servedIds(root) == (0L until 50L))

      // a compaction between the crash and the restart folds only
      // published files
      val cv = VersionedTable.compactZorder(spark, root, 1)
      assert((VersionedTable.entryNames(spark, root, cv) & orphans).isEmpty)
      assert(VersionedTable.ingestFrontier(spark, root, cv) == 0L)

      // the batch was never committed: the restart re-delivers it, and
      // as it is above the frontier it publishes, exactly once
      StreamingVersionedIngest.ingestAvailable(stream(src), root, ckpt, Stats)
      assert(servedIds(root) == (0L until 100L))
      assert(frontiers(root).last == 1L)
      VersionedTable.vacuum(spark, root, keepVersions = 1, graceMs = 0L)
      assert((dataFiles(root) & orphans).isEmpty,
        "vacuum must collect the crashed batch's file")
      assert(servedIds(root) == (0L until 100L))
    }
  }

  test("batch appends racing a live stream: every row once, versions dense, and no version lowers the frontier") {
    withStreamTable("race") { (src, root, ckpt) =>
      val batches = 5
      val appends = 4
      (0 until batches).foreach(arrive(src, _))
      val failure = new AtomicReference[Throwable](null)
      val started = new java.util.concurrent.CountDownLatch(1)
      val appender = new Thread(() => {
        try {
          started.await()
          (0 until appends).foreach { k =>
            VersionedTable.append(batchRows(5000L + k * 40L, 40), root, Stats)
          }
        } catch { case t: Throwable => failure.compareAndSet(null, t) }
      }, "svm-appender")
      appender.start()
      StreamingVersionedIngest.ingestAvailable(stream(src), root, ckpt,
        Stats, afterBatch = id => if (id == 0) started.countDown())
      appender.join(600000)
      if (failure.get() != null) throw failure.get()

      assert(servedIds(root) ==
        ((0L until batches * 50L) ++ (5000L until 5000L + appends * 40L)))
      assert(VersionedTable.versions(spark, root) == (1L to batches + appends),
        "one version per stream batch and per append, no gaps")
      val fs = frontiers(root)
      assert(fs.sliding(2).forall { case Seq(a, b) => a <= b },
        s"a racing append must never lower the frontier: $fs")
      assert(fs.last == batches - 1L)
      // a restart with nothing new publishes nothing
      StreamingVersionedIngest.ingestAvailable(stream(src), root, ckpt, Stats)
      assert(VersionedTable.versions(spark, root).size == batches + appends)
    }
  }
}
