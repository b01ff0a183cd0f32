package graft.pipeline

import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger, AtomicReference}

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The ingest-and-serve loop on one [[VersionedTable]] under load:
  * several appenders, a compactor that keeps re-running
  * [[VersionedTable.compactZorder]], and a reader that polls and
  * collects — all at once, with no lock anywhere — plus a crash
  * injected into an append's publish and into a compaction's publish
  * (the one-shot `beforePublishHook` seam). `VersionedTableSpec`'s
  * racing reader faces one thread that appends and compacts in turn;
  * here the compactions race the appends, so every compaction that
  * loses the CAS must carry the racers' shards.
  */
class VersionedLiveWriterSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val Stats = Seq("user_id", "ts_us")

  /** One batch: ids `[start, start + n)` in a single file. */
  private def rows(start: Long, n: Int) =
    spark.range(start, start + n, 1, 1)
      .select(col("id").as("event_id"), (col("id") % 97).as("user_id"),
        (col("id") * 1000L).as("ts_us"))

  private def ids(root: String): Seq[Long] =
    VersionedTable.read(spark, root)
      .select($"event_id").collect().map(_.getLong(0)).sorted.toSeq

  /** A fresh table root, deleted with its temp dir when `body` ends. */
  private def withRoot[T](tag: String)(body: String => T): T = {
    val dir = java.nio.file.Files.createTempDirectory(s"graft-vlw-$tag")
    try body(dir.resolve("t").toString)
    finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  private def dataFiles(root: String): Set[String] =
    Option(new java.io.File(s"$root/files").listFiles()).toSeq.flatten
      .filter(f => f.isFile && !f.getName.startsWith("."))
      .map(_.getName).toSet

  test("appenders ∥ repeated compactZorder ∥ a polling read: every poll is whole batches, none duplicated, no acked row missing") {
    withRoot("live") { root =>
      val perBatch = 100
      val appenders = 2
      val batchesEach = 8
      val acked = Array.fill(appenders)(new AtomicInteger(0))
      val failure = new AtomicReference[Throwable](null)
      val writersDone = new AtomicBoolean(false)
      val compactions = new AtomicInteger(0)
      // appender k owns ids [k * 10^6, ...): a whole batch is
      // recognizable from its id alone
      def batchStart(k: Int, b: Int) = k * 1000000L + b.toLong * perBatch

      VersionedTable.append(rows(batchStart(0, 0), perBatch), root, Stats)
      acked(0).incrementAndGet()
      val appenderThreads = (0 until appenders).map { k =>
        new Thread(() => {
          try {
            for (b <- (if (k == 0) 1 else 0) until batchesEach) {
              // pace: batch b waits for b / 3 finished compactions, so
              // compactions land between appends instead of one long
              // compaction rebasing over all of them
              while (compactions.get() < b / 3 && failure.get() == null)
                Thread.sleep(10)
              VersionedTable.append(rows(batchStart(k, b), perBatch), root,
                Stats)
              acked(k).incrementAndGet() // acked only after the publish
            }
          } catch { case t: Throwable => failure.compareAndSet(null, t) }
        }, s"vlw-appender-$k")
      }
      val compactor = new Thread(() => {
        try {
          while (acked.map(_.get()).sum < appenders * batchesEach &&
              failure.get() == null) {
            VersionedTable.compactZorder(spark, root, 4)
            compactions.incrementAndGet()
          }
        } catch { case t: Throwable => failure.compareAndSet(null, t) }
      }, "vlw-compactor")

      var polls = 0
      val reader = new Thread(() => {
        try {
          while (!writersDone.get() && failure.get() == null) {
            val ackedBefore = acked.map(_.get())
            val got = ids(root)
            polls += 1
            assert(got.distinct.size == got.size,
              s"poll $polls saw duplicated rows")
            val byBatch = got.groupBy(_ / perBatch)
            assert(byBatch.values.forall(_.size == perBatch),
              s"poll $polls saw a torn batch: " +
                byBatch.collect { case (b, v) if v.size != perBatch =>
                  b -> v.size }.take(3))
            val have = got.toSet
            (0 until appenders).foreach { k =>
              (0 until ackedBefore(k)).foreach { b =>
                assert(have(batchStart(k, b)),
                  s"poll $polls lost acked batch $b of appender $k")
              }
            }
          }
        } catch { case t: Throwable => failure.compareAndSet(null, t) }
      }, "vlw-reader")

      appenderThreads.foreach(_.start()); compactor.start(); reader.start()
      appenderThreads.foreach(_.join(600000))
      compactor.join(600000)
      writersDone.set(true)
      reader.join(600000)
      if (failure.get() != null) throw failure.get()
      assert(polls >= 3, s"the reader must have raced the writers: $polls")
      assert(compactions.get() >= 2, "the compactor must have re-run")

      // final state: every batch exactly once, and one more compaction
      // folds whatever the last racing appends left unclustered
      val want = (0 until appenders).flatMap(k =>
        (0 until batchesEach).flatMap(b =>
          batchStart(k, b) until batchStart(k, b) + perBatch))
      assert(ids(root) == want.sorted)
      VersionedTable.compactZorder(spark, root, 4)
      assert(ids(root) == want.sorted)
      val latest = VersionedTable.latestVersion(spark, root).get
      assert(VersionedTable.entryNames(spark, root, latest).size == 4,
        "a quiesced compaction folds the table into nFiles files")
      val kinds = VersionedTable.history(spark, root).map(_._3)
      assert(kinds.count(_ == "append") == appenders * batchesEach)
      assert(kinds.indexOf("compact") < kinds.lastIndexOf("append"),
        s"compactions must interleave with appends: $kinds")
      info(s"$polls consistent polls; ${compactions.get()} racing " +
        s"compactions; history ${kinds.mkString(",")}")
    }
  }

  test("an append crashed before its publish is never read and never folded by the next compactZorder") {
    withRoot("crash-append") { root =>
      VersionedTable.append(rows(0L, 100), root, Stats)
      VersionedTable.append(rows(100L, 100), root, Stats)
      val before = dataFiles(root)
      VersionedTable.beforePublishHook.set(() =>
        throw new java.io.IOException("injected crash before publish"))
      val crash = intercept[java.io.IOException] {
        VersionedTable.append(rows(1000L, 100), root, Stats)
      }
      assert(crash.getMessage.contains("injected"))
      // the crashed writer's data file is on disk, unreferenced
      val orphans = dataFiles(root) -- before
      assert(orphans.nonEmpty, "fixture: the crashed append wrote its file")
      assert(VersionedTable.versions(spark, root) == Seq(1L, 2L),
        "a crashed append publishes nothing")
      assert(ids(root) == (0L until 200L))

      // the compaction reads the MANIFEST, not the directory: the
      // orphan's rows never enter the compacted layout
      val cv = VersionedTable.compactZorder(spark, root, 2)
      assert(ids(root) == (0L until 200L),
        "compaction folded a crashed append's rows")
      assert((VersionedTable.entryNames(spark, root, cv) & orphans).isEmpty)
      // and vacuum collects the orphan once it is past the grace window
      VersionedTable.vacuum(spark, root, keepVersions = 1, graceMs = 0L)
      assert((dataFiles(root) & orphans).isEmpty,
        "vacuum must collect the crashed append's file")
      // the retried append lands on top of the compacted version
      assert(VersionedTable.append(rows(1000L, 100), root, Stats) == cv + 1)
      assert(ids(root) == ((0L until 200L) ++ (1000L until 1100L)))
    }
  }

  test("a compactZorder crashed before its publish: the next append publishes, nothing is lost, a re-run converges") {
    withRoot("crash-compact") { root =>
      (0 until 3).foreach(k =>
        VersionedTable.append(rows(k * 100L, 100), root, Stats))
      VersionedTable.beforePublishHook.set(() =>
        throw new java.io.IOException("injected compaction crash"))
      val crash = intercept[java.io.IOException] {
        VersionedTable.compactZorder(spark, root, 2)
      }
      assert(crash.getMessage.contains("injected"))
      assert(VersionedTable.versions(spark, root) == Seq(1L, 2L, 3L),
        "a crashed compaction publishes nothing")
      assert(VersionedTable.entryNames(spark, root, 3L).size == 3,
        "the crashed compaction's files are not in the table")

      // no recover step exists or is needed: the next writer just
      // publishes on top of the last good version
      assert(VersionedTable.append(rows(300L, 100), root, Stats) == 4L)
      assert(ids(root) == (0L until 400L))

      // the re-run folds everything, the appended batch included
      assert(VersionedTable.compactZorder(spark, root, 2) == 5L)
      assert(ids(root) == (0L until 400L))
      assert(VersionedTable.entryNames(spark, root, 5L).size == 2)
      // and a second re-run is a pure layout rewrite of the same rows
      assert(VersionedTable.compactZorder(spark, root, 2) == 6L)
      assert(ids(root) == (0L until 400L))
      assert(VersionedTable.readVersion(spark, root, 3L).count() == 300L,
        "history before the crash stays readable")
    }
  }
}
