package graft.pipeline

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** [[VersionedTable]]'s OPTIMISTIC concurrency — the Iceberg commit
  * protocol: no writer lock anywhere, the `v<k>` manifest
  * create-if-absent is the one CAS, losers rebase (appends re-point at
  * the winner's entry list; compactions carry since-base appends;
  * delete/upsert rebase over provably disjoint commits and restart on
  * true overlap). The deterministic races use the one-shot
  * `beforePublishHook` seam to inject a competing COMMIT into the exact
  * window between a writer's snapshot read and its CAS; the stochastic
  * race hammers N lease-free appender threads. Also pins this round's
  * ADVICE fixes: the fenced-zombie clobber (CAS instead of an
  * overwriting rename), legacy schema migration through delete/compact,
  * the duplicate-key upsert guard, and sparse-wide upsert pruning.
  */
class VersionedTableConcurrencySpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def rows(round: Int, n: Int) =
    spark.range(round.toLong * n, round.toLong * n + n)
      .select(col("id").as("event_id"), (col("id") % 97).as("user_id"),
        (col("id") * 1000L).as("ts_us"))

  private val Stats = Seq("user_id", "ts_us")

  private def freshRoot(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-vtc-$tag")
      .resolve("t").toString

  private def ids(root: String): Seq[Long] =
    VersionedTable.read(spark, root)
      .select($"event_id").collect().map(_.getLong(0)).sorted.toSeq

  /** Entry file names of version v — the carried-by-name assertions
    * need name-level visibility the public API deliberately hides.
    */
  private def manifestNames(root: String, v: Long): Set[String] =
    VersionedTable.entryNames(spark, root, v)

  private def manifestText(root: String, v: Long): String =
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$root/manifests/v$v")), "UTF-8")

  /** Rewrite version v's manifest WITHOUT its #schema line — the
    * pre-schema-storage legacy format the migration paths must handle.
    */
  private def dropSchemaLine(root: String, v: Long): Unit = {
    val p = java.nio.file.Paths.get(s"$root/manifests/v$v")
    val lines = java.nio.file.Files.readAllLines(p).asScala
      .filterNot(_.startsWith("#schema")).asJava
    java.nio.file.Files.delete(p)
    java.nio.file.Files.write(p, lines)
  }

  test("N lease-free appenders race: all commit, versions dense, every row exactly once") {
    val root = freshRoot("race")
    val n = 8
    val versions = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val start = new java.util.concurrent.CountDownLatch(1)
    val threads = (0 until n).map { k =>
      val t = new Thread(() => {
        try {
          start.await()
          versions.add(VersionedTable.append(rows(k, 200), root, Stats))
          ()
        } catch { case e: Throwable => failure.compareAndSet(null, e); () }
      }, s"appender-$k")
      t.start(); t
    }
    start.countDown()
    threads.foreach(_.join(600000))
    if (failure.get() != null) throw failure.get()
    assert(versions.asScala.toSeq.sorted == (1L to n),
      s"every appender must commit, versions dense: ${versions.asScala}")
    assert(VersionedTable.versions(spark, root) == (1L to n))
    assert(ids(root) == (0L until n * 200L),
      "a lost CAS must rebase, never drop or duplicate rows")
    assert(VersionedTable.fastCount(spark, root) == n * 200L)
    // and every intermediate version is a consistent cumulative state
    // (k of the n slices, each whole) — no version ever held a torn mix
    (1L to n).foreach { v =>
      assert(VersionedTable.fastCount(spark, root, Some(v)) == v * 200L,
        s"version $v must hold exactly $v whole slices")
    }
  }

  test("append ∥ compact: the compaction loses the CAS, rebases, and CARRIES the appended files by name") {
    val root = freshRoot("compact")
    VersionedTable.append(rows(0, 300), root, Stats)
    VersionedTable.append(rows(1, 300), root, Stats)
    // inject a competing append into the compaction's read-to-CAS window
    VersionedTable.beforePublishHook.set(() => {
      VersionedTable.append(rows(2, 300), root, Stats)
      ()
    })
    val cv = VersionedTable.compactZorder(spark, root, nFiles = 4)
    assert(cv == 4L, s"hook append takes v3, rebased compaction v4: $cv")
    assert(ids(root) == (0L until 900L),
      "the rebase must carry the concurrently appended rows")
    // the appended files ride into the compacted version UNCHANGED:
    // v3's new names (v3 minus v2) all appear verbatim in v4
    val appended = manifestNames(root, 3L) -- manifestNames(root, 2L)
    assert(appended.nonEmpty && appended.subsetOf(manifestNames(root, 4L)),
      "carried files must keep their names (no re-write of un-compacted data)")
    // time travel still exact at every version
    assert(VersionedTable.readVersion(spark, root, 3L).count() == 900)
    assert(VersionedTable.readVersion(spark, root, 2L).count() == 600)
  }

  test("compact ∥ delete: the compaction's inputs were rewritten — it aborts loudly and discards its stale layout") {
    val root = freshRoot("abort")
    VersionedTable.append(rows(0, 400), root, Stats)
    // the delete rewrites files the compaction already read: committing
    // the stale layout would RESURRECT the deleted rows
    VersionedTable.beforePublishHook.set(() => {
      val (_, d) = VersionedTable.deleteRange(spark, root,
        Seq(("user_id", 0L, 10L)))
      assert(d > 0, "fixture: the injected delete must delete something")
      ()
    })
    val boom = intercept[java.util.ConcurrentModificationException] {
      VersionedTable.compactZorder(spark, root, nFiles = 4)
    }
    assert(boom.getMessage.contains("rewrote this compaction's input"))
    val after = ids(root)
    assert(after == (0L until 400L).filterNot(i => i % 97 <= 10),
      "the delete's result must stand; the stale compaction must change nothing")
    // the aborted compaction discarded its unpublished files: everything
    // under files/ is referenced by some surviving manifest
    val referenced = VersionedTable.versions(spark, root)
      .flatMap(v => manifestNames(root, v)).toSet
    val onDisk = new java.io.File(s"$root/files").list().toSet
      .filterNot(_.startsWith(".")) // crc sidecars ride with their file
    assert(onDisk == referenced,
      s"aborted work must leave no orphans: ${(onDisk -- referenced).take(3)}")
    // compaction is rerunnable maintenance: the retry succeeds
    val cv = VersionedTable.compactZorder(spark, root, nFiles = 4)
    assert(ids(root) == after && cv == VersionedTable.versions(spark, root).max)
  }

  test("delete ∥ disjoint append: the delete REBASES (both commit, one delete pass) — no restart needed") {
    val root = freshRoot("del-rebase")
    VersionedTable.append(rows(0, 400), root, Stats) // user_id 0..96
    // competing append lands OUTSIDE the delete box: provably disjoint
    VersionedTable.beforePublishHook.set(() => {
      val outside = spark.range(10000, 10100)
        .select($"id".as("event_id"), ($"id" % 7 + 50L).as("user_id"),
          ($"id" * 1000L).as("ts_us"))
      VersionedTable.append(outside, root, Stats)
      ()
    })
    val (dv, deleted) = VersionedTable.deleteRange(spark, root,
      Seq(("user_id", 0L, 10L)))
    assert(dv == 3L, "append v2, rebased delete v3")
    assert(deleted == (0L until 400L).count(_ % 97 <= 10))
    val got = ids(root)
    assert(got == ((0L until 400L).filterNot(_ % 97 <= 10) ++
        (10000L until 10100L)),
      "both the delete and the disjoint append must stand")
  }

  test("delete ∥ append INTO the box: true conflict — the delete restarts and the late rows die too") {
    val root = freshRoot("del-conflict")
    VersionedTable.append(rows(0, 400), root, Stats)
    // competing append lands INSIDE the delete box — rows the delete's
    // first rewrite pass never saw; rebasing would leak them
    VersionedTable.beforePublishHook.set(() => {
      val inside = spark.range(20000, 20050)
        .select($"id".as("event_id"), ($"id" % 11).as("user_id"),
          ($"id" * 1000L).as("ts_us"))
      VersionedTable.append(inside, root, Stats)
      ()
    })
    val (_, deleted) = VersionedTable.deleteRange(spark, root,
      Seq(("user_id", 0L, 10L)))
    assert(deleted == (0L until 400L).count(_ % 97 <= 10) + 50,
      "the restarted delete must also delete the concurrently appended in-box rows")
    assert(ids(root) == (0L until 400L).filterNot(_ % 97 <= 10),
      "no in-box row may survive the restart")
  }

  test("upsert ∥ append of a matching key: true conflict — the restart replaces the late row as well") {
    val root = freshRoot("ups-conflict")
    val base = spark.range(0, 200)
      .select($"id".as("event_id"), $"id".as("user_id"),
        ($"id" * 1000L).as("ts_us"))
    VersionedTable.append(base, root, Seq("user_id", "ts_us"))
    val updates = spark.range(50, 53)
      .select($"id".as("event_id"), $"id".as("user_id"),
        lit(777000L).as("ts_us"))
    // the competing append lands ANOTHER row with key 51 — committed
    // before the upsert's CAS, so MERGE semantics require it replaced
    VersionedTable.beforePublishHook.set(() => {
      VersionedTable.append(
        Seq((9999L, 51L, 1L)).toDF("event_id", "user_id", "ts_us"),
        root, Seq("user_id", "ts_us"))
      ()
    })
    val (_, replaced) = VersionedTable.upsertByKey(spark, root, updates,
      Seq("user_id"))
    assert(replaced == 4,
      "keys 50,52 replace one row; key 51 replaces BOTH its copies")
    val got = VersionedTable.read(spark, root)
      .filter($"user_id".between(50, 52))
      .select($"user_id", $"ts_us").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(got.toSeq == Seq((50L, 777000L), (51L, 777000L), (52L, 777000L)),
      s"each upserted key must resolve to exactly its update row: ${got.toSeq}")
  }

  test("fenced-out zombie cannot clobber a successor's version: the CAS fails it into a rebase, losing nothing") {
    // the ADVICE scenario: writer A stalls between reading its base and
    // publishing; writer B publishes the same version number first. The
    // old overwrite-on-rename would let A silently replace B's manifest
    // (dropping B's rows); the create-if-absent CAS makes A lose and
    // rebase instead. The hook IS the stall.
    val root = freshRoot("zombie")
    VersionedTable.append(rows(0, 100), root, Stats)
    VersionedTable.beforePublishHook.set(() => {
      VersionedTable.append(rows(1, 100), root, Stats) // B wins v2
      ()
    })
    val va = VersionedTable.append(rows(2, 100), root, Stats) // A: zombie
    assert(va == 3L, "the zombie must lose v2 and land at v3")
    assert(ids(root) == (0L until 300L),
      "B's v2 rows must survive the zombie's publish")
    assert(VersionedTable.fastCount(spark, root, Some(2L)) == 200L,
      "v2 must still be B's manifest, not A's")
  }

  test("exactly-once under racing replays: two writers with the SAME ingest batch id publish it once") {
    val root = freshRoot("replay")
    VersionedTable.appendBatch(rows(0, 100), root, Stats, ingestBatch = 0L)
    // a zombie replay of batch 1 races the live writer's batch 1: the
    // loser must observe the advanced frontier and publish NOTHING
    VersionedTable.beforePublishHook.set(() => {
      VersionedTable.appendBatch(rows(1, 100), root, Stats, ingestBatch = 1L)
      ()
    })
    val v = VersionedTable.appendBatch(rows(1, 100), root, Stats,
      ingestBatch = 1L)
    assert(v == 2L, "the replay must return the batch's existing version")
    assert(VersionedTable.versions(spark, root) == Seq(1L, 2L),
      "the replay must not publish even an empty version")
    assert(ids(root) == (0L until 200L), "rows exactly once")
    // and its discarded duplicate files are not left as orphans
    val referenced = VersionedTable.versions(spark, root)
      .flatMap(vv => manifestNames(root, vv)).toSet
    assert(new java.io.File(s"$root/files").list().toSet
        .filterNot(_.startsWith(".")) == referenced,
      "the losing replay must discard its unpublished files")
  }

  test("legacy schema-less manifests: delete and compact MIGRATE the schema instead of propagating its absence") {
    // deleteRange on a legacy table that empties it: the old code
    // published an empty, schema-less, UNREADABLE snapshot
    val root = freshRoot("legacy-del")
    VersionedTable.append(rows(0, 50), root, Stats)
    dropSchemaLine(root, 1L)
    val (dv, deleted) = VersionedTable.deleteRange(spark, root,
      Seq(("user_id", 0L, 96L))) // the whole user_id domain
    assert(deleted == 50 && dv == 2L)
    assert(manifestText(root, 2L).contains("#schema\t"),
      "the delete must store the footer-derived schema")
    val emptied = VersionedTable.read(spark, root)
    assert(emptied.count() == 0 &&
      emptied.columns.toSeq == Seq("event_id", "user_id", "ts_us"),
      "an emptied legacy table must stay readable under its real schema")

    // compactZorder on a legacy table likewise migrates
    val root2 = freshRoot("legacy-cmp")
    VersionedTable.append(rows(0, 50), root2, Stats)
    dropSchemaLine(root2, 1L)
    VersionedTable.compactZorder(spark, root2, nFiles = 2)
    assert(manifestText(root2, 2L).contains("#schema\t"),
      "compaction must store the footer-derived schema")
    assert(VersionedTable.read(spark, root2).count() == 50)
  }

  test("duplicate-key updates are refused loudly, like NULL keys — never an atomically committed corruption") {
    val root = freshRoot("dupkey")
    VersionedTable.append(rows(0, 100), root, Stats)
    val dup = Seq((1L, 5L, 111L), (2L, 5L, 222L), (3L, 6L, 333L))
      .toDF("event_id", "user_id", "ts_us")
    val e = intercept[IllegalArgumentException] {
      VersionedTable.upsertByKey(spark, root, dup, Seq("user_id"))
    }
    assert(e.getMessage.contains("duplicate-key"))
    assert(VersionedTable.latestVersion(spark, root).contains(1L),
      "the refused upsert must publish nothing")
  }

  test("sparse-wide upsert: two extreme keys rewrite their two holding files, not the global-box-covered table") {
    val root = freshRoot("sparse")
    // 16 single-file appends with DISJOINT user_id ranges: file k holds
    // user_id in [k*100, k*100+49]
    (0 until 16).foreach { k =>
      val part = spark.range(k * 50L, k * 50L + 50)
        .select($"id".as("event_id"),
          ($"id" - k * 50L + k * 100L).as("user_id"),
          ($"id" * 1000L).as("ts_us"))
        .coalesce(1)
      VersionedTable.append(part, root, Seq("user_id", "ts_us"))
    }
    assert(manifestNames(root, 16L).size == 16)
    // keys at both EXTREMES: the single global bounding box [7, 1533]
    // covers every file; the per-key refinement keeps exactly two
    val updates = Seq((100000L, 7L, 1L), (100001L, 1533L, 1L))
      .toDF("event_id", "user_id", "ts_us")
    val (uv, replaced) = VersionedTable.upsertByKey(spark, root, updates,
      Seq("user_id"))
    assert(replaced == 2)
    val carried = manifestNames(root, 16L) intersect manifestNames(root, uv)
    assert(carried.size == 14,
      s"exactly the 14 non-holding files must be carried by name, " +
        s"got ${carried.size} — the rewrite set must shrink to the holders")
    // correctness unchanged: the two keys resolve to their update rows
    val got = VersionedTable.read(spark, root)
      .filter($"user_id".isin(7L, 1533L))
      .select($"event_id").collect().map(_.getLong(0)).sorted
    assert(got.toSeq == Seq(100000L, 100001L))
    assert(VersionedTable.fastCount(spark, root) == 16 * 50L)
  }

  test("mor-delete ∥ append: the marker rebases over the append and stays scoped to ITS files — the late in-box rows survive") {
    val root = freshRoot("mor-app")
    VersionedTable.append(rows(0, 400), root, Stats)
    // inject an append (with rows INSIDE the delete box) into the
    // mor-delete's read-to-CAS window: the marker loses the CAS,
    // rebases (its candidate shards are intact, the marker list
    // unchanged), and must still apply only to the files it counted
    VersionedTable.beforePublishHook.set(() => {
      VersionedTable.append(rows(0, 100), root, Stats) // ids 0..99 again
      ()
    })
    val (mv, matched) = VersionedTable.deleteRangeMor(spark, root,
      Seq(("user_id", 10L, 30L)))
    assert(mv == 3L, s"hook append v2, rebased marker v3: $mv")
    val expectGone = (0L until 400L).filter(id =>
      id % 97 >= 10 && id % 97 <= 30)
    assert(matched == expectGone.size.toLong,
      "the marker's count basis is ITS snapshot, not the racer's rows")
    // the racer's in-box rows survive: file-scoped semantics
    val survivors = ids(root)
    val lateInBox = (0L until 100L).filter(id =>
      id % 97 >= 10 && id % 97 <= 30)
    assert(lateInBox.forall(survivors.contains),
      "rows appended concurrently inside the box must survive the marker")
    assert(VersionedTable.fastCount(spark, root) ==
      (400 + 100 - expectGone.size).toLong)
  }

  test("mor-delete ∥ COW delete: the marker's count basis was rewritten — it restarts and recounts on the new base") {
    val root = freshRoot("mor-cow")
    VersionedTable.append(rows(0, 400), root, Stats)
    // the COW delete rewrites files the marker counted against:
    // publishing the stale count would corrupt fastCount forever
    VersionedTable.beforePublishHook.set(() => {
      VersionedTable.deleteRange(spark, root, Seq(("user_id", 10L, 20L)))
      ()
    })
    val (_, matched) = VersionedTable.deleteRangeMor(spark, root,
      Seq(("user_id", 15L, 30L)))
    // recounted on the post-COW base: 15..20 already gone
    val expect = (0L until 400L).filter(id =>
      id % 97 >= 21 && id % 97 <= 30)
    assert(matched == expect.size.toLong,
      s"restart must recount on the new base: $matched vs ${expect.size}")
    val visible = (0L until 400L).filterNot(id =>
      id % 97 >= 10 && id % 97 <= 30)
    assert(ids(root) == visible)
    assert(VersionedTable.fastCount(spark, root) == visible.size.toLong)
  }

  test("binpack ∥ append: the pack loses the CAS, rebases, and carries the racer's shard by reference") {
    val root = freshRoot("pack-app")
    // four runts per append: the pack's inputs
    (0 until 6).foreach(k =>
      VersionedTable.append(rows(k, 50).repartition(4), root, Stats))
    VersionedTable.beforePublishHook.set(() => {
      VersionedTable.append(rows(10, 50), root, Stats)
      ()
    })
    val (pv, reduced) = VersionedTable.compactSmallFiles(spark, root,
      minRows = 40L, targetRows = 1000L)
    assert(reduced > 0)
    // both landed: the pack's rows AND the racer's
    assert(VersionedTable.read(spark, root).count() == 350L)
    assert(VersionedTable.fastCount(spark, root) == 350L)
    // the racer's files rode in by NAME (they were not pack inputs)
    val racerNames = manifestNames(root, 7L) -- manifestNames(root, 6L)
    assert(racerNames.nonEmpty &&
      racerNames.subsetOf(manifestNames(root, pv)),
      "the concurrently appended files must carry by name through the pack")
  }

  test("compact ∥ runt-shard fold: a fold is a pure metadata reshuffle — the compaction COMMUTES instead of aborting") {
    val root = freshRoot("compact-fold")
    // ShardMergeFanIn runt shards: the NEXT append will fold them
    (0 until VersionedTable.ShardMergeFanIn).foreach(k =>
      VersionedTable.append(rows(k, 40), root, Stats))
    val before = VersionedTable.shardCount(spark, root,
      VersionedTable.latestVersion(spark, root).get)
    // inject an append into the compaction's read-to-CAS window: it
    // folds every base runt into one new shard (same FILES, new shard
    // names) — the name-level conflict check would spuriously abort
    VersionedTable.beforePublishHook.set(() => {
      VersionedTable.append(rows(20, 40), root, Stats)
      assert(VersionedTable.shardCount(spark, root,
        VersionedTable.latestVersion(spark, root).get) < before,
        "fixture: the injected append must actually fold the runts")
      ()
    })
    val cv = VersionedTable.compactZorder(spark, root, nFiles = 4)
    val n = VersionedTable.ShardMergeFanIn * 40L
    assert(cv == VersionedTable.versions(spark, root).max)
    assert(ids(root) == ((0L until n) ++ (800L until 840L)),
      "compaction must carry the fold's rows exactly once — no " +
        "duplication from carrying the fold output unstripped, no loss")
    assert(VersionedTable.fastCount(spark, root) == n + 40L)
  }

  test("delete ∥ runt-shard fold that swallowed its candidates: the delete strips the fold output and commits exactly once") {
    val root = freshRoot("del-fold")
    // rounds 0..FanIn-1: disjoint ts_us ranges, one runt shard each
    (0 until VersionedTable.ShardMergeFanIn).foreach(k =>
      VersionedTable.append(rows(k, 40), root, Stats))
    // the delete box covers exactly round 0 (ts_us = id*1000, ids 0..39)
    VersionedTable.beforePublishHook.set(() => {
      // the injected append folds ALL runts — including the delete's
      // candidate shard — into one mixed shard; carrying that fold
      // output unstripped would RESURRECT the deleted rows and
      // DUPLICATE the survivors
      VersionedTable.append(rows(30, 40), root, Stats)
      ()
    })
    val (_, deleted) = VersionedTable.deleteRange(spark, root,
      Seq(("ts_us", 0L, 39L * 1000L)))
    assert(deleted == 40L)
    val n = VersionedTable.ShardMergeFanIn * 40L
    assert(ids(root) == ((40L until n) ++ (1200L until 1240L)),
      "rounds 1..FanIn-1 and the injected round must survive exactly " +
        "once; round 0 must be gone")
    assert(VersionedTable.fastCount(spark, root) == n - 40L + 40L)
  }
}
