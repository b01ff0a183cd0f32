package graft.pipeline

import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger, AtomicReference}

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[VersionedTable]] — the manifest-published snapshot architecture:
  * immutable files + one atomic rename per version. The properties a
  * directory-swapped table cannot offer, each proven here:
  * lock-free snapshot-isolated readers (the racing reader uses NO
  * retry logic at all), time travel, crash-published-nothing, vacuum
  * with a retention window, and manifest-native stats pruning.
  */
class VersionedTableSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def rows(round: Int, n: Int) =
    spark.range(round.toLong * n, round.toLong * n + n)
      .select(col("id").as("event_id"), (col("id") % 97).as("user_id"),
        (col("id") * 1000L).as("ts_us"))

  private val Stats = Seq("user_id", "ts_us")

  test("append/read/time-travel: every version is exactly its history") {
    val root = java.nio.file.Files.createTempDirectory("graft-vt")
      .resolve("t").toString
    val v1 = VersionedTable.append(rows(0, 100), root, Stats)
    val v2 = VersionedTable.append(rows(1, 100), root, Stats)
    val v3 = VersionedTable.append(rows(2, 100), root, Stats)
    assert(Seq(v1, v2, v3) == Seq(1L, 2L, 3L))
    assert(VersionedTable.versions(spark, root) == Seq(1L, 2L, 3L))
    assert(VersionedTable.read(spark, root).count() == 300)
    // time travel: each version is the cumulative prefix
    for ((v, k) <- Seq((v1, 1), (v2, 2), (v3, 3))) {
      val ids = VersionedTable.readVersion(spark, root, v)
        .select($"event_id").collect().map(_.getLong(0)).sorted
      assert(ids.sameElements(0L until (k * 100L)),
        s"version $v is not its exact history")
    }
    // stat columns are fixed at creation
    val e = intercept[IllegalArgumentException] {
      VersionedTable.append(rows(3, 10), root, Seq("event_id", "ts_us"))
    }
    assert(e.getMessage.contains("fixed at table creation"))
  }

  test("deleteRange: stats-pruned copy-on-write — untouched files keep their names; deleted rows gone; history intact") {
    val root = java.nio.file.Files.createTempDirectory("graft-vt-del")
      .resolve("t").toString
    // z-ordered layout so the box genuinely prunes the rewrite set
    VersionedTable.append(rows(0, 2000), root, Stats)
    VersionedTable.compactZorder(spark, root, nFiles = 16)   // v2
    val before = VersionedTable.read(spark, root)
      .select($"event_id").collect().map(_.getLong(0)).toSet

    // delete a selective 2-D box: users 10..30 within a ts range
    val probes = Seq(("user_id", 10L, 30L), ("ts_us", 200000L, 1200000L))
    val namesBefore = manifestNames(root)
    val (nv, deleted) = VersionedTable.deleteRange(spark, root, probes)
    assert(nv == 3L && deleted > 0, s"v$nv deleted=$deleted")
    val after = VersionedTable.read(spark, root)
    // exact semantics: rows inside the box gone, all others intact
    val expectGone = before.filter { id =>
      val u = id % 97; val t = id * 1000L
      u >= 10 && u <= 30 && t >= 200000L && t <= 1200000L
    }
    assert(deleted == expectGone.size.toLong)
    val got = after.select($"event_id").collect().map(_.getLong(0)).toSet
    assert(got == before -- expectGone, "delete changed the wrong rows")
    assert(VersionedTable.fastCount(spark, root) == got.size.toLong,
      "manifest counts must track the delete")

    // COW efficiency: files outside the box are carried by NAME —
    // they were never rewritten
    val namesAfter = manifestNames(root)
    val carried = namesBefore.intersect(namesAfter)
    assert(carried.nonEmpty && carried.size < namesBefore.size,
      s"expected a partial rewrite: carried ${carried.size}/${namesBefore.size}")
    info(s"delete rewrote ${namesBefore.size - carried.size}/" +
      s"${namesBefore.size} files, carried ${carried.size} untouched")

    // history intact; readChanges does not re-report rewritten rows
    assert(VersionedTable.readVersion(spark, root, 2L).count() == 2000,
      "pre-delete history must survive until vacuum")
    assert(VersionedTable.readChanges(spark, root, 2L, nv).count() == 0,
      "a delete version must contribute nothing to change reads")

    // a no-match delete publishes nothing
    val (nv2, d2) = VersionedTable.deleteRange(spark, root,
      Seq(("user_id", 5000L, 6000L)))
    assert(nv2 == nv && d2 == 0L)
    // an unmanifested probe column is refused, not silently full-rewritten
    val e = intercept[IllegalArgumentException] {
      VersionedTable.deleteRange(spark, root, Seq(("event_id", 0L, 10L)))
    }
    assert(e.getMessage.contains("manifested stat columns"))
  }

  test("delete edge semantics: NULL probed columns survive; an emptied table stays readable; NULL update keys are refused") {
    val root = java.nio.file.Files.createTempDirectory("graft-vt-null")
      .resolve("t").toString
    // rows 0..99 plus 10 rows whose ts_us is NULL (score column makes
    // the schema carry a nullable stat-adjacent field is not needed —
    // NULL lands directly in a PROBED column here)
    val base = rows(0, 100)
    val withNulls = base.union(
      spark.range(900, 910).select(col("id").as("event_id"),
        (col("id") % 97).as("user_id"),
        lit(null).cast("long").as("ts_us")))
    VersionedTable.append(withNulls, root, Seq("user_id", "event_id"))

    // delete a ts box: the NULL-ts rows are OUTSIDE any box and must
    // survive (the un-coalesced filter(!inBox) would drop them)
    val (_, deleted) = VersionedTable.deleteRange(spark, root,
      Seq(("user_id", 0L, 96L), ("event_id", 0L, 49L)))
    assert(deleted == 50L, s"deleted=$deleted")
    val left = VersionedTable.read(spark, root)
    assert(left.count() == 60, "50..99 plus the 10 NULL-ts rows")
    assert(left.filter($"ts_us".isNull).count() == 10,
      "rows with a NULL in an unprobed column must survive a delete")

    // delete EVERYTHING: the emptied table must stay readable
    val (_, d2) = VersionedTable.deleteRange(spark, root,
      Seq(("event_id", 0L, 10000L)))
    assert(d2 == 60L)
    assert(VersionedTable.read(spark, root).count() == 0,
      "an emptied table must serve zero rows, not throw")
    assert(VersionedTable.fastCount(spark, root) == 0L)
    assert(VersionedTable.read(spark, root).columns.toSeq ==
      Seq("event_id", "user_id", "ts_us"))
    // and life continues: append after total delete
    VersionedTable.append(rows(0, 10), root, Seq("user_id", "event_id"))
    assert(VersionedTable.read(spark, root).count() == 10)

    // NULL keys in an upsert are refused loudly, not duplicated forever
    val e = intercept[IllegalArgumentException] {
      VersionedTable.upsertByKey(spark, root,
        rows(0, 5).withColumn("event_id",
          when($"event_id" === 2L, lit(null)).otherwise($"event_id")),
        Seq("event_id"))
    }
    assert(e.getMessage.contains("NULL key"))
  }

  private def manifestNames(root: String): Set[String] =
    VersionedTable.entryNames(spark, root,
      VersionedTable.latestVersion(spark, root).get)

  test("pointRead: bloom filters prune files the [min,max] box cannot — footer-only, exact results") {
    val root = java.nio.file.Files.createTempDirectory("graft-vt-pt")
      .resolve("t").toString
    // cluster by (user_id, ts_us); event_id is a stat column but NOT
    // the clustering order, so its per-file ranges are WIDE — the box
    // keeps many files and only the bloom can pin the right one
    val stats = Seq("user_id", "ts_us", "event_id")
    VersionedTable.append(rows(0, 50000), root, stats)
    VersionedTable.compactZorder(spark, root, nFiles = 32)

    var boxTotal = 0; var bloomTotal = 0
    for (probe <- Seq(123L, 17777L, 49999L)) {
      val (statsKept, bloomKept, total) =
        VersionedTable.pointPrunedFileCount(spark, root, "event_id", probe)
      assert(total == 32)
      assert(bloomKept <= statsKept,
        "bloom stage must only ever shrink the candidate set")
      assert(bloomKept >= 1, "the holding file must survive the bloom")
      boxTotal += statsKept; bloomTotal += bloomKept
      val got = VersionedTable.pointRead(spark, root, "event_id", probe)
        .collect()
      assert(got.length == 1 && got.head.getAs[Long]("event_id") == probe,
        s"point lookup for $probe returned ${got.length} rows")
    }
    info(s"3 probes: box kept $boxTotal files total, bloom kept $bloomTotal")
    assert(bloomTotal < boxTotal,
      s"blooms must beat the box on an unclustered column: " +
        s"$bloomTotal vs $boxTotal")

    // an absent value: zero rows, and (modulo bloom false positives)
    // near-zero files read
    val (_, bloomAbsent, _) =
      VersionedTable.pointPrunedFileCount(spark, root, "event_id", 999999L)
    assert(VersionedTable.pointRead(spark, root, "event_id", 999999L)
      .count() == 0)
    info(s"absent value: bloom kept $bloomAbsent files")
    assert(bloomAbsent <= 4, s"absent value should bloom-prune to ~0 files")
  }

  test("small candidate sets bloom-check in a DRIVER loop: identical verdicts, lower latency than a Spark job") {
    val root = java.nio.file.Files.createTempDirectory("graft-vt-blp")
      .resolve("t").toString
    VersionedTable.append(rows(0, 20000), root,
      Seq("user_id", "ts_us", "event_id"))
    VersionedTable.compactZorder(spark, root, nFiles = 12)
    val files = fsList(root + "/files")
    assert(files.size >= 4 && files.size <= Layout.BloomDriverLoopLimit,
      s"fixture must land under the driver-loop limit, got ${files.size}")
    val value = 12345L
    // warm both paths (JIT, footer cache, job-machinery classloading)
    Layout.bloomMayContain(spark, files, "event_id", value)
    Layout.bloomMayContain(spark, files, "event_id", value,
      driverLoopLimit = 0)
    def best(f: => Seq[(String, Boolean)]): (Long, Seq[(String, Boolean)]) = {
      var bestNs = Long.MaxValue
      var r: Seq[(String, Boolean)] = null
      (0 until 5).foreach { _ =>
        val t0 = System.nanoTime()
        r = f
        bestNs = math.min(bestNs, System.nanoTime() - t0)
      }
      (bestNs, r)
    }
    val (driverNs, a) =
      best(Layout.bloomMayContain(spark, files, "event_id", value))
    val (distNs, b) = best(Layout.bloomMayContain(spark, files,
      "event_id", value, driverLoopLimit = 0))
    assert(a.sortBy(_._1) == b.sortBy(_._1),
      "driver-loop and distributed bloom checks must agree exactly")
    info(f"bloom check over ${files.size} files: driver loop " +
      f"${driverNs / 1e6}%.2f ms vs spark job ${distNs / 1e6}%.2f ms " +
      f"(${distNs.toDouble / driverNs}%.1fx)")
    assert(driverNs < distNs,
      f"a point lookup's bloom stage over ${files.size} files must be " +
        f"faster on the driver (${driverNs / 1e6}%.2f ms) than as a " +
        f"Spark job (${distNs / 1e6}%.2f ms) — scheduling overhead " +
        "dominates at serving-path candidate counts")
  }

  private def fsList(dir: String): Seq[String] =
    new java.io.File(dir).listFiles().toSeq
      .filter(f => f.isFile && !f.getName.startsWith(".")) // skip .crc sidecars
      .map(_.getAbsolutePath)

  test("history + readAsOf: timestamp time travel resolves the newest version at or before the instant") {
    val root = java.nio.file.Files.createTempDirectory("graft-vt-asof")
      .resolve("t").toString
    VersionedTable.append(rows(0, 100), root, Stats)            // v1
    Thread.sleep(5)
    val tMid = System.currentTimeMillis()
    Thread.sleep(5)
    VersionedTable.append(rows(1, 100), root, Stats)            // v2
    VersionedTable.deleteRange(spark, root, Seq(("user_id", 0L, 96L))) // v3

    val h = VersionedTable.history(spark, root)
    assert(h.map(_._1) == Seq(1L, 2L, 3L))
    assert(h.map(_._3) == Seq("append", "append", "delete"))
    assert(h.forall(_._2 > 0), "every commit must carry its timestamp")
    assert(h.map(_._2) == h.map(_._2).sorted, "commit times ascend")

    assert(VersionedTable.versionAsOf(spark, root, tMid) == 1L)
    assert(VersionedTable.readAsOf(spark, root, tMid).count() == 100)
    assert(VersionedTable
      .readAsOf(spark, root, System.currentTimeMillis()).count() ==
      VersionedTable.read(spark, root).count())
    val e = intercept[IllegalArgumentException] {
      VersionedTable.readAsOf(spark, root, h.head._2 - 10000)
    }
    assert(e.getMessage.contains("precedes"))
  }

  test("flat pre-shard manifests (real data): readable, prunable, DML-able, and shard-migrated on first write") {
    val root = java.nio.file.Files.createTempDirectory("graft-vt-flat")
      .resolve("t").toString
    VersionedTable.append(rows(0, 2000), root, Stats)
    VersionedTable.flattenToLegacy(spark, root, 1L)     // the v2 on-disk form

    // reads, counts and pruning all work off the inline entries
    assert(VersionedTable.read(spark, root).count() == 2000)
    assert(VersionedTable.fastCount(spark, root) == 2000L)
    val probes = Seq(("user_id", 10L, 20L))
    val viaBox = VersionedTable.boxRead(spark, root, probes)
      .select($"event_id").collect().map(_.getLong(0)).toSet
    val expect = (0L until 2000L).filter(id => id % 97 >= 10 && id % 97 <= 20)
    assert(viaBox == expect.toSet)

    // the first append MIGRATES: inline entries become a real shard,
    // carried by file NAME (no data rewrite), plus the append's own
    val namesBefore = VersionedTable.entryNames(spark, root, 1L)
    VersionedTable.append(rows(1, 100), root, Stats)
    assert(VersionedTable.shardCount(spark, root, 2L) >= 2,
      "migration must produce real shards")
    val namesAfter = VersionedTable.entryNames(spark, root, 2L)
    assert(namesBefore.subsetOf(namesAfter),
      "migration must carry the legacy files by name")
    assert(VersionedTable.read(spark, root).count() == 2100)

    // DML straight onto a flat table publishes sharded metadata too
    val root2 = java.nio.file.Files.createTempDirectory("graft-vt-flat2")
      .resolve("t").toString
    VersionedTable.append(rows(0, 2000), root2, Stats)
    VersionedTable.flattenToLegacy(spark, root2, 1L)
    val (dv, deleted) = VersionedTable.deleteRange(spark, root2,
      Seq(("user_id", 10L, 20L)))
    assert(dv == 2L && deleted == expect.size.toLong)
    assert(VersionedTable.shardCount(spark, root2, 2L) >= 1)
    assert(VersionedTable.read(spark, root2).count() == 2000L - deleted)
    // and compaction folds a flat table into one shard
    val cv = VersionedTable.compactZorder(spark, root2, nFiles = 4)
    assert(VersionedTable.shardCount(spark, root2, cv) == 1)
    assert(VersionedTable.read(spark, root2).count() == 2000L - deleted)

    // a MOR delete straight onto a flat table migrates it too
    val root3 = java.nio.file.Files.createTempDirectory("graft-vt-flat3")
      .resolve("t").toString
    VersionedTable.append(rows(0, 2000), root3, Stats)
    VersionedTable.flattenToLegacy(spark, root3, 1L)
    val (mv, matched) = VersionedTable.deleteRangeMor(spark, root3,
      Seq(("user_id", 10L, 20L)))
    assert(mv == 2L && matched == expect.size.toLong)
    assert(VersionedTable.shardCount(spark, root3, mv) >= 1,
      "the mor publish must migrate the inline entries to real shards")
    assert(VersionedTable.read(spark, root3).count() == 2000L - matched)
    assert(VersionedTable.fastCount(spark, root3) == 2000L - matched)
  }

  test("appends fold runt shards: the manifest list stays bounded, file names and rows preserved") {
    val root = java.nio.file.Files.createTempDirectory("graft-vt-fold")
      .resolve("t").toString
    (0 until 20).foreach { k =>
      VersionedTable.append(rows(k, 50), root, Stats)
    }
    val v = VersionedTable.latestVersion(spark, root).get
    // each append adds one shard; every FanIn-th folds FanIn runts into
    // one, so the list oscillates below FanIn + 1 instead of growing
    // one line per commit forever
    assert(VersionedTable.shardCount(spark, root, v) <=
      VersionedTable.ShardMergeFanIn + 1,
      s"list must stay fold-bounded, got " +
        s"${VersionedTable.shardCount(spark, root, v)} shards")
    // folding is METADATA-only: the first append's files survive by name
    assert(VersionedTable.entryNames(spark, root, 1L)
      .subsetOf(VersionedTable.entryNames(spark, root, v)),
      "folds must regroup entries, never rewrite data files")
    assert(VersionedTable.read(spark, root).count() == 1000L)
    assert(VersionedTable.fastCount(spark, root) == 1000L)
    // change reads across folds: every appended row exactly once
    assert(VersionedTable.readChanges(spark, root, 0, v).count() == 1000L)
  }

  test("compactSmallFiles: bin-packs only the runts — big files carried by name, rows identical, change reads silent") {
    val root = java.nio.file.Files.createTempDirectory("graft-vt-pack")
      .resolve("t").toString
    val stats = Seq("user_id", "ts_us", "event_id")
    VersionedTable.append(rows(0, 4000), root, stats)
    VersionedTable.compactZorder(spark, root, nFiles = 4) // 4 ~1000-row files
    (0 until 10).foreach { k =>
      VersionedTable.append(rows(10 + k, 100), root, stats) // runt files
    }
    val before = VersionedTable.read(spark, root).count()
    val latest0 = VersionedTable.latestVersion(spark, root).get
    val namesBefore = VersionedTable.entryNames(spark, root, latest0)

    val (v, reduced) =
      VersionedTable.compactSmallFiles(spark, root, minRows = 500,
        targetRows = 1000)
    assert(reduced > 0, "ten runt appends must leave something to pack")
    val namesAfter = VersionedTable.entryNames(spark, root, v)
    assert(namesAfter.size == namesBefore.size - reduced)
    info(s"packed ${namesBefore.size} files down to ${namesAfter.size}")
    assert(VersionedTable.read(spark, root).count() == before)
    assert(VersionedTable.fastCount(spark, root) == before)
    // the four adequately-sized files are carried BY NAME — binpack
    // must never rewrite what is already big enough
    assert(namesBefore.intersect(namesAfter).size >= 4)
    // change reads: every appended row exactly once across the pack
    assert(VersionedTable.readChanges(spark, root, 0, v).count() == before)
    // CDC: a pure rewrite contributes nothing
    assert(VersionedTable.readChangesCdc(spark, root, v - 1, v).isEmpty)
    // idempotent: a second pack finds nothing under minRows
    val (v2, r2) =
      VersionedTable.compactSmallFiles(spark, root, 500, 1000)
    assert(v2 == v && r2 == 0, "repacking a packed table must be a no-op")
  }

  test("upsertByKey: replaces matching keys, appends new ones, prunes the rewrite set, keeps change reads exact") {
    val root = java.nio.file.Files.createTempDirectory("graft-vt-ups")
      .resolve("t").toString
    // key = event_id; z-order on (event_id, ts_us) so key ranges prune.
    // NOTE: Stats here is (event_id, ts_us), unlike the other tests
    val keys = Seq("event_id")
    val stats = Seq("event_id", "ts_us")
    VersionedTable.append(rows(0, 2000), root, stats)
    VersionedTable.compactZorder(spark, root, nFiles = 16)   // v2

    // updates: rewrite ts for keys 1800..1849 (existing), add
    // 5000..5009 (new) — the key bounding box [1800, 5009] leaves the
    // files holding ids < 1800 outside the rewrite set
    val updates = spark.range(1800, 1850).union(spark.range(5000, 5010))
      .select(col("id").as("event_id"), (col("id") % 97).as("user_id"),
        lit(777777L).as("ts_us"))
    val namesBefore = manifestNames(root)
    val (nv, replaced) = VersionedTable.upsertByKey(spark, root, updates,
      keys)
    assert(nv == 3L && replaced == 50L, s"v$nv replaced=$replaced")

    val after = VersionedTable.read(spark, root)
    assert(after.count() == 2010, "2000 - 50 + 60 = 2010")
    assert(after.filter($"ts_us" === 777777L).count() == 60,
      "every update row must be present exactly once")
    assert(after.filter($"event_id" === 1820L)
      .head.getAs[Long]("ts_us") == 777777L, "matched keys must be replaced")
    assert(after.filter($"event_id" === 50L)
      .head.getAs[Long]("ts_us") == 50000L, "unmatched rows must be intact")

    // COW: files entirely below the update key range survive by name
    val carried = namesBefore.intersect(manifestNames(root))
    assert(carried.nonEmpty,
      "files outside the update key range must be carried untouched")
    info(s"upsert carried ${carried.size}/${namesBefore.size} files")

    // change reads: exactly the upserted rows, nothing rewritten
    val changes = VersionedTable.readChanges(spark, root, 2L, nv)
    assert(changes.count() == 60,
      "changes must be exactly the update rows")
    assert(changes.filter($"ts_us" =!= 777777L).count() == 0)

    // history intact
    assert(VersionedTable.readVersion(spark, root, 2L)
      .filter($"event_id" === 120L).head.getAs[Long]("ts_us") == 120000L)
  }

  test("schema evolution: add-only columns, manifest-stored schema, per-version schema history") {
    val root = java.nio.file.Files.createTempDirectory("graft-vt-schema")
      .resolve("t").toString
    VersionedTable.append(rows(0, 100), root, Stats)              // v1
    // v2 appends a WIDER schema: new column `score`
    VersionedTable.append(rows(1, 100).withColumn("score",
      (col("event_id") % 5).cast("long")), root, Stats)           // v2

    // latest read: union schema; pre-evolution rows null-fill score
    val latest = VersionedTable.read(spark, root)
    assert(latest.columns.toSeq == Seq("event_id", "user_id", "ts_us", "score"))
    assert(latest.filter($"score".isNull).count() == 100,
      "files written before the column existed must null-fill it")
    assert(latest.filter($"score".isNotNull).count() == 100)

    // time travel serves each version under the schema it had THEN
    assert(VersionedTable.readVersion(spark, root, 1L).columns.toSeq ==
      Seq("event_id", "user_id", "ts_us"))

    // compaction carries the evolved schema; box probes read under it
    VersionedTable.compactZorder(spark, root, nFiles = 4)
    val afterCompact = VersionedTable.read(spark, root)
    assert(afterCompact.columns.toSeq ==
      Seq("event_id", "user_id", "ts_us", "score"))
    assert(afterCompact.filter($"score".isNull).count() == 100,
      "the rewrite must preserve the null-filled history rows")

    // changing an existing column's type is refused loudly
    val e = intercept[IllegalArgumentException] {
      VersionedTable.append(rows(2, 10)
        .withColumn("user_id", col("user_id").cast("int")), root, Stats)
    }
    assert(e.getMessage.contains("add-only"))
  }

  test("fastCount serves exact counts from the manifest; readChanges sees each appended row once across compactions") {
    val root = java.nio.file.Files.createTempDirectory("graft-vt-cdc")
      .resolve("t").toString
    VersionedTable.append(rows(0, 120), root, Stats)          // v1
    VersionedTable.append(rows(1, 120), root, Stats)          // v2
    VersionedTable.compactZorder(spark, root, nFiles = 4)     // v3 (rewrite)
    VersionedTable.append(rows(2, 120), root, Stats)          // v4

    // metadata-only count: no data read, exact, at any version
    assert(VersionedTable.fastCount(spark, root) == 360)
    assert(VersionedTable.fastCount(spark, root, Some(2L)) == 240)
    assert(VersionedTable.fastCount(spark, root, Some(3L)) == 240,
      "a compaction must not change the manifest-served count")

    // incremental consumer: from v1 to latest sees rounds 1 and 2
    // exactly once — the compaction in between contributes NOTHING
    val changes = VersionedTable.readChanges(spark, root, 1L, 4L)
      .select($"event_id").collect().map(_.getLong(0)).sorted
    assert(changes.sameElements(120L until 360L),
      s"changes must be exactly the appended rows: ${changes.length}")
    // no-op range; and the full range equals the whole table
    assert(VersionedTable.readChanges(spark, root, 4L, 4L).count() == 0)
    assert(VersionedTable.readChanges(spark, root, 0L, 4L).count() == 360)
    // a vacuumed-away range is refused loudly, not served wrong
    VersionedTable.vacuum(spark, root, keepVersions = 1, graceMs = 0L)
    val e = intercept[IllegalArgumentException] {
      VersionedTable.readChanges(spark, root, 1L, 4L)
    }
    assert(e.getMessage.contains("retention window"))
  }

  test("compaction publishes a new version; history still reads the old files until vacuum") {
    val root = java.nio.file.Files.createTempDirectory("graft-vt-c")
      .resolve("t").toString
    VersionedTable.append(rows(0, 300), root, Stats)
    VersionedTable.append(rows(1, 300), root, Stats)
    val cv = VersionedTable.compactZorder(spark, root, nFiles = 4)
    assert(cv == 3L)
    assert(VersionedTable.read(spark, root)
      .select($"event_id").collect().map(_.getLong(0)).sorted
      .sameElements(0L until 600L), "compaction must be a pure layout change")
    // history survives compaction (old files still referenced by v1/v2)
    assert(VersionedTable.readVersion(spark, root, 1L).count() == 300)

    // vacuum to the latest only: v1/v2 manifests and their files go
    val (dropped, deleted) = VersionedTable.vacuum(spark, root, 1, graceMs = 0L)
    assert(dropped == 2 && deleted > 0,
      s"vacuum should drop 2 versions and their files: $dropped/$deleted")
    assert(VersionedTable.versions(spark, root) == Seq(3L))
    assert(VersionedTable.read(spark, root).count() == 600,
      "the kept version must be untouched by vacuum")
    intercept[Exception] { // the documented retention contract
      VersionedTable.readVersion(spark, root, 1L).count()
    }
  }

  test("snapshot isolation: a racing reader with NO retry logic always sees a whole version") {
    val root = java.nio.file.Files.createTempDirectory("graft-vt-iso")
      .resolve("t").toString
    val perRound = 150
    val totalRounds = 8
    val acked = new AtomicInteger(0)
    val failure = new AtomicReference[Throwable](null)
    val done = new AtomicBoolean(false)

    val writer = new Thread(() => {
      try {
        for (r <- 0 until totalRounds) {
          VersionedTable.append(rows(r, perRound), root, Stats)
          acked.incrementAndGet()
          if (r == 3 || r == 6) VersionedTable.compactZorder(spark, root, 4)
        }
      } catch { case t: Throwable => failure.compareAndSet(null, t) }
    }, "vt-writer")

    var polls = 0
    val reader = new Thread(() => {
      try {
        while (!done.get() && failure.get() == null) {
          val ackedBefore = acked.get()
          if (ackedBefore > 0) {
            // deliberately NO retry loop: immutable files +
            // atomic manifest publish mean a plain read is always sound
            val ids = VersionedTable.read(spark, root)
              .select($"event_id").collect().map(_.getLong(0))
            polls += 1
            val got = ids.toSet
            assert(ids.length == got.size, s"poll $polls duplicated rows")
            assert(ids.length % perRound == 0,
              s"poll $polls saw a torn version: ${ids.length}")
            val want = 0L until (ackedBefore.toLong * perRound)
            assert(want.forall(got),
              s"poll $polls lost acked rows (acked=$ackedBefore)")
          } else Thread.sleep(10)
        }
      } catch { case t: Throwable => failure.compareAndSet(null, t) }
    }, "vt-reader")

    writer.start(); reader.start()
    writer.join(600000)
    done.set(true)
    reader.join(600000)
    if (failure.get() != null) throw failure.get()
    assert(polls >= 3, s"reader must actually have raced the writer: $polls")
    info(s"$polls retry-free consistent polls against a live writer")
  }

  test("a writer crashed at the manifest publish has published NOTHING; vacuum collects its debris") {
    import org.apache.hadoop.fs.Path
    val hconf = spark.sparkContext.hadoopConfiguration
    hconf.setClass("fs.faulty.impl",
      classOf[graft.streaming.FaultyRenameFs],
      classOf[org.apache.hadoop.fs.FileSystem])
    val local = java.nio.file.Files.createTempDirectory("graft-vt-f")
      .resolve("t").toString
    val root = s"faulty://$local"
    VersionedTable.append(rows(0, 100), root, Stats)

    // crash the COMMIT POINT itself: the .tmp-v2 -> v2 rename
    graft.streaming.FaultyRenameFs.failNextRenameSrcContains.set(".tmp-v2-")
    val crash = intercept[java.io.IOException] {
      VersionedTable.append(rows(1, 100), root, Stats)
    }
    assert(crash.getMessage.contains("manifest publish failed"))
    // nothing published: latest still v1, content unchanged
    assert(VersionedTable.versions(spark, root) == Seq(1L))
    assert(VersionedTable.read(spark, root).count() == 100,
      "a crashed writer must publish nothing")
    // ...but its orphaned data files exist until vacuum collects them
    val fs = new Path(root).getFileSystem(hconf)
    val before = fs.listStatus(new Path(s"$root/files")).length
    val (_, deleted) = VersionedTable.vacuum(spark, root, 1, graceMs = 0L)
    assert(deleted > 0, "vacuum must collect the crashed writer's files")
    val after = fs.listStatus(new Path(s"$root/files")).length
    assert(after < before)
    assert(VersionedTable.read(spark, root).count() == 100)
    // the failed append is simply retried — versions continue from v1
    assert(VersionedTable.append(rows(1, 100), root, Stats) == 2L)
    assert(VersionedTable.read(spark, root).count() == 200)
  }

  test("boxRead prunes files via the manifest's own footprints; result equals the filtered full read") {
    val sf = TestSpark.sfDir
    val ev = graft.queries.Tables.events(spark, sf)
      .select($"event_id", $"user_id",
        expr(graft.queries.Tables.fldivExpr("ts", 1000L)).as("ts_us"))
    val b = ev.agg(min($"user_id"), max($"user_id"),
        min($"ts_us"), max($"ts_us")).head.toSeq.map(_.asInstanceOf[Long])
    def mid(i: Int) = (b(2 * i) + (b(2 * i + 1) - b(2 * i)) * 38 / 100,
      b(2 * i) + (b(2 * i + 1) - b(2 * i)) * 62 / 100)
    val (loU, hiU) = mid(0); val (loT, hiT) = mid(1)

    val root = java.nio.file.Files.createTempDirectory("graft-vt-box")
      .resolve("t").toString
    VersionedTable.append(ev, root, Stats)
    VersionedTable.compactZorder(spark, root, nFiles = 64)
    val probes = Seq(("user_id", loU, hiU), ("ts_us", loT, hiT))
    val (kept, total) = VersionedTable.prunedFileCount(spark, root, probes)
    assert(total == 64 && kept < total / 2,
      s"manifest stats must prune: $kept/$total")
    info(s"boxRead keeps $kept/$total files")
    val full = VersionedTable.read(spark, root)
      .filter($"user_id" >= loU && $"user_id" <= hiU &&
        $"ts_us" >= loT && $"ts_us" <= hiT)
      .select($"event_id").collect().map(_.getLong(0)).sorted
    val pruned = VersionedTable.boxRead(spark, root, probes)
      .select($"event_id").collect().map(_.getLong(0)).sorted
    assert(pruned.sameElements(full), "pruned read diverged")
  }

  test("shard lines record minRows; pre-minRows lines still pack via the open-the-shard fallback") {
    val root = java.nio.file.Files.createTempDirectory("graft-vt-minrows")
      .resolve("t").toString
    // four runts per append: the pack's inputs
    (0 until 3).foreach(k =>
      VersionedTable.append(rows(k, 50).repartition(4), root, Stats))
    val mPath = java.nio.file.Paths.get(
      s"$root/manifests/v${VersionedTable.latestVersion(spark, root).get}")
    val shardLines = java.nio.file.Files.readAllLines(mPath)
      .toArray.map(_.toString).filter(_.startsWith("#shard\t")).toSeq
    // line shape: head(4) + 2n boxes + minRows + n null counts (no
    // typed columns here)
    val n = Stats.size
    assert(shardLines.nonEmpty && shardLines.forall { l =>
      val f = l.split('\t')
      f.length == 4 + 2 * n + 1 + n && f(4 + 2 * n).toLong >= 0
    }, "each shard line must carry its minRows cell before the null " +
      "counts")
    // degrade the manifest to the pre-minRows line shape (drop
    // everything after the boxes) and verify the pack still finds its
    // candidates through the open-the-shard fallback
    val degraded = java.nio.file.Files.readAllLines(mPath)
      .toArray.map(_.toString).map { l =>
        if (l.startsWith("#shard\t"))
          l.split('\t').dropRight(1 + n).mkString("\t")
        else l
      }
    java.nio.file.Files.delete(mPath)
    java.nio.file.Files.write(mPath,
      degraded.mkString("\n").getBytes("UTF-8"))
    val (_, reduced) = VersionedTable.compactSmallFiles(spark, root,
      minRows = 40L, targetRows = 1000L)
    assert(reduced > 0, "fallback candidate selection must still pack")
    assert(VersionedTable.read(spark, root).count() == 150L)
  }
}
