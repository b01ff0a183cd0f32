package graft.pipeline

import graft.TestSpark
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The GIVE-UP path of [[VersionedTable]]'s bounded restarts: a writer
  * that loses every one of its [[VersionedTable.MaxDmlRestarts]]
  * attempts to a true conflict must stop with a
  * `ConcurrentModificationException`, leave every competing commit
  * standing, and leave no unpublished file behind. The competitor is
  * the `beforePublishHook` seam re-arming itself, so it lands one
  * conflicting append inside the writer's read-to-CAS window on EVERY
  * attempt. Covered for the API delete and for SQL UPDATE, whose
  * restart wraps the whole read-compute-commit statement.
  */
class VersionedRestartExhaustionSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def rows(round: Int, n: Int) =
    spark.range(round.toLong * n, round.toLong * n + n)
      .select(col("id").as("event_id"), (col("id") % 97).as("user_id"),
        (col("id") * 1000L).as("ts_us"))

  private val Stats = Seq("user_id", "ts_us", "event_id")

  private def freshRoot(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-vtx-$tag")
      .resolve("t").toString

  private def ids(root: String): Seq[Long] =
    VersionedTable.read(spark, root)
      .select($"event_id").collect().map(_.getLong(0)).sorted.toSeq

  /** Arm a hook that appends `batch(run)` on every publish attempt and
    * re-arms itself; returns the run counter.
    */
  private def armConflictingAppends(root: String,
      batch: Int => DataFrame): java.util.concurrent.atomic.AtomicInteger = {
    val runs = new java.util.concurrent.atomic.AtomicInteger(0)
    lazy val hook: () => Unit = () => {
      VersionedTable.append(batch(runs.getAndIncrement()), root, Stats)
      VersionedTable.beforePublishHook.set(hook)
    }
    VersionedTable.beforePublishHook.set(hook)
    runs
  }

  /** Every file under `files/` is named by some surviving manifest. */
  private def assertNoOrphans(root: String): Unit = {
    val referenced = VersionedTable.versions(spark, root)
      .flatMap(v => VersionedTable.entryNames(spark, root, v)).toSet
    val onDisk = new java.io.File(s"$root/files").list().toSet
      .filterNot(_.startsWith(".")) // crc sidecars ride with their file
    assert(onDisk == referenced,
      s"abandoned attempts must leave no orphans: ${(onDisk -- referenced).take(3)}")
  }

  test("deleteRange loses every attempt to an append inside its box: gives up after MaxDmlRestarts, keeps every appended row, leaves no orphans") {
    val root = freshRoot("delete")
    VersionedTable.append(rows(0, 400), root, Stats)
    // each hook run appends two rows INSIDE the delete box (user_id 3)
    // under fresh event ids — rows the attempt's rewrite never saw
    val hookRows = (run: Int) =>
      spark.range(2).select((lit(100000L + 2 * run) + $"id").as("event_id"),
        lit(3L).as("user_id"), lit(0L).as("ts_us")).coalesce(1)
    val runs = armConflictingAppends(root, hookRows)
    val boom =
      try intercept[java.util.ConcurrentModificationException] {
        VersionedTable.deleteRange(spark, root, Seq(("user_id", 0L, 10L)))
      } finally VersionedTable.beforePublishHook.set(() => ())
    assert(runs.get == VersionedTable.MaxDmlRestarts,
      "one conflicting append per attempt, MaxDmlRestarts attempts")
    assert(boom.getMessage.contains("deleteRange") &&
      boom.getMessage.contains(root), boom.getMessage)
    val appended = (0 until runs.get).flatMap(r =>
      Seq(100000L + 2 * r, 100001L + 2 * r))
    assert(ids(root) == ((0L until 400L) ++ appended).sorted,
      "the delete never committed; every competing append stands")
    assertNoOrphans(root)
  }

  test("SQL UPDATE loses every attempt to an append inside its keys' file bounds: gives up after MaxDmlRestarts, keeps every appended row, leaves no orphans") {
    val root = freshRoot("update")
    VersionedTable.append(rows(0, 400), root, Stats)
    spark.sql(s"CREATE VERSIONED TABLE vt_exhaust LOCATION '$root' " +
      "KEYS(event_id)")
    // each hook run appends ONE file whose event_id bounds span every
    // matched key (so the keyed rebase must treat it as a conflict)
    // while its user_id (50) misses the WHERE — the next attempt's
    // fresh read matches the same keys, never a duplicate of one
    val hookRows = (run: Int) =>
      Seq((-1L - run, 50L, 0L), (200000L + run, 50L, 0L))
        .toDF("event_id", "user_id", "ts_us").coalesce(1)
    val runs = armConflictingAppends(root, hookRows)
    val boom =
      try intercept[java.util.ConcurrentModificationException] {
        spark.sql("UPDATE vt_exhaust SET ts_us = ts_us + 1 WHERE user_id = 5")
      } finally VersionedTable.beforePublishHook.set(() => ())
    assert(runs.get == VersionedTable.MaxDmlRestarts,
      "one conflicting append per statement attempt")
    assert(boom.getMessage.contains("UPDATE vt_exhaust"), boom.getMessage)
    val appended = (0 until runs.get).flatMap(r =>
      Seq(-1L - r, 200000L + r))
    assert(ids(root) == ((0L until 400L) ++ appended).sorted)
    assert(VersionedTable.read(spark, root)
      .filter($"ts_us" =!= $"event_id" * 1000L && $"user_id" === 5L)
      .isEmpty, "no attempt of the UPDATE committed")
    assertNoOrphans(root)
  }
}
