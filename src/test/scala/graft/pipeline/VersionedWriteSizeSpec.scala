package graft.pipeline

import graft.TestSpark
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.DatasetBridge
import org.scalatest.funsuite.AnyFunSuite

/** The file-count rule of every versioned-table write: a frame that
  * states no layout is written as `ceil(estimate /
  * spark.sql.files.maxPartitionBytes)` files (at least one, never more
  * than it has partitions), and a frame that states one — a caller's
  * repartition, a cluster spec, `compactZorder` — keeps it.
  */
class VersionedWriteSizeSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val Stats = Seq("user_id", "ts_us")

  private def withRoot[T](tag: String)(body: String => T): T = {
    val dir = java.nio.file.Files.createTempDirectory(s"graft-wsize-$tag")
    try body(dir.resolve("t").toString)
    finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  /** `n` rows over `parts` partitions, with no repartition in the plan. */
  private def rows(s: SparkSession, from: Long, n: Long, parts: Int) =
    s.range(from, from + n, 1, parts).select(col("id").as("event_id"),
      (col("id") % 97).as("user_id"), (col("id") * 1000L).as("ts_us"))

  private def files(root: String): Set[String] =
    VersionedTable.entryNames(spark, root,
      VersionedTable.latestVersion(spark, root).get)

  /** Per data file: the [min, max] of `c` over its rows. */
  private def ranges(root: String, c: String): Seq[(Long, Long)] =
    VersionedTable.read(spark, root).groupBy(input_file_name())
      .agg(min(col(c)), max(col(c))).collect()
      .map(r => (r.getLong(1), r.getLong(2))).toSeq.sortBy(_._1)

  private def ids(root: String): Seq[Long] =
    VersionedTable.read(spark, root).select($"event_id").as[Long]
      .collect().toSeq.sorted

  test("a 200-row append from a 4-partition frame publishes one data file") {
    withRoot("one") { root =>
      val ranged = rows(spark, 0L, 200L, 4)
      assert(ranged.rdd.getNumPartitions == 4)
      VersionedTable.append(ranged, root, Stats)
      assert(files(root).size == 1)
      // a local frame, as a driver-built batch arrives
      val local = (200L until 400L).map(i => (i, i % 97, i * 1000L))
        .toDF("event_id", "user_id", "ts_us")
      assert(local.rdd.getNumPartitions > 1)
      VersionedTable.append(local, root, Stats)
      assert(files(root).size == 2)
      assert(ids(root) == (0L until 400L))
    }
  }

  test("repartition(6) publishes 6 files, and so does the same frame under a drop") {
    withRoot("kept") { root =>
      VersionedTable.append(rows(spark, 0L, 200L, 4).repartition(6), root,
        Stats)
      assert(files(root).size == 6)
      val before = files(root)
      VersionedTable.append(rows(spark, 200L, 200L, 4)
        .withColumn("f", $"event_id" % 6).repartition(6).drop("f"),
        root, Stats)
      assert((files(root) -- before).size == 6)
      val ranged = files(root)
      VersionedTable.append(rows(spark, 400L, 200L, 4)
        .withColumn("f", -$"event_id").repartitionByRange(6, $"f")
        .drop("f").filter($"event_id" >= 0L), root, Stats)
      assert((files(root) -- ranged).size == 6)
      assert(ids(root) == (0L until 600L))
    }
  }

  test("a clustered append and compactZorder keep their disjoint range boxes") {
    withRoot("cluster") { root =>
      // AQE coalescing off, so the range partitions stay as planned
      val c = DatasetBridge.cloneSession(spark,
        "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
      VersionedTable.append(rows(c, 0L, 2000L, 4), root, Stats, Seq.empty,
        Seq("user_id"))
      val boxes = ranges(root, "user_id")
      assert(boxes.size > 1, s"clustered append wrote ${boxes.size} file")
      assert(boxes.sliding(2).forall { case Seq(a, b) => a._2 < b._1 },
        s"user_id ranges overlap: $boxes")
    }
    withRoot("zorder") { root =>
      VersionedTable.append(rows(spark, 0L, 2000L, 4), root, Stats)
      assert(files(root).size == 1)
      VersionedTable.compactZorder(spark, root, 8)
      assert(files(root).size == 8)
      val (kept, total) = VersionedTable.prunedFileCount(spark, root,
        Seq(("user_id", 10L, 12L), ("ts_us", 0L, 200000L)))
      assert(total == 8 && kept < total, s"kept $kept of $total")
      assert(ids(root) == (0L until 2000L))
    }
  }

  test("with a tiny maxPartitionBytes a write splits into ceil(estimate / target) files, never more than its partitions") {
    val key = "spark.sql.files.maxPartitionBytes"
    val frame = rows(spark, 0L, 2000L, 8)
    val estimate = frame.queryExecution.optimizedPlan.stats.sizeInBytes
      .toLong
    def split(target: Long, want: Int): Unit = withRoot(s"split$want") {
      root =>
        val c = DatasetBridge.cloneSession(spark, key -> target.toString)
        VersionedTable.append(rows(c, 0L, 2000L, 8), root, Stats)
        assert(files(root).size == want,
          s"estimate $estimate B, target $target B")
        assert(ids(root) == (0L until 2000L))
    }
    val target = estimate / 3 + 1
    assert((estimate + target - 1) / target == 3L)
    split(target, 3)
    // ceil(estimate / target) = 20 > 8 partitions: one file per partition
    split(estimate / 20, 8)
    assert(spark.conf.get(key) != target.toString)
  }

  test("a keyed upsert's rewrite publishes one file") {
    withRoot("upsert") { root =>
      val keyed = "event_id" +: Stats
      // round-robin: every file spans the whole key range
      VersionedTable.append(rows(spark, 0L, 400L, 4).repartition(4), root,
        keyed)
      val base = files(root)
      assert(base.size == 4)
      val keys = Seq(0L, 1L, 2L, 3L, 100L, 200L, 300L, 399L, 1000L)
      VersionedTable.upsertByKey(spark, root,
        keys.map(i => (i, i % 97, -i)).toDF("event_id", "user_id", "ts_us"),
        Seq("event_id"))
      val now = files(root)
      // the survivors of every rewritten file land in one file, the
      // upsert rows in one more
      assert((now -- base).size == 2 && now.intersect(base).isEmpty,
        s"base ${base.size} files, now ${now.size}, " +
          s"${(now -- base).size} new")
      val got = VersionedTable.read(spark, root)
        .select($"event_id", $"ts_us").as[(Long, Long)].collect().toMap
      assert(got == (0L until 400L).map(i => i -> i * 1000L).toMap ++
        keys.map(i => i -> -i))
    }
  }

  test("a rewrite of files with disjoint stat ranges keeps one file per input file") {
    withRoot("disjoint") { root =>
      val keyed = "event_id" +: Stats
      VersionedTable.append(rows(spark, 0L, 400L, 4)
        .repartitionByRange(4, $"event_id"), root, keyed)
      val base = files(root)
      assert(ranges(root, "event_id").size == 4)
      // a COW delete inside two files: two rewritten files, each within
      // its input's range
      val (lo, hi) = ranges(root, "event_id") match {
        case Seq(a, b, _, _) => (a._2 - 5L, b._1 + 5L)
      }
      VersionedTable.deleteWhere(spark, root,
        s"event_id BETWEEN $lo AND $hi")
      val now = files(root)
      assert((now -- base).size == 2 && (base -- now).size == 2)
      val after = ranges(root, "event_id")
      assert(after.sliding(2).forall { case Seq(a, b) => a._2 < b._1 },
        s"event_id ranges overlap: $after")
      assert(ids(root) == (0L until 400L).filterNot(i => i >= lo && i <= hi))
    }
  }
}
