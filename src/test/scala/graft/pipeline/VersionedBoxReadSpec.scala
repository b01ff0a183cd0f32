package graft.pipeline

import graft.TestSpark
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[VersionedTable.boxRead]] beyond the compacted-only 2-D table
  * `VersionedTableSpec` probes: files appended after the last
  * compaction (unclustered, inside the box), the scan's own `numFiles`
  * against the manifest's count, the 3-D z-order compaction
  * (`compactZorder(by = three columns)`) serving 3-D, 2-D and 1-D
  * probes from one manifest, and a box no file intersects.
  */
class VersionedBoxReadSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def withRoot[T](tag: String)(body: String => T): T = {
    val dir = java.nio.file.Files.createTempDirectory(s"graft-vbox-$tag")
    try body(dir.resolve("t").toString)
    finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  private def events(withCents: Boolean) = {
    val ev = graft.queries.Tables.events(spark, TestSpark.sfDir)
    val cols = Seq($"event_id", $"user_id",
      expr(graft.queries.Tables.fldivExpr("ts", 1000L)).as("ts_us")) ++
      (if (withCents) Seq(expr("CAST(floor(value * 100) AS BIGINT)")
        .as("cents")) else Nil)
    ev.select(cols: _*)
  }

  /** Per column: the middle `pct`% of its [min, max]. */
  private def midBoxes(df: org.apache.spark.sql.DataFrame, cols: Seq[String],
      pct: Int): Seq[(String, Long, Long)] = {
    val aggs = cols.flatMap(c => Seq(min(col(c)), max(col(c))))
    val b = df.agg(aggs.head, aggs.tail: _*).head.toSeq
      .map(_.asInstanceOf[Long])
    cols.indices.map { i =>
      val (mn, mx) = (b(2 * i), b(2 * i + 1))
      (cols(i), mn + (mx - mn) * (50 - pct / 2) / 100,
        mn + (mx - mn) * (50 + pct / 2) / 100)
    }
  }

  private def filtered(df: org.apache.spark.sql.DataFrame,
      probes: Seq[(String, Long, Long)]) =
    probes.foldLeft(df) { case (d, (c, lo, hi)) =>
      d.filter(col(c) >= lo && col(c) <= hi)
    }

  private def sortedIds(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    df.select($"event_id").collect().map(_.getLong(0)).toSeq.sorted

  /** The executed scan's `numFiles` metric — the files it opened. */
  private def scanFiles(df: org.apache.spark.sql.DataFrame): Long = {
    df.collect()
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val scans = plan.collectLeaves().collect { case s: FileSourceScanExec => s }
    assert(scans.length == 1, s"expected one file scan, got ${scans.length}")
    scans.head.metrics("numFiles").value
  }

  test("2-D boxRead after a later in-box append: the scan opens only the kept files, the append is kept, and a re-compaction keeps the result") {
    withRoot("2d") { root =>
      val ev = events(withCents = false)
      val stats = Seq("user_id", "ts_us")
      VersionedTable.append(ev, root, stats)
      VersionedTable.compactZorder(spark, root, 32)
      val probes = midBoxes(ev, stats, 24)
      val (kept, total) = VersionedTable.prunedFileCount(spark, root, probes)
      assert(total == 32 && kept < total / 2,
        s"the manifest must prune: $kept/$total")
      // the scan itself opens the kept files, where the filtered plain
      // read lists every file
      assert(scanFiles(VersionedTable.boxRead(spark, root, probes)) == kept)
      assert(scanFiles(filtered(VersionedTable.read(spark, root), probes)) ==
        total)
      val compacted = sortedIds(VersionedTable.boxRead(spark, root, probes))
      assert(compacted == sortedIds(filtered(ev, probes)))

      // a later append whose rows all sit in the middle of the box: its
      // file is not in any compacted footprint and must be kept
      val (mu, mt) = ((probes(0)._2 + probes(0)._3) / 2,
        (probes(1)._2 + probes(1)._3) / 2)
      val extra = ev.filter($"event_id" % 97 === 0).coalesce(1)
        .withColumn("event_id", $"event_id" + 10000000L)
        .withColumn("user_id", lit(mu)).withColumn("ts_us", lit(mt))
      VersionedTable.append(extra, root, stats)
      val nExtra = extra.count()
      assert(nExtra > 0, "fixture: the in-box append must hold rows")
      val (keptAfter, totalAfter) =
        VersionedTable.prunedFileCount(spark, root, probes)
      assert(totalAfter == total + 1 && keptAfter == kept + 1,
        s"the appended file must survive pruning: $keptAfter/$totalAfter")
      val withExtra = sortedIds(VersionedTable.boxRead(spark, root, probes))
      assert(withExtra.size == compacted.size + nExtra)
      assert(withExtra ==
        sortedIds(filtered(VersionedTable.read(spark, root), probes)))

      // re-compaction folds the append into the layout; the probe's
      // result is unchanged
      VersionedTable.compactZorder(spark, root, 32)
      assert(sortedIds(VersionedTable.boxRead(spark, root, probes)) ==
        withExtra)
      // a probe on a column without stats prunes nothing; a 1-D subset
      // of the stat columns still prunes
      val (keptOff, totalOff) = VersionedTable.prunedFileCount(spark, root,
        Seq(("event_id", 0L, Long.MaxValue), probes(1)))
      assert(keptOff == totalOff, "a probe on a non-stat column must not prune")
      val (kept1d, total1d) =
        VersionedTable.prunedFileCount(spark, root, probes.take(1))
      assert(kept1d < total1d, s"a 1-D probe must prune: $kept1d/$total1d")
    }
  }

  test("3-D compactZorder: one table serves 3-D, 2-D and 1-D probes; pruning tightens per added probe; boxRead equals the filtered read") {
    withRoot("3d") { root =>
      val ev = events(withCents = true)
      val dims = Seq("user_id", "ts_us", "cents")
      VersionedTable.append(ev, root, dims)
      VersionedTable.compactZorder(spark, root, 64, by = dims)
      assert(VersionedTable.entryNames(spark, root,
        VersionedTable.latestVersion(spark, root).get).size == 64)
      val probes3 = midBoxes(ev, dims, 40)
      val widths = Seq(probes3.take(1), probes3.take(2), probes3)
      val counts = widths.map(VersionedTable.prunedFileCount(spark, root, _))
      assert(counts.forall(_._2 == 64))
      val kept = counts.map(_._1)
      info(s"files kept by 1-D, 2-D, 3-D probes: ${kept.mkString(", ")} of 64")
      assert(kept(0) < 64, s"a 1-D probe must prune: ${kept(0)}/64")
      assert(kept(2) < 64 / 2, s"the 3-D probe must prune hard: ${kept(2)}/64")
      assert(kept(0) > kept(1) && kept(1) > kept(2),
        s"each added probe dimension must prune more: $kept")
      // the 2-D default layout on the same data cannot prune the third
      // dimension: the 3-D `by` is what makes `cents` prunable
      val (keptC3, _) =
        VersionedTable.prunedFileCount(spark, root, probes3.drop(2))
      VersionedTable.compactZorder(spark, root, 64)
      val (keptC2, _) =
        VersionedTable.prunedFileCount(spark, root, probes3.drop(2))
      assert(keptC3 < keptC2,
        s"3-D layout must prune on cents better than 2-D: $keptC3 vs $keptC2")
      VersionedTable.compactZorder(spark, root, 64, by = dims)
      widths.foreach { probes =>
        assert(sortedIds(VersionedTable.boxRead(spark, root, probes)) ==
          sortedIds(filtered(VersionedTable.read(spark, root), probes)),
          s"${probes.size}-D boxRead diverged from the filtered read")
      }
      // `by` is validated against the table's stat columns
      intercept[IllegalArgumentException] {
        VersionedTable.compactZorder(spark, root, 4, by = Seq("user_id",
          "event_id"))
      }
      intercept[IllegalArgumentException] {
        VersionedTable.compactZorder(spark, root, 4, by = Seq("user_id"))
      }
    }
  }

  test("a box no file intersects returns zero rows under the table's schema") {
    withRoot("empty") { root =>
      val ev = events(withCents = false)
      VersionedTable.append(ev, root, Seq("user_id", "ts_us"))
      VersionedTable.compactZorder(spark, root, 8)
      val probes = Seq(("user_id", Long.MaxValue - 10, Long.MaxValue),
        ("ts_us", Long.MaxValue - 10, Long.MaxValue))
      assert(VersionedTable.prunedFileCount(spark, root, probes) == (0, 8))
      val df = VersionedTable.boxRead(spark, root, probes)
      assert(df.schema == VersionedTable.read(spark, root).schema)
      assert(df.count() == 0L)
      // and an aggregate over it is the empty aggregate, not an error
      val agg = df.groupBy($"user_id").agg(count(lit(1))).collect()
      assert(agg.isEmpty)
    }
  }
}
