package graft

import java.util.concurrent.atomic.AtomicBoolean

import scala.collection.mutable.ArrayBuffer
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import graft.pipeline.VersionedTable
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** No entry or library call writes the caller's session conf while it
  * runs: code that needs a different conf (a drain's state-store count
  * and provider, a typed-timestamp write's INT64 output, an entry's
  * catalog registration or layout switch) runs on a cloned session.
  * A poller on the caller's session reads the conf while the work runs
  * in a `Future`, and must see the same value at every read.
  */
class SessionIsolationSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {

  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val ShuffleKey = "spark.sql.shuffle.partitions"
  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"
  private val TsKey = "spark.sql.parquet.outputTimestampType"

  /** Run `work` in a `Future` and call `poll` on this thread until it
    * finishes; returns how many polls ran.
    */
  private def pollWhile(work: => Unit)(poll: => Unit): Int = {
    val done = new AtomicBoolean(false)
    val f = Future(try work finally done.set(true))
    var polls = 0
    while (!done.get) {
      poll
      polls += 1
      Thread.sleep(2)
    }
    Await.result(f, 300.seconds)
    polls
  }

  /** The pre-coalesce partition count of every shuffle `df` ran. */
  private def shufflePartitions(df: org.apache.spark.sql.DataFrame): Seq[Int] = {
    df.collect()
    collect(df.queryExecution.executedPlan) {
      case e: ShuffleExchangeExec => e.outputPartitioning.numPartitions
    }
  }

  test("a drain leaves the session's shuffle partitions and state-store provider alone while it runs") {
    val before = (spark.conf.get(ShuffleKey), spark.conf.getOption(ProviderKey))
    val seen = ArrayBuffer.empty[(String, Option[String])]
    val planned = ArrayBuffer.empty[Int]
    var n = 0
    val polls = pollWhile {
      SparkEntry.queries("ev_stream_running_distinct")(spark, TestSpark.sfDir)
        .collect()
    } {
      seen += ((spark.conf.get(ShuffleKey), spark.conf.getOption(ProviderKey)))
      // a batch query planned mid-drain, every tenth poll
      if (n % 10 == 0)
        planned ++= shufflePartitions(
          spark.range(0, 1000).groupBy(($"id" % 7).as("k")).count())
      n += 1
    }
    assert(polls > 0)
    val changed = seen.filter(_ != before)
    assert(changed.isEmpty,
      s"the session conf changed mid-drain: ${changed.distinct} " +
        s"(session had $before; ${changed.size} of ${seen.size} reads)")
    assert(planned.nonEmpty && planned.forall(_ == before._1.toInt),
      s"a batch groupBy planned mid-drain used ${planned.distinct} " +
        s"shuffle partitions, the session has ${before._1}")
  }

  test("typed-timestamp appends under INT96 leave the session on INT96 while they run") {
    val prev = spark.conf.get(TsKey)
    val roots = Seq("a", "b").map(t =>
      java.nio.file.Files.createTempDirectory(s"graft-iso-ts-$t")
        .resolve("t").toString)
    val seen = ArrayBuffer.empty[String]
    try {
      spark.conf.set(TsKey, "INT96")
      pollWhile {
        val fs = roots.map(root => Future {
          (0 until 3).foreach { _ =>
            VersionedTable.append(
              spark.range(0, 2000).select($"id",
                timestamp_micros($"id" * 1000000L).as("ts"))
                .repartitionByRange(4, $"id"),
              root, Seq("id"), Seq("ts"))
          }
        })
        fs.foreach(Await.result(_, 300.seconds))
      } {
        seen += spark.conf.get(TsKey)
      }
    } finally spark.conf.set(TsKey, prev)
    assert(seen.nonEmpty && seen.forall(_ == "INT96"),
      s"the session left INT96 mid-write: ${seen.distinct}")
    // the typed writes themselves still wrote INT64 timestamps
    roots.foreach { root =>
      val files = new java.io.File(s"$root/files").listFiles()
        .filter(_.getName.endsWith(".parquet"))
      assert(files.nonEmpty)
      files.foreach { f =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(f.toString),
            spark.sparkContext.hadoopConfiguration))
        val physical = try {
          val schema = r.getFooter.getFileMetaData.getSchema
          schema.getType(schema.getFieldIndex("ts"))
            .asPrimitiveType.getPrimitiveTypeName
        } finally r.close()
        assert(physical.toString == "INT64", s"${f.getName}: ts is $physical")
      }
    }
  }

  test("the catalog, cluster and CDC-stream entries leave the session conf and views as they found them") {
    val names = Seq("pipe_vt_cdc_stream", "pipe_vt_catalog",
      "pipe_vt_catalog_dml", "pipe_vt_cluster")
    val before = spark.conf.getAll
    names.foreach(n => SparkEntry.queries(n)(spark, TestSpark.sfDir).collect())
    val after = spark.conf.getAll
    val diff = (before.keySet ++ after.keySet)
      .filter(k => before.get(k) != after.get(k)).toSeq.sorted
    assert(diff.isEmpty, s"entries changed the session conf: " +
      diff.map(k => s"$k: ${before.get(k)} -> ${after.get(k)}").mkString("; "))
    val sinks = spark.catalog.listTables().collect()
      .filter(t => t.isTemporary && t.name.matches("graft_.*_sink"))
      .map(_.name)
    assert(sinks.isEmpty, s"sink views left behind: ${sinks.mkString(", ")}")
  }
}
