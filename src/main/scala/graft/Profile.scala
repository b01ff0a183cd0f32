package graft

import org.apache.spark.scheduler._

import scala.collection.mutable

/** Dev tool (guide §1 "measure first"): run one or more SparkEntry queries
  * through the noop sink with a listener attached and print where the time
  * actually goes — jobs, stages, task counts, executor run time vs GC vs
  * shuffle read/write, bytes moved. Same session and warmup as Bench.
  * Usage:
  *
  *   sbt "runMain graft.Profile [sfDir] [--runs N] q_distinct_agg dd_exact"
  *
  * No names profiles Bench's headline set. A tier × cores sweep is
  * `MakeSfTier` followed by `SPARK_GRAFT_CPUS=c runMain graft.Profile
  * <tierDir> q…`. Timings here guide optimization; the graded numbers stay
  * Bench's.
  */
object Profile {

  private class StageAgg {
    var name = ""
    var numTasks = 0
    var runTimeMs = 0L // sum of task run times
    var gcMs = 0L
    var shuffleReadB = 0L
    var shuffleWriteB = 0L
    var fetchWaitMs = 0L
    var inputB = 0L
    var wallMs = 0L
    var maxTaskMs = 0L
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, rest) = args.toList match {
      case d :: r if d.startsWith("/") => (d, r)
      case r                           => ("/root/testdata/sf0.1", r)
    }
    val (runs, names) = rest match {
      case "--runs" :: n :: r => (n.toInt, r)
      case r                  => (2, r)
    }
    val targets = SparkEntry.select(if (names.isEmpty) Bench.Headline else names)
    val spark = GraftSession()
    Bench.warmup(spark, sfDir)

    val stages = mutable.Map[Int, StageAgg]()
    val jobWall = mutable.ArrayBuffer[(Int, Long)]()
    val jobStart = mutable.Map[Int, Long]()
    val listener = new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val agg = stages.getOrElseUpdate(si.stageId, new StageAgg)
        agg.name = si.name.takeWhile(_ != '\n')
        agg.wallMs = (for {
          s <- si.submissionTime; c <- si.completionTime
        } yield c - s).getOrElse(0L)
      }
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        val agg = stages.getOrElseUpdate(te.stageId, new StageAgg)
        val m = te.taskMetrics
        if (m != null) {
          agg.numTasks += 1
          agg.runTimeMs += m.executorRunTime
          agg.maxTaskMs = math.max(agg.maxTaskMs, m.executorRunTime)
          agg.gcMs += m.jvmGCTime
          agg.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
          agg.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          agg.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
          agg.inputB += m.inputMetrics.bytesRead
        }
      }
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobStart(js.jobId) = js.time
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        jobStart.remove(je.jobId).foreach(t0 => jobWall += je.jobId -> (je.time - t0))
    }

    targets.foreach { case (n, fn) =>
      // untimed first run absorbs codegen compile; then `runs` timed runs,
      // listener attached only on the LAST so the table shows steady state
      (1 to runs).foreach { i =>
        spark.catalog.clearCache()
        System.gc()
        val attach = i == runs
        if (attach) {
          stages.clear(); jobWall.clear()
          spark.sparkContext.addSparkListener(listener)
        }
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val dt = (System.nanoTime() - t0) / 1e9
        if (attach) {
          Thread.sleep(400) // listener events drain asynchronously
          spark.sparkContext.removeSparkListener(listener)
          val totJobMs = jobWall.map(_._2).sum
          println(f"%n=== $n run$i wall=${dt}%.3fs jobs=${jobWall.size} jobWallSum=${totJobMs / 1000.0}%.3fs (gap=${dt - totJobMs / 1000.0}%.3fs driver/planning)")
          val rows = stages.toSeq.sortBy(_._1)
          println(f"${"stage"}%6s ${"tasks"}%5s ${"wall"}%7s ${"taskSum"}%8s ${"maxTask"}%8s ${"gc"}%6s ${"input"}%9s ${"shRead"}%9s ${"shWrite"}%9s ${"fetchW"}%7s  name")
          rows.foreach { case (id, a) =>
            println(f"$id%6d ${a.numTasks}%5d ${a.wallMs / 1000.0}%6.2fs ${a.runTimeMs / 1000.0}%7.2fs ${a.maxTaskMs / 1000.0}%7.2fs ${a.gcMs}%5dms ${fmtB(a.inputB)}%9s ${fmtB(a.shuffleReadB)}%9s ${fmtB(a.shuffleWriteB)}%9s ${a.fetchWaitMs}%6dms  ${a.name}")
          }
        } else {
          println(f"=== $n run$i wall=${dt}%.3fs (warm)")
        }
      }
    }
    spark.stop()
  }

  private def fmtB(b: Long): String =
    if (b > 10L * 1024 * 1024) f"${b / 1024.0 / 1024.0}%.1fMB"
    else if (b > 10L * 1024) f"${b / 1024.0}%.0fKB"
    else s"${b}B"
}
