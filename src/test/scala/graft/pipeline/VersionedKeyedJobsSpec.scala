package graft.pipeline

import graft.TestSpark
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Spark jobs per keyed commit, counted with a `SparkListener` on the
  * commit's own job group. A key set within
  * [[VersionedTable.SparseKeyProbeLimit]] is collected once, by one
  * job, and everything else the commit needs from it is derived on the
  * driver. The bounds below are the measured counts:
  *
  * | commit | jobs | before |
  * |---|---|---|
  * | 100-row `upsertByKey` | 3 | 10 |
  * | 20-key `deleteKeysMor` | 3 | 10 |
  * | SQL UPDATE over two users, which first materializes that marker | 4 | 12 |
  * | 50-row SQL MERGE (25 matched, 25 new) | 10 | 15 |
  * | `applyCdcBatch` of 30 upserts and 10 deletes | 3 | 8 |
  *
  * "Before" is the code that counted, bounded and re-evaluated the key
  * frame in separate jobs.
  */
class VersionedKeyedJobsSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark

  /** The SQL executions and jobs `body` starts, including those started
    * for it on other threads (broadcasts, adaptive stages), which
    * inherit its job group. A sentinel job in a second group, seen last
    * on the listener bus, shows that every earlier event has been
    * delivered.
    */
  private def countsOf(body: => Unit): (Int, Int) = {
    val sc = spark.sparkContext
    val group = s"keyed-jobs-${java.util.UUID.randomUUID()}"
    val sentinel = s"$group-end"
    val executions = new java.util.concurrent.atomic.AtomicInteger
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val done = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.incrementAndGet()
          case Some(`sentinel`) => done.countDown()
          case _ => ()
        }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart
            if x.jobGroupId.contains(group) => executions.incrementAndGet()
        case _ => ()
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "keyed commit")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(sentinel, "listener bus sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(done.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "the sentinel job never reached the listener")
      (executions.get, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  private def events(lo: Long, hi: Long) = spark.range(lo, hi).select(
    col("id").as("event_id"), (col("id") % 50).as("user_id"),
    (col("id") * 1000L).as("ts_us"), (col("id") % 7).cast("double").as("value"))

  /** 8,000 events in four appends, registered as `name` keyed on
    * `event_id`; returns the root.
    */
  private def table(name: String): String = {
    val root = java.nio.file.Files.createTempDirectory(s"graft-$name")
      .resolve("t").toString
    (0 until 4).foreach(i => VersionedTable.append(
      events(i * 2000L, (i + 1) * 2000L), root,
      Seq("event_id", "user_id", "ts_us")))
    spark.sql(s"CREATE VERSIONED TABLE $name LOCATION '$root' " +
      "KEYS(event_id)")
    root
  }

  test("a small keyed commit spends one job on its key set") {
    val root = table("keyed_jobs")

    // 60 existing keys spread over the table, 40 new ones
    val updates = events(0, 60).withColumn("event_id", col("event_id") * 131L)
      .unionByName(events(8000, 8040)).withColumn("value", lit(-1.0))
    val upsert = countsOf(VersionedTable.upsertByKey(spark, root, updates,
      Seq("event_id")))
    val delete = countsOf(VersionedTable.deleteKeysMor(spark, root,
      "event_id", spark.range(0, 20).select((col("id") * 397L + 1).as("k"))))
    val update = countsOf(spark.sql(
      "UPDATE keyed_jobs SET value = value + 1 WHERE user_id BETWEEN 3 AND 4")
      .collect())
    info(s"(SQL executions, jobs): upsertByKey $upsert, deleteKeysMor " +
      s"$delete, UPDATE $update")
    assert(upsert._2 <= 3, s"100-row upsertByKey ran ${upsert._2} jobs")
    assert(delete._2 <= 3, s"20-key deleteKeysMor ran ${delete._2} jobs")
    assert(update._2 <= 4, s"two-user UPDATE ran ${update._2} jobs")
    // the commits still did what they say: (event_id, user_id) of the
    // upserted rows, minus the deleted keys, minus the updated users
    val upserted = (0L until 60L).map(j => (j * 131L, j % 50)) ++
      (8000L until 8040L).map(j => (j, j % 50))
    val gone = (0L until 20L).map(_ * 397L + 1).toSet
    val t = VersionedTable.read(spark, root)
    assert(t.count() == 8040L - gone.size)
    assert(t.filter(col("value") === -1.0).count() == upserted.count {
      case (id, user) => !gone(id) && user != 3L && user != 4L
    })
  }

  test("a small MERGE and CDC batch collect their key set once") {
    val root = table("keyed_jobs_merge")
    // 25 matched keys, 25 new ones
    events(0, 25).withColumn("event_id", col("event_id") * 211L)
      .unionByName(events(9000, 9025)).withColumn("value", lit(-2.0))
      .createOrReplaceTempView("keyed_jobs_src")
    val merge = countsOf(spark.sql(
      """MERGE INTO keyed_jobs_merge USING keyed_jobs_src
        |ON keyed_jobs_merge.event_id = keyed_jobs_src.event_id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect())
    // 30 upserts and 10 deletes
    val cdc = countsOf(VersionedTable.applyCdcBatch(spark, root,
      events(100, 130).withColumn("value", lit(-3.0)),
      spark.range(0, 10).select((col("id") * 503L + 7).as("event_id")),
      Seq("event_id"), 1L))
    info(s"(SQL executions, jobs): MERGE $merge, applyCdcBatch $cdc")
    assert(merge._2 <= 10, s"50-row MERGE ran ${merge._2} jobs")
    assert(cdc._2 <= 3, s"40-key applyCdcBatch ran ${cdc._2} jobs")
    val t = VersionedTable.read(spark, root)
    assert(t.count() == 8025L - 10L)
    assert(t.filter(col("value") === -2.0).count() == 50L)
    assert(t.filter(col("value") === -3.0).count() == 30L)
  }
}
