package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import graft.pipeline.VersionedTable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** `table_dml`: the versioned table's commit path with reads beside the
  * writes. One seeded op stream runs against a fresh table root; every
  * write is replayed on an in-memory model of the table, every read's row
  * count is compared with the model at that point, and the final table is
  * compared with the model in [[check]].
  */
final class TableDml(seed: Long, smoke: Boolean) extends Workload {

  private final case class Ev(user: Long, ts: Long, typ: String, value: Double)

  private val baseRows = if (smoke) 2000 else 10000
  private val users = if (smoke) 40 else 150
  private val appendRows = if (smoke) 50 else 200
  private val StatCols = Seq("event_id", "user_id", "ts_us")
  private val Schema = StructType(Seq(StructField("event_id", LongType),
    StructField("user_id", LongType), StructField("ts_us", LongType),
    StructField("event_type", StringType), StructField("value", DoubleType)))
  private val Commits = Set("append", "upsertByKey", "deleteKeysMor", "deleteRangeMor",
    "sql.update", "deleteWhere", "sql.merge", "materializeDeletes", "compactSmallFiles")

  private val view = "pb_vt"
  private var root: String = _
  private val rng = new Random(seed)
  private var nextId = 0L
  private var tsLo = 0L
  private var tsHi = 0L
  private val model = mutable.LongMap.empty[Ev]
  private val writtenRows = mutable.ArrayBuffer.empty[(Long, Ev)]
  private val mismatches = mutable.ArrayBuffer.empty[String]

  // traced-pass samples
  private val opMs = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  private val pointFiles = mutable.ArrayBuffer.empty[Double]
  private var commitJobs = 0L
  private var tracedCommits = 0L
  private var dirDelta = (0L, 0L) // files, bytes written in traced passes

  private def frame(spark: SparkSession, rows: Seq[(Long, Ev)]): DataFrame =
    spark.createDataFrame(rows.map { case (id, e) => Row(id, e.user, e.ts, e.typ, e.value) }.asJava,
      Schema)

  private def newRow(): (Long, Ev) = {
    nextId += 1
    tsHi += 1 + rng.nextInt(60000000)
    nextId -> Ev(rng.nextInt(users).toLong, tsHi, Data.EventTypes(rng.nextInt(5)),
      Data.eventValue(rng))
  }

  private def existingKeys(n: Int): Seq[Long] = {
    val ks = model.keys.toArray
    java.util.Arrays.sort(ks)
    Seq.fill(math.min(n, ks.length))(ks(rng.nextInt(ks.length))).distinct
  }

  private def files(dir: String): Seq[Path] = {
    val s = Files.walk(Paths.get(dir))
    try s.iterator().asScala.filter(Files.isRegularFile(_)).toList finally s.close()
  }
  private def dirStats(dir: String): (Long, Long) = {
    val fs = files(dir)
    (fs.size.toLong, fs.map(Files.size).sum)
  }

  private def write(rows: Seq[(Long, Ev)]): Unit = {
    rows.foreach { case (id, e) => model(id) = e }
    writtenRows ++= rows
  }

  def setup(spark: SparkSession, dataDir: String): Unit = {
    root = s"$dataDir/vt"
    val base = Data.events(seed, baseRows, users).map(r =>
      r.getLong(0) -> Ev(r.getLong(2), Data.micros(r.getAs[java.time.LocalDateTime](1)),
        r.getString(3), r.getDouble(4)))
    nextId = base.last._1
    tsLo = base.map(_._2.ts).min
    tsHi = base.map(_._2.ts).max
    base.grouped(baseRows / 4).foreach { chunk =>
      VersionedTable.append(frame(spark, chunk), root, StatCols)
      write(chunk)
    }
    spark.sql(s"CREATE VERSIONED TABLE $view LOCATION '$root' KEYS(event_id)")
  }

  def pass(spark: SparkSession, traced: Boolean): Seq[Op] = {
    val out = mutable.ArrayBuffer.empty[Op]
    val before = if (traced) dirStats(root) else (0L, 0L)
    def run(kind: String)(body: => Unit): Unit = {
      val jobs0 = if (traced && Commits(kind)) Trace.snapshot(spark).jobs else 0L
      val o = Main.op(kind)(Trace("pipeline", s"VersionedTable.$kind")(body))
      out += o
      if (traced) {
        opMs.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += o.ms
        if (Commits(kind)) {
          commitJobs += Trace.snapshot(spark).jobs - jobs0
          tracedCommits += 1
        }
      }
    }
    def expect(kind: String, got: Long, want: Long): Unit =
      if (got != want) {
        mismatches += s"table_dml $kind: $got rows, replay has $want"
        throw new IllegalStateException(s"$kind returned $got rows, replay has $want")
      }
    def pointRead(): Unit = {
      val k = if (rng.nextInt(4) == 0) nextId + 1 + rng.nextInt(1000) else existingKeys(1).head
      run("pointRead") {
        expect("pointRead", VersionedTable.pointRead(spark, root, "event_id", k).count(),
          if (model.contains(k)) 1 else 0)
      }
      if (traced) pointFiles +=
        VersionedTable.pointPrunedFileCount(spark, root, "event_id", k)._2.toDouble
    }

    val appended = Seq.fill(appendRows)(newRow())
    run("append")(VersionedTable.append(frame(spark, appended), root, StatCols))
    write(appended)
    pointRead()

    val updates = existingKeys(appendRows * 2 / 5).map { k =>
      k -> model(k).copy(value = Data.eventValue(rng))
    } ++ Seq.fill(appendRows / 10)(newRow())
    val replaced = updates.count(u => model.contains(u._1))
    var upsertV = -1L
    run("upsertByKey") {
      upsertV = VersionedTable.upsertByKey(spark, root, frame(spark, updates), Seq("event_id"))._1
    }
    write(updates)

    val u0 = rng.nextInt(users).toLong
    run("boxRead") {
      expect("boxRead", VersionedTable.boxRead(spark, root, Seq(("user_id", u0, u0 + 2))).count(),
        model.values.count(e => e.user >= u0 && e.user <= u0 + 2))
    }

    val gone = existingKeys(appendRows / 5)
    run("deleteKeysMor") {
      import spark.implicits._
      VersionedTable.deleteKeysMor(spark, root, "event_id", gone.toDF("event_id"))
    }
    gone.foreach(model.remove)

    def span(width: Long): (Long, Long) = {
      val lo = tsLo + (rng.nextDouble() * (tsHi - tsLo)).toLong
      (lo, lo + (tsHi - tsLo) / width)
    }
    val (t0, t1) = span(50)
    run("sqlRead") {
      expect("sqlRead", VersionedTable.sqlRead(spark, root)
        .filter(col("ts_us").between(t0, t1)).count(),
        model.values.count(e => e.ts >= t0 && e.ts <= t1))
    }

    val (d0, d1) = span(400)
    run("deleteRangeMor")(VersionedTable.deleteRangeMor(spark, root, Seq(("ts_us", d0, d1))))
    model.filterInPlace { case (_, e) => e.ts < d0 || e.ts > d1 }
    pointRead()

    val u1 = rng.nextInt(users).toLong
    run("sql.update")(spark.sql(
      s"UPDATE $view SET value = value + 1 WHERE user_id BETWEEN $u1 AND ${u1 + 1}").collect())
    write(model.toSeq.collect { case (id, e) if e.user >= u1 && e.user <= u1 + 1 =>
      id -> e.copy(value = e.value + 1) })

    run("read")(expect("read", VersionedTable.read(spark, root).count(), model.size.toLong))

    val u2 = rng.nextInt(users).toLong
    run("deleteWhere")(VersionedTable.deleteWhere(spark, root, s"user_id = $u2 AND value > 100.0"))
    model.filterInPlace { case (_, e) => !(e.user == u2 && e.value > 100.0) }

    val src = existingKeys(appendRows / 8).map(k => k -> model(k).copy(typ = "merge")) ++
      Seq.fill(appendRows / 8)(newRow())
    frame(spark, src).createOrReplaceTempView("pb_merge_src")
    run("sql.merge")(spark.sql(
      s"""MERGE INTO $view USING pb_merge_src ON $view.event_id = pb_merge_src.event_id
         |WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect())
    write(src)

    run("readChangesCdc") {
      expect("readChangesCdc", VersionedTable.readChangesCdc(spark, root, upsertV - 1, upsertV).count(),
        (updates.size + replaced).toLong)
    }
    pointRead()

    run("materializeDeletes")(VersionedTable.materializeDeletes(spark, root))
    run("compactSmallFiles")(VersionedTable.compactSmallFiles(spark, root,
      minRows = appendRows * 10L, targetRows = appendRows * 40L))
    if (traced) {
      val after = dirStats(root)
      dirDelta = (dirDelta._1 + after._1 - before._1, dirDelta._2 + after._2 - before._2)
    }
    out.toSeq
  }

  private def fingerprint(df: DataFrame): Row = df.selectExpr(
    "count(*)", "sum(event_id)", "sum(pmod(xxhash64(user_id, ts_us, event_type, value), 1000003))").head()

  private def plainBytes(spark: SparkSession, rows: Seq[(Long, Ev)], dir: String): Long = {
    frame(spark, rows).coalesce(1).write.mode("overwrite").parquet(dir)
    files(dir).filter(_.toString.endsWith(".parquet")).map(Files.size).sum
  }

  private var amp = (Double.NaN, Double.NaN)

  def check(spark: SparkSession): Seq[String] = {
    val got = fingerprint(VersionedTable.read(spark, root))
    val want = fingerprint(frame(spark, model.toSeq))
    val bytes = dirStats(root)._2
    val tmp = Paths.get(root).getParent.toString
    amp = (bytes.toDouble / plainBytes(spark, writtenRows.toSeq, s"$tmp/plain-written"),
      bytes.toDouble / plainBytes(spark, model.toSeq, s"$tmp/plain-live"))
    mismatches.toSeq ++
      (if (got == want) None else Some(s"table_dml final table $got != replay $want"))
  }

  def detail(ops: Seq[Op], passes: Int): Seq[Metric] = {
    val ok = ops.filter(_.ok)
    Stats.latency("commit", ok.filter(o => Commits(o.kind)).map(_.ms), "detail", passes) ++
      Stats.latency("read", ok.filterNot(o => Commits(o.kind)).map(_.ms), "detail", passes) ++
      Seq(Metric("write_amp", amp._1, "ratio", writtenRows.size, "detail"),
        Metric("space_amp", amp._2, "ratio", model.size, "detail"))
  }

  def layers(passSeconds: Seq[Double]): Seq[Metric] = {
    val n = passSeconds.size
    val (liveFiles, manifestBytes) = {
      val fs = files(root)
      (VersionedTable.read(SparkSession.active, root).inputFiles.length,
        fs.filterNot(p => p.toString.endsWith(".parquet") || p.toString.endsWith(".crc"))
          .map(Files.size).sum)
    }
    opMs.toSeq.sortBy(_._1).map { case (k, xs) =>
      Metric(s"pipeline.op_ms.$k", Stats.median(xs.toSeq), "ms", xs.size, "layer") } ++
      Seq(Metric("pipeline.jobs_per_commit", commitJobs.toDouble / math.max(1, tracedCommits),
          "count", tracedCommits.toInt, "layer"),
        Metric("pipeline.files_written", dirDelta._1.toDouble / n, "count", n, "layer"),
        Metric("pipeline.bytes_written", dirDelta._2.toDouble / n, "bytes", n, "layer"),
        Metric("pipeline.manifest_bytes", manifestBytes.toDouble, "bytes", 1, "layer"),
        Metric("pipeline.live_files", liveFiles.toDouble, "count", 1, "layer")) ++
      (if (pointFiles.isEmpty) Nil else Seq(Metric("pipeline.files_per_point_read",
        Stats.median(pointFiles.toSeq), "count", pointFiles.size, "layer")))
  }
}
