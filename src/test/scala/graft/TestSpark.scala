package graft

import org.apache.spark.sql.SparkSession

/** One shared session for all suites (first accessor builds it): Bench's
  * configuration on 4 cores, extensions included so DDL-path tests can use
  * plain `spark.sql`.
  */
object TestSpark {
  lazy val spark: SparkSession = GraftSession(4)

  val sfDir = "/root/testdata/sf0.001"

  /** Write one parquet event file named `name.parquet` into `dir`, on the
    * ns-long ts contract (readEvents' footer probe treats a physical long
    * as epoch-ns). Rows: (event_id, tsNs, user_id, event_type). Shared by
    * every streaming spec that feeds a file-stream source dir one arrival
    * at a time — one definition, so a schema or ts-contract change is one
    * edit, not a per-spec hunt.
    */
  def writeEventsFile(dir: java.nio.file.Path, name: String,
      rows: Seq[(Long, Long, Long, String)]): Unit = {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory(s"graft-evfix-$name")
    rows.map { case (id, ts, u, t) => (id, ts, u, t, 1.0, "") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    moveDataPart(tmp, dir, name)
  }

  /** Move the single data part of a freshly written parquet dir into
    * `dir/name.parquet` — the "one file arrives" primitive of the
    * file-stream specs.
    */
  def moveDataPart(written: java.nio.file.Path, dir: java.nio.file.Path,
      name: String): Unit = {
    val part = java.nio.file.Files.list(written).toArray.map(_.toString)
      .filter(p => p.endsWith(".parquet") && p.contains("part-")).head
    java.nio.file.Files.move(java.nio.file.Paths.get(part),
      dir.resolve(s"$name.parquet"))
  }
}
