package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The staging/swap/recovery state machine for a snapshot directory,
  * shared by the streaming sinks' key-wise merge and full-replace publish
  * ([[graft.streaming.EventStreamPipeline]]) and the flat-directory
  * layout compactor ([[Layout.compactZorder]]): readers polling
  * `targetDir` always see a complete snapshot (old or new), never a
  * mid-overwrite hole.
  *
  * The swap itself is not atomic on a plain filesystem — a reader racing
  * the two renames can observe the target momentarily absent (a real
  * table format supplies that atomicity: [[VersionedTable]] publishes
  * by one manifest CAS instead; these writers assume a single writer
  * per directory).
  * Crash safety: every rename's boolean result is checked (Hadoop
  * `rename` reports failure by returning false, not throwing); a crash
  * between the two renames leaves the only complete snapshot in
  * `.staging` (with its `_SUCCESS` marker) or `.old`, and [[recover]]
  * promotes that survivor back to the target; the retired copy is
  * deleted only after the promoted target proves readable.
  */
private[graft] class SnapshotDir(s: SparkSession, targetDir: String) {
  private val target = new org.apache.hadoop.fs.Path(targetDir)
  private val fs = target.getFileSystem(s.sparkContext.hadoopConfiguration)
  private val staging = new org.apache.hadoop.fs.Path(targetDir + ".staging")
  private val retired = new org.apache.hadoop.fs.Path(targetDir + ".old")
  // the swap machinery's one structural invariant, enforced where a
  // future derivation change would break it: writers (Layout.compactZorder)
  // READ the target while WRITING staging in the same job, so the three
  // paths must be pairwise disjoint or the scan would consume its own
  // half-written output
  require(staging != target && retired != target && staging != retired,
    s"SnapshotDir: target/staging/retired must be distinct paths ($targetDir)")
  private def renameOrThrow(from: org.apache.hadoop.fs.Path,
      to: org.apache.hadoop.fs.Path): Unit =
    if (!fs.rename(from, to))
      throw new java.io.IOException(s"snapshot swap: rename $from -> $to failed")
  /** A crash between "retire target" and "promote staging" leaves no
    * target. The complete survivor is .staging when its _SUCCESS marker
    * exists (a finished write of the *previous* attempt — prefer it),
    * else .old (the pre-swap snapshot; the checkpoint re-delivers the
    * lost batch and the idempotent rewrite reconverges).
    */
  def recover(): Unit =
    if (!fs.exists(target)) {
      val stagingComplete = fs.exists(staging) &&
        fs.exists(new org.apache.hadoop.fs.Path(staging, "_SUCCESS"))
      if (stagingComplete) renameOrThrow(staging, target)
      else if (fs.exists(retired)) renameOrThrow(retired, target)
    }
  def targetExists: Boolean = fs.exists(target)
  def stagingPath: String = staging.toString
  /** Retire the old snapshot, promote the staged one, verify the
    * promoted copy reads before deleting the only other complete one.
    */
  def swapIn(): DataFrame = {
    if (fs.exists(retired) && !fs.delete(retired, true))
      throw new java.io.IOException(s"snapshot swap: could not clear $retired")
    if (fs.exists(target)) renameOrThrow(target, retired)
    renameOrThrow(staging, target)
    val out = s.read.parquet(targetDir)
    fs.delete(retired, true)
    out
  }
}
