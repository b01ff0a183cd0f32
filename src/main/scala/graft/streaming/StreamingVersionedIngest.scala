package graft.streaming

import graft.pipeline.VersionedTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger

/** Structured Streaming ingest into a [[VersionedTable]], with a
  * simple exactly-once story: each micro-batch appends THROUGH
  * [[VersionedTable.appendBatch]], which records the batch id as an
  * ingest frontier inside the same atomically-published manifest as
  * the data. A batch crashed after its append but before the
  * checkpoint commit is re-delivered on restart, found at-or-below
  * the recorded frontier, and skipped — no deterministic-overwrite
  * directory discipline, no compaction-time frontier gate, because
  * data and idempotence marker commit in ONE rename. Readers stay
  * lock-free and snapshot-isolated throughout; compaction
  * ([[VersionedTable.compactZorder]]) is safe at ANY time — it only
  * publishes a new version over already-published files, so there is
  * no uncommitted-batch hazard at all.
  */
object StreamingVersionedIngest {

  /** Drain `stream` into the versioned table at `root` with
    * `Trigger.AvailableNow`. `afterBatch` is the fault-injection seam:
    * throwing from it after the append but before the checkpoint
    * commit forces a replay of a fully-published batch.
    *
    * MAINTENANCE CADENCE: each micro-batch appends one runt file set;
    * left alone, a long-running stream degrades reads one small file
    * at a time. `packEvery > 0` folds them as they accumulate — every
    * `packEvery`-th batch runs [[VersionedTable.compactSmallFiles]]
    * (rewrite only files under `packMinRows`, big files carried by
    * name — O(runt rows) per fold, never O(table)). The pack is a pure
    * rewrite published AFTER the batch's own append, so exactly-once
    * is untouched: a crash between append and pack just defers the
    * fold to the next cadence hit, and a replayed batch (at-or-below
    * the frontier) skips the pack along with the append.
    */
  def ingestAvailable(stream: DataFrame, root: String,
      checkpointDir: String, statCols: Seq[String],
      afterBatch: Long => Unit = _ => (),
      packEvery: Int = 0,
      packMinRows: Long = 100000L,
      packTargetRows: Long = 1000000L,
      typedStatCols: Seq[String] = Seq.empty): Unit = {
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: java.lang.Long) =>
        if (!batch.isEmpty) {
          val spark = batch.sparkSession
          // appendBatch reports replay EXPLICITLY — inferring it from
          // version numbers misclassifies a replay whenever a
          // concurrent writer advances the table between the calls
          val (_, published) = VersionedTable
            .appendBatchDetailed(batch, root, statCols, batchId,
              typedStatCols)
          if (published && packEvery > 0 && batchId % packEvery == 0) {
            VersionedTable.compactSmallFiles(spark, root,
              packMinRows, packTargetRows)
            ()
          }
          afterBatch(batchId)
        }
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }
}
