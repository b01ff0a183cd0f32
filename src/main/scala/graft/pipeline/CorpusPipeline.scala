package graft.pipeline

import graft.operators.CorpusCuration
import graft.queries.Tables
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}

/** The operators composed into one executable training-data job:
  *
  *   curate (near-dup survivors + language + quality)
  *     → deterministic train/val/test split (stable hash)
  *     → token-budget sequence packing (per split)
  *     → sharded parquet write partitioned by split
  *
  * Every stage is the already-oracled building block from
  * [[graft.operators]]; this object is the "a user could run their whole
  * pipeline on this library" artifact. Accounting comes from
  * `Dataset.observe` — collected during the single write pass, no second
  * scan. Output layout: `<outDir>/corpus/split=<train|val|test>/…` with
  * columns (doc_id, source, n_tokens, pack_id, text).
  */
object CorpusPipeline {

  case class Report(
      nInput: Long,
      nCurated: Long,
      tokensOut: Long,
      splits: Map[String, Long])

  val TokenBudget = 2048L

  def run(spark: SparkSession, sfDir: String, outDir: String): Report = {
    import spark.implicits._

    val docs = Tables.documents(spark, sfDir)
    val nInput = docs.count()

    // stage 1: curation — survivors with quality/lang gates (oracled as
    // pipe_corpus_curation); re-attach text for the output corpus
    val curated = CorpusCuration.curate.build(spark, sfDir)
      .select($"doc_id", $"n_tokens")
      .join(docs.select($"doc_id", $"source", $"text"), "doc_id")

    // stage 2: stable-hash split (same rule as pipe_split_counts: any
    // engine, any partitioning, same membership)
    val withSplit = curated
      .withColumn("bucket", expr(
        "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) AS BIGINT) % 100"))
      .withColumn("split",
        when($"bucket" < 80, "train")
          .when($"bucket" < 90, "val").otherwise("test"))
      .drop("bucket")

    // stage 3: token packing per split — the distributed prefix-sum
    // shape (as pipe_token_packing): a plain per-split window would pull
    // each split onto ONE partition. Range-partition on (split, doc_id),
    // window within (split, partition), then add per-(split, partition)
    // prefix offsets computed from the tiny subtotal list.
    // Cached before the subtotal collect: range-boundary sampling and
    // spark_partition_id are not deterministic across executions, so the
    // offsets and the window job must observe the SAME materialized
    // partitioning (same fix as pipe_global_shuffle).
    val nParts = spark.sparkContext.defaultParallelism
    val ranged = withSplit
      .repartitionByRange(nParts, $"split", $"doc_id")
      .withColumn("pid", spark_partition_id())
      .cache()
    val subtotals = ranged.groupBy($"split", $"pid")
      .agg(sum($"n_tokens").as("t"))
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    val offsets = subtotals.keys.groupBy(_._1).flatMap { case (split, keys) =>
      val pids = keys.map(_._2).toSeq.sorted
      val offs = pids.scanLeft(0L)((acc, p) => acc + subtotals((split, p)))
      pids.zip(offs).map { case (p, off) => (split, p) -> off }
    }
    // broadcast-join the per-(split, partition) offsets rather than
    // folding them into a when-chain: one CASE branch per partition is
    // fine at 32 partitions but blows past codegen limits at cluster
    // scale (thousands of partitions → thousands of branches →
    // interpreted eval per row); the offset frame is <= #partitions rows,
    // always broadcast-sized
    val offDf = broadcast(offsets.toSeq
      .map { case ((split, pid), off) => (split, pid, off) }
      .toDF("split", "pid", "poffset"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"split", $"pid").orderBy($"doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val packed = ranged
      .join(offDf, Seq("split", "pid"))
      .withColumn("cum_tokens", sum($"n_tokens").over(w) + $"poffset")
      .withColumn("pack_id", expr(s"(cum_tokens - 1) div $TokenBudget").cast(LongType))
      .drop("cum_tokens", "pid", "poffset")

    // stage 4: sharded write + single-pass accounting
    val obs = Observation()
    packed
      .observe(obs,
        count(lit(1)).as("n_curated"),
        sum($"n_tokens").as("tokens_out"))
      .write.mode("overwrite").partitionBy("split")
      .parquet(s"$outDir/corpus")

    val splits = spark.read.parquet(s"$outDir/corpus")
      .groupBy($"split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

    // the write consumed `packed`; the cache has served both consumers
    // (subtotals + window job) and must not outlive the call — a 145-query
    // bench JVM accumulating pinned storage risks pressure eviction and
    // nondeterministic-pid recompute elsewhere
    ranged.unpersist(blocking = false)

    Report(
      nInput = nInput,
      nCurated = obs.get("n_curated").asInstanceOf[Long],
      tokensOut = obs.get("tokens_out").asInstanceOf[Long],
      splits = splits)
  }

  case class IndexReport(
      nShards: Int,
      nPostings: Long,
      nTerms: Long,
      maxShardRows: Long)

  /** Full inverted-index write, sharded by term range — the real job the
    * bounded-head `ta_inverted_index` query stands in for (SCALE.md §Text).
    * The full posting lists NEVER materialize in memory: postings stay as
    * (token, doc_id, tf_doc) ROWS that range-exchange on (token, doc_id)
    * and external-sort within each shard, so a posting list exists only as
    * a contiguous run of rows in the written file. Task memory is bounded
    * by the sorter's spill threshold, not by any token's document
    * frequency — a stopword's postings simply straddle a shard boundary
    * when the sampled range boundaries land inside its run (which is
    * exactly what bounds shard size under token skew). Layout:
    * `<outDir>/inverted/part-*` — one file per shard, rows sorted by
    * (token, doc_id); `<outDir>/inverted_manifest` — one row per shard
    * file with its term range, for range-pruned term lookup (a reader
    * fetches only the shard whose [min_token, max_token] covers the
    * query term). The manifest is computed from the WRITTEN files — a
    * second bounded scan, not a re-execution of the build plan.
    */
  /** Per-output-file manifest rows — ONE definition for the base build,
    * the delta append, and the compaction rewrite (a change applied to
    * only one copy would silently diverge the manifests):
    * (file, min_token, max_token, n_rows, n_terms).
    */
  private def fileManifest(rows: DataFrame): DataFrame = {
    val s = rows.sparkSession
    import s.implicits._
    rows.groupBy(input_file_name().as("file"))
      .agg(min($"token").as("min_token"), max($"token").as("max_token"),
        count(lit(1)).as("n_rows"),
        count_distinct($"token").as("n_terms"))
  }

  def writeInvertedIndex(spark: SparkSession, sfDir: String, outDir: String,
      nShards: Int = 0): IndexReport =
    WriterLease.withLease(fsFor(spark, outDir), outDir, "writeInvertedIndex") {
      writeInvertedIndexImpl(spark, sfDir, outDir, nShards)
    }

  private def fsFor(spark: SparkSession, dir: String)
      : org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def writeInvertedIndexImpl(spark: SparkSession, sfDir: String,
      outDir: String, nShards: Int): IndexReport = {
    import spark.implicits._
    val shards =
      if (nShards > 0) nShards else spark.sparkContext.defaultParallelism
    // a fresh base build starts a new index life in this dir: stale
    // deltas/tombstones from the previous life would leak into lookups
    // and compactions, and a stale folded_batches record would silently
    // no-op a future appendBatch that recycles a previously-folded id
    // (returning the OLD life's recorded report with the new postings
    // dropped) — the same retirement writeIvfPq does for vectors
    locally {
      val staleFs = new org.apache.hadoop.fs.Path(outDir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      for (stale <- Seq("delta", "delta_manifest", "tombstones",
          "folded_batches"))
        staleFs.delete(new org.apache.hadoop.fs.Path(s"$outDir/$stale"), true)
    }
    val obs = Observation()
    graft.operators.TextAnalysis.postings(spark, sfDir)
      .repartitionByRange(shards, $"token", $"doc_id")
      .sortWithinPartitions($"token", $"doc_id")
      .observe(obs, count(lit(1)).as("n_postings"))
      .write.mode("overwrite").parquet(s"$outDir/inverted")

    val manifest = fileManifest(spark.read.parquet(s"$outDir/inverted"))
      .orderBy($"min_token")
      .cache()
    manifest.write.mode("overwrite").parquet(s"$outDir/inverted_manifest")

    val stats = manifest
      .agg(sum($"n_terms").as("terms"), max($"n_rows").as("maxRows"),
        count(lit(1)).as("files"))
      .head()
    val report = IndexReport(
      nShards = stats.getAs[Long]("files").toInt,
      nPostings = obs.get("n_postings").asInstanceOf[Long],
      // per-shard distinct sums can double-count a boundary-straddling
      // term; exact enough for the report, exact in the manifest
      nTerms = stats.getAs[Long]("terms"),
      maxShardRows = stats.getAs[Long]("maxRows"))
    manifest.unpersist()
    report
  }

  /** Range-pruned term lookup over a [[writeInvertedIndex]] layout: the
    * manifests (≤ #shards rows each — a bounded driver read, same budget
    * as the prefix-sum subtotals) name the only files whose [min_token,
    * max_token] range can contain the term, and ONLY those files are
    * opened — base shards plus any uncompacted delta shards
    * ([[appendBatch]]). At 100 TB this is the difference between a point
    * lookup touching one shard (plus small deltas) and a full-index scan;
    * the served postings are identical to a full-scan filter by
    * construction (ShardedIndexSpec proves it). Returns the pruned file
    * list alongside the postings so callers (and the spec) can observe
    * how much was skipped.
    */
  def lookupTerm(spark: SparkSession, indexDir: String, term: String,
      tombstoneBroadcastLimit: Long = TombstoneBroadcastLimit)
      : (Seq[String], org.apache.spark.sql.DataFrame) = {
    import spark.implicits._
    val fs = new org.apache.hadoop.fs.Path(indexDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def covering(manifestDir: String): Seq[String] = {
      if (!fs.exists(new org.apache.hadoop.fs.Path(manifestDir))) Seq.empty
      else spark.read.parquet(manifestDir)
        .filter($"min_token" <= term && $"max_token" >= term)
        .select($"file").collect().map(_.getString(0)).toSeq
    }
    val files = covering(s"$indexDir/inverted_manifest") ++
      covering(s"$indexDir/delta_manifest")
    val postings =
      if (files.isEmpty)
        spark.read.parquet(s"$indexDir/inverted").filter(lit(false))
      else
        spark.read.parquet(files: _*).filter($"token" === term)
    // tombstoned doc_ids ([[deleteDocs]]) are hidden until the next
    // compaction physically drops them; while deletes-since-compact stay
    // under the broadcast bound the anti-join ships the tombstone set and
    // the postings side never moves. The bound is SELF-ENFORCING, not a
    // docstring promise: the tombstone row count is read from parquet
    // footer metadata (no data scan), and past the limit the lookup
    // degrades gracefully to an un-hinted anti-join (AQE plans the
    // exchange from measured sizes) and logs that compaction is due —
    // correctness never depends on the set staying small.
    val tombDir = s"$indexDir/tombstones"
    val live =
      if (fs.exists(new org.apache.hadoop.fs.Path(tombDir))) {
        // one read serves both the limit check and the anti-join: the
        // distinct set is materialized once (localCheckpoint — blocks are
        // released when the plan is GC'd, unlike cache()), its count is
        // the DISTINCT id count, so repeated deletes of the same ids
        // can't trip the broadcast limit early
        val tomb = spark.read.parquet(tombDir).select($"doc_id").distinct()
          .localCheckpoint()
        val nTomb = tomb.count()
        if (nTomb <= tombstoneBroadcastLimit)
          postings.join(broadcast(tomb), Seq("doc_id"), "left_anti")
        else {
          log.warn(s"tombstone set at $tombDir has $nTomb rows " +
            s"(> broadcast limit $tombstoneBroadcastLimit); serving via " +
            "shuffle anti-join — run compact() to restore broadcast lookups")
          postings.join(tomb, Seq("doc_id"), "left_anti")
        }
      } else postings
    (files, live.orderBy($"doc_id"))
  }

  /** Tombstone rows above which [[lookupTerm]] stops force-broadcasting
    * the anti-join side and [[deleteDocs]]/[[compactionDue]] report a
    * compaction as due. 5M ids ≈ 40 MB — comfortably under Spark's 8 GB
    * broadcast hard cap but large enough that the driver round-trip
    * starts to matter on every lookup.
    */
  val TombstoneBroadcastLimit: Long = 5000000L

  private lazy val log =
    org.slf4j.LoggerFactory.getLogger(getClass)

  /** Uncompacted delta batches above which a compaction is due: each
    * pending batch adds (at most) one shard to every lookup's file list,
    * so the bound caps lookup read fan-in the way an LSM caps level
    * count.
    */
  val MaxDeltaBatches: Int = 16

  /** True when the pending tombstone set has outgrown the broadcast
    * bound (footer metadata count only — pessimistic under re-deletes,
    * which merely compacts early) or the uncompacted delta count has
    * outgrown the lookup fan-in bound. [[appendBatch]] and [[deleteDocs]]
    * run the compaction themselves when this trips; it stays public as
    * the idle-time scheduling cue.
    */
  def compactionDue(spark: SparkSession, indexDir: String,
      tombstoneBroadcastLimit: Long = TombstoneBroadcastLimit,
      maxDeltaBatches: Int = MaxDeltaBatches): Boolean = {
    val tombDir = s"$indexDir/tombstones"
    val deltaDir = s"$indexDir/delta"
    val fs = new org.apache.hadoop.fs.Path(indexDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tombsOver = fs.exists(new org.apache.hadoop.fs.Path(tombDir)) &&
      spark.read.parquet(tombDir).count() > tombstoneBroadcastLimit
    val deltasOver = fs.exists(new org.apache.hadoop.fs.Path(deltaDir)) &&
      fs.listStatus(new org.apache.hadoop.fs.Path(deltaDir))
        .count(_.getPath.getName.startsWith("batch=")) > maxDeltaBatches
    tombsOver || deltasOver
  }

  /** Tombstone delete — the redaction path for the incremental index. A
    * 100 TB corpus pipeline re-crawls and redacts; rewriting shards per
    * delete is not an option, so deletes are LOGICAL until the next
    * [[compact]]: the doc_ids append to `<indexDir>/tombstones` (a tiny
    * parquet set) and [[lookupTerm]] anti-joins its pruned postings
    * against them, making the delete visible immediately without touching
    * any shard. [[compact]] drops tombstoned postings physically while
    * folding deltas, then retires the tombstones. Idempotent: deleting an
    * already-deleted (or absent) doc_id is a no-op, and a crashed
    * deleteDocs retry just re-appends the same ids (the anti-join
    * de-duplicates). Contract (single-writer, as [[appendBatch]]): a
    * tombstoned doc_id must not be re-added until a compaction retires
    * the tombstone — the anti-join would hide (and compact would drop)
    * the re-added postings along with the old ones.
    */
  def deleteDocs(spark: SparkSession, indexDir: String, docIds: Seq[Long],
      tombstoneBroadcastLimit: Long = TombstoneBroadcastLimit): Unit =
    WriterLease.withLease(fsFor(spark, indexDir), indexDir, "deleteDocs") {
      deleteDocsImpl(spark, indexDir, docIds, tombstoneBroadcastLimit)
    }

  private def deleteDocsImpl(spark: SparkSession, indexDir: String,
      docIds: Seq[Long], tombstoneBroadcastLimit: Long): Unit = {
    import spark.implicits._
    recoverImpl(spark, indexDir)
    docIds.toDF("doc_id").coalesce(1)
      .write.mode("append").parquet(s"$indexDir/tombstones")
    // the delete itself is already durable and visible (tombstone
    // anti-join); the compaction that restores broadcast lookups runs
    // HERE, not on a caller's polling loop. A crash anywhere inside it
    // leaves the swap-staging states recoverIndex repairs on the next
    // index operation's entry.
    if (compactionDue(spark, indexDir, tombstoneBroadcastLimit)) {
      log.info(s"tombstones at $indexDir exceed the broadcast limit " +
        s"($tombstoneBroadcastLimit); compacting")
      compactImpl(spark, indexDir, nShards = 0)
    }
  }

  /** Incremental index maintenance — append a NEW batch of documents'
    * postings as a range-sharded DELTA instead of rebuilding the base
    * (a 100 TB index receiving daily batches cannot re-shard the corpus
    * per arrival). Contract: batch doc_ids disjoint from every earlier
    * live batch; deletes/redactions go through [[deleteDocs]] tombstones,
    * and an update is delete + compact + re-add (re-adding a doc_id whose
    * tombstone is still pending would hide the new postings too — see
    * [[deleteDocs]]). The delta is range-sharded over ITS
    * OWN sampled boundaries and manifested separately; [[lookupTerm]]
    * unions base + delta coverage, so reads stay pruned (one base shard
    * + at most one small shard per uncompacted batch). [[compact]] folds
    * deltas into a re-sharded base, restoring the one-shard lookup — and
    * runs AUTOMATICALLY here once the uncompacted delta count passes
    * `maxDeltaBatches` (or tombstones pass their bound): the writer
    * maintains its own index, no caller polling. Retries are idempotent
    * across the fold: a committed batch retried BEFORE a compaction
    * serves its manifest rows; retried AFTER, it serves the report
    * [[compact]] recorded in `folded_batches` (re-appending would double
    * the postings). The same postings rows flow through the same
    * bounded-memory sort path as the base build.
    */
  def appendBatch(spark: SparkSession, indexDir: String, sfDir: String,
      batchId: String, nShards: Int = 0,
      maxDeltaBatches: Int = MaxDeltaBatches): IndexReport =
    WriterLease.withLease(fsFor(spark, indexDir), indexDir, "appendBatch") {
      appendBatchImpl(spark, indexDir, sfDir, batchId, nShards,
        maxDeltaBatches)
    }

  private def appendBatchImpl(spark: SparkSession, indexDir: String,
      sfDir: String, batchId: String, nShards: Int,
      maxDeltaBatches: Int): IndexReport = {
    import spark.implicits._
    val shards =
      if (nShards > 0) nShards else spark.sparkContext.defaultParallelism
    val deltaDir = s"$indexDir/delta/batch=$batchId"
    val manDir = s"$indexDir/delta_manifest"
    val fs = new org.apache.hadoop.fs.Path(indexDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def exists(s: String) = fs.exists(new org.apache.hadoop.fs.Path(s))
    recoverImpl(spark, indexDir)
    // deltas append RELATIVE TO a base: without one, lookupTerm's base
    // read and the auto-compaction would both fail later with opaque
    // missing-path errors — fail loudly at the append instead
    require(exists(s"$indexDir/inverted"),
      s"appendBatch: no base index at $indexDir — run writeInvertedIndex first")
    // The manifest rows are the batch's COMMIT POINT. A crash between the
    // delta write and the manifest append leaves orphan delta files no
    // lookup serves (but a later compact would silently fold in) and, with
    // errorifexists alone, a retry that fails forever. So on entry:
    //  - delta dir present WITH manifest rows → the batch committed; the
    //    retry is an idempotent no-op serving the recorded report.
    //  - delta dir present WITHOUT manifest rows → orphan from a crashed
    //    attempt (complete or partial); delete it and rewrite.
    def committedRows = spark.read.parquet(manDir)
      .filter($"file".contains(s"/batch=$batchId/"))
    def foldedRow = spark.read.parquet(s"$indexDir/folded_batches")
      .filter($"batch_id" === batchId)
    val report = if (exists(deltaDir) && exists(manDir) &&
        committedRows.limit(1).count() > 0) {
      val stats = committedRows
        .agg(sum($"n_terms").as("terms"), max($"n_rows").as("maxRows"),
          count(lit(1)).as("files"), sum($"n_rows").as("posts")).head()
      IndexReport(
        nShards = stats.getAs[Long]("files").toInt,
        nPostings = stats.getAs[Long]("posts"),
        nTerms = stats.getAs[Long]("terms"),
        maxShardRows = stats.getAs[Long]("maxRows"))
    } else if (exists(s"$indexDir/folded_batches") &&
        foldedRow.limit(1).count() > 0) {
      // the batch committed and a later compaction already folded it into
      // the base: re-appending would double its postings, so the retry is
      // a no-op serving the report [[compact]] recorded at fold time
      val r = foldedRow.head()
      IndexReport(
        nShards = r.getAs[Long]("files").toInt,
        nPostings = r.getAs[Long]("posts"),
        nTerms = r.getAs[Long]("terms"),
        maxShardRows = r.getAs[Long]("maxRows"))
    } else {
      if (exists(deltaDir))
        fs.delete(new org.apache.hadoop.fs.Path(deltaDir), true)
      val obs = Observation()
      graft.operators.TextAnalysis.postings(spark, sfDir)
        .repartitionByRange(shards, $"token", $"doc_id")
        .sortWithinPartitions($"token", $"doc_id")
        .observe(obs, count(lit(1)).as("n_postings"))
        .write.mode("errorifexists").parquet(deltaDir)

      val manifest = fileManifest(spark.read.parquet(deltaDir)).cache()
      // the manifest rows ARE the batch's commit point: a single-file
      // append is promoted atomically at job commit, whereas a
      // multi-file append could crash half-promoted and make the retry
      // accept a partial manifest as a full commit (silently hiding the
      // unmanifested shards from every lookup)
      manifest.coalesce(1).write.mode("append").parquet(manDir)
      val stats = manifest
        .agg(sum($"n_terms").as("terms"), max($"n_rows").as("maxRows"),
          count(lit(1)).as("files")).head()
      val r = IndexReport(
        nShards = stats.getAs[Long]("files").toInt,
        nPostings = obs.get("n_postings").asInstanceOf[Long],
        nTerms = stats.getAs[Long]("terms"),
        maxShardRows = stats.getAs[Long]("maxRows"))
      manifest.unpersist()
      r
    }
    // compaction runs HERE when the delta count (lookup fan-in) or the
    // tombstone set is over bound — the writer maintains its own index,
    // no caller polling loop. The append above is already committed
    // (manifest rows are the commit point), so a crash inside the
    // compaction replays as: committed no-op → recoverIndex repairs the
    // interrupted swap → compaction re-evaluates. A retry AFTER a
    // compaction folded this batch hits the folded_batches no-op branch;
    // an UNCOMMITTED batch is never folded (compact deletes orphan
    // delta dirs instead), so no retry path can double-append.
    if (compactionDue(spark, indexDir, maxDeltaBatches = maxDeltaBatches)) {
      log.info(s"$indexDir has more than $maxDeltaBatches uncompacted " +
        "delta batches (or tombstones over bound); compacting")
      compactImpl(spark, indexDir, nShards)
    }
    report
  }

  /** Fold all uncompacted deltas into a freshly re-sharded base. The new
    * base is written to a staging directory and swapped in with checked
    * renames (the [[graft.streaming.EventStreamPipeline]] snapshot-swap
    * discipline); deltas and their manifest are removed only after the
    * promoted base proves readable, so a crash at any point leaves a
    * lookup-consistent index (either old base + deltas, or new base).
    *
    * Reader contract: [[lookupTerm]] results are LAZY DataFrames over the
    * index files — materialize (collect/write) them before compacting, or
    * re-issue the lookup after; a lazy result held across a compaction
    * fails on re-execution because its files were rewritten (file-level
    * snapshot isolation is a table format's job, same caveat as any
    * in-place parquet rewrite).
    */
  /** Crash recovery for an interrupted [[compact]] swap — called on every
    * compact entry; single-writer operational contract (readers during a
    * crashed compaction run this before serving, same assumption as the
    * streaming snapshot swap). The `.staging` / `.old` directories fully
    * determine which window the crash hit:
    *
    *   - staged base complete (`_SUCCESS`) and the live base missing →
    *     ROLL FORWARD: promote staging, swap the staged manifest in,
    *     delete the folded-in deltas (the staged base includes them by
    *     construction — serving them again would double postings).
    *   - live base present and a staged base still present → the swap
    *     never started (or the staged write died): ROLL BACK by deleting
    *     staging remnants; deltas stay, the next compact redoes the work.
    *   - live base present, staged MANIFEST present but staged base gone
    *     → the base was promoted but the manifest swap didn't finish:
    *     finish it (the live manifest still points at retired files) and
    *     delete the deltas.
    *   - manifest missing with a `.old` survivor → restore it.
    *   - live base present, NO staging, but a `.old` survivor → a compact
    *     finished its swap and crashed mid-cleanup: the live base already
    *     contains the folded-in deltas (and excludes tombstoned docs), so
    *     finish the cleanup — delta_manifest, delta, tombstones, and only
    *     THEN the `.old` markers. The `.old` survivor is what keys this
    *     state, which is why every cleanup deletes it LAST.
    *
    * Every terminal state is lookup-consistent: either the old base with
    * its deltas, or the new base with neither.
    */
  def recoverIndex(spark: SparkSession, indexDir: String): Unit =
    WriterLease.withLease(fsFor(spark, indexDir), indexDir, "recover") {
      recoverImpl(spark, indexDir)
    }

  private def recoverImpl(spark: SparkSession, indexDir: String): Unit = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(indexDir).getFileSystem(hconf)
    def path(s: String) = new org.apache.hadoop.fs.Path(s)
    def exists(s: String) = fs.exists(path(s))
    def renameOrThrow(a: String, b: String): Unit =
      if (!fs.rename(path(a), path(b)))
        throw new java.io.IOException(s"index recovery: rename $a -> $b failed")
    val base = s"$indexDir/inverted"
    val man = s"$indexDir/inverted_manifest"
    // captured at entry: a staging dir present NOW means the swap hadn't
    // finished, so any deltas are NOT folded into the live base and must
    // survive a rollback — the cleanup-in-progress branch below is only
    // safe when no staging existed
    val hadStaging = exists(s"$base.staging") || exists(s"$man.staging")
    val stagedBaseOk = exists(s"$base.staging/_SUCCESS")
    var rolledForward = false
    if (!exists(base)) {
      if (stagedBaseOk) { renameOrThrow(s"$base.staging", base); rolledForward = true }
      else if (exists(s"$base.old")) renameOrThrow(s"$base.old", base)
      else if (exists(base + ".staging") || exists(s"$man.staging"))
        throw new java.io.IOException(
          s"index recovery: no complete base survivor under $indexDir")
    } else if (exists(s"$base.staging")) {
      // swap never started (or staged write incomplete): roll back
      fs.delete(path(s"$base.staging"), true)
      fs.delete(path(s"$man.staging"), true)
    }
    if (exists(s"$man.staging") && !exists(s"$base.staging")) {
      // base promoted, manifest swap unfinished — finish it
      if (exists(man)) renameOrThrow(man, s"$man.old")
      renameOrThrow(s"$man.staging", man)
      rolledForward = true
    } else if (!exists(man) && exists(s"$man.old")) {
      renameOrThrow(s"$man.old", man)
    }
    if (rolledForward) {
      // verify the promoted copies serve before discarding survivors
      spark.read.parquet(man).count()
      spark.read.parquet(base).schema
      cleanupAfterSwap(fs, indexDir)
    } else if (!hadStaging &&
        (exists(s"$base.old") || exists(s"$man.old"))) {
      // compaction-cleanup-in-progress: swap complete, cleanup interrupted
      cleanupAfterSwap(fs, indexDir)
    }
  }

  /** Post-swap cleanup, shared by [[compact]] and [[recoverIndex]]. The
    * ORDER is the crash contract: delta_manifest first (after it, lookups
    * serve the new base only — the old order could leave manifest rows
    * naming deleted files, or a manifest-less delta a later compact would
    * silently double-fold), then the delta files, then tombstones (already
    * applied to the new base), and the `.old` markers strictly LAST — they
    * are what recoverIndex keys on to finish an interrupted cleanup.
    */
  private def cleanupAfterSwap(fs: org.apache.hadoop.fs.FileSystem,
      indexDir: String): Unit = {
    def path(s: String) = new org.apache.hadoop.fs.Path(s)
    def deleteOrThrow(s: String): Unit =
      if (!fs.delete(path(s), true) && fs.exists(path(s)))
        throw new java.io.IOException(s"compact cleanup: could not delete $s")
    deleteOrThrow(s"$indexDir/delta_manifest")
    deleteOrThrow(s"$indexDir/delta")
    deleteOrThrow(s"$indexDir/tombstones")
    deleteOrThrow(s"$indexDir/inverted.old")
    deleteOrThrow(s"$indexDir/inverted_manifest.old")
  }

  def compact(spark: SparkSession, indexDir: String, nShards: Int = 0)
      : IndexReport =
    WriterLease.withLease(fsFor(spark, indexDir), indexDir, "compact") {
      compactImpl(spark, indexDir, nShards)
    }

  private def compactImpl(spark: SparkSession, indexDir: String,
      nShards: Int): IndexReport = {
    import spark.implicits._
    val hconf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(indexDir).getFileSystem(hconf)
    def path(s: String) = new org.apache.hadoop.fs.Path(s)
    recoverImpl(spark, indexDir)
    val hasDelta = fs.exists(path(s"$indexDir/delta"))
    val hasTombs = fs.exists(path(s"$indexDir/tombstones"))
    if (!hasDelta && !hasTombs)
      throw new IllegalStateException(s"nothing to compact under $indexDir")
    val shards =
      if (nShards > 0) nShards else spark.sparkContext.defaultParallelism

    // Only MANIFESTED delta files fold — the manifest rows are the
    // batch commit point, so an orphan delta dir (a crashed appendBatch
    // that never reached its manifest append) must not be folded in: it
    // would get no folded_batches record, and the batch's retry would
    // then re-append it, serving every posting twice. Orphan dirs are
    // DELETED instead — the retry finds no dir, no manifest rows, no
    // folded row, and rewrites the batch exactly once. (This also keeps
    // the fold from tripping over an orphan's footer-less part files.)
    val manifested: Seq[String] =
      if (hasDelta && fs.exists(path(s"$indexDir/delta_manifest")))
        spark.read.parquet(s"$indexDir/delta_manifest")
          .select($"file").collect().map(_.getString(0)).toSeq
      else Seq.empty
    if (hasDelta) {
      val committedBatches = manifested
        .flatMap("/batch=([^/]+)/".r.findFirstMatchIn(_).map(_.group(1)))
        .toSet
      fs.listStatus(path(s"$indexDir/delta")).toSeq.map(_.getPath)
        .filter(p => p.getName.startsWith("batch=") &&
          !committedBatches(p.getName.stripPrefix("batch=")))
        .foreach { orphan =>
          log.warn(s"compact: deleting uncommitted orphan delta $orphan")
          fs.delete(orphan, true)
        }
    }

    // Record each delta batch's committed report under `folded_batches`
    // BEFORE the fold: after the swap deletes delta_manifest, a retry of
    // an already-folded batchId must become a no-op serving this recorded
    // report — re-appending would double its postings (see
    // [[appendBatch]]). Written optimistically before the swap: if the
    // swap rolls back, the manifest rows still exist and the committed
    // no-op branch wins before this marker is ever consulted; duplicate
    // marker rows from a re-run compact carry identical stats.
    if (manifested.nonEmpty) {
      spark.read.parquet(s"$indexDir/delta_manifest")
        .withColumn("batch_id",
          regexp_extract($"file", "/batch=([^/]+)/", 1))
        .groupBy($"batch_id")
        .agg(count(lit(1)).as("files"), sum($"n_rows").as("posts"),
          sum($"n_terms").as("terms"), max($"n_rows").as("maxRows"))
        .coalesce(1)
        .write.mode("append").parquet(s"$indexDir/folded_batches")
    }

    val baseAndDelta =
      if (manifested.nonEmpty)
        spark.read.parquet(s"$indexDir/inverted")
          .unionByName(spark.read.parquet(manifested: _*)
            .select($"token", $"doc_id", $"tf_doc"))
      else spark.read.parquet(s"$indexDir/inverted")
    // physical drop of tombstoned postings ([[deleteDocs]]) — the same
    // broadcast anti-join shape as the lookup path, applied once per
    // compaction instead of per read
    val all =
      if (hasTombs)
        baseAndDelta.join(
          broadcast(spark.read.parquet(s"$indexDir/tombstones")
            .select($"doc_id").distinct()),
          Seq("doc_id"), "left_anti")
          .select($"token", $"doc_id", $"tf_doc")
      else baseAndDelta
    val obs = Observation()
    all
      .repartitionByRange(shards, $"token", $"doc_id")
      .sortWithinPartitions($"token", $"doc_id")
      .observe(obs, count(lit(1)).as("n_postings"))
      .write.mode("overwrite").parquet(s"$indexDir/inverted.staging")
    val manifest = fileManifest(
      spark.read.parquet(s"$indexDir/inverted.staging"))
    // manifest rows name staging files; rewrite to the post-swap paths
    val swapped = manifest.withColumn("file",
      regexp_replace($"file", "inverted\\.staging", "inverted"))
    swapped.write.mode("overwrite")
      .parquet(s"$indexDir/inverted_manifest.staging")

    def renameOrThrow(a: String, b: String): Unit =
      if (!fs.rename(path(a), path(b)))
        throw new java.io.IOException(s"compact swap: rename $a -> $b failed")
    if (!fs.delete(path(s"$indexDir/inverted.old"), true) &&
        fs.exists(path(s"$indexDir/inverted.old")))
      throw new java.io.IOException("compact swap: could not clear .old")
    renameOrThrow(s"$indexDir/inverted", s"$indexDir/inverted.old")
    renameOrThrow(s"$indexDir/inverted.staging", s"$indexDir/inverted")
    renameOrThrow(s"$indexDir/inverted_manifest",
      s"$indexDir/inverted_manifest.old")
    renameOrThrow(s"$indexDir/inverted_manifest.staging",
      s"$indexDir/inverted_manifest")
    // verify readability before deleting the only other complete copies
    val check = spark.read.parquet(s"$indexDir/inverted_manifest")
    val stats = check
      .agg(sum($"n_terms").as("terms"), max($"n_rows").as("maxRows"),
        count(lit(1)).as("files")).head()
    cleanupAfterSwap(fs, indexDir)
    IndexReport(
      nShards = stats.getAs[Long]("files").toInt,
      nPostings = obs.get("n_postings").asInstanceOf[Long],
      nTerms = stats.getAs[Long]("terms"),
      maxShardRows = stats.getAs[Long]("maxRows"))
  }

  /** `runMain graft.pipeline.CorpusPipeline <sfDir> <outDir>` — prints a
    * one-line JSON report.
    */
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = graft.GraftSession()
    val r = run(spark, sfDir, outDir)
    val ix = writeInvertedIndex(spark, sfDir, outDir)
    val splitsJson = r.splits.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    println(s"""{"n_input":${r.nInput},"n_curated":${r.nCurated},""" +
      s""""tokens_out":${r.tokensOut},"splits":$splitsJson,""" +
      s""""index_shards":${ix.nShards},"index_postings":${ix.nPostings},""" +
      s""""index_terms":${ix.nTerms},"index_max_shard_rows":${ix.maxShardRows}}""")
    spark.stop()
  }
}
