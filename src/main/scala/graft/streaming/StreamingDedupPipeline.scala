package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Continuous-ingestion near-dup rejection — the online form of
  * [[graft.operators.Dedup]]'s `dd_incremental`: documents arrive as a
  * file stream, and each micro-batch admits only documents that are NOT
  * near-duplicates (word-3-gram Jaccard ≥ τ) of anything already
  * admitted — either in the persisted store of earlier batches or earlier
  * (by doc_id) within the same batch. The admitted set is exactly the
  * SEQUENTIAL GREEDY over arrival order (batch order, doc_id within a
  * batch): a doc is kept iff it has no kept near-dup predecessor —
  * proven against an independently computed greedy in
  * StreamingDedupSpec.
  *
  * The store is a MAINTAINED POSTING INDEX, not a pile of shingle arrays
  * the pipeline re-derives per batch (the shape
  * [[graft.pipeline.CorpusPipeline.appendBatch]] uses for the inverted
  * index). Three delta-appended tables under `storeDir`, one partition
  * per admitting batch:
  *
  *   - `postings/batch=<id>/` — exploded (sh, doc_id) posting rows of the
  *     batch's admitted docs: the candidate join reads these directly,
  *     never re-exploding the accumulated corpus.
  *   - `df/batch=<id>/` — per-shingle admitted-doc counts: the df cap
  *     reads this persisted summary instead of re-aggregating every
  *     stored posting per batch (the old per-batch store-wide shuffle).
  *   - `shingles/batch=<id>/` — (doc_id, shingles) arrays, read only for
  *     the exact verification of candidate a_ids.
  *
  * Per-batch cost is driven by the INCOMING batch, not the store: df and
  * posting reads are filtered to the batch's shingle set (batch-sized,
  * broadcast by AQE), the candidate join is an equi-join on the shingle
  * key whose store side is df-capped, and verification touches only
  * candidate a_ids. No store-wide explode, shuffle, or aggregation
  * happens on any batch. Every [[FoldEvery]]-th batch FOLDS the
  * accumulated deltas below it into its own partition (the LSM
  * discipline): reads always touch ≤ [[FoldEvery]] committed partitions,
  * at the amortized cost of one store rewrite per fold period; dirs below
  * the fold horizon are dead to every future read and replay, and are
  * garbage-collected. Measured in SCALE.md §"Streaming": flat per-batch
  * latency as the store grows.
  *
  * Within-batch greedy is a bounded peeling loop over the batch's
  * near-dup subgraph (pairs, not docs): each round decides every doc
  * whose smaller-id neighbours are all decided, and the minimum
  * undecided doc is always decidable, so rounds ≤ longest dependency
  * chain (near-dup chains are cluster-sized, not corpus-sized). Each
  * round's survivors are `localCheckpoint`ed — the `dd_clusters`
  * iterative-lineage discipline.
  *
  * Replay safety: foreachBatch re-delivers a batch after a crash; every
  * write is a deterministic function of (batch content, store state
  * strictly below this batch id) into this batch's own partition
  * directory with overwrite — a half-written partition from the crashed
  * attempt is excluded from reads (store reads enumerate committed
  * `batch < batchId` dirs explicitly) and then overwritten by the
  * replay. Fold batches only read dirs ≥ their own fold horizon, and
  * only dirs BELOW that horizon are deleted — the one batch a stream can
  * replay (the latest) always finds its inputs intact.
  */
object StreamingDedupPipeline {

  /** Jaccard admission threshold (same τ as the dd_* near-dup family). */
  val Tau = 0.6

  /** df cap for candidate generation (same constant as dd_incremental):
    * shingles admitted into more docs than this carry no dedup signal and
    * would fan the join out ~Σ df²; the exact verifier keeps the cap
    * recall-safe for any pair that also shares one rare shingle. df is
    * counted as DOCS PER SHINGLE across store + batch (postings are
    * per-doc distinct; the within-batch self-join dedupes (sh, doc)
    * before counting so both call modes mean the same thing).
    */
  val MaxShingleDf = 50L

  /** Every FoldEvery-th batch rewrites the store deltas below it into its
    * own partition, bounding read fan-in at FoldEvery dirs. Amortized
    * write cost: one store rewrite per fold period (the standard LSM
    * trade); at 100 TB this constant trades ingest write amplification
    * against lookup fan-in exactly like any LSM level size.
    */
  val FoldEvery = 16L

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** PII scrub as an ingestion stage: redact emails/IPv4 in `text` with
    * the SAME patterns as the batch `ta_pii_scan` entry
    * ([[graft.operators.TextAnalysis.piiRedact]] — one definition, so
    * stream == batch is provable, StreamingDedupSpec). A pure narrow map
    * over the micro-batch: no state, no shuffle, schema preserved —
    * inside a stream it costs exactly what it costs in batch. Applied
    * BEFORE admission so raw PII never reaches the posting store, the
    * kept output, or the shingle relation (admission decisions are made
    * on the scrubbed text — the text the corpus will actually keep).
    */
  def scrubPii(docs: DataFrame): DataFrame =
    docs.withColumn("text",
      graft.operators.TextAnalysis.piiRedact(org.apache.spark.sql.functions.col("text")))

  /** Drain `srcDir` (AvailableNow) through the greedy admission filter:
    * admitted docs land in `keptDir/batch=<id>/`, the posting-index store
    * under `storeDir/{postings,df,shingles}/batch=<id>/`.
    * `maxFilesPerTrigger` bounds batch size so a backlog replays as the
    * same ordered micro-batches. `scrubBeforeAdmit` inserts [[scrubPii]]
    * ahead of admission.
    */
  def ingestDedup(spark: SparkSession, srcDir: String, storeDir: String,
      keptDir: String, checkpointDir: String,
      maxFilesPerTrigger: Int = 1,
      scrubBeforeAdmit: Boolean = false): Unit = {
    val raw = spark.readStream
      .schema(docSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(srcDir)
    val stream = if (scrubBeforeAdmit) scrubPii(raw) else raw
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: java.lang.Long) =>
        processBatch(batch, batchId, storeDir, keptDir)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Verified near-dup pairs between two hashed-shingle frames
    * (columns: id/shingles aliased per side), J ≥ [[Tau]]. df for the cap
    * is counted over DISTINCT (shingle, doc) postings of both sides, so
    * when a and b are the same doc set (the within-batch self-join) a
    * shingle's df means docs-per-shingle — the same constant as
    * dd_incremental — instead of being silently doubled by the union.
    */
  private def nearDupPairs(a: DataFrame, b: DataFrame): DataFrame = {
    val s = a.sparkSession
    import s.implicits._
    val postA = a.select($"a_id", explode($"sa").as("sh"))
    val postB = b.select($"b_id", explode($"sb").as("sh"))
    val frequent = postA.select($"sh", $"a_id".as("id"))
      .unionAll(postB.select($"sh", $"b_id".as("id")))
      .distinct()
      .groupBy($"sh").agg(count(lit(1)).as("df"))
      .filter($"df" > MaxShingleDf).select($"sh")
    val cand = postA.join(broadcast(frequent), Seq("sh"), "left_anti")
      .join(postB.join(broadcast(frequent), Seq("sh"), "left_anti"), "sh")
      .select($"a_id", $"b_id").distinct()
    verifyPairs(cand, a, b)
  }

  /** Exact Jaccard verification of candidate (a_id, b_id) pairs against
    * the sides' shingle arrays.
    */
  private def verifyPairs(cand: DataFrame, a: DataFrame, b: DataFrame)
      : DataFrame = {
    val s = cand.sparkSession
    import s.implicits._
    cand
      .join(a, "a_id").join(b, "b_id")
      .select($"a_id", $"b_id",
        size(array_intersect($"sa", $"sb")).as("ni"),
        size($"sa").as("na"), size($"sb").as("nb"))
      .filter(($"ni".cast(DoubleType) / ($"na" + $"nb" - $"ni")) >= Tau)
      .select($"a_id", $"b_id")
  }

  /** Committed store partitions of `root` readable by `batchId`: dirs
    * `batch=<b>` with foldHorizon ≤ b < batchId. Enumerated explicitly
    * instead of filtering a root read: a crashed attempt can leave
    * footer-less part files in its own batch dir, and partition discovery
    * would trip over them before any batch filter could apply.
    */
  /** All `batch=<id>` partition dirs under `root` as (path, id) — the ONE
    * enumeration both the committed-read path and the GC use, so what is
    * read and what is deleted can never parse the layout differently.
    */
  private def batchDirs(spark: SparkSession, root: String)
      : Seq[(org.apache.hadoop.fs.Path, Long)] = {
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(root))) Seq.empty
    else fs.listStatus(new org.apache.hadoop.fs.Path(root)).toSeq
      .map(_.getPath)
      .filter(_.getName.startsWith("batch="))
      .map(p => p -> p.getName.stripPrefix("batch=").toLong)
  }

  private def committedDirs(spark: SparkSession, root: String,
      batchId: Long): Seq[String] =
    batchDirs(spark, root)
      .filter { case (_, b) => b >= foldHorizon(batchId) && b < batchId }
      .map(_._1.toString)

  /** The latest fold at or below `batchId - 1`: every committed dir below
    * it is folded into it and never read again.
    */
  private def foldHorizon(batchId: Long): Long =
    if (batchId <= 0L) 0L else ((batchId - 1) / FoldEvery) * FoldEvery

  private def readOrEmpty(spark: SparkSession, root: String, batchId: Long,
      empty: => DataFrame): DataFrame = {
    val dirs = committedDirs(spark, root, batchId)
    if (dirs.isEmpty) empty
    else spark.read.option("basePath", root).parquet(dirs: _*)
  }

  private[streaming] def processBatch(batch: DataFrame, batchId: Long,
      storeDir: String, keptDir: String): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._

    // one materialization serves shingling, both joins, and the writes;
    // also pins the batch content against source-side races
    val docs = batch.localCheckpoint()
    val sh = graft.operators.Dedup.hashedShinglesOf(docs).localCheckpoint()
    val admitted = admitDocs(docs, sh, storeDir, batchId)

    docs.join(admitted, Seq("doc_id"), "left_semi")
      .write.mode("overwrite").parquet(s"$keptDir/batch=$batchId")

    val keptSh = sh.join(admitted, Seq("doc_id"), "left_semi")
      .localCheckpoint()
    writeStoreDelta(spark, keptSh, storeDir, batchId)
  }

  /** The batch's ADMITTED doc ids — cross-batch rejection against the
    * posting store's committed dirs strictly below `upTo`, then the
    * within-batch sequential greedy, then the unshingled passthrough.
    * Pure READ of the store: the write half is [[writeStoreDelta]], so
    * a composed pipeline (admission here, landing in a versioned
    * table, store maintained from the table's own CDC feed —
    * [[StreamingDedupVersionedIngest]]) shares admission semantics
    * with the classic kept-dir pipeline by construction.
    */
  private[streaming] def admitDocs(docs: DataFrame, sh: DataFrame,
      storeDir: String, upTo: Long): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val batchId = upTo

    // ---- cross-batch rejection against the maintained posting index:
    // every store read is filtered to the BATCH's shingle set before any
    // aggregation or join, so per-batch work scales with the batch, not
    // the accumulated corpus.
    val batchPost = sh
      .select($"doc_id".as("b_id"), explode($"shingles").as("sh"))
      .localCheckpoint()
    val batchDf = batchPost.groupBy($"sh").agg(count(lit(1)).as("nb"))

    val storePost = readOrEmpty(spark, s"$storeDir/postings", batchId,
        batchPost.filter(lit(false)).select($"sh", $"b_id".as("doc_id")))
      .select($"sh", $"doc_id".as("a_id"))
    val storeDf = readOrEmpty(spark, s"$storeDir/df", batchId,
        batchDf.filter(lit(false)).select($"sh", $"nb".as("n")))
      .select($"sh", $"n")

    // effective df spans store + batch (same cap semantics as before the
    // index: a shingle frequent across the union is dropped from both
    // sides); only shingles PRESENT in the batch can matter, so the
    // store-df read reduces against the batch's shingle list — the fold
    // discipline has already bounded it to ≤ FoldEvery partitions
    val storeDfRel = storeDf.join(batchDf.select($"sh"), "sh")
      .groupBy($"sh").agg(sum($"n").as("ns"))
    val rare = batchDf.join(storeDfRel, Seq("sh"), "left")
      .filter($"nb" + coalesce($"ns", lit(0L)) <= MaxShingleDf)
      .select($"sh")
      .localCheckpoint()

    // candidate pairs: store postings of rare batch shingles × batch
    // postings — an equi-join on the 8-byte shingle key; the store side
    // is df-capped, the batch sides are batch-sized (AQE broadcasts them
    // from measured stats; no forced hint on the store side)
    val cand = storePost.join(rare, "sh")
      .join(batchPost.join(rare, "sh"), "sh")
      .select($"a_id", $"b_id").distinct()

    // exact verification: shingle arrays only for candidate ids
    val candA = cand.select($"a_id".as("doc_id")).distinct()
    val storeArrs = readOrEmpty(spark, s"$storeDir/shingles", batchId,
        sh.filter(lit(false)))
      .select($"doc_id", $"shingles")
      .join(candA, "doc_id")
      .select($"doc_id".as("a_id"), $"shingles".as("sa"))
    val batchSide = sh.select($"doc_id".as("b_id"), $"shingles".as("sb"))
    val storeHits = verifyPairs(cand, storeArrs, batchSide)
      .select($"b_id".as("doc_id")).distinct()
    val afterStore = sh.join(storeHits, Seq("doc_id"), "left_anti")
      .localCheckpoint()

    // ---- within-batch sequential greedy by doc_id: peel rounds until
    // every doc is decided. pairs is the batch's near-dup subgraph
    // (lo < hi), member-sized.
    val pairs = nearDupPairs(
        afterStore.select($"doc_id".as("a_id"), $"shingles".as("sa")),
        afterStore.select($"doc_id".as("b_id"), $"shingles".as("sb")))
      .filter($"a_id" < $"b_id")
      .localCheckpoint()
    var undecided = afterStore.select($"doc_id").localCheckpoint()
    var kept = undecided.filter(lit(false)).localCheckpoint()
    var nUndecided = undecided.count()
    while (nUndecided > 0) {
      // a doc is decidable when all its smaller-id neighbours are decided:
      // KEEP if none of them was kept, DROP otherwise
      val blockedBy = pairs.join(undecided.withColumnRenamed("doc_id", "a_id"), "a_id")
        .select($"b_id".as("doc_id")).distinct()
      val decidable = undecided.join(blockedBy, Seq("doc_id"), "left_anti")
      val droppedNow = decidable.join(
          pairs.join(kept.withColumnRenamed("doc_id", "a_id"), "a_id")
            .select($"b_id".as("doc_id")).distinct(),
          Seq("doc_id"), "left_semi")
      val keptNow = decidable.join(droppedNow, Seq("doc_id"), "left_anti")
      kept = kept.unionAll(keptNow).localCheckpoint()
      undecided = undecided.join(decidable, Seq("doc_id"), "left_anti")
        .localCheckpoint()
      val n = undecided.count()
      // the minimum undecided doc has no undecided smaller neighbour, so
      // every round decides at least one doc — this guards the invariant
      require(n < nUndecided, s"peeling stalled at $n undecided")
      nUndecided = n
    }

    // docs too short to shingle can never be near-dups under the 3-gram
    // relation — always admitted (they carry no store shingles either)
    val unshingled = docs.select($"doc_id")
      .join(sh.select($"doc_id"), Seq("doc_id"), "left_anti")
    kept.unionAll(unshingled)
  }

  /** Write ONE store delta — the admitted docs' shingle rows as dir
    * `batch=<dirId>` under postings/df/shingles, with the LSM fold on
    * [[FoldEvery]]-divisible ids and GC below the fold horizon. A
    * deterministic function of (keptSh, committed dirs < dirId) into
    * dirId's own partitions with overwrite — a crashed attempt's
    * half-written dir is excluded from reads and overwritten by the
    * replay, the pipeline's replay-safety contract.
    */
  private[streaming] def writeStoreDelta(spark: SparkSession,
      keptSh: DataFrame, storeDir: String, dirId: Long): Unit = {
    import spark.implicits._
    val keptPost = keptSh
      .select(explode($"shingles").as("sh"), $"doc_id")
    val isFold = dirId % FoldEvery == 0L && dirId > 0L

    val shinglesOut =
      if (isFold)
        readOrEmpty(spark, s"$storeDir/shingles", dirId,
            keptSh.filter(lit(false)))
          .select($"doc_id", $"shingles").unionAll(keptSh)
      else keptSh
    shinglesOut.write.mode("overwrite")
      .parquet(s"$storeDir/shingles/batch=$dirId")

    val storePost = readOrEmpty(spark, s"$storeDir/postings", dirId,
        keptPost.filter(lit(false)).select($"sh", $"doc_id"))
      .select($"sh", $"doc_id")
    val postOut =
      if (isFold) storePost.unionAll(keptPost.select($"sh", $"doc_id"))
      else keptPost.select($"sh", $"doc_id")
    postOut.write.mode("overwrite")
      .parquet(s"$storeDir/postings/batch=$dirId")

    val batchKeptDf = keptPost.groupBy($"sh").agg(count(lit(1)).as("n"))
    val dfOut =
      if (isFold)
        readOrEmpty(spark, s"$storeDir/df", dirId,
            batchKeptDf.filter(lit(false)))
          .select($"sh", $"n").unionAll(batchKeptDf)
          .groupBy($"sh").agg(sum($"n").as("n"))
      else batchKeptDf
    dfOut.write.mode("overwrite").parquet(s"$storeDir/df/batch=$dirId")

    // dirs below the fold horizon are folded into it: no future batch
    // (including a replay of THIS batch, which reads ≥ its own horizon)
    // can read them — garbage-collect
    val fs = new org.apache.hadoop.fs.Path(storeDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    for (root <- Seq("shingles", "postings", "df"))
      batchDirs(spark, s"$storeDir/$root")
        .filter { case (_, b) => b < foldHorizon(dirId) }
        .foreach { case (p, _) => fs.delete(p, true) }
  }
}
