package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multi-dimensional data LAYOUT for scan pruning — the lakehouse
  * Z-ordering technique (Delta `OPTIMIZE ZORDER BY`, Iceberg sort
  * orders), built from plain Spark primitives: interleave the bits of
  * two scaled sort keys into a Morton z-value, range-partition and sort
  * the write by it, and every written file's min/max footprint becomes
  * a small box in BOTH dimensions at once. A 2-D box predicate then
  * prunes to ~O(√F) of F files via ordinary parquet row-group/file
  * statistics, where a single-column sort layout prunes only its own
  * dimension and reads EVERYTHING for a predicate on the other.
  *
  * At the 100 TB scale this is the difference between a selective
  * (user, time-range) probe touching ~3% of files and touching all of
  * them — layout is the one pruning lever that needs no index
  * structure, just a smarter write. All arithmetic is codegen'd
  * column expressions (shift/mask/or) — no UDF, no shuffle beyond the
  * one range partition the write needs anyway.
  */
object Layout {

  /** Spread the low 16 bits of `c` to the even bit positions of a
    * 32-bit value (Morton spread, the standard mask ladder — each step
    * doubles the gap between occupied bit groups).
    */
  def spread16(c: Column): Column = {
    val x0 = c.bitwiseAND(lit(0xFFFFL))
    val x1 = x0.bitwiseOR(shiftleft(x0, 8)).bitwiseAND(lit(0x00FF00FFL))
    val x2 = x1.bitwiseOR(shiftleft(x1, 4)).bitwiseAND(lit(0x0F0F0F0FL))
    val x3 = x2.bitwiseOR(shiftleft(x2, 2)).bitwiseAND(lit(0x33333333L))
    x3.bitwiseOR(shiftleft(x3, 1)).bitwiseAND(lit(0x55555555L))
  }

  /** 32-bit Morton z-value of two 16-bit keys: `a`'s bits land on even
    * positions, `b`'s on odd. Both inputs must already be scaled to
    * [0, 65535] (see [[scale16]]).
    */
  def zvalue16(a: Column, b: Column): Column =
    spread16(a).bitwiseOR(shiftleft(spread16(b), 1))

  /** Spread the low 21 bits of `c` to every THIRD bit position of a
    * 63-bit value — the 3-D Morton spread (standard mask ladder with
    * stride 3; 21 bits × 3 dimensions fills 63 bits, still a positive
    * Long).
    */
  def spread21(c: Column): Column = {
    val x0 = c.bitwiseAND(lit(0x1FFFFFL))
    val x1 = x0.bitwiseOR(shiftleft(x0, 32)).bitwiseAND(lit(0x1F00000000FFFFL))
    val x2 = x1.bitwiseOR(shiftleft(x1, 16)).bitwiseAND(lit(0x1F0000FF0000FFL))
    val x3 = x2.bitwiseOR(shiftleft(x2, 8)).bitwiseAND(lit(0x100F00F00F00F00FL))
    val x4 = x3.bitwiseOR(shiftleft(x3, 4)).bitwiseAND(lit(0x10C30C30C30C30C3L))
    x4.bitwiseOR(shiftleft(x4, 2)).bitwiseAND(lit(0x1249249249249249L))
  }

  /** 63-bit Morton z-value of three 21-bit keys (scale inputs with
    * [[scale21]]): `a` on bit positions ≡0 (mod 3), `b` ≡1, `c` ≡2. The
    * 3-D form of [[zvalue16]] — a (user, time, quality-bucket) layout
    * prunes selective probes on ANY of the three.
    */
  def zvalue21(a: Column, b: Column, c: Column): Column =
    spread21(a)
      .bitwiseOR(shiftleft(spread21(b), 1))
      .bitwiseOR(shiftleft(spread21(c), 2))

  /** [[scale16]]'s 21-bit sibling for the 3-D key. */
  def scale21(c: Column, min: Long, max: Long): Column =
    scaleTo(c, min, max, 2097151L)

  /** Shared exact scaling core: `(c - min) * factor div (max - min)`.
    * The long multiply overflows once the span exceeds
    * Long.MaxValue/factor — for the 21-bit factor that is an
    * epoch-MICROSECOND span of only ~51 days (~4.5 years for 16-bit), so
    * a 100 TB corpus layout would silently wrap to garbage z-values.
    * min/max are driver-side literals, so the width choice is resolved
    * at PLAN time: narrow spans keep the pure-long codegen'd form, wide
    * spans route the multiply through DECIMAL(38,0) (exact for every
    * long span × factor; IntegralDivide returns LongType either way).
    * A SQL oracle stated in BIGINT only matches the narrow branch —
    * DuckDB's overflow-checked multiply ERRORS where the wide branch is
    * needed, which is the loud failure the oracle should give
    * (exactness of the wide branch is pinned by LayoutScaleSpec against
    * BigInt instead).
    */
  private def scaleTo(c: Column, min: Long, max: Long,
      factor: Long): Column = {
    require(max >= min, s"scaleTo: max ($max) < min ($min)")
    // span in BigInt, not Long: a mixed-sign column (a Long.MinValue
    // sentinel next to epoch-µs values) makes `max - min` itself wrap,
    // which would silently select the narrow branch with a wrapped
    // negative divisor — the exact silent-garbage class this function
    // exists to eliminate
    val span = BigInt(max) - BigInt(min)
    if (span == 0) lit(0L)
    else if (span <= Long.MaxValue / factor)
      call_function("div", (c - lit(min)) * lit(factor), lit(max - min))
    else {
      // every step in DECIMAL: the subtraction must happen AFTER the
      // widening (long `c - min` wraps for the same mixed-sign spans),
      // and the divisor must be built from the BigInt span (a Long
      // literal would wrap before Spark ever saw it)
      val dec = org.apache.spark.sql.types.DecimalType(38, 0)
      call_function("div",
        (c.cast(dec) - lit(new java.math.BigDecimal(min)))
          * lit(factor),
        lit(new java.math.BigDecimal(span.bigInteger)))
    }
  }

  /** Scale a long column to [0, 65535] by linear min/max normalization —
    * integer arithmetic only (`(x - min) * 65535 div (max - min)`), so
    * the engine and a SQL oracle agree bit-for-bit. min/max arrive as
    * literals: computing them is one map-side-combinable agg pass, the
    * write itself stays a single job.
    */
  // integral `div`, not Column./ — the latter is DOUBLE division, and
  // (c - min) * 65535 exceeds 2^53 for wide columns (epoch-µs spans),
  // where double rounding can land one 16-bit bucket away from the
  // oracle's exact integer floor; see scaleTo for the overflow guard
  def scale16(c: Column, min: Long, max: Long): Column =
    scaleTo(c, min, max, 65535L)

  /** Write `df` z-ordered by two long columns into `nFiles` files:
    * one agg pass for the min/max scale bounds, then
    * `repartitionByRange(z)` + sort-within-partitions(z) + write. Range
    * partitioning gives each file a DISJOINT z-interval, which is what
    * turns file min/max stats into tight 2-D boxes.
    */
  def zorderWrite(df: DataFrame, colA: String, colB: String, dir: String,
      nFiles: Int): Unit = {
    val Array(minA, maxA, minB, maxB) =
      df.agg(min(col(colA)), max(col(colA)), min(col(colB)), max(col(colB)))
        .head.toSeq.map(_.asInstanceOf[Long]).toArray
    val z = zvalue16(
      scale16(col(colA), minA, maxA), scale16(col(colB), minB, maxB))
    // the z key is passed as an EXPRESSION to both the range partitioner
    // and the sort, never materialized as a column: RangePartitioning
    // evaluates its ordering expressions to route rows without appending
    // them, so the exchange carries only the data columns. A
    // withColumn("_z")/drop form ships 8 extra bytes per row — measured
    // +34% shuffle on a 3-long-column table (SCALE.md §"Round-14 Z-order
    // layout");
    // recomputing the codegen'd shift/mask ladder twice is free next to
    // that
    df.repartitionByRange(nFiles, z)
      .sortWithinPartitions(z)
      .write.mode("overwrite").parquet(dir)
  }

  /** 3-D form of [[zorderWrite]]: one agg pass for the three scale
    * bounds, then range-partition + sort by the 63-bit z-value.
    */
  def zorderWrite3(df: DataFrame, colA: String, colB: String, colC: String,
      dir: String, nFiles: Int): Unit =
    zorderWrite3(df, colA, colB, colC, dir, nFiles,
      df.agg(min(col(colA)), max(col(colA)), min(col(colB)), max(col(colB)),
          min(col(colC)), max(col(colC)))
        .head.toSeq.map(_.asInstanceOf[Long]).toArray)

  /** [[zorderWrite3]] with caller-supplied scale bounds
    * `[minA, maxA, minB, maxB, minC, maxC]` — for callers that already
    * computed the min/max aggregation for their own purposes (e.g. box
    * probes over the written layout), so the table is scanned once for
    * bounds, not twice.
    */
  def zorderWrite3(df: DataFrame, colA: String, colB: String, colC: String,
      dir: String, nFiles: Int, bounds: Array[Long]): Unit = {
    require(bounds.length == 6, s"need 6 bounds, got ${bounds.length}")
    val z = zvalue21(
      scale21(col(colA), bounds(0), bounds(1)),
      scale21(col(colB), bounds(2), bounds(3)),
      scale21(col(colC), bounds(4), bounds(5)))
    // expression-keyed exchange — see zorderWrite: the 63-bit key routes
    // and sorts rows without ever crossing the wire
    df.repartitionByRange(nFiles, z)
      .sortWithinPartitions(z)
      .write.mode("overwrite").parquet(dir)
  }

  /** Single-dimension comparison layout: range-partition + sort by one
    * column — perfect pruning on that column, none on any other.
    */
  def linearWrite(df: DataFrame, c: String, dir: String,
      nFiles: Int): Unit =
    df.repartitionByRange(nFiles, col(c)).sortWithinPartitions(c)
      .write.mode("overwrite").parquet(dir)

  /** In-place layout COMPACTION — the maintenance operator that turns a
    * streaming-ingested pile of small, unclustered files into a z-ordered
    * snapshot readers can prune: read the current target, rewrite it
    * z-ordered by (colA, colB) into `nFiles` files under `.staging`, and
    * promote via the shared staged two-rename swap ([[SnapshotDir]] — the
    * same crash-recovery contract as the streaming sinks: a crash at any
    * point leaves a complete snapshot recoverable, and re-running the
    * compaction converges). At ingest scale this runs periodically behind
    * the [[WriterLease]] single-writer guard — the guarded composition
    * ([[appendGuarded]]/[[compactZorderGuarded]]/[[servingRead]]) is
    * proven live in LayoutLiveWriterSpec: concurrent appends, folds and
    * polling reads, crash injection included.
    */
  def compactZorder(spark: SparkSession, dir: String, colA: String,
      colB: String, nFiles: Int): Unit = {
    val snap = new SnapshotDir(spark, dir)
    snap.recover()
    require(snap.targetExists, s"compactZorder: nothing to compact at $dir")
    // the read-before-swap ordering contract below needs the write target
    // DISJOINT from the scan source — enforced structurally by
    // SnapshotDir's constructor invariant (target/staging/retired are
    // pairwise distinct), where a future path-derivation change would
    // actually trip it
    // materialize the plan BEFORE the swap renames the source out from
    // under the scan: the z-write reads from `dir` and writes to
    // `.staging`, so the one pass is the whole data movement. The read
    // is the COMPLETE-contents listing (flat part files + _SUCCESS-gated
    // batch subdirectories): a torn mid-commit batch dir must never be
    // folded — its partial rows would become permanent when the
    // checkpoint replays the full batch. NOTE for streaming tables: this
    // folds every COMPLETE batch dir, including ones the stream's
    // checkpoint has not committed yet — safe only while the ingest is
    // quiesced; a compaction racing a live/restartable stream must go
    // through StreamingZorderIngest.compactCommitted, which additionally
    // gates on the checkpoint's commit frontier.
    zorderWrite(readComplete(spark, dir), colA, colB, snap.stagingPath,
      nFiles)
    // footprint manifest from the staged files' FOOTERS (no data
    // scan), written INTO staging so it promotes atomically with the
    // snapshot it describes — servingReadBox prunes paths against it
    writeFootprintManifest(spark, snap.stagingPath, colA, colB)
    snap.swapIn()
  }

  // ——— Guarded table composition: streaming-style ingest appends +
  // periodic compaction + serving reads over ONE directory layout.
  // `root/_writer.lock` is the single-writer guard for EVERY mutation;
  // the served snapshot lives at `root/data` so the lease file never
  // rides through the compactor's directory swap (a lease INSIDE the
  // swapped dir would be renamed out from under its own heartbeat
  // mid-hold, breaking the liveness contract).

  /** The served snapshot directory of a guarded table root. */
  def tableDataDir(root: String): String = s"$root/data"

  private def fsFor(spark: SparkSession, dir: String)
      : org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Ingest append under the table's writer lease. The `recover()`
    * BEFORE the write is load-bearing, not ceremony: after a compaction
    * crashed between its two renames, the target is ABSENT and the only
    * complete snapshot sits in `.staging` — a blind append would
    * re-CREATE the target with just the appended rows, and
    * [[SnapshotDir.recover]] (which only promotes into a missing
    * target) would then never run: the entire compacted snapshot would
    * be silently stranded. Proven by fault injection in
    * LayoutLiveWriterSpec.
    *
    * The append is BATCH-ATOMIC for readers: it lands as one
    * `a<nonce>` subdirectory whose `_SUCCESS` marker appears only
    * after every part file is committed, and [[completeDataPaths]]
    * admits subdirectories only with the marker. A plain
    * `mode("append")` into the data dir would expose the batch's part
    * files ONE BY ONE as the job commit moves them — a concurrent
    * serving read could aggregate half an append (the torn-append
    * anomaly; observed as a non-multiple row count before this fix,
    * now asserted away in LayoutLiveWriterSpec's reader). A dir left
    * WITHOUT its marker is a crashed append whose caller never got an
    * ack — compaction deletes it ([[graft.streaming
    * .StreamingZorderIngest.compactCommitted]] does too: appends hold
    * this same lease, so a torn `a` dir can never be in-progress while
    * a compactor runs).
    */
  def appendGuarded(df: DataFrame, root: String): Unit = {
    val spark = df.sparkSession
    val dataDir = tableDataDir(root)
    WriterLease.withLease(fsFor(spark, root), root, "zorderAppend") {
      new SnapshotDir(spark, dataDir).recover()
      val nonce = java.util.UUID.randomUUID().toString.replace("-", "")
      val dir = s"$dataDir/a$nonce"
      df.write.mode("overwrite").parquet(dir)
      ensureSuccessMarker(spark, dir)
    }
  }

  /** The `_SUCCESS` marker is the batch-visibility gate
    * ([[completeDataPaths]]) AND what stops compaction from dropping
    * the dir as a dead append — but committers can be configured not
    * to write it (`mapreduce.fileoutputcommitter.marksuccessfuljobs=
    * false`, some object-store committers). The write job above has
    * already succeeded when this runs, so writing the marker ourselves
    * is exactly the committer's own semantics; without this, an ACKED
    * append under a marker-less committer would be invisible to every
    * reader and deleted by the next compaction.
    */
  private[graft] def ensureSuccessMarker(spark: SparkSession,
      dir: String): Unit = {
    val fs = fsFor(spark, dir)
    val marker = new org.apache.hadoop.fs.Path(dir, "_SUCCESS")
    if (!fs.exists(marker)) fs.create(marker, true).close()
  }

  /** [[compactZorder]] behind the same lease the ingest appends hold —
    * the periodic maintenance job of the ingest-and-serve loop. The
    * lease is what makes the compactor's read-list complete: no append
    * can land between its scan of the data dir and the swap, so the
    * rewrite is lossless by serialization, not by luck.
    */
  def compactZorderGuarded(spark: SparkSession, root: String, colA: String,
      colB: String, nFiles: Int): Unit =
    WriterLease.withLease(fsFor(spark, root), root, "compactZorder") {
      compactZorder(spark, tableDataDir(root), colA, colB, nFiles)
    }

  /** 3-D form of [[compactZorder]]: the (user, time, quality)-style
    * layout under the same staged-swap contract, with a THREE-column
    * footprint manifest — one manifest serves 1-D, 2-D and 3-D box
    * probes through [[servingReadBoxes]].
    */
  def compactZorder3(spark: SparkSession, dir: String, colA: String,
      colB: String, colC: String, nFiles: Int): Unit = {
    val snap = new SnapshotDir(spark, dir)
    snap.recover()
    require(snap.targetExists, s"compactZorder3: nothing to compact at $dir")
    zorderWrite3(readComplete(spark, dir), colA, colB, colC,
      snap.stagingPath, nFiles)
    writeFootprintManifest(spark, snap.stagingPath, Seq(colA, colB, colC))
    snap.swapIn()
    ()
  }

  /** [[compactZorder3]] behind the writer lease. */
  def compactZorder3Guarded(spark: SparkSession, root: String,
      colA: String, colB: String, colC: String, nFiles: Int): Unit =
    WriterLease.withLease(fsFor(spark, root), root, "compactZorder3") {
      compactZorder3(spark, tableDataDir(root), colA, colB, colC, nFiles)
    }

  /** Serving read of a guarded table: runs `use` on the snapshot,
    * retrying when the read trips over the swap's transient windows —
    * the sub-millisecond gap between the two promote renames (the
    * documented non-atomicity of [[SnapshotDir.swapIn]] on a plain
    * filesystem), or a file listed before the swap vanishing mid-scan.
    * A CRASHED compactor's absent-target window lasts until the next
    * guarded writer's `recover()`, so availability during a crash is
    * bounded by writer cadence — the retry budget exists for exactly
    * that wait, and exhausting it rethrows rather than inventing an
    * empty result.
    *
    * The retry protects only work FORCED inside `use`: a `use` that
    * returns a lazy plan gets planning-time protection (the listing),
    * but its later execution runs outside this guard — callers racing
    * a live writer must collect within `use` (as LayoutLiveWriterSpec's
    * reader does); returning a plan is sound only when no writer can
    * run between this call and the action (pipe_guarded_ingest's
    * single-threaded shape).
    */
  def servingRead[A](spark: SparkSession, root: String, retries: Int = 60,
      backoffMs: Long = 25)(use: DataFrame => A): A = {
    val dataDir = tableDataDir(root)
    var attempt = 0
    while (true) {
      try return use(readComplete(spark, dataDir))
      catch {
        case e: Throwable if attempt < retries && isTransientMissing(e) =>
          attempt += 1
          Thread.sleep(backoffMs)
      }
    }
    sys.error("unreachable")
  }

  /** The COMPLETE contents of a guarded table's data dir: top-level part
    * files (compacted flat layout) plus batch subdirectories that carry
    * their `_SUCCESS` marker — the streaming ingest's `b<id>` dirs
    * (graft.streaming.StreamingZorderIngest) and [[appendGuarded]]'s
    * `a<nonce>` dirs alike. A dir WITHOUT the marker is a batch whose
    * job commit was interrupted mid-crash: some part files landed, the
    * rest did not — serving it would hand readers a TORN batch, and
    * folding a torn `b` dir would make the torn subset permanent when
    * the checkpoint later replays the full batch next to it (a torn
    * `a` dir is simply a dead unacked append). The `_SUCCESS` gate is
    * also what makes every append BATCH-ATOMIC for readers: a batch's
    * part files land one by one, but the dir is admitted only once the
    * marker — written after the last file — exists. The explicit path
    * list replaces a blind `recursiveFileLookup`, which cannot tell
    * complete from torn. One FS listing, O(#batches) entries.
    */
  private[graft] def completeDataPaths(spark: SparkSession,
      dataDir: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(dataDir)
    val fs = fsFor(spark, dataDir)
    // a missing dir throws FileNotFoundException — the same transient
    // signal a racing swap produces, handled by servingRead's retry
    fs.listStatus(p).toSeq.flatMap { st =>
      val name = st.getPath.getName
      if (name.startsWith("_") || name.startsWith(".")) None
      else if (st.isFile) Some(st.getPath.toString)
      else if (fs.exists(new org.apache.hadoop.fs.Path(st.getPath, "_SUCCESS")))
        Some(st.getPath.toString)
      else None // torn batch dir: mid-commit crash; replay will rewrite it
    }
  }

  /** Read the complete contents (see [[completeDataPaths]]). */
  private[graft] def readComplete(spark: SparkSession,
      dataDir: String): DataFrame = {
    val paths = completeDataPaths(spark, dataDir)
    if (paths.isEmpty)
      throw new java.io.FileNotFoundException(
        s"no complete data at $dataDir")
    spark.read.parquet(paths: _*)
  }

  /** A read failure is transient iff it is a missing-path/missing-file
    * condition (planning-time PATH_NOT_FOUND, or a scan racing the swap
    * hitting a renamed-away part file) — anywhere in the cause chain,
    * since Spark wraps task failures in SparkException layers.
    */
  private def isTransientMissing(e: Throwable): Boolean = {
    var t = e
    while (t != null) {
      t match {
        case _: java.io.FileNotFoundException => return true
        case a: org.apache.spark.sql.AnalysisException
            if a.getErrorClass != null &&
              (a.getErrorClass.startsWith("PATH_NOT_FOUND") ||
                // listed paths renamed away between completeDataPaths'
                // listing and the read's schema inference — the same
                // swap race, one step later; a genuinely empty table
                // never reaches inference (readComplete throws FNF on
                // an empty list first)
                a.getErrorClass.startsWith("UNABLE_TO_INFER_SCHEMA")) =>
          return true
        case _ => ()
      }
      t = if (t.getCause eq t) null else t.getCause
    }
    false
  }

  // ——— Footprint manifest: PLANNING-TIME file pruning. OSS Spark
  // prunes parquet ROW GROUPS inside the reader, but only after
  // listing every file and opening every footer — at 100 TB / millions
  // of files the listing + footer reads dominate a selective probe
  // (LayoutScanPruningSpec observes numFiles staying at the full count
  // while rows shrink). The manifest persists each compacted file's
  // [min,max] box for the two layout columns, computed from the
  // parquet FOOTERS the write already produced (no data scan), and a
  // box probe prunes PATHS against it before the scan plan exists —
  // the same move Delta/Iceberg make with their stats manifests.

  /** Manifest file name, inside the snapshot dir. Underscore-prefixed:
    * invisible to Spark's parquet listing and to
    * [[completeDataPaths]], and written into `.staging` BEFORE the
    * swap so manifest and snapshot promote atomically together.
    */
  private[graft] val ManifestFile = "_footprints.tsv"

  /** Read each file's per-column [min, max] from its parquet FOOTER —
    * the statistics the write already persisted; no data pages are
    * touched. Distributed over files (a footer read is one small
    * ranged request each; at millions of files the driver must not
    * serialize this). Returns no row for a file with no usable stats
    * for every column (empty file, missing column) — callers must
    * treat such files as always-scan.
    */
  private[pipeline] def footerFootprints(spark: SparkSession,
      files: Seq[String],
      cols: Seq[String]): Seq[(String, Seq[(Long, Long)])] =
    footerStats(spark, files, cols)
      .collect { case (n, _, Some(boxes)) => (n, boxes) }

  /** [[footerFootprints]] plus each file's EXACT row count (the footer
    * records it per row group) — what lets a manifest serve `count(*)`
    * without touching data. One row per INPUT file: boxes are None
    * when any stat column lacks usable long statistics (empty file,
    * non-Long type, absent column) — callers decide whether that is
    * an error (a non-empty data file they must not lose) or expected
    * (a zero-row rewrite output to discard).
    */
  private[pipeline] def footerStats(spark: SparkSession,
      files: Seq[String],
      cols: Seq[String]): Seq[(String, Long, Option[Seq[(Long, Long)]])] = {
    if (files.isEmpty) return Seq.empty
    if (files.size <= BloomDriverLoopLimit) {
      // small file sets (the common per-commit case: one write lands a
      // handful of files) read on the DRIVER, same latency argument and
      // same threshold as [[bloomMayContain]] — per-job scheduling
      // overhead dominates a couple of footer reads (profiled r20:
      // pipe_vt_cdc_mirror launches one such job per commit)
      import scala.jdk.CollectionConverters._
      val conf = spark.sparkContext.hadoopConfiguration
      return files.asJava.parallelStream()
        .map[(String, Long, Option[Seq[(Long, Long)]])](f =>
          longStatsOf(f, footerBlocks(f, conf), cols))
        .collect(java.util.stream.Collectors
          .toList[(String, Long, Option[Seq[(Long, Long)]])])
        .asScala.toSeq
    }
    val confBytes = {
      // Hadoop Configuration is not serializable as-is; ship the XML
      val baos = new java.io.ByteArrayOutputStream()
      spark.sparkContext.hadoopConfiguration.writeXml(baos)
      baos.toByteArray
    }
    spark.sparkContext
      .parallelize(files, math.max(1, math.min(files.size, 64)))
      .map { f =>
        val conf = new org.apache.hadoop.conf.Configuration(false)
        conf.addResource(new java.io.ByteArrayInputStream(confBytes))
        longStatsOf(f, footerBlocks(f, conf), cols)
      }
      .collect().toSeq
  }

  /** Below this many candidate files, [[bloomMayContain]] reads the
    * footers in a DRIVER loop instead of launching a Spark job: a
    * point lookup is latency-shaped, and after the manifest box stage
    * typically leaves a handful of survivors, per-job scheduling
    * overhead (task serialization, scheduling, result fetch) dominates
    * the footer reads themselves. Above it, the check distributes over
    * executors exactly as before — thousands of candidates is a
    * bandwidth problem, not a latency one.
    */
  private[pipeline] val BloomDriverLoopLimit: Int = 32

  /** Per-file BLOOM membership check for a point value — reads each
    * candidate's footer + bloom pages only, never data. A file is kept
    * (true) when the bloom says the value MAY be present, or when no
    * bloom exists for the column (no proof → must scan). Small
    * candidate sets are checked on the driver ([[BloomDriverLoopLimit]]
    * — serving-path latency); large ones distribute over files like
    * [[footerStats]].
    */
  private[pipeline] def bloomMayContain(spark: SparkSession,
      files: Seq[String], c: String, value: Any,
      driverLoopLimit: Int = BloomDriverLoopLimit)
      : Seq[(String, Boolean)] = {
    if (files.isEmpty) return Seq.empty
    if (files.size <= driverLoopLimit) {
      // driver-LOCAL parallelism (ForkJoin common pool): the footers
      // still read concurrently, but no task serialization, no
      // scheduler round-trip, no result fetch — the job machinery is
      // the latency, not the footer I/O
      import scala.jdk.CollectionConverters._
      val conf = spark.sparkContext.hadoopConfiguration
      return files.asJava.parallelStream()
        .map[(String, Boolean)](f => bloomCheckOne(f, conf, c, value))
        .collect(java.util.stream.Collectors.toList[(String, Boolean)])
        .asScala.toSeq
    }
    val confBytes = {
      val baos = new java.io.ByteArrayOutputStream()
      spark.sparkContext.hadoopConfiguration.writeXml(baos)
      baos.toByteArray
    }
    spark.sparkContext
      .parallelize(files, math.max(1, math.min(files.size, 64)))
      .map { f =>
        val conf = new org.apache.hadoop.conf.Configuration(false)
        conf.addResource(new java.io.ByteArrayInputStream(confBytes))
        bloomCheckOne(f, conf, c, value)
      }
      .collect().toSeq
  }

  /** One file's bloom verdict — the shared body of the driver-loop and
    * distributed paths of [[bloomMayContain]].
    */
  /** `value`: a Long (long stat columns) or an Array[Byte] of UTF-8
    * bytes (string typed columns — hashed as parquet Binary, the same
    * hash the writer used for the column's bloom).
    */
  private def bloomCheckOne(f: String,
      conf: org.apache.hadoop.conf.Configuration,
      c: String, value: Any): (String, Boolean) = {
    import scala.jdk.CollectionConverters._
    val may = withFooterReader(f, conf) { reader =>
      reader.getFooter.getBlocks.asScala.exists { block =>
        block.getColumns.asScala
          .find(_.getPath.toDotString == c) match {
          case None => true // column absent: no proof
          case Some(cmd) =>
            val bloom =
              reader.getBloomFilterDataReader(block).readBloomFilter(cmd)
            bloom == null || {
              val h = value match {
                case l: Long => bloom.hash(l)
                case b: Array[Byte] => bloom.hash(
                  org.apache.parquet.io.api.Binary.fromConstantByteArray(b))
                case other => sys.error(
                  s"unhashable bloom probe type: ${other.getClass}")
              }
              bloom.findHash(h)
            }
        }
      }
    }
    (new org.apache.hadoop.fs.Path(f).getName, may)
  }

  // ——— TYPED footer bounds: the string/date/timestamp/decimal stats
  // the versioned manifest records beyond its Long boxes. Kind chars:
  // 's' = string (UTF-8 byte bounds, hex-encoded; min prefix-truncated
  // to [[StringBoundBytes]] — a prefix is ≤ the original, a sound
  // lower bound; max truncate-INCREMENTED à la Iceberg — bump the last
  // non-0xFF byte, a sound upper bound; an untruncatable max is an
  // open side), 'l' = long-backed (int32/int64 physical: dates as
  // epoch days, timestamps as micros, ints), 'd' = decimal unscaled
  // (int32/int64 physical, precision ≤ 18). Either side of a bound is
  // None when the footer cannot prove it — callers treat None as
  // "cannot prune on this side".

  private[pipeline] val StringBoundBytes = 32

  private[pipeline] def hexEnc(b: Array[Byte]): String =
    b.map(x => f"${x & 0xff}%02x").mkString

  private[pipeline] def hexDec(s: String): Array[Byte] =
    s.grouped(2).map(h => Integer.parseInt(h, 16).toByte).toArray

  private[pipeline] def bytesCompare(a: Array[Byte], b: Array[Byte]): Int =
    java.util.Arrays.compareUnsigned(a, b)

  private[pipeline] def truncMin(b: Array[Byte]): Array[Byte] =
    b.take(StringBoundBytes)

  private[pipeline] def truncMax(b: Array[Byte]): Option[Array[Byte]] =
    if (b.length <= StringBoundBytes) Some(b)
    else {
      val t = b.take(StringBoundBytes)
      var i = t.length - 1
      while (i >= 0 && t(i) == -1) i -= 1
      if (i < 0) None // all 0xFF: no finite upper bound at this width
      else Some(t.take(i + 1).updated(i, (t(i) + 1).toByte))
    }

  /** [[footerStats]] PLUS encoded typed bounds per `typedCols` entry
    * PLUS per-column NULL counts over `cols ++ typedCols` — all
    * footer-only, distributed over executors, no data pages read.
    * Typed bounds are best-effort (None
    * disables pruning on that side); long-column stats keep the strict
    * all-or-nothing contract [[footerStats]] documents; null counts
    * are -1 when any row group omits them (absence never prunes), and
    * a column entirely ABSENT from the file (written before add-only
    * evolution introduced it) counts the file's EVERY row as null —
    * which is what the reader serves for it.
    */
  private[pipeline] def footerStatsTyped(spark: SparkSession,
      files: Seq[String], cols: Seq[String],
      typedCols: Seq[(String, Char)])
      : Seq[(String, Long, Option[Seq[(Long, Long)]],
        Seq[(Option[String], Option[String])], Seq[Long])] = {
    if (files.isEmpty) return Seq.empty
    if (files.size <= BloomDriverLoopLimit) {
      // driver-loop tier, same rationale and threshold as
      // [[bloomMayContain]] / [[footerStats]]: every commit calls this
      // for the handful of files it just wrote, and the Spark-job
      // machinery costs more than the footer reads themselves
      import scala.jdk.CollectionConverters._
      val conf = spark.sparkContext.hadoopConfiguration
      return files.asJava.parallelStream()
        .map[(String, Long, Option[Seq[(Long, Long)]],
          Seq[(Option[String], Option[String])], Seq[Long])](f =>
          typedStatsOne(f, conf, cols, typedCols))
        .collect(java.util.stream.Collectors
          .toList[(String, Long, Option[Seq[(Long, Long)]],
            Seq[(Option[String], Option[String])], Seq[Long])])
        .asScala.toSeq
    }
    val confBytes = {
      val baos = new java.io.ByteArrayOutputStream()
      spark.sparkContext.hadoopConfiguration.writeXml(baos)
      baos.toByteArray
    }
    spark.sparkContext
      .parallelize(files, math.max(1, math.min(files.size, 64)))
      .map { f =>
        val conf = new org.apache.hadoop.conf.Configuration(false)
        conf.addResource(new java.io.ByteArrayInputStream(confBytes))
        typedStatsOne(f, conf, cols, typedCols)
      }
      .collect().toSeq
  }

  /** One file's long boxes + typed bounds + null counts — the shared
    * body of [[footerStatsTyped]]'s driver-loop and distributed tiers.
    * An OBJECT method on purpose: the distributed tier's task closure
    * calls it through the static MODULE$ reference (a local `def` would
    * capture the non-serializable enclosing instance).
    */
  private def typedStatsOne(f: String,
      conf: org.apache.hadoop.conf.Configuration, cols: Seq[String],
      typedCols: Seq[(String, Char)])
      : (String, Long, Option[Seq[(Long, Long)]],
        Seq[(Option[String], Option[String])], Seq[Long]) = {
    val blocks = footerBlocks(f, conf)
    val (n, rows, boxes) = longStatsOf(f, blocks, cols)
    (n, rows, boxes, typedStatsOf(blocks, typedCols),
      nullStatsOf(blocks, cols ++ typedCols.map(_._1), rows))
  }

  /** Open `file` for footer and bloom reads under `conf` (the session's
    * Hadoop conf, or a task's copy of it) and close it after `body`.
    * The options come from `conf`: `ParquetFileReader.open(in)` alone
    * builds a fresh Hadoop `Configuration`, which parses
    * `core-default.xml` again on every open.
    */
  private def withFooterReader[T](file: String,
      conf: org.apache.hadoop.conf.Configuration)(
      body: org.apache.parquet.hadoop.ParquetFileReader => T): T = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile
      .fromPath(new org.apache.hadoop.fs.Path(file), conf)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in,
      org.apache.parquet.HadoopReadOptions.builder(conf).build())
    try body(reader) finally reader.close()
  }

  /** One file's row-group metadata: its footer, read once. */
  private def footerBlocks(file: String,
      conf: org.apache.hadoop.conf.Configuration)
      : Seq[org.apache.parquet.hadoop.metadata.BlockMetaData] = {
    import scala.jdk.CollectionConverters._
    withFooterReader(file, conf)(_.getFooter.getBlocks.asScala.toSeq)
  }

  /** One file's per-column null counts from its footer (see
    * [[footerStatsTyped]] for the -1 / absent-column contract).
    */
  private def nullStatsOf(
      blocks: Seq[org.apache.parquet.hadoop.metadata.BlockMetaData],
      cols: Seq[String], fileRows: Long): Seq[Long] = {
    import scala.jdk.CollectionConverters._
    cols.map { c =>
      val chunks = blocks.flatMap(_.getColumns.asScala)
        .filter(_.getPath.toDotString == c)
      if (chunks.isEmpty) fileRows // absent column: null-filled
      else {
        val ns = chunks.map(_.getStatistics).map(s =>
          if (s == null || !s.isNumNullsSet) -1L else s.getNumNulls)
        if (ns.exists(_ < 0)) -1L else ns.sum
      }
    }
  }

  /** One file's encoded typed bounds from its footer. */
  private def typedStatsOf(
      blocks: Seq[org.apache.parquet.hadoop.metadata.BlockMetaData],
      typedCols: Seq[(String, Char)])
      : Seq[(Option[String], Option[String])] = {
    import scala.jdk.CollectionConverters._
    typedCols.map { case (c, kind) =>
      val stats = blocks.flatMap(_.getColumns.asScala)
        .filter(_.getPath.toDotString == c)
        .map(_.getStatistics)
      if (stats.isEmpty || stats.exists(s =>
          s == null || s.isEmpty || !s.hasNonNullValue)) (None, None)
      else kind match {
        case 's' =>
          val bs = stats.collect {
            case b: org.apache.parquet.column.statistics.BinaryStatistics =>
              (b.genericGetMin.getBytes, b.genericGetMax.getBytes)
          }
          if (bs.size != stats.size) (None, None)
          else {
            val mn = bs.map(_._1).reduce((a, b) =>
              if (bytesCompare(a, b) <= 0) a else b)
            val mx = bs.map(_._2).reduce((a, b) =>
              if (bytesCompare(a, b) >= 0) a else b)
            (Some(hexEnc(truncMin(mn))), truncMax(mx).map(hexEnc))
          }
        case _ => // 'l' and 'd': int32/int64 physical
          val ls = stats.collect {
            case l: org.apache.parquet.column.statistics.LongStatistics =>
              (l.getMin, l.getMax)
            case i: org.apache.parquet.column.statistics.IntStatistics =>
              (i.getMin.toLong, i.getMax.toLong)
          }
          // TIMESTAMP unit normalization: probe literals are MICROS
          // (Spark's internal timestamp), but the footer stats are in
          // whatever unit the file was written with — under
          // outputTimestampType=TIMESTAMP_MILLIS the LongStatistics
          // are millis, and comparing them against micro literals
          // would wrongly prune files that hold matching rows (row
          // loss through deleteWhere's candidate test). Read the
          // column's logical-type unit and normalize: MILLIS scale
          // exactly by 1000 (stored values are whole millis, so the
          // converted bounds stay exact); NANOS or a mixed/unknown
          // unit yields no proof. Non-timestamp 'l'/'d' columns
          // (dates, ints, decimals) carry no timestamp annotation
          // and pass through unscaled.
          val chunks = blocks.flatMap(_.getColumns.asScala)
            .filter(_.getPath.toDotString == c)
          val factor: Option[Long] = {
            import org.apache.parquet.schema.LogicalTypeAnnotation
            val units = chunks.map(
              _.getPrimitiveType.getLogicalTypeAnnotation match {
                case t: LogicalTypeAnnotation
                    .TimestampLogicalTypeAnnotation => Some(t.getUnit)
                case _ => None
              })
            if (units.forall(_.isEmpty)) Some(1L) // not a timestamp
            else if (units.exists(_.isEmpty)) None // mixed: no proof
            else units.head.get match {
              case LogicalTypeAnnotation.TimeUnit.MICROS => Some(1L)
              case LogicalTypeAnnotation.TimeUnit.MILLIS => Some(1000L)
              case _ => None // NANOS etc.: not expressible exactly
            }
          }
          (factor, ls.size == stats.size) match {
            case (Some(f), true) =>
              try (Some(math.multiplyExact(ls.map(_._1).min, f).toString),
                Some(math.multiplyExact(ls.map(_._2).max, f).toString))
              catch { case _: ArithmeticException => (None, None) }
            case _ => (None, None)
          }
      }
    }
  }

  /** The box of a long column that is NULL in every row of a file:
    * min > max, so no bounded range intersects it, and a union with it
    * leaves the other box unchanged.
    */
  private[pipeline] val AllNullBox: (Long, Long) = (Long.MaxValue, Long.MinValue)

  /** One file's (name, row count, [(min, max)] per column) from its
    * footer. Row groups where the column is all NULL add nothing to its
    * box; a column NULL in every row gets [[AllNullBox]]. Boxes are None
    * when ANY of the columns is absent, not a long, or lacks statistics
    * in some row group.
    */
  private def longStatsOf(file: String,
      blocks: Seq[org.apache.parquet.hadoop.metadata.BlockMetaData],
      cols: Seq[String]): (String, Long, Option[Seq[(Long, Long)]]) = {
    import scala.jdk.CollectionConverters._
    def minMax(c: String): Option[(Long, Long)] = {
      val stats = blocks.flatMap(_.getColumns.asScala)
        .filter(_.getPath.toDotString == c)
        .map(_.getStatistics)
      if (stats.isEmpty || stats.exists(s => s == null || s.isEmpty)) None
      else {
        val longs = stats.collect {
          case l: org.apache.parquet.column.statistics.LongStatistics => l
        }
        if (longs.size != stats.size) None
        else Some(longs.filter(_.hasNonNullValue).foldLeft(AllNullBox) {
          case ((lo, hi), l) => (lo min l.getMin, hi max l.getMax)
        })
      }
    }
    val boxes = cols.map(minMax)
    (new org.apache.hadoop.fs.Path(file).getName,
      blocks.map(_.getRowCount).sum,
      if (boxes.exists(_.isEmpty)) None else Some(boxes.map(_.get)))
  }

  /** Write the footprint manifest for every top-level parquet file in
    * `dir` (footer-only pass), for any number of long columns. Entries
    * are keyed by file NAME, not path — the snapshot dir is renamed
    * twice during the swap.
    */
  private[graft] def writeFootprintManifest(spark: SparkSession,
      dir: String, cols: Seq[String]): Unit = {
    require(cols.nonEmpty, "manifest needs at least one column")
    val fs = fsFor(spark, dir)
    val files = fs.listStatus(new org.apache.hadoop.fs.Path(dir)).toSeq
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith("."))
      .map(_.getPath.toString)
    val rows = footerFootprints(spark, files, cols)
    val out = fs.create(
      new org.apache.hadoop.fs.Path(dir, ManifestFile), true)
    try {
      val header = s"# footprints v1\t${cols.mkString("\t")}\n"
      out.write(header.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      rows.sortBy(_._1).foreach { case (n, boxes) =>
        val cells = boxes.flatMap { case (mn, mx) => Seq(mn, mx) }
        out.write(s"$n\t${cells.mkString("\t")}\n"
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
    } finally out.close()
  }

  /** 2-column convenience form (the guarded 2-D table's compactions). */
  private[graft] def writeFootprintManifest(spark: SparkSession,
      dir: String, colA: String, colB: String): Unit =
    writeFootprintManifest(spark, dir, Seq(colA, colB))

  /** The manifest's column list and per-file boxes, or None when no
    * manifest exists (a table that has never compacted prunes nothing —
    * correct, just not fast).
    */
  private[graft] def readFootprintManifest(spark: SparkSession,
      dataDir: String): Option[(Seq[String], Map[String, Seq[(Long, Long)]])] = {
    val fs = fsFor(spark, dataDir)
    val p = new org.apache.hadoop.fs.Path(dataDir, ManifestFile)
    if (!fs.exists(p)) return None
    val in = fs.open(p)
    val text =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val lines = text.split('\n').filter(_.nonEmpty).toSeq
    if (lines.isEmpty) return None
    val header = lines.head.split('\t')
    if (header.length < 2 || header(0) != "# footprints v1") return None
    val cols = header.tail.toSeq
    val entries = lines.tail.map { l =>
      val f = l.split('\t')
      f(0) -> cols.indices.map(i =>
        (f(1 + 2 * i).toLong, f(2 + 2 * i).toLong))
    }.toMap
    Some((cols, entries))
  }

  /** The box probe's path list: every complete data path, MINUS flat
    * files whose manifested footprint does not intersect the probe box
    * on EVERY probed column. Probes may use any SUBSET of the
    * manifest's columns (a 3-D layout serves 1-D/2-D/3-D probes from
    * one manifest); a probe on a column the manifest does not carry
    * disables pruning wholesale — pruning on missing stats would drop
    * live rows silently. Unmanifested paths — fresh append files,
    * streaming `b<id>` batch dirs, anything written since the last
    * compaction — are always kept: the manifest only ever REMOVES
    * files it has proof about. Returns (kept, total) so callers can
    * observe the shrink.
    */
  private[graft] def boxPrunedPaths(spark: SparkSession, dataDir: String,
      probes: Seq[(String, Long, Long)]): (Seq[String], Int) = {
    val all = completeDataPaths(spark, dataDir)
    val pruner: Map[String, Seq[(Long, Long)]] =
      readFootprintManifest(spark, dataDir) match {
        case Some((cols, entries)) =>
          val idx = probes.map { case (c, _, _) => cols.indexOf(c) }
          if (idx.contains(-1)) Map.empty // probe on unmanifested column
          else entries.view.mapValues(boxes => idx.map(boxes)).toMap
        case None => Map.empty
      }
    val kept = all.filter { p =>
      pruner.get(new org.apache.hadoop.fs.Path(p).getName) match {
        case Some(boxes) =>
          probes.zip(boxes).forall { case ((_, lo, hi), (mn, mx)) =>
            !(hi < mn || lo > mx)
          }
        case None => true
      }
    }
    (kept, all.size)
  }

  /** 2-D convenience form of [[boxPrunedPaths]]. */
  private[graft] def boxPrunedPaths(spark: SparkSession, dataDir: String,
      colA: String, loA: Long, hiA: Long, colB: String, loB: Long,
      hiB: Long): (Seq[String], Int) =
    boxPrunedPaths(spark, dataDir, Seq((colA, loA, hiA), (colB, loB, hiB)))

  /** [[servingRead]] for a selective box probe over any subset of the
    * manifested columns: prunes the PATH list against the footprint
    * manifest before `spark.read` ever plans, then applies the box
    * filter (so row-group pruning and the exact predicate still run on
    * whatever survives). Same retry contract and same lazy-plan caveat
    * as [[servingRead]]. Result is identical to the unpruned read
    * under the same filter — the manifest only removes files whose
    * persisted footprint cannot intersect the box
    * (LayoutManifestPruningSpec proves equality and observes the
    * shrink, in 2-D and 3-D).
    */
  def servingReadBoxes[A](spark: SparkSession, root: String,
      probes: Seq[(String, Long, Long)], retries: Int = 60,
      backoffMs: Long = 25)(use: DataFrame => A): A = {
    require(probes.nonEmpty, "servingReadBoxes needs at least one probe")
    val dataDir = tableDataDir(root)
    var attempt = 0
    while (true) {
      try {
        val (kept, _) = boxPrunedPaths(spark, dataDir, probes)
        val df =
          if (kept.isEmpty)
            // every file pruned: an empty result with the right schema
            // still needs SOME footer — fall back to the full listing
            // filtered to nothing rather than inventing a schema
            readComplete(spark, dataDir).limit(0)
          else spark.read.parquet(kept: _*)
        val filtered = probes.foldLeft(df) { case (d, (c, lo, hi)) =>
          d.filter(col(c) >= lo && col(c) <= hi)
        }
        return use(filtered)
      } catch {
        case e: Throwable if attempt < retries && isTransientMissing(e) =>
          attempt += 1
          Thread.sleep(backoffMs)
      }
    }
    sys.error("unreachable")
  }

  /** 2-D convenience form of [[servingReadBoxes]]. */
  def servingReadBox[A](spark: SparkSession, root: String, colA: String,
      loA: Long, hiA: Long, colB: String, loB: Long, hiB: Long,
      retries: Int = 60, backoffMs: Long = 25)(use: DataFrame => A): A =
    servingReadBoxes(spark, root,
      Seq((colA, loA, hiA), (colB, loB, hiB)), retries, backoffMs)(use)

  /** Per-file [min, max] footprints of two columns — the exact
    * information parquet stores per row group and scans prune with. A
    * file "can contain" a box predicate iff its footprint intersects
    * the box; counting intersecting files measures layout quality
    * directly, independent of reader batching.
    */
  def fileFootprints(spark: SparkSession, dir: String, colA: String,
      colB: String): Array[(String, Long, Long, Long, Long)] = {
    import spark.implicits._
    spark.read.parquet(dir)
      .select(input_file_name().as("f"), col(colA).as("a"), col(colB).as("b"))
      .groupBy($"f")
      .agg(min($"a").as("min_a"), max($"a").as("max_a"),
        min($"b").as("min_b"), max($"b").as("max_b"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
  }
}
