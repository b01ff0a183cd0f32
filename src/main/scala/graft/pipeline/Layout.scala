package graft.pipeline

import scala.reflect.ClassTag

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multi-dimensional data LAYOUT for scan pruning — the lakehouse
  * Z-ordering technique (Delta `OPTIMIZE ZORDER BY`, Iceberg sort
  * orders), built from plain Spark primitives: interleave the bits of
  * two or three scaled sort keys into a Morton z-value, range-partition
  * and sort the write by it, and every written file's min/max footprint
  * becomes a small box in EVERY dimension at once. A 2-D box predicate
  * then prunes to ~O(√F) of F files via ordinary parquet
  * row-group/file statistics, where a single-column sort layout prunes
  * only its own dimension and reads EVERYTHING for a predicate on the
  * other.
  *
  * At the 100 TB scale this is the difference between a selective
  * (user, time-range) probe touching ~3% of files and touching all of
  * them — layout is the one pruning lever that needs no index
  * structure, just a smarter write. All arithmetic is codegen'd
  * column expressions (shift/mask/or) — no UDF, no shuffle beyond the
  * one range partition the write needs anyway.
  *
  * The z-shaping is written once ([[zorderBy]]); the direct writes
  * here and [[VersionedTable.compactZorder]] all call it. This object
  * also holds the parquet FOOTER readers the versioned table's
  * manifest is built from (long boxes, typed bounds, null counts,
  * blooms) — footer-only, never a data page.
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

  /** The z-order SHAPE of a write, written once for every z-ordered
    * write in the repo: one agg pass for the min/max scale bounds of
    * `cols`, then `repartitionByRange(z)` + sort-within-partitions(z)
    * into `nFiles` partitions. Two columns interleave 16-bit keys
    * ([[scale16]]/[[zvalue16]]), three interleave 21-bit keys
    * ([[scale21]]/[[zvalue21]]). Range partitioning gives each file a
    * DISJOINT z-interval, which is what turns file min/max stats into
    * tight boxes in every dimension.
    */
  private[pipeline] def zorderBy(df: DataFrame, cols: Seq[String],
      nFiles: Int): DataFrame = {
    val aggs = cols.flatMap(c => Seq(min(col(c)), max(col(c))))
    // an all-NULL column has no bounds: 0/0 scales it to the constant
    // 0, and the other columns order the rows
    zorderBy(df, cols, nFiles, df.agg(aggs.head, aggs.tail: _*)
      .head.toSeq.map(b => if (b == null) 0L else b.asInstanceOf[Long]))
  }

  /** [[zorderBy]] with caller-supplied scale bounds
    * `[min0, max0, min1, max1, ...]`, one pair per column.
    */
  private def zorderBy(df: DataFrame, cols: Seq[String], nFiles: Int,
      bounds: Seq[Long]): DataFrame = {
    require(bounds.length == 2 * cols.size,
      s"need ${2 * cols.size} bounds, got ${bounds.length}")
    def scaled(scale: (Column, Long, Long) => Column): Seq[Column] =
      cols.indices.map(i =>
        scale(col(cols(i)), bounds(2 * i), bounds(2 * i + 1)))
    val z = cols.size match {
      case 2 =>
        val Seq(a, b) = scaled(scale16)
        zvalue16(a, b)
      case 3 =>
        val Seq(a, b, c) = scaled(scale21)
        zvalue21(a, b, c)
      case n => throw new IllegalArgumentException(
        s"z-order needs two or three columns, got $n: ${cols.mkString(", ")}")
    }
    // the z key is passed as an EXPRESSION to both the range partitioner
    // and the sort, never materialized as a column: RangePartitioning
    // evaluates its ordering expressions to route rows without appending
    // them, so the exchange carries only the data columns. A
    // withColumn("_z")/drop form ships 8 extra bytes per row — measured
    // +34% shuffle on a 3-long-column table (SCALE.md §"Z-order
    // layout"); recomputing the codegen'd shift/mask ladder twice is
    // free next to that
    df.repartitionByRange(nFiles, z).sortWithinPartitions(z)
  }

  /** Write `df` z-ordered by two long columns into `nFiles` files
    * ([[zorderBy]]).
    */
  def zorderWrite(df: DataFrame, colA: String, colB: String, dir: String,
      nFiles: Int): Unit =
    zorderBy(df, Seq(colA, colB), nFiles).write.mode("overwrite").parquet(dir)

  /** 3-D form of [[zorderWrite]]: range-partition + sort by the 63-bit
    * z-value of three long columns.
    */
  def zorderWrite3(df: DataFrame, colA: String, colB: String, colC: String,
      dir: String, nFiles: Int): Unit =
    zorderBy(df, Seq(colA, colB, colC), nFiles)
      .write.mode("overwrite").parquet(dir)

  /** [[zorderWrite3]] with caller-supplied scale bounds
    * `[minA, maxA, minB, maxB, minC, maxC]` — for callers that already
    * computed the min/max aggregation for their own purposes (e.g. box
    * probes over the written layout), so the table is scanned once for
    * bounds, not twice.
    */
  def zorderWrite3(df: DataFrame, colA: String, colB: String, colC: String,
      dir: String, nFiles: Int, bounds: Array[Long]): Unit =
    zorderBy(df, Seq(colA, colB, colC), nFiles, bounds.toSeq)
      .write.mode("overwrite").parquet(dir)

  /** Single-dimension comparison layout: range-partition + sort by one
    * column — perfect pruning on that column, none on any other.
    */
  def linearWrite(df: DataFrame, c: String, dir: String,
      nFiles: Int): Unit =
    df.repartitionByRange(nFiles, col(c)).sortWithinPartitions(c)
      .write.mode("overwrite").parquet(dir)

  /** In-place layout COMPACTION of a flat parquet directory: read it,
    * rewrite it z-ordered by (colA, colB) into `nFiles` files under
    * `.staging`, and promote via the shared staged two-rename swap
    * ([[SnapshotDir]] — the same crash-recovery contract as the
    * streaming sinks: a crash at any point leaves a complete snapshot
    * recoverable, and re-running the compaction converges). It takes
    * no lock: the caller must be the directory's only writer. A table
    * with concurrent writers and readers is a [[VersionedTable]], whose
    * [[VersionedTable.compactZorder]] publishes the rewrite as a new
    * version instead of swapping directories.
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
    // `.staging`, so the one pass is the whole data movement
    zorderWrite(spark.read.parquet(dir), colA, colB, snap.stagingPath,
      nFiles)
    snap.swapIn()
  }

  /** Read every file in `files` through `one` — footer-only work, one
    * result per file, in input order. Small file sets (at most
    * `driverLoopLimit`: the common per-commit case, and the handful of
    * point-lookup survivors the manifest box stage leaves) run in a
    * DRIVER loop under the session's Hadoop conf: driver-LOCAL
    * parallelism (ForkJoin common pool), so the footers still read
    * concurrently, but with no task serialization, no scheduler
    * round-trip and no result fetch — the job machinery would cost
    * more than the footer reads (profiled r20: pipe_vt_cdc_mirror
    * launched one such job per commit). Larger sets distribute over at
    * most 64 tasks, shipping the conf as XML (Hadoop Configuration is
    * not serializable as-is). An OBJECT method on purpose: the task
    * closure reaches it through the static MODULE$ reference, so `one`
    * is the only thing it captures.
    */
  private def footerFanOut[T: ClassTag](spark: SparkSession,
      files: Seq[String], driverLoopLimit: Int)(
      one: (String, org.apache.hadoop.conf.Configuration) => T): Seq[T] = {
    if (files.isEmpty) return Seq.empty
    if (files.size <= driverLoopLimit) {
      import scala.jdk.CollectionConverters._
      val conf = spark.sparkContext.hadoopConfiguration
      return files.asJava.parallelStream()
        .map[T](f => one(f, conf))
        .collect(java.util.stream.Collectors.toList[T])
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
        one(f, conf)
      }
      .collect().toSeq
  }

  /** Below this many candidate files, [[footerFanOut]] reads the
    * footers in a DRIVER loop instead of launching a Spark job: a
    * point lookup is latency-shaped, and after the manifest box stage
    * typically leaves a handful of survivors, per-job scheduling
    * overhead (task serialization, scheduling, result fetch) dominates
    * the footer reads themselves. Above it, the reads distribute over
    * executors — thousands of candidates is a bandwidth problem, not a
    * latency one.
    */
  private[pipeline] val BloomDriverLoopLimit: Int = 32

  /** Per-file BLOOM membership check for a point value — reads each
    * candidate's footer + bloom pages only, never data. A file is kept
    * (true) when the bloom says the value MAY be present, or when no
    * bloom exists for the column (no proof → must scan). Small
    * candidate sets are checked on the driver, large ones distribute
    * over files ([[footerFanOut]]).
    */
  private[pipeline] def bloomMayContain(spark: SparkSession,
      files: Seq[String], c: String, value: Any,
      driverLoopLimit: Int = BloomDriverLoopLimit)
      : Seq[(String, Boolean)] =
    footerFanOut(spark, files, driverLoopLimit)(
      (f, conf) => bloomCheckOne(f, conf, c, value))

  /** One file's bloom verdict for [[bloomMayContain]]. `value`: a Long
    * (long stat columns) or an Array[Byte] of UTF-8 bytes (string typed
    * columns — hashed as parquet Binary, the same hash the writer used
    * for the column's bloom).
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

  /** Each file's exact row count, long-column boxes, encoded typed
    * bounds per `typedCols` entry and per-column NULL counts over
    * `cols ++ typedCols` — all footer-only, no data pages read; small
    * file sets on the driver, large ones distributed
    * ([[footerFanOut]]). Long boxes are strict all-or-nothing: None
    * when any of `cols` is absent, not a long, or lacks statistics in
    * some row group (see [[longStatsOf]]). Typed bounds are best-effort
    * (None disables pruning on that side). Null counts are -1 when any
    * row group omits them (absence never prunes), and a column
    * entirely ABSENT from the file (written before add-only evolution
    * introduced it) counts the file's EVERY row as null — which is
    * what the reader serves for it.
    */
  private[pipeline] def footerStatsTyped(spark: SparkSession,
      files: Seq[String], cols: Seq[String],
      typedCols: Seq[(String, Char)])
      : Seq[(String, Long, Option[Seq[(Long, Long)]],
        Seq[(Option[String], Option[String])], Seq[Long])] =
    footerFanOut(spark, files, BloomDriverLoopLimit)(
      (f, conf) => typedStatsOne(f, conf, cols, typedCols))

  /** One file's long boxes + typed bounds + null counts for
    * [[footerStatsTyped]]. An OBJECT method on purpose: the distributed
    * tier's task closure calls it through the static MODULE$ reference
    * (a local `def` would capture the non-serializable enclosing
    * instance).
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
