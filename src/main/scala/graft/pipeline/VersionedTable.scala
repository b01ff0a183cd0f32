package graft.pipeline

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.DatasetBridge

/** A SNAPSHOT-VERSIONED table — the Iceberg/Delta architecture in
  * miniature, and the design point a [[SnapshotDir]]-swapped directory
  * cannot reach: data files are IMMUTABLE and uniquely named,
  * each version is described by a small metadata tree, and a version
  * becomes visible through ONE atomic compare-and-swap publish of its
  * root. That single publish point buys, all at once:
  *
  *  - **Lock-free snapshot-isolated readers.** A reader resolves the
  *    latest manifest list, then reads files that can never be renamed
  *    or deleted out from under it (until a vacuum past its retention
  *    window) — no transient-missing retry loop, no swap gap, no torn
  *    batches.
  *  - **Lock-free OPTIMISTIC writers.** No writer takes a lock, ever:
  *    each writes its immutable data files, then attempts to publish
  *    `manifests/v<k>` with an exclusive create-if-absent (the CAS).
  *    Exactly one concurrent writer wins each version number; a loser
  *    re-reads the new base and REBASES — an append re-points its new
  *    shard at the winner's shard list and retries (appends NEVER
  *    abort: every lost race means someone else committed, so the
  *    system always makes progress); a compaction carries shards
  *    added since its base snapshot (appends and compaction commute)
  *    and aborts only when a concurrent writer rewrote one of its
  *    INPUT shards; a delete/upsert rebases over concurrent commits
  *    that provably cannot overlap its box/keys and otherwise restarts
  *    from the new base. This is Iceberg's optimistic concurrency: the
  *    version-file create is the one serialization point, and
  *    conflicts are detected from manifest content, not prevented by a
  *    global writer lock.
  *  - **Time travel.** Every historical manifest list still names
  *    immutable shards over immutable files; `readVersion(root, k)` is
  *    the table as-of version k.
  *  - **Planning-time pruning for free.** The metadata IS the stats
  *    manifest, at two levels: the manifest list records each SHARD's
  *    aggregate [min,max] footprint, each shard records its FILES'
  *    footprints — so `boxRead` prunes whole shards from one small
  *    list read, then files from only the surviving shards, before
  *    `spark.read` plans anything.
  *  - **Bounded per-commit metadata.** The Iceberg two-level shape:
  *    `manifests/v<k>` is a MANIFEST LIST (one line per shard);
  *    entries live in immutable `manifests/s-<uuid>` SHARD files. An
  *    append writes one new shard (its own entries) plus one list
  *    (O(#shards) lines) — never the table's whole entry set, which a
  *    flat manifest would rewrite per commit (at 100 TB / 128 MB files
  *    that is ~800k entries, tens of MB, per append). DML rewrites
  *    only the shards holding touched files and carries every other
  *    shard BY REFERENCE; appends opportunistically fold runt shards
  *    ([[ShardMergeFanIn]]) so the list stays short-bounded.
  *  - **Crash safety by construction.** A writer that dies before its
  *    manifest CAS has published nothing: its data files and shard
  *    files are unreferenced garbage, collected by [[vacuum]]. There
  *    is no recover() protocol because there is no intermediate state
  *    a reader can observe. And because the CAS is create-if-ABSENT (a
  *    hard-link that fails `EEXIST` on local filesystems, a
  *    no-overwrite rename on HDFS-like ones), a fenced-out zombie —
  *    a writer resuming from a GC stall after a successor published —
  *    fails its publish loudly instead of silently clobbering the
  *    successor's version.
  *
  * Layout under `root/`:
  * {{{
  *   files/<uuid>-part-*.parquet   immutable data files
  *   manifests/v<k>                manifest LIST: one line per shard
  *                                 (name, #files, rows, aggregate box)
  *   manifests/s-<uuid>            immutable shard: one line per file
  *                                 (name, rows, per-col [min,max])
  *   _writer.lock                  only vacuum serializes (vs vacuums)
  * }}}
  *
  * Tables written before the two-level format (a flat `# versioned v2`
  * manifest carrying inline entries) stay readable; the first write
  * migrates the inline entries into a real shard. Lists and shards are
  * written to nonce-suffixed temp names (two racers for the same
  * version must never share a temp path) and linked/renamed into
  * place, so a reader lists either the old set or the new set of
  * versions, never a half-written file. The documented retention
  * caveat is Iceberg's own: a reader pinning version k can be broken
  * by a vacuum that drops k — retention (`keepVersions`) is the
  * contract between reader latency and storage reclamation. With
  * lock-free writers, [[vacuum]] additionally honors a GRACE window
  * (`graceMs`): an unreferenced data/shard file younger than the grace
  * may belong to a writer between its writes and its manifest CAS, and
  * is left alone — exactly Iceberg's orphan-file retention.
  */
object VersionedTable {

  private def filesDir(root: String) = s"$root/files"
  private def manifestsDir(root: String) = s"$root/manifests"

  /** Unreferenced files younger than this are presumed to belong to an
    * in-flight writer (between its data writes and its manifest CAS)
    * and survive [[vacuum]] — Iceberg's orphan-file retention default
    * is days for the same reason; tests pass 0 for immediate collection.
    */
  val DefaultVacuumGraceMs: Long = 24L * 60 * 60 * 1000

  /** Bounded restarts under true conflicts (a concurrent commit that
    * rewrote this writer's input shards, added rows inside its box or
    * key bounds, or changed the marker list), shared by every op that
    * restarts through [[withRestarts]]: [[compactSmallFiles]],
    * [[deleteRangeMor]], [[deleteKeysMor]], [[materializeDeletes]],
    * [[deleteRange]], [[deleteWhere]], [[upsertByKey]],
    * [[applyCdcBatch]], and SQL UPDATE and MERGE. Appends and rebases
    * never count against it.
    */
  val MaxDmlRestarts: Int = 8

  /** Appends fold runt shards so the manifest list stays short: when
    * at least this many shards carry ≤ [[ShardMergeMaxFiles]] entries
    * each, the append merges them into one shard alongside its own new
    * shard (Iceberg's manifest merging). Merging never makes an append
    * abort — if a concurrent DML rewrote one of the merge inputs, the
    * retry simply publishes unmerged.
    */
  private[pipeline] val ShardMergeFanIn: Int = 8

  /** Only shards at or below this many entries are merge candidates —
    * folding big shards would re-pay their write cost for no list
    * shrink that matters.
    */
  private[pipeline] val ShardMergeMaxFiles: Long = 512L

  /** ONE-SHOT test seam: consumed (reset to noop) by the next publish
    * attempt, so a spec can inject a competing commit into the exact
    * window between a writer's snapshot read and its CAS — the window
    * all the rebase logic exists for. Noop in production.
    */
  private[pipeline] val beforePublishHook =
    new java.util.concurrent.atomic.AtomicReference[() => Unit](() => ())

  private def fsFor(spark: SparkSession, p: String): FileSystem =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** All published versions, ascending. One FS listing. */
  def versions(spark: SparkSession, root: String): Seq[Long] = {
    val fs = fsFor(spark, root)
    val dir = new Path(manifestsDir(root))
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("v") &&
        n.drop(1).nonEmpty && n.drop(1).forall(_.isDigit) => n.drop(1).toLong }
      .sorted
  }

  def latestVersion(spark: SparkSession, root: String): Option[Long] =
    versions(spark, root).lastOption

  private def latestManifest(spark: SparkSession,
      root: String): Option[(Long, Manifest)] =
    latestVersion(spark, root).map(v => (v, readManifest(spark, root, v)))

  /** A TYPED stat column — the columns real corpora filter by that a
    * Long box cannot carry: name plus a one-char kind driving bound
    * encoding and probe comparison ('s' string: truncated UTF-8 byte
    * bounds, hex-encoded; 'l' long-backed: date epoch days, timestamp
    * micros, ints; 'd' decimal: unscaled long, `scale` recorded so
    * only scale-exact literals translate to probes). Fixed at table
    * creation like the Long stat columns; pruned on by [[sqlRead]],
    * [[deleteWhere]] and string-keyed DML (the long-box APIs stay
    * Long).
    */
  private[pipeline] case class TypedCol(name: String, kind: Char,
      scale: Int = 0)

  /** One side of a typed bound: None = unprovable at write time (no
    * footer stats, untruncatable max) = unbounded on that side.
    */
  private[pipeline] type TBound = (Option[String], Option[String])

  /** Encoded-bound ordering per kind: numeric for long-backed kinds,
    * unsigned byte-lexicographic (parquet's UTF8 order) for strings.
    */
  private[pipeline] def tCompare(kind: Char, a: String, b: String): Int =
    kind match {
      case 's' => Layout.bytesCompare(Layout.hexDec(a), Layout.hexDec(b))
      case _ => java.lang.Long.compare(a.toLong, b.toLong)
    }

  /** The stats a file or a shard carries — what [[Probes.mayHold]]
    * reads: per-stat-column long [min, max] `boxes` (min > max when the
    * column holds only NULLs: `Layout.AllNullBox`), typed-column
    * bounds `tboxes` (empty on tables without typed stat columns, and
    * on the legacy pseudo-shard), per-column null counts over
    * statCols ++ typedCols, and the row count.
    */
  private[pipeline] sealed trait Bounds {
    def rows: Long
    def boxes: Seq[(Long, Long)]
    def tboxes: Seq[TBound]
    def nulls: Seq[Long]
    /** Null count of column i; -1 = unknown (pre-upgrade line, or the
      * footer omitted it) — never prunes.
      */
    def nullsAt(i: Int): Long = if (i < nulls.length) nulls(i) else -1L
    /** Typed bound i; None when absent — never prunes. */
    def tLo(i: Int): Option[String] = if (tboxes.isEmpty) None else tboxes(i)._1
    def tHi(i: Int): Option[String] = if (tboxes.isEmpty) None else tboxes(i)._2
  }

  /** One data file's manifest record. `bytes` (file length, recorded
    * at write) lets the SQL path synthesize its FileStatus from
    * metadata alone — planning a scan then never lists `files/`, the
    * O(F)-RPC step a cloud object store bills per page; -1 marks
    * pre-upgrade entries, which fall back to one directory listing.
    */
  private[pipeline] case class Entry(name: String, rows: Long,
      boxes: Seq[(Long, Long)], bytes: Long = -1L,
      tboxes: Seq[TBound] = Seq.empty,
      nulls: Seq[Long] = Seq.empty) extends Bounds

  /** One manifest-list line: an immutable shard file plus its entry
    * count, row sum and per-stat-column AGGREGATE [min,max] — the
    * union bound over its entries' boxes, which is what lets a probe
    * prune whole shards from the list alone (an entry's box intersects
    * ⇒ the aggregate intersects; contrapositive: aggregate misses ⇒
    * every entry misses). `minRows` is the smallest entry row count in
    * the shard (-1 on lines written before it was recorded): it lets
    * small-file compaction select candidate shards from the LIST alone
    * instead of opening every shard each pack cadence — the O(all
    * shards) metadata walk the two-level format exists to avoid. A
    * legacy flat manifest parses as one synthetic ref with an EMPTY
    * name (entries inline); writers migrate it on their next publish.
    */
  private[pipeline] case class ShardRef(name: String, files: Long, rows: Long,
      boxes: Seq[(Long, Long)], minRows: Long = -1L,
      tboxes: Seq[TBound] = Seq.empty,
      nulls: Seq[Long] = Seq.empty) extends Bounds

  /** A MERGE-ON-READ delete marker — Iceberg v2's delete-file idea:
    * instead of rewriting the files a delete touches, the manifest
    * records the delete's PREDICATE, the exact count of visible rows
    * it matched WHEN COMMITTED, and the FILE SET it applies to (the
    * candidate files that existed at commit time — scoping by file is
    * what keeps rows APPENDED later alive, exactly like Iceberg's
    * sequence-number scoping). Readers subtract the marker from rows
    * of its files; compaction and COW DML materialize markers away.
    * Two forms: a range BOX ([[MorDelete]]) and a KEY SET
    * ([[MorKeyDelete]] — Iceberg's equality deletes, the GDPR /
    * dedup-removal shape).
    */
  private[pipeline] sealed trait Marker {
    def matched: Long
    def files: Set[String]
  }

  /** Range-box marker: readers apply `NOT box` to the files' rows. */
  private[pipeline] case class MorDelete(probes: Seq[(String, Long, Long)],
      matched: Long, files: Set[String]) extends Marker

  /** Key-set marker over ONE long stat column OR one STRING typed
    * stat column (`kind`: 'L' long, 's' string — the doc-id / URL /
    * GUID shape real corpora key on): small key sets ride INLINE in
    * the manifest line (`inline` for longs, `inlineTyped` hex-encoded
    * UTF-8 for strings — hex keeps arbitrary key bytes clear of the
    * manifest's tab/comma framing); larger ones spill to an immutable
    * parquet SIDECAR (`manifests/k-<uuid>.parquet`, one `k` column of
    * the key's own type) that readers anti-join, plus — for long keys
    * — a small bloom over the keys (base64, empty when the set was too
    * large to bloom usefully) so a point read on the key column can
    * skip the marker entirely when its probed value provably isn't
    * deleted.
    */
  private[pipeline] case class MorKeyDelete(keyCol: String,
      inline: Seq[Long], sidecar: Option[String], bloom: String,
      matched: Long, files: Set[String], kind: Char = 'L',
      inlineTyped: Seq[String] = Seq.empty) extends Marker

  /** A resolved version: header metadata, the shard list, and LAZY
    * per-shard entry loading — the planning paths (append publish,
    * box/point pruning, fastCount) never load entries of shards they
    * pruned; full-read paths (`entries`) resolve everything once.
    */
  private[pipeline] class Manifest(
      val statCols: Seq[String],
      val shards: Seq[ShardRef],
      loader: ShardRef => Seq[Entry],
      val ingestBatch: Long,
      val kind: String,
      val schemaJson: Option[String],
      val newFiles: Seq[String],
      val committedAtMs: Long = -1L,
      val morDeletes: Seq[Marker] = Seq.empty,
      val typedCols: Seq[TypedCol] = Seq.empty,
      val clusterSpec: Seq[String] = Seq.empty) {
    // ConcurrentHashMap, not a mutable.Map: a Manifest is captured by
    // VersionedFileIndex, whose listFiles runs at Catalyst PLANNING
    // time — two threads running SQL over the same sqlRead view prune
    // concurrently, and getOrElseUpdate on an unsynchronized HashMap
    // under that race can corrupt the map. computeIfAbsent also loads
    // each shard exactly once under contention.
    private val cache =
      new java.util.concurrent.ConcurrentHashMap[String, Seq[Entry]]()
    def entriesOf(r: ShardRef): Seq[Entry] =
      cache.computeIfAbsent(r.name, _ => loader(r))
    lazy val entries: Seq[Entry] = shards.flatMap(entriesOf)
    lazy val names: Set[String] = entries.map(_.name).toSet
    def shardNames: Set[String] = shards.map(_.name).toSet
    def totalFiles: Long = shards.map(_.files).sum
    /** Flat pre-shard manifest: inline entries under an empty-name ref. */
    def legacy: Boolean = shards.exists(_.name.isEmpty)
    def schema: Option[org.apache.spark.sql.types.StructType] =
      schemaJson.map(j => org.apache.spark.sql.types.DataType.fromJson(j)
        .asInstanceOf[org.apache.spark.sql.types.StructType])
  }

  /** A typed-bound cell: `-` = unbounded side, `=payload` otherwise
    * (payload may be empty: the empty string is a real bound).
    */
  private def tCell(b: Option[String]): String =
    b.map("=" + _).getOrElse("-")

  private def tParse(cell: String): Option[String] =
    if (cell == "-") None else Some(cell.substring(1))

  private def entryLine(e: Entry): String = {
    val cells = e.boxes.flatMap { case (mn, mx) => Seq(mn, mx) }
    // bytes rides as a TRAILING column: older lines simply lack it
    // (parse yields -1), so the format stays line-compatible both
    // ways; typed-bound cells trail AFTER bytes (tables with typed
    // columns are created with them, so their lines always carry
    // both); per-column NULL counts trail LAST (older lines lack
    // them: unknown, never prunes)
    val typed = e.tboxes.flatMap { case (lo, hi) =>
      Seq(tCell(lo), tCell(hi)) }
    val nulls = e.nulls.map(_.toString)
    ((Seq(e.name, e.rows.toString) ++ cells.map(_.toString) ++
      Seq(e.bytes.toString) ++ typed) ++ nulls).mkString("\t")
  }

  private def parseEntry(l: String, nCols: Int, nTyped: Int = 0): Entry = {
    val f = l.split('\t')
    val bytes = if (f.length > 2 + 2 * nCols) f(2 + 2 * nCols).toLong else -1L
    val tb =
      if (nTyped == 0) Seq.empty
      else (0 until nTyped).map { i =>
        (tParse(f(3 + 2 * nCols + 2 * i)), tParse(f(4 + 2 * nCols + 2 * i)))
      }
    val nullsBase = 3 + 2 * nCols + 2 * nTyped
    val nulls =
      if (f.length >= nullsBase + nCols + nTyped)
        (0 until nCols + nTyped).map(i => f(nullsBase + i).toLong)
      else Seq.empty[Long]
    Entry(f(0), f(1).toLong, (0 until nCols).map(i =>
      (f(2 + 2 * i).toLong, f(3 + 2 * i).toLong)), bytes, tb, nulls)
  }

  /** The union bound over entry boxes — a shard's aggregate footprint. */
  private def aggBoxes(entries: Seq[Entry], nCols: Int): Seq[(Long, Long)] =
    (0 until nCols).map { i =>
      (entries.map(_.boxes(i)._1).min, entries.map(_.boxes(i)._2).max)
    }

  /** Aggregate null counts over entry nulls: the sum when every entry
    * knows its count, -1 (unknown, never prunes) when any does not.
    */
  private def aggNulls(entries: Seq[Entry], nTotal: Int): Seq[Long] =
    (0 until nTotal).map { i =>
      val ns = entries.map(_.nullsAt(i))
      if (ns.exists(_ < 0)) -1L else ns.sum
    }

  /** The union bound over entry TYPED boxes: any unbounded side makes
    * the aggregate side unbounded (sound — the shard then never prunes
    * on that side).
    */
  private def aggTyped(entries: Seq[Entry],
      typed: Seq[TypedCol]): Seq[TBound] =
    typed.zipWithIndex.map { case (tc, i) =>
      val los = entries.map(_.tboxes(i)._1)
      val his = entries.map(_.tboxes(i)._2)
      val lo = if (los.exists(_.isEmpty)) None
        else Some(los.flatten.reduce((a, b) =>
          if (tCompare(tc.kind, a, b) <= 0) a else b))
      val hi = if (his.exists(_.isEmpty)) None
        else Some(his.flatten.reduce((a, b) =>
          if (tCompare(tc.kind, a, b) >= 0) a else b))
      (lo, hi)
    }

  private def readText(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
  }

  /** Parse an immutable shard file into its entries. */
  private def readShard(spark: SparkSession, root: String,
      name: String, nCols: Int, nTyped: Int): Seq[Entry] = {
    val fs = fsFor(spark, root)
    val text = readText(fs, new Path(manifestsDir(root), name))
    val lines = text.split('\n').filter(_.nonEmpty).toSeq
    require(lines.nonEmpty && lines.head.startsWith("# vtshard v1"),
      s"corrupt shard $name at $root")
    lines.tail.map(parseEntry(_, nCols, nTyped))
  }

  /** Write `entries` as one immutable shard file; None for an empty
    * list (an empty shard carries no information — dropping it is what
    * keeps emptied shards out of every later list). Written BEFORE any
    * CAS attempt and uuid-named, so a lost race reuses it unchanged.
    */
  private def writeShard(spark: SparkSession, root: String,
      statCols: Seq[String], entries: Seq[Entry],
      typed: Seq[TypedCol] = Seq.empty): Option[ShardRef] = {
    if (entries.isEmpty) return None
    require(entries.forall(_.tboxes.size == typed.size),
      "entry typed-bound arity must match the table's typed columns")
    val fs = fsFor(spark, root)
    val dir = new Path(manifestsDir(root))
    fs.mkdirs(dir)
    val name = s"s-${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val out = fs.create(new Path(dir, name), false)
    try {
      out.write(s"# vtshard v1\t${statCols.mkString("\t")}\n"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      entries.sortBy(_.name).foreach { e =>
        out.write((entryLine(e) + "\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
    } finally out.close()
    Some(ShardRef(name, entries.size.toLong, entries.map(_.rows).sum,
      aggBoxes(entries, statCols.size), entries.map(_.rows).min,
      aggTyped(entries, typed),
      aggNulls(entries, statCols.size + typed.size)))
  }

  private def readManifest(spark: SparkSession, root: String,
      v: Long): Manifest = {
    val fs = fsFor(spark, root)
    val text = readText(fs, new Path(manifestsDir(root), s"v$v"))
    val lines = text.split('\n').filter(_.nonEmpty).toSeq
    require(lines.nonEmpty && (lines.head.startsWith("# versioned v2") ||
      lines.head.startsWith("# versioned v3")),
      s"corrupt manifest v$v at $root")
    val sharded = lines.head.startsWith("# versioned v3")
    val statCols = lines.head.split('\t').toSeq.tail
    val ingestBatch = lines.tail
      .find(_.startsWith("#ingest\t"))
      .map(_.split('\t')(1).toLong).getOrElse(-1L)
    val kind = lines.tail
      .find(_.startsWith("#kind\t"))
      .map(_.split('\t')(1)).getOrElse("append")
    val schemaJson = lines.tail
      .find(_.startsWith("#schema\t"))
      .map(_.split('\t')(1))
    val newFiles = lines.tail
      .find(_.startsWith("#new\t"))
      .map(_.split('\t')(1).split(',').toSeq).getOrElse(Seq.empty)
    val committedAtMs = lines.tail
      .find(_.startsWith("#ts\t"))
      .map(_.split('\t')(1).toLong).getOrElse(-1L)
    // #typedcols \t name:kind:scale ... (absent on untyped tables)
    val typedCols = lines.tail
      .find(_.startsWith("#typedcols\t"))
      .map(_.split('\t').toSeq.tail.map { spec =>
        val p = spec.split(':')
        TypedCol(p(0), p(1).head, p(2).toInt)
      }).getOrElse(Seq.empty)
    // #cluster \t transform ... (absent on unclustered tables)
    val clusterSpec = lines.tail
      .find(_.startsWith("#cluster\t"))
      .map(_.split('\t').toSeq.tail).getOrElse(Seq.empty)
    // #mordel \t matched \t k \t (col lo hi){k} \t files-comma-joined
    // #morkey \t matched \t keyCol \t inline-keys|- \t sidecar|- \t bloom|- \t files
    val morDeletes: Seq[Marker] = lines.tail.flatMap {
      case l if l.startsWith("#mordel\t") =>
        val f = l.split('\t')
        val matched = f(1).toLong
        val k = f(2).toInt
        val probes = (0 until k).map(i =>
          (f(3 + 3 * i), f(4 + 3 * i).toLong, f(5 + 3 * i).toLong))
        Some(MorDelete(probes, matched, f(3 + 3 * k).split(',').toSet))
      case l if l.startsWith("#morkey\t") =>
        val f = l.split('\t')
        val inline = if (f(3) == "-") Seq.empty[Long]
          else f(3).split(',').toSeq.map(_.toLong)
        // kind + typed inline ride as TRAILING cells: lines written
        // before string keys existed simply lack them (long marker)
        val kind = if (f.length > 7) f(7).head else 'L'
        val inlineTyped =
          if (f.length > 8 && f(8) != "-") f(8).split(',').toSeq
          else Seq.empty[String]
        Some(MorKeyDelete(f(2), inline,
          if (f(4) == "-") None else Some(f(4)),
          if (f(5) == "-") "" else f(5),
          f(1).toLong, f(6).split(',').toSet, kind, inlineTyped))
      case _ => None
    }
    if (sharded) {
      val refs = lines.tail.filter(_.startsWith("#shard\t")).map { l =>
        val f = l.split('\t')
        val n = statCols.size
        // minRows rides as a trailing cell: older lines lack it (-1);
        // typed aggregate bounds trail after it on typed tables
        val mr = if (f.length > 4 + 2 * n) f(4 + 2 * n).toLong else -1L
        val tb =
          if (typedCols.isEmpty) Seq.empty
          else typedCols.indices.map { i =>
            (tParse(f(5 + 2 * n + 2 * i)), tParse(f(6 + 2 * n + 2 * i)))
          }
        val t = typedCols.size
        val nullsBase = 5 + 2 * n + 2 * t
        val nulls =
          if (f.length >= nullsBase + n + t)
            (0 until n + t).map(i => f(nullsBase + i).toLong)
          else Seq.empty[Long]
        ShardRef(f(1), f(2).toLong, f(3).toLong, statCols.indices.map(i =>
          (f(4 + 2 * i).toLong, f(5 + 2 * i).toLong)), mr, tb, nulls)
      }
      new Manifest(statCols, refs,
        r => readShard(spark, root, r.name, statCols.size, typedCols.size),
        ingestBatch, kind, schemaJson, newFiles, committedAtMs, morDeletes,
        typedCols, clusterSpec)
    } else {
      // legacy flat manifest: inline entries as one synthetic shard
      // (the flat format predates typed columns)
      val inline = lines.tail.filterNot(_.startsWith("#"))
        .map(parseEntry(_, statCols.size))
      val refs =
        if (inline.isEmpty) Seq.empty
        else Seq(ShardRef("", inline.size.toLong, inline.map(_.rows).sum,
          aggBoxes(inline, statCols.size), inline.map(_.rows).min))
      new Manifest(statCols, refs, _ => inline,
        ingestBatch, kind, schemaJson, newFiles, committedAtMs, morDeletes)
    }
  }

  /** Attempt to publish `shards` as version `v`'s manifest LIST: write
    * it to a NONCE-suffixed temp name (concurrent losers for the same
    * version must never share a temp path — an overwriting racer could
    * otherwise swap its content under this writer's commit), then one
    * atomic create-if-absent of `v<k>`. Returns true iff THIS call
    * published v; false iff v already exists (lost the CAS — the
    * caller re-reads the new base and rebases). Any other failure
    * throws: a writer crashed here has published NOTHING.
    */
  private def tryPublish(spark: SparkSession, root: String, v: Long,
      statCols: Seq[String], shards: Seq[ShardRef],
      ingestBatch: Long, kind: String, schemaJson: Option[String],
      newFiles: Seq[String] = Seq.empty,
      morDeletes: Seq[Marker] = Seq.empty,
      typedCols: Seq[TypedCol] = Seq.empty,
      clusterSpec: Seq[String] = Seq.empty): Boolean = {
    require(shards.forall(_.name.nonEmpty),
      "legacy inline entries must be migrated to a shard before publish")
    require(shards.forall(_.tboxes.size == typedCols.size),
      "shard typed-bound arity must match the table's typed columns")
    beforePublishHook.getAndSet(() => ())()
    val fs = fsFor(spark, root)
    val dir = new Path(manifestsDir(root))
    fs.mkdirs(dir)
    val nonce = java.util.UUID.randomUUID().toString.substring(0, 8)
    val tmp = new Path(dir, s".tmp-v$v-$nonce")
    val out = fs.create(tmp, true)
    try {
      out.write(s"# versioned v3\t${statCols.mkString("\t")}\n"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      out.write(s"#kind\t$kind\n"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      // the PUBLISHER's wall clock — powers readAsOf/history exactly as
      // Iceberg's snapshot timestamps do, with the same caveat: under
      // writer clock skew, timestamp-as-of resolves against whatever
      // the winners stamped (versionAsOf picks the LARGEST version at
      // or before the asked instant, so a skewed-early stamp can only
      // widen, never corrupt, the answer)
      out.write(s"#ts\t${System.currentTimeMillis()}\n"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      if (ingestBatch >= 0)
        out.write(s"#ingest\t$ingestBatch\n"
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      if (typedCols.nonEmpty) {
        typedCols.foreach(tc => require(!tc.name.contains(':') &&
          !tc.name.contains('\t'), s"typed column name unserializable: " +
          s"'${tc.name}'"))
        out.write((s"#typedcols\t" + typedCols.map(tc =>
          s"${tc.name}:${tc.kind}:${tc.scale}").mkString("\t") + "\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
      if (clusterSpec.nonEmpty) {
        clusterSpec.foreach(t => require(!t.contains('\t'),
          s"cluster transform unserializable: '$t'"))
        out.write((s"#cluster\t" + clusterSpec.mkString("\t") + "\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
      schemaJson.foreach { j =>
        require(!j.contains('\t') && !j.contains('\n'),
          "schema json must be single-line")
        out.write(s"#schema\t$j\n"
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
      if (newFiles.nonEmpty)
        out.write(s"#new\t${newFiles.mkString(",")}\n"
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      morDeletes.foreach {
        case md: MorDelete =>
          val cells = md.probes.flatMap { case (c, lo, hi) =>
            require(!c.contains('\t') && !c.contains(','),
              s"mor-delete column name unserializable: '$c'")
            Seq(c, lo.toString, hi.toString)
          }
          out.write((s"#mordel\t${md.matched}\t${md.probes.size}\t" +
            s"${cells.mkString("\t")}\t${md.files.toSeq.sorted.mkString(",")}\n")
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        case mk: MorKeyDelete =>
          require(!mk.keyCol.contains('\t') && !mk.keyCol.contains(','),
            s"mor-delete column name unserializable: '${mk.keyCol}'")
          val inline =
            if (mk.inline.isEmpty) "-" else mk.inline.mkString(",")
          val side = mk.sidecar.getOrElse("-")
          val bloom = if (mk.bloom.isEmpty) "-" else mk.bloom
          // typed inline keys are hex-encoded by construction — safe
          // against the line's tab/comma framing by the alphabet alone
          val ityped =
            if (mk.inlineTyped.isEmpty) "-" else mk.inlineTyped.mkString(",")
          out.write((s"#morkey\t${mk.matched}\t${mk.keyCol}\t$inline\t" +
            s"$side\t$bloom\t${mk.files.toSeq.sorted.mkString(",")}\t" +
            s"${mk.kind}\t$ityped\n")
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
      shards.sortBy(_.name).foreach { r =>
        val cells = r.boxes.flatMap { case (mn, mx) => Seq(mn, mx) }
        val typed = r.tboxes.flatMap { case (lo, hi) =>
          Seq(tCell(lo), tCell(hi)) }
        val nulls = r.nulls.map(_.toString)
        val head = Seq("#shard", r.name, r.files.toString,
          r.rows.toString) ++ cells.map(_.toString) ++
          Seq(r.minRows.toString)
        out.write(((head ++ typed ++ nulls).mkString("\t") + "\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
    } finally out.close()
    val won = commitCas(fs, tmp, new Path(dir, s"v$v"))
    if (!won) fs.delete(tmp, false)
    won
  }

  /** The CAS itself: make `dest` exist with `tmp`'s (complete) content
    * iff `dest` does not already exist. Per-filesystem primitive, the
    * same dispatch discipline as [[WriterLease.createExclusive]]:
    * local filesystems hard-LINK the temp file into place — `link(2)`
    * is kernel-atomic and fails `EEXIST`, and the destination appears
    * fully formed because it IS the already-complete temp inode (a
    * plain local rename would silently overwrite a destination, which
    * is exactly how a fenced-out zombie writer could clobber its
    * successor's published version). HDFS-like filesystems get
    * `rename`, which their namenode already refuses when the
    * destination exists; a false return re-checks existence to split
    * "lost the race" (return false) from "I/O failure" (throw).
    */
  private def commitCas(fs: FileSystem, tmp: Path, dest: Path): Boolean = {
    def generic(): Boolean =
      if (fs.exists(dest)) false
      else if (fs.rename(tmp, dest)) true
      else if (fs.exists(dest)) false // lost the race at the rename itself
      else throw new java.io.IOException(
        s"manifest publish failed for ${dest.getName} (rename " +
          s"$tmp -> $dest returned false with no competing manifest)")
    fs match {
      case _: org.apache.hadoop.fs.LocalFileSystem |
           _: org.apache.hadoop.fs.RawLocalFileSystem
          if fs.getScheme == "file" =>
        val t = java.nio.file.Paths.get(fs.makeQualified(tmp).toUri.getPath)
        val d = java.nio.file.Paths.get(fs.makeQualified(dest).toUri.getPath)
        try {
          java.nio.file.Files.createLink(d, t)
          fs.delete(tmp, false)
          true
        } catch {
          case _: java.nio.file.FileAlreadyExistsException => false
          case _: UnsupportedOperationException => generic()
        }
      case _ => generic()
    }
  }

  /** Write `df`'s rows as new immutable files and return their
    * (name, footprints) entries — the shared data path of every commit
    * (append, upsert, MERGE/UPDATE, COW delete, materialize and
    * compaction). The parquet job writes into a scratch dir; the part
    * files are then MOVED into `files/` under a fresh uuid prefix.
    * Nothing is visible to readers until some manifest names them.
    * When a typed column is a TIMESTAMP and the session writes INT96,
    * `df`'s plan is re-bound into a clone of the session that writes
    * INT64 micros; every other write runs on `df`'s own session.
    *
    * FILE COUNT: one file per partition of `shape(df)` after
    * [[rightSized]] — a frame that asks for no layout is coalesced into
    * `ceil(estimate / spark.sql.files.maxPartitionBytes)` files (at
    * least one), so a small write lands as one file, not one runt per
    * input partition; a frame that states a layout (`shape`, or the
    * caller's own repartition/sort) and a rewrite of files with
    * disjoint stat ranges keep their partitioning.
    */
  private def writeFiles(df: DataFrame, root: String,
      statCols: Seq[String], typed: Seq[TypedCol] = Seq.empty,
      shape: DataFrame => DataFrame = identity): Seq[Entry] = {
    val spark = df.sparkSession
    val fs = fsFor(spark, root)
    val uuid = java.util.UUID.randomUUID().toString.replace("-", "")
    val stage = s"$root/.stage-$uuid"
    // Spark still DEFAULTS to INT96 timestamps, which carry NO usable
    // parquet statistics — a timestamp typed column would silently
    // never prune, so such a write runs on a clone that writes INT64
    // micros (what Iceberg always writes). Readers handle both physical
    // forms transparently, and the stat reader normalizes units, so
    // this is a pruning enabler, never a correctness requirement.
    val tsKey = "spark.sql.parquet.outputTimestampType"
    val tsNames = typed.map(_.name).toSet
    val needsMicros = spark.conf.get(tsKey) == "INT96" &&
      df.schema.fields.exists(f => tsNames(f.name) &&
        f.dataType == org.apache.spark.sql.types.TimestampType)
    val src =
      if (!needsMicros) df
      else DatasetBridge.ofRows(DatasetBridge.cloneSession(spark,
        tsKey -> "TIMESTAMP_MICROS"), df.queryExecution.analyzed)
    // write parquet BLOOM FILTERS for every stat column (typed ones
    // too): footprints prune RANGE probes, blooms prune POINT probes
    // on the same columns — [[pointRead]] checks them footer-only, so
    // an equality lookup on an unclustered stat column skips files the
    // [min,max] box cannot rule out
    (statCols ++ typed.map(_.name))
      .foldLeft(rightSized(shape(src), statCols).write.mode("overwrite")) {
        (w, c) => w.option(s"parquet.bloom.filter.enabled#$c", "true")
      }
      .parquet(stage)
    fs.mkdirs(new Path(filesDir(root)))
    val sizes = scala.collection.mutable.Map.empty[String, Long]
    val moved = fs.listStatus(new Path(stage)).toSeq
      .filter(st => st.isFile && st.getPath.getName.startsWith("part-"))
      .map { st =>
        val dest = new Path(filesDir(root), s"$uuid-${st.getPath.getName}")
        if (!fs.rename(st.getPath, dest))
          throw new java.io.IOException(s"file move failed: ${st.getPath}")
        sizes(dest.getName) = st.getLen // recorded in the manifest entry
        dest.toString
      }
    fs.delete(new Path(stage), true)
    val stats = Layout.footerStatsTyped(spark, moved, statCols,
      typed.map(tc => (tc.name, tc.kind)))
    // a ZERO-ROW output file (an empty write, or a delete's rewrite
    // that removed a file's every row) carries no information — drop
    // the file instead of manifesting it
    val (emptyFiles, dataFiles) = stats.partition(_._2 == 0L)
    emptyFiles.foreach { case (name, _, _, _, _) =>
      fs.delete(new Path(filesDir(root), name), false)
      ()
    }
    // FAIL LOUDLY, never silently lose rows: a NON-empty file without
    // usable LONG statistics for every stat column (non-Long column
    // type, misspelled name) cannot be manifested —
    // publishing only the survivors would make the skipped files' rows
    // invisible to every read and the next vacuum would delete them
    // permanently, with a green version id returned. TYPED bounds are
    // best-effort by design (an unprovable bound just disables pruning
    // on that side), so they never abort.
    val missing = dataFiles.collect { case (name, _, None, _, _) => name }
    if (missing.nonEmpty)
      throw new IllegalArgumentException(
        s"append aborted: ${missing.size} of ${dataFiles.size} data files " +
          s"have no usable long statistics for stat columns " +
          s"${statCols.mkString("[", ", ", "]")} (non-Long column type " +
          s"or a misspelled name?): " +
          s"${missing.take(3).mkString(", ")}. Nothing was published; " +
          "the moved files are unreferenced and will be vacuumed.")
    dataFiles.map { case (name, rows, boxes, tb, nulls) =>
      Entry(name, rows, boxes.get, sizes.getOrElse(name, -1L), tb, nulls)
    }
  }

  /** The file-count rule of [[writeFiles]]. A frame keeps its
    * partitioning, one file per partition, when its analyzed plan
    * reaches through narrow `Project`/`Filter` nodes only
    *  - an explicit `Repartition`, `RepartitionByExpression`,
    *    `RebalancePartitions` or `Sort`: the write stated its layout (a
    *    cluster spec, `compactZorder`'s z-ranges, `compactSmallFiles`'
    *    range packing, or a caller's own
    *    `repartitionByRange(8, f).drop("f")`);
    *  - a scan of files whose footer boxes are pairwise disjoint on one
    *    of `statCols`: a rewrite of a range-laid-out table, whose files
    *    would prune less once merged.
    * Any other frame is coalesced into `n = ceil(estimate /
    * spark.sql.files.maxPartitionBytes)` partitions, at least one, so
    * each written file is about one read split. The estimate is the
    * optimizer's `sizeInBytes`, which runs no job. Coalescing into at
    * least as many partitions as the frame has changes nothing, and an
    * estimate Spark cannot make (an RDD-backed relation, such as a
    * checkpointed frame, reads as `Long.MaxValue`) leaves the frame as
    * it is.
    */
  private def rightSized(df: DataFrame, statCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter,
      LogicalPlan, Project, RebalancePartitions, Repartition,
      RepartitionByExpression, Sort}
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
      LogicalRelation}
    @annotation.tailrec
    def source(p: LogicalPlan): LogicalPlan = p match {
      case Project(_, child) => source(child)
      case Filter(_, child) => source(child)
      case other => other
    }
    val target = df.sparkSession.sessionState.conf.filesMaxPartitionBytes
    val n = ((df.queryExecution.optimizedPlan.stats.sizeInBytes +
      target - 1) / target).max(1)
    val keep = n >= Int.MaxValue || (source(df.queryExecution.analyzed) match {
      case _: Repartition | _: RepartitionByExpression |
           _: RebalancePartitions | _: Sort => true
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
        val files = fs.location.inputFiles.toSeq
        files.size > n && rangeDisjoint(df.sparkSession, files, statCols)
      case _ => false
    })
    if (keep) df else df.coalesce(n.toInt)
  }

  /** True iff the files' footer [min, max] boxes are pairwise disjoint
    * on at least one of `statCols` (a file NULL in every row of that
    * column overlaps nothing).
    */
  private def rangeDisjoint(spark: SparkSession, files: Seq[String],
      statCols: Seq[String]): Boolean = {
    val boxes = Layout.footerStatsTyped(spark, files, statCols, Seq.empty)
      .flatMap(_._3)
    boxes.size == files.size && statCols.indices.exists { i =>
      val sorted = boxes.map(_(i)).filter(b => b._1 <= b._2).sortBy(_._1)
      sorted.zip(sorted.drop(1)).forall { case (a, b) => a._2 < b._1 }
    }
  }

  /** Best-effort removal of files written but never published (a DML
    * restart after a true conflict) — [[vacuum]] would collect them
    * anyway; immediate cleanup just keeps the grace window honest.
    */
  private def discard(spark: SparkSession, root: String,
      entries: Seq[Entry], shards: Seq[ShardRef] = Seq.empty): Unit = {
    val fs = fsFor(spark, root)
    entries.foreach { e =>
      try fs.delete(new Path(filesDir(root), e.name), false)
      catch { case _: Exception => () }
    }
    shards.filter(_.name.nonEmpty).foreach { r =>
      try fs.delete(new Path(manifestsDir(root), r.name), false)
      catch { case _: Exception => () }
    }
  }

  private def backoff(attempt: Int): Unit =
    if (attempt > 0) Thread.sleep(math.min(40L, 5L * attempt))

  /** The one BOUNDED-RESTART loop: run `once` (one whole optimistic
    * attempt from a fresh base; None = it hit a true conflict and
    * published nothing) until it yields, backing off between attempts,
    * and give up after [[MaxDmlRestarts]] consecutive conflicts.
    */
  private[pipeline] def withRestarts[T](op: String, root: String)(
      once: => Option[T]): T = {
    @annotation.tailrec
    def go(attempt: Int): T = once match {
      case Some(r) => r
      case None if attempt >= MaxDmlRestarts =>
        throw new java.util.ConcurrentModificationException(
          s"$op at $root: $attempt consecutive conflicting commits; " +
            "giving up — retry when ingest quiesces")
      case None =>
        backoff(attempt)
        go(attempt + 1)
    }
    go(1)
  }

  /** The one CAS-PUBLISH loop: hand `step` the newest (version,
    * manifest) — None while the table has no version — and repeat,
    * with backoff, while it returns None, which a step does only when
    * its [[tryPublish]] lost the CAS. Every other outcome (a win, a
    * replay, a true conflict) is the step's Some.
    */
  @annotation.tailrec
  private def casPublish[T](spark: SparkSession, root: String,
      attempt: Int = 0)(step: Option[(Long, Manifest)] => Option[T]): T =
    step(latestManifest(spark, root)) match {
      case Some(r) => r
      case None =>
        backoff(attempt + 1)
        casPublish(spark, root, attempt + 1)(step)
    }

  /** The commit of every REWRITE writer (compaction, bin-pack,
    * materialization, COW delete, the keyed-changes engine): the
    * writer computed `written` data files and `shards` (its new and
    * replacement shards) against base `m0`, replacing the candidate
    * shards `candNames`; publish them as `kind` over the newest
    * manifest, rebased by [[rebaseCarry]] with the writer's
    * `newEntryConflict`. A TRUE conflict — on a legacy flat base any
    * concurrent commit, otherwise a changed marker list (the rewrite
    * applied exactly `m0`'s markers) or a failed rebase — discards the
    * writer's files and returns None. With a `frontier`, a newest
    * manifest already at or past it is a replay: files discarded,
    * Some((newest version, false)). Otherwise Some((published, true)).
    * Every rewrite publishes marker-free: its reads applied `m0`'s
    * markers, and the marker check guarantees no other exists.
    */
  private def rebasePublish(spark: SparkSession, root: String, v0: Long,
      m0: Manifest, candNames: Set[String], newEntryConflict: Entry => Boolean,
      written: Seq[Entry], shards: Seq[ShardRef], kind: String,
      schema: Option[org.apache.spark.sql.types.StructType] = None,
      newFiles: Seq[String] = Seq.empty,
      frontier: Option[Long] = None): Option[(Long, Boolean)] =
    casPublish(spark, root) { newest =>
      val (lv, lm) = newest.get
      if (frontier.exists(lm.ingestBatch >= _)) {
        discard(spark, root, written, shards)
        Some(Some((lv, false)))
      } else {
        val carriedOpt =
          if (m0.legacy) { if (lv != v0) None else Some(Seq.empty[ShardRef]) }
          else if (lm.morDeletes != m0.morDeletes) None
          else rebaseCarry(spark, root, m0, lm, candNames, newEntryConflict)
        carriedOpt match {
          case None =>
            discard(spark, root, written, shards)
            Some(None)
          case Some(carried) =>
            Option.when(tryPublish(spark, root, lv + 1, m0.statCols,
              carried ++ shards, frontier.getOrElse(lm.ingestBatch), kind,
              publishSchema(spark, root, lm, schema), newFiles,
              typedCols = m0.typedCols, clusterSpec = m0.clusterSpec))(
              Some((lv + 1, true)))
        }
      }
    }

  /** The latest manifest's shard list with any legacy inline entries
    * MIGRATED into a real shard file — what every publish must carry
    * (the list format stores references only). Migration cost is one
    * O(F) shard write, paid once per legacy table; a CAS loss may
    * orphan the migration shard (vacuumed later), never lose it.
    */
  private def materializedShards(spark: SparkSession, root: String,
      m: Manifest): Seq[ShardRef] =
    if (!m.legacy) m.shards
    else m.shards.flatMap { r =>
      if (r.name.nonEmpty) Some(r)
      else writeShard(spark, root, m.statCols, m.entriesOf(r), m.typedCols)
    }

  /** Rebase a writer's publish onto the newest manifest `lm`. The
    * writer computed its outputs against base `m0`, planning to REPLACE
    * the candidate shards `candNames` — whose entry-name set is the
    * only data it read or rewrote. Resolves what the publish must CARRY
    * from `lm`, at the FILE level rather than the shard-name level (a
    * concurrent append's runt-shard fold is a pure metadata reshuffle —
    * same file names, new shard names — and must COMMUTE with this
    * writer instead of burning its bounded restarts):
    *  - a still-present candidate shard is dropped (the writer's
    *    replacement shards supersede it);
    *  - a base non-candidate shard is carried by reference (immutable,
    *    provably disjoint from the writer's candidate entries);
    *  - a since-base shard is OPENED (there are few — appends and fold
    *    outputs since the snapshot): entries belonging to the writer's
    *    candidate set are STRIPPED into a rewritten carry shard
    *    (carrying a fold output unstripped would duplicate untouched
    *    entries and resurrect deleted ones), and the rest are tested
    *    with `newEntryConflict` (e.g. an append that may have landed
    *    rows inside a delete's box — testing carried-over OLD entries
    *    too is harmless: a non-candidate base entry's box provably
    *    misses, so the test can only fire on genuinely new data).
    * Returns None — a TRUE conflict; restart or abort — when a
    * candidate entry is GONE from `lm` (a concurrent commit rewrote the
    * writer's input data, not just re-sharded it) or a new entry trips
    * the check. Stripped carry shards written by an attempt that then
    * loses its CAS are unreferenced and vacuumed like any other
    * pre-publish debris.
    */
  private def rebaseCarry(spark: SparkSession, root: String,
      m0: Manifest, lm: Manifest, candNames: Set[String],
      newEntryConflict: Entry => Boolean): Option[Seq[ShardRef]] = {
    val candEntries: Set[String] = m0.shards
      .filter(r => candNames(r.name))
      .flatMap(m0.entriesOf).map(_.name).toSet
    val baseShardNames = m0.shardNames
    val carried = Seq.newBuilder[ShardRef]
    val found = scala.collection.mutable.Set.empty[String]
    var conflict = false
    lm.shards.foreach { r =>
      if (!conflict) {
        if (candNames(r.name)) found ++= m0.entriesOf(r).map(_.name)
        else if (baseShardNames(r.name)) carried += r
        else {
          val es = lm.entriesOf(r)
          val (inCand, rest) = es.partition(e => candEntries(e.name))
          if (rest.exists(newEntryConflict)) conflict = true
          else {
            found ++= inCand.map(_.name)
            if (inCand.isEmpty) carried += r
            else carried ++= writeShard(spark, root, m0.statCols, rest,
              m0.typedCols)
          }
        }
      }
    }
    if (conflict || !candEntries.forall(found)) None
    else Some(carried.result())
  }

  /** The conflict HALF of [[rebaseCarry]] for writers that carry `lm`'s
    * shard list untouched (a mor-delete marker publish — metadata only,
    * nothing rewritten): true iff every entry of the base candidate
    * shards is still present SOMEWHERE in `lm`, wherever folds moved it.
    */
  private def filesStillPresent(m0: Manifest, lm: Manifest,
      candNames: Set[String]): Boolean = {
    val candEntries: Set[String] = m0.shards
      .filter(r => candNames(r.name))
      .flatMap(m0.entriesOf).map(_.name).toSet
    val baseShardNames = m0.shardNames
    val found = scala.collection.mutable.Set.empty[String]
    lm.shards.foreach { r =>
      if (candNames(r.name)) found ++= m0.entriesOf(r).map(_.name)
      else if (!baseShardNames(r.name))
        found ++= lm.entriesOf(r).map(_.name).filter(candEntries)
    }
    candEntries.forall(found)
  }

  /** Append `df` as a new version carrying footprint stats for
    * `statCols` (the columns later [[boxRead]] probes can prune on).
    * Returns the published version id. The first append fixes the
    * table's stat columns; later appends must state the same list.
    * Files written: `ceil(estimate / spark.sql.files.maxPartitionBytes)`
    * (at least one) when `df` states no layout, so a small append is
    * one file whatever `df`'s partition count; a `df` whose plan ends in
    * a repartition or sort (under `select`/`drop`/`filter` only) keeps
    * one file per partition (see [[writeFiles]]).
    */
  def append(df: DataFrame, root: String, statCols: Seq[String]): Long =
    appendBatch(df, root, statCols, ingestBatch = -1L)

  /** [[append]] declaring TYPED stat columns as well: string / date /
    * timestamp / int / decimal(≤18) columns whose truncated min-max
    * bounds ride in the manifest so [[sqlRead]] prunes files on the
    * columns real corpora filter by (language, source, date) — the
    * Iceberg typed-bounds idea. Fixed at table creation like the Long
    * stat columns.
    */
  def append(df: DataFrame, root: String, statCols: Seq[String],
      typedStatCols: Seq[String]): Long =
    appendBatchDetailed(df, root, statCols, ingestBatch = -1L,
      typedStatCols)._1

  /** [[append]] additionally DECLARING a cluster spec (first append
    * only — fixed for the table's life, applied automatically by every
    * later append): Iceberg's hidden partitioning. Transforms: a bare
    * column / `identity(col)`, `days(col)`, `truncate(w, col)`,
    * `bucket(n, col)`. Fresh appends then land range-clustered by the
    * transform values, so the manifest's min-max bounds prune probes
    * on the UNDERLYING columns without waiting for a manual
    * [[compactClustered]].
    */
  def append(df: DataFrame, root: String, statCols: Seq[String],
      typedStatCols: Seq[String], clusterBy: Seq[String]): Long =
    appendBatchDetailed(df, root, statCols, ingestBatch = -1L,
      typedStatCols, clusterBy)._1

  /** The typed-column kinds an append's schema induces — rejected
    * loudly when a declared column is missing or of an unsupported
    * type (a silent skip would quietly disable the pruning the caller
    * asked for).
    */
  private def deriveTyped(schema: org.apache.spark.sql.types.StructType,
      names: Seq[String]): Seq[TypedCol] =
    names.map { n =>
      val f = schema.fields.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(
          s"typed stat column '$n' is not in the append schema " +
            schema.fieldNames.mkString("[", ", ", "]")))
      f.dataType match {
        case org.apache.spark.sql.types.StringType => TypedCol(n, 's')
        case org.apache.spark.sql.types.DateType |
             org.apache.spark.sql.types.TimestampType |
             org.apache.spark.sql.types.TimestampNTZType |
             org.apache.spark.sql.types.IntegerType => TypedCol(n, 'l')
        case d: org.apache.spark.sql.types.DecimalType
            if d.precision <= 18 => TypedCol(n, 'd', d.scale)
        case other => throw new IllegalArgumentException(
          s"typed stat column '$n' has unsupported type $other — " +
            "supported: string, date, timestamp, int, decimal(p<=18); " +
            "LongType columns belong in statCols")
      }
    }

  // ——— DECLARED CLUSTER TRANSFORMS (hidden partitioning): Iceberg's
  // partition-spec idea re-expressed as a layout shape the table
  // applies on EVERY append, so fresh data prunes without waiting for
  // a manual compactClustered. Transforms: `col` / `identity(col)`
  // (raw value), `days(col)` (calendar day of a date/timestamp),
  // `truncate(w, col)` (w-char prefix of a string, or w-sized numeric
  // bin), `bucket(n, col)` (hash bucket — co-locates a key's rows so
  // keyed DML rewrites one file per key; bucket values are not
  // manifested, so it aids DML locality and file sizing, not
  // min-max scan pruning — use truncate/identity for that).
  // Declared at table creation, stored in the manifest (`#cluster`),
  // carried by every publish.

  private val BucketRe = """(?i)bucket\(\s*(\d+)\s*,\s*(\w+)\s*\)""".r
  private val TruncClusterRe =
    """(?i)truncate\(\s*(\d+)\s*,\s*(\w+)\s*\)""".r
  private val DaysRe = """(?i)days\(\s*(\w+)\s*\)""".r
  private val IdentityRe = """(?i)identity\(\s*(\w+)\s*\)""".r
  private val BareColRe = """(\w+)""".r

  /** The column a cluster transform reads — also the parse validator:
    * an unparseable transform fails at declaration, not silently at
    * some later append.
    */
  private[pipeline] def clusterColumn(t: String): String = t.trim match {
    case BucketRe(_, c) => c
    case TruncClusterRe(_, c) => c
    case DaysRe(c) => c
    case IdentityRe(c) => c
    case BareColRe(c) => c
    case other => throw new IllegalArgumentException(
      s"unparseable cluster transform '$other' — supported: col, " +
        "identity(col), days(col), bucket(n, col), truncate(w, col)")
  }

  private def clusterExpr(t: String,
      schema: org.apache.spark.sql.types.StructType): Column =
    t.trim match {
      case BucketRe(n, c) => pmod(hash(col(c)), lit(n.toInt))
      case TruncClusterRe(w, c) =>
        schema.fields.find(_.name == c).map(_.dataType) match {
          case Some(org.apache.spark.sql.types.StringType) =>
            substring(col(c), 1, w.toInt)
          case _ => col(c) - pmod(col(c), lit(w.toLong))
        }
      case DaysRe(c) => date_trunc("DAY", col(c))
      case IdentityRe(c) => col(c)
      case BareColRe(c) => col(c)
      case other => throw new IllegalArgumentException(
        s"unparseable cluster transform '$other'")
    }

  /** The write shape a cluster spec induces: range-partition by the
    * transform values and sort within partitions, so each output
    * file covers a NARROW transform range — which is what makes the
    * manifest's min-max (long and typed) bounds tight on the
    * underlying columns for monotonic transforms. AQE coalesces the
    * small trailing partitions of a small append.
    */
  private def clusterShape(spec: Seq[String]): DataFrame => DataFrame =
    if (spec.isEmpty) identity
    else d => {
      val exprs = spec.map(t => clusterExpr(t, d.schema))
      d.repartitionByRange(exprs: _*).sortWithinPartitions(exprs: _*)
    }

  /** [[append]] carrying a streaming INGEST FRONTIER: when
    * `ingestBatch >= 0`, the manifest records it (carried forward by
    * every later version), and an append whose batch id is at or below
    * the recorded frontier is a REPLAY — it publishes nothing and
    * returns the current version. That makes a `foreachBatch` sink
    * exactly-once by construction: a batch crashed after its append
    * but before the checkpoint commit is re-delivered, found at-or-
    * below the frontier, and skipped — the idempotence lives in the
    * same atomic manifest publish as the data, so there is no window
    * where one is visible without the other (the zorder sink needs
    * deterministic-overwrite dirs and a frontier gate at COMPACTION
    * time to get the same guarantee).
    *
    * LOCK-FREE: concurrent appends all commit. The data files and the
    * new shard are written exactly once; only the cheap manifest-list
    * CAS retries, each retry re-pointing the same new shard at the
    * newest shard list. An append never aborts — a lost CAS means
    * another writer committed, so retrying is globally productive, the
    * classic optimistic-commit argument. Metadata cost per append:
    * ONE shard (this append's entries) + ONE list (a line per shard) —
    * never the table's entry set. When the list accumulates runt
    * shards ([[ShardMergeFanIn]] of ≤ [[ShardMergeMaxFiles]] entries),
    * the append folds them into one shard on its first attempt; if a
    * concurrent DML rewrote a fold input, the retry publishes unmerged
    * rather than ever aborting.
    */
  def appendBatch(df: DataFrame, root: String, statCols: Seq[String],
      ingestBatch: Long): Long =
    appendBatchDetailed(df, root, statCols, ingestBatch)._1

  /** [[appendBatch]] that additionally reports whether THIS call
    * published a new version (`false` = the batch id was at or below
    * the recorded frontier: a replay that changed nothing). Callers
    * gating maintenance on "did my batch land" need this explicit
    * signal — inferring it by comparing version numbers around the
    * call misclassifies a replay whenever a concurrent writer advanced
    * the table in between.
    */
  def appendBatchDetailed(df: DataFrame, root: String, statCols: Seq[String],
      ingestBatch: Long, typedStatCols: Seq[String] = Seq.empty,
      clusterBy: Seq[String] = Seq.empty)
      : (Long, Boolean) = {
    val spark = df.sparkSession
    // typed-only tables are legal: an all-string corpus needs no
    // synthetic BIGINT — typed bounds carry the pruning alone (an
    // existing table's append restates its manifest columns, so this
    // also holds on every later append)
    require(statCols.nonEmpty || typedStatCols.nonEmpty,
      "append needs at least one stat column (long or typed)")
    var written: Seq[Entry] = null
    var writtenShard: Option[ShardRef] = None
    var merged: Option[(Set[String], ShardRef)] = None
    casPublish(spark, root) { base =>
      base.foreach { case (_, m) =>
        require(m.statCols == statCols,
          s"stat columns are fixed at table creation: ${m.statCols} != $statCols")
        require(m.typedCols.map(_.name) == typedStatCols,
          s"typed stat columns are fixed at table creation: " +
            s"${m.typedCols.map(_.name)} != $typedStatCols")
        // an existing table's spec applies automatically; a RESTATED
        // spec must match (declaring a different one mid-life would
        // silently fork the layout contract)
        require(clusterBy.isEmpty ||
          m.clusterSpec == clusterBy.map(_.trim),
          s"cluster spec is fixed at table creation: " +
            s"${m.clusterSpec} != $clusterBy")
      }
      // kinds come from the MANIFEST for an existing table (add-only
      // schema evolution keeps them stable); the first append derives
      // them from its own schema and fixes them for the table's life
      val typed = base.map(_._2.typedCols)
        .getOrElse(deriveTyped(df.schema, typedStatCols))
      // likewise the cluster spec: first append declares and fixes it
      val spec = base.map(_._2.clusterSpec).getOrElse(
        clusterBy.map { t =>
          val c = clusterColumn(t)
          require(df.schema.fieldNames.contains(c),
            s"cluster transform '$t' names unknown column '$c' " +
              s"(schema: ${df.schema.fieldNames.mkString(", ")})")
          t.trim
        })
      val frontier = base.map(_._2.ingestBatch).getOrElse(-1L)
      if (ingestBatch >= 0 && ingestBatch <= frontier) {
        // replayed batch: already published (possibly by a racing
        // twin), change nothing; any files this loop already wrote are
        // unreferenced and will be vacuumed
        if (written != null) discard(spark, root, written, writtenShard.toSeq)
        Some((base.get._1, false))
      } else {
        // SCHEMA EVOLUTION: the table schema is the union of every
        // append's fields (add-column only; a column present in both
        // must keep its exact type). It is stored IN the manifest, so
        // reads never depend on footer merging, older files null-fill
        // the added columns, and time travel serves each version under
        // the schema it had THEN.
        val merged0 = mergedSchema(
          tableSchema(spark, root, base.map(_._2)), df.schema)
        val firstAttempt = written == null
        if (firstAttempt) {
          written = writeFiles(df, root, statCols, typed,
            shape = clusterShape(spec))
          writtenShard = writeShard(spark, root, statCols, written, typed)
        }
        val baseShards = base.map { case (_, m) =>
          materializedShards(spark, root, m) }.getOrElse(Seq.empty)
        // opportunistic shard merging, first attempt only (a retry
        // after a lost CAS publishes unmerged — rebase must stay
        // trivial). BOUNDED: fold only the FanIn smallest runts, so one
        // append's metadata write stays O(FanIn × MaxFiles) entries
        // however big the table is — amortized, a steady append stream
        // folds runts as fast as it creates them
        if (firstAttempt) {
          val runts = baseShards.filter(_.files <= ShardMergeMaxFiles)
            .sortBy(_.files).take(ShardMergeFanIn)
          if (runts.size >= ShardMergeFanIn) {
            val m = base.get._2
            val folded = writeShard(spark, root, statCols,
              runts.flatMap(m.entriesOf), typed)
            merged = folded.map(s => (runts.map(_.name).toSet, s))
          }
        }
        val publishShards = merged match {
          case Some((srcNames, foldedShard))
              if srcNames.subsetOf(baseShards.map(_.name).toSet) =>
            baseShards.filterNot(r => srcNames(r.name)) :+ foldedShard
          case _ => baseShards
        }
        val v = base.map(_._1).getOrElse(0L) + 1
        // mor-delete markers carry through appends untouched: they are
        // scoped to THEIR files, so the appended rows — even ones
        // inside a marker's box — are never affected by them
        Option.when(tryPublish(spark, root, v, statCols,
          publishShards ++ writtenShard.toSeq,
          math.max(frontier, ingestBatch), kind = "append",
          Some(merged0.json),
          morDeletes = base.map(_._2.morDeletes).getOrElse(Seq.empty),
          typedCols = typed, clusterSpec = spec))((v, true))
      }
    }
  }

  /** The base manifest's effective schema — the stored one, or, for a
    * table written BEFORE schema storage existed (no `#schema` line),
    * the schema of its current files (one footer pass, migration
    * only). Without this fallback, the first post-upgrade append would
    * stamp ITS OWN field list as the whole table schema and silently
    * drop every old column the new batch happens to lack.
    */
  private def tableSchema(spark: SparkSession, root: String,
      base: Option[Manifest])
      : Option[org.apache.spark.sql.types.StructType] =
    base.flatMap { m =>
      m.schema.orElse {
        if (m.entries.isEmpty) None
        else Some(readNamed(spark, root, m, m.entries.map(_.name)).schema)
      }
    }

  /** The schema a REBASED publish must carry: the newest base's
    * effective schema (concurrent appends may have evolved it) unioned
    * with this writer's own. Resolving through [[tableSchema]] also
    * migrates legacy schema-less manifests — delete and compact used
    * to propagate `schemaJson` verbatim, so a delete that emptied a
    * legacy table published an empty, schema-less, unreadable snapshot.
    */
  private def publishSchema(spark: SparkSession, root: String,
      newest: Manifest,
      own: Option[org.apache.spark.sql.types.StructType]): Option[String] = {
    val base = tableSchema(spark, root, Some(newest))
    own match {
      case Some(s) => Some(mergedSchema(base, s).json)
      case None => base.map(_.json)
    }
  }

  /** Old ∪ new fields, add-only: shared names must keep the exact
    * dataType (silent coercion across files would be the
    * schema-roulette this mechanism exists to eliminate).
    * NULLABILITY UNIONS: a shared field is nullable if EITHER side's
    * is, and a field missing from the other side's batches becomes
    * nullable unconditionally — those files null-fill it at read. A
    * kept non-nullable flag would let the optimizer fold `c IS NULL`
    * to a constant-false empty scan over files that really do hold
    * nulls: silently wrong answers, not just a missed optimization.
    */
  private def mergedSchema(
      old: Option[org.apache.spark.sql.types.StructType],
      next: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = old match {
    case None => next
    case Some(o) =>
      val byName = next.fields.map(f => f.name -> f).toMap
      o.fields.foreach { f =>
        byName.get(f.name).foreach { n =>
          require(n.dataType == f.dataType,
            s"schema evolution is add-only: column '${f.name}' would " +
              s"change ${f.dataType} -> ${n.dataType}")
        }
      }
      val oldNames = o.fieldNames.toSet
      val keptOld = o.fields.map { f =>
        byName.get(f.name) match {
          case Some(n) => f.copy(nullable = f.nullable || n.nullable)
          case None => f.copy(nullable = true) // new files null-fill it
        }
      }
      val added = next.fields.filterNot(f => oldNames(f.name))
        .map(_.copy(nullable = true)) // old files null-fill it
      org.apache.spark.sql.types.StructType(keptOld ++ added)
  }

  /** METADATA-ONLY add-column schema evolution — the explicit form of
    * what an append with a wider schema does implicitly: publish a new
    * version whose stored schema carries the new columns, with every
    * shard carried by reference and NO data touched. Old files (all of
    * them, here) null-fill the added columns at read; historical
    * versions keep serving their own narrower schema — time travel to
    * a pre-evolution version never shows the new columns. Added
    * columns are forced nullable (every existing row IS null in them);
    * adding an existing name is an error, not a silent no-op — the
    * add-only contract lives in [[mergedSchema]], this is its
    * statement form. Returns the published version.
    *
    * CONCURRENCY: optimistic like everything else — the publish
    * carries the NEWEST manifest's shards and schema, so it commutes
    * with concurrent appends/DML (a lost CAS just re-reads and
    * retries; nothing here can conflict, the change is pure metadata).
    */
  def addColumns(spark: SparkSession, root: String,
      newCols: org.apache.spark.sql.types.StructType): Long = {
    require(newCols.fields.nonEmpty, "addColumns: no columns given")
    casPublish(spark, root) { newest =>
      val (lv, lm) = newest.getOrElse(
        sys.error(s"addColumns: no versions at $root"))
      val base = tableSchema(spark, root, Some(lm)).getOrElse(
        sys.error(s"addColumns: no schema resolvable at $root"))
      val clash = newCols.fieldNames.filter(base.fieldNames.contains)
      require(clash.isEmpty,
        s"addColumns at $root: column(s) ${clash.mkString(", ")} " +
          "already exist — evolution is add-only")
      val merged = org.apache.spark.sql.types.StructType(
        base.fields ++ newCols.fields.map(_.copy(nullable = true)))
      Option.when(tryPublish(spark, root, lv + 1, lm.statCols,
        materializedShards(spark, root, lm), lm.ingestBatch,
        kind = "evolve", Some(merged.json),
        morDeletes = lm.morDeletes, typedCols = lm.typedCols,
        clusterSpec = lm.clusterSpec))(lv + 1)
    }
  }

  /** Rewrite the base snapshot z-ordered into `nFiles` files,
    * published as a new version. `by` names two or three of the
    * table's long stat columns ([[Layout.zorderBy]]: a 2-D or 3-D
    * z-value); empty means its first two. Historical versions keep
    * reading the old files until [[vacuum]] reclaims them. Compaction
    * is ALSO the metadata compactor: the new version's list is one
    * shard (plus any since-base carries) however many shards the base
    * had.
    *
    * CONCURRENCY: compaction commutes with appends — a lost CAS
    * rebases by carrying every SHARD added since its base snapshot
    * into the new list unchanged (those shards' files were not part of
    * the layout job, and a later compaction will fold them). It
    * conflicts only with a commit that REWROTE one of its input shards
    * (another compaction, a delete, an upsert): compacting stale
    * inputs would resurrect deleted rows, so that aborts loudly —
    * compaction is optional maintenance, rerunnable at will, and must
    * never trump a data-changing commit. On a legacy flat-manifest
    * base the conflict check degrades to "any concurrent commit
    * restarts the compaction" (shard identity does not exist yet).
    */
  def compactZorder(spark: SparkSession, root: String, nFiles: Int,
      by: Seq[String] = Seq.empty): Long = {
    val (v0, m0) = latestManifest(spark, root).getOrElse(
      sys.error(s"nothing to compact at $root"))
    val cols = if (by.isEmpty) m0.statCols.take(2) else by
    require(cols.size >= 2 && cols.size <= 3 && cols.distinct == cols &&
      cols.forall(m0.statCols.contains),
      s"z-order compaction needs two or three distinct stat columns of " +
        s"${m0.statCols.mkString("[", ", ", "]")}, got " +
        cols.mkString("[", ", ", "]"))
    compactRewrite(spark, root, v0, m0, Layout.zorderBy(_, cols, nFiles))
  }

  /** Rewrite the base snapshot range-CLUSTERED by arbitrary columns —
    * the layout maintenance a TYPED layout needs (cluster by language,
    * by (lang, id), by day) that the two-long-column z-order cannot
    * express. Same full-rewrite concurrency contract as
    * [[compactZorder]]: commutes with appends and folds, aborts on a
    * rewritten input file.
    */
  def compactClustered(spark: SparkSession, root: String, nFiles: Int,
      by: Seq[String]): Long = {
    require(by.nonEmpty, "compactClustered needs at least one column")
    val (v0, m0) = latestManifest(spark, root).getOrElse(
      sys.error(s"nothing to compact at $root"))
    compactRewrite(spark, root, v0, m0, d =>
      d.repartitionByRange(nFiles, by.map(col): _*)
        .sortWithinPartitions(by.map(col): _*))
  }

  /** The shared full-rewrite body of [[compactZorder]] and
    * [[compactClustered]]: read the base snapshot, rewrite it through
    * `shape`, publish optimistically with the file-level rebase.
    */
  private def compactRewrite(spark: SparkSession, root: String,
      v0: Long, m0: Manifest, shape: DataFrame => DataFrame): Long = {
    if (m0.entries.isEmpty) return v0 // emptied table: nothing to lay out
    val df = readEntries(spark, root, m0)
    val entries = writeFiles(df, root, m0.statCols, m0.typedCols, shape)
    val compactShard = writeShard(spark, root, m0.statCols, entries,
      m0.typedCols)
    // a concurrent runt-shard fold (same files, new shard names)
    // commutes; a rewrite of any input FILE or a marker change aborts —
    // compaction is rerunnable maintenance and must never trump a
    // data-changing commit
    rebasePublish(spark, root, v0, m0, m0.shardNames, _ => false, entries,
      compactShard.toSeq, "compact").map(_._1).getOrElse(
      throw new java.util.ConcurrentModificationException(
        s"compaction at $root: a concurrent commit rewrote this " +
          "compaction's input files (delete/upsert/compaction); the " +
          "stale layout was discarded — re-run the compaction"))
  }

  /** BIN-PACK small-file compaction — Iceberg's `optimize` binpack:
    * rewrite ONLY files below `minRows` into ~`targetRows` outputs,
    * carrying every adequately-sized file by name (and every shard the
    * candidates don't live in by reference). Where [[compactZorder]]
    * rewrites the whole table to restore clustering, this is the cheap
    * steady-state maintenance a streaming ingest needs: each
    * micro-batch appends a runt file, and folding runts costs
    * O(small-file rows), never O(table). The bins are range-grouped on
    * the first stat column so locality degrades gently (a later
    * z-order compaction restores it fully). Visible rows are unchanged
    * — change reads and CDC treat it exactly like a compaction.
    * Mor-delete markers are materialized first ([[materializeDeletes]]
    * — a rewrite must never resurrect logically deleted rows). Returns
    * (published version, file-count reduction); publishes nothing when
    * fewer than two candidates exist.
    *
    * CONCURRENCY: optimistic like [[deleteRange]] — since-base appends
    * are carried by reference (their files are not inputs); a commit
    * that rewrote a candidate shard restarts the pack.
    */
  def compactSmallFiles(spark: SparkSession, root: String, minRows: Long,
      targetRows: Long): (Long, Int) = {
    require(minRows >= 1 && targetRows >= minRows,
      "compactSmallFiles needs 1 <= minRows <= targetRows")
    withRestarts("compactSmallFiles", root) {
      materializeDeletes(spark, root)
      packOnce(spark, root, minRows, targetRows)
    }
  }

  private def packOnce(spark: SparkSession, root: String, minRows: Long,
      targetRows: Long): Option[(Long, Int)] = {
    val (v0, m0) = latestManifest(spark, root).getOrElse(
      sys.error(s"nothing to compact at $root"))
    if (m0.morDeletes.nonEmpty) return None // wrapper materializes first
    // candidate selection from the manifest LIST alone: each shard line
    // records its smallest entry row count, so a pack cadence with no
    // runts costs one list read, not an O(all shards) metadata walk
    // (pre-minRows lines, -1, still open their shard once — their next
    // rewrite records it and retires the fallback)
    val candShards = m0.shards.filter(r =>
      r.name.isEmpty ||
        (if (r.minRows >= 0) r.minRows < minRows
         else m0.entriesOf(r).exists(_.rows < minRows)))
    val touched = candShards.flatMap(r => m0.entriesOf(r))
      .filter(_.rows < minRows)
    if (touched.size < 2) return Some((v0, 0)) // nothing to gain
    val touchedNames = touched.map(_.name).toSet
    val totalRows = touched.map(_.rows).sum
    val nBins = math.max(1L, (totalRows + targetRows - 1) / targetRows).toInt
    // pack order: the first long stat column, or (typed-only table)
    // the first typed one — both give range-partitioned packed files
    // whose manifest bounds prune
    val a = m0.statCols.headOption
      .orElse(m0.typedCols.headOption.map(_.name))
      .getOrElse(sys.error(s"table at $root declares no stat columns"))
    val entries = writeFiles(
      readNamed(spark, root, m0, touched.map(_.name)), root, m0.statCols,
      m0.typedCols,
      shape = d =>
        if (nBins == 1) d.coalesce(1)
        else d.repartitionByRange(nBins, col(a)).sortWithinPartitions(col(a)))
    val packedShard = writeShard(spark, root, m0.statCols, entries,
      m0.typedCols)
    val replacements = candShards.flatMap { r =>
      writeShard(spark, root, m0.statCols,
        m0.entriesOf(r).filterNot(e => touchedNames(e.name)), m0.typedCols)
    }
    // kind=compact: a pure rewrite — change reads and CDC skip it
    rebasePublish(spark, root, v0, m0, candShards.map(_.name).toSet,
      _ => false, entries, replacements ++ packedShard.toSeq, "compact")
      .map { case (v, _) => (v, touched.size - entries.size) }
  }

  private def readEntries(spark: SparkSession, root: String,
      m: Manifest): DataFrame = {
    if (m.entries.isEmpty)
      // a legitimately EMPTIED table (a delete that matched every row)
      // must stay readable: zero rows under the stored schema
      m.schema match {
        case Some(s) =>
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s)
        case None => sys.error(
          s"empty snapshot with no stored schema at $root")
      }
    else readVisible(spark, root, m, m.entries.map(_.name))
  }

  /** The conjoined box predicate of a probe list. */
  private def boxPredicate(probes: Seq[(String, Long, Long)]): Column =
    probes.map { case (c, lo, hi) => col(c) >= lo && col(c) <= hi }
      .reduce(_ && _)

  /** Read `names` with the manifest's MERGE-ON-READ delete markers
    * applied — the VISIBLE rows. Files are grouped by their marker-
    * coverage signature so each group's `NOT box` predicates belong to
    * its own scan (they push into parquet row-group pruning like any
    * filter), then unioned; a file outside every marker's file set
    * reads completely clean. NULL-safe like the COW delete: a NULL
    * probed column is outside any box and survives.
    */
  private def readVisible(spark: SparkSession, root: String, m: Manifest,
      names: Seq[String],
      skip: Marker => Boolean = _ => false): DataFrame = {
    val live = m.morDeletes.filterNot(skip)
    if (live.isEmpty) return readNamed(spark, root, m, names)
    val groups = names.groupBy(n =>
      live.zipWithIndex.collect { case (md, i) if md.files(n) => i })
    groups.toSeq.sortBy(_._1.mkString(",")) // deterministic plan shape
      .map { case (idxs, ns) =>
        idxs.foldLeft(readNamed(spark, root, m, ns)) { (d, i) =>
          applyMarker(spark, root, d, live(i))
        }
      }.reduce(_ unionAll _)
  }

  /** Subtract one marker's rows from `d` (rows of its covered files).
    * NULL-safe for both forms: a NULL boxed/keyed value is outside any
    * box and in no key set, so it always SURVIVES. A sidecar key set
    * anti-joins (left_anti keeps NULL-key rows — NULL never matches);
    * an inline set is a negated isin, coalesced for the same reason.
    */
  /** A key marker's inline values as Spark literals of the key's own
    * type — long for 'L', decoded UTF-8 strings for 's'.
    */
  private def inlineKeyValues(k: MorKeyDelete): Seq[Any] =
    if (k.kind == 's')
      k.inlineTyped.map(h => new String(Layout.hexDec(h),
        java.nio.charset.StandardCharsets.UTF_8))
    else k.inline

  private def applyMarker(spark: SparkSession, root: String, d: DataFrame,
      mk: Marker): DataFrame = mk match {
    case md: MorDelete =>
      d.filter(!coalesce(boxPredicate(md.probes), lit(false)))
    case k: MorKeyDelete => k.sidecar match {
      case None =>
        d.filter(!coalesce(
          col(k.keyCol).isin(inlineKeyValues(k): _*), lit(false)))
      case Some(f) =>
        // a USING-join moves the key column to the FRONT of the
        // output — restore the input order, or the positional union
        // across marker-coverage groups silently misaligns columns
        d.join(spark.read.parquet(s"${manifestsDir(root)}/$f")
          .select(col("k").as(k.keyCol)), Seq(k.keyCol), "left_anti")
          .select(d.columns.map(col): _*)
    }
  }

  /** The rows a marker DELETES from `vis` (its files' visible rows) —
    * the positive form [[applyMarker]] negates; CDC emits these.
    */
  private def markerMatches(spark: SparkSession, root: String,
      vis: DataFrame, mk: Marker): DataFrame = mk match {
    case md: MorDelete =>
      vis.filter(coalesce(boxPredicate(md.probes), lit(false)))
    case k: MorKeyDelete => k.sidecar match {
      case None =>
        vis.filter(coalesce(
          col(k.keyCol).isin(inlineKeyValues(k): _*), lit(false)))
      case Some(f) =>
        // restore the input column order after the USING-join, as in
        // [[applyMarker]]
        vis.join(spark.read.parquet(s"${manifestsDir(root)}/$f")
          .select(col("k").as(k.keyCol)), Seq(k.keyCol), "left_semi")
          .select(vis.columns.map(col): _*)
    }
  }

  /** Read `names` under the manifest's stored schema: files written
    * before a column was added null-fill it — no footer merging, no
    * schema roulette from whichever file the reader samples first.
    */
  private def readNamed(spark: SparkSession, root: String, m: Manifest,
      names: Seq[String]): DataFrame = {
    val paths = names.map(n => s"${filesDir(root)}/$n")
    m.schema match {
      case Some(s) => spark.read.schema(s).parquet(paths: _*)
      case None => spark.read.parquet(paths: _*)
    }
  }

  /** The table at its LATEST version — plain `spark.read` over
    * immutable files; no retry loop exists because no swap exists.
    */
  def read(spark: SparkSession, root: String): DataFrame =
    readVersion(spark, root,
      latestVersion(spark, root).getOrElse(sys.error(s"no versions at $root")))

  /** Time travel: the table exactly as-of version `v`. Readable until
    * a vacuum's retention window drops v.
    */
  def readVersion(spark: SparkSession, root: String, v: Long): DataFrame =
    readEntries(spark, root, readManifest(spark, root, v))

  /** The commit log: (version, committed-at epoch millis, kind) for
    * every version still inside the retention window, ascending —
    * Iceberg's snapshot history. Timestamps are the publishers' wall
    * clocks (-1 for versions committed before timestamps existed);
    * kinds are append/compact/delete/upsert. O(#versions) small list
    * reads, no shard or data access.
    */
  def history(spark: SparkSession, root: String): Seq[(Long, Long, String)] =
    versions(spark, root).map { v =>
      val m = readManifest(spark, root, v)
      (v, m.committedAtMs, m.kind)
    }

  /** The newest version committed AT OR BEFORE `tsMillis` — what
    * `readAsOf` resolves through. Errors when the instant precedes the
    * table (or precedes retention: the version that was current then
    * has been vacuumed, and serving the oldest SURVIVOR would silently
    * time-travel forward). Versions predating timestamp storage
    * (committedAtMs = -1) are treated as infinitely old — a best-
    * effort lower bound, exactly what an upgraded-in-place table can
    * still answer.
    */
  def versionAsOf(spark: SparkSession, root: String, tsMillis: Long): Long = {
    val h = history(spark, root)
    require(h.nonEmpty, s"no versions at $root")
    val atOrBefore = h.filter(_._2 <= tsMillis)
    require(atOrBefore.nonEmpty,
      s"readAsOf($tsMillis) at $root: the earliest retained version " +
        s"was committed at ${h.head._2} — the instant precedes the " +
        "table (or its retention window)")
    atOrBefore.last._1
  }

  /** Timestamp time travel: the table as it was at `tsMillis`
    * (the newest version committed at or before it).
    */
  def readAsOf(spark: SparkSession, root: String,
      tsMillis: Long): DataFrame =
    readVersion(spark, root, versionAsOf(spark, root, tsMillis))

  /** The PLAIN-SQL serving path: the table as a DataFrame whose file
    * listing is a custom [[org.apache.spark.sql.execution.datasources.FileIndex]]
    * — the exact extension point Delta's and Iceberg's Spark
    * integrations use. Catalyst pushes each query's data filters into
    * `listFiles`, where they become manifest box probes: whole shards
    * drop from the list's aggregate boxes, files from the survivors'
    * footprints, and a pure equality probe additionally bloom-checks
    * the remainder (driver-loop only — planning must not launch jobs).
    * So `spark.sql("... WHERE user_id BETWEEN a AND b")` over a temp
    * view of this frame plans a scan over ONLY the pruned files, with
    * the predicates still pushed into parquet row-group pruning below
    * — no bespoke API in the query path at all. Filters the walker
    * ([[probesOf]]) does not understand (ORs, casts, unknown columns)
    * simply disable pruning for their conjunct: pruning only ever
    * narrows on proof.
    *
    * A snapshot with MERGE-ON-READ markers is served as ONE pruned
    * relation PER marker-coverage group (each with its own `NOT box`
    * filters, unioned) — the pushed predicates still prune each
    * group's files through the manifest, and the markers still apply
    * exactly to their files.
    */
  def sqlRead(spark: SparkSession, root: String,
      version: Option[Long] = None): DataFrame =
    sqlReadWithIndexes(spark, root, version)._1

  /** [[sqlRead]] exposing its FileIndex(es) — the spec observable for
    * what the pushed filters actually pruned: one index for a
    * marker-free snapshot, one per marker-coverage group otherwise
    * (empty for an empty snapshot).
    */
  private[pipeline] def sqlReadWithIndexes(spark: SparkSession,
      root: String, version: Option[Long])
      : (DataFrame, Seq[VersionedFileIndex]) = {
    val v = version.orElse(latestVersion(spark, root)).getOrElse(
      sys.error(s"no versions at $root"))
    val m = readManifest(spark, root, v)
    if (m.entries.isEmpty) return (readEntries(spark, root, m), Seq.empty)
    if (m.morDeletes.isEmpty) {
      val (df, ix) = sqlReadIndexed(spark, root, m, None)
      return (df, Seq(ix))
    }
    val groups = m.entries.map(_.name).groupBy(n =>
      m.morDeletes.zipWithIndex.collect { case (md, i) if md.files(n) => i })
    val parts = groups.toSeq.sortBy(_._1.mkString(","))
      .map { case (idxs, ns) =>
        val (df, ix) = sqlReadIndexed(spark, root, m, Some(ns.toSet))
        (idxs.foldLeft(df) { (d, i) =>
          applyMarker(spark, root, d, m.morDeletes(i))
        }, ix)
      }
    (parts.map(_._1).reduce(_ unionAll _), parts.map(_._2))
  }

  private def sqlReadIndexed(spark: SparkSession, root: String,
      m: Manifest, subset: Option[Set[String]])
      : (DataFrame, VersionedFileIndex) = {
    val schema = m.schema
      .orElse(tableSchema(spark, root, Some(m)))
      .getOrElse(sys.error(s"no schema resolvable at $root"))
    val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val index = new VersionedFileIndex(spark, root, m, subset)
    val relation = org.apache.spark.sql.execution.datasources
      .HadoopFsRelation(
        index,
        new org.apache.spark.sql.types.StructType(),
        schema,
        None,
        new org.apache.spark.sql.execution.datasources
          .parquet.ParquetFileFormat,
        Map.empty[String, String])(cs)
    (cs.baseRelationToDataFrame(relation), index)
  }

  /** The manifest-driven [[org.apache.spark.sql.execution.datasources.FileIndex]]
    * behind [[sqlRead]]. File statuses come from ONE `files/` listing
    * at construction (immutable files — only a vacuum past retention
    * can invalidate them, the same reader contract as everywhere
    * else); `listFiles` walks the pushed conjuncts with [[probesOf]],
    * runs the two-level [[prune]], then the footer-bloom stage.
    */
  private[pipeline] class VersionedFileIndex(spark: SparkSession,
      root: String, m: Manifest, subset: Option[Set[String]] = None)
      extends org.apache.spark.sql.execution.datasources.FileIndex {
    import org.apache.spark.sql.catalyst.expressions.Expression

    /** File statuses SYNTHESIZED from the manifest's recorded byte
      * sizes — planning never lists `files/` (at 800k files on an
      * object store that listing is paged RPC, billed and slow).
      * Tables written before sizes were recorded (any entry with
      * bytes < 0) fall back to ONE directory listing; the entries'
      * next rewrite records sizes and retires the fallback.
      */
    private lazy val statuses: Map[String, org.apache.hadoop.fs.FileStatus] =
      if (m.entries.forall(_.bytes >= 0))
        m.entries.map { e =>
          e.name -> new org.apache.hadoop.fs.FileStatus(
            e.bytes, false, 1, 128L * 1024 * 1024, 0L,
            new Path(filesDir(root), e.name))
        }.toMap
      else {
        val fs = fsFor(spark, root)
        fs.listStatus(new Path(filesDir(root)))
          .map(st => st.getPath.getName -> st).toMap
      }
    private def statusOf(n: String): org.apache.hadoop.fs.FileStatus =
      statuses.getOrElse(n, sys.error(
        s"manifested file missing from $root/files: $n (vacuumed past " +
          "this reader's snapshot?)"))

    /** Spec observable: files kept by the last `listFiles` call. */
    @volatile private[pipeline] var lastKeptFiles: Int = -1

    /** The index's file universe — the whole snapshot, or one
      * marker-coverage group's slice of it.
      */
    private def universe: Seq[String] = subset match {
      case Some(s) => m.entries.map(_.name).filter(s)
      case None => m.entries.map(_.name)
    }

    override def rootPaths: Seq[Path] = Seq(new Path(filesDir(root)))
    override def partitionSchema: org.apache.spark.sql.types.StructType =
      new org.apache.spark.sql.types.StructType()
    override def inputFiles: Array[String] =
      universe.map(n => s"${filesDir(root)}/$n").toArray
    override def sizeInBytes: Long =
      universe.map(n => statusOf(n).getLen).sum
    override def refresh(): Unit = ()

    override def listFiles(
        partitionFilters: Seq[Expression], dataFilters: Seq[Expression])
        : Seq[org.apache.spark.sql.execution.datasources.PartitionDirectory] = {
      val ps = probesOf(dataFilters, m.statCols, m.typedCols)
      val inUniverse: String => Boolean = subset match {
        case Some(s) => s
        case None => _ => true
      }
      val kept0: Seq[String] =
        if (ps.isEmpty) universe
        else prune(m, ps.mayHold)._1.map(_.name).filter(inUniverse)
      // a pure equality (or small IN-list) probe on a LONG stat
      // column — or an equality on a STRING typed column (the doc-id
      // / language point lookup: blooms are written for typed columns
      // too, and on a layout where the truncated bounds cannot prune,
      // the bloom is the only footer-level stage that can) — gets the
      // footer-bloom stage; driver-loop tier only: query PLANNING
      // must not launch jobs
      val kept = ps.eqs.headOption match {
        case Some((c, v)) if kept0.size <= Layout.BloomDriverLoopLimit =>
          bloomSurvivors(spark, root, kept0, c, v)
        case _ => ps.ins.headOption match {
          case Some((i, vs)) if vs.size <= BloomInValueCap &&
              kept0.size <= Layout.BloomDriverLoopLimit =>
            // a file survives when ANY of the IN values may be present
            val c = m.statCols(i)
            val any = vs.map(v =>
              bloomSurvivors(spark, root, kept0, c, v).toSet)
              .reduce(_ union _)
            kept0.filter(any)
          case _ => ps.teqs.headOption match {
            case Some((c, bytes))
                if kept0.size <= Layout.BloomDriverLoopLimit =>
              bloomSurvivors(spark, root, kept0, c, bytes)
            case _ => kept0
          }
        }
      }
      lastKeptFiles = kept.size
      Seq(org.apache.spark.sql.execution.datasources.PartitionDirectory(
        org.apache.spark.sql.catalyst.InternalRow.empty,
        kept.map(statusOf).toArray))
    }
  }

  // ——— THE STATS-PRUNING ALGEBRA: one walker ([[probesOf]]: conjuncts
  // → [[Probes]]), one bounds test ([[Probes.mayHold]]), one two-level
  // prune ([[prune]]: shards, then their files). Every pruning path
  // goes through them — the SQL FileIndex, deleteWhere,
  // deleteRange/deleteRangeMor, boxRead, pointRead and the keyed-DML
  // candidacy — so a fix to pruning semantics lands once.

  /** A conjunction of stats probes: long ranges and IN-lists (by
    * stat-column index), typed encoded ranges and IN-lists (by
    * typed-column index, with the column's kind), and NULL checks (by
    * index over statCols ++ typedCols; true = IS NULL). `eqs`/`teqs`
    * are the long and string equalities the footer-bloom stage can
    * use. `exactBox` is the whole predicate as a long box by column
    * NAME, set only when every conjunct is an exact comparison of a
    * column with an integer literal — SQL DELETE's long-box route,
    * decided on the syntax before any column is looked up.
    */
  private[pipeline] case class Probes(
      boxes: Seq[(Int, Long, Long)] = Seq.empty,
      ins: Seq[(Int, Seq[Long])] = Seq.empty,
      tranges: Seq[(Int, Char, Option[String], Option[String])] = Seq.empty,
      tins: Seq[(Int, Char, Seq[String])] = Seq.empty,
      nullChecks: Seq[(Int, Boolean)] = Seq.empty,
      eqs: Seq[(String, Long)] = Seq.empty,
      teqs: Seq[(String, Array[Byte])] = Seq.empty,
      exactBox: Option[Seq[(String, Long, Long)]] = None) {
    def isEmpty: Boolean = boxes.isEmpty && ins.isEmpty &&
      tranges.isEmpty && tins.isEmpty && nullChecks.isEmpty

    /** THE bounds test: can a file or shard with these stats hold a row
      * passing every probe? A sound over-approximation: an absent typed
      * bound or an unknown (-1) null count never prunes; an empty long
      * range (`c > Long.MaxValue`) prunes everything, and so does an
      * empty long box (`Layout.AllNullBox`: the column is NULL in every
      * row), against every long range and IN-list.
      */
    def mayHold(b: Bounds): Boolean =
      boxes.forall { case (i, lo, hi) =>
        val (mn, mx) = b.boxes(i); lo <= hi && mn <= mx && hi >= mn && lo <= mx
      } &&
      ins.forall { case (i, vs) =>
        val (mn, mx) = b.boxes(i); vs.exists(v => v >= mn && v <= mx)
      } &&
      tranges.forall { case (i, k, lo, hi) =>
        hi.zip(b.tLo(i)).forall { case (h, mn) => tCompare(k, h, mn) >= 0 } &&
        lo.zip(b.tHi(i)).forall { case (l, mx) => tCompare(k, l, mx) <= 0 }
      } &&
      tins.forall { case (i, k, vs) =>
        vs.exists(v => b.tLo(i).forall(tCompare(k, v, _) >= 0) &&
          b.tHi(i).forall(tCompare(k, v, _) <= 0))
      } &&
      nullChecks.forall { case (i, isNull) =>
        val n = b.nullsAt(i) // -1 (unknown) passes both directions
        if (isNull) n != 0L else n != b.rows
      }
  }

  /** THE predicate walker: conjuncts → [[Probes]] against the stat and
    * typed columns. Columns are resolved `AttributeReference`s (the
    * FileIndex's pushed filters) or the parser's single-part
    * `UnresolvedAttribute`s (DML WHERE text, whose unresolved BETWEEN
    * is lowered here). Understood: =, <, <=, >, >= between a column and
    * a literal (either side), BETWEEN, IN/InSet of at most
    * [[InProbeCap]] literals, IS [NOT] NULL. Long comparisons are exact
    * (strict ones via ±1; past a Long extreme the range is empty);
    * typed literals must carry the column's exact type, and typed
    * strict comparisons relax to inclusive. Anything else (OR, casts,
    * functions, unknown columns) contributes nothing: pruning narrows
    * only on proof.
    */
  private[pipeline] def probesOf(
      conjuncts: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
      statCols: Seq[String], typedCols: Seq[TypedCol]): Probes = {
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute,
      UnresolvedFunction}
    import org.apache.spark.sql.catalyst.expressions.{And,
      AttributeReference, EqualTo, Expression, GreaterThan,
      GreaterThanOrEqual, In, InSet, IsNotNull, IsNull, LessThan,
      LessThanOrEqual, Literal}
    import org.apache.spark.sql.types._
    val lo = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    val hi = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    val tlo = scala.collection.mutable.Map.empty[Int, String]
    val thi = scala.collection.mutable.Map.empty[Int, String]
    val ins = Seq.newBuilder[(Int, Seq[Long])]
    val tins = Seq.newBuilder[(Int, Char, Seq[String])]
    val nullChecks = Seq.newBuilder[(Int, Boolean)]
    val eqs = Seq.newBuilder[(String, Long)]
    val teqs = Seq.newBuilder[(String, Array[Byte])]
    var exact = true
    def nameOf(x: Expression): Option[String] = x match {
      case a: AttributeReference => Some(a.name)
      case u: UnresolvedAttribute if u.nameParts.size == 1 =>
        Some(u.nameParts.head)
      case _ => None
    }
    def statIdx(c: String) = Some(statCols.indexOf(c)).filter(_ >= 0)
    def typedIdx(c: String) =
      Some(typedCols.indexWhere(_.name == c)).filter(_ >= 0)
    // INTEGER literals only, by their SQL type: a DateType literal is an
    // Int internally too, and must not read as a long probe
    def longLit(x: Expression): Option[Long] = x match {
      case Literal(v: Long, LongType) => Some(v)
      case Literal(v: Int, IntegerType) => Some(v.toLong)
      case _ => None
    }
    // a literal of the exact type the typed column carries, encoded the
    // way its bounds are; anything else (a cast, a collated string, a
    // scale-mismatched decimal) yields no proof
    def typedLit(tc: TypedCol, x: Expression): Option[String] =
      (tc.kind, x) match {
        case ('s', Literal(u: org.apache.spark.unsafe.types.UTF8String, t))
            if t == StringType => Some(Layout.hexEnc(u.getBytes))
        case ('l', Literal(v: Int, DateType | IntegerType)) =>
          Some(v.toString)
        case ('l', Literal(v: Long, TimestampType | TimestampNTZType)) =>
          Some(v.toString)
        case ('d', Literal(d: Decimal, dt: DecimalType))
            if dt.scale == tc.scale && dt.precision <= 18 =>
          Some(d.toUnscaledLong.toString)
        case _ => None
      }
    def narrowLo(c: String, v: Long): Unit =
      lo(c) = math.max(lo.getOrElse(c, Long.MinValue), v)
    def narrowHi(c: String, v: Long): Unit =
      hi(c) = math.min(hi.getOrElse(c, Long.MaxValue), v)
    def empty(c: String): Unit = {
      narrowLo(c, Long.MaxValue); narrowHi(c, Long.MinValue)
    }
    def tNarrow(i: Int, v: String, lower: Boolean): Unit = {
      val (bound, keep) =
        if (lower) (tlo, (r: Int) => r >= 0) else (thi, (r: Int) => r <= 0)
      bound(i) = bound.get(i)
        .filter(b => keep(tCompare(typedCols(i).kind, b, v))).getOrElse(v)
    }
    // `c op v`, op one of = < <= > >=
    def compare(c: String, op: String, v: Expression): Unit = {
      longLit(v) match {
        case Some(x) => op match {
          case "=" =>
            narrowLo(c, x); narrowHi(c, x)
            if (statIdx(c).nonEmpty) eqs += ((c, x))
          case ">=" => narrowLo(c, x)
          case "<=" => narrowHi(c, x)
          case ">" => if (x == Long.MaxValue) empty(c) else narrowLo(c, x + 1)
          case _ => if (x == Long.MinValue) empty(c) else narrowHi(c, x - 1)
        }
        case None => exact = false
      }
      typedIdx(c).foreach { i =>
        typedLit(typedCols(i), v).foreach { t =>
          if (op != "<" && op != "<=") tNarrow(i, t, lower = true)
          if (op != ">" && op != ">=") tNarrow(i, t, lower = false)
          // the footer-bloom stage hashes a string's RAW bytes
          if (op == "=" && typedCols(i).kind == 's')
            teqs += ((c, Layout.hexDec(t)))
        }
      }
    }
    // `v op c` is `c flipped(op) v`
    val flipped = Map("=" -> "=", "<" -> ">", "<=" -> ">=", ">" -> "<",
      ">=" -> "<=")
    def cmp(a: Expression, op: String, b: Expression): Unit =
      (nameOf(a), nameOf(b)) match {
        case (Some(c), _) if b.isInstanceOf[Literal] => compare(c, op, b)
        case (_, Some(c)) if a.isInstanceOf[Literal] =>
          compare(c, flipped(op), a)
        case _ => exact = false
      }
    // WHERE id IN (…) — the point-lookup batch shape: a union of point
    // probes, capped at InProbeCap (no pruning above it, never a wrong
    // plan)
    def inList(a: Expression, vs: Seq[Expression]): Unit = {
      exact = false
      if (vs.nonEmpty && vs.size <= InProbeCap) nameOf(a).foreach { c =>
        statIdx(c).foreach { i =>
          val ls = vs.flatMap(longLit)
          if (ls.size == vs.size) ins += ((i, ls))
        }
        typedIdx(c).foreach { i =>
          val ts = vs.flatMap(typedLit(typedCols(i), _))
          if (ts.size == vs.size) tins += ((i, typedCols(i).kind, ts))
        }
      }
    }
    // IS NULL keeps only files whose recorded null count is nonzero;
    // IS NOT NULL (pushed for nearly every filter) drops all-null files
    def nullCheck(a: Expression, isNull: Boolean): Unit = {
      exact = false
      nameOf(a).foreach { c =>
        statIdx(c).foreach(i => nullChecks += ((i, isNull)))
        typedIdx(c).foreach(i => nullChecks += ((statCols.size + i, isNull)))
      }
    }
    def walk(e: Expression): Unit = e match {
      case And(l, r) => walk(l); walk(r)
      case f: UnresolvedFunction if f.arguments.size == 3 &&
          f.nameParts.map(_.toLowerCase(java.util.Locale.ROOT)) ==
            Seq("between") =>
        walk(GreaterThanOrEqual(f.arguments(0), f.arguments(1)))
        walk(LessThanOrEqual(f.arguments(0), f.arguments(2)))
      case GreaterThanOrEqual(a, b) => cmp(a, ">=", b)
      case GreaterThan(a, b) => cmp(a, ">", b)
      case LessThanOrEqual(a, b) => cmp(a, "<=", b)
      case LessThan(a, b) => cmp(a, "<", b)
      case EqualTo(a, b) => cmp(a, "=", b)
      case In(a, list) => inList(a, list)
      // the optimizer's large-IN form holds internal values: re-wrap
      // them as literals of the child's type
      case InSet(a, set) =>
        inList(a, set.toSeq.map(v => Literal(v, a.dataType)))
      case IsNull(a) => nullCheck(a, isNull = true)
      case IsNotNull(a) => nullCheck(a, isNull = false)
      case _ => exact = false // OR / cast / udf / unknown: no proof
    }
    conjuncts.foreach(walk)
    val box = (lo.keySet ++ hi.keySet).toSeq.map { c =>
      (c, lo.getOrElse(c, Long.MinValue), hi.getOrElse(c, Long.MaxValue))
    }
    Probes(
      boxes = box.flatMap { case (c, l, h) => statIdx(c).map((_, l, h)) },
      ins = ins.result(),
      tranges = (tlo.keySet ++ thi.keySet).toSeq.sorted.map { i =>
        (i, typedCols(i).kind, tlo.get(i), thi.get(i))
      },
      tins = tins.result(), nullChecks = nullChecks.result(),
      eqs = eqs.result(), teqs = teqs.result(),
      exactBox = Option.when(exact && box.nonEmpty)(box))
  }

  /** THE two-level prune: the shards whose aggregate stats pass `hit`
    * (an entry passes ⇒ its shard's aggregate passes, so a failing
    * shard is never opened; the legacy inline pseudo-shard is always a
    * candidate, DML migrates it), then the files of those shards that
    * pass it. Returns (kept files, candidate shards).
    */
  private def prune(m: Manifest,
      hit: Bounds => Boolean): (Seq[Entry], Seq[ShardRef]) = {
    val shards = m.shards.filter(r => r.name.isEmpty || hit(r))
    (shards.flatMap(m.entriesOf).filter(hit), shards)
  }

  /** A long box by column name as [[Probes]]; None when a column is not
    * a manifested long stat column.
    */
  private def longBox(m: Manifest,
      box: Seq[(String, Long, Long)]): Option[Probes] = {
    val idx = box.map { case (c, _, _) => m.statCols.indexOf(c) }
    Option.when(!idx.contains(-1))(Probes(boxes =
      idx.zip(box).map { case (i, (_, l, h)) => (i, l, h) }))
  }

  /** [[longBox]] for DML, which must never guess: an unmanifested
    * column is an error.
    */
  private def dmlBox(m: Manifest, box: Seq[(String, Long, Long)],
      what: String): Probes =
    longBox(m, box).getOrElse(throw new IllegalArgumentException(
      s"$what probes must name manifested stat columns " +
        s"${m.statCols.mkString("[", ", ", "]")}; " +
        s"got ${box.map(_._1).mkString("[", ", ", "]")}"))

  /** IN-lists longer than this fall back to no pruning — a probe per
    * value is driver work, and a thousand-value IN belongs to a join,
    * not a manifest walk.
    */
  private[pipeline] val InProbeCap: Int = 64

  /** At most this many IN values get the per-value footer-bloom stage
    * (each value is one footer read per candidate file).
    */
  private[pipeline] val BloomInValueCap: Int = 8

  /** Box probe over the latest version, path-pruned by the metadata's
    * OWN footprints at BOTH levels — whole shards from the manifest
    * list's aggregate boxes (without opening them), then files from
    * the surviving shards' entries — with the exact filter applied on
    * the survivors. Returns the pruned DataFrame; `prunedFileCount`
    * reports the shrink for observability. Long stat columns only by
    * construction (the probe tuple is Long); TYPED-column pruning
    * (string/date/timestamp/decimal) goes through [[sqlRead]] — a
    * plain `.filter(...)` on its frame pushes into the FileIndex and
    * prunes identically, so `sqlRead(root).filter($"lang" === "de")`
    * IS the typed boxRead.
    */
  def boxRead(spark: SparkSession, root: String,
      probes: Seq[(String, Long, Long)]): DataFrame = {
    val (kept, m) = prunedEntries(spark, root, probes)
    val df =
      if (kept.isEmpty) readEntries(spark, root, m).limit(0)
      else readVisible(spark, root, m, kept)
    probes.foldLeft(df) { case (d, (c, lo, hi)) =>
      d.filter(col(c) >= lo && col(c) <= hi)
    }
  }

  /** (kept files, total files) for a box probe — the observable
    * LayoutManifestPruningSpec-style tests assert on. The total comes
    * from the manifest list's per-shard counts: metadata-only, no
    * shard outside the probe is ever opened.
    */
  def prunedFileCount(spark: SparkSession, root: String,
      probes: Seq[(String, Long, Long)]): (Int, Int) = {
    val (kept, m) = prunedEntries(spark, root, probes)
    (kept.size, m.totalFiles.toInt)
  }

  private def prunedEntries(spark: SparkSession, root: String,
      probes: Seq[(String, Long, Long)]): (Seq[String], Manifest) = {
    require(probes.nonEmpty, "boxRead needs at least one probe")
    val v = latestVersion(spark, root).getOrElse(
      sys.error(s"no versions at $root"))
    val m = readManifest(spark, root, v)
    val kept = longBox(m, probes) match {
      case Some(ps) => prune(m, ps.mayHold)._1.map(_.name)
      case None => m.entries.map(_.name) // unknown column: no pruning
    }
    (kept, m)
  }

  /** Markers accumulate until a materialization folds them into the
    * data — reads pay one NOT-box filter per marker on covered files,
    * so the count is capped: [[deleteRangeMor]] at the cap
    * auto-materializes first, exactly like Iceberg compacting delete
    * files when they pile up.
    */
  val MaxMorDeletes: Int = 16

  /** MERGE-ON-READ range delete — the metadata-only sibling of
    * [[deleteRange]]: instead of rewriting every box-intersecting
    * file (O(√F) data writes for a selective box on a z-ordered
    * table), publish ONE manifest that records the box, the exact
    * visible-row count it matched, and the file set it applies to.
    * Readers ([[read]]/[[readVersion]]/[[boxRead]]/[[pointRead]])
    * apply `NOT box` to rows from those files; rows APPENDED later —
    * even inside the same box — are untouched because the marker is
    * file-scoped (Iceberg's sequence-number scoping, by name).
    * [[fastCount]] stays exact (the matched count was computed against
    * the then-visible snapshot, and the covered files stay immutable
    * until materialization). CDC emits the marker's rows as ordinary
    * deletes. The delete itself writes NO data files: at 100 TB a
    * selective delete becomes one small scan (the count) plus one
    * metadata CAS. [[materializeDeletes]], [[compactZorder]], and any
    * COW DML fold markers into the data; markers are capped at
    * [[MaxMorDeletes]] (auto-materializing at the cap). Returns
    * (version, rows logically deleted); publishes nothing when no
    * visible row matches.
    *
    * CONCURRENCY: optimistic like [[deleteRange]] — restarts when a
    * concurrent commit rewrote a candidate shard (the count basis) or
    * changed the marker list; appends never conflict with it.
    */
  def deleteRangeMor(spark: SparkSession, root: String,
      probes: Seq[(String, Long, Long)]): (Long, Long) = {
    require(probes.nonEmpty, "deleteRangeMor needs at least one probe")
    withRestarts("deleteRangeMor", root)(morDeleteOnce(spark, root, probes))
  }

  private def morDeleteOnce(spark: SparkSession, root: String,
      probes: Seq[(String, Long, Long)]): Option[(Long, Long)] = {
    val (v0, m0) = latestManifest(spark, root).getOrElse(
      sys.error(s"no versions at $root"))
    if (m0.morDeletes.size >= MaxMorDeletes) {
      materializeDeletes(spark, root)
      return None // restart against the materialized base
    }
    val (touched, candShards) =
      prune(m0, dmlBox(m0, probes, "deleteRangeMor").mayHold)
    if (touched.isEmpty) return Some((v0, 0L))
    val files = touched.map(_.name).toSet
    // the exact VISIBLE matched count — existing markers applied, so
    // overlapping mor-deletes never double-count and fastCount's
    // subtraction stays exact
    val matched = readVisible(spark, root, m0, touched.map(_.name))
      .filter(coalesce(boxPredicate(probes), lit(false))).count()
    if (matched == 0L) return Some((v0, 0L))
    publishMarker(spark, root, v0, m0, candShards.map(_.name).toSet,
      MorDelete(probes, matched, files)).map(v => (v, matched))
  }

  /** The commit of both mor-delete writers: publish `marker` over the
    * newest manifest's shards, untouched. A TRUE conflict (None) is a
    * rewritten count basis — FILE-level, so a concurrent fold that
    * merely re-sharded the candidate entries commutes — or a changed
    * marker list; on a legacy flat base, any concurrent commit.
    */
  private def publishMarker(spark: SparkSession, root: String, v0: Long,
      m0: Manifest, candNames: Set[String], marker: Marker): Option[Long] =
    casPublish(spark, root) { newest =>
      val (lv, lm) = newest.get
      val conflict =
        if (m0.legacy) lv != v0
        else !filesStillPresent(m0, lm, candNames) ||
          lm.morDeletes != m0.morDeletes
      // materializedShards migrates a legacy base's inline entries into
      // a real shard file — the list format stores references only
      if (conflict) Some(None)
      else Option.when(tryPublish(spark, root, lv + 1, m0.statCols,
        materializedShards(spark, root, lm),
        lm.ingestBatch, kind = "mordelete",
        publishSchema(spark, root, lm, None),
        morDeletes = lm.morDeletes :+ marker,
        typedCols = m0.typedCols, clusterSpec = m0.clusterSpec))(
        Some(lv + 1))
    }

  /** Inline key sets up to this many keys ride in the manifest line
    * itself; larger sets spill to a parquet sidecar.
    */
  val InlineKeyCap: Int = 64

  /** Key-set markers bloom their keys (for [[pointRead]]'s marker
    * skip) up to this many keys — beyond it the fixed-size bloom
    * saturates into uselessness, so none is stored.
    */
  private[pipeline] val KeyBloomMaxKeys: Long = 8192L

  private val KeyBloomBits = 1 << 16 // 8 KiB of bits, k=2 probes

  private def keyBloomHashes(v: Long): (Int, Int) = {
    var x = v * -7046029254386353131L
    x ^= (x >>> 32); x *= -4417276706812531889L; x ^= (x >>> 29)
    ((x & (KeyBloomBits - 1)).toInt,
      ((x >>> 17) & (KeyBloomBits - 1)).toInt)
  }

  private def buildKeyBloom(keys: Seq[Long]): String = {
    val words = new Array[Long](KeyBloomBits / 64)
    keys.foreach { v =>
      val (h1, h2) = keyBloomHashes(v)
      words(h1 >> 6) |= (1L << (h1 & 63))
      words(h2 >> 6) |= (1L << (h2 & 63))
    }
    val bb = java.nio.ByteBuffer.allocate(words.length * 8)
    words.foreach(bb.putLong)
    java.util.Base64.getEncoder.encodeToString(bb.array())
  }

  private[pipeline] def keyBloomMayContain(b64: String, v: Long): Boolean = {
    val bytes = java.util.Base64.getDecoder.decode(b64)
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val words = new Array[Long](bytes.length / 8)
    (0 until words.length).foreach(i => words(i) = bb.getLong())
    val (h1, h2) = keyBloomHashes(v)
    ((words(h1 >> 6) >>> (h1 & 63)) & 1L) == 1L &&
      ((words(h2 >> 6) >>> (h2 & 63)) & 1L) == 1L
  }

  /** MERGE-ON-READ equality delete — Iceberg v2's EQUALITY DELETE
    * files, the GDPR / dedup-removal shape: delete every visible row
    * whose `keyCol` (a manifested LONG stat column, or a STRING typed
    * stat column — the doc-id / URL / user-GUID key real corpora
    * delete by) is in `keys`,
    * publishing ONE metadata marker and rewriting NO data files. Small
    * key sets ([[InlineKeyCap]]) ride inline in the manifest; larger
    * ones spill to an immutable parquet sidecar that readers
    * anti-join, with a bloom over the keys (up to
    * [[KeyBloomMaxKeys]]) letting a [[pointRead]] on the key column
    * skip the marker when its probed value provably isn't deleted.
    * Candidate files resolve through the same two-level stats pruning
    * as [[upsertByKey]]; `matched` is counted against the then-visible
    * snapshot, so [[fastCount]] stays exact under overlapping box and
    * key markers. The keys resolve once per call ([[resolveKeys]]). Up
    * to [[SparseKeyProbeLimit]] keys, one bounded collect is the only
    * job spent on them: files are probed per key, the matched count
    * filters the candidates with an IN-list, and the inline keys and
    * the marker bloom come from the collected array. Above it, one
    * [[countAndBounds]] job sizes the distinct key frame, files are
    * tested against its global [min,max] box, the matched count
    * semi-joins the frame, and the sidecar and bloom read it.
    * Everything else (file scoping, the [[MaxMorDeletes]] cap with
    * auto-materialization, CDC emission, optimistic restarts) behaves
    * exactly like [[deleteRangeMor]]. Returns (version, rows
    * logically deleted); publishes nothing when no visible row
    * matches. `keys` must be a one-column frame; NULL and duplicate
    * keys are dropped (a NULL key matches no row by SQL semantics).
    */
  def deleteKeysMor(spark: SparkSession, root: String, keyCol: String,
      keys: DataFrame): (Long, Long) = {
    require(keys.schema.fields.length == 1,
      s"deleteKeysMor: keys must be a ONE-column frame, got " +
        keys.columns.mkString("[", ", ", "]"))
    val kt = keys.schema.fields.head.dataType
    require(kt == org.apache.spark.sql.types.LongType ||
      kt == org.apache.spark.sql.types.StringType,
      s"deleteKeysMor: the key frame must be LongType (probing a long " +
        s"stat column) or StringType (probing a string typed column); " +
        s"got $kt")
    val ks = resolveKeys(keys.toDF(keyCol), "deleteKeysMor")
    try withRestarts("deleteKeysMor", root)(
      morKeyDeleteOnce(spark, root, keyCol, ks))
    finally ks.release()
  }

  private def morKeyDeleteOnce(spark: SparkSession, root: String,
      keyCol: String, keys: KeySet): Option[(Long, Long)] = {
    val (v0, m0) = latestManifest(spark, root).getOrElse(
      sys.error(s"no versions at $root"))
    if (m0.morDeletes.size >= MaxMorDeletes) {
      materializeDeletes(spark, root)
      return None // restart against the materialized base
    }
    val ki = keyIndex(m0, keyCol, "deleteKeysMor")
    // the frame's type must match the key's storage class — a long
    // frame probing a string column (or vice versa) is a caller bug,
    // not a silent no-match
    val ft = keys.schema.fields.head.dataType
    ki match {
      case Left(_) => require(ft == org.apache.spark.sql.types.LongType,
        s"deleteKeysMor: '$keyCol' is a long stat column but the key " +
          s"frame is $ft")
      case Right(_) => require(ft == org.apache.spark.sql.types.StringType,
        s"deleteKeysMor: '$keyCol' is a string typed column but the " +
          s"key frame is $ft")
    }
    val n = keys.total
    if (n == 0L) return Some((v0, 0L))
    // string keys test against the typed truncated bounds
    val (touched, candShards) = prune(m0, keyedCandidateTest(m0,
      Seq(keyCol), keys, "deleteKeysMor"))
    if (touched.isEmpty) return Some((v0, 0L))
    val files = touched.map(_.name).toSet
    // exact VISIBLE matched count (existing markers applied) — what
    // keeps fastCount's subtraction exact under overlapping markers.
    // The coalesce keeps the IN-list out of the parquet scan: pushed
    // down, it makes the reader load every candidate row group's key
    // bloom, on small files more bytes than the scan itself
    val visible = readVisible(spark, root, m0, touched.map(_.name))
    val matched = (keys match {
      case l: LocalKeys => visible.filter(
        coalesce(col(keyCol).isin(l.column(0): _*), lit(false)))
      case d: DenseKeys => visible.join(d.keyFrame, Seq(keyCol), "left_semi")
    }).count()
    if (matched == 0L) return Some((v0, 0L))
    val (inline, inlineTyped, sidecar) = (ki, keys) match {
      case (Left(_), l: LocalKeys) if n <= InlineKeyCap =>
        (l.column(0).map(_.asInstanceOf[Long]).sorted,
          Seq.empty[String], None)
      case (Right(_), l: LocalKeys) if n <= InlineKeyCap =>
        (Seq.empty[Long],
          l.column(0).map(k => encodeStrKey(k.asInstanceOf[String])).sorted,
          None)
      case _ =>
        (Seq.empty[Long], Seq.empty[String],
          Some(writeKeySidecar(spark, root, keys.frame(spark))))
    }
    // the footer-bloom marker skip serves LONG point reads only —
    // string point probes go through the FileIndex, which never needs
    // the marker bloom
    val bloom = (ki, keys) match {
      case (Left(_), l: LocalKeys) =>
        buildKeyBloom(l.column(0).map(_.asInstanceOf[Long]))
      case (Left(_), d: DenseKeys) if n <= KeyBloomMaxKeys =>
        buildKeyBloom(d.keyFrame.collect().map(_.getLong(0)).toSeq)
      case _ => ""
    }
    val kind = ki match { case Left(_) => 'L'; case Right(_) => 's' }
    val published = publishMarker(spark, root, v0, m0,
      candShards.map(_.name).toSet,
      MorKeyDelete(keyCol, inline, sidecar, bloom, matched, files, kind,
        inlineTyped))
    if (published.isEmpty) sidecar.foreach { f =>
      try fsFor(spark, root).delete(new Path(manifestsDir(root), f), false)
      catch { case _: Exception => () }
    }
    published.map(v => (v, matched))
  }

  /** One immutable parquet key sidecar under `manifests/` — written
    * like a data file: a staged Spark write, the single part MOVED to
    * its final `k-<uuid>.parquet` name. Unreferenced sidecars (a lost
    * race, a materialized-away marker) are vacuumed like shards.
    */
  private def writeKeySidecar(spark: SparkSession, root: String,
      kf: DataFrame): String = {
    val fs = fsFor(spark, root)
    val uuid = java.util.UUID.randomUUID().toString.replace("-", "")
    val stage = s"$root/.stage-key-$uuid"
    kf.toDF("k").coalesce(1).write.mode("overwrite").parquet(stage)
    val part = fs.listStatus(new Path(stage)).toSeq
      .find(st => st.isFile && st.getPath.getName.startsWith("part-"))
      .getOrElse(sys.error(s"key sidecar write produced no part: $stage"))
    val name = s"k-$uuid.parquet"
    fs.mkdirs(new Path(manifestsDir(root)))
    if (!fs.rename(part.getPath, new Path(manifestsDir(root), name)))
      throw new java.io.IOException(s"sidecar move failed: $stage")
    fs.delete(new Path(stage), true)
    name
  }

  /** Fold every mor-delete marker into the data: rewrite ONLY the
    * marker-covered files to their visible rows (untouched files and
    * shards carry as in [[deleteRange]]), publish marker-free. Visible
    * rows are unchanged — CDC treats it like a compaction. Returns the
    * published version (or the current one when no markers exist).
    */
  def materializeDeletes(spark: SparkSession, root: String): Long =
    withRestarts("materializeDeletes", root)(materializeOnce(spark, root))

  private def materializeOnce(spark: SparkSession,
      root: String): Option[Long] = {
    val (v0, m0) = latestManifest(spark, root).getOrElse(
      sys.error(s"no versions at $root"))
    if (m0.morDeletes.isEmpty) return Some(v0)
    val covered = m0.morDeletes.flatMap(_.files).toSet
    val candShards = m0.shards.filter(r =>
      r.name.isEmpty || m0.entriesOf(r).exists(e => covered(e.name)))
    val touched = candShards.flatMap(r => m0.entriesOf(r))
      .filter(e => covered(e.name))
    val touchedNames = touched.map(_.name).toSet
    val entries = writeFiles(
      readVisible(spark, root, m0, touched.map(_.name)),
      root, m0.statCols, m0.typedCols)
    val survivorShard = writeShard(spark, root, m0.statCols, entries,
      m0.typedCols)
    val replacements = candShards.flatMap { r =>
      writeShard(spark, root, m0.statCols,
        m0.entriesOf(r).filterNot(e => touchedNames(e.name)), m0.typedCols)
    }
    rebasePublish(spark, root, v0, m0, candShards.map(_.name).toSet,
      _ => false, entries, replacements ++ survivorShard.toSeq,
      "materialize").map(_._1)
  }

  /** STATS-PRUNED copy-on-write DELETE: remove every row inside the
    * box (all probes conjoined), published as one new version. The
    * metadata footprints drive the rewrite set at both levels — a
    * SHARD whose aggregate box cannot intersect is carried into the
    * new list BY REFERENCE (never opened); inside candidate shards, a
    * FILE whose footprint cannot intersect is carried into a
    * replacement shard by name (same file, same bytes; at scale a
    * selective delete rewrites ~O(√F) of F z-ordered files, not the
    * table), and only intersecting files are re-read, filtered to
    * their surviving rows, and rewritten. Files whose every row died
    * simply vanish (zero-row rewrite outputs are dropped). History is
    * preserved: older versions still reference the pre-delete files
    * until [[vacuum]]. Probes must name manifested stat columns — a
    * delete that cannot be stats-checked would have to rewrite
    * everything, which the caller should request explicitly by
    * compacting instead. Returns (new version, rows deleted);
    * publishes NO new version when nothing matches.
    *
    * CONCURRENCY: a lost CAS rebases over concurrent commits that
    * provably cannot overlap — every candidate shard still present in
    * the newest list and no since-base shard whose AGGREGATE box
    * intersects the delete box (coarser than the per-file check a flat
    * manifest allowed, still sound: an aggregate that misses proves
    * every member file misses). A true overlap (a candidate shard
    * rewritten from under the delete, or an append that may have
    * landed rows INSIDE the box — rows this delete's rewrite never
    * saw) restarts the whole delete from the new base, up to
    * [[MaxDmlRestarts]] times.
    */
  def deleteRange(spark: SparkSession, root: String,
      probes: Seq[(String, Long, Long)]): (Long, Long) = {
    require(probes.nonEmpty, "deleteRange needs at least one probe")
    withRestarts("deleteRange", root) {
      // COW DML computes against raw files — fold any mor-delete
      // markers into the data first so its rewrites cannot resurrect
      // logically deleted rows
      materializeDeletes(spark, root)
      deleteOnce(spark, root, probes)
    }
  }

  /** One optimistic delete attempt: Some(result) on publish or no-op,
    * None on a true conflict (caller restarts from the new base).
    */
  private def deleteOnce(spark: SparkSession, root: String,
      probes: Seq[(String, Long, Long)]): Option[(Long, Long)] = {
    val (v0, m0) = latestManifest(spark, root).getOrElse(
      sys.error(s"no versions at $root"))
    if (m0.morDeletes.nonEmpty) return None // wrapper materializes first
    deleteCore(spark, root, v0, m0, dmlBox(m0, probes, "deleteRange").mayHold,
      boxPredicate(probes))
  }

  /** The shared COW-delete body of [[deleteRange]] and [[deleteWhere]]:
    * `hit` is the probes' bounds test, a sound over-approximation of
    * "may hold a matching row"; `rowPred` is the EXACT row predicate
    * (NULL-safe negation applied here). The same `hit` drives the
    * rebase conflict test, so a since-base entry that may hold
    * matching rows restarts the delete.
    */
  private def deleteCore(spark: SparkSession, root: String,
      v0: Long, m0: Manifest, hit: Bounds => Boolean,
      rowPred: Column): Option[(Long, Long)] = {
    val (touched, candShards) = prune(m0, hit)
    if (touched.isEmpty) return Some((v0, 0L))
    val touchedNames = touched.map(_.name).toSet
    val touchedDf = readNamed(spark, root, m0, touched.map(_.name))
    // NULL-safe: for a row where rowPred evaluates to NULL,
    // filter(!NULL) would DROP the row — a NULL never matches a
    // delete predicate, so it must SURVIVE
    val survivors = touchedDf.filter(!coalesce(rowPred, lit(false)))
    val entries = writeFiles(survivors, root, m0.statCols, m0.typedCols)
    val survivorRows = entries.map(_.rows).sum
    val deleted = touched.map(_.rows).sum - survivorRows
    if (deleted == 0L) {
      // nothing actually matched inside the candidate files: the
      // rewrite is redundant — drop it, publish nothing
      discard(spark, root, entries)
      return Some((v0, 0L))
    }
    // candidate shards are REWRITTEN: their untouched entries carry
    // into replacement shards by name, the survivors land in one new
    // shard; every non-candidate shard rides the list by reference
    val survivorShard = writeShard(spark, root, m0.statCols, entries,
      m0.typedCols)
    val replacements = candShards.flatMap { r =>
      writeShard(spark, root, m0.statCols,
        m0.entriesOf(r).filterNot(e => touchedNames(e.name)), m0.typedCols)
    }
    // a since-base entry whose bounds `hit` (rows this delete's rewrite
    // never saw) restarts. kind=delete: like compaction, the survivor
    // files REWRITE existing rows — readChanges must not report them
    // as new
    rebasePublish(spark, root, v0, m0, candShards.map(_.name).toSet,
      hit, entries, replacements ++ survivorShard.toSeq, "delete")
      .map { case (v, _) => (v, deleted) }
  }

  /** COW DELETE by a conjunctive SQL predicate over stat columns —
    * LONG and TYPED both, so the retention statement every corpus
    * needs works directly:
    * {{{
    *   deleteWhere(spark, root, "day < DATE'2020-06-01'")
    *   deleteWhere(spark, root, "lang = 'old' AND doc_id >= 1000")
    * }}}
    * The predicate is parsed by Spark's parser and walked by the same
    * [[probesOf]] as the SQL FileIndex's pushed filters — long ranges,
    * typed ranges, IN-lists, NULL checks (strict typed comparisons
    * relax to inclusive for PRUNING only — the row rewrite applies the
    * EXACT predicate, NULL-safe). Conjuncts the stats algebra cannot
    * express merely widen the candidate set provided at least ONE
    * conjunct translates — a predicate with no stats-checkable
    * conjunct at all would silently rewrite the whole table and is
    * rejected loudly instead. Same optimistic protocol, marker
    * materialization, and file-level rebase as [[deleteRange]]; the
    * conflict test uses the same translated bounds, so a since-base
    * append that may hold matching rows restarts the delete.
    */
  def deleteWhere(spark: SparkSession, root: String,
      predicateSql: String): (Long, Long) =
    withRestarts("deleteWhere", root) {
      materializeDeletes(spark, root)
      deleteWhereOnce(spark, root, predicateSql)
    }

  private def deleteWhereOnce(spark: SparkSession, root: String,
      predicateSql: String): Option[(Long, Long)] = {
    val (v0, m0) = latestManifest(spark, root).getOrElse(
      sys.error(s"no versions at $root"))
    if (m0.morDeletes.nonEmpty) return None // wrapper materializes first
    val ps = probesOf(
      Seq(spark.sessionState.sqlParser.parseExpression(predicateSql)),
      m0.statCols, m0.typedCols)
    require(!ps.isEmpty,
      s"deleteWhere at $root: no conjunct of '$predicateSql' is " +
        s"stats-checkable against long stat columns " +
        s"${m0.statCols.mkString("[", ", ", "]")} or typed columns " +
        s"${m0.typedCols.map(_.name).mkString("[", ", ", "]")} — a " +
        "delete that cannot be stats-checked would rewrite the whole " +
        "table; request that explicitly by compacting instead")
    deleteCore(spark, root, v0, m0, ps.mayHold, expr(predicateSql))
  }

  /** The most key tuples a keyed commit collects to the driver
    * ([[LocalKeys]]). Such a key set costs one bounded job, and a file
    * is a candidate only if SOME key tuple lies inside its per-column
    * boxes — two keys at the extremes of the id space then rewrite two
    * files, not the whole table the single global bounding box would
    * cover. The same test prunes SHARDS via their aggregate boxes
    * first. A larger key set stays a frame ([[DenseKeys]]).
    */
  val SparseKeyProbeLimit: Long = 4096L

  /** How a DML key column resolves against the manifest:
    * Left(long stat index) or Right(typed index — STRING kind only).
    * Real corpora key on strings (doc ids, URLs, user GUIDs), which is
    * why the typed path exists; date/timestamp/decimal keys are
    * rejected loudly — encode those as long stat columns (epoch
    * days/micros, unscaled), where the box algebra is exact.
    */
  private def keyIndex(m: Manifest, c: String,
      what: String): Either[Int, Int] = {
    val li = m.statCols.indexOf(c)
    if (li >= 0) Left(li)
    else {
      val ti = m.typedCols.indexWhere(_.name == c)
      require(ti >= 0,
        s"$what key column '$c' must be a manifested stat column " +
          s"${m.statCols.mkString("[", ", ", "]")} or a typed stat " +
          s"column ${m.typedCols.map(_.name).mkString("[", ", ", "]")}")
      require(m.typedCols(ti).kind == 's',
        s"$what key column '$c' is a '${m.typedCols(ti).kind}'-kind " +
          "typed column — keyed DML supports LONG stat columns and " +
          "STRING typed columns; encode date/timestamp/decimal keys " +
          "as long stat columns (epoch days/micros, unscaled)")
      Right(ti)
    }
  }

  /** A string key value in the typed-bound encoding (hex UTF-8 bytes,
    * compared with parquet's unsigned byte order) — the SAME encoding
    * the manifest's 's' bounds use, so probe-vs-bound comparisons are
    * exact.
    */
  private def encodeStrKey(s: String): String =
    Layout.hexEnc(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** A keyed commit's key set, resolved once per call and shared by
    * every attempt: the distinct, NULL-free key tuples, aligned with
    * the commit's key columns. [[LocalKeys]] holds them on the driver
    * when they number at most [[SparseKeyProbeLimit]]; [[DenseKeys]]
    * holds the distinct key frame with its count and per-column
    * [min, max] from one [[countAndBounds]] job.
    */
  private sealed trait KeySet {
    def total: Long
    def schema: org.apache.spark.sql.types.StructType
    /** The key tuples as a frame (a local relation for [[LocalKeys]]). */
    def frame(spark: SparkSession): DataFrame
    def release(): Unit = ()
  }

  private final case class LocalKeys(tuples: Seq[org.apache.spark.sql.Row],
      schema: org.apache.spark.sql.types.StructType) extends KeySet {
    def total: Long = tuples.size.toLong
    def column(p: Int): Seq[Any] = tuples.map(_.get(p))
    def frame(spark: SparkSession): DataFrame = {
      import scala.jdk.CollectionConverters._
      spark.createDataFrame(tuples.asJava, schema)
    }
  }

  private final case class DenseKeys(keyFrame: DataFrame, total: Long,
      bounds: Seq[(Any, Any)]) extends KeySet {
    def schema: org.apache.spark.sql.types.StructType = keyFrame.schema
    def frame(spark: SparkSession): DataFrame = keyFrame
    override def release(): Unit = { keyFrame.unpersist(); () }
  }

  /** `frame`'s `cols` as rows, or None when it has more than
    * [[SparseKeyProbeLimit]] rows. ONE job: each task returns its rows,
    * or None as soon as its partition alone passes the limit, so a
    * large frame ships no rows. (`limit(n).collect()` would scan the
    * partitions in growing rounds, one job per round.)
    */
  private def boundedRows(frame: DataFrame, cols: Seq[String])
      : Option[Array[org.apache.spark.sql.Row]] = {
    val limit = SparseKeyProbeLimit.toInt
    val parts = frame.select(cols.map(col): _*).rdd
      .mapPartitions { it =>
        val rows = it.take(limit + 1).toArray
        Iterator.single(Option.when(rows.length <= limit)(rows))
      }.collect()
    Option.when(parts.forall(_.nonEmpty))(parts.flatMap(_.get))
      .filter(_.length <= limit)
  }

  /** The key set of a delete or change batch: `keys`' columns are the
    * key columns, NULL tuples are dropped and duplicates collapse. Up
    * to [[SparseKeyProbeLimit]] rows, the [[boundedRows]] job is the
    * only one. More rows run the dense tier: the distinct key frame is
    * pinned and sized by one [[countAndBounds]] job, and collected
    * after all when it holds at most the limit.
    */
  private def resolveKeys(keys: DataFrame, what: String): KeySet = {
    val present = keys.na.drop()
    boundedRows(present, keys.columns.toSeq) match {
      case Some(rows) => LocalKeys(rows.toSeq.distinct, present.schema)
      case None =>
        val kf = present.distinct()
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val (n, bounds, _) = countAndBounds(kf, keys.columns.toSeq, what)
          if (n > SparseKeyProbeLimit) DenseKeys(kf, n, bounds)
          else {
            val local = LocalKeys(kf.collect().toSeq, present.schema)
            kf.unpersist()
            local
          }
        } catch {
          case e: Throwable => kf.unpersist(); throw e
        }
    }
  }

  /** The "may hold one of the keys" bounds test for keyed DML, over
    * MIXED long and string key columns. A [[LocalKeys]] set is one
    * point probe per tuple, built once — two keys at the extremes of
    * the key space touch two files, not the global-box span; a
    * [[DenseKeys]] set is ONE box probe over each key column's
    * [min, max]. String keys test against the manifest's TRUNCATED
    * bounds (prefix min ≤ every value, increment-truncated max ≥), so
    * candidacy only widens, never misses. The key set's columns are
    * positionally aligned with `keyCols`.
    */
  private def keyedCandidateTest(m: Manifest, keyCols: Seq[String],
      keys: KeySet, what: String): Bounds => Boolean = {
    val idx = keyCols.map(c => keyIndex(m, c, what))
    def probe(lohi: Seq[(Any, Any)]): Probes = {
      val (longs, strs) = idx.zip(lohi).partitionMap {
        case (Left(i), (lo, hi)) =>
          Left((i, lo.asInstanceOf[Long], hi.asInstanceOf[Long]))
        case (Right(ti), (lo, hi)) =>
          Right((ti, 's', Some(encodeStrKey(lo.asInstanceOf[String])),
            Some(encodeStrKey(hi.asInstanceOf[String]))))
      }
      Probes(boxes = longs, tranges = strs)
    }
    val probes = keys match {
      case l: LocalKeys => l.tuples.map(row =>
        probe(idx.indices.map(p => (row.get(p), row.get(p)))))
      case d: DenseKeys => Seq(probe(d.bounds))
    }
    b => probes.exists(_.mayHold(b))
  }

  /** ONE job over `frame`: its row count and each of `cols`' [min, max]
    * (the bounds of a [[DenseKeys]] set), with the caller's `extra`
    * aggregates riding the same pass — their values start at index
    * 1 + 2 × cols.size of the returned row. Only the dense tier runs
    * it; a key set within [[SparseKeyProbeLimit]] is counted on the
    * driver. A non-empty frame must bound every column: the dense test
    * compares the bounds as Longs, where a NULL would silently unbox
    * to 0.
    */
  private def countAndBounds(frame: DataFrame, cols: Seq[String],
      what: String, extra: Seq[Column] = Seq.empty)
      : (Long, Seq[(Any, Any)], org.apache.spark.sql.Row) = {
    val aggs = count(lit(1)) +:
      (cols.flatMap(c => Seq(min(col(c)), max(col(c)))) ++ extra)
    val r = frame.agg(aggs.head, aggs.tail: _*).head
    val total = r.getLong(0)
    val bounds = cols.indices.map(p => (r.get(1 + 2 * p), r.get(2 + 2 * p)))
    cols.zip(bounds).foreach { case (c, (lo, hi)) =>
      require(total == 0L || (lo != null && hi != null),
        allNullKeyMessage(what, total, c))
    }
    (total, bounds, r)
  }

  private def allNullKeyMessage(what: String, total: Long,
      c: String): String =
    s"$what: every one of $total rows carries a NULL key '$c' — " +
      "a NULL key can neither match nor be matched"

  private def nullKeyMessage(nulls: Long, c: String): String =
    s"upsertByKey: $nulls update rows " +
      s"carry a NULL key '$c' — NULL keys can neither replace " +
      "nor be replaced and would duplicate on every upsert"

  private def duplicateKeyMessage(dups: Long, keyCols: Seq[String]): String =
    s"upsertByKey: $dups duplicate-key update rows " +
      s"over ${keyCols.mkString("(", ", ", ")")} — both copies would " +
      "land as an atomically committed corruption; de-duplicate the " +
      "updates first"

  /** The upsert's key set, validated: no NULL keys (NULL = NULL never
    * joins, so a NULL-key update row would neither replace nor be
    * replaceable — it would duplicate on every repeated upsert) and
    * KEY-UNIQUENESS (two update rows with one key would both land).
    * Keys are then unique per update row, so the updates' keys ARE the
    * key set. Up to [[SparseKeyProbeLimit]] update rows, the checks run
    * on the driver over the [[boundedRows]] array; an empty array is an
    * empty key set, which the callers refuse or skip. Above it they
    * fuse into the dense tier's [[countAndBounds]] job: count(col) vs
    * count(*) per key column, and countDistinct over the key tuple.
    * The checks run in the same order, with the same messages, on
    * both tiers.
    */
  private def validatedUpsertKeys(updates: DataFrame,
      keyCols: Seq[String]): KeySet = boundedRows(updates, keyCols) match {
    case Some(rows) =>
      val total = rows.length.toLong
      keyCols.indices.foreach { p =>
        require(total == 0L || rows.exists(!_.isNullAt(p)),
          allNullKeyMessage("upsertByKey", total, keyCols(p)))
      }
      keyCols.indices.foreach { p =>
        val nulls = rows.count(_.isNullAt(p))
        require(nulls == 0, nullKeyMessage(nulls, keyCols(p)))
      }
      val tuples = rows.toSeq.distinct
      require(tuples.size == total,
        duplicateKeyMessage(total - tuples.size, keyCols))
      LocalKeys(tuples, updates.select(keyCols.map(col): _*).schema)
    case None =>
      val (total, bounds, r) = countAndBounds(updates, keyCols,
        "upsertByKey",
        countDistinct(col(keyCols.head), keyCols.tail.map(col): _*) +:
          keyCols.map(c => count(col(c))))
      val at = 1 + 2 * keyCols.size
      keyCols.zipWithIndex.foreach { case (c, i) =>
        val nonNull = r.getLong(at + 1 + i)
        require(nonNull == total, nullKeyMessage(total - nonNull, c))
      }
      val distinctKeys = r.getLong(at)
      require(distinctKeys == total,
        duplicateKeyMessage(total - distinctKeys, keyCols))
      DenseKeys(updates.select(keyCols.map(col): _*).distinct(), total,
        bounds)
  }

  /** Keyed UPSERT (the MERGE INTO shape) as ONE atomic version: rows
    * of `updates` replace current rows with the same key; new keys
    * append. Copy-on-write with the same two-level stats pruning as
    * [[deleteRange]] — each of `keyCols` must be a manifested LONG
    * stat column or a STRING typed stat column (mixed keys work), the
    * updates' per-key-column bounds limit the candidate set
    * (refined per-key when the key set is small, see
    * [[SparseKeyProbeLimit]]), and only candidate files are re-read
    * (anti-joined on the keys) and rewritten; every other file is
    * carried — shards the keys cannot touch by REFERENCE, untouched
    * files inside candidate shards by name. The update rows land as
    * their own files, recorded in the manifest's `#new` list so
    * [[readChanges]] reports exactly the upserted rows (the rewritten
    * survivors are existing rows and contribute nothing). `updates`
    * must be key-unique — verified, not assumed: duplicate-key update
    * rows would both land as an atomically committed corruption, so
    * they fail loudly like NULL keys do. Schema evolution applies as
    * in [[appendBatch]]. Returns (new version, rows replaced).
    *
    * CONCURRENCY: same optimistic protocol as [[deleteRange]] — rebase
    * over provably disjoint commits, restart (bounded) when an input
    * shard was rewritten or a since-base shard may hold one of the
    * keys.
    */
  def upsertByKey(spark: SparkSession, root: String, updates: DataFrame,
      keyCols: Seq[String]): (Long, Long) = {
    require(keyCols.nonEmpty, "upsertByKey needs at least one key column")
    // updates is consumed by several actions (the key collect or the
    // validation agg, then per attempt the aligned write) — a derived
    // MERGE source would re-execute its whole lineage each time
    // unpinned
    val pinned = updates.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val keys = validatedUpsertKeys(pinned, keyCols)
      require(keys.total > 0L, "upsertByKey: empty updates")
      withRestarts("upsertByKey", root) {
        // same rule as deleteRange: COW rewrites must not resurrect
        // rows a mor-delete marker logically removed
        materializeDeletes(spark, root)
        keyedChangesOnce(spark, root, pinned, keys, keyCols, None, None,
          "upsertByKey").map { case (v, _, n) => (v, n) }
      }
    } finally {
      pinned.unpersist()
      ()
    }
  }

  /** ONE optimistic upsert attempt computed against an EXPLICIT base
    * version — the primitive SQL UPDATE/MERGE need for read-my-matches
    * integrity: the caller read its match set at `baseV`, derived
    * `updates` from those rows, and must NOT commit them over a table
    * that moved in a way that could invalidate the derivation. The
    * existing rebase protocol provides exactly that test when anchored
    * at `baseV`: a since-base commit that provably cannot hold any of
    * the keys is rebased over (carried by reference); one that might —
    * a MERGE replacing a matched key's row, an append landing the key
    * again — returns None, and the CALLER recomputes from a fresh
    * read (retrying internally would re-commit the stale rows: the
    * lost-update bug this method exists to close). Returns
    * Some((version, replaced)) on publish, Some((baseV, 0)) without
    * publishing when `updates` is empty (an UPDATE that matched
    * nothing), None on conflict or when mor-delete markers exist at
    * the base (materialize first).
    */
  private[pipeline] def upsertByKeyPinned(spark: SparkSession,
      root: String, updates: DataFrame, keyCols: Seq[String],
      baseV: Long): Option[(Long, Long)] = {
    val pinned = updates.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val keys = validatedUpsertKeys(pinned, keyCols)
      if (keys.total == 0L) Some((baseV, 0L))
      else keyedChangesOnce(spark, root, pinned, keys, keyCols, None,
        Some(baseV), "upsertByKey").map { case (v, _, n) => (v, n) }
    } finally {
      pinned.unpersist()
      ()
    }
  }

  /** Apply ONE CDC batch to this table ATOMICALLY and EXACTLY-ONCE —
    * the downstream half of a change-data feed: `upserts` replace
    * current rows with the same key (new keys append), `deleteKeys`
    * (a one-column-per-key frame of key tuples) remove theirs, and the
    * whole application publishes as ONE version whose manifest records
    * `sourceVersion` as its ingest frontier. A replay — the poller
    * crashed after this commit and re-delivers the batch — finds the
    * frontier at-or-past `sourceVersion` and changes NOTHING, exactly
    * the [[appendBatch]] idempotence argument: the marker commits in
    * the same atomic publish as the data, so there is no window where
    * one is visible without the other. This is what lets
    * [[graft.streaming.VersionedCdcMirror]] maintain a mirror or a
    * derived aggregate from [[readChangesCdc]] with exactly-once
    * semantics across mid-stream restarts. Returns (version, applied —
    * false for a replay).
    *
    * Copy-on-write with the same two-level stats pruning and
    * optimistic protocol as [[upsertByKey]]; existing mor-delete
    * markers materialize first. A batch against a not-yet-existing
    * table must carry no deletes (a CDC stream's first version is pure
    * inserts) and CREATES the table with `keyCols` as its stat
    * columns.
    */
  def applyCdcBatch(spark: SparkSession, root: String, upserts: DataFrame,
      deleteKeys: DataFrame, keyCols: Seq[String],
      sourceVersion: Long): (Long, Boolean) = {
    require(keyCols.nonEmpty, "applyCdcBatch needs at least one key column")
    require(deleteKeys.columns.length == keyCols.length,
      s"deleteKeys must be one column per key: got " +
        s"${deleteKeys.columns.length} for ${keyCols.size} keys")
    if (latestVersion(spark, root).isEmpty) {
      require(deleteKeys.isEmpty,
        s"applyCdcBatch at $root: the table does not exist yet — the " +
          "first batch must be pure inserts")
      // auto-creation manifests keyCols as LONG stat columns; a
      // string-keyed mirror must be created explicitly (an append
      // declaring the key as a typed stat column) before the feed runs
      val strKeys = keyCols.filter(c => upserts.schema.fields.exists(f =>
        f.name == c &&
          f.dataType == org.apache.spark.sql.types.StringType))
      require(strKeys.isEmpty,
        s"applyCdcBatch at $root: cannot auto-create a table keyed on " +
          s"string columns ${strKeys.mkString("[", ", ", "]")} — create " +
          "it first with an append declaring them as typed stat columns")
      return appendBatchDetailed(upserts, root, keyCols, sourceVersion)
    }
    withChangeKeys(upserts, deleteKeys, keyCols) { (pinnedUpserts, keys) =>
      withRestarts("applyCdcBatch", root) {
        materializeDeletes(spark, root)
        keyedChangesOnce(spark, root, pinnedUpserts, keys, keyCols,
          Some(sourceVersion), None, "applyCdcBatch")
          .map { case (v, applied, _) => (v, applied) }
      }
    }
  }

  /** Pin `upserts` and resolve the batch's key set — the upsert keys
    * plus `deleteKeys` ([[resolveKeys]]) — once for `body`, releasing
    * both after it.
    */
  private def withChangeKeys[T](upserts: DataFrame, deleteKeys: DataFrame,
      keyCols: Seq[String])(body: (DataFrame, KeySet) => T): T = {
    val pinned = upserts.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val keys = resolveKeys(deleteKeys.toDF(keyCols: _*)
        .unionByName(pinned.select(keyCols.map(col): _*)), "applyCdcBatch")
      try body(pinned, keys) finally keys.release()
    } finally {
      pinned.unpersist()
      ()
    }
  }

  /** ONE atomic keyed-changes commit (upserts + key deletes in one
    * version) computed against an EXPLICIT base — the SQL MERGE
    * primitive, sharing [[applyCdcBatch]]'s engine without its ingest
    * frontier: the caller derived `upserts`/`deleteKeys` from reads at
    * `baseV`, and a since-base commit that could hold one of the keys
    * conflicts (None — the caller recomputes from a fresh read, the
    * same lost-update discipline as [[upsertByKeyPinned]]). Returns
    * the published version.
    */
  private[pipeline] def applyKeyedChangesPinned(spark: SparkSession,
      root: String, upserts: DataFrame, deleteKeys: DataFrame,
      keyCols: Seq[String], baseV: Long): Option[Long] = {
    require(deleteKeys.columns.length == keyCols.length,
      s"deleteKeys must be one column per key: got " +
        s"${deleteKeys.columns.length} for ${keyCols.size} keys")
    withChangeKeys(upserts, deleteKeys, keyCols) { (pinnedUpserts, keys) =>
      keyedChangesOnce(spark, root, pinnedUpserts, keys, keyCols, None,
        Some(baseV), "applyCdcBatch").map(_._1)
    }
  }

  /** The KEYED-CHANGES engine — one optimistic attempt of
    * [[applyCdcBatch]], [[upsertByKey]] and SQL UPDATE/MERGE: `upserts`
    * replace current rows with the same key (new keys append) and
    * every other key of `keys` (the upsert keys plus any delete keys,
    * resolved once by the caller) loses its rows, all in ONE version
    * computed against `baseV` (default: the newest). With a
    * `frontier`, a base at or past it is a replay that changes
    * nothing, and a batch with neither keys nor upserts publishes only
    * the frontier. A [[LocalKeys]] set costs no job here: files are
    * probed per key, and the rewrite drops the keyed rows with an
    * IN-list filter (one key column) or an anti-join against a local
    * relation of the tuples (several). A [[DenseKeys]] set tests one
    * global box and anti-joins the broadcast key frame. Either way a
    * row whose key is NULL matches no key and survives. Returns
    * Some((version, applied — false for a replay, rows replaced));
    * None on a true conflict or when mor-delete markers exist at the
    * base (the caller materializes first).
    */
  private def keyedChangesOnce(spark: SparkSession, root: String,
      upserts: DataFrame, keys: KeySet, keyCols: Seq[String],
      frontier: Option[Long], baseV: Option[Long], what: String)
      : Option[(Long, Boolean, Long)] = {
    val (v0, m) = baseV match {
      case Some(b) => (b, readManifest(spark, root, b))
      case None => latestManifest(spark, root).getOrElse(
        sys.error(s"$what: no versions at $root"))
    }
    if (frontier.exists(m.ingestBatch >= _)) return Some((v0, false, 0L))
    if (m.morDeletes.nonEmpty) return None // wrapper materializes first
    val merged = mergedSchema(tableSchema(spark, root, Some(m)),
      upserts.schema)
    if (keys.total == 0L && upserts.isEmpty) return frontier match {
      // no frontier, no changes: a MERGE that matched nothing —
      // publish nothing
      case None => Some((v0, true, 0L))
      // a version with no row changes (compaction-only range): publish
      // ONLY the frontier so the replay contract still advances —
      // carried shards unchanged
      case Some(sv) => Some(casPublish(spark, root) { newest =>
        val (lv, lm) = newest.get
        if (lm.ingestBatch >= sv) Some((lv, false, 0L))
        else Option.when(tryPublish(spark, root, lv + 1, m.statCols,
          materializedShards(spark, root, lm), sv,
          kind = "append", publishSchema(spark, root, lm, None),
          morDeletes = lm.morDeletes, typedCols = m.typedCols,
          clusterSpec = m.clusterSpec))((lv + 1, true, 0L))
      })
    }
    val mayHoldKeys = keyedCandidateTest(m, keyCols, keys, what)
    val (touched, candShards) = prune(m, mayHoldKeys)
    val touchedNames = touched.map(_.name).toSet
    val rewritten =
      if (touched.isEmpty) Seq.empty
      else {
        val current = readNamed(spark, root, m, touched.map(_.name))
        writeFiles(keys match {
          case l: LocalKeys if keyCols.size == 1 => current.filter(
            !coalesce(col(keyCols.head).isin(l.column(0): _*), lit(false)))
          case _ => current.join(broadcast(keys.frame(spark)), keyCols,
            "left_anti")
        }, root, m.statCols, m.typedCols)
      }
    val replaced = touched.map(_.rows).sum - rewritten.map(_.rows).sum
    // align the upserts to the evolved schema (older columns they lack
    // null-fill; readNamed serves everything under `merged`)
    val alignedUpserts = merged.fields.foldLeft(upserts: DataFrame) {
      (d, f) =>
        if (d.columns.contains(f.name)) d
        else d.withColumn(f.name, lit(null).cast(f.dataType))
    }.select(merged.fieldNames.map(col): _*)
    // upsert rows land under the declared cluster shape too — every
    // write path honors the spec, exactly like Iceberg partitioning
    val newEntries = writeFiles(alignedUpserts, root, m.statCols,
      m.typedCols, shape = clusterShape(m.clusterSpec))
    // replacement shards: candidate shards lose their touched files,
    // keep everything else by name; the rewritten survivors and the
    // upsert rows land as new shards
    val rewrittenShard = writeShard(spark, root, m.statCols, rewritten,
      m.typedCols)
    val newShard = writeShard(spark, root, m.statCols, newEntries,
      m.typedCols)
    val replacements = candShards.flatMap { r =>
      writeShard(spark, root, m.statCols,
        m.entriesOf(r).filterNot(e => touchedNames(e.name)), m.typedCols)
    }
    rebasePublish(spark, root, v0, m, candShards.map(_.name).toSet,
      mayHoldKeys, rewritten ++ newEntries,
      replacements ++ rewrittenShard.toSeq ++ newShard.toSeq, "upsert",
      Some(merged), newEntries.map(_.name), frontier)
      .map { case (v, applied) => (v, applied, replaced) }
  }

  /** POINT lookup (`col = value`) with THREE metadata-only pruning
    * stages before any data page is read: (1) the manifest list's
    * aggregate shard boxes drop whole shards without opening them;
    * (2) the surviving shards' [min,max] file footprints drop files
    * whose range cannot contain the value; (3) each survivor's parquet
    * BLOOM filter (written for every stat column, read footer-only)
    * drops files that provably do not hold it — the stage that matters
    * when the probed column is NOT the clustering order (a z-ordered
    * (user, ts) layout spreads a given `event_id` stat column across
    * wide ranges; the box keeps many files, the bloom keeps ~the one
    * that has it, modulo the bloom's false-positive rate). The exact
    * filter still runs on whatever survives, so false positives cost
    * I/O, never correctness. Small candidate sets bloom-check in a
    * driver loop ([[Layout.BloomDriverLoopLimit]]) — point lookups are
    * latency-shaped, and a Spark job per probe is scheduling overhead
    * at serving time.
    */
  def pointRead(spark: SparkSession, root: String, c: String,
      value: Long): DataFrame = {
    val (_, kept, m) = pointCandidates(spark, root, c, value)
    // a key-set marker on the PROBED column whose bloom proves the
    // value undeleted can be skipped wholesale: the marker can only
    // remove rows with keyCol == value, and the bloom says there are
    // none — a serving-latency win (no sidecar anti-join) that can
    // never change the answer (bloom false positives just keep the
    // marker applied)
    val skip: Marker => Boolean = {
      case k: MorKeyDelete if k.keyCol == c && k.bloom.nonEmpty =>
        !keyBloomMayContain(k.bloom, value)
      case _ => false
    }
    val df =
      if (kept.isEmpty) readEntries(spark, root, m).limit(0)
      else readVisible(spark, root, m, kept, skip)
    df.filter(col(c) === value)
  }

  /** (stats-kept, bloom-kept, total) file counts for a point probe —
    * the two-stage shrink tests assert on.
    */
  def pointPrunedFileCount(spark: SparkSession, root: String, c: String,
      value: Long): (Int, Int, Int) = {
    val (statsKept, bloomKept, m) = pointCandidates(spark, root, c, value)
    (statsKept.size, bloomKept.size, m.totalFiles.toInt)
  }

  /** (stats-stage candidates, bloom-stage survivors, manifest) — the
    * point probe is the one-value box of [[boxRead]], then the bloom.
    */
  private def pointCandidates(spark: SparkSession, root: String,
      c: String, value: Long): (Seq[String], Seq[String], Manifest) = {
    val (statsKept, m) = prunedEntries(spark, root, Seq((c, value, value)))
    (statsKept, bloomSurvivors(spark, root, statsKept, c, value), m)
  }

  /** `value`: Long (stat columns) or Array[Byte] UTF-8 (string typed
    * columns) — see [[Layout.bloomMayContain]].
    */
  private def bloomSurvivors(spark: SparkSession, root: String,
      candidates: Seq[String], c: String, value: Any): Seq[String] =
    Layout.bloomMayContain(spark,
      candidates.map(n => s"${filesDir(root)}/$n"), c, value)
      .collect { case (name, true) => name }

  /** Exact `count(*)` served from the MANIFEST LIST alone — each shard
    * line carries its row sum, so the answer touches no data files, no
    * footers, and no shard files: one small text read. This is the
    * metadata-only count every table format serves; at 100 TB the
    * difference between this and a scan is the whole table.
    */
  def fastCount(spark: SparkSession, root: String,
      version: Option[Long] = None): Long = {
    val v = version.orElse(latestVersion(spark, root)).getOrElse(
      sys.error(s"no versions at $root"))
    val m = readManifest(spark, root, v)
    // mor-delete markers recorded their EXACT visible-match count when
    // committed, against files that stay immutable until the marker is
    // materialized away — the subtraction is exact, never an estimate
    m.shards.map(_.rows).sum - m.morDeletes.map(_.matched).sum
  }

  /** The ingest frontier recorded by version v's manifest (-1 when the
    * table has never been written through a frontier-carrying path) —
    * what a CDC poller reads to resume exactly-once.
    */
  def ingestFrontier(spark: SparkSession, root: String, v: Long): Long =
    readManifest(spark, root, v).ingestBatch

  /** Incremental CHANGE read — the rows ADDED strictly after `fromV`
    * up to and including `toV` (CDC-lite for an append-only table):
    * the union of files introduced by APPEND versions in the range,
    * resolved by manifest diffs. Compaction versions contribute
    * nothing — they rewrite the same rows into new files, and counting
    * those files would double every row they carry; an incremental
    * consumer that polls `readChanges(lastSeen, latest)` therefore
    * sees every appended row exactly once regardless of how many
    * compactions ran in between. Requires the range's manifests to
    * still be inside the vacuum retention window.
    */
  def readChanges(spark: SparkSession, root: String, fromV: Long,
      toV: Long): DataFrame = {
    require(fromV <= toV, s"readChanges: fromV $fromV > toV $toV")
    val vs = versions(spark, root).toSet
    val needed = (fromV to toV).filter(_ > 0)
    require(needed.forall(vs.contains),
      s"readChanges: versions ${needed.filterNot(vs.contains)} vacuumed " +
        s"away — retention window too short for this consumer")
    // ONE manifest read per version: thread the previous version's
    // name set through the fold (re-reading v-1 per step would double
    // the manifest I/O a long-retention polling consumer pays)
    var prevNames: Set[String] =
      if (fromV <= 0) Set.empty
      else readManifest(spark, root, fromV).names
    val added = Seq.newBuilder[String]
    var last: Option[Manifest] = None
    (fromV + 1 to toV).foreach { v =>
      val m = readManifest(spark, root, v)
      m.kind match {
        case "append" =>
          added ++= m.entries.map(_.name).filterNot(prevNames)
        case "upsert" =>
          // only the update rows are changes; the version's rewritten
          // survivor files carry EXISTING rows
          added ++= m.newFiles
        case _ => () // compact/delete: rewrites of existing rows
      }
      prevNames = m.names
      last = Some(m)
    }
    val names = added.result()
    if (names.isEmpty)
      // empty changes still need a schema — toV's, not the latest's:
      // a consumer unioning per-version change batches must get the
      // schema as-of the range it asked for
      readVersion(spark, root, toV).limit(0)
    else
      // toV's schema: files appended before a column existed null-fill it
      last match {
        case Some(m) => readNamed(spark, root, m, names)
        case None => spark.read.parquet(
          names.map(n => s"${filesDir(root)}/$n"): _*)
      }
  }

  /** Full CHANGE-DATA-CAPTURE read — every row-level change strictly
    * after `fromV` up to and including `toV`, as Delta/Iceberg CDC
    * state it: the table's rows plus `_change_type`
    * (`"insert"`/`"delete"`) and `_commit_version` (the version that
    * committed the change). Where [[readChanges]] serves append-only
    * consumers (inserted rows, no markers), this serves a consumer
    * MIRRORING a table with DML: applying each version's deletes and
    * inserts in order reproduces `readVersion` exactly at every step
    * (an updated row is a delete of its old self plus an insert of its
    * new self — the MERGE decomposition).
    *
    * Everything is resolved from MANIFEST DIFFS — no change log is
    * written, no data is duplicated: history is linear (every
    * published v rebased onto exactly v-1, the CAS guarantees it), so
    *  - append: the added files ARE the inserts;
    *  - compact: a pure rewrite — contributes nothing;
    *  - delete: the removed files held the old rows, the added files
    *    hold the survivors; removed-minus-added (multiset `EXCEPT
    *    ALL`, computed over exactly the touched files) is the deleted
    *    rows;
    *  - upsert: the `#new` files are the inserts; removed-minus-
    *    rewritten is the replaced rows' old selves, emitted as
    *    deletes.
    * Per-version change schemas are aligned to `toV`'s (add-only
    * evolution: earlier versions null-fill later columns). Requires
    * the range's manifests AND the pre-image files of its
    * delete/upsert versions to still be inside the vacuum retention
    * window, exactly like [[readChanges]].
    */
  def readChangesCdc(spark: SparkSession, root: String, fromV: Long,
      toV: Long): DataFrame = {
    require(fromV <= toV, s"readChangesCdc: fromV $fromV > toV $toV")
    val vs = versions(spark, root).toSet
    val needed = (fromV to toV).filter(_ > 0)
    require(needed.forall(vs.contains),
      s"readChangesCdc: versions ${needed.filterNot(vs.contains)} " +
        "vacuumed away — retention window too short for this consumer")
    val target = readVersion(spark, root, toV).limit(0)
    require(!target.columns.contains("_change_type") &&
      !target.columns.contains("_commit_version"),
      "readChangesCdc: the table already carries a CDC column name")
    val fields = target.schema.fields.toSeq
    def aligned(df: DataFrame): DataFrame =
      fields.foldLeft(df) { (d, f) =>
        if (d.columns.contains(f.name)) d
        else d.withColumn(f.name, lit(null).cast(f.dataType))
      }.select(fields.map(f => col(f.name)): _*)
    def tag(df: DataFrame, change: String, v: Long): DataFrame =
      aligned(df).withColumn("_change_type", lit(change))
        .withColumn("_commit_version", lit(v))
    var prev: Option[Manifest] =
      if (fromV <= 0) None else Some(readManifest(spark, root, fromV))
    val parts = Seq.newBuilder[DataFrame]
    (fromV + 1 to toV).foreach { v =>
      val m = readManifest(spark, root, v)
      val prevNames = prev.map(_.names).getOrElse(Set.empty)
      // order-stable name lists (sets would scramble file order)
      val removed = prev.map(_.entries.map(_.name)
        .filterNot(m.names)).getOrElse(Seq.empty)
      val added = m.entries.map(_.name).filterNot(prevNames)
      m.kind match {
        case "append" =>
          if (added.nonEmpty)
            parts += tag(readNamed(spark, root, m, added), "insert", v)
        case "delete" =>
          // the added files of a delete version are survivor rewrites
          val old = readNamed(spark, root, m, removed)
          val dels =
            if (added.isEmpty) old
            else old.exceptAll(readNamed(spark, root, m, added))
          parts += tag(dels, "delete", v)
        case "upsert" =>
          val newSet = m.newFiles.toSet
          val rewrites = added.filterNot(newSet)
          if (removed.nonEmpty) {
            val old = readNamed(spark, root, m, removed)
            val dels =
              if (rewrites.isEmpty) old
              else old.exceptAll(readNamed(spark, root, m, rewrites))
            parts += tag(dels, "delete", v)
          }
          if (m.newFiles.nonEmpty)
            parts += tag(readNamed(spark, root, m, m.newFiles), "insert", v)
        case "mordelete" =>
          // the marker(s) this version appended: their deleted rows are
          // exactly the PREVIOUS version's visible rows inside the box,
          // restricted to the marker's own files — the same basis the
          // marker's matched count was computed against
          val pm = prev.getOrElse(sys.error(
            s"mordelete at v$v with no previous version"))
          m.morDeletes.drop(pm.morDeletes.size).foreach { md =>
            val names = pm.entries.map(_.name).filter(md.files)
            if (names.nonEmpty)
              parts += tag(markerMatches(spark, root,
                readVisible(spark, root, pm, names), md), "delete", v)
          }
        // compact / materialize: pure rewrites, no visible row changed
        case _ => ()
      }
      prev = Some(m)
    }
    parts.result() match {
      case Seq() => tag(target, "insert", toV).limit(0)
      case ps => ps.reduce(_ unionAll _)
    }
  }

  /** Reclaim storage: keep the newest `keepVersions` manifest lists,
    * delete older lists and every data file and SHARD file no kept
    * list references, plus any crashed writer's stage debris. The
    * retention contract: a reader pinning a dropped version loses it —
    * size `keepVersions` to the longest read you serve, exactly as
    * Iceberg's expire_snapshots does. With LOCK-FREE writers,
    * `graceMs` is the second contract: an unreferenced file younger
    * than the grace may belong to a writer between its writes and its
    * manifest CAS (nothing marks it — that's what makes the writers
    * lock-free), so only files older than the grace are collected;
    * size it to the longest write you run (Iceberg's orphan-file
    * retention, default a day). Vacuum itself still serializes against
    * other vacuums via the writer lease — two concurrent reclaims
    * racing the same listing would double-delete — but never blocks,
    * and is never blocked by, data writers. Returns (versions dropped,
    * files deleted — data and shard files both).
    */
  def vacuum(spark: SparkSession, root: String, keepVersions: Int,
      graceMs: Long = DefaultVacuumGraceMs): (Int, Int) = {
    require(keepVersions >= 1, "must keep at least the latest version")
    require(graceMs >= 0, "graceMs must be non-negative")
    val fs = fsFor(spark, root)
    WriterLease.withLease(fs, root, "vtVacuum") {
      val now = System.currentTimeMillis()
      def aged(st: org.apache.hadoop.fs.FileStatus): Boolean =
        now - st.getModificationTime > graceMs
      val vs = versions(spark, root)
      val (drop, keep) = vs.splitAt(math.max(0, vs.size - keepVersions))
      val keptManifests = keep.map(v => readManifest(spark, root, v))
      val referenced = keptManifests
        .flatMap(_.entries.map(_.name)).toSet
      val referencedShards = keptManifests
        .flatMap(_.shardNames).filter(_.nonEmpty).toSet
      val referencedSidecars = keptManifests
        .flatMap(_.morDeletes)
        .collect { case k: MorKeyDelete => k.sidecar }.flatten.toSet
      var filesDeleted = 0
      val fd = new Path(filesDir(root))
      if (fs.exists(fd)) fs.listStatus(fd).foreach { st =>
        if (!referenced(st.getPath.getName) && aged(st)) {
          if (!fs.delete(st.getPath, false)) throw new java.io.IOException(
            s"vacuum: could not delete ${st.getPath}")
          filesDeleted += 1
        }
      }
      drop.foreach { v =>
        if (!fs.delete(new Path(manifestsDir(root), s"v$v"), false))
          throw new java.io.IOException(s"vacuum: could not drop manifest v$v")
      }
      // crashed writers leave .stage-* dirs, .tmp-v* manifests and
      // unreferenced s-* shards; LIVE writers do too, between their
      // writes and their CAS — the grace window is what separates them
      fs.listStatus(new Path(root)).foreach { st =>
        if (st.getPath.getName.startsWith(".stage-") && aged(st))
          fs.delete(st.getPath, true)
      }
      val md = new Path(manifestsDir(root))
      if (fs.exists(md)) fs.listStatus(md).foreach { st =>
        val n = st.getPath.getName
        if (n.startsWith(".tmp-") && aged(st))
          fs.delete(st.getPath, false)
        else if (n.startsWith("s-") && !referencedShards(n) && aged(st)) {
          if (!fs.delete(st.getPath, false)) throw new java.io.IOException(
            s"vacuum: could not delete shard ${st.getPath}")
          filesDeleted += 1
        }
        else if (n.startsWith("k-") && !referencedSidecars(n) && aged(st)) {
          // key-marker sidecars: unreferenced after materialization,
          // a lost CAS, or retention dropping their versions
          if (!fs.delete(st.getPath, false)) throw new java.io.IOException(
            s"vacuum: could not delete key sidecar ${st.getPath}")
          filesDeleted += 1
        }
      }
      (drop.size, filesDeleted)
    }
  }

  // ——— Test seams: name-level and shard-level visibility the public
  // API deliberately hides (specs assert carried-by-name COW economics
  // and list-size bounds; the shard study fabricates metadata).

  /** Entry file names of version v — spec helper (the flat format let
    * tests read these straight off the manifest text; the two-level
    * format keeps them inside shard files).
    */
  private[pipeline] def entryNames(spark: SparkSession, root: String,
      v: Long): Set[String] =
    readManifest(spark, root, v).names

  /** The table's declared cluster spec (empty when none) — what the
    * SQL CREATE's CLUSTER BY validates against.
    */
  private[pipeline] def clusterSpecOf(spark: SparkSession,
      root: String): Seq[String] =
    latestManifest(spark, root).map(_._2.clusterSpec).getOrElse(Seq.empty)

  /** StructField-metadata flag marking a DECLARED KEY column. Keys
    * ride in the manifest-stored schema (not a side file) so every
    * publish path carries them for free: [[mergedSchema]] keeps the
    * OLD field — metadata included — for shared names, and
    * [[addColumns]]/DML republish the stored schema verbatim. The
    * DSv2 catalog writes the flag at CREATE TABLE
    * (`TBLPROPERTIES('keys'='id,…')`); catalog UPDATE/MERGE read it
    * back as the upsert key set, the role the regex front-end's
    * session registry `KEYS(...)` plays.
    */
  private[pipeline] val KeyColMeta = "graft.key"

  /** The table's declared key columns (empty = none declared) — read
    * from the latest manifest's stored schema field metadata.
    */
  private[pipeline] def keyColsOf(spark: SparkSession,
      root: String): Seq[String] =
    latestManifest(spark, root).flatMap(_._2.schema).map(_.fields.toSeq
      .filter(f => f.metadata.contains(KeyColMeta) &&
        f.metadata.getBoolean(KeyColMeta))
      .map(_.name)).getOrElse(Seq.empty)

  /** `schema` with [[KeyColMeta]] set on `keys` — what the catalog's
    * CREATE TABLE stamps onto its empty creation append. Unknown key
    * names reject loudly.
    */
  private[pipeline] def withKeyMetadata(
      schema: org.apache.spark.sql.types.StructType,
      keys: Seq[String]): org.apache.spark.sql.types.StructType = {
    val unknown = keys.filterNot(k =>
      schema.fieldNames.exists(_.equalsIgnoreCase(k)))
    require(unknown.isEmpty,
      s"declared key column(s) ${unknown.mkString(", ")} not in schema " +
        schema.fieldNames.mkString("[", ", ", "]"))
    org.apache.spark.sql.types.StructType(schema.fields.map { f =>
      if (keys.exists(_.equalsIgnoreCase(f.name)))
        f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata).putBoolean(KeyColMeta, true).build())
      else f
    })
  }

  /** (long stat columns, typed stat column names) — what an append
    * must restate; the DSv2 catalog's INSERT path reads them here.
    */
  private[pipeline] def statColumnsOf(spark: SparkSession,
      root: String): (Seq[String], Seq[String]) =
    latestManifest(spark, root)
      .map(m => (m._2.statCols, m._2.typedCols.map(_.name)))
      .getOrElse(sys.error(s"no versions at $root"))

  /** Mor-delete marker count of version v — spec observable. */
  private[pipeline] def morDeleteCount(spark: SparkSession, root: String,
      v: Long): Int =
    readManifest(spark, root, v).morDeletes.size

  /** Distinct files covered by version v's markers — the study
    * observable for candidate-set pruning.
    */
  private[pipeline] def morDeleteCoveredFiles(spark: SparkSession,
      root: String, v: Long): Int =
    readManifest(spark, root, v).morDeletes.flatMap(_.files).toSet.size

  /** Shard count of version v's manifest list. */
  private[pipeline] def shardCount(spark: SparkSession, root: String,
      v: Long): Int =
    readManifest(spark, root, v).shards.count(_.name.nonEmpty)

  /** Rewrite version v's metadata in the FLAT pre-shard format — SPEC
    * ONLY: inline entries under `# versioned v2`, shard files deleted.
    * The caller guarantees no OTHER version references v's shards
    * (true for a single-version table). This is how migration tests
    * obtain a real legacy table with real data files.
    */
  private[pipeline] def flattenToLegacy(spark: SparkSession, root: String,
      v: Long): Unit = {
    val m = readManifest(spark, root, v)
    require(m.morDeletes.isEmpty,
      "flattenToLegacy: the flat format predates mor-delete markers")
    require(m.typedCols.isEmpty,
      "flattenToLegacy: the flat format predates typed stat columns")
    val es = m.entries
    val fs = fsFor(spark, root)
    val dir = new Path(manifestsDir(root))
    require(fs.delete(new Path(dir, s"v$v"), false),
      s"flattenToLegacy: could not drop v$v")
    val out = fs.create(new Path(dir, s"v$v"), false)
    try {
      out.write(s"# versioned v2\t${m.statCols.mkString("\t")}\n"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      out.write(s"#kind\t${m.kind}\n"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      if (m.ingestBatch >= 0)
        out.write(s"#ingest\t${m.ingestBatch}\n"
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      m.schemaJson.foreach(j => out.write(s"#schema\t$j\n"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)))
      if (m.newFiles.nonEmpty)
        out.write(s"#new\t${m.newFiles.mkString(",")}\n"
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      es.sortBy(_.name).foreach(e => out.write((entryLine(e) + "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    } finally out.close()
    m.shards.map(_.name).filter(_.nonEmpty).foreach { n =>
      fs.delete(new Path(dir, n), false)
    }
  }
}
