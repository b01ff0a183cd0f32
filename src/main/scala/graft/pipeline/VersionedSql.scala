package graft.pipeline

import org.apache.spark.sql.catalyst.expressions.{
  And, Attribute, AttributeReference, EqualTo, Expression}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.LongType
import org.apache.spark.sql.{Row, SparkSession}

/** SQL DML routed to the [[VersionedTable]] — the missing half of the
  * SQL story: [[VersionedTable.sqlRead]] made the table READABLE from
  * plain SQL (a temp view over the pruning FileIndex); this makes it
  * WRITABLE from plain SQL. `CREATE VERSIONED TABLE name LOCATION
  * '…' KEYS(…)` registers a root under a session-visible name (and
  * serves it as a temp view); `DELETE FROM name WHERE <box>`,
  * `UPDATE name SET … WHERE <box>` and `MERGE INTO name USING src ON
  * keys … UPDATE SET * … INSERT *` then dispatch to
  * [[VersionedTable.deleteRange]]/[[VersionedTable.deleteRangeMor]],
  * [[VersionedTable.upsertByKey]] — the SAME optimistic lock-free
  * commit protocol as the API path; a SQL delete racing an API append
  * rebases or restarts exactly like an API delete (pinned in
  * `VersionedTableConcurrencySpec`). Statements over names that are
  * NOT registered fall through to Spark's own parser untouched.
  *
  * DELETE's WHERE takes the fast long-box path only when every
  * conjunct is an exact comparison of a column with an integer literal
  * (the box IS the delete's row predicate, so a relaxed translation
  * must never reach it), and otherwise routes to
  * [[VersionedTable.deleteWhere]] (typed columns — dates, strings —
  * the retention shape), which demands at least one stats-checkable
  * conjunct: a delete that cannot be stats-checked would silently
  * rewrite the whole table, so it is rejected loudly. Both routes come
  * from the table's one predicate walker, [[VersionedTable.probesOf]].
  * UPDATE reads its matches through the pruning FileIndex and
  * accepts any predicate: its rewrite is keyed and bounded by the
  * match set, so a wide read is safe where a wide delete is not.
  */
object VersionedSql {

  /** A registered table: root, MERGE/UPDATE key columns, and whether
    * DELETE publishes a merge-on-read marker instead of a COW rewrite.
    */
  case class Registration(root: String, keyCols: Seq[String],
      morDeletes: Boolean)

  // registry keyed per session (a name is a session-level handle like
  // the temp view it serves), weak so a dropped session frees its maps
  private val registries =
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[String, Registration]]()

  private def registry(spark: SparkSession)
      : java.util.concurrent.ConcurrentHashMap[String, Registration] =
    registries.synchronized {
      var m = registries.get(spark)
      if (m == null) {
        m = new java.util.concurrent.ConcurrentHashMap[String, Registration]()
        registries.put(spark, m)
      }
      m
    }

  def register(spark: SparkSession, name: String, root: String,
      keyCols: Seq[String] = Seq.empty,
      morDeletes: Boolean = false): Unit = {
    registry(spark).put(name.toLowerCase(java.util.Locale.ROOT),
      Registration(root, keyCols, morDeletes))
    refreshView(spark, name)
  }

  def lookup(spark: SparkSession, name: String): Option[Registration] =
    Option(registry(spark).get(name.toLowerCase(java.util.Locale.ROOT)))

  /** (Re)serve the registered table as a temp view at its LATEST
    * version — called at registration and after every DML so plain
    * SELECTs over the name observe the committed result. A root with
    * no versions yet registers without a view (the first append brings
    * it).
    */
  def refreshView(spark: SparkSession, name: String): Unit =
    lookup(spark, name).foreach { reg =>
      if (VersionedTable.latestVersion(spark, reg.root).nonEmpty)
        VersionedTable.sqlRead(spark, reg.root)
          .createOrReplaceTempView(name)
    }

  // ——— statement grammar (the AdhesiveDdl discipline: recognize OUR
  // statements with anchored regexes, delegate everything else)

  private val CreateRe =
    """(?is)\s*CREATE\s+VERSIONED\s+TABLE\s+(\w+)\s+LOCATION\s+'([^']+)'(?:\s+KEYS\s*\(([^)]*)\))?(?:\s+CLUSTER\s+BY\s*\(((?:[^()]|\([^()]*\))*)\))?(\s+MOR\s+DELETES)?\s*;?\s*""".r
  private val DeleteRe =
    """(?is)\s*DELETE\s+FROM\s+(\w+)\s+WHERE\s+(.+?)\s*;?\s*""".r
  private val UpdateRe =
    """(?is)\s*UPDATE\s+(\w+)\s+SET\s+(.+?)\s+WHERE\s+(.+?)\s*;?\s*""".r
  private val MergePrefixRe =
    """(?is)\s*MERGE\s+INTO\s+(\w+)(?:\s+AS\s+(\w+))?\s+USING\s+([\s\S]*)""".r
  private val HistoryRe =
    """(?is)\s*DESCRIBE\s+HISTORY\s+(\w+)\s*;?\s*""".r
  private val AlterAddRe =
    """(?is)\s*ALTER\s+VERSIONED\s+TABLE\s+(\w+)\s+ADD\s+COLUMNS\s*\(([^)]*)\)\s*;?\s*""".r
  private val VacuumRe =
    """(?is)\s*VACUUM\s+(\w+)(?:\s+RETAIN\s+(\d+)\s+VERSIONS)?(?:\s+GRACE\s+(\d+)\s+MS)?\s*;?\s*""".r
  private val SnapshotViewRe =
    """(?is)\s*CREATE\s+VERSIONED\s+VIEW\s+(\w+)\s+AS\s+(\w+)(?:\s+VERSION\s+AS\s+OF\s+(\d+)|\s+TIMESTAMP\s+AS\s+OF\s+(\d+))?\s*;?\s*""".r
  private val ChangesViewRe =
    """(?is)\s*CREATE\s+VERSIONED\s+CHANGES\s+VIEW\s+(\w+)\s+AS\s+(\w+)\s+FROM\s+(\d+)\s+TO\s+(\d+)\s*;?\s*""".r

  /** Recognize a versioned-table DML/DDL statement; None delegates to
    * Spark's parser. DELETE/UPDATE/MERGE intercept ONLY registered
    * names — Spark's own DML over its catalogs is untouched.
    */
  def parse(spark: SparkSession, sqlText: String,
      delegate: ParserInterface): Option[LogicalPlan] = sqlText match {
    case CreateRe(name, location, keys, cluster, mor) =>
      val keyCols = Option(keys).map(_.split(',').toSeq
        .map(_.trim).filter(_.nonEmpty)).getOrElse(Seq.empty)
      val clusterBy = Option(cluster)
        .map(splitTopLevelCommas(_).filter(_.nonEmpty))
        .getOrElse(Seq.empty)
      Some(CreateVersionedTableCommand(name, location, keyCols,
        mor != null, clusterBy))
    case DeleteRe(name, where) if lookup(spark, name).isDefined =>
      Some(VersionedDeleteCommand(name, lookup(spark, name).get, where))
    case UpdateRe(name, setClause, where) if lookup(spark, name).isDefined =>
      val reg = lookup(spark, name).get
      require(reg.keyCols.nonEmpty,
        s"UPDATE $name: the registration declares no KEYS — an update " +
          "is a keyed replace and needs them (CREATE VERSIONED TABLE " +
          "... KEYS(...))")
      Some(VersionedUpdateCommand(name, reg, splitSetList(setClause),
        where))
    case MergePrefixRe(name, alias, rest) if lookup(spark, name).isDefined =>
      val reg = lookup(spark, name).get
      val parsed = parseMergeBody(name, rest)
      val keys = mergeKeys(delegate.parseExpression(parsed.onCond), name)
      require(reg.keyCols.isEmpty || keys.sorted == reg.keyCols.sorted,
        s"MERGE INTO $name: ON keys $keys != registered KEYS " +
          s"${reg.keyCols}")
      Some(VersionedMergeCommand(name, reg, Option(alias),
        parsed.sourceSql, parsed.sourceAlias, parsed.onCond, keys,
        parsed.clauses))
    case HistoryRe(name) if lookup(spark, name).isDefined =>
      Some(VersionedHistoryCommand(lookup(spark, name).get))
    case AlterAddRe(name, colsDdl) if lookup(spark, name).isDefined =>
      Some(VersionedAddColumnsCommand(name, lookup(spark, name).get,
        colsDdl))
    case VacuumRe(name, retain, grace) if lookup(spark, name).isDefined =>
      Some(VersionedVacuumCommand(lookup(spark, name).get,
        Option(retain).map(_.toInt).getOrElse(2),
        Option(grace).map(_.toLong)
          .getOrElse(VersionedTable.DefaultVacuumGraceMs)))
    case SnapshotViewRe(view, name, v, ts) if lookup(spark, name).isDefined =>
      Some(VersionedSnapshotViewCommand(view, lookup(spark, name).get,
        Option(v).map(_.toLong), Option(ts).map(_.toLong)))
    case ChangesViewRe(view, name, from, to)
        if lookup(spark, name).isDefined =>
      Some(VersionedChangesViewCommand(view, lookup(spark, name).get,
        from.toLong, to.toLong))
    case _ => None
  }

  /** The DELETE dispatch both SQL front-ends share (the regex
    * [[VersionedDeleteCommand]] and the DSv2 catalog's
    * `SupportsDelete`): a WHERE whose every conjunct is an exact
    * comparison of a column with an integer literal — the walker's
    * `exactBox`, decided on the syntax before any column is looked up —
    * is the row predicate of the fast [[VersionedTable.deleteRange]]
    * path (MOR marker when the table is registered `MOR DELETES`);
    * anything else takes the COW [[VersionedTable.deleteWhere]] path,
    * which demands at least one stats-checkable conjunct and rejects
    * loudly otherwise.
    */
  private[pipeline] def runDelete(spark: SparkSession, name: String,
      root: String, morDeletes: Boolean, where: String): (Long, Long) = {
    val parsed = spark.sessionState.sqlParser.parseExpression(where)
    VersionedTable.probesOf(Seq(parsed), Seq.empty, Seq.empty)
      .exactBox match {
      case Some(probes) if morDeletes =>
        VersionedTable.deleteRangeMor(spark, root, probes)
      case Some(probes) =>
        VersionedTable.deleteRange(spark, root, probes)
      case None =>
        require(!morDeletes,
          s"DELETE FROM $name: MOR DELETES supports long-box WHERE " +
            "only; this predicate needs the copy-on-write path — " +
            "re-register without MOR DELETES or use the API")
        VersionedTable.deleteWhere(spark, root, where)
    }
  }

  /** The MERGE ON conjunction → unqualified key column names; each
    * conjunct must equate the same column on both sides.
    */
  private def mergeKeys(e: Expression, table: String): Seq[String] = {
    def last(x: Expression): Option[String] = x match {
      case u: UnresolvedAttribute => Some(u.nameParts.last)
      case _ => None
    }
    def walk(x: Expression): Seq[String] = x match {
      case And(l, r) => walk(l) ++ walk(r)
      case EqualTo(a, b) =>
        (last(a), last(b)) match {
          case (Some(ka), Some(kb)) if ka.equalsIgnoreCase(kb) => Seq(ka)
          case _ => throw new IllegalArgumentException(
            s"MERGE INTO $table: ON must equate the same column on " +
              s"both sides (t.k = s.k); cannot express: $x")
        }
      case other => throw new IllegalArgumentException(
        s"MERGE INTO $table: ON must be a conjunction of key " +
          s"equalities; cannot express: $other")
    }
    walk(e)
  }

  /** Positions in `s` that sit at paren depth 0, outside any SQL
    * string literal or quoted identifier, AND outside a CASE…END
    * expression — the only places a statement-structure token (',',
    * '=', a keyword) may be recognized. Quote handling follows the
    * SQL lexer: single quotes delimit strings with `''` as the
    * escaped quote; double quotes delimit quoted identifiers;
    * BACKTICKS delimit Spark's quoted identifiers (with ```` as the
    * escaped backtick), so a backticked name containing a keyword or
    * comma never mis-parses. An unparenthesized `CASE WHEN … THEN …
    * END` in an ON condition or a clause's AND condition is masked
    * like a parenthesized region — its WHEN/THEN must not split the
    * MERGE clause list.
    */
  private def topLevelMask(s: String): Array[Boolean] = {
    val mask = new Array[Boolean](s.length)
    val lower = s.toLowerCase(java.util.Locale.ROOT)
    def wordChar(c: Char): Boolean = Character.isLetterOrDigit(c) || c == '_'
    def wordAt(w: String, i: Int): Boolean =
      lower.startsWith(w, i) &&
        (i == 0 || !wordChar(lower.charAt(i - 1))) &&
        (i + w.length >= s.length || !wordChar(lower.charAt(i + w.length)))
    var depth = 0
    var caseDepth = 0
    var quote: Char = 0
    var i = 0
    while (i < s.length) {
      val ch = s.charAt(i)
      if (quote != 0) {
        if (ch == quote) {
          // '' (or ``) inside a quoted region is an escaped quote,
          // not a close-then-open
          if ((quote == '\'' || quote == '`') && i + 1 < s.length &&
              s.charAt(i + 1) == quote)
            i += 1
          else quote = 0
        }
      } else ch match {
        case '\'' | '"' | '`' => quote = ch
        case '(' => depth += 1
        case ')' => depth -= 1
        case _ =>
          if (wordAt("case", i)) { caseDepth += 1; i += 3 }
          else if (caseDepth > 0 && wordAt("end", i)) {
            caseDepth -= 1; i += 2
          } else mask(i) = depth == 0 && caseDepth == 0
      }
      i += 1
    }
    mask
  }

  /** First top-level occurrence of keyword `word` in `s` (word
    * boundaries, case-insensitive, outside parens and string
    * literals), or -1. `from` starts the scan.
    */
  private def findTopLevelWord(s: String, mask: Array[Boolean],
      word: String, from: Int = 0): Int = {
    val lower = s.toLowerCase(java.util.Locale.ROOT)
    val w = word.toLowerCase(java.util.Locale.ROOT)
    def wordChar(c: Char): Boolean = Character.isLetterOrDigit(c) || c == '_'
    var i = lower.indexOf(w, from)
    while (i >= 0) {
      val okLeft = i == 0 || !wordChar(lower.charAt(i - 1))
      val okRight = i + w.length >= s.length ||
        !wordChar(lower.charAt(i + w.length))
      if (okLeft && okRight && mask(i)) return i
      i = lower.indexOf(w, i + 1)
    }
    -1
  }

  /** One `WHEN [NOT] MATCHED [BY SOURCE|BY TARGET] [AND <cond>] THEN
    * <action>` clause of a MERGE statement. Clause order is evaluation
    * order within each match class: a row is claimed by the FIRST
    * clause whose condition holds (SQL's MERGE semantics). The three
    * classes: MATCHED (target row with a source match — UPDATE/DELETE),
    * NOT MATCHED [BY TARGET] (source row with no target match —
    * INSERT), NOT MATCHED BY SOURCE (target row with no source match —
    * UPDATE/DELETE over target columns only: the full-sync shape).
    */
  private[pipeline] sealed trait MergeMatchKind
  private[pipeline] case object Matched extends MergeMatchKind
  private[pipeline] case object NotMatchedByTarget extends MergeMatchKind
  private[pipeline] case object NotMatchedBySource extends MergeMatchKind
  private[pipeline] sealed trait MergeAction
  private[pipeline] case object MergeUpdateStar extends MergeAction
  private[pipeline] case class MergeUpdateSet(
      sets: Seq[(String, String)]) extends MergeAction
  private[pipeline] case object MergeDelete extends MergeAction
  private[pipeline] case object MergeInsertStar extends MergeAction
  private[pipeline] case class MergeInsertValues(cols: Seq[String],
      exprs: Seq[String]) extends MergeAction
  private[pipeline] case class MergeClause(kind: MergeMatchKind,
      cond: Option[String], action: MergeAction)

  private[pipeline] case class ParsedMerge(sourceSql: String,
      sourceAlias: Option[String], onCond: String,
      clauses: Seq[MergeClause])

  /** Parse everything after `MERGE INTO name [AS a] USING` — the
    * source (bare name, or parenthesized subquery, either with an
    * optional alias), the top-level ON condition (scanned with
    * balanced parens and quote skipping, so a subquery source
    * containing its own JOIN … ON parses correctly), and the WHEN
    * clause list. Unsupported shapes fail loudly with the statement
    * fragment named — the grammar never silently deviates.
    */
  private[pipeline] def parseMergeBody(table: String,
      rest0: String): ParsedMerge = {
    val rest = rest0.trim.stripSuffix(";").trim
    val mask = topLevelMask(rest)
    val onPos = findTopLevelWord(rest, mask, "on")
    require(onPos > 0, s"MERGE INTO $table: no top-level ON clause")
    val sourcePart = rest.substring(0, onPos).trim
    val afterOn = rest.substring(onPos + 2)
    val maskAfter = topLevelMask(afterOn)
    val firstWhen = findTopLevelWord(afterOn, maskAfter, "when")
    require(firstWhen > 0,
      s"MERGE INTO $table: no WHEN clause after ON")
    val onCond = afterOn.substring(0, firstWhen).trim
    // split the clause list on successive top-level WHENs
    val whenPositions = Iterator.iterate(firstWhen)(p =>
      findTopLevelWord(afterOn, maskAfter, "when", p + 4))
      .takeWhile(_ >= 0).toSeq
    val clauses = whenPositions.zipAll(whenPositions.drop(1), -1, -1)
      .collect { case (a, b) if a >= 0 =>
        val end = if (b < 0) afterOn.length else b
        parseMergeClause(table, afterOn.substring(a + 4, end).trim)
      }
    require(clauses.nonEmpty, s"MERGE INTO $table: no WHEN clauses")
    // the source: bare name (optional alias) or (subquery) (optional
    // alias); a bare name defaults its alias to itself so unqualified
    // statements keep working
    val (sourceSql, sourceAlias) =
      if (sourcePart.startsWith("(")) {
        // find the matching close paren with quote skipping
        var depth = 0
        var close = -1
        var qi = 0
        var quote: Char = 0
        while (qi < sourcePart.length && close < 0) {
          val ch = sourcePart.charAt(qi)
          if (quote != 0) { if (ch == quote) quote = 0 }
          else ch match {
            case '\'' | '"' => quote = ch
            case '(' => depth += 1
            case ')' => depth -= 1; if (depth == 0) close = qi
            case _ => ()
          }
          qi += 1
        }
        require(close > 0,
          s"MERGE INTO $table: unbalanced parens in USING source")
        val inner = sourcePart.substring(1, close).trim
        val tail = sourcePart.substring(close + 1).trim
        val alias =
          if (tail.isEmpty) None
          else {
            val t = tail.split("\\s+").toSeq
            t match {
              case Seq(a) if a.matches("(?i)\\w+") => Some(a)
              case Seq(as, a) if as.equalsIgnoreCase("as") &&
                a.matches("(?i)\\w+") => Some(a)
              case _ => throw new IllegalArgumentException(
                s"MERGE INTO $table: cannot parse source alias '$tail'")
            }
          }
        (inner, alias)
      } else {
        val t = sourcePart.split("\\s+").toSeq
        t match {
          case Seq(n) if n.matches("\\w+") =>
            (s"SELECT * FROM $n", Some(n))
          case Seq(n, a) if n.matches("\\w+") && a.matches("(?i)\\w+") =>
            (s"SELECT * FROM $n", Some(a))
          case Seq(n, as, a) if n.matches("\\w+") &&
            as.equalsIgnoreCase("as") && a.matches("(?i)\\w+") =>
            (s"SELECT * FROM $n", Some(a))
          case _ => throw new IllegalArgumentException(
            s"MERGE INTO $table: cannot parse USING source " +
              s"'$sourcePart'")
        }
      }
    ParsedMerge(sourceSql, sourceAlias, onCond, clauses)
  }

  private val MatchedHeadRe =
    """(?is)^(NOT\s+)?MATCHED(\s+BY\s+(SOURCE|TARGET))?\b([\s\S]*)$""".r
  private val UpdateSetRe = """(?is)^UPDATE\s+SET\s+([\s\S]*)$""".r
  private val InsertValuesRe =
    """(?is)^INSERT\s*\(([^)]*)\)\s*VALUES\s*\(([\s\S]*)\)\s*$""".r

  private def parseMergeClause(table: String,
      clause: String): MergeClause = {
    val MatchedHeadRe(notK, _, byK, rest) = clause: @unchecked
    val kind: MergeMatchKind = (notK == null, Option(byK)) match {
      case (true, None) => Matched
      case (false, None) => NotMatchedByTarget
      case (false, Some(b)) if b.equalsIgnoreCase("target") =>
        NotMatchedByTarget
      case (false, Some(b)) if b.equalsIgnoreCase("source") =>
        NotMatchedBySource
      case _ => throw new IllegalArgumentException(
        s"MERGE INTO $table: MATCHED BY $byK is not a clause — BY " +
          "SOURCE/TARGET qualifies NOT MATCHED only")
    }
    val mask = topLevelMask(rest)
    val thenPos = findTopLevelWord(rest, mask, "then")
    require(thenPos >= 0,
      s"MERGE INTO $table: WHEN clause without THEN: '$clause'")
    val condPart = rest.substring(0, thenPos).trim
    val cond =
      if (condPart.isEmpty) None
      else {
        require(condPart.toLowerCase(java.util.Locale.ROOT)
          .startsWith("and"),
          s"MERGE INTO $table: expected AND <cond> before THEN, got " +
            s"'$condPart'")
        Some(condPart.substring(3).trim)
      }
    val action = rest.substring(thenPos + 4).trim
    def updateOrDelete(what: String): MergeAction = action match {
      case UpdateSetRe(sets) =>
        if (sets.trim == "*") MergeUpdateStar
        else MergeUpdateSet(splitSetList(sets.trim))
      case a if a.equalsIgnoreCase("delete") => MergeDelete
      case other => throw new IllegalArgumentException(
        s"MERGE INTO $table: $what supports UPDATE SET …|* " +
          s"and DELETE; got '$other'")
    }
    val act: MergeAction = kind match {
      case Matched => updateOrDelete("WHEN MATCHED")
      case NotMatchedBySource =>
        val a = updateOrDelete("WHEN NOT MATCHED BY SOURCE")
        require(a != MergeUpdateStar,
          s"MERGE INTO $table: WHEN NOT MATCHED BY SOURCE has no " +
            "source row — UPDATE SET * is meaningless; name the " +
            "assignments")
        a
      case NotMatchedByTarget => action match {
        case a if a.replaceAll("\\s+", " ")
          .equalsIgnoreCase("insert *") => MergeInsertStar
        case InsertValuesRe(cols, exprs) =>
          val cs = cols.split(',').toSeq.map(unquoteIdent)
            .filter(_.nonEmpty)
          val es = splitTopLevelCommas(exprs)
          require(cs.size == es.size,
            s"MERGE INTO $table: INSERT column list (${cs.size}) and " +
              s"VALUES list (${es.size}) differ")
          MergeInsertValues(cs, es)
        case other => throw new IllegalArgumentException(
          s"MERGE INTO $table: WHEN NOT MATCHED supports INSERT * and " +
            s"INSERT (cols) VALUES (exprs); got '$other'")
      }
    }
    MergeClause(kind, cond, act)
  }

  /** A possibly-backtick-quoted identifier to its plain name
    * (Spark's quoting: ```` escapes a literal backtick).
    */
  private[pipeline] def unquoteIdent(s: String): String = {
    val t = s.trim
    if (t.length >= 2 && t.head == '`' && t.last == '`')
      t.substring(1, t.length - 1).replace("``", "`")
    else t
  }

  /** Split on top-level commas (quote- and paren-aware). */
  private def splitTopLevelCommas(s: String): Seq[String] = {
    val mask = topLevelMask(s)
    val parts = Seq.newBuilder[String]
    var start = 0
    s.zipWithIndex.foreach { case (ch, i) =>
      if (ch == ',' && mask(i)) {
        parts += s.substring(start, i); start = i + 1
      }
    }
    parts += s.substring(start)
    parts.result().map(_.trim)
  }

  /** Split a SET list on TOP-LEVEL commas (commas inside function
    * calls or string literals stay put) into (column, expression-sql)
    * pairs; the `=` split likewise ignores quoted regions, so
    * `SET note = 'a=b, c'` parses as one assignment.
    */
  private[pipeline] def splitSetList(s: String): Seq[(String, String)] = {
    val mask = topLevelMask(s)
    val parts = Seq.newBuilder[String]
    var start = 0
    s.zipWithIndex.foreach { case (ch, i) =>
      if (ch == ',' && mask(i)) { parts += s.substring(start, i); start = i + 1 }
    }
    parts += s.substring(start)
    var off = 0
    parts.result().map { p =>
      val eq = (0 until p.length).find(i => p.charAt(i) == '=' &&
        mask(off + i)).getOrElse(-1)
      require(eq > 0, s"SET clause piece is not <col> = <expr>: '$p'")
      val r = (unquoteIdent(p.substring(0, eq)), p.substring(eq + 1).trim)
      off += p.length + 1
      r
    }
  }
}

/** `CREATE VERSIONED TABLE name LOCATION '…' [KEYS(…)]
  * [CLUSTER BY (…)] [MOR DELETES]` — registers the root under the
  * name and serves it as a temp view (when it already has versions;
  * otherwise the first append brings the view via the next DML's
  * refresh). A declared CLUSTER BY is VALIDATED against the table's
  * manifest-stored spec (the spec itself is fixed by the first
  * append, which is where storage comes into existence) — declaring a
  * spec the table does not actually enforce would be a silent layout
  * lie, so a mismatch or a not-yet-created table rejects loudly.
  */
case class CreateVersionedTableCommand(name: String, location: String,
    keyCols: Seq[String], morDeletes: Boolean,
    clusterBy: Seq[String] = Seq.empty) extends LeafRunnableCommand {
  override def output: Seq[Attribute] = Seq.empty
  override def run(spark: SparkSession): Seq[Row] = {
    if (clusterBy.nonEmpty) {
      require(VersionedTable.latestVersion(spark, location).nonEmpty,
        s"CREATE VERSIONED TABLE $name: CLUSTER BY declares the " +
          "spec the table ENFORCES, and the spec is fixed by the " +
          "first append — create the table with " +
          "append(df, root, statCols, typedStatCols, clusterBy) " +
          "first, then register it")
      val actual = VersionedTable.clusterSpecOf(spark, location)
      require(actual == clusterBy.map(_.trim),
        s"CREATE VERSIONED TABLE $name: declared CLUSTER BY " +
          s"$clusterBy != the table's stored spec $actual")
    }
    VersionedSql.register(spark, name, location, keyCols, morDeletes)
    Seq.empty
  }
}

/** `DELETE FROM name WHERE <pred>` — a long-box WHERE dispatches to
  * [[VersionedTable.deleteRange]] (or
  * [[VersionedTable.deleteRangeMor]] under `MOR DELETES`); a predicate
  * over TYPED stat columns (dates, strings — the retention shape)
  * takes the COW [[VersionedTable.deleteWhere]] path, which requires
  * at least one stats-checkable conjunct and rejects loudly otherwise.
  * MOR mode is long-box only (a typed marker is not representable):
  * a typed WHERE under `MOR DELETES` errors rather than silently
  * switching cost models. Emits (version, rows_affected), refreshes
  * the view.
  */
case class VersionedDeleteCommand(name: String,
    reg: VersionedSql.Registration,
    where: String) extends LeafRunnableCommand {
  override def output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("rows_affected", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val (v, n) = VersionedSql.runDelete(spark, name, reg.root,
      reg.morDeletes, where)
    VersionedSql.refreshView(spark, name)
    Seq(Row(v, n))
  }
}

/** `UPDATE name SET c = expr, … WHERE <pred>` — the predicate's
  * VISIBLE rows with the SET expressions applied, replaced through
  * [[VersionedTable.upsertByKey]] on the registered keys: one atomic
  * version, same optimistic protocol. The matching READ goes through
  * [[VersionedTable.sqlRead]]'s pruning FileIndex, so ANY predicate is
  * accepted — long boxes, typed columns, IN-lists prune; unprovable
  * shapes scan wider but decide rows exactly (an update's rewrite is
  * keyed and bounded by its matches, so a wide read is safe where a
  * wide DELETE rewrite would not be). SET may not touch a key column
  * (a key rewrite is a delete+insert — MERGE territory).
  */
case class VersionedUpdateCommand(name: String,
    reg: VersionedSql.Registration, sets: Seq[(String, String)],
    where: String) extends LeafRunnableCommand {
  override def output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("rows_affected", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    sets.foreach { case (c, _) =>
      require(!reg.keyCols.exists(_.equalsIgnoreCase(c)),
        s"UPDATE $name: SET must not touch key column '$c'")
    }
    // PINNED read-compute-commit: the match set is read at an explicit
    // base version and the upsert is anchored to it — a commit landing
    // between the matched read and the publish that could hold one of
    // the matched keys (a concurrent MERGE replacing a matched row)
    // conflicts and the WHOLE statement recomputes from a fresh read.
    // Retrying only the commit would re-publish SET values computed
    // from the stale row: the classic lost update.
    val (v, n) = VersionedTable.withRestarts(s"UPDATE $name", reg.root) {
      VersionedTable.materializeDeletes(spark, reg.root)
      val v0 = VersionedTable.latestVersion(spark, reg.root).getOrElse(
        sys.error(s"UPDATE $name: no versions at ${reg.root}"))
      val matched = VersionedTable.sqlRead(spark, reg.root, Some(v0))
        .filter(org.apache.spark.sql.functions.expr(where))
      // SQL UPDATE assignment semantics: the SET expression coerces to
      // the column's EXISTING type (SET ts_us = 0 must not narrow a
      // LongType column to the literal's IntegerType)
      val updated = sets.foldLeft(matched) { case (d, (c, ex)) =>
        val e = org.apache.spark.sql.functions.expr(ex)
        d.withColumn(c, d.schema.fields.find(_.name.equalsIgnoreCase(c))
          .map(f => e.cast(f.dataType)).getOrElse(e))
      }
      // no match: the upsert resolves an empty key set and returns
      // (v0, 0) without publishing
      VersionedTable.upsertByKeyPinned(spark, reg.root, updated,
        reg.keyCols, v0)
    }
    VersionedSql.refreshView(spark, name)
    Seq(Row(v, n))
  }
}

/** `DESCRIBE HISTORY name` — the commit log as rows (version,
  * committed-at epoch millis, kind), newest first: Delta's
  * DESCRIBE HISTORY shape over [[VersionedTable.history]].
  */
case class VersionedHistoryCommand(reg: VersionedSql.Registration)
    extends LeafRunnableCommand {
  override def output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("committed_at_ms", LongType, nullable = false)(),
    AttributeReference("kind",
      org.apache.spark.sql.types.StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    VersionedTable.history(spark, reg.root).reverse
      .map { case (v, ts, kind) => Row(v, ts, kind) }
}

/** `ALTER VERSIONED TABLE name ADD COLUMNS (c1 TYPE, c2 TYPE, …)` —
  * SQL schema evolution routed to the metadata-only
  * [[VersionedTable.addColumns]]: one new version, no data touched,
  * old files null-fill, historical versions keep their own schema.
  * The column list is parsed by Spark's own DDL parser, so every SQL
  * type spelling works. Emits the published version; refreshes the
  * view so SELECTs observe the new columns immediately.
  */
case class VersionedAddColumnsCommand(name: String,
    reg: VersionedSql.Registration, colsDdl: String)
    extends LeafRunnableCommand {
  override def output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val cols = org.apache.spark.sql.types.StructType.fromDDL(colsDdl)
    val v = VersionedTable.addColumns(spark, reg.root, cols)
    VersionedSql.refreshView(spark, name)
    Seq(Row(v))
  }
}

/** `VACUUM name [RETAIN n VERSIONS] [GRACE ms MS]` —
  * [[VersionedTable.vacuum]]: retention defaults to 2 versions, the
  * orphan grace to the production default (tests state `GRACE 0 MS`
  * explicitly). Emits (versions_dropped, files_deleted).
  */
case class VersionedVacuumCommand(reg: VersionedSql.Registration,
    keepVersions: Int, graceMs: Long) extends LeafRunnableCommand {
  override def output: Seq[Attribute] = Seq(
    AttributeReference("versions_dropped", LongType, nullable = false)(),
    AttributeReference("files_deleted", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val (dropped, deleted) =
      VersionedTable.vacuum(spark, reg.root, keepVersions, graceMs)
    Seq(Row(dropped.toLong, deleted.toLong))
  }
}

/** `CREATE VERSIONED VIEW v AS name [VERSION AS OF k | TIMESTAMP AS OF
  * ms]` — time travel through SQL: a temp view pinned to the stated
  * snapshot (or the current latest), served through the pruning
  * FileIndex like any [[VersionedTable.sqlRead]]. The pin is REAL:
  * later DML on the table does not move the view.
  */
case class VersionedSnapshotViewCommand(view: String,
    reg: VersionedSql.Registration, version: Option[Long],
    tsMillis: Option[Long]) extends LeafRunnableCommand {
  override def output: Seq[Attribute] = Seq.empty
  override def run(spark: SparkSession): Seq[Row] = {
    val v = version.orElse(tsMillis.map(ts =>
      VersionedTable.versionAsOf(spark, reg.root, ts)))
    VersionedTable.sqlRead(spark, reg.root, v)
      .createOrReplaceTempView(view)
    Seq.empty
  }
}

/** `CREATE VERSIONED CHANGES VIEW v AS name FROM a TO b` — the CDC
  * feed as a SQL relation: `_change_type` / `_commit_version` rows of
  * [[VersionedTable.readChangesCdc]] over (a, b].
  */
case class VersionedChangesViewCommand(view: String,
    reg: VersionedSql.Registration, fromV: Long, toV: Long)
    extends LeafRunnableCommand {
  override def output: Seq[Attribute] = Seq.empty
  override def run(spark: SparkSession): Seq[Row] = {
    VersionedTable.readChangesCdc(spark, reg.root, fromV, toV)
      .createOrReplaceTempView(view)
    Seq.empty
  }
}

/** Full-grammar SQL MERGE dispatched to ONE atomic versioned commit:
  * {{{
  *   MERGE INTO t [AS a] USING src|(<subquery>) [AS s] ON t.k = s.k
  *     [WHEN MATCHED [AND <cond>] THEN UPDATE SET …|* | DELETE]...
  *     [WHEN NOT MATCHED [BY TARGET] [AND <cond>] THEN INSERT * |
  *                                         INSERT (cols) VALUES (…)]...
  *     [WHEN NOT MATCHED BY SOURCE [AND <cond>] THEN
  *        UPDATE SET … | DELETE]...
  * }}}
  * BY SOURCE clauses see target rows with NO source match (their
  * expressions reference target columns only) — with `WHEN MATCHED
  * UPDATE SET * / NOT MATCHED INSERT * / NOT MATCHED BY SOURCE DELETE`
  * one statement makes target == source: the full-sync shape.
  * SQL MERGE semantics: each matched target row is claimed by the
  * FIRST matched clause whose condition holds (later clauses never
  * see it); unmatched source rows likewise by the first not-matched
  * clause. The claimed updates and inserts land as upserts, the
  * claimed DELETE rows as key deletes, all in ONE atomic version via
  * the keyed-changes commit — the CDC-upsert-with-tombstones
  * statement is expressible directly. A target row matched by two
  * source rows is SQL's cardinality violation and fails loudly, as
  * does a NULL source key.
  *
  * PINNED read-compute-commit like [[VersionedUpdateCommand]]: the
  * match sets are computed against an explicit base version; a
  * concurrent commit that could hold one of the keys conflicts and
  * the whole statement recomputes from a fresh read.
  */
case class VersionedMergeCommand(name: String,
    reg: VersionedSql.Registration, targetAlias: Option[String],
    sourceSql: String, sourceAlias: Option[String], onCond: String,
    keyCols: Seq[String], clauses: Seq[VersionedSql.MergeClause],
    sourcePlan: Option[LogicalPlan] = None)
    extends LeafRunnableCommand {
  import VersionedSql._
  import org.apache.spark.sql.functions.{coalesce, col, count,
    countDistinct, expr, lit, monotonically_increasing_id, struct, sum,
    when}
  override def output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("rows_updated", LongType, nullable = false)(),
    AttributeReference("rows_deleted", LongType, nullable = false)(),
    AttributeReference("rows_inserted", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    clauses.foreach {
      case MergeClause(_, _, MergeUpdateSet(sets)) =>
        sets.foreach { case (c, _) =>
          require(!keyCols.exists(_.equalsIgnoreCase(c)),
            s"MERGE INTO $name: UPDATE SET must not touch key " +
              s"column '$c'")
        }
      case _ => ()
    }
    val row = VersionedTable.withRestarts(s"MERGE INTO $name", reg.root)(
      mergeOnce(spark))
    VersionedSql.refreshView(spark, name)
    Seq(row)
  }

  /** One whole statement attempt: read the target at a fresh base
    * version, compute the claims, commit anchored to that base. None
    * when a concurrent commit could hold one of the keys.
    */
  private def mergeOnce(spark: SparkSession): Option[Row] = {
    val tA = targetAlias.getOrElse(name)
    val sA = sourceAlias.getOrElse("__merge_src")
    // presence markers survive the outer join where every REAL column
    // of the absent side is legitimately NULL — the only sound way to
    // classify a joined row as matched / target-only / source-only
    val tMark = "__merge_t_present__"
    val sMark = "__merge_s_present__"
    val claimCol = "__merge_claim__"
    VersionedTable.materializeDeletes(spark, reg.root)
    val v0 = VersionedTable.latestVersion(spark, reg.root).getOrElse(
      sys.error(s"MERGE INTO $name: no versions at ${reg.root}"))
    val target = VersionedTable.sqlRead(spark, reg.root, Some(v0))
    val tgt = target.withColumn(tMark, lit(true)).alias(tA)
    // the catalog's MERGE rewrite hands the already-analyzed source
    // PLAN (its USING clause is arbitrary SQL Spark parsed, not a
    // string this grammar saw); the regex front-end hands SQL text
    val source0 = sourcePlan
      .map(org.apache.spark.sql.graftbridge.DatasetBridge
        .ofRows(spark, _))
      .getOrElse(spark.sql(sourceSql))
    val srcCols = source0.columns.toSeq
    // a per-source-ROW id distinguishes "one source row claiming two
    // raced target copies of a key" (legal — SQL deletes/updates each
    // target row) from "two source rows claiming one target key"
    // (the cardinality violation); assigned BEFORE the join and
    // pinned by the checkpoint below
    val sid = "__merge_sid__"
    val source = source0.withColumn(sMark, lit(true))
      .withColumn(sid, monotonically_increasing_id()).alias(sA)
    val tgtFields = target.schema.fields.toSeq
    def fieldType(c: String) =
      tgtFields.find(_.name.equalsIgnoreCase(c)).map(_.dataType)
        .getOrElse(throw new IllegalArgumentException(
          s"MERGE INTO $name: unknown target column '$c'"))
    // ——— ONE join computes every match class; the type is the
    // narrowest that preserves the classes the clause list actually
    // uses (an insert-free MERGE never pays for unmatched source
    // rows, a sync-free one never for unmatched target rows)
    val hasInsert = clauses.exists(_.kind == NotMatchedByTarget)
    val hasBySource = clauses.exists(_.kind == NotMatchedBySource)
    val joinType = (hasInsert, hasBySource) match {
      case (false, false) => "inner"
      case (true, false) => "right_outer"
      case (false, true) => "left_outer"
      case (true, true) => "full_outer"
    }
    val joined = tgt.join(source, expr(onCond), joinType)
    val isMatched = col(tMark).isNotNull && col(sMark).isNotNull
    def classCol(k: MergeMatchKind): org.apache.spark.sql.Column =
      k match {
        case Matched => isMatched
        case NotMatchedByTarget => col(tMark).isNull
        case NotMatchedBySource => col(sMark).isNull
      }
    // first-match-wins WITHIN each class falls out of one global
    // when-cascade in statement order because the classes are
    // disjoint; a clause condition that evaluates NULL claims
    // nothing (coalesce false), matching SQL MERGE
    val claim = clauses.zipWithIndex.foldRight(
        lit(null).cast("int"): org.apache.spark.sql.Column) {
      case ((cl, i), els) =>
        val c = cl.cond.map(x => coalesce(expr(x), lit(false)))
          .getOrElse(lit(true))
        when(classCol(cl.kind) && c, lit(i)).otherwise(els)
    }
    // the CLAIMED key of every row, uniformly: the target key for
    // matched / by-source claims, the clause's own insert key
    // expression for by-target claims — one column set feeds the
    // counts, the NULL-key guard, the cardinality guard AND the
    // delete-key frame, so what is checked IS what is committed
    def keyExprFor(cl: MergeClause,
        k: String): org.apache.spark.sql.Column = cl.kind match {
      case Matched | NotMatchedBySource => col(s"$tA.$k")
      case NotMatchedByTarget => cl.action match {
        case MergeInsertStar =>
          srcCols.find(_.equalsIgnoreCase(k))
            .map(sc => col(s"$sA.$sc")).getOrElse(lit(null))
        case MergeInsertValues(cols, exprs) =>
          cols.zip(exprs).collectFirst {
            case (cn, e) if cn.equalsIgnoreCase(k) => expr(e)
          }.getOrElse(lit(null))
        case _ => lit(null)
      }
    }
    def mk(j: Int) = s"__merge_k${j}__"
    val withKeys = keyCols.zipWithIndex.foldLeft(
        joined.withColumn(claimCol, claim)
          .filter(col(claimCol).isNotNull)) { case (d, (k, j)) =>
      d.withColumn(mk(j),
        clauses.zipWithIndex.foldRight(
            lit(null).cast(fieldType(k)): org.apache.spark.sql.Column) {
          case ((cl, i), els) => when(col(claimCol) === i,
            keyExprFor(cl, k).cast(fieldType(k))).otherwise(els)
        })
    }
    // ONE eager materialization pins the claims (and through them
    // the source snapshot): the guards below, the reported counts
    // and the committed frames all read the SAME rows — a
    // nondeterministic or concurrently-changing USING source cannot
    // pass the guard on one evaluation and commit another, and a
    // 3-clause MERGE costs one join, not one per clause count.
    // localCheckpoint (not persist): eviction must FAIL the
    // statement, not silently re-run the source.
    val claims = withKeys.localCheckpoint(true)
    // ——— every guard and every count from ONE aggregation pass
    def isUpdate(a: MergeAction) = a match {
      case MergeUpdateStar | MergeUpdateSet(_) => true
      case _ => false
    }
    def isInsert(a: MergeAction) = a match {
      case MergeInsertStar | MergeInsertValues(_, _) => true
      case _ => false
    }
    val upsIdxs = clauses.zipWithIndex.collect {
      case (cl, i) if isUpdate(cl.action) || isInsert(cl.action) => i
    }
    val keyStruct = struct(keyCols.indices.map(j => col(mk(j))): _*)
    val upsClaim =
      if (upsIdxs.isEmpty) lit(false)
      else col(claimCol).isin(upsIdxs: _*)
    val perClause = clauses.indices.flatMap { i =>
      sum(when(col(claimCol) === i, 1L).otherwise(0L)).as(s"n$i") +:
        keyCols.indices.map(j => sum(when(col(claimCol) === i &&
          col(mk(j)).isNull, 1L).otherwise(0L)).as(s"nn${i}_$j"))
    }
    val aggs = count(lit(1)).as("total") +:
      countDistinct(when(isMatched,
        struct(keyStruct, col(sid)))).as("m_pairs") +:
      countDistinct(when(isMatched, keyStruct)).as("m_keys") +:
      countDistinct(when(upsClaim, keyStruct)).as("ups_keys") +:
      perClause
    val stats = claims.agg(aggs.head, aggs.tail: _*).head
    val total = stats.getLong(0)
    if (total == 0L) return Some(Row(v0, 0L, 0L, 0L))
    def nOf(i: Int): Long =
      stats.getLong(4 + i * (1 + keyCols.size))
    def nnOf(i: Int, j: Int): Long =
      stats.getLong(4 + i * (1 + keyCols.size) + 1 + j)
    // NULL checks FIRST: countDistinct excludes NULL tuples, so a
    // NULL key would otherwise masquerade as a duplicate. This
    // covers DELETE claims too — a NULL-key target row claimed by
    // NOT MATCHED BY SOURCE THEN DELETE cannot be key-deleted, and
    // silently surviving while being counted would be corruption.
    clauses.zipWithIndex.foreach { case (cl, i) =>
      val (kindSql, side) = cl.kind match {
        case Matched => ("MATCHED", "source")
        case NotMatchedByTarget => ("NOT MATCHED", "source")
        case NotMatchedBySource => ("NOT MATCHED BY SOURCE", "target")
      }
      val actSql = cl.action match {
        case MergeDelete => "DELETE"
        case MergeUpdateStar | MergeUpdateSet(_) => "UPDATE"
        case MergeInsertStar | MergeInsertValues(_, _) => "INSERT"
      }
      keyCols.zipWithIndex.foreach { case (k, j) =>
        require(nnOf(i, j) == 0L,
          s"MERGE INTO $name: NULL $side key '$k' — ${nnOf(i, j)} " +
            s"rows claimed by WHEN $kindSql THEN $actSql carry a " +
            "NULL key a keyed merge cannot address")
      }
    }
    // cardinality, over updates, DELETES and inserts alike: a
    // target KEY claimed by two distinct source rows is a violation
    // whichever action claims it (SQL MERGE semantics) — while ONE
    // source row legitimately claims every raced duplicate of its
    // target key (distinct (key, source-row) pairs vs distinct keys
    // tells the two apart)
    require(stats.getLong(1) == stats.getLong(2),
      s"MERGE INTO $name: ${stats.getLong(1) - stats.getLong(2)} " +
        "extra source rows match an already-claimed target key — " +
        "SQL MERGE cardinality violation (a target row matched by " +
        "multiple source rows)")
    val updatedN = clauses.zipWithIndex
      .collect { case (cl, i) if isUpdate(cl.action) => nOf(i) }.sum
    val deletedN = clauses.zipWithIndex
      .collect { case (cl, i) if cl.action == MergeDelete => nOf(i) }
      .sum
    val insertedN = clauses.zipWithIndex
      .collect { case (cl, i) if isInsert(cl.action) => nOf(i) }.sum
    // the keyed commit lands exactly one row per upserted key:
    // duplicate inserts of a key, or updates claiming raced
    // duplicate copies of one, cannot be represented and reject
    require(updatedN + insertedN == stats.getLong(3),
      s"MERGE INTO $name: " +
        s"${updatedN + insertedN - stats.getLong(3)} duplicate-key " +
        "rows among the claimed updates/inserts — SQL MERGE " +
        "cardinality violation")
    // ——— per-clause output frames, all narrow reads of the pinned
    // claims — zero join replays from here on
    def updateProjection(sets: Seq[(String, String)],
        claimed: org.apache.spark.sql.DataFrame) =
      claimed.select(tgtFields.map { f =>
        sets.find(_._1.equalsIgnoreCase(f.name)) match {
          case Some((_, e)) => expr(e).cast(f.dataType).as(f.name)
          case None => col(s"$tA.${f.name}").as(f.name)
        }
      }: _*)
    val updates = Seq.newBuilder[org.apache.spark.sql.DataFrame]
    val inserts = Seq.newBuilder[org.apache.spark.sql.DataFrame]
    val deleteIdx = Seq.newBuilder[Int]
    clauses.zipWithIndex.foreach { case (cl, i) =>
      if (nOf(i) > 0L) {
        val claimed = claims.filter(col(claimCol) === i)
        (cl.kind, cl.action) match {
          case (_, MergeUpdateStar) =>
            updates += claimed.select(tgtFields.map(f =>
              col(s"$sA.${f.name}").as(f.name)): _*)
          case (_, MergeUpdateSet(sets)) =>
            updates += updateProjection(sets, claimed)
          case (_, MergeDelete) => deleteIdx += i
          case (_, MergeInsertStar) =>
            inserts += claimed.select(tgtFields.flatMap(f =>
              srcCols.find(_.equalsIgnoreCase(f.name))
                .map(sc => col(s"$sA.$sc").as(f.name))): _*)
          case (_, MergeInsertValues(cols, exprs)) =>
            inserts += claimed.select(cols.zip(exprs).map {
              case (cn, e) => expr(e).cast(fieldType(cn)).as(cn)
            }: _*)
        }
      }
    }
    def unionAllByName(fs: Seq[org.apache.spark.sql.DataFrame]) =
      fs.reduceOption((a, b) =>
        a.unionByName(b, allowMissingColumns = true))
    val upserts = unionAllByName(updates.result() ++ inserts.result())
    val delIdxs = deleteIdx.result()
    val delKeys =
      if (delIdxs.isEmpty) target.select(keyCols.map(col): _*).limit(0)
      else claims.filter(col(claimCol).isin(delIdxs: _*))
        .select(keyCols.zipWithIndex.map { case (k, j) =>
          col(mk(j)).as(k) }: _*)
    val res = upserts match {
      case Some(up) =>
        VersionedTable.applyKeyedChangesPinned(spark, reg.root, up,
          delKeys, keyCols, v0)
      case None => // pure-delete MERGE
        VersionedTable.applyKeyedChangesPinned(spark, reg.root,
          target.limit(0), delKeys, keyCols, v0)
    }
    res.map(v => Row(v, updatedN, deletedN, insertedN))
  }
}
