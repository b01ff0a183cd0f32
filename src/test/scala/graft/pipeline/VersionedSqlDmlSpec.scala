package graft.pipeline

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** SQL DML routed to the versioned table ([[VersionedSql]] through the
  * session extension's parser): `CREATE VERSIONED TABLE … KEYS(…)`,
  * `DELETE FROM … WHERE <box>`, `UPDATE … SET … WHERE <box>`,
  * `MERGE INTO … USING … ON keys … UPDATE SET * … INSERT *` — each
  * dispatching to the SAME optimistic lock-free commits as the API
  * path (deleteRange/deleteRangeMor/upsertByKey), with the served view
  * refreshed after every statement. Pins: semantics of each verb
  * (including MOR delete mode), the loud rejection of WHERE shapes the
  * box algebra cannot express exactly, delegation of DML over
  * unregistered names to Spark's parser, and a SQL-path writer racing
  * an API append (the protocol is shared, so the race resolves
  * exactly like an API delete's).
  */
class VersionedSqlDmlSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def rows(round: Int, n: Int) =
    spark.range(round.toLong * n, round.toLong * n + n)
      .select(col("id").as("event_id"), (col("id") % 97).as("user_id"),
        (col("id") * 1000L).as("ts_us"))

  private val Stats = Seq("user_id", "ts_us", "event_id")

  private def freshRoot(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-vtdml-$tag")
      .resolve("t").toString

  private def ids(root: String): Seq[Long] =
    VersionedTable.read(spark, root)
      .select($"event_id").collect().map(_.getLong(0)).sorted.toSeq

  test("CREATE/DELETE/UPDATE/MERGE round-trip: SQL verbs hit the same commits as the API") {
    val root = freshRoot("verbs")
    VersionedTable.append(rows(0, 400), root, Stats)
    spark.sql(s"CREATE VERSIONED TABLE vt_dml LOCATION '$root' " +
      "KEYS(event_id)")
    // the registration serves the current version as a view
    assert(spark.sql("SELECT count(*) FROM vt_dml").head.getLong(0) == 400L)

    // DELETE: a box on a long stat column, COW
    val del = spark.sql(
      "DELETE FROM vt_dml WHERE user_id BETWEEN 0 AND 10").head
    assert(del.getLong(1) == (0L until 400L).count(_ % 97 <= 10))
    assert(ids(root) == (0L until 400L).filterNot(_ % 97 <= 10),
      "SQL delete must commit exactly the API delete's result")
    // the view refreshed to the committed version
    assert(spark.sql("SELECT count(*) FROM vt_dml").head.getLong(0) ==
      (400L - del.getLong(1)))

    // UPDATE: box-matched rows keyed-replaced through upsertByKey
    val upd = spark.sql(
      "UPDATE vt_dml SET ts_us = ts_us + 1000000 WHERE user_id >= 90")
    assert(upd.head.getLong(1) > 0)
    val shifted = VersionedTable.read(spark, root)
      .filter($"user_id" >= 90 && $"ts_us" =!= $"event_id" * 1000L)
      .count()
    assert(shifted == (0L until 400L).count(_ % 97 >= 90),
      "every box row must carry the SET expression, none twice")
    assert(VersionedTable.read(spark, root).count() == 400L -
      del.getLong(1), "UPDATE must replace, never add or drop")

    // MERGE: canonical upsert — updates replace, new keys append
    spark.range(0, 50)
      .select(($"id" + 10000L).as("event_id"), lit(7L).as("user_id"),
        lit(0L).as("ts_us"))
      .unionAll(rows(0, 400).filter($"event_id" % 50 === 0)
        .withColumn("user_id", $"user_id" + 500L))
      .createOrReplaceTempView("vt_dml_src")
    val mrg = spark.sql(
      """MERGE INTO vt_dml USING vt_dml_src ON vt_dml.event_id =
         vt_dml_src.event_id WHEN MATCHED THEN UPDATE SET *
         WHEN NOT MATCHED THEN INSERT *""").head
    // replaced = source keys currently visible (some %50 rows died in
    // the DELETE above)
    val visible = (0L until 400L).filterNot(_ % 97 <= 10).toSet
    assert(mrg.getLong(1) ==
      (0L until 400L).count(id => id % 50 == 0 && visible(id)))
    val after = VersionedTable.read(spark, root)
    assert(after.count() == 400L - del.getLong(1) + 50L +
      (0L until 400L).count(id => id % 50 == 0 && !visible(id)))
    assert(after.filter($"user_id" === 7L).count() == 50L)
    assert(spark.sql(
      "SELECT count(*) FROM vt_dml WHERE user_id >= 500").head.getLong(0)
      == 400L / 50)
  }

  test("MOR DELETES mode publishes a marker instead of a rewrite; unregistered names delegate to Spark") {
    val root = freshRoot("mor")
    VersionedTable.append(rows(0, 300), root, Stats)
    spark.sql(s"CREATE VERSIONED TABLE vt_mor_dml LOCATION '$root' " +
      "KEYS(event_id) MOR DELETES")
    val before = VersionedTable.entryNames(spark, root, 1L)
    val del = spark.sql(
      "DELETE FROM vt_mor_dml WHERE ts_us >= 0 AND ts_us <= 99000").head
    assert(del.getLong(1) == 100L)
    val v = VersionedTable.latestVersion(spark, root).get
    assert(VersionedTable.morDeleteCount(spark, root, v) == 1,
      "MOR mode must publish a marker")
    assert(VersionedTable.entryNames(spark, root, v) == before,
      "MOR delete must rewrite NO data files")
    assert(spark.sql("SELECT count(*) FROM vt_mor_dml").head.getLong(0)
      == 200L)
    assert(VersionedTable.fastCount(spark, root) == 200L)
    // an unregistered name falls through to Spark's parser (which
    // rejects DML on a temp view in ITS words, not ours)
    rows(0, 10).createOrReplaceTempView("vt_plain_view")
    val e = intercept[Exception] {
      spark.sql("DELETE FROM vt_plain_view WHERE user_id = 1")
    }
    assert(!e.getMessage.contains("versioned table"),
      s"unregistered DML must delegate to Spark, got: ${e.getMessage}")
  }

  test("WHERE shapes the stats algebra cannot check at all are rejected loudly") {
    val root = freshRoot("reject")
    VersionedTable.append(rows(0, 100), root, Stats)
    spark.sql(s"CREATE VERSIONED TABLE vt_rej LOCATION '$root' " +
      "KEYS(event_id)")
    // DELETE predicates with NO stats-checkable conjunct fall through
    // the long-box fast path to deleteWhere, which refuses to rewrite
    // the whole table silently
    def rejectsDelete(sql: String): Unit = {
      val e = intercept[Exception] { spark.sql(sql) }
      assert(e.getMessage.contains("stats-checkable"),
        s"$sql must reject loudly, got: ${e.getMessage}")
    }
    rejectsDelete("DELETE FROM vt_rej WHERE user_id = 1 OR user_id = 5")
    rejectsDelete("DELETE FROM vt_rej WHERE abs(user_id) = 1")
    rejectsDelete("DELETE FROM vt_rej WHERE user_id != 3")
    // a NAMED but unmanifested column translates syntactically and the
    // table itself refuses to guess (deleteRange's own contract)
    val eNope = intercept[Exception] {
      spark.sql("DELETE FROM vt_rej WHERE nope = 3")
    }
    assert(eNope.getMessage.contains("manifested stat columns"))
    // UPDATE reads its matches through the pruning FileIndex: ANY
    // predicate is accepted (the rewrite is keyed and match-bounded)
    val upd = spark.sql(
      "UPDATE vt_rej SET ts_us = 0 WHERE user_id IN (1, 2)").head
    assert(upd.getLong(1) ==
      (0L until 100L).count(id => id % 97 == 1 || id % 97 == 2))
    assert(VersionedTable.read(spark, root)
      .filter($"ts_us" === 0L && $"user_id".isin(1L, 2L))
      .count() == upd.getLong(1))
    // a PARTIALLY checkable conjunction is allowed: the checkable
    // conjunct prunes, the exact predicate decides rows
    val del = spark.sql("DELETE FROM vt_rej WHERE user_id <= 10 AND " +
      "event_id % 2 = 0").head
    assert(del.getLong(1) ==
      (0L until 100L).count(id => id % 97 <= 10 && id % 2 == 0))
    assert(ids(root) ==
      (0L until 100L).filterNot(id => id % 97 <= 10 && id % 2 == 0))
  }

  test("typed SQL DELETE: the retention statement works on string/date columns") {
    val root = freshRoot("typed-del")
    val docs = spark.range(0, 2000)
      .select($"id".as("doc_id"),
        concat(lit("lang_"), $"id" % 4).as("lang"),
        date_add(lit(java.sql.Date.valueOf("2020-01-01")),
          ($"id" % 100).cast("int")).as("day"))
      .repartitionByRange(8, $"lang", $"doc_id")
    VersionedTable.append(docs, root, Seq("doc_id"), Seq("lang", "day"))
    spark.sql(s"CREATE VERSIONED TABLE vt_typed_del LOCATION '$root'")
    // delete one language through plain SQL
    val del = spark.sql(
      "DELETE FROM vt_typed_del WHERE lang = 'lang_2'").head
    assert(del.getLong(1) == 500L)
    assert(VersionedTable.read(spark, root)
      .filter($"lang" === "lang_2").count() == 0L)
    assert(VersionedTable.read(spark, root).count() == 1500L)
    // date retention: everything before a cutoff dies
    val del2 = spark.sql(
      "DELETE FROM vt_typed_del WHERE day < DATE'2020-01-11'").head
    assert(del2.getLong(1) == (0L until 2000L)
      .count(id => id % 4 != 2 && id % 100 < 10).toLong)
    assert(VersionedTable.read(spark, root).count() ==
      1500L - del2.getLong(1))
    // MOR mode refuses typed predicates instead of switching cost model
    val root2 = freshRoot("typed-del-mor")
    VersionedTable.append(docs, root2, Seq("doc_id"), Seq("lang", "day"))
    spark.sql(s"CREATE VERSIONED TABLE vt_typed_mor LOCATION '$root2' " +
      "MOR DELETES")
    val e = intercept[Exception] {
      spark.sql("DELETE FROM vt_typed_mor WHERE lang = 'lang_0'")
    }
    assert(e.getMessage.contains("MOR DELETES supports long-box"))
  }

  test("DESCRIBE HISTORY / VACUUM / time-travel views / changes views: the whole lifecycle is SQL-drivable") {
    val root = freshRoot("ops")
    VersionedTable.append(rows(0, 200), root, Stats)                  // v1
    spark.sql(s"CREATE VERSIONED TABLE vt_ops LOCATION '$root' " +
      "KEYS(event_id)")
    spark.sql("DELETE FROM vt_ops WHERE user_id <= 5")                // v2
    VersionedTable.append(rows(1, 200), root, Stats)                  // v3

    // DESCRIBE HISTORY: the commit log, newest first
    val hist = spark.sql("DESCRIBE HISTORY vt_ops").collect()
    assert(hist.map(_.getLong(0)).toSeq == Seq(3L, 2L, 1L))
    assert(hist.map(_.getString(2)).toSeq == Seq("append", "delete",
      "append"))
    assert(hist.forall(_.getLong(1) > 0L), "commit timestamps recorded")

    // time travel: a view PINNED to v1 (pre-delete) — later DML does
    // not move it
    spark.sql("CREATE VERSIONED VIEW vt_ops_v1 AS vt_ops VERSION AS OF 1")
    assert(spark.sql("SELECT count(*) FROM vt_ops_v1").head.getLong(0)
      == 200L)
    // and a timestamp pin resolves to the newest version at-or-before
    val t1 = hist.find(_.getLong(0) == 1L).get.getLong(1)
    spark.sql("CREATE VERSIONED VIEW vt_ops_t1 AS vt_ops " +
      s"TIMESTAMP AS OF $t1")
    assert(spark.sql("SELECT count(*) FROM vt_ops_t1").head.getLong(0)
      == 200L)

    // CDC as a SQL relation over (1, 3]
    spark.sql("CREATE VERSIONED CHANGES VIEW vt_ops_cdc AS vt_ops " +
      "FROM 1 TO 3")
    val cdc = spark.sql("""SELECT _change_type, count(*) FROM vt_ops_cdc
        GROUP BY 1 ORDER BY 1""").collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(cdc("delete") == (0L until 200L).count(_ % 97 <= 5).toLong)
    assert(cdc("insert") == 200L)

    // VACUUM with explicit retention + zero grace: v1 drops, its
    // now-unreferenced files are reclaimed, the pinned view dies with
    // its version (the documented retention contract)
    val vac = spark.sql("VACUUM vt_ops RETAIN 2 VERSIONS GRACE 0 MS").head
    assert(vac.getLong(0) == 1L, "one version dropped")
    assert(vac.getLong(1) > 0L, "the dropped version's files reclaimed")
    assert(VersionedTable.versions(spark, root) == Seq(2L, 3L))
    // the served view refreshes on SQL statements; an API writer calls
    // refreshView explicitly (a temp view is a pinned snapshot — the
    // same reader contract as everywhere else)
    VersionedSql.refreshView(spark, "vt_ops")
    assert(spark.sql("SELECT count(*) FROM vt_ops").head.getLong(0) ==
      VersionedTable.read(spark, root).count())
  }

  test("deleteWhere ∥ append INTO the typed predicate: true conflict — the restart deletes the late rows too") {
    def docs(from: Long, n: Long, lang: String) =
      spark.range(from, from + n)
        .select($"id".as("doc_id"), lit(lang).as("lang"))
    val root = freshRoot("typed-conflict")
    VersionedTable.append(
      docs(0, 300, "keep").unionAll(docs(300, 100, "purge"))
        .repartitionByRange(4, $"lang", $"doc_id"),
      root, Seq("doc_id"), Seq("lang"))
    // competing append lands INSIDE the typed predicate — rows the
    // delete's first rewrite never saw; the typed-bounds conflict test
    // must catch them and the restart must delete them too
    VersionedTable.beforePublishHook.set(() => {
      VersionedTable.append(docs(1000, 50, "purge"), root,
        Seq("doc_id"), Seq("lang"))
      ()
    })
    val (_, deleted) = VersionedTable.deleteWhere(spark, root,
      "lang = 'purge'")
    assert(deleted == 150L,
      s"the restarted delete must also kill the late in-predicate rows: $deleted")
    assert(VersionedTable.read(spark, root)
      .filter($"lang" === "purge").count() == 0L)
    assert(VersionedTable.read(spark, root).count() == 300L)

    // and a DISJOINT concurrent append REBASES: both commit, one pass
    VersionedTable.beforePublishHook.set(() => {
      VersionedTable.append(docs(2000, 50, "other"), root,
        Seq("doc_id"), Seq("lang"))
      ()
    })
    val (_, d2) = VersionedTable.deleteWhere(spark, root, "lang = 'keep'")
    assert(d2 == 300L)
    assert(VersionedTable.read(spark, root)
      .select($"lang").distinct().as[String].collect().toSet ==
      Set("other"),
      "the disjoint append must survive the rebased delete")
  }

  test("SQL delete ∥ API append racing: the shared optimistic protocol resolves it like an API delete") {
    val root = freshRoot("race")
    VersionedTable.append(rows(0, 400), root, Stats)
    spark.sql(s"CREATE VERSIONED TABLE vt_race LOCATION '$root' " +
      "KEYS(event_id)")
    // disjoint concurrent append injected into the SQL delete's
    // read-to-CAS window: the delete REBASES (both commit)
    VersionedTable.beforePublishHook.set(() => {
      val outside = spark.range(30000, 30100)
        .select($"id".as("event_id"), ($"id" % 7 + 50L).as("user_id"),
          ($"id" * 1000L).as("ts_us"))
      VersionedTable.append(outside, root, Stats)
      ()
    })
    val del = spark.sql(
      "DELETE FROM vt_race WHERE user_id <= 10").head
    assert(del.getLong(1) == (0L until 400L).count(_ % 97 <= 10))
    assert(ids(root) == ((0L until 400L).filterNot(_ % 97 <= 10) ++
      (30000L until 30100L)),
      "both the SQL delete and the racing API append must stand")
    // and the served view observes the post-race table
    assert(spark.sql("SELECT count(*) FROM vt_race").head.getLong(0) ==
      VersionedTable.read(spark, root).count())
  }

  test("SQL DELETE past the Long extremes deletes nothing and publishes nothing, on both front-ends") {
    val Past = Seq("> 9223372036854775807", "< -9223372036854775808")
    val root = freshRoot("extremes")
    VersionedTable.append(rows(0, 100), root, Stats)
    spark.sql(s"CREATE VERSIONED TABLE vt_ext LOCATION '$root' " +
      "KEYS(event_id)")
    val v0 = VersionedTable.latestVersion(spark, root).get
    Past.foreach { cmp =>
      val del = spark.sql(s"DELETE FROM vt_ext WHERE event_id $cmp").head
      assert(del.getLong(1) == 0L, s"event_id $cmp matches no row")
    }
    assert(VersionedTable.latestVersion(spark, root).contains(v0),
      "a delete that matches nothing must publish nothing")
    assert(ids(root) == (0L until 100L))
    // the DSv2 catalog front-end renders its filters back into the
    // same dispatch
    val w = java.nio.file.Files.createTempDirectory("graft-vtdml-ext-cat")
      .toString
    spark.conf.set("spark.sql.catalog.vtext",
      "graft.pipeline.VersionedCatalog")
    spark.conf.set("spark.sql.catalog.vtext.warehouse", w)
    spark.sql("""CREATE TABLE vtext.t (id BIGINT, n BIGINT)
      TBLPROPERTIES ('stats'='id')""")
    spark.sql("INSERT INTO vtext.t SELECT id, id * 2 AS n FROM range(0, 100)")
    val c0 = VersionedTable.latestVersion(spark, s"$w/t").get
    Past.foreach(cmp => spark.sql(s"DELETE FROM vtext.t WHERE id $cmp"))
    assert(VersionedTable.latestVersion(spark, s"$w/t").contains(c0),
      "a catalog delete that matches nothing must publish nothing")
    assert(spark.table("vtext.t").count() == 100L)
  }

  test("deleteWhere prunes IN-lists: only the file holding the values is rewritten") {
    val root = freshRoot("in")
    VersionedTable.append(rows(0, 400).repartitionByRange(8, $"event_id"),
      root, Stats)
    val before = VersionedTable.entryNames(spark, root,
      VersionedTable.latestVersion(spark, root).get)
    assert(before.size == 8)
    // range-partitioned: every other file's event_id box excludes 3, 4
    val holding = VersionedTable.read(spark, root)
      .filter($"event_id".isin(3L, 4L))
      .select(input_file_name()).as[String].collect()
      .map(_.split('/').last).toSet
    assert(holding.size == 1)
    val (_, deleted) = VersionedTable.deleteWhere(spark, root,
      "event_id IN (3, 4)")
    assert(deleted == 2L)
    assert(ids(root) == (0L until 400L).filterNot(Set(3L, 4L)))
    val after = VersionedTable.entryNames(spark, root,
      VersionedTable.latestVersion(spark, root).get)
    assert((before -- holding).subsetOf(after),
      "every file whose box excludes 3 and 4 must carry by name")
    assert((before -- after) == holding)
  }
}
