package graft.pipeline

import graft.TestSpark
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Keyed DML on both sides of [[VersionedTable.SparseKeyProbeLimit]]: a
  * key set of that many tuples resolves locally, one more takes the
  * dense tier. For long, string and mixed (long, string) keys, each of
  * `upsertByKey`, `applyCdcBatch`, `deleteKeysMor`, SQL UPDATE and SQL
  * MERGE commits a key set of exactly that size, and the table must
  * equal an in-memory model after every commit. The table holds rows
  * whose key is NULL, in the files those commits rewrite; they match no
  * key and survive, as they do under a `left_anti` join. The upsert's
  * NULL-key, duplicate-key and empty-updates errors keep their exact
  * messages in both tiers, and an UPDATE that matches nothing publishes
  * nothing.
  */
class VersionedKeyTierSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark

  private val Limit = VersionedTable.SparseKeyProbeLimit.toInt
  private val Sizes = Seq(Limit, Limit + 1)

  /** Each op draws its keys from its own residue class of `id % 5`, so
    * every op's key set has exactly the size asked for and spans the
    * whole id range, and with it every data file.
    */
  private val Keyed = 5 * (Limit + 1)

  private val Schema = StructType(Seq(
    StructField("id", LongType), StructField("sid", StringType),
    StructField("v", LongType)))

  private sealed abstract class Kind(val name: String,
      val keyCols: Seq[String]) {
    def key(r: Row): Seq[Any] = keyCols.map(c => r.get(Schema.fieldIndex(c)))
    def hasNullKey(r: Row): Boolean = key(r).contains(null)
  }
  private case object LongKey extends Kind("long", Seq("id"))
  private case object StringKey extends Kind("string", Seq("sid"))
  private case object MixedKey extends Kind("mixed", Seq("id", "sid"))
  private val Kinds = Seq(LongKey, StringKey, MixedKey)

  private def sidOf(id: Long): String = f"k$id%06d"
  private def row(id: Long, v: Long): Row = Row(id, sidOf(id), v)

  /** The keyed rows plus three rows with a NULL `id` and three with a
    * NULL `sid`. Range partitioning on `id` puts both kinds in the
    * first file, which holds the smallest keys and so is rewritten by
    * every op.
    */
  private val initial: Seq[Row] =
    (0L until Keyed).map(i => row(i, i * 10L)) ++
      (0 until 3).map(i => Row(null, s"n$i", -1L)) ++
      (0 until 3).map(i => Row(-1L - i, null, -2L))

  private def frame(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, Schema)

  private def build(tag: String): String = {
    val root = java.nio.file.Files.createTempDirectory(s"graft-keytier-$tag")
      .resolve("t").toString
    VersionedTable.append(frame(initial).repartitionByRange(6,
      org.apache.spark.sql.functions.col("id")), root, Seq("id", "v"),
      Seq("sid"))
    root
  }

  private def render(rows: Iterable[Row]): Seq[String] =
    rows.map(_.toSeq.mkString("|")).toSeq.sorted

  private def assertModel(root: String, model: Seq[Row], step: String): Unit = {
    val got = render(VersionedTable.read(spark, root)
      .select("id", "sid", "v").collect())
    val want = render(model)
    assert(got.size == want.size, s"$step: ${got.size} rows, model has ${want.size}")
    assert(got == want, s"$step: table differs from the model")
  }

  /** The model after a keyed commit: every row whose key is one of
    * `keys` goes, then `upserts` land. A NULL key matches nothing.
    */
  private def applied(model: Seq[Row], kind: Kind, keys: Set[Seq[Any]],
      upserts: Seq[Row]): Seq[Row] =
    model.filterNot(r => !kind.hasNullKey(r) && keys(kind.key(r))) ++ upserts

  private def ids(residue: Int, n: Int): Seq[Long] =
    (0 until n).map(i => 5L * i + residue)

  for (kind <- Kinds; size <- Sizes) {
    test(s"${kind.name} keys, $size tuples: every keyed commit equals the model and keeps NULL-key rows") {
      val root = build(s"${kind.name}-$size")
      var model = initial
      assertModel(root, model, "append")
      val nullKeyRows = initial.filter(kind.hasNullKey)

      // upsertByKey: size update rows, ten of them new keys
      val ups = ids(0, size - 10).map(i => row(i, -i)) ++
        (0L until 10L).map(i => row(Keyed + i, 7L))
      val (_, replaced) = VersionedTable.upsertByKey(spark, root, frame(ups),
        kind.keyCols)
      assert(replaced == size - 10L)
      model = applied(model, kind, ups.map(kind.key).toSet, ups)
      assertModel(root, model, "upsertByKey")

      // applyCdcBatch: size keys, half deleted, half replaced
      val cdcIds = ids(1, size)
      val (dels, reps) = cdcIds.splitAt(size / 2)
      val cdcUps = reps.map(i => row(i, -3L * i))
      val delRows = dels.map(i => row(i, 0L))
      val delKeys = spark.createDataFrame(delRows.map(r =>
        Row.fromSeq(kind.key(r))).asJava,
        StructType(kind.keyCols.map(c => Schema(c))))
      val (_, applied1) = VersionedTable.applyCdcBatch(spark, root,
        frame(cdcUps), delKeys, kind.keyCols, 1L)
      assert(applied1)
      model = applied(model, kind,
        (delRows ++ cdcUps).map(kind.key).toSet, cdcUps)
      assertModel(root, model, "applyCdcBatch")

      // deleteKeysMor on the first key column: size keys
      val delCol = kind.keyCols.head
      val gone = ids(2, size).map(i => row(i, 0L))
      val morKeys = spark.createDataFrame(gone.map(r =>
        Row(r.get(Schema.fieldIndex(delCol)))).asJava,
        StructType(Seq(Schema(delCol))))
      val (_, deleted) = VersionedTable.deleteKeysMor(spark, root, delCol,
        morKeys)
      assert(deleted == size.toLong)
      val goneVals = gone.map(_.get(Schema.fieldIndex(delCol))).toSet
      model = model.filterNot(r => goneVals(r.get(Schema.fieldIndex(delCol))))
      assertModel(root, model, "deleteKeysMor")

      // SQL UPDATE over exactly size rows
      val name = s"keytier_${kind.name}_$size"
      spark.sql(s"CREATE VERSIONED TABLE $name LOCATION '$root' " +
        s"KEYS(${kind.keyCols.mkString(", ")})")
      val upd = spark.sql(s"UPDATE $name SET v = v + 1 " +
        s"WHERE id % 5 = 3 AND id < ${5L * size}").head
      assert(upd.getLong(1) == size.toLong)
      model = model.map(r =>
        if (!r.isNullAt(0) && r.getLong(0) % 5 == 3 && r.getLong(0) < 5L * size)
          Row(r.get(0), r.get(1), r.getLong(2) + 1)
        else r)
      assertModel(root, model, "UPDATE")

      // SQL MERGE: size source rows, half matched, half new
      val half = size / 2
      val src = ids(4, half).map(i => row(i, 11L)) ++
        (0L until (size - half).toLong).map(i => row(Keyed + 100 + i, 13L))
      frame(src).createOrReplaceTempView(s"${name}_src")
      val on = kind.keyCols.map(c => s"$name.$c = ${name}_src.$c")
        .mkString(" AND ")
      val mrg = spark.sql(
        s"""MERGE INTO $name USING ${name}_src ON $on
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin).head
      assert(mrg.getLong(1) == half.toLong && mrg.getLong(3) == (size - half).toLong)
      model = applied(model, kind, src.map(kind.key).toSet, src)
      assertModel(root, model, "MERGE")

      assert(nullKeyRows.forall(model.contains),
        "every NULL-key row is in the model, so every commit kept it")
    }
  }

  private def upsertError(root: String, kind: Kind, rows: Seq[Row]): String = {
    val v0 = VersionedTable.latestVersion(spark, root)
    val e = intercept[IllegalArgumentException] {
      VersionedTable.upsertByKey(spark, root, frame(rows), kind.keyCols)
    }
    assert(VersionedTable.latestVersion(spark, root) == v0,
      "a refused upsert publishes nothing")
    e.getMessage
  }

  test("upsertByKey's NULL-key, duplicate-key and empty-updates errors keep their messages in both tiers") {
    val root = build("errors")
    val req = "requirement failed: upsertByKey: "
    for (size <- Sizes) {
      val keyed = ids(0, size).map(i => row(i, 1L))
      // all NULL in one key column
      assert(upsertError(root, LongKey, keyed.map(r => Row(null, r.get(1), 1L))) ==
        req + s"every one of $size rows carries a NULL key 'id' — a NULL " +
          "key can neither match nor be matched")
      assert(upsertError(root, MixedKey, keyed.map(r => Row(r.get(0), null, 1L))) ==
        req + s"every one of $size rows carries a NULL key 'sid' — a NULL " +
          "key can neither match nor be matched")
      // some NULL
      val someNullId = keyed.zipWithIndex.map { case (r, i) =>
        if (i % 2000 == 5) Row(null, r.get(1), 1L) else r
      }
      assert(upsertError(root, LongKey, someNullId) ==
        req + s"${someNullId.count(_.isNullAt(0))} update rows carry a " +
          "NULL key 'id' — NULL keys can neither replace nor be replaced " +
          "and would duplicate on every upsert")
      val someNull = keyed.zipWithIndex.map { case (r, i) =>
        if (i % 1000 == 7) Row(r.get(0), null, 1L) else r
      }
      val nulls = someNull.count(_.isNullAt(1))
      for (kind <- Seq(StringKey, MixedKey))
        assert(upsertError(root, kind, someNull) ==
          req + s"$nulls update rows carry a NULL key 'sid' — NULL keys " +
            "can neither replace nor be replaced and would duplicate on " +
            "every upsert")
      // duplicate keys: the last three rows repeat the first three keys
      val dup = keyed.dropRight(3) ++ keyed.take(3).map(r =>
        Row(r.get(0), r.get(1), 2L))
      for (kind <- Kinds)
        assert(upsertError(root, kind, dup) ==
          req + s"3 duplicate-key update rows over " +
            s"${kind.keyCols.mkString("(", ", ", ")")} — both copies " +
            "would land as an atomically committed corruption; " +
            "de-duplicate the updates first")
    }
    for (kind <- Kinds)
      assert(upsertError(root, kind, Seq.empty) == req + "empty updates")
  }

  test("an UPDATE that matches nothing returns the base version and 0, and publishes nothing") {
    val root = build("noop-update")
    spark.sql(s"CREATE VERSIONED TABLE keytier_noop LOCATION '$root' KEYS(id)")
    val v0 = VersionedTable.latestVersion(spark, root).get
    val r = spark.sql("UPDATE keytier_noop SET v = 0 WHERE id < -100").head
    assert((r.getLong(0), r.getLong(1)) == ((v0, 0L)))
    assert(VersionedTable.latestVersion(spark, root).contains(v0))
    assertModel(root, initial, "no-op UPDATE")
  }
}
