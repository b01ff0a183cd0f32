package graft.pipeline

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.Prop.forAll
import org.scalacheck.Test.{check, Parameters}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Stats pruning is a SOUND over-approximation, as a property: for
  * generated conjunctions of =, <, <=, >, >=, BETWEEN, IN and
  * IS [NOT] NULL over a long stat column (`id`, NULLs and the Long
  * extremes included) and a string typed column (`tag`, one all-NULL
  * file), the pruned SQL read returns exactly the rows an in-memory
  * model selects — so no file holding a matching row was pruned — and
  * `deleteWhere` leaves exactly the model's survivors, or fails without
  * publishing; the one known refusal is a predicate with no
  * stats-checkable conjunct. A rewrite whose output file holds only
  * NULLs in `id` publishes that file with an empty long box.
  */
class VersionedPruningPropertySpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Row i of the table: its `id` and `tag`, None = NULL. Rows are
    * written as 8 files of 50 (file = i / 50), ids ascending with i so
    * the files' boxes are narrow; file 3 holds only NULL tags.
    */
  private val model: Seq[(Int, Option[Long], Option[String])] =
    (0 until 400).map { i =>
      val id = i match {
        case 1 => Some(Long.MinValue)
        case 2 => Some(Long.MinValue + 1)
        case 347 => Some(Long.MaxValue - 1)
        case 348 => Some(Long.MaxValue)
        case _ if i % 17 == 0 => None
        case _ => Some((i - 200) * 10L)
      }
      val tag =
        if (i / 50 == 3 || i % 11 == 0) None else Some(f"t${i / 3}%03d")
      (i, id, tag)
    }

  private def build(root: String): Unit = {
    val df = model.map { case (i, id, tag) => (i, i / 50, id, tag) }
      .toDF("i", "f", "id", "tag")
      .repartitionByRange(8, $"f").drop("f")
    VersionedTable.append(df, root, Seq("id"), Seq("tag"))
  }

  private def freshRoot(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-prune-prop-$tag")
      .resolve("t").toString

  /** One conjunct: its SQL text and whether it is TRUE on a row (SQL
    * three-valued logic: a comparison against NULL is never TRUE).
    */
  private case class Atom(sql: String,
      holds: (Option[Long], Option[String]) => Boolean)

  private val ops: Seq[(String, (Int => Boolean))] = Seq(
    "=" -> (_ == 0), "<" -> (_ < 0), "<=" -> (_ <= 0), ">" -> (_ > 0),
    ">=" -> (_ >= 0))
  private val flipped =
    Map("=" -> "=", "<" -> ">", "<=" -> ">=", ">" -> "<", ">=" -> "<=")

  private val genLong: Gen[Long] = Gen.frequency(
    3 -> Gen.oneOf(Long.MinValue, Long.MinValue + 1, Long.MaxValue - 1,
      Long.MaxValue),
    4 -> Gen.choose(-210L, 210L).map(_ * 10L),
    2 -> Gen.choose(-2100L, 2100L))
  private val genStr: Gen[String] = Gen.frequency(
    4 -> Gen.choose(0, 140).map(n => f"t$n%03d"),
    1 -> Gen.oneOf("", "t", "t05", "t1", "u", "zzz"))

  private def cmpAtom[T](c: String, lit: T, render: T => String,
      get: (Option[Long], Option[String]) => Option[T],
      ord: Ordering[T]): Gen[Atom] =
    for {
      opTest <- Gen.oneOf(ops)
      flip <- Gen.oneOf(true, false)
    } yield {
      val (op, test) = opTest
      val sql = if (flip) s"${render(lit)} ${flipped(op)} $c"
        else s"$c $op ${render(lit)}"
      Atom(sql, (id, tag) =>
        get(id, tag).exists(v => test(ord.compare(v, lit))))
    }

  private def atoms[T](c: String, gen: Gen[T], render: T => String,
      get: (Option[Long], Option[String]) => Option[T],
      ord: Ordering[T]): Gen[Atom] = Gen.oneOf(
    gen.flatMap(v => cmpAtom(c, v, render, get, ord)),
    Gen.zip(gen, gen).map { case (lo, hi) =>
      Atom(s"$c BETWEEN ${render(lo)} AND ${render(hi)}", (id, tag) =>
        get(id, tag).exists(v => ord.lteq(lo, v) && ord.lteq(v, hi)))
    },
    Gen.choose(1, 4).flatMap(n => Gen.listOfN(n, gen)).map { vs =>
      Atom(s"$c IN (${vs.map(render).mkString(", ")})", (id, tag) =>
        get(id, tag).exists(v => vs.exists(ord.equiv(_, v))))
    },
    Gen.oneOf(
      Atom(s"$c IS NULL", (id, tag) => get(id, tag).isEmpty),
      Atom(s"$c IS NOT NULL", (id, tag) => get(id, tag).nonEmpty)))

  private val genAtom: Gen[Atom] = Gen.oneOf(
    atoms[Long]("id", genLong, _.toString, (id, _) => id,
      Ordering.Long),
    atoms[String]("tag", genStr, s => s"'$s'", (_, tag) => tag,
      Ordering.String))

  private val genPred: Gen[Seq[Atom]] =
    Gen.choose(1, 3).flatMap(n => Gen.listOfN(n, genAtom))

  private def sqlOf(p: Seq[Atom]): String = p.map(_.sql).mkString(" AND ")

  private def matching(p: Seq[Atom]): Set[Int] =
    model.collect { case (i, id, tag) if p.forall(_.holds(id, tag)) => i }
      .toSet

  private def passes(prop: org.scalacheck.Prop, trials: Int): Unit = {
    val res = check(Parameters.default.withMinSuccessfulTests(trials)
      .withInitialSeed(Seed(20261018L)), prop)
    assert(res.passed, res.status.toString)
  }

  test("property: the pruned SQL read keeps every file holding a matching row and counts what the model counts") {
    val root = freshRoot("read")
    build(root)
    val (df, Seq(index)) = VersionedTable.sqlReadWithIndexes(spark, root,
      None)
    val fileOf = df.select(input_file_name(), $"i").collect()
      .map(r => r.getInt(1) -> r.getString(0)).toMap
    assert(fileOf.values.toSet.size == 8, "the table must span 8 files")
    passes(forAll(genPred) { p =>
      val got = df.filter(expr(sqlOf(p)))
        .select(input_file_name(), $"i").collect()
        .map(r => r.getInt(1) -> r.getString(0))
      val want = matching(p)
      val ok = got.map(_._1).toSet == want && got.length == want.size &&
        got.forall { case (i, f) => fileOf(i) == f } &&
        (want.isEmpty || index.lastKeptFiles >= want.map(fileOf).size)
      if (!ok) info(s"${sqlOf(p)}: got ${got.length} rows, model " +
        s"${want.size}; kept ${index.lastKeptFiles} files")
      ok
    }, trials = 60)
  }

  test("a rewrite whose output file holds only NULLs in a long stat column publishes, and that file matches only IS NULL") {
    val root = freshRoot("all-null")
    build(root)
    val v0 = VersionedTable.latestVersion(spark, root).get
    VersionedTable.deleteWhere(spark, root,
      "-1180 >= id AND id BETWEEN -9223372036854775808 AND -178")
    assert(VersionedTable.latestVersion(spark, root).get == v0 + 1)
    val left = VersionedTable.read(spark, root).select($"i").as[Int]
      .collect().toSet
    assert(left == model.collect {
      case (i, id, _) if !id.exists(_ <= -1180L) => i }.toSet)
    // the rewrite of file 0 keeps only its NULL ids: the full long range
    // prunes that file and no other, IS NULL still reads its rows
    val (kept, total) = VersionedTable.prunedFileCount(spark, root,
      Seq(("id", Long.MinValue, Long.MaxValue)))
    assert(kept == total - 1, s"kept $kept of $total files")
    val nulls = VersionedTable.sqlRead(spark, root).filter($"id".isNull)
      .select($"i").as[Int].collect().toSet
    assert(nulls == model.collect { case (i, None, _) => i }.toSet)
    // a column without long statistics still aborts the write
    for (c <- Seq("tag", "nope")) {
      val e = intercept[IllegalArgumentException](
        VersionedTable.append(model.map { case (i, _, tag) => (i, tag) }
          .toDF("i", "tag"), freshRoot(s"bad-$c"), Seq(c)))
      assert(e.getMessage.contains("no usable long statistics"), e.getMessage)
    }
  }

  test("property: deleteWhere leaves exactly the model's survivors, or fails without publishing") {
    passes(forAll(genPred) { p =>
      val root = freshRoot("delete")
      build(root)
      val v0 = VersionedTable.latestVersion(spark, root).get
      val refused =
        try { VersionedTable.deleteWhere(spark, root, sqlOf(p)); false }
        catch {
          case e: IllegalArgumentException
              if e.getMessage.contains("stats-checkable") ||
                e.getMessage.contains("no usable long statistics") =>
            info(s"${sqlOf(p)}: ${e.getMessage.take(60)}…")
            true
        }
      val left = VersionedTable.read(spark, root).select($"i").as[Int]
        .collect().toSet
      val want =
        if (refused) model.map(_._1).toSet
        else model.map(_._1).toSet -- matching(p)
      val ok = left == want &&
        (!refused || VersionedTable.latestVersion(spark, root).get == v0)
      if (!ok) info(s"${sqlOf(p)}: refused=$refused, ${left.size} rows " +
        s"left, model ${want.size}")
      ok
    }, trials = 6)
  }
}
