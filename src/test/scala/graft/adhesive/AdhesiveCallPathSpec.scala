package graft.adhesive

import graft.TestSpark
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{CreateNamedStruct, Expression, ScalaUDF}
import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.types.{LongType, StringType, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** The adhesive call path: scalar and table calls as one codegen'd
  * [[AdhesiveCall]] over a reused argument row, primitive-STATE
  * aggregates as a hash-aggregated [[AdhesiveImperativeAggregate]], and
  * any other STATE as an [[AdhesiveObjectAggregate]]. The plan shapes are
  * pinned, and every shape is checked against built-in twins with and
  * without code generation.
  */
class AdhesiveCallPathSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {

  // an own session: the codegen settings below must not reach the suites
  // that share the SparkContext
  lazy val spark: SparkSession = TestSpark.spark.newSession()

  private val Modes = Seq(
    "codegen" -> Map("spark.sql.codegen.wholeStage" -> "true",
      "spark.sql.codegen.factoryMode" -> "FALLBACK"),
    "interpreted" -> Map("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))

  private def withConf[A](conf: Map[String, String])(body: => A): A = {
    val before = conf.keys.map(k => k -> spark.conf.getOption(k)).toMap
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  /** 20,000 rows in two partitions, 1,000 groups in each: far past the
    * 128 groups at which ObjectHashAggregate turns sort-based. About a
    * fifth of the groups hold a NULL `a`.
    */
  private lazy val setUp: Unit = {
    spark.range(0, 20000, 1, 2).selectExpr(
      "id % 1000 AS k",
      "CASE WHEN id % 97 = 3 THEN NULL ELSE id * 3 - 20000 END AS a",
      "CASE WHEN id % 11 = 5 THEN NULL ELSE concat('s', CAST(id % 89 AS STRING)) END AS s",
      "CAST(id % 50 AS DOUBLE) AS d")
      .createOrReplaceTempView("cp_in")
    def java(imports: String, body: String) =
      s"""LANGUAGE JAVA AS '
         |import graft.adhesive.*;
         |import org.apache.spark.sql.Row;
         |$imports
         |$body'""".stripMargin
    spark.sql("CREATE OR REPLACE FUNCTION cp_tag(BIGINT, STRING) RETURNS STRING DETERMINISTIC " +
      java("", """public class CpTag extends Adhesive {
        |  public Object compute(Row r) {
        |    if (r.isNullAt(0) || r.isNullAt(1)) return null;
        |    return r.getString(1) + ":" + r.getLong(0);
        |  }
        |}""".stripMargin))
    spark.sql("CREATE OR REPLACE FUNCTION cp_half(BIGINT, DOUBLE) RETURNS DOUBLE DETERMINISTIC " +
      java("", """public class CpHalf extends Adhesive {
        |  public Object compute(Row r) {
        |    return r.isNullAt(0) ? null : r.getLong(0) * 0.5 + r.getDouble(1);
        |  }
        |}""".stripMargin))
    spark.sql("CREATE OR REPLACE AGGREGATE FUNCTION cp_sum(BIGINT) RETURNS BIGINT " +
      java("", """public class CpSum extends AdhesiveAggregate {
        |  public Object zero() { return 0L; }
        |  public Object reduce(Object s, Row in) {
        |    return in.isNullAt(0) ? s : (Long) s + in.getLong(0);
        |  }
        |  public Object merge(Object a, Object b) { return (Long) a + (Long) b; }
        |}""".stripMargin))
    // a NULL input poisons the group: reduce returns a NULL state, which
    // every later reduce and merge keeps
    spark.sql("CREATE OR REPLACE AGGREGATE FUNCTION cp_poison(BIGINT) RETURNS BIGINT " +
      java("", """public class CpPoison extends AdhesiveAggregate {
        |  public Object zero() { return 0L; }
        |  public Object reduce(Object s, Row in) {
        |    if (s == null || in.isNullAt(0)) return null;
        |    return (Long) s + in.getLong(0);
        |  }
        |  public Object merge(Object a, Object b) {
        |    return a == null || b == null ? null : (Object) ((Long) a + (Long) b);
        |  }
        |}""".stripMargin))
    spark.sql("CREATE OR REPLACE AGGREGATE FUNCTION cp_dsum(DOUBLE) RETURNS DOUBLE " +
      java("", """public class CpDsum extends AdhesiveAggregate {
        |  public Object zero() { return 0.0; }
        |  public Object reduce(Object s, Row in) {
        |    return in.isNullAt(0) ? s : (Double) s + in.getDouble(0);
        |  }
        |  public Object merge(Object a, Object b) { return (Double) a + (Double) b; }
        |}""".stripMargin))
    // ARRAY state: [count, sum] of the non-NULL inputs
    spark.sql("CREATE OR REPLACE AGGREGATE FUNCTION cp_vec(BIGINT) RETURNS ARRAY<BIGINT> " +
      "STATE ARRAY<BIGINT> " +
      java("import java.util.*;", """public class CpVec extends AdhesiveAggregate {
        |  public Object zero() { return new ArrayList<Long>(Arrays.asList(0L, 0L)); }
        |  public Object reduce(Object s, Row in) {
        |    if (in.isNullAt(0)) return s;
        |    List<Long> v = (List<Long>) s;
        |    return new ArrayList<Long>(Arrays.asList(v.get(0) + 1, v.get(1) + in.getLong(0)));
        |  }
        |  public Object merge(Object a, Object b) {
        |    List<Long> x = (List<Long>) a, y = (List<Long>) b;
        |    return new ArrayList<Long>(Arrays.asList(x.get(0) + y.get(0), x.get(1) + y.get(1)));
        |  }
        |}""".stripMargin))
    // STRUCT state: (sum, count) of the non-NULL inputs, finished to the mean
    spark.sql("CREATE OR REPLACE AGGREGATE FUNCTION cp_mean(BIGINT) RETURNS DOUBLE " +
      "STATE STRUCT<s: BIGINT, n: BIGINT> " +
      java("import org.apache.spark.sql.RowFactory;", """public class CpMean extends AdhesiveAggregate {
        |  public Object zero() { return RowFactory.create(0L, 0L); }
        |  public Object reduce(Object s, Row in) {
        |    if (in.isNullAt(0)) return s;
        |    Row r = (Row) s;
        |    return RowFactory.create(r.getLong(0) + in.getLong(0), r.getLong(1) + 1L);
        |  }
        |  public Object merge(Object a, Object b) {
        |    Row x = (Row) a, y = (Row) b;
        |    return RowFactory.create(x.getLong(0) + y.getLong(0), x.getLong(1) + y.getLong(1));
        |  }
        |  public Object finish(Object s) {
        |    Row r = (Row) s;
        |    return r.getLong(1) == 0L ? null : (Object) ((double) r.getLong(0) / r.getLong(1));
        |  }
        |}""".stripMargin))
    // nested ARRAY state [[count, sum], [max]], updated in place at both levels
    spark.sql("CREATE OR REPLACE AGGREGATE FUNCTION cp_grid(DOUBLE) RETURNS ARRAY<ARRAY<DOUBLE>> " +
      "STATE ARRAY<ARRAY<DOUBLE>> " +
      java("import java.util.*;", """public class CpGrid extends AdhesiveAggregate {
        |  public Object zero() {
        |    List<List<Double>> g = new ArrayList<List<Double>>();
        |    g.add(new ArrayList<Double>(Arrays.asList(0.0, 0.0)));
        |    g.add(new ArrayList<Double>(Arrays.asList(-1.0)));
        |    return g;
        |  }
        |  private static Object fold(List<List<Double>> g, double n, double sum, double max) {
        |    g.get(0).set(0, g.get(0).get(0) + n);
        |    g.get(0).set(1, g.get(0).get(1) + sum);
        |    g.get(1).set(0, Math.max(g.get(1).get(0), max));
        |    return g;
        |  }
        |  public Object reduce(Object s, Row in) {
        |    if (in.isNullAt(0)) return s;
        |    double v = in.getDouble(0);
        |    return fold((List<List<Double>>) s, 1.0, v, v);
        |  }
        |  public Object merge(Object a, Object b) {
        |    List<List<Double>> y = (List<List<Double>>) b;
        |    return fold((List<List<Double>>) a, y.get(0).get(0), y.get(0).get(1), y.get(1).get(0));
        |  }
        |}""".stripMargin))
    // MAP state, mutated in place
    spark.sql(TestAggregates.tokenCountsDdl("cp_tok"))
    // a NULL input poisons the group to a NULL object state
    spark.sql("CREATE OR REPLACE AGGREGATE FUNCTION cp_dpoison(BIGINT) RETURNS DECIMAL(12,2) " +
      "STATE DECIMAL(12,2) " +
      java("import java.math.BigDecimal;", """public class CpDpoison extends AdhesiveAggregate {
        |  public Object zero() { return BigDecimal.valueOf(0L, 2); }
        |  public Object reduce(Object s, Row in) {
        |    if (s == null || in.isNullAt(0)) return null;
        |    return ((BigDecimal) s).add(BigDecimal.valueOf(in.getLong(0), 2));
        |  }
        |  public Object merge(Object a, Object b) {
        |    return a == null || b == null ? null : (Object) ((BigDecimal) a).add((BigDecimal) b);
        |  }
        |}""".stripMargin))
    // hands back its own argument row, twice
    spark.sql("CREATE OR REPLACE TABLE FUNCTION cp_twice(BIGINT, STRING) " +
      "RETURNS TABLE(a BIGINT, s STRING) " +
      java("import java.util.*;", """public class CpTwice extends AdhesiveTableFunction {
        |  public List<Row> eval(Row args) { return Arrays.asList(args, args); }
        |}""".stripMargin))
  }

  private def expressions(plan: SparkPlan): Seq[Expression] =
    flatMap(plan)(_.expressions.flatMap(_.collect { case e => e }))

  private def sameRows(got: DataFrame, want: DataFrame): Unit = {
    assert(got.count() == want.count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("a scalar call is one AdhesiveCall inside WholeStageCodegen, with no ScalaUDF or struct") {
    setUp
    val df = spark.sql("SELECT cp_tag(a, s) AS v, cp_half(a, d) AS h FROM cp_in")
    val plan = df.queryExecution.executedPlan
    val inStage = collect(plan) { case w: WholeStageCodegenExec => w }
      .flatMap(w => w.child.collect { case p => p.expressions }.flatten)
      .flatMap(_.collect { case c: AdhesiveCall => c })
    assert(inStage.map(_.name).toSet == Set("cp_tag", "cp_half"), plan.treeString)
    val all = expressions(plan)
    assert(!all.exists(_.isInstanceOf[ScalaUDF]), plan.treeString)
    assert(!all.exists(_.isInstanceOf[CreateNamedStruct]), plan.treeString)
    assert(df.columns.toSeq == Seq("v", "h"))
    assert(spark.sql("SELECT cp_tag(a, s) FROM cp_in").columns.toSeq == Seq("cp_tag(a, s)"))
  }

  test("a BIGINT-state aggregate plans as HashAggregate, an ARRAY-state one as ObjectHashAggregate") {
    setUp
    def aggregates(q: String): Seq[SparkPlan] =
      collect(spark.sql(q).queryExecution.executedPlan) {
        case p @ (_: HashAggregateExec | _: ObjectHashAggregateExec | _: SortAggregateExec) => p
      }
    val prim = aggregates("SELECT k, cp_sum(a) FROM cp_in GROUP BY k")
    assert(prim.nonEmpty && prim.forall(_.isInstanceOf[HashAggregateExec]), prim)
    assert(prim.forall(_.simpleString(100).contains("cp_sum(a#")), prim)
    val arr = aggregates("SELECT k, cp_vec(a) FROM cp_in GROUP BY k")
    assert(arr.nonEmpty && arr.forall(_.isInstanceOf[ObjectHashAggregateExec]), arr)
  }

  for ((mode, conf) <- Modes) {
    test(s"scalar calls equal their built-in twins, NULL arguments included ($mode)") {
      setUp
      withConf(conf) {
        val bad = spark.sql(
          """SELECT count_if(NOT (cp_tag(a, s) <=> concat(s, ':', CAST(a AS STRING)))),
            |       count_if(NOT (cp_half(a, d) <=>
            |         CASE WHEN a IS NULL THEN NULL ELSE CAST(a AS DOUBLE) * 0.5D + d END)),
            |       count_if(cp_tag(a, s) IS NULL)
            |FROM cp_in""".stripMargin).head()
        assert(bad.getLong(0) == 0L && bad.getLong(1) == 0L)
        assert(bad.getLong(2) > 0L, "the input must reach the NULL branch")
      }
    }

    test(s"aggregates equal their built-in twins over 1,000 groups per partition ($mode)") {
      setUp
      withConf(conf) {
        val got = spark.sql(
          """SELECT k, cp_sum(a) AS x, cp_poison(a) AS y, cp_dsum(d) AS z, cp_vec(a) AS w
            |FROM cp_in GROUP BY k""".stripMargin)
        val want = spark.sql(
          """SELECT k, coalesce(sum(a), 0L) AS x,
            |       CASE WHEN count_if(a IS NULL) > 0 THEN NULL ELSE coalesce(sum(a), 0L) END AS y,
            |       coalesce(sum(d), 0D) AS z,
            |       array(count(a), coalesce(sum(a), 0L)) AS w
            |FROM cp_in GROUP BY k""".stripMargin)
        sameRows(got, want)
        assert(got.count() == 1000L)
        val nullStates = got.where("y IS NULL").count()
        assert(nullStates > 0L && nullStates < 1000L, s"$nullStates groups with a NULL state")
      }
    }

    test(s"a table function returning its own argument row twice gives two rows ($mode)") {
      setUp
      withConf(conf) {
        sameRows(
          spark.sql("SELECT x.a, x.s FROM cp_in, LATERAL cp_twice(cp_in.a, cp_in.s) x"),
          spark.sql("SELECT a, s FROM cp_in UNION ALL SELECT a, s FROM cp_in"))
      }
    }
  }

  for ((mode, conf) <- Modes) {
    test(s"object-state aggregates equal their built-in twins past the sort-based fallback ($mode)") {
      setUp
      withConf(conf) {
        // MAP values cannot take part in set operations: compare the
        // sorted entries
        val got = spark.sql(
          """SELECT k, cp_mean(a) AS m, cp_grid(d) AS g,
            |       array_sort(map_entries(cp_tok(s))) AS t, cp_dpoison(a) AS p
            |FROM cp_in GROUP BY k""".stripMargin)
        val want = spark.sql(
          """SELECT c.k, CAST(sum(a) AS DOUBLE) / count(a) AS m,
            |       array(array(CAST(count(d) AS DOUBLE), coalesce(sum(d), 0D)),
            |             array(coalesce(max(d), -1D))) AS g,
            |       first(t.t) AS t,
            |       CASE WHEN count_if(a IS NULL) > 0 THEN NULL
            |            ELSE CAST(CAST(coalesce(sum(a), 0L) AS DECIMAL(20, 0)) / 100
            |                      AS DECIMAL(12, 2)) END AS p
            |FROM cp_in c LEFT JOIN (
            |  SELECT k, array_sort(collect_list(named_struct('key', s, 'value', n))) AS t
            |  FROM (SELECT k, s, count(*) AS n FROM cp_in WHERE s IS NOT NULL GROUP BY k, s)
            |  GROUP BY k) t ON c.k = t.k
            |GROUP BY c.k""".stripMargin)
        sameRows(got, want)
        assert(got.count() == 1000L)
        val nullStates = got.where("p IS NULL").count()
        assert(nullStates > 0L && nullStates < 1000L, s"$nullStates groups with a NULL state")
      }
    }
  }

  test("an object-state call's column is named after the call") {
    setUp
    assert(spark.sql("SELECT k, cp_vec(a), cp_mean(a) FROM cp_in GROUP BY k").columns.toSeq ==
      Seq("k", "cp_vec(a)", "cp_mean(a)"))
  }

  test("the argument row: typed getters, Row's own errors, copy() keeps the values") {
    val schema = new StructType().add("col1", LongType).add("col2", StringType)
    val row = new AdhesiveArgRow(schema)
    row.setLong(0, 7L)
    row.setCatalyst(1, org.apache.spark.unsafe.types.UTF8String.fromString("x"))
    assert(row.getLong(0) == 7L && row.getString(1) == "x" && row.get(0) == 7L)
    val kept = row.copy()
    row.setNullAt(0)
    row.setCatalyst(1, null)
    assert(row.isNullAt(0) && row.get(0) == null && row.getString(1) == null)
    assert(kept == Row(7L, "x") && kept.schema == schema)
    // a getter that does not fit fails as it does on a GenericRowWithSchema
    def failure(r: Row, get: Row => Any): Class[_] =
      intercept[Exception](get(r)).getClass
    val genericNull = new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
      Array[Any](null, null), schema)
    assert(failure(row, _.getLong(0)) == failure(genericNull, _.getLong(0)))
    row.setLong(0, 1L)
    assert(failure(row, _.getInt(0)) == failure(kept, _.getInt(0)))
    assert(failure(row, _.getInt(0)) == classOf[ClassCastException])
  }
}
