package graft.adhesive

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** [[AdhesiveConstantFolding]]: DETERMINISTIC calls over literal arguments
  * fold to a plan-time Literal; volatile calls and non-literal arguments
  * never fold; a throwing call is left in place so the error still
  * surfaces at execution.
  */
class ConstantFoldingSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark

  private def hasUdf(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.optimizedPlan.expressions.exists(
      _.exists(_.isInstanceOf[AdhesiveCall]))

  private def define(name: String, deterministic: Boolean): Unit = {
    val det = if (deterministic) "DETERMINISTIC " else ""
    spark.sql(s"""CREATE OR REPLACE FUNCTION $name(BIGINT, BIGINT)
      RETURNS BIGINT ${det}LANGUAGE JAVA AS '
      import graft.adhesive.Adhesive;
      import org.apache.spark.sql.Row;
      public class FoldAdd extends Adhesive {
        public Object compute(Row row) {
          long b = row.getLong(1);
          if (b == 13L) throw new RuntimeException("unlucky");
          return row.getLong(0) + b;
        }
      }'""")
  }

  test("deterministic call over literals folds to a Literal") {
    define("fold_det", deterministic = true)
    val df = spark.sql("SELECT fold_det(40L, 2L) AS v FROM range(3)")
    assert(!hasUdf(df), "expected the call to fold out of the plan")
    assert(df.collect().map(_.getLong(0)).toSeq == Seq(42L, 42L, 42L))
  }

  test("deterministic DECIMAL / ARRAY / STRUCT calls fold to typed Literals") {
    // ScalaUDF.eval returns the Catalyst-INTERNAL value (Decimal,
    // ArrayData, InternalRow), so the folded Literal is valid for the
    // round-12 container return types too
    spark.sql("""CREATE OR REPLACE FUNCTION fold_dec(BIGINT)
      RETURNS DECIMAL(10,2) DETERMINISTIC LANGUAGE JAVA AS '
      import graft.adhesive.Adhesive;
      import org.apache.spark.sql.Row;
      public class FoldDec extends Adhesive {
        public Object compute(Row row) {
          return new java.math.BigDecimal(row.getLong(0)).movePointLeft(2);
        }
      }'""")
    val dec = spark.sql("SELECT fold_dec(4200L) AS v FROM range(2)")
    assert(!hasUdf(dec), "decimal call must fold out of the plan")
    assert(dec.collect().map(_.getDecimal(0).toPlainString).toSeq ==
      Seq("42.00", "42.00"))
    spark.sql("""CREATE OR REPLACE FUNCTION fold_arr(BIGINT)
      RETURNS ARRAY<BIGINT> DETERMINISTIC LANGUAGE JAVA AS '
      import graft.adhesive.Adhesive;
      import org.apache.spark.sql.Row;
      import java.util.ArrayList; import java.util.List;
      public class FoldArr extends Adhesive {
        public Object compute(Row row) {
          List<Long> out = new ArrayList<>();
          for (long i = 1; i <= row.getLong(0); i++) out.add(i);
          return out;
        }
      }'""")
    val arr = spark.sql("SELECT fold_arr(3L) AS v FROM range(2)")
    assert(!hasUdf(arr), "array call must fold out of the plan")
    assert(arr.collect().map(_.getSeq[Long](0).toList).toSeq ==
      Seq(List(1L, 2L, 3L), List(1L, 2L, 3L)))
    spark.sql("""CREATE OR REPLACE FUNCTION fold_st(BIGINT)
      RETURNS STRUCT<q: BIGINT, r: BIGINT> DETERMINISTIC LANGUAGE JAVA AS '
      import graft.adhesive.Adhesive;
      import org.apache.spark.sql.Row;
      import org.apache.spark.sql.RowFactory;
      public class FoldSt extends Adhesive {
        public Object compute(Row row) {
          return RowFactory.create(row.getLong(0) / 10, row.getLong(0) % 10);
        }
      }'""")
    val st = spark.sql("SELECT fold_st(42L).q AS q, fold_st(42L).r AS r")
    assert(!hasUdf(st), "struct call must fold out of the plan")
    assert(st.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((4L, 2L)))
  }

  test("volatile call over literals does NOT fold (reference Volatile parity)") {
    define("fold_vol", deterministic = false)
    val df = spark.sql("SELECT fold_vol(40L, 2L) AS v FROM range(3)")
    assert(hasUdf(df), "volatile call must stay in the plan")
    assert(df.collect().map(_.getLong(0)).toSeq == Seq(42L, 42L, 42L))
  }

  test("deterministic call over a column does NOT fold") {
    define("fold_col", deterministic = true)
    val df = spark.sql("SELECT fold_col(CAST(id AS BIGINT), 2L) AS v FROM range(3)")
    assert(hasUdf(df), "non-literal args must stay in the plan")
    assert(df.collect().map(_.getLong(0)).toSeq == Seq(2L, 3L, 4L))
  }

  test("deterministic STRING-returning call over literals folds to a Literal") {
    // the folded value crosses the CatalystTypeConverters boundary
    // (String -> UTF8String) — the extended return matrix must fold too
    spark.sql("""CREATE OR REPLACE FUNCTION fold_str(STRING)
      RETURNS STRING DETERMINISTIC LANGUAGE JAVA AS '
      import graft.adhesive.Adhesive;
      import org.apache.spark.sql.Row;
      public class FoldUp extends Adhesive {
        public Object compute(Row row) { return row.getString(0).toUpperCase(java.util.Locale.ROOT); }
      }'""")
    val df = spark.sql("SELECT fold_str('abc') AS v FROM range(2)")
    assert(!hasUdf(df), "expected the STRING call to fold out of the plan")
    assert(df.collect().map(_.getString(0)).toSeq == Seq("ABC", "ABC"))
  }

  test("throwing call over literals is left unfolded and fails at execution") {
    define("fold_boom", deterministic = true)
    val df = spark.sql("SELECT fold_boom(1L, 13L) AS v FROM range(1)")
    assert(hasUdf(df), "a throwing call must not be folded away")
    val e = intercept[Exception] { df.collect() }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("unlucky")))
  }
}
