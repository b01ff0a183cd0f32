package graft.adhesive

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** `CREATE AGGREGATE FUNCTION` end-to-end: DDL parse, compile, udaf
  * registration, grouped/global evaluation, merge correctness across
  * partitions, STATE clause, and the error paths.
  */
class AggregateDdlSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val WeightedSumDdl =
    """CREATE OR REPLACE AGGREGATE FUNCTION wsum(DOUBLE, DOUBLE) RETURNS DOUBLE LANGUAGE JAVA AS '
      |import graft.adhesive.AdhesiveAggregate;
      |import org.apache.spark.sql.Row;
      |public class WeightedSum extends AdhesiveAggregate {
      |  public Object zero() { return 0.0; }
      |  public Object reduce(Object state, Row input) {
      |    if (input.isNullAt(0) || input.isNullAt(1)) return state;
      |    return (Double) state + input.getDouble(0) * input.getDouble(1);
      |  }
      |  public Object merge(Object a, Object b) { return (Double) a + (Double) b; }
      |}
      |'""".stripMargin

  test("grouped aggregate over many partitions matches the built-in") {
    spark.sql(WeightedSumDdl)
    // 32 partitions so map-side partials + shuffle merge actually run
    spark.range(0, 10000, 1, 32)
      .selectExpr("id % 7 AS k", "CAST(id AS DOUBLE) AS v",
        "CAST(id % 5 AS DOUBLE) AS w")
      .createOrReplaceTempView("t_agg")
    val got = spark.sql(
      "SELECT k, wsum(v, w) AS s FROM t_agg GROUP BY k ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val want = spark.sql(
      "SELECT k, sum(v * w) AS s FROM t_agg GROUP BY k ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.toSeq == want.toSeq)
  }

  test("global (ungrouped) aggregate and empty input") {
    spark.sql(WeightedSumDdl)
    Seq((2.0, 3.0), (4.0, 0.5)).toDF("v", "w").createOrReplaceTempView("t_g")
    assert(spark.sql("SELECT wsum(v, w) AS s FROM t_g").head().getDouble(0) == 8.0)
    // empty input folds to finish(zero)
    assert(spark.sql("SELECT wsum(v, w) AS s FROM t_g WHERE v > 100")
      .head().getDouble(0) == 0.0)
  }

  test("STATE clause: LONG-state count-like aggregate returning STRING") {
    spark.sql(
      """CREATE OR REPLACE AGGREGATE FUNCTION tagged_count(BIGINT) RETURNS STRING STATE BIGINT LANGUAGE JAVA AS '
        |import graft.adhesive.AdhesiveAggregate;
        |import org.apache.spark.sql.Row;
        |public class TaggedCount extends AdhesiveAggregate {
        |  public Object zero() { return 0L; }
        |  public Object reduce(Object state, Row input) {
        |    return input.isNullAt(0) ? state : (Long) state + 1L;
        |  }
        |  public Object merge(Object a, Object b) { return (Long) a + (Long) b; }
        |  public Object finish(Object state) { return "n=" + state; }
        |}
        |'""".stripMargin)
    spark.range(0, 1000, 1, 8).selectExpr("id AS x", "id % 3 AS k")
      .createOrReplaceTempView("t_tc")
    val out = spark.sql(
      "SELECT k, tagged_count(x) AS c FROM t_tc GROUP BY k ORDER BY k")
      .collect().map(_.getString(1))
    assert(out.toSeq == Seq("n=334", "n=333", "n=333"))
  }

  test("LANGUAGE SCALA aggregate compiles and runs") {
    spark.sql(
      """CREATE OR REPLACE AGGREGATE FUNCTION smax(BIGINT) RETURNS BIGINT LANGUAGE SCALA AS $$
        |import graft.adhesive.AdhesiveAggregate
        |import org.apache.spark.sql.Row
        |class SMax extends AdhesiveAggregate {
        |  def zero(): AnyRef = java.lang.Long.valueOf(Long.MinValue)
        |  def reduce(state: AnyRef, input: Row): AnyRef =
        |    if (input.isNullAt(0)) state
        |    else java.lang.Long.valueOf(math.max(state.asInstanceOf[Long], input.getLong(0)))
        |  def merge(a: AnyRef, b: AnyRef): AnyRef =
        |    java.lang.Long.valueOf(math.max(a.asInstanceOf[Long], b.asInstanceOf[Long]))
        |}
        |$$""".stripMargin)
    spark.range(0, 500, 1, 8).selectExpr("id AS x").createOrReplaceTempView("t_sm")
    assert(spark.sql("SELECT smax(x) AS m FROM t_sm").head().getLong(0) == 499L)
  }

  test("exact argument types are enforced for aggregate calls (StrictArg)") {
    spark.sql(WeightedSumDdl)
    spark.range(0, 10).selectExpr("CAST(id AS DOUBLE) AS v", "id AS k")
      .createOrReplaceTempView("t_strict")
    // STRING where DOUBLE is declared: plan-time error like the scalar twin,
    // not Spark's silent UDAF coercion
    val e = intercept[Exception] {
      spark.sql("SELECT wsum('1.0', v) FROM t_strict").collect()
    }
    assert(e.getMessage.contains("exact type"))
    // BIGINT where DOUBLE is declared fails too (no numeric widening)
    val e2 = intercept[Exception] {
      spark.sql("SELECT wsum(k, v) FROM t_strict").collect()
    }
    assert(e2.getMessage.contains("exact type"))
    // wrong arity keeps its clear message
    val e3 = intercept[Exception] {
      spark.sql("SELECT wsum(v) FROM t_strict").collect()
    }
    assert(e3.getMessage.contains("takes 2 argument"))
    // the exact call still works
    assert(spark.sql("SELECT wsum(v, v) AS s FROM t_strict").head().getDouble(0) ==
      (0 until 10).map(i => i.toDouble * i).sum)
  }

  test("DECIMAL(p,s) return/state: exact money sum survives partial merge") {
    spark.sql(
      """CREATE OR REPLACE AGGREGATE FUNCTION dsum(DECIMAL(12,2)) RETURNS DECIMAL(12,2) LANGUAGE JAVA AS '
        |import graft.adhesive.AdhesiveAggregate;
        |import org.apache.spark.sql.Row;
        |import java.math.BigDecimal;
        |public class DSum extends AdhesiveAggregate {
        |  public Object zero() { return BigDecimal.ZERO; }
        |  public Object reduce(Object state, Row input) {
        |    if (input.isNullAt(0)) return state;
        |    return ((BigDecimal) state).add(input.getDecimal(0));
        |  }
        |  public Object merge(Object a, Object b) {
        |    return ((BigDecimal) a).add((BigDecimal) b);
        |  }
        |}
        |'""".stripMargin)
    // 32 partitions so the shuffle actually merges DECIMAL partials
    spark.range(0, 10000, 1, 32)
      .selectExpr("id % 3 AS k", "CAST(CAST(id AS DOUBLE) / 100 AS DECIMAL(12,2)) AS m")
      .createOrReplaceTempView("t_dec")
    val got = spark.sql("SELECT k, dsum(m) AS s FROM t_dec GROUP BY k ORDER BY k")
    assert(got.schema("s").dataType ==
      org.apache.spark.sql.types.DecimalType(12, 2))
    val gotRows = got.collect().map(r => (r.getLong(0), r.getDecimal(1).toPlainString))
    val want = spark.sql(
      "SELECT k, CAST(sum(m) AS DECIMAL(12,2)) AS s FROM t_dec GROUP BY k ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getDecimal(1).toPlainString))
    assert(gotRows.toSeq == want.toSeq)
  }

  test("ARRAY<DOUBLE> state: element-wise vector sum across partitions") {
    // the embedding-pipeline shape: a dynamic UDAF folding vectors
    // element-wise; state and result are java.util.List, the same container
    // the argument side's row.getList hands out. Body shared with
    // SCALE.md's aggregate-state shuffle study (TestAggregates).
    spark.sql(TestAggregates.vectorSumDdl("vsum"))
    spark.range(0, 1000, 1, 16)
      .selectExpr("id % 4 AS k",
        "array(CAST(id AS DOUBLE), CAST(1 AS DOUBLE)) AS v")
      .createOrReplaceTempView("t_vec")
    val got = spark.sql("SELECT k, vsum(v) AS s FROM t_vec GROUP BY k ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toList))
    val want = spark.sql(
      """SELECT k, array(sum(v[0]), sum(v[1])) AS s
        |FROM t_vec GROUP BY k ORDER BY k""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toList))
    assert(got.toSeq == want.toSeq)
  }

  test("STRUCT state: composite (sum, count) mean aggregate, exact merge") {
    // the state shape a mean/variance aggregate actually needs — two
    // integer fields folded exactly, one double division at finish
    spark.sql(
      """CREATE OR REPLACE AGGREGATE FUNCTION imean(BIGINT) RETURNS DOUBLE STATE STRUCT<s: BIGINT, n: BIGINT> LANGUAGE JAVA AS '
        |import graft.adhesive.AdhesiveAggregate;
        |import org.apache.spark.sql.Row;
        |import org.apache.spark.sql.RowFactory;
        |public class IMean extends AdhesiveAggregate {
        |  public Object zero() { return RowFactory.create(0L, 0L); }
        |  public Object reduce(Object state, Row input) {
        |    if (input.isNullAt(0)) return state;
        |    Row s = (Row) state;
        |    return RowFactory.create(s.getLong(0) + input.getLong(0), s.getLong(1) + 1L);
        |  }
        |  public Object merge(Object a, Object b) {
        |    Row x = (Row) a, y = (Row) b;
        |    return RowFactory.create(x.getLong(0) + y.getLong(0), x.getLong(1) + y.getLong(1));
        |  }
        |  public Object finish(Object state) {
        |    Row s = (Row) state;
        |    return s.getLong(1) == 0 ? null : (double) s.getLong(0) / s.getLong(1);
        |  }
        |}
        |'""".stripMargin)
    spark.range(0, 10000, 1, 32).selectExpr("id % 7 AS k", "id AS x")
      .createOrReplaceTempView("t_mean")
    val got = spark.sql("SELECT k, imean(x) AS m FROM t_mean GROUP BY k ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val want = spark.sql(
      "SELECT k, CAST(sum(x) AS DOUBLE) / count(x) AS m FROM t_mean GROUP BY k ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.toSeq == want.toSeq)
    // empty input folds to finish(zero) = null
    assert(spark.sql("SELECT imean(x) FROM t_mean WHERE x > 99999").head().isNullAt(0))
  }

  test("DISTINCT and FILTER (WHERE ...) call modifiers apply") {
    // the builder returns the bare AggregateFunction so the analyzer's
    // own wrapping applies call-site modifiers — parity with how stock
    // spark.udf.register(udaf) behaves
    spark.sql(WeightedSumDdl.replace("wsum", "wsum_mod"))
    spark.range(0, 12, 1, 4)
      .selectExpr("CAST(id % 3 AS DOUBLE) AS v", "CAST(1 AS DOUBLE) AS w")
      .createOrReplaceTempView("t_mod")
    // DISTINCT over (v, w) pairs: v in {0,1,2} x w=1 -> 0+1+2 = 3
    assert(spark.sql("SELECT wsum_mod(DISTINCT v, w) AS s FROM t_mod")
      .head().getDouble(0) == 3.0)
    // FILTER: only v=2 rows (4 of them) -> 8
    assert(spark.sql(
      "SELECT wsum_mod(v, w) FILTER (WHERE v > 1) AS s FROM t_mod")
      .head().getDouble(0) == 8.0)
    // both at once
    assert(spark.sql(
      "SELECT wsum_mod(DISTINCT v, w) FILTER (WHERE v > 0) AS s FROM t_mod")
      .head().getDouble(0) == 3.0)
  }

  test("MAP state: per-group token counting aggregate merges maps") {
    // the corpus-op shape: MAP<STRING,BIGINT> state accumulating token
    // counts, merged across partitions by key; the fold MUTATES its state
    // in place (see TestAggregates.tokenCountsDdl) — this test pins that
    // the Aggregator buffer contract makes that correct across partial
    // merges
    spark.sql(TestAggregates.tokenCountsDdl("tok_counts"))
    spark.range(0, 900, 1, 16)
      .selectExpr("id % 3 AS k", "concat('w', CAST(id % 5 AS STRING)) AS tok")
      .createOrReplaceTempView("t_tok2")
    val got = spark.sql(
      "SELECT k, tok_counts(tok) AS m FROM t_tok2 GROUP BY k ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getMap[String, Long](1).toMap))
    val want = spark.sql(
      """SELECT k, map_from_entries(collect_list(struct(tok, c))) AS m
        |FROM (SELECT k, tok, count(*) AS c FROM t_tok2 GROUP BY k, tok)
        |GROUP BY k ORDER BY k""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getMap[String, Long](1).toMap))
    assert(got.toSeq == want.toSeq)
  }

  test("TIMESTAMP state/return: latest-event aggregate across partitions") {
    spark.sql(
      """CREATE OR REPLACE AGGREGATE FUNCTION tmax(TIMESTAMP) RETURNS TIMESTAMP LANGUAGE JAVA AS '
        |import graft.adhesive.AdhesiveAggregate;
        |import org.apache.spark.sql.Row;
        |import java.sql.Timestamp;
        |public class TMax extends AdhesiveAggregate {
        |  public Object zero() { return new Timestamp(0L); }
        |  public Object reduce(Object s, Row in) {
        |    if (in.isNullAt(0)) return s;
        |    Timestamp t = in.getTimestamp(0);
        |    return t.after((Timestamp) s) ? t : s;
        |  }
        |  public Object merge(Object a, Object b) {
        |    return ((Timestamp) a).after((Timestamp) b) ? a : b;
        |  }
        |}
        |'""".stripMargin)
    spark.range(0, 1000, 1, 16)
      .selectExpr("id % 3 AS k", "timestamp_micros(id * 1000000) AS ts")
      .createOrReplaceTempView("t_ts")
    val got = spark.sql("SELECT k, tmax(ts) AS m FROM t_ts GROUP BY k ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1)))
    val want = spark.sql("SELECT k, max(ts) AS m FROM t_ts GROUP BY k ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1)))
    assert(got.toSeq == want.toSeq)
  }

  test("DETERMINISTIC flag threads into the planned aggregate; default is volatile") {
    // scalar-path parity (round-13 ADVICE fix): the DDL's DETERMINISTIC
    // flag must reach the aggregate's isDeterministic instead of being
    // hardcoded true — a volatile aggregate body must not be CSE'd or
    // re-planned on the assumption of repeatable results
    def plannedDeterminism(fn: String): Boolean = {
      spark.range(4).selectExpr("id % 2 AS k", "id AS v")
        .createOrReplaceTempView("t_det")
      val plan = spark.sql(s"SELECT k, $fn(v) FROM t_det GROUP BY k")
        .queryExecution.analyzed
      val flags = plan.collect {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate =>
          a.aggregateExpressions.flatMap(_.collect {
            case e: org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression =>
              e.aggregateFunction.deterministic
          })
      }.flatten
      assert(flags.length == 1)
      flags.head
    }
    val body =
      """'
        |import graft.adhesive.AdhesiveAggregate;
        |import org.apache.spark.sql.Row;
        |public class DetSum extends AdhesiveAggregate {
        |  public Object zero() { return 0L; }
        |  public Object reduce(Object s, Row in) {
        |    return in.isNullAt(0) ? s : (Long) s + in.getLong(0);
        |  }
        |  public Object merge(Object a, Object b) { return (Long) a + (Long) b; }
        |}
        |'""".stripMargin
    spark.sql("CREATE OR REPLACE AGGREGATE FUNCTION det_sum(BIGINT) " +
      s"RETURNS BIGINT DETERMINISTIC LANGUAGE JAVA AS $body")
    assert(plannedDeterminism("det_sum"),
      "DETERMINISTIC-declared aggregate must plan deterministic")
    spark.sql("CREATE OR REPLACE AGGREGATE FUNCTION vol_sum(BIGINT) " +
      s"RETURNS BIGINT LANGUAGE JAVA AS $body")
    assert(!plannedDeterminism("vol_sum"),
      "flag-less aggregate must plan volatile (scalar-path parity)")
  }

  test("duplicate DDL flags are rejected, not silently last-wins") {
    val dup = intercept[AdhesiveException] {
      spark.sql("CREATE AGGREGATE FUNCTION dupst(BIGINT) RETURNS BIGINT " +
        "STATE BIGINT STATE DOUBLE LANGUAGE JAVA AS 'class X {}'")
    }
    assert(dup.getMessage.contains("duplicate STATE"))
    val dupDet = intercept[AdhesiveException] {
      spark.sql("CREATE FUNCTION dupdet(BIGINT) RETURNS BIGINT " +
        "DETERMINISTIC DETERMINISTIC LANGUAGE JAVA AS 'class X {}'")
    }
    assert(dupDet.getMessage.contains("duplicate DETERMINISTIC"))
    val dupNn = intercept[AdhesiveException] {
      spark.sql("CREATE FUNCTION dupnn(BIGINT) RETURNS BIGINT " +
        "NOT NULL NOT NULL LANGUAGE JAVA AS 'class X {}'")
    }
    assert(dupNn.getMessage.contains("duplicate NOT NULL"))
  }

  test("DROP TEMPORARY FUNCTION clears an aggregate (create→drop→create)") {
    spark.sql(WeightedSumDdl.replace("wsum", "wsum_drop"))
    Seq((2.0, 3.0)).toDF("v", "w").createOrReplaceTempView("t_wd")
    assert(spark.sql("SELECT wsum_drop(v, w) AS s FROM t_wd").head().getDouble(0) == 6.0)
    // aggregates register through the functionRegistry builder seam like
    // scalars, so Spark's native DROP removes them
    spark.sql("DROP TEMPORARY FUNCTION wsum_drop")
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT wsum_drop(v, w) FROM t_wd").collect()
    }
    assert(e.getMessage.toLowerCase.contains("wsum_drop"))
    spark.sql(WeightedSumDdl.replace("wsum", "wsum_drop"))
    assert(spark.sql("SELECT wsum_drop(v, w) AS s FROM t_wd").head().getDouble(0) == 6.0)
    spark.sql("DROP TEMPORARY FUNCTION wsum_drop")
  }

  test("a scalar body under CREATE AGGREGATE is rejected at DDL time") {
    val e = intercept[Exception] {
      spark.sql(
        """CREATE AGGREGATE FUNCTION bad_agg(BIGINT) RETURNS BIGINT LANGUAGE CLASS
          |AS 'graft.adhesive.example.BasicAddExample'""".stripMargin)
    }
    assert(e.getMessage.contains("does not extend") &&
      e.getMessage.contains("AdhesiveAggregate"))
  }

  test("STATE on a scalar function and NOT NULL on an aggregate are rejected") {
    val e = intercept[AdhesiveException] {
      AdhesiveDdl.parse(
        "CREATE FUNCTION f(BIGINT) RETURNS BIGINT STATE BIGINT AS 'class X {}'")
    }
    assert(e.getMessage.contains("STATE is only supported"))
    val e2 = intercept[AdhesiveException] {
      AdhesiveDdl.parse(
        "CREATE AGGREGATE FUNCTION f(BIGINT) RETURNS BIGINT NOT NULL AS 'class X {}'")
    }
    assert(e2.getMessage.contains("NOT NULL is not supported for aggregate"))
  }

  test("unsupported aggregate state type is a clear DDL-time error") {
    // the declarable lattice is closed (round 12): only undeclarable
    // types reach this error, via the programmatic surface
    val e = intercept[AdhesiveException] {
      AdhesiveRegistry.registerClassAggregate(spark, "bad_state",
        "graft.adhesive.example.BasicAddExample",
        Seq(org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.LongType,
        stateType = Some(org.apache.spark.sql.types.CalendarIntervalType))
    }
    assert(e.getMessage.contains("state type") && e.getMessage.contains("not supported"))
  }

  test("a throwing reduce fails the query with the function name and phase") {
    spark.sql(
      """CREATE OR REPLACE AGGREGATE FUNCTION agg_boom(BIGINT) RETURNS BIGINT LANGUAGE JAVA AS '
        |import graft.adhesive.AdhesiveAggregate;
        |import org.apache.spark.sql.Row;
        |public class Boom extends AdhesiveAggregate {
        |  public Object zero() { return 0L; }
        |  public Object reduce(Object s, Row i) { throw new RuntimeException("agg kaboom"); }
        |  public Object merge(Object a, Object b) { return a; }
        |}
        |'""".stripMargin)
    Seq(1L, 2L).toDF("x").createOrReplaceTempView("t_boom")
    val e = intercept[Exception] {
      spark.sql("SELECT agg_boom(x) FROM t_boom").collect()
    }
    def messages(t: Throwable): List[String] =
      if (t == null) Nil else Option(t.getMessage).toList ++ messages(t.getCause)
    val all = messages(e).mkString("\n")
    assert(all.contains("agg_boom") && all.contains("agg kaboom") &&
      all.contains("reduce()"))
  }

  test("aggregate runs inside a Structured Streaming groupBy (stream==batch)") {
    spark.sql(WeightedSumDdl)
    // file stream over one parquet drop; complete-mode aggregate to a
    // memory sink, compared against the batch run of the same plan
    val streamDir = java.nio.file.Files.createTempDirectory("graft-agg-st")
    spark.range(0, 2000, 1, 4)
      .selectExpr("id % 5 AS k", "CAST(id AS DOUBLE) AS v",
        "CAST(id % 3 AS DOUBLE) AS w")
      .coalesce(1).write.mode("overwrite").parquet(streamDir.toString)
    val schema = spark.read.parquet(streamDir.toString).schema
    val stream = spark.readStream.schema(schema).parquet(streamDir.toString)
    val q = stream.groupBy("k")
      .agg(org.apache.spark.sql.functions.call_function("wsum",
        org.apache.spark.sql.functions.col("v"),
        org.apache.spark.sql.functions.col("w")).as("s"))
      .writeStream.outputMode("complete")
      .format("memory").queryName("agg_stream").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("agg_stream").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toMap
      val batch = spark.read.parquet(streamDir.toString).groupBy("k")
        .agg(org.apache.spark.sql.functions.call_function("wsum",
          org.apache.spark.sql.functions.col("v"),
          org.apache.spark.sql.functions.col("w")).as("s"))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
      assert(streamed == batch && streamed.size == 5)
    } finally q.stop()
  }

  test("aggregate works alongside window frames (OVER clause)") {
    spark.sql(WeightedSumDdl)
    spark.range(0, 100, 1, 4)
      .selectExpr("id % 4 AS k", "CAST(id AS DOUBLE) AS v",
        "CAST(1 AS DOUBLE) AS w")
      .createOrReplaceTempView("t_w")
    val got = spark.sql(
      """SELECT k, v, wsum(v, w) OVER (PARTITION BY k) AS s
        |FROM t_w ORDER BY k, v""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getDouble(2)))
    val want = spark.sql(
      """SELECT k, v, sum(v * w) OVER (PARTITION BY k) AS s
        |FROM t_w ORDER BY k, v""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getDouble(2)))
    assert(got.toSeq == want.toSeq)
  }
}
