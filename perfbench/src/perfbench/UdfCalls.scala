package perfbench

import scala.collection.mutable

import graft.adhesive.AdhesiveDdl
import org.apache.spark.sql.SparkSession

/** `udf_calls`: the paper's core path. Each pass issues seeded
  * fresh-source `CREATE FUNCTION` DDL (Java, Scala and CLASS; scalar,
  * aggregate and table kinds), repeated-source DDL that hits the compile
  * cache, and one query per UDF shape next to its built-in twin, calling
  * functions compiled in set-up, all over a cached input of 2M rows, where
  * the per-row call cost of the Java and Scala shapes shows above
  * per-query fixed cost.
  */
final class UdfCalls(seed: Long, smoke: Boolean) extends Workload {

  private val rows: Long = if (smoke) 20000L else 2000000L
  private var serial = 0 // passes so far, set-up included
  /** The functions the UDF queries call, one per shape. They are compiled
    * once in set-up, so every pass runs the same classes and times their
    * per-row cost, not how far the background JIT compiler got with a
    * class new to the pass.
    */
  private var queryNames: Map[String, String] = Map.empty
  /** The last pass's fresh-source functions, checked on a sample. */
  private var freshNames: Map[String, String] = Map.empty
  /** Not re-issued fresh: set-up's javac run covers the STRING function. */
  private val setupKinds = Set("scalar_string")

  /** Query over a table (`pb_in` or its sample) calling the function
    * named by `fn`, and the same result from built-ins. A scalar shape
    * also has both as expressions.
    */
  private case class Shape(name: String, udf: (String, String) => String, twin: String => String,
      scalar: Option[(String => String, String)] = None)

  private def scalar(name: String, call: String => String, twin: String) =
    Shape(name, (f, t) => s"SELECT ${call(f)} AS v FROM $t", t => s"SELECT $twin AS v FROM $t",
      Some((call, twin)))

  private val shapes = Seq(
    scalar("scalar_long", f => s"$f(a, b)", "a * b"),
    scalar("scalar_string", f => s"$f(s)", "concat(s, '#')"),
    scalar("scalar_scala", f => s"$f(a, b)", "greatest(a, b)"),
    scalar("class", f => s"$f(a, b)", "a + b"),
    Shape("aggregate", (f, t) => s"SELECT k, ${f}(a) AS v FROM $t GROUP BY k",
      t => s"SELECT k, sum(a) AS v FROM $t GROUP BY k"),
    Shape("table", (f, t) => s"SELECT x.n FROM $t, LATERAL ${f}($t.a) x",
      t => s"SELECT explode(array(a, a + 1)) AS n FROM $t"))

  /** (shape, language, DDL for a function name and a source variant). */
  private val ddls: Seq[(String, String, (String, Long) => String)] = Seq(
    ("scalar_long", "java", (n, x) =>
      s"""CREATE OR REPLACE FUNCTION $n(BIGINT, BIGINT) RETURNS BIGINT DETERMINISTIC LANGUAGE JAVA AS '
         |import graft.adhesive.Adhesive;
         |import org.apache.spark.sql.Row;
         |public class PbMul extends Adhesive {
         |  // variant $x
         |  public Object compute(Row r) {
         |    if (r.isNullAt(0) || r.isNullAt(1)) return null;
         |    return r.getLong(0) * r.getLong(1);
         |  }
         |}'""".stripMargin),
    ("scalar_string", "java", (n, x) =>
      s"""CREATE OR REPLACE FUNCTION $n(STRING) RETURNS STRING DETERMINISTIC LANGUAGE JAVA AS '
         |import graft.adhesive.Adhesive;
         |import org.apache.spark.sql.Row;
         |public class PbTag extends Adhesive {
         |  // variant $x
         |  public Object compute(Row r) {
         |    return r.isNullAt(0) ? null : r.getString(0) + "#";
         |  }
         |}'""".stripMargin),
    ("scalar_scala", "scala", (n, x) =>
      s"""CREATE OR REPLACE FUNCTION $n(BIGINT, BIGINT) RETURNS BIGINT DETERMINISTIC LANGUAGE SCALA AS $$$$
         |import graft.adhesive.Adhesive
         |import org.apache.spark.sql.Row
         |class PbMax extends Adhesive {
         |  // variant $x
         |  override def compute(r: Row): Object =
         |    java.lang.Long.valueOf(math.max(r.getLong(0), r.getLong(1)))
         |}
         |$$$$""".stripMargin),
    ("class", "class", (n, _) =>
      s"CREATE OR REPLACE FUNCTION $n(BIGINT, BIGINT) RETURNS BIGINT DETERMINISTIC " +
        "LANGUAGE CLASS AS 'graft.adhesive.example.BasicAddExample'"),
    ("aggregate", "java", (n, x) =>
      s"""CREATE OR REPLACE AGGREGATE FUNCTION $n(BIGINT) RETURNS BIGINT DETERMINISTIC LANGUAGE JAVA AS '
         |import graft.adhesive.AdhesiveAggregate;
         |import org.apache.spark.sql.Row;
         |public class PbSum extends AdhesiveAggregate {
         |  // variant $x
         |  public Object zero() { return 0L; }
         |  public Object reduce(Object s, Row in) {
         |    return in.isNullAt(0) ? s : (Long) s + in.getLong(0);
         |  }
         |  public Object merge(Object a, Object b) { return (Long) a + (Long) b; }
         |}'""".stripMargin),
    ("table", "java", (n, x) =>
      s"""CREATE OR REPLACE TABLE FUNCTION $n(BIGINT) RETURNS TABLE(n BIGINT) LANGUAGE JAVA AS '
         |import graft.adhesive.AdhesiveTableFunction;
         |import org.apache.spark.sql.Row;
         |import org.apache.spark.sql.RowFactory;
         |import java.util.ArrayList;
         |import java.util.List;
         |public class PbPair extends AdhesiveTableFunction {
         |  // variant $x
         |  public List<Row> eval(Row args) {
         |    long a = args.getLong(0);
         |    List<Row> out = new ArrayList<>(2);
         |    out.add(RowFactory.create(a));
         |    out.add(RowFactory.create(a + 1));
         |    return out;
         |  }
         |}'""".stripMargin))

  /** Kinds re-issued each pass with an unchanged source (cache hits). */
  private val cachedKinds = Seq("scalar_long", "scalar_scala", "aggregate")

  // per-op samples for the detail and layer figures
  private val parseMs = mutable.ArrayBuffer.empty[Double]
  private val runMs = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  private val cachedMs = mutable.ArrayBuffer.empty[Double]
  private val callNs = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  private val ratio = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]

  private def ddl(spark: SparkSession, sql: String, lang: String,
      traced: Boolean, fresh: Boolean): Double = {
    val (stmt, pMs) = Main.timedMs(Trace("adhesive", "AdhesiveDdl.parse")(AdhesiveDdl.parse(sql)))
    val (_, rMs) = Main.timedMs(Trace("adhesive", s"AdhesiveDdl.run.$lang")(
      AdhesiveDdl.run(spark, stmt.getOrElse(sys.error(s"DDL did not parse: $sql")))))
    if (traced) {
      parseMs += pMs
      if (fresh) runMs.getOrElseUpdate(lang, mutable.ArrayBuffer.empty) += rMs
      else cachedMs += pMs + rMs
    }
    pMs + rMs
  }

  private def noop(spark: SparkSession, sql: String): Unit =
    Trace("spark", "spark.sql")(spark.sql(sql)).write.format("noop").mode("overwrite").save()

  def setup(spark: SparkSession, dataDir: String): Unit = {
    spark.range(0, rows, 1, spark.sparkContext.defaultParallelism).selectExpr(
      s"pmod(xxhash64(id, ${seed}L), 6000000) AS a",
      s"pmod(xxhash64(id, ${seed + 1}L), 200000) AS b",
      s"concat(element_at(array('A', 'N', 'R'), int(pmod(xxhash64(id, ${seed + 2}L), 3)) + 1), " +
        s"'-', string(pmod(xxhash64(id, ${seed + 3}L), 100000))) AS s",
      s"pmod(xxhash64(id, ${seed + 4}L), 1000) AS k")
      .cache().createOrReplaceTempView("pb_in")
    spark.table("pb_in").write.format("noop").mode("overwrite").save()
    spark.table("pb_in").where("pmod(a, 100) = 0").cache().createOrReplaceTempView("pb_in_sample")
    // the functions every pass queries, and with them the first javac
    // and scalac runs of the JVM, on sources new to the cache
    serial += 1
    queryNames = ddls.map { case (kind, lang, mk) =>
      val fn = s"pb_${kind}_$serial"
      ddl(spark, mk(fn, seed * 1000003L + serial), lang, traced = false, fresh = true)
      kind -> fn
    }.toMap
    // the repeated-source DDL of every pass hits the cache from here on
    cachedKinds.foreach { kind =>
      val (_, lang, mk) = ddls.find(_._1 == kind).get
      ddl(spark, mk(s"pb_${kind}_cached", seed), lang, traced = false, fresh = false)
    }
  }

  /** The warm-up pass's cold queries stay out of the per-shape figures. */
  override def warm(spark: SparkSession): Unit = {
    pass(spark, traced = false)
    ratio.clear()
    callNs.clear()
  }

  def pass(spark: SparkSession, traced: Boolean): Seq[Op] = {
    serial += 1
    val out = mutable.ArrayBuffer.empty[Op]
    // fresh sources: the variant makes every pass's body new to the
    // JVM-wide compile cache
    val variant = seed * 1000003L + serial
    freshNames = ddls.filterNot(d => setupKinds(d._1)).map { case (kind, lang, mk) =>
      val fn = s"pb_${kind}_$serial"
      out += Main.op(s"ddl.fresh.$lang") { ddl(spark, mk(fn, variant), lang, traced, fresh = true) }
      kind -> fn
    }.toMap
    // unchanged sources: compiled once in set-up, served from the cache
    cachedKinds.foreach { kind =>
      val (_, lang, mk) = ddls.find(_._1 == kind).get
      out += Main.op("ddl.cached") { ddl(spark, mk(s"pb_${kind}_cached", seed), lang, traced, fresh = false) }
    }
    shapes.foreach { sh =>
      val u = Main.op(s"udf.${sh.name}")(Trace("adhesive", s"query.${sh.name}")(noop(spark, sh.udf(queryNames(sh.name), "pb_in"))))
      val t = Main.op(s"builtin.${sh.name}")(Trace("spark", s"twin.${sh.name}")(noop(spark, sh.twin("pb_in"))))
      out += u
      out += t
      if (u.ok && t.ok) {
        ratio.getOrElseUpdate(sh.name, mutable.ArrayBuffer.empty) += u.ms / t.ms
        callNs.getOrElseUpdate(sh.name, mutable.ArrayBuffer.empty) += (u.cpuMs - t.cpuMs) * 1e6 / rows
      }
    }
    out.toSeq
  }

  /** Row count and hash sum of a query's result. */
  private def fingerprint(spark: SparkSession, q: String) = spark.sql(
    s"SELECT count(*) AS n, sum(pmod(xxhash64(*), 1000003)) AS h FROM ($q) fp").head()

  /** Each UDF query's fingerprint against its twin's; the scalar shapes
    * are compared in one scan, as per-row hash differences. The queried
    * functions are checked on the whole input, the last pass's fresh ones
    * on a 1% sample.
    */
  def check(spark: SparkSession): Seq[String] =
    check(spark, queryNames, "pb_in", "") ++
      check(spark, queryNames ++ freshNames, "pb_in_sample", "fresh ")

  private def check(spark: SparkSession, names: Map[String, String], table: String,
      what: String): Seq[String] = {
    val (scalar, other) = shapes.partition(_.scalar.isDefined)
    val diffs = scalar.map { sh =>
      val (call, twin) = sh.scalar.get
      s"sum(CASE WHEN xxhash64(${call(names(sh.name))}) = xxhash64($twin) THEN 0 ELSE 1 END)"
    }
    val row = spark.sql(s"SELECT ${diffs.mkString(", ")} FROM $table").head()
    scalar.indices.filter(i => row.getLong(i) != 0).map(i =>
      s"udf_calls $what${scalar(i).name}: ${row.getLong(i)} rows differ from the built-in twin") ++
      other.flatMap { sh =>
        val (u, t) = (fingerprint(spark, sh.udf(names(sh.name), table)), fingerprint(spark, sh.twin(table)))
        if (u == t) None else Some(s"udf_calls $what${sh.name}: UDF fingerprint $u != built-in $t")
      }
  }

  def detail(ops: Seq[Op], passes: Int): Seq[Metric] = {
    val udf = ops.filter(o => o.ok && o.kind.startsWith("udf."))
    Stats.latency("ddl", ops.filter(o => o.ok && o.kind.startsWith("ddl.fresh")).map(_.ms), "detail",
      passes) :+
      Metric("udf_mrows_per_s", udf.size * rows / 1e6 / (udf.map(_.ms).sum / 1e3), "Mrows/s",
        udf.size, "detail")
  }

  def layers(passSeconds: Seq[Double]): Seq[Metric] = {
    def med(name: String, xs: Iterable[Double], unit: String) =
      if (xs.isEmpty) None else Some(Metric(name, Stats.median(xs.toSeq), unit, xs.size, "layer"))
    (med("adhesive.ddl_parse_ms", parseMs, "ms") ++
      runMs.toSeq.sortBy(_._1).flatMap { case (l, xs) => med(s"adhesive.ddl_run_ms.$l", xs, "ms") } ++
      med("adhesive.ddl_cached_ms", cachedMs, "ms") ++
      callNs.toSeq.sortBy(_._1).flatMap { case (s, xs) => med(s"adhesive.call_ns_per_row.$s", xs, "ns") } ++
      ratio.toSeq.sortBy(_._1).flatMap { case (s, xs) => med(s"adhesive.udf_vs_builtin.$s", xs, "ratio") }).toSeq
  }
}
