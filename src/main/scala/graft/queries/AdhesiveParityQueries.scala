package graft.queries

import graft.adhesive.AdhesiveDdl
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.RelationalQueries.Q

/** Reference-parity queries: the reference's own end-to-end surface
  * (`/root/reference/examples/adhesive.rs:21-49`, `tests/factory.rs:21-75`)
  * — `CREATE FUNCTION` DDL in both languages followed by a projection that
  * calls the function — recast over the harness tables (FIXTURES.md §3).
  * DDL goes through [[AdhesiveDdl.execute]] so these queries work on any
  * session, extension-installed or not.
  */
object AdhesiveParityQueries {

  private val MulDdl =
    """CREATE OR REPLACE FUNCTION graft_mul(BIGINT, BIGINT) RETURNS BIGINT LANGUAGE JAVA AS '
      |import graft.adhesive.Adhesive;
      |import org.apache.spark.sql.Row;
      |public class Multiply extends Adhesive {
      |  public Object compute(Row row) {
      |    return row.getLong(0) * row.getLong(1);
      |  }
      |}
      |'""".stripMargin

  private val AddClassDdl =
    """CREATE OR REPLACE FUNCTION graft_add(BIGINT, BIGINT) RETURNS BIGINT
      |LANGUAGE CLASS AS 'graft.adhesive.example.BasicAddExample'""".stripMargin

  private val NullCaseDdl =
    """CREATE OR REPLACE FUNCTION graft_nullcase(BIGINT, BIGINT) RETURNS BIGINT LANGUAGE JAVA AS '
      |import graft.adhesive.Adhesive;
      |import org.apache.spark.sql.Row;
      |public class NullCase extends Adhesive {
      |  public Object compute(Row row) {
      |    if (row.getLong(1) % 3 == 0) return null;
      |    return row.getLong(0) * 2;
      |  }
      |}
      |'""".stripMargin

  /** `SELECT a, b, f1(a, b) FROM t` with f1 = a*b (LANGUAGE JAVA), the
    * reference's golden query (`tests/factory.rs:39-51`), over lineitem.
    */
  val mulJava: Q = Q(
    "aq_mul_java",
    (s, d) => {
      import s.implicits._
      AdhesiveDdl.execute(s, MulDdl)
      // Range-exchange BEFORE the UDF projection: the UDF is volatile
      // (reference parity), so Catalyst keeps it below the final sort's
      // exchange — one task on the single-row-group file ran all 600k
      // row-struct invocations serially (profiled 0.33 s). Pre-partitioning
      // on the sort key moves the UDF above the exchange (all cores) and
      // the orderBy is satisfied by the alias-mapped range partitioning —
      // same single-shuffle plan, parallel UDF (guide §2.4).
      Tables.spreadRange(Tables.lineitem(s, d), $"l_orderkey", $"l_partkey")
        .select($"l_orderkey".as("a"), $"l_partkey".as("b"),
          call_function("graft_mul", $"l_orderkey", $"l_partkey").as("product"))
        .orderBy($"a", $"b")
    },
    Some("""SELECT l_orderkey AS a, l_partkey AS b,
      l_orderkey * l_partkey AS product FROM lineitem ORDER BY a, b"""))

  /** f2 = a+b via LANGUAGE CLASS (`tests/factory.rs:54-75`), over orders. */
  val addClass: Q = Q(
    "aq_add_class",
    (s, d) => {
      import s.implicits._
      AdhesiveDdl.execute(s, AddClassDdl)
      // range-exchange before the volatile UDF (same rationale as
      // aq_mul_java: parallelize the 1-task scan's UDF work on the sort
      // exchange the query pays anyway)
      Tables.spreadRange(Tables.orders(s, d), $"o_orderkey")
        .select($"o_orderkey".as("a"), $"o_custkey".as("b"),
          call_function("graft_add", $"o_orderkey", $"o_custkey").as("total"))
        .orderBy($"a")
    },
    Some("""SELECT o_orderkey AS a, o_custkey AS b,
      o_orderkey + o_custkey AS total FROM orders ORDER BY a"""))

  /** Null-in-slot semantics (`Adhesive.java:94-99`): compute returns null on
    * a predicate; oracle is the equivalent CASE WHEN (FIXTURES.md §3).
    */
  val nullCase: Q = Q(
    "aq_null_case",
    (s, d) => {
      import s.implicits._
      AdhesiveDdl.execute(s, NullCaseDdl)
      Tables.spreadRange(Tables.lineitem(s, d),
          $"l_orderkey", $"l_linenumber")
        .select($"l_orderkey", $"l_linenumber",
          call_function("graft_nullcase", $"l_suppkey", $"l_orderkey").as("v"))
        .orderBy($"l_orderkey", $"l_linenumber")
    },
    Some("""SELECT l_orderkey, l_linenumber,
      CASE WHEN l_orderkey % 3 = 0 THEN NULL ELSE l_suppkey * 2 END AS v
      FROM lineitem ORDER BY l_orderkey, l_linenumber"""))

  private val SquareScalaDdl =
    """CREATE OR REPLACE FUNCTION graft_square(BIGINT) RETURNS BIGINT LANGUAGE SCALA AS $$
      |import graft.adhesive.Adhesive
      |import org.apache.spark.sql.Row
      |class SquareScala extends Adhesive {
      |  def compute(row: Row): Any = row.getLong(0) * row.getLong(0)
      |}
      |$$""".stripMargin

  /** LANGUAGE SCALA (the beyond-reference language branch) through the
    * same driver-checked surface as the Java/Class queries — inline Scala
    * source compiled at DDL time, dollar-quoted body form.
    */
  val squareScala: Q = Q(
    "aq_square_scala",
    (s, d) => {
      import s.implicits._
      AdhesiveDdl.execute(s, SquareScalaDdl)
      Tables.supplier(s, d)
        .select($"s_suppkey",
          call_function("graft_square", $"s_suppkey").as("sq"))
        .orderBy($"s_suppkey")
    },
    Some("""SELECT s_suppkey, s_suppkey * s_suppkey AS sq
      FROM supplier ORDER BY s_suppkey"""))

  private val NormalizeDdl =
    """CREATE OR REPLACE FUNCTION graft_norm(STRING) RETURNS STRING LANGUAGE JAVA AS $$
      |import graft.adhesive.Adhesive;
      |import org.apache.spark.sql.Row;
      |public class Normalize extends Adhesive {
      |  // ASCII-only normalizer (trim + upcase a-z), locale-independent by
      |  // construction so the result is byte-identical to SQL upper(trim(x))
      |  // on ASCII corpora.
      |  public Object compute(Row row) {
      |    if (row.isNullAt(0)) return null;
      |    String s = row.getString(0).trim();
      |    StringBuilder b = new StringBuilder(s.length());
      |    for (int i = 0; i < s.length(); i++) {
      |      char c = s.charAt(i);
      |      b.append(c >= 'a' && c <= 'z' ? (char) (c - 32) : c);
      |    }
      |    return b.toString();
      |  }
      |}
      |$$""".stripMargin

  /** STRING-returning dynamic UDF — the first return type past the
    * reference's numeric matrix a real text pipeline needs (the reference
    * stops at the four numerics, `src/fusion.rs:83-91` "type not supported
    * (to be added)"). A Java source normalizer over `documents.text`,
    * DuckDB-oracled as `upper(trim(text))`.
    */
  val upperJava: Q = Q(
    "aq_upper_java",
    (s, d) => {
      import s.implicits._
      AdhesiveDdl.execute(s, NormalizeDdl)
      Tables.spreadRange(Tables.documents(s, d), $"doc_id")
        .select($"doc_id",
          call_function("graft_norm", $"text").as("norm_text"))
        .orderBy($"doc_id")
    },
    Some("""SELECT doc_id, upper(trim(text)) AS norm_text
      FROM documents ORDER BY doc_id"""))

  private val FlagDdl =
    """CREATE OR REPLACE FUNCTION graft_urgent(STRING, BIGINT) RETURNS BOOLEAN NOT NULL LANGUAGE JAVA AS '
      |import graft.adhesive.Adhesive;
      |import org.apache.spark.sql.Row;
      |public class UrgentFlag extends Adhesive {
      |  public Object compute(Row row) {
      |    return row.getString(0).startsWith("1") && row.getLong(1) > 3;
      |  }
      |}
      |'""".stripMargin

  /** BOOLEAN-returning dynamic UDF with STRING+BIGINT args and the
    * `RETURNS ... NOT NULL` fast path, over orders priority/shippriority
    * analogues. Oracle is the equivalent boolean expression.
    */
  val urgentJava: Q = Q(
    "aq_bool_java",
    (s, d) => {
      import s.implicits._
      AdhesiveDdl.execute(s, FlagDdl)
      Tables.spreadRange(Tables.orders(s, d), $"o_orderkey")
        .select($"o_orderkey",
          call_function("graft_urgent", $"o_orderpriority", $"o_custkey")
            .as("is_urgent"))
        .orderBy($"o_orderkey")
    },
    Some("""SELECT o_orderkey,
      (o_orderpriority LIKE '1%' AND o_custkey > 3) AS is_urgent
      FROM orders ORDER BY o_orderkey"""))

  private val CentsDdl =
    """CREATE OR REPLACE FUNCTION graft_cents(DECIMAL(12,2)) RETURNS BIGINT LANGUAGE JAVA AS '
      |import graft.adhesive.Adhesive;
      |import org.apache.spark.sql.Row;
      |public class Cents extends Adhesive {
      |  public Object compute(Row row) {
      |    // DECIMAL(12,2) arrives as java.math.BigDecimal at scale 2, so
      |    // shifting the point two right is exact (no rounding mode needed)
      |    return row.getDecimal(0).movePointRight(2).longValueExact();
      |  }
      |}
      |'""".stripMargin

  /** DECIMAL(p,s) argument type through the DDL grammar (the parameterized
    * type the reference's Row getters would permit but its grammar never
    * produced): money-to-cents over lineitem, exact-signature enforced on
    * the explicit DECIMAL(12,2) cast.
    */
  val centsJava: Q = Q(
    "aq_decimal_java",
    (s, d) => {
      import s.implicits._
      AdhesiveDdl.execute(s, CentsDdl)
      Tables.spreadRange(Tables.lineitem(s, d),
          $"l_orderkey", $"l_linenumber")
        .select($"l_orderkey", $"l_linenumber",
          call_function("graft_cents",
            $"l_extendedprice".cast("decimal(12,2)")).as("cents"))
        .orderBy($"l_orderkey", $"l_linenumber")
    },
    Some("""SELECT l_orderkey, l_linenumber,
      CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
      FROM lineitem ORDER BY l_orderkey, l_linenumber"""))

  private val PosDimsDdl =
    """CREATE OR REPLACE FUNCTION graft_pos_dims(ARRAY<FLOAT>) RETURNS BIGINT LANGUAGE JAVA AS '
      |import graft.adhesive.Adhesive;
      |import org.apache.spark.sql.Row;
      |public class PosDims extends Adhesive {
      |  public Object compute(Row row) {
      |    long n = 0;
      |    java.util.List<Float> v = row.getList(0);
      |    for (int i = 0; i < v.size(); i++) if (v.get(i) > 0f) n++;
      |    return n;
      |  }
      |}
      |'""".stripMargin

  /** ARRAY<T> argument type: positive-component count per embedding vector,
    * read positionally via `row.getList(0)`.
    */
  val posDimsJava: Q = Q(
    "aq_array_java",
    (s, d) => {
      import s.implicits._
      AdhesiveDdl.execute(s, PosDimsDdl)
      Tables.spreadRange(Tables.embeddings(s, d), $"vec_id")
        .select($"vec_id",
          call_function("graft_pos_dims", $"embedding").as("pos_dims"))
        .orderBy($"vec_id")
    },
    Some("""SELECT vec_id,
      len(list_filter(embedding, x -> x > 0)) AS pos_dims
      FROM embeddings ORDER BY vec_id"""))

  private val RevenueAggDdl =
    """CREATE OR REPLACE AGGREGATE FUNCTION graft_rev_e4(DECIMAL(12,2), DECIMAL(3,2)) RETURNS BIGINT LANGUAGE JAVA AS '
      |import graft.adhesive.AdhesiveAggregate;
      |import org.apache.spark.sql.Row;
      |public class RevE4 extends AdhesiveAggregate {
      |  // discounted revenue in units of 1e-4 currency: all-integer math so
      |  // the result is exact and independent of partial-aggregation order
      |  public Object zero() { return 0L; }
      |  public Object reduce(Object state, Row input) {
      |    if (input.isNullAt(0) || input.isNullAt(1)) return state;
      |    long cents = input.getDecimal(0).movePointRight(2).longValueExact();
      |    long dHundredths = input.getDecimal(1).movePointRight(2).longValueExact();
      |    return (Long) state + cents * (100L - dHundredths);
      |  }
      |  public Object merge(Object a, Object b) { return (Long) a + (Long) b; }
      |}
      |'""".stripMargin

  /** `CREATE AGGREGATE FUNCTION ... LANGUAGE JAVA` end-to-end under the
    * oracle: discounted-revenue weighted sum over lineitem, grouped by
    * return flag. Map-side partial aggregation via Spark's typed
    * Aggregator; integer cents arithmetic keeps the result bit-exact
    * against DuckDB regardless of fold order.
    */
  val revAggJava: Q = Q(
    "aq_agg_java",
    (s, d) => {
      import s.implicits._
      AdhesiveDdl.execute(s, RevenueAggDdl)
      // hash-spread before the typed-Aggregator partial fold (the
      // 1-task-scan story of q1_pricing_summary; the partial state is
      // tiny, so the post-spread exchange on the flag stays cheap)
      Tables.spread(Tables.lineitem(s, d), "l_orderkey")
        .select($"l_returnflag",
          $"l_extendedprice".cast("decimal(12,2)").as("price"),
          $"l_discount".cast("decimal(3,2)").as("disc"))
        .groupBy($"l_returnflag")
        .agg(call_function("graft_rev_e4", $"price", $"disc").as("rev_e4"))
        .orderBy($"l_returnflag")
    },
    Some("""SELECT l_returnflag,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 *
               (100 - CAST(l_discount AS DECIMAL(3,2)) * 100)) AS BIGINT) AS rev_e4
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  private val TokensDdl =
    """CREATE OR REPLACE TABLE FUNCTION graft_tokens(STRING) RETURNS TABLE(pos INT, token STRING) LANGUAGE JAVA AS '
      |import graft.adhesive.AdhesiveTableFunction;
      |import org.apache.spark.sql.Row;
      |import org.apache.spark.sql.RowFactory;
      |import java.util.ArrayList;
      |import java.util.List;
      |public class Tokens extends AdhesiveTableFunction {
      |  // input arrives whitespace-normalized (single spaces) by the query,
      |  // so a plain single-space split matches string_split in the oracle
      |  public List<Row> eval(Row args) {
      |    List<Row> out = new ArrayList<>();
      |    if (args.isNullAt(0)) return out;
      |    String[] parts = args.getString(0).split(" ", -1);
      |    for (int i = 0; i < parts.length; i++) out.add(RowFactory.create(i, parts[i]));
      |    return out;
      |  }
      |}
      |'""".stripMargin

  /** `CREATE TABLE FUNCTION ... LANGUAGE JAVA` end-to-end under the
    * oracle: a LATERAL tokenizer fanning each document into (pos, token)
    * rows — the third UDF variant on the extension seam, executing as an
    * `Inline` generator correlated to the outer scan (one `eval` per
    * document, no shuffle introduced by the function).
    */
  val tokensTableJava: Q = Q(
    "aq_table_java",
    (s, d) => {
      AdhesiveDdl.execute(s, TokensDdl)
      graft.sources.Catalog.registerAll(s, d)
      // NOT spread (r20): GenerateExec does not preserve child
      // partitioning (UnknownPartitioning), so a pre-generate range
      // exchange cannot satisfy the presentation sort and would ADD a
      // shuffle of the narrow rows while the sort still shuffles the
      // fan-out — strictly worse than the in-scan-stage generator the
      // plan pin protects.
      s.sql("""SELECT d.doc_id, tk.pos, tk.token
        FROM (SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ') AS t
              FROM documents) d,
        LATERAL graft_tokens(d.t) tk
        ORDER BY doc_id, pos""")
    },
    Some("""WITH w AS (SELECT doc_id,
        string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS w
      FROM documents)
      SELECT doc_id, CAST(u.i - 1 AS INT) AS pos, u.tok AS token
      FROM (SELECT doc_id, unnest(w) AS tok,
              unnest(range(1, len(w) + 1)) AS i FROM w) u
      ORDER BY doc_id, pos"""))

  private val UnwindDdl =
    """CREATE OR REPLACE TABLE FUNCTION graft_unwind(ARRAY<BIGINT>) RETURNS TABLE(pos INT, v BIGINT, run BIGINT) LANGUAGE JAVA AS '
      |import graft.adhesive.AdhesiveTableFunction;
      |import org.apache.spark.sql.Row;
      |import org.apache.spark.sql.RowFactory;
      |import java.util.ArrayList;
      |import java.util.List;
      |public class Unwind extends AdhesiveTableFunction {
      |  // ARRAY<BIGINT> argument read positionally via getList — each
      |  // element fans out to one (pos, value, running-sum) row
      |  public List<Row> eval(Row args) {
      |    List<Row> out = new ArrayList<>();
      |    if (args.isNullAt(0)) return out;
      |    List<Long> xs = args.getList(0);
      |    long run = 0;
      |    for (int i = 0; i < xs.size(); i++) {
      |      long v = xs.get(i) == null ? 0L : xs.get(i);
      |      run += v;
      |      out.add(RowFactory.create(i, v, run));
      |    }
      |    return out;
      |  }
      |}
      |'""".stripMargin

  /** LATERAL table function over the CONTAINER lattice (round 13): the
    * declared-legal surface `aq_table_java` never exercised — an
    * ARRAY<BIGINT> argument built by the OUTER query (per-token lengths)
    * flows through `row.getList`, and the function emits multi-column
    * rows carrying per-element state (a running sum) no plain `unnest`
    * can produce. Executes as an `Inline` generator correlated to the
    * outer scan: one `eval` per document inside the stage, zero
    * function-introduced shuffle — the fan-out shape that holds at
    * 100 TB because rows never leave their input partition.
    */
  val unwindTableLateral: Q = Q(
    "aq_table_lateral",
    (s, d) => {
      AdhesiveDdl.execute(s, UnwindDdl)
      graft.sources.Catalog.registerAll(s, d)
      // not spread — same GenerateExec partitioning story as
      // aq_table_java
      s.sql("""SELECT d.doc_id, u.pos, u.v, u.run
        FROM (SELECT doc_id,
                transform(split(regexp_replace(lower(trim(text)), '\\s+', ' '), ' '),
                          x -> CAST(length(x) AS BIGINT)) AS lens
              FROM documents) d,
        LATERAL graft_unwind(d.lens) u
        ORDER BY doc_id, pos""")
    },
    Some("""WITH w AS (SELECT doc_id,
        string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS w
      FROM documents),
      u AS (SELECT doc_id, CAST(i - 1 AS INT) AS pos,
              CAST(length(tok) AS BIGINT) AS v
            FROM (SELECT doc_id, unnest(w) AS tok,
                    unnest(range(1, len(w) + 1)) AS i FROM w))
      SELECT doc_id, pos, v,
        CAST(sum(v) OVER (PARTITION BY doc_id ORDER BY pos
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run
      FROM u ORDER BY doc_id, pos"""))

  private val NetPriceDdl =
    """CREATE OR REPLACE FUNCTION graft_net(DECIMAL(12,2), DECIMAL(3,2)) RETURNS DECIMAL(14,4) LANGUAGE JAVA AS '
      |import graft.adhesive.Adhesive;
      |import org.apache.spark.sql.Row;
      |import java.math.BigDecimal;
      |public class NetPrice extends Adhesive {
      |  public Object compute(Row row) {
      |    if (row.isNullAt(0) || row.isNullAt(1)) return null;
      |    // price(scale 2) * (1 - disc)(scale 2) = exact scale-4 product,
      |    // precision <= 14 — fits the declared DECIMAL(14,4) with no
      |    // rounding, so the result is bit-exact against the SQL oracle
      |    return row.getDecimal(0).multiply(BigDecimal.ONE.subtract(row.getDecimal(1)));
      |  }
      |}
      |'""".stripMargin

  /** DECIMAL(p,s) RETURN type (round-12 matrix extension): the money-in →
    * money-out UDF the round-11 argument work opened — discounted net
    * price at exact scale 4 over lineitem, BigDecimal all the way through.
    */
  val netPriceJava: Q = Q(
    "aq_money_java",
    (s, d) => {
      import s.implicits._
      AdhesiveDdl.execute(s, NetPriceDdl)
      // the UDF RETURNS DECIMAL(14,4); the OUTPUT column is cast to a
      // canonical STRING because the driver's pandas compare renders a
      // decimal column as Decimal('…') on the Spark side but float64 on
      // the DuckDB side — both engines render the scale-4 decimal as the
      // same full-scale string ('43683.0600'), so the compare is exact
      Tables.spreadRange(Tables.lineitem(s, d),
          $"l_orderkey", $"l_linenumber")
        .select($"l_orderkey", $"l_linenumber",
          call_function("graft_net",
            $"l_extendedprice".cast("decimal(12,2)"),
            $"l_discount".cast("decimal(3,2)")).cast("string").as("net_price"))
        .orderBy($"l_orderkey", $"l_linenumber")
    },
    Some("""SELECT l_orderkey, l_linenumber,
      CAST(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) *
           (1 - CAST(l_discount AS DECIMAL(3,2))) AS DECIMAL(14,4)) AS VARCHAR)
        AS net_price
      FROM lineitem ORDER BY l_orderkey, l_linenumber"""))

  private val WordLensDdl =
    """CREATE OR REPLACE FUNCTION graft_word_lens(STRING) RETURNS ARRAY<BIGINT> LANGUAGE JAVA AS '
      |import graft.adhesive.Adhesive;
      |import org.apache.spark.sql.Row;
      |import java.util.ArrayList;
      |import java.util.List;
      |public class WordLens extends Adhesive {
      |  // input arrives whitespace-normalized (single spaces) by the query,
      |  // matching string_split on one space in the oracle
      |  public Object compute(Row row) {
      |    if (row.isNullAt(0)) return null;
      |    String[] parts = row.getString(0).split(" ", -1);
      |    List<Long> out = new ArrayList<>(parts.length);
      |    for (String p : parts) out.add((long) p.length());
      |    return out;
      |  }
      |}
      |'""".stripMargin

  /** ARRAY<T> RETURN type (round-12 matrix extension): per-document token
    * lengths — a list out of a scalar UDF, converted List→ArrayData by
    * CatalystTypeConverters on the AdhesiveCall return path.
    */
  val wordLensJava: Q = Q(
    "aq_array_ret_java",
    (s, d) => {
      import s.implicits._
      AdhesiveDdl.execute(s, WordLensDdl)
      // the UDF RETURNS ARRAY<BIGINT>; the OUTPUT column joins it to a
      // canonical string — a list-typed result column breaks the
      // driver's pandas row sort (unhashable ndarray cells), and the
      // suite convention is scalar output columns
      Tables.spreadRange(Tables.documents(s, d), $"doc_id")
        .select($"doc_id",
          array_join(
            call_function("graft_word_lens",
              regexp_replace(trim($"text"), "\\s+", " ")), ",")
            .as("word_lens"))
        .orderBy($"doc_id")
    },
    Some("""SELECT doc_id,
      array_to_string(list_transform(
        string_split(regexp_replace(trim(text), '\s+', ' ', 'g'), ' '),
        x -> length(x)), ',') AS word_lens
      FROM documents ORDER BY doc_id"""))

  private val FeatScoreDdl =
    """CREATE OR REPLACE FUNCTION graft_feat_score(MAP<STRING, BIGINT>) RETURNS BIGINT LANGUAGE JAVA AS '
      |import graft.adhesive.Adhesive;
      |import org.apache.spark.sql.Row;
      |import java.util.Map;
      |public class FeatScore extends Adhesive {
      |  // key-based feature weighting over a MAP argument: chars weigh 1,
      |  // words weigh 10; a missing key contributes 0
      |  public Object compute(Row row) {
      |    if (row.isNullAt(0)) return null;
      |    Map<String, Long> m = row.getJavaMap(0);
      |    Long chars = m.get("chars");
      |    Long words = m.get("words");
      |    if (chars == null || words == null) return null; // null feature value
      |    return chars + 10L * words;
      |  }
      |}
      |'""".stripMargin

  /** MAP<K,V> argument type (round-12 container-type completion): a
    * feature bag built with `map()` per document, read by key via
    * `row.getJavaMap` — the shape a dynamic scoring UDF over extracted
    * features takes. Oracle computes the same weighting from the raw
    * columns.
    */
  val featScoreJava: Q = Q(
    "aq_map_java",
    (s, d) => {
      import s.implicits._
      AdhesiveDdl.execute(s, FeatScoreDdl)
      val norm = regexp_replace(trim($"text"), "\\s+", " ")
      Tables.spreadRange(Tables.documents(s, d), $"doc_id")
        .select($"doc_id",
          call_function("graft_feat_score",
            map(lit("chars"), length(norm).cast("long"),
                lit("words"), size(split(norm, " ")).cast("long")))
            .as("feat_score"))
        .orderBy($"doc_id")
    },
    Some("""SELECT doc_id,
      length(regexp_replace(trim(text), '\s+', ' ', 'g')) +
      10 * len(string_split(regexp_replace(trim(text), '\s+', ' ', 'g'), ' '))
        AS feat_score
      FROM documents ORDER BY doc_id"""))

  private val MonthStartDdl =
    """CREATE OR REPLACE FUNCTION graft_month_start(DATE) RETURNS DATE LANGUAGE JAVA AS '
      |import graft.adhesive.Adhesive;
      |import org.apache.spark.sql.Row;
      |public class MonthStart extends Adhesive {
      |  // calendar-field arithmetic on the LocalDate view is tz-free both
      |  // ways: Spark converts days<->java.sql.Date through the same
      |  // default-zone rendering on input and output
      |  public Object compute(Row row) {
      |    if (row.isNullAt(0)) return null;
      |    return java.sql.Date.valueOf(row.getDate(0).toLocalDate().withDayOfMonth(1));
      |  }
      |}
      |'""".stripMargin

  /** DATE return type (round-12 matrix extension): ship-month bucketing —
    * the date-dimension rollup key a reporting pipeline derives per row.
    */
  val monthStartJava: Q = Q(
    "aq_date_java",
    (s, d) => {
      import s.implicits._
      AdhesiveDdl.execute(s, MonthStartDdl)
      Tables.spreadRange(Tables.lineitem(s, d),
          $"l_orderkey", $"l_linenumber")
        .select($"l_orderkey", $"l_linenumber",
          call_function("graft_month_start", to_date($"l_shipdate"))
            .as("ship_month"))
        .orderBy($"l_orderkey", $"l_linenumber")
    },
    Some("""SELECT l_orderkey, l_linenumber,
      CAST(date_trunc('month', l_shipdate) AS DATE) AS ship_month
      FROM lineitem ORDER BY l_orderkey, l_linenumber"""))

  private val HourFloorDdl =
    """CREATE OR REPLACE FUNCTION graft_hour_floor(TIMESTAMP) RETURNS TIMESTAMP LANGUAGE JAVA AS '
      |import graft.adhesive.Adhesive;
      |import org.apache.spark.sql.Row;
      |public class HourFloor extends Adhesive {
      |  // epoch-millis floor: tz-free, exact for any post-1970 timestamp
      |  public Object compute(Row row) {
      |    if (row.isNullAt(0)) return null;
      |    long ms = row.getTimestamp(0).getTime();
      |    return new java.sql.Timestamp(ms - Math.floorMod(ms, 3600000L));
      |  }
      |}
      |'""".stripMargin

  /** TIMESTAMP return type (round-12 matrix extension): hour bucketing
    * over the event stream — the windowing key a sessionizer derives.
    */
  val hourFloorJava: Q = Q(
    "aq_ts_java",
    (s, d) => {
      import s.implicits._
      AdhesiveDdl.execute(s, HourFloorDdl)
      // Tables.events normalizes ts to epoch NANOS (LONG); rebuild the
      // TIMESTAMP instant for the typed argument
      Tables.spreadRange(Tables.events(s, d), $"event_id")
        .select($"event_id",
          call_function("graft_hour_floor",
            expr("timestamp_micros(ts div 1000)")).as("hour_bucket"))
        .orderBy($"event_id")
    },
    Some("""SELECT event_id, date_trunc('hour', ts) AS hour_bucket
      FROM events ORDER BY event_id"""))

  private val PrioScoreDdl =
    """CREATE OR REPLACE FUNCTION graft_prio_score(STRUCT<prio: STRING, price: DOUBLE>) RETURNS DOUBLE LANGUAGE JAVA AS '
      |import graft.adhesive.Adhesive;
      |import org.apache.spark.sql.Row;
      |public class PrioScore extends Adhesive {
      |  // nested-struct access: the argument is one STRUCT slot whose
      |  // fields are read positionally from the inner Row — doubling is
      |  // exact in binary floating point, so the oracle matches bit-wise
      |  public Object compute(Row row) {
      |    if (row.isNullAt(0)) return null;
      |    Row s = row.getStruct(0);
      |    if (s.isNullAt(0) || s.isNullAt(1)) return null;
      |    double w = s.getString(0).startsWith("1") ? 2.0 : 1.0;
      |    return s.getDouble(1) * w;
      |  }
      |}
      |'""".stripMargin

  /** STRUCT<...> argument type (round-12 container completion): an order
    * record packed as one struct argument, fields read positionally from
    * the nested Row — the shape a feature-record scoring UDF takes.
    */
  val prioScoreJava: Q = Q(
    "aq_struct_java",
    (s, d) => {
      import s.implicits._
      AdhesiveDdl.execute(s, PrioScoreDdl)
      Tables.spreadRange(Tables.orders(s, d), $"o_orderkey")
        .select($"o_orderkey",
          call_function("graft_prio_score",
            struct($"o_orderpriority".as("prio"), $"o_totalprice".as("price")))
            .as("prio_score"))
        .orderBy($"o_orderkey")
    },
    Some("""SELECT o_orderkey,
      CASE WHEN o_orderpriority IS NULL THEN NULL
           ELSE o_totalprice *
                (CASE WHEN o_orderpriority LIKE '1%' THEN 2 ELSE 1 END)
      END AS prio_score
      FROM orders ORDER BY o_orderkey"""))

  private val MeanQtyDdl =
    """CREATE OR REPLACE AGGREGATE FUNCTION graft_mean_qty(BIGINT) RETURNS DOUBLE STATE STRUCT<s: BIGINT, n: BIGINT> LANGUAGE JAVA AS '
      |import graft.adhesive.AdhesiveAggregate;
      |import org.apache.spark.sql.Row;
      |import org.apache.spark.sql.RowFactory;
      |public class MeanQty extends AdhesiveAggregate {
      |  // composite integer state folds exactly in any partial order; the
      |  // single double division at finish makes the result bit-equal to
      |  // the oracle regardless of partitioning
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
      |'""".stripMargin

  /** STRUCT-state aggregate (round-12 matrix extension): the composite
    * (sum, count) state a real mean aggregate needs — only the two-field
    * struct crosses the shuffle per group, and the integer fold makes the
    * final division bit-exact against the SQL oracle.
    */
  val meanQtyAggJava: Q = Q(
    "aq_mean_agg",
    (s, d) => {
      import s.implicits._
      AdhesiveDdl.execute(s, MeanQtyDdl)
      Tables.spread(Tables.lineitem(s, d), "l_orderkey")
        .select($"l_returnflag", $"l_quantity".cast("bigint").as("qty"))
        .groupBy($"l_returnflag")
        .agg(call_function("graft_mean_qty", $"qty").as("mean_qty"))
        .orderBy($"l_returnflag")
    },
    Some("""SELECT l_returnflag,
      CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE) /
      COUNT(CAST(l_quantity AS BIGINT)) AS mean_qty
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  private val TextStatsDdl =
    """CREATE OR REPLACE FUNCTION graft_text_stats(STRING) RETURNS STRUCT<n_words: BIGINT, n_chars: BIGINT> LANGUAGE JAVA AS '
      |import graft.adhesive.Adhesive;
      |import org.apache.spark.sql.Row;
      |import org.apache.spark.sql.RowFactory;
      |public class TextStats extends Adhesive {
      |  // input arrives whitespace-normalized (single spaces) by the query
      |  public Object compute(Row row) {
      |    if (row.isNullAt(0)) return null;
      |    String t = row.getString(0);
      |    return RowFactory.create((long) t.split(" ", -1).length, (long) t.length());
      |  }
      |}
      |'""".stripMargin

  /** STRUCT return type (round-12 matrix extension): one UDF call
    * producing multiple outputs — the fields are projected out so the
    * driver-checked result stays plain columns.
    */
  val textStatsJava: Q = Q(
    "aq_struct_ret_java",
    (s, d) => {
      import s.implicits._
      AdhesiveDdl.execute(s, TextStatsDdl)
      Tables.spreadRange(Tables.documents(s, d), $"doc_id")
        .select($"doc_id",
          call_function("graft_text_stats",
            regexp_replace(trim($"text"), "\\s+", " ")).as("st"))
        .select($"doc_id", $"st.n_words".as("n_words"),
          $"st.n_chars".as("n_chars"))
        .orderBy($"doc_id")
    },
    Some("""SELECT doc_id,
      len(string_split(regexp_replace(trim(text), '\s+', ' ', 'g'), ' '))
        AS n_words,
      length(regexp_replace(trim(text), '\s+', ' ', 'g')) AS n_chars
      FROM documents ORDER BY doc_id"""))

  private val LongSumDdl =
    """CREATE OR REPLACE AGGREGATE FUNCTION graft_lsum(BIGINT) RETURNS BIGINT LANGUAGE JAVA AS '
      |import graft.adhesive.AdhesiveAggregate;
      |import org.apache.spark.sql.Row;
      |public class LSum extends AdhesiveAggregate {
      |  public Object zero() { return 0L; }
      |  public Object reduce(Object s, Row in) {
      |    return in.isNullAt(0) ? s : (Long) s + in.getLong(0);
      |  }
      |  public Object merge(Object a, Object b) { return (Long) a + (Long) b; }
      |}
      |'""".stripMargin

  /** DISTINCT call modifier on a dynamic aggregate (round 12): the
    * analyzer plans the distinct through Expand exactly as for built-in
    * aggregates — sum of DISTINCT quantities per return flag.
    */
  val distinctAggJava: Q = Q(
    "aq_agg_distinct",
    (s, d) => {
      import s.implicits._
      AdhesiveDdl.execute(s, LongSumDdl)
      graft.sources.Catalog.registerAll(s, d)
      // NOT spread (r20): measured 0.46 -> 1.22 s with an inner
      // REPARTITION hint — the distinct fold over (flag, qty) collapses
      // to ~150 distinct tuples map-side, so the added full-row shuffle
      // costs more than the 1-task partial it parallelizes
      s.sql("""SELECT l_returnflag,
        graft_lsum(DISTINCT CAST(l_quantity AS BIGINT)) AS distinct_qty_sum
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")
    },
    Some("""SELECT l_returnflag,
      CAST(SUM(DISTINCT CAST(l_quantity AS BIGINT)) AS BIGINT)
        AS distinct_qty_sum
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** FILTER (WHERE ...) call modifier on a dynamic aggregate (round 12):
    * high-value line items only, per flag.
    */
  val filterAggJava: Q = Q(
    "aq_agg_filter",
    (s, d) => {
      import s.implicits._
      AdhesiveDdl.execute(s, LongSumDdl)
      graft.sources.Catalog.registerAll(s, d)
      // NOT spread (r20): measured 0.41 -> 0.79 s with the hint — the
      // filtered sum partial is a trivial per-row fold into 3 groups;
      // the added shuffle dominates (same story as aq_agg_distinct)
      s.sql("""SELECT l_returnflag,
        graft_lsum(CAST(l_quantity AS BIGINT))
          FILTER (WHERE l_extendedprice > 30000) AS big_qty_sum
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")
    },
    Some("""SELECT l_returnflag,
      CAST(SUM(CAST(l_quantity AS BIGINT))
        FILTER (WHERE l_extendedprice > 30000) AS BIGINT) AS big_qty_sum
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** The aggregate UDF under an explicit running FRAME (round 12): the
    * typed Aggregator evaluates per-frame like any built-in — a running
    * quantity sum ordered within each return flag.
    *
    * Scale note: PARTITION BY l_returnflag has ~4 distinct values, so at
    * 100× data this is ~4 giant single-threaded window partitions —
    * inherent to the running-total semantics being demonstrated (a
    * global running sum needs a total order), and shared by the oracle.
    * Do NOT copy this partitioning into a production pipeline: the
    * scale-safe device for corpus-wide prefix sums is the
    * range-partitioned two-pass form `pipe_global_shuffle` runs
    * (per-partition subtotals broadcast back as offsets).
    */
  val runningAggJava: Q = Q(
    "aq_agg_running",
    (s, d) => {
      import s.implicits._
      AdhesiveDdl.execute(s, LongSumDdl)
      graft.sources.Catalog.registerAll(s, d)
      // the frame ORDER BY must be TOTAL within each partition:
      // (orderkey, linenumber) repeats across rows of one flag in the
      // synthetic data, and a tied prefix makes the running sum
      // order-dependent between engines — partkey/suppkey/quantity break
      // the ties deterministically
      s.sql("""SELECT l_orderkey, l_linenumber,
        graft_lsum(CAST(l_quantity AS BIGINT)) OVER (
          PARTITION BY l_returnflag
          ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_qty
        FROM lineitem ORDER BY l_orderkey, l_linenumber""")
    },
    Some("""SELECT l_orderkey, l_linenumber,
      CAST(SUM(CAST(l_quantity AS BIGINT)) OVER (
        PARTITION BY l_returnflag
        ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        AS run_qty
      FROM lineitem ORDER BY l_orderkey, l_linenumber"""))

  /** The aggregate UDF in WINDOW position — per-flag total revenue
    * repeated on every row (the "window UDF" form: Spark windows run any
    * registered aggregate over a frame, so the adhesive aggregate is a
    * window function for free). Same integer-exact arithmetic.
    */
  val revAggWindowJava: Q = Q(
    "aq_agg_window",
    (s, d) => {
      import s.implicits._
      AdhesiveDdl.execute(s, RevenueAggDdl)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"l_returnflag")
      Tables.lineitem(s, d)
        .select($"l_orderkey", $"l_linenumber", $"l_returnflag",
          $"l_extendedprice".cast("decimal(12,2)").as("price"),
          $"l_discount".cast("decimal(3,2)").as("disc"))
        .select($"l_orderkey", $"l_linenumber",
          call_function("graft_rev_e4", $"price", $"disc").over(w)
            .as("flag_rev_e4"))
        .orderBy($"l_orderkey", $"l_linenumber")
    },
    Some("""SELECT l_orderkey, l_linenumber,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 *
               (100 - CAST(l_discount AS DECIMAL(3,2)) * 100))
           OVER (PARTITION BY l_returnflag) AS BIGINT) AS flag_rev_e4
      FROM lineitem ORDER BY l_orderkey, l_linenumber"""))

  val all: Seq[Q] = Seq(mulJava, addClass, nullCase, squareScala, upperJava,
    urgentJava, centsJava, posDimsJava, revAggJava, tokensTableJava,
    revAggWindowJava, netPriceJava, wordLensJava, featScoreJava,
    monthStartJava, hourFloorJava, prioScoreJava, meanQtyAggJava,
    textStatsJava, distinctAggJava, filterAggJava, runningAggJava,
    unwindTableLateral)

  /** Flagship: the reference parity query on the smoke scale factor. */
  def entry(spark: SparkSession): DataFrame =
    mulJava.build(spark, "/root/testdata/sf0.001")
}
