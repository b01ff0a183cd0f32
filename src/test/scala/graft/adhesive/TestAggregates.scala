package graft.adhesive

/** Shared dynamic-aggregate DDL bodies of the correctness spec
  * ([[AggregateDdlSpec]]), also the bodies whose shuffle volume SCALE.md
  * records (§"Round-12 aggregate-state shuffle volume" and its round-13
  * sequel) — one source of truth for the fold.
  */
object TestAggregates {

  /** `CREATE AGGREGATE FUNCTION <name>(ARRAY<DOUBLE>) RETURNS ARRAY<DOUBLE>`
    * — element-wise vector sum; state and result are java.util.List, the
    * same container the argument side's `row.getList` hands out.
    */
  def vectorSumDdl(name: String): String =
    s"""CREATE OR REPLACE AGGREGATE FUNCTION $name(ARRAY<DOUBLE>) RETURNS ARRAY<DOUBLE> LANGUAGE JAVA AS '
       |import graft.adhesive.AdhesiveAggregate;
       |import org.apache.spark.sql.Row;
       |import java.util.ArrayList;
       |import java.util.List;
       |public class VSum extends AdhesiveAggregate {
       |  public Object zero() { return new ArrayList<Double>(); }
       |  private static List<Double> add(List<Double> a, List<Double> b) {
       |    if (a.isEmpty()) return new ArrayList<>(b);
       |    List<Double> out = new ArrayList<>(a);
       |    for (int i = 0; i < b.size(); i++) out.set(i, out.get(i) + b.get(i));
       |    return out;
       |  }
       |  @SuppressWarnings("unchecked")
       |  public Object reduce(Object state, Row input) {
       |    if (input.isNullAt(0)) return state;
       |    return add((List<Double>) state, input.getList(0));
       |  }
       |  @SuppressWarnings("unchecked")
       |  public Object merge(Object a, Object b) {
       |    return add((List<Double>) a, (List<Double>) b);
       |  }
       |}
       |'""".stripMargin

  /** `CREATE AGGREGATE FUNCTION <name>(STRING) RETURNS MAP<STRING,BIGINT>`
    * — per-group token counting with MAP state. The fold mutates its own
    * state in place (`merge` into the live HashMap) and returns it: the
    * Spark `Aggregator` contract explicitly permits reduce/merge to
    * mutate and return their buffer, and at scale the per-row
    * copy-on-write alternative is O(|vocab|) per input row — the
    * difference between a linear and a quadratic-ish fold. Correctness of
    * the mutating form is pinned by AggregateDdlSpec; its shuffle shape
    * is recorded in SCALE.md §"Round-13 aggregate-state shuffle volume".
    */
  def tokenCountsDdl(name: String): String =
    s"""CREATE OR REPLACE AGGREGATE FUNCTION $name(STRING) RETURNS MAP<STRING, BIGINT> LANGUAGE JAVA AS '
       |import graft.adhesive.AdhesiveAggregate;
       |import org.apache.spark.sql.Row;
       |import java.util.HashMap;
       |import java.util.Map;
       |public class TokCounts extends AdhesiveAggregate {
       |  public Object zero() { return new HashMap<String, Long>(); }
       |  @SuppressWarnings("unchecked")
       |  public Object reduce(Object state, Row input) {
       |    if (input.isNullAt(0)) return state;
       |    ((Map<String, Long>) state).merge(input.getString(0), 1L, Long::sum);
       |    return state;
       |  }
       |  @SuppressWarnings("unchecked")
       |  public Object merge(Object a, Object b) {
       |    Map<String, Long> out = (Map<String, Long>) a;
       |    ((Map<String, Long>) b).forEach((k, v) -> out.merge(k, v, Long::sum));
       |    return out;
       |  }
       |}
       |'""".stripMargin
}
