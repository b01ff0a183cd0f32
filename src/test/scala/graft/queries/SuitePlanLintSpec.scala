package graft.queries

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** Suite-wide physical-plan lint: EVERY query in `SparkEntry.queries` must
  * plan without an unbroadcast `CartesianProduct`.
  *
  * The lint session disables `autoBroadcastJoinThreshold`, which is what
  * makes the check meaningful at toy scale: at sf0.001 every frame is
  * under the default 10 MB threshold, so a theta-join that FORGOT its
  * `broadcast()` hint would still silently plan as a broadcast join in the
  * ordinary test session — and become a corpus² cartesian at 100 TB (the
  * round-9 `dd_embedding_recall` finding, generalized). With the
  * threshold off, only joins whose small side is EXPLICITLY declared
  * (hint, or a non-equi structure Spark can bound) stay non-cartesian, so
  * the plan here reflects intent, not statistics.
  *
  * This generalizes the per-query pins in [[PlanRegressionSpec]] (which
  * assert positive shapes — pushdown, broadcast sides, window group
  * limits) into a negative invariant over the whole surface: new queries
  * are linted the moment they are added to `SparkEntry.queries`, with no
  * opt-in step to forget.
  *
  * It also snapshots the lint session's conf around every build, and a
  * final case asserts that no entry changed it.
  */
class SuitePlanLintSpec extends AnyFunSuite {

  /** Queries allowed to plan a CartesianProduct, each with a reason.
    * Empty today; additions need a size argument in the map value.
    */
  private val sanctioned: Map[String, String] = Map()

  private lazy val lintSpark = {
    val s = TestSpark.spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s
  }

  /** Entries whose build changed `lintSpark.conf.getAll`, with the
    * keys they changed: an entry needing another conf must build on a
    * cloned session, never write its caller's.
    */
  private val confChanges =
    scala.collection.mutable.LinkedHashMap.empty[String, Seq[String]]

  for (name <- graft.SparkEntry.queries.keys.toSeq.sorted
       if !sanctioned.contains(name)) {
    test(s"$name: no unbroadcast CartesianProduct (autoBroadcast off)") {
      val before = lintSpark.conf.getAll
      val df = graft.SparkEntry.queries(name)(lintSpark, TestSpark.sfDir)
      val after = lintSpark.conf.getAll
      val changed = (before.keySet ++ after.keySet)
        .filter(k => before.get(k) != after.get(k)).toSeq.sorted
      if (changed.nonEmpty) confChanges(name) = changed
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"),
        s"$name plans a cartesian once auto-broadcast stops saving it — " +
          s"declare the broadcast side explicitly:\n${p.take(2500)}")
    }
  }

  test("no entry's build changed the session conf") {
    assert(confChanges.isEmpty, confChanges.map { case (n, ks) =>
      s"$n: ${ks.mkString(", ")}" }.mkString("entries changed the conf: ", "; ", ""))
  }
}
