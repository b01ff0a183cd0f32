package graft.adhesive

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.DataType

/** The serializable callbacks of a `CREATE AGGREGATE FUNCTION`: they
  * delegate to the user's [[AdhesiveAggregate]] subclass, materialized
  * lazily per executor JVM from shipped bytecode exactly like the scalar
  * [[AdhesiveUdf]], and wrap its failures as `AdhesiveExecutionException`.
  *
  * An [[AdhesiveAggregateCall]] calls them: [[AdhesiveImperativeAggregate]]
  * for a boxed primitive STATE, [[AdhesiveObjectAggregate]] for any other.
  * Either way `reduce` is the map-side partial fold, only STATE-typed
  * partials cross the shuffle, and `merge` combines them per group. At
  * 100 TB the shuffle volume is #groups × sizeof(STATE), independent of
  * input rows — the same contract as Spark's own sum/avg.
  *
  * State and result are Java values of the declared STATE / RETURNS types,
  * converted by Spark's `CatalystTypeConverters` — the same conversions a
  * scalar call's arguments and result go through. No Kryo and no Java
  * serialization in the aggregation loop.
  */
class AdhesiveAggregatorBridge(
    val functionName: String,
    val fqn: String,
    val bytecode: Map[String, Array[Byte]],
    val stateType: DataType,
    val resultType: DataType,
    val jarPath: Option[String] = None)
    extends Serializable {

  @transient private lazy val inst: AdhesiveAggregate =
    AdhesiveInstances.aggregateInstance(fqn, bytecode, jarPath)

  private def wrap[A](phase: String)(body: => A): A =
    try body
    catch {
      case e: AdhesiveException => throw e
      case e: Exception =>
        throw new AdhesiveExecutionException(
          s"adhesive aggregate '$functionName' $phase failed: $e", e)
    }

  def zero: Any = wrap("zero()") {
    val z = inst.zero()
    if (z == null) {
      throw new AdhesiveExecutionException(
        s"adhesive aggregate '$functionName' zero() returned NULL; the " +
          "identity state must be a non-null value of the STATE type", null)
    }
    z
  }

  def reduce(state: Any, input: Row): Any =
    wrap("reduce()")(inst.reduce(state, input))

  def merge(a: Any, b: Any): Any = wrap("merge()")(inst.merge(a, b))

  def finish(state: Any): Any = wrap("finish()")(inst.finish(state))
}
