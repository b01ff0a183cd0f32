package graft.adhesive

import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Encoder, Encoders, Row}

/** The serializable data path for `CREATE AGGREGATE FUNCTION`: a Spark
  * typed [[Aggregator]] whose four callbacks delegate to the user's
  * [[AdhesiveAggregate]] subclass, materialized lazily per executor JVM
  * from shipped bytecode exactly like the scalar [[AdhesiveUdf]].
  *
  * Two plans call these callbacks, chosen by the STATE type:
  *   - a boxed primitive STATE runs as [[AdhesiveImperativeAggregate]], a
  *     fixed-width buffer slot under `HashAggregate`;
  *   - any other STATE runs through this `Aggregator` as a
  *     `ScalaAggregator` under `ObjectHashAggregate`. That operator turns
  *     sort-based once a task holds more than
  *     `spark.sql.objectHashAggregate.sortBased.fallbackThreshold` (128)
  *     groups, and then sorts the task's remaining input.
  * Either way `reduce` is the map-side partial fold, only STATE-typed
  * partials cross the shuffle, and `merge` combines them per group. At
  * 100 TB the shuffle volume is #groups × sizeof(STATE), independent of
  * input rows — the same contract as Spark's own sum/avg.
  *
  * State and result are boxed values of the declared STATE / RETURNS types
  * (the same matrix as scalar returns: the six scalars plus DATE,
  * TIMESTAMP, DECIMAL(p,s) and ARRAY<T> — see [[encoderFor]]), encoded
  * with Spark's typed encoders — no Kryo, no java serialization in the
  * aggregation loop.
  */
class AdhesiveAggregatorBridge(
    val functionName: String,
    val fqn: String,
    val bytecode: Map[String, Array[Byte]],
    val stateType: DataType,
    val resultType: DataType,
    val jarPath: Option[String] = None)
    extends Aggregator[Row, Any, Any] {

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

  override def zero: Any = wrap("zero()") {
    val z = inst.zero()
    if (z == null) {
      throw new AdhesiveExecutionException(
        s"adhesive aggregate '$functionName' zero() returned NULL; the " +
          "identity state must be a non-null value of the STATE type", null)
    }
    z
  }

  override def reduce(state: Any, input: Row): Any =
    wrap("reduce()")(inst.reduce(state, input))

  override def merge(a: Any, b: Any): Any = wrap("merge()")(inst.merge(a, b))

  override def finish(state: Any): Any = wrap("finish()")(inst.finish(state))

  override def bufferEncoder: Encoder[Any] =
    AdhesiveAggregatorBridge.encoderFor(stateType)

  override def outputEncoder: Encoder[Any] =
    AdhesiveAggregatorBridge.encoderFor(resultType)
}

object AdhesiveAggregatorBridge {

  import org.apache.spark.sql.catalyst.encoders.{AgnosticEncoder, AgnosticEncoders}
  import scala.reflect.ClassTag

  /** Boxed encoder for one supported type; the cast is sound because
    * encoders are reified only at the InternalRow boundary.
    *
    * DECIMAL(p,s) values cross the user callbacks as java.math.BigDecimal
    * (lenient serialization also admits scala BigDecimal / Spark Decimal
    * from Scala-language bodies); ARRAY<T> values as java.util.List<T-box>
    * — the same container `row.getList` hands the argument side, so a
    * vector-sum aggregate reads and writes one shape.
    */
  private[adhesive] def encoderFor(dt: DataType): Encoder[Any] =
    agnosticFor(dt).asInstanceOf[Encoder[Any]]

  private def agnosticFor(dt: DataType): AgnosticEncoder[_] = dt match {
    case LongType    => AgnosticEncoders.BoxedLongEncoder
    case IntegerType => AgnosticEncoders.BoxedIntEncoder
    case ShortType   => AgnosticEncoders.BoxedShortEncoder
    case ByteType    => AgnosticEncoders.BoxedByteEncoder
    case FloatType   => AgnosticEncoders.BoxedFloatEncoder
    case DoubleType  => AgnosticEncoders.BoxedDoubleEncoder
    case StringType  => AgnosticEncoders.StringEncoder
    case BooleanType => AgnosticEncoders.BoxedBooleanEncoder
    case BinaryType  => AgnosticEncoders.BinaryEncoder
    case DateType      => AgnosticEncoders.LENIENT_DATE_ENCODER
    case TimestampType => AgnosticEncoders.LENIENT_TIMESTAMP_ENCODER
    case d: DecimalType =>
      AgnosticEncoders.JavaDecimalEncoder(d, lenientSerialization = true)
    case MapType(k, v, _) =>
      // java.util.Map external type — the container row.getJavaMap hands
      // the argument side; build results with java.util.HashMap
      AgnosticEncoders.MapEncoder(
        ClassTag(classOf[java.util.Map[_, _]]), agnosticFor(k),
        agnosticFor(v), valueContainsNull = true)
    case ArrayType(elem, _) =>
      // NOT lenient: the lenient serializer's generic branch iterates the
      // value as a scala Seq in generated code and CCEs on java.util.List;
      // the precise class tag makes MapObjects emit its java-List branch.
      // Contract: ARRAY state/results ARE java.util.List (both languages).
      AgnosticEncoders.IterableEncoder(
        ClassTag(classOf[java.util.List[_]]), agnosticFor(elem),
        containsNull = true, lenientSerialization = false)
    case s: StructType =>
      // composite state/result (the (sum, count) mean shape): values are
      // org.apache.spark.sql.Row, built with RowFactory.create(...) and
      // read with the positional getters — the same contract as arguments
      org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(s)
    case other =>
      throw new AdhesiveException(
        s"aggregate state/return type ${other.sql} not supported " +
          "(to be added); supported: every declarable type — scalars, " +
          "DECIMAL(p,s), ARRAY<T>, MAP<K,V>, STRUCT<name: T, ...>")
  }
}
