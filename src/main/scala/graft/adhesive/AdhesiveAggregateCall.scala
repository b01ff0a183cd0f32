package graft.adhesive

import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression, UnsafeProjection, UnsafeRow, UserDefinedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{ImperativeAggregate, TypedImperativeAggregate}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.types._

/** One call of an adhesive aggregate, as a Catalyst aggregate function.
  * The STATE type picks the class:
  *   - a boxed primitive ([[AdhesiveArgRow.isPrimitive]]) runs as
  *     [[AdhesiveImperativeAggregate]], one fixed-width slot of Spark's
  *     aggregation buffer, planned as `HashAggregate`;
  *   - any other runs as [[AdhesiveObjectAggregate]], the state held as an
  *     object, planned as `ObjectHashAggregate`.
  *
  * Both fold their input the same way: the arguments go into one reused
  * [[AdhesiveArgRow]], the same `Row` a scalar or table call hands its
  * body, and the bridge's callbacks do the rest, with their error wrapping
  * (`... reduce() failed: <cause>`) and `zero()` null check. A NULL state
  * reaches the next `reduce`, `merge` or `finish` as `null`. The result
  * goes through `CatalystTypeConverters`, as a scalar call's does.
  */
sealed trait AdhesiveAggregateCall extends ImperativeAggregate with UserDefinedExpression {
  def bridge: AdhesiveAggregatorBridge
  def isDeterministic: Boolean

  override def name: String = bridge.functionName
  override def prettyName: String = name
  override def dataType: DataType = bridge.resultType
  override def nullable: Boolean = true
  override lazy val deterministic: Boolean =
    isDeterministic && children.forall(_.deterministic)
  // the argument row is per-evaluator state
  override def stateful: Boolean = true
  // plan strings show the call, not the bridge and the buffer offsets
  override def toAggString(isDistinct: Boolean): String =
    s"$name(${if (isDistinct) "distinct " else ""}${children.mkString(", ")})"

  @transient private lazy val argArray = children.toArray
  @transient private lazy val argRow = new AdhesiveArgRow(AdhesiveArgRow.schemaOf(children))
  @transient protected lazy val toCatalyst: Any => Any =
    CatalystTypeConverters.createToCatalystConverter(dataType)

  /** `reduce` of one input row into `state`. */
  protected def fold(state: Any, input: InternalRow): Any = {
    AdhesiveArgRow.fill(argRow, argArray, input)
    bridge.reduce(state, argRow)
  }
}

/** A primitive STATE in one fixed-width buffer slot: `HashAggregate` keeps
  * one UnsafeRow buffer per group in a hash map, with no switch to
  * sort-based aggregation however many groups a task sees.
  */
case class AdhesiveImperativeAggregate(
    bridge: AdhesiveAggregatorBridge,
    children: Seq[Expression],
    isDeterministic: Boolean,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends AdhesiveAggregateCall {

  require(AdhesiveArgRow.isPrimitive(bridge.stateType),
    s"state type ${bridge.stateType.sql} needs an object buffer")

  override def aggBufferSchema: StructType =
    StructType(StructField("state", bridge.stateType) :: Nil)
  override lazy val aggBufferAttributes: Seq[AttributeReference] =
    DataTypeUtils.toAttributes(aggBufferSchema)
  override lazy val inputAggBufferAttributes: Seq[AttributeReference] =
    aggBufferAttributes.map(_.newInstance())

  @transient private lazy val getState = InternalRow.getAccessor(bridge.stateType, nullable = true)
  @transient private lazy val setState: (InternalRow, Any) => Unit = {
    val write = InternalRow.getWriter(mutableAggBufferOffset, bridge.stateType)
    (buffer, state) =>
      if (state == null) buffer.setNullAt(mutableAggBufferOffset) else write(buffer, state)
  }

  override def initialize(buffer: InternalRow): Unit = setState(buffer, bridge.zero)

  override def update(buffer: InternalRow, input: InternalRow): Unit =
    setState(buffer, fold(getState(buffer, mutableAggBufferOffset), input))

  override def merge(buffer: InternalRow, input: InternalRow): Unit =
    setState(buffer, bridge.merge(getState(buffer, mutableAggBufferOffset),
      getState(input, inputAggBufferOffset)))

  override def eval(buffer: InternalRow): Any =
    toCatalyst(bridge.finish(getState(buffer, mutableAggBufferOffset)))

  override def withNewMutableAggBufferOffset(offset: Int): ImperativeAggregate =
    copy(mutableAggBufferOffset = offset)

  override def withNewInputAggBufferOffset(offset: Int): ImperativeAggregate =
    copy(inputAggBufferOffset = offset)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): AdhesiveImperativeAggregate =
    copy(children = newChildren)
}

/** Any other STATE, held as the object the callbacks return: the pattern
  * of Spark's own `collect_list` and `percentile`. `ObjectHashAggregate`
  * keeps one state per group until a task holds more than
  * `spark.sql.objectHashAggregate.sortBased.fallbackThreshold` (128)
  * groups, then sorts the task's remaining input. A state crosses a
  * shuffle or the fallback serialized as one Catalyst value of the STATE
  * type in a one-field UnsafeRow.
  */
case class AdhesiveObjectAggregate(
    bridge: AdhesiveAggregatorBridge,
    children: Seq[Expression],
    isDeterministic: Boolean,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[AnyRef] with AdhesiveAggregateCall {

  @transient private lazy val stateProjection =
    UnsafeProjection.create(Array[DataType](bridge.stateType))
  @transient private lazy val stateToCatalyst =
    CatalystTypeConverters.createToCatalystConverter(bridge.stateType)
  @transient private lazy val stateToJava = AdhesiveObjectAggregate.toJava(bridge.stateType)

  override def createAggregationBuffer(): AnyRef = bridge.zero.asInstanceOf[AnyRef]

  override def update(state: AnyRef, input: InternalRow): AnyRef =
    fold(state, input).asInstanceOf[AnyRef]

  override def merge(state: AnyRef, other: AnyRef): AnyRef =
    bridge.merge(state, other).asInstanceOf[AnyRef]

  override def eval(state: AnyRef): Any = toCatalyst(bridge.finish(state))

  override def serialize(state: AnyRef): Array[Byte] =
    stateProjection(InternalRow(stateToCatalyst(state))).getBytes

  override def deserialize(bytes: Array[Byte]): AnyRef = {
    val row = new UnsafeRow(1)
    row.pointTo(bytes, bytes.length)
    stateToJava(row.get(0, bridge.stateType)).asInstanceOf[AnyRef]
  }

  override def withNewMutableAggBufferOffset(offset: Int): ImperativeAggregate =
    copy(mutableAggBufferOffset = offset)

  override def withNewInputAggBufferOffset(offset: Int): ImperativeAggregate =
    copy(inputAggBufferOffset = offset)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): AdhesiveObjectAggregate =
    copy(children = newChildren)
}

object AdhesiveObjectAggregate {

  /** A Catalyst value of `dt` as the state the callbacks receive: an ARRAY
    * is a `java.util.ArrayList` and a MAP a `java.util.HashMap`, at every
    * depth under ARRAY and MAP, so a fold may update its state in place;
    * any other value is what `CatalystTypeConverters` makes of it (a STRUCT
    * a `Row`, a DECIMAL a `java.math.BigDecimal`, ...).
    */
  private[adhesive] def toJava(dt: DataType): Any => Any = dt match {
    case ArrayType(et, _) =>
      val elem = toJava(et)
      v => if (v == null) null else {
        val a = v.asInstanceOf[ArrayData]
        val out = new java.util.ArrayList[Any](a.numElements())
        a.foreach(et, (_, x) => out.add(if (x == null) null else elem(x)))
        out
      }
    case MapType(kt, vt, _) =>
      val key = toJava(kt)
      val value = toJava(vt)
      v => if (v == null) null else {
        val m = v.asInstanceOf[MapData]
        val out = new java.util.HashMap[Any, Any]()
        m.foreach(kt, vt, (k, x) => out.put(key(k), if (x == null) null else value(x)))
        out
      }
    case _ => CatalystTypeConverters.createToScalaConverter(dt)
  }
}
