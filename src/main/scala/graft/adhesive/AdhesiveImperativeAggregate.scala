package graft.adhesive

import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression, UserDefinedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.ImperativeAggregate
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.types._

/** An adhesive aggregate whose STATE type is one of the seven boxed
  * primitives ([[AdhesiveArgRow.isPrimitive]]). The state lives in one
  * fixed-width slot of Spark's aggregation buffer, so the planner picks
  * `HashAggregate`: one UnsafeRow buffer per group in a hash map, with no
  * switch to sort-based aggregation however many groups a task sees.
  *
  * The callbacks are the bridge's, so the error wrapping (`... reduce()
  * failed: <cause>`) and the `zero()` null check are the same as on the
  * `ScalaAggregator` path. `reduce` reads its arguments from a reused
  * [[AdhesiveArgRow]]; a NULL state is a NULL buffer slot, and reaches the
  * next `reduce`, `merge` or `finish` as `null`, as it does there.
  */
case class AdhesiveImperativeAggregate(
    bridge: AdhesiveAggregatorBridge,
    children: Seq[Expression],
    isDeterministic: Boolean,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends ImperativeAggregate with UserDefinedExpression {

  require(AdhesiveArgRow.isPrimitive(bridge.stateType),
    s"state type ${bridge.stateType.sql} needs the ScalaAggregator path")

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

  override def aggBufferSchema: StructType =
    StructType(StructField("state", bridge.stateType) :: Nil)
  override lazy val aggBufferAttributes: Seq[AttributeReference] =
    DataTypeUtils.toAttributes(aggBufferSchema)
  override lazy val inputAggBufferAttributes: Seq[AttributeReference] =
    aggBufferAttributes.map(_.newInstance())

  @transient private lazy val argArray = children.toArray
  @transient private lazy val argRow = new AdhesiveArgRow(AdhesiveArgRow.schemaOf(children))
  @transient private lazy val getState = InternalRow.getAccessor(bridge.stateType, nullable = true)
  @transient private lazy val setState: (InternalRow, Any) => Unit = {
    val write = InternalRow.getWriter(mutableAggBufferOffset, bridge.stateType)
    (buffer, state) =>
      if (state == null) buffer.setNullAt(mutableAggBufferOffset) else write(buffer, state)
  }
  @transient private lazy val toCatalyst: Any => Any =
    CatalystTypeConverters.createToCatalystConverter(dataType)

  override def initialize(buffer: InternalRow): Unit = setState(buffer, bridge.zero)

  override def update(buffer: InternalRow, input: InternalRow): Unit = {
    AdhesiveArgRow.fill(argRow, argArray, input)
    setState(buffer, bridge.reduce(getState(buffer, mutableAggBufferOffset), argRow))
  }

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
