package graft.adhesive

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types._

/** The `Row` a call hands to the user body: one per task, refilled for
  * every input row.
  *
  * Primitive slots (BIGINT, INT, SMALLINT, TINYINT, FLOAT, DOUBLE,
  * BOOLEAN) hold unboxed values, so `getLong(i)` and its siblings read
  * them without an allocation. Every other slot holds the value
  * `CatalystTypeConverters` makes of the argument (String,
  * java.math.BigDecimal, java.sql.Date, a Seq, a nested Row, ...), as in
  * a Row that Spark converts from a struct. A getter that does not fit its
  * slot, or a primitive getter on a NULL slot, falls through to `Row`'s own
  * code, so it fails as it would on any other `Row`.
  *
  * The values are valid only during the call; `copy()` keeps them.
  */
final class AdhesiveArgRow(override val schema: StructType) extends Row {

  private[this] val slots: Array[MutableValue] =
    schema.fields.map(f => AdhesiveArgRow.slotFor(f.dataType))
  private[this] val toScala: Array[Any => Any] = schema.fields.map { f =>
    if (AdhesiveArgRow.isPrimitive(f.dataType)) null
    else CatalystTypeConverters.createToScalaConverter(f.dataType)
  }

  // --- filled by the call, from Catalyst values -------------------------

  def setNullAt(i: Int): Unit = slots(i).isNull = true
  def setLong(i: Int, v: Long): Unit = {
    val s = slots(i).asInstanceOf[MutableLong]; s.isNull = false; s.value = v
  }
  def setInt(i: Int, v: Int): Unit = {
    val s = slots(i).asInstanceOf[MutableInt]; s.isNull = false; s.value = v
  }
  def setShort(i: Int, v: Short): Unit = {
    val s = slots(i).asInstanceOf[MutableShort]; s.isNull = false; s.value = v
  }
  def setByte(i: Int, v: Byte): Unit = {
    val s = slots(i).asInstanceOf[MutableByte]; s.isNull = false; s.value = v
  }
  def setFloat(i: Int, v: Float): Unit = {
    val s = slots(i).asInstanceOf[MutableFloat]; s.isNull = false; s.value = v
  }
  def setDouble(i: Int, v: Double): Unit = {
    val s = slots(i).asInstanceOf[MutableDouble]; s.isNull = false; s.value = v
  }
  def setBoolean(i: Int, v: Boolean): Unit = {
    val s = slots(i).asInstanceOf[MutableBoolean]; s.isNull = false; s.value = v
  }

  /** Any slot from a (possibly null) Catalyst value. */
  def setCatalyst(i: Int, v: Any): Unit =
    if (v == null) slots(i).isNull = true
    else slots(i).update(if (toScala(i) == null) v else toScala(i)(v))

  // --- read by the user body ---------------------------------------------

  override def length: Int = slots.length
  override def get(i: Int): Any = slots(i).boxed
  override def isNullAt(i: Int): Boolean = slots(i).isNull

  override def getLong(i: Int): Long = slots(i) match {
    case s: MutableLong if !s.isNull => s.value
    case _ => super.getLong(i)
  }
  override def getInt(i: Int): Int = slots(i) match {
    case s: MutableInt if !s.isNull => s.value
    case _ => super.getInt(i)
  }
  override def getShort(i: Int): Short = slots(i) match {
    case s: MutableShort if !s.isNull => s.value
    case _ => super.getShort(i)
  }
  override def getByte(i: Int): Byte = slots(i) match {
    case s: MutableByte if !s.isNull => s.value
    case _ => super.getByte(i)
  }
  override def getFloat(i: Int): Float = slots(i) match {
    case s: MutableFloat if !s.isNull => s.value
    case _ => super.getFloat(i)
  }
  override def getDouble(i: Int): Double = slots(i) match {
    case s: MutableDouble if !s.isNull => s.value
    case _ => super.getDouble(i)
  }
  override def getBoolean(i: Int): Boolean = slots(i) match {
    case s: MutableBoolean if !s.isNull => s.value
    case _ => super.getBoolean(i)
  }

  override def copy(): Row = new GenericRowWithSchema(Array.tabulate(length)(get), schema)
}

object AdhesiveArgRow {

  /** The types whose slot is unboxed; also the aggregate STATE types that
    * fit a fixed-width buffer slot ([[AdhesiveImperativeAggregate]]).
    */
  def isPrimitive(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | ShortType | ByteType | FloatType | DoubleType |
        BooleanType => true
    case _ => false
  }

  private def slotFor(dt: DataType): MutableValue = dt match {
    case LongType    => new MutableLong
    case IntegerType => new MutableInt
    case ShortType   => new MutableShort
    case ByteType    => new MutableByte
    case FloatType   => new MutableFloat
    case DoubleType  => new MutableDouble
    case BooleanType => new MutableBoolean
    case _           => new MutableAny
  }

  /** Positional schema of a call's arguments, named `col1`..`colN` as
    * Spark names the fields of an unnamed struct.
    */
  def schemaOf(args: Seq[Expression]): StructType =
    StructType(args.zipWithIndex.map { case (a, i) =>
      StructField(s"col${i + 1}", a.dataType, a.nullable)
    })

  /** Evaluates `args` on `input` into `row` (the interpreted fill). */
  def fill(row: AdhesiveArgRow, args: Array[Expression], input: InternalRow): Unit = {
    var i = 0
    while (i < args.length) {
      row.setCatalyst(i, args(i).eval(input))
      i += 1
    }
  }
}

/** One call of an adhesive scalar or table function, as a Catalyst
  * expression: it evaluates the arguments into a reused
  * [[AdhesiveArgRow]], calls `function` (an [[AdhesiveUdf]] or
  * [[AdhesiveTableUdf]]) and converts the result to the Catalyst value of
  * `dataType`. A primitive result is unboxed; any other goes through
  * `CatalystTypeConverters`.
  *
  * `udfDeterministic` is the DDL's DETERMINISTIC flag; without it the call
  * is volatile (the reference's `Volatility::Volatile`), never folded or
  * CSE'd. `nullable = false` is the DDL's `RETURNS ... NOT NULL`, which the
  * function itself enforces at run time.
  */
case class AdhesiveCall(
    function: Row => Any,
    dataType: DataType,
    children: Seq[Expression],
    name: String,
    nullable: Boolean,
    udfDeterministic: Boolean)
    extends Expression with NonSQLExpression with UserDefinedExpression {

  override lazy val deterministic: Boolean =
    udfDeterministic && children.forall(_.deterministic)

  // the argument row is per-evaluator state
  override def stateful: Boolean = true

  override def toString: String = s"$name(${children.mkString(", ")})"

  def newArgRow(): AdhesiveArgRow = new AdhesiveArgRow(AdhesiveArgRow.schemaOf(children))

  @transient private lazy val argArray = children.toArray
  @transient private lazy val argRow = newArgRow()
  @transient private lazy val toCatalyst: Any => Any =
    CatalystTypeConverters.createToCatalystConverter(dataType)

  override def eval(input: InternalRow): Any = {
    AdhesiveArgRow.fill(argRow, argArray, input)
    toCatalyst(function(argRow))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("adhesiveCall", this)
    val fn = ctx.addReferenceObj("adhesiveFn", function, "scala.Function1")
    val row = ctx.addMutableState(classOf[AdhesiveArgRow].getName, "adhesiveArgs",
      v => s"$v = $self.newArgRow();")
    val fills = children.zipWithIndex.map { case (c, i) =>
      val arg = c.genCode(ctx)
      val setter =
        if (AdhesiveArgRow.isPrimitive(c.dataType)) {
          "set" + CodeGenerator.primitiveTypeName(c.dataType)
        } else "setCatalyst"
      val set = s"$row.$setter($i, ${arg.value});"
      s"""${arg.code}
         |if (${arg.isNull}) { $row.setNullAt($i); } else { $set }""".stripMargin
    }
    val fillCode = ctx.splitExpressionsWithCurrentInputs(fills, "adhesiveFill")
    val result = ctx.freshName("result")
    val call =
      if (AdhesiveArgRow.isPrimitive(dataType)) s"$fn.apply($row)"
      else {
        val conv = ctx.addReferenceObj("toCatalyst",
          CatalystTypeConverters.createToCatalystConverter(dataType), "scala.Function1")
        s"$conv.apply($fn.apply($row))"
      }
    val boxed = CodeGenerator.boxedType(dataType)
    val javaType = CodeGenerator.javaType(dataType)
    if (nullable) {
      ev.copy(code = code"""
        |$fillCode
        |Object $result = $call;
        |boolean ${ev.isNull} = $result == null;
        |$javaType ${ev.value} = ${CodeGenerator.defaultValue(dataType)};
        |if (!${ev.isNull}) {
        |  ${ev.value} = ($boxed) $result;
        |}""".stripMargin)
    } else {
      ev.copy(code = code"""
        |$fillCode
        |$javaType ${ev.value} = ($boxed) $call;""".stripMargin, isNull = FalseLiteral)
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): AdhesiveCall = copy(children = newChildren)
}
