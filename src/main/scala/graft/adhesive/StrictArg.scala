package graft.adhesive

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** Analysis-time exact-signature enforcement for adhesive functions.
  *
  * The reference registers its UDFs with `Signature::exact(...)` — no
  * implicit coercion; a mistyped argument is a *plan-time* error
  * (`/root/reference/src/fusion.rs:72`). Spark's own UDF machinery would
  * happily insert casts (SURVEY §7.4 H3), so each argument of a registered
  * function call is wrapped in this zero-cost pass-through expression whose
  * only job is to fail analysis when the resolved argument type differs from
  * the declared one. Eval and codegen delegate to the child — the wrapper
  * vanishes from the generated code.
  */
case class StrictArg(
    child: Expression,
    expected: DataType,
    functionName: String,
    pos: Int)
    extends UnaryExpression {

  override def dataType: DataType = child.dataType
  override def nullable: Boolean = child.nullable
  // pass-through: a literal argument stays visibly foldable, so
  // AdhesiveConstantFolding can fold deterministic calls over constants
  override def foldable: Boolean = child.foldable
  // invisible in plan strings and generated column names: `f(a, b)`
  override def toString: String = child.toString
  override def sql: String = child.sql

  // Exact on the type lattice, insensitive to containsNull: nullability is
  // a property of the DATA, not the signature — the scalar types in this
  // matrix carry no nullability either, so ARRAY<BIGINT> must match a
  // non-null-elements array column the same way BIGINT matches a
  // non-nullable bigint column (and MAP<K,V> likewise ignores
  // valueContainsNull). STRUCT arguments compare POSITIONALLY (field
  // types, not names): the whole row contract is positional getters, and
  // `struct($"x", $"y")` field names are call-site artifacts, not part of
  // the declared signature.
  private def sameType(a: DataType, b: DataType): Boolean = (a, b) match {
    case (ArrayType(ea, _), ArrayType(eb, _)) => sameType(ea, eb)
    case (MapType(ka, va, _), MapType(kb, vb, _)) =>
      sameType(ka, kb) && sameType(va, vb)
    case (StructType(fa), StructType(fb)) =>
      fa.length == fb.length &&
        fa.zip(fb).forall { case (x, y) => sameType(x.dataType, y.dataType) }
    case _ => a == b
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (sameType(child.dataType, expected)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"adhesive function '$functionName' expects argument ${pos + 1} of " +
        s"exact type ${expected.sql}, got ${child.dataType.sql} " +
        "(no implicit coercion; cast explicitly)")

  override def eval(input: InternalRow): Any = child.eval(input)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = c.code, isNull = c.isNull, value = c.value)
  }

  override protected def withNewChildInternal(newChild: Expression): StrictArg =
    copy(child = newChild)
}
