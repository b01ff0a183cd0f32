package graft.adhesive

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

import scala.util.control.NonFatal

/** Driver-side constant folding for DETERMINISTIC adhesive calls.
  *
  * Spark's own `ConstantFolding` only folds expressions that report
  * `foldable`, and [[AdhesiveCall]] never does (an arbitrary body may close
  * over mutable state), so `f(1, 2)` is re-evaluated for every row — per-row ×
  * per-partition work for a value known at plan time, which at 100 TB is
  * pure waste. The `DETERMINISTIC` declaration in the adhesive DDL is an
  * explicit user contract (the reference's non-Volatile volatility,
  * `/root/reference/src/fusion.rs:72`) that makes evaluating once on the
  * driver sound. Functions not declared DETERMINISTIC keep Volatile parity:
  * never folded, never CSE'd.
  *
  * The rule folds scalar calls only (an [[AdhesiveCall]] whose function is
  * an [[AdhesiveUdf]]); table calls stay generators. If
  * the call throws on the constant input, the expression is left unfolded so
  * the error still surfaces at execution, matching unoptimized semantics.
  */
object AdhesiveConstantFolding extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case call: AdhesiveCall
          if call.udfDeterministic && call.function.isInstanceOf[AdhesiveUdf] &&
            call.children.forall(_.foldable) =>
        // eval returns the Catalyst-internal value (identity for the
        // BIGINT/INT/FLOAT/DOUBLE return matrix), so construct the Literal
        // directly — Literal.create would re-convert an external value.
        try Literal(call.eval(InternalRow.empty), call.dataType)
        catch { case NonFatal(_) => call }
    }
}
