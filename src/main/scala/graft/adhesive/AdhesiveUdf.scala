package graft.adhesive

import org.apache.spark.sql.Row
import org.apache.spark.sql.api.java.UDF1

/** The serializable data-path closure: what actually ships to executors.
  *
  * Holds only the FQN and (for runtime-compiled functions) the bytecode map
  * — both plainly serializable — and materializes the user instance lazily
  * per executor JVM via [[AdhesiveInstances]]. This solves the distribution
  * problem the reference only sketched (`FunctionDefinition::Class
  * { byte_code, fqn }`, "to be used later for function serialization" —
  * `/root/reference/src/fusion.rs:142-153`): in a distributed Spark job the
  * *class* of a captured instance would not be loadable on executors, so we
  * ship the bytes and define the class on first call instead.
  *
  * Invocation granularity matches the reference's effective semantics: one
  * `compute(Row)` call per input row (`Adhesive.java:68-70`), here from
  * within Spark's whole-stage-generated code with no FFI hop
  * ([[AdhesiveCall]]).
  */
class AdhesiveUdf(
    val functionName: String,
    val fqn: String,
    val bytecode: Map[String, Array[Byte]],
    val nonNullable: Boolean = false,
    val jarPath: Option[String] = None)
    extends UDF1[Row, Any] with (Row => Any) with Serializable {

  // Function1 view, passed directly as AdhesiveCall.function so the
  // optimizer can tell scalar calls by instance type (AdhesiveConstantFolding)
  override def apply(row: Row): Any = call(row)

  @transient private lazy val inst: Adhesive =
    AdhesiveInstances.instance(fqn, bytecode, jarPath)

  override def call(row: Row): Any =
    try {
      val r = inst.compute(row)
      // RETURNS ... NOT NULL contract: the declared non-nullability lets
      // Catalyst elide null checks downstream, so a null escaping here
      // would corrupt, not propagate — fail the query instead (the
      // reference's computeNonNull* path NPEs unboxing the null,
      // Adhesive.java:105-124; we keep the function name and a message).
      if (r == null && nonNullable) {
        throw new AdhesiveExecutionException(
          s"adhesive function '$functionName' declared NOT NULL " +
            "but returned NULL", null)
      }
      r
    } catch {
      case e: AdhesiveException => throw e
      case e: Exception =>
        // Fail the query, keeping the user message + function name
        // (reference parity for "exceptions fail the query",
        // src/jvm.rs:316-330, improving on its lost messages). toString,
        // not getMessage: the most common user error — a primitive
        // getter on a null slot — throws a message-LESS NPE, and
        // "failed: null" is exactly the lost message this wrapper exists
        // to prevent.
        throw new AdhesiveExecutionException(
          s"adhesive function '$functionName' failed: $e", e)
    }
}
