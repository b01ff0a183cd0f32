package graft.adhesive

import org.apache.spark.sql.Row

/** Serializable data path for `CREATE TABLE FUNCTION` — the table twin of
  * [[AdhesiveUdf]]: carries only (fqn, bytecode), materializes the user
  * [[AdhesiveTableFunction]] lazily per executor JVM, and is invoked by an
  * [[AdhesiveCall]] returning `ARRAY<STRUCT<...>>` that an `Inline` generator
  * fans out into rows — so the function executes inside the stage like
  * any built-in generator, no shuffle of its own.
  */
class AdhesiveTableUdf(
    val functionName: String,
    val fqn: String,
    val bytecode: Map[String, Array[Byte]],
    val jarPath: Option[String] = None)
    extends (Row => Any) with Serializable {

  @transient private lazy val inst: AdhesiveTableFunction =
    AdhesiveInstances.tableInstance(fqn, bytecode, jarPath)

  override def apply(row: Row): Any =
    try inst.eval(row)
    catch {
      case e: AdhesiveException => throw e
      case e: Exception =>
        throw new AdhesiveExecutionException(
          s"adhesive table function '$functionName' failed: $e", e)
    }
}
