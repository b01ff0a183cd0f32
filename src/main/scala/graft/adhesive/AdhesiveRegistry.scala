package graft.adhesive

import org.apache.spark.sql.catalyst.expressions.{Expression, Inline}
import org.apache.spark.sql.catalyst.plans.logical.{Generate, LogicalPlan, OneRowRelation}
import org.apache.spark.sql.classic.{SparkSession => ClassicSparkSession}
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Row, SparkSession}

/** Registration seam: turns a compiled/located [[Adhesive]] subclass into a
  * session-registered SQL function with the reference's semantics.
  *
  * Pipeline parity with `/root/reference/src/fusion.rs:22-80`:
  *   - runtime compile (`LANGUAGE JAVA`) or classpath lookup
  *     (`LANGUAGE CLASS`), both validated eagerly at DDL time by
  *     instantiating once on the driver (reference binds + instantiates at
  *     DDL time too, `src/jvm.rs:63-109`);
  *   - exact signature, no coercion ([[StrictArg]];
  *     `Signature::exact`, `src/fusion.rs:72`);
  *   - `Volatility::Volatile` ⇒ `.asNondeterministic()` — never
  *     constant-folded or CSE'd (`src/fusion.rs:72`);
  *   - positional arguments: a call `f(e1, …, eN)` hands the user one
  *     `Row` holding its arguments, read positionally
  *     (`src/jvm.rs:221-238`); the row is reused from call to call
  *     ([[AdhesiveArgRow]]);
  *   - return-type matrix {BIGINT, INT, FLOAT, DOUBLE} from the reference's
  *     Java bridge (`Adhesive.java:79-199`; anything else is a DDL-time
  *     error there, `src/fusion.rs:86`), extended here until the declared
  *     lattice CLOSED (round 12): every type the grammar can declare as
  *     an argument — scalars, DATE/TIMESTAMP, BINARY, DECIMAL(p,s),
  *     ARRAY<T>, MAP<K,V>, STRUCT<...> — is also a legal return and
  *     aggregate STATE type. The reference's "not supported (to be
  *     added)" error remains for undeclarable types on the programmatic
  *     surface.
  */
object AdhesiveRegistry {

  /** Return types wired end-to-end. The reference's Java-side matrix is the
    * four numerics (`Adhesive.java:79-199`; Rust side wires only Int64,
    * `src/fusion.rs:83-91` — "type not supported (to be added)"); STRING,
    * BOOLEAN, DECIMAL(p,s) and ARRAY<T> are the extension beyond it.
    * A primitive result is unboxed; any other flows through Spark's
    * CatalystTypeConverters ([[AdhesiveCall]]) — String → UTF8String,
    * java.math.BigDecimal → Decimal checked against the declared
    * precision/scale, java.util.List / arrays → ArrayData — the same
    * conversions any Scala UDF pays.
    */
  private val ScalarReturnTypes: Set[DataType] =
    Set(LongType, IntegerType, ShortType, ByteType, FloatType, DoubleType,
      StringType, BooleanType, DateType, TimestampType, BinaryType)

  /** The full declared-type lattice is closed under returns as of round
    * 12: every type the DDL grammar can declare as an ARGUMENT is also a
    * legal RETURN (and aggregate STATE) type. The check recurses so any
    * container composition works.
    */
  private[adhesive] def isSupportedReturnType(dt: DataType): Boolean = dt match {
    case _: DecimalType     => true
    case ArrayType(elem, _) => isSupportedReturnType(elem)
    case MapType(k, v, _) =>
      isSupportedReturnType(k) && isSupportedReturnType(v)
    case StructType(fields) => fields.forall(f => isSupportedReturnType(f.dataType))
    case other              => ScalarReturnTypes.contains(other)
  }

  private val SupportedReturnTypesMsg =
    "supported: every declarable type — BIGINT, INT, SMALLINT, TINYINT, " +
      "FLOAT, DOUBLE, STRING, BOOLEAN, DATE, TIMESTAMP, BINARY, " +
      "DECIMAL(p,s), ARRAY<T>, MAP<K,V>, STRUCT<name: T, ...>"

  /** DDL-time compile cache, keyed on (language, original source). The
    * mangled package exists to keep *different* sources from colliding
    * (`SourceRewriter`); byte-identical source can safely reuse its
    * previous unique package + bytecode — same behavior, and the per-JVM
    * instance cache entry stays warm too — so re-running `CREATE [OR
    * REPLACE] FUNCTION` with an unchanged body (session re-init, retried
    * jobs, benchmark loops) skips the javac/scalac run entirely.
    *
    * Consequence worth naming: byte-identical source registered under
    * DIFFERENT function names shares one mangled package and therefore
    * one per-JVM singleton `Adhesive` instance ([[AdhesiveInstances]]).
    * Adhesive instances are per-class singletons, not per-function — a
    * stateful subclass observes calls from every function name its
    * source is registered under. This mirrors how Spark itself shares
    * `CREATE FUNCTION ... USING JAR` class instances; compute() must be
    * self-contained per row regardless (executor tasks already share
    * instances across partitions).
    *
    * Bounded by an access-ordered LRU: at [[CompileCacheMax]] entries the
    * least-recently-used source is evicted, so the hot entries the cache
    * exists to serve (benchmark loops, session re-init) survive cap
    * pressure.
    */
  private val CompileCacheMax = 256
  private val compileCache =
    new LruCache[(String, String), (String, Map[String, Array[Byte]])](
      CompileCacheMax)

  private[adhesive] def compileCacheSize: Int = compileCache.size

  /** The (mangled FQN, bytecode) of `source` in `lang` ("java" or
    * "scala"), from [[compileCache]] or from a fresh compile.
    */
  private def compiled(lang: String, source: String): (String, Map[String, Array[Byte]]) =
    compileCache.getOrCompute((lang, source)) {
      val (rewritten, fqn) = SourceRewriter.rewrite(source)
      val bytecode =
        if (lang == "java") InMemoryJavaCompiler.compile(fqn, rewritten)
        else InMemoryScalaCompiler.compile(fqn, rewritten)
      (fqn, bytecode)
    }

  /** A call's arguments, checked for their count and each exactly typed
    * ([[StrictArg]]); `kind` names the function in the count error.
    */
  private def checkedArgs(kind: String, name: String, argTypes: Seq[DataType],
      exprs: Seq[Expression]): Seq[Expression] = {
    if (exprs.length != argTypes.length) {
      throw new AdhesiveException(
        s"adhesive $kind '$name' takes ${argTypes.length} argument(s), " +
          s"got ${exprs.length}")
    }
    exprs.zip(argTypes).zipWithIndex.map {
      case ((e, dt), i) => StrictArg(e, dt, name, i)
    }
  }

  /** Return-type validation, hoisted BEFORE compilation/instantiation: a
    * DDL guaranteed to fail must not spend a javac/scalac run, populate
    * the caches, or execute the user constructor's side effects first.
    */
  private def requireSupportedReturnType(returnType: DataType): Unit =
    if (!isSupportedReturnType(returnType)) {
      throw new AdhesiveException(
        s"return type ${returnType.sql} not supported (to be added); " +
          SupportedReturnTypesMsg)
    }

  /** Compile inline Java source and register it (the `LANGUAGE JAVA` path). */
  def registerJavaSource(
      spark: SparkSession,
      name: String,
      source: String,
      argTypes: Seq[DataType],
      returnType: DataType,
      nonNullable: Boolean = false,
      deterministic: Boolean = false): Unit = {
    requireSupportedReturnType(returnType)
    val (fqn, bytecode) = compiled("java", source)
    AdhesiveInstances.instance(fqn, bytecode) // eager DDL-time validation
    register(spark, name, fqn, bytecode, argTypes, returnType, nonNullable,
      deterministic)
  }

  /** Compile inline Scala source and register it (the `LANGUAGE SCALA`
    * path — an extension beyond the reference's Java-only surface; the
    * same mangling/distribution/caching pipeline applies).
    */
  def registerScalaSource(
      spark: SparkSession,
      name: String,
      source: String,
      argTypes: Seq[DataType],
      returnType: DataType,
      nonNullable: Boolean = false,
      deterministic: Boolean = false): Unit = {
    requireSupportedReturnType(returnType)
    val (fqn, bytecode) = compiled("scala", source)
    AdhesiveInstances.instance(fqn, bytecode)
    register(spark, name, fqn, bytecode, argTypes, returnType, nonNullable,
      deterministic)
  }

  /** Register an existing class (the `LANGUAGE CLASS` path) — from the
    * launch classpath, or from an explicit jar (`USING JAR '<path>'`,
    * the reference's new_with_jar parity, src/jvm.rs:44-61).
    */
  def registerClass(
      spark: SparkSession,
      name: String,
      className: String,
      argTypes: Seq[DataType],
      returnType: DataType,
      nonNullable: Boolean = false,
      deterministic: Boolean = false,
      jarPath: Option[String] = None): Unit = {
    requireSupportedReturnType(returnType)
    // lookup + instanceof check at DDL time
    AdhesiveInstances.instance(className, Map.empty, jarPath)
    register(spark, name, className, Map.empty, argTypes, returnType,
      nonNullable, deterministic, jarPath)
  }

  private def register(
      spark: SparkSession,
      name: String,
      fqn: String,
      bytecode: Map[String, Array[Byte]],
      argTypes: Seq[DataType],
      returnType: DataType,
      nonNullable: Boolean,
      deterministic: Boolean,
      jarPath: Option[String] = None): Unit = {
    // Return type already validated by every caller (registerJavaSource /
    // registerScalaSource / registerClass) BEFORE compiling/instantiating.
    // AdhesiveUdf is itself the serializable Row => Any closure (carries
    // only the (fqn, bytecode) pair — see its scaladoc); passing the
    // instance, not a wrapping lambda, lets AdhesiveConstantFolding
    // tell scalar calls from table calls.
    val callFn: Row => Any = new AdhesiveUdf(name, fqn, bytecode, nonNullable, jarPath)

    val builder = (exprs: Seq[Expression]) => {
      val checked = checkedArgs("function", name, argTypes, exprs)
      // The arguments go straight into a reused argument Row (positional
      // getters — the reference's row contract).
      // udfDeterministic defaults to false — the reference's
      // Volatility::Volatile (src/fusion.rs:72); DDL can opt in to
      // DETERMINISTIC (needed to call the function directly inside an
      // aggregate, which Spark forbids for nondeterministic expressions).
      // nullable=false mirrors computeNonNull*.
      AdhesiveCall(callFn, returnType, checked, name,
        nullable = !nonNullable, udfDeterministic = deterministic)
    }
    spark.asInstanceOf[ClassicSparkSession]
      .sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "java_udf")
  }

  // ---------------------------------------------------------------------
  // CREATE AGGREGATE FUNCTION — the variant the reference never closed
  // (`RegisterFunction::Scalar` is its only enum case, src/fusion.rs:78).
  // Same compile/mangle/cache/ship pipeline; the callbacks run through
  // AdhesiveAggregatorBridge, and Spark plans map-side partial
  // aggregation. A call folds its arguments through the same reused
  // argument row as a scalar call, and its state and result go through
  // the same CatalystTypeConverters: a primitive STATE runs as
  // AdhesiveImperativeAggregate (HashAggregate), any other as
  // AdhesiveObjectAggregate (ObjectHashAggregate, which turns sort-based
  // past 128 groups per task).
  // ---------------------------------------------------------------------

  /** State/return validation for aggregates: the scalar return types. */
  private def requireSupportedAggType(role: String, dt: DataType): Unit =
    if (!isSupportedReturnType(dt)) {
      throw new AdhesiveException(
        s"aggregate $role type ${dt.sql} not supported (to be added); " +
          SupportedReturnTypesMsg)
    }

  def registerJavaSourceAggregate(
      spark: SparkSession,
      name: String,
      source: String,
      argTypes: Seq[DataType],
      returnType: DataType,
      stateType: Option[DataType] = None,
      deterministic: Boolean = false): Unit = {
    requireSupportedAggType("return", returnType)
    stateType.foreach(requireSupportedAggType("state", _))
    val (fqn, bytecode) = compiled("java", source)
    AdhesiveInstances.aggregateInstance(fqn, bytecode) // eager validation
    registerAggregate(spark, name, fqn, bytecode, argTypes, returnType,
      stateType.getOrElse(returnType), deterministic = deterministic)
  }

  def registerScalaSourceAggregate(
      spark: SparkSession,
      name: String,
      source: String,
      argTypes: Seq[DataType],
      returnType: DataType,
      stateType: Option[DataType] = None,
      deterministic: Boolean = false): Unit = {
    requireSupportedAggType("return", returnType)
    stateType.foreach(requireSupportedAggType("state", _))
    val (fqn, bytecode) = compiled("scala", source)
    AdhesiveInstances.aggregateInstance(fqn, bytecode)
    registerAggregate(spark, name, fqn, bytecode, argTypes, returnType,
      stateType.getOrElse(returnType), deterministic = deterministic)
  }

  def registerClassAggregate(
      spark: SparkSession,
      name: String,
      className: String,
      argTypes: Seq[DataType],
      returnType: DataType,
      stateType: Option[DataType] = None,
      jarPath: Option[String] = None,
      deterministic: Boolean = false): Unit = {
    requireSupportedAggType("return", returnType)
    stateType.foreach(requireSupportedAggType("state", _))
    AdhesiveInstances.aggregateInstance(className, Map.empty, jarPath)
    registerAggregate(spark, name, className, Map.empty, argTypes, returnType,
      stateType.getOrElse(returnType), jarPath, deterministic = deterministic)
  }

  private def registerAggregate(
      spark: SparkSession,
      name: String,
      fqn: String,
      bytecode: Map[String, Array[Byte]],
      argTypes: Seq[DataType],
      returnType: DataType,
      stateType: DataType,
      jarPath: Option[String] = None,
      deterministic: Boolean = false): Unit = {
    val bridge = new AdhesiveAggregatorBridge(name, fqn, bytecode, stateType,
      returnType, jarPath)
    val primitiveState = AdhesiveArgRow.isPrimitive(stateType)
    // Registered through the same expression-builder seam as the scalar
    // and table variants, so call arguments get StrictArg exactness
    // (Signature::exact, src/fusion.rs:72) instead of Spark's standard
    // UDAF coercion — `agg_fn('12.34', ...)` is a plan-time error exactly
    // like its scalar twin.
    val builder = (exprs: Seq[Expression]) => {
      val checked = checkedArgs("aggregate function", name, argTypes, exprs)
      // Return the BARE AggregateFunction (no .toAggregateExpression()):
      // the analyzer wraps it itself, which is what lets the call-site
      // DISTINCT / FILTER (WHERE ...) modifiers apply — a pre-wrapped
      // AggregateExpression would reject both with
      // FUNCTION_WITH_UNSUPPORTED_SYNTAX.
      // isDeterministic follows the DDL flag, same contract as the
      // scalar path: absent DETERMINISTIC = volatile (never CSE'd or
      // re-planned on the assumption of repeatable results; Spark plans
      // nondeterministic aggregate functions fine — only scalar
      // expressions are restricted). Declared DETERMINISTIC opts in.
      // A variable-length state in a fixed-width buffer would force
      // SortAggregate, so any other STATE is held as an object.
      if (primitiveState) AdhesiveImperativeAggregate(bridge, checked, deterministic): Expression
      else AdhesiveObjectAggregate(bridge, checked, deterministic): Expression
    }
    spark.asInstanceOf[ClassicSparkSession]
      .sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "java_udf")
  }

  // ---------------------------------------------------------------------
  // CREATE TABLE FUNCTION — the third UDF variant on the same seam. The
  // data path is an AdhesiveCall returning ARRAY<STRUCT<outSchema>> wrapped
  // in an Inline generator over OneRowRelation: the analyzer resolves the
  // generator output to the declared TABLE columns, FROM-clause calls
  // evaluate over literals, and LATERAL calls correlate to the outer
  // query — all executing inside the stage like a built-in generator.
  // ---------------------------------------------------------------------

  def registerJavaSourceTableFunction(
      spark: SparkSession,
      name: String,
      source: String,
      argTypes: Seq[DataType],
      outSchema: StructType): Unit = {
    val (fqn, bytecode) = compiled("java", source)
    AdhesiveInstances.tableInstance(fqn, bytecode) // eager DDL validation
    registerTableFunction(spark, name, fqn, bytecode, argTypes, outSchema)
  }

  def registerScalaSourceTableFunction(
      spark: SparkSession,
      name: String,
      source: String,
      argTypes: Seq[DataType],
      outSchema: StructType): Unit = {
    val (fqn, bytecode) = compiled("scala", source)
    AdhesiveInstances.tableInstance(fqn, bytecode)
    registerTableFunction(spark, name, fqn, bytecode, argTypes, outSchema)
  }

  def registerClassTableFunction(
      spark: SparkSession,
      name: String,
      className: String,
      argTypes: Seq[DataType],
      outSchema: StructType,
      jarPath: Option[String] = None): Unit = {
    AdhesiveInstances.tableInstance(className, Map.empty, jarPath)
    registerTableFunction(spark, name, className, Map.empty, argTypes,
      outSchema, jarPath)
  }

  private def registerTableFunction(
      spark: SparkSession,
      name: String,
      fqn: String,
      bytecode: Map[String, Array[Byte]],
      argTypes: Seq[DataType],
      outSchema: StructType,
      jarPath: Option[String] = None): Unit = {
    val callFn: Row => Any = new AdhesiveTableUdf(name, fqn, bytecode, jarPath)
    val builder = (exprs: Seq[Expression]) => {
      val checked = checkedArgs("table function", name, argTypes, exprs)
      val udf = AdhesiveCall(callFn, ArrayType(outSchema, containsNull = false),
        checked, name,
        nullable = true, // null/empty list ⇒ no rows (Generate, not outer)
        // table functions are deterministic BY CONTRACT (unlike the
        // scalar path's volatile-parity default): the analyzer rejects
        // nondeterministic lateral subqueries outright
        // (NON_DETERMINISTIC_LATERAL_SUBQUERIES), and LATERAL is the
        // variant's main use — eval must be pure (AdhesiveTableFunction
        // scaladoc)
        udfDeterministic = true)
      Generate(Inline(udf), unrequiredChildIndex = Nil, outer = false,
        qualifier = None, generatorOutput = Nil,
        child = OneRowRelation()): LogicalPlan
    }
    spark.asInstanceOf[ClassicSparkSession]
      .sessionState.tableFunctionRegistry
      .createOrReplaceTempFunction(name, builder, "java_udf")
  }
}
