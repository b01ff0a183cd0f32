package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Cosine similarity between two float/double vectors as a native Catalyst
  * expression with whole-stage codegen — one fused loop computing dot
  * product and both norms, no intermediate arrays, no UDF boxing. This is
  * the hot inner operation of the similarity-search operators; at 100 TB a
  * Scala UDF here would box two arrays per row-pair, while this compiles to
  * a tight primitive loop inside the generated stage.
  *
  * Math note: elements are widened to double and accumulated in index
  * order, so results are bit-identical to an equivalent sequential-sum SQL
  * formulation (which the DuckDB oracles use). Returns null when either
  * vector has zero norm or lengths differ.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  private def elemType(e: Expression): Option[DataType] = e.dataType match {
    case ArrayType(t @ (FloatType | DoubleType), _) => Some(t)
    case _                                          => None
  }

  override def checkInputDataTypes(): TypeCheckResult =
    (elemType(left), elemType(right)) match {
      case (Some(a), Some(b)) if a == b => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"cosine_similarity expects two arrays of float or double with the " +
          s"same element type, got ${left.dataType.sql} and ${right.dataType.sql}")
    }

  private lazy val isFloat = elemType(left).contains(FloatType)

  // null-ELEMENT handling: a null slot would NPE the interpreted path and
  // read a stale 0.0 on the unsafe codegen path. The check is emitted
  // only when the schema admits null elements, so containsNull=false
  // arrays keep the branch-free loop.
  private lazy val mayHaveNullElems = Seq(left, right).exists(_.dataType match {
    case ArrayType(_, cn) => cn
    case _                => false
  })

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements()) return null
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      if (mayHaveNullElems && (a.isNullAt(i) || b.isNullAt(i))) return null
      val x = if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (isFloat) b.getFloat(i).toDouble else b.getDouble(i)
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) null
    else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val getter = if (isFloat) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val nullElemCheck =
        if (mayHaveNullElems)
          s"if ($a.isNullAt(i) || $b.isNullAt(i)) { ${ev.isNull} = true; break; }"
        else ""
      s"""
       |int n = $a.numElements();
       |if (n != $b.numElements()) {
       |  ${ev.isNull} = true;
       |} else {
       |  double dot = 0.0, na = 0.0, nb = 0.0;
       |  for (int i = 0; i < n; i++) {
       |    $nullElemCheck
       |    double x = (double) $a.$getter(i);
       |    double y = (double) $b.$getter(i);
       |    dot += x * y; na += x * x; nb += y * y;
       |  }
       |  if (!${ev.isNull}) {
       |    if (na == 0.0 || nb == 0.0) {
       |      ${ev.isNull} = true;
       |    } else {
       |      ${ev.value} = dot / (java.lang.Math.sqrt(na) * java.lang.Math.sqrt(nb));
       |    }
       |  }
       |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

/** Squared L2 distance over one subspace [start, start+len) of two
  * float/double vectors — the product-quantization kernel (codebook
  * assignment and ADC LUT construction both reduce to it). A native
  * codegen expression for the same reason as [[CosineSimilarity]]: the
  * `aggregate(sequence(...))` higher-order-function formulation is
  * CodegenFallback (interpreted per row, allocating a lambda frame per
  * element), while this compiles to a tight primitive loop. Elements are
  * widened to double and accumulated in index order — bit-identical to
  * the sequential-sum SQL the DuckDB oracles replay. Null when either
  * vector is too short for the subspace.
  */
case class SubspaceSqDist(left: Expression, right: Expression,
    start: Int, len: Int) extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  private def elemType(e: Expression): Option[DataType] = e.dataType match {
    case ArrayType(t @ (FloatType | DoubleType), _) => Some(t)
    case _                                          => None
  }

  override def checkInputDataTypes(): TypeCheckResult =
    (elemType(left), elemType(right)) match {
      // negative start/len would pass the runtime length guard and then
      // perform unchecked unsafe reads BEFORE the array base — reject at
      // analysis, not with garbage distances
      case _ if start < 0 || len < 0 => TypeCheckResult.TypeCheckFailure(
        s"subspace_sqdist requires start >= 0 and len >= 0, got [$start, $len)")
      case (Some(a), Some(b)) if a == b => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"subspace_sqdist expects two arrays of float or double with the " +
          s"same element type, got ${left.dataType.sql} and ${right.dataType.sql}")
    }

  private lazy val isFloat = elemType(left).contains(FloatType)

  // see CosineSimilarity: only emitted when the schema admits null slots
  private lazy val mayHaveNullElems = Seq(left, right).exists(_.dataType match {
    case ArrayType(_, cn) => cn
    case _                => false
  })

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    if (a.numElements() < start + len || b.numElements() < start + len)
      return null
    var acc = 0.0
    var i = start
    while (i < start + len) {
      if (mayHaveNullElems && (a.isNullAt(i) || b.isNullAt(i))) return null
      val x = if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (isFloat) b.getFloat(i).toDouble else b.getDouble(i)
      val d = x - y
      acc += d * d
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val getter = if (isFloat) "getFloat" else "getDouble"
    val end = start + len
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val nullElemCheck =
        if (mayHaveNullElems)
          s"if ($a.isNullAt(i) || $b.isNullAt(i)) { ${ev.isNull} = true; break; }"
        else ""
      s"""
       |if ($a.numElements() < $end || $b.numElements() < $end) {
       |  ${ev.isNull} = true;
       |} else {
       |  double acc = 0.0;
       |  for (int i = $start; i < $end; i++) {
       |    $nullElemCheck
       |    double d = (double) $a.$getter(i) - (double) $b.$getter(i);
       |    acc += d * d;
       |  }
       |  if (!${ev.isNull}) { ${ev.value} = acc; }
       |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SubspaceSqDist =
    copy(left = newLeft, right = newRight)
}

/** Random-hyperplane LSH bucket id: the sign pattern of `planes` dot
  * products against the deterministic integer hyperplane family
  * w(p, j) = ((7p + 11j + 3pj) mod 19) − 9, packed into a long. One codegen'd
  * pass computes all planes (the HOF formulation folds the array once per
  * plane, interpreted); per-plane accumulation is sequential in j with
  * double arithmetic, so bucket ids are bit-identical to the
  * list_sum-per-plane replay the DuckDB oracles use. Null for arrays
  * shorter than `dim`.
  */
case class LshBucket(child: Expression, planes: Int, dim: Int)
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    // planes > 64 would wrap 1L << p (p mod 64) and silently alias
    // distinct sign patterns onto the same bucket bits
    case _ if planes < 1 || planes > 64 => TypeCheckResult.TypeCheckFailure(
      s"lsh_bucket requires 1 <= planes <= 64, got $planes")
    case _ if dim < 1 => TypeCheckResult.TypeCheckFailure(
      s"lsh_bucket requires dim >= 1, got $dim")
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"lsh_bucket expects an array of float or double, got ${t.sql}")
  }

  private lazy val isFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  // see CosineSimilarity: only emitted when the schema admits null slots
  private lazy val mayHaveNullElems = child.dataType match {
    case ArrayType(_, cn) => cn
    case _                => false
  }

  // The p*j cross-term and a modulus larger than the plane count are both
  // load-bearing: any weight LINEAR in p under a modulus m < planes makes
  // planes p and p+m identical hyperplanes (measured in SCALE.md
  // §"Similarity search", LSH bucket occupancy:
  // the old ((7p+11j)%5)-2 collapsed 8 planes to 5 distinct ones → 30
  // occupied buckets instead of ~256, 8.5x the promised occupancy)
  @inline private def weight(p: Int, j: Int): Double =
    ((7 * p + 11 * j + 3 * p * j) % 19) - 9

  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    if (a.numElements() < dim) return null
    var bucket = 0L
    var p = 0
    while (p < planes) {
      var dot = 0.0
      var j = 0
      while (j < dim) {
        if (mayHaveNullElems && a.isNullAt(j)) return null
        val x = if (isFloat) a.getFloat(j).toDouble else a.getDouble(j)
        dot += x * weight(p, j)
        j += 1
      }
      if (dot >= 0.0) bucket |= (1L << p)
      p += 1
    }
    bucket
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val getter = if (isFloat) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, a => {
      val nullScan =
        if (mayHaveNullElems)
          s"for (int j = 0; j < $dim; j++) { if ($a.isNullAt(j)) { ${ev.isNull} = true; break; } }"
        else ""
      s"""
       |if ($a.numElements() < $dim) {
       |  ${ev.isNull} = true;
       |} else {
       |  long bucket = 0L;
       |  $nullScan
       |  if (!${ev.isNull}) {
       |    for (int p = 0; p < $planes; p++) {
       |      double dot = 0.0;
       |      for (int j = 0; j < $dim; j++) {
       |        dot += (double) $a.$getter(j) * (double) (((7 * p + 11 * j + 3 * p * j) % 19) - 9);
       |      }
       |      if (dot >= 0.0) bucket |= (1L << p);
       |    }
       |    ${ev.value} = bucket;
       |  }
       |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): LshBucket =
    copy(child = newChild)
}

object VectorFunctions {
  /** Column-level API: `cosine_similarity($"a", $"b")`. */
  def cosine_similarity(a: Column, b: Column): Column =
    ColumnBridge.column(
      CosineSimilarity(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Column-level API: packed hyperplane-sign LSH bucket id. */
  def lsh_bucket(v: Column, planes: Int, dim: Int): Column =
    ColumnBridge.column(LshBucket(ColumnBridge.expression(v), planes, dim))

  /** Column-level API: squared L2 over [start, start+len) of two vectors. */
  def subspace_sqdist(a: Column, b: Column, start: Int, len: Int): Column =
    ColumnBridge.column(SubspaceSqDist(
      ColumnBridge.expression(a), ColumnBridge.expression(b), start, len))

  /** SQL registration: `SELECT cosine_similarity(a, b)`. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry.createOrReplaceTempFunction(
        "cosine_similarity",
        exprs => {
          // a proper arity error instead of IndexOutOfBoundsException
          require(exprs.length == 2,
            s"cosine_similarity expects 2 arguments, got ${exprs.length}")
          CosineSimilarity(exprs(0), exprs(1))
        },
        "scala_udf")
}
