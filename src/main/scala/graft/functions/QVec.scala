package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, NullType}

/** Native fused forms of the quantized-vector arithmetic in
  * graft.ext.Similarity (exact integer dot product, squared L2 norm,
  * squared L2 distance over array<bigint>).
  *
  * The composed higher-order-function forms —
  * `aggregate(zip_with(a, b, (x, y) => x*y), 0L, (acc, x) => acc + x)`
  * — are the ANN battery's dominant CPU sink: HOF lambdas do not
  * participate in whole-stage codegen, so every candidate pair pays an
  * interpreted per-element loop plus a materialized intermediate array
  * (zip_with) per evaluation (measured: q_ann_pq_recall burned ~40
  * process-CPU-seconds at sf0.1 for a 512-vector fixture). These
  * expressions evaluate as ONE static call over the unsafe array data —
  * no intermediate array, no lambda dispatch — inside the generated
  * loop (and are equally cheap interpreted, where they appear nested
  * inside other HOF lambdas, e.g. ivfAssign's per-centroid argmax).
  *
  * Null semantics MIRROR the composed form exactly, so swapping them in
  * changes no result: `zip_with` pads length-mismatched arrays with
  * nulls and `x*y`/`acc+x` null-propagate, so the composed dot yields
  * NULL when the lengths differ or any scanned element is null; the
  * same holds for the norm (any null element) and distance. Sums are
  * exact integer left-to-right — identical values, identical hashes.
  */
object QVec {

  /** null-mirror: java.lang.Long so the scanned-null / length-mismatch
    * cases can return null exactly like the HOF form. */
  def dot(a: ArrayData, b: ArrayData): java.lang.Long = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += a.getLong(i) * b.getLong(i)
      i += 1
    }
    acc
  }

  def norm2(a: ArrayData): java.lang.Long = {
    val n = a.numElements()
    var acc = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return null
      val x = a.getLong(i)
      acc += x * x
      i += 1
    }
    acc
  }

  def d2(a: ArrayData, b: ArrayData): java.lang.Long = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val d = a.getLong(i) - b.getLong(i)
      acc += d * d
      i += 1
    }
    acc
  }
}

private[functions] object QVecTypeCheck {
  /** Analysis-time input check: the registered SQL forms
    * (graft_qdot/graft_qnorm2/graft_qd2) would otherwise pass analysis
    * over array<int>/array<double> (or a non-array) and then read
    * misaligned bytes via ArrayData.getLong — silent wrong results or
    * a runtime error instead of an analysis-time type error.
    * (ExpectsInputTypes is not implementable outside Spark —
    * AbstractDataType is private[sql] — so the check is hand-rolled;
    * element nullability and an untyped NULL argument are accepted,
    * matching the null-mirroring evaluation.)
    */
  def check(fn: String, children: Seq[Expression]): TypeCheckResult = {
    def accepted(t: DataType): Boolean = t match {
      case ArrayType(LongType, _) | NullType => true
      case _ => false
    }
    val bad = children.zipWithIndex.collectFirst {
      case (c, i) if !accepted(c.dataType) =>
        s"argument ${i + 1} of $fn requires array<bigint>, got " +
          c.dataType.catalogString
    }
    bad.map(TypeCheckResult.TypeCheckFailure)
      .getOrElse(TypeCheckResult.TypeCheckSuccess)
  }
}

private[functions] trait QVecBinary extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    QVecTypeCheck.check(prettyName, Seq(left, right))

  /** Fully-qualified static method implementing this expression. */
  protected def staticCall: String

  protected def evalArrays(a: ArrayData, b: ArrayData): java.lang.Long

  override protected def nullSafeEval(a: Any, b: Any): Any =
    evalArrays(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  // an untyped NULL argument binds no ArrayData parameter of the static
  // call: generate the NULL result directly, as eval does
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    if (children.exists(_.dataType == NullType)) ExprCode.forNullValue(dataType)
    else nullSafeCodeGen(ctx, ev, (a, b) => {
      s"""
         |java.lang.Long ${ev.value}_r = $staticCall($a, $b);
         |if (${ev.value}_r == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = ${ev.value}_r.longValue();
         |}
       """.stripMargin
    })
}

/** Exact integer dot product of two quantized vectors (array<bigint>). */
case class QDot(left: Expression, right: Expression) extends QVecBinary {
  override protected def staticCall: String = "graft.functions.QVec.dot"
  override protected def evalArrays(a: ArrayData, b: ArrayData): java.lang.Long =
    QVec.dot(a, b)
  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(left = newLeft, right = newRight)
}

/** Exact integer squared L2 distance of two quantized vectors. */
case class QD2(left: Expression, right: Expression) extends QVecBinary {
  override protected def staticCall: String = "graft.functions.QVec.d2"
  override protected def evalArrays(a: ArrayData, b: ArrayData): java.lang.Long =
    QVec.d2(a, b)
  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(left = newLeft, right = newRight)
}

/** Exact integer squared L2 norm of a quantized vector. */
case class QNorm2(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  // see QVecTypeCheck — same misaligned-read hazard via the registered
  // graft_qnorm2 SQL form
  override def checkInputDataTypes(): TypeCheckResult =
    QVecTypeCheck.check(prettyName, Seq(child))

  override protected def nullSafeEval(input: Any): Any =
    QVec.norm2(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    if (child.dataType == NullType) ExprCode.forNullValue(dataType)
    else nullSafeCodeGen(ctx, ev, a => {
      s"""
         |java.lang.Long ${ev.value}_r = graft.functions.QVec.norm2($a);
         |if (${ev.value}_r == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = ${ev.value}_r.longValue();
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
