package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/** Compiled vector primitives for the embedding-similarity operators.
  *
  * The original formulation used Spark higher-order functions
  * (`aggregate(zip_with(a, b, (x, y) => x * y), 0.0, acc + v)`): HOF lambdas
  * evaluate INTERPRETED per array element, so one 64-dim cosine cost ~200
  * boxed lambda invocations. These expressions compute the identical values
  * (same element order, same double accumulation sequence, same
  * `d == 0 → 0.0` guard) in one compiled loop, and emit a static call under
  * whole-stage codegen so the surrounding join/filter stages stay fused.
  *
  * Float inputs are widened per element exactly like `x.cast("double")`
  * (float→double is exact), so results are bit-identical to the HOF form.
  */
object VectorExprs {

  private def elemIsFloat(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  private def checkArray(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }

  private def get(arr: ArrayData, i: Int, isFloat: Boolean): Double =
    if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)

  private[functions] def hasNull(arr: ArrayData): Boolean = {
    var i = 0
    while (i < arr.numElements()) { if (arr.isNullAt(i)) return true; i += 1 }
    false
  }

  private def sumSq(arr: ArrayData, isFloat: Boolean): Double = {
    var s = 0.0
    var i = 0
    while (i < arr.numElements()) { val x = get(arr, i, isFloat); s += x * x; i += 1 }
    s
  }

  /** Where the higher-order-function form is NULL: a null slot nulls its
    * array's norm, and ragged arrays null the dot product (`zip_with` pads
    * the shorter with nulls), which only the zero-norm guard overrides.
    */
  def cosineIsNull(a: ArrayData, b: ArrayData, aFloat: Boolean, bFloat: Boolean): Boolean =
    hasNull(a) || hasNull(b) ||
      (a.numElements() != b.numElements() &&
        math.sqrt(sumSq(a, aFloat)) * math.sqrt(sumSq(b, bFloat)) != 0.0)

  /** `((0 + a0*b0) + a1*b1) + …` then `sqrt` norms — the exact accumulation
    * order of `aggregate(zip_with(...))`, so doubles match bit-for-bit.
    * Defined where [[cosineIsNull]] is false.
    */
  def cosine(a: ArrayData, b: ArrayData, aFloat: Boolean, bFloat: Boolean): Double = {
    // a ragged pair gets here only when a norm is zero
    if (a.numElements() != b.numElements()) return 0.0
    val n = a.numElements()
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = get(a, i, aFloat)
      val y = get(b, i, bFloat)
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    val d = math.sqrt(na) * math.sqrt(nb)
    if (d == 0.0) 0.0 else dot / d
  }

  /** Sign-bucket of `vec` against precomputed ±1 hyperplanes: bit b set iff
    * the sequential dot product with plane b is >= 0 — the same projection
    * accumulation order as the HOF form in [[VectorFunctions.signBucket]].
    */
  def signBucket(vec: ArrayData, planes: Array[Array[Double]], isFloat: Boolean): Long = {
    var out = 0L
    var b = 0
    while (b < planes.length) {
      val p = planes(b)
      val n = math.min(vec.numElements(), p.length)
      var proj = 0.0
      var i = 0
      while (i < n) { proj += get(vec, i, isFloat) * p(i); i += 1 }
      if (proj >= 0) out |= (1L << b)
      b += 1
    }
    out
  }

  def cosineCol(a: Column, b: Column): Column =
    GraftBridge.column(CosineSimExpr(GraftBridge.expression(a), GraftBridge.expression(b)))

  def signBucketCol(vec: Column, planes: IndexedSeq[Seq[Double]]): Column =
    GraftBridge.column(SignBucketExpr(GraftBridge.expression(vec),
      planes.map(_.toVector).toVector))

  private[functions] def typeCheck(ok: Boolean, got: => String) = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"expected array<float|double>, got $got")
  }

  private[functions] def isFloatArr(dt: DataType): Boolean = elemIsFloat(dt)
  private[functions] def isNumArr(dt: DataType): Boolean = checkArray(dt)
}

/** Cosine similarity of two numeric arrays (compiled; see [[VectorExprs]]).
  * NULL where the higher-order-function form is ([[VectorExprs.cosineIsNull]]).
  */
case class CosineSimExpr(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def checkInputDataTypes() =
    VectorExprs.typeCheck(
      VectorExprs.isNumArr(left.dataType) && VectorExprs.isNumArr(right.dataType),
      s"(${left.dataType}, ${right.dataType})")

  private lazy val aFloat = VectorExprs.isFloatArr(left.dataType)
  private lazy val bFloat = VectorExprs.isFloatArr(right.dataType)

  override def nullSafeEval(a: Any, b: Any): Any = {
    val (x, y) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    if (VectorExprs.cosineIsNull(x, y, aFloat, bFloat)) null
    else VectorExprs.cosine(x, y, aFloat, bFloat)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""${ev.isNull} = graft.functions.VectorExprs.cosineIsNull($a, $b, $aFloat, $bFloat);
         |if (!${ev.isNull}) {
         |  ${ev.value} = graft.functions.VectorExprs.cosine($a, $b, $aFloat, $bFloat);
         |}""".stripMargin)

  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSimExpr =
    copy(left = l, right = r)
}

/** Random-hyperplane sign bucket (compiled; planes ride as a plan reference
  * object — see [[VectorExprs.signBucket]]).
  */
case class SignBucketExpr(child: Expression, planes: Vector[Vector[Double]])
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes() =
    VectorExprs.typeCheck(VectorExprs.isNumArr(child.dataType), child.dataType.toString)

  private lazy val isFloat = VectorExprs.isFloatArr(child.dataType)
  @transient private lazy val planesArr: Array[Array[Double]] =
    planes.map(_.toArray).toArray

  override def nullSafeEval(v: Any): Any =
    VectorExprs.signBucket(v.asInstanceOf[ArrayData], planesArr, isFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("planes", planesArr, "double[][]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.VectorExprs.signBucket($c, $ref, $isFloat)")
  }

  override protected def withNewChildInternal(newChild: Expression): SignBucketExpr =
    copy(child = newChild)
}
