package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType, LongType}

/** Native Catalyst expression: Σ aᵢ·bᵢ over two float/double array columns in
  * double precision, sequential accumulation — numerically identical to the
  * `zip_with`+`aggregate` higher-order form, but with `doGenCode` emitting a
  * tight primitive loop instead of per-element interpreted lambda dispatch
  * (HOFs never participate in whole-stage codegen). On the ANN paths this is
  * the per-pair inner kernel, so the constant factor is the throughput.
  *
  * Mismatched lengths yield NULL — the same answer the HOF form gives
  * (`zip_with` null-pads, so its `aggregate` folds a null), keeping the
  * bitwise-equivalence claim total rather than equal-dims-only; a silent
  * truncation would hand callers a plausible-looking wrong dot product.
  */
case class DotProduct(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true

  private def elemIsFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(e: Expression): Boolean = e.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left) && ok(right))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"dot_product expects array<float|double>, got ${left.dataType} / ${right.dataType}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val xs = a.asInstanceOf[ArrayData]
    val ys = b.asInstanceOf[ArrayData]
    if (xs.numElements() != ys.numElements()) return null
    val n = xs.numElements()
    var acc = 0.0
    var i = 0
    if (elemIsFloat(left) && elemIsFloat(right)) {
      while (i < n) { acc += xs.getFloat(i).toDouble * ys.getFloat(i).toDouble; i += 1 }
    } else if (elemIsFloat(left)) {
      while (i < n) { acc += xs.getFloat(i).toDouble * ys.getDouble(i); i += 1 }
    } else if (elemIsFloat(right)) {
      while (i < n) { acc += xs.getDouble(i) * ys.getFloat(i).toDouble; i += 1 }
    } else {
      while (i < n) { acc += xs.getDouble(i) * ys.getDouble(i); i += 1 }
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      def get(arr: String, e: Expression): String =
        if (elemIsFloat(e)) s"(double) $arr.getFloat($i)" else s"$arr.getDouble($i)"
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $a.numElements();
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $acc += ${get(a, left)} * ${get(b, right)};
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression,
      newRight: Expression): DotProduct = copy(left = newLeft, right = newRight)
}

/** Native Catalyst expression: Σ aᵢ·bᵢ over two int-array columns,
  * accumulated in LONG — the integer-dot kernel of the int8-quantized ANN
  * path. Each int8 product is ≤ 127², so a long accumulator is exact at any
  * realistic dimension; the result is bitwise-identical to the
  * `zip_with`+`aggregate` higher-order form (spec-pinned), but `doGenCode`
  * emits a tight primitive loop where the HOF pays per-element interpreted
  * lambda dispatch OUTSIDE whole-stage codegen — on the quantized path this
  * per-pair kernel IS the throughput, and the quantized path must be the
  * fast one.
  *
  * Mismatched lengths yield NULL, matching the HOF counterpart (`zip_with`
  * null-pads ⇒ the fold is null) — see [[DotProduct]] for why truncation
  * would be a trap.
  */
case class IntDotProduct(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(e: Expression): Boolean = e.dataType match {
      case ArrayType(IntegerType, _) => true
      case _ => false
    }
    if (ok(left) && ok(right))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"int_dot_product expects array<int>, got ${left.dataType} / ${right.dataType}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val xs = a.asInstanceOf[ArrayData]
    val ys = b.asInstanceOf[ArrayData]
    if (xs.numElements() != ys.numElements()) return null
    val n = xs.numElements()
    var acc = 0L
    var i = 0
    while (i < n) { acc += xs.getInt(i).toLong * ys.getInt(i).toLong; i += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $a.numElements();
         |  long $acc = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $acc += (long) $a.getInt($i) * (long) $b.getInt($i);
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression,
      newRight: Expression): IntDotProduct = copy(left = newLeft, right = newRight)
}

/** Native Catalyst expression fusing the int8 ANN prep into one compiled
  * kernel: unit-normalize (sequential-sum L2 norm, zero-norm vectors pass
  * through), symmetric int8 quantize (`⌊uᵢ · 127/max|u| + ½⌋`, zero-max →
  * scale 1). Bitwise-identical to the staged HOF formulation
  * `quantizeInt8(unitNormalize(df))` — same double operations in the same
  * order — but the HOF chain pays three interpreted lambda transforms per
  * ROW on the corpus scan, which at 100 TB is the scan throughput. Null
  * ELEMENTS (never produced by real embedding columns) follow the HOF's
  * effective columnar semantics: they contribute 0 to the norm/max and
  * stay null in the codes (boxed slow path).
  */
case class Int8UnitCodes(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = true)
  override def nullIntolerant: Boolean = true

  private def elemIsFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"int8_unit_codes expects array<float|double>, got $other")
    }

  override def nullSafeEval(a: Any): Any =
    Int8UnitCodes.codes(a.asInstanceOf[ArrayData], elemIsFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val hasNull = ctx.freshName("hasNull")
      val acc = ctx.freshName("acc")
      val norm = ctx.freshName("norm")
      val u = ctx.freshName("u")
      val mx = ctx.freshName("mx")
      val ax = ctx.freshName("ax")
      val scale = ctx.freshName("scale")
      val q = ctx.freshName("q")
      val get =
        if (elemIsFloat) s"(double) $a.getFloat($i)" else s"$a.getDouble($i)"
      s"""
         |int $n = $a.numElements();
         |boolean $hasNull = false;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i)) { $hasNull = true; break; }
         |}
         |if ($hasNull) {
         |  ${ev.value} = graft.functions.Int8UnitCodes.codes($a, $elemIsFloat);
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) { double v = $get; $acc += v * v; }
         |  double $norm = java.lang.Math.sqrt($acc);
         |  double[] $u = new double[$n];
         |  double $mx = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    double v = $get;
         |    $u[$i] = ($norm == 0.0) ? v : v / $norm;
         |    double $ax = java.lang.Math.abs($u[$i]);
         |    if (java.lang.Double.compare($ax, $mx) > 0) $mx = $ax;
         |  }
         |  double $scale = ($mx == 0.0) ? 1.0 : 127.0 / $mx;
         |  int[] $q = new int[$n];
         |  for (int $i = 0; $i < $n; $i++) {
         |    $q[$i] = (int) java.lang.Math.floor($u[$i] * $scale + 0.5);
         |  }
         |  ${ev.value} =
         |    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($q);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Int8UnitCodes =
    copy(child = newChild)
}

object Int8UnitCodes {

  /** Shared interpreted kernel (also the codegen null-element slow path). */
  def codes(a: ArrayData, elemIsFloat: Boolean): ArrayData = {
    val n = a.numElements()
    def get(i: Int): Double = if (elemIsFloat) a.getFloat(i).toDouble else a.getDouble(i)
    var acc = 0.0
    var i = 0
    while (i < n) { if (!a.isNullAt(i)) { val v = get(i); acc += v * v }; i += 1 }
    val norm = math.sqrt(acc)
    val u = new Array[Double](n)
    val isNull = new Array[Boolean](n)
    var mx = 0.0
    i = 0
    while (i < n) {
      if (a.isNullAt(i)) isNull(i) = true
      else {
        val v = get(i)
        u(i) = if (norm == 0.0) v else v / norm
        val ax = math.abs(u(i))
        if (java.lang.Double.compare(ax, mx) > 0) mx = ax
      }
      i += 1
    }
    val scale = if (mx == 0.0) 1.0 else 127.0 / mx
    if (isNull.exists(identity)) {
      val out = new Array[Any](n)
      i = 0
      while (i < n) {
        if (!isNull(i)) out(i) = math.floor(u(i) * scale + 0.5).toInt
        i += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    } else {
      val q = new Array[Int](n)
      i = 0
      while (i < n) { q(i) = math.floor(u(i) * scale + 0.5).toInt; i += 1 }
      org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(q)
    }
  }
}

object VectorExpressions {

  /** Column wrapper: codegen'd dot product. */
  def dotProduct(a: Column, b: Column): Column =
    GraftColumnBridge.column(
      DotProduct(GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))

  /** Column wrapper: codegen'd integer dot product (long accumulator). */
  def intDotProduct(a: Column, b: Column): Column =
    GraftColumnBridge.column(
      IntDotProduct(GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))

  /** Column wrapper: fused unit-normalize + int8-quantize codes. */
  def int8UnitCodes(a: Column): Column =
    GraftColumnBridge.column(Int8UnitCodes(GraftColumnBridge.expression(a)))
}
