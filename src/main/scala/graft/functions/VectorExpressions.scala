package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst expressions for the vector-distance hot path.
  *
  * The composable form (`zip_with` + `aggregate`, see [[VectorOps]])
  * allocates an intermediate array and interprets a lambda per element;
  * on the all-pairs similarity operators that is the dominant cost. These
  * expressions generate a tight primitive loop inside whole-stage codegen
  * instead — same semantics as the higher-order form and the DuckDB
  * oracle, including the degenerate cases:
  *
  *  - children are typed `array<double>` at ANALYSIS time
  *    (`checkInputDataTypes`) — an un-cast `array<float>` fails the query
  *    instead of reinterpreting bytes;
  *  - a length mismatch or a null element yields NULL (the HOF form's
  *    null-padded/poisoned accumulator), never a silent prefix result;
  *    the per-element null check is generated ONLY when the child type's
  *    `containsNull` says it can happen, so clean-typed inputs keep the
  *    branch-free loop.
  *
  * Accumulation is sequential left-to-right in double, so results are
  * bit-identical to the higher-order form and the oracle.
  */
private[functions] object VectorExprGen {
  def mayHaveNullElements(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].containsNull

  /** array<double> input validation at analysis time — an un-cast
    * array<float> fails the query instead of reinterpreting bytes.
    */
  def checkDoubleArrays(name: String,
                        children: Seq[Expression]): TypeCheckResult = {
    val bad = children.filterNot(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (bad.isEmpty) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$name expects array<double> inputs, got " +
        bad.map(_.dataType.catalogString).mkString(", "))
  }
}

case class ArrayDot(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    VectorExprGen.checkDoubleArrays(prettyName, Seq(left, right))
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  private lazy val checkNulls =
    VectorExprGen.mayHaveNullElements(left) ||
      VectorExprGen.mayHaveNullElements(right)
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var s = 0.0
    var i = 0
    while (i < n) {
      if (checkNulls && (x.isNullAt(i) || y.isNullAt(i))) return null
      s += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    s
  }
  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val nullCheck =
        if (checkNulls)
          s"if ($x.isNullAt($i) || $y.isNullAt($i)) { ${ev.isNull} = true; break; }"
        else ""
      s"""
         |int $n = $x.numElements();
         |if ($n != $y.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $nullCheck
         |    $acc += $x.getDouble($i) * $y.getDouble($i);
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ArrayDot =
    copy(left = newLeft, right = newRight)
}

/** ‖a − b‖² with the same sequential accumulation as the HOF form. */
case class ArraySquaredL2(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    VectorExprGen.checkDoubleArrays(prettyName, Seq(left, right))
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  private lazy val checkNulls =
    VectorExprGen.mayHaveNullElements(left) ||
      VectorExprGen.mayHaveNullElements(right)
  override def nullSafeEval(a: Any, b: Any): Any =
    ArraySquaredL2.kernel(a.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData], checkNulls)
  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val d = ctx.freshName("d")
      val acc = ctx.freshName("acc")
      val nullCheck =
        if (checkNulls)
          s"if ($x.isNullAt($i) || $y.isNullAt($i)) { ${ev.isNull} = true; break; }"
        else ""
      s"""
         |int $n = $x.numElements();
         |if ($n != $y.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $nullCheck
         |    double $d = $x.getDouble($i) - $y.getDouble($i);
         |    $acc += $d * $d;
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ArraySquaredL2 =
    copy(left = newLeft, right = newRight)
}

object ArraySquaredL2 {
  /** The interpreted form of the expression: ‖x − y‖² accumulated left to
    * right in double, or null on a length mismatch or (when `checkNulls`)
    * a null element. Driver-side code that must agree bit for bit with a
    * distributed distance (the small-Q probe, the PQ lookup tables) calls
    * this same loop.
    */
  def kernel(x: ArrayData, y: ArrayData, checkNulls: Boolean): Any = {
    val n = x.numElements()
    if (n != y.numElements()) return null
    var s = 0.0
    var i = 0
    while (i < n) {
      if (checkNulls && (x.isNullAt(i) || y.isNullAt(i))) return null
      val d = x.getDouble(i) - y.getDouble(i)
      s += d * d
      i += 1
    }
    s
  }
}

/** v / ‖v‖₂ in one pass. The `transform`-based form re-evaluates the norm
  * subtree for every element (O(d²) per row); this computes it once.
  * Arithmetic per element is x_i / sqrt(Σx²) exactly like the HOF form, so
  * outputs are bit-identical; a null element yields NULL (HOF parity).
  */
case class ArrayL2Normalize(child: Expression)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    VectorExprGen.checkDoubleArrays(prettyName, Seq(child))
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true
  private lazy val checkNulls = VectorExprGen.mayHaveNullElements(child)
  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    var s = 0.0
    var i = 0
    while (i < n) {
      if (checkNulls && x.isNullAt(i)) return null
      val v = x.getDouble(i)
      s += v * v
      i += 1
    }
    val norm = math.sqrt(s)
    val out = new Array[Double](n)
    i = 0
    while (i < n) { out(i) = x.getDouble(i) / norm; i += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val v = ctx.freshName("v")
      val norm = ctx.freshName("norm")
      val out = ctx.freshName("out")
      val nullCheck =
        if (checkNulls)
          s"if ($x.isNullAt($i)) { ${ev.isNull} = true; break; }"
        else ""
      s"""
         |int $n = $x.numElements();
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $nullCheck
         |  double $v = $x.getDouble($i);
         |  $s += $v * $v;
         |}
         |if (!${ev.isNull}) {
         |  double $norm = java.lang.Math.sqrt($s);
         |  double[] $out = new double[$n];
         |  for (int $i = 0; $i < $n; $i++) {
         |    $out[$i] = $x.getDouble($i) / $norm;
         |  }
         |  ${ev.value} =
         |    new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
         |}
       """.stripMargin
    })
  override protected def withNewChildInternal(c: Expression): ArrayL2Normalize =
    copy(child = c)
}
