package graft.functions.expressions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** One-pass vector similarity as a native Catalyst expression with
  * whole-stage codegen. Spark's higher-order functions (`aggregate`,
  * `zip_with`) are CodegenFallback — interpreted per row — which makes
  * them the bottleneck of similarity joins (millions of pairs × 64
  * dims). This expression compiles to a tight primitive loop.
  *
  * `mode`: "dot" | "cos" | "l2" (distance). Accumulation is
  * double-precision left-to-right, bit-identical to the higher-order
  * formulation in graft.functions.VectorFunctions (and to the DuckDB
  * oracle formulas), so swapping it in changes nothing but speed.
  */
object VectorSimExpr {
  val modes: Set[String] = Set("dot", "cos", "l2")
}

case class VectorSimExpr(left: Expression, right: Expression, mode: String)
    extends BinaryExpression {

  require(VectorSimExpr.modes(mode),
    s"unknown mode '$mode' (expected one of ${VectorSimExpr.modes.mkString("/")})")

  override def dataType: DataType = DoubleType
  // result is null for null input, null elements, or length mismatch —
  // exactly like the zip_with/aggregate formulation
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType | DoubleType, _),
            ArrayType(FloatType | DoubleType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName expects float/double arrays, got ($l, $r)")
    }

  private def elemIsFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val la = elemIsFloat(left); val lb = elemIsFloat(right)
    val n = a.numElements()
    // HOF parity: zip_with pads a length mismatch with nulls and a null
    // element nullifies the fold — both yield a NULL result
    if (b.numElements() != n) return null
    var dot = 0.0; var na = 0.0; var nb = 0.0; var l2 = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = if (la) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (lb) b.getFloat(i).toDouble else b.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      val d = x - y; l2 += d * d
      i += 1
    }
    mode match {
      case "dot" => dot
      case "l2"  => math.sqrt(l2)
      case _ =>
        val den = math.sqrt(na) * math.sqrt(nb)
        if (den <= 1e-12) 0.0 else math.min(math.max(dot / den, -1.0), 1.0)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      // Every local must be freshName'd (Janino scopes for-init
      // declarations to the enclosing block): several instances of this
      // expression in one projection — q21 computes four — otherwise
      // generate colliding locals and the projection silently falls back
      // to interpreted mode.
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val dot = ctx.freshName("dot"); val na = ctx.freshName("na")
      val nb = ctx.freshName("nb"); val l2 = ctx.freshName("l2")
      val x = ctx.freshName("x"); val y = ctx.freshName("y")
      val d = ctx.freshName("d"); val den = ctx.freshName("den")
      val getA = if (elemIsFloat(left)) s"(double) $a.getFloat($i)" else s"$a.getDouble($i)"
      val getB = if (elemIsFloat(right)) s"(double) $b.getFloat($i)" else s"$b.getDouble($i)"
      val result = mode match {
        case "dot" => s"${ev.value} = $dot;"
        case "l2"  => s"${ev.value} = Math.sqrt($l2);"
        case _ =>
          s"""double $den = Math.sqrt($na) * Math.sqrt($nb);
             |${ev.value} = $den <= 1e-12 ? 0.0d
             |  : Math.min(Math.max($dot / $den, -1.0d), 1.0d);""".stripMargin
      }
      s"""int $n = $a.numElements();
         |double $dot = 0.0d, $na = 0.0d, $nb = 0.0d, $l2 = 0.0d;
         |if ($b.numElements() != $n) { ${ev.isNull} = true; }
         |for (int $i = 0; !${ev.isNull} && $i < $n; $i++) {
         |  if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |  double $x = $getA; double $y = $getB;
         |  $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |  double $d = $x - $y; $l2 += $d * $d;
         |}
         |if (!${ev.isNull}) {
         |  $result
         |}""".stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = s"vector_$mode"
}
