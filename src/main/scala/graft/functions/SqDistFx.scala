package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native codegen'd FIXED-POINT squared distance Σ_j (x_j·scale − m_j)²
  * over two BIGINT arrays — [[graft.pipeline.KMeansInt]]'s assignment
  * kernel (r14, the [[SqDistL2]] pattern applied to the one hot
  * interpreted fold left after the r13 sweep). The composed form
  * `aggregate(zip_with(qv, m, (x, mj) -> (x·scale − mj)²), 0L, +)`
  * evaluates an interpreted two-argument lambda per element and
  * allocates the zipped intermediate array per (vector, centroid) pair —
  * k·|V| evaluations per Lloyd round. This expression is one fused
  * integer loop and participates in whole-stage codegen.
  *
  * Exactness: 64-bit integer adds commute, so the result is identical
  * to the composed fold by arithmetic (no IEEE-order caveat needed);
  * SqDistFxSpec still pins both eval paths against the composed twin,
  * which [[graft.pipeline.KMeansInt.costComposed]] keeps in the code.
  * Mismatched lengths → null (zip_with's null padding poisons the
  * composed sum), and so does a null element (it poisons the composed
  * product). The per-element null test is emitted only for an input
  * whose element type is nullable, so `containsNull = false` arrays pay
  * nothing. Overflow domain is the caller's contract (KMeansInt's
  * scaladoc bounds it).
  */
case class SqDistFx(left: Expression, right: Expression, scale: Long)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"sq_dist_fx expects two array<bigint> columns, got " +
          s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
    }
  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  private def elementsNullable(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].containsNull
  private lazy val leftNulls = elementsNullable(left)
  private lazy val rightNulls = elementsNullable(right)

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val m = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (m.numElements() != n) return null
    var acc = 0L
    var i = 0
    while (i < n) {
      if ((leftNulls && x.isNullAt(i)) || (rightNulls && m.isNullAt(i))) return null
      val d = x.getLong(i) * scale - m.getLong(i)
      acc += d * d
      i += 1
    }
    java.lang.Long.valueOf(acc)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      val nullTests = Seq(leftNulls -> a, rightNulls -> b)
        .collect { case (true, arr) => s"$arr.isNullAt($i)" }
      val nullCheck =
        if (nullTests.isEmpty) ""
        else s"if (${nullTests.mkString(" || ")}) { ${ev.isNull} = true; break; }"
      s"""
         |int $n = $a.numElements();
         |if ($b.numElements() != $n) { ${ev.isNull} = true; } else {
         |  long $acc = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $nullCheck
         |    long $d = $a.getLong($i) * ${scale}L - $b.getLong($i);
         |    $acc += $d * $d;
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object SqDistFx {
  /** Column API: Σ (x·scale − m)² over two array<bigint> columns. */
  def sqDistFx(x: Column, m: Column, scale: Long): Column =
    Bridge.column(SqDistFx(Bridge.expression(x), Bridge.expression(m), scale))
}
