package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** |A ∩ B| over two SORTED `array<bigint>` columns as one allocation-free
  * merge — [[SortedInterSizeExpr]]'s primitive-long sibling, built for the
  * bucket-local prefix tier's COUNT-FILTER stage
  * ([[graft.operators.Dedup.prefixJaccardPairs]]).
  *
  * Why longs and not the string kernel: the r12 tier measurement
  * (Prof104BL at 94bd464, SCALING §R12) showed the candidate-cardinality stage is
  * memory-traffic-bound — each string-merge evaluation pulls two ~2 KB
  * UTF8 arrays and allocates a UTF8String per element, ~20-25 µs/pair at
  * 176M candidate pairs. The count-filter bound needs only HASH
  * intersections (8-byte elements, ~400 B arrays, zero allocation), and
  * any hash collision only inflates the intersection — the bound errs
  * UPWARD, so filtering on it sheds no true pair (the losslessness
  * algebra lives at the call site). Exact string evidence is still
  * produced by [[SortedInterSizeExpr]], but only for bound survivors
  * (≈ true pairs).
  *
  * Contract: both arrays sorted ascending, null-element-free. A null
  * ARRAY yields null (join conditions and filters read it as false). */
case class SortedLongInterSizeExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def prettyName: String = "sorted_long_inter_size"

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<bigint> inputs, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val nx = x.numElements(); val ny = y.numElements()
    var i = 0; var j = 0; var inter = 0
    while (i < nx && j < ny) {
      val xv = x.getLong(i); val yv = y.getLong(j)
      if (xv == yv) { inter += 1; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    inter
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
         |int $nx = $a.numElements();
         |int $ny = $b.numElements();
         |int $i = 0, $j = 0;
         |${ev.value} = 0;
         |while ($i < $nx && $j < $ny) {
         |  long $xv = $a.getLong($i);
         |  long $yv = $b.getLong($j);
         |  if ($xv == $yv) { ${ev.value}++; $i++; $j++; }
         |  else if ($xv < $yv) { $i++; } else { $j++; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object SortedLongInterSizeExpr {
  /** Column API: |A ∩ B| for sorted long arrays. */
  def interSize(a: Column, b: Column): Column =
    ColumnBridge.column(SortedLongInterSizeExpr(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
}
