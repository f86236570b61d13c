package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}

/** |A ∩ B| over two SORTED, DISTINCT `array<string>` columns as one
  * allocation-free merge — the verification kernel behind every exact
  * shingle-Jaccard join in [[graft.operators.Dedup]].
  *
  * Why not `size(array_intersect(a, b))`: Spark's set-intersection
  * expressions specialize their codegen hash sets for PRIMITIVE element
  * types only — over strings they fall back to an interpreted
  * `SQLOpenHashSet` build per evaluation (two hash sets and boxed probes
  * per pair for intersect + union). Verification joins evaluate Jaccard at
  * PAIR cardinality — 11M pairs at the 64× rung of NearDupScale (at 94bd464) — where the
  * interpreted spelling measured ~25 µs/pair and dominated both verify
  * tiers (SCALING.md §R11). A shingle set is sorted once per DOCUMENT
  * (corpus-proportional `array_sort`), then every pair evaluation is a
  * linear two-pointer merge in whole-stage codegen.
  *
  * Exactness (the gates replay Jaccard in DuckDB over the same string
  * sets): inputs are the UNCHANGED exact string shingles, only pre-sorted
  * — binary UTF8 order, the same ordering `array_sort` applies — so the
  * merge counts exactly the elements a hash intersection would, and
  * |A ∪ B| = |A| + |B| − |A ∩ B| because both arrays are distinct.
  * Jaccard evidence stays integer (inter, uni); no hash, float, or
  * approximation crosses the engine boundary.
  *
  * Contract: both arrays sorted ascending (UTF8 binary), duplicate-free,
  * null-element-free — [[graft.operators.Dedup.jaccardColsSorted]] is the
  * only intended caller and its call sites sort at the document
  * projection. A null ARRAY yields null (join conditions read it as
  * false); null ELEMENTS yield null if the schema admits them.
  */
case class SortedInterSizeExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def prettyName: String = "sorted_inter_size"

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(StringType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<string> inputs, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  @transient private lazy val mayHaveNullElements: Boolean =
    Seq(left, right).exists(_.dataType match {
      case ArrayType(_, n) => n
      case _ => true
    })

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val nx = x.numElements(); val ny = y.numElements()
    var i = 0; var j = 0; var inter = 0
    while (i < nx && j < ny) {
      if (mayHaveNullElements && (x.isNullAt(i) || y.isNullAt(j))) return null
      val c = x.getUTF8String(i).compareTo(y.getUTF8String(j))
      if (c == 0) { inter += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
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
      val c = ctx.freshName("c")
      val nullGuard = if (mayHaveNullElements)
        s"if ($a.isNullAt($i) || $b.isNullAt($j)) { ${ev.isNull} = true; break; }"
      else ""
      s"""
         |int $nx = $a.numElements();
         |int $ny = $b.numElements();
         |int $i = 0, $j = 0;
         |${ev.value} = 0;
         |while ($i < $nx && $j < $ny) {
         |  $nullGuard
         |  int $c = $a.getUTF8String($i).compareTo($b.getUTF8String($j));
         |  if ($c == 0) { ${ev.value}++; $i++; $j++; }
         |  else if ($c < 0) { $i++; } else { $j++; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object SortedInterSizeExpr {
  /** Column API: |A ∩ B| for sorted distinct string arrays. */
  def interSize(a: Column, b: Column): Column =
    ColumnBridge.column(SortedInterSizeExpr(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
}
