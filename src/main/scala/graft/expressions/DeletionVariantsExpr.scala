package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** SymSpell ≤-d deletion neighborhood of a string — the codegen
  * replacement for the HOF spelling in
  * `OperatorTwins.deletionVariantsHof` (test scope; a `transform` +
  * `flatten(transform(transform))` + `array_distinct` chain, every layer
  * CodegenFallback: interpreted lambda dispatch and one boxed Catalyst
  * array per layer per row — and, because the fallback poisons the whole
  * enclosing operator out of WholeStageCodegen, the aggregate stage that
  * carries it runs interpreted too. r13 measured the q110b variant
  * generation at ~600 µs/key interpreted vs ~4 µs/key here).
  *
  * Identical output by construction — element ORDER included (FuzzySpec
  * pins native ≡ HOF on edge cases):
  *  - the string itself first, then single deletions in position order,
  *    then (d = 2) double deletions in (i, j) lexicographic order,
  *    deduplicated keeping FIRST occurrence — exactly
  *    `array_distinct(concat(array(s), v1, v2))`;
  *  - positions are Unicode CODE POINTS, matching Spark `substring`
  *    semantics (deletion splices are byte-range splices between code
  *    point boundaries, never inside a multi-byte sequence);
  *  - empty string → [""], single char → [s, ""], null → null (the HOF
  *    form yields [null], but every call site filters the key non-null
  *    before the neighborhood and null variants after the explode, so
  *    the two are indistinguishable downstream — and null-in/null-out
  *    lets the expression stay NullIntolerant-shaped for the optimizer).
  */
case class DeletionVariantsExpr(child: Expression, d: Int)
    extends UnaryExpression {

  require(d >= 1 && d <= 2, s"supported d in {1,2}, got $d")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "deletion_variants"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName expects string, got ${t.simpleString}")
    }

  /** Byte offsets of each code-point boundary: offs(0)=0 .. offs(n)=len. */
  private def cpOffsets(b: Array[Byte]): Array[Int] = {
    val offs = new Array[Int](b.length + 1)
    var n = 0
    var i = 0
    while (i < b.length) {
      offs(n) = i
      n += 1
      i += UTF8String.numBytesForFirstByte(b(i))
    }
    offs(n) = b.length
    java.util.Arrays.copyOf(offs, n + 1)
  }

  /** Splice out byte ranges [f1,t1) and (optionally) [f2,t2), f1<=f2. */
  private def splice(b: Array[Byte], f1: Int, t1: Int, f2: Int, t2: Int): UTF8String = {
    val out = new Array[Byte](b.length - (t1 - f1) - (t2 - f2))
    var p = 0
    System.arraycopy(b, 0, out, p, f1); p += f1
    System.arraycopy(b, t1, out, p, f2 - t1); p += f2 - t1
    System.arraycopy(b, t2, out, p, b.length - t2)
    UTF8String.fromBytes(out)
  }

  /** Public for generated code. */
  def compute(s: UTF8String): ArrayData = {
    val b = s.getBytes
    val offs = cpOffsets(b)
    val n = offs.length - 1 // code points
    val seen = new java.util.LinkedHashSet[UTF8String]()
    seen.add(s)
    var i = 0
    while (i < n) {
      seen.add(splice(b, offs(i), offs(i + 1), b.length, b.length))
      i += 1
    }
    if (d >= 2 && n >= 2) {
      i = 0
      while (i < n - 1) {
        var j = i + 1
        while (j < n) {
          seen.add(splice(b, offs(i), offs(i + 1), offs(j), offs(j + 1)))
          j += 1
        }
        i += 1
      }
    }
    new GenericArrayData(seen.toArray(new Array[AnyRef](seen.size())))
  }

  override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[UTF8String])

  // Stay inside whole-stage codegen (the interpreted-chain hazard is the
  // enclosing stage falling out of WSC, not just this expression): the
  // generated code calls back into this object's compiled `compute`.
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("delVars", this,
      classOf[DeletionVariantsExpr].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object DeletionVariantsExpr {
  /** Column API: all strings obtainable by deleting ≤ d code points. */
  def deletionVariants(s: Column, d: Int): Column =
    ColumnBridge.column(DeletionVariantsExpr(ColumnBridge.expression(s), d))
}
