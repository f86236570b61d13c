package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Content-defined chunking of a token array in ONE per-row pass — the
  * codegen replacement for the windowed spelling's (the test twin
  * `OperatorTwins.cdcChunksWindowed`)
  * explode → full-corpus window (exchange + (doc, pos) sort) →
  * collect_list/array_sort/transform regroup (r13, guide §2.4: the window
  * and the regroup exist only to reassemble what the row already had —
  * chunking is doc-local, so the token-level shuffle is removable
  * outright; at 100 TB that shuffle is corpus-token-sized).
  *
  * Identical output by construction (DedupSpec pins native ≡ windowed on
  * the gate corpus + edge cases):
  *  - boundary(tok) replicates
  *    `conv(substring(md5(tok), 1, 8), 16, 10) % modulus = 0`: the first
  *    4 MD5 bytes of the token's UTF-8 bytes, read big-endian unsigned
  *    (= the first 8 hex chars parsed base 16), mod `modulus`;
  *  - the windowed cid = running sum INCLUDING the current row, so a
  *    boundary token STARTS a new chunk; tokens before the first boundary
  *    form the cid-0 chunk (no empty chunk groups exist — group keys with
  *    zero member rows cannot appear);
  *  - each chunk is its token run joined by a single space — byte-equal
  *    to `concat_ws(" ", ...)` over the pos-ordered run (null tokens are
  *    skipped like concat_ws does; `split` never produces them);
  *  - empty / null token arrays yield an empty / null result, and the
  *    call site explodes with `posexplode_outer` + a null filter (the
  *    q79/q104 guard rule: a plain posexplode's implicit non-empty guard
  *    pushes this expensive expression into the scan and re-evaluates it
  *    per input row).
  */
case class CdcChunksExpr(child: Expression, modulus: Int)
    extends UnaryExpression {

  require(modulus >= 2, s"bad cdc modulus $modulus")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "cdc_chunks"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName expects array<string>, got ${t.simpleString}")
    }

  /** One chunk string: tokens[from, until) joined by ' ', nulls skipped
    * (concat_ws semantics). */
  private def joinRun(arr: ArrayData, from: Int, until: Int): UTF8String = {
    var bytes = 0
    var cnt = 0
    var i = from
    while (i < until) {
      if (!arr.isNullAt(i)) { bytes += arr.getUTF8String(i).numBytes(); cnt += 1 }
      i += 1
    }
    val out = new Array[Byte](bytes + math.max(cnt - 1, 0))
    var p = 0
    var emitted = 0
    i = from
    while (i < until) {
      if (!arr.isNullAt(i)) {
        if (emitted > 0) { out(p) = ' '; p += 1 }
        val t = arr.getUTF8String(i)
        t.writeToMemory(out, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + p)
        p += t.numBytes()
        emitted += 1
      }
      i += 1
    }
    UTF8String.fromBytes(out)
  }

  /** Public for generated code. */
  def compute(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    if (n == 0) return new GenericArrayData(Array.empty[AnyRef])
    val md = java.security.MessageDigest.getInstance("MD5")
    val out = new scala.collection.mutable.ArrayBuffer[AnyRef]
    var start = 0
    var i = 0
    while (i < n) {
      // null tokens carry a null boundary flag: the windowed sum ignores
      // them (cid unchanged), i.e. they never start a chunk
      if (!arr.isNullAt(i)) {
        val d = md.digest(arr.getUTF8String(i).getBytes)
        val v = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
          ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
        if (v % modulus == 0 && i > start) {
          out += joinRun(arr, start, i)
          start = i
        }
      }
      i += 1
    }
    out += joinRun(arr, start, n)
    new GenericArrayData(out.toArray)
  }

  override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[ArrayData])

  // Stay inside whole-stage codegen (the enclosing-stage eviction hazard):
  // generated code calls back into this object's compiled `compute`.
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("cdcChunks", this,
      classOf[CdcChunksExpr].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object CdcChunksExpr {
  /** Column API: content-defined chunks of a token array, in order. */
  def cdcChunks(tokens: Column, modulus: Int): Column =
    ColumnBridge.column(CdcChunksExpr(ColumnBridge.expression(tokens), modulus))
}
