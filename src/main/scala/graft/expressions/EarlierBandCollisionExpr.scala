package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, IntegerType, LongType}

/** Native exactly-once check for the bucket-local LSH verification tier
  * ([[graft.operators.Dedup]]): true iff two documents' band signatures
  * collide in some SURVIVING band strictly before `band` — i.e. this bucket
  * is NOT the pair's least surviving colliding band and must not emit it.
  *
  * Inputs are each doc's per-band signature array (`array<long>`, one
  * xxhash64 per band, band-ordered) and a survival BITMASK (`long`, bit b
  * set iff the doc's band-b bucket survived the hot-bucket cap); the
  * original spelling carried bands × (sig, ok) struct vectors and evaluated
  * `exists(zip_with(slice(a), slice(b), …))` in the join condition — a
  * CodegenFallback HOF chain that allocated two sliced arrays plus a
  * zipped result PER JOINED ROW and boxed every element. The join fan is
  * Σ buckets occ² — 161M rows at the 64× rung of NearDupScale (at 94bd464), where the
  * interpreted chain measured 554 s against the default tier's 91 s,
  * inverting the tier's value proposition. This expression is the same
  * predicate as one allocation-free loop over ≤ `band` longs inside
  * whole-stage codegen — the check itself drops to noise (measured rungs
  * in SCALING.md §R11, together with the sorted-merge Jaccard kernel that
  * closes the tier's other interpreted hot spot).
  *
  * Semantics (the DedupSpec equality pins ride on these):
  *  - bands are scanned in vector order, strictly below `band`;
  *  - a band counts only when BOTH survival bits are set AND the
  *    signatures are equal — a bucket shed by the cap on either side must
  *    not count as an earlier collision (the pair may legitimately meet
  *    again in a later surviving band, and the default tier keeps it);
  *  - null inputs (never produced by the tier) yield null, which a join
  *    condition treats as false.
  */
case class EarlierBandCollisionExpr(sigsA: Expression, okmA: Expression,
    sigsB: Expression, okmB: Expression, band: Expression)
    extends Expression {

  override def children: Seq[Expression] = Seq(sigsA, okmA, sigsB, okmB, band)
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = children.exists(_.nullable)
  override def prettyName: String = "earlier_band_collision"

  override def checkInputDataTypes(): TypeCheckResult = {
    def arr(t: DataType) = t match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (arr(sigsA.dataType) && arr(sigsB.dataType) &&
        okmA.dataType == LongType && okmB.dataType == LongType &&
        band.dataType == IntegerType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (array<bigint>, bigint, array<bigint>, bigint, int), got " +
        children.map(_.dataType.simpleString).mkString(", "))
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val sa = sigsA.eval(input); val ma = okmA.eval(input)
    val sb = sigsB.eval(input); val mb = okmB.eval(input)
    val bd = band.eval(input)
    if (sa == null || ma == null || sb == null || mb == null || bd == null) return null
    val xa = sa.asInstanceOf[ArrayData]
    val xb = sb.asInstanceOf[ArrayData]
    // both bits set in one AND — a band shed on EITHER side never counts
    val both = ma.asInstanceOf[Long] & mb.asInstanceOf[Long]
    val n = math.min(bd.asInstanceOf[Int],
      math.min(xa.numElements(), xb.numElements()))
    var b = 0
    while (b < n) {
      if (((both >> b) & 1L) == 1L && xa.getLong(b) == xb.getLong(b)) return true
      b += 1
    }
    false
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val ea = sigsA.genCode(ctx); val ma = okmA.genCode(ctx)
    val eb = sigsB.genCode(ctx); val mb = okmB.genCode(ctx)
    val bd = band.genCode(ctx)
    val both = ctx.freshName("both")
    val n = ctx.freshName("n")
    val b = ctx.freshName("b")
    val anyNull = (Seq(ea, ma, eb, mb, bd) zip
      Seq(sigsA, okmA, sigsB, okmB, band))
      .collect { case (e, c) if c.nullable => e.isNull.toString }
    val nullCheck = if (anyNull.isEmpty) "false" else anyNull.mkString(" || ")
    val loop =
      s"""
         |if ($nullCheck) {
         |  ${ev.isNull} = true;
         |} else {
         |  long $both = ${ma.value} & ${mb.value};
         |  int $n = java.lang.Math.min((int) ${bd.value},
         |    java.lang.Math.min(${ea.value}.numElements(), ${eb.value}.numElements()));
         |  for (int $b = 0; $b < $n; $b++) {
         |    if ((($both >> $b) & 1L) == 1L &&
         |        ${ea.value}.getLong($b) == ${eb.value}.getLong($b)) {
         |      ${ev.value} = true; break;
         |    }
         |  }
         |}
       """.stripMargin
    ev.copy(code =
      code"""
        ${ea.code}
        ${ma.code}
        ${eb.code}
        ${mb.code}
        ${bd.code}
        boolean ${ev.isNull} = false;
        boolean ${ev.value} = false;
        $loop""")
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(sigsA = newChildren(0), okmA = newChildren(1),
      sigsB = newChildren(2), okmB = newChildren(3), band = newChildren(4))
}

object EarlierBandCollisionExpr {
  /** Column API: does (a, b) collide in a surviving band before `band`? */
  def earlierCollision(sigsA: Column, okmA: Column,
      sigsB: Column, okmB: Column, band: Column): Column =
    ColumnBridge.column(EarlierBandCollisionExpr(
      ColumnBridge.expression(sigsA), ColumnBridge.expression(okmA),
      ColumnBridge.expression(sigsB), ColumnBridge.expression(okmB),
      ColumnBridge.expression(band)))
}
