package graft.flow

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, AttributeSet, BindReferences, CaseWhen, Cast, Expression, GenericInternalRow, Or, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, UnaryNode}
import org.apache.spark.sql.catalyst.util.truncatedString
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.SQLMetrics
import org.apache.spark.sql.graftbridge.PlanBridge
import org.apache.spark.sql.types.{BooleanType, DataType, DoubleType, IntegerType, LongType, NumericType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The map-side dense fill behind [[HistogramPass]]: every plot's bins, in
  * one flat array set per partition, filled in one pass over the rows.
  *
  * Inputs: the plots' values (numeric), their selections' flags (boolean;
  * null = false), the weight sources (double; null = skipped in the sums)
  * and optionally a file column. Each [[DenseFill.Slot]] names one plot's
  * binning and the indices of its value, flag and weight. Plot `p` owns
  * slots `offset_p .. offset_p + nBins_p + 1` (under/overflow included), so
  * the kernel holds Σ(nBins+2) counters — independent of the row count.
  *
  * The kernel evaluates the inputs itself, through a generated projection
  * (pooled per executor, see `DenseFillExec.borrow`), and bins each value
  * with [[Binning.bucketOf]]: no bucket expression is planned per plot.
  * The projection splits its code into small methods and shares common
  * subexpressions; the same inputs spelled as one whole-stage-codegen
  * projection compile to a single method too large for the JIT, which then
  * interprets it.
  * Values are deduplicated on their analysed, canonical form, so plots
  * that share an observable evaluate it once per row, and only on rows
  * where at least one of those plots' flags holds: the projection computes
  * `CASE WHEN f₁ OR … OR fₖ THEN value END`. A value that cannot be
  * computed for events failing its selections (an `element_at` past the
  * end, under ANSI) is therefore never computed for them.
  *
  * Output, at the end of each partition, only its nonzero slots as
  * `(plot, bucket, n, sumw, sumw2)`. `n` counts every landing row; `sumw`
  * and `sumw2` sum the non-null weights and stay null for a slot whose
  * weights were all null — the partial form of `count`/`sum`, so the same
  * `groupBy(plot, bucket)` final aggregate merges partitions. With a file
  * column, each distinct file adds one row `(file, FileBucket, rows, null,
  * null)`; `FileBucket` is below every real bucket (−1 is the least), so
  * the two kinds of row cannot collide.
  *
  * A bucket outside `[-1, nBins]` fails the task with a named message
  * instead of landing in a neighbouring plot's slots.
  */
object DenseFill {

  /** The bucket of a per-file row count. */
  val FileBucket: Int = -2

  /** One plot of the layout: its name and binning, and the indices of its
    * value, selection flag and weight among the fill's inputs. */
  final case class Slot(plot: String, binning: Binning, value: Int, flag: Int, weight: Int)

  def ensureRegistered(spark: SparkSession): Unit =
    if (!spark.experimental.extraStrategies.contains(DenseFillStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ DenseFillStrategy

  /** Fill over `input`: `layout(i)` bins `values(layout(i).value)` on rows
    * where `flags(layout(i).flag)` holds, weighted by
    * `weights(layout(i).weight)` (double); `file` is an optional string
    * column of `input` naming each row's file. */
  def apply(
      input: DataFrame, layout: Seq[Slot], values: Seq[Column], flags: Seq[Column],
      weights: Seq[Column], file: Option[Column]): DataFrame = {
    require(layout.forall(s => s.value >= 0 && s.value < values.size && s.flag >= 0 &&
      s.flag < flags.size && s.weight >= 0 && s.weight < weights.size),
      "every plot needs a value, flag and weight index")
    val spark = input.sparkSession
    ensureRegistered(spark)
    // resolve the expressions against the input through a projection
    val (exprs, child) = input.select(values ++ flags ++ weights ++ file: _*).queryExecution.analyzed match {
      case Project(list, c) => (list.map { case a: Alias => a.child; case e => e }, c)
      case other => sys.error(s"DenseFill: unexpected analyzed input ${other.nodeName}")
    }
    val (v, rest) = exprs.splitAt(values.size)
    val (f, rest2) = rest.splitAt(flags.size)
    val (w, fl) = rest2.splitAt(weights.size)
    def check(what: String, es: Seq[Expression], ok: DataType => Boolean, t: String) = es.foreach(e =>
      require(ok(e.dataType), s"DenseFill: $what $e is ${e.dataType.simpleString}, not $t"))
    check("value", v, _.isInstanceOf[NumericType], "numeric")
    check("flag", f, _ == BooleanType, "boolean")
    check("weight", w, _ == DoubleType, "double")
    check("file", fl, _ == StringType, "string")
    // one kernel input per distinct value the layout uses, widened to double
    // and computed only where one of its plots' flags holds
    val canon = v.map(_.canonicalized)
    val distinct = layout.map(s => canon(s.value)).distinct
    val slots = layout.map(s => s.copy(value = distinct.indexOf(canon(s.value))))
    val gated = distinct.indices.map { i =>
      val x = v(canon.indexOf(distinct(i)))
      val on = slots.filter(_.value == i).map(_.flag).distinct.map(f).reduce(Or)
      CaseWhen(Seq(on -> (if (x.dataType == DoubleType) x else Cast(x, DoubleType))))
    }
    // only the referenced columns reach the kernel, so the scan prunes
    val used = AttributeSet((gated ++ f ++ w ++ fl).flatMap(_.references))
    val fill = DenseFillPlan(slots, gated, f, w, fl.headOption, DenseFillPlan.outputAttributes(),
      Project(child.output.filter(used.contains), child))
    // Aliased on top, so the analyzer can renew the output ids when the
    // result is joined with itself: it re-aliases projections, not unknown
    // nodes. The optimizer drops the projection again.
    PlanBridge.ofRows(spark, Project(fill.output.map(a => Alias(a, a.name)()), fill))
  }
}

/** Logical node: the layout, the expressions it evaluates and the output
  * attributes it produces (carried as a field so copies keep their ids). */
case class DenseFillPlan(
    layout: Seq[DenseFill.Slot],
    values: Seq[Expression],
    flags: Seq[Expression],
    weights: Seq[Expression],
    file: Option[Expression],
    output: Seq[Attribute],
    child: LogicalPlan) extends UnaryNode {
  override def producedAttributes: AttributeSet = AttributeSet(output)
  override def simpleString(maxFields: Int): String =
    s"DenseFill ${truncatedString(layout.map(_.plot), "[", ", ", "]", maxFields)}"
  override protected def withNewChildInternal(c: LogicalPlan): LogicalPlan = copy(child = c)
}

object DenseFillPlan {
  def outputAttributes(): Seq[Attribute] = Seq(
    AttributeReference("plot", StringType, nullable = false)(),
    AttributeReference("bucket", IntegerType, nullable = false)(),
    AttributeReference("n", LongType, nullable = false)(),
    AttributeReference("sumw", DoubleType)(),
    AttributeReference("sumw2", DoubleType)())
}

/** Physical node: one kernel per partition over the child's rows. No
  * required distribution — it runs in the scan's stage, and the exchange
  * above it carries its ≤ Σ(nBins+2) (+ files) rows per partition. */
case class DenseFillExec(
    layout: Seq[DenseFill.Slot],
    values: Seq[Expression],
    flags: Seq[Expression],
    weights: Seq[Expression],
    file: Option[Expression],
    output: Seq[Attribute],
    child: SparkPlan) extends UnaryExecNode {

  override lazy val metrics = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  override def producedAttributes: AttributeSet = AttributeSet(output)

  override def simpleString(maxFields: Int): String =
    s"DenseFill ${truncatedString(layout.map(_.plot), "[", ", ", "]", maxFields)}"

  override protected def doExecute(): RDD[InternalRow] = {
    val bound = BindReferences.bindReferences(values ++ flags ++ weights ++ file, child.output)
    val nV = values.size
    val nF = flags.size
    val nW = weights.size
    val fIdx = if (file.isDefined) nV + nF + nW else -1
    val binnings = layout.map(_.binning).toArray
    val nBins = binnings.map(_.nBins)
    val valueOf = layout.map(_.value).toArray
    val flagOf = layout.map(_.flag).toArray
    val weightOf = layout.map(_.weight).toArray
    val names = layout.map(_.plot).toArray
    val offset = nBins.scanLeft(0)(_ + _ + 2)
    val numOutputRows = longMetric("numOutputRows")
    val schema = output.map(_.dataType).toArray
    child.execute().mapPartitions { rows =>
      val (eval, pool) = DenseFillExec.borrow(bound)
      val slots = offset.last
      val n = new Array[Long](slots)
      val sumw = new Array[Double](slots)
      val sumw2 = new Array[Double](slots)
      val weighted = new Array[Boolean](slots)
      val on = new Array[Boolean](nF)
      val w = new Array[Double](nW)
      val wNull = new Array[Boolean](nW)
      val files = mutable.LinkedHashMap.empty[UTF8String, Long]
      var curFile: UTF8String = null
      var curRows = 0L
      while (rows.hasNext) {
        val row = eval(rows.next())
        var j = 0
        while (j < nF) {
          on(j) = !row.isNullAt(nV + j) && row.getBoolean(nV + j)
          j += 1
        }
        j = 0
        while (j < nW) {
          wNull(j) = row.isNullAt(nV + nF + j)
          if (!wNull(j)) w(j) = row.getDouble(nV + nF + j)
          j += 1
        }
        var p = 0
        while (p < names.length) {
          if (on(flagOf(p)) && !row.isNullAt(valueOf(p))) {
            val b = binnings(p).bucketOf(row.getDouble(valueOf(p)))
            if (b < -1 || b > nBins(p))
              throw new IllegalStateException(
                s"HistogramPass: plot '${names(p)}' bucket $b outside [-1, ${nBins(p)}]")
            val s = offset(p) + b + 1
            n(s) += 1
            val k = weightOf(p)
            if (!wNull(k)) {
              sumw(s) += w(k); sumw2(s) += w(k) * w(k); weighted(s) = true
            }
          }
          p += 1
        }
        if (fIdx >= 0) {
          val f = if (row.isNullAt(fIdx)) UTF8String.EMPTY_UTF8 else row.getUTF8String(fIdx)
          if (curFile == null || f != curFile) {
            if (curFile != null) files(curFile) = files.getOrElse(curFile, 0L) + curRows
            curFile = f.clone(); curRows = 0L
          }
          curRows += 1
        }
      }
      if (curFile != null) files(curFile) = files.getOrElse(curFile, 0L) + curRows
      pool.offer(eval)
      val out = UnsafeProjection.create(schema)
      val plotNames = names.map(UTF8String.fromString)
      val binRows = names.indices.iterator.flatMap { p =>
        (0 to nBins(p) + 1).iterator.map(offset(p) + _).filter(n(_) > 0).map { s =>
          new GenericInternalRow(Array[Any](plotNames(p), s - offset(p) - 1, n(s),
            if (weighted(s)) sumw(s) else null, if (weighted(s)) sumw2(s) else null))
        }
      }
      val fileRows = files.iterator.map { case (f, c) =>
        new GenericInternalRow(Array[Any](f, DenseFill.FileBucket, c, null, null))
      }
      (binRows ++ fileRows).map { r => numOutputRows += 1; out(r) }
    }
  }

  override protected def withNewChildInternal(c: SparkPlan): SparkPlan = copy(child = c)
}

object DenseFillExec {
  private val MaxCachedLayouts = 32

  /** Executor-level pool of generated projections, keyed by the bound
    * expressions (ordinals, not expression ids, so every pass of the same
    * analysis shares a key). Generating the projection's code costs ~0.1 s
    * for a 60-plot analysis — more than filling 10⁵ rows — so a task
    * borrows an idle instance and returns it after its loop; a projection
    * is reused by one task at a time. LRU-bounded in keys. */
  private val projections: java.util.Map[Seq[Expression], ConcurrentLinkedQueue[UnsafeProjection]] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[Seq[Expression], ConcurrentLinkedQueue[UnsafeProjection]](16, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[Seq[Expression], ConcurrentLinkedQueue[UnsafeProjection]]): Boolean =
          size() > MaxCachedLayouts
      })

  private def borrow(bound: Seq[Expression]): (UnsafeProjection, ConcurrentLinkedQueue[UnsafeProjection]) = {
    val pool = projections.computeIfAbsent(bound, _ => new ConcurrentLinkedQueue[UnsafeProjection])
    val idle = pool.poll()
    (if (idle != null) idle else UnsafeProjection.create(bound), pool)
  }
}

object DenseFillStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case DenseFillPlan(layout, v, fl, w, f, out, child) =>
      DenseFillExec(layout, v, fl, w, f, out, planLater(child)) :: Nil
    case _ => Nil
  }
}
