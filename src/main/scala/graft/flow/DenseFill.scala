package graft.flow

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, AttributeSet, BindReferences, Expression, GenericInternalRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, UnaryNode}
import org.apache.spark.sql.catalyst.util.truncatedString
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.SQLMetrics
import org.apache.spark.sql.graftbridge.PlanBridge
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The map-side dense fill behind [[HistogramPass]]: every plot's bins, in
  * one flat array set per partition, filled in one pass over the rows.
  *
  * Per plot, a bucket expression (int; null = the plot's selection failed
  * or its value is null); per weight source, a double expression (null =
  * skipped in the sums); optionally a file column. Plot `p` owns slots
  * `offset_p .. offset_p + nBins_p + 1` (under/overflow included), so the
  * kernel holds Σ(nBins+2) counters — independent of the row count.
  *
  * The kernel evaluates these expressions itself, through a generated
  * projection (pooled per executor, see `DenseFillExec.borrow`). That
  * projection splits its code into small methods and shares common
  * subexpressions across plots; the same ~60 bucket expressions spelled as
  * one whole-stage-codegen projection compile to a single method too large
  * for the JIT, which then interprets it.
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

  /** One plot of the layout: its name, bin count and weight index. */
  final case class Slot(plot: String, nBins: Int, weight: Int)

  def ensureRegistered(spark: SparkSession): Unit =
    if (!spark.experimental.extraStrategies.contains(DenseFillStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ DenseFillStrategy

  /** Fill over `input`: `buckets(i)` is plot `layout(i)`'s bucket (int),
    * `weights(j)` weight source j (double), `file` an optional string
    * column of `input` naming each row's file. */
  def apply(
      input: DataFrame, layout: Seq[Slot], buckets: Seq[Column], weights: Seq[Column],
      file: Option[Column]): DataFrame = {
    require(layout.size == buckets.size, "one bucket expression per plot")
    require(layout.forall(s => s.nBins > 0 && s.weight >= 0 && s.weight < weights.size),
      "every plot needs nBins > 0 and a weight index")
    val spark = input.sparkSession
    ensureRegistered(spark)
    // resolve the expressions against the input through a projection
    val (exprs, child) = input.select(buckets ++ weights ++ file: _*).queryExecution.analyzed match {
      case Project(list, c) => (list.map { case a: Alias => a.child; case e => e }, c)
      case other => sys.error(s"DenseFill: unexpected analyzed input ${other.nodeName}")
    }
    val (b, rest) = exprs.splitAt(buckets.size)
    val (w, f) = rest.splitAt(weights.size)
    def check(what: String, es: Seq[Expression], t: DataType) = es.foreach(e =>
      require(e.dataType == t, s"DenseFill: $what $e is ${e.dataType.simpleString}, not ${t.simpleString}"))
    check("bucket", b, IntegerType)
    check("weight", w, DoubleType)
    check("file", f, StringType)
    // only the referenced columns reach the kernel, so the scan prunes
    val used = AttributeSet(exprs.flatMap(_.references))
    val fill = DenseFillPlan(layout, b, w, f.headOption, DenseFillPlan.outputAttributes(),
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
    buckets: Seq[Expression],
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
    buckets: Seq[Expression],
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
    val bound = BindReferences.bindReferences(buckets ++ weights ++ file, child.output)
    val nB = buckets.size
    val nW = weights.size
    val fIdx = if (file.isDefined) nB + nW else -1
    val nBins = layout.map(_.nBins).toArray
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
      val w = new Array[Double](nW)
      val wNull = new Array[Boolean](nW)
      val files = mutable.LinkedHashMap.empty[UTF8String, Long]
      var curFile: UTF8String = null
      var curRows = 0L
      while (rows.hasNext) {
        val row = eval(rows.next())
        var j = 0
        while (j < nW) {
          wNull(j) = row.isNullAt(nB + j)
          if (!wNull(j)) w(j) = row.getDouble(nB + j)
          j += 1
        }
        var p = 0
        while (p < nB) {
          if (!row.isNullAt(p)) {
            val b = row.getInt(p)
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
    case DenseFillPlan(layout, b, w, f, out, child) =>
      DenseFillExec(layout, b, w, f, out, planLater(child)) :: Nil
    case _ => Nil
  }
}
