package graft.flow

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Histogram binning schemes (reference `EqB`/`VarBin`,
  * phaseII-analysis.py:368-498; jet_test.py:524-724).
  *
  * Bucket convention: −1 = underflow, 0..n−1 = in-range, n = overflow —
  * matching ROOT's under/overflow bins shifted to 0-based; a null value has
  * no bucket. The bucket expression is pure arithmetic
  * (`floor((x−lo)·n/(hi−lo))`) so it stays in whole-stage codegen and is
  * bit-reproducible across engines.
  *
  * Two spellings of the same rule: `bucket` as a Column, and `bucketOf`
  * for the [[DenseFill]] kernel, which bins a value it has already widened
  * to double (as Spark's comparison with a double edge widens it). Both
  * order NaN above every value, so NaN overflows, and treat −0.0 as 0.0.
  */
sealed trait Binning {
  def nBins: Int
  def bucket(x: Column): Column
  /** `bucket` on a non-null value, evaluated in the JVM. */
  def bucketOf(x: Double): Int
  /** Low edge of in-range bucket i (driver-side, for rendering). */
  def lowEdge(i: Int): Double
}

final case class EquidistantBinning(nBins: Int, lo: Double, hi: Double) extends Binning {
  require(nBins > 0 && hi > lo)
  def bucket(x: Column): Column =
    when(x < lo, lit(-1))
      .when(x >= hi, lit(nBins))
      .otherwise(floor((x - lit(lo)) * lit(nBins.toDouble) / lit(hi - lo)).cast("int"))
  def bucketOf(x: Double): Int =
    if (x < lo) -1
    else if (!(x < hi)) nBins // NaN too
    else math.floor((x - lo) * nBins.toDouble / (hi - lo)).toInt
  def lowEdge(i: Int): Double = lo + i * (hi - lo) / nBins
}

final case class VariableBinning(edges: Seq[Double]) extends Binning {
  require(edges.size >= 2 && edges == edges.sorted)
  def nBins: Int = edges.size - 1
  private val edgeArray = edges.toArray
  def bucket(x: Column): Column = {
    // Fold of whens — fine for the O(10..50) bin counts the reference uses.
    // No branch matches a null value, so it stays null.
    val pairs = edges.sliding(2).toSeq.zipWithIndex
    val inRange = pairs.foldLeft(when(x >= edges.last, lit(nBins))) {
      case (acc, (lohi, i)) => when(x >= lohi.head && x < lohi(1), lit(i)).otherwise(acc)
    }
    when(x < edges.head, lit(-1)).otherwise(inRange)
  }
  def bucketOf(x: Double): Int =
    if (x < edgeArray(0)) -1
    else if (x.isNaN) nBins
    else {
      // the last edge at or below x; `<=`, not Double.compare, so -0.0 == 0.0
      var lo = 0
      var hi = nBins
      while (lo < hi) {
        val mid = (lo + hi + 1) >>> 1
        if (edgeArray(mid) <= x) lo = mid else hi = mid - 1
      }
      lo
    }
  def lowEdge(i: Int): Double = edges(i)
}

/** A 1-D weighted histogram action attached to a selection node
  * (reference `Plot.make1D`, phaseII-analysis.py:368-498). */
final case class Plot(name: String, value: Column, selection: Selection, binning: Binning)
