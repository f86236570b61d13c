package graft.flow

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Single-row histogram as a typed [[Aggregator]] — the custom-aggregate
  * tier (SURVEY.md §2.11, §4 "optional TypedImperativeAggregate"): where
  * HistogramPass answers "many plots, one scan" with a groupBy, this
  * answers "one histogram object per group" with a mergeable buffer —
  * useful when the histogram must travel as a value (per-sample result
  * rows, streaming state) instead of as (bucket, stats) rows.
  *
  * Buffer layout: counts/sumw/sumw2 arrays of length nBins+2
  * (index 0 = underflow, nBins+1 = overflow). Merges are element-wise —
  * associative and commutative, so map-side partial aggregation applies.
  */
final case class HistogramResult(
    counts: Array[Long], sumw: Array[Double], sumw2: Array[Double])

class WeightedHistogram(nBins: Int, lo: Double, hi: Double)
    extends Aggregator[(Double, Double), HistogramResult, HistogramResult] {
  private val binning = EquidistantBinning(nBins, lo, hi)

  override def zero: HistogramResult =
    HistogramResult(new Array[Long](nBins + 2), new Array[Double](nBins + 2), new Array[Double](nBins + 2))

  override def reduce(b: HistogramResult, in: (Double, Double)): HistogramResult = {
    val (x, w) = in
    val i = binning.bucketOf(x) + 1
    b.counts(i) += 1; b.sumw(i) += w; b.sumw2(i) += w * w
    b
  }

  override def merge(a: HistogramResult, b: HistogramResult): HistogramResult = {
    var i = 0
    while (i < nBins + 2) {
      a.counts(i) += b.counts(i); a.sumw(i) += b.sumw(i); a.sumw2(i) += b.sumw2(i)
      i += 1
    }
    a
  }

  override def finish(r: HistogramResult): HistogramResult = r
  override def bufferEncoder: Encoder[HistogramResult] = Encoders.product[HistogramResult]
  override def outputEncoder: Encoder[HistogramResult] = Encoders.product[HistogramResult]
}

object WeightedHistogram {
  /** Column form: `df.agg(WeightedHistogram.column(nBins, lo, hi, $"x", $"w"))`. */
  def column(nBins: Int, lo: Double, hi: Double, x: Column, w: Column): Column =
    udaf(new WeightedHistogram(nBins, lo, hi)).apply(x, w)
}
