package graft.flow

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Single-pass multi-histogram execution — the engine's core physical-design
  * decision (SURVEY.md §4 "multi-action single pass").
  *
  * The reference evaluates ~60 filters + ~60 histograms in ONE event loop
  * per sample (RDataFrame lazy multi-action model; reference
  * phaseII-analysis.py:368-510 registers everything before `:512` runs).
  * Naive Spark would launch one job — one full scan — per histogram.
  * Instead, the [[DenseFill]] kernel takes each distinct plot value, each
  * selection's flag and each weight source once per row, computes a value
  * only where one of its plots' selections passes, bins it itself
  * ([[Binning.bucketOf]]), adds the weights into flat per-partition arrays
  * of Σ_plots (nBins+2) slots, and emits only the nonzero slots. One
  * `groupBy(plot, bucket)` merges the partitions:
  *
  *   - ONE scan of the sample regardless of the number of plots;
  *   - no per-(event, plot) rows: the map side holds O(plots × bins)
  *     counters, and the shuffle carries at most Σ_plots (nBins+2) rows per
  *     partition — tiny and independent of input size. At 100 TB the scan
  *     dominates; adding a plot costs arithmetic, not I/O.
  *
  * Output schema: (plot, bucket, n, sumw, sumw2) — bin statistics including
  * sumw2 for error propagation (reference phaseII-analysis.py:150-151).
  * Weights are summed as doubles. `n` counts rows whose weight is null;
  * the sums skip them, and a bucket whose weights are all null has null
  * sums, as `sum` gives.
  */
object HistogramPass {

  /** Run all plots in one scan. `df` must already carry the flag/weight
    * columns of every referenced selection (`SelectionFlow.withFlags`). */
  def run(df: DataFrame, plots: Seq[Plot]): DataFrame = merge(fill(df, plots, countFiles = false))

  /** The per-partition fill, before the merge. With `countFiles`, each
    * input file also gets one `(file, DenseFill.FileBucket, rows, null,
    * null)` row (`input_file_name()` per row; "" for non-file sources). */
  private[flow] def fill(df: DataFrame, plots: Seq[Plot], countFiles: Boolean): DataFrame = {
    require(plots.nonEmpty, "no plots registered")
    require(plots.map(_.name).distinct.size == plots.size, "duplicate plot names")
    val flagged = SelectionFlow.withFlags(df, plots.map(_.selection))
    val values = plots.map(_.value).distinct
    val flagCols = plots.map(_.selection.flagCol).distinct
    val weightCols = plots.map(_.selection.weightCol).distinct
    val layout = plots.map(p => DenseFill.Slot(p.name, p.binning, values.indexOf(p.value),
      flagCols.indexOf(p.selection.flagCol), weightCols.indexOf(p.selection.weightCol)))
    val flags = flagCols.map(col)
    val weights = weightCols.map(c => col(c).cast("double"))
    if (countFiles)
      DenseFill(flagged.withColumn("__file", input_file_name()), layout, values, flags, weights,
        Some(col("__file")))
    else DenseFill(flagged, layout, values, flags, weights, None)
  }

  /** The final aggregate over fill rows: one hash exchange on
    * (plot, bucket), carrying at most the fill's nonzero slots. */
  private[flow] def merge(filled: DataFrame): DataFrame =
    filled.groupBy(col("plot"), col("bucket"))
      .agg(sum(col("n")).as("n"), sum(col("sumw")).as("sumw"), sum(col("sumw2")).as("sumw2"))
}
