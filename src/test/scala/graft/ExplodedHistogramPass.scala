package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.flow.{Plot, SelectionFlow}

/** Reference twin of [[graft.flow.HistogramPass]]: the row-exploding
  * spelling the dense fill replaced. Every plot becomes a `(plot, bucket,
  * w)` struct per row, the structs whose bucket is null are dropped, and
  * one `groupBy(plot, bucket)` with `count`/`sum` aggregates them. Same
  * output schema and null semantics; kept only so specs can check the
  * kernel against it. */
object ExplodedHistogramPass {
  def run(df: DataFrame, plots: Seq[Plot]): DataFrame = {
    val flagged = SelectionFlow.withFlags(df, plots.map(_.selection))
    val entries = plots.map { p =>
      struct(
        lit(p.name).as("plot"),
        when(p.selection.flag, p.binning.bucket(p.value)).as("bucket"),
        p.selection.weight.as("w"))
    }
    flagged
      .select(explode(array(entries: _*)).as("e"))
      .filter(col("e.bucket").isNotNull)
      .select(col("e.plot").as("plot"), col("e.bucket").as("bucket"), col("e.w").as("w"))
      .groupBy(col("plot"), col("bucket"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("w")).as("sumw"),
        sum(col("w") * col("w")).as("sumw2"))
  }
}
