package graft.flow

import java.util.concurrent.{ExecutionException, Executors}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession, classic}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.{AnalysisConfig, SampleConfig}

/** Per-sample orchestration — the Spark lifecycle twin of `bambooRun`
  * (SURVEY.md §3): for each sample in the config, run ONE single-pass job
  * (all histograms + cutflow), write results + counter sidecar, then
  * post-process across samples (normalization, group stacking, overlay
  * comparison).
  *
  * Results layout under `outDir`:
  *   results/{sample}/all/          combined single-pass aggregate
  *   results/{sample}/histograms/   (plot, bucket, n, sumw, sumw2)
  *   results/{sample}/cutflow/      (sel, n, sumw, sumw2) — selections with
  *                                  zero passing events have no row (= 0)
  *   results/{sample}/counters/     (file, n_events) — mergeCounters parity
  *     (reference phaseII-analysis.py:21-35): per-input-file event counts
  *     persisted next to results, read back for normalization checks.
  */
object SampleRunner {

  final case class SampleResult(sample: SampleConfig, scale: Double)

  private val CutPrefix = "__cutflow__"

  /** One analysis pass for one sample. `analysis` supplies the object
    * definitions + selections + plots (e.g. ZMuMuAnalysis).
    *
    * TRUE single pass (the reference's one-event-loop model, SURVEY.md §4):
    * the cutflow rides the histogram pass as one-bin pseudo-plots per
    * selection node, and the per-file event counts ride the same
    * [[DenseFill]] kernel, so ALL histograms, the cutflow AND the counters
    * come from one scan. `withObjects` must keep one row per event (it
    * adds columns), since the counters count the rows it returns. The
    * merged result is bounded — at most Σ(nBins+2) rows plus one per
    * input file, asserted — so it is collected once, and the four result
    * tables are written from it concurrently, in the caller's job group. */
  def runSample(
      spark: SparkSession,
      events: DataFrame,
      module: AnalysisModule,
      outDir: String,
      sample: SampleConfig): Unit = {
    val objs = module.withObjects(events)
    val (noSel, chain) = module.selections()
    val cutflowPlots = chain.map(s =>
      Plot(CutPrefix + s.name, lit(0.5), s, EquidistantBinning(1, 0, 1)))
    val plots = module.plots(noSel, chain) ++ cutflowPlots
    val merged = HistogramPass.merge(HistogramPass.fill(objs, plots, countFiles = true))
    val rows = merged.collect()
    val bound = plots.map(_.binning.nBins + 2).sum + events.inputFiles.length + 1
    require(rows.length <= bound,
      s"runSample: ${rows.length} result rows exceed the bound $bound (slots + files)")
    val (fileRows, binRows) = rows.partition(_.getInt(1) == DenseFill.FileBucket)
    val (cutRows, histRows) = binRows.partition(_.getString(0).startsWith(CutPrefix))
    val res = s"$outDir/results/${sample.name}"
    def frame(rs: Seq[Row], schema: StructType) =
      spark.createDataFrame(rs.asJava, schema).coalesce(1)
    val binSchema = merged.schema
    val cutSchema = StructType(StructField("sel", StringType) +: binSchema.fields.toSeq.drop(2))
    val counterSchema = new StructType().add("file", StringType).add("n_events", LongType)
    val writes = Seq(
      "all" -> frame(binRows.toSeq, binSchema),
      "histograms" -> frame(histRows.toSeq, binSchema),
      "cutflow" -> frame(cutRows.toSeq.map(r =>
        Row(r.getString(0).substring(CutPrefix.length), r.get(2), r.get(3), r.get(4))), cutSchema),
      "counters" -> frame(fileRows.toSeq.map(r => Row(r.getString(0), r.get(2))), counterSchema))
    // One thread per table; withThreadLocalCaptured hands each the caller's
    // local properties (job group, scheduler pool) and active session.
    val pool = Executors.newFixedThreadPool(writes.size)
    try {
      val session = spark.asInstanceOf[classic.SparkSession]
      writes.map { case (table, df) =>
        SQLExecution.withThreadLocalCaptured(session, pool) {
          df.write.mode("overwrite").parquet(s"$res/$table")
        }
      }.foreach { f =>
        try f.get() catch { case e: ExecutionException => throw e.getCause }
      }
    } finally pool.shutdown()
  }

  /** Counter source (readCounters parity): total generated events per
    * sample; 0 for a sample that read no events. */
  def readCounters(spark: SparkSession, outDir: String, sample: String): Long =
    spark.read.parquet(s"$outDir/results/$sample/counters")
      .agg(coalesce(sum(col("n_events")), lit(0L))).head().getLong(0)

  /** Results source + normalization + group stacking (postProcess parity):
    * returns per-(group, plot, bucket) stacked, lumi-normalized histograms. */
  def postProcess(spark: SparkSession, cfg: AnalysisConfig, outDir: String): DataFrame = {
    val perSample = cfg.samples.map { s =>
      val scale = cfg.scaleFor(s)
      spark.read.parquet(s"$outDir/results/${s.name}/histograms")
        .withColumn("sample", lit(s.name))
        .withColumn("group", lit(s.group))
        .withColumn("sumw", col("sumw") * scale)
        .withColumn("sumw2", col("sumw2") * scale * scale)
    }.reduce(_ unionByName _)
    Normalization.stack(perSample)
  }

  /** Side-by-side overlay of two samples' histograms keyed by plot/bucket
    * (the FS-vs-Delphes comparison shape, SURVEY.md §2.7): full outer join
    * so missing buckets surface as nulls on either side. */
  def overlay(spark: SparkSession, outDir: String, sampleA: String, sampleB: String): DataFrame = {
    def side(name: String, tag: String) =
      spark.read.parquet(s"$outDir/results/$name/histograms")
        .select(col("plot"), col("bucket"),
          col("n").as(s"n_$tag"), col("sumw").as(s"sumw_$tag"))
    side(sampleA, "a").join(side(sampleB, "b"), Seq("plot", "bucket"), "full_outer")
  }
}
