package perfbench

import java.security.MessageDigest
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{AnalysisConfig, SampleConfig}
import graft.flow._
import graft.functions.CollectionOps.crossClean
import graft.physics.{EventGen, ZMuMuAnalysis}

/** Event inputs: `EventGen.event` over a seed-derived id range, written once
  * to Parquet so the timed passes only read files. */
object EventInputs {
  /** Event-id offset of input `index` for `seed`: disjoint ranges per input. */
  def offset(seed: Long, index: Int): Long = seed * 100000000L + index * 10000000L

  def write(spark: SparkSession, dir: String, offset: Long, n: Int, files: Int): Unit = {
    import spark.implicits._
    spark.createDataset((offset until offset + n).map(EventGen.event)).toDF()
      .repartition(files).write.mode("overwrite").parquet(dir)
  }

  /** Order-independent content digest of the rows under `dir`. */
  def digest(spark: SparkSession, dir: String): String = {
    val df = spark.read.parquet(dir)
    val r = df.agg(count(lit(1)), bit_xor(xxhash64(df.columns.map(col).toIndexedSeq: _*))).head()
    f"${r.getLong(0)}:${r.getLong(1)}%016x"
  }

  /** ΔR evaluations `crossClean` makes while building the shared lepton and
    * jet objects: Σ|A|·|B| over its calls, counted from collection sizes. */
  def deltaRPairs(objs: DataFrame): Long = {
    val jetsVsElec = crossClean(col("jetpuppi"), col("id_elec"), 0.3)
    objs.agg(sum(
      size(col("sel_elec")) * size(col("sel_muon")) * 2 +
        size(col("jetpuppi")) * size(col("id_elec")) +
        size(jetsVsElec) * size(col("id_muon"))).cast("long")).head().getLong(0)
  }

  def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  def sha(lines: Seq[String]): String =
    MessageDigest.getInstance("SHA-256").digest(lines.sorted.mkString("\n").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(16)

  /** (plot, bucket, n, sumw to 2 decimals): the recorded-digest row form. */
  def histLine(prefix: String, r: Row): String =
    f"$prefix|${r.getAs[String]("plot")}|${r.getAs[Int]("bucket")}|${r.getAs[Long]("n")}|${r.getAs[Double]("sumw")}%.2f"
}

/** Output checks that hold for any seed. */
object PhysicsChecks {
  /** `cutflow` maps selection name to n; `chain` is an ordered path whose n
    * may never grow; `histN` maps plot name to its Σn. */
  def apply(
      label: String, events: Long, cutflow: Map[String, Long], chain: Seq[String],
      plots: Seq[Plot], histN: Map[String, Long]): Seq[String] = {
    val f = Seq.newBuilder[String]
    val root = cutflow.getOrElse(chain.head, -1L)
    if (root != events) f += s"$label: ${chain.head} n=$root, events read=$events"
    chain.map(s => cutflow.getOrElse(s, 0L)).sliding(2).zip(chain.sliding(2)).foreach {
      case (Seq(a, b), Seq(sa, sb)) if b > a => f += s"$label: cutflow grows $sa=$a -> $sb=$b"
      case _ =>
    }
    plots.foreach { p =>
      val n = histN.getOrElse(p.name, 0L)
      if (n == 0) f += s"$label: plot ${p.name} is empty"
      val selN = cutflow.getOrElse(p.selection.name, 0L)
      if (n > selN) f += s"$label: plot ${p.name} sum n=$n > ${p.selection.name} n=$selN"
    }
    f.result()
  }

  def sameCutflow(label: String, a: Map[String, (Long, Double)], b: Map[String, (Long, Double)]): Seq[String] =
    (a.keySet ++ b.keySet).toSeq.sorted.flatMap { k =>
      val (na, wa) = a.getOrElse(k, (0L, 0.0))
      val (nb, wb) = b.getOrElse(k, (0L, 0.0))
      if (na != nb || math.abs(wa - wb) > 1e-6 * math.max(1.0, math.abs(wa)))
        Some(s"$label: cutflow $k differs: ($na, $wa) vs ($nb, $wb)")
      else None
    }

  def reportMap(entries: Seq[CutFlowReport.Entry]): Map[String, (Long, Double)] =
    entries.map(e => e.name -> (e.n, e.sumw)).toMap
}

/** The paper's main analysis run as a user runs it: one `SampleRunner` pass
  * per sample of a two-sample config (TT, DY), then `postProcess`. */
final class ZMuMuSamples(spark: SparkSession, work: String, seed: Long, n: Int, files: Int)
    extends Workload {
  private val outDir = s"$work/zmumu-out"
  private def inputDir(s: String) = s"$work/zmumu-in/$s"

  /** Mirrors the reference's phaseII-analysis-FS.yml: 3000 fb⁻¹, TT at
    * 950 pb and DY at 5620 pb. */
  val cfg: AnalysisConfig = AnalysisConfig.fromYamlString(
    s"""tree: myana/mytree
       |eras:
       |  HL-LHC:
       |    luminosity: 3000000
       |samples:
       |  TT:
       |    era: HL-LHC
       |    type: MC
       |    group: ttbar
       |    files: [${inputDir("TT")}]
       |    generated-events: $n
       |    cross-section: 950
       |  DY:
       |    era: HL-LHC
       |    type: MC
       |    group: DY
       |    files: [${inputDir("DY")}]
       |    generated-events: $n
       |    cross-section: 5620
       |""".stripMargin)
  private val samples = cfg.samples.sortBy(_.name)

  def inputRecords: Long = n.toLong * samples.size
  def minWarmPasses: Int = 3

  def generate(): Unit = samples.zipWithIndex.foreach { case (s, i) =>
    EventInputs.write(spark, inputDir(s.name), EventInputs.offset(seed, i), n, files)
  }

  def inputDigest(): String =
    samples.map(s => s"${s.name}=${EventInputs.digest(spark, inputDir(s.name))}").mkString(",")

  private def events(s: SampleConfig) = spark.read.parquet(inputDir(s.name))

  def pass(): PassResult = {
    val perSample = samples.map { s =>
      Timing.seconds(SampleRunner.runSample(spark, events(s), ZMuMuAnalysis, outDir, s))
    }
    PassResult(perSample :+ Timing.seconds(SampleRunner.postProcess(spark, cfg, outDir).collect()), 1, 0)
  }

  def tracedPass(tr: Tracer): (PassResult, Map[String, Double]) = {
    val m = LayerSums()
    samples.foreach { s =>
      val ev = events(s)
      val (_, scan) = tr.span("sources.scan")(EventInputs.noop(ev))
      val ((objs, plots, chain), buildS) = Timing.timed {
        val objs = ZMuMuAnalysis.withObjects(ev)
        val (noSel, chain) = ZMuMuAnalysis.selections()
        (objs, ZMuMuAnalysis.plots(noSel, chain), chain)
      }
      // The pass as SampleRunner builds it: the cutflow rides the histogram
      // pass as one-bin pseudo-plots.
      val cutPlots = chain.map(c => Plot("__cutflow__" + c.name, lit(0.5), c, EquidistantBinning(1, 0, 1)))
      val hist = HistogramPass.run(objs, plots ++ cutPlots)
      val (_, planS) = Timing.timed(hist.queryExecution.executedPlan)
      val (_, obj) = tr.span("physics.objects")(EventInputs.noop(objs))
      val (_, hp) = tr.span("flow.hist")(EventInputs.noop(hist))
      val (_, run) = tr.span("flow.runSample")(SampleRunner.runSample(spark, ev, ZMuMuAnalysis, outDir, s))
      // The stand-alone cutflow pass over the same objects, which the output
      // check runs too; it is not part of the pass, so not in its self times.
      val (_, cf) = tr.span("flow.cutflow")(CutFlowReport.report(objs, chain))
      // runSample's SQL executions: the histogram pass (the first to scan
      // the input) ending in the write of its aggregate, the result splits,
      // and the counter sidecar (any later scan of the input). Writing is
      // every job that does not scan the input, up to the sidecar.
      val scanStages = run.scanStages(n.toLong).toSet
      def scans(j: JobRec) = j.stages.exists(scanStages)
      val (scanning, other) = run.executions.partition(_.exists(scans))
      val countersS = scanning.drop(1).map(Tracer.wall).sum
      val writeS = other.map(Tracer.wall).sum +
        scanning.headOption.toSeq.flatten.filterNot(scans).map(j => Tracer.wall(Seq(j))).sum
      m.add("sources.scan_s", scan.seconds)
      m.add("sources.scans", scanStages.size.toDouble / samples.size)
      m.add("sources.input_bytes", run.counters.inputBytes.toDouble)
      m.add("physics.build_s", buildS)
      m.add("physics.objects_s", obj.seconds - scan.seconds)
      m.add("physics.objects_core_s", obj.counters.coreS - scan.counters.coreS)
      m.add("functions.delta_r_pairs", EventInputs.deltaRPairs(objs).toDouble)
      m.add("flow.plan_s", planS)
      m.add("flow.hist_s", hp.seconds - obj.seconds)
      m.add("flow.hist_core_s", hp.counters.coreS - obj.counters.coreS)
      m.add("flow.hist_shuffle_bytes", hp.counters.shuffleWrite.toDouble)
      m.add("flow.write_s", writeS)
      m.add("flow.counters_s", countersS)
      m.add("flow.cutflow_s", cf.seconds - scan.seconds)
      m.addCounts("flow", run.counters)
      m.add("traced_pass_s", run.seconds)
      val entries = n.toLong * (plots.size + cutPlots.size)
      val kept = spark.read.parquet(s"$outDir/results/${s.name}/all").agg(sum("n")).head().getLong(0)
      m.add("flow.hist_entries", entries.toDouble)
      m.add("flow.hist_entry_kept", kept.toDouble)
    }
    val (_, pp) = tr.span("flow.postprocess")(SampleRunner.postProcess(spark, cfg, outDir).collect())
    m.add("flow.postprocess_s", pp.seconds)
    m.addCounts("flow", pp.counters)
    m.add("traced_pass_s", pp.seconds)
    (PassResult(Nil, 1, 0), m.result(selfTimes = Seq("sources.scan_s", "physics.build_s",
      "physics.objects_s", "flow.hist_s", "flow.write_s", "flow.counters_s", "flow.postprocess_s")))
  }

  def check(expected: Option[String]): Seq[String] = {
    val (noSel, chain) = ZMuMuAnalysis.selections()
    val plots = ZMuMuAnalysis.plots(noSel, chain)
    val digestLines = Seq.newBuilder[String]
    val failures = samples.flatMap { s =>
      val res = s"$outDir/results/${s.name}"
      val cut = spark.read.parquet(s"$res/cutflow").collect()
        .map(r => r.getAs[String]("sel") -> (r.getAs[Long]("n"), r.getAs[Double]("sumw"))).toMap
      val hists = spark.read.parquet(s"$res/histograms").collect()
      digestLines ++= hists.map(EventInputs.histLine(s.name, _))
      val histN = hists.groupBy(_.getAs[String]("plot")).map { case (p, rs) => p -> rs.map(_.getAs[Long]("n")).sum }
      val report = CutFlowReport.report(ZMuMuAnalysis.withObjects(events(s)), chain)
      val counted = SampleRunner.readCounters(spark, outDir, s.name)
      PhysicsChecks(s"zmumu/${s.name}", n.toLong, cut.map { case (k, v) => k -> v._1 }, chain.map(_.name),
        plots, histN) ++
        PhysicsChecks.sameCutflow(s"zmumu/${s.name}", cut, PhysicsChecks.reportMap(report)) ++
        (if (counted != n) Seq(s"zmumu/${s.name}: counter sidecar says $counted events, read $n") else Nil)
    }
    val stacked = SampleRunner.postProcess(spark, cfg, outDir).count()
    failures ++ (if (stacked == 0) Seq("zmumu: postProcess returned no rows") else Nil) ++
      Expected.compare("zmumu-samples", expected, EventInputs.sha(digestLines.result()))
  }
}
