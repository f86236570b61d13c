package graft

import graft.physics._
import graft.flow.CutFlowReport

/** End-to-end reference-parity pipeline on synthetic events: the full
  * Z→μμ chain (reference phaseII-analysis.py:306-363) in one pass. */
class ZMuMuSpec extends SparkSpec {

  private lazy val events = EventGen.dataFrame(spark, 2000)
  private lazy val result: (org.apache.spark.sql.DataFrame, Seq[CutFlowReport.Entry]) =
    ZMuMuAnalysis.run(events)

  test("cutflow is monotone and all steps populated sanely") {
    val cf = result._2
    assert(cf.head.name == "noSel" && cf.head.n == 2000)
    cf.sliding(2).foreach {
      case Seq(a, b) => assert(b.n <= a.n, s"${b.name} yield grew")
      case _ => ()
    }
    assert(cf.last.name == "MET")
    assert(cf.forall(e => e.stepEff >= 0 && e.stepEff <= 1.0 + 1e-12))
    // The chain must actually cut (nmumu requires 2 OS id'd muons)
    assert(cf(1).n < 2000 && cf(1).n > 0)
  }

  test("histograms exist for every registered plot and have positive content") {
    val perPlot = result._1.groupBy("plot").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val (noSel, chain) = ZMuMuAnalysis.selections()
    ZMuMuAnalysis.plots(noSel, chain).foreach { p =>
      assert(perPlot.getOrElse(p.name, 0L) > 0, s"plot ${p.name} empty")
    }
  }

  test("one-pass execution: histogram pass is a single spark job over one scan") {
    // Structural check: the exploded plan contains exactly one scan of the
    // event source (no per-plot re-scan).
    val objs = ZMuMuAnalysis.withObjects(events)
    val (noSel, chain) = ZMuMuAnalysis.selections()
    val hists = graft.flow.HistogramPass.run(objs, ZMuMuAnalysis.plots(noSel, chain))
    val scans = hists.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
        if l.nodeName == "LocalRelation" || l.nodeName == "Relation" => l
    }
    assert(scans.size == 1, s"expected 1 source scan in plan, got ${scans.size}")
  }

  test("the fill evaluates each distinct plot value once: 14 values for 67 plots") {
    import org.apache.spark.sql.functions.lit
    import graft.flow.{DenseFillPlan, EquidistantBinning, HistogramPass, Plot}
    val (noSel, chain) = ZMuMuAnalysis.selections()
    // the plots SampleRunner fills: the 61 histograms and one cutflow plot per node
    val plots = ZMuMuAnalysis.plots(noSel, chain) ++
      chain.map(s => Plot("__cutflow__" + s.name, lit(0.5), s, EquidistantBinning(1, 0, 1)))
    val fill = HistogramPass.run(ZMuMuAnalysis.withObjects(events), plots)
      .queryExecution.optimizedPlan.collectFirst { case d: DenseFillPlan => d }.get
    assert(plots.size == 67)
    assert((fill.layout.size, fill.values.size, fill.flags.size, fill.weights.size) == ((67, 14, 6, 6)))
  }

  test("sample config YAML parses and normalizes like the reference") {
    val cfg = graft.core.AnalysisConfig.fromYamlString(
      """tree: myana/mytree
        |eras:
        |  HL-LHC:
        |    luminosity: 3000000
        |samples:
        |  TT:
        |    era: HL-LHC
        |    type: MC
        |    group: TT
        |    files: [a.parquet, b.parquet]
        |    generated-events: 1000000
        |    cross-section: 950
        |""".stripMargin)
    assert(cfg.tree == "myana/mytree")
    assert(cfg.eras("HL-LHC") == 3000000.0)
    val tt = cfg.samples.head
    assert(tt.name == "TT" && tt.files.size == 2)
    assert(math.abs(cfg.scaleFor(tt) - 2850.0) < 1e-9)
  }
}
