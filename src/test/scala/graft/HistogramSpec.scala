package graft

import org.apache.spark.sql.functions._
import graft.flow._

class HistogramSpec extends SparkSpec {
  import spark.implicits._

  test("equidistant binning: edges, underflow, overflow") {
    val b = EquidistantBinning(4, 0.0, 8.0) // bins [0,2) [2,4) [4,6) [6,8)
    val df = Seq(-1.0, 0.0, 1.99, 2.0, 7.99, 8.0, 100.0).toDF("x")
    val got = df.select(b.bucket(col("x")).as("b")).as[Int].collect().toSeq
    assert(got == Seq(-1, 0, 0, 1, 3, 4, 4))
    assert(Seq(-1.0, 0.0, 1.99, 2.0, 7.99, 8.0, 100.0).map(b.bucketOf) == got)
  }

  test("variable binning: edges, underflow, overflow") {
    val b = VariableBinning(Seq(0.0, 1.0, 10.0, 100.0))
    val df = Seq(-0.5, 0.0, 0.99, 1.0, 9.99, 99.0, 100.0).toDF("x")
    val got = df.select(b.bucket(col("x")).as("b")).as[Int].collect().toSeq
    assert(got == Seq(-1, 0, 0, 1, 1, 2, 3))
    assert(Seq(-0.5, 0.0, 0.99, 1.0, 9.99, 99.0, 100.0).map(b.bucketOf) == got)
  }

  test("a null value has no bucket in either binning and fills nothing") {
    val eq = EquidistantBinning(2, 0.0, 10.0)
    val vb = VariableBinning(Seq(0.0, 1.0, 10.0))
    val df = Seq[(Option[Double], Double)]((None, 1.0), (Some(4.0), 1.0)).toDF("x", "w")
    val buckets = df.select(eq.bucket(col("x")), vb.bucket(col("x"))).collect()
      .map(r => (Option(r.get(0)), Option(r.get(1)))).toSeq
    assert(buckets == Seq((None, None), (Some(0), Some(1))))
    val root = Selection.root("all", col("w"))
    val filled = HistogramPass.run(df, Seq(Plot("eq", col("x"), root, eq), Plot("var", col("x"), root, vb)))
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(filled == Map(("eq", 0) -> 1L, ("var", 1) -> 1L))
  }

  test("single-pass multi-histogram: weighted contents + sumw2") {
    val df = Seq((1.0, 2.0), (3.0, 2.0), (5.0, 1.0), (11.0, 4.0)).toDF("x", "w")
    val root = Selection.root("all", col("w"))
    val cut = root.refine("xgt2", col("x") > 2)
    val plots = Seq(
      Plot("hx_all", col("x"), root, EquidistantBinning(2, 0.0, 10.0)),
      Plot("hx_cut", col("x"), cut, EquidistantBinning(2, 0.0, 10.0)))
    val h = HistogramPass.run(df, plots)
      .collect().map(r => (r.getString(0), r.getInt(1)) -> (r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    // hx_all: bucket0=[0,5): x=1(w2),3(w2) → n2 sumw4 sumw2 8 ; bucket1=[5,10): x=5(w1) ; overflow: 11(w4)
    assert(h(("hx_all", 0)) == ((2L, 4.0, 8.0)))
    assert(h(("hx_all", 1)) == ((1L, 1.0, 1.0)))
    assert(h(("hx_all", 2)) == ((1L, 4.0, 16.0)))
    // hx_cut excludes x=1
    assert(h(("hx_cut", 0)) == ((1L, 2.0, 4.0)))
    assert(h(("hx_cut", 1)) == ((1L, 1.0, 1.0)))
    assert(h(("hx_cut", 2)) == ((1L, 4.0, 16.0)))
  }

  test("histogram total SumW equals the selection's cutflow SumW (incl. flows)") {
    val df = graft.physics.EventGen.dataFrame(spark, 500)
    val objs = graft.physics.ZMuMuAnalysis.withObjects(df)
    val (noSel, chain) = graft.physics.ZMuMuAnalysis.selections()
    val hists = HistogramPass.run(objs, Seq(
      Plot("met", col("met_pt"), chain(1), EquidistantBinning(10, 0.0, 50.0))))
    val histSumW = hists.agg(sum("sumw")).head().getDouble(0)
    val cf = CutFlowReport.report(objs, chain)
    val selSumW = cf.find(_.name == "nmumu").get.sumw
    assert(math.abs(histSumW - selSumW) < 1e-9,
      s"hist total $histSumW != selection sumw $selSumW")
  }

  test("normalization scales contents and variances correctly") {
    val df = Seq((1.0, 2.0)).toDF("x", "w")
    val root = Selection.root("all", col("w"))
    val h = HistogramPass.run(df, Seq(Plot("h", col("x"), root, EquidistantBinning(1, 0.0, 10.0))))
    val s = Normalization.scaleFactor(3000000, 950, 1000000) // lumi·xsec/genEvents = 2850
    val scaled = Normalization.scaleHistograms(h, s).head()
    assert(math.abs(scaled.getAs[Double]("sumw") - 2.0 * s) < 1e-9)
    assert(math.abs(scaled.getAs[Double]("sumw2") - 4.0 * s * s) < 1e-6)
  }

  test("ratio error propagation formula") {
    val (r, e) = Normalization.ratioWithError(d = 100.0, sigmaD2 = 100.0, m = 200.0, sigmaM2 = 400.0)
    assert(math.abs(r - 0.5) < 1e-12)
    // err = sqrt(m²σd² + d²σm²)/m² = sqrt(4e4·1e2·... ) compute: m²=4e4; m²σd²=4e6; d²σm²=1e4·400=4e6 → sqrt(8e6)/4e4
    assert(math.abs(e - math.sqrt(8e6) / 4e4) < 1e-12)
  }
}
