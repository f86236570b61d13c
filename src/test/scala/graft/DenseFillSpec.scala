package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.flow._

/** The dense-fill kernel behind `HistogramPass` against its exploding
  * reference twin ([[ExplodedHistogramPass]]), over random plots, selection
  * DAGs and both binnings, on inputs with null values, null weights, NaN
  * and ±Infinity; plus its guard against buckets outside a plot's range. */
class DenseFillSpec extends SparkSpec {
  import spark.implicits._

  private type Stats = (Long, Option[Double], Option[Double])

  private def collectStats(df: DataFrame): Map[(String, Int), Stats] =
    df.collect().map { r =>
      def d(i: Int) = if (r.isNullAt(i)) None else Some(r.getDouble(i))
      (r.getString(0), r.getInt(1)) -> ((r.getLong(2), d(3), d(4)))
    }.toMap

  /** Equal up to summation order: null vs null, NaN vs NaN, the same
    * infinity, or finite values within a relative 1e-9. */
  private def sameSum(a: Option[Double], b: Option[Double]): Boolean = (a, b) match {
    case (None, None) => true
    case (Some(x), Some(y)) =>
      if (x.isNaN || y.isNaN) x.isNaN && y.isNaN
      else if (x.isInfinite || y.isInfinite) x == y
      else math.abs(x - y) <= 1e-9 * math.max(1.0, math.max(math.abs(x), math.abs(y)))
    case _ => false
  }

  private def assertSame(df: DataFrame, plots: Seq[Plot], clue: String): Unit = {
    val kernel = collectStats(HistogramPass.run(df, plots))
    val twin = collectStats(ExplodedHistogramPass.run(df, plots))
    assert(kernel.keySet == twin.keySet, s"$clue: bucket sets differ")
    twin.foreach { case (k, (n, sw, sw2)) =>
      val (kn, ksw, ksw2) = kernel(k)
      assert(kn == n && sameSum(ksw, sw) && sameSum(ksw2, sw2),
        s"$clue: $k kernel ${kernel(k)} vs twin ${twin(k)}")
    }
  }

  private val special = Gen.oneOf(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)
  private def value(lo: Double, hi: Double): Gen[Option[Double]] = Gen.frequency(
    6 -> Gen.choose(lo, hi).map(Some(_)), 2 -> Gen.const(None), 1 -> special.map(Some(_)))

  private val rowsGen: Gen[List[(Option[Double], Option[Double], Option[Double], Int)]] =
    Gen.listOf(for {
      x <- value(-8.0, 14.0)
      y <- value(-3.0, 3.0)
      w <- value(-2.0, 5.0)
      k <- Gen.choose(-1, 9)
    } yield (x, y, w, k))

  private val binningGen: Gen[Binning] = Gen.oneOf(
    for {
      n <- Gen.choose(1, 7); lo <- Gen.choose(-6.0, 2.0); width <- Gen.choose(0.5, 12.0)
    } yield EquidistantBinning(n, lo, lo + width),
    for {
      start <- Gen.choose(-6.0, 2.0); widths <- Gen.choose(1, 5).flatMap(Gen.listOfN(_, Gen.choose(0.5, 4.0)))
    } yield VariableBinning(widths.scanLeft(start)(_ + _)))

  private val columns: Seq[Column] = Seq(col("x"), col("y"), col("k"), col("x") * col("y"))
  private val cuts: Seq[Column] = Seq(col("x") > 0, col("y") < 1.5, col("k") >= 3, col("x").isNull)
  private val weightFactors: Seq[Column] = Seq(lit(1.0), lit(0.5), col("y"), abs(col("x")))

  /** A random selection DAG rooted at weight `w`, and plots on its nodes. */
  private val plotsGen: Gen[Seq[Plot]] = for {
    nNodes <- Gen.choose(1, 5)
    parents <- Gen.sequence[List[Int], Int]((1 until nNodes).map(i => Gen.choose(0, i - 1)))
    cutIdx <- Gen.listOfN(nNodes, Gen.choose(0, cuts.size - 1))
    wIdx <- Gen.listOfN(nNodes, Gen.choose(0, weightFactors.size - 1))
    nPlots <- Gen.choose(1, 6)
    picks <- Gen.listOfN(nPlots, for {
      node <- Gen.choose(0, nNodes - 1); c <- Gen.choose(0, columns.size - 1); b <- binningGen
    } yield (node, c, b))
  } yield {
    val nodes = parents.zipWithIndex.foldLeft(Vector(Selection.root("s0", col("w")))) {
      case (acc, (p, i)) => acc :+ acc(p).refine(s"s${i + 1}", cuts(cutIdx(i)), weightFactors(wIdx(i)))
    }
    picks.zipWithIndex.map { case ((node, c, b), i) => Plot(s"p$i", columns(c), nodes(node), b) }
  }

  test("property: the dense fill equals the exploding twin on any plots and inputs") {
    val cases = for { rows <- rowsGen; plots <- plotsGen; parts <- Gen.choose(1, 3) } yield (rows, plots, parts)
    (0 until 24).foreach { i =>
      cases.apply(Gen.Parameters.default.withSize(30), Seed(7L + i)).foreach { case (rows, plots, parts) =>
        val df = rows.toDF("x", "y", "w", "k").repartition(parts)
        assertSame(df, plots, s"case $i (${rows.size} rows, ${plots.size} plots)")
      }
    }
  }

  test("null weights count in n, skip the sums, and an all-null bucket keeps null sums") {
    val df = Seq[(Double, Option[Double])]((1.0, None), (2.0, None), (6.0, Some(2.0)), (7.0, None))
      .toDF("x", "w")
    val plots = Seq(Plot("h", col("x"), Selection.root("all", col("w")), EquidistantBinning(2, 0.0, 10.0)))
    val got = collectStats(HistogramPass.run(df, plots))
    assert(got(("h", 0)) == ((2L, None, None)))
    assert(got(("h", 1)) == ((2L, Some(2.0), Some(4.0))))
    assertSame(df, plots, "null weights")
  }

  test("NaN and infinite values land in the flow buckets, as the Column binning puts them") {
    val df = Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity, 3.0)
      .map(x => (x, 1.0)).toDF("x", "w")
    val root = Selection.root("all", col("w"))
    val plots = Seq(
      Plot("eq", col("x"), root, EquidistantBinning(4, 0.0, 8.0)),
      Plot("var", col("x"), root, VariableBinning(Seq(0.0, 1.0, 5.0))))
    val got = collectStats(HistogramPass.run(df, plots)).map { case (k, v) => k -> v._1 }
    // Spark orders NaN above every value: NaN and +Inf overflow
    assert(got == Map(("eq", -1) -> 1L, ("eq", 4) -> 2L, ("eq", 1) -> 1L,
      ("var", -1) -> 1L, ("var", 2) -> 2L, ("var", 1) -> 1L))
    assertSame(df, plots, "non-finite values")
  }

  test("a histogram frame joins and unions with itself") {
    val df = Seq((1.0, 1.0), (2.0, 2.0), (7.0, 1.0)).toDF("x", "w")
    val h = HistogramPass.run(df, Seq(
      Plot("h", col("x"), Selection.root("all", col("w")), EquidistantBinning(2, 0.0, 10.0))))
    val joined = h.as("a").join(h.as("b"), Seq("plot", "bucket"))
      .select(col("bucket"), col("a.sumw"), col("b.sumw")).collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2))).toSet
    assert(joined == Set((0, 3.0, 3.0), (1, 1.0, 1.0)))
    assert(h.union(h).count() == 4)
  }

  test("a bucket outside [-1, nBins] fails with a named message, not a neighbour's bins") {
    val layout = Seq(DenseFill.Slot("left", 3, 0), DenseFill.Slot("right", 3, 0))
    def fill(bucket: Int) = DenseFill(Seq((bucket, 0, 1.0)).toDF("b", "ok", "w"), layout,
      Seq(col("b"), col("ok")), Seq(col("w")), None).collect()
    assert(fill(3).map(r => (r.getString(0), r.getInt(1))).toSet == Set(("left", 3), ("right", 0)))
    Seq(4, -2).foreach { bad =>
      val e = intercept[Exception](fill(bad))
      val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage)
      assert(messages.exists(m => m != null && m.contains(s"plot 'left' bucket $bad outside [-1, 3]")),
        s"unexpected failure for bucket $bad: $e")
    }
  }
}
