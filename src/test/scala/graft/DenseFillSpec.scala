package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.flow._
import graft.functions.CollectionOps.nth

/** The dense-fill kernel behind `HistogramPass` against its exploding
  * reference twin ([[ExplodedHistogramPass]]), which bins with the Column
  * spelling of each binning: over random plots, selection DAGs and both
  * binnings, on double, float and int values that include nulls, null
  * weights, NaN, ±Infinity, ±0.0, ±MaxValue, bin edges and the values just
  * below them; plus its lazy evaluation of values and its guard against
  * buckets outside a plot's range. */
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

  private val special = Gen.oneOf(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
    0.0, -0.0, Double.MaxValue, -Double.MaxValue)
  /** Quarter-integers, and the double just below each: every edge of the
    * half-integer grid binnings below (all variable ones, equidistant ones
    * up to n = 2) is one of them. */
  private val edge: Gen[Double] = for {
    q <- Gen.choose(-32, 64); below <- Gen.oneOf(false, true)
  } yield if (below) Math.nextDown(q / 4.0) else q / 4.0
  private def value(lo: Double, hi: Double): Gen[Option[Double]] = Gen.frequency(
    5 -> Gen.choose(lo, hi).map(Some(_)), 3 -> edge.map(Some(_)), 2 -> Gen.const(None),
    1 -> special.map(Some(_)))

  private val rowsGen: Gen[List[(Option[Double], Option[Double], Option[Double], Int, Option[Float])]] =
    Gen.listOf(for {
      x <- value(-8.0, 14.0)
      y <- value(-3.0, 3.0)
      w <- value(-2.0, 5.0)
      k <- Gen.choose(-1, 9)
      z <- value(-8.0, 14.0)
    } yield (x, y, w, k, z.map(_.toFloat)))

  private val binningGen: Gen[Binning] = Gen.oneOf(
    for {
      n <- Gen.choose(1, 7); lo <- Gen.choose(-6.0, 2.0); width <- Gen.choose(0.5, 12.0)
    } yield EquidistantBinning(n, lo, lo + width),
    for {
      start <- Gen.choose(-6.0, 2.0); widths <- Gen.choose(1, 5).flatMap(Gen.listOfN(_, Gen.choose(0.5, 4.0)))
    } yield VariableBinning(widths.scanLeft(start)(_ + _)),
    // on the half-integer grid, so `edge` values fall on their edges
    for {
      n <- Gen.choose(1, 7); lo <- Gen.choose(-12, 4); width <- Gen.choose(1, 24)
    } yield EquidistantBinning(n, lo / 2.0, lo / 2.0 + width / 2.0),
    for {
      start <- Gen.choose(-12, 4); widths <- Gen.choose(1, 5).flatMap(Gen.listOfN(_, Gen.choose(1, 8)))
    } yield VariableBinning(widths.scanLeft(start)(_ + _).map(_ / 2.0)))

  private val columns: Seq[Column] = Seq(col("x"), col("y"), col("k"), col("z"), col("x") * col("y"))
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
        val df = rows.toDF("x", "y", "w", "k", "z").repartition(parts)
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

  private val extremes = Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
    Double.MaxValue, -Double.MaxValue, Double.MaxValue / 2, Double.MinPositiveValue, 0.0, -0.0,
    1.0, Math.nextDown(1.0), 3.0, Math.nextDown(3.0))

  /** Plot "left" bins `x` with `left` on every row; plot "right" owns the
    * slots after it and its selection never passes. Merged over partitions. */
  private def fillLeft(left: Binning): Array[(String, Int, Long)] = {
    val df = extremes.map(x => (x, 1.0)).toDF("x", "w")
    DenseFill(df,
      Seq(DenseFill.Slot("left", left, 0, 0, 0), DenseFill.Slot("right", EquidistantBinning(3, 0.0, 3.0), 0, 1, 0)),
      Seq(col("x")), Seq(lit(true), lit(false)), Seq(col("w")), None)
      .groupBy("plot", "bucket").agg(sum("n")).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
  }

  test("extreme values stay in [-1, nBins] and out of a neighbour's slots") {
    Seq(EquidistantBinning(3, 0.0, 3.0), VariableBinning(Seq(0.0, 1.0, 2.0, 3.0))).foreach { b =>
      val got = fillLeft(b)
      assert(got.forall { case (p, bucket, _) => p == "left" && bucket >= -1 && bucket <= 3 }, got.toSeq)
      val column = extremes.toDF("x").select(b.bucket(col("x"))).as[Int].collect()
        .groupBy(identity).map { case (bucket, xs) => ("left", bucket, xs.length.toLong) }
      assert(got.toSet == column.toSet, s"$b: kernel ${got.toSeq} vs Column $column")
    }
  }

  test("a bucket outside [-1, nBins] fails with a named message, not a neighbour's bins") {
    // (MaxValue/2 − 0)·3 overflows to +Inf, so floor gives no int bucket;
    // the Column spelling fails too (its int cast overflows under ANSI)
    val wide = EquidistantBinning(3, 0.0, Double.MaxValue)
    intercept[Exception](Seq(Double.MaxValue / 2).toDF("x").select(wide.bucket(col("x"))).collect())
    val e = intercept[Exception](fillLeft(wide))
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage)
    assert(messages.exists(m => m != null && m.contains(s"plot 'left' bucket ${Int.MaxValue} outside [-1, 3]")),
      s"unexpected failure: $e")
  }

  test("a value is computed only on rows where one of its plots' selections passes") {
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true")
    val df = Seq((Seq(5.0), 1.0), (Seq(5.0, 7.0), 2.0), (Seq.empty[Double], 1.0)).toDF("pts", "w")
      .select(transform(col("pts"), p => struct(p.as("pt"))).as("jets"), col("w"))
    val root = Selection.root("all", col("w"))
    val twoJets = root.refine("ge2", size(col("jets")) >= 2)
    val second = nth(col("jets"), 1)("pt")
    val got = collectStats(HistogramPass.run(df, Seq(
      Plot("second", second, twoJets, EquidistantBinning(10, 0.0, 10.0)),
      Plot("n", size(col("jets")), root, EquidistantBinning(3, 0.0, 3.0)))))
    assert(got == Map(("second", 7) -> ((1L, Some(2.0), Some(4.0))),
      ("n", 0) -> ((1L, Some(1.0), Some(1.0))), ("n", 1) -> ((1L, Some(1.0), Some(1.0))),
      ("n", 2) -> ((1L, Some(2.0), Some(4.0)))))
    // on the root, events with fewer than two jets read past the end
    val e = intercept[Exception](HistogramPass.run(df,
      Seq(Plot("second", second, root, EquidistantBinning(10, 0.0, 10.0)))).collect())
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage)
    assert(messages.exists(m => m != null && m.contains("INVALID_ARRAY_INDEX_IN_ELEMENT_AT")),
      s"unexpected failure: $e")
  }
}
