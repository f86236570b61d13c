package graft.operators

import org.apache.spark.sql.functions._
import graft.core.{QueryDef, Tables}

/** Harness-extension relational operators beyond the reference surface:
  * exact percentiles, cube grouping sets, and sketch-based distinct counts.
  */
object RelationalExt {

  /** Pairwise Pearson correlation matrix over numeric columns — the
    * feature-redundancy audit, computed the single-pass way: ONE
    * aggregation emits every moment sum (Σxᵢ, Σxᵢ², Σxᵢxⱼ) and the d·(d−1)/2
    * correlations unfold driver-side from that one row — the corpus is
    * scanned once whatever d, no per-pair jobs, no corr() re-scans.
    * Numerics: the moment sums are order-dependent doubles, so outputs
    * round(·, 6) (noise-dominated rule); the corr dag itself (products,
    * differences, IEEE sqrt) is mirrored verbatim in the oracle. */
  def corrMatrix(df: org.apache.spark.sql.DataFrame,
      cols: Seq[String]): org.apache.spark.sql.DataFrame = {
    require(cols.size >= 2)
    val pairs = for {
      i <- cols.indices; j <- cols.indices if i < j
    } yield (cols(i), cols(j))
    val moments =
      Seq(count(lit(1)).cast("double").as("m")) ++
        cols.map(c => sum(col(c)).as(s"s_$c")) ++
        cols.map(c => sum(col(c) * col(c)).as(s"ss_$c")) ++
        pairs.map { case (x, y) => sum(col(x) * col(y)).as(s"sp_${x}_$y") }
    val one = df.agg(moments.head, moments.tail: _*)
    // unfold from the ONE aggregate row via explode — a per-pair
    // union-of-selects would re-reference (and re-scan) the aggregation
    // subtree once per pair (the q100 branch-and-join hazard)
    val pairStructs = pairs.map { case (x, y) =>
      val num = col("m") * col(s"sp_${x}_$y") - col(s"s_$x") * col(s"s_$y")
      val den = sqrt(col("m") * col(s"ss_$x") - col(s"s_$x") * col(s"s_$x")) *
        sqrt(col("m") * col(s"ss_$y") - col(s"s_$y") * col(s"s_$y"))
      struct(lit(x).as("col_a"), lit(y).as("col_b"), round(num / den, 6).as("r"))
    }
    one.select(explode(array(pairStructs: _*)).as("p"))
      .select(col("p.col_a").as("col_a"), col("p.col_b").as("col_b"),
        col("p.r").as("r"))
      .orderBy(col("col_a"), col("col_b"))
  }

  /** Market-basket association rules over order line items — the classic
    * support/confidence/lift mining, shaped for scale: baskets are the
    * distinct (order, part) projection materialized ONCE (three censuses
    * derive from it), the pair census comes from a basket self-join on
    * the order key whose fan is bounded by per-order basket size squared
    * (single digits on order data — the q154 per-key-bound argument, not
    * an all-pairs join), and everything after the `minSupport` cut is
    * output-sized. Both confidence directions and the lift are pure
    * rationals of exact integer censuses → floor-quantized (never
    * round()), so the gate replays them bit-identically. */
  def basketRules(lineitem: org.apache.spark.sql.DataFrame,
      minSupport: Long = 3, maxBasket: Int = Int.MaxValue): org.apache.spark.sql.DataFrame = {
    import graft.core.Lineage.CutOps
    // ONE exchange, keyed on the JOIN key, full width (r14): hash(okey)
    // satisfies the distinct's ClusteredDistribution(okey, pk) — coarser
    // key, same co-location — so the dedup aggregate rides this exchange
    // with no exchange of its own, and the checkpointed baskets come out
    // HashPartitioning(okey) at the session's full parallelism. The pair
    // self-join on okey then needs NO exchange on either side. Before:
    // distinct's own (okey, pk) exchange was AQE-coalesced to 5
    // partitions before the checkpoint, so the |basket|²-fan pair stage —
    // the operator's dominant compute — ran 5 tasks wide on 32 cores
    // (measured 0.66 s mean/task; 6× under-parallel). REPARTITION_BY_NUM
    // is exempt from AQE coalescing, which here is load-bearing, and the
    // okey partitioning survives localCheckpoint. Dedup-factor cost of
    // losing map-side partial dedup below the exchange is ~1.07 on
    // (okey, pk) — noise against a full-width pair stage.
    val par = lineitem.sparkSession.sparkContext.defaultParallelism
    // cutPreShuffled (r14): the okey partitioning does NOT survive a plain
    // AQE checkpoint (CutPartProbe at 94bd464 — the r14-part-I comment above claimed
    // it did; the pair join was re-exchanging both sides post-cut), so the
    // hash(okey, par) layout the numbered repartition established is
    // re-asserted on the cut — the pair self-join and the basket censuses
    // keyed on okey now genuinely ride it exchange-free
    val allBaskets = graft.core.Lineage.cutPreShuffled(lineitem
      .select(col("l_orderkey").as("okey"), col("l_partkey").as("pk"))
      .repartition(par, col("okey"))
      .distinct(), par, "okey")
    // Hot-basket guard (the minhashLshPairs(maxBucket) / editDistancePairs
    // (maxKeyCount) discipline): a pseudo-basket class — a "shipping fee"
    // item in every order, a crawl catalog's bulk order — makes the pair
    // fan |basket|² for that order. Orders past the cap drop ENTIRELY
    // (biasing support down for their parts, never exploding the join);
    // the size census is a partial agg + co-partitioned semi-join on the
    // okey the pair join shuffles on anyway. Default = uncapped: the size
    // census stage only exists when a cap is requested.
    val baskets =
      if (maxBasket == Int.MaxValue) allBaskets
      else {
        val ok = allBaskets.groupBy(col("okey")).agg(count(lit(1)).as("bsz"))
          .filter(col("bsz") <= maxBasket)
          .select(col("okey"))
        allBaskets.join(ok, Seq("okey"), "left_semi")
      }
    val nOrders = baskets.agg(countDistinct(col("okey")).as("n_orders"))
    val items = baskets.groupBy(col("pk")).agg(count(lit(1)).as("n_i"))
    val pairs = baskets.as("a")
      .join(baskets.as("b"),
        col("a.okey") === col("b.okey") && col("a.pk") < col("b.pk"))
      .groupBy(col("a.pk").as("part_a"), col("b.pk").as("part_b"))
      .agg(count(lit(1)).as("n_both"))
      .filter(col("n_both") >= minSupport)
    val nb = col("n_both").cast("double")
    val na = col("n_a").cast("double")
    val nbb = col("n_b").cast("double")
    val nt = col("n_orders").cast("double")
    pairs
      .join(items.select(col("pk").as("part_a"), col("n_i").as("n_a")), Seq("part_a"))
      .join(items.select(col("pk").as("part_b"), col("n_i").as("n_b")), Seq("part_b"))
      .crossJoin(broadcast(nOrders))
      .select(col("part_a"), col("part_b"), col("n_both"),
        (floor(nb / nt * 1e6 + lit(0.5)) / 1e6).as("support"),
        (floor(nb / na * 1e6 + lit(0.5)) / 1e6).as("conf_a_b"),
        (floor(nb / nbb * 1e6 + lit(0.5)) / 1e6).as("conf_b_a"),
        (floor(nb * nt / (na * nbb) * 1e6 + lit(0.5)) / 1e6).as("lift"))
      // Materialize the rule table before the mandated total sort (r14):
      // the orderBy's range-partitioner samples its child in a separate
      // job, and with the item censuses broadcast there is NO exchange
      // between the pair-census merge and the sort — the sampler was
      // re-running the merge plus both metric joins (measured: a 32-task
      // 11.6 core-s no-shuffle-write stage, ~half the operator's task
      // time). REPARTITION_BY_COL is AQE-coalescible, so this exchange
      // sizes itself by rule-table bytes (1 partition locally, wider at
      // scale) and the sampler re-reads materialized rows instead.
      .repartition(col("part_a"))
      .orderBy(col("part_a"), col("part_b"))
  }

  /** Item-to-item "also bought" recommendations — the retail CF
    * primitive, derived from [[basketRules]]' rule table (which is
    * output-sized after the support cut, so it's materialized once and
    * the symmetrize-union doubles CHEAP rows, not the corpus lineage —
    * the q100 hazard the cut prevents). Ranking is confidence-first
    * (then lift, then item id) on ALREADY-QUANTIZED values, so the
    * per-part top-k is deterministic cross-engine and
    * WindowGroupLimit-pruned on the part key. */
  def alsoBought(lineitem: org.apache.spark.sql.DataFrame,
      minSupport: Long = 3, topK: Int = 3): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.core.Lineage.CutOps
    val r = basketRules(lineitem, minSupport).cutLineage()
    val directed = r.select(col("part_a").as("part"), col("part_b").as("rec"),
        col("conf_a_b").as("confidence"), col("lift"))
      .unionAll(r.select(col("part_b").as("part"), col("part_a").as("rec"),
        col("conf_b_a").as("confidence"), col("lift")))
    val w = Window.partitionBy(col("part"))
      .orderBy(col("confidence").desc, col("lift").desc, col("rec"))
    directed
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("part"), col("rank"), col("rec"), col("confidence"), col("lift"))
      .orderBy(col("part"), col("rank"))
  }

  /** Supplier-concentration audit per part — Herfindahl–Hirschman index
    * over each part's supplier mix, the procurement-risk census: HHI =
    * Σ(nᵢ/n)² spelled with the q179 integer-exact numerator Σnᵢ²/n², so
    * the only IEEE op is one division of exact longs. Two partial-agg
    * censuses on the part key; HHI = 1 means single-sourced. */
  def supplierConcentration(lineitem: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    lineitem
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(count(lit(1)).as("ni"))
      .groupBy(col("l_partkey"))
      .agg(sum(col("ni")).as("n_lines"),
        count(lit(1)).as("n_suppliers"),
        sum(col("ni") * col("ni")).as("ss"))
      .select(col("l_partkey"), col("n_lines"), col("n_suppliers"),
        (floor(col("ss").cast("double") /
          (col("n_lines") * col("n_lines")).cast("double") * 1e6 + lit(0.5))
          / 1e6).as("hhi"))
      .orderBy(col("l_partkey"))
  }

  /** Worst-supplier return ranking — return share per supplier with a
    * volume floor (a 1-line supplier with one return is noise, not
    * signal), top-k by rate via TakeOrdered — never a global sort of the
    * supplier census. Rates are floor-quantized exact rationals; the
    * (rate, suppkey) order is total. */
  def supplierReturnRates(lineitem: org.apache.spark.sql.DataFrame,
      minLines: Long = 10, topK: Int = 10): org.apache.spark.sql.DataFrame = {
    lineitem
      .groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("n_returned"))
      .filter(col("n_lines") >= minLines)
      .select(col("l_suppkey"), col("n_lines"), col("n_returned"),
        (floor(col("n_returned").cast("double") / col("n_lines").cast("double")
          * 1e6 + lit(0.5)) / 1e6).as("return_rate"))
      .orderBy(col("return_rate").desc, col("l_suppkey"))
      .limit(topK)
  }

  /** Discount-effectiveness census — quantity and net revenue by integer
    * discount band (floor(discount·100): string-free, grid-exact), the
    * pricing-analytics staple. Net revenue quantizes to exact integer
    * cents PER ROW before summing (q157 rule — the extendedprice ×
    * (1−discount) product is IEEE but identical per row cross-engine;
    * only the SUM order varies, and integer cents make it order-free).
    * One partial-agg census; averages are integer divisions. */
  def discountBands(lineitem: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    lineitem
      .select(floor(col("l_discount") * 100 + lit(0.5)).cast("long").as("band"),
        col("l_quantity"),
        floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100
          + lit(0.5)).cast("long").as("net_cents"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_lines"),
        sum(col("l_quantity").cast("long")).as("sum_qty"),
        sum(col("net_cents")).as("net_cents"))
      .select(col("band"), col("n_lines"), col("sum_qty"), col("net_cents"),
        expr("sum_qty div n_lines").as("avg_qty"),
        expr("net_cents div n_lines").as("avg_net_cents"))
      .orderBy(col("band"))
  }

  /** Revenue by part category — net revenue cents per leading p_type
    * word, the dimension-join census: the bounded part catalog projects
    * to (key, category) and BROADCASTS against the fact scan (no fact
    * shuffle before aggregation — the q03/q05 dimension discipline);
    * per-row cents quantization keeps the sums order-free. */
  def revenueByPartType(lineitem: org.apache.spark.sql.DataFrame,
      part: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val dim = part.select(col("p_partkey"),
      substring_index(col("p_type"), " ", 1).as("category"))
    lineitem
      .select(col("l_partkey"),
        floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100
          + lit(0.5)).cast("long").as("net_cents"))
      .join(broadcast(dim), col("l_partkey") === col("p_partkey"))
      .groupBy(col("category"))
      .agg(count(lit(1)).as("n_lines"), sum(col("net_cents")).as("net_cents"))
      .orderBy(col("category"))
  }

  /** Benford first-digit audit over order totals — the accounting
    * anomaly screen: the leading digit of each total (exact integer
    * cents, so digit extraction is string-exact and engine-neutral)
    * censused against the Benford expectation log₁₀(1+1/d). The nine
    * expected shares are HARD LITERALS mirrored in the oracle — never an
    * engine log() (the transcendental-replay rule); observed shares are
    * floor-quantized rationals; the excess column is plain IEEE
    * subtraction of two already-identical doubles. One census pass, a
    * nine-row broadcast join, bounded output. The report drives from the
    * EXPECTED table (left join + zero-fill), so a digit with zero
    * observations — the most anomalous Benford outcome — still surfaces
    * as obs_share 0 against its expectation instead of silently
    * vanishing from the audit. */
  def benfordAudit(orders: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val spark = orders.sparkSession
    import spark.implicits._
    // log10(1 + 1/d) to 6dp, d = 1..9 — literal on both engines
    val expected = Seq(
      ("1", 0.301030), ("2", 0.176091), ("3", 0.124939),
      ("4", 0.096910), ("5", 0.079181), ("6", 0.066947),
      ("7", 0.057992), ("8", 0.051153), ("9", 0.045757))
      .toDF("digit", "exp_share")
    val census = orders
      .select(substring(floor(col("o_totalprice") * 100 + lit(0.5))
        .cast("long").cast("string"), 1, 1).as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
    val tot = census.agg(sum(col("n")).as("n_tot"))
    expected
      .join(census, Seq("digit"), "left")
      .na.fill(0L, Seq("n"))
      .crossJoin(broadcast(tot))
      .select(col("digit"), col("n"),
        (floor(col("n").cast("double") / col("n_tot").cast("double") * 1e6
          + lit(0.5)) / 1e6).as("obs_share"),
        col("exp_share"))
      .withColumn("excess", col("obs_share") - col("exp_share"))
      .orderBy(col("digit"))
  }

  /** Referential-integrity audit — the data-quality gate a pipeline runs
    * before trusting a join graph: orphan facts (lineitems whose order is
    * missing), orphan orders (no customer), and duplicate primary keys,
    * all as one single-row report. Each check is an anti-join or a
    * distinct census that shuffles only on the checked key (the natural
    * co-partitioning a later equi-join would use anyway — the audit
    * costs what the join it certifies costs); the five one-row results
    * combine by broadcast cross join. */
  def integrityAudit(lineitem: org.apache.spark.sql.DataFrame,
      orders: org.apache.spark.sql.DataFrame,
      customer: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val orphanLi = lineitem
      .join(orders.select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"), "left_anti")
      .agg(count(lit(1)).as("orphan_lineitem"))
    val orphanOrd = orders
      .join(customer.select(col("c_custkey")),
        col("o_custkey") === col("c_custkey"), "left_anti")
      .agg(count(lit(1)).as("orphan_orders"))
    val ordStats = orders.agg(count(lit(1)).as("n_orders"),
      (count(lit(1)) - countDistinct(col("o_orderkey"))).as("dup_orderkeys"))
    lineitem.agg(count(lit(1)).as("n_lineitem"))
      .crossJoin(broadcast(orphanLi))
      .crossJoin(broadcast(ordStats))
      .crossJoin(broadcast(orphanOrd))
  }

  /** Per-brand demand seasonality index — the retail planning census:
    * quantity summed per (brand, 30-day period — integer epoch-day
    * arithmetic, never an engine calendar), each cell indexed against the
    * brand's own per-period mean, idx = qty·P/total as a floor-quantized
    * exact rational (P = the brand's OBSERVED period count, so a brand
    * that only sells in December indexes high without a zero-filled
    * grid). One fact⋈orders co-partitioned join, one census; the brand
    * totals derive from the census itself. */
  def demandSeasonality(lineitem: org.apache.spark.sql.DataFrame,
      orders: org.apache.spark.sql.DataFrame,
      part: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val dayUs = 86400000000L
    val cells = lineitem
      .select(col("l_orderkey"), col("l_partkey"),
        floor(col("l_quantity") + lit(0.5)).cast("long").as("qty"))
      .join(orders.select(col("o_orderkey"),
        expr(s"unix_micros(cast(o_orderdate as timestamp)) div ${dayUs * 30}")
          .as("period")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(part.select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("period"))
      .agg(sum(col("qty")).as("qty"))
    val totals = cells.groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_periods"), sum(col("qty")).as("tot_qty"))
    cells.join(broadcast(totals), Seq("p_brand"))
      .select(col("p_brand"), col("period"), col("qty"),
        (floor((col("qty") * col("n_periods")).cast("double") /
          col("tot_qty").cast("double") * 1e6 + lit(0.5)) / 1e6).as("idx"))
      .orderBy(col("p_brand"), col("period"))
  }

  /** Per-brand discount elasticity — grouped OLS of quantity on the
    * discount level with BOTH axes on integer grids (discount →
    * floor(d·100+0.5) pennies, quantity already integral), so all five
    * moment sums are exact longs and slope/intercept are floor-quantized
    * exact rationals (the q163 discipline — no noise-dominated doubles).
    * A positive slope says discounts move volume for that brand. One
    * broadcast-dim join, one partial agg per brand; NULL slope on a
    * degenerate (single-discount) brand. */
  def discountElasticity(lineitem: org.apache.spark.sql.DataFrame,
      part: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val pts = lineitem
      .select(col("l_partkey"),
        floor(col("l_discount") * 100 + lit(0.5)).cast("long").as("x"),
        floor(col("l_quantity") + lit(0.5)).cast("long").as("y"))
      .join(broadcast(part.select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
    pts.groupBy(col("p_brand"))
      .agg(count(lit(1)).as("m"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"))
      .select(col("p_brand"), col("m"),
        (floor((col("m") * col("sxy") - col("sx") * col("sy")).cast("double") /
          nullif((col("m") * col("sxx") - col("sx") * col("sx")).cast("double"),
            lit(0.0)) * 1e6 + lit(0.5)) / 1e6).as("slope"))
      .orderBy(col("p_brand"))
  }

  /** SLA attainment by priority and period — did fulfillment keep its
    * promise, tracked where regressions become visible (per 30-day
    * period, per priority): share of lines shipped within `slaDays` of
    * the order date. Integer-day gaps on the epoch grid (the NTZ-cast
    * rule), one co-partitioned order-key join, one census; shares are
    * quantized exact rationals. */
  def slaAttainment(lineitem: org.apache.spark.sql.DataFrame,
      orders: org.apache.spark.sql.DataFrame,
      slaDays: Int = 10): org.apache.spark.sql.DataFrame = {
    val dayUs = 86400000000L
    lineitem
      .select(col("l_orderkey"),
        expr("unix_micros(cast(l_shipdate as timestamp))").as("st"))
      .join(orders.select(col("o_orderkey"), col("o_orderpriority"),
        expr("unix_micros(cast(o_orderdate as timestamp))").as("ot")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"),
        expr(s"ot div ${dayUs * 30}").as("period"))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(expr(s"(st - ot) div $dayUs") <= slaDays, 1L).otherwise(0L))
          .as("n_on_time"))
      .select(col("o_orderpriority"), col("period"), col("n_lines"),
        (floor(col("n_on_time").cast("double") / col("n_lines").cast("double")
          * 1e6 + lit(0.5)) / 1e6).as("sla_share"))
      .orderBy(col("o_orderpriority"), col("period"))
  }

  /** Mix residual census — the cell-level view the q141-style chi-square
    * scalar hides: for each (nation, priority) cell, observed orders vs
    * the independence expectation row_tot·col_tot/grand, with the
    * signed residual. Everything is census math on exact integer counts
    * (the expectation's one division is floor-quantized); cells with
    * zero observations still appear via the margins cross join (the
    * q168 drive-from-expected rule — a nation that never places urgent
    * orders is exactly the anomaly to surface). */
  def mixResiduals(orders: org.apache.spark.sql.DataFrame,
      customer: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val base = orders.select(col("o_custkey"), col("o_orderpriority"))
      .join(customer.select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_nationkey"), col("o_orderpriority"))
    // cut: four consumers (rows/cols/grand margins + the outer join) prune
    // the contingency census differently, defeating exchange reuse — the
    // orders⋈customer join would replay per consumer (ADVICE r8)
    val cells = {
      import graft.core.Lineage.CutOps
      base.groupBy(col("c_nationkey"), col("o_orderpriority"))
        .agg(count(lit(1)).as("obs"))
        .cutLineage()
    }
    val rows = cells.groupBy(col("c_nationkey")).agg(sum(col("obs")).as("row_tot"))
    val cols = cells.groupBy(col("o_orderpriority")).agg(sum(col("obs")).as("col_tot"))
    val grand = cells.agg(sum(col("obs")).as("grand"))
    rows.crossJoin(broadcast(cols)).crossJoin(broadcast(grand))
      .join(cells, Seq("c_nationkey", "o_orderpriority"), "left")
      .na.fill(0L, Seq("obs"))
      .select(col("c_nationkey"), col("o_orderpriority"), col("obs"),
        (floor((col("row_tot") * col("col_tot")).cast("double") /
          col("grand").cast("double") * 1e6 + lit(0.5)) / 1e6).as("expected"),
        (floor((col("obs").cast("double") -
          (col("row_tot") * col("col_tot")).cast("double") /
            col("grand").cast("double")) * 1e6 + lit(0.5)) / 1e6).as("residual"))
      .orderBy(col("c_nationkey"), col("o_orderpriority"))
  }

  /** Forecast-baseline quality — the MASE-style "is there seasonality
    * worth modeling" audit: per brand, the naive forecast (last period)
    * and seasonal-naive forecast (12 periods back) absolute errors over
    * exactly the periods where BOTH baselines exist (same comparison
    * set, or the ratio lies). Errors are exact integer quantity sums;
    * the ratio seasonal/naive is one quantized division (< 1 means the
    * seasonal baseline wins and a seasonal model is worth it). Rides
    * the q196 period census; the error joins are census-sized
    * self-joins on (brand, period±k). */
  def forecastBaseline(lineitem: org.apache.spark.sql.DataFrame,
      orders: org.apache.spark.sql.DataFrame,
      part: org.apache.spark.sql.DataFrame,
      seasonLag: Int = 12): org.apache.spark.sql.DataFrame = {
    val dayUs = 86400000000L
    val cells = lineitem
      .select(col("l_orderkey"), col("l_partkey"),
        floor(col("l_quantity") + lit(0.5)).cast("long").as("qty"))
      .join(orders.select(col("o_orderkey"),
        expr(s"unix_micros(cast(o_orderdate as timestamp)) div ${dayUs * 30}")
          .as("period")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(part.select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("period"))
      .agg(sum(col("qty")).as("qty"))
    val naive = cells.select(col("p_brand"), (col("period") + 1).as("period"),
      col("qty").as("q_naive"))
    val seas = cells.select(col("p_brand"),
      (col("period") + seasonLag).as("period"), col("qty").as("q_seas"))
    cells
      .join(naive, Seq("p_brand", "period"))
      .join(seas, Seq("p_brand", "period"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_periods"),
        sum(abs(col("qty") - col("q_naive"))).as("e_naive"),
        sum(abs(col("qty") - col("q_seas"))).as("e_seas"))
      .select(col("p_brand"), col("n_periods"), col("e_naive"), col("e_seas"),
        (floor(col("e_seas").cast("double") /
          nullif(col("e_naive").cast("double"), lit(0.0)) * 1e6 + lit(0.5))
          / 1e6).as("mase_ratio"))
      .orderBy(col("p_brand"))
  }

  /** Basket-size dispersion — the order-shape audit: per-order line
    * counts censused to a distribution, then the dispersion index
    * Var/Mean spelled with the q192 integer numerator
    * (m·Σc² − (Σc)²)/(m·Σc) — ~1 for Poisson-shaped baskets, ≫ 1 when
    * a few mega-orders dominate (the salting/maxBasket early-warning
    * for every per-order fan-out here, q165 included). Two partial-agg
    * censuses; output is the distribution plus a one-row summary folded
    * in via a broadcast cross join. */
  def basketDispersion(lineitem: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val perOrder = lineitem.groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("c"))
    val dist = perOrder.groupBy(col("c")).agg(count(lit(1)).as("n_orders"))
    val mo = dist.agg(sum(col("n_orders")).as("m"),
      sum(col("c") * col("n_orders")).as("sc"),
      sum(col("c") * col("c") * col("n_orders")).as("scc"))
    dist.crossJoin(broadcast(mo))
      .select(col("c").as("n_lines"), col("n_orders"),
        (floor(col("n_orders").cast("double") / col("m").cast("double")
          * 1e6 + lit(0.5)) / 1e6).as("order_share"),
        (floor((col("m") * col("scc") - col("sc") * col("sc")).cast("double") /
          (col("m") * col("sc")).cast("double") * 1e6 + lit(0.5)) / 1e6)
          .as("dispersion"))
      .orderBy(col("n_lines"))
  }

  /** Supplier lead-time trend — "who is getting slower": per supplier,
    * OLS slope of the ship gap (integer days) against the 30-day period
    * index — BOTH axes integer grids, so the moment sums are exact longs
    * and the slope a quantized rational (days of added lag per period).
    * Volume-floored (m ≥ minLines) and TakeOrdered on (slope desc, key):
    * the worst-degrading suppliers surface first without a global sort.
    * One co-partitioned order-key join + one supplier census. */
  def leadTimeTrend(lineitem: org.apache.spark.sql.DataFrame,
      orders: org.apache.spark.sql.DataFrame,
      minLines: Long = 20, topK: Int = 25): org.apache.spark.sql.DataFrame = {
    val dayUs = 86400000000L
    val pts = lineitem
      .select(col("l_orderkey"), col("l_suppkey"),
        expr("unix_micros(cast(l_shipdate as timestamp))").as("st"))
      .join(orders.select(col("o_orderkey"),
        expr("unix_micros(cast(o_orderdate as timestamp))").as("ot")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_suppkey"),
        expr(s"ot div ${dayUs * 30}").as("x"),
        expr(s"(st - ot) div $dayUs").as("y"))
    pts.groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("m"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"))
      .filter(col("m") >= minLines)
      .select(col("l_suppkey"), col("m"),
        (floor((col("m") * col("sxy") - col("sx") * col("sy")).cast("double") /
          nullif((col("m") * col("sxx") - col("sx") * col("sx")).cast("double"),
            lit(0.0)) * 1e6 + lit(0.5)) / 1e6).as("slope"))
      .orderBy(col("slope").desc, col("l_suppkey"))
      .limit(topK)
  }

  val defs: Seq[QueryDef] = Seq(

    // ---- q152: single-pass correlation matrix ------------------------------
    // Four lineitem measures, six pairs from one aggregation pass; the
    // oracle replays the identical moment-sum dag.
    QueryDef(
      "q152_corr_matrix",
      (s, d) => corrMatrix(Tables.lineitem(s, d),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")),
      Some {
        val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
        val pairs = for {
          i <- cols.indices; j <- cols.indices if i < j
        } yield (cols(i), cols(j))
        val sums =
          Seq("CAST(count(*) AS DOUBLE) AS m") ++
            cols.map(c => s"sum($c) AS s_$c") ++
            cols.map(c => s"sum($c * $c) AS ss_$c") ++
            pairs.map { case (x, y) => s"sum($x * $y) AS sp_${x}_$y" }
        val rows = pairs.map { case (x, y) =>
          s"""SELECT '$x' AS col_a, '$y' AS col_b,
             |  round((m * sp_${x}_$y - s_$x * s_$y)
             |        / (sqrt(m * ss_$x - s_$x * s_$x)
             |           * sqrt(m * ss_$y - s_$y * s_$y)), 6) AS r
             |FROM mom""".stripMargin
        }
        s"""WITH mom AS MATERIALIZED (
           |  SELECT ${sums.mkString(",\n    ")}
           |  FROM lineitem)
           |${rows.mkString("\nUNION ALL\n")}
           |ORDER BY col_a, col_b""".stripMargin
      }),

    // ---- q23: exact interpolated percentiles -------------------------------
    // Both engines implement the continuous (type-7) quantile: order
    // statistics + linear interpolation on identical doubles — exact parity.
    // (Measured alternative, P23 at 94bd464: a windowed-rank interpolation looks
    // 2× faster on a COLD table read but is 1.8× slower in bench context —
    // the hashmap `percentile` aggregate wins once the scan is warm; kept.)
    QueryDef(
      "q23_percentiles",
      (s, d) => {
        import s.implicits._
        // array form: one sort buffer serves both l_extendedprice
        // percentiles instead of two independent aggregate states
        Tables.lineitem(s, d)
          .groupBy($"l_returnflag")
          .agg(
            expr("percentile(l_extendedprice, array(0.5, 0.9))").as("pe"),
            round(expr("percentile(l_quantity, 0.25)"), 4).as("q1_qty"))
          .select($"l_returnflag",
            round(element_at($"pe", 1), 4).as("median_price"),
            round(element_at($"pe", 2), 4).as("p90_price"),
            $"q1_qty")
          // repartition(1) before the mandated total sort (r14): the global
          // orderBy's range-partitioner samples its child with a separate
          // job, re-executing everything above the last exchange — here the
          // expensive percentile-buffer MERGE (measured: two ObjectHash-
          // Aggregate merge stages per run, 1.1-1.6 core-s each). The output
          // is schema-bounded (one row per returnflag), so a one-partition
          // exchange is safe at every scale, materializes the merge once,
          // and the single-partition sort needs no sampling pass at all.
          .repartition(1)
          .orderBy($"l_returnflag")
      },
      Some("""SELECT l_returnflag,
             |  round(quantile_cont(l_extendedprice, 0.5), 4) AS median_price,
             |  round(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price,
             |  round(quantile_cont(l_quantity, 0.25), 4) AS q1_qty
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
      headline = true),

    // ---- q24: cube grouping sets -------------------------------------------
    QueryDef(
      "q24_cube",
      (s, d) => {
        import s.implicits._
        Tables.lineitem(s, d)
          .cube($"l_returnflag", $"l_linestatus")
          .agg(count(lit(1)).as("n"), round(sum($"l_quantity"), 2).as("sum_qty"))
          .orderBy($"l_returnflag".asc_nulls_first, $"l_linestatus".asc_nulls_first)
      },
      Some("""SELECT l_returnflag, l_linestatus, count(*) AS n,
             |  round(sum(l_quantity), 2) AS sum_qty
             |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
             |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin)),

    // ---- q114: arbitrary GROUPING SETS (not a rollup/cube special case) ----
    // ((returnflag, linestatus), (returnflag), (linestatus)) is neither a
    // rollup (not a prefix chain) nor a cube (no () set): the general
    // Dataset.groupingSets tier. grouping() flags disambiguate a NULL key
    // from a rolled-up key; one expand + one partial-agg shuffle at scale,
    // state ∝ the union of the sets' group counts.
    QueryDef(
      "q114_grouping_sets",
      (s, d) => {
        import s.implicits._
        Tables.lineitem(s, d)
          .groupingSets(
            Seq(Seq($"l_returnflag", $"l_linestatus"), Seq($"l_returnflag"), Seq($"l_linestatus")),
            $"l_returnflag", $"l_linestatus")
          .agg(grouping($"l_returnflag").as("g_rf"), grouping($"l_linestatus").as("g_ls"),
            count(lit(1)).as("n"), round(sum($"l_quantity"), 2).as("sum_qty"))
          .orderBy($"g_rf", $"g_ls",
            $"l_returnflag".asc_nulls_first, $"l_linestatus".asc_nulls_first)
      },
      Some("""SELECT l_returnflag, l_linestatus,
             |  CAST(grouping(l_returnflag) AS INT) AS g_rf,
             |  CAST(grouping(l_linestatus) AS INT) AS g_ls,
             |  count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
             |FROM lineitem
             |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), (l_linestatus))
             |ORDER BY g_rf, g_ls,
             |  l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin)),

    // ---- q64: typed per-group imperative logic (mapGroups) -----------------
    // The KeyValueGroupedDataset tier: arbitrary Scala per group, shuffled
    // once on the key — the batch twin of the streaming state operator.
    // Order-insensitive group logic (sorted copy inside) keeps it exact.
    QueryDef(
      "q64_typed_mapgroups",
      (s, d) => {
        import s.implicits._
        Tables.lineitem(s, d)
          .select($"l_suppkey", $"l_extendedprice")
          .as[(Long, Double)]
          .groupByKey(_._1)
          .mapGroups { (k, it) =>
            val prices = it.map(_._2).toArray
            java.util.Arrays.sort(prices)
            val n = prices.length
            // Option encodes SQL NULL for single-element groups (NaN is a
            // different value under hashing/compare — never a NULL stand-in).
            (k, n.toLong, prices(n - 1), if (n > 1) Some(prices(n - 2)) else None)
          }
          .toDF("l_suppkey", "n_items", "max_price", "second_price")
          .select($"l_suppkey", $"n_items",
            round($"max_price", 2).as("max_price"),
            round($"second_price", 2).as("second_price"))
          .orderBy($"l_suppkey")
      },
      Some("""SELECT l_suppkey, count(*) AS n_items,
             |  round(max(l_extendedprice), 2) AS max_price,
             |  round(list_sort(list(l_extendedprice), 'DESC')[2], 2) AS second_price
             |FROM lineitem GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin)),

    // ---- q25: distinct-count + median per group ----------------------------
    // Oracle-checked on the EXACT columns (countDistinct, interpolated
    // percentile — same type-7 quantile as q23). The sketch twins
    // (approx_count_distinct HLL++, percentile_approx) are spec-only:
    // RelationalExtSpec asserts <5% relative error vs these exact values,
    // because sketch implementations differ across engines by design.
    QueryDef(
      "q25_distinct_median",
      (s, d) => {
        import s.implicits._
        // floor(x*1e6+0.5)/1e6 quantization, NOT round(): the median is a
        // pure-rational order statistic / midpoint (CLAUDE.md numerics rule)
        Tables.lineitem(s, d)
          .groupBy($"l_returnflag")
          .agg(
            countDistinct($"l_partkey").as("exact_parts"),
            (floor(expr("percentile(l_extendedprice, 0.5)") * 1e6 + 0.5) / 1e6).as("median_price"))
          .orderBy($"l_returnflag")
      },
      Some("""SELECT l_returnflag,
             |  count(DISTINCT l_partkey) AS exact_parts,
             |  floor(quantile_cont(l_extendedprice, 0.5) * 1e6 + 0.5) / 1e6 AS median_price
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // ---- q23b: approx-percentile production twin ---------------------------
    // The 100 TB path for q23: percentile_approx keeps O(accuracy) state per
    // group (GK sketch) instead of buffering every value for exact order
    // statistics. gate = false: sketch outputs differ across engines by
    // design, so a DuckDB oracle cannot exist and a rows-only gate row reads
    // as a permanent `err` on an otherwise green board (r4 verdict #5).
    // RelationalExtSpec pins it to q23's exact values within tolerance;
    // still headline so the bench shows the exact-vs-sketch cost gap.
    QueryDef(
      "q23b_percentiles_approx",
      (s, d) => {
        import s.implicits._
        // array form: both price quantiles come from ONE GK sketch per group
        Tables.lineitem(s, d)
          .groupBy($"l_returnflag")
          .agg(
            expr("percentile_approx(l_extendedprice, array(0.5, 0.9), 10000)").as("pe"),
            round(expr("percentile_approx(l_quantity, 0.25, 10000)"), 4).as("q1_qty"))
          .select($"l_returnflag",
            round(element_at($"pe", 1), 4).as("median_price"),
            round(element_at($"pe", 2), 4).as("p90_price"),
            $"q1_qty")
          // single-partition the schema-bounded census before the mandated
          // sort: the sampler otherwise re-runs the GK-sketch merge (r14,
          // the q23 pattern)
          .repartition(1)
          .orderBy($"l_returnflag")
      },
      None,
      headline = true,
      gate = false),

    // ---- q23c: MERGEABLE histogram-sketch percentiles at bench scale -------
    // The second 100 TB path for q23 (and the one whose estimate is a plain
    // deterministic dag rather than an engine-internal sketch): q23's exact
    // grouping run through Sketches.histogramQuantiles. gate = false — the
    // mechanism is already oracle-certified by q102; this entry retires
    // q23's `weak` badge by actually EXERCISING the bounded-state path at
    // bench SF next to the exact twin. RelationalExtSpec pins every
    // estimate within the documented bin-width error of q23's exact values.
    QueryDef(
      "q23c_percentiles_sketch",
      // repartition(1): schema-bounded census before the mandated sort
      // (r14, the q23 pattern)
      (s, d) => Sketches.histogramQuantiles(Tables.lineitem(s, d),
        "l_extendedprice", "l_returnflag", bins = 4096, qs = Seq(0.5, 0.9))
        .repartition(1)
        .orderBy(col("l_returnflag"), col("q")),
      None,
      headline = true,
      gate = false),

    // ---- q165: market-basket association rules -----------------------------
    // Support/confidence/lift over per-order part baskets; the oracle
    // replays the basket projection, the three censuses, and the
    // quantized rule metrics.
    QueryDef(
      "q165_basket_rules",
      (s, d) => basketRules(Tables.lineitem(s, d)),
      Some("""WITH b AS MATERIALIZED (
             |  SELECT DISTINCT l_orderkey AS okey, l_partkey AS pk FROM lineitem),
             |tot AS (SELECT count(DISTINCT okey) AS n_orders FROM b),
             |it AS (SELECT pk, count(*) AS n_i FROM b GROUP BY 1),
             |p AS (
             |  SELECT a.pk AS part_a, b2.pk AS part_b, count(*) AS n_both
             |  FROM b a JOIN b b2 ON a.okey = b2.okey AND a.pk < b2.pk
             |  GROUP BY 1, 2 HAVING count(*) >= 3)
             |SELECT p.part_a, p.part_b, CAST(p.n_both AS BIGINT) AS n_both,
             |  floor(CAST(p.n_both AS DOUBLE) / CAST(tot.n_orders AS DOUBLE)
             |        * 1e6 + 0.5) / 1e6 AS support,
             |  floor(CAST(p.n_both AS DOUBLE) / CAST(ia.n_i AS DOUBLE)
             |        * 1e6 + 0.5) / 1e6 AS conf_a_b,
             |  floor(CAST(p.n_both AS DOUBLE) / CAST(ib.n_i AS DOUBLE)
             |        * 1e6 + 0.5) / 1e6 AS conf_b_a,
             |  floor(CAST(p.n_both AS DOUBLE) * CAST(tot.n_orders AS DOUBLE)
             |        / (CAST(ia.n_i AS DOUBLE) * CAST(ib.n_i AS DOUBLE))
             |        * 1e6 + 0.5) / 1e6 AS lift
             |FROM p
             |JOIN it ia ON ia.pk = p.part_a
             |JOIN it ib ON ib.pk = p.part_b
             |CROSS JOIN tot
             |ORDER BY p.part_a, p.part_b""".stripMargin),
      headline = true),

    // ---- q181: item-to-item "also bought" recommendations ------------------
    // Symmetrized q165 rule table ranked confidence-first per part; the
    // oracle replays the rule CTEs, the symmetrize union, and the rank.
    QueryDef(
      "q181_also_bought",
      (s, d) => alsoBought(Tables.lineitem(s, d)),
      Some("""WITH b AS MATERIALIZED (
             |  SELECT DISTINCT l_orderkey AS okey, l_partkey AS pk FROM lineitem),
             |tot AS (SELECT count(DISTINCT okey) AS n_orders FROM b),
             |it AS (SELECT pk, count(*) AS n_i FROM b GROUP BY 1),
             |p AS (
             |  SELECT a.pk AS part_a, b2.pk AS part_b, count(*) AS n_both
             |  FROM b a JOIN b b2 ON a.okey = b2.okey AND a.pk < b2.pk
             |  GROUP BY 1, 2 HAVING count(*) >= 3),
             |rules AS MATERIALIZED (
             |  SELECT p.part_a, p.part_b,
             |    floor(CAST(p.n_both AS DOUBLE) / CAST(ia.n_i AS DOUBLE)
             |          * 1e6 + 0.5) / 1e6 AS conf_a_b,
             |    floor(CAST(p.n_both AS DOUBLE) / CAST(ib.n_i AS DOUBLE)
             |          * 1e6 + 0.5) / 1e6 AS conf_b_a,
             |    floor(CAST(p.n_both AS DOUBLE) * CAST(tot.n_orders AS DOUBLE)
             |          / (CAST(ia.n_i AS DOUBLE) * CAST(ib.n_i AS DOUBLE))
             |          * 1e6 + 0.5) / 1e6 AS lift
             |  FROM p
             |  JOIN it ia ON ia.pk = p.part_a
             |  JOIN it ib ON ib.pk = p.part_b
             |  CROSS JOIN tot),
             |d AS (
             |  SELECT part_a AS part, part_b AS rec, conf_a_b AS confidence, lift
             |  FROM rules
             |  UNION ALL
             |  SELECT part_b, part_a, conf_b_a, lift FROM rules),
             |r AS (
             |  SELECT part, rec, confidence, lift,
             |    row_number() OVER (PARTITION BY part
             |      ORDER BY confidence DESC, lift DESC, rec) AS rank
             |  FROM d)
             |SELECT part, CAST(rank AS BIGINT) AS rank, rec, confidence, lift
             |FROM r WHERE rank <= 3 ORDER BY part, rank""".stripMargin)),

    // ---- q182: supplier-concentration audit (HHI) --------------------------
    // Integer-exact Σnᵢ²/n² per part; the oracle replays both censuses.
    QueryDef(
      "q182_supplier_hhi",
      (s, d) => supplierConcentration(Tables.lineitem(s, d)),
      Some("""WITH c AS (
             |  SELECT l_partkey, l_suppkey, count(*) AS ni
             |  FROM lineitem GROUP BY 1, 2),
             |u AS (
             |  SELECT l_partkey, CAST(sum(ni) AS BIGINT) AS n_lines,
             |    CAST(count(*) AS BIGINT) AS n_suppliers,
             |    CAST(sum(ni * ni) AS BIGINT) AS ss
             |  FROM c GROUP BY 1)
             |SELECT l_partkey, n_lines, n_suppliers,
             |  floor(CAST(ss AS DOUBLE) / CAST(n_lines * n_lines AS DOUBLE)
             |        * 1e6 + 0.5) / 1e6 AS hhi
             |FROM u ORDER BY l_partkey""".stripMargin)),

    // ---- q183: worst-supplier return ranking -------------------------------
    // Volume-floored return share, top-10 by rate (TakeOrdered); the
    // oracle replays census, floor, quantized rate, and the total order.
    QueryDef(
      "q183_supplier_returns",
      (s, d) => supplierReturnRates(Tables.lineitem(s, d)),
      Some("""WITH c AS (
             |  SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n_lines,
             |    CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
             |      AS BIGINT) AS n_returned
             |  FROM lineitem GROUP BY 1 HAVING count(*) >= 10)
             |SELECT l_suppkey, n_lines, n_returned,
             |  floor(CAST(n_returned AS DOUBLE) / CAST(n_lines AS DOUBLE)
             |        * 1e6 + 0.5) / 1e6 AS return_rate
             |FROM c ORDER BY return_rate DESC, l_suppkey LIMIT 10""".stripMargin)),

    // ---- q186: discount-effectiveness census -------------------------------
    // Integer discount bands, per-row cents quantization, integer-division
    // averages; the oracle replays band grid, cents, and divisions.
    QueryDef(
      "q186_discount_bands",
      (s, d) => discountBands(Tables.lineitem(s, d)),
      Some("""WITH b AS (
             |  SELECT CAST(floor(l_discount * 100 + CAST(0.5 AS DOUBLE))
             |    AS BIGINT) AS band,
             |    CAST(l_quantity AS BIGINT) AS qty,
             |    CAST(floor(l_extendedprice * (CAST(1.0 AS DOUBLE) - l_discount)
             |      * 100 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS net_cents
             |  FROM lineitem),
             |c AS (
             |  SELECT band, CAST(count(*) AS BIGINT) AS n_lines,
             |    CAST(sum(qty) AS BIGINT) AS sum_qty,
             |    CAST(sum(net_cents) AS BIGINT) AS net_cents
             |  FROM b GROUP BY 1)
             |SELECT band, n_lines, sum_qty, net_cents,
             |  CAST(sum_qty // n_lines AS BIGINT) AS avg_qty,
             |  CAST(net_cents // n_lines AS BIGINT) AS avg_net_cents
             |FROM c ORDER BY band""".stripMargin)),

    // ---- q187: revenue by part category ------------------------------------
    // Broadcast part-dim join (no fact shuffle before the census); the
    // oracle replays the first-word category and the cents census.
    QueryDef(
      "q187_parttype_revenue",
      (s, d) => revenueByPartType(Tables.lineitem(s, d), Tables.part(s, d)),
      Some("""WITH dim AS (
             |  SELECT p_partkey, split_part(p_type, ' ', 1) AS category
             |  FROM part),
             |f AS (
             |  SELECT l_partkey,
             |    CAST(floor(l_extendedprice * (CAST(1.0 AS DOUBLE) - l_discount)
             |      * 100 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS net_cents
             |  FROM lineitem)
             |SELECT dim.category, CAST(count(*) AS BIGINT) AS n_lines,
             |  CAST(sum(f.net_cents) AS BIGINT) AS net_cents
             |FROM f JOIN dim ON dim.p_partkey = f.l_partkey
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- q168: Benford first-digit audit -----------------------------------
    // Leading-digit census of order totals vs the hard-literal Benford
    // expectation; the oracle replays the cents grid, the digit census,
    // and the same nine literals.
    QueryDef(
      "q168_benford_audit",
      (s, d) => benfordAudit(Tables.orders(s, d)),
      Some("""WITH c AS (
             |  SELECT substr(CAST(CAST(floor(o_totalprice * 100
             |      + CAST(0.5 AS DOUBLE)) AS BIGINT) AS VARCHAR), 1, 1) AS digit,
             |    count(*) AS n
             |  FROM orders GROUP BY 1),
             |e AS (
             |  SELECT * FROM (VALUES
             |    ('1', CAST(0.301030 AS DOUBLE)), ('2', CAST(0.176091 AS DOUBLE)),
             |    ('3', CAST(0.124939 AS DOUBLE)), ('4', CAST(0.096910 AS DOUBLE)),
             |    ('5', CAST(0.079181 AS DOUBLE)), ('6', CAST(0.066947 AS DOUBLE)),
             |    ('7', CAST(0.057992 AS DOUBLE)), ('8', CAST(0.051153 AS DOUBLE)),
             |    ('9', CAST(0.045757 AS DOUBLE))) AS t(digit, exp_share)),
             |o AS (
             |  SELECT e.digit, CAST(coalesce(c.n, 0) AS BIGINT) AS n,
             |    floor(CAST(coalesce(c.n, 0) AS DOUBLE) /
             |      CAST((SELECT sum(n) FROM c) AS DOUBLE) * 1e6 + 0.5) / 1e6
             |      AS obs_share,
             |    e.exp_share
             |  FROM e LEFT JOIN c USING (digit))
             |SELECT digit, n, obs_share, exp_share,
             |  obs_share - exp_share AS excess
             |FROM o ORDER BY digit""".stripMargin)),

    // ---- q171: referential-integrity audit ---------------------------------
    // Orphan facts, orphan orders, duplicate primary keys as one report
    // row; the oracle spells the same anti-joins as NOT EXISTS.
    QueryDef(
      "q171_integrity_audit",
      (s, d) => integrityAudit(Tables.lineitem(s, d), Tables.orders(s, d),
        Tables.customer(s, d)),
      Some("""SELECT
             |  CAST((SELECT count(*) FROM lineitem) AS BIGINT) AS n_lineitem,
             |  CAST((SELECT count(*) FROM lineitem l WHERE NOT EXISTS
             |    (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
             |    AS BIGINT) AS orphan_lineitem,
             |  CAST((SELECT count(*) FROM orders) AS BIGINT) AS n_orders,
             |  CAST((SELECT count(*) - count(DISTINCT o_orderkey) FROM orders)
             |    AS BIGINT) AS dup_orderkeys,
             |  CAST((SELECT count(*) FROM orders o WHERE NOT EXISTS
             |    (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
             |    AS BIGINT) AS orphan_orders""".stripMargin)),

    // ---- q196: per-brand demand seasonality index --------------------------
    // 30-day-period quantity census indexed against the brand's observed-
    // period mean; the oracle replays the integer period grid, both
    // censuses, and the quantized index.
    QueryDef(
      "q196_demand_seasonality",
      (s, d) => demandSeasonality(Tables.lineitem(s, d), Tables.orders(s, d),
        Tables.part(s, d)),
      Some("""WITH cells AS (
             |  SELECT p.p_brand, epoch_us(CAST(o.o_orderdate AS TIMESTAMP))
             |      // 2592000000000 AS period,
             |    CAST(sum(CAST(floor(l.l_quantity + CAST(0.5 AS DOUBLE)) AS BIGINT))
             |      AS BIGINT) AS qty
             |  FROM lineitem l
             |  JOIN orders o ON o.o_orderkey = l.l_orderkey
             |  JOIN part p ON p.p_partkey = l.l_partkey
             |  GROUP BY 1, 2),
             |tot AS (
             |  SELECT p_brand, CAST(count(*) AS BIGINT) AS n_periods,
             |    CAST(sum(qty) AS BIGINT) AS tot_qty
             |  FROM cells GROUP BY 1)
             |SELECT c.p_brand, c.period, c.qty,
             |  floor(CAST(c.qty * t.n_periods AS DOUBLE) / CAST(t.tot_qty AS DOUBLE)
             |    * 1e6 + 0.5) / 1e6 AS idx
             |FROM cells c JOIN tot t USING (p_brand)
             |ORDER BY c.p_brand, c.period""".stripMargin)),

    // ---- q197: per-brand discount elasticity (integer-grid OLS) ------------
    // Slope of quantity against discount pennies from exact integer
    // moment sums; the oracle replays the grids and the same rational.
    QueryDef(
      "q197_discount_elasticity",
      (s, d) => discountElasticity(Tables.lineitem(s, d), Tables.part(s, d)),
      Some("""WITH pts AS (
             |  SELECT p.p_brand,
             |    CAST(floor(l.l_discount * 100 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS x,
             |    CAST(floor(l.l_quantity + CAST(0.5 AS DOUBLE)) AS BIGINT) AS y
             |  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey),
             |mo AS (
             |  SELECT p_brand, CAST(count(*) AS BIGINT) AS m,
             |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             |    CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(x * y) AS BIGINT) AS sxy
             |  FROM pts GROUP BY 1)
             |SELECT p_brand, m,
             |  floor(CAST(m * sxy - sx * sy AS DOUBLE) /
             |    nullif(CAST(m * sxx - sx * sx AS DOUBLE), CAST(0 AS DOUBLE))
             |    * 1e6 + 0.5) / 1e6 AS slope
             |FROM mo ORDER BY p_brand""".stripMargin)),

    // ---- q213: SLA attainment by priority and period -----------------------
    // Share of lines shipped within 10 days per (priority, 30-day
    // period); the oracle replays the day grid, the join, and the share.
    QueryDef(
      "q213_sla_attainment",
      (s, d) => slaAttainment(Tables.lineitem(s, d), Tables.orders(s, d)),
      Some("""WITH j AS (
             |  SELECT o.o_orderpriority,
             |    epoch_us(CAST(o.o_orderdate AS TIMESTAMP)) // 2592000000000
             |      AS period,
             |    (epoch_us(CAST(l.l_shipdate AS TIMESTAMP))
             |     - epoch_us(CAST(o.o_orderdate AS TIMESTAMP))) // 86400000000
             |      AS gap_days
             |  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey),
             |census AS (
             |  SELECT o_orderpriority, period,
             |    CAST(count(*) AS BIGINT) AS n_lines,
             |    CAST(sum(CASE WHEN gap_days <= 10 THEN 1 ELSE 0 END) AS BIGINT)
             |      AS n_on_time
             |  FROM j GROUP BY 1, 2)
             |SELECT o_orderpriority, period, n_lines,
             |  floor(CAST(n_on_time AS DOUBLE) / CAST(n_lines AS DOUBLE)
             |    * 1e6 + 0.5) / 1e6 AS sla_share
             |FROM census ORDER BY o_orderpriority, period""".stripMargin)),

    // ---- q215: order-mix residual census -----------------------------------
    // Observed vs independence-expected orders per (nation, priority)
    // cell, zero cells surfaced via the margins product; the oracle
    // replays the censuses and the quantized expectation/residual.
    QueryDef(
      "q215_mix_residuals",
      (s, d) => mixResiduals(Tables.orders(s, d), Tables.customer(s, d)),
      Some("""WITH base AS (
             |  SELECT c.c_nationkey, o.o_orderpriority
             |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey),
             |cells AS (
             |  SELECT c_nationkey, o_orderpriority, CAST(count(*) AS BIGINT) AS obs
             |  FROM base GROUP BY 1, 2),
             |rt AS (SELECT c_nationkey, CAST(sum(obs) AS BIGINT) AS row_tot
             |       FROM cells GROUP BY 1),
             |ct AS (SELECT o_orderpriority, CAST(sum(obs) AS BIGINT) AS col_tot
             |       FROM cells GROUP BY 1),
             |g AS (SELECT CAST(sum(obs) AS BIGINT) AS grand FROM cells)
             |SELECT rt.c_nationkey, ct.o_orderpriority,
             |  CAST(coalesce(cells.obs, 0) AS BIGINT) AS obs,
             |  floor(CAST(rt.row_tot * ct.col_tot AS DOUBLE) /
             |    CAST((SELECT grand FROM g) AS DOUBLE) * 1e6 + 0.5) / 1e6
             |    AS expected,
             |  floor((CAST(coalesce(cells.obs, 0) AS DOUBLE) -
             |    CAST(rt.row_tot * ct.col_tot AS DOUBLE) /
             |    CAST((SELECT grand FROM g) AS DOUBLE)) * 1e6 + 0.5) / 1e6
             |    AS residual
             |FROM rt CROSS JOIN ct
             |LEFT JOIN cells ON cells.c_nationkey = rt.c_nationkey
             |  AND cells.o_orderpriority = ct.o_orderpriority
             |ORDER BY rt.c_nationkey, ct.o_orderpriority""".stripMargin)),

    // ---- q218: forecast-baseline quality (naive vs seasonal-naive) ---------
    // Per-brand MASE-style error ratio over the common comparison set;
    // the oracle replays the period census, both shifted self-joins, and
    // the quantized ratio.
    QueryDef(
      "q218_forecast_baseline",
      (s, d) => forecastBaseline(Tables.lineitem(s, d), Tables.orders(s, d),
        Tables.part(s, d)),
      Some("""WITH cells AS MATERIALIZED (
             |  SELECT p.p_brand,
             |    epoch_us(CAST(o.o_orderdate AS TIMESTAMP)) // 2592000000000
             |      AS period,
             |    CAST(sum(CAST(floor(l.l_quantity + CAST(0.5 AS DOUBLE)) AS BIGINT))
             |      AS BIGINT) AS qty
             |  FROM lineitem l
             |  JOIN orders o ON o.o_orderkey = l.l_orderkey
             |  JOIN part p ON p.p_partkey = l.l_partkey
             |  GROUP BY 1, 2),
             |j AS (
             |  SELECT c.p_brand, c.qty, n.qty AS q_naive, s.qty AS q_seas
             |  FROM cells c
             |  JOIN cells n ON n.p_brand = c.p_brand AND n.period = c.period - 1
             |  JOIN cells s ON s.p_brand = c.p_brand AND s.period = c.period - 12),
             |agg AS (
             |  SELECT p_brand, CAST(count(*) AS BIGINT) AS n_periods,
             |    CAST(sum(abs(qty - q_naive)) AS BIGINT) AS e_naive,
             |    CAST(sum(abs(qty - q_seas)) AS BIGINT) AS e_seas
             |  FROM j GROUP BY 1)
             |SELECT p_brand, n_periods, e_naive, e_seas,
             |  floor(CAST(e_seas AS DOUBLE) /
             |    nullif(CAST(e_naive AS DOUBLE), CAST(0 AS DOUBLE))
             |    * 1e6 + 0.5) / 1e6 AS mase_ratio
             |FROM agg ORDER BY p_brand""".stripMargin)),

    // ---- q221: basket-size dispersion --------------------------------------
    // Per-order line-count distribution with the integer-exact
    // dispersion index; the oracle replays both censuses and the
    // rationals.
    QueryDef(
      "q221_basket_dispersion",
      (s, d) => basketDispersion(Tables.lineitem(s, d)),
      Some("""WITH po AS (
             |  SELECT l_orderkey, CAST(count(*) AS BIGINT) AS c
             |  FROM lineitem GROUP BY 1),
             |dist AS (SELECT c, CAST(count(*) AS BIGINT) AS n_orders
             |         FROM po GROUP BY 1),
             |mo AS (
             |  SELECT CAST(sum(n_orders) AS BIGINT) AS m,
             |    CAST(sum(c * n_orders) AS BIGINT) AS sc,
             |    CAST(sum(c * c * n_orders) AS BIGINT) AS scc
             |  FROM dist)
             |SELECT dist.c AS n_lines, dist.n_orders,
             |  floor(CAST(dist.n_orders AS DOUBLE) /
             |    CAST((SELECT m FROM mo) AS DOUBLE) * 1e6 + 0.5) / 1e6
             |    AS order_share,
             |  floor(CAST((SELECT m FROM mo) * (SELECT scc FROM mo)
             |      - (SELECT sc FROM mo) * (SELECT sc FROM mo) AS DOUBLE) /
             |    CAST((SELECT m FROM mo) * (SELECT sc FROM mo) AS DOUBLE)
             |    * 1e6 + 0.5) / 1e6 AS dispersion
             |FROM dist ORDER BY n_lines""".stripMargin)),

    // ---- q223: supplier lead-time trend ------------------------------------
    // Volume-floored per-supplier OLS slope of ship gap on the period
    // grid, worst 25 first; the oracle replays the grids, the moments,
    // and the (slope desc, key) head.
    QueryDef(
      "q223_leadtime_trend",
      (s, d) => leadTimeTrend(Tables.lineitem(s, d), Tables.orders(s, d)),
      Some("""WITH pts AS (
             |  SELECT l.l_suppkey,
             |    epoch_us(CAST(o.o_orderdate AS TIMESTAMP)) // 2592000000000 AS x,
             |    (epoch_us(CAST(l.l_shipdate AS TIMESTAMP))
             |     - epoch_us(CAST(o.o_orderdate AS TIMESTAMP))) // 86400000000 AS y
             |  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey),
             |mo AS (
             |  SELECT l_suppkey, CAST(count(*) AS BIGINT) AS m,
             |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             |    CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(x * y) AS BIGINT) AS sxy
             |  FROM pts GROUP BY 1 HAVING count(*) >= 20)
             |SELECT l_suppkey, m,
             |  floor(CAST(m * sxy - sx * sy AS DOUBLE) /
             |    nullif(CAST(m * sxx - sx * sx AS DOUBLE), CAST(0 AS DOUBLE))
             |    * 1e6 + 0.5) / 1e6 AS slope
             |FROM mo ORDER BY slope DESC, l_suppkey
             |LIMIT 25""".stripMargin)),
  )
}
