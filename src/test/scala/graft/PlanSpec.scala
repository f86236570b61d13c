package graft

/** Physical-plan quality gates — the 100 TB design assertions. A query can
  * be value-correct and still be wrong at scale; these tests pin the plan
  * shapes that make the difference:
  *  - scans prune columns and push predicates (I/O ∝ referenced data),
  *  - dimension joins broadcast (no fact-table shuffle),
  *  - aggregations are partial before the exchange (shuffle ∝ groups),
  *  - the multi-histogram pass reads its source exactly once.
  */
class PlanSpec extends SparkSpec {

  private def physicalPlan(name: String): String =
    SparkEntry.queries(name)(spark, sf0001).queryExecution.executedPlan.toString

  test("q02: filter and projection reach the parquet scan") {
    val p = physicalPlan("q02_filter_pushdown")
    assert(p.contains("PushedFilters: ["), "no pushed filters in scan")
    assert(p.contains("GreaterThan(l_quantity,45.0)"), s"quantity filter not pushed:\n$p")
    // pruned read schema: only the 5 referenced columns, not all 11
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_returnflag") && readSchema.contains("l_quantity"),
      s"column pruning failed: $readSchema")
  }

  test("q03/q05: dimension joins broadcast, no shuffle of the fact side") {
    val p3 = physicalPlan("q03_join_topk")
    assert(p3.contains("BroadcastHashJoin"), "customer join should broadcast")
    val p5 = physicalPlan("q05_multiway_join")
    assert(p5.contains("BroadcastHashJoin"), "nation/region join should broadcast")
  }

  test("q01: aggregation is partial (map-side) before the exchange") {
    val p = physicalPlan("q01_pricing_summary")
    val hashAggs = p.linesIterator.count(_.contains("HashAggregate"))
    assert(hashAggs >= 2, s"expected partial+final HashAggregate, got $hashAggs")
    // AQE prints the pre-execution plan (no codegen spans yet) — partial_*
    // functions in the first HashAggregate are the map-side-combine proof.
    assert(p.contains("partial_sum"), "no partial aggregation before exchange")
  }

  test("q03: top-k compiles to TakeOrderedAndProject, not a global sort") {
    val p = physicalPlan("q03_join_topk")
    assert(p.contains("TakeOrderedAndProject"), s"limit+orderBy should be top-k:\n$p")
  }

  test("histogram pass scans its source exactly once for many plots") {
    import org.apache.spark.sql.functions._
    val li = graft.core.Tables.lineitem(spark, sf0001)
    val root = graft.flow.Selection.root("all", col("l_quantity"))
    val plots = (1 to 20).map(i =>
      graft.flow.Plot(s"h$i", col("l_extendedprice") * i, root,
        graft.flow.EquidistantBinning(20, 0, 200000)))
    val plan = graft.flow.HistogramPass.run(li, plots)
      .queryExecution.executedPlan.toString
    val scans = plan.linesIterator.count(_.contains("Scan parquet"))
    assert(scans == 1, s"expected exactly 1 parquet scan for 20 plots, got $scans")
    // map-side dense fill: no per-(row, plot) Generate, and the one
    // exchange is the final aggregate's, keyed (plot, bucket)
    assert(!plan.contains("Generate"), s"histogram pass plans a Generate:\n$plan")
    val exchanges = plan.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.size == 1 &&
      exchanges.head.matches(""".*Exchange hashpartitioning\(plot#\d+, bucket#\d+, .*"""),
      s"expected one Exchange hashpartitioning(plot, bucket):\n$plan")
  }

  test("q51: streaming-twin window agg keeps partial aggregation") {
    val p = physicalPlan("q51_window_tumbling")
    assert(p.linesIterator.count(_.contains("HashAggregate")) >= 2)
  }

  test("q46: no scan filter evaluates the shingle expression corpus-wide") {
    // Regression guard: a size(shingles)>0 filter above the verification
    // semi-join gets PUSHED INTO the document scan by Catalyst and
    // re-evaluates the full shingle expression for every document on both
    // verification branches (measured 8.2s vs 5.1s at sf0.1).
    val p = physicalPlan("q46_minhash_lsh")
    val scanFilters = p.linesIterator.filter(l =>
      l.contains("Filter") && l.contains("split(text")).toSeq
    assert(scanFilters.forall(!_.contains("array_distinct")),
      s"shingle expression leaked into a corpus-wide filter:\n${scanFilters.mkString("\n")}")
    // r10: the candidate joins are UNHINTED (cand/candIds are corpus-
    // proportional in the honest near-dup regime) — at gate scale AQE must
    // still convert them to broadcasts from runtime sizes, so un-hinting
    // costs nothing where broadcast is right; NearDupScale (at 94bd464) demonstrated
    // the same code taking the shuffle-join path when pairs ∝ corpus
    val fp = finalizedPlan("q46_minhash_lsh")
    assert(fp.contains("BroadcastHashJoin"),
      s"AQE should broadcast the (runtime-tiny) candidate frames at gate scale:\n$fp")
  }

  test("q82: merge is ONE key shuffle with pre-shuffle top-1 pruning") {
    val p = physicalPlan("q82_upsert_merge")
    // the latest-wins window must prune map-side (WindowGroupLimit below
    // the exchange) so the shuffle carries at most one candidate per
    // (key, input partition), not the whole history
    val lines = p.linesIterator.toSeq
    val firstExchange = lines.indexWhere(_.contains("Exchange"))
    val firstWgl = lines.indexWhere(_.contains("WindowGroupLimit"))
    assert(firstWgl >= 0, s"expected WindowGroupLimit pruning:\n$p")
    // plan prints top-down: the outer (post-shuffle) nodes precede the
    // map-side copy, so a second WindowGroupLimit must appear after the
    // exchange line (= below it in the tree)
    assert(lines.indexWhere(_.contains("WindowGroupLimit"), firstExchange) >= 0,
      s"expected a map-side WindowGroupLimit below the exchange:\n$p")
  }

  test("q81: vocab top-k is TakeOrderedAndProject over a partial-agg census") {
    val p = physicalPlan("q81_vocab_census")
    assert(p.contains("TakeOrderedAndProject"), s"top-k must not global-sort:\n$p")
    assert(p.linesIterator.count(_.contains("HashAggregate")) >= 2,
      s"census must aggregate partially map-side:\n$p")
  }

  test("q47: token-set join runs on the 8-byte hash key, arrays only verify") {
    val p = physicalPlan("q47_simhash")
    val joinLine = p.linesIterator.find(l =>
      l.contains("Join") && l.contains("tkey")).getOrElse("")
    assert(joinLine.nonEmpty, s"join should use the tkey hash as its equi-key:\n$p")
  }

  test("q89: first-occurrence decision is a partial agg, not a window over the segment key") {
    val p = physicalPlan("q89_segment_dedup")
    // the skew-robust shape: min(struct) collapses hot segments map-side
    assert(p.contains("partial_min"), s"expected map-side min(struct) partial agg:\n$p")
    // and NO window function keyed on the segment text anywhere
    assert(!p.contains("row_number"), s"window over the segment key would funnel hot segments:\n$p")
  }

  test("q90: both LM model tables broadcast — the corpus side never shuffles its text") {
    val p = physicalPlan("q90_lm_score")
    val broadcasts = p.linesIterator.count(_.contains("BroadcastExchange"))
    assert(broadcasts >= 3, s"pruned bigram + 2 unigram joins should broadcast, got $broadcasts:\n$p")
  }

  test("q92: centroid shuffle carries (label, pos) partial sums, never vectors") {
    val p = physicalPlan("q92_label_centroids")
    assert(p.contains("partial_avg") || p.contains("partial_sum"),
      s"positional mean must partially aggregate map-side:\n$p")
    // after the explode the vector column must not survive into the exchange
    val exchangeIdx = p.linesIterator.indexWhere(_.contains("Exchange hashpartitioning(label"))
    assert(exchangeIdx >= 0, s"expected a (label, pos) hash exchange:\n$p")
  }

  test("q102: histogram-quantile sketch stays mergeable — partial bin counts before the exchange, stats broadcast") {
    // q102 is q23's documented scale path (SCALING.md): exact percentiles
    // buffer every value per group; the sketch must instead carry ≤
    // groups·bins partial counters through the shuffle. Two plan facts
    // make that true and are pinned here: (1) the bin census partially
    // aggregates map-side (a million-row partition collapses to ≤ bins
    // rows before the exchange), (2) the global [lo, hi] stats frame joins
    // as a broadcast of ONE row — never a shuffle of the fact side.
    val p = physicalPlan("q102_histogram_quantiles")
    assert(p.contains("partial_count"),
      s"bin census must partially aggregate before the exchange:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"one-row stats frame must broadcast, not shuffle:\n$p")
    // the value column must not survive into any exchange: the shuffle
    // carries (group, bin) keys and counters only
    val exchanges = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.nonEmpty, s"expected a (group, bin) hash exchange:\n$p")
    assert(!exchanges.exists(_.contains("l_extendedprice")),
      s"raw value column leaked into an exchange:\n${exchanges.mkString("\n")}")
  }

  test("runtime bloom filter prunes the fact side of a selective shuffle join") {
    // Spark's InjectRuntimeFilter: when a shuffle join's build side carries
    // a selective predicate, the probe side gets might_contain(bloom, key)
    // BEFORE its exchange — at 100 TB that drops non-matching fact rows
    // pre-shuffle, the runtime analogue of DPP for non-partition keys. The
    // size thresholds exist for cluster scale, so the test lowers the
    // application-side floor to let the optimization engage on test data;
    // broadcast is disabled because a broadcast join never needs it.
    import org.apache.spark.sql.functions._
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
      .map(k => k -> spark.conf.get(k))
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      val li = graft.core.Tables.lineitem(spark, sf0001)
      val o = graft.core.Tables.orders(spark, sf0001)
        .filter(col("o_totalprice") > 400000)
      val p = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .groupBy(col("l_returnflag")).agg(count(lit(1)))
        .queryExecution.optimizedPlan.toString
      assert(p.contains("might_contain") && p.contains("bloom_filter_agg"),
        s"selective shuffle join should inject a runtime bloom filter:\n$p")
    } finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  /** Execute and return the FINALIZED adaptive plan string (final section
    * only): under AQE, exchange/stage reuse appears only at runtime, so
    * static plans over-count scans for shared-lineage queries. */
  private def finalizedPlan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf0001)
    df.collect()
    val s = df.queryExecution.executedPlan.toString
    val cut = s.indexOf("Initial Plan")
    if (cut >= 0) s.substring(0, cut) else s
  }

  test("q104: ONE corpus scan, ONE shingle pass — exchanges reused at runtime") {
    val p = finalizedPlan("q104_setsim_prefix_join")
    // one load-bearing exchange feeds census, both self-join sides, and
    // both verification joins; without reuse this plan re-scanned 12×
    assert(p.linesIterator.count(_.contains("FileScan parquet")) == 1,
      s"expected exactly 1 documents scan in the finalized plan:\n$p")
    assert(p.linesIterator.count(_.contains("ReusedExchange")) >= 2,
      s"shared lineage must resolve to ReusedExchange at runtime:\n$p")
    // the q79 generator-guard hazard: the shingle expression must never
    // leak into the scan's pushed data filters (explode_outer blocks it)
    val scanLine = p.linesIterator.find(_.contains("FileScan parquet")).getOrElse("")
    assert(!scanLine.contains("array_distinct"),
      s"shingle expression leaked into the scan filters:\n$scanLine")
    // the q89 hot-key hazard: the df census must be the salted two-level
    // aggregate, never a window over the raw tok stream — a window gets no
    // partial aggregation, so one boilerplate shingle = one straggler task
    assert(!p.linesIterator.exists(l => l.contains("Window") && !l.contains("WindowGroupLimit")),
      s"document-frequency census regressed to a window over the tok stream:\n$p")
    // r13: "ONE shingle pass" must hold ABOVE the text exchange too — the
    // 1-scan pin alone cannot see it. The shared (tok, salt) repartition
    // feeds census + stream; a per-branch inferred filter (the verify
    // joins' isnotnull(doc_id), before the r13 hoist) splits the canonical
    // subtrees and the shingle projection materializes TWICE. Pin: exactly
    // one (tok, salt) exchange body in the finalized plan (the second
    // consumer resolves to ReusedExchange, which prints no partitioning).
    // (the censusFan join-back adds its own ENSURE_REQUIREMENTS (tok, salt)
    // exchange — only the explicit REPARTITION_BY_NUM one is the shared
    // shingle-bearing exchange this pin guards)
    val saltedBodies = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning(tok") && l.contains("salt") &&
        l.contains("REPARTITION_BY_NUM") && !l.contains("ReusedExchange"))
    assert(saltedBodies == 1,
      s"expected exactly 1 materialized (tok, salt) exchange — " +
        s"$saltedBodies means the shingle pass is duplicated:\n$p")
  }

  test("q104b: bucket-local prefix tier — ONE corpus scan, reused exchanges, no window") {
    val p = finalizedPlan("q104b_setsim_bucket_local")
    // the identity-collapse text exchange, the census exchange, and the
    // bucket self-join's exchange must all reuse: the kernel's SYMMETRIC
    // column usage (both sides contribute doc_id, n, ph, sh, hk) keeps the
    // self-join branches' pruning identical — an asymmetric spelling
    // (a-side position + b-side sorted probes) splits them and the corpus
    // scans + shingles twice
    assert(p.linesIterator.count(_.contains("FileScan parquet")) == 1,
      s"expected exactly 1 documents scan in the finalized plan:\n$p")
    assert(p.linesIterator.count(_.contains("ReusedExchange")) >= 2,
      s"shared lineage must resolve to ReusedExchange at runtime:\n$p")
    assert(!p.linesIterator.exists(l =>
        l.contains("Window") && !l.contains("WindowGroupLimit")),
      s"no window may appear in the bucket-local prefix plan:\n$p")
    // the exactly-once election lives in the join condition; the Jaccard
    // threshold must NOT — a condition-referenced column is extracted for
    // every key-matched combo in SMJ codegen, so a threshold conjunct puts
    // the 2 KB shingle arrays on the Σ occ² fan (measured 20 µs/combo,
    // Prof104BL at 94bd464). The _mid guard pins the threshold filter above the join;
    // this assert fails if the optimizer ever merges it back.
    assert(p.contains("is_first_shared_prefix"),
      s"canonical-bucket check missing from the plan:\n$p")
    // no getOrElse("") fallback (r12 ADVICE): an empty joinLine would make
    // the array-free assertion pass vacuously if a Spark upgrade renders
    // the election on an unexpected line — fail loudly instead
    val joinLine = p.linesIterator
      .find(l => l.contains("SortMergeJoin") && l.contains("is_first_shared_prefix"))
      .orElse(p.linesIterator.find(_.contains("is_first_shared_prefix")))
    assert(joinLine.nonEmpty,
      s"no plan line containing is_first_shared_prefix found:\n$p")
    assert(!joinLine.get.contains("sorted_inter_size"),
      s"Jaccard threshold leaked into the bucket join condition:\n${joinLine.get}")
    assert(p.contains("sorted_inter_size"),
      s"exact verify kernel missing from the plan:\n$p")
  }

  test("q108: ADC sums partial-aggregate map-side; distance tables broadcast; rank limit reaches the map side") {
    val p = finalizedPlan("q108_pq_adc")
    // the (qid, nid) sum must combine map-side: the shuffle carries one
    // partial row per (query, vector) per partition, never m raw lookups
    assert(p.contains("partial_sum"),
      s"ADC sum must partially aggregate before the exchange:\n$p")
    // codebook + per-query distance tables join as broadcasts — the code
    // table (the only corpus-sized side at query time) never shuffles
    assert(p.linesIterator.count(_.contains("BroadcastHashJoin")) >= 2,
      s"codebook and distance-table joins must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no corpus-side shuffle join:\n$p")
    // top-k per query: the rank filter must prune map-side
    assert(p.contains("WindowGroupLimit"),
      s"rank<=k must reach the map side as a WindowGroupLimit:\n$p")
    // the codebook is a LITERAL local table (driver-paced Lloyd, r14), so
    // TRAINING MUST NOT APPEAR in the serving plan at all: it ran once,
    // eagerly, and both consumers read m·k literal rows — before r14 the
    // codebook was an eager localCheckpoint at the top of the Lloyd dag
    // (Scan ExistingRDD), and before THAT each broadcast re-executed the
    // whole training chain (measured 8.2 s → 3.1 s at sf0.1)
    assert(p.contains("LocalTableScan"),
      s"codebook should enter as a literal model table:\n$p")
    assert(!p.contains("partial_avg"),
      s"Lloyd training leaked into the serving plan:\n$p")
  }

  test("q109: classifier is one pruned scan, one pass — no shuffle before the gate sort") {
    val p = physicalPlan("q109_linear_quality")
    assert(p.linesIterator.count(_.contains("FileScan parquet")) == 1,
      s"expected exactly 1 documents scan:\n$p")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("doc_id") && readSchema.contains("text")
      && !readSchema.contains("lang"),
      s"column pruning failed: $readSchema")
    // row-local scoring: the only exchange is the deterministic-output sort
    val exchanges = p.linesIterator.filter(l =>
      l.contains("Exchange") && !l.contains("rangepartitioning")).toSeq
    assert(exchanges.isEmpty, s"scoring must not shuffle:\n${exchanges.mkString("\n")}")
    // the tokenize+ngram pass runs ONCE per row (CollapseProject keeps the
    // multiply-referenced non-cheap alias behind its projection boundary)
    assert("transform\\(array\\(split".r.findAllIn(p).length == 1,
      s"ngram expression must be evaluated once per row:\n$p")
  }

  test("q105: k-means serving plan is ONE map pass over the materialized corpus — no join, no window, no re-scan") {
    // driver-paced Lloyd (r14): rounds ran eagerly at build; the returned
    // assignment is a row-local literal-centroid argmin over the corpus
    // checkpoint, so the plan must carry NO training machinery at all
    val p = finalizedPlan("q105_kmeans_lloyd")
    assert(p.linesIterator.count(_.contains("FileScan parquet")) == 0,
      s"assignment must read the materialized corpus projection, not re-scan:\n$p")
    assert(p.linesIterator.count(_.contains("Scan ExistingRDD")) == 1,
      s"expected exactly one materialized corpus read:\n$p")
    assert(!p.contains("Join"), s"literal-centroid argmin must not join:\n$p")
    assert(!p.contains("Window"), s"argmin must not be a window:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"the census must partially aggregate map-side:\n$p")
  }

  test("q124: heavy-hitter recount has NO join — the sketch probe is a literal-array lookup") {
    val p = physicalPlan("q124_heavy_hitters")
    assert(!p.contains("Join"),
      s"candidate filtering must be a row-local probe of plan-literal arrays, not a join:\n$p")
    assert(p.contains("element_at"), s"literal-array probe missing from plan:\n$p")
    // the recount is a partial-aggregated census of candidate rows only
    assert(p.contains("partial_count") || p.contains("partial count"),
      s"recount must partial-aggregate map-side:\n$p")
  }

  test("q125: drift totals come from per-doc counts — exactly one generator in the plan") {
    val p = physicalPlan("q125_split_drift")
    val generates = p.linesIterator.count(_.contains("Generate explode"))
    assert(generates == 1,
      s"expected ONE explode (the census side; totals must not explode), got $generates:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-k must not global-sort:\n$p")
  }

  test("q129: collocation ranking is TakeOrdered over census-sized joins") {
    val p = physicalPlan("q129_collocations")
    assert(p.contains("TakeOrderedAndProject"), s"top-k must not global-sort:\n$p")
    // totals are a one-row broadcast, never a shuffled join side
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"totals must broadcast:\n$p")
  }

  test("q135: the key-free range join bands into a HASH join, never a nested loop") {
    val p = physicalPlan("q135_banded_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"range banding must produce an equi join:\n$p")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      s"expected a hash/merge join on the band bucket:\n$p")
  }

  test("q144: lift totals broadcast; top-k rank is WindowGroupLimit-pruned") {
    val p = physicalPlan("q144_distinctive_terms")
    assert(p.contains("WindowGroupLimit"),
      s"per-source rank <= k must prune below the window:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"per-source totals / grand total must broadcast:\n$p")
  }

  test("q148: both retrieval pools are TakeOrdered; fused frames stay pool-sized") {
    val p = physicalPlan("q148_rrf_fusion")
    // three TakeOrdered: lexical pool, semantic pool, final fused top-k —
    // neither ranking global-sorts the corpus
    val takes = p.linesIterator.count(_.contains("TakeOrderedAndProject"))
    assert(takes >= 3, s"expected 3 TakeOrdered (two pools + fusion), got $takes:\n$p")
    // stats / query rows ride broadcasts (one-row frames broadcast as
    // IdentityBroadcastMode under a nested-loop join — also fine)
    assert(p.contains("BroadcastExchange"),
      s"stats/query rows must broadcast against the corpus scans:\n$p")
  }

  test("q152: the correlation matrix is ONE aggregation — no per-pair union") {
    val p = physicalPlan("q152_corr_matrix")
    assert(!p.contains("Union"), s"a per-pair union re-scans the fact table:\n$p")
    val scans = p.linesIterator.count(l =>
      l.contains("Scan parquet") || l.contains("FileScan"))
    assert(scans == 1, s"expected exactly one lineitem scan, got $scans:\n$p")
  }

  test("q155: vocab membership is a broadcast join over the exploded stream") {
    val p = physicalPlan("q155_oov_rate")
    assert(p.contains("BroadcastHashJoin"),
      s"the vocab head must broadcast — the token stream never shuffles:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"the per-source census must partial-aggregate:\n$p")
  }

  test("q165: basket rules have no window and partial-aggregate every census") {
    val p = physicalPlan("q165_basket_rules")
    // the pair census is a groupBy over the bounded self-join fan and the
    // rule metrics join censuses — a Window anywhere would funnel a hot
    // part key into one partition (the q89 rule)
    assert(!p.contains("Window"), s"no window over part keys:\n$p")
    assert(p.contains("partial_count"), s"pair census must map-side combine:\n$p")
  }

  test("q167: attribution is ONE user exchange, then census-sized work") {
    val p = physicalPlan("q167_last_touch_attribution")
    // exactly one shuffle touches event rows (the user-partitioned window);
    // every later exchange moves census/one-row frames. AQE prints the
    // static plan: count Exchange lines that sit above the events scan.
    val exchanges = p.linesIterator.count(_.trim.startsWith("Exchange"))
    assert(exchanges <= 3, s"expected user exchange + census-sized ones only:\n$p")
    assert(p.contains("RunningWindowFunction") || p.contains("Window"),
      s"the running-last fold is a window pass:\n$p")
  }

  test("q178: the attribution touch list runs over a RANGE frame, not an unbounded one") {
    val p = physicalPlan("q178_multitouch_attribution")
    // the r7 verdict's scale-killer: an unbounded-preceding collect_list
    // carries the user's ENTIRE history as per-row state. The fix pins the
    // frame to the attribution horizon — specifiedwindowframe(RangeFrame,
    // -horizonUs, -1) — so state is the in-window touch list.
    assert(p.contains("RangeFrame"),
      s"the touch-list frame must be range-bounded to the horizon:\n$p")
    assert(!p.contains("unboundedpreceding"),
      s"no unbounded-preceding frame may touch event rows:\n$p")
  }

  test("q202: the hourly census self-join reuses ONE events scan at runtime") {
    // the pair join reads the same census twice; under AQE the second
    // side must resolve to a ReusedExchange of the first census exchange
    // (static explain over-counts scans — the q104 lesson), so the
    // corpus is scanned once however many type pairs exist
    val df = SparkEntry.queries("q202_rate_correlation")(spark, sf0001)
    df.collect()
    // the adaptive plan string appends the static "Initial Plan" section,
    // which over-counts scans — cut it off before counting
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(p.contains("ReusedExchange"),
      s"census exchange must be reused by the b side:\n$p")
    val scans = p.linesIterator.count(_.contains("FileScan parquet"))
    assert(scans == 1, s"expected exactly one events scan at runtime, got $scans:\n$p")
  }

  test("q204: growth accounting is ONE pass — one window span, no join, single census") {
    val p = physicalPlan("q204_growth_accounting")
    // r14: ledger + churn cells are emitted by one 2-struct explode into a
    // single week census, so the plan is scan → user windows → generate →
    // partial agg — no lineage cut, no second grid pass, no full_outer
    // join (the r13 cut existed only because two branches pruned the
    // window frame differently)
    assert(p.linesIterator.count(_.contains("Window [")) == 1,
      s"all three user windows must ride one window span:\n$p")
    assert(p.contains("Generate"), s"ledger+churn cells come from one explode:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("full_outer"),
      s"no ledger⋈churn join in the single-pass shape:\n$p")
    assert(p.contains("partial_sum"), s"the week census must map-side combine:\n$p")
  }

  test("q205: the Gini is census-telescoped — no user-sized sort window") {
    val p = physicalPlan("q205_engagement_gini")
    // the running rank start windows over the activity DISTRIBUTION
    // (distinct levels), after TWO partial aggs; a user-sized global
    // sort would show rangepartitioning over user rows
    assert(p.contains("partial_count"), s"user census must map-side combine:\n$p")
    val windows = p.linesIterator.count(_.contains("Window ["))
    assert(windows == 1, s"one distribution window only, got $windows:\n$p")
  }

  test("q169: canonical pick is a partial max-struct agg, no member window") {
    val p = physicalPlan("q169_canonical_pick")
    assert(p.contains("partial_max") || p.contains("partial_count"),
      s"per-cluster argmax must map-side combine:\n$p")
  }

  test("q170: the skew audit never windows or globally sorts the census") {
    val p = physicalPlan("q170_skew_audit")
    assert(!p.contains("Window"), s"no window over the key census:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k concentration must be TakeOrdered, not a global sort:\n$p")
  }

  test("q172: topic terms consume ONE materialized census — no explode in the final plan") {
    val p = physicalPlan("q172_topic_terms")
    // distinctiveTerms cuts lineage at the (cluster, token) census, so the
    // corpus explode runs exactly once INTO the cut and the visible plan
    // reads the materialized census — zero Generate nodes above the cut
    val gens = p.linesIterator.count(_.contains("Generate"))
    assert(gens == 0, s"explode must sit below the census cut, got $gens:\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"per-cluster rank <= k must prune below the window:\n$p")
  }

  test("r9 identity collapse: one corpus scan feeds census + join-back in every collapsed operator") {
    // the collapse's repartition(key) exchange is consumed by BOTH the
    // representative census and the member->rep join-back; an inferred
    // per-branch isnotnull (or uneven pruning) splits the canonical
    // subtrees and the corpus scans twice — pin the finalized scan count
    // for every operator that gained the collapse this round (q104
    // already has its own pin)
    for (name <- Seq("q46_minhash_lsh", "q110_edit_neardup",
        "q136_containment_dedup", "q91_semantic_dedup")) {
      val p = finalizedPlan(name)
      val scans = p.linesIterator.count(_.contains("FileScan parquet"))
      assert(scans == 1,
        s"$name: expected exactly 1 corpus scan in the finalized plan, got $scans:\n$p")
      assert(p.contains("ReusedExchange"),
        s"$name: the collapse exchange must resolve to ReusedExchange at runtime:\n$p")
    }
  }

  test("q224: dedupCorpus reads the corpus at most twice; CC labels enter as materialized blocks") {
    // expected shape: ONE scan under the collapse exchange (census +
    // join-back + bucket pipeline all reuse it — the r9 pin) plus ONE
    // direct read for the survivor anti-join's full rows; the CC fixpoint
    // ran eagerly behind lineage cuts, so labels appear as Scan
    // ExistingRDD, never as re-executed pair-pipeline lineage
    val p = finalizedPlan("q224_dedup_corpus")
    val scans = p.linesIterator.count(_.contains("FileScan parquet"))
    assert(scans <= 2, s"q224: expected <= 2 corpus scans, got $scans:\n$p")
    assert(p.contains("Scan ExistingRDD"),
      s"q224: CC labels must enter as materialized checkpoint blocks:\n$p")
  }

  test("q192/q193/q215: multi-consumer censuses are cut — consumers never re-scan the corpus") {
    // the r5 q104 hazard (per-consumer column pruning defeats exchange
    // reuse → N consumers = N corpus scans), closed for these three by a
    // lineage cut at the census (ADVICE r8): the corpus scan runs exactly
    // once INTO the cut, so the consumer plan must contain ZERO parquet
    // scans — every branch reads the materialized census RDD instead
    for (name <- Seq("q192_fano_burstiness", "q193_cusum_changepoint",
        "q215_mix_residuals")) {
      val p = finalizedPlan(name)
      val scans = p.linesIterator.count(_.contains("FileScan parquet"))
      assert(scans == 0,
        s"$name: corpus leaked above the census cut ($scans parquet scans):\n$p")
      assert(p.contains("Scan ExistingRDD"),
        s"$name: consumers must read the materialized census RDD:\n$p")
    }
  }

  test("r12 capped bucket-local verify: survival census is a partial agg — no window, no extra scan") {
    // the q89 hot-key rule applied to the capped tier (r12 directive 1):
    // shed buckets come from a groupBy (band, sig) census joined back, so
    // an over-cap mega-bucket combines map-side instead of buffering in
    // one window task; and the census branch must not split the shared
    // doc_id exchange's canonical subtree (scan count pinned EQUAL to the
    // uncapped tier's)
    def plan(maxBucket: Int): String = {
      val df = graft.operators.Dedup.minhashLshPairs(
        graft.core.Tables.documents(spark, sf0001), 4, 5,
        maxBucket = maxBucket, bucketLocalVerify = true)
      df.collect()
      val s = df.queryExecution.executedPlan.toString
      val cut = s.indexOf("Initial Plan")
      if (cut >= 0) s.substring(0, cut) else s
    }
    val capped = plan(4)
    assert(!capped.linesIterator.exists(l =>
        l.contains("Window") && !l.contains("WindowGroupLimit")),
      s"capped survival census regressed to a window over the bucket key:\n$capped")
    val scans = (p: String) => p.linesIterator.count(_.contains("FileScan parquet"))
    // ONE corpus scan in BOTH tiers: the capped census must not split the
    // shared doc_id exchange, and the uncapped explode must stay
    // posexplode_outer — its inner form's implicit guard pushes into the
    // minhash branch's scan only and splits the collapse exchange (2
    // scans + 2 shingle passes, caught by this pin)
    assert(scans(capped) == 1, s"capped: expected 1 corpus scan:\n$capped")
    val uncapped = plan(Int.MaxValue)
    assert(scans(uncapped) == 1,
      s"uncapped: expected 1 corpus scan:\n$uncapped")
  }

  test("r12 capped default tier: bucket cap is a census anti-join — no window, scan parity") {
    // capBuckets (the DEFAULT tier's cap) follows the same q89 hot-key rule
    // as the bucket-local tier's survival census: over-cap buckets come
    // from a groupBy (band, sig) partial-agg census anti-joined back, never
    // a count window over the bucket key (which buffers the over-cap
    // mega-bucket — the one the cap exists to shed — in ONE task). Scan
    // parity with the uncapped run pins that the census branch reuses the
    // shared signature exchange instead of splitting it (the q104 census
    // lesson: count(doc_id), not count(*)).
    def plan(maxBucket: Int): String = {
      val df = graft.operators.Dedup.minhashLshPairs(
        graft.core.Tables.documents(spark, sf0001), 4, 5,
        maxBucket = maxBucket)
      df.collect()
      val s = df.queryExecution.executedPlan.toString
      val cut = s.indexOf("Initial Plan")
      if (cut >= 0) s.substring(0, cut) else s
    }
    val capped = plan(4)
    assert(!capped.linesIterator.exists(l =>
        l.contains("Window") && !l.contains("WindowGroupLimit")),
      s"default-tier bucket cap regressed to a window over the bucket key:\n$capped")
    val scans = (p: String) => p.linesIterator.count(_.contains("FileScan parquet"))
    assert(scans(capped) == scans(plan(Int.MaxValue)),
      s"capped default tier scans the corpus more often than uncapped:\n$capped")
  }

  test("r12 fuzzy variant cap: census anti-join — no window, scan parity") {
    // editDistancePairs' maxKeyCount cap: over-cap deletion-variant buckets
    // come from a groupBy(v) partial-agg census anti-joined back, never a
    // count window over v. Scan parity pins that the census's
    // count(when(s.isNotNull, id)) spelling keeps both branches'
    // projections below the shared variant exchange identical — prune s
    // from the census branch and the canonical subtrees split, computing
    // and shuffling the deletion neighborhoods twice.
    import org.apache.spark.sql.functions._
    val docs = graft.core.Tables.documents(spark, sf0001)
      .select(col("doc_id").as("id"),
        substring(col("text"), 1, 12).as("title"))
    def plan(cap: Int): String = {
      val df = graft.operators.Fuzzy.editDistancePairs(
        docs, keyCol = "title", idCol = "id", maxDist = 1, maxKeyCount = cap)
      df.collect()
      val s = df.queryExecution.executedPlan.toString
      val cut = s.indexOf("Initial Plan")
      if (cut >= 0) s.substring(0, cut) else s
    }
    val capped = plan(64)
    assert(!capped.linesIterator.exists(l =>
        l.contains("Window") && !l.contains("WindowGroupLimit")),
      s"fuzzy variant cap regressed to a window over the variant key:\n$capped")
    val scans = (p: String) => p.linesIterator.count(_.contains("FileScan parquet"))
    assert(scans(capped) == scans(plan(Int.MaxValue)),
      s"capped fuzzy run scans the corpus more often than uncapped:\n$capped")
  }

  test("q86: exact-dedup rank window is WindowGroupLimit-pruned (rn === 1 pushes a map-side limit)") {
    // Pipeline.curate's exact dedup keeps min-doc_id per fingerprint via
    // row_number + filter(rn === 1). That shape is skew-safe ONLY because
    // Spark's InferWindowGroupLimit plants a map-side WindowGroupLimit
    // below the exchange (each input partition ships at most 1 row per
    // fp), making a mega-duplicate class combine like a partial agg. If a
    // refactor breaks the rank-filter pattern the full class would buffer
    // in one window task — this pin fails first.
    val df = SparkEntry.queries("q86_curation_pipeline")(spark, sf0001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("WindowGroupLimit"),
      s"exact-dedup rank filter lost its WindowGroupLimit pushdown:\n$p")
  }
}
