package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.{Lineage, QueryDef, Tables}
import graft.core.Lineage.CutOps

/** Distributed graph analytics. [[Dedup.connectedComponents]] covers the
  * clustering side; this module adds the link-structure signals of
  * corpus curation: weighted PageRank (importance), bounded-hop seed
  * distances (TrustRank-style trust), label-propagation communities, and
  * k-NN-graph diagnostics (triangles / clustering coefficient — the
  * embedding-space audit). Domain-level rank feeds the same quality gate
  * as the Gopher rules in [[Curation.qualityFilter]].
  */
object Graph {

  /** Weighted PageRank with damping and dangling-mass redistribution:
    *
    *   rank'(v) = (1-d)/n + d · ( Σ_{(u,v)∈E} rank(u) · w(u,v)/w_out(u)
    *                              + danglingMass/n )
    *
    * Distribution shape (the GraphX/Pregel shape, spelled in DataFrames):
    * the transition table `w/w_out` is built ONCE and checkpointed; each
    * iteration is one hash join (edges ⋈ ranks on src) feeding one partial
    * agg (sum of contributions per dst) — at web scale both sides are
    * hash-partitioned on the same key, so the per-iteration cost is a
    * single co-partitioned shuffle of (node, contribution) pairs, never
    * the edge payload. The dangling term stays a one-row aggregate crossed
    * back in (broadcast), not a driver value.
    *
    * Round-state sizing (r12 directive 3): per-round churn is the
    * |V|-row rank table — the census-bounded family (with HITS/LPA/
    * seedDistances), measured mode-invariant on the §R12 ladder; block
    * residency is dominated by the TWO static E-sized cuts (e, trans),
    * so `spark.graft.checkpointDir` becomes load-bearing only when 2·E
    * rows approach the ~4e8-row single-JVM yardstick (CC/kCore hit it
    * per-ROUND instead).
    *
    * [[graft.core.Lineage.cut]] per iteration cuts the growing lineage —
    * without it iteration i's plan embeds TWO copies of iteration i-1
    * (contribution join + dangling sum), i.e. 2^iterations plan growth.
    * On a real cluster set `spark.graft.checkpointDir` so the cuts are
    * RELIABLE checkpoints (executor loss recomputes nothing older than
    * the last round) instead of executor-local blocks. The only driver
    * round-trip is `nodes.count()` (one scalar, the graph order — a
    * model parameter like IVF's k).
    *
    * Numerics: contribution sums are genuinely order-dependent doubles
    * (~1e-16 relative), so gate outputs round(·, 6) per the repo rule for
    * noise-dominated aggregates.
    *
    * @param edges (srcCol, dstCol, weightCol); parallel edges are summed
    *              into the transition weight by the w_out census.
    * @return (node, rank) — ranks sum to 1 over the node set.
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: String, iterations: Int, damping: Double = 0.85): DataFrame = {
    require(iterations >= 0)
    import org.apache.spark.sql.expressions.Window
    // ONE static cut instead of three (r14): w_out is a WINDOW over the
    // hash(src) exchange the rounds need anyway, so the edge dag has a
    // single consumer (no separate `e` checkpoint protecting a double
    // reference, no outW census join), and `nodes` derives from the
    // checkpointed trans (the inner-join spelling preserved every edge
    // row, so trans ≡ e row-for-row and src/dst sets are unchanged).
    // Value parity: window-sum vs groupBy-sum only reorders the partial
    // sums — the same nondeterminism class the operator's round(·, 6)
    // output contract already absorbs (and q97's weights are integer
    // counts, where every sum order is EXACTLY equal).
    // trans comes out hash(src)-partitioned so every round's contribution
    // join is exchange-free on BOTH sides: the rank state below is
    // hash(node)-partitioned and renames node→src, so the join keys'
    // partitionings match and the only per-round shuffle is the
    // (dst, contribution) partial-agg exchange — the single
    // co-partitioned shuffle the scaladoc contract promises.
    // the trans checkpoint CARRIES hash(src) (r14, recutPartitioned):
    // under AQE a plain cut records UnknownPartitioning (CutPartProbe at 94bd464),
    // so the round's contribution join was silently re-shuffling the
    // E-sized trans table EVERY round — the exact cost this checkpoint
    // exists to pay once. The probe cut materializes through the
    // AQE-coalescible BY_COL exchange the w_out window rides (so the
    // partition count is byte-adaptive: 1 for the nation census, hundreds
    // at web scale), then the discovered count is re-asserted — in place
    // when it is 1, through one setup re-shuffle otherwise.
    val trans = Lineage.recutPartitioned(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
          col(weightCol).cast("double").as("w"))
        .repartition(col("src"))
        .withColumn("w_out", sum(col("w")).over(Window.partitionBy(col("src"))))
        .select(col("src"), col("dst"), (col("w") / col("w_out")).as("p"))
        .cutLineage(), "src")
    // the rank state co-partitions with trans at the SAME discovered
    // count — the contribution join is then exchange-free on both sides
    val par = trans.rdd.getNumPartitions
    // uncut: referenced by count() and the r0 build only — both re-read
    // the tiny checkpointed trans blocks, never the edge-census lineage
    val nodes = trans.select(col("src").as("node"))
      .union(trans.select(col("dst").as("node")))
      .distinct()
    val n = nodes.count().toDouble
    // The dangling flag is FOLDED INTO the rank state (r14): it is static
    // per node, so carrying it as a boolean column replaces the old
    // per-round `ranks ⋉ danglingNodes` semi-join (a per-round join
    // against a SIXTH checkpointed frame) with a scalar when()-sum over
    // the frame the round already reads. The summed value set is
    // identical (the ranks of exactly the no-outgoing-edge nodes), so the
    // dm doubles match the old dag to partial-sum order — the same
    // nondeterminism class the round(·, 6) outputs already absorb.
    // the rank state carries hash(node, par) like trans carries
    // hash(src, par): the contribution join (node renamed src) is then
    // exchange-free on BOTH sides — the scaladoc's single-co-partitioned-
    // shuffle contract, now actually held by the plan (GraphSpec pins the
    // LPA twin of this shape; the same cutPreShuffled mechanism)
    var ranks = Lineage.cutPreShuffled(nodes
      .join(trans.select(col("src").as("node")).distinct()
        .withColumn("has_out", lit(true)), Seq("node"), "left")
      .select(col("node"), lit(1.0 / n).as("rank"),
        (!coalesce(col("has_out"), lit(false))).as("dangling"))
      .repartition(par, col("node")), par, "node")
    val nodeType = trans.schema("src").dataType
    for (_ <- 1 to iterations) {
      val prev = ranks
      // Dangling mass rides the CONTRIBUTION shuffle (r14): dangling
      // nodes' ranks enter the same (dst, contribution) aggregate as
      // null-dst rows (null joins nothing downstream, so the round's left
      // join is unaffected), and dm is read off the null group — the
      // separate per-round dangling aggregate exchange is gone; both
      // consumers below share this one exchange (the filters sit ABOVE
      // the final aggregate, so the canonical subtrees stay equal). The
      // summed value sets are unchanged: csum per node = Σ rank·p exactly
      // as before, dm = Σ dangling ranks exactly as before (partial-sum
      // order is the nondeterminism class the round(·, 6) outputs already
      // absorb). The agg-on-possibly-empty-filter spelling keeps dm a
      // guaranteed one-row frame when no dangling nodes exist.
      // the sentinel is an explicit boolean group key, NOT a null dst — a
      // degenerate graph with real null-dst edges must not leak those
      // contributions into the dangling mass
      val contrib0 = trans
        .join(ranks.select(col("node").as("src"), col("rank")), "src")
        .select(col("dst"), lit(false).as("is_dang"),
          (col("rank") * col("p")).as("contr"))
        .unionByName(ranks.filter(col("dangling"))
          .select(lit(null).cast(nodeType).as("dst"), lit(true).as("is_dang"),
            col("rank").as("contr")))
        .groupBy(col("dst"), col("is_dang"))
        .agg(sum(col("contr")).as("csum"))
      val dang = contrib0.filter(col("is_dang"))
        .agg(coalesce(sum(col("csum")), lit(0.0)).as("dm"))
      val contribs = contrib0.filter(!col("is_dang"))
        .select(col("dst").as("node"), col("csum"))
      // cutPreShuffled with NO repartition: the left join preserves the
      // rank state's asserted hash(node, par) (left-outer output rides the
      // streamed side; the broadcast cross joins and the projection keep
      // it), so the round output is already physically co-partitioned and
      // the cut just re-stamps it — zero added exchange per round
      ranks = Lineage.cutPreShuffled(ranks.select(col("node"), col("dangling"))
        .join(contribs, Seq("node"), "left")
        .crossJoin(broadcast(dang))
        .select(col("node"),
          (lit((1.0 - damping) / n) + lit(damping) *
            (coalesce(col("csum"), lit(0.0)) + col("dm") / n)).as("rank"),
          col("dangling")), par, "node")
      Lineage.release(prev) // new round materialized → round i−1 blocks dead
    }
    // the returned frame IS the final checkpoint: every helper census is
    // now unreferenced — one live cut per finished query, not six
    Lineage.release(trans)
    ranks.select(col("node"), col("rank"))
  }

  /** q97 oracle: one PageRank iteration as a chained-CTE step,
    * r{k} → r{k+1}. Every non-binary-exact literal is CAST to DOUBLE and
    * every arithmetic node mirrors the Spark expression dag (DuckDB's
    * default DECIMAL literals would otherwise compute 1 - 0.85 exactly,
    * where IEEE gives 0.15000000000000002). */
  private def prIterSql(k: Int): String = s"""
    |d$k AS (
    |  SELECT coalesce(sum(rank), CAST(0.0 AS DOUBLE)) AS dm FROM r$k
    |  WHERE node IN (SELECT node FROM dangn)),
    |c$k AS (
    |  SELECT t.dst AS node, sum(r.rank * t.p) AS csum
    |  FROM trans t JOIN r$k r ON r.node = t.src GROUP BY t.dst),
    |r${k + 1} AS MATERIALIZED (
    |  SELECT nodes.node,
    |    (1 - CAST(0.85 AS DOUBLE)) / (SELECT n FROM nn)
    |      + CAST(0.85 AS DOUBLE)
    |        * (coalesce(c.csum, CAST(0.0 AS DOUBLE))
    |           + (SELECT dm FROM d$k) / (SELECT n FROM nn)) AS rank
    |  FROM nodes LEFT JOIN c$k c USING (node))""".stripMargin

  private def pageRankOracle(iterations: Int): String =
    s"""WITH e AS MATERIALIZED (
       |  SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
       |         CAST(count(*) AS DOUBLE) AS w
       |  FROM lineitem l
       |  JOIN orders o ON l.l_orderkey = o.o_orderkey
       |  JOIN customer c ON o.o_custkey = c.c_custkey
       |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
       |  GROUP BY 1, 2),
       |outw AS (SELECT src, sum(w) AS w_out FROM e GROUP BY src),
       |trans AS MATERIALIZED (SELECT e.src, e.dst, e.w / o.w_out AS p FROM e JOIN outw o USING (src)),
       |nodes AS MATERIALIZED (SELECT DISTINCT node FROM
       |  (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
       |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
       |dangn AS (SELECT node FROM nodes
       |  WHERE node NOT IN (SELECT DISTINCT src FROM e)),
       |r0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nodes),""".stripMargin +
      (0 until iterations).map(prIterSql).mkString(",") +
      s"""
         |SELECT r.node, n.n_name, round(r.rank, 6) AS rank
         |FROM r$iterations r JOIN nation n ON n.n_nationkey = r.node
         |ORDER BY r.node""".stripMargin

  /** HITS hubs/authorities — the asymmetric companion to [[pageRank]]: a
    * node is a good HUB if it points at good authorities and a good
    * AUTHORITY if good hubs point at it (on the trade graph: importing
    * nations vs exporting nations — PageRank's single score cannot
    * separate the two roles). Same per-round contract as PageRank: one
    * co-partitioned join + partial agg per half-step over the EDGE CENSUS
    * (never facts), L1 normalization via a one-row aggregate crossed back
    * in broadcast, lineage cut per round. Replay discipline is also
    * PageRank's: both engines walk the identical IEEE dag and only the
    * output rounds. Sizing is PageRank's too (§R12 family map): static
    * E-sized edge cut, |V|-row per-round churn — the census-bounded
    * family; the reliable knob binds only through the static edge cut. */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: String, iterations: Int): DataFrame = {
    require(iterations >= 1)
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
      col(weightCol).cast("double").as("w")).cutLineage()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct().cutLineage()
    var h = nodes.select(col("node"), lit(1.0).as("h"))
    var a = nodes.select(col("node"), lit(0.0).as("a"))
    for (_ <- 1 to iterations) {
      val (prevH, prevA) = (h, a)
      val aRaw = e.join(h.select(col("node").as("src"), col("h")), "src")
        .groupBy(col("dst")).agg(sum(col("w") * col("h")).as("ar"))
      val aN = nodes
        .join(aRaw.select(col("dst").as("node"), col("ar")), Seq("node"), "left")
        .select(col("node"), coalesce(col("ar"), lit(0.0)).as("ar"))
      a = aN.crossJoin(broadcast(aN.agg(sum(col("ar")).as("s"))))
        .select(col("node"), (col("ar") / col("s")).as("a")).cutLineage()
      val hRaw = e.join(a.select(col("node").as("dst"), col("a")), "dst")
        .groupBy(col("src")).agg(sum(col("w") * col("a")).as("hr"))
      val hN = nodes
        .join(hRaw.select(col("src").as("node"), col("hr")), Seq("node"), "left")
        .select(col("node"), coalesce(col("hr"), lit(0.0)).as("hr"))
      h = hN.crossJoin(broadcast(hN.agg(sum(col("hr")).as("s"))))
        .select(col("node"), (col("hr") / col("s")).as("h")).cutLineage()
      Lineage.release(prevA); Lineage.release(prevH) // round i−1 dead
    }
    Lineage.release(e); Lineage.release(nodes) // result reads only h/a blocks
    h.join(a, "node")
  }

  /** q147 oracle: one HITS round as chained CTEs, h{k-1} → a{k} → h{k} —
    * the [[prIterSql]] scheme for the dag (identical IEEE expressions, no
    * per-round rounds) but with the CLAUDE.md DuckDB-inlining rule
    * applied: round CTEs are AS MATERIALIZED and the L1 normalization
    * reads its input once via `sum(…) OVER ()` (a scalar subquery would
    * double-reference the predecessor and re-evaluate the whole prefix —
    * 2^rounds evaluations of the fact-join census). */
  private def hitsIterSql(k: Int): String = s"""
    |ar$k AS (
    |  SELECT e.dst AS node, sum(e.w * hh${k - 1}.h) AS ar
    |  FROM e JOIN hh${k - 1} ON hh${k - 1}.node = e.src GROUP BY 1),
    |an$k AS (
    |  SELECT nodes.node, coalesce(ar.ar, CAST(0.0 AS DOUBLE)) AS ar
    |  FROM nodes LEFT JOIN ar$k ar USING (node)),
    |aa$k AS MATERIALIZED (SELECT node, ar / sum(ar) OVER () AS a FROM an$k),
    |hr$k AS (
    |  SELECT e.src AS node, sum(e.w * aa$k.a) AS hr
    |  FROM e JOIN aa$k ON aa$k.node = e.dst GROUP BY 1),
    |hn$k AS (
    |  SELECT nodes.node, coalesce(hr.hr, CAST(0.0 AS DOUBLE)) AS hr
    |  FROM nodes LEFT JOIN hr$k hr USING (node)),
    |hh$k AS MATERIALIZED (SELECT node, hr / sum(hr) OVER () AS h FROM hn$k)""".stripMargin

  private def hitsOracle(iterations: Int): String =
    s"""WITH e AS MATERIALIZED (
       |  SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
       |         CAST(count(*) AS DOUBLE) AS w
       |  FROM lineitem l
       |  JOIN orders o ON l.l_orderkey = o.o_orderkey
       |  JOIN customer c ON o.o_custkey = c.c_custkey
       |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
       |  GROUP BY 1, 2),
       |nodes AS MATERIALIZED (SELECT DISTINCT node FROM
       |  (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
       |hh0 AS (SELECT node, CAST(1.0 AS DOUBLE) AS h FROM nodes),""".stripMargin +
      (1 to iterations).map(hitsIterSql).mkString(",") +
      s"""
         |SELECT h.node, n.n_name,
         |  round(h.h, 6) AS hub, round(a.a, 6) AS auth
         |FROM hh$iterations h
         |JOIN aa$iterations a USING (node)
         |JOIN nation n ON n.n_nationkey = h.node
         |ORDER BY h.node""".stripMargin

  // lazy: q120's def is declared after this Seq (object init order)
  lazy val defs: Seq[QueryDef] = Seq(

    // ---- q147: HITS hubs/authorities over the trade graph ------------------
    // 5 replayed rounds on the same edge census as q97; hub = importer
    // role, authority = exporter role.
    QueryDef(
      "q147_hits",
      (s, d) => {
        val edges = Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_suppkey"))
          .join(Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey")),
            col("l_orderkey") === col("o_orderkey"))
          .join(Tables.customer(s, d)
            .select(col("c_custkey"), col("c_nationkey").as("src")),
            col("o_custkey") === col("c_custkey"))
          .join(Tables.supplier(s, d)
            .select(col("s_suppkey"), col("s_nationkey").as("dst")),
            col("l_suppkey") === col("s_suppkey"))
          .groupBy("src", "dst").agg(count(lit(1)).cast("double").as("w"))
        hits(edges, "src", "dst", "w", iterations = 5)
          .join(broadcast(Tables.nation(s, d)
            .select(col("n_nationkey").as("node"), col("n_name"))), "node")
          .select(col("node"), col("n_name"),
            round(col("h"), 6).as("hub"), round(col("a"), 6).as("auth"))
          .orderBy(col("node"))
      },
      Some(hitsOracle(5))),

    // ---- q97: PageRank over the customer→supplier nation trade graph -------
    // The edge census is the scale half: a fact⋈fact join (lineitem ⋈
    // orders) enriched by two dims, collapsed by partial agg to ≤ nations²
    // weighted edges BEFORE any iteration runs. The iterations then touch
    // only the census. The oracle replays all 5 iterations as chained CTEs
    // over the identical IEEE dag; r0 is uniform 1/n.
    QueryDef(
      "q97_pagerank",
      (s, d) => {
        val edges = Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_suppkey"))
          .join(Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey")),
            col("l_orderkey") === col("o_orderkey"))
          .join(Tables.customer(s, d)
            .select(col("c_custkey"), col("c_nationkey").as("src")),
            col("o_custkey") === col("c_custkey"))
          .join(Tables.supplier(s, d)
            .select(col("s_suppkey"), col("s_nationkey").as("dst")),
            col("l_suppkey") === col("s_suppkey"))
          .groupBy("src", "dst").agg(count(lit(1)).cast("double").as("w"))
        pageRank(edges, "src", "dst", "w", iterations = 5)
          .join(broadcast(Tables.nation(s, d)
            .select(col("n_nationkey").as("node"), col("n_name"))), "node")
          .select(col("node"), col("n_name"), round(col("rank"), 6).as("rank"))
          .orderBy(col("node"))
      },
      Some(pageRankOracle(5)),
      // headline: the iterative-graph contract (edge census + per-round
      // co-partitioned join/agg/lineage-cut) is timed at bench SF —
      // post-r6 heavy operators must be regression-visible in BENCH_r*.
      headline = true),

    // ---- q119: k-NN graph diagnostics (triangles, clustering coefficient) --
    // The neighbor-graph audit of an embedding space: high local
    // clustering = cohesive semantic regions; a near-zero coefficient on
    // supposedly-clustered data means the embeddings (or the ANN recall)
    // are broken. Gate builds the exact top-5 cosine graph on a capped
    // input (the q48 O(n²)-twin discipline); at scale the SAME graphStats
    // runs over LSH/IVF candidate edges (q50/q63) — the operator takes
    // any edge frame. Oracle replays knn, symmetrization, wedges, and
    // closures.
    QueryDef(
      "q119_knn_graph_stats",
      (s, d) => graphStats(gateKnnEdges(s, d), "qid", "nid")
        .orderBy(col("vec_id")),
      Some(KnnGraph.oracle)),

    // ---- q188: degree-distribution census ----------------------------------
    // Degrees of the capped knn graph censused to (deg, n_nodes, share,
    // cum_share); the oracle replays both censuses and the running share.
    QueryDef(
      "q188_degree_census",
      (s, d) => degreeCensus(gateKnnEdges(s, d), "qid", "nid"),
      Some(s"""WITH ${KnnGraph.undCte},
             |degn AS (
             |  SELECT node, count(*) AS deg FROM
             |    (SELECT a AS node FROM und UNION ALL SELECT b FROM und)
             |  GROUP BY node),
             |dist AS (SELECT deg, count(*) AS n_nodes FROM degn GROUP BY deg),
             |tot AS (SELECT sum(n_nodes) AS n_tot FROM dist)
             |SELECT CAST(deg AS BIGINT) AS deg, CAST(n_nodes AS BIGINT) AS n_nodes,
             |  floor(CAST(n_nodes AS DOUBLE) / CAST((SELECT n_tot FROM tot) AS DOUBLE)
             |    * 1e6 + 0.5) / 1e6 AS share,
             |  floor(CAST(sum(n_nodes) OVER (ORDER BY deg
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             |    / CAST((SELECT n_tot FROM tot) AS DOUBLE) * 1e6 + 0.5) / 1e6
             |    AS cum_share
             |FROM dist ORDER BY deg""".stripMargin)),

    // ---- q189: degree assortativity ----------------------------------------
    // Newman's r over symmetrized endpoint degrees: five integer moment
    // sums, one covariance/variance division, one sqrt; the oracle
    // replays the identical moments and the same rational.
    QueryDef(
      "q189_assortativity",
      (s, d) => assortativity(gateKnnEdges(s, d), "qid", "nid"),
      Some(s"""WITH ${KnnGraph.undCte},
             |degn AS (
             |  SELECT node, count(*) AS deg FROM
             |    (SELECT a AS node FROM und UNION ALL SELECT b FROM und)
             |  GROUP BY node),
             |sym AS (SELECT a, b FROM und UNION ALL SELECT b AS a, a AS b FROM und),
             |pr AS (
             |  SELECT da.deg AS da, db.deg AS db
             |  FROM sym JOIN degn da ON da.node = sym.a
             |           JOIN degn db ON db.node = sym.b),
             |mo AS (
             |  SELECT CAST(count(*) AS BIGINT) AS m,
             |    CAST(sum(da) AS BIGINT) AS sx, CAST(sum(db) AS BIGINT) AS sy,
             |    CAST(sum(da * da) AS BIGINT) AS sxx,
             |    CAST(sum(db * db) AS BIGINT) AS syy,
             |    CAST(sum(da * db) AS BIGINT) AS sxy
             |  FROM pr)
             |SELECT m,
             |  floor(CAST(m * sxy - sx * sy AS DOUBLE) /
             |    nullif(sqrt(CAST(m * sxx - sx * sx AS DOUBLE) *
             |                CAST(m * syy - sy * sy AS DOUBLE)), CAST(0 AS DOUBLE))
             |    * 1e6 + 0.5) / 1e6 AS assortativity
             |FROM mo""".stripMargin)),

    // ---- q190: k-core decomposition ----------------------------------------
    // 6 fixed peeling rounds at k = 8 over the STRONG-trade nation graph:
    // the q97 edge census thresholded at 1.1x the mean pair weight
    // (integer arithmetic — sum(w)*11 div 6250 — so the cut is engine-
    // exact and scale-relative; the knn-5 graph is degree-regular and
    // its cores are all-or-nothing, probed r8). The oracle replays the
    // census, the threshold, and every round as a materialized CTE
    // chain; the multi-round cascade itself is pinned by a planted-chain
    // spec (GraphSpec).
    QueryDef(
      "q190_kcore",
      (s, d) => {
        val pairs = Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_suppkey"))
          .join(Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey")),
            col("l_orderkey") === col("o_orderkey"))
          .join(Tables.customer(s, d)
            .select(col("c_custkey"), col("c_nationkey").as("src")),
            col("o_custkey") === col("c_custkey"))
          .join(Tables.supplier(s, d)
            .select(col("s_suppkey"), col("s_nationkey").as("dst")),
            col("l_suppkey") === col("s_suppkey"))
          .groupBy("src", "dst").agg(count(lit(1)).as("w"))
        val thr = pairs.agg(expr("(sum(w) * 11) div 6250").as("thr"))
        val strong = pairs.crossJoin(broadcast(thr))
          .filter(col("w") > col("thr"))
          .select(col("src"), col("dst"))
        kCore(strong, "src", "dst", k = 8, rounds = 6)
      },
      Some(kCoreOracle(8, 6))),
  ) :+ lpaDef :+ seedDistDef :+ lpaBenchDef

  private def kCoreOracle(k: Int, rounds: Int): String = {
    def round(i: Int): String =
      s"""kp$i AS MATERIALIZED (
         |  SELECT node FROM (
         |    SELECT node, count(*) AS c FROM
         |      (SELECT a AS node FROM u${i - 1} UNION ALL SELECT b FROM u${i - 1})
         |    GROUP BY node) WHERE c >= $k),
         |u$i AS MATERIALIZED (
         |  SELECT a, b FROM u${i - 1}
         |  WHERE a IN (SELECT node FROM kp$i) AND b IN (SELECT node FROM kp$i))"""
        .stripMargin
    s"""WITH pw AS MATERIALIZED (
       |  SELECT c.c_nationkey AS src, s.s_nationkey AS dst, count(*) AS w
       |  FROM lineitem l
       |  JOIN orders o ON o.o_orderkey = l.l_orderkey
       |  JOIN customer c ON c.c_custkey = o.o_custkey
       |  JOIN supplier s ON s.s_suppkey = l.l_suppkey
       |  GROUP BY 1, 2),
       |thr AS (SELECT (sum(w) * 11) // 6250 AS thr FROM pw),
       |und AS (
       |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |  FROM pw WHERE w > (SELECT thr FROM thr) AND src != dst),
       |u0 AS MATERIALIZED (SELECT a, b FROM und),""".stripMargin +
      (1 to rounds).map(round).mkString(",") + s"""
       |SELECT node, CAST(c AS BIGINT) AS deg FROM (
       |  SELECT node, count(*) AS c FROM
       |    (SELECT a AS node FROM u$rounds UNION ALL SELECT b FROM u$rounds)
       |  GROUP BY node) WHERE c >= $k
       |ORDER BY node""".stripMargin
  }

  /** Bench twin of q120: LPA over the SCALE-PATH edge set — LSH-cell
    * candidate pairs (the [[Similarity.semanticDedup]] shape: cell
    * equi-join, exact cosine inside cells only, O(Σ cell²) never O(n²))
    * over the FULL embeddings table, instead of the gate's capped exact
    * knn graph. gate = false: labelPropagation's semantics are already
    * oracle-certified by q120 and the edge builder by q91; this entry
    * exists so the production-shaped community pass is timed at bench SF
    * (GraphBenchSpec pins its determinism and label closure). */
  private[graft] def lpaCellEdges(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame = {
    val e = Tables.embeddings(s, d).select(col("vec_id"),
      col("embedding"),
      graft.functions.VectorOps.literalSignature(
        col("embedding"), Similarity.SemDedup.signs).as("cell"))
    e.as("a").join(e.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      .filter(graft.functions.VectorOps.cosine(
        col("a.embedding"), col("b.embedding")) > 0.40)
      .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"))
  }

  private val lpaBenchDef: QueryDef = QueryDef(
    "q120b_lpa_cells_bench",
    (s, d) => labelPropagation(lpaCellEdges(s, d), "a_id", "b_id",
        iters = KnnGraph.LpaIters)
      .select(col("node").as("vec_id"), col("lbl").as("community")),
    None,
    headline = true,
    gate = false)

  /** Degree, triangle count, and local clustering coefficient per node of
    * the UNDIRECTED graph induced by `edges` (any direction, duplicates
    * fine — symmetrized and oriented a < b internally). Triangles close
    * wedges via two self-joins on the oriented edge set: with edges
    * hash-partitioned on their join keys the wedge fan-out is bounded by
    * per-node degree (k-NN graphs: ≤ k per endpoint), never the corpus —
    * the standard distributed triangle-count shape. cc = 2·tri/(deg·(deg−1)),
    * floor-quantized (pure-rational). */
  def graphStats(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val und = edges.select(
        least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val deg = und.select(explode(array(col("a"), col("b"))).as("vec_id"))
      .groupBy("vec_id").agg(count(lit(1)).as("deg"))
    val tri = und.as("e1")
      .join(und.as("e2"), col("e1.b") === col("e2.a")) // a < b < c wedges
      .select(col("e1.a").as("a"), col("e1.b").as("b"), col("e2.b").as("c"))
      .as("wg")
      .join(und.as("e3"),
        col("wg.a") === col("e3.a") && col("wg.c") === col("e3.b"))
      .select(col("wg.a").as("a"), col("wg.b").as("b"), col("wg.c").as("c"))
    val triPerNode = tri
      .select(explode(array(col("a"), col("b"), col("c"))).as("vec_id"))
      .groupBy("vec_id").agg(count(lit(1)).as("tri"))
    deg.join(triPerNode, Seq("vec_id"), "left")
      .select(col("vec_id"), col("deg"),
        coalesce(col("tri"), lit(0L)).as("tri"))
      .withColumn("cc", when(col("deg") >= 2,
        floor(lit(2.0) * col("tri") / (col("deg") * (col("deg") - 1)) * 1e6 + 0.5) / 1e6)
        .otherwise(lit(0.0)))
  }

  /** Degree-distribution census of the undirected graph: (deg, n_nodes,
    * share, cum_share) ordered by degree. Two partial-agg censuses (node
    * degrees, then nodes-per-degree) — edges shuffle once on their node
    * key and the distribution itself is ≤ max-degree rows, so the running
    * share window is census-sized (the q142 discipline). Shares are
    * floor-quantized exact rationals. */
  def degreeCensus(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val und = edges.select(
        least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val deg = und.select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val dist = deg.groupBy(col("deg")).agg(count(lit(1)).as("n_nodes"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("deg"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val tot = dist.agg(sum(col("n_nodes")).as("n_tot"))
    dist.crossJoin(broadcast(tot))
      .withColumn("cum", sum(col("n_nodes")).over(w))
      .select(col("deg"), col("n_nodes"),
        (floor(col("n_nodes").cast("double") / col("n_tot").cast("double")
          * 1e6 + lit(0.5)) / 1e6).as("share"),
        (floor(col("cum").cast("double") / col("n_tot").cast("double")
          * 1e6 + lit(0.5)) / 1e6).as("cum_share"))
      .orderBy(col("deg"))
  }

  /** Degree assortativity — Pearson correlation of endpoint degrees over
    * the SYMMETRIZED edge list (each undirected edge contributes both
    * (da, db) and (db, da), the standard Newman definition): positive =
    * hubs link hubs, negative = hubs link leaves (a disassortative knn
    * graph usually means a hub-and-spokes embedding collapse). All five
    * moment sums are exact integers (degree products; one partial agg
    * over the degree-joined edge list); the only IEEE ops are the final
    * covariance/variance divisions and one sqrt — correctly rounded,
    * engine-identical. Output is one row; NULL when a variance is zero
    * (regular graph — assortativity undefined). */
  def assortativity(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val und = edges.select(
        least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val deg = und.select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val sym = und.select(col("a"), col("b"))
      .union(und.select(col("b").as("a"), col("a").as("b")))
    val pairs = sym
      .join(deg.select(col("node").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("deg").as("db")), Seq("b"))
    pairs.agg(
        count(lit(1)).as("m"),
        sum(col("da")).as("sx"), sum(col("db")).as("sy"),
        sum(col("da") * col("da")).as("sxx"),
        sum(col("db") * col("db")).as("syy"),
        sum(col("da") * col("db")).as("sxy"))
      .select(col("m"),
        (floor((col("m") * col("sxy") - col("sx") * col("sy")).cast("double") /
          nullif(sqrt((col("m") * col("sxx") - col("sx") * col("sx")).cast("double") *
            (col("m") * col("syy") - col("sy") * col("sy")).cast("double")), lit(0.0))
          * 1e6 + lit(0.5)) / 1e6).as("assortativity"))
  }

  /** k-core decomposition (bounded peeling): repeatedly drop nodes of
    * degree < k until the remaining subgraph is the k-core. Each round is
    * one degree census (partial agg) + two broadcast-semi-join filters on
    * the edge set, lineage-cut per round (the iterative-graph contract —
    * reliable checkpoints under `spark.graft.checkpointDir`).
    * Round-state sizing: the per-round cut IS the surviving EDGE set —
    * this is the pair-proportional family (with
    * [[graft.operators.Dedup.connectedComponents]]), so past the ~4e8
    * edge-row single-JVM yardstick set `spark.graft.checkpointDir`;
    * census-bounded families (PageRank/HITS/LPA/seedDistances) don't
    * need it until their one static edge cut hits the same wall
    * (SCALING.md §R12). Rounds are
    * FIXED at `rounds` with no early-exit branching: a converged round is
    * a no-op on a census-sized frame (and equality lets the oracle replay
    * the exact same chain); real deployments size `rounds` ≥ the peeling
    * depth, which is ≤ max-degree and in practice tiny — the spec plants
    * a chain whose peeling cascades to prove multi-round progress.
    * Returns the k-core's nodes with their in-core degree. */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
      rounds: Int = 6): DataFrame = {
    require(k >= 1 && rounds >= 1, s"bad k=$k rounds=$rounds")
    var und = edges.select(
        least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b")).distinct()
      .cutLineage()
    var r = 0
    while (r < rounds) {
      val keep = und.select(explode(array(col("a"), col("b"))).as("node"))
        .groupBy("node").agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k)
        .select(col("node"))
      val prev = und
      und = und
        .join(keep.select(col("node").as("a")), Seq("a"), "left_semi")
        .join(keep.select(col("node").as("b")), Seq("b"), "left_semi")
        .select(col("a"), col("b"))
        .cutLineage()
      Lineage.release(prev) // peel i−1's edge set is dead once i's is cut
      r += 1
    }
    und.select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("deg"))
      .filter(col("deg") >= k)
      .orderBy(col("node"))
  }

  /** Generated DuckDB oracles for q119/q120 (cosine spelling shared with
    * q48/q49's proven SQL form; both queries replay the SAME capped knn
    * graph through `undCte`). */
  /** The capped exact top-5 cosine knn edge set shared by the q119/q120/
    * q121 gates — the Spark-side single source of truth mirroring
    * [[KnnGraph.undCte]]'s role for the three oracles (previously spelled
    * three times inline, which let the gates drift independently). Gate
    * discipline is q48's O(n²)-twin cap (vec_id < 300); the operators
    * themselves take ANY edge frame, with LSH/IVF candidates as the scale
    * path. */
  private def gateKnnEdges(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame = {
    val e = Tables.embeddings(s, d).filter(col("vec_id") < 300)
      .select(col("vec_id"), col("embedding"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(round(col("cos"), 6).desc, col("nid"))
    e.select(col("vec_id").as("qid"), col("embedding").as("qv"))
      .join(e.select(col("vec_id").as("nid"), col("embedding").as("nv")),
        col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        graft.functions.VectorOps.cosine(col("qv"), col("nv")).as("cos"))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= 5)
      .select(col("qid"), col("nid"))
  }

  private[graft] object KnnGraph {
    /** WITH-body prefix ending at the oriented undirected edge set `und`. */
    val undCte: String =
      """e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings WHERE vec_id < 300),
        |p AS (
        |  SELECT q.vec_id AS qid, n.vec_id AS nid,
        |    list_sum(list_transform(list_zip(q.v, n.v), t -> t[1] * t[2]))
        |      / nullif(sqrt(list_sum(list_transform(q.v, x -> x * x)))
        |             * sqrt(list_sum(list_transform(n.v, x -> x * x))), 0.0) AS cos
        |  FROM e q JOIN e n ON q.vec_id != n.vec_id),
        |r AS (
        |  SELECT qid, nid,
        |    row_number() OVER (PARTITION BY qid ORDER BY round(cos, 6) DESC, nid) AS rk
        |  FROM p),
        |knn AS (SELECT qid, nid FROM r WHERE rk <= 5),
        |und AS (
        |  SELECT DISTINCT least(qid, nid) AS a, greatest(qid, nid) AS b
        |  FROM knn WHERE qid != nid)""".stripMargin

    val oracle: String =
      s"""WITH $undCte,
        |degn AS (
        |  SELECT node AS vec_id, count(*) AS deg FROM
        |    (SELECT a AS node FROM und UNION ALL SELECT b FROM und)
        |  GROUP BY node),
        |tri AS (
        |  SELECT e1.a, e1.b, e2.b AS c
        |  FROM und e1
        |  JOIN und e2 ON e2.a = e1.b
        |  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
        |trin AS (
        |  SELECT node AS vec_id, count(*) AS tri FROM
        |    (SELECT a AS node FROM tri
        |     UNION ALL SELECT b FROM tri
        |     UNION ALL SELECT c FROM tri)
        |  GROUP BY node)
        |SELECT d.vec_id, CAST(d.deg AS BIGINT) AS deg,
        |  CAST(coalesce(t.tri, 0) AS BIGINT) AS tri,
        |  CASE WHEN d.deg >= 2
        |       THEN floor(2.0 * coalesce(t.tri, 0) / (d.deg * (d.deg - 1)) * 1e6 + 0.5) / 1e6
        |       ELSE 0.0 END AS cc
        |FROM degn d LEFT JOIN trin t USING (vec_id)
        |ORDER BY vec_id""".stripMargin

    val LpaIters = 4
    val DistIters = 4

    /** q121 oracle: the same knn `und`, then `DistIters` min-plus
      * relaxation rounds as chained CTEs (seeds = vec_id < 10). */
    val distOracle: String = {
      def round(i: Int): String =
        s"""d$i AS (
           |  SELECT node, min(dist) AS dist FROM (
           |    SELECT node, dist FROM d${i - 1}
           |    UNION ALL
           |    SELECT n.node, l.dist + 1 AS dist
           |    FROM nbrs n JOIN d${i - 1} l ON l.node = n.nbr
           |    WHERE l.dist IS NOT NULL)
           |  GROUP BY node)"""
      val rounds = (1 to DistIters).map(round).mkString(",\n")
      s"""WITH $undCte,
         |nbrs AS (
         |  SELECT a AS node, b AS nbr FROM und
         |  UNION ALL SELECT b, a FROM und),
         |d0 AS (
         |  SELECT DISTINCT node,
         |    CASE WHEN node < 10 THEN CAST(0 AS BIGINT) END AS dist
         |  FROM nbrs),
         |$rounds
         |SELECT node AS vec_id, CAST(dist AS BIGINT) AS dist FROM d$DistIters
         |ORDER BY vec_id""".stripMargin
    }

    /** q120 oracle: the same knn `und`, then `LpaIters` synchronous label
      * rounds as chained CTEs — every vote census and every argmax
      * replayed (the q97/q105 iterative-oracle scheme). */
    val lpaOracle: String = {
      def round(i: Int): String =
        s"""c$i AS (
           |  SELECT n.node, l.lbl, count(*) AS c
           |  FROM nbrs n JOIN l${i - 1} l ON l.node = n.nbr GROUP BY 1, 2),
           |l$i AS (
           |  SELECT node, lbl FROM (
           |    SELECT node, lbl, row_number() OVER (PARTITION BY node ORDER BY c DESC, lbl) AS rk
           |    FROM c$i) WHERE rk = 1)"""
      val rounds = (1 to LpaIters).map(round).mkString(",\n")
      s"""WITH $undCte,
         |nbrs AS (
         |  SELECT a AS node, b AS nbr FROM und
         |  UNION ALL SELECT b, a FROM und),
         |l0 AS (SELECT DISTINCT node, node AS lbl FROM nbrs),
         |$rounds
         |SELECT node AS vec_id, lbl AS community FROM l$LpaIters
         |ORDER BY vec_id""".stripMargin
    }
  }

  /** Bounded-hop distances from a SEED node set over the undirected graph
    * — the TrustRank-style curation signal (hops from hand-trusted seeds
    * gate crawl quality the way PageRank gates importance). `iters`
    * rounds of min-plus relaxation give exact distances up to `iters`
    * hops (unreached nodes stay NULL — a diameter bound, not an error).
    * Per round: ONE co-partitioned neighbor⋈frontier join + a partial-agg
    * min — the Bellman-Ford/BFS hybrid every Pregel system runs, spelled
    * declaratively; lineage cut per round. Sizing: static E-sized edge
    * cut + |V|-row round state, the [[labelPropagation]] family — the
    * reliable knob matters only once the edge frame outgrows block
    * storage. */
  def seedDistances(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, iters: Int): DataFrame = {
    // neighbor cut pre-partitioned on the round join's key (r14 — the
    // labelPropagation discipline; see its scaladoc): the relax join's
    // 2E-row side is exchange-free every round
    val und = edges.select(
        least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val nbrs = Lineage.recutPartitioned(
      und.select(col("a").as("node"), col("b").as("nbr"))
        .unionAll(und.select(col("b").as("node"), col("a").as("nbr")))
        .repartition(col("nbr"))
        .cutLineage(), "nbr")
    val seedSet = seeds.select(col(seeds.columns.head).as("node")).distinct()
    var dist = nbrs.select(col("node")).distinct()
      .join(seedSet.withColumn("zero", lit(0L)), Seq("node"), "left")
      .select(col("node"), col("zero").as("dist"))
    for (_ <- 1 to iters) {
      val relaxed = nbrs
        .join(dist.filter(col("dist").isNotNull)
          .select(col("node").as("nbr"), col("dist")), Seq("nbr"))
        .select(col("node"), (col("dist") + 1L).as("dist"))
      val prev = dist
      dist = dist.unionAll(relaxed)
        .groupBy(col("node")).agg(min(col("dist")).as("dist"))
        .cutLineage()
      Lineage.release(prev)
    }
    if (iters >= 1) Lineage.release(nbrs)
    dist
  }

  /** Synchronous label propagation (LPA) community detection: every node
    * starts as its own community and each round adopts the most frequent
    * label among its neighbors (ties → smallest label — a total,
    * engine-replayable order; no RNG, unlike classic async LPA). Per
    * round: ONE co-partitioned join of the neighbor list against the
    * |V|-row label table, a partial-agg vote census, and a min-struct
    * argmax — edges never materialize per-iteration state beyond (node,
    * label) pairs, and lineage is cut per round (the PageRank/BPE
    * checkpoint discipline), so iterations stay O(E) shuffles at any
    * scale. Input may be directed/duplicated — symmetrized internally.
    *
    * Round-state sizing (r12 directive 3, the CC lesson's family map):
    * the symmetrized edge set is cut ONCE at entry (r12: previously it
    * was re-derived lazily, so every round's job re-executed the
    * symmetrize/distinct shuffles AND the caller's whole edge-builder
    * lineage — iters x the front-end for nothing) — so block-manager
    * residency is one STATIC E-sized frame plus a |V|-row
    * frame churning per round (eagerly released). That is the
    * PageRank/HITS shape: the reliable-checkpoint knob
    * (`spark.graft.checkpointDir`) becomes necessary only when the
    * static edge frame itself outgrows single-JVM block storage (the
    * ~4e8-row CC yardstick) — unlike CC/kCore, whose PER-ROUND state is
    * edge-sized. */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int): DataFrame = {
    // The neighbor list is checkpointed PRE-PARTITIONED on the round
    // join's key (r14 — cutPartitioned, which RE-ASSERTS the hash
    // partitioning AQE checkpoints otherwise drop): every round joins
    // nbrs ⋈ labels on nbr, so the 2E-row nbrs side is exchange-free in
    // EVERY round (GraphSpec pins the round-join plan) — previously the
    // whole neighbor stream re-shuffled per round, the single biggest
    // per-round byte mover at scale. Block residency: one static 2E-row
    // frame (was E, traded for iters× fewer E-sized shuffles) plus the
    // |V|-row label frame churning per round (eagerly released); the
    // labels side still re-exchanges per round — |V| rows, the cheap side.
    val und = edges.select(
        least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val nbrs = Lineage.recutPartitioned(
      und.select(col("a").as("node"), col("b").as("nbr"))
        .unionAll(und.select(col("b").as("node"), col("a").as("nbr")))
        .repartition(col("nbr"))
        .cutLineage(), "nbr")
    var labels = nbrs.select(col("node")).distinct()
      .withColumn("lbl", col("node"))
    for (_ <- 1 to iters) {
      val prev = labels
      labels = nbrs
        .join(labels.select(col("node").as("nbr"), col("lbl")), Seq("nbr"))
        .groupBy(col("node"), col("lbl")).agg(count(lit(1)).as("c"))
        .groupBy(col("node"))
        .agg(min(struct((-col("c")).as("nc"), col("lbl").as("l"))).as("best"))
        .select(col("node"), col("best.l").as("lbl"))
        .cutLineage()
      Lineage.release(prev)
    }
    // after >= 1 round the returned labels are a self-contained cut leaf;
    // at iters = 0 they still read nbrs, so the edge blocks must live on
    if (iters >= 1) Lineage.release(nbrs)
    labels
  }

  private val seedDistDef: QueryDef = QueryDef(
    "q121_seed_distances",
    (s, d) => {
      val seeds = Tables.embeddings(s, d)
        .filter(col("vec_id") < 10).select(col("vec_id"))
      seedDistances(gateKnnEdges(s, d), "qid", "nid", seeds,
          iters = KnnGraph.DistIters)
        .select(col("node").as("vec_id"), col("dist"))
        .orderBy(col("vec_id"))
    },
    Some(KnnGraph.distOracle))

  private val lpaDef: QueryDef = QueryDef(
    "q120_lpa_communities",
    (s, d) => {
      labelPropagation(gateKnnEdges(s, d), "qid", "nid",
          iters = KnnGraph.LpaIters)
        .select(col("node").as("vec_id"), col("lbl").as("community"))
        .orderBy(col("vec_id"))
    },
    Some(KnnGraph.lpaOracle))
}
