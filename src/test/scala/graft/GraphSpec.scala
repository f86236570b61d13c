package graft

import graft.operators.Graph

class GraphSpec extends SparkSpec {
  import spark.implicits._

  private def ranksOf(edges: Seq[(Int, Int, Double)], iters: Int): Map[Int, Double] =
    Graph.pageRank(edges.toDF("src", "dst", "w"), "src", "dst", "w", iters)
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap

  test("pageRank: symmetric 2-cycle stays uniform at any iteration count") {
    val r = ranksOf(Seq((1, 2, 1.0), (2, 1, 1.0)), iters = 4)
    assert(math.abs(r(1) - 0.5) < 1e-12 && math.abs(r(2) - 0.5) < 1e-12)
  }

  test("pageRank: dangling sink, one iteration, hand-computed") {
    // A→B only; B dangling. n=2, r0 = (.5, .5); dangling mass = .5.
    // rank(B) = .15/2 + .85*(.5 + .25) = .7125; rank(A) = .075 + .85*.25
    val r = ranksOf(Seq((1, 2, 1.0)), iters = 1)
    assert(math.abs(r(2) - 0.7125) < 1e-12)
    assert(math.abs(r(1) - 0.2875) < 1e-12)
  }

  test("pageRank: edge weights split contributions proportionally") {
    // A→B (w=3), A→C (w=1); B,C dangling. After 1 iter, the flow out of A
    // divides 3:1, so rank(B) - rank(C) = .85 * (3/4 - 1/4) * r0(A) = .85/6
    val r = ranksOf(Seq((1, 2, 3.0), (1, 3, 1.0)), iters = 1)
    assert(math.abs((r(2) - r(3)) - 0.85 * 0.5 * (1.0 / 3.0)) < 1e-12)
  }

  test("pageRank: ranks always sum to 1 (mass conservation incl. dangling)") {
    val edges = Seq((1, 2, 1.0), (2, 3, 2.0), (3, 1, 1.0), (3, 4, 1.0),
      (4, 5, 1.0), (5, 1, 3.0), (6, 1, 1.0)) // 6 has no in-links
    for (k <- Seq(0, 1, 3, 7)) {
      val r = ranksOf(edges, k)
      assert(math.abs(r.values.sum - 1.0) < 1e-9, s"iter $k: ${r.values.sum}")
      assert(r.values.forall(_ > 0))
    }
  }

  test("pageRank: parallel edges merge into the transition weight") {
    // (1→2 twice, w=1 each) must equal (1→2 once, w=2) exactly
    val a = ranksOf(Seq((1, 2, 1.0), (1, 2, 1.0), (2, 1, 1.0)), iters = 3)
    val b = ranksOf(Seq((1, 2, 2.0), (2, 1, 1.0)), iters = 3)
    assert(a == b)
  }

  test("graphStats: planted square-with-diagonal; duplicates and reversals collapse") {
    import org.apache.spark.sql.functions._
    // 1-2-3-4 cycle + diagonal (1,3): triangles (1,2,3) and (1,3,4).
    // Reversed and duplicated edges must not change anything.
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L),
      (2L, 1L), (3L, 1L), (1L, 3L)).toDF("src", "dst")
    val got = graft.operators.Graph.graphStats(edges, "src", "dst")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got == Map(
      1L -> ((3L, 2L, math.floor(2.0 * 2 / (3 * 2) * 1e6 + 0.5) / 1e6)),
      2L -> ((2L, 1L, 1.0)),
      3L -> ((3L, 2L, math.floor(2.0 * 2 / (3 * 2) * 1e6 + 0.5) / 1e6)),
      4L -> ((2L, 1L, 1.0))))
  }

  test("labelPropagation: cliques converge to their min label; components stay separate") {
    import org.apache.spark.sql.functions._
    // two disconnected triangles — after 2 synchronous rounds each clique
    // unanimously carries its smallest member id, and no label crosses
    // the component boundary
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 1L),
      (4L, 5L), (5L, 6L), (6L, 4L),
      (2L, 1L) // duplicate reversed edge must not change the vote
    ).toDF("src", "dst")
    val got = graft.operators.Graph.labelPropagation(edges, "src", "dst", iters = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 6L -> 4L))
  }

  test("labelPropagation round join consumes the neighbor cut exchange-free (r14 pre-partition pin)") {
    import org.apache.spark.sql.functions._
    import graft.core.Lineage.CutOps
    // Mirrors one labelPropagation round over the SAME nbrs-cut shape the
    // operator builds (Lineage.cutPartitioned on nbr): the checkpoint
    // must come back partitioning-aware — under AQE a PLAIN cut records
    // UnknownPartitioning (CutPartProbe at 94bd464, r14;
    // CheckpointPartitioningSpec pins it) — so the round join needs
    // NO exchange on the E-sized nbrs side; only the labels side (spelled
    // as a literal here so the branches are distinguishable) shuffles to
    // co-partition. If the assertion were lost, the nbrs branch would
    // re-shuffle hash(nbr) every round — exactly the per-round E-shuffle
    // the r14 change deletes. Broadcast is disabled for the probe so the
    // join cannot degenerate to BHJ.
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    keys.foreach(k => spark.conf.set(k, "-1"))
    try {
      val edges = (1L to 400L).map(i => (i, i % 97 + 1000L)).toDF("src", "dst")
      val und = edges.select(least($"src", $"dst").as("a"),
          greatest($"src", $"dst").as("b"))
        .filter($"a" =!= $"b").distinct()
      val nbrs = graft.core.Lineage.recutPartitioned(
        und.select($"a".as("node"), $"b".as("nbr"))
          .unionAll(und.select($"b".as("node"), $"a".as("nbr")))
          .repartition($"nbr")
          .cutLineage(), "nbr")
      val labels = (1L to 1097L).map(i => (i, i)).toDF("nbr", "lbl")
      val round = nbrs.join(labels, Seq("nbr"))
        .groupBy($"node", $"lbl").agg(count(lit(1)).as("c"))
        .groupBy($"node")
        .agg(min(struct((-$"c").as("nc"), $"lbl".as("l"))).as("best"))
        .select($"node", $"best.l".as("lbl"))
      round.collect() // finalized adaptive plan — the PlanSpec pattern
      // final section only: the AQE string repeats the tree under
      // "== Initial Plan ==", which would double-count
      val p = round.queryExecution.executedPlan.toString
        .linesIterator.takeWhile(!_.contains("== Initial Plan ==")).mkString("\n")
      assert(p.linesIterator.count(_.contains("Scan ExistingRDD")) == 1,
        s"expected the one nbrs checkpoint read:\n$p")
      val nbrEx = p.linesIterator.count(l =>
        l.contains("Exchange hashpartitioning(nbr"))
      assert(nbrEx == 1,
        s"expected ONE hash(nbr) exchange (the labels side only) — " +
          s"$nbrEx means the cut ${if (nbrEx > 1) "lost its partitioning"
          else "shape changed"}:\n$p")
      graft.core.Lineage.release(nbrs)
    } finally saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("seedDistances: exact hop counts on a path; unreached beyond iters stay null") {
    import org.apache.spark.sql.functions._
    // path 0-1-2-3-4-5-6, seed {0}, 4 rounds: dists 0..4; nodes 5,6 null
    val edges = (0L to 5L).map(i => (i, i + 1)).toDF("src", "dst")
    val seeds = Seq(Tuple1(0L)).toDF("node")
    val got = graft.operators.Graph.seedDistances(edges, "src", "dst", seeds, iters = 4)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(got == Map(
      0L -> Some(0L), 1L -> Some(1L), 2L -> Some(2L), 3L -> Some(3L),
      4L -> Some(4L), 5L -> None, 6L -> None))
  }

  test("Lineage: reliable-checkpoint mode matches local mode and writes real files") {
    import org.apache.spark.sql.functions._
    // a session with spark.graft.checkpointDir set switches every
    // iterative lineage cut to RELIABLE checkpointing; values must be
    // identical to the default (localCheckpoint) session
    val ckptDir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val s2 = spark.newSession()
    s2.conf.set(graft.core.Lineage.ConfKey, ckptDir)
    def edges(s: org.apache.spark.sql.SparkSession) = {
      import s.implicits._
      Seq((0L, 1L, 1.0), (1L, 2L, 1.0), (2L, 0L, 1.0), (3L, 0L, 2.0), (4L, 3L, 1.0))
        .toDF("src", "dst", "w")
    }
    def ranks(s: org.apache.spark.sql.SparkSession) =
      graft.operators.Graph.pageRank(edges(s), "src", "dst", "w", iterations = 4)
        .select(col("node"), round(col("rank"), 6).as("rank"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    def communities(s: org.apache.spark.sql.SparkSession) =
      graft.operators.Graph.labelPropagation(edges(s), "src", "dst", iters = 3)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val (rLocal, rReliable) = (ranks(spark), ranks(s2))
    assert(rReliable == rLocal)
    assert(communities(s2) == communities(spark))
    // the reliable run actually landed RDD checkpoint files on disk
    val installed = spark.sparkContext.getCheckpointDir.get
      .stripPrefix("file:")
    val found = java.nio.file.Files.walk(java.nio.file.Paths.get(installed))
      .filter(p => java.nio.file.Files.isRegularFile(p)).count()
    assert(found > 0, s"expected checkpoint files under $installed")
  }

  test("q120b bench twin: communities are deterministic, closed over the edge set") {
    // The bench-only def (gate = false) is pinned here instead: labels come
    // from the node universe of the LSH-cell edge set, every node gets
    // exactly one community, and a rebuild is bit-identical (no RNG).
    import org.apache.spark.sql.functions._
    val d = "/root/testdata/sf0.001"
    val q = graft.operators.Graph.defs.find(_.name == "q120b_lpa_cells_bench").get
    val a = q.build(spark, d).collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(a.nonEmpty)
    assert(a.map(_._1).distinct.length == a.length, "one community per node")
    val nodes = a.map(_._1).toSet
    assert(a.map(_._2).toSet.subsetOf(nodes), "labels are member node ids")
    val vecIds = graft.core.Tables.embeddings(spark, d)
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    assert(nodes.subsetOf(vecIds))
    val b = q.build(spark, d).collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(a.sorted.sameElements(b.sorted), "deterministic rebuild")
  }

  test("graphStats: self-loops are dropped and a triangle-free star has cc 0") {
    import org.apache.spark.sql.functions._
    val edges = Seq((0L, 1L), (0L, 2L), (0L, 3L), (2L, 2L)).toDF("src", "dst")
    val got = graft.operators.Graph.graphStats(edges, "src", "dst")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got == Map(
      0L -> ((3L, 0L, 0.0)), 1L -> ((1L, 0L, 0.0)),
      2L -> ((1L, 0L, 0.0)), 3L -> ((1L, 0L, 0.0))))
  }

  test("hits: the all-out star is the top hub, the all-in sink the top authority") {
    import org.apache.spark.sql.functions._
    // 9 points at everything (pure hub); 0 is pointed at by everything
    // (pure authority); 1-3 are both pointed-at and pointing
    val edges = Seq((9L, 0L), (1L, 0L), (2L, 0L), (3L, 0L),
      (9L, 1L), (9L, 2L), (9L, 3L))
      .toDF("src", "dst").withColumn("w", lit(1.0))
    val out = graft.operators.Graph.hits(edges, "src", "dst", "w", iterations = 5)
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    val topHub = out.maxBy(_._2._1)._1
    val topAuth = out.maxBy(_._2._2)._1
    assert(topHub == 9L, s"got $out")
    assert(topAuth == 0L, s"got $out")
    // pure-sink 0 has no out-edges -> hub 0; pure-source 9 -> auth 0
    assert(out(0L)._1 == 0.0 && out(9L)._2 == 0.0)
    // each normalized vector sums to 1
    assert(math.abs(out.values.map(_._1).sum - 1.0) < 1e-9)
    assert(math.abs(out.values.map(_._2).sum - 1.0) < 1e-9)
  }

  test("degreeCensus: star graph census with exact shares") {
    // S3: center 0 with leaves 1,2,3 -> degrees {0:3, 1:1, 2:1, 3:1}
    val edges = Seq((0, 1), (0, 2), (0, 3)).toDF("src", "dst")
    val out = Graph.degreeCensus(edges, "src", "dst").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3))))
      .toMap
    assert(out == Map(1L -> ((3L, 0.75, 0.75)), 3L -> ((1L, 0.25, 1.0))),
      s"got $out")
  }

  test("assortativity: a star is perfectly disassortative (r = -1)") {
    val edges = Seq((0, 1), (0, 2), (0, 3)).toDF("src", "dst")
    val r = Graph.assortativity(edges, "src", "dst").head()
    assert(r.getLong(0) == 6L) // 3 undirected edges symmetrized
    assert(r.getDouble(1) == -1.0, s"got $r")
    // regular graph: variance 0 -> NULL, never a division blowup
    val cyc = Seq((1, 2), (2, 3), (3, 1)).toDF("src", "dst")
    assert(Graph.assortativity(cyc, "src", "dst").head().isNullAt(1))
  }

  test("kCore: peeling CASCADES down a planted chain into the core") {
    // path 1-2-3-4-5 welded to triangle {5,6,7}: the 2-core is the
    // triangle, reached only by peeling the path one node per round
    // (round r removes node r) — proves multi-round progress, not a
    // single-pass degree filter
    val edges = Seq((1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (6, 7), (7, 5))
      .toDF("src", "dst")
    val out = Graph.kCore(edges, "src", "dst", k = 2, rounds = 6).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(out == Map(5 -> 2L, 6 -> 2L, 7 -> 2L), s"got $out")
    // too few rounds -> the chain is only partially peeled (cascade real):
    // rounds 1-2 remove nodes 1 and 2; the final census filter sheds the
    // new degree-1 end 3, leaving 4 still in
    val partial = Graph.kCore(edges, "src", "dst", k = 2, rounds = 2).collect()
      .map(_.getInt(0)).toSet
    assert(partial == Set(4, 5, 6, 7), s"got $partial")
  }
}
