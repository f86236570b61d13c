package graft

import org.apache.spark.sql.functions._
import graft.functions.VectorOps

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("dot / norm / cosine algebra on known vectors") {
    val df = Seq(
      (Array(1.0f, 0.0f, 0.0f), Array(0.0f, 1.0f, 0.0f)),  // orthogonal
      (Array(1.0f, 2.0f, 2.0f), Array(2.0f, 4.0f, 4.0f)),  // parallel
      (Array(3.0f, 4.0f, 0.0f), Array(3.0f, 4.0f, 0.0f))).toDF("a", "b")
    val rows = df.select(
      VectorOps.dot($"a", $"b").as("dot"),
      VectorOps.norm($"a").as("na"),
      VectorOps.cosine($"a", $"b").as("cos"),
      VectorOps.l2sq($"a", $"b").as("l2")).collect()
    assert(math.abs(rows(0).getDouble(0)) < 1e-12 && math.abs(rows(0).getDouble(2)) < 1e-12)
    assert(math.abs(rows(1).getDouble(2) - 1.0) < 1e-12)
    assert(math.abs(rows(2).getDouble(1) - 5.0) < 1e-12)
    assert(math.abs(rows(2).getDouble(3)) < 1e-12)
    assert(math.abs(rows(0).getDouble(3) - 2.0) < 1e-12)
  }

  test("cosine of zero vector is null, not NaN") {
    val df = Seq((Array(0.0f, 0.0f), Array(1.0f, 1.0f))).toDF("a", "b")
    val r = df.select(VectorOps.cosine($"a", $"b")).head()
    assert(r.isNullAt(0))
  }

  test("hyperplane signature: deterministic, in range, splits the corpus") {
    val e = graft.core.Tables.embeddings(spark, sf0001)
    val sig = e.select($"vec_id", VectorOps.hyperplaneSignature($"embedding", 6).as("s"))
    val a = sig.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = sig.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b, "signature must be deterministic across jobs")
    assert(a.values.forall(s => s >= 0 && s < 64))
    assert(a.values.toSet.size > 8, "6-bit signature should spread the corpus")
  }

  test("IVF ANN recall against brute-force top-5 (probed k-means cells)") {
    val brute = graft.operators.Similarity.defs.find(_.name == "q49_cosine_topk").get
      .build(spark, sf0001).select("qid", "nid")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = graft.operators.Similarity.ivfTopK(
      spark, graft.core.Tables.embeddings(spark, sf0001), nQueries = 10)
      .select("qid", "nid")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (ivf intersect brute).size.toDouble / brute.size
    // data-adaptive cells beat random hyperplanes on this corpus
    assert(recall >= 0.2, s"IVF recall $recall suspiciously low")
    assert(ivf.forall { case (q, n) => q != n })
  }

  test("LSH pair retrieval vs brute-force pairs (precision 1.0, recall > 0)") {
    // q48 is the exact cos>0.40 pair set (capped at vec_id<2000, which covers
    // the whole sf0.001 corpus); q50 is the LSH-bucketed approximation of the
    // SAME pair predicate. Every LSH pair must be a true pair (the cosine
    // verification step makes precision exact); bucketing makes recall
    // partial — 8-bit radius-1 multiprobe is a coarse filter on random data.
    val brute = graft.operators.Similarity.defs.find(_.name == "q48_embedding_neardup").get
      .build(spark, sf0001).select("a_id", "b_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = graft.operators.Similarity.defs.find(_.name == "q50_ann_lsh").get
      .build(spark, sf0001).select("a_id", "b_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.nonEmpty, "brute-force pair set unexpectedly empty")
    val capped = ann.filter { case (a, b) => a < 2000 && b < 2000 }
    assert(capped.subsetOf(brute), "LSH retrieved a pair brute force rejects")
    val recall = (ann intersect brute).size.toDouble / brute.size
    assert(recall > 0.0, s"LSH recall $recall — plumbing found nothing")
    assert(ann.forall { case (a, b) => a < b })
  }

  test("semanticDedup: identical vectors cluster to min id, distinct directions survive") {
    import graft.operators.Similarity
    val dup = Array.tabulate(64)(i => if (i == 0) 1f else 0f)
    val other = Array.tabulate(64)(i => if (i == 1) 1f else 0f) // cosine 0 vs dup
    val df = Seq((1L, dup), (2L, dup), (3L, dup), (4L, other))
      .toDF("vec_id", "embedding")
    val got = Similarity.semanticDedup(df, Similarity.SemDedup.signs, 0.40)
      .orderBy($"vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(got.toSeq == Seq((1L, 1L, 1), (2L, 1L, 0), (3L, 1L, 0), (4L, 4L, 1)))
  }

  test("semanticDedup identity collapse: zero-vector dups stay kept, groups bridge to neighbors (r9)") {
    import graft.operators.Similarity
    // zero vectors have null self-cosine (null-safe), so identical zero
    // rows must NOT be inferred duplicates — the pre-collapse semantics
    // (nothing pairs with a zero vector, every row kept) must survive the
    // r9 identity collapse's grouping
    val zero = Array.fill(64)(0f)
    val dup = Array.tabulate(64)(i => if (i == 0) 1f else 0f)
    val near = Array.tabulate(64)(i => if (i == 0) 1f else if (i == 1) 0.1f else 0f)
    val df = Seq((1L, zero), (2L, zero), (3L, dup), (4L, dup), (5L, near))
      .toDF("vec_id", "embedding")
    val got = Similarity.semanticDedup(df, Similarity.SemDedup.signs, 0.40)
      .orderBy($"vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    // cosine(dup, near) = 1/sqrt(1.01) ≈ 0.995 > 0.40 and they share the
    // all-positive-signs cell iff the planes agree — the brute reference
    // is computed the pre-collapse way to pin equality
    val e = df.select($"vec_id", $"embedding",
      graft.functions.VectorOps.literalSignature($"embedding",
        Similarity.SemDedup.signs).as("cell"))
    val pairs = e.as("a").join(e.as("b"),
        $"a.cell" === $"b.cell" && $"a.vec_id" < $"b.vec_id")
      .filter(round(graft.functions.VectorOps.cosine(
        $"a.embedding", $"b.embedding"), 6) > 0.40)
      .select($"a.vec_id".as("a_id"), $"b.vec_id".as("b_id"))
    val labels = graft.operators.Dedup.connectedComponents(pairs)
      .select($"node".as("vec_id"), $"label")
    val exp = df.select($"vec_id").join(broadcast(labels), Seq("vec_id"), "left")
      .select($"vec_id", coalesce($"label", $"vec_id").as("rep_id"),
        (coalesce($"label", $"vec_id") === $"vec_id").cast("int").as("kept"))
      .orderBy($"vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(got == exp, s"collapse diverged from pre-collapse semantics: $got vs $exp")
    // zero-vector rows each keep themselves
    assert(got.take(2) == Seq((1L, 1L, 1), (2L, 2L, 1)), got.toString)
    // the dup group clusters to min id 3
    assert(got.filter(p => p._1 == 3L || p._1 == 4L).forall(_._2 == 3L), got.toString)
  }

  test("labelCentroids: hand-computed mean-pool, dim order preserved") {
    import graft.operators.Similarity
    val df = Seq(
      (1L, Array(1.0f, 2.0f, 3.0f), 0),
      (2L, Array(3.0f, 2.0f, 1.0f), 0),
      (3L, Array(10.0f, 0.0f, 0.0f), 1)).toDF("vec_id", "embedding", "label")
    val got = Similarity.labelCentroids(df).orderBy($"label")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getSeq[Double](2)))
    assert(got.toSeq == Seq(
      (0, 2L, Seq(2.0, 2.0, 2.0)),
      (1, 1L, Seq(10.0, 0.0, 0.0))))
  }

  test("centroidOutliers: farthest-from-centroid ranks first") {
    import graft.operators.Similarity
    // label 0: two points at distance 1 from centroid (1.5,0), one at ~0.25
    val df = Seq(
      (1L, Array(1.0f, 0.0f), 0),
      (2L, Array(2.0f, 0.0f), 0),
      (3L, Array(1.5f, 0.5f), 0)).toDF("vec_id", "embedding", "label")
    val got = Similarity.centroidOutliers(df, topK = 2)
      .orderBy($"rk").collect().map(r => (r.getLong(1), r.getDouble(2), r.getInt(3)))
    // centroid = (1.5, 1/6); d2(1)=d2(2)=0.25+1/36, d2(3)=1/9 — tie on d2
    // breaks to min vec_id
    assert(got.map(_._1).toSeq == Seq(1L, 2L))
    assert(got(0)._2 == got(1)._2, "symmetric points tie on quantized d2")
  }

  test("semanticDedup invariants on real embeddings: one kept rep per cluster") {
    val out = graft.operators.Similarity.defs.find(_.name == "q91_semantic_dedup").get
      .build(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(out.nonEmpty)
    // rep is the component minimum, kept marks exactly the representative
    assert(out.forall { case (id, rep, kept) => rep <= id && (kept == 1) == (rep == id) })
    val reps = out.map(_._2).toSet
    assert(out.count(_._3 == 1) == reps.size, "each cluster keeps exactly one row")
  }

  test("randomProject: shape, determinism, and exact JL norm on basis vectors") {
    import graft.operators.Similarity
    val e = graft.core.Tables.embeddings(spark, sf0001)
    val p = Similarity.randomProject(e, Similarity.RandProj.signs)
    assert(p.columns.toSeq == ("vec_id" +: (0 until 8).map(i => s"p$i")))
    assert(p.count() == e.count())
    val run1 = p.orderBy($"vec_id").collect().map(_.toSeq)
    val run2 = Similarity.randomProject(e, Similarity.RandProj.signs)
      .orderBy($"vec_id").collect().map(_.toSeq)
    assert(run1.toSeq == run2.toSeq, "plan-literal planes → bit-identical re-runs")
    // a basis vector e_i projects to (±1/√8, …) so ‖Pe_i‖² = 8·(1/8) = 1
    // EXACTLY, for ANY Rademacher sign matrix — the JL norm identity the
    // quantization must not break beyond 1e-5
    val basis = (0 until 64).map { i =>
      (i.toLong, Array.tabulate(64)(j => if (j == i) 1.0f else 0.0f).toSeq)
    }.toDF("vec_id", "embedding")
    val norms = Similarity.randomProject(basis, Similarity.RandProj.signs)
      .select($"vec_id", (0 until 8).map(j => col(s"p$j") * col(s"p$j")).reduce(_ + _).as("n2"))
      .collect().map(_.getDouble(1))
    assert(norms.forall(n => math.abs(n - 1.0) < 1e-5), norms.take(5).mkString(","))
  }

  test("kmeansLloyd: partitions the corpus; Lloyd updates do not increase inertia") {
    import graft.operators.Similarity
    val embs = graft.core.Tables.embeddings(spark, sf0001)
    val n = embs.count()
    val fin = Similarity.kmeansLloyd(embs, k = 4, iters = 2)
      .select($"vec_id", $"cluster", $"d2").collect()
    assert(fin.length == n && fin.map(_.getLong(0)).distinct.length == n,
      "every vector assigned exactly once")
    assert(fin.map(_.getLong(1)).distinct.forall(c => c >= 0 && c < 4))
    // iters = 0 is the assignment under the raw init centroids; two Lloyd
    // rounds must not increase total inertia (ties in assignment break
    // identically, and 1e-6 absorbs the centroid quantization)
    val inertia0 = Similarity.kmeansLloyd(embs, k = 4, iters = 0)
      .select($"d2").collect().map(_.getDouble(0)).sum
    val inertia2 = fin.map(_.getDouble(2)).sum
    assert(inertia2 <= inertia0 + 1e-6, s"inertia rose: $inertia0 -> $inertia2")
  }

  test("kmeansLloyd: separates well-apart blobs whose seeds straddle them") {
    import graft.operators.Similarity
    val pts = Seq(
      (0L, Array(0.0, 0.0)), (2L, Array(0.5, 0.0)),
      (3L, Array(0.0, 0.5)), (4L, Array(0.4, 0.4)),
      (1L, Array(10.0, 10.0)), (5L, Array(10.5, 10.0)), (6L, Array(10.0, 10.5)))
      .toDF("vec_id", "embedding")
    val got = Similarity.kmeansLloyd(pts, k = 2, iters = 2)
      .select($"vec_id", $"cluster").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Set(0L, 2L, 3L, 4L).map(got) == Set(0L), got.toString)
    assert(Set(1L, 5L, 6L).map(got) == Set(1L), got.toString)
  }

  test("kmeansFit: driver-paced rounds ≡ distributed reference twin (r14 rewrite pin)") {
    // the r14 rewrite moved Lloyd's centroids to driver model state and the
    // argmin to a row-local literal-centroid least(); this pins BIT-EXACT
    // equality (doubleToLongBits — NaN canonical, -0.0 ≢ 0.0) of centroids
    // and assignments against the retained distributed spelling, on the
    // gate corpus and on constructed edges: an exact two-centroid tie
    // (cluster-id tiebreak), a null vector (null-d2 structs sort first →
    // min cluster; excluded from every avg), NaN elements (NaN d2 sorts
    // greatest; NaN centroids propagate), a duplicate-of-a-seed vector
    // that EMPTIES a cluster after round 1, and iters = 0 (raw init).
    import graft.operators.Similarity
    def bits(x: Double): Long = java.lang.Double.doubleToLongBits(x)
    def canon(ca: (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame)) = {
      val c = ca._1.collect()
        .map(r => r.getLong(0) -> r.getSeq[Double](1).map(bits)).toMap
      val a = ca._2.collect().map { r =>
        r.getLong(0) -> ((if (r.isNullAt(1)) None else Some(r.getLong(1))),
          if (r.isNullAt(3)) None else Some(bits(r.getDouble(3))))
      }.toMap
      (c, a)
    }
    def check(embs: org.apache.spark.sql.DataFrame, k: Int, iters: Int,
        tag: String): Unit = {
      val got = canon(Similarity.kmeansFit(embs, k, iters, "embedding", "vec_id"))
      val ref = canon(OperatorTwins.kmeansFitDistributed(embs, k, iters, "embedding", "vec_id"))
      assert(got._1 == ref._1, s"$tag: centroids diverge: ${got._1} vs ${ref._1}")
      assert(got._2 == ref._2, s"$tag: assignments diverge")
    }
    val gate = graft.core.Tables.embeddings(spark, sf0001)
    check(gate, 4, 2, "gate corpus")
    check(gate, 4, 0, "gate corpus, raw init")
    val edge = Seq[(Long, Array[Double])](
      (0L, Array(0.0, 0.0)), (1L, Array(8.0, 8.0)),
      (2L, Array(4.0, 4.0)),          // equidistant: tiebreak on cluster id
      (3L, null),                     // null vector
      (4L, Array(Double.NaN, 1.0)),   // NaN distance everywhere
      (5L, Array(8.5, 8.0)))
      .toDF("vec_id", "embedding")
    check(edge, 2, 2, "edge frame")
    val dup = Seq(
      (0L, Array(0.0, 0.0)), (1L, Array(5.0, 5.0)),
      (2L, Array(5.0, 5.0)),          // seed 2 defects to cluster 1 (tie) →
      (3L, Array(5.1, 5.0)))          // cluster 2 empties after round 1
      .toDF("vec_id", "embedding")
    check(dup, 3, 2, "emptied cluster")
  }

  test("covarianceCensus: column-aggregate spelling ≡ join reference twin (r14 rewrite pin)") {
    // the r14 census computes d(d+1)/2 centered product sums as column
    // aggregates (no exploded materialization, no d²-fan self-join) and
    // mirrors the lower triangle at the driver; this pins cell-exact
    // equality against the retained join spelling on the gate corpus —
    // both spellings round(Σ/n, 6), so surviving differences would mean a
    // real construction bug, not summation noise
    import graft.operators.Similarity
    val embs = graft.core.Tables.embeddings(spark, sf0001)
    def cells(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    val got = cells(Similarity.covarianceCensus(embs))
    val ref = cells(OperatorTwins.covarianceCensusJoin(embs))
    assert(got.keySet == ref.keySet, "census cell sets diverge")
    val bad = got.collect { case (k, v) if v != ref(k) => (k, v, ref(k)) }
    assert(bad.isEmpty, s"census cells diverge: ${bad.take(5).mkString(", ")}")
  }

  test("hardTriplets: one hardest positive + k hardest negatives per anchor") {
    val e = graft.core.Tables.embeddings(spark, sf0001)
    val out = graft.operators.Similarity.hardTriplets(e, nAnchors = 5, kNeg = 3)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getLong(3)))
    val byAnchor = out.groupBy(_._1)
    assert(byAnchor.keySet == (0L until 5L).toSet)
    for ((_, rows) <- byAnchor) {
      assert(rows.count(_._2 == "pos") == 1 && rows.count(_._2 == "neg") == 3)
    }
    // label contract + hardness: replay one anchor by brute force
    val labels = e.collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    val vecs = e.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val a0 = 0L
    val negs = out.filter(t => t._1 == a0 && t._2 == "neg").sortBy(_._3).map(_._4)
    assert(negs.forall(n => labels(n) != labels(a0)))
    val pos = out.filter(t => t._1 == a0 && t._2 == "pos").map(_._4)
    assert(pos.forall(p => labels(p) == labels(a0)))
    val bruteNegs = vecs.keys.filter(n => n != a0 && labels(n) != labels(a0)).toSeq
      .map(n => (n, math.floor(cos(vecs(a0), vecs(n)) * 1e6) / 1e6))
      .sortBy { case (n, c) => (-c, n) }.take(3).map(_._1)
    // same ranking contract (round-6 cosine, id tiebreak) as the query
    assert(negs.toSeq == bruteNegs)
  }

  test("classSeparability: separable blobs score intra >> inter; noise scores ~0") {
    // two tight blobs around orthogonal axes
    val vecs = (0 until 40).map { i =>
      val label = i % 2
      val base = Array.fill(8)(0.01f * (i % 5))
      base(label * 4) = 1.0f
      (i.toLong, base.toSeq, label)
    }
    val df = vecs.toDF("vec_id", "embedding", "label")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"), $"label")
    val out = graft.operators.Similarity.classSeparability(df, nVecs = 40)
      .collect().map(r => r.getInt(0) -> r.getDouble(2)).toMap
    assert(out(0) > 0.9 && out(1) > 0.9, s"intra must be tight: $out")
    assert(out(-1) < 0.5, s"inter must be far below intra: $out")
    // the real (noise) corpus honestly reports no separability
    val real = graft.operators.Similarity.classSeparability(
      graft.core.Tables.embeddings(spark, sf0001), nVecs = 200)
      .collect().map(r => r.getInt(0) -> r.getDouble(2)).toMap
    assert(math.abs(real(-1)) < 0.05 && real.forall { case (_, m) => math.abs(m) < 0.1 })
  }

  test("quantizedRecallAudit: near-perfect overlap on this corpus; exact on int-valued vectors") {
    val real = graft.operators.Similarity.quantizedRecallAudit(
      graft.core.Tables.embeddings(spark, sf0001), nQueries = 5, k = 5)
      .collect().map(_.getLong(1))
    assert(real.length == 5 && real.sum >= 5 * 4, s"int8 should barely move top-5: ${real.toSeq}")
    // vectors already on the int8 grid quantize losslessly -> overlap == k
    val grid = (0 until 30).map { i =>
      (i.toLong, (0 until 8).map(j => ((i * 7 + j * 3) % 255 - 127).toFloat).toSeq, 0)
    }
    val df = grid.toDF("vec_id", "embedding", "label")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"), $"label")
    val exactRows = graft.operators.Similarity.quantizedRecallAudit(df, nQueries = 4, k = 3)
      .collect().map(_.getLong(1))
    assert(exactRows.forall(_ == 3L), s"grid vectors must rank identically: ${exactRows.toSeq}")
  }

  test("pcaPower: a planted dominant axis concentrates the loading and the variance") {
    import spark.implicits._
    // coordinate 0 swings ±10, coordinates 1-3 carry small deterministic
    // wiggle -> the top eigenvector must be ~e0 and explain ~all variance
    val rows = (0 until 40).map { i =>
      val big = if (i % 2 == 0) 10f else -10f
      (i.toLong, Seq(big, (i % 3).toFloat * 0.1f, (i % 5).toFloat * 0.1f, 0.05f * (i % 2)), 0)
    }
    val df = rows.toDF("vec_id", "embedding", "label")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"), $"label")
    val out = graft.operators.Similarity.pcaPower(df, iters = 8).collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(3)))
    assert(out.length == 4)
    val byPos = out.map(t => t._1 -> t._2).toMap
    assert(math.abs(byPos(0)) > 0.999, s"loading must concentrate on pos 0: ${out.toSeq}")
    assert(out.forall(t => t._1 == 0 || math.abs(t._2) < 0.05))
    // unit norm (up to the per-round 1e-6 rounding)
    val n2 = out.map(t => t._2 * t._2).sum
    assert(math.abs(n2 - 1.0) < 1e-4)
    assert(out.head._3 > 0.99, s"var_ratio ~1 on a one-axis corpus: ${out.head}")
  }

  test("pcaTopK: two planted axes come out in variance order, orthogonal") {
    import spark.implicits._
    // coordinate 0 swings ±10, coordinate 1 swings ±4 (independent-ish
    // deterministic patterns), coordinates 2-3 near-constant
    val rows = (0 until 48).map { i =>
      val a = if (i % 2 == 0) 10f else -10f
      val b = if ((i / 2) % 2 == 0) 4f else -4f
      (i.toLong, Seq(a, b, 0.01f * (i % 3), 0f), 0)
    }
    val df = rows.toDF("vec_id", "embedding", "label")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"), $"label")
    val out = graft.operators.Similarity.pcaTopK(df, k = 2, iters = 8).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getDouble(2), r.getDouble(4)))
    val c1 = out.filter(_._1 == 1).sortBy(_._2).map(_._3)
    val c2 = out.filter(_._1 == 2).sortBy(_._2).map(_._3)
    assert(math.abs(c1(0)) > 0.999, s"component 1 must be the ±10 axis: ${c1.toSeq}")
    assert(math.abs(c2(1)) > 0.999, s"component 2 must be the ±4 axis: ${c2.toSeq}")
    // orthogonality (up to per-round rounding)
    val dot = c1.zip(c2).map { case (x, y) => x * y }.sum
    assert(math.abs(dot) < 1e-3, s"components must be orthogonal: $dot")
    // variance ratios ordered and summing to ~1 on a two-axis corpus
    val vr = out.filter(_._2 == 0).sortBy(_._1).map(_._4)
    assert(vr(0) > vr(1) && vr(0) + vr(1) > 0.999, s"got ${vr.toSeq}")
  }

  test("mmrRerank: the second pick trades relevance for diversity") {
    import spark.implicits._
    // query 0 = e0. c1 and c2 are EXACT duplicates; c3 has the SAME
    // relevance (cos 1/√2) but is orthogonal to c1. Plain top-2 is
    // {c1, c2} (nid tiebreak); MMR's step 2 must skip the duplicate
    // (penalty 0.3·1) and take the novel c3 (penalty 0).
    val rows = Seq(
      (0L, Seq(1f, 0f, 0f, 0f)),
      (1L, Seq(1f, 1f, 0f, 0f)),
      (2L, Seq(1f, 1f, 0f, 0f)),
      (3L, Seq(1f, -1f, 0f, 0f)))
    val df = rows.toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    val out = graft.operators.Similarity.mmrRerank(df, nQueries = 1, pool = 3, k = 2)
      .collect().map(r => (r.getInt(2), r.getLong(1))).toMap
    assert(out(1) == 1L, s"step 1 takes the most relevant (tie -> lower id): $out")
    assert(out(2) == 3L, s"step 2 must diversify away from the exact duplicate: $out")
  }

  test("topicTerms: planted clusters get their own distinctive vocabulary") {
    val embs = Seq(
      (0L, Seq(0f, 0f)), (1L, Seq(10f, 10f)), (2L, Seq(0.1f, 0f)),
      (3L, Seq(0f, 0.1f)), (4L, Seq(10.1f, 10f)), (5L, Seq(10f, 10.1f)))
      .toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    val docs = Seq(
      (0L, "apple apple banana shared"), (2L, "apple apple banana shared"),
      (3L, "apple apple banana shared"), (1L, "car car truck shared"),
      (4L, "car car truck shared"), (5L, "car car truck shared"))
      .toDF("doc_id", "text")
    val out = graft.operators.Similarity
      .topicTerms(docs, embs, k = 2, iters = 2, topK = 2, minCount = 1)
      .collect()
      .map(r => ((r.getString(0), r.getInt(1)), (r.getString(2), r.getDouble(4))))
      .toMap
    // cluster 0 = {0,2,3}: apple lift 6*24/(6*12)=2, banana 3*24/(3*12)=2,
    // shared 1 — tie breaks alphabetically; cluster 1 mirrors with car/truck
    assert(out(("0", 1)) == (("apple", 2.0)) && out(("0", 2)) == (("banana", 2.0)),
      s"got $out")
    assert(out(("1", 1)) == (("car", 2.0)) && out(("1", 2)) == (("truck", 2.0)),
      s"got $out")
  }

  test("embeddingHealth: nulls, zeros, dims, and exact norm quantiles") {
    val embs = Seq(
      (0L, Some(Seq(0f, 0f))), (1L, Some(Seq(1f, 0f))),
      (2L, Some(Seq(2f, 0f))), (3L, Some(Seq(3f, 0f))),
      (4L, Option.empty[Seq[Float]]))
      .toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    val r = graft.operators.Similarity.embeddingHealth(embs).collect().head
    // norms² 0,1,4,9 on the 1e-6 grid; p50 = 2nd smallest = 1e6,
    // p90 = ceil(0.9*4)=4th = 9e6
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
      r.getLong(5), r.getLong(6)) ==
      ((4L, 1L, 2L, 2L, 1L, 1000000L, 9000000L)), s"got $r")
  }

  // ---- r14 parity suites: the q145 driver rewrite's reference twins -------
  // (r13 shipped pcaPower/pcaTopK as driver arithmetic over the collected
  // covariance census; these pins guard the three semantic claims that
  // rewrite rests on, per the r13 verdict's "phantom pins" finding)

  test("r6: driver-side round ≡ Spark round(col, 6) on an adversarial value grid") {
    // NaN/±Inf identity, signed zeros, denormals, exact .5-boundary
    // candidates in decimal space, giant magnitudes past 2^53, and a
    // seeded pseudo-random sweep across 12 decades
    val rnd = new scala.util.Random(145)
    val grid: Seq[Double] =
      Seq(0.0, -0.0, 1.0, -1.0, Double.NaN, Double.PositiveInfinity,
        Double.NegativeInfinity, Double.MinPositiveValue,
        -Double.MinPositiveValue, java.lang.Double.MIN_NORMAL, 1e-7, -1e-7,
        4.9e-7, 5.0e-7, 5.1e-7, -5.0e-7, 0.1234565, -0.1234565, 0.1234575,
        1.2345645, 0.9999995, -0.9999995, 2.675, -2.675, 0.3333333333,
        123456789.1234565, 1e15 + 0.5, 9.007199254740993e15, 1e16, 1e16 + 2,
        -1e18, 1.5e308, -1.5e308) ++
        (1 to 200).map(i => i * 5e-7) ++
        (1 to 200).map(i => -i * 5e-7) ++
        Seq.tabulate(200)(i =>
          (rnd.nextDouble() - 0.5) * math.pow(10.0, i % 12 - 6))
    val viaSpark = grid.toDF("x").select(round($"x", 6).as("r"))
      .collect().map(_.getDouble(0))
    grid.zip(viaSpark).foreach { case (x, expect) =>
      val got = graft.operators.Similarity.r6(x)
      // compare by bits: NaN == NaN, and -0.0 != 0.0 must both hold
      assert(java.lang.Double.doubleToLongBits(got) ==
        java.lang.Double.doubleToLongBits(expect),
        s"r6($x) = $got but round(col, 6) = $expect")
    }
  }

  test("pca power rounds: driver arithmetic ≡ distributed reference twin (random census + gate corpus)") {
    import graft.operators.Similarity
    // synthetic symmetric census, seeded — entries on the same round(·,6)
    // grid the real covariance census lives on
    val d = 8
    val rnd = new scala.util.Random(14514)
    val m = Array.fill(d, d)(0.0)
    for (i <- 0 until d; j <- 0 to i) {
      val v = Similarity.r6(rnd.nextDouble() * 2 - 1)
      m(i)(j) = v; m(j)(i) = v
    }
    val covDf = (for (i <- 0 until d; j <- 0 until d) yield (i, j, m(i)(j)))
      .toDF("i", "j", "c")
    for (iters <- Seq(1, 4, 8)) {
      val drv = Similarity.powerRoundsDriver(m, iters)
      val dist = OperatorTwins.powerRounds(covDf, iters).collect()
        .map(r => r.getInt(0) -> r.getDouble(1)).toMap
      (0 until d).foreach(i => assert(drv(i) == dist(i),
        s"iters=$iters pos=$i driver=${drv(i)} distributed=${dist(i)}"))
      val lamD = Similarity.rayleighDriver(m, drv)
      val lamX = OperatorTwins.rayleigh(covDf,
        (0 until d).map(i => (i, drv(i))).toDF("pos", "w"))
        .collect().head.getDouble(0)
      assert(lamD == lamX, s"iters=$iters rayleigh driver=$lamD dist=$lamX")
    }
    // and on the REAL gate-corpus census (the frame q145/q162 collect)
    val cov = Similarity.covarianceCensus(
      graft.core.Tables.embeddings(spark, sf0001))
    val (poss, mm) = Similarity.covMatrix(cov)
    val drv = Similarity.powerRoundsDriver(mm, 8)
    val dist = OperatorTwins.powerRounds(cov, 8).collect()
      .map(r => r.getInt(0) -> r.getDouble(1)).toMap
    poss.indices.foreach(k => assert(drv(k) == dist(poss(k)),
      s"gate census pos=${poss(k)} driver=${drv(k)} dist=${dist(poss(k))}"))
    val lamD = Similarity.rayleighDriver(mm, drv)
    val lamX = OperatorTwins.rayleigh(cov,
      poss.indices.map(k => (poss(k), drv(k))).toDF("pos", "w"))
      .collect().head.getDouble(0)
    assert(lamD == lamX, s"gate census rayleigh driver=$lamD dist=$lamX")
  }
}
