package graft

import org.apache.spark.sql.functions._
import graft.functions.TextOps
import graft.operators.Dedup

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = graft.core.Tables.documents(spark, sf0001)

  test("shingles: correct trigrams, short docs yield empty") {
    val df = Seq((1L, "a b c d"), (2L, "x y"), (3L, "p q r")).toDF("doc_id", "text")
    val got = df.select($"doc_id", TextOps.shingles($"text", 3).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(got(1L) == Seq("a b c", "b c d"))
    assert(got(2L).isEmpty)
    assert(got(3L) == Seq("p q r"))
  }

  test("jaccardColsSorted == jaccardCols on real shingle pairs (the codegen merge kernel)") {
    // every verification join now runs the sorted-merge kernel; this pins
    // it pairwise-equal to Spark's own set expressions on the real corpus
    // (incl. docs sharing nothing and docs paired with themselves)
    val sh = Dedup.withShingles(docs)
      .select($"doc_id", array_sort($"sh").as("sh"))
    val (ri, ru) = Dedup.jaccardCols($"a.sh", $"b.sh")
    val (si, su) = Dedup.jaccardColsSorted($"a.sh", $"b.sh")
    val cmp = sh.as("a").join(sh.as("b"), $"a.doc_id" <= $"b.doc_id" && $"b.doc_id" < 300)
      .select(ri.as("ri"), ru.as("ru"), si.as("si"), su.as("su"))
    assert(cmp.count() > 1000)
    assert(cmp.filter($"ri" =!= $"si" || $"ru" =!= $"su").count() == 0)
    // empty-vs-nonempty and empty-vs-empty corners
    val e = Seq((Seq.empty[String], Seq("a b c")), (Seq.empty[String], Seq.empty[String]))
      .toDF("a", "b")
    val (ei, eu) = Dedup.jaccardColsSorted($"a", $"b")
    val rows = e.select(ei.as("i"), eu.as("u")).collect()
    assert(rows(0).getInt(0) == 0 && rows(0).getInt(1) == 1)
    assert(rows(1).getInt(0) == 0 && rows(1).getInt(1) == 0)
  }

  test("minhash LSH recall vs brute-force jaccard >= 0.8") {
    val sh = Dedup.withShingles(docs)
    val (inter, uni) = Dedup.jaccardCols($"a.sh", $"b.sh")
    val truth = sh.as("a").join(sh.as("b"), $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("a_id"), $"b.doc_id".as("b_id"), inter.as("i"), uni.as("u"))
      .filter($"i" * 5 >= $"u" * 4)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLshPairs(docs, 4, 5)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty, "testdata should contain planted near-dups")
    // Precision is exact by construction (candidates are jaccard-verified);
    // with 16×2 banding the per-pair miss probability is ~8e-8, so recall at
    // this scale is exactly 100% — the same equality the q46 oracle checks.
    assert(lsh == truth,
      s"LSH != brute force: missing=${truth -- lsh} extra=${lsh -- truth}")
  }

  test("minhash LSH hot-bucket cap suppresses boilerplate clusters, keeps real near-dups") {
    val boiler = (0L until 40L).map(i => (i, "one two three four five six seven"))
    val nearDup = Seq( // 12 tokens, last differs: inter=9, uni=11 → J=0.818
      (100L, "alpha beta gamma delta epsilon zeta eta theta iota kappa mu kappa2"),
      (101L, "alpha beta gamma delta epsilon zeta eta theta iota kappa mu lambda"))
    val others = (200L until 210L).map(i =>
      (i, s"w${i}a w${i}b w${i}c w${i}d w${i}e w${i}f"))
    val df = (boiler ++ nearDup ++ others).toDF("doc_id", "text")
    // uncapped: the 40 identical docs alone contribute 40*39/2 pairs
    val uncapped = Dedup.minhashLshPairs(df, 4, 5)
      .select($"a_id", $"b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped.count { case (a, b) => a < 40 && b < 40 } == 40 * 39 / 2)
    assert(uncapped.contains((100L, 101L)))
    // capped at 10: identical docs share EVERY band bucket (size 40 > 10),
    // so the boilerplate cluster emits no pairs; the near-dup pair's
    // buckets are size 2 and survive untouched
    val capped = Dedup.minhashLshPairs(df, 4, 5, maxBucket = 10)
      .select($"a_id", $"b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!capped.exists { case (a, b) => a < 40 && b < 40 }, capped.toString)
    assert(capped.contains((100L, 101L)))
  }

  test("bucketLocalVerify: identical output to the default tier (uncapped, evidence included)") {
    // the real fixture (honest near-dups) + planted byte-duplicates so the
    // identity expansion path is exercised under both tiers
    val planted = docs.filter($"doc_id" % 7 === 0)
      .select(($"doc_id" + 100000L).as("doc_id"), $"text")
    val corpus = docs.select($"doc_id", $"text").unionByName(planted)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("a_id", "b_id", "inter", "uni").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3))).toSet
    val dflt = rows(Dedup.minhashLshPairs(corpus, 4, 5))
    val local = rows(Dedup.minhashLshPairs(corpus, 4, 5, bucketLocalVerify = true))
    assert(dflt.nonEmpty)
    assert(local == dflt,
      s"bucket-local != default: missing=${dflt -- local} extra=${local -- dflt}")
  }

  test("bucketLocalVerify: capped runs agree (least-band check must skip SHED buckets)") {
    // 40 DISTINCT near-twins (identity collapse vacuous, so the bucket cap
    // itself binds: most of their band buckets hold ~40 docs > cap) plus a
    // small true near-dup pair whose buckets stay under the cap. Twin pairs
    // may still collide in a surviving (≤ cap) band — the ok flags must let
    // the least-SURVIVING-band check find those, exactly like the default
    // tier's post-cap candidate distinct.
    val twins = (0L until 40L).map(i =>
      (i, s"one two three four five six seven eight nine ten t$i"))
    val nearDup = Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta iota kappa mu kappa2"),
      (101L, "alpha beta gamma delta epsilon zeta eta theta iota kappa mu lambda"))
    val others = (200L until 210L).map(i =>
      (i, s"w${i}a w${i}b w${i}c w${i}d w${i}e w${i}f"))
    val df = (twins ++ nearDup ++ others).toDF("doc_id", "text")
    def rows(d: org.apache.spark.sql.DataFrame) = d
      .select("a_id", "b_id", "inter", "uni").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3))).toSet
    for (cap <- Seq(10, Int.MaxValue)) {
      val dflt = rows(Dedup.minhashLshPairs(df, 4, 5, maxBucket = cap))
      val local = rows(Dedup.minhashLshPairs(df, 4, 5, maxBucket = cap,
        bucketLocalVerify = true))
      assert(local == dflt,
        s"cap=$cap: missing=${dflt -- local} extra=${local -- dflt}")
      assert(local.exists { case (a, b, _, _) => a == 100L && b == 101L })
    }
    // dedupCorpus composes the tier identically
    val sd = Dedup.dedupCorpus(df, 4, 5).select("doc_id").collect().map(_.getLong(0)).toSet
    val sl = Dedup.dedupCorpus(df, 4, 5, bucketLocalVerify = true)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(sl == sd)
    // non-default banding threads identically through BOTH tiers: same
    // banding → same candidate set → byte-equal output (recall itself is
    // banding-dependent and measured on the ladder, not pinned here)
    val d82 = rows(Dedup.minhashLshPairs(df, 4, 5, bands = 8, rowsPerBand = 2))
    val l82 = rows(Dedup.minhashLshPairs(df, 4, 5, bands = 8, rowsPerBand = 2,
      bucketLocalVerify = true))
    assert(l82 == d82, s"8x2: missing=${d82 -- l82} extra=${l82 -- d82}")
  }

  test("prefixJaccardPairs bucketLocalVerify: identical output to the default tier (r12)") {
    // real fixture + planted byte-duplicates (exercises the identity
    // expansion under both tiers) + a boundary near-dup pair (J = 9/11 just
    // over 0.8). Both tiers are EXACT, so they must agree pair-for-pair
    // WITH evidence: the prefix theorem says a J >= t pair shares a
    // both-prefix token, hence that token's hash bucket, and the
    // canonical-bucket rule (FirstSharedPrefixExpr) evaluates it exactly
    // once — never zero times, never twice (a duplicate would double rows
    // and break the set equality below only if values differed; the
    // distinct-free join makes duplicates visible as extra rows, so
    // compare COUNTS too).
    val planted = docs.filter($"doc_id" % 7 === 0)
      .select(($"doc_id" + 100000L).as("doc_id"), $"text")
    val nearDup = Seq(
      (900100L, "alpha beta gamma delta epsilon zeta eta theta iota kappa mu kappa2"),
      (900101L, "alpha beta gamma delta epsilon zeta eta theta iota kappa mu lambda"))
      .toDF("doc_id", "text")
    val corpus = docs.select($"doc_id", $"text")
      .unionByName(planted).unionByName(nearDup)
    def all(df: org.apache.spark.sql.DataFrame) = df
      .select("a_id", "b_id", "inter", "uni").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3))).toSeq
    val dflt = all(Dedup.prefixJaccardPairs(corpus, 4, 5))
    val local = all(Dedup.prefixJaccardPairs(corpus, 4, 5,
      bucketLocalVerify = true))
    assert(dflt.nonEmpty)
    assert(local.size == dflt.size,
      s"row counts differ (duplicate or missing emission): ${local.size} vs ${dflt.size}")
    assert(local.toSet == dflt.toSet,
      s"bucket-local != default: missing=${dflt.toSet -- local.toSet} extra=${local.toSet -- dflt.toSet}")
    assert(local.exists(t => t._1 == 900100L && t._2 == 900101L))
  }

  test("bandingFor + bandedMissRate replay the measured §R11 recall table") {
    // the rule inverts to the shipped default and moves with its inputs
    assert(Dedup.bandingFor(4, 5) == (16, 2))
    assert(Dedup.bandingFor(4, 5, targetMiss = 5e-6) == (12, 2))
    // lower thresholds genuinely cost bands: t = 0.5 at a 1e-6 budget
    assert(Dedup.bandingFor(1, 2, targetMiss = 1e-6) == (49, 2))
    // heavy boilerplate (high background J) forces more rows per band
    assert(Dedup.bandingFor(4, 5, backgroundJ = 0.45)._2 > 2)
    // worst-case threshold-pair miss of the default — the scaladoc's 8e-8
    val wc = Dedup.bandedMissRate(16, 2, 0.8)
    assert(wc > 5e-8 && wc < 1e-7, s"worst-case miss $wc")
    // corpus-calibrated predictions: fold the per-pair model over the
    // honest twin ladder's OWN exact evidence (16x distinct twins — the
    // §R11 measurement corpus shape — with J per pair from
    // prefixJaccardPairs' (inter, uni)). The predictions must land on the
    // MEASURED recall table: 8x2 missed ~5e-6 of 661,006 pairs, 16x4
    // ~3e-6, 16x2 zero, 8x4 ~3-4e-4. The tail is carried entirely by the
    // shortest documents (n = 10 tokens → family J = 0.8), which is why a
    // threshold-only estimate is 50x pessimistic and the corpus fold is
    // the right predictor.
    val base = docs.select($"doc_id", $"text")
    val nd = base.count()
    val twins = (0 until 16).map { j =>
        val t = if (j == 0) $"text" else concat($"text", lit(s" nd$j"))
        base.select(($"doc_id" + lit(j * 10L * nd)).as("doc_id"), t.as("text"))
      }.reduce(_ unionByName _)
    val js = Dedup.prefixJaccardPairs(twins, 4, 5)
      .select(($"inter".cast("double") / $"uni").as("j"))
      .collect().map(_.getDouble(0))
    // 500 families x C(16,2) = 60k family pairs + the organic near-dups
    assert(js.length > 50000, s"twin fixture regression: ${js.length} pairs")
    def pred(b: Int, r: Int): Double =
      js.map(Dedup.bandedMissRate(b, r, _)).sum / js.length
    val (p82, p162, p164, p84) = (pred(8, 2), pred(16, 2), pred(16, 4), pred(8, 4))
    assert(p82 > 1e-6 && p82 < 2e-5, s"8x2 predicted $p82, measured ~5e-6")
    assert(p164 > 3e-7 && p164 < 1.2e-5, s"16x4 predicted $p164, measured ~3e-6")
    assert(p162 < 1e-7, s"16x2 predicted $p162, measured 0 of 661k")
    assert(p84 > 5e-5 && p84 < 2e-3, s"8x4 predicted $p84, measured ~3.4e-4")
    // and the model preserves the measured ORDER of the variants
    assert(p162 < p164 && p164 < p82 && p82 < p84)
  }

  test("q224b fixture assumption: sf0.01 distinct-text bucket occupancy stays below the gate's cap") {
    // r12 directive 2 — the r6 events.ts lesson applied to q224b: the
    // gate plants its own identity groups and relies on maxBucket = 4
    // sitting STRICTLY above the live fixture's max distinct-text bucket
    // occupancy, so capBuckets never fires on organic buckets and the
    // DuckDB oracle's byte-equality replay of the shed is exact. A driver
    // testdata regeneration that densifies near-dups must fail HERE with
    // a named invariant, not as a mysterious q224b hash mismatch.
    val occ = Dedup.bucketOccupancyHistogram(
        graft.core.Tables.documents(spark, "/root/testdata/sf0.01"))
      .agg(max($"occupancy")).head().getLong(0)
    assert(occ < 4,
      s"sf0.01 max (band, sig) occupancy $occ >= q224b's maxBucket 4 — " +
        "the gate's oracle no longer replays the cap; re-size it")
  }

  test("fuzzyReferenceDedup: drops near and exact cross-corpus dups, keeps distinct docs") {
    val reference = Seq(
      (1000L, "alpha beta gamma delta epsilon zeta eta theta iota kappa mu nu"),
      (1001L, "completely unrelated reference content goes here today")).toDF("doc_id", "text")
    val incoming = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa mu nu"),      // exact
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa mu OTHER"),   // J=9/11
      (3L, "wholly different incoming text nothing shared at all"),                // keep
      (4L, "short doc")).toDF("doc_id", "text")                                    // <3 tokens → keep
    val out = Dedup.fuzzyReferenceDedup(incoming, reference, 4, 5)
      .select($"doc_id").as[Long].collect().toSet
    assert(out == Set(3L, 4L), out.toString)
    // incoming-side near-dups of EACH OTHER are not dropped (only the
    // reference decides) — rerun with an empty reference
    val none = Dedup.fuzzyReferenceDedup(incoming,
      Seq.empty[(Long, String)].toDF("doc_id", "text"), 4, 5)
      .select($"doc_id").as[Long].collect().toSet
    assert(none == Set(1L, 2L, 3L, 4L))
  }

  test("fuzzyReferenceDedup: persisted signature table gives identical results") {
    val docs2 = docs
    val incoming = docs2.filter($"doc_id" % 10 =!= 0)
    val reference = docs2.filter($"doc_id" % 10 === 0)
    val direct = Dedup.fuzzyReferenceDedup(incoming, reference, 4, 5)
      .select($"doc_id").as[Long].collect().toSet
    // write the reference's LSH state once, reload, and dedup against it
    val dir = java.nio.file.Files.createTempDirectory("graft_refsig").toString
    Dedup.referenceSignatures(reference).write.mode("overwrite").parquet(dir)
    val viaIndex = Dedup.fuzzyReferenceDedup(incoming, reference, 4, 5,
      refBuckets = Some(spark.read.parquet(dir)))
      .select($"doc_id").as[Long].collect().toSet
    assert(viaIndex == direct && direct.nonEmpty)
  }

  test("simhash: identical token sets collide, disjoint texts are far") {
    val df = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "delta gamma beta alpha"),   // same token set → same simhash
      (3L, "totally different words here entirely unrelated")).toDF("doc_id", "text")
    val sigs = df.select($"doc_id", Dedup.simhash($"text").as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) == sigs(2L))
    val ham = java.lang.Long.bitCount(sigs(1L) ^ sigs(3L))
    assert(ham > 5, s"unrelated docs should be far in hamming space, got $ham")
  }

  test("fingerprint is invariant to case/punctuation/whitespace") {
    val df = Seq(
      (1L, "Hello,   World! 42"),
      (2L, "hello world 42"),
      (3L, "different text")).toDF("doc_id", "text")
    val fps = df.select($"doc_id", TextOps.fingerprint($"text").as("fp"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fps(1L) == fps(2L))
    assert(fps(1L) != fps(3L))
  }

  test("connectedComponents: a 60-link chain converges (pointer doubling)") {
    // min-label would need 59 linear rounds; doubling needs ~6
    val chain = (0L until 59L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val labels = Dedup.connectedComponents(chain).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size == 60 && labels.values.forall(_ == 0L))
  }

  test("connectedComponents: chains merge, separate clusters stay apart") {
    // chain 1-2-3-4 (never directly 1~4) + pair 10-11 + pair 20-21
    val edges = Seq((2L, 1L), (2L, 3L), (4L, 3L), (10L, 11L), (21L, 20L))
      .toDF("a_id", "b_id")
    val labels = Dedup.connectedComponents(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("q66 cluster labels: every member maps to the min id of its component") {
    val out = graft.operators.Dedup.defs.find(_.name == "q66_dedup_clusters").get
      .build(spark, sf0001)
    val m = out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m.nonEmpty, "sf0.001 corpus should contain near-dup pairs")
    // representative is a member of the set and is minimal
    assert(m.values.forall(rep => m.contains(rep) && m(rep) == rep))
    assert(m.forall { case (doc, rep) => rep <= doc })
  }

  test("dedupCorpus keeps exactly representatives + unpaired docs") {
    val before = docs.count()
    val clusters = graft.operators.Dedup.defs.find(_.name == "q66_dedup_clusters").get
      .build(spark, sf0001).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dropped = clusters.count { case (doc, rep) => doc != rep }
    val after = Dedup.dedupCorpus(docs, 4, 5)
    assert(after.count() == before - dropped)
    // every surviving paired doc is its cluster's representative
    val survivors = after.select("doc_id").collect().map(_.getLong(0)).toSet
    clusters.foreach { case (doc, rep) =>
      assert(survivors.contains(doc) == (doc == rep), s"doc $doc rep $rep")
    }
  }

  test("dedupCorpus collapse-aware labeling equals CC over the expanded pair graph (r9)") {
    // the shapes where rep-level labeling could diverge from the expanded
    // graph: an over-cap identical group with an UNPAIRED rep (all kept),
    // an over-cap identical group whose rep would pair with a near-dup
    // (since r10 that rep pair is SHED in core — pre-collapse parity: the
    // shared buckets held the whole class and exceeded the cap — so the
    // group AND its would-be partner are all kept),
    // an in-cap identical group (rep kept, members dropped), singletons
    val tA = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val tD = "one two three four five six seven eight nine ten eleven"
    val tDnear = "one two three four five six seven eight nine ten twelve"
    val docs = Seq(
      (1L, tA), (2L, tA),                       // in-cap identical pair
      (7L, "lonely seven words that match nothing else at all"),
      (8L, "lonely seven words that match nothing else at all"),
      (9L, "lonely seven words that match nothing else at all"),
      (10L, tD), (11L, tD), (12L, tD),          // over-cap, rep bridged
      (13L, tDnear),
      (90L, "totally unrelated corpus tail document here")).toDF("doc_id", "text")
    val cap = 2
    // reference semantics: CC over the EXPANDED pair output
    val pairs = Dedup.minhashLshPairs(docs, 4, 5, maxBucket = cap)
      .select($"a_id", $"b_id")
    val labels = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expectedKept = docs.select("doc_id").collect().map(_.getLong(0))
      .filter(id => labels.getOrElse(id, id) == id).toSet
    val got = Dedup.dedupCorpus(docs, 4, 5, maxBucket = cap)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == expectedKept,
      s"collapse-aware != expanded-graph: missing=${expectedKept -- got} extra=${got -- expectedKept}")
    // shape assertions: over-cap groups fully kept (their pairs are shed
    // whether or not a near-dup partner exists — pre-collapse cap parity),
    // the would-be bridge partner is kept too, in-cap group keeps its rep
    assert(Set(7L, 8L, 9L).subsetOf(got), got.toString)
    assert(Set(10L, 11L, 12L, 13L).subsetOf(got), got.toString)
    assert(got.contains(1L) && !got.contains(2L), got.toString)
    assert(got.contains(90L), got.toString)
  }

  test("segmentDedup: keep-first, reassembly order, exact-dup doc empties out") {
    val df = Seq(
      (1L, "a b c d"),   // segs (S=2): "a b", "c d" — both first occurrences
      (2L, "a b x y"),   // "a b" repeats doc1's → dropped; "x y" kept
      (3L, "c d"),       // repeats doc1's second segment → nothing survives
      (4L, "z"))         // short tail segment, unique
      .toDF("doc_id", "text")
    val got = Dedup.segmentDedup(df, segTokens = 2)
      .orderBy($"doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(got.toSeq == Seq(
      (1L, 2L, 2L, "a b c d"),
      (2L, 2L, 1L, "x y"),
      (3L, 1L, 0L, ""),
      (4L, 1L, 1L, "z")))
  }

  test("segmentDedup: first occurrence within a doc wins over later chunk of same doc") {
    // one doc whose two segments are identical: the chunk_id=0 copy survives
    val df = Seq((7L, "p q p q")).toDF("doc_id", "text")
    val r = Dedup.segmentDedup(df, segTokens = 2).head()
    assert((r.getLong(1), r.getLong(2), r.getString(3)) == ((2L, 1L, "p q")))
  }

  test("exact-dup summary counts distinct texts") {
    val df = Seq((1L, "same text"), (2L, "same text"), (3L, "other")).toDF("doc_id", "text")
    val r = df.agg(countDistinct($"text").as("d"), count(lit(1)).as("n")).head()
    assert(r.getLong(0) == 2 && r.getLong(1) == 3)
  }

  test("prefixJaccardPairs: lossless vs brute force at J >= 0.8") {
    val sh = Dedup.withShingles(docs)
    val (inter, uni) = Dedup.jaccardCols($"a.sh", $"b.sh")
    val truth = sh.as("a").join(sh.as("b"), $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("a_id"), $"b.doc_id".as("b_id"), inter.as("i"), uni.as("u"))
      .filter($"i" * 5 >= $"u" * 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3))).toSet
    val got = Dedup.prefixJaccardPairs(docs, 4, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3))).toSet
    assert(truth.nonEmpty, "testdata should contain planted near-dups")
    // the prefix filter is lossless by THEOREM (not probability): exact
    // equality with brute force, evidence integers included
    assert(got == truth,
      s"prefix join != brute force: missing=${truth -- got} extra=${got -- truth}")
  }

  test("prefixJaccardPairs: threshold boundary in/out on constructed sets") {
    // 12 shared tokens of 14/14 → shingles J = inter/uni; build docs whose
    // SHINGLE sets sit just above and just below 0.8
    val df = Seq(
      (1L, "a b c d e f g h i j"),          // 8 shingles
      (2L, "a b c d e f g h i j"),          // identical → J = 1 (IN)
      (3L, "a b c d e f g h i k"),          // differs in last token:
                                            //   shared 3-shingles = 7 of 9 → J = 7/9 < 0.8 (OUT)
      (4L, "z1 z2 z3 z4 z5")).toDF("doc_id", "text")
    val got = Dedup.prefixJaccardPairs(df, 4, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 2L)), got.toString)
  }

  test("prefixJaccardPairs: count filter keeps pairs whose shared mass hides in the suffixes (r10 bound algebra)") {
    // The r10 count filter rejects on inter <= min(cpf + min suffix, min n).
    // The adversarial shape for that bound: a qualifying pair whose shared
    // tokens sort LATE in the global rarity order (high df), so the
    // prefixes contribute almost nothing to cpf and nearly all of inter
    // sits in suffix∩suffix — a broken bound would silently drop exactly
    // these pairs. Construction: docs A/B differ only in their FIRST
    // (rarest, df=1) token; the shared trigrams are common across a third
    // doc too (df >= 2), so they rank after every unique token. A filler
    // fleet keeps the vocabulary honest.
    val common = (1 to 12).map(i => s"c$i").mkString(" ") // 10 shared trigrams
    val df = (Seq(
      (1L, s"ua $common"),
      (2L, s"ub $common"),
      (3L, s"uc $common")) ++
      (10L until 30L).map(i => (i, (0 until 8).map(j => s"f${i}_$j").mkString(" "))))
      .toDF("doc_id", "text")
    val sh = Dedup.withShingles(df)
    val (inter, uni) = Dedup.jaccardCols($"a.sh", $"b.sh")
    // equality with brute force is the pin, wherever the values land; the
    // assert below additionally demands the suffix-heavy trio pairs exist
    // in truth so the test cannot pass vacuously
    val got = Dedup.prefixJaccardPairs(df, 3, 4) // t = 0.75
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3))).toSet
    val truth34 = sh.as("a").join(sh.as("b"), $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("a_id"), $"b.doc_id".as("b_id"), inter.as("i"), uni.as("u"))
      .filter($"i" * 4 >= $"u" * 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3))).toSet
    assert(truth34.exists(p => p._1 == 1L && p._2 == 2L),
      s"fixture broken: the suffix-heavy pair must qualify at t=0.75: $truth34")
    assert(got == truth34,
      s"count filter dropped suffix-heavy pairs: missing=${truth34 -- got} extra=${got -- truth34}")
  }

  test("prefixJaccardPairs: a planted hot boilerplate shingle neither funnels nor breaks exactness") {
    // Every one of 500k docs embeds the SAME leading trigram, so one
    // shingle's document frequency is ~500k — the q89 hot-key regime. The
    // old window census (count(*) OVER (PARTITION BY tok)) funneled all
    // those rows into ONE task; the salted census spreads them over
    // CensusSalt partitions. Correctness is unaffected either way (the df
    // only orders shingles, and the hot shingle sorts last, outside every
    // prefix), so this spec pins: (a) the run completes at hot-key scale,
    // (b) output is EXACTLY the planted near-dup pairs — boilerplate alone
    // never pairs two docs.
    val n = 500000L
    val boiler = spark.range(n).select($"id".as("doc_id"),
      concat(lit("boiler plate text "),
        array_join(transform(sequence(lit(0), lit(9)),
          i => concat(lit("w"), $"id", lit("x"), i)), " ")).as("text"))
    val planted = Seq(
      (n,     "dup alpha beta gamma delta epsilon zeta"),
      (n + 1, "dup alpha beta gamma delta epsilon zeta"),
      (n + 2, "pair one two three four five six seven eight"),
      (n + 3, "pair one two three four five six seven nine"))
      .toDF("doc_id", "text")
    val got = Dedup.prefixJaccardPairs(boiler.union(planted), 4, 5)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // (n+2, n+3): 7 shingles each, 6 shared → J = 6/8 < 0.8 → OUT
    assert(got == Set((n, n + 1L)), got.toString)
  }

  test("minhashLshPairs: identity collapse expands duplicate groups exactly (r9 cliff fix)") {
    // same fixture shape as the q104 collapse spec: identical groups of 3
    // and 2, a near-dup bridge, an unshingleable duplicate group — LSH
    // must return exactly the brute-force truth (J = 1 pairs included,
    // with inter = uni = |shingles|), through rep-sized buckets
    val texts = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (3L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (4L, "alpha beta gamma delta epsilon zeta eta theta iota kappa mu lambda"),
      (5L, "unrelated words entirely disjoint from the rest of them"),
      (6L, "unrelated words entirely disjoint from the rest of them"),
      (7L, "too short"),
      (8L, "too short"))
    val df = texts.toDF("doc_id", "text")
    val sh = Dedup.withShingles(df)
    val (inter, uni) = Dedup.jaccardCols($"a.sh", $"b.sh")
    val truth = sh.as("a").join(sh.as("b"), $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("a_id"), $"b.doc_id".as("b_id"), inter.as("i"), uni.as("u"))
      .filter($"i" * 5 >= $"u" * 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3))).toSet
    val got = Dedup.minhashLshPairs(df, 4, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3))).toSet
    assert(got == truth,
      s"collapse+expand != brute force: missing=${truth -- got} extra=${got -- truth}")
    assert(got.exists(p => p._1 == 1L && p._2 == 2L) &&
      got.exists(p => p._1 == 5L && p._2 == 6L), got.toString)
    assert(!got.exists(p => p._1 == 7L || p._2 == 8L), got.toString)
    // the hot-bucket cap's contract carries over to identity groups: at
    // maxBucket = 2 the 3-member identical cluster sheds ALL its pairs —
    // identity pairs AND (since r10) cross pairs into its near-dup doc 4,
    // because pre-collapse every bucket holding the class held all 3
    // members and was shed; the 2-member groups stay
    val capped = Dedup.minhashLshPairs(df, 4, 5, maxBucket = 2)
      .select($"a_id", $"b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!capped.exists { case (a, b) => a <= 3 || b <= 3 }, capped.toString)
    assert(capped.contains((5L, 6L)), capped.toString)
  }

  test("prefixJaccardPairs: identity collapse expands duplicate groups exactly (r9 cliff fix)") {
    // Three byte-identical copies of text A, two of a NEAR-dup A' (J(A,A')
    // >= 0.8), two of an unrelated B, one short doc duplicated (too short
    // to shingle — its group must emit NOTHING, like the oracle's len >= 3
    // guard). Verification now sees only 3 representatives; the expansion
    // must recover every member pair with exact (inter, uni) — identical
    // pairs within groups AND all 3x2 cross pairs between A and A' members.
    val texts = Map(
      1L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa",
      2L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa",
      3L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa",
      4L -> "alpha beta gamma delta epsilon zeta eta theta iota lambda",
      5L -> "alpha beta gamma delta epsilon zeta eta theta iota lambda",
      6L -> "unrelated words entirely disjoint from the rest of them",
      7L -> "unrelated words entirely disjoint from the rest of them",
      8L -> "too short",
      9L -> "too short")
    val df = texts.toSeq.toDF("doc_id", "text")
    val sh = Dedup.withShingles(df)
    val (inter, uni) = Dedup.jaccardCols($"a.sh", $"b.sh")
    val truth = sh.as("a").join(sh.as("b"), $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("a_id"), $"b.doc_id".as("b_id"), inter.as("i"), uni.as("u"))
      .filter($"i" * 5 >= $"u" * 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3))).toSet
    val got = Dedup.prefixJaccardPairs(df, 4, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3))).toSet
    // A–A' shingle sets: 8 each, 7 shared → J = 7/9 < 0.8? No: 10 tokens →
    // 8 shingles; differing last token breaks the final 3 shingles → the
    // cross pairs land where brute force puts them — equality is the pin,
    // whichever side of the threshold the construction falls on
    assert(got == truth,
      s"collapse+expand != brute force: missing=${truth -- got} extra=${got -- truth}")
    // the identical groups themselves must be present (J = 1 pairs)
    assert(got.exists(p => p._1 == 1L && p._2 == 2L) &&
      got.exists(p => p._1 == 6L && p._2 == 7L), got.toString)
    // the unshingleable duplicate group emits nothing
    assert(!got.exists(p => p._1 == 8L || p._2 == 9L), got.toString)
  }

  test("dupSpans: planted cross-doc span is masked, islands merge, clean docs untouched") {
    // docs 1+2 share the 6-token run "w1 w2 w3 w4 w5 w6": its three 4-grams
    // overlap, so gaps-and-islands must merge them into ONE span of 6.
    // doc 3 shares nothing (all 4-grams unique) → untouched.
    val df = Seq(
      (1L, "a1 a2 w1 w2 w3 w4 w5 w6 a3 a4"),
      (2L, "b1 w1 w2 w3 w4 w5 w6 b2 b3 b4"),
      (3L, "c1 c2 c3 c4 c5 c6 c7 c8")).toDF("doc_id", "text")
    val got = Dedup.dupSpans(df, n = 4, minCount = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getString(5)))).toMap
    assert(got(1L) == ((1L, 6L, 10L, 600L, "a1 a2 a3 a4")), got(1L).toString)
    assert(got(2L) == ((1L, 6L, 10L, 600L, "b1 b2 b3 b4")), got(2L).toString)
    assert(got(3L) == ((0L, 0L, 8L, 0L, "c1 c2 c3 c4 c5 c6 c7 c8")), got(3L).toString)
  }

  test("dupSpans: within-doc repetition counts toward the census; full coverage empties the doc") {
    // doc 1 repeats "r1 r2 r3 r4" internally → census count 2 from ONE doc;
    // both occurrences are covered (two islands separated by the 'mid' gap).
    // doc 2 is one 4-gram repeated verbatim in doc 3 → both fully covered.
    val df = Seq(
      (1L, "r1 r2 r3 r4 mid r1 r2 r3 r4"),
      (2L, "x1 x2 x3 x4"),
      (3L, "x1 x2 x3 x4")).toDF("doc_id", "text")
    val got = Dedup.dupSpans(df, n = 4, minCount = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getString(5)))).toMap
    assert(got(1L) == ((2L, 8L, 9L, 888L, "mid")), got(1L).toString)
    assert(got(2L) == ((1L, 4L, 4L, 1000L, "")), got(2L).toString)
    assert(got(3L) == ((1L, 4L, 4L, 1000L, "")), got(3L).toString)
  }

  test("dupSpans: spans can straddle segmentDedup's grid where grid cells survive") {
    // A shared 8-token run placed so it straddles a 16-token grid boundary
    // in a 20-token doc: segment dedup (grid 16) sees DIFFERENT cells in
    // each doc (offsets differ) and keeps everything; span dedup masks the
    // run in both docs precisely.
    val run = (1 to 8).map(i => s"s$i").mkString(" ")
    val pre1 = (1 to 12).map(i => s"p$i").mkString(" ")
    val pre2 = (1 to 10).map(i => s"q$i").mkString(" ")
    val df = Seq(
      (1L, s"$pre1 $run"),
      (2L, s"$pre2 $run v1 v2")).toDF("doc_id", "text")
    val seg = Dedup.segmentDedup(df, segTokens = 16)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap // n_kept
    val spans = Dedup.dupSpans(df, n = 4, minCount = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getString(5)))).toMap
    assert(seg(1L) == 2L && seg(2L) == 2L,
      s"grid cells differ across docs, so all survive segment dedup: $seg")
    assert(spans(1L) == ((8L, pre1)), spans(1L).toString)
    assert(spans(2L) == ((8L, s"$pre2 v1 v2")), spans(2L).toString)
  }

  test("cdcChunkDups: chunks re-align after an insertion (the CDC property)") {
    import graft.operators.Dedup
    // a long shared tail; doc 2 inserts one token near the front
    val tail = (0 until 200).map(i => s"t$i").mkString(" ")
    val docs = Seq(
      (1L, s"alpha beta $tail"),
      (2L, s"alpha INSERTED beta $tail")).toDF("doc_id", "text")
    val dups = Dedup.cdcChunkDups(docs, modulus = 8, minDocs = 2).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // nearly every tail chunk must re-align and be reported shared —
    // a FIXED-window chunker would share none of them after the shift
    val chunksPerDoc = docs.limit(1)
      .select(explode(split($"text", " ")).as("tok"))
      .filter(conv(substring(md5($"tok"), 1, 8), 16, 10).cast("long") % 8 === 0)
      .count() + 1 // boundary count + leading chunk ~ chunks in doc 1
    assert(dups.length >= (chunksPerDoc * 0.7).toInt,
      s"only ${dups.length} of ~$chunksPerDoc chunks re-aligned")
    assert(dups.forall(_._3 == 2))
    // determinism: identical output on re-run
    val again = Dedup.cdcChunkDups(docs, modulus = 8, minDocs = 2).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(dups.toSeq == again.toSeq)
  }

  test("containmentPairs: finds a doc embedded in a longer one that Jaccard misses") {
    import graft.operators.Dedup
    val inner = (0 until 60).map(i => s"c$i").mkString(" ")
    val padding = (0 until 240).map(i => s"p$i").mkString(" ")
    val docs = Seq(
      (10L, inner),                       // the contained article
      (20L, s"$padding $inner"),          // embedded in 5x the text
      (30L, (0 until 80).map(i => s"z$i").mkString(" "))) // unrelated
      .toDF("doc_id", "text")
    val out = Dedup.containmentPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3), r.getInt(4)))
    assert(out.length == 1, s"exactly the planted embedding: ${out.toSeq}")
    val (contained, container, inter, nSmall, nBig) = out.head
    assert(contained == 10L && container == 20L, "direction: smaller into larger")
    // the inner doc's shingles are (nearly) fully contained...
    assert(inter >= nSmall - 2 && nBig > nSmall * 3)
    // ...while Jaccard over the union is far below any near-dup threshold
    assert(inter.toDouble / (nSmall + nBig - inter) < 0.25,
      "the planted pair must be invisible to a Jaccard >= 0.5 dedup")
  }

  test("containmentPairs: hot-chunk cap sheds boilerplate without losing real embeddings") {
    import graft.operators.Dedup
    val boiler = "same cookie banner on every page"
    val inner = (0 until 60).map(i => s"c$i").mkString(" ")
    val padding = (0 until 240).map(i => s"p$i").mkString(" ")
    // 200 unrelated docs all sharing one boilerplate chunk + a true embedding
    val docs = ((0 until 200).map(i =>
        (100L + i, s"$boiler ${(0 until 40).map(j => s"u${i}_$j").mkString(" ")}")) ++
      Seq((10L, inner), (20L, s"$padding $inner")))
      .toDF("doc_id", "text")
    val capped = Dedup.containmentPairs(docs, maxChunkDocs = 20).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(capped.toSeq == Seq((10L, 20L)),
      s"the embedding survives the cap, boilerplate-only pairs do not: ${capped.toSeq}")
  }

  test("containmentPairs identity collapse: duplicate groups expand with exact direction (r9)") {
    import graft.operators.Dedup
    // two identical copies of a SHORT doc (< 3 tokens: shares all chunks,
    // empty shingle sets — pre-collapse these DID pair with inter = 0),
    // three identical copies of the contained article, two of the
    // container — cross pairs must appear for every member combination
    // with the rep pair's direction, identity pairs with inter = n
    val inner = (0 until 60).map(i => s"c$i").mkString(" ")
    val padding = (0 until 240).map(i => s"p$i").mkString(" ")
    val docs = Seq(
      (1L, inner), (2L, inner), (3L, inner),
      (10L, s"$padding $inner"), (11L, s"$padding $inner"),
      (50L, "tiny doc"), (51L, "tiny doc"),
      (90L, (0 until 80).map(i => s"z$i").mkString(" ")))
      .toDF("doc_id", "text")
    val out = Dedup.containmentPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3), r.getInt(4))).toSet
    // cross: every inner member contained in every container member
    for (a <- Seq(1L, 2L, 3L); b <- Seq(10L, 11L))
      assert(out.exists(p => p._1 == a && p._2 == b), s"missing cross ($a, $b) in $out")
    // identity: within-group pairs, inter = n_contained = n_container
    for ((a, b) <- Seq((1L, 2L), (1L, 3L), (2L, 3L), (10L, 11L)))
      assert(out.exists(p => p._1 == a && p._2 == b && p._3 == p._4 && p._4 == p._5),
        s"missing identity ($a, $b) in $out")
    // the short duplicate pair survives with empty shingle sets (inter 0),
    // exactly the pre-collapse semantics
    assert(out.contains((50L, 51L, 0, 0, 0)), out.toString)
    // the unrelated doc pairs with nothing
    assert(!out.exists(p => p._1 == 90L || p._2 == 90L), out.toString)
    // total: 6 cross + 4 identity + 1 short-identity
    assert(out.size == 11, out.toString)
  }

  test("crossSourceOverlap: a syndicated passage links exactly its two sources") {
    import org.apache.spark.sql.functions._
    val passage = (1 to 8).map(i => s"p$i").mkString(" ") // one 8-shingle
    def filler(tag: String) = (1 to 12).map(i => s"$tag$i").mkString(" ")
    val docs = Seq(
      (1L, s"$passage ${filler("a")}", "sa"),   // shares the passage…
      (2L, s"${filler("b")} $passage", "sb"),   // …with sb
      (3L, filler("c"), "sc"))                  // sc shares nothing
      .toDF("doc_id", "text", "source")
    val out = Dedup.crossSourceOverlap(docs).collect()
      .map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    assert(out.keySet == Set(("sa", "sb")), s"got $out")
    val (shared, na, nb, jac) = out(("sa", "sb"))
    // sa: passage+filler text has 21 tokens -> 14 shingles; only the
    // leading pure-passage shingle matches sb's trailing one
    assert(shared == 1L, s"exactly the syndicated shingle: $out")
    assert(jac == math.floor(1.0 / (na + nb - 1).toDouble * 1e6 + 0.5) / 1e6)
  }

  test("canonicalPick: max score wins, ties break to min id, components stay separate") {
    val docs = Seq((1L, 5L), (2L, 10L), (3L, 10L), (7L, 4L), (8L, 3L))
      .toDF("doc_id", "n_chars")
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("a_id", "b_id")
    val out = Dedup.canonicalPick(docs, pairs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // cluster {1,2,3}: chars 5,10,10 -> max 10 held by 2 and 3, keep 2;
    // cluster {7,8}: keep the longer 7
    assert(out == Map(1L -> ((2L, 10L, 3L)), 7L -> ((7L, 4L, 2L))), s"got $out")
  }

  test("dupThresholdCurve: counts are monotone and zero thresholds still report") {
    // two identical docs (J=1), one half-overlapping pair, one unrelated
    val docs = Seq(
      (1L, "a b c d e f"), (2L, "a b c d e f"),
      (3L, "a b c d x y"), (4L, "p q r s t u")).toDF("doc_id", "text")
    val out = Dedup.dupThresholdCurve(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(9L) == 1L, s"got $out")  // only the identical pair
    assert(out(3L) >= out(5L) && out(5L) >= out(7L) && out(7L) >= out(9L),
      s"curve must be monotone: $out")
    assert(out.keySet == Set(3L, 5L, 7L, 9L))
  }

  test("clusterLangPurity: a cross-language merge is censused as impure") {
    val docs = Seq(
      (1L, "en"), (2L, "en"),       // pure en cluster
      (3L, "en"), (4L, "zh"),       // MIXED cluster -> the audit signal
      (5L, "es")                    // unpaired doc: not in any cluster
    ).toDF("doc_id", "lang")
    val pairs = Seq((1L, 2L), (3L, 4L)).toDF("a_id", "b_id")
    val out = Dedup.clusterLangPurity(docs, pairs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(out == Map(1L -> ((1L, 2L, 0.5)), 2L -> ((1L, 2L, 0.5))), s"got $out")
  }

  test("canonicalPick: FRACTIONAL scores rank on the micro grid, not a truncating cast") {
    // quality scores in [0,1] — a bare long cast sent all of these to 0
    // and the pick degenerated to keep-min-id; the micro-grid rank keeps
    // the best-quality member (id 3 at 0.90) as the canonical doc
    val docs = Seq((1L, 0.25), (2L, 0.70), (3L, 0.90), (7L, 0.10), (8L, 0.40))
      .toDF("doc_id", "quality")
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("a_id", "b_id")
    val out = Dedup.canonicalPick(docs, pairs, scoreCol = "quality").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 3L, 7L -> 8L), s"got $out")
  }

  test("dedupRateBySource: cluster members count against their source, reps survive") {
    val docs = Seq((1L, "sa"), (2L, "sa"), (4L, "sa"), (3L, "sb"))
      .toDF("doc_id", "source")
    val pairs = Seq((1L, 2L)).toDF("a_id", "b_id")
    val out = Dedup.dedupRateBySource(docs, pairs).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    // sa: docs {1,2,4}, members {1,2}, kept = rep 1 + unpaired 4
    assert(out("sa") == ((3L, 2L, 2L, 0.666667)), s"got ${out("sa")}")
    assert(out("sb") == ((1L, 0L, 1L, 0.0)), s"got ${out("sb")}")
  }

  // ---- r14 parity suite: the r13 native cdc chunker's reference twin ------
  // (q133/q136 were rewritten onto CdcChunksExpr in r13 with only the
  // end-to-end oracle as a guard; this pins native ≡ windowed per doc on
  // the gate corpus plus the documented edge cases)
  test("cdcChunks: native codegen ≡ windowed reference twin (gate corpus + boundary edges)") {
    // the twin's boundary rule, replicated so edge docs can be CONSTRUCTED
    // (a token that IS a boundary at the given modulus, and one that isn't)
    def boundary(tok: String, modulus: Int): Boolean = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(tok.getBytes("UTF-8"))
      val v = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      v % modulus == 0
    }
    def chunkLists(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[String]] =
      df.groupBy($"doc_id")
        .agg(transform(array_sort(collect_list(struct($"cid", $"chunk"))),
          t => t.getField("chunk")).as("chunks"))
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    for (modulus <- Seq(2, 8)) {
      val b = (0 to 100000).map(i => s"t$i").find(boundary(_, modulus)).get
      val n = (0 to 100000).map(i => s"t$i").find(!boundary(_, modulus)).get
      val edge = Seq[(Long, String)](
        (900001L, s"$b $n $n"),       // boundary at position 0
        (900002L, s"$b $b $b"),       // consecutive boundaries
        (900003L, s"$n $n $b $n $b"), // interior + trailing boundary
        (900004L, n),                 // single non-boundary token
        (900005L, b),                 // single boundary token
        (900006L, s"$n $b"),          // boundary as LAST token
        (900008L, s"héllo wörld $b ünïcodé $n")) // multi-byte tokens
        .toDF("doc_id", "text")
      val all = docs.select($"doc_id", $"text").unionByName(edge)
      val native = chunkLists(Dedup.cdcChunks(all, modulus))
      val windowed = chunkLists(OperatorTwins.cdcChunksWindowed(all, modulus))
      assert(native.size > 400, s"vacuous corpus: ${native.size} docs")
      assert(native.keySet == windowed.keySet,
        s"modulus=$modulus doc sets differ: ${
          (native.keySet diff windowed.keySet) ++
            (windowed.keySet diff native.keySet)}")
      native.foreach { case (id, chunks) =>
        assert(chunks == windowed(id),
          s"modulus=$modulus doc $id: native=$chunks windowed=${windowed(id)}")
      }
      // degenerate texts: "" tokenizes to [""] (split semantics) → one
      // empty chunk on BOTH sides; null text → no rows on either side
      val degenerate = Seq[(Long, Option[String])](
        (900101L, Some("")), (900102L, None)).toDF("doc_id", "text")
      val dn = chunkLists(Dedup.cdcChunks(degenerate, modulus))
      val dw = chunkLists(OperatorTwins.cdcChunksWindowed(degenerate, modulus))
      assert(dn == dw, s"modulus=$modulus degenerate: native=$dn windowed=$dw")
      assert(dn == Map(900101L -> Seq("")), s"got $dn")
    }
  }
}
