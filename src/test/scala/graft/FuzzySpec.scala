package graft

import org.apache.spark.sql.functions._
import graft.operators.Fuzzy

/** SymSpell edit-distance join: deletion-neighborhood algebra, losslessness
  * against brute force on planted typos, and degenerate keys. */
class FuzzySpec extends SparkSpec {
  import spark.implicits._

  test("deletion variants: exact neighborhoods for small strings") {
    val df = Seq(("abc")).toDF("s")
    val d1 = df.select(Fuzzy.deletionVariants($"s", 1)).head().getSeq[String](0).toSet
    assert(d1 == Set("abc", "bc", "ac", "ab"))
    val d2 = df.select(Fuzzy.deletionVariants($"s", 2)).head().getSeq[String](0).toSet
    assert(d2 == Set("abc", "bc", "ac", "ab", "a", "b", "c"))
  }

  test("native deletion variants ≡ HOF reference, element order included (r13)") {
    // the codegen expression must replay the array_distinct(concat(...))
    // spelling exactly: same elements, same order, keep-first dedup —
    // including multi-byte code points (splices on byte ranges must land
    // on code-point boundaries) and repeated chars (dedup pressure)
    val keys = Seq("", "x", "ab", "aaa", "abca", "hello world",
      "caté-μ☃x", "ααββ", "a b  c", "zzzzzzzzzzzzzzzzzzzzzzzz")
    val df = keys.toDF("s")
    for (d <- Seq(1, 2)) {
      val native = df.select($"s", Fuzzy.deletionVariants($"s", d).as("v"))
        .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
      val hof = df.select($"s", OperatorTwins.deletionVariantsHof($"s", d).as("v"))
        .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
      keys.foreach { k =>
        assert(native(k) == hof(k),
          s"d=$d key='$k': native=${native(k)} hof=${hof(k)}")
      }
    }
  }

  test("degenerate keys: empty and single-char strings keep well-formed neighborhoods") {
    val rows = Seq("", "x").toDF("s")
      .select($"s", Fuzzy.deletionVariants($"s", 2).as("v"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1).toSet).toMap
    assert(rows("") == Set(""))
    assert(rows("x") == Set("x", ""))
  }

  test("planted typos: operator equals brute-force levenshtein on every pair") {
    val docs = Seq(
      (1L, "hello world"),
      (2L, "helo world"),      // deletion, dist 1
      (3L, "hxllo world"),     // substitution, dist 1
      (4L, "hello worlds!"),   // two inserts, dist 2
      (5L, "goodbye moon"),    // far from everything
      (6L, "hello world"),     // exact duplicate, dist 0
      (7L, "ehllo wrold")      // two transpositions = dist 4 in plain lev: excluded
    ).toDF("doc_id", "title")
    val got = Fuzzy.editDistancePairs(docs, "title", "doc_id", maxDist = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    // independent spelling: brute-force cross join + levenshtein
    val t = docs.select($"doc_id", $"title")
    val exp = t.as("a").crossJoin(t.as("b"))
      .filter($"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id", $"b.doc_id", levenshtein($"a.title", $"b.title").as("d"))
      .filter($"d" <= 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(got == exp, s"got $got vs brute $exp")
    assert(got((1L, 2L)) == 1 && got((1L, 3L)) == 1 && got((1L, 6L)) == 0)
    assert(!got.keySet.exists { case (a, b) => a == 5L || b == 5L })
    assert(!got.keySet.exists { case (a, b) => a == 7L || b == 7L })
  }

  test("maxKeyCount caps a planted boilerplate class while true typo pairs survive") {
    // 1000 identical "untitled" titles: every variant in that class's
    // neighborhood is shared by all 1000, so the uncapped join would emit
    // ~500k pairs from boilerplate alone. With the cap those buckets are
    // skipped entirely; the planted typo pair (distinct strings, tiny
    // buckets) must still come through with its exact distance.
    val boiler = spark.range(1000).select($"id", lit("untitled").as("title"))
    val planted = Seq(
      (2000L, "receipt of payment"),
      (2001L, "reciept of payment"),   // transposition = lev 2
      (2002L, "quarterly report"))
      .toDF("id", "title")
    val got = Fuzzy.editDistancePairs(boiler.union(planted),
        keyCol = "title", idCol = "id", maxDist = 2, maxKeyCount = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == Set((2000L, 2001L, 2)), got.toString)
  }

  test("q110b bench twin: dedup-first production pipeline emits only valid pairs") {
    // gate = false, so its contract is pinned here: representatives are
    // distinct titles' min ids, every emitted pair is within maxDist, and
    // the pair orientation is canonical (a_id < b_id).
    val q = graft.operators.Fuzzy.defs.find(_.name == "q110b_edit_neardup_bench").get
    val rows = q.build(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    rows.foreach { case (a, b, dist) =>
      assert(a < b, s"canonical orientation: ($a, $b)")
      assert(dist >= 1 && dist <= 2, s"post-dedup distance in [1, 2]: $dist")
    }
    assert(rows.map(p => (p._1, p._2)).distinct.length == rows.length)
  }

  test("identity collapse expands duplicate key groups exactly (r9 cliff fix)") {
    // groups of identical keys (3x "invoice draft", 2x "annual summary"),
    // a typo bridging INTO a group, and a loner — the operator must equal
    // brute force, with within-group pairs at dist 0 and the bridge typo
    // pairing against EVERY member of its target group
    val docs = Seq(
      (1L, "invoice draft"), (2L, "invoice draft"), (3L, "invoice draft"),
      (4L, "invoce draft"),            // deletion, dist 1 to the group
      (5L, "annual summary"), (6L, "annual summary"),
      (7L, "completely different")).toDF("id", "title")
    val got = Fuzzy.editDistancePairs(docs, "title", "id", maxDist = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val t = docs.select($"id", $"title")
    val exp = t.as("a").crossJoin(t.as("b"))
      .filter($"a.id" < $"b.id")
      .select($"a.id", $"b.id", levenshtein($"a.title", $"b.title").as("d"))
      .filter($"d" <= 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == exp, s"missing=${exp -- got} extra=${got -- exp}")
    assert(got.contains((1L, 4L, 1)) && got.contains((3L, 4L, 1)), got.toString)
    assert(got.contains((1L, 2L, 0)) && got.contains((5L, 6L, 0)), got.toString)
    // the cap sheds an identical-key group bigger than maxKeyCount —
    // identity pairs AND (since r10) cross pairs bridging into it, the
    // pre-collapse parity that bounds expansion output — while smaller
    // groups survive intact (group census contract)
    val capped = Fuzzy.editDistancePairs(docs, "title", "id",
        maxDist = 2, maxKeyCount = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(!capped.exists(p => p._1 <= 4 && p._2 <= 4), capped.toString)
    assert(capped.contains((5L, 6L, 0)), capped.toString)
  }

  test("candidate generation is one variant equi-join; verification only on survivors") {
    val docs = Seq((1L, "alpha"), (2L, "alphb"), (3L, "zzzzz")).toDF("doc_id", "title")
    val plan = Fuzzy.editDistancePairs(docs, "title", "doc_id", maxDist = 1)
      .queryExecution.executedPlan.toString
    // a hash join on the variant key, not a nested-loop over all pairs
    assert(plan.contains("SortMergeJoin") || plan.contains("BroadcastHashJoin")
      || plan.contains("ShuffledHashJoin"),
      s"candidates must come from an equi-join:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"no all-pairs scan in the candidate path:\n$plan")
  }
}
