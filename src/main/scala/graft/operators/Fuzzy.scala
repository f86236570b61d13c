package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.{QueryDef, Tables}

/** Edit-distance (Levenshtein) similarity self-join over SHORT string keys
  * — titles, URLs, product names, author strings: the fuzzy-matching face
  * of dedup that token-set similarity (q104 Jaccard, q46 MinHash) cannot
  * see, because a one-character typo preserves almost no token overlap on
  * a short key but is exactly edit distance 1.
  *
  * Candidate scheme: SYMMETRIC DELETION neighborhoods (the SymSpell
  * index). If lev(a, b) ≤ d, then deleting the ≤ d edited positions from
  * each string yields a COMMON variant: every qualifying pair shares a
  * member of their ≤-d-deletion neighborhoods — lossless by theorem, not
  * probability (the brute-force oracle certifies exactly this on the full
  * capped input). Candidate generation is therefore one explode + one
  * equi-join on the variant string:
  *
  *  - neighborhood size is C(L,0)+C(L,1)+…+C(L,d) — for the short keys
  *    this operator contracts (L ≲ 32, d ≤ 2) that is ≤ ~500 variants per
  *    row, each a substring splice. For LONG text at scale this blows up
  *    combinatorially and token-level similarity (q104/q46) is the right
  *    tool — SCALING.md pins the boundary.
  *  - the variant array is materialized through an explicit exchange
  *    BEFORE the explode: an inline O(L²)-substring generator input
  *    re-evaluates per OUTPUT row (the r1 MinHash hazard, measured 14×).
  *  - the equi-join shuffles (variant → ids) pairs; fan-in per variant is
  *    bounded by how many keys share it, so boilerplate keys (empty
  *    titles, "untitled") are the hot-bucket analogue — capped by
  *    `maxKeyCount`, the q46 `capBuckets` discipline.
  *  - verification is Spark's codegen'd `levenshtein` on the ≤ d·|cand|
  *    surviving pairs (integer DP, engine-portable semantics — unit-cost
  *    substitution/insert/delete, same as DuckDB's).
  */
object Fuzzy {

  /** All strings obtainable from `s` by deleting at most `d` characters
    * (d ∈ {1, 2}), the string itself included, distinct. Native codegen
    * since r13: the HOF spelling is CodegenFallback at every layer
    * (interpreted lambdas + a boxed array per layer per key) AND evicts
    * its enclosing operator from whole-stage codegen — measured ~600 µs
    * vs ~4 µs per 24-char key on the q110b variant stage. The HOF form is
    * kept as the independent reference in test scope
    * (`OperatorTwins.deletionVariantsHof`); FuzzySpec pins native ≡ HOF,
    * element order included. */
  def deletionVariants(s: Column, d: Int): Column =
    graft.expressions.DeletionVariantsExpr.deletionVariants(s, d)

  /** Self-join: all (a_id, b_id, dist) with lev ≤ `maxDist` over
    * `docs(idCol, keyCol)`. Short keys only by contract (see object doc).
    *
    * `maxKeyCount`: skip any deletion variant shared by more than this
    * many keys — the [[Dedup]] `capBuckets` discipline. Since r9 the
    * identity collapse below makes byte-identical key classes a non-event
    * here (one representative generates the neighborhood; members expand
    * back through id joins, with the cap applied to the group census under
    * the same contract), so the variant cap guards the remaining hot case:
    * DISTINCT keys that share a variant (e.g. one-char-apart boilerplate
    * families). The census is a map-side-combining groupBy over the
    * variant key plus a broadcast anti-join (r12 — never a window, which
    * would buffer the over-cap bucket in one task); the cap exists
    * precisely to stop the quadratic OUTPUT — which
    * since r10 it does on BOTH axes: variant buckets over the cap are
    * skipped, and rep pairs touching an over-cap identical-key class are
    * shed before expansion (see the body comment), so no capped run can
    * emit member pairs quadratic in an over-cap class size. */
  def editDistancePairs(docs: DataFrame, keyCol: String, idCol: String,
      maxDist: Int, maxKeyCount: Int = Int.MaxValue): DataFrame = {
    val par = docs.sparkSession.sparkContext.defaultParallelism
    // ---- identity collapse (r9) — the [[Dedup.prefixJaccardPairs]]
    // construction applied to the join key: byte-identical keys generate
    // ONE deletion neighborhood, so an identical-key class of B rows costs
    // B (mapping rows), not B × neighborhood variants and not B² candidate
    // rows per shared variant — the 64× identical-copy probe FuzzyScale (at 94bd464) ran
    // the pre-collapse shape for 1,477 s, quadratic in the duplication
    // factor, before the fix. Member pairs come back through narrow id
    // joins; same-key pairs have lev = 0 by construction. The key
    // NON-NULL filter is hoisted into the shared subtree (per-branch
    // filter hazard); null-key rows never paired before either (their
    // exploded variants were null-filtered).
    val byKey = docs.select(col(idCol).as("id"), col(keyCol).as("s"))
      .filter(col("id").isNotNull && col("s").isNotNull)
      .repartition(par, col("s"))
    val reps = byKey.groupBy(col("s")).agg(min(col("id")).as("rep_id"))
    val mapping = byKey.join(reps.hint("merge"), Seq("s"))
      .select(col("id"), col("rep_id"))
    val base = reps.select(col("rep_id").as("id"), col("s"))
    // r13 shape: a THIN repartition below the variant projection, then a
    // cheap-inline outer explode (no materializing exchange).
    //  - The thin REPARTITION_BY_NUM is load-bearing: without it the
    //    O(L²)-splice variant projection fuses into the reps aggregate,
    //    which AQE coalesces by BYTES (a key census is tiny at any corpus
    //    size), so the neighborhood generation — whose cost is ~300× its
    //    input bytes — ran on ONE task (measured 2×~2.9 s serial at bench
    //    SF). An explicit numbered repartition is never coalesced, so the
    //    splice work runs at full parallelism at every scale.
    //  - Inline is now the fast explode shape (CLAUDE.md: cheap-inline OR
    //    shuffle-materialized): deletionVariants is a native codegen
    //    expression since r13, evaluated once per INPUT row inside the
    //    same WholeStageCodegen span as the Generate (verified in the
    //    finalized plan), and explode_outer keeps the generator guard out
    //    of the scan. The pre-r13 interpreted HOF needed materializing
    //    through the exchange; spelling that with two same-key
    //    repartitions now just collapses to this plan anyway, minus the
    //    variant-array shuffle bytes.
    val raw = base
      .repartition(par, col("id"))
      .withColumn("vs", deletionVariants(col("s"), maxDist))
      .select(col("id"), col("s"), explode_outer(col("vs")).as("v"))
      .filter(col("v").isNotNull)
    val variants =
      if (maxKeyCount == Int.MaxValue) raw
      else {
        // over-cap census + anti-join, NOT a count window over v (the q89
        // hot-key rule, r12): the window buffers each variant bucket in ONE
        // task, so the over-cap bucket the cap exists to shed is exactly
        // the partition that would straggle. The census combines map-side,
        // its over-cap survivors are tiny → AQE broadcasts the anti-join,
        // and the variant rows reach the candidate join on the partitioning
        // they already have. count(when(s.isNotNull, id)) ≡ count(id) here
        // (s is non-null by the hoisted filter above) but keeps BOTH
        // branches' projections below the shared variant exchange
        // identical: prune s from the census branch and the canonical
        // subtrees split, computing and shuffling the deletion
        // neighborhoods twice (the q104 census lesson in projection form).
        val over = raw.groupBy(col("v"))
          .agg(count(when(col("s").isNotNull, col("id"))).as("vsz"))
          .filter(col("vsz") > maxKeyCount)
          .select(col("v"))
        raw.join(over, Seq("v"), "left_anti")
      }
    // Candidate join at Σ occ² fan (r14, per-task work): the length guard
    // is precomputed ONCE per variant row as an int — the condition is
    // evaluated per key-matched COMBO, and spelling it over a.s/b.s made
    // every combo pay a per-combo string extraction + numChars walk (the
    // r12 SMJ condition-extraction rule, BHJ form). Symmetric projection
    // on both sides keeps the shared variant lineage canonically equal.
    // coalesce makes sl NON-NULLABLE (s is non-null here, so the value is
    // unchanged): a nullable sl in the join condition infers a per-branch
    // isnotnull(length(substring(...))) that pushes into ONE branch's scan
    // and splits the canonical collapse-exchange subtrees — the corpus
    // scanned twice (the r9 join-inference splitter, caught by the
    // PlanSpec 1-scan pin when sl first landed).
    val varJoin = variants.withColumn("sl", coalesce(length(col("s")), lit(0)))
    val verified = varJoin.as("a").join(varJoin.as("b"),
        col("a.v") === col("b.v") && col("a.id") < col("b.id") &&
          abs(col("a.sl") - col("b.sl")) <= maxDist)
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"))
      // pair-dedup keyed on the IDS ONLY (was: distinct over a 4-column
      // row carrying both strings) — the dedup aggregate updates once per
      // CANDIDATE, so a pure-long HashAggregate (codegen, no sort, no
      // string hashing) is the per-candidate hot path; it still rides the
      // hash(id) variant partitioning exchange-free (subset rule). The
      // strings re-attach at POST-dedup pair cardinality through two
      // narrow id joins against the rep census (guide §8: decide with
      // small rows, move payloads once).
      .distinct()
      .join(base.select(col("id").as("a_id"), col("s").as("a_s")), Seq("a_id"))
      .join(base.select(col("id").as("b_id"), col("s").as("b_s")), Seq("b_id"))
      .select(col("a_id"), col("b_id"), levenshtein(col("a_s"), col("b_s")).as("dist"))
      .filter(col("dist") <= maxDist)
    // Under a cap, rep pairs touching an OVER-CAP identity group are shed
    // (r10, ADVICE — same construction as Dedup.minhashCollapsed): pre-
    // collapse, every variant bucket containing any member of an identical
    // class of size > maxKeyCount held the whole class and was shed, so no
    // pair involving the class survived. Collapsed buckets count REPS, so
    // such a pair could sneak through and its cross expansion would emit
    // |A|×|B| member pairs — two bridged over-cap classes reproduce the
    // exact quadratic-output cliff the cap exists to stop. The group census
    // restores the pre-collapse OUTPUT BOUND — never sheds more; it may
    // keep bystander pairs the pre-collapse cap shed (under-cap keys whose
    // variant buckets only overflowed because identity-class members, or
    // several mid-size classes, co-resided), since collapsed buckets
    // count reps.
    val core =
      if (maxKeyCount == Int.MaxValue) verified
      else {
        val overCap = mapping.groupBy(col("rep_id"))
          .agg(count(col("id")).as("m"))
          .filter(col("m") > maxKeyCount).select(col("rep_id").as("oc"))
        verified
          .join(overCap, col("a_id") === col("oc"), "left_anti")
          .join(overCap, col("b_id") === col("oc"), "left_anti")
      }
    // ---- expansion back to member pairs (see prefixJaccardPairs). The
    // hot-key cap carries to identity groups through the group census:
    // an identical-key class larger than maxKeyCount sheds ALL its pairs
    // (identity AND cross), exactly as its variant buckets would have
    // been shed pre-collapse.
    val ma = mapping.select(col("id").as("xa"), col("rep_id").as("ra"))
    val mb = mapping.select(col("id").as("xb"), col("rep_id").as("rb"))
    val cross = core
      .join(ma, col("a_id") === col("ra"))
      .join(mb, col("b_id") === col("rb"))
      .select(least(col("xa"), col("xb")).as("a_id"),
        greatest(col("xa"), col("xb")).as("b_id"), col("dist"))
    val dupFilter = if (maxKeyCount == Int.MaxValue) col("m") >= 2
      else col("m") >= 2 && col("m") <= maxKeyCount
    val dupGroups = mapping.groupBy(col("rep_id"))
      // count(id), not count(*): keeps id below the shared exchange so
      // this census branch prunes like every other mapping consumer and the
      // collapse exchange stays canonically EQUAL (the q104 census lesson;
      // the r9 PlanSpec scan pin caught the count(*) spelling re-scanning)
      .agg(count(col("id")).as("m"))
      .filter(dupFilter).select(col("rep_id").as("rg"))
    val ident = ma.join(mb, col("ra") === col("rb") && col("xa") < col("xb"))
      .join(dupGroups, col("ra") === col("rg"))
      .select(col("xa").as("a_id"), col("xb").as("b_id"), lit(0).as("dist"))
    cross.unionByName(ident)
  }

  val defs: Seq[QueryDef] = Seq(
    // ---- q110: edit-distance near-dup pairs on title keys ------------------
    // 24-char title prefix, d = 2. The ORACLE is the uncapped brute force
    // over the same (doc_id < 2000) input — like q104, it certifies the
    // deletion-neighborhood candidate generation LOSSLESS on everything it
    // sees, with no recall assumption. The input cap bounds the oracle's
    // O(n²) levenshtein, per the input-capped-verification rule; the Spark
    // side is the scalable candidate shape.
    QueryDef(
      "q110_edit_neardup",
      (s, d) => editDistancePairs(
        Tables.documents(s, d).filter(col("doc_id") < 2000)
          .select(col("doc_id"), substring(col("text"), 1, 24).as("title")),
        keyCol = "title", idCol = "doc_id", maxDist = 2)
        .orderBy(col("a_id"), col("b_id")),
      Some("""WITH t AS (
             |  SELECT doc_id, substr(text, 1, 24) AS s
             |  FROM documents WHERE doc_id < 2000)
             |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
             |  CAST(levenshtein(a.s, b.s) AS INT) AS dist
             |FROM t a JOIN t b ON a.doc_id < b.doc_id
             |WHERE levenshtein(a.s, b.s) <= 2
             |ORDER BY a_id, b_id""".stripMargin)),

    // ---- q110b: bench twin — the PRODUCTION pipeline, uncapped corpus ------
    // What a 100 TB run actually executes: exact dedup first (identical
    // titles collapse to their min-id representative, the documented
    // mitigation for the all-duplicates regime FuzzyScale (at 94bd464) measured), then
    // the deletion-variant join with the hot-key cap engaged. gate = false:
    // q110's brute-force oracle already certifies the candidate generation
    // lossless; this entry exists so the full-corpus cost is timed at
    // bench SF in every BENCH_r* artifact.
    QueryDef(
      "q110b_edit_neardup_bench",
      (s, d) => {
        val titles = Tables.documents(s, d)
          .select(col("doc_id"), substring(col("text"), 1, 24).as("title"))
          .groupBy(col("title")).agg(min(col("doc_id")).as("doc_id"))
        editDistancePairs(titles, keyCol = "title", idCol = "doc_id",
          maxDist = 2, maxKeyCount = 64)
      },
      None,
      headline = true,
      gate = false),
  )
}
