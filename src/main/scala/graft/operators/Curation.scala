package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{QueryDef, Tables}
import graft.core.Lineage.CutOps
import graft.expressions.BloomMightContainExpr
import graft.functions.TextOps

/** Corpus-curation operators — the selection/balancing half of a training-
  * data pipeline, complementing [[Dedup]] (removal) and [[TextAnalysis]]
  * (scoring):
  *
  *  - per-domain frequency capping           → q69
  *  - composite quality filtering (Gopher-style rules) → q70
  *  - incremental dedup against a reference corpus (Bloom prefilter + exact
  *    verification)                          → q71
  *  - deterministic stratified sampling      → q72
  *  - sequence packing by token budget       → q73
  *  - int8 embedding quantization            → q74
  *  - quality-based cluster representative selection → q75
  *
  * Scale shapes: q70/q72/q74 are pure map stages (zero shuffle — they scale
  * with input splits); q69/q73 shuffle once on the partition key (domain /
  * shard); q71's corpus-sized input never shuffles — only Bloom "maybe"
  * rows (≈ true duplicates + fpp·|incoming|) reach the exact join; q75
  * rides the candidate-bounded LSH/CC output, never the corpus.
  */
object Curation {

  /** Quantized quality score (same expression as q41 — see
    * `TextOps.qualityScore` for the floor-quantization rationale). */
  private def quality: Column = TextOps.qualityScore(col("text"))

  /** The q41 oracle spelling of [[quality]], shared by every oracle below. */
  private val QualitySql =
    """floor((0.4 * least(n / 100.0, 1.0)
      |      + 0.4 * (nd / n)
      |      + 0.2 * least(((length(text) - (n - 1)) / n) / 8.0, 1.0)) * 1e6 + 0.5) / 1e6""".stripMargin

  private val QualityCte =
    s"""SELECT doc_id, source, lang,
       |    $QualitySql AS quality
       |  FROM (SELECT *,
       |          CAST(len(string_split(text, ' ')) AS DOUBLE) AS n,
       |          CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) AS nd
       |        FROM documents)""".stripMargin

  /** Dataset card — the per-slice statistics table shipped alongside a
    * training corpus (the "datasheet" step of a release): for every
    * (source, lang) slice plus the rollup margins, document and token
    * counts, the exact-duplicate count (canonical fingerprints), and mean
    * quality. ONE corpus scan + one rollup aggregate; countDistinct adds
    * the standard two-phase distinct expand — still census-bounded.
    * Per-slice drift/dedup depth live in their own operators (q125, q44);
    * this is the cheap always-on summary. */
  def datasetCard(docs: DataFrame): DataFrame =
    docs.select(col("source"), col("lang"),
        TextOps.tokenCount(col("text")).as("ntok"),
        TextOps.fingerprint(col("text")).as("fp"),
        quality.as("q"))
      .rollup(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ntok")).as("n_tokens"),
        (count(lit(1)) - countDistinct(col("fp"))).as("n_exact_dups"),
        round(avg(col("q")), 4).as("mean_quality"))
      .orderBy(col("source").asc_nulls_first, col("lang").asc_nulls_first)

  /** MERGEABLE dataset card — the incremental face of [[datasetCard]]:
    * release stats that combine across corpus increments WITHOUT
    * rescanning history. Counts (docs, tokens) merge by addition; the
    * exact-duplicate signal cannot (distinct fingerprints are not a sum),
    * so it rides as a per-slice HyperLogLog register table
    * (`Sketches.hllRegisters` over the 32-bit head of the canonical
    * fingerprint) that merges by per-register max — the q103 union
    * contract. `mergeCards` of two increments is EXACTLY the card of
    * their union (registers are max-merged, not approximately combined;
    * only the final distinct ESTIMATE carries HLL error), which is what
    * lets a 100 TB release maintain its datasheet append-only. Returns
    * (counts, registers): counts = (source, lang, n_docs, n_tokens);
    * registers = (source, lang, reg, rho). */
  def cardSketch(docs: DataFrame): (DataFrame, DataFrame) = {
    val counts = docs.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(TextOps.tokenCount(col("text"))).as("n_tokens"))
    val keyed = docs.select(col("source"), col("lang"),
      conv(substring(TextOps.fingerprint(col("text")), 1, 8), 16, 10)
        .cast("long").as("fpk"))
    val regs = Sketches.hllRegisters(keyed, "fpk",
        struct(col("source"), col("lang")), Sketches.Hll.a, Sketches.Hll.b)
      .select(col("grp.source").as("source"), col("grp.lang").as("lang"),
        col("reg"), col("rho"))
    (counts, regs)
  }

  /** Combine two [[cardSketch]] increments: addition for counts, per-
    * register max for the HLL side — exactly the card of the unioned
    * corpora. */
  def mergeCards(a: (DataFrame, DataFrame), b: (DataFrame, DataFrame)): (DataFrame, DataFrame) = {
    val counts = a._1.unionByName(b._1)
      .groupBy(col("source"), col("lang"))
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
    val regs = a._2.unionByName(b._2)
      .groupBy(col("source"), col("lang"), col("reg"))
      .agg(max(col("rho")).as("rho"))
    (counts, regs)
  }

  /** Keep at most `k` documents per domain, best quality first (doc_id
    * tiebreak). ONE hash shuffle on the domain key; Spark's rank-limit
    * pushdown plants a map-side WindowGroupLimit below the exchange
    * (verified in the q69 plan), so even a giant crawl host ships at most
    * k rows per input partition — skew is pre-pruned automatically. */
  def capPerDomain(docs: DataFrame, domainCol: String, k: Int): DataFrame = {
    val w = Window.partitionBy(domainCol).orderBy(desc("quality"), asc("doc_id"))
    docs.select(col("doc_id"), col(domainCol), quality.as("quality"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
  }

  /** Gopher-style composite quality rules as ONE Column predicate, all
    * integer-exact (no float threshold can disagree cross-engine): token
    * count in [20, 80], distinct-token ratio ≥ 0.3 (as 10·nd ≥ 3·n), mean
    * token length in [2, 8] (as 2n ≤ chars−(n−1) ≤ 8n), ≥ 1 stopword.
    * Exposed as a predicate (not only the projecting [[qualityFilter]]) so
    * pipelines can `docs.filter(...)` keeping every column — a pure map
    * stage with no re-join to recover the payload. */
  def qualityPredicate(text: Column): Column = {
    val n = TextOps.tokenCount(text)
    val nd = size(array_distinct(TextOps.tokens(text)))
    val alpha = length(text) - (n - lit(1)) // chars excluding separators
    n.between(20, 80) &&
      nd * 10 >= n * 3 &&
      alpha >= n * 2 && alpha <= n * 8 &&
      TextOps.stopwordCount(text, Seq("the", "a")) >= 1
  }

  /** [[qualityPredicate]] with the audit projection (q70's gate shape). */
  def qualityFilter(docs: DataFrame): DataFrame = {
    val n = TextOps.tokenCount(col("text"))
    val nd = size(array_distinct(TextOps.tokens(col("text"))))
    docs
      .filter(qualityPredicate(col("text")))
      .select(col("doc_id"), n.as("n_tokens"), nd.as("n_distinct"))
  }

  /** Shared Bloom routing for batch AND streaming reference dedup: build
    * the reference filter (distributed `stat.bloomFilter` aggregation),
    * broadcast it ONCE (the probe expression carries only the handle —
    * both output branches and every micro-batch share one executor-side
    * copy), and split `incoming` into (definitely-new, maybe-seen). */
  private[graft] def bloomSplit(incoming: DataFrame, referenceFps: DataFrame,
      fpCol: String, expectedItems: Long, fpp: Double): (DataFrame, DataFrame) = {
    val bf = referenceFps.stat.bloomFilter(xxhash64(col(fpCol)), expectedItems, fpp)
    val bc = referenceFps.sparkSession.sparkContext.broadcast(bf)
    val maybe = BloomMightContainExpr.mightContain(xxhash64(col(fpCol)), bc)
    (incoming.filter(!maybe), incoming.filter(maybe))
  }

  /** Incremental dedup of `incoming` against a reference corpus: a
    * driver-built Bloom filter over the reference's fingerprint hashes
    * splits incoming rows into "definitely new" (kept with NO join — the
    * overwhelming majority, a pure map decision) and "maybe seen" (only
    * these shuffle into an exact anti-join). Output is EXACT regardless of
    * `fpp`: Bloom false positives only send extra rows to verification,
    * never change the result; false negatives cannot occur by construction.
    * At 100 TB incoming this replaces one full-corpus shuffle with two
    * map-only scans of the pruned fingerprint columns (the union's two
    * branches) + a join of ≈ (true dups + fpp·|incoming|) rows. */
  def bloomReferenceDedup(incoming: DataFrame, referenceFps: DataFrame,
      fpCol: String, expectedItems: Long, fpp: Double): DataFrame = {
    val (definitelyNew, maybes) = bloomSplit(incoming, referenceFps, fpCol, expectedItems, fpp)
    val verified = maybes
      .join(referenceFps.select(col(fpCol)).distinct(), Seq(fpCol), "left_anti")
    definitelyNew.unionByName(verified)
  }

  /** Deterministic per-stratum sampling: a multiplicative (Knuth) hash of
    * the id picks a per-mille bucket; a row survives iff its bucket is
    * below its stratum's rate. Pure map stage — no shuffle, no RNG state,
    * reproducible run-to-run and engine-to-engine (the reason this is
    * arithmetic, not `rand()` or `TABLESAMPLE`). Rates are per-mille.
    * Overflow-safe under ANSI for the full bigint id range: the id is
    * first pmod-reduced to 31 bits, so `2³¹·2654435761 < 2⁶³` — no 64-bit
    * multiply can throw — and pmod keeps negative ids in [0, 1000). */
  def stratifiedSample(docs: DataFrame, stratumCol: String,
      ratesPerMille: Map[String, Int], idCol: String = "doc_id"): DataFrame = {
    val bucket = expr(
      s"CAST((((pmod($idCol, 2147483648) * 2654435761) % 4294967296) * 1000) div 4294967296 AS BIGINT)")
    val rate = ratesPerMille.foldLeft(lit(0)) { case (acc, (k, v)) =>
      when(col(stratumCol) === k, lit(v)).otherwise(acc)
    }
    docs.withColumn("bucket", bucket).filter(col("bucket") < rate)
  }

  /** Deterministic weighted sampling WITHOUT replacement (Efraimidis–
    * Spirakis A-ES): each row draws priority `u^(1/w)` from a
    * multiplicative-hash uniform `u ∈ (0,1)` — no RNG state, so the
    * sample is identical across retries and speculative tasks (the same
    * reproducibility argument as [[stratifiedSample]]) — and the k
    * highest priorities win. Inclusion probability is proportional to
    * weight (the A-ES theorem); rows with weight ≤ 0 get priority 0 and
    * can never be selected. Distribution shape: priority is a pure map,
    * selection is TakeOrderedAndProject — k rows per partition cross the
    * wire, no global sort. `pow` is transcendental, so this operator is
    * SPEC-verified (priority recomputed from the exposed `u`), not
    * oracle-replayed — the one numeric class the DuckDB gate can't hash.
    */
  def weightedSample(docs: DataFrame, weightCol: String, k: Int,
      idCol: String = "doc_id"): DataFrame = {
    val u = expr(
      s"(CAST(((pmod($idCol, 2147483648) * 2654435761) % 4294967296) AS DOUBLE) + 1.0) / 4294967297.0")
    val w = col(weightCol).cast("double")
    val priority = when(w > 0, pow(col("u"), lit(1.0) / w)).otherwise(lit(0.0))
    docs.withColumn("u", u)
      .withColumn("priority", priority)
      .filter(col("priority") > 0)
      .orderBy(desc("priority"), col(idCol))
      .limit(k)
  }

  /** Greedy sequence packing: within each shard (ordered by doc_id), a
    * document opens at running-token-offset `cum − n` and lands in bin
    * `(cum − n) div budget` — the standard start-offset approximation of
    * concat-and-chunk pretraining batches, expressible as ONE window over
    * the shard ordering (single shuffle on the shard key). */
  def packSequences(docs: DataFrame, shardCol: String, budget: Int): DataFrame = {
    val w = Window.partitionBy(shardCol).orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.select(col("doc_id"), col(shardCol), TextOps.tokenCount(col("text")).as("n"))
      .withColumn("cum", sum(col("n")).over(w))
      .withColumn("bin", expr(s"(cum - n) div $budget"))
  }

  /** Symmetric int8 quantization of an embedding column: per-vector scale
    * 127/max|x|, elements floor(x·scale + 0.5) clamped to [−127, 127].
    * Pure map stage; 4× memory/IO reduction is the lever that keeps ANN
    * candidate verification in cache at 100 TB. All arithmetic is IEEE
    * double on both engines (floats widen exactly; no summation), so the
    * integer outputs are bit-deterministic cross-engine. */
  def quantizeInt8(embs: DataFrame, vecCol: String, idCol: String = "vec_id"): DataFrame = {
    // Native fused expression (one codegen'd pass per vector) — SCALING.md
    // measured the HOF lambda path interpreted at ~2× steady-state cost.
    // CurationSpec pins bit-parity against [[quantizeInt8Hof]].
    val st = graft.expressions.QuantizeInt8Expr.quantize(col(vecCol).cast("array<double>"))
    embs
      .withColumn("qs", st)
      .select(col(idCol),
        floor(col("qs.scale") * 1e6 + 0.5).as("scale_q"),
        col("qs.qvec").as("qvec"))
  }

  /** The original HOF spelling of [[quantizeInt8]] — kept as the
    * engine-portable parity twin the spec checks the native expression
    * against (same dag the q74 oracle replays in DuckDB). */
  private[graft] def quantizeInt8Hof(embs: DataFrame, vecCol: String,
      idCol: String = "vec_id"): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    val mx = array_max(transform(v, x => abs(x)))
    embs
      .withColumn("v", v)
      .withColumn("scale", when(mx === 0d, lit(0d)).otherwise(lit(127.0) / mx))
      .select(col(idCol),
        floor(col("scale") * 1e6 + 0.5).as("scale_q"),
        transform(col("v"), x =>
          greatest(lit(-127L), least(lit(127L), floor(x * col("scale") + 0.5)))).as("qvec"))
  }

  /** Resample toward a target domain/language mixture: given per-stratum
    * target weights (per-mille of the output) and a total document budget,
    * keep-rate_s = min(1, budget·w_s / n_s), applied via the same
    * deterministic bucket hash as [[stratifiedSample]]. The stratum census
    * is a tiny aggregate broadcast back onto the corpus — the corpus side
    * stays a pure map stage (one pruned-column scan for the census, no
    * corpus shuffle). Rates are integer per-mille (budget·w_pm div n_s),
    * so both engines derive identical cutoffs. */
  def mixtureResample(docs: DataFrame, stratumCol: String,
      weightsPerMille: Map[String, Int], budget: Long,
      idCol: String = "doc_id"): DataFrame = {
    val wpm = weightsPerMille.foldLeft(lit(0L)) { case (acc, (k, v)) =>
      when(col(stratumCol) === k, lit(v.toLong)).otherwise(acc)
    }
    val rates = docs.groupBy(stratumCol).agg(count(lit(1)).as("n_s"))
      .withColumn("wpm", wpm)
      .withColumn("rate_pm", expr(s"least(1000, ($budget * wpm) div n_s)"))
      .select(col(stratumCol), col("n_s"), col("rate_pm"))
    val bucket = expr(
      s"CAST((((pmod($idCol, 2147483648) * 2654435761) % 4294967296) * 1000) div 4294967296 AS BIGINT)")
    docs.join(broadcast(rates), Seq(stratumCol))
      .withColumn("bucket", bucket)
      .filter(col("bucket") < col("rate_pm"))
  }

  /** Deterministic global training shuffle: multiplicative-hash each id
    * into one of `shards` shards and order within shards by (hash, id) —
    * a reproducible pseudo-random permutation with NO global sort. One
    * shuffle on the shard key; every shard orders independently (a shard
    * is the unit a trainer reads sequentially), so at 100 TB there is no
    * single-partition sort bottleneck and re-runs yield identical shards. */
  def globalShuffle(docs: DataFrame, shards: Int,
      idCol: String = "doc_id"): DataFrame = {
    val w = Window.partitionBy("shard").orderBy(col("h"), col(idCol))
    docs
      .withColumn("h", expr(s"(pmod($idCol, 2147483648) * 2654435761) % 4294967296"))
      .withColumn("shard", expr(s"h % $shards"))
      .withColumn("pos", row_number().over(w))
  }

  /** Uniform negative sampling without RNG — the cheap complement of
    * `Similarity.hardTriplets` (contrastive pipelines mix a few HARD
    * negatives with many UNIFORM ones): each anchor takes the next k
    * documents on its [[globalShuffle]] hash-ring shard, wrapping at the
    * shard boundary. The hash ordering is unrelated to any content
    * signal, so within-shard adjacency is a uniform draw; determinism is
    * the training-data requirement (re-runs, retries, and both engines
    * pick identical negatives). Ring-sized joins only: the one window is
    * q80's per-shard position, anchors fan out ×k as plain integers, and
    * the target join is (shard, pos) equi — no RNG, no corpus text. */
  def ringNegatives(docs: DataFrame, k: Int, shards: Int = 8,
      idCol: String = "doc_id"): DataFrame = {
    require(k >= 1, s"k must be positive: $k")
    val ring = globalShuffle(docs.select(col(idCol)), shards, idCol)
      .select(col(idCol), col("shard"), col("pos"))
    val sizes = ring.groupBy(col("shard")).agg(count(lit(1)).as("sn"))
    val anchors = ring.join(broadcast(sizes), "shard")
      .select(col(idCol).as("a_id"), col("shard"), col("pos"), col("sn"),
        explode(sequence(lit(1), lit(k))).as("j"))
      .withColumn("tpos", expr("(pos + j - 1) % sn + 1"))
    anchors
      .join(ring.select(col("shard"), col("pos").as("tpos"), col(idCol).as("b_id")),
        Seq("shard", "tpos"))
      .filter(col("a_id") =!= col("b_id")) // degenerate 1-doc shard wraps to self
      .select(col("a_id"), col("j").as("rank"), col("b_id"))
      .orderBy(col("a_id"), col("rank"))
  }

  /** Deterministic train/val/test assignment: the id hashes (md5 — the
    * engine-portable hash, like the q109 classifier's buckets) into a
    * per-mille bucket, and fixed bucket ranges make the split. No RNG, no
    * state: any engine, any executor, any re-run assigns every id to the
    * SAME split — which is the property a train/test boundary must have,
    * since leakage via reassignment is silent. Pure map stage; holdout
    * membership also stays stable as the corpus grows (new ids don't
    * reshuffle old ones — the reason hash splits beat row-number splits
    * at 100 TB). */
  def assignSplit(docs: DataFrame, idCol: String,
      trainPm: Int, valPm: Int): DataFrame = {
    require(trainPm > 0 && valPm >= 0 && trainPm + valPm < 1000,
      s"per-mille bounds invalid: $trainPm/$valPm")
    val bucket = conv(substring(md5(col(idCol).cast("string")), 1, 8), 16, 10)
      .cast("long") % 1000
    docs.withColumn("split",
      when(bucket < trainPm, lit("train"))
        .when(bucket < trainPm + valPm, lit("val"))
        .otherwise(lit("test")))
  }

  /** Token-distribution drift between the train and val splits — the QA
    * gate run before training to catch a skewed split or an upstream
    * filter that removed a token class from one side only. Emits the topK
    * tokens by |p_train − p_val|: each token's per-split counts, relative
    * frequencies, and total-variation contribution (Σ/2 of `abs_diff`
    * over ALL tokens is the TV distance; KL/JS need a transcendental log
    * whose last ulp is not cross-engine-contractual — the CLAUDE.md
    * numerics rule — so TV is the oracle-gated face and CurationSpec pins
    * the divergence ordering in-engine).
    *
    * Numerics: p = cnt/total is ONE IEEE division of exact integers and
    * abs_diff one subtraction — bit-identical cross-engine, no rounding.
    * Scale shape: split totals come from per-doc token COUNTS (no explode
    * — one cheap map-agg over the scan), broadcast as one row; the census
    * is the standard vocab-sized partial-agg shuffle; top-k lands on
    * TakeOrderedAndProject. Corpus text never shuffles. */
  def splitDrift(docs: DataFrame, topK: Int,
      trainPm: Int = 800, valPm: Int = 100): DataFrame = {
    val sp = assignSplit(docs, "doc_id", trainPm, valPm)
      .filter(col("split").isin("train", "val"))
    val isTrain = (col("split") === "train").cast("long")
    val totals = sp.agg(
      sum(TextOps.tokenCount(col("text")) * isTrain).as("t_train"),
      sum(TextOps.tokenCount(col("text")) * (lit(1L) - isTrain)).as("t_val"))
    val census = sp
      .select(isTrain.as("is_train"), explode(TextOps.tokens(col("text"))).as("token"))
      .groupBy(col("token"))
      .agg(sum(col("is_train")).as("cnt_train"),
        sum(lit(1L) - col("is_train")).as("cnt_val"))
    val pTrain = col("cnt_train").cast("double") / col("t_train").cast("double")
    val pVal = col("cnt_val").cast("double") / col("t_val").cast("double")
    census.crossJoin(broadcast(totals))
      .select(col("token"), col("cnt_train"), col("cnt_val"),
        pTrain.as("p_train"), pVal.as("p_val"),
        abs(pTrain - pVal).as("abs_diff"))
      .orderBy(desc("abs_diff"), col("token"))
      .limit(topK)
  }

  /** Corpus vocabulary census — the tokenizer-training primitive: token →
    * corpus frequency, top-k by (freq DESC, token). explode is map-local;
    * hash partial aggregation collapses the Zipf head before the one
    * shuffle; top-k lands on TakeOrderedAndProject (no global sort). The
    * final rank window runs on k rows, not the corpus. */
  def buildVocab(docs: DataFrame, topK: Int, textCol: String = "text"): DataFrame = {
    val w = Window.orderBy(desc("freq"), asc("token"))
    docs.select(explode(TextOps.tokens(col(textCol))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("freq"))
      .orderBy(desc("freq"), asc("token"))
      .limit(topK)
      .withColumn("rank", row_number().over(w))
      .select(col("rank"), col("token"), col("freq"))
  }

  /** Context-window chunking: split each document into fixed-token chunks
    * on a stride grid (stride < chunkTokens ⇒ overlapping windows) — the
    * training-prep step between curation and packing. The generator input
    * is ONLY the chunk-index sequence (the repo rule: never an expensive
    * expression ahead of explode — the slice+join runs once per OUTPUT
    * row, after the generate). Pure map stage: no shuffle, scales with
    * input splits. */
  def chunkDocuments(docs: DataFrame, chunkTokens: Int, stride: Int,
      idCol: String = "doc_id", textCol: String = "text",
      carryCols: Seq[String] = Nil): DataFrame = {
    require(chunkTokens >= 1 && stride >= 1, "chunkTokens and stride must be >= 1")
    val carried = carryCols.map(col)
    docs
      .select(col(idCol) +: TextOps.tokens(col(textCol)).as("t") +: carried: _*)
      .withColumn("n", size(col("t")))
      .select(col(idCol) +: col("t") +:
        explode(sequence(lit(0L), expr(s"(n + $stride - 1) div $stride - 1"))).as("chunk_id") +:
        carried: _*)
      .select(col(idCol) +: col("chunk_id") +:
        concat_ws(" ", expr(s"slice(t, chunk_id * $stride + 1, $chunkTokens)")).as("chunk") +:
        size(expr(s"slice(t, chunk_id * $stride + 1, $chunkTokens)")).as("n_chunk_tokens") +:
        carried: _*)
  }

  /** BPE merge training — the second tokenizer-training primitive (after
    * [[buildVocab]]): `iterations` rounds of (count adjacent token pairs
    * corpus-wide → adopt the most frequent pair as a merge → rewrite every
    * document with that pair fused, leftmost-greedy). Returns the learned
    * merge list and the rewritten token arrays.
    *
    * Distribution shape per round: pair counting is explode → partial-agg
    * → ONE TakeOrdered(1) (the Zipf head collapses map-side; ties break on
    * (w1, w2) so every engine learns the same merge); the single winning
    * pair — a model parameter, like IVF centroids — is the only thing that
    * ever reaches the driver. The rewrite is a row-local left fold
    * (leftmost-greedy: a merged token can never re-match w1 in the same
    * round), zero shuffle. At scale, persist `t` between rounds to keep
    * the plan bounded; at gate iteration counts the fused lineage is fine.
    */
  def bpeTrain(docs: DataFrame, iterations: Int,
      textCol: String = "text"): (Seq[(String, String)], DataFrame) = {
    var cur = docs.select(col("doc_id"), TextOps.tokens(col(textCol)).as("t"))
    val merges = scala.collection.mutable.ArrayBuffer[(String, String)]()
    for (_ <- 0 until iterations) {
      val pairsCol = when(size(col("t")) < 2,
          array().cast("array<struct<w1:string,w2:string>>"))
        .otherwise(transform(sequence(lit(1), size(col("t")) - 1),
          i => struct(element_at(col("t"), i).as("w1"),
            element_at(col("t"), i + 1).as("w2"))))
      val top = cur.select(explode(pairsCol).as("p"))
        .groupBy(col("p.w1").as("w1"), col("p.w2").as("w2"))
        .agg(count(lit(1)).as("c"))
        .orderBy(desc("c"), asc("w1"), asc("w2"))
        .limit(1).collect()
      if (top.nonEmpty) {
        val (w1, w2) = (top(0).getString(0), top(0).getString(1))
        merges += ((w1, w2))
        // checkpoint per round: round k's census otherwise RE-RUNS all k-1
        // earlier rewrite folds over the corpus (interpreted HOFs — the
        // expensive part), turning training quadratic in iterations
        // (measured 6.8 s → 4.7 s for 3 rounds at sf0.1)
        val prev = cur
        cur = cur.select(col("doc_id"), applyMerge(col("t"), w1, w2).as("t"))
          .cutLineage()
        graft.core.Lineage.release(prev) // round k−1's corpus blocks dead
      }
    }
    (merges.toSeq, cur)
  }

  /** One leftmost-greedy merge pass over a token array — a row-local fold
    * (a token emitted by a merge can never re-match `w1` in the same pass,
    * because the fold's accumulator tail is the fused pair, not `w1`). */
  private def applyMerge(toks: Column, w1: String, w2: String): Column =
    aggregate(toks, array().cast("array<string>"), (acc, x) =>
      when(size(acc) > 0 && element_at(acc, -1) === lit(w1) && x === lit(w2),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(w1 + " " + w2))))
        .otherwise(concat(acc, array(x))))

  /** BPE ENCODE: apply an already-learned merge list (from [[bpeTrain]],
    * or any external tokenizer dump) to a corpus, in merge order — the
    * inference half of the tokenizer. Pure map stage: zero shuffle, zero
    * driver round-trips. The merge list rides as ONE plan literal inside
    * [[graft.expressions.BpeEncodeExpr]] (compiled to a pair→rank table
    * once per task from the broadcast task binary), so a 10⁴-merge
    * production vocabulary encodes in a single linked-list sweep per row
    * instead of 10⁴ chained interpreted HOF passes. Semantics are
    * EXACTLY the in-order leftmost-greedy fold ([[bpeEncodeFold]] is the
    * retained reference twin; CurationSpec pins parity, gate q123 pins
    * the expression against a DuckDB replay of the pass chain). */
  def bpeEncode(docs: DataFrame, merges: Seq[(String, String)],
      textCol: String = "text"): DataFrame =
    docs.select(col("doc_id"),
      graft.expressions.BpeEncodeExpr.encode(TextOps.tokens(col(textCol)), merges).as("t"))

  /** Reference twin of [[bpeEncode]]: `merges.length` chained
    * leftmost-greedy folds — the executable statement of the encode
    * semantics, kept for the parity spec (its per-merge plan depth makes
    * it the wrong shape for production vocabularies). */
  private[graft] def bpeEncodeFold(docs: DataFrame, merges: Seq[(String, String)],
      textCol: String = "text"): DataFrame =
    merges.foldLeft(docs.select(col("doc_id"), TextOps.tokens(col(textCol)).as("t"))) {
      case (df, (w1, w2)) => df.select(col("doc_id"), applyMerge(col("t"), w1, w2).as("t"))
    }

  /** DuckDB replay of one [[bpeTrain]] round for the q94 oracle: the fold's
    * leftmost-greedy merge is equivalent to "merge every candidate position
    * whose offset in its run of w1-tokens is even when w1 = w2, and every
    * candidate otherwise" (adjacent candidates require w1 = w2), spelled
    * with gaps-and-islands windows. tok{k} → tok{k+1}. */
  private def bpeIterSql(k: Int): String = s"""
    |pc$k AS (
    |  SELECT s.w1 AS w1, s.w2 AS w2, count(*) AS c
    |  FROM (SELECT unnest([{'w1': t[i], 'w2': t[i+1]}
    |                       for i in range(1, greatest(len(t), 1))]) AS s FROM tok$k)
    |  GROUP BY 1, 2),
    |-- coalesce to an unmatchable sentinel (chr(1) cannot appear in a
    |-- token) so an exhausted-pairs round is an IDENTITY rewrite, matching
    |-- bpeTrain's skip — a bare LIMIT 1 would go EMPTY and the cross join
    |-- below would delete every document from the oracle output
    |top$k AS (
    |  SELECT
    |    coalesce((SELECT w1 FROM pc$k ORDER BY c DESC, w1, w2 LIMIT 1), chr(1)) AS w1,
    |    coalesce((SELECT w2 FROM pc$k ORDER BY c DESC, w1, w2 LIMIT 1), chr(1)) AS w2),""".stripMargin +
    bpeRewriteSql(k)

  /** The ENCODE-side oracle round: same rewrite chain, but the merge pair
    * is a LITERAL (an already-learned merge being applied) instead of the
    * round's learned census winner — the DuckDB replay of one
    * [[bpeEncode]] pass. */
  private def bpeApplySql(k: Int, w1: String, w2: String): String = {
    def lit(s: String) = "'" + s.replace("'", "''") + "'"
    s"""
    |top$k AS (SELECT ${lit(w1)} AS w1, ${lit(w2)} AS w2),""".stripMargin +
      bpeRewriteSql(k)
  }

  /** One leftmost-greedy merge pass tok{k} → tok{k+1}, expecting `top$$k`
    * (the pair to fuse) already defined. Gaps-and-islands spelling of the
    * fold: merge every candidate whose offset in its run of w1-tokens is
    * even when w1 = w2, and every candidate otherwise. */
  private def bpeRewriteSql(k: Int): String = s"""
    |pos$k AS (
    |  SELECT doc_id, s.i AS i, s.tok AS tok, s.cand AS cand, s.isw1 AS isw1,
    |         tp.w1 AS w1, tp.w2 AS w2
    |  FROM (SELECT doc_id,
    |          unnest([{'i': i, 'tok': t[i],
    |                   'cand': CASE WHEN i < len(t) AND t[i] = tp.w1 AND t[i+1] = tp.w2
    |                           THEN 1 ELSE 0 END,
    |                   'isw1': CASE WHEN t[i] = tp.w1 THEN 1 ELSE 0 END}
    |                  for i in range(1, len(t) + 1)]) AS s
    |        FROM tok$k, top$k tp), top$k tp),
    |isl$k AS (
    |  SELECT *, i - row_number() OVER (PARTITION BY doc_id, isw1 ORDER BY i) AS island
    |  FROM pos$k),
    |off$k AS (
    |  SELECT *, i - min(i) OVER (PARTITION BY doc_id, isw1, island) AS off
    |  FROM isl$k),
    |mg$k AS (
    |  SELECT *, CASE WHEN cand = 1 AND (w1 <> w2 OR off % 2 = 0) THEN 1 ELSE 0 END AS m
    |  FROM off$k),
    |em$k AS (
    |  SELECT *, coalesce(lag(m) OVER (PARTITION BY doc_id ORDER BY i), 0) AS consumed
    |  FROM mg$k),
    |tok${k + 1} AS (
    |  SELECT doc_id,
    |    list(CASE WHEN m = 1 THEN w1 || ' ' || w2 WHEN consumed = 0 THEN tok END ORDER BY i)
    |      FILTER (CASE WHEN m = 1 THEN w1 || ' ' || w2 WHEN consumed = 0 THEN tok END IS NOT NULL) AS t
    |  FROM em$k GROUP BY doc_id)""".stripMargin

  private[graft] def bpeOracle(iterations: Int): String =
    "WITH tok0 AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents)," +
      (0 until iterations).map(bpeIterSql).mkString(",") +
      s"\nSELECT doc_id, len(t) AS n_after, array_to_string(t, chr(1)) AS toks" +
      s" FROM tok$iterations ORDER BY doc_id"

  /** DuckDB replay of [[bpeEncode]] with a fixed merge list: one literal
    * rewrite pass per merge, chained in list order — certifying the
    * single-sweep expression against the executable pass-chain semantics. */
  private[graft] def bpeEncodeOracle(merges: Seq[(String, String)]): String =
    "WITH tok0 AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents)," +
      merges.zipWithIndex.map { case ((w1, w2), k) => bpeApplySql(k, w1, w2) }.mkString(",") +
      s"\nSELECT doc_id, len(t) AS n_after, array_to_string(t, chr(1)) AS toks" +
      s" FROM tok${merges.length} ORDER BY doc_id"

  /** Gate q123's fixed merge list: pairs over the synthetic corpus's
    * closed vocabulary so real fuses happen at any scale factor, plus a
    * w1 = w2 pair (the even-offset run rule) and three merges whose LEFT
    * token is itself merge 0's output — only reachable through the
    * in-order cascade (rank-0 fuses must queue their created adjacencies
    * into the later ranks). */
  private[graft] val EncodeMerges: Seq[(String, String)] = Seq(
    ("table", "hash"), ("a", "a"),
    ("table hash", "part"), ("table hash", "scan"), ("table hash", "table"))

  /** Per-source BPE compression census — the tokenizer-fit audit: how
    * much each source's token stream shrinks under a merge list. A
    * source that barely compresses speaks a different distribution than
    * the merges were trained on (code vs prose, another language) and
    * inflates its token bill. One pass of the native single-sweep
    * encode ([[graft.expressions.BpeEncodeExpr]] — plan-literal merges,
    * no shuffle), then a per-source partial agg; the ratio is a
    * quantized exact rational of two long sums. */
  def bpeCompressionCensus(docs: DataFrame,
      merges: Seq[(String, String)]): DataFrame = {
    docs.select(col("source"),
        TextOps.tokenCount(col("text")).cast("long").as("before"),
        size(graft.expressions.BpeEncodeExpr.encode(
          TextOps.tokens(col("text")), merges)).cast("long").as("after"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("before")).as("tok_before"),
        sum(col("after")).as("tok_after"))
      .select(col("source"), col("n_docs"), col("tok_before"), col("tok_after"),
        (floor(col("tok_after").cast("double") / col("tok_before").cast("double")
          * 1e6 + lit(0.5)) / 1e6).as("compression"))
      .orderBy(col("source"))
  }

  /** q219 oracle: the q123 chained rewrite passes aggregated per source. */
  private def bpeCompressionOracle(merges: Seq[(String, String)]): String =
    "WITH tok0 AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents)," +
      merges.zipWithIndex.map { case ((w1, w2), k) => bpeApplySql(k, w1, w2) }
        .mkString(",") +
      s"""
       |, fin AS (SELECT doc_id, len(t) AS after FROM tok${merges.length}),
       |base AS (
       |  SELECT doc_id, source,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS before
       |  FROM documents),
       |agg AS (
       |  SELECT b.source, CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(b.before) AS BIGINT) AS tok_before,
       |    CAST(sum(f.after) AS BIGINT) AS tok_after
       |  FROM base b JOIN fin f USING (doc_id)
       |  GROUP BY 1)
       |SELECT source, n_docs, tok_before, tok_after,
       |  floor(CAST(tok_after AS DOUBLE) / CAST(tok_before AS DOUBLE)
       |    * 1e6 + 0.5) / 1e6 AS compression
       |FROM agg ORDER BY source""".stripMargin

  /** Per-domain quality calibration (q115): within-source percent_rank /
    * cume_dist of the quantized quality score, WITHOUT a per-source window
    * (r12) — a percent_rank window over the corpus funnels
    * corpus/n_sources rows into each window task, so with a handful of
    * sources EVERY task is corpus-sized (the q89 hot-key hazard as a
    * uniform funnel, and a planted mega-source makes one task HALF the
    * corpus). Instead the (source, quality) CENSUS carries the ranks:
    * quality is quantized, so the census is vocabulary-sized, its
    * per-source running sum is a census-sized window, and docs join their
    * percentile back on (source, quality) — a composite key AQE can
    * skew-split, unlike a window partition (witnessed r13,
    * RankCalibScale at 94bd464: one planted source holding half a 320k-doc corpus —
    * see SCALING §R13 for the task census in both the broadcast join-back
    * and the forced-SMJ form). percent_rank = (rank−1)/(n−1) with
    * rank = n_< + 1 = cum − c + 1, cume_dist = cum/n — divisions of
    * identical integers on identical quantized quality values → bit-equal
    * doubles against the oracle's window form, tie semantics included
    * (every row of a tie group gets the group's min rank = cum − c + 1).
    * The projected (doc_id, source, quality) frame is cut (materialized)
    * so the census branch and the join-back branch read it once — without
    * the cut each branch would scan + re-score the corpus. */
  def rankCalibration(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = docs
      .select(col("doc_id"), col("source"),
        TextOps.qualityScore(col("text")).as("quality"))
      .cutLineage()
    val census = q.groupBy(col("source"), col("quality"))
      .agg(count(col("doc_id")).as("c"))
    val wc = Window.partitionBy(col("source")).orderBy(col("quality"))
    val wall = Window.partitionBy(col("source"))
    val ranked = census
      .withColumn("cum", sum(col("c")).over(wc))
      .withColumn("n", sum(col("c")).over(wall))
      .select(col("source"), col("quality"),
        when(col("n") === 1, lit(0.0)).otherwise(
          (col("cum") - col("c")).cast("double") /
            (col("n") - 1).cast("double")).as("pr"),
        (col("cum").cast("double") / col("n").cast("double")).as("cd"))
    q.join(ranked, Seq("source", "quality"))
      .select(col("doc_id"), col("source"), col("quality"),
        col("pr"), col("cd"))
  }

  val defs: Seq[QueryDef] = Seq(

    // ---- q69: per-domain frequency capping ---------------------------------
    // Keep the 10 best-quality documents per source domain. The window's
    // (quality DESC, doc_id) ordering is total, so row_number is
    // deterministic on both engines; quality is the floor-quantized q41
    // expression, proven hash-identical cross-engine.
    QueryDef(
      "q69_domain_cap",
      (s, d) => capPerDomain(Tables.documents(s, d), "source", 10)
        .select(col("source"), col("rk"), col("doc_id"), col("quality"))
        .orderBy(col("source"), col("rk")),
      Some(s"""WITH t AS (
             |  $QualityCte),
             |r AS (SELECT source, doc_id, quality,
             |        row_number() OVER (PARTITION BY source ORDER BY quality DESC, doc_id) AS rk
             |      FROM t)
             |SELECT source, rk, doc_id, quality FROM r WHERE rk <= 10
             |ORDER BY source, rk""".stripMargin)),

    // ---- q115: per-domain quality calibration (rank normalization) ---------
    // Raw quality scores are not comparable across domains (a mid-tier
    // academic page outscores a top-tier forum post), so mixture policies
    // threshold the WITHIN-DOMAIN percentile, not the raw score — the
    // rank-normalization step of curation pipelines. Shape rationale
    // (census-carried ranks instead of a per-source window, bit-equal
    // division argument, skew witness): [[rankCalibration]].
    QueryDef(
      "q115_quality_calibration",
      (s, d) => rankCalibration(Tables.documents(s, d)).orderBy(col("doc_id")),
      Some(s"""WITH t AS (
             |  $QualityCte)
             |SELECT doc_id, source, quality,
             |  percent_rank() OVER (PARTITION BY source ORDER BY quality) AS pr,
             |  cume_dist() OVER (PARTITION BY source ORDER BY quality) AS cd
             |FROM t ORDER BY doc_id""".stripMargin)),

    // ---- q117: deterministic train/val/test split --------------------------
    // 80/10/10 by md5 per-mille bucket of doc_id; the oracle replays the
    // hash and the range boundaries, so every per-id assignment (not just
    // the counts) is pinned — the output lists each split's size and id
    // checksum.
    QueryDef(
      "q117_dataset_split",
      (s, d) => assignSplit(Tables.documents(s, d), "doc_id", 800, 100)
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("id_sum"))
        .orderBy(col("split")),
      Some("""WITH s AS (
             |  SELECT doc_id,
             |    CASE WHEN b < 800 THEN 'train'
             |         WHEN b < 900 THEN 'val'
             |         ELSE 'test' END AS split
             |  FROM (SELECT doc_id,
             |          CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
             |            % 1000 AS b
             |        FROM documents))
             |SELECT split, CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(doc_id) AS BIGINT) AS id_sum
             |FROM s GROUP BY split ORDER BY split""".stripMargin)),

    // ---- q132: dataset card (per-slice release statistics) -----------------
    QueryDef(
      "q132_dataset_card",
      (s, dir) => datasetCard(Tables.documents(s, dir)),
      Some(s"""WITH t AS (
             |  SELECT source, lang,
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok,
             |    md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp,
             |    $QualitySql AS q
             |  FROM (SELECT *,
             |          CAST(len(string_split(text, ' ')) AS DOUBLE) AS n,
             |          CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) AS nd
             |        FROM documents))
             |SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(sum(ntok) AS BIGINT) AS n_tokens,
             |  CAST(count(*) - count(DISTINCT fp) AS BIGINT) AS n_exact_dups,
             |  round(avg(q), 4) AS mean_quality
             |FROM t GROUP BY ROLLUP(source, lang)
             |ORDER BY source ASC NULLS FIRST, lang ASC NULLS FIRST""".stripMargin)),

    // ---- q125: train/val token-distribution drift --------------------------
    // Top tokens by |p_train − p_val| over q117's split assignment — the
    // oracle replays the md5 per-mille split, both censuses, and the raw
    // IEEE divisions (exact-integer inputs ⇒ bit-identical doubles, no
    // rounding — the same contract as q115's percent_rank).
    QueryDef(
      "q125_split_drift",
      (s, dir) => splitDrift(Tables.documents(s, dir), topK = 25),
      Some("""WITH s AS (
             |  SELECT text,
             |    CASE WHEN b < 800 THEN 'train'
             |         WHEN b < 900 THEN 'val'
             |         ELSE 'test' END AS split
             |  FROM (SELECT text,
             |          CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
             |            % 1000 AS b
             |        FROM documents)
             |  WHERE b < 900),
             |f AS (SELECT split, unnest(string_split(text, ' ')) AS token FROM s),
             |tot AS (SELECT
             |    sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS t_train,
             |    sum(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS t_val
             |  FROM f),
             |c AS (SELECT token,
             |    CAST(sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS cnt_train,
             |    CAST(sum(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS BIGINT) AS cnt_val
             |  FROM f GROUP BY 1)
             |SELECT token, cnt_train, cnt_val,
             |  CAST(cnt_train AS DOUBLE) / CAST(t_train AS DOUBLE) AS p_train,
             |  CAST(cnt_val AS DOUBLE) / CAST(t_val AS DOUBLE) AS p_val,
             |  abs(CAST(cnt_train AS DOUBLE) / CAST(t_train AS DOUBLE)
             |      - CAST(cnt_val AS DOUBLE) / CAST(t_val AS DOUBLE)) AS abs_diff
             |FROM c, tot
             |ORDER BY abs_diff DESC, token LIMIT 25""".stripMargin)),

    // ---- q70: composite quality filter -------------------------------------
    QueryDef(
      "q70_quality_filter",
      (s, d) => qualityFilter(Tables.documents(s, d)).orderBy(col("doc_id")),
      Some("""WITH t AS (
             |  SELECT doc_id,
             |    len(string_split(text, ' ')) AS n,
             |    len(list_distinct(string_split(text, ' '))) AS nd,
             |    length(text) - (len(string_split(text, ' ')) - 1) AS alpha,
             |    len(list_filter(string_split(text, ' '), w -> w IN ('the', 'a'))) AS stop
             |  FROM documents)
             |SELECT doc_id, n AS n_tokens, nd AS n_distinct
             |FROM t
             |WHERE n BETWEEN 20 AND 80
             |  AND nd * 10 >= n * 3
             |  AND alpha >= n * 2 AND alpha <= n * 8
             |  AND stop >= 1
             |ORDER BY doc_id""".stripMargin)),

    // ---- q71: incremental dedup vs a reference corpus ----------------------
    // Reference = doc_id ≡ 0 (mod 10) (the "already trained on" split);
    // incoming = the rest. Output is the exact set of incoming docs whose
    // canonical fingerprint does not appear in the reference — the Bloom
    // filter only decides which rows may skip verification, so the oracle
    // is a plain anti-join with no probabilistic term.
    QueryDef(
      "q71_bloom_refdedup",
      (s, d) => {
        val fps = Tables.documents(s, d)
          .select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))
        val ref = fps.filter(col("doc_id") % 10 === 0).select(col("fp"))
        val incoming = fps.filter(col("doc_id") % 10 =!= 0)
        bloomReferenceDedup(incoming, ref, "fp", expectedItems = 1000L, fpp = 0.03)
          .select(col("doc_id"), col("fp"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH f AS (
             |  SELECT doc_id,
             |    md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
             |  FROM documents)
             |SELECT doc_id, fp FROM f
             |WHERE doc_id % 10 <> 0
             |  AND fp NOT IN (SELECT fp FROM f WHERE doc_id % 10 = 0)
             |ORDER BY doc_id""".stripMargin)),

    // ---- q72: deterministic stratified sampling ----------------------------
    // Downsample dominant 'en' to 10%, keep 50% of every other language —
    // corpus rebalancing as pure arithmetic both engines replay exactly.
    QueryDef(
      "q72_stratified_sample",
      (s, d) => stratifiedSample(Tables.documents(s, d), "lang",
          Map("en" -> 100, "de" -> 500, "es" -> 500, "fr" -> 500, "zh" -> 500))
        .select(col("doc_id"), col("lang"), col("bucket"))
        .orderBy(col("doc_id")),
      Some("""WITH b AS (
             |  SELECT doc_id, lang,
             |    ((((((doc_id % 2147483648) + 2147483648) % 2147483648)
             |       * 2654435761) % 4294967296) * 1000) // 4294967296 AS bucket
             |  FROM documents)
             |SELECT doc_id, lang, bucket FROM b
             |WHERE bucket < CASE WHEN lang = 'en' THEN 100 ELSE 500 END
             |ORDER BY doc_id""".stripMargin)),

    // ---- q73: sequence packing by token budget -----------------------------
    // Oracle CASTs: DuckDB sum()/`//` return HUGEINT, which pandas widens
    // to float64 — the official checker's hash is dtype-sensitive, so an
    // un-cast oracle fails against Spark's int64 even when every value
    // matches (r4 red row). CAST AS BIGINT on every sum()///-derived column.
    QueryDef(
      "q73_pack_sequences",
      (s, d) => packSequences(Tables.documents(s, d), "source", budget = 256)
        .groupBy(col("source"), col("bin"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("n_tokens"))
        .orderBy(col("source"), col("bin")),
      Some("""WITH t AS (
             |  SELECT doc_id, source, len(string_split(text, ' ')) AS n
             |  FROM documents),
             |c AS (SELECT source, n,
             |        sum(n) OVER (PARTITION BY source ORDER BY doc_id
             |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
             |      FROM t)
             |SELECT source, CAST((cum - n) // 256 AS BIGINT) AS bin,
             |  count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS n_tokens
             |FROM c GROUP BY 1, 2 ORDER BY source, bin""".stripMargin)),

    // ---- q74: int8 embedding quantization ----------------------------------
    // Gate output is SCALAR-ONLY: the official checker sorts outputs with
    // pandas sort_values, which crashes on ndarray cells, so the qvec array
    // is serialized to a comma-joined string on BOTH sides (exact for
    // integers — no float formatting involved). quantizeInt8 itself keeps
    // the typed array API.
    QueryDef(
      "q74_embed_quantize",
      (s, d) => quantizeInt8(Tables.embeddings(s, d), "embedding")
        .select(col("vec_id"), col("scale_q"),
          array_join(transform(col("qvec"), _.cast("string")), ",").as("qvec"))
        .orderBy(col("vec_id")),
      Some("""WITH t AS (
             |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
             |  FROM embeddings),
             |m AS (SELECT vec_id, v,
             |        list_max(list_transform(v, x -> abs(x))) AS mx FROM t),
             |s AS (SELECT vec_id, v,
             |        CASE WHEN mx = 0 THEN 0.0 ELSE 127.0 / mx END AS scale FROM m)
             |SELECT vec_id,
             |  CAST(floor(scale * 1e6 + 0.5) AS BIGINT) AS scale_q,
             |  array_to_string(list_transform(v, x ->
             |    CAST(greatest(-127, least(127, CAST(floor(x * scale + 0.5) AS BIGINT))) AS VARCHAR)), ',') AS qvec
             |FROM s ORDER BY vec_id""".stripMargin)),

    // ---- q75: quality-based cluster representatives ------------------------
    // The dedup RETENTION POLICY: for every near-dup cluster (q66's
    // connected components), keep the highest-quality member (doc_id
    // tiebreak) instead of the arbitrary min-id. The argmax is a min_by
    // over the ordering struct (−quality, member_id) — a partial-agg
    // aggregate, NOT a row_number window: the window form had no rank
    // FILTER (the rank fed a CASE inside a later groupBy), so Spark's
    // WindowGroupLimit could not prune it and a mega-cluster (the
    // boilerplate family near-dup CCs produce at 100 TB) would buffer in
    // ONE window task (the q89 hot-key rule, r12). −quality is an exact
    // double negation (quantized rationals, no NaN), and the ordering is
    // total (member_id unique), so both min_by calls pick the same row.
    // Oracle = q66's recursive reachability CTE + a windowed argmax
    // (DuckDB replays the same total order at oracle scale).
    QueryDef(
      "q75_cluster_best",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val pairs = Dedup.minhashLshPairs(docs, 4, 5).select(col("a_id"), col("b_id"))
        val cc = Dedup.connectedComponents(pairs)
          .select(col("label").as("rep_id"), col("node").as("member_id"))
        val q = docs.select(col("doc_id"), quality.as("quality"))
        val ord = struct((col("quality") * lit(-1.0)).as("nq"),
          col("member_id").as("mid"))
        cc.join(q, cc("member_id") === q("doc_id"))
          .groupBy(col("rep_id"))
          .agg(count(lit(1)).as("n_members"),
            min_by(col("member_id"), ord).as("best_doc_id"),
            min_by(col("quality"), ord).as("best_quality"))
          .orderBy(col("rep_id"))
      },
      Some(s"""WITH RECURSIVE sh AS (
             |  SELECT doc_id,
             |    list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
             |                   for i in range(1, greatest(len(t) - 1, 1))]) AS sh
             |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
             |  WHERE len(t) >= 3),
             |inv AS (SELECT doc_id, unnest(sh) AS g FROM sh),
             |cd AS (
             |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
             |  FROM inv a JOIN inv b ON a.g = b.g AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2),
             |sz AS (SELECT doc_id, len(sh) AS n FROM sh),
             |pairs AS (
             |  SELECT c.a_id, c.b_id
             |  FROM cd c
             |  JOIN sz sa ON sa.doc_id = c.a_id
             |  JOIN sz sb ON sb.doc_id = c.b_id
             |  WHERE c.inter * 5 >= (sa.n + sb.n - c.inter) * 4),
             |e AS (SELECT a_id AS u, b_id AS v FROM pairs
             |      UNION ALL SELECT b_id, a_id FROM pairs),
             |reach(src, node) AS (
             |  SELECT u, u FROM e
             |  UNION
             |  SELECT r.src, e.v FROM reach r JOIN e ON e.u = r.node),
             |lab AS (SELECT src AS member_id, min(node) AS rep_id
             |        FROM reach GROUP BY src),
             |q AS (
             |  SELECT doc_id, $QualitySql AS quality
             |  FROM (SELECT *,
             |          CAST(len(string_split(text, ' ')) AS DOUBLE) AS n,
             |          CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) AS nd
             |        FROM documents)),
             |j AS (
             |  SELECT l.rep_id, l.member_id, q.quality,
             |    row_number() OVER (PARTITION BY l.rep_id
             |                       ORDER BY q.quality DESC, l.member_id) AS rk
             |  FROM lab l JOIN q ON q.doc_id = l.member_id)
             |SELECT rep_id, count(*) AS n_members,
             |  min(CASE WHEN rk = 1 THEN member_id END) AS best_doc_id,
             |  min(CASE WHEN rk = 1 THEN quality END) AS best_quality
             |FROM j GROUP BY rep_id ORDER BY rep_id""".stripMargin)),

    // ---- q78: target-mixture resampling ------------------------------------
    // Rebalance toward a 50% en / 12.5%-each mixture with a 300-doc budget.
    // The oracle derives the same integer per-mille rate from a windowed
    // stratum census and replays the multiplicative-hash bucket.
    QueryDef(
      "q78_mixture_resample",
      (s, d) => mixtureResample(Tables.documents(s, d), "lang",
          Map("en" -> 500, "de" -> 125, "es" -> 125, "fr" -> 125, "zh" -> 125),
          budget = 300L)
        .select(col("doc_id"), col("lang"), col("n_s"), col("rate_pm"), col("bucket"))
        .orderBy(col("doc_id")),
      Some("""WITH n AS (
             |  SELECT doc_id, lang, count(*) OVER (PARTITION BY lang) AS n_s
             |  FROM documents),
             |b AS (
             |  SELECT doc_id, lang, n_s,
             |    least(1000, (300 * CASE WHEN lang = 'en' THEN 500 ELSE 125 END) // n_s) AS rate_pm,
             |    ((((((doc_id % 2147483648) + 2147483648) % 2147483648)
             |       * 2654435761) % 4294967296) * 1000) // 4294967296 AS bucket
             |  FROM n)
             |SELECT doc_id, lang, n_s, rate_pm, bucket FROM b
             |WHERE bucket < rate_pm
             |ORDER BY doc_id""".stripMargin)),

    // ---- q80: deterministic global shuffle ---------------------------------
    QueryDef(
      "q80_global_shuffle",
      (s, d) => globalShuffle(Tables.documents(s, d), shards = 8)
        .select(col("shard"), col("pos"), col("doc_id"))
        .orderBy(col("shard"), col("pos")),
      Some("""WITH h AS (
             |  SELECT doc_id,
             |    ((((doc_id % 2147483648) + 2147483648) % 2147483648)
             |     * 2654435761) % 4294967296 AS h
             |  FROM documents),
             |s AS (
             |  SELECT doc_id, h, h % 8 AS shard FROM h)
             |SELECT shard,
             |  row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) AS pos,
             |  doc_id
             |FROM s ORDER BY shard, pos""".stripMargin)),

    // ---- q131: uniform hash-ring negative sampling -------------------------
    // 3 negatives per anchor off the q80 ring; the oracle replays the
    // hash, the per-shard positions, and the modular wrap.
    QueryDef(
      "q131_ring_negatives",
      (s, d) => ringNegatives(Tables.documents(s, d), k = 3, shards = 8),
      Some("""WITH h AS (
             |  SELECT doc_id,
             |    ((((doc_id % 2147483648) + 2147483648) % 2147483648)
             |     * 2654435761) % 4294967296 AS h
             |  FROM documents),
             |ring AS (
             |  SELECT doc_id, h % 8 AS shard,
             |    row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id) AS pos
             |  FROM h),
             |sz AS (SELECT shard, count(*) AS sn FROM ring GROUP BY 1),
             |a AS (
             |  SELECT ring.doc_id AS a_id, ring.shard, ring.pos, sz.sn,
             |    unnest([1, 2, 3]) AS j
             |  FROM ring JOIN sz ON sz.shard = ring.shard),
             |t AS (
             |  SELECT a_id, shard, j, (pos + j - 1) % sn + 1 AS tpos FROM a)
             |SELECT t.a_id, t.j AS rank, r2.doc_id AS b_id
             |FROM t JOIN ring r2 ON r2.shard = t.shard AND r2.pos = t.tpos
             |WHERE t.a_id != r2.doc_id
             |ORDER BY a_id, rank""".stripMargin)),

    // ---- q81: vocabulary census (tokenizer training) -----------------------
    QueryDef(
      "q81_vocab_census",
      (s, d) => buildVocab(Tables.documents(s, d), topK = 30)
        .orderBy(col("rank")),
      Some("""WITH f AS (
             |  SELECT unnest(string_split(text, ' ')) AS token FROM documents),
             |c AS (SELECT token, count(*) AS freq FROM f GROUP BY 1)
             |SELECT row_number() OVER (ORDER BY freq DESC, token) AS rank,
             |  token, freq
             |FROM c ORDER BY freq DESC, token LIMIT 30""".stripMargin)),

    // ---- q84: context-window chunking --------------------------------------
    // 32-token windows on a 24-token stride (8-token overlap). The oracle
    // unnests the same index grid and slices the same token array — chunk
    // text compares as exact strings.
    QueryDef(
      "q84_chunk_windows",
      (s, d) => chunkDocuments(Tables.documents(s, d), chunkTokens = 32, stride = 24)
        .orderBy(col("doc_id"), col("chunk_id")),
      Some("""WITH t AS (
             |  SELECT doc_id, string_split(text, ' ') AS t,
             |    len(string_split(text, ' ')) AS n
             |  FROM documents),
             |c AS (
             |  SELECT doc_id, t, n,
             |    unnest(range(0, (n + 23) // 24)) AS chunk_id
             |  FROM t)
             |SELECT doc_id, chunk_id,
             |  array_to_string(t[(chunk_id * 24 + 1):least(chunk_id * 24 + 32, n)], ' ') AS chunk,
             |  least(chunk_id * 24 + 32, n) - chunk_id * 24 AS n_chunk_tokens
             |FROM c ORDER BY doc_id, chunk_id""".stripMargin)),

    // ---- q94: BPE merge training (3 rounds, oracle replays training) -------
    // The oracle re-learns the same 3 merges from the corpus (count ties
    // break on (w1, w2) in both engines) and replays the leftmost-greedy
    // rewrite via the windowed run-parity formulation — so the gate checks
    // the LEARNED MODEL and the rewritten corpus, not just plumbing.
    // Gate output is scalar-only (driver sort_values crashes on ndarray
    // cells): the token array serializes through chr(1), which cannot
    // appear inside a token (merged tokens contain ' ', so space would be
    // ambiguous; the  join is injective given n_after).
    QueryDef(
      "q94_bpe_merges",
      (s, d) => {
        val (_, toks) = bpeTrain(Tables.documents(s, d), iterations = 3)
        toks.select(col("doc_id"), size(col("t")).as("n_after"),
            array_join(col("t"), "\u0001").as("toks"))
          .orderBy(col("doc_id"))
      },
      Some(bpeOracle(3))),

    // ---- q123: BPE encode via the single-sweep rank-table expression -------
    // Applies a FIXED five-merge list (including w1=w2 and three cascade
    // merges whose left token is merge 0's output) through
    // BpeEncodeExpr's one-pass linked-list sweep; the oracle replays the
    // same list as five chained literal gaps-and-islands rewrite passes —
    // certifying that the sweep is value-equal to in-order leftmost-greedy
    // pass semantics on the real corpus, not just on planted spec rows.
    QueryDef(
      "q123_bpe_encode",
      (s, d) => bpeEncode(Tables.documents(s, d), EncodeMerges)
        .select(col("doc_id"), size(col("t")).as("n_after"),
          array_join(col("t"), "\u0001").as("toks"))
        .orderBy(col("doc_id")),
      Some(bpeEncodeOracle(EncodeMerges))),

    // ---- q219: per-source BPE compression census ---------------------------
    // The q123 encode aggregated per source; the oracle chains the same
    // literal rewrite passes into a per-source census.
    QueryDef(
      "q219_bpe_compression",
      (s, d) => bpeCompressionCensus(Tables.documents(s, d), EncodeMerges),
      Some(bpeCompressionOracle(EncodeMerges))),
  )
}
