package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.Lineage
import graft.core.Lineage.CutOps
import graft.functions.{TextOps, VectorOps}

/** Reference twins of operator internals: the earlier distributed or HOF
  * spellings that production code replaced with native expressions or
  * driver-side arithmetic. Kept only so parity specs (DedupSpec, FuzzySpec,
  * SimilaritySpec) can check the production spelling against them. */
object OperatorTwins {

  /** The r1–r12 windowed spelling of [[graft.operators.Dedup.cdcChunks]] —
    * the cross-check twin for the native expression (DedupSpec pins
    * chunk-set equality per doc; cid is a per-doc running index in both,
    * off by the first token's boundary flag, which no consumer reads). */
  def cdcChunksWindowed(docs: DataFrame, modulus: Int): DataFrame = {
    require(modulus >= 2, s"bad cdc modulus $modulus")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    val bnd = (conv(substring(md5(col("tok")), 1, 8), 16, 10).cast("long")
      % modulus === 0).cast("int")
    docs.select(col("doc_id"), posexplode(TextOps.tokens(col("text"))).as(Seq("pos", "tok")))
      .withColumn("cid", sum(bnd).over(w))
      .groupBy(col("doc_id"), col("cid"))
      .agg(concat_ws(" ", transform(
        array_sort(collect_list(struct(col("pos"), col("tok")))),
        t => t.getField("tok"))).as("chunk"))
  }

  /** HOF spelling of [[graft.operators.Fuzzy.deletionVariants]] (the
    * pre-r13 production form). Empty-range `sequence` guards matter:
    * `sequence(1, 0)` counts DOWN, not empty. */
  def deletionVariantsHof(s: Column, d: Int): Column = {
    require(d >= 1 && d <= 2, s"supported d in {1,2}, got $d")
    val len = length(s)
    val none = array().cast("array<string>")
    val v1 = transform(sequence(lit(1), len), i =>
      concat(s.substr(lit(1), i - 1), s.substr(i + 1, len)))
    val v2 =
      if (d < 2) none
      else flatten(transform(sequence(lit(1), len - 1), i =>
        transform(sequence(i + 1, len), j =>
          concat(s.substr(lit(1), i - 1),
            s.substr(i + 1, j - i - 1),
            s.substr(j + 1, len)))))
    array_distinct(concat(array(s),
      when(len >= 1, v1).otherwise(none),
      when(len >= 2 && lit(d >= 2), v2).otherwise(none)))
  }

  /** The r13 distributed Lloyd spelling of
    * [[graft.operators.Similarity.kmeansFit]] — SimilaritySpec pins
    * centroid and assignment equality on the gate corpus and constructed
    * edge frames. Broadcast cents → corpus×k crossJoin → min-struct argmin
    * per vec_id (riding the base exchange) → posexplode → (cluster, pos)
    * avg → (cluster) reassembly, unrolled lazily across rounds. */
  def kmeansFitDistributed(embs: DataFrame, k: Int,
      iters: Int, vecCol: String, idCol: String): (DataFrame, DataFrame) = {
    val base = embs.select(col(idCol).as("vec_id"),
      col(vecCol).cast("array<double>").as("v"))
      .repartition(embs.sparkSession.sparkContext.defaultParallelism,
        col("vec_id"))
    val d2 = VectorOps.l2sq(col("v"), col("c")) // native fused loop, bit-equal to the HOF fold
    val d2q = floor(d2 * lit(1e6) + lit(0.5)) / lit(1e6)
    def assign(cents: DataFrame): DataFrame =
      base.crossJoin(broadcast(cents))
        .select(col("vec_id"), col("cluster"), col("v"), d2q.as("d2"))
        .groupBy(col("vec_id"))
        .agg(min(struct(col("d2"), col("cluster"))).as("b"),
          first(col("v")).as("v"))
        .select(col("vec_id"), col("b.cluster").as("cluster"), col("v"),
          col("b.d2").as("d2"))
    def update(assigned: DataFrame): DataFrame =
      assigned
        .select(col("cluster"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("cluster"), col("pos"))
        .agg(round(avg(col("x")), 6).as("m"))
        .groupBy(col("cluster"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          t => t.getField("m")).as("c"))
    var cents = base.filter(col("vec_id") < k)
      .select(col("vec_id").as("cluster"), col("v").as("c"))
    for (_ <- 1 to iters) cents = update(assign(cents))
    (cents, assign(cents)) // (vec_id, cluster, v, d2) under the final centroids
  }

  /** The r13 join spelling of
    * [[graft.operators.Similarity.covarianceCensus]] — exploded frame cut +
    * broadcast-centered d²-fan self-join (SimilaritySpec pins census
    * equality on the gate corpus). */
  def covarianceCensusJoin(embs: DataFrame): DataFrame = {
    val xp = embs.select(col("vec_id"),
      posexplode(col("embedding").cast("array<double>")).as(Seq("pos", "x")))
      .cutLineage()
    val mstats = xp.groupBy(col("pos"))
      .agg(round(avg(col("x")), 6).as("m"), count(lit(1)).as("cnt"))
    // the census divisor, read off the 64-row mean census (no extra scan)
    val n = mstats.agg(max(col("cnt"))).head().getLong(0).toDouble
    val means = mstats.select(col("pos"), col("m"))
    val cent = xp.join(broadcast(means), "pos")
      .select(col("vec_id"), col("pos"), (col("x") - col("m")).as("xc"))
    val census = cent.as("a").join(cent.as("b"), col("a.vec_id") === col("b.vec_id"))
      .groupBy(col("a.pos").as("i"), col("b.pos").as("j"))
      .agg(round(sum(col("a.xc") * col("b.xc")) / lit(n), 6).as("c"))
      .cutLineage()
    Lineage.release(xp) // census is materialized — the exploded frame is dead
    census
  }

  /** `iters` rounds of v ← round(normalize(C·v), 6) from the constant
    * seed, lineage-cut per round — the distributed twin of
    * [[graft.operators.Similarity.powerRoundsDriver]] (and the shape a
    * deployment with d large enough that d² stops being driver-safe would
    * revert to). */
  def powerRounds(cov: DataFrame, iters: Int): DataFrame = {
    var v = cov.filter(col("i") === col("j"))
      .select(col("i").as("pos"), lit(0.125).as("w"))
    for (_ <- 1 to iters) {
      val prev = v
      val u = cov
        .join(v.select(col("pos").as("j"), col("w")), "j")
        .groupBy(col("i").as("pos")).agg(sum(col("c") * col("w")).as("u"))
      val nm = u.agg(sqrt(sum(col("u") * col("u"))).as("nm"))
      v = u.crossJoin(broadcast(nm))
        .select(col("pos"), round(col("u") / col("nm"), 6).as("w"))
        .cutLineage()
      Lineage.release(prev) // round i−1's 64-row block is dead
    }
    v
  }

  /** Rayleigh quotient round(vᵀCv, 6) as a one-row frame — distributed
    * twin of [[graft.operators.Similarity.rayleighDriver]]. */
  def rayleigh(cov: DataFrame, v: DataFrame): DataFrame = cov
    .join(v.select(col("pos").as("i"), col("w").as("wi")), "i")
    .join(v.select(col("pos").as("j"), col("w").as("wj")), "j")
    .agg(round(sum(col("c") * col("wi") * col("wj")), 6).as("eigval"))
}
