package graft.core

import org.apache.spark.sql.DataFrame

/** Lineage cuts for iterative operators (PageRank / LPA / seed distances /
  * connected components / BPE / PQ codebooks).
  *
  * Every fixpoint loop here must cut its plan per round — without it
  * round i embeds one or two copies of round i−1 and the plan grows
  * geometrically. HOW it cuts is a deployment decision:
  *
  *  - `localCheckpoint` (the default) materializes to executor block
  *    storage: zero filesystem setup, right for local[?] and for probes —
  *    but blocks die with their executor, so on a real cluster a lost
  *    executor kills the whole iterative job mid-flight.
  *  - reliable `checkpoint` writes to the fault-tolerant checkpoint
  *    directory (HDFS/S3): an executor loss recomputes nothing older
  *    than the last round. That is the correct 1000-executor shape.
  *
  * Callers opt in by setting the session conf
  * `spark.graft.checkpointDir` (e.g. `hdfs:///tmp/graft-ckpt`); the first
  * cut installs it as the SparkContext checkpoint dir (respecting one the
  * user already set) and every subsequent cut in that session is
  * reliable. Unset (the default), behavior is byte-identical to the old
  * inline `localCheckpoint` calls. Values never change either way —
  * GraphSpec pins equality across both modes.
  */
object Lineage {
  /** Session conf: when set, iterative lineage cuts use RELIABLE
    * checkpointing into this directory instead of `localCheckpoint`. */
  val ConfKey = "spark.graft.checkpointDir"

  def cut(df: DataFrame, eager: Boolean = true): DataFrame = {
    val sess = df.sparkSession
    sess.conf.getOption(ConfKey) match {
      case Some(dir) if dir.nonEmpty =>
        val sc = sess.sparkContext
        if (sc.getCheckpointDir.isEmpty) sc.setCheckpointDir(dir)
        df.checkpoint(eager)
      case _ => df.localCheckpoint(eager)
    }
  }

  /** [[cut]] with the partitioning RE-ASSERTED on the checkpoint (r14).
    *
    * Under AQE, Dataset.checkpoint/localCheckpoint records
    * `UnknownPartitioning` (measured by `CutPartProbe` at 94bd464;
    * CheckpointPartitioningSpec pins it), so a
    * "hash-partitioned checkpoint" consumed by same-keyed joins/aggregates
    * silently re-exchanges EVERY round — the per-round E-sized shuffle
    * the pre-cut repartition was believed to have removed. This spelling
    * shuffles through an explicit `repartition(n, keys)` —
    * REPARTITION_BY_NUM, exempt from AQE coalescing, so partition index =
    * murmur3(keys) % n physically holds block for block — cuts, verifies
    * the count round-tripped, and rebuilds the LogicalRDD carrying
    * `hashpartitioning(keys, n)`. Downstream joins/groupBys on these keys
    * then ride the checkpoint exchange-free (GraphSpec pins the round-join
    * plan; GraphIterSpec-class value tests are unaffected — partitioning
    * metadata never changes values).
    *
    * The numbered form is deliberate and load-bearing (the SAFETY of the
    * assertion depends on it — a coalesced exchange breaks the hash%n
    * contract and would silently mis-join co-partitioned plans); pass
    * `defaultParallelism` for round frames, which tracks the cluster at
    * every scale the way shuffle.partitions does. */
  def cutPartitioned(df: DataFrame, n: Int, keys: String*): DataFrame = {
    require(keys.nonEmpty && n >= 1, s"cutPartitioned(n=$n, keys=$keys)")
    cutPreShuffled(
      df.repartition(n, keys.map(org.apache.spark.sql.functions.col): _*),
      n, keys: _*)
  }

  /** [[cutPartitioned]] for frames whose plan ALREADY ends in
    * `repartition(n, keys)` followed only by partitioning-preserving
    * operators (projections / filters / windows / aggregates riding that
    * exchange): cuts and re-asserts `hashpartitioning(keys, n)` WITHOUT
    * adding a second shuffle. The partition-count round-trip is verified
    * (catches AQE coalescing — which is why the numbered repartition is
    * required); the key↔layout correspondence is the CALLER's proof
    * obligation — asserting a layout the blocks do not satisfy silently
    * mis-joins co-partitioned plans. */
  def cutPreShuffled(df: DataFrame, n: Int, keys: String*): DataFrame = {
    require(keys.nonEmpty && n >= 1, s"cutPreShuffled(n=$n, keys=$keys)")
    org.apache.spark.sql.graftbridge.CheckpointBridge
      .withHashPartitioning(cut(df), keys, n)
  }

  /** SCALE-ADAPTIVE partition-asserted re-cut (r14) for an iterative
    * loop's static frame. Input: an ALREADY-CUT frame (typically
    * materialized through an AQE-coalescible `repartition(col(key))`, so
    * its partition count is byte-adaptive — 1 for a census graph,
    * hundreds at web scale). This takes that discovered count n and
    * returns a cut carrying `hashpartitioning(keys, n)` that same-keyed
    * round joins/aggregates consume exchange-free for the loop's
    * lifetime:
    *  - n == 1: a single partition satisfies any hash%1 layout, so the
    *    probe cut is re-stamped IN PLACE — zero extra work (the local /
    *    small-census path).
    *  - n > 1: the blocks re-shuffle once through `repartition(n, keys)`
    *    (REPARTITION_BY_NUM — coalesce-exempt, so the assertion is
    *    physically true) into a second cut and the probe is released —
    *    one extra materialization + one same-sized shuffle at setup,
    *    amortized against one saved E-sized shuffle PER ROUND.
    * A fixed-`defaultParallelism` assertion was measured and rejected
    * (q97/q120b +40-60% locally): par-wide near-empty stages every round
    * at census scale — the CLAUDE.md r14 numbered-repartition rule in
    * checkpoint form. */
  def recutPartitioned(probe: DataFrame, keys: String*): DataFrame = {
    require(keys.nonEmpty, "recutPartitioned needs keys")
    val n = probe.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        math.max(1, l.rdd.getNumPartitions)
      case other => sys.error(
        s"recutPartitioned expects a cut frame, got ${other.getClass}")
    }
    if (n == 1)
      org.apache.spark.sql.graftbridge.CheckpointBridge
        .withHashPartitioning(probe, keys, 1)
    else {
      val out = cutPreShuffled(
        probe.repartition(n, keys.map(org.apache.spark.sql.functions.col): _*),
        n, keys: _*)
      release(probe)
      out
    }
  }

  /** Free the block-manager storage behind a [[cut]] frame that is no
    * longer referenced by any live plan — the other half of the iterative
    * contract. Without it every fixpoint loop accumulates O(rounds) dead
    * checkpoint blocks (each round's `localCheckpoint` persists at
    * MEMORY_AND_DISK and nothing drops the superseded round until the
    * async ContextCleaner GCs the frame), which in a shared long-lived
    * session piles storage from every prior iterative query onto the
    * next one's executors. Callers release a frame ONLY when the plan
    * they return does not reference it — for per-round state that is the
    * moment the NEXT round's cut has materialized eagerly.
    *
    * Safe on any frame: only a frame whose analyzed plan is exactly the
    * `LogicalRDD` leaf a cut produces has blocks to drop (returns true);
    * anything else — including un-cut frames and reliable-checkpoint
    * frames, whose `ReliableCheckpointRDD` holds no block-manager
    * storage — is a no-op (returns false). Unpersist is non-blocking:
    * removal proceeds async, which is fine because nothing will ever read
    * the blocks again.
    */
  def release(df: DataFrame): Boolean =
    df.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false); true
      case _ => false
    }

  /** Chainable syntax: `df.cutLineage()` ≡ `Lineage.cut(df)`. */
  implicit class CutOps(private val df: DataFrame) extends AnyVal {
    def cutLineage(eager: Boolean = true): DataFrame = cut(df, eager)
    def releaseCut(): Boolean = release(df)
  }
}
