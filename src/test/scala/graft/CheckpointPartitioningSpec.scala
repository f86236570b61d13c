package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.functions._
import graft.core.Lineage

/** The premise `CheckpointBridge` rests on (measured by the r14
  * `CutPartProbe`, at 94bd464): under AQE a checkpoint does NOT keep the
  * hash partitioning of the repartition it materializes, so
  * `Lineage.cutPartitioned` re-asserts it. If a Spark upgrade starts
  * keeping partitioning through a checkpoint, the first test fails loudly
  * and the bridge can go. Broadcast is disabled so joins cannot
  * degenerate to BHJ; the confs are restored afterwards. */
class CheckpointPartitioningSpec extends SparkSpec {
  private def withAqeNoBroadcast[T](body: => T): T = {
    val confs = Seq("spark.sql.adaptive.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private val n = 4
  private def edges: DataFrame = {
    val s = spark; import s.implicits._
    (1L to 20000L).map(i => (i, i % 971)).toDF("node", "nbr")
  }
  private def partitioning(df: DataFrame) =
    df.queryExecution.executedPlan.outputPartitioning

  test("localCheckpoint drops hash partitioning under AQE, for both repartition forms") {
    withAqeNoBroadcast {
      val byCol = edges.repartition(col("nbr")).localCheckpoint(true)
      val byNum = edges.repartition(n, col("nbr")).localCheckpoint(true)
      try Seq("byCol" -> byCol, "byNum" -> byNum).foreach { case (tag, cut) =>
        val p = partitioning(cut)
        assert(!p.isInstanceOf[HashPartitioning],
          s"$tag: checkpoint now reports $p — CheckpointBridge's premise is gone")
      } finally { Lineage.release(byCol); Lineage.release(byNum) }
    }
  }

  test("cutPartitioned reports hashpartitioning(nbr, n)") {
    withAqeNoBroadcast {
      val fixed = Lineage.cutPartitioned(edges, n, "nbr")
      try partitioning(fixed) match {
        case h: HashPartitioning =>
          assert(h.numPartitions == n)
          assert(h.expressions.collect { case a: Attribute => a.name } == Seq("nbr"))
        case other => fail(s"cutPartitioned reports $other")
      } finally Lineage.release(fixed)
    }
  }

  test("join on nbr then groupBy: identical rows through the plain cut and cutPartitioned") {
    withAqeNoBroadcast {
      val s = spark; import s.implicits._
      val labels = (0L until 971L).map(i => (i, i * 7)).toDF("nbr", "lbl")
      def rows(cut: DataFrame): Seq[String] =
        cut.join(labels, Seq("nbr")).groupBy($"node")
          .agg(count(lit(1)).as("c"), sum($"lbl").as("s"))
          .collect().map(_.toString).toSeq.sorted
      val plain = edges.repartition(n, col("nbr")).localCheckpoint(true)
      val fixed = Lineage.cutPartitioned(edges, n, "nbr")
      try {
        val (a, b) = (rows(plain), rows(fixed))
        assert(a.length == 20000)
        assert(a == b)
      } finally { Lineage.release(plain); Lineage.release(fixed) }
    }
  }
}
