package graft.tools

/** Dev profiler (r13/r14): run ONE headline/gate query `iters` times under
  * the bench's session. Each iteration prints one line that splits the
  * wall time into driver-side phases — frame construction (build),
  * analysis+optimization+physical planning (plan) and execution (run) —
  * with the job count and both host-contention channels, so an
  * orchestration-bound row (task time ≪ wall, the r14 profile signature)
  * separates "Catalyst is slow on this dag" from "stage scheduling is the
  * wall". Below it, a per-stage task census — (tasks, mean, max, total
  * task-time) for the top stages by total task time — shows which stage
  * dominates, straggler or uniform, without the UI.
  *
  * Usage: scripts/probe.sh graft.tools.ProfQuery <name> [iters]
  */
object ProfQuery {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val iters = if (args.length > 1) args(1).toInt else 2
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.core.SessionTuning.local("graft-profquery", cpus)
    // stageId -> (tasks, total ms, max ms, shuffle-read B, shuffle-write B, input B)
    val stageStats = new java.util.concurrent.ConcurrentHashMap[
      Int, (Long, Long, Long, Long, Long, Long)]()
    val stageOps =
      new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val d = if (t.taskInfo != null) t.taskInfo.duration else 0L
        val m = t.taskMetrics
        val (sr, sw, in) =
          if (m == null) (0L, 0L, 0L)
          else (m.shuffleReadMetrics.totalBytesRead,
            m.shuffleWriteMetrics.bytesWritten, m.inputMetrics.bytesRead)
        stageStats.merge(t.stageId, (1L, d, d, sr, sw, in), (a, b) =>
          (a._1 + b._1, a._2 + b._2, math.max(a._3, b._3),
            a._4 + b._4, a._5 + b._5, a._6 + b._6))
      }
      // RDD scope names identify WHICH physical operators a stage ran
      // (WholeStageCodegen ids map back to the *(n) spans in the plan)
      override def onStageSubmitted(
          s: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
        stageOps.put(s.stageInfo.stageId,
          s.stageInfo.rddInfos.sortBy(_.id).flatMap(_.scope)
            .map(_.name).distinct.mkString(" <- "))
    })
    val q = graft.SparkEntry.allDefs.find(_.name == name)
      .getOrElse(sys.error(s"no such query: $name"))
    (1 to iters).foreach { i =>
      stageStats.clear()
      jobs.set(0)
      val ((build, plan), secs, l1, steal) = HostLoad.measured {
        val t0 = System.nanoTime()
        val df = q.build(spark, sfDir)
        val t1 = System.nanoTime()
        // forces analysis, optimization and physical planning (NOT execution)
        df.queryExecution.executedPlan
        val t2 = System.nanoTime()
        df.write.mode("overwrite").format("noop").save()
        ((t1 - t0) / 1e9, (t2 - t1) / 1e9)
      }
      println(f"[prof] $name iter $i: $secs%.2f s (build $build%.2f, plan $plan%.2f, " +
        f"run ${secs - build - plan}%.2f; jobs ${jobs.get()}; load1 $l1%.2f, steal $steal%.1f%%)")
      import scala.jdk.CollectionConverters._
      val top = stageStats.asScala.toSeq.sortBy(-_._2._2).take(10)
      top.foreach { case (sid, (n, tot, mx, sr, sw, in)) =>
        println(f"[prof]   stage $sid%-4d tasks=$n%-4d total=${tot / 1e3}%7.2f s " +
          f"mean=${tot / math.max(n, 1) / 1e3}%6.3f max=${mx / 1e3}%6.3f  " +
          f"sRead=${sr / 1e6}%8.2fMB sWrite=${sw / 1e6}%8.2fMB in=${in / 1e6}%7.2fMB  " +
          stageOps.getOrDefault(sid, "").take(110))
      }
    }
    spark.stop()
  }
}
