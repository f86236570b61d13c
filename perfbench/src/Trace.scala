package perfbench

import scala.collection.mutable
import org.apache.spark.perfbench.ListenerDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Task-level totals of the stages that ran inside one span. */
final class Counters {
  var jobs, stages, tasks = 0L
  var coreMs, gcMs, shuffleRead, shuffleWrite, spill, inputBytes = 0L
  def coreS: Double = coreMs / 1e3
}

/** One job seen inside a span: its SQL execution, wall interval (epoch ms)
  * and stages. */
final case class JobRec(id: Int, execution: String, start: Long, end: Long, stages: Seq[Int])

/** The traced run's instrument: a SparkListener registered by the benchmark
  * itself. Every layer call runs in its own job group (`span`), and the
  * listener files each job and stage under the group that submitted it. */
final class Tracer(spark: SparkSession) extends SparkListener {
  private val stageGroup = mutable.Map.empty[Int, String]
  private val groups = mutable.Map.empty[String, Counters]
  private val jobStart = mutable.Map.empty[Int, (String, String, Long, Seq[Int])]
  private val jobsDone = mutable.Map.empty[String, mutable.ArrayBuffer[JobRec]]
  private val stageRecords = mutable.Map.empty[Int, Long]
  private var seq = 0

  spark.sparkContext.addSparkListener(this)

  private def acc(g: String) = groups.getOrElseUpdate(g, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val g = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).getOrElse(s"job${e.jobId}")
    e.stageIds.foreach(stageGroup(_) = g)
    jobStart(e.jobId) = (g, exec, e.time, e.stageIds)
    val c = acc(g)
    c.jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (g, exec, t0, stages) =>
      jobsDone.getOrElseUpdate(g, mutable.ArrayBuffer.empty) += JobRec(e.jobId, exec, t0, e.time, stages)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val c = acc(stageGroup.getOrElse(i.stageId, ""))
    c.stages += 1
    c.tasks += i.numTasks
    Option(i.taskMetrics).foreach { m =>
      c.coreMs += m.executorRunTime
      c.gcMs += m.jvmGCTime
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      c.inputBytes += m.inputMetrics.bytesRead
      stageRecords(i.stageId) = m.inputMetrics.recordsRead
    }
  }

  /** A finished span: wall seconds, stage totals, and its jobs in start order. */
  final case class Span(seconds: Double, counters: Counters, jobs: Seq[JobRec]) {
    /** Stages that read exactly `records` input rows: full scans of an input
      * of that size. */
    def scanStages(records: Long): Seq[Int] = Tracer.this.synchronized {
      jobs.flatMap(_.stages).distinct.filter(s => stageRecords.get(s).contains(records))
    }
    /** SQL executions of the span in start order, each with its jobs. */
    def executions: Seq[Seq[JobRec]] =
      jobs.groupBy(_.execution).values.toSeq.sortBy(_.map(_.start).min)
  }

  /** Runs `body` as its own job group and returns its result and span. */
  def span[T](name: String)(body: => T): (T, Span) = {
    val sc = spark.sparkContext
    val g = synchronized { seq += 1; s"$name#$seq" }
    sc.setJobGroup(g, name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    val r = try body finally sc.clearJobGroup()
    val secs = (System.nanoTime() - t0) / 1e9
    ListenerDrain(sc)
    synchronized {
      val jobs = jobsDone.remove(g).map(_.sortBy(_.start).toSeq).getOrElse(Nil)
      (r, Span(secs, groups.remove(g).getOrElse(new Counters), jobs))
    }
  }

  def close(): Unit = spark.sparkContext.removeSparkListener(this)
}

object Tracer {
  /** Wall seconds covered by a set of jobs (first start to last end). */
  def wall(jobs: Seq[JobRec]): Double =
    if (jobs.isEmpty) 0.0 else (jobs.map(_.end).max - jobs.map(_.start).min) / 1e3
}
