package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import graft.core.AnalysisConfig
import graft.flow._
import graft.physics.{EventGen, ZMuMuAnalysis}

/** End-to-end multi-sample pipeline: config → per-sample single-pass run →
  * results + counter sidecars → normalization/stacking → overlay. */
class SampleRunnerSpec extends SparkSpec {

  private lazy val outDir =
    java.nio.file.Files.createTempDirectory("graft_results").toString

  private lazy val cfg = AnalysisConfig.fromYamlString(
    """tree: events
      |eras:
      |  HL-LHC:
      |    luminosity: 3000000
      |samples:
      |  TT:
      |    era: HL-LHC
      |    type: MC
      |    group: Top
      |    generated-events: 1000
      |    cross-section: 950
      |  DY:
      |    era: HL-LHC
      |    type: MC
      |    group: DrellYan
      |    generated-events: 800
      |    cross-section: 5620
      |""".stripMargin)

  private lazy val ran: Unit = cfg.samples.zipWithIndex.foreach { case (s, i) =>
    val events = EventGen.dataFrame(spark, 1000).withColumn("event_id", col("event_id") + i * 100000)
    SampleRunner.runSample(spark, events, ZMuMuAnalysis, outDir, s)
  }

  test("per-sample results and counter sidecars are written and readable") {
    ran
    cfg.samples.foreach { s =>
      val h = spark.read.parquet(s"$outDir/results/${s.name}/histograms")
      assert(h.count() > 0)
      assert(h.columns.toSet == Set("plot", "bucket", "n", "sumw", "sumw2"))
      assert(SampleRunner.readCounters(spark, outDir, s.name) == 1000L)
      // single-pass cutflow: long-format rows per selection, noSel = all events
      val cf = spark.read.parquet(s"$outDir/results/${s.name}/cutflow")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(cf("noSel") == 1000L)
      assert(cf.contains("nmumu") && cf("nmumu") <= cf("noSel"))
      // no histogram rows leak the cutflow prefix
      assert(h.filter(org.apache.spark.sql.functions.col("plot")
        .startsWith("__cutflow__")).count() == 0)
    }
  }

  test("an empty sample writes empty results and reads back zero counted events") {
    val dir = java.nio.file.Files.createTempDirectory("graft_empty").toString
    val s = cfg.samples.head
    SampleRunner.runSample(spark, EventGen.dataFrame(spark, 10).limit(0), ZMuMuAnalysis, dir, s)
    assert(spark.read.parquet(s"$dir/results/${s.name}/histograms").count() == 0)
    assert(spark.read.parquet(s"$dir/results/${s.name}/cutflow").count() == 0)
    assert(SampleRunner.readCounters(spark, dir, s.name) == 0L)
  }

  /** One runSample over 600 events read from Parquet, in the job group
    * "runSample-spec": the groups of every job it submitted, and the input
    * records its stages read. */
  private lazy val traced: (Seq[String], Long) = {
    val dir = java.nio.file.Files.createTempDirectory("graft_traced").toString
    EventGen.dataFrame(spark, 600).write.parquet(s"$dir/events")
    val sc = spark.sparkContext
    val groups = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val records = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        groups.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse("<none>"))
      }
      override def onStageCompleted(e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        records.addAndGet(e.stageInfo.taskMetrics.inputMetrics.recordsRead)
    }
    val events = spark.read.parquet(s"$dir/events")
    org.apache.spark.graft.ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    sc.setJobGroup("runSample-spec", "runSample job group pin")
    try SampleRunner.runSample(spark, events, ZMuMuAnalysis, s"$dir/out", cfg.samples.head)
    finally sc.clearJobGroup()
    org.apache.spark.graft.ListenerBusDrain(sc)
    sc.removeSparkListener(listener)
    assert(jobs.get() >= 5, s"expected the pass and four writes, saw ${jobs.get()} jobs")
    (groups.asScala.toSeq, records.get())
  }

  test("runSample reads each event once: histograms, cutflow and counters share one scan") {
    assert(traced._2 == 600L, s"stages read ${traced._2} input records for 600 events")
  }

  test("every job runSample submits carries the caller's job group, concurrent writes included") {
    assert(traced._1 == Seq("runSample-spec"), s"job groups seen: ${traced._1}")
  }

  test("postProcess stacks normalized histograms per group") {
    ran
    val stacked = SampleRunner.postProcess(spark, cfg, outDir)
    assert(stacked.select("group").distinct().count() == 2)
    // normalization: TT scale = 3e6*950/1000; stacked sumw of a plot must
    // equal raw sumw × scale for the single-sample group
    val ttScale = cfg.scaleFor(cfg.samples.find(_.name == "TT").get)
    val rawTT = spark.read.parquet(s"$outDir/results/TT/histograms")
      .filter(col("plot") === "METptNoSel").agg(sum("sumw")).head().getDouble(0)
    val stackedTT = stacked.filter(col("group") === "Top" && col("plot") === "METptNoSel")
      .agg(sum("sumw")).head().getDouble(0)
    assert(math.abs(stackedTT - rawTT * ttScale) < 1e-6 * math.abs(stackedTT))
  }

  test("overlay compares two samples side by side (full outer)") {
    ran
    val ov = SampleRunner.overlay(spark, outDir, "TT", "DY")
    assert(ov.count() > 0)
    assert(ov.columns.toSet == Set("plot", "bucket", "n_a", "sumw_a", "n_b", "sumw_b"))
    // same generator input ⇒ same unweighted counts per bucket where present
    val mismatch = ov.filter(col("n_a").isNotNull && col("n_b").isNotNull &&
      col("n_a") =!= col("n_b")).count()
    assert(mismatch == 0)
  }
}
