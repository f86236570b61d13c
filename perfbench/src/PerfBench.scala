package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import graft.tools.HostLoad

/** Outcome of one pass: wall seconds of each timed call, and how many
  * units (passes or rows) were attempted and failed. */
final case class PassResult(callSeconds: Seq[Double], attempted: Int, failed: Int)

/** One benchmark workload, driven by [[PerfBench]] in a closed loop. */
trait Workload {
  /** Records (events or table rows) one pass reads. */
  def inputRecords: Long
  /** Untimed-loop floor: passes after the first, whatever `--seconds` says. */
  def minWarmPasses: Int
  /** Writes the inputs; repeatable, timed as set-up. */
  def generate(): Unit
  /** Content digest of the inputs as the passes read them. */
  def inputDigest(): String
  def pass(): PassResult
  /** A pass with every layer call in its own span, and its layer metrics. */
  def tracedPass(tr: Tracer): (PassResult, Map[String, Double])
  /** Output checks on the last pass; `expected` is the recorded digest. */
  def check(expected: Option[String]): Seq[String]
}

object Timing {
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
  def seconds(body: => Any): Double = timed(body)._2

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(x => math.log(x.max(1e-9))).sum / xs.size)
}

/** Sums layer metrics over the calls of one traced pass. */
final class LayerSums {
  private val m = mutable.LinkedHashMap.empty[String, Double]
  def add(k: String, v: Double): Unit = m(k) = m.getOrElse(k, 0.0) + v
  def addCounts(prefix: String, c: Counters): Unit = {
    add(s"$prefix.jobs", c.jobs.toDouble)
    add(s"$prefix.stages", c.stages.toDouble)
    add(s"$prefix.tasks", c.tasks.toDouble)
  }
  /** Adds `unattributed_s` (traced pass minus the layers' self times) and
    * the histogram entry yield. */
  def result(selfTimes: Seq[String]): Map[String, Double] = {
    m("unattributed_s") = m.getOrElse("traced_pass_s", 0.0) - selfTimes.map(m.getOrElse(_, 0.0)).sum
    m.remove("flow.hist_entry_kept").foreach { kept =>
      m("flow.hist_entry_yield") = kept / m("flow.hist_entries")
    }
    m.toMap
  }
}
object LayerSums { def apply(): LayerSums = new LayerSums }

object Expected {
  def compare(workload: String, expected: Option[String], got: String): Seq[String] = {
    println(s"""{"output_digest": ${Json.str(workload)}, "value": ${Json.str(got)}}""")
    expected.filter(_ != got).map(e => s"$workload: output digest $got, recorded $e").toSeq
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String = if (v.isNaN || v.isInfinite) "null" else BigDecimal(v).toString
}

/** Metric names and units, in the order they are printed. */
object Metrics {
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "pass_s" -> "s", "first_pass_s" -> "s", "events_per_s" -> "1/s",
    "query_s_geomean" -> "s")

  def perLayer(headline: Seq[String]): Seq[(String, String)] = Seq(
    "sources.scan_s" -> "s", "sources.input_bytes" -> "B", "sources.scans" -> "count",
    "physics.build_s" -> "s", "physics.objects_s" -> "s", "physics.objects_core_s" -> "s",
    "functions.delta_r_pairs" -> "count",
    "flow.plan_s" -> "s", "flow.hist_s" -> "s", "flow.hist_core_s" -> "s", "flow.hist_entries" -> "count",
    "flow.hist_entry_yield" -> "ratio", "flow.hist_shuffle_bytes" -> "B", "flow.cutflow_s" -> "s",
    "flow.write_s" -> "s", "flow.counters_s" -> "s", "flow.postprocess_s" -> "s",
    "flow.jobs" -> "count", "flow.stages" -> "count", "flow.tasks" -> "count") ++
    headline.flatMap(q => Seq(s"operators.$q.s" -> "s", s"operators.$q.jobs" -> "count")) ++ Seq(
    "operators.jobs" -> "count", "operators.stages" -> "count", "operators.tasks" -> "count",
    "operators.task_core_s" -> "s", "operators.core_util" -> "ratio", "operators.plan_s" -> "s",
    "operators.shuffle_read_bytes" -> "B", "operators.shuffle_write_bytes" -> "B",
    "operators.spill_bytes" -> "B", "operators.input_bytes" -> "B", "operators.gc_s" -> "s",
    "unattributed_s" -> "s", "traced_pass_s" -> "s", "peak_rss_mb" -> "MB")
}

/** Benchmark main. Usage:
  * {{{
  * PerfBench --workload zmumu-samples|operators-headline --seed N
  *   --seconds S --trace 0|1 --work DIR --setup-reps K [--expected DIGEST]
  *   (zmumu-samples: --events N; operators-headline: --tables DIR
  *   --input-records N --input-digest D --setup-extra-s X)
  * }}}
  * Prints a host-context line, then one result line:
  * `{"correct", "attempted", "failed", "metrics"}`. */
object PerfBench {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workloadName = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val trace = args("trace") == "1"
    val work = args("work")
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val load1Start = HostLoad.load1
    val jiffiesStart = HostLoad.cpuJiffies()
    val cores = Runtime.getRuntime.availableProcessors

    val spark = graft.core.SessionTuning.tuned(SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3

    val w: Workload = workloadName match {
      case "zmumu-samples" => new ZMuMuSamples(spark, work, seed, args("events").toInt, cores)
      case "operators-headline" => new OperatorsHeadline(spark, args("tables"), s"$work/operators-out", seed,
        args("input-records").toLong, args("input-digest"))
      case other => sys.error(s"unknown workload $other")
    }
    val genS = (1 to args.getOrElse("setup-reps", "3").toInt).map(_ => Timing.seconds(w.generate()))
    val setupS = sessionS + Timing.median(genS) + args.getOrElse("setup-extra-s", "0").toDouble
    val (inputDigest, digestS) = Timing.timed(w.inputDigest())

    // Closed loop, one client: the first pass runs in the fresh session,
    // then passes repeat until `seconds` have gone by (and at least
    // `minWarmPasses` more have run; at most one more when traced, since a
    // traced pass also runs the layer prefixes).
    val tracer = if (trace) Some(new Tracer(spark)) else None
    var attempted = 0
    var failed = 0
    val passSeconds = mutable.ArrayBuffer.empty[Double]
    val callGeomeans = mutable.ArrayBuffer.empty[Double]
    val layers = mutable.ArrayBuffer.empty[Map[String, Double]]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var stop = false
    val minWarm = if (trace) w.minWarmPasses.min(1) else w.minWarmPasses
    while (!stop && (passSeconds.isEmpty || elapsed < seconds || passSeconds.size <= minWarm)) {
      val (result, wall) = Timing.timed {
        try tracer match {
          case Some(tr) => val (r, l) = w.tracedPass(tr); layers += l; r
          case None => w.pass()
        } catch {
          case e: Throwable =>
            System.err.println(s"[perfbench] pass failed: $e")
            PassResult(Nil, 1, 1)
        }
      }
      attempted += result.attempted
      failed += result.failed
      // A pass with a failure is not a time, and ends the run.
      if (result.failed > 0) stop = true
      else {
        passSeconds += wall
        if (result.callSeconds.nonEmpty) callGeomeans += Timing.geomean(result.callSeconds)
      }
    }
    val passesS = elapsed
    val (failures, checkS) = Timing.timed {
      if (failed > 0) Seq(s"$failed of $attempted attempted units failed")
      else try w.check(args.get("expected"))
      catch { case e: Throwable => e.printStackTrace(); Seq(s"output check raised $e") }
    }
    failures.foreach(f => System.err.println(s"[perfbench] CHECK FAILED $f"))
    tracer.foreach(_.close())
    spark.stop()

    val warm = passSeconds.drop(1)
    val passS = Timing.median(if (warm.nonEmpty) warm.toSeq else passSeconds.toSeq)
    val metrics: Seq[(String, String, Double)] =
      if (!trace) {
        val values = Map(
          "setup_s" -> setupS,
          "pass_s" -> passS,
          "first_pass_s" -> passSeconds.headOption.getOrElse(Double.NaN),
          "events_per_s" -> w.inputRecords / passS,
          "query_s_geomean" -> Timing.median(
            if (callGeomeans.size > 1) callGeomeans.drop(1).toSeq else callGeomeans.toSeq))
        Metrics.endToEnd.map { case (k, u) => (k, u, values(k)) }
      } else {
        val headline = graft.SparkEntry.allDefs.filter(_.headline).map(_.name)
        val rss = peakRssMb()
        Metrics.perLayer(headline).map { case (k, u) =>
          val xs = (if (layers.size > 1) layers.drop(1) else layers).flatMap(_.get(k)).toSeq
          (k, u, if (k == "peak_rss_mb") rss else if (xs.isEmpty) 0.0 else Timing.median(xs))
        }
      }
    val steal = {
      val j = HostLoad.cpuJiffies()
      100.0 * (j._1 - jiffiesStart._1).max(0L) / (j._2 - jiffiesStart._2).max(1L)
    }
    println(s"""{"host": {"nproc": $cores, "load1_start": ${Json.num(load1Start)}, """ +
      s""""load1_end": ${Json.num(HostLoad.load1)}, "steal_pct": ${Json.num(steal)}}, """ +
      s""""workload": ${Json.str(workloadName)}, "seed": $seed, "trace": ${if (trace) 1 else 0}, """ +
      s""""passes": ${passSeconds.size}, "pass_seconds": [${passSeconds.map(Json.num).mkString(", ")}], """ +
      s""""phase_s": {"session": ${Json.num(sessionS)}, "generate": [${genS.map(Json.num).mkString(", ")}], """ +
      s""""digest": ${Json.num(digestS)}, "passes": ${Json.num(passesS)}, "check": ${Json.num(checkS)}}, """ +
      s""""input_digest": ${Json.str(inputDigest)}, "failures": [${failures.map(Json.str).mkString(", ")}]}""")
    val correct = failures.isEmpty && metrics.forall(m => !m._3.isNaN)
    val body = metrics.map { case (k, u, v) =>
      s"${Json.str(k)}: {\"value\": ${Json.num(v)}, \"unit\": ${Json.str(u)}}"
    }.mkString(", ")
    println(s"""{"correct": $correct, "attempted": ${attempted.max(1)}, "failed": $failed, "metrics": {$body}}""")
    sys.exit(if (correct) 0 else 1)
  }

  /** High-water resident set of this JVM (VmHWM), MB. */
  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
}
