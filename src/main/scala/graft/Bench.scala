package graft

/** Benchmark main (driver contract): times the headline queries over
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line.
  *
  * Methodology: each query is forced end-to-end through the `noop` sink
  * (full plan execution, no result materialization on the driver, no disk
  * write in the timing), after one warmup pass of the cheapest query to
  * amortize JVM/codegen startup out of the numbers.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.core.SessionTuning.local("graft-bench", cpus)

    val headline = SparkEntry.allDefs.filter(_.headline)
    // JVM + codegen warmup on the cheapest headline query (untimed).
    // A warmup failure must not abort the run — the same query fails
    // VISIBLY in its own timed iteration below.
    headline.headOption.foreach { q =>
      try q.build(spark, sfDir).write.mode("overwrite").format("noop").save()
      catch { case e: Throwable => System.err.println(s"[bench] warmup: ${e.getMessage}") }
    }
    // Best-of-N per query, N = 3 by default: the official r4 artifact was
    // destroyed by host contention on byte-identical code (unchanged plans
    // "slowed" 90×); a single contended iteration must never be the
    // reported number. Override with SPARK_GRAFT_BENCH_ITERS.
    val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "3").toInt.max(1)
    // Adaptive-iteration budget (r8 directive: rows whose sd exceeds 30%
    // of best are not interpretable — q104 shipped sd 5.23 on best 4.18).
    // A query keeps re-running, up to maxAttempts total, until it has
    // `iters` UNCONTENDED samples AND the sd of its fastest `iters`
    // samples is within 30% of its best. The reported sd is over that
    // fastest-n subset — repeatability of the steady state, which is
    // what makes a cross-round delta gateable; contended iterations
    // (start-load1 > 1.5× allotted CPUs) still contribute to best (a
    // contended time is a valid upper bound) but never to the quota.
    val maxAttempts =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_MAX_ITERS", (iters + 5).toString)
        .toInt.max(iters)
    val sdFrac = 0.30
    // 1-min system load at start/end makes a contaminated run self-
    // diagnosing: load >> allotted CPUs means foreign processes were
    // competing for the vCPUs during the measurement.
    def load1: Double = graft.tools.HostLoad.load1
    val loadStart = load1
    val loadGate = 1.5 * cpus
    // Block-hygiene probe (r8 finding 1): live persistent RDDs and their
    // block-manager bytes after each query. With the iterative loops
    // releasing superseded rounds this must stay flat across the bench —
    // growth here is exactly the accumulated-dead-blocks mechanism that
    // was the prime suspect for the r8 late-bench q97 slowdown.
    def rddCensus(): (Int, Double) = {
      val live = spark.sparkContext.getPersistentRDDs.size
      val mb = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1e6
      (live, mb)
    }
    var liveMax = 0; var storageMaxMb = 0.0
    def trimmedSd(ts: Seq[Double]): Double = {
      val bestN = ts.sorted.take(iters)
      val mean = bestN.sum / bestN.length
      math.sqrt(bestN.map(t => (t - mean) * (t - mean)).sum / bestN.length)
    }
    // Only successful iterations produce a time; a query with zero successes
    // is reported as failed (never a near-zero "fast" number) and fails the
    // whole bench via exit code, so a broken headline query cannot hide.
    val results = headline.map { q =>
      // (elapsed, load1-at-iteration-start) pairs: the load that accompanied
      // the reported best-of-n number is part of the artifact (r10 directive:
      // the driver-vs-judge delta was adjudicated by INFERENCE from the
      // run-level start/end loads; a per-query series makes the contention
      // multiplier measurable per row instead)
      val times = scala.collection.mutable.ArrayBuffer.empty[(Double, Double, Double)]
      var clean = 0
      var attempts = 0
      var converged = false
      while (attempts < maxAttempts && !converged) {
        attempts += 1
        try {
          // load1 sees only THIS guest's run queue; steal% catches a noisy
          // hypervisor neighbor (r12: ~2× whole-bench inflation at load1 ≈ 1
          // with steal 1-3%). HostLoad.measured samples both around the body.
          val (_, secs, pre, stealPct) = graft.tools.HostLoad.measured {
            q.build(spark, sfDir).write.mode("overwrite").format("noop").save()
          }
          times += ((secs, pre, stealPct))
          if (pre <= loadGate) clean += 1
          else System.err.println(
            f"[bench] ${q.name} iter $attempts contended (load1 $pre%.1f > $loadGate%.1f) — re-running")
        } catch {
          case e: Throwable =>
            System.err.println(s"[bench] FAILED ${q.name}: ${e.getMessage}")
        }
        converged = clean >= iters && times.nonEmpty &&
          trimmedSd(times.map(_._1).toSeq) <= sdFrac * times.map(_._1).min
      }
      val (live, mb) = rddCensus()
      liveMax = liveMax.max(live); storageMaxMb = storageMaxMb.max(mb)
      System.err.println(
        f"[bench] after ${q.name}: $live live RDDs, $mb%.1f MB block storage, $attempts attempts")
      (q.name, times.toSeq, attempts, live, mb)
    }
    val ok = results.collect { case (n, ts, _, _, _) if ts.nonEmpty => n -> ts.map(_._1).min }
    val failed = results.collect { case (n, ts, _, _, _) if ts.isEmpty => n }
    val qs = (ok.map { case (k, v) => "\"" + k + f"\":$v%.3f" } ++
      failed.map(n => "\"" + n + "\":\"failed\"")).mkString("{", ",", "}")
    // Per-query steady-state stddev (fastest-n subset) alongside best-of-n:
    // a delta between rounds is only a regression when it clears the
    // jitter band — sd makes noise (the r7 q05/q23 "+5-9%" wobble)
    // separable from real slowdowns without re-running the bench.
    val sds = results.collect { case (n, ts, _, _, _) if ts.nonEmpty =>
      "\"" + n + f"\":${trimmedSd(ts.map(_._1))}%.3f"
    }.mkString("{", ",", "}")
    // Per-query load1 series (r10 directive 5): the 1-min system load at the
    // start of the iteration whose time is REPORTED (the best one) — pairs
    // each row's number with the contention it ran under, so a loaded-vs-
    // idle comparison is per-row arithmetic, not run-level inference.
    val loadSeries = results.collect { case (n, ts, _, _, _) if ts.nonEmpty =>
      "\"" + n + f"\":${ts.minBy(_._1)._2}%.2f"
    }.mkString("{", ",", "}")
    // Per-query hypervisor-steal series (r12): steal % of total CPU jiffies
    // during the REPORTED (best) iteration — the contention channel load1
    // cannot see. A round-over-round slowdown with flat load1 and raised
    // steal is the host, not the code.
    val stealSeries = results.collect { case (n, ts, _, _, _) if ts.nonEmpty =>
      "\"" + n + f"\":${ts.minBy(_._1)._3}%.2f"
    }.mkString("{", ",", "}")
    // Max steal across ALL iterations of the query (r12 ADVICE): a
    // contended-then-clean query reports 0 steal on its best iteration
    // even when earlier attempts were stolen — the max exposes
    // contaminated attempts the best-of-n policy absorbed, so a row with
    // high attempts + high max-steal reads as host churn, not code noise.
    val stealMaxSeries = results.collect { case (n, ts, _, _, _) if ts.nonEmpty =>
      "\"" + n + f"\":${ts.map(_._3).max}%.2f"
    }.mkString("{", ",", "}")
    // Attempts per query where the adaptive policy went past the base
    // quota — which rows needed retries, and how many, is part of the
    // artifact (silent retries would hide a chronically noisy row).
    val extraJson = {
      val e = results.collect { case (n, _, a, _, _) if a > iters => "\"" + n + "\":" + a }
      if (e.isEmpty) "" else e.mkString(""","attempts":{""", ",", "}")
    }
    // Per-query storage SERIES (r9 directive: the max alone can hide a
    // leak under retry pressure — the series shows whether block storage
    // is flat across the run or climbing): live persistent RDDs and block
    // bytes sampled after each query completes.
    val liveSeries = results.map { case (n, _, _, live, _) =>
      "\"" + n + "\":" + live }.mkString("{", ",", "}")
    val mbSeries = results.map { case (n, _, _, _, mb) =>
      "\"" + n + f"\":$mb%.1f" }.mkString("{", ",", "}")
    val total = ok.map(_._2).sum
    val failedJson =
      if (failed.isEmpty) ""
      else failed.map("\"" + _ + "\"").mkString(""","failed":[""", ",", "]")
    val loadEnd = load1
    val summary = f""""metric":"total","value":$total%.3f,"unit":"sec","iters":$iters,"live_rdds_max":$liveMax,"storage_mb_max":$storageMaxMb%.1f,"load1_start":$loadStart%.2f,"load1_end":$loadEnd%.2f,"sf":"$sfDir""""
    println(s"""{$summary,"queries":$qs,"queries_sd":$sds$failedJson$extraJson,"live_rdds":$liveSeries,"storage_mb":$mbSeries,"load1":$loadSeries,"steal_pct":$stealSeries,"steal_max_pct":$stealMaxSeries}""")
    // The full line above can exceed the driver artifact's byte-limited
    // tail window (the r9 artifact lost the line's HEAD, total included) —
    // repeat the summary fields as a short, complete, parseable JSON line
    // LAST so the tail always captures the totals whatever the window. Its
    // metric name is DISTINCT ("total_summary", ADVICE r10): a consumer
    // collecting every {"metric"...} line must never see two "total" rows.
    println(s"""{${summary.replaceFirst("\"metric\":\"total\"", "\"metric\":\"total_summary\"")},"detail":"see full line above"$failedJson}""")
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
