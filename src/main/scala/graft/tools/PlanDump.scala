package graft.tools

import java.nio.file.{Files, Paths}

/** Dev tool (r13 deliverable): write the physical plan of headline
  * queries to `<outDir>/<name>_<suffix>.txt` — one file per query, the
  * shape the optimization judge diffs against code claims.
  *
  * Usage: scripts/probe.sh graft.tools.PlanDump [--exec] <outDir> <suffix> [names...]
  * Defaults to every headline QueryDef (bench set) when no names given.
  * Uses the bench's session (the same factory) so the plan matches what
  * Bench executes. Without `--exec` it writes the static
  * `.explain("formatted")` plan. `--exec` EXECUTES each query first and
  * writes the final adaptive plan instead — under AQE, exchange reuse
  * (ReusedExchange/stage cache) only appears at runtime, so a static dump
  * over-counts scans for shared-lineage plans.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val exec = args.headOption.contains("--exec")
    val Seq(outDir, suffix, names @ _*) = args.toSeq.drop(if (exec) 1 else 0)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.core.SessionTuning.local("graft-plandump", cpus)
    Files.createDirectories(Paths.get(outDir))
    // allDefs, not queries: headline-only twins (gate = false) are bench
    // rows too and need plan dumps (r13)
    val defs = graft.SparkEntry.allDefs.filter(d =>
      if (names.nonEmpty) names.contains(d.name) else d.headline)
    defs.foreach { d =>
      val df = d.build(spark, sfDir)
      val plan =
        if (exec) {
          // collect() drives df's OWN QueryExecution so the plan is the
          // FINALIZED adaptive one (a noop write would execute a copy)
          df.collect()
          df.queryExecution.executedPlan.toString
        } else
          df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
      Files.write(Paths.get(outDir, s"${d.name}_$suffix.txt"),
        plan.getBytes("UTF-8"))
      println(s"[plandump] wrote ${d.name}_$suffix.txt (${plan.length} chars)")
    }
    spark.stop()
  }
}
