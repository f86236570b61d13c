package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType
import graft.SparkEntry
import graft.core.QueryDef

/** The 30 headline `QueryDef`s over generated TPC-H-style tables, in a
  * seed-permuted order. Each row's result is collected; after the timed
  * passes the gated rows' results are written for the DuckDB oracle check
  * and the other rows must be non-empty. */
final class OperatorsHeadline(
    spark: SparkSession, tables: String, outDir: String, seed: Long, records: Long, digest: String)
    extends Workload {
  val rows: Seq[QueryDef] = SparkEntry.allDefs.filter(_.headline)
  private val order = new scala.util.Random(seed).shuffle(rows)
  private val results = mutable.Map.empty[String, (Array[Row], StructType)]

  def inputRecords: Long = records
  def minWarmPasses: Int = 0
  def generate(): Unit = ()
  /** The tables' digest, taken over their file bytes by the generator. */
  def inputDigest(): String = digest

  private def runRow(q: QueryDef): Unit = {
    val df = q.build(spark, tables)
    results(q.name) = (df.collect(), df.schema)
  }

  def pass(): PassResult = {
    var failed = 0
    val times = order.map { q =>
      val t0 = System.nanoTime()
      try runRow(q)
      catch { case e: Throwable => failed += 1; System.err.println(s"[perfbench] ${q.name} failed: $e") }
      (System.nanoTime() - t0) / 1e9
    }
    PassResult(times, rows.size, failed)
  }

  def tracedPass(tr: Tracer): (PassResult, Map[String, Double]) = {
    val m = LayerSums()
    var failed = 0
    val (_, passS) = Timing.timed {
      order.foreach { q =>
        try {
          val (_, sp) = tr.span(s"operators.${q.name}") {
            val df = q.build(spark, tables)
            val (_, planS) = Timing.timed(df.queryExecution.executedPlan)
            m.add("operators.plan_s", planS)
            results(q.name) = (df.collect(), df.schema)
          }
          val c = sp.counters
          m.add(s"operators.${q.name}.s", sp.seconds)
          m.add(s"operators.${q.name}.jobs", c.jobs.toDouble)
          m.add("operators.s", sp.seconds)
          m.addCounts("operators", c)
          m.add("operators.task_core_s", c.coreS)
          m.add("operators.gc_s", c.gcMs / 1e3)
          m.add("operators.shuffle_read_bytes", c.shuffleRead.toDouble)
          m.add("operators.shuffle_write_bytes", c.shuffleWrite.toDouble)
          m.add("operators.spill_bytes", c.spill.toDouble)
          m.add("operators.input_bytes", c.inputBytes.toDouble)
        } catch { case e: Throwable => failed += 1; System.err.println(s"[perfbench] ${q.name} failed: $e") }
      }
    }
    m.add("traced_pass_s", passS)
    val out = m.result(selfTimes = Seq("operators.s"))
    val util = out.getOrElse("operators.task_core_s", 0.0) / (passS * spark.sparkContext.defaultParallelism)
    (PassResult(Nil, rows.size, failed), out - "operators.s" + ("operators.core_util" -> util))
  }

  def check(expected: Option[String]): Seq[String] = {
    Files.createDirectories(Paths.get(outDir))
    val gated = rows.filter(q => q.gate && q.oracle.isDefined)
    gated.foreach { q =>
      results.get(q.name).foreach { case (rs, schema) =>
        spark.createDataFrame(rs.toSeq.asJava, schema).coalesce(1)
          .write.mode("overwrite").parquet(s"$outDir/${q.name}")
      }
    }
    val sql = gated.map(q => s"${Json.str(q.name)}: ${Json.str(q.oracle.get)}").mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), sql)
    rows.flatMap { q =>
      results.get(q.name) match {
        case None => Some(s"${q.name}: no result")
        case Some((rs, _)) if !q.gate && rs.isEmpty => Some(s"${q.name}: empty result")
        case _ => None
      }
    }
  }
}
