package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session across all suites (JVM-wide singleton). */
object TestSpark {
  val cpus = 4
  lazy val spark: SparkSession = graft.core.SessionTuning.local("graft-test", cpus,
    Some(java.nio.file.Files.createTempDirectory("graft_wh").toString))
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val sf0001 = "/root/testdata/sf0.001"
}
