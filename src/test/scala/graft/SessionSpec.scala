package graft

/** Pins the shared test session to the confs of the one session factory
  * (`SessionTuning.local`), so Bench, Verify, the tools and the specs keep
  * running the same engine. */
class SessionSpec extends SparkSpec {
  test("shared test session carries the factory's confs") {
    val sc = spark.sparkContext
    assert(sc.master == s"local[${TestSpark.cpus}]")
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(sc.getConf.get("spark.ui.enabled") == "false")
    assert(spark.conf.get("spark.sql.shuffle.partitions").toInt == TestSpark.cpus)
    assert(sc.defaultParallelism == TestSpark.cpus)
    assert(sc.getConf.get("spark.shuffle.sort.bypassMergeThreshold") == "1")
  }

  test("SparkSpec builds no session of its own") {
    val src = new java.io.File("src/test/scala/graft/SparkSpec.scala")
    assert(src.isFile, s"not found from ${new java.io.File(".").getAbsolutePath}")
    val text = new String(java.nio.file.Files.readAllBytes(src.toPath), "UTF-8")
    assert("""SparkSession\s*\.\s*builder""".r.findFirstIn(text).isEmpty)
    assert(text.contains("SessionTuning.local("))
  }
}
