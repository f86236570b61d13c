package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.operators.Dedup

/** Dev profiling entry: stage-by-stage timing of the LSH dedup pipeline. */
object Prof {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.core.SessionTuning.tuned(SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      ).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"[prof] $label: ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
    }

    val docs = Tables.documents(spark, sfDir)
    time("docs count")(docs.count())
    val sh = Dedup.withShingles(docs)
    time("shingles")(sh.write.mode("overwrite").format("noop").save())
    // (measured: trigram shingles via element_at over hashed tokens are 2×
    // SLOWER than slice+concat_ws string shingles — random array access in
    // a transform doesn't beat the string path; keep the string form)
    time("shingle hash once")(
      sh.select(col("doc_id"), transform(col("sh"), x => xxhash64(x)).as("h"))
        .write.mode("overwrite").format("noop").save())
    val mh = sh.select(col("doc_id"),
      array((0 until 32).map(p => array_min(transform(col("sh"), x => xxhash64(lit(p), x)))): _*).as("sig"))
    time("32 minhashes (string rehash)")(mh.write.mode("overwrite").format("noop").save())
    val mh2base = sh.select(col("doc_id"), transform(col("sh"), x => xxhash64(x)).as("h"))
    val mh2 = mh2base.select(col("doc_id"),
      array((0 until 32).map(p => array_min(transform(col("h"), h => xxhash64(lit(p), h)))): _*).as("sig"))
    time("32 minhashes (long rehash)")(mh2.write.mode("overwrite").format("noop").save())
    time("buckets noop (explode path)") {
      val bandsX = (0 until 8).map { b =>
        val rows = (0 until 4).map(r => array_min(transform(col("h"), h => xxhash64(lit(b * 4 + r), h))))
        struct(lit(b).as("band"), xxhash64(rows: _*).as("sig"))
      }
      mh2base.withColumn("bands", array(bandsX: _*))
        .select(col("doc_id"), explode(col("bands")).as("bb"))
        .select(col("doc_id"), col("bb.band").as("band"), col("bb.sig").as("sig"))
        .write.mode("overwrite").format("noop").save()
    }
    time("single-pass aggregate minhash noop") {
      val sig32 = aggregate(col("h"),
        array_repeat(lit(Long.MaxValue), 32),
        (acc, h) => zip_with(acc,
          transform(sequence(lit(0), lit(31)), p => xxhash64(p, h)),
          (a, b) => least(a, b)))
      mh2base.select(col("doc_id"), sig32.as("sig"))
        .write.mode("overwrite").format("noop").save()
    }
    time("exploded-row minhash noop") {
      val ex = sh.select(col("doc_id"), explode(col("sh")).as("s"))
        .select(col("doc_id"), xxhash64(col("s")).as("h"))
      val aggs = (0 until 32).map(p => min(xxhash64(lit(p), col("h"))).as(s"m$p"))
      ex.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
        .write.mode("overwrite").format("noop").save()
    }
    // candidate volume: how many bucket-mates before dedup/verify?
    val bands = (0 until 8).map { b =>
      val rows = (0 until 4).map(r => array_min(transform(col("h"), h => xxhash64(lit(b * 4 + r), h))))
      struct(lit(b).as("band"), xxhash64(rows: _*).as("sig"))
    }
    val buckets = mh2base
      .withColumn("bands", array(bands: _*))
      .select(col("doc_id"), explode(col("bands")).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.sig").as("sig"))
    time("bucket rows")(println("  rows=" + buckets.count()))
    val sizes = buckets.groupBy("band", "sig").count()
    time("bucket size dist")(
      sizes.groupBy(col("count").as("bucket_size")).count().orderBy(col("bucket_size").desc)
        .show(10))
    val cand = buckets.as("a").join(buckets.as("b"),
      col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
        col("a.doc_id") < col("b.doc_id"))
    time("candidate pair rows")(println("  cand=" + cand.count()))
    time("distinct candidate pairs")(println("  dcand=" +
      cand.select(col("a.doc_id"), col("b.doc_id")).distinct().count()))
    time("full pipeline")(
      Dedup.minhashLshPairs(docs, 4, 5).write.mode("overwrite").format("noop").save())

    // widest single-pass plan: jet module (66 plots + 49-node cutflow as
    // pseudo-plots = 115 filled plots/row) over 20k synthetic events
    {
      import graft.physics.{EventGen, JetValidationAnalysis => JVA}
      val ev = time("eventgen 20k materialize") {
        val e = EventGen.dataFrame(spark, 20000)
        e.write.mode("overwrite").format("noop").save(); e
      }
      val objs = time("withObjects noop")(
        { val o = JVA.withObjects(ev); o.write.mode("overwrite").format("noop").save(); o })
      val (noSel, chain) = JVA.selections()
      val h66 = graft.flow.HistogramPass.run(objs, JVA.plots(noSel, chain))
      val plan = h66.queryExecution.executedPlan.toString
      println(s"[prof] plan size=${plan.length} chars")
      java.nio.file.Files.writeString(java.nio.file.Paths.get("/tmp/jet_plan.txt"), plan)
      time("66 plots only (first run)")(h66.write.mode("overwrite").format("noop").save())
      time("66 plots + 49 cutflow pseudo-plots") {
        val cut = chain.map(s => graft.flow.Plot("__c__" + s.name,
          org.apache.spark.sql.functions.lit(0.5), s, graft.flow.EquidistantBinning(1, 0, 1)))
        graft.flow.HistogramPass.run(objs, JVA.plots(noSel, chain) ++ cut)
          .write.mode("overwrite").format("noop").save()
      }
    }
    spark.stop()
  }
}
