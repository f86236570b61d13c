package graft.core

import org.apache.spark.sql.SparkSession

/** The engine's one session factory. Bench, Verify, the shared test
  * session and every graft.tools main build their session through
  * [[local]], so each engine conf is written once here and a probe
  * measures the same engine the bench reports:
  *  - `local[cpus]` with `spark.sql.shuffle.partitions = cpus`;
  *  - adaptive execution on, session time zone UTC;
  *  - UI off, and the bypass-merge threshold below (via [[tuned]]);
  *  - log level WARN.
  * Callers choose only the app name and the core count (each main reads
  * `SPARK_GRAFT_CPUS` with its own default).
  *
  * `spark.shuffle.sort.bypassMergeThreshold = 1` (r13, guide §2.2): with
  * R ≤ the default threshold (200), Spark's bypass shuffle writer opens
  * M·R files per exchange — and jstack sampling of the bench's iterative
  * queries (kmeans assign rounds, q172/q108) showed executor threads
  * dominated by `DiskBlockObjectWriter.open`/`copyFileStreamNIO`, ~10 ms
  * of filesystem overhead per file on this sandbox: a small exchange at
  * R=32 paid ~10 core-s in file churn regardless of bytes. Threshold 1
  * routes every shuffle through the serialized sort writer (ONE file +
  * index per map task — the same writer any R > 200 shuffle already
  * uses at scale), measured 4.1×/4.5×/4.2× on q172's three steady-state
  * Lloyd stages (16.4/13.0/11.5 → 4.0/2.9/2.7 core-s) and regression-free
  * on the large exchanges (q104/q46 unchanged within sd). Scale-honest:
  * production R exceeds 200 on any real cluster, where this conf is
  * inert — it only removes the small-R file-count cliff the local bench
  * (R = SPARK_GRAFT_CPUS) sits on.
  */
object SessionTuning {
  private val BypassMergeThreshold = "1"

  /** Applies the bypass-merge threshold to a caller's builder — for
    * sessions built outside [[local]]. */
  def tuned(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.shuffle.sort.bypassMergeThreshold", BypassMergeThreshold)

  /** A `local[cpus]` session with every engine conf above. `warehouseDir`
    * overrides `spark.sql.warehouse.dir` (the test session's temp dir). */
  def local(appName: String, cpus: Int,
      warehouseDir: Option[String] = None): SparkSession = {
    val b = tuned(SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false"))
    warehouseDir.foreach(b.config("spark.sql.warehouse.dir", _))
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
