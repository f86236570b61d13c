package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

/** Structured Streaming pipelines over the event log (SURVEY.md §7 step 6
  * — a harness extension; the reference itself is batch-only, §2.9).
  *
  * Each pipeline is the incremental form of a batch query in
  * [[graft.operators.Streams]]; StreamingSpec drives both and asserts
  * agreement. Scale design: all state is keyed (window/user), watermarks
  * bound state size, and the parquet file source scales by splitting input
  * files across executors — the same code runs against a 100 TB event lake
  * with `readStream` pointed at the lake path.
  */
object EventStream {

  /** events.parquet schema (file sources need an explicit schema). ts has
    * shipped as both TIMESTAMP(NANOS) (declared as a nanosecond long — see
    * Tables.events — then floor-truncated to µs) and timestamp[us] NTZ
    * (cast to TimestampType: identity on the stored micros under the UTC
    * sessions used throughout). `tsType` picks the declared shape. */
  def eventSchema(tsType: DataType = LongType): StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", tsType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  def readEvents(spark: SparkSession, path: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // one driver-side footer read decides which physical ts shape the
    // stream declares — the stream itself stays a plain file source. An
    // initially-EMPTY source directory is a normal streaming start state
    // (files arrive after the query does), and a batch read of it throws
    // "unable to infer schema" — fall back to the declared LongType shape
    // and let the stream pick files up as they land.
    val physical = scala.util.Try(spark.read.parquet(path).schema("ts").dataType)
      .getOrElse(LongType)
    val raw = spark.readStream.schema(eventSchema(physical)).parquet(path)
    physical match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }

  /** Tumbling 5-minute counts with a 10-minute watermark (late data beyond
    * the watermark is dropped; state per (window, type) is evicted once the
    * watermark passes window end). */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(unix_timestamp(col("w.start")).as("win_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Gap-based sessionization with the built-in session_window (30-minute
    * inactivity gap), the streaming twin of q54. */
  def sessionWindows(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_ev"))
      .select(col("user_id"), unix_timestamp(col("w.start")).as("s_start"),
        unix_timestamp(col("w.end")).as("s_end"), col("n_ev"))

  /** Exactly-once stream dedup on event_id within the watermark horizon. */
  def dedupStream(events: DataFrame): DataFrame =
    events.withWatermark("ts", "1 hour").dropDuplicates("event_id", "ts")

  /** Windowed approximate-distinct users: HyperLogLog registers per daily
    * window — the streaming face of q103/q106. State per (window,
    * register) is ONE small int (the running max ρ), so distinct-count
    * state stays ≤ m integers per window however many events or distinct
    * users stream through — the unbounded-state alternative
    * (dropDuplicates + count) keeps every user id until the watermark
    * closes. Register rows from shards or restarts MERGE by max, the same
    * contract the q106 batch gate value-checks cross-engine; estimates
    * are a sink-side read via
    * [[graft.operators.Sketches.hllEstimateCorrected]] (per-window n is
    * ≪ 2.5m here — the linear-counting regime). */
  def windowedDistinctUsers(events: DataFrame): DataFrame = {
    val (reg, rho) = graft.operators.Sketches.hllCols(col("user_id"),
      graft.operators.Sketches.Hll.a, graft.operators.Sketches.Hll.b)
    events
      .withWatermark("ts", "1 hour")
      .select(col("ts"), reg.as("reg"), rho.as("rho"))
      .groupBy(window(col("ts"), "1 day").as("w"), col("reg"))
      .agg(max(col("rho")).as("rho"))
      .select(unix_timestamp(col("w.start")).as("win_start"), col("reg"),
        col("rho"))
  }

  /** Watermarked stream-stream interval join: each purchase joined to the
    * same user's clicks in the preceding 30 minutes. Both sides carry
    * watermarks so the join state is bounded — the streaming form of the
    * as-of/interval correlation (batch twin q27). */
  def purchaseClickJoin(events: DataFrame): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
      .withWatermark("click_ts", "1 hour")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"))
      .withWatermark("purchase_ts", "1 hour")
    purchases.join(clicks,
      expr("""p_user = c_user AND
              click_ts >= purchase_ts - INTERVAL 30 MINUTES AND
              click_ts < purchase_ts"""))
      .select(col("p_user").as("user_id"), col("purchase_id"), col("click_id"))
  }

  /** Streaming trending terms — tumbling 10-minute term census over a
    * document stream (requires a `ts` event-time column; the watermark
    * bounds state to ~1 hour of (window, term) keys). Emits the census,
    * not the ranking: Structured Streaming allows one stateful operator
    * per query, so the per-window top-k runs on the emitted counts
    * ([[topTermsPerWindow]], in foreachBatch or sink-side) — the standard
    * rank-on-closed-windows split. The census shuffle carries (window,
    * term) partial counts (map-side combined), never document text. */
  def trendingTerms(docs: DataFrame): DataFrame =
    docs
      .withWatermark("ts", "1 hour")
      .select(col("ts"), explode(graft.functions.TextOps.tokens(col("text"))).as("term"))
      .groupBy(window(col("ts"), "10 minutes").as("w"), col("term"))
      .agg(count(lit(1)).as("n"))
      .select(unix_timestamp(col("w.start")).as("win_start"), col("term"), col("n"))

  /** Rank a [[trendingTerms]] census: top-k terms per window, ties broken
    * on term for determinism. Spark's rank-limit pushdown prunes to k rows
    * per (window, map partition) below the exchange. */
  def topTermsPerWindow(counts: DataFrame, k: Int): DataFrame =
    counts
      .withColumn("rk", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("win_start")).orderBy(desc("n"), asc("term"))))
      .filter(col("rk") <= k)
      .select(col("win_start"), col("rk"), col("term"), col("n"))

  /** Bounded-state streaming frequency sketch — the CMS face of the
    * windowed censuses: [[trendingTerms]]' state is (window × VOCABULARY)
    * rows, which is the right exact tool for bounded vocabularies but
    * unbounded state on an open key domain (URLs, n-grams). This keeps
    * d×w COUNTERS per window whatever the key cardinality: terms hash
    * into the `Sketches.cmsParams` integer domain row-locally, and the
    * one stateful aggregation is `groupBy(window, j, bucket)` — partial
    * counts merge by addition exactly like the batch sketch, so per-window
    * cells equal `Sketches.countMin` over that window's tokens
    * (StreamingSpec pins the parity). Point queries run sink-side
    * ([[probeWindowedSketch]]) — the same census/probe split as the other
    * monitors. */
  def windowedSketchCounts(docs: DataFrame, w: Int,
      params: Seq[(Long, Long)]): DataFrame = {
    val hk = pmod(xxhash64(col("term")), lit(graft.operators.Sketches.P))
    val probes = params.zipWithIndex.map { case ((a, b), j) =>
      struct(lit(j).as("j"),
        (pmod(hk * lit(a) + lit(b), lit(graft.operators.Sketches.P)) % w).as("bucket"))
    }
    docs
      .withWatermark("ts", "1 hour")
      .select(col("ts"), explode(graft.functions.TextOps.tokens(col("text"))).as("term"))
      .select(col("ts"), explode(array(probes: _*)).as("r"))
      .groupBy(window(col("ts"), "10 minutes").as("wn"),
        col("r.j").as("j"), col("r.bucket").as("bucket"))
      .agg(count(lit(1)).as("c"))
      .select(unix_timestamp(col("wn.start")).as("win_start"),
        col("j"), col("bucket"), col("c"))
  }

  /** Sink-side point estimates against a [[windowedSketchCounts]] cell
    * table: per (window, watched term), the min over the d cells the term
    * hashes to — one-sided (≥ the exact windowed count) like every CMS
    * read. The watchlist is a plan literal; the cell table is the only
    * data input. */
  def probeWindowedSketch(cells: DataFrame, watch: Seq[String], w: Int,
      params: Seq[(Long, Long)], maxWindows: Int = 100000): DataFrame = {
    val watchDf = cells.sparkSession.createDataFrame(
      watch.map(Tuple1(_))).toDF("term")
    val hk = pmod(xxhash64(col("term")), lit(graft.operators.Sketches.P))
    val probes = params.zipWithIndex.map { case ((a, b), j) =>
      struct(lit(j).as("j"),
        (pmod(hk * lit(a) + lit(b), lit(graft.operators.Sketches.P)) % w).as("bucket"))
    }
    // windows × watchlist as a LITERAL frame: joining `cells` against a
    // frame derived from `cells` hits the derived-self-join resolution
    // failure on memory-sink views (the recorded driftPerWindow lesson);
    // the window list is bounded by the monitoring horizon, so a driver
    // materialization is the q128-bracket kind of bounded state, not a
    // corpus collect — and the contract is ENFORCED: the collect is
    // limit-capped so an unboundedly-retained cell table fails loudly
    // instead of OOMing the driver.
    val winRows = cells.select(col("win_start")).distinct()
      .limit(maxWindows + 1).collect()
    require(winRows.length <= maxWindows,
      s"probeWindowedSketch: >$maxWindows distinct windows in the cell " +
        "table — the window list is driver state bounded by the monitoring " +
        "horizon; compact or time-bound the cell table (or raise maxWindows)")
    val wins = winRows.map(_.getLong(0))
    cells.sparkSession.createDataFrame(wins.map(Tuple1(_)).toSeq).toDF("win_start")
      .crossJoin(broadcast(watchDf))
      .select(col("win_start"), col("term"), explode(array(probes: _*)).as("r"))
      .select(col("win_start"), col("term"), col("r.j").as("j"), col("r.bucket").as("bucket"))
      .join(cells, Seq("win_start", "j", "bucket"), "left")
      .groupBy(col("win_start"), col("term"))
      .agg(min(coalesce(col("c"), lit(0L))).as("est"))
      .orderBy(col("win_start"), col("term"))
  }

  /** Static-corpus token distribution (term, p_ref) — the reference side
    * of [[driftPerWindow]]: build it ONCE from the training corpus, then
    * compare every arriving window against it. One vocab-sized census
    * shuffle; the total is a one-row broadcast (never a global window). */
  def tokenDistribution(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val census = docs
      .select(explode(graft.functions.TextOps.tokens(col(textCol))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("n"))
    val total = docs.agg(
      sum(graft.functions.TextOps.tokenCount(col(textCol))).as("tot"))
    census.crossJoin(broadcast(total))
      .select(col("term"),
        (col("n").cast("double") / col("tot").cast("double")).as("p_ref"))
  }

  /** Distribution drift per closed window: a [[trendingTerms]] census
    * against a static reference distribution ([[tokenDistribution]]) —
    * the streaming face of `Curation.splitDrift`: "is what is arriving
    * NOW still distributed like what we trained on?". Runs sink-side on
    * the emitted census (the same rank-on-closed-windows split as
    * [[topTermsPerWindow]] — one stateful operator per query), so the
    * monitor adds NO streaming state.
    *
    * One row per window: the total-variation distance
    * TV = ½·Σ |p_win − p_ref| over the UNION of supports — a token absent
    * from the window contributes its full p_ref, a token the reference
    * has never seen contributes its full p_win (novel-token mass is drift
    * too). Every frame here is census-sized (windows × vocab), never
    * corpus-sized; the reference is broadcast. Transcendental-free like
    * the batch twin (the CLAUDE.md numerics rule). */
  def driftPerWindow(counts: DataFrame, reference: DataFrame): DataFrame = {
    // Σ_win p_win = Σ_ref p_ref = 1 collapses the union-of-supports sum to
    // the WINDOW support alone: the unmatched reference mass is
    // 1 − Σ_matched p_ref, so TV = ½(Σ_win |p_win − p_ref·1_match|
    // + 1 − Σ_matched p_ref) — one broadcast left join, no per-window
    // reference fan-out, no derived self-join (which the memory-sink view
    // cannot re-resolve). `reference` must be a distribution: one row per
    // term, p_ref summing to 1, as [[tokenDistribution]] produces.
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("win_start"))
    val withP = counts
      .withColumn("tot", sum(col("n")).over(w))
      .withColumn("p_win", col("n").cast("double") / col("tot").cast("double"))
    withP.join(broadcast(reference), Seq("term"), "left_outer")
      .groupBy(col("win_start"))
      .agg(
        ((sum(abs(col("p_win") - coalesce(col("p_ref"), lit(0.0))))
          + lit(1.0) - sum(coalesce(col("p_ref"), lit(0.0)))) / 2).as("tv"),
        max(col("tot")).as("n_tokens"))
      .orderBy(col("win_start"))
  }

  /** Streaming similarity search — online near-neighbor alerts: each
    * incoming embedding is LSH-bucketed with the SAME literal Rademacher
    * planes as the static index (plan-literal model — every executor and
    * every restart buckets identically), equi-joined stream-static on the
    * bucket id, and verified by exact cosine ≥ τ. Entirely STATELESS
    * (map + stream-static join + filter → append mode, no watermark
    * needed): the streaming twin of the q50 LSH candidate/verify split.
    * At scale the index side is bucketed/persisted once ([[graft.operators.IvfIndex]]
    * style) so each micro-batch joins against only its probed buckets. */
  def neighborAlerts(stream: DataFrame, index: DataFrame,
      signs: Array[Array[Double]], tau: Double): DataFrame = {
    import graft.functions.VectorOps
    val probes = stream.select(col("vec_id").as("q_id"),
      col("embedding").as("q_vec"),
      VectorOps.literalSignature(col("embedding"), signs).as("bucket"))
    val idx = index.select(col("vec_id").as("n_id"),
      col("embedding").as("n_vec"),
      VectorOps.literalSignature(col("embedding"), signs).as("bucket"))
    probes.join(idx, "bucket")
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        round(VectorOps.cosine(col("q_vec"), col("n_vec")), 6).as("cos"))
      .filter(col("cos") >= tau)
  }

  /** Persist the static side of [[neighborAlerts]] bucket-PARTITIONED:
    * each LSH bucket becomes its own parquet directory, so a micro-batch
    * can read exactly the directories it probes ([[probedNeighborAlerts]])
    * instead of re-scanning the whole index every trigger. Same literal
    * planes as the probe side — the bucketing is bit-reproducible on any
    * executor and across restarts (see [[graft.functions.VectorOps.rademacherSigns]]).
    *
    * `saltBuckets`: write-side parallelism for SKEWED buckets (r12
    * directive 5). With the plain bucket-keyed repartition, a bucket
    * holding half the index funnels into ONE write task (and one giant
    * file); salting the repartition key with `pmod(xxhash64(vec_id),
    * saltBuckets)` spreads each bucket over up to `saltBuckets` tasks and
    * files — files ∝ buckets × salt, still never tasks × buckets. The
    * salt is derived, deterministic, and never persisted: the directory
    * layout stays `bucket=N/`, so [[probedNeighborAlerts]] needs no
    * changes (StreamingSpec pins alert parity at salt > 1).
    *
    * SIZING (measured r13, BucketSaltScale at 94bd464: 2.12M distinct vectors, 94%
    * in one bucket): at salt = 1 the write wall IS the hot bucket's
    * single task (17.1 s of a 20.1 s wall — one file, one thread, however
    * many executors the cluster has); at salt = 16 the same index writes
    * in 5.0 s with the hot bucket split across 16 tasks (longest 2.8 s)
    * and the probed hot-bucket read runs 2× faster from the parallel
    * splits. Size `saltBuckets ≈ ceil(largest-bucket bytes / target file
    * size)` (0.5–1 GB files); the exchange is RANGE-partitioned on
    * (bucket, salt), so per-task directory spread — and with it the
    * dynamic-partition writer's per-file cost — stays O(1) no matter how
    * large the salt (the hash-keyed spelling scattered every task across
    * ~every bucket directory: measured 65× the unsalted write's
    * core-seconds before the range fix). */
  def writeBucketIndex(index: DataFrame, signs: Array[Array[Double]],
      path: String, saltBuckets: Int = 1): Unit = {
    import graft.functions.VectorOps
    // writer mirrors the reader's contracts (ADVICE r11): the planes
    // guard, so a >2^24-directory index is rejected where it would be
    // CREATED, and a non-null embedding filter, so a null can never write
    // a bucket=__HIVE_DEFAULT_PARTITION__ directory for the reader's
    // bucket-name parse to trip over.
    require(signs.length <= 24,
      s"bucket index directories are bounded by 2^planes; got ${signs.length} planes (max 24)")
    require(saltBuckets >= 1, s"saltBuckets must be >= 1, got $saltBuckets")
    // repartition ON the partition column first: otherwise every shuffle
    // partition writes a sliver into every bucket directory (tasks ×
    // buckets files — measured ~10k files on a 34k-vector index, and the
    // per-trigger read pays that listing forever). One exchange keyed by
    // (bucket[, salt]) → ≤ salt files per occupied bucket.
    val keyed = index.filter(col("embedding").isNotNull)
      .select(col("vec_id"), col("embedding"),
        VectorOps.literalSignature(col("embedding"), signs).as("bucket"))
    // the salted exchange carries an EXPLICIT partition count: left to
    // AQE, a small index coalesces to one partition and the salt is a
    // no-op (the fanOut lesson — explicit counts are how load-bearing
    // exchanges opt out of coalescing). RANGE partitioning, not hash
    // (r13): hash(bucket, salt) scatters every task across ~all bucket
    // directories, so each task pays the dynamic-partition writer's
    // per-file cost for dozens of files — measured 65x the unsalted
    // write's core-seconds (1,305 vs 20 core-s on a 2.12M-vector index,
    // 809 files vs 64; ~1.7 core-s per extra file). A range exchange on
    // (bucket, salt) gives each task a CONTIGUOUS key range — a handful
    // of directories per task, total files ≈ partitions + buckets — while
    // a hot bucket still splits across up to `saltBuckets` tasks (range
    // boundaries can fall between salt values inside one bucket, never
    // inside one (bucket, salt) cell, so the ≤ salt files-per-bucket
    // contract is unchanged).
    val parted =
      if (saltBuckets == 1) keyed.repartition(col("bucket"))
      else keyed.repartitionByRange(
        index.sparkSession.sparkContext.defaultParallelism,
        col("bucket"), pmod(xxhash64(col("vec_id")), lit(saltBuckets.toLong)))
    parted
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("bucket").parquet(path)
  }

  /** [[neighborAlerts]] against a bucket-partitioned index
    * ([[writeBucketIndex]]) — the 100 TB shape, for `foreachBatch`. A
    * plain stream-static join re-plans but RE-SCANS the full static side
    * every micro-batch (no dynamic pruning crosses the stream-static
    * boundary), which at index ≫ batch makes each trigger index-scan-bound.
    * Here the batch's DISTINCT probed buckets (bounded driver state:
    * ≤ min(batch rows, 2^planes) longs — hence the planes guard) select
    * the bucket directories by PATH, so per-trigger index I/O is
    * ∝ occupancy of the probed buckets, not index size. Alerts are
    * identical to [[neighborAlerts]] (StreamingSpec pins set equality and
    * the pruned file set); verification is the same native-codegen exact
    * cosine, and the output stays append-mode stateless. */
  def probedNeighborAlerts(batch: DataFrame, indexPath: String,
      signs: Array[Array[Double]], tau: Double): DataFrame = {
    import graft.functions.VectorOps
    require(signs.length <= 24,
      s"probed-bucket driver state is bounded by 2^planes; got ${signs.length} planes (max 24)")
    val spark = batch.sparkSession
    val probes = batch.select(col("vec_id").as("q_id"),
      col("embedding").as("q_vec"),
      VectorOps.literalSignature(col("embedding"), signs).as("bucket"))
    val probed = probes.select(col("bucket")).distinct()
      .collect().map(_.getLong(0)).toSet
    val root = new org.apache.hadoop.fs.Path(indexPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // bounded listing: one entry per OCCUPIED bucket (≤ 2^planes dirs)
    val dirs = fs.listStatus(root).toIndexedSeq.map(_.getPath)
      .filter(_.getName.startsWith("bucket="))
      // defensive parse (ADVICE r11): a foreign bucket=… directory that
      // isn't a long (e.g. __HIVE_DEFAULT_PARTITION__ from some other
      // writer) must be skipped, not kill every subsequent micro-batch
      // with NumberFormatException — [[writeBucketIndex]] can no longer
      // produce one, but the reader doesn't get to assume its input's
      // provenance.
      .filter(p => scala.util.Try(p.getName.stripPrefix("bucket=").toLong)
        .toOption.exists(probed.contains))
    if (dirs.isEmpty)
      return probes.limit(0).select(col("q_id"), col("q_id").as("n_id"),
        round(lit(0.0), 6).as("cos"))
    // basePath keeps `bucket` as a column; the read lists ONLY probed dirs
    val idx = spark.read.option("basePath", indexPath)
      .parquet(dirs.map(_.toString): _*)
      .select(col("vec_id").as("n_id"), col("embedding").as("n_vec"),
        col("bucket").cast("long").as("bucket"))
    probes.join(idx, "bucket")
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        round(VectorOps.cosine(col("q_vec"), col("n_vec")), 6).as("cos"))
      .filter(col("cos") >= tau)
  }

  /** documents.parquet schema for streaming document ingest. */
  val documentSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  def readDocuments(spark: SparkSession, path: String): DataFrame =
    spark.readStream.schema(documentSchema).parquet(path)

  /** Streaming incremental dedup against a STATIC reference corpus — the
    * streaming twin of `Curation.bloomReferenceDedup` (q71), for the
    * "continuously arriving crawl vs everything already trained on" shape.
    * The Bloom probe is STATELESS on the stream (a codegen'd map, no
    * streaming state at all); only "maybe" rows enter the stream-static
    * join (left_outer + null-filter — Structured Streaming supports
    * stream-static left outer, not left anti). Output is exact at any
    * fpp, micro-batch by micro-batch. */
  def dedupAgainstReference(docs: DataFrame, referenceFps: DataFrame,
      fpCol: String, expectedItems: Long, fpp: Double): DataFrame = {
    // identical Bloom build/route as batch q71 (one shared helper — only
    // the verification-join spelling differs between the twins)
    val (definitelyNew, maybes) =
      graft.operators.Curation.bloomSplit(docs, referenceFps, fpCol, expectedItems, fpp)
    val verified = maybes
      .join(referenceFps.select(col(fpCol).as("__ref_fp")).distinct(),
        col(fpCol) === col("__ref_fp"), "left_outer")
      .filter(col("__ref_fp").isNull)
      .drop("__ref_fp")
    definitelyNew.unionByName(verified)
  }

  // ---- custom state: running per-user counters via flatMapGroupsWithState --

  final case class EvIn(user_id: Long, value: Double)
  final case class UserTotal(user_id: Long, n: Long, total: Double)
  final case class FunnelEv(user_id: Long, event_type: String, t: Long)
  final case class FunnelState(user_id: Long, s_t: Option[Long],
      c_t: Option[Long], p_t: Option[Long])

  /** Streaming conversion funnel — the incremental twin of the q112 batch
    * fold: one FunnelState (three optional µs timestamps) per user,
    * advanced by the same strictly-ordered state machine (first signup;
    * first click strictly after it; first purchase strictly after that).
    * Rows are time-sorted WITHIN each micro-batch before folding, so a
    * batch's internal arrival order never matters; across batches the
    * machine advances in arrival order, which equals event order whenever
    * the source delivers batches time-monotonically per user (true for
    * the file source replaying history; with genuinely late data, pair
    * with a watermarked reorder stage — a stage that regresses, e.g. an
    * earlier signup arriving after a click was rejected, is inherently
    * unresolvable by ANY bounded-state online funnel). State is three
    * Options per user however long the history — smaller than the batch
    * fold's per-user event list. */
  def streamingFunnel(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    events
      .filter(col("event_type").isin("signup", "click", "purchase"))
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("t"))
      .as[FunnelEv]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (uid: Long, rows: Iterator[FunnelEv], state: GroupState[FunnelState]) => {
          var st = state.getOption.getOrElse(FunnelState(uid, None, None, None))
          rows.toSeq.sortBy(e => (e.t, e.event_type)).foreach { e =>
            if (st.s_t.isEmpty && e.event_type == "signup")
              st = st.copy(s_t = Some(e.t))
            else if (st.c_t.isEmpty && st.s_t.exists(e.t > _) && e.event_type == "click")
              st = st.copy(c_t = Some(e.t))
            else if (st.p_t.isEmpty && st.c_t.exists(e.t > _) && e.event_type == "purchase")
              st = st.copy(p_t = Some(e.t))
          }
          state.update(st)
          Iterator.single(st)
        })
      .toDF()
  }

  final case class AttrEv(user_id: Long, event_id: Long, event_type: String, t: Long)
  final case class TouchState(touch_type: Option[String], touch_t: Option[Long])
  final case class Attribution(user_id: Long, purchase_t: Long, touch: String)

  /** Streaming last-touch attribution — the incremental twin of
    * [[graft.operators.Temporal.lastTouchAttribution]] (q167): per-user
    * state is ONE (type, time) pair — the latest non-purchase touch —
    * and each purchase emits its attribution exactly once, crediting the
    * stored touch when it is within `windowDays`, else 'none'. Rows are
    * (t, event_id)-sorted within each micro-batch (the streamingFunnel
    * discipline), so batch-internal arrival order never matters; across
    * batches the fold advances in arrival order, which equals event
    * order for time-monotone sources. State is O(1) per user — smaller
    * than the batch window's partition buffer — and never times out by
    * default (an attribution-window timeout is the production eviction:
    * a touch older than `windowDays` can only ever attribute 'none'). */
  def streamingAttribution(spark: SparkSession, events: DataFrame,
      windowDays: Int = 7): DataFrame = {
    import spark.implicits._
    val horizonUs = windowDays * 86400000000L
    events
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("t"))
      .as[AttrEv]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (uid: Long, rows: Iterator[AttrEv], state: GroupState[TouchState]) => {
          var st = state.getOption.getOrElse(TouchState(None, None))
          val out = Seq.newBuilder[Attribution]
          rows.toSeq.sortBy(e => (e.t, e.event_id)).foreach { e =>
            if (e.event_type == "purchase") {
              val touch = st.touch_t match {
                case Some(tt) if e.t - tt <= horizonUs => st.touch_type.getOrElse("none")
                case _ => "none"
              }
              out += Attribution(uid, e.t, touch)
            } else st = TouchState(Some(e.event_type), Some(e.t))
          }
          state.update(st)
          out.result().iterator
        })
      .toDF()
  }

  final case class Touch(tt: Long, tid: Long, ty: String)
  final case class TouchListState(touches: Seq[Touch])
  final case class TouchCredit(user_id: Long, purchase_t: Long,
      purchase_id: Long, touch: String, credit: Long)

  /** Streaming multi-touch / time-decay attribution — the incremental
    * twin of [[graft.operators.Temporal.multiTouchAttribution]] (q178)
    * and [[graft.operators.Temporal.timeDecayAttribution]] (q180),
    * enabled by r8's horizon-bounded frame: per-user state is exactly
    * the IN-WINDOW touch list (touches older than `windowDays` behind
    * the newest processed event are pruned on every fold step), so
    * state is O(horizon density) per user — the same bound the batch
    * RANGE frame carries, never the user's history. Each purchase emits
    * its per-touch micro-credit rows exactly once with the batch
    * arithmetic verbatim: even split (or 2^(windowDays − age_days)
    * weights when `decay`) in integer micro-credits, remainder to the
    * max-(tt, event_id) touch, 'none' rows for untouched purchases —
    * summing emissions by touch replays the batch census exactly
    * (StreamingSpec pins the parity). Rows are (t, event_id)-sorted
    * within each micro-batch; across batches the fold advances in
    * arrival order (the streamingFunnel time-monotone contract). */
  def streamingMultiTouch(spark: SparkSession, events: DataFrame,
      windowDays: Int = 7, decay: Boolean = false): DataFrame = {
    import spark.implicits._
    require(windowDays >= 1 && windowDays <= 62,
      s"windowDays must be in [1, 62] (got $windowDays)")
    val dayUs = 86400000000L
    val horizonUs = windowDays * dayUs
    events
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("t"))
      .as[AttrEv]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (uid: Long, rows: Iterator[AttrEv], state: GroupState[TouchListState]) => {
          var touches = state.getOption.map(_.touches.toVector)
            .getOrElse(Vector.empty[Touch])
          val out = Seq.newBuilder[TouchCredit]
          rows.toSeq.sortBy(e => (e.t, e.event_id)).foreach { e =>
            // horizon prune: t is nondecreasing in fold order, so a touch
            // outside [t - horizon, t - 1] can never credit a later purchase
            touches = touches.dropWhile(_.tt < e.t - horizonUs)
            if (e.event_type == "purchase") {
              val inWin = touches.filter(x => x.tt <= e.t - 1)
              if (inWin.isEmpty)
                out += TouchCredit(uid, e.t, e.event_id, "none", 1000000L)
              else {
                val mx = inWin.maxBy(x => (x.tt, x.tid))
                val weights =
                  if (decay) inWin.map(x =>
                    1L << (windowDays - (e.t - x.tt) / dayUs).toInt)
                  else inWin.map(_ => 1L)
                val sw = weights.sum
                val base = weights.map(w => 1000000L * w / sw)
                val rem = 1000000L - base.sum
                inWin.zip(base).foreach { case (x, b) =>
                  val credit =
                    if (x.tt == mx.tt && x.tid == mx.tid) b + rem else b
                  out += TouchCredit(uid, e.t, e.event_id, x.ty, credit)
                }
              }
            } else touches = touches :+ Touch(e.t, e.event_id, e.event_type)
          }
          state.update(TouchListState(touches))
          out.result().iterator
        })
      .toDF()
  }

  /** Custom keyed state (the reference has none; this is the
    * mapGroupsWithState escape hatch for semantics windows can't express):
    * running per-user event count + value total, updated per micro-batch. */
  def runningUserTotals(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    events.select(col("user_id"), col("value")).as[EvIn]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (uid: Long, rows: Iterator[EvIn], state: GroupState[UserTotal]) => {
          val prev = state.getOption.getOrElse(UserTotal(uid, 0L, 0.0))
          var n = prev.n
          var tot = prev.total
          rows.foreach { e => n += 1; tot += e.value }
          val next = UserTotal(uid, n, tot)
          state.update(next)
          Iterator.single(next)
        })
      .toDF()
  }

  /** CDC snapshot sink — the streaming twin of `Maintenance.upsertLatest`
    * (q82): maintain a deduplicated latest-state table on plain parquet
    * from a change stream. Each micro-batch folds into the current
    * snapshot (latest-wins per key; delete markers drop rows) and commits
    * as a NEW versioned directory `v<batchId>`, then the `_LATEST` pointer
    * advances — the write-new-then-swap-pointer commit shape table formats
    * use, so a reader never observes a half-written snapshot and the
    * previous version stays consistent until the new one is complete.
    * foreachBatch is the documented Structured Streaming idiom for sinks
    * with merge semantics that no built-in sink has.
    *
    * Scale notes: per-batch cost is one key shuffle of snapshot+batch (the
    * q82 shape) — at very large key counts, partition the snapshot by key
    * range and rewrite only ranges a batch touches. Old versions
    * accumulate; [[vacuumSnapshots]] deletes all but the last N (the
    * retention window N stays a caller policy decision). */
  def cdcSnapshotSink(spark: SparkSession, updates: DataFrame, snapshotDir: String,
      checkpointDir: String, keys: Seq[String], versionCol: String,
      deleteCol: Option[String] = None): StreamingQuery = {
    updates.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val base = currentSnapshot(spark, snapshotDir).getOrElse(batch.limit(0))
        // after the first merge the snapshot no longer carries the delete
        // column (upsertLatest drops it) — re-align for the union
        val aligned = deleteCol.filterNot(base.columns.contains)
          .foldLeft(base)((b, c) => b.withColumn(c, lit(false)))
        graft.operators.Maintenance.upsertLatest(aligned, batch, keys, versionCol, deleteCol)
          .write.mode("overwrite").parquet(s"$snapshotDir/v$batchId")
        writePointer(spark, snapshotDir, s"v$batchId")
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Advance the `_LATEST` pointer through the Hadoop FileSystem API with
    * write-temp-then-rename: the parquet versions already go through
    * Hadoop FS, so the pointer must too (java.nio silently breaks on
    * HDFS/S3 paths), and a truncate-in-place write would let a concurrent
    * reader observe an empty/partial pointer — rename is atomic on HDFS
    * and local FS, so readers see either the old or the new version,
    * never a torn one (the swap-commit the versioned layout promises). */
  private def writePointer(spark: SparkSession, snapshotDir: String, version: String): Unit = {
    import org.apache.hadoop.fs.Path
    val dir = new Path(snapshotDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(dir, s"._LATEST.tmp-$version")
    val out = fs.create(tmp, true)
    try out.write(version.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    val ptr = new Path(dir, "_LATEST")
    // FileContext rename supports atomic OVERWRITE (plain FileSystem.rename
    // won't replace an existing target, and delete-then-rename would leave
    // a window where the pointer is absent)
    org.apache.hadoop.fs.FileContext
      .getFileContext(dir.toUri, spark.sparkContext.hadoopConfiguration)
      .rename(tmp, ptr, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  /** The current committed CDC snapshot, or None before the first commit. */
  def currentSnapshot(spark: SparkSession, snapshotDir: String): Option[DataFrame] = {
    import org.apache.hadoop.fs.Path
    val dir = new Path(snapshotDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ptr = new Path(dir, "_LATEST")
    if (!fs.exists(ptr)) None
    else {
      val in = fs.open(ptr)
      val version =
        try new String(org.apache.commons.io.IOUtils.toByteArray(in),
          java.nio.charset.StandardCharsets.UTF_8).trim
        finally in.close()
      Some(spark.read.parquet(s"$snapshotDir/$version"))
    }
  }

  /** Retention for the versioned CDC snapshot layout: delete all but the
    * newest `keepLast` committed `v<batch>` directories, NEVER touching
    * the one `_LATEST` points at (a pointer that lags — e.g. a crashed
    * commit between write and swap — must not strand readers on a
    * deleted version). Returns the deleted version names. Safe ordering:
    * the pointer is read FIRST, so a concurrent commit can only ADD a
    * newer version — never resurrect a deletion candidate. Run this
    * between training runs the way table formats run VACUUM; the
    * retention count is a policy knob, which is why it is an argument
    * and not a constant. */
  def vacuumSnapshots(spark: SparkSession, snapshotDir: String,
      keepLast: Int): Seq[String] = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    import org.apache.hadoop.fs.Path
    val dir = new Path(snapshotDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) return Seq.empty
    val pinned: Option[String] = {
      val ptr = new Path(dir, "_LATEST")
      if (!fs.exists(ptr)) None
      else {
        val in = fs.open(ptr)
        try Some(new String(org.apache.commons.io.IOUtils.toByteArray(in),
          java.nio.charset.StandardCharsets.UTF_8).trim)
        finally in.close()
      }
    }
    val versions = fs.listStatus(dir).toSeq
      .filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.matches("v\\d+"))
      .sortBy(_.drop(1).toLong)
    val doomed = versions.dropRight(keepLast)
      .filterNot(pinned.contains)
    doomed.foreach(v => fs.delete(new Path(dir, v), true))
    doomed
  }

  /** Drive a streaming DataFrame to completion against a static source and
    * return the materialized result (memory sink; test/demo harness). */
  def runToMemory(spark: SparkSession, stream: DataFrame, name: String,
      mode: OutputMode = OutputMode.Complete()): DataFrame = {
    val q: StreamingQuery = stream.writeStream
      .outputMode(mode)
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(name)
  }
}
