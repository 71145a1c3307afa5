package graft

import org.apache.spark.sql.SparkSession

/** The one place graft builds a session: library-recommended tuning,
  * [[GraftExtensions]] and a UTC session clock, shared by every entry
  * point (GraftApp, Bench, Verify, the tools and the test session).
  */
object GraftSession {

  /** Confs this library recommends beyond Spark defaults. All are
    * safe-by-construction (gated on runtime statistics), not workload
    * guesses:
    *
    *  - AQE SMJ→shuffled-hash-join conversion (default OFF upstream,
    *    threshold 0): when a post-shuffle build side measures under the
    *    per-partition threshold, hashing it beats sorting BOTH sides.
    *    Measured on the 10×-scaled fact-fact joins: q3 3.55 → 1.74 s,
    *    q_window 1.58 → 0.78 s; plans where the build side is too big
    *    keep SMJ, so the 100 TB fact-fact case is unaffected.
    *
    *  - File open cost 4 MB → 1 MB: the upstream default dates from
    *    spinning-disk HDFS; on NVMe and range-read object stores a file
    *    open is nowhere near 4 MB of scan. The padded-size floor
    *    (`maxSplitBytes = max(openCost, bytesPerCore)`) was capping
    *    small-file scans at one task per ~4 MB bin — measured on the
    *    10×-scale bench, cold headline-6 total 5.63 → 3.81 s (scan
    *    parallelism is worth most when reads miss the page cache, the
    *    normal cluster state). At 100 TB the term is inert:
    *    bytesPerCore dominates the max() and splits revert to
    *    `maxPartitionBytes`.
    */
  val recommended: Map[String, String] = Map(
    // 128 MB originally; lowered to 64 MB by the round-10 skewed-sf100
    // survival run, which OOM'd the shared-suite JVM inside
    // ShuffledHashJoinExec.buildHashedRelation: an SHJ build cannot
    // spill, the conversion's gate is the build side's MAX partition
    // bytes (compressed), and a skew-hot partition that slips under
    // the gate hash-builds at ~6-8× its wire size on every concurrent
    // task — 128 MB × 32 tasks was more than a pressured 48 g heap
    // could hold, and on a typical 8-core/16 GB executor the same
    // math (128 MB × 8 × ~7) already exceeds the unified region.
    // 64 MB keeps every measured conversion win (uniform q3/q_window
    // partitions sit well under it) while pushing the skew-hot builds
    // back to sort-merge, which spills. AQE's skew split cannot help
    // here: it splits the STREAM side; a hot BUILD partition is
    // indivisible. Deployments with bigger per-core heaps can raise
    // it via SPARK_GRAFT_CONF.
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold" -> (64L * 1024 * 1024).toString,
    "spark.sql.files.openCostInBytes" -> (1L * 1024 * 1024).toString,
    // AQE skew-join split thresholds, 256 MB/5× → 32 MB/2×: the
    // upstream defaults only fire on catastrophic skew, but a hot
    // join partition far below 256 MB is already a straggler when its
    // siblings hold a few MB (zipf-sf100 q3: one ~72 MB partition vs
    // a ~2 MB median = a 6× wall on one task; 16.3 → 12.1 s with the
    // lower bars, q18/q21 −10–17% on the same data). Gated on runtime
    // partition-size stats like every AQE decision: uniform loads
    // measure no skew and take the default path (uniform-sf100 q3
    // unchanged, 9.1 s — ROUND10_NOTES §7b).
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" ->
      (32L * 1024 * 1024).toString,
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
    // Subset co-partitioning for bucketed layouts: Spark 3.3 flipped
    // this default to true, which refuses to use an existing
    // HashPartitioning(l_orderkey) for a join on (l_orderkey,
    // c_nationkey) even though it is semantically sufficient — the
    // bucketed fact-fact layout then re-shuffles BOTH 600 M-row sides.
    // false restores the classic subset rule (what every bucketed
    // warehouse layout is built for). Round-12 A/B on sf100
    // by_orderkey buckets: q5_starjoin 4 exchanges → 2, 6.64 → 6.18 s;
    // flat (non-bucketed) plans never present a reusable partitioning,
    // so they are byte-identical under either value. Trade-off: a
    // subset partitioning can have fewer distinct values than the full
    // key set (less parallelism) — with 64 buckets over order keys
    // that is not a live risk, and deployments can flip it back via
    // SPARK_GRAFT_CONF.
    "spark.sql.requireAllClusterKeysForCoPartition" -> "false",
    // TIMESTAMP(NANOS) parquet (one of the two layouts events.ts has
    // shipped in) is only readable as a raw long under this legacy
    // flag; Tables' schema probe then rebuilds proper micros. Set here
    // ONCE at session build — a table loader mutating session conf as
    // a side effect was a round-9 verdict nit. Inert for files without
    // nanos timestamps.
    "spark.sql.legacy.parquet.nanosAsLong" -> "true"
  )

  /** `SPARK_GRAFT_CPUS`, else every core of this machine. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** A [[tune]]d builder on `master` with [[GraftExtensions]] and UTC.
    * `conf` is applied before [[tune]], so `SPARK_GRAFT_CONF` still
    * overrides it.
    */
  def builder(master: String, conf: Map[String, String] = Map.empty): SparkSession.Builder =
    tune(SparkSession.builder()
      .master(master)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config(conf))

  /** The measurement and test session: `local[cpus]` with one shuffle
    * partition per core, no Spark UI, WARN logging.
    */
  def local(cpus: Int = GraftSession.cpus, conf: Map[String, String] = Map.empty): SparkSession = {
    val s = builder(s"local[$cpus]", Map(
      "spark.sql.shuffle.partitions" -> cpus.toString,
      "spark.ui.enabled" -> "false") ++ conf).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Warm the session up (JVM, codegen compiler, shuffle machinery,
    * the parquet footer and scan code paths) so the first measured query
    * isn't charged ~5 s of one-time startup cost.
    */
  def warmUp(spark: SparkSession, sfDir: String): Unit = {
    spark.range(1000000).selectExpr("sum(id)").collect()
    try graft.sources.Tables(spark, sfDir, "region").count()
    catch { case _: Throwable => () }
  }

  /** Apply [[recommended]] plus `SPARK_GRAFT_CONF="k=v;k=v"` env
    * overrides (overrides win — that is the A/B knob).
    */
  def tune(builder: SparkSession.Builder): SparkSession.Builder = {
    val withRec = recommended.foldLeft(builder) {
      case (b, (k, v)) => b.config(k, v)
    }
    sys.env.get("SPARK_GRAFT_CONF").map(_.split(";").toSeq).getOrElse(Nil)
      .map(_.split("=", 2)).collect { case Array(k, v) => (k, v) }
      .foldLeft(withRec) { case (b, (k, v)) => b.config(k, v) }
  }
}
