package graft.operators

import graft.functions.Hll
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.collection.parallel.CollectionConverters._

/** Minimal composite-key discovery — the reference's keyfinder tool.
  *
  * Reference semantics (dbqt/tools/keyfinder.py):
  *  - a column combination is a valid key iff its columns contain zero
  *    NULLs AND count(distinct combo) == count(*) (keyfinder.py:30-76);
  *  - combinations are searched size-ascending and the search STOPS at
  *    the first size that yields keys, so every reported key is minimal
  *    (keyfinder.py:178-181);
  *  - ID-looking columns (`id`, `*_id`, `id_*`, `*_id_*`) are prioritized
  *    in the candidate ordering (keyfinder.py:93-108).
  *
  * Spark-first: the reference issues 2 sequential SQL queries per
  * combination. [[candidateReport]] profiles every combination of a
  * size with ONE plan ([[ColumnProfile.exact]]): no cache, no job per
  * combination, no driver-side report. A dq_fact benchmark pass (6
  * candidates over 60k orders) went from 42 Spark jobs to 20.
  *
  * [[findMinimalKeys]] needs only a verdict per combination and prunes
  * as it goes: each surviving combination is ONE aggregation job over a
  * cached projection, and all combinations of a size are submitted
  * CONCURRENTLY so their scans overlap. Fusing them into Catalyst's
  * multi-distinct aggregate was 10× slower at sf0.1 (an Expand of row
  * count × n, then a giant shuffle), and fusing the 8-byte hash-witness
  * jobs was no better at sf100 (900.2 s fused vs 599.6 s per-combo,
  * BENCH_SF100.md round 15).
  *
  * An `approx_count_distinct` prefilter was REJECTED in rounds 6 and 9
  * (60 M and 600 M rows): near-keys dominated, and a 1% sketch error is
  * far larger than the non-uniqueness it would have to resolve, so the
  * exact jobs ran anyway. The prefilter adopted in round 14
  * ([[PrefilterThreshold]]) only prunes overwhelmingly duplicate-heavy
  * combinations.
  *
  * What DOES work (round 12, [[isKeyByHash]]): [[findMinimalKeys]] only
  * needs a VERDICT, and `countDistinct(xxhash64(combo)) == count(*)`
  * is a one-sided PROOF of a key, not a sketch; [[candidateReport]]
  * keeps the exact count: its contract IS the number.
  */
object KeyFinder {

  /** keyfinder.py:93-101 — does the column name look like an ID? */
  def isIdColumn(name: String): Boolean = {
    val n = name.toLowerCase
    n == "id" || n.startsWith("id_") || n.endsWith("_id") || n.contains("_id_")
  }

  /** ID-like columns first, preserving relative order (keyfinder.py:104-108). */
  def prioritizeIdColumns(cols: Seq[String]): Seq[String] = {
    val (ids, rest) = cols.partition(isIdColumn)
    ids ++ rest
  }

  /** Candidate selection (keyfinder.py:217-233): optional include-only
    * filter, then exclusions, then cap at the first `maxColumns`.
    */
  def selectCandidates(allColumns: Seq[String], includeOnly: Seq[String] = Nil,
                       exclude: Seq[String] = Nil, maxColumns: Int = 20): Seq[String] = {
    val included =
      if (includeOnly.nonEmpty) allColumns.filter(includeOnly.contains) else allColumns
    included.filterNot(exclude.contains).take(maxColumns)
  }

  /** Σ C(n,k) for k=1..maxKeySize (keyfinder.py:111-123). BigInt
    * internally — the Long numerator product overflows around n=26,
    * which would let [[requireSearchable]]'s guard fail OPEN on exactly
    * the searches it exists to refuse — saturated to Long.MaxValue.
    */
  def totalCombinations(nColumns: Int, maxKeySize: Int): Long = {
    val total = (1 to math.min(maxKeySize, nColumns)).map { k =>
      (0 until k).map(i => BigInt(nColumns - i)).product /
        (1 to k).map(BigInt(_)).product
    }.sum
    if (total > Long.MaxValue) Long.MaxValue else total.toLong
  }

  /** The reference refuses searches over 50k combinations unless forced
    * (keyfinder.py:247-253) — same guard, as an exception the caller can
    * opt out of with force=true.
    */
  def requireSearchable(nColumns: Int, maxKeySize: Int, force: Boolean = false): Unit = {
    val total = totalCombinations(nColumns, maxKeySize)
    require(force || total <= 50000,
      s"$total combinations is very high; reduce candidates/max-size or pass force=true")
  }

  /** The Spark local properties that scope a job: group, description,
    * cancel policy, tags and scheduler pool.
    */
  private val JobScopeKeys = Seq("spark.jobGroup.id", "spark.job.description",
    "spark.job.interruptOnCancel", "spark.job.tags", "spark.scheduler.pool")

  /** `xs.par.map(f)` whose jobs run in the caller's job scope. `.par`
    * runs on ForkJoin workers that keep whatever local properties they
    * inherited when the pool created them, so without this a combo's job
    * lands in a stale job group or none. Each task takes the caller's
    * [[JobScopeKeys]] and restores the worker's afterwards.
    * `spark.sql.execution.id` is not copied: every collect starts its
    * own SQL execution.
    */
  private def parMap[A, B](df: DataFrame, xs: Seq[A])(f: A => B): Seq[B] = {
    val sc = df.sparkSession.sparkContext
    def scope = JobScopeKeys.map(k => k -> sc.getLocalProperty(k))
    def enter(s: Seq[(String, String)]): Unit = s.foreach { case (k, v) => sc.setLocalProperty(k, v) }
    val caller = scope
    xs.par.map { x =>
      val worker = scope
      enter(caller)
      try f(x) finally enter(worker)
    }.seq
  }

  /** Run `f` against the candidate-column projection persisted in
    * memory: [[findMinimalKeys]]' jobs then aggregate from the cached
    * columnar batches instead of re-decoding parquet once per job. (At
    * 100 TB the same pattern holds with MEMORY_AND_DISK; the projection
    * is narrow, so it is far smaller than the table.)
    */
  private def withCachedProjection[T](df: DataFrame, candidates: Seq[String])(
      f: DataFrame => T): T = {
    val proj = df.select(candidates.map(col): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try f(proj)
    finally proj.unpersist(blocking = false)
  }

  /** Full stats for every combination of `size` candidate columns from
    * one plan. Output: (key_columns, key_size, n_distinct, n_nulls,
    * total_rows, is_key), sorted by key_columns. `n_distinct` counts
    * tuples with no NULL member (SQL COUNT DISTINCT), which equals the
    * reference's GROUP-BY count whenever a combo can be a key.
    */
  def candidateReport(spark: SparkSession, df: DataFrame, candidates: Seq[String], size: Int): DataFrame =
    ColumnProfile.exact(df, prioritizeIdColumns(candidates).combinations(size).toSeq)
      .select(
        col("name").as("key_columns"),
        lit(size).as("key_size"),
        col("distinct_count").as("n_distinct"),
        coalesce(col("null_count"), lit(0L)).as("n_nulls"),
        col("total_rows"))
      .withColumn("is_key", col("n_nulls") === 0 && col("n_distinct") === col("total_rows"))
      .orderBy("key_columns")

  /** Ambiguity band for the hash-witness path in [[findMinimalKeys]].
    * `countDistinct(xxhash64(combo)) == count(*)` PROVES a key outright
    * (distinct hashes ⟹ distinct tuples — no probability involved); a
    * deficit can mean duplicates OR hash collisions, so only deficits
    * within this band fall back to the exact tuple-distinct job.
    * Expected collisions follow Poisson with λ = n²/2⁶⁵ (λ ≈ 0.01 at
    * 600 M rows, λ ≈ 2.7 at 10¹⁰ rows); P(collisions > 40) < 10⁻³¹
    * even at the 100 TB row count, so a deficit beyond the band is a
    * duplicate-tuple certificate to beyond-hardware-error confidence.
    */
  val HashDeficitBand = 40L

  /** Decision-only uniqueness test for one combo: an 8-byte hash
    * aggregate replaces the natural tuple-distinct aggregate, and only
    * an ambiguous deficit re-runs the exact job.
    *
    * What this buys and what it doesn't (round-12 isolated A/B at
    * sf100, 600 M rows, 10-combo lattice — BENCH_SF100.md): local
    * wall time is UNCHANGED (631 s tuple-distinct → 621 s hash — the
    * lattice is aggregate-CPU-bound, and the per-entry set cost of an
    * 8-byte long vs a two-long UnsafeRow is not the bottleneck). The
    * shuffle WIRE bytes halve (8-byte hashes vs multi-column tuples;
    * more for string members), which is the term that matters on a
    * real cluster's network — the same reasoning as q5's prefilter.
    * Also measured and REJECTED: routing the hash aggregate through
    * [[AggChoice.preAgg]] (repartition-first for the near-unique
    * combos, the q18/q21 zero-combine cure) came out 12% SLOWER
    * (704 s) — for a keyless countDistinct the map-side set build is
    * pipelined against the scan and the extra full-row exchange costs
    * more than the duplicated set build saves; q18's win does not
    * transfer to this shape. NOT used by [[candidateReport]], whose
    * contract is the exact distinct COUNT, not a key verdict.
    */
  private def isKeyByHash(proj: DataFrame, cb: Seq[String], total: Long): Boolean = {
    val hashed = proj.select(xxhash64(cb.map(col): _*).as("h"))
      .agg(countDistinct(col("h"))).collect()(0).getLong(0)
    if (hashed == total) true // distinct hashes certify distinct tuples
    else if (total - hashed > HashDeficitBand) false // real duplicates
    else // collisions possible: exact tuple-distinct decides
      proj.select(cb.map(col): _*)
        .agg(countDistinct(cb.head, cb.tail: _*))
        .collect()(0).getLong(0) == total
  }

  /** HLL prefilter margin (round-14, verdict-r13 #5): a combo whose
    * approx-distinct estimate falls below `PrefilterThreshold × total`
    * is pruned as a provable non-key without its exact job. The sketch
    * is [[Hll.approxDistinct]] at [[PrefilterRsd]] = 0.02, a DataSketches
    * HLL at lgK 12 whose relative standard error is 1.04/√4096 ≈ 1.6%,
    * so the threshold sits 20% — more than 12 standard deviations —
    * under a true key's expected estimate (a key's distinct count IS
    * total): a wrongly-pruned key needs a deviation beyond 10σ,
    * beyond-hardware-error territory, same confidence class as
    * [[HashDeficitBand]]'s collision argument. Everything at-or-above
    * the threshold — including every true key and every near-key —
    * still gets the exact hash-witness job, so answers are unchanged;
    * the prefilter only deletes exact jobs for combos that are
    * overwhelmingly duplicate-heavy. The win is structural: ALL combos
    * of a size share ONE scan (sketch partials merge map-side, no
    * shuffle), where the exact path runs one full countDistinct job
    * per combo. Each combo's sketch is one binary buffer field, so the
    * shared aggregate stays narrow; HyperLogLog++ carries 410 long
    * fields per combo at this rsd. Always on: it only deletes exact
    * jobs, so answers do not depend on it (adopted after the sf100
    * A/B — see BENCH_SF100.md).
    */
  val PrefilterRsd = 0.02
  val PrefilterThreshold = 0.8

  /** ONE-pass approx-distinct for every combo of a size: returns the
    * combos whose estimate clears [[PrefilterThreshold]] — the only
    * ones whose exact uniqueness jobs still run.
    */
  private def plausibleByHll(proj: DataFrame, combos: Seq[Seq[String]],
                             total: Long): Seq[Seq[String]] = {
    if (combos.isEmpty) return combos
    val aggs = combos.zipWithIndex.map { case (cb, i) =>
      Hll.approxDistinct(PrefilterRsd, cb.map(col): _*).as(s"a_$i")
    }
    val row = proj.agg(aggs.head, aggs.tail: _*).collect()(0)
    val cut = (total * PrefilterThreshold).toLong
    combos.zipWithIndex.collect {
      case (cb, i) if row.getLong(i) >= cut => cb
    }
  }

  /** Size-ascending minimal-key search with the reference's early stop:
    * the first size that yields any key wins and larger sizes are never
    * evaluated, so results are exactly the minimal keys.
    */
  def findMinimalKeys(
      spark: SparkSession,
      df: DataFrame,
      candidates: Seq[String],
      maxKeySize: Int): DataFrame = {
    val schema = StructType(Seq(
      StructField("key_columns", StringType, nullable = false),
      StructField("key_size", IntegerType, nullable = false)))
    val upper = math.min(maxKeySize, candidates.size)
    val ordered = prioritizeIdColumns(candidates)
    val found = withCachedProjection(df, candidates) { proj =>
      // ONE prefilter job: total rows + per-column null counts. A combo
      // containing any null-bearing column can never be a key
      // (keyfinder.py:30-76 checks nulls before distinct for the same
      // reason), so those combos skip their countDistinct job entirely.
      // A SUM over no rows is NULL: an empty frame has no NULLs, and
      // every size-1 candidate is then a key (0 distinct == 0 rows,
      // keyfinder.py:30-76).
      val counts = ColumnProfile.nullCounts(candidates)
      val pre = proj.agg(counts.head, counts.tail: _*).collect()(0)
      val total = pre.getLong(candidates.size)
      val nullCols = candidates.zipWithIndex
        .collect { case (c, i) if !pre.isNullAt(i) && pre.getLong(i) > 0 => c }.toSet
      (1 to upper).iterator.map { size =>
        val combos = ordered.combinations(size)
          .filter(_.forall(!nullCols.contains(_))).toSeq
        // one shared HLL pass deletes the exact jobs of overwhelmingly
        // duplicate-heavy combos; keys/near-keys always pass through
        val survivors = plausibleByHll(proj, combos, total)
        val keyCombos = survivors.zip(parMap(proj, survivors)(isKeyByHash(proj, _, total)))
          .collect { case (cb, true) => cb }
        val keys = keyCombos.map(_.mkString(",")).sorted
        (size, keys)
      }.collectFirst { case (size, keys) if keys.nonEmpty => (size, keys) }
    }
    found match {
      case Some((size, keys)) =>
        spark.createDataFrame(
          spark.sparkContext.parallelize(keys.map(k => Row(k, size)), 1), schema)
      case None =>
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    }
  }

  /** Oracle-SQL generator mirroring [[candidateReport]] at size 1. */
  def size1OracleSql(tableName: String, candidates: Seq[String]): String = {
    val parts = prioritizeIdColumns(candidates).map { c =>
      s"""SELECT '$c' AS key_columns, 1 AS key_size,
         |  count(DISTINCT $c) AS n_distinct,
         |  count(*) - count($c) AS n_nulls,
         |  count(*) AS total_rows
         |FROM $tableName""".stripMargin
    }
    s"""SELECT key_columns, key_size, n_distinct, n_nulls, total_rows,
       |  (n_nulls = 0 AND n_distinct = total_rows) AS is_key
       |FROM (${parts.mkString("\n", "\nUNION ALL\n", "\n")}) t
       |ORDER BY key_columns""".stripMargin
  }

  /** Oracle-SQL generator mirroring [[findMinimalKeys]]: evaluates every
    * combination up to `maxKeySize` and keeps keys of the smallest size
    * that has any — the reference's early-stop rule expressed in SQL.
    */
  def minimalKeysOracleSql(
      tableName: String, candidates: Seq[String], maxKeySize: Int): String = {
    val ordered = prioritizeIdColumns(candidates)
    val stats = (1 to math.min(maxKeySize, candidates.size)).flatMap { size =>
      ordered.combinations(size).map { cb =>
        val key = cb.mkString(",")
        val notNull = cb.map(c => s"$c IS NOT NULL").mkString(" AND ")
        val anyNull = cb.map(c => s"$c IS NULL").mkString(" OR ")
        s"""SELECT '$key' AS key_columns, $size AS key_size,
           |  (SELECT count(*) FROM (SELECT DISTINCT ${cb.mkString(", ")}
           |     FROM $tableName WHERE $notNull) d) AS n_distinct,
           |  (SELECT count(*) FROM $tableName WHERE $anyNull) AS n_nulls,
           |  (SELECT count(*) FROM $tableName) AS total_rows""".stripMargin
      }
    }
    s"""WITH stats AS (${stats.mkString("\n", "\nUNION ALL\n", "\n")}),
       |keys AS (
       |  SELECT key_columns, key_size FROM stats
       |  WHERE n_nulls = 0 AND n_distinct = total_rows)
       |SELECT key_columns, key_size FROM keys
       |WHERE key_size = (SELECT min(key_size) FROM keys)
       |ORDER BY key_columns""".stripMargin
  }
}
