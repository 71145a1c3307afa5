package graft.operators

import graft.functions.Hll
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Per-column distinct/null profiling — the reference's nullcheck tool.
  *
  * Reference semantics: dbqt/tools/nullcheck.py:54-55 issues one
  * `SELECT COUNT(DISTINCT col)…` per table over all columns at once;
  * nullcheck.py:83-97 classifies `distinct==0` as a NULL column and
  * `0 < distinct <= 5` as low-distinct.
  *
  * Spark-first: all columns of a table are profiled in ONE aggregation
  * job. Catalyst plans multi-distinct aggregates with a single Expand +
  * partial aggregation, so the table is scanned exactly once regardless
  * of column count. At 100 TB, exact multi-column countDistinct expands
  * rows #cols×; [[approxProfile]] swaps in HLL sketches
  * ([[graft.functions.Hll.approxDistinct]]) which need no Expand and one
  * pass — use it for very wide tables where exact counts aren't required.
  */
object NullCheck {

  val LowDistinctThreshold = 5

  private def statusCol(distinct: Column): Column =
    when(distinct === 0, "NULL")
      .when(distinct <= LowDistinctThreshold, "LOW_DISTINCT")
      .otherwise("OK")

  /** Long-format profile of one table: a row per column with its distinct
    * count (nulls excluded, matching SQL COUNT(DISTINCT)), null count, and
    * the reference's status classification.
    */
  def profile(tableName: String, df: DataFrame): DataFrame =
    longProfile(tableName, df)(c => countDistinct(col(c)))

  /** Profile several tables into one result (still one job per table, all
    * scheduled concurrently by the union).
    */
  def profileAll(tables: Seq[(String, DataFrame)]): DataFrame =
    tables.map { case (n, df) => profile(n, df) }
      .reduce(_ unionAll _)
      .orderBy("table_name", "column_name")

  /** Sketch variant for wide tables at scale: no Expand, single pass,
    * relative standard error ≤ `rsd` on the distinct counts. NULL-column
    * detection stays exact (null_count == total_rows is computed
    * exactly), as do null_count and total_rows.
    *
    * The sketch is a DataSketches HLL ([[Hll.approxDistinct]]), not
    * HyperLogLog++ (`approx_count_distinct`). HLL++ keeps 410 long
    * buffer fields per column at rsd 0.02, so a six-column table's
    * partial aggregate is 2,467 fields wide, runs outside whole-stage
    * codegen, and spends its tasks in Spark's code generator: on a
    * 40k-row events table (4 cores) that "cheap" mode took 1.5-1.9 s
    * where the exact [[profile]] took 0.5 s. The DataSketches buffer is
    * one binary field per column, and the same profile takes about
    * 0.45 s.
    */
  def approxProfile(tableName: String, df: DataFrame, rsd: Double = 0.02): DataFrame =
    longProfile(tableName, df)(c => Hll.approxDistinct(rsd, Hll.hashable(c, df.schema(c).dataType)))

  /** One aggregation job over every column of `df` — `distinct(column)`,
    * an exact null count and the row count — exploded into one row per
    * column. A column whose null_count is total_rows reports distinct 0
    * whatever `distinct` estimates, so the NULL status is always exact.
    */
  private def longProfile(tableName: String, df: DataFrame)(
      distinct: String => Column): DataFrame = {
    val cols = df.columns.toSeq
    val aggs = cols.flatMap { c =>
      Seq(
        distinct(c).as(s"d__$c"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"n__$c"))
    } :+ count(lit(1)).as("total__")
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val entries = array(cols.map { c =>
      struct(
        lit(c).as("column_name"),
        col(s"d__$c").as("distinct_count"),
        col(s"n__$c").as("null_count"),
        col("total__").as("total_rows"))
    }: _*)
    wide
      .select(explode(entries).as("e"))
      .select(
        lit(tableName).as("table_name"),
        col("e.column_name"),
        when(col("e.null_count") === col("e.total_rows"), 0L)
          .otherwise(col("e.distinct_count")).as("distinct_count"),
        col("e.null_count"),
        col("e.total_rows"))
      .withColumn("status", statusCol(col("distinct_count")))
      .orderBy("column_name")
  }

  /** Static oracle-SQL generator mirroring [[profile]] for DuckDB. */
  def oracleSql(tableName: String, columns: Seq[String]): String = {
    val parts = columns.map { c =>
      s"""SELECT '$tableName' AS table_name, '$c' AS column_name,
         |  count(DISTINCT $c) AS distinct_count,
         |  count(*) - count($c) AS null_count,
         |  count(*) AS total_rows
         |FROM $tableName""".stripMargin
    }
    s"""SELECT table_name, column_name, distinct_count, null_count, total_rows,
       |  CASE WHEN distinct_count = 0 THEN 'NULL'
       |       WHEN distinct_count <= $LowDistinctThreshold THEN 'LOW_DISTINCT'
       |       ELSE 'OK' END AS status
       |FROM (${parts.mkString("\n", "\nUNION ALL\n", "\n")}) t
       |ORDER BY column_name""".stripMargin
  }
}
