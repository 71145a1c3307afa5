package graft.operators.checks

import graft.operators.ColumnProfile
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-quality checks framework — the reference's "Planned Checks"
  * (reference: README.md:360-367 lists completeness, uniqueness, format,
  * range/boundary, value validation, statistical analysis, dependency
  * checks as the roadmap; none are implemented there — this is our
  * first-class realization of that roadmap).
  *
  * Scale design: every check over a single table is ONE aggregation job
  * (map-side partial agg → one tiny shuffle), independent of how many
  * columns/rules are checked. Referential integrity is a broadcast or
  * shuffle left_anti join, never a driver-side loop. Nothing collects
  * rows to the driver; every check returns a small DataFrame report.
  */
object Checks {

  // ---------------------------------------------------------------- #13
  /** Completeness: per-column null counts and ratios in one pass. */
  object Completeness {
    def run(tableName: String, df: DataFrame, columns: Seq[String] = Nil): DataFrame = {
      val cols = if (columns.nonEmpty) columns else df.columns.toSeq
      val aggs = ColumnProfile.nullCounts(cols)
      val wide = df.agg(aggs.head, aggs.tail: _*)
      val entries = array(cols.zipWithIndex.map { case (c, i) =>
        struct(lit(c).as("column_name"), col(s"n$i").as("null_count"))
      }: _*)
      wide.select(col("total"), explode(entries).as("e"))
        .select(
          lit(tableName).as("table_name"),
          col("e.column_name"),
          col("e.null_count"),
          col("total").as("total_rows"),
          round(col("e.null_count") * 100.0 / col("total"), 2).as("null_pct"))
        .withColumn("status",
          when(col("null_count") === 0, "COMPLETE")
            .when(col("null_count") === col("total_rows"), "ALL_NULL")
            .otherwise("PARTIAL"))
        .orderBy("column_name")
    }

    def oracleSql(tableName: String, columns: Seq[String]): String = {
      val parts = columns.map { c =>
        s"""SELECT '$tableName' AS table_name, '$c' AS column_name,
           |  count(*) - count($c) AS null_count, count(*) AS total_rows
           |FROM $tableName""".stripMargin
      }
      s"""SELECT table_name, column_name, null_count, total_rows,
         |  round(null_count * 100.0 / total_rows, 2) AS null_pct,
         |  CASE WHEN null_count = 0 THEN 'COMPLETE'
         |       WHEN null_count = total_rows THEN 'ALL_NULL'
         |       ELSE 'PARTIAL' END AS status
         |FROM (${parts.mkString("\n", "\nUNION ALL\n", "\n")}) t
         |ORDER BY column_name""".stripMargin
    }
  }

  // ---------------------------------------------------------------- #14
  /** Uniqueness / duplicate detection on a key column set: one
    * aggregation computing total, distinct-key and duplicated-row counts.
    */
  object Uniqueness {
    def run(tableName: String, df: DataFrame, keyCols: Seq[String]): DataFrame = {
      val keys = keyCols.map(col)
      // groupBy key → per-key counts (map-side combine), then a tiny
      // second agg over the key-count table. Two shuffles of which the
      // second is over already-aggregated data.
      val perKey = df.groupBy(keys: _*).agg(count(lit(1)).as("cnt"))
      perKey.agg(
        sum("cnt").as("total_rows"),
        count(lit(1)).as("distinct_keys"),
        sum(when(col("cnt") > 1, col("cnt")).otherwise(0L)).as("rows_in_duplicate_keys"),
        sum(when(col("cnt") > 1, 1L).otherwise(0L)).as("duplicated_keys"))
        .select(
          lit(tableName).as("table_name"),
          lit(keyCols.mkString(",")).as("key_columns"),
          col("total_rows"), col("distinct_keys"),
          col("duplicated_keys"), col("rows_in_duplicate_keys"))
        .withColumn("status",
          when(col("duplicated_keys") === 0, "UNIQUE").otherwise("DUPLICATES"))
    }

    def oracleSql(tableName: String, keyCols: Seq[String]): String = {
      val k = keyCols.mkString(", ")
      s"""SELECT '$tableName' AS table_name, '${keyCols.mkString(",")}' AS key_columns,
         |  CAST(sum(cnt) AS BIGINT) AS total_rows, count(*) AS distinct_keys,
         |  CAST(sum(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT) AS duplicated_keys,
         |  CAST(sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS BIGINT) AS rows_in_duplicate_keys,
         |  CASE WHEN sum(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) = 0
         |       THEN 'UNIQUE' ELSE 'DUPLICATES' END AS status
         |FROM (SELECT $k, count(*) AS cnt FROM $tableName GROUP BY $k) t""".stripMargin
    }
  }

  // ---------------------------------------------------------------- #15
  /** Format validation: regex rules evaluated inside one projection+agg
    * (rlike is codegen'd; no UDF). Regexes restricted to the common
    * Java/RE2 subset so the DuckDB oracle agrees.
    */
  final case class FormatRule(column: String, name: String, regex: String)

  object FormatCheck {
    def run(tableName: String, df: DataFrame, rules: Seq[FormatRule]): DataFrame = {
      val aggs = rules.flatMap { r =>
        val c = col(r.column)
        Seq(
          sum(when(c.isNotNull && c.rlike(r.regex), 1L).otherwise(0L)).as(s"v__${r.name}"),
          sum(when(c.isNotNull && !c.rlike(r.regex), 1L).otherwise(0L)).as(s"i__${r.name}"),
          sum(when(c.isNull, 1L).otherwise(0L)).as(s"n__${r.name}"))
      }
      val wide = df.agg(aggs.head, aggs.tail: _*)
      val entries = array(rules.map { r =>
        struct(
          lit(r.column).as("column_name"), lit(r.name).as("rule_name"),
          lit(r.regex).as("regex"),
          col(s"v__${r.name}").as("valid_count"),
          col(s"i__${r.name}").as("invalid_count"),
          col(s"n__${r.name}").as("null_count"))
      }: _*)
      wide.select(explode(entries).as("e"))
        .select(lit(tableName).as("table_name"), col("e.*"))
        .withColumn("status",
          when(col("invalid_count") === 0, "PASS").otherwise("FAIL"))
        .orderBy("rule_name")
    }

    def oracleSql(tableName: String, rules: Seq[FormatRule]): String = {
      val parts = rules.map { r =>
        // DuckDB single-quoted strings are literal (no backslash escapes),
        // so only quote-doubling is needed.
        val re = r.regex.replace("'", "''")
        s"""SELECT '$tableName' AS table_name, '${r.column}' AS column_name,
           |  '${r.name}' AS rule_name, '$re' AS regex,
           |  CAST(sum(CASE WHEN ${r.column} IS NOT NULL AND regexp_matches(${r.column}, '$re') THEN 1 ELSE 0 END) AS BIGINT) AS valid_count,
           |  CAST(sum(CASE WHEN ${r.column} IS NOT NULL AND NOT regexp_matches(${r.column}, '$re') THEN 1 ELSE 0 END) AS BIGINT) AS invalid_count,
           |  CAST(sum(CASE WHEN ${r.column} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_count
           |FROM $tableName""".stripMargin
      }
      s"""SELECT *, CASE WHEN invalid_count = 0 THEN 'PASS' ELSE 'FAIL' END AS status
         |FROM (${parts.mkString("\n", "\nUNION ALL\n", "\n")}) t
         |ORDER BY rule_name""".stripMargin
    }
  }

  // ---------------------------------------------------------------- #16
  /** Range / boundary validation: numeric bounds per rule, one agg. */
  final case class RangeRule(column: String, name: String, min: Double, max: Double)

  object RangeCheck {
    def run(tableName: String, df: DataFrame, rules: Seq[RangeRule]): DataFrame = {
      val aggs = rules.flatMap { r =>
        val c = col(r.column)
        Seq(
          sum(when(c.isNotNull && c >= r.min && c <= r.max, 1L).otherwise(0L)).as(s"in__${r.name}"),
          sum(when(c.isNotNull && c < r.min, 1L).otherwise(0L)).as(s"lo__${r.name}"),
          sum(when(c.isNotNull && c > r.max, 1L).otherwise(0L)).as(s"hi__${r.name}"),
          sum(when(c.isNull, 1L).otherwise(0L)).as(s"nu__${r.name}"))
      }
      val wide = df.agg(aggs.head, aggs.tail: _*)
      val entries = array(rules.map { r =>
        struct(
          lit(r.column).as("column_name"), lit(r.name).as("rule_name"),
          lit(r.min).as("min_bound"), lit(r.max).as("max_bound"),
          col(s"in__${r.name}").as("in_range_count"),
          col(s"lo__${r.name}").as("below_count"),
          col(s"hi__${r.name}").as("above_count"),
          col(s"nu__${r.name}").as("null_count"))
      }: _*)
      wide.select(explode(entries).as("e"))
        .select(lit(tableName).as("table_name"), col("e.*"))
        .withColumn("status",
          when(col("below_count") + col("above_count") === 0, "PASS").otherwise("FAIL"))
        .orderBy("rule_name")
    }

    def oracleSql(tableName: String, rules: Seq[RangeRule]): String = {
      val parts = rules.map { r =>
        s"""SELECT '$tableName' AS table_name, '${r.column}' AS column_name,
           |  '${r.name}' AS rule_name,
           |  CAST(${r.min} AS DOUBLE) AS min_bound, CAST(${r.max} AS DOUBLE) AS max_bound,
           |  CAST(sum(CASE WHEN ${r.column} IS NOT NULL AND ${r.column} >= ${r.min} AND ${r.column} <= ${r.max} THEN 1 ELSE 0 END) AS BIGINT) AS in_range_count,
           |  CAST(sum(CASE WHEN ${r.column} IS NOT NULL AND ${r.column} < ${r.min} THEN 1 ELSE 0 END) AS BIGINT) AS below_count,
           |  CAST(sum(CASE WHEN ${r.column} IS NOT NULL AND ${r.column} > ${r.max} THEN 1 ELSE 0 END) AS BIGINT) AS above_count,
           |  CAST(sum(CASE WHEN ${r.column} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_count
           |FROM $tableName""".stripMargin
      }
      s"""SELECT *, CASE WHEN below_count + above_count = 0 THEN 'PASS' ELSE 'FAIL' END AS status
         |FROM (${parts.mkString("\n", "\nUNION ALL\n", "\n")}) t
         |ORDER BY rule_name""".stripMargin
    }
  }

  // ---------------------------------------------------------------- #17
  /** Statistical profile of numeric columns: min/max/avg/stddev/median in
    * one aggregation. `median` is exact (continuous interpolation) to
    * match DuckDB's `median`; at 100 TB swap `approxMedian = true` for
    * `percentile_approx`, which is a single-pass sketch.
    */
  object StatsCheck {
    def run(tableName: String, df: DataFrame, columns: Seq[String],
            approxMedian: Boolean = false): DataFrame = {
      val aggs = columns.flatMap { c =>
        val med =
          if (approxMedian) percentile_approx(col(c), lit(0.5), lit(10000))
          else median(col(c))
        Seq(
          min(col(c)).cast("double").as(s"mn__$c"),
          max(col(c)).cast("double").as(s"mx__$c"),
          avg(col(c)).as(s"av__$c"),
          stddev(col(c)).as(s"sd__$c"),
          med.cast("double").as(s"md__$c"),
          count(col(c)).as(s"ct__$c"))
      }
      val wide = df.agg(aggs.head, aggs.tail: _*)
      val entries = array(columns.map { c =>
        struct(
          lit(c).as("column_name"),
          col(s"mn__$c").as("min_value"), col(s"mx__$c").as("max_value"),
          col(s"av__$c").as("avg_value"), col(s"sd__$c").as("stddev_value"),
          col(s"md__$c").as("median_value"), col(s"ct__$c").as("non_null_count"))
      }: _*)
      wide.select(explode(entries).as("e"))
        .select(
          lit(tableName).as("table_name"),
          col("e.column_name"),
          round(col("e.min_value"), 2).as("min_value"),
          round(col("e.max_value"), 2).as("max_value"),
          round(col("e.avg_value"), 2).as("avg_value"),
          round(col("e.stddev_value"), 2).as("stddev_value"),
          round(col("e.median_value"), 2).as("median_value"),
          col("e.non_null_count"))
        .orderBy("column_name")
    }

    def oracleSql(tableName: String, columns: Seq[String]): String = {
      val parts = columns.map { c =>
        s"""SELECT '$tableName' AS table_name, '$c' AS column_name,
           |  round(CAST(min($c) AS DOUBLE), 2) AS min_value,
           |  round(CAST(max($c) AS DOUBLE), 2) AS max_value,
           |  round(avg($c), 2) AS avg_value,
           |  round(stddev($c), 2) AS stddev_value,
           |  round(CAST(median($c) AS DOUBLE), 2) AS median_value,
           |  count($c) AS non_null_count
           |FROM $tableName""".stripMargin
      }
      s"""SELECT * FROM (${parts.mkString("\n", "\nUNION ALL\n", "\n")}) t
         |ORDER BY column_name""".stripMargin
    }
  }

  // ---------------------------------------------------------------- #17b
  /** Cross-catalog drift detection: the statistical profile computed
    * on a source AND a target table (ONE single-pass aggregation per
    * side — never per column), compared metric-by-metric against a
    * relative tolerance. The dbstats source/target reconciliation
    * extended from row counts to distributions: catches a silently
    * skewed reload where the counts still match.
    */
  object StatsCompare {
    private val Metrics = Seq("mean", "stddev", "min", "max", "null_count")

    def run(colNames: Seq[String], source: DataFrame, target: DataFrame,
            tolerancePct: Double): DataFrame = {
      def side(df: DataFrame, tag: String) = {
        val aggs = colNames.flatMap { c =>
          Seq(
            avg(col(c)).as(s"${tag}_mean__$c"),
            stddev(col(c)).as(s"${tag}_stddev__$c"),
            min(col(c)).cast("double").as(s"${tag}_min__$c"),
            max(col(c)).cast("double").as(s"${tag}_max__$c"),
            (count(lit(1)) - count(col(c))).cast("double").as(s"${tag}_null_count__$c"))
        }
        df.agg(aggs.head, aggs.tail: _*)
      }
      val joined = side(source, "s").crossJoin(side(target, "t"))
      val entries = array(colNames.flatMap { c =>
        Metrics.map { m =>
          struct(lit(c).as("column_name"), lit(m).as("metric"),
            col(s"s_${m}__$c").as("source_value"),
            col(s"t_${m}__$c").as("target_value"))
        }
      }: _*)
      // pct_diff from the RAW values — rounding first would quantize
      // drift detection (an 8% shift on a mean of 0.05 vanishes at
      // 2 decimals); rounding is display-only, applied at the end
      val s = col("e.source_value"); val t = col("e.target_value")
      joined.select(explode(entries).as("e"))
        .withColumn("pct_diff",
          when(s.isNull && t.isNull, 0.0)
            .when(s === 0 && t === 0, 0.0)
            .when(s === 0, lit(null).cast("double"))
            .otherwise(round((t - s) * 100.0 / abs(s), 2)))
        .withColumn("status",
          when(col("pct_diff").isNull, "DRIFT")
            .when(abs(col("pct_diff")) <= tolerancePct, "OK")
            .otherwise("DRIFT"))
        .select(col("e.column_name"), col("e.metric"),
          round(s, 2).as("source_value"), round(t, 2).as("target_value"),
          col("pct_diff"), col("status"))
        .orderBy("column_name", "metric")
    }

    /** source/target are full SELECTs so a perturbed or remote-loaded
      * twin can be compared against the original.
      */
    def oracleSql(colNames: Seq[String], sourceSql: String, targetSql: String,
                  tolerancePct: Double): String = {
      val exprs = Map[String, String => String](
        "mean" -> (c => s"avg($c)"),
        "stddev" -> (c => s"stddev($c)"),
        "min" -> (c => s"CAST(min($c) AS DOUBLE)"),
        "max" -> (c => s"CAST(max($c) AS DOUBLE)"),
        "null_count" -> (c => s"CAST(count(*) - count($c) AS DOUBLE)"))
      // mirror the Spark shape: ONE aggregation pass per side (a 1-row
      // CTE of every metric), not a scalar subquery per (column, metric)
      def sideCte(tag: String) =
        colNames.flatMap(c => Metrics.map(m =>
          s"${exprs(m)(c)} AS ${tag}_${m}__$c")).mkString(", ")
      val parts = for { c <- colNames; m <- Metrics } yield
        s"""SELECT '$c' AS column_name, '$m' AS metric,
           |  s_${m}__$c AS source_value, t_${m}__$c AS target_value
           |FROM both_sides""".stripMargin
      s"""WITH src AS (SELECT ${sideCte("s")} FROM ($sourceSql) x),
         |tgt AS (SELECT ${sideCte("t")} FROM ($targetSql) x),
         |both_sides AS (SELECT * FROM src CROSS JOIN tgt),
         |raw AS (${parts.mkString("\n", "\nUNION ALL\n", "\n")}),
         |d AS (
         |  SELECT *,
         |    CASE WHEN source_value IS NULL AND target_value IS NULL THEN 0.0
         |         WHEN source_value = 0 AND target_value = 0 THEN 0.0
         |         WHEN source_value = 0 THEN NULL
         |         ELSE round((target_value - source_value) * 100.0 / abs(source_value), 2)
         |    END AS pct_diff
         |  FROM raw)
         |SELECT column_name, metric,
         |  round(source_value, 2) AS source_value,
         |  round(target_value, 2) AS target_value,
         |  pct_diff,
         |  CASE WHEN pct_diff IS NULL THEN 'DRIFT'
         |       WHEN abs(pct_diff) <= $tolerancePct THEN 'OK'
         |       ELSE 'DRIFT' END AS status
         |FROM d ORDER BY column_name, metric""".stripMargin
    }
  }

  // ---------------------------------------------------------------- #18
  /** Referential integrity: orphaned foreign keys via left_anti join.
    * The dimension side is broadcast when small; at scale AQE converts
    * the shuffle join to broadcast automatically once the dim fits.
    */
  object Referential {
    final case class FkRule(name: String, fkCol: String, pkCol: String)

    def run(child: DataFrame, parent: DataFrame, rule: FkRule): DataFrame = {
      val orphans = child
        .where(col(rule.fkCol).isNotNull)
        .join(parent.select(col(rule.pkCol)),
          col(rule.fkCol) === col(rule.pkCol), "left_anti")
      val totals = child.agg(
        count(lit(1)).as("child_rows"),
        sum(when(col(rule.fkCol).isNull, 1L).otherwise(0L)).as("null_fk_rows"))
      orphans.agg(count(lit(1)).as("orphan_rows"))
        .crossJoin(totals)
        .select(
          lit(rule.name).as("fk_name"),
          lit(rule.fkCol).as("fk_column"),
          lit(rule.pkCol).as("pk_column"),
          col("child_rows"), col("null_fk_rows"), col("orphan_rows"))
        .withColumn("status",
          when(col("orphan_rows") === 0, "PASS").otherwise("FAIL"))
    }

    def runAll(rules: Seq[(FkRule, DataFrame, DataFrame)]): DataFrame =
      rules.map { case (r, c, p) => run(c, p, r) }
        .reduce(_ unionAll _).orderBy("fk_name")

    def oracleSql(rules: Seq[(String, String, String, String, String)]): String = {
      // (name, childTable, fkCol, parentTable, pkCol)
      val parts = rules.map { case (name, ct, fk, pt, pk) =>
        s"""SELECT '$name' AS fk_name, '$fk' AS fk_column, '$pk' AS pk_column,
           |  (SELECT count(*) FROM $ct) AS child_rows,
           |  (SELECT count(*) FROM $ct WHERE $fk IS NULL) AS null_fk_rows,
           |  (SELECT count(*) FROM $ct WHERE $fk IS NOT NULL
           |     AND NOT EXISTS (SELECT 1 FROM $pt WHERE $pt.$pk = $ct.$fk)) AS orphan_rows""".stripMargin
      }
      s"""SELECT *, CASE WHEN orphan_rows = 0 THEN 'PASS' ELSE 'FAIL' END AS status
         |FROM (${parts.mkString("\n", "\nUNION ALL\n", "\n")}) t
         |ORDER BY fk_name""".stripMargin
    }
  }

  // ---------------------------------------------------------------- #18b
  /** Value validation (reference README.md:365): each column is checked
    * against an explicit allowed-value set. One aggregation job for all
    * rules; NULLs are counted separately, not as violations.
    */
  object ValueSet {
    final case class ValueRule(column: String, name: String, allowed: Seq[String])

    def run(tableName: String, df: DataFrame, rules: Seq[ValueRule]): DataFrame = {
      val aggs = rules.flatMap { r =>
        val c = col(r.column)
        val allowed = array(r.allowed.map(lit): _*)
        // coalesce: sum() over an EMPTY table is NULL, which would turn
        // status into FAIL (NULL === 0 is null) and diverge from the
        // oracle's count(*) = 0 → PASS
        Seq(
          coalesce(sum(when(c.isNotNull && array_contains(allowed, c.cast("string")), 1L)
            .otherwise(0L)), lit(0L)).as(s"v__${r.name}"),
          coalesce(sum(when(c.isNotNull && !array_contains(allowed, c.cast("string")), 1L)
            .otherwise(0L)), lit(0L)).as(s"i__${r.name}"),
          coalesce(sum(when(c.isNull, 1L).otherwise(0L)), lit(0L)).as(s"n__${r.name}"))
      } :+ count(lit(1)).as("total__")
      val wide = df.agg(aggs.head, aggs.tail: _*)
      val entries = array(rules.map { r =>
        struct(lit(r.name).as("rule_name"), lit(r.column).as("column_name"),
          col(s"v__${r.name}").as("valid_rows"),
          col(s"i__${r.name}").as("invalid_rows"),
          col(s"n__${r.name}").as("null_rows"))
      }: _*)
      wide.select(col("total__"), explode(entries).as("e"))
        .select(
          lit(tableName).as("table_name"),
          col("e.rule_name"), col("e.column_name"),
          col("e.valid_rows"), col("e.invalid_rows"), col("e.null_rows"),
          col("total__").as("total_rows"))
        .withColumn("status", when(col("invalid_rows") === 0, "PASS").otherwise("FAIL"))
        .orderBy("rule_name")
    }

    def oracleSql(tableName: String, rules: Seq[ValueRule]): String = {
      val parts = rules.map { r =>
        val set = r.allowed.map(v => s"'$v'").mkString(", ")
        s"""SELECT '$tableName' AS table_name, '${r.name}' AS rule_name,
           |  '${r.column}' AS column_name,
           |  (SELECT count(*) FROM $tableName
           |     WHERE ${r.column} IS NOT NULL AND CAST(${r.column} AS VARCHAR) IN ($set)) AS valid_rows,
           |  (SELECT count(*) FROM $tableName
           |     WHERE ${r.column} IS NOT NULL AND CAST(${r.column} AS VARCHAR) NOT IN ($set)) AS invalid_rows,
           |  (SELECT count(*) FROM $tableName WHERE ${r.column} IS NULL) AS null_rows,
           |  (SELECT count(*) FROM $tableName) AS total_rows""".stripMargin
      }
      s"""SELECT *, CASE WHEN invalid_rows = 0 THEN 'PASS' ELSE 'FAIL' END AS status
         |FROM (${parts.mkString("\n", "\nUNION ALL\n", "\n")}) t
         |ORDER BY rule_name""".stripMargin
    }
  }
}
