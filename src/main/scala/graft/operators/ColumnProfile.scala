package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructField, StructType}

/** Exact (distinct, nulls, total) for many column sets from one plan
  * that graft writes in a fixed order, so a re-read table reuses its
  * generated classes (Catalyst's rewrite of n `countDistinct`s orders
  * its Expand by fresh exprIds and recompiles). Each row fans out into
  * one `(i, f, slots…)` row per set `i`: `f` says whether a member is
  * NULL, and the set's value (a column, or a struct of a combination's
  * columns) sits in its data type's slot, so a row is as wide as the
  * number of types, not sets. One grouped aggregate counts the rows per
  * `(i, f, slots…)`; one keyless aggregate sums them into one wide row,
  * exploded into a row per set. A union of single-distinct aggregates,
  * or a final aggregate grouped by set, ran more jobs and lost on
  * dq_wide's catalog of small tables.
  */
private[operators] object ColumnProfile {

  /** One row per set, in `sets` order: `name` (members joined by ","),
    * `distinct_count` (distinct tuples with no NULL member, SQL
    * `COUNT(DISTINCT …)`), `null_count` (rows with a NULL member) and
    * `total_rows`. On an empty input null_count is NULL, as SQL's SUM
    * over no rows, and the counts are 0.
    */
  def exact(df: DataFrame, sets: Seq[Seq[String]]): DataFrame = {
    if (sets.isEmpty) // no set to fan out into (e.g. size > candidates): no rows
      return df.limit(0).select(lit("").as("name"), lit(0L).as("distinct_count"),
        lit(null).cast("long").as("null_count"), lit(0L).as("total_rows"))
    val values = sets.map {
      case Seq(c) => (col(c), df.schema(c).dataType)
      case cb => (struct(cb.zipWithIndex.map { case (c, j) => col(c).as(s"_$j") }: _*),
        StructType(cb.zipWithIndex.map { case (c, j) => StructField(s"_$j", df.schema(c).dataType) }))
    }
    val slots: Seq[DataType] = values.map(_._2).distinct
    val rows = sets.zip(values).zipWithIndex.map { case ((cb, (value, t)), i) =>
      val anyNull = cb.map(col(_).isNull).reduce(_ || _)
      val slotValues = slots.zipWithIndex.map { case (s, k) =>
        (if (s == t) when(!anyNull, value) else lit(null).cast(s)).as(s"s$k")
      }
      struct(lit(i).as("i") +: anyNull.as("f") +: slotValues: _*)
    }
    val grouped = df.select(inline(array(rows: _*)))
      .groupBy(col("i") +: col("f") +: slots.indices.map(k => col(s"s$k")): _*)
      .agg(count(lit(1)).as("n"))
    val aggs = sets.indices.flatMap { i =>
      val inSet = col("i") === i
      Seq(count(when(inSet && !col("f"), 1)).as(s"d$i"),
        sum(when(inSet && col("f"), col("n")).otherwise(0L)).as(s"n$i"))
    } :+ coalesce(sum(when(col("i") === 0, col("n"))), lit(0L)).as("total")
    longForm(grouped.agg(aggs.head, aggs.tail: _*), sets.map(_.mkString(",")))
  }

  /** Per-column NULL counts `n0 … nn-1` and the row count `total`: the
    * no-distinct part of a profile, for a caller's own one-row aggregate.
    */
  def nullCounts(columns: Seq[String]): Seq[Column] =
    columns.indices.map(i => sum(when(col(columns(i)).isNull, 1L).otherwise(0L)).as(s"n$i")) :+
      count(lit(1)).as("total")

  /** A one-row frame of `d0, n0, d1, n1, …, total` exploded into one
    * `(name, distinct_count, null_count, total_rows)` row per name.
    */
  def longForm(wide: DataFrame, names: Seq[String]): DataFrame =
    wide.select(inline(array(names.zipWithIndex.map { case (name, i) =>
      struct(lit(name).as("name"), col(s"d$i").as("distinct_count"),
        col(s"n$i").as("null_count"), col("total").as("total_rows"))
    }: _*)))
}
