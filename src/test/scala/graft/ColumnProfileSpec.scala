package graft

import graft.operators.{KeyFinder, NullCheck}
import graft.sources.Tables
import graft.tools.Probe
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The exact column-set profile under [[NullCheck.profile]] and
  * [[KeyFinder.candidateReport]]: its counts against SQL's
  * `COUNT(DISTINCT …)` over every column type, and a plan whose
  * generated classes are reused when a table is read again.
  */
class ColumnProfileSpec extends AnyFunSuite {
  import TestSpark._

  /** A frame with NULLs that fall on different rows per column, so a
    * combination's NULL rows are a union, plus duplicate tuples.
    */
  private lazy val staggered: DataFrame = {
    import spark.implicits._
    (0 until 600).map { n =>
      (if (n % 7 == 0) None else Some(n % 40), if (n % 5 == 0) None else Some(s"v${n % 9}"),
        if (n % 13 == 0) None else Some(n.toLong), Some(n % 3 == 0))
    }.toDF("a", "b", "c", "d")
  }

  /** The formula both reports used before they shared one plan, computed
    * with Catalyst's own `countDistinct`: (distinct, nulls, total).
    */
  private def reference(df: DataFrame, cb: Seq[String]): (Long, Option[Long], Long) = {
    val anyNull: Column = cb.map(col(_).isNull).reduce(_ || _)
    val r = df.agg(countDistinct(cb.head, cb.tail: _*),
      sum(when(anyNull, 1L).otherwise(0L)), count(lit(1))).collect()(0)
    (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1)), r.getLong(2))
  }

  private def checkProfile(df: DataFrame): Unit = {
    val got = NullCheck.profile("t", df).collect()
    assert(got.map(_.getString(1)).toSeq == df.columns.toSeq.sorted)
    got.foreach { r =>
      val c = r.getString(1)
      val (d, n, t) = reference(df, Seq(c))
      val distinct = if (n.contains(t)) 0L else d
      val status = if (distinct == 0) "NULL" else if (distinct <= 5) "LOW_DISTINCT" else "OK"
      assert((r.getLong(2), Option(r.get(3)), r.getLong(4), r.getString(5)) ==
        ((distinct, n, t, status)), c)
    }
  }

  private def checkReport(df: DataFrame, candidates: Seq[String], size: Int): Unit = {
    val got = KeyFinder.candidateReport(spark, df, candidates, size).collect()
    val combos = KeyFinder.prioritizeIdColumns(candidates).combinations(size).toSeq
    assert(got.map(_.getString(0)).toSeq == combos.map(_.mkString(",")).sorted)
    got.foreach { r =>
      val cb = r.getString(0).split(",").toSeq
      val (d, n, t) = reference(df, cb)
      val nulls = n.getOrElse(0L)
      assert((r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(5)) ==
        ((size, d, nulls, t, nulls == 0 && d == t)), cb)
    }
  }

  test("profile: every column type and the all-NULL column match COUNT(DISTINCT)") {
    checkProfile(allTypes)
    val rows = NullCheck.profile("t", allTypes).collect().map(r => r.getString(1) -> r).toMap
    assert(rows("allnull").toSeq.drop(2) == Seq(0L, 3000L, 3000L, "NULL"))
  }

  test("profile: an empty frame reports distinct 0, null_count NULL, total 0") {
    checkProfile(allTypes.limit(0))
    val rows = NullCheck.profile("t", allTypes.limit(0)).collect()
    assert(rows.length == allTypes.columns.length)
    assert(rows.forall(r => r.getLong(2) == 0L && r.isNullAt(3) && r.getLong(4) == 0L &&
      r.getString(5) == "NULL"))
  }

  test("candidateReport: combinations of 2 and 3 with NULL members match COUNT(DISTINCT)") {
    checkReport(staggered, Seq("a", "b", "c", "d"), 1)
    checkReport(staggered, Seq("a", "b", "c", "d"), 2)
    checkReport(staggered, Seq("a", "b", "c", "d"), 3)
    checkReport(allTypes, Seq("l", "s", "bin", "arr", "st", "m", "allnull"), 2)
    checkReport(allTypes, Seq("i", "d", "dt", "b", "m", "allnull"), 3)
    // more members than candidates: no combination, an empty report
    assert(KeyFinder.candidateReport(spark, staggered, Seq("a", "b"), 3).collect().isEmpty)
  }

  test("candidateReport: an empty frame reports n_nulls 0") {
    checkReport(staggered.limit(0), Seq("a", "b", "c"), 2)
    val rows = KeyFinder.candidateReport(spark, staggered.limit(0), Seq("a", "b", "c"), 2).collect()
    assert(rows.length == 3 && rows.forall(r => r.getLong(2) == 0L && r.getLong(3) == 0L))
  }

  test("re-reading a table compiles no new classes for profile and candidateReport") {
    // Catalyst's multi-distinct rewrite ordered its Expand by fresh
    // exprIds, so each read of the same table generated new code.
    // Suites run one after another in the test JVM, so the global
    // compile counter's delta belongs to this test.
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
    def round(): Long = {
      val (before, _) = Probe.compiled()
      val orders = Tables(spark, sf0001, "orders")
      NullCheck.profile("orders", orders).collect()
      KeyFinder.candidateReport(spark, orders, cols, 1).collect()
      KeyFinder.candidateReport(spark, orders, cols, 2).collect()
      Probe.compiled()._1 - before
    }
    round()
    assert(round() == 0)
  }
}
