package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.RangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.tools.{Materialize, Probe}

/** Pins the round-14 bench-harness property (verdict-r13 #3): the timed
  * action executes the query's OWN optimized plan — every projection
  * included — where a stacked `.count()` lets Catalyst prune any column
  * the count doesn't need. The marker is an expensive per-row string
  * projection: under `.count()` it vanishes from the executed plan;
  * under [[Materialize.materializeCount]]'s `toRdd` it must survive,
  * in Bench and in every [[Probe]] mode.
  */
class BenchHonestySpec extends AnyFunSuite {

  private def spark = TestSpark.spark

  /** An enrichment-shaped frame: one row per input row, one cheap key,
    * one expensive derived column — the shape that hid text_quality's
    * 310 s for eleven rounds.
    */
  private def enrichment() = {
    spark.range(1000).toDF("doc_id")
      .withColumn("marker_expensive",
        sha2(concat_ws(":", col("doc_id"), lit("graft-bench-marker")), 256))
  }

  test("a stacked .count() prunes the enrichment projection (the trap)") {
    val df = enrichment()
    // plan the same aggregate .count() plans, and look for the marker
    val countPlan = df.groupBy().count().queryExecution.executedPlan.toString
    assert(!countPlan.contains("marker_expensive"),
      "if .count() stops pruning, the harness rationale changed — re-verify")
  }

  test("materializeCount runs the full projection and counts every row") {
    val df = enrichment()
    // the plan toRdd executes IS df's own executed plan
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("marker_expensive"),
      s"marker projection missing from the executed plan:\n$plan")
    assert(Materialize.materializeCount(df) === 1000L)
  }

  /** The plan `df` executed keeps the marker, and it is the plan that
    * ran: its own Range node counted every row.
    */
  private def assertRanWithMarker(mode: String, df: DataFrame): Unit = {
    val plan = Probe.finalPlan(df)
    assert(plan.toString.contains("marker_expensive"),
      s"$mode: marker projection missing from the executed plan:\n$plan")
    val scanned = plan.collect { case r: RangeExec => r.metrics("numOutputRows").value }
    assert(scanned == Seq(1000L), s"$mode: the returned plan is not the one that ran")
  }

  test("Probe time executes the full projection") {
    val r = Probe.time(enrichment())
    assert(r.rows === 1000L)
    assertRanWithMarker("time", r.df)
  }

  test("Probe profile executes the full projection and records its stages") {
    val (r, stages) = Probe.profile(spark, enrichment())
    assert(r.rows === 1000L)
    assert(stages.nonEmpty)
    assertRanWithMarker("profile", r.df)
  }

  test("Probe explain reports the plan of its one execution") {
    val (r, report) = Probe.explain(enrichment())
    assert(r.rows === 1000L)
    assert(report.contains("marker_expensive"), report)
    assertRanWithMarker("explain", r.df)
  }
}
