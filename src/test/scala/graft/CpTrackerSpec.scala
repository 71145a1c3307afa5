package graft.operators.similarity

import graft.TestSpark
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** `CpTracker.finish` releases every tracked checkpoint even when the
  * report it collects throws: a failing ANN report must not pin its
  * shared-build blocks for the rest of the session.
  */
class CpTrackerSpec extends AnyFunSuite {

  test("a throwing report still releases every tracked checkpoint") {
    val spark = TestSpark.spark
    val t = new Similarity.RecallReport.CpTracker(release = true)
    val cp = t(spark.range(100).toDF("id"))
    val ids = cp.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd.id }
    assert(ids.nonEmpty)
    assert(ids.forall(spark.sparkContext.getPersistentRDDs.contains),
      "a tracked checkpoint should be persisted until finish")
    val report = cp.select(raise_error(lit("report failed")).as("boom"))
    val e = intercept[Exception](t.finish(report))
    assert(e.getMessage.contains("report failed"))
    val left = ids.filter(spark.sparkContext.getPersistentRDDs.contains)
    assert(left.isEmpty, s"checkpoints leaked after a failed report: $left")
  }
}
