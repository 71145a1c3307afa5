package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for the whole test JVM, built like
  * every shipped entry point's (same recommended planner confs).
  */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.local(4)
  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"
}
