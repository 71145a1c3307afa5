package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for the whole test JVM, built like
  * every shipped entry point's (same recommended planner confs).
  */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.local(4)
  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"

  /** The `spark.jobGroup.id` (null when unset) of every Spark job `body`
    * starts, in start order. Two marker jobs bracket `body`; listener
    * events arrive in order, so the jobs between the markers' starts are
    * exactly `body`'s once the closing marker has been seen. Leaves the
    * calling thread with no job group.
    */
  def jobGroupsOf(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val marker = s"marker-${java.util.UUID.randomUUID}"
    val seen = new java.util.concurrent.LinkedBlockingQueue[Option[String]]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))))
    }
    def mark(): Unit = {
      sc.setJobGroup(marker, marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    }
    sc.addSparkListener(listener)
    try {
      mark()
      body
      mark()
      val groups = Iterator.continually(seen.poll(60, java.util.concurrent.TimeUnit.SECONDS))
        .map(g => if (g == null) sys.error("listener never saw the closing marker job") else g)
        .dropWhile(!_.contains(marker)).drop(1)
        .takeWhile(!_.contains(marker)).toVector
      groups.map(_.orNull)
    } finally sc.removeSparkListener(listener)
  }
}
