package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** One shared local SparkSession for the whole test JVM, built like
  * every shipped entry point's (same recommended planner confs).
  */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.local(4)
  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"

  /** 3000 rows over every column type (map, binary, array and struct
    * included), NULL in every 11th row, plus an all-NULL column.
    */
  lazy val allTypes: DataFrame = {
    val schema = StructType(Seq(
      StructField("l", LongType), StructField("i", IntegerType),
      StructField("s", StringType), StructField("d", DoubleType),
      StructField("dec", DecimalType(12, 2)), StructField("dt", DateType),
      StructField("ts", TimestampType), StructField("b", BooleanType),
      StructField("bin", BinaryType), StructField("arr", ArrayType(IntegerType)),
      StructField("st", StructType(Seq(StructField("x", IntegerType), StructField("y", StringType)))),
      StructField("m", MapType(StringType, IntegerType)),
      StructField("allnull", StringType)))
    val day0 = java.time.LocalDate.of(2020, 1, 1)
    val rows = (0 until 3000).map { n =>
      def orNull[T](v: T): Any = if (n % 11 == 0) null else v
      Row(orNull(n.toLong * 7919), orNull(n % 1000), orNull(s"s${n % 2500}"),
        orNull(n / 3 * 0.5), orNull(BigDecimal(n % 700) / 4),
        orNull(java.sql.Date.valueOf(day0.plusDays(n % 400))),
        orNull(java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(1600000000L + n * 37L))),
        orNull(n % 2 == 0), orNull(Array[Byte]((n % 120).toByte, (n % 7).toByte)),
        orNull(Seq(n % 50, n % 3)), orNull(Row(n % 60, s"y${n % 4}")),
        orNull(Map(s"k${n % 30}" -> n % 5)), null)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
  }

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
