package graft

import java.sql.Timestamp

import graft.streaming.EventStream
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming windowed aggregation (SURVEY §2 #24) driven by a
  * MemoryStream, checked against the equivalent batch aggregation.
  */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def ts(hhmm: String) = Timestamp.valueOf(s"2026-01-01 $hhmm:00")

  test("hourly windowed agg with watermark matches the batch twin") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, String, Double)]
    val events = input.toDF().toDF("ts", "user_id", "event_type", "value")

    val query = EventStream.hourlyAgg(events)
      .writeStream.format("memory").queryName("hourly_test")
      .outputMode("complete").start()
    try {
      val batch1 = Seq(
        (ts("10:05"), 1L, "click", 1.5),
        (ts("10:20"), 2L, "click", 2.5),
        (ts("10:40"), 1L, "view", 1.0),
        (ts("11:10"), 3L, "click", 4.0))
      val batch2 = Seq(
        (ts("11:50"), 3L, "click", 1.0),
        (ts("12:05"), 4L, "view", 2.0))
      input.addData(batch1: _*)
      query.processAllAvailable()
      input.addData(batch2: _*)
      query.processAllAvailable()

      val got = spark.table("hourly_test")
        .select("hour", "event_type", "n_events", "sum_value")
        .collect().map(r => (r.getTimestamp(0), r.getString(1)) ->
          (r.getLong(2), r.getDouble(3))).toMap

      // batch twin over the same rows
      val want = (batch1 ++ batch2).toDF("ts", "user_id", "event_type", "value")
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("s"))
        .collect().map(r => (r.getTimestamp(0), r.getString(1)) ->
          (r.getLong(2), r.getDouble(3))).toMap

      assert(got == want)
      assert(got.size == 4) // (10,click) (10,view) (11,click) (12,view)
      assert(got((ts("11:00"), "click")) == ((2L, 5.0))) // 11:10 + 11:50 in one window
    } finally query.stop()
  }

  test("streaming curation keeps what the batch twin keeps: dups, quality, language") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val en = ("the a of and to in is on for with " * 12).trim
    val rows = Seq(
      (1L, ts("10:00"), en),                                  // keep
      (2L, ts("10:05"), en + " "),                            // exact dup of 1 → dropped
      (3L, ts("10:10"), "zxq! #@%"),                          // low quality → dropped
      (4L, ts("10:15"), ("lorem ipsum dolor sit amet " * 25).trim), // wrong lang
      (5L, ts("10:20"), "where is the cat and the dog on the mat of the house"),
      (6L, ts("10:25"), null),                                // null text → 'und' → dropped
      (7L, ts("10:30"), null))                                // same, both engines agree
    val input = MemoryStream[(Long, Timestamp, String)]
    val query = graft.streaming.CurateStream.run(
        input.toDF().toDF("doc_id", "ts", "text"))
      .writeStream.format("memory").queryName("curate_stream")
      .outputMode("append").start()
    try {
      input.addData(rows.take(3): _*)
      query.processAllAvailable()
      input.addData(rows.drop(3): _*)
      query.processAllAvailable()
      val streamed = spark.table("curate_stream")
        .collect().map(_.getLong(0)).toSet
      // batch twin over the same rows — arrival order == id order here,
      // so the kept sets must agree exactly
      val batch = graft.operators.text.Curate.run(
          rows.map(r => (r._1, r._3)).toDF("doc_id", "text"))
        .where(col("keep") === 1).collect().map(_.getLong(0)).toSet
      assert(streamed == batch)
      assert(streamed == Set(1L, 5L))
      // kept rows carry the row-local signals computed in-stream
      val kept = spark.table("curate_stream")
        .collect().map(r => r.getLong(0) -> r.getString(5)).toMap
      assert(kept.values.forall(_ == "en"))
    } finally query.stop()
  }

  test("streaming curation drops empty and whitespace-only text as the batch twin does") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val en = ("the a of and to in is on for with " * 12).trim
    val rows = Seq(
      (1L, ts("10:00"), en),     // keep
      (2L, ts("10:05"), ""),     // empty → low_quality, not a divide by zero
      (3L, ts("10:10"), " \t "), // whitespace-only: the same empty normalized text
      (4L, ts("10:15"), "where is the cat and the dog on the mat of the house"))
    val input = MemoryStream[(Long, Timestamp, String)]
    val query = graft.streaming.CurateStream.run(
        input.toDF().toDF("doc_id", "ts", "text"))
      .writeStream.format("memory").queryName("curate_stream_empty")
      .outputMode("append").start()
    try {
      input.addData(rows: _*)
      query.processAllAvailable()
      val streamed = spark.table("curate_stream_empty")
        .collect().map(_.getLong(0)).toSet
      val batch = graft.operators.text.Curate.run(
          rows.map(r => (r._1, r._3)).toDF("doc_id", "text"))
      // both normalize to "": the later one is the first one's duplicate
      val reasons = batch.collect().map(r => r.getLong(0) -> r.getAs[String]("drop_reason")).toMap
      assert(reasons(2L) == "low_quality" && reasons(3L) == "duplicate", reasons)
      assert(streamed == batch.where(col("keep") === 1).collect().map(_.getLong(0)).toSet)
      assert(streamed == Set(1L, 4L))
    } finally query.stop()
  }

  test("stateless operators (hashSplit) run unchanged on streams, same assignments") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Long]
    val query = graft.operators.Sampling.hashSplit(
      input.toDF().toDF("doc_id"), "doc_id",
      Seq("train" -> 0.8, "test" -> 0.2))
      .writeStream.format("memory").queryName("split_stream")
      .outputMode("append").start()
    try {
      input.addData(0L until 500L: _*)
      query.processAllAvailable()
      val streamed = spark.table("split_stream")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val batch = graft.operators.Sampling.hashSplit(
        (0L until 500L).toDF("doc_id"), "doc_id",
        Seq("train" -> 0.8, "test" -> 0.2))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      // identical assignment batch vs stream — membership is a pure
      // function of the id, not of execution mode
      assert(streamed == batch)
    } finally query.stop()
  }

  test("stream-stream interval join matches the batch join on the same rows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Long, Timestamp, Long)]
    val errors = MemoryStream[(Timestamp, Long, Double)]
    val query = EventStream.intervalJoin(
      clicks.toDF().toDF("event_id", "ts", "user_id"),
      errors.toDF().toDF("ts", "user_id", "value"),
      keyCol = "user_id", windowMinutes = 30)
      .writeStream.format("memory").queryName("ij_test")
      .outputMode("append").start()
    try {
      errors.addData((ts("10:00"), 1L, 0.5), (ts("10:40"), 1L, 0.7),
        (ts("10:05"), 2L, 0.9))
      clicks.addData((100L, ts("10:20"), 1L), (101L, ts("10:50"), 1L),
        (102L, ts("11:00"), 2L))
      query.processAllAvailable()
      // advance both watermarks so all joinable pairs emit
      errors.addData((ts("13:00"), 9L, 0.0))
      clicks.addData((999L, ts("13:00"), 9L))
      query.processAllAvailable()

      val got = spark.table("ij_test").where(col("event_id") < 999)
        .select("event_id", "value").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toSet
      // click 100 @10:20 sees the 10:00 error (within 30 min); click
      // 101 @10:50 sees both the 10:40 error and NOT 10:00 (50 min
      // old); click 102 @11:00 for user 2 sees nothing (55 min old)
      assert(got == Set(100L -> 0.5, 101L -> 0.7))
    } finally query.stop()
  }

  test("append mode emits only watermark-closed windows (bounded state)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, String, Double)]
    val events = input.toDF().toDF("ts", "user_id", "event_type", "value")

    val query = EventStream.hourlyAgg(events, watermark = "1 hour")
      .writeStream.format("memory").queryName("hourly_append")
      .outputMode("append").start()
    try {
      input.addData((ts("08:10"), 1L, "click", 1.0))
      query.processAllAvailable()
      // advance event time far enough that the 08:00 window closes
      input.addData((ts("11:00"), 2L, "click", 1.0))
      query.processAllAvailable()
      input.addData((ts("11:30"), 2L, "click", 1.0))
      query.processAllAvailable()
      val emitted = spark.table("hourly_append").collect()
        .map(r => (r.getTimestamp(0), r.getString(1))).toSet
      assert(emitted.contains((ts("08:00"), "click")))
      // 11:00 window is still open (watermark at 10:30) → not emitted yet
      assert(!emitted.contains((ts("11:00"), "click")))
    } finally query.stop()
  }

  test("streaming dedup drops repeated ids within the watermark, bounded state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, Double)]
    val events = input.toDF().toDF("ts", "event_id", "value")
    val query = EventStream.dedupWithinWatermark(events, Seq("event_id"))
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    try {
      input.addData((ts("10:00"), 1L, 1.0), (ts("10:05"), 1L, 1.0), (ts("10:10"), 2L, 2.0))
      query.processAllAvailable()
      input.addData((ts("10:20"), 1L, 1.0)) // still within watermark → dropped
      query.processAllAvailable()
      val ids = spark.table("dedup_stream").collect().map(_.getLong(1)).toSeq.sorted
      assert(ids == Seq(1L, 2L))
    } finally query.stop()
  }

  test("streaming incremental dedup: stream-static corpus membership matches the batch twin") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq((1L, "the quick brown fox"), (2L, "lorem ipsum dolor"))
      .toDF("doc_id", "text")
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().toDF("doc_id", "text")
    val query = EventStream.dedupAgainstCorpus(docs, corpus)
      .writeStream.format("memory").queryName("incr_dedup_stream")
      .outputMode("append").start()
    try {
      input.addData(
        (10L, "the  QUICK   brown fox "), // normalizes to corpus content 1
        (11L, "genuinely new content"),
        (12L, "lorem ipsum dolor"))       // exact corpus content 2
      query.processAllAvailable()
      val got = spark.table("incr_dedup_stream").collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("in_corpus")).toMap
      assert(got == Map(10L -> true, 11L -> false, 12L -> true))
      // batch twin agrees row for row
      val batch = graft.operators.dedup.Dedup.IncrementalDedup.report(
        Seq((10L, "the  QUICK   brown fox "), (11L, "genuinely new content"),
          (12L, "lorem ipsum dolor")).toDF("doc_id", "text"), corpus)
        .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
      assert(batch == got)
    } finally query.stop()
  }

  test("file-source streaming: parquet files appearing in a directory flow through the agg") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_stream").toString
    try {
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType),
        org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType)))
      val stream = spark.readStream.schema(schema).parquet(dir)
      val query = EventStream.hourlyAgg(stream)
        .writeStream.format("memory").queryName("file_hourly")
        .outputMode("complete").start()
      try {
        Seq((ts("09:10"), 1L, "click", 2.0), (ts("09:40"), 2L, "click", 3.0))
          .toDF("ts", "user_id", "event_type", "value")
          .coalesce(1).write.mode("append").parquet(dir)
        query.processAllAvailable()
        Seq((ts("10:05"), 1L, "view", 1.0))
          .toDF("ts", "user_id", "event_type", "value")
          .coalesce(1).write.mode("append").parquet(dir)
        query.processAllAvailable()
        val got = spark.table("file_hourly")
          .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
        assert(got == Map(
          (ts("09:00"), "click") -> 2L,
          (ts("10:00"), "view") -> 1L))
      } finally query.stop()
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("stateful sessionization: gap closes sessions, timeout flushes idle state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, Double)]
    val events = input.toDF().toDF("ts", "user_id", "value")

    val query = graft.streaming.SessionizeStream
      .sessions(events, gapMinutes = 30, watermark = "10 minutes")
      .writeStream.format("memory").queryName("sessions_test")
      .outputMode("append").start()
    try {
      // user 1: two events 10 min apart (one session), then one at 12:00
      input.addData((ts("10:00"), 1L, 1.0), (ts("10:10"), 1L, 2.5))
      query.processAllAvailable()
      input.addData((ts("12:00"), 1L, 4.0))
      query.processAllAvailable()
      // the 12:00 event exceeds the 30-min gap → first session emitted
      val afterGap = spark.table("sessions_test").as[graft.streaming.SessionizeStream.Session]
        .collect()
      assert(afterGap.length == 1)
      assert(afterGap.head == graft.streaming.SessionizeStream.Session(
        1L, ts("10:00"), ts("10:10"), 2, 3.5))

      // a far-future event for another user advances the watermark past
      // 12:00+gap → user 1's idle session times out and flushes
      input.addData((ts("23:00"), 2L, 1.0))
      query.processAllAvailable()
      input.addData((ts("23:59"), 2L, 1.0))
      query.processAllAvailable()
      val all = spark.table("sessions_test").as[graft.streaming.SessionizeStream.Session]
        .collect().sortBy(s => (s.user_id, s.session_start.getTime))
      assert(all.exists(s => s.user_id == 1L &&
        s.session_start == ts("12:00") && s.n_events == 1 && s.sum_value == 4.0),
        s"12:00 session not flushed by timeout: ${all.mkString(", ")}")
    } finally query.stop()
  }
}
