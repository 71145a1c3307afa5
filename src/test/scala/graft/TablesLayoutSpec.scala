package graft

import graft.sources.Tables
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT64
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

/** The driver has shipped `events.ts` in two physical parquet layouts
  * across rounds: TIMESTAMP(NANOS) (Spark 4 reads it only as a raw long
  * via the legacy nanosAsLong conf) and plain tz-naive TIMESTAMP(MICROS).
  * Tables.apply must normalize BOTH to a session-UTC TimestampType with
  * identical values, probing the footer schema rather than assuming a
  * layout. Fixtures are written in-test so this holds regardless of what
  * /root/testdata currently carries.
  *
  * Tables reads each path-backed table's schema from one parquet footer
  * on the driver; the tests below pin that schema to the one Spark's own
  * inference gives, and pin that loading starts no Spark job.
  */
class TablesLayoutSpec extends AnyFunSuite {
  import TestSpark._

  // 2021-03-04T05:06:07.123456789 UTC in epoch nanos; micros truncation
  // (div 1000, matching DuckDB's TIMESTAMP_NS -> us read) drops the 789.
  private val nanos = Seq(1614834367123456789L, 1614834367999999999L, 0L)
  private val wantMicros = nanos.map(_ / 1000L)

  private def tmpDir(): String =
    Files.createTempDirectory("tables_layout").toString

  /** events.parquet with `ts` as parquet TIMESTAMP(NANOS). */
  private def nanosFixture(): String = {
    val dir = tmpDir()
    val schema = Types.buildMessage()
      .required(INT64)
        .as(LogicalTypeAnnotation.timestampType(false, LogicalTypeAnnotation.TimeUnit.NANOS))
        .named("ts")
      .required(INT64).named("event_id")
      .named("events")
    val writer = ExampleParquetWriter
      .builder(new Path(s"$dir/events.parquet"))
      .withType(schema)
      .withConf(new Configuration())
      .build()
    val fac = new SimpleGroupFactory(schema)
    nanos.zipWithIndex.foreach { case (n, i) =>
      val g = fac.newGroup()
      g.append("ts", n)
      g.append("event_id", i.toLong)
      writer.write(g)
    }
    writer.close()
    dir
  }

  /** events.parquet with `ts` as tz-naive micros, written by Spark. */
  private def ntzFixture(): String = {
    val dir = tmpDir()
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val src = wantMicros.zipWithIndex
      .toDF("us", "event_id")
      .select(
        timestamp_micros(col("us")).cast(TimestampNTZType).as("ts"),
        col("event_id").cast("long"))
    assert(src.schema("ts").dataType == TimestampNTZType)
    src.write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("nanos layout: ts long is rebuilt as truncated-micros TimestampType") {
    val dir = nanosFixture()
    val df = Tables(spark, dir, "events")
    assert(df.schema("ts").dataType == TimestampType)
    val got = df.orderBy("event_id").collect()
      .map(_.getAs[Timestamp]("ts"))
      .map(t => t.getTime / 1000 * 1000000 + t.getNanos / 1000)
    assert(got.toSeq == wantMicros)
  }

  test("micros tz-naive layout: ts passes through as TimestampType, values preserved") {
    val dir = ntzFixture()
    val df = Tables(spark, dir, "events")
    assert(df.schema("ts").dataType == TimestampType)
    val got = df.orderBy("event_id").collect()
      .map(_.getAs[Timestamp]("ts"))
      .map(t => t.getTime / 1000 * 1000000 + t.getNanos / 1000)
    assert(got.toSeq == wantMicros)
  }

  test("driver testdata loads with a timestamp ts and rows") {
    val df = Tables(spark, sf0001, "events")
    assert(df.schema("ts").dataType == TimestampType)
    assert(df.limit(1).count() == 1)
  }

  /** Spark-written `orders` copies under one dir: `multi.parquet` has
    * three part files, `parts.parquet` is hive-partitioned on two columns.
    */
  private lazy val sparkWritten: String = {
    val dir = tmpDir()
    val orders = Tables(spark, sf0001, "orders")
    orders.repartition(3).write.parquet(Tables.path(dir, "multi"))
    orders.repartition(2).write.partitionBy("o_orderstatus", "o_orderpriority")
      .parquet(Tables.path(dir, "parts"))
    dir
  }

  private def inferred(p: String) = spark.read.parquet(p).schema

  test("schema parity: every sf0.001 table but events matches Spark's inference") {
    Tables.all.filterNot(_ == "events").foreach { t =>
      assert(Tables(spark, sf0001, t).schema == inferred(Tables.path(sf0001, t)), t)
    }
  }

  test("schema parity: multi-part and partitionBy directories, partition columns last") {
    val dir = sparkWritten
    assert(new java.io.File(Tables.path(dir, "multi")).list().count(_.endsWith(".parquet")) == 3)
    Seq("multi", "parts").foreach { t =>
      assert(Tables(spark, dir, t).schema == inferred(Tables.path(dir, t)), t)
    }
    val parts = Tables(spark, dir, "parts")
    assert(parts.columns.takeRight(2).toSeq == Seq("o_orderstatus", "o_orderpriority"))
    assert(parts.count() == Tables(spark, sf0001, "orders").count())
  }

  test("schema parity: nanos and NTZ events fixtures before the ts shim") {
    Seq(nanosFixture(), ntzFixture()).map(Tables.path(_, "events")).foreach { p =>
      assert(Tables.read(spark, p).schema == inferred(p), p)
    }
  }

  test("footer choice: _common_metadata wins over data files, as in Spark's inference") {
    val dir = tmpDir()
    val p = Tables.path(dir, "t")
    spark.range(3).selectExpr("id", "cast(id as string) s").coalesce(1).write.parquet(p)
    val other = tmpDir() + "/k"
    spark.range(3).selectExpr("cast(id as int) k").coalesce(1).write.parquet(other)
    val part = new java.io.File(other).listFiles().find(_.getName.endsWith(".parquet")).get
    Files.copy(part.toPath, Paths.get(p, "_common_metadata"))
    assert(inferred(p).fieldNames.toSeq == Seq("k"))
    assert(Tables(spark, dir, "t").schema == inferred(p))
  }

  test("loading tables starts zero Spark jobs") {
    val written = sparkWritten
    val fixtures = Seq(nanosFixture(), ntzFixture())
    val jobs = jobGroupsOf {
      Tables.load(spark, sf0001)
      Tables.load(spark, written, Seq("multi", "parts"))
      fixtures.foreach(Tables(spark, _, "events"))
    }
    assert(jobs.isEmpty, jobs)
  }

  test("a missing path or a directory without data keeps Spark's AnalysisException") {
    intercept[AnalysisException](Tables(spark, tmpDir(), "absent"))
    val dir = tmpDir()
    Files.createDirectory(Paths.get(Tables.path(dir, "t")))
    Files.createFile(Paths.get(Tables.path(dir, "t"), "_SUCCESS"))
    intercept[AnalysisException](Tables(spark, dir, "t"))
  }
}
