package graft

import java.nio.file.{Files, Paths}

import graft.functions.Hll
import graft.operators.NullCheck
import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.aggregate.Partial
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The approximate-distinct primitive: a DataSketches HLL whose
  * aggregation buffer is one field per sketch, the column types
  * [[NullCheck.approxProfile]] accepts, and the rsd range.
  */
class HllSpec extends AnyFunSuite {
  import TestSpark._

  /** Output widths of the partial aggregates in `df`'s physical plan. */
  private def partialWidths(df: DataFrame): Seq[Int] =
    df.queryExecution.sparkPlan.collect {
      case a: BaseAggregateExec if a.aggregateExpressions.exists(_.mode == Partial) => a.output.size
    }

  test("approxProfile's partial aggregate holds one buffer field per sketch") {
    val events = Tables(spark, sf0001, "events")
    val widths = partialWidths(NullCheck.approxProfile("events", events))
    // HyperLogLog++ at rsd 0.02 made this 410 fields per column (2,467)
    assert(widths.nonEmpty && widths.forall(_ <= 3 * events.columns.length + 1), widths)
  }

  test("approxDistinct: 50 sketches make a 50-field partial aggregate") {
    val df = spark.range(1000).select((1 to 50).map(i => (col("id") % i).as(s"c$i")): _*)
    val sketches = df.columns.toSeq.map(c => Hll.approxDistinct(0.02, col(c)))
    val widths = partialWidths(df.agg(sketches.head, sketches.tail: _*))
    assert(widths.nonEmpty && widths.forall(_ <= 50), widths)
  }

  test("approxProfile: every column type, exact nulls, distincts within 5 rsd of profile") {
    val df = allTypes
    val schema = df.schema
    val rsd = 0.02
    def byColumn(p: DataFrame) = p.collect().map(r =>
      r.getString(1) -> (r.getLong(2), r.getLong(3), r.getLong(4), r.getString(5))).toMap
    val exact = NullCheck.profile("t", df)
    val approx = NullCheck.approxProfile("t", df, rsd)
    assert(approx.schema == exact.schema)
    val (e, a) = (byColumn(exact), byColumn(approx))
    assert(a.keySet == schema.fieldNames.toSet)
    schema.fieldNames.foreach { c =>
      val (ed, en, et, es) = e(c)
      val (ad, an, at, as) = a(c)
      assert((an, at) == (en, et), c)
      assert((as == "NULL") == (es == "NULL"), c)
      if (ed > 0)
        assert(math.abs(ad - ed).toDouble / ed <= 5 * rsd, s"$c: approx $ad vs exact $ed")
    }
    assert(a("allnull") == ((0L, 3000L, 3000L, "NULL")))
    val empty = NullCheck.approxProfile("t", df.limit(0), rsd).collect()
    assert(empty.length == schema.length && empty.forall(_.getLong(2) == 0L))
  }

  test("approxDistinct: NULL members are not counted, tuples are") {
    import spark.implicits._
    val df = Seq[(Option[Int], Option[String])](
      (Some(1), Some("a")), (Some(1), Some("b")), (Some(1), Some("a")),
      (None, Some("a")), (Some(2), None), (None, None)).toDF("x", "y")
    val r = df.agg(Hll.approxDistinct(0.02, col("x"), col("y")),
      Hll.approxDistinct(0.02, col("x")), Hll.approxDistinct(0.02, col("y"))).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((2L, 2L, 2L)))
  }

  test("lgK: DataSketches RSE within rsd, lgK outside [4, 21] rejected") {
    assert(Hll.lgK(0.02) == 12) // HyperLogLog++'s 4096 buckets at the same rsd
    assert(Hll.lgK(0.05) == 9 && Hll.lgK(0.01) == 14)
    Seq(0.3, 0.05, 0.02, 0.01, 0.001).foreach { rsd =>
      val k = Hll.lgK(rsd)
      assert(1.04 / math.sqrt(1 << k) <= rsd && 1.04 / math.sqrt(1 << (k - 1)) > rsd, rsd)
    }
    assert(Hll.lgK(0.36) == 4 && Hll.lgK(0.00072) == 21)
    Seq(0.37, 0.39, 1.0, 0.0007, 0.0, -0.02, Double.NaN).foreach { rsd =>
      val e = intercept[IllegalArgumentException](Hll.lgK(rsd))
      assert(e.getMessage.contains("[4, 21]"), e.getMessage)
    }
    intercept[IllegalArgumentException](NullCheck.approxProfile("t", spark.range(3).toDF(), 0.5))
  }

  test("approx_count_distinct appears under src/main only at the documented HyperLogLog++ sites") {
    // HyperLogLog++'s buffer is 410 long fields per sketch at rsd 0.02;
    // new approximate distincts go through Hll.approxDistinct. The
    // grouped events_hourly_approx rollup (and its agreement twin) and
    // the streaming hourly aggregate keep HyperLogLog++ on purpose.
    val needle = "approx_count_distinct|approxCountDistinct|HyperLogLogPlusPlus".r
    val files = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala")).toSeq
    assert(files.exists(_.endsWith(Paths.get("graft/SparkEntry.scala"))),
      "scan must run from the repository root")
    val sites = files.flatMap { p =>
      val lines = Files.readAllLines(p).asScala.toVector
      lines.indices.collect {
        case i if needle.findFirstIn(lines(i).split("//")(0)).isDefined &&
            !Seq("*", "/*").exists(lines(i).trim.startsWith) =>
          val enclosing = lines.take(i + 1).reverseIterator
            .flatMap(l => """\bdef (\w+)""".r.findFirstMatchIn(l).map(_.group(1))).nextOption()
          s"${p.getFileName}:${enclosing.getOrElse("?")}"
      }
    }.distinct.sorted
    assert(sites == Seq("EventStream.scala:hourlyAgg",
      "RelationalQueries.scala:eventsHourlyApprox",
      "RelationalQueries.scala:eventsHourlyApproxAgreement"))
  }
}
