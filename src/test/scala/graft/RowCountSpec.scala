package graft

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import graft.operators.RowCount
import graft.sources.{ParquetDirConnection, PartitionedWrite, Tables}
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Footer row counts against Spark's own answer: every case compares
  * with `df.count()` or with the `count(*)` plan, which every frame keeps
  * when `spark.sql.files.ignoreCorruptFiles` is on.
  */
class RowCountSpec extends AnyFunSuite {
  import TestSpark._

  private def withDir[T](body: String => T): T = {
    val base = Files.createTempDirectory("graft_rowcount").toString
    try body(base) finally FileUtils.deleteDirectory(new File(base))
  }

  private def withConf[T](key: String, value: String)(body: => T): T = {
    val old = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  private def countMap(df: DataFrame): Map[String, Long] =
    df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  /** The footer arm's decision for `frames`, and their counts by name. */
  private def footer(frames: (String, DataFrame)*): (RowCount.Decision, Map[String, Option[Long]]) = {
    val sources = frames.map { case (n, df) => n -> RowCount.listing(spark, df) }
    (RowCount.decide("spec", sources), frames.map(_._1).zip(RowCount.footerCounts(spark, "spec", sources)).toMap)
  }

  /** `build`'s schema and rows equal those of the count(*) plan it gives
    * with ignoreCorruptFiles on, and it starts `jobs` Spark jobs before
    * its action (none on the driver arm). Returns the rows.
    */
  private def sameAsCountPlan(build: => DataFrame, jobs: Int = 0): Seq[Row] = {
    var df: DataFrame = null
    assert(jobGroupsOf { df = build }.size == jobs, "the footer path ran another number of jobs")
    val plan = withConf("spark.sql.files.ignoreCorruptFiles", "true")(build)
    assert(df.schema == plan.schema)
    val rows = df.collect().toSeq
    assert(rows == plan.collect().toSeq)
    rows
  }

  /** A three-file table with `_SUCCESS`, a `_metadata` summary file and
    * a `._COPYING_` copy in progress (both valid parquet files the scan
    * must not count) and a zero-length `.parquet` file.
    */
  private def multiFile(base: String): DataFrame = {
    import spark.implicits._
    val dir = s"$base/multi.parquet"
    (1 to 100).map(i => (i, s"r$i")).toDF("id", "s").repartition(3).write.parquet(dir)
    val part = new File(dir).listFiles().find(_.getName.startsWith("part-")).get
    Files.copy(part.toPath, new File(dir, "_metadata").toPath, StandardCopyOption.REPLACE_EXISTING)
    Files.copy(part.toPath, new File(dir, "part-x.parquet._COPYING_").toPath)
    new File(dir, "part-zero-length.parquet").createNewFile()
    assert(new File(dir, "_SUCCESS").exists())
    spark.read.parquet(dir)
  }

  test("multi-file directory: summary, marker, in-copy and zero-length files count as the scan counts them") {
    withDir { base =>
      val df = multiFile(base)
      val n = df.count()
      assert(n == 100)
      val (d, counts) = footer("multi" -> df)
      assert(counts == Map("multi" -> Some(n)))
      assert(d.files == 3 && d.onDriver && d.fallbacks.isEmpty)
      assert(sameAsCountPlan(RowCount.counts(spark, Map("multi" -> df))) == Seq(Row("multi", n)))
      assert(countMap(RowCount.metaCounts(spark, base, Seq("multi"))) == Map("multi" -> n))
    }
  }

  test("partitioned layout and an empty table count as the scan counts them") {
    import spark.implicits._
    withDir { base =>
      val docs = Tables(spark, sf0001, "documents")
      PartitionedWrite.write(docs, s"$base/docs_part.parquet", partitionCol = "lang")
      Seq.empty[(Int, String)].toDF("id", "s").write.parquet(s"$base/empty.parquet")
      val part = Tables(spark, base, "docs_part")
      val empty = Tables(spark, base, "empty")
      assert(empty.count() == 0)
      val (d, counts) = footer("docs_part" -> part, "empty" -> empty)
      assert(counts == Map("docs_part" -> Some(docs.count()), "empty" -> Some(0L)))
      assert(d.fallbacks.isEmpty)
      val rows = sameAsCountPlan(RowCount.counts(spark, Map("docs_part" -> part, "empty" -> empty)))
      assert(rows == Seq(Row("docs_part", part.count()), Row("empty", 0L)))
      // a table directory with no data file at all is an empty table too
      new File(s"$base/nodata.parquet").mkdir()
      new File(s"$base/nodata.parquet/_SUCCESS").createNewFile()
      assert(countMap(RowCount.metaCounts(spark, base, Seq("docs_part", "empty", "nodata"))) ==
        Map("docs_part" -> docs.count(), "empty" -> 0L, "nodata" -> 0L))
    }
  }

  test("filtered, non-parquet, joined and ignoreCorruptFiles frames keep their count(*) plan") {
    withDir { base =>
      val region = Tables(spark, sf0001, "region")
      region.write.json(s"$base/region.json")
      region.write.option("header", "true").csv(s"$base/region.csv")
      val json = spark.read.json(s"$base/region.json")
      val csv = spark.read.option("header", "true").csv(s"$base/region.csv")
      val join = region.join(Tables(spark, sf0001, "nation"), region("r_regionkey") === col("n_regionkey"))
      val filtered = region.where("r_regionkey >= 2")
      val ignoring = spark.read.option("ignoreCorruptFiles", "true").parquet(Tables.path(sf0001, "region"))
      val (d, counts) = footer("json" -> json, "csv" -> csv, "join" -> join,
        "filtered" -> filtered, "ignoring" -> ignoring, "region" -> region)
      assert(counts == Map("json" -> None, "csv" -> None, "join" -> None,
        "filtered" -> None, "ignoring" -> None, "region" -> Some(5L)))
      assert(d.fallbacks.map(_._1) == Seq("json", "csv", "join", "filtered", "ignoring"))
      assert(d.toString.contains("filtered (Filter above the scan)"))
      withConf("spark.sql.files.ignoreCorruptFiles", "true") {
        assert(footer("region" -> region)._2 == Map("region" -> None))
      }
      withConf("spark.sql.files.ignoreMissingFiles", "true") {
        assert(footer("region" -> region)._2 == Map("region" -> None))
      }
      // the mixed call: footer rows and count(*) rows in one ordered result
      val frames = Map("json" -> json, "csv" -> csv, "join" -> join, "filtered" -> filtered,
        "region" -> region)
      assert(countMap(RowCount.counts(spark, frames)) == frames.map { case (n, df) => n -> df.count() })
      assert(RowCount.counts(spark, frames).collect().map(_.getString(0)).toSeq == frames.keys.toSeq.sorted)
    }
  }

  test("Connection.rowCounts: a where clause keeps the count(*) plan, none reads footers") {
    val conn = new ParquetDirConnection(spark, sf0001, Seq("region", "nation"))
    assert(RowCount.listing(spark, conn.table("region").where("r_regionkey >= 2")).isLeft)
    val region = Tables(spark, sf0001, "region")
    assert(countMap(conn.rowCounts(Seq("region"), Some("r_regionkey >= 2"))) ==
      Map("region" -> region.where("r_regionkey >= 2").count()))
    assert(sameAsCountPlan(conn.rowCounts(Seq("region", "nation"))) ==
      Seq(Row("nation", Tables(spark, sf0001, "nation").count()), Row("region", region.count())))
  }

  test("compare and compareCatalogs: same rows, schema and errors as the count(*) plan") {
    import spark.implicits._
    withDir { base =>
      Seq(1, 2, 3).toDF("x").write.parquet(s"$base/a3.parquet")
      Seq(1, 2, 3, 4, 5).toDF("x").write.parquet(s"$base/a5.parquet")
      Seq.empty[Int].toDF("x").write.parquet(s"$base/a0.parquet")
      def t(n: String) = Tables(spark, base, n)
      assert(sameAsCountPlan(RowCount.compare(spark, Seq(("a3_vs_a5", t("a3"), t("a5")),
        ("a5_vs_a3", t("a5"), t("a3"))))) ==
        Seq(Row("a3_vs_a5", 3L, 5L, 2L, 66.67), Row("a5_vs_a3", 5L, 3L, -2L, -40.0)))
      // a pair with one side that keeps count(*) counts both sides that way
      val mixed = Seq(("a5_vs_a3", t("a5"), t("a3")), ("mixed", t("a3"), t("a5").where("x > 1")))
      assert(sameAsCountPlan(RowCount.compare(spark, mixed)) ==
        Seq(Row("a5_vs_a3", 5L, 3L, -2L, -40.0), Row("mixed", 3L, 4L, 1L, 33.33)))
      assert(sameAsCountPlan(RowCount.compareCatalogs(spark, Map("m" -> t("a3")), Map("m" -> t("a5").limit(2)))) ==
        Seq(Row("m", 3L, 2L, -1L, "BOTH")))
      // a zero source count divides by zero on both paths alike
      def failure(df: => DataFrame) = intercept[Exception](df.collect()).getClass
      val zero = Seq(("a0_vs_a3", t("a0"), t("a3")))
      assert(failure(RowCount.compare(spark, zero)) ==
        withConf("spark.sql.files.ignoreCorruptFiles", "true")(failure(RowCount.compare(spark, zero))))
      val both = Map("shared" -> t("a3"), "other" -> t("a5"))
      assert(sameAsCountPlan(RowCount.compareCatalogs(spark, both, both)) ==
        Seq(Row("other", 5L, 5L, 0L, "BOTH"), Row("shared", 3L, 3L, 0L, "BOTH")))
      assert(sameAsCountPlan(RowCount.compareCatalogs(spark,
          Map("shared" -> t("a3"), "src_only" -> t("a5")),
          Map("shared" -> t("a5"), "tgt_only" -> t("a3")))) ==
        Seq(Row("shared", 3L, 5L, 2L, "BOTH"), Row("src_only", null, null, null, "ONLY_IN_SOURCE"),
          Row("tgt_only", null, null, null, "ONLY_IN_TARGET")))
    }
  }

  test("gate queries give the count(*) plan's rows; both arms count every gate table as Spark does") {
    val names = Seq("rowcount", "rowcount_compare", "rowcount_catalogs")
    def run(name: String) = {
      val df = SparkEntry.queries(name)(spark, sf0001)
      (df.schema, df.collect().toSeq)
    }
    val plan = withConf("spark.sql.files.ignoreCorruptFiles", "true")(names.map(run))
    assert(names.map(run) == plan)
    // rowcount_meta takes a directory, not frames: Spark's count per table
    val scans = Tables.all.sorted.map(t => Row(t, Tables(spark, sf0001, t).count()))
    assert(SparkEntry.queries("rowcount_meta")(spark, sf0001).collect().toSeq == scans)
    val tables = Tables.load(spark, sf0001).toSeq.sortBy(_._1)
    assert(footer(tables: _*)._1.onDriver)
    val listed = tables.map { case (_, df) => RowCount.listing(spark, df).toOption.get }
    val scanned = tables.map(_._2.count())
    assert(RowCount.onDriver(spark, listed) == scanned)
    var executors: Seq[Long] = Nil
    assert(jobGroupsOf { executors = RowCount.onExecutors(spark, listed) }.size == 1)
    assert(executors == scanned)
  }

  test("above DriverMaxFiles one executor job counts the call as Spark does") {
    import spark.implicits._
    withDir { base =>
      Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "s").coalesce(1).write.parquet(s"$base/one.parquet")
      val part = new File(s"$base/one.parquet").listFiles().find(_.getName.startsWith("part-")).get
      val many = new File(s"$base/many.parquet")
      many.mkdir()
      (0 to RowCount.DriverMaxFiles).foreach(i => Files.copy(part.toPath, new File(many, f"part-$i%05d.parquet").toPath))
      val (one, all) = (Tables(spark, base, "one"), Tables(spark, base, "many"))
      val n = all.count()
      assert(n == 3L * (RowCount.DriverMaxFiles + 1))
      val (d, counts) = footer("many" -> all)
      assert(!d.onDriver && counts == Map("many" -> Some(n)))
      assert(sameAsCountPlan(RowCount.counts(spark, Map("many" -> all, "one" -> one)), jobs = 1) ==
        Seq(Row("many", n), Row("one", 3L)))
      assert(countMap(RowCount.metaCounts(spark, base, Seq("many", "one"))) == Map("many" -> n, "one" -> 3L))
      assert(sameAsCountPlan(RowCount.compare(spark, Seq(("p", one, all))), jobs = 1) ==
        Seq(Row("p", 3L, n, n - 3, (n - 3) * 100.0 / 3)))
      assert(sameAsCountPlan(RowCount.compareCatalogs(spark, Map("t" -> all), Map("t" -> one)), jobs = 1) ==
        Seq(Row("t", n, 3L, 3 - n, "BOTH")))
    }
  }
}
