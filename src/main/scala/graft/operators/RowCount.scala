package graft.operators

import java.io.FileNotFoundException

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.sources.Tables
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter.NO_FILTER
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.InputFile
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.FileSourceOptions
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, SubqueryAlias}
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Row-count statistics and source/target reconciliation.
  *
  * Reference semantics: dbqt/tools/dbstats.py:53 `get_row_count_for_table`
  * (one COUNT(*) per table via a thread pool) and dbstats.py:181-214
  * (difference + percentage_difference columns).
  *
  * Every entry point counts through one footer path ([[footerCounts]]),
  * as the reference's parquet backend does through pyarrow metadata
  * (dbqt/connections.py parquet `count_rows`). A frame qualifies when its
  * analyzed plan is a plain parquet relation (`ParquetFileFormat` itself,
  * not a subclass) with only `Project` or `SubqueryAlias` nodes above it.
  * Its count is the sum of the footer record counts over the relation's
  * own file listing, so Spark's listing filters apply. Spark's own
  * `count(*)` is no shortcut here: for the V1 parquet source
  * `OptimizeMetadataOnlyQuery` answers only partition columns, so a
  * count is a scan stage and a final aggregate per table.
  *
  * When a call reads at most [[DriverMaxFiles]] footer files, they are
  * read on the driver and the result is a local relation, so no Spark
  * job runs before the caller's action. Above it, one executor job reads
  * every footer of the call, one task per core.
  *
  * Every other frame keeps its `count(*)` plan: a `Filter`, `Limit` or
  * join above the scan, a non-parquet source (JDBC, JSON, CSV), a
  * streaming relation, and any frame read with `ignoreCorruptFiles` or
  * `ignoreMissingFiles` on (session conf or read option), whose scan may
  * skip files a footer read would fail on. A `compare` pair with such a
  * side counts both sides with `count(*)`. Output schemas, row order and
  * the `difference` / `percentage_difference` expressions are the same
  * on both paths. Each call logs its decision at INFO.
  */
object RowCount {

  private val log = org.slf4j.LoggerFactory.getLogger("graft.operators.RowCount")

  /** The most footer files one call reads on the driver; above it one
    * executor job reads them. The crossover measured on a 4-core local
    * session over local disk: the driver arm costs about 0.1 ms per
    * footer, the executor job about 14 ms plus 0.03 ms per footer, so
    * the driver won at every size up to 160 files, the two tied at 192
    * and the job won from 224. Storage with a higher per-read latency
    * (an object store) moves the crossover down; that was not measured.
    */
  private[graft] val DriverMaxFiles = 192

  /** The data files whose footers give a table's row count, and the
    * read options the scan would apply to its Hadoop conf.
    */
  private[graft] final case class Listing(files: Seq[FileStatus], options: Map[String, String])

  /** One call's choice: the data files it reads footers of, and the
    * frames that keep `count(*)` with the reason.
    */
  private[graft] final case class Decision(call: String, files: Int, fallbacks: Seq[(String, String)]) {
    def onDriver: Boolean = files <= DriverMaxFiles
    override def toString: String =
      s"rowcount $call: footers of $files files on the " +
        s"${if (onDriver) "driver" else "executors"} (driver up to $DriverMaxFiles); count(*) for " +
        (if (fallbacks.isEmpty) "none" else fallbacks.map { case (n, why) => s"$n ($why)" }.mkString(", "))
  }

  /** Which arm counts `sources`, and which of them keep count(*). */
  private[graft] def decide(call: String, sources: Seq[(String, Either[String, Listing])]): Decision =
    Decision(call, sources.collect { case (_, Right(l)) => l.files.size }.sum,
      sources.collect { case (n, Left(why)) => n -> why })

  /** The footer listing of `df`, or why its count keeps the count(*) plan. */
  private[graft] def listing(spark: SparkSession, df: DataFrame): Either[String, Listing] = {
    def relation(p: LogicalPlan): Either[String, LogicalRelation] = p match {
      case Project(_, child) => relation(child)
      case SubqueryAlias(_, child) => relation(child)
      case r: LogicalRelation => Right(r)
      case other => Left(s"${other.nodeName} above the scan")
    }
    relation(df.queryExecution.analyzed).flatMap { r =>
      r.relation match {
        case h: HadoopFsRelation if h.fileFormat.getClass == classOf[ParquetFileFormat] && !r.isStreaming =>
          val opts = CaseInsensitiveMap(h.options)
          val conf = spark.sessionState.conf
          def on(key: String, session: Boolean) = opts.get(key).fold(session)(_.toBoolean)
          if (on(FileSourceOptions.IGNORE_CORRUPT_FILES, conf.ignoreCorruptFiles) ||
              on(FileSourceOptions.IGNORE_MISSING_FILES, conf.ignoreMissingFiles))
            Left("ignoreCorruptFiles or ignoreMissingFiles is on")
          else Right(Listing(h.location.listFiles(Nil, Nil).flatMap(_.files.map(_.fileStatus)), h.options))
        case _ => Left("not a parquet file relation")
      }
    }
  }

  /** The row count of each listed source, read from parquet footers (on
    * the driver or in one executor job, by [[decide]]); None for a
    * source that keeps its count(*) plan. Logs the decision.
    */
  private[graft] def footerCounts(spark: SparkSession, call: String,
                                  sources: Seq[(String, Either[String, Listing])]): Seq[Option[Long]] = {
    val decision = decide(call, sources)
    if (log.isInfoEnabled) log.info(decision.toString)
    val listed = sources.collect { case (_, Right(l)) => l }
    val counts = (if (decision.onDriver) onDriver(spark, listed) else onExecutors(spark, listed)).iterator
    sources.map(_._2.toOption.map(_ => counts.next()))
  }

  private def footerRows(in: InputFile): Long =
    ParquetFileReader.readFooter(in, NO_FILTER).getBlocks.asScala.iterator.map(_.getRowCount).sum

  private[graft] def onDriver(spark: SparkSession, listed: Seq[Listing]): Seq[Long] = {
    val confs = mutable.Map.empty[Map[String, String], Configuration]
    listed.map { l =>
      val conf = confs.getOrElseUpdate(l.options - "path" - "paths",
        spark.sessionState.newHadoopConfWithOptions(l.options))
      l.files.iterator.map(f => footerRows(HadoopInputFile.fromStatus(f, conf))).sum
    }
  }

  private[graft] def onExecutors(spark: SparkSession, listed: Seq[Listing]): Seq[Long] = {
    // ship the session's hadoop conf to the tasks as plain pairs — a
    // fresh Configuration() there would drop spark.hadoop.* settings
    // (object-store credentials/endpoints) and fail on exactly the
    // deployments this arm exists for
    val base = spark.sessionState.newHadoopConf().iterator().asScala.map(e => (e.getKey, e.getValue)).toArray
    val options = listed.map(_.options - "path" - "paths").toArray
    val files = listed.zipWithIndex.flatMap { case (l, i) => l.files.map(f => (i, f.getPath.toString)) }
    val slices = math.max(1, math.min(files.size, spark.sparkContext.defaultParallelism))
    val sums = spark.sparkContext.parallelize(files, slices)
      .mapPartitions { part =>
        val confs = mutable.Map.empty[Int, Configuration]
        def conf(i: Int) = confs.getOrElseUpdate(i, {
          val c = new Configuration(false)
          (base ++ options(i)).foreach { case (k, v) => c.set(k, v) }
          c
        })
        part.map { case (i, f) => i -> footerRows(HadoopInputFile.fromPath(new Path(f), conf(i))) }
          .toSeq.groupMapReduce(_._1)(_._2)(_ + _).iterator
      }
      .collect().groupMapReduce(_._1)(_._2)(_ + _)
    listed.indices.map(sums.getOrElse(_, 0L))
  }

  /** `rows` as a local relation, sorted by their first column as
    * `orderBy` sorts strings, unioned with `parts` (the count(*) plans),
    * then `project`ed. Only a result with such parts is ordered by Spark:
    * a local relation needs no job to build, and `orderBy` over it would
    * add a range shuffle.
    */
  private def assemble(spark: SparkSession, schema: StructType, rows: Seq[Row],
                       parts: Seq[DataFrame])(project: DataFrame => DataFrame): DataFrame = {
    val local = spark.createDataFrame(rows.sortBy(r => UTF8String.fromString(r.getString(0))).asJava, schema)
    val all = project(parts.foldLeft(local)(_ unionAll _))
    if (parts.isEmpty) all else all.orderBy(schema.head.name)
  }

  private def countOf(df: DataFrame, as: String): DataFrame = df.groupBy().agg(count(lit(1)).as(as))

  /** (table_name, row_count) for each named table — single-config mode. */
  def counts(spark: SparkSession, tables: Map[String, DataFrame]): DataFrame = {
    val named = tables.toSeq.sortBy(_._1)
    val footer = footerCounts(spark, "counts", named.map { case (n, df) => n -> listing(spark, df) })
    val (rows, parts) = named.zip(footer).partitionMap {
      case ((n, _), Some(c)) => Left(Row(n, c))
      case ((n, df), None) =>
        Right(countOf(df, "row_count").select(lit(n).as("table_name"), col("row_count")))
    }
    assemble(spark, StructType(Seq(StructField("table_name", StringType, nullable = false),
      StructField("row_count", LongType, nullable = false))), rows, parts)(identity)
  }

  /** Footer row counts of the `<name>.parquet` tables under `dir`,
    * without a DataFrame per table: the reference's parquet backend
    * (dbqt/connections.py parquet `count_rows`). The listing follows
    * Spark's file index (hidden and summary files and zero-length
    * files are not data); a table directory with no data file is a
    * legal empty table and counts 0. A missing table is a loud error.
    *
    * [[counts]] takes frames of any source; this takes a directory.
    */
  def metaCounts(spark: SparkSession, dir: String,
                 names: Seq[String] = Tables.all): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val sources = names.map { t =>
      val path = new Path(Tables.path(dir, t))
      val fs = path.getFileSystem(conf)
      val root = try fs.getFileStatus(path) catch {
        case _: FileNotFoundException =>
          throw new IllegalArgumentException(s"table path does not exist: $path")
      }
      t -> Right(Listing(Tables.dataFiles(fs, root), Map.empty))
    }
    val footer = footerCounts(spark, "metaCounts", sources)
    assemble(spark, StructType(Seq(StructField("table_name", StringType, nullable = true),
        StructField("row_count", LongType, nullable = false))),
      names.zip(footer).map { case (t, n) => Row(t, n.get) }, Nil)(identity)
  }

  /** Source/target reconciliation: difference and percentage_difference,
    * matching dbstats.py:201-214 (pct = round(100*diff/src, 2); the
    * reference renders it as a '%'-suffixed string — kept numeric here so
    * the value survives exact oracle comparison; presentation is the
    * caller's job).
    */
  def compare(spark: SparkSession, pairs: Seq[(String, DataFrame, DataFrame)]): DataFrame = {
    val footer = footerCounts(spark, "compare", pairs.flatMap { case (n, s, t) =>
      Seq(s"$n.source" -> listing(spark, s), s"$n.target" -> listing(spark, t))
    })
    val (rows, parts) = pairs.zip(footer.grouped(2)).partitionMap {
      case ((n, _, _), Seq(Some(s), Some(t))) => Left(Row(n, s, t))
      case ((n, src, tgt), _) =>
        Right(countOf(src, "source_row_count").crossJoin(countOf(tgt, "target_row_count"))
          .select(lit(n).as("pair_name"), col("source_row_count"), col("target_row_count")))
    }
    val schema = StructType(Seq(StructField("pair_name", StringType, nullable = false),
      StructField("source_row_count", LongType, nullable = false),
      StructField("target_row_count", LongType, nullable = false)))
    assemble(spark, schema, rows, parts)(_
      .withColumn("difference", col("target_row_count") - col("source_row_count"))
      .withColumn("percentage_difference",
        round(col("difference") * 100.0 / col("source_row_count"), 2)))
  }

  /** Catalog-level reconciliation: same-name tables from two
    * "connections" (table→DataFrame maps) are counted and diffed;
    * one-sided tables get a discovery note and NO count — mirroring
    * dbstats.py's source/target mode ("Only in source, row count
    * skipped", dbstats.py:181-199) where counting skips undiscovered
    * tables. Both sides of every common table are counted in one
    * [[footerCounts]] call; the ones that fall back run as one unioned
    * plan.
    */
  def compareCatalogs(spark: SparkSession,
                      source: Map[String, DataFrame],
                      target: Map[String, DataFrame]): DataFrame = {
    val all = (source.keySet ++ target.keySet).toSeq.sorted
    val both = all.filter(n => source.contains(n) && target.contains(n))
    val footer = footerCounts(spark, "compareCatalogs", both.flatMap { n =>
      Seq(s"source.$n" -> listing(spark, source(n)), s"target.$n" -> listing(spark, target(n)))
    })
    val counted = both.zip(footer.grouped(2)).toMap
    val (rows, parts) = all.partitionMap { n =>
      counted.get(n) match {
        case Some(Seq(Some(s), Some(t))) => Left(Row(n, s, t, "BOTH"))
        case Some(_) =>
          Right(countOf(source(n), "source_row_count")
            .crossJoin(countOf(target(n), "target_row_count"))
            .select(lit(n).as("table_name"), col("source_row_count"),
              col("target_row_count"), lit("BOTH").as("status")))
        case None =>
          Left(Row(n, null, null, if (source.contains(n)) "ONLY_IN_SOURCE" else "ONLY_IN_TARGET"))
      }
    }
    // counts are nullable exactly when some table is one-sided
    val oneSided = both.size < all.size
    val schema = StructType(Seq(StructField("table_name", StringType, nullable = false),
      StructField("source_row_count", LongType, oneSided), StructField("target_row_count", LongType, oneSided),
      StructField("status", StringType, nullable = false)))
    assemble(spark, schema, rows, parts)(_.select(col("table_name"), col("source_row_count"),
      col("target_row_count"),
      (col("target_row_count") - col("source_row_count")).as("difference"), col("status")))
  }
}
