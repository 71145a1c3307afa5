package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Catalog of the driver-generated test tables (see /root/repo/TESTDATA.md).
  *
  * Mirrors the reference's connector + tables_file surface
  * (reference: dbqt/tools/utils.py:227 `_read_table_lists`,
  * dbqt/connections.py:80 `retrieve_table`): a "connection" here is a
  * directory of parquet tables, and a table list is just a sequence of
  * names. At cluster scale the same API points at S3/HDFS paths; Spark's
  * DataSource V2 handles split planning, so no per-table thread pool is
  * needed (the reference's ConnectionPool, utils.py:39, is replaced by
  * cluster parallelism).
  */
object Tables {

  /** TPC-H-ish star schema tables generated by the driver. */
  val tpch: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem")

  /** Extra tables for event/LLM-pipeline operators. */
  val extra: Seq[String] = Seq("events", "documents", "embeddings")

  val all: Seq[String] = tpch ++ extra

  def path(dir: String, name: String): String = s"$dir/$name.parquet"

  /** `dir` values of the form `catalog:<database>` address session-
    * catalog tables (`<database>.<name>`) instead of parquet paths —
    * the hook that lets EVERY operator/query run unchanged against
    * bucketed/sorted catalog layouts ([[PartitionedWrite.writeBucketed]]):
    * pass `catalog:mydb` anywhere a table directory is accepted and
    * `Tables` resolves through `spark.table`, so bucket metadata (and
    * with it the zero-Exchange join/aggregate plans) flows into the
    * same plans the path-backed bench runs. Scale posture: on a real
    * cluster this is the metastore-backed production layout; the
    * path form is the ad-hoc one.
    *
    * Caveat: the `events.ts` layout normalization below is a PATH-read
    * concern — whoever registers catalog tables (e.g.
    * [[graft.tools.LayoutBench]]) must register events with `ts`
    * already a proper timestamp.
    */
  val CatalogScheme = "catalog:"

  /** Load one table. Column pruning + predicate pushdown reach the scan
    * because this stays a plain parquet relation. The schema comes from
    * [[footerSchema]], so loading a table starts no Spark job.
    *
    * `events.ts` has shipped in two physical layouts over time: parquet
    * TIMESTAMP(NANOS) (which Spark 4 only reads as a raw long, via the
    * legacy nanosAsLong conversion) and plain TIMESTAMP(MICROS). We
    * probe the footer schema instead of assuming either: a LongType `ts`
    * means the nanos layout was read as a long, so rebuild a
    * microsecond TimestampType column; any timestamp type passes
    * through untouched. The probe is the same driver-side footer read
    * that gives every path-backed table its schema.
    */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    if (dir.startsWith(CatalogScheme))
      spark.table(s"${dir.stripPrefix(CatalogScheme)}.$name")
    else if (name == "events") {
      // nanos layouts need spark.sql.legacy.parquet.nanosAsLong=true,
      // set once at session build (GraftSession.recommended) — never
      // mutated from here
      val df = read(spark, path(dir, name))
      df.schema.find(_.name == "ts").map(_.dataType) match {
        case Some(org.apache.spark.sql.types.LongType) =>
          // nanos → micros with INTEGER division: `ts / 1000` is double
          // division, which rounds (epoch-nanos ≈ 1.7e18 exceeds double's
          // 53-bit mantissa) and lands 1 µs high for some rows — `div`
          // truncates exactly like DuckDB's native TIMESTAMP_NS → µs read.
          df.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr("ts div 1000")))
        case Some(org.apache.spark.sql.types.TimestampNTZType) =>
          // tz-naive micros file. Every graft session pins
          // spark.sql.session.timeZone=UTC, so casting to TimestampType
          // is value-preserving and keeps downstream operators
          // (unix_micros, window, the DuckDB oracle compare) on the
          // same type the nanos shim produced.
          df.withColumn("ts", org.apache.spark.sql.functions.col("ts")
            .cast(org.apache.spark.sql.types.TimestampType))
        case _ => df
      }
    } else {
      read(spark, path(dir, name))
    }

  /** A parquet relation over `path` with its schema given up front.
    * Without a footer to read (missing path, no data file) Spark infers
    * as usual, so those cases keep Spark's own error.
    */
  private[graft] def read(spark: SparkSession, path: String): DataFrame =
    footerSchema(spark, path).fold(spark.read)(spark.read.schema(_)).parquet(path)

  /** The data schema of the parquet file or directory at `path`, read on
    * the driver from the one footer Spark's schema inference would read:
    * the file itself, or for a directory its `_common_metadata`, else
    * `_metadata`, else the first data file in path order. Spark's
    * inference (`ParquetUtils.inferSchema`) launches one job per table
    * even for that single footer; this reads it directly and converts
    * it the same way (`ParquetFileFormat.readSchemaFromFooter`: the
    * Spark row-metadata JSON when present, else the session-conf
    * converter, so nanosAsLong, binaryAsString, int96AsTimestamp and
    * inferTimestampNTZ apply unchanged). One footer defines the schema;
    * graft never sets `mergeSchema`. Hive-style partition columns are
    * not in the footer: Spark still discovers them from the paths.
    * None when `path` does not exist or holds no footer.
    */
  private[graft] def footerSchema(spark: SparkSession, path: String): Option[StructType] = {
    val root = new Path(path)
    val conf = spark.sessionState.newHadoopConf()
    val fs = root.getFileSystem(conf)
    val rootStatus =
      try fs.getFileStatus(root) catch { case _: java.io.FileNotFoundException => return None }
    val files = leafFiles(fs, rootStatus).sortBy(_.getPath.toString)
    def named(n: String) = files.find(_.getPath.getName == n)
    named("_common_metadata").orElse(named("_metadata"))
      .orElse(files.find(f => !SummaryFiles(f.getPath.getName)))
      .map { st =>
        val meta = ParquetFileReader.readFooter(HadoopInputFile.fromStatus(st, conf), SKIP_ROW_GROUPS)
        ParquetFileFormat.readSchemaFromFooter(new Footer(st.getPath, meta),
          new ParquetToSparkSchemaConverter(spark.sessionState.conf))
      }
  }

  private val SummaryFiles = Set("_common_metadata", "_metadata")

  /** Names starting with `_` (unless a `k=v` partition directory) or `.`. */
  private def hidden(n: String): Boolean = (n.startsWith("_") && !n.contains("=")) || n.startsWith(".")

  /** Files under `st` that Spark's file index lists
    * (`HadoopFSUtils.shouldFilterOutPathName`): hidden names and names
    * ending in `._COPYING_` (a copy in progress) are skipped, except
    * names starting with `_common_metadata` or `_metadata`.
    */
  private def leafFiles(fs: FileSystem, st: FileStatus): Seq[FileStatus] =
    if (!st.isDirectory) Seq(st)
    else fs.listStatus(st.getPath).toSeq.filter { c =>
      val n = c.getPath.getName
      n.startsWith("_common_metadata") || n.startsWith("_metadata") ||
        !(hidden(n) || n.endsWith("._COPYING_"))
    }.flatMap(leafFiles(fs, _))

  /** The files under `st` that Spark's file index hands to a scan: the
    * listed files less hidden (summary) and zero-length files
    * (`PartitioningAwareFileIndex.isDataPath` and `isNonEmptyFile`).
    */
  private[graft] def dataFiles(fs: FileSystem, st: FileStatus): Seq[FileStatus] =
    leafFiles(fs, st).filter(f => f.getLen > 0 && !hidden(f.getPath.getName))

  /** Load every known table lazily (plans only; nothing is read until an
    * action runs).
    */
  def load(spark: SparkSession, dir: String, names: Seq[String] = all): Map[String, DataFrame] =
    names.map(n => n -> apply(spark, dir, n)).toMap

  /** Register temp views so spark.sql(...) can address tables by name. */
  def registerViews(spark: SparkSession, dir: String, names: Seq[String] = all): Unit =
    names.foreach(n => apply(spark, dir, n).createOrReplaceTempView(n))

  /** Discover table names in a directory by extension — `<name>.<ext>`
    * files or directories (a partitioned/multi-file table is a dir with
    * the same naming). The file-backend equivalent of the reference's
    * list_tables discovery (dbqt/connections.py:139-146).
    */
  def discover(spark: SparkSession, dir: String, ext: String): Seq[String] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val listed = try fs.listStatus(p) catch { case _: java.io.FileNotFoundException => Array.empty[FileStatus] }
    listed.toSeq.map(_.getPath.getName)
      .filter(_.endsWith(s".$ext")).map(_.stripSuffix(s".$ext")).sorted
  }

  /** SQL-style `%` wildcard exclusion of table names, case-insensitive
    * (reference: dbqt/tools/utils.py:186 `filter_excluded_tables`).
    */
  def filterExcluded(tables: Seq[String], excludedPatterns: Seq[String]): Seq[String] = {
    if (excludedPatterns.isEmpty) return tables
    val regexes = excludedPatterns.map { pat =>
      ("^" + java.util.regex.Pattern.quote(pat.toUpperCase).replace("%", "\\E.*\\Q") + "$").r
    }
    tables.filterNot(t => regexes.exists(_.findFirstIn(t.toUpperCase).isDefined))
  }
}
