package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{StructField, StructType}

/** Concatenate parquet files that share a reference schema — the
  * reference's combine tool (dbqt/tools/combine.py:71-111: first readable
  * file's schema is the reference; files whose schema differs are skipped
  * with a warning; survivors are concatenated).
  *
  * Spark-first: the reference streams row groups through a single-process
  * polars writer; here each surviving file becomes a parquet split read in
  * parallel and the result is a distributed DataFrame — combining 100 TB
  * of shards neither touches the driver nor needs to fit anywhere.
  */
object ParquetCombine {

  /** Schema equality the way combine.py compares: names and types in
    * order, ignoring nullability.
    */
  private def sameSchema(a: StructType, b: StructType): Boolean = {
    def strip(s: StructType): Seq[(String, String)] =
      s.fields.toSeq.map(f => (f.name, f.dataType.simpleString))
    strip(a) == strip(b)
  }

  /** Result of a combine: the concatenated DataFrame plus which inputs
    * were kept/skipped (combine.py logs skipped files; we surface them).
    */
  final case class Combined(df: DataFrame, kept: Seq[String], skipped: Seq[String])

  /** Combine `paths`, taking the first readable file's schema as the
    * reference. Unreadable and schema-mismatched files are skipped.
    * Each schema is one driver-side footer read ([[Tables.footerSchema]]),
    * so no input costs a Spark job before the combined scan.
    */
  def combine(spark: SparkSession, paths: Seq[String]): Combined = {
    val withSchemas: Seq[(String, Option[StructType])] = paths.map { p =>
      p -> (try Tables.footerSchema(spark, p) catch { case _: Exception => None })
    }
    val reference: Option[StructType] = withSchemas.collectFirst {
      case (_, Some(s)) => s
    }
    reference match {
      case None =>
        Combined(spark.emptyDataFrame, Seq.empty, paths)
      case Some(ref) =>
        val (kept, skipped) = withSchemas.partition {
          case (_, Some(s)) => sameSchema(ref, s)
          case _ => false
        }
        // One multi-path relation: every kept file contributes splits to
        // the same scan, so the combine parallelizes across the cluster.
        val df = spark.read.schema(ref).parquet(kept.map(_._1): _*)
        Combined(df, kept.map(_._1), skipped.map(_._1))
    }
  }

  /** Combine and write — the full tool behavior. Output is a parquet
    * DIRECTORY (Spark-native sharded layout), not a single file.
    */
  def combineAndWrite(spark: SparkSession, paths: Seq[String], outPath: String): Combined = {
    val c = combine(spark, paths)
    if (c.kept.nonEmpty) c.df.write.mode("overwrite").parquet(outPath)
    c
  }
}
