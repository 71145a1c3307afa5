package graft.tools

import org.apache.spark.sql.functions._

/** Measures the persisted-index amortization claim
  * ([[graft.operators.similarity.IvfPqIndex]]): one BUILD job vs N
  * QUERY batches that reuse it, against the per-call train+encode the
  * in-memory operator pays. Prints one JSON line:
  *
  * {{{
  *   {"build_sec":B,"query_sec":[q1,q2,q3],"inline_sec":[t1,t2,t3],
  *    "n_vectors":N,"index_bytes":M}
  * }}}
  *
  * Usage: `run_tool.sh graft.tools.AnnIndexBench <sfDir> <indexDir> [nBatches]`
  * — corpus = `<sfDir>/embeddings.parquet`, queries = vec_id < 5 (the
  * ann query convention). Each leg materializes through
  * [[Materialize.materializeCount]] (the bench-honesty action).
  */
object AnnIndexBench {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: AnnIndexBench <sfDir> <indexDir> [nBatches]")
    val sfDir = args(0)
    val indexDir = args(1)
    val nBatches = args.lift(2).map(_.toInt).getOrElse(3)
    val spark = graft.GraftSession.local()
    val emb = graft.sources.Tables(spark, sfDir, "embeddings")
    val queries = emb.where(col("vec_id") < 5)
    def timed[A](f: => A): Double = {
      val t0 = System.nanoTime()
      f
      (System.nanoTime() - t0) / 1e9
    }
    import graft.operators.similarity.{IvfPqIndex, Similarity}
    val buildSec = timed(IvfPqIndex.build(emb, indexDir))
    val querySec = (1 to nBatches).map(_ => timed(
      Materialize.materializeCount(IvfPqIndex.topK(indexDir, emb, queries, k = 10))))
    val inlineSec = (1 to nBatches).map(_ => timed(
      Materialize.materializeCount(Similarity.IvfPqAnn.topK(emb, queries, k = 10))))
    val idxPath = new org.apache.hadoop.fs.Path(indexDir)
    val fs = idxPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = fs.getContentSummary(idxPath).getLength
    val n = emb.count()
    println(s"""{"build_sec":${f"$buildSec%.2f"},""" +
      s""""query_sec":[${querySec.map(q => f"$q%.2f").mkString(",")}],""" +
      s""""inline_sec":[${inlineSec.map(q => f"$q%.2f").mkString(",")}],""" +
      s""""n_vectors":$n,"index_bytes":$bytes}""")
    spark.stop()
  }
}
