package graft.tools

import org.apache.spark.sql.functions._

/** Measures the round-16 AnnAdvisor CONTROL LOOP at scale (verdict-r15
  * #4's receipt): on a duplicate-ball / tie-collapsed embedding corpus
  * (the sf100-gauss regime where plain IVF-PQ recall measured 0.24 in
  * round 14), run
  *
  *   1. brute-force ground truth,
  *   2. IVF-PQ topK with the default constant refine,
  *   3. AnnAdvisor.run -> refineOverrides -> IVF-PQ topK with per-cell
  *      refine (the advised path),
  *
  * and print one JSON line with both recalls and all wall times:
  *
  * {{{
  *   {"n_vectors":N,"n_override_cells":C,"advise_sec":A,
  *    "default_sec":D,"advised_sec":E,"recall_default":R1,"recall_advised":R2}
  * }}}
  *
  * Usage: `run_tool.sh graft.tools.AnnAdvisedBench <sfDir> [k]` —
  * corpus = `<sfDir>/embeddings.parquet`, queries = vec_id < 5.
  */
object AnnAdvisedBench {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: AnnAdvisedBench <sfDir> [k]")
    val sfDir = args(0)
    val k = args.lift(1).map(_.toInt).getOrElse(10)
    val spark = graft.GraftSession.local()
    import graft.operators.similarity.Similarity.{AnnAdvisor, CosineTopK, IvfPqAnn}
    val emb = graft.sources.Tables(spark, sfDir, "embeddings")
    val queries = emb.where(col("vec_id") < 5)
    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }
    val n = emb.count()
    val truth = CosineTopK.run(emb, queries, k)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    require(truth.nonEmpty,
      s"no ground-truth neighbors: $sfDir has no vec_id < 5 query rows " +
        "(recall would be 0/0)")
    def recallOf(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.select("query_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      got.intersect(truth).size.toDouble / truth.size
    }
    val (dflt, defaultSec) = timed(recallOf(IvfPqAnn.topK(emb, queries, k)))
    // refineOverrides' bounded collect materializes the one advisor
    // aggregation — its wall time IS the advise cost
    val (overrides, adviseSec) = timed(AnnAdvisor.refineOverrides(AnnAdvisor.run(emb, k)))
    val (advised, advisedSec) = timed(
      recallOf(IvfPqAnn.topK(emb, queries, k, cellRefine = overrides)))
    println(s"""{"n_vectors":$n,"n_override_cells":${overrides.size},""" +
      f""""advise_sec":$adviseSec%.2f,"default_sec":$defaultSec%.2f,""" +
      f""""advised_sec":$advisedSec%.2f,"recall_default":$dflt%.4f,""" +
      f""""recall_advised":$advised%.4f}""")
    spark.stop()
  }
}
