package graft.operators.similarity

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted IVF-PQ index — build ONCE, query many times (round 14).
  *
  * [[Similarity.IvfPqAnn.topK]] trains and encodes per call, which is
  * right for ad-hoc exploration but wrong for the 100 TB deployment
  * shape: there the index build is ONE full-corpus job whose output
  * must amortize across every query batch that follows, and new
  * documents must join the index incrementally without retraining.
  * This object persists the whole index as PLAIN PARQUET — readable by
  * any engine, partition-prunable, no custom serialization:
  *
  *   - `dir/codes` — `(vec_id, cell, codes)`: the compressed corpus
  *     (one cell id + m bytes per vector — the 32× compression that
  *     lets the scan side live in executor memory). Appendable.
  *   - `dir/centroids` — `(cell, centroid)`: the coarse quantizer.
  *   - `dir/codebooks` — `(subspace, code, lo, hi, centroid)`: the
  *     residual codebooks with their slice bounds.
  *   - `dir/params` — one row of `(n_cells, m, ksub, dim)`.
  *
  * The model tables are bounded by construction (nCells + m·ksub
  * rows), so loading them to the driver is the same bounded-collect
  * class as training was. Training is seeded and value-sampled
  * ([[Similarity.IvfPqAnn.assignCells]] discipline), so a rebuilt index
  * over the same corpus is bit-identical — IvfPqIndexSpec pins
  * build→query ≡ the direct in-memory path.
  *
  * [[append]] encodes NEW vectors against the EXISTING centroids and
  * codebooks (no retrain — the standard IVFADC maintenance move; cell
  * statistics drift as the corpus grows, so rebuild when the appended
  * fraction stops being small) and appends their code rows.
  *
  * Queries still re-rank exactly against the RAW corpus frame (passed
  * by the caller — the index deliberately does not duplicate the
  * embeddings), so returned scores are exact, same as every ANN
  * operator here.
  */
object IvfPqIndex {

  /** Train on `corpus` and write the four index tables under `dir`. */
  def build(corpus: DataFrame, dir: String,
            nCells: Int = Similarity.IvfPqAnn.DefaultCells,
            m: Int = Similarity.IvfPqAnn.DefaultM,
            ksub: Int = Similarity.IvfPqAnn.DefaultKsub,
            vecCol: String = "embedding", idCol: String = "vec_id",
            maxTrain: Long = Similarity.IvfPqAnn.MaxTrainRows): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val (coded, ctrs, books, bs) = Similarity.IvfPqAnn
      .trainAndEncode(corpus, nCells, m, ksub, vecCol, idCol, maxTrain)
    coded.write.mode("overwrite").parquet(s"$dir/codes")
    ctrs.zipWithIndex.map { case (c, i) => (i, c) }.toSeq
      .toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids")
    (for {
      j <- books.indices
      code <- books(j).indices
    } yield (j, code, bs(j)._1, bs(j)._2, books(j)(code))).toDF(
      "subspace", "code", "lo", "hi", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/codebooks")
    // params records the ACTUAL trained shapes, not the declared knobs
    // (advice-r15: lloyd returns min(k, sampleSize) centroids, so a
    // corpus smaller than nCells/ksub yields fewer rows — writing the
    // declared values would make loadModel's consistency check reject
    // every freshly built small-corpus index, and rebuilding couldn't
    // fix it)
    Seq((ctrs.length, books.length, books.head.length, ctrs.head.length))
      .toDF("n_cells", "m", "ksub", "dim")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/params")
  }

  /** The driver-side model: (centroids, codebooks, bounds). Bounded by
    * nCells + m·ksub rows.
    */
  private def loadModel(spark: SparkSession, dir: String)
      : (Array[Array[Double]], Array[Array[Array[Double]]], Array[(Int, Int)]) = {
    val ctrRows = spark.read.parquet(s"$dir/centroids")
      .select("cell", "centroid").collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray).sortBy(_._1)
    require(ctrRows.nonEmpty, s"$dir/centroids is empty — not an IVF-PQ index")
    val ctrs = ctrRows.map(_._2)
    val bookRows = spark.read.parquet(s"$dir/codebooks")
      .select("subspace", "code", "lo", "hi", "centroid").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3),
        r.getSeq[Double](4).toArray))
    val bySubspace = bookRows.groupBy(_._1).toArray.sortBy(_._1)
    val books = bySubspace.map(_._2.sortBy(_._2).map(_._5))
    val bs = bySubspace.map { case (_, rows) => (rows.head._3, rows.head._4) }
    // dir/params is the index's declared shape; validate the model
    // tables against it on every load (advice-r14: a params row that
    // silently disagrees with centroids/codebooks — manual edit,
    // partial overwrite — must fail here, not corrupt a query)
    val p = spark.read.parquet(s"$dir/params")
      .select("n_cells", "m", "ksub", "dim").collect().head
    require(p.getInt(0) == ctrs.length && p.getInt(1) == books.length &&
        books.forall(_.length == p.getInt(2)) && p.getInt(3) == ctrs.head.length,
      s"$dir/params declares (n_cells=${p.get(0)}, m=${p.get(1)}, " +
        s"ksub=${p.get(2)}, dim=${p.get(3)}) but the model tables hold " +
        s"(${ctrs.length}, ${books.length}, " +
        s"${books.map(_.length).distinct.mkString("/")}, ${ctrs.head.length}) " +
        "— the index is internally inconsistent; rebuild it")
    (ctrs, books, bs)
  }

  /** Encode new vectors with the EXISTING model and append their code
    * rows. No retrain (see class doc for when to rebuild instead).
    */
  def append(newCorpus: DataFrame, dir: String,
             vecCol: String = "embedding", idCol: String = "vec_id"): Unit = {
    val (ctrs, books, bs) = loadModel(newCorpus.sparkSession, dir)
    // loud dimension check (code-review r14): the encode loops carry
    // min-length guards, so dimension-drifted vectors would otherwise
    // be silently coded over a truncated slice and corrupt every
    // subsequent query's ADC ranking. The shared helper also rejects
    // NULL vectors (advice-r14: min/max aggregates skip nulls, so a
    // null row used to pass the check and NPE inside the encode task).
    // One cheap agg over the NEW rows.
    val dim = ctrs.head.length
    val vDf = newCorpus.select(col(vecCol).cast("array<float>").as("v"))
    val (nNew, newDim) =
      Similarity.requireUniformVectors(vDf, "v", vecCol, "IvfPqIndex.append")
    require(nNew == 0 || newDim == dim,
      s"append: new vectors must be $dim-dimensional like the index, got $newDim")
    val assigned = Similarity.IvfPqAnn.assign(newCorpus.select(col(idCol).as("corpus_id"),
      col(vecCol).cast("array<float>").as("corpus_v")), ctrs)
    Similarity.IvfPqAnn.encode(assigned, ctrs, books, bs)
      .write.mode("append").parquet(s"$dir/codes")
  }

  /** Query the persisted index: ADC over the stored codes, exact
    * re-rank against `corpus` (which must contain every indexed
    * vec_id — typically the same table the index was built from plus
    * whatever [[append]] added).
    */
  def topK(dir: String, corpus: DataFrame, queries: DataFrame, k: Int,
           nProbe: Int = Similarity.IvfPqAnn.DefaultProbe,
           refine: Int = Similarity.IvfPqAnn.DefaultRefine,
           vecCol: String = "embedding", idCol: String = "vec_id",
           maxQueryBatch: Long = Similarity.DefaultMaxQueryBatch,
           cellRefine: Map[Int, Int] = Map.empty): DataFrame = {
    val spark = corpus.sparkSession
    val (ctrs, books, bs) = loadModel(spark, dir)
    val coded = spark.read.parquet(s"$dir/codes")
      .select(col("vec_id"), col("cell"), col("codes"))
    Similarity.IvfPqAnn.queryCoded(coded, ctrs, books, bs, corpus, queries,
      k, nProbe, refine, vecCol, idCol, maxQueryBatch, cellRefine)
  }

  /** [[Similarity.AnnAdvisor]] report over the STORED codes — no
    * retrain, one aggregation (round-16): the deployment-shape control
    * loop is `advise(dir)` → [[Similarity.AnnAdvisor.refineOverrides]]
    * → `topK(..., cellRefine = ...)`, all against one persisted index,
    * and cell ids trivially align because the codes ARE the index's.
    */
  def advise(spark: SparkSession, dir: String, k: Int = 10): DataFrame =
    Similarity.AnnAdvisor.fromCoded(
      spark.read.parquet(s"$dir/codes").select(col("cell"), col("codes")), k)
}
