package graft.operators.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Model-free text vectorization via the hashing trick (Weinberger et
  * al. 2009, "Feature hashing for large scale multitask learning";
  * the same signed-hash n-gram embedding fastText uses for its bucket
  * features) — the bridge from the `documents` table onto every
  * embedding-keyed operator: [[graft.operators.similarity.Similarity]]
  * ANN top-k, [[graft.operators.dedup.Dedup.EmbeddingDedup]] near-dup,
  * [[graft.operators.dedup.SemanticDedup]] — with NO external model:
  * a 100 TB crawl can be clustered / semantically deduped / searched
  * before any learned embedding exists.
  *
  * Per document: tokens are [[TextOps.wsTokens]] of the ICU-lowered
  * text (the corpus-wide tokenizer contract — same token stream as
  * TokenCount/BM25); features are unigrams plus adjacent-pair bigrams
  * (`"a b"`), each hashed by [[graft.functions.Hash64.strHash]] into
  * `dim` buckets with a second hash bit choosing the sign (the
  * unbiased-estimator form from the paper); the vector is
  * L2-normalized. Same text ⇒ same vector on every JVM (the hash is
  * plain deterministic arithmetic); an empty/whitespace-only or null
  * document ⇒ the zero vector, which every downstream cosine consumer
  * already excludes (NaN-score guard).
  *
  * Scale shape: one projection with the `text_vector` kernel UDF, no
  * shuffle — the kernel shape of every text leg; output is
  * `(vec_id, embedding)`, exactly the embeddings-table schema, so the
  * frame drops into any ANN/dedup call unchanged.
  *
  * Rows-only in the correctness gate (the hash is not SQL-expressible
  * in DuckDB); TextVectorsSpec pins determinism, layout-independence,
  * the near-dup>unrelated cosine contract, and the end-to-end ANN and
  * SemDeDup integrations.
  */
object TextVectors {

  val DefaultDim = 64

  /** Hashed signed n-gram vector of one document (already lowered),
    * L2-normalized; all-zero when no token features exist.
    */
  def vectorize(lowered: String, dim: Int): Array[Float] = {
    val v = new Array[Double](dim)
    var prevStart = -1
    var prevEnd = -1
    var i = 0
    val n = lowered.length
    while (i < n) {
      if (!TextStatsKernel.isWs(lowered.charAt(i))) {
        val start = i
        while (i < n && !TextStatsKernel.isWs(lowered.charAt(i))) i += 1
        add(v, lowered.substring(start, i), dim)
        if (prevStart >= 0)
          add(v, lowered.substring(prevStart, prevEnd) + " " +
            lowered.substring(start, i), dim)
        prevStart = start
        prevEnd = i
      } else i += 1
    }
    var norm = 0.0
    var j = 0
    while (j < dim) { norm += v(j) * v(j); j += 1 }
    val out = new Array[Float](dim)
    if (norm > 0) {
      val inv = 1.0 / math.sqrt(norm)
      j = 0
      while (j < dim) { out(j) = (v(j) * inv).toFloat; j += 1 }
    }
    out
  }

  @inline private def add(v: Array[Double], feature: String, dim: Int): Unit = {
    val h = graft.functions.Hash64.strHash(feature)
    // low bits pick the bucket; an independent high bit picks the sign
    // (the paper's ξ hash — makes the inner product an unbiased
    // estimator of the un-hashed one)
    val idx = java.lang.Math.floorMod(h, dim.toLong).toInt
    val sign = if (((h >>> 62) & 1L) == 0L) 1.0 else -1.0
    v(idx) += sign
  }

  /** `(vec_id, embedding)` for every document — the embeddings-table
    * schema, ready for ANN / embedding dedup / SemDeDup.
    */
  def run(df: DataFrame, dim: Int = DefaultDim,
          textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    TextOps.requireIntegralId(df, idCol, "TextVectors")
    val vector = udf { (text: String) =>
      vectorize(if (text == null) "" else TextStatsKernel.catalystLower(text), dim)
    }.withName("text_vector")
    df.select(col(idCol).cast("long").as("vec_id"), vector(col(textCol)).as("embedding"))
  }
}
