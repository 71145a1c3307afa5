package graft.operators.dedup

import graft.operators.dedup.Dedup.EmbeddingDedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Semantic deduplication over an embedding column — the SemDeDup
  * recipe (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
  * web-scale through semantic deduplication"): coarse-cluster the
  * corpus in embedding space, then inside each cluster drop every
  * vector that has a near-duplicate (cosine ≥ threshold); pairwise
  * comparison never crosses cluster boundaries, so cost is
  * O(Σ cell²) ≈ O(n²/k), not O(n²).
  *
  * Keep rule: a vector is DROPPED iff some SMALLER-id vector in its
  * cell is cosine-≥-threshold to it — each duplicate group keeps its
  * lowest id (the paper keeps the member farthest from the centroid;
  * low-id is the deterministic, engine-portable equivalent and keeps
  * exactly one representative per group the same way).
  *
  * Two variants, same prune:
  *
  *   - [[run]] — production: cells come from the trained IVF coarse
  *     quantizer ([[graft.operators.similarity.Similarity.IvfPqAnn]]
  *     `assignCells`: driver-local Lloyd on a value-selected bounded
  *     sample, one map-side assignment pass, no shuffle). Cluster
  *     count `nCells` is the cost knob — size it so corpus/nCells
  *     vectors fit a comparison task (the paper runs k ≈ 10⁵ at web
  *     scale). Not SQL-expressible (trained centroids), so covered by
  *     SemanticDedupSpec, not an oracle.
  *   - [[seeded]] — audit variant with a deterministic quantizer the
  *     DuckDB oracle can reproduce: cells = argmax cosine against the
  *     `nSeeds` lowest-id vectors (row_number tie-break on seed id, so
  *     zero-vector NaN rows land deterministically too). Same prune,
  *     hash-compared end-to-end by the driver.
  *
  * Run exact dedup ([[Dedup.ExactDedup]]) first in a real pipeline:
  * byte-identical embeddings all land in one cell and cost cell² there.
  *
  * Output (one row per input vector): `(vec_id, cell, kept)`.
  */
object SemanticDedup {

  /** Production path: trained IVF cells + within-cell prune. */
  def run(df: DataFrame, threshold: Double, nCells: Int = 32,
          vecCol: String = "embedding", idCol: String = "vec_id",
          maxTrain: Long = 100000L): DataFrame = {
    val assigned = graft.operators.similarity.Similarity.IvfPqAnn
      .assignCells(df, nCells, vecCol, idCol, maxTrain).assigned
    prune(assigned.select(col("corpus_id").as("vec_id"),
      col("cell").cast("bigint").as("cell"), col("corpus_v").as("v")), threshold)
  }

  /** Audit path: deterministic seed quantizer, oracle-checkable. */
  def seeded(df: DataFrame, threshold: Double, nSeeds: Int = 16,
             vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    val base = df.select(col(idCol).as("vec_id"), col(vecCol).as("v"))
    val seeds = base.where(col("vec_id") < nSeeds)
      .select(col("vec_id").as("seed_id"), col("v").as("sv"))
    val scored = base.crossJoin(broadcast(seeds))
      .withColumn("cs", EmbeddingDedup.cosine(col("v"), col("sv")))
    // row_number, not rank: a zero vector scores NaN against EVERY seed
    // (both engines order NaN above all numbers), so rank()=1 would
    // emit nSeeds rows for it — row_number's seed_id tie-break assigns
    // it to seed 0 once, identically on both engines
    val w = Window.partitionBy("vec_id").orderBy(col("cs").desc, col("seed_id"))
    val cells = scored.withColumn("r", row_number().over(w))
      .where(col("r") === 1)
      .select(col("vec_id"), col("seed_id").as("cell"), col("v"))
    prune(cells, threshold)
  }

  /** Within-cell prune: drop a vector iff a smaller-id cell-mate is
    * cosine-≥-threshold (NaN excluded — see [[EmbeddingDedup.allPairs]]).
    *
    * Byte-identical non-zero vectors are collapsed to their lowest-id
    * representative BEFORE the pair join (the [[Dedup.MinHashDedup]]
    * collapse-before-banding move): a non-representative always has its
    * representative as a smaller-id cell-mate at cosine 1 ≥ threshold,
    * so it is dropped by definition, and any drop a non-representative
    * could inflict on a third vector its representative inflicts
    * equally (same value, smaller id) — results are exactly those of
    * the uncollapsed join. (The identity needs cos(v,v) ≥ threshold;
    * self-cosine evaluates to 1 within an ulp, so pass 0.9999 rather
    * than exactly 1.0 for near-exact dedup.)
    * Under heavy exact duplication (the replicated-corpus regime) this
    * takes the quadratic term from O(cell²) to O(distinctPerCell²).
    * Zero vectors bypass the collapse: their cosines are NaN, so they
    * neither drop nor get dropped, and they are always kept.
    */
  private def prune(cells: DataFrame, threshold: Double): DataFrame = {
    val nz = cells.withColumn("nonzero", exists(col("v"), x => x =!= lit(0f)))
    val reps = nz.where(col("nonzero"))
      .groupBy("v", "cell").agg(min(col("vec_id")).as("rep_id"))
    val right = reps.select(col("rep_id").as("rid_b"),
      col("cell").as("cell_b"), col("v").as("v_b"))
    val droppedReps = reps
      .join(right, col("cell") === col("cell_b") && col("rid_b") < col("rep_id"))
      .withColumn("cos_raw", EmbeddingDedup.cosine(col("v"), col("v_b")))
      .where(col("cos_raw") >= threshold && !isnan(col("cos_raw")))
      .select(col("rep_id")).distinct()
      .withColumn("rep_dropped", lit(true))
    nz.join(reps.select(col("v"), col("cell"), col("rep_id")), Seq("v", "cell"), "left")
      .join(droppedReps, Seq("rep_id"), "left")
      .select(col("vec_id"), col("cell"),
        // zero vector → kept; non-representative → dropped (its rep is a
        // smaller-id cell-mate at cosine 1); representative → pair verdict
        (!col("nonzero") ||
          (col("vec_id") === col("rep_id") && col("rep_dropped").isNull))
          .as("kept"))
      .orderBy("vec_id")
  }

  /** DuckDB twin of [[seeded]]. */
  def oracleSql(table: String, threshold: Double, nSeeds: Int = 16): String =
    s"""WITH base AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM $table),
       |seeds AS (
       |  SELECT vec_id AS seed_id, v AS sv FROM base WHERE vec_id < $nSeeds),
       |cells AS (
       |  SELECT vec_id, seed_id AS cell FROM (
       |    SELECT b.vec_id, s.seed_id,
       |      row_number() OVER (PARTITION BY b.vec_id
       |        ORDER BY list_cosine_similarity(b.v, s.sv) DESC, s.seed_id) AS r
       |    FROM base b, seeds s) WHERE r = 1),
       |cv AS (
       |  SELECT c.vec_id, c.cell, b.v FROM cells c JOIN base b USING (vec_id)),
       |dropped AS (
       |  SELECT DISTINCT a.vec_id FROM cv a JOIN cv b
       |  ON a.cell = b.cell AND b.vec_id < a.vec_id
       |  WHERE list_cosine_similarity(a.v, b.v) >= $threshold
       |    AND NOT isnan(list_cosine_similarity(a.v, b.v)))
       |SELECT c.vec_id, c.cell, (d.vec_id IS NULL) AS kept
       |FROM cells c LEFT JOIN dropped d USING (vec_id)
       |ORDER BY c.vec_id""".stripMargin
}
