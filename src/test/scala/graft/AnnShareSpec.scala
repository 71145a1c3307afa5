package graft.operators.similarity

import graft.TestSpark
import graft.tools.ScaleUp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-17 optimization guard: [[Similarity.RecallReport.run]] and
  * [[Similarity.RecallReport.sweep]] were restructured to share one
  * train/assign/encode per build family instead of rebuilding the
  * identical seeded index per grid point (guide §1.2 step 1 — remove
  * redundant passes). The restructure is only an optimization if the
  * OUTPUT is bit-identical to the naive per-point assembly; this spec
  * asserts exactly that, on a seeded clustered fixture probative enough
  * that every knob changes the candidate sets (so an equivalence slip
  * cannot hide behind saturation).
  *
  * Two layers:
  *  1. result-set equality of the factored shared-scan paths against
  *     the public per-point `topK` entry points, for every grid value
  *     (the prefix-stability claims: probe lists, LSH table streams,
  *     ADC rank pools);
  *  2. row equality of the full run()/sweep() reports against recall
  *     recomputed from the per-point topK outputs and the shared
  *     brute-force truth.
  */
class AnnShareSpec extends AnyFunSuite {

  private def spark = TestSpark.spark

  // small but probative: 600 vectors over 150 anisotropic clusters
  // (~4 members each, under k=10 so true neighbors cross clusters and
  // low knob settings genuinely miss — the AnnSweepSpec regime, sized
  // down for a 24-point naive grid)
  private lazy val corpus = {
    val ids = spark.range(600).toDF("vec_id")
    ScaleUp.gaussEmbeddings(ids, dim = 64, nClusters = 150)
      .select(col("vec_id"), col("embedding"))
      .localCheckpoint(true)
  }
  private lazy val queries = corpus.where(col("vec_id") < 4)
  private val k = 10

  private def rows(df: DataFrame): Set[(Long, Long, Double, Int)] =
    df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet

  private def truthSet: Set[(Long, Long)] =
    Similarity.CosineTopK.run(corpus, queries, k)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("ivf: shared scored-candidate scan filtered by cell_rank equals direct topK per probe setting") {
    val cells = Similarity.IvfPqAnn.assignCells(
      corpus, Similarity.IvfAnn.DefaultCells, "embedding", "vec_id",
      Similarity.IvfAnn.MaxTrainRows)
    val aCp = cells.assigned.localCheckpoint(true)
    val scored = Similarity.IvfPqAnn.scoredCandidates(aCp, Similarity.IvfPqAnn.probeData(
      Similarity.IvfPqAnn.collectQueries(queries, "embedding", "vec_id"), cells.ctrs, 8))
      .localCheckpoint(true)
    for (p <- Seq(1, 2, 4, 8)) {
      val shared = rows(Similarity.CosineTopK.rankTopK(
        scored.where(col("cell_rank") <= p), k))
      val direct = rows(Similarity.IvfAnn.topK(corpus, queries, k, nProbe = p))
      assert(shared == direct, s"ivf nProbe=$p shared != direct")
      assert(shared.nonEmpty)
    }
  }

  test("ivf: rows equal a plain-Scala reference (top-p cells by cosine, exact top-k of their members)") {
    // IVF's definition, stated independently of the index code: the
    // build's centroids and cell assignment are its only inputs
    val cells = Similarity.IvfPqAnn.assignCells(
      corpus, Similarity.IvfAnn.DefaultCells, "embedding", "vec_id",
      Similarity.IvfAnn.MaxTrainRows)
    val cellOf = cells.assigned.select("corpus_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val vecs = corpus.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    // the same arithmetic as the cosine_similarity expression
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val qIds = queries.select("vec_id").collect().map(_.getLong(0))
    for (p <- Seq(1, 2, 4, 8)) {
      val expected = qIds.flatMap { q =>
        val probed = cells.ctrs.indices
          .sortBy(c => (-cos(vecs(q), cells.ctrs(c)), c)).take(p).toSet
        vecs.keys.toSeq.filter(v => v != q && probed(cellOf(v)))
          .map(v => v -> cos(vecs(q), vecs(v))).filterNot(_._2.isNaN)
          .sortBy { case (v, c) => (-c, v) }.take(k).zipWithIndex
          .map { case ((v, c), i) => (q, v,
            BigDecimal(c).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble, i + 1) }
      }.toSet
      val got = rows(Similarity.IvfAnn.topK(corpus, queries, k, nProbe = p))
      assert(got == expected, s"ivf nProbe=$p: ${got -- expected} vs ${expected -- got}")
      assert(got.size == qIds.length * k)
    }
  }

  test("run(): shared-build report equals recall recomputed from per-point topK outputs") {
    val truth = truthSet
    def recallOf(df: DataFrame): (Long, Double) = {
      val hits = df.select("query_id", "vec_id").collect()
        .count(r => truth((r.getLong(0), r.getLong(1)))).toLong
      (hits, BigDecimal(hits.toDouble / truth.size)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    val expected = Map(
      "lsh" -> recallOf(Similarity.LshAnn.topK(corpus, queries, k, dim = 64)),
      "ivf" -> recallOf(Similarity.IvfAnn.topK(corpus, queries, k)),
      "pq" -> recallOf(Similarity.PqAnn.topK(corpus, queries, k)),
      "ivfpq" -> recallOf(Similarity.IvfPqAnn.topK(corpus, queries, k)))
    val rep = Similarity.RecallReport.run(corpus, queries, k, dim = 64)
      .collect().map(r => r.getString(0) ->
        (r.getInt(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(rep.keySet == Set("ivf", "ivfpq", "lsh", "pq"))
    for ((m, (nHit, rec)) <- expected) {
      val (rk, rTrue, rHit, rRec) = rep(m)
      assert(rk == k && rTrue == truth.size, s"$m header row drifted")
      assert(rHit == nHit, s"$m n_hit: shared $rHit != direct $nHit")
      assert(rRec == rec, s"$m recall: shared $rRec != direct $rec")
    }
  }

  test("sweep(): shared-build grid equals recall recomputed from per-point topK outputs") {
    val truth = truthSet
    def hitsOf(df: DataFrame): Long =
      df.select("query_id", "vec_id").collect()
        .count(r => truth((r.getLong(0), r.getLong(1)))).toLong
    // the naive per-point grid — the exact pre-round-17 sweep inventory
    val naive: Map[(String, String, Int), Long] = (
      Seq(1, 2, 4, 8).map(p => ("ivf", "nProbe", p) ->
        hitsOf(Similarity.IvfAnn.topK(corpus, queries, k, nProbe = p))) ++
      Seq(1, 2, 4, 8).map(t => ("lsh", "tables", t) ->
        hitsOf(Similarity.LshAnn.topK(corpus, queries, k, dim = 64, tables = t))) ++
      Seq(4, 8, 16).map(ks => ("pq", "ksub", ks) ->
        hitsOf(Similarity.PqAnn.topK(corpus, queries, k, ksub = ks))) ++
      Seq(16, 64, 256).map(rf => ("pq", "refine", rf) ->
        hitsOf(Similarity.PqAnn.topK(corpus, queries, k, refine = rf))) ++
      Seq(16, 64, 256).map(rf => ("ivfpq", "refine", rf) ->
        hitsOf(Similarity.IvfPqAnn.topK(corpus, queries, k, refine = rf))) ++
      Seq(16, 64, 256).map(ks => ("ivfpq", "ksub", ks) ->
        hitsOf(Similarity.IvfPqAnn.topK(corpus, queries, k, ksub = ks, refine = 16))) ++
      Seq(1, 2, 4, 8).map(p => ("ivfpq", "nProbe", p) ->
        hitsOf(Similarity.IvfPqAnn.topK(corpus, queries, k, nProbe = p)))
    ).toMap
    val swept = Similarity.RecallReport.sweep(corpus, queries, k, dim = 64)
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2)) ->
        (r.getInt(3), r.getLong(4), r.getLong(5), r.getDouble(6))).toMap
    assert(swept.keySet == naive.keySet,
      s"grid drifted: missing ${naive.keySet -- swept.keySet}, extra ${swept.keySet -- naive.keySet}")
    for ((point, nHit) <- naive) {
      val (sk, sTrue, sHit, sRec) = swept(point)
      assert(sk == k && sTrue == truth.size, s"$point header drifted")
      assert(sHit == nHit, s"$point n_hit: shared $sHit != direct $nHit")
      val rec = BigDecimal(nHit.toDouble / truth.size)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(sRec == rec, s"$point recall: shared $sRec != direct $rec")
    }
    // sanity: the fixture is probative — the grids genuinely vary, so
    // the equality above cannot be satisfied by saturation
    val ivfCurve = Seq(1, 2, 4, 8).map(p => naive(("ivf", "nProbe", p)))
    assert(ivfCurve.distinct.length > 1, s"fixture too easy: flat ivf curve $ivfCurve")
  }

  test("advisedRecall: shared-materialization report equals the per-leg recomputation") {
    val truth = truthSet
    // the same loop assembled naively from the public pieces
    val (coded, ctrs, books, bs) = Similarity.IvfPqAnn.trainAndEncode(
      corpus, Similarity.IvfPqAnn.DefaultCells, Similarity.IvfPqAnn.DefaultM,
      Similarity.IvfPqAnn.DefaultKsub, "embedding", "vec_id",
      Similarity.IvfPqAnn.MaxTrainRows)
    val codedCp = coded.localCheckpoint(true)
    val overrides = Similarity.AnnAdvisor.refineOverrides(
      Similarity.AnnAdvisor.fromCoded(codedCp, k))
    def hitsOf(cellRefine: Map[Int, Int]): Long =
      Similarity.IvfPqAnn.queryCoded(codedCp, ctrs, books, bs, corpus, queries,
          k, Similarity.IvfPqAnn.DefaultProbe, Similarity.IvfPqAnn.DefaultRefine,
          "embedding", "vec_id", Similarity.DefaultMaxQueryBatch, cellRefine)
        .select("query_id", "vec_id").collect()
        .count(r => truth((r.getLong(0), r.getLong(1)))).toLong
    val expected = Map("default" -> hitsOf(Map.empty), "advised" -> hitsOf(overrides))
    val rep = Similarity.AnnAdvisor.advisedRecall(corpus, queries, k)
      .collect().map(r => r.getString(0) ->
        (r.getInt(2), r.getLong(3), r.getLong(4), r.getDouble(5))).toMap
    assert(rep.keySet == Set("advised", "default"))
    for ((variant, nHit) <- expected) {
      val (nOv, nTrue, rHit, rRec) = rep(variant)
      assert(nOv == overrides.size, s"$variant override count drifted")
      assert(nTrue == truth.size)
      assert(rHit == nHit, s"$variant n_hit: shared $rHit != direct $nHit")
      val rec = BigDecimal(nHit.toDouble / truth.size)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(rRec == rec, s"$variant recall: shared $rRec != direct $rec")
    }
  }

  test("deterministic checkpoint release (verdict-r17 #3): no lingering blocks, identical rows") {
    val sc = spark.sparkContext
    // force the lazy fixture checkpoints BEFORE snapshotting, so the
    // diff below sees only what run()/sweep() themselves leave behind
    corpus.count(); queries.count()
    val before = sc.getPersistentRDDs.keySet

    val released = Similarity.RecallReport.run(corpus, queries, k, dim = 64)
      .collect().toSeq
    val afterRun = sc.getPersistentRDDs.keySet
    assert((afterRun -- before).isEmpty,
      s"run() left checkpoint blocks behind: RDDs ${(afterRun -- before).toSeq.sorted}")

    val sweepReleased = Similarity.RecallReport.sweep(corpus, queries, k, dim = 64)
      .collect().toSeq
    val afterSweep = sc.getPersistentRDDs.keySet
    assert((afterSweep -- before).isEmpty,
      s"sweep() left checkpoint blocks behind: RDDs ${(afterSweep -- before).toSeq.sorted}")

    // the release path must not change a single row vs the kept-lineage
    // path (the plan-dump toggle)
    spark.conf.set("graft.ann.releaseCheckpoints", "false")
    try {
      val kept = Similarity.RecallReport.run(corpus, queries, k, dim = 64)
        .collect().toSeq
      val sweepKept = Similarity.RecallReport.sweep(corpus, queries, k, dim = 64)
        .collect().toSeq
      assert(released == kept, "run(): release toggle changed the report rows")
      assert(sweepReleased == sweepKept, "sweep(): release toggle changed the report rows")
    } finally spark.conf.set("graft.ann.releaseCheckpoints", "true")
  }
}
