package graft

import graft.operators.similarity.Similarity
import graft.sources.Tables
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** ANN operators (SURVEY §2 #30-31) against the sf0.001 embeddings. */
class SimilaritySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private lazy val emb = Tables(spark, TestSpark.sf0001, "embeddings")
  private val K = 10
  private val NQ = 5

  private def asMap(rows: Array[org.apache.spark.sql.Row]) =
    rows.map(r => (r.getLong(0), r.getLong(1)) -> (r.getDouble(2), r.getAs[Int]("rank")))
      .toMap

  test("brute-force top-k: k rows per query, ranked by descending cosine") {
    val res = Similarity.CosineTopK
      .run(emb, emb.where(col("vec_id") < NQ), K).collect()
    val byQuery = res.groupBy(_.getLong(0))
    assert(byQuery.keySet == (0 until NQ).map(_.toLong).toSet)
    byQuery.values.foreach { rows =>
      assert(rows.length == K)
      val ordered = rows.sortBy(_.getAs[Int]("rank"))
      assert(ordered.map(_.getAs[Int]("rank")).toSeq == (1 to K))
      val cosines = ordered.map(_.getDouble(2)).toSeq
      assert(cosines == cosines.sorted.reverse, "cosine not descending with rank")
      // no self-matches
      rows.foreach(r => assert(r.getLong(0) != r.getLong(1)))
    }
  }

  test("LSH ANN: scores exact on returned pairs; high recall on clustered data") {
    // LSH's model is clustered data (true near-neighbors at high
    // cosine). 50 clusters × 10 members, tight noise: in-cluster cosine
    // ≈0.98, so each 8-bit table catches a neighbor with p≈0.6 and 8
    // tables give recall ≈0.999. Near-uniform vectors (like the random
    // sf0.001 embeddings) are out-of-model: no LSH family can prune
    // them, which is why the spec constructs its own corpus.
    import spark.implicits._
    val rng = new scala.util.Random(7)
    val dim = 64
    val clustered = (0 until 50).flatMap { c =>
      val center = Array.fill(dim)(rng.nextGaussian())
      (0 until 10).map { m =>
        val v = center.map(x => (x + 0.07 * rng.nextGaussian()).toFloat)
        ((c * 10 + m).toLong, v)
      }
    }.toDF("vec_id", "embedding")
    val queries = clustered.where(col("vec_id") % 10 === 0 && col("vec_id") < 50)

    val brute = asMap(Similarity.CosineTopK.run(clustered, queries, K).collect())
    val lsh = asMap(Similarity.LshAnn.topK(clustered, queries, K, dim = dim).collect())
    // every LSH-returned score is the exact cosine (verification never
    // approximates the score itself)
    lsh.keys.filter(brute.contains).foreach { k =>
      assert(lsh(k)._1 == brute(k)._1, s"score mismatch on $k")
    }
    val recall = brute.keySet.count(lsh.contains).toDouble / brute.size
    assert(recall >= 0.8, s"recall $recall below floor")
  }

  test("IVF ANN: exact scores, high recall with nProbe on clustered data") {
    import spark.implicits._
    val rng = new scala.util.Random(19)
    val dim = 64
    val clustered = (0 until 40).flatMap { c =>
      val center = Array.fill(dim)(rng.nextGaussian())
      (0 until 12).map { m =>
        val v = center.map(x => (x + 0.07 * rng.nextGaussian()).toFloat)
        ((c * 12 + m).toLong, v)
      }
    }.toDF("vec_id", "embedding")
    val queries = clustered.where(col("vec_id") % 12 === 0 && col("vec_id") < 60)

    val brute = asMap(Similarity.CosineTopK.run(clustered, queries, K).collect())
    val ivf = asMap(Similarity.IvfAnn
      .topK(clustered, queries, K, nCells = 16, nProbe = 4).collect())
    ivf.keys.filter(brute.contains).foreach { p =>
      assert(ivf(p)._1 == brute(p)._1, s"score mismatch on $p")
    }
    val recall = brute.keySet.count(ivf.contains).toDouble / brute.size
    assert(recall >= 0.9, s"IVF recall $recall below floor")

    // training-sample selection is by VALUE (hash of id), so a different
    // partition layout — and a train cap that forces the sampling path —
    // must still clear the same recall floor
    val ivf7 = asMap(Similarity.IvfAnn
      .topK(clustered.repartition(7), queries, K, nCells = 16, nProbe = 4,
        maxTrain = 300).collect())
    val recall7 = brute.keySet.count(ivf7.contains).toDouble / brute.size
    assert(recall7 >= 0.9, s"IVF recall $recall7 below floor after repartition(7)")
  }

  test("PQ ANN: exact scores after re-rank, high recall on clustered data") {
    import spark.implicits._
    val rng = new scala.util.Random(23)
    val dim = 64
    val clustered = (0 until 40).flatMap { c =>
      val center = Array.fill(dim)(rng.nextGaussian())
      (0 until 12).map { m =>
        val v = center.map(x => (x + 0.07 * rng.nextGaussian()).toFloat)
        ((c * 12 + m).toLong, v)
      }
    }.toDF("vec_id", "embedding")
    val queries = clustered.where(col("vec_id") % 12 === 0 && col("vec_id") < 60)

    val brute = asMap(Similarity.CosineTopK.run(clustered, queries, K).collect())
    val pq = asMap(Similarity.PqAnn.topK(clustered, queries, K).collect())
    // the ADC approximation ranks candidates only; every returned score
    // comes from the exact re-rank
    pq.keys.filter(brute.contains).foreach { p =>
      assert(pq(p)._1 == brute(p)._1, s"score mismatch on $p")
    }
    val recall = brute.keySet.count(pq.contains).toDouble / brute.size
    assert(recall >= 0.8, s"PQ recall $recall below floor")

    // codes really are the compressed index: m bytes per vector
    // (PQ is the index's one-cell setting: `(vec_id, cell, codes)` rows)
    val (coded0, _, _, _) = Similarity.IvfPqAnn.trainAndEncode(clustered, 1, 8, 16,
      "embedding", "vec_id", 100000L)
    val coded = coded0.collect()
    assert(coded.length === 480)
    coded.foreach(r => assert(r.getAs[Array[Byte]](2).length === 8))
    // layout-independence: training is value-sampled and id-sorted, so a
    // different partitioning yields identical codebooks and codes
    val coded7 = Similarity.IvfPqAnn.trainAndEncode(clustered.repartition(7), 1, 8, 16,
      "embedding", "vec_id", 100000L)._1.collect()
    assert(coded7.map(r => r.getLong(0) -> r.getAs[Array[Byte]](2).toSeq).toMap ===
      coded.map(r => r.getLong(0) -> r.getAs[Array[Byte]](2).toSeq).toMap)
  }

  test("PQ ANN: a zero-mean corpus ({v, -v} pairs) still answers k exact rows per query") {
    // PQ codes residuals against the corpus sample mean, which is
    // exactly zero here: its one centroid has no direction (NaN cosine
    // to every query), and the probe must still visit that only cell
    import spark.implicits._
    val rng = new scala.util.Random(37)
    val dim = 16
    val pairs = (0 until 20).flatMap { i =>
      val v = Array.fill(dim)(rng.nextGaussian().toFloat)
      Seq((2L * i, v), (2L * i + 1, v.map(x => -x)))
    }.toDF("vec_id", "embedding")
    val queries = pairs.where(col("vec_id") < 6)
    val exact = asMap(Similarity.CosineTopK.run(pairs, queries, 39).collect())
    val pq = Similarity.PqAnn.topK(pairs, queries, 5).collect()
    val byQuery = pq.groupBy(_.getLong(0))
    assert(byQuery.keySet == (0L until 6L).toSet)
    byQuery.values.foreach(rows => assert(rows.length == 5))
    pq.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      assert(r.getDouble(2) == exact(key)._1, s"score mismatch on $key")
    }
  }

  test("recall report: one row per method, hits consistent, floors hold on clustered data") {
    import spark.implicits._
    val rng = new scala.util.Random(31)
    val dim = 64
    val clustered = (0 until 40).flatMap { c =>
      val center = Array.fill(dim)(rng.nextGaussian())
      (0 until 12).map { m =>
        val v = center.map(x => (x + 0.07 * rng.nextGaussian()).toFloat)
        ((c * 12 + m).toLong, v)
      }
    }.toDF("vec_id", "embedding")
    val queries = clustered.where(col("vec_id") % 12 === 0 && col("vec_id") < 60)
    val report = Similarity.RecallReport
      .run(clustered, queries, K, dim, nCells = 16, nProbe = 4)
      .collect().map(r => r.getString(0) ->
        (r.getInt(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(report.keySet == Set("ivf", "ivfpq", "lsh", "pq"))
    report.foreach { case (m, (k, nTrue, nHit, recall)) =>
      assert(k == K && nTrue > 0 && nHit <= nTrue, s"$m inconsistent")
      assert(math.abs(recall - nHit.toDouble / nTrue) < 1e-3)
    }
    // same floors the per-index specs assert, now tracked as a query
    assert(report("lsh")._4 >= 0.8, s"lsh recall ${report("lsh")._4}")
    assert(report("ivf")._4 >= 0.9, s"ivf recall ${report("ivf")._4}")
    assert(report("pq")._4 >= 0.8, s"pq recall ${report("pq")._4}")
    assert(report("ivfpq")._4 >= 0.8, s"ivfpq recall ${report("ivfpq")._4}")
  }

  test("IVF-PQ ANN: exact scores after re-rank, recall floor, layout-independent codes") {
    import spark.implicits._
    val rng = new scala.util.Random(29)
    val dim = 64
    val clustered = (0 until 40).flatMap { c =>
      val center = Array.fill(dim)(rng.nextGaussian())
      (0 until 12).map { m =>
        val v = center.map(x => (x + 0.07 * rng.nextGaussian()).toFloat)
        ((c * 12 + m).toLong, v)
      }
    }.toDF("vec_id", "embedding")
    val queries = clustered.where(col("vec_id") % 12 === 0 && col("vec_id") < 60)

    val brute = asMap(Similarity.CosineTopK.run(clustered, queries, K).collect())
    val ivfpq = asMap(Similarity.IvfPqAnn.topK(clustered, queries, K).collect())
    // ADC (coarse dot + residual LUT) ranks candidates only; returned
    // scores all come from the exact re-rank
    ivfpq.keys.filter(brute.contains).foreach { p =>
      assert(ivfpq(p)._1 == brute(p)._1, s"score mismatch on $p")
    }
    val recall = brute.keySet.count(ivfpq.contains).toDouble / brute.size
    assert(recall >= 0.8, s"IVF-PQ recall $recall below floor")

    // compressed index shape: one cell id + m byte codes per vector,
    // and training is value-sampled + id-sorted ⇒ layout-independent
    val (coded, _, _, bs) = Similarity.IvfPqAnn.trainAndEncode(
      clustered, 16, 8, 16, "embedding", "vec_id", 100000L)
    val rows = coded.collect()
    assert(rows.length === 480)
    rows.foreach(r => assert(r.getAs[Array[Byte]](2).length === 8))
    val (coded7, _, _, _) = Similarity.IvfPqAnn.trainAndEncode(
      clustered.repartition(7), 16, 8, 16, "embedding", "vec_id", 100000L)
    assert(coded7.collect().map(r =>
        r.getLong(0) -> ((r.getInt(1), r.getAs[Array[Byte]](2).toSeq))).toMap ===
      rows.map(r =>
        r.getLong(0) -> ((r.getInt(1), r.getAs[Array[Byte]](2).toSeq))).toMap)
  }

  test("IVF ANN accepts array<double> embeddings (cast, not reject)") {
    import spark.implicits._
    val rng = new scala.util.Random(23)
    val dim = 16
    val asFloat = (0 until 60).map { i =>
      (i.toLong, Array.fill(dim)(rng.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding")
    val asDouble = asFloat
      .withColumn("embedding", col("embedding").cast("array<double>"))
    val q = asFloat.where(col("vec_id") < 3)
    val qd = asDouble.where(col("vec_id") < 3)
    // double input must work AND give the identical result to the float
    // input it was widened from (cast is lossless both ways here)
    val f = asMap(Similarity.IvfAnn.topK(asFloat, q, 5, nCells = 4).collect())
    val d = asMap(Similarity.IvfAnn.topK(asDouble, qd, 5, nCells = 4).collect())
    assert(d == f)
  }

  test("LSH identical vectors always collide (same signature in every table)") {
    import spark.implicits._
    val v = Array.tabulate(64)(i => math.sin(i + 1).toFloat)
    val twins = Seq((1L, v), (2L, v), (3L, v.map(x => -x))).toDF("vec_id", "embedding")
    val res = Similarity.LshAnn.topK(twins, twins.where(col("vec_id") === 1L), 2, dim = 64)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toMap
    assert(res.contains(2L) && res(2L) == 1.0)
    // the antipodal vector has the complement signature — never bucketed
    assert(!res.contains(3L))
  }

  test("query-side size contract fails fast, not at the broadcast cap") {
    // verdict-r14 #5: every ANN path broadcasts / driver-collects the
    // query frame, so a corpus-sized query set must be rejected with a
    // message naming the escape hatch — before any collect happens
    val q = emb.where(col("vec_id") < NQ)
    for ((name, thunk) <- Seq[(String, () => Any)](
      "cosine" -> (() => Similarity.CosineTopK.run(emb, q, K, maxQueryBatch = 1)),
      "ivf"    -> (() => Similarity.IvfAnn.topK(emb, q, K, maxQueryBatch = 1)),
      "lsh"    -> (() => Similarity.LshAnn.topK(emb, q, K, dim = 64, maxQueryBatch = 1)),
      "pq"     -> (() => Similarity.PqAnn.topK(emb, q, K, maxQueryBatch = 1)),
      "ivfpq"  -> (() => Similarity.IvfPqAnn.topK(emb, q, K, maxQueryBatch = 1)))) {
      val e = intercept[IllegalArgumentException](thunk())
      assert(e.getMessage.contains("query-side size contract"), name)
      assert(e.getMessage.contains("EmbeddingDedup"), name)
    }
  }

  test("null vectors and mixed dimensions are rejected loudly at train time") {
    import spark.implicits._
    val q = Seq((0L, Array.fill(8)(0.5f))).toDF("vec_id", "embedding")
    // a null embedding row: min/max aggregates would skip it, so the
    // shared validator counts non-null vectors explicitly (advice-r14)
    val withNull = Seq((0L, Some(Array.fill(8)(0.5f))), (1L, None))
      .toDF("vec_id", "embedding")
    val e1 = intercept[IllegalArgumentException](
      Similarity.IvfAnn.topK(withNull, q, 1))
    assert(e1.getMessage.contains("null"))
    val e2 = intercept[IllegalArgumentException](
      Similarity.PqAnn.topK(withNull, q, 1))
    assert(e2.getMessage.contains("null"))
    // dimension drift: the encode/nearest kernels carry min-length
    // guards, so without the check this would silently truncate
    val mixed = Seq((0L, Array.fill(8)(0.5f)), (1L, Array.fill(4)(0.5f)))
      .toDF("vec_id", "embedding")
    val e3 = intercept[IllegalArgumentException](
      Similarity.IvfPqAnn.topK(mixed, q, 1))
    assert(e3.getMessage.contains("mixed"))
  }
}
