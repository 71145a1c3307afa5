package graft

import graft.operators.dedup.Dedup
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Instrumented shingler: counts kernel invocations so composition
  * specs can assert the signature kernel ran once per document total
  * across a multi-operator pipeline (valid in local mode, where
  * executors share the driver JVM's singleton).
  */
object CountingShingler extends Dedup.MinHashDedup.Shingler {
  val calls = new java.util.concurrent.atomic.AtomicLong(0)
  private val inner = Dedup.MinHashDedup.CharNgrams()
  def shingleHashes(t: String): Array[Long] = {
    calls.incrementAndGet(); inner.shingleHashes(t)
  }
}

/** Dedup operators (SURVEY §2 #25-29): exact behavior on constructed
  * near-duplicates, plus MinHash/SimHash candidate quality asserted
  * against the brute-force paths.
  */
class DedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** 20 base docs of per-doc random tokens (cross-doc jaccard ≈ 0, so
    * the only high-similarity pairs are the constructed ones); ids
    * 100+i are near-identical copies of doc i (one token changed,
    * trigram jaccard ≈ 0.93), ids 200+i are exact copies of doc i
    * modulo trailing whitespace.
    */
  private lazy val docs = {
    val base = (0 until 20).map { i =>
      val rng = new scala.util.Random(1000 + i)
      val text = Seq.fill(30)(
        Iterator.continually(rng.nextPrintableChar()).filter(_.isLetter)
          .take(6).mkString.toLowerCase).mkString(" ")
      (i.toLong, text)
    }
    val nearDups = base.take(10).map { case (i, t) =>
      (100 + i, t.split(" ").updated(5, "omega").mkString(" "))
    }
    val exactDups = base.take(5).map { case (i, t) => (200 + i, t + " ") }
    (base ++ nearDups ++ exactDups).toDF("doc_id", "text")
  }

  test("exact dedup groups exact copies (incl. whitespace variants) only") {
    val res = Dedup.ExactDedup.run(docs).collect()
    val dupGroups = res.filter(_.getAs[Long]("n_duplicates") > 0)
    assert(dupGroups.length == 5)
    // keeper is the minimum doc_id of each group
    assert(dupGroups.map(_.getAs[Long]("keep_doc_id")).sorted.toSeq == Seq(0L, 1L, 2L, 3L, 4L))
    assert(res.map(_.getAs[Long]("n_docs")).sum == 35)
  }

  test("incremental dedup: batch vs corpus membership, exact at any bloom fpp") {
    // corpus = base docs; batch = 5 exact copies (whitespace variants,
    // ids 200+) + 10 genuinely new docs (ids 100+ are near-dups — NOT
    // exact content matches, so they must come back in_corpus = false)
    val corpus = docs.where(col("doc_id") < 100)
    val batch = docs.where(col("doc_id") >= 100)
    def got(fpp: Double) =
      Dedup.IncrementalDedup.report(batch, corpus, bloomFpp = fpp)
        .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    val expected =
      (0 until 10).map(i => (100L + i) -> false).toMap ++
        (0 until 5).map(i => (200L + i) -> true).toMap
    assert(got(0.01) == expected)
    // a hostile fpp (half the bloom probes lie) changes TRAFFIC, never
    // the answer — positives are verified by the real join
    assert(got(0.5) == expected)
    // bloom disabled = pure join verification path, same answer
    assert(got(0.0) == expected)
  }

  test("incremental dedup: null-text batch rows report in_corpus=false on both paths") {
    val corpus = docs.where(col("doc_id") < 100)
    val batch = docs.where(col("doc_id") >= 100)
      .union(Seq((300L, null.asInstanceOf[String])).toDF("doc_id", "text"))
    // the bloom path must agree with the pure-join path instead of
    // throwing on the null fingerprint inside BloomFilter.mightContain
    def flag(fpp: Double) =
      Dedup.IncrementalDedup.report(batch, corpus, bloomFpp = fpp)
        .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(flag(0.01).get(300L).contains(false))
    assert(flag(0.0).get(300L).contains(false))
  }

  test("nearDuplicatesOf + candidatePairs share ONE signatures kernel run") {
    CountingShingler.calls.set(0)
    val nDocs = docs.count()
    val sigs = Dedup.MinHashDedup
      .signatures(docs, shingler = CountingShingler)
      .localCheckpoint(false)
    val cands = Dedup.MinHashDedup.candidatePairs(sigs).count()
    val pairs = Dedup.MinHashDedup.nearDuplicatesOf(sigs, 0.8).collect()
    assert(cands > 0 && pairs.nonEmpty)
    assert(CountingShingler.calls.get == nDocs,
      s"kernel shingled ${CountingShingler.calls.get} docs across the " +
        s"composed pipeline; expected exactly $nDocs (one run)")
    // and the shared-frame path agrees with the self-contained one
    val direct = Dedup.MinHashDedup.nearDuplicates(docs, 0.8).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet ==
      direct.map(r => (r.getLong(0), r.getLong(1))).toSet)
  }

  test("charNgrams of short text is empty, never a spurious gram") {
    val g = Seq(("ab"), ("a"), (""), ("abc")).toDF("text")
      .select(Dedup.charNgrams(col("text"), 3).as("g"))
      .collect().map(_.getSeq[String](0))
    assert(g(0).isEmpty && g(1).isEmpty && g(2).isEmpty)
    assert(g(3) == Seq("abc"))
  }

  test("ngram jaccard allPairs finds the constructed near-dups at 0.8") {
    val pairs = Dedup.NgramJaccard.allPairs(docs, 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // every (i, 100+i) near-dup and (i, 200+i) exact pair is found
    (0 until 10).foreach(i => assert(pairs.contains((i.toLong, 100L + i)), s"missing near-dup $i"))
    (0 until 5).foreach(i => assert(pairs.contains((i.toLong, 200L + i)), s"missing exact pair $i"))
  }

  test("incremental minhash: batch near-dup membership vs corpus, verdicts match brute force") {
    // corpus = the 20 base docs; batch = 10 near-dups of 0..9 (ids
    // 100+), 5 exact copies of 0..4 (ids 200+), 2 unrelated new docs
    val corpus = docs.where(col("doc_id") < 100)
    val fresh = Seq(
      (300L, "entirely new content that matches nothing in the corpus at all"),
      (301L, "")).toDF("doc_id", "text")
    val batch = docs.where(col("doc_id") >= 100).unionAll(fresh)
    val out = Dedup.MinHashDedup.againstCorpus(batch, corpus, threshold = 0.8)
      .collect().map(r => r.getLong(0) ->
        ((r.getBoolean(1), Option(r.get(2)).map(_.asInstanceOf[Long]),
          Option(r.get(3)).map(_.asInstanceOf[Double])))).toMap
    assert(out.size === 17)
    // brute-force best corpus match per batch doc via the exact shingle
    // sets (the same trigram normalization the operator uses)
    val sh = Dedup.MinHashDedup.CharNgrams()
    def grams(t: String): Set[Long] =
      sh.shingleHashes(graft.operators.text.TextStatsKernel.normalize(t)).toSet
    val corpusSets = corpus.collect()
      .map(r => r.getLong(0) -> grams(r.getString(1))).toMap
    batch.collect().foreach { r =>
      val id = r.getLong(0)
      val g = grams(r.getString(1))
      val best = corpusSets.map { case (cid, cg) =>
        val inter = (g & cg).size
        val union = g.size + cg.size - inter
        (cid, if (union == 0) 0.0 else inter.toDouble / union)
      }.filter(_._2 >= 0.8)
      if (best.isEmpty) assert(out(id) === ((false, None, None)), s"doc $id")
      else {
        val (wantId, wantJ) = best.maxBy { case (cid, j) => (j, -cid) }
        val (nd, gotId, gotJ) = out(id)
        assert(nd && gotId.contains(wantId), s"doc $id: got $gotId want $wantId")
        // HALF_UP, matching Spark's round() — math.rint is half-even
        // and diverges on exact .5 boundaries
        val wantRounded = BigDecimal(wantJ)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
        assert(gotJ.contains(wantRounded), s"doc $id score")
      }
    }
    // exact copies report jaccard exactly 1.0 against their original
    (0 until 5).foreach(i => assert(out(200L + i)._3.contains(1.0)))
    // empty batch doc: similarity 0.0 by convention, never a match
    assert(out(301L) === ((false, None, None)))
  }

  test("minhash LSH recovers all high-jaccard pairs with exact scores (recall at 0.8 ≈ 1)") {
    val brute = Dedup.NgramJaccard.allPairs(docs, 0.8).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val lsh = Dedup.MinHashDedup.nearDuplicates(docs, 0.8).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // precision 1 by construction (candidates are exact-verified) and the
    // verified jaccard is identical to the brute-force value
    lsh.foreach { case (k, v) => assert(brute(k) == v) }
    // recall: at jaccard ≥0.8 with 16 bands × 8 rows, p(miss) < 1e-4 per
    // pair — demand full recall on this small fixture
    assert(lsh.keySet == brute.keySet)
  }

  test("word-shingle minhash: near-dups found, one-token change shifts w shingles") {
    val pairs = Dedup.MinHashDedup
      .nearDuplicates(docs, 0.7, shingler = Dedup.MinHashDedup.WordShingles(3))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // exact copies: all 28 shingles shared → jaccard 1.0, and identical
    // signatures collide in every band (always caught)
    (0 until 5).foreach(i => assert(pairs((i.toLong, 200L + i)) == 1.0))
    // token 5 changed out of 30: shingles 3,4,5 differ on each side →
    // jaccard = 25/31 ≈ 0.8065 (4dp). At that similarity one band of
    // 8 rows collides with p≈0.18, so banding recall is ~96% per pair —
    // demand the exact score on found pairs and a recall floor, not
    // perfection.
    val near = (0 until 10).flatMap(i => pairs.get((i.toLong, 100L + i)))
    assert(near.size >= 7, s"word-shingle recall too low: ${near.size}/10")
    near.foreach(j => assert(j == 0.8065))
  }

  test("simhash: exact copies at hamming 0; hamming matches bit_count of sig xor") {
    val sigs = Dedup.SimHash.signatures(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pairs = Dedup.SimHash.hammingPairs(docs, maxHamming = 3).collect()
    pairs.foreach { r =>
      val expected = java.lang.Long.bitCount(sigs(r.getLong(0)) ^ sigs(r.getLong(1)))
      assert(r.getAs[Number]("hamming").intValue == expected)
    }
    // exact text copies → identical token multisets → identical simhash
    val found = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    (0 until 5).foreach { i =>
      assert(sigs(i.toLong) == sigs(200L + i))
      assert(found.contains((i.toLong, 200L + i)))
    }
  }

  test("simhash blocking loses no pair within maxHamming (pigeonhole over 4 chunks)") {
    val sigs = Dedup.SimHash.signatures(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val all = for {
      a <- sigs.keys; b <- sigs.keys if a < b
      if java.lang.Long.bitCount(sigs(a) ^ sigs(b)) <= 3
    } yield (a, b)
    val found = Dedup.SimHash.hammingPairs(docs, maxHamming = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(found == all.toSet)
  }

  test("connected components: transitive chains collapse to min-id groups") {
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (8L, 9L), (7L, 9L))
      .toDF("doc_id_1", "doc_id_2")
    val res = Dedup.Components.components(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(res == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L,
      7L -> 7L, 8L -> 7L, 9L -> 7L))
  }

  test("connected components match brute-force union-find on a random graph") {
    val rng = new scala.util.Random(11)
    val edges = Seq.fill(120)((rng.nextInt(60).toLong, rng.nextInt(60).toLong))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
    // brute-force union-find
    val parent = Array.tabulate(60)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = edges.flatMap(e => Seq(e._1, e._2)).distinct
      .map(n => n -> {
        // path-compress to the root, then take the min id in the
        // component (roots are always min by the union rule above)
        find(n.toInt).toLong
      }).toMap
    val got = Dedup.Components.components(edges.toDF("doc_id_1", "doc_id_2"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want)
    // the distributed label-propagation path (smallGraphMax = 0 forces
    // it past the driver union-find shortcut) must agree exactly
    val distributed = Dedup.Components.components(
      edges.toDF("doc_id_1", "doc_id_2"), smallGraphMax = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(distributed == want)
    // cluster path: RELIABLE checkpoints to a directory (survives
    // executor loss) — same algorithm, same answers, and the round
    // checkpoints actually land in the dir
    val ckptDir = java.nio.file.Files.createTempDirectory("graft_ckpt")
    val reliable = Dedup.Components.components(
      edges.toDF("doc_id_1", "doc_id_2"), smallGraphMax = 0,
      checkpointDir = Some(ckptDir.toString))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(reliable == want)
    val written = java.nio.file.Files.walk(ckptDir).count()
    assert(written > 1, "no reliable checkpoint files were written")
  }

  test("dedupGroups: exact copies land in one group keyed by the min doc id") {
    val groups = Dedup.Components.dedupGroups(docs, 0.9).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // each exact copy 200+i groups with its base doc i
    (0 until 5).foreach(i => assert(groups(200L + i) == i.toLong))
  }

  test("clusterEdges components == pair-expansion components on a mixed near/exact corpus") {
    // cross-group verified edges (near-dups 100+i), in-group stars
    // (exact copies 200+i), and transitive chains must cluster the
    // same through the linear edge list as through the full pairs
    val threshold = 0.5
    val viaEdges = Dedup.Components.components(
        Dedup.MinHashDedup.clusterEdges(docs, threshold))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaPairs = Dedup.Components.components(
        Dedup.MinHashDedup.nearDuplicates(docs, threshold)
          .select("doc_id_1", "doc_id_2"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaEdges == viaPairs)
    assert(viaEdges.nonEmpty)
  }

  test("embedding LSH pairs: exact scores (precision 1), recall floor vs allPairs") {
    val emb = graft.sources.Tables(spark, TestSpark.sf0001, "embeddings")
    val brute = Dedup.EmbeddingDedup.allPairs(emb, 0.4).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val lsh = Dedup.EmbeddingDedup.lshPairs(emb, 0.4, dim = 64, bits = 4, tables = 16)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // every LSH pair is exact-scored, so it must appear in brute with
    // the identical score — precision 1 by construction
    lsh.foreach { case (k, v) => assert(brute(k) == v) }
    val recall = lsh.size.toDouble / brute.size
    assert(recall >= 0.9, s"LSH recall $recall (${lsh.size}/${brute.size})")
  }

  test("embedding cosine allPairs: 1.0 for identical, orthogonal excluded") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(2.0f, 0.0f, 0.0f)),   // same direction as 1
      (3L, Array(0.0f, 1.0f, 0.0f)),   // orthogonal
      (4L, Array(1.0f, 1.0f, 0.0f))    // 45° from 1
    ).toDF("vec_id", "embedding")
    val res = Dedup.EmbeddingDedup.allPairs(vecs, 0.9).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(res.keySet == Set((1L, 2L)))
    assert(res((1L, 2L)) == 1.0)
    val at45 = Dedup.EmbeddingDedup.allPairs(vecs, 0.7).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(at45((1L, 4L)) == 0.7071)
  }
}
