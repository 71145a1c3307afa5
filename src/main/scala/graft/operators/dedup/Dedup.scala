package graft.operators.dedup

import graft.operators.text.{TextOps, TextStatsKernel}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for LLM training-data pipelines (SURVEY §2
  * #25-29): exact, n-gram Jaccard, MinHash+LSH, SimHash, embedding
  * cosine.
  *
  * Scale architecture: near-dup detection is candidate generation
  * (LSH banding — shuffle keyed on (band, band_hash), bucket-local
  * pair expansion only) followed by exact verification on the
  * candidate pairs (a join back to the shingle sets by doc id). The
  * quadratic all-pairs path ([[NgramJaccard.allPairs]]) exists as the
  * correctness oracle and for small blocked domains; the LSH path is
  * the 100 TB route — its shuffle volume is O(docs × bands), never
  * O(docs²).
  */
object Dedup {

  /** Distinct character n-grams of the normalized text. Texts shorter
    * than `n` (after normalization) yield an EMPTY gram set — guarded
    * explicitly because `sequence(1, length-n+1)` would otherwise count
    * DOWN for short strings and emit a spurious gram.
    */
  def charNgrams(text: Column, n: Int): Column = {
    val t = TextOps.Fingerprint.normalized(text)
    when(length(t) >= n,
      array_distinct(transform(
        sequence(lit(1), length(t) - (n - 1)),
        i => substring(t, i.cast("int"), lit(n)))))
      .otherwise(array().cast("array<string>"))
  }

  /** Drop blocking buckets whose population exceeds `maxBucket` — ONE
    * window count over the bucket key; the window's hash partitioning
    * is exactly the subsequent self-join's key, so the exchange is
    * reused, not repeated. Shared by the MinHash band, SimHash chunk,
    * and embedding-LSH bucket paths so cap semantics cannot silently
    * diverge between them.
    */
  private[dedup] def capBuckets(df: DataFrame, maxBucket: Int,
                                bucketKeys: Seq[String]): DataFrame = {
    val w = Window.partitionBy(bucketKeys.map(col): _*)
    df.withColumn("bucket_n", count(lit(1)).over(w))
      .where(col("bucket_n") <= maxBucket)
      .drop("bucket_n")
  }

  /** Jaccard similarity of two distinct-element arrays. Two EMPTY sets
    * are defined as similarity 0.0 (empty documents are never
    * duplicates of each other) — a deliberate convention, mirrored in
    * every oracle.
    */
  private def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val union = size(a) + size(b) - inter
    when(union === 0, lit(0.0)).otherwise(inter / union)
  }

  // ---------------------------------------------------------------- #25
  /** Exact dedup: group by content fingerprint, keep the minimum doc id.
    * One hash-shuffle on the 128-bit fingerprint; group count and keeper
    * come out of the same aggregation.
    */
  object ExactDedup {
    def run(df: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame =
      df.select(col(idCol), md5(TextOps.Fingerprint.normalized(col(textCol))).as("fingerprint"))
        .groupBy("fingerprint")
        .agg(count(lit(1)).as("n_docs"), min(col(idCol)).as("keep_doc_id"))
        .withColumn("n_duplicates", col("n_docs") - 1)
        .orderBy("keep_doc_id")

    def oracleSql(table: String): String =
      s"""SELECT md5(lower(trim(regexp_replace(text, '${TextOps.WsClass}+', ' ', 'g')))) AS fingerprint,
         |  count(*) AS n_docs, min(doc_id) AS keep_doc_id,
         |  count(*) - 1 AS n_duplicates
         |FROM $table GROUP BY 1 ORDER BY keep_doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- #25b
  /** Incremental dedup: a NEW batch checked against an EXISTING corpus
    * — the shape exact dedup actually takes at 100 TB, where each
    * day's crawl lands against the accumulated corpus and re-pairing
    * the corpus with itself is never an option.
    *
    * Scale path: the corpus reduces to its DISTINCT content
    * fingerprints once (one 128-bit value per unique content, reusable
    * across batches), and a Bloom filter over those fingerprints rides
    * broadcast into a map-side prefilter on the batch. Bloom NEGATIVES
    * are definitively new (no false negatives by construction) and
    * skip the join entirely; only the ~fpp fraction of positives is
    * verified by the real fingerprint join — the shuffle carries
    * O(duplicates + fpp × batch) rows, not O(batch). The final answer
    * is EXACT at any fpp; fpp only tunes how much of the batch pays
    * the shuffle.
    *
    * In-batch duplicates are [[ExactDedup]]'s job; this operator
    * answers only "was this content already in the corpus?".
    */
  object IncrementalDedup {
    def fingerprints(df: DataFrame, textCol: String = "text",
                     idCol: String = "doc_id"): DataFrame =
      df.select(col(idCol),
        TextOps.Fingerprint.fingerprintCol(col(textCol)).as("fingerprint"))

    /** (doc_id, fingerprint, in_corpus) per batch doc, ordered by id.
      * `bloomFpp` trades prefilter size for join traffic; 0 disables
      * the bloom stage (pure join — the verification path).
      */
    def report(batch: DataFrame, corpus: DataFrame,
               textCol: String = "text", idCol: String = "doc_id",
               bloomFpp: Double = 0.01): DataFrame = {
      // lazy checkpoints: the corpus fingerprints feed the count, the
      // bloom build, AND the verification join; the batch fingerprints
      // feed the prefilter and the final annotation join — without
      // them each consumer re-scans and re-hashes the full input
      val b = fingerprints(batch, textCol, idCol).localCheckpoint(false)
      val corpusFps = fingerprints(corpus, textCol, idCol)
        .select("fingerprint").distinct()
        .localCheckpoint(false)
      val candidates =
        if (bloomFpp <= 0) b
        else {
          // expectedNumItems needs the distinct-fp count: one cheap
          // aggregate over the corpus (in a real pipeline the corpus
          // fingerprint table is maintained incrementally and its size
          // is a known metadata quantity)
          val n = math.max(1L, corpusFps.count())
          val bloom = corpusFps.stat.bloomFilter("fingerprint", n, bloomFpp)
          // null guard: a null text yields a null fingerprint, and the
          // join path reports it in_corpus = false — the bloom path must
          // agree instead of throwing inside BloomFilter.mightContain
          val mightContain = udf((s: String) => s != null && bloom.mightContain(s))
          // the UDF is a per-row bit probe on an already-computed md5 —
          // the codegen break costs microseconds against the shuffle it
          // saves for every bloom-negative row
          b.where(mightContain(col("fingerprint")))
        }
      val confirmed = candidates.join(corpusFps, Seq("fingerprint"))
        .select(col(idCol)).withColumn("in_corpus", lit(true))
      b.join(confirmed, Seq(idCol), "left")
        .select(col(idCol), col("fingerprint"),
          coalesce(col("in_corpus"), lit(false)).as("in_corpus"))
        .orderBy(idCol)
    }

    /** DuckDB oracle: same normalized-md5 membership, via IN. */
    def oracleSql(table: String, splitId: Long): String = {
      val fp = s"md5(lower(trim(regexp_replace(text, '${TextOps.WsClass}+', ' ', 'g'))))"
      s"""SELECT doc_id, $fp AS fingerprint,
         |  $fp IN (SELECT DISTINCT $fp FROM $table WHERE doc_id < $splitId)
         |    AS in_corpus
         |FROM $table WHERE doc_id >= $splitId
         |ORDER BY doc_id""".stripMargin
    }
  }

  // ---------------------------------------------------------------- #28
  /** Exact n-gram Jaccard pair similarity. [[allPairs]] is O(n²) — the
    * verification oracle and the small-domain path; production candidate
    * generation is [[MinHashDedup.candidatePairs]].
    */
  object NgramJaccard {
    val N = 3

    def grams(df: DataFrame, textCol: String, idCol: String): DataFrame =
      df.select(col(idCol).as("gid"), charNgrams(col(textCol), N).as("grams"))

    def allPairs(df: DataFrame, threshold: Double,
                 textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
      val g = grams(df, textCol, idCol)
      val a = g.select(col("gid").as("doc_id_1"), col("grams").as("g1"))
      val b = g.select(col("gid").as("doc_id_2"), col("grams").as("g2"))
      a.join(b, col("doc_id_1") < col("doc_id_2"))
        .withColumn("jaccard_raw", jaccard(col("g1"), col("g2")))
        // filter on the unrounded value; round only for reporting
        .where(col("jaccard_raw") >= threshold)
        .select(col("doc_id_1"), col("doc_id_2"),
          round(col("jaccard_raw"), 4).as("jaccard"))
        .orderBy("doc_id_1", "doc_id_2")
    }

    def oracleSql(table: String, threshold: Double): String =
      s"""WITH g AS (
         |  SELECT doc_id,
         |    CASE WHEN length(lower(trim(regexp_replace(text, '${TextOps.WsClass}+', ' ', 'g')))) >= $N
         |      THEN list_distinct(list_transform(
         |        range(1, length(lower(trim(regexp_replace(text, '${TextOps.WsClass}+', ' ', 'g')))) - ${N - 1} + 1),
         |        i -> substr(lower(trim(regexp_replace(text, '${TextOps.WsClass}+', ' ', 'g'))), i, $N)))
         |      ELSE [] END AS grams
         |  FROM $table)
         |SELECT doc_id_1, doc_id_2, round(jaccard_raw, 4) AS jaccard FROM (
         |  SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2,
         |    CASE WHEN len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams)) = 0
         |      THEN 0.0
         |      ELSE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
         |        / (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))) END AS jaccard_raw
         |  FROM g a JOIN g b ON a.doc_id < b.doc_id) t
         |WHERE jaccard_raw >= $threshold
         |ORDER BY doc_id_1, doc_id_2""".stripMargin
  }

  // ---------------------------------------------------------------- #26
  /** MinHash + LSH near-dup detection (Broder '97 / MMDS ch.3).
    *
    * numHashes=128 seeded xxhash64 functions; 16 bands × 8 rows. A pair
    * with Jaccard 0.9 is caught by ≥1 band with p ≈ 1-(1-0.9⁸)¹⁶ ≈
    * 0.9999. Candidates are verified with exact Jaccard, so bands only
    * affect recall, never precision.
    */
  object MinHashDedup {
    val NumHashes = 128
    val Bands = 16
    val Rows = NumHashes / Bands

    /** doc_id ("gid"), the 128-long minhash signature, and the sorted
      * distinct gram-hash set used for exact verification.
      *
      * One typed mapPartitions kernel does everything per document:
      * slide an O(len) window over the normalized text
      * ([[TextStatsKernel.normalize]], the kernel twin of
      * [[charNgrams]]' normalization — DedupSpec's minhash-vs-allPairs
      * comparison asserts the agreement; the Catalyst
      * charNgrams path is O(len²) — `substring(t, i, n)` re-scans the
      * UTF8String from the start for every i — and measured 25 s for
      * 5000 docs at sf0.1 vs <1 s here), hash each n-gram ONCE,
      * deduplicate via sort, then run each distinct hash through 128
      * affine permutations (a_i·h + b_i over Z_2^64) updating running
      * minima. All JIT'd loops, no interpreted Catalyst lambdas.
      */
    /** Shingling granularity: character n-grams (robust to small edits
      * anywhere) or word w-shingles (the classic near-dup granularity
      * for web/LLM corpora — Broder '97 used w=10 words).
      */
    trait Shingler extends Serializable {
      /** Hashes of the (possibly repeated) shingles of normalized text. */
      def shingleHashes(normalized: String): Array[Long]
    }
    final case class CharNgrams(n: Int = NgramJaccard.N) extends Shingler {
      def shingleHashes(t: String): Array[Long] = {
        val count = math.max(t.length - (n - 1), 0)
        val raw = new Array[Long](count)
        var i = 0
        while (i < count) {
          raw(i) = graft.functions.Hash64.strHash(t.substring(i, i + n))
          i += 1
        }
        raw
      }
    }
    final case class WordShingles(w: Int = 3) extends Shingler {
      def shingleHashes(t: String): Array[Long] = {
        val toks = if (t.isEmpty) Array.empty[String] else t.split(" ")
        val count = math.max(toks.length - (w - 1), 0)
        val raw = new Array[Long](count)
        var i = 0
        while (i < count) {
          raw(i) = graft.functions.Hash64.strHash(
            toks.slice(i, i + w).mkString(" "))
          i += 1
        }
        raw
      }
    }

    def signatures(df: DataFrame, textCol: String = "text",
                   idCol: String = "doc_id",
                   shingler: Shingler = CharNgrams()): DataFrame = {
      val spark = df.sparkSession
      import spark.implicits._
      val n = NumHashes
      df.select(col(idCol).cast("long").as("gid"), col(textCol))
        .as[(Long, String)]
        .mapPartitions { it =>
          val as = Array.tabulate(n)(i => graft.functions.Hash64.mix(i.toLong) | 1L)
          val bs = Array.tabulate(n)(i => graft.functions.Hash64.mix(~i.toLong))
          it.map { case (gid, text) =>
            val t = TextStatsKernel.normalize(if (text == null) "" else text)
            val raw = shingler.shingleHashes(t)
            val nGrams = raw.length
            java.util.Arrays.sort(raw)
            // in-place dedupe of the sorted hashes
            var w = 0
            var i = 0
            while (i < nGrams) {
              if (w == 0 || raw(i) != raw(w - 1)) { raw(w) = raw(i); w += 1 }
              i += 1
            }
            val ghash = java.util.Arrays.copyOf(raw, w)
            val sig = Array.fill(n)(Long.MaxValue)
            var g = 0
            while (g < w) {
              val h = ghash(g)
              var k = 0
              while (k < n) {
                val v = as(k) * h + bs(k)
                if (v < sig(k)) sig(k) = v
                k += 1
              }
              g += 1
            }
            (gid, sig, ghash)
          }
        }.toDF("gid", "sig", "ghash")
    }

    /** Residual-bucket cap applied AFTER exact-content collapse. A
      * bucket of B distinct contents emits ≤ C(B,2) rep pairs into the
      * estimate prefilter — 1024 bounds that at ~524k pairs, a
      * single-task-sized unit of work. Buckets over the cap are
      * SKIPPED (recall loss, never precision loss) and reported by
      * [[heavyBuckets]]; raise the cap with the audit in hand rather
      * than letting one degenerate band key run a 10¹²-pair join task
      * at 100 TB. AQE skew splitting cannot substitute: the blowup is
      * join OUTPUT, not input partition size.
      */
    val DefaultMaxBucket = 1024

    /** Second-fingerprint seed (golden-ratio constant). The second view
      * must be INDEPENDENT of the first for every input: the previous
      * `xxhash64(reverse(ghash))` collapses to fp1 whenever
      * reverse(x) == x — size-≤1 and palindromic hash arrays, i.e.
      * exactly the short-doc classes that are most numerous — silently
      * degrading the 128-bit fingerprint to 64 bits where it matters
      * most. Prepending a fixed seed column gives a differently-keyed
      * hash for ALL inputs.
      */
    private val Fp2Seed = 0x9E3779B97F4A7C15L

    /** Exact-content collapse (hot-bucket bound, part 1): group docs
      * by a 128-bit fingerprint of the sorted distinct gram-hash set
      * (two independently-seeded xxhash64 views; collision odds ~2⁻¹²⁸,
      * which is what licenses emitting in-group pairs as jaccard 1.0
      * without re-verification). Identical gram sets ⇒ jaccard exactly
      * 1.0 ⇒ in-group pairs need no banding at all, so a million
      * identical boilerplate pages contribute ONE row per band instead
      * of a million rows that the band self-join would expand to
      * C(10⁶,2) pairs before any filter could run.
      *
      * Returns (gid, rep, n_docs, n_grams): rep = min gid of the
      * content group, n_grams = |gram set| (0 for empty/short docs,
      * whose similarity to anything is 0.0 by convention).
      *
      * ONE shuffle: group stats ride a window over the fingerprint
      * instead of a groupBy + join-back (which shuffles the same rows
      * twice over the same key).
      */
    private[graft] def contentMembers(sigs: DataFrame): DataFrame = {
      val w = Window.partitionBy("fp1", "fp2")
      sigs.select(col("gid"),
          xxhash64(col("ghash")).as("fp1"),
          xxhash64(lit(Fp2Seed), col("ghash")).as("fp2"),
          size(col("ghash")).as("n_grams"))
        .select(col("gid"),
          min("gid").over(w).as("rep"),
          count(lit(1)).over(w).as("n_docs"),
          col("n_grams"))
    }

    /** The LSH band explode over a frame carrying `sig`: keeps
      * `carry`'s columns and adds (band, band_hash). The ONE place the
      * band hashing is defined — every banding consumer goes through
      * it, so band count/row slicing cannot diverge between paths.
      */
    private def bandExploded(df: DataFrame, carry: Seq[String]): DataFrame =
      df.select(
        carry.map(col) :+
          posexplode(array((0 until Bands).map { b =>
            xxhash64(slice(col("sig"), b * Rows + 1, Rows))
          }: _*)).as(Seq("band", "band_hash")): _*)

    /** (gid, sig, band, band_hash) for the non-empty content
      * representatives — the only rows that enter the band self-join.
      */
    private def bandedRepsRaw(sigs: DataFrame, members: DataFrame): DataFrame =
      bandExploded(
        sigs.join(
          members.where(col("gid") === col("rep") && col("n_grams") > 0)
            .select("gid"),
          Seq("gid")),
        Seq("gid", "sig"))

    /** Banded reps with over-cap buckets removed (hot-bucket bound,
      * part 2, [[Dedup.capBuckets]]). */
    private[graft] def bandedReps(sigs: DataFrame, members: DataFrame,
                                  maxBucket: Int): DataFrame =
      capBuckets(bandedRepsRaw(sigs, members), maxBucket, Seq("band", "band_hash"))

    /** Skew-report-style audit of the band buckets the cap drops:
      * (band, band_hash, n_reps) for every bucket with more than
      * `maxBucket` DISTINCT contents, largest first. Empty on healthy
      * corpora — a non-empty result is the signal to inspect the
      * colliding content class and either dedup it upstream or raise
      * the cap deliberately.
      */
    def heavyBuckets(df: DataFrame, textCol: String = "text",
                     idCol: String = "doc_id",
                     shingler: Shingler = CharNgrams(),
                     maxBucket: Int = DefaultMaxBucket): DataFrame = {
      val sigs = signatures(df, textCol, idCol, shingler).localCheckpoint(true)
      bandedRepsRaw(sigs, contentMembers(sigs))
        .groupBy("band", "band_hash").agg(count(lit(1)).as("n_reps"))
        .where(col("n_reps") > maxBucket)
        .orderBy(col("n_reps").desc, col("band"), col("band_hash"))
    }

    /** Candidate pairs from LSH banding: collapse identical SIGNATURES
      * to one representative, band the reps (over-cap buckets dropped),
      * pair within buckets, then restore member pairs — in-group pairs
      * (identical signatures collide in every band by definition) plus
      * cross-group pairs expanded through the membership. The band
      * self-join is O(distinct sigs × bands); only the final, contract-
      * mandated pair OUTPUT can be quadratic in a degenerate class.
      * (Collapse here keys on the signature, not the gram set — safe
      * because candidates are verified downstream; [[nearDuplicates]]
      * keys on content, which its unverified 1.0 pairs require.)
      */
    def candidatePairs(sigDf: DataFrame,
                       maxBucket: Int = DefaultMaxBucket): DataFrame = {
      // Empty docs all share the all-MaxValue signature; similarity to
      // anything is 0.0 by convention, so their group enters NEITHER
      // the banding NOR the within-group expansion — otherwise c empty
      // docs emit C(c,2) candidates that downstream verification must
      // reject one by one: the exact quadratic blowup this path bounds.
      // Group stats ride one window over the fingerprint (single
      // shuffle); the checkpoint is shared by the three frames built
      // on it. Under AQE, `localCheckpoint(false)` over a plan with an
      // exchange runs that exchange's map stage at the call; only the
      // post-shuffle window stage waits for the first consuming job.
      val w = Window.partitionBy("fp1", "fp2")
      val keyed = sigDf.select(col("gid"), col("sig"),
          xxhash64(col("sig")).as("fp1"),
          xxhash64(lit(Fp2Seed), col("sig")).as("fp2"),
          (col("sig") === array_repeat(lit(Long.MaxValue), NumHashes)).as("empty"))
        .select(col("gid"), col("sig"), col("empty"),
          min("gid").over(w).as("rep"),
          count(lit(1)).over(w).as("n_docs"))
        .localCheckpoint(false)
      val capped = capBuckets(
        bandExploded(keyed.where(col("gid") === col("rep") && !col("empty")),
          Seq("gid")),
        maxBucket, Seq("band", "band_hash"))
      val l = capped.select(col("band"), col("band_hash"), col("gid").as("rep_1"))
      val r = capped.select(col("band"), col("band_hash"), col("gid").as("rep_2"))
      val repPairs = l.join(r, Seq("band", "band_hash"))
        .where(col("rep_1") < col("rep_2"))
        .select("rep_1", "rep_2")
        .distinct()
      val m1 = keyed.select(col("rep").as("rep_1"), col("gid").as("m1"))
      val m2 = keyed.select(col("rep").as("rep_2"), col("gid").as("m2"))
      // shuffle_hash, build = candidate pairs (see membersAndVerified:
      // membership legs are O(corpus), never the build side at scale)
      val cross = repPairs.hint("shuffle_hash").join(m1, Seq("rep_1"))
        .hint("shuffle_hash").join(m2, Seq("rep_2"))
        .select(least(col("m1"), col("m2")).as("doc_id_1"),
          greatest(col("m1"), col("m2")).as("doc_id_2"))
      val dup = keyed.where(col("n_docs") >= 2 && !col("empty"))
      // merge, not shuffle_hash: both sides ARE the dup membership leg
      // (no narrow build side exists), and an SHJ build of a duplicate-
      // heavy group leg cannot spill — sort-merge is the safe shape;
      // the hint still only needs to keep broadcast off (checkpoint
      // stats undercount array columns, see membersAndVerified)
      val within = dup.select(col("rep"), col("gid").as("doc_id_1"))
        .hint("merge")
        .join(dup.select(col("rep"), col("gid").as("doc_id_2")), Seq("rep"))
        .where(col("doc_id_1") < col("doc_id_2"))
        .select("doc_id_1", "doc_id_2")
      cross.unionAll(within)
    }

    /** Full pipeline: exact-content collapse, LSH banding over the
      * distinct-content representatives (over-cap buckets dropped),
      * signature-estimate prefilter, exact-Jaccard verification, then
      * member expansion — identical output schema and (cap permitting)
      * identical rows to [[NgramJaccard.allPairs]], with O(distinct
      * contents × bands) shuffle.
      *
      * Hot-bucket bound: degenerate corpora (millions of identical
      * boilerplate pages, empty/short docs that share the all-MaxValue
      * signature) previously hit the band self-join as one bucket and
      * expanded to C(c,2) pairs BEFORE any filter could run — join
      * OUTPUT blowup, which AQE skew splitting cannot touch. Now
      * identical content enters banding exactly once ([[contentMembers]]
      * — in-group pairs are emitted directly at jaccard 1.0, which
      * identical gram sets guarantee), empty docs never enter at all
      * (similarity 0.0 by convention), and residual buckets over
      * `maxBucket` DISTINCT contents are skipped (recall loss only,
      * audited by [[heavyBuckets]]).
      *
      * Funnel stages after the collapse, each cutting the pair count
      * before the next (wider) payload is touched:
      *  1. band join on (band, band_hash) — the only O(reps)-sized
      *     shuffle carries (gid, 1 KB signature) per band;
      *  2. estimate Jaccard from the 128 signature components IN the
      *     join output (JIT'd kernel, no extra shuffle) and drop pairs
      *     with est < threshold − 3.5σ (σ = √(t(1−t)/128)): a pair at
      *     the true threshold survives with p ≈ 1−2e-4, while the
      *     low-similarity bulk that banding lets through on
      *     high-baseline corpora is eliminated;
      *  3. exact verification only for survivors: join back to the
      *     SORTED GRAM-HASH sets (8 bytes/gram vs ~10-byte strings)
      *     and intersect with a merge-walk — an order of magnitude
      *     cheaper than Catalyst array_intersect on string arrays;
      *  4. expansion through the membership: verified (rep_1, rep_2)
      *     scores apply verbatim to every cross-group member pair
      *     (identical gram sets ⇒ identical jaccard), plus in-group
      *     pairs at 1.0. Only this final, contract-mandated OUTPUT can
      *     be quadratic in a duplicate class.
      * Measured at sf0.1: 100 s (HOF signatures + string verify) →
      * 45 s (kernel signatures, unfiltered verify) → ~7 s (funnel) →
      * ~equal with the collapse (no degenerate classes at sf0.1).
      */
    def nearDuplicates(df: DataFrame, threshold: Double,
                       textCol: String = "text", idCol: String = "doc_id",
                       shingler: Shingler = CharNgrams(),
                       maxBucket: Int = DefaultMaxBucket): DataFrame =
      nearDuplicatesUnordered(df, threshold, textCol, idCol, shingler, maxBucket)
        .orderBy("doc_id_1", "doc_id_2")

    /** [[nearDuplicates]] over a pre-materialized [[signatures]] frame —
      * the composition path: a pipeline that wants raw candidates AND
      * verified pairs builds `signatures(df).localCheckpoint(false)`
      * ONCE and feeds it to both this and [[candidatePairs]], so the
      * shingle+minhash kernel — the dominant cost — runs exactly once
      * for the whole pipeline instead of once per operator.
      */
    def nearDuplicatesOf(sigs: DataFrame, threshold: Double,
                         maxBucket: Int = DefaultMaxBucket): DataFrame =
      fromSignatures(sigs, threshold, maxBucket)
        .orderBy("doc_id_1", "doc_id_2")

    /** [[nearDuplicates]] without the final global sort — the variant
      * consumers that aggregate the pairs (connected components) feed
      * on: a total order on pair output is presentation, and at scale
      * it is a full range-partition exchange the next groupBy throws
      * away.
      */
    private[dedup] def nearDuplicatesUnordered(
                       df: DataFrame, threshold: Double,
                       textCol: String = "text", idCol: String = "doc_id",
                       shingler: Shingler = CharNgrams(),
                       maxBucket: Int = DefaultMaxBucket): DataFrame =
      // localCheckpoint — materialize the signature kernel ONCE: sigs
      // feeds the membership, the band explode, AND both sides of the
      // verify join, and those branches share no exchange. Unlike a
      // persist(MEMORY_AND_DISK) there is no session-long cache leak:
      // checkpoint blocks are reference-tracked and freed by the
      // ContextCleaner once the plan is unreachable. LAZY (eager=false)
      // on both frames (sigs here, `members` in membersAndVerified)
      // instead of eager: eager checkpoints added two scheduling
      // barriers per call, which benched as a 2.7× regression on
      // sub-second corpora while buying nothing at scale (the work is
      // identical, only the barrier moves). Lazy is not action-free:
      // under AQE, `localCheckpoint(false)` over a plan with an
      // exchange runs that exchange's map stage at the call. `members`
      // is such a plan (its content window shuffles), so its call runs
      // one stage before this method returns — the signature kernel
      // (which fills the sigs checkpoint) plus the window's shuffle
      // write. Only the post-shuffle stages wait for a consuming job.
      fromSignatures(
        signatures(df, textCol, idCol, shingler).localCheckpoint(false),
        threshold, maxBucket)

    /** The funnel shared by the pair expansion ([[fromSignatures]]) and
      * the connectivity-only edge list ([[clusterEdges]]): content-group
      * membership plus REP-LEVEL verified pairs — everything BEFORE the
      * output shape is decided. `sigs` should already be checkpointed
      * (callers that share it across operators checkpoint once; a raw
      * lineage still computes correctly, just re-running its kernel per
      * consuming branch).
      */
    /** Estimate cutoff for the signature prefilter: a pair at the true
      * threshold survives with p ≈ 1−2e-4 (3.5σ over the 128-component
      * agreement fraction). ONE definition — the self-join and cross
      * funnels must never drift apart on it.
      */
    private def estCutoffFor(threshold: Double): Double =
      threshold - 3.5 * math.sqrt(threshold * (1 - threshold) / NumHashes)

    /** Signature-estimate prefilter kernel over band-join output
      * carrying (aCol, bCol, s1, s2): keeps pairs whose signature
      * agreement clears `cutoff`, deduped across bands.
      */
    private def estimateSurvivors(joined: DataFrame, aCol: String,
                                  bCol: String, cutoff: Double): DataFrame = {
      val spark = joined.sparkSession
      import spark.implicits._
      joined.select(col(aCol), col(bCol), col("s1"), col("s2"))
        .as[(Long, Long, Array[Long], Array[Long])]
        .mapPartitions { it =>
          it.flatMap { case (a, b, s1, s2) =>
            var eq = 0; var i = 0
            while (i < s1.length) { if (s1(i) == s2(i)) eq += 1; i += 1 }
            if (eq.toDouble / s1.length >= cutoff) Iterator.single((a, b))
            else Iterator.empty
          }
        }.toDF(aCol, bCol)
        .dropDuplicates(aCol, bCol)
    }

    /** Exact-Jaccard verification of a narrow pair list against the
      * sorted gram-hash legs (merge-walk intersection).
      *
      * shuffle_hash hints, build side = the pair list: a checkpointed
      * frame's copied Catalyst stats price array columns at their
      * tiny defaultSize, so the static planner would BROADCAST the
      * gram-hash legs — measured 8.3 GiB at 1000× sf0.1, over Spark's
      * 8 GiB hard broadcast cap (the run fails outright, found by the
      * sf100 full-suite survival run). The ghash side is O(corpus) at
      * any scale and can never be the build side; the post-prefilter
      * pairs are the narrow side a cluster wants hashed.
      */
    private def verifyPairs(pairs: DataFrame, aSigs: DataFrame, bSigs: DataFrame,
                            aCol: String, bCol: String,
                            threshold: Double): DataFrame = {
      val spark = pairs.sparkSession
      import spark.implicits._
      pairs.hint("shuffle_hash")
        .join(aSigs.select(col("gid").as(aCol), col("ghash").as("h1")), Seq(aCol))
        .hint("shuffle_hash")
        .join(bSigs.select(col("gid").as(bCol), col("ghash").as("h2")), Seq(bCol))
        .select(col(aCol), col(bCol), col("h1"), col("h2"))
        .as[(Long, Long, Array[Long], Array[Long])]
        .mapPartitions { it =>
          it.flatMap { case (a, b, h1, h2) =>
            var i = 0; var j = 0; var inter = 0
            while (i < h1.length && j < h2.length) {
              if (h1(i) == h2(j)) { inter += 1; i += 1; j += 1 }
              else if (h1(i) < h2(j)) i += 1
              else j += 1
            }
            val union = h1.length + h2.length - inter
            val jac = if (union == 0) 0.0 else inter.toDouble / union
            if (jac >= threshold) Iterator.single((a, b, jac)) else Iterator.empty
          }
        }.toDF(aCol, bCol, "jaccard_raw")
    }

    private def membersAndVerified(sigs: DataFrame, threshold: Double,
                                   maxBucket: Int): (DataFrame, DataFrame) = {
      require(threshold > 0.0 && threshold <= 1.0,
        s"threshold must be in (0, 1], got $threshold (at 0 every pair matches — " +
          "that output is quadratic by definition; use allPairs on a blocked domain)")
      val members = contentMembers(sigs).localCheckpoint(false)
      val capped = bandedReps(sigs, members, maxBucket)
      val l = capped.select(col("band"), col("band_hash"),
        col("gid").as("rep_1"), col("sig").as("s1"))
      val r = capped.select(col("band"), col("band_hash"),
        col("gid").as("rep_2"), col("sig").as("s2"))
      val survivors = estimateSurvivors(
        l.join(r, Seq("band", "band_hash")).where(col("rep_1") < col("rep_2")),
        "rep_1", "rep_2", estCutoffFor(threshold))
      (members, verifyPairs(survivors, sigs, sigs, "rep_1", "rep_2", threshold))
    }

    /** Pair-expansion output of [[nearDuplicates]]/[[nearDuplicatesOf]]:
      * verified rep-pair scores expanded to every member pair (the
      * contract-mandated, potentially duplication-quadratic OUTPUT).
      */
    private def fromSignatures(sigs: DataFrame, threshold: Double,
                               maxBucket: Int): DataFrame = {
      val (members, verified) = membersAndVerified(sigs, threshold, maxBucket)
      val m1 = members.select(col("rep").as("rep_1"), col("gid").as("m1"))
      val m2 = members.select(col("rep").as("rep_2"), col("gid").as("m2"))
      // shuffle_hash, build = verified pairs: the membership legs are
      // O(corpus) rows — broadcastable at bench scale only because the
      // checkpoint stats undercount (see membersAndVerified); at 100 TB
      // a full doc-id membership broadcast is impossible by size
      val cross = verified.hint("shuffle_hash").join(m1, Seq("rep_1"))
        .hint("shuffle_hash").join(m2, Seq("rep_2"))
        .select(least(col("m1"), col("m2")).as("doc_id_1"),
          greatest(col("m1"), col("m2")).as("doc_id_2"), col("jaccard_raw"))
      // in-group pairs: identical gram sets ⇒ jaccard exactly 1.0 ≥ any
      // valid threshold; empty-content groups (n_grams = 0) are
      // similarity 0.0 by convention and emit nothing
      val dup = members.where(col("n_docs") >= 2 && col("n_grams") > 0)
      // merge, not shuffle_hash: both sides ARE the dup membership leg
      // (no narrow build side exists), and an SHJ build of a duplicate-
      // heavy group leg cannot spill — sort-merge is the safe shape;
      // the hint still only needs to keep broadcast off (checkpoint
      // stats undercount array columns, see membersAndVerified)
      val within = dup.select(col("rep"), col("gid").as("doc_id_1"))
        .hint("merge")
        .join(dup.select(col("rep"), col("gid").as("doc_id_2")), Seq("rep"))
        .where(col("doc_id_1") < col("doc_id_2"))
        .select(col("doc_id_1"), col("doc_id_2"), lit(1.0).as("jaccard_raw"))
      cross.unionAll(within)
        .select(col("doc_id_1"), col("doc_id_2"),
          round(col("jaccard_raw"), 4).as("jaccard"))
    }

    /** Incremental NEAR-dup: for each batch document, does the corpus
      * already contain a ≥-threshold near-duplicate? The minhash twin
      * of [[IncrementalDedup]] (exact membership) — the "dedupe the new
      * crawl against the existing corpus" step every growing training
      * set runs (RefinedWeb/Dolma do exactly this batch-vs-index shape).
      *
      * Scale shape — the reason this is NOT `nearDuplicates(batch ∪
      * corpus)` with the cross pairs filtered out: the corpus side is
      * only ever collapsed, banded, and probed — corpus×corpus pairs
      * are never formed, so adding a small batch to a 100 TB corpus
      * costs O(corpus banding) + O(cross candidates), and in a
      * maintained pipeline the corpus signature/band table persists and
      * the marginal cost is the batch side alone. The funnel is the
      * [[membersAndVerified]] one, cross-sided: per-side exact-content
      * collapse → per-side hot-bucket cap → cross-ONLY band join →
      * signature-estimate prefilter → exact gram-set verification
      * (shuffle_hash, build = the narrow pair list — the ghash legs are
      * O(corpus) and can never be the build side).
      *
      * Exact batch/corpus copies need no special case: identical gram
      * sets give identical signatures, collide in every band, and
      * verify at exactly 1.0. Empty/short docs (no grams) are
      * similarity 0.0 by convention and never match.
      *
      * Output, one row per batch document, ordered by id:
      * `(doc_id, near_dup, best_corpus_id, jaccard)` — best = highest
      * verified jaccard, ties to the smallest corpus id; non-matching
      * docs carry `(false, null, null)`.
      */
    def againstCorpus(batch: DataFrame, corpus: DataFrame, threshold: Double,
                      textCol: String = "text", idCol: String = "doc_id",
                      shingler: Shingler = CharNgrams(),
                      maxBucket: Int = DefaultMaxBucket): DataFrame = {
      require(threshold > 0.0 && threshold <= 1.0,
        s"threshold must be in (0, 1], got $threshold")
      val bsigs = signatures(batch, textCol, idCol, shingler).localCheckpoint(false)
      val csigs = signatures(corpus, textCol, idCol, shingler).localCheckpoint(false)
      val bm = contentMembers(bsigs).localCheckpoint(false)
      val cm = contentMembers(csigs)

      val l = bandedReps(bsigs, bm, maxBucket)
        .select(col("band"), col("band_hash"),
          col("gid").as("b_rep"), col("sig").as("s1"))
      val r = bandedReps(csigs, cm, maxBucket)
        .select(col("band"), col("band_hash"),
          col("gid").as("c_rep"), col("sig").as("s2"))
      val survivors = estimateSurvivors(l.join(r, Seq("band", "band_hash")),
        "b_rep", "c_rep", estCutoffFor(threshold))
      val verified = verifyPairs(survivors, bsigs, csigs,
        "b_rep", "c_rep", threshold)

      // best corpus match per batch content group: lexicographic
      // struct max = highest jaccard, then smallest corpus id (the
      // corpus rep IS its content group's minimum id). The corpus-side
      // collapse makes this the best over every corpus DOC: a
      // non-representative corpus doc has its rep's identical gram set.
      val best = verified
        .groupBy("b_rep")
        .agg(max(struct(col("jaccard_raw"), (-col("c_rep")).as("neg"))).as("b"))
        .select(col("b_rep"), col("b.jaccard_raw").as("jaccard_raw"),
          (-col("b.neg")).as("best_corpus_id"))

      bm.select(col("gid").as(idCol), col("rep").as("b_rep"))
        .join(best, Seq("b_rep"), "left")
        .select(col(idCol),
          col("jaccard_raw").isNotNull.as("near_dup"),
          col("best_corpus_id"),
          round(col("jaccard_raw"), 4).as("jaccard"))
        .orderBy(idCol)
    }

    /** Connectivity-only edge list for CLUSTERING consumers: one star
      * per duplicate content group (rep → member, g−1 edges) plus ONE
      * edge per verified rep pair — O(docs + rep pairs) edges with the
      * SAME connected components as the full pair expansion (a clique
      * and its star are connectivity-equivalent; a complete bipartite
      * cross-group expansion and star₁ ∪ star₂ ∪ {rep₁—rep₂}
      * likewise).
      *
      * This is the difference between clustering surviving heavy
      * duplication and not: measured at 100× replication (every doc in
      * 100-clone groups, 500 k docs), the pair expansion emits ~25 M
      * edges — C(100,2) per group — and label propagation over them
      * exhausted the executor memory manager, while this list is
      * ~500 k edges, under the driver union-find bound. The pair
      * expansion stays the contract for consumers that need per-pair
      * scores; clustering never did.
      */
    private[graft] def clusterEdges(df: DataFrame, threshold: Double,
                                    textCol: String = "text",
                                    idCol: String = "doc_id",
                                    shingler: Shingler = CharNgrams(),
                                    maxBucket: Int = DefaultMaxBucket): DataFrame = {
      val (members, verified) = membersAndVerified(
        signatures(df, textCol, idCol, shingler).localCheckpoint(false),
        threshold, maxBucket)
      // same group-eligibility rule as the `within` expansion: only
      // non-empty content (n_grams > 0) forms duplicate edges
      val star = members
        .where(col("n_docs") >= 2 && col("n_grams") > 0 &&
          col("gid") =!= col("rep"))
        .select(col("rep").as("doc_id_1"), col("gid").as("doc_id_2"))
      verified.select(col("rep_1").as("doc_id_1"), col("rep_2").as("doc_id_2"))
        .unionAll(star)
    }
  }

  /** Connected components over near-duplicate pairs — the step that
    * turns pairwise matches into deduplication decisions: every doc in
    * a component keeps the component's minimum doc id as its canonical
    * representative, and transitive chains (A~B, B~C but not A~C)
    * collapse into one group, which pairwise output alone cannot do.
    *
    * Algorithm: hybrid by edge count. A bounded pair list (≤
    * [[Components.SmallGraphMaxPairs]], ~64 MB of longs) collects to
    * the driver for union-find — shuffle rounds on a kilobyte graph
    * are pure scheduler overhead. Larger graphs run iterative
    * min-label propagation: each round is ONE join + aggregation job
    * (all distributed; the convergence flag is read from the round's
    * materialized result, no extra join); labels converge in
    * O(log component diameter) rounds via pointer jumping. Each
    * round's result is checkpointed and lineage stays O(1) deep.
    */
  object Components {

    /** pairs: (doc_id_1, doc_id_2) edges. Returns (doc_id, component)
      * where component = min doc id reachable — includes ONLY docs that
      * appear in at least one pair (singletons are their own keepers).
      */
    /** Pair counts at or below this run union-find on the driver. The
      * bound accounts for COLLECTED representation, not packed longs:
      * ~1M boxed tuples plus a LongMap over up to 2M nodes stays well
      * under ~100 MB of driver heap, and a driver pass beats paying
      * full shuffle machinery per propagation round on a graph that
      * small. Above it, the distributed O(log diameter) label
      * propagation runs — its per-round cost amortizes exactly when
      * the graph is too big to collect.
      */
    val SmallGraphMaxPairs = 1000000L

    /** checkpointDir = None (default): localCheckpoint — blocks live on
      * executors, fastest, right for local mode and fault-tolerant-
      * enough batch jobs. checkpointDir = Some(dir): RELIABLE
      * checkpoints to that (HDFS/S3) path — an executor loss mid-
      * iteration recomputes from the checkpoint instead of failing the
      * job, which is the right trade on a large cluster where losing an
      * executor over a 10-round propagation is routine.
      *
      * Some(dir) caveats, by design: it calls
      * `sparkContext.setCheckpointDir(dir)` (SESSION-GLOBAL — pass the
      * dir your application wants for all reliable checkpoints), and
      * Spark does not delete reliable checkpoint files unless
      * `spark.cleaner.referenceTracking.cleanCheckpoints=true`, so
      * point it at per-run scratch space and reap it after the job —
      * a 10-round propagation retains roughly one labels-sized frame
      * per round until then.
      */
    def components(pairs: DataFrame, maxIters: Int = 20,
                   smallGraphMax: Long = SmallGraphMaxPairs,
                   checkpointDir: Option[String] = None): DataFrame = {
      // checkpoint (NOT persist) on every iterative frame: persist
      // alone leaves the logical plan in place, so the plan tree
      // DOUBLES per iteration (labels feeds both the join and the
      // union) and analysis/planning time grows exponentially; a
      // convergence probe with limit(1) additionally populates the
      // cache only partially, forcing recompute through that doubled
      // lineage. Checkpointing materializes the rows AND truncates the
      // plan to the materialized RDD, keeping every round O(1).
      val ckpt: DataFrame => DataFrame = checkpointDir match {
        case Some(dir) =>
          pairs.sparkSession.sparkContext.setCheckpointDir(dir)
          df => df.checkpoint(true)
        case None => df => df.localCheckpoint(true)
      }
      // Non-iterative frames checkpoint LAZILY in local mode (round 18,
      // measured): each is fully materialized by its first consuming
      // job anyway (p by the count below, edges/labels by round 1's
      // full-scan join), so an eager checkpoint only adds a scheduling
      // barrier — the same 2.7×-on-sub-second-corpora effect the funnel
      // comment above documents. The ITERATIVE prop frames stay eager:
      // their first consumer is the limit(1)-style convergence probe,
      // which would populate a lazy checkpoint only partially and force
      // recompute through the doubled lineage. Reliable-checkpoint mode
      // stays eager everywhere: a lazy reliable checkpoint recomputes
      // its whole lineage once more at save time.
      val lazyCkpt: DataFrame => DataFrame = checkpointDir match {
        case Some(_) => ckpt
        case None    => df => df.localCheckpoint(false)
      }
      // materialize the (possibly expensive) pair pipeline ONCE — the
      // bidirectional union below references it twice
      val p = lazyCkpt(pairs)
      if (p.count() <= smallGraphMax) return unionFindComponents(p)
      val edges = lazyCkpt(
        p.select(col("doc_id_1").as("a"), col("doc_id_2").as("b"))
          .unionAll(p.select(col("doc_id_2").as("a"), col("doc_id_1").as("b")))
          .distinct())
      var labels = lazyCkpt(
        edges.select(col("a").as("node")).distinct()
          .select(col("node"), col("node").as("label")))
      var iter = 0
      var converged = false
      while (!converged && iter < maxIters) {
        // hash-to-min + pointer jumping: each node takes the min of its
        // own label, its neighbors' labels, AND its label's label. The
        // jump term halves chain distances per round → O(log diameter)
        // rounds instead of O(diameter) (measured: 15 rounds → 5 on the
        // sf0.1 near-dup graph, which contains a long chain).
        val jumped = labels.as("l1")
          .join(labels.as("l2"), col("l1.label") === col("l2.node"))
          .select(col("l1.node").as("node"), col("l2.label").as("label"))
        // carry each node's previous label THROUGH the aggregation (the
        // labels leg tags it; the other legs contribute null, which min
        // ignores) so convergence needs no join-back probe — just a
        // predicate scan over the already-materialized round result.
        val prop = ckpt(
          edges.join(labels, edges("a") === labels("node"))
            .select(col("b").as("node"), col("label"), lit(null).cast("long").as("old"))
            .unionAll(labels.select(col("node"), col("label"), col("label").as("old")))
            .unionAll(jumped.select(col("node"), col("label"), lit(null).cast("long").as("old")))
            .groupBy("node").agg(min("label").as("label"), min("old").as("old")))
        converged = prop.where(col("label") =!= col("old")).isEmpty
        labels = prop.select("node", "label")
        iter += 1
      }
      if (!converged) throw new IllegalStateException(
        s"component labels did not converge in $maxIters rounds; raise maxIters")
      labels.select(col("node").as("doc_id"), col("label").as("component"))
        .orderBy("doc_id")
    }

    /** Driver union-find over a collected (bounded) pair list — same
      * min-reachable-id semantics as the distributed propagation, path
      * compression keeps it near-linear.
      *
      * Ordering contract: returns rows ordered by doc_id, matching the
      * distributed path's `.orderBy("doc_id")` — callers (and the
      * correctness oracle's ORDER BY) may rely on it, so it is stated
      * in the PLAN, not left to the driver-side `.sorted` happening to
      * survive createDataFrame's partitioning.
      */
    private def unionFindComponents(pairs: DataFrame): DataFrame = {
      val spark = pairs.sparkSession
      import spark.implicits._
      val es = pairs.select(col("doc_id_1").cast("long"), col("doc_id_2").cast("long"))
        .as[(Long, Long)].collect()
      // LongMap: open-addressed over primitive keys — no per-entry
      // boxing, which matters at the SmallGraphMaxPairs bound
      val parent = scala.collection.mutable.LongMap.empty[Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x
        while (parent.getOrElse(c, c) != r) { val nxt = parent(c); parent(c) = r; c = nxt }
        r
      }
      es.foreach { case (a, b) =>
        if (!parent.contains(a)) parent(a) = a
        if (!parent.contains(b)) parent(b) = b
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val rows = parent.keys.toSeq.map(n => (n, find(n))).sorted
      spark.createDataFrame(rows).toDF("doc_id", "component").orderBy("doc_id")
    }

    /** End-to-end near-dup grouping: MinHash → components. Feeds on
      * [[MinHashDedup.clusterEdges]] — the connectivity-equivalent
      * star + rep-pair edge list, O(docs + rep pairs) — NOT the pair
      * expansion, whose size is quadratic in duplicate-group size
      * (C(g,2) per g-clone group): components only needs reachability,
      * and at 100× duplication the expansion alone is ~25 M edges
      * where this list is ~500 k (see clusterEdges scaladoc).
      */
    def dedupGroups(df: DataFrame, threshold: Double,
                    textCol: String = "text", idCol: String = "doc_id"): DataFrame =
      components(MinHashDedup.clusterEdges(df, threshold, textCol, idCol))

    /** DuckDB oracle for [[components]] over the EXACT n-gram Jaccard
      * pairs: a recursive CTE walks the (bidirectional) edge relation
      * to its transitive closure, then min(label) per node — the same
      * min-reachable-id semantics as the distributed label propagation.
      */
    def oracleSql(table: String, threshold: Double): String = {
      val pairsSql = NgramJaccard.oracleSql(table, threshold)
      s"""WITH RECURSIVE pairs AS (
         |$pairsSql
         |),
         |edges AS (
         |  SELECT doc_id_1 AS a, doc_id_2 AS b FROM pairs
         |  UNION SELECT doc_id_2, doc_id_1 FROM pairs),
         |walk(node, label) AS (
         |  SELECT a, a FROM edges
         |  UNION
         |  SELECT e.a, w.label FROM edges e JOIN walk w ON e.b = w.node)
         |SELECT node AS doc_id, min(label) AS component
         |FROM walk GROUP BY node ORDER BY doc_id""".stripMargin
    }
  }

  // ---------------------------------------------------------------- #27
  /** SimHash (Charikar '02 / Manku et al. WWW'07): 64-bit signature from
    * token hashes; near-dups are pairs within Hamming distance
    * `maxHamming`, blocked on four 16-bit chunks (any pair within
    * distance ≤3 shares at least one intact chunk by pigeonhole when
    * distance < 4 bits spread over 4 chunks... a pair differing in ≤3
    * bits always has ≥1 identical chunk).
    */
  object SimHash {
    val ChunkBits = 16
    val Chunks = 4

    /** doc_id ("gid") + 64-bit simhash built from whitespace tokens.
      * Typed mapPartitions kernel (same rationale as
      * [[MinHashDedup.signatures]]: bit-vote loops are 64× per token
      * and must be JIT'd, not interpreted Catalyst lambdas).
      */
    def signatures(df: DataFrame, textCol: String = "text",
                   idCol: String = "doc_id"): DataFrame = {
      val spark = df.sparkSession
      import spark.implicits._
      df.select(col(idCol).as("gid"), col(textCol)).as[(Long, String)]
        .mapPartitions { it =>
          it.map { case (gid, text0) =>
            val text = if (text0 == null) "" else text0
            val counts = new Array[Int](64)
            graft.operators.text.TextStatsKernel.catalystLower(text.trim)
              .split(TextOps.WsClass + "+").foreach { t =>
              val h = graft.functions.Hash64.strHash(t)
              var j = 0
              while (j < 64) {
                if (((h >>> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1
                j += 1
              }
            }
            var sig = 0L
            var j = 0
            while (j < 64) { if (counts(j) > 0) sig |= 1L << j; j += 1 }
            (gid, sig)
          }
        }.toDF("gid", "simhash")
    }

    /** Near-dup pairs with Hamming distance ≤ maxHamming (default 3).
      *
      * Hot-bucket bound (same family as
      * [[MinHashDedup.nearDuplicates]]): identical signatures collapse
      * to one representative before chunk blocking — hamming is a pure
      * signature distance, so in-group pairs are distance 0 by
      * definition and re-deriving them through the 4-chunk self-join
      * would expand a c-strong identical class (empty docs all hash to
      * simhash 0; boilerplate pages to one value) to 4·C(c,2) join rows
      * before any filter ran. Residual chunk buckets with more than
      * `maxBucket` DISTINCT signatures are skipped (recall loss only —
      * each such bucket holds ≥ maxBucket mutually-near signatures for
      * some chunk, the same degenerate-corpus signal [[heavyBuckets]]
      * audits on the MinHash side).
      */
    def hammingPairs(df: DataFrame, maxHamming: Int = 3,
                     textCol: String = "text", idCol: String = "doc_id",
                     maxBucket: Int = MinHashDedup.DefaultMaxBucket): DataFrame = {
      // group stats ride ONE window over the signature (vs groupBy +
      // join-back = two shuffles of the same rows); the checkpoint is
      // shared by the banding, the expansion joins, and the
      // within-group pairs. Under AQE, `localCheckpoint(false)` runs
      // the window's shuffle map stage (the signature kernel) at the
      // call; only the post-shuffle stage waits for a consuming job.
      val wg = Window.partitionBy("simhash")
      val members = signatures(df, textCol, idCol)
        .select(col("gid"), col("simhash"),
          min("gid").over(wg).as("rep"),
          count(lit(1)).over(wg).as("n_docs"))
        .localCheckpoint(false)
      val chunked = members.where(col("gid") === col("rep"))
        .select(
          col("gid"), col("simhash"),
          posexplode(array((0 until Chunks).map { c =>
            expr(s"shiftright(simhash, ${c * ChunkBits}) & 65535")
          }: _*)).as(Seq("chunk", "chunk_val")))
      val capped = capBuckets(chunked, maxBucket, Seq("chunk", "chunk_val"))
      val l = capped.select(col("chunk"), col("chunk_val"),
        col("gid").as("rep_1"), col("simhash").as("s1"))
      val r = capped.select(col("chunk"), col("chunk_val"),
        col("gid").as("rep_2"), col("simhash").as("s2"))
      val repPairs = l.join(r, Seq("chunk", "chunk_val"))
        .where(col("rep_1") < col("rep_2"))
        .select(col("rep_1"), col("rep_2"),
          expr("bit_count(s1 ^ s2)").as("hamming"))
        // filter BEFORE the dedup shuffle: bit_count is codegen'd and
        // cheap per candidate; distinct() then only shuffles survivors
        .where(col("hamming") <= maxHamming)
        .distinct()
      val m1 = members.select(col("rep").as("rep_1"), col("gid").as("m1"))
      val m2 = members.select(col("rep").as("rep_2"), col("gid").as("m2"))
      // shuffle_hash, build = rep pairs (see MinHashDedup
      // .membersAndVerified: membership legs are O(corpus))
      val cross = repPairs.hint("shuffle_hash").join(m1, Seq("rep_1"))
        .hint("shuffle_hash").join(m2, Seq("rep_2"))
        .select(least(col("m1"), col("m2")).as("doc_id_1"),
          greatest(col("m1"), col("m2")).as("doc_id_2"), col("hamming"))
      val dup = members.where(col("n_docs") >= 2)
      // merge, not shuffle_hash: both sides ARE the dup membership leg
      // (no narrow build side exists), and an SHJ build of a duplicate-
      // heavy group leg cannot spill — sort-merge is the safe shape;
      // the hint still only needs to keep broadcast off (checkpoint
      // stats undercount array columns, see membersAndVerified)
      val within = dup.select(col("rep"), col("gid").as("doc_id_1"))
        .hint("merge")
        .join(dup.select(col("rep"), col("gid").as("doc_id_2")), Seq("rep"))
        .where(col("doc_id_1") < col("doc_id_2"))
        .select(col("doc_id_1"), col("doc_id_2"),
          lit(0).cast("int").as("hamming"))
      cross.unionAll(within).orderBy("doc_id_1", "doc_id_2")
    }
  }

  // ---------------------------------------------------------------- #29
  /** Embedding cosine near-dup: exact pair cosine over `Array[Float]`
    * embeddings. All arithmetic in double, sequential fold order, so
    * results are deterministic. [[allPairs]] is the small-domain /
    * verification path; the scale path buckets by random-hyperplane LSH
    * first (graft.operators.similarity.LshAnn) and verifies only
    * in-bucket pairs.
    */
  object EmbeddingDedup {
    /** Cosine over `array<float>` via the native codegen'd
      * [[graft.functions.CosineSimilarity]] expression — same double
      * arithmetic and element order as the DuckDB oracle's
      * list_cosine_similarity over DOUBLE[], so hash-compare holds.
      * (The previous higher-order-function formulation was
      * interpreted per element — ~20× slower on quadratic paths.)
      */
    def cosine(a: Column, b: Column): Column =
      graft.functions.CosineSimilarity(a, b)

    def allPairs(df: DataFrame, threshold: Double,
                 vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
      val a = df.select(col(idCol).as("vec_id_1"), col(vecCol).as("e1"))
      val b = df.select(col(idCol).as("vec_id_2"), col(vecCol).as("e2"))
      a.join(b, col("vec_id_1") < col("vec_id_2"))
        .withColumn("cos_raw", cosine(col("e1"), col("e2")))
        // NaN (zero-vector 0/0) must be EXPLICITLY excluded: Spark SQL
        // (and DuckDB) order NaN ABOVE every number, so `NaN >= t` is
        // TRUE — without the isnan guard a corpus of c zero vectors
        // emits C(c,2) NaN "pairs" through any threshold
        .where(col("cos_raw") >= threshold && !isnan(col("cos_raw")))
        .select(col("vec_id_1"), col("vec_id_2"), round(col("cos_raw"), 4).as("cosine"))
        .orderBy("vec_id_1", "vec_id_2")
    }

    /** LSH-bucketed near-dup pairs — the 100 TB path. Buckets the
      * corpus under L random-hyperplane tables
      * ([[graft.operators.similarity.Similarity.LshAnn]], shared
      * seed/kernel with ANN), pairs ONLY within (table, bucket), scores
      * with the same exact codegen'd cosine as [[allPairs]], and keeps
      * pairs ≥ threshold. Shuffle volume is O(rows × L), never
      * O(rows²); the threshold filter runs BEFORE the pair-dedup
      * shuffle so only true near-dups are shuffled twice. Bucketing
      * affects recall only (high for threshold ≥ ~0.8 — near-parallel
      * vectors collide with p = (1−θ/π)^bits per table); every emitted
      * score is exact, so precision is 1 vs [[allPairs]].
      */
    def lshPairs(df: DataFrame, threshold: Double, dim: Int,
                 bits: Int = graft.operators.similarity.Similarity.LshAnn.DefaultBits,
                 tables: Int = graft.operators.similarity.Similarity.LshAnn.DefaultTables,
                 vecCol: String = "embedding", idCol: String = "vec_id",
                 maxBucket: Int = MinHashDedup.DefaultMaxBucket): DataFrame = {
      val lsh = graft.operators.similarity.Similarity.LshAnn
      val planes = lsh.hyperplanes(dim, bits, tables)
      // Hot-bucket bound (same family as MinHashDedup.nearDuplicates):
      // byte-identical embeddings collapse to one representative before
      // bucketing — identical vectors collide in EVERY table (all-zero
      // embeddings all land in bucket 0), so a c-strong identical class
      // would expand to L·C(c,2) join rows before the cosine filter ran.
      // In-group pairs are scored as cosine(v, v) through the SAME
      // expression as the cross path, so the zero-vector convention
      // (0/0 → no pair) is preserved rather than hardcoding 1.0.
      // Residual buckets over `maxBucket` DISTINCT vectors are skipped
      // (recall loss only, the audit signal for degenerate corpora).
      // group stats ride ONE window over the vector value (vs groupBy +
      // join-back = two shuffles); the checkpoint is shared by the
      // bucketing, the expansion joins, and the within-group pairs.
      // Under AQE, `localCheckpoint(false)` runs the window's shuffle
      // map stage at the call; only the post-shuffle stage waits for a
      // consuming job.
      val wg = Window.partitionBy("v")
      val members = df.select(col(idCol).as("vid"), col(vecCol).as("v"))
        .select(col("vid"), col("v"),
          min("vid").over(wg).as("rep"),
          count(lit(1)).over(wg).as("n_docs"))
        .localCheckpoint(false)
      val reps = members.where(col("vid") === col("rep"))
        .select(col("vid").as("vec_id"), col("v").as("embedding"))
      val b = lsh.withBuckets(reps, "n", planes, "embedding", "vec_id")
      val capped = capBuckets(b, maxBucket, Seq("tbl", "n_bucket"))
      val l = capped.select(col("tbl"), col("n_bucket").as("bucket"),
        col("n_id").as("rep_1"), col("n_v").as("e1"))
      val r = capped.select(col("tbl"), col("n_bucket").as("bucket"),
        col("n_id").as("rep_2"), col("n_v").as("e2"))
      val repPairs = l.join(r, Seq("tbl", "bucket"))
        .where(col("rep_1") < col("rep_2"))
        .withColumn("cos_raw", cosine(col("e1"), col("e2")))
        // isnan guard: see allPairs — NaN sorts above every number in
        // Spark SQL, so a bare >= threshold would pass 0/0 pairs
        .where(col("cos_raw") >= threshold && !isnan(col("cos_raw")))
        .select(col("rep_1"), col("rep_2"), col("cos_raw"))
        .dropDuplicates("rep_1", "rep_2")
      val m1 = members.select(col("rep").as("rep_1"), col("vid").as("m1"))
      val m2 = members.select(col("rep").as("rep_2"), col("vid").as("m2"))
      // shuffle_hash, build = rep pairs (see MinHashDedup
      // .membersAndVerified: membership legs are O(corpus))
      val cross = repPairs.hint("shuffle_hash").join(m1, Seq("rep_1"))
        .hint("shuffle_hash").join(m2, Seq("rep_2"))
        .select(least(col("m1"), col("m2")).as("vec_id_1"),
          greatest(col("m1"), col("m2")).as("vec_id_2"), col("cos_raw"))
      val dup = members.where(col("n_docs") >= 2)
      // merge, not shuffle_hash: same-size self-join (see the gid twins)
      val within = dup.select(col("rep"), col("vid").as("vec_id_1"), col("v"))
        .hint("merge")
        .join(dup.select(col("rep"), col("vid").as("vec_id_2")), Seq("rep"))
        .where(col("vec_id_1") < col("vec_id_2"))
        .withColumn("cos_raw", cosine(col("v"), col("v")))
        // isnan: zero-vector groups (0/0 = NaN) emit NO pairs — this is
        // where the convention bites, since identical zero vectors all
        // collapse into one group
        .where(col("cos_raw") >= threshold && !isnan(col("cos_raw")))
        .select(col("vec_id_1"), col("vec_id_2"), col("cos_raw"))
      cross.unionAll(within)
        .select(col("vec_id_1"), col("vec_id_2"),
          round(col("cos_raw"), 4).as("cosine"))
        .orderBy("vec_id_1", "vec_id_2")
    }

    /** DuckDB oracle: CAST to DOUBLE[] so both engines fold in double
      * precision over the same element order.
      */
    def oracleSql(table: String, threshold: Double): String =
      s"""SELECT vec_id_1, vec_id_2, round(cos_raw, 4) AS cosine FROM (
         |  SELECT a.vec_id AS vec_id_1, b.vec_id AS vec_id_2,
         |    list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
         |      CAST(b.embedding AS DOUBLE[])) AS cos_raw
         |  FROM $table a JOIN $table b ON a.vec_id < b.vec_id) t
         |WHERE cos_raw >= $threshold AND NOT isnan(cos_raw)
         |ORDER BY vec_id_1, vec_id_2""".stripMargin
  }
}
