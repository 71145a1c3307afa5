package graft.operators.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Benchmark decontamination: flag training documents whose normalized
  * text contains any probe string (test-set questions, benchmark
  * answers) — the GPT-3/Pile-style overlap check every serious
  * training corpus runs before release.
  *
  * Spark shape: ZERO shuffle. The probe set rides the `probe_hits`
  * kernel UDF's closure as a prefix-hash table; each document makes
  * one pass with a rolling hash (Rabin-Karp, window = shortest probe
  * length), position-anchored exact verification on hash hits —
  * collisions can't flag — and emits its hit count. Cost is O(text
  * length + verified hits) per document regardless of probe count;
  * probe memory is O(total probe chars), broadcast once per executor.
  * Contamination REMOVAL is then a filter on the output joined back
  * upstream.
  */
object Decontaminate {

  /** Probes shorter than this after normalization are rejected: a
    * 3-char probe flags half the corpus and means the probe list is
    * malformed, not that the corpus is contaminated.
    */
  val MinProbeChars = 8

  /** (doc_id, n_probes_hit, contaminated), ordered by id. A probe
    * "hits" when its full normalized text occurs as a substring of the
    * normalized document; duplicate probe strings count separately
    * (they are distinct benchmark entries).
    */
  def flag(docs: DataFrame, probes: Seq[String],
           textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val norm = probes.map(p => TextStatsKernel.normalize(if (p == null) "" else p))
      .filter(_.length >= MinProbeChars)
    require(norm.nonEmpty,
      s"no probe survives normalization at >= $MinProbeChars chars — " +
        "an empty probe list flags nothing and hides a broken pipeline")
    val w = norm.map(_.length).min
    val B = 1000003L
    // driver-side precompute: hash of each probe's first w chars → the
    // probe indices anchored there (several probes may share a prefix)
    def hashAt(s: String, from: Int, len: Int): Long = {
      var h = 0L; var i = from
      while (i < from + len) { h = h * B + s.charAt(i); i += 1 }
      h
    }
    // primitive-keyed lookup for the per-character hot loop: sorted
    // long[] of distinct prefix hashes + aligned probe-index buckets,
    // binary-searched — a boxed Map here would allocate one
    // java.lang.Long per text position per document
    val grouped = norm.indices.groupBy(i => hashAt(norm(i), 0, w)).toArray
      .sortBy(_._1)
    val prefixHashes: Array[Long] = grouped.map(_._1)
    val prefixProbes: Array[Array[Int]] = grouped.map(_._2.toArray)
    val powW = { var p = 1L; var i = 1; while (i < w) { p *= B; i += 1 }; p }
    val probesArr = norm.toArray

    val hits = udf { (text0: String) =>
      val t = TextStatsKernel.normalize(if (text0 == null) "" else text0)
      var nHits = 0
      if (t.length >= w) {
        val hit = new java.util.BitSet(probesArr.length)
        var h = hashAt(t, 0, w)
        var pos = 0
        val last = t.length - w
        while (pos <= last) {
          val slot = java.util.Arrays.binarySearch(prefixHashes, h)
          if (slot >= 0) {
            val cands = prefixProbes(slot)
            var c = 0
            while (c < cands.length) {
              val p = probesArr(cands(c))
              if (!hit.get(cands(c)) &&
                  t.regionMatches(pos, p, 0, p.length))
                hit.set(cands(c))
              c += 1
            }
          }
          if (pos < last)
            h = (h - t.charAt(pos) * powW) * B + t.charAt(pos + w)
          pos += 1
        }
        nHits = hit.cardinality()
      }
      (nHits.toLong, nHits > 0)
    }.withName("probe_hits").asNonNullable() // so both fields stay NOT NULL
    docs.select(col(idCol).cast("long").as("doc_id"), hits(col(textCol)).as("k"))
      .select(col("doc_id") +: TextOps.kernelFields("n_probes_hit", "contaminated"): _*)
      .orderBy("doc_id")
  }

  /** DuckDB oracle for the self-probe demo query: probes are a fixed
    * mid-document slice of the first `nProbeDocs` docs (deterministic,
    * derivable on both engines), hits are plain `contains` over the
    * same normalization.
    */
  def oracleSql(table: String, nProbeDocs: Long, from: Int, len: Int): String = {
    val norm = s"lower(trim(regexp_replace(%s, '${TextOps.WsClass}+', ' ', 'g')))"
    val nd = norm.format("d.text")
    val np = norm.format("text")
    // trim the slice: [[flag]] normalizes caller probes, and on an
    // already-collapsed lowercase slice that reduces to a space trim —
    // the oracle must match or edge-space probes diverge
    s"""WITH valid AS (
       |  SELECT trim(substr($np, $from, $len)) AS p
       |  FROM $table WHERE doc_id < $nProbeDocs
       |    AND length(trim(substr($np, $from, $len))) >= $MinProbeChars)
       |SELECT d.doc_id,
       |  (SELECT count(*) FROM valid v WHERE contains($nd, v.p)) AS n_probes_hit,
       |  (SELECT count(*) FROM valid v WHERE contains($nd, v.p)) > 0 AS contaminated
       |FROM $table d ORDER BY d.doc_id""".stripMargin
  }
}
