package graft.operators.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus-level exact-substring deduplication — the ExactSubstr rule of
  * Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
  * Better"): any window of `w` consecutive tokens whose text occurs
  * verbatim `minCount`-or-more times corpus-wide is duplicated training
  * signal, and every token it covers is removed from every document
  * (the paper's "drop all copies" variant — deterministic, and the
  * paper measures the keep-one choice as immaterial). Tokens are the
  * single-space split of the text. Complements [[LineDedup]] (whole
  * repeated lines) and the document-level family (`operators.dedup`):
  * here the evidence unit is a token window, so boilerplate that is
  * re-wrapped mid-line — license blurbs, quoted chain mail, templated
  * sentences — is caught regardless of line structure.
  *
  * The paper builds a corpus-wide suffix array, which is inherently
  * single-machine; the distributed re-expression counts fixed-width
  * window fingerprints instead (every duplicated substring of length
  * ≥ w contains a duplicated w-window, and w-windows are independent
  * rows, so the count is one map-side-combined aggregation). Overlapping
  * hot windows merge into maximal removed spans via position coverage.
  *
  * Two paths, same rule (the [[LineDedup]] pattern):
  *
  *   - [[run]] — exact, oracle-checkable: window STRINGS are the count
  *     keys; explode → count → semi-join → coverage → rebuild. The
  *     shuffles carry w-token window text (w× amplification) — right
  *     for audits, wrong at 100 TB.
  *   - [[runHashed]] — the scale path: document text NEVER shuffles.
  *     Each row hashes its token windows row-locally in the
  *     `window_hashes` kernel UDF (a rolling polynomial over per-token
  *     hashes — token boundaries are part of the hash, no join-string
  *     aliasing), and `posexplode` turns them into rows, so the frequency
  *     count and the hot-set join move only (doc, start, hash) triples;
  *     the per-document removal set is an array of hot window starts
  *     (sized by the duplicated fraction), and the rebuild is the
  *     row-local `span_rebuild` kernel UDF over `(text, rm)`. Collision
  *     risk: a false removal needs two distinct windows to share a
  *     64-bit window hash — P ≈ nWindows·nHot/2⁶⁴; SpanDedupSpec
  *     asserts exact agreement with [[run]] and both paths share one
  *     DuckDB oracle.
  *
  * Output (one row per input document, both paths):
  * `(doc_id, text_clean, n_tokens, n_removed)`.
  */
object SpanDedup {

  /** Per-row array of w-token windows (as strings), empty when the
    * document is shorter than w. Tokens cannot contain the space
    * delimiter, so the joined string is injective on the token window.
    */
  private def windows(t: org.apache.spark.sql.Column, w: Int) =
    when(size(t) >= w,
      transform(sequence(lit(0), size(t) - w),
        i => array_join(slice(t, i + 1, lit(w)), " ")))
      .otherwise(array().cast("array<string>"))

  /** Exact path: window strings are the count/join keys. */
  def run(df: DataFrame, w: Int = 50, minCount: Int = 2,
          textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val toks = df.select(col(idCol), split(col(textCol), " ").as("t"))
    val wins = toks.select(col(idCol),
      posexplode(windows(col("t"), w)).as(Seq("start", "win")))
    val hot = wins.groupBy("win").count()
      .where(col("count") >= minCount).select("win")
    // distribution hints on every join in this path (round-14): the
    // honest toRdd bench action exposed that under .count() the
    // text_clean rebuild had been PRUNED for eleven rounds — when the
    // full plan finally executed at sf100, the planner broadcast the
    // rebuilt-text aggregate (GBs of document text behind a defaultSize
    // aggregate estimate) and died at the driver result cap. Audit path
    // = robustness first: sort-merge for wide rows, shuffle-hash for
    // key sets.
    val covered = wins.join(hot.hint("shuffle_hash"), Seq("win"), "left_semi")
      .select(col(idCol), explode(sequence(col("start"), col("start") + (w - 1))).as("pos"))
      .distinct()
    val tokens = toks.select(col(idCol), posexplode(col("t")).as(Seq("pos", "tok")))
    val rebuilt = tokens.join(covered.hint("shuffle_hash"), Seq(idCol, "pos"), "left_anti")
      .groupBy(idCol).agg(
        array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
            x => x("tok")),
          " ").as("text_clean"),
        count(lit(1)).as("n_kept"))
    df.select(col(idCol), size(split(col(textCol), " ")).as("n_tokens"))
      .join(rebuilt.hint("shuffle_merge"), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("text_clean"), lit("")).as("text_clean"),
        col("n_tokens"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L)))
          .cast("int").as("n_removed"))
      .orderBy(idCol)
  }

  /** Scale path: window hashes shuffle, text does not. See class doc.
    *
    * Executed by a rolling-hash kernel since round 14: the r13
    * Catalyst form computed `xxhash64(slice(t, i, w))` per window —
    * O(tokens × w) interpreted lambda work plus one array slice
    * allocation per window (measured 1.28× DuckDB at sf100) — and
    * rebuilt with an O(tokens × covered) `array_contains` filter. The
    * kernel hashes each token once and rolls a degree-(w-1) polynomial
    * across the document (the same Rabin-Karp move
    * [[Decontaminate]] uses), then rebuilds with a boolean cover mask:
    * O(tokens) end to end. The window hash VALUE is internal (only
    * equality matters, nothing downstream stores it), so swapping
    * xxhash64-over-slice for the polynomial changes no output;
    * SpanDedupSpec pins hashed ≡ exact ([[run]]) and both share one
    * DuckDB oracle. Collision class is unchanged: distinct windows
    * share a 64-bit value with P ≈ nWindows·nHot/2⁶⁴.
    */
  def runHashed(df: DataFrame, w: Int = 50, minCount: Int = 2,
                textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    // loud up-front id check (the TextOps kernel-path rule): the
    // kernels work on long ids, and a non-integral id would otherwise
    // null-collapse every removal group mid-job
    TextOps.requireIntegralId(df, idCol, "SpanDedup.runHashed")
    // cast the OUTPUT id back to the input column's type so both paths
    // share one output schema (advice-r14: an int/short doc_id frame
    // would otherwise come back LongType here but original-typed from
    // run(), silently breaking the pinned hashed ≡ exact row equality)
    val idType = df.schema(idCol).dataType
    val windowHashes = udf { (text: String) =>
      if (text == null) Array.emptyLongArray else SpanDedupKernel.windowHashes(text, w)
    }.withName("window_hashes")
    val rebuild = udf { (text: String, rm: Seq[Int]) =>
      if (text == null) // match run() exactly: coalesced '' text, null counts
        ("", Option.empty[Int], Option.empty[Int])
      else {
        val (clean, nTokens, nRemoved) =
          SpanDedupKernel.rebuild(text, w, if (rm == null) Seq.empty else rm)
        (clean, Some(nTokens), Some(nRemoved))
      }
    }.withName("span_rebuild")
    // (doc, start, hash) triples — window text is never materialized,
    // let alone shuffled; one token-hash pass + one rolling pass per doc
    val winHashes = df.select(col(idCol).cast("long").as(idCol),
        posexplode(windowHashes(col(textCol))).as(Seq("start", "wh")))
    val hot = winHashes.groupBy("wh").count()
      .where(col("count") >= minCount).select("wh")
    // inner join: output is duplicated-window HITS only — downstream is
    // sized by the duplicated fraction, not the corpus.
    // BOTH joins carry shuffle_hash hints: the planner prices the
    // exploded window leg at its input's size, not its fan-out, and
    // would otherwise BROADCAST a corpus-sized side (measured: the
    // unhinted rewrite broadcast `removed` — millions of rows with
    // start arrays — at sf100 and regressed 140 s → 241 s; the hot set
    // is O(distinct duplicated windows), also corpus-shaped at worst)
    val removed = winHashes.join(hot.hint("shuffle_hash"), Seq("wh"))
      .groupBy(idCol).agg(collect_set(col("start")).as("rm"))
    // rebuild: one kernel pass with a boolean cover mask — O(tokens),
    // not O(tokens × covered)
    df.select(col(idCol).cast("long").as(idCol), col(textCol))
      .join(removed.hint("shuffle_hash"), Seq(idCol), "left")
      .select(col(idCol), rebuild(col(textCol), col("rm")).as("k"))
      .select(col(idCol).cast(idType).as(idCol) +:
        TextOps.kernelFields("text_clean", "n_tokens", "n_removed"): _*)
      .orderBy(idCol)
  }

  /** DuckDB twin of both paths (they agree exactly by design). */
  def oracleSql(table: String, w: Int = 50, minCount: Int = 2): String =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM $table),
       |wins AS (
       |  SELECT doc_id,
       |    unnest(generate_series(0, len(t) - $w)) AS start,
       |    unnest(list_transform(generate_series(0, len(t) - $w),
       |           s -> array_to_string(t[s + 1 : s + $w], ' '))) AS win
       |  FROM toks WHERE len(t) >= $w),
       |hot AS (
       |  SELECT win FROM wins GROUP BY win HAVING count(*) >= $minCount),
       |covered AS (
       |  SELECT DISTINCT doc_id, pos FROM (
       |    SELECT doc_id, unnest(generate_series(start, start + $w - 1)) AS pos
       |    FROM wins WHERE win IN (SELECT win FROM hot))),
       |tokens AS (
       |  SELECT doc_id,
       |    unnest(generate_series(0, len(t) - 1)) AS pos,
       |    unnest(t) AS tok
       |  FROM toks),
       |rebuilt AS (
       |  SELECT k.doc_id,
       |    string_agg(k.tok, ' ' ORDER BY k.pos) AS text_clean,
       |    count(*) AS n_kept
       |  FROM tokens k
       |  WHERE NOT EXISTS (SELECT 1 FROM covered c
       |                    WHERE c.doc_id = k.doc_id AND c.pos = k.pos)
       |  GROUP BY k.doc_id)
       |SELECT d.doc_id,
       |  coalesce(r.text_clean, '') AS text_clean,
       |  CAST(len(string_split(d.text, ' ')) AS INTEGER) AS n_tokens,
       |  CAST(len(string_split(d.text, ' ')) - coalesce(r.n_kept, 0)
       |       AS INTEGER) AS n_removed
       |FROM $table d LEFT JOIN rebuilt r ON d.doc_id = r.doc_id
       |ORDER BY d.doc_id""".stripMargin
}
