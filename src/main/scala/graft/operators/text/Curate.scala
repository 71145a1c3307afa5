package graft.operators.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus curation: the composed keep/drop decision an LLM-data
  * pipeline applies per document — exact-duplicate removal (keep the
  * min doc id of each fingerprint group), quality floor, language
  * filter — with a per-document drop reason.
  *
  * ONE pass over the corpus: quality and language are row-local
  * expressions, the duplicate flag is a single window over the content
  * fingerprint — so the whole decision costs one shuffle, not a join
  * per signal. Reason precedence: duplicate > low_quality > wrong_lang.
  *
  * Quality and language are scored over the NORMALIZED text (the same
  * whitespace-collapsed lowercase form the fingerprint hashes), so the
  * keep/drop decision is fingerprint-invariant: every member of a
  * duplicate group carries identical signals, and the streaming twin
  * can filter before dedup without changing which groups survive.
  * (Raw-text scoring would let two same-fingerprint variants with
  * different raw whitespace straddle the quality floor via the
  * punct/length ratio.) The standalone [[TextOps.QualityScore]] report
  * still scores RAW text — there the raw surface is the signal.
  */
object Curate {

  /** Per-row signals execute in [[TextStatsKernel]] (round 13 — the
    * expression form normalized and re-tokenized the text once per
    * signal: 159 s vs DuckDB's 50 s at sf100; the kernel computes
    * fingerprint + quality + language from ONE normalize pass). The
    * dedup window and the keep/drop decision stay declarative — that
    * is the shuffle, and Catalyst owns it. [[exprRun]] is the retained
    * Catalyst reference the kernel is fuzz-pinned against.
    */
  def run(df: DataFrame, minQuality: Double = 0.5, keepLang: String = "en",
          textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    TextOps.requireIntegralId(df, idCol, "Curate")
    val signalRows = df
      .select(col(idCol).cast("long").as(idCol), signals(col(textCol)).as("k"))
      .select(col(idCol) +: TextOps.kernelFields(SignalFields: _*): _*)
    decide(signalRows, minQuality, keepLang, idCol)
  }

  /** The names of [[signals]]' fields, in order. */
  val SignalFields = Seq("fingerprint", "quality_score", "predicted_lang")

  /** The per-row signals of `text` as ONE kernel column (the
    * `curate_signals` UDF; fields [[SignalFields]] via
    * [[TextOps.kernelFields]]) — shared by [[run]] and the streaming
    * twin, so both score every row, empty and null text included,
    * identically.
    */
  def signals(text: Column): Column = Signals(text)

  private val Signals = udf { (text: String) =>
    if (text == null)
      // expression semantics on a null document: null fingerprint;
      // quality = 0.7 (least() ignores the null ratios — see
      // QualityScore.run's null branch); predicted = "und" (the null
      // threshold comparison falls through to the otherwise arm) — so
      // a null doc drops as wrong_lang
      (Option.empty[String], Some(0.7), Some("und"))
    else {
      val norm = TextStatsKernel.normalize(text)
      val (_, _, _, stopR, score) = TextStatsKernel.qualitySignals(norm)
      val pred =
        if (TextStatsKernel.round4(stopR) >= TextOps.LangId.EnThreshold) "en" else "und"
      (Some(TextStatsKernel.md5Hex(norm)), Some(TextStatsKernel.round4(score)), Some(pred))
    }
  }.withName("curate_signals")

  /** The shared window + keep/drop decision over per-row signals. */
  private def decide(signals: DataFrame, minQuality: Double,
                     keepLang: String, idCol: String): DataFrame = {
    val w = Window.partitionBy("fingerprint")
    signals
      .withColumn("keep_doc_id", min(col(idCol)).over(w))
      .withColumn("is_exact_dup", (col(idCol) =!= col("keep_doc_id")).cast("int"))
      .withColumn("drop_reason",
        when(col("is_exact_dup") === 1, "duplicate")
          .when(col("quality_score") < minQuality, "low_quality")
          .when(col("predicted_lang") =!= keepLang, "wrong_lang"))
      .withColumn("keep", col("drop_reason").isNull.cast("int"))
      .select(idCol, "quality_score", "predicted_lang", "is_exact_dup",
        "drop_reason", "keep")
      .orderBy(idCol)
  }

  private[graft] def exprRun(df: DataFrame, minQuality: Double = 0.5,
                            keepLang: String = "en", textCol: String = "text",
                            idCol: String = "doc_id"): DataFrame = {
    val norm = TextOps.Fingerprint.normalized(col(textCol))
    decide(
      df.select(col(idCol), col(textCol))
        .withColumn("fingerprint", md5(norm))
        .withColumn("quality_score", round(TextOps.QualityScore.score(norm), 4))
        .withColumn("predicted_lang", TextOps.LangId.predicted(norm))
        .drop(textCol),
      minQuality, keepLang, idCol)
  }

  def oracleSql(table: String, minQuality: Double = 0.5,
                keepLang: String = "en"): String = {
    val stops = TextOps.EnStopwords.map(s => s"'$s'").mkString("[", ", ", "]")
    val ws = TextOps.WsClass // RE2 \s excludes U+000B; spell the class out
    // signals over the NORMALIZED text (ntext), mirroring run()
    val stopRatio =
      s"""CAST(len(list_filter(string_split_regex(ntext, '$ws+'),
         |      x -> list_contains($stops, x))) AS DOUBLE)
         |    / len(string_split_regex(ntext, '$ws+'))""".stripMargin
    val punctRatio =
      s"""CAST(length(ntext) - length(regexp_replace(ntext, '${TextOps.PunctClass}', '', 'g')) AS DOUBLE)
        |    / length(ntext)""".stripMargin
    val nTokens = s"len(string_split_regex(ntext, '$ws+'))"
    s"""WITH n AS (
       |  SELECT doc_id,
       |    lower(trim(regexp_replace(text, '$ws+', ' ', 'g'))) AS ntext
       |  FROM $table),
       |base AS (
       |  SELECT doc_id,
       |    md5(ntext) AS fingerprint,
       |    round(0.4 * least(1.0, CAST($nTokens AS DOUBLE) / 100.0)
       |        + 0.3 * least(1.0, ($stopRatio) * 5.0)
       |        + 0.3 * (1.0 - least(1.0, ($punctRatio) * 10.0)), 4) AS quality_score,
       |    CASE WHEN round($stopRatio, 4) >= ${TextOps.LangId.EnThreshold}
       |      THEN 'en' ELSE 'und' END AS predicted_lang
       |  FROM n),
       |d AS (
       |  SELECT *, min(doc_id) OVER (PARTITION BY fingerprint) AS keep_doc_id
       |  FROM base)
       |SELECT doc_id, quality_score, predicted_lang,
       |  CAST(doc_id <> keep_doc_id AS INTEGER) AS is_exact_dup,
       |  CASE WHEN doc_id <> keep_doc_id THEN 'duplicate'
       |       WHEN quality_score < $minQuality THEN 'low_quality'
       |       WHEN predicted_lang <> '$keepLang' THEN 'wrong_lang' END AS drop_reason,
       |  CAST(doc_id = keep_doc_id AND quality_score >= $minQuality
       |       AND predicted_lang = '$keepLang' AS INTEGER) AS keep
       |FROM d ORDER BY doc_id""".stripMargin
  }
}
