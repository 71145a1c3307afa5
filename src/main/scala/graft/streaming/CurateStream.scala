package graft.streaming

import graft.operators.text.{Curate, TextOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming twin of [[graft.operators.text.Curate]]: curation ON
  * INGEST, so known-bad and already-seen documents are dropped at
  * arrival time instead of in a nightly batch over the whole corpus.
  *
  * Spark-first decomposition of the batch decision:
  *
  *  - fingerprint, quality score and language ID are the batch
  *    operator's own signals kernel ([[graft.operators.text.Curate.signals]])
  *    over the NORMALIZED (fingerprint) text — identical code to batch,
  *    empty and null text included, no state, fully map-side;
  *  - the batch operator's exact-dup window (keep the min doc id per
  *    content fingerprint) becomes `dropDuplicatesWithinWatermark` on
  *    the fingerprint: keep the FIRST ARRIVAL, with state bounded by
  *    arrival rate × watermark — the only streaming-sound reading of
  *    "keep one per fingerprint" on an unbounded stream.
  *
  * The quality/language filter runs BEFORE the dedup state on purpose:
  * duplicates share a fingerprint, hence the same normalized text —
  * and because the scores are computed OVER that normalized text (not
  * the raw text, whose incidental whitespace can differ within a
  * fingerprint group), every member of a group scores identically, so
  * filtering first changes nothing about which groups survive — but it
  * keeps rejected-quality content out of the state store entirely.
  *
  * Returns the KEPT stream (id, event time, text, fingerprint,
  * signals). A batch run of [[graft.operators.text.Curate]] over the
  * same rows keeps the same set whenever arrival order matches doc-id
  * order (the batch tiebreak); under reordering within the watermark
  * the two may keep a different REPRESENTATIVE of a duplicate group,
  * never a different group count.
  */
object CurateStream {

  def run(docs: DataFrame, minQuality: Double = 0.5, keepLang: String = "en",
          textCol: String = "text", idCol: String = "doc_id",
          tsCol: String = "ts", watermark: String = "1 hour"): DataFrame = {
    val kept = Seq(col(idCol), col(tsCol), col(textCol))
    docs.select(kept :+ Curate.signals(col(textCol)).as("k"): _*)
      .select(kept ++ TextOps.kernelFields(Curate.SignalFields: _*): _*)
      // null-text parity with the batch twin, by construction:
      // predicted_lang is TOTAL (null text → 'und', never null), so
      // this conjunction is never null — for null text it is
      // (0.7 >= q) && ('und' === lang) = false, dropping the row
      // exactly as the batch twin's wrong_lang branch does
      // (spec-pinned in StreamingSpec).
      .where(col("quality_score") >= minQuality &&
        col("predicted_lang") === keepLang)
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("fingerprint")
  }
}
