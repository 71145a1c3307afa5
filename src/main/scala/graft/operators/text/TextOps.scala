package graft.operators.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for LLM training-data pipelines (SURVEY §2
  * #32-35): language ID, quality scoring, token counting, document
  * fingerprinting.
  *
  * Scale design: every operator is a pure per-row projection — no
  * shuffle. The reference expressions are built from
  * `org.apache.spark.sql.functions` (split/filter/transform/aggregate
  * are codegen'd higher-order functions); where a hand-written kernel
  * executes instead, it is a named UDF in the same projection
  * ([[kernelFields]]), so the pipeline stays inside one
  * WholeStageCodegen over the parquet scan and scales linearly with
  * input splits. Only deliberately-written regex subsets are used so
  * the DuckDB (RE2) oracles agree with Spark's Java regex.
  */
object TextOps {

  /** Minimal English stopword list shared by LangId and QualityScore. */
  val EnStopwords: Seq[String] =
    Seq("the", "a", "an", "of", "and", "to", "in", "is", "on", "for", "with")

  /** Whitespace characters, spelled out: Java's `\s` includes vertical
    * tab U+000B but RE2's does NOT, so any pattern shipped to both
    * engines must use this explicit class or a `\x0B`-bearing document
    * tokenizes differently per engine. The string is escaped once for
    * both hosts (the .scala literal renders `[ \t\n\x0B\f\r]`, which
    * Java regex and RE2 parse identically).
    */
  val WsChars = " \\t\\n\\x0B\\f\\r"
  val WsClass = s"[$WsChars]"
  /** Non-alphanumeric, non-whitespace (the punctuation class). */
  val PunctClass = s"[^A-Za-z0-9$WsChars]"

  /** Loud up-front id-type check for the kernelized run()/redact()
    * paths (TokenCount, QualityScore, PiiScan, Curate, HtmlExtract,
    * TextVectors, SpanDedup.runHashed): they select
    * `col(idCol).cast("long")` beside their kernel UDF, and under ANSI
    * mode (the Spark 4 default) a non-numeric string id would otherwise
    * throw a cast error deep inside a task instead of here — the same
    * guard GraftApp applies to its id-hashing tools.
    */
  private[text] def requireIntegralId(df: DataFrame, idCol: String,
                                      op: String): Unit = {
    import org.apache.spark.sql.types._
    val idType = df.schema(idCol).dataType
    val integral = idType match {
      case LongType | IntegerType | ShortType | ByteType => true
      case _ => false
    }
    require(integral,
      s"$op: id column '$idCol' must be integral (long/int), got ${idType.simpleString}")
  }

  /** THE row-local kernel shape of `operators/text`: a kernel is a
    * named Spark `udf` (a `ScalaUDF`, `.withName("<kernel>")`) over a
    * hand-written kernel function, returning a tuple. An operator
    * selects `(col(idCol).cast("long"), kernel(text).as("k"))`, then
    * `kernelFields(...)`. Every field reads the one `k` attribute, and
    * CollapseProject inlines only cheap producers, so the kernel runs
    * once per row in a Project over the scan — no object
    * (de)serialization, and the plan names the kernel. PlanAuditSpec
    * pins the shape on the gate queries.
    */
  private[graft] def kernelFields(names: String*): Seq[Column] =
    names.zipWithIndex.map { case (n, i) => col(s"k._${i + 1}").as(n) }

  /** THE whitespace tokenizer — every token-consuming operator
    * ([[TokenCount]], [[Chunker]], [[graft.operators.text.Bpe]],
    * [[graft.operators.text.KeywordSearch]], the lang/quality scorers
    * via [[tokens]]) must build its token stream through here, so a
    * document with tabs or newlines yields ONE token stream corpus-wide
    * (a single-space split would count/fingerprint/score different
    * tokens per operator — TextOpsSpec pins the agreement).
    *
    * Shape: collapse every whitespace run to one space, trim, split on
    * the single space — NOT `split(trim(x), '\s+')`, because Spark and
    * DuckDB `trim` strip only the space character, so a tab-padded
    * document would keep edge-empty tokens. DuckDB mirror:
    * `string_split(trim(regexp_replace(x, '\s+', ' ', 'g')), ' ')`.
    *
    * Convention: splitting an empty/whitespace-only document yields
    * `['']` — one empty token. Operators that must not see it filter
    * explicitly ([[graft.operators.text.Bpe.wordCounts]],
    * [[graft.operators.text.Perplexity]]) or drop empty documents
    * ([[Chunker]]).
    */
  def wsTokens(text: Column): Column =
    split(trim(regexp_replace(text, s"$WsClass+", " ")), " ")

  /** Whitespace tokens of `text`, lowercased. */
  private def tokens(text: Column): Column =
    wsTokens(lower(text))

  private def stopwordHits(toks: Column): Column = {
    val stops = array(EnStopwords.map(lit): _*)
    size(filter(toks, t => array_contains(stops, t)))
  }

  // ---------------------------------------------------------------- #34
  /** Token counting: whitespace tokens plus a BPE-ish regex token count
    * (letter runs / digit runs / single non-alnum marks — the shape a
    * byte-pair pre-tokenizer produces).
    */
  object TokenCount {
    val BpePattern = s"[A-Za-z]+|[0-9]+|$PunctClass"

    /** Executed by [[TextStatsKernel]] (round 13 — the regex form
      * measured 72 s vs DuckDB's 7.4 s at sf100, the BpePattern
      * extract_all being the bulk); [[exprRun]] is the retained
      * Catalyst reference the kernel is fuzz-pinned against.
      */
    private val Counts = udf { (t: String) =>
      if (t == null) (Option.empty[Int], Option.empty[Int], Option.empty[Int])
      else (Some(TextStatsKernel.nChars(t)), Some(TextStatsKernel.wsTokenCount(t)),
        Some(TextStatsKernel.bpeTokenCount(t)))
    }.withName("token_counts")

    def run(df: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
      requireIntegralId(df, idCol, "TokenCount")
      df.select(col(idCol).cast("long").as(idCol), Counts(col(textCol)).as("k"))
        .select(col(idCol) +: kernelFields("n_chars", "ws_tokens", "bpe_tokens"): _*)
        .orderBy(idCol)
    }

    private[graft] def exprRun(df: DataFrame, textCol: String = "text",
                              idCol: String = "doc_id"): DataFrame =
      df.select(
        col(idCol),
        length(col(textCol)).as("n_chars"),
        size(wsTokens(col(textCol))).as("ws_tokens"),
        size(regexp_extract_all(col(textCol), lit(BpePattern), lit(0))).as("bpe_tokens"))
        .orderBy(idCol)

    def oracleSql(table: String): String =
      s"""SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
         |  CAST(len(string_split(trim(regexp_replace(text, '$WsClass+', ' ', 'g')), ' ')) AS INTEGER) AS ws_tokens,
         |  CAST(len(regexp_extract_all(text, '$BpePattern')) AS INTEGER) AS bpe_tokens
         |FROM $table ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- #32
  /** Language ID via stopword-hit ratio (n-gram-free heuristic: the
    * fraction of tokens that are high-frequency English function words).
    * A real deployment plugs per-language stopword/char-n-gram profiles
    * into the same single-projection shape.
    */
  object LangId {
    val EnThreshold = 0.05

    /** Predicted language as a reusable expression (same arithmetic as
      * [[run]]'s predicted_lang column — threshold on the 4dp-rounded
      * stopword ratio).
      */
    def predicted(text: Column): Column = {
      val toks = tokens(text)
      val ratio = round(stopwordHits(toks).cast("double") / size(toks), 4)
      when(ratio >= EnThreshold, "en").otherwise("und")
    }

    def run(df: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
      val toks = tokens(col(textCol))
      df.select(
        col(idCol),
        col("lang").as("declared_lang"),
        round(stopwordHits(toks).cast("double") / size(toks), 4).as("stopword_ratio"))
        .withColumn("predicted_lang",
          when(col("stopword_ratio") >= EnThreshold, "en").otherwise("und"))
        .withColumn("agrees",
          (col("predicted_lang") === col("declared_lang")).cast("int"))
        .orderBy(idCol)
    }

    /** `agrees` uses plain equality (NOT `CASE WHEN … THEN 1 ELSE 0`) so
      * a NULL declared_lang propagates to a NULL `agrees` on BOTH sides,
      * matching Spark's `(pred === lang).cast("int")`.
      */
    def oracleSql(table: String): String = {
      val stops = EnStopwords.map(s => s"'$s'").mkString("[", ", ", "]")
      s"""SELECT doc_id, lang AS declared_lang,
         |  round(CAST(len(list_filter(string_split(trim(regexp_replace(lower(text), '$WsClass+', ' ', 'g')), ' '),
         |      x -> list_contains($stops, x))) AS DOUBLE)
         |    / len(string_split(trim(regexp_replace(lower(text), '$WsClass+', ' ', 'g')), ' ')), 4) AS stopword_ratio,
         |  CASE WHEN round(CAST(len(list_filter(string_split(trim(regexp_replace(lower(text), '$WsClass+', ' ', 'g')), ' '),
         |      x -> list_contains($stops, x))) AS DOUBLE)
         |    / len(string_split(trim(regexp_replace(lower(text), '$WsClass+', ' ', 'g')), ' ')), 4) >= $EnThreshold
         |    THEN 'en' ELSE 'und' END AS predicted_lang,
         |  CAST((CASE WHEN round(CAST(len(list_filter(string_split(trim(regexp_replace(lower(text), '$WsClass+', ' ', 'g')), ' '),
         |      x -> list_contains($stops, x))) AS DOUBLE)
         |    / len(string_split(trim(regexp_replace(lower(text), '$WsClass+', ' ', 'g')), ' ')), 4) >= $EnThreshold
         |    THEN 'en' ELSE 'und' END) = lang AS INTEGER) AS agrees
         |FROM $table ORDER BY doc_id""".stripMargin
    }
  }

  // ---------------------------------------------------------------- #33
  /** Quality scoring: length/punctuation/stopword signals combined into
    * a deterministic [0,1] score (the C4/Gopher-style cheap filters).
    */
  object QualityScore {
    /** The unrounded score as a reusable expression. */
    def score(t: Column): Column = {
      val toks = tokens(t)
      val nTok = size(toks)
      val punct = length(t) - length(regexp_replace(t, PunctClass, ""))
      val stopRatio = stopwordHits(toks).cast("double") / nTok
      val punctRatio = punct.cast("double") / length(t)
      lit(0.4) * least(lit(1.0), nTok.cast("double") / 100.0) +
        lit(0.3) * least(lit(1.0), stopRatio * 5.0) +
        lit(0.3) * (lit(1.0) - least(lit(1.0), punctRatio * 10.0))
    }

    /** Executed by [[TextStatsKernel.qualitySignals]] (round 13 — the
      * expression form recomputes the tokenize per output column and
      * filters stopwords through interpreted lambdas: 310 s vs
      * DuckDB's 30 s at sf100); [[exprRun]] is the retained Catalyst
      * reference the kernel is fuzz-pinned against.
      */
    private val Signals = udf { (text: String) =>
      if (text == null)
        // the expression's null row: counts/ratios null, but the
        // score's least() IGNORES null operands (Catalyst and DuckDB
        // alike), so the first two terms saturate at 1.0 and the punct
        // term contributes 0 → 0.4 + 0.3 = 0.7
        (Option.empty[Int], Option.empty[Int], Option.empty[Double],
          Option.empty[Double], Some(0.7))
      else {
        val (chars, nTok, punctR, stopR, score) = TextStatsKernel.qualitySignals(text)
        // NaN punct ratio = the empty-text edge; SQL NULL like the
        // DuckDB oracle (see qualitySignals' scaladoc)
        (Some(chars), Some(nTok),
          if (punctR.isNaN) None else Some(TextStatsKernel.round4(punctR)),
          Some(TextStatsKernel.round4(stopR)), Some(TextStatsKernel.round4(score)))
      }
    }.withName("quality_signals")

    def run(df: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
      requireIntegralId(df, idCol, "QualityScore")
      df.select(col(idCol).cast("long").as(idCol), Signals(col(textCol)).as("k"))
        .select(col(idCol) +: kernelFields("n_chars", "n_tokens", "punct_ratio",
          "stopword_ratio", "quality_score"): _*)
        .orderBy(idCol)
    }

    private[graft] def exprRun(df: DataFrame, textCol: String = "text",
                              idCol: String = "doc_id"): DataFrame = {
      val t = col(textCol)
      val toks = tokens(t)
      val nTok = size(toks)
      val punct = length(t) - length(regexp_replace(t, PunctClass, ""))
      val stopRatio = stopwordHits(toks).cast("double") / nTok
      val punctRatio = punct.cast("double") / length(t)
      val scoreExpr = score(t)
      df.select(
        col(idCol),
        length(t).as("n_chars"),
        nTok.as("n_tokens"),
        round(punctRatio, 4).as("punct_ratio"),
        round(stopRatio, 4).as("stopword_ratio"),
        round(scoreExpr, 4).as("quality_score"))
        .orderBy(idCol)
    }

    def oracleSql(table: String): String = {
      val stops = EnStopwords.map(s => s"'$s'").mkString("[", ", ", "]")
      s"""WITH base AS (
         |  SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
         |    CAST(len(string_split(trim(regexp_replace(lower(text), '$WsClass+', ' ', 'g')), ' ')) AS INTEGER) AS n_tokens,
         |    CAST(length(text) - length(regexp_replace(text, '$PunctClass', '', 'g')) AS DOUBLE)
         |      / length(text) AS punct_ratio_raw,
         |    CAST(len(list_filter(string_split(trim(regexp_replace(lower(text), '$WsClass+', ' ', 'g')), ' '),
         |        x -> list_contains($stops, x))) AS DOUBLE)
         |      / len(string_split(trim(regexp_replace(lower(text), '$WsClass+', ' ', 'g')), ' ')) AS stop_ratio_raw
         |  FROM $table)
         |SELECT doc_id, n_chars, n_tokens,
         |  round(punct_ratio_raw, 4) AS punct_ratio,
         |  round(stop_ratio_raw, 4) AS stopword_ratio,
         |  round(0.4 * least(1.0, CAST(n_tokens AS DOUBLE) / 100.0)
         |      + 0.3 * least(1.0, stop_ratio_raw * 5.0)
         |      + 0.3 * (1.0 - least(1.0, punct_ratio_raw * 10.0)), 4) AS quality_score
         |FROM base ORDER BY doc_id""".stripMargin
    }
  }

  // ---------------------------------------------------------------- #35e
  /** Per-domain capping (the RefinedWeb/C4 curation rule): extract
    * each document's first URL domain (lowercased — hosts are
    * case-insensitive, and case variants must not each get their own
    * cap), rank documents within the domain, keep at most `cap`.
    * Documents with no URL share the "none" domain and are capped the
    * same way.
    *
    * [[run]] is the AUDIT report: every document with its rank and a
    * kept flag — by definition it ships all rows. [[capped]] is the
    * curation/scale path: the rank<=cap FILTER compiles to
    * WindowGroupLimit, so each input partition forwards only its local
    * top-`cap` per domain into the shuffle and a mega-domain never
    * ships all its documents (plan-asserted in PlanAuditSpec).
    */
  object DomainCap {
    /** RE2-safe subset, same contract as [[PiiScan]]'s patterns. */
    val DomainPattern = "https?://([A-Za-z0-9.-]+)"

    private def withRank(df: DataFrame, textCol: String, idCol: String): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("domain").orderBy(idCol)
      val domain = lower(regexp_extract(col(textCol), DomainPattern, 1))
      df.select(col(idCol),
          when(domain === "", "none").otherwise(domain).as("domain"))
        .withColumn("domain_rank", row_number().over(w).cast("int"))
    }

    def run(df: DataFrame, cap: Int, textCol: String = "text",
            idCol: String = "doc_id"): DataFrame =
      withRank(df, textCol, idCol)
        .withColumn("kept", col("domain_rank") <= cap)
        .orderBy(idCol)

    /** Only the kept documents — the filter shape WindowGroupLimit
      * prunes pre-shuffle.
      */
    def capped(df: DataFrame, cap: Int, textCol: String = "text",
               idCol: String = "doc_id"): DataFrame =
      withRank(df, textCol, idCol)
        .where(col("domain_rank") <= cap)
        .orderBy(idCol)

    def oracleSql(table: String, cap: Int): String =
      s"""SELECT doc_id, domain,
         |  CAST(row_number() OVER (PARTITION BY domain ORDER BY doc_id) AS INTEGER)
         |    AS domain_rank,
         |  CAST(row_number() OVER (PARTITION BY domain ORDER BY doc_id) AS INTEGER) <= $cap
         |    AS kept
         |FROM (
         |  SELECT doc_id,
         |    CASE WHEN regexp_extract(text, '$DomainPattern', 1) = '' THEN 'none'
         |         ELSE lower(regexp_extract(text, '$DomainPattern', 1)) END AS domain
         |  FROM $table) t
         |ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- #35d
  /** Within-document repetition signals (the Gopher-rule family):
    * fraction of duplicate lines and duplicate word tokens. High
    * values mark boilerplate/listing/spam documents that CROSS-document
    * dedup never sees. One codegen'd projection, zero shuffles.
    */
  object Repetition {
    def run(df: DataFrame, textCol: String = "text",
            idCol: String = "doc_id"): DataFrame = {
      def dupFrac(arr: Column) =
        round(lit(1.0) - size(array_distinct(arr)).cast("double") / size(arr), 4)
      df.select(col(idCol),
        dupFrac(split(col(textCol), "\n")).as("dup_line_fraction"),
        dupFrac(tokens(col(textCol))).as("dup_word_fraction"))
        .orderBy(idCol)
    }

    def oracleSql(table: String): String =
      s"""SELECT doc_id,
         |  round(1.0 - CAST(len(list_distinct(string_split(text, chr(10)))) AS DOUBLE)
         |    / len(string_split(text, chr(10))), 4) AS dup_line_fraction,
         |  round(1.0 - CAST(len(list_distinct(string_split(trim(regexp_replace(lower(text), '$WsClass+', ' ', 'g')), ' '))) AS DOUBLE)
         |    / len(string_split(trim(regexp_replace(lower(text), '$WsClass+', ' ', 'g')), ' ')), 4) AS dup_word_fraction
         |FROM $table ORDER BY doc_id""".stripMargin
  }

  /** PII / link scanning — the cheap pre-filter an LLM-data pipeline
    * runs before redaction: per-document counts of email, URL, phone,
    * IPv4/IPv6 and ID-number (SSN-shaped) spans — the RefinedWeb/Dolma
    * scrub set. Regexes deliberately use only constructs the two
    * engines share: character classes, bounded repetition, `\b`,
    * non-capturing groups — no lookaround, no backreferences. One
    * construct needs a declared side: `\b` is ASCII in RE2 (the
    * oracle) but Unicode-aware in java.util.regex (Character
    * .isLetterOrDigit at the boundary) — THE CONTRACT IS RE2'S ASCII
    * `\b` ([0-9A-Za-z_] only). [[PiiKernel]] implements ASCII-`\b`
    * directly, and PiiKernelSpec's java-regex reference compiles the
    * patterns with every `\b` rewritten to an explicit ASCII
    * lookaround, fuzz-pinned on non-ASCII-letter alphabets. (Under
    * Java's Unicode `\b`, "é123-45-6789" has no boundary before the
    * 1 and would NOT scan as an id; under the contract it does.)
    *
    * Both the counts and [[redact]] share ONE leftmost-partition scan
    * of [[CombinedPattern]] (round-13; see [[run]] for the semantics
    * and the rationale for abandoning the earlier independent
    * per-pattern scans).
    */
  object PiiScan {
    val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val UrlPattern = "https?://[A-Za-z0-9./_%-]+"
    /** 3-3-4 digit groups, three alternation arms made mutually
      * exclusive by their FIRST character — `(`, `+`, digit — so Java's
      * leftmost-first and RE2's matching cannot pick different arms at
      * the same position:
      *  1. parenthesized area code: separators may be spaces (the
      *     parens carry the intent)
      *  2. explicit +CC prefix: likewise
      *  3. bare triple: separators restricted to `-`/`.` — a plain
      *     space-separated digit triple ("shipment counts 100 200
      *     3000") is prose statistics, not a phone, and redact() must
      *     not destroy it (round-12 review finding). Trade-off: a bare
      *     space-separated phone ("555 123 4567") is missed; add a CC
      *     or parens to match, like the RefinedWeb-style scrubbers this
      *     mirrors.
      * `\b` edges stop sub-runs of longer digit strings matching.
      */
    val PhonePattern =
      "\\([0-9]{3}\\)[-. ]?[0-9]{3}[-. ][0-9]{4}\\b|" +
        "\\+[0-9]{1,2}[-. ]\\(?[0-9]{3}\\)?[-. ]?[0-9]{3}[-. ][0-9]{4}\\b|" +
        "\\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\\b"
    val Ipv4Pattern = "\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b"
    /** Full 8-group form only: compressed `::` forms would need
      * alternation whose leftmost-match behavior differs between the
      * engines, and 2-group lookalikes (timestamps `12:30:45`) would
      * false-positive. Documented narrowing.
      */
    val Ipv6Pattern = "\\b(?:[0-9A-Fa-f]{1,4}:){7}[0-9A-Fa-f]{1,4}\\b"
    /** SSN-shaped 3-2-4 id numbers; disjoint from [[PhonePattern]]. */
    val IdPattern = "\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b"

    /** Compressed (`::`) IPv6 forms — since round 14 carried by BOTH
      * engines (the oracle's combined pattern includes these arms and
      * the pii demo corpus carries `::` rows, so the hash compare
      * exercises them; the former spark-side-only parity boundary is
      * closed). Real-world IPv6 is overwhelmingly compressed, so the
      * production scan must catch it. Three lookaround-free arms — the
      * double colon is implicit where a trailing-`:` group run meets a
      * leading-`:` group run:
      *  1. inner `1:2::3:4` — enumerated `(?:H:){k}(?::H){1,7-k}` arms
      *     for k=1..6, so explicit groups total ≤ 7 (a compressed
      *     address elides ≥ 1 zero group of 8; the round-13 single
      *     `{1,7}{1,7}` arm accepted up to 14 groups and could claim
      *     MAC-like colon-hex dumps — advice-r13 fix). The arm choice
      *     is text-determined (only the k aligned with the `::` can
      *     match: every other arm meets a hex char where it needs `:`),
      *     so enumeration adds no engine-order sensitivity. A
      *     single-colon run (`12:30:45` timestamps) still fails the
      *     second run's leading `:`.
      *  2. leading `::1` (no \b prefix: `:` is a non-word char)
      *  3. trailing `fe80::` (no \b suffix, ditto); ordered LAST so
      *     `fe80::1` is taken whole by arm 1
      * The bare unspecified address `::` alone is deliberately not
      * matched (prose-noise trade-off).
      */
    val Ipv6CompressedPattern: String = {
      val H = "[0-9A-Fa-f]{1,4}"
      val inner = (1 to 6)
        .map(k => s"(?:$H:){$k}(?::$H){1,${7 - k}}")
        .mkString("|")
      s"\\b(?:$inner)\\b|" +
        s"::(?:$H:){0,6}$H\\b|" +
        s"\\b(?:$H:){1,7}:"
    }

    /** ONE alternation pass over the text (round-13 rewrite): the six
      * independent scans cost six backtracking-NFA traversals of every
      * document; the combined pattern costs one. Arm order = redaction
      * precedence (URL before email/IP: a span inside a URL's authority
      * is the URL's), so the scan and [[redact]] agree on spans by
      * construction.
      *
      * SEMANTICS (changed from the pre-round-13 independent counts,
      * oracle rewritten in lockstep): leftmost-partition — the text is
      * partitioned into non-overlapping spans, each claimed by the
      * first arm matching at its leftmost position. An IPv4 inside a
      * URL counts ONCE, as the URL. Java regex and RE2 agree on both
      * leftmost-match and alternation preference order, and every arm
      * is in the shared RE2-safe subset.
      */
    private val ClassArms = Seq(
      // compressed IPv6 rides with the full form under one label
      "url" -> UrlPattern, "email" -> EmailPattern,
      "ipv6" -> s"$Ipv6Pattern|$Ipv6CompressedPattern",
      "ipv4" -> Ipv4Pattern, "id" -> IdPattern, "phone" -> PhonePattern)
    val CombinedPattern: String =
      ClassArms.map { case (_, p) => s"(?:$p)" }.mkString("|")
    /** Oracle twin — IDENTICAL arms since round 14 (RE2 carries the
      * compressed-IPv6 alternation fine; the one remaining engine
      * delta, ASCII vs Unicode `\b`, is resolved by contracting ASCII —
      * see the object scaladoc).
      */
    val CombinedOraclePattern: String = CombinedPattern

    /** Execution: [[PiiKernel]], the `pii_counts` kernel UDF — the
      * hand-compiled equivalent of scanning [[CombinedPattern]] (same
      * rationale as the winnowing/minhash kernels: java.util.regex's
      * backtracking NFA re-attempts the email arm at every word char,
      * measured 6× slower than the RE2-DFA oracle at sf100; the kernel
      * is an amortized-O(n) first-char-dispatched scanner, fuzz-pinned
      * against a java-regex reference in PiiKernelSpec).
      */
    def run(df: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
      requireIntegralId(df, idCol, "PiiScan")
      df.select(col(idCol).cast("long").as(idCol), Counts(col(textCol)).as("k"))
        .select(col(idCol) +: kernelFields("n_emails", "n_urls", "n_phones",
          "n_ipv4", "n_ipv6", "n_ids", "has_pii"): _*)
        .orderBy(idCol)
    }

    private val Counts = udf { (text: String) =>
      if (text == null)
        (Option.empty[Int], Option.empty[Int], Option.empty[Int], Option.empty[Int],
          Option.empty[Int], Option.empty[Int], Option.empty[Int])
      else {
        val c = PiiKernel.counts(text)
        (Some(c(PiiKernel.Email)), Some(c(PiiKernel.Url)), Some(c(PiiKernel.Phone)),
          Some(c(PiiKernel.Ipv4)), Some(c(PiiKernel.Ipv6)), Some(c(PiiKernel.Id)),
          Some(if (c.exists(_ > 0)) 1 else 0))
      }
    }.withName("pii_counts")

    private val CountCols = Seq("n_emails" -> "email", "n_urls" -> "url",
      "n_phones" -> "phone", "n_ipv4" -> "ipv4", "n_ipv6" -> "ipv6",
      "n_ids" -> "id")

    def oracleSql(table: String): String = {
      val caseArms = Seq("url" -> UrlPattern, "email" -> EmailPattern,
        "ipv6" -> s"$Ipv6Pattern|$Ipv6CompressedPattern",
        "ipv4" -> Ipv4Pattern, "id" -> IdPattern)
        .map { case (l, p) => s"WHEN regexp_full_match(s, '^(?:$p)$$') THEN '$l'" }
        .mkString("\n         |      ")
      val counts = CountCols.map { case (name, label) =>
        s"CAST(len(list_filter(labels, x -> x = '$label')) AS INTEGER) AS $name"
      }.mkString(",\n         |  ")
      s"""WITH l AS (
         |  SELECT doc_id,
         |    list_transform(regexp_extract_all(text, '$CombinedOraclePattern'),
         |      s -> CASE
         |      $caseArms
         |      ELSE 'phone' END) AS labels
         |  FROM $table)
         |SELECT doc_id,
         |  $counts,
         |  CAST(len(labels) > 0 AS INTEGER) AS has_pii
         |FROM l ORDER BY doc_id""".stripMargin
    }

    val EmailToken = "<EMAIL>"
    val UrlToken = "<URL>"
    val PhoneToken = "<PHONE>"
    val Ipv4Token = "<IPV4>"
    val Ipv6Token = "<IPV6>"
    val IdToken = "<ID>"

    private val ClassToken = Map("url" -> UrlToken, "email" -> EmailToken,
      "ipv6" -> Ipv6Token, "ipv4" -> Ipv4Token, "id" -> IdToken,
      "phone" -> PhoneToken)

    /** Class-indexed sentinel tokens for [[PiiKernel.redact]]. */
    private val TokenByClass: Array[String] = {
      val a = new Array[String](PiiKernel.NumClasses)
      a(PiiKernel.Url) = UrlToken; a(PiiKernel.Email) = EmailToken
      a(PiiKernel.Ipv6) = Ipv6Token; a(PiiKernel.Ipv4) = Ipv4Token
      a(PiiKernel.Id) = IdToken; a(PiiKernel.Phone) = PhoneToken
      a
    }

    /** Redaction — the transform PiiScan's counts gate, sharing the
      * scan's single [[PiiKernel]] pass: every span replaced by its
      * class sentinel in one string rebuild. Same leftmost-partition
      * semantics as [[run]]: one span, one token, arm order =
      * precedence. Char lengths are codepoint counts (Spark `length`
      * and DuckDB `length` both count codepoints, not UTF-16 units).
      */
    def redact(df: DataFrame, textCol: String = "text",
               idCol: String = "doc_id"): DataFrame = {
      requireIntegralId(df, idCol, "PiiScan.redact")
      df.select(col(idCol).cast("long").as(idCol), Redact(col(textCol)).as("k"))
        .select(col(idCol) +: kernelFields("redacted", "n_chars_before",
          "n_chars_after"): _*)
        .orderBy(idCol)
    }

    private val Redact = {
      val tokens = TokenByClass
      udf { (text: String) =>
        if (text == null) (Option.empty[String], Option.empty[Int], Option.empty[Int])
        else {
          val r = PiiKernel.redact(text, tokens)
          (Some(r), Some(text.codePointCount(0, text.length)),
            Some(r.codePointCount(0, r.length)))
        }
      }.withName("pii_redact")
    }

    def redactOracleSql(table: String): String = {
      val caseArms = Seq("url" -> UrlPattern, "email" -> EmailPattern,
        "ipv6" -> s"$Ipv6Pattern|$Ipv6CompressedPattern",
        "ipv4" -> Ipv4Pattern, "id" -> IdPattern)
        .map { case (l, p) =>
          s"WHEN regexp_full_match(s, '^(?:$p)$$') THEN '${ClassToken(l)}'" }
        .mkString("\n         |        ")
      s"""WITH m AS (
         |  SELECT doc_id, text,
         |    string_split_regex(text, '$CombinedOraclePattern') AS segs,
         |    list_transform(regexp_extract_all(text, '$CombinedOraclePattern'),
         |      s -> CASE
         |        $caseArms
         |        ELSE '$PhoneToken' END) AS toks
         |  FROM $table)
         |SELECT doc_id,
         |  array_to_string(list_transform(list_zip(segs, toks),
         |    x -> x[1] || coalesce(x[2], '')), '') AS redacted,
         |  length(text) AS n_chars_before,
         |  length(redacted) AS n_chars_after
         |FROM m ORDER BY doc_id""".stripMargin
    }
  }

  // ---------------------------------------------------------------- #35
  /** Document fingerprinting.
    *
    * `contentFingerprint` — md5 of whitespace-normalized lowercase text:
    * the exact-dedup key, SQL-oracle-checkable.
    *
    * `winnowFingerprints` — winnowing over a polynomial rolling hash
    * (Schleimer et al., SIGMOD'03): hash every k-gram, keep the minimum
    * hash of each sliding window of `w` hashes, in the `winnow_hashes`
    * kernel UDF — one projection, no shuffle.
    */
  object Fingerprint {
    val K = 8      // k-gram length in chars
    val W = 16     // winnowing window (hashes)
    val Base = 257L
    val Mod = 1000000007L

    /** Whitespace collapse uses [[WsClass]], not `\s` — Java `\s` IS
      * exactly this class, but RE2's excludes U+000B, so the oracle
      * twins ([[oracleSql]], Dedup/Curate/Decontaminate) must spell it
      * out and the Spark side spells it identically in lockstep.
      */
    def normalized(text: Column): Column =
      lower(trim(regexp_replace(text, s"$WsClass+", " ")))

    /** THE canonical content fingerprint — every content-identity
      * consumer (exact dedup, incremental dedup, streaming corpus
      * membership) must build it through here, or a normalization or
      * hash change would silently split "identical" content between
      * call sites.
      */
    def fingerprintCol(text: Column): Column = md5(normalized(text))

    def contentFingerprint(df: DataFrame, textCol: String = "text",
                           idCol: String = "doc_id"): DataFrame =
      df.select(col(idCol), fingerprintCol(col(textCol)).as("fingerprint"))
        .orderBy(idCol)

    def oracleSql(table: String): String =
      s"""SELECT doc_id,
         |  md5(lower(trim(regexp_replace(text, '$WsClass+', ' ', 'g')))) AS fingerprint
         |FROM $table ORDER BY doc_id""".stripMargin

    /** Per-doc array of winnowed k-gram hashes (document sketch).
      *
      * Kernel UDF: the k-gram hashes come from a true ROLLING
      * polynomial hash (one multiply-add + one subtract per character)
      * and the window minima from a monotonic deque — O(len) per
      * document. The equivalent Catalyst formulation is O(len·k)
      * hashing plus O(len·w) minima with per-element interpreted
      * lambdas (and O(len²) substring scans), which falls over on long
      * documents at scale.
      */
    def winnowFingerprints(df: DataFrame, textCol: String = "text",
                           idCol: String = "doc_id"): DataFrame =
      df.select(col(idCol).cast("long").as(idCol),
          Winnow(normalized(col(textCol))).as("winnow_hashes"))
        .orderBy(idCol)

    /** base^(k-1) mod M, the rolling removal term. */
    private val BasePow = (1 until K).foldLeft(1L)((p, _) => p * Base % Mod)

    private val Winnow = udf { (t0: String) =>
      val t = if (t0 == null) "" else t0
      val n = t.length
      val nHashes = math.max(n - (K - 1), if (n == 0) 0 else 1)
      val hashes = new Array[Long](math.max(nHashes, 0))
      if (n > 0) {
        var h = 0L
        var i = 0
        while (i < math.min(K, n)) { h = (h * Base + t.charAt(i)) % Mod; i += 1 }
        hashes(0) = h
        var s = 1
        while (s < nHashes) {
          h = ((h - t.charAt(s - 1) * BasePow % Mod + Mod * Base) % Mod * Base
            + t.charAt(s + K - 1)) % Mod
          hashes(s) = h
          s += 1
        }
      }
      // sliding-window minimum via monotonic index deque
      val out = scala.collection.mutable.LinkedHashSet.empty[Long]
      if (hashes.nonEmpty) {
        val win = math.min(W, hashes.length)
        val deque = new java.util.ArrayDeque[Int]()
        var i = 0
        while (i < hashes.length) {
          while (!deque.isEmpty && hashes(deque.peekLast()) >= hashes(i))
            deque.pollLast()
          deque.addLast(i)
          if (deque.peekFirst() <= i - win) deque.pollFirst()
          if (i >= win - 1) out += hashes(deque.peekFirst())
          i += 1
        }
      }
      out.toSeq
    }.withName("winnow_hashes")
  }
}
