package graft.operators.text

/** Hand-rolled per-document text statistics — the execution kernel
  * behind [[TextOps.TokenCount]], [[TextOps.QualityScore]] and
  * [[Curate]], each of which calls it from a named kernel UDF
  * ([[TextOps.kernelFields]]) (round 13, same adopted-kernel rationale as
  * [[PiiKernel]]/[[HtmlKernel]]: the Catalyst forms re-evaluate the
  * tokenize expression per output column and run interpreted
  * `filter`/`array_contains` lambdas per token — measured 72 s
  * (TokenCount), 310 s (QualityScore) and 159 s (Curate) for 5 M
  * documents at sf100 where DuckDB takes 7/30/50 s; one char-level
  * pass computes every signal at once).
  *
  * EXACTNESS CONTRACT: each rewired operator must produce rows
  * IDENTICAL to its Catalyst expression form (kept as
  * `private[text] exprRun` reference implementations), including
  * double arithmetic order, Spark `round` (HALF_UP via
  * `BigDecimal(d)`) and Spark `least` NaN ordering (NaN is GREATEST,
  * so `least(1.0, NaN)` = 1.0 — NOT `math.min`). TextStatsKernelSpec
  * fuzz-compares kernel vs expression outputs; the DuckDB oracles
  * mirror the expressions.
  */
object TextStatsKernel {

  /** Catalyst `lower()` — bit-exact. Spark 4 lowercases through ICU,
    * whose Final_Sigma context rule follows Unicode (digits are NOT
    * case-ignorable), while `String.toLowerCase(Locale.ROOT)` treats
    * them as ignorable: `"AN42\u03a3"` lowers to `\u03c3` in
    * Catalyst/ICU but `\u03c2` in Java — caught by
    * TextStatsKernelSpec's fuzz. Every kernel that mirrors a Catalyst
    * `lower` must lowercase through here.
    */
  def catalystLower(s: String): String =
    com.ibm.icu.lang.UCharacter.toLowerCase(com.ibm.icu.util.ULocale.ROOT, s)

  private val WsSet = " \t\n\u000B\f\r"
  @inline private[text] def isWs(c: Char): Boolean = WsSet.indexOf(c.toInt) >= 0
  @inline private def isAsciiLetter(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
  @inline private def isDigit(c: Char): Boolean = c >= '0' && c <= '9'

  /** Spark `least(1.0, x)`: Spark's double ordering places NaN ABOVE
    * every value, so a NaN ratio yields 1.0 (math.min would yield NaN).
    */
  @inline private def least1(x: Double): Double =
    if (x.isNaN || x > 1.0) 1.0 else x

  /** Spark `round(d, 4)` — HALF_UP through `BigDecimal(d)` (which uses
    * the canonical Double.toString representation); NaN/Infinity pass
    * through like Catalyst's RoundBase.
    */
  def round4(d: Double): Double =
    if (d.isNaN || d.isInfinite) d
    else BigDecimal(d).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Whitespace-token count under the [[TextOps.wsTokens]] convention:
    * number of maximal non-ws runs; an empty/ws-only document is ONE
    * (empty) token.
    */
  def wsTokenCount(t: String): Int = {
    var count = 0
    var i = 0
    val n = t.length
    while (i < n) {
      if (!isWs(t.charAt(i))) {
        count += 1
        while (i < n && !isWs(t.charAt(i))) i += 1
      } else i += 1
    }
    if (count == 0) 1 else count
  }

  /** Match count of `[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\x0B\f\r]` —
    * letter runs, digit runs, single non-alnum-non-ws CODE POINTS
    * (java regex treats a surrogate pair as one negated-class match).
    */
  def bpeTokenCount(t: String): Int = {
    var count = 0
    var i = 0
    val n = t.length
    while (i < n) {
      val c = t.charAt(i)
      if (isAsciiLetter(c)) {
        count += 1
        while (i < n && isAsciiLetter(t.charAt(i))) i += 1
      } else if (isDigit(c)) {
        count += 1
        while (i < n && isDigit(t.charAt(i))) i += 1
      } else if (isWs(c)) i += 1
      else {
        count += 1
        i += Character.charCount(t.codePointAt(i))
      }
    }
    count
  }

  /** Code points outside `[A-Za-z0-9]` and the ws set — the
    * [[TextOps.PunctClass]] count (`length(t) - length(strip(t))` in
    * the expression form).
    */
  def punctCount(t: String): Int = {
    var count = 0
    var i = 0
    val n = t.length
    while (i < n) {
      val cp = t.codePointAt(i)
      val c = t.charAt(i)
      val alnumOrWs = (cp < 128) &&
        (isAsciiLetter(c) || isDigit(c) || isWs(c))
      if (!alnumOrWs) count += 1
      i += Character.charCount(cp)
    }
    count
  }

  /** Tokens (maximal non-ws runs) whose Locale.ROOT lowercase equals
    * one of [[TextOps.EnStopwords]] — the `stopwordHits(tokens(text))`
    * count. The operators tokenize `lower(text)`; lowercasing never
    * creates or removes whitespace, so run boundaries are unchanged,
    * and per-run lowercasing equals substring-of-lowered-text for the
    * ASCII-only stopword alphabet.
    */
  def stopwordHits(t: String): Int = {
    var hits = 0
    var i = 0
    val n = t.length
    while (i < n) {
      if (!isWs(t.charAt(i))) {
        val start = i
        while (i < n && !isWs(t.charAt(i))) i += 1
        val len = i - start
        if (len <= 4) { // longest stopword is 4 chars
          val tok = catalystLower(t.substring(start, i))
          if (StopwordSet.contains(tok)) hits += 1
        }
      } else i += 1
    }
    hits
  }
  private val StopwordSet: Set[String] = TextOps.EnStopwords.toSet

  /** Code-point count — Spark/DuckDB `length`. */
  @inline def nChars(t: String): Int = t.codePointCount(0, t.length)

  /** `lower(trim(regexp_replace(t, WsClass+, ' ')))` — the
    * [[TextOps.Fingerprint.normalized]] form: collapse ws runs to one
    * space, strip edge SPACES only, lowercase through [[catalystLower]].
    * The one kernel-side normalizer: [[Curate]], MinHash `signatures`
    * and [[Decontaminate]] (probes and documents) all call it.
    */
  def normalize(t: String): String = {
    val sb = new java.lang.StringBuilder(t.length)
    var i = 0
    val n = t.length
    while (i < n) {
      val c = t.charAt(i)
      if (isWs(c)) {
        while (i < n && isWs(t.charAt(i))) i += 1
        sb.append(' ')
      } else { sb.append(c); i += 1 }
    }
    var s = 0
    var e = sb.length
    while (s < e && sb.charAt(s) == ' ') s += 1
    while (e > s && sb.charAt(e - 1) == ' ') e -= 1
    catalystLower(sb.substring(s, e))
  }

  /** Hex MD5 of the UTF-8 bytes — Catalyst/DuckDB `md5(...)`. */
  def md5Hex(s: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val sb = new java.lang.StringBuilder(32)
    d.foreach(b => sb.append(f"${b & 0xff}%02x"))
    sb.toString
  }

  /** All [[TextOps.QualityScore]] signals of one document in one pass
    * over `t` (the operator's RAW or NORMALIZED text, per call site):
    * (nChars, nTokens, punctRatioRaw, stopRatioRaw, scoreRaw) — the
    * UNROUNDED doubles, arithmetic ordered exactly like the Catalyst
    * expression.
    *
    * EMPTY-TEXT EDGE (chars == 0): the Catalyst reference RAISES under
    * ANSI mode (punct/length is a divide-by-zero) — a latent crash no
    * shipped corpus hits. The kernel instead matches the DUCKDB ORACLE,
    * which yields NULL for 0.0/0 and a `least` that ignores it:
    * punctRatio comes back NaN (the caller maps it to SQL NULL) and the
    * score's punctuation term contributes 0 (least1(NaN) = 1.0 — the
    * same value DuckDB's least(1.0, NULL) takes). Spec-pinned in
    * TextStatsKernelSpec, including the reference's raise.
    */
  def qualitySignals(t: String): (Int, Int, Double, Double, Double) = {
    val chars = nChars(t)
    val nTok = wsTokenCount(t)
    val punct = punctCount(t)
    val lowered = catalystLower(t)
    val stops = stopwordHits(lowered)
    val stopRatio = stops.toDouble / nTok.toDouble
    val punctRatio = punct.toDouble / chars.toDouble // NaN when chars == 0
    val score = 0.4 * least1(nTok.toDouble / 100.0) +
      0.3 * least1(stopRatio * 5.0) +
      0.3 * (1.0 - least1(punctRatio * 10.0))
    (chars, nTok, punctRatio, stopRatio, score)
  }
}
