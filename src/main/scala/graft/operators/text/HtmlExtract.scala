package graft.operators.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** HTML → main-text extraction — the step every web-crawl pipeline
  * (C4, CCNet, RefinedWeb) runs before any text analysis: strip
  * markup, decode entities, and drop short boilerplate lines (nav,
  * titles, footers), keeping prose.
  *
  * Pipeline, one codegen'd projection (order matters and is mirrored
  * verbatim in the DuckDB twin):
  *
  *   1. comments, `<script>`/`<style>` blocks, then the whole `<head>`
  *      block (titles/meta are chrome, not prose) and stray `<title>`
  *      removed wholesale (script/style CONTENT is not text —
  *      `var x = 1 < 2` must not leak — and scripts go FIRST because a
  *      JS string containing the literal "</head>" would otherwise
  *      truncate the head strip); RE2-compatible: dot-all non-greedy,
  *      no backreferences, so the same pattern runs on DuckDB
  *   2. block-level tags (`p`, `div`, `br`, `h1-6`, `li`, `tr`,
  *      `ul`/`ol`, `table`) become newlines — they are the line
  *      structure boilerplate filtering needs. Tag names are ANCHORED
  *      (`(\s[^>]*)?/?>` after the name), so `<pre>`, `<param>`,
  *      `<progress>`, `<picture>`, `<link>`, `<track>` do NOT
  *      prefix-match and fall through to the inline rule
  *   3. every remaining tag becomes a space (inline markup joins
  *      words). Only `<` followed by a letter, `/`, `!` or `?` (the
  *      last admits `<?xml …?>`/`<?php …?>` processing instructions)
  *      counts as a tag — literal body text like `x < y > z` survives.
  *      A bare `<` directly abutting a word (`x <y> z`) still reads as
  *      a tag: that ambiguity is unresolvable without a real parser
  *      and is the documented limit of this naive extractor
  *   4. named entities (`&nbsp;` `&lt;` `&gt;` `&quot;`) decode via
  *      literal `replace`; then NUMERIC character references —
  *      `&#NNN;` (value ≤ 255) and `&#xHH;` (≤ 2 hex digits, the
  *      ASCII/Latin-1 range) — decode via mark → split → transform
  *      ([[decodeNumericEntities]]); `&amp;` decodes LAST, so
  *      `&amp;lt;`/`&amp;#233;` stay the literal text the author
  *      wrote, not `<`/`é`. (A doubly-numeric `&#38;amp;` decodes all
  *      the way to `&` — the naive-extractor trade for running the
  *      passes in fixed order.)
  *   5. lines are trimmed, inner whitespace collapsed, and lines with
  *      fewer than `minLineWords` words dropped (the C4 short-line
  *      rule; nav/footer lines die here)
  *
  * Scale shape: pure per-row projection — no shuffle; [[run]]'s
  * `html_extract` kernel UDF rides WholeStageCodegen next to the scan
  * like the rest of [[TextOps]]. The output `orderBy` is presentation
  * only.
  *
  * Output: `(doc_id, text, n_lines, n_chars)` — extracted prose, lines
  * kept, and its length.
  */
object HtmlExtract {

  /** Anchored block-tag pattern: name, then end of tag or whitespace +
    * attributes — never a longer name sharing the prefix.
    */
  // WsClass, not \s: Java \s includes U+000B, RE2's does not, and this
  // pattern ships verbatim to both engines (TextOps parity contract)
  private val BlockTagPattern =
    s"(?i)</?(p|div|br|h[1-6]|li|tr|ul|ol|table)(${TextOps.WsClass}[^>]*)?/?>"

  // mark/separator sentinels for the numeric-entity decoder; U+0001/02
  // never occur in crawlable text (and a page that DID carry them
  // would merely mis-decode its own numeric entities)
  private val Mark = "\u0001"
  private val Sep = "\u0002"
  private val HexDigits = "0123456789abcdef"

  /** The only segment shapes [[decodeNumericEntities]]' own marking can
    * produce. A RAW U+0002 in the input yields a segment whose "code"
    * prefix fails this pattern — such segments pass through untouched
    * instead of hitting an ANSI-mode cast error (Spark 4 default) on
    * garbage digits.
    */
  private val ValidCode = "^(x[0-9A-Fa-f]{1,2}|[0-9]{1,3})$"

  /** Decode numeric character references in the ASCII/Latin-1 range:
    * `&#NNN;` for 1 ≤ NNN ≤ 255 and `&#xHH;`/`&#XHH;` with 1-2 hex
    * digits. Out-of-range or longer references pass through as the
    * literal text (Latin-1 is where Spark's byte-masking `char()` and
    * DuckDB's code-point `chr()` agree, so the guard is the parity
    * contract, not laziness).
    *
    * Engine-portable shape (RE2 has no lookaround, neither engine can
    * compute a char from a number inside `regexp_replace`): mark each
    * reference with sentinel delimiters keeping the digits
    * (`\u0001<code>\u0002`), split on the mark, and `transform` each
    * segment — code before the separator, decoded via `char()` (hex
    * digits folded to an integer with `instr` arithmetic), tail after
    * it — then re-join. Stays one codegen'd projection.
    */
  def decodeNumericEntities(c: Column): Column = {
    val marked = regexp_replace(
      regexp_replace(c, "&#[xX]([0-9A-Fa-f]{1,2});", Mark + "x$1" + Sep),
      "&#([0-9]{1,3});", Mark + "$1" + Sep)
    val segs = split(marked, Mark)
    // functions.instr only takes a literal needle; the SQL instr
    // resolves column-column
    def hexVal(digit: Column): Column =
      call_function("instr", lit(HexDigits), digit) - 1
    val decoded = transform(segs, s => {
      val code = substring_index(s, Sep, 1)
      val tail = s.substr(length(code) + lit(2), length(s))
      val hex2 = lpad(lower(code.substr(lit(2), length(code))), 2, "0")
      val value = when(code.startsWith("x"),
        hexVal(substring(hex2, 1, 1)) * 16 + hexVal(substring(hex2, 2, 1)))
        .otherwise(code.cast("int"))
      val ch = when(value.between(1, 255), call_function("char", value))
        .otherwise(concat(lit("&#"), code, lit(";")))
      when(instr(s, Sep) === 0 || !code.rlike(ValidCode), s)
        .otherwise(concat(ch, tail))
    })
    array_join(decoded, "")
  }

  /** Extracted main text of an HTML column. */
  def extract(html: Column, minLineWords: Int = 4): Column = {
    val noComment = regexp_replace(html, "(?s)<!--.*?-->", "")
    // script/style FIRST: their bodies may contain the literal strings
    // "</head>"/"</title>" (document.write et al.), which would
    // truncate a head/title strip that ran before them
    val noScript = regexp_replace(noComment, "(?is)<script[^>]*>.*?</script>", "")
    val noStyle = regexp_replace(noScript, "(?is)<style[^>]*>.*?</style>", "")
    val ws = TextOps.WsClass
    val noHead = regexp_replace(noStyle, s"(?is)<head($ws[^>]*)?>.*?</head$ws*>", "")
    val noTitle = regexp_replace(noHead, s"(?is)<title($ws[^>]*)?>.*?</title$ws*>", "")
    val blocks = regexp_replace(noTitle, BlockTagPattern, "\n")
    // '?' admits processing instructions (<?xml …?>, stray <?php …?>)
    val noTags = regexp_replace(blocks, "<[A-Za-z/!?][^>]*>", " ")
    val named = Seq("&nbsp;" -> " ", "&lt;" -> "<", "&gt;" -> ">",
      "&quot;" -> "\"")
      .foldLeft(noTags) { case (c, (from, to)) => replace(c, lit(from), lit(to)) }
    val decoded = replace(decodeNumericEntities(named), lit("&amp;"), lit("&"))
    val lines = transform(split(decoded, "\n"),
      l => trim(regexp_replace(l, s"${TextOps.WsClass}+", " ")))
    val kept = filter(lines,
      l => l =!= "" && size(split(l, " ")) >= minLineWords)
    array_join(kept, "\n")
  }

  /** Execution: [[HtmlKernel]], the hand-compiled twin of [[extract]]
    * (round 13 — same kernel move as [[PiiKernel]]; HtmlKernelSpec
    * fuzz-pins kernel == Catalyst-expression equality, and the DuckDB
    * oracle mirrors the expression). [[extract]] remains the reference
    * implementation and the single source of the pass semantics.
    */
  def run(df: DataFrame, minLineWords: Int = 4,
          htmlCol: String = "html", idCol: String = "doc_id"): DataFrame = {
    TextOps.requireIntegralId(df, idCol, "HtmlExtract")
    val extracted = udf { (html: String) =>
      if (html == null) (Option.empty[String], Option.empty[Int], Option.empty[Int])
      else {
        val text = HtmlKernel.extract(html, minLineWords)
        val nLines = if (text.isEmpty) 0 else text.count(_ == '\n') + 1
        (Some(text), Some(nLines), Some(text.codePointCount(0, text.length)))
      }
    }.withName("html_extract")
    df.select(col(idCol).cast("long").as(idCol), extracted(col(htmlCol)).as("k"))
      .select(col(idCol) +: TextOps.kernelFields("text", "n_lines", "n_chars"): _*)
      .orderBy(idCol)
  }

  /** DuckDB twin of [[run]] over `table(doc_id, html)`. DuckDB's
    * `regexp_replace` is first-match-only without the `'g'` flag
    * (Spark's is always global), its backreference syntax is `\1`
    * (Spark: `$1`), and `list_aggregate`'s `string_agg` of an empty
    * list is NULL where Spark's `array_join` is `''` — the differences
    * are papered over here, not in the operator. The numeric-entity
    * decode mirrors [[decodeNumericEntities]] step for step (mark with
    * chr(1)/chr(2), split, list_transform, re-join).
    */
  def oracleSql(table: String, minLineWords: Int = 4): String =
    s"""WITH stripped AS (
       |  SELECT doc_id,
       |    regexp_replace(
       |      regexp_replace(
       |        regexp_replace(
       |          regexp_replace(
       |            regexp_replace(
       |              regexp_replace(
       |                regexp_replace(html, '(?s)<!--.*?-->', '', 'g'),
       |                '(?is)<script[^>]*>.*?</script>', '', 'g'),
       |              '(?is)<style[^>]*>.*?</style>', '', 'g'),
       |            '(?is)<head(${TextOps.WsClass}[^>]*)?>.*?</head${TextOps.WsClass}*>', '', 'g'),
       |          '(?is)<title(${TextOps.WsClass}[^>]*)?>.*?</title${TextOps.WsClass}*>', '', 'g'),
       |        '$BlockTagPattern', chr(10), 'g'),
       |      '<[A-Za-z/!?][^>]*>', ' ', 'g') AS t
       |  FROM $table),
       |named AS (
       |  SELECT doc_id,
       |    replace(replace(replace(replace(t,
       |      '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
       |      '&quot;', '"') AS t
       |  FROM stripped),
       |marked AS (
       |  SELECT doc_id,
       |    regexp_replace(
       |      regexp_replace(t, '&#[xX]([0-9A-Fa-f]{1,2});',
       |        chr(1) || 'x\\1' || chr(2), 'g'),
       |      '&#([0-9]{1,3});', chr(1) || '\\1' || chr(2), 'g') AS t
       |  FROM named),
       |-- nested transforms bind (segment, code) then the numeric value
       |-- ONCE, mirroring the Scala lambda's local vals; the valid-code
       |-- guard mirrors ValidCode (a raw chr(2) in the input must pass
       |-- through, not CAST-error)
       |decoded AS (
       |  SELECT doc_id,
       |    replace(array_to_string(list_transform(
       |      list_transform(
       |        list_transform(string_split(t, chr(1)),
       |          s -> struct_pack(s := s, code := split_part(s, chr(2), 1))),
       |        x -> struct_pack(s := x.s, code := x.code,
       |          ok := strpos(x.s, chr(2)) <> 0 AND
       |            regexp_matches(x.code, '^(x[0-9A-Fa-f]{1,2}|[0-9]{1,3})$$'),
       |          v := CASE WHEN x.code LIKE 'x%'
       |            THEN (strpos('0123456789abcdef', substring(lpad(lower(substring(x.code, 2)), 2, '0'), 1, 1)) - 1) * 16
       |               + (strpos('0123456789abcdef', substring(lpad(lower(substring(x.code, 2)), 2, '0'), 2, 1)) - 1)
       |            WHEN regexp_matches(x.code, '^[0-9]{1,3}$$')
       |            THEN CAST(x.code AS INTEGER) ELSE 0 END)),
       |      x -> CASE WHEN NOT x.ok THEN x.s
       |        ELSE (CASE WHEN x.v BETWEEN 1 AND 255 THEN chr(CAST(x.v AS INTEGER))
       |              ELSE '&#' || x.code || ';' END)
       |          || substring(x.s, length(x.code) + 2)
       |      END), ''), '&amp;', '&') AS t
       |  FROM marked),
       |joined AS (
       |  SELECT doc_id,
       |    coalesce(array_to_string(
       |      list_filter(
       |        list_transform(string_split(t, chr(10)),
       |          l -> trim(regexp_replace(l, '${TextOps.WsClass}+', ' ', 'g'))),
       |        l -> l <> '' AND len(string_split(l, ' ')) >= $minLineWords),
       |      chr(10)), '') AS text
       |  FROM decoded)
       |SELECT doc_id, text,
       |  CASE WHEN text = '' THEN 0
       |       ELSE CAST(len(string_split(text, chr(10))) AS INTEGER) END AS n_lines,
       |  CAST(length(text) AS BIGINT) AS n_chars
       |FROM joined ORDER BY doc_id""".stripMargin
}
