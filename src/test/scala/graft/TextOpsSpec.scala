package graft

import graft.operators.text.TextOps
import org.scalatest.funsuite.AnyFunSuite

/** Unit coverage for text-analysis operators (SURVEY §2 #32-35). */
class TextOpsSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog", "en"),
    (2L, "zzz qqq xxx yyy www vvv", "xx"),
    (3L, "a cat, a dog, and a fish!", "en")
  ).toDF("doc_id", "text", "lang")

  test("TokenCount counts whitespace and BPE-ish tokens") {
    val rows = TextOps.TokenCount.run(docs).collect()
      .map(r => r.getLong(0) -> ((r.getInt(2), r.getInt(3)))).toMap
    assert(rows(1L) === ((9, 9)))
    // "a cat, a dog, and a fish!" → 7 ws tokens; bpe: 7 words + 3 marks
    assert(rows(3L) === ((7, 10)))
  }

  test("LangId calls en for stopword-rich text, und otherwise") {
    val rows = TextOps.LangId.run(docs).collect()
      .map(r => r.getLong(0) -> r.getAs[String]("predicted_lang")).toMap
    assert(rows(1L) === "en")
    assert(rows(2L) === "und")
    assert(rows(3L) === "en")
  }

  test("QualityScore is within [0,1] and penalizes punctuation") {
    val rows = TextOps.QualityScore.run(docs).collect()
      .map(r => r.getLong(0) -> r.getAs[Double]("quality_score")).toMap
    assert(rows.values.forall(s => s >= 0.0 && s <= 1.0))
    assert(rows(1L) > rows(2L)) // stopword-rich beats stopword-free
  }

  test("content fingerprint is whitespace/case insensitive") {
    val a = Seq((1L, "Hello  World", "en"), (2L, "hello world", "en"))
      .toDF("doc_id", "text", "lang")
    val fps = TextOps.Fingerprint.contentFingerprint(a).collect()
      .map(_.getString(1))
    assert(fps(0) === fps(1))
  }

  test("identity family collapses vertical tab U+000B like any whitespace") {
    // Java \s includes U+000B, RE2's does not — WsClass spells it out on
    // both engines, and this fixture (the spec twin of SparkEntry's
    // wsFixtureDocs rows) keeps the parity from silently reopening
    val a = Seq((1L, "Fixture\u000BVERTICAL\u000Btab\tdoc", "en"),
      (2L, "fixture  vertical TAB doc", "en")).toDF("doc_id", "text", "lang")
    val fps = TextOps.Fingerprint.contentFingerprint(a).collect().map(_.getString(1))
    assert(fps(0) === fps(1))
    // wsTokens (the tokenizer contract) splits on U+000B too
    val toks = TextOps.TokenCount.run(a).collect()
      .map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(toks(1L) === 4 && toks(2L) === 4)
    // and exact dedup lands the pair in one group
    val groups = graft.operators.dedup.Dedup.ExactDedup.run(a).collect()
    assert(groups.length === 1 && groups.head.getAs[Long]("n_docs") === 2L)
  }

  test("winnow fingerprints: identical docs share all hashes, near-dups overlap") {
    val base = "the quick brown fox jumps over the lazy dog and runs far away home"
    val near = base.replace("lazy", "hazy")
    val other = "completely different content about spark catalyst tungsten codegen"
    val df = Seq((1L, base), (2L, base), (3L, near), (4L, other))
      .toDF("doc_id", "text")
    val fps = TextOps.Fingerprint.winnowFingerprints(df).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    assert(fps(1L) === fps(2L))
    val overlapNear = fps(1L).intersect(fps(3L)).size.toDouble / fps(1L).union(fps(3L)).size
    val overlapOther = fps(1L).intersect(fps(4L)).size.toDouble / fps(1L).union(fps(4L)).size
    assert(overlapNear > 0.5)
    assert(overlapOther < 0.1)
  }

  test("DomainCap: caps per extracted domain, no-URL docs share 'none'") {
    val docs = Seq(
      (1L, "see https://a.com/x now"),
      (2L, "also https://A.COM/y here"),   // case variant: same host
      (3L, "and https://a.com/z too"),
      (4L, "from https://b.org/1"),
      (5L, "no links at all"))
      .toDF("doc_id", "text")
    val r = TextOps.DomainCap.run(docs, cap = 2).collect()
      .map(x => x.getLong(0) -> (x.getString(1), x.getInt(2), x.getBoolean(3))).toMap
    assert(r(1L) == (("a.com", 1, true)))
    assert(r(2L) == (("a.com", 2, true)))  // lowercased into the same cap
    assert(r(3L) == (("a.com", 3, false))) // over the cap
    assert(r(4L) == (("b.org", 1, true)))
    assert(r(5L)._1 == "none")
    // capped = only the kept rows
    assert(TextOps.DomainCap.capped(docs, cap = 2).collect()
      .map(_.getLong(0)).toSet == Set(1L, 2L, 4L, 5L))
  }

  test("Repetition: duplicate lines and words raise the fractions") {
    val docs = Seq(
      (1L, "a b c d"),                       // all unique
      (2L, "spam spam spam spam"),           // 1 distinct word of 4
      (3L, "line one\nline two\nline one"))  // 2 distinct lines of 3
      .toDF("doc_id", "text")
    val r = TextOps.Repetition.run(docs).collect()
      .map(x => x.getLong(0) -> (x.getDouble(1), x.getDouble(2))).toMap
    assert(r(1L) == ((0.0, 0.0)))
    assert(r(2L)._2 == 0.75)
    assert(r(3L)._1 == 0.3333)
  }

  test("Curate: duplicate beats quality beats language in drop reasons") {
    import TestSpark.spark.implicits._
    val en = ("the a of and to in is on for with " * 12).trim // stopword-rich, long
    val docs = Seq(
      (1L, en),                 // keep
      (2L, en + " "),           // exact dup of 1 → duplicate
      (3L, "zxq! #@%"),         // low quality (and non-en — duplicate of nothing)
      (4L, ("lorem ipsum dolor sit amet " * 25).trim)) // long, no stopwords → wrong_lang
      .toDF("doc_id", "text")
    val res = graft.operators.text.Curate.run(docs).collect()
      .map(r => r.getLong(0) ->
        (r.getAs[Int]("keep"), Option(r.getAs[String]("drop_reason")))).toMap
    assert(res(1L) == ((1, None)))
    assert(res(2L) == ((0, Some("duplicate"))))
    assert(res(3L) == ((0, Some("low_quality"))))
    assert(res(4L) == ((0, Some("wrong_lang"))))
  }

  private def piiCounts(df: org.apache.spark.sql.DataFrame) =
    TextOps.PiiScan.run(df).collect().map { r =>
      r.getLong(0) -> (r.getAs[Int]("n_emails"), r.getAs[Int]("n_urls"),
        r.getAs[Int]("n_phones"), r.getAs[Int]("n_ipv4"),
        r.getAs[Int]("n_ipv6"), r.getAs[Int]("n_ids"),
        r.getAs[Int]("has_pii"))
    }.toMap

  test("PiiScan counts emails and urls, flags documents containing either") {
    import TestSpark.spark.implicits._
    val docs = Seq(
      (1L, "contact john.doe@example.com or visit https://example.com/a_b"),
      (2L, "two mails: a@b.org c.d+e@f-g.co and http://plain.io"),
      (3L, "no pii here, just words and an @ sign alone"),
      (4L, "")).toDF("doc_id", "text")
    val res = piiCounts(docs)
    assert(res(1L) == ((1, 1, 0, 0, 0, 0, 1)))
    assert(res(2L) == ((2, 1, 0, 0, 0, 0, 1)))
    assert(res(3L) == ((0, 0, 0, 0, 0, 0, 0)))
    assert(res(4L) == ((0, 0, 0, 0, 0, 0, 0)))
  }

  test("PiiScan counts phones, IPs and id numbers (RefinedWeb/Dolma scrub set)") {
    import TestSpark.spark.implicits._
    val docs = Seq(
      (1L, "call +1 555-123-4567 or (555) 123-4567 or 555.123.4567 today"),
      (2L, "hosts 192.168.0.1 and 10.0.0.255 up"),
      (3L, "node 2001:0db8:85a3:0000:0000:8a2e:0370:7334 online"),
      (4L, "ssn 123-45-6789 on file"),
      // sub-runs of longer digit strings must NOT match: no word
      // boundary inside 91234567890; a timestamp is not an IPv6
      (5L, "order 9123-456-78901 at 12:30:45 cost 3.14 or 1.2.3 done"),
      (6L, ""),
      // prose statistics in a 3/3/4 shape must NOT be a phone (bare
      // space-separated triples only match with a +CC or parens)
      (7L, "shipment counts 100 200 3000 units and 555 123 4567 codes"))
      .toDF("doc_id", "text")
    val res = piiCounts(docs)
    assert(res(1L) == ((0, 0, 3, 0, 0, 0, 1)))
    assert(res(2L) == ((0, 0, 0, 2, 0, 0, 1)))
    assert(res(3L) == ((0, 0, 0, 0, 1, 0, 1)))
    assert(res(4L) == ((0, 0, 0, 0, 0, 1, 1)))
    assert(res(5L) == ((0, 0, 0, 0, 0, 0, 0)))
    assert(res(6L) == ((0, 0, 0, 0, 0, 0, 0)))
    assert(res(7L) == ((0, 0, 0, 0, 0, 0, 0)))
  }

  test("PiiScan leftmost-partition: a span inside a URL counts once, as the URL") {
    import TestSpark.spark.implicits._
    val docs = Seq(
      // nested IPv4: the URL arm claims the whole span (round-13
      // semantics change from the independent per-pattern counts)
      (1L, "fetch https://example.com/10.1.2.3 then ping 10.1.2.4"),
      // the URL charset excludes '@': scheme+userinfo is the URL span,
      // and no email is counted from the consumed remainder
      (2L, "creds https://user@host.example.com/path end"))
      .toDF("doc_id", "text")
    val res = piiCounts(docs)
    assert(res(1L) == ((0, 1, 0, 1, 0, 0, 1)))
    assert(res(2L) == ((0, 1, 0, 0, 0, 0, 1)))
  }

  test("PiiScan catches compressed IPv6 (both engines since round 14)") {
    import TestSpark.spark.implicits._
    val docs = Seq(
      (1L, "loopback ::1 local"),
      (2L, "gateway fe80:: down"),
      (3L, "node 1:2::3:4 mid"),
      (4L, "addr fe80::1 and full 2001:0db8:85a3:0000:0000:8a2e:0370:7334 up"),
      // negatives: a timestamp has no double colon; a lone :: is prose
      (5L, "at 12:30:45 use :: done"))
      .toDF("doc_id", "text")
    val res = piiCounts(docs)
    assert(res(1L) == ((0, 0, 0, 0, 1, 0, 1)))
    assert(res(2L) == ((0, 0, 0, 0, 1, 0, 1)))
    assert(res(3L) == ((0, 0, 0, 0, 1, 0, 1)))
    assert(res(4L) == ((0, 0, 0, 0, 2, 0, 1)))
    assert(res(5L) == ((0, 0, 0, 0, 0, 0, 0)))
    // and redact emits the IPv6 sentinel for a compressed span
    val red = TextOps.PiiScan.redact(docs).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(red(4L) == "addr <IPV6> and full <IPV6> up")
  }

  test("PiiScan.redact replaces every span with a sentinel, URL before email") {
    import TestSpark.spark.implicits._
    val docs = Seq(
      (1L, "mail john.doe@example.com or see https://example.com/a_b ok"),
      // URL with email-shaped userinfo: the URL class excludes '@'
      // (engine-parity constraint), so the scheme+userinfo is redacted
      // and the host remainder stays — which the rescan below proves
      // carries no residual email/URL match
      (2L, "creds at https://user@host.example.com/path end"),
      (3L, "clean text"),
      (4L, "call (555) 123-4567 ssn 123-45-6789 ip 10.0.0.1 " +
        "node 2001:0db8:85a3:0000:0000:8a2e:0370:7334 done")).toDF("doc_id", "text")
    val res = TextOps.PiiScan.redact(docs).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(res(1L) == "mail <EMAIL> or see <URL> ok")
    assert(res(2L) == "creds at <URL>@host.example.com/path end")
    assert(res(3L) == "clean text")
    assert(res(4L) == "call <PHONE> ssn <ID> ip <IPV4> node <IPV6> done")
    // redacted text contains no residual matches in ANY category
    val rescanned = TextOps.PiiScan.run(
      TextOps.PiiScan.redact(docs).withColumnRenamed("redacted", "text"))
      .collect().map(_.getAs[Int]("has_pii")).sum
    assert(rescanned == 0)
  }

  test("one tokenizer contract: tabs/newlines tokenize identically everywhere") {
    import graft.operators.text.{Bpe, Chunker, KeywordSearch}
    val words = Seq("alpha", "beta", "gamma", "delta", "epsilon")
    val messy = "alpha\tbeta  gamma\ndelta epsilon "
    val df = Seq((1L, messy)).toDF("doc_id", "text")
    // TokenCount: 5 tokens, not the 3 a single-space split would see
    assert(TextOps.TokenCount.run(df).collect().head
      .getAs[Int]("ws_tokens") === 5)
    // Chunker walks the same 5 tokens
    val chunks = Chunker.run(df, window = 3, stride = 3).collect()
    assert(chunks.map(_.getAs[Int]("n_tok")).sum === 5)
    assert(chunks.flatMap(_.getAs[String]("chunk_text").split(" ")).toSeq === words)
    // Bpe word counts see the same 5 words, once each
    val wc = Bpe.wordCounts(df).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(wc === words.map(_ -> 1L).toMap)
    // BM25: same tokens ⇒ same dl ⇒ identical scores regardless of the
    // whitespace flavor separating them
    val two = Seq((1L, words.mkString(" ")), (2L, messy)).toDF("doc_id", "text")
    val scores = KeywordSearch.bm25(two, Seq(0 -> "gamma"), k = 10)
      .collect().map(_.getAs[Double]("score"))
    assert(scores.length === 2 && scores.distinct.length === 1)
  }

  test("empty and whitespace-only documents: tokenizer convention per operator") {
    import graft.operators.text.{Bpe, Chunker}
    val df = Seq((1L, ""), (2L, " \t\n"), (3L, "real words here")).toDF("doc_id", "text")
    // split('') is [''] — TokenCount reports 1 by the shared convention
    val ws = TextOps.TokenCount.run(df).collect()
      .map(r => r.getLong(0) -> r.getAs[Int]("ws_tokens")).toMap
    assert(ws === Map(1L -> 1, 2L -> 1, 3L -> 3))
    // Chunker filters empty docs: no empty chunk is ever emitted
    val chunks = Chunker.run(df, window = 8, stride = 4).collect()
    assert(chunks.map(_.getLong(0)).toSeq === Seq(3L))
    // Bpe filters the empty token: vocabulary is only real words
    assert(Bpe.wordCounts(df).collect().map(_.getString(0)).toSet ===
      Set("real", "words", "here"))
  }

  test(".mapPartitions under operators/text only in Bpe and KeywordSearch") {
    // row-local text kernels are named UDFs (TextOps.kernelFields);
    // Bpe keeps a per-partition memo over a broadcast and KeywordSearch
    // collects partition statistics, so only they stay typed
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val root = Paths.get("src/main/scala/graft/operators/text")
    assert(Files.isDirectory(root), "scan must run from the repository root")
    val sites = Files.list(root).iterator().asScala.toSeq
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        Files.readAllLines(p).asScala.collect {
          case l if l.split("//")(0).contains(".mapPartitions") &&
              !Seq("*", "/*").exists(l.trim.startsWith) => p.getFileName.toString
        }
      }
    assert(sites.sorted == Seq("Bpe.scala", "KeywordSearch.scala", "KeywordSearch.scala"), sites)
  }
}
