package graft

import org.json4s._
import org.json4s.jackson.JsonMethods
import org.scalatest.funsuite.AnyFunSuite

import graft.tools.BenchJson

/** Pins the round-18 bench-line contract (verdict-r17 #1): the driver
  * that consumes [[graft.Bench]]'s output JSON-parses the last ~2000
  * characters of the run log, so the one-line JSON must (a) be valid
  * JSON with the contract fields and (b) fit [[BenchJson.MaxLen]] even
  * with every declared query benched at once. Rounds 1–17 failed (a)
  * via sbt's "[info] " prefix and (b) via full-precision doubles —
  * every BENCH_r*.json carries parsed:null.
  */
class BenchJsonSpec extends AnyFunSuite {

  private val benchedNames: Seq[String] =
    SparkEntry.queries.keySet.toSeq.sorted
      .filterNot(Set("dedup_ngram_jaccard", "dedup_clusters"))

  /** Deterministic pseudo-realistic sf0.1 seconds: most sub-second,
    * a handful of multi-second rows, worst-case for line length.
    */
  private def fakeResults(names: Seq[String]): Map[String, (Double, Option[String])] =
    names.zipWithIndex.map { case (n, i) =>
      val v = 0.069 + (i % 17) * 0.31 + (if (i % 13 == 0) 3.7 else 0.0)
      n -> ((v, Option.empty[String]))
    }.toMap

  private val skip = Map(
    "dedup_ngram_jaccard" -> "quadratic oracle path; scalable twin dedup_minhash benched",
    "dedup_clusters" -> "components over the quadratic oracle pairs; scalable twin dedup_clusters_minhash benched")

  test("full-suite line fits the driver window and parses as JSON") {
    val (line, dropped) = BenchJson.render(
      fakeResults(benchedNames), Map.empty, skip,
      "/root/testdata/sf0.1", BenchJson.Harness)
    assert(line.length <= BenchJson.MaxLen,
      s"line is ${line.length} chars > ${BenchJson.MaxLen}")
    val parsed = JsonMethods.parse(line)
    assert((parsed \ "metric") === JString("total"))
    assert((parsed \ "unit") === JString("sec"))
    assert((parsed \ "sf") === JString("/root/testdata/sf0.1"))
    assert((parsed \ "failed") === JInt(0),
      "the dynamic failure count must survive the full-suite budget")
    // the harness id must survive the full-suite budget; skipped is
    // static, so if the budget dropped it the renderer must say so
    // (Bench echoes dropped fields to stderr)
    assert((parsed \ "h") === JString(BenchJson.Harness),
      s"the harness id must survive the full-suite budget (${line.length} chars)")
    if ((parsed \ "skipped") == JNothing) assert(dropped.contains("skipped"))
    val qs = (parsed \ "queries").asInstanceOf[JObject].obj.toMap
    assert(qs.keySet === benchedNames.toSet,
      "every benched query must appear in the line")
    // quantization stays within 5% relative or 5 ms absolute of truth
    val truth = fakeResults(benchedNames)
    qs.foreach { case (k, JDouble(v)) =>
      val t = truth(k)._1
      assert(math.abs(v - t) <= math.max(0.05 * t, 0.005),
        s"$k rendered $v vs true $t")
    case (k, JInt(v)) =>
      val t = truth(k)._1
      assert(math.abs(v.toDouble - t) <= math.max(0.05 * t, 0.005),
        s"$k rendered $v vs true $t")
    case (k, other) => fail(s"$k rendered non-numeric $other")
    }
  }

  test("few-query run keeps full millisecond precision and all fields") {
    val res = Map(
      "q1_pricing" -> ((0.322828203, Option.empty[String])),
      "ann_recall" -> ((1.620556674, Option.empty[String])))
    val (line, dropped) = BenchJson.render(
      res, Map("q1_pricing" -> ((31.0, 0.4))), skip,
      "/root/testdata/sf0.1", BenchJson.Harness)
    assert(dropped.isEmpty)
    val parsed = JsonMethods.parse(line)
    assert((parsed \ "queries" \ "q1_pricing") === JDouble(0.323))
    assert((parsed \ "queries" \ "ann_recall") === JDouble(1.621))
    assert((parsed \ "failed") === JInt(0))
    assert((parsed \ "skipped" \ "dedup_clusters") !== JNothing)
    assert((parsed \ "pass_asymmetric" \ "q1_pricing") !== JNothing)
  }

  test("failure count always survives; error detail drops only with notice") {
    val res = fakeResults(benchedNames).map {
      case (k, (v, _)) if k == "q1_pricing" =>
        k -> ((v, Some("SparkException: boom"): Option[String]))
      case other => other
    }
    val (line, dropped) = BenchJson.render(
      res, Map.empty, skip, "/root/testdata/sf0.1", "h")
    assert(line.length <= BenchJson.MaxLen)
    val parsed = JsonMethods.parse(line)
    assert((parsed \ "failed") === JInt(1))
    // at 88 queries the names floor leaves no room for the error map on
    // the line; it must then be declared dropped (Bench → stderr, and
    // the run exits rc=1 so the driver cannot miss the failure)
    assert((parsed \ "errors" \ "q1_pricing") === JString("SparkException: boom")
      || dropped.contains("errors"))

    // with half the suite there IS room: error detail must be on the line
    val smaller = res.toSeq.sortBy(_._1).take(43).toMap + ("q1_pricing" -> res("q1_pricing"))
    val (line2, _) = BenchJson.render(
      smaller, Map.empty, skip, "/root/testdata/sf0.1", "h")
    assert(line2.length <= BenchJson.MaxLen)
    assert((JsonMethods.parse(line2) \ "errors" \ "q1_pricing")
      === JString("SparkException: boom"))
  }

  test("cold-run distribution (a third of the suite above 1 s) still fits") {
    // the distribution that overflowed tier 3 in the first round-18 run:
    // 58 sub-second values at 4 chars + 30 multi-second at 3-4 chars
    val res = benchedNames.zipWithIndex.map { case (n, i) =>
      val v = if (i % 3 == 0) 1.3 + (i % 9) * 0.97 else 0.41 + (i % 7) * 0.083
      n -> ((v, Option.empty[String]))
    }.toMap
    val (line, _) = BenchJson.render(
      res, Map.empty, skip, "/root/testdata/sf0.1", BenchJson.Harness)
    assert(line.length <= BenchJson.MaxLen,
      s"line is ${line.length} chars > ${BenchJson.MaxLen}")
    val qs = (JsonMethods.parse(line) \ "queries").asInstanceOf[JObject].obj.toMap
    assert(qs.keySet === benchedNames.toSet)
    // even the guaranteed-fit tier stays within 10% relative or 50 ms
    qs.foreach { case (k, jv) =>
      val v = jv match { case JDouble(d) => d; case JInt(i) => i.toDouble; case o => fail(s"$k: $o") }
      val t = res(k)._1
      assert(math.abs(v - t) <= math.max(0.10 * t, 0.05), s"$k rendered $v vs true $t")
    }
  }

  test("sf100-survival distribution (multi-hundred-second queries) still fits") {
    val res = benchedNames.zipWithIndex.map { case (n, i) =>
      n -> ((7.0 + (i % 23) * 21.7, Option.empty[String]))
    }.toMap
    val (line, _) = BenchJson.render(
      res, Map.empty, skip, "/tmp/graft_sf100", BenchJson.Harness)
    assert(line.length <= BenchJson.MaxLen, s"line is ${line.length} chars")
  }

  test("value formatting: trailing zeros stripped, nonzero never rounds to 0") {
    assert(BenchJson.fmtSec(1.20, 0) === "1.2")
    assert(BenchJson.fmtSec(2.0004, 3) === "2")
    assert(BenchJson.fmtSec(0.004, 3) === "0.01")
    assert(BenchJson.fmtSec(0.069, 3) === "0.07")
    assert(BenchJson.fmtSec(12.34, 3) === "12")
    assert(BenchJson.fmtSec(0.0, 0) === "0")
  }
}
