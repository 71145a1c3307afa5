package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.tools.Probe

/** Contract lock on the measured session defaults — every value here
  * was adopted (or lowered) by an isolated A/B or a survival run, so
  * a change must come with a new measurement, not a drive-by edit.
  * Asserted on the LIVE shared session, proving `tune` actually
  * plumbs the map through, not just that the map holds the values.
  */
class GraftSessionSpec extends AnyFunSuite {
  private lazy val conf = TestSpark.spark.conf

  test("SMJ->SHJ conversion threshold is the skew-survival-safe 64 MB") {
    // 128 MB OOM'd the skewed-sf100 suite inside a no-spill SHJ
    // build (ROUND10_NOTES §7c): the gate is COMPRESSED max-partition
    // bytes, the in-heap map is ~7x that, and AQE's skew split can
    // never divide a build-side partition. Raising this needs the
    // sizing rule re-checked: threshold x tasks/executor x ~7 <= heap.
    assert(conf.get("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold")
      .replaceAll("b$", "") == (64L * 1024 * 1024).toString)
  }

  test("AQE skew-split bars are the measured 32 MB / 2x") {
    // Upstream 256 MB/5x never fires on a ~72 MB hot partition over a
    // ~2 MB median (zipf-sf100 q3, a 6x one-task wall). Gated on
    // runtime stats, so uniform loads are untouched (ROUND10_NOTES §7b).
    assert(conf.get("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes")
      .replaceAll("b$", "") == (32L * 1024 * 1024).toString)
    assert(conf.get("spark.sql.adaptive.skewJoin.skewedPartitionFactor")
      .toDouble == 2.0)
  }

  test("nanos-as-long parquet flag is set at session build, not by loaders") {
    // Round-9 verdict nit: a table loader mutating session conf was a
    // surprising side effect; the flag lives in `recommended` now and
    // Tables' schema probe rebuilds proper micros from the raw longs.
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
  }

  test("the codegen class cache keeps a pass's classes: a second round compiles none") {
    // Spark's default of 100 entries is below every perfbench
    // workload's per-pass working set (110-190 classes), so its LRU
    // evicted each class before the next pass used it again. The cache
    // is built once per JVM from the session conf, so the check is
    // behavioural: ~150 distinct generated classes (one per literal),
    // then the same queries again, which must all hit the cache. Test
    // suites run one after another in one JVM, so the global compile
    // counter's delta belongs to this test.
    assert(conf.get("spark.sql.codegen.cache.maxEntries") == "5000")
    val spark = TestSpark.spark
    def round(): Long = {
      val (before, _) = Probe.compiled()
      // toRdd plans the query and compiles its whole-stage class on the
      // driver, without running a job
      (1 to 150).foreach(i => spark.range(4).selectExpr(s"id * $i + $i").queryExecution.toRdd)
      Probe.compiled()._1 - before
    }
    val first = round()
    assert(first >= 150, s"expected >= 150 distinct classes in the first round, compiled $first")
    assert(round() == 0)
  }
}
