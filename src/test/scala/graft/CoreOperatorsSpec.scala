package graft

import graft.functions.Hll
import graft.operators._
import graft.sources.{ParquetCombine, Parquetizer, SchemaIntrospect, Tables}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

class CoreOperatorsSpec extends AnyFunSuite {
  import TestSpark._

  test("nullcheck: distinct/null/status per column") {
    val df = NullCheck.profile("customer", Tables(spark, sf0001, "customer"))
    val rows = df.collect().map(r =>
      r.getString(1) -> (r.getLong(2), r.getLong(3), r.getString(5))).toMap
    assert(rows.size == 5)
    val (dCust, nCust, sCust) = rows("c_custkey")
    assert(dCust > 5 && nCust == 0 && sCust == "OK")
    val (dSeg, _, sSeg) = rows("c_mktsegment")
    assert(dSeg == 5 && sSeg == "LOW_DISTINCT")
  }

  test("nullcheck: all-null and low-distinct classification") {
    import spark.implicits._
    val df = Seq((1, Option.empty[String], "a"), (2, None, "a"), (3, None, "b"))
      .toDF("id", "allnull", "low")
    val res = NullCheck.profile("t", df).collect()
      .map(r => r.getString(1) -> r.getString(5)).toMap
    assert(res("allnull") == "NULL")
    assert(res("low") == "LOW_DISTINCT")
    assert(res("id") == "LOW_DISTINCT") // 3 distinct <= 5
  }

  test("nullcheck: approx mode agrees on status classes, counts within rsd bounds") {
    val exact = NullCheck.profile("events", Tables(spark, sf0001, "events"))
      .collect().map(r => r.getString(1) -> (r.getLong(2), r.getString(5))).toMap
    val rsd = 0.02
    val approx = NullCheck.approxProfile("events", Tables(spark, sf0001, "events"), rsd)
      .collect().map(r => r.getString(1) -> (r.getLong(2), r.getString(5))).toMap
    // NULL detection is exact in both; OK/LOW_DISTINCT may only flip when a
    // true count sits at the threshold — not the case for these columns.
    assert(exact.keys == approx.keys)
    assert(exact.filter(_._2._2 == "NULL") == approx.filter(_._2._2 == "NULL"))
    // HLL relative error: |approx - exact| / exact within ~5σ of the
    // configured rsd (deterministic for a fixed input — no flake)
    exact.foreach { case (c, (d, _)) =>
      if (d > 0) {
        val a = approx(c)._1.toDouble
        assert(math.abs(a - d) / d <= 5 * rsd,
          s"$c: approx $a vs exact $d outside ${5 * rsd}")
      }
    }
  }

  test("keyfinder: id-column prioritization") {
    assert(KeyFinder.isIdColumn("id"))
    assert(KeyFinder.isIdColumn("user_id"))
    assert(KeyFinder.isIdColumn("id_user"))
    assert(KeyFinder.isIdColumn("fk_id_x"))
    assert(!KeyFinder.isIdColumn("identity"))
    assert(KeyFinder.prioritizeIdColumns(Seq("a", "x_id", "b")) == Seq("x_id", "a", "b"))
  }

  test("keyfinder: candidate selection filters and combination guard") {
    val cols = Seq("id", "a", "b", "c", "created_at")
    assert(KeyFinder.selectCandidates(cols, exclude = Seq("id", "created_at")) ==
      Seq("a", "b", "c"))
    assert(KeyFinder.selectCandidates(cols, includeOnly = Seq("a", "c")) == Seq("a", "c"))
    assert(KeyFinder.selectCandidates(cols, maxColumns = 2) == Seq("id", "a"))
    // C(20,1..4) = 20 + 190 + 1140 + 4845 = 6195
    assert(KeyFinder.totalCombinations(20, 4) == 6195L)
    // 20 columns, all sizes = 2^20 - 1 combos → refused without force
    intercept[IllegalArgumentException](KeyFinder.requireSearchable(20, 20))
    KeyFinder.requireSearchable(20, 20, force = true)
    KeyFinder.requireSearchable(20, 4)
  }

  test("keyfinder: single-column key found in orders") {
    val report = KeyFinder.candidateReport(
      spark, Tables(spark, sf0001, "orders"),
      Seq("o_orderkey", "o_custkey", "o_orderstatus"), size = 1)
    val byCol = report.collect().map(r => r.getString(0) -> r.getBoolean(5)).toMap
    assert(byCol("o_orderkey"))
    assert(!byCol("o_orderstatus"))
  }

  test("keyfinder: minimal keys stop at smallest size; nulls disqualify") {
    import spark.implicits._
    val df = Seq(
      (1, "a", Option(10)), (2, "a", Option(20)), (3, "b", None)
    ).toDF("k", "g", "v")
    // k alone is a key (size 1); (k,g) would be too but must not appear.
    val keys = KeyFinder.findMinimalKeys(spark, df, Seq("k", "g", "v"), 3)
      .collect().map(r => (r.getString(0), r.getInt(1)))
    assert(keys.toSeq == Seq(("k", 1)))
    // v is unique among non-nulls but has a NULL → not a key.
    val r1 = KeyFinder.candidateReport(spark, df, Seq("v"), 1).collect().head
    assert(!r1.getBoolean(5))
  }

  test("keyfinder: composite key when no single column suffices") {
    import spark.implicits._
    val df = Seq((1, 1), (1, 2), (2, 1), (2, 2)).toDF("a", "b")
    val keys = KeyFinder.findMinimalKeys(spark, df, Seq("a", "b"), 2)
      .collect().map(r => (r.getString(0), r.getInt(1)))
    assert(keys.toSeq == Seq(("a,b", 2)))
  }

  test("keyfinder: an empty frame makes every single candidate a key") {
    import spark.implicits._
    // no rows: no NULLs, and 0 distinct == 0 rows for every column
    // (the key rule of keyfinder.py:30-76), so the search stops at size 1
    val keys = KeyFinder.findMinimalKeys(spark, Seq((1, 2)).toDF("a", "b").limit(0), Seq("a", "b"), 2)
      .collect().map(r => (r.getString(0), r.getInt(1)))
    assert(keys.toSeq == Seq(("a", 1), ("b", 1)))
  }

  test("keyfinder: near-key with a single duplicate is rejected (hash-witness fallback)") {
    import spark.implicits._
    // 100 rows, exactly one duplicated (a, s) pair: the hash-witness
    // deficit is 1 — inside HashDeficitBand — so the exact
    // tuple-distinct fallback must fire and reject the combo; (a, b)
    // stays unique and must be certified by the hash path alone.
    // String column included so xxhash64 runs over mixed types. (s, b)
    // is also a key — the duplicated s rides distinct b values.
    val rows = (1 to 99).map(i => (i, s"s$i", i % 7)) :+ (1, "s1", 6)
    val df = rows.toDF("a", "s", "b")
    val keys = KeyFinder.findMinimalKeys(spark, df, Seq("a", "s", "b"), 2)
      .collect().map(r => (r.getString(0), r.getInt(1)))
    assert(keys.toSeq == Seq(("a,b", 2), ("s,b", 2)))
  }

  test("keyfinder: HLL prefilter changes no answers, and prunes only duplicate-heavy combos") {
    import spark.implicits._
    // a true key (a), a NEAR-key with one duplicate (s — estimate ≈
    // total, must survive the prefilter and be rejected by the exact
    // job), and a duplicate-heavy column (b, 7 distinct over 200 rows —
    // pruned by the prefilter without an exact job)
    val rows = (1 to 199).map(i => (i, s"s${i % 198}", i % 7)) :+ (200, "sx", 6)
    val df = rows.toDF("a", "s", "b")
    val withPre = KeyFinder.findMinimalKeys(spark, df, Seq("a", "s", "b"), 2)
      .collect().map(r => (r.getString(0), r.getInt(1))).toSeq
    assert(withPre == Seq(("a", 1)))
    // exercise the prefilter's pruning decision directly: b's combo
    // estimate sits far under the threshold, s's within it
    val proj = df.select("a", "s", "b")
    val est = proj.agg(
      Hll.approxDistinct(KeyFinder.PrefilterRsd, col("b")).as("b"),
      Hll.approxDistinct(KeyFinder.PrefilterRsd, col("s")).as("s"))
      .collect()(0)
    val cut = (200 * KeyFinder.PrefilterThreshold).toLong
    assert(est.getLong(0) < cut, "duplicate-heavy column must be prunable")
    assert(est.getLong(1) >= cut, "near-key must survive the prefilter")
  }

  test("schema introspect: nested flattening with __ paths") {
    import spark.implicits._
    val df = Seq((1, ("x", 2.0), Seq(("y", 3)), Map("k" -> 1L), Seq(1, 2)))
      .toDF("id", "st", "lst", "mp", "arr")
    val flat = SchemaIntrospect.flatten(df.schema).toMap
    assert(flat("id") == "int")
    assert(flat.contains("st___1") && flat.contains("st___2")) // tuple field names _1/_2
    assert(flat.contains("lst___1")) // list<struct> recursed
    assert(flat("mp").startsWith("map<"))
    assert(flat("arr").startsWith("array<"))
  }

  test("type compat: groups, parens, timestamp prefix") {
    assert(TypeCompat.areCompatible("VARCHAR(20)", "string"))
    assert(TypeCompat.areCompatible("bigint", "INT"))
    assert(TypeCompat.areCompatible("TIMESTAMP_NTZ", "timestamp_ltz(3)"))
    assert(TypeCompat.areCompatible("double", "FLOAT"))
    assert(!TypeCompat.areCompatible("double", "varchar"))
    assert(!TypeCompat.areCompatible("int", "boolean"))
    // custom mappings override the defaults entirely
    val custom = Map("X" -> Seq("A", "B"))
    assert(TypeCompat.areCompatible("a", "b", custom))
    assert(!TypeCompat.areCompatible("bigint", "int", custom))
  }

  test("colcompare: every diff status") {
    val src = Tables(spark, sf0001, "customer")
    val tgt = src.withColumn("c_acctbal", col("c_acctbal").cast("string"))
      .drop("c_mktsegment").withColumn("c_extra", org.apache.spark.sql.functions.lit(1))
    val rows = ColCompare.compareColumns(spark, src, tgt).collect()
      .map(r => r.getString(0) -> r.getString(3)).toMap
    assert(rows("c_custkey") == "MATCH")
    assert(rows("c_acctbal") == "TYPE_MISMATCH")
    assert(rows("c_mktsegment") == "SOURCE_ONLY")
    assert(rows("c_extra") == "TARGET_ONLY")
  }

  test("colcompare: excluded columns and table lists") {
    val src = Tables(spark, sf0001, "customer")
    val rows = ColCompare.compareColumns(spark, src, src, excludedCols = Set("C_NAME"))
      .collect().map(_.getString(0))
    assert(!rows.contains("c_name") && rows.length == 4)
    val tl = ColCompare.compareTableLists(spark, Seq("a", "b"), Seq("b", "c"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(tl == Map("B" -> "COMMON", "A" -> "SOURCE_ONLY", "C" -> "TARGET_ONLY"))
  }

  test("parquet combine: skips mismatched schemas, concatenates matches") {
    val region = Tables.path(sf0001, "region")
    val nation = Tables.path(sf0001, "nation")
    val c = ParquetCombine.combine(spark, Seq(region, nation, region))
    assert(c.kept == Seq(region, region))
    assert(c.skipped == Seq(nation))
    assert(c.df.count() == 2 * spark.read.parquet(region).count())
  }

  test("combine: unreadable and missing inputs are skipped; schema reads start no job") {
    val region = Tables.path(sf0001, "region")
    val tmp = java.nio.file.Files.createTempDirectory("combine")
    val junk = java.nio.file.Files.write(tmp.resolve("junk.parquet"), "not parquet".getBytes).toString
    val missing = tmp.resolve("missing.parquet").toString
    var c: ParquetCombine.Combined = null
    assert(jobGroupsOf { c = ParquetCombine.combine(spark, Seq(junk, region, missing, region)) }.isEmpty)
    assert(c.kept == Seq(region, region))
    assert(c.skipped == Seq(junk, missing))
  }

  test("keyfinder: parallel combo jobs carry the caller's job group") {
    import spark.implicits._
    // 64 rows, 8 values per column: no single column is a key and the
    // sketch prefilter prunes every size-1 combination, while five of the
    // six pairs are keys, so size 2 runs one hash-witness job per pair
    // on the `.par` workers
    val df = (0 until 64).map(n => (n / 8, n % 8, (n / 8 + n) % 8, (n / 8 + 2 * n) % 8))
      .toDF("x", "y", "z", "w")
    val sc = spark.sparkContext
    def underGroup(g: String) = jobGroupsOf {
      sc.setJobGroup(g, g)
      try KeyFinder.findMinimalKeys(spark, df, df.columns.toSeq, 2).collect()
      finally sc.clearJobGroup()
    }
    underGroup("a")
    val groups = underGroup("b")
    assert(groups.size >= 6, groups)
    assert(groups.forall(_ == "b"), groups)
  }

  test("parquetizer: magic-byte sniff and rename") {
    val tmp = java.nio.file.Files.createTempDirectory("pqz").toFile
    val pq = new java.io.File(tmp, "datafile")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(sf0001, "region.parquet"), pq.toPath)
    val txt = new java.io.File(tmp, "notes")
    java.nio.file.Files.write(txt.toPath, "hello world".getBytes)
    val (renamed, skipped) = Parquetizer.renameExtensionless(spark, tmp.getAbsolutePath)
    assert(renamed.exists(_.endsWith("datafile.parquet")))
    assert(skipped.exists(_.endsWith("notes")))
    assert(spark.read.parquet(tmp.getAbsolutePath + "/datafile.parquet").count() > 0)
  }

  test("dynamic query: substitution and fan-out union") {
    assert(DynamicQuery.substitute("a {x} b {y} {x}", Map("x" -> "1", "y" -> "2")) == "a 1 b 2 1")
    Tables.registerViews(spark, sf0001, Seq("region", "nation"))
    val df = DynamicQuery.run(spark,
      "SELECT '{r}' AS r, count(*) AS n FROM nation JOIN region ON n_regionkey = r_regionkey WHERE r_name = '{r}'",
      Seq(Map("r" -> "ASIA"), Map("r" -> "EUROPE")))
    val rows = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows.keySet == Set("ASIA", "EUROPE"))
    assert(rows.values.forall(_ > 0))
  }

  test("table pattern exclusion with % wildcards") {
    val tables = Seq("ORDERS", "orders_tmp", "TMP_X", "customer_final")
    assert(Tables.filterExcluded(tables, Seq("TMP_%")) ==
      Seq("ORDERS", "orders_tmp", "customer_final"))
    assert(Tables.filterExcluded(tables, Seq("%_final", "%TMP%")) == Seq("ORDERS"))
  }

  test("metadata rowcount agrees with the scan-based counts") {
    val meta = RowCount.metaCounts(spark, TestSpark.sf0001)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val full = Tables.all.map(t => t -> Tables(spark, TestSpark.sf0001, t).count()).toMap
    assert(meta == full)
    assert(meta.size == Tables.all.size)
  }

  test("metadata rowcount recurses into partitioned table layouts") {
    val base = java.nio.file.Files.createTempDirectory("graft_meta").toString
    try {
      val docs = Tables(spark, TestSpark.sf0001, "documents")
      graft.sources.PartitionedWrite.write(
        docs, s"$base/docs_part.parquet", partitionCol = "lang")
      val meta = RowCount.metaCounts(spark, base, Seq("docs_part"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(meta == Map("docs_part" -> docs.count()))
      // missing table errors loudly instead of silently dropping the row
      intercept[IllegalArgumentException](
        RowCount.metaCounts(spark, base, Seq("no_such_table")))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
    }
  }

  test("balanced shard write: file count tracks measured bytes-per-row, shards near-uniform") {
    val li = graft.sources.Tables(spark, TestSpark.sf0001, "lineitem")
    val dir = java.nio.file.Files.createTempDirectory("graft_balanced").toString
    try {
      // small target → several shards, sized within 3x of each other
      graft.sources.PartitionedWrite.writeBalanced(
        li, s"$dir/multi", "l_orderkey", targetBytes = 32 * 1024)
      val files = new java.io.File(s"$dir/multi").listFiles()
        .filter(_.getName.endsWith(".parquet"))
      assert(files.length > 2, s"expected several shards, got ${files.length}")
      val sizes = files.map(_.length()).sorted
      assert(sizes.last < sizes.head * 3,
        s"shards unbalanced: ${sizes.mkString(",")}")
      assert(spark.read.parquet(s"$dir/multi").count() == li.count())
      // huge target → one shard
      graft.sources.PartitionedWrite.writeBalanced(
        li, s"$dir/one", "l_orderkey", targetBytes = 1L << 40)
      val one = new java.io.File(s"$dir/one").listFiles()
        .count(_.getName.endsWith(".parquet"))
      assert(one == 1)
      // no sizing scratch dir left behind
      assert(!new java.io.File(dir).listFiles().exists(_.getName.contains("_sizing")))
      // degenerate sampleCol (3 distinct values, hash selection almost
      // surely empty at this mod): the limit fallback must still size
      // and write everything
      graft.sources.PartitionedWrite.writeBalanced(
        li, s"$dir/degenerate", "l_returnflag",
        targetBytes = 64 * 1024, sampleRows = 10)
      assert(spark.read.parquet(s"$dir/degenerate").count() == li.count())
      // sampleRows past Int.MaxValue/10 would overflow the Int limit
      // arithmetic — rejected up front, not a negative-limit job failure
      intercept[IllegalArgumentException] {
        graft.sources.PartitionedWrite.writeBalanced(
          li, s"$dir/overflow", "l_orderkey", sampleRows = Int.MaxValue.toLong)
      }
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("catalog compare: counts common tables, notes one-sided without counting") {
    import spark.implicits._
    val a3 = Seq(1, 2, 3).toDF("x")
    val a5 = Seq(1, 2, 3, 4, 5).toDF("x")
    val res = RowCount.compareCatalogs(spark,
        source = Map("shared" -> a3, "src_only" -> a5),
        target = Map("shared" -> a5, "tgt_only" -> a3))
      .collect().map(r => r.getString(0) ->
        (Option(r.get(1)), Option(r.get(2)), Option(r.get(3)), r.getString(4))).toMap
    assert(res("shared") == ((Some(3L), Some(5L), Some(2L), "BOTH")))
    assert(res("src_only") == ((None, None, None, "ONLY_IN_SOURCE")))
    assert(res("tgt_only") == ((None, None, None, "ONLY_IN_TARGET")))
  }
}
