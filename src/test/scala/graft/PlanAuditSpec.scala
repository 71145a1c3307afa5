package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan audit: the scale properties SURVEY §4 claims must be
  * visible in the executed plan, not just intended — filter/column
  * pushdown into the parquet scan, broadcast joins for dims, and the
  * rank<=k → WindowGroupLimit partial top-k. If a refactor silently
  * loses one of these, this spec fails before the benchmark does.
  */
class PlanAuditSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def plan(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  private def q(name: String): DataFrame =
    SparkEntry.queries(name)(spark, TestSpark.sf0001)

  test("q1_pricing: shipdate filter and column pruning reach the parquet scan") {
    val p = plan(q("q1_pricing"))
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"missing pushed filter in:\n$p")
    // pruned read: the 16-column lineitem scan must only read the 7
    // columns the query touches
    val readSchema = p.linesIterator.find(_.trim.startsWith("ReadSchema")).get
    assert(!readSchema.contains("l_comment") && !readSchema.contains("l_shipmode"),
      s"scan not pruned: $readSchema")
  }

  test("q5_starjoin: dimension tables join via broadcast, not shuffle") {
    val p = plan(q("q5_starjoin"))
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join in:\n$p")
    // region (5 rows) must never be the probe side of a shuffle join
    assert(!p.contains("SortMergeJoin") || p.indexOf("BroadcastHashJoin") >= 0)
  }

  test("q17_smallqty: one fact pass — brand broadcast, single hash exchange, no nested loop") {
    val p = plan(q("q17_smallqty"))
    assert(p.contains("BroadcastHashJoin"), s"brand filter not broadcast in:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"nested-loop join in:\n$p")
    // the correlated-avg rewrite must ride ONE shuffle on l_partkey (the
    // window), not a groupBy + join-back second scan: one parquet scan
    // of lineitem only
    val liScans = p.linesIterator.count(l =>
      l.trim.startsWith("Location:") && l.contains("lineitem"))
    assert(liScans == 1, s"expected 1 lineitem scan, got $liScans in:\n$p")
  }

  test("q18_large_orders: HAVING subquery rides the single fact scan, dims broadcast") {
    val p = plan(q("q18_large_orders"))
    assert(p.contains("BroadcastHashJoin"), s"customer dim not broadcast in:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"nested-loop join in:\n$p")
    // the IN-subquery rewrite must NOT rescan lineitem the way the
    // natural SQL does: the HAVING set and the join totals come from
    // ONE aggregate over ONE scan
    val liScans = p.linesIterator.count(l =>
      l.trim.startsWith("Location:") && l.contains("lineitem"))
    assert(liScans == 1, s"expected 1 lineitem scan, got $liScans in:\n$p")
  }

  test("q21_semi_anti: both existence tests ride ONE fact scan + one semi join") {
    val p = plan(q("q21_semi_anti"))
    assert(p.contains("LeftSemi"), s"no semi join in:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"nested-loop join in:\n$p")
    // the EXISTS + NOT EXISTS pair must collapse into one per-orderkey
    // flag aggregate over a single lineitem scan — not two filtered
    // rescans feeding separate semi/anti probes
    val liScans = p.linesIterator.count(l =>
      l.trim.startsWith("Location:") && l.contains("lineitem"))
    assert(liScans == 1, s"expected 1 lineitem scan, got $liScans in:\n$p")
  }

  test("ann_cosine_topk: rank<=k compiles to a WindowGroupLimit partial top-k") {
    val p = plan(q("ann_cosine_topk"))
    assert(p.contains("WindowGroupLimit"), s"no WindowGroupLimit in:\n$p")
  }

  test("q_window: rank filter also gets the group-limit pushdown") {
    val p = plan(q("q_window"))
    assert(p.contains("WindowGroupLimit"), s"no WindowGroupLimit in:\n$p")
  }

  test("domain capping: the capped (filtering) path prunes pre-shuffle") {
    val docs = graft.sources.Tables(spark, TestSpark.sf0001, "documents")
    val p = plan(graft.operators.text.TextOps.DomainCap.capped(docs, cap = 5))
    assert(p.contains("WindowGroupLimit"), s"no WindowGroupLimit in:\n$p")
  }

  test("pack_sequences: exactly one exchange (the group repartition), no extra sort shuffle") {
    val p = plan(q("pack_sequences"))
    // orderBy at the end adds a range exchange for presentation; the
    // PACKING itself must contribute exactly one hash exchange
    // (formatted mode lists the node and its Arguments separately)
    val hashExchanges = p.linesIterator.count(l =>
      l.trim.startsWith("Arguments: hashpartitioning"))
    assert(hashExchanges == 1, s"expected 1 hash exchange, got $hashExchanges in:\n$p")
  }

  test("text_decontaminate: map-side only — no exchange before the scan kernel") {
    val docs = graft.sources.Tables(spark, TestSpark.sf0001, "documents")
    val p = plan(graft.operators.text.Decontaminate.flag(docs,
      Seq("sufficiently long probe string")))
    // the only exchange allowed is the final presentation orderBy
    assert(!p.contains("hashpartitioning"),
      s"decontamination must not shuffle:\n$p")
  }

  test("sample_mixture: prefix sums ride source/bucket windows, never one window per source over raw docs") {
    val p = plan(q("sample_mixture"))
    // the in-bucket window must PARTITION by both source and bucket —
    // a source-only window over the raw docs is the single-reducer
    // antipattern the two-phase sum exists to avoid. Check the
    // partition-spec prefix specifically: the tiny offsets window
    // (partition source, ORDER BY bucket) would satisfy a bare
    // substring check and make this audit vacuous.
    val windowLines = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(windowLines.nonEmpty)
    val partitionedByBoth = "windowspecdefinition\\(source#\\d+, bucket#\\d+,".r
    assert(windowLines.exists(l => partitionedByBoth.findFirstIn(l).isDefined),
      s"no window PARTITIONED BY (source, bucket) in:\n${windowLines.mkString("\n")}")
    // and no window may order raw doc rows under a source-only partition
    val sourceOnlyOverDocs = "windowspecdefinition\\(source#\\d+, pos#\\d+".r
    assert(!windowLines.exists(l => sourceOnlyOverDocs.findFirstIn(l).isDefined),
      s"single-reducer source-only window over docs in:\n${windowLines.mkString("\n")}")
  }

  test("nullcheck: single scan, no per-column jobs") {
    val p = plan(q("nullcheck_customer"))
    // one parquet scan feeding one aggregate — the reference's
    // one-query-per-table model collapsed into a single pass
    // (formatted explain lists each node once in the tree and once in
    // the detail section, so count the detail headers only)
    val scans = p.linesIterator.count(_.matches("""\(\d+\) Scan parquet\s*"""))
    assert(scans == 1, s"expected 1 scan, got $scans:\n$p")
  }

  test("partitioned layout: partition filter prunes directories in the scan") {
    val dir = java.nio.file.Files.createTempDirectory("graft_part").toString
    try {
      graft.sources.PartitionedWrite.write(
        graft.sources.Tables(spark, TestSpark.sf0001, "documents"),
        dir, partitionCol = "lang", sortCols = Seq("doc_id"))
      val filtered = spark.read.parquet(dir)
        .where(org.apache.spark.sql.functions.col("lang") === "en")
        .select("doc_id", "n_chars")
      val p = plan(filtered)
      val pf = p.linesIterator.find(_.trim.startsWith("PartitionFilters")).getOrElse("")
      assert(pf.contains("lang") && pf.contains("= en"),
        s"no partition pruning ('$pf') in:\n$p")
      assert(filtered.count() > 0)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("bucketed tables join without a shuffle (co-located join)") {
    import org.apache.spark.sql.functions.col
    val orders = graft.sources.Tables(spark, TestSpark.sf0001, "orders")
    val lineitem = graft.sources.Tables(spark, TestSpark.sf0001, "lineitem")
    // force the shuffle-join path: at this fixture size the small side
    // would broadcast and the bucket test would pass vacuously
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      graft.sources.PartitionedWrite.writeBucketed(
        orders, "b_orders", "o_orderkey", nBuckets = 4)
      graft.sources.PartitionedWrite.writeBucketed(
        lineitem.select("l_orderkey", "l_quantity"), "b_lineitem", "l_orderkey",
        nBuckets = 4)
      val joined = spark.table("b_lineitem")
        .join(spark.table("b_orders"),
          col("l_orderkey") === col("o_orderkey"))
        .select("l_orderkey", "l_quantity", "o_totalprice")
      val p = plan(joined)
      // matched bucketing on both sides: the sort-merge join consumes
      // the buckets directly — pay the shuffle once at write time,
      // never per query
      val exchanges = p.linesIterator.count(_.matches("""\(\d+\) Exchange\s*"""))
      assert(exchanges == 0, s"bucketed join still shuffles:\n$p")
      assert(p.contains("SelectedBucketsCount"), s"scan not bucket-aware:\n$p")
      assert(joined.count() == lineitem.count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
    }
  }

  test("z-order write keeps row-group stats narrow on BOTH columns") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // independent uniform dimensions: x = i mod 64, y = i div 64
    val grid = (0 until 4096).map(i => (i % 64, i / 64)).toDF("x", "y")
    val base = java.nio.file.Files.createTempDirectory("graft_z")

    def ranges(dir: String, column: String): Seq[(Long, Long)] = {
      import scala.jdk.CollectionConverters._
      new java.io.File(dir).listFiles
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .toSeq.map { f =>
          val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(f.getPath),
            new org.apache.hadoop.conf.Configuration())
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try {
            val stats = r.getFooter.getBlocks.asScala.flatMap(b =>
              b.getColumns.asScala
                .filter(_.getPath.toDotString == column).map(_.getStatistics))
            (stats.map(_.genericGetMin.asInstanceOf[Number].longValue).min,
              stats.map(_.genericGetMax.asInstanceOf[Number].longValue).max)
          } finally r.close()
        }
    }
    // mean fraction of the column's global range a file's stats span —
    // the probability a point filter CANNOT skip the file
    def coverage(rs: Seq[(Long, Long)]): Double = {
      val lo = rs.map(_._1).min; val hi = rs.map(_._2).max
      rs.map { case (a, b) => (b - a).toDouble / math.max(1L, hi - lo) }
        .sum / rs.size
    }

    val plain = base.resolve("plain").toString
    grid.repartitionByRange(16, col("x")).sortWithinPartitions("x")
      .write.mode("overwrite").parquet(plain)
    val zord = base.resolve("zord").toString
    graft.sources.PartitionedWrite.writeZOrdered(grid, zord, "x", "y", nFiles = 16)

    // plain sort: x prunes perfectly but y stats span ~the full range
    assert(coverage(ranges(plain, "y")) > 0.9, "fixture not adversarial for y")
    // z-order: BOTH dimensions stay narrow — a filter on either skips
    // most files
    val (zx, zy) = (coverage(ranges(zord, "x")), coverage(ranges(zord, "y")))
    assert(zx < 0.6, s"x coverage $zx not narrowed by z-ordering")
    assert(zy < 0.6, s"y coverage $zy not narrowed by z-ordering")

    // degenerate inputs write unclustered instead of crashing
    val empty = base.resolve("empty").toString
    graft.sources.PartitionedWrite.writeZOrdered(
      grid.where(col("x") < 0), empty, "x", "y", nFiles = 4)
    assert(spark.read.parquet(empty).count() == 0)
    val withNan = base.resolve("nan").toString
    graft.sources.PartitionedWrite.writeZOrdered(
      grid.withColumn("x",
        org.apache.spark.sql.functions.when(col("x") === 0, Double.NaN)
          .otherwise(col("x").cast("double"))),
      withNan, "x", "y", nFiles = 4)
    assert(spark.read.parquet(withNan).count() == 4096)
    // reserved temp column name is rejected loudly
    intercept[IllegalArgumentException](
      graft.sources.PartitionedWrite.writeZOrdered(
        grid.withColumn("__z", col("x")), base.resolve("zz").toString,
        "x", "y", nFiles = 4))
  }

  test("dedup_minhash: gram-hash and membership legs are never broadcast") {
    // A checkpointed frame's copied Catalyst stats price array columns
    // at defaultSize, so without hints the static planner broadcasts
    // the ghash verify legs — 8.3 GiB at 1000× sf0.1, over Spark's
    // 8 GiB hard cap (the sf100 survival run failed outright on it).
    // Lock the scale-safe shape: verify and member-expansion joins are
    // shuffled-hash with the pair list as build side.
    val p = plan(q("dedup_minhash"))
    // formatted explain: each detail block is "(N) NodeName" followed
    // by an "Output [k]: [...]" line — assert no BroadcastExchange
    // block carries a gram-hash (h1/h2/ghash) or membership (m1/m2) leg
    val lines = p.linesIterator.toVector
    lines.zipWithIndex.foreach { case (l, i) =>
      if (l.trim.matches("""\(\d+\) BroadcastExchange.*""")) {
        val out = lines.slice(i + 1, i + 3).mkString(" ")
        assert(!out.matches(""".*\b(ghash|h1|h2|m1|m2)#.*"""),
          s"unbounded leg broadcast at '$l': $out\n$p")
      }
    }
    val shj = lines.count(_.trim.matches("""\(\d+\) ShuffledHashJoin.*"""))
    assert(shj >= 4, s"expected >=4 shuffled-hash joins (2 verify + 2 expansion), got $shj:\n$p")
  }

  test("dedup_simhash / dedup_embedding_lsh: membership legs are never broadcast; " +
       "within self-join is sort-merge") {
    // same checkpoint-stats failure mode as dedup_minhash (array columns
    // priced at defaultSize after localCheckpoint), same hint fix — lock
    // the shape for the two pipelines the minhash audit didn't cover.
    // Additionally the within-group self-join must be SortMergeJoin, not
    // ShuffledHashJoin: both sides are the same O(duplicate-members) dup
    // leg, and an SHJ build of it cannot spill (ADVICE r9).
    // dedup_embedding itself is the brute-force ORACLE path (bounded,
    // cross-join by design) — the checkpoint-stats-hinted scale
    // pipelines are the simhash pair generator and the embedding LSH
    for (name <- Seq("dedup_simhash", "dedup_embedding_lsh")) {
      val p = plan(q(name))
      val lines = p.linesIterator.toVector
      lines.zipWithIndex.foreach { case (l, i) =>
        if (l.trim.matches("""\(\d+\) BroadcastExchange.*""")) {
          val out = lines.slice(i + 1, i + 3).mkString(" ")
          assert(!out.matches(""".*\b(m1|m2|doc_id_1|doc_id_2|vec_id_1|vec_id_2)#.*"""),
            s"$name: unbounded membership leg broadcast at '$l': $out\n$p")
        }
      }
      assert(lines.exists(_.trim.matches("""\(\d+\) SortMergeJoin.*""")),
        s"$name: expected the within self-join as SortMergeJoin in:\n$p")
    }
  }

  test("ann_lsh / ann_ivf: the corpus side is never the broadcast build") {
    // both candidate joins feed legs through typed kernels whose copied
    // stats price embedding arrays at defaultSize — the planner left to
    // those stats may broadcast the O(corpus) side (the 8 GiB-cap
    // failure mode dedup hit at 1000×). The query side is pinned as
    // the broadcast; the corpus leg (corpus_v / assigned cells) must
    // never appear under a BroadcastExchange.
    for (name <- Seq("ann_lsh", "ann_ivf")) {
      val p = plan(q(name))
      val lines = p.linesIterator.toVector
      lines.zipWithIndex.foreach { case (l, i) =>
        if (l.trim.matches("""\(\d+\) BroadcastExchange.*""")) {
          val out = lines.slice(i + 1, i + 3).mkString(" ")
          assert(!out.contains("corpus_v"),
            s"$name broadcasts a corpus leg at '$l': $out\n$p")
        }
      }
      assert(lines.exists(_.contains("BroadcastExchange")),
        s"$name: expected the pinned query-side broadcast in:\n$p")
    }
  }

  test("text_line_dedup_hashed: line text never crosses an exchange") {
    // the scale path's core claim: frequency counting and the removal
    // join shuffle 8-byte xxhash64 keys and (doc, pos) triples — the
    // raw `line` string must be dropped BEFORE every exchange. (The
    // final range partition for the orderBy carries the rebuilt
    // text_clean, which is row-per-document output, not exploded lines.)
    val p = plan(q("text_line_dedup_hashed"))
    val lines = p.linesIterator.toVector
    lines.zipWithIndex.foreach { case (l, i) =>
      if (l.trim.matches("""\(\d+\) (Exchange|BroadcastExchange).*""")) {
        val inp = lines.slice(i + 1, i + 3).mkString(" ")
        assert(!inp.matches(""".*\bline#.*"""),
          s"exploded line text crosses an exchange at '$l': $inp\n$p")
      }
    }
  }

  test("text_span_dedup_hashed: window/token text never crosses an exchange") {
    // the scale path's core claim: windows are hashed row-locally over
    // token-array slices, so the frequency count and hot-set join move
    // only (doc, start, wh) triples; whole-document text may cross ONLY
    // the doc-keyed removal join and the final orderBy range partition —
    // never an exchange keyed on the window hash
    val p = plan(q("text_span_dedup_hashed"))
    val lines = p.linesIterator.toVector
    lines.zipWithIndex.foreach { case (l, i) =>
      if (l.trim.matches("""\(\d+\) (Exchange|BroadcastExchange).*""")) {
        val inp = lines.slice(i + 1, i + 3).mkString(" ")
        assert(!inp.matches(""".*\b(win|tok)#.*"""),
          s"window/token text crosses an exchange at '$l': $inp\n$p")
        if (l.contains("hashpartitioning(wh#"))
          assert(!inp.matches(""".*\btext#.*"""),
            s"document text crosses the window-hash exchange at '$l': $inp\n$p")
      }
    }
  }

  test("text_perplexity_hashed: token text never crosses an exchange") {
    // the scale path's core claim: bigram hashing happens in the same
    // row-local projection as the explode, so model counting and the
    // score joins shuffle only 8-byte hashes and doc ids — the token
    // strings w1/w2 must be dropped BEFORE every exchange
    val p = plan(q("text_perplexity_hashed"))
    val lines = p.linesIterator.toVector
    lines.zipWithIndex.foreach { case (l, i) =>
      if (l.trim.matches("""\(\d+\) (Exchange|BroadcastExchange).*""")) {
        // an attribute named `xxhash64(w#20, 42)#95L` is the 8-byte
        // hash — only a BARE token attribute is a violation
        val inp = lines.slice(i + 1, i + 3).mkString(" ")
          .replaceAll("""xxhash64\([^)]*\)#\d+L?""", "HASHED")
        assert(!inp.matches(""".*\b(w1|w2|ws|w)#.*"""),
          s"token text crosses an exchange at '$l': $inp\n$p")
      }
    }
  }

  test("text_url_dedup: one hash exchange on norm_url plus the orderBy range") {
    // normalization is a pure projection; the dedup window is the only
    // hash shuffle (keyed on the canonical URL), plus the final orderBy
    val p = plan(q("text_url_dedup"))
    val hashEx = p.linesIterator.filter(_.contains("hashpartitioning(")).toVector
    assert(hashEx.nonEmpty && hashEx.forall(_.contains("norm_url")),
      s"unexpected hash exchange in:\n$p")
  }

  test("text_chunk and text_html_extract: pure map-side — no hash shuffle") {
    // both are single-projection operators (chunking adds an explode);
    // the only exchange either plan may carry is the presentation
    // orderBy's range partitioning — a hash shuffle means a refactor
    // introduced a join or aggregation that doesn't belong here
    for (name <- Seq("text_chunk", "text_html_extract")) {
      val p = plan(q(name))
      assert(!p.contains("hashpartitioning("),
        s"unexpected hash exchange in $name:\n$p")
    }
  }

  test("ann_pq: corpus-derived legs are never the broadcast build") {
    // ADC candidates (bounded refine·k per query) and queries broadcast;
    // the corpus scan must stream — a corpus-side broadcast is the 8 GiB
    // failure mode at 1000× (same contract as ann_lsh/ann_ivf)
    val p = plan(q("ann_pq"))
    val lines = p.linesIterator.toVector
    lines.zipWithIndex.foreach { case (l, i) =>
      if (l.trim.matches("""\(\d+\) BroadcastExchange.*""")) {
        val inp = lines.slice(i + 1, i + 3).mkString(" ")
        assert(!inp.matches(""".*\b(corpus_v|codes)#.*"""),
          s"corpus leg broadcast at '$l': $inp\n$p")
      }
    }
  }

  test("text kernels run as named UDFs: no object boundary, each kernel once per row") {
    // the row-local kernel shape (TextOps.kernelFields): a kernel is a
    // ScalaUDF in one Project over the scan, never a typed
    // mapPartitions. A collapsed projection would evaluate the kernel
    // once per output field, so each kernel must appear in exactly as
    // many plan nodes as the query has legs reading it.
    import org.apache.spark.sql.catalyst.expressions.ScalaUDF
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val helper = new AdaptiveSparkPlanHelper {}
    val expected = Map(
      "text_tokens" -> Map("token_counts" -> 1),
      "text_quality" -> Map("quality_signals" -> 1),
      "text_pii" -> Map("pii_counts" -> 1),
      "text_redact" -> Map("pii_redact" -> 1),
      "text_curate" -> Map("curate_signals" -> 1),
      "text_html_extract" -> Map("html_extract" -> 1),
      // the window triples feed both the hot-set count and the join
      "text_span_dedup_hashed" -> Map("window_hashes" -> 2, "span_rebuild" -> 1),
      "text_vectorize" -> Map("text_vector" -> 1),
      "text_decontaminate" -> Map("probe_hits" -> 1))
    for ((name, kernels) <- expected) {
      val df = q(name)
      df.collect()
      val nodes = helper.collect(df.queryExecution.executedPlan) { case n => n }
      val objectNodes = nodes.map(_.nodeName).filter(n =>
        Seq("DeserializeToObject", "SerializeFromObject", "MapPartitions").exists(n.contains))
      assert(objectNodes.isEmpty, s"$name: object boundary $objectNodes in:\n${df.queryExecution.executedPlan}")
      val udfs = nodes.flatMap(_.expressions.flatMap(_.collect {
        case u: ScalaUDF => u.udfName.getOrElse("<anonymous>")
      }))
      val counts = udfs.groupBy(identity).view.mapValues(_.size).toMap
      assert(counts == kernels, s"$name: kernel evaluations $counts in:\n${df.queryExecution.executedPlan}")
    }
  }

  test("text ops stay in one codegen'd projection over the scan (no agg shuffle)") {
    val p = plan(q("text_quality"))
    // the only exchange allowed is the final orderBy's range partition
    val exchanges = p.linesIterator.count(_.matches("""\(\d+\) Exchange\s*"""))
    assert(exchanges <= 1, s"unexpected shuffles in text_quality:\n$p")
    // codegen annotations only appear once AQE finalizes — execute first
    val df = q("text_quality")
    df.collect()
    val executed = df.queryExecution.executedPlan.toString
    assert(executed.contains("*("), s"no whole-stage codegen span in:\n$executed")
  }
}
