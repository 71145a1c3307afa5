package graft

import graft.operators._
import graft.operators.checks.{Checks, SuggestChecks, Suite}
import graft.operators.checks.Checks.{FormatRule, RangeRule}
import graft.operators.checks.Checks.Referential.FkRule
import graft.operators.dedup.{Dedup, SemanticDedup}
import graft.operators.multimodal.BinaryPipeline
import graft.operators.similarity.Similarity
import graft.operators.text.{Bpe, Chunker, HtmlExtract, KeywordSearch, LineDedup, Perplexity, SpanDedup, TextOps, TextVectors, UrlDedup}
import graft.sources.{ParquetCombine, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, concat, expr, lit, max, substring, when}

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory each
  * entry maps to. Every key in [[queries]] either has a DuckDB oracle in
  * [[oracleSql]] (hash-compared by the driver at sf0.01) or is covered by
  * a ScalaTest spec against a brute-force implementation.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    RelationalQueries.q5StarJoin(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- relational query surface (SURVEY §2 #19-23) ---
    "q1_pricing"   -> ((s, d) => RelationalQueries.q1Pricing(s, d)),
    "q3_topk"      -> ((s, d) => RelationalQueries.q3TopK(s, d)),
    "q5_starjoin"  -> ((s, d) => RelationalQueries.q5StarJoin(s, d)),
    "q_window"     -> ((s, d) => RelationalQueries.qWindow(s, d)),
    "q17_smallqty" -> ((s, d) => RelationalQueries.q17SmallQty(s, d)),
    "q21_semi_anti" -> ((s, d) => RelationalQueries.q21SemiAnti(s, d)),
    "q18_large_orders" -> ((s, d) => RelationalQueries.q18LargeOrders(s, d)),
    "events_hourly" -> ((s, d) => RelationalQueries.eventsHourly(s, d)),
    // HLL twin of events_hourly for the 100 TB regime; rows-only —
    // rsd-bound agreement with the exact rollup asserted in
    // RelationalQueriesSpec (the nullcheck_approx pattern)
    "events_hourly_approx" -> ((s, d) => RelationalQueries.eventsHourlyApprox(s, d)),
    // derived agreement oracle for the HLL twin (verdict-r15 #7): the
    // rsd bound becomes a hash-checked claim — DuckDB recomputes the
    // exact distinct per bucket and asserts the verdict column is TRUE
    "events_hourly_approx_agreement" -> ((s, d) =>
      RelationalQueries.eventsHourlyApproxAgreement(s, d)),
    "events_sessions" -> ((s, d) =>
      Sessionize.sessions(Tables(s, d, "events"), SessionGapMinutes)),
    "range_join" -> ((s, d) => {
      val ev = Tables(s, d, "events")
      val sessions = Sessionize.sessions(ev, SessionGapMinutes)
        .select("user_id", "session_seq", "session_start", "session_end")
      RangeJoin.pointInInterval(
        ev.select("event_id", "user_id", "ts"), sessions,
        keyCol = "user_id", tsCol = "ts",
        startCol = "session_start", endCol = "session_end",
        bucketWidthSec = 6 * 3600)
        .select("event_id", "user_id", "ts", "session_seq", "session_start")
        .orderBy("event_id")
    }),
    "asof_join" -> ((s, d) => {
      val ev = Tables(s, d, "events")
      // right side deduped to one row per (user_id, ts): DuckDB's ASOF
      // JOIN leaves the tie-break among equal-timestamp rows
      // unspecified, so both engines see an unambiguous right table
      AsOfJoin.asof(
        ev.where(col("event_type") === "click").select("event_id", "user_id", "ts"),
        ev.where(col("event_type") === "error")
          .groupBy("user_id", "ts").agg(max("value").as("value")),
        keyCol = "user_id", tsCol = "ts",
        rightPayload = Seq("ts", "value"), prefix = "prior_error_")
        .orderBy("event_id")
    }),
    // --- dbqt core surface (SURVEY §2 #1-2) ---
    "rowcount" -> ((s, d) => RowCount.counts(s, Tables.load(s, d))),
    // footer-metadata path: same answer, zero data pages read
    "rowcount_meta" -> ((s, d) => RowCount.metaCounts(s, d)),
    "rowcount_compare" -> ((s, d) => RowCount.compare(s, Seq(
      ("customer_vs_orders", Tables(s, d, "customer"), Tables(s, d, "orders")),
      ("orders_vs_lineitem", Tables(s, d, "orders"), Tables(s, d, "lineitem"))))),
    "rowcount_catalogs" -> ((s, d) => RowCount.compareCatalogs(s,
      Tables.load(s, d, Seq("region", "nation", "customer")),
      Tables.load(s, d, Seq("nation", "customer", "orders")))),
    // --- dbqt core surface (SURVEY §2 #3-10) ---
    "nullcheck_customer" -> ((s, d) => NullCheck.profile("customer", Tables(s, d, "customer"))),
    "nullcheck_events"   -> ((s, d) => NullCheck.profile("events", Tables(s, d, "events"))),
    // whole-catalog profile: one plan, all tables' scans run concurrently
    "nullcheck_all" -> ((s, d) => NullCheck.profileAll(
      NullcheckAllTables.map(t => t -> Tables(s, d, t)))),
    // HLL path for wide tables at 100 TB (no Expand); rows-only check —
    // rsd-bound agreement with the exact profile is asserted in
    // CoreOperatorsSpec
    "nullcheck_approx" -> ((s, d) => NullCheck.approxProfile("events", Tables(s, d, "events"))),
    "keyfinder_orders"   -> ((s, d) =>
      KeyFinder.candidateReport(s, Tables(s, d, "orders"), OrdersCols, size = 1)),
    "keyfinder_lineitem" -> ((s, d) =>
      KeyFinder.findMinimalKeys(s, Tables(s, d, "lineitem"), LineitemKeyCandidates, maxKeySize = 4)),
    "colcompare_schema" -> ((s, d) => {
      val src = Tables(s, d, "customer")
      // Deliberately perturbed target: one incompatible retype, one
      // dropped, one added — exercises every diff status.
      val tgt = src
        .withColumn("c_acctbal", col("c_acctbal").cast("string"))
        .drop("c_mktsegment")
        .withColumn("c_extra", lit(1))
      ColCompare.compareColumns(s, src, tgt)
    }),
    "combine_files" -> ((s, d) => ParquetCombine.combine(s, Seq(
      Tables.path(d, "region"), Tables.path(d, "nation"), Tables.path(d, "region"))).df),
    "dynamic_query" -> ((s, d) => {
      Tables.registerViews(s, d, Seq("region", "nation"))
      DynamicQuery.run(s, DynamicQueryTemplate,
        RegionNames.map(r => Map("region_name" -> r)))
    }),
    // --- checks framework (SURVEY §2 #13-18) ---
    "check_completeness" -> ((s, d) =>
      Checks.Completeness.run("documents", Tables(s, d, "documents"))),
    "check_uniqueness" -> ((s, d) =>
      Checks.Uniqueness.run("lineitem", Tables(s, d, "lineitem"), Seq("l_orderkey", "l_linenumber"))
        .unionAll(Checks.Uniqueness.run("orders", Tables(s, d, "orders"), Seq("o_custkey")))
        .orderBy("table_name")),
    "check_format" -> ((s, d) =>
      Checks.FormatCheck.run("documents", Tables(s, d, "documents"), FormatRules)),
    "check_range" -> ((s, d) =>
      Checks.RangeCheck.run("lineitem", Tables(s, d, "lineitem"), RangeRules)),
    "check_stats" -> ((s, d) =>
      Checks.StatsCheck.run("lineitem", Tables(s, d, "lineitem"), StatsCols)),
    // drift detection: target is the same table with a planted +5%
    // shift on l_quantity — mean/stddev/min/max flip to DRIFT at 1%
    // tolerance, the untouched columns stay OK
    "stats_compare" -> ((s, d) => {
      val li = Tables(s, d, "lineitem")
      Checks.StatsCompare.run(StatsCols,
        li.select(StatsCols.map(col): _*),
        li.select((col("l_quantity") * 1.05).as("l_quantity"),
          col("l_extendedprice"), col("l_discount")),
        tolerancePct = 1.0)
    }),
    "check_suite" -> ((s, d) => {
      val li = Tables(s, d, "lineitem")
      Suite.gate(
        Suite.TableChecks("lineitem", li,
          completenessCols = StatsCols,
          uniquenessKeys = Seq(Seq("l_orderkey", "l_linenumber")),
          rangeRules = RangeRules,
          valueRules = ValueRules),
        fkRules = Seq((FkRule("lineitem_orders", "l_orderkey", "o_orderkey"),
          li, Tables(s, d, "orders"))))
    }),
    "skew_report" -> ((s, d) =>
      SkewReport.topKeys(Tables(s, d, "events"), "user_id", k = 20)),
    "check_values" -> ((s, d) =>
      Checks.ValueSet.run("lineitem", Tables(s, d, "lineitem"), ValueRules)),
    // heuristic column classification + automatic check suggestions —
    // the reference README's own Future Plans (README.md:352-356),
    // verdict-r16 #6; one aggregation per table, all four concurrent
    "suggest_checks" -> ((s, d) =>
      SuggestChecks.runAll(SuggestTables.map { case (t, _) => t -> Tables(s, d, t) })),
    "check_referential" -> ((s, d) => Checks.Referential.runAll(Seq(
      (FkRule("lineitem_orders", "l_orderkey", "o_orderkey"),
        Tables(s, d, "lineitem"), Tables(s, d, "orders")),
      (FkRule("lineitem_part", "l_partkey", "p_partkey"),
        Tables(s, d, "lineitem"), Tables(s, d, "part")),
      (FkRule("orders_customer", "o_custkey", "c_custkey"),
        Tables(s, d, "orders"), Tables(s, d, "customer"))))),
    // --- text analysis for LLM-data pipelines (SURVEY §2 #32-35) ---
    "text_tokens"      -> ((s, d) => TextOps.TokenCount.run(Tables(s, d, "documents"))),
    "text_langid"      -> ((s, d) => TextOps.LangId.run(Tables(s, d, "documents"))),
    "text_quality"     -> ((s, d) => TextOps.QualityScore.run(Tables(s, d, "documents"))),
    // over the U+000B-fixture corpus: the doc -1/-2 pair must collide
    "text_fingerprint" -> ((s, d) => TextOps.Fingerprint.contentFingerprint(wsFixtureDocs(s, d))),
    // PII scan over the pii demo corpus (the synthetic documents carry
    // no PII, so every counter would be vacuously zero): doc_id%8 slots
    // append a phone (+CC and parenthesized forms), an IPv4, a full-form
    // IPv6, an SSN-shaped id, an email+URL pair, or (slot 6, round-14)
    // compressed `::` IPv6 forms — inner, leading AND trailing — so the
    // driver's hash compare exercises the formerly spark-side-only arms;
    // slot 7 stays plain text. The oracle builds the identical corpus
    // in SQL
    "text_pii" -> ((s, d) => TextOps.PiiScan.run(piiCorpus(s, d))),
    "text_repetition" -> ((s, d) => TextOps.Repetition.run(Tables(s, d, "documents"))),
    "text_domain_cap" -> ((s, d) =>
      TextOps.DomainCap.run(Tables(s, d, "documents"), cap = DomainCapN)),
    "text_curate" -> ((s, d) => graft.operators.text.Curate.run(Tables(s, d, "documents"))),
    // corpus-level line dedup (#35h): the synthetic documents are
    // single-line, so the demo corpus adds the boilerplate structure the
    // operator exists to strip — a shared nav header, a blank structural
    // line, and a footer on even doc ids (removal counts vary per doc);
    // the oracle constructs the identical corpus in SQL. Both paths are
    // registered against the SAME oracle: runHashed is exactly
    // equivalent by design (LineDedupSpec), so the hash compare proves
    // the scale path, not just the string path.
    "text_line_dedup" -> ((s, d) => LineDedup.run(lineDedupCorpus(s, d))),
    "text_line_dedup_hashed" -> ((s, d) =>
      LineDedup.runHashed(lineDedupCorpus(s, d))),
    // corpus-level exact-substring dedup (ExactSubstr, Lee et al. 2022;
    // SURVEY §2 #35i): the demo corpus appends shared boilerplate
    // sentences to a third/a fifth of docs (both on multiples of 15, so
    // boundary-straddling windows are duplicated too); w=8 because the
    // synthetic docs are 10-99 tokens. Both paths share one oracle:
    // runHashed agrees exactly with run by design (SpanDedupSpec).
    "text_span_dedup" -> ((s, d) =>
      SpanDedup.run(spanDedupCorpus(s, d), w = SpanDedupW)),
    "text_span_dedup_hashed" -> ((s, d) =>
      SpanDedup.runHashed(spanDedupCorpus(s, d), w = SpanDedupW)),
    // BM25 keyword search (SURVEY §2 #39): three fixed queries over the
    // documents vocabulary, top-10 each
    "text_bm25" -> ((s, d) =>
      KeywordSearch.bm25(Tables(s, d, "documents"), Bm25Queries, k = 10)),
    // corpus-trained bigram-LM perplexity (CCNet-style quality filter,
    // SURVEY §2 #35j). Both paths share one oracle: runHashed agrees
    // exactly with run by design (PerplexitySpec), so the driver's hash
    // compare proves the scale path where text never shuffles.
    "text_perplexity" -> ((s, d) => Perplexity.run(Tables(s, d, "documents"))),
    "text_perplexity_hashed" -> ((s, d) =>
      Perplexity.runHashed(Tables(s, d, "documents"))),
    // the CCNet shape proper: model trained on one half of the corpus,
    // the other half scored against it — unseen bigrams exercise the
    // smoothed left-join mass end-to-end (hashed scale path; the exact
    // twin backs the same oracle via PerplexitySpec's agreement test)
    "text_perplexity_cross" -> ((s, d) => {
      val docs = Tables(s, d, "documents")
      Perplexity.runCrossHashed(
        docs.where(col("doc_id") % 2 === 0),
        docs.where(col("doc_id") % 2 === 1))
    }),
    // URL-level dedup (C4/RefinedWeb first-stage rule, SURVEY §2 #35k):
    // the synthetic documents carry no URL, so the demo corpus
    // synthesizes one per doc with deliberate cosmetic variation —
    // scheme/host case, www., default ports, tracking params, fragments,
    // trailing slashes. Variants 0-2 of each (source, doc_id%97) slot
    // normalize to the SAME canonical URL (dup groups); variant 3 keeps
    // its non-tracking `id=5` param and stays distinct. The oracle
    // builds the identical corpus in SQL.
    "text_url_dedup" -> ((s, d) => UrlDedup.run(urlCorpus(s, d))),
    // BPE tokenizer (SURVEY §2 #34b): learn BpeMerges merges from the
    // corpus word-frequency table, then the shuffle-free map-side
    // apply. Rows-only — iterative data-dependent merges are not
    // SQL-expressible; BpeSpec pins the semantics (hand-computed merge
    // sequence, roundtrip, monotonicity, memo-path agreement)
    "text_bpe" -> ((s, d) => {
      val docs = Tables(s, d, "documents")
      Bpe.tokenStats(docs, Bpe.learnFromCorpus(docs, BpeMerges))
    }),
    // feature-hashed text vectors (SURVEY §2 #35n, round-14): the
    // model-free documents→embeddings bridge — hashed signed
    // unigram+bigram vector per doc, embeddings-table schema, feeds
    // ANN/embedding-dedup/SemDeDup directly (rows-only: the 64-bit
    // feature hash is not SQL-expressible; TextVectorsSpec pins the
    // contracts end-to-end)
    // gate-safe projection: the driver's rows-only compare sorts in
    // pandas, which cannot hash an array<float> cell — so the gate row
    // explodes to one scalar row per (vec_id, idx) with the value
    // rounded to 4dp (verdict-r14 #1). Callers keep the array API
    // (TextVectors.run); the exploded form attests every component.
    // posexplode_OUTER: an embedding is never null or empty, so the rows
    // are posexplode's, but Catalyst infers no `size(embedding) > 0`
    // filter, which it would push through TextVectors' projection and
    // so run the vector kernel three times per row (PlanAuditSpec)
    "text_vectorize" -> ((s, d) =>
      TextVectors.run(Tables(s, d, "documents"))
        .select(col("vec_id"),
          org.apache.spark.sql.functions.posexplode_outer(col("embedding")))
        .select(col("vec_id"), col("pos").as("idx"),
          org.apache.spark.sql.functions.round(col("col").cast("double"), 4).as("value"))),
    // sliding-window passage chunking (SURVEY §2 #35l): window/stride
    // sized so the 10-99-token synthetic docs yield 1-4 chunks each,
    // with 8 tokens of overlap exercising every arm of the walk
    "text_chunk" -> ((s, d) =>
      Chunker.run(Tables(s, d, "documents"), ChunkWindow, ChunkStride)),
    // HTML main-text extraction (SURVEY §2 #35m): the synthetic docs are
    // plain text, so the demo corpus wraps each in a full page — head
    // with title/style/script (whose `1 < 2` content must NOT leak),
    // comment, 3-word nav, 2-word h1 and footer (all under the 4-word
    // line rule), the document text in a <p>, and on even ids an
    // entity-bearing paragraph exercising every decode. The oracle
    // builds the identical corpus in SQL.
    "text_html_extract" -> ((s, d) => HtmlExtract.run(htmlCorpus(s, d))),
    // --- deterministic sampling / dataset splits (SURVEY §2 #38) ---
    "sample_split" -> ((s, d) =>
      Sampling.hashSplit(Tables(s, d, "documents"), "doc_id", SplitWeights)
        .select("doc_id", "split").orderBy("doc_id")),
    "sample_stratified" -> ((s, d) =>
      Sampling.stratifiedSample(Tables(s, d, "documents"), "doc_id", "lang",
        StratFractions, StratDefault)
        .select("doc_id", "lang").orderBy("doc_id")),
    "sample_weighted" -> ((s, d) =>
      Sampling.weightedSample(
        Tables(s, d, "documents")
          .withColumn("w", (col("doc_id") % 100) / 100.0),
        "doc_id", "w")
        .select("doc_id").orderBy("doc_id")),
    "text_redact" -> ((s, d) => TextOps.PiiScan.redact(piiCorpus(s, d))),
    // mixture sampling: token-budgeted per-source selection (the
    // training-mix step); budgets bite at every sf (each source holds
    // ~1.8k proxy tokens)
    "sample_mixture" -> ((s, d) =>
      Mixture.sample(
        Tables(s, d, "documents")
          .withColumn("n_tokens", expr("n_chars div 4 + 1")),
        MixtureBudgets)),
    // decontamination: synthetic "benchmark" = a mid-document slice of
    // the first docs (bounded driver collect, derivable by the oracle);
    // those docs must self-flag, the rest are checked for real overlap
    "text_decontaminate" -> ((s, d) => {
      val docs = Tables(s, d, "documents")
      val probes = docs.where(col("doc_id") < DecontProbeDocs)
        .select(substring(TextOps.Fingerprint.normalized(col("text")),
          DecontFrom, DecontLen).as("p"))
        .collect().map(_.getString(0)).toSeq
      graft.operators.text.Decontaminate.flag(docs, probes)
    }),
    // sequence packing: docs → fixed-token-budget packs (greedy
    // next-fit per hash group; engine-portable arithmetic, so the
    // whole assignment has an exact SQL oracle). Token proxy: chars/4.
    "pack_sequences" -> ((s, d) =>
      graft.operators.Packing.packs(
        Tables(s, d, "documents")
          .withColumn("n_tokens", expr("n_chars div 4 + 1")),
        PackCapacity).orderBy("doc_id")),
    // --- dedup for LLM-data pipelines (SURVEY §2 #25-29) ---
    // over the U+000B-fixture corpus: docs -1/-2 must form ONE group
    "dedup_exact" -> ((s, d) => Dedup.ExactDedup.run(wsFixtureDocs(s, d))),
    // incremental: the batch half checked against the corpus half —
    // bloom-prefiltered membership, exact at any fpp
    "dedup_incremental" -> ((s, d) => {
      val docs = Tables(s, d, "documents")
      Dedup.IncrementalDedup.report(
        docs.where(col("doc_id") >= IncrementalSplitId),
        docs.where(col("doc_id") < IncrementalSplitId))
    }),
    // minhash twin of dedup_incremental: NEAR-dup membership of the
    // batch against the corpus (rows-only — LSH banding; exactness of
    // the verdicts vs brute force asserted in DedupSpec)
    "dedup_incremental_minhash" -> ((s, d) => {
      val docs = Tables(s, d, "documents")
      Dedup.MinHashDedup.againstCorpus(
        docs.where(col("doc_id") >= IncrementalSplitId),
        docs.where(col("doc_id") < IncrementalSplitId),
        NgramJaccardThreshold)
    }),
    // derived agreement oracle for the near-dup membership path
    // (verdict-r15 #7): plant exact copies of corpus docs into the
    // batch (the testdata has no natural cross-split duplicates) and
    // assert the minhash verdict/best-match/score on them against the
    // SQL-replayable equality ground truth — identical text ⇒ identical
    // gram set ⇒ jaccard 1.0 ⇒ must be flagged with the equality
    // match's minimal corpus id. A banding/signature/verify regression
    // that drops exact duplicates now flips a hash.
    "dedup_incremental_minhash_agreement" -> ((s, d) => {
      val aug = incrementalMinhashFixture(s, d)
      val batch = aug.where(col("doc_id") >= IncrementalSplitId)
      val corpus = aug.where(col("doc_id") < IncrementalSplitId)
      val near = Dedup.MinHashDedup.againstCorpus(batch, corpus, NgramJaccardThreshold)
      batch.join(corpus.select("text").distinct(), Seq("text"), "left_semi")
        .select("doc_id")
        .join(near, Seq("doc_id"))
        .select(col("doc_id"), col("near_dup"), col("best_corpus_id"), col("jaccard"))
        .orderBy("doc_id")
    }),
    "dedup_ngram_jaccard" -> ((s, d) =>
      Dedup.NgramJaccard.allPairs(Tables(s, d, "documents"), NgramJaccardThreshold)),
    "dedup_minhash" -> ((s, d) =>
      Dedup.MinHashDedup.nearDuplicates(Tables(s, d, "documents"), NgramJaccardThreshold)),
    // raw LSH candidate generation (no verification) — the building
    // block for pipelines that verify with their OWN similarity
    // (edit distance, embeddings); recall/degenerate-corpus behavior
    // asserted in DedupSpec/DedupDegenerateSpec (rows-only check here)
    "dedup_candidates" -> ((s, d) =>
      Dedup.MinHashDedup.candidatePairs(
        Dedup.MinHashDedup.signatures(Tables(s, d, "documents")))
        .orderBy("doc_id_1", "doc_id_2")),
    "dedup_simhash" -> ((s, d) => Dedup.SimHash.hammingPairs(Tables(s, d, "documents"), maxHamming = 3)),
    // exact-pairs components: oracle-checkable (recursive CTE); the
    // quadratic pair source is the ORACLE path — dedup_clusters_minhash
    // below is the 100 TB route with the same components algorithm
    "dedup_clusters" -> ((s, d) =>
      Dedup.Components.components(
        Dedup.NgramJaccard.allPairs(Tables(s, d, "documents"), NgramJaccardThreshold)
          .select("doc_id_1", "doc_id_2"))),
    "dedup_clusters_minhash" -> ((s, d) =>
      Dedup.Components.dedupGroups(Tables(s, d, "documents"), NgramJaccardThreshold)),
    "dedup_embedding" -> ((s, d) =>
      Dedup.EmbeddingDedup.allPairs(Tables(s, d, "embeddings"), EmbeddingDedupThreshold)),
    // LSH-bucketed scale path: bits=4/tables=16 suits this corpus's
    // 0.4-0.6 planted-similarity band (recall ≈0.94+ at the threshold);
    // raise bits for high-threshold (0.9+) dedup where buckets prune more
    "dedup_embedding_lsh" -> ((s, d) =>
      Dedup.EmbeddingDedup.lshPairs(Tables(s, d, "embeddings"), EmbeddingDedupThreshold,
        dim = 64, bits = 4, tables = 16)),
    // SemDeDup (SURVEY §2 #29e), seeded audit variant — deterministic
    // quantizer so the DuckDB oracle reproduces cells bit-for-bit; the
    // trained IVF variant is SemanticDedupSpec's subject
    "dedup_semantic" -> ((s, d) =>
      SemanticDedup.seeded(Tables(s, d, "embeddings"), EmbeddingDedupThreshold,
        nSeeds = 16)),
    // --- similarity search (SURVEY §2 #30-31) ---
    "ann_cosine_topk" -> ((s, d) => {
      val emb = Tables(s, d, "embeddings")
      Similarity.CosineTopK.run(emb, emb.where(col("vec_id") < AnnNumQueries), AnnK)
    }),
    "ann_lsh" -> ((s, d) => {
      val emb = Tables(s, d, "embeddings")
      Similarity.LshAnn.topK(emb, emb.where(col("vec_id") < AnnNumQueries), AnnK, dim = 64)
    }),
    "ann_ivf" -> ((s, d) => {
      val emb = Tables(s, d, "embeddings")
      Similarity.IvfAnn.topK(emb, emb.where(col("vec_id") < AnnNumQueries), AnnK)
    }),
    // product-quantization ANN (SURVEY §2 #31c): byte-coded index + ADC
    // candidate scan + exact re-rank; recall tracked in ann_recall
    "ann_pq" -> ((s, d) => {
      val emb = Tables(s, d, "embeddings")
      Similarity.PqAnn.topK(emb, emb.where(col("vec_id") < AnnNumQueries), AnnK)
    }),
    // IVF-PQ (SURVEY §2 #31d, round-14): coarse cells + PQ of RESIDUALS
    // (Jégou et al. IVFADC); wins when clusters-per-cell exceed code
    // resolution (AnnSweepSpec's isolated pin) — see the class doc's
    // measured two-regime note for where plain PQ/IVF win instead
    "ann_ivfpq" -> ((s, d) => {
      val emb = Tables(s, d, "embeddings")
      Similarity.IvfPqAnn.topK(emb, emb.where(col("vec_id") < AnnNumQueries), AnnK)
    }),
    // recall@k of the approximate indexes vs exact top-k, tracked
    // round-over-round like a perf number (rows-only: the indexes it
    // measures are not SQL-expressible; floor asserted in SimilaritySpec)
    "ann_recall" -> ((s, d) => {
      val emb = Tables(s, d, "embeddings")
      Similarity.RecallReport.run(emb, emb.where(col("vec_id") < AnnNumQueries),
        AnnK, dim = 64)
    }),
    // recall@k CURVES vs each index's accuracy knob (IVF nProbe, LSH
    // tables, PQ codebook size) — probative on the gauss ScaleUp mode's
    // clustered-Gaussian distribution where ties don't mask degradation
    // (round-14; rows-only for the same reason as ann_recall)
    "ann_recall_sweep" -> ((s, d) => {
      val emb = Tables(s, d, "embeddings")
      Similarity.RecallReport.sweep(emb, emb.where(col("vec_id") < AnnNumQueries),
        AnnK, dim = 64)
    }),
    // recall on a CLUSTERED corpus derived deterministically from the
    // embeddings table (verdict-r14 #8): near-uniform vectors make
    // recall read trivially high; the derived gauss-like distribution
    // carries non-trivial numbers the driver can trend across rounds.
    // Queries are cluster MEMBERS (ids >= nCenters), so each has true
    // in-cluster neighbors. Floors asserted in AnnSweepSpec.
    "ann_recall_gauss" -> ((s, d) => {
      val nc = Similarity.DefaultClusterCenters
      val g = Similarity.deriveClustered(Tables(s, d, "embeddings"))
      Similarity.RecallReport.run(g,
        g.where(col("vec_id") >= nc && col("vec_id") < nc + AnnNumQueries),
        AnnK, dim = 64)
    }),
    // per-cell tie-mass advisor (verdict-r14 #7): operationalizes the
    // IVF-PQ two-regime guidance as a report — which cells' codes
    // discriminate, which need a bigger refine pool, which are
    // sub-resolution near-dup balls that want IVF or dedup instead
    "ann_advisor" -> ((s, d) =>
      Similarity.AnnAdvisor.run(
        Similarity.deriveClustered(Tables(s, d, "embeddings")), AnnK)),
    // the advisor CONTROL LOOP end-to-end as a trended gate number
    // (verdict-r16 #5): build → advise → refineOverrides → per-cell
    // pools → recall, default vs advised, on the same gauss fixture as
    // ann_recall_gauss (rows-only — the IVF-PQ index and its per-cell
    // override pools are not SQL-expressible; floors in AnnSweepSpec)
    "ann_advised_recall" -> ((s, d) => {
      val nc = Similarity.DefaultClusterCenters
      val g = Similarity.deriveClustered(Tables(s, d, "embeddings"))
      Similarity.AnnAdvisor.advisedRecall(g,
        g.where(col("vec_id") >= nc && col("vec_id") < nc + AnnNumQueries), AnnK)
    }),
    // --- multimodal binary pipeline (SURVEY §2 #36) ---
    "multimodal_meta" -> ((s, d) =>
      BinaryPipeline.extractMeta(s, BinaryPipeline.fromDocuments(Tables(s, d, "documents")))
        .orderBy("doc_id").toDF()),
    // the video filter sits BEFORE the probe kernel (round 17): the
    // typed extractMeta map is opaque to Catalyst, so sampleFrames'
    // media_type filter could not push below it — 2/3 of the corpus
    // (image/audio rows) paid a codec probe whose row was then
    // discarded. Pre-filtering is row-for-row identical (extractMeta is
    // a per-row map; the oracle's hash compare pins it).
    "multimodal_frames" -> ((s, d) =>
      BinaryPipeline.sampleFrames(
        BinaryPipeline.extractMeta(s,
          BinaryPipeline.fromDocuments(Tables(s, d, "documents"))
            .where(col("media_type") === "video")),
        stride = FrameStride).orderBy("doc_id", "frame_idx"))
  )

  private val SessionGapMinutes = 120
  // line-dedup demo-corpus boilerplate (see the text_line_dedup entry);
  // single-quote-free so the strings embed verbatim in the oracle SQL
  private val LineDedupHeader = "NAV: HOME | ABOUT | CONTACT"
  private val LineDedupFooter = "Subscribe to our newsletter today"
  private def lineDedupCorpus(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "documents").withColumn("text",
      concat(lit(LineDedupHeader + "\n\n"), col("text"),
        when(col("doc_id") % 2 === 0, lit("\n" + LineDedupFooter))
          .otherwise(lit(""))))
  private lazy val LineDedupOracle = LineDedup.oracleSql(
    s"(SELECT doc_id, '$LineDedupHeader' || chr(10) || chr(10) || text" +
      s" || CASE WHEN doc_id % 2 = 0 THEN chr(10) || '$LineDedupFooter'" +
      " ELSE '' END AS text FROM documents)")
  // span-dedup demo-corpus boilerplate (see the text_span_dedup entry);
  // single-quote-free so the strings embed verbatim in the oracle SQL
  private val SpanDedupW = 8
  private val SpanDedupB1 =
    "this content is provided as is without warranty of any kind either express or implied"
  private val SpanDedupB2 =
    "subscribe now for unlimited access to premium articles and an ad free reading experience"
  private def spanDedupCorpus(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "documents").withColumn("text",
      concat(col("text"),
        when(col("doc_id") % 3 === 0, lit(" " + SpanDedupB1)).otherwise(lit("")),
        when(col("doc_id") % 5 === 0, lit(" " + SpanDedupB2)).otherwise(lit(""))))
  // url-dedup demo corpus (see the text_url_dedup entry); the CASE arms
  // are mirrored verbatim in UrlCorpusSql below
  private def urlCorpus(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "documents").withColumn("url", expr(
      """CASE CAST(doc_id % 4 AS INT)
        | WHEN 0 THEN concat('https://www.', source, '.example.com/Doc/',
        |   doc_id % 97, '/?utm_source=feed&ref=rss#top')
        | WHEN 1 THEN concat('HTTP://', upper(source), '.Example.COM/Doc/',
        |   doc_id % 97)
        | WHEN 2 THEN concat('https://', source, '.example.com:443/Doc/',
        |   doc_id % 97, '/')
        | ELSE concat('http://', source, '.example.com:80/Doc/',
        |   doc_id % 97, '?id=5&utm_campaign=x')
        |END""".stripMargin))
  private val UrlCorpusSql =
    """(SELECT doc_id,
      |  CASE CAST(doc_id % 4 AS INT)
      |   WHEN 0 THEN concat('https://www.', source, '.example.com/Doc/',
      |     doc_id % 97, '/?utm_source=feed&ref=rss#top')
      |   WHEN 1 THEN concat('HTTP://', upper(source), '.Example.COM/Doc/',
      |     doc_id % 97)
      |   WHEN 2 THEN concat('https://', source, '.example.com:443/Doc/',
      |     doc_id % 97, '/')
      |   ELSE concat('http://', source, '.example.com:80/Doc/',
      |     doc_id % 97, '?id=5&utm_campaign=x')
      |  END AS url
      | FROM documents)""".stripMargin
  // pii demo corpus (see the text_pii entry); the CASE arms are
  // mirrored verbatim in PiiCorpusSql below
  private def piiCorpus(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "documents").withColumn("text", expr(
      """CASE CAST(doc_id % 8 AS INT)
        | WHEN 0 THEN concat(text, ' call +1 555-123-',
        |   lpad(CAST(doc_id % 10000 AS STRING), 4, '0'), ' now')
        | WHEN 1 THEN concat(text, ' ring (555) 123-',
        |   lpad(CAST(doc_id % 10000 AS STRING), 4, '0'), ' today')
        | WHEN 2 THEN concat(text, ' host 10.', CAST(doc_id % 256 AS STRING),
        |   '.0.12 up')
        | WHEN 3 THEN concat(text,
        |   ' node 2001:0db8:85a3:0000:0000:8a2e:0370:7334 up')
        | WHEN 4 THEN concat(text, ' ssn 123-45-',
        |   lpad(CAST(doc_id % 10000 AS STRING), 4, '0'), ' refs')
        | WHEN 5 THEN concat(text, ' mail user', CAST(doc_id % 97 AS STRING),
        |   '@example.org or https://example.org/p',
        |   CAST(doc_id % 97 AS STRING), ' now')
        | WHEN 6 THEN concat(text, ' via fe80::',
        |   CAST(doc_id % 9999 AS STRING),
        |   ' or ::1 gw 2001:db8::8a2e:370:7334 tail fe80:: end')
        | ELSE text
        |END""".stripMargin))
  private val PiiCorpusSql =
    """(SELECT doc_id,
      |  CASE CAST(doc_id % 8 AS INT)
      |   WHEN 0 THEN concat(text, ' call +1 555-123-',
      |     lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'), ' now')
      |   WHEN 1 THEN concat(text, ' ring (555) 123-',
      |     lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'), ' today')
      |   WHEN 2 THEN concat(text, ' host 10.', CAST(doc_id % 256 AS VARCHAR),
      |     '.0.12 up')
      |   WHEN 3 THEN concat(text,
      |     ' node 2001:0db8:85a3:0000:0000:8a2e:0370:7334 up')
      |   WHEN 4 THEN concat(text, ' ssn 123-45-',
      |     lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'), ' refs')
      |   WHEN 5 THEN concat(text, ' mail user', CAST(doc_id % 97 AS VARCHAR),
      |     '@example.org or https://example.org/p',
      |     CAST(doc_id % 97 AS VARCHAR), ' now')
      |   WHEN 6 THEN concat(text, ' via fe80::',
      |     CAST(doc_id % 9999 AS VARCHAR),
      |     ' or ::1 gw 2001:db8::8a2e:370:7334 tail fe80:: end')
      |   ELSE text
      |  END AS text
      | FROM documents)""".stripMargin
  /** documents + two U+000B fixture rows for the identity family
    * (verdict-r12 parity guard): doc -1 carries vertical tabs and a
    * tab, doc -2 is its whitespace-normalized lowercase twin. Java
    * `\s` includes U+000B, RE2's does not — both engines normalize
    * with [[TextOps.WsClass]], so the pair MUST land in one
    * fingerprint group on both sides; if either side regresses to a
    * bare `\s` the group splits and the driver's hash compare on
    * `text_fingerprint`/`dedup_exact` goes red. Mirrored verbatim in
    * [[WsFixtureDocsSql]].
    */
  // dedup_incremental_minhash_agreement fixture: the documents table
  // plus exact copies of corpus docs 0..4 planted in the batch id space
  // (mirrored verbatim in IncrementalMinhashFixtureSql)
  private val MinhashCopyBase = 10000L
  private def incrementalMinhashFixture(s: SparkSession, d: String): DataFrame = {
    val docs = Tables(s, d, "documents").select(col("doc_id"), col("text"))
    docs.unionAll(docs.where(col("doc_id") < 5)
      .select((col("doc_id") + MinhashCopyBase).as("doc_id"), col("text")))
  }
  private val IncrementalMinhashFixtureSql =
    s"""(SELECT doc_id, text FROM documents
       | UNION ALL SELECT doc_id + $MinhashCopyBase, text
       | FROM documents WHERE doc_id < 5)""".stripMargin

  private def wsFixtureDocs(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables(s, d, "documents").select(col("doc_id"), col("text"))
      .unionByName(Seq(
        (-1L, "Fixture\u000BVERTICAL\u000Btab\tdoc"),
        (-2L, "fixture  vertical TAB doc")).toDF("doc_id", "text"))
  }
  private val WsFixtureDocsSql =
    """(SELECT doc_id, text FROM documents
      | UNION ALL SELECT CAST(-1 AS BIGINT),
      |   'Fixture' || chr(11) || 'VERTICAL' || chr(11) || 'tab' || chr(9) || 'doc'
      | UNION ALL SELECT CAST(-2 AS BIGINT),
      |   'fixture  vertical TAB doc') ws_fixture_docs""".stripMargin
  // html-extract demo corpus (see the text_html_extract entry): one
  // page per doc, single-quote-free so the fragments embed verbatim in
  // the oracle SQL; the CASE arm is mirrored in HtmlCorpusSql below
  // the head carries a 5-word title: if the <head> strip ever regressed,
  // the title would survive the 4-word line rule and flip the hash
  private val HtmlHead =
    "<html><head><title>Synthetic Doc Page Title Here</title>" +
      "<style>body { color: red; }</style>" +
      "<script>if (1 < 2) { alert(\"x & y\"); }</script></head><body>" +
      "<!-- generated page --><div class=\"nav\">Home About Contact</div><h1>Doc "
  // numeric refs exercise every decoder arm: decimal in-range (233),
  // hex both cases + 1-digit (&#x9; = tab, collapsed), out-of-range
  // (&#999;), zero, and too-long (&#1234;) stay literal; <pre> is
  // anchored-regex bait — its content must join inline, not split lines
  private val HtmlEntityPara =
    "<p>Q &amp; A: tips &lt;fast&gt; &quot;quoted&quot; &#39;single&#39;&nbsp;done</p>" +
      "<p>caf&#233; r&#xe9;sum&#xE9; A&#x41;B tab&#x9;sep stays &#999; &#0; &#1234; here</p>" +
      "<pre>preformatted block kept inline</pre>"
  private val HtmlFoot = "<div class=\"footer\">Copyright 2026</div></body></html>"
  private def htmlCorpus(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "documents").withColumn("html", concat(
      lit(HtmlHead), col("doc_id") % 97,
      lit("</h1><p>"), col("text"), lit("</p>"),
      when(col("doc_id") % 2 === 0, lit(HtmlEntityPara)).otherwise(lit("")),
      lit(HtmlFoot)))
  private lazy val HtmlCorpusSql =
    s"""(SELECT doc_id, concat('$HtmlHead', doc_id % 97, '</h1><p>', text,
       | '</p>', CASE WHEN doc_id % 2 = 0 THEN '$HtmlEntityPara'
       | ELSE '' END, '$HtmlFoot') AS html FROM documents)""".stripMargin
  // BM25 demo queries — single-quote-free, terms from the synthetic
  // document vocabulary (plus one unseen term to exercise df=0)
  private val Bm25Queries = Seq(
    0 -> "spark window merge",
    1 -> "customer order line batch",
    2 -> "hash join filter unseenterm")
  private lazy val SpanDedupOracle = SpanDedup.oracleSql(
    s"(SELECT doc_id, text" +
      s" || CASE WHEN doc_id % 3 = 0 THEN ' ' || '$SpanDedupB1' ELSE '' END" +
      s" || CASE WHEN doc_id % 5 = 0 THEN ' ' || '$SpanDedupB2' ELSE '' END" +
      " AS text FROM documents)", w = SpanDedupW)
  private val SplitWeights = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
  private val DomainCapN = 50
  private val StratFractions = Map("en" -> 0.5)
  private val StratDefault = 0.1
  private val FrameStride = 4
  private val NgramJaccardThreshold = 0.7
  private val EmbeddingDedupThreshold = 0.4
  // corpus/batch boundary for the incremental-dedup demo query — small
  // enough that even sf0.001's 50 docs yield a non-empty batch
  private val IncrementalSplitId = 25L
  private val PackCapacity = 2048L
  private val MixtureBudgets = Map(
    "src0" -> 1000L, "src1" -> 1000L, "src2" -> 600L, "src3" -> 200L)
  private val DecontProbeDocs = 5L
  private val DecontFrom = 11
  private val DecontLen = 40
  private val AnnK = 10
  private val AnnNumQueries = 5
  private val BpeMerges = 60
  private val ChunkWindow = 32
  private val ChunkStride = 24

  private val NullcheckAllTables = Seq("region", "nation", "supplier", "customer")
  private val NullcheckAllCols = Map(
    "region" -> Seq("r_regionkey", "r_name"),
    "nation" -> Seq("n_nationkey", "n_name", "n_regionkey"),
    "supplier" -> Seq("s_suppkey", "s_name", "s_nationkey", "s_acctbal"),
    "customer" -> Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"))
  private val CustomerCols = Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
  private val EventsCols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")
  private val OrdersCols = Seq(
    "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority")
  private val LineitemKeyCandidates = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber")
  private val RegionNames = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val DocumentsCols = Seq("doc_id", "text", "lang", "source", "n_chars")
  private val FormatRules = Seq(
    FormatRule("lang", "lang_iso639", "^[a-z]{2}$"),
    FormatRule("source", "source_prefix", "^src[0-9]+$"))
  private val RangeRules = Seq(
    RangeRule("l_quantity", "quantity_1_50", 1.0, 50.0),
    RangeRule("l_discount", "discount_0_01", 0.0, 0.1),
    RangeRule("l_tax", "tax_0_008", 0.0, 0.08))
  private val StatsCols = Seq("l_quantity", "l_extendedprice", "l_discount")
  private val ValueRules = Seq(
    Checks.ValueSet.ValueRule("l_returnflag", "returnflag_anr", Seq("A", "N", "R")),
    Checks.ValueSet.ValueRule("l_linestatus", "linestatus_of", Seq("O", "F")),
    // deliberately narrow set → exercises the FAIL status
    Checks.ValueSet.ValueRule("l_returnflag", "returnflag_strict_an", Seq("A", "N")))
  private val DynamicQueryTemplate =
    """SELECT '{region_name}' AS region_name, count(*) AS n_nations
      |FROM nation JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = '{region_name}'""".stripMargin
  // suggest_checks profile surface (round 17, reference README:352-356
  // "AI-Powered column classification" / "Automatic check suggestions"):
  // (table, (column, sparkSimpleType)) baked so the STATIC oracleSql
  // matches the runtime schema — a driver-regenerated layout change
  // surfaces as a loud schema mismatch, the same contract as every
  // checks oracle. The four tables cover every semantic class the
  // classifier emits on this corpus: identifier_unique/identifier,
  // json (events.props), categorical, numeric, temporal, text.
  private val SuggestTables: Seq[(String, Seq[(String, String)])] = Seq(
    "customer" -> Seq("c_custkey" -> "bigint", "c_name" -> "string",
      "c_nationkey" -> "int", "c_acctbal" -> "double",
      "c_mktsegment" -> "string"),
    "orders" -> Seq("o_orderkey" -> "bigint", "o_custkey" -> "bigint",
      "o_orderstatus" -> "string", "o_totalprice" -> "double",
      "o_orderdate" -> "timestamp", "o_orderpriority" -> "string"),
    "events" -> Seq("event_id" -> "bigint", "ts" -> "timestamp",
      "user_id" -> "bigint", "event_type" -> "string",
      "value" -> "double", "props" -> "string"),
    "documents" -> Seq("doc_id" -> "bigint", "text" -> "string",
      "lang" -> "string", "source" -> "string", "n_chars" -> "bigint"))

  /** DuckDB-equivalent SQL per query (same tables, same aliases, same
    * ordering). Omitted keys get a weaker rows-only check.
    */
  def oracleSql: Map[String, String] = Map(
    "q1_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base_price,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |  round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
        |  round(avg(l_quantity), 2) AS avg_qty,
        |  round(avg(l_discount), 4) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '2000-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q3_topk" ->
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-06-01'
        |  AND l_shipdate > TIMESTAMP '1998-06-01'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey
        |LIMIT 10""".stripMargin,
    "q5_starjoin" ->
      """SELECT n_name,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin,
    // the oracle keeps the NATURAL correlated/EXISTS phrasing a
    // reference user would write — agreement proves the Spark-side
    // window / semi / anti rewrites are semantics-preserving
    "q17_smallqty" ->
      """SELECT p.p_brand, round(sum(l.l_extendedprice) / 7.0, 2) AS avg_yearly
        |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        |WHERE p.p_brand IN ('Brand#1', 'Brand#2', 'Brand#3')
        |  AND l.l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
        |    FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
        |GROUP BY p.p_brand
        |ORDER BY p.p_brand""".stripMargin,
    "q21_semi_anti" ->
      """SELECT o_orderpriority, count(*) AS n_orders,
        |  round(sum(o_totalprice), 2) AS total_price
        |FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem l
        |    WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l
        |    WHERE l.l_orderkey = o.o_orderkey AND l.l_linestatus = 'O')
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "q18_large_orders" ->
      """SELECT c_name, o_orderkey, o_orderdate,
        |  round(o_totalprice, 2) AS o_totalprice,
        |  round(sum(l_quantity), 2) AS total_qty
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
        |    GROUP BY l_orderkey HAVING sum(l_quantity) > 250)
        |GROUP BY c_name, o_orderkey, o_orderdate, o_totalprice
        |ORDER BY total_qty DESC, o_orderkey""".stripMargin,
    "q_window" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, price_rank FROM (
        |  SELECT o_custkey, o_orderkey,
        |    round(o_totalprice, 2) AS o_totalprice,
        |    CAST(rank() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS price_rank
        |  FROM orders) t
        |WHERE price_rank <= 3
        |ORDER BY o_custkey, price_rank, o_orderkey""".stripMargin,
    "events_hourly" ->
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour, event_type,
        |  count(*) AS n_events,
        |  round(sum(value), 2) AS sum_value,
        |  count(DISTINCT user_id) AS n_users
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY hour, event_type""".stripMargin,
    // the HLL twin's accuracy claim: DuckDB recomputes the exact
    // distinct and asserts every bucket's verdict TRUE (the sketch
    // itself is not SQL-expressible; its bound is)
    "events_hourly_approx_agreement" ->
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour, event_type,
        |  count(DISTINCT user_id) AS n_users,
        |  TRUE AS within_bound
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY hour, event_type""".stripMargin,
    "rowcount" ->
      Tables.all.sorted.map(t => s"SELECT '$t' AS table_name, count(*) AS row_count FROM $t")
        .mkString("", "\nUNION ALL\n", "\nORDER BY table_name"),
    "rowcount_meta" ->
      Tables.all.sorted.map(t => s"SELECT '$t' AS table_name, count(*) AS row_count FROM $t")
        .mkString("", "\nUNION ALL\n", "\nORDER BY table_name"),
    "rowcount_compare" ->
      """WITH pairs AS (
        |  SELECT 'customer_vs_orders' AS pair_name,
        |    (SELECT count(*) FROM customer) AS source_row_count,
        |    (SELECT count(*) FROM orders) AS target_row_count
        |  UNION ALL
        |  SELECT 'orders_vs_lineitem',
        |    (SELECT count(*) FROM orders),
        |    (SELECT count(*) FROM lineitem))
        |SELECT pair_name, source_row_count, target_row_count,
        |  target_row_count - source_row_count AS difference,
        |  round((target_row_count - source_row_count) * 100.0 / source_row_count, 2)
        |    AS percentage_difference
        |FROM pairs
        |ORDER BY pair_name""".stripMargin,
    "rowcount_catalogs" ->
      """SELECT * FROM (
        |  SELECT 'customer' AS table_name,
        |    (SELECT count(*) FROM customer) AS source_row_count,
        |    (SELECT count(*) FROM customer) AS target_row_count,
        |    CAST(0 AS BIGINT) AS difference, 'BOTH' AS status
        |  UNION ALL SELECT 'nation',
        |    (SELECT count(*) FROM nation), (SELECT count(*) FROM nation), 0, 'BOTH'
        |  UNION ALL SELECT 'orders',
        |    CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), 'ONLY_IN_TARGET'
        |  UNION ALL SELECT 'region',
        |    CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), 'ONLY_IN_SOURCE'
        |) t ORDER BY table_name""".stripMargin,
    "events_sessions" -> Sessionize.oracleSql("events", SessionGapMinutes),
    "range_join" ->
      s"""SELECT e.event_id, e.user_id, e.ts, s.session_seq, s.session_start
         |FROM events e JOIN (
         |${Sessionize.oracleSql("events", SessionGapMinutes)}
         |) s ON e.user_id = s.user_id
         |  AND e.ts >= s.session_start AND e.ts <= s.session_end
         |ORDER BY e.event_id""".stripMargin,
    "asof_join" ->
      """SELECT c.event_id, c.user_id, c.ts,
        |  e.ts AS prior_error_ts, e.value AS prior_error_value
        |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') c
        |ASOF LEFT JOIN (SELECT user_id, ts, max(value) AS value
        |  FROM events WHERE event_type = 'error' GROUP BY user_id, ts) e
        |  ON c.user_id = e.user_id AND c.ts >= e.ts
        |ORDER BY c.event_id""".stripMargin,
    "nullcheck_customer" -> NullCheck.oracleSql("customer", CustomerCols),
    "nullcheck_events" -> NullCheck.oracleSql("events", EventsCols),
    "nullcheck_all" ->
      s"""SELECT * FROM (
         |${NullcheckAllTables.map(t => s"(${NullCheck.oracleSql(t, NullcheckAllCols(t))})")
             .mkString("\nUNION ALL\n")}
         |) u ORDER BY table_name, column_name""".stripMargin,
    "keyfinder_orders" -> KeyFinder.size1OracleSql("orders", OrdersCols),
    "keyfinder_lineitem" ->
      KeyFinder.minimalKeysOracleSql("lineitem", LineitemKeyCandidates, maxKeySize = 4),
    "colcompare_schema" ->
      """SELECT * FROM (VALUES
        |  ('c_acctbal', 'double', 'string', 'TYPE_MISMATCH'),
        |  ('c_custkey', 'bigint', 'bigint', 'MATCH'),
        |  ('c_extra', CAST(NULL AS VARCHAR), 'int', 'TARGET_ONLY'),
        |  ('c_mktsegment', 'string', CAST(NULL AS VARCHAR), 'SOURCE_ONLY'),
        |  ('c_name', 'string', 'string', 'MATCH'),
        |  ('c_nationkey', 'int', 'int', 'MATCH')
        |) AS t(col_name, source_type, target_type, status)
        |ORDER BY col_name""".stripMargin,
    "combine_files" ->
      "SELECT * FROM region UNION ALL SELECT * FROM region",
    "dynamic_query" ->
      RegionNames.map(r =>
        s"""SELECT '$r' AS region_name, count(*) AS n_nations
           |FROM nation JOIN region ON n_regionkey = r_regionkey
           |WHERE r_name = '$r'""".stripMargin)
        .mkString("", "\nUNION ALL\n", ""),
    "check_completeness" -> Checks.Completeness.oracleSql("documents", DocumentsCols),
    "check_uniqueness" ->
      s"""SELECT * FROM (
         |${Checks.Uniqueness.oracleSql("lineitem", Seq("l_orderkey", "l_linenumber"))}
         |UNION ALL
         |${Checks.Uniqueness.oracleSql("orders", Seq("o_custkey"))}
         |) u ORDER BY table_name""".stripMargin,
    "check_format" -> Checks.FormatCheck.oracleSql("documents", FormatRules),
    "check_range" -> Checks.RangeCheck.oracleSql("lineitem", RangeRules),
    "check_stats" -> Checks.StatsCheck.oracleSql("lineitem", StatsCols),
    "stats_compare" -> Checks.StatsCompare.oracleSql(StatsCols,
      s"SELECT ${StatsCols.mkString(", ")} FROM lineitem",
      "SELECT l_quantity * 1.05 AS l_quantity, l_extendedprice, l_discount FROM lineitem",
      tolerancePct = 1.0),
    "check_suite" -> Suite.gateOracleSql("lineitem",
      completenessCols = StatsCols,
      uniquenessKeys = Seq(Seq("l_orderkey", "l_linenumber")),
      formatRules = Nil, rangeRules = RangeRules, valueRules = ValueRules,
      fkRules = Seq(("lineitem_orders", "lineitem", "l_orderkey", "orders", "o_orderkey"))),
    "skew_report" -> SkewReport.oracleSql("events", "user_id", k = 20),
    "check_values" -> Checks.ValueSet.oracleSql("lineitem", ValueRules),
    "suggest_checks" -> SuggestChecks.oracleSqlAll(SuggestTables),
    "check_referential" -> Checks.Referential.oracleSql(Seq(
      ("lineitem_orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
      ("lineitem_part", "lineitem", "l_partkey", "part", "p_partkey"),
      ("orders_customer", "orders", "o_custkey", "customer", "c_custkey"))),
    "text_tokens"      -> TextOps.TokenCount.oracleSql("documents"),
    "text_langid"      -> TextOps.LangId.oracleSql("documents"),
    "text_quality"     -> TextOps.QualityScore.oracleSql("documents"),
    "text_fingerprint" -> TextOps.Fingerprint.oracleSql(WsFixtureDocsSql),
    "text_pii" -> TextOps.PiiScan.oracleSql(PiiCorpusSql),
    "text_repetition" -> TextOps.Repetition.oracleSql("documents"),
    "text_domain_cap" -> TextOps.DomainCap.oracleSql("documents", DomainCapN),
    "text_curate" -> graft.operators.text.Curate.oracleSql("documents"),
    "text_line_dedup" -> LineDedupOracle,
    // same oracle by design: runHashed must agree exactly with run
    "text_line_dedup_hashed" -> LineDedupOracle,
    "text_span_dedup" -> SpanDedupOracle,
    // same oracle by design: runHashed must agree exactly with run
    "text_span_dedup_hashed" -> SpanDedupOracle,
    "text_bm25" -> KeywordSearch.oracleSql("documents", Bm25Queries, k = 10),
    "text_perplexity" -> Perplexity.oracleSql("documents"),
    // same oracle by design: runHashed must agree exactly with run
    "text_perplexity_hashed" -> Perplexity.oracleSql("documents"),
    "text_perplexity_cross" -> Perplexity.crossOracleSql(
      "(SELECT * FROM documents WHERE doc_id % 2 = 0)",
      "(SELECT * FROM documents WHERE doc_id % 2 = 1)"),
    "text_url_dedup" -> UrlDedup.oracleSql(UrlCorpusSql),
    "text_chunk" -> Chunker.oracleSql("documents", ChunkWindow, ChunkStride),
    "text_html_extract" -> HtmlExtract.oracleSql(HtmlCorpusSql),
    // dedup_minhash / dedup_simhash / ann_lsh are approximate candidate
    // generators (not SQL-expressible) → rows-only check here; their
    // recall/precision vs the brute-force paths is asserted in DedupSpec
    // and SimilaritySpec.
    "sample_split" -> Sampling.splitOracleSql("documents", "doc_id", SplitWeights),
    "sample_stratified" -> Sampling.stratifiedOracleSql(
      "documents", "doc_id", "lang", StratFractions, StratDefault),
    "sample_weighted" -> Sampling.weightedOracleSql(
      "documents", "doc_id", "(doc_id % 100) / 100.0"),
    "dedup_exact" -> Dedup.ExactDedup.oracleSql(WsFixtureDocsSql),
    "dedup_incremental" -> Dedup.IncrementalDedup.oracleSql("documents", IncrementalSplitId),
    // equality ground truth for the planted exact copies: identical text
    // must be near-flagged with jaccard 1.0 and the minimal equal-text
    // corpus id as best match (see the queries entry)
    "dedup_incremental_minhash_agreement" ->
      s"""SELECT b.doc_id, TRUE AS near_dup, min(c.doc_id) AS best_corpus_id,
         |  CAST(1.0 AS DOUBLE) AS jaccard
         |FROM $IncrementalMinhashFixtureSql b
         |JOIN (SELECT doc_id, text FROM documents WHERE doc_id < $IncrementalSplitId) c
         |  ON c.text = b.text
         |WHERE b.doc_id >= $IncrementalSplitId
         |GROUP BY b.doc_id
         |ORDER BY b.doc_id""".stripMargin,
    "pack_sequences" -> graft.operators.Packing.oracleSql(
      "documents", PackCapacity, "n_chars // 4 + 1"),
    "text_decontaminate" -> graft.operators.text.Decontaminate.oracleSql(
      "documents", DecontProbeDocs, DecontFrom, DecontLen),
    "sample_mixture" -> Mixture.oracleSql(
      "documents", MixtureBudgets, "n_chars // 4 + 1"),
    "text_redact" -> TextOps.PiiScan.redactOracleSql(PiiCorpusSql),
    "dedup_ngram_jaccard" -> Dedup.NgramJaccard.oracleSql("documents", NgramJaccardThreshold),
    "dedup_clusters" -> Dedup.Components.oracleSql("documents", NgramJaccardThreshold),
    "dedup_embedding" -> Dedup.EmbeddingDedup.oracleSql("embeddings", EmbeddingDedupThreshold),
    "dedup_semantic" -> SemanticDedup.oracleSql("embeddings", EmbeddingDedupThreshold, 16),
    "ann_cosine_topk" -> Similarity.CosineTopK.oracleSql("embeddings", AnnK, AnnNumQueries),
    "multimodal_meta" -> BinaryPipeline.oracleSql("documents"),
    "multimodal_frames" -> BinaryPipeline.framesOracleSql("documents", FrameStride)
  )
}
