package graftbench

import graft.operators._
import graft.operators.checks.Suite
import graft.operators.checks.Checks.{RangeRule, ValueSet}
import graft.operators.checks.Checks.Referential.FkRule
import graft.operators.dedup.Dedup
import graft.operators.similarity.Similarity
import graft.operators.text.{Curate, TextOps}
import graft.sources.{SchemaIntrospect, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

/** One timed operation: `build` calls the program's public operator and
  * returns its DataFrame (eager operator work included), then the
  * harness runs it with the honest action or, for `write` ops, writes it.
  * `oracle` is DuckDB SQL over the workload's table views that must give
  * the same rows; ops without one are checked by run.py against the
  * generator's recorded truth or by recall against an exact twin.
  */
final case class Op(name: String, build: Ctx => DataFrame,
                    oracle: Option[String] = None, write: Boolean = false)

/** Table access for the ops. Every call into the `sources` layer goes
  * through [[Ctx.load]] so its time is recorded apart from the operator.
  */
final class Ctx(val spark: SparkSession, val dir: String) {
  val loads = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
  def load[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally loads += ((t0, System.nanoTime()))
  }
  def table(name: String): DataFrame = load(Tables(spark, dir, name))
  def discover(sub: String): Seq[String] = load(Tables.discover(spark, s"$dir/$sub", "parquet"))
  def catalog(sub: String): Map[String, DataFrame] = {
    val names = discover(sub)
    load(Tables.load(spark, s"$dir/$sub", names))
  }
}

object Workloads {

  def ops(workload: String, wideTables: Seq[(String, Seq[(String, String)])]): Seq[Op] =
    workload match {
      case "dq_wide" => dqWide(wideTables)
      case "dq_fact" => dqFact
      case "llm_curate" => llmCurate
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }

  /** The table whose scan warms the session for a workload. */
  def warmTable(workload: String): (String, String) = workload match {
    case "dq_wide" => ("src", "t000")
    case "dq_fact" => ("", "region")
    case _ => ("", "documents")
  }

  // ------------------------------------------------------------- dq_wide
  private def sorted(m: Map[String, DataFrame]): Seq[(String, DataFrame)] = m.toSeq.sortBy(_._1)

  private def dqWide(tables: Seq[(String, Seq[(String, String)])]): Seq[Op] = Seq(
    Op("rowcount_meta", c => RowCount.metaCounts(c.spark, s"${c.dir}/src", c.discover("src"))),
    Op("rowcount_catalogs", c =>
      RowCount.compareCatalogs(c.spark, c.catalog("src"), c.catalog("tgt"))),
    Op("nullcheck_all", c => NullCheck.profileAll(sorted(c.catalog("src"))),
      Some(tables.map { case (t, cols) => s"(${NullCheck.oracleSql(t, cols.map(_._1))})" }
        .mkString("SELECT * FROM (\n", "\nUNION ALL\n", "\n) u"))),
    Op("colcompare", c => {
      val src = c.catalog("src")
      val tgt = c.catalog("tgt")
      val lists = ColCompare.compareTableLists(c.spark, src.keys.toSeq, tgt.keys.toSeq)
        .select(col("table_name"), lit(null).cast("string").as("col_name"),
          lit(null).cast("string").as("source_type"),
          lit(null).cast("string").as("target_type"), col("status"))
      src.keys.toSeq.sorted.filter(tgt.contains).map { t =>
        ColCompare.compareColumns(c.spark, src(t), tgt(t))
          .select(lit(t).as("table_name"), col("col_name"), col("source_type"),
            col("target_type"), col("status"))
      }.foldLeft(lists)(_ unionAll _)
    }),
    Op("schema_describe", c => {
      val src = c.catalog("src")
      c.load(SchemaIntrospect.describeAll(c.spark, sorted(src)))
    }))

  // ------------------------------------------------------------- dq_fact
  // Rules and column sets of the sf gate queries of the same names.
  private val RangeRules = Seq(
    RangeRule("l_quantity", "quantity_1_50", 1.0, 50.0),
    RangeRule("l_discount", "discount_0_01", 0.0, 0.1),
    RangeRule("l_tax", "tax_0_008", 0.0, 0.08))
  private val StatsCols = Seq("l_quantity", "l_extendedprice", "l_discount")
  private val ValueRules = Seq(
    ValueSet.ValueRule("l_returnflag", "returnflag_anr", Seq("A", "N", "R")),
    ValueSet.ValueRule("l_linestatus", "linestatus_of", Seq("O", "F")),
    ValueSet.ValueRule("l_returnflag", "returnflag_strict_an", Seq("A", "N")))
  private val OrdersCols = Seq(
    "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority")
  private val EventsCols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")

  private val dqFact: Seq[Op] = Seq(
    // HLL twin: checked against the exact profile within its error bound
    Op("nullcheck_approx", c => NullCheck.approxProfile("events", c.table("events")),
      Some(NullCheck.oracleSql("events", EventsCols))),
    Op("keyfinder_orders", c =>
      KeyFinder.candidateReport(c.spark, c.table("orders"), OrdersCols, size = 1),
      Some(KeyFinder.size1OracleSql("orders", OrdersCols))),
    Op("check_suite", c => {
      val li = c.table("lineitem")
      Suite.gate(
        Suite.TableChecks("lineitem", li, completenessCols = StatsCols,
          uniquenessKeys = Seq(Seq("l_orderkey", "l_linenumber")),
          rangeRules = RangeRules, valueRules = ValueRules),
        fkRules = Seq((FkRule("lineitem_orders", "l_orderkey", "o_orderkey"),
          li, c.table("orders"))))
    }, Some(Suite.gateOracleSql("lineitem", completenessCols = StatsCols,
      uniquenessKeys = Seq(Seq("l_orderkey", "l_linenumber")),
      formatRules = Nil, rangeRules = RangeRules, valueRules = ValueRules,
      fkRules = Seq(("lineitem_orders", "lineitem", "l_orderkey", "orders", "o_orderkey"))))),
    Op("skew_report", c => SkewReport.topKeys(c.table("events"), "user_id", k = 20),
      Some(SkewReport.oracleSql("events", "user_id", k = 20))))

  // ---------------------------------------------------------- llm_curate
  val NearDupThreshold = 0.7
  val AnnK = 10
  val AnnQueries = 50

  private val llmCurate: Seq[Op] = Seq(
    Op("text_quality", c => TextOps.QualityScore.run(c.table("documents")),
      Some(TextOps.QualityScore.oracleSql("documents"))),
    Op("dedup_minhash", c =>
      Dedup.MinHashDedup.nearDuplicates(c.table("documents"), NearDupThreshold)),
    Op("ann_ivfpq", c => {
      val emb = c.table("embeddings")
      Similarity.IvfPqAnn.topK(emb, emb.where(col("vec_id") < AnnQueries), AnnK)
    }),
    // the pass ends by writing the curated corpus
    Op("write_curated", c => Curate.run(c.table("documents")),
      Some(Curate.oracleSql("documents")), write = true))
}
