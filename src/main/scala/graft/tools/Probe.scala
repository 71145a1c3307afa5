package graft.tools

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import graft.{GraftSession, SparkEntry}
import org.apache.spark.graft.ListenerDrain
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.QueryPlanningTracker.{ANALYSIS, OPTIMIZATION, PLANNING}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{ExplainMode, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

import scala.collection.mutable

/** One measurement tool for named [[graft.SparkEntry]] queries. Every
  * mode runs the query through [[Materialize.timed]] — construction
  * inside the timer, then [[Materialize.materializeCount]], the action
  * [[graft.Bench]] times — so what a mode reports describes the plan
  * that was timed, never a `.count()` re-plan with its projections
  * pruned away.
  *
  * {{{
  * Probe time    <sfDir> <query…>   rows and wall seconds, min of two passes
  * Probe profile <sfDir> <query> [<layoutRoot> <variant>]
  *                                  per-stage breakdown of the steady-state pass;
  *                                  the 4-arg form profiles on a LayoutBench layout
  * Probe explain <sfDir> <query…>   one run: its time, the plan it executed
  *                                  (final and initial adaptive plan) and the
  *                                  optimizer's sizeInBytes estimates
  * Probe plans   <sfDir> [<out.md>] regenerate PLANS.md
  * }}}
  *
  * `time`, `explain` and `profile` also print how many classes Janino
  * compiled during the measured pass and the milliseconds it took, so
  * a receipt shows when a timing paid for code generation, how many
  * Spark jobs and stages the pass ran, and the measured frame's own
  * analysis, optimization and planning milliseconds (its
  * `queryExecution.tracker`; plans an operator ran eagerly while
  * building the frame are not in them).
  *
  * The session is [[GraftSession.local]]: `SPARK_GRAFT_CPUS` cores,
  * default every core of the machine.
  */
object Probe {

  /** One build+materialize: the frame whose plan ran, its rows, its
    * wall, the classes compiled (and compile ms) and the Spark jobs and
    * stages inside it. [[counts]] also reads the frame's planning phases.
    */
  final case class Run(df: DataFrame, rows: Long, secs: Double,
                       classes: Long, compileMs: Double, jobs: Int, stages: Int) {
    def counts: String = f"compiled $classes classes in $compileMs%.0f ms; $jobs jobs, $stages stages; " +
      Seq(ANALYSIS, OPTIMIZATION, PLANNING).map { p =>
        s"$p ${df.queryExecution.tracker.phases.get(p).fold(0L)(_.durationMs)} ms"
      }.mkString(", ")
  }

  /** Generated classes this JVM has compiled so far and their summed
    * compile nanoseconds. The count is
    * `CodegenMetrics.METRIC_COMPILATION_TIME`'s; the time is
    * `CodeGenerator.compileTime`, the running sum of the same
    * per-compile timer (the histogram keeps a decaying 1028-value
    * sample, so the sum of its snapshot is not a running total).
    */
  def compiled(): (Long, Long) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)

  final case class StageRow(id: Int, attempt: Int, name: String, wallMs: Long,
                            runMs: Long, cpuMs: Long, tasks: Int, inputBytes: Long,
                            inputRows: Long, shuffleReadB: Long, shuffleWriteB: Long)

  /** Queries whose formatted plans PLANS.md records — reviewable
    * evidence of the scale properties (pushdown, broadcasts,
    * WindowGroupLimit, single-scan profiling) that PlanAuditSpec
    * asserts mechanically.
    */
  val Representative = Seq(
    "q1_pricing", "q3_topk", "q5_starjoin", "q_window", "ann_cosine_topk",
    "q17_smallqty", "q21_semi_anti", "q18_large_orders",
    "nullcheck_customer", "events_sessions", "dedup_exact", "skew_report",
    "asof_join", "range_join", "ann_ivf", "dedup_embedding_lsh",
    "dedup_incremental", "dedup_candidates", "pack_sequences",
    "sample_mixture", "text_decontaminate",
    "rowcount_meta", "text_curate", "sample_split", "stats_compare",
    "text_perplexity_hashed", "text_url_dedup", "text_bpe", "ann_pq",
    "text_chunk", "text_html_extract", "text_pii",
    "text_bm25", "text_span_dedup_hashed", "ann_ivfpq", "text_vectorize",
    "ann_advisor")

  /** A query that throws fails the probe loudly. Jobs and stages are
    * counted on the active session, whose listener bus is drained
    * around the run so only its own are counted.
    */
  def run(build: => DataFrame): Run = {
    val sc = SparkSession.active.sparkContext
    val (jobs, stages) = (new AtomicInteger, new AtomicInteger)
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
    }
    ListenerDrain.drain(sc)
    sc.addSparkListener(counter)
    val (c0, ns0) = compiled()
    val r = try Materialize.timed(build) finally {
      ListenerDrain.drain(sc)
      sc.removeSparkListener(counter)
    }
    val (c1, ns1) = compiled()
    r match {
      case (Right((df, n)), secs) => Run(df, n, secs, c1 - c0, (ns1 - ns0) / 1e6, jobs.get, stages.get)
      case (Left(e), _) => throw e
    }
  }

  /** Two passes, min — Bench's steady-state rule (pass 1 also pays page
    * cache and first-plan codegen).
    */
  def time(build: => DataFrame): Run = Seq(run(build), run(build)).minBy(_.secs)

  /** The steady-state pass and every stage it ran: wall time between
    * stage submission and completion, summed executor run/CPU time,
    * bytes and rows read, and shuffle bytes — enough to attribute the
    * wall clock to scan vs partial aggregate vs exchange vs final
    * aggregate without a full event-log UI. The first pass warms page
    * cache, codegen and shuffle machinery and is not recorded.
    */
  def profile(spark: SparkSession, build: => DataFrame): (Run, Seq[StageRow]) = {
    run(build)
    val sc = spark.sparkContext
    // listener events are posted async: drain the warm-up pass's
    // before listening, and the measured pass's before reading
    ListenerDrain.drain(sc)
    val stages = mutable.ArrayBuffer.empty[StageRow]
    val listener = new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        // Failed/retried attempts would record the same stage twice and
        // silently inflate the totals — skip them (the retry that
        // succeeds is the one that's counted).
        if (si.failureReason.isEmpty) {
          val m = si.taskMetrics
          // Wall is only meaningful when BOTH endpoints exist; a lone
          // completionTime would record a raw epoch value. -1 rows are
          // excluded from the sum.
          val wall = (for {
            c <- si.completionTime; s <- si.submissionTime
          } yield c - s).getOrElse(-1L)
          stages += StageRow(si.stageId, si.attemptNumber(),
            si.name.linesIterator.next(), wall, m.executorRunTime,
            m.executorCpuTime / 1000000L, si.numTasks,
            m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
            m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
            m.shuffleWriteMetrics.bytesWritten)
        }
      }
    }
    sc.addSparkListener(listener)
    try {
      val r = run(build)
      ListenerDrain.drain(sc)
      (r, stages.sortBy(s => (s.id, s.attempt)).toSeq)
    } finally sc.removeSparkListener(listener)
  }

  /** The plan that ran: AQE's final plan once the frame has executed. */
  def finalPlan(df: DataFrame): SparkPlan = df.queryExecution.executedPlan match {
    case a: AdaptiveSparkPlanExec => a.executedPlan
    case p => p
  }

  /** One run and a report of what it executed: the formatted plan
    * (after execution it carries AQE's runtime decisions — skew splits,
    * coalesced readers, join demotions) and the optimizer's per-node
    * sizeInBytes estimates, which drive the STATIC broadcast/SHJ
    * choices, so an underpriced unbounded leg shows up here before it
    * becomes an 8 GiB broadcast failure at scale.
    */
  def explain(build: => DataFrame): (Run, String) = {
    val r = run(build)
    val sb = new StringBuilder(
      r.df.queryExecution.explainString(ExplainMode.fromString("formatted")))
    sb.append("---- optimized-plan sizeInBytes estimates ----\n")
    def walk(p: LogicalPlan, d: Int): Unit = {
      sb.append("  " * d + p.nodeName + "  sizeInBytes=" + p.stats.sizeInBytes + "\n")
      p.children.foreach(walk(_, d + 1))
    }
    walk(r.df.queryExecution.optimizedPlan, 0)
    (r, sb.toString)
  }

  /** PLANS.md: each [[Representative]] query's formatted plan as the
    * planner chose it, before AQE re-plans it on the tiny input's
    * runtime sizes (which would demote every join to a broadcast and
    * hide the scale properties). Each query is then executed through
    * [[Materialize.materializeCount]], so a plan that cannot run fails
    * the dump.
    */
  def plans(spark: SparkSession, sfDir: String): String = {
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans (generated by graft.tools.Probe)\n\n")
    sb.append(s"Input: `$sfDir`. Regenerate: `sbt \"runMain graft.tools.Probe plans <sfDir>\"`.\n")
    Representative.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      Materialize.materializeCount(df)
      sb.append(s"\n## $name\n\n```\n$plan```\n")
    }
    sb.toString
  }

  private val usage = "usage: Probe time <sfDir> <query…> | " +
    "Probe profile <sfDir> <query> [<layoutRoot> <variant>] | " +
    "Probe explain <sfDir> <query…> | Probe plans <sfDir> [<out.md>]"

  private def query(name: String): (SparkSession, String) => DataFrame =
    SparkEntry.queries.getOrElse(name, sys.error(
      s"unknown query '$name'; known: ${SparkEntry.queries.keys.toSeq.sorted.mkString(",")}"))

  def main(args: Array[String]): Unit = {
    val (mode, sfDir, names, extra) = args.toSeq match {
      case Seq(m @ ("time" | "explain"), dir, qs @ _*) if qs.nonEmpty => (m, dir, qs, Nil)
      case Seq("profile", dir, q, layout @ _*) if layout.isEmpty || layout.size == 2 =>
        ("profile", dir, Seq(q), layout)
      case Seq("plans", dir, out @ _*) if out.size <= 1 => ("plans", dir, Nil, out)
      case _ => sys.error(usage)
    }
    names.foreach(query) // unknown names fail before the session starts
    val spark = GraftSession.local()
    try {
      GraftSession.warmUp(spark, sfDir)
      // keep the ANN report queries' lazy lineage so the printed plan
      // is the real computation instead of the released-checkpoint
      // LocalRelation (the executed work is identical; see
      // RecallReport.CpTracker)
      if (mode == "explain" || mode == "plans")
        spark.conf.set("graft.ann.releaseCheckpoints", "false")
      mode match {
        case "time" => names.foreach { name =>
          val r = time(query(name)(spark, sfDir))
          println(f"[probe] $name: ${r.rows} rows in ${r.secs}%.2f s; ${r.counts}")
        }
        case "explain" => names.foreach { name =>
          val (r, report) = explain(query(name)(spark, sfDir))
          println(s"==== $name ====")
          println(f"$name: ${r.rows} rows in ${r.secs}%.2f s; ${r.counts}")
          print(report)
        }
        case "profile" =>
          val name = names.head
          val dir = extra match {
            case Seq(layoutRoot, variant) => graft.sources.Tables.CatalogScheme +
              LayoutBench.register(spark, sfDir, layoutRoot, variant)
            case _ => sfDir
          }
          val (r, stages) = profile(spark, query(name)(spark, dir))
          println(f"query=$name rows=${r.rows} steady-state wall=${r.secs}%.3f s; ${r.counts}")
          println(f"${"stage"}%-5s ${"wall_ms"}%8s ${"run_ms"}%8s ${"cpu_ms"}%8s " +
            f"${"tasks"}%5s ${"input_mb"}%9s ${"in_rows"}%12s ${"shuf_r_mb"}%9s ${"shuf_w_mb"}%9s  name")
          stages.foreach { s =>
            println(f"${s.id}%-5d ${s.wallMs}%8d ${s.runMs}%8d ${s.cpuMs}%8d " +
              f"${s.tasks}%5d ${s.inputBytes / 1e6}%9.1f ${s.inputRows}%12d " +
              f"${s.shuffleReadB / 1e6}%9.2f ${s.shuffleWriteB / 1e6}%9.2f  ${s.name}")
          }
          val stageWall = stages.filter(_.wallMs >= 0).map(_.wallMs).sum / 1e3
          println(f"sum(stage wall)=$stageWall%.3f s; gap to query wall " +
            f"(construction/plan/submit)=${r.secs - stageWall}%.3f s")
        case "plans" =>
          val out = extra.headOption.getOrElse("PLANS.md")
          Files.writeString(Paths.get(out), plans(spark, sfDir))
          println(s"[probe] wrote $out")
      }
    } finally spark.stop()
  }
}
