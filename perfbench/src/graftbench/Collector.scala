package graftbench

import java.io.File
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** Walks adaptive plans and their query stages. */
object ScanPlans extends AdaptiveSparkPlanHelper

object Collector {
  /** Nanoseconds each of Spark's task threads has spent ready to run
    * but waiting for a CPU, by thread id, from the kernel's schedstat.
    */
  def runqueueWaits(): Map[String, Long] =
    Option(new File("/proc/self/task").listFiles()).toSeq.flatten.flatMap { d =>
      try {
        val comm = new String(Files.readAllBytes(new File(d, "comm").toPath)).trim
        if (!comm.startsWith("Executor task")) None
        else Some(d.getName ->
          new String(Files.readAllBytes(new File(d, "schedstat").toPath)).trim.split(" ")(1).toLong)
      } catch { case _: java.io.IOException => None }
    }.toMap

  /** Run-queue wait of the task threads since `before` was read. */
  def runqueueWaitSince(before: Map[String, Long]): Long =
    runqueueWaits().map { case (tid, ns) => ns - before.getOrElse(tid, 0L) }.sum

  final case class StageRec(stageId: Int, group: String, submitMs: Long, endMs: Long,
                            tasks: Int, inBytes: Long, inRecs: Long, shRead: Long,
                            fetchWaitMs: Long, shWrite: Long, runMs: Long, cpuNs: Long,
                            gcMs: Long, spill: Long, outBytes: Long)

  /** One finished task: when it ran, and the milliseconds its own
    * metrics give for reading input files (the scan node's `scan time`),
    * blocking on shuffle writes and fetches, and computing: running on a
    * CPU or stopped for GC.
    */
  final case class TaskRec(group: String, launchMs: Long, finishMs: Long, scanMs: Double,
                           exchangeMs: Double, cpuMs: Double)

  /** The parts of an operation's wall, in the order of [[Report.opParts]]. */
  val PartNames = Seq("load", "construct", "sched_gap", "scan", "exchange", "compute")

  /** Per-layer figures (medians over the traced passes of per-pass
    * totals) and, per operation, its measured parts in each traced pass.
    */
  final case class Report(perPass: Map[String, Double], opParts: Map[String, Seq[Seq[Double]]])
}

/** Traced-run collector. A `SparkListener` attached for the traced
  * passes only; every job carries the job group `<op>@<pass>` set by the
  * harness, so each stage is attributed to the operation that ran it.
  * Nothing here reads the program's own bookkeeping: all figures come
  * from the scheduler's events, task and scan-node metrics, the SQL
  * status store, the kernel's schedstat and the file system.
  */
final class Collector(cpus: Int) extends SparkListener {
  import Collector._

  private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val jobs = new ConcurrentLinkedQueue[String]()
  private val stages = new ConcurrentLinkedQueue[StageRec]()
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val scans = mutable.Map.empty[(String, Int), (Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    jobs.add(g)
    e.stageIds.foreach(s => stageGroup.putIfAbsent(s, g))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val m = si.taskMetrics
    val g = Option(stageGroup.get(si.stageId)).getOrElse("")
    if (m != null && g.nonEmpty)
      stages.add(StageRec(si.stageId, g, si.submissionTime.getOrElse(0L),
        si.completionTime.getOrElse(0L), si.numTasks,
        m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleReadMetrics.fetchWaitTime,
        m.shuffleWriteMetrics.bytesWritten, m.executorRunTime, m.executorCpuTime,
        m.jvmGCTime, m.memoryBytesSpilled + m.diskBytesSpilled, m.outputMetrics.bytesWritten))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = Option(stageGroup.get(e.stageId)).getOrElse("")
    val m = e.taskMetrics
    val i = e.taskInfo
    if (m != null && g.nonEmpty && i.finishTime > 0) {
      val scanMs = i.accumulables.filter(_.name.contains("scan time"))
        .flatMap(_.update).map(v => math.max(0.0, v.toString.toDouble)).sum
      tasks.add(TaskRec(g, i.launchTime, i.finishTime, scanMs,
        m.shuffleWriteMetrics.writeTime / 1e6 + m.shuffleReadMetrics.fetchWaitTime,
        m.executorCpuTime / 1e6 + m.jvmGCTime))
    }
  }

  def attach(sc: SparkContext): Unit = sc.addSparkListener(this)

  def drain(sc: SparkContext): Unit = org.apache.spark.graftbench.Bus.drain(sc)

  /** Stop listening after a traced pass. */
  def detach(sc: SparkContext): Unit = {
    drain(sc)
    sc.removeSparkListener(this)
  }

  /** Files and bytes the scans of `df`'s executed plan read, from the
    * scan nodes' own metrics. Writes run their query under a SQL
    * execution of their own, so for them the SQL status store is read:
    * every execution submitted within [fromMs, toMs].
    */
  def recordScans(s: Harness.Sample, df: DataFrame, write: Boolean): Unit = {
    val stats: Seq[(Long, Long)] =
      if (!write) ScanPlans.collect(df.queryExecution.executedPlan) {
        case f: FileSourceScanExec =>
          (f.metrics.get("numFiles").map(_.value).getOrElse(0L),
            f.metrics.get("filesSize").map(_.value).getOrElse(0L))
      }
      else {
        drain(df.sparkSession.sparkContext)
        val store = df.sparkSession.sharedState.statusStore
        store.executionsList().filter(x => x.submissionTime >= s.startMs && x.submissionTime <= s.endMs)
          .flatMap { x =>
            val byName = x.metrics.map(m => m.accumulatorId -> m.name).toMap
            val values = store.executionMetrics(x.executionId)
            def sum(name: String) = values.collect {
              case (id, v) if byName.get(id).contains(name) =>
                v.replaceAll("[^0-9]", "").toLongOption.getOrElse(0L)
            }.sum
            Seq((sum("number of files read"), sum("size of files read")))
          }
      }
    scans((s.op, s.pass)) = (stats.map(_._1).sum, stats.map(_._2).sum)
  }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Seconds of [lo, hi] spent in scan, exchange and compute, and with
    * none of the operation's tasks running (the scheduling gap). A
    * moment when n tasks run gives each of them 1/n of it, and a task's
    * share goes to scan, exchange and compute in the proportions of its
    * duration that its own metrics measured. Compute also takes the
    * task threads' run-queue wait (`waitMs`, thread time, scaled to wall
    * the same way on average). The parts are measured independently (a
    * scan's decoding also counts as CPU time; lock or I/O waits count in
    * none), so they are not bound to add up to the wall.
    */
  private def split(lo: Long, hi: Long, ts: Seq[TaskRec],
                    waitMs: Double): (Double, Double, Double, Double) = {
    val iv = ts.map(t => (math.max(lo, t.launchMs), math.min(hi, t.finishMs), t))
      .filter(x => x._2 > x._1)
    val cuts = (iv.flatMap(x => Seq(x._1, x._2)) ++ Seq(lo, hi)).distinct.sorted
    val acc = Array(0.0, 0.0, 0.0, 0.0)
    cuts.sliding(2).foreach {
      case Seq(a, b) if b > a =>
        val active = iv.filter(x => x._1 <= a && x._2 >= b).map(_._3)
        if (active.isEmpty) acc(3) += b - a
        else active.foreach { t =>
          val w = (b - a).toDouble / active.size / math.max(1L, t.finishMs - t.launchMs)
          acc(0) += w * t.scanMs
          acc(1) += w * t.exchangeMs
          acc(2) += w * t.cpuMs
        }
      case _ =>
    }
    val taskMs = iv.map(x => x._2 - x._1).sum
    if (taskMs > 0) acc(2) += waitMs * (hi - lo - acc(3)) / taskMs
    (acc(0) / 1e3, acc(1) / 1e3, acc(2) / 1e3, acc(3) / 1e3)
  }

  def report(samples: Seq[Harness.Sample], writeDir: File, writeOps: Set[String]): Report = {
    val byGroup = stages.asScala.toSeq.groupBy(_.group)
    val tasksByGroup = tasks.asScala.toSeq.groupBy(_.group)
    val jobCount = jobs.asScala.toSeq.groupBy(identity).map { case (g, v) => g -> v.size }
    val parts = mutable.Map.empty[String, mutable.ArrayBuffer[Seq[Double]]]
    val perPass = samples.groupBy(_.pass).toSeq.map { case (_, ps) =>
      val m = mutable.Map.empty[String, Double].withDefaultValue(0.0)
      ps.foreach { s =>
        val g = s"${s.op}@${s.pass}"
        val recs = byGroup.getOrElse(g, Nil)
        val (scan, exch, comp, gap) = split(s.buildEndMs, s.endMs, tasksByGroup.getOrElse(g, Nil),
          s.runqueueWaitNs / 1e6)
        val load = s.loadNs / 1e9
        val construct = (s.t1 - s.t0 - s.loadNs) / 1e9
        parts.getOrElseUpdate(s.op, mutable.ArrayBuffer.empty) +=
          Seq(load, construct, gap, scan, exch, comp)
        m("sources.load_s") += load
        m("operators.construct_s") += construct
        m("spark.scan_s") += scan
        m("spark.exchange_s") += exch
        m("spark.compute_s") += comp
        m("spark.sched_gap_s") += gap
        m("spark.jobs") += jobCount.getOrElse(g, 0)
        m("spark.stages") += recs.size
        m("spark.tasks") += recs.map(_.tasks).sum
        val (files, bytes) = scans.getOrElse((s.op, s.pass), (0L, 0L))
        m("sources.bytes_read") += bytes
        m("sources.files_read") += files
        m("sources.rows_read") += recs.map(_.inRecs).sum
        m("spark.shuffle_write_bytes") += recs.map(_.shWrite).sum
        m("spark.shuffle_read_bytes") += recs.map(_.shRead).sum
        m("spark.fetch_wait_s") += recs.map(_.fetchWaitMs).sum / 1e3
        m("spark.spill_bytes") += recs.map(_.spill).sum
        m("spark.task_run_s") += recs.map(_.runMs).sum / 1e3
        m("spark.task_cpu_s") += recs.map(_.cpuNs).sum / 1e9
        m("spark.gc_s") += recs.map(_.gcMs).sum / 1e3
        if (writeOps(s.op)) {
          m("sources.write_s") += (s.t2 - s.t1) / 1e9
          m("sources.bytes_written") += recs.map(_.outBytes).sum
          m("sources.files_written") += Option(new File(writeDir, s.op).listFiles())
            .map(_.count(f => f.getName.startsWith("part-"))).getOrElse(0)
        }
      }
      val wall = ps.map(_.wallS).sum
      m("spark.cpu_util") = if (wall > 0) m("spark.task_cpu_s") / (wall * cpus) else 0.0
      m.toMap
    }
    val keys = perPass.flatMap(_.keys).distinct
    Report(keys.map(k => k -> median(perPass.map(_.getOrElse(k, 0.0)))).toMap,
      parts.map { case (k, v) => k -> v.toSeq }.toMap)
  }

  /** One JSON line per span: passes, operations, their `sources` calls,
    * construction, and every stage the scheduler ran for them.
    */
  def spans(samples: Seq[Harness.Sample]): Seq[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    var next = 0
    def span(parent: Int, name: String, start: Double, end: Double): Int = {
      next += 1
      out += f"""{"run": 1, "id": $next, "parent": $parent, "name": "$name", "start_ms": $start%.3f, "end_ms": $end%.3f}"""
      next
    }
    val byGroup = stages.asScala.toSeq.groupBy(_.group)
    samples.groupBy(_.pass).toSeq.sortBy(_._1).foreach { case (pass, ps) =>
      val p = span(0, s"pass.$pass", ps.map(_.startMs).min.toDouble, ps.map(_.endMs).max.toDouble)
      ps.sortBy(_.t0).foreach { s =>
        def ms(ns: Long) = s.startMs + (ns - s.t0) / 1e6
        val o = span(p, s"op.${s.op}", s.startMs.toDouble, ms(s.t2))
        s.loads.foreach { case (a, b) => span(o, "sources.load", ms(a), ms(b)) }
        span(o, "operators.construct", s.startMs.toDouble, ms(s.t1))
        byGroup.getOrElse(s"${s.op}@${s.pass}", Nil).sortBy(_.submitMs).foreach { r =>
          span(o, s"spark.stage.${r.stageId}", r.submitMs.toDouble, r.endMs.toDouble)
        }
      }
    }
    out.toSeq
  }
}
