package graftbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer

import graft.GraftSession
import graft.tools.Materialize
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Closed-loop harness for one benchmark run: one thread issues one
  * operation at a time to a `local[cpus]` session built like
  * `graft.Bench`'s. Writes `result.json` (and, traced, `spans.jsonl`)
  * into `--out`; run.py turns that into the benchmark's result line.
  *
  * {{{ java -cp <classpath> graftbench.Harness --workload dq_fact --data <dir>
  *       --out <dir> --seconds 10 --trace 0 --cpus 4 }}}
  */
object Harness {

  final case class Sample(op: String, pass: Int, traced: Boolean, t0: Long, t1: Long,
                          t2: Long, loads: Seq[(Long, Long)], startMs: Long,
                          buildEndMs: Long, endMs: Long, runqueueWaitNs: Long,
                          error: Option[String]) {
    def loadNs: Long = loads.map { case (a, b) => b - a }.sum
    def wallS: Double = (t2 - t0) / 1e9
  }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def build(cpus: Int): SparkSession = {
    val s = GraftSession.tune(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Bench's warm-up, plus one scan of the workload's own data. */
  def warm(spark: SparkSession, workload: String, dir: String): Unit = {
    spark.range(1000000).selectExpr("sum(id)").collect()
    val (sub, table) = Workloads.warmTable(workload)
    graft.sources.Tables(spark, if (sub.isEmpty) dir else s"$dir/$sub", table).count()
  }

  private def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  private def wideSchemas(spark: SparkSession, dir: String): Seq[(String, Seq[(String, String)])] = {
    val names = graft.sources.Tables.discover(spark, s"$dir/src", "parquet")
    names.map { t =>
      t -> spark.read.parquet(s"$dir/src/$t.parquet").schema.fields.toSeq.map { f =>
        f.name -> (f.dataType.simpleString match {
          case "timestamp_ntz" => "timestamp"
          case other => other
        })
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val dir = new File(opt("data")).getAbsolutePath
    val out = new File(opt("out")).getAbsoluteFile
    val seconds = opt("seconds").toDouble
    val trace = opt.getOrElse("trace", "0") == "1"
    val cpus = opt("cpus").toInt
    out.mkdirs()
    var phaseMs = jvmStartMs
    def phase(what: String): Unit = {
      val now = System.currentTimeMillis()
      System.err.println(f"[harness] $what: ${(now - phaseMs) / 1e3}%.1f s, peak RSS ${vmHwmMb()}%.0f MB, heap ${Runtime.getRuntime.totalMemory / 1048576}%d MB")
      phaseMs = now
    }

    // --- set-up: the cold session build and warm-up of this process
    val buildStart = System.nanoTime()
    val spark = build(cpus)
    val built = System.nanoTime()
    warm(spark, workload, dir)
    val warmed = System.nanoTime()
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val sc = spark.sparkContext
    phase("setup")

    val ops = Workloads.ops(workload,
      if (workload == "dq_wide") wideSchemas(spark, dir) else Nil)
    val results = new File(out, "results")
    val writeDir = new File(out, "written")
    val collector = new Collector(cpus)
    val samples = ArrayBuffer.empty[Sample]
    var maxBlocks = 0L
    var maxStorage = 0L
    var maxActiveJobs = 0

    def runOp(op: Op, pass: Int, traced: Boolean, dump: Boolean): Sample = {
      val ctx = new Ctx(spark, dir)
      if (traced) sc.setJobGroup(s"${op.name}@$pass", op.name)
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      var t1 = t0
      var buildEndMs = startMs
      var df: DataFrame = null
      var waits = Map.empty[String, Long]
      val err =
        try {
          df = op.build(ctx)
          t1 = System.nanoTime()
          buildEndMs = System.currentTimeMillis()
          if (traced) waits = Collector.runqueueWaits()
          if (op.write) df.write.mode("overwrite").parquet(new File(writeDir, op.name).getPath)
          else if (dump) df.write.mode("overwrite").parquet(new File(results, op.name).getPath)
          else Materialize.materializeCount(df)
          None
        } catch {
          case e: Throwable =>
            System.err.println(s"== benchmark failure in ${op.name} ==")
            e.printStackTrace()
            Some(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString}")
        }
      val t2 = System.nanoTime()
      val endMs = System.currentTimeMillis()
      val waitNs = if (traced) Collector.runqueueWaitSince(waits) else 0L
      if (traced) sc.clearJobGroup()
      // hygiene: what the operation left behind
      val infos = sc.getRDDStorageInfo
      maxBlocks = math.max(maxBlocks, infos.map(_.numCachedPartitions.toLong).sum)
      maxStorage = math.max(maxStorage, infos.map(i => i.memSize + i.diskSize).sum)
      maxActiveJobs = math.max(maxActiveJobs, sc.statusTracker.getActiveJobIds().length)
      val sample = Sample(op.name, pass, traced, t0, t1, t2, ctx.loads.toSeq, startMs,
        buildEndMs, endMs, waitNs, err)
      if (traced && df != null) collector.recordScans(sample, df, op.write)
      sample
    }

    // --- check pass: every output is written for run.py to check; it
    // also warms each operation's code paths before timing starts
    samples ++= ops.map(op => runOp(op, 0, traced = false, dump = true))
    phase("check pass")
    val oracles = ops.collect { case Op(n, _, Some(sql), _) => n -> sql }

    var candidatesPerPair = 0.0
    if (trace && workload == "llm_curate") {
      import graft.operators.dedup.Dedup.MinHashDedup
      val docs = graft.sources.Tables(spark, dir, "documents")
      val cands = MinHashDedup.candidatePairs(MinHashDedup.signatures(docs)).count()
      val pairs = MinHashDedup.nearDuplicates(docs, Workloads.NearDupThreshold).count()
      candidatesPerPair = cands.toDouble / math.max(1L, pairs)
    }

    // --- timed passes; traced runs interleave untraced and traced passes
    // as U T T U U T T U ..., so a warm-up trend over the passes falls
    // equally on both and their difference is the tracing overhead
    val passWalls = ArrayBuffer.empty[(Boolean, Double)]
    val runStart = System.nanoTime()
    var pass = 1
    def elapsed = (System.nanoTime() - runStart) / 1e9
    def minPasses = if (trace) 8 else 2
    while (pass <= minPasses || elapsed + median(passWalls.map(_._2).toSeq) <= seconds) {
      val traced = trace && (pass % 4 == 2 || pass % 4 == 3)
      if (traced) collector.attach(sc)
      val p0 = System.nanoTime()
      val ps = ops.map(op => runOp(op, pass, traced, dump = false))
      passWalls += ((traced, (System.nanoTime() - p0) / 1e9))
      if (traced) collector.detach(sc)
      samples ++= ps
      pass += 1
    }

    phase(s"${passWalls.size} timed passes")
    val untracedWalls = passWalls.collect { case (false, w) => w }.toSeq
    val wall = median(untracedWalls)
    val errors = samples.flatMap(s => s.error.map(e => s"${s.op}@${s.pass}: $e"))
    val metrics = scala.collection.mutable.LinkedHashMap[String, Double](
      "setup_s" -> setupS, "wall_s" -> wall, "peak_rss_mb" -> vmHwmMb())
    val layer = scala.collection.mutable.LinkedHashMap[String, Double](
      "session.build_s" -> (built - buildStart) / 1e9,
      "session.warmup_s" -> (warmed - built) / 1e9,
      "cache.blocks_left" -> maxBlocks.toDouble,
      "cache.peak_storage_bytes" -> maxStorage.toDouble,
      "hygiene.max_active_jobs" -> maxActiveJobs.toDouble)
    val opNames = ops.map(_.name)
    for (n <- opNames)
      layer(s"op.${n}_s") = median(samples.toSeq.filter(s => s.op == n && s.pass > 0 && !s.traced).map(_.wallS))
    var spans = Seq.empty[String]
    if (trace) {
      collector.drain(sc)
      val traced = samples.toSeq.filter(_.traced)
      val report = collector.report(traced, writeDir, ops.filter(_.write).map(_.name).toSet)
      layer ++= report.perPass
      layer("dedup.candidates_per_pair") = candidatesPerPair
      val tracedWall = median(passWalls.collect { case (true, w) => w }.toSeq)
      layer("trace.overhead_frac") = if (wall > 0) (tracedWall - wall) / wall else 0.0
      // each op's directly measured parts against its untraced wall
      layer("trace.split_max_err") = opNames.map { n =>
        val untraced = layer(s"op.${n}_s")
        val passes = report.opParts.getOrElse(n, Nil)
        val parts = median(passes.map(_.sum))
        val each = Collector.PartNames.indices.map(i => f"${Collector.PartNames(i)} ${median(passes.map(_(i)))}%.3f")
        System.err.println(f"[harness] split $n: parts $parts%.3f s (${each.mkString(", ")}), untraced wall $untraced%.3f s")
        if (untraced > 0) math.abs(parts - untraced) / untraced else 0.0
      }.maxOption.getOrElse(0.0)
      spans = collector.spans(samples.toSeq.filter(_.traced))
    }
    spark.stop()

    def num(d: Double) = if (d.isNaN || d.isInfinite) "0" else d.toString
    def str(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    def obj(m: Iterable[(String, Double)]) = m.map { case (k, v) => s"${str(k)}: ${num(v)}" }.mkString("{", ", ", "}")
    val json =
      s"""{"workload": ${str(workload)}, "passes": ${passWalls.size},
         | "pass_walls": [${passWalls.map(p => s"[${p._1}, ${num(p._2)}]").mkString(", ")}],
         | "samples": [${samples.map(s => s"[${str(s.op)}, ${s.pass}, ${s.traced}, ${num(s.wallS)}]").mkString(", ")}],
         | "attempted": ${samples.size}, "errors": [${errors.map(str).mkString(", ")}],
         | "metrics": ${obj(metrics)}, "per_layer": ${obj(layer)},
         | "oracles": {${oracles.map { case (n, q) => s"${str(n)}: ${str(q)}" }.mkString(", ")}},
         | "ops": [${opNames.map(str).mkString(", ")}],
         | "write_ops": [${ops.filter(_.write).map(o => str(o.name)).mkString(", ")}]}""".stripMargin
    val pw = new PrintWriter(new File(out, "result.json"))
    try pw.println(json) finally pw.close()
    if (spans.nonEmpty) {
      val sw = new PrintWriter(new File(out, "spans.jsonl"))
      try spans.foreach(sw.println) finally sw.close()
    }
  }
}
