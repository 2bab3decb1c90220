package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** graft's maintenance benchmark. One process, `local[4]`, one client in a closed loop: each
  * rep starts from a byte-identical copy of the workload's template and runs to completion
  * before the next one starts. See `perfbench/DESIGN.md` for the workloads and metrics.
  *
  * {{{
  * Main --workload <compact_backlog|merge_read_mix|metadata_scale> --seed <n> --seconds <s>
  *      --trace <0|1> --work <dir> --result <file> [--spans <file>] [--size tiny]
  * }}}
  */
object Main {
  val Cores = 4

  /** end-to-end metrics the result line carries */
  val EndToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "scan_files_frac" -> "ratio",
    "files_live_end" -> "count", "write_amp" -> "ratio", "driver_heap_mb" -> "MB")

  /** Printed, and in the traced run's per-layer metrics, but not in the result line (see
    * DESIGN.md): the latencies and the throughput, whose run-to-run spread on a shared 4-core
    * host exceeds the largest bound a result-line metric may have; `cycle_s`, which a change
    * that removes straggler cycles raises while it shortens the drain; and the merge and append
    * latencies, which only one workload has.
    */
  val Unbounded: Seq[(String, String)] = Seq("maint_seq_per_s" -> "1/s",
    "compact_drain_s" -> "s", "scan_full_s" -> "s", "scan_pruned_s" -> "s", "lookup_s" -> "s",
    "cycle_s" -> "s", "merge_cow_s" -> "s", "merge_mor_s" -> "s", "append_commit_s" -> "s")

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }
      .toMap
    def arg(k: String) = a.getOrElse(k, sys.error(s"missing --$k"))
    val workload = arg("workload")
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toDouble
    val traced = arg("trace") == "1"
    val work = Paths.get(arg("work")).toAbsolutePath
    val tiny = a.get("size").contains("tiny")
    val wl: Workload = workload match {
      case "compact_backlog" => new CompactBacklog
      case "merge_read_mix" => new MergeReadMix
      case "metadata_scale" => new MetadataScale
      case other => sys.error(s"unknown workload $other")
    }
    println(s"[perfbench] workload=$workload seed=$seed seconds=$seconds trace=${if (traced) 1 else 0}" +
      s" size=${if (tiny) "tiny" else "normal"} cores=$Cores")

    Tables.deleteTree(work)
    Files.createDirectories(work)
    val spark = session(work)
    try {
      val tracer = new Tracer(traced, s"$workload-$seed")
      val listener = if (traced) Some(new JobListener(tracer)) else None
      listener.foreach(spark.sparkContext.addSparkListener)
      val sampler = if (traced) Some(new DriverSampler(Thread.currentThread())) else None
      sampler.foreach(_.start())
      val ctx = new Ctx(spark, tracer, new Inputs(seed), tiny, work, sampler)
      val result = try run(ctx, wl, seconds) finally sampler.foreach(_.finish())
      val metrics: Seq[(String, Double, String)] =
        if (!traced) EndToEnd.collect { case (n, u) if result.contains(n) => (n, result(n), u) }
        else {
          org.apache.spark.PerfbenchBridge.drainListenerBus(spark.sparkContext)
          val tr = TraceReport(ctx, wl, listener.get.allJobs, result)
          a.get("spans").foreach(p => tr.writeSpans(Paths.get(p)))
          tr.print()
          tr.metrics
        }
      val probeCpu = graft.Bench.hostProbe(spark, passes = 16)
      val probeDisk = graft.Bench.hostProbeDisk()
      println(f"[perfbench] host probes (information only): hostProbe=$probeCpu%.3fs " +
        f"hostProbeDisk=$probeDisk%.3fs")
      val m = ctx.meter
      val json = new StringBuilder
      json ++= s"""{"correct": ${m.failed == 0}, "attempted": ${m.attempted}, """ +
        s""""failed": ${m.failed}, "metrics": {"""
      json ++= metrics.map { case (n, v, u) =>
        require(!v.isNaN && !v.isInfinite, s"metric $n is $v")
        s""""$n": {"value": $v, "unit": "$u"}"""
      }.mkString(", ")
      json ++= "}}"
      Files.writeString(Paths.get(arg("result")), json.toString + "\n")
      println(s"[perfbench] checks run: ${m.checksRun.mkString("; ")}")
      println(s"[perfbench] ops attempted=${m.attempted} failed=${m.failed}")
    } finally {
      spark.stop()
      Tables.deleteTree(work)
    }
  }

  private def session(work: Path): SparkSession = {
    val local = work.resolve("spark-local")
    Files.createDirectories(local)
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.parquet.columnarReaderBatchSize", "256")
      .config("spark.local.dir", local.toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** set-up (inputs and oracle, then three template builds), then measured reps until
    * `seconds` have passed; returns the end-to-end metrics
    */
  def run(ctx: Ctx, wl: Workload, seconds: Double): Map[String, Double] = {
    val (_, prep) = ctx.time(wl.prepare(ctx, ctx.work.resolve("inputs")))
    val builds = (1 to 3).map { i =>
      val (_, s) = ctx.time(wl.build(ctx, ctx.work.resolve(s"template-$i")))
      if (i > 1) Tables.deleteTree(ctx.work.resolve(s"template-${i - 1}"))
      s
    }
    println(f"[perfbench] setup: inputs and oracle $prep%.2f s (not in setup_s), template builds " +
      builds.map(b => f"$b%.2f").mkString(" ") + " s")

    ctx.measuring = true
    ctx.sampler.foreach(_.active = true)
    var reps = 0
    var failedReps = 0
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    ctx.tracer.span("bench", "measured run") {
      while (reps == 0 || elapsed < seconds) {
        reps += 1
        val dir = ctx.work.resolve(s"rep-$reps")
        val before = Seq("runner.cycles", "runner.tasks_executed", "maint.records").map(ctx.meter.total)
        val r0 = System.nanoTime()
        try {
          ctx.tracer.span("bench", s"rep $reps")(wl.rep(ctx, dir))
          val d = Seq("runner.cycles", "runner.tasks_executed", "maint.records").map(ctx.meter.total)
            .zip(before).map { case (x, y) => (x - y).toLong }
          println(f"[perfbench] rep $reps: ${(System.nanoTime() - r0) / 1e9}%.2f s, cycles=${d(0)} " +
            s"tasks=${d(1)} sequences rewritten=${d(2)} " +
            s"files_live_end=${ctx.meter.samples.get("files_live_end").map(_.last.toLong).getOrElse(-1L)}")
        }
        catch {
          case e: Exception => // a rep that throws counts as one more failed operation
            failedReps += 1
            ctx.meter.attempted += 1
            ctx.meter.failed += 1
            System.err.println(s"[perfbench] rep $reps failed: $e")
            e.printStackTrace()
        }
        if (reps > 1) Tables.deleteTree(ctx.work.resolve(s"rep-${reps - 1}"))
      }
    }
    val measured = elapsed
    ctx.measuring = false
    ctx.sampler.foreach(_.active = false)
    val heapMb = usedHeapMb()
    val m = ctx.meter
    println(f"[perfbench] measured $reps reps in $measured%.2f s ($failedReps failed)")
    m.add("reps", reps)
    m.add("measured_s", measured)

    val s = m.samples
    def med(n: String) = Stats.median(s(n).toSeq)
    val latencies = Seq("compact_drain_s", "cycle_s", "scan_full_s", "scan_pruned_s", "lookup_s",
      "merge_cow_s", "merge_mor_s", "append_commit_s").filter(n => s.get(n).exists(_.nonEmpty))
    val out = Map(
      "setup_s" -> Stats.median(builds),
      "maint_seq_per_s" -> m.total("maint.records") / m.total("maint.seconds"),
      "scan_files_frac" -> m.total("scan.files_opened") / m.total("scan.files_live"),
      "files_live_end" -> med("files_live_end"),
      "write_amp" -> med("write_amp"),
      "driver_heap_mb" -> heapMb) ++ latencies.map(n => n -> med(n))
    val units = (EndToEnd ++ Unbounded).toMap
    (EndToEnd ++ Unbounded).map(_._1).foreach { n =>
      val line =
        if (latencies.contains(n)) {
          val tail = Stats.tail(s(n).toSeq).map { case (p, v) => f" $p=$v%.4f" }.getOrElse("")
          f"median=${out(n)}%.4f$tail n=${s(n).size}"
        } else if (out.contains(n)) f"${out(n)}%.4f"
        else "n/a (this workload has no such operation)"
      println(s"[perfbench] metric $n [${units(n)}] $line")
    }
    println(f"[perfbench] metric op_fail_frac [ratio] ${m.failed.toDouble / math.max(1L, m.attempted)}%.4f " +
      s"(${m.failed} of ${m.attempted})")
    out
  }

  /** Retained driver heap after GC. Spark's ContextCleaner frees cached blocks and broadcasts
    * on its own thread once a GC finds their handles unreachable, so collect until two readings
    * agree within 1 %.
    */
  def usedHeapMb(): Double = {
    val rt = Runtime.getRuntime
    def used(): Double = { System.gc(); Thread.sleep(150); (rt.totalMemory - rt.freeMemory) / 1e6 }
    var prev = used()
    var cur = used()
    var n = 0
    while (math.abs(cur - prev) > 0.01 * prev && n < 8) { prev = cur; cur = used(); n += 1 }
    cur
  }
}

/** The traced run's per-layer metrics, per measured rep, and its span file. */
final case class TraceReport(ctx: Ctx, wl: Workload, jobs: Seq[JobRec], e2e: Map[String, Double]) {
  private val spans = ctx.tracer.allSpans
  private val root = spans.find(_.name == "measured run").get
  private val children = spans.groupBy(_.parent)
  private val inRun: Set[Int] = {
    val acc = mutable.Set(root.id)
    var frontier = Seq(root.id)
    while (frontier.nonEmpty) {
      frontier = frontier.flatMap(id => children.getOrElse(id, Nil).map(_.id))
      acc ++= frontier
    }
    acc.toSet
  }
  private val runJobs = jobs.filter(j => inRun.contains(j.span))
  private val byId = spans.map(s => s.id -> s).toMap
  private val jobsBySpan = runJobs.groupBy(_.span)
  private val m = ctx.meter
  private val reps = m.total("reps")

  /** length of the union of intervals, clipped to [lo, hi] */
  private def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0
    var end = lo
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }.filter(x => x._2 > x._1)
      .sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { total += b - math.max(a, end); end = b }
      }
    total
  }

  def selfMs(s: Span): Double =
    s.dur - covered(children.getOrElse(s.id, Nil).map(c => (c.start, c.end)), s.start, s.end)

  /** span time during which none of the span's own jobs ran: driver-serial work */
  def driverMs(s: Span): Double =
    selfMs(s) - covered(jobsBySpan.getOrElse(s.id, Nil).map(j => (j.start, j.end)), s.start, s.end)

  private def perRep(x: Double) = x / reps
  private def med(n: String) =
    m.samples.get(n).filter(_.nonEmpty).map(x => Stats.median(x.toSeq)).getOrElse(0.0)
  private def sum(n: String) = m.samples.get(n).map(_.sum).getOrElse(0.0)
  private def jobsOf(module: String) = runJobs.filter(_.modules.contains(module))
  private def spansNamed(n: String) = spans.filter(s => inRun.contains(s.id) && s.name == n)

  /** per-stage max ÷ median task time, median over the stages with at least two tasks */
  private def skew(js: Seq[JobRec]): Double = {
    val ratios = js.flatMap(_.stageTaskMs.values).filter(_.size >= 2).map { ts =>
      ts.max.toDouble / math.max(1.0, Stats.median(ts.map(_.toDouble).toSeq))
    }
    if (ratios.isEmpty) 0.0 else Stats.median(ratios)
  }

  lazy val metrics: Seq[(String, Double, String)] = {
    val t = wl.lastTable.get
    val head = t.currentSnapshot()
    val cycles = spansNamed("MaintenanceRunner.runCycle")
    val writeJobs = runJobs.filter(j => j.site.startsWith("SeqIO.writeFiles/") &&
      !j.site.endsWith("/collect"))
    val statsJobs = runJobs.filter(_.site == "SeqIO.writeFiles/collect")
    val scanSpans = Set("SeqIO.scanPruned", "SeqIO.lookupKeys", "SeqIO.read")
    val scanJobs = runJobs.filter(j => byId.get(j.span).exists(s => scanSpans.contains(s.name)))
    val rewriteJobs = jobsOf("ops.rewrite")
    val mergeJobs = jobsOf("ops.merge")
    val cycleIds = cycles.map(_.id).toSet
    val stateLog = ctx.work.resolve(s"rep-${reps.toInt}/state/maintenance-log.jsonl")
    val (stateEvents, stateBytes) =
      if (Files.exists(stateLog))
        (Files.readAllLines(stateLog).size.toDouble, Files.size(stateLog).toDouble)
      else (0.0, 0.0)
    val taskS = runJobs.map(_.taskMs).sum / 1e3
    Seq(
      ("runner.cycles", perRep(m.total("runner.cycles")), "count"),
      ("runner.tasks_executed", perRep(m.total("runner.tasks_executed")), "count"),
      ("runner.records_rewritten", perRep(m.total("runner.records_rewritten")), "count"),
      ("runner.driver_s", perRep(cycles.map(driverMs).sum / 1e3), "s"),
      ("runner.cycle_s", med("cycle_s"), "s"),
      ("runner.compact_drain_s", med("compact_drain_s"), "s"),
      ("ops.maint_seq_per_s", e2e("maint_seq_per_s"), "1/s"),
      ("planner.plan_s", perRep(sum("planner.plan_s")), "s"),
      ("planner.pressure_s", perRep(sum("planner.pressure_s")), "s"),
      ("planner.jobs", perRep(runJobs.count(j =>
        cycleIds.contains(j.span) && j.modules.contains("planner")).toDouble), "count"),
      ("planner.claim_frac", med("planner.claim_frac"), "ratio"),
      ("table.manifest_read_s", med("table.manifest_read_s"), "s"),
      ("table.manifest_parses", perRep(m.total("table.manifest_parses")), "count"),
      ("table.commit_s", perRep(ctx.sampler.map(_.seconds("SeqTable.commit")).getOrElse(0.0)), "s"),
      ("table.commit_attempts", perRep(m.total("table.commits") + m.total("merge.retries")),
        "count"),
      ("table.manifests_live", head.manifests.size.toDouble, "count"),
      ("table.manifest_bytes", head.manifests.map(n =>
        Files.size(Paths.get(t.root, "metadata", n))).sum.toDouble, "bytes"),
      ("table.rewrite_manifests_s", perRep(sum("table.rewrite_manifests_s")), "s"),
      ("table.expire_s", perRep(sum("table.expire_s")), "s"),
      ("table.append_commit_s", med("append_commit_s"), "s"),
      ("io.write_job_s", perRep(writeJobs.map(_.dur).sum / 1e3), "s"),
      ("io.stats_job_s", perRep(statsJobs.map(_.dur).sum / 1e3), "s"),
      ("io.stats_input_bytes", perRep(statsJobs.map(_.inputBytes).sum.toDouble), "bytes"),
      ("io.files_written", perRep(m.total("io.files_written")), "count"),
      ("io.bytes_written", perRep(m.total("io.bytes_written")), "bytes"),
      ("io.scan_input_bytes", perRep(scanJobs.map(_.inputBytes).sum.toDouble), "bytes"),
      ("io.files_opened", perRep(m.total("scan.files_opened") + m.total("lookup.files_opened")),
        "count"),
      ("io.delete_tax_s", med("io.delete_tax_s"), "s"),
      ("io.scan_full_s", med("scan_full_s"), "s"),
      ("io.scan_pruned_s", med("scan_pruned_s"), "s"),
      ("io.lookup_s", med("lookup_s"), "s"),
      ("rewrite.shuffle_write_bytes", perRep(rewriteJobs.map(_.shuffleWriteBytes).sum.toDouble),
        "bytes"),
      ("rewrite.spill_bytes", perRep(rewriteJobs.map(_.spillBytes).sum.toDouble), "bytes"),
      ("rewrite.task_cpu_s", perRep(rewriteJobs.map(_.cpuNs).sum / 1e9), "s"),
      ("rewrite.gc_s", perRep(rewriteJobs.map(_.gcMs).sum / 1e3), "s"),
      ("rewrite.task_skew", skew(rewriteJobs), "ratio"),
      ("merge.cow_s", med("merge_cow_s"), "s"),
      ("merge.mor_s", med("merge_mor_s"), "s"),
      ("merge.files_rewritten", perRep(m.total("merge.files_rewritten")), "count"),
      ("merge.prune_frac", if (m.total("merge.live_files") == 0) 0.0
        else m.total("merge.files_rewritten") / m.total("merge.live_files"), "ratio"),
      ("merge.records_written", perRep(m.total("merge.records_written")), "count"),
      ("merge.jobs", perRep(mergeJobs.size.toDouble), "count"),
      ("merge.shuffle_bytes", perRep(mergeJobs.map(_.shuffleWriteBytes).sum.toDouble), "bytes"),
      ("state.events", stateEvents, "count"),
      ("state.bytes", stateBytes, "bytes"),
      ("spark.jobs", perRep(runJobs.size.toDouble), "count"),
      ("spark.tasks", perRep(runJobs.map(_.tasks).sum.toDouble), "count"),
      ("spark.task_s", perRep(taskS), "s"),
      ("spark.cpu_s", perRep(runJobs.map(_.cpuNs).sum / 1e9), "s"),
      ("spark.gc_s", perRep(runJobs.map(_.gcMs).sum / 1e3), "s"),
      ("spark.sched_delay_s", perRep(runJobs.map(_.schedDelayMs).sum / 1e3), "s"),
      ("spark.idle_core_frac", 1.0 - taskS / (root.dur / 1e3 * Main.Cores), "ratio"))
  }

  /** self times of every span under the root, summed, as a share of the root span */
  def selfCoverage: Double = spans.filter(s => inRun.contains(s.id)).map(selfMs).sum / root.dur

  def print(): Unit = {
    println(f"[perfbench] trace: ${inRun.size} spans, ${runJobs.size} jobs; self times cover " +
      f"${selfCoverage * 100}%.2f%% of the root span (${root.dur / 1e3}%.2f s)")
    spans.filter(s => inRun.contains(s.id)).groupBy(_.layer).toSeq.sortBy(_._1).foreach {
      case (layer, ss) =>
        println(f"[perfbench] trace layer $layer%-11s spans=${ss.size}%4d " +
          f"self=${perRep(ss.map(selfMs).sum) / 1e3}%.3f s/rep " +
          f"driver=${perRep(ss.map(driverMs).sum) / 1e3}%.3f s/rep")
    }
    runJobs.groupBy(j => (byId(j.span).name, j.site)).toSeq.sortBy(-_._2.map(_.dur).sum).take(25)
      .foreach { case ((span, site), js) =>
        println(f"[perfbench] trace jobs in $span%-36s $site%-48s n=${js.size}%4d " +
          f"wall=${perRep(js.map(_.dur).sum) / 1e3}%.3f s/rep")
      }
    metrics.foreach { case (n, v, u) => println(f"[perfbench] layer $n [$u] $v%.4f") }
    println(f"[perfbench] end-to-end under tracing (compare with the untraced run for the " +
      f"overhead): " + Main.EndToEnd.collect { case (n, _) if e2e.contains(n) => f"$n=${e2e(n)}%.4f" }
      .mkString(" "))
  }

  def writeSpans(p: Path): Unit = {
    Files.createDirectories(p.getParent)
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val lines = spans.filter(s => inRun.contains(s.id)).map { s =>
      f"""{"type": "span", "id": ${s.id}, "parent": ${s.parent}, "run": ${q(s.run)}, """ +
        f""""name": ${q(s.name)}, "layer": ${q(s.layer)}, "start_ms": ${s.start}%.3f, """ +
        f""""end_ms": ${s.end}%.3f, "self_ms": ${selfMs(s)}%.3f, "driver_ms": ${driverMs(s)}%.3f}"""
    } ++ runJobs.map { j =>
      f"""{"type": "job", "id": ${j.jobId}, "span": ${j.span}, "site": ${q(j.site)}, """ +
        f""""layer": ${q(j.layer)}, "start_ms": ${j.start}%.3f, "end_ms": ${j.end}%.3f, """ +
        f""""tasks": ${j.tasks}, "task_ms": ${j.taskMs}, "cpu_ms": ${j.cpuNs / 1e6}%.3f, """ +
        f""""gc_ms": ${j.gcMs}, "input_bytes": ${j.inputBytes}, """ +
        f""""shuffle_write_bytes": ${j.shuffleWriteBytes}}"""
    }
    Files.writeString(p, lines.mkString("\n") + "\n")
  }
}
