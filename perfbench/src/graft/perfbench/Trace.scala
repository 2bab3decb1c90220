package graft.perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._

/** A call the benchmark made into one layer. Times are milliseconds since the tracer started. */
final case class Span(id: Int, parent: Int, name: String, layer: String, run: String,
    start: Double, end: Double) {
  def dur: Double = end - start
}

/** One Spark job, attributed to the benchmark span that was open when the job started. `site` is
  * the job's call site without its line number: the innermost graft frame plus the Spark action,
  * e.g. `SeqIO.writeFiles/parquet`. `modules` are the layers of every graft frame on the stack.
  */
final class JobRec(val jobId: Int, val span: Int, val site: String, val layer: String,
    val modules: Set[String], val start: Double) {
  var end: Double = start
  var tasks = 0
  var taskMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var schedDelayMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  /** per-stage task durations (ms), for the straggler ratio */
  val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  def dur: Double = end - start
}

/** Spans are kept in memory and written out once, at the end of the run. With `enabled = false`
  * every call is a plain pass-through: the untraced run pays for nothing but a branch.
  */
final class Tracer(val enabled: Boolean, val run: String) {
  private val t0Nanos = System.nanoTime()
  private val t0Millis = System.currentTimeMillis()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[(Int, String)] = Nil
  @volatile private var open: (Int, String) = (-1, "none")
  private var nextId = 0

  def nowMs: Double = (System.nanoTime() - t0Nanos) / 1e6
  /** a listener event time (epoch ms) on the span clock */
  def fromEpochMs(t: Long): Double = (t - t0Millis).toDouble

  def openSpan: (Int, String) = open

  def span[T](layer: String, name: String)(f: => T): T =
    if (!enabled) f
    else {
      nextId += 1
      val id = nextId
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      stack = (id, layer) :: stack
      open = (id, layer)
      val start = nowMs
      try f
      finally {
        val end = nowMs
        stack = stack.tail
        open = stack.headOption.getOrElse((-1, "none"))
        spans += Span(id, parent, name, layer, run, start, end)
      }
    }

  def allSpans: Seq[Span] = spans.toSeq
}

object Layers {
  /** The layer a graft class belongs to; None for frames of the benchmark itself. */
  def of(cls: String): Option[String] = {
    val simple = cls.split('.').last.takeWhile(_ != '$')
    if (!cls.startsWith("graft.") || cls.startsWith("graft.perfbench.")) None
    else Some(simple match {
      case "MaintenanceRunner" | "MaterializeDeletes" => "ops.runner"
      case "MaintenancePlanner" | "DeletePressure" => "planner"
      case _ if cls.startsWith("graft.planner.") => "planner"
      case "SeqTable" => "table.meta"
      case _ if cls.startsWith("graft.table.") => "table.io"
      case "Rewrite" => "ops.rewrite"
      case "MergeInto" => "ops.merge"
      case _ if cls.startsWith("graft.state.") => "state"
      case _ if cls.startsWith("graft.fixtures.") => "fixtures"
      case _ => "other"
    })
  }

  /** `graft.table.SeqIO$.$anonfun$writeFiles$3(SeqIO.scala:150)` → (`graft.table.SeqIO`,
    * `SeqIO.writeFiles`)
    */
  def frame(line: String): Option[(String, String)] = {
    val sig = line.trim.takeWhile(_ != '(')
    val dot = sig.lastIndexOf('.')
    if (dot <= 0) None
    else {
      val cls = sig.substring(0, dot)
      val raw = sig.substring(dot + 1)
      val meth =
        if (raw.contains("$anonfun$")) raw.split("\\$anonfun\\$")(1).takeWhile(_ != '$')
        else raw.takeWhile(_ != '$')
      Some(cls -> s"${cls.split('.').last.takeWhile(_ != '$')}.$meth")
    }
  }
}

/** Assigns every Spark job to the benchmark span open when it started and sums its tasks'
  * metrics. Registered only in the traced run.
  */
final class JobListener(tracer: Tracer) extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageToJob = mutable.Map.empty[Int, Int]
  /** SQL execution id → (short, long) call site, captured on the thread that ran the action:
    * the jobs of a query run on Spark's own threads, whose stacks hold no graft frame
    */
  private val sqlSites = mutable.Map.empty[Long, (String, String)]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      synchronized { sqlSites(s.executionId) = (s.description, s.details) }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val (spanId, spanLayer) = tracer.openSpan
    val result = if (e.stageInfos.isEmpty) None else Some(e.stageInfos.maxBy(_.stageId))
    val sql = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => sqlSites.get(id.toLong))
    val (short, long) = sql.orElse(result.map(r => (r.name, r.details))).getOrElse(("?", ""))
    val allFrames = long.split('\n').toSeq.flatMap(Layers.frame)
    val frames = allFrames.flatMap { case (cls, m) => Layers.of(cls).map(l => (l, m)) }
    val action = short.takeWhile(_ != ' ')
    val site = frames.headOption.orElse(allFrames.find(_._1.startsWith("graft.")).map(f =>
      ("bench", s"perfbench:${f._2}"))).map(_._2).getOrElse("-") + "/" + action
    val layer = frames.headOption.map(_._1).getOrElse(spanLayer)
    jobs(e.jobId) = new JobRec(e.jobId, spanId, site, layer, frames.map(_._1).toSet,
      tracer.fromEpochMs(e.time))
    e.stageInfos.foreach(s => stageToJob(s.stageId) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = tracer.fromEpochMs(e.time))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (jid <- stageToJob.get(e.stageId); j <- jobs.get(jid) if e.taskMetrics != null) {
      val m = e.taskMetrics
      val info = e.taskInfo
      j.tasks += 1
      j.taskMs += info.duration
      j.cpuNs += m.executorCpuTime
      j.gcMs += m.jvmGCTime
      j.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
      j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      j.inputBytes += m.inputMetrics.bytesRead
      j.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += info.duration
    }
  }

  def allJobs: Seq[JobRec] = synchronized(jobs.values.toSeq)
}

/** Samples the client thread's stack every few milliseconds while active (traced run only):
  * the share of samples with a graft method on the stack estimates the driver time spent inside
  * it, including the Spark jobs it waits for — the view into calls the benchmark cannot wrap,
  * such as the CAS commit inside a cycle or a merge.
  */
final class DriverSampler(target: Thread) extends Thread("perfbench-driver-sampler") {
  setDaemon(true)
  @volatile var active = false
  @volatile private var running = true
  private var samples = 0L
  private var activeNanos = 0L
  private val inclusive = mutable.Map.empty[String, Long]

  override def run(): Unit = {
    var last = System.nanoTime()
    while (running) {
      val now = System.nanoTime()
      if (active) {
        activeNanos += now - last
        val methods = target.getStackTrace.iterator
          .filter(f => f.getClassName.startsWith("graft.") &&
            !f.getClassName.startsWith("graft.perfbench."))
          .map(f => s"${f.getClassName.split('.').last.takeWhile(_ != '$')}.${f.getMethodName}")
          .toSet
        synchronized {
          samples += 1
          methods.foreach(m => inclusive(m) = inclusive.getOrElse(m, 0L) + 1)
        }
      }
      last = now
      Thread.sleep(2)
    }
  }

  def finish(): Unit = { running = false; join() }

  /** estimated seconds with `method` (`SeqTable.commit`) on the client thread's stack */
  def seconds(method: String): Double = synchronized {
    if (samples == 0) 0.0 else inclusive.getOrElse(method, 0L).toDouble / samples * activeNanos / 1e9
  }
}
