package graft.perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops._
import graft.planner.GridConfig
import graft.state.Checkpoint
import graft.table.{FileMeta, SeqIO, SeqTable}

/** A workload: inputs and expected values prepared once, a template built in set-up, and a rep
  * that starts from a byte-identical copy of the template.
  */
trait Workload {
  /** stages the generated inputs under `dir` and computes every expected value (the oracle) */
  def prepare(ctx: Ctx, dir: Path): Unit
  /** one set-up pass: builds the template table under `dir` with the program */
  def build(ctx: Ctx, dir: Path): Unit
  /** one rep on a fresh copy of the last template under `dir` */
  def rep(ctx: Ctx, dir: Path): Unit
  /** the table the last rep left, for the end-of-run metrics */
  def lastTable: Option[SeqTable]
}

/** Maintenance calls shared by the workloads. */
object Maint {
  val cfg = GridConfig()

  /** the frozen `graft.Bench` options: k = 64, target = rows / 40 */
  def options(rows: Long): MaintenanceOptions =
    MaintenanceOptions(k = 64, targetRecordsPerFile = math.max(1L, rows / 40))

  def cycle(ctx: Ctx, t: SeqTable, ckpt: Checkpoint, opts: MaintenanceOptions,
      first: Boolean): CycleReport = {
    if (ctx.tracer.enabled && ctx.measuring) plannerOnly(ctx, t.root, opts, first)
    val r = ctx.op("cycle_s", "ops.runner", "MaintenanceRunner.runCycle")(
      MaintenanceRunner.runCycle(ctx.spark, t, cfg, opts, ckpt))
    if (ctx.measuring) {
      println(s"[perfbench]   cycle ${r.cycle}: planned=${r.tasksPlanned} executed=${r.tasksExecuted} " +
        s"files ${r.filesBefore}->${r.filesAfter} rewritten=${r.recordsRewritten}")
      ctx.meter.add("runner.cycles", 1)
      ctx.meter.add("runner.tasks_executed", r.tasksExecuted)
      ctx.meter.add("runner.records_rewritten", r.recordsRewritten)
      ctx.meter.add("maint.records", r.recordsRewritten)
      ctx.meter.add("maint.seconds", ctx.meter.samples("cycle_s").last)
    }
    r
  }

  /** cycles until one executes no task (at most 12); the drain time is the sum of the cycles */
  def drain(ctx: Ctx, t: SeqTable, ckpt: Checkpoint, opts: MaintenanceOptions): Int = {
    var n = 0
    var go = true
    var sec = 0.0
    while (go && n < 12) {
      val (r, s) = ctx.time(cycle(ctx, t, ckpt, opts, first = n == 0))
      sec += s
      go = r.tasksExecuted > 0
      n += 1
    }
    ctx.check("drain terminates", !go, s"cycle $n still executed tasks")
    if (ctx.measuring) ctx.meter.sample("compact_drain_s", sec)
    n
  }

  /** Traced run only: the read-only planner entry points, once, on a separate cold handle of the
    * same snapshot — planner time without warming the handle the cycle uses. Mirrors the
    * runner's choice between the driver and the distributed planner.
    */
  private def plannerOnly(ctx: Ctx, root: String, opts: MaintenanceOptions,
      first: Boolean): Unit = {
    val spark = ctx.spark
    val cold = SeqTable.load(root)
    val snap = cold.currentSnapshot()
    val live = snap.summary.get("total-files").flatMap(_.toIntOption).getOrElse(Int.MaxValue)
    val (pressure, pSec) = ctx.time(ctx.tracer.span("planner", "DeletePressure.of")(
      DeletePressure.of(spark, cold, snap)))
    ctx.meter.sample("planner.pressure_s", pSec)
    val (tasks, undersized, planSec) =
      if (live > opts.distributedPlanFiles) {
        val ds = SeqIO.fileMetaDS(spark, cold, narrow = true)
        val (tasks, s) = ctx.time(ctx.tracer.span("planner", "planCompactionDistributed")(
          MaintenancePlanner.planCompactionDistributed(spark, ds, cfg, opts.k, opts.threshold,
            opts.targetRecordsPerFile, pressure)))
        val under = if (!first) Set.empty[String]
          else ds.filter(_.records < opts.targetRecordsPerFile).map(_.path)(
            org.apache.spark.sql.Encoders.STRING).collect().toSet
        (tasks, under, s)
      } else {
        val metas = ctx.tracer.span("table.meta", "SeqTable.liveFiles (cold)")(cold.liveFiles())
        val (tasks, s) = ctx.time(ctx.tracer.span("planner", "planCompaction")(
          MaintenancePlanner.planCompaction(spark, metas, cfg, opts.k, opts.threshold,
            opts.targetRecordsPerFile, pressure)))
        (tasks, metas.filter(_.records < opts.targetRecordsPerFile).map(_.path).toSet, s)
      }
    ctx.meter.sample("planner.plan_s", planSec)
    // the undersized files the first cycle's plan claims, as a share of all undersized files
    if (first && undersized.nonEmpty)
      ctx.meter.sample("planner.claim_frac",
        tasks.flatMap(_.filePaths).count(undersized).toDouble / undersized.size)
  }

  /** Traced run only: cold manifest reads of the table's head, driver-full and narrow. */
  def coldManifestRead(ctx: Ctx, root: String): Unit = if (ctx.tracer.enabled) {
    val (_, s) = ctx.time {
      val cold = SeqTable.load(root)
      val snap = cold.currentSnapshot()
      ctx.tracer.span("table.meta", "SeqTable.liveFilesNarrow (cold)")(cold.liveFilesNarrow(snap))
      ctx.tracer.span("table.meta", "SeqTable.liveFiles (cold)")(cold.liveFiles(snap))
    }
    ctx.meter.sample("table.manifest_read_s", s)
  }

  def merge(ctx: Ctx, t: SeqTable, changes: DataFrame, target: Long, mor: Boolean): MergeResult = {
    val live = if (ctx.measuring) liveCount(t) else 0
    val r = ctx.op(if (mor) "merge_mor_s" else "merge_cow_s", "ops.merge",
      if (mor) "MergeInto.merge (mor)" else "MergeInto.merge (cow)")(
      MergeInto.merge(ctx.spark, t, changes, cfg, target, mor = mor))
    if (ctx.measuring) {
      ctx.meter.add("merge.count", 1)
      ctx.meter.add("merge.files_rewritten", r.filesRewritten)
      ctx.meter.add("merge.records_written", r.recordsWritten)
      ctx.meter.add("merge.live_files", live)
      ctx.meter.add("merge.retries", r.attempts - 1)
      ctx.meter.add("maint.records", r.recordsWritten)
      ctx.meter.add("maint.seconds", ctx.meter.samples(if (mor) "merge_mor_s" else "merge_cow_s").last)
    }
    r
  }

  def liveCount(t: SeqTable): Int =
    t.currentSnapshot().summary.get("total-files").flatMap(_.toIntOption)
      .getOrElse(t.liveFiles().size)

  /** Stages named change sets as parquet in one write, the hand-off shape a real merge
    * consumes; each comes back as a plain parquet read of its own directory.
    */
  def stage(ctx: Ctx, dir: Path, sets: Seq[(String, DataFrame)]): Map[String, DataFrame] = {
    sets.map { case (n, df) => df.withColumn("_set", lit(n)) }.reduce(_ unionByName _)
      .write.partitionBy("_set").parquet(dir.toString)
    sets.map { case (n, _) => n -> ctx.spark.read.parquet(dir.resolve(s"_set=$n").toString) }.toMap
  }
}

/** Per-rep bookkeeping every workload shares: the written-file log, version and parse deltas. */
final class RepLog(ctx: Ctx, t: SeqTable) {
  private val v0 = t.currentVersion()
  private val parses0 = t.manifestFileReads.get() + t.manifestNarrowFileReads.get()
  val writes = new WriteLog(t)

  def finish(): Unit = if (ctx.measuring) {
    writes.note()
    val live = t.liveFilesNarrow(t.currentSnapshot())
    val liveBytes = live.filterNot(_.path.startsWith(MetadataScale.CarriedPrefix))
      .map(_.bytes).sum.toDouble
    ctx.meter.sample("write_amp", writes.bytes / liveBytes)
    ctx.meter.sample("files_live_end", live.size)
    ctx.meter.add("io.files_written", writes.files)
    ctx.meter.add("io.bytes_written", writes.bytes)
    ctx.meter.add("table.commits", t.currentVersion() - v0)
    ctx.meter.add("table.manifest_parses",
      t.manifestFileReads.get() + t.manifestNarrowFileReads.get() - parses0)
    Maint.coldManifestRead(ctx, t.root)
  }
}

object Oracle {
  /** applies a change batch (`_op` = 'D' deletes, anything else upserts) with plain DataFrames */
  def apply(state: DataFrame, batch: DataFrame): DataFrame =
    state.join(batch.select("doc_id"), Seq("doc_id"), "left_anti")
      .unionByName(batch.filter(col("_op") =!= "D").drop("_op"))
}

/** T-frag backlog: drain it, then read it. */
final class CompactBacklog extends Workload {
  private var rows = 0L
  private var files = 0
  private var template: Path = _
  private var expected: Expected = _
  private var last: Option[SeqTable] = None

  def prepare(ctx: Ctx, dir: Path): Unit = {
    // 96 files: with the frozen target of rows/40, each file holds 0.42 of a target file
    rows = if (ctx.tiny) 2000L else 4800L
    files = if (ctx.tiny) 80 else 96
    val in = ctx.inputs
    val lookups = (0 until 4).map(j => Lookup(in.pick(rows, 16, 10 + j).map(in.docKey),
      in.pick(rows, 4, 20 + j).map(i => in.docKey(i) + "-x")))
    // from the generator itself (same rows in fewer partitions), never the program's readers
    expected = ReadSet.expect(in.table(ctx.spark, rows, 4), ReadSet.choices(in), lookups)
  }

  def build(ctx: Ctx, dir: Path): Unit = {
    val t = SeqTable.create(dir.resolve("tbl").toString)
    val metas = SeqIO.writeFiles(ctx.spark, t, ctx.inputs.table(ctx.spark, rows, files))
    t.commit("append", metas, Set.empty)
    template = dir
  }

  def rep(ctx: Ctx, dir: Path): Unit = {
    Tables.copyTree(template.resolve("tbl"), dir.resolve("tbl"))
    val t = SeqTable.load(dir.resolve("tbl").toString)
    last = Some(t)
    val log = new RepLog(ctx, t)
    Maint.drain(ctx, t, new Checkpoint(dir.resolve("state").toString), Maint.options(rows))
    log.writes.note()
    // the full scan checks that the drain left row count and content hash unchanged
    ReadSet.run(ctx, t, "compact_backlog", expected, fullScan = true)
    log.finish()
  }

  def lastTable: Option[SeqTable] = last
}

/** Drained, clustered table; a COW and a MoR merge beside reads; a closing drain; reads. */
final class MergeReadMix extends Workload {
  private var rows = 0L
  private var template: Path = _
  private var cow: DataFrame = _
  private var mor: DataFrame = _
  private var expected: Expected = _
  private var last: Option[SeqTable] = None

  def prepare(ctx: Ctx, dir: Path): Unit = {
    rows = if (ctx.tiny) 2000L else 8000L
    val in = ctx.inputs
    // 3 % upserts and 0.6 % deletes per batch: at 8 000 rows that touches nearly every file,
    // as 1 % does at 2×10^5 rows; at 1 % here, which files a batch touches (and so the closing
    // drain's work) varied with the seed. The MoR batch keeps its rows' own sources: pinned to
    // one source, its upsert file was split and re-merged by the drain on some seeds only.
    val changes = rows * 3 / 100
    val deletes = rows * 6 / 1000
    val batches = Maint.stage(ctx, dir, Seq(
      "cow" -> in.changeSet(ctx.spark, rows, changes, deletes, tag = 1),
      "mor" -> in.changeSet(ctx.spark, rows, changes, deletes, tag = 2)))
    cow = batches("cow")
    mor = batches("mor")
    def keys(tag: Int, salt: Int) =
      in.changedKeys(rows, if (salt == 1) changes / 2 else deletes, tag, salt)
    val touched = keys(1, 1) ++ keys(1, 2) ++ keys(2, 1) ++ keys(2, 2)
    // keys the COW batch deletes and the MoR batch does not touch: lookups must not find them
    val gone = (keys(1, 2) -- keys(2, 1) -- keys(2, 2)).toSeq.sorted.take(2)
    val lookups = (0 until 4).map { j =>
      Lookup(in.pick(rows, 64, 30 + j).map(in.docKey).filterNot(touched).take(16),
        gone ++ in.pick(rows, 4 - gone.size, 40 + j).map(i => in.docKey(i) + "-x"))
    }
    val state = Oracle.apply(Oracle.apply(in.table(ctx.spark, rows, 4), cow), mor)
    expected = ReadSet.expect(state, ReadSet.choices(in), lookups)
  }

  /** a clustered table, as a drained backlog leaves it: the generator output through the
    * clustered writer compaction uses, at the same target file size
    */
  def build(ctx: Ctx, dir: Path): Unit = {
    val t = SeqTable.create(dir.resolve("tbl").toString)
    val target = Maint.options(rows).targetRecordsPerFile
    t.commit("append", Rewrite.clusteredWrite(ctx.spark, t, ctx.inputs.table(ctx.spark, rows, 4),
      Maint.cfg, target, rows), Set.empty)
    template = dir
  }

  def rep(ctx: Ctx, dir: Path): Unit = {
    Tables.copyTree(template.resolve("tbl"), dir.resolve("tbl"))
    val t = SeqTable.load(dir.resolve("tbl").toString)
    last = Some(t)
    val log = new RepLog(ctx, t)
    val opts = Maint.options(rows)
    Maint.merge(ctx, t, cow, opts.targetRecordsPerFile, mor = false)
    log.writes.note()
    Maint.merge(ctx, t, mor, opts.targetRecordsPerFile, mor = true)
    log.writes.note()
    ReadSet.run(ctx, t, "merge_read_mix after merges", expected, fullScan = true)
    // the closing drain materializes the pending MoR deletes (DeletePressure-weighted planning);
    // a full scan after it checks the drained table against the same oracle state
    Maint.drain(ctx, t, new Checkpoint(dir.resolve("state").toString), opts)
    log.writes.note()
    ReadSet.run(ctx, t, "merge_read_mix after drain", expected.copy(scans = Nil, lookups = Nil),
      fullScan = true)
    log.finish()
  }

  def lastTable: Option[SeqTable] = last
}

/** ~4×10^5 carried manifest entries beside a few hundred real files: metadata dominates. */
final class MetadataScale extends Workload {
  private var realRows = 0L
  private var files = 0
  private var carried = 0
  private var template: Path = _
  private var append: DataFrame = _
  private var changes: DataFrame = _
  private var expected: Expected = _
  private var last: Option[SeqTable] = None

  /** Synthetic entries with no data files. Each is full-size, clustered and inside one grid
    * cell (planner score 0); their n_tok bins (72 and up) lie above every real row's (at most
    * 8192, bin 64), so no planner region holds both kinds and no claim takes one. Their sources
    * match no real row and their doc_id ranges `a…`–`b…` lie below every real key, so pruned
    * scans, lookups and merge prunes skip them. ~215 B each in the narrow manifest cache.
    */
  private def carriedEntries(n: Int): Vector[FileMeta] = (0 until n).iterator.map { i =>
    val bin = 72 + i % 16
    FileMeta(f"${MetadataScale.CarriedPrefix}$i%07d.parquet", 20000L, 2000000L, 128 * bin + 1, 128 * bin + 100,
      f"a$i%09d", f"b$i%09d", Seq(s"carried${i % 64}"), 1L, clustered = true,
      docBloom = Some("AAAA" * 8))
  }.toVector

  def prepare(ctx: Ctx, dir: Path): Unit = {
    realRows = if (ctx.tiny) 1000L else 6000L
    files = if (ctx.tiny) 20 else 300
    carried = if (ctx.tiny) 2000 else 400000
    val in = ctx.inputs
    val spark = ctx.spark
    val merges = realRows / 100
    val batches = Maint.stage(ctx, dir, Seq(
      "append" -> in.changeSet(spark, realRows, math.max(40L, realRows / 30), 0, tag = 1)
        .filter(col("doc_id").startsWith("new-")),
      "merge" -> in.changeSet(spark, realRows, merges, merges * 2 / 10, tag = 2)))
    append = batches("append").drop("_op")
    changes = batches("merge")
    val touched = in.changedKeys(realRows, merges / 2, 2, 1) ++
      in.changedKeys(realRows, merges * 2 / 10, 2, 2)
    val lookups = (0 until 4).map { j =>
      Lookup(in.pick(realRows, 64, 50 + j).map(in.docKey).filterNot(touched).take(16),
        in.pick(realRows, 4, 60 + j).map(i => in.docKey(i) + "-x"))
    }
    val state = Oracle.apply(in.table(spark, realRows, 4).unionByName(append), changes)
    expected = ReadSet.expect(state, ReadSet.choices(in), lookups)
  }

  def build(ctx: Ctx, dir: Path): Unit = {
    val spark = ctx.spark
    val t = SeqTable.create(dir.resolve("tbl").toString)
    t.manifestFormat = "parquet"
    val real = SeqIO.writeFiles(spark, t, ctx.inputs.table(spark, realRows, files))
    t.commit("append", carriedEntries(carried) ++ real, Set.empty)
    template = dir
  }

  def rep(ctx: Ctx, dir: Path): Unit = {
    val spark = ctx.spark
    Tables.copyTree(template.resolve("tbl"), dir.resolve("tbl"))
    val t = SeqTable.load(dir.resolve("tbl").toString)
    t.manifestFormat = "parquet"
    last = Some(t)
    val log = new RepLog(ctx, t)
    val opts = Maint.options(realRows)
    ctx.op("append_commit_s", "table.io", "append") {
      val metas = ctx.tracer.span("table.io", "SeqIO.writeFiles")(SeqIO.writeFiles(spark, t, append))
      ctx.tracer.span("table.meta", "SeqTable.commit")(t.commit("append", metas, Set.empty))
    }
    log.writes.note()
    Maint.cycle(ctx, t, new Checkpoint(dir.resolve("state").toString), opts, first = true)
    log.writes.note()
    ctx.op("table.rewrite_manifests_s", "table.meta", "SeqIO.rewriteManifestsDistributed")(
      SeqIO.rewriteManifestsDistributed(spark, t))
    ctx.op("table.expire_s", "table.meta", "SeqIO.expireSnapshotsDistributed")(
      SeqIO.expireSnapshotsDistributed(spark, t, 2))
    Maint.merge(ctx, t, changes, opts.targetRecordsPerFile, mor = false)
    log.writes.note()
    ReadSet.run(ctx, t, "metadata_scale", expected, fullScan = false)
    // end-of-rep checks, outside every timed op
    val metas = SeqIO.fileMetaDS(spark, t, narrow = true)
    val carriedLive = metas.filter(_.path.startsWith(MetadataScale.CarriedPrefix)).count()
    ctx.check("metadata_scale carried entries live", carriedLive == carried,
      s"$carriedLive of $carried carried entries live")
    val real = metas.filter(!_.path.startsWith(MetadataScale.CarriedPrefix)).collect().toSeq
    val got = Tables.countHash(SeqIO.readWithDeletes(spark, t, t.currentSnapshot(), real))
    val want = expected.full
    ctx.check("metadata_scale real-file hash", got == want, s"got $got expected $want")
    val summary = t.currentSnapshot().summary.get("total-files").flatMap(_.toLongOption)
    val fresh = SeqTable.load(t.root).liveFilesNarrow(t.currentSnapshot()).size.toLong
    ctx.check("metadata_scale total-files summary", summary.contains(fresh),
      s"summary $summary, narrow manifest count $fresh")
    log.finish()
  }

  def lastTable: Option[SeqTable] = last
}

object MetadataScale {
  val CarriedPrefix = "data/carried-"
}
