package graft.ops

import org.apache.spark.sql.SparkSession
import graft.planner.{GridConfig, Region}
import graft.state.{Checkpoint, StateEvent}
import graft.Timing.timed
import graft.table.{FileMeta, SeqIO, SeqTable}

final case class MaintenanceOptions(
    k: Int = 8, // max tasks per cycle
    threshold: Double = 1.0, // min region benefit score to act (north_star: act only above threshold)
    targetRecordsPerFile: Long = 20000L,
    hilbert: Boolean = false,
    expireKeepLast: Int = 0, // 0 = don't expire
    rewriteManifests: Boolean = false,
    batchTasks: Boolean = true, // true: all tasks of a cycle in ONE job + commit (throughput);
                                // false: one commit per task (finer isolation/lineage)
    incremental: Boolean = false, // cache per-node planner results; re-run only dirtied nodes
    // above this many live files the manifest stays on executors: the planner reads it as a
    // Dataset (only per-node counts and winning tasks reach the driver) and new manifests are
    // written as parquet so the executor-side manifest scan column-prunes the bloom payload.
    // Where the planner's kernels run is GridTopK's replicated-cell gate, not this option.
    // 0 = always distributed.
    distributedPlanFiles: Int = 100000)

final case class CycleReport(
    cycle: Long,
    tasksPlanned: Int,
    tasksExecuted: Int,
    tasksSkippedOnResume: Int,
    filesBefore: Int,
    filesAfter: Int,
    recordsRewritten: Long,
    finalVersion: Long)

/** One full resumable maintenance cycle: plan (BRS grid top-k) → execute tasks (compact+re-cluster
  * commits) → housekeeping (manifest rewrite, snapshot expiry) — checkpointing lineage before and
  * after every irreversible step. `failpoint` injects crashes for the resume tests
  * (SURVEY.md §5.5).
  */
object MaintenanceRunner {

  def runCycle(
      spark: SparkSession,
      table: SeqTable,
      cfg: GridConfig,
      opts: MaintenanceOptions,
      checkpoint: Checkpoint,
      failpoint: String => Unit = _ => (),
      onPlannerRun: (Set[Int], Int) => Unit = (_, _) => ()): CycleReport = {

    val now = () => System.currentTimeMillis()
    // live-file COUNT without parsing manifests: every commit records it in the snapshot summary
    val headSnap = table.currentSnapshot()
    val liveCount = headSnap.summary.get("total-files").flatMap(_.toIntOption)
      .getOrElse(table.liveFiles().size)
    val useDistributed = liveCount > opts.distributedPlanFiles
    // distributed path: the full manifest NEVER materializes on the driver — planning runs on
    // the manifest Dataset, and metas are fetched per-claimed-path afterwards (task-sized)
    if (useDistributed) table.manifestFormat = "parquet"
    val metasByPath: Map[String, FileMeta] =
      if (useDistributed) Map.empty
      else timed("liveFiles")(table.liveFiles().map(f => f.path -> f).toMap)

    // ---- resume or plan ----
    val (cycle, baseVersion, tasks, alreadyDone) = checkpoint.openCycle() match {
      case Some(ev) =>
        val start = ev.find(_.event == "CYCLE_START").get
        val planned = ev.filter(_.event == "TASK_PLANNED").map { e =>
          PlannedTask(e.taskId, Region(e.region(0), e.region(1), e.region(2), 0.0), e.files, 0.0)
        }
        val loggedDone = ev.filter(_.event == "TASK_COMMITTED").map(_.taskId).toSet
        // crash window: committed but not logged → recover from snapshot summaries
        val snapDone = table.snapshotVersions().filter(_ > start.baseVersion).map(table.snapshot)
          .flatMap(s => s.summary.get("maintenance-task")
            .filter(_.startsWith(s"${start.cycle}/")).map(_.split('/')(1).toInt))
          .toSet
        (start.cycle, start.baseVersion, planned, loggedDone ++ snapDone)
      case None =>
        val cycle = checkpoint.lastCycle() + 1
        val base = table.currentVersion()
        // pending MoR deletes weight the planner's file scores (SURVEY §7.1 delete-ratio): laden
        // cells rise into the top-k and their task rewrites materialize the deletes in the same
        // clustered pass ([[Rewrite.compactFiles]] reads delete-aware) — no separate full
        // MaterializeDeletes sweep
        val pressure = timed("delete-pressure")(DeletePressure.of(spark, table, headSnap))
        val (planned, plannerState) = timed("plan")(MaintenancePlanner.plan(spark, Some(table),
          if (useDistributed) Right(SeqIO.fileMetaDS(spark, table, narrow = true))
          else Left(table.liveFiles()),
          cfg, opts.k, opts.threshold, opts.targetRecordsPerFile,
          if (opts.incremental) checkpoint.loadPlannerState() else None, onPlannerRun, pressure))
        if (opts.incremental) checkpoint.savePlannerState(plannerState)
        checkpoint.append(StateEvent("CYCLE_START", cycle, -1, base, -1, Nil, Nil,
          Map("live-files" -> liveCount.toString), now()))
        planned.foreach { t =>
          checkpoint.append(StateEvent("TASK_PLANNED", cycle, t.taskId, base, -1,
            Seq(t.region.x, t.region.y, t.region.w), t.filePaths,
            Map("score" -> t.score.toString), now()))
        }
        (cycle, base, planned, Set.empty[Int])
    }
    failpoint("planned")

    // ---- execute ----
    // the execution lookup only ever resolves CLAIMED paths — on the distributed path those are
    // fetched with a broadcast-filtered manifest scan (task-sized result), never the full listing
    val claimedMetas: Map[String, FileMeta] =
      if (!useDistributed) metasByPath
      else {
        val paths = tasks.flatMap(_.filePaths).toSet
        if (paths.isEmpty) Map.empty
        else {
          val pb = spark.sparkContext.broadcast(paths)
          SeqIO.fileMetaDS(spark, table).filter(f => pb.value.contains(f.path))
            .collect().map(f => f.path -> f).toMap
        }
      }
    val filesBefore = liveCount
    var executed = 0
    var skipped = 0
    var recordsRewritten = 0L
    val pending = tasks.sortBy(_.taskId).filterNot(t => alreadyDone.contains(t.taskId))
    skipped += tasks.size - pending.size

    if (opts.batchTasks && pending.nonEmpty) {
      // one clustered rewrite job + one commit for the whole cycle: tasks are file-disjoint by
      // construction, so batching them changes layout granularity only, never row content
      val files = pending.flatMap(_.filePaths).distinct.flatMap(claimedMetas.get)
      if (files.nonEmpty) {
        val snap = timed(s"batch-rewrite(${files.size}f)")(
          Rewrite.compactFiles(spark, table, files, cfg, opts.targetRecordsPerFile,
            Map("maintenance-task" -> s"$cycle/${pending.map(_.taskId).max}",
              "batched-tasks" -> pending.size.toString), opts.hilbert,
            distributedCommit = useDistributed))
        recordsRewritten += files.map(_.records).sum
        pending.foreach { t =>
          checkpoint.append(StateEvent("TASK_COMMITTED", cycle, t.taskId, baseVersion,
            snap.version, Seq(t.region.x, t.region.y, t.region.w), t.filePaths, Map.empty, now()))
        }
        executed += pending.size
      } else skipped += pending.size
      failpoint("batch")
    } else pending.foreach { t =>
      val files = t.filePaths.flatMap(claimedMetas.get) // files may be gone if replanned; skip those
      if (files.nonEmpty) {
        val snap = Rewrite.compactFiles(spark, table, files, cfg, opts.targetRecordsPerFile,
          Map("maintenance-task" -> s"$cycle/${t.taskId}"), opts.hilbert,
          distributedCommit = useDistributed)
        recordsRewritten += files.map(_.records).sum
        checkpoint.append(StateEvent("TASK_COMMITTED", cycle, t.taskId, baseVersion,
          snap.version, Seq(t.region.x, t.region.y, t.region.w), t.filePaths,
          Map("records" -> files.map(_.records).sum.toString), now()))
        executed += 1
      } else skipped += 1
      failpoint(s"task-${t.taskId}")
    }

    // ---- housekeeping ----
    // retire delete manifests the task rewrites just made obsolete (metadata-only commit once no
    // live file can match a pending delete) — the closing half of planner-scheduled
    // materialization; laden files below the act threshold keep their manifests (reads stay
    // delete-aware) until a future cycle's pressure-weighted planner claims them
    if (headSnap.deleteManifests.nonEmpty) {
      timed("drop-obsolete-deletes")(MaterializeDeletes.dropObsolete(spark, table,
        if (useDistributed) 0L else SeqIO.DistributedDiffMetaFiles))
      ()
    }
    // above the distributed-planning threshold the manifest must not materialize on the driver
    // for the REWRITE either — build the merged manifest with a Spark job (parts = manifests)
    if (opts.rewriteManifests) {
      if (useDistributed) graft.table.SeqIO.rewriteManifestsDistributed(spark, table)
      else table.rewriteManifests()
      ()
    }
    // expiry must stay off the driver at scale too: its manifest diff materializes every kept
    // live set AND every dead manifest on the driver in the plain variant
    if (opts.expireKeepLast > 0) {
      if (useDistributed) graft.table.SeqIO.expireSnapshotsDistributed(spark, table, opts.expireKeepLast)
      else table.expireSnapshots(opts.expireKeepLast)
      ()
    }
    failpoint("housekeeping")

    // post-cycle file count from the new head's summary (a manifest parse at 10^7 files is
    // exactly what the distributed path exists to avoid); summaries are written by every commit
    val filesAfter =
      if (useDistributed)
        table.currentSnapshot().summary.get("total-files").flatMap(_.toIntOption)
          .getOrElse(table.liveFiles().size)
      else table.liveFiles().size
    checkpoint.append(StateEvent("CYCLE_END", cycle, -1, baseVersion, table.currentVersion(), Nil, Nil,
      Map("files-before" -> filesBefore.toString, "files-after" -> filesAfter.toString,
        "records-rewritten" -> recordsRewritten.toString), now()))
    CycleReport(cycle, tasks.size, executed, skipped, filesBefore, filesAfter,
      recordsRewritten, table.currentVersion())
  }
}
