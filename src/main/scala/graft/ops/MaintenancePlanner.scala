package graft.ops

import org.apache.spark.sql.{Dataset, SparkSession}
import graft.planner._
import graft.table.{FileMeta, SeqIO, SeqTable}

/** A planned maintenance task: one winning grid region and the live files it claims. */
final case class PlannedTask(taskId: Int, region: Region, filePaths: Seq[String], score: Double)

/** The BRS-planner: positions every live data file on the (sourceBucket × ntokBin) grid, scores
  * cells by fragmentation, and finds the top-k non-overlapping w×w regions with the reference's
  * partition-parallel protocol — border replication (`Generic.poiToKeyValue`,
  * `/root/reference/src/main/scala/SDL/Generic.scala:28-37`) + per-node kernel after `groupByKey`
  * (`/root/reference/src/main/scala/SDL/distrib/OnestepAlgoReduce.scala:23-48`) + completeness-
  * thresholded merge — re-expressed as typed Dataset ops.
  *
  * Scale note: the planner's input is MANIFEST METADATA (one row per data file), not data rows.
  * At 10^12 sequences / ~10^7 files the cell dataset is ~10^7 rows — a trivially distributed
  * aggregation — while the data itself is never touched until a task executes. This inversion
  * (planner on metadata, executor on data) is what makes the design hold at 100 TB.
  */
object MaintenancePlanner {

  /** Weight of the MoR delete-ratio term in [[fragScore]]: a fully-deleted file scores 2.0 on
    * pressure alone — above the default act threshold (1.0) by itself, because outstanding
    * deletes tax EVERY read with an anti-join until materialized, which small files don't.
    */
  val DeleteWeight = 2.0

  /** Fragmentation score of a file: how much would rewriting it help?
    *  - small-file penalty: linear in how far below the target record count it is
    *  - clustering penalty: +0.5 when the file spans >1 grid cell (its min/max stats are loose →
    *    it defeats manifest pruning), +1 when its source set overflowed (unknown layout)
    *  - delete pressure: [[DeleteWeight]] × the estimated fraction of rows hidden by pending MoR
    *    deletes ([[DeletePressure]]) — rewriting materializes them ([[Rewrite.compactFiles]]
    *    reads delete-aware), restoring the no-join read fast path
    */
  def fragScore(
      f: FileMeta,
      cfg: GridConfig,
      targetRecords: Long,
      pressure: FileMeta => Double = DeletePressure.Zero): Double = {
    val small = math.max(0.0, 1.0 - f.records.toDouble / targetRecords)
    val span = cellsOf(f, cfg).size
    val spanPenalty = if (f.sources.isEmpty) 1.0 else if (span > 1) 0.5 else 0.0
    small + spanPenalty + DeleteWeight * pressure(f)
  }

  /** Grid cells covered by a file, from its manifest stats. Files with overflowed source stats
    * cover the full bucket axis (they are maximally unclustered).
    */
  def cellsOf(f: FileMeta, cfg: GridConfig): Seq[(Int, Int)] = {
    val xs =
      if (f.sources.nonEmpty) f.sources.map(cfg.sourceBucket).distinct
      else 0 until cfg.sourceBuckets
    val ys = cfg.ntokBin(f.minNtok) to cfg.ntokBin(f.maxNtok)
    for { x <- xs; y <- ys } yield (x, y)
  }

  /** A file is a POINT on the grid — its centroid cell — carrying its full fragScore, exactly the
    * reference's POI model (a point with a weight, `/root/reference/src/main/scala/SDL/POI.java:9-35`).
    * Smearing the weight across every spanned cell would dilute fully-unclustered files (thousands
    * of cells) below any threshold; concentrating it keeps the region score monotone additive
    * (`ScoreFunctionTotalScore.java:10-16` precondition) AND proportional to "files fixed by
    * rewriting this region".
    */
  def centroidCell(f: FileMeta, cfg: GridConfig): (Int, Int) = {
    val x =
      if (f.sources.nonEmpty) cfg.sourceBucket(f.sources(f.sources.size / 2))
      else math.floorMod(f.path.hashCode, cfg.sourceBuckets) // unknown layout: deterministic scatter
    val y = cfg.ntokBin((f.minNtok.toLong + f.maxNtok).toInt / 2)
    (x, y)
  }

  def fileCells(
      f: FileMeta,
      cfg: GridConfig,
      targetRecords: Long,
      pressure: FileMeta => Double = DeletePressure.Zero): Seq[Cell] = {
    val s = fragScore(f, cfg, targetRecords, pressure)
    if (s <= 0) Nil
    else {
      val (x, y) = centroidCell(f, cfg)
      Seq(Cell(x, y, s))
    }
  }

  def planCompaction(
      spark: SparkSession,
      metas: Seq[FileMeta],
      cfg: GridConfig,
      k: Int,
      threshold: Double,
      targetRecords: Long,
      pressure: FileMeta => Double = DeletePressure.Zero): Seq[PlannedTask] =
    plan(spark, None, Left(metas), cfg, k, threshold, targetRecords, pressure = pressure)._1

  /** Fully-distributed plan over a manifest Dataset — the 10^12-scale path: cell scoring, region
    * search AND file claiming all run on executors; only per-node counts, the winning regions
    * (k rows) and their claimed file lists (task-sized) ever reach the driver.
    */
  def planCompactionDistributed(
      spark: SparkSession,
      metas: Dataset[FileMeta],
      cfg: GridConfig,
      k: Int,
      threshold: Double,
      targetRecords: Long,
      pressure: FileMeta => Double = DeletePressure.Zero): Seq[PlannedTask] =
    plan(spark, None, Right(metas), cfg, k, threshold, targetRecords, pressure = pressure)._1

  /** Incremental plan (reference algo 6, partial recompute): per-node kernel results are cached in
    * [[PlannerState]]; only nodes whose cells changed since the cached base version are re-run
    * (exact manifest diff between the two snapshots). Exactly equivalent to a full replan — clean
    * nodes' inputs are unchanged and the kernel is deterministic.
    */
  def planIncremental(
      spark: SparkSession,
      table: SeqTable,
      cfg: GridConfig,
      k: Int,
      threshold: Double,
      targetRecords: Long,
      prev: Option[PlannerState],
      onRun: (Set[Int], Int) => Unit = (_, _) => (),
      pressure: FileMeta => Double = DeletePressure.Zero,
      preMergeMinRows: Long = GridTopK.PreMergeMinRows): (Seq[PlannedTask], PlannerState) =
    plan(spark, Some(table), Left(table.liveFiles()), cfg, k, threshold, targetRecords,
      prev, onRun, pressure, preMergeMinRows)

  /** [[planIncremental]] with the manifest staying on executors end-to-end: the current and
    * cached-base manifests meet in path anti-joins to find dirtied nodes, and kernels and claims
    * run over the manifest Dataset. Only node ids and counts (bounded by planner-grid geometry,
    * not file count) and winning tasks ever reach the driver — the 10^7-file incremental path.
    */
  def planIncrementalDistributed(
      spark: SparkSession,
      table: SeqTable,
      cfg: GridConfig,
      k: Int,
      threshold: Double,
      targetRecords: Long,
      prev: Option[PlannerState],
      onRun: (Set[Int], Int) => Unit = (_, _) => (),
      pressure: FileMeta => Double = DeletePressure.Zero,
      preMergeMinRows: Long = GridTopK.PreMergeMinRows): (Seq[PlannedTask], PlannerState) =
    plan(spark, Some(table), Right(SeqIO.fileMetaDS(spark, table, narrow = true)), cfg, k,
      threshold, targetRecords, prev, onRun, pressure, preMergeMinRows)

  /** The one plan: a full plan is an incremental plan with an empty node cache. A driver-resident
    * (`Left`) and a Dataset (`Right`) manifest differ only in where three inputs come from: the
    * replicated cells with per-node counts ([[GridTopK.withNodes]]), the dirty-node diff against
    * the cached base snapshot, and the (winner, file) claim candidates.
    * @param manifest read after the table version, so a cached state never claims a version
    *                 newer than the files it was computed from
    */
  private[ops] def plan(
      spark: SparkSession,
      table: Option[SeqTable],
      manifest: => Either[Seq[FileMeta], Dataset[FileMeta]],
      cfg: GridConfig,
      k: Int,
      threshold: Double,
      targetRecords: Long,
      prev: Option[PlannerState] = None,
      onRun: (Set[Int], Int) => Unit = (_, _) => (),
      pressure: FileMeta => Double = DeletePressure.Zero,
      preMergeMinRows: Long = GridTopK.PreMergeMinRows): (Seq[PlannedTask], PlannerState) = {
    import spark.implicits._
    val version = table.fold(0L)(_.currentVersion())
    val metas = manifest
    val score = (f: FileMeta) => fileCells(f, cfg, targetRecords, pressure)
    val nodesOf = (f: FileMeta) => score(f).flatMap(c => cfg.nodesForCell(c.x, c.y))
    val cells = metas.left.map(_.flatMap(score)).map(_.flatMap(score))
    GridTopK.withNodes(spark, cells, cfg, preMergeMinRows) { (allNodes, runNodes) =>
      // dirty = nodes touched by files added OR removed since the cached base (exact manifest
      // diff; falls back to all-dirty when the base snapshot has been expired), PLUS — when the
      // pending MoR delete set changed — nodes of files whose delete pressure changed with it
      // (their cached scores were computed under the OLD pressure; membership can't see this)
      val dirty: Set[Int] = (table, prev) match {
        case (Some(t), Some(st)) if t.snapshotVersions().contains(st.baseVersion) =>
          val base = t.snapshot(st.baseVersion)
          val repressured = Option.when(base.deleteManifests != t.currentSnapshot().deleteManifests) {
            val basePressure = DeletePressure.of(spark, t, base)
            (f: FileMeta) => pressure(f) > 0 || basePressure(f) > 0
          }
          metas match {
            case Left(ms) =>
              val was = t.liveFiles(base)
              val (wasPaths, nowPaths) = (was.map(_.path).toSet, ms.map(_.path).toSet)
              (ms.filterNot(f => wasPaths(f.path)) ++ was.filterNot(f => nowPaths(f.path)) ++
                repressured.fold(Seq.empty[FileMeta])(ms.filter)).flatMap(nodesOf).toSet
            case Right(ds) => // path anti-joins: only node ids reach the driver
              val was = SeqIO.fileMetaDSOf(spark, t, base, narrow = true)
              val changed = Seq(ds.join(was.select("path"), Seq("path"), "left_anti"),
                was.join(ds.select("path"), Seq("path"), "left_anti")).map(_.as[FileMeta]) ++
                repressured.map(ds.filter(_))
              changed.map(_.flatMap(nodesOf)).reduce(_ union _).distinct().collect().toSet
          }
        case _ => allNodes
      }
      val (winners, state) = IncrementalTopK.solve(
        (nodes, kPrime) => { onRun(nodes, kPrime); runNodes(nodes, kPrime) },
        allNodes, dirty, prev, version, k, overlapAllowed = false)
      val won = winners.filter(_.score >= threshold)
      // Winning regions → file-disjoint tasks. Files are claimed by centroid cell, and winners
      // are pairwise non-overlapping (the planner's distinct mode), so each file maps to at most
      // one winner and no file is ever claimed twice — the file-level analog of the reference's
      // safe/unsafe disjointness protocol (`SDL/DependencyGraph.scala:36-142`). On a Dataset
      // manifest only claimed files — task-sized — reach the driver.
      val claimOf = (f: FileMeta) => {
        val (x, y) = centroidCell(f, cfg)
        val i = won.indexWhere(r => x >= r.x && x < r.x + r.w && y >= r.y && y < r.y + r.w)
        Option.when(i >= 0)((i, f))
      }
      val claims = metas.fold(_.flatMap(claimOf),
        ds => if (won.isEmpty) Nil else ds.flatMap(claimOf).collect().toSeq).groupMap(_._1)(_._2)
      (won.zipWithIndex.flatMap { case (r, i) =>
        val fs = claims.getOrElse(i, Nil).sortBy(_.path)
        // usefulness gate (termination): execute only when the rewrite can actually improve
        // layout — fewer output files than inputs (merge win), or a spanning file big enough to
        // split into ≥2 tighter files. Without this the planner re-flags converged-but-small
        // files forever.
        val total = fs.map(_.records).sum
        val outFiles = math.max(1L, (total + targetRecords - 1) / targetRecords)
        // files the engine itself wrote curve-sorted are as tight as their size allows — only a
        // file-count win can improve them; external (unclustered) spanning files also justify a
        // splitting re-cluster when there is enough data for ≥2 output files
        // delete-laden files are useful to rewrite regardless of layout win: the rewrite applies
        // their pending MoR deletes (terminating — rewritten files outlive every delete sequence,
        // so their pressure is 0 next cycle)
        val useful = outFiles < fs.size ||
          (fs.exists(f => !f.clustered && cellsOf(f, cfg).size > 1) && total >= 2 * targetRecords) ||
          fs.exists(f => pressure(f) > 0)
        Option.when(useful)(PlannedTask(i, r, fs.map(_.path), r.score))
      }, state)
    }
  }
}
