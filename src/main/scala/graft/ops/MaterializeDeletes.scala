package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.planner.GridConfig
import graft.table.{SeqIO, SeqTable, Snapshot}

/** Maintenance op that turns outstanding merge-on-read equality deletes back into a clean
  * copy-on-write state: rewrite (with deletes applied) exactly the files that could still contain
  * a deleted key — pruned by manifest doc_id ranges + sequence numbers — then drop every delete
  * manifest in the same atomic commit. After it runs, reads take the no-join fast path again.
  */
object MaterializeDeletes {

  def run(
      spark: SparkSession,
      table: SeqTable,
      cfg: GridConfig,
      targetRecordsPerFile: Long,
      maxAttempts: Int = 3,
      // above this many live files the candidate prune and the commit's manifest edit run on
      // executors (0 = always): same routing as MERGE — the driver never holds the bloom-laden
      // live manifest
      distributedMetaFiles: Long = SeqIO.DistributedDiffMetaFiles): Option[Snapshot] = {
    var attempt = 0
    while (true) {
      attempt += 1
      val snap = table.currentSnapshot()
      if (snap.deleteManifests.isEmpty) return None
      import spark.implicits._
      val useDistributed = SeqIO.routesDistributed(snap, distributedMetaFiles)

      val candidates = candidateFiles(spark, table, snap, useDistributed)
      val candidatePaths = candidates.map(_.path).toSet

      val added =
        if (candidates.isEmpty) Nil
        else Rewrite.clusteredWrite(spark, table,
          SeqIO.readWithDeletes(spark, table, snap, candidates,
            shape = SeqIO.ScanShape.SmallFiles),
          cfg, targetRecordsPerFile, candidates.map(_.records).sum)
      try {
        // the planned-manifest validation conflicts if a concurrent MoR merge added deletes since
        // our plan (our rewritten files would escape them; dropping only OUR planned manifests
        // would still leave the new one half-applied) — replan with them included
        return Some(table.commit("materialize-deletes", added, candidatePaths,
          Map("delete-manifests-dropped" -> snap.deleteManifests.size.toString),
          removedDeleteManifests = snap.deleteManifests.toSet,
          plannedDeleteManifests = Some(snap.deleteManifests.toSet),
          editPlanner =
            if (useDistributed) Some(SeqIO.distributedManifestEdit(spark, table)) else None))
      } catch {
        case e: table.CommitConflictException =>
          table.dropUncommitted(added)
          if (attempt >= maxAttempts) throw e
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Live files targeted by the snapshot's deletion vectors — the `.dv` manifests name their
    * target files outright (header parse, no bitmap decode), so candidacy is an exact basename
    * lookup: change-proportional driver work, no range/Bloom machinery needed. Dead basenames
    * (file already rewritten) match nothing — their DVs are retirement-eligible garbage.
    */
  private def dvCandidateFiles(
      spark: SparkSession,
      table: SeqTable,
      snap: Snapshot,
      useDistributed: Boolean): Seq[graft.table.FileMeta] = {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val dvMs = SeqIO.dvManifestsOf(snap)
    if (dvMs.isEmpty) return Nil
    val basenames = dvMs.flatMap { m =>
      java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get(table.deleteManifestPath(m))).asScala
        .map(l => graft.table.Dv.parseLineHeader(l)._1)
    }.toSet
    if (!useDistributed)
      table.liveFiles(snap).filter(f => basenames(SeqIO.fileBasename(f.path)))
        .map(_.copy(docBloom = None))
    else {
      val bn = spark.sparkContext.broadcast(basenames)
      SeqIO.fileMetaDSOf(spark, table, snap, narrow = true)
        .filter(f => bn.value(SeqIO.fileBasename(f.path)))
        .collect().toSeq
    }
  }

  /** Candidate files for delete materialization: old enough for some delete to apply AND whose
    * key range can contain it; per-file doc_id Blooms then cut the curve-layout survivors (where
    * ranges prune nothing — see [[graft.table.DocBloom]]) down to the files that actually hold a
    * deleted key; plus every live file a deletion vector targets (exact by construction). The
    * delete-aware rewrite then materializes BOTH delete families in one pass. Distributed
    * variant: range+seq join on the NARROW manifest Dataset (executors), Bloom refinement on the
    * candidates' full-width entries ON EXECUTORS — no docBloom byte reaches the driver, the
    * collected candidates are delete-set-proportional.
    */
  private[ops] def candidateFiles(
      spark: SparkSession,
      table: SeqTable,
      snap: Snapshot,
      useDistributed: Boolean): Seq[graft.table.FileMeta] = {
    val eq = equalityCandidateFiles(spark, table, snap, useDistributed)
    val dv = dvCandidateFiles(spark, table, snap, useDistributed)
    val eqPaths = eq.map(_.path).toSet
    eq ++ dv.filterNot(f => eqPaths(f.path))
  }

  private def equalityCandidateFiles(
      spark: SparkSession,
      table: SeqTable,
      snap: Snapshot,
      useDistributed: Boolean): Seq[graft.table.FileMeta] = {
    if (SeqIO.keyManifestsOf(snap).isEmpty) return Nil
    import spark.implicits._
    val dels = SeqIO.deletesDF(spark, table, snap)
      .select(col("_del_key").as("key"), col("_del_seq").as("seq"))
    // ONE bounded scan decides both "how many keys" and the probe set (dels is an uncached
    // multi-file text read — a separate count() plus a distinct-collect would re-read every
    // delete manifest twice more)
    val maxK = graft.table.DocBloom.PruneMaxKeys
    val keyArr = dels.select("key").distinct().limit(maxK.toInt + 1).as[String].collect()

    if (!useDistributed) {
      val live = table.liveFiles(snap)
      val fileRanges = spark.createDataset(live.map(f => (f.path, f.minDocId, f.maxDocId, f.addedAt)))
        .toDF("path", "min_doc", "max_doc", "added")
      val rangePaths = fileRanges
        .join(broadcast(dels),
          col("key").between(col("min_doc"), col("max_doc")) && col("seq") > col("added"))
        .select("path").distinct().as[String].collect().toSet
      val rangeCandidates = live.filter(f => rangePaths.contains(f.path))
      val probeBudgetOk = keyArr.length <= maxK &&
        keyArr.length.toLong * rangeCandidates.size <= 200_000_000L
      if (!probeBudgetOk) rangeCandidates
      // bloom absence proves the file holds no deleted key at all — sound to skip regardless
      // of sequence numbers (the range+seq join above already handled ordering)
      else rangeCandidates.filter(f => graft.table.DocBloom.mayContainAny(f, keyArr))
    } else {
      val metaN = SeqIO.fileMetaDSOf(spark, table, snap, narrow = true)
      val cand = metaN.toDF()
        .join(broadcast(dels),
          col("key").between(col("minDocId"), col("maxDocId")) && col("seq") > col("addedAt"),
          "left_semi")
        .as[graft.table.FileMeta].collect().toSeq
      val probeBudgetOk = keyArr.length <= maxK &&
        keyArr.length.toLong * cand.size <= 200_000_000L
      if (!probeBudgetOk || cand.isEmpty) cand
      else SeqIO.bloomCandidates(spark, table, snap, cand, keyArr)
    }
  }

  /** Planner-companion housekeeping: retire delete manifests that no live file can match anymore
    * (because pressure-weighted maintenance tasks already rewrote every laden file delete-aware)
    * with a METADATA-ONLY commit — no data moves. When candidates remain (some laden file stayed
    * below the act threshold), the `.dv` manifests whose EVERY target basename is dead are still
    * individually retired: a DV is file-pinned and basenames are never reused, so a dead-target
    * DV is provably inert — the partial drop trims the read path's bitmap load while the live
    * remainder keeps applying. Both drops pin `expectedBase`: deadness was judged against THIS
    * snapshot, and a concurrent ROLLBACK can restore a state where the files live again (their
    * rows hidden by exactly these manifests) — a rebase would silently resurrect them. Returns
    * None when nothing can drop or a concurrent commit raced us (the next cycle retries).
    */
  def dropObsolete(
      spark: SparkSession,
      table: SeqTable,
      distributedMetaFiles: Long = SeqIO.DistributedDiffMetaFiles): Option[Snapshot] = {
    val snap = table.currentSnapshot()
    if (snap.deleteManifests.isEmpty) return None
    val useDistributed = SeqIO.routesDistributed(snap, distributedMetaFiles)
    val drop: Set[String] =
      if (candidateFiles(spark, table, snap, useDistributed).isEmpty)
        snap.deleteManifests.toSet // nothing left to materialize — the whole set retires
      else {
        import scala.jdk.CollectionConverters._
        val dvMs = SeqIO.dvManifestsOf(snap)
        if (dvMs.isEmpty) return None
        val liveBasenames =
          table.liveFilesNarrow(snap).iterator.map(f => SeqIO.fileBasename(f.path)).toSet
        dvMs.filter { m =>
          java.nio.file.Files.readAllLines(
            java.nio.file.Paths.get(table.deleteManifestPath(m))).asScala
            .forall(l => !liveBasenames(graft.table.Dv.parseLineHeader(l)._1))
        }.toSet
      }
    if (drop.isEmpty) return None
    try Some(table.commit("materialize-deletes", Nil, Set.empty,
      Map("delete-manifests-dropped" -> drop.size.toString,
        "obsolete" -> "true"),
      removedDeleteManifests = drop,
      plannedDeleteManifests = Some(snap.deleteManifests.toSet),
      expectedBase = Some(snap.version),
      editPlanner =
        if (useDistributed) Some(SeqIO.distributedManifestEdit(spark, table)) else None))
    catch { case _: table.CommitConflictException => None }
  }
}
