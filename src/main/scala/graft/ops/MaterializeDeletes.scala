package graft.ops

import org.apache.spark.sql.SparkSession
import graft.planner.GridConfig
import graft.table.{Dv, FileMeta, KeyPrune, SeqIO, SeqTable, Snapshot}

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
      val live = KeyPrune.liveFiles(spark, table, snap, distributedMetaFiles)
      val candidates = candidateFiles(spark, table, snap, live)
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
          editPlanner = live.toOption.map(_ => SeqIO.distributedManifestEdit(spark, table))))
      } catch {
        case e: table.CommitConflictException =>
          table.dropUncommitted(added)
          if (attempt >= maxAttempts) throw e
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Candidate files for delete materialization: every live file that may hold a key an
    * equality delete newer than the file hides ([[KeyPrune]]: doc_id range + sequence, then doc_id
    * Blooms, which cut curve layouts — where ranges prune nothing — down to the files that hold a
    * deleted key), plus every live file a deletion vector targets. The `.dv` manifests name their
    * targets outright (header parse, no bitmap decode), so that half is an exact basename match;
    * a dead basename (file already rewritten) matches nothing. The delete-aware rewrite then
    * materializes BOTH delete families in one pass. `deleteKeys` is `snap`'s
    * [[KeyPrune.KeySet.deletedIn]] when the caller holds it (else it is collected here).
    */
  private[ops] def candidateFiles(
      spark: SparkSession,
      table: SeqTable,
      snap: Snapshot,
      live: KeyPrune.Manifest,
      deleteKeys: Option[KeyPrune.KeySet] = None): Seq[FileMeta] = {
    val eq =
      if (SeqIO.keyManifestsOf(snap).isEmpty) Nil
      else KeyPrune.filesMayHold(spark, table, snap, live,
        deleteKeys.getOrElse(KeyPrune.KeySet.deletedIn(spark, table, snap)))
    val dvTargets = Dv.headers(table, SeqIO.dvManifestsOf(snap)).map(_._1).toSet
    val dv =
      if (dvTargets.isEmpty) Nil
      else KeyPrune.collectWhere(live, f => dvTargets(SeqIO.fileBasename(f.path)))
    val eqPaths = eq.map(_.path).toSet
    eq ++ dv.filterNot(f => eqPaths(f.path))
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
    *
    * `planned` is a snapshot and its [[KeyPrune.KeySet.deletedIn]] collected earlier (the
    * maintenance cycle's planner pressure): the key set serves again while the head's `.keys`
    * manifests are the same, and is collected afresh once a MoR merge has changed them.
    */
  def dropObsolete(
      spark: SparkSession,
      table: SeqTable,
      distributedMetaFiles: Long = SeqIO.DistributedDiffMetaFiles,
      planned: Option[(Snapshot, KeyPrune.KeySet)] = None): Option[Snapshot] = {
    val snap = table.currentSnapshot()
    if (snap.deleteManifests.isEmpty) return None
    val live = KeyPrune.liveFiles(spark, table, snap, distributedMetaFiles)
    val keyManifests = SeqIO.keyManifestsOf(snap).toSet
    val candidates = candidateFiles(spark, table, snap, live, planned.collect {
      case (s, keys) if SeqIO.keyManifestsOf(s).toSet == keyManifests => keys
    })
    val drop: Set[String] =
      if (candidates.isEmpty)
        snap.deleteManifests.toSet // nothing left to materialize — the whole set retires
      else {
        // every live DV target is a candidate, so a DV is dead iff no target is one
        val candidateBasenames = candidates.map(f => SeqIO.fileBasename(f.path)).toSet
        SeqIO.dvManifestsOf(snap).filter { m =>
          Dv.headers(table, Seq(m)).forall(h => !candidateBasenames(h._1))
        }.toSet
      }
    if (drop.isEmpty) return None
    try Some(table.commit("materialize-deletes", Nil, Set.empty,
      Map("delete-manifests-dropped" -> drop.size.toString,
        "obsolete" -> "true"),
      removedDeleteManifests = drop,
      plannedDeleteManifests = Some(snap.deleteManifests.toSet),
      expectedBase = Some(snap.version),
      editPlanner = live.toOption.map(_ => SeqIO.distributedManifestEdit(spark, table))))
    catch { case _: table.CommitConflictException => None }
  }
}
