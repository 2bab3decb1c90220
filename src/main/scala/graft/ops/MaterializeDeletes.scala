package graft.ops

import org.apache.spark.sql.SparkSession
import graft.planner.GridConfig
import graft.table.{Dv, FileMeta, KeyPrune, SeqIO, SeqTable, Snapshot}

/** The two ways out of pending merge-on-read equality deletes (`.keys` manifests, which tax
  * every read with an anti-join):
  *  - [[toVectors]], each maintenance cycle's first step: the same deletes as position deletion
  *    vectors ([[Dv]]) in one metadata-only commit, no data file rewritten. A sparse delete set
  *    stays sparse and costs reads a per-row bitmap probe; the planner then sees every file's
  *    exact deleted fraction and rewrites a file for its deletes only once they outweigh it
  *    ([[MaintenancePlanner.DeleteWeight]]).
  *  - [[run]], the explicit full materialization back to a clean copy-on-write state: rewrite
  *    (with deletes applied) exactly the files that could still contain a deleted row — pruned by
  *    manifest doc_id ranges + sequence numbers, plus every DV target — then drop every delete
  *    manifest in the same atomic commit. After it runs, reads take the no-join fast path again.
  */
object MaterializeDeletes {

  /** Convert `snap`'s pending equality deletes into deletion vectors: the live files that may
    * hold a key ([[KeyPrune.filesMayHold]], with `keys` = `snap`'s [[KeyPrune.KeySet.deletedIn]]
    * as collected by the caller), one scan of their `doc_id`s for the rows the keys hide and no
    * DV hides yet ([[SeqIO.keyDeletedPositions]]), the bitmaps written as `.dv` manifests, and
    * one commit that adds them and drops every `.keys` manifest. Row visibility is unchanged at
    * every version, so the changelog across the commit is empty.
    *
    * The DVs are exact only for `snap`, so the commit is pinned to it (`expectedBase`): a
    * concurrent MoR merge's new keys must not be dropped unconverted, and a concurrent rollback
    * can make files live again whose restored rows these DVs would hide. On any concurrent
    * commit the new manifests are deleted and None returned — the cycle goes on with the keys as
    * they are. Also None when `snap` has no `.keys` or `keys` was too big to collect.
    */
  def toVectors(
      spark: SparkSession,
      table: SeqTable,
      snap: Snapshot,
      keys: KeyPrune.KeySet,
      distributedMetaFiles: Long = SeqIO.DistributedDiffMetaFiles): Option[Snapshot] = {
    val keyManifests = SeqIO.keyManifestsOf(snap)
    if (keyManifests.isEmpty || keys.groups.isEmpty) return None
    val candidates = KeyPrune.filesMayHold(spark, table, snap,
      KeyPrune.liveFiles(spark, table, snap, distributedMetaFiles), keys)
    val dvNames =
      if (candidates.isEmpty) Nil
      else SeqIO.writeDvManifests(spark, table,
        SeqIO.keyDeletedPositions(spark, table, snap, candidates), snap.version + 1)
    val headers = Dv.headers(table, dvNames)
    try Some(table.commit("delete-vectors", Nil, Set.empty,
      Map("delete-keys-converted" -> keys.size.toString,
        "dv-manifests" -> dvNames.size.toString,
        "dv-deleted-rows" -> headers.map(_._2).sum.toString,
        "dv-files-targeted" -> headers.map(_._1).distinct.size.toString),
      addedDeleteManifests = dvNames,
      removedDeleteManifests = keyManifests.toSet,
      plannedDeleteManifests = Some(snap.deleteManifests.toSet),
      expectedBase = Some(snap.version)))
    catch {
      case _: table.CommitConflictException =>
        table.dropUncommitted(Nil, dvNames)
        None
    }
  }

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
    * below the act threshold, as a sparsely deleted DV target does), the `.dv` manifests whose
    * EVERY target basename is dead are still individually retired: a DV is file-pinned and
    * basenames are never reused, so a dead-target DV is provably inert — the partial drop trims
    * the read path's bitmap load while the live remainder keeps applying. Both drops pin
    * `expectedBase`: deadness was judged against THIS snapshot, and a concurrent ROLLBACK can
    * restore a state where the files live again (their rows hidden by exactly these manifests) —
    * a rebase would silently resurrect them. Returns None when nothing can drop or a concurrent
    * commit raced us (the next cycle retries).
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
