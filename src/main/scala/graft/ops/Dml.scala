package graft.ops

import org.apache.spark.sql.{Column, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.functions._
import graft.planner.GridConfig
import graft.table.{Dv, FileMeta, SeqIO, SeqTable}

/** Predicate DML — `DELETE FROM … WHERE` and `UPDATE … SET … WHERE` as first-class engine ops
  * (the Iceberg/Delta row-level DML surface, public design), routed through the transactional
  * [[MergeInto]] path so they inherit its whole machinery: manifest range + per-file Bloom
  * pruning, COW/MoR auto-routing by affected share, conflict-retry rebase, snapshot isolation.
  *
  * The affected-row scan is a filtered read: Spark pushes the predicate into the parquet scan,
  * whose file index opens only the files the manifest stats admit ([[SeqIO.mayHold]]); the
  * merge's own key prune then bounds the rewrite to files that may hold affected keys — a
  * sparse predicate touches only its files, a dense one auto-routes to merge-on-read.
  *
  * Isolation: the predicate is evaluated against the snapshot current AT CALL TIME (snapshot
  * isolation, the Iceberg/Delta DML contract) — rows appended concurrently are not
  * retro-matched, and a concurrent rewrite of an affected file surfaces as
  * `CommitConflictException` through the merge path's validation rather than silently losing
  * either write.
  */
object Dml {

  /** DELETE FROM table WHERE `cond`. Returns the merge result (files rewritten / snapshot).
    * `mor` forces merge-on-read (delete manifests only, no rewrite); `dv` writes POSITION
    * deletion vectors instead (metadata-only commit, read tax = a codegen bitmap probe instead
    * of the equality anti-join — see [[graft.table.Dv]]); default auto-routes COW/MoR.
    */
  def deleteWhere(spark: SparkSession, table: SeqTable, cond: Column, cfg: GridConfig,
      targetRecordsPerFile: Long, mor: Boolean = false, dv: Boolean = false): MergeResult = {
    require(!(mor && dv), "deleteWhere: mor and dv are mutually exclusive")
    if (dv) return dvDelete(spark, table, cond)
    // keys only: a delete change set needs no payload (merge null-fills the unused columns), so
    // the victims' token arrays never enter the change-set shuffle
    val victims = SeqIO.read(spark, table).filter(cond)
      .select(col("doc_id"))
      .withColumn("_op", lit("D"))
    MergeInto.merge(spark, table, victims, cfg, targetRecordsPerFile,
      mor = mor, auto = !mor)
  }

  /** Position-delete path of [[deleteWhere]]: the victim scan (pinned snapshot, manifest-pruned,
    * delete-aware so already-hidden rows are never re-marked) yields (file, row ordinal) pairs;
    * executors build one run-bitmap per file and the commit is METADATA-ONLY — no data file is
    * read back or rewritten, latency ∝ matched rows, and subsequent reads pay a per-row bitmap
    * probe instead of an anti-join. The commit's `requireLivePaths` fence re-validates on every
    * CAS attempt that no concurrent rewrite replaced a target file (positions are file-pinned;
    * committing against a rewritten file would silently lose the delete), re-scanning on
    * conflict.
    */
  private[graft] def dvDelete(spark: SparkSession, table: SeqTable, cond: Column,
      maxAttempts: Int = 5,
      distributedMetaFiles: Long = SeqIO.DistributedDiffMetaFiles): MergeResult = {
    var attempt = 0
    while (true) {
      attempt += 1
      val snap = table.currentSnapshot()
      val useDistributed = SeqIO.routesDistributed(snap, distributedMetaFiles)
      val victims = SeqIO.readWithDeletes(spark, table, snap, table.liveFilesNarrow(snap),
        keepPos = true).filter(cond)
      val selected = GraftSqlBridge.selectedFiles(victims)
      val dvNames = SeqIO.writeDvManifests(spark, table, victims.select(col("_fn"), col("_pos")),
        snap.version + 1)
      if (dvNames.isEmpty) return MergeResult(snap, 0, attempt) // predicate matched nothing
      val (targeted, deletedRows) = dvTargets(table, dvNames, selected)
      try {
        val s = table.commit("delete-dv", Nil, Set.empty,
          Map("dv-manifests" -> dvNames.size.toString,
            "dv-deleted-rows" -> deletedRows.toString,
            "dv-files-targeted" -> targeted.size.toString),
          addedDeleteManifests = dvNames,
          requireLivePaths = targeted,
          livePathsChecker =
            if (useDistributed) Some(SeqIO.distributedLivePathsCheck(spark, table)) else None)
        return MergeResult(s, 0, attempt)
      } catch {
        case e: table.CommitConflictException =>
          table.dropUncommitted(Nil, dvNames)
          if (attempt >= maxAttempts) throw e
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** The `selected` files the new `.dv` manifests `dvNames` target (their paths) and the rows
    * they hide, from the manifests' own headers (bitmaps not decoded).
    */
  private def dvTargets(table: SeqTable, dvNames: Seq[String],
      selected: Seq[FileMeta]): (Set[String], Long) = {
    val headers = Dv.headers(table, dvNames)
    val basenames = headers.map(_._1).toSet
    (selected.filter(f => basenames(SeqIO.fileBasename(f.path))).map(_.path).toSet,
      headers.map(_._2).sum)
  }

  /** UPDATE table SET col = expr, … WHERE `cond`. `set` maps column name → new-value expression
    * (evaluated against the current row); only `tokens` and `source` are updatable — `doc_id`
    * is the merge key and `n_tok` is derived (recomputed when `tokens` changes, the schema
    * invariant n_tok == size(tokens)).
    */
  def updateWhere(spark: SparkSession, table: SeqTable, cond: Column, set: Map[String, Column],
      cfg: GridConfig, targetRecordsPerFile: Long, mor: Boolean = false,
      dv: Boolean = false): MergeResult = {
    require(!(mor && dv), "updateWhere: mor and dv are mutually exclusive")
    val schema = table.currentSchema()
    // every column except the merge key and the derived n_tok is updatable — including
    // evolved (added) columns
    val updatable = schema.fieldNames.toSet -- Set("doc_id", "n_tok")
    val bad = set.keySet -- updatable
    require(bad.isEmpty, s"updateWhere: non-updatable columns ${bad.mkString(", ")} " +
      "(doc_id is the merge key; n_tok is derived from tokens)")
    if (dv) return dvUpdate(spark, table, cond, set, cfg, targetRecordsPerFile)
    val upd0 = SeqIO.read(spark, table).filter(cond)
    // ONE projection for every SET clause (SQL UPDATE semantics): each right-hand side is
    // evaluated against the ORIGINAL row — a sequential withColumn fold would let a later
    // assignment read an earlier one's already-updated value, with Map iteration order deciding
    // which (e.g. SET tokens = …, source = f(tokens) seeing the new tokens)
    val withSet = upd0.withColumns(set)
    val upserts = withSet
      .withColumn("n_tok", size(col("tokens")))
      .select(schema.fieldNames.toSeq.map(col): _*)
      .withColumn("_op", lit("U"))
    MergeInto.merge(spark, table, upserts, cfg, targetRecordsPerFile,
      mor = mor, auto = !mor)
  }

  /** Position-delete UPDATE: ONE commit appends the updated rows as new curve-clustered files
    * and hides the old physical rows behind deletion vectors — no target file is read back for
    * survivor rewriting (the Delta deletion-vector UPDATE shape). Write cost ∝ matched rows.
    * Both the new rows and the positions derive from the same pinned-snapshot scan, so a
    * conflict retry re-derives both against the new head; the `requireLivePaths` fence refuses
    * the commit if a target file was concurrently rewritten.
    */
  private[graft] def dvUpdate(spark: SparkSession, table: SeqTable, cond: Column,
      set: Map[String, Column], cfg: GridConfig, targetRecordsPerFile: Long,
      maxAttempts: Int = 5,
      distributedMetaFiles: Long = SeqIO.DistributedDiffMetaFiles): MergeResult = {
    val schema = table.currentSchema()
    var attempt = 0
    while (true) {
      attempt += 1
      val snap = table.currentSnapshot()
      val useDistributed = SeqIO.routesDistributed(snap, distributedMetaFiles)
      // one pinned scan feeds BOTH faces of the update (persisted: new rows + positions)
      val scan = SeqIO.readWithDeletes(spark, table, snap, table.liveFilesNarrow(snap),
        keepPos = true).filter(cond)
      val selected = GraftSqlBridge.selectedFiles(scan)
      val matched = scan.persist()
      try {
        val newRows = matched.withColumns(set) // each RHS sees the ORIGINAL row (SQL UPDATE)
          .withColumn("n_tok", size(col("tokens")))
          .select(schema.fieldNames.toSeq.map(col): _*)
        val added = Rewrite.clusteredWrite(spark, table, newRows, cfg, targetRecordsPerFile,
          selected.map(_.records).sum)
        val dvNames = SeqIO.writeDvManifests(spark, table,
          matched.select(col("_fn"), col("_pos")), snap.version + 1)
        if (dvNames.isEmpty) return MergeResult(snap, 0, attempt) // predicate matched nothing
        val (targeted, updatedRows) = dvTargets(table, dvNames, selected)
        try {
          val s = table.commit("update-dv", added, Set.empty,
            Map("dv-manifests" -> dvNames.size.toString,
              "dv-updated-rows" -> updatedRows.toString,
              "dv-files-targeted" -> targeted.size.toString),
            addedDeleteManifests = dvNames,
            // rewrites existing rows → must fence against delete manifests that appeared since
            // the pinned scan (same hazard as the COW merge: the update's new files carry
            // addedAt > the concurrent delete's seq, resurrecting its deleted rows)
            plannedDeleteManifests = Some(snap.deleteManifests.toSet),
            requireLivePaths = targeted,
            livePathsChecker =
              if (useDistributed) Some(SeqIO.distributedLivePathsCheck(spark, table)) else None)
          return MergeResult(s, 0, attempt, added.map(_.records).sum)
        } catch {
          case e: table.CommitConflictException =>
            table.dropUncommitted(added, dvNames)
            if (attempt >= maxAttempts) throw e
        }
      } finally { matched.unpersist(); () }
    }
    throw new IllegalStateException("unreachable")
  }
}
