package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.planner.GridConfig
import graft.table.{KeyPrune, SeqIO, SeqTable, Snapshot}

final case class MergeResult(
    snapshot: Snapshot,
    filesRewritten: Int,
    attempts: Int,
    recordsWritten: Long = 0L) // rows physically written by THIS merge (survivors + upserts)

/** Copy-on-write MERGE INTO with optimistic snapshot-isolation.
  *
  * Semantics (per change row, keyed on `doc_id`; optional `_op` column, default upsert):
  *  - `_op = 'D'`  → delete the target row if present
  *  - otherwise    → update the target row, or insert when absent
  *
  * Physical plan, scale-first:
  *  1. **prune**: only data files whose manifest [minDocId, maxDocId] range and doc_id Bloom may
  *     hold a change key are touched ([[graft.table.KeyPrune]]);
  *  2. **survivor path**: the pruned target subset anti-joins the broadcast change keys and is
  *     rewritten file-for-file — NO shuffle, no range sampling; each replacement is a subset of
  *     its source file, so its layout and min/max stats carry over. (When the change set is too
  *     big to broadcast, the join falls back to shuffle.)
  *  3. **upsert path**: every non-delete change row, update or insert, is written as a small
  *     separate curve-clustered file set, by the same write job as the survivors;
  *  4. one atomic commit swaps affected → survivors ∪ upserts.
  *
  * Isolation: the commit validates that no concurrent commit rewrote our affected files; on
  * conflict the ENTIRE merge replans against the new snapshot (bounded retries). Two merges on
  * disjoint files commit concurrently; overlapping merges serialize — one wins, one replans.
  * The reference has no transactional machinery; this replaces its single-writer REST queue
  * (`/root/reference/src/main/scala/SDL/main/main.java:169-248`).
  */
object MergeInto {

  /** @param mor  force merge-on-read (delete manifests, no target rewrite)
    * @param auto pick the physical strategy per attempt from the prune result: when the affected
    *             files hold more than `autoMorFraction` of the table's records, a COW rewrite
    *             degenerates toward a full-table rewrite (with ~10^3-row-per-key density, every
    *             file contains SOME changed key — no pruning scheme beats that physics), so the
    *             merge routes to MoR and leaves physical cleanup to compaction/materialization;
    *             sparse change sets keep the read-optimal COW path
    * @param propertyUpdates table properties committed ATOMICALLY with the merge — the
    *   transactional-sink hook (a CDC consumer records its source offset in the same commit
    *   that applies the batch, so a crash can never separate the two — [[graft.sources
    *   .ChangeFeed]], same pattern as the streaming-ingest high-water mark)
    */
  def merge(
      spark: SparkSession,
      table: SeqTable,
      changes: DataFrame,
      cfg: GridConfig,
      targetRecordsPerFile: Long,
      maxAttempts: Int = 5,
      broadcastChanges: Boolean = true,
      mor: Boolean = false,
      auto: Boolean = false,
      autoMorFraction: Double = 0.3,
      propertyUpdates: Map[String, String] = Map.empty,
      requirePropertyEquals: Map[String, Option[String]] = Map.empty,
      // above this many live files the prune AND the commit's manifest edit run fully
      // distributed (0 = always): the driver never materializes the live manifest — at the
      // 10^7-file design point the full FileMeta set is ~130 GB of docBloom payload
      distributedMetaFiles: Long = SeqIO.DistributedDiffMetaFiles): MergeResult = {
    val hasOp = changes.columns.contains("_op")
    // normalize the change set to the table's CURRENT schema (fixed once for the whole merge):
    // columns the change set doesn't carry null-fill — a 4-column change set merges cleanly
    // into an evolved 5-column table (and delete-only sets may carry just doc_id + _op). Merge
    // replaces whole rows, so a missing column in an UPDATE row writes null, same as Iceberg's
    // MERGE with an explicit null assignment.
    val tableSchema = table.currentSchema()
    val chColsPresent = changes.columns.map(_.toLowerCase).toSet
    require(chColsPresent.contains("doc_id"), "merge: change set must carry doc_id")
    // a change set still speaking a RENAMED column's old name must fail loudly — the null-fill
    // below would silently drop its values (same contract as Ingest.conform)
    graft.table.SeqSchema.requireNoStaleNames(tableSchema, chColsPresent, "merge: change set")
    val ch = (if (hasOp) changes else changes.withColumn("_op", lit("U")))
      .select(tableSchema.fields.toSeq.map { f =>
        (if (chColsPresent.contains(f.name.toLowerCase)) col(f.name).cast(f.dataType)
         else lit(null).cast(f.dataType)).as(s"c_${f.name}")
      } :+ col("_op"): _*)
      .persist()
    // BASE columns are not null-fillable for UPSERTS: a change set missing tokens/n_tok would
    // write null payload rows and crash far away (the byte-balanced curve write reads n_tok).
    // Delete-only change sets (doc_id + _op) legitimately omit them — checked lazily.
    if (!chColsPresent.contains("tokens") || !chColsPresent.contains("n_tok"))
      require(ch.filter(col("_op") =!= "D").isEmpty,
        "merge: upsert rows must carry tokens and n_tok (delete-only change sets may omit them)")
    def timed[T](tag: String)(f: => T): T = graft.Timing.timed(s"merge/$tag")(f)
    // keys is persisted for the whole merge (reused by the prune, anti-join and delete-manifest
    // write of every attempt) and MUST be unpersisted on exit: a long-running maintenance driver
    // runs thousands of merges, and each leaked cache entry pins executor storage + a driver
    // CacheManager registration for the life of the session
    var keys: DataFrame = null
    try {
      keys = ch.select(col("c_doc_id")).distinct().persist()
      // ONE job materializes the key cache AND collects the keys for the prune of every attempt
      // (the prior count-then-collect shape paid two jobs per merge — pure scheduling latency in
      // the executor-count scaling legs); only an over-cap set pays a separate count
      val keySet = timed("materialize-changes")(KeyPrune.KeySet.of(keys))
      val nKeys = keySet.size
      var attempt = 0
      while (true) {
        attempt += 1
        val snap = table.currentSnapshot()
        // above distributedMetaFiles (or at 0, forcing it) the live manifest stays on executors
        // end-to-end, as in tableDiff and the planner
        val live = KeyPrune.liveFiles(spark, table, snap, distributedMetaFiles)
        val liveRecords = timed("meta-agg")(live.fold(_.map(_.records).sum,
          _.toDF().agg(coalesce(sum("records"), lit(0L))).head.getLong(0)))
        // 1. manifest pruning: files that may hold a change key (also drives the auto COW-vs-MoR
        //    routing, so it runs before the branch; pure metadata × keys)
        val affected = timed("prune")(KeyPrune.filesMayHold(spark, table, snap, live, keySet))
        val editPlanner = live.toOption.map(_ => SeqIO.distributedManifestEdit(spark, table))

        val useMor = mor || (auto && liveRecords > 0 &&
          affected.map(_.records).sum > autoMorFraction * liveRecords)

        // Both strategies write the upserts — every non-delete change row, update or insert alike
        // — through the curve-clustered layout, where their new (source, n_tok) says they belong.
        //  - merge-on-read: ONLY the upserts + one equality-delete manifest (seq = the commit
        //    version, hiding every older version of the changed keys); no target file is touched.
        //    Latency ∝ change-set size, not affected-file size. Deletes are applied at read time
        //    (SeqIO.applyDeletes) and physically removed by compaction / MaterializeDeletes.
        //  - COW: the merged state is exactly (target \ changedKeys) ∪ upserts. The SURVIVORS —
        //    target rows whose key is untouched — are rewritten map-only with one file per scan
        //    task (ScanShape.FilePerTask): a broadcast anti-join, ZERO payload shuffle, and each
        //    output is a SUBSET of its source file, so the file's min/max stats stay tight.
        //    Rewriting updated rows in place instead would poison per-file stats (an update may
        //    move the row anywhere in key space). The snapshot's MoR deletes apply to the
        //    survivors, so no deleted row resurrects.
        // ONE write holds both sides: one job whose result stage runs the survivor tasks, then
        // the upsert tasks; a failure on either side aborts it and leaves no file behind. The
        // survivor tasks wait for the upserts' byte-histogram job and shuffle-map stage, which
        // two concurrent writes overlapped (merge_read_mix COW merges ~4–6 % slower, 4 cores).
        val upserts = Rewrite.clusteredRows(spark, table, ch.filter(col("_op") =!= "D")
          .select(tableSchema.fieldNames.toSeq.map(n => col(s"c_$n").as(n)): _*),
          cfg, targetRecordsPerFile, nKeys)
        val survivors =
          if (useMor || affected.isEmpty) Nil
          else {
            val target = SeqIO.readWithDeletes(spark, table, snap, affected,
              shape = SeqIO.ScanShape.FilePerTask)
            val keySide = if (broadcastChanges) broadcast(keys) else keys
            Seq(target.join(keySide, col("doc_id") === col("c_doc_id"), "left_anti") ->
              affected.forall(_.clustered))
          }
        val written = timed(if (useMor) "mor-upsert-write" else "cow-write")(
          SeqIO.writeFiles(spark, table, survivors :+ (upserts -> true)))
        val seq = snap.version + 1
        // distributed manifest write: executors emit the key files, no driver funnel
        val dms = if (!useMor) Nil else timed("mor-delete-manifests")(
          SeqIO.writeDeleteManifests(spark, table, keys, seq, nKeys))

        // atomic swap; on conflict (for COW incl. a delete manifest added by a concurrent MoR
        // merge since our plan — our rewritten files would escape its deletes), drop our orphan
        // files and replan from the new head
        try {
          val s =
            if (useMor) table.commit("merge-mor", written, Set.empty,
              Map("merge-attempt" -> attempt.toString, "delete-seq" -> seq.toString),
              maxRetries = 0, addedDeleteManifests = dms,
              expectedBase = Some(snap.version), // seq is baked into the manifest: no silent rebase
              propertyUpdates = propertyUpdates,
              requirePropertyEquals = requirePropertyEquals)
            else timed("cow-commit")(table.commit("merge", written, affected.map(_.path).toSet,
              Map("merge-attempt" -> attempt.toString),
              plannedDeleteManifests = Some(snap.deleteManifests.toSet),
              propertyUpdates = propertyUpdates,
              requirePropertyEquals = requirePropertyEquals,
              editPlanner = editPlanner))
          return MergeResult(s, if (useMor) 0 else affected.size, attempt,
            written.map(_.records).sum)
        } catch {
          case e: table.CommitConflictException =>
            table.dropUncommitted(written, dms)
            if (attempt >= maxAttempts) throw e
        }
      }
      throw new IllegalStateException("unreachable")
    } finally {
      ch.unpersist()
      if (keys != null) keys.unpersist()
    }
  }
}
