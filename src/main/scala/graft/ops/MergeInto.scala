package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.planner.GridConfig
import graft.table.{FileMeta, SeqIO, SeqTable, Snapshot}

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
  *  1. **prune**: only data files whose manifest [minDocId, maxDocId] range can contain a change
  *     key are touched — a broadcast range-join of change keys against file stats;
  *  2. **map-only update path**: the pruned target subset joins the broadcast change set and is
  *     rewritten partition-for-partition — NO shuffle, no range sampling; the curve-sorted layout
  *     of the affected files carries over to their replacements. (When the change set is too big
  *     to broadcast, the join falls back to shuffle but the write still avoids re-sampling.)
  *  3. **insert path**: change rows matching no target row are written as a small separate
  *     curve-clustered file set;
  *  4. one atomic commit swaps affected → rewritten ∪ inserts.
  *
  * Isolation: the commit validates that no concurrent commit rewrote our affected files; on
  * conflict the ENTIRE merge replans against the new snapshot (bounded retries). Two merges on
  * disjoint files commit concurrently; overlapping merges serialize — one wins, one replans.
  * The reference has no transactional machinery; this replaces its single-writer REST queue
  * (`/root/reference/src/main/scala/SDL/main/main.java:169-248`).
  */
object MergeInto {

  /** Ceiling for the collected sorted-key prune array (~4M keys ≈ tens of MB broadcast);
    * larger change sets fall back to the theta-join prune and auto-route MoR regardless.
    */
  val MaxPruneKeys: Long = 1L << 22

  /** Two daemon threads for the COW merge's concurrent survivor/upsert writes (guide §2.6) —
    * shared across merges; jobs still schedule FIFO inside Spark.
    */
  private lazy val writePool: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newFixedThreadPool(2, r => {
        val t = new Thread(r, "graft-merge-write")
        t.setDaemon(true)
        t
      }))

  /** Does [min, max] (inclusive, per manifest stats) contain ANY of the sorted keys?
    * Two binary searches — the O(log K) per-file range prune. Keys must be sorted with
    * [[graft.table.Utf8Order]] and all comparisons use it: the per-file min/max stats come from
    * Spark min/max (UTF-8 byte order), and mixing in Java's UTF-16 order can wrongly prune a
    * file that holds a key (missed COW rewrite → duplicate keys after MERGE).
    */
  private[graft] def rangeMayHit(sorted: Array[String], min: String, max: String): Boolean = {
    var lo = 0
    var hi = sorted.length
    while (lo < hi) { // first index with sorted(i) >= min
      val mid = (lo + hi) >>> 1
      if (graft.table.Utf8Order.compare(sorted(mid), min) < 0) lo = mid + 1 else hi = mid
    }
    lo < sorted.length && graft.table.Utf8Order.compare(sorted(lo), max) <= 0
  }

  /** @param mor  force merge-on-read (delete manifests, no target rewrite)
    * @param auto pick the physical strategy per attempt from the prune result: when the affected
    *             files hold more than `autoMorFraction` of the table's records, a COW rewrite
    *             degenerates toward a full-table rewrite (with ~10^3-row-per-key density, every
    *             file contains SOME changed key — no pruning scheme beats that physics), so the
    *             merge routes to MoR and leaves physical cleanup to compaction/materialization;
    *             sparse change sets keep the read-optimal COW path
    */
  /** @param propertyUpdates table properties committed ATOMICALLY with the merge — the
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
    def upsertRows = ch.filter(col("_op") =!= "D")
      .select(tableSchema.fieldNames.toSeq.map(n => col(s"c_$n").as(n)): _*)
    def timed[T](tag: String)(f: => T): T = graft.Timing.timed(s"merge/$tag")(f)
    // keys is persisted for the whole merge (reused by the prune, anti-join and delete-manifest
    // write of every attempt) and MUST be unpersisted on exit: a long-running maintenance driver
    // runs thousands of merges, and each leaked cache entry pins executor storage + a driver
    // CacheManager registration for the life of the session
    var keys: DataFrame = null
    try {
      keys = ch.select(col("c_doc_id")).distinct().persist()
      // ONE job materializes the key cache AND yields the count + the sorted prune array for
      // every change set under the cap (the prior count-then-collect shape paid two jobs per
      // merge — pure scheduling latency in the executor-count scaling legs); only an over-cap
      // set pays a separate count.
      // SORTED key array for the range prune, collected ONCE (not per conflict-retry attempt):
      // per-file candidacy is two binary searches — O(F log K) — where the broadcast theta-join
      // it replaces was a nested-loop O(F × K): 10^7 files × 10^6 keys is 10^13 comparisons
      // (hours) vs 2×10^8 (sub-second). Above MaxPruneKeys the array no longer broadcasts
      // comfortably and the merge is table-wide anyway (auto-routes MoR) — the theta-join
      // fallback stands. The ≤ PruneMaxKeys prefix doubles as the bloom probe set.
      val capped: Array[String] = {
        import spark.implicits._
        timed("materialize-changes")(
          keys.limit((MaxPruneKeys + 1).toInt).as[String].collect())
      }
      val nKeys: Long =
        if (capped.length > MaxPruneKeys) keys.count() else capped.length.toLong
      val sortedKeys: Array[String] =
        if (nKeys > MaxPruneKeys) null
        else { java.util.Arrays.sort(capped, graft.table.Utf8Order); capped }
      val bloomKeys: Array[String] =
        if (sortedKeys == null || nKeys > graft.table.DocBloom.PruneMaxKeys) Array.empty
        else sortedKeys
      var attempt = 0
      while (true) {
        attempt += 1
        val snap = table.currentSnapshot()
        // distributed routing mirrors tableDiff/the planner: above the threshold (or at 0,
        // forcing it) the live manifest stays on executors end-to-end
        val useDistributed = SeqIO.routesDistributed(snap, distributedMetaFiles)

        // 1. manifest pruning: files whose doc_id range may contain a change key (also drives the
        //    auto COW-vs-MoR routing, so it runs before the branch; pure metadata × keys).
        //    Two levels: the [min,max] range join (free, but blind on curve-clustered layouts
        //    where every file spans the whole key domain), then per-file doc_id Blooms for sparse
        //    change sets — key-level pruning that works on ANY layout (DocBloom scaladoc).
        import spark.implicits._
        val (affected: Seq[FileMeta], liveRecords: Long) =
          if (!useDistributed) {
            // bench-scale fast path: cached driver manifests; with the sorted key array the
            // range prune is a driver-local binary-search filter — ZERO metadata jobs
            val live = table.liveFiles(snap)
            val rangeAffected = timed("prune")(
              if (sortedKeys != null)
                live.filter(f => rangeMayHit(sortedKeys, f.minDocId, f.maxDocId))
              else {
                val fileRanges = spark.createDataset(
                  live.map(f => (f.path, f.minDocId, f.maxDocId)))
                  .toDF("path", "min_doc", "max_doc")
                val rangePaths = fileRanges
                  .join(broadcast(keys), col("c_doc_id").between(col("min_doc"), col("max_doc")))
                  .select("path").distinct().as[String].collect().toSet
                live.filter(f => rangePaths.contains(f.path))
              })
            // probe budget: the driver-side test is keys × candidate-files in the worst case;
            // above the ceiling the range prune stands alone (dense sets route to MoR regardless)
            val probeBudgetOk =
              bloomKeys.nonEmpty && bloomKeys.length.toLong * rangeAffected.size <= 200_000_000L
            val a = timed("bloom-prune")(
              if (!probeBudgetOk) rangeAffected
              else rangeAffected.filter(f => graft.table.DocBloom.mayContainAny(f, bloomKeys)))
            (a, live.map(_.records).sum)
          } else {
            // 10^7-file path: the range join runs on the NARROW manifest Dataset (executors,
            // bloom column never read), only range-candidate entries reach the driver
            // (change-proportional); the Bloom refinement probes the candidates' full-width
            // entries ON EXECUTORS against the broadcast key set, so no docBloom byte ever
            // lands on the driver — candidates are collected bloom-stripped either way.
            val metaN = SeqIO.fileMetaDSOf(spark, table, snap, narrow = true)
            val liveRecords = timed("meta-agg")(
              metaN.toDF().agg(coalesce(sum("records"), lit(0L))).head.getLong(0))
            val cand = timed("prune")(
              if (sortedKeys != null) {
                val ka = spark.sparkContext.broadcast(sortedKeys)
                metaN.filter(f => MergeInto.rangeMayHit(ka.value, f.minDocId, f.maxDocId))
                  .collect().toSeq
              } else metaN.toDF()
                .join(broadcast(keys),
                  col("c_doc_id").between(col("minDocId"), col("maxDocId")), "left_semi")
                .as[FileMeta].collect().toSeq)
            val probeBudgetOk =
              bloomKeys.nonEmpty && bloomKeys.length.toLong * cand.size <= 200_000_000L
            val a = timed("bloom-prune")(
              if (!probeBudgetOk || cand.isEmpty) cand
              else SeqIO.bloomCandidates(spark, table, snap, cand, bloomKeys))
            (a, liveRecords)
          }
        val affectedPaths = affected.map(_.path).toSet
        val editPlanner =
          if (useDistributed) Some(SeqIO.distributedManifestEdit(spark, table)) else None

        val useMor = mor || (auto && liveRecords > 0 &&
          affected.map(_.records).sum > autoMorFraction * liveRecords)

        if (useMor) {
          // merge-on-read: write ONLY the upserts + one equality-delete manifest (seq = the commit
          // version, hiding every older version of the changed keys); no target file is touched.
          // Latency ∝ change-set size, not affected-file size. Deletes are applied at read time
          // (SeqIO.applyDeletes) and physically removed by compaction / MaterializeDeletes.
          val upserts = upsertRows
          val added = timed("mor-upsert-write")(
            Rewrite.clusteredWrite(spark, table, upserts, cfg, targetRecordsPerFile, nKeys))
          val seq = snap.version + 1
          // distributed manifest write: executors emit the key files, no driver funnel
          val dms = timed("mor-delete-manifests")(
            SeqIO.writeDeleteManifests(spark, table, keys, seq, nKeys))
          try {
            val s = table.commit("merge-mor", added, Set.empty,
              Map("merge-attempt" -> attempt.toString, "delete-seq" -> seq.toString),
              maxRetries = 0, addedDeleteManifests = dms,
              expectedBase = Some(snap.version), // seq is baked into the manifest: no silent rebase
              propertyUpdates = propertyUpdates,
              requirePropertyEquals = requirePropertyEquals)
            return MergeResult(s, 0, attempt, added.map(_.records).sum)
          } catch {
            case e: table.CommitConflictException =>
              table.dropUncommitted(added, dms)
              if (attempt >= maxAttempts) throw e
          }
        } else {

        val snapDeletes = snap // pre-existing MoR deletes must not resurrect via this rewrite

        // 2. COW split. The merged state is exactly (target \ changedKeys) ∪ upserts:
        //    a) SURVIVOR path — target rows whose key is untouched, rewritten map-only with one
        //       file per scan task (ScanShape.FilePerTask): a broadcast anti-join, ZERO payload
        //       shuffle, and each output is a SUBSET of its source file, so the file's min/max
        //       stats stay tight. Rewriting updated rows in place instead would poison per-file
        //       stats (an update may move the row anywhere in key space).
        //    b) UPSERT path — every non-delete change row (update or insert alike) goes through
        //       the curve-clustered write, landing where its new (source, n_tok) says it belongs.
        // The two writes are INDEPENDENT (both derive from the pinned snapshot + the already-
        // materialized ch cache), so they run as concurrent driver-thread jobs (guide §2.6:
        // back-fill the cluster through each other's straggler tails) — the merge leg of the
        // executor-count scaling harness measured a ~7 s/merge serial term that was mostly
        // these two job chains queuing end to end.
        val (rewritten: Seq[FileMeta], insertedFiles: Seq[FileMeta]) = {
          import scala.concurrent.{Await, Future}
          import scala.concurrent.duration.Duration
          implicit val ec = MergeInto.writePool
          // both sides' jobs run in one job group, so a failed side can cancel its peer's
          // running jobs and every job it submits later (a side runs several in sequence)
          val group = s"graft-merge-${java.util.UUID.randomUUID()}"
          def grouped[T](body: => T): Future[T] = Future {
            spark.sparkContext.setJobGroup(group, "graft merge write")
            try body finally spark.sparkContext.clearJobGroup()
          }
          val survivorsF: Future[Seq[FileMeta]] =
            if (affected.isEmpty) Future.successful(Nil)
            else grouped {
              val target = SeqIO.readWithDeletes(spark, table, snapDeletes, affected,
                shape = SeqIO.ScanShape.FilePerTask)
              val keySide = if (broadcastChanges) broadcast(keys) else keys
              val survivors = target
                .join(keySide, col("doc_id") === col("c_doc_id"), "left_anti")
              timed("survivor-rewrite")(SeqIO.writeFiles(spark, table, survivors,
                clustered = affected.forall(_.clustered)))
            }
          val upsertsF: Future[Seq[FileMeta]] = grouped {
            timed("upsert-write")(Rewrite.clusteredWrite(
              spark, table, upsertRows, cfg, targetRecordsPerFile, nKeys))
          }
          // zip fails as soon as either side fails, without waiting for the other
          try Await.result(survivorsF.zip(upsertsF), Duration.Inf)
          catch {
            case e: Throwable =>
              // one side failed: cancel the peer's jobs, wait for it (two minutes at most: a
              // peer stuck outside a Spark job must not hang the merge) and reclaim any files
              // it already landed — the commit-conflict cleanup below never sees them
              // otherwise. A peer still running at the deadline leaves removeOrphans candidates.
              spark.sparkContext.cancelJobGroupAndFutureJobs(group)
              Seq(survivorsF, upsertsF).foreach { f =>
                try table.dropUncommitted(Await.result(f, Duration(2, "min")))
                catch { case _: Throwable => () }
              }
              throw e
          }
        }

        // 4. atomic swap; on conflict (incl. a delete manifest added by a concurrent MoR merge
        //    since our plan — our rewritten files would escape its deletes), drop our orphan
        //    files and replan from the new head
        try {
          val s = timed("cow-commit")(table.commit("merge", rewritten ++ insertedFiles,
            affectedPaths,
            Map("merge-attempt" -> attempt.toString),
            plannedDeleteManifests = Some(snap.deleteManifests.toSet),
            propertyUpdates = propertyUpdates,
            requirePropertyEquals = requirePropertyEquals,
            editPlanner = editPlanner))
          return MergeResult(s, affected.size, attempt,
            (rewritten ++ insertedFiles).map(_.records).sum)
        } catch {
          case e: table.CommitConflictException =>
            table.dropUncommitted(rewritten ++ insertedFiles)
            if (attempt >= maxAttempts) throw e
        }
        } // end cow branch
      }
      throw new IllegalStateException("unreachable")
    } finally {
      ch.unpersist()
      if (keys != null) keys.unpersist()
      ()
    }
  }
}
