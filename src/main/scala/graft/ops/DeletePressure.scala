package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.table.{FileMeta, KeyPrune, SeqIO, SeqTable, Snapshot}

/** Metadata-only estimate of how many of a file's rows are hidden by outstanding merge-on-read
  * deletes — the planner-side signal that routes delete-laden cells into the maintenance
  * top-k (SURVEY §7.1: the file weight includes delete-ratio), so [[Rewrite.compactFiles]]'s
  * delete-aware rewrite materializes them once they outweigh the file. Covers BOTH delete
  * families: deletion vectors (EXACT — each `.dv` manifest line carries its target file's
  * deleted-row cardinality up front, no bitmap decode), which is what a maintenance cycle sees
  * after [[MaterializeDeletes.toVectors]] has converted the pending keys; and equality keys,
  * which the incremental planner's re-pressured base, cold planner calls and a cycle whose
  * conversion conflicted or whose key set was too big to collect still score.
  *
  * The equality estimate counts, per file, the keys of each applying sequence group
  * ([[KeyPrune.Groups.hits]]) inside its [minDocId, maxDocId] — two binary searches per group —
  * and, when the entry carries its doc_id Bloom, only those the Bloom admits (one probe per key
  * of the range slice, within [[KeyPrune.ProbeBudget]] over the whole table). On a
  * curve-clustered layout every range spans the key domain, so the range count alone reads every
  * file as fully deleted; the Bloom count is the true count plus the Bloom's ~1 % false
  * positives. Narrow entries (the executor-side manifest) keep the range count. Beyond
  * [[DeletePressure.MaxKeys]] the set is near-table-wide anyway and every file older than the
  * newest delete counts as fully pressured. DV cardinalities aggregate EXECUTOR-side (header
  * parse only) and only the top-[[DeletePressure.MaxKeys]] most-pressured files' counts reach the
  * driver — the tail beyond the cap couldn't outrank the collected head into the planner's top-k
  * anyway.
  */
final class DeletePressure private (
    groupsB: Option[org.apache.spark.broadcast.Broadcast[KeyPrune.Groups]],
    bloom: Boolean,
    saturatedSeq: Long,
    dvB: org.apache.spark.broadcast.Broadcast[Map[String, Long]])
  extends (FileMeta => Double) with Serializable {

  /** Estimated fraction of `f`'s rows a pending delete hides, in [0, 1]. */
  def apply(f: FileMeta): Double = {
    if (f.records <= 0L) return 0.0
    math.max(equalityPressure(f), dvPressure(f))
  }

  private def dvPressure(f: FileMeta): Double = {
    val m = dvB.value
    if (m.isEmpty) 0.0
    else math.min(1.0, m.getOrElse(SeqIO.fileBasename(f.path), 0L).toDouble / f.records)
  }

  private def equalityPressure(f: FileMeta): Double =
    if (saturatedSeq >= 0L) { if (f.addedAt < saturatedSeq) 1.0 else 0.0 }
    else groupsB.fold(0.0)(g => math.min(1.0, g.value.hits(f, bloom).toDouble / f.records))
}

object DeletePressure {

  /** No pending deletes — the planner default. */
  val Zero: FileMeta => Double = ZeroFn
  private object ZeroFn extends (FileMeta => Double) with Serializable {
    def apply(f: FileMeta): Double = 0.0
  }

  /** Same budget as merge/materialize bloom probing ([[graft.table.DocBloom.PruneMaxKeys]]). */
  val MaxKeys: Int = graft.table.DocBloom.PruneMaxKeys.toInt

  /** Build the pressure function for `snap`'s outstanding delete manifests (Zero when none).
    * A key deleted at several sequence numbers applies iff addedAt < max(seq) — exactly the
    * per-key max of [[KeyPrune.KeySet.deletedIn]], which `deleteKeys` is when the caller already
    * holds it for `snap` (else it is collected here). DV counts for the same target file SUM
    * across manifests (an upper bound on the union cardinality — a score, not a read filter, so
    * sound).
    */
  def of(spark: SparkSession, table: SeqTable, snap: Snapshot,
      deleteKeys: Option[KeyPrune.KeySet] = None): FileMeta => Double = {
    if (snap.deleteManifests.isEmpty) return Zero
    import spark.implicits._

    val dvMs = SeqIO.dvManifestsOf(snap)
    val dvCounts: Map[String, Long] =
      if (dvMs.isEmpty) Map.empty
      else spark.read.textFile(dvMs.map(table.deleteManifestPath): _*)
        .map(graft.table.Dv.parseLineHeader _)
        .toDF("bn", "c").groupBy("bn").agg(sum("c").as("c"))
        .orderBy(desc("c")).limit(MaxKeys)
        .as[(String, Long)].collect().toMap
    val dvB = spark.sparkContext.broadcast(dvCounts)

    if (SeqIO.keyManifestsOf(snap).isEmpty) return new DeletePressure(None, false, -1L, dvB)
    val keys = deleteKeys.getOrElse(KeyPrune.KeySet.deletedIn(spark, table, snap))
    keys.groups match {
      case Some(g) if keys.size <= MaxKeys =>
        // every commit records its live-file count, so the budget test parses no manifest
        val files = snap.summary.get("total-files").flatMap(_.toLongOption).getOrElse(Long.MaxValue)
        val bloom = files <= KeyPrune.ProbeBudget / math.max(1L, keys.size)
        new DeletePressure(Some(spark.sparkContext.broadcast(g)), bloom, -1L, dvB)
      // too many keys to probe: every file older than the newest delete is fully pressured
      case Some(g) => new DeletePressure(None, false, g.seqs.head, dvB) // seqs descend
      case None =>
        new DeletePressure(None, false, keys.df.agg(max("_seq")).as[Long].head(), dvB)
    }
  }
}
