package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.table.{FileMeta, KeyPrune, SeqIO, SeqTable, Snapshot}

/** Metadata-only estimate of how many of a file's rows are hidden by outstanding merge-on-read
  * deletes — the planner-side signal that routes delete-laden cells into the maintenance
  * top-k (SURVEY §7.1: the file weight includes delete-ratio), so [[Rewrite.compactFiles]]'s
  * delete-aware rewrite materializes them as part of the normal cycle instead of a separate
  * caller-invoked full pass. Covers BOTH delete families: equality keys (estimated by range
  * slice + stride-sampled sequence probes) and deletion vectors (EXACT — each `.dv` manifest
  * line carries its target file's deleted-row cardinality up front, no bitmap decode).
  *
  * Shape at scale: the equality key set is change-set-sized (MoR is chosen FOR sparse deletes)
  * and bounded here to [[DeletePressure.MaxKeys]]; it broadcasts as two parallel sorted arrays
  * and each file probes its [minDocId, maxDocId] slice by binary search — O(log K + slice) per
  * file, stride-sampled above [[DeletePressure.MaxProbesPerFile]] so curve-clustered layouts
  * (whose doc_id ranges span everything) stay O(1k) per file at 10^7 files. Beyond MaxKeys the
  * set is near-table-wide anyway and every file older than the newest delete counts as fully
  * pressured. DV cardinalities aggregate EXECUTOR-side (header parse only) and only the
  * top-[[DeletePressure.MaxKeys]] most-pressured files' counts reach the driver — the tail
  * beyond the cap couldn't outrank the collected head into the planner's top-k anyway.
  */
final class DeletePressure private (
    keysB: org.apache.spark.broadcast.Broadcast[Array[String]],
    seqsB: org.apache.spark.broadcast.Broadcast[Array[Long]],
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

  private def equalityPressure(f: FileMeta): Double = {
    if (saturatedSeq >= 0L) return if (f.addedAt < saturatedSeq) 1.0 else 0.0
    val keys = keysB.value
    if (keys.isEmpty) return 0.0
    val seqs = seqsB.value
    // slice of delete keys inside the file's doc_id range (Utf8Order: the stats' byte order)
    val lo = KeyPrune.lowerBound(keys, f.minDocId)
    var hi = KeyPrune.lowerBound(keys, f.maxDocId)
    if (hi < keys.length && keys(hi) == f.maxDocId) hi += 1
    if (hi <= lo) return 0.0
    val n = hi - lo
    val stride = math.max(1, n / DeletePressure.MaxProbesPerFile)
    var i = lo
    var hits = 0L
    var probes = 0L
    while (i < hi) {
      if (seqs(i) > f.addedAt) hits += 1
      probes += 1
      i += stride
    }
    val est = hits.toDouble * n / probes
    math.min(1.0, est / f.records)
  }
}

object DeletePressure {

  /** No pending deletes — the planner default. */
  val Zero: FileMeta => Double = ZeroFn
  private object ZeroFn extends (FileMeta => Double) with Serializable {
    def apply(f: FileMeta): Double = 0.0
  }

  /** Same budget as merge/materialize bloom probing ([[graft.table.DocBloom.PruneMaxKeys]]). */
  val MaxKeys: Int = graft.table.DocBloom.PruneMaxKeys.toInt
  private val MaxProbesPerFile = 1024

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

    val empty = spark.sparkContext.broadcast(Array.empty[String])
    val emptySeqs = spark.sparkContext.broadcast(Array.empty[Long])
    if (SeqIO.keyManifestsOf(snap).isEmpty)
      return new DeletePressure(empty, emptySeqs, -1L, dvB)
    val keys = deleteKeys.getOrElse(KeyPrune.KeySet.deletedIn(spark, table, snap))
    keys.groups match {
      case Some(g) if keys.size <= MaxKeys =>
        val sorted = g.seqs.indices.flatMap(i => g.keys(i).map(_ -> g.seqs(i))).toArray
          .sortBy(_._1)(graft.table.Utf8Order) // match the stats' UTF-8 order
        new DeletePressure(spark.sparkContext.broadcast(sorted.map(_._1)),
          spark.sparkContext.broadcast(sorted.map(_._2)), -1L, dvB)
      // too many keys to probe: every file older than the newest delete is fully pressured
      case Some(g) => new DeletePressure(empty, emptySeqs, g.seqs.head, dvB) // seqs descend
      case None =>
        new DeletePressure(empty, emptySeqs, keys.df.agg(max("_seq")).as[Long].head(), dvB)
    }
  }
}
