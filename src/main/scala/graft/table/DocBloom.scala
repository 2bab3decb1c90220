package graft.table

import java.io.ByteArrayInputStream
import java.util.Base64

import org.apache.spark.util.sketch.BloomFilter

/** Per-data-file doc_id Bloom filter, embedded in the manifest entry ([[FileMeta.docBloom]]).
  *
  * Why: manifest [minDocId, maxDocId] range pruning is layout-dependent — on a doc-major layout
  * each file covers a narrow key range and ranges prune well, but on a CURVE-clustered layout
  * (Z/Hilbert over (source, n_tok)) every file spans ~the whole doc_id domain and the range prune
  * selects everything, degenerating sparse COW merges and delete materialization into full-table
  * rewrites. A per-file Bloom over doc_id restores key-level pruning regardless of layout: a
  * sparse change/delete set (the GDPR-delete / point-upsert shape) touches only the files that
  * actually contain its keys, plus the false-positive tail.
  *
  * Built per file inside the write task ([[FileStatsTracker]]).
  *
  * Sizing: fixed parameters for ~1% fpp at 8k keys (~10 KB, ~13 KB base64 in the manifest).
  * For much larger files the filter saturates and prunes nothing — but under uniform key
  * density such files genuinely contain changed keys, so nothing is lost;
  * the test is only ever an over-approximation (Bloom has no false negatives), so correctness
  * never depends on it. Manifests are parquet, so a narrow read (driver or executor) never
  * decodes the bloom column at all.
  */
object DocBloom {
  val ExpectedItems: Long = 8192L
  val Fpp: Double = 0.01
  /** Key-count ceiling for driver-side bloom pruning: above this, testing every key against every
    * candidate bloom stops paying for itself (and such dense change sets route to MoR anyway).
    */
  val PruneMaxKeys: Long = 1L << 16

  def encode(bytes: Array[Byte]): String = Base64.getEncoder.encodeToString(bytes)

  def decode(b64: String): BloomFilter =
    BloomFilter.readFrom(new ByteArrayInputStream(Base64.getDecoder.decode(b64)))

  /** MAY file `meta` contain any of `keys`? No bloom recorded (legacy manifest) → conservatively
    * true. Bloom has no false negatives, so `false` is a proof of absence.
    */
  def mayContainAny(meta: FileMeta, keys: Array[String]): Boolean =
    meta.docBloom match {
      case Some(b64) =>
        val bf = decode(b64)
        keys.exists(bf.mightContainString)
      case None => true
    }
}
