package graft.table

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** The one doc_id key prune: which of a set of files may hold one of a set of keys? MERGE INTO,
  * delete materialization, point lookups and the changelog all ask it, and all answer it from
  * the same two per-file manifest descriptors, without opening a data file:
  *  1. the [minDocId, maxDocId] range — two binary searches per key group, O(F log K) where a
  *     nested-loop theta-join is O(F × K) (10^7 files × 10^6 keys: 10^13 comparisons);
  *  2. then the doc_id Bloom ([[DocBloom]]) of each range candidate, within [[ProbeBudget]] —
  *     the level that works on curve-clustered layouts, where every range spans the key domain.
  *
  * The files come in the planner's two manifest forms: `Left`, the driver's cached entries (both
  * tests run on the driver, zero jobs); `Right`, the NARROW manifest Dataset of the 10^7-file
  * route (both tests run on executors: only range candidates reach the driver, and the Bloom
  * test reads the candidates' full-width entries there, so no docBloom byte ever does). Entries
  * come back without their Bloom either way.
  *
  * Every comparison uses [[Utf8Order]]: the per-file stats are Spark min/max (UTF-8 byte order),
  * and Java's UTF-16 order can wrongly prune a file that holds a key (a missed COW rewrite
  * leaves duplicate keys after MERGE).
  */
object KeyPrune {

  /** Ceiling for a collected key set (~4M keys, tens of MB broadcast). Above it the keys stay a
    * DataFrame and the range test is a broadcast theta-join; such a set is far past
    * [[DocBloom.PruneMaxKeys]], so no Bloom test follows (a merge that dense routes to MoR).
    */
  val MaxKeys: Long = 1L << 22

  /** Bloom probes (keys × range candidates) worth paying for; above it the range prune stands
    * alone.
    */
  val ProbeBudget: Long = 200_000_000L

  /** A manifest as the driver's entries (`Left`) or the narrow executor-side Dataset (`Right`). */
  type Manifest = Either[Seq[FileMeta], Dataset[FileMeta]]

  /** Collected keys, sorted in [[Utf8Order]] per group; group `i` counts only for files added
    * before `seqs(i)`. Groups are in descending `seqs` order, so a file stops at the first group
    * that no longer applies to it.
    */
  private[graft] final case class Groups(seqs: Array[Long], keys: Array[Array[String]]) {
    private def applying(f: FileMeta)(test: Array[String] => Boolean): Boolean = {
      var i = 0
      while (i < seqs.length && seqs(i) > f.addedAt) {
        if (test(keys(i))) return true
        i += 1
      }
      false
    }

    def inRange(f: FileMeta): Boolean = applying(f) { ks =>
      val i = lowerBound(ks, f.minDocId)
      i < ks.length && Utf8Order.compare(ks(i), f.maxDocId) <= 0
    }

    /** No Bloom recorded (legacy manifest) → conservatively true. */
    def inBloom(f: FileMeta): Boolean = f.docBloom.forall { b64 =>
      val bf = DocBloom.decode(b64)
      applying(f)(_.exists(bf.mightContainString))
    }

    /** How many applying keys lie in `f`'s doc_id range; with `bloom` and a recorded Bloom,
      * only those the Bloom admits (an over-count by its false positives, never an under-count).
      */
    def hits(f: FileMeta, bloom: Boolean): Long = {
      val bf = if (bloom) f.docBloom.map(DocBloom.decode) else None
      var n = 0L
      var i = 0
      while (i < seqs.length && seqs(i) > f.addedAt) {
        val ks = keys(i)
        val lo = lowerBound(ks, f.minDocId)
        var hi = lowerBound(ks, f.maxDocId)
        if (hi < ks.length && ks(hi) == f.maxDocId) hi += 1 // a group's keys are distinct
        n += bf.fold((hi - lo).toLong)(b =>
          (lo until hi).count(j => b.mightContainString(ks(j))))
        i += 1
      }
      n
    }
  }

  /** The keys of one prune: collected [[Groups]] up to [[MaxKeys]], else only `df` (`_key`,
    * `_seq`: one row per key) for the theta-join. `size` is the number of distinct keys.
    */
  final class KeySet private[graft] (
      private[graft] val groups: Option[Groups],
      private[graft] val df: DataFrame,
      val size: Long)

  object KeySet {

    /** One group, `Long.MaxValue` (every key counts for every file): MERGE's change keys, the
      * changelog's delta keys. `keys` is one distinct string column; one job collects it.
      */
    def of(keys: DataFrame): KeySet = {
      import keys.sparkSession.implicits._
      val c = keys.limit(MaxKeys.toInt + 1).as[String].collect()
      collected(keys.select(col(keys.columns.head).as("_key"), lit(Long.MaxValue).as("_seq")),
        c.length)(Seq(Long.MaxValue -> c))
    }

    /** A point lookup's driver-held keys, one group. */
    def of(spark: SparkSession, keys: Seq[String]): KeySet = {
      import spark.implicits._
      val c = keys.distinct.toArray
      collected(c.toSeq.toDF("_key").withColumn("_seq", lit(Long.MaxValue)), c.length)(
        Seq(Long.MaxValue -> c))
    }

    /** (key, seq) with one row per key — delete materialization's per-key `max(_del_seq)`,
      * exact since a key deleted at several sequence numbers hides a row iff addedAt < max.
      */
    def sequenced(keySeqs: DataFrame): KeySet = {
      import keySeqs.sparkSession.implicits._
      val rows = keySeqs.limit(MaxKeys.toInt + 1).as[(String, Long)].collect()
      collected(keySeqs.toDF("_key", "_seq"), rows.length)(
        rows.groupBy(_._2).iterator.map { case (s, ks) => s -> ks.map(_._1) }.toSeq)
    }

    /** The pending equality-delete keys of `snap`, each at the newest sequence number that
      * deletes it ([[sequenced]]): one aggregation of [[SeqIO.deletesDF]], one collect. */
    def deletedIn(spark: SparkSession, table: SeqTable, snap: Snapshot): KeySet =
      sequenced(SeqIO.deletesDF(spark, table, snap).groupBy("_del_key").agg(max("_del_seq")))

    private def collected(df: DataFrame, n: Int)(groups: => Seq[(Long, Array[String])]): KeySet =
      if (n > MaxKeys) new KeySet(None, df, df.count())
      else {
        val g = groups.sortBy(-_._1)
        g.foreach { case (_, ks) => java.util.Arrays.sort(ks, Utf8Order) }
        new KeySet(Some(Groups(g.map(_._1).toArray, g.map(_._2).toArray)), df, n.toLong)
      }
  }

  /** The live files of `snap` in the form its size calls for: the driver's cached entries up to
    * `distributedMetaFiles` live files, the narrow manifest Dataset above it (0 = always).
    */
  def liveFiles(spark: SparkSession, table: SeqTable, snap: Snapshot,
      distributedMetaFiles: Long): Manifest =
    if (SeqIO.routesDistributed(snap, distributedMetaFiles))
      Right(SeqIO.fileMetaDSOf(spark, table, snap, narrow = true))
    else Left(table.liveFiles(snap))

  /** The `files` that may hold one of `keys` (for a sequenced key, one added before it): the
    * range test, then the Bloom test. A `Right`'s Bloom test reads the candidates' full-width
    * entries in `snap`, which must hold them.
    */
  def filesMayHold(spark: SparkSession, table: SeqTable, snap: Snapshot, files: Manifest,
      keys: KeySet): Seq[FileMeta] = {
    import spark.implicits._
    if (keys.size == 0) return Nil
    val inRange: Seq[FileMeta] = (keys.groups, files) match {
      case (Some(g), Left(fs)) => fs.filter(g.inRange)
      case (Some(g), Right(ds)) =>
        val gb = spark.sparkContext.broadcast(g)
        ds.filter(f => gb.value.inRange(f)).collect().toSeq
      case (None, _) =>
        files.fold(fs => spark.createDataset(fs.map(_.copy(docBloom = None))), identity).toDF()
          .join(broadcast(keys.df), col("_key").between(col("minDocId"), col("maxDocId")) &&
            col("_seq") > col("addedAt"), "left_semi")
          .as[FileMeta].collect().toSeq
    }
    val probe = keys.groups.filter(_ => inRange.nonEmpty &&
      keys.size <= DocBloom.PruneMaxKeys && keys.size * inRange.size <= ProbeBudget)
    (probe, files) match {
      case (None, _) => inRange.map(_.copy(docBloom = None))
      case (Some(g), Left(_)) => inRange.filter(g.inBloom).map(_.copy(docBloom = None))
      case (Some(g), Right(_)) =>
        val gb = spark.sparkContext.broadcast(g)
        val paths = spark.createDataset(inRange.map(_.path)).toDF("path")
        SeqIO.fileMetaDSOf(spark, table, snap).join(broadcast(paths), Seq("path"), "left_semi")
          .as[FileMeta].filter(f => gb.value.inBloom(f))
          .map(_.copy(docBloom = None)).collect().toSeq
    }
  }

  /** The `files` that satisfy `p`, on the driver (`Left`) or on executors (`Right`). */
  def collectWhere(files: Manifest, p: FileMeta => Boolean): Seq[FileMeta] = files match {
    case Left(fs) => fs.filter(p).map(_.copy(docBloom = None))
    case Right(ds) => ds.filter(f => p(f)).collect().toSeq
  }

  /** First index with keys(i) >= key (keys sorted ascending in [[Utf8Order]]). */
  private[graft] def lowerBound(keys: Array[String], key: String): Int = {
    var lo = 0
    var hi = keys.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (Utf8Order.compare(keys(mid), key) < 0) lo = mid + 1 else hi = mid
    }
    lo
  }
}
