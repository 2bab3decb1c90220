package graft.table

import scala.util.Random
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkTestSession
import graft.TempDirs
import graft.fixtures.SeqGen
import graft.ops.{Dml, MergeInto, Rewrite}
import graft.planner.GridConfig

/** [[KeyPrune]] against references computed another way, on one table that holds curve-clustered
  * files (ranges span the key domain, only Blooms prune), doc-major files (tight ranges),
  * equality deletes at two sequence numbers (with upserts between them) and one deletion vector.
  * For random key sets, on both manifest forms: every file whose rows hold an applying key comes
  * back (sound), the result equals a naive range-and-sequence theta-join followed by the Bloom of
  * the applying keys (exact), and the driver and executor routes agree.
  */
class KeyPruneSpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestSession.spark
  private val cfg = GridConfig()

  private lazy val table: SeqTable = {
    val t = SeqTable.create(tempDir("keyprune-").toString + "/t")
    val all = SeqGen.table(spark, 2000, parts = 8)
    val low = col("doc_id") < "doc-0000001000"
    t.commit("append", Rewrite.clusteredWrite(spark, t, all.filter(low), cfg, 20, 1000),
      Set.empty)
    t.commit("append", Rewrite.clusteredWrite(spark, t, all.filter(!low), cfg, 20, 1000,
      docMajor = true), Set.empty)
    // two change sets over different keys: equality deletes at two sequence numbers, each
    // beside upsert files added at its own
    MergeInto.merge(spark, t, SeqGen.changeSet(spark, 2000, changes = 40, deletes = 30), cfg, 20,
      mor = true)
    MergeInto.merge(spark, t, SeqGen.changeSet(spark, 1500, changes = 60, deletes = 40), cfg, 20,
      mor = true)
    Dml.deleteWhere(spark, t, col("n_tok") < 100, cfg, 20, dv = true)
    t
  }

  private def snap = table.currentSnapshot()
  private def left: KeyPrune.Manifest = Left(table.liveFiles(snap))
  private def right: KeyPrune.Manifest =
    Right(SeqIO.fileMetaDSOf(spark, table, snap, narrow = true))

  /** Every live file's raw rows (no delete applied) as (file basename, doc_id). */
  private lazy val rows: DataFrame = SeqIO.readFiles(spark, table, table.liveFiles(snap))
    .select(element_at(split(col("_metadata.file_path"), "/"), -1).as("fn"), col("doc_id"))
    .persist()

  private lazy val docIds: IndexedSeq[String] = {
    import spark.implicits._
    rows.select("doc_id").distinct().as[String].collect().sorted.toIndexedSeq
  }

  private def pathsOf(fs: Seq[FileMeta]): Set[String] = {
    assert(fs.forall(_.docBloom.isEmpty), "entries come back without their Bloom")
    assert(fs.map(_.path).distinct.size == fs.size, "each file once")
    fs.map(_.path).toSet
  }

  private def prune(files: KeyPrune.Manifest, keys: KeyPrune.KeySet): Set[String] =
    pathsOf(KeyPrune.filesMayHold(spark, table, snap, files, keys))

  /** The files whose rows hold a key added after them (the prune must keep every one). */
  private def holding(keys: Seq[(String, Long)]): Set[String] = {
    import spark.implicits._
    val live = table.liveFiles(snap)
    val byName = live.map(f => SeqIO.fileBasename(f.path) -> f).toMap
    val ages = live.map(f => (SeqIO.fileBasename(f.path), f.addedAt)).toDF("fn", "added")
    rows.join(keys.toDF("doc_id", "seq"), "doc_id").join(ages, "fn")
      .filter(col("seq") > col("added"))
      .select("fn").distinct().as[String].collect().map(byName(_).path).toSet
  }

  /** Naive reference: the range-and-sequence theta-join, then (`bloom`) each candidate's Bloom
    * against the keys that apply to it.
    */
  private def reference(keys: Seq[(String, Long)], bloom: Boolean): Set[String] = {
    import spark.implicits._
    val live = table.liveFiles(snap)
    val inRange = live.map(f => (f.path, f.minDocId, f.maxDocId, f.addedAt))
      .toDF("path", "min", "max", "added")
      .join(keys.toDF("key", "seq"),
        col("key").between(col("min"), col("max")) && col("seq") > col("added"))
      .select("path").distinct().as[String].collect().toSet
    live.filter(f => inRange(f.path) &&
      (!bloom || DocBloom.mayContainAny(f, keys.filter(_._2 > f.addedAt).map(_._1).toArray)))
      .map(_.path).toSet
  }

  /** Up to 30 live keys, plus absent keys inside the ranges (only a Bloom rules them out) and
    * one past every range; each with a sequence number from `seqs`.
    */
  private def randomKeys(rnd: Random, seqs: IndexedSeq[Long]): Seq[(String, Long)] = {
    val present = Seq.fill(1 + rnd.nextInt(30))(docIds(rnd.nextInt(docIds.size)))
    val absent = Seq.fill(rnd.nextInt(6))(f"doc-${rnd.nextInt(2000)}%010dx") :+ "zzz"
    (present ++ absent).distinct.map(k => k -> seqs(rnd.nextInt(seqs.size)))
  }

  private def checkAll(keys: Seq[(String, Long)], set: KeyPrune.KeySet): Set[String] = {
    val l = prune(left, set)
    assert(holding(keys).subsetOf(l), "a file holding an applying key was pruned")
    assert(l === reference(keys, bloom = true))
    assert(prune(right, set) === l, "driver and executor routes disagree")
    l
  }

  test("one-group key sets: sound, exact, the same on both routes and from either source") {
    import spark.implicits._
    var bloomCut = false
    (1 to 8).foreach { seed =>
      val keys = randomKeys(new Random(seed), IndexedSeq(Long.MaxValue))
      val got = checkAll(keys, KeyPrune.KeySet.of(spark, keys.map(_._1)))
      assert(prune(left, KeyPrune.KeySet.of(keys.map(_._1).toDF("k"))) === got)
      bloomCut ||= got.size < reference(keys, bloom = false).size
    }
    assert(bloomCut, "the fixture must give the Bloom test something to prune")
  }

  test("sequenced key sets: a key counts only for files added before its sequence number") {
    import spark.implicits._
    val versions = (1L to snap.version + 1).toIndexedSeq :+ Long.MaxValue
    var seqCut = false
    (1 to 8).foreach { seed =>
      val keys = randomKeys(new Random(100 + seed), versions)
      val got = checkAll(keys, KeyPrune.KeySet.sequenced(keys.toDF("k", "s")))
      seqCut ||= got.size < reference(keys.map(k => k._1 -> Long.MaxValue), bloom = true).size
    }
    assert(seqCut, "the fixture must give the sequence test something to prune")
    // the table's own equality deletes, as delete materialization collects them
    val dels = SeqIO.deletesDF(spark, table, snap).groupBy("_del_key").agg(max("_del_seq"))
    val delKeys = dels.as[(String, Long)].collect().toSeq
    assert(delKeys.map(_._2).distinct.size === 2, "deletes at two sequence numbers")
    assert(holding(delKeys).nonEmpty)
    checkAll(delKeys, KeyPrune.KeySet.sequenced(dels))
  }

  test("over the cap: a DataFrame-only key set gives the range candidates on both routes") {
    import spark.implicits._
    val versions = (1L to snap.version + 1).toIndexedSeq :+ Long.MaxValue
    (1 to 4).foreach { seed =>
      val keys = randomKeys(new Random(200 + seed), versions)
      val overCap = new KeyPrune.KeySet(None, keys.toDF("_key", "_seq"), keys.size.toLong)
      val l = prune(left, overCap)
      assert(l === reference(keys, bloom = false))
      assert(holding(keys).subsetOf(l))
      assert(prune(right, overCap) === l)
    }
  }

  test("collectWhere finds a deletion vector's target files on both routes") {
    val targets = Dv.headers(table, SeqIO.dvManifestsOf(snap)).map(_._1).toSet
    val want = table.liveFiles(snap).filter(f => targets(SeqIO.fileBasename(f.path)))
    assert(want.nonEmpty)
    val hit: FileMeta => Boolean = f => targets(SeqIO.fileBasename(f.path))
    assert(pathsOf(KeyPrune.collectWhere(left, hit)) === want.map(_.path).toSet)
    assert(pathsOf(KeyPrune.collectWhere(right, hit)) === want.map(_.path).toSet)
  }

  test("an empty key set selects no file") {
    import spark.implicits._
    assert(KeyPrune.filesMayHold(spark, table, snap, left,
      KeyPrune.KeySet.of(Seq.empty[String].toDF("k"))).isEmpty)
  }
}
