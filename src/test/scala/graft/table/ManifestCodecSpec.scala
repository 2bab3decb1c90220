package graft.table

import java.nio.file.{Files, Paths}
import org.json4s.jackson.Serialization
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.SparkTestSession.jobGroups
import graft.TempDirs

/** The one manifest encoding: parquet written and read on the driver by [[ManifestCodec]],
  * scanned on executors by Spark, with no Spark job behind any driver manifest read or write.
  */
class ManifestCodecSpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestSession.spark
  private def fresh(): String = tempDir("mcodec-").toString + "/t"

  private val bigBloom = {
    val bytes = new Array[Byte](10 * 1024) // base64: ~13.6 KB, the per-file Bloom payload size
    new scala.util.Random(7).nextBytes(bytes)
    java.util.Base64.getEncoder.encodeToString(bytes)
  }
  // source zones: not recorded (None), none at all (null sources only), and the extreme ranges
  // (an empty one, for a bucket whose rows all have a null n_tok)
  private val edgeCases = Seq(
    FileMeta("data/empty-sources.parquet", 1L, 10L, 0, 0, "a", "a", Nil, 3L, clustered = false),
    FileMeta("data/big-bloom.parquet", 5L, 500L, 16, 4000, "doc-000", "doc-999",
      Seq("web", "books"), 3L, clustered = true, docBloom = Some(bigBloom),
      sourceZones = Some(Seq(3, 16, 400, 40, 17, 4000))),
    FileMeta("data/ünïcödé-日本.parquet", 2L, 20L, 1, 2, "dóc-Ω-日本語", "最后-😀-ß",
      Seq("wiki-ü", "code"), 3L, clustered = false, docBloom = Some("AAAA"),
      sourceZones = Some(Nil)),
    FileMeta("data/max.parquet", Long.MaxValue, Long.MaxValue, Int.MinValue, Int.MaxValue,
      "", "zzz", Seq("s"), 3L, clustered = true,
      sourceZones = Some(Seq(0, Int.MinValue, Int.MaxValue, 63, Int.MaxValue, Int.MinValue))))

  test("entries round-trip exactly: driver write, driver full and narrow reads, Spark scan") {
    val t = SeqTable.create(fresh())
    val m = t.writeManifest(edgeCases)
    val cold = SeqTable.load(t.root)
    assert(cold.readManifestNarrow(m) === edgeCases.map(_.copy(docBloom = None)))
    assert(cold.manifestNarrowFileReads.get() === 1L, "the narrow read must come from the file")
    assert(cold.readManifest(m) === edgeCases)
    assert(cold.manifestFileReads.get() === 1L, "the full read must come from the file")
    assert(cold.readManifest(m).flatMap(_.sourceZones)
      .forall(_.isInstanceOf[scala.collection.immutable.ArraySeq.ofInt]), "zones stay unboxed")
    assert(SeqIO.manifestMetaDS(spark, cold, Seq(m)).collect().toSeq.sortBy(_.path) ===
      edgeCases.sortBy(_.path))
    assert(SeqIO.manifestMetaDS(spark, cold, Seq(m), narrow = true).collect().toSeq
      .sortBy(_.path) === edgeCases.map(_.copy(docBloom = None)).sortBy(_.path))
  }

  test("manifests written by rewriteManifestsDistributed read back identically on the driver") {
    val t = SeqTable.create(fresh())
    t.commit("append", edgeCases, Set.empty)
    t.commit("append", edgeCases.map(e => e.copy(path = e.path + ".2")), Set.empty)
    val before = t.liveFiles()
    val snap = SeqIO.rewriteManifestsDistributed(spark, t, targetEntriesPerManifest = 3)
    assert(snap.manifests.size === 3)
    val cold = SeqTable.load(t.root)
    assert(cold.liveFiles().sortBy(_.path) === before.sortBy(_.path))
    assert(cold.liveFilesNarrow(snap).sortBy(_.path) ===
      before.map(_.copy(docBloom = None)).sortBy(_.path))
    assert(SeqIO.fileMetaDS(spark, cold).collect().toSeq.sortBy(_.path) === before.sortBy(_.path))
  }

  test("a cold handle's driver manifest reads and a driver-edit commit launch no Spark job") {
    val root = fresh()
    val t = SeqTable.create(root)
    (1 to 3).foreach(i => t.commit("append", edgeCases.map(e => e.copy(path = s"${e.path}.$i")),
      Set.empty))
    // Spark-written manifests: the fixture is parquet whichever encoding a commit writes
    SeqIO.rewriteManifestsDistributed(spark, t, targetEntriesPerManifest = 4)
    val before = t.liveFiles().map(_.path).toSet
    val victim = before.head
    val cold = SeqTable.load(root)
    val group = s"manifest-io-${java.util.UUID.randomUUID()}"
    val groups = jobGroups {
      spark.sparkContext.setJobGroup(group, "driver manifest IO")
      try {
        assert(cold.liveFilesNarrow(cold.currentSnapshot()).size === 12)
        assert(cold.liveFiles().size === 12)
        cold.commit("compact", Nil, Set(victim))
      } finally spark.sparkContext.clearJobGroup()
    }
    assert(cold.manifestFileReads.get() > 0L && cold.manifestNarrowFileReads.get() > 0L)
    assert(groups.count(_ == group) === 0, s"driver manifest IO launched Spark jobs: $groups")
    assert(SeqTable.load(root).liveFiles().map(_.path).toSet === before - victim)
  }

  test("a snapshot naming a legacy jsonl manifest fails loudly on driver reads and Spark scans") {
    val t = SeqTable.create(fresh())
    val head = t.commit("append", edgeCases, Set.empty)
    val legacy = "manifest-0000-legacy.jsonl"
    val meta = Paths.get(t.root, "metadata")
    Files.writeString(meta.resolve(legacy),
      """{"path":"data/old.parquet","records":1,"bytes":1,"minNtok":1,"maxNtok":1,""" +
        """"minDocId":"a","maxDocId":"a","sources":["s"],"addedAt":1,"clustered":false}""" + "\n")
    Files.writeString(meta.resolve(s"v${head.version + 1}.json"), Serialization.write(
      head.copy(version = head.version + 1, parent = head.version,
        manifests = head.manifests :+ legacy))(SeqTable.formats))
    val cold = SeqTable.load(t.root)
    def loud(what: String)(body: => Any): Unit = {
      val e = intercept[IllegalArgumentException](body)
      assert(e.getMessage.contains(legacy) && e.getMessage.contains("not a parquet manifest"),
        s"$what: ${e.getMessage}")
    }
    loud("full driver read")(cold.liveFiles())
    loud("narrow driver read")(cold.liveFilesNarrow(cold.currentSnapshot()))
    loud("executor scan")(SeqIO.fileMetaDS(spark, cold, narrow = true))
    loud("table read")(SeqIO.read(spark, cold))
  }
}
