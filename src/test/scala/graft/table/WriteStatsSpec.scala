package graft.table

import java.net.URI
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.{Column, Encoder, Encoders, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.util.sketch.BloomFilter
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.SparkTestSession.{inGroup, jobGroups}
import graft.TempDirs
import graft.fixtures.SeqGen
import graft.ops.{Constraints, MergeInto, Rewrite}
import graft.planner.GridConfig

/** `SeqIO.writeFiles` collects each file's manifest stats inside the write tasks: one Spark job
  * per write, and the same [[FileMeta]] — Bloom bytes included — as the separate stats pass it
  * replaced (kept below as the reference).
  */
class WriteStatsSpec extends AnyFunSuite with TempDirs {
  import WriteStatsSpec._
  lazy val spark = SparkTestSession.spark

  private def fresh(tag: String): SeqTable =
    SeqTable.create(tempDir(s"wstats-$tag-").toString + "/t")

  private def dataEntries(t: SeqTable): Set[String] =
    SeqTable.listDir(t.dataDir).map(_.getFileName.toString).toSet

  /** `metas` equal the old pass over the same files, and the data directory holds nothing else */
  private def assertMatchesOldPass(t: SeqTable, metas: Seq[FileMeta],
      clustered: Boolean = false): Unit = {
    assert(metas.nonEmpty)
    assert(metas.sortBy(_.path) ===
      oldStats(spark, t.root, metas.map(m => Paths.get(t.absolutePath(m))), clustered))
    assert(dataEntries(t) === metas.map(m => Paths.get(m.path).getFileName.toString).toSet)
  }

  test("T-frag and clustered writes match the old stats pass field for field") {
    val (frag, fragMetas) =
      SeqGen.fragmentedTable(spark, tempDir("wstats-frag-").toString + "/t", 6000, 24)
    assert(fragMetas.size === 24)
    assertMatchesOldPass(frag, fragMetas)

    val t = fresh("clustered")
    val metas = Rewrite.clusteredWrite(spark, t, SeqGen.table(spark, 6000, parts = 8),
      GridConfig(), 1000, 6000)
    assert(metas.size > 1 && metas.forall(_.clustered))
    assertMatchesOldPass(t, metas, clustered = true)
  }

  test("empty partitions among full ones write no file") {
    val t = fresh("holes")
    val metas = SeqIO.writeFiles(spark, t,
      SeqGen.table(spark, 800, parts = 8).where(spark_partition_id() % 2 === 0))
    assert(metas.size === 4)
    assertMatchesOldPass(t, metas)
  }

  test("an all-empty input returns Nil and leaves no file") {
    val t = fresh("empty")
    // planned away to zero partitions, and four partitions that filter to nothing at run time
    for (df <- Seq(SeqGen.table(spark, 100, parts = 4).where(lit(false)),
        SeqGen.table(spark, 100, parts = 4).where(col("n_tok") < 0))) {
      assert(SeqIO.writeFiles(spark, t, df) === Nil)
      assert(dataEntries(t).isEmpty)
    }
  }

  test("a 1-row file") {
    val t = fresh("one")
    val metas = SeqIO.writeFiles(spark, t, SeqGen.table(spark, 1, parts = 1))
    assert(metas.map(_.records) === Seq(1L))
    assert(metas.head.minDocId === metas.head.maxDocId)
    assertMatchesOldPass(t, metas)
  }

  test("12 distinct sources are kept, 13 degrade to unknown") {
    for (n <- Seq(12, 13)) {
      val t = fresh(s"src$n")
      val metas = SeqIO.writeFiles(spark, t, SeqGen.table(spark, 300, parts = 1)
        .withColumn("source", format_string("s%02d", idOf(col("doc_id")) % n)))
      assert(metas.map(_.sources.size) === Seq(if (n == 12) 12 else 0))
      assertMatchesOldPass(t, metas)
    }
  }

  test("non-ASCII doc_id bounds follow UTF-8 byte order") {
    // U+1F600 is a surrogate pair in UTF-16 (sorts below U+E000 there) but sorts above it in
    // UTF-8 bytes, the order Spark's string min/max and the manifest pruners use
    val ids = Seq("a", "\u00e9", "\uE000x", "\uD83D\uDE00y", "\u4e2d\u6587", "Z")
    val t = fresh("utf8")
    val metas = SeqIO.writeFiles(spark, t, SeqGen.table(spark, ids.size, parts = 1)
      .withColumn("doc_id", element_at(typedLit(ids), idOf(col("doc_id")).cast("int") + 1)))
    assert(metas.head.minDocId === "Z")
    assert(metas.head.maxDocId === "\uD83D\uDE00y")
    assert(ids.max != metas.head.maxDocId, "the fixture must tell the two orders apart")
    assert(ids.forall(id => DocBloom.mayContainAny(metas.head, Array(id))))
    assertMatchesOldPass(t, metas)
  }

  test("an added column moves nothing; permuted column ordinals are honoured") {
    val t = fresh("evolved")
    t.addColumn("lang", StringType)
    val df = SeqGen.table(spark, 900, parts = 3).withColumn("lang", lit("en"))
    assertMatchesOldPass(t, SeqIO.writeFiles(spark, t, df))

    // the tracker straight under the writer, with doc_id, n_tok and source at other ordinals
    val dir = tempDir("wstats-perm-").resolve("out")
    val tracker = new FileStatsTracker(docOrd = 4, ntokOrd = 2, srcOrd = 0)
    GraftSqlBridge.write(Seq(df.select("source", "lang", "n_tok", "tokens", "doc_id")),
      dir.toString, "parquet", Map.empty, Seq(tracker))
    val parts = SeqTable.listDir(dir).filter(_.getFileName.toString.endsWith(".parquet"))
    val actual = parts.map { p =>
      val s = tracker.files(p.getFileName.toString)
      FileMeta(p.getFileName.toString, s.records, Files.size(p), s.minNtok, s.maxNtok,
        s.minDocId, s.maxDocId, if (s.sources.size > SeqIO.MaxSourcesTracked) Nil else s.sources,
        -1L, docBloom = Some(DocBloom.encode(s.docBloom)), sourceZones = Some(s.sourceZones))
    }
    assert(parts.size === 3)
    assert(actual.sortBy(_.path) === oldStats(spark, dir.toString, parts, clustered = false))
  }

  test("source zones: a null n_tok keeps its bucket with an empty range, a null source has none") {
    val t = fresh("zones")
    val id = idOf(col("doc_id"))
    // a source whose rows all have a null n_tok, in a bucket no other source of the table uses
    val generated = (0 until 20).map(i => SourceZones.bucket(s"src$i")).toSet
    val noLen = Iterator.from(0).map(i => s"no-len-$i")
      .find(s => !generated(SourceZones.bucket(s))).get
    val metas = SeqIO.writeFiles(spark, t, SeqGen.table(spark, 1200, parts = 3)
      .withColumn("source", when(id % 11 === 0, lit(null).cast("string"))
        .when(id % 7 === 0, lit(noLen)).otherwise(col("source")))
      .withColumn("n_tok", when(id % 7 === 0 || id % 5 === 0, lit(null).cast("int"))
        .otherwise(col("n_tok"))))
    assert(metas.size === 3)
    assertMatchesOldPass(t, metas)
    val b = SourceZones.bucket(noLen)
    metas.foreach { m =>
      val zs = m.sourceZones.get.grouped(3).toSeq
      assert(zs.map(_.head) === zs.map(_.head).sorted.distinct, "one triple per bucket, sorted")
      assert(zs.filter(_.head == b) === Seq(Seq(b, Int.MaxValue, Int.MinValue)))
    }
    // kept by a source-only predicate, pruned by any n_tok bound
    def selected(files: Seq[FileMeta], c: Column) =
      GraftSqlBridge.selectedFiles(SeqIO.readFiles(spark, t, files).filter(c))
    val isNoLen = col("source") === noLen
    assert(selected(metas, isNoLen) === metas)
    assert(selected(metas, isNoLen && col("n_tok") >= Int.MinValue + 1).isEmpty)
    assert(selected(metas, isNoLen && col("n_tok") <= Int.MaxValue - 1).isEmpty)

    // a file of null sources only: no zone, and no `source = ?` predicate selects it
    val nulls = SeqIO.writeFiles(spark, t, SeqGen.table(spark, 50, parts = 1)
      .withColumn("doc_id", concat(col("doc_id"), lit("-n")))
      .withColumn("source", lit(null).cast("string")))
    assert(nulls.map(_.sourceZones) === Seq(Some(Nil)))
    assert(nulls.map(_.sources) === Seq(Nil), "the source list calls it unknown")
    assert(selected(nulls, col("source") === "src0").isEmpty)
    assert(selected(nulls, col("n_tok") >= 0) === nulls)
    assertMatchesOldPass(t, metas ++ nulls)
  }

  test("one writeFiles call launches exactly one Spark job") {
    val t = fresh("jobs")
    val group = s"write-${java.util.UUID.randomUUID()}"
    var metas = Seq.empty[FileMeta]
    val groups = jobGroups {
      metas = inGroup(group)(SeqIO.writeFiles(spark, t, SeqGen.table(spark, 2000, parts = 4)))
    }
    assert(metas.size === 4)
    assert(groups.count(_ == group) === 1, s"jobs: $groups")
  }

  /** Data files through `writeFiles` (a T-frag build and a clustered rewrite), a MoR merge's
    * delete manifest and the distributed manifest rewrite's parts, both through `publishParts`.
    * Returns the two tables. */
  private def fourWrites(): Seq[SeqTable] = {
    val (frag, _) =
      SeqGen.fragmentedTable(spark, tempDir("wstats-fork-").toString + "/t", 6000, 24)
    val t = fresh("fork-clustered")
    t.commit("append", Rewrite.clusteredWrite(spark, t, SeqGen.table(spark, 6000, parts = 8),
      GridConfig(), 1000, 6000), Set.empty)
    MergeInto.merge(spark, frag, SeqGen.changeSet(spark, 6000, changes = 200, deletes = 100),
      GridConfig(), 1000, mor = true)
    assert(frag.currentSnapshot().deleteManifests.nonEmpty)
    SeqIO.rewriteManifestsDistributed(spark, frag)
    Seq(frag, t)
  }

  /** The command line of every process this JVM starts while `body` runs (JFR's
    * `jdk.ProcessStart`). */
  private def processStarts(body: => Unit): Seq[String] = {
    val rec = new Recording()
    try {
      rec.enable("jdk.ProcessStart")
      rec.start()
      try body finally rec.stop()
      val dump = tempDir("wstats-jfr-").resolve("writes.jfr")
      rec.dump(dump)
      RecordingFile.readAllEvents(dump).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart").map(_.getString("command"))
    } finally rec.close()
  }

  test("graft writes fork no chmod process") {
    // the stock local FS without Hadoop's native library forks `chmod` for every file and
    // directory it creates: three per data file
    val commands = processStarts(fourWrites())
    val chmods = commands.filter(_.startsWith("chmod"))
    assert(chmods.isEmpty, s"${chmods.size} chmod processes, first: ${chmods.take(2)}")
  }

  test("the write-only local FS stays inside each write") {
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    val fileModes = 0x1b6 & ~FsPermission.getUMask(hadoopConf).toShort // 0666 & ~umask
    def mode(p: Path): Int = Files.getPosixFilePermissions(p).asScala
      .map(perm => 0x100 >> perm.ordinal).sum
    val implBefore = hadoopConf.get("fs.file.impl")
    assert(implBefore != classOf[ForkFreeLocalFileSystem].getName)
    def hadoopEntries = hadoopConf.iterator().asScala.map(e => e.getKey -> e.getValue).toMap
    val (hadoopBefore, sqlBefore) = (hadoopEntries, spark.conf.getAll)
    def assertUntouched(): Unit = {
      assert(hadoopConf.get("fs.file.impl") === implBefore)
      assert(!spark.conf.getAll.keys.exists(_.startsWith("fs.file.impl")))
      assert(hadoopEntries === hadoopBefore)
      assert(spark.conf.getAll === sqlBefore)
      assert(FileSystem.get(new URI("file:///"), hadoopConf).isInstanceOf[LocalFileSystem])
    }
    def assertClean(t: SeqTable): Unit = {
      val walk = Files.walk(Paths.get(t.root))
      val names = try walk.iterator().asScala.map(_.getFileName.toString).toSeq
        finally walk.close()
      assert(!names.exists(n => n.endsWith(".crc") || n == "_SUCCESS" || n == "_temporary"),
        names.filter(n => n.endsWith(".crc") || n.startsWith("_")).take(5).mkString(", "))
    }
    def assertModes(paths: Seq[Path]): Unit = {
      assert(paths.nonEmpty)
      paths.foreach(p => assert(mode(p) === fileModes, f"$p mode ${mode(p)}%o"))
    }

    val Seq(frag, clustered) = fourWrites()
    assertUntouched()
    for (t <- Seq(frag, clustered)) {
      assertModes(t.liveFiles().map(m => Paths.get(t.absolutePath(m))))
      assertClean(t)
    }
    // every manifest of `frag` is a part file now: the delete manifest and the rewrite's parts
    val snap = frag.currentSnapshot()
    assertModes((snap.manifests ++ snap.deleteManifests).map(frag.metaDirPath.resolve))

    // two writes on two threads of one session, as MERGE's two copy-on-write sides run
    val t = fresh("fork-threads")
    val written = new ConcurrentLinkedQueue[FileMeta]
    val errs = new ConcurrentLinkedQueue[Throwable]
    val threads = (0 until 2).map(i => new Thread(() =>
      try written.addAll(SeqIO.writeFiles(spark, t, SeqGen.table(spark, 2000, parts = 4)
        .withColumn("doc_id", concat(col("doc_id"), lit(s"-$i")))).asJava)
      catch { case e: Throwable => errs.add(e) }))
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, s"concurrent writes failed: ${errs.peek()}")
    assert(written.size === 8)
    assertUntouched()
    assertModes(written.asScala.toSeq.map(m => Paths.get(t.absolutePath(m))))
    assertClean(t)
  }

  test("a failed write leaves no tmp directory, no data file and no commit") {
    val (t, _) = SeqGen.fragmentedTable(spark, tempDir("wstats-fail-").toString + "/t", 500, 5)
    Constraints.add(spark, t, "ntok-positive", "n_tok >= 16")
    val (v0, before) = (t.currentVersion(), dataEntries(t))
    intercept[Exception](graft.sources.Ingest.append(spark, t,
      SeqGen.table(spark, 200, parts = 4).withColumn("n_tok", lit(3))))
    assert(dataEntries(t) === before)
    assert(t.currentVersion() === v0)
  }
}

object WriteStatsSpec {
  /** `doc-%010d` → the generator id */
  def idOf(docId: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    substring(docId, 5, 10).cast("long")

  private val oldBloom = udaf(new Aggregator[String, BloomFilter, Array[Byte]] {
    def zero: BloomFilter = BloomFilter.create(DocBloom.ExpectedItems, DocBloom.Fpp)
    def reduce(b: BloomFilter, key: String): BloomFilter = { b.putString(key); b }
    def merge(a: BloomFilter, b: BloomFilter): BloomFilter = { a.mergeInPlace(b); a }
    def finish(b: BloomFilter): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      b.writeTo(out)
      out.toByteArray
    }
    def bufferEncoder: Encoder[BloomFilter] = Encoders.javaSerialization[BloomFilter]
    def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  })

  /** The stats pass `writeFiles` used to run after writing: one `groupBy(input_file_name())`
    * job over the written files, turned into manifest entries (paths relative to `root`) the
    * way the old writer did, with each file's source zones from a second aggregation grouped by
    * `_metadata.file_path` and `pmod(xxhash64(source), 64)`.
    */
  def oldStats(spark: SparkSession, root: String, files: Seq[Path],
      clustered: Boolean): Seq[FileMeta] = {
    val statSchema = StructType(SeqSchema.schema.filterNot(_.name == "tokens"))
    val rootP = Paths.get(root).toAbsolutePath.normalize
    def absolute(uri: String) = Paths.get(java.net.URI.create(uri).getPath).toAbsolutePath.normalize
    // per (file, source bucket): the n_tok extent; a bucket of null n_tok rows only is present
    // with the empty range (Int.MaxValue, Int.MinValue)
    val zones: Map[Path, Seq[Int]] = spark.read.schema(statSchema)
      .parquet(files.map(_.toString): _*)
      .where(col("source").isNotNull)
      .groupBy(col("_metadata.file_path").as("file"),
        pmod(xxhash64(col("source")), lit(SourceZones.Buckets.toLong)).cast("int").as("b"))
      .agg(coalesce(min("n_tok"), lit(Int.MaxValue)), coalesce(max("n_tok"), lit(Int.MinValue)))
      .collect().toSeq
      .groupBy(r => absolute(r.getString(0)))
      .map { case (f, rs) => f -> rs.sortBy(_.getInt(1)).flatMap(r => Seq(1, 2, 3).map(r.getInt)) }
    spark.read.schema(statSchema).parquet(files.map(_.toString): _*)
      .groupBy(input_file_name().as("file"))
      .agg(
        count(lit(1)).as("records"),
        min("n_tok").as("min_ntok"), max("n_tok").as("max_ntok"),
        min("doc_id").as("min_doc"), max("doc_id").as("max_doc"),
        slice(sort_array(collect_set("source")), 1, SeqIO.MaxSourcesTracked + 1).as("sources"),
        oldBloom(col("doc_id")).as("doc_bloom"))
      .collect().toSeq.map { r =>
        val abs = absolute(r.getString(0))
        val srcs = r.getSeq[String](6)
        FileMeta(
          path = rootP.relativize(abs).toString,
          records = r.getLong(1),
          bytes = Files.size(abs),
          minNtok = r.getInt(2), maxNtok = r.getInt(3),
          minDocId = r.getString(4), maxDocId = r.getString(5),
          sources = if (srcs.size > SeqIO.MaxSourcesTracked) Nil else srcs,
          addedAt = -1L,
          clustered = clustered,
          docBloom = Option(r.getAs[Array[Byte]](7)).map(DocBloom.encode),
          sourceZones = Some(zones.getOrElse(abs, Nil)))
      }.sortBy(_.path)
  }
}
