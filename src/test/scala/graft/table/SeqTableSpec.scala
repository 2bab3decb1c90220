package graft.table

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.TempDirs
import graft.fixtures.SeqGen

class SeqTableSpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestSession.spark

  private def fresh(): String = tempDir("seqtable-spec-").toString + "/t"

  test("create → append → read roundtrip with per-file stats") {
    val t = SeqTable.create(fresh())
    val df = SeqGen.table(spark, 1000, parts = 4)
    val metas = SeqIO.writeFiles(spark, t, df)
    t.commit("append", metas, Set.empty)
    assert(t.currentVersion() === 1)
    assert(metas.map(_.records).sum === 1000)
    assert(SeqIO.read(spark, t).count() === 1000)
    // metadata invariants: stored stats equal recomputed stats (SURVEY.md §5.3)
    import org.apache.spark.sql.functions._
    metas.foreach { m =>
      val f = spark.read.parquet(t.absolutePath(m))
      val r = f.agg(count(lit(1)), min("n_tok"), max("n_tok"), min("doc_id"), max("doc_id")).head
      assert(r.getLong(0) === m.records)
      assert(r.getInt(1) === m.minNtok && r.getInt(2) === m.maxNtok)
      assert(r.getString(3) === m.minDocId && r.getString(4) === m.maxDocId)
      val srcs = f.select("source").distinct().collect().map(_.getString(0)).sorted.toSeq
      if (m.sources.nonEmpty) assert(srcs === m.sources.sorted)
      else assert(srcs.size > SeqIO.MaxSourcesTracked)
    }
  }

  test("conflicting commits: same base, same removed file → exactly one wins") {
    val t = SeqTable.create(fresh())
    val metas = SeqIO.writeFiles(spark, t, SeqGen.table(spark, 200, parts = 2))
    t.commit("append", metas, Set.empty)
    val victim = t.liveFiles().head.path
    // first rewrite of the victim succeeds
    t.commit("compact", Seq(metas.last.copy(path = metas.head.path + ".new")), Set(victim))
    // second rewrite of the SAME (now dead) file must conflict
    val e = intercept[RuntimeException](
      t.commit("compact", Nil, Set(victim)))
    assert(e.getMessage.contains("concurrent"))
  }

  test("version race: concurrent non-overlapping commits both land (rebase retry)") {
    val t = SeqTable.create(fresh())
    val metas = SeqIO.writeFiles(spark, t, SeqGen.table(spark, 400, parts = 4))
    t.commit("append", metas, Set.empty)
    val Seq(a, b, c, d) = t.liveFiles().take(4).map(_.path)
    val th = (0 until 2).map { i =>
      new Thread(() => {
        val rm = if (i == 0) Set(a, b) else Set(c, d)
        t.commit("compact", Nil, rm)
      })
    }
    th.foreach(_.start()); th.foreach(_.join())
    assert(t.currentVersion() === 3)
    val live = t.liveFiles().map(_.path).toSet
    assert(!live.contains(a) && !live.contains(c))
  }

  test("commit hammer: no commit is ever silently lost under contention") {
    val t = SeqTable.create(fresh())
    val threads = 6; val each = 8
    val th = (0 until threads).map { i =>
      new Thread(() => (0 until each).foreach { j =>
        t.commit("append", Nil, Set.empty, Map("who" -> s"$i/$j"), maxRetries = 1000)
      })
    }
    th.foreach(_.start()); th.foreach(_.join())
    assert(t.currentVersion() === threads * each)
    val whos = t.snapshotVersions().drop(1).map(t.snapshot).flatMap(_.summary.get("who"))
    assert(whos.distinct.size === threads * each, "every commit must appear exactly once")
  }

  test("commit hammer with PARQUET manifests: contention-safe, content roundtrips") {
    val t = SeqTable.create(fresh())
    // manifest writes route through the shared SparkSession from racing commit threads
    val baseMetas = SeqIO.writeFiles(spark, t, SeqGen.table(spark, 200, parts = 2))
    t.commit("append", baseMetas, Set.empty)
    val threads = 4; val each = 4
    val th = (0 until threads).map { i =>
      new Thread(() => (0 until each).foreach { j =>
        t.commit("append", Seq(baseMetas(j % baseMetas.size).copy(path = s"data/x$i-$j.parquet")),
          Set.empty, Map("who" -> s"$i/$j"), maxRetries = 1000)
      })
    }
    th.foreach(_.start()); th.foreach(_.join())
    assert(t.currentVersion() === threads * each + 1)
    val whos = t.snapshotVersions().drop(1).map(t.snapshot).flatMap(_.summary.get("who"))
    assert(whos.distinct.size === threads * each, "every commit must appear exactly once")
    assert(t.currentSnapshot().manifests.forall(_.endsWith(".parquet")))
    // a cold instance parses the parquet manifests back faithfully
    val t2 = SeqTable.load(t.root)
    assert(t2.liveFiles().map(_.path).toSet ===
      (baseMetas.map(_.path) ++ (for { i <- 0 until threads; j <- 0 until each }
        yield s"data/x$i-$j.parquet")).toSet)
  }

  test("snapshot isolation: a reader pinned to an old version sees stable data") {
    val t = SeqTable.create(fresh())
    val metas = SeqIO.writeFiles(spark, t, SeqGen.table(spark, 300, parts = 2))
    t.commit("append", metas, Set.empty)
    val pinned = t.snapshot(1)
    val before = t.liveFiles(pinned).map(_.path).toSet
    t.commit("append", SeqIO.writeFiles(spark, t, SeqGen.table(spark, 100, parts = 1)
      .withColumn("doc_id", org.apache.spark.sql.functions.concat(
        org.apache.spark.sql.functions.lit("x-"),
        org.apache.spark.sql.functions.col("doc_id"))), clustered = false), Set.empty)
    assert(t.liveFiles(pinned).map(_.path).toSet === before) // pinned view unchanged
    assert(t.liveFiles().size > before.size)
  }

  test("expiry deletes only unreachable files; manifest rewrite preserves the live set") {
    val t = SeqTable.create(fresh())
    (1 to 3).foreach { i =>
      val m = SeqIO.writeFiles(spark, t, SeqGen.table(spark, 100, parts = 1)
        .withColumn("doc_id", org.apache.spark.sql.functions.concat(
          org.apache.spark.sql.functions.lit(s"b$i-"),
          org.apache.spark.sql.functions.col("doc_id"))))
      t.commit("append", m, Set.empty)
    }
    val liveBefore = t.liveFiles().map(_.path).toSet
    // rewrite everything → old files dead
    val all = t.liveFiles()
    val newMetas = SeqIO.writeFiles(spark, t, SeqIO.readFiles(spark, t, all))
    t.commit("compact", newMetas, liveBefore)

    val s = t.rewriteManifests()
    assert(s.manifests.size === 1)
    assert(t.liveFiles().map(_.path).toSet === newMetas.map(_.path).toSet)

    val (expired, deleted) = t.expireSnapshots(keepLast = 1)
    assert(expired.nonEmpty)
    assert(deleted.toSet === liveBefore) // exactly the dead files were removed from disk
    deleted.foreach(p => assert(!Files.exists(java.nio.file.Paths.get(t.root).resolve(p))))
    newMetas.foreach(m => assert(Files.exists(java.nio.file.Paths.get(t.absolutePath(m)))))
    assert(SeqIO.read(spark, t).count() === 300)
  }

  test("rewriteManifests carries table properties and delete manifests forward") {
    val t = SeqTable.create(fresh())
    val metas = SeqIO.writeFiles(spark, t, SeqGen.table(spark, 200, parts = 2))
    t.commit("append", metas, Set.empty, propertyUpdates = Map("stream-batch-x" -> "7"))
    val s = t.rewriteManifests()
    assert(s.properties.get("stream-batch-x") === Some("7"),
      "rewrite-manifests must honor the Snapshot.properties carry-forward contract")
  }

  test("distributed manifest rewrite: parity with live set, range-ordered parts, zero driver parses") {
    val root = fresh()
    val t = SeqTable.create(root)
    // several appends with distinct sources / n_tok ranges → several manifests to merge
    (1 to 4).foreach { i =>
      val m = SeqIO.writeFiles(spark, t, SeqGen.table(spark, 150, parts = 2)
        .withColumn("doc_id", org.apache.spark.sql.functions.concat(
          org.apache.spark.sql.functions.lit(s"b$i-"),
          org.apache.spark.sql.functions.col("doc_id"))))
      t.commit("append", m, Set.empty,
        propertyUpdates = if (i == 1) Map("stream-batch-y" -> "3") else Map.empty)
    }
    val before = t.liveFiles().toSet
    assert(t.currentSnapshot().manifests.size > 1)

    // run the rewrite on a COLD handle: the driver must parse zero manifest entries
    val t2 = SeqTable.load(root)
    val snap = SeqIO.rewriteManifestsDistributed(spark, t2, targetEntriesPerManifest = 3)
    assert(t2.manifestFileReads.get() === 0L,
      "distributed manifest rewrite must not parse any manifest on the driver")
    assert(snap.operation === "rewrite-manifests")
    assert(snap.properties.get("stream-batch-y") === Some("3"), "properties carried forward")
    assert(snap.manifests.size > 1, "granularity: multiple range parts expected")

    // parity: the live file set (full metadata, bloom included) is unchanged
    val after = t.liveFiles(snap).toSet
    assert(after === before)

    // contiguity: entries sorted within each manifest and across manifests in snapshot order
    def key(f: FileMeta) = (f.sources.headOption.getOrElse(""), f.minNtok, f.path)
    val perManifest = snap.manifests.map(m => t.readManifest(m).map(key))
    perManifest.foreach(ks => assert(ks === ks.sorted, "entries within a manifest must be sorted"))
    val nonEmpty = perManifest.filter(_.nonEmpty)
    nonEmpty.sliding(2).foreach {
      case Seq(a, b) => assert(implicitly[Ordering[(String, Int, String)]].lteq(a.last, b.head),
        "consecutive manifests must cover contiguous, ordered key ranges")
      case _ => ()
    }
    assert(SeqIO.read(spark, t).count() === 600)
  }

  test("distributed snapshot expiry == driver expiry: same versions, same deletions, zero driver parses") {
    // identical physical fixture, cloned byte-for-byte (UUID file names must match for parity)
    val rootA = fresh()
    val t = SeqTable.create(rootA)
    (1 to 3).foreach { i =>
      val m = SeqIO.writeFiles(spark, t, SeqGen.table(spark, 120, parts = 2)
        .withColumn("doc_id", org.apache.spark.sql.functions.concat(
          org.apache.spark.sql.functions.lit(s"b$i-"),
          org.apache.spark.sql.functions.col("doc_id"))))
      t.commit("append", m, Set.empty)
    }
    // rewrite everything so the early snapshots hold dead files
    val liveBefore = t.liveFiles().map(_.path).toSet
    val newMetas = SeqIO.writeFiles(spark, t, SeqIO.readFiles(spark, t, t.liveFiles()))
    t.commit("compact", newMetas, liveBefore)
    val rootB = cloneTable(rootA)
    val (expA, delA) = t.expireSnapshots(keepLast = 1)
    val cold = SeqTable.load(rootB)
    val (expB, delB) = SeqIO.expireSnapshotsDistributed(spark, cold, keepLast = 1)
    assert(cold.manifestFileReads.get() === 0L,
      "distributed expiry must not parse any manifest on the driver")
    assert(expB === expA)
    assert(delB.toSet === delA.toSet)
    assert(delB.toSet === liveBefore) // exactly the rewritten-away files die
    delB.foreach(p => assert(!Files.exists(java.nio.file.Paths.get(rootB).resolve(p))))
    assert(SeqIO.read(spark, cold).count() === 360)
    assert(SeqIO.read(spark, t).count() === 360)
  }

  test("removeOrphans reclaims crash-stranded manifests in metadata/, never referenced ones") {
    val t = SeqTable.create(fresh())
    val metas = SeqIO.writeFiles(spark, t, SeqGen.table(spark, 100, parts = 1))
    t.commit("append", metas, Set.empty)
    val referenced = t.currentSnapshot().manifests
    // a writer that died between publishing its manifest and its CAS commit
    val stranded = "manifest-deadbeef-crashed.jsonl"
    Files.writeString(java.nio.file.Paths.get(t.root, "metadata", stranded), "")
    val removed = t.removeOrphans(olderThanMs = 0L)
    assert(removed.contains(s"metadata/$stranded"))
    assert(!Files.exists(java.nio.file.Paths.get(t.root, "metadata", stranded)))
    referenced.foreach(m =>
      assert(Files.exists(java.nio.file.Paths.get(t.root, "metadata", m)),
        s"referenced manifest $m must survive the orphan sweep"))
    assert(SeqIO.read(spark, t).count() === 100)
  }

  test("removeOrphans reclaims aged .tmp-* debris; fresh debris and a live write's staging stay") {
    import java.nio.file.Path
    import java.nio.file.attribute.FileTime
    import java.util.concurrent.TimeUnit.MINUTES
    import org.apache.spark.sql.functions.{col, udf}
    import SeqTableSpec.{release, started}
    val t = SeqTable.create(fresh())
    t.commit("append", SeqIO.writeFiles(spark, t, SeqGen.table(spark, 200, parts = 2)), Set.empty)
    val (data, meta) = (t.dataDir, t.metaDirPath)
    val hoursAgo = FileTime.fromMillis(System.currentTimeMillis() - 2 * 3600 * 1000L)
    /** A staging directory as a writer leaves it, or a temp file. */
    def debris(dir: Path, name: String, isDir: Boolean): Path = {
      val p = dir.resolve(name)
      if (!isDir) Files.writeString(p, "{}")
      else Files.writeString(Files.createDirectories(p.resolve("_temporary/0/_temporary"))
        .resolve("part-00000.parquet"), "PAR1")
      p
    }
    def age(p: Path): Unit = {
      val walk = Files.walk(p)
      try walk.iterator().asScala.toSeq.reverse.foreach(Files.setLastModifiedTime(_, hoursAgo))
      finally walk.close()
    }
    val aged = Seq(debris(data, ".tmp-dead-batch", isDir = true),
      debris(meta, ".tmp-parts-42", isDir = true), debris(meta, ".tmp-snap42.json", isDir = false),
      debris(meta, ".tmp-hint42.txt", isDir = false),
      debris(meta, ".tmp-staged42.json", isDir = false))
    aged.foreach(age)
    val young = Seq(debris(data, ".tmp-young-batch", isDir = true),
      debris(meta, ".tmp-parts-43", isDir = true), debris(meta, ".tmp-snap43.json", isDir = false))

    // a writeFiles held inside its write task, its staging directory on disk
    val slow = udf { (n: Int) => started.countDown(); release.await(2, MINUTES); n }
    val written = scala.concurrent.Future(SeqIO.writeFiles(spark, t,
      SeqGen.table(spark, 100, parts = 1).withColumn("n_tok", slow(col("n_tok")))))(
      scala.concurrent.ExecutionContext.global)
    val removed = try {
      assert(started.await(2, MINUTES), "the write task never started")
      val live = SeqTable.listDir(data).filter(p => p.getFileName.toString.startsWith(".tmp-") &&
        !(aged ++ young).contains(p))
      assert(live.size === 1)
      // the live staging directory itself has not changed for hours; what is inside is new
      Files.setLastModifiedTime(live.head, hoursAgo)
      t.removeOrphans(olderThanMs = 3600L * 1000)
    } finally release.countDown()
    val metas = scala.concurrent.Await.result(written, scala.concurrent.duration.Duration(2, MINUTES))

    val root = java.nio.file.Paths.get(t.root)
    assert(removed.toSet === aged.map(p => root.relativize(p).toString).toSet)
    aged.foreach(p => assert(!Files.exists(p), p))
    young.foreach(p => assert(Files.exists(p), p))
    t.commit("append", metas, Set.empty)
    assert(SeqIO.read(spark, t).count() === 300)
  }

  test("plain reads are bloom-free on the driver: narrow manifest projection, both carriers") {
    val root = fresh()
    val t = SeqTable.create(root)
    val metas = SeqIO.writeFiles(spark, t, SeqGen.table(spark, 400, parts = 2))
    t.commit("append", metas, Set.empty)

    val cold = SeqTable.load(root)
    assert(SeqIO.read(spark, cold).count() === 400)
    assert(cold.manifestFileReads.get() === 0L,
      "a plain read materialized a FULL (bloom-laden) manifest on the driver")
    assert(cold.manifestNarrowFileReads.get() ===
      cold.currentSnapshot().manifests.size.toLong,
      "the scan list must come from narrow manifest reads")
    // narrow projection: no bloom payloads, every stat intact (vs the full read)
    val narrow = cold.liveFilesNarrow(cold.currentSnapshot())
    assert(narrow.forall(_.docBloom.isEmpty))
    assert(narrow.toSet === cold.liveFiles().map(_.copy(docBloom = None)).toSet,
      "narrow entries must carry identical stats to the full read")
    // cache: a second read parses nothing more
    val after = cold.manifestNarrowFileReads.get()
    assert(SeqIO.read(spark, cold).count() === 400)
    assert(cold.manifestNarrowFileReads.get() === after, "narrow reads must cache")
  }

  test("commit full-parses ONLY the manifests that lost files (narrow membership scan)") {
    val root = fresh()
    val t = SeqTable.create(root)
    (1 to 3).foreach { i => // three manifests
      val m = SeqIO.writeFiles(spark, t, SeqGen.table(spark, 100, parts = 1)
        .withColumn("doc_id", org.apache.spark.sql.functions.concat(
          org.apache.spark.sql.functions.lit(s"b$i-"),
          org.apache.spark.sql.functions.col("doc_id"))))
      t.commit("append", m, Set.empty)
    }
    val cold = SeqTable.load(root)
    assert(cold.currentSnapshot().manifests.size === 3)
    val victim = cold.readManifestNarrow(cold.currentSnapshot().manifests.head).head.path
    cold.commit("compact", Nil, Set(victim))
    assert(cold.manifestNarrowFileReads.get() === 3L,
      "membership must be decided on narrow (bloom-free) reads of every base manifest")
    assert(cold.manifestFileReads.get() === 1L,
      "only the ONE manifest that lost a file may be parsed full-width (its survivors' " +
        "blooms must carry forward) — full parses must be change-proportional, not table-sized")
    assert(SeqIO.read(spark, cold).count() === 200)
    assert(cold.currentSnapshot().summary("total-files").toLong === cold.liveFiles().size.toLong)
  }

  test("manifest cache: repeated liveFiles() and a rebasing commit parse each manifest at most once") {
    val root = fresh()
    val t = SeqTable.create(root)
    val metas = SeqIO.writeFiles(spark, t, SeqGen.table(spark, 600, parts = 3))
    t.commit("append", metas, Set.empty)

    // a freshly-loaded instance (cold cache) parses each manifest once, then never again
    val t2 = SeqTable.load(root)
    val live1 = t2.liveFiles()
    val afterFirst = t2.manifestFileReads.get()
    assert(afterFirst === t2.currentSnapshot().manifests.size.toLong)
    val live2 = t2.liveFiles()
    val live3 = t2.liveFiles()
    assert(t2.manifestFileReads.get() === afterFirst, "second/third liveFiles must be cache hits")
    assert(live1 === live2 && live2 === live3)

    // the WRITING instance cached its own manifest at write time: zero parses ever
    assert(t.manifestFileReads.get() === 0L)
    assert(t.liveFiles() === live1)
    assert(t.manifestFileReads.get() === 0L)

    // a follow-up commit (which re-reads base manifests to rebase) is also fully cached on t
    val more = SeqIO.writeFiles(spark, t, SeqGen.table(spark, 100, parts = 1))
    t.commit("append", more, Set.empty)
    assert(t.manifestFileReads.get() === 0L, "rebase must reuse cached manifest content")
  }

  private def contentHash(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    import org.apache.spark.sql.functions._
    df.select(concat_ws("|", col("doc_id"), col("n_tok"), col("source"),
      md5(concat_ws(",", transform(col("tokens"), _.cast("string"))))).as("r"))
      .collect().map(_.getString(0)).sorted.toSeq
  }

  test("rollback restores content as a NEW commit; expiry then reclaims the undone files") {
    val t = SeqTable.create(fresh())
    val m1 = SeqIO.writeFiles(spark, t, SeqGen.table(spark, 300, parts = 3))
    t.commit("append", m1, Set.empty, propertyUpdates = Map("hwm" -> "5"))
    val v1 = t.currentVersion()
    val before = contentHash(SeqIO.read(spark, t))

    // destructive rewrite: replace everything with different content, bump the HWM property
    val m2 = SeqIO.writeFiles(spark, t, SeqGen.table(spark, 150, parts = 2, tokensScale = 0.5))
    t.commit("compact", m2, m1.map(_.path).toSet, propertyUpdates = Map("hwm" -> "9"))
    assert(contentHash(SeqIO.read(spark, t)) !== before)

    val snap = t.rollbackTo(v1)
    assert(snap.version === v1 + 2, "rollback must append to history, not rewrite it")
    assert(snap.operation === "rollback")
    assert(contentHash(SeqIO.read(spark, t)) === before, "rollback must restore content exactly")
    // properties are table-level config: the HEAD's values survive, not the target's
    assert(snap.properties.get("hwm") === Some("9"))
    // the undone rewrite stays readable until expiry (history preserved)
    assert(SeqIO.readAt(spark, t, v1 + 1).count() === 150)

    val (expired, deleted) = t.expireSnapshots(keepLast = 1)
    assert(expired.nonEmpty)
    assert(deleted.toSet === m2.map(_.path).toSet,
      "expiry after rollback must reclaim exactly the undone commit's files")
    assert(contentHash(SeqIO.read(spark, t)) === before, "restored content intact after expiry")
  }

  test("rollback restores the merge-on-read delete-manifest set of the target") {
    val t = SeqTable.create(fresh())
    val m1 = SeqIO.writeFiles(spark, t, SeqGen.table(spark, 200, parts = 2))
    t.commit("append", m1, Set.empty)
    val v1 = t.currentVersion()
    // MoR delete of one doc_id → head carries a delete manifest that v1 did not
    val victim = SeqIO.read(spark, t).select("doc_id").head().getString(0)
    val dm = t.writeDeleteManifest(Iterator(victim), t.currentVersion() + 1)
    t.commit("delete-mor", Nil, Set.empty, addedDeleteManifests = Seq(dm),
      expectedBase = Some(v1))
    assert(SeqIO.read(spark, t).count() === 199)

    val snap = t.rollbackTo(v1)
    assert(snap.deleteManifests.isEmpty, "rollback must restore the TARGET's delete set")
    assert(SeqIO.read(spark, t).count() === 200, "the MoR-deleted row is back after rollback")
    // rolling back to the deleting version re-applies its deletes
    t.rollbackTo(v1 + 1)
    assert(SeqIO.read(spark, t).count() === 199)
  }

  test("rollback to the current head is a no-op; to an expired version fails loudly") {
    val t = SeqTable.create(fresh())
    val m1 = SeqIO.writeFiles(spark, t, SeqGen.table(spark, 100, parts = 1))
    t.commit("append", m1, Set.empty)
    val head = t.currentVersion()
    assert(t.rollbackTo(head).version === head, "rollback-to-head must not create an empty commit")
    val m2 = SeqIO.writeFiles(spark, t, SeqGen.table(spark, 50, parts = 1,
      tokensScale = 0.5).withColumn("doc_id",
        org.apache.spark.sql.functions.concat(
          org.apache.spark.sql.functions.lit("x-"),
          org.apache.spark.sql.functions.col("doc_id"))))
    t.commit("append", m2, Set.empty)
    t.expireSnapshots(keepLast = 1)
    intercept[java.nio.file.NoSuchFileException](t.rollbackTo(0L))
  }

  test("incremental append scan returns exactly the appended rows, never compaction rewrites") {
    val t = SeqTable.create(fresh())
    def batch(tag: String, n: Long) = SeqGen.table(spark, n, parts = 2)
      .withColumn("doc_id", org.apache.spark.sql.functions.concat(
        org.apache.spark.sql.functions.lit(s"$tag-"),
        org.apache.spark.sql.functions.col("doc_id")))
    val a = batch("a", 200)
    t.commit("append", SeqIO.writeFiles(spark, t, a), Set.empty)
    val v1 = t.currentVersion()

    // compaction rewrites batch A's rows with a later addedAt — must contribute NOTHING
    val live = t.liveFiles()
    t.commit("compact", SeqIO.writeFiles(spark, t, SeqIO.readFiles(spark, t, live)),
      live.map(_.path).toSet)
    val b = batch("b", 120)
    t.commit("stream-append", SeqIO.writeFiles(spark, t, b), Set.empty)
    val c = batch("c", 80)
    t.commit("append", SeqIO.writeFiles(spark, t, c), Set.empty)
    val head = t.currentVersion()

    assert(contentHash(SeqIO.readAppendedBetween(spark, t, v1, head)) ===
      contentHash(b.unionByName(c)), "delta (v1, head] = batches B ∪ C exactly")
    assert(contentHash(SeqIO.readAppendedBetween(spark, t, 0L, v1)) === contentHash(a))
    assert(SeqIO.readAppendedBetween(spark, t, head, head).count() === 0L)
    // full-range replay = the whole append history, double-delivering nothing
    assert(contentHash(SeqIO.readAppendedBetween(spark, t, 0L, head)) ===
      contentHash(a.unionByName(b).unionByName(c)))
    // rollback commits contribute nothing either (their files carry already-delivered rows)
    t.rollbackTo(v1)
    assert(contentHash(SeqIO.readAppendedBetween(spark, t, head, t.currentVersion())).isEmpty)
  }
}

object SeqTableSpec {
  /** Hold and release a write task of the orphan-debris test (static: a task's closure is a
    * deserialized copy, so a latch it captured would be another object). */
  val started = new java.util.concurrent.CountDownLatch(1)
  val release = new java.util.concurrent.CountDownLatch(1)
}
