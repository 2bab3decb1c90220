package graft.ops

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageSubmitted}
import org.apache.spark.network.util.JavaUtils
import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.functions._
import graft.SparkTestSession
import graft.SparkTestSession.{jobProperty, withListener}
import graft.TempDirs
import graft.fixtures.SeqGen
import graft.planner.GridConfig
import graft.table.{FileMeta, SeqIO, SeqSchema, SeqTable, Utf8Order}

/** graft scans its own parquet files from their manifest entries: no file listing, no write to
  * the session conf, and the split shapes compaction and MERGE's survivor rewrite rely on.
  */
class ManifestScanSpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestSession.spark
  private val cfg = GridConfig()
  private val SplitKeys =
    Seq("spark.sql.files.maxPartitionBytes", "spark.sql.files.openCostInBytes")

  private def fresh(tag: String): String = tempDir(s"$tag-").toString + "/t"

  /** (rows, sum of whole-row hashes): equal for equal multisets of rows. */
  private def contentHash(df: DataFrame): (Long, java.math.BigDecimal) = {
    val r = df.agg(count(lit(1)), sum(xxhash64(col("doc_id"), col("tokens"), col("n_tok"),
      col("source")).cast("decimal(38,0)"))).head()
    (r.getLong(0), r.getDecimal(1))
  }

  private def basename(c: String) = element_at(split(col(c), "/"), -1)

  test("a scan built from manifest entries matches spark.read.parquet over the same files") {
    // a space in the root: the qualified paths must encode exactly as Spark's own
    val (table, metas) = SeqGen.fragmentedTable(spark, fresh("scan parity"), 1200, 6)
    val ours = SeqIO.readFiles(spark, table, metas)
    val theirs = spark.read.schema(SeqSchema.schema).parquet(metas.map(table.absolutePath): _*)
    def withPos(df: DataFrame) = df.select(col("*"), col("_metadata.file_path").as("fp"),
      col("_metadata.row_index").as("ri"))
    assert(withPos(ours).exceptAll(withPos(theirs)).isEmpty)
    assert(withPos(theirs).exceptAll(withPos(ours)).isEmpty)
    assert(ours.count() === 1200)
    assert(ours.schema === theirs.schema)
    assert(ours.rdd.getNumPartitions === theirs.rdd.getNumPartitions)
    assert(ours.queryExecution.optimizedPlan.stats.sizeInBytes ===
      theirs.queryExecution.optimizedPlan.stats.sizeInBytes)
    // column pruning and pushed filters reach the parquet scan
    val plan = ours.filter(col("n_tok") > 100).select("doc_id")
      .queryExecution.executedPlan.toString
    assert(plan.contains("GreaterThan(n_tok,100)"), plan)
    assert(plan.contains("ReadSchema: struct<doc_id:string,n_tok:int>"), plan)
  }

  test("reads, lookups, compaction and manifest scans over > 32 files launch no listing job") {
    val table = SeqTable.create(fresh("no-listing"))
    val metas = SeqIO.writeFiles(spark, table, SeqGen.table(spark, 2000, parts = 40))
    metas.foreach(m => table.commit("append", Seq(m), Set.empty)) // 40 single-file appends
    assert(table.liveFiles().size === 40)
    assert(table.currentSnapshot().manifests.size > 32)
    import spark.implicits._
    val keys = SeqIO.read(spark, table).select("doc_id").as[String].head(5).toSeq
    val descriptions = jobProperty("spark.job.description") {
      assert(SeqIO.read(spark, table).count() === 2000)
      val (pruned, stats) = SeqIO.scanPruned(spark, table, None, Some(0), None)
      assert(stats.filesScanned === 40 && pruned.count() === 2000)
      assert(SeqIO.lookupKeys(spark, table, keys, distributedMetaFiles = 0)._1.count() === 5)
      assert(SeqIO.fileMetaDS(spark, table).count() === 40)
      Rewrite.compactFiles(spark, table, table.liveFiles(), cfg, 1000)
      assert(SeqIO.read(spark, table).count() === 2000)
    }
    assert(table.liveFiles().size < 40)
    assert(!descriptions.exists(_.startsWith("Listing leaf files")),
      descriptions.filter(_.startsWith("Listing")).mkString("\n"))
  }

  test("compaction, delete materialization and COW merges never write the session conf") {
    def splitConf(): Seq[String] = SplitKeys.map(spark.conf.get)
    val before = splitConf()
    val readings = new ConcurrentLinkedQueue[Seq[String]]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = readings.add(splitConf())
    }
    def cowMerge(table: SeqTable, seed: Long): () => Unit = {
      val target = SeqIO.read(spark, table).persist()
      val changes = SeqGen.changeSet(spark, 2000, changes = 200 + seed, deletes = 50).persist()
      val want = contentHash(target.join(changes.select("doc_id"), Seq("doc_id"), "left_anti")
        .unionByName(changes.filter(col("_op") =!= "D").drop("_op")))
      () => {
        val r = MergeInto.merge(spark, table, changes, cfg, 1000)
        assert(r.filesRewritten > 0, "the merge must take the copy-on-write path")
        assert(contentHash(SeqIO.read(spark, table)) === want)
        target.unpersist(); changes.unpersist()
      }
    }
    def compaction(table: SeqTable): () => Unit = {
      val want = contentHash(SeqIO.read(spark, table))
      () => {
        Rewrite.compactFiles(spark, table, table.liveFiles(), cfg, 1000)
        assert(contentHash(SeqIO.read(spark, table)) === want)
      }
    }
    val tables = (1 to 5).map(i => SeqGen.fragmentedTable(spark, fresh(s"conf-$i"), 2000, 16)._1)
    val mor = SeqGen.changeSet(spark, 2000, changes = 200, deletes = 50)
    MergeInto.merge(spark, tables(1), mor, cfg, 1000, mor = true)
    val morVisible = contentHash(SeqIO.read(spark, tables(1)))
    val compactA = compaction(tables(0))
    val cowC = cowMerge(tables(2), 0)
    val compactD = compaction(tables(3))
    val cowE = cowMerge(tables(4), 1)
    withListener(listener) {
      compactA()
      assert(MaterializeDeletes.run(spark, tables(1), cfg, 1000).nonEmpty)
      assert(contentHash(SeqIO.read(spark, tables(1))) === morVisible)
      cowC()
      // a compaction and a COW merge on two threads of one session
      val errs = new ConcurrentLinkedQueue[Throwable]
      val threads = Seq(compactD, cowE).map(f => new Thread(() =>
        try f() catch { case e: Throwable => errs.add(e) }))
      threads.foreach(_.start()); threads.foreach(_.join())
      assert(errs.isEmpty, s"concurrent operations failed: ${errs.peek()}")
    }
    assert(readings.size > 10)
    assert(readings.asScala.forall(_ == before),
      readings.asScala.filterNot(_ == before).toSeq.distinct.mkString("; "))
    assert(splitConf() === before)
  }

  test("a COW merge writes one survivor file per affected file, each a subset of its source") {
    // 12 files at local[4]: the session default would pack ~3 small files into one scan task
    val (table, metas) = SeqGen.fragmentedTable(spark, fresh("survivors"), 3000, 12)
    import spark.implicits._
    def docsByFile(files: Seq[FileMeta]): Map[String, Set[String]] =
      SeqIO.readFiles(spark, table, files).select(basename("_metadata.file_path"), col("doc_id"))
        .as[(String, String)].collect().groupBy(_._1).map { case (f, r) => f -> r.map(_._2).toSet }
    val before = docsByFile(metas)
    // one key of every file, deleted: every file is affected and none is emptied
    val del = metas.map(_.minDocId).toDF("doc_id").withColumn("_op", lit("D"))
    val r = MergeInto.merge(spark, table, del, cfg, 1000)
    assert(r.filesRewritten === metas.size)
    val survivors = table.liveFiles()
    assert(survivors.forall(s => !metas.exists(_.path == s.path)))
    assert(survivors.size === r.filesRewritten)
    survivors.foreach { s =>
      assert(metas.exists(a => Utf8Order.compare(a.minDocId, s.minDocId) <= 0 &&
        Utf8Order.compare(s.maxDocId, a.maxDocId) <= 0))
    }
    docsByFile(survivors).values.foreach(docs => assert(before.values.exists(docs.subsetOf)))
    assert(survivors.map(_.records).sum === 3000 - metas.size)
  }

  /** Spark's `FilePartition` packing of small files (none larger than the split): files largest
    * first, a task closes when the next file would overflow the split, every file costs
    * `openCost` on top of its bytes.
    */
  private def packedTasks(sizes: Seq[Long], maxPartitionBytes: Long, openCost: Long,
      parallelism: Int): Int = {
    val split = math.min(maxPartitionBytes,
      math.max(openCost, (sizes.sum + sizes.size * openCost) / parallelism))
    assert(sizes.forall(_ <= split))
    var tasks = 0
    var current = -1L // -1: no file in the open task yet
    sizes.sorted.reverse.foreach { len =>
      if (current >= 0 && current + len > split) { tasks += 1; current = -1L }
      current = math.max(current, 0L) + len + openCost
    }
    if (current >= 0) tasks + 1 else tasks
  }

  test("compaction scans a backlog of small files in the tasks the small-file rule gives") {
    val (table, metas) = SeqGen.fragmentedTable(spark, fresh("small-files"), 4000, 40)
    def bytes(key: String) = JavaUtils.byteStringAsBytes(spark.conf.get(s"spark.sql.files.$key"))
    val (maxPartitionBytes, openCost) = (bytes("maxPartitionBytes"), bytes("openCostInBytes"))
    val parallelism = spark.sparkContext.defaultParallelism
    val sizes = metas.map(_.bytes)
    // max(16 MB, (bytes + files × openCost) / (3 × defaultParallelism)), only ever lowered
    val smallFileSplit = math.min(maxPartitionBytes,
      math.max(16L << 20, (sizes.sum + sizes.size * openCost) / (3L * parallelism)))
    val want = packedTasks(sizes, smallFileSplit, openCost, parallelism)
    assert(want > packedTasks(sizes, maxPartitionBytes, openCost, parallelism),
      "the fixture must spread wider than the session default")
    val scanStages = new ConcurrentLinkedQueue[Int]
    withListener(new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (e.stageInfo.rddInfos.exists(_.name == "FileScanRDD"))
          scanStages.add(e.stageInfo.numTasks)
    })(Rewrite.compactFiles(spark, table, metas, cfg, 1000))
    assert(scanStages.size >= 2) // the byte histogram and the write each scan the files
    assert(scanStages.asScala.forall(_ == want), s"scan stage tasks $scanStages, want $want")
  }

  test("a read that meets a missing data file fails loudly, naming the file") {
    val (table, metas) = SeqGen.fragmentedTable(spark, fresh("missing"), 600, 4)
    val victim = Paths.get(table.absolutePath(metas(1)))
    Files.delete(victim)
    assert(spark.conf.get("spark.sql.files.ignoreMissingFiles") === "false")
    val e = intercept[Exception](SeqIO.read(spark, table).count())
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).mkString("\n")
    assert(messages.contains(victim.getFileName.toString), messages)
  }

  test("a failed delete-manifest write leaves no tmp directory in metadata/") {
    val (table, _) = SeqGen.fragmentedTable(spark, fresh("publish"), 200, 2)
    val boom = spark.range(10).select(raise_error(lit("boom")).cast("string"))
    intercept[Exception](SeqIO.writeDeleteManifests(spark, table, boom, seq = 7))
    val meta = Paths.get(table.root, "metadata")
    val left = Files.list(meta)
    try assert(left.iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith(".tmp-")).toSeq.isEmpty)
    finally left.close()
    assert(table.currentSnapshot().deleteManifests.isEmpty)
  }

  /** Runs `df` and returns how many files its parquet scans opened (their `numFiles` metric);
    * the text scan of equality-delete keys is not counted. */
  private def filesOpened(df: DataFrame): Long = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    df.collect()
    new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      .collect(df.queryExecution.executedPlan) {
        case s: FileSourceScanExec if s.relation.fileFormat.isInstanceOf[ParquetFileFormat] =>
          s.metrics("numFiles").value
      }.sum
  }

  test("a filtered read selects scanPruned's files through equality deletes, DVs and neither") {
    val cond = col("source") === "src1" && col("n_tok").between(256, 1024)
    for (deletes <- Seq("none", "keys", "dv")) {
      val (table, _) = SeqGen.fragmentedTable(spark, fresh(s"plan-$deletes"), 3000, 12)
      // clustered, so (source, n_tok) stats split the files
      Rewrite.compactFiles(spark, table, table.liveFiles(), cfg, 300)
      val victims = col("n_tok") > 6000
      if (deletes == "keys") Dml.deleteWhere(spark, table, victims, cfg, 300, mor = true)
      if (deletes == "dv") Dml.deleteWhere(spark, table, victims, cfg, 300, dv = true)
      val snap = table.currentSnapshot()
      assert(SeqIO.keyManifestsOf(snap).nonEmpty === (deletes == "keys"), deletes)
      assert(SeqIO.dvManifestsOf(snap).nonEmpty === (deletes == "dv"), deletes)
      val live = table.liveFilesNarrow(snap)

      val filtered = SeqIO.read(spark, table).filter(cond)
      val selected = GraftSqlBridge.selectedFiles(filtered).map(_.path).sorted
      val (pruned, stats) = SeqIO.scanPruned(spark, table, Some("src1"), Some(256), Some(1024))
      assert(selected === GraftSqlBridge.selectedFiles(pruned).map(_.path).sorted, deletes)
      assert(stats.filesScanned === selected.size && stats.totalFiles === live.size, deletes)
      assert(selected.nonEmpty && selected.size < live.size, s"$deletes: ${selected.size}")

      val out = new java.io.ByteArrayOutputStream()
      Console.withOut(out)(filtered.explain())
      val explain = out.toString
      assert(explain.contains(s"KnownFiles(${selected.size}/${live.size} files)"), explain)
      // the filter reached the scan through the delete plan: _fn join, DV probe, key anti-join
      if (deletes == "keys") assert(explain.contains("LeftAnti"), explain)
      if (deletes == "dv") assert(explain.contains("dv_hidden"), explain)
      assert(filesOpened(filtered) === selected.size, deletes)
      assert(filtered.count() === SeqIO.readFiles(spark, table, live).filter(cond)
        .filter(!victims).count(), deletes)
    }
  }

  test("a filtered manifest scan opens every manifest") {
    val table = SeqTable.create(fresh("manifest-filter"))
    SeqIO.writeFiles(spark, table, SeqGen.table(spark, 600, parts = 6))
      .foreach(m => table.commit("append", Seq(m), Set.empty))
    val manifests = table.currentSnapshot().manifests.size
    assert(manifests === 6)
    val ds = SeqIO.fileMetaDS(spark, table, narrow = true).toDF()
    assert(GraftSqlBridge.selectedFiles(ds).isEmpty,
      "a manifest scan carries no entries to prune by")
    assert(filesOpened(ds.filter(col("records") < 0)) === manifests)
    assert(filesOpened(ds.filter(col("minNtok") > Int.MaxValue - 1)) === manifests)
  }
}
