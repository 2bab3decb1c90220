package graft.sources

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestSession
import graft.TempDirs
import graft.fixtures.SeqGen
import graft.planner.GridConfig
import graft.table.{SeqIO, SeqTable}

class IngestSpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestSession.spark

  private def fresh(): String = tempDir("ingest-spec-").toString

  test("csv ingest with ;-delimited token arrays") {
    val dir = fresh()
    val csv = s"$dir/in.csv"
    Files.writeString(java.nio.file.Paths.get(csv),
      "doc_id,tokens,source\nd1,1;2;3,src0\nd2,7;8,src1\n")
    val t = SeqTable.create(s"$dir/t")
    Ingest.fromCsv(spark, t, csv)
    val rows = SeqIO.read(spark, t).orderBy("doc_id").collect()
    assert(rows.length === 2)
    assert(rows(0).getAs[Seq[Int]]("tokens") === Seq(1, 2, 3))
    assert(rows(0).getAs[Int]("n_tok") === 3)
  }

  test("clustered append leaves tight per-file stats") {
    val dir = fresh()
    val t = SeqTable.create(s"$dir/t")
    Ingest.appendClustered(spark, t, SeqGen.table(spark, 3000, parts = 8),
      GridConfig(), targetRecordsPerFile = 300)
    val files = t.liveFiles()
    assert(files.size >= 8)
    // curve-clustered layout: the large majority of files keep bounded source stats (a z-range can
    // straddle many buckets at bin boundaries, so a few overflow files are fine)
    assert(files.count(_.sources.nonEmpty) * 2 > files.size,
      s"too many overflow files: ${files.count(_.sources.isEmpty)}/${files.size}")
  }

  test("streaming ingest: each micro-batch is one atomic snapshot commit") {
    val dir = fresh()
    val t = SeqTable.create(s"$dir/t")
    val srcDir = s"$dir/incoming"
    Files.createDirectories(java.nio.file.Paths.get(srcDir))
    // stage two batches of parquet input
    SeqGen.table(spark, 100, parts = 1).write.parquet(s"$srcDir/b1")
    SeqGen.table(spark, 80, parts = 1)
      .withColumn("doc_id", concat(lit("x-"), col("doc_id"))).write.parquet(s"$srcDir/b2")
    val src = spark.readStream.schema(graft.table.SeqSchema.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$srcDir/b*")
    val q = Ingest.stream(spark, t, src, s"$dir/ckpt")
    q.awaitTermination(120000)
    assert(SeqIO.read(spark, t).count() === 180)
    val ops = t.snapshotVersions().map(t.snapshot).map(_.operation)
    assert(ops.count(_ == "stream-append") >= 1)
  }

  test("streaming ingest is idempotent across micro-batch replay") {
    val dir = fresh()
    val t = SeqTable.create(s"$dir/t")
    val srcDir = s"$dir/incoming"
    Files.createDirectories(java.nio.file.Paths.get(srcDir))
    SeqGen.table(spark, 120, parts = 1).write.parquet(s"$srcDir/b1")
    def run(): Unit = {
      val src = spark.readStream.schema(graft.table.SeqSchema.schema).parquet(s"$srcDir/b*")
      val q = Ingest.stream(spark, t, src, s"$dir/ckpt")
      q.awaitTermination(120000)
      q.stop() // deregister from the session's active-query registry before re-running
      ()
    }
    run()
    assert(SeqIO.read(spark, t).count() === 120)
    // crash window: Spark wrote its offsets but not its commit marker → restart redelivers the
    // same batchId. Simulate by dropping the newest commit marker and re-running.
    import scala.jdk.CollectionConverters._
    val commits = java.nio.file.Paths.get(s"$dir/ckpt/commits")
    val newest = Files.list(commits).iterator().asScala.toSeq
      .filter(p => p.getFileName.toString.forall(_.isDigit)).maxBy(_.getFileName.toString.toInt)
    Files.delete(newest)
    // drop Hadoop's checksum sidecar too, or the re-written marker's rename fails
    Files.deleteIfExists(commits.resolve(s".${newest.getFileName}.crc"))
    run()
    assert(SeqIO.read(spark, t).count() === 120,
      "replayed micro-batch must not append duplicate rows")
  }

  test("streaming replay idempotency survives snapshot expiry (HWM in table properties)") {
    val dir = fresh()
    val t = SeqTable.create(s"$dir/t")
    val srcDir = s"$dir/incoming"
    Files.createDirectories(java.nio.file.Paths.get(srcDir))
    SeqGen.table(spark, 100, parts = 1).write.parquet(s"$srcDir/b1")
    def run(): Unit = {
      val src = spark.readStream.schema(graft.table.SeqSchema.schema).parquet(s"$srcDir/b*")
      val q = Ingest.stream(spark, t, src, s"$dir/ckpt")
      q.awaitTermination(120000)
      q.stop()
      ()
    }
    run()
    assert(SeqIO.read(spark, t).count() === 100)
    // unrelated maintenance commits + expiry: the stream-append snapshot (and its summary, which
    // used to carry the batch-id mark) is EXPIRED before the crash-replay happens
    t.commit("noise-1", Nil, Set.empty)
    t.commit("noise-2", Nil, Set.empty)
    t.expireSnapshots(keepLast = 2)
    assert(!t.snapshotVersions().map(t.snapshot).exists(_.operation == "stream-append"),
      "precondition: the stream-append snapshot must be gone")
    // crash window replay (offsets written, commit marker lost)
    import scala.jdk.CollectionConverters._
    val commits = java.nio.file.Paths.get(s"$dir/ckpt/commits")
    val newest = Files.list(commits).iterator().asScala.toSeq
      .filter(p => p.getFileName.toString.forall(_.isDigit)).maxBy(_.getFileName.toString.toInt)
    Files.delete(newest)
    Files.deleteIfExists(commits.resolve(s".${newest.getFileName}.crc"))
    run()
    assert(SeqIO.read(spark, t).count() === 100,
      "replayed batch after snapshot expiry must not duplicate rows")
  }

  // The round-4 bug: rewriteManifests rebuilt the snapshot WITHOUT base.properties, silently
  // erasing the streaming high-water mark — rewrite + expiry + crash-replay then duplicated the
  // redelivered batch. Both rewrite paths (driver-side and distributed) must carry properties.
  for ((mode, rewrite) <- Seq[(String, (SeqTable) => Unit)](
      ("driver", t => { t.rewriteManifests(); () }),
      ("distributed", t => { SeqIO.rewriteManifestsDistributed(spark, t); () }))) {
    test(s"streaming exactly-once survives $mode manifest rewrite + snapshot expiry") {
      val dir = fresh()
      val t = SeqTable.create(s"$dir/t")
      val srcDir = s"$dir/incoming"
      Files.createDirectories(java.nio.file.Paths.get(srcDir))
      SeqGen.table(spark, 100, parts = 1).write.parquet(s"$srcDir/b1")
      def run(): Unit = {
        val src = spark.readStream.schema(graft.table.SeqSchema.schema).parquet(s"$srcDir/b*")
        val q = Ingest.stream(spark, t, src, s"$dir/ckpt")
        q.awaitTermination(120000)
        q.stop()
        ()
      }
      run()
      assert(SeqIO.read(spark, t).count() === 100)
      // maintenance cycle with manifest rewrite, then expiry: the stream-append snapshot AND its
      // summary die; only the carried-forward head properties can still hold the HWM
      rewrite(t)
      t.commit("noise", Nil, Set.empty)
      t.expireSnapshots(keepLast = 2)
      assert(!t.snapshotVersions().map(t.snapshot).exists(_.operation == "stream-append"),
        "precondition: the stream-append snapshot must be gone")
      assert(t.currentSnapshot().properties.keys.exists(_.startsWith("stream-batch-")),
        "manifest rewrite must carry the stream HWM table property forward")
      import scala.jdk.CollectionConverters._
      val commits = java.nio.file.Paths.get(s"$dir/ckpt/commits")
      val newest = Files.list(commits).iterator().asScala.toSeq
        .filter(p => p.getFileName.toString.forall(_.isDigit)).maxBy(_.getFileName.toString.toInt)
      Files.delete(newest)
      Files.deleteIfExists(commits.resolve(s".${newest.getFileName}.crc"))
      run()
      assert(SeqIO.read(spark, t).count() === 100,
        s"replayed batch after $mode manifest rewrite + expiry must not duplicate rows")
    }
  }

  test("jdbc ingest (derby in-memory) with ;-delimited token strings") {
    val dir = fresh()
    // derby ships with Spark's jars; in-memory DB = the reference's Proteus-over-JDBC stand-in
    val url = s"jdbc:derby:memory:graft${System.nanoTime()};create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    val st = conn.createStatement()
    st.execute("CREATE TABLE seqs (doc_id VARCHAR(32), tokens VARCHAR(256), source VARCHAR(32))")
    st.execute("INSERT INTO seqs VALUES ('j1', '5;6;7', 'srcJ'), ('j2', '9', 'srcJ')")
    st.close(); conn.close()
    val t = SeqTable.create(s"$dir/t")
    Ingest.fromJdbc(spark, t, url, "seqs")
    val rows = SeqIO.read(spark, t).orderBy("doc_id").collect()
    assert(rows.length === 2)
    assert(rows(0).getAs[Seq[Int]]("tokens") === Seq(5, 6, 7))
    assert(rows(0).getAs[Int]("n_tok") === 3)
    assert(rows(1).getAs[Seq[Int]]("tokens") === Seq(9))
  }

  test("BRS result json matches the reference's REST output shape") {
    import spark.implicits._
    // shape pinned to /root/reference/executable/buffer.tmp:
    // [\n{\n"rank":1,\n"center":[9.202416,45.466252190000006],\n"score":25\n},…]
    val df = Seq((1, 9.202416, 45.466252190000006, 25.0), (2, 9.212416000000001, 45.48625219, 17.0))
      .toDF("rank", "center_lon", "center_lat", "score")
    val json = graft.brs.BRS.renderJson(df)
    assert(json ===
      "[\n{\n\"rank\":1,\n\"center\":[9.202416,45.466252190000006],\n\"score\":25\n},\n" +
        "{\n\"rank\":2,\n\"center\":[9.212416000000001,45.48625219],\n\"score\":17\n}\n]")
  }

  test("conform refuses batches missing a base column; evolved columns still null-fill") {
    import spark.implicits._
    // missing source: pre-guard this appended rows with null merge-key-adjacent fields that
    // merge/delete can never target
    val noSource = Seq(("d1", Seq(1, 2))).toDF("doc_id", "tokens")
    val e1 = intercept[IllegalArgumentException](Ingest.conform(noSource))
    assert(e1.getMessage.contains("source"))
    // missing doc_id
    val noKey = Seq((Seq(1, 2), "web")).toDF("tokens", "source")
    val e2 = intercept[IllegalArgumentException](Ingest.conform(noKey))
    assert(e2.getMessage.contains("doc_id"))
    // n_tok alone derives; EVOLVED columns absent from the batch still null-fill
    val evolved = org.apache.spark.sql.types.StructType(graft.table.SeqSchema.schema.fields :+
      org.apache.spark.sql.types.StructField("lang", org.apache.spark.sql.types.StringType))
    val ok = Ingest.conform(Seq(("d1", Seq(1, 2), "web")).toDF("doc_id", "tokens", "source"),
      evolved).collect()
    assert(ok.length === 1 && ok(0).getAs[Int]("n_tok") === 2 && ok(0).isNullAt(4))
  }

  test("export sink roundtrips csv") {
    val dir = fresh()
    import spark.implicits._
    Ingest.export(Seq((1, "a"), (2, "b")).toDF("k", "v"), s"$dir/out", "csv")
    val back = spark.read.option("header", "true").csv(s"$dir/out")
    assert(back.count() === 2)
  }

  test("export sink multi-file csv mode keeps the write parallel and roundtrips") {
    val dir = fresh()
    import spark.implicits._
    val df = (1 to 1000).map(i => (i, s"v$i")).toDF("k", "v").repartition(8)
    Ingest.export(df, s"$dir/out", "csv", singleFile = false)
    import scala.jdk.CollectionConverters._
    val st = Files.list(java.nio.file.Paths.get(s"$dir/out"))
    val parts = try st.iterator().asScala.count(_.getFileName.toString.startsWith("part-"))
      finally st.close()
    assert(parts > 1, s"multi-file export must not serialize through one task (parts=$parts)")
    val back = spark.read.option("header", "true").csv(s"$dir/out")
    assert(back.count() === 1000)
  }
}
