package graft.table

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.TempDirs
import graft.fixtures.SeqGen

/** Manifest writers, on the driver ([[ManifestCodec.write]]) and in Spark jobs (manifest parts),
  * write `docBloom` without a dictionary and open under the data files' lock, so PLAIN-decided
  * data files written at the same time neither hand them their encodings nor change.
  */
class ManifestWriterSpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestSession.spark
  private val partsOptions = Map("parquet.enable.dictionary#docBloom" -> "false")

  private def parts(dir: Path): Seq[Path] = SeqTable.listDir(dir)
    .filter(_.getFileName.toString.endsWith(".parquet")).sortBy(_.getFileName.toString)

  /** Whether any `docBloom` chunk of parquet file `p` carries a dictionary. */
  private def bloomDictionary(p: Path): Boolean = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(p.toUri), new Configuration()))
    try r.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala)
      .filter(_.getPath.toDotString == "docBloom")
      .exists(c => c.hasDictionaryPage || c.getEncodings.asScala.exists(_.usesDictionary))
    finally r.close()
  }

  private def sameBytes(a: Path, b: Path): Boolean =
    java.util.Arrays.equals(Files.readAllBytes(a), Files.readAllBytes(b))

  /** Entries of `n` files, each with a docBloom from `bloom(i)`. */
  private def entries(n: Int, bloom: Int => String): Seq[FileMeta] = (0 until n).map(i =>
    FileMeta(f"data/f-$i%05d.parquet", 50L, 4000L, 16, 900, f"doc-$i%05d", f"doc-$i%05d-z",
      Seq("src1", "src2"), 3L, clustered = i % 2 == 0, docBloom = Some(bloom(i))))

  private def metaDF(metas: Seq[FileMeta], slices: Int): DataFrame = {
    import spark.implicits._
    spark.createDataset(metas).repartition(slices).toDF()
  }

  test("manifest parts written without the docBloom dictionary are byte-identical") {
    // real Blooms: ~13.6 KB of base64 that never repeats, so parquet drops the dictionary
    val rnd = new scala.util.Random(11)
    val metas = entries(120, _ => {
      val bytes = new Array[Byte](10 * 1024)
      rnd.nextBytes(bytes)
      java.util.Base64.getEncoder.encodeToString(bytes)
    })
    val df = metaDF(metas, 3).persist()
    val (plain, off) =
      (tempDir("mparts-default-").resolve("o"), tempDir("mparts-off-").resolve("o"))
    GraftSqlBridge.write(Seq(df), plain.toString, "parquet", Map.empty, Nil)
    GraftSqlBridge.write(Seq(df), off.toString, "parquet", partsOptions, Nil)
    val (a, b) = (parts(plain), parts(off))
    assert(a.size === 3 && b.size === 3)
    a.zip(b).foreach { case (x, y) => assert(sameBytes(x, y), s"$x and $y differ") }
    df.unpersist()
  }

  test("no manifest docBloom dictionary while PLAIN-decided data files are written alongside") {
    // identical Blooms: a dictionary would pay off, so one that is switched on shows
    val metas = entries(400, _ => "AAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAA")
    val df = metaDF(metas, 4).persist()
    val control = tempDir("mparts-control-").resolve("o")
    GraftSqlBridge.write(Seq(df), control.toString, "parquet", Map.empty, Nil)
    assert(parts(control).forall(bloomDictionary), "the test's Blooms must keep a dictionary")
    df.unpersist()
    val t = SeqTable.create(tempDir("mparts-table-").toString + "/t")
    t.commit("append", metas, Set.empty)

    val options = SeqIO.dataFileOptions(SeqSchema.schema.fields.toSeq)
    // 24 files of 50 rows: nearly every one decided PLAIN, each opened under the lock
    val data = SeqGen.table(spark, 1200, parts = 24).persist()
    val rounds = 4
    val decidedDirs = (0 until rounds).map(i => tempDir(s"mdata-$i-").resolve("o"))
    val manifestDir = tempDir("mcodec-files-")
    val plain0 = TokenEncoding.plainFiles.get
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]
    val writer = new Thread(() =>
      try decidedDirs.foreach(d => GraftSqlBridge.write(Seq(data), d.toString, "parquet",
        options, Nil, tokensColumn = Some("tokens")))
      catch { case e: Throwable => failure.set(e) })
    writer.start()
    // driver-written manifests, and manifest parts a Spark job writes (each rewrite also
    // commits, writing driver manifests of its own)
    try (0 until rounds).foreach { i =>
      (0 until 10).foreach(j =>
        ManifestCodec.write(manifestDir.resolve(s"manifest-$i-$j.parquet"), metas))
      SeqIO.rewriteManifestsDistributed(spark, t, targetEntriesPerManifest = 100)
    } finally writer.join()
    assert(failure.get === null)
    assert(TokenEncoding.plainFiles.get - plain0 >= rounds * 20L)

    val manifests = parts(manifestDir) ++ parts(t.metaDirPath)
    assert(manifests.size >= rounds * 10 + rounds * 4)
    assert(!manifests.exists(bloomDictionary), "a manifest's docBloom carries a dictionary")

    val stock = tempDir("mdata-stock-").resolve("o")
    GraftSqlBridge.write(Seq(data), stock.toString, "parquet", options, Nil)
    // part-<partition>-<job uuid>-c<file>: pair the files by partition
    def partition(p: Path) = p.getFileName.toString.split("-")(1)
    val want = parts(stock)
    assert(want.size === 24)
    decidedDirs.foreach { d =>
      val got = parts(d)
      assert(got.map(partition) === want.map(partition))
      got.zip(want).foreach { case (x, y) => assert(sameBytes(x, y), s"$x differs from $y") }
    }
    data.unpersist()
  }
}
