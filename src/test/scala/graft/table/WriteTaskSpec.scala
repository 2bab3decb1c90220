package graft.table

import java.io.{ByteArrayOutputStream, DataOutputStream}
import java.nio.file.Paths
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, IntegerType, StructType}
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.TempDirs
import graft.fixtures.SeqGen
import graft.ops.{MergeInto, Rewrite}
import graft.planner.GridConfig

/** What one graft write task carries and writes: a Hadoop conf without Hadoop's defaults, and
  * parquet files whose `doc_id` column has no dictionary.
  */
class WriteTaskSpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestSession.spark

  private def fresh(tag: String): SeqTable =
    SeqTable.create(tempDir(s"wtask-$tag-").toString + "/t")

  /** Physical column path → whether its chunks in the parquet file `p` use a dictionary. */
  private def dictionaryUse(p: String): Map[String, Boolean] = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(Paths.get(p).toUri), new Configuration()))
    try r.getFooter.getBlocks.asScala.toSeq.flatMap(_.getColumns.asScala)
      .groupBy(_.getPath.toDotString)
      .map { case (c, chunks) =>
        c -> chunks.exists(_.getEncodings.asScala.exists(_.usesDictionary))
      }
    finally r.close()
  }

  /** Each of `files` has no dictionary for `docIdPath` and keeps the one of `source` and, with
    * `tokensPath`, the one of the tokens element. */
  private def assertDictionaries(files: Seq[String], docIdPath: String = "doc_id",
      tokensPath: Option[String] = Some("tokens.list.element")): Unit = {
    assert(files.nonEmpty)
    files.foreach { f =>
      val use = dictionaryUse(f)
      assert(use.keySet.contains(docIdPath), s"$f columns: ${use.keys}")
      assert(!use(docIdPath), s"$f: $use")
      assert(use("source"), s"$f: $use")
      tokensPath.foreach(c => assert(use(c), s"$f: $use"))
    }
  }

  private def liveFiles(t: SeqTable): Seq[String] = t.liveFiles().map(t.absolutePath)

  /** Token ids from a vocabulary of 8: parquet keeps a dictionary for such a column. */
  private def fewTokens(df: DataFrame): DataFrame =
    df.withColumn("tokens", transform(col("tokens"), x => pmod(x, lit(8))))

  /** [[fewTokens]], and document ids from a set of 8: parquet would keep their dictionary too
    * unless told not to, so these files show that the write decides, not the data. */
  private def fewValues(df: DataFrame): DataFrame = fewTokens(df)
    .withColumn("doc_id", concat(lit("d"), pmod(hash(col("doc_id")), lit(8)).cast("string")))

  /** Row count and an order-free content hash. */
  private def fingerprint(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)),
      sum(hash(col("doc_id"), col("tokens"), col("n_tok"), col("source")).cast("long"))).head
    (r.getLong(0), r.getLong(1))
  }

  test("writeFiles, clustered and MoR outputs skip the doc_id dictionary only") {
    val (frag, _) =
      SeqGen.fragmentedTable(spark, tempDir("wtask-frag-").toString + "/t", 3000, 6)
    // SeqGen's random tokens: whether parquet keeps their dictionary is the data's call
    assertDictionaries(liveFiles(frag), tokensPath = None)

    val few = fresh("few")
    few.commit("append", SeqIO.writeFiles(spark, few,
      fewValues(SeqGen.table(spark, 2000, parts = 4))), Set.empty)
    assertDictionaries(liveFiles(few))

    val clustered = fresh("clustered")
    clustered.commit("append", Rewrite.clusteredWrite(spark, clustered,
      fewValues(SeqGen.table(spark, 4000, parts = 4)), GridConfig(), 1000, 4000), Set.empty)
    assert(clustered.liveFiles().forall(_.clustered))
    assertDictionaries(liveFiles(clustered))

    // merge-on-read: the changed and inserted rows land in new files through the same writer
    // (their document ids must stay unique to match the rows they change)
    val before = liveFiles(frag).toSet
    MergeInto.merge(spark, frag, fewTokens(SeqGen.changeSet(spark, 3000, changes = 200)),
      GridConfig(), 1000, mor = true)
    assert(frag.currentSnapshot().deleteManifests.nonEmpty)
    val added = liveFiles(frag).filterNot(before.contains)
    assert(added.nonEmpty)
    assertDictionaries(added)
  }

  test("columns under field-ID physical names: doc_id skips its dictionary, tokens keeps it") {
    // base columns cannot be dropped through the API; this is the schema a drop and re-add of
    // `doc_id` and `tokens` would leave: the logical names over generation-unique physical ones
    val t = fresh("fid")
    val renamed = Map("doc_id" -> "_fid8_doc_id", "tokens" -> "_fid7_tokens")
    val schema = StructType(SeqSchema.schema.fields.map(f =>
      renamed.get(f.name).fold(f)(SeqSchema.withPhysicalName(f, _))))
    t.commit("evolve-schema", Nil, Set.empty, propertyUpdates = Map("schema.json" -> schema.json))
    val input = fewValues(SeqGen.table(spark, 1500, parts = 3))
    t.commit("append", SeqIO.writeFiles(spark, t, input), Set.empty)
    assert(SeqIO.dataFileOptions(t.currentSchema().fields.toSeq)
      .contains("parquet.enable.dictionary#_fid8_doc_id"))
    assertDictionaries(liveFiles(t), docIdPath = "_fid8_doc_id",
      tokensPath = Some("_fid7_tokens.list.element"))
    assert(fingerprint(SeqIO.read(spark, t)) === fingerprint(input))
  }

  test("the conf a write ships holds no Hadoop default and keeps every other setting") {
    val options = SeqIO.dataFileOptions(SeqSchema.schema.fields.toSeq)
    // a session with its own `${...}`-valued setting: its SQL conf is not the shared session's
    val session = spark.newSession()
    session.conf.set("spark.hadoop.graft.probe", "${hadoop.tmp.dir}/probe")
    val full = session.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState
      .newHadoopConfWithOptions(options ++ GraftSqlBridge.WriteFsOptions)
    val lean = GraftSqlBridge.writeConf(session, options)
    def entries(c: Configuration): Map[String, String] =
      c.iterator().asScala.map(e => e.getKey -> e.getValue).toMap
    def lastSource(k: String): String = Option(full.getPropertySources(k)).fold("")(_.last)

    val defaults = entries(full).keySet.filter(lastSource(_).endsWith("-default.xml"))
    assert(defaults.size > 500)
    assert(entries(lean).keySet.intersect(defaults).isEmpty)
    // everything else is shipped, resolved
    assert(entries(lean) === (entries(full).keySet -- defaults).map(k => k -> full.get(k)).toMap)
    assert(lean.get("spark.hadoop.graft.probe") === full.get("hadoop.tmp.dir") + "/probe")
    assert(!lean.get("spark.hadoop.graft.probe").contains("${"))
    // the session's `spark.hadoop.*` keys, Spark's committer pin and the write's own options
    val fromSparkHadoop = entries(full).keySet.filter(lastSource(_).contains("spark.hadoop"))
    assert(fromSparkHadoop.nonEmpty)
    fromSparkHadoop.foreach(k => assert(lean.get(k) === full.get(k), k))
    assert(lean.get("mapreduce.fileoutputcommitter.algorithm.version") ===
      spark.sparkContext.hadoopConfiguration.get("mapreduce.fileoutputcommitter.algorithm.version"))
    options.foreach { case (k, v) => assert(lean.get(k) === v, k) }
    assert(lean.get("fs.file.impl") === classOf[ForkFreeLocalFileSystem].getName)

    def serializedBytes(c: Configuration): Int = {
      val out = new ByteArrayOutputStream()
      c.write(new DataOutputStream(out))
      out.size()
    }
    assert(serializedBytes(lean) < 16 * 1024)
    assert(serializedBytes(full) > 64 * 1024)
  }

  test("what the write path reads has the same value through the lean conf as the full one") {
    // the keys the committer, the parquet and text writers and the local file system read,
    // each with the default its reader falls back to: the lean conf ships no XML default, so
    // each of these must be shipped or have a code default equal to its XML default
    import org.apache.hadoop.fs.CommonConfigurationKeysPublic._
    import org.apache.hadoop.mapreduce.lib.output.{FileOutputCommitter => C, FileOutputFormat}
    val options = SeqIO.dataFileOptions(SeqSchema.schema.fields.toSeq)
    val full = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState
      .newHadoopConfWithOptions(options ++ GraftSqlBridge.WriteFsOptions)
    val lean = GraftSqlBridge.writeConf(spark, options)
    Seq(C.FILEOUTPUTCOMMITTER_ALGORITHM_VERSION -> C.FILEOUTPUTCOMMITTER_ALGORITHM_VERSION_DEFAULT,
      C.FILEOUTPUTCOMMITTER_CLEANUP_SKIPPED -> C.FILEOUTPUTCOMMITTER_CLEANUP_SKIPPED_DEFAULT,
      C.FILEOUTPUTCOMMITTER_CLEANUP_FAILURES_IGNORED ->
        C.FILEOUTPUTCOMMITTER_CLEANUP_FAILURES_IGNORED_DEFAULT,
      C.FILEOUTPUTCOMMITTER_FAILURE_ATTEMPTS -> C.FILEOUTPUTCOMMITTER_FAILURE_ATTEMPTS_DEFAULT,
      C.FILEOUTPUTCOMMITTER_TASK_CLEANUP_ENABLED ->
        C.FILEOUTPUTCOMMITTER_TASK_CLEANUP_ENABLED_DEFAULT,
      C.SUCCESSFUL_JOB_OUTPUT_DIR_MARKER -> true,
      FileOutputFormat.COMPRESS -> false,
      IO_FILE_BUFFER_SIZE_KEY -> IO_FILE_BUFFER_SIZE_DEFAULT,
      FS_DEFAULT_NAME_KEY -> FS_DEFAULT_NAME_DEFAULT
    ).foreach { case (k, d) => assert(lean.get(k, d.toString) === full.get(k, d.toString), k) }
    assert(FsPermission.getUMask(lean) === FsPermission.getUMask(full))
    val dir = new org.apache.hadoop.fs.Path(tempDir("wtask-fs-").toUri)
    val Seq(leanFs, fullFs) = Seq(lean, full).map(dir.getFileSystem)
    assert(Seq(leanFs, fullFs).forall(_.isInstanceOf[ForkFreeLocalFileSystem]))
    assert(leanFs.getDefaultBlockSize(dir) === fullFs.getDefaultBlockSize(dir))
    assert(leanFs.getDefaultReplication(dir) === fullFs.getDefaultReplication(dir))
  }

  test("rows read back equal the input") {
    for ((input, tag) <- Seq(SeqGen.table(spark, 3000, parts = 5) -> "gen",
        fewValues(SeqGen.table(spark, 1000, parts = 2)) -> "few",
        SeqGen.table(spark, 500, parts = 2).withColumn("tokens",
          when(col("n_tok") % 3 === 0, lit(null).cast(ArrayType(IntegerType)))
            .otherwise(col("tokens"))) -> "null-arrays")) {
      val t = fresh(tag)
      t.commit("append", SeqIO.writeFiles(spark, t, input), Set.empty)
      assert(fingerprint(SeqIO.read(spark, t)) === fingerprint(input), tag)
    }
  }
}
