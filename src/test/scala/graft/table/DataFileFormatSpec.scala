package graft.table

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.bytes.{BytesUtils, HeapByteBufferAllocator}
import org.apache.parquet.column.{ColumnDescriptor, Encoding, ParquetProperties}
import org.apache.parquet.column.values.dictionary.DictionaryValuesWriter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.datasources.OutputWriterFactory
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.TempDirs
import graft.fixtures.SeqGen
import graft.ops.Rewrite
import graft.planner.GridConfig

/** [[DataFileFormat]] writes the files the stock `ParquetFileFormat` writes, byte for byte, and
  * decides the tokens encoding of a file from its buffered rows exactly where parquet would.
  */
class DataFileFormatSpec extends AnyFunSuite with TempDirs {
  import DataFileFormatSpec._
  lazy val spark = SparkTestSession.spark

  private val options = SeqIO.dataFileOptions(SeqSchema.schema.fields.toSeq)

  /** (files decided from the buffer, of them written PLAIN) while `body` runs. */
  private def decisions(body: => Unit): (Long, Long) = {
    val (d0, p0) = (TokenEncoding.decidedFiles.get, TokenEncoding.plainFiles.get)
    body
    (TokenEncoding.decidedFiles.get - d0, TokenEncoding.plainFiles.get - p0)
  }

  /** The part files under `dir`, by name. */
  private def parts(dir: Path): Seq[Path] = SeqTable.listDir(dir)
    .filter(_.getFileName.toString.endsWith(".parquet")).sortBy(_.getFileName.toString)

  /** Writes `df` with the stock format and with [[DataFileFormat]] under the same options,
    * asserts the part files equal byte for byte, and returns the stock files and the
    * decisions the new path made. */
  private def writeBoth(df: DataFrame, opts: Map[String, String] = options,
      tokens: String = "tokens"): (Seq[Path], (Long, Long)) = {
    val (stock, decided) = (tempDir("dff-stock-"), tempDir("dff-decided-"))
    GraftSqlBridge.write(Seq(df), stock.resolve("o").toString, "parquet", opts, Nil)
    val made = decisions(GraftSqlBridge.write(Seq(df), decided.resolve("o").toString, "parquet",
      opts, Nil, tokensColumn = Some(tokens)))
    val (s, d) = (parts(stock.resolve("o")), parts(decided.resolve("o")))
    assert(s.nonEmpty && s.size === d.size)
    // part-<partition>-<job uuid>-c<file>: the job uuid differs, the rest pairs the files
    def key(p: Path) = p.getFileName.toString.split("-").toSeq match {
      case prefix +: partition +: rest => (partition, rest.last)
    }
    s.zip(d).foreach { case (a, b) =>
      assert(key(a) === key(b))
      assert(sameBytes(a, b), s"$a and $b differ")
    }
    (s, made)
  }

  /** The rows of parquet file `p`, and whether its `column` chunks use a dictionary. */
  private def footer(p: Path, column: String = "tokens.list.element"): (Long, Boolean) = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(p.toUri), new Configuration()))
    try {
      val chunks = r.getFooter.getBlocks.asScala.toSeq.flatMap(_.getColumns.asScala)
        .filter(_.getPath.toDotString == column)
      (r.getRecordCount, chunks.exists(_.getEncodings.asScala.exists(_.usesDictionary)))
    } finally r.close()
  }

  /** The decisions a write must have made: one per stock file of at most `limit` rows, PLAIN
    * where the stock file has no tokens dictionary. */
  private def expectedDecisions(stock: Seq[Path], limit: Int = RowLimit) = {
    val small = stock.map(footer(_)).filter(_._1 <= limit)
    (small.size.toLong, small.count(!_._2).toLong)
  }

  test("the rule is parquet's own: id bytes and decisions match parquet's writers") {
    val rnd = new scala.util.Random(7)
    val descriptor =
      new ColumnDescriptor(Array("tokens", "list", "element"), PrimitiveTypeName.INT32, 1, 3)
    def parquetKeeps(values: Array[Int], dictionaryPage: Int): Boolean = {
      val w = ParquetProperties.builder().withDictionaryPageSize(dictionaryPage).build()
        .newValuesWriter(descriptor)
      values.foreach(w.writeInteger)
      w.getBytes
      try w.getEncoding.usesDictionary finally w.close()
    }
    // the tie: 1 + 3 id bytes + 12 dictionary bytes = 16 PLAIN bytes, which parquet rejects
    val edges = Seq(Array.empty[Int], Array(5), Array(5, 5), Array(1, 2, 3, 1), Array(1, 2, 3),
      Array.fill(8)(9), Array.fill(9)(9), Array(Int.MinValue, Int.MaxValue, Int.MinValue))
    // runs of equal values up to `maxRun` long, `maxLength` values at most
    def random(cases: Int, maxLength: Int, maxRun: Int) = (1 to cases).map { _ =>
      val vocab = Seq(1, 2, 3, 5, 8, 17, 300, 50304, Int.MaxValue)(rnd.nextInt(9))
      val length = rnd.nextInt(maxLength)
      Iterator.continually {
        val id = rnd.nextInt(vocab)
        Iterator.fill(1 + rnd.nextInt(if (rnd.nextBoolean()) 2 else maxRun))(id)
      }.flatten.take(length).toArray
    }
    // long ones reach bit-packed runs of over 63 groups and RLE counts of over 63
    val cases = edges ++ random(1500, 400, 20) ++ random(200, 4000, 300)
    for (values <- cases) {
      def what = s"${values.length} values: ${values.take(20).mkString(",")}"
      // the id bytes, exactly: parquet's dictionary page is 1 bit-width byte and the ids
      val dictionary = new DictionaryValuesWriter.PlainIntegerDictionaryValuesWriter(1 << 30,
        Encoding.PLAIN_DICTIONARY, Encoding.PLAIN_DICTIONARY, HeapByteBufferAllocator.getInstance)
      values.foreach(dictionary.writeInteger)
      val width = BytesUtils.getWidthFromMaxInt(dictionary.getDictionarySize - 1)
      if (values.nonEmpty)
        assert(TokenEncoding.idBytes(values, width) === dictionary.getBytes.size - 1, what)
      dictionary.close()
      // parquet's own writer cannot encode a dictionary under a page of less than 64 bytes
      for (page <- Seq(ParquetProperties.DEFAULT_DICTIONARY_PAGE_SIZE, 64, 100, 1024))
        assert(TokenEncoding.keepsDictionary(values, page) === parquetKeeps(values, page),
          s"page $page, $what")
    }
    assert(!parquetKeeps(Array(1, 2, 3, 1), 1 << 20) && parquetKeeps(Array(1, 2, 1, 1), 1 << 20))
  }

  test("byte identity across file sizes, token shapes and dictionary page sizes") {
    val df = sweep(spark)
    var expected, made = (0L, 0L)
    // the default dictionary page; 64 bytes, which 16 distinct ids overflow mid-page; and row
    // groups of 40 rows, which lower N to 40 and make every larger file start new row groups
    // while other tasks open files without the dictionary
    for ((opts, limit) <- Seq(options -> RowLimit,
        options + ("parquet.dictionary.page.size" -> "64") -> RowLimit,
        options + ("parquet.block.row.count.limit" -> "40") -> 40)) {
      val (stock, got) = writeBoth(df, opts)
      assert(stock.size === Sweep.size)
      val want = expectedDecisions(stock, limit)
      assert(want._1 === Sweep.count(_._1 <= limit))
      expected = (expected._1 + want._1, expected._2 + want._2)
      made = (made._1 + got._1, made._2 + got._2)
    }
    assert(made === expected)
    // the rule both kept and dropped dictionaries
    assert(expected._2 > 0 && expected._2 < expected._1)
  }

  test("edge paths: an all-empty input, maxRecordsPerFile rolls, a field-ID column") {
    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], SeqSchema.schema)
    val (one, emptyMade) = writeBoth(empty)
    assert(one.size === 1 && footer(one.head)._1 === 0)
    assert(emptyMade === (1L, 1L))

    // one task writing 250 rows rolls files at the cap: 60 → four decided files and a fifth of
    // 10 rows; 101 → two streamed files opened at row 101, then 48 rows decided
    for ((cap, sizes) <- Seq(60 -> Seq(60, 60, 60, 60, 10), 101 -> Seq(101, 101, 48))) {
      val session = spark.newSession()
      session.conf.set("spark.sql.files.maxRecordsPerFile", cap.toLong)
      val (stock, made) = writeBoth(oneTask(session, 250, seed = cap))
      assert(stock.map(footer(_)._1) === sizes.map(_.toLong))
      assert(made === expectedDecisions(stock))
    }

    // a re-added `tokens` column under its generation-unique physical name
    val fid = oneTask(spark, 50, seed = 3).withColumnRenamed("tokens", "_fid7_tokens")
    val (stock, made) = writeBoth(fid, tokens = "_fid7_tokens")
    assert(footer(stock.head, "_fid7_tokens.list.element") === (50L, false))
    assert(made === (1L, 1L))
  }

  test("a task that fails with rows still buffered lands no file and leaves no tmp directory") {
    val t = SeqTable.create(tempDir("dff-fail-").toString + "/t")
    val failing = SeqGen.table(spark, 200, parts = 4).withColumn("n_tok",
      when(col("doc_id") === "doc-0000000030", raise_error(lit("boom"))).otherwise(col("n_tok")))
    intercept[Exception](SeqIO.writeFiles(spark, t, failing))
    assert(!Files.exists(t.dataDir) || SeqTable.listDir(t.dataDir).isEmpty)
    assert(t.liveFiles().isEmpty)
  }

  test("96 template files of 50 rows are all decided, nearly all PLAIN") {
    val t = SeqTable.create(tempDir("dff-96-").toString + "/t")
    var metas = Seq.empty[FileMeta]
    val made = decisions {
      metas = SeqIO.writeFiles(spark, t, SeqGen.table(spark, 4800, parts = 96))
    }
    assert(metas.size === 96 && metas.forall(_.records == 50))
    // a file whose rows reach far into SeqGen's n_tok tail repeats enough ids to keep it
    val plain = metas.count(m => !footer(Paths.get(t.absolutePath(m)))._2)
    assert(made === (96L, plain.toLong))
    assert(plain >= 90)
  }

  test("a clustered write decides exactly its files of at most N rows, which keep the dictionary") {
    val t = SeqTable.create(tempDir("dff-clustered-").toString + "/t")
    var metas = Seq.empty[FileMeta]
    val made = decisions {
      metas = Rewrite.clusteredWrite(spark, t, SeqGen.table(spark, 8000, parts = 8), GridConfig(),
        200, 8000)
    }
    val small = metas.filter(_.records <= RowLimit)
    assert(small.nonEmpty && small.size < metas.size)
    assert(made === (small.size.toLong, 0L))
    assert(small.forall(m => footer(Paths.get(t.absolutePath(m)))._2))
  }

  /** `format`'s writer factory for a job on `opts`, and one task's context. */
  private def writers(format: ParquetFileFormat, opts: Map[String, String] = options)
      : (OutputWriterFactory, TaskAttemptContextImpl) = {
    val job = Job.getInstance(GraftSqlBridge.writeConf(spark, opts))
    val f = format.prepareWrite(spark, job, opts, SeqSchema.schema)
    (f, new TaskAttemptContextImpl(job.getConfiguration,
      new TaskAttemptID("dff", 0, TaskType.MAP, 0, 0)))
  }

  /** `rows` written to a new file `p` by a fresh stock writer. */
  private def stockFile(p: Path, rows: Seq[InternalRow], opts: Map[String, String] = options)
      : Path = {
    val (f, ctx) = writers(new ParquetFileFormat, opts)
    val w = f.newInstance(p.toString, SeqSchema.schema, ctx)
    rows.foreach(w.write)
    w.close()
    p
  }

  private def row(i: Int, tokens: Array[Int]): InternalRow =
    InternalRow(UTF8String.fromString(f"doc-$i%010d"), ArrayData.toArrayData(tokens),
      tokens.length, UTF8String.fromString(s"src${i % 3}"))

  private def sameBytes(a: Path, b: Path): Boolean =
    java.util.Arrays.equals(Files.readAllBytes(a), Files.readAllBytes(b))

  test("a writer buffers at most N rows: a 10,000-row file opens its stock writer at row N+1") {
    val dir = tempDir("dff-single-")
    val rows = (0 until 10000).map(i => row(i, Array.tabulate(12)(j => (i * 31 + j * 7919) % 50304)))
    val decided = dir.resolve("decided.parquet")
    val (f, ctx) = writers(new DataFileFormat(Some("tokens")))
    val made = decisions {
      val w = f.newInstance(decided.toString, SeqSchema.schema, ctx)
      rows.take(RowLimit).foreach(w.write)
      assert(!Files.exists(decided), "the first N rows are buffered")
      w.write(rows(RowLimit))
      assert(Files.exists(decided), "row N+1 opens the stock writer")
      rows.drop(RowLimit + 1).foreach(w.write)
      w.close()
    }
    assert(made === (0L, 0L))
    val stock = stockFile(dir.resolve("stock.parquet"), rows)
    assert(footer(stock)._1 === 10000)
    assert(sameBytes(stock, decided))
  }

  test("a file opened without the dictionary leaves the next row group of another file alone") {
    // row groups of 150 rows: the streaming file starts its second and third after the PLAIN
    // file has opened, and parquet makes their value writers from its JVM-wide factory then
    val opts = options + ("parquet.block.row.count.limit" -> "150")
    val dir = tempDir("dff-rowgroups-")
    val long = (0 until 400).map(i => row(i, Array.tabulate(40)(j => (i + j) % 8)))
    val (f, ctx) = writers(new DataFileFormat(Some("tokens")), opts)
    val streamed = dir.resolve("streamed.parquet")
    val w = f.newInstance(streamed.toString, SeqSchema.schema, ctx)
    long.take(RowLimit + 1).foreach(w.write)
    val plain = f.newInstance(dir.resolve("plain.parquet").toString, SeqSchema.schema, ctx)
    val made = decisions {
      plain.write(row(0, Array.tabulate(200)(j => j * 251)))
      plain.close()
    }
    assert(made === (1L, 1L))
    long.drop(RowLimit + 1).foreach(w.write)
    w.close()
    val stock = stockFile(dir.resolve("stock.parquet"), long, opts)
    assert(footer(stock) === (400L, true))
    assert(sameBytes(stock, streamed))
  }
}

object DataFileFormatSpec {
  /** Parquet's first page-size check, at its default. */
  val RowLimit = 100

  /** How each row's tokens are drawn. */
  sealed trait Shape
  case object SeqGenIds extends Shape // SeqGen's vocabulary: 50,304 ids
  case object Vocab8 extends Shape
  case object Runs extends Shape // runs of 8-15 equal ids
  case object AllDistinct extends Shape // across the whole file, spread over the int range
  case object EmptyArrays extends Shape
  case object NullArrays extends Shape // every other row's array is null
  case object NullElements extends Shape // every fifth element is null
  case object Tie extends Shape // 1,2,3,1 in the first row: dictionary and PLAIN both 16 bytes

  /** One file per (rows, shape): the swept rows per file are 1, 2, 50, N−1, N, N+1 and 500. */
  val Sweep: Vector[(Int, Shape)] = for {
    rows <- Vector(1, 2, 50, RowLimit - 1, RowLimit, RowLimit + 1, 500)
    shape <- Vector(SeqGenIds, Vocab8, Runs, AllDistinct, EmptyArrays, NullArrays, NullElements,
      Tie)
  } yield (rows, shape)

  def tokens(shape: Shape, row: Int, rnd: scala.util.Random): Seq[Any] = {
    def ids(bound: Int) = Seq.fill(16 + rnd.nextInt(100))(rnd.nextInt(bound))
    shape match {
      case SeqGenIds => ids(50304)
      case Vocab8 => ids(8)
      case Runs => Seq.fill(1 + rnd.nextInt(10)) {
        val id = rnd.nextInt(50304)
        Seq.fill(8 + rnd.nextInt(8))(id)
      }.flatten
      case AllDistinct => (0 until 40).map(j => (row * 40 + j) * -1640531535) // odd: a bijection
      case EmptyArrays => Nil
      case NullArrays => if (row % 2 == 0) null else ids(50304)
      case NullElements => ids(8).zipWithIndex.map { case (v, j) => if (j % 5 == 0) null else v }
      case Tie => if (row == 0) Seq(1, 2, 3, 1) else Nil
    }
  }

  private def rowsOf(file: Int, rows: Int, shape: Shape): Iterator[Row] = {
    val rnd = new scala.util.Random(file)
    Iterator.tabulate(rows)(i =>
      Row(f"doc-$file%03d-$i%05d", tokens(shape, i, rnd), i % 4000, s"src${i % 3}"))
  }

  private def df(spark: SparkSession, files: Int)(rows: Int => Iterator[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(0 until files, files).flatMap(rows),
      SeqSchema.schema)

  /** [[Sweep]], one task and one file each. */
  def sweep(spark: SparkSession): DataFrame = df(spark, Sweep.size) { f =>
    val (rows, shape) = Sweep(f)
    rowsOf(f, rows, shape)
  }

  /** `rows` SeqGen-vocabulary rows in one task. */
  def oneTask(spark: SparkSession, rows: Int, seed: Int): DataFrame =
    df(spark, 1)(_ => rowsOf(seed, rows, SeqGenIds))
}
