package graft.table

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.mapreduce.{Job, TaskAttemptContext}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.bytes.BytesUtils
import org.apache.parquet.column.ParquetProperties
import org.apache.parquet.hadoop.ParquetOutputFormat
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  SparkToParquetSchemaConverter}
import org.apache.spark.sql.types.{ArrayType, IntegerType, StructType}

/** The parquet format of graft's table files: the stock `ParquetFileFormat`, except that its
  * writers open under [[TokenEncoding.opening]], since parquet takes value encodings from a
  * JVM-wide factory, and that a data file small enough to be one parquet page decides its
  * `tokensColumn` element encoding before parquet builds a dictionary for it.
  *
  * Parquet dictionary-encodes an INT32 column's first page and, when the page is done, keeps the
  * dictionary only if it came out smaller than PLAIN; otherwise it re-encodes every value PLAIN.
  * On SeqGen rows (token ids spread over a 50,304-id vocabulary) that is the fate of nearly every
  * file of a few dozen rows, and the dictionary's hash map plus the re-encode were half of such a
  * write task's CPU. Each file's writer here keeps copies of its first rows, up to
  * [[TokenEncoding.rowsBeforeFirstCheck]], before which parquet neither flushes a page nor a row
  * group. A file that outgrows that opens the stock writer with the unchanged conf, replays the
  * rows and streams: parquet decides as always. A file that closes within it is exactly one
  * page, and [[TokenEncoding.keepsDictionary]] applies parquet's own first-page rule to its
  * values; where the dictionary would lose, the stock writer opens on a copy of the task conf
  * with that one column's dictionary off. Either way the file's bytes are the stock writer's.
  * Without a `tokensColumn` (manifest parts) only the lock applies.
  */
class DataFileFormat(tokensColumn: Option[String]) extends ParquetFileFormat {
  override def prepareWrite(spark: SparkSession, job: Job, options: Map[String, String],
      dataSchema: StructType): OutputWriterFactory = {
    val stock = super.prepareWrite(spark, job, options, dataSchema)
    val conf = job.getConfiguration // what every task of the job reads
    val ord = tokensColumn.fold(-1)(dataSchema.fieldNames.indexOf(_))
    val intArray = ord >= 0 && (dataSchema(ord).dataType match {
      case ArrayType(IntegerType, _) => true
      case _ => false
    })
    // the element's column path as the parquet writer lays the array out (`<c>.list.element`,
    // or the legacy `<c>.bag.array`)
    lazy val dictionaryKey = ParquetOutputFormat.ENABLE_DICTIONARY + "#" +
      new SparkToParquetSchemaConverter(conf).convert(StructType(Seq(dataSchema(ord))))
        .getColumns.get(0).getPath.mkString(".")
    if (intArray && conf.getBoolean(dictionaryKey, ParquetOutputFormat.getEnableDictionary(conf)))
      new DecidingWriterFactory(stock, ord, dictionaryKey,
        TokenEncoding.rowsBeforeFirstCheck(conf), ParquetOutputFormat.getDictionaryPageSize(conf))
    else new LockedWriterFactory(stock)
  }
}

/** The stock writers, opened under [[TokenEncoding.opening]]. */
private final class LockedWriterFactory(stock: OutputWriterFactory) extends OutputWriterFactory {
  override def getFileExtension(context: TaskAttemptContext): String =
    stock.getFileExtension(context)

  override def newInstance(file: String, dataSchema: StructType,
      context: TaskAttemptContext): OutputWriter =
    TokenEncoding.opening.synchronized(stock.newInstance(file, dataSchema, context))
}

/** Writers that decide the dictionary of the INT32 elements at `ordinal` for files of at most
  * `rowLimit` rows; `dictionaryKey` is that column's `parquet.enable.dictionary#<path>`. */
private final class DecidingWriterFactory(stock: OutputWriterFactory, ordinal: Int,
    dictionaryKey: String, rowLimit: Int, maxDictionaryBytes: Int) extends OutputWriterFactory {
  override def getFileExtension(context: TaskAttemptContext): String =
    stock.getFileExtension(context)

  override def newInstance(file: String, dataSchema: StructType,
      context: TaskAttemptContext): OutputWriter = new OutputWriter {
    private val buffered = new ArrayBuffer[InternalRow]
    private var out: OutputWriter = _

    private def open(ctx: TaskAttemptContext): Unit = {
      out = TokenEncoding.opening.synchronized {
        val w = stock.newInstance(file, dataSchema, ctx)
        if (ctx ne context) TokenEncoding.installValuesWriters(context.getConfiguration)
        w
      }
      buffered.foreach(out.write)
      buffered.clear()
    }

    override def write(row: InternalRow): Unit =
      if (out != null) out.write(row)
      else if (buffered.size < rowLimit) buffered += row.copy() // the caller reuses `row`
      else { open(context); out.write(row) }

    override def close(): Unit = {
      if (out == null) {
        val keep = TokenEncoding.keepsDictionary(elements, maxDictionaryBytes)
        TokenEncoding.decidedFiles.incrementAndGet()
        if (keep) open(context)
        else {
          TokenEncoding.plainFiles.incrementAndGet()
          val conf = new Configuration(context.getConfiguration)
          conf.setBoolean(dictionaryKey, false)
          open(new TaskAttemptContextImpl(conf, context.getTaskAttemptID))
        }
      }
      out.close()
    }

    override def path(): String = file

    /** The buffered rows' non-null elements, in the order parquet writes them. */
    private def elements: Array[Int] = {
      var total = 0
      buffered.foreach(r => if (!r.isNullAt(ordinal)) total += r.getArray(ordinal).numElements)
      val values = new Array[Int](total)
      var n = 0
      var r = 0
      while (r < buffered.length) { // no closure: `n` stays a local
        if (!buffered(r).isNullAt(ordinal)) {
          val a = buffered(r).getArray(ordinal)
          val size = a.numElements
          var i = 0
          while (i < size) {
            if (!a.isNullAt(i)) { values(n) = a.getInt(i); n += 1 }
            i += 1
          }
        }
        r += 1
      }
      if (n == total) values else java.util.Arrays.copyOf(values, n)
    }
  }
}

/** Parquet's first-page dictionary rule for INT32 values, applied before the dictionary exists. */
private[graft] object TokenEncoding {
  /** Files whose encoding [[DataFileFormat]] decided from its buffer, and those of them it wrote
    * without the dictionary (this JVM's writers, for tests). */
  val decidedFiles = new AtomicLong
  val plainFiles = new AtomicLong

  /** Held while a [[DataFileFormat]] writer opens. Parquet's writers take their value encodings
    * from one JVM-wide factory (`ParquetProperties.DEFAULT_VALUES_WRITER_FACTORY`), which every
    * `ParquetProperties.Builder.build` re-initializes with the properties it just built, and a
    * writer reads it whenever it starts a row group. So a writer opened on a conf without the
    * tokens dictionary would hand that setting to any writer that starts a row group before the
    * next build. Under this lock a writer's properties and its first row group's value writers
    * are made together, and a file opened without the dictionary re-installs the job's own
    * settings ([[installValuesWriters]]) before the lock is released. */
  val opening = new Object

  /** Re-initializes parquet's JVM-wide values-writer factory with what `conf` sets for it, read
    * as `ParquetOutputFormat` reads it: page and dictionary page sizes, writer version, and the
    * global and per-column dictionary switches. */
  def installValuesWriters(conf: Configuration): Unit = {
    val perColumn = ParquetOutputFormat.ENABLE_DICTIONARY + "#"
    val b = ParquetProperties.builder()
      .withPageSize(ParquetOutputFormat.getPageSize(conf))
      .withDictionaryPageSize(ParquetOutputFormat.getDictionaryPageSize(conf))
      .withDictionaryEncoding(ParquetOutputFormat.getEnableDictionary(conf))
      .withWriterVersion(ParquetOutputFormat.getWriterVersion(conf))
    conf.iterator.asScala.map(_.getKey).filter(_.startsWith(perColumn)).foreach(k =>
      b.withDictionaryEncoding(k.substring(perColumn.length), conf.getBoolean(k, false)))
    b.build()
  }

  /** The rows parquet writes before its first page-size check (`parquet.page.size.row.check
    * .min`), its page row limit and its row-group row limit, whichever comes first. A file of at
    * most that many rows is one row group of one page per column. */
  def rowsBeforeFirstCheck(conf: Configuration): Int = Seq(
    ParquetOutputFormat.getMinRowCountForPageSizeCheck(conf),
    conf.getInt(ParquetOutputFormat.PAGE_ROW_COUNT_LIMIT,
      ParquetProperties.DEFAULT_PAGE_ROW_COUNT_LIMIT),
    conf.getInt(ParquetOutputFormat.BLOCK_ROW_COUNT_LIMIT,
      ParquetProperties.DEFAULT_ROW_GROUP_ROW_COUNT_LIMIT)).min

  /** Whether parquet keeps the dictionary of an INT32 column chunk whose one page holds
    * `values`, its non-null values in order. Parquet's `DictionaryValuesWriter` falls back to
    * PLAIN as soon as the dictionary outgrows `maxDictionaryBytes` (`shouldFallBack`: 4 bytes per
    * distinct value), and at the end of the first page keeps it only if one bit-width byte, the
    * RLE/bit-packed dictionary ids and the dictionary come to fewer bytes than PLAIN's 4 per
    * value (`isCompressionSatisfying`). The ids' encoded size depends only on where consecutive
    * values repeat and on the bit width of the largest id, distinct − 1 ([[idBytes]]). */
  def keepsDictionary(values: Array[Int], maxDictionaryBytes: Int): Boolean =
    values.nonEmpty && {
      val distinct = distinctCount(values)
      val idBudget = 4L * values.length - 1 - 4L * distinct // bytes the ids must stay under
      4L * distinct <= maxDictionaryBytes && idBudget > 0 &&
        idBytes(values, BytesUtils.getWidthFromMaxInt(distinct - 1)) < idBudget
    }

  /** The bytes parquet's `RunLengthBitPackingHybridEncoder` writes for the dictionary ids of
    * `values` at `bitWidth`, counted by following its state machine instead of encoding. It packs
    * ids 8 at a time, `bitWidth` bytes a group, under a 1-byte header per run of at most 63
    * groups; 8 or more equal ids in a row since its last group become one RLE run instead (a
    * varint of twice the count, then the id in whole bytes). Where consecutive values repeat is
    * all it depends on. `DataFileFormatSpec` checks the count against parquet's own writer. */
  private[table] def idBytes(values: Array[Int], bitWidth: Int): Long = {
    val encoder = new EncoderBytes(bitWidth)
    var i = 0
    while (i < values.length) {
      encoder.add(sameAsPrevious = i > 0 && values(i) == values(i - 1))
      i += 1
    }
    encoder.finish()
  }

  /** `RunLengthBitPackingHybridEncoder`'s state, counting the bytes it would write. */
  private final class EncoderBytes(bitWidth: Int) {
    private var bytes = 0L
    private var repeats = 0 // the encoder's repeatCount
    private var buffered = 0 // ids not yet in a group or run
    private var groups = 0 // groups in the open bit-packed run, 0 when none is open

    def add(sameAsPrevious: Boolean): Unit = {
      if (sameAsPrevious) repeats += 1
      else {
        if (repeats >= 8) rleRun()
        repeats = 1
      }
      if (repeats < 8) {
        buffered += 1
        if (buffered == 8) packGroup()
      }
    }

    def finish(): Long = {
      if (repeats >= 8) rleRun() else if (buffered > 0) packGroup()
      bytes
    }

    private def packGroup(): Unit = {
      if (groups == 0 || groups == 63) { bytes += 1; groups = 0 } // a new run's header
      bytes += bitWidth
      groups += 1
      buffered = 0
      repeats = 0
    }

    private def rleRun(): Unit = {
      bytes += (38 - Integer.numberOfLeadingZeros(repeats << 1)) / 7 + (bitWidth + 7) / 8
      groups = 0
      buffered = 0
      repeats = 0
    }
  }

  /** Distinct values: a bit set over [min, max] when that costs at most 8 bytes per value (plus
    * 8 KB), as token ids from one vocabulary do; a sorted copy otherwise. */
  private def distinctCount(values: Array[Int]): Int = {
    var (min, max, i) = (values(0), values(0), 1)
    while (i < values.length) {
      if (values(i) < min) min = values(i)
      if (values(i) > max) max = values(i)
      i += 1
    }
    val span = max.toLong - min + 1
    var distinct = 0
    if (span <= math.min(64L * values.length + 65536, Int.MaxValue)) {
      val bits = new Array[Long](((span + 63) >>> 6).toInt)
      i = 0
      while (i < values.length) {
        val o = values(i) - min // < span ≤ Int.MaxValue
        bits(o >>> 6) |= 1L << o
        i += 1
      }
      i = 0
      while (i < bits.length) {
        distinct += java.lang.Long.bitCount(bits(i))
        i += 1
      }
    } else {
      val sorted = values.clone()
      java.util.Arrays.sort(sorted)
      distinct = 1
      i = 1
      while (i < sorted.length) {
        if (sorted(i) != sorted(i - 1)) distinct += 1
        i += 1
      }
    }
    distinct
  }
}
