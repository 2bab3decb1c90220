package graft.table

import java.nio.file.Path
import scala.collection.immutable.ArraySeq
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.parquet.conf.{ParquetConfiguration, PlainParquetConfiguration}
import org.apache.parquet.hadoop.{ParquetReader, ParquetWriter}
import org.apache.parquet.hadoop.api.{InitContext, ReadSupport, WriteSupport}
import org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY
import org.apache.parquet.io.{LocalInputFile, LocalOutputFile}
import org.apache.parquet.io.api._
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.execution.datasources.parquet.SparkToParquetSchemaConverter

/** The one [[FileMeta]] manifest encoding: parquet, read and written on the driver with
  * parquet-mr (no Spark job, no SparkSession). The schema is the one Spark writes for a
  * `Dataset[FileMeta]`, so executors scan the same files with `spark.read.parquet`, and the
  * manifests Spark jobs write ([[SeqIO.rewriteManifestsDistributed]]) read back here. A narrow
  * read requests the file schema minus `docBloom`, so the ~13 KB/file Bloom column is never
  * decoded — the columnar skip a row encoding cannot make.
  */
private[table] object ManifestCodec {
  // the MessageType Spark itself writes for a Dataset[FileMeta]: one derivation, no drift
  private val Schema: MessageType =
    new SparkToParquetSchemaConverter().convert(SeqSchema.fileMetaSchema)

  /** Older builds also wrote JSON-lines manifests. No decoder is kept: naming one fails loudly. */
  def requireParquet(name: String): Unit = require(name.endsWith(".parquet"),
    s"manifest $name is not a parquet manifest, the only FileMeta manifest encoding this reads")

  def write(file: Path, metas: Seq[FileMeta]): Unit = {
    // per-file Bloom bitmaps never repeat: a dictionary for them is wasted work (~40 % of a
    // write). Opened under the data files' lock: the build installs this writer's encodings in
    // parquet's JVM-wide values-writer factory, and its first row group reads them from there
    val out = TokenEncoding.opening.synchronized(new WriterBuilder(file)
      .withConf(new PlainParquetConfiguration()).withCompressionCodec(SNAPPY)
      .withDictionaryEncoding("docBloom", false).build())
    try metas.foreach(out.write) finally out.close()
  }

  def read(file: Path, narrow: Boolean): Vector[FileMeta] = {
    requireParquet(file.getFileName.toString)
    val conf = new PlainParquetConfiguration()
    val r = new ParquetReader.Builder[FileMeta](new LocalInputFile(file), conf) {
      override protected def getReadSupport(): ReadSupport[FileMeta] = new ReadSupport[FileMeta] {
        override def init(ctx: InitContext): ReadSupport.ReadContext = {
          val f = ctx.getFileSchema
          new ReadSupport.ReadContext(if (!narrow) f else new MessageType(f.getName,
            f.getFields.asScala.filterNot(_.getName == "docBloom").asJava))
        }
        def prepareForRead(c: Configuration, kv: java.util.Map[String, String], file: MessageType,
            ctx: ReadSupport.ReadContext): RecordMaterializer[FileMeta] = new Materializer(ctx)
        override def prepareForRead(c: ParquetConfiguration, kv: java.util.Map[String, String],
            file: MessageType, ctx: ReadSupport.ReadContext): RecordMaterializer[FileMeta] =
          new Materializer(ctx)
      }
    }.build()
    try Iterator.continually(r.read()).takeWhile(_ != null).toVector finally r.close()
  }

  /** Builds each entry from the requested columns: no Group objects, half the Group API's time. */
  private final class Materializer(ctx: ReadSupport.ReadContext)
      extends RecordMaterializer[FileMeta] {
    private var path, minDocId, maxDocId, docBloom: String = _
    private var records, bytes, addedAt, minNtok, maxNtok, clustered = 0L
    private val sources = Vector.newBuilder[String]
    private var zoned = false // the sourceZones list is present (an empty one too)
    private val zones = new mutable.ArrayBuilder.ofInt
    private def str(set: String => Unit): Converter = new PrimitiveConverter {
      override def addBinary(v: Binary): Unit = set(v.toStringUsingUTF8)
    }
    private def num(set: Long => Unit): Converter = new PrimitiveConverter {
      override def addLong(v: Long): Unit = set(v)
      override def addInt(v: Int): Unit = set(v)
      override def addBoolean(v: Boolean): Unit = set(if (v) 1L else 0L)
    }
    private def group(child: Int => Converter)(onStart: => Unit): GroupConverter =
      new GroupConverter {
        def getConverter(i: Int): Converter = child(i)
        def start(): Unit = onStart
        def end(): Unit = ()
      }
    private val element = str(sources += _)
    private val list = group(_ => element)(())
    private val zoneElement = num(v => zones += v.toInt)
    private val zoneList = group(_ => zoneElement)(())
    private val fields = ctx.getRequestedSchema.getFields.asScala.map(_.getName match {
      case "path" => str(path = _)
      case "records" => num(records = _)
      case "bytes" => num(bytes = _)
      case "minNtok" => num(minNtok = _)
      case "maxNtok" => num(maxNtok = _)
      case "minDocId" => str(minDocId = _)
      case "maxDocId" => str(maxDocId = _)
      case "sources" => group(_ => list)(()) // LIST → repeated list → element
      case "sourceZones" => group(_ => zoneList) { zoned = true }
      case "addedAt" => num(addedAt = _)
      case "clustered" => num(clustered = _)
      case "docBloom" => str(docBloom = _)
    }).toArray
    private val root = group(fields(_)) {
      path = null; minDocId = null; maxDocId = null; docBloom = null; sources.clear()
      zoned = false; zones.clear()
    }
    def getRootConverter: GroupConverter = root
    def getCurrentRecord: FileMeta = FileMeta(path, records, bytes, minNtok.toInt, maxNtok.toInt,
      minDocId, maxDocId, sources.result(), addedAt, clustered != 0L, Option(docBloom),
      if (zoned) Some(ArraySeq.unsafeWrapArray(zones.result())) else None)
  }

  private final class WriterBuilder(file: Path)
      extends ParquetWriter.Builder[FileMeta, WriterBuilder](new LocalOutputFile(file)) {
    protected def self(): WriterBuilder = this
    protected def getWriteSupport(c: Configuration): WriteSupport[FileMeta] = new Writer
    override protected def getWriteSupport(c: ParquetConfiguration): Writer = new Writer
  }

  /** Emits each entry straight into the RecordConsumer (no intermediate Group objects). */
  private final class Writer extends WriteSupport[FileMeta] {
    private var rc: RecordConsumer = _
    private val context = new WriteSupport.WriteContext(Schema, java.util.Map.of[String, String]())
    def init(c: Configuration): WriteSupport.WriteContext = context
    override def init(c: ParquetConfiguration): WriteSupport.WriteContext = context
    def prepareForWrite(r: RecordConsumer): Unit = rc = r

    private def field(name: String, i: Int)(body: => Unit): Unit = {
      rc.startField(name, i); body; rc.endField(name, i)
    }
    // top-level fields are placed by the derived schema; only the LIST nesting is spelled out
    private def top(name: String)(body: => Unit): Unit =
      field(name, Schema.getFieldIndex(name))(body)
    private def str(name: String, s: String): Unit =
      if (s != null) top(name)(rc.addBinary(Binary.fromString(s)))
    // LIST → repeated list → element; `add` writes one element's value (a null one writes none)
    private def list[A](name: String, xs: Seq[A])(add: A => Unit): Unit = top(name) {
      rc.startGroup()
      if (xs.nonEmpty) field("list", 0)(xs.foreach { x =>
        rc.startGroup()
        if (x != null) field("element", 0)(add(x))
        rc.endGroup()
      })
      rc.endGroup()
    }

    def write(m: FileMeta): Unit = {
      rc.startMessage()
      str("path", m.path)
      top("records")(rc.addLong(m.records))
      top("bytes")(rc.addLong(m.bytes))
      top("minNtok")(rc.addInteger(m.minNtok))
      top("maxNtok")(rc.addInteger(m.maxNtok))
      str("minDocId", m.minDocId)
      str("maxDocId", m.maxDocId)
      list("sources", m.sources)(s => if (s != null) rc.addBinary(Binary.fromString(s)))
      top("addedAt")(rc.addLong(m.addedAt))
      top("clustered")(rc.addBoolean(m.clustered))
      m.docBloom.foreach(str("docBloom", _))
      m.sourceZones.foreach(list("sourceZones", _)(rc.addInteger))
      rc.endMessage()
    }
  }
}
