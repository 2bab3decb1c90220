package org.apache.spark.sql

import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.rdd.{RDD, UnionRDD}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.StructType

/** Minimal accessor for `private[sql]` Column↔Expression plumbing (Spark 4 moved Column onto
  * ColumnNode; `classic.ExpressionUtils` is the sanctioned internal bridge). Lives in the
  * org.apache.spark.sql package purely for visibility — no Spark code is modified.
  */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Re-wrap a batch DataFrame as a STREAMING one (`isStreaming = true`) — what a V1
    * `execution.streaming.Source.getBatch` must return (MicroBatchExecution asserts it).
    * `internalCreateDataFrame` is `private[sql]`; this is the same wrapping FileStreamSource
    * applies to its own per-batch scans. The inner plan is captured lazily (`toRdd` plans but
    * does not execute), so the micro-batch still runs as one whole-stage-codegen'd Spark job.
    */
  def asStreamingDataFrame(df: Dataset[Row]): Dataset[Row] = {
    val c = df.asInstanceOf[classic.Dataset[Row]]
    c.sparkSession.internalCreateDataFrame(c.queryExecution.toRdd, c.schema, isStreaming = true)
  }

  /** The inverse for a V1 `Sink.addBatch` input: the DataFrame Spark hands a sink carries the
    * micro-batch's INCREMENTAL (streaming) plan, on which batch actions like `df.write` are
    * rejected — re-wrap its rows as a plain batch DataFrame (the standard V1-sink pattern).
    */
  def asBatchDataFrame(df: Dataset[Row]): Dataset[Row] = {
    val c = df.asInstanceOf[classic.Dataset[Row]]
    c.queryExecution.logical match {
      // a bare [[asStreamingDataFrame]] wrapper (e.g. a Source.getBatch result inspected
      // outside a running query): flip the leaf back — its own QueryExecution would refuse
      // any batch action (checkForBatch) before toRdd could even plan
      case l: execution.LogicalRDD if l.isStreaming =>
        classic.Dataset.ofRows(c.sparkSession,
          l.copy(isStreaming = false)(c.sparkSession, None, None))
      case _ =>
        c.sparkSession.internalCreateDataFrame(c.queryExecution.toRdd, c.schema,
          isStreaming = false)
    }
  }

  /** Write `sides`, DataFrames of one schema, as `format` (`parquet` or `text`) files under
    * `path` in ONE Spark job, with `trackers` seeing every row the tasks hand the writer. This is
    * what `df.write.options(options).format(format).save(path)` runs underneath —
    * `FileFormatWriter.write` inside a new SQL execution, with the session's file commit
    * protocol — minus the write command around it, so the caller's stats trackers ride along,
    * and with the lean Hadoop conf of [[writeConf]]. Every graft table write, data files and
    * metadata parts alike, goes through here. A parquet write goes through
    * [[graft.table.DataFileFormat]], whose writers open under one JVM-wide lock, and which, given
    * a `tokensColumn` (data files), decides that column's element encoding for files of one
    * parquet page before parquet builds its dictionary; the files are the ones the stock format
    * writes. `sessionState` is `private[sql]`.
    *
    * Each side runs the physical plan it runs when written alone, so it splits into the same
    * tasks and files; the job's tasks are side 0's, then side 1's, and so on (a `UnionRDD`), and
    * the returned counts say how many each side has. Only the column nullability is shared: the
    * files' schema is the union's.
    */
  def write(sides: Seq[Dataset[Row]], path: String, format: String,
      options: Map[String, String], trackers: Seq[execution.datasources.WriteJobStatsTracker],
      tokensColumn: Option[String] = None): Seq[Int] = {
    import execution.datasources.{FileFormat, FileFormatWriter}
    val fileFormat: FileFormat = format match {
      case "parquet" => new graft.table.DataFileFormat(tokensColumn)
      case "text" if tokensColumn.isEmpty => new execution.datasources.text.TextFileFormat
    }
    val union = sides.reduce(_ union _).asInstanceOf[classic.Dataset[Row]]
    val (session, qe) = (union.sparkSession, union.queryExecution)
    val committer = org.apache.spark.internal.io.FileCommitProtocol.instantiate(
      session.sessionState.conf.fileCommitProtocolClass,
      jobId = java.util.UUID.randomUUID().toString, outputPath = path)
    execution.SQLExecution.withNewExecutionId(qe, Some(format)) {
      val rdds = sides.map(_.asInstanceOf[classic.Dataset[Row]].queryExecution.executedPlan)
        .map(_.execute())
      val plan = RowsExec(qe.executedPlan.output, new UnionRDD(session.sparkContext, rdds))
      FileFormatWriter.write(session, plan, fileFormat, committer,
        FileFormatWriter.OutputSpec(path, Map.empty, plan.output),
        writeConf(session, options), Nil, None, trackers, options)
      rdds.map(_.getNumPartitions)
    }
  }

  /** The rows of `rows` as a physical plan with `output`. */
  private final case class RowsExec(output: Seq[catalyst.expressions.Attribute],
      rows: RDD[catalyst.InternalRow]) extends execution.LeafExecNode {
    protected override def doExecute(): RDD[catalyst.InternalRow] = rows
  }

  /** Entries every [[write]] adds to its own Hadoop conf: `file:` paths go through
    * [[graft.table.ForkFreeLocalFileSystem]], which forks no `chmod` process and writes no `.crc`
    * sidecar. With the cache off, the JVM-wide `FileSystem` cache never hands that class to a
    * reader, and since the entries reach only the write's own conf, no session conf is
    * written. */
  val WriteFsOptions: Map[String, String] = Map(
    "fs.file.impl" -> classOf[graft.table.ForkFreeLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")

  /** The Hadoop conf a write hands `FileFormatWriter`, which serializes it into every task: the
    * session's write conf (`newHadoopConfWithOptions`, plus [[WriteFsOptions]]) minus every
    * entry whose last source is a Hadoop `*-default.xml`, values resolved (`${...}` expanded
    * against the full conf). In a local session that is ~25 entries and ~4 KB instead of ~1,100
    * and 112 KB: a 50-row write task's executor deserialize time fell from 15-20 ms to 3 ms
    * (4-core host).
    *
    * No reader of this conf sees an XML default: the tasks rebuild it on
    * `new Configuration(false)`, and the driver-side committer's `Job` is a copy that keeps
    * `loadDefaults = false`. A key left out reads the code default of whatever reads it, or
    * null where there is none (`hadoop.tmp.dir`, `fs.AbstractFileSystem.file.impl`). So the
    * conf is right only for what graft writes with it, local `file:` paths, and only while every
    * key the committer, the parquet and text writers and the local file system read has a code
    * default equal to its XML default; `WriteTaskSpec` checks those keys. A fresh
    * `Configuration`: no session conf is written. */
  def writeConf(spark: SparkSession, options: Map[String, String]): Configuration = {
    val full = spark.asInstanceOf[classic.SparkSession].sessionState
      .newHadoopConfWithOptions(options ++ WriteFsOptions)
    val lean = new Configuration(false)
    full.iterator().asScala.map(_.getKey).foreach { k =>
      val sources = full.getPropertySources(k)
      val fromDefaults = sources != null && sources.last.endsWith("-default.xml")
      if (!fromDefaults) Option(full.get(k)).foreach(lean.set(k, _))
    }
    lean
  }

  /** A parquet scan of files whose absolute paths and byte sizes the caller already knows: the
    * relation `spark.read.schema(schema).parquet(paths)` builds (same nullable schema,
    * `sizeInBytes` and qualified `_metadata.file_path`) minus its `InMemoryFileIndex`, which
    * lists and stats every path again — a Spark job above 32 paths. `FilePartition` splits a
    * scan by the conf of the relation's session only, so a non-empty `splitConf` builds the
    * relation on a clone of `spark` that only this scan reads: the caller's conf is never
    * written, and the query still runs on `spark`. `cloneSession` is `private[sql]`.
    *
    * `metas`, when given, are the files' manifest entries, in `files` order: the scan then opens
    * only the files [[graft.table.SeqIO.mayHold]] keeps for its pushed filters ([[KnownFiles]]).
    */
  def knownFilesParquet(spark: SparkSession, files: Seq[(String, Long)], schema: StructType,
      splitConf: Map[String, String], metas: Seq[graft.table.FileMeta] = Nil): DataFrame = {
    val relationSession =
      if (splitConf.isEmpty) spark
      else {
        val clone = spark.asInstanceOf[classic.SparkSession].cloneSession()
        splitConf.foreach { case (k, v) => clone.sessionState.conf.setConfString(k, v) }
        clone
      }
    val local = FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    val known = KnownFiles(files.map { case (p, bytes) =>
      new Path(p).makeQualified(local.getUri, local.getWorkingDirectory) -> bytes })(metas)
    spark.baseRelationToDataFrame(execution.datasources.HadoopFsRelation(known, StructType(Nil),
      schema.asNullable, None, new KnownFilesFormat(known), Map.empty)(relationSession))
  }

  /** The manifest entries the data-file scans of `df` open: each scan's own pushed filters
    * through [[KnownFiles]]'s rule, as its `listFiles` applies them. Plans `df`; runs nothing. */
  def selectedFiles(df: DataFrame): Seq[graft.table.FileMeta] =
    new execution.adaptive.AdaptiveSparkPlanHelper {}
      .collect(df.asInstanceOf[classic.Dataset[Row]].queryExecution.executedPlan) {
        case s: execution.FileSourceScanExec => s.relation.location match {
          case k: KnownFiles => k.select(s.dataFilters).flatMap(_._2)
          case _ => Nil
        }
      }.flatten.distinct

  /** A `FileIndex` over fixed (qualified path, bytes) pairs: no listing, no stat (so the
    * modification time reads 0). With the files' manifest entries `metas` (data files), a
    * listing keeps only the files [[graft.table.SeqIO.mayHold]] keeps for the scan's data
    * filters; without them (manifests) it keeps every file. */
  private final case class KnownFiles(files: Seq[(Path, Long)])(
      metas: Seq[graft.table.FileMeta]) extends execution.datasources.FileIndex {
    import execution.datasources.{FileStatusWithMetadata, PartitionDirectory}
    private lazy val statuses = files.map { case (p, bytes) =>
      FileStatusWithMetadata(new org.apache.hadoop.fs.FileStatus(bytes, false, 1, 0L, 0L, p)) }
    @volatile private var selected = files.size // of the latest listing, for toString

    /** The kept files' statuses, each with its manifest entry (none for manifests). */
    def select(dataFilters: Seq[Expression])
        : Seq[(FileStatusWithMetadata, Option[graft.table.FileMeta])] = {
      val kept =
        if (metas.isEmpty) statuses.map(_ -> None)
        else {
          val mayHold = graft.table.SeqIO.mayHold(dataFilters)
          statuses.zip(metas).collect { case (s, m) if mayHold(m) => s -> Some(m) }
        }
      selected = kept.size
      kept
    }
    def rootPaths: Seq[Path] = files.map(_._1)
    def listFiles(partitionFilters: Seq[Expression], dataFilters: Seq[Expression])
        : Seq[PartitionDirectory] =
      Seq(PartitionDirectory(catalyst.InternalRow.empty, select(dataFilters).map(_._1)))
    def inputFiles: Array[String] = files.map(_._1.toString).toArray
    def refresh(): Unit = ()
    def sizeInBytes: Long = files.map(_._2).sum
    def partitionSchema: StructType = StructType(Nil)
    override def toString: String = s"KnownFiles($selected/${files.size} files)"
  }

  /** Parquet, named in a plan's `Format` entry with its index's latest selection, so `EXPLAIN`
    * shows how many of the known files a scan opens. */
  private final class KnownFilesFormat(@transient index: KnownFiles)
      extends execution.datasources.parquet.ParquetFileFormat {
    override def toString: String = s"Parquet $index"
  }
}
