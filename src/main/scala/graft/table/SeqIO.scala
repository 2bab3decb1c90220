package graft.table

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.network.util.JavaUtils
import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Attribute, BinaryComparison, Expression, In,
  InSet, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.Timing.timed

object SeqSchema {
  val schema: StructType = StructType(Seq(
    StructField("doc_id", StringType),
    StructField("tokens", ArrayType(IntegerType)),
    StructField("n_tok", IntegerType),
    StructField("source", StringType)))

  /** Manifest-entry schema (derived from [[FileMeta]]) for reading manifests as a Dataset. */
  val fileMetaSchema: StructType = org.apache.spark.sql.Encoders.product[FileMeta].schema

  /** Field-metadata key carrying a renamed column's FORMER physical names, most recent first.
    * RENAME COLUMN is metadata-only: writers always use current names, so a table's data files
    * physically hold whichever name was current when each was written; readers reconcile by
    * requesting every name in the history and taking the first physically-present one
    * (Iceberg pins identity with field IDs — this is the same contract with the history
    * serialized INSIDE `schema.json`, so every snapshot pairs its schema with its own history
    * and time travel needs no side lookup).
    */
  val FormerNamesKey = "graft.formerNames"

  def formerNames(f: StructField): Seq[String] =
    if (f.metadata.contains(FormerNamesKey)) f.metadata.getStringArray(FormerNamesKey).toSeq
    else Nil

  def withFormerNames(f: StructField, names: Seq[String]): StructField =
    f.copy(metadata = new MetadataBuilder().withMetadata(f.metadata)
      .putStringArray(FormerNamesKey, names.toArray).build())

  /** Field-metadata key carrying a column's PHYSICAL name when it differs from the logical one —
    * the field-ID indirection that makes RE-ADDING a dropped name safe (Iceberg resolves columns
    * by numeric field ID baked into each data file; this format can't stamp plain parquet files,
    * so the ID lives in the physical COLUMN NAME instead: a re-added column writes
    * `_fid<N>_<name>`, unique forever via the monotonic `schema.next-field-id` table property).
    * Old files' physical `<name>` column belongs to the DEAD generation and is simply never
    * requested — no per-file conditionals, no resurrection. Writers map logical→physical at the
    * write boundary ([[SeqIO.writeFiles]]); readers request physical names and alias back.
    */
  val PhysicalNameKey = "graft.physicalName"

  def physicalName(f: StructField): String =
    if (f.metadata.contains(PhysicalNameKey)) f.metadata.getString(PhysicalNameKey) else f.name

  def withPhysicalName(f: StructField, physical: String): StructField =
    f.copy(metadata = new MetadataBuilder().withMetadata(f.metadata)
      .putString(PhysicalNameKey, physical).build())

  /** Every name a schema has ever answered to (current + physical + former), lowercased — the
    * namespace add/rename must stay clear of: re-using a historical physical name would let the
    * former-name fallback pick up unrelated values from files written under the old meaning.
    */
  def historicalNames(schema: StructType): Set[String] =
    schema.fields.flatMap(f => f.name.toLowerCase +: physicalName(f).toLowerCase +:
      formerNames(f).map(_.toLowerCase)).toSet

  /** Refuse input columns matching a RENAMED column's former name — the shared guard of every
    * write surface (append/stage/stream conform, merge change-set normalization): the
    * name-based null-fill would otherwise silently drop the stale producer's values.
    */
  def requireNoStaleNames(schema: StructType, columns: Iterable[String], ctx: String): Unit = {
    val renamedTo = schema.fields.flatMap(f =>
      formerNames(f).map(n => n.toLowerCase -> f.name)).toMap
    val stale = columns.map(_.toLowerCase).toSet.intersect(renamedTo.keySet)
    require(stale.isEmpty, s"$ctx uses renamed column name(s): " +
      stale.toSeq.sorted.map(n => s"'$n' (now '${renamedTo(n)}')").mkString(", "))
  }
}

/** Spark-side write/read for [[SeqTable]].
  *
  * The writer collects each file's manifest stats (records, min/max, sources, source zones,
  * doc_id Bloom) inside the write tasks, as the rows stream to the parquet writer
  * ([[FileStatsTracker]]) — one Spark job per write, no second scan of the files it just wrote
  * (Delta's `DeltaJobStatisticsTracker` and Iceberg's `SparkWrite` commit messages work the same
  * way).
  */
object SeqIO {

  /** Max distinct sources tracked per file before stats degrade to "unknown" (no source pruning). */
  val MaxSourcesTracked = 12

  /** Write options of the data files of a table whose current schema has `fields`: zstd, and
    * no parquet dictionary for `doc_id`, keyed by its physical column path so that a column
    * under a field-ID name is covered. Document ids are unique, so parquet would build that
    * dictionary in every file only to find it no smaller than the data and write the pages
    * PLAIN. Every other column keeps parquet's default. The `tokens` element's dictionary pays
    * off on files of a few hundred rows and more (PLAIN measured 10-21% more bytes from 500 to
    * 40 000 SeqGen rows per file) but not on a few dozen; `writeFiles` hands the write
    * [[DataFileFormat]], which decides it per file, before it is built, with parquet's own
    * rule, wherever the file is one parquet page. */
  private[graft] def dataFileOptions(fields: Seq[StructField]): Map[String, String] =
    Map("compression" -> "zstd") ++ fields.find(_.name == "doc_id").map(f =>
      s"parquet.enable.dictionary#${SeqSchema.physicalName(f)}" -> "false")

  /** Write `df` (seq schema) as new data files of the table and return their manifest entries.
    * The caller controls file layout (partitioning/sort) on `df` BEFORE calling; this function only
    * materializes + collects stats. Nothing is committed here.
    */
  def writeFiles(spark: SparkSession, table: SeqTable, df: DataFrame,
      clustered: Boolean = false): Seq[FileMeta] = writeFiles(spark, table, Seq(df -> clustered))

  /** Write several DataFrames as ONE write: one Spark job, one commit protocol, one staging
    * directory ([[GraftSqlBridge.write]]). Each side is split into tasks and files as it
    * would be written alone; its files come back after the files of the sides before it, each
    * flagged with its side's `clustered`. A failure anywhere leaves no file of any side.
    */
  def writeFiles(spark: SparkSession, table: SeqTable,
      sides: Seq[(DataFrame, Boolean)]): Seq[FileMeta] = {
    // FULL UUID: data-file basenames must be globally unique by construction — DV manifests
    // target files BY BASENAME, and after an expired file's physical deletion a later batch
    // reusing a truncated-entropy name would let a carried dead-target bitmap silently hide
    // rows of the unrelated new file (round-7 review). 122 bits closes that for good.
    val batch = java.util.UUID.randomUUID().toString
    val tmp = table.dataDir.resolve(s".tmp-$batch")
    // CHECK constraints gate every physical row write right here (the single write boundary):
    // a violating row fails the write loudly before any file lands. Rewrites of existing rows
    // re-evaluate too — one codegen predicate per row, and the add-time validation already
    // established the invariant for them (cheap insurance, not the primary defense)
    val cs = graft.ops.Constraints.of(table.currentSnapshot())
    def checked(df: DataFrame) = if (cs.isEmpty) df else graft.ops.Constraints.enforced(df, cs)
    // the table's CURRENT schema decides the physical column set: evolved columns ride along
    // through every rewrite, so the stats tracker finds the core columns by their ordinals here.
    // Logical→PHYSICAL name mapping happens here, the single write boundary: a re-added column
    // lands under its generation-unique physical name (see [[SeqSchema.PhysicalNameKey]])
    val fields = table.currentSchema().fields.toSeq
    val tracker = new FileStatsTracker(fields.indexWhere(_.name == "doc_id"),
      fields.indexWhere(_.name == "n_tok"), fields.indexWhere(_.name == "source"))
    val rootP = Paths.get(table.root).toAbsolutePath.normalize
    var moved = List.empty[Path]
    // a failed write (or move) leaves nothing behind: no tmp directory, no moved file
    try {
      // zstd, explicitly (guide §6): smaller than snappy at similar read speed — and on this
      // engine's token-array payloads the snappy writer path measured 2-4× SLOWER than zstd for
      // the same bytes (writebench: snappy-dict ≥3.5 s vs zstd-dict ~1.6-2.2 s per 200k-row
      // write, dictionary-encoded size identical). Every maintenance row funnels through this
      // write, so the codec and the dictionary choice (dataFileOptions) are pinned here rather
      // than left to the session default.
      // The write's own local FS (GraftSqlBridge.WriteFsOptions) sets file modes with a system
      // call, where the stock one forks three `chmod`s per data file without Hadoop's native
      // library, and writes no `.crc` sidecar for the tmp-tree delete below to throw away.
      val parts = timed("writeFiles/write")(GraftSqlBridge.write(
        sides.map { case (df, _) =>
          checked(df).select(fields.map(f => col(f.name).as(SeqSchema.physicalName(f))): _*)
        },
        tmp.toString, "parquet", dataFileOptions(fields), Seq(tracker),
        tokensColumn = fields.find(_.name == "tokens").map(SeqSchema.physicalName)))
      // each job partition's side flag: side 0's partitions come first, then side 1's, …
      val clusteredAt = parts.zip(sides).flatMap { case (n, (_, c)) => Seq.fill(n)(c) }
      val written = SeqTable.listDir(tmp)
        .filter(p => p.getFileName.toString.endsWith(".parquet"))
        .map(p => p -> tracker.files(p.getFileName.toString))
        .sortBy { case (p, s) => (s.partition, p.getFileName.toString) }
      // physically-empty part files (an all-empty input still writes one) get no manifest entry
      written.filter(_._2.records == 0).foreach(w => Files.delete(w._1))
      written.filter(_._2.records > 0).zipWithIndex.map { case ((p, s), i) =>
        val dst = table.dataDir.resolve(f"$batch-$i%05d.parquet")
        Files.move(p, dst)
        moved ::= dst
        require(s.minNtok <= s.maxNtok, s"data file $dst has no non-null n_tok")
        FileMeta(
          path = rootP.relativize(dst.toAbsolutePath.normalize).toString,
          records = s.records,
          bytes = Files.size(dst),
          minNtok = s.minNtok, maxNtok = s.maxNtok,
          minDocId = s.minDocId, maxDocId = s.maxDocId,
          sources = if (s.sources.size > MaxSourcesTracked) Nil else s.sources, // Nil = unknown
          addedAt = -1L,
          clustered = clusteredAt(s.partition),
          docBloom = Some(DocBloom.encode(s.docBloom)),
          sourceZones = Some(s.sourceZones))
      }
    } catch { case e: Throwable => moved.foreach(Files.deleteIfExists(_)); throw e }
    finally deleteTree(tmp) // _SUCCESS, an aborted job's remnants
  }

  /** Read an explicit set of data files under `schema` (default: the base schema). Files
    * written before an add-column lack the field physically and null-fill (name-based
    * reconciliation — parquet missing-column handling). A RENAMED column ([[SeqSchema
    * .formerNames]]) is requested under its current AND every former physical name — each file
    * holds exactly one of them (writers always write the names current at write time), the rest
    * null-fill, and the first physically-present one wins per file. The per-file winner is
    * decided by which twin column the file carries, so a legitimately-NULL value in a new-name
    * file cannot fall through to an old-name value: the old name isn't IN that file.
    * Nothing is listed or stat'ed ([[scanParquet]]: `FileMeta.bytes` is the size recorded at
    * write time); a data file missing on disk fails the query when it runs, naming the file.
    */
  def readFiles(spark: SparkSession, table: SeqTable, metas: Seq[FileMeta],
      schema: StructType = SeqSchema.schema, shape: ScanShape = ScanShape.Default): DataFrame = {
    if (metas.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    // logical == physical and no rename history → plain pruned scan, no projection layer
    val mapped = schema.fields.exists(f =>
      SeqSchema.formerNames(f).nonEmpty || SeqSchema.physicalName(f) != f.name)
    // request each field under its PHYSICAL name plus every former physical name; a re-added
    // column's dead-generation twin (the plain old name in pre-drop files) is never in this
    // set, so its stale values are unreachable by construction
    val physical = if (!mapped) schema else StructType(schema.fields.flatMap { f =>
      StructField(SeqSchema.physicalName(f), f.dataType, nullable = true) +:
        SeqSchema.formerNames(f).map(n => StructField(n, f.dataType, nullable = true))
    })
    val scan = scanParquet(spark, metas.map(m => table.absolutePath(m) -> m.bytes), physical, shape,
      metas)
    if (!mapped) scan
    else scan.select(schema.fields.map { f =>
      val chain = (SeqSchema.physicalName(f) +: SeqSchema.formerNames(f)).map(col)
      (if (chain.size > 1) coalesce(chain: _*) else chain.head).as(f.name)
    }.toSeq: _*)
  }

  /** How a scan splits its file set into tasks ([[scanParquet]] decides the split). */
  private[graft] sealed trait ScanShape
  private[graft] object ScanShape {
    /** The session's split: query reads. */
    case object Default extends ScanShape
    /** ~3 tasks per core over a backlog of small files (compaction, delete materialization):
      * the default 128 MB split + 4 MB open cost packs ~25 of them per task — the bench backlog
      * scanned with ~17 tasks on 32 cores, idling half the machine through the map stage. */
    case object SmallFiles extends ScanShape
    /** One file per task: MERGE's COW survivors, so each output file is a subset of one input
      * file and its min/max stats stay tight. A file larger than the split still splits. */
    case object FilePerTask extends ScanShape
  }

  /** The one scan of graft's own parquet files, data files and manifests alike, from known
    * (absolute path, bytes) pairs ([[GraftSqlBridge.knownFilesParquet]]), and the one place that
    * decides how a file set splits into tasks. The session conf is never written. A data-file
    * scan passes its files' manifest entries `metas`, so it opens only the files [[mayHold]]
    * keeps for the filters Spark pushes into it; a manifest scan passes none. */
  private def scanParquet(spark: SparkSession, files: Seq[(String, Long)], schema: StructType,
      shape: ScanShape, metas: Seq[FileMeta] = Nil): DataFrame = {
    def bytes(key: String) = JavaUtils.byteStringAsBytes(spark.conf.get(s"spark.sql.files.$key"))
    val (maxSplit, openCost) = (bytes("maxPartitionBytes"), bytes("openCostInBytes"))
    val splitConf: Map[String, String] = shape match {
      case ScanShape.Default => Map.empty
      case ScanShape.SmallFiles =>
        // derived from the input, never a constant, and it only ever lowers the split
        val effective = files.map(_._2).sum + files.size.toLong * openCost
        val targetTasks = 3L * math.max(1, spark.sparkContext.defaultParallelism)
        val split = math.max(16L << 20, effective / targetTasks)
        if (split >= maxSplit) Map.empty
        else Map("spark.sql.files.maxPartitionBytes" -> split.toString)
      case ScanShape.FilePerTask => Map("spark.sql.files.openCostInBytes" -> maxSplit.toString)
    }
    GraftSqlBridge.knownFilesParquet(spark, files, schema, splitConf, metas)
  }

  /** Broadcast ceiling for the delete-key side of the MoR anti-join; larger delete sets fall back
    * to a shuffle join (a 100-TB merge batch can carry more keys than any executor should hold).
    */
  val DeleteBroadcastMaxBytes: Long = 64L * 1024 * 1024

  /** The snapshot's EQUALITY-delete manifests (`.keys` files) — the anti-join family. */
  def keyManifestsOf(snap: Snapshot): Seq[String] = snap.deleteManifests.filter(_.endsWith(".keys"))

  /** The snapshot's POSITION deletion-vector manifests (`.dv` files — see [[Dv]]). Both families
    * share the `deleteManifests` lifecycle (carry-forward, expiry, planned-manifest conflict
    * fences); only the read-time application differs.
    */
  def dvManifestsOf(snap: Snapshot): Seq[String] = snap.deleteManifests.filter(_.endsWith(".dv"))

  /** One relation holding every outstanding equality-delete key of `snap`:
    * (_del_key, _del_seq) — ONE multi-path text scan; the sequence number is parsed from the
    * manifest file name via the scan-attached `_metadata.file_path` column.
    */
  def deletesDF(spark: SparkSession, table: SeqTable, snap: Snapshot): DataFrame = {
    val paths = keyManifestsOf(snap).map(table.deleteManifestPath)
    if (paths.isEmpty) { // snapshots can carry ONLY .dv manifests — no key relation then
      import spark.implicits._
      return Seq.empty[(String, Long)].toDF("_del_key", "_del_seq")
    }
    // anchor the sequence-number parse to the BASENAME: matching the full path would let a table
    // rooted under any directory named like 'delete-<digits>-…' stamp every manifest with the
    // directory's digits and silently mis-apply deletes. Unparseable names fail loudly.
    val base = element_at(split(col("_metadata.file_path"), "/"), -1)
    val seqStr = regexp_extract(base, "^delete-([0-9]+)-", 1)
    spark.read.textFile(paths: _*)
      .select(col("value").as("_del_key"),
        when(seqStr === "", raise_error(concat(lit("unparseable delete manifest name: "), base)))
          .otherwise(seqStr.cast("long")).as("_del_seq"))
  }

  /** Delete-aware read of `metas`: merge-on-read equality deletes with sequence s hide rows of
    * files with addedAt < s; position deletion vectors hide their file's row ordinals outright
    * (a DV is pinned to one immutable file — no sequence algebra needed).
    *
    * ONE parquet scan over all files (r01 built one scan per addedAt group, so plan size grew with
    * every MoR commit and file packing within a scan was lost); each row's addedAt is re-attached
    * by joining the scan-attached `_metadata.file_path` basename against the manifest entries —
    * metadata columns cannot be detached from their scan (unlike input_file_name()). Delete keys
    * broadcast below [[DeleteBroadcastMaxBytes]], else shuffle anti-join. DVs apply FIRST and as
    * a codegen'd per-row bitmap probe ([[DvHiddenExpr]]) — no join in the plan at all below
    * [[DeleteBroadcastMaxBytes]] of encoded bitmap. No-join fast path when the snapshot carries
    * no deletes.
    *
    * `keepPos` retains the scan position columns `_fn` (file basename) and `_pos`
    * (`_metadata.row_index`) in the output — the DV writers' victim scans need them. `shape`
    * splits the data-file scan ([[ScanShape]]).
    */
  def readWithDeletes(spark: SparkSession, table: SeqTable, snap: Snapshot,
      metas: Seq[FileMeta], maxBroadcastBytes: Long = DeleteBroadcastMaxBytes,
      schema: StructType = null, keepPos: Boolean = false,
      shape: ScanShape = ScanShape.Default): DataFrame = {
    val sch = Option(schema).getOrElse(table.schemaOf(snap)) // default: the snapshot's schema
    if (metas.isEmpty) { // a fully-pruned scan still owes keepPos callers the position columns
      val base = readFiles(spark, table, Nil, sch)
      return if (!keepPos) base
        else base.withColumn("_fn", lit(null).cast("string"))
          .withColumn("_pos", lit(null).cast("long"))
    }
    if (snap.deleteManifests.isEmpty && !keepPos)
      return readFiles(spark, table, metas, sch, shape)
    val outCols =
      (sch.fieldNames.toSeq ++ (if (keepPos) Seq("_fn", "_pos") else Nil)).map(col)
    val df = readPositioned(spark, table, metas, sch, shape, ages = keyManifestsOf(snap).nonEmpty)
    applyDeletes(spark, table, snap, df, maxBroadcastBytes).select(outCols: _*)
  }

  /** `metas` read under `schema`, each row with its file's basename `_fn` and its row ordinal
    * `_pos`, and with `ages` its file's `addedAt` as `_added` (the equality-delete test's input).
    */
  private def readPositioned(spark: SparkSession, table: SeqTable, metas: Seq[FileMeta],
      schema: StructType, shape: ScanShape = ScanShape.Default, ages: Boolean): DataFrame = {
    import spark.implicits._
    val df = readFiles(spark, table, metas, schema, shape)
      .withColumn("_fn", element_at(split(col("_metadata.file_path"), "/"), -1))
      .withColumn("_pos", col("_metadata.row_index"))
    if (!ages) df
    else df.join(broadcast(spark.createDataset(metas.map(m => (fileBasename(m.path), m.addedAt)))
      .toDF("_fn", "_added")), Seq("_fn"))
  }

  /** Hide the rows of `df` that `snap` deletes: its deletion vectors (`df` carries `_fn` and
    * `_pos`), then an anti-join against its equality-delete keys whose sequence is above the
    * row's file age (`df` carries `_added` when `snap` has any). */
  private def applyDeletes(spark: SparkSession, table: SeqTable, snap: Snapshot, df: DataFrame,
      maxBroadcastBytes: Long): DataFrame = {
    val dvMs = dvManifestsOf(snap)
    val visible = if (dvMs.isEmpty) df else applyDvFilter(spark, table, dvMs, df, maxBroadcastBytes)
    if (keyManifestsOf(snap).isEmpty) visible
    else visible.join(deleteKeys(spark, table, snap, maxBroadcastBytes), keyDeleted, "left_anti")
  }

  /** A row of a file added at `_added` is hidden by the equality delete (`_del_key`, `_del_seq`)
    * of a newer sequence number. */
  private def keyDeleted = col("doc_id") === col("_del_key") && col("_del_seq") > col("_added")

  /** [[deletesDF]], broadcast below `maxBroadcastBytes` of key manifest. */
  private def deleteKeys(spark: SparkSession, table: SeqTable, snap: Snapshot,
      maxBroadcastBytes: Long): DataFrame = {
    val dels = deletesDF(spark, table, snap)
    val delBytes = keyManifestsOf(snap)
      .map(m => Files.size(Paths.get(table.deleteManifestPath(m)))).sum
    if (delBytes <= maxBroadcastBytes) broadcast(dels) else dels
  }

  /** The rows of `metas` that `snap`'s equality deletes hide and its deletion vectors do not
    * hide yet, as (`_fn`, `_pos`): what converting the equality deletes to deletion vectors must
    * mark ([[writeDvManifests]]'s input). The scan reads only `doc_id`.
    */
  private[graft] def keyDeletedPositions(spark: SparkSession, table: SeqTable, snap: Snapshot,
      metas: Seq[FileMeta]): DataFrame = {
    val df = readPositioned(spark, table, metas,
      StructType(Seq(table.schemaOf(snap)("doc_id"))), ages = true)
    val dvMs = dvManifestsOf(snap)
    val notYet =
      if (dvMs.isEmpty) df else applyDvFilter(spark, table, dvMs, df, DeleteBroadcastMaxBytes)
    notYet.join(deleteKeys(spark, table, snap, DeleteBroadcastMaxBytes), keyDeleted, "left_semi")
      .select("_fn", "_pos")
  }

  /** Apply the deletion vectors in `dvManifests` to `df` (which must carry `_fn` and `_pos`).
    * Below `maxBroadcastBytes` of encoded bitmap the probe is a broadcast map + the codegen'd
    * [[DvHiddenExpr]] filter (no join); above it the manifests are parsed executor-side and the
    * positions explode into a shuffle anti-join — correct but heavy, and a delete set that large
    * has delete-pressure ≈ 1.0 on its files, so the planner materializes it within a cycle.
    */
  /** Per-JVM cache of broadcast [[DvIndex]]es keyed by (application, table root, manifest
    * set): delete manifests are IMMUTABLE once written and names are never reused, so a cached
    * broadcast can never serve stale bitmaps — repeated reads of the same snapshot (every
    * analytical session's shape) skip the driver parse + re-broadcast. Coarse bound: the map
    * clears past 64 entries; dropped `Broadcast` references are reclaimed by Spark's
    * ContextCleaner.
    */
  private val dvIndexCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String, Seq[String]), DvIndex]()

  private[graft] def applyDvFilter(spark: SparkSession, table: SeqTable,
      dvManifests: Seq[String], df: DataFrame, maxBroadcastBytes: Long): DataFrame = {
    import scala.jdk.CollectionConverters._
    val paths = dvManifests.map(table.deleteManifestPath)
    val totalBytes = paths.map(p => Files.size(Paths.get(p))).sum
    if (totalBytes <= maxBroadcastBytes) {
      if (dvIndexCache.size > 64) dvIndexCache.clear()
      val idx = dvIndexCache.computeIfAbsent(
        (spark.sparkContext.applicationId, table.root, dvManifests.sorted), { _ =>
          val entries = paths.flatMap(p => Files.readAllLines(Paths.get(p)).asScala)
            .map(Dv.parseLine)
          val dvMap: Map[String, Array[Array[Byte]]] =
            entries.groupBy(_._1).map { case (bn, vs) => bn -> vs.map(_._3).toArray }
          new DvIndex(spark.sparkContext.broadcast(dvMap))
        })
      df.filter(!DvHiddenExpr.column(col("_fn"), col("_pos"), idx))
    } else {
      import spark.implicits._
      val pos = spark.read.textFile(paths: _*).flatMap { line =>
        val (bn, _, bytes) = Dv.parseLine(line)
        Dv.positionsIterator(Dv.decode(bytes)).map(p => (bn, p))
      }.toDF("_dv_fn", "_dv_pos")
      df.join(pos, col("_fn") === col("_dv_fn") && col("_pos") === col("_dv_pos"), "left_anti")
    }
  }

  private[graft] def fileBasename(path: String): String =
    path.substring(path.lastIndexOf('/') + 1)

  /** Target keys per delete-manifest file (sizes the executor-side write parallelism). */
  val DeleteManifestKeysPerFile: Long = 10L * 1000 * 1000

  /** Distributed delete-manifest write: the key DataFrame (one string column) is written by
    * executors as text parts and each non-empty part becomes its own manifest — no driver funnel,
    * so the change-set size is unbounded (r01 pulled every key through toLocalIterator). Parts are
    * coalesced to ~[[DeleteManifestKeysPerFile]] keys each so small merges land one manifest, not
    * one per shuffle partition.
    */
  def writeDeleteManifests(spark: SparkSession, table: SeqTable, keys: DataFrame,
      seq: Long, nKeys: Long = -1L): Seq[String] = {
    val parts0 =
      if (nKeys < 0) 1
      else math.max(1L, (nKeys + DeleteManifestKeysPerFile - 1) / DeleteManifestKeysPerFile).toInt
    publishParts(table, keys.toDF("value").coalesce(parts0), "text")(i =>
      s"delete-$seq-${java.util.UUID.randomUUID().toString.take(8)}$i.keys")
  }

  /** Distributed deletion-vector manifest write: `victims` is (file basename, row ordinal) —
    * one group per file builds its sorted run bitmap executor-side ([[Dv.fromPositions]],
    * bounded by the file's own row count), and the line set lands as text parts moved into
    * `delete-<seq>-*.dv` manifests — same no-driver-funnel shape as [[writeDeleteManifests]].
    * Returns the manifest names (empty input → no manifests).
    */
  def writeDvManifests(spark: SparkSession, table: SeqTable, victims: DataFrame,
      seq: Long): Seq[String] = {
    import spark.implicits._
    val lines = victims.toDF("_fn", "_pos").as[(String, Long)]
      .groupByKey(_._1)
      .mapGroups { (fn, it) =>
        val arr = it.map(_._2).toArray
        java.util.Arrays.sort(arr)
        Dv.formatLine(fn, Dv.fromPositions(arr))
      }
      .persist()
    try {
      val nLines = lines.count()
      if (nLines == 0) return Nil
      val parts0 = math.max(1L, nLines / 100000L).toInt // ~100k files' bitmaps per manifest
      publishParts(table, lines.toDF().coalesce(parts0), "text")(i =>
        s"delete-$seq-${java.util.UUID.randomUUID().toString.take(8)}$i.dv")
    } finally { lines.unpersist(); () }
  }

  /** Full-table read at the current snapshot (merge-on-read deletes applied). Reads build their
    * scan list from the NARROW manifest projection: the file paths must reach the driver to
    * construct the relation (~1 GB at 10^7 files — fine), the ~13 KB/file docBloom payloads
    * must not (~130 GB — the funnel every distributed metadata path exists to avoid).
    */
  def read(spark: SparkSession, table: SeqTable): DataFrame =
    readSnapshot(spark, table, table.currentSnapshot())

  private def readSnapshot(spark: SparkSession, table: SeqTable, snap: Snapshot): DataFrame =
    readWithDeletes(spark, table, snap, table.liveFilesNarrow(snap))

  /** Full read at a branch head — the audit view of the whole unpublished chain. */
  def readBranch(spark: SparkSession, table: SeqTable, name: String): DataFrame =
    readSnapshot(spark, table, table.branchHead(name))

  /** AUDIT read of a staged (write-audit-publish) commit: the staged batch's rows in isolation —
    * quality gates / dedup checks run here BEFORE the batch becomes visible to anyone.
    */
  def readStaged(spark: SparkSession, table: SeqTable, id: String): DataFrame =
    readFiles(spark, table, table.stagedSnapshot(id).manifests.flatMap(table.readManifestNarrow),
      table.currentSchema())

  /** TIME TRAVEL: full-table read pinned at snapshot `version` (that snapshot's manifests AND its
    * delete-manifest set — a later MoR delete does not leak backwards). Readers of expired
    * versions fail on the missing snapshot file, same as Iceberg.
    */
  def readAt(spark: SparkSession, table: SeqTable, version: Long): DataFrame =
    readSnapshot(spark, table, table.snapshot(version))

  /** Snapshot operations whose added files are NEW rows (never rewrites of existing rows) —
    * the only commits an incremental append scan surfaces. Compaction/merge/rollback commits
    * also add files, but those carry rewritten old rows; emitting them would double-deliver.
    */
  private val AppendOps = Set("append", "stream-append")

  /** INCREMENTAL APPEND SCAN (Iceberg's incremental scan, public design): the manifest entries
    * of every row APPENDED in `(fromVersion, toVersion]` — the consumption contract of a
    * downstream training pipeline doing incremental data loading ("give me everything new since
    * my last checkpoint"), without re-reading the table.
    *
    * Walks the version lineage and, for each append-family snapshot `w`, takes the manifests
    * that are NEW at `w` (not referenced by `w-1`): for an append commit those hold exactly the
    * added entries (appends remove nothing, so carried-forward manifests are untouched). Driver
    * work is proportional to the DELTA being consumed, never to table size — the incremental
    * manifests are the batch's own, not the live set. Non-append commits (compact, merge,
    * rollback, rewrite-manifests) contribute nothing: their added files rewrite rows that were
    * already delivered.
    *
    * Fails loudly (missing snapshot file) when any version in the range is expired — the caller
    * must keep snapshots retained until consumed, same as Iceberg.
    */
  def appendedFilesBetween(table: SeqTable, fromVersion: Long, toVersion: Long): Seq[FileMeta] = {
    require(fromVersion <= toVersion,
      s"appendedFilesBetween: fromVersion $fromVersion > toVersion $toVersion")
    var prevManifests = table.snapshot(fromVersion).manifests.toSet
    val out = Seq.newBuilder[FileMeta]
    ((fromVersion + 1) to toVersion).foreach { w =>
      val s = table.snapshot(w)
      if (AppendOps.contains(s.operation)) {
        val fresh = s.manifests.filterNot(prevManifests)
        // addedAt == w by the commit stamp; the filter is belt-and-braces against a future
        // commit shape that mixes survivors into a new manifest
        out ++= fresh.flatMap(table.readManifest).filter(_.addedAt == w)
      }
      prevManifests = s.manifests.toSet
    }
    out.result()
  }

  /** The appended ROWS of `(fromVersion, toVersion]` — [[appendedFilesBetween]] materialized as
    * a DataFrame. Append files may have been compacted out of the live set since; their physical
    * files remain readable until snapshot expiry reclaims them (the retention contract above).
    * Merge-on-read deletes do NOT apply here: this is the append changelog, not current state.
    */
  def readAppendedBetween(spark: SparkSession, table: SeqTable,
      fromVersion: Long, toVersion: Long): DataFrame =
    readFiles(spark, table, appendedFilesBetween(table, fromVersion, toVersion),
      table.schemaOf(table.snapshot(toVersion)))

  /** The live manifest as a distributed Dataset — the planner's input at 10^12-sequence scale
    * (~10^7 manifest rows): metadata is scanned by executors, never materialized on the driver.
    *
    * @param narrow drop the docBloom payload (the dominant manifest bytes, ~13 KB/file) — on
    *               the column is never read at all (columnar pruning); the planner needs
    *               only layout stats, so this is the planning-path default
    */
  def fileMetaDS(spark: SparkSession, table: SeqTable,
      narrow: Boolean = false): org.apache.spark.sql.Dataset[FileMeta] =
    fileMetaDSOf(spark, table, table.currentSnapshot(), narrow)

  /** [[fileMetaDS]] pinned at an arbitrary snapshot — the distributed incremental planner diffs
    * the current manifest against its cached base version with path anti-joins.
    */
  def fileMetaDSOf(spark: SparkSession, table: SeqTable, snap: Snapshot,
      narrow: Boolean = false): org.apache.spark.sql.Dataset[FileMeta] =
    manifestMetaDS(spark, table, snap.manifests, narrow)

  /** Executor-side scan of an explicit set of manifest carriers as a [[FileMeta]] Dataset —
    * the building block of [[fileMetaDSOf]] and the distributed [[tableDiff]] metadata diff
    * (which scans only the manifests a snapshot does NOT share with the other endpoint).
    */
  private[graft] def manifestMetaDS(spark: SparkSession, table: SeqTable, names: Seq[String],
      narrow: Boolean = false): org.apache.spark.sql.Dataset[FileMeta] = {
    import spark.implicits._
    if (!narrow) scanManifests(spark, table, names, SeqSchema.fileMetaSchema).as[FileMeta]
    else scanManifests(spark, table, names,
      StructType(SeqSchema.fileMetaSchema.filterNot(_.name == "docBloom")))
      .withColumn("docBloom", lit(null).cast("string")).as[FileMeta]
  }

  /** Executor-side scan of a set of manifests, column-pruned to `schema` — by default just the
    * `path` column, all the expiry diff and the membership checks need. One `Files.size` per
    * manifest, no listing; a missing manifest fails here, naming it. */
  private def scanManifests(spark: SparkSession, table: SeqTable, names: Seq[String],
      schema: StructType = StructType(Seq(StructField("path", StringType)))): DataFrame = {
    names.foreach(ManifestCodec.requireParquet)
    val files = names.map { n =>
      val p = table.metaDirPath.resolve(n)
      p.toString -> Files.size(p)
    }
    scanParquet(spark, files, schema, ScanShape.Default)
  }

  /** Writes `df` as parquet part files and moves each into metadata/ as one manifest (the one
    * encoding: [[ManifestCodec]] reads them back on the driver). */
  private def writeManifestParts(table: SeqTable, df: DataFrame): Seq[String] =
    // no docBloom dictionary, as ManifestCodec.write: parquet would build it only to drop it
    publishParts(table, df, "parquet", Map("parquet.enable.dictionary#docBloom" -> "false"))(_ =>
      s"manifest-${java.util.UUID.randomUUID()}.parquet")

  /** The one way part files reach metadata/: `df` is written as `format` parts into a fresh tmp
    * directory there (the data files' writer, [[GraftSqlBridge.write]], with its write-only
    * local FS), each non-empty part moves into metadata/ as `name(i)`, and the tmp directory
    * is always deleted — a failed write leaves no `.tmp-*` behind for `removeOrphans` to
    * reclaim. */
  private def publishParts(table: SeqTable, df: DataFrame, format: String,
      options: Map[String, String] = Map.empty)(name: Int => String): Seq[String] = {
    val tmp = Files.createTempDirectory(table.metaDirPath, ".tmp-parts-")
    try {
      GraftSqlBridge.write(Seq(df), tmp.toString, format, options, Nil)
      SeqTable.listDir(tmp)
        .filter(p => p.getFileName.toString.startsWith("part-") && Files.size(p) > 0)
        .sortBy(_.getFileName.toString)
        .zipWithIndex.map { case (p, i) =>
          val n = name(i)
          Files.move(p, table.metaDirPath.resolve(n))
          n
        }
    } finally deleteTree(tmp)
  }

  /** Delete `dir` and everything under it, if it exists. */
  private[graft] def deleteTree(dir: Path): Unit = if (Files.exists(dir)) {
    val walk = Files.walk(dir)
    try walk.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
    finally walk.close()
  }

  /** Distributed manifest rewrite — the 10^7-file replacement for the driver-side
    * [[SeqTable.rewriteManifests]], which materializes and sorts the ENTIRE live manifest on the
    * driver (the exact funnel the distributed planner path exists to avoid; at 10^7 files with
    * ~13 KB docBloom payloads that is ~130 GB of driver heap). Here the merged manifest is built
    * by a Spark job: the live-manifest Dataset (executor-side scan of the manifests)
    * is `repartitionByRange`-partitioned and sorted on (first source, minNtok, path) — so each
    * output part covers a contiguous key range, preserving the scan-locality contract of the
    * driver path — and each parquet part file BECOMES one manifest. The driver only moves part
    * files into place and runs the CAS commit (same optimistic retry loop, with
    * `base.properties`/`deleteManifests` carried forward); it parses ZERO manifest entries
    * ([[SeqTable.manifestFileReads]]-proven in the spec).
    *
    * @param targetEntriesPerManifest manifest granularity: bounds both part size and the unit of
    *   future commit rewrites (a commit rewrites only manifests that lost files — one mega-
    *   manifest would make every small commit re-write the world, many small ones keep commits
    *   proportional to their edits)
    */
  def rewriteManifestsDistributed(spark: SparkSession, table: SeqTable,
      targetEntriesPerManifest: Long = 100000L, maxRetries: Int = 5): Snapshot =
    table.commitManifestRewrite("rewriteManifestsDistributed", maxRetries) { base =>
      val ds = fileMetaDSOf(spark, table, base) // full width: the new manifests must keep docBloom
      // live-file count from the snapshot summary (every commit records it — the same field the
      // runner trusts for its reports); the count() job over all manifest carriers is only the
      // legacy-snapshot fallback, not a second full pass per attempt
      val total = base.summary.get("total-files").flatMap(_.toLongOption).getOrElse(ds.count())
      val names: Seq[String] =
        if (total == 0) Nil
        else {
          val nParts = math.min(total, (total + targetEntriesPerManifest - 1) /
            targetEntriesPerManifest).toInt
          writeManifestParts(table, ds.toDF()
            // get() not element_at(): overflow files have EMPTY sources, and ANSI mode (the
            // Spark 4 default) makes element_at throw on the out-of-bounds index
            .withColumn("_src0", coalesce(get(col("sources"), lit(0)), lit("")))
            .repartitionByRange(nParts, col("_src0"), col("minNtok"), col("path"))
            .sortWithinPartitions(col("_src0"), col("minNtok"), col("path"))
            .drop("_src0"))
        }
      (names, total)
    }

  /** EXECUTOR-SIDE membership check for [[SeqTable.commit]]'s `requireLivePaths` fence (the
    * 10^7-file path): one broadcast semi-join of the required paths against the path-only
    * manifest scan — the driver collects at most |paths| hits, never a manifest entry.
    */
  def distributedLivePathsCheck(spark: SparkSession, table: SeqTable)
      : (Snapshot, Set[String]) => Set[String] = { (base, paths) =>
    import spark.implicits._
    val req = broadcast(spark.createDataset(paths.toSeq).toDF("path"))
    val found = scanManifests(spark, table, base.manifests)
      .join(req, Seq("path"), "left_semi").distinct().as[String].collect().toSet
    paths.diff(found)
  }

  /** EXECUTOR-SIDE manifest edit for [[SeqTable.commit]]'s `editPlanner` — the 10^7-file path
    * for every commit that REMOVES files (COW merge, compaction, delete materialization).
    * The driver edit parses every base manifest (narrow) plus the touched ones full-width; here
    * the removed-path membership runs as a broadcast join against a path+carrier manifest scan
    * (the driver collects only |removedPaths| hit rows), and the survivors of touched manifests
    * are anti-joined and re-written as parquet manifests BY EXECUTORS — the driver parses ZERO
    * manifest entries and no docBloom byte ever reaches it. Re-invoked per CAS attempt against
    * the rebased head, like the driver edit.
    */
  def distributedManifestEdit(spark: SparkSession, table: SeqTable)
      : (Snapshot, Set[String]) => SeqTable.ManifestEdit = { (base, removedPaths) =>
    import spark.implicits._
    val removed = broadcast(spark.createDataset(removedPaths.toSeq).toDF("path"))
    // (path, carrier-manifest basename): the edit needs WHICH manifest holds each removed path
    val hits = scanManifests(spark, table, base.manifests)
      .select(col("path"), element_at(split(col("_metadata.file_path"), "/"), -1))
      .join(removed, Seq("path")).collect() // ≤ |removedPaths| rows: change-proportional
    val found = hits.map(_.getString(0)).toSet
    val missing = removedPaths.diff(found)
    if (missing.nonEmpty) SeqTable.ManifestEdit(base.manifests, Nil, missing)
    else {
      val touched = hits.map(_.getString(1)).toSet
      val kept = base.manifests.filterNot(touched)
      val rewritten =
        if (touched.isEmpty) Nil
        else writeManifestParts(table, manifestMetaDS(spark, table, touched.toSeq).toDF()
          .join(removed, Seq("path"), "left_anti")
          .coalesce(touched.size)) // survivors ⊆ touched: never more parts than inputs
      SeqTable.ManifestEdit(kept, rewritten, Set.empty)
    }
  }

  /** [[SeqTable.expireSnapshots]] with the manifest diff on EXECUTORS — the 10^7-file path.
    * The driver variant materializes every kept snapshot's live set AND every dead manifest's
    * entries on the driver (at 10^7 files with bloom payloads, ~130 GB — the funnel the
    * distributed planner/rewrite exist to avoid); here dead manifests and live manifests meet
    * in a path anti-join, and only the ACTUALLY-DEAD file paths (the ones about to be deleted —
    * driver-sized by definition) are collected. Semantics identical to the driver variant:
    * same expired versions, same deleted files (parity spec).
    */
  def expireSnapshotsDistributed(spark: SparkSession, table: SeqTable,
      keepLast: Int): (Seq[Long], Seq[String]) = {
    val versions = table.snapshotVersions()
    // tagged + branch-fork versions are retention-pinned, same as the driver path
    // (SeqTable.expireSnapshots)
    val keep = versions.takeRight(math.max(1, keepLast)).toSet ++
      table.taggedVersions() ++ table.branchPinnedVersions()
    val expired = versions.filterNot(keep)
    if (expired.isEmpty) return (Nil, Nil)

    val keptSnaps = keep.toSeq.sorted.map(table.snapshot)
    val liveManifests = keptSnaps.flatMap(_.manifests).toSet
    val liveDeleteManifests = keptSnaps.flatMap(_.deleteManifests).toSet

    val deadManifests = scala.collection.mutable.LinkedHashSet.empty[String]
    expired.map(table.snapshot).foreach { s =>
      s.manifests.foreach { m => if (!liveManifests.contains(m)) deadManifests += m }
      s.deleteManifests.foreach { d => if (!liveDeleteManifests.contains(d)) deadManifests += d }
    }
    val (deadDataManifests, deadDeleteManifests) =
      deadManifests.toSeq.partition(m => !m.startsWith("delete-"))
    // dead files = paths referenced only by dead manifests: executor-side anti-join, then
    // collect the (to-be-deleted, driver-sized) survivors
    val deadFiles: Seq[String] =
      if (deadDataManifests.isEmpty) Nil
      else scanManifests(spark, table, deadDataManifests)
        .join(scanManifests(spark, table, liveManifests.toSeq), Seq("path"), "left_anti")
        .distinct().collect().map(_.getString(0)).toSeq

    deadFiles.foreach(p => Files.deleteIfExists(java.nio.file.Paths.get(table.root).resolve(p)))
    (deadDataManifests ++ deadDeleteManifests).foreach(table.uncacheManifestFile)
    expired.foreach(v =>
      Files.deleteIfExists(java.nio.file.Paths.get(table.root, "metadata", s"v$v.json")))
    (expired, deadFiles)
  }

  /** NET ROW-LEVEL CHANGELOG between two snapshots (Iceberg's changelog scan, public design):
    * every row whose VISIBILITY changed in `(fromVersion, toVersion]`, as `change_type` 'I'
    * (inserted) / 'D' (deleted) plus the full row. An update surfaces as its old row 'D' + its
    * new row 'I'; rows merely COPIED by compaction / clustering (and untouched by manifest
    * rewrites) cancel and are never delivered — the changelog is NET of rewrites, which is what
    * a downstream incremental consumer (index maintenance, CDC mirror, training-set refresh)
    * actually wants. Complements [[readAppendedBetween]] (append-only, gross) with full
    * delete/update visibility.
    *
    * Scale shape — work is proportional to what CHANGED, never to table size:
    *   1. The file-set diff of the two snapshots is metadata-only (manifest paths). Rows are
    *      read ONLY from files added or removed in the range; files carried across untouched
    *      never hit the scan.
    *   2. Merge-on-read deletes arriving (or un-arriving, via rollback) on CARRIED files cannot
    *      be seen from the file diff — those rows are found by scanning carried files
    *      restricted to the DELTA delete keys (the symmetric difference of the two snapshots'
    *      delete-manifest sets — merge-batch-sized), with the same two-level file prune MERGE
    *      itself uses (doc_id range join + per-file Bloom) so a small MoR merge between the
    *      endpoints touches only the files that may hold its keys.
    *   3. Copied survivors cancel in a NARROW-ROW `exceptAll` — the set op shuffles
    *      (doc_id, n_tok, source, two independent 64-bit token hashes), ~56 B/row, never the
    *      multi-KB token payloads (a full-table compaction inside the range made the wide
    *      variant shuffle the whole rewritten span's payloads — 26 s vs 4.3 s on the bench
    *      table). Payloads re-attach afterwards for the NET-CHANGED keys only (merge-batch-
    *      sized): rows sharing a narrow key are identical, so one payload per key is fetched
    *      via a semi-join + first() and re-exploded to the exceptAll multiplicity — exact
    *      multiset semantics, with a ~2^-128 false-cancel risk per updated key from the paired
    *      hashes (the engine-wide content-hash discipline).
    *
    * Both endpoint snapshots must still be retained (expired versions fail loudly on the
    * missing snapshot file — the caller keeps snapshots until consumed, same as Iceberg).
    */
  def tableDiff(spark: SparkSession, table: SeqTable,
      fromVersion: Long, toVersion: Long,
      maxBroadcastBytes: Long = DeleteBroadcastMaxBytes,
      distributedMetaFiles: Long = DistributedDiffMetaFiles): DataFrame = {
    require(fromVersion <= toVersion,
      s"tableDiff: fromVersion $fromVersion > toVersion $toVersion")
    val sFrom = table.snapshot(fromVersion)
    val sTo = table.snapshot(toVersion)
    // the diff is expressed in the TO endpoint's schema: rows from pre-evolution files read the
    // added columns as null (exactly their value at the from endpoint), so an UPDATE that sets an
    // added column surfaces as D(…, null) + I(…, value)
    val schema = table.schemaOf(sTo)
    val cols = schema.fieldNames.toSeq
    def withType(df: DataFrame, t: String): DataFrame =
      df.select(lit(t).as("change_type") +: cols.map(col): _*)
    if (fromVersion == toVersion)
      return withType(readFiles(spark, table, Nil, schema), "I").limit(0)

    // ---- metadata diff: added/removed are CHANGE-proportional (driver-sized by definition of
    // a consumable diff); the carried set is TABLE-sized and must never land on the driver.
    // Below `distributedMetaFiles` the cached driver manifests win (zero jobs, the bench-scale
    // fast path); above it — or at 0, forcing it — the diff runs as executor-side path
    // anti-joins restricted to the manifests each snapshot does NOT share with the other (the
    // expireSnapshotsDistributed pattern: a small commit diffs two delta manifests against a
    // path-only columnar probe scan, with the driver parsing ZERO manifest entries).
    val useDistributed = Seq(sFrom, sTo).exists(routesDistributed(_, distributedMetaFiles))
    val sharedManifests = sFrom.manifests.toSet intersect sTo.manifests.toSet
    import spark.implicits._
    val (addedFiles: Seq[FileMeta], removedFiles: Seq[FileMeta]) =
      if (!useDistributed) {
        val liveFrom = table.liveFiles(sFrom)
        val liveTo = table.liveFiles(sTo)
        val pFrom = liveFrom.map(_.path).toSet
        val pTo = liveTo.map(_.path).toSet
        (liveTo.filterNot(f => pFrom(f.path)), liveFrom.filterNot(f => pTo(f.path)))
      } else {
        // files of shared manifests exist in BOTH snapshots (carried by construction), so only
        // each side's UNSHARED manifests can contribute added/removed entries; the probe side is
        // the other snapshot's full path set (a rewritten manifest can re-home a carried path)
        def sideOnly(s: Snapshot, other: Snapshot): Seq[FileMeta] = {
          val own = s.manifests.filterNot(sharedManifests)
          if (own.isEmpty) Nil
          else manifestMetaDS(spark, table, own, narrow = true)
            .join(scanManifests(spark, table, other.manifests), Seq("path"), "left_anti")
            .as[FileMeta].collect().toSeq
        }
        (sideOnly(sTo, sFrom), sideOnly(sFrom, sTo))
      }

    // rows of files added/removed in the range, each visible under ITS OWN endpoint's deletes
    var toSide = readWithDeletes(spark, table, sTo, addedFiles, maxBroadcastBytes, schema)
    var fromSide = readWithDeletes(spark, table, sFrom, removedFiles, maxBroadcastBytes, schema)

    // carried files: only a DELTA delete can change a row's visibility (addedAt is fixed once
    // written, so applicability flips only when the delete-manifest set itself changes). Two
    // delta families: equality keys (.keys — a key can flip visibility in ANY carried file its
    // range/Bloom admits) and deletion vectors (.dv — each names its target files outright, so
    // candidacy is an exact basename lookup).
    val deltaManifests =
      ((sFrom.deleteManifests.toSet diff sTo.deleteManifests.toSet) ++
        (sTo.deleteManifests.toSet diff sFrom.deleteManifests.toSet)).toSeq.sorted
    val deltaKeyManifests = deltaManifests.filter(_.endsWith(".keys"))
    val deltaDvManifests = deltaManifests.filter(_.endsWith(".dv"))
    val dvDeltaBasenames = Dv.headers(table, deltaDvManifests).map(_._1).toSet
    if (deltaKeyManifests.nonEmpty || dvDeltaBasenames.nonEmpty) {
      val deltaBytes = deltaKeyManifests
        .map(m => Files.size(Paths.get(table.deleteManifestPath(m)))).sum
      val deltaKeys0 =
        if (deltaKeyManifests.isEmpty) Seq.empty[String].toDF("_delta_key").distinct()
        else spark.read.textFile(deltaKeyManifests.map(table.deleteManifestPath): _*)
          .select(col("value").as("_delta_key")).distinct()
      val deltaKeys =
        if (deltaBytes <= maxBroadcastBytes) broadcast(deltaKeys0) else deltaKeys0
      // the carried files, on the driver or (the 10^7-file route) on executors
      val carried: KeyPrune.Manifest =
        if (!useDistributed) {
          val pTo = table.liveFiles(sTo).map(_.path).toSet
          Left(table.liveFiles(sFrom).filter(f => pTo(f.path)))
        } else Right(fileMetaDSOf(spark, table, sFrom, narrow = true)
          .join(scanManifests(spark, table, sTo.manifests), Seq("path"), "left_semi")
          .as[FileMeta])
      // the key family: the carried files that may hold a delta key (doc_id range, then
      // per-file Bloom); an empty delta-key set (delete manifests, zero keys) selects none
      val eqCarried =
        if (deltaKeyManifests.isEmpty) Nil
        else KeyPrune.filesMayHold(spark, table, sFrom, carried, KeyPrune.KeySet.of(deltaKeys0))
      // the dv family: carried files a delta DV targets, by exact basename
      val dvCarried =
        if (dvDeltaBasenames.isEmpty) Nil
        else KeyPrune.collectWhere(carried, f => dvDeltaBasenames(fileBasename(f.path)))
      val eqPaths = eqCarried.map(_.path).toSet
      val prunedCarried = eqCarried ++ dvCarried.filterNot(f => eqPaths(f.path))
      if (prunedCarried.nonEmpty) {
        // candidate rows (delta-key hits, or any row of a dv-delta file) with their file's
        // addedAt attached, then visibility under EACH endpoint's full delete set — equality
        // anti-join AND that endpoint's DVs — decides which side(s) the row lands on
        import spark.implicits._
        val dvBnFlag = broadcast(spark.createDataset(dvDeltaBasenames.toSeq).toDF("_fn")
          .withColumn("_dvh", lit(1)))
        // deltaKeys is distinct, so the flag left-join cannot duplicate candidate rows
        val cand = readPositioned(spark, table, prunedCarried, schema, ages = true)
          .join(deltaKeys, col("doc_id") === col("_delta_key"), "left")
          .join(dvBnFlag, Seq("_fn"), "left")
          .filter(col("_delta_key").isNotNull || col("_dvh").isNotNull)
        def visibleAt(snap: Snapshot): DataFrame =
          applyDeletes(spark, table, snap, cand, maxBroadcastBytes).select(cols.map(col): _*)
        fromSide = fromSide.unionByName(visibleAt(sFrom))
        toSide = toSide.unionByName(visibleAt(sTo))
      }
    }

    // Narrow-key net diff with the payload carried through the aggregation. The GROUP/JOIN key
    // is the PAIR OF HASHES alone — both single whole-row xxhash64 passes over every column (the
    // second reverses the stream behind a salt for independence). Raw columns must NOT be join
    // keys: evolved (added) columns are nullable, and equality joins drop NULL = NULL rows — the
    // exact bug the engine fuzz caught when an add-column preceded a MoR merge (and a latent one
    // for any null source). Every column enters the hash with an explicit null ENCODING
    // (a paired isNull flag — see below), never null-skip: xxhash64 skips null children, which
    // would let a value "slide" between adjacent nullable columns and false-cancel a change.
    // Each side is scanned exactly ONCE: rows sharing a key are identical, so one
    // `groupBy(hashes).agg(count, first(payload))` per side yields both the multiplicity AND the
    // representative payload in the same pass (the r07 shape scanned+double-hashed each side
    // twice — key counts, then a payload re-attach — 4 full passes and 8 token-array hash walks
    // per diff; measured ~40% of the m_changelog row). The per-side aggregation shuffles one
    // payload per distinct key — side-sized, and sides are change-proportional by construction
    // (metadata diff, point 1). Collision risk ~2^-128 per changed key from the paired hashes
    // (the engine-wide content-hash discipline).
    val keyCols = Seq("_h1", "_h2")
    val enc: Seq[Column] = schema.fields.toSeq.flatMap { f =>
      // every column hashes as the PAIR (isNull flag, null-coalesced value): null-ness is its
      // own fixed-arity hash input — no sentinel value to collide with real data, tokens=null
      // and tokens=[] differ by flag (xxhash64 hashes both to the same stream otherwise: it
      // skips null children and an empty array contributes nothing) — and nothing null ever
      // reaches xxhash64, so its null-skip can never engage. Atomic columns hash their string
      // cast; COMPLEX-typed evolved columns hash their own type directly (a string cast is
      // lossy there: array<string> ["a, b"] and ["a","b"] both render "[a, b]", so two
      // genuinely different rows would false-cancel and the net diff silently miss the change)
      val n = f.name
      val flag = col(n).isNull.cast("int")
      f.dataType match {
        case org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.IntegerType, _)
            if n == "tokens" =>
          // the base payload column stays on the direct typed hash (no per-row JSON rendering
          // of multi-KB token arrays on the diff hot path)
          Seq(flag, coalesce(col(n), array().cast("array<int>")))
        case _: org.apache.spark.sql.types.ArrayType | _: org.apache.spark.sql.types.MapType |
             _: org.apache.spark.sql.types.StructType =>
          // lossless canonical rendering: JSON preserves element boundaries (["a, b"] vs
          // ["a","b"]) and in-array nulls, which both the string cast and xxhash64's
          // null-child skip would alias
          Seq(flag, coalesce(to_json(col(n)), lit("")))
        case _ => Seq(flag, coalesce(col(n).cast("string"), lit("")))
      }
    }
    def withKeys(df: DataFrame): DataFrame = df.select(
      cols.map(col) :+
      xxhash64(enc: _*).as("_h1") :+
      xxhash64(lit(-7046029254386353131L) +: enc.reverse: _*).as("_h2"): _*)
    // one aggregation per side: multiplicity + a representative payload (rows sharing a key are
    // identical) — the only pass that ever reads the side's data files
    def sideAgg(df: DataFrame, cnt: String, pfx: String): DataFrame =
      withKeys(df).groupBy(keyCols.map(col): _*)
        .agg(count(lit(1)).as(cnt), cols.map(n => first(col(n)).as(s"$pfx$n")): _*)
    val joined = sideAgg(toSide, "_tc", "_t_")
      .join(sideAgg(fromSide, "_fc", "_f_"), keyCols, "full_outer")
      .withColumn("_d", coalesce(col("_tc"), lit(0L)) - coalesce(col("_fc"), lit(0L)))
      .filter(col("_d") =!= 0L)
    // net-changed keys only: emit |_d| copies of the surviving side's payload, typed by sign —
    // ONE linear plan (no union of two subtrees re-running the aggregations twice)
    joined
      .withColumn("_i", explode(sequence(lit(1), abs(col("_d")).cast("int"))))
      .select(when(col("_d") > 0, lit("I")).otherwise(lit("D")).as("change_type") +:
        cols.map(n => when(col("_d") > 0, col(s"_t_$n")).otherwise(col(s"_f_$n")).as(n)): _*)
  }

  /** File-count threshold above which [[tableDiff]]'s metadata diff runs on executors
    * (0 = always distributed): below it the cached driver manifests are faster (zero jobs);
    * above it the driver-side materialization is the 10^7-file ~130 GB funnel the distributed
    * planner/rewrite/expiry already avoid.
    */
  val DistributedDiffMetaFiles: Long = 100000L

  /** Does `snap` hold more than `threshold` live files (or is `threshold` 0, forcing it)? Then
    * metadata work runs on executors rather than over the driver's cached manifests. */
  private[graft] def routesDistributed(snap: Snapshot, threshold: Long): Boolean =
    threshold == 0L ||
      snap.summary.get("total-files").flatMap(_.toLongOption).getOrElse(0L) > threshold

  final case class ScanStats(filesScanned: Int, totalFiles: Int, recordsScanned: Long)

  /** The one file prune, from a scan's resolved data filters (its conjuncts, as Spark pushes
    * them): may a file hold a row that passes them all? Sound, never exact — a file it
    * drops holds no such row, by its manifest stats alone:
    *  - `source` `=`/`IN`: the file's source list holds one of the values (or is unknown) and
    *    its [[FileMeta.sourceZones]], when recorded, hold that value's bucket with an n_tok
    *    range that meets the n_tok bounds below;
    *  - `n_tok` comparisons with a literal, intersected into one range that the file-wide
    *    `[minNtok, maxNtok]` must meet;
    *  - `doc_id` `=`/`IN`: one of the keys lies in the file's `[minDocId, maxDocId]`
    *    ([[Utf8Order]], as the stats are).
    * A conjunct of any other shape drops no file. Columns match by the scan's (physical) names;
    * the base columns are never renamed.
    */
  def mayHold(filters: Seq[Expression]): FileMeta => Boolean = {
    var sources, keys: Option[Set[String]] = None
    var lo, hi: Option[Long] = None
    def oneOf(attr: String, values: Iterable[Any]): Unit = {
      val vs = values.collect { case u: UTF8String => u.toString }.toSet
      if (attr == "source") sources = Some(sources.fold(vs)(_ intersect vs))
      if (attr == "doc_id") keys = Some(keys.fold(vs)(_ intersect vs))
    }
    def compare(attr: String, op: String, v: Any): Unit = (op, v) match {
      case ("=", _) if attr != "n_tok" => oneOf(attr, Seq(v))
      case (_, i: Int) if attr == "n_tok" =>
        val (l, h) = op match {
          case "=" => (Some(i.toLong), Some(i.toLong))
          case ">=" => (Some(i.toLong), None)
          case ">" => (Some(i + 1L), None)
          case "<=" => (None, Some(i.toLong))
          case "<" => (None, Some(i - 1L))
          case _ => (None, None)
        }
        l.foreach(v => lo = Some(lo.fold(v)(math.max(_, v))))
        h.foreach(v => hi = Some(hi.fold(v)(math.min(_, v))))
      case _ => ()
    }
    val flipped = Map(">" -> "<", ">=" -> "<=", "<" -> ">", "<=" -> ">=", "=" -> "=")
    filters.foreach {
      case In(a: Attribute, list) if list.forall(_.isInstanceOf[Literal]) =>
        oneOf(a.name, list.map(_.asInstanceOf[Literal].value))
      case InSet(a: Attribute, set) => oneOf(a.name, set)
      case c: BinaryComparison => (c.left, c.right) match {
        case (a: Attribute, Literal(v, _)) if v != null => compare(a.name, c.symbol, v)
        case (Literal(v, _), a: Attribute) if v != null && flipped.contains(c.symbol) =>
          compare(a.name, flipped(c.symbol), v)
        case _ => ()
      }
      case _ => ()
    }
    val (l, h) = (lo.map(math.min(_, Int.MaxValue).toInt), hi.map(math.max(_, Int.MinValue).toInt))
    val keyGroups = keys.map(ks =>
      KeyPrune.Groups(Array(Long.MaxValue), Array(ks.toArray.sorted(Utf8Order))))
    f => l.forall(f.maxNtok >= _) && h.forall(f.minNtok <= _) &&
      sources.forall(_.exists(s => (f.sources.isEmpty || f.sources.contains(s)) &&
        f.sourceZones.forall(SourceZones.mayMatch(_, s, l, h)))) &&
      keyGroups.forall(g => f.minDocId == null || f.maxDocId == null || g.inRange(f))
  }

  /** `source = ? AND n_tok BETWEEN ? AND ?` (each part optional) over the delete-aware read of
    * the current snapshot, pinned once so the files selected and the deletes applied are of one
    * version — the scan the Z-order rewrite is meant to make cheap — with its [[ScanStats]] from
    * the files it selects ([[GraftSqlBridge.selectedFiles]]). */
  def scanPruned(spark: SparkSession, table: SeqTable, source: Option[String],
      ntokMin: Option[Int], ntokMax: Option[Int]): (DataFrame, ScanStats) = {
    val snap = table.currentSnapshot()
    val live = table.liveFilesNarrow(snap) // stats-only pruning: bloom payloads never needed
    val cond = Seq(source.map(col("source") === _), ntokMin.map(col("n_tok") >= _),
      ntokMax.map(col("n_tok") <= _)).flatten.foldLeft(lit(true))(_ && _)
    val df = readWithDeletes(spark, table, snap, live).filter(cond)
    val selected = GraftSqlBridge.selectedFiles(df)
    (df, ScanStats(selected.size, live.size, selected.map(_.records).sum))
  }

  /** POINT LOOKUP — the needle query: fetch the rows of an explicit `doc_id` key set by opening
    * only the files that can hold one — the [[KeyPrune]] MERGE uses (doc_id range, then per-file
    * Bloom, the level that works on curve-clustered layouts), at read time, over the driver's
    * cached manifests or, above `distributedMetaFiles`, on executors. The final scan pushes
    * `doc_id IN (…)` into parquet (row-group skipping on clustered files) and applies the
    * snapshot's deletes — a key deleted by equality or a deletion vector does NOT return.
    *
    * At the 10^7-file design point a clustered table resolves a single key to O(1) files via
    * range alone; a curve-clustered one to the Bloom's false-positive share of range hits.
    */
  def lookupKeys(spark: SparkSession, table: SeqTable, keys: Seq[String],
      distributedMetaFiles: Long = DistributedDiffMetaFiles): (DataFrame, ScanStats) = {
    require(keys.nonEmpty, "lookupKeys: empty key set")
    require(keys.size <= DocBloom.PruneMaxKeys,
      s"lookupKeys: ${keys.size} keys — a point lookup above ${DocBloom.PruneMaxKeys} keys " +
        "is a scan; use read() with an isin filter")
    val snap = table.currentSnapshot()
    val live = KeyPrune.liveFiles(spark, table, snap, distributedMetaFiles)
    val selected = KeyPrune.filesMayHold(spark, table, snap, live, KeyPrune.KeySet.of(spark, keys))
    // the live count of the executor route from the snapshot summary, which every commit writes
    val totalFiles = live.fold(_.size, ds =>
      snap.summary.get("total-files").flatMap(_.toIntOption).getOrElse(ds.count().toInt))
    val df = readWithDeletes(spark, table, snap, selected)
      .filter(col("doc_id").isInCollection(keys.distinct))
    (df, ScanStats(selected.size, totalFiles, selected.map(_.records).sum))
  }
}
