package graft.table

import java.nio.file.{Files, Path, Paths, StandardCopyOption, FileAlreadyExistsException}
import scala.jdk.CollectionConverters._
import org.json4s._
import org.json4s.jackson.Serialization

/** One row of the maintained table — the `input_hint` shape. */
final case class SeqRecord(doc_id: String, tokens: Array[Int], n_tok: Int, source: String)

/** Per-data-file statistics — the engine's manifest entry, mirroring Iceberg's data-file metadata
  * (record count, size, per-column min/max). These stats are what the planner "sees": each file is a
  * weighted point on the (sourceBucket × ntokBin) grid, playing the role of the reference's POI
  * (`/root/reference/src/main/scala/SDL/POI.java:9-35`).
  */
final case class FileMeta(
    path: String, // relative to table root
    records: Long,
    bytes: Long,
    minNtok: Int,
    maxNtok: Int,
    minDocId: String,
    maxDocId: String,
    sources: Seq[String], // distinct sources present (bounded by writer bucketing)
    addedAt: Long, // snapshot version that added this file
    clustered: Boolean = false, // written curve-sorted by this engine (as tight as its size allows)
    // base64 Bloom filter over the file's doc_ids (see [[DocBloom]]): key-level merge/delete
    // pruning that works on curve-clustered layouts where [minDocId, maxDocId] spans everything.
    // None = unknown (legacy manifest) → conservatively "may contain any key".
    docBloom: Option[String] = None,
    // the joint (source bucket × n_tok) extent, sorted flattened (bucket, minNtok, maxNtok)
    // triples (see [[SourceZones]]): a pruned scan opens the file for `source = s` only if s's
    // bucket is present and its range overlaps the predicate's. None = not recorded (a manifest
    // written before the field, or an entry built without it) → the source list decides alone.
    sourceZones: Option[Seq[Int]] = None
)

/** An immutable table version. `manifests` are metadata-relative paths of parquet FileMeta
  * manifests. The version chain (`parent`) is the lineage the state/expiry machinery walks.
  */
final case class Snapshot(
    version: Long,
    parent: Long,
    operation: String,
    manifests: Seq[String],
    summary: Map[String, String],
    ts: Long,
    deleteManifests: Seq[String] = Nil, // merge-on-read equality-delete key files (seq in filename)
    // table-level properties, CARRIED FORWARD by every commit (Iceberg's table-properties model):
    // unlike `summary` (which describes one snapshot and dies with it at expiry), the HEAD always
    // holds the current map — e.g. streaming-ingest high-water marks survive snapshot expiry
    properties: Map[String, String] = Map.empty
)

/** Writer-layout configuration tracked as TABLE METADATA (the Iceberg sort-order /
  * partition-spec-evolution idea, public design — first slice): which clustering curve and grid
  * geometry maintenance writers should use. Stored in the `layout.json` table property —
  * per-snapshot and carried forward, so layout changes are VERSIONED like schema changes, and a
  * REWRITE (not the config change) decides when data physically migrates: changing the layout
  * re-routes FUTURE writes; existing files keep their old clustering until compaction touches
  * them (exactly Iceberg's sort-order-evolution behavior). `curve` ∈ z | hilbert | doc-major.
  */
final case class TableLayout(
    curve: String = "z",
    sourceBuckets: Int = 64,
    ntokBinWidth: Int = 128) {
  require(TableLayout.Curves.contains(curve),
    s"TableLayout: unknown curve '$curve' (expected ${TableLayout.Curves.mkString("/")})")
  def hilbert: Boolean = curve == "hilbert"
  def docMajor: Boolean = curve == "doc-major"
}

object TableLayout {
  val Curves: Set[String] = Set("z", "hilbert", "doc-major")
}

object SeqTable {
  implicit val formats: Formats = Serialization.formats(NoTypeHints)

  /** The manifest consequence of one commit, as computed by a manifest-edit planner:
    * `kept` are base manifests carried forward untouched, `rewritten` are freshly-written
    * replacement manifests for the ones that lost files, `missing` are removed paths no base
    * manifest holds (→ concurrent-rewrite conflict; when non-empty the planner wrote nothing).
    */
  final case class ManifestEdit(kept: Seq[String], rewritten: Seq[String], missing: Set[String])

  /** Eagerly list a directory, CLOSING the underlying DirectoryStream — `Files.list(...)` holds
    * a file handle until closed, and a long-running maintenance driver lists metadata/data dirs
    * every cycle.
    */
  private[table] def listDir(dir: java.nio.file.Path): Seq[java.nio.file.Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala.toVector finally s.close()
  }

  /** Initialize an empty table (v0, no manifests). */
  def create(root: String): SeqTable = {
    val r = Paths.get(root)
    Files.createDirectories(r.resolve("data"))
    Files.createDirectories(r.resolve("metadata"))
    val t = new SeqTable(root)
    val s0 = Snapshot(0L, -1L, "create", Nil, Map.empty, System.currentTimeMillis())
    t.writeSnapshotFile(s0)
    t.writeVersionHint(0L)
    t
  }

  def load(root: String): SeqTable = new SeqTable(root)
}

/** Parsed manifests by name, bounded by approximate BYTES (the docBloom payload dominates a
  * FileMeta — an entry-count bound would let one mega-manifest pin gigabytes); on overflow the
  * whole cache drops (correct — pure reads).
  */
private final class ManifestCache(maxBytes: Long) {
  private val byName = new java.util.concurrent.ConcurrentHashMap[String, Seq[FileMeta]]()
  private var bytes = 0L
  val misses = new java.util.concurrent.atomic.AtomicLong(0L)

  // a source string and its list cell ~48 B plus its chars; zones are one unboxed int array
  private def approxBytes(metas: Seq[FileMeta]): Long =
    metas.iterator.map(m => 200L + m.path.length + m.docBloom.map(_.length).getOrElse(0) +
      m.sources.iterator.map(48L + _.length).sum +
      m.sourceZones.map(16L + 4L * _.length).getOrElse(0L)).sum

  def get(name: String): Option[Seq[FileMeta]] = Option(byName.get(name))

  def getOrRead(name: String)(read: => Seq[FileMeta]): Seq[FileMeta] =
    get(name).getOrElse { misses.incrementAndGet(); val metas = read; put(name, metas); metas }

  // synchronized: the add/clear/set sequence is not atomic and racing commit threads would
  // otherwise lose bytes from the counter (silently unbounding the cache) or double-count
  def put(name: String, metas: Seq[FileMeta]): Unit = synchronized {
    val b = approxBytes(metas)
    bytes += b
    if (bytes > maxBytes) { byName.clear(); bytes = b }
    byName.put(name, metas); ()
  }

  // removal must hold the SAME lock as put: a bare remove+subtract interleaved between its
  // clear() and reset double-subtracts, driving the counter negative and silently loosening
  // the byte bound
  def remove(name: String): Unit = synchronized {
    val old = byName.remove(name)
    if (old != null) bytes -= approxBytes(old)
  }
}

/** Filesystem-backed snapshot table with optimistic-concurrency commits.
  *
  * Commit protocol (Iceberg-HadoopTableOperations style, public design): a snapshot file
  * `metadata/v{N}.json` is created with a fail-if-exists atomic move; two writers racing to the same
  * N → exactly one wins, the loser re-reads the new head, validates its removed files are still
  * live, rebases its manifest edit and retries. This yields snapshot isolation: readers pin a
  * version; writers serialize through the version counter.
  */
final class SeqTable(val root: String) {
  import SeqTable.formats

  private def metaDir: Path = Paths.get(root, "metadata")
  def dataDir: Path = Paths.get(root, "data")

  /** Parquet is the only manifest encoding: kept so callers that still set it compile. */
  @deprecated("parquet is the only manifest encoding", "0.1.0")
  def manifestFormat: String = "parquet"
  @deprecated("parquet is the only manifest encoding", "0.1.0")
  def manifestFormat_=(format: String): Unit =
    require(format == "parquet", s"manifestFormat '$format': parquet is the only manifest encoding")

  // Manifests are IMMUTABLE once written (UUID names, never rewritten in place), so their parsed
  // content is cached: a maintenance cycle calls liveFiles() 2–3× and commit() re-reads every
  // base manifest on rebase — at 10^7 files that re-parse was the driver bottleneck. The cache is
  // populated on write too, so a cycle never re-reads its own output.
  private val fullCache = new ManifestCache(256L << 20)
  /** actual manifest-file parses (cache misses) — observability for specs and the planner bench */
  private[graft] val manifestFileReads = fullCache.misses

  // The docBloom payload dominates a FileMeta (~13 KB/file vs ~200 B of stats): at the
  // 10^7-file design point a FULL manifest materialization is ~130 GB of driver heap, while the
  // narrow projection is ~2 GB of paths+stats — and the plain read paths, the commit membership
  // check and the pruned scan only ever need (path, stats, addedAt). Narrow entries carry
  // docBloom = None, which every consumer treats as "unknown" (conservatively prunable-by-range
  // only) — sound by [[FileMeta.docBloom]]'s own contract.
  private val narrowCache = new ManifestCache(64L << 20)
  /** narrow manifest-file parses (cache misses) — observability for the scale specs */
  private[graft] val manifestNarrowFileReads = narrowCache.misses

  // ---------- snapshot access ----------

  def currentVersion(): Long = {
    val hint = metaDir.resolve("version-hint.text")
    val hinted = if (Files.exists(hint)) Files.readString(hint).trim.toLong else 0L
    // the hint is advisory (written after the commit); roll forward to the true head
    var v = hinted
    while (Files.exists(metaDir.resolve(s"v${v + 1}.json"))) v += 1
    v
  }

  def snapshot(version: Long): Snapshot =
    Serialization.read[Snapshot](Files.readString(metaDir.resolve(s"v$version.json")))

  def currentSnapshot(): Snapshot = snapshot(currentVersion())

  def snapshotVersions(): Seq[Long] =
    SeqTable.listDir(metaDir).iterator
      .map(_.getFileName.toString)
      .collect { case s if s.startsWith("v") && s.endsWith(".json") => s.stripPrefix("v").stripSuffix(".json").toLong }
      .toSeq.sorted

  // ---------- manifests ----------

  def readManifest(rel: String): Seq[FileMeta] =
    fullCache.getOrRead(rel)(ManifestCodec.read(metaDir.resolve(rel), narrow = false))

  /** Equality-delete manifest: one doc_id per line; the sequence number (commit version the
    * deletes belong to) is encoded in the filename — a delete applies to rows of data files with
    * `addedAt < seq` only, so upserts committed together with their delete set never erase
    * themselves (Iceberg's sequence-number rule, public design).
    */
  def writeDeleteManifest(keys: Iterator[String], seq: Long): String = {
    val name = s"delete-$seq-${java.util.UUID.randomUUID()}.keys"
    val w = Files.newBufferedWriter(metaDir.resolve(name))
    try keys.foreach { k => w.write(k); w.write('\n') } finally w.close()
    name
  }

  def deleteManifestPath(name: String): String = metaDir.resolve(name).toString

  def writeManifest(metas: Seq[FileMeta]): String = {
    val name = s"manifest-${java.util.UUID.randomUUID()}.parquet"
    ManifestCodec.write(metaDir.resolve(name), metas)
    fullCache.put(name, metas)
    name
  }

  /** [[readManifest]] without the docBloom payload (docBloom = None on every entry): the
    * column is pruned off the read entirely. Separately cached and counted.
    */
  def readManifestNarrow(rel: String): Seq[FileMeta] =
    fullCache.get(rel).map(_.map(_.copy(docBloom = None))) // already in memory: just project
      .getOrElse(narrowCache.getOrRead(rel)(
        ManifestCodec.read(metaDir.resolve(rel), narrow = true)))

  def liveFiles(s: Snapshot): Seq[FileMeta] = s.manifests.flatMap(readManifest)

  def liveFiles(): Seq[FileMeta] = liveFiles(currentSnapshot())

  /** The live set WITHOUT bloom payloads — what every plain read path and the pruned scan
    * actually need (see [[readManifestNarrow]]).
    */
  def liveFilesNarrow(s: Snapshot): Seq[FileMeta] = s.manifests.flatMap(readManifestNarrow)

  def absolutePath(meta: FileMeta): String = Paths.get(root).resolve(meta.path).toString

  /** Delete what a writer landed but never committed (a lost commit race, a failed peer): data
    * files by manifest entry, delete manifests by name. */
  def dropUncommitted(files: Seq[FileMeta], deleteManifests: Seq[String] = Nil): Unit = {
    files.foreach(f => Files.deleteIfExists(Paths.get(absolutePath(f))))
    deleteManifests.foreach(n => Files.deleteIfExists(metaDir.resolve(n)))
  }

  // ---------- schema evolution ----------

  /** The table schema AT a snapshot: the `schema.json` table property (written by
    * [[addColumn]]), or the engine's base schema for tables that never evolved. Properties are
    * per-snapshot and carried forward, so time travel reads data under the schema that was
    * current THEN — and readers reconcile files by NAME: a data file written before an
    * add-column lacks the column physically and reads as null (Iceberg's add-column semantics,
    * public design; parquet missing-column null-fill does the physical work).
    */
  def schemaOf(s: Snapshot): org.apache.spark.sql.types.StructType =
    s.properties.get("schema.json")
      .map(j => org.apache.spark.sql.types.DataType.fromJson(j)
        .asInstanceOf[org.apache.spark.sql.types.StructType])
      .getOrElse(SeqSchema.schema)

  def currentSchema(): org.apache.spark.sql.types.StructType = schemaOf(currentSnapshot())

  /** ADD COLUMN — a metadata-only commit appending a NULLABLE column (no data file is touched;
    * existing files read the new column as null). The base columns' roles are fixed (doc_id
    * merge key, tokens payload, n_tok/source layout stats); added columns ride along through
    * every rewrite, merge, changelog and scan. Rollback does NOT undo a schema change (schema
    * is table configuration, like Iceberg's: content reverts, the column stays). RE-ADDING a
    * previously-dropped name is supported via field-ID physical-name indirection: the new
    * generation reads/writes `_fid<N>_<name>`, so stale pre-drop values can never resurrect
    * ([[SeqSchema.PhysicalNameKey]]).
    */
  def addColumn(name: String, dataType: org.apache.spark.sql.types.DataType): Snapshot = {
    val cur = currentSchema()
    require(!SeqSchema.historicalNames(cur).contains(name.toLowerCase),
      s"addColumn($name): the name is (or once was) a live column — re-using a historical " +
        "physical name would let the rename fallback read unrelated values from old files")
    require(!name.toLowerCase.matches("_fid\\d+_.*"),
      s"addColumn($name): the _fid<N>_ prefix is reserved for field-ID physical names")
    // the whole `_` namespace is the engine's: scan-internal columns (_fn/_pos/_added/_metadata),
    // merge plumbing (_op, c_*-free but underscore-led join keys) — a user column named `_pos`
    // would be silently shadowed by the deletion-vector read path's row-ordinal column
    require(!name.startsWith("_"),
      s"addColumn($name): names starting with '_' are reserved for engine-internal columns")
    val head = currentSnapshot()
    val dropped = head.properties.getOrElse("schema.dropped", "")
      .split(",").filter(_.nonEmpty).toSet
    // RE-ADD of a dropped name: legal via field-ID indirection — the new generation writes and
    // reads a fresh physical name (`_fid<N>_<name>`), so the dead generation's plain column in
    // un-rewritten pre-drop files is unreachable by construction (no stale-value resurrection,
    // Iceberg's field-ID semantics; see [[SeqSchema.PhysicalNameKey]])
    val reAdd = dropped.contains(name.toLowerCase)
    val fieldId = head.properties.get("schema.next-field-id").map(_.toLong).getOrElse(1L)
    val f0 = org.apache.spark.sql.types.StructField(name, dataType, nullable = true)
    val field = if (reAdd) SeqSchema.withPhysicalName(f0, s"_fid${fieldId}_${name.toLowerCase}")
                else f0
    val next = org.apache.spark.sql.types.StructType(cur.fields :+ field)
    commit("evolve-schema", Nil, Set.empty,
      Map("schema-change" -> (s"add-column $name ${dataType.simpleString}" +
        (if (reAdd) s" (re-add, fid $fieldId)" else ""))),
      propertyUpdates = Map("schema.json" -> next.json) ++
        (if (reAdd) Map("schema.next-field-id" -> (fieldId + 1).toString) else Map.empty))
  }

  /** WIDEN COLUMN TYPE — metadata-only promotion of an EVOLVED column (int→long, float→double,
    * int→double: the value-preserving promotions Spark 4's vectorized parquet reader performs
    * at scan time, and Iceberg's allowed type evolutions, public design). Existing files keep
    * their narrower physical type and read up-cast; new writes land the wide type. Base columns
    * are the engine's API (n_tok feeds Int-typed stats/kernels) and stay fixed.
    */
  def widenColumn(name: String, to: org.apache.spark.sql.types.DataType): Snapshot = {
    import org.apache.spark.sql.types._
    require(!SeqSchema.schema.fieldNames.exists(_.equalsIgnoreCase(name)),
      s"widenColumn($name): base columns cannot change type")
    val cur = currentSchema()
    val idx = cur.fields.indexWhere(_.name.equalsIgnoreCase(name))
    require(idx >= 0, s"widenColumn($name): no such column")
    val f = cur.fields(idx)
    val ok = (f.dataType, to) match {
      case (IntegerType, LongType) | (IntegerType, DoubleType) | (FloatType, DoubleType) => true
      case _ => false
    }
    require(ok, s"widenColumn($name): ${f.dataType.simpleString} → ${to.simpleString} is not a " +
      "value-preserving promotion (allowed: int→long, int→double, float→double)")
    val next = org.apache.spark.sql.types.StructType(cur.fields.updated(idx, f.copy(dataType = to)))
    commit("evolve-schema", Nil, Set.empty,
      Map("schema-change" -> s"widen-column $name ${f.dataType.simpleString} -> ${to.simpleString}"),
      propertyUpdates = Map("schema.json" -> next.json))
  }

  /** RENAME COLUMN — metadata-only, for EVOLVED columns (base-column names are the engine's
    * API: doc_id merge key, tokens payload, n_tok/source layout stats). The old physical name
    * joins the field's former-name history ([[SeqSchema.FormerNamesKey]], serialized inside
    * `schema.json`): existing files keep their physical column, readers take the first
    * physically-present name per file, writers and rewrites use the new name — the same
    * change-is-metadata / migration-is-the-rewrite contract as layout evolution. Both the new
    * name and every historical name are a closed namespace (see [[addColumn]]); time travel
    * before the rename reads the old name because THAT snapshot's schema.json still says so.
    */
  def renameColumn(oldName: String, newName: String): Snapshot = {
    require(!SeqSchema.schema.fieldNames.exists(_.equalsIgnoreCase(oldName)),
      s"renameColumn($oldName): base columns cannot be renamed")
    val cur = currentSchema()
    val idx = cur.fields.indexWhere(_.name.equalsIgnoreCase(oldName))
    require(idx >= 0, s"renameColumn($oldName): no such column")
    require(!SeqSchema.historicalNames(cur).contains(newName.toLowerCase),
      s"renameColumn(→$newName): the name is (or once was) a live column — re-using a " +
        "historical physical name would read unrelated values from old files")
    require(!currentSnapshot().properties.getOrElse("schema.dropped", "")
      .split(",").contains(newName.toLowerCase),
      s"renameColumn(→$newName): name was dropped earlier; pick a fresh name (see dropColumn)")
    val f = cur.fields(idx)
    // a field-ID-indirected column (re-added after drop) has its physical name PINNED: the
    // rename is purely logical — its old LOGICAL name was never a physical column in any file,
    // so it must NOT join the former-PHYSICAL-names chain (requesting it would read the dead
    // pre-drop generation's column). Plain columns keep today's physical-migration semantics.
    val renamed = f.copy(name = newName)
    val next = org.apache.spark.sql.types.StructType(cur.fields.updated(idx,
      if (SeqSchema.physicalName(f) != f.name) renamed
      else SeqSchema.withFormerNames(renamed, f.name +: SeqSchema.formerNames(f))))
    commit("evolve-schema", Nil, Set.empty,
      Map("schema-change" -> s"rename-column $oldName -> $newName"),
      propertyUpdates = Map("schema.json" -> next.json))
  }

  // ---------- layout evolution ----------

  /** The writer layout AT a snapshot (None = table default — callers fall back to their own
    * GridConfig). See [[TableLayout]]. */
  def layoutOf(s: Snapshot): Option[TableLayout] =
    s.properties.get("layout.json").map(Serialization.read[TableLayout](_))

  def currentLayout(): Option[TableLayout] = layoutOf(currentSnapshot())

  /** Declare the writer layout — a metadata-only commit; future maintenance/merge writes follow
    * it, existing files migrate as rewrites touch them (see [[TableLayout]]).
    */
  def setLayout(l: TableLayout): Snapshot =
    commit("set-layout", Nil, Set.empty,
      Map("layout-change" -> s"${l.curve} B=${l.sourceBuckets} binW=${l.ntokBinWidth}"),
      propertyUpdates = Map("layout.json" -> Serialization.write(l)))

  /** DROP COLUMN — the inverse evolution, for EVOLVED columns only (the base columns are
    * load-bearing: doc_id is the merge key, tokens the payload, n_tok/source the layout stats).
    * Metadata-only: data files keep the physical column until rewrites shed it; readers simply
    * stop projecting it. The dropped name history is retired (`schema.dropped` property):
    * reconciliation is by name, so a NAIVE re-add of the same name would RESURRECT stale values
    * from pre-drop files — instead [[addColumn]] detects retired names and re-adds them under a
    * fresh field-ID physical name (Iceberg's field-ID indirection, adapted to plain parquet —
    * see [[SeqSchema.PhysicalNameKey]]).
    */
  def dropColumn(name: String): Snapshot = {
    require(!SeqSchema.schema.fieldNames.exists(_.equalsIgnoreCase(name)),
      s"dropColumn($name): base columns cannot be dropped")
    val cur = currentSchema()
    require(cur.fieldNames.exists(_.equalsIgnoreCase(name)),
      s"dropColumn($name): no such column")
    val next = org.apache.spark.sql.types.StructType(
      cur.fields.filterNot(_.name.equalsIgnoreCase(name)))
    // a renamed column retires its WHOLE name history (logical + physical + formers): any of
    // those physical names could still live in un-rewritten files. Retired names CAN come back
    // via addColumn's field-ID indirection — the retirement list is what routes a re-add onto a
    // fresh physical name instead of the dead generation's column.
    val history = cur.fields.find(_.name.equalsIgnoreCase(name)).toSeq
      .flatMap(f => Seq(f.name.toLowerCase, SeqSchema.physicalName(f).toLowerCase) ++
        SeqSchema.formerNames(f).map(_.toLowerCase)).distinct
    val dropped = currentSnapshot().properties.getOrElse("schema.dropped", "")
    val retired = (dropped.split(",").filter(_.nonEmpty) ++ history).distinct
    commit("evolve-schema", Nil, Set.empty,
      Map("schema-change" -> s"drop-column $name"),
      propertyUpdates = Map(
        "schema.json" -> next.json,
        "schema.dropped" -> retired.mkString(",")))
  }

  // ---------- commit ----------

  final class CommitConflictException(msg: String) extends RuntimeException(msg)

  /** Optimistically commit `added` files and remove `removedPaths`, on top of the current head.
    * Retries with rebase on version races; throws CommitConflictException when a concurrent commit
    * already removed (rewrote) any of our `removedPaths` — the caller must re-plan from the new
    * snapshot (this is what makes two overlapping MERGE INTOs serialize: one wins, one replans).
    *
    * @param plannedDeleteManifests REQUIRED from every committer that REWRITES existing rows
    *   (COW merge, compaction, delete materialization): the delete manifests of the snapshot the
    *   rewrite was planned from. Rewritten files get `addedAt = base+1`, which outranks every
    *   delete sequence number — so if a concurrent MoR merge added a delete manifest after the
    *   plan, silently rebasing over it would RESURRECT the rows it deleted inside our rewritten
    *   files (Iceberg's `validateNoNewDeleteFiles` guard, public design). We conflict instead and
    *   the caller replans with the new deletes applied.
    * @param editPlanner how to locate-and-rewrite the manifests that lost files: None = the
    *   driver edit below (narrow membership scan, FULL parse of touched manifests only);
    *   Some(f) = an external planner — [[graft.table.SeqIO.distributedManifestEdit]] runs the
    *   whole edit as executor-side joins + a parquet manifest write, so the driver parses ZERO
    *   manifest entries (the 10^7-file path). Either way the edit is re-run per CAS attempt
    *   against the rebased head.
    */
  def commit(
      operation: String,
      added: Seq[FileMeta],
      removedPaths: Set[String],
      summary: Map[String, String] = Map.empty,
      maxRetries: Int = 20,
      addedDeleteManifests: Seq[String] = Nil,
      removedDeleteManifests: Set[String] = Set.empty,
      expectedBase: Option[Long] = None,
      plannedDeleteManifests: Option[Set[String]] = None,
      propertyUpdates: Map[String, String] = Map.empty,
      requireAbsentProperties: Seq[String] = Nil,
      propertyRemovals: Set[String] = Set.empty,
      ref: String = "",
      requirePropertyEquals: Map[String, Option[String]] = Map.empty,
      editPlanner: Option[(Snapshot, Set[String]) => SeqTable.ManifestEdit] = None,
      // lost-update fence for POSITION deletes: a deletion-vector commit is only valid while its
      // target files are still live — a concurrent rewrite of one (compaction, COW merge,
      // materialization) would strand the DV on a dead basename and resurrect the rows in the
      // replacement file. Re-validated against the rebased head on every CAS attempt.
      requireLivePaths: Set[String] = Set.empty,
      // distributed membership check for the 10^7-file path (same contract shape as editPlanner):
      // returns the subset of requireLivePaths MISSING from the snapshot's manifests. Default =
      // driver narrow scan (bloom-free, stops once all paths are found).
      livePathsChecker: Option[(Snapshot, Set[String]) => Set[String]] = None): Snapshot = {
    var attempt = 0
    while (true) {
      // ref = "" commits to MAIN; ref = <branchName> commits to that branch's own CAS chain
      // (same rebase/conflict/carry-forward machinery, different head + snapshot namespace)
      val base = if (ref.isEmpty) currentSnapshot() else branchHead(ref)
      // sequence-sensitive commits (MoR deletes embed seq = base+1) must not silently rebase
      expectedBase.foreach { v =>
        if (base.version != v)
          throw new CommitConflictException(
            s"commit($operation): expected base v$v but head is v${base.version}")
      }
      // idempotence fence, checked against the BASE inside the CAS loop (not once up front):
      // two racing publishes of the same staged commit both pass an entry check, but the loser's
      // rebase re-reads the winner's property and aborts here instead of double-appending
      requireAbsentProperties.foreach { key =>
        if (base.properties.contains(key))
          throw new CommitConflictException(
            s"commit($operation): property '$key' already present — fenced commit refused")
      }
      // equality fence: the commit is valid only against the property state the caller planned
      // on (e.g. a CDC consumer's own offset) — a racer that moved it first wins, this one
      // fails loudly instead of silently regressing the property on rebase
      requirePropertyEquals.foreach { case (key, expected) =>
        if (base.properties.get(key) != expected)
          throw new CommitConflictException(
            s"commit($operation): property '$key' is ${base.properties.get(key)} but this " +
              s"commit was planned against $expected — stale fenced commit refused")
      }
      plannedDeleteManifests.foreach { planned =>
        val appeared = base.deleteManifests.toSet -- planned -- addedDeleteManifests
        if (appeared.nonEmpty)
          throw new CommitConflictException(
            s"commit($operation): concurrent delete manifests appeared since the plan " +
              s"(${appeared.take(3).mkString(", ")}); rewriting now would resurrect deleted rows")
      }
      if (requireLivePaths.nonEmpty) {
        val missing = livePathsChecker match {
          case Some(f) => f(base, requireLivePaths)
          case None =>
            val remaining = scala.collection.mutable.HashSet.empty[String] ++= requireLivePaths
            val it = base.manifests.iterator
            while (remaining.nonEmpty && it.hasNext)
              readManifestNarrow(it.next()).foreach(e => remaining -= e.path)
            remaining.toSet
        }
        if (missing.nonEmpty)
          throw new CommitConflictException(
            s"commit($operation): target files no longer live " +
              s"(${missing.take(3).mkString(", ")}) — position deletes against rewritten files " +
              "refused (lost-update fence)")
      }
      // base live-file count for the summary: every commit records it, so reading it back is
      // free; only legacy snapshots fall back to a (narrow, bloom-free) manifest count
      val baseCount: Long = base.summary.get("total-files").flatMap(_.toLongOption)
        .getOrElse(base.manifests.iterator.map(readManifestNarrow(_).size.toLong).sum)

      // manifest edit: pure-append commits carry every base manifest untouched (ZERO manifest
      // reads); removals locate-and-rewrite only the manifests that lost files — via the driver
      // edit (narrow membership scan; full parse of TOUCHED manifests only, so the bloom bytes
      // the driver holds are change-proportional, never table-proportional) or the caller's
      // distributed planner (see @param editPlanner)
      val edit: SeqTable.ManifestEdit =
        if (removedPaths.isEmpty) SeqTable.ManifestEdit(base.manifests, Nil, Set.empty)
        else editPlanner match {
          case Some(f) => f(base, removedPaths)
          case None => driverManifestEdit(base, removedPaths)
        }
      if (edit.missing.nonEmpty)
        throw new CommitConflictException(
          s"commit($operation): files already rewritten by a concurrent commit: " +
            s"${edit.missing.take(3).mkString(", ")} …")
      val newManifests = edit.kept ++ edit.rewritten ++
        (if (added.nonEmpty) Seq(writeManifest(added.map(_.copy(addedAt = base.version + 1)))) else Nil)

      val next = Snapshot(base.version + 1, base.version, operation, newManifests,
        summary ++ Map(
          "added-files" -> added.size.toString,
          "removed-files" -> removedPaths.size.toString,
          "total-files" -> (baseCount - removedPaths.size + added.size).toString),
        System.currentTimeMillis(),
        base.deleteManifests.filterNot(removedDeleteManifests) ++ addedDeleteManifests,
        base.properties -- propertyRemovals ++ propertyUpdates)
      try {
        writeSnapshotFile(next, ref)
        if (ref.isEmpty) writeVersionHint(next.version)
        return next
      } catch {
        case _: FileAlreadyExistsException =>
          attempt += 1
          if (attempt > maxRetries)
            throw new CommitConflictException(s"commit($operation): lost the version race $maxRetries times")
        // loop: re-read head, re-validate, rebase
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Driver-side manifest edit: membership tested on NARROW reads (no bloom bytes), and only
    * the manifests that actually lost files are parsed full-width — the survivor rewrite must
    * carry their docBloom forward. If any removed path is found in no manifest, nothing is
    * written and the conflict surfaces via `missing`.
    */
  private def driverManifestEdit(base: Snapshot, removedPaths: Set[String]): SeqTable.ManifestEdit = {
    val kept = scala.collection.mutable.ArrayBuffer.empty[String]
    val touched = scala.collection.mutable.ArrayBuffer.empty[String]
    val found = scala.collection.mutable.HashSet.empty[String]
    base.manifests.foreach { m =>
      var hit = false
      readManifestNarrow(m).foreach { e =>
        if (removedPaths.contains(e.path)) { hit = true; found += e.path }
      }
      if (hit) touched += m else kept += m
    }
    val missing = removedPaths.diff(found)
    if (missing.nonEmpty) return SeqTable.ManifestEdit(kept.toSeq, Nil, missing)
    val survivors = touched.toSeq.flatMap(readManifest).filterNot(e => removedPaths.contains(e.path))
    SeqTable.ManifestEdit(kept.toSeq,
      if (survivors.nonEmpty) Seq(writeManifest(survivors)) else Nil, Set.empty)
  }

  private def writeSnapshotFile(s: Snapshot, ref: String = ""): Unit = {
    val tmp = Files.createTempFile(metaDir, ".tmp-snap", ".json")
    Files.writeString(tmp, Serialization.write(s))
    // the commit's compare-and-swap: hard-link creation is EEXIST-atomic (POSIX), unlike
    // Files.move without REPLACE_EXISTING whose exists-check+rename is a TOCTOU race — two
    // concurrent committers could both "win" and one commit would be silently lost
    val name = if (ref.isEmpty) s"v${s.version}.json" else s"branch-$ref-v${s.version}.json"
    try Files.createLink(metaDir.resolve(name), tmp)
    finally Files.deleteIfExists(tmp)
  }

  private def writeVersionHint(v: Long): Unit = {
    val tmp = Files.createTempFile(metaDir, ".tmp-hint", ".txt")
    Files.writeString(tmp, v.toString)
    Files.move(tmp, metaDir.resolve("version-hint.text"),
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
  }

  // ---------- write-audit-publish (staged commits) ----------

  /** WRITE-AUDIT-PUBLISH staging (Iceberg's WAP / stage-only commits, public design): materialize
    * an append's files + manifests and record them in a `staged-<id>.json` snapshot file that is
    * NOT part of the version chain — invisible to every reader, time travel, scan and maintenance
    * op until [[publishStaged]] adopts it. The audit step reads the staged rows in isolation
    * ([[SeqIO.readStaged]]), and a rejected batch is reclaimed with [[discardStaged]] without
    * ever having touched the table. Staged files/manifests are shielded from [[removeOrphans]]
    * (the staged snapshot references them) but not from a user's own discard.
    *
    * The staged snapshot stores ONLY the batch's own manifests (`version` = -1; `parent` = the
    * head at staging time, recorded for audit provenance — publish rebases onto whatever head is
    * current, like any append).
    */
  def stageCommit(operation: String, added: Seq[FileMeta],
      summary: Map[String, String] = Map.empty): String = {
    val id = java.util.UUID.randomUUID().toString.take(12)
    val m = if (added.nonEmpty) Seq(writeManifest(added)) else Nil
    val s = Snapshot(-1L, currentVersion(), operation, m,
      summary ++ Map("staged-files" -> added.size.toString),
      System.currentTimeMillis())
    val tmp = Files.createTempFile(metaDir, ".tmp-staged", ".json")
    Files.writeString(tmp, Serialization.write(s))
    Files.move(tmp, metaDir.resolve(s"staged-$id.json"), StandardCopyOption.ATOMIC_MOVE)
    id
  }

  /** Ids of all outstanding staged commits (audit queue). */
  def stagedIds(): Seq[String] =
    SeqTable.listDir(metaDir).iterator
      .map(_.getFileName.toString)
      .collect { case n if n.startsWith("staged-") && n.endsWith(".json") =>
        n.stripPrefix("staged-").stripSuffix(".json") }
      .toSeq.sorted

  def stagedSnapshot(id: String): Snapshot =
    Serialization.read[Snapshot](Files.readString(metaDir.resolve(s"staged-$id.json")))

  /** Adopt a staged commit into the version chain — a normal CAS append commit (rebase on
    * conflicts, addedAt re-stamped at publish time), EXACTLY ONCE and IDEMPOTENT: the publish
    * records `wap.published.<id>` in the table properties, and the commit loop's
    * requireAbsentProperty fence refuses a second append of the same stage even when two
    * publishes race. A REPLAYED publish (crash between commit and staged-metadata cleanup, or a
    * retried driver) finds the property, finishes the cleanup and returns the head — never a
    * double append, never a spurious failure. The data files are adopted in place (no copy).
    */
  def publishStaged(id: String, maxRetries: Int = 20): Snapshot = {
    val stagedFile = metaDir.resolve(s"staged-$id.json")
    val key = s"wap.published.$id"
    val discardKey = s"wap.discarded.$id"
    def alreadyPublished(): Boolean = currentSnapshot().properties.contains(key)
    def alreadyDiscarded(): Boolean = currentSnapshot().properties.contains(discardKey)
    def cleanup(staged: Snapshot): Unit = {
      staged.manifests.foreach(uncacheManifestFile)
      Files.deleteIfExists(stagedFile); ()
    }
    if (!Files.exists(stagedFile)) {
      if (alreadyPublished()) return currentSnapshot() // fully-cleaned replay: idempotent no-op
      if (alreadyDiscarded())
        throw new CommitConflictException(s"publishStaged($id): stage was discarded")
      throw new CommitConflictException(s"publishStaged($id): no such staged commit")
    }
    val staged = stagedSnapshot(id)
    if (alreadyPublished()) { cleanup(staged); return currentSnapshot() } // crash-window replay
    val entries = staged.manifests.flatMap(readManifest)
    val next =
      try commit(staged.operation, entries, Set.empty,
        staged.summary + ("published-from-stage" -> id),
        maxRetries = maxRetries,
        // the KEY is the fence; the value is provenance only (the publish version itself is in
        // the commit summary's published-from-stage entry — recording it here would race rebase).
        // The discarded key is fenced too: a discard claims the stage with its own property
        // commit BEFORE deleting any staged file, so a publish racing a discard fails HERE, on
        // the rebase re-read, instead of committing a snapshot over deleted data files.
        propertyUpdates = Map(key -> staged.ts.toString),
        requireAbsentProperties = Seq(key, discardKey))
      catch {
        // a property-fence conflict is either OUR key (a concurrent publish of the same stage
        // won — adopt its result) or the discard claim (the audit rejected the batch first)
        case _: CommitConflictException if alreadyPublished() =>
          cleanup(staged); return currentSnapshot()
        case e: CommitConflictException if alreadyDiscarded() =>
          throw new CommitConflictException(
            s"publishStaged($id): stage was discarded concurrently (${e.getMessage})")
      }
    cleanup(staged)
    next
  }

  /** Drop a staged commit that failed its audit: CLAIMS the stage first with a
    * `wap.discarded.<id>` property commit through the same CAS fence publishes use — a publish
    * racing this discard (it may already have read the staged entries) trips on the claim at its
    * rebase and fails loudly, instead of committing a head snapshot that references files this
    * discard is about to delete — then deletes its data files, manifests and the staged snapshot
    * file. Refused once published (the data files are then live table content). A replayed
    * discard (crash between claim and deletion) finds the claim and completes the cleanup.
    */
  def discardStaged(id: String): Unit = {
    val stagedFile = metaDir.resolve(s"staged-$id.json")
    if (!Files.exists(stagedFile)) return
    if (currentSnapshot().properties.contains(s"wap.published.$id"))
      throw new IllegalStateException(
        s"discardStaged($id): already published — its files are live table content")
    val discardKey = s"wap.discarded.$id"
    if (!currentSnapshot().properties.contains(discardKey)) {
      try commit("wap-discard", Nil, Set.empty, Map("discarded-stage" -> id),
        propertyUpdates = Map(discardKey -> System.currentTimeMillis().toString),
        requireAbsentProperties = Seq(s"wap.published.$id", discardKey))
      catch {
        case e: CommitConflictException =>
          if (currentSnapshot().properties.contains(s"wap.published.$id"))
            throw new IllegalStateException(
              s"discardStaged($id): published concurrently — its files are live table content")
          // a racing discard of the same id claimed it — fall through and share the cleanup
          if (!currentSnapshot().properties.contains(discardKey)) throw e
      }
    }
    val staged = stagedSnapshot(id)
    staged.manifests.flatMap(readManifest)
      .foreach(f => Files.deleteIfExists(Paths.get(root).resolve(f.path)))
    staged.manifests.foreach(uncacheManifestFile)
    Files.deleteIfExists(stagedFile); ()
  }

  // ---------- branches (named WRITABLE refs) ----------

  /** BRANCHES generalize write-audit-publish from one staged commit to a whole audited CHAIN:
    * a branch is its own CAS snapshot lineage (`branch-<name>-v<K>.json`, versions continuing
    * the main base's numbering) seeded from the main head it forked from. Any number of commits
    * land on the branch through the SAME [[commit]] machinery (rebase, conflict checks,
    * manifest carry-forward — `ref = name`), readers see it only via [[branchHead]]-pinned
    * reads, and [[fastForward]] publishes the whole chain onto main atomically — refusing
    * LOUDLY if main advanced past the fork point (Iceberg's fast-forward-only branch publish,
    * public design). Branch-referenced data lives in the shared data/metadata dirs: branch
    * manifests are invisible to main expiry (never reaped), the fork-point main version is
    * retention-pinned like a tag ([[branchPinnedVersions]]), and [[removeOrphans]] treats every
    * branch snapshot's files as referenced. [[dropBranch]] deletes the chain's snapshot files;
    * its unpublished data files become age-guarded orphans.
    */
  private val BranchFileRe = "^branch-(.+)-v([0-9]+)\\.json$".r

  def branchNames(): Seq[String] =
    SeqTable.listDir(metaDir).iterator
      .map(_.getFileName.toString)
      .collect { case BranchFileRe(name, _) => name }
      .toSeq.distinct.sorted

  def branchVersions(name: String): Seq[Long] =
    SeqTable.listDir(metaDir).iterator
      .map(_.getFileName.toString)
      .collect { case BranchFileRe(n, v) if n == name => v.toLong }
      .toSeq.sorted

  def branchSnapshot(name: String, version: Long): Snapshot =
    Serialization.read[Snapshot](
      Files.readString(metaDir.resolve(s"branch-$name-v$version.json")))

  def branchHead(name: String): Snapshot = {
    val vs = branchVersions(name)
    require(vs.nonEmpty, s"branchHead($name): no such branch")
    branchSnapshot(name, vs.max)
  }

  /** The MAIN version the branch forked from (its lowest snapshot is a copy of that head). */
  def branchBaseVersion(name: String): Long = {
    val vs = branchVersions(name)
    require(vs.nonEmpty, s"branchBaseVersion($name): no such branch")
    vs.min
  }

  /** Fork a branch from the current main head. Create-vs-create races lose cleanly on the
    * EEXIST-atomic link of the seed snapshot.
    */
  def createBranch(name: String): Snapshot = {
    require(name.nonEmpty && name.forall(c => c.isLetterOrDigit || c == '_' || c == '.' || c == '-'),
      s"createBranch($name): branch names are [A-Za-z0-9_.-]+")
    require(branchVersions(name).isEmpty, s"createBranch($name): branch exists")
    val base = currentSnapshot()
    val seed = base.copy(operation = "branch",
      summary = base.summary + ("branch-from" -> base.version.toString))
    writeSnapshotFile(seed, ref = name) // EEXIST-atomic: a concurrent create fails loudly
    seed
  }

  /** Publish the branch onto main: ONE atomic main commit adopting the branch head's content.
    * Requires main to still be AT the fork point — if anything committed to main since, this
    * fails loudly (inside the CAS loop, so a racing main commit cannot slip between the check
    * and the link) and the caller re-forks from the new head.
    *
    * Files the BRANCH added carry `addedAt` stamps from the branch's own version numbering
    * (fork+1 … fork+k), which lands ABOVE the published main version (fork+1): a later MoR
    * delete at main seq fork+2 would skip rows stamped fork+2 (`_del_seq > _added` fails) and
    * silently resurrect them. So publish RE-STAMPS every adopted entry with `addedAt >` fork to
    * the publish version — the exact re-stamp `publishStaged` gets from `commit()` — by
    * rewriting only the manifests that contain such entries (manifest-sized work; carried base
    * manifests keep their shared names). Branch-side MoR delete manifests are REFUSED loudly:
    * re-stamping collapses the branch's internal version order, so a delete committed on the
    * branch could start hiding branch rows it never applied to — materialize deletes on the
    * branch before publishing (documented slice boundary until per-file sequence numbers).
    *
    * If the branch only ADDED files (no base file rewritten/removed), the publish commits as an
    * append-family operation: the incremental append scan and the appends-mode streaming source
    * deliver exactly the branch's rows (the WAP-publish contract). A branch that also rewrote
    * base files publishes as `fast-forward` (non-append): its added files are partly COPIES of
    * already-delivered rows, which the append changelog must never redeliver.
    */
  def fastForward(name: String): Snapshot = {
    val head = branchHead(name)
    val baseV = branchBaseVersion(name)
    while (true) {
      val main = currentSnapshot()
      require(main.version == baseV,
        s"fastForward($name): main advanced to v${main.version} past the fork point v$baseV — " +
          "recreate the branch from the new head and replay")
      if (head.version == baseV) return main // empty branch: nothing to adopt
      require((head.deleteManifests.toSet -- main.deleteManifests.toSet).isEmpty,
        s"fastForward($name): the branch added its own merge-on-read delete manifests — " +
          "re-stamping cannot preserve their ordering; materialize deletes on the branch first")
      val publishV = main.version + 1
      val manifests = head.manifests.map { m =>
        val entries = readManifest(m)
        if (entries.forall(_.addedAt <= baseV)) m // carried from the base: share the name
        else writeManifest(entries.map(e =>
          if (e.addedAt > baseV) e.copy(addedAt = publishV) else e))
      }
      val basePaths = liveFiles(main).map(_.path).toSet
      val headFiles = liveFiles(head)
      val appendOnly = basePaths.subsetOf(headFiles.map(_.path).toSet)
      val next = Snapshot(publishV, main.version,
        if (appendOnly) "append" else "fast-forward", manifests,
        Map("fast-forward-branch" -> name,
          "branch-commits" -> (head.version - baseV).toString,
          "total-files" -> headFiles.size.toString),
        System.currentTimeMillis(), head.deleteManifests, head.properties)
      try {
        writeSnapshotFile(next)
        writeVersionHint(next.version)
        return next
      } catch {
        case _: FileAlreadyExistsException => // a main commit won the version: re-check (→ loud)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Delete the branch's snapshot chain. Unpublished branch data files lose their last
    * reference and become [[removeOrphans]] candidates (age-guarded).
    */
  def dropBranch(name: String): Unit = {
    val vs = branchVersions(name)
    require(vs.nonEmpty, s"dropBranch($name): no such branch")
    vs.foreach(v => Files.deleteIfExists(metaDir.resolve(s"branch-$name-v$v.json")))
  }

  /** Fork-point main versions of live branches, still present in the chain — retention-pinned
    * by both expiry paths (the branch carries the fork head's manifests forward; reaping the
    * fork version would delete shared manifests/files out from under the branch).
    */
  private[table] def branchPinnedVersions(): Set[Long] = {
    val present = snapshotVersions().toSet
    branchNames().map(branchBaseVersion).toSet.intersect(present)
  }

  // ---------- tags (named snapshot refs) ----------

  /** The head's tags: name → pinned snapshot version. Tags live in table properties
    * (`tag.<name>`), so they are CAS-consistent (two racing createTag calls serialize through
    * the commit loop), carried forward by every commit, and survive rollback — and BOTH
    * snapshot-expiry paths keep every tagged version and everything it references
    * (Iceberg tag refs + retention, public design): a tagged training-set release stays
    * time-travelable until the tag is dropped, regardless of `keepLast`.
    */
  def tags(): Map[String, Long] =
    currentSnapshot().properties.collect {
      case (k, v) if k.startsWith("tag.") => k.stripPrefix("tag.") -> v.toLong
    }

  /** Tag a retained snapshot (default: the head) — a metadata-only commit. */
  def createTag(name: String, version: Long = -1L): Snapshot = {
    require(name.nonEmpty && !name.exists(c => c == ',' || c == '=' || c.isWhitespace),
      s"createTag($name): tag names must be non-empty with no whitespace/','/'='")
    val v = if (version < 0) currentVersion() else version
    require(snapshotVersions().contains(v), s"createTag($name): version $v is not retained")
    // the absent-property fence makes create-vs-create race-safe: the loser's rebase sees the
    // winner's tag and refuses instead of silently repointing it
    commit("tag", Nil, Set.empty, Map("tag" -> s"$name=v$v"),
      propertyUpdates = Map(s"tag.$name" -> v.toString),
      requireAbsentProperties = Seq(s"tag.$name"))
  }

  /** Drop a tag — the pinned version becomes reclaimable by the next expiry. */
  def dropTag(name: String): Snapshot = {
    require(tags().contains(name), s"dropTag($name): no such tag")
    commit("untag", Nil, Set.empty, Map("tag" -> s"-$name"),
      propertyRemovals = Set(s"tag.$name"))
  }

  /** Versions pinned by tags AND still present in the version chain (a tag whose snapshot file
    * a PRE-TAGS build already expired must not wedge expiry forever).
    */
  private[table] def taggedVersions(): Set[Long] = {
    val present = snapshotVersions().toSet
    tags().values.toSet.intersect(present)
  }

  // ---------- snapshot expiry ----------

  /** Drop all but the newest `keepLast` snapshots — PLUS every tagged version ([[tags]]), which
    * stays fully readable (snapshot file, manifests, data files) until untagged; physically
    * delete data files and manifests reachable only from expired snapshots. Returns (expired
    * snapshot versions, deleted data files).
    */
  def expireSnapshots(keepLast: Int): (Seq[Long], Seq[String]) = {
    val versions = snapshotVersions()
    val keep =
      versions.takeRight(math.max(1, keepLast)).toSet ++ taggedVersions() ++ branchPinnedVersions()
    val expired = versions.filterNot(keep)
    if (expired.isEmpty) return (Nil, Nil)

    val keptSnaps = keep.toSeq.sorted.map(snapshot)
    val liveManifests = keptSnaps.flatMap(_.manifests).toSet
    val liveDeleteManifests = keptSnaps.flatMap(_.deleteManifests).toSet
    val livePaths = keptSnaps.flatMap(liveFiles).map(_.path).toSet

    val deadFiles = scala.collection.mutable.LinkedHashSet.empty[String]
    val deadManifests = scala.collection.mutable.LinkedHashSet.empty[String]
    expired.map(snapshot).foreach { s =>
      s.manifests.foreach { m =>
        if (!liveManifests.contains(m)) {
          deadManifests += m
          readManifest(m).foreach { f => if (!livePaths.contains(f.path)) deadFiles += f.path }
        }
      }
      s.deleteManifests.foreach { d => if (!liveDeleteManifests.contains(d)) deadManifests += d }
    }
    deadFiles.foreach(p => Files.deleteIfExists(Paths.get(root).resolve(p)))
    deadManifests.foreach(uncacheManifestFile)
    expired.foreach(v => Files.deleteIfExists(metaDir.resolve(s"v$v.json")))
    (expired, deadFiles.toSeq)
  }

  /** Delete data files in `data/` referenced by NO retained snapshot and older than
    * `olderThanMs` — crash leftovers: a writer that died between materializing files and its
    * commit (or lost a conflict before its cleanup ran) strands files forever; expiry can't see
    * them because no manifest ever did. Unreferenced manifests and the `.tmp-*` staging of a
    * writer that died mid-write go the same way. The age guard keeps in-flight writers' fresh
    * files safe (Iceberg's RemoveOrphanFiles contract, public design). Returns deleted relative
    * paths (a staging directory counts as one).
    *
    * The default retention is 3 DAYS (Iceberg's default): it must exceed the longest possible
    * write-before-commit duration, or a legitimately slow writer (a 100-TB merge can materialize
    * files for hours) has its uncommitted files deleted out from under it — its commit then
    * succeeds referencing missing files and the table is corrupt. Lower it only when no writer
    * can be in flight.
    */
  def removeOrphans(olderThanMs: Long = 3L * 24 * 3600 * 1000): Seq[String] = {
    val now = System.currentTimeMillis()
    // staged (write-audit-publish) commits and BRANCH snapshots reference real data files +
    // manifests that no main-chain snapshot knows about — they are NOT orphans until the user
    // discards/drops them
    val snaps = snapshotVersions().map(snapshot) ++ stagedIds().map(stagedSnapshot) ++
      branchNames().flatMap(n => branchVersions(n).map(v => branchSnapshot(n, v)))
    val referenced = snaps.flatMap(liveFiles).map(_.path).toSet
    val dead = SeqTable.listDir(dataDir).iterator
      .filter(p => Files.isRegularFile(p))
      .filter(p => !p.getFileName.toString.startsWith(".")) // tmp staging: debris below
      .map(p => Paths.get(root).relativize(p).toString -> p)
      .filter { case (rel, p) =>
        !referenced.contains(rel) &&
          now - Files.getLastModifiedTime(p).toMillis >= olderThanMs
      }
      .toSeq
    dead.foreach { case (_, p) => Files.deleteIfExists(p); () }
    // manifest files referenced by NO snapshot — a writer that crashed between publishing its
    // manifests into metadata/ and its CAS commit (rewriteManifestsDistributed moves part files
    // first; commit() writes manifests before the snapshot) strands them exactly like data
    // files; expiry can't see them (no snapshot ever did). Same age guard as above.
    val refManifests = snaps.flatMap(s => s.manifests ++ s.deleteManifests).toSet
    val deadManifests = SeqTable.listDir(metaDir).iterator
      .map(_.getFileName.toString)
      .filter(n => n.startsWith("manifest-") || n.startsWith("delete-"))
      .filterNot(refManifests)
      .filter(n => now - Files.getLastModifiedTime(metaDir.resolve(n)).toMillis >= olderThanMs)
      .toSeq
    deadManifests.foreach(uncacheManifestFile)
    // crash debris: the `.tmp-*` staging of a writer that died mid-write — a data write's
    // `data/.tmp-<batch>/`, a part write's `metadata/.tmp-parts-*/`, and the snapshot, version
    // hint and staged-commit temp files. Same age guard, taken from the newest mtime under the
    // entry: a live writer keeps creating files deep inside its staging directory, so it
    // survives however old the directory itself is.
    val debris = Seq("data" -> dataDir, "metadata" -> metaDir).flatMap { case (rel, dir) =>
      SeqTable.listDir(dir).map(_.getFileName.toString).filter(_.startsWith(".tmp-"))
        .filter(n => now - newestMtime(dir.resolve(n)) >= olderThanMs)
        .map(n => s"$rel/$n")
    }
    debris.foreach(d => SeqIO.deleteTree(Paths.get(root).resolve(d)))
    dead.map(_._1) ++ deadManifests.map(n => s"metadata/$n") ++ debris
  }

  /** The newest modification time of `p` and everything under it; an entry that vanishes while
    * it is walked (its writer finished) counts as new. */
  private def newestMtime(p: Path): Long =
    try {
      val walk = Files.walk(p)
      try walk.iterator().asScala.map(Files.getLastModifiedTime(_).toMillis).max
      finally walk.close()
    } catch {
      case _: java.io.IOException | _: java.io.UncheckedIOException => Long.MaxValue
    }

  /** Merge all live manifests into one, entries sorted by (first source, minNtok) so range scans
    * touch contiguous manifest regions — the manifest-rewrite maintenance op.
    *
    * Runs through the same optimistic retry loop as [[commit]]: losing the version race to a
    * concurrent commit re-reads the new head and rebuilds from ITS manifests (a raw
    * writeSnapshotFile would surface the race as FileAlreadyExistsException — or worse, clobber a
    * commit's file edits with a stale manifest union).
    */
  def rewriteManifests(maxRetries: Int = 20): Snapshot =
    commitManifestRewrite("rewriteManifests", maxRetries) { base =>
      val entries = liveFiles(base).sortBy(f => (f.sources.headOption.getOrElse(""), f.minNtok, f.path))
      (Seq(writeManifest(entries)), entries.size.toLong)
    }

  /** ROLLBACK: make the table's content as-of snapshot `version` the new HEAD, as a NEW commit
    * (Iceberg's rollback model, public design) — history is preserved, the undone snapshots stay
    * readable until expiry, and a subsequent [[expireSnapshots]] reclaims the files that only the
    * undone commits reference.
    *
    * Content (manifests + outstanding merge-on-read delete manifests) comes from the TARGET
    * snapshot; table `properties` stay at the HEAD's values — they are table-level configuration
    * (streaming-ingest high-water marks, writer settings), not row content, exactly as in Iceberg
    * where properties live in table metadata outside any snapshot. A rolled-back stream batch is
    * therefore NOT redelivered: exactly-once bookkeeping survives the rollback, and re-ingesting
    * rolled-back rows is an explicit user action (reset the HWM property), never an accident.
    *
    * Runs the same optimistic CAS retry loop as every commit. Throws (NoSuchFileException) when
    * `version` is already expired — same contract as [[SeqIO.readAt]].
    */
  def rollbackTo(version: Long, maxRetries: Int = 20): Snapshot = {
    val target = snapshot(version) // fails loudly on an expired/unknown version
    var attempt = 0
    while (true) {
      val base = currentSnapshot()
      if (base.version == version) return base // already there: no-op, no empty commit
      val next = Snapshot(base.version + 1, base.version, "rollback", target.manifests,
        Map("rollback-to" -> version.toString,
          "total-files" -> target.summary.getOrElse("total-files",
            liveFiles(target).size.toString)),
        System.currentTimeMillis(), target.deleteManifests, base.properties)
      try {
        writeSnapshotFile(next)
        writeVersionHint(next.version)
        return next
      } catch {
        case _: FileAlreadyExistsException =>
          attempt += 1
          if (attempt > maxRetries)
            throw new CommitConflictException(s"rollbackTo($version): lost the version race $maxRetries times")
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** The CAS loop of a manifest-rewrite commit: `write` writes the replacement manifests for a
    * base (driver-side [[rewriteManifests]] or the distributed
    * [[graft.table.SeqIO.rewriteManifestsDistributed]]) and returns them with the live-file
    * count. The new snapshot references exactly those and — like every commit — CARRIES FORWARD
    * `base.deleteManifests` and `base.properties` (the table-properties contract at
    * [[Snapshot.properties]]: dropping them here silently erased streaming-ingest high-water
    * marks, breaking exactly-once after manifest rewrite + snapshot expiry). A lost version race
    * deletes the orphaned manifests and rebuilds from the new head.
    */
  private[table] def commitManifestRewrite(op: String, maxRetries: Int)(
      write: Snapshot => (Seq[String], Long)): Snapshot = {
    var attempt = 0
    while (true) {
      val base = currentSnapshot()
      val (manifests, totalFiles) = write(base)
      val next = Snapshot(base.version + 1, base.version, "rewrite-manifests", manifests,
        Map("manifests-before" -> base.manifests.size.toString,
          "manifests-after" -> manifests.size.toString,
          "total-files" -> totalFiles.toString),
        System.currentTimeMillis(), base.deleteManifests, base.properties)
      try {
        writeSnapshotFile(next)
        writeVersionHint(next.version)
        return next
      } catch {
        case _: FileAlreadyExistsException =>
          manifests.foreach(uncacheManifestFile)
          attempt += 1
          if (attempt > maxRetries)
            throw new CommitConflictException(s"$op: lost the version race $maxRetries times")
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Deletes a manifest file and drops it from both caches. */
  private[table] def uncacheManifestFile(name: String): Unit = {
    Files.deleteIfExists(metaDir.resolve(name))
    fullCache.remove(name); narrowCache.remove(name)
  }

  private[table] def metaDirPath: Path = metaDir
}
