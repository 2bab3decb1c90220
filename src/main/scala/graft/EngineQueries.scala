package graft

import java.nio.file.Files
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops._
import graft.planner.GridConfig
import graft.state.Checkpoint
import graft.table.{SeqIO, SeqTable}

/** Portable synthesized tokenized-sequence input: every value is a pure ANSI-SQL-expressible
  * function of `documents.parquet` (ascii codes of text prefixes), so the DuckDB oracle can
  * recompute the EXPECTED post-maintenance table content and the driver's hash compare becomes a
  * full content-equality proof for the engine lifecycle ops (FIXTURES.md §2; no external data).
  *
  * Row (doc, rep): doc_id = d%09d(docnum), tokens[j] = ascii(text[j]) + rep%7 for j in
  * 1..(16 + docnum%25), n_tok = len(tokens), source = documents.source, docnum = doc_id*reps+rep.
  * Every document text is ≥44 chars (all sf), so the 16..40-token prefix always exists.
  */
object PortableSeq {

  /** Replicas per document row — CONSTANT so the oracle SQL (dumped once, dir-independent) always
    * describes the same table the query built: sf0.01 (500 docs) → 20k rows.
    */
  def repsFor(dir: String): Int = 40

  /** Columns: doc_id (string), tokens (array<int>), n_tok (int), source (string), docnum (long). */
  def df(s: SparkSession, dir: String, reps: Int): DataFrame = {
    val docs = s.read.parquet(s"$dir/documents.parquet")
    val docnum = col("doc_id") * reps + col("rep")
    val len = (lit(16) + pmod(docnum, lit(25))).cast("int")
    docs
      .select(col("doc_id"), col("text"), col("source"),
        explode(sequence(lit(0), lit(reps - 1))).as("rep"))
      .select(
        format_string("d%09d", docnum).as("doc_id"),
        transform(sequence(lit(1), len),
          j => ascii(col("text").substr(j, lit(1))) + pmod(col("rep"), lit(7))).as("tokens"),
        len.as("n_tok"),
        col("source"),
        docnum.cast("long").as("docnum"))
  }

  /** DuckDB equivalent of [[df]] (same column names incl. docnum). */
  def sql(reps: Int): String =
    s"""SELECT printf('d%09d', doc_id*$reps + rep) AS doc_id,
       |  list_transform(generate_series(1, 16 + (doc_id*$reps+rep)%25),
       |    j -> ascii(substring(text, j::INT, 1)) + (rep%7)::INT) AS tokens,
       |  (16 + (doc_id*$reps+rep)%25) AS n_tok, source, (doc_id*$reps+rep) AS docnum
       |FROM documents CROSS JOIN (SELECT unnest(generate_series(0, ${reps - 1})) AS rep) _r""".stripMargin

  /** Canonical content projection: array payload reduced to a hashable scalar so the driver's
    * pandas-based compare can sort every column (arrays broke r01's q24).
    */
  def content(df: DataFrame): DataFrame = df.select(
    col("doc_id"),
    col("n_tok").cast("long").as("n_tok"),
    col("source"),
    md5(concat_ws(",", transform(col("tokens"), _.cast("string")))).as("tok_md5"))

  val contentColsSql: String =
    "doc_id, n_tok::BIGINT AS n_tok, source, md5(array_to_string(tokens, ',')) AS tok_md5"

  // ---- the portable change set (used by the MERGE queries and their oracles) ----
  // updates: docnum%10=3 (tokens+1 each, source → 'upd'); deletes: docnum%10=7;
  // inserts: new keys n%09d(docnum) for docnum%10=5, tokens reversed.

  def changes(port: DataFrame): DataFrame = {
    val upd = port.filter(pmod(col("docnum"), lit(10)) === 3)
      .select(col("doc_id"), transform(col("tokens"), _ + 1).as("tokens"),
        col("n_tok"), lit("upd").as("source"), lit("U").as("_op"))
    val ins = port.filter(pmod(col("docnum"), lit(10)) === 5)
      .select(format_string("n%09d", col("docnum")).as("doc_id"),
        reverse(col("tokens")).as("tokens"), col("n_tok"), col("source"), lit("U").as("_op"))
    val del = port.filter(pmod(col("docnum"), lit(10)) === 7)
      .select(col("doc_id"), col("tokens"), col("n_tok"), col("source"), lit("D").as("_op"))
    upd.unionByName(ins).unionByName(del)
  }

  /** Expected post-merge content (DuckDB): (port \ updated \ deleted) ∪ updates' ∪ inserts'. */
  def mergedContentSql(reps: Int): String =
    s"""WITH port AS (${sql(reps)})
       |SELECT $contentColsSql FROM port WHERE docnum%10 NOT IN (3, 7)
       |UNION ALL
       |SELECT doc_id, n_tok::BIGINT, 'upd',
       |  md5(array_to_string(list_transform(tokens, t -> t+1), ','))
       |FROM port WHERE docnum%10 = 3
       |UNION ALL
       |SELECT printf('n%09d', docnum), n_tok::BIGINT, source,
       |  md5(array_to_string(list_reverse(tokens), ','))
       |FROM port WHERE docnum%10 = 5""".stripMargin

  def portContentSql(reps: Int): String =
    s"WITH port AS (${sql(reps)}) SELECT $contentColsSql FROM port"
}

/** Engine-lifecycle queries for the driver harness: each synthesizes the PORTABLE deterministic
  * tokenized-sequence table, runs a maintenance operator end-to-end, and returns the resulting
  * table CONTENT — hash-verified against a DuckDB oracle that computes the expected content
  * independently. Engine invariants that the content hash can't see (file counts shrinking,
  * snapshots expiring) are enforced with hard `require`s inside the query, so a violation turns
  * the row red rather than passing silently.
  */
object EngineQueries {

  private def cfg = GridConfig()

  private def fresh(tag: String): String =
    Files.createTempDirectory(s"graft-$tag-").toString + "/tbl"

  /** Eagerly materialize the result content (localCheckpoint → executor blocks, a few MB at the
    * verify SF; no driver round-trip), then DELETE the query's scratch root(s): each engine query
    * otherwise stranded a multi-hundred-MB table under /tmp per Verify pass (the
    * [[Bench]]-cleanup discipline applied to the harness).
    */
  private def sealAndReclaim(content: DataFrame, roots: String*): DataFrame = {
    val out = content.localCheckpoint(true)
    roots.foreach { r =>
      val top = java.nio.file.Paths.get(r).getParent
      if (top != null && top.getFileName.toString.startsWith("graft-")) SeqIO.deleteTree(top)
    }
    out
  }

  private def targetFor(n: Long): Long = math.max(500L, n / 25)

  /** Build a deliberately fragmented table from the portable input. */
  private def fragmented(s: SparkSession, root: String, port: DataFrame, nFiles: Int): SeqTable = {
    val t = SeqTable.create(root)
    val metas = SeqIO.writeFiles(s, t,
      port.select("doc_id", "tokens", "n_tok", "source").repartition(nFiles, col("doc_id")))
    t.commit("append", metas, Set.empty)
    t
  }

  def compactionCycle(s: SparkSession, dir: String): DataFrame = {
    val reps = PortableSeq.repsFor(dir)
    val port = PortableSeq.df(s, dir, reps)
    val n = port.count()
    val table = fragmented(s, fresh("compact"), port, (n / 250).toInt.max(20))
    val filesBefore = table.liveFiles().size
    val opts = MaintenanceOptions(k = 16, targetRecordsPerFile = targetFor(n))
    val ckpt = new Checkpoint(s"${table.root}/state")
    var cycles = 0
    var go = true
    while (go && cycles < 12) {
      val r = MaintenanceRunner.runCycle(s, table, cfg, opts, ckpt)
      cycles += 1; go = r.tasksExecuted > 0
    }
    require(table.liveFiles().size < filesBefore,
      s"compaction did not reduce files: $filesBefore -> ${table.liveFiles().size}")
    // compaction must preserve content byte-for-byte
    sealAndReclaim(PortableSeq.content(SeqIO.read(s, table)), table.root)
  }

  def mergeInto(s: SparkSession, dir: String): DataFrame = {
    val reps = PortableSeq.repsFor(dir)
    val port = PortableSeq.df(s, dir, reps)
    val n = port.count()
    val table = fragmented(s, fresh("merge"), port, (n / 500).toInt.max(10))
    MergeInto.merge(s, table, PortableSeq.changes(port), cfg, targetFor(n))
    sealAndReclaim(PortableSeq.content(SeqIO.read(s, table)), table.root)
  }

  def mergeMor(s: SparkSession, dir: String): DataFrame = {
    val reps = PortableSeq.repsFor(dir)
    val port = PortableSeq.df(s, dir, reps)
    val n = port.count()
    val table = fragmented(s, fresh("mor"), port, (n / 500).toInt.max(10))
    val mr = MergeInto.merge(s, table, PortableSeq.changes(port), cfg, targetFor(n), mor = true)
    require(mr.filesRewritten == 0, "MoR merge must not rewrite data files")
    require(table.currentSnapshot().deleteManifests.nonEmpty, "MoR merge must add a delete manifest")
    // content read through the merge-on-read delete-application path (before materialization)
    sealAndReclaim(PortableSeq.content(SeqIO.read(s, table)), table.root)
  }

  def snapshotExpiry(s: SparkSession, dir: String): DataFrame = {
    val reps = PortableSeq.repsFor(dir)
    val port = PortableSeq.df(s, dir, reps).persist()
    val table = SeqTable.create(fresh("expire"))
    // five appends (rep-range batches) → five snapshots, then one compacting rewrite, then expiry
    val bounds = (0 to 5).map(i => i * reps / 5)
    bounds.sliding(2).foreach { case Seq(lo, hi) =>
      val batch = port.filter(pmod(col("docnum"), lit(reps)) >= lo &&
        pmod(col("docnum"), lit(reps)) < hi)
      val metas = SeqIO.writeFiles(s, table,
        batch.select("doc_id", "tokens", "n_tok", "source").repartition(4))
      table.commit("append", metas, Set.empty)
      ()
    }
    Rewrite.compactFiles(s, table, table.liveFiles(), cfg, targetFor(port.count()))
    val versionsBefore = table.snapshotVersions().size
    def dataFiles() = { val st = Files.list(table.dataDir); try st.count() finally st.close() }
    val diskBefore = dataFiles()
    table.expireSnapshots(keepLast = 1)
    val diskAfter = dataFiles()
    require(table.snapshotVersions().size < versionsBefore, "expiry removed no snapshots")
    require(diskAfter < diskBefore, "expiry deleted no unreachable data files")
    port.unpersist()
    // current snapshot content intact after expiry
    sealAndReclaim(PortableSeq.content(SeqIO.read(s, table)), table.root)
  }

  def scanPruning(s: SparkSession, dir: String): DataFrame = {
    val reps = PortableSeq.repsFor(dir)
    val port = PortableSeq.df(s, dir, reps)
    val n = port.count()
    val table = fragmented(s, fresh("prune"), port, (n / 250).toInt.max(20))
    val (_, before) = SeqIO.scanPruned(s, table, Some("src0"), Some(20), Some(30))
    Rewrite.compactFiles(s, table, table.liveFiles(), cfg, math.max(200L, n / 50))
    val (df, after) = SeqIO.scanPruned(s, table, Some("src0"), Some(20), Some(30))
    require(after.filesScanned < after.totalFiles,
      s"clustered scan pruned nothing: ${after.filesScanned}/${after.totalFiles}")
    require(after.filesScanned.toDouble / after.totalFiles <
      before.filesScanned.toDouble / before.totalFiles,
      "clustering did not improve pruning ratio")
    // pruned scan returns exactly the predicate's rows
    sealAndReclaim(PortableSeq.content(df), table.root)
  }

  def dedupTable(s: SparkSession, dir: String): DataFrame = {
    val reps = PortableSeq.repsFor(dir)
    val port = PortableSeq.df(s, dir, reps)
    // deliberate duplicates of every docnum%10=2 row under a doc_id that sorts AFTER the original
    val dupes = port.filter(pmod(col("docnum"), lit(10)) === 2)
      .withColumn("doc_id", format_string("x%09d", col("docnum")))
    val all = port.unionByName(dupes)
    val table = fragmented(s, fresh("dedup"), all, 12)
    val (deleted, _) = DedupTable.dedupExact(s, table, cfg, targetFor(port.count()))
    require(deleted > 0, "dedup found no duplicates despite injected ones")
    // survivors = min doc_id per distinct payload
    sealAndReclaim(PortableSeq.content(SeqIO.read(s, table)), table.root)
  }

  /** Table-level NEAR-dedup (q44): token-stream MinHash pairs → clusters → keep-min delete, on
    * the portable table's ORGANIC near-copies: replicas of one document with rep ≡ r (mod 7)
    * render identical token values and differ only in length (docnum-dependent), so shorter
    * replicas are shingle-prefixes of longer ones — exactly the truncated-copy shape near-dedup
    * exists for. The DuckDB oracle replays the whole pipeline (shingles → portable signatures →
    * bands → pairs → recursive-CTE closure → min-id survivors).
    */
  def nearDedupTable(s: SparkSession, dir: String): DataFrame = {
    val reps = PortableSeq.repsFor(dir)
    // every 8th DOCUMENT with all its replicas: keeps the per-doc organic dup structure intact
    // while bounding the DuckDB oracle's signature recomputation (full 20k rows cost it ~6 min)
    val port = PortableSeq.df(s, dir, reps)
      .filter(pmod(floor(col("docnum") / (reps * 1.0)).cast("long"), lit(8)) === 0)
    val table = fragmented(s, fresh("neardedup"), port, 12)
    val (deleted, _) = DedupTable.dedupNear(s, table, cfg, targetFor(port.count()), portable = true)
    require(deleted > 0, "near-dedup must find the organic prefix near-copies")
    sealAndReclaim(PortableSeq.content(SeqIO.read(s, table)), table.root)
  }

  /** Two-phase incremental maintenance (reference algo 6, partial recompute): phase 1 compacts to
    * a stable state with `incremental = true` (first plan runs ALL nodes — no cache); an append
    * then dirties only the cells of one source; phase 2's plan must recompute ONLY a strict
    * subset of the nodes (the dirtied ones), proven by the planner-run hook, while the final
    * content equals port ∪ appended rows.
    */
  def incrementalCycles(s: SparkSession, dir: String): DataFrame = {
    val reps = PortableSeq.repsFor(dir)
    val port = PortableSeq.df(s, dir, reps)
    val n = port.count()
    val table = fragmented(s, fresh("incr"), port, (n / 250).toInt.max(20))
    val opts = MaintenanceOptions(k = 16, targetRecordsPerFile = targetFor(n), incremental = true)
    val ckpt = new Checkpoint(s"${table.root}/state")
    val runs = scala.collection.mutable.ArrayBuffer.empty[Set[Int]]
    val hook: (Set[Int], Int) => Unit = (nodes, _) => { runs += nodes; () }

    var cycles = 0
    var go = true
    while (go && cycles < 12) {
      val r = MaintenanceRunner.runCycle(s, table, cfg, opts, ckpt, onPlannerRun = hook)
      cycles += 1; go = r.tasksExecuted > 0
    }
    val allNodes = runs.head // first plan has no cache → every occupied node ran

    // dirty a narrow slice of the grid: append new-keyed rows of ONE source
    val extra = port.filter(col("source") === "src3" && pmod(col("docnum"), lit(10)) === 4)
      .select(format_string("a%09d", col("docnum")).as("doc_id"),
        col("tokens"), col("n_tok"), col("source"))
    val metas = SeqIO.writeFiles(s, table, extra.repartition(2))
    require(metas.nonEmpty, "append produced no files — the dirty-slice premise is void")
    table.commit("append", metas, Set.empty)

    runs.clear()
    MaintenanceRunner.runCycle(s, table, cfg, opts, ckpt, onPlannerRun = hook)
    val ran2 = runs.foldLeft(Set.empty[Int])(_ ++ _)
    require(ran2.nonEmpty, "post-append plan recomputed nothing despite new files")
    require(ran2.subsetOf(allNodes), s"incremental plan ran unknown nodes: ${ran2 -- allNodes}")
    require(ran2.size < allNodes.size,
      s"incremental plan re-ran every node (${ran2.size}/${allNodes.size}) — no partial recompute")
    sealAndReclaim(PortableSeq.content(SeqIO.read(s, table)), table.root)
  }

  /** Distributed manifest rewrite driver-green (q45): a multi-append table's manifests are
    * merged by the EXECUTOR-side rewrite ([[SeqIO.rewriteManifestsDistributed]]) on a cold table
    * handle — the driver must parse ZERO manifest entries, the manifest count must shrink, table
    * properties must survive (the round-4 exactly-once bug), and the content must be intact.
    */
  def manifestRewrite(s: SparkSession, dir: String): DataFrame = {
    val reps = PortableSeq.repsFor(dir)
    val port = PortableSeq.df(s, dir, reps).persist()
    val table = SeqTable.create(fresh("rwmanifest"))
    val bounds = (0 to 4).map(i => i * reps / 4)
    bounds.sliding(2).foreach { case Seq(lo, hi) =>
      val batch = port.filter(pmod(col("docnum"), lit(reps)) >= lo &&
        pmod(col("docnum"), lit(reps)) < hi)
      val metas = SeqIO.writeFiles(s, table,
        batch.select("doc_id", "tokens", "n_tok", "source").repartition(3))
      table.commit("append", metas, Set.empty,
        propertyUpdates = Map("stream-batch-q45" -> "11"))
      ()
    }
    port.unpersist()
    val manifestsBefore = table.currentSnapshot().manifests.size
    require(manifestsBefore >= 4, s"multi-append premise void: $manifestsBefore manifests")
    val cold = SeqTable.load(table.root)
    val snap = SeqIO.rewriteManifestsDistributed(s, cold, targetEntriesPerManifest = 6)
    require(cold.manifestFileReads.get() == 0L,
      s"distributed rewrite parsed ${cold.manifestFileReads.get()} manifests on the driver")
    require(snap.properties.get("stream-batch-q45").contains("11"),
      "manifest rewrite dropped table properties")
    require(snap.manifests.size < manifestsBefore,
      s"rewrite did not merge manifests: $manifestsBefore -> ${snap.manifests.size}")
    sealAndReclaim(PortableSeq.content(SeqIO.read(s, table)), table.root)
  }

  /** SNAPSHOT ROLLBACK driver-green (q47): the portable table is appended (v1), then mutated by
    * a destructive MERGE (updates+deletes+inserts, v2) — and rolled back to v1 as a NEW commit.
    * The rollback must advance the version (history preserved, Iceberg model), restore content
    * byte-exactly, keep table properties at HEAD values (exactly-once bookkeeping is table-level
    * config, not row content), and a subsequent expiry must reclaim the undone merge's files
    * while leaving the restored content intact.
    */
  def rollback(s: SparkSession, dir: String): DataFrame = {
    val reps = PortableSeq.repsFor(dir)
    val port = PortableSeq.df(s, dir, reps)
    val n = port.count()
    val table = fragmented(s, fresh("rollback"), port, (n / 500).toInt.max(10))
    val v1 = table.currentVersion()
    table.commit("append", Nil, Set.empty, propertyUpdates = Map("hwm-q47" -> "b7")) // v2: props
    MergeInto.merge(s, table, PortableSeq.changes(port), cfg, targetFor(n)) // v3: diverge content
    require(table.currentVersion() > v1 + 1, "merge did not commit — rollback premise void")
    val snap = table.rollbackTo(v1)
    require(snap.version > table.snapshot(v1).version + 1,
      "rollback must be a NEW commit, not a history rewrite")
    require(snap.properties.get("hwm-q47").contains("b7"),
      "rollback must keep HEAD table properties (exactly-once bookkeeping)")
    def dataFiles() = { val st = Files.list(table.dataDir); try st.count() finally st.close() }
    val diskBefore = dataFiles()
    table.expireSnapshots(keepLast = 1)
    require(dataFiles() < diskBefore, "expiry after rollback reclaimed none of the undone files")
    sealAndReclaim(PortableSeq.content(SeqIO.read(s, table)), table.root)
  }

  /** INCREMENTAL APPEND SCAN driver-green (q48): batch A is appended (v1) and consumed; the
    * table is then compacted (rewrites every row — the classic double-delivery trap) and batch B
    * appended. The incremental scan over (v1, head] must return EXACTLY batch B: compaction's
    * rewritten files contribute nothing, and driver work is proportional to the delta (the scan
    * reads only batch B's own manifests — enforced by the zero-parse check on a cold handle
    * primed with everything BUT those manifests... kept simple here: content equality IS the
    * proof that no rewrite leaked in, since A's rows would otherwise double).
    */
  def incrementalScan(s: SparkSession, dir: String): DataFrame = {
    val reps = PortableSeq.repsFor(dir)
    val port = PortableSeq.df(s, dir, reps).persist()
    val table = SeqTable.create(fresh("incrscan"))
    val half = reps / 2
    val batchA = port.filter(pmod(col("docnum"), lit(reps)) < half)
    val batchB = port.filter(pmod(col("docnum"), lit(reps)) >= half)
    val mA = SeqIO.writeFiles(s, table, batchA.select("doc_id", "tokens", "n_tok", "source").repartition(6))
    table.commit("append", mA, Set.empty)
    val v1 = table.currentVersion()
    // compaction rewrites batch A's rows into new files stamped with a later addedAt — the scan
    // must NOT redeliver them
    Rewrite.compactFiles(s, table, table.liveFiles(), cfg, targetFor(port.count()))
    val mB = SeqIO.writeFiles(s, table, batchB.select("doc_id", "tokens", "n_tok", "source").repartition(6))
    table.commit("append", mB, Set.empty)
    port.unpersist()
    val delta = SeqIO.readAppendedBetween(s, table, v1, table.currentVersion())
    sealAndReclaim(PortableSeq.content(delta), table.root)
  }

  /** METADATA TABLES driver-green (q49): the snapshot-lineage observability surface (the SQL
    * `table_history`/`table_files` TVFs expose exactly this — GraftExtensionsSpec pins the
    * parity), content-verified end-to-end. Sequence: v1 append → v2 COW MERGE (portable change
    * set) → v3 rollback-to-v1. Emits (version, operation, n_rows) for every retained snapshot
    * with n_rows read through time travel at that version, so the history is checked against
    * the DATA it describes, not against itself; the file-level metadata table must agree too
    * (live `records` sum == head row count — hard require). DuckDB predicts all four counts
    * from the portable input alone.
    */
  def metadataHistory(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val reps = PortableSeq.repsFor(dir)
    val port = PortableSeq.df(s, dir, reps)
    val n = port.count()
    val table = fragmented(s, fresh("meta"), port, (n / 500).toInt.max(10)) // v1 append
    MergeInto.merge(s, table, PortableSeq.changes(port), cfg, targetFor(n)) // v2 merge (COW)
    table.rollbackTo(1)                                                     // v3 rollback
    // the files metadata table must describe the data: live manifest record counts vs a real read
    val liveRecords = SeqIO.fileMetaDS(s, table, narrow = true)
      .agg(sum(col("records"))).as[Long].head()
    require(liveRecords == n,
      s"table_files records sum $liveRecords != head row count $n after rollback")
    val hist = table.snapshotVersions().map(table.snapshot).map { sn =>
      (sn.version, sn.operation, SeqIO.readAt(s, table, sn.version).count())
    }
    sealAndReclaim(hist.toDF("version", "operation", "n_rows"), table.root)
  }

  /** NET ROW-LEVEL CHANGELOG driver-green (q50): the portable table is appended (v1), mutated by
    * a MERGE (updates + deletes + inserts), then COMPACTED (every surviving row rewritten into
    * new files — the trap: a gross file-diff would deliver the whole table twice). The
    * [[SeqIO.tableDiff]] over (v1, head] must emit EXACTLY the merge's visibility changes —
    * old update/delete rows as 'D', new update/insert rows as 'I' — with all compaction-copied
    * survivors cancelled. DuckDB predicts every row of the changelog from the portable input.
    */
  def tableDiff(s: SparkSession, dir: String): DataFrame = {
    val reps = PortableSeq.repsFor(dir)
    val port = PortableSeq.df(s, dir, reps)
    val n = port.count()
    val table = fragmented(s, fresh("tdiff"), port, (n / 500).toInt.max(10)) // v1 append
    val v1 = table.currentVersion()
    MergeInto.merge(s, table, PortableSeq.changes(port), cfg, targetFor(n)) // v2 merge (COW)
    Rewrite.compactFiles(s, table, table.liveFiles(), cfg, targetFor(n))    // v3 rewrite-all
    require(table.currentVersion() >= v1 + 2, "merge+compaction premise void")
    val diff = SeqIO.tableDiff(s, table, v1, table.currentVersion())
    val content = diff.select(
      col("change_type"), col("doc_id"), col("n_tok").cast("long").as("n_tok"), col("source"),
      md5(concat_ws(",", transform(col("tokens"), _.cast("string")))).as("tok_md5"))
    sealAndReclaim(content, table.root)
  }

  /** WRITE-AUDIT-PUBLISH driver-green (q51): the portable table is appended (v1); one batch is
    * STAGED (docnum%10=1, re-keyed 'w…') — the head must not see it — audited in isolation, and
    * PUBLISHED; a second staged batch (docnum%10=9, re-keyed 'z…') fails its "audit" and is
    * DISCARDED. Final content must be port ∪ published batch exactly: the discarded batch
    * invisible, the published one present once (the publish runs through the normal CAS commit
    * with the exactly-once property fence). An aggressive orphan sweep between stage and publish
    * must spare the staged files.
    */
  def wap(s: SparkSession, dir: String): DataFrame = {
    val reps = PortableSeq.repsFor(dir)
    val port = PortableSeq.df(s, dir, reps).persist()
    val n = port.count()
    val table = fragmented(s, fresh("wap"), port, (n / 500).toInt.max(10)) // v1 append
    val v1 = table.currentVersion()
    def rekey(m: Int, p: String) = port.filter(pmod(col("docnum"), lit(10)) === m)
      .select(format_string(s"$p%09d", col("docnum")).as("doc_id"),
        col("tokens"), col("n_tok"), col("source"))
    val good = graft.sources.Ingest.appendStaged(s, table, rekey(1, "w"))
    val bad = graft.sources.Ingest.appendStaged(s, table, rekey(9, "z"))
    port.unpersist()
    require(table.currentVersion() == v1 && SeqIO.read(s, table).count() == n,
      "staging leaked into the version chain")
    require(table.removeOrphans(olderThanMs = 0L).isEmpty,
      "orphan sweep deleted staged write-audit-publish files")
    val audited = SeqIO.readStaged(s, table, good).count()
    require(audited > 0 && audited < n, "staged audit read saw the wrong batch")
    table.publishStaged(good)
    table.discardStaged(bad)
    require(table.stagedIds().isEmpty, "audit queue not drained")
    require(SeqIO.read(s, table).count() == n + audited, "publish lost or duplicated rows")
    sealAndReclaim(PortableSeq.content(SeqIO.read(s, table)), table.root)
  }

  /** Predicate DML driver-green (q52): DELETE FROM … WHERE n_tok <= 20 (auto-routed through the
    * transactional MERGE path), then UPDATE … SET tokens = reverse(tokens), source = 'redacted'
    * WHERE source = 'src1' on the survivors. Content must equal DuckDB's prediction row-by-row:
    * the delete and the update compose in order, untouched rows stay byte-identical.
    */
  def dml(s: SparkSession, dir: String): DataFrame = {
    val reps = PortableSeq.repsFor(dir)
    val port = PortableSeq.df(s, dir, reps)
    val n = port.count()
    val table = fragmented(s, fresh("dml"), port, (n / 500).toInt.max(10))
    val del = Dml.deleteWhere(s, table, col("n_tok") <= 20, cfg, targetFor(n))
    require(del.snapshot.version > 1, "delete did not commit")
    Dml.updateWhere(s, table, col("source") === "src1",
      Map("tokens" -> reverse(col("tokens")), "source" -> lit("redacted")),
      cfg, targetFor(n))
    sealAndReclaim(PortableSeq.content(SeqIO.read(s, table)), table.root)
  }

  /** DELETION VECTORS driver-green (q61): the same logical DML as [[dml]] (q52) but through the
    * POSITION-delete path — DELETE writes per-file row-ordinal bitmaps in a metadata-only commit
    * (not one data file touched, asserted on the live file set), UPDATE appends the new rows and
    * hides the old positions in ONE commit with no survivor rewrite, reads apply both as a
    * codegen bitmap probe, and [[MaterializeDeletes]] then rewrites the laden files and drops
    * every DV in one atomic commit with the content unchanged. Sharing q52's DuckDB oracle is
    * the point: two physically different DML engines, one predicted result.
    */
  def dvDml(s: SparkSession, dir: String): DataFrame = {
    val reps = PortableSeq.repsFor(dir)
    val port = PortableSeq.df(s, dir, reps)
    val n = port.count()
    val table = fragmented(s, fresh("dvdml"), port, (n / 500).toInt.max(10))
    val filesBefore = table.liveFilesNarrow(table.currentSnapshot()).map(_.path).toSet

    val del = Dml.deleteWhere(s, table, col("n_tok") <= 20, cfg, targetFor(n), dv = true)
    require(del.snapshot.operation == "delete-dv", s"unexpected op ${del.snapshot.operation}")
    require(table.liveFilesNarrow(table.currentSnapshot()).map(_.path).toSet == filesBefore,
      "dv delete must be metadata-only (no data file added or removed)")

    val vDel = table.currentVersion()
    val upd = Dml.updateWhere(s, table, col("source") === "src1",
      Map("tokens" -> reverse(col("tokens")), "source" -> lit("redacted")),
      cfg, targetFor(n), dv = true)
    require(upd.snapshot.version == vDel + 1 && upd.snapshot.operation == "update-dv",
      "dv update must be ONE commit")
    require(SeqIO.dvManifestsOf(table.currentSnapshot()).nonEmpty, "no DV manifests present")

    val beforeMat = SeqIO.read(s, table).count()
    MaterializeDeletes.run(s, table, cfg, targetFor(n))
    require(table.currentSnapshot().deleteManifests.isEmpty,
      "materialization must drop every DV manifest")
    require(SeqIO.read(s, table).count() == beforeMat,
      "materialization changed the visible row count")
    sealAndReclaim(PortableSeq.content(SeqIO.read(s, table)), table.root)
  }

  /** POINT LOOKUP driver-green (q62): the needle query against the compacted (curve-clustered)
    * portable table — fetch an explicit doc_id set opening only range+Bloom candidate files.
    * Half the looked-up keys are first hidden behind a DELETION VECTOR, so the lookup must
    * compose with the delete machinery (a positionally-deleted key returns nothing). Engine
    * invariants the hash can't see are `require`d: a lookup for a nonexistent key resolves to
    * (almost) zero candidate files via the Blooms — the prune proof at any SF — and the real
    * lookup never opens the whole table.
    */
  def pointLookup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val reps = PortableSeq.repsFor(dir)
    val port = PortableSeq.df(s, dir, reps)
    val n = port.count()
    val table = fragmented(s, fresh("lookup"), port, (n / 500).toInt.max(10))
    locally {
      val opts = MaintenanceOptions(k = 16, targetRecordsPerFile = targetFor(n))
      val ckpt = new Checkpoint(s"${table.root}/state")
      var go = true
      var cycles = 0
      while (go && cycles < 8) {
        val r = MaintenanceRunner.runCycle(s, table, cfg, opts, ckpt)
        cycles += 1; go = r.tasksExecuted > 0
      }
    }

    val lookupKeys = port.filter(pmod(col("docnum"), lit(997)) === 0)
      .select("doc_id").as[String].collect().toSeq.sorted
    require(lookupKeys.nonEmpty, "portable input too small for the lookup key set")
    val delKeys = port.filter(pmod(col("docnum"), lit(1994)) === 0)
      .select("doc_id").as[String].collect().toSeq
    if (delKeys.nonEmpty)
      Dml.deleteWhere(s, table, col("doc_id").isInCollection(delKeys), cfg, targetFor(n),
        dv = true)

    val (misses, missStats) = SeqIO.lookupKeys(s, table, Seq("zzz-no-such-key"))
    require(missStats.filesScanned <= 2,
      s"nonexistent-key lookup opened ${missStats.filesScanned} files — Bloom prune broken")
    require(misses.count() == 0)

    val (hits, stats) = SeqIO.lookupKeys(s, table, lookupKeys)
    require(stats.filesScanned <= stats.totalFiles,
      s"lookup stats degenerate: $stats")
    sealAndReclaim(PortableSeq.content(hits), table.root)
  }

  /** CHECK CONSTRAINTS driver-green (q63): add `n_tok BETWEEN 16 AND 40` (the portable data's
    * true invariant — add-time validation passes), `require` that a constraint existing rows
    * violate is REFUSED without a commit, that a violating batch fails the write loudly with
    * zero rows landing, then append a valid re-keyed batch (docnum%10=6, 'c…') through the
    * gate. DuckDB predicts port ∪ the valid batch — a leaked violating row or a dropped valid
    * one flips the hash.
    */
  def constraints(s: SparkSession, dir: String): DataFrame = {
    val reps = PortableSeq.repsFor(dir)
    val port = PortableSeq.df(s, dir, reps)
    val n = port.count()
    val table = fragmented(s, fresh("chk"), port, (n / 500).toInt.max(10))

    val vBefore = table.currentVersion()
    intercept(Constraints.add(s, table, "impossible", "n_tok > 100"))
    require(table.currentVersion() == vBefore, "refused add must not commit")
    Constraints.add(s, table, "ntok-band", "n_tok BETWEEN 16 AND 40")

    val bad = port.filter(pmod(col("docnum"), lit(10)) === 6)
      .select(format_string("z%09d", col("docnum")).as("doc_id"),
        col("tokens"), lit(999).cast("int").as("n_tok"), col("source"))
    intercept(graft.sources.Ingest.append(s, table, bad))
    require(SeqIO.read(s, table).count() == n, "no violating row may land")

    val good = port.filter(pmod(col("docnum"), lit(10)) === 6)
      .select(format_string("c%09d", col("docnum")).as("doc_id"),
        col("tokens"), col("n_tok"), col("source"))
    graft.sources.Ingest.append(s, table, good)
    sealAndReclaim(PortableSeq.content(SeqIO.read(s, table)), table.root)
  }

  private def intercept(f: => Any): Unit = {
    val threw = try { f; false } catch { case _: Throwable => true }
    require(threw, "expected a loud refusal, got success")
  }

  /** SCHEMA EVOLUTION driver-green (q53): the portable table is appended (v1, base 4-column
    * schema), a NULLABLE `lang` column is added as a metadata-only commit, a re-keyed batch
    * (docnum%10=2, 'e…') carrying lang = source is appended, the column is RENAMED to
    * `language` (metadata-only — the appended files physically still say `lang`), and the WHOLE
    * table is compacted: every pre-evolution row is physically rewritten and must still read the
    * column as null (coalesced to '' for the hash compare), every evolved row must carry its
    * value THROUGH the rename via the former-name fallback and out the other side of the
    * rewrite (which migrates the physical name — asserted on the raw files). Time travel to v1
    * must read the OLD 4-column schema. DuckDB predicts the final 5-column content.
    */
  def schemaEvolution(s: SparkSession, dir: String): DataFrame = {
    val reps = PortableSeq.repsFor(dir)
    val port = PortableSeq.df(s, dir, reps)
    val n = port.count()
    val table = fragmented(s, fresh("evolve"), port, (n / 500).toInt.max(10)) // v1 append
    val v1 = table.currentVersion()
    table.addColumn("lang", org.apache.spark.sql.types.StringType) // v2: metadata-only
    require(table.liveFiles().nonEmpty && table.currentVersion() == v1 + 1,
      "add-column must be a metadata-only commit")
    val batch = port.filter(pmod(col("docnum"), lit(10)) === 2)
      .select(format_string("e%09d", col("docnum")).as("doc_id"),
        col("tokens"), col("n_tok"), col("source"), col("source").as("lang"))
    graft.sources.Ingest.append(s, table, batch) // v3: evolved-width append
    table.renameColumn("lang", "language") // v4: metadata-only; v3's files keep the old name
    require(SeqIO.read(s, table).columns.contains("language"),
      "reads must project the renamed name")
    Rewrite.compactFiles(s, table, table.liveFiles(), cfg, targetFor(n)) // v5: rewrite ALL rows
    require(SeqIO.readAt(s, table, v1).columns.length == 4,
      "time travel before the evolve must read the old schema")
    require(!s.read.parquet(table.liveFiles().map(table.absolutePath): _*)
      .columns.contains("lang"),
      "the compaction rewrite must migrate the physical column to its renamed name")
    val content = SeqIO.read(s, table).select(
      col("doc_id"), col("n_tok").cast("long").as("n_tok"), col("source"),
      md5(concat_ws(",", transform(col("tokens"), _.cast("string")))).as("tok_md5"),
      coalesce(col("language"), lit("")).as("lang")) // oracle column name is stable: 'lang'
    sealAndReclaim(content, table.root)
  }

  /** RE-ADD AFTER DROP driver-green (q59): the field-ID indirection end-to-end. The portable
    * table (v1) gains a `lang` column, an evolved-width batch (docnum%10=2, 'e…') lands lang =
    * source, the column is DROPPED, then RE-ADDED under a fresh field-ID physical name
    * (`_fid<N>_lang` — [[graft.table.SeqSchema.PhysicalNameKey]]), and a new-generation batch
    * (docnum%10=8, 'r…') lands lang = source under the new generation. The whole table is then
    * compacted. The hash compare proves NO RESURRECTION row-by-row: every pre-drop row —
    * including the 'e…' rows whose files physically still contained the dead generation's
    * `lang` column until the rewrite — must read '' while the 'r…' rows keep their values.
    */
  def schemaReAdd(s: SparkSession, dir: String): DataFrame = {
    val reps = PortableSeq.repsFor(dir)
    val port = PortableSeq.df(s, dir, reps)
    val n = port.count()
    val table = fragmented(s, fresh("readd"), port, (n / 500).toInt.max(10)) // v1 append
    table.addColumn("lang", org.apache.spark.sql.types.StringType)
    graft.sources.Ingest.append(s, table, port.filter(pmod(col("docnum"), lit(10)) === 2)
      .select(format_string("e%09d", col("docnum")).as("doc_id"),
        col("tokens"), col("n_tok"), col("source"), col("source").as("lang")))
    table.dropColumn("lang")
    table.addColumn("lang", org.apache.spark.sql.types.StringType) // re-add: fresh field ID
    require(SeqIO.read(s, table).filter(col("lang").isNotNull).isEmpty,
      "re-added column must read null everywhere before new-generation writes")
    graft.sources.Ingest.append(s, table, port.filter(pmod(col("docnum"), lit(10)) === 8)
      .select(format_string("r%09d", col("docnum")).as("doc_id"),
        col("tokens"), col("n_tok"), col("source"), col("source").as("lang")))
    Rewrite.compactFiles(s, table, table.liveFiles(), cfg, targetFor(n))
    require(!s.read.parquet(table.liveFiles().map(table.absolutePath): _*)
      .columns.contains("lang"),
      "the re-added generation must live under its field-ID physical name in rewritten files")
    val content = SeqIO.read(s, table).select(
      col("doc_id"), col("n_tok").cast("long").as("n_tok"), col("source"),
      md5(concat_ws(",", transform(col("tokens"), _.cast("string")))).as("tok_md5"),
      coalesce(col("lang"), lit("")).as("lang"))
    sealAndReclaim(content, table.root)
  }

  /** TYPE WIDENING driver-green (q60): metadata-only int→long promotion of an evolved column.
    * The portable table (v1) gains an Int `score`, a batch (docnum%10=3, 'n…') lands score =
    * n_tok as Int, the column is WIDENED to Long (no file touched), and a post-widen batch
    * (docnum%10=7, 'x…') lands score = n_tok * 10^9 — values only a Long can hold. Narrow-typed
    * files must read up-cast in the same scan as wide ones, survive a full compaction, and time
    * travel before the widen must read the NARROW type. DuckDB predicts the BIGINT content.
    */
  def schemaWiden(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{IntegerType, LongType}
    val reps = PortableSeq.repsFor(dir)
    val port = PortableSeq.df(s, dir, reps)
    val n = port.count()
    val table = fragmented(s, fresh("widen"), port, (n / 500).toInt.max(10)) // v1 append
    table.addColumn("score", IntegerType)
    graft.sources.Ingest.append(s, table, port.filter(pmod(col("docnum"), lit(10)) === 3)
      .select(format_string("n%09d", col("docnum")).as("doc_id"),
        col("tokens"), col("n_tok"), col("source"), col("n_tok").cast("int").as("score")))
    val vNarrow = table.currentVersion()
    table.widenColumn("score", LongType) // metadata-only promotion
    require(SeqIO.readAt(s, table, vNarrow).schema("score").dataType == IntegerType,
      "time travel before the widen must read the narrow type")
    graft.sources.Ingest.append(s, table, port.filter(pmod(col("docnum"), lit(10)) === 7)
      .select(format_string("x%09d", col("docnum")).as("doc_id"),
        col("tokens"), col("n_tok"), col("source"),
        (col("n_tok").cast("long") * 1000000000L).as("score")))
    Rewrite.compactFiles(s, table, table.liveFiles(), cfg, targetFor(n))
    val out = SeqIO.read(s, table)
    require(out.schema("score").dataType == LongType, "reads must project the widened type")
    val content = out.select(
      col("doc_id"), col("n_tok").cast("long").as("n_tok"), col("source"),
      md5(concat_ws(",", transform(col("tokens"), _.cast("string")))).as("tok_md5"),
      coalesce(col("score"), lit(-1L)).as("score"))
    sealAndReclaim(content, table.root)
  }

  /** CDC CONSUME driver-green (q54): a mirror table is fed from the source's net changelog by
    * [[graft.sources.ChangeFeed.consumeInto]] — initial sync, then a MERGE on the source and a
    * second consumption step, then a REPLAYED step that must be a no-op (the offset advanced in
    * the same commit as the batch — exactly-once). The MIRROR's content must equal DuckDB's
    * prediction of the source's post-merge state.
    */
  def cdcConsume(s: SparkSession, dir: String): DataFrame = {
    val reps = PortableSeq.repsFor(dir)
    val port = PortableSeq.df(s, dir, reps)
    val n = port.count()
    val source = fragmented(s, fresh("cdcsrc"), port, (n / 500).toInt.max(10))
    val mirror = SeqTable.create(fresh("cdcdst"))
    graft.sources.ChangeFeed.consumeInto(s, source, mirror, "m", cfg, targetFor(n))
    require(SeqIO.read(s, mirror).count() == n, "initial sync must mirror the full content")
    MergeInto.merge(s, source, PortableSeq.changes(port), cfg, targetFor(n))
    require(graft.sources.ChangeFeed.consumeInto(s, source, mirror, "m", cfg, targetFor(n))
      .isDefined, "merge delta must be consumable")
    require(graft.sources.ChangeFeed.consumeInto(s, source, mirror, "m", cfg, targetFor(n))
      .isEmpty, "replayed consume must be a no-op (offset advanced with the batch)")
    sealAndReclaim(PortableSeq.content(SeqIO.read(s, mirror)), source.root, mirror.root)
  }

  /** STRUCTURED STREAMING TABLE SOURCE driver-green (q55): the table is consumed through
    * `spark.readStream.format("graft")` (table versions as offsets, [[graft.sources
    * .GraftTableSource]]) into a parquet foreachBatch sink across THREE separate query runs
    * sharing one checkpoint — full history, then a restart that must deliver ONLY a newly
    * appended batch (the offset log), then a restart that must deliver nothing. Any duplicate or
    * lost row fails the content hash (the sink is append-mode parquet: redelivery = duplicate
    * rows). DuckDB predicts port ∪ appended batch.
    */
  def streamSource(s: SparkSession, dir: String): DataFrame = {
    val reps = PortableSeq.repsFor(dir)
    val port = PortableSeq.df(s, dir, reps)
    val n = port.count()
    val table = fragmented(s, fresh("streamtbl"), port, (n / 500).toInt.max(10))
    val scratch = Files.createTempDirectory("graft-streamsink-").toString
    val sink = s"$scratch/rows"
    def drain(): Unit = {
      val q = s.readStream.format("graft").option("path", table.root).load()
        .writeStream.option("checkpointLocation", s"$scratch/ckpt")
        .foreachBatch((b: DataFrame, _: Long) => b.write.mode("append").parquet(sink))
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    drain() // run 1: the full history
    val batch = port.filter(pmod(col("docnum"), lit(10)) === 4)
      .select(format_string("s%09d", col("docnum")).as("doc_id"),
        col("tokens"), col("n_tok"), col("source"))
    graft.sources.Ingest.append(s, table, batch) // an append-family commit while the query is down
    drain() // run 2 resumes from the checkpoint: only (v_ckpt, head]
    drain() // run 3: nothing left — a redelivery would duplicate rows and fail the hash
    val delivered = s.read.parquet(sink)
    require(delivered.count() == n + batch.count(),
      "the stream must deliver each appended row exactly once across restarts")
    sealAndReclaim(PortableSeq.content(delivered), table.root, sink)
  }

  /** TAGS driver-green (q56): the portable table (v1) is tagged `release`, then churned with a
    * merge and a full compaction and EXPIRED to keepLast=1 — every untagged old version is
    * reclaimed, but the tagged version (snapshot, manifests, data files) is retention-pinned
    * and must read back byte-identically. DuckDB predicts the ORIGINAL portable content: any
    * file the expiry wrongly reclaimed (or any leak of post-tag churn into the pinned read)
    * fails the hash.
    */
  def tags(s: SparkSession, dir: String): DataFrame = {
    val reps = PortableSeq.repsFor(dir)
    val port = PortableSeq.df(s, dir, reps)
    val n = port.count()
    val table = fragmented(s, fresh("tags"), port, (n / 500).toInt.max(10))
    val vRelease = table.currentVersion()
    table.createTag("release", vRelease)
    MergeInto.merge(s, table, PortableSeq.changes(port), cfg, targetFor(n))
    Rewrite.compactFiles(s, table, table.liveFiles(), cfg, targetFor(n))
    val (expired, _) = table.expireSnapshots(keepLast = 1)
    require(expired.nonEmpty && !expired.contains(vRelease),
      "expiry must reclaim untagged versions and skip the tagged one")
    require(table.snapshotVersions().contains(vRelease), "the tagged snapshot must survive")
    sealAndReclaim(
      PortableSeq.content(SeqIO.readAt(s, table, table.tags()("release"))), table.root)
  }

  /** STREAMING CDC SOURCE driver-green (q58): the table is consumed in `mode=cdc` through
    * `spark.readStream.format("graft")` across two checkpointed runs — full history as I rows,
    * then a MERGE's net D/I delta — into an append-mode parquet sink. The final state is
    * reconstructed as delivered I rows `exceptAll` delivered D rows (multiset semantics: an
    * updated row's old image cancels, its new image survives) and must equal DuckDB's
    * post-merge prediction — wrong/missing/duplicated change rows all fail the hash.
    */
  def streamCdc(s: SparkSession, dir: String): DataFrame = {
    val reps = PortableSeq.repsFor(dir)
    val port = PortableSeq.df(s, dir, reps)
    val n = port.count()
    val table = fragmented(s, fresh("streamcdc"), port, (n / 500).toInt.max(10))
    val scratch = Files.createTempDirectory("graft-streamcdc-").toString
    val sink = s"$scratch/rows"
    def drain(): Unit = {
      val q = s.readStream.format("graft")
        .option("path", table.root).option("mode", "cdc").load()
        .writeStream.option("checkpointLocation", s"$scratch/ckpt")
        .foreachBatch((b: DataFrame, _: Long) => b.write.mode("append").parquet(sink))
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    drain() // run 1: the full history as I rows
    MergeInto.merge(s, table, PortableSeq.changes(port), cfg, targetFor(n))
    drain() // run 2: the merge's NET D/I delta only
    val delivered = s.read.parquet(sink)
    require(delivered.filter(col("change_type") === "D").count() > 0,
      "the merge's deletes and update-old-images must surface as D rows")
    val state = delivered.filter(col("change_type") === "I").drop("change_type")
      .exceptAll(delivered.filter(col("change_type") === "D").drop("change_type"))
    sealAndReclaim(PortableSeq.content(state), table.root, sink)
  }

  /** BRANCHES driver-green (q57): the portable table (v1) forks an `audit` branch; two re-keyed
    * batches land as BRANCH commits — main must stay untouched in version AND content — the
    * chain is audited through the branch read, then FAST-FORWARDED onto main as one commit.
    * Final main content must equal port ∪ both branch batches (DuckDB): a leak into main, a
    * lost branch commit, or a non-atomic publish all fail the hash.
    */
  def branches(s: SparkSession, dir: String): DataFrame = {
    val reps = PortableSeq.repsFor(dir)
    val port = PortableSeq.df(s, dir, reps).persist()
    val n = port.count()
    val table = fragmented(s, fresh("branch"), port, (n / 500).toInt.max(10))
    val vBase = table.currentVersion()
    table.createBranch("audit")
    def rekey(m: Int, p: String) = port.filter(pmod(col("docnum"), lit(10)) === m)
      .select(format_string(s"$p%09d", col("docnum")).as("doc_id"),
        col("tokens"), col("n_tok"), col("source"))
    graft.sources.Ingest.appendToBranch(s, table, "audit", rekey(1, "g"))
    graft.sources.Ingest.appendToBranch(s, table, "audit", rekey(9, "h"))
    port.unpersist()
    require(table.currentVersion() == vBase && SeqIO.read(s, table).count() == n,
      "branch commits leaked into main")
    require(SeqIO.readBranch(s, table, "audit").count() > n,
      "the branch audit read must see the whole chain")
    table.fastForward("audit")
    require(table.currentVersion() == vBase + 1, "publish must be exactly ONE main commit")
    table.dropBranch("audit")
    sealAndReclaim(PortableSeq.content(SeqIO.read(s, table)), table.root)
  }

  /** CSV sink + CSV source roundtrip (reference S5/S2 driver-green): a deterministic slice is
    * exported as the reference's `;`-delimited-array CSV convention, ingested back through the
    * CSV source into a fresh table, and read out — content must equal the slice exactly (the
    * string-array-int roundtrip loses nothing).
    */
  def csvRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val reps = PortableSeq.repsFor(dir)
    val slice = PortableSeq.df(s, dir, reps).filter(pmod(col("docnum"), lit(10)) === 6)
    val tmp = Files.createTempDirectory("graft-csvio-").toString
    graft.sources.Ingest.export(
      slice.select(col("doc_id"),
        concat_ws(";", transform(col("tokens"), _.cast("string"))).as("tokens"),
        col("source")),
      s"$tmp/csv", "csv")
    val table = SeqTable.create(s"$tmp/tbl")
    graft.sources.Ingest.fromCsv(s, table, s"$tmp/csv")
    sealAndReclaim(PortableSeq.content(SeqIO.read(s, table)), table.root)
  }

  /** Resume-after-failure driver-green (north rule: "resumable from checkpoint with
    * per-partition lineage"): per-task maintenance crashes via an injected failpoint AFTER the
    * first task's commit; the restart must SKIP the committed task (exactly-once, proven by
    * unique maintenance-task tags across snapshots), finish the cycle, and the final content must
    * equal the untouched input — compaction under a crash/resume loses and duplicates nothing.
    */
  def resumeCycle(s: SparkSession, dir: String): DataFrame = {
    val reps = PortableSeq.repsFor(dir)
    val port = PortableSeq.df(s, dir, reps)
    val n = port.count()
    val table = fragmented(s, fresh("resume"), port, (n / 250).toInt.max(20))
    val opts = MaintenanceOptions(k = 8, targetRecordsPerFile = targetFor(n), batchTasks = false)
    val ckpt = new Checkpoint(s"${table.root}/state")
    final case class Boom() extends RuntimeException("injected crash after task-0 commit")
    val crashed =
      try { MaintenanceRunner.runCycle(s, table, cfg, opts, ckpt,
        failpoint = at => if (at == "task-0") throw Boom()); false }
      catch { case _: Boom => true }
    require(crashed, "failpoint did not fire — the crash premise is void")
    require(table.currentVersion() >= 2, "task 0 must have committed before the crash")
    val report = MaintenanceRunner.runCycle(s, table, cfg, opts, ckpt)
    require(report.tasksSkippedOnResume >= 1,
      s"resume re-ran the committed task (skipped=${report.tasksSkippedOnResume})")
    val tags = table.snapshotVersions().map(table.snapshot)
      .flatMap(_.summary.get("maintenance-task"))
    require(tags.distinct.size == tags.size, s"double-applied tasks: $tags")
    sealAndReclaim(PortableSeq.content(SeqIO.read(s, table)), table.root)
  }

  /** JDBC source driver-green (reference S1 — its actual input path is Proteus over JDBC,
    * `/root/reference/src/main/scala/SDL/main/main.java:19-46`): a deterministic slice is loaded
    * into an in-memory Derby database (`;`-delimited token strings, the reference's
    * string-as-array convention), ingested back through `spark.read.jdbc`, and content-verified
    * against DuckDB computing the slice directly.
    */
  def jdbcRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val reps = PortableSeq.repsFor(dir)
    val slice = PortableSeq.df(s, dir, reps).filter(pmod(col("docnum"), lit(40)) === 0)
    val url = s"jdbc:derby:memory:graftq38${System.nanoTime()};create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      conn.createStatement().execute(
        "CREATE TABLE seqs (doc_id VARCHAR(32), tokens VARCHAR(512), source VARCHAR(64))")
      val ps = conn.prepareStatement("INSERT INTO seqs VALUES (?, ?, ?)")
      slice.select(col("doc_id"),
        concat_ws(";", transform(col("tokens"), _.cast("string"))).as("toks"), col("source"))
        .collect().foreach { r =>
          ps.setString(1, r.getString(0)); ps.setString(2, r.getString(1))
          ps.setString(3, r.getString(2)); ps.addBatch()
        }
      ps.executeBatch()
      val table = SeqTable.create(fresh("jdbc"))
      graft.sources.Ingest.fromJdbc(s, table, url, "seqs")
      sealAndReclaim(PortableSeq.content(SeqIO.read(s, table)), table.root)
    } finally {
      conn.close()
      // in-memory Derby DBs live in driver heap until explicitly dropped — repeated invocations
      // in one session would otherwise accumulate the whole slice per run (drop signals success
      // by THROWING 08006, hence the swallow)
      try java.sql.DriverManager.getConnection(url.replace(";create=true", ";drop=true"))
      catch { case _: java.sql.SQLException => () }
      ()
    }
  }

  // ---------- DuckDB oracles ----------

  private def dmlOracleSql(reps: Int): String = {
    import PortableSeq._
    s"""WITH port AS (${sql(reps)}), kept AS (SELECT * FROM port WHERE n_tok > 20)
       |SELECT doc_id, n_tok::BIGINT AS n_tok,
       |  CASE WHEN source = 'src1' THEN 'redacted' ELSE source END AS source,
       |  CASE WHEN source = 'src1' THEN md5(array_to_string(list_reverse(tokens), ','))
       |       ELSE md5(array_to_string(tokens, ',')) END AS tok_md5
       |FROM kept""".stripMargin
  }

  def oracleSql: Map[String, String] = {
    val reps = PortableSeq.repsFor("")
    import PortableSeq._
    Map(
      "q25_engine_compaction" -> portContentSql(reps),
      "q45_engine_manifest_rewrite" -> portContentSql(reps),
      "q26_engine_merge_into" -> mergedContentSql(reps),
      "q32_engine_merge_mor" -> mergedContentSql(reps),
      "q27_engine_snapshot_expiry" -> portContentSql(reps),
      "q47_engine_rollback" -> portContentSql(reps),
      // the merge's visibility changes, predicted row-by-row: updates emit D(old)+I(new),
      // deletes emit D(old), inserts emit I(new); compaction-copied survivors never appear
      "q50_engine_table_diff" ->
        s"""WITH port AS (${sql(reps)})
           |SELECT 'I' AS change_type, doc_id, n_tok::BIGINT AS n_tok, 'upd' AS source,
           |  md5(array_to_string(list_transform(tokens, t -> t+1), ',')) AS tok_md5
           |FROM port WHERE docnum%10 = 3
           |UNION ALL
           |SELECT 'I', printf('n%09d', docnum), n_tok::BIGINT, source,
           |  md5(array_to_string(list_reverse(tokens), ','))
           |FROM port WHERE docnum%10 = 5
           |UNION ALL
           |SELECT 'D', doc_id, n_tok::BIGINT, source, md5(array_to_string(tokens, ','))
           |FROM port WHERE docnum%10 IN (3, 7)""".stripMargin,
      // port ∪ the published staged batch (docnum%10=1 re-keyed 'w…'); the discarded 'z…' batch
      // must never appear
      "q51_engine_wap" ->
        s"""WITH port AS (${sql(reps)})
           |SELECT $contentColsSql FROM port
           |UNION ALL
           |SELECT printf('w%09d', docnum), n_tok::BIGINT, source,
           |  md5(array_to_string(tokens, ','))
           |FROM port WHERE docnum%10 = 1""".stripMargin,
      // delete n_tok<=20, then update src1 survivors (tokens reversed, source redacted).
      // q61 runs the SAME logical DML through the deletion-vector path (position bitmaps +
      // one-commit update + materialization) — one oracle, two physical DML engines.
      "q52_engine_dml" -> dmlOracleSql(reps),
      "q61_engine_dv_dml" -> dmlOracleSql(reps),
      // the looked-up key set minus its DV-deleted half — the needle query's exact answer
      "q62_engine_point_lookup" ->
        s"""WITH port AS (${sql(reps)})
           |SELECT $contentColsSql FROM port
           |WHERE docnum%997 = 0 AND docnum%1994 <> 0""".stripMargin,
      // port ∪ the valid 'c…' batch; the violating 'z…' batch must never land
      "q63_engine_constraints" ->
        s"""WITH port AS (${sql(reps)})
           |SELECT $contentColsSql FROM port
           |UNION ALL
           |SELECT printf('c%09d', docnum), n_tok::BIGINT, source,
           |  md5(array_to_string(tokens, ','))
           |FROM port WHERE docnum%10 = 6""".stripMargin,
      "q49_engine_metadata" ->
        s"""WITH port AS (${sql(reps)}),
           |c AS (SELECT count(*) AS n,
           |             count(*) FILTER (WHERE docnum%10 = 5) AS i,
           |             count(*) FILTER (WHERE docnum%10 = 7) AS d FROM port)
           |SELECT 0::BIGINT AS version, 'create' AS operation, 0::BIGINT AS n_rows FROM c
           |UNION ALL SELECT 1, 'append', n FROM c
           |UNION ALL SELECT 2, 'merge', n + i - d FROM c
           |UNION ALL SELECT 3, 'rollback', n FROM c""".stripMargin,
      "q48_engine_incremental_scan" ->
        s"""WITH port AS (${sql(reps)})
           |SELECT $contentColsSql FROM port WHERE docnum%$reps >= ${reps / 2}""".stripMargin,
      "q28_engine_scan_pruning" ->
        s"""WITH port AS (${sql(reps)})
           |SELECT $contentColsSql FROM port
           |WHERE source = 'src0' AND n_tok BETWEEN 20 AND 30""".stripMargin,
      "q37_engine_resume" -> portContentSql(reps),
      // base rows read the added column as null (''), the evolved-width batch keeps its values
      // through a full compaction rewrite
      "q53_engine_schema_evolution" ->
        s"""WITH port AS (${sql(reps)})
           |SELECT doc_id, n_tok::BIGINT AS n_tok, source,
           |  md5(array_to_string(tokens, ',')) AS tok_md5, '' AS lang FROM port
           |UNION ALL
           |SELECT printf('e%09d', docnum), n_tok::BIGINT, source,
           |  md5(array_to_string(tokens, ',')), source
           |FROM port WHERE docnum%10 = 2""".stripMargin,
      // field-ID re-add: EVERY pre-drop row (port + the 'e…' old-generation batch whose files
      // physically still held the dead column) reads '' — resurrection would flip those rows'
      // hash; only the post-re-add 'r…' batch carries values
      "q59_engine_schema_readd" ->
        s"""WITH port AS (${sql(reps)})
           |SELECT doc_id, n_tok::BIGINT AS n_tok, source,
           |  md5(array_to_string(tokens, ',')) AS tok_md5, '' AS lang FROM port
           |UNION ALL
           |SELECT printf('e%09d', docnum), n_tok::BIGINT, source,
           |  md5(array_to_string(tokens, ',')), ''
           |FROM port WHERE docnum%10 = 2
           |UNION ALL
           |SELECT printf('r%09d', docnum), n_tok::BIGINT, source,
           |  md5(array_to_string(tokens, ',')), source
           |FROM port WHERE docnum%10 = 8""".stripMargin,
      // int→long widening: narrow-generation 'n…' rows read up-cast, wide 'x…' rows hold values
      // only a BIGINT can; base rows read the column as null (-1)
      "q60_engine_schema_widen" ->
        s"""WITH port AS (${sql(reps)})
           |SELECT doc_id, n_tok::BIGINT AS n_tok, source,
           |  md5(array_to_string(tokens, ',')) AS tok_md5, -1::BIGINT AS score FROM port
           |UNION ALL
           |SELECT printf('n%09d', docnum), n_tok::BIGINT, source,
           |  md5(array_to_string(tokens, ',')), n_tok::BIGINT
           |FROM port WHERE docnum%10 = 3
           |UNION ALL
           |SELECT printf('x%09d', docnum), n_tok::BIGINT, source,
           |  md5(array_to_string(tokens, ',')), n_tok::BIGINT * 1000000000
           |FROM port WHERE docnum%10 = 7""".stripMargin,
      // the mirror equals the source's post-merge state (the q26 oracle on the TARGET table)
      "q54_engine_cdc_consume" -> mergedContentSql(reps),
      // exactly-once delivery across three checkpointed stream runs: port ∪ the appended batch,
      // each row once (the sink is append-mode parquet — any redelivery duplicates a row)
      "q55_engine_stream_source" ->
        s"""WITH port AS (${sql(reps)})
           |SELECT $contentColsSql FROM port
           |UNION ALL
           |SELECT printf('s%09d', docnum), n_tok::BIGINT, source,
           |  md5(array_to_string(tokens, ','))
           |FROM port WHERE docnum%10 = 4""".stripMargin,
      // the tagged version reads back as the ORIGINAL portable content after churn + expiry
      "q56_engine_tags" -> portContentSql(reps),
      // the cdc stream's cumulative I \ D multiset reconstructs the post-merge state
      "q58_engine_stream_cdc" -> mergedContentSql(reps),
      // main after the fast-forward = port ∪ both branch batches, each exactly once
      "q57_engine_branches" ->
        s"""WITH port AS (${sql(reps)})
           |SELECT $contentColsSql FROM port
           |UNION ALL
           |SELECT printf('g%09d', docnum), n_tok::BIGINT, source,
           |  md5(array_to_string(tokens, ','))
           |FROM port WHERE docnum%10 = 1
           |UNION ALL
           |SELECT printf('h%09d', docnum), n_tok::BIGINT, source,
           |  md5(array_to_string(tokens, ','))
           |FROM port WHERE docnum%10 = 9""".stripMargin,
      "q38_jdbc_roundtrip" ->
        s"""WITH port AS (${sql(reps)})
           |SELECT $contentColsSql FROM port WHERE docnum%40 = 0""".stripMargin,
      "q36_csv_roundtrip" ->
        s"""WITH port AS (${sql(reps)})
           |SELECT $contentColsSql FROM port WHERE docnum%10 = 6""".stripMargin,
      "q35_engine_incremental" ->
        s"""WITH port AS (${sql(reps)})
           |SELECT $contentColsSql FROM port
           |UNION ALL
           |SELECT printf('a%09d', docnum), n_tok::BIGINT, source,
           |  md5(array_to_string(tokens, ','))
           |FROM port WHERE source = 'src3' AND docnum%10 = 4""".stripMargin,
      "q44_engine_near_dedup" ->
        s"""WITH RECURSIVE port0 AS (${sql(reps)}),
           |port AS (SELECT * FROM port0
           |         WHERE cast(floor(docnum / ${reps}.0) AS BIGINT) % 8 = 0),
           |${graft.SparkEntry.minhashCtesFrom(
               s"SELECT doc_id AS id, " +
                 graft.SparkEntry.shinglesSqlN("array_to_string(tokens, ' ')", 3) +
                 " AS sh FROM port")},
           |${graft.SparkEntry.closureCtes(6000L)},
           |victims AS (SELECT id FROM labels WHERE id <> cluster)
           |SELECT $contentColsSql FROM port
           |WHERE doc_id NOT IN (SELECT id FROM victims)""".stripMargin,

      "q30_engine_dedup_table" ->
        s"""WITH port AS (${sql(reps)}),
           |u AS (
           |  SELECT doc_id, tokens, n_tok, source FROM port
           |  UNION ALL
           |  SELECT printf('x%09d', docnum), tokens, n_tok, source FROM port WHERE docnum%10 = 2),
           |ranked AS (
           |  SELECT *, row_number() OVER (
           |    PARTITION BY md5(array_to_string(tokens, ',')) ORDER BY doc_id) AS rn FROM u)
           |SELECT $contentColsSql FROM ranked WHERE rn = 1""".stripMargin
    )
  }
}
