package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.curve
import graft.planner.GridConfig
import graft.table.{FileMeta, SeqIO, SeqTable}

/** Space-filling-curve clustered write — the physical layout engine behind compaction, re-cluster
  * and MERGE INTO.
  *
  * Layout: key = zorder/hilbert interleave of (pmod(xxhash64(source), B), n_tok / binWidth) —
  * both factors codegen'd Catalyst expressions, so the whole rewrite stays inside whole-stage
  * codegen. Rows are range-partitioned on (curveKey, doc_id): the secondary key is the **salt** —
  * a hot curve key (one dominant `source`, the reference grid's unhandled skew case,
  * `/root/reference/src/main/scala/SDL/definitions/GridIndexer.scala` fixed sqrt grid) gets split across
  * as many range partitions as its row share demands, so no single executor owns a hot source.
  */
object Rewrite {

  /** Attach the clustering key column. */
  def withCurveKey(df: DataFrame, cfg: GridConfig, hilbert: Boolean = false): DataFrame = {
    val x = pmod(xxhash64(col("source")), lit(cfg.sourceBuckets.toLong)).cast("int")
    val y = (col("n_tok") / lit(cfg.ntokBinWidth)).cast("int")
    val key = if (hilbert) curve.hilbertKey(x, y) else curve.zorderKey(x, y)
    df.withColumn("_ck", key)
  }

  /** Cluster `df` and write it as ~`totalRecords / targetRecordsPerFile` files. Returns the
    * manifest entries (not yet committed).
    *
    * Layouts:
    *  - curve (default): range-partition + sort on (curveKey, doc_id) — tight (source, n_tok)
    *    stats per file → scan pruning; doc_id is the skew salt. Merge pruning on doc_id cannot
    *    work here: every file spans nearly the whole key domain.
    *  - docMajor: range-partition + sort on doc_id — tight [minDocId, maxDocId] per file → a
    *    sparse MERGE INTO touches only the files actually holding its keys. The Iceberg-style
    *    sort-order choice for merge-heavy tables (scan pruning on (source, n_tok) is what you
    *    give up; with ~10^3 rows-per-key-density change sets no per-file structure can prune, so
    *    this is the ONLY layout under which sparse COW merges stay sub-linear).
    */
  def clusteredWrite(
      spark: SparkSession,
      table: SeqTable,
      df: DataFrame,
      cfg: GridConfig,
      targetRecordsPerFile: Long,
      totalRecords: Long,
      hilbert: Boolean = false,
      docMajor: Boolean = false): Seq[FileMeta] = {
    // the table's DECLARED layout (TableLayout metadata, when present) wins over the caller's
    // flags/grid — the one consult point every writer (merge upserts, compaction, delete
    // materialization, clustered append) flows through, so a layout change re-routes all future
    // writes without touching any call site; planner geometry (nodeSide/regionW) stays the
    // caller's. Undeclared tables behave exactly as before.
    val (cfgEff, hilbertEff, docMajorEff) = table.currentLayout() match {
      case Some(l) =>
        (cfg.copy(sourceBuckets = l.sourceBuckets, ntokBinWidth = l.ntokBinWidth),
          l.hilbert, l.docMajor)
      case None => (cfg, hilbert, docMajor)
    }
    val nFiles = math.max(1L, (totalRecords + targetRecordsPerFile - 1) / targetRecordsPerFile).toInt
    val clustered =
      if (docMajorEff)
        df.repartitionByRange(nFiles, col("doc_id")).sortWithinPartitions(col("doc_id"))
      else
        byteBalanced(spark, withCurveKey(df, cfgEff, hilbertEff), nFiles)
          .sortWithinPartitions(col("_ck"), col("doc_id"))
          .drop("_ck")
    graft.Timing.timed("clusteredWrite/writeFiles")(
      SeqIO.writeFiles(spark, table, clustered, clustered = true))
  }

  /** BYTE-balanced curve partitioning with hot-key salting.
    *
    * `repartitionByRange` equalizes ROW counts, but a row's weight here is its token array —
    * n_tok spans 16..8192, so the range partition holding the longest sequences carries ~6-8× the
    * bytes of the average one and its write task becomes a straggler that caps scaling no matter
    * how many cores exist (measured: a constant ~5 s tail at every parallelism level).
    *
    * Instead: the curve-key space is small (≤ sourceBuckets × ntokBins ≈ 4k values), so we take
    * an EXACT per-key byte histogram (one narrow agg — replaces repartitionByRange's sampling
    * pass), greedily pack keys into ~equal-byte partitions driver-side, and split any key hotter
    * than a partition across `ceil(w/perPart)` sub-partitions by doc_id hash — the salting the
    * reference's fixed sqrt-grid never had. Rows are placed EXACTLY (no sampling error) on their
    * computed partition via a perfect-hash slot map: partition i is addressed by a precomputed
    * int whose Murmur3 lands in bucket i of HashPartitioning, keeping the whole path
    * DataFrame-native and codegen'd (no RDD partitioner round-trip).
    */
  private[ops] def byteBalanced(spark: SparkSession, keyed: DataFrame, nParts: Int): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.Murmur3HashFunction
    import org.apache.spark.sql.types.IntegerType
    val hist = keyed.groupBy(col("_ck")).agg(sum(col("n_tok")).as("w")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    if (hist.isEmpty) return keyed.repartition(1)
    val totalW = hist.map(_._2).sum
    val perPart = math.max(1L, totalW / nParts)

    val keyBase = scala.collection.mutable.Map.empty[Long, Int] // curve key → first partition id
    val keySplits = scala.collection.mutable.Map.empty[Long, Int] // curve key → #sub-partitions
    var pid = 0
    var acc = 0L
    hist.foreach { case (k, w) =>
      if (w > perPart * 3 / 2) { // hot key: dedicated partitions, doc_id-salted
        if (acc > 0) { pid += 1; acc = 0L }
        val splits = ((w + perPart - 1) / perPart).toInt
        keyBase(k) = pid; keySplits(k) = splits
        pid += splits
      } else {
        keyBase(k) = pid; keySplits(k) = 1
        acc += w
        if (acc >= perPart) { pid += 1; acc = 0L }
      }
    }
    val nOut = if (acc > 0) pid + 1 else math.max(1, pid)

    // perfect-hash slots: slot(i) is an int whose Murmur3(seed 42) mod nOut == i, so
    // repartition(nOut, slotCol) places partition i's rows exactly in task i
    val slots = new Array[Int](nOut)
    val seen = new Array[Boolean](nOut)
    var v = 0
    var found = 0
    while (found < nOut) {
      val b = math.floorMod(Murmur3HashFunction.hash(v, IntegerType, 42L).toInt, nOut)
      if (!seen(b)) { seen(b) = true; slots(b) = v; found += 1 }
      v += 1
    }

    val ks = hist.map(_._1)
    val baseMap = map_from_arrays(
      array(ks.map(k => lit(k)): _*), array(ks.map(k => lit(keyBase(k))): _*))
    val splitMap = map_from_arrays(
      array(ks.map(k => lit(k)): _*), array(ks.map(k => lit(keySplits(k))): _*))
    val pidCol = element_at(baseMap, col("_ck")) +
      when(element_at(splitMap, col("_ck")) > 1,
        pmod(xxhash64(col("doc_id")), element_at(splitMap, col("_ck")).cast("long")).cast("int"))
        .otherwise(lit(0))
    val slotCol = element_at(array(slots.map(s => lit(s)): _*), pidCol + 1)
    keyed.repartition(nOut, slotCol)
  }

  /** Run `body` with the scan split size lowered so this file set yields ~3 tasks per core —
    * compaction inputs are MANY SMALL files (that is why they were claimed), and the default
    * 128 MB split + 4 MB openCost packs ~25 of them per task: the bench backlog scanned with
    * ~17 tasks on 32 cores, idling half the machine through the read + shuffle-write map stage
    * (guide §2.2/§6: scan tasks ≫ cores; derived from input size + defaultParallelism, never a
    * hard-coded constant). Only ever LOWERS the split; the session value is restored after.
    */
  private[ops] def withSmallFileScanParallelism[T](
      spark: SparkSession, files: Seq[FileMeta])(body: => T): T = {
    val conf = spark.conf
    val prev = conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    val openCost = conf.get("spark.sql.files.openCostInBytes", "4194304").toLong
    val effective = files.map(_.bytes).sum + files.size.toLong * openCost
    val targetTasks = 3L * math.max(1, spark.sparkContext.defaultParallelism)
    val split = math.max(16L << 20, effective / targetTasks)
    if (split >= prev.toLong) body
    else {
      conf.set("spark.sql.files.maxPartitionBytes", split.toString)
      try body finally conf.set("spark.sql.files.maxPartitionBytes", prev)
    }
  }

  /** Compact+re-cluster an explicit file set into right-sized curve-sorted files and commit.
    * Copy-on-write: the input rows are rewritten byte-identically (same doc_id→tokens mapping),
    * only layout changes.
    */
  def compactFiles(
      spark: SparkSession,
      table: SeqTable,
      files: Seq[FileMeta],
      cfg: GridConfig,
      targetRecordsPerFile: Long,
      summary: Map[String, String] = Map.empty,
      hilbert: Boolean = false,
      maxAttempts: Int = 3,
      // true = the commit's manifest edit runs on executors (SeqIO.distributedManifestEdit) —
      // the 10^7-file path the distributed planner routes through; false = driver edit
      distributedCommit: Boolean = false): graft.table.Snapshot = {
    var attempt = 0
    while (true) {
      attempt += 1
      // apply outstanding merge-on-read deletes while rewriting — a raw rewrite would resurrect
      // deleted rows (new files outlive the deletes' sequence numbers). The commit validates that
      // no NEW delete manifest appeared since this plan (same resurrection hazard, concurrent
      // flavor) — on conflict we re-read and re-apply the newer deletes.
      val snap = table.currentSnapshot()
      val total = files.map(_.records).sum
      val added = withSmallFileScanParallelism(spark, files) {
        val df = SeqIO.readWithDeletes(spark, table, snap, files)
        clusteredWrite(spark, table, df, cfg, targetRecordsPerFile, total, hilbert)
      }
      try {
        return table.commit("compact", added, files.map(_.path).toSet,
          summary ++ Map("records" -> total.toString),
          plannedDeleteManifests = Some(snap.deleteManifests.toSet),
          editPlanner =
            if (distributedCommit) Some(SeqIO.distributedManifestEdit(spark, table)) else None)
      } catch {
        case e: table.CommitConflictException =>
          added.foreach(f => java.nio.file.Files.deleteIfExists(
            java.nio.file.Paths.get(table.absolutePath(f))))
          if (attempt >= maxAttempts) throw e
      }
    }
    throw new IllegalStateException("unreachable")
  }
}
