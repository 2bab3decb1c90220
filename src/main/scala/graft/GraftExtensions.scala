package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan}
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.{AffineMinhashSig, CosineSim, HilbertKey, HyperplaneSketchAll,
  SimhashFromMd5, ZOrderKey}

/** Session extension registering the engine's Catalyst expressions as SQL functions:
  *
  * {{{
  * SparkSession.builder().withExtensions(new GraftExtensions).getOrCreate()
  * // or: .config("spark.sql.extensions", "graft.GraftExtensions")
  * spark.sql("SELECT zorder_key(3, 5), cosine_sim(a.vec, b.vec)")
  * }}}
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[ZOrderKey].getName, null, name, usage, "", "", "", "", "", "", "scala_udf")

  private def intArg(e: Expression, fn: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(s"$fn expects a literal INT, got $other")
  }

  private def longArg(e: Expression, fn: String): Long = e match {
    case Literal(v: Long, _) => v
    case Literal(v: Int, _) => v.toLong
    case other => throw new IllegalArgumentException(s"$fn expects a literal BIGINT, got $other")
  }

  private def strArg(e: Expression, fn: String): String = e match {
    case Literal(v: UTF8String, _) => v.toString
    case other => throw new IllegalArgumentException(s"$fn expects a literal STRING, got $other")
  }

  private def dblArg(e: Expression, fn: String): Double = e match {
    case Literal(v: Double, _) => v
    case Literal(v: java.math.BigDecimal, _) => v.doubleValue
    case Literal(v: org.apache.spark.sql.types.Decimal, _) => v.toDouble
    case Literal(v: Int, _) => v.toDouble
    case other => throw new IllegalArgumentException(s"$fn expects a literal DOUBLE, got $other")
  }

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      FunctionIdentifier("zorder_key"),
      info("zorder_key", "zorder_key(x INT, y INT) - Morton-interleaved 64-bit curve key"),
      (args: Seq[Expression]) => ZOrderKey(args(0), args(1))))
    e.injectFunction((
      FunctionIdentifier("hilbert_key"),
      info("hilbert_key", "hilbert_key(x INT, y INT) - Hilbert curve key (order 16)"),
      (args: Seq[Expression]) => HilbertKey(args(0), args(1), 16)))
    e.injectFunction((
      FunctionIdentifier("cosine_sim"),
      info("cosine_sim", "cosine_sim(a ARRAY<FLOAT|DOUBLE>, b) - fused single-pass cosine"),
      (args: Seq[Expression]) => CosineSim(args(0), args(1))))
    e.injectFunction((
      FunctionIdentifier("minhash_sig"),
      info("minhash_sig", "minhash_sig(h48s ARRAY<BIGINT>, k INT) - affine MinHash signature"),
      (args: Seq[Expression]) => AffineMinhashSig(args(0), intArg(args(1), "minhash_sig"))))
    e.injectFunction((
      FunctionIdentifier("simhash_md5"),
      info("simhash_md5", "simhash_md5(digests ARRAY<STRING>) - 64-bit SimHash of md5 digests"),
      (args: Seq[Expression]) => SimhashFromMd5(args(0))))
    // The reference's ONE user-facing query as a SQL table function:
    //   SELECT * FROM best_regions('pts_view', 0.02, 5[, 'weight'[, 0.9]])
    // `best_regions` is a top-k DRIVER-COORDINATED pipeline (bbox pass, hot-node split plan,
    // fixed-winner rounds — /root/reference/src/main/scala/SDL/main/Run.scala:22-189), not a
    // single lazy plan, so the TVF executes it eagerly at resolution and returns the k ranked
    // rows as a LocalRelation — exact [[graft.brs.BRS.bestRegions]] parity by construction, and
    // k rows is by definition a driver-sized result.
    e.injectTableFunction((
      FunctionIdentifier("best_regions"),
      info("best_regions",
        "best_regions(table STRING, eps DOUBLE, k INT[, scoreCol STRING[, sigma DOUBLE]]) - " +
          "top-k eps×eps best regions over a table/view with lon/lat columns"),
      (args: Seq[Expression]) => {
        require(args.size >= 3 && args.size <= 5,
          s"best_regions expects 3-5 arguments, got ${args.size}")
        val table = strArg(args(0), "best_regions")
        val eps = dblArg(args(1), "best_regions")
        val k = intArg(args(2), "best_regions")
        val score = if (args.size > 3) Some(strArg(args(3), "best_regions")).filter(_.nonEmpty)
          else None
        val sigma = if (args.size > 4) Some(dblArg(args(4), "best_regions")) else None
        val spark = org.apache.spark.sql.SparkSession.active
        val out = graft.brs.BRS.bestRegions(spark.table(table), eps, k,
          scoreCol = score, sigma = sigma)
        LocalRelation(out.queryExecution.analyzed.output,
          out.queryExecution.executedPlan.executeCollect().toIndexedSeq): LogicalPlan
      }))
    // Lakehouse reads as SQL table functions. Unlike best_regions (driver-coordinated top-k,
    // necessarily eager) these return the DataFrame's LAZY analyzed plan — parquet scans plus
    // the merge-on-read delete anti-join — so execution is fully distributed and the TVF is
    // safe on a table of any size; only the manifest resolution runs at analysis.
    //   SELECT * FROM table_at('/path/tbl'[, version])        -- time travel (default: head)
    //   SELECT * FROM table_changes('/path/tbl', from[, to])  -- incremental append scan
    e.injectTableFunction((
      FunctionIdentifier("table_at"),
      info("table_at",
        "table_at(tableDir STRING[, version BIGINT | tag STRING]) - table content pinned at a " +
          "snapshot or a named tag (merge-on-read deletes applied; default: current head)"),
      (args: Seq[Expression]) => {
        require(args.size >= 1 && args.size <= 2, s"table_at expects 1-2 arguments, got ${args.size}")
        val spark = org.apache.spark.sql.SparkSession.active
        val table = graft.table.SeqTable.load(strArg(args(0), "table_at"))
        val v =
          if (args.size <= 1) table.currentVersion()
          else args(1) match {
            case Literal(t: UTF8String, _) => // a tag name: resolve the pinned version
              table.tags().getOrElse(t.toString,
                throw new IllegalArgumentException(s"table_at: no such tag '$t'"))
            case other => longArg(other, "table_at")
          }
        graft.table.SeqIO.readAt(spark, table, v).queryExecution.analyzed: LogicalPlan
      }))
    e.injectTableFunction((
      FunctionIdentifier("table_changes"),
      info("table_changes",
        "table_changes(tableDir STRING, fromVersion BIGINT[, toVersion BIGINT]) - rows APPENDED " +
          "in (from, to] (compaction/merge rewrites never redelivered; default to: head)"),
      (args: Seq[Expression]) => {
        require(args.size >= 2 && args.size <= 3,
          s"table_changes expects 2-3 arguments, got ${args.size}")
        val spark = org.apache.spark.sql.SparkSession.active
        val table = graft.table.SeqTable.load(strArg(args(0), "table_changes"))
        val from = longArg(args(1), "table_changes")
        val to = if (args.size > 2) longArg(args(2), "table_changes") else table.currentVersion()
        graft.table.SeqIO.readAppendedBetween(spark, table, from, to)
          .queryExecution.analyzed: LogicalPlan
      }))
    // Metadata tables as SQL TVFs (Iceberg's `.files` / `.history` metadata tables, public
    // design): the observability surface a lakehouse operator lives in.
    //   SELECT * FROM table_files('/path/tbl'[, version])  -- live data-file manifest entries
    //   SELECT * FROM table_history('/path/tbl')           -- snapshot lineage
    // table_files is a LAZY distributed plan over the manifest carriers themselves (the bloom
    // payload — the dominant manifest bytes — is never read: columnar-pruned on parquet
    // manifests), so it is safe at 10^7 files; table_history is driver-side by nature (one row
    // per RETAINED snapshot — bounded by expiry, the same files the commit protocol reads).
    e.injectTableFunction((
      FunctionIdentifier("table_branch"),
      info("table_branch",
        "table_branch(tableDir STRING, name STRING) - full read at a branch head: the audit " +
          "view of the branch's unpublished commit chain (lazy, merge-on-read deletes applied)"),
      (args: Seq[Expression]) => {
        require(args.size == 2, s"table_branch expects 2 arguments, got ${args.size}")
        val spark = org.apache.spark.sql.SparkSession.active
        val table = graft.table.SeqTable.load(strArg(args(0), "table_branch"))
        graft.table.SeqIO.readBranch(spark, table, strArg(args(1), "table_branch"))
          .queryExecution.analyzed: LogicalPlan
      }))
    e.injectTableFunction((
      FunctionIdentifier("table_scan"),
      info("table_scan",
        "table_scan(tableDir STRING, source STRING, ntokMin INT, ntokMax INT) - filtered " +
          "read of the head: the scan opens only the files whose n_tok, source and zone stats " +
          "can match (empty source / -1 bounds = unconstrained)"),
      (args: Seq[Expression]) => {
        require(args.size == 4, s"table_scan expects 4 arguments, got ${args.size}")
        val spark = org.apache.spark.sql.SparkSession.active
        val table = graft.table.SeqTable.load(strArg(args(0), "table_scan"))
        val src = Some(strArg(args(1), "table_scan")).filter(_.nonEmpty)
        val lo = Some(intArg(args(2), "table_scan")).filter(_ >= 0)
        val hi = Some(intArg(args(3), "table_scan")).filter(_ >= 0)
        val (df, _) = graft.table.SeqIO.scanPruned(spark, table, src, lo, hi)
        df.queryExecution.analyzed: LogicalPlan
      }))
    e.injectTableFunction((
      FunctionIdentifier("table_diff"),
      info("table_diff",
        "table_diff(tableDir STRING, fromVersion BIGINT[, toVersion BIGINT]) - NET row-level " +
          "changelog of (from, to]: change_type 'I'/'D' + row; rewrite-copied rows cancel " +
          "(default to: head)"),
      (args: Seq[Expression]) => {
        require(args.size >= 2 && args.size <= 3,
          s"table_diff expects 2-3 arguments, got ${args.size}")
        val spark = org.apache.spark.sql.SparkSession.active
        val table = graft.table.SeqTable.load(strArg(args(0), "table_diff"))
        val from = longArg(args(1), "table_diff")
        val to = if (args.size > 2) longArg(args(2), "table_diff") else table.currentVersion()
        graft.table.SeqIO.tableDiff(spark, table, from, to)
          .queryExecution.analyzed: LogicalPlan
      }))
    e.injectTableFunction((
      FunctionIdentifier("table_files"),
      info("table_files",
        "table_files(tableDir STRING[, version BIGINT]) - live data-file manifest entries " +
          "(path, records, bytes, stats; bloom payload excluded) at a snapshot (default: head)"),
      (args: Seq[Expression]) => {
        require(args.size >= 1 && args.size <= 2,
          s"table_files expects 1-2 arguments, got ${args.size}")
        val spark = org.apache.spark.sql.SparkSession.active
        val table = graft.table.SeqTable.load(strArg(args(0), "table_files"))
        val v = if (args.size > 1) longArg(args(1), "table_files") else table.currentVersion()
        graft.table.SeqIO.fileMetaDSOf(spark, table, table.snapshot(v), narrow = true)
          .drop("docBloom").queryExecution.analyzed: LogicalPlan
      }))
    e.injectTableFunction((
      FunctionIdentifier("table_history"),
      info("table_history",
        "table_history(tableDir STRING) - snapshot lineage: version, parent, operation, " +
          "commit timestamp, manifest/delete-manifest counts, live-file count"),
      (args: Seq[Expression]) => {
        require(args.size == 1, s"table_history expects 1 argument, got ${args.size}")
        val spark = org.apache.spark.sql.SparkSession.active
        import spark.implicits._
        val table = graft.table.SeqTable.load(strArg(args(0), "table_history"))
        val out = table.snapshotVersions().map(table.snapshot).map { s =>
          (s.version, s.parent, s.operation, s.ts, s.manifests.size, s.deleteManifests.size,
            s.summary.get("total-files").flatMap(_.toLongOption))
        }.toDF("version", "parent", "operation", "ts",
          "n_manifests", "n_delete_manifests", "total_files")
        out.queryExecution.analyzed: LogicalPlan
      }))
    e.injectTableFunction((
      FunctionIdentifier("table_refs"),
      info("table_refs",
        "table_refs(tableDir STRING) - named refs: tags (kind='tag', retention-pinned version) " +
          "and branches (kind='branch', fork base → head)"),
      (args: Seq[Expression]) => {
        require(args.size == 1, s"table_refs expects 1 argument, got ${args.size}")
        val spark = org.apache.spark.sql.SparkSession.active
        import spark.implicits._
        val table = graft.table.SeqTable.load(strArg(args(0), "table_refs"))
        val tags = table.tags().toSeq.map { case (n, v) => ("tag", n, v, v) }
        val branches = table.branchNames().map(n =>
          ("branch", n, table.branchBaseVersion(n), table.branchHead(n).version))
        val out = (tags ++ branches).sortBy(r => (r._1, r._2))
          .toDF("kind", "name", "base_version", "head_version")
        out.queryExecution.analyzed: LogicalPlan
      }))
    e.injectTableFunction((
      FunctionIdentifier("table_deletes"),
      info("table_deletes",
        "table_deletes(tableDir STRING) - outstanding merge-on-read delete manifests: " +
          "family ('keys' = equality, 'dv' = position bitmaps), sequence, entries " +
          "(keys or per-file bitmaps), hidden rows (exact for dv; -1 for keys), bytes"),
      (args: Seq[Expression]) => {
        require(args.size == 1, s"table_deletes expects 1 argument, got ${args.size}")
        val spark = org.apache.spark.sql.SparkSession.active
        import spark.implicits._
        import scala.jdk.CollectionConverters._
        val table = graft.table.SeqTable.load(strArg(args(0), "table_deletes"))
        val snap = table.currentSnapshot()
        val rows = snap.deleteManifests.sorted.map { m =>
          val p = java.nio.file.Paths.get(table.deleteManifestPath(m))
          val bytes = java.nio.file.Files.size(p)
          val seq = m.stripPrefix("delete-").takeWhile(_.isDigit).toLong
          if (m.endsWith(".dv")) {
            val heads = java.nio.file.Files.readAllLines(p).asScala
              .map(graft.table.Dv.parseLineHeader)
            (m, "dv", seq, heads.size.toLong, heads.map(_._2).sum, bytes)
          } else {
            val entries = java.nio.file.Files.readAllLines(p).size.toLong
            (m, "keys", seq, entries, -1L, bytes)
          }
        }
        val out = rows.toDF("manifest", "family", "seq", "entries", "hidden_rows", "bytes")
        out.queryExecution.analyzed: LogicalPlan
      }))
    e.injectFunction((
      FunctionIdentifier("lsh_buckets"),
      info("lsh_buckets",
        "lsh_buckets(vec ARRAY<FLOAT|DOUBLE>, planes INT, tables INT, dims INT) - per-table hyperplane buckets"),
      (args: Seq[Expression]) => HyperplaneSketchAll(args(0),
        intArg(args(2), "lsh_buckets"), intArg(args(1), "lsh_buckets"),
        intArg(args(3), "lsh_buckets"))))
  }
}
