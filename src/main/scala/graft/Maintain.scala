package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.fixtures.SeqGen
import graft.ops._
import graft.planner.GridConfig
import graft.state.Checkpoint
import graft.table.{SeqIO, SeqTable}

/** The engine's spark-submit entry point — one invocation = one maintenance cycle (SURVEY.md §3:
  * "Our lifecycle replacement"). Subcommands:
  *
  *   demo <dir> [rows] [files]   create a fragmented synthetic table, run a full cycle, report
  *   cycle <tableDir>            run one maintenance cycle on an existing table (resumes if a
  *                               previous cycle crashed mid-way)
  *   merge <tableDir> <changes>  MERGE INTO from a parquet changes table
  */
object Maintain {

  def session(cpus: String): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .appName("graft-maintain")
    .withExtensions(new GraftExtensions) // SQL surface: fused kernels + best_regions TVF
    .config("spark.sql.shuffle.partitions", cpus)
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    // 256-row columnar batches: a 4096-row batch over ~6k-token array rows is a ~100MB humongous
    // G1 allocation per task; 32 concurrent tasks fragment the old gen and every later full-table
    // decode degenerates into GC (measured: survivor-rewrite 1224 CPU-s -> 220 CPU-s)
    .config("spark.sql.parquet.columnarReaderBatchSize", "256")
    .getOrCreate()

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = session(cpus)
    spark.sparkContext.setLogLevel("WARN")
    val cfg = GridConfig()
    // SPARK_GRAFT_DIST_PLAN_FILES overrides the distributed-planning threshold (0 = always plan
    // from the executor-side manifest Dataset — lets the CLI drive the
    // 10^7-file path at demo scale)
    val distFiles = sys.env.get("SPARK_GRAFT_DIST_PLAN_FILES").map(_.toInt)
    val opts = MaintenanceOptions(distributedPlanFiles = distFiles.getOrElse(100000))

    args.toList match {
      case "demo" :: dir :: rest =>
        val rows = rest.headOption.map(_.toLong).getOrElse(50000L)
        val files = rest.drop(1).headOption.map(_.toInt).getOrElse(200)
        val opts = MaintenanceOptions(targetRecordsPerFile = math.max(1000L, rows / 25),
          distributedPlanFiles = distFiles.getOrElse(100000))
        println(s"[demo] creating fragmented table: $rows rows in ~$files files at $dir")
        val (table, metas) = SeqGen.fragmentedTable(spark, dir, rows, files)
        println(s"[demo] v${table.currentVersion()} live-files=${metas.size}")

        val (_, before) = SeqIO.scanPruned(spark, table, Some("src0"), Some(256), Some(1024))
        println(s"[demo] pruned scan BEFORE: ${before.filesScanned}/${before.totalFiles} files")

        // run cycles until the planner finds nothing above threshold (converged layout)
        val ckpt = new Checkpoint(s"$dir/state")
        var go = true
        while (go) {
          val report = MaintenanceRunner.runCycle(spark, table, cfg, opts.copy(k = 16), ckpt)
          println(s"[demo] cycle: $report")
          go = report.tasksExecuted > 0
        }

        val (df, after) = SeqIO.scanPruned(spark, table, Some("src0"), Some(256), Some(1024))
        println(s"[demo] pruned scan AFTER compaction: ${after.filesScanned}/${after.totalFiles} files, rows=${df.count()}")

        val changes = SeqGen.changeSet(spark, rows, changes = rows / 10, deletes = rows / 50)
        val t0 = System.nanoTime()
        val vPreMerge = table.currentVersion()
        val mr = MergeInto.merge(spark, table, changes, cfg, opts.targetRecordsPerFile)
        println(f"[demo] merge: rewrote ${mr.filesRewritten} files in ${(System.nanoTime() - t0) / 1e9}%.1fs " +
          s"attempts=${mr.attempts} → v${mr.snapshot.version}")

        // the CDC read across the merge: net changelog, rewrite-copied survivors cancelled
        val cdc = SeqIO.tableDiff(spark, table, vPreMerge, table.currentVersion())
          .groupBy("change_type").count().collect()
          .map(r => s"${r.getString(0)}=${r.getLong(1)}").sorted.mkString(" ")
        println(s"[demo] changelog (v$vPreMerge, head]: $cdc")

        // write-audit-publish round trip: stage invisibly, audit, publish exactly-once
        val wapBatch = SeqGen.table(spark, 500, parts = 1)
          .withColumn("doc_id", concat(lit("wap-"), col("doc_id")))
        val preWap = SeqIO.read(spark, table).count()
        val stageId = graft.sources.Ingest.appendStaged(spark, table, wapBatch)
        require(SeqIO.read(spark, table).count() == preWap, "staged batch leaked before publish")
        val audited = SeqIO.readStaged(spark, table, stageId).count()
        table.publishStaged(stageId)
        println(s"[demo] wap: staged $stageId (invisible), audited $audited rows, " +
          s"published → v${table.currentVersion()}")

        // predicate DML through the same transactional merge path
        val dr = graft.ops.Dml.deleteWhere(spark, table, col("doc_id").startsWith("wap-"),
          cfg, opts.targetRecordsPerFile)
        require(SeqIO.read(spark, table).count() == preWap, "DML delete must remove the wap batch")
        println(s"[demo] dml: deleted the wap batch (files-rewritten=${dr.filesRewritten}) " +
          s"→ v${table.currentVersion()}")

        // position deletion vectors: metadata-only delete, bitmap-probe read, rolled back
        val vPreDv = table.currentVersion()
        val dvVictims = SeqIO.read(spark, table).filter(col("n_tok") < 64).count()
        val dvr = graft.ops.Dml.deleteWhere(spark, table, col("n_tok") < 64,
          cfg, opts.targetRecordsPerFile, dv = true)
        require(dvr.filesRewritten == 0, "dv delete must touch no data file")
        require(SeqIO.read(spark, table).filter(col("n_tok") < 64).count() == 0,
          "dv-deleted rows visible")
        require(SeqIO.read(spark, table).count() == preWap - dvVictims, "dv delete count off")
        table.rollbackTo(vPreDv) // keep the rest of the demo's row arithmetic unchanged
        require(SeqIO.read(spark, table).count() == preWap, "rollback must restore dv victims")
        println(s"[demo] dv: hid $dvVictims rows via deletion vectors (metadata-only, " +
          s"0 files rewritten), rolled back → v${table.currentVersion()}")

        // schema evolution: add a nullable column (metadata-only), prove old rows null-fill
        table.addColumn("lang", org.apache.spark.sql.types.StringType)
        val langNulls = SeqIO.read(spark, table).filter(col("lang").isNull).count()
        require(langNulls == preWap, "every pre-evolution row must read the added column as null")
        println(s"[demo] evolve: added nullable 'lang' (metadata-only) — " +
          s"$langNulls old rows null-fill → v${table.currentVersion()}")

        // CDC consumer: mirror everything so far into a sibling table, exactly-once
        val mirror = SeqTable.create(s"$dir-mirror")
        graft.sources.ChangeFeed.consumeInto(spark, table, mirror, "demo", cfg,
          opts.targetRecordsPerFile)
        val mirrored = SeqIO.read(spark, mirror).count()
        require(mirrored == preWap, "mirror must equal the source after the initial sync")
        require(graft.sources.ChangeFeed
          .consumeInto(spark, table, mirror, "demo", cfg, opts.targetRecordsPerFile).isEmpty,
          "replayed consume must be a no-op")
        println(s"[demo] cdc-consume: mirrored $mirrored rows into $dir-mirror " +
          s"(offset ${graft.sources.ChangeFeed.offsetOf(mirror, "demo")}, replay = no-op)")

        // tag the mirrored state (retention-pinned), then prove a branch chain publishes
        // atomically and stays invisible until it does
        val vTagged = table.currentVersion()
        table.createTag("demo-release")
        println(s"[demo] tag: demo-release → v$vTagged (expiry keeps it until untagged)")
        table.createBranch("demo-audit")
        val brBatch = SeqGen.table(spark, 300, parts = 1)
          .withColumn("doc_id", concat(lit("br-"), col("doc_id")))
        graft.sources.Ingest.appendToBranch(spark, table, "demo-audit", brBatch)
        require(SeqIO.read(spark, table).count() == preWap, "branch commit leaked into main")
        val brRows = SeqIO.readBranch(spark, table, "demo-audit").count()
        table.fastForward("demo-audit")
        table.dropBranch("demo-audit")
        require(SeqIO.read(spark, table).count() == preWap + 300,
          "fast-forward must adopt the branch chain")
        println(s"[demo] branch: demo-audit forked, +300 rows invisible (audit saw $brRows), " +
          s"fast-forwarded → v${table.currentVersion()}")

        // the table as a streaming source: the appended history arrives through
        // spark.readStream.format("graft") exactly once
        val streamed = new java.util.concurrent.atomic.AtomicLong
        val sq = spark.readStream.format("graft").option("path", table.root).load()
          .writeStream.option("checkpointLocation", s"$dir-stream-ckpt")
          .foreachBatch((b: org.apache.spark.sql.DataFrame, _: Long) => {
            streamed.addAndGet(b.count()); ()
          }).start()
        try sq.processAllAvailable() finally sq.stop()
        println(s"[demo] stream-source: readStream delivered ${streamed.get} appended rows " +
          "(versions as offsets)")

        go = true
        while (go) { // post-merge maintenance
          val report = MaintenanceRunner.runCycle(spark, table, cfg, opts.copy(k = 16), ckpt)
          println(s"[demo] cycle: $report")
          go = report.tasksExecuted > 0
        }
        val (df2, fin) = SeqIO.scanPruned(spark, table, Some("src0"), Some(256), Some(1024))
        println(s"[demo] pruned scan FINAL: ${fin.filesScanned}/${fin.totalFiles} files, rows=${df2.count()}")
        println(s"[demo] final row count=${SeqIO.read(spark, table).count()} " +
          s"live-files=${table.liveFiles().size} version=${table.currentVersion()}")

      case "cycle" :: dir :: _ =>
        val table = SeqTable.load(dir)
        val report = MaintenanceRunner.runCycle(spark, table, cfg, opts, new Checkpoint(s"$dir/state"))
        println(s"[cycle] $report")

      case "merge" :: dir :: changesPath :: _ =>
        val table = SeqTable.load(dir)
        val changes = spark.read.parquet(changesPath)
        val mr = MergeInto.merge(spark, table, changes, cfg, opts.targetRecordsPerFile)
        println(s"[merge] files-rewritten=${mr.filesRewritten} attempts=${mr.attempts} → v${mr.snapshot.version}")

      case "query" :: path :: lonCol :: latCol :: epsS :: kS :: rest =>
        // the reference's user-facing BRS query from the CLI, emitting its exact REST/S4 JSON
        // shape (BRS.renderJson pins the buffer.tmp contract); optional trailing σ for the
        // approximate mode (reference algo 8)
        val sigma = rest.headOption.map(_.toDouble)
        val res = graft.brs.BRS.bestRegions(spark.read.parquet(path),
          eps = epsS.toDouble, k = kS.toInt, lonCol = lonCol, latCol = latCol, sigma = sigma)
        println(graft.brs.BRS.renderJson(res))

      case "constrain" :: dir :: name :: predSql :: _ =>
        // CHECK constraint: validates existing rows, then gates every future write
        val table = SeqTable.load(dir)
        val s = graft.ops.Constraints.add(spark, table, name, predSql)
        println(s"[constrain] $name CHECK ($predSql) → v${s.version}")

      case "unconstrain" :: dir :: name :: _ =>
        val table = SeqTable.load(dir)
        val s = graft.ops.Constraints.drop(table, name)
        println(s"[unconstrain] dropped $name → v${s.version}")

      case "constraints" :: dir :: _ =>
        val table = SeqTable.load(dir)
        val cs = graft.ops.Constraints.of(table.currentSnapshot())
        if (cs.isEmpty) println("[constraints] none")
        else cs.toSeq.sortBy(_._1).foreach { case (n, p) =>
          println(s"[constraints] $n CHECK ($p)") }

      case "get" :: dir :: keysCsv :: _ =>
        // POINT LOOKUP: rows of an explicit doc_id set, opening only range+Bloom candidates
        val table = SeqTable.load(dir)
        val keys = keysCsv.split(",").map(_.trim).filter(_.nonEmpty).toSeq
        val (df, stats) = SeqIO.lookupKeys(spark, table, keys)
        df.show(keys.size.min(100), truncate = false)
        println(s"[get] ${keys.size} keys: scanned ${stats.filesScanned}/${stats.totalFiles} " +
          s"files (${stats.recordsScanned} rows in candidates)")

      case "rewrite-manifests" :: dir :: _ =>
        // distributed by default: the merged manifest is built by a Spark job (parts become
        // manifests), the driver parses zero manifest entries
        val table = SeqTable.load(dir)
        val snap = SeqIO.rewriteManifestsDistributed(spark, table)
        println(s"[rewrite-manifests] manifests=${snap.manifests.size} " +
          s"files=${snap.summary.getOrElse("total-files", "?")} → v${snap.version}")

      case "rollback" :: dir :: versionS :: _ =>
        // content as-of <version> becomes HEAD via a NEW commit (history preserved); table
        // properties stay at HEAD values so streaming exactly-once bookkeeping survives
        val table = SeqTable.load(dir)
        val snap = table.rollbackTo(versionS.toLong)
        println(s"[rollback] to v$versionS → new head v${snap.version} " +
          s"files=${snap.summary.getOrElse("total-files", "?")}")

      case "changes" :: dir :: fromS :: rest =>
        // incremental append scan: rows appended in (from, to] — the training-pipeline
        // consumption contract; writes parquet when an output path is given, else counts
        val table = SeqTable.load(dir)
        val to = rest.headOption.map(_.toLong).getOrElse(table.currentVersion())
        val delta = SeqIO.readAppendedBetween(spark, table, fromS.toLong, to)
        rest.drop(1).headOption match {
          case Some(out) =>
            delta.write.mode("overwrite").parquet(out)
            println(s"[changes] (${fromS}, $to] → $out")
          case None =>
            println(s"[changes] (${fromS}, $to] rows=${delta.count()}")
        }

      case "delete" :: dir :: condSql :: rest =>
        // DELETE FROM <dir> WHERE <condSql> — default: the transactional MERGE path (auto
        // COW/MoR); trailing `mor` forces equality delete manifests, `dv` writes position
        // deletion vectors (metadata-only commit, bitmap-probe read tax)
        val table = SeqTable.load(dir)
        val mode = rest.headOption.getOrElse("")
        require(Set("", "mor", "dv")(mode), s"delete: unknown mode '$mode' (want mor|dv)")
        val r = graft.ops.Dml.deleteWhere(spark, table, expr(condSql), cfg,
          opts.targetRecordsPerFile, mor = mode == "mor", dv = mode == "dv")
        println(s"[delete] where ($condSql)${if (mode.isEmpty) "" else s" [$mode]"}: " +
          s"files-rewritten=${r.filesRewritten} → v${r.snapshot.version}")

      case "update" :: dir :: condSql :: setSql :: rest =>
        // UPDATE <dir> SET <setSql> WHERE <condSql>; setSql = "col=expr;col=expr"
        // (tokens/source only — doc_id is the key, n_tok re-derives from tokens); trailing
        // `mor`/`dv` as for delete — `dv` appends new rows + hides old positions in one commit
        val table = SeqTable.load(dir)
        val mode = rest.headOption.getOrElse("")
        require(Set("", "mor", "dv")(mode), s"update: unknown mode '$mode' (want mor|dv)")
        val set = setSql.split(";").iterator.map(_.trim).filter(_.nonEmpty).map { kv =>
          val i = kv.indexOf('=')
          require(i > 0, s"update: bad assignment '$kv' (want col=expr)")
          kv.take(i).trim -> expr(kv.drop(i + 1).trim)
        }.toMap
        val r = graft.ops.Dml.updateWhere(spark, table, expr(condSql), set, cfg,
          opts.targetRecordsPerFile, mor = mode == "mor", dv = mode == "dv")
        println(s"[update] set (${set.keys.mkString(", ")}) where ($condSql)" +
          s"${if (mode.isEmpty) "" else s" [$mode]"}: " +
          s"files-rewritten=${r.filesRewritten} → v${r.snapshot.version}")

      case "stage" :: dir :: parquetPath :: _ =>
        // write-audit-publish: materialize the batch INVISIBLY; audit it, then publish/discard
        val table = SeqTable.load(dir)
        val id = graft.sources.Ingest.appendStaged(spark, table, spark.read.parquet(parquetPath))
        println(s"[stage] staged $id rows=${SeqIO.readStaged(spark, table, id).count()} " +
          s"(invisible until publish; audit with: sql \"SELECT …\" on the staged parquet, " +
          s"then publish $id or discard $id)")

      case "staged" :: dir :: _ =>
        val table = SeqTable.load(dir)
        table.stagedIds().foreach { id =>
          val s = table.stagedSnapshot(id)
          println(s"[staged] $id op=${s.operation} files=${s.summary.getOrElse("staged-files", "?")} ts=${s.ts}")
        }

      case "publish" :: dir :: id :: _ =>
        val table = SeqTable.load(dir)
        val snap = table.publishStaged(id)
        println(s"[publish] $id → v${snap.version}")

      case "discard" :: dir :: id :: _ =>
        val table = SeqTable.load(dir)
        table.discardStaged(id)
        println(s"[discard] $id dropped")

      case "diff" :: dir :: fromS :: rest =>
        // net row-level changelog: every visibility change in (from, to] as 'I'/'D' + row —
        // updates surface as D(old)+I(new), rewrite-copied rows cancel (SeqIO.tableDiff)
        val table = SeqTable.load(dir)
        val to = rest.headOption.map(_.toLong).getOrElse(table.currentVersion())
        val cdc = SeqIO.tableDiff(spark, table, fromS.toLong, to)
        rest.drop(1).headOption match {
          case Some(out) =>
            cdc.write.mode("overwrite").parquet(out)
            println(s"[diff] (${fromS}, $to] → $out")
          case None =>
            val counts = cdc.groupBy("change_type").count().collect()
              .map(r => s"${r.getString(0)}=${r.getLong(1)}").sorted.mkString(" ")
            println(s"[diff] (${fromS}, $to] ${if (counts.isEmpty) "no changes" else counts}")
        }

      case "expire" :: dir :: rest =>
        val keep = rest.headOption.map(_.toInt).getOrElse(2)
        val table = SeqTable.load(dir)
        val (vs, fs) = table.expireSnapshots(keep)
        println(s"[expire] expired=${vs.size} snapshots, deleted=${fs.size} data files")

      case "dedup" :: dir :: rest =>
        val near = rest.headOption.contains("near")
        val table = SeqTable.load(dir)
        val (n, _) =
          if (near) DedupTable.dedupNear(spark, table, cfg, opts.targetRecordsPerFile)
          else DedupTable.dedupExact(spark, table, cfg, opts.targetRecordsPerFile)
        println(s"[dedup] mode=${if (near) "near" else "exact"} deleted=$n → " +
          s"v${table.currentVersion()}")

      case "layout" :: dir :: rest =>
        // declare (or show) the table's writer layout — sort-order/partition-spec evolution:
        //   layout <dir>                          → print the declared layout
        //   layout <dir> <curve> [B [binWidth]]   → set it (curve: z | hilbert | doc-major)
        val table = SeqTable.load(dir)
        rest match {
          case Nil =>
            println(s"[layout] ${table.currentLayout().getOrElse("<default (z, caller grid)>")}")
          case curve :: more =>
            val l = graft.table.TableLayout(curve,
              more.headOption.map(_.toInt).getOrElse(64),
              more.drop(1).headOption.map(_.toInt).getOrElse(128))
            val snap = table.setLayout(l)
            println(s"[layout] declared $l → v${snap.version} " +
              "(future writes follow it; existing files migrate as rewrites touch them)")
        }

      case "consume" :: srcDir :: targetDir :: consumerId :: _ =>
        // CDC consumer step: mirror the source's net changelog since this consumer's offset
        // into the target table, exactly-once (offset advances in the same commit — ChangeFeed)
        val source = SeqTable.load(srcDir)
        val target =
          if (java.nio.file.Files.exists(java.nio.file.Paths.get(targetDir, "metadata")))
            SeqTable.load(targetDir)
          else SeqTable.create(targetDir)
        graft.sources.ChangeFeed.consumeInto(spark, source, target, consumerId,
          cfg, opts.targetRecordsPerFile) match {
          case Some((from, to)) =>
            println(s"[consume] $consumerId applied ($from, $to] → " +
              s"target v${target.currentVersion()} rows=${SeqIO.read(spark, target).count()}")
          case None =>
            println(s"[consume] $consumerId already at source head (offset " +
              s"${graft.sources.ChangeFeed.offsetOf(target, consumerId)})")
        }

      case "orphans" :: dir :: rest =>
        // reclaim crash-stranded data files no snapshot/stage/branch references (age-guarded;
        // default 3 days — the guard must exceed the longest write-before-commit duration)
        val table = SeqTable.load(dir)
        val olderThanMs = rest.headOption.map(_.toLong).getOrElse(3L * 24 * 3600 * 1000)
        val gone = table.removeOrphans(olderThanMs)
        println(s"[orphans] removed ${gone.size} file(s) older than ${olderThanMs}ms" +
          (if (gone.isEmpty) "" else s": ${gone.take(5).mkString(", ")}${if (gone.size > 5) " …" else ""}"))

      case "branch" :: dir :: rest =>
        // write-audit-publish generalized to a chain (own CAS lineage, fast-forward publish):
        //   branch <dir>                    → list branches (base → head)
        //   branch <dir> create <name>      → fork from the main head
        //   branch <dir> append <name> <pq> → append a parquet batch onto the branch
        //   branch <dir> read <name>        → audit: branch-head row count
        //   branch <dir> publish <name>     → fast-forward onto main (loud if main advanced)
        //   branch <dir> drop <name>        → delete the chain (files become aged orphans)
        val table = SeqTable.load(dir)
        rest match {
          case "create" :: name :: _ =>
            val s = table.createBranch(name)
            println(s"[branch] created $name at fork v${s.version}")
          case "append" :: name :: pq :: _ =>
            val s = graft.sources.Ingest.appendToBranch(spark, table, name,
              spark.read.parquet(pq))
            println(s"[branch] $name += $pq → branch v${s.version} (main untouched)")
          case "read" :: name :: _ =>
            println(s"[branch] $name head=v${table.branchHead(name).version} " +
              s"rows=${SeqIO.readBranch(spark, table, name).count()}")
          case "publish" :: name :: _ =>
            val s = table.fastForward(name)
            println(s"[branch] fast-forwarded $name → main v${s.version}")
          case "drop" :: name :: _ =>
            table.dropBranch(name)
            println(s"[branch] dropped $name (unpublished files become aged orphans)")
          case _ =>
            val bs = table.branchNames()
            println(s"[branch] ${if (bs.isEmpty) "<none>"
              else bs.map(n => s"$n (v${table.branchBaseVersion(n)} → " +
                s"v${table.branchHead(n).version})").mkString(", ")}")
        }

      case "tag" :: dir :: rest =>
        // named snapshot refs, retention-pinned (expiry keeps tagged versions):
        //   tag <dir>                 → list tags
        //   tag <dir> <name> [vN]     → tag version N (default: head)
        val table = SeqTable.load(dir)
        rest match {
          case name :: more =>
            val v = more.headOption.map(_.toLong).getOrElse(-1L)
            val snap = table.createTag(name, v)
            println(s"[tag] $name → v${table.tags()(name)} (commit v${snap.version}; " +
              "expiry keeps this version until untagged)")
          case Nil =>
            val t = table.tags().toSeq.sortBy(_._1)
            println(s"[tag] ${if (t.isEmpty) "<none>" else t.map { case (n, v) => s"$n=v$v" }.mkString(", ")}")
        }

      case "untag" :: dir :: name :: _ =>
        val table = SeqTable.load(dir)
        val snap = table.dropTag(name)
        println(s"[tag] dropped $name → v${snap.version} (pinned version reclaimable at next expiry)")

      case "evolve" :: dir :: rest =>
        // schema evolution, all metadata-only commits:
        //   evolve <dir>                      → print the current schema (+ name history)
        //   evolve <dir> add <name> <type>    → add a nullable column (type: DDL, e.g. string)
        //   evolve <dir> drop <name>          → drop an evolved column (name retired forever)
        //   evolve <dir> rename <old> <new>   → rename an evolved column (rewrites migrate files)
        val table = SeqTable.load(dir)
        rest match {
          case "add" :: name :: tpe :: _ =>
            val snap = table.addColumn(name, org.apache.spark.sql.types.DataType.fromDDL(tpe))
            println(s"[evolve] added nullable $name $tpe → v${snap.version}")
          case "drop" :: name :: _ =>
            val snap = table.dropColumn(name)
            println(s"[evolve] dropped $name (name retired) → v${snap.version}")
          case "rename" :: from :: to :: _ =>
            val snap = table.renameColumn(from, to)
            println(s"[evolve] renamed $from → $to (metadata-only; rewrites migrate the " +
              s"physical name) → v${snap.version}")
          case _ =>
            val cols = table.currentSchema().fields.map { f =>
              val hist = graft.table.SeqSchema.formerNames(f)
              s"${f.name} ${f.dataType.simpleString}" +
                (if (hist.nonEmpty) hist.mkString(" (was ", " ← ", ")") else "")
            }
            println(s"[evolve] schema: ${cols.mkString(", ")}")
        }

      case "sql" :: stmt :: rest =>
        // ad-hoc SQL with the graft extensions registered — e.g.
        //   sql "SELECT * FROM best_regions('pts', 0.5D, 5)"  (after a CREATE TEMP VIEW)
        // unquoted statements arrive as many argv tokens: join them instead of silently
        // executing only the first word
        spark.sql((stmt :: rest).mkString(" ")).show(100, truncate = false)

      case other =>
        System.err.println("usage: demo <dir> [rows] [files] | cycle <tableDir> | " +
          "merge <tableDir> <changesParquet> | query <parquet> <lonCol> <latCol> <eps> <k> [sigma] | " +
          "rewrite-manifests <tableDir> | expire <tableDir> [keepLast] | " +
          "rollback <tableDir> <version> | changes <tableDir> <fromVersion> [toVersion [outParquet]] | " +
          "diff <tableDir> <fromVersion> [toVersion [outParquet]] | " +
          "stage <tableDir> <parquet> | staged <tableDir> | publish <tableDir> <id> | " +
          "discard <tableDir> <id> | delete <tableDir> <condSql> | " +
          "update <tableDir> <condSql> <col=expr[;col=expr]> | " +
          "dedup <tableDir> [near] | consume <srcTableDir> <targetTableDir> <consumerId> | " +
          "layout <tableDir> [curve [sourceBuckets [ntokBinWidth]]] | " +
          "evolve <tableDir> [add <name> <type> | drop <name> | rename <old> <new>] | " +
          "tag <tableDir> [name [version]] | untag <tableDir> <name> | orphans <tableDir> [olderThanMs] | " +
          "branch <tableDir> [create|append|read|publish|drop <name> [parquet]] | " +
          "sql <statement>" +
          s"; got: $other")
        sys.exit(2)
    }
    spark.stop()
  }
}
