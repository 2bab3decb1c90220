package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.TempDirs
import graft.fixtures.SeqGen
import graft.planner.GridConfig
import graft.state.Checkpoint
import graft.table.{SeqIO, SeqTable}

/** Randomized engine torture: a seeded random sequence of lifecycle operations (COW merge,
  * MoR merge, compaction cycle, delete materialization, manifest rewrite — driver AND
  * distributed, snapshot expiry, STREAMING APPEND, ROLLBACK, WAP STAGE/PUBLISH/DISCARD,
  * SCHEMA EVOLUTION add/drop/rename, LAYOUT declaration, TAGS, BRANCH fork/publish) against
  * an in-memory model of the table's logical content. After EVERY op the physical table must
  * match the model exactly on (doc_id, token checksum, n_tok, source); once a stream has
  * appended, the streaming high-water-mark table property must survive every subsequent op —
  * the exact interleaving (stream → rewrite-manifests → expiry) where the round-4
  * properties-drop bug hid; outstanding write-audit-publish stages must stay invisible yet
  * alive (no op may reap or leak them) until their own publish/discard step; live tags must
  * stay pinned, retained and byte-identical to their history; and an outstanding branch must
  * stay intact, fork-pinned and invisible until its own publish (or loud stale refusal).
  */
class EngineFuzzSpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestSession.spark
  private val cfg = GridConfig()

  private def contentOf(t: SeqTable): Map[String, (Long, Int, String)] = {
    import spark.implicits._
    SeqIO.read(spark, t)
      .select(col("doc_id"), xxhash64(col("tokens")).as("th"), col("n_tok"), col("source"))
      .as[(String, Long, Int, String)].collect()
      .map { case (id, th, n, s) => id -> (th, n, s) }.toMap
  }

  private def modelOf(df: org.apache.spark.sql.DataFrame): Seq[(String, (Long, Int, String), String)] = {
    import spark.implicits._
    val hasOp = df.columns.contains("_op")
    df.select(col("doc_id"), xxhash64(col("tokens")).as("th"), col("n_tok"), col("source"),
        if (hasOp) col("_op") else lit("U").as("_op"))
      .as[(String, Long, Int, String, String)].collect()
      .map { case (id, th, n, s, op) => (id, (th, n, s), op) }.toSeq
  }

  // CI runs 2 seeds × 12 steps; a soak run deepens both without a code change, e.g.
  // GRAFT_FUZZ_SEEDS=11,29,37,41,53,67 GRAFT_FUZZ_STEPS=25 sbt "testOnly graft.ops.EngineFuzzSpec"
  private val fuzzSeeds: Seq[Int] = sys.env.get("GRAFT_FUZZ_SEEDS")
    .map(_.split(",").toSeq.map(_.trim.toInt)).getOrElse(Seq(11, 29))
  private val fuzzSteps: Int = sys.env.get("GRAFT_FUZZ_STEPS").map(_.toInt).getOrElse(12)

  test("random op sequences: physical content == model after every operation") {
    for (seed <- fuzzSeeds) {
      val rnd = new scala.util.Random(seed)
      val root = tempDir(s"fuzz$seed-").toString + "/t"
      val rows = 1500L
      val (table, _) = SeqGen.fragmentedTable(spark, root, rows, 20)
      val ckpt = new Checkpoint(s"$root/state")
      val model = scala.collection.mutable.Map.empty[String, (Long, Int, String)]
      modelOf(SeqGen.table(spark, rows)).foreach { case (id, v, _) => model(id) = v }
      assert(contentOf(table) === model.toMap, "fixture must seed the model")

      val opts = MaintenanceOptions(k = 8, targetRecordsPerFile = 400)
      val srcDir = tempDir(s"fuzz$seed-stream-").toString
      var streamHwm = Long.MinValue
      // model content per table version — rollback targets are validated against these
      val history = scala.collection.mutable.Map.empty[Long, Map[String, (Long, Int, String)]]
      history(table.currentVersion()) = model.toMap
      var step = 0
      // outstanding write-audit-publish stages: id -> the staged batch's model rows
      val pendingStages = scala.collection.mutable.Map.empty[String, Seq[(String, (Long, Int, String))]]
      // evolved (non-base) columns currently in the schema — drop targets
      val evolvedCols = scala.collection.mutable.ArrayBuffer.empty[String]
      // live tags: name -> pinned version (validated for retention + content every step)
      val liveTags = scala.collection.mutable.Map.empty[String, Long]
      // one outstanding branch: (name, fork main version, the branch batch's model rows)
      var pendingBranch: Option[(String, Long, Seq[(String, (Long, Int, String))])] = None
      for (_ <- 1 to fuzzSteps) {
        step += 1
        val op = rnd.nextInt(18)
        val tag = op match {
          case 16 => // POSITION-DELETE (deletion vectors): hide a random n_tok band, metadata-only
            val lo = 16 + rnd.nextInt(1800)
            val hi = lo + 20 + rnd.nextInt(120)
            Dml.deleteWhere(spark, table, col("n_tok").between(lo, hi), cfg,
              opts.targetRecordsPerFile, dv = true)
            model.filterInPlace { case (_, (_, n, _)) => n < lo || n > hi }
            s"dv-delete([$lo,$hi])"
          case 17 => // DV UPDATE: relabel a random n_tok band's source — ONE commit, old
            // positions hidden, new rows appended; tokens unchanged so the model hash carries
            val lo = 16 + rnd.nextInt(1800)
            val hi = lo + 20 + rnd.nextInt(120)
            val src = s"dv$step"
            Dml.updateWhere(spark, table, col("n_tok").between(lo, hi),
              Map("source" -> lit(src)), cfg, opts.targetRecordsPerFile, dv = true)
            model.mapValuesInPlace { case (_, v @ (th, n, _)) =>
              if (n >= lo && n <= hi) (th, n, src) else v
            }
            s"dv-update([$lo,$hi]->$src)"
          case 0 | 1 => // merge (COW or MoR) with upserts + deletes
            val mor = op == 1
            val changes = SeqGen.changeSet(spark, rows,
              changes = 100 + rnd.nextInt(200), deletes = rnd.nextInt(60)).persist()
            MergeInto.merge(spark, table, changes, cfg, opts.targetRecordsPerFile, mor = mor)
            modelOf(changes).foreach {
              case (id, _, "D") => model.remove(id)
              case (id, v, _) => model(id) = v
            }
            changes.unpersist()
            s"merge(mor=$mor)"
          case 2 =>
            // vary the planning mode too: incremental (dirty-node cache) and distributed
            // (executor-side manifests, parquet carrier) interleave with everything else
            val o = opts.copy(incremental = rnd.nextBoolean(),
              distributedPlanFiles = if (rnd.nextBoolean()) 0 else Int.MaxValue)
            MaintenanceRunner.runCycle(spark, table, cfg, o, ckpt)
            s"cycle(incr=${o.incremental},dist=${o.distributedPlanFiles == 0})"
          case 3 =>
            MaterializeDeletes.run(spark, table, cfg, opts.targetRecordsPerFile); "materialize"
          case 4 =>
            if (rnd.nextBoolean()) { table.rewriteManifests(); "rewrite-manifests" }
            else { SeqIO.rewriteManifestsDistributed(spark, table); "rewrite-manifests-dist" }
          case 5 =>
            if (rnd.nextBoolean()) { table.expireSnapshots(keepLast = 2); "expire" }
            else { SeqIO.expireSnapshotsDistributed(spark, table, keepLast = 2); "expire-dist" }
          case 6 => // streaming append of a fresh uniquely-keyed batch through the HWM machinery
            val batch = SeqGen.table(spark, 40, parts = 1)
              .withColumn("doc_id", concat(lit(s"s$step-"), col("doc_id"))).persist()
            batch.write.parquet(s"$srcDir/b$step")
            val src = spark.readStream.schema(graft.table.SeqSchema.schema).parquet(s"$srcDir/b*")
            val q = graft.sources.Ingest.stream(spark, table, src, s"$srcDir/ckpt")
            q.awaitTermination(120000); q.stop()
            modelOf(batch).foreach { case (id, v, _) => model(id) = v }
            batch.unpersist()
            "stream-append"
          case 7 => // rollback to a random still-retained version; model reverts with it
            val candidates = table.snapshotVersions().filter(history.contains)
            val target = candidates(rnd.nextInt(candidates.size))
            table.rollbackTo(target)
            model.clear(); model ++= history(target)
            s"rollback(v$target)"
          case 8 => // write-audit-publish STAGE: invisible until a later step publishes it
            val batch = SeqGen.table(spark, 30, parts = 1)
              .withColumn("doc_id", concat(lit(s"w$step-"), col("doc_id"))).persist()
            val id = graft.sources.Ingest.appendStaged(spark, table, batch)
            pendingStages(id) = modelOf(batch).map { case (k, v, _) => (k, v) }
            batch.unpersist()
            s"wap-stage($id)" // model untouched: staging must not change visible content
          case 10 => // SCHEMA EVOLUTION: add a nullable column mid-stream — every later op
            // (merge, compaction, stream, rollback, WAP, changelog) must ride the wider schema
            // while the model (which tracks the base columns) stays oblivious: content parity on
            // the base columns is exactly the add-column compatibility contract
            val name = s"ev$step"
            table.addColumn(name, org.apache.spark.sql.types.StringType)
            assert(table.currentSchema().fieldNames.contains(name))
            evolvedCols += name
            s"evolve-schema($name)"
          case 11 => // DROP an evolved column (no-op when none outstanding): later ops must
            // ride the narrower schema. Since the field-ID work (r7), RE-ADDING the dropped
            // name is legal — the new generation lives under a fresh _fid physical name, so it
            // must read ALL-NULL (a stale value resurrecting from a pre-drop file is the exact
            // bug field IDs exist to prevent); sometimes re-add right here and assert that
            if (evolvedCols.isEmpty) "drop-noop"
            else {
              val name = evolvedCols.remove(rnd.nextInt(evolvedCols.size))
              table.dropColumn(name)
              assert(!table.currentSchema().fieldNames.contains(name))
              if (rnd.nextBoolean()) {
                table.addColumn(name, org.apache.spark.sql.types.StringType)
                assert(SeqIO.read(spark, table).filter(col(name).isNotNull).count() == 0,
                  s"re-added '$name' resurrected a dead generation's values")
                evolvedCols += name
                s"drop+readd-column($name)"
              } else s"drop-column($name)"
            }
          case 13 => // RENAME an evolved column (no-op when none outstanding): later reads
            // must reconcile old-named files through the former-name fallback, later writes
            // use the new name, and the old name is closed to re-adding
            if (evolvedCols.isEmpty) "rename-noop"
            else {
              val i = rnd.nextInt(evolvedCols.size)
              val from = evolvedCols(i)
              val to = s"rn$step"
              table.renameColumn(from, to)
              evolvedCols(i) = to
              assert(table.currentSchema().fieldNames.contains(to) &&
                !table.currentSchema().fieldNames.contains(from))
              // re-adding the old name: REFUSED for a plain evolved column (its former name
              // stays a live physical alias in old files), but LEGAL when the name was ever
              // dropped before — that add→drop→re-add(fid)→rename history makes a fresh
              // field-ID generation sound (distinct physical names), and it must read all-null
              try {
                table.addColumn(from, org.apache.spark.sql.types.StringType)
                assert(SeqIO.read(spark, table).filter(col(from).isNotNull).count() == 0,
                  s"re-added '$from' after rename resurrected values")
                evolvedCols += from
                s"rename-column($from->$to)+readd($from)"
              } catch {
                case _: IllegalArgumentException => s"rename-column($from->$to)"
              }
            }
          case 15 => // BRANCHES: fork + branch-append (invisible to main/model), then on a later
            // step publish via fast-forward IF main is still at the fork (content adopts the
            // chain) — or assert the LOUD stale refusal and drop (main advanced in between)
            pendingBranch match {
              case None =>
                val name = s"br$step"
                val fork = table.currentVersion()
                table.createBranch(name)
                val b = SeqGen.table(spark, 20, parts = 1)
                  .withColumn("doc_id", concat(lit(s"br$step-"), col("doc_id"))).persist()
                graft.sources.Ingest.appendToBranch(spark, table, name, b)
                pendingBranch = Some((name, fork, modelOf(b).map { case (k, v, _) => (k, v) }))
                b.unpersist()
                assert(table.currentVersion() == fork,
                  "a branch commit must not advance main")
                s"branch-fork($name@v$fork)" // model untouched: branch commits are invisible
              case Some((name, fork, rows)) =>
                val out =
                  if (table.currentVersion() == fork) {
                    table.fastForward(name)
                    rows.foreach { case (k, v) => model(k) = v }
                    s"branch-publish($name)"
                  } else {
                    intercept[IllegalArgumentException](table.fastForward(name))
                    s"branch-stale-drop($name)"
                  }
                table.dropBranch(name)
                pendingBranch = None
                out
            }
          case 14 => // TAGS: pin the current version under a name, or drop one — a live tag's
            // version must stay byte-identically readable through EVERY later op (incl. both
            // expiry paths, which reap its untagged neighbors)
            if (liveTags.size < 3 && (liveTags.isEmpty || rnd.nextBoolean())) {
              val name = s"t$step"
              table.createTag(name)
              liveTags(name) = table.tags()(name)
              intercept[Exception](table.createTag(name)) // duplicate create is CAS-fenced
              s"tag($name=v${liveTags(name)})"
            } else {
              val name = liveTags.keys.toSeq.sorted.apply(rnd.nextInt(liveTags.size))
              table.dropTag(name)
              liveTags.remove(name)
              s"untag($name)"
            }
          case 12 => // LAYOUT EVOLUTION: declare a random writer layout — every later rewrite
            // follows it; content (the model) must be invariant under any clustering
            val l = graft.table.TableLayout(
              Seq("z", "hilbert", "doc-major")(rnd.nextInt(3)),
              sourceBuckets = Seq(16, 64)(rnd.nextInt(2)),
              ntokBinWidth = Seq(64, 128, 512)(rnd.nextInt(3)))
            table.setLayout(l)
            assert(table.currentLayout().contains(l))
            s"set-layout(${l.curve})"
          case 9 => // publish or discard a random pending stage (no-op when none outstanding)
            if (pendingStages.isEmpty) "wap-noop"
            else {
              val id = pendingStages.keys.toSeq.sorted.apply(rnd.nextInt(pendingStages.size))
              val rows = pendingStages.remove(id).get
              if (rnd.nextBoolean()) {
                table.publishStaged(id)
                rows.foreach { case (k, v) => model(k) = v }
                s"wap-publish($id)"
              } else {
                table.discardStaged(id); s"wap-discard($id)"
              }
            }
        }
        val prevVersion = history.keys.max // head before this op (history is updated below)
        history(table.currentVersion()) = model.toMap
        assert(contentOf(table) === model.toMap,
          s"seed=$seed step=$step op=$tag: physical content diverged from model")
        // the NET CHANGELOG must equal the model delta across EVERY op interleaving: content-
        // preserving ops (compact, rewrite, expire, stage) diff to empty, merges/streams/
        // rollbacks/publishes to exactly the visibility changes (when the pre-op version is
        // still retained — expiry legitimately reaps changelog history)
        def changelogParity(fromVersion: Long, ctx: String): Unit = {
          import spark.implicits._
          // MULTISET compare (group by row with counts), not Set: a bug that double-delivers an
          // identical changelog row must fail, not collapse silently
          val got = SeqIO.tableDiff(spark, table, fromVersion, table.currentVersion())
            .select(col("change_type"), col("doc_id"), xxhash64(col("tokens")).as("th"),
              col("n_tok"), col("source"))
            .as[(String, String, Long, Int, String)].collect()
            .map { case (ct, id, th, n, s) => (ct, id, (th, n, s)) }.toSeq
            .groupBy(identity).map { case (k, vs) => k -> vs.size }
          val prev = history(fromVersion)
          val cur = model.toMap
          val want: Map[(String, String, (Long, Int, String)), Int] =
            (cur.collect { case (id, v) if !prev.get(id).contains(v) => ("I", id, v) }.toSeq ++
              prev.collect { case (id, v) if !cur.get(id).contains(v) => ("D", id, v) }.toSeq)
              .map(_ -> 1).toMap // model keys are unique per side: multiplicity is always 1
          assert(got === want,
            s"seed=$seed step=$step op=$tag [$ctx v$fromVersion→head]: changelog diverged from " +
              s"the model delta (extra=${(got.toSet -- want.toSet).take(3)}, " +
              s"missing=${(want.toSet -- got.toSet).take(3)})")
        }
        if (table.snapshotVersions().contains(prevVersion))
          changelogParity(prevVersion, "prev-step")
        // range-spanning parity: diff from a RANDOM retained version, not just the previous one —
        // ranges that span a rollback, a published WAP stage, expiries and rewrites in one
        // (from, head] window are the q50-semantics corner a single-step check can't reach
        locally {
          val retained = table.snapshotVersions().filter(history.contains)
          if (retained.nonEmpty)
            changelogParity(retained(rnd.nextInt(retained.size)), "range-span")
        }
        // the metadata must DESCRIBE the data after every op (the table_files/table_history
        // contract): manifest record sums can only exceed the logical count while MoR delete
        // manifests hide rows; with none outstanding they must agree exactly, and the head
        // summary's file count must equal the manifest's
        locally {
          val snap = table.currentSnapshot()
          val live = table.liveFiles(snap)
          assert(live.forall(f => f.records > 0 && f.minDocId <= f.maxDocId &&
            f.minNtok <= f.maxNtok),
            s"seed=$seed step=$step op=$tag: a live manifest entry has degenerate stats")
          val recSum = live.map(_.records).sum
          if (snap.deleteManifests.isEmpty)
            assert(recSum === model.size.toLong,
              s"seed=$seed step=$step op=$tag: manifest records $recSum != model ${model.size}")
          else assert(recSum >= model.size.toLong,
            s"seed=$seed step=$step op=$tag: manifest records $recSum < model ${model.size} " +
              "(MoR deletes can hide rows, never invent them)")
          snap.summary.get("total-files").foreach(tf => assert(tf.toLong === live.size.toLong,
            s"seed=$seed step=$step op=$tag: summary total-files $tf != live ${live.size}"))
          val vs = table.snapshotVersions()
          assert(vs == vs.sorted && vs.distinct == vs && vs.last == snap.version,
            s"seed=$seed step=$step op=$tag: snapshot lineage corrupt: $vs")
        }
        // every live tag's pinned version must remain retained and read back exactly as the
        // model looked when it was tagged (expiry reaps its untagged neighbors around it)
        liveTags.foreach { case (name, v) =>
          assert(table.tags().get(name).contains(v),
            s"seed=$seed step=$step op=$tag: tag $name lost or repointed")
          assert(table.snapshotVersions().contains(v),
            s"seed=$seed step=$step op=$tag: tagged version v$v was expired")
          import spark.implicits._
          val got = SeqIO.readAt(spark, table, v)
            .select(col("doc_id"), xxhash64(col("tokens")).as("th"), col("n_tok"), col("source"))
            .as[(String, Long, Int, String)].collect()
            .map { case (id, th, n, s) => id -> (th, n, s) }.toMap
          assert(got === history(v),
            s"seed=$seed step=$step op=$tag: tagged v$v content diverged from its history")
        }
        // an outstanding branch must survive every op: chain intact, fork version pinned from
        // expiry, and its rows NEVER visible on main before its own publish step
        pendingBranch.foreach { case (name, fork, rows) =>
          assert(table.branchNames().contains(name),
            s"seed=$seed step=$step op=$tag: pending branch $name vanished")
          assert(table.snapshotVersions().contains(fork),
            s"seed=$seed step=$step op=$tag: branch fork v$fork was expired")
          assert(rows.forall { case (k, _) => !model.contains(k) },
            s"seed=$seed step=$step op=$tag: branch rows leaked into the model")
        }
        // outstanding WAP stages must survive every op (incl. expiry + manifest rewrites) and
        // stay OUT of the visible content until published
        assert(pendingStages.keySet.subsetOf(table.stagedIds().toSet),
          s"seed=$seed step=$step op=$tag: a pending staged commit vanished")
        // once streamed, the HWM property must survive EVERY op (monotone, never dropped)
        if (tag == "stream-append" || streamHwm != Long.MinValue) {
          val hwms = table.currentSnapshot().properties.collect {
            case (k, v) if k.startsWith("stream-batch-") => v.toLong }
          assert(hwms.nonEmpty, s"seed=$seed step=$step op=$tag: streaming HWM property dropped")
          assert(hwms.max >= streamHwm, s"seed=$seed step=$step op=$tag: HWM went backwards")
          streamHwm = hwms.max
        }
      }
    }
  }
}
