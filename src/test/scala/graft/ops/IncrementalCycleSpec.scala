package graft.ops

import org.apache.spark.sql.Column
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.TempDirs
import graft.fixtures.SeqGen
import graft.planner.GridConfig
import graft.sources.Ingest
import graft.state.Checkpoint
import graft.table.{SeqIO, SeqTable}

class IncrementalCycleSpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestSession.spark
  private val cfg = GridConfig()

  test("incremental cycles plan the same work as full replanning and converge") {
    val root = tempDir("inc-cycle-").toString + "/t"
    val (table, _) = SeqGen.fragmentedTable(spark, root, 5000, 40)
    val opts = MaintenanceOptions(k = 12, targetRecordsPerFile = 500, incremental = true)
    val ckpt = new Checkpoint(s"$root/state")

    var go = true
    var cycles = 0
    while (go && cycles < 12) {
      val r = MaintenanceRunner.runCycle(spark, table, cfg, opts, ckpt)
      go = r.tasksExecuted > 0; cycles += 1
    }
    assert(cycles < 12)
    assert(ckpt.loadPlannerState().nonEmpty)
    assert(SeqIO.read(spark, table).count() === 5000)

    // new data arrives → only its nodes are dirty; the incremental plan must match a full replan
    Ingest.append(spark, table,
      SeqGen.table(spark, 1500, parts = 6)
        .withColumn("doc_id", org.apache.spark.sql.functions.concat(
          org.apache.spark.sql.functions.lit("new-"),
          org.apache.spark.sql.functions.col("doc_id"))))
    val (incTasks, _) = MaintenancePlanner.planIncremental(
      spark, table, cfg, opts.k, opts.threshold, opts.targetRecordsPerFile,
      ckpt.loadPlannerState())
    val fullTasks = MaintenancePlanner.planCompaction(
      spark, table.liveFiles(), cfg, opts.k, opts.threshold, opts.targetRecordsPerFile)
    assert(incTasks.map(_.region) === fullTasks.map(_.region))
    assert(incTasks.map(_.filePaths.toSet) === fullTasks.map(_.filePaths.toSet))

    // and running the incremental cycle applies it, preserving all rows
    var go2 = true
    var c2 = 0
    while (go2 && c2 < 12) {
      val r = MaintenanceRunner.runCycle(spark, table, cfg, opts, ckpt)
      go2 = r.tasksExecuted > 0; c2 += 1
    }
    assert(SeqIO.read(spark, table).count() === 6500)
  }

  test("the cycle materializes MoR deletes by itself: pressure-weighted planning rewrites " +
      "laden files and housekeeping retires the obsolete manifests (no caller-invoked " +
      "MaterializeDeletes)") {
    // the pending keys become deletion vectors; a file is rewritten for its deletes only once
    // they outweigh it, so no live file stays deleted by vector above that rule
    import org.apache.spark.sql.functions.col
    val root = tempDir("inc-mor-").toString + "/t"
    val (table, _) = SeqGen.fragmentedTable(spark, root, 3000, 12)
    val opts = MaintenanceOptions(k = 12, targetRecordsPerFile = 500, incremental = true)
    val ckpt = new Checkpoint(s"$root/state")
    var c = 0
    while (MaintenanceRunner.runCycle(spark, table, cfg, opts, ckpt).tasksExecuted > 0 && c < 12)
      c += 1
    assert(c < 12)

    // heavy MoR delete set: manifests land, nothing is rewritten, reads go delete-aware. 2000
    // drawn keys are ~1460 distinct, so each file is about half deleted: near the rewrite rule
    val changes = SeqGen.changeSet(spark, 3000, changes = 100, deletes = 2000).persist()
    MergeInto.merge(spark, table, changes, cfg, 500, mor = true)
    assert(table.currentSnapshot().deleteManifests.nonEmpty)
    val logical = SeqIO.read(spark, table).persist()
    val expected = logical.count()
    val delKeys = changes.filter(col("_op") === "D").select("doc_id").persist()

    // the CYCLE alone must apply them: the keys become deletion vectors, pressure routes the
    // files they outweigh into the top-k, the delete-aware task rewrite applies them
    var c2 = 0
    var executedAny = 0
    var go = true
    while (go && c2 < 12) {
      val r = MaintenanceRunner.runCycle(spark, table, cfg, opts, ckpt)
      executedAny += r.tasksExecuted
      go = r.tasksExecuted > 0
      c2 += 1
    }
    assert(c2 < 12, "cycles must converge after applying the deletes")
    assert(executedAny > 0, "the planner must have scheduled the files the deletes outweigh")
    val snap = table.currentSnapshot()
    assert(SeqIO.keyManifestsOf(snap).isEmpty, "every equality delete must have become a vector")
    // what stays deleted by vector: live files below the rewrite rule; a manifest whose targets
    // are all dead is retired by the cycle's housekeeping
    val live = table.liveFiles().map(f => SeqIO.fileBasename(f.path) -> f).toMap
    val headers = SeqIO.dvManifestsOf(snap).map(m => m -> graft.table.Dv.headers(table, Seq(m)))
    headers.foreach { case (m, hs) =>
      assert(hs.exists(h => live.contains(h._1)), s"$m targets no live file")
    }
    headers.flatMap(_._2).groupMapReduce(_._1)(_._2)(_ + _).foreach { case (bn, n) =>
      live.get(bn).foreach { f =>
        assert(MaintenancePlanner.DeleteWeight * n / f.records < opts.threshold,
          s"$bn keeps $n of ${f.records} rows deleted by vector, above the rewrite rule")
      }
    }
    val physical = SeqIO.read(spark, table)
    assert(physical.count() === expected)
    assert(physical.join(delKeys, Seq("doc_id"), "left_semi").count() === 0,
      "deleted keys must stay gone")
    logical.unpersist(); changes.unpersist(); delKeys.unpersist()
  }

  test("MoR deletes that outweigh their files are materialized: every laden file is " +
      "rewritten and housekeeping retires every delete manifest") {
    import org.apache.spark.sql.functions._
    val root = tempDir("inc-mor90-").toString + "/t"
    val (table, _) = SeqGen.fragmentedTable(spark, root, 3000, 12)
    val opts = MaintenanceOptions(k = 12, targetRecordsPerFile = 500, incremental = true)
    val ckpt = new Checkpoint(s"$root/state")
    var c = 0
    while (MaintenanceRunner.runCycle(spark, table, cfg, opts, ckpt).tasksExecuted > 0 && c < 12)
      c += 1
    assert(c < 12)

    // ~90 % of every file's keys, deleted merge-on-read
    val laden = table.liveFiles().map(_.path).toSet
    val delKeys = SeqIO.read(spark, table).select("doc_id")
      .filter(pmod(xxhash64(col("doc_id")), lit(10)) =!= 0).persist()
    MergeInto.merge(spark, table, delKeys.withColumn("_op", lit("D")), cfg, 500, mor = true)
    assert(table.liveFiles().map(_.path).toSet === laden, "a MoR delete rewrites nothing")
    val expected = SeqIO.read(spark, table).count()

    var c2 = 0
    var go = true
    while (go && c2 < 12) {
      go = MaintenanceRunner.runCycle(spark, table, cfg, opts, ckpt).tasksExecuted > 0
      c2 += 1
    }
    assert(c2 < 12, "cycles must converge after materializing the deletes")
    assert(table.liveFiles().forall(f => !laden(f.path)), "every laden file must be rewritten")
    assert(table.currentSnapshot().deleteManifests.isEmpty,
      "obsolete delete manifests must be retired by the cycle's housekeeping")
    val physical = SeqIO.read(spark, table)
    assert(physical.count() === expected)
    assert(physical.join(delKeys, Seq("doc_id"), "left_semi").count() === 0)
    delKeys.unpersist()
  }

  test("the drain terminates when a clustered rewrite cannot reduce its file count") {
    // merge_read_mix at 12 000 rows, MoR batch pinned to one source, seed 32: the benchmark's
    // seeded inputs, rebuilt here. The drain rewrote the same 1 447 rows from 6 clustered files
    // into 6 clustered files every cycle: the file-count win (ceil(rows / target) = 5 < 6) never
    // came, because the writer balances bytes, not rows.
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val (rows, seed, nSources) = (12000L, 32L, 20)
    val rng = new scala.util.Random(seed)
    val names = (0 until nSources).map { k =>
      val (bucket, tag) = (cfg.sourceBucket(s"src$k"), rng.nextInt(1 << 20))
      Iterator.from(0).map(j => f"src$k-$tag%05x-$j").find(n => cfg.sourceBucket(n) == bucket).get
    }
    val (mult, offset) = (rng.nextLong() & Long.MaxValue, rng.nextLong() & Long.MaxValue)
    val a = { // a multiplier coprime with rows in [rows/4, 3 rows/4)
      var m = rows / 4 + mult % (rows / 2)
      while (m > 1 && BigInt(m).gcd(BigInt(rows)) != BigInt(1)) m -= 1
      m
    }
    val b = offset % rows
    val srcMap = typedLit((0 until nSources).map(k => s"src$k" -> names(k)).toMap)
    def renamed(df: DataFrame) = df.withColumn("source", element_at(srcMap, col("source")))
    def permuted(k: Column) = format_string("doc-%010d", pmod(k * a + b, lit(rows)))
    def changeSet(tag: Int): DataFrame = {
      val (changes, deletes) = (rows * 3 / 100, rows * 6 / 1000)
      def existing(count: Long, salt: Int) = {
        val stride = rows / count
        val o = math.floorMod(new scala.util.Random(seed * 31 + tag * 7 + salt).nextLong(), stride)
        permuted((lit(o) + substring(col("doc_id"), 5, 10).cast("long") * stride) % rows)
      }
      val upd = SeqGen.table(spark, changes / 2, nSources, 2)
        .withColumn("doc_id", existing(changes / 2, 1))
        .withColumn("tokens", transform(col("tokens"), t => t + 1))
      val ins = SeqGen.table(spark, changes - changes / 2, nSources, 2)
        .withColumn("doc_id",
          format_string(s"new-$tag-%016x", xxhash64(col("doc_id"), lit(seed), lit(tag))))
      val del = SeqGen.table(spark, deletes, nSources, 1).withColumn("doc_id", existing(deletes, 2))
      val all = renamed(upd.withColumn("_op", lit("U")).unionByName(ins.withColumn("_op", lit("U")))
        .unionByName(del.withColumn("_op", lit("D"))))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("_op"), xxhash64(col("tokens")), col("n_tok"), col("source"))
      all.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1).drop("_rn")
    }
    val root = tempDir("drain-").toString
    def staged(name: String, df: DataFrame) = {
      df.write.parquet(s"$root/$name"); spark.read.parquet(s"$root/$name")
    }
    val target = rows / 40
    val base = staged("base", renamed(SeqGen.table(spark, rows, nSources, 4))
      .withColumn("doc_id", permuted(substring(col("doc_id"), 5, 10).cast("long"))))
    val cow = staged("cow", changeSet(1))
    val mor = staged("mor", changeSet(2).withColumn("source", lit(names(1))))
    // also with the manifest rewrite and an expiry that drops the snapshot which wrote the
    // files a task claims, so no termination argument may lean on snapshot history
    val plain = MaintenanceOptions(k = 64, targetRecordsPerFile = target)
    for ((opts, i) <- Seq(plain, plain.copy(rewriteManifests = true, expireKeepLast = 1))
        .zipWithIndex) {
      val table = SeqTable.create(s"$root/t$i")
      table.commit("append", Rewrite.clusteredWrite(spark, table, base, cfg, target, rows),
        Set.empty)
      MergeInto.merge(spark, table, cow, cfg, target)
      MergeInto.merge(spark, table, mor, cfg, target, mor = true)

      def contentHash(): (Long, String) = {
        val h = SeqIO.read(spark, table)
          .select(xxhash64(col("doc_id"), col("tokens"), col("n_tok"), col("source")).as("h"))
          .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")).cast("string")).head()
        (h.getLong(0), h.getString(1))
      }
      val before = contentHash()
      val ckpt = new Checkpoint(s"$root/state$i")
      var executed = Vector.empty[Int]
      while (executed.size < 12 && !executed.lastOption.contains(0))
        executed :+= MaintenanceRunner.runCycle(spark, table, cfg, opts, ckpt).tasksExecuted
      assert(executed.contains(0), s"the drain never reached a cycle without tasks: $executed")
      assert(contentHash() === before, "the drain changed the table content")
    }
  }
}
