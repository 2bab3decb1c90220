package graft.sources

import scala.collection.mutable
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.SparkTestSession
import graft.TempDirs
import graft.fixtures.SeqGen
import graft.ops.MergeInto
import graft.planner.GridConfig
import graft.table.{SeqIO, SeqTable}

/** `spark.readStream.format("graft")` — table versions as streaming offsets: every appended row
  * is delivered exactly once across micro-batches AND across query restarts (Spark's offset log
  * + deterministic version-ranged reads), and cdc mode surfaces net D/I rows a mirror can apply.
  */
class TableStreamSpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestSession.spark
  private val cfg = GridConfig()

  private def fresh(tag: String): String =
    tempDir(s"stream-$tag-").toString

  /** An append-family commit (what appends mode delivers — merges are rewrite commits). */
  private def append(table: SeqTable, df: DataFrame): Unit = {
    val metas = SeqIO.writeFiles(spark, table, df)
    table.commit("append", metas, Set.empty)
  }

  /** Run the source to exhaustion via foreachBatch, collecting (batchId, rows). */
  private def drain(df: DataFrame, checkpoint: String)(
      sink: mutable.Buffer[(Long, Seq[Row])]): Unit = {
    val q = df.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        sink.synchronized { sink += ((id, batch.collect().toSeq)); () }
      }
      .start()
    try q.processAllAvailable() finally q.stop()
  }

  test("appends mode: full history once, then only new commits, exactly once across restart") {
    val root = fresh("app")
    val (table, _) = SeqGen.fragmentedTable(spark, s"$root/t", 300, 3)
    val checkpoint = s"$root/ckpt"
    val got = mutable.Buffer.empty[(Long, Seq[Row])]
    val stream = spark.readStream.format("graft").option("path", table.root).load()
      .select("doc_id")

    drain(stream, checkpoint)(got)
    val first = got.flatMap(_._2).map(_.getString(0))
    assert(first.size === 300 && first.distinct.size === 300,
      "initial batch must deliver the full history exactly once")

    // new APPEND commits while the query is DOWN, then a restart from the same checkpoint:
    // only the new range is delivered (the offset log survives the restart). A merge/compaction
    // in appends mode would deliver nothing — that's cdc mode's job (next test).
    val changes = SeqGen.changeSet(spark, 300, changes = 100, deletes = 0).persist()
    append(table, changes.drop("_op"))
    got.clear()
    drain(stream, checkpoint)(got)
    val second = got.flatMap(_._2).map(_.getString(0))
    assert(second.nonEmpty, "the appended rows must arrive after restart")
    assert(second.size === second.distinct.size, "no duplicates across the restart")
    // every appended id is in the delivered set, and nothing from the untouched prefix re-arrives
    val touched = changes.select("doc_id").collect().map(_.getString(0)).toSet
    assert(touched.subsetOf(second.toSet),
      "every merged key must appear in the post-restart delivery")
    val untouchedBefore = first.toSet -- touched
    assert(second.toSet.intersect(untouchedBefore).isEmpty,
      "rows appended before the checkpointed offset must NOT be redelivered")
    changes.unpersist()

    // nothing new → a third run delivers nothing
    got.clear()
    drain(stream, checkpoint)(got)
    assert(got.flatMap(_._2).isEmpty, "an up-to-date stream must deliver nothing")
  }

  test("cdc mode: a merge's net D/I rows stream through; a mirror applying them converges") {
    val root = fresh("cdc")
    val (table, _) = SeqGen.fragmentedTable(spark, s"$root/t", 200, 2)
    val stream = spark.readStream.format("graft")
      .option("path", table.root).option("mode", "cdc").load()

    // sync the full history first (one I row per live row)
    val got = mutable.Buffer.empty[(Long, Seq[Row])]
    drain(stream.select("change_type", "doc_id"), s"$root/ckpt")(got)
    val initial = got.flatMap(_._2)
    assert(initial.size === 200 && initial.forall(_.getString(0) == "I"))

    val changes = SeqGen.changeSet(spark, 200, changes = 60, deletes = 20).persist()
    MergeInto.merge(spark, table, changes, cfg, 500)
    got.clear()
    drain(stream.select("change_type", "doc_id"), s"$root/ckpt")(got)
    val delta = got.flatMap(_._2)
    val dIds = delta.filter(_.getString(0) == "D").map(_.getString(1)).toSet
    val iIds = delta.filter(_.getString(0) == "I").map(_.getString(1)).toSet
    val deleted = changes.filter(col("_op") === "D").select("doc_id").collect()
      .map(_.getString(0)).toSet
    assert(deleted.subsetOf(dIds), "every deleted key must surface as a D row")
    assert(deleted.intersect(iIds).isEmpty, "a deleted key must not also be re-inserted")
    assert(iIds.nonEmpty, "updates/inserts must surface as I rows")
    // the stream's cumulative I − D set IS the table: apply both batches to an id-set mirror
    val mirror = (initial.map(_.getString(1)).toSet -- dIds) ++ iIds
    val live = SeqIO.read(spark, table).select("doc_id").collect().map(_.getString(0)).toSet
    assert(mirror === live, "cumulative cdc application must reconstruct the live id set")
    changes.unpersist()
  }

  test("maxVersionsPerTrigger splits the backfill into bounded micro-batches") {
    val root = fresh("rate")
    val (table, _) = SeqGen.fragmentedTable(spark, s"$root/t", 100, 2) // v1
    (1 to 3).foreach { i => // v2..v4: three more append commits
      append(table, SeqGen.changeSet(spark, 100 + i, changes = 20, deletes = 0).drop("_op"))
    }
    val got = mutable.Buffer.empty[(Long, Seq[Row])]
    val stream = spark.readStream.format("graft").option("path", table.root)
      .option("maxVersionsPerTrigger", "1").load().select("doc_id")
    drain(stream, s"$root/ckpt")(got)
    // 4 commits × cap 1 → exactly 4 micro-batches, union identical to the unthrottled read
    assert(got.size === 4, s"4 commits at cap 1 must arrive as 4 batches, got ${got.size}")
    assert(got.forall(_._2.nonEmpty), "every throttled batch must carry its commit's rows")
    val all = got.flatMap(_._2).map(_.getString(0))
    assert(all.size === SeqIO.read(spark, table).count(),
      "the throttled union must equal the table (no loss, no duplicates)")
  }

  test("restart with the cap on: the cold rate-limit floor must not re-deliver " +
      "already-checkpointed versions") {
    val root = fresh("rate-restart")
    val (table, _) = SeqGen.fragmentedTable(spark, s"$root/t", 100, 2) // v1
    (1 to 3).foreach { i => // uniquely re-keyed: commits must not share doc_ids
      append(table, SeqGen.changeSet(spark, 100 + i, changes = 10, deletes = 0).drop("_op")
        .withColumn("doc_id", concat(lit(s"r$i-"), col("doc_id"))))
    } // v2..v4
    val stream = spark.readStream.format("graft").option("path", table.root)
      .option("maxVersionsPerTrigger", "1").load().select("doc_id")
    val got = mutable.Buffer.empty[(Long, Seq[Row])]
    drain(stream, s"$root/ckpt")(got) // consume v1..v4 fully, all batches committed
    val firstRun = got.flatMap(_._2).map(_.getString(0))

    // commits while the query is down, then a RESTART: the in-memory floor is cold, so
    // getOffset initially offers an offset below the checkpointed one — delivery must still be
    // exactly-once (the getBatch floor clamp), never a replay of v1..v4's rows
    (4 to 6).foreach { i =>
      append(table, SeqGen.changeSet(spark, 200 + i, changes = 10, deletes = 0).drop("_op")
        .withColumn("doc_id", concat(lit(s"r$i-"), col("doc_id"))))
    } // v5..v7
    got.clear()
    drain(stream, s"$root/ckpt")(got)
    val secondRun = got.flatMap(_._2).map(_.getString(0))
    assert(secondRun.size === secondRun.distinct.size, "no duplicates within the restart run")
    val expected = SeqIO.readAppendedBetween(spark, table, 4, 7)
      .select("doc_id").collect().map(_.getString(0)).toSet
    assert(secondRun.toSet === expected,
      s"restart must deliver exactly (v4, v7] — got ${secondRun.size} rows vs ${expected.size}")
    assert(firstRun.size + secondRun.size ===
      SeqIO.read(spark, table).count(), "across both runs: every row exactly once")
  }

  test("table-to-table pipeline: graft source into graft SINK, exactly once across restarts") {
    val root = fresh("pipe")
    val (src, _) = SeqGen.fragmentedTable(spark, s"$root/src", 300, 3)
    val dstDir = s"$root/dst"
    def run(): Unit = {
      val q = spark.readStream.format("graft").option("path", src.root).load()
        .writeStream.format("graft").option("path", dstDir)
        .option("checkpointLocation", s"$root/ckpt")
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    def hashOf(t: SeqTable): (Long, Long) = {
      val h = SeqIO.read(spark, t).agg(count(lit(1)),
        coalesce(expr("bit_xor(xxhash64(doc_id, tokens, n_tok, source))"), lit(0L))).head()
      (h.getLong(0), h.getLong(1))
    }
    run() // initial sync: the sink table is created and mirrors the source
    val dst = SeqTable.load(dstDir)
    assert(hashOf(dst) === hashOf(src), "the sink table must mirror the source after sync")

    // appends while the pipeline is down; a restart ships ONLY the delta (no duplicates: any
    // redelivery would break the count side of the hash)
    append(src, SeqGen.changeSet(spark, 300, changes = 80, deletes = 0).drop("_op")
      .withColumn("doc_id", concat(lit("d-"), col("doc_id"))))
    run()
    assert(hashOf(dst) === hashOf(src), "restart must ship exactly the new appends")
    // an idle restart commits nothing (the batch-id HWM skips replays)
    val vBefore = dst.currentVersion()
    run()
    assert(dst.currentVersion() === vBefore, "an up-to-date pipeline must not commit")
  }

  /** Drive a raw Source the way MicroBatchExecution does: getOffset → getBatch(last, o). */
  private def drainSource(s: org.apache.spark.sql.execution.streaming.Source,
      last0: Option[org.apache.spark.sql.execution.streaming.Offset])
      : Option[org.apache.spark.sql.execution.streaming.Offset] = {
    var last = last0
    var progressed = true
    while (progressed) {
      progressed = false
      s.getOffset.foreach { o =>
        if (!last.contains(o)) { s.getBatch(last, o); last = Some(o); progressed = true }
      }
    }
    last
  }

  test("capped restart: the persisted floor keeps getOffset at-or-above the checkpoint " +
      "(no offset regression, no permanent stall)") {
    import org.apache.spark.sql.execution.streaming.runtime.LongOffset
    val root = fresh("floor")
    val (table, _) = SeqGen.fragmentedTable(spark, s"$root/t", 100, 2) // v1
    (1 to 3).foreach { i =>
      append(table, SeqGen.changeSet(spark, 100 + i, changes = 10, deletes = 0).drop("_op")
        .withColumn("doc_id", concat(lit(s"f$i-"), col("doc_id"))))
    } // v2..v4
    val provider = new GraftSourceProvider
    val params = Map("path" -> table.root, "maxversionspertrigger" -> "1")
    val meta = s"$root/srcmeta"
    def newSource() = provider.createSource(spark.sqlContext, meta, None, "graft", params)

    val s1 = newSource()
    val committed = drainSource(s1, None) // v1..v4 delivered and "checkpointed" at offset 4
    assert(committed === Some(LongOffset(4L)))

    (4 to 6).foreach { i =>
      append(table, SeqGen.changeSet(spark, 200 + i, changes = 10, deletes = 0).drop("_op")
        .withColumn("doc_id", concat(lit(s"f$i-"), col("doc_id"))))
    } // v5..v7

    // RESTART: a cold floor would offer startingVersion+1 = 1, BELOW the committed offset 4 —
    // Spark would run the degenerate (4, 1] batch, regress its offset log to 1, and a second
    // restart would then see offered == committed == 1 forever (the permanent stall). The
    // persisted delivered-HWM seeds the floor at 4, so the first offer is 5.
    val s2 = newSource()
    assert(s2.getOffset === Some(LongOffset(5L)),
      "a restarted capped source must offer above its persisted delivered mark, not below " +
        "the checkpoint")
    val batch = org.apache.spark.sql.GraftSqlBridge.asBatchDataFrame(
      s2.getBatch(Some(LongOffset(4L)), LongOffset(5L)))
    val want = SeqIO.readAppendedBetween(spark, table, 4, 5).count()
    assert(batch.count() === want, "the restart batch must deliver exactly (v4, v5]")

    // a THIRD restart (the stall scenario's second) proceeds from the advanced mark too
    val s3 = newSource()
    assert(s3.getOffset === Some(LongOffset(6L)),
      "the floor pin must advance with every delivered batch")
  }

  test("mid-stream RENAME: the pinned schema resolves the new physical name (no silent nulls)") {
    import org.apache.spark.sql.execution.streaming.runtime.LongOffset
    val root = fresh("rename")
    val (table, _) = SeqGen.fragmentedTable(spark, s"$root/t", 50, 1) // v1
    table.addColumn("lang", org.apache.spark.sql.types.StringType) // v2
    val provider = new GraftSourceProvider
    val src = provider.createSource(spark.sqlContext, s"$root/srcmeta", None, "graft",
      Map("path" -> table.root))
    val last = drainSource(src, None) // pin the schema (doc_id…lang), consume history

    table.renameColumn("lang", "language") // v3, metadata-only, mid-stream
    val batch = SeqGen.changeSet(spark, 50, changes = 20, deletes = 0).drop("_op")
      .withColumn("doc_id", concat(lit("rn-"), col("doc_id")))
      .withColumn("language", concat(lit("L-"), col("doc_id")))
    Ingest.append(spark, table, batch) // v4: rows carry the NEW physical name

    val o = src.getOffset.get
    val got = org.apache.spark.sql.GraftSqlBridge.asBatchDataFrame(src.getBatch(last, o))
    assert(got.columns.contains("lang"), "the stream keeps its pinned column names")
    val delivered = got.filter(col("doc_id").startsWith("rn-"))
    assert(delivered.count() === 20)
    assert(delivered.filter(col("lang").isNull).count() === 0,
      "values written under the renamed physical name must arrive under the pinned name, " +
        "not null-fill")
    assert(delivered.filter(col("lang") === concat(lit("L-"), col("doc_id"))).count() === 20)
  }

  test("startingVersion=latest skips history; a later append still arrives") {
    val root = fresh("latest")
    val (table, _) = SeqGen.fragmentedTable(spark, s"$root/t", 100, 2)
    val stream = spark.readStream.format("graft")
      .option("path", table.root).option("startingVersion", "latest").load()
      .select("doc_id")
    val got = mutable.Buffer.empty[(Long, Seq[Row])]
    drain(stream, s"$root/ckpt")(got)
    assert(got.flatMap(_._2).isEmpty, "latest must skip the pre-existing history")

    val changes = SeqGen.changeSet(spark, 100, changes = 40, deletes = 0).persist()
    append(table, changes.drop("_op"))
    got.clear()
    drain(stream, s"$root/ckpt")(got)
    assert(got.flatMap(_._2).size === changes.count(),
      "appends after stream creation must be delivered — and ONLY those (the 'latest' pin " +
        "must survive the restart instead of re-resolving to the new head)")
    changes.unpersist()
  }
}
