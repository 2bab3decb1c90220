package graft.table

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkTestSession
import graft.TempDirs
import graft.fixtures.SeqGen
import graft.ops.{MergeInto, Rewrite}
import graft.planner.GridConfig

/** [[SeqIO.tableDiff]] — the net row-level changelog — against a definitional oracle: the full
  * content diff of the two endpoint reads (`exceptAll` both ways over EVERYTHING). The operator
  * must produce the identical multiset while reading only changed files + delta-key rows.
  */
class DiffSpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestSession.spark
  private val cfg = GridConfig()

  private def fresh(tag: String): String =
    tempDir(s"diff-$tag-").toString + "/t"

  private val cols = Seq("doc_id", "tokens", "n_tok", "source")

  /** Definitional oracle: full-table content diff between the two endpoint reads. */
  private def bruteDiff(table: SeqTable, from: Long, to: Long): DataFrame = {
    val a = SeqIO.readAt(spark, table, from).select(cols.map(col): _*)
    val b = SeqIO.readAt(spark, table, to).select(cols.map(col): _*)
    b.exceptAll(a).select(lit("I").as("change_type") +: cols.map(col): _*)
      .unionByName(a.exceptAll(b).select(lit("D").as("change_type") +: cols.map(col): _*))
  }

  private def assertSameMultiset(got: DataFrame, want: DataFrame): Unit = {
    assert(got.exceptAll(want).count() === 0, "rows the operator emitted but the oracle didn't")
    assert(want.exceptAll(got).count() === 0, "rows the oracle expects but the operator missed")
  }

  test("COW merge + compaction: diff is the merge's visibility changes; copied rows cancel") {
    val root = fresh("cow")
    val (table, _) = SeqGen.fragmentedTable(spark, root, 2000, 10)
    val v1 = table.currentVersion()
    val changes = SeqGen.changeSet(spark, 2000, changes = 300, deletes = 100).persist()
    MergeInto.merge(spark, table, changes, cfg, 1000)
    Rewrite.compactFiles(spark, table, table.liveFiles(), cfg, 1000) // rewrites every survivor
    val head = table.currentVersion()
    val got = SeqIO.tableDiff(spark, table, v1, head).persist()
    assertSameMultiset(got, bruteDiff(table, v1, head))
    // sanity on shape: deletes ⊆ old content, inserts carry the new payloads
    assert(got.filter(col("change_type") === "D").count() > 0)
    assert(got.filter(col("change_type") === "I").count() > 0)
    got.unpersist(); changes.unpersist()
  }

  test("MoR merge: delta delete keys on CARRIED files surface as D; upserts as I") {
    val root = fresh("mor")
    val (table, _) = SeqGen.fragmentedTable(spark, root, 2000, 10)
    val v1 = table.currentVersion()
    val changes = SeqGen.changeSet(spark, 2000, changes = 300, deletes = 100).persist()
    val r = MergeInto.merge(spark, table, changes, cfg, 1000, mor = true)
    assert(r.filesRewritten === 0, "premise: MoR must leave every target file carried")
    val head = table.currentVersion()
    val got = SeqIO.tableDiff(spark, table, v1, head).persist()
    assertSameMultiset(got, bruteDiff(table, v1, head))
    // the old versions of updated/deleted keys live ONLY in carried files — a file-diff-only
    // implementation would miss every D row
    val delKeys = changes.filter(col("_op") === "D").select("doc_id")
    assert(got.filter(col("change_type") === "D")
      .join(delKeys, Seq("doc_id"), "left_semi").count() > 0)
    got.unpersist(); changes.unpersist()
  }

  test("content-preserving ops alone (compact, manifest rewrite) diff to empty") {
    val root = fresh("noop")
    val (table, _) = SeqGen.fragmentedTable(spark, root, 1000, 8)
    val v1 = table.currentVersion()
    Rewrite.compactFiles(spark, table, table.liveFiles(), cfg, 1000)
    table.rewriteManifests()
    SeqIO.rewriteManifestsDistributed(spark, table)
    assert(SeqIO.tableDiff(spark, table, v1, table.currentVersion()).count() === 0)
  }

  test("rollback: diff(v_merge, v_rollback) is the exact inverse of diff(v1, v_merge)") {
    val root = fresh("rb")
    val (table, _) = SeqGen.fragmentedTable(spark, root, 1000, 8)
    val v1 = table.currentVersion()
    val changes = SeqGen.changeSet(spark, 1000, changes = 200, deletes = 60).persist()
    MergeInto.merge(spark, table, changes, cfg, 1000, mor = true)
    val v2 = table.currentVersion()
    table.rollbackTo(v1)
    val v3 = table.currentVersion()
    val fwd = SeqIO.tableDiff(spark, table, v1, v2)
    val back = SeqIO.tableDiff(spark, table, v2, v3)
    val flipped = back.withColumn("change_type",
      when(col("change_type") === "I", "D").otherwise("I"))
    assertSameMultiset(flipped, fwd)
    // and v1 -> v3 nets to nothing
    assert(SeqIO.tableDiff(spark, table, v1, v3).count() === 0)
    changes.unpersist()
  }

  test("distributed metadata diff: parity with the driver path, ZERO driver manifest parses") {
    val root = fresh("dist")
    val (table, _) = SeqGen.fragmentedTable(spark, root, 2000, 10)
    val v1 = table.currentVersion()
    // MoR merge (delta delete keys on carried files) + COW merge (added/removed files): the
    // range exercises every metadata-diff branch at once
    val c1 = SeqGen.changeSet(spark, 2000, changes = 300, deletes = 100).persist()
    MergeInto.merge(spark, table, c1, cfg, 1000, mor = true)
    val c2 = SeqGen.changeSet(spark, 2000, changes = 200, deletes = 50).persist()
    MergeInto.merge(spark, table, c2, cfg, 1000)
    val head = table.currentVersion()
    val driver = SeqIO.tableDiff(spark, table, v1, head).persist()
    assert(driver.count() > 0)
    // cold handle, forced distributed: the driver must parse NOTHING — every manifest byte is
    // read by executors (the 10^7-file contract; at that scale the driver path is ~130 GB heap)
    val cold = SeqTable.load(root)
    val dist = SeqIO.tableDiff(spark, cold, v1, head, distributedMetaFiles = 0L).persist()
    assert(cold.manifestFileReads.get() === 0L,
      "distributed tableDiff parsed a manifest on the driver")
    assertSameMultiset(dist, driver)
    assertSameMultiset(dist, bruteDiff(table, v1, head))
    driver.unpersist(); dist.unpersist(); c1.unpersist(); c2.unpersist()
  }

  test("tokens null vs empty array must NOT false-cancel (per-column null flags in the hash)") {
    val root = fresh("nulltok")
    val (table, _) = SeqGen.fragmentedTable(spark, root, 120, 2)
    val v1 = table.currentVersion()
    // pick one existing key and upsert it with tokens = NULL, then across a second range flip
    // it to tokens = [] with every OTHER column identical — a hash that null-skips the tokens
    // column sees both states identically and drops the change from the diff
    val key = SeqIO.read(spark, table).select("doc_id").orderBy("doc_id").head().getString(0)
    val toNull = spark.sql(s"SELECT '$key' AS doc_id, " +
      "CAST(NULL AS ARRAY<INT>) AS tokens, 0 AS n_tok, 's' AS source")
    MergeInto.merge(spark, table, toNull, cfg, 500)
    val v2 = table.currentVersion()
    val toEmpty = spark.sql(s"SELECT '$key' AS doc_id, " +
      "array()::ARRAY<INT> AS tokens, 0 AS n_tok, 's' AS source")
    MergeInto.merge(spark, table, toEmpty, cfg, 500)
    // (and the upsert-without-payload-columns shape now fails LOUDLY instead of crashing
    // far away in the curve write)
    intercept[IllegalArgumentException](
      MergeInto.merge(spark, table, spark.sql(s"SELECT '$key' AS doc_id"), cfg, 500))
    val d = SeqIO.tableDiff(spark, table, v2, table.currentVersion())
      .filter(col("doc_id") === key).collect()
      .map(r => (r.getString(0), Option(r.getSeq[Int](2)).map(_.size))).toSet
    assert(d === Set(("D", None), ("I", Some(0))),
      s"null→[] tokens must surface as a D/I pair, got $d")
    // and the full-range diff still matches the definitional oracle
    assertSameMultiset(SeqIO.tableDiff(spark, table, v1, table.currentVersion()),
      bruteDiff(table, v1, table.currentVersion()))
  }

  test("complex-typed evolved columns hash losslessly: array boundary changes must not " +
      "false-cancel") {
    val root = fresh("complexhash")
    val (table, _) = SeqGen.fragmentedTable(spark, root, 120, 2)
    table.addColumn("labels",
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.StringType))
    val key = SeqIO.read(spark, table).select("doc_id").orderBy("doc_id").head().getString(0)
    // ["a, b"] → ["a","b"]: a string cast renders BOTH as "[a, b]", so a cast-based hash
    // false-cancels the update and the CDC consumer silently misses it
    MergeInto.merge(spark, table, spark.sql(s"SELECT '$key' AS doc_id, " +
      "array(1) AS tokens, 1 AS n_tok, 's' AS source, array('a, b') AS labels"), cfg, 500)
    val v2 = table.currentVersion()
    MergeInto.merge(spark, table, spark.sql(s"SELECT '$key' AS doc_id, " +
      "array(1) AS tokens, 1 AS n_tok, 's' AS source, array('a', 'b') AS labels"), cfg, 500)
    val d = SeqIO.tableDiff(spark, table, v2, table.currentVersion())
      .filter(col("doc_id") === key).collect()
      .map(r => (r.getString(0), r.getSeq[String](5).toList)).toSet
    assert(d === Set(("D", List("a, b")), ("I", List("a", "b"))),
      s"a genuine array-boundary change must surface as a D/I pair, got $d")
  }

  test("same version and empty ranges return empty with the changelog schema") {
    val root = fresh("empty")
    val (table, _) = SeqGen.fragmentedTable(spark, root, 200, 2)
    val d = SeqIO.tableDiff(spark, table, table.currentVersion(), table.currentVersion())
    assert(d.columns.toSeq === ("change_type" +: cols))
    assert(d.count() === 0)
  }
}
