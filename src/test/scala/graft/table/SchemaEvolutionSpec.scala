package graft.table

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import graft.SparkTestSession
import graft.TempDirs
import graft.fixtures.SeqGen
import graft.ops.{Dml, MergeInto, Rewrite}
import graft.planner.GridConfig
import graft.sources.Ingest

/** Schema evolution (add-column, the Iceberg-style first slice): a metadata-only commit widens
  * the table schema; old data files are never rewritten and read the new column as null
  * (name-based reconciliation), new writes carry it, time travel reads each snapshot under the
  * schema that was current THEN, and every lifecycle op (append, compaction, merge, DML,
  * changelog) rides the evolved schema.
  */
class SchemaEvolutionSpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestSession.spark
  private val cfg = GridConfig()

  private def fresh(tag: String): String =
    tempDir(s"evolve-$tag-").toString + "/t"

  private val baseCols = Seq("doc_id", "tokens", "n_tok", "source")

  test("add column: old files null-fill, new appends carry it, time travel sees the old schema") {
    val root = fresh("basic")
    val (table, _) = SeqGen.fragmentedTable(spark, root, 500, 4)
    val vOld = table.currentVersion()
    table.addColumn("lang", StringType)
    assert(table.currentSchema().fieldNames.toSeq === baseCols :+ "lang")
    assert(table.currentSnapshot().operation === "evolve-schema")

    // pre-evolution files read with the column null-filled — no rewrite happened
    val df = SeqIO.read(spark, table)
    assert(df.columns.toSeq === baseCols :+ "lang")
    assert(df.count() === 500)
    assert(df.filter(col("lang").isNotNull).count() === 0)

    // a new append carries the column; old rows stay null
    val batch = SeqGen.table(spark, 50, parts = 1)
      .withColumn("doc_id", concat(lit("new-"), col("doc_id")))
      .withColumn("lang", lit("en"))
    Ingest.append(spark, table, batch)
    val after = SeqIO.read(spark, table)
    assert(after.count() === 550)
    assert(after.filter(col("lang") === "en").count() === 50)
    assert(after.filter(col("lang").isNull).count() === 500)

    // time travel BEFORE the evolve reads the old schema (and still all the rows)
    val old = SeqIO.readAt(spark, table, vOld)
    assert(old.columns.toSeq === baseCols)
    assert(old.count() === 500)

    // duplicate adds (any case) are refused; the base schema is intact
    intercept[IllegalArgumentException](table.addColumn("LANG", StringType))
    intercept[IllegalArgumentException](table.addColumn("doc_id", StringType))
  }

  test("compaction, merge, DML and changelog all carry the evolved column") {
    val root = fresh("life")
    val (table, _) = SeqGen.fragmentedTable(spark, root, 1000, 8)
    table.addColumn("lang", StringType)
    val batch = SeqGen.table(spark, 100, parts = 1)
      .withColumn("doc_id", concat(lit("en-"), col("doc_id")))
      .withColumn("lang", lit("en"))
    Ingest.append(spark, table, batch)

    // full compaction rewrite: the evolved column survives the round-trip
    Rewrite.compactFiles(spark, table, table.liveFiles(), cfg, 500)
    assert(SeqIO.read(spark, table).filter(col("lang") === "en").count() === 100)

    // a merge whose change set CARRIES lang writes it; one that doesn't null-fills
    val vPre = table.currentVersion()
    val withLang = SeqGen.table(spark, 20, parts = 1)
      .withColumn("doc_id", concat(lit("fr-"), col("doc_id")))
      .withColumn("lang", lit("fr"))
    MergeInto.merge(spark, table, withLang, cfg, 500)
    val without = SeqGen.table(spark, 10, parts = 1)
      .withColumn("doc_id", concat(lit("xx-"), col("doc_id")))
    MergeInto.merge(spark, table, without, cfg, 500)
    val now = SeqIO.read(spark, table)
    assert(now.filter(col("lang") === "fr").count() === 20)
    assert(now.filter(col("doc_id").startsWith("xx-") && col("lang").isNull).count() === 10)
    // the merges rewrote files holding en-rows' neighbors too: no en value was lost
    assert(now.filter(col("lang") === "en").count() === 100)

    // the changelog is expressed in the evolved schema and carries the values
    val diff = SeqIO.tableDiff(spark, table, vPre, table.currentVersion())
    assert(diff.columns.toSeq === ("change_type" +: baseCols :+ "lang"))
    assert(diff.filter(col("change_type") === "I" && col("lang") === "fr").count() === 20)

    // UPDATE can set the evolved column (and the victim scan + merge preserve the others)
    Dml.updateWhere(spark, table, col("doc_id").startsWith("xx-"),
      Map("lang" -> lit("und")), cfg, 500)
    val updated = SeqIO.read(spark, table)
    assert(updated.filter(col("lang") === "und").count() === 10)
    assert(updated.filter(col("lang") === "en").count() === 100)

    // DELETE through the evolved schema
    Dml.deleteWhere(spark, table, col("lang") === "fr", cfg, 500)
    assert(SeqIO.read(spark, table).filter(col("lang") === "fr").count() === 0)
    assert(SeqIO.read(spark, table).filter(col("lang") === "und").count() === 10)
  }

  test("drop column: evolved columns only, reads stop projecting, rewrites shed physically, " +
      "the name is retired") {
    val root = fresh("drop")
    val (table, _) = SeqGen.fragmentedTable(spark, root, 500, 4)
    table.addColumn("lang", StringType)
    val batch = SeqGen.table(spark, 50, parts = 1)
      .withColumn("doc_id", concat(lit("en-"), col("doc_id")))
      .withColumn("lang", lit("en"))
    Ingest.append(spark, table, batch)
    val vWith = table.currentVersion()
    table.dropColumn("lang")
    // reads stop projecting immediately (metadata-only; no files rewritten yet)
    val now = SeqIO.read(spark, table)
    assert(now.columns.toSeq === baseCols)
    assert(now.count() === 550)
    // time travel BEFORE the drop still sees the column with its values
    val before = SeqIO.readAt(spark, table, vWith)
    assert(before.columns.contains("lang"))
    assert(before.filter(col("lang") === "en").count() === 50)
    // a rewrite physically sheds the column from the files it touches
    Rewrite.compactFiles(spark, table, table.liveFiles(), cfg, 500)
    val written = spark.read.parquet(table.liveFiles().map(table.absolutePath): _*)
    assert(!written.columns.contains("lang"), "rewritten files must not carry the dropped column")
    // base columns are not droppable; dropping an already-gone column is refused
    intercept[IllegalArgumentException](table.dropColumn("doc_id"))
    intercept[IllegalArgumentException](table.dropColumn("lang")) // already gone
    // a fresh name still works
    table.addColumn("lang2", StringType)
    assert(table.currentSchema().fieldNames.contains("lang2"))
  }

  test("re-add after drop: field-ID indirection — the new generation is clean and writable, " +
      "stale pre-drop values never resurrect") {
    val root = fresh("readd")
    val (table, _) = SeqGen.fragmentedTable(spark, root, 300, 3)
    table.addColumn("lang", StringType)
    Ingest.append(spark, table, SeqGen.table(spark, 40, parts = 1)
      .withColumn("doc_id", concat(lit("g1-"), col("doc_id")))
      .withColumn("lang", lit("OLDGEN")))
    val vWith = table.currentVersion()
    table.dropColumn("lang")
    // RE-ADD of the retired name: previously refused; now a fresh field-ID generation whose
    // physical column (_fid<N>_lang) no pre-drop file contains
    table.addColumn("lang", StringType)
    assert(table.currentSchema().fieldNames.toSeq === baseCols :+ "lang")

    // 1) no resurrection: pre-drop files still physically hold 'lang' = OLDGEN, but the new
    //    generation must read every row as null
    val now = SeqIO.read(spark, table)
    assert(now.count() === 340)
    assert(now.filter(col("lang").isNotNull).count() === 0,
      "re-added column must NOT resurrect pre-drop values from un-rewritten files")

    // 2) the new generation is fully writable
    Ingest.append(spark, table, SeqGen.table(spark, 20, parts = 1)
      .withColumn("doc_id", concat(lit("g2-"), col("doc_id")))
      .withColumn("lang", lit("en")))
    val g2 = SeqIO.read(spark, table)
    assert(g2.filter(col("lang") === "en").count() === 20)
    assert(g2.filter(col("lang") === "OLDGEN").count() === 0)

    // 3) time travel BEFORE the drop still reads the old generation's values
    assert(SeqIO.readAt(spark, table, vWith).filter(col("lang") === "OLDGEN").count() === 40)

    // 4) a full compaction sheds the dead generation physically and carries the live one
    Rewrite.compactFiles(spark, table, table.liveFiles(), cfg, 500)
    val compacted = SeqIO.read(spark, table)
    assert(compacted.filter(col("lang") === "en").count() === 20)
    assert(compacted.filter(col("lang").isNotNull).count() === 20)
    val physical = spark.read.parquet(table.liveFiles().map(table.absolutePath): _*)
    assert(!physical.columns.contains("lang"),
      "the re-added generation lives under its field-ID physical name, not the dead one")

    // 5) rename of a re-added column is LOGICAL-only (physical name pinned): values survive,
    //    nothing resurrects, merge/DML speak the new name
    table.renameColumn("lang", "language")
    val ren = SeqIO.read(spark, table)
    assert(ren.filter(col("language") === "en").count() === 20)
    assert(ren.filter(col("language").isNotNull).count() === 20)
    Dml.updateWhere(spark, table, col("language").isNull,
      Map("language" -> lit("und")), cfg, 500)
    assert(SeqIO.read(spark, table).filter(col("language") === "und").count() === 340)

    // 6) a second drop + re-add cycle works too (monotonic field ids)
    table.dropColumn("language")
    table.addColumn("language", StringType)
    assert(SeqIO.read(spark, table).filter(col("language").isNotNull).count() === 0)
    Ingest.append(spark, table, SeqGen.table(spark, 5, parts = 1)
      .withColumn("doc_id", concat(lit("g3-"), col("doc_id")))
      .withColumn("language", lit("g3")))
    assert(SeqIO.read(spark, table).filter(col("language") === "g3").count() === 5)
  }

  test("widen column type: metadata-only promotion, old files up-cast at scan, time travel " +
      "reads the narrow type") {
    import org.apache.spark.sql.types.{DoubleType, FloatType, IntegerType, LongType}
    val root = fresh("widen")
    val (table, _) = SeqGen.fragmentedTable(spark, root, 200, 2)
    table.addColumn("score", IntegerType)
    Ingest.append(spark, table, SeqGen.table(spark, 20, parts = 1)
      .withColumn("doc_id", concat(lit("w1-"), col("doc_id")))
      .withColumn("score", lit(7)))
    val vNarrow = table.currentVersion()

    table.widenColumn("score", LongType)
    val df = SeqIO.read(spark, table)
    assert(df.schema("score").dataType === LongType)
    assert(df.filter(col("score") === 7L).count() === 20,
      "files written under the narrow type must read up-cast")
    // new writes land values beyond the narrow range; both generations coexist in one scan
    Ingest.append(spark, table, SeqGen.table(spark, 10, parts = 1)
      .withColumn("doc_id", concat(lit("w2-"), col("doc_id")))
      .withColumn("score", lit(10000000000L)))
    val mixed = SeqIO.read(spark, table)
    assert(mixed.filter(col("score") === 10000000000L).count() === 10)
    assert(mixed.filter(col("score") === 7L).count() === 20)
    // compaction roundtrip under the wide type
    Rewrite.compactFiles(spark, table, table.liveFiles(), cfg, 500)
    assert(SeqIO.read(spark, table).filter(col("score") === 10000000000L).count() === 10)
    // time travel BEFORE the widen reads the narrow type
    assert(SeqIO.readAt(spark, table, vNarrow).schema("score").dataType === IntegerType)
    // refusals: base columns and narrowing are not promotions
    intercept[IllegalArgumentException](table.widenColumn("n_tok", LongType))
    intercept[IllegalArgumentException](table.widenColumn("score", IntegerType))
    // float → double too
    table.addColumn("conf", FloatType)
    Ingest.append(spark, table, SeqGen.table(spark, 5, parts = 1)
      .withColumn("doc_id", concat(lit("w3-"), col("doc_id")))
      .withColumn("conf", lit(0.5f)))
    table.widenColumn("conf", DoubleType)
    val fd = SeqIO.read(spark, table)
    assert(fd.schema("conf").dataType === DoubleType)
    assert(fd.filter(col("conf") > 0.49 && col("conf") < 0.51).count() === 5)
  }

  test("rename column: metadata-only, old files keep their values, writers migrate, " +
      "time travel reads the old name") {
    val root = fresh("rename")
    val (table, _) = SeqGen.fragmentedTable(spark, root, 500, 4)
    table.addColumn("lang", StringType)
    val batch = SeqGen.table(spark, 50, parts = 1)
      .withColumn("doc_id", concat(lit("en-"), col("doc_id")))
      .withColumn("lang", lit("en"))
    Ingest.append(spark, table, batch)
    val filesBefore = table.liveFiles().map(_.path).toSet
    val vOldName = table.currentVersion()

    table.renameColumn("lang", "language")
    assert(table.liveFiles().map(_.path).toSet === filesBefore,
      "rename must be a metadata-only commit")
    // reads project the NEW name; values written under the OLD physical name still arrive
    val now = SeqIO.read(spark, table)
    assert(now.columns.toSeq === baseCols :+ "language")
    assert(now.filter(col("language") === "en").count() === 50)
    assert(now.filter(col("language").isNull).count() === 500)
    // time travel BEFORE the rename reads the old name (that snapshot's schema.json says so)
    assert(SeqIO.readAt(spark, table, vOldName).columns.toSeq === baseCols :+ "lang")

    // a new append under the new name coexists with old-named files in one scan
    val batch2 = SeqGen.table(spark, 30, parts = 1)
      .withColumn("doc_id", concat(lit("fr-"), col("doc_id")))
      .withColumn("language", lit("fr"))
    Ingest.append(spark, table, batch2)
    val mixed = SeqIO.read(spark, table)
    assert(mixed.filter(col("language") === "en").count() === 50)
    assert(mixed.filter(col("language") === "fr").count() === 30)

    // the changelog across the rename is expressed in the head schema, values intact
    val diff = SeqIO.tableDiff(spark, table, vOldName, table.currentVersion())
    assert(diff.columns.toSeq === ("change_type" +: baseCols :+ "language"))
    assert(diff.filter(col("change_type") === "I" && col("language") === "fr").count() === 30)

    // a full compaction migrates the physical name; content is invariant
    Rewrite.compactFiles(spark, table, table.liveFiles(), cfg, 500)
    val physical = spark.read.parquet(table.liveFiles().map(table.absolutePath): _*)
    assert(physical.columns.contains("language") && !physical.columns.contains("lang"),
      "rewritten files must carry only the current physical name")
    val after = SeqIO.read(spark, table)
    assert(after.filter(col("language") === "en").count() === 50)
    assert(after.filter(col("language") === "fr").count() === 30)

    // UPDATE through the new name; rename chains compose (language → tongue)
    Dml.updateWhere(spark, table, col("language").isNull, Map("language" -> lit("und")), cfg, 500)
    assert(SeqIO.read(spark, table).filter(col("language") === "und").count() === 500)
    table.renameColumn("language", "tongue")
    assert(SeqIO.read(spark, table).filter(col("tongue") === "en").count() === 50)
  }

  test("rename namespace: base columns pinned; historical and dropped names are closed forever") {
    val root = fresh("rename-ns")
    val (table, _) = SeqGen.fragmentedTable(spark, root, 100, 2)
    table.addColumn("lang", StringType)
    table.renameColumn("lang", "language")
    // base columns cannot be renamed (engine API) nor shadowed by a rename target
    intercept[IllegalArgumentException](table.renameColumn("doc_id", "key"))
    intercept[IllegalArgumentException](table.renameColumn("language", "tokens"))
    // the old name is HISTORY: not re-addable, not a rename target
    intercept[IllegalArgumentException](table.addColumn("lang", StringType))
    table.addColumn("score", org.apache.spark.sql.types.DoubleType)
    intercept[IllegalArgumentException](table.renameColumn("score", "lang"))
    // dropping a renamed column retires its WHOLE name history: a RENAME target may never be a
    // retired name (rename has no field-ID indirection — the new physical name would collide
    // with the dead generation's column in un-rewritten files); re-ADDS go through addColumn's
    // indirection instead (see the dedicated re-add test)
    table.dropColumn("language")
    intercept[IllegalArgumentException](table.renameColumn("score", "lang"))
    intercept[IllegalArgumentException](table.renameColumn("score", "language"))
    // a genuinely fresh name is fine
    table.renameColumn("score", "quality")
    assert(table.currentSchema().fieldNames.toSeq === baseCols :+ "quality")

    // a STALE PRODUCER still writing the old name must fail loudly — both on append (conform)
    // and on merge (change-set normalization) — instead of silently null-filling the new name
    val staleBatch = SeqGen.table(spark, 5, parts = 1)
      .withColumn("doc_id", concat(lit("stale-"), col("doc_id")))
      .withColumn("score", lit(1.0))
    val eAppend = intercept[IllegalArgumentException](Ingest.append(spark, table, staleBatch))
    assert(eAppend.getMessage.contains("'score' (now 'quality')"))
    val eMerge = intercept[IllegalArgumentException](
      MergeInto.merge(spark, table, staleBatch, cfg, 500))
    assert(eMerge.getMessage.contains("'score' (now 'quality')"))
    // the same batch speaking the CURRENT name goes through
    Ingest.append(spark, table, staleBatch.withColumnRenamed("score", "quality"))
    assert(SeqIO.read(spark, table).filter(col("quality") === 1.0).count() === 5)
  }

  test("mixed-case evolved columns: append and merge carry values (case-insensitive presence)") {
    val root = fresh("case")
    val (table, _) = SeqGen.fragmentedTable(spark, root, 200, 2)
    table.addColumn("Lang", StringType) // original case preserved in the schema
    // a merge change set CARRYING Lang must write its values, not silently null-fill them
    val withLang = SeqGen.table(spark, 20, parts = 1)
      .withColumn("doc_id", concat(lit("mc-"), col("doc_id")))
      .withColumn("Lang", lit("en"))
    MergeInto.merge(spark, table, withLang, cfg, 500)
    assert(SeqIO.read(spark, table).filter(col("Lang") === "en").count() === 20,
      "merge must carry a mixed-case evolved column's values")
    // same through the append/conform path (which lowercases input column names)
    val batch = SeqGen.table(spark, 10, parts = 1)
      .withColumn("doc_id", concat(lit("mc2-"), col("doc_id")))
      .withColumn("lang", lit("fr")) // producer writes lowercase; schema says Lang
    Ingest.append(spark, table, batch)
    assert(SeqIO.read(spark, table).filter(col("Lang") === "fr").count() === 10,
      "conform must match evolved columns case-insensitively")
  }

  test("rollback does not undo a schema change; MoR deletes work on evolved tables") {
    val root = fresh("rb")
    val (table, _) = SeqGen.fragmentedTable(spark, root, 400, 4)
    val vBefore = table.currentVersion()
    table.addColumn("score", org.apache.spark.sql.types.DoubleType)
    table.rollbackTo(vBefore)
    // content reverted; schema (table configuration) stays evolved — the Iceberg contract
    assert(SeqIO.read(spark, table).count() === 400)
    assert(table.currentSchema().fieldNames.contains("score"))

    val del = SeqGen.changeSet(spark, 400, changes = 0, deletes = 50).persist()
    // hash-derived fixture keys collide: expected survivors from the ACTUAL distinct hit count
    val hits = SeqIO.read(spark, table)
      .join(del.select("doc_id").distinct(), Seq("doc_id"), "left_semi").count()
    MergeInto.merge(spark, table, del, cfg, 500, mor = true)
    val got = SeqIO.read(spark, table)
    assert(got.columns.toSeq === baseCols :+ "score")
    assert(got.count() === 400 - hits)
    del.unpersist()
  }
}
