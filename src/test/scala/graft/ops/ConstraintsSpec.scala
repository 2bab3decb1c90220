package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestSession
import graft.TempDirs
import graft.fixtures.SeqGen
import graft.planner.GridConfig
import graft.table.{SeqIO, SeqTable}

/** CHECK constraints: add-time validation, write-time loud enforcement at the single write
  * boundary (appends, merge upserts, staged batches), ANSI NULL-passes semantics, drop.
  */
class ConstraintsSpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestSession.spark
  private val cfg = GridConfig()

  private def fresh(tag: String): SeqTable = {
    val root = tempDir(s"chk-$tag-").toString + "/t"
    SeqGen.fragmentedTable(spark, root, 1000, 5)._1
  }

  private def batch(n: Int, ntokShift: Int = 0) = SeqGen.table(spark, n, parts = 1)
    .withColumn("doc_id", concat(lit("b-"), col("doc_id")))
    .withColumn("n_tok", col("n_tok") + ntokShift)
    .withColumn("tokens", when(lit(ntokShift) === 0, col("tokens"))
      .otherwise(col("tokens"))) // n_tok intentionally desynced only via shift for violation

  test("add validates existing rows; violating appends fail loudly; valid ones pass") {
    val table = fresh("basic")
    // existing data violates → refused, nothing committed
    val v0 = table.currentVersion()
    intercept[IllegalArgumentException](
      Constraints.add(spark, table, "impossible", "n_tok < 0"))
    assert(table.currentVersion() == v0)

    Constraints.add(spark, table, "ntok-positive", "n_tok >= 16")
    assert(Constraints.of(table.currentSnapshot()) == Map("ntok-positive" -> "n_tok >= 16"))
    intercept[IllegalArgumentException]( // duplicate name refused
      Constraints.add(spark, table, "ntok-positive", "n_tok >= 1"))

    // a violating batch fails the WRITE loudly (task failure carries the constraint name)
    val bad = batch(50).withColumn("n_tok", lit(3))
    val e = intercept[Exception](graft.sources.Ingest.append(spark, table, bad))
    assert(e.getMessage != null || e.getCause != null) // loud, not silent
    assert(SeqIO.read(spark, table).filter(col("n_tok") === 3).count() == 0,
      "no violating row may land")

    // a valid batch passes
    graft.sources.Ingest.append(spark, table, batch(50))
    assert(SeqIO.read(spark, table).count() == 1050)

    // merge upserts are gated too (same write boundary)
    val badUpsert = batch(10).withColumn("doc_id", concat(lit("m-"), col("doc_id")))
      .withColumn("n_tok", lit(1)).withColumn("_op", lit("U"))
    intercept[Exception](MergeInto.merge(spark, table, badUpsert, cfg, 1000))
    assert(SeqIO.read(spark, table).filter(col("n_tok") === 1).count() == 0)

    // drop → the same violating batch lands
    Constraints.drop(table, "ntok-positive")
    graft.sources.Ingest.append(spark, table, bad)
    assert(SeqIO.read(spark, table).filter(col("n_tok") === 3).count() == 50)
  }

  test("ANSI semantics: NULL predicate passes — constraints over evolved columns admit " +
    "null-filled rows") {
    val table = fresh("ansi")
    table.addColumn("lang", org.apache.spark.sql.types.StringType)
    Constraints.add(spark, table, "lang-short", "length(lang) <= 8") // all-null today: passes
    // a batch without the evolved column null-fills → NULL predicate → passes
    graft.sources.Ingest.append(spark, table, batch(20))
    // a batch with a too-long lang fails
    val bad = batch(5).withColumn("doc_id", concat(lit("x-"), col("doc_id")))
      .withColumn("lang", lit("waytoolongvalue"))
    intercept[Exception](graft.sources.Ingest.append(spark, table, bad))
    assert(SeqIO.read(spark, table).filter(col("lang").isNotNull).count() == 0)
  }

  test("staged (WAP) batches are validated at staging, not at publish") {
    val table = fresh("wap")
    Constraints.add(spark, table, "src-known", "source LIKE 'src%' OR source LIKE 'b-%'")
    val bad = batch(10).withColumn("source", lit("mystery"))
    intercept[Exception](graft.sources.Ingest.appendStaged(spark, table, bad))
    val ok = batch(10)
    val id = graft.sources.Ingest.appendStaged(spark, table, ok)
    table.publishStaged(id)
    assert(SeqIO.read(spark, table).count() == 1010)
  }
}
