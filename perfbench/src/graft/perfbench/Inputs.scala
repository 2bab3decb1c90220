package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.fixtures.SeqGen

/** Everything the benchmark feeds the program is derived from `SeqGen` output and the seed:
  *  - a seeded doc_id bijection `i -> (a*i + b) mod n` (every file of a fragmented table still
  *    spans the whole key range, since each generator partition is a contiguous block of i);
  *  - a seeded renaming of the 20 sources;
  *  - a seeded choice of the rows (and so keys) each change set updates and deletes.
  * The program only ever receives the generated tables and change sets.
  *
  * The renaming keeps every source in its planner grid bucket (`GridConfig.sourceBucket`), so
  * seeds change every name and key the program sees but not the layout it plans and clusters
  * over: different seeds measure the same amount of work. A seeded permutation of the names
  * moves the dominant source between buckets, and the drain's cycle count (2 to 5 on the same
  * table size) then varied more between seeds than any change the benchmark should detect.
  */
final class Inputs(val seed: Long) {
  val nSources = 20
  private val rng = new scala.util.Random(seed)
  private val names: Array[String] = {
    val cfg = graft.planner.GridConfig()
    (0 until nSources).map { k =>
      val bucket = cfg.sourceBucket(s"src$k")
      val tag = rng.nextInt(1 << 20)
      Iterator.from(0).map(j => f"src$k-$tag%05x-$j")
        .find(n => cfg.sourceBucket(n) == bucket).get
    }.toArray
  }
  private val mult: Long = rng.nextLong() & Long.MaxValue
  private val offset: Long = rng.nextLong() & Long.MaxValue

  /** the name generator source `k` is renamed to (k = 0 is the dominant one) */
  def source(k: Int): String = names(k)

  /** a multiplier coprime with n in [n/4, 3n/4), so `a*i mod n` scatters contiguous blocks */
  private def coprime(n: Long): Long = {
    var a = n / 4 + mult % math.max(1L, n / 2)
    while (a > 1 && BigInt(a).gcd(BigInt(n)) != BigInt(1)) a -= 1
    math.max(1L, a)
  }

  def docKey(i: Long): String = f"doc-$i%010d"

  private lazy val srcMap =
    typedLit((0 until nSources).map(k => s"src$k" -> names(k)).toMap)

  private def renameSources(df: DataFrame): DataFrame =
    df.withColumn("source", element_at(srcMap, col("source")))

  /** `n` generated rows in `parts` partitions (one data file each when written as is), with the
    * seeded doc_id bijection and source renaming applied.
    */
  def table(spark: SparkSession, n: Long, parts: Int): DataFrame = {
    val a = coprime(n)
    val b = offset % n
    renameSources(SeqGen.table(spark, n, nSources, parts))
      .withColumn("doc_id", format_string("doc-%010d",
        pmod(substring(col("doc_id"), 5, 10).cast("long") * a + b, lit(n))))
  }

  /** A change set against a table of `n` generated rows (plus any earlier inserts):
    * `changes/2` updates of existing rows with new payloads, `changes/2` inserts of keys unique
    * to (seed, tag), and `deletes` deletions of existing rows. Updated and deleted rows are
    * systematic samples with a seeded offset (generator rows `o`, `o + stride`, …), so every
    * file of the table receives the same share of a batch whatever the seed; which rows, and so
    * which keys, is the seed's choice. Duplicate keys keep one row by a deterministic tie-break,
    * as `SeqGen.changeSet` does.
    */
  def changeSet(spark: SparkSession, n: Long, changes: Long, deletes: Long, tag: Int): DataFrame = {
    val a = coprime(n)
    val b = offset % n
    // payload row k (numbered in its doc_id) targets generator row sampled(count, salt)(k)
    def existing(count: Long, salt: Int) = {
      val (o, stride) = systematic(n, count, tag, salt)
      val k = substring(col("doc_id"), 5, 10).cast("long")
      format_string("doc-%010d", pmod((lit(o) + k * stride) % n * a + b, lit(n)))
    }
    val upd = SeqGen.table(spark, changes / 2, nSources, 2)
      .withColumn("doc_id", existing(changes / 2, 1))
      .withColumn("tokens", transform(col("tokens"), t => t + 1))
      .withColumn("_op", lit("U"))
    val ins = SeqGen.table(spark, changes - changes / 2, nSources, 2)
      .withColumn("doc_id", format_string(s"new-$tag-%016x",
        xxhash64(col("doc_id"), lit(seed), lit(tag))))
      .withColumn("_op", lit("U"))
    val del = SeqGen.table(spark, math.max(deletes, 1L), nSources, 1)
      .withColumn("doc_id", existing(deletes, 2))
      .withColumn("_op", lit("D"))
    val all = renameSources(upd.unionByName(ins).unionByName(if (deletes > 0) del else del.limit(0)))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("_op"), xxhash64(col("tokens")), col("n_tok"), col("source"))
    all.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1).drop("_rn")
  }

  /** seeded offset and stride of a systematic sample of `count` of `n` generator rows */
  private def systematic(n: Long, count: Long, tag: Int, salt: Int): (Long, Long) = {
    val stride = math.max(1L, n / math.max(1L, count))
    (math.floorMod(new scala.util.Random(seed * 31 + tag * 7 + salt).nextLong(), stride), stride)
  }

  /** keys of the existing rows `changeSet(…, tag)` updates (salt 1) or deletes (salt 2) */
  def changedKeys(n: Long, count: Long, tag: Int, salt: Int): Set[String] = {
    val (o, stride) = systematic(n, count, tag, salt)
    (0L until count).map(k => docKey(Math.floorMod(((o + k * stride) % n) * coprime(n) + offset % n, n)))
      .toSet
  }

  /** seeded draws of distinct generator row indices in [0, n) */
  def pick(n: Long, count: Int, salt: Int): Seq[Long] = {
    val r = new scala.util.Random(seed * 1000003L + salt)
    Iterator.continually(math.floorMod(r.nextLong(), n)).distinct.take(count).toVector
  }
}
