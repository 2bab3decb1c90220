package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Shingling + minhash family correctness. The shingles expression is the hot path of every
  * dedup pipeline (ref: the reference's keyword split at Run.scala:76 is the analogous text op),
  * so it is implemented as a single regex pass — this spec pins its semantics to the definitional
  * word-n-gram oracle, including whitespace/short-text edges.
  */
class DedupSpec extends AnyFunSuite {
  private lazy val spark = graft.SparkTestSession.spark
  import spark.implicits._

  /** Definitional oracle: normalize, split to words, emit overlapping n-grams. */
  private def refShingles(text: String, n: Int): Seq[String] = {
    val words = text.replaceAll("[^A-Za-z0-9\\s]", "").toLowerCase
      .dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse // ASCII-space trim, like Spark's trim()
      .split("\\s+", -1).toSeq
    val w = if (words == Seq("")) Seq("") else words
    if (w.size < n) Seq(w.mkString(" "))
    else w.sliding(n).map(_.mkString(" ")).toSeq
  }

  private val samples = Seq(
    "The quick brown fox jumps over the lazy dog",
    "one two three",
    "one two",
    "one",
    "",
    "  padded   with  runs   of spaces  ",
    "punct, punct! and; more? yes: sure (ok) [fine]",
    "MiXeD CaSe WoRdS Go HeRe Now",
    "numbers 123 and 456 mix 789 tokens",
    "a b c d e f g h i j k l m n o p"
  )

  test("shingles matches the definitional word-n-gram oracle for n=2,3,5") {
    for (n <- Seq(2, 3, 5)) {
      val got = samples.toDF("text")
        .select(Dedup.shingles(col("text"), n).as("s"))
        .collect().map(_.getSeq[String](0).toSeq)
      val want = samples.map(refShingles(_, n))
      got.zip(want).zip(samples).foreach { case ((g, w), t) =>
        assert(g === w, s"n=$n text='$t'")
      }
    }
  }

  test("shingles on generated token soup matches oracle (property)") {
    val rnd = new scala.util.Random(11)
    val texts = (1 to 200).map { _ =>
      (1 to rnd.nextInt(30)).map(_ => rnd.alphanumeric.take(1 + rnd.nextInt(8)).mkString).mkString(" ")
    }
    val got = texts.toDF("text").select(Dedup.shingles(col("text"), 3).as("s"))
      .collect().map(_.getSeq[String](0).toSeq)
    got.zip(texts.map(refShingles(_, 3))).foreach { case (g, w) => assert(g === w) }
  }

  test("minhash portable signature: identical texts share signatures, jaccard exact on twins") {
    val df = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"),
                 (2L, "alpha beta gamma delta epsilon zeta eta theta"),
                 (3L, "totally different words entirely here now yes ok")).toDF("id", "text")
      .select(col("id"), transform(Dedup.shingles(col("text"), 3), Dedup.md5Hash48(_)).as("h"))
    val sigs = df.select(col("id"), Dedup.minhashSignaturePortable(col("h"), 16).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigs(1L) === sigs(2L))
    assert(sigs(1L) !== sigs(3L))
  }

  test("minhashLshPairs finds constructed near-dups and not the unrelated doc") {
    val base = (1 to 40).map(i => (i.toLong * 2, s"document number $i with some shared boilerplate text tokens " +
      s"alpha beta gamma delta epsilon zeta$i eta theta iota kappa")).toDF("id", "text")
    val twins = (1 to 40).filter(_ % 4 == 0).map(i => (i.toLong * 2 + 1,
      s"document number $i with some shared boilerplate text tokens " +
      s"alpha beta gamma delta epsilon zeta$i eta theta iota kappa zz qq")).toDF("id", "text")
    val pairs = Dedup.minhashLshPairs(base.unionByName(twins), k = 32, bands = 8, shingleN = 3,
      minJaccardX1e4 = 6000L).collect()
    val twinPairs = pairs.filter(r => r.getLong(1) == r.getLong(0) + 1)
    assert(twinPairs.length === 10) // every constructed twin found
  }

  test("minhashLshPairs never pairs an id with itself when input ids repeat") {
    val text = "a document that appears twice under one id with shared boilerplate tokens"
    val df = Seq((7L, text), (7L, text), (8L, text)).toDF("id", "text")
    val pairs = Dedup.minhashLshPairs(df, k = 32, bands = 8, shingleN = 3, minJaccardX1e4 = 5000L)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.forall { case (a, b) => a != b }, pairs.mkString(", "))
    assert(pairs.toSet === Set((7L, 8L)))
  }

  test("dupClusters: connected components with min-id representatives, incl. chains") {
    import spark.implicits._
    // components: {1,2,3} (triangle), {10,11,12,13} (a CHAIN — needs multi-round propagation),
    // {20,21} (pair); 99 appears in no pair and must not appear in the output
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 3L), (10L, 11L), (11L, 12L), (12L, 13L), (20L, 21L))
      .toDF("id_a", "id_b")
    val got = Dedup.dupClusters(pairs).orderBy("id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("fused simhash kernel == definitional 64-pass formulation on real md5 digests") {
    import spark.implicits._
    val df = (1 to 300).map(i => (i.toLong,
      s"text number $i with words w${i % 7} w${i % 13} shared tail tokens")).toDF("id", "text")
      .select(col("id"), transform(Dedup.shingles(col("text"), 3), s => md5(s)).as("h"))
      .persist()
    val got = df.select(col("id"), Dedup.simhashFromMd5(col("h"))).orderBy("id").collect()
    val want = df.select(col("id"), Dedup.simhashFromMd5Definitional(col("h"))).orderBy("id").collect()
    got.zip(want).foreach { case (g, w) => assert(g.getLong(1) === w.getLong(1)) }
    // empty shingle-hash array → fingerprint 0, like the all-false when() chain
    val empty = Seq(Tuple1(Seq.empty[String])).toDF("h")
    assert(empty.select(Dedup.simhashFromMd5(col("h"))).head.getLong(0) === 0L)
    df.unpersist()
  }

  test("fused affine-minhash kernel == definitional k-pass HOF formulation (incl. edge cases)") {
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    val rows: Seq[Seq[java.lang.Long]] =
      (1 to 200).map(_ => Seq.fill(1 + rnd.nextInt(60))(
        java.lang.Long.valueOf(rnd.nextLong() & ((1L << 48) - 1)))) ++
      Seq(Seq.empty[java.lang.Long], // empty array → all-null signature
        Seq(null, java.lang.Long.valueOf(7L)), // null elements skipped
        Seq[java.lang.Long](null, null)) // all-null → all-null signature
    val df = rows.toDF("h").persist()
    for (k <- Seq(1, 32, 128)) {
      val got = df.select(Dedup.minhashSignaturePortable(col("h"), k).as("s")).collect()
      val want = df.select(Dedup.minhashSignaturePortableDefinitional(col("h"), k).as("s")).collect()
      got.zip(want).foreach { case (g, w) => assert(g.getSeq[Any](0) === w.getSeq[Any](0), s"k=$k") }
    }
    df.unpersist()
  }
}
