package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication primitives for training-data pipelines: exact, MinHash+LSH, SimHash, n-gram
  * Jaccard. Column-expression implementations (codegen'd; the per-row math stays inside
  * whole-stage codegen) with shuffle-shaped joins only where candidate pairing genuinely needs
  * them — at 100 TB the LSH band join is the only shuffle, keyed on (band, bucket) so each bucket
  * is a tiny group.
  */
object Dedup {

  // scala wrappers for bit-shift by a Column amount (the SQL functions accept column shift counts;
  // only the functions._ scala signatures are Int-restricted)
  private[functions] def shr(c: Column, i: Column): Column = call_function("shiftright", c, i)
  private[functions] def shl(c: Column, i: Column): Column = call_function("shiftleft", c, i)

  /** Word n-gram shingles of a text column.
    *
    * Single regex pass. The obvious formulation — split to a `words` array, then
    * `transform(sequence, i => concat(element_at(words,i), ...))` — is a performance trap:
    * higher-order-function lambdas get no common-subexpression elimination, so the whole
    * lower+regexp_replace+split subtree is re-evaluated for EVERY `element_at` reference on every
    * shingle (n × shingleCount regexp passes per row; measured 28.7 s for 5,000 ~300-char docs —
    * ~150× the cost of the hashing it feeds). Instead: normalize once, then extract all
    * overlapping n-grams in one `regexp_extract_all` — each match consumes one word separator
    * (`^| `) and captures the n-gram through a zero-width lookahead, which is how you get
    * OVERLAPPING matches out of a standard leftmost-scan regex engine.
    */
  def shingles(text: Column, n: Int): Column = {
    val norm = regexp_replace(trim(lower(regexp_replace(text, "[^A-Za-z0-9\\s]", ""))), "\\s+", " ")
    val pat = "(?:^| )(?=(" + Seq.fill(n)("\\S+").mkString(" ") + "))"
    val grams = regexp_extract_all(norm, lit(pat), lit(1))
    // < n words → one shingle of the whole normalized text (matches the split-based semantics)
    when(size(grams) === 0, array(norm)).otherwise(grams)
  }

  /** MinHash signature (k permutations) over a shingle array: sig[i] = min over shingles of
    * xxhash64(i, shingle) — the standard hash-family trick, one codegen'd expression.
    */
  def minhashSignature(shingleCol: Column, k: Int): Column =
    transform(sequence(lit(0), lit(k - 1)),
      i => array_min(transform(shingleCol, s => xxhash64(i, s))))

  /** LSH band keys from a signature: bands of `rowsPerBand` rows, hashed. Explode these and
    * group/join on (band, key): near-dups (high Jaccard) collide in ≥1 band w.h.p.
    */
  def lshBandKeys(sig: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => struct(b.as("band"), xxhash64(slice(sig, b * rowsPerBand + 1, lit(rowsPerBand))).as("key")))

  /** 64-bit SimHash over a token/shingle array: bit i set iff Σ ±1 (sign = bit i of each
    * element's hash) is positive.
    */
  def simhash(tokens: Column): Column =
    aggregate(
      sequence(lit(0), lit(63)),
      lit(0L),
      (acc, i) => acc.bitwiseOR(
        when(
          aggregate(tokens, lit(0L),
            (s, t) => s + when(shr(xxhash64(t), i).bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L)) > 0,
          shl(lit(1L), i)).otherwise(lit(0L))))

  /** Hamming distance between two 64-bit fingerprints. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** 64-bit SimHash from a PRE-HASHED shingle array (md5 hex digests): bit i's vote per shingle is
    * bit (i%4) of hex digit (i/4) of its digest. The md5 bit family is exactly reproducible in
    * ANSI SQL, so a DuckDB oracle can hash-verify the whole simhash pipeline (unlike xxhash64).
    * Callers should materialize `transform(shingles, md5)` in a separate projection first so the
    * md5 work isn't repeated per bit.
    */
  def simhashFromMd5(md5s: Column): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      SimhashFromMd5(org.apache.spark.sql.GraftSqlBridge.expression(md5s)))

  /** Definitional 64-pass formulation of [[simhashFromMd5]] — the spec oracle for the fused
    * [[SimhashFromMd5]] kernel.
    */
  private[functions] def simhashFromMd5Definitional(md5s: Column): Column =
    (0 until 64).map { i =>
      val votes = aggregate(md5s, lit(0L), (acc, h) =>
        acc + shr(conv(substring(h, i / 4 + 1, 1), 16, 10).cast("long"), lit(i % 4))
          .bitwiseAND(lit(1L)) * 2L - 1L)
      when(votes > 0, shl(lit(1L), lit(i))).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))

  /** Portable SimHash of a shingle-array column (see [[simhashFromMd5]]). */
  def simhashPortable(shingleCol: Column): Column =
    simhashFromMd5(transform(shingleCol, s => md5(s)))

  /** Exact Jaccard similarity ×10000 (bigint) between two shingle-array columns. */
  def jaccardX1e4(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val union = size(array_union(a, b)).cast("double")
    round(inter / union * 10000).cast("long")
  }

  /** 48-bit PORTABLE base hash of a shingle: top 12 hex digits of md5(s). Exactly reproducible in
    * ANSI SQL (`('0x' || substring(md5(s), 1, 12))::BIGINT`).
    */
  def md5Hash48(s: Column): Column =
    conv(substring(md5(s), 1, 12), 16, 10).cast("long")

  /** Affine permutation family over the 48-bit base hash: h_i(x) = (a_i·x + b_i) mod 2^48 —
    * the classic universal-hash minhash trick, ONE md5 per shingle total (hashing k times per
    * shingle made the portable path 30× slower than xxhash64; the affine family closes that).
    * a_i odd < 2^15 keeps a_i·x inside signed 64-bit in both engines.
    */
  def affineA(i: Int): Long = ((1103515245L * i + 12345L) % 32768L) | 1L
  def affineB(i: Int): Long = (69069L * i + 1L) % 2147483648L
  val AffineMod: Long = 1L << 48

  /** Portable MinHash signature over a PRE-HASHED 48-bit shingle array (see [[md5Hash48]]).
    * Evaluated by the single-pass codegen'd [[AffineMinhashSig]] kernel — the definitional
    * k-pass HOF formulation (`array_min(transform(...))` per permutation) is interpreted and
    * was ~80% of the near-dup query's runtime; semantics are identical (DedupSpec proves parity).
    */
  def minhashSignaturePortable(md48s: Column, k: Int): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      AffineMinhashSig(org.apache.spark.sql.GraftSqlBridge.expression(md48s), k))

  /** The definitional Column formulation of [[minhashSignaturePortable]] (k HOF passes) —
    * kept as the spec oracle for the fused kernel.
    */
  private[functions] def minhashSignaturePortableDefinitional(md48s: Column, k: Int): Column =
    array((0 until k).map { i =>
      array_min(transform(md48s, h => (h * affineA(i) + affineB(i)) % AffineMod))
    }: _*)

  /** Band keys as joined strings (no second-level hash → portable and collision-free). */
  def lshBandKeysPortable(sig: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => struct(b.as("band"),
        concat_ws("_", transform(slice(sig, b * rowsPerBand + 1, lit(rowsPerBand)),
          _.cast("string"))).as("key")))

  /** Candidate near-dup pairs via MinHash-LSH banding, scale-shaped:
    *
    *  - shingles are computed ONCE and immediately reduced to 48-bit hashes; the narrow (id, h48)
    *    projection is persisted (MEMORY_AND_DISK — spills, never recomputes), because the plan
    *    consumes it three times (signatures, and both sides of the pair re-attach). Profiling at
    *    sf0.1 put shingle GENERATION at ~50% of the whole query, so recomputation dominates
    *    everything else;
    *  - the (band, bucket) shuffle carries ONLY (id, band, key) — payloads are re-attached by id
    *    to the surviving DISTINCT pairs, and the payload is the hashed array (8× smaller than the
    *    shingle strings r01 shipped through the band join);
    *  - exact-Jaccard verification runs on the hashed shingle sets (a 2^-48 collision shifts a
    *    ratio negligibly, and the oracle computes the identical hashes);
    *  - hot buckets above `maxBucket` members are dropped before pairing — one viral boilerplate
    *    cluster would otherwise go quadratic; such clusters are exact-dedup work, not near-dup
    *    work (and exact dedup catches them upstream);
    *  - `portable = true` uses the md5-derived base hash (ANSI-SQL-reproducible), else xxhash64.
    *
    * `df` must have columns (id, text). Pairs are verified with exact Jaccard ≥ `minJaccardX1e4`.
    *
    * Materialization contract: the result is computed EAGERLY. At ≤ [[SmallResultRows]] rows it
    * comes back as a driver-local relation (no lingering cache blocks, but the rows transit the
    * driver heap); above that it comes back persisted and CALLER-OWNED — `unpersist()` it when
    * done, or it pins MEMORY_AND_DISK blocks for the session. Callers composing the pairs into a
    * larger pipeline, or running at scale, should prefer [[minhashLshPairsWithHandle]]: it stays
    * lazy, never routes rows through the driver, and hands back an explicit release thunk.
    */
  def minhashLshPairs(df: DataFrame, k: Int, bands: Int, shingleN: Int,
      minJaccardX1e4: Long, maxBucket: Int = 1024, portable: Boolean = false): DataFrame = {
    val (pairs, release) = minhashLshPairsWithHandle(df, k, bands, shingleN,
      minJaccardX1e4, maxBucket, portable)
    // materialize the verified-pairs result so the shingle-hash cache can be dropped right away —
    // without this, every invocation in a long-lived session (bench/verify loops, repeated
    // pipeline cycles) leaked a MEMORY_AND_DISK block set for the life of the session
    val cached = pairs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = cached.count()
    release()
    if (n <= SmallResultRows) {
      // small result → hand back a LOCAL relation and drop every cached block: nothing for the
      // caller to manage, zero session-lifetime footprint
      val local = df.sparkSession.createDataFrame(
        java.util.Arrays.asList(cached.collect(): _*), cached.schema)
      cached.unpersist(blocking = false)
      local
    } else cached // big result: persisted, owned by the caller (unpersist() when done)
  }

  /** Results at or below this row count are returned as driver-local relations (no lingering
    * cache blocks); larger ones stay persisted and caller-owned. 2^17 pair rows ≈ a few tens of
    * MB of driver heap — a 2^20 bound made the local-relation path itself a driver hazard.
    */
  val SmallResultRows: Long = 1L << 17

  /** Resolve near-dup PAIRS into duplicate CLUSTERS (connected components) with a canonical
    * representative per cluster (the component's minimum id) — the keep-one-per-cluster step
    * every dedup pipeline runs after pair finding. Iterative min-label propagation on Datasets
    * (the classic distributed-CC loop, no graph library): each round every node takes the min
    * of its own and its neighbors' labels; LSH dup clusters are near-cliques, so the fixpoint
    * arrives in a handful of rounds. Scale shape: one (id)-keyed shuffle join per round, labels
    * carry (id, cluster) only — edge and label payloads never exceed two longs per row.
    *
    * `pairs` needs (id_a, id_b); returns (id, cluster) for every id that appears in a pair.
    * The result comes back locally-checkpointed (the loop iterated on it) — `unpersist()` when
    * done. Throws after `maxIters` non-converged rounds (a pathological graph should be loud,
    * not silently mislabeled).
    */
  def dupClusters(pairs: DataFrame, maxIters: Int = 20): DataFrame = {
    // id type preserved (long ids, string doc_ids, …): min-label uses the column's own ordering.
    // Lineage is CUT each round with an eager localCheckpoint: a loop of joins otherwise embeds
    // the (potentially enormous) pair-finding plan into every iteration's logical plan — plan
    // size grows exponentially with rounds and analysis itself becomes the bottleneck.
    val edges = pairs.select(col("id_a").as("a"), col("id_b").as("b"))
    val sym = edges.unionByName(edges.select(col("b").as("a"), col("a").as("b")))
      .localCheckpoint(true)
    var labels = sym.select(col("a").as("id")).distinct()
      .withColumn("cluster", col("id")).localCheckpoint(true)
    try {
      var iter = 0
      var converged = false
      while (!converged && iter < maxIters) {
        val nbrMin = sym.join(labels.select(col("id").as("b"), col("cluster").as("nc")), Seq("b"))
          .groupBy(col("a").as("id")).agg(min("nc").as("nbr"))
        val hop = labels.join(nbrMin, Seq("id"), "left")
          .select(col("id"),
            least(col("cluster"), coalesce(col("nbr"), col("cluster"))).as("cluster"))
        // POINTER JUMPING: also adopt the label of my current label (cluster-of-cluster), so a
        // path-shaped component converges in O(log diameter) rounds, not O(diameter) — a plain
        // neighbor-min loop would abort on a legitimate ~25-link chain of progressive edits
        val next = hop.join(
            hop.select(col("id").as("cluster"), col("cluster").as("cc")), Seq("cluster"), "left")
          .select(col("id"),
            least(col("cluster"), coalesce(col("cc"), col("cluster"))).as("cluster"))
          .localCheckpoint(true)
        val changed = next.join(labels.select(col("id"), col("cluster").as("old")), Seq("id"))
          .filter(col("cluster") =!= col("old")).count()
        labels.unpersist() // superseded round snapshot — don't stack maxIters block sets
        labels = next
        converged = changed == 0
        iter += 1
      }
      if (!converged)
        throw new IllegalStateException(s"dupClusters: no fixpoint after $maxIters rounds")
      labels
    } finally { sym.unpersist(); () }
  }

  /** [[minhashLshPairs]] without the eager materialization: returns the lazy pairs plan plus a
    * `release` thunk that unpersists the shingle-hash cache. Callers composing the pairs into a
    * larger pipeline should invoke `release()` after their terminal action.
    */
  def minhashLshPairsWithHandle(df: DataFrame, k: Int, bands: Int, shingleN: Int,
      minJaccardX1e4: Long, maxBucket: Int = 1024,
      portable: Boolean = false): (DataFrame, () => Unit) = {
    val rows = k / bands
    val base: Column => Column = if (portable) md5Hash48 else (s => xxhash64(s))
    val hashed = df
      .select(col("id"), transform(shingles(col("text"), shingleN), base).as("_h48"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sig =
      if (portable) minhashSignaturePortable(col("_h48"), k)
      else array((0 until k).map(i => array_min(transform(col("_h48"),
        h => xxhash64(lit(i), h)))): _*)
    val keyed = hashed
      .withColumn("_band", explode(lshBandKeysPortable(sig, bands, rows)))
      .select(col("id"), col("_band.band").as("band"), col("_band.key").as("key"))
    // ONE (band, key) shuffle: each bucket's member list caps and pairs in place. The prior
    // shape — a window count for the cap, then a self-join of `capped` with itself — built the
    // whole band relation (and its window shuffle) TWICE as the join's two subtrees and paid a
    // third shuffle for the join; the group's pair explode is the same candidate set (pairs
    // ordered by the same `<` both ways: array_sort and the old id_a < id_b filter share
    // Spark's binary ordering). Buckets are tiny by construction (cap 1024, typical 1-3), so
    // the in-bucket HOF explode is negligible next to a relation-wide shuffle.
    val ids = array_sort(col("_ids"))
    val pairsInBucket = flatten(transform(ids, (x, i) =>
      transform(slice(ids, i + lit(2), size(ids)),
        y => struct(x.as("id_a"), y.as("id_b")))))
    val pairs = keyed.groupBy(col("band"), col("key"))
      .agg(collect_list(col("id")).as("_ids"))
      .filter(size(col("_ids")).between(2, maxBucket))
      .select(explode(pairsInBucket).as("_p"))
      .select(col("_p.id_a").as("id_a"), col("_p.id_b").as("id_b"))
      .filter(col("id_a") =!= col("id_b")) // a duplicated id shares every bucket with itself
      .distinct()
    val verified = pairs
      .join(hashed.select(col("id").as("id_a"), col("_h48").as("sh_a")), Seq("id_a"))
      .join(hashed.select(col("id").as("id_b"), col("_h48").as("sh_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), jaccardX1e4(col("sh_a"), col("sh_b")).as("jaccard_x1e4"))
      .filter(col("jaccard_x1e4") >= minJaccardX1e4)
    (verified, () => { hashed.unpersist(blocking = false); () })
  }
}
