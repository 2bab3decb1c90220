package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import graft.functions.{curve, Dedup, Similarity, TextAnalysis => TA}
import graft.planner.{Cell, GridConfig, GridTopK}

/** Driver contract — one `queries` entry per implemented operator family (SURVEY.md §2 + §7.4),
  * with an exact DuckDB-SQL oracle wherever the semantics are ANSI-expressible. Engine-lifecycle
  * operators (compaction, merge, expiry) run on a synthesized table and return metrics rows
  * (rows-only check).
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Portable source bucket: same arithmetic in Spark and ANSI SQL (no engine hash involved). */
  private def bucket8(c: Column): Column = pmod(length(c) * lit(31) + ascii(c), lit(8))
  private val bucket8Sql = "(length(source)*31 + ascii(source)) % 8"

  /** n_chars bin of width 100. */
  private def bin100(c: Column): Column = floor(c / lit(100.0)).cast("long")
  private val bin100Sql = "cast(floor(n_chars/100.0) as bigint)"

  /** documents → (gx, gy, cnt) grid cells — the uniform-grid aggregation (reference algo 9,
    * `/root/reference/src/main/scala/SDL/main/Run.scala:108-119`).
    */
  private def docCells(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").groupBy(
      bucket8(col("source")).as("gx"), bin100(col("n_chars")).as("gy"))
      .agg(count(lit(1)).as("cnt"))
  private val docCellsSql =
    s"SELECT $bucket8Sql AS gx, $bin100Sql AS gy, count(*) AS cnt FROM documents GROUP BY 1, 2"

  /** Flagship: the distributed BRS planner (border replication + per-node kernel + thresholded
    * merge) over the sf0.001 documents grid.
    */
  def entry(spark: SparkSession): DataFrame =
    queries("q04_planner_topk_regions")(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- grid aggregation family (reference A1/A3/T5) ----
    "q01_grid_cell_agg" -> ((s, dir) =>
      docCells(s, dir).withColumn("cnt", col("cnt").cast("long"))),

    "q02_grid_topk_cells" -> ((s, dir) =>
      docCells(s, dir).orderBy(col("cnt").desc, col("gx"), col("gy")).limit(10)),

    "q03_region_scores_w2" -> ((s, dir) => {
      // 2×2 sliding-window region scores via the border-replication explode trick (reference P1):
      // each cell contributes to the ≤4 anchors whose window covers it — a flatMap, not a join.
      val offsets = array((for { dx <- 0 to 1; dy <- 0 to 1 }
        yield struct(lit(dx).as("dx"), lit(dy).as("dy"))): _*)
      docCells(s, dir)
        .select(col("gx"), col("gy"), col("cnt"), explode(offsets).as("o"))
        .select((col("gx") - col("o.dx")).as("ax"), (col("gy") - col("o.dy")).as("ay"), col("cnt"))
        .filter(col("ax") >= 0 && col("ay") >= 0)
        .groupBy(col("ax"), col("ay")).agg(sum(col("cnt")).as("score"))
        .orderBy(col("score").desc, col("ax"), col("ay")).limit(5)
        .withColumn("score", col("score").cast("long"))
    }),

    "q04_planner_topk_regions" -> ((s, dir) => {
      // the REAL distributed planner: groupByKey per node → prefix-sum kernel → maxMin merge
      import s.implicits._
      val cfg = GridConfig(sourceBuckets = 8, ntokBinWidth = 100, nodeSide = 4, regionW = 2)
      val cells = docCells(s, dir)
        .select(col("gx").cast("int"), col("gy").cast("int"), col("cnt").cast("double"))
        .as[(Int, Int, Double)].map { case (x, y, c) => Cell(x, y, c) }
      val winners = GridTopK.solve(s, cells, cfg, k = 5, overlapAllowed = true)
      s.createDataset(winners).select(
        col("x").as("ax").cast("long"), col("y").as("ay").cast("long"),
        col("score").cast("long").as("score"))
    }),

    "q05_planner_topk_distinct" -> ((s, dir) => {
      // non-overlapping (distinct) mode — the reference's dist=true constraint (T2/T3)
      import s.implicits._
      val cfg = GridConfig(sourceBuckets = 8, ntokBinWidth = 100, nodeSide = 4, regionW = 2)
      val cells = docCells(s, dir)
        .select(col("gx").cast("int"), col("gy").cast("int"), col("cnt").cast("double"))
        .as[(Int, Int, Double)].map { case (x, y, c) => Cell(x, y, c) }
      val winners = GridTopK.solve(s, cells, cfg, k = 5, overlapAllowed = false)
      s.createDataset(winners).select(
        col("x").as("ax").cast("long"), col("y").as("ay").cast("long"),
        col("score").cast("long").as("score"))
    }),

    "q06_bbox_stats" -> ((s, dir) =>
      // the reference's 4-pass bounding box (A1) as ONE partial-aggregated pass
      t(s, dir, "documents").agg(
        min(col("n_chars")).as("min_nc"), max(col("n_chars")).as("max_nc"),
        count(lit(1)).as("cnt"),
        countDistinct(col("source")).as("n_sources"))),

    // ---- dedup family ----
    "q07_dedup_exact" -> ((s, dir) =>
      t(s, dir, "documents")
        .groupBy(md5(TA.normalized(col("text"))).as("content_hash"))
        .agg(min(col("doc_id")).as("survivor"), count(lit(1)).as("copies"))
        .orderBy(col("content_hash"))),

    "q08_ngram_jaccard_selfpair" -> ((s, dir) => {
      // exact n-gram Jaccard between each doc and a deterministically-mutated twin
      val d = t(s, dir, "documents").filter(col("doc_id") % 7 === 0)
      val a = Dedup.shingles(col("text"), 3)
      val b = Dedup.shingles(concat(col("text"), lit(" zz qq ww rr")), 3)
      d.select(col("doc_id"), Dedup.jaccardX1e4(a, b).as("jaccard_x1e4"))
    }),

    "q09_minhash_lsh_pairs" -> ((s, dir) => {
      // MinHash+LSH banding near-dup candidates (one shuffle on (band, bucket))
      val docs = t(s, dir, "documents")
      val base = docs.select((col("doc_id") * 2).as("id"), col("text"))
      val twins = docs.filter(col("doc_id") % 5 === 0) // 20% near-dup twins by construction
        .select((col("doc_id") * 2 + 1).as("id"), concat(col("text"), lit(" zz qq")).as("text"))
      Dedup.minhashLshPairs(base.unionByName(twins), k = 32, bands = 8, shingleN = 3,
        minJaccardX1e4 = 6000L, portable = true) // md5 hash family → DuckDB oracle recomputes it
        .orderBy(col("id_a"), col("id_b"))
    }),

    "q10_simhash" -> ((s, dir) => {
      // the PORTABLE simhash (md5 bit family) so DuckDB can recompute it exactly; the xxhash64
      // fast variant (Dedup.simhash) keeps parity coverage in DedupSpec. md5 arrays are
      // materialized in their own projection so the 64 bit-votes reuse them.
      t(s, dir, "documents")
        .select(col("doc_id"),
          transform(Dedup.shingles(col("text"), 2), x => md5(x)).as("ha"),
          transform(Dedup.shingles(concat(col("text"), lit(" zz qq")), 2), x => md5(x)).as("hb"))
        .select(col("doc_id"),
          Dedup.simhashFromMd5(col("ha")).as("simhash64"),
          Dedup.hamming(
            Dedup.simhashFromMd5(col("ha")), Dedup.simhashFromMd5(col("hb"))).as("twin_dist"))
    }),

    // ---- text analysis family ----
    "q11_token_counts" -> ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        TA.wsTokenCount(col("text")).cast("long").as("ws_tokens"),
        TA.bpeTokenCount(col("text")).cast("long").as("bpe_tokens"))),

    "q12_text_quality" -> ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        TA.punctRatioX1e4(col("text")).as("punct_x1e4"),
        TA.meanWordLenX1e4(col("text")).as("mwl_x1e4"),
        TA.qualityX1e4(col("text")).as("quality_x1e4"))),

    "q13_langid" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"), TA.langId(col("text")).as("lang_pred"))),

    "q14_fingerprint" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"), TA.fingerprint(col("text")).as("fp"))),

    "q43_dup_clusters" -> ((s, dir) => {
      // near-dup CLUSTER resolution: the q09 pair graph collapsed to connected components with a
      // canonical min-id representative — the keep-one-per-cluster step after pair finding
      val docs = t(s, dir, "documents")
      val base = docs.select((col("doc_id") * 2).as("id"), col("text"))
      val twins = docs.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") * 2 + 1).as("id"), concat(col("text"), lit(" zz qq")).as("text"))
      val (pairs, release) = Dedup.minhashLshPairsWithHandle(base.unionByName(twins),
        k = 32, bands = 8, shingleN = 3, minJaccardX1e4 = 6000L, portable = true)
      val clusters = Dedup.dupClusters(pairs)
      // eager localCheckpoint materializes the labeling distributed-side (no full-result driver
      // round-trip — the DedupTable.nearDuplicates pattern), then the upstream caches can go
      val out = clusters.orderBy("id").localCheckpoint(true)
      release(); clusters.unpersist()
      out
    }),

    "q42_rare_word_ratio" -> ((s, dir) =>
      // corpus-relative quality: rarity needs a corpus-wide vocabulary aggregate (vs q12's
      // per-row signals) — wordcount shuffle → words⋈vocab shuffle join → per-doc ratio
      TA.rareWordRatio(
        t(s, dir, "documents").select(col("doc_id"), col("text")), minCount = 500L)
        .orderBy("doc_id")),

    "q15_keyword_filter" -> ((s, dir) =>
      // reference F2: ANY-match keyword filter via arrays_overlap — pure built-ins
      t(s, dir, "documents")
        .filter(arrays_overlap(split(col("text"), " "), array(lit("data"), lit("query"))))
        .groupBy(col("source")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("source"))),

    // ---- similarity search family ----
    "q16_ann_bruteforce" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").select(col("vec_id").as("id"), col("embedding").as("vec"))
      Similarity.bruteForceTopK(e, e.filter(col("id") < 3), k = 5)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"),
          round(col("cos") * 10000).cast("long").as("cos_x1e4"))
        .orderBy(col("query_id"), col("rank"))
    }),

    "q17_ann_lsh" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").select(col("vec_id").as("id"), col("embedding").as("vec"))
      Similarity.lshTopK(e, e.filter(col("id") < 3), k = 5, planes = 8, tables = 6)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"),
          round(col("cos") * 10000).cast("long").as("cos_x1e4"))
        .orderBy(col("query_id"), col("rank"))
    }),

    "q41_ann_ivf" -> ((s, dir) => {
      // IVF posting-list ANN: one cell per item (argmax-dot coarse centroid), queries probe
      // their 4 nearest of 16 cells, exact cosine re-rank — candidates unique by construction
      val e = t(s, dir, "embeddings").select(col("vec_id").as("id"), col("embedding").as("vec"))
      Similarity.ivfTopK(e, e.filter(col("id") < 3), k = 5, cells = 16, probes = 4)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"),
          round(col("cos") * 10000).cast("long").as("cos_x1e4"))
        .orderBy(col("query_id"), col("rank"))
    }),

    "q18_embed_sqnorm_by_label" -> ((s, dir) =>
      t(s, dir, "embeddings")
        .groupBy(col("label").cast("long").as("label"))
        .agg(count(lit(1)).as("n"),
          round(avg(Similarity.dot(col("embedding"), col("embedding"))) * 10000)
            .cast("long").as("avg_sqnorm_x1e4"))
        .orderBy(col("label"))),

    // ---- window / merge-shaped relational ops ----
    "q19_window_running" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, dir, "events").select(
        col("event_id"), col("user_id"),
        row_number().over(w).cast("long").as("rn"),
        round(sum(col("value")).over(w) * 100).cast("long").as("run_val_x100"))
    }),

    "q20_merge_upsert_semantics" -> ((s, dir) => {
      // MERGE INTO semantics as a full outer join (the engine's COW merge core, on oracle tables)
      val target = t(s, dir, "customer")
      val source = t(s, dir, "orders").groupBy(col("o_custkey")).agg(count(lit(1)).as("n_orders"))
      target.join(source, col("c_custkey") === col("o_custkey"), "full_outer")
        .select(
          coalesce(col("c_custkey"), col("o_custkey")).as("key"),
          when(col("c_custkey").isNotNull && col("o_custkey").isNotNull, "update")
            .when(col("c_custkey").isNull, "insert").otherwise("keep").as("action"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"))
    }),

    // ---- space-filling-curve keys ----
    "q21_zorder_key" -> ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        curve.zorderKey(
          bucket8(col("source")).cast("int"),
          floor(col("n_chars") / 64.0).cast("int")).as("zkey"))),

    "q22_hilbert_key" -> ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        curve.hilbertKey(
          bucket8(col("source")).cast("int"),
          floor(col("n_chars") / 64.0).cast("int"), 16).as("hkey"))),

    // ---- streaming ----
    "q23_stream_windowed_counts" -> ((s, dir) => {
      val schema = StructType(Seq(
        StructField("event_id", LongType), StructField("ts", TimestampType),
        StructField("user_id", LongType), StructField("event_type", StringType),
        StructField("value", DoubleType), StructField("props", StringType)))
      // FileStreamSource needs a directory: stage the events file into one. Stage AND
      // checkpoint live on tmpfs when available (same rationale as the bench's shm
      // spark.local.dir): the stateful aggregation writes one fsync'd state/offset file per
      // shuffle partition per batch, and putting those on the sandbox's shared disk measured
      // the DISK weather, not the operator (a real deployment checkpoints to fast storage)
      val tmpRoot = java.nio.file.Paths.get("/dev/shm")
      val stage =
        if (java.nio.file.Files.isDirectory(tmpRoot))
          java.nio.file.Files.createTempDirectory(tmpRoot, "graft-stream-")
        else java.nio.file.Files.createTempDirectory("graft-stream-")
      java.nio.file.Files.createDirectories(stage.resolve("in"))
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$dir/events.parquet"), stage.resolve("in/events.parquet"))
      val qn = s"stream_counts_${math.abs(dir.hashCode)}"
      val q = s.readStream.schema(schema).parquet(stage.resolve("in").toString)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
        .writeStream.format("memory").queryName(qn).outputMode("complete")
        .option("checkpointLocation", stage.resolve("ckpt").toString)
        .start()
      q.processAllAvailable(); q.stop()
      // the memory sink holds the result; the staged dir (source + checkpoint) is done
      locally {
        import scala.jdk.CollectionConverters._
        val walk = java.nio.file.Files.walk(stage)
        try walk.iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.deleteIfExists(_))
        finally walk.close()
      }
      s.table(qn).select(
        unix_timestamp(col("window.start")).as("win_start"),
        col("event_type"), col("cnt"))
    }),

    // ---- multimodal plumbing (decode stubbed, Spark-side batching real) ----
    "q24_multimodal_features" -> ((s, dir) => {
      import s.implicits._
      // binary payload column + partition-wise batch "decode" (stub: deterministic pseudo-decode —
      // image/audio libs absent in this container; the schema/partitioning/batching is the real
      // part). Features are SCALAR columns (f0..f3), not an array: the driver's pandas compare
      // must be able to sort every output column (r01's array column crashed it).
      t(s, dir, "documents")
        .select(col("doc_id"), col("text").cast("binary").as("payload"))
        .as[(Long, Array[Byte])]
        .mapPartitions(_.map { case (id, bytes) =>
          val f = Array.tabulate(4)(i => bytes.slice(i * 8, i * 8 + 8).map(_.toInt).sum.toLong)
          (id, bytes.length.toLong, f(0), f(1), f(2), f(3))
        })
        .toDF("doc_id", "payload_bytes", "f0", "f1", "f2", "f3")
    }),

    "q29_planner_topk_approx" -> ((s, dir) => {
      // approximate mode (reference algo 8): overlapping winners accepted within σ of the best
      import s.implicits._
      val cfg = GridConfig(sourceBuckets = 8, ntokBinWidth = 100, nodeSide = 4, regionW = 2)
      val cells = docCells(s, dir)
        .select(col("gx").cast("int"), col("gy").cast("int"), col("cnt").cast("double"))
        .as[(Int, Int, Double)].map { case (x, y, c) => Cell(x, y, c) }
      val winners = GridTopK.solve(s, cells, cfg, k = 5, overlapAllowed = false, sigma = Some(0.7))
      s.createDataset(winners).select(
        col("x").as("ax").cast("long"), col("y").as("ay").cast("long"),
        col("score").cast("long").as("score"))
    }),

    "q31_brs_points_exact" -> ((s, dir) => {
      // the reference's end-to-end query: exact continuous top-k best-region search
      val pts = t(s, dir, "embeddings").select(
        element_at(col("embedding"), 1).cast("double").as("lon"),
        element_at(col("embedding"), 2).cast("double").as("lat"),
        lit(1.0).as("f"))
      graft.brs.BRS.bestRegions(pts, eps = 0.05, k = 5, scoreCol = Some("f"), distinct = true)
        .select(col("rank").cast("long"),
          round(col("center_lon") * 10000).cast("long").as("clon_x1e4"),
          round(col("center_lat") * 10000).cast("long").as("clat_x1e4"),
          col("score").cast("long").as("score"))
    }),

    // ---- engine lifecycle (rows-only: run on a synthesized table, emit metrics) ----
    "q25_engine_compaction" -> ((s, dir) => EngineQueries.compactionCycle(s, dir)),
    "q26_engine_merge_into" -> ((s, dir) => EngineQueries.mergeInto(s, dir)),
    "q27_engine_snapshot_expiry" -> ((s, dir) => EngineQueries.snapshotExpiry(s, dir)),
    "q28_engine_scan_pruning" -> ((s, dir) => EngineQueries.scanPruning(s, dir)),
    "q30_engine_dedup_table" -> ((s, dir) => EngineQueries.dedupTable(s, dir)),
    "q44_engine_near_dedup" -> ((s, dir) => EngineQueries.nearDedupTable(s, dir)),
    "q32_engine_merge_mor" -> ((s, dir) => EngineQueries.mergeMor(s, dir)),
    "q35_engine_incremental" -> ((s, dir) => EngineQueries.incrementalCycles(s, dir)),
    "q36_csv_roundtrip" -> ((s, dir) => EngineQueries.csvRoundtrip(s, dir)),
    "q37_engine_resume" -> ((s, dir) => EngineQueries.resumeCycle(s, dir)),
    "q45_engine_manifest_rewrite" -> ((s, dir) => EngineQueries.manifestRewrite(s, dir)),
    "q47_engine_rollback" -> ((s, dir) => EngineQueries.rollback(s, dir)),
    "q48_engine_incremental_scan" -> ((s, dir) => EngineQueries.incrementalScan(s, dir)),
    "q50_engine_table_diff" -> ((s, dir) => EngineQueries.tableDiff(s, dir)),
    "q51_engine_wap" -> ((s, dir) => EngineQueries.wap(s, dir)),
    "q52_engine_dml" -> ((s, dir) => EngineQueries.dml(s, dir)),
    "q49_engine_metadata" -> ((s, dir) => EngineQueries.metadataHistory(s, dir)),
    "q53_engine_schema_evolution" -> ((s, dir) => EngineQueries.schemaEvolution(s, dir)),
    "q54_engine_cdc_consume" -> ((s, dir) => EngineQueries.cdcConsume(s, dir)),
    "q55_engine_stream_source" -> ((s, dir) => EngineQueries.streamSource(s, dir)),
    "q56_engine_tags" -> ((s, dir) => EngineQueries.tags(s, dir)),
    "q57_engine_branches" -> ((s, dir) => EngineQueries.branches(s, dir)),
    "q58_engine_stream_cdc" -> ((s, dir) => EngineQueries.streamCdc(s, dir)),
    "q59_engine_schema_readd" -> ((s, dir) => EngineQueries.schemaReAdd(s, dir)),
    "q60_engine_schema_widen" -> ((s, dir) => EngineQueries.schemaWiden(s, dir)),
    "q61_engine_dv_dml" -> ((s, dir) => EngineQueries.dvDml(s, dir)),
    "q62_engine_point_lookup" -> ((s, dir) => EngineQueries.pointLookup(s, dir)),
    "q63_engine_constraints" -> ((s, dir) => EngineQueries.constraints(s, dir)),
    "q38_jdbc_roundtrip" -> ((s, dir) => EngineQueries.jdbcRoundtrip(s, dir)),

    "q33_image_roundtrip" -> ((s, dir) => {
      // REAL codec roundtrip, fully SQL-oracled: deterministic pixels from the text chars →
      // javax.imageio PNG ENCODE → PNG DECODE (real codec both ways; PNG is lossless so the
      // decoded bytes must equal the synthesized ones) → scalar pixel features. DuckDB predicts
      // the features from the same char function without ever touching a codec.
      import s.implicits._
      t(s, dir, "documents")
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .filter(_._2.nonEmpty)
        .mapPartitions { it =>
          javax.imageio.ImageIO.setUseCache(false) // decoder init once per partition
          it.map { case (id, text) =>
            val px = Array.tabulate(8 * 8 * 3)(j => (text.charAt(j % text.length) & 0x7f).toByte)
            val png = graft.multimodal.Multimodal.encodePng(8, 8, px)
            val f = graft.multimodal.Multimodal.decodeImageBytes(id, png)
              .getOrElse(sys.error(s"PNG roundtrip failed for doc $id"))
            val vals = f.pixels.map(b => (b & 0xff).toLong)
            (id, f.width.toLong, f.height.toLong, vals.sum, vals.max,
              (0 until vals.length by 3).map(vals(_)).sum)
          }
        }.toDF("doc_id", "width", "height", "px_sum", "px_max", "r_sum")
        .orderBy("doc_id")
    }),

    "q40_audio_roundtrip" -> ((s, dir) => {
      // REAL audio codec roundtrip, fully SQL-oracled (the q33 pattern): deterministic 16-bit PCM
      // samples from the text chars → javax.sound.sampled WAV ENCODE → WAV DECODE (real codec
      // both ways; PCM WAV is lossless so decoded samples must equal the synthesized ones) →
      // scalar sample features DuckDB predicts from the same char function without any codec.
      import s.implicits._
      t(s, dir, "documents")
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .filter(_._2.nonEmpty)
        .mapPartitions(_.map { case (id, text) =>
          val samples = Array.tabulate(64)(j =>
            ((text.charAt(j % text.length) & 0x7f) * 100 - 6000).toShort)
          val wav = graft.multimodal.Multimodal.encodeWav(8000, 1, samples)
          val clip = graft.multimodal.Multimodal.decodeWavBytes(id, wav)
            .getOrElse(sys.error(s"WAV roundtrip failed for doc $id"))
          val vals = clip.samples.map(_.toLong)
          (id, clip.sampleRate.toLong, clip.channels.toLong, vals.length.toLong,
            vals.sum, vals.max, (0 until vals.length by 3).map(vals(_)).sum)
        })
        .toDF("doc_id", "sample_rate", "channels", "n_samples", "s_sum", "s_max", "s3_sum")
        .orderBy("doc_id")
    }),

    "q46_video_roundtrip" -> ((s, dir) => {
      // REAL video codec roundtrip, fully SQL-oracled (the q33/q40 pattern): deterministic RGB
      // frames from the text chars → RIFF/AVI ENCODE (uncompressed 24-bpp DIB, real container
      // both ways) → AVI DECODE (the in-repo RIFF walker) — raw DIB is lossless, so the decoded
      // pixels must equal the synthesized ones and DuckDB predicts the features from the same
      // char function without touching a codec. Width 6 exercises the 4-byte DIB row padding.
      import s.implicits._
      t(s, dir, "documents")
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .filter(_._2.nonEmpty)
        .mapPartitions(_.map { case (id, text) =>
          val frames = (0 until 2).map { f =>
            Array.tabulate(6 * 4 * 3)(j => (text.charAt((j + 7 * f) % text.length) & 0x7f).toByte)
          }
          val avi = graft.multimodal.Multimodal.encodeAvi(6, 4, 5, frames)
          val decoded = graft.multimodal.Multimodal.decodeAviBytes(id, avi)
          require(decoded.length == 2 &&
            decoded.zip(frames).forall { case (d, o) => d.pixels.sameElements(o) },
            s"AVI roundtrip must be lossless (doc $id)")
          val vals = decoded.flatMap(_.pixels).map(b => (b & 0xff).toLong)
          val r3 = decoded.map(fr =>
            (0 until fr.pixels.length by 3).map(j => (fr.pixels(j) & 0xff).toLong).sum).sum
          (id, decoded.length.toLong, decoded.head.width.toLong, decoded.head.height.toLong,
            vals.sum, vals.max, r3)
        })
        .toDF("doc_id", "n_frames", "width", "height", "px_sum", "px_max", "r3_sum")
        .orderBy("doc_id")
    }),

    "q39_brs_points_approx" -> ((s, dir) => {
      // σ-approximate continuous BRS (reference algo 8 on raw points): overlapping winners
      // admitted within σ of every accepted region they overlap
      val pts = t(s, dir, "embeddings").select(
        element_at(col("embedding"), 1).cast("double").as("lon"),
        element_at(col("embedding"), 2).cast("double").as("lat"),
        lit(1.0).as("f"))
      graft.brs.BRS.bestRegions(pts, eps = 0.05, k = 5, scoreCol = Some("f"), distinct = true,
        sigma = Some(0.7))
        .select(col("rank").cast("long"),
          round(col("center_lon") * 10000).cast("long").as("clon_x1e4"),
          round(col("center_lat") * 10000).cast("long").as("clat_x1e4"),
          col("score").cast("long").as("score"))
    }),

    "q34_ann_pairs" -> ((s, dir) => {
      // item×item embedding near-dup pairs (symmetric bucketed self-join — no broadcastable query
      // side). 20% deterministic scaled twins by construction; the per-dim scale factor is plain
      // arithmetic so DuckDB recomputes the whole pipeline: planes → buckets → cap → pairs →
      // exact cosine.
      val e = t(s, dir, "embeddings")
      val base = e.select((col("vec_id") * 2).as("id"),
        transform(col("embedding"), x => x.cast("double")).as("vec"))
      val twins = e.filter(col("vec_id") % 5 === 0)
        .select((col("vec_id") * 2 + 1).as("id"),
          transform(col("embedding"),
            (x, d) => x.cast("double") * (lit(1.0) + (d % 7).cast("double") * lit(0.03))).as("vec"))
      Similarity.lshPairs(base.unionByName(twins), planes = 8, tables = 6, minCosX1e4 = 9000L)
        .orderBy("id_a", "id_b")
    })
  )

  // ---------- oracle SQL (DuckDB) ----------

  private val zTermsSql: String = (0 until 8).flatMap(i => Seq(
    s"((gx >> $i) & 1) * ${1L << (2 * i)}",
    s"((gy >> $i) & 1) * ${1L << (2 * i + 1)}")).mkString(" + ")

  /** Unrolled greedy top-k over a (ax, ay, score) region set — mirrors TopK.greedySelect
    * exactly: rank by (score desc, ax, ay); accept a region unless it overlaps an earlier pick
    * (2×2 windows overlap iff |Δax| < 2 ∧ |Δay| < 2); σ-mode accepts an overlapping region whose
    * score ≥ σ × every overlapping pick. k is small, so k chained CTEs beat a recursive CTE.
    */
  private def greedyDiscreteSql(regionsSql: String, k: Int, sigma: Option[Double]): String = {
    def ov(p: String) = s"(abs(r.ax - $p.ax) < 2 AND abs(r.ay - $p.ay) < 2)"
    def cond(p: String) = sigma match {
      case None => s"NOT ${ov(p)}"
      case Some(sg) => s"(NOT ${ov(p)} OR r.score >= $sg * $p.score)"
    }
    val picks = (1 to k).map { i =>
      if (i == 1) "p1 AS (SELECT * FROM r ORDER BY rn LIMIT 1)"
      else {
        val prev = (1 until i).map(j => s"p$j").mkString(", ")
        // greedy consumes the ranked stream once, so pick i sits strictly after pick i-1 (this
        // also stops a σ-mode pick from re-selecting itself — it satisfies its own σ condition)
        val conds = (1 until i).map(j => cond(s"p$j")).mkString(" AND ")
        s"p$i AS (SELECT r.* FROM r, $prev WHERE r.rn > p${i - 1}.rn AND $conds ORDER BY r.rn LIMIT 1)"
      }
    }.mkString(",\n")
    val union = (1 to k)
      .map(i => s"SELECT ax::BIGINT AS ax, ay::BIGINT AS ay, score::BIGINT AS score FROM p$i")
      .mkString("\nUNION ALL\n")
    s"""WITH regions AS ($regionsSql),
       |r AS (SELECT ax, ay, score, row_number() OVER (ORDER BY score DESC, ax, ay) AS rn
       |      FROM regions WHERE score > 0),
       |$picks
       |$union""".stripMargin
  }

  /** The MinHash-LSH pair pipeline as a reusable CTE chain (md5-48 hashes → affine signatures →
    * banded keys → hot-bucket cap → candidate pairs → exact-Jaccard `j`) over a caller-supplied
    * `u(id, sh)` shingle source — shared by the q09 oracle, q43's cluster-closure oracle, and
    * the engine near-dedup oracle (q44, over the portable table's token renderings).
    */
  private[graft] def minhashCtesFrom(uSql: String): String =
    s"""u AS ($uSql),
       |hs AS (SELECT id, list_transform(sh,
       |  s -> ('0x' || substring(md5(s), 1, 12))::BIGINT) AS h48 FROM u),
       |sigs AS (SELECT id, [${(0 until 32).map(i =>
                    s"list_min(list_transform(h48, h -> (h*${Dedup.affineA(i)} + ${Dedup.affineB(i)}) % ${Dedup.AffineMod}))")
                    .mkString(", ")}] AS sig
       |  FROM hs),
       |bk AS (SELECT id, b, array_to_string(sig[b*4+1 : b*4+4], '_') AS key
       |       FROM sigs, (SELECT unnest(generate_series(0, 7)) AS b) _b),
       |capped AS (SELECT * FROM (
       |  SELECT id, b, key, count(*) OVER (PARTITION BY b, key) AS bn FROM bk) WHERE bn <= 1024),
       |pairs AS (SELECT DISTINCT l.id AS id_a, r.id AS id_b
       |          FROM capped l JOIN capped r ON l.b = r.b AND l.key = r.key AND l.id < r.id),
       |j AS (SELECT id_a, id_b,
       |  cast(round(len(list_intersect(list_distinct(a.h48), list_distinct(b2.h48))) * 10000.0
       |    / len(list_distinct(list_cat(a.h48, b2.h48)))) AS BIGINT) AS jaccard_x1e4
       |  FROM pairs JOIN hs a ON a.id = pairs.id_a JOIN hs b2 ON b2.id = pairs.id_b)""".stripMargin

  /** Connected-components closure over the pipeline's `j` pair relation: recursive reach CTE →
    * `labels(id, cluster = min reachable id)` — shared by the q43 and q44 oracles (requires the
    * enclosing WITH to be RECURSIVE).
    */
  private[graft] def closureCtes(minJaccardX1e4: Long): String =
    s"""verified AS (SELECT id_a, id_b FROM j WHERE jaccard_x1e4 >= $minJaccardX1e4),
       |e AS (SELECT id_a AS a, id_b AS b FROM verified
       |      UNION ALL SELECT id_b, id_a FROM verified),
       |cnodes AS (SELECT DISTINCT a AS id FROM e),
       |reach(id, r) AS (
       |  SELECT id, id FROM cnodes
       |  UNION
       |  SELECT reach.id, e.b FROM reach JOIN e ON e.a = reach.r),
       |labels AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id)""".stripMargin

  /** The documents-table instantiation used by q09 and q43 (base docs + 20% suffix twins). */
  private lazy val minhashPairsCtes: String = minhashCtesFrom(
    s"""SELECT doc_id*2 AS id, ${shinglesSqlN("text", 3)} AS sh FROM documents
       |  UNION ALL
       |  SELECT doc_id*2+1 AS id, ${shinglesSqlN("text || ' zz qq'", 3)} AS sh
       |  FROM documents WHERE doc_id%5 = 0""".stripMargin)

  /** All positive 2×2 window sums over the documents grid (the q03/q04 region enumeration). */
  private val regionSumsSql: String =
    s"""SELECT gx - dx AS ax, gy - dy AS ay, sum(cnt) AS score
       |FROM ($docCellsSql) cells, (VALUES (0,0),(0,1),(1,0),(1,1)) o(dx, dy)
       |WHERE gx - dx >= 0 AND gy - dy >= 0 GROUP BY 1, 2""".stripMargin

  /** Unrolled xy2d Hilbert walk (order levels of the rotate-and-accumulate recurrence) applied to
    * a base relation with columns (doc_id, gx, gy). Distinct column names per level avoid DuckDB's
    * lateral-alias capture.
    */
  private def hilbertSql(baseSql: String, order: Int): String = {
    val levels = (1 to order).map { step =>
      val s = 1 << (order - step)
      val px = s"x${step - 1}"; val py = s"y${step - 1}"; val pd = s"d${step - 1}"
      s"""h$step AS (SELECT doc_id,
         |  CASE WHEN ($py & $s) != 0 THEN $px WHEN ($px & $s) != 0 THEN $s - 1 - $py ELSE $py END AS x$step,
         |  CASE WHEN ($py & $s) != 0 THEN $py WHEN ($px & $s) != 0 THEN $s - 1 - $px ELSE $px END AS y$step,
         |  $pd + ${s.toLong * s} * xor(3 * (CASE WHEN ($px & $s) != 0 THEN 1 ELSE 0 END),
         |    (CASE WHEN ($py & $s) != 0 THEN 1 ELSE 0 END)) AS d$step
         |FROM h${step - 1})""".stripMargin
    }.mkString(",\n")
    s"""WITH h0 AS (SELECT doc_id, gx AS x0, gy AS y0, 0::BIGINT AS d0 FROM ($baseSql)),
       |$levels
       |SELECT doc_id, d$order::BIGINT AS hkey FROM h$order""".stripMargin
  }

  /** Word n-gram shingles of SQL expression `txt` — DuckDB twin of Dedup.shingles. */
  private[graft] def shinglesSqlN(txt: String, n: Int): String = {
    val w = s"string_split_regex(trim(lower(regexp_replace($txt, '[^A-Za-z0-9\\s]', '', 'g'))), '\\s+')"
    s"""(CASE WHEN len($w) < $n THEN [array_to_string($w, ' ')]
       |ELSE list_transform(generate_series(1, len($w) - ${n - 1}),
       |  i -> array_to_string(($w)[i:i+${n - 1}], ' ')) END)""".stripMargin
  }

  /** 64-bit SimHash over a pre-md5'd shingle list expression `hs` — DuckDB twin of
    * Dedup.simhashFromMd5: bit i's vote = bit (i%4) of hex digit (i/4) of each digest.
    */
  private def simhashSql(hs: String): String = (0 until 64).map { i =>
    val digit = s"(strpos('0123456789abcdef', substring(h, ${i / 4 + 1}, 1)) - 1)"
    val bitVal = if (i == 63) "(-9223372036854775807 - 1)" else (1L << i).toString
    s"(CASE WHEN list_sum(list_transform($hs, h -> (($digit >> ${i % 4}) & 1) * 2 - 1)) > 0 " +
      s"THEN $bitVal ELSE 0 END)"
  }.mkString("(", " + ", ")")

  /** Brute-force continuous BRS (mirrors GeoBrsKernel.bruteForce): canonical anchors = (xi, yj)
    * over point coordinates with the left-edge point covered; greedy top-k, strictly
    * non-overlapping (sigma = None) or σ-relaxed (overlap admitted when score ≥ σ × each
    * overlapped pick, the q29 pattern).
    */
  private def brsBruteForceSql(eps: Double, k: Int, sigma: Option[Double] = None): String = {
    def ov(p: String) = s"(abs(r.ax - $p.ax) < $eps AND abs(r.ay - $p.ay) < $eps)"
    def cond(p: String) = sigma match {
      case None => s"NOT ${ov(p)}"
      case Some(sg) => s"(NOT ${ov(p)} OR r.score >= $sg * $p.score)"
    }
    val picks = (1 to k).map { i =>
      if (i == 1) "p1 AS (SELECT * FROM r ORDER BY rn LIMIT 1)"
      else {
        val prev = (1 until i).map(j => s"p$j").mkString(", ")
        val conds = (1 until i).map(j => cond(s"p$j")).mkString(" AND ")
        s"p$i AS (SELECT r.* FROM r, $prev WHERE r.rn > p${i - 1}.rn AND $conds ORDER BY r.rn LIMIT 1)"
      }
    }.mkString(",\n")
    val union = (1 to k).map(i =>
      s"SELECT $i AS rank, cast(round((ax + ${eps / 2}) * 10000) AS BIGINT) AS clon_x1e4, " +
        s"cast(round((ay + ${eps / 2}) * 10000) AS BIGINT) AS clat_x1e4, " +
        s"score::BIGINT AS score FROM p$i").mkString("\nUNION ALL\n")
    s"""WITH pts AS (
       |  SELECT embedding[1]::DOUBLE AS x, embedding[2]::DOUBLE AS y FROM embeddings
       |  WHERE embedding[1] IS NOT NULL AND embedding[2] IS NOT NULL),
       |anchors AS (
       |  SELECT DISTINCT a.x AS ax, e.y AS ay
       |  FROM (SELECT DISTINCT x FROM pts) a
       |  JOIN pts e ON e.x >= a.x AND e.x <= a.x + $eps),
       |scored AS (
       |  SELECT an.ax, an.ay, count(*)::DOUBLE AS score,
       |    max(CASE WHEN p.x = an.ax THEN 1 ELSE 0 END) AS edge
       |  FROM anchors an JOIN pts p
       |    ON p.x BETWEEN an.ax AND an.ax + $eps AND p.y BETWEEN an.ay AND an.ay + $eps
       |  GROUP BY 1, 2),
       |r AS (SELECT ax, ay, score, row_number() OVER (ORDER BY score DESC, ax, ay) AS rn
       |      FROM scored WHERE edge = 1 AND score > 0),
       |$picks
       |$union""".stripMargin
  }

  /** q24 pseudo-decode twin: text is ASCII in the testdata, so byte i == ascii(char i). */
  private val multimodalSql: String = {
    val feats = (0 until 4).map { i =>
      s"list_sum(list_transform(generate_series(${i * 8 + 1}, ${i * 8 + 8}), " +
        s"j -> CASE WHEN j <= strlen(text) THEN ascii(substring(text, j::INT, 1)) ELSE 0 END))::BIGINT AS f$i"
    }.mkString(", ")
    s"SELECT doc_id, strlen(text)::BIGINT AS payload_bytes, $feats FROM documents"
  }

  private val normSql =
    "regexp_replace(trim(lower(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g'))), '\\s+', ' ', 'g')"

  private def phraseCountSql(w: String) =
    s"(length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' $w ', ''))) // ${w.length + 2}"

  private def langScoreSql(ws: Seq[String]) = ws.map(phraseCountSql).mkString(" + ")

  private val shinglesSql = // 3-gram word shingles of column `txt` (≥3 words assumed by filter)
    "list_transform(generate_series(1, len(string_split_regex(trim(lower(regexp_replace(txt, '[^A-Za-z0-9\\s]', '', 'g'))), '\\s+')) - 2), " +
      "i -> array_to_string((string_split_regex(trim(lower(regexp_replace(txt, '[^A-Za-z0-9\\s]', '', 'g'))), '\\s+'))[i:i+2], ' '))"

  def oracleSql: Map[String, String] = Map(
    "q01_grid_cell_agg" -> docCellsSql,

    "q02_grid_topk_cells" ->
      s"SELECT * FROM ($docCellsSql) ORDER BY cnt DESC, gx, gy LIMIT 10",

    "q03_region_scores_w2" ->
      s"""WITH cells AS ($docCellsSql)
         |SELECT gx - dx AS ax, gy - dy AS ay, cast(sum(cnt) AS BIGINT) AS score
         |FROM cells, (VALUES (0,0),(0,1),(1,0),(1,1)) o(dx, dy)
         |WHERE gx - dx >= 0 AND gy - dy >= 0
         |GROUP BY 1, 2 ORDER BY score DESC, ax, ay LIMIT 5""".stripMargin,

    "q04_planner_topk_regions" ->
      s"""WITH cells AS ($docCellsSql)
         |SELECT gx - dx AS ax, gy - dy AS ay, cast(sum(cnt) AS BIGINT) AS score
         |FROM cells, (VALUES (0,0),(0,1),(1,0),(1,1)) o(dx, dy)
         |WHERE gx - dx >= 0 AND gy - dy >= 0
         |GROUP BY 1, 2 ORDER BY score DESC, ax, ay LIMIT 5""".stripMargin,

    "q06_bbox_stats" ->
      ("SELECT min(n_chars) AS min_nc, max(n_chars) AS max_nc, count(*) AS cnt, " +
        "count(DISTINCT source) AS n_sources FROM documents"),

    "q07_dedup_exact" ->
      (s"SELECT md5($normSql) AS content_hash, min(doc_id) AS survivor, count(*) AS copies " +
        "FROM documents GROUP BY 1 ORDER BY content_hash"),

    "q08_ngram_jaccard_selfpair" ->
      s"""WITH p AS (
         |  SELECT doc_id,
         |    (SELECT $shinglesSql FROM (SELECT text AS txt) x) AS sa,
         |    (SELECT $shinglesSql FROM (SELECT text || ' zz qq ww rr' AS txt) x) AS sb
         |  FROM documents WHERE doc_id % 7 = 0)
         |SELECT doc_id, cast(round(len(list_intersect(list_distinct(sa), list_distinct(sb))) * 10000.0
         |  / len(list_distinct(list_cat(sa, sb)))) AS BIGINT) AS jaccard_x1e4 FROM p""".stripMargin,

    "q11_token_counts" ->
      """SELECT doc_id,
        |  len(string_split_regex(trim(text), '\s+')) AS ws_tokens,
        |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS bpe_tokens
        |FROM documents""".stripMargin,

    "q12_text_quality" ->
      """SELECT doc_id,
        |  cast(round(length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) * 10000.0 / length(text)) AS BIGINT) AS punct_x1e4,
        |  cast(round(length(regexp_replace(trim(text), '\s+', '', 'g')) * 10000.0 / len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS mwl_x1e4,
        |  cast(round((length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0 / length(text)
        |    - 2.0 * length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) / length(text)) * 10000) AS BIGINT) AS quality_x1e4
        |FROM documents""".stripMargin,

    "q13_langid" -> {
      val scores = TA.LangStopwords.map { case (l, ws) => l -> langScoreSql(ws) }
      val best = s"greatest(${scores.map(_._2).map(s => s"($s)").mkString(", ")})"
      val cases = scores.map { case (l, s) => s"WHEN ($s) = best AND best > 0 THEN '$l'" }.mkString(" ")
      s"""SELECT doc_id, CASE $cases ELSE 'und' END AS lang_pred
         |FROM (SELECT doc_id, text, $best AS best FROM documents)""".stripMargin
    },

    "q14_fingerprint" ->
      s"""SELECT doc_id, md5(array_to_string(
         |  (string_split_regex(trim(lower(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g'))), '\\s+'))[1:8], ' ')) AS fp
         |FROM documents""".stripMargin,

    // corpus vocabulary → per-doc rare-token ratio; the (rare·10⁴)/n division order matches the
    // Spark expression bit-for-bit
    "q42_rare_word_ratio" ->
      s"""WITH w AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS w
         |           FROM documents),
         |wf AS (SELECT * FROM w WHERE w <> ''),
         |v AS (SELECT w, count(*) AS cnt FROM wf GROUP BY 1)
         |SELECT doc_id, count(*)::BIGINT AS n_words,
         |  sum(CASE WHEN cnt < 500 THEN 1 ELSE 0 END)::BIGINT AS n_rare,
         |  cast(round(sum(CASE WHEN cnt < 500 THEN 1 ELSE 0 END) * 10000.0 / count(*)) AS BIGINT)
         |    AS rare_x1e4
         |FROM wf JOIN v USING (w) GROUP BY 1""".stripMargin,

    "q15_keyword_filter" ->
      """SELECT source, count(*) AS cnt FROM documents
        |WHERE len(list_intersect(string_split(text, ' '), ['data', 'query'])) > 0
        |GROUP BY source ORDER BY source""".stripMargin,

    "q16_ann_bruteforce" ->
      """WITH flat AS (
        |  SELECT vec_id, generate_subscripts(embedding, 1) AS i, unnest(embedding)::DOUBLE AS e
        |  FROM embeddings),
        |dots AS (
        |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
        |    sum(a.e * b.e) / (sqrt(sum(a.e * a.e)) * sqrt(sum(b.e * b.e))) AS cos
        |  FROM flat a JOIN flat b USING (i)
        |  WHERE a.vec_id < 3 AND b.vec_id <> a.vec_id
        |  GROUP BY 1, 2),
        |ranked AS (
        |  SELECT query_id, neighbor_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank, cos
        |  FROM dots)
        |SELECT query_id, neighbor_id, rank, cast(round(cos * 10000) AS BIGINT) AS cos_x1e4
        |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    "q18_embed_sqnorm_by_label" ->
      """SELECT cast(label AS BIGINT) AS label, count(*) AS n,
        |  cast(round(avg(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) * 10000) AS BIGINT) AS avg_sqnorm_x1e4
        |FROM embeddings GROUP BY 1 ORDER BY label""".stripMargin,

    "q19_window_running" ->
      """SELECT event_id, user_id,
        |  row_number() OVER w AS rn,
        |  cast(round(sum(value) OVER w * 100) AS BIGINT) AS run_val_x100
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin,

    "q20_merge_upsert_semantics" ->
      """WITH source AS (SELECT o_custkey, count(*) AS n_orders FROM orders GROUP BY 1)
        |SELECT coalesce(c_custkey, o_custkey) AS key,
        |  CASE WHEN c_custkey IS NOT NULL AND o_custkey IS NOT NULL THEN 'update'
        |       WHEN c_custkey IS NULL THEN 'insert' ELSE 'keep' END AS action,
        |  coalesce(n_orders, 0) AS n_orders
        |FROM customer FULL OUTER JOIN source ON c_custkey = o_custkey""".stripMargin,

    "q21_zorder_key" ->
      s"""SELECT doc_id, cast($zTermsSql AS BIGINT) AS zkey FROM (
         |  SELECT doc_id, $bucket8Sql AS gx, cast(floor(n_chars/64.0) AS BIGINT) AS gy
         |  FROM documents)""".stripMargin,

    "q23_stream_windowed_counts" ->
      """SELECT cast(epoch(date_trunc('hour', ts)) AS BIGINT) AS win_start, event_type,
        |  count(*) AS cnt
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q05_planner_topk_distinct" -> greedyDiscreteSql(regionSumsSql, 5, sigma = None),

    "q29_planner_topk_approx" -> greedyDiscreteSql(regionSumsSql, 5, sigma = Some(0.7)),

    "q22_hilbert_key" -> hilbertSql(
      s"SELECT doc_id, $bucket8Sql AS gx, cast(floor(n_chars/64.0) AS BIGINT) AS gy FROM documents",
      order = 16),

    "q10_simhash" -> {
      val ha = s"list_transform(${shinglesSqlN("text", 2)}, s -> md5(s))"
      val hb = s"list_transform(${shinglesSqlN("text || ' zz qq'", 2)}, s -> md5(s))"
      s"""WITH h AS (SELECT doc_id, $ha AS ha, $hb AS hb FROM documents),
         |sh AS (SELECT doc_id, ${simhashSql("ha")} AS simhash64, ${simhashSql("hb")} AS twin
         |       FROM h)
         |SELECT doc_id, simhash64, bit_count(xor(simhash64, twin))::INT AS twin_dist FROM sh""".stripMargin
    },

    "q24_multimodal_features" -> multimodalSql,

    "q31_brs_points_exact" -> brsBruteForceSql(eps = 0.05, k = 5),

    "q39_brs_points_approx" -> brsBruteForceSql(eps = 0.05, k = 5, sigma = Some(0.7)),

    // q33's pattern for audio: PCM WAV is lossless, so the decoded-sample features are pure char
    // math in SQL. Every output column ::BIGINT-cast (DuckDB sum(int) is HUGEINT — see q33), and
    // the char math assumes ASCII text (same caveat as q33).
    "q40_audio_roundtrip" ->
      """SELECT doc_id, 8000::BIGINT AS sample_rate, 1::BIGINT AS channels, 64::BIGINT AS n_samples,
        |  (SELECT sum((ord(substr(text, (j % length(text))::INT + 1, 1)) % 128) * 100 - 6000)
        |     FROM generate_series(0, 63) s(j))::BIGINT AS s_sum,
        |  (SELECT max((ord(substr(text, (j % length(text))::INT + 1, 1)) % 128) * 100 - 6000)
        |     FROM generate_series(0, 63) s(j))::BIGINT AS s_max,
        |  (SELECT sum((ord(substr(text, (j % length(text))::INT + 1, 1)) % 128) * 100 - 6000)
        |     FROM generate_series(0, 63, 3) s(j))::BIGINT AS s3_sum
        |FROM documents WHERE length(text) > 0""".stripMargin,

    // q33's pattern for video: raw-DIB AVI is lossless, so the decoded-pixel features are pure
    // char math in SQL — frame f pixel j = char((j + 7f) mod len) & 127, two 6x4 RGB frames.
    // Same BIGINT casts and ASCII caveat as q33/q40.
    "q46_video_roundtrip" ->
      """SELECT doc_id, 2::BIGINT AS n_frames, 6::BIGINT AS width, 4::BIGINT AS height,
        |  (SELECT sum(ord(substr(text, ((j + 7*f) % length(text))::INT + 1, 1)) % 128)
        |     FROM generate_series(0, 71) s(j), generate_series(0, 1) t(f))::BIGINT AS px_sum,
        |  (SELECT max(ord(substr(text, ((j + 7*f) % length(text))::INT + 1, 1)) % 128)
        |     FROM generate_series(0, 71) s(j), generate_series(0, 1) t(f))::BIGINT AS px_max,
        |  (SELECT sum(ord(substr(text, ((j + 7*f) % length(text))::INT + 1, 1)) % 128)
        |     FROM generate_series(0, 69, 3) s(j), generate_series(0, 1) t(f))::BIGINT AS r3_sum
        |FROM documents WHERE length(text) > 0""".stripMargin,

    // full algorithm oracle: portable md5 minhash family → signatures, band buckets, hot-bucket
    // cap, distinct pairs, exact-jaccard verification — every stage recomputed in SQL
    "q09_minhash_lsh_pairs" ->
      s"""WITH $minhashPairsCtes
         |SELECT id_a, id_b, jaccard_x1e4 FROM j WHERE jaccard_x1e4 >= 6000
         |ORDER BY id_a, id_b""".stripMargin,

    // the q09 pair pipeline + the shared recursive-CTE closure: cluster = min reachable id
    "q43_dup_clusters" ->
      s"""WITH RECURSIVE $minhashPairsCtes,
         |${closureCtes(6000L)}
         |SELECT id, cluster::BIGINT AS cluster FROM labels ORDER BY id""".stripMargin,

    // full algorithm oracle: the LCG hyperplane family (Similarity.planeSign) recomputed in SQL →
    // per-table buckets → candidate pairs → exact cosine re-rank
    "q17_ann_lsh" ->
      s"""WITH planes AS (
         |  SELECT t, p, d,
         |    CASE WHEN ((1103515245::BIGINT*(t*521 + p*67 + d) + 12345) % 2147483648 >> 14) & 1 = 1
         |         THEN 1.0 ELSE -1.0 END AS s
         |  FROM (SELECT unnest(generate_series(0, 5)) AS t) _t,
         |       (SELECT unnest(generate_series(0, 7)) AS p) _p,
         |       (SELECT unnest(generate_series(0, 63)) AS d) _d),
         |flat AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS d,
         |         unnest(embedding)::DOUBLE AS e FROM embeddings),
         |proj AS (SELECT vec_id, t, p, sum(e*s) AS dot
         |         FROM flat JOIN planes USING (d) GROUP BY 1, 2, 3),
         |buckets AS (SELECT vec_id, t,
         |  sum(CASE WHEN dot > 0 THEN (1::BIGINT << p) ELSE 0 END) AS bucket
         |  FROM proj GROUP BY 1, 2),
         |cands AS (SELECT DISTINCT q.vec_id AS query_id, i.vec_id AS neighbor_id
         |  FROM (SELECT * FROM buckets WHERE vec_id < 3) q
         |  JOIN buckets i ON i.t = q.t AND i.bucket = q.bucket AND i.vec_id <> q.vec_id),
         |dots AS (SELECT c.query_id, c.neighbor_id,
         |  sum(a.e*b.e) / (sqrt(sum(a.e*a.e)) * sqrt(sum(b.e*b.e))) AS cos
         |  FROM cands c
         |  JOIN flat a ON a.vec_id = c.query_id
         |  JOIN flat b ON b.vec_id = c.neighbor_id AND b.d = a.d
         |  GROUP BY 1, 2),
         |ranked AS (SELECT query_id, neighbor_id,
         |  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank, cos
         |  FROM dots)
         |SELECT query_id, neighbor_id, rank, cast(round(cos * 10000) AS BIGINT) AS cos_x1e4
         |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // full algorithm oracle: LCG coarse centroids → argmax-dot cell per item (hot-cell cap) →
    // per-query probe cells → candidates → exact cosine re-rank. Tie-breaks mirror the engine:
    // (dot DESC, cell ASC) for both assignment and probing.
    "q41_ann_ivf" ->
      s"""WITH cents AS (
         |  SELECT c, d,
         |    (((1103515245::BIGINT*(c*131 + d*17 + 5) + 12345) % 2147483648 >> 7) & 1023)
         |      / 511.5 - 1.0 AS v
         |  FROM (SELECT unnest(generate_series(0, 15)) AS c) _c,
         |       (SELECT unnest(generate_series(0, 63)) AS d) _d),
         |flat AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS d,
         |         unnest(embedding)::DOUBLE AS e FROM embeddings),
         |cdots AS (SELECT vec_id, c, sum(e*v) AS dot
         |          FROM flat JOIN cents USING (d) GROUP BY 1, 2),
         |assign AS (SELECT vec_id, c AS cell,
         |  row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, c) AS rnk FROM cdots),
         |icell AS (SELECT vec_id, cell FROM assign WHERE rnk = 1
         |  QUALIFY count(*) OVER (PARTITION BY cell) <= 65536),
         |probed AS (SELECT vec_id, cell FROM assign WHERE rnk <= 4 AND vec_id < 3),
         |cands AS (SELECT q.vec_id AS query_id, i.vec_id AS neighbor_id
         |  FROM probed q JOIN icell i ON i.cell = q.cell AND i.vec_id <> q.vec_id),
         |dots AS (SELECT cn.query_id, cn.neighbor_id,
         |  sum(a.e*b.e) / (sqrt(sum(a.e*a.e)) * sqrt(sum(b.e*b.e))) AS cos
         |  FROM cands cn
         |  JOIN flat a ON a.vec_id = cn.query_id
         |  JOIN flat b ON b.vec_id = cn.neighbor_id AND b.d = a.d
         |  GROUP BY 1, 2),
         |ranked AS (SELECT query_id, neighbor_id,
         |  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank, cos
         |  FROM dots)
         |SELECT query_id, neighbor_id, rank, cast(round(cos * 10000) AS BIGINT) AS cos_x1e4
         |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // the decoded-pixel features are predictable in pure SQL because PNG is lossless: the engine
    // must reproduce EXACTLY the char-derived bytes through a real encode→decode
    // NOTE: every output column is cast to BIGINT — DuckDB types sum(int) as HUGEINT (int128)
    // and bare 8 as INT32, both of which the driver's pandas-based hasher canonicalizes
    // differently than Spark's int64. The char math assumes ASCII text (JVM code units on the
    // Spark side vs DuckDB characters coincide only for ASCII; current testdata is ASCII-only).
    "q33_image_roundtrip" ->
      """SELECT doc_id, 8::BIGINT AS width, 8::BIGINT AS height,
        |  (SELECT sum(ord(substr(text, (j % length(text))::INT + 1, 1)) % 128)
        |     FROM generate_series(0, 191) s(j))::BIGINT AS px_sum,
        |  (SELECT max(ord(substr(text, (j % length(text))::INT + 1, 1)) % 128)
        |     FROM generate_series(0, 191) s(j))::BIGINT AS px_max,
        |  (SELECT sum(ord(substr(text, (j % length(text))::INT + 1, 1)) % 128)
        |     FROM generate_series(0, 189, 3) s(j))::BIGINT AS r_sum
        |FROM documents WHERE length(text) > 0""".stripMargin,

    // full algorithm oracle for the symmetric pair mode: twins → LCG planes → per-table buckets →
    // hot-bucket cap → distinct pairs → exact cosine ≥ 0.9
    "q34_ann_pairs" ->
      s"""WITH u AS (
         |  SELECT vec_id*2 AS id, generate_subscripts(embedding, 1) - 1 AS d,
         |         unnest(embedding)::DOUBLE AS e FROM embeddings
         |  UNION ALL
         |  SELECT vec_id*2+1 AS id, generate_subscripts(embedding, 1) - 1 AS d,
         |         unnest(embedding)::DOUBLE * (1.0 + ((generate_subscripts(embedding, 1) - 1) % 7) * 0.03)
         |  FROM embeddings WHERE vec_id % 5 = 0),
         |planes AS (
         |  SELECT t, p, d,
         |    CASE WHEN ((1103515245::BIGINT*(t*521 + p*67 + d) + 12345) % 2147483648 >> 14) & 1 = 1
         |         THEN 1.0 ELSE -1.0 END AS s
         |  FROM (SELECT unnest(generate_series(0, 5)) AS t) _t,
         |       (SELECT unnest(generate_series(0, 7)) AS p) _p,
         |       (SELECT unnest(generate_series(0, 63)) AS d) _d),
         |proj AS (SELECT id, t, p, sum(e*s) AS dot
         |  FROM u JOIN planes USING (d) GROUP BY 1, 2, 3),
         |buckets AS (SELECT id, t, sum(CASE WHEN dot > 0 THEN 1 << p ELSE 0 END) AS bucket
         |  FROM proj GROUP BY 1, 2),
         |capped AS (SELECT * FROM (
         |  SELECT id, t, bucket, count(*) OVER (PARTITION BY t, bucket) AS bn FROM buckets)
         |  WHERE bn <= 1024),
         |pairs AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
         |  FROM capped a JOIN capped b ON a.t = b.t AND a.bucket = b.bucket AND a.id < b.id),
         |dots AS (SELECT id_a, id_b,
         |  cast(round(sum(a.e*b.e) / (sqrt(sum(a.e*a.e)) * sqrt(sum(b.e*b.e))) * 10000) AS BIGINT) AS cos_x1e4
         |  FROM pairs JOIN u a ON a.id = pairs.id_a JOIN u b ON b.id = pairs.id_b AND b.d = a.d
         |  GROUP BY 1, 2)
         |SELECT id_a, id_b, cos_x1e4 FROM dots WHERE cos_x1e4 >= 9000
         |ORDER BY id_a, id_b""".stripMargin
  ) ++ EngineQueries.oracleSql
}
