package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import graft.functions.ZOrder

class GraftExtensionsSpec extends AnyFunSuite with TempDirs {

  test("zorder_key / hilbert_key are callable from SQL via SparkSessionExtensions") {
    // an isolated session so the extension injection is actually exercised (getOrCreate would
    // otherwise return the shared test session without extensions)
    val prior = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    // withExtensions (not the static conf): the shared test SparkContext already exists, and
    // spark.sql.extensions is read from the context's static conf at session build time
    val spark = SparkSession.builder()
      .master("local[2]")
      .appName("graft-ext-test")
      .withExtensions(new GraftExtensions)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      val r = spark.sql("SELECT zorder_key(3, 5) AS z, hilbert_key(3, 5) AS h").head
      assert(r.getLong(0) === ZOrder.interleave(3, 5))
      assert(r.getLong(1) === ZOrder.hilbert(16, 3, 5))
      // inside a real query over data
      val n = spark.range(100)
        .selectExpr("zorder_key(cast(id % 8 AS int), cast(id / 8 AS int)) AS z")
        .distinct().count()
      assert(n === 100)

      // the fused vector/sketch kernels are SQL-callable too
      val v = spark.sql(
        """SELECT cosine_sim(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS c,
          |  minhash_sig(array(7L, 9L), 4) AS ms,
          |  simhash_md5(array(md5('a'), md5('b'))) AS sh,
          |  lsh_buckets(array(0.5D, -0.25D), 4, 2, 2) AS bk""".stripMargin).head
      assert(math.abs(v.getDouble(0) - 1.0) < 1e-12)
      assert(v.getSeq[Long](1).length === 4)
      assert(v.getSeq[Long](3).length === 2)
      // and an unsupported element type fails at ANALYSIS, not with silent garbage
      val err = intercept[Exception](spark.sql("SELECT cosine_sim(array(1, 2), array(1, 2))").head)
      assert(err.getMessage.toLowerCase.contains("array<float>"),
        s"expected the kernel type-check message, got: ${err.getMessage}")
      // an oversized signature width fails at ANALYSIS too (was a per-row execution require)
      val kerr = intercept[Exception](spark.sql("SELECT minhash_sig(array(7L), 5000)").head)
      assert(kerr.getMessage.contains("4096"),
        s"expected the analysis-time k bound message, got: ${kerr.getMessage}")
      // a dims-mismatched vector through the raw SQL surface yields NULL, never a truncated
      // partial-dot sketch (library entry points guard with checkedDims; SQL has no such wrapper)
      val mm = spark.sql(
        """SELECT lsh_buckets(array(0.5D), 4, 2, 2) AS bk,
          |  cosine_sim(array(1.0D, 0.0D), array(1.0D)) AS c""".stripMargin).head
      assert(mm.isNullAt(0), "lsh_buckets on a short vector must be NULL, not bucket-0")
      assert(mm.isNullAt(1), "cosine_sim on mismatched lengths must be NULL")

      // the BRS query itself is reachable from SQL as a table function, with exact library parity
      {
        import spark.implicits._
        val rnd = new scala.util.Random(13)
        val pts = (0 until 500).map { i =>
          // two dense clusters + uniform noise, weighted
          val (cx, cy) = if (i % 5 == 0) (2.0, 3.0) else if (i % 5 == 1) (7.0, 1.0) else
            (rnd.nextDouble() * 10, rnd.nextDouble() * 10)
          (cx + rnd.nextDouble() * 0.3, cy + rnd.nextDouble() * 0.3, 1.0 + (i % 3))
        }.toDF("lon", "lat", "w")
        pts.createOrReplaceTempView("brs_pts")
        val viaSql = spark.sql(
          "SELECT * FROM best_regions('brs_pts', 0.5D, 3, 'w')").collect().toSeq
        val viaApi = graft.brs.BRS.bestRegions(spark.table("brs_pts"), eps = 0.5, k = 3,
          scoreCol = Some("w")).collect().toSeq
        assert(viaSql === viaApi, "SQL table function must match BRS.bestRegions exactly")
        assert(viaSql.size === 3 && viaSql.head.getAs[Int]("rank") === 1)
      }

      // lakehouse reads from SQL: table_at (time travel) and table_changes (append scan) return
      // LAZY plans with exact library parity
      {
        import graft.table.{SeqIO, SeqTable}
        import graft.fixtures.SeqGen
        val root = tempDir("ext-tvf-").toString + "/t"
        val t = SeqTable.create(root)
        t.commit("append", SeqIO.writeFiles(spark, t, SeqGen.table(spark, 120, parts = 2)), Set.empty)
        val v1 = t.currentVersion()
        val b = SeqGen.table(spark, 60, parts = 1)
          .withColumn("doc_id", org.apache.spark.sql.functions.concat(
            org.apache.spark.sql.functions.lit("b-"),
            org.apache.spark.sql.functions.col("doc_id")))
        t.commit("append", SeqIO.writeFiles(spark, t, b), Set.empty)

        assert(spark.sql(s"SELECT count(*) AS n FROM table_at('$root')").head.getLong(0) === 180)
        assert(spark.sql(s"SELECT count(*) AS n FROM table_at('$root', $v1)").head.getLong(0) === 120)
        // time travel by TAG name: a string second argument resolves the pinned version
        t.createTag("golden", v1)
        assert(spark.sql(s"SELECT count(*) AS n FROM table_at('$root', 'golden')")
          .head.getLong(0) === 120, "table_at must resolve a tag to its pinned version")
        intercept[Exception](spark.sql(s"SELECT * FROM table_at('$root', 'nope')").head)
        // branch audit from SQL: the head of the unpublished chain, invisible to table_at
        t.createBranch("qa")
        graft.sources.Ingest.appendToBranch(spark, t, "qa", SeqGen.table(spark, 15, parts = 1)
          .withColumn("doc_id", org.apache.spark.sql.functions.concat(
            org.apache.spark.sql.functions.lit("q-"),
            org.apache.spark.sql.functions.col("doc_id"))))
        assert(spark.sql(s"SELECT count(*) AS n FROM table_branch('$root', 'qa')")
          .head.getLong(0) === 195, "table_branch must read the branch head")
        assert(spark.sql(s"SELECT count(*) AS n FROM table_at('$root')").head.getLong(0) === 180,
          "branch commits must stay invisible to main reads")
        // refs observability: tags and branches with their pinned/base/head versions
        val refs = spark.sql(s"SELECT kind, name, base_version, head_version " +
            s"FROM table_refs('$root') ORDER BY kind, name")
          .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
        assert(refs === Seq(("branch", "qa", 3L, 4L), ("tag", "golden", v1, v1)),
          s"table_refs must list both ref kinds, got $refs")
        t.dropBranch("qa")
        val delta = spark.sql(
          s"SELECT doc_id FROM table_changes('$root', $v1) ORDER BY doc_id")
          .collect().map(_.getString(0)).toSeq
        assert(delta.size === 60 && delta.forall(_.startsWith("b-")),
          "table_changes must return exactly the appended batch")
        // net changelog TVF: the appended batch surfaces as 'I' rows, nothing as 'D'
        val cdc = spark.sql(
          s"SELECT change_type, doc_id FROM table_diff('$root', $v1) ORDER BY doc_id")
          .collect().map(r => (r.getString(0), r.getString(1))).toSeq
        assert(cdc.size === 60 && cdc.forall { case (ct, id) => ct == "I" && id.startsWith("b-") },
          "table_diff must deliver exactly the appended batch as inserts")
        // the plan is LAZY (a real scan, not a collected LocalRelation) and predicates compose
        val plan = spark.sql(s"SELECT * FROM table_at('$root') WHERE n_tok > 0")
          .queryExecution.executedPlan.toString
        assert(plan.contains("FileScan") || plan.contains("Scan parquet"),
          s"table_at must resolve to a lazy parquet scan, got:\n$plan")
        // delete observability: a DV delete surfaces as family 'dv' with EXACT hidden-row
        // count; an equality-MoR delete as family 'keys' (hidden_rows unknown = -1)
        locally {
          val dvr = graft.ops.Dml.deleteWhere(spark, t,
            org.apache.spark.sql.functions.col("n_tok") < 200,
            graft.planner.GridConfig(), 1000, dv = true)
          val hidden = spark.sql(
            s"SELECT family, entries, hidden_rows FROM table_deletes('$root')")
            .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
          assert(hidden.nonEmpty && hidden.forall(_._1 == "dv"))
          val expectHidden = 180 - spark.sql(s"SELECT count(*) FROM table_at('$root')")
            .head.getLong(0)
          assert(hidden.map(_._3).sum === expectHidden,
            s"table_deletes hidden_rows must be exact, got $hidden want $expectHidden")
          t.rollbackTo(dvr.snapshot.parent)
          assert(spark.sql(s"SELECT count(*) FROM table_deletes('$root')").head.getLong(0) === 0)
        }

        // manifest-pruned scan from SQL: agrees with the full read under the same predicate,
        // and unconstrained arguments fall back to the whole table
        val lib = SeqIO.read(spark, t)
          .filter(org.apache.spark.sql.functions.col("n_tok").between(256, 1024)).count()
        assert(spark.sql(s"SELECT count(*) AS n FROM table_scan('$root', '', 256, 1024)")
          .head.getLong(0) === lib, "table_scan must agree with the full read")
        assert(spark.sql(s"SELECT count(*) AS n FROM table_scan('$root', '', -1, -1)")
          .head.getLong(0) === 180)

        // metadata tables: table_files has exact liveFiles() parity (head and pinned) and
        // aggregates record counts that match the data; table_history mirrors snapshot lineage
        val livePaths = t.liveFiles().map(_.path).sorted
        val tvfPaths = spark.sql(s"SELECT path FROM table_files('$root') ORDER BY path")
          .collect().map(_.getString(0)).toSeq
        assert(tvfPaths === livePaths, "table_files must mirror the live manifest")
        assert(spark.sql(s"SELECT sum(records) FROM table_files('$root')").head.getLong(0) === 180)
        assert(spark.sql(s"SELECT sum(records) FROM table_files('$root', $v1)")
          .head.getLong(0) === 120, "table_files must pin at an explicit version")
        val noBloom = spark.sql(s"SELECT * FROM table_files('$root')").columns
        assert(!noBloom.contains("docBloom"), "bloom payload must not surface through the TVF")
        val hist = spark.sql(
          s"SELECT version, operation, total_files FROM table_history('$root') ORDER BY version")
          .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
        assert(hist === Seq((0L, "create"), (1L, "append"), (2L, "append"), (3L, "tag"),
          (4L, "delete-dv"), (5L, "rollback")),
          s"table_history must mirror the snapshot lineage (incl. the tag, the dv delete and " +
            s"its rollback), got $hist")
      }
    } finally {
      // do not stop(): SparkContext is shared process-wide with the other suites
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      prior.foreach(SparkSession.setDefaultSession)
    }
  }
}
