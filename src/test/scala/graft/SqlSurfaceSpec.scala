package graft

import org.apache.spark.sql.functions._

/** The pure-SQL entry point: every capability reachable from the
  * DataFrame API must also be reachable from `spark.sql` — temp views
  * over the testdata tables, the injected `cosine_sim` extension
  * function, and the DSv2 REST source via CREATE TABLE ... USING. A
  * user of the reference switching to this library gets a SQL surface,
  * not just a Scala one. */
class SqlSurfaceSpec extends SparkSuite {

  test("flagship query in pure SQL matches the DataFrame form") {
    Tables.orders(spark, sf).createOrReplaceTempView("orders_v")
    Tables.lineitem(spark, sf).createOrReplaceTempView("lineitem_v")
    val sqlOut = spark.sql("""
      SELECT o_custkey, count(*) AS n_items,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
                 (CAST(1 AS DECIMAL(18,2)) -
                  CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        sum(l_quantity) AS sum_qty, max(l_shipdate) AS last_ship
      FROM lineitem_v JOIN orders_v ON l_orderkey = o_orderkey
      WHERE o_orderdate >= '1998-01-01' AND o_orderdate <= '2000-12-31'
      GROUP BY o_custkey""")
    val dfOut = Queries.q1Flagship.fn(spark, sf)
    assert(sqlOut.exceptAll(dfOut).count() === 0)
    assert(dfOut.exceptAll(sqlOut).count() === 0)
    assert(dfOut.count() > 0)
  }

  test("cosine_sim is callable from SQL (extension-injected function)") {
    Tables.embeddings(spark, sf).createOrReplaceTempView("embeddings_v")
    val top = spark.sql("""
      SELECT a.vec_id, round(cosine_sim(a.embedding, b.embedding), 6) AS sim
      FROM embeddings_v a JOIN embeddings_v b ON b.vec_id = 0
      WHERE a.vec_id <> 0
      ORDER BY sim DESC, a.vec_id ASC LIMIT 5""").collect()
    assert(top.length === 5)
    assert(top.forall(r => r.getDouble(1) >= -1.0 && r.getDouble(1) <= 1.0))
  }

  test("the REST source is reachable via CREATE TABLE ... USING") {
    spark.sql("DROP TABLE IF EXISTS rest_sql")
    spark.sql("""
      CREATE TABLE rest_sql
      USING graft.sources.rest.RestIntradaySource
      OPTIONS (resources 'steps', start '2024-01-01', end '2024-01-02')""")
    try {
      val n = spark.sql(
        "SELECT count(*) AS n FROM rest_sql WHERE date = '2024-01-01'")
        .collect().head.getLong(0)
      assert(n === 1440L)
    } finally spark.sql("DROP TABLE IF EXISTS rest_sql")
  }

  test("sql_d7_clusters' unrolled propagation lands on the DSL fixpoint " +
    "label-for-label") {
    // the SQL form replaces the oracle's WITH RECURSIVE fixpoint with a
    // bounded unroll (Spark 4.1 recursive CTEs are UNION ALL-only and
    // diverge on cyclic graphs) - this is the convergence guard: if the
    // unroll depth ever stops covering the graph's diameter, the label
    // sets separate here, loudly, before the oracle hash does
    val sqlOut = SqlFrontend.sqlD7Clusters.fn(spark, sf)
    val dfOut = operators.LlmOps.d7DedupCc.fn(spark, sf)
    assert(sqlOut.exceptAll(dfOut).count() === 0)
    assert(dfOut.exceptAll(sqlOut).count() === 0)
    assert(dfOut.count() > 0)
  }

  test("sql_s10_snapshot_diff is the DSL diff row-for-row (the shared " +
      "ANSI text runs on the normalized events view)") {
    val sqlOut = SqlFrontend.sqlS10SnapshotDiff.fn(spark, sf)
    val dfOut = sources.Ingest.s10SnapshotDiff.fn(spark, sf)
    assert(sqlOut.exceptAll(dfOut).count() === 0)
    assert(dfOut.exceptAll(sqlOut).count() === 0)
    assert(dfOut.count() > 0)
  }

  test("sql_k6_compaction publishes the same read-back report as the " +
      "DSL compactor — content aggregate AND planned file layout") {
    val sqlOut = SqlFrontend.sqlK6Compaction.fn(spark, sf)
    val dfOut = sources.Ingest.k6Compaction.fn(spark, sf)
    assert(sqlOut.exceptAll(dfOut).count() === 0)
    assert(dfOut.exceptAll(sqlOut).count() === 0)
    assert(dfOut.count() > 0)
    // non-vacuity: compaction actually changed the layout
    val r = sqlOut.collect().head
    assert(r.getLong(3) > r.getLong(4),
      "fixture must be fragmented; compaction must shrink file count")
  }

  test("sql_k7_retention reports the same surviving lake as the DSL " +
      "sweep, partition accounting included") {
    val sqlOut = SqlFrontend.sqlK7Retention.fn(spark, sf)
    val dfOut = sources.Ingest.k7Retention.fn(spark, sf)
    assert(sqlOut.exceptAll(dfOut).count() === 0)
    assert(dfOut.exceptAll(sqlOut).count() === 0)
    assert(dfOut.count() > 0)
    val r = sqlOut.collect().head
    assert(r.getLong(4) > 0, "the sweep must actually delete partitions")
  }

  test("sql_x20_bloom_join prunes and reports exactly like the DSL") {
    val sqlOut = SqlFrontend.sqlX20Bloom.fn(spark, sf)
    val dfOut = operators.Extended.x20BloomJoinPrune.fn(spark, sf)
    assert(sqlOut.exceptAll(dfOut).count() === 0)
    assert(dfOut.exceptAll(sqlOut).count() === 0)
    assert(dfOut.count() > 0)
  }

  test("sql_x21_setops lands on the DSL's exact integer estimates") {
    val sqlOut = SqlFrontend.sqlX21Setops.fn(spark, sf)
    val dfOut = operators.Extended.x21SketchSetops.fn(spark, sf)
    assert(sqlOut.exceptAll(dfOut).count() === 0)
    assert(dfOut.exceptAll(sqlOut).count() === 0)
    assert(dfOut.count() > 0)
  }

  test("sql_k9_overwrite reports the repaired lake exactly like the " +
      "DSL, physical partition accounting included") {
    val sqlOut = SqlFrontend.sqlK9Overwrite.fn(spark, sf)
    val dfOut = sources.Ingest.k9PartitionOverwrite.fn(spark, sf)
    assert(sqlOut.exceptAll(dfOut).count() === 0)
    assert(dfOut.exceptAll(sqlOut).count() === 0)
    assert(dfOut.count() > 0)
    val r = sqlOut.collect().head
    assert(r.getLong(3) > 0 && r.getLong(4) > 0,
      "repair must both preserve and overwrite partitions")
  }

  test("sql_k10_audit publishes the same audit report as the DSL, " +
      "verdicts and violation counts included") {
    val sqlOut = SqlFrontend.sqlK10Audit.fn(spark, sf)
    val dfOut = sources.Ingest.k10WriteAuditPublish.fn(spark, sf)
    assert(sqlOut.exceptAll(dfOut).count() === 0)
    assert(dfOut.exceptAll(sqlOut).count() === 0)
    val r = sqlOut.collect().head
    assert(r.getBoolean(3) && !r.getBoolean(4),
      "batch 1 must publish, the poisoned batch 2 must not")
    assert(r.getLong(5) > 0 && r.getLong(6) > 0,
      "both audit classes must have caught planted violations")
  }

  test("sql_k12_history reads every AS-OF cut and the rolled-back " +
      "current exactly like the DSL") {
    val sqlOut = SqlFrontend.sqlK12History.fn(spark, sf)
    val dfOut = sources.Ingest.k12TimeTravel.fn(spark, sf)
    assert(sqlOut.exceptAll(dfOut).count() === 0)
    assert(dfOut.exceptAll(sqlOut).count() === 0)
    val byV = sqlOut.collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(3),
        r.getBoolean(4)))).toMap
    assert(byV("v2")._2 > 0, "v2 must hold the planted negatives")
    assert(byV("current") === byV("v1"),
      "rollback must point current at v1")
    assert(byV.values.forall(_._3), "the rollback flag must be set")
  }

  test("sql_k13_merge reads the merged lake and its blast-radius " +
      "accounting exactly like the DSL") {
    val sqlOut = SqlFrontend.sqlK13Merge.fn(spark, sf)
    val dfOut = sources.Ingest.k13MergeUpsert.fn(spark, sf)
    assert(sqlOut.exceptAll(dfOut).count() === 0)
    assert(dfOut.exceptAll(sqlOut).count() === 0)
    val r = sqlOut.collect().head
    assert(r.getLong(3) > 0 && r.getLong(4) > 0,
      "the merge must both update and insert")
    assert(r.getLong(5) > 0 && r.getLong(6) > 0 && r.getLong(7) > 0,
      "the blast radius must rewrite, create, and preserve partitions")
  }

  test("sql_d1_dedup shares the one fingerprint definition with the DSL") {
    val sqlOut = SqlFrontend.sqlD1Dedup.fn(spark, sf)
    val dfOut = operators.LlmOps.d1DedupExact.fn(spark, sf)
    assert(sqlOut.exceptAll(dfOut).count() === 0)
    assert(dfOut.exceptAll(sqlOut).count() === 0)
    assert(dfOut.count() > 0)
  }

  test("sql_a17_nsw walks the DSL's exact beam") {
    val sqlOut = SqlFrontend.sqlA17Nsw.fn(spark, sf)
    val dfOut = operators.Ann.a17NswSearch.fn(spark, sf)
      .select(sqlOut.columns.map(org.apache.spark.sql.functions.col): _*)
    assert(sqlOut.exceptAll(dfOut).count() === 0)
    assert(dfOut.exceptAll(sqlOut).count() === 0)
    assert(dfOut.count() > 0)
  }

  test("sql_e4_pipeline reproduces the DSL's whole-build manifest exactly") {
    val sqlOut = SqlFrontend.sqlE4Pipeline.fn(spark, sf)
    val dfOut = operators.LlmOps.e4LlmPipeline.fn(spark, sf)
      .select(sqlOut.columns.map(org.apache.spark.sql.functions.col): _*)
    assert(sqlOut.exceptAll(dfOut).count() === 0)
    assert(dfOut.exceptAll(sqlOut).count() === 0)
    assert(dfOut.count() > 0)
    operators.LlmOps.releaseCaches()
  }

  test("sql_c7_ccnet lands on the DSL's tercile report exactly") {
    val sqlOut = SqlFrontend.sqlC7Ccnet.fn(spark, sf)
    val dfOut = operators.LlmOps.c7CcnetBuckets.fn(spark, sf)
      .select(sqlOut.columns.map(org.apache.spark.sql.functions.col): _*)
    assert(sqlOut.exceptAll(dfOut).count() === 0)
    assert(dfOut.exceptAll(sqlOut).count() === 0)
    assert(dfOut.count() > 0)
  }

  test("sql_t16_gopher renders the same rule verdicts as the DSL battery") {
    val sqlOut = SqlFrontend.sqlT16Gopher.fn(spark, sf)
    val dfOut = operators.LlmOps.t16GopherRules.fn(spark, sf)
      .select(sqlOut.columns.map(org.apache.spark.sql.functions.col): _*)
    assert(sqlOut.exceptAll(dfOut).count() === 0)
    assert(dfOut.exceptAll(sqlOut).count() === 0)
    assert(dfOut.count() > 0)
  }

  // twins rendered from their oracle's text through Dialect.Spark
  // (twin, the DSL query it mirrors)
  Seq(
    SqlFrontend.sqlW5Funnel -> operators.Windows.w5Funnel,
    SqlFrontend.sqlW6Cohort -> operators.Windows.w6Cohort,
    SqlFrontend.sqlW7Attribution -> operators.Windows.w7Attribution,
    SqlFrontend.sqlX16DataQuality -> operators.Extended.x16DataQuality,
    SqlFrontend.sqlX18Quantiles ->
      operators.Extended.x18IncrementalQuantiles,
    SqlFrontend.sqlD14Url -> operators.LlmOps.d14UrlDedup,
    SqlFrontend.sqlT18Bm25 -> operators.LlmOps.t18Bm25,
    SqlFrontend.sqlC10Curriculum -> operators.LlmOps.c10Curriculum,
    SqlFrontend.sqlG2Hits -> operators.Graph.g2Hits,
    SqlFrontend.sqlG3LabelProp -> operators.Graph.g3LabelProp,
    SqlFrontend.sqlG4Kcore -> operators.Graph.g4Kcore,
    SqlFrontend.sqlG5Triangles -> operators.Graph.g5Triangles
  ).foreach { case (twin, dsl) =>
    test(s"${twin.name} (rendered from its oracle) returns ${dsl.name}'s " +
        "rows") {
      def rows(q: Queries.Q): Seq[String] = {
        val df = q.fn(spark, sf)
        df.select(df.columns.sorted.map(col): _*).collect().map(_.toSeq.map {
          case v: Double => BigDecimal(v)
            .setScale(9, BigDecimal.RoundingMode.HALF_UP).toString
          case v => String.valueOf(v)
        }.mkString("|")).sorted.toSeq
      }
      val got = rows(twin)
      operators.LlmOps.releaseCaches()
      val want = rows(dsl)
      operators.LlmOps.releaseCaches()
      assert(want.nonEmpty)
      assert(got === want)
    }
  }
}
