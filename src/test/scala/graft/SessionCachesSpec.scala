package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** What a query holds in storage (persisted frames, snapped fixpoint
  * rounds) belongs to the session until `LlmOps.releaseCaches()` drops
  * all of it: no query frees what another build of it still reads. */
class SessionCachesSpec extends SparkSuite {
  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  Seq("g1_pagerank", "g7_delta_pagerank", "d8_dedup_cc_star",
      "d7_dedup_cc").foreach { name =>
    test(s"$name: two builds in one session both read their rows") {
      val q = SparkEntry.queries(name)
      operators.LlmOps.releaseCaches()
      try {
        val first = q(spark, sf)
        val second = q(spark, sf)
        val a = rowsOf(first)
        assert(a.nonEmpty, s"$name fixture must be non-trivial")
        assert(rowsOf(second) === a)
      } finally operators.LlmOps.releaseCaches()
    }
  }

  test("releaseCaches drops every cached frame and persisted RDD of the " +
      "session, snapped frames included") {
    import Checkpoints.SnapOps
    val sc = spark.sparkContext
    operators.LlmOps.releaseCaches()
    val cached = spark.range(0, 1000).selectExpr("id * 3 AS v").persist()
    cached.count()
    spark.range(0, 1000).selectExpr("id * 5 AS v").snap()
    val rdd = sc.parallelize(1 to 100, 2).persist()
    rdd.count()
    assert(sc.getPersistentRDDs.size >= 3)
    operators.LlmOps.releaseCaches()
    assert(sc.getPersistentRDDs.isEmpty)
    assert(cached.storageLevel === StorageLevel.NONE)
    assert(sc.getRDDStorageInfo.isEmpty)
  }
}
