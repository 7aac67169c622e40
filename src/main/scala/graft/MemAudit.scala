package graft

import org.apache.spark.sql.SparkSession

/** Full-sweep block-manager audit (VERDICT r18 #1): runs the whole
  * registry in Bench's iteration order, one pass per query with the
  * same per-query releaseCaches hygiene, and records after EVERY query
  * the residual cached-RDD count and bytes still resident in the block
  * manager. If pinned/checkpointed frames from earlier queries survive
  * releaseCaches and pile up ahead of a19_hnsw_layers, this names the
  * leaking queries; a clean audit pins the r18 driver-sweep 40.6 s
  * a19 reading on machine contention instead.
  *
  * Output: one JSON line with a19's in-sweep time, the block-manager
  * state immediately before a19, and every query whose post-release
  * residual exceeded the previous query's (the accumulation suspects).
  */
object MemAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      // the cached-plan shape Bench and the benchmark run (Bench.scala)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      spark.range(1000000L).selectExpr("sum(id)").collect()
      sources.Ingest.p4DocsFixture(spark, sfDir)
      sources.Ingest.p4bAzmFixture(spark, sfDir)
      sources.Ingest.s9JsonlFixture(spark, sfDir)
      sources.Ingest.s11GenFixtures(spark, sfDir)
    } catch { case _: Throwable => () }
    def residual(): (Int, Long) = {
      val info = spark.sparkContext.getRDDStorageInfo
      (info.length, info.map(_.memSize).sum)
    }
    var prevBytes = 0L
    val growth = scala.collection.mutable.ArrayBuffer.empty[String]
    var beforeA19 = (0, 0L)
    var a19Sec = -1.0
    val t00 = System.nanoTime()
    for ((name, fn) <- SparkEntry.queries) {
      if (name == "a19_hnsw_layers") beforeA19 = residual()
      val t0 = System.nanoTime()
      try fn(spark, sfDir).queryExecution.toRdd.count()
      catch { case _: Throwable => () }
      val dt = (System.nanoTime() - t0) / 1e9
      if (name == "a19_hnsw_layers") a19Sec = dt
      operators.LlmOps.releaseCaches()
      val (n, bytes) = residual()
      if (bytes > prevBytes)
        growth += f"""{"q":"$name","resid_rdds":$n,"resid_mb":${bytes / 1e6}%.1f}"""
      prevBytes = bytes
    }
    val (endN, endBytes) = residual()
    val wall = (System.nanoTime() - t00) / 1e9
    println(f"""{"metric":"mem_audit","a19_in_sweep_sec":$a19Sec%.2f,"before_a19_resid_rdds":${beforeA19._1},"before_a19_resid_mb":${beforeA19._2 / 1e6}%.1f,"end_resid_rdds":$endN,"end_resid_mb":${endBytes / 1e6}%.1f,"sweep_wall_sec":$wall%.1f,"growth_after_release":[${growth.mkString(",")}]}""")
    spark.stop()
  }
}
