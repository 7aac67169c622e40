package graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Optimization-round measurement tool (guide §1: measure FIRST —
  * empirical view of where the time goes). Runs the named queries under
  * the Bench session shape and, via a SparkListener, reports per query:
  * wall seconds, job count, stage count, task count, summed task time,
  * shuffle read/write bytes — the stage-level truth `.explain` cannot
  * show (the tree printer repeats shared subtrees; AQE decisions only
  * exist post-run). Usage:
  *   runMain Prof <query> [<query> ...]
  * Prints one JSON line per query. Timing methodology matches Bench
  * (full-plan toRdd.count; caches released after each query) so walls
  * are comparable to bench medians, but each query runs ONCE — use for
  * shape, not for pin comparisons.
  */
object Prof {
  private class Acc extends SparkListener {
    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    val taskTimeMs = new AtomicLong(0L)
    val shufRead = new AtomicLong(0L)
    val shufWrite = new AtomicLong(0L)
    val gcMs = new AtomicLong(0L)
    /** Per-stage (taskTimeMs, nTasks, name) — r21: the aggregate view
      * cannot say WHICH operator owns 167 s of task time inside a
      * 25-branch union; the stage name carries the callsite. */
    val stageRows =
      new java.util.concurrent.ConcurrentLinkedQueue[(Long, Int, String)]
    /** Lets straggler listener events land before the counters are read
      * (listenerBus.waitUntilEmpty is private[spark]): polls every 50 ms
      * and returns once two reads in a row agree, or after 100 polls. */
    def drain(): Unit = {
      def read = (jobs.get, stages.get, tasks.get, taskTimeMs.get,
        shufRead.get, shufWrite.get, gcMs.get)
      var last = read
      var polls = 0
      var settled = false
      while (!settled && polls < 100) {
        Thread.sleep(50)
        val now = read
        settled = now == last
        last = now
        polls += 1
      }
    }
    override def onJobStart(j: SparkListenerJobStart): Unit =
      jobs.incrementAndGet()
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet()
      val info = s.stageInfo
      val tm = Option(info.taskMetrics)
        .map(_.executorRunTime).getOrElse(0L)
      // AQE submits every stage from a CompletableFuture, so the stage
      // NAME is useless; the RDD lineage scopes (physical operator
      // names) are the attribution that survives
      val scopes = info.rddInfos.sortBy(_.id).map(_.name).distinct
        .mkString(">").take(160)
      stageRows.add((tm, info.numTasks, scopes))
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = t.taskMetrics
      if (m != null) {
        taskTimeMs.addAndGet(m.executorRunTime)
        gcMs.addAndGet(m.jvmGCTime)
        if (m.shuffleReadMetrics != null)
          shufRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        if (m.shuffleWriteMetrics != null)
          shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Prof <query>...")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // same warmup as Bench so the first profiled query isn't charged
    // JVM/codegen startup or fixture builds
    try {
      spark.range(1000000L).selectExpr("sum(id)").collect()
      spark.read.parquet(s"$d/orders.parquet").count()
      sources.Ingest.p4DocsFixture(spark, d)
      sources.Ingest.p4bAzmFixture(spark, d)
      sources.Ingest.s9JsonlFixture(spark, d)
      sources.Ingest.s11GenFixtures(spark, d)
      sources.Ingest.k8cStandingFixture(spark, d)
      sources.Ingest.k8dStandingFixture(spark, d)
    } catch { case _: Throwable => () }
    for (name <- args) {
      val acc = new Acc
      spark.sparkContext.addSparkListener(acc)
      val t0 = System.nanoTime()
      val wall =
        try {
          SparkEntry.queries(name)(spark, d)
            .queryExecution.toRdd.count()
          (System.nanoTime() - t0) / 1e9
        } catch { case e: Throwable =>
          System.err.println(s"[prof] $name failed: $e"); -1.0 }
      operators.LlmOps.releaseCaches()
      acc.drain()
      spark.sparkContext.removeSparkListener(acc)
      println(f"""{"name":"$name","wall":$wall%.3f,"jobs":${acc.jobs.get},"stages":${acc.stages.get},"tasks":${acc.tasks.get},"taskTimeSec":${acc.taskTimeMs.get / 1e3}%.2f,"gcSec":${acc.gcMs.get / 1e3}%.2f,"shufReadMB":${acc.shufRead.get / 1e6}%.2f,"shufWriteMB":${acc.shufWrite.get / 1e6}%.2f}""")
      // top stages by summed task time — SPARK_GRAFT_PROF_STAGES=n
      // (0 = off, the default: Bench-comparable one-line output)
      val topN = sys.env.get("SPARK_GRAFT_PROF_STAGES")
        .flatMap(v => scala.util.Try(v.toInt).toOption).getOrElse(0)
      if (topN > 0) {
        import scala.jdk.CollectionConverters._
        acc.stageRows.asScala.toSeq.sortBy(-_._1).take(topN)
          .foreach { case (tm, nt, nm) =>
            println(f"  stage ${tm / 1e3}%8.2fs ${nt}%4d tasks  $nm")
          }
      }
    }
    spark.stop()
  }
}
