package graft

import org.apache.spark.sql.functions._

import graft.functions.Portable
import graft.sources.rest.RestIntradaySource

/** DSv2 REST source: partition pruning via pushed filters, column
  * pruning, deterministic payloads. */
class RestSourceSpec extends SparkSuite {

  private def load() = spark.read
    .format("graft.sources.rest.RestIntradaySource")
    .option("resources", "calories,heart,steps")
    .option("start", "2024-01-01").option("end", "2024-01-31")
    .load()

  test("S2: one partition per (day, resource); filters prune partitions") {
    val full = load()
    assert(full.rdd.getNumPartitions === 31 * 3)
    val pruned = load()
      .filter(col("date") >= lit("2024-01-10") &&
        col("date") <= lit("2024-01-16") && col("resource") === "steps")
    assert(pruned.rdd.getNumPartitions === 7,
      "pushed date+resource predicates must prune the fetch list")
    assert(pruned.count() === 7L * RestIntradaySource.MINUTES_PER_DAY)
  }

  test("S3: date bounds behave as the paginated range scan's after/before") {
    val one = load().filter(col("date") === "2024-01-05")
    assert(one.rdd.getNumPartitions === 3) // one page per resource
    assert(one.select("date").distinct().collect()
      .map(_.getString(0)).toSeq === Seq("2024-01-05"))
  }

  test("S4: column pruning reaches the reader (keys= analog)") {
    val narrow = load().select("value")
    val scanDesc = narrow.queryExecution.executedPlan.toString()
    assert(scanDesc.contains("columns=value"),
      s"reader should materialize only [value], plan was:\n$scanDesc")
  }

  test("F6: a missing (404) day yields zero rows and the scan proceeds") {
    val df = spark.read
      .format("graft.sources.rest.RestIntradaySource")
      .option("resources", "steps")
      .option("start", "2024-01-01").option("end", "2024-01-03")
      .option("missingDates", "2024-01-02")
      .load()
    val byDay = df.groupBy(col("date")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byDay === Map(
      "2024-01-01" -> RestIntradaySource.MINUTES_PER_DAY.toLong,
      "2024-01-03" -> RestIntradaySource.MINUTES_PER_DAY.toLong),
      "missing day drops silently; healthy days unaffected")
  }

  test("payload generator matches the portable-hash contract") {
    val row = load()
      .filter(col("date") === "2024-01-03" && col("resource") === "heart" &&
        col("time") === "07:30:00")
      .select("value").collect().head.getLong(0)
    assert(row === Portable.h60Jvm("iv|heart|2024-01-03|07:30:00") % 1000)
  }

  /** The payload every reader must produce, derived relationally and
    * independently of it: the day's times from a range, the value from
    * the `Portable.h60` column (md5 → conv, the chain the DuckDB oracle
    * mirrors). */
  private def relational(resource: String, dates: Seq[String]) = {
    import spark.implicits._
    val i = col("id")
    val time =
      if (resource == "heart") format_string("%02d:%02d:%02d",
        (i / 3600).cast("int"), (i / 60 % 60).cast("int"), (i % 60).cast("int"))
      else format_string("%02d:%02d", (i / 60).cast("int"), (i % 60).cast("int"))
    spark.range(RestIntradaySource.rowsPerDay(resource))
      .crossJoin(dates.toDF("date"))
      .select(lit(resource).as("resource"), col("date"), time.as("time"))
      .withColumn("value", Portable.h60(
        concat_ws("|", col("resource"), col("date"), col("time")), "iv|") % 1000)
  }

  private def sameRows(
      got: org.apache.spark.sql.DataFrame,
      want: org.apache.spark.sql.DataFrame, shape: String): Unit = {
    assert(got.columns.toSeq === want.columns.toSeq, shape)
    assert(got.count() === want.count(), shape)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      s"$shape: reader rows differ from the relational h60")
  }

  test("every reader value equals the relational Portable.h60, for a full " +
      "day of every intraday resource and a thirty-day window, under " +
      "pruned, reordered and micro-batch reads") {
    val day = "2024-02-29"
    val intraday = RestIntradaySource.INTRADAY_RESOURCES
    def read(resources: Seq[String], start: String, end: String) =
      spark.read.format("graft.sources.rest.RestIntradaySource")
        .option("resources", resources.mkString(","))
        .option("start", start).option("end", end).load()
    val got = read(intraday, day, day)
      .union(read(Seq("hrv"), "2024-02-01", "2024-03-01"))
    val hrvDates = (0 until 30).map(d =>
      java.time.LocalDate.parse("2024-02-01").plusDays(d).toString)
    val want = intraday.map(relational(_, Seq(day)))
      .reduce(_ union _).union(relational("hrv", hrvDates))
    assert(want.count() === 96480L + 30L)
    sameRows(got, want, "all columns")
    sameRows(got.select("value"), want.select("value"), "value alone")
    sameRows(got.select("time", "value", "resource"),
      want.select("time", "value", "resource"), "time, value, resource")
    // the scan is planned under a ProjectExec, whose UnsafeProjection
    // copies each row before the reader refills it
    def projectsRows(plan: org.apache.spark.sql.execution.SparkPlan) = {
      import org.apache.spark.sql.execution._
      import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanExecBase
      def isScan(p: SparkPlan): Boolean = p match {
        case a: InputAdapter => isScan(a.child)
        case _: DataSourceV2ScanExecBase => true
        case _ => false
      }
      val parents = plan.collect {
        case p if !p.isInstanceOf[InputAdapter] && p.children.exists(isScan) => p
      }
      parents.nonEmpty && parents.forall(_.isInstanceOf[ProjectExec])
    }
    assert(projectsRows(got.select("value").queryExecution.executedPlan),
      "batch scan rows must pass through a ProjectExec")

    // micro-batch: the same payload, reordered, through the stream reader
    val q = spark.readStream.format("graft.sources.rest.RestIntradaySource")
      .option("resources", (intraday :+ "hrv").mkString(","))
      .option("start", day).option("end", day).load()
      .select("time", "value", "resource")
      .writeStream.format("memory").queryName("rest_h60_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val exec = q.asInstanceOf[org.apache.spark.sql.execution.streaming
        .runtime.StreamingQueryWrapper].streamingQuery.lastExecution
      assert(projectsRows(exec.executedPlan),
        "micro-batch scan rows must pass through a ProjectExec")
    } finally q.stop()
    sameRows(spark.table("rest_h60_stream"),
      (intraday :+ "hrv").map(relational(_, Seq(day))).reduce(_ union _)
        .select("time", "value", "resource"), "micro-batch")
  }

  test("S2b: per-resource grain — heart 1sec, others 1min") {
    val oneDay = load().filter(col("date") === "2024-01-05")
    val counts = oneDay.groupBy(col("resource")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts === Map(
      "heart" -> RestIntradaySource.SECONDS_PER_DAY.toLong,
      "calories" -> RestIntradaySource.MINUTES_PER_DAY.toLong,
      "steps" -> RestIntradaySource.MINUTES_PER_DAY.toLong))
    // heart carries seconds in the time string
    assert(oneDay.filter(col("resource") === "heart")
      .select("time").first().getString(0).length === 8)
  }

  test("S2c: thirty-day resources partition per WINDOW, rows per day") {
    val df = spark.read
      .format("graft.sources.rest.RestIntradaySource")
      .option("resources", "hrv")
      .option("start", "2024-01-01").option("end", "2024-03-30")
      .load()
    // 90 days = 3 windows of 30 — the fetch unit is the window
    assert(df.rdd.getNumPartitions === 3)
    assert(df.count() === 90)
    // a clipping date filter prunes whole windows AND clips the rest
    val clipped = df.filter(col("date") >= lit("2024-01-20") &&
      col("date") <= lit("2024-02-10"))
    assert(clipped.rdd.getNumPartitions === 2,
      "window 3 (Mar 1-30) must be pruned before any fetch")
    assert(clipped.count() === 22)
    assert(clipped.select("time").distinct().collect()
      .map(_.getString(0)).toSeq === Seq("00:00"))
  }

  test("backpressure: a simulated 429 retries with backoff, then yields " +
    "the full partition") {
    import graft.sources.rest.RestFetchRuntime
    val before429 = RestFetchRuntime.simulated429s.get()
    val df = spark.read
      .format("graft.sources.rest.RestIntradaySource")
      .option("resources", "steps")
      .option("start", "2024-01-01").option("end", "2024-01-03")
      .option("simulate429Dates", "2024-01-02")
      .option("simulate429Count", "2")
      .option("maxRetries", "3")
      .option("retryBackoffMs", "1")
      .load()
    // the failing day retries transparently: no rows lost, no error
    val byDay = df.groupBy(col("date")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byDay === Map(
      "2024-01-01" -> RestIntradaySource.MINUTES_PER_DAY.toLong,
      "2024-01-02" -> RestIntradaySource.MINUTES_PER_DAY.toLong,
      "2024-01-03" -> RestIntradaySource.MINUTES_PER_DAY.toLong))
    assert(RestFetchRuntime.simulated429s.get() - before429 === 2,
      "the failing fetch unit must have seen exactly simulate429Count 429s")
  }

  test("backpressure: failures past maxRetries surface as a task error") {
    val df = spark.read
      .format("graft.sources.rest.RestIntradaySource")
      .option("resources", "steps")
      .option("start", "2024-01-01").option("end", "2024-01-01")
      .option("simulate429Dates", "2024-01-01")
      .option("simulate429Count", "5")
      .option("maxRetries", "2")
      .option("retryBackoffMs", "1")
      .load()
    val e = intercept[Exception] { df.count() }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("429")),
      s"exhausted retries must propagate the 429, got: ${messages(e)}")
  }

  test("backpressure: maxRequestsPerSecond paces fetches per JVM") {
    import graft.sources.rest.RestRateLimiter
    // unit-level: 5 acquires at 50 req/s must span >= 4 intervals = 80 ms
    val limiter = new RestRateLimiter(50.0)
    val t0 = System.nanoTime()
    (1 to 5).foreach(_ => limiter.acquire())
    val elapsedMs = (System.nanoTime() - t0) / 1e6
    assert(elapsedMs >= 80.0,
      s"5 acquires at 50 rps took ${elapsedMs}ms; pacing not applied")
    // end-to-end: the option threads through to the reader (3 partitions
    // at 20 rps => at least ~100 ms; generous bound to stay unflaky)
    val t1 = System.nanoTime()
    val n = spark.read
      .format("graft.sources.rest.RestIntradaySource")
      .option("resources", "steps")
      .option("start", "2024-01-01").option("end", "2024-01-03")
      .option("maxRequestsPerSecond", "20")
      .load().count()
    val wallMs = (System.nanoTime() - t1) / 1e6
    assert(n === 3L * RestIntradaySource.MINUTES_PER_DAY)
    assert(wallMs >= 100.0,
      s"3 fetches at 20 rps finished in ${wallMs}ms; bucket not shared")
  }

  test("streaming: the daily ingest runs as micro-batches of daysPerBatch " +
    "days, exactly once per day") {
    val stream = spark.readStream
      .format("graft.sources.rest.RestIntradaySource")
      .option("resources", "steps")
      .option("start", "2024-01-01").option("end", "2024-01-06")
      .option("daysPerBatch", "2")
      .load()
      .groupBy(col("date")).count()
    val q = stream.writeStream.format("memory")
      .queryName("rest_stream").outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val byDay = spark.table("rest_stream")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byDay.keySet ===
      (1 to 6).map(d => f"2024-01-0$d").toSet)
    assert(byDay.values.toSet ===
      Set(RestIntradaySource.MINUTES_PER_DAY.toLong),
      "every day fetched exactly once")
    // 6 days at 2/day = 3 non-empty micro-batches
    val batches = q.recentProgress.filter(_.numInputRows > 0)
    assert(batches.length === 3,
      s"expected 3 admission steps, saw ${batches.length}")
  }

  test("streaming: checkpointed restart resumes at the first unfetched day") {
    val ckpt = java.nio.file.Files
      .createTempDirectory("rest-stream-ckpt").toString
    val out = java.nio.file.Files
      .createTempDirectory("rest-stream-out").toString
    def run(end: String): Map[String, Long] = {
      val stream = spark.readStream
        .format("graft.sources.rest.RestIntradaySource")
        .option("resources", "steps")
        .option("start", "2024-01-01").option("end", end)
        .option("daysPerBatch", "2")
        .load()
      // file sink: the one that actually supports checkpoint recovery
      // (memory sink refuses), and the lake shape E1 writes anyway
      val q = stream.writeStream.format("parquet")
        .outputMode("append").option("path", out)
        .option("checkpointLocation", ckpt).start()
      try q.processAllAvailable() finally q.stop()
      spark.read.parquet(out).groupBy(col("date")).count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    val first = run("2024-01-04")
    assert(first.keySet.size === 4)
    // widen the range and restart from the SAME checkpoint: only the two
    // new days arrive — the old ones are not re-fetched (no duplicates in
    // the append-mode sink)
    val second = run("2024-01-06")
    assert(second.keySet.size === 6)
    assert(second.values.toSet ===
      Set(RestIntradaySource.MINUTES_PER_DAY.toLong),
      "restart must not re-emit already-committed days")
  }

  test("streaming: offsets encode DATES, so a restart with a changed " +
    "start option cannot remap committed days") {
    val ckpt = java.nio.file.Files
      .createTempDirectory("rest-stream-ckpt2").toString
    val out = java.nio.file.Files
      .createTempDirectory("rest-stream-out2").toString
    def run(start: String, end: String): Map[String, Long] = {
      val stream = spark.readStream
        .format("graft.sources.rest.RestIntradaySource")
        .option("resources", "steps")
        .option("start", start).option("end", end)
        .option("daysPerBatch", "2")
        .load()
      val q = stream.writeStream.format("parquet")
        .outputMode("append").option("path", out)
        .option("checkpointLocation", ckpt).start()
      try q.processAllAvailable() finally q.stop()
      spark.read.parquet(out).groupBy(col("date")).count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    assert(run("2024-01-03", "2024-01-04").keySet ===
      Set("2024-01-03", "2024-01-04"))
    // restart with an EARLIER start: the committed date offset still
    // means the same calendar days — the stream resumes at Jan 5, never
    // re-fetches Jan 3-4, and (linear offset axis) does not backfill
    // Jan 1-2. A days-since-start offset would have remapped offset 2
    // to Jan 3 and silently duplicated/skipped days.
    val after = run("2024-01-01", "2024-01-06")
    assert(after.keySet ===
      Set("2024-01-03", "2024-01-04", "2024-01-05", "2024-01-06"))
    assert(after.values.toSet ===
      Set(RestIntradaySource.MINUTES_PER_DAY.toLong),
      "no day may be fetched twice across the start-option change")
  }

  test("streaming: shrinking `end` across a restart never regresses the " +
    "committed offset (no re-fetch after it grows back)") {
    val ckpt = java.nio.file.Files
      .createTempDirectory("rest-stream-ckpt3").toString
    val out = java.nio.file.Files
      .createTempDirectory("rest-stream-out3").toString
    def run(end: String): Map[String, Long] = {
      val stream = spark.readStream
        .format("graft.sources.rest.RestIntradaySource")
        .option("resources", "steps")
        .option("start", "2024-01-01").option("end", end)
        .option("daysPerBatch", "2")
        .load()
      val q = stream.writeStream.format("parquet")
        .outputMode("append").option("path", out)
        .option("checkpointLocation", ckpt).start()
      try q.processAllAvailable() finally q.stop()
      spark.read.parquet(out).groupBy(col("date")).count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    assert(run("2024-01-04").keySet.size === 4)
    // shrink end below the committed offset: no new days, and crucially
    // the checkpoint must not be rewound past Jan 1-4
    assert(run("2024-01-02").keySet.size === 4)
    // grow it back: only Jan 5-6 are new; a rewound offset would have
    // re-fetched Jan 3-4 here (2880 counts)
    val after = run("2024-01-06")
    assert(after.keySet.size === 6)
    assert(after.values.toSet ===
      Set(RestIntradaySource.MINUTES_PER_DAY.toLong),
      "offset regression would duplicate days after end grows back")
  }

  test("F8: an unsupported resource fails analysis like the ValueError") {
    val e = intercept[Exception] {
      spark.read
        .format("graft.sources.rest.RestIntradaySource")
        .option("resources", "steps,no_such_resource")
        .option("start", "2024-01-01").option("end", "2024-01-03")
        .load()
    }
    assert(e.getMessage.contains("no_such_resource"))
  }

  test("auth: a 401 refreshes through the tokenProvider and the scan " +
    "recovers; refreshes are single-flight per generation") {
    import graft.sources.rest.RestFetchRuntime
    val r0 = RestFetchRuntime.refreshes.get()
    val e0 = RestFetchRuntime.simulated401s.get()
    // 3 days x 2 resources = 6 fetch units race on ONE JVM credential;
    // the sim server rejects generations < 2, the provider starts at 0
    val df = spark.read
      .format("graft.sources.rest.RestIntradaySource")
      .option("resources", "steps,calories")
      .option("start", "2024-05-01").option("end", "2024-05-03")
      .option("tokenProvider", "graft.sources.rest.GenTokenProvider")
      .option("simulate401MinGen", "2")
      .option("maxRetries", "3")
      .load()
    // full data: every unit recovered through the refreshed credential
    assert(df.count() ===
      6L * RestIntradaySource.MINUTES_PER_DAY)
    assert(RestFetchRuntime.simulated401s.get() - e0 >= 2,
      "the gen-0 and gen-1 tokens must each have been rejected")
    // single-flight: exactly one refresh per rejected GENERATION, no
    // matter how many readers saw the 401 concurrently
    assert(RestFetchRuntime.refreshes.get() - r0 === 2,
      "concurrent 401s of one generation must share one refresh")
  }

  test("auth: a static token that gets a 401 fails loudly - no provider " +
    "to refresh with") {
    val df = spark.read
      .format("graft.sources.rest.RestIntradaySource")
      .option("resources", "steps")
      .option("start", "2024-05-10").option("end", "2024-05-10")
      .option("token", "stale-static-credential")
      .option("simulate401MinGen", "1")
      .load()
    val e = intercept[Exception] { df.count() }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(m =>
      m.contains("401") && m.contains("tokenProvider")),
      s"a static-token 401 must explain the missing provider: ${messages(e)}")
  }

  test("auth: a failing refresh endpoint is a terminal, loud error") {
    val df = spark.read
      .format("graft.sources.rest.RestIntradaySource")
      .option("resources", "steps")
      .option("start", "2024-05-11").option("end", "2024-05-11")
      .option("tokenProvider", "graft.sources.rest.FailingTokenProvider")
      .option("simulate401MinGen", "1")
      .load()
    val e = intercept[Exception] { df.count() }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("token refresh failed")),
      s"refresh failure must surface, got: ${messages(e)}")
    assert(messages(e).exists(_.contains("invalid_grant")),
      "the provider's own failure reason must ride along")
  }

  test("auth: a 401 persisting past maxRetries surfaces as a task error") {
    // provider refreshes fine, but the server wants generation 9 - the
    // retry budget (2) runs out first and must fail LOUDLY
    val df = spark.read
      .format("graft.sources.rest.RestIntradaySource")
      .option("resources", "steps")
      .option("start", "2024-05-12").option("end", "2024-05-12")
      .option("tokenProvider", "graft.sources.rest.GenTokenProvider")
      .option("simulate401MinGen", "9")
      .option("maxRetries", "2")
      .load()
    val e = intercept[Exception] { df.count() }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(m =>
      m.contains("401") && m.contains("maxRetries")),
      s"exhausted 401 retries must propagate, got: ${messages(e)}")
  }
}
