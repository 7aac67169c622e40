package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.StreamingJobs

/** Structured Streaming: the same window semantics as the batch queries,
  * driven through MemoryStream → memory sink. */
class StreamingSpec extends SparkSuite {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("streaming tumbling window agg matches hand-computed counts") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val events = input.toDF().toDF("ts", "event_type", "value")
    val q = StreamingJobs.tumblingCounts(events)
      .writeStream.format("memory").queryName("tumbling_test")
      .outputMode("complete").start()
    try {
      input.addData(
        (ts("2024-01-01 00:01:00"), "view", 1.0),
        (ts("2024-01-01 00:02:00"), "view", 2.0),
        (ts("2024-01-01 00:07:00"), "view", 4.0),
        (ts("2024-01-01 00:03:00"), "click", 8.0))
      q.processAllAvailable()
      val out = spark.table("tumbling_test")
        .select(col("w_start"), col("event_type"), col("n"), col("sum_value"))
        .collect()
        .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2),
          r.getDouble(3))).toSet
      assert(out === Set(
        ("2024-01-01 00:00:00.0", "view", 2L, 3.0),
        ("2024-01-01 00:05:00.0", "view", 1L, 4.0),
        ("2024-01-01 00:00:00.0", "click", 1L, 8.0)))
    } finally q.stop()
  }

  test("file-source stream over events parquet matches the batch window agg") {
    // stage the real events table as a stream-source directory
    val srcDir = java.nio.file.Files
      .createTempDirectory("graft-stream-src").toString
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-stream-ckpt").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      java.nio.file.Paths.get(s"$srcDir/events.parquet"))
    val q = StreamingJobs
      .tumblingCounts(StreamingJobs.eventsFileStream(spark, srcDir))
      .writeStream.format("memory").queryName("file_stream_test")
      .option("checkpointLocation", ckpt)
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("file_stream_test")
        .agg(sum(col("n"))).collect().head.getLong(0)
      val batch = Tables.events(spark, sf).count()
      assert(streamed === batch,
        "stream must process exactly the batch row count (exactly-once)")
    } finally q.stop()
  }

  test("checkpointed restart resumes exactly-once (no double counting)") {
    val srcDir = java.nio.file.Files
      .createTempDirectory("graft-restart-src").toString
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-restart-ckpt").toString
    def startQuery() = StreamingJobs
      .tumblingCounts(StreamingJobs.eventsFileStream(spark, srcDir))
      .writeStream.format("memory").queryName("restart_test")
      .option("checkpointLocation", ckpt)
      .outputMode("complete").start()
    // phase 1: one file, process, stop
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      java.nio.file.Paths.get(s"$srcDir/batch1.parquet"))
    val q1 = startQuery()
    q1.processAllAvailable(); q1.stop()
    // phase 2: second file lands while the query is DOWN; restart from
    // the same checkpoint — batch1 must not be re-ingested
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      java.nio.file.Paths.get(s"$srcDir/batch2.parquet"))
    val q2 = startQuery()
    try {
      q2.processAllAvailable()
      val streamed = spark.table("restart_test")
        .agg(sum(col("n"))).collect().head.getLong(0)
      val perFile = Tables.events(spark, sf).count()
      assert(streamed === 2 * perFile,
        "restart must process each file exactly once (2 files -> 2x rows)")
    } finally q2.stop()
  }

  test("streaming E3: shards → enrich → checkpointed parquet sink, restart-resume") {
    import org.apache.spark.sql.DataFrame
    val srcDir = java.nio.file.Files
      .createTempDirectory("graft-e3-src").toString
    val sinkDir = java.nio.file.Files
      .createTempDirectory("graft-e3-sink").toString + "/out"
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-e3-ckpt").toString
    // the e3 batch inputs: date-filtered activity dimension + stream rows
    val activities = Tables.orders(spark, sf)
      .filter(to_date(col("o_orderdate")) >= lit("1998-01-01") &&
        to_date(col("o_orderdate")) <= lit("1999-12-31"))
      .select(col("o_orderkey").as("activity_id"),
        col("o_orderpriority").as("sport_type"))
    val streams = Tables.lineitem(spark, sf)
      .select(col("l_orderkey").cast("long").as("activity_id"),
        col("l_linenumber").cast("long").as("time"),
        col("l_quantity").cast("double").as("distance"))
    def landShard(df: DataFrame, name: String): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-e3-tmp")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = tmp.toFile.listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$srcDir/$name"))
    }
    def startQuery() = StreamingJobs
      .streamsPipeline(StreamingJobs.streamShards(spark, srcDir), activities)
      .writeStream.format("parquet")
      .option("path", sinkDir).option("checkpointLocation", ckpt)
      .outputMode("append").start()
    // phase 1: the even-keyed shard, process, stop
    landShard(streams.filter(col("activity_id") % 2 === 0), "shard1.parquet")
    val q1 = startQuery()
    q1.processAllAvailable(); q1.stop()
    // phase 2: the odd-keyed shard lands while the query is DOWN;
    // restart from the same checkpoint — shard1 must not re-ingest
    landShard(streams.filter(col("activity_id") % 2 === 1), "shard2.parquet")
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()
    // the sink must hold EXACTLY the batch pipeline's enriched rows
    def multiset(df: DataFrame) = df
      .select("activity_id", "time", "distance", "src", "sport_type")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getString(3), r.getString(4)))
      .sorted.toSeq
    val batch = streams
      .join(activities.select("activity_id").distinct(),
        Seq("activity_id"), "left_semi")
      .withColumn("src", when(col("activity_id") % 4 === 0, "cached")
        .otherwise("fetched"))
      .join(activities, Seq("activity_id"))
    assert(multiset(spark.read.parquet(sinkDir)) === multiset(batch),
      "restart must deliver each shard exactly once, enriched")
  }

  test("stream-stream interval join emits matches across micro-batch boundaries") {
    // the suite's one STREAM-STREAM join: a candidate landing in a LATER
    // micro-batch must still match a probe buffered from an earlier one
    // (join state), and out-of-range / wrong-user pairs must never
    // appear. Final result equals the identical batch join.
    val pDir = java.nio.file.Files.createTempDirectory("ss-probe").toString
    val cDir = java.nio.file.Files.createTempDirectory("ss-cand").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ss-ckpt").toString
    def mk(rs: Seq[(Long, Long, String, Double)]) =
      rs.toDF("event_id", "user_id", "s", "value")
        .select(col("event_id"), col("user_id"),
          to_timestamp(col("s")).as("ts"), col("value"))
    def land(dir: String, name: String,
        rs: Seq[(Long, Long, String, Double)]): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("ss-tmp")
      mk(rs).coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = tmp.toFile.listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$dir/$name"))
    }
    val schema = "event_id BIGINT, user_id BIGINT, ts TIMESTAMP, value DOUBLE"
    def src(dir: String) = spark.readStream.schema(schema).parquet(dir)
    // shard 1 — P1 u1@10:00, P2 u2@10:00; C1 u1@10:05 (in range for
    // P1), C3 u2@09:55 (BEFORE its probe: must not match)
    val p1 = Seq((100L, 1L, "2024-01-01 10:00:00", 0.0),
      (200L, 2L, "2024-01-01 10:00:00", 0.0))
    val c1 = Seq((500L, 1L, "2024-01-01 10:05:00", 1.5),
      (700L, 2L, "2024-01-01 09:55:00", 9.9))
    // shard 2 — C2 u1@10:08 matches the BUFFERED P1 from shard 1 AND
    // the same-shard P3 u1@10:07; C1 is out of range for P3 (10:05 <
    // 10:07)
    val p2 = Seq((300L, 1L, "2024-01-01 10:07:00", 0.0))
    val c2 = Seq((600L, 1L, "2024-01-01 10:08:00", 2.5))
    land(pDir, "s1.parquet", p1); land(cDir, "s1.parquet", c1)
    val q = StreamingJobs.streamStreamIntervalJoin(src(pDir), src(cDir))
      .writeStream.format("memory").queryName("ss_join")
      .option("checkpointLocation", ckpt).outputMode("append").start()
    def pairs() = spark.table("ss_join").select("probe_id", "cand_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    try {
      q.processAllAvailable()
      assert(pairs() === Set((100L, 500L)),
        "shard 1: only the in-range same-user pair")
      land(pDir, "s2.parquet", p2); land(cDir, "s2.parquet", c2)
      q.processAllAvailable()
      assert(pairs() === Set((100L, 500L), (100L, 600L), (300L, 600L)),
        "shard 2's candidate matches both the buffered and same-shard probes")
    } finally q.stop()
    // the stream's final multiset equals the identical BATCH join
    val batch = StreamingJobs.streamStreamIntervalJoin(
      mk(p1 ++ p2), mk(c1 ++ c2))
      .select("probe_id", "cand_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs() === batch, "stream == batch on the same inputs")
  }

  test("streaming dedup drops repeats across micro-batches within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp)]
    val events = input.toDF().toDF("event_id", "ts")
    val q = StreamingJobs.dedupEvents(events)
      .writeStream.format("memory").queryName("dedup_test")
      .outputMode("append").start()
    try {
      input.addData((1L, ts("2024-01-01 00:00:00")),
        (1L, ts("2024-01-01 00:00:00")), // same-batch duplicate
        (2L, ts("2024-01-01 00:01:00")))
      q.processAllAvailable()
      // cross-batch redelivery with a JITTERED timestamp still dedups:
      // the key is event_id alone
      input.addData((1L, ts("2024-01-01 00:00:07")))
      q.processAllAvailable()
      val ids = spark.table("dedup_test").select("event_id")
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(ids === Seq(1L, 2L), "each id survives exactly once")
    } finally q.stop()
  }

  test("flatMapGroupsWithState carries running totals across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long)]
    val events = input.toDF().toDF("ts", "user_id")
    val q = StreamingJobs.runningUserTotals(spark, events)
      .writeStream.format("memory").queryName("state_test")
      .outputMode("update").start()
    try {
      input.addData((ts("2024-01-01 00:00:00"), 1L),
        (ts("2024-01-01 00:01:00"), 1L), (ts("2024-01-01 00:02:00"), 2L))
      q.processAllAvailable()
      input.addData((ts("2024-01-01 00:03:00"), 1L))
      q.processAllAvailable()
      // Update-mode memory sink appends each batch's emissions; the last
      // emission per user is the running total
      val finalTotals = spark.table("state_test")
        .groupBy(col("user_id")).agg(max(col("total")).as("t"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(finalTotals === Map(1L -> 3L, 2L -> 1L),
        "state must persist across micro-batches")
    } finally q.stop()
  }

  test("streaming session window merges and splits like the batch form") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long)]
    val events = input.toDF().toDF("ts", "user_id")
    val q = StreamingJobs.sessionCounts(events)
      .writeStream.format("memory").queryName("session_test")
      .outputMode("complete").start()
    try {
      input.addData(
        (ts("2024-01-01 00:00:00"), 1L),
        (ts("2024-01-01 00:05:00"), 1L), // merges
        (ts("2024-01-01 00:30:00"), 1L), // new session
        (ts("2024-01-01 00:00:00"), 2L))
      q.processAllAvailable()
      val out = spark.table("session_test")
        .select(col("user_id"), col("n")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(out === Seq((1L, 1L), (1L, 2L), (2L, 1L)))
    } finally q.stop()
  }

  test("streaming count-min cells converge to the batch sketch") {
    implicit val sqlCtx = spark.sqlContext
    val W = graft.operators.LlmOps.CM_W
    val D = graft.operators.LlmOps.CM_D
    // batch-side truth: every token occurrence's D bucket projections,
    // counted per cell — exactly t12's sketch table
    val hits = graft.Tables.documents(spark, sf)
      .select(explode(split(lower(col("text")), " ")).as("tok"))
      .select((0 until D).map(i =>
        (graft.functions.Portable.h60(col("tok"), s"cm$i|") % W)
          .cast("int").as(s"b$i")): _*)
      .collect()
      .flatMap(r => (0 until D).map(i => (i, r.getInt(i))))
    val batchCells = hits.groupBy(identity).map {
      case ((d, b), v) => (d, b) -> v.length.toLong
    }
    // stream the same hits in three chunks; cells only grow, so the max
    // emission per cell is the final state
    val input = MemoryStream[(Int, Int)]
    val q = StreamingJobs
      .streamingCountminCells(spark, input.toDF().toDF("depth", "bucket"))
      .writeStream.format("memory").queryName("cm_test")
      .outputMode("update").start()
    try {
      hits.grouped(math.max(1, hits.length / 3 + 1)).foreach { chunk =>
        input.addData(chunk.toSeq)
        q.processAllAvailable()
      }
      val streamCells = spark.table("cm_test")
        .groupBy(col("depth"), col("bucket")).agg(max(col("cnt")).as("c"))
        .collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
      assert(streamCells === batchCells,
        "streaming sketch must equal the batch sketch, cell for cell")
    } finally q.stop()
  }

  test("streaming count-min survives a mid-stream restart (checkpointed state)") {
    val W = graft.operators.LlmOps.CM_W
    val D = graft.operators.LlmOps.CM_D
    // batch-side truth: the full corpus's sketch cells (as in the
    // convergence test above)
    val hitsDf = graft.Tables.documents(spark, sf)
      .select(explode(split(lower(col("text")), " ")).as("tok"))
      .select((0 until D).map(i =>
        (graft.functions.Portable.h60(col("tok"), s"cm$i|") % W)
          .cast("int").as(s"b$i")): _*)
    val hits = hitsDf.collect()
      .flatMap(r => (0 until D).map(i => (i, r.getInt(i))))
    val batchCells = hits.groupBy(identity).map {
      case ((d, b), v) => (d, b) -> v.length.toLong
    }
    // stage the hits as file-source input so the checkpoint can resume a
    // REAL source offset (MemoryStream state dies with the query)
    val srcDir = java.nio.file.Files
      .createTempDirectory("graft-cm-src").toString
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-cm-ckpt").toString
    def land(rows: Seq[(Int, Int)], name: String): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-cm-tmp")
      rows.toDF("depth", "bucket").coalesce(1)
        .write.mode("overwrite").parquet(tmp.toString)
      val part = tmp.toFile.listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$srcDir/$name"))
    }
    // memory sink can't recover from a checkpoint; foreachBatch can —
    // fold every emission into a driver-side max-per-cell map, which
    // survives the restart the way a real sink's stored rows would
    val emitted =
      scala.collection.concurrent.TrieMap.empty[(Int, Int), Long]
    def startQuery() = StreamingJobs.streamingCountminCells(spark,
      spark.readStream.schema("depth INT, bucket INT").parquet(srcDir))
      .writeStream
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[StreamingJobs.CmCell],
            _: Long) =>
          batch.collect().foreach { c =>
            val k = (c.depth, c.bucket)
            emitted(k) = math.max(emitted.getOrElse(k, 0L), c.cnt)
          }
      }
      .option("checkpointLocation", ckpt)
      .outputMode("update").start()
    // phase 1: first half, process, STOP mid-stream
    val (h1, h2) = hits.splitAt(hits.length / 2)
    land(h1.toSeq, "half1.parquet")
    val q1 = startQuery()
    q1.processAllAvailable(); q1.stop()
    // phase 2: second half lands while the query is DOWN; restart from
    // the same checkpoint — half1's offsets AND the sketch state must
    // both resume (re-ingesting half1 would overcount; losing state
    // would undercount)
    land(h2.toSeq, "half2.parquet")
    val q2 = startQuery()
    try {
      q2.processAllAvailable()
      assert(emitted.toMap === batchCells,
        "post-restart sketch must equal the batch sketch, cell for cell")
    } finally q2.stop()
  }

  test("streaming bloom bits converge to d9's batch filter bit table") {
    implicit val sqlCtx = spark.sqlContext
    // batch-side truth: the d9 eval-set bit table (same gram seed, same
    // shared position derivation)
    val evalGrams = Tables.documents(spark, sf)
      .filter(col("doc_id") % 20 === 0)
      .select(col("doc_id"), split(lower(col("text")), " ").as("t"))
      .filter(size(col("t")) >= 4)
      .select(explode(expr(
        "transform(sequence(0, size(t)-4), " +
          "i -> concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3]))")).as("gram"))
      .select(graft.functions.Portable.h60(col("gram"), "dc|").as("gh"))
      .distinct()
    val batchBits = evalGrams
      .select(explode(array(
        graft.operators.LlmOps.bloomPositionCols: _*)).as("pos"))
      .distinct().collect().map(_.getInt(0)).toSet
    assert(batchBits.nonEmpty)
    // stream the same hashes in three chunks; bits only turn on, so the
    // union of emissions is the final filter
    val hashes = evalGrams.collect().map(_.getLong(0))
    val input = MemoryStream[Long]
    val q = StreamingJobs
      .streamingBloomBits(spark, input.toDF().toDF("gh"))
      .writeStream.format("memory").queryName("bloom_test")
      .outputMode("update").start()
    try {
      hashes.grouped(math.max(1, hashes.length / 3 + 1)).foreach { chunk =>
        input.addData(chunk.toSeq)
        q.processAllAvailable()
      }
      val streamBits = spark.table("bloom_test").select("pos")
        .distinct().collect().map(_.getInt(0)).toSet
      assert(streamBits === batchBits,
        "streaming filter must equal the batch filter, bit for bit")
    } finally q.stop()
  }

  test("streaming HLL registers converge to the batch register table") {
    implicit val sqlCtx = spark.sqlContext
    // batch-side truth: the a9 register table over the sf corpus
    val grams = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang"),
        split(lower(col("text")), " ").as("t"))
      .filter(size(col("t")) >= 3)
      .select(col("doc_id"), col("lang"), explode(expr(
        "transform(sequence(0, size(t)-3), " +
          "i -> concat_ws(' ', t[i], t[i+1], t[i+2]))")).as("gram"))
      .select(col("doc_id"), col("lang"),
        graft.functions.Portable.h60(col("gram"), "hll|").as("h"))
    val w = 1L << 52
    val batchRegs = grams
      .select(col("lang"), expr(s"h div $w").as("idx"),
        (col("h") % w).as("rem"))
      .select(col("lang"), col("idx"),
        when(col("rem") === 0, lit(53))
          .otherwise(lit(53) - length(bin(col("rem")))).as("rho"))
      .groupBy("lang", "idx").agg(max("rho").as("m"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1).toInt) -> r.getInt(2)).toMap

    // stream the same hashes in three chunks
    val rows = grams.select(col("doc_id"), col("lang"), col("h"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val input = MemoryStream[(String, Long)]
    val hashed = input.toDF().toDF("lang", "h")
    val q = StreamingJobs.streamingHllRegisters(spark, hashed)
      .writeStream.format("memory").queryName("hll_test")
      .outputMode("update").start()
    try {
      rows.grouped(math.max(1, rows.length / 3 + 1)).foreach { chunk =>
        input.addData(chunk.map(t => (t._2, t._3)).toSeq)
        q.processAllAvailable()
      }
      // registers only grow → the max emission per (lang, idx) is the
      // final state; it must equal the batch table exactly
      val streamRegs = spark.table("hll_test")
        .groupBy(col("lang"), col("idx")).agg(max(col("m_rho")).as("m"))
        .collect()
        .map(r => (r.getString(0), r.getInt(1)) -> r.getInt(2)).toMap
      assert(streamRegs === batchRegs,
        "streaming sketch must be the batch sketch, register for register")
    } finally q.stop()
  }

  test("streaming incremental dedup matches batch d10 routing exactly") {
    implicit val sqlCtx = spark.sqlContext
    // batch-side truth: d10's three-way routing over the sf corpus
    val batchRoutes = graft.operators.LlmOps.d10IncrementalDedup
      .fn(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    // the same standing/batch split d10 uses: history = doc_id % 4 != 0
    val docs = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"))
    val history = graft.operators.LlmOps.fingerprintsOf(
      docs.filter(col("doc_id") % 4 =!= 0))
    val batchRows = docs.filter(col("doc_id") % 4 === 0)
      .collect().map(r => (r.getLong(0), r.getString(1)))
      .sortBy(_._1) // id-ordered delivery: stream election == min(doc_id)
    val input = MemoryStream[(Long, String)]
    val stream = input.toDF().toDF("doc_id", "text")
    val q = StreamingJobs
      .streamingIncrementalDedup(spark, stream, history)
      .writeStream.format("memory").queryName("incdedup_test")
      .outputMode("append").start()
    try {
      // three micro-batches: in-batch dup election AND cross-batch
      // state carry-over are both exercised
      batchRows.grouped(math.max(1, batchRows.length / 3 + 1)).foreach {
        chunk => input.addData(chunk.toSeq); q.processAllAvailable()
      }
      val streamRoutes = spark.table("incdedup_test").collect()
        .map(r => r.getLong(0) -> r.getString(2)).toMap
      assert(streamRoutes.size === batchRoutes.size,
        "every batch doc must be routed exactly once")
      assert(streamRoutes === batchRoutes,
        "stream routing must equal d10's batch routing doc for doc")
    } finally q.stop()
  }

  test("streaming line dedup matches batch d16 routing line for line") {
    implicit val sqlCtx = spark.sqlContext
    // batch-side truth: d16's per-line routes over the sf corpus
    val batchRoutes = graft.operators.LlmOps
      .d16LineRoutes(graft.Tables.documents(spark, sf)).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getString(2), r.getString(3)))).toMap
    val docs = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"))
    val standingFp = graft.operators.LlmOps
      .linesOf(docs.filter(col("doc_id") % 4 =!= 0))
      .select(col("lh"))
    val batchRows = docs.filter(col("doc_id") % 4 === 0)
      .collect().map(r => (r.getLong(0), r.getString(1)))
      .sortBy(_._1) // id-ordered delivery: stream election == min(doc_id)
    val input = MemoryStream[(Long, String)]
    val stream = input.toDF().toDF("doc_id", "text")
    val q = StreamingJobs
      .streamingLineDedup(spark, stream, standingFp)
      .writeStream.format("memory").queryName("linededup_test")
      .outputMode("append").start()
    try {
      // three micro-batches: within-batch owner election AND
      // cross-micro-batch state carry-over both exercised
      batchRows.grouped(math.max(1, batchRows.length / 3 + 1)).foreach {
        chunk => input.addData(chunk.toSeq); q.processAllAvailable()
      }
      val streamRoutes = spark.table("linededup_test").collect()
        .map(r => (r.getLong(0), r.getLong(1)) ->
          ((r.getString(2), r.getString(3)))).toMap
      assert(streamRoutes.size === batchRoutes.size,
        "every batch line must be routed exactly once")
      assert(streamRoutes === batchRoutes,
        "stream routing must equal d16's batch routing line for line")
      // and the fixture is non-degenerate: all three routes fire
      assert(streamRoutes.values.map(_._2).toSet ===
        Set("standing", "batch_dup", "kept"),
        "sf corpus must exercise every line route")
    } finally q.stop()
  }

  test("cross-batch dedup emits at most one kept owner per key under " +
      "out-of-order delivery (ADVICE r16: smaller ids and owner " +
      "redeliveries in later batches are dups, state still converges)") {
    implicit val sqlCtx = spark.sqlContext
    // history owns 'gamma' only; keys 'alpha'/'beta' are stream-new
    val history = graft.operators.LlmOps.fingerprintsOf(
      Seq((100L, "gamma")).toDF("doc_id", "text"))
    val input = MemoryStream[(Long, String)]
    val q = StreamingJobs
      .streamingIncrementalDedup(spark,
        input.toDF().toDF("doc_id", "text"), history)
      .writeStream.format("memory").queryName("oo_dedup_test")
      .outputMode("append").start()
    try {
      // batch 1 (id-ordered): 10 owns alpha, 20 owns beta
      input.addData(Seq((10L, "alpha"), (20L, "beta")))
      q.processAllAvailable()
      // batch 2 (out of order): a SMALLER id for alpha, an exact
      // redelivery of alpha's owner, a larger beta, and a history hit —
      // none may mint a second kept owner
      input.addData(Seq((3L, "alpha"), (10L, "alpha"), (25L, "beta"),
        (30L, "gamma")))
      q.processAllAvailable()
      // batch 3: below even batch 2's converged state — still a dup
      input.addData(Seq((1L, "alpha")))
      q.processAllAvailable()
      val routes = spark.table("oo_dedup_test").collect()
        .map(r => (r.getLong(0), r.getString(2)))
      val newOwners = routes.collect { case (id, "new") => id }.toSet
      assert(newOwners === Set(10L, 20L),
        s"exactly the first-batch owners may be kept, got $newOwners")
      assert(routes.count(_._2 == "new") === 2,
        "at most one kept owner per key across batches")
      assert(routes.collect { case (id, "dup_in_batch") => id }.toSet
        === Set(3L, 10L, 25L, 1L),
        "later-batch smaller ids and owner redeliveries route as dups")
      assert(routes.collect { case (id, "dup_of_history") => id }.toSet
        === Set(30L), "the standing-table hit still routes to history")
    } finally q.stop()
  }

  test("file streams over drifted ts generations union into one canonical stream") {
    // the s11 scenario, streaming form: two landing directories written
    // by producers of different eras — one carries ts as epoch-nanos
    // INT64, the other as TIMESTAMP_NTZ micros. Each generation streams
    // through eventsFileStream (schema from its own footers, ts
    // normalized by the shared batch path), and the union must window
    // identically to the batch aggregate over the doubled base table.
    def stage(transform: org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame): String = {
      val dir = java.nio.file.Files
        .createTempDirectory("graft-gen-stream").toString
      transform(Tables.events(spark, sf)).coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      dir
    }
    val nanosDir = stage(_.withColumn("ts", expr("unix_micros(ts) * 1000L")))
    val ntzDir = stage(_.withColumn("ts", col("ts").cast("timestamp_ntz")))
    val unioned = StreamingJobs
      .eventsFileStream(spark, s"$nanosDir/events.parquet")
      .unionByName(
        StreamingJobs.eventsFileStream(spark, s"$ntzDir/events.parquet"))
    val q = StreamingJobs.tumblingCounts(unioned)
      .writeStream.format("memory").queryName("gen_union_test")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("gen_union_test")
        .select(col("w_start"), col("event_type"), col("n"))
        .collect().map(r => (r.getTimestamp(0), r.getString(1),
          r.getLong(2))).toSet
      // tumblingCounts is shape-agnostic: on a batch frame the
      // watermark is a no-op and the same window agg runs
      val batch = StreamingJobs
        .tumblingCounts(Tables.events(spark, sf))
        .select(col("w_start"), col("event_type"), (col("n") * 2).as("n"))
        .collect().map(r => (r.getTimestamp(0), r.getString(1),
          r.getLong(2))).toSet
      assert(streamed === batch,
        "cross-generation union must window as 2x the base table")
    } finally q.stop()
  }

  test("eventsFileStream bootstraps on an EMPTY landing dir (files land later)") {
    // the normal streaming bootstrap: the query starts before the first
    // producer file arrives; the schema falls back to the modern
    // (TIMESTAMP_NTZ micros) generation instead of failing the footer
    // read, and rows landing later flow through the same normalization
    val srcDir = java.nio.file.Files
      .createTempDirectory("graft-empty-boot").toString
    val q = StreamingJobs
      .tumblingCounts(StreamingJobs.eventsFileStream(spark, srcDir))
      .writeStream.format("memory").queryName("empty_boot_test")
      .outputMode("complete").start()
    try {
      q.processAllAvailable() // zero batches on the empty dir: no crash
      assert(spark.table("empty_boot_test").count() === 0)
      // first producer file lands AFTER the stream is live (a bare
      // file, not a write.parquet SUBDIRECTORY — the file source lists
      // the landing dir non-recursively)
      val staging = java.nio.file.Files
        .createTempDirectory("graft-empty-boot-stage").toString
      Tables.events(spark, sf)
        .withColumn("ts", col("ts").cast("timestamp_ntz"))
        .coalesce(1).write.mode("overwrite").parquet(staging)
      val part = new java.io.File(staging).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(s"$srcDir/batch1.parquet"))
      q.processAllAvailable()
      val streamed = spark.table("empty_boot_test")
        .agg(sum(col("n"))).collect().head.getLong(0)
      assert(streamed === Tables.events(spark, sf).count(),
        "late-landing files must flow through the bootstrap schema")
    } finally q.stop()
  }

  test("streaming arrival routing matches a15's batch per-cell additions") {
    // a15's maintenance loop, streaming form: arriving vectors route
    // against the FROZEN standing-corpus centroids in a stateless
    // projection (no per-row agg state, no shuffle), and the per-cell
    // growth report over the drained stream must equal the batch
    // query's addition side cell for cell.
    val all = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").as("emb"))
    val cents = operators.Ann.kmeansTrainedCentroids(
      spark, all.filter(col("vec_id") % 10 =!= 0))
    val dir = java.nio.file.Files
      .createTempDirectory("graft-arrivals").toString
    all.filter(col("vec_id") % 10 === 0).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/arrivals.parquet")
    val schema = spark.read.parquet(s"$dir/arrivals.parquet").schema
    val arrivals = spark.readStream.schema(schema)
      .parquet(s"$dir/arrivals.parquet")
    val q = StreamingJobs.routeArrivals(arrivals, cents)
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_added"),
        round(sum(round(col("csim"), 6).cast("decimal(20,6)"))
          .cast("double") / count(lit(1)), 6).as("avg_new_sim"))
      .writeStream.format("memory").queryName("arrival_routing_test")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("arrival_routing_test").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val batch = SparkEntry.queries("a15_incremental_index")(spark, sf)
        .filter(col("n_added") > 0)
        .select(col("cell"), col("n_added"), col("avg_new_sim"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(streamed === batch,
        "streamed routing must equal the batch addition report")
    } finally q.stop()
  }

  test("retrain signal: a matched arrival batch holds, a drifted one flips") {
    // a16's monitoring rule, streaming form: micro-batches drain through
    // routeArrivals against FROZEN centroids; the overall mean arrival
    // similarity is the drift signal and crossing RETRAIN_TAU flips the
    // retrain decision. Standing corpus: four tight clusters on basis
    // dims 0..3 (vec_ids 0..3 are the pure anchors, so they are the
    // k-means seeds and each seeds its own cluster). A matched batch
    // (drawn from the same distribution) routes at ~1.0 sim → hold; a
    // drifted batch (orthogonal dims 32..35) routes at ~0.0 → retrain.
    val dim = 64
    def vec(axis: Int, eps: Float): Array[Float] = {
      val a = Array.fill(dim)(0.0f); a(axis) = 1.0f
      if (eps != 0.0f) a((axis + 8) % dim) = eps
      a
    }
    val standing = (0 until 4).map(c => (c.toLong, vec(c, 0.0f))) ++
      (4 until 44).map(i => (i.toLong, vec(i % 4, 0.05f + 0.01f * (i % 3))))
    val standingDf = standing.toDF("vec_id", "emb")
    val cents = operators.Ann.kmeansTrainedCentroids(spark, standingDf)

    def streamedDecision(batch: Seq[(Long, Array[Float])]): (Double, Boolean) = {
      val dir = java.nio.file.Files
        .createTempDirectory("graft-retrain").toString
      batch.toDF("vec_id", "emb").coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/arrivals.parquet")
      val schema = spark.read.parquet(s"$dir/arrivals.parquet").schema
      val arrivals = spark.readStream.schema(schema)
        .parquet(s"$dir/arrivals.parquet")
      val name = s"retrain_signal_${System.nanoTime()}"
      val q = StreamingJobs.routeArrivals(arrivals, cents)
        .agg(round(sum(round(col("csim"), 6).cast("decimal(20,6)"))
          .cast("double") / count(lit(1)), 6).as("overall_new_sim"))
        .withColumn("retrain",
          col("overall_new_sim") < lit(operators.Ann.RETRAIN_TAU))
        .writeStream.format("memory").queryName(name)
        .outputMode("complete").start()
      try {
        q.processAllAvailable()
        val r = spark.table(name).collect().head
        (r.getDouble(0), r.getBoolean(1))
      } finally q.stop()
    }

    val (matchedSim, matchedRetrain) =
      streamedDecision((100 until 120).map(i =>
        (i.toLong, vec(i % 4, 0.05f + 0.01f * (i % 3)))))
    val (driftedSim, driftedRetrain) =
      streamedDecision((200 until 220).map(i =>
        (i.toLong, vec(32 + i % 4, 0.05f))))

    assert(!matchedRetrain && matchedSim > 0.9,
      s"matched batch must hold (sim=$matchedSim)")
    assert(driftedRetrain && driftedSim < 0.2,
      s"drifted batch must flip the retrain signal (sim=$driftedSim)")
  }

  test("streaming PII scrub == the batch projection row for row: the " +
      "stateless masking pass scrubs arrivals at ingest time with " +
      "per-class counts intact") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val docs = Seq(
      1L -> "contact user1@example.com and see https://ex.com/a now",
      2L -> "call 555-867-5309 from 10.1.0.12 pay 4111111111111111 ok",
      3L -> "clean text with no pii at all",
      4L -> "two ips 192.168.0.1 8.8.8.8 and short digits 4111 here")
    val input = MemoryStream[(Long, String)]
    val q = StreamingJobs.streamingPiiScrub(spark,
        input.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("pii_test")
      .outputMode("append").start()
    try {
      input.addData(docs(0), docs(1))
      q.processAllAvailable()
      input.addData(docs(2), docs(3))
      q.processAllAvailable()
      val got = spark.table("pii_test").collect()
        .map(_.toString).sorted.toSeq
      val want = operators.LlmOps
        .piiScrubProjection(docs.toDF("doc_id", "text"))
        .collect().map(_.toString).sorted.toSeq
      assert(got === want,
        "stream output must equal the batch projection row for row")
      // non-vacuity: every class seen, the clean row all-zero, the
      // 4-digit run NOT card-matched, and no scrubbed row leaks PII
      val byId = spark.table("pii_test").collect()
        .map(r => r.getLong(0) -> r).toMap
      assert(byId(1L).getLong(2) === 1L && byId(1L).getLong(3) === 1L)
      assert(byId(2L).getLong(4) === 1L && byId(2L).getLong(5) === 1L &&
        byId(2L).getLong(6) === 1L)
      assert((2 to 6).forall(i => byId(3L).getLong(i) === 0L))
      assert(byId(4L).getLong(5) === 2L && byId(4L).getLong(6) === 0L)
      assert(!byId(2L).getString(1).exists(_.isDigit) ||
        !byId(2L).getString(1).contains("555"),
        "scrubbed text must not retain the phone number")
    } finally q.stop()
  }

  test("streaming decode quarantine matches batch m2b row for row and state for state") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Multimodal
    // the same planted-truncation media set m2b decodes in batch:
    // containerized payloads with every doc_id % 7 == 0 cut to half
    val planted: Array[Multimodal.MediaRow] = Multimodal.mediaFrame(spark, sf)
      .select(col("doc_id"), col("payload"), col("mime"))
      .as[Multimodal.MediaRow]
      .collect()
      .map { r =>
        val c = Multimodal.containerize(r)
        if (r.doc_id % 7 == 0)
          Multimodal.MediaRow(
            c.doc_id, c.payload.take(c.payload.length / 2), c.mime)
        else c
      }
    // batch-side truth: the total decode + m2b's per-mime report
    val batchRows = Multimodal.decodeBatch(planted.iterator)
      .map(m => m.doc_id ->
        ((m.mime, m.width, m.height, m.n_frames, m.checksum, m.err)))
      .toMap
    val batchCounts = batchRows.values
      .groupBy(_._1)
      .map { case (m, rs) =>
        m -> ((rs.count(_._6.isEmpty).toLong, rs.count(_._6.nonEmpty).toLong))
      }

    val input = MemoryStream[(Long, Array[Byte], String)]
    val stream = input.toDF().toDF("doc_id", "payload", "mime")
    val decoded = StreamingJobs.streamingDecodeRoute(spark, stream)
    val rowsQ = decoded
      .writeStream.format("memory").queryName("decode_route_test")
      .outputMode("append").start()
    val countsQ = StreamingJobs
      .streamingQuarantineCounts(spark, StreamingJobs.streamingDecodeRoute(
        spark, stream))
      .writeStream.format("memory").queryName("quarantine_counts_test")
      .outputMode("update").start()
    try {
      // three micro-batches so malformed and healthy payloads of the
      // same mime arrive in DIFFERENT batches — the cumulative state
      // must still converge to the batch report
      planted.map(r => (r.doc_id, r.payload, r.mime))
        .grouped(math.max(1, planted.length / 3 + 1))
        .foreach { chunk =>
          input.addData(chunk.toSeq)
          rowsQ.processAllAvailable()
          countsQ.processAllAvailable()
        }
      // row-for-row: the union of micro-batch decodes IS the batch decode
      val streamRows = spark.table("decode_route_test").collect()
        .map(r => r.getLong(0) ->
          ((r.getString(1),
            Option(r.get(2)).map(_.asInstanceOf[Int]),
            Option(r.get(3)).map(_.asInstanceOf[Int]),
            Option(r.get(4)).map(_.asInstanceOf[Int]),
            Option(r.get(5)).map(_.asInstanceOf[Long]),
            Option(r.get(6)).map(_.asInstanceOf[String])))).toMap
      assert(streamRows === batchRows,
        "streaming decode must equal the batch decode row for row")
      // state-for-state: the per-mime GroupState after the final batch
      // equals m2b's (n_ok, n_quarantined). Update-mode memory sink
      // keeps every emission; both counters are monotone, so the
      // cumulative state per mime is the per-mime max.
      val streamCounts = spark.table("quarantine_counts_test").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .groupBy(_._1)
        .map { case (m, rs) => m -> ((rs.map(_._2).max, rs.map(_._3).max)) }
      assert(streamCounts === batchCounts,
        "cumulative quarantine state must equal batch m2b's per-mime report")
      // the planted set itself: every truncated doc quarantined, no
      // healthy neighbor swept up
      val quarantined = streamRows.collect {
        case (id, (_, _, _, _, _, Some(_))) => id
      }.toSet
      assert(quarantined === planted.map(_.doc_id).filter(_ % 7 == 0).toSet,
        "quarantine must be exactly the planted truncations")
    } finally { rowsQ.stop(); countsQ.stop() }
  }

  test("the Gopher quality gate runs unchanged over a stream (one definition, two modes)") {
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"), col("source"))
    val batch = graft.operators.LlmOps.gopherRulesOf(docs).collect()
      .map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    val rows = docs.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val input = MemoryStream[(Long, String, String)]
    val stream = input.toDF().toDF("doc_id", "text", "source")
    val q = graft.operators.LlmOps.gopherRulesOf(stream)
      .writeStream.format("memory").queryName("gopher_stream_test")
      .outputMode("append").start()
    try {
      rows.grouped(math.max(1, rows.length / 2 + 1))
        .foreach { chunk => input.addData(chunk.toSeq); q.processAllAvailable() }
      val streamed = spark.table("gopher_stream_test").collect()
        .map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
      assert(streamed === batch,
        "stateless gate: stream output must equal batch output row for row")
    } finally q.stop()
  }

  test("streaming near-dup surfaces exactly d2's arrival-involving candidate pairs") {
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"))
    val standing = docs.filter(col("doc_id") % 4 =!= 0)
    val arrivals = docs.filter(col("doc_id") % 4 === 0)
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    // precondition for exact parity: no band bucket over the cap (the
    // stream's prefix cap and batch d2's retroactive drop only diverge
    // past it) — fails loudly if a future testdata generation breaks it
    val maxBucket = StreamingJobs.bandKeys(docs)
      .groupBy("band", "bkey").count().agg(max("count")).head().getLong(0)
    assert(maxBucket <= graft.operators.LlmOps.BUCKET_CAP,
      s"parity precondition: max band bucket $maxBucket exceeds the cap")
    // batch truth: d2's candidate pairs (band collisions, canonical
    // id_a < id_b), restricted to pairs touching >= 1 arrival
    val isArrival = arrivals.map(_._1).toSet
    val batchPairs = graft.operators.LlmOps.minhashNearDups(docs)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => isArrival(a) || isArrival(b) }.toSet
    graft.operators.LlmOps.releaseCaches()

    val input = MemoryStream[(Long, String)]
    val stream = input.toDF().toDF("doc_id", "text")
    val q = StreamingJobs
      .streamingNearDupPairs(spark, stream, standing)
      .writeStream.format("memory").queryName("neardup_stream_test")
      .outputMode("append").start()
    try {
      // id-ordered delivery in three micro-batches: hist matches,
      // in-batch pairing, and cross-batch state carry-over all fire
      arrivals.grouped(math.max(1, arrivals.length / 3 + 1))
        .foreach { chunk => input.addData(chunk.toSeq); q.processAllAvailable() }
      val streamed = spark.table("neardup_stream_test").collect()
        .map(r => {
          val (a, b) = (r.getLong(0), r.getLong(1))
          (math.min(a, b), math.max(a, b))
        }).toSet
      assert(streamed === batchPairs,
        "streamed candidate pairs must equal batch d2's, pair for pair")
    } finally q.stop()
  }

  test("streaming NSW arrival search matches a17's batch top-k row-for-row") {
    val standing = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").as("emb"))
    val edges = operators.Ann.nswEdges(spark, sf)
    // arrivals = the batch probes themselves, so the frozen-graph beam
    // must reproduce a17's exact output (same entries, same hops, same
    // rounding/tie-breaks)
    val probes = standing.filter(col("vec_id") < 8)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Array[Float])]
    val arrivals = input.toDF().toDF("vec_id", "emb")
    val q = StreamingJobs
      .nswSearchArrivals(spark, arrivals, standing, edges)
      .writeStream.format("memory").queryName("nsw_stream_test")
      .outputMode("append").start()
    try {
      probes.grouped(3).foreach { chunk =>
        input.addData(chunk.toSeq); q.processAllAvailable()
      }
      val streamed = spark.table("nsw_stream_test").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getLong(3))).toSet
      val batch = operators.Ann.a17NswSearch.fn(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getLong(3))).toSet
      assert(streamed === batch,
        "stream arrival top-k must equal the batch beam row-for-row")
    } finally q.stop()
  }

  test("streaming hierarchical arrival search matches a19's batch " +
      "descent row-for-row") {
    val standing = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").as("emb"))
    // the layered edge union exactly as a19 builds it
    val p1 = operators.Ann.HNSW_PROMOTE.toLong
    def lh = functions.Portable.h60(col("vec_id").cast("string"), "lvl|")
    val el = standing.withColumn("lvl",
      when(pmod(lh, lit(p1 * p1)) === 0, 2)
        .when(pmod(lh, lit(p1)) === 0, 1).otherwise(0))
    val layerEdges = (0 to operators.Ann.HNSW_MAXL).map { k =>
      operators.Ann.nswEdgesFrom(spark,
        el.filter(col("lvl") >= k).select("vec_id", "emb"))
        .withColumn("elvl", lit(k))
    }.reduce(_ unionByName _)
    val probes = standing.filter(col("vec_id") < 8)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Array[Float])]
    val arrivals = input.toDF().toDF("vec_id", "emb")
    val q = StreamingJobs
      .hnswSearchArrivals(spark, arrivals, standing, layerEdges)
      .writeStream.format("memory").queryName("hnsw_stream_test")
      .outputMode("append").start()
    try {
      probes.grouped(3).foreach { chunk =>
        input.addData(chunk.toSeq); q.processAllAvailable()
      }
      val streamed = spark.table("hnsw_stream_test").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getLong(3))).toSet
      val batch = operators.Ann.a19HnswLayers.fn(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getLong(3))).toSet
      assert(streamed === batch,
        "stream descent top-k must equal batch a19 row-for-row")
    } finally q.stop()
  }

  test("streaming gap fill emits batch w4's rows up to each resource's " +
      "final observation (LOCF as a stateful generator)") {
    import java.sql.Timestamp
    implicit val sqlCtx = spark.sqlContext
    // the w4 spec fixture: gaps at every routing class + a same-minute
    // aggregation + a resource absent on day 1
    val events = Seq(
      (0L, Timestamp.valueOf("2024-03-01 00:01:30"), 1L, "steps", 7.0, "{}"),
      (1L, Timestamp.valueOf("2024-03-01 00:03:10"), 1L, "steps", 4.0, "{}"),
      (2L, Timestamp.valueOf("2024-03-01 00:03:40"), 1L, "steps", 5.0, "{}"),
      (3L, Timestamp.valueOf("2024-03-02 00:05:59"), 1L, "steps", 11.0, "{}"),
      (4L, Timestamp.valueOf("2024-03-02 00:02:00"), 2L, "hr", 60.0, "{}"),
      // a 2+ day gap (03-03 wholly unobserved): batch w4 lags over
      // OBSERVED days, so 03-04's leading minutes carry 03-02's close
      // as locf_prev_day and 03-03 emits nothing — the streaming
      // new-day branch must match that multi-day carry exactly
      // (ADVICE r16 #4)
      (5L, Timestamp.valueOf("2024-03-04 00:02:30"), 1L, "steps", 13.0, "{}")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = java.nio.file.Files.createTempDirectory("w4stream").toString
    events.write.mode("overwrite").parquet(s"$dir/events.parquet")
    // batch truth, minus what a stream cannot know yet: each resource's
    // final-day tail (no later arrival proves the day closed) and the
    // day-close n_missing_day aggregate
    val obs = Tables.events(spark, dir)
      .select(col("event_type"), date_trunc("minute", col("ts")).as("m"),
        col("value"))
      .groupBy(col("event_type"), col("m"))
      .agg(sum(col("value").cast("decimal(18,6)")).cast("double")
        .as("val"))
    val lastObs = obs.groupBy(col("event_type"))
      .agg(max(col("m")).as("last_m")).collect()
      .map(r => r.getString(0) -> r.getTimestamp(1)).toMap
    val batch = operators.Windows.w4GapFill.fn(spark, dir).collect()
      .map(r => (r.getString(0), r.getTimestamp(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)),
        r.getString(3)))
      .filter { case (et, m, _, _) => !m.after(lastObs(et)) }
      .toSet
    // stream the SAME per-minute observations, minute-ordered, three
    // micro-batches (state carries across the day boundary)
    val arrivals = obs.collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getDouble(2)))
      .sortBy(_._2.getTime)
    val input = MemoryStream[(String, Timestamp, Double)]
    val q = StreamingJobs
      .streamingGapFill(spark, input.toDF().toDF("event_type", "m", "val"))
      .writeStream.format("memory").queryName("gapfill_test")
      .outputMode("append").start()
    try {
      arrivals.grouped(2).foreach { chunk =>
        input.addData(chunk.toSeq); q.processAllAvailable()
      }
      val streamed = spark.table("gapfill_test").collect()
        .map(r => (r.getString(0), r.getTimestamp(1),
          if (r.isNullAt(2)) None else Some(r.getDouble(2)),
          r.getString(3))).toSet
      assert(streamed === batch,
        "streamed fill must equal batch w4 up to the final observation")
      // the state machine genuinely exercised every routing class
      val st = streamed.map(_._4)
      assert(st === Set("observed", "locf_same_day", "locf_prev_day",
        "unfilled"), s"missing routing class: $st")
      // the multi-day-gap carry provably fired: 03-04's leading fill
      // carries 03-02's close across the wholly-unobserved 03-03, and
      // 03-03 itself emitted nothing
      assert(streamed.contains(("steps",
        Timestamp.valueOf("2024-03-04 00:00:00"), Some(11.0),
        "locf_prev_day")), "multi-day carry must use the last " +
        "OBSERVED day's close")
      assert(!streamed.exists(_._2.toString.startsWith("2024-03-03")),
        "a wholly-unobserved day emits nothing")
    } finally q.stop()
  }

  test("streaming rank scoring matches the batch stream-static join " +
      "row for row, unranked arrivals surfaced not dropped") {
    implicit val sqlCtx = spark.sqlContext
    // the static prior: g1's ranks over the sf corpus, materialized
    // once (the serving artifact a rank table IS)
    val ranks = operators.Graph.g1Pagerank.fn(spark, sf)
      .select(col("doc_id"), col("pr")).localCheckpoint()
    val known = Tables.documents(spark, sf)
      .select(col("doc_id"), col("n_chars"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // five arrivals the crawl snapshot never ranked — the ranked=false
    // path must fire, not silently drop
    val unseen = (0 until 5).map(i => (1000000L + i, 7L + i))
    val arrivalsAll = (known ++ unseen).sortBy(_._1)
    val input = MemoryStream[(Long, Long)]
    val arrivals = input.toDF().toDF("doc_id", "n_chars")
    val q = StreamingJobs.streamingRankScore(spark, arrivals, ranks)
      .writeStream.format("memory").queryName("rankscore_test")
      .outputMode("append").start()
    try {
      arrivalsAll.grouped(
        math.max(1, arrivalsAll.length / 3 + 1)).foreach { chunk =>
        input.addData(chunk.toSeq); q.processAllAvailable()
      }
      val streamed = spark.table("rankscore_test").collect()
        .map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)),
          r.getBoolean(3))).toSet
      // batch truth: the identical stream-static join run as one batch
      val batch = StreamingJobs.streamingRankScore(spark,
        arrivalsAll.toSeq.toDF("doc_id", "n_chars"), ranks)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)),
          r.getBoolean(3))).toSet
      assert(streamed === batch,
        "stream scoring must equal the batch join row-for-row")
      assert(streamed.count(!_._4) === unseen.size,
        "every unranked arrival must surface with ranked=false")
      assert(streamed.count(_._4) === known.length,
        "every ranked arrival must carry its pr")
    } finally q.stop()
  }

  test("streaming quality routing serves t22's trained model " +
      "guess-for-guess (stateless model-serving parity)") {
    implicit val sqlCtx = spark.sqlContext
    // the trained model, collected once — planner-sized by design
    val (gridDf, priorDf) = operators.LlmOps.t22Model(spark, sf)
    val grid = gridDf.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    val priors = priorDf.collect().map(r =>
      (r.getString(0), r.getDouble(1)))
    // batch truth: the relational router's held-out guesses
    val batch = operators.LlmOps.t22Guesses(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val heldDocs = Tables.documents(spark, sf)
      .filter(col("doc_id") % 10 >= 8)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val input = MemoryStream[(Long, String)]
    val q = StreamingJobs
      .streamingQualityRoute(spark,
        input.toDF().toDF("doc_id", "text"), grid, priors)
      .writeStream.format("memory").queryName("qroute_test")
      .outputMode("append").start()
    try {
      heldDocs.grouped(math.max(1, heldDocs.length / 3 + 1)).foreach {
        chunk => input.addData(chunk.toSeq); q.processAllAvailable()
      }
      val streamed = spark.table("qroute_test").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(streamed.size === batch.size,
        "every arrival must be routed exactly once")
      assert(streamed === batch,
        "streamed routing must equal the batch router guess-for-guess")
      assert(streamed.values.toSet.size === 2,
        "the fixture must exercise both routes")
    } finally q.stop()
  }

  test("streaming hybrid standing-query matching equals an independent " +
      "relational recompute of both arms, score for score") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Ann
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").as("emb"))
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    // the standing-query index, collapsed to one broadcastable row
    val index = StreamingJobs.hybridStandingIndex(spark, e, docs)
      .localCheckpoint()
    // arrivals: the %10 slice with text + embedding
    val arrivalRows = docs.filter(col("doc_id") % 10 === 0)
      .join(e, col("doc_id") === col("vec_id"))
      .select(col("doc_id"), col("text"), col("emb"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getSeq[Float](2)))
    val input = MemoryStream[(Long, String, Seq[Float])]
    val arrivals = input.toDF().toDF("doc_id", "text", "emb")
    val q = StreamingJobs.streamingHybridMatch(spark, arrivals, index)
      .writeStream.format("memory").queryName("hybridmatch_test")
      .outputMode("append").start()
    try {
      arrivalRows.grouped(
        math.max(1, arrivalRows.length / 3 + 1)).foreach { chunk =>
        input.addData(chunk.toSeq); q.processAllAvailable()
      }
      val streamed = spark.table("hybridmatch_test").collect()
        .map(r => (r.getLong(0), r.getLong(1)) ->
          ((r.getDouble(2), r.getDouble(3), r.getBoolean(4)))).toMap
      // INDEPENDENT relational recompute (explode + groupBy + joins —
      // nothing shared with the HOF serving path except the constants):
      val adf = arrivalRows.toSeq.toDF("doc_id", "text", "emb")
      val toks = docs.select(col("doc_id"),
        explode(split(lower(col("text")), " ")).as("tok"))
      val tf = toks.groupBy(col("doc_id"), col("tok"))
        .agg(count(lit(1)).as("tf"))
      val corpusDl = toks.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("dl"))
      val stats = corpusDl.agg(count(lit(1)).as("n"),
        (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
      val wQ = org.apache.spark.sql.expressions.Window
        .partitionBy(col("probe_id"))
        .orderBy(col("qtf").desc, col("tok").asc)
      val qterms = tf
        .filter(col("doc_id") < Ann.RRF_PROBES &&
          length(col("tok")) >= Ann.RRF_MINLEN)
        .select(col("doc_id").as("probe_id"), col("tok"),
          col("tf").as("qtf"))
        .withColumn("qrn", row_number().over(wQ))
        .filter(col("qrn") <= Ann.RRF_QTERMS)
        .select("probe_id", "tok")
      val dfq = toks
        .join(broadcast(qterms.select("tok").distinct()), Seq("tok"))
        .groupBy(col("tok"))
        .agg(countDistinct(col("doc_id")).as("df"))
      val atoks = adf.select(col("doc_id"),
        explode(split(lower(col("text")), " ")).as("tok"))
      val atf = atoks.groupBy(col("doc_id"), col("tok"))
        .agg(count(lit(1)).as("tf"))
      val adl = adf.select(col("doc_id"),
        size(split(lower(col("text")), " ")).cast("long").as("dl"))
      val sparseScores = qterms.join(atf, Seq("tok"))
        .join(broadcast(dfq), Seq("tok"))
        .join(adl, Seq("doc_id")).crossJoin(broadcast(stats))
        .select(col("probe_id"), col("doc_id"),
          round(
            round(log((col("n") - col("df") + lit(0.5)) /
                (col("df") + lit(0.5)) + lit(1.0)), 6) *
              (col("tf") * lit(2.2)) /
              (col("tf") + lit(1.2) *
                (lit(0.25) + lit(0.75) * (col("dl") / col("avgdl")))),
            6).as("term_score"))
        .groupBy(col("probe_id"), col("doc_id"))
        .agg(sum(col("term_score").cast("decimal(20,6)"))
          .cast("double").as("bm25"))
      val probes = e.filter(col("vec_id") < Ann.RRF_PROBES)
        .select(col("vec_id").as("probe_id"), col("emb").as("p_emb"))
      val dot = "aggregate(zip_with(emb, p_emb, (x, y) -> " +
        "CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), CAST(0.0 AS DOUBLE), " +
        "(a, v) -> a + v)"
      def nrm(c: String) = s"sqrt(aggregate(zip_with($c, $c, (x, y) -> " +
        "CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), CAST(0.0 AS DOUBLE), " +
        "(a, v) -> a + v))"
      val batch = adf.crossJoin(broadcast(probes))
        .select(col("doc_id"), col("probe_id"),
          round(expr(
            s"$dot / nullif(${nrm("emb")} * ${nrm("p_emb")}, 0.0)"), 6)
            .as("dense_sim"))
        .join(sparseScores, Seq("probe_id", "doc_id"), "left")
        .select(col("doc_id"), col("probe_id"), col("dense_sim"),
          coalesce(col("bm25"), lit(0.0)).as("bm25"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) ->
          ((r.getDouble(2), r.getDouble(3)))).toMap
      assert(streamed.keySet === batch.keySet,
        "every (arrival, standing query) pair scored exactly once")
      streamed.foreach { case (k, (ds, bs, m)) =>
        val (bd, bb) = batch(k)
        assert(ds == bd, s"dense mismatch at $k: $ds vs $bd")
        assert(bs == bb, s"bm25 mismatch at $k: $bs vs $bb")
        assert(m == (ds >= StreamingJobs.HYBRID_TAU_DENSE ||
          bs >= StreamingJobs.HYBRID_TAU_BM25),
          s"matched flag inconsistent at $k")
      }
      // non-vacuity: both matched states and both arms exercised
      assert(streamed.values.exists(_._3) &&
        streamed.values.exists(!_._3),
        "fixture must produce matched AND unmatched pairs")
      assert(streamed.values.exists(v => v._2 > 0.0),
        "fixture must exercise the sparse arm")
    } finally q.stop()
  }

  test("streaming constraints: running violation totals fold exactly " +
      "across batches and alert the moment a contract breaks") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.lang.Long, Timestamp, String, Double)]
    val events = input.toDF()
      .toDF("event_id", "ts", "event_type", "value")
    val q = StreamingJobs.streamingConstraints(spark, events)
      .writeStream.format("memory").queryName("constraints_test")
      .outputMode("complete").start()
    try {
      def totals() = spark.table("constraints_test").collect()
        .map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
      // batch 1: clean
      input.addData(
        (1L, ts("2024-01-01 00:00:00"), "view", 1.0),
        (2L, ts("2024-01-01 00:01:00"), "click", 2.0))
      q.processAllAvailable()
      val t1 = totals()
      assert(t1.values.forall { case (n, v, p) => n == 2 && v == 0 && p })
      // batch 2: one violation per contract — the running totals must
      // fold batch 1's clean rows with batch 2's dirty ones
      input.addData(
        (null.asInstanceOf[java.lang.Long],
          ts("2024-01-01 00:02:00"), "view", 1.0),
        (4L, ts("2024-01-01 00:03:00"), "click", -5.0),
        (5L, ts("2031-01-01 00:00:00"), "view", 1.0))
      q.processAllAvailable()
      val t2 = totals()
      assert(t2("not_null") === ((5L, 1L, false)))
      assert(t2("value_range") === ((5L, 1L, false)))
      assert(t2("no_future_ts") === ((5L, 1L, false)))
    } finally q.stop()
  }

  test("streaming anomaly: closed days match batch w8's integer " +
      "thresholds across batches; the open day and late events follow " +
      "the stated contract") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Timestamp, Double)]
    val events = input.toDF().toDF("event_type", "ts", "value")
    val q = StreamingJobs.streamingAnomaly(spark, events)
      .writeStream.format("memory").queryName("anomaly_test")
      .outputMode("append").start()
    try {
      def rows() = spark.table("anomaly_test").collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          ((r.getLong(2), r.getLong(3), r.getLong(4), r.getString(5))))
        .toMap
      // batch 1: w8's planted shape, days 1-4 (day 4 opens, not closed)
      input.addData((1 to 3).map(i =>
        ("steps", ts(f"2024-03-0$i%01d 12:00:00"), 1.0)) :+
        (("steps", ts("2024-03-04 06:00:00"), 0.4)))
      q.processAllAvailable()
      val b1 = rows()
      assert(b1(("steps", "2024-03-01")) === ((1000000L, 0L, 0L,
        "warmup")))
      assert(b1(("steps", "2024-03-03"))._4 === "warmup")
      assert(!b1.contains(("steps", "2024-03-04")),
        "the open day must not emit until a later day closes it")
      // batch 2: the rest of day 4 (same-day accumulation across
      // batches), then the 10x spike day closes it; a LATE day-2 event
      // must be dropped from the baseline, not re-open day 2
      input.addData(
        ("steps", ts("2024-03-04 18:00:00"), 0.6),
        ("steps", ts("2024-03-02 23:00:00"), 99.0), // late: dropped
        ("steps", ts("2024-03-05 12:00:00"), 1.0),
        ("steps", ts("2024-03-06 12:00:00"), 1.0),
        ("steps", ts("2024-03-07 12:00:00"), 10.0),
        ("steps", ts("2024-03-08 12:00:00"), 0.1),
        ("steps", ts("2024-03-09 12:00:00"), 1.0))
      q.processAllAvailable()
      val b2 = rows()
      assert(b2(("steps", "2024-03-04")) === ((1000000L, 3L, 3000000L,
        "normal")), "day 4 must total ACROSS batches (0.4 + 0.6)")
      assert(b2(("steps", "2024-03-07")) === ((10000000L, 6L, 6000000L,
        "spike")), "the late day-2 event must not inflate the baseline")
      assert(b2(("steps", "2024-03-08")) === ((100000L, 7L, 16000000L,
        "drop")))
      assert(!b2.contains(("steps", "2024-03-09")), "day 9 stays open")
      assert(b2.keySet.map(_._2) ===
        (1 to 8).map(i => f"2024-03-0$i%01d").toSet)
    } finally q.stop()
  }

  test("streaming anomaly: a value with more than 6 fractional digits " +
      "rounds like batch w8's DECIMAL(18,6) cast instead of killing " +
      "the query") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Timestamp, Double)]
    val events = input.toDF().toDF("event_type", "ts", "value")
    val q = StreamingJobs.streamingAnomaly(spark, events)
      .writeStream.format("memory").queryName("anomaly_round_test")
      .outputMode("append").start()
    try {
      // 0.1234567's shortest decimal has 7 fractional digits — the
      // pre-fix toLongExact threw ArithmeticException here; batch w8's
      // DECIMAL(18,6) cast HALF_UP-rounds it to 0.123457
      input.addData(
        ("steps", ts("2024-03-01 12:00:00"), 0.1234567),
        ("steps", ts("2024-03-02 12:00:00"), 1.0))
      q.processAllAvailable()
      val rows = spark.table("anomaly_round_test").collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
        .toMap
      assert(rows(("steps", "2024-03-01")) === 123457L,
        "7-digit value must HALF_UP-round to 6 digits (w8 parity)")
    } finally q.stop()
  }

  test("streaming anomaly survives a mid-stream restart: the open " +
      "day's total and the closed-day baseline both resume from the " +
      "checkpoint") {
    val srcDir = java.nio.file.Files
      .createTempDirectory("graft-anom-src").toString
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-anom-ckpt").toString
    def land(rows: Seq[(String, Timestamp, Double)], name: String): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-anom-tmp")
      rows.toDF("event_type", "ts", "value").coalesce(1)
        .write.mode("overwrite").parquet(tmp.toString)
      val part = tmp.toFile.listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$srcDir/$name"))
    }
    // memory sink can't recover from a checkpoint; foreachBatch can —
    // fold emissions by (type, day), which absorbs a redelivered batch
    // (each closed day emits one status; re-emission overwrites with
    // the identical tuple)
    val emitted = scala.collection.concurrent.TrieMap
      .empty[(String, String), (Long, Long, Long, String)]
    def startQuery() = StreamingJobs.streamingAnomaly(spark,
      spark.readStream
        .schema("event_type STRING, ts TIMESTAMP, value DOUBLE")
        .parquet(srcDir))
      .writeStream
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[StreamingJobs.DayStatus],
            _: Long) =>
          batch.collect().foreach { s =>
            emitted((s.event_type, s.day)) =
              ((s.total_u, s.n_prev, s.base_sum_u, s.status))
          }
      }
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    // phase 1: the w8 fixture's days 1-3 plus HALF of day 4, then STOP
    // with day 4 open mid-accumulation
    land((1 to 3).map(i =>
      ("steps", ts(f"2024-03-0$i%01d 12:00:00"), 1.0)) :+
      (("steps", ts("2024-03-04 06:00:00"), 0.4)), "p1.parquet")
    val q1 = startQuery()
    q1.processAllAvailable(); q1.stop()
    assert(emitted.keySet.map(_._2) ===
      Set("2024-03-01", "2024-03-02", "2024-03-03"),
      "pre-restart: exactly days 1-3 closed")
    // phase 2: the REST of day 4 plus days 5-9 land while the query is
    // DOWN; restart from the same checkpoint. Day 4's total must fold
    // 0.4 (pre-restart state) + 0.6 (post-restart), and day 7's spike
    // threshold must see the FULL 6-day baseline — both only hold if
    // the GroupState resumed
    land(Seq(
      ("steps", ts("2024-03-04 18:00:00"), 0.6),
      ("steps", ts("2024-03-02 23:00:00"), 99.0), // late: dropped
      ("steps", ts("2024-03-05 12:00:00"), 1.0),
      ("steps", ts("2024-03-06 12:00:00"), 1.0),
      ("steps", ts("2024-03-07 12:00:00"), 10.0),
      ("steps", ts("2024-03-08 12:00:00"), 0.1),
      ("steps", ts("2024-03-09 12:00:00"), 1.0)), "p2.parquet")
    val q2 = startQuery()
    try {
      q2.processAllAvailable()
      assert(emitted(("steps", "2024-03-04")) ===
        ((1000000L, 3L, 3000000L, "normal")),
        "day 4 must total ACROSS the restart (0.4 + 0.6)")
      assert(emitted(("steps", "2024-03-07")) ===
        ((10000000L, 6L, 6000000L, "spike")),
        "day 7's baseline must include pre-restart closed days")
      assert(emitted(("steps", "2024-03-08")) ===
        ((100000L, 7L, 16000000L, "drop")))
      assert(emitted.keySet.map(_._2) ===
        (1 to 8).map(i => f"2024-03-0$i%01d").toSet,
        "day 9 stays open; the late day-2 event must not re-open day 2")
    } finally q2.stop()
  }

  test("streaming join-size estimate: per-depth inner products " +
      "maintain incrementally and min-bound the exact join size at " +
      "every cut") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.functions.Portable
    import graft.operators.LlmOps.{CM_W, CM_D}
    val standingSeq = Seq(1L, 1L, 1L, 2L, 3L, 3L, 7L)
    val b1 = Seq(1L, 3L, 9L)
    val b2 = Seq(1L, 1L, 5L, 3L)
    // driver replay: seeded cells + inner products per cumulative cut
    def cellsOf(keys: Seq[Long]): Map[(Int, Long), Long] =
      keys.flatMap(k => (0 until CM_D).map(i =>
        (i, Portable.h60Jvm(s"cm$i|$k") % CM_W)))
        .groupBy(identity).map { case (c, v) => c -> v.size.toLong }
    val sc = cellsOf(standingSeq)
    def ips(arr: Seq[Long]): Map[Int, Long] = {
      val ac = cellsOf(arr)
      (0 until CM_D).map(i => i ->
        ac.collect { case ((d0, b), n) if d0 == i =>
          n * sc.getOrElse((i, b), 0L) }.sum).toMap
    }
    def exact(arr: Seq[Long]): Long = {
      val sf0 = standingSeq.groupBy(identity)
      arr.groupBy(identity).map { case (k, v) =>
        sf0.get(k).map(_.size.toLong * v.size).getOrElse(0L) }.sum
    }
    val input = MemoryStream[Long]
    val q = StreamingJobs.streamingJoinSizeEstimate(spark,
      input.toDF().toDF("k"), standingSeq.toDF("k"))
      .writeStream.format("memory").queryName("joinsize_test")
      .outputMode("update").start()
    try {
      def cut(nKeys: Long): Map[Int, Long] =
        spark.table("joinsize_test").collect()
          .filter(_.getLong(1) == nKeys)
          .map(r => r.getInt(0) -> r.getLong(3)).toMap
      input.addData(b1: _*)
      q.processAllAvailable()
      val c1 = cut(b1.size.toLong)
      assert(c1 === ips(b1), "batch-1 per-depth ips must replay")
      assert(c1.values.min >= exact(b1),
        "estimate must bound the exact join size from above")
      input.addData(b2: _*)
      q.processAllAvailable()
      val all = b1 ++ b2
      val c2 = cut(all.size.toLong)
      assert(c2 === ips(all),
        "batch-2 state must FOLD batch 1 (incremental maintenance)")
      assert(c2.values.min >= exact(all))
      // non-vacuity: the estimate actually grew across batches and
      // the exact truth is non-trivial (real key overlap)
      assert(exact(all) > exact(b1) && exact(b1) > 0)
      assert(c2.values.min > c1.values.min)
    } finally q.stop()
  }

  /** Await until the query has consumed `totalIn` source rows (summed
    * over recentProgress) AND the batch that consumed them committed.
    * The margin miner's dedup state carries a processing-time TTL, and
    * under ProcessingTimeTimeout the stateful operator requests a new
    * batch after EVERY batch (timeouts may need firing), so the query
    * never quiesces and `processAllAvailable()` blocks forever — the
    * spec instead tracks source-level numInputRows, which counts even
    * the rows a downstream filter drops. Idle batches emit progress at
    * most every 10 s (noDataProgressEventInterval), so the 100-entry
    * recentProgress window cannot flood within a test's lifetime. */
  private def drainStream(
      q: org.apache.spark.sql.streaming.StreamingQuery,
      totalIn: Long): Unit = {
    val deadline = System.currentTimeMillis + 120000
    def consumed = q.recentProgress.map(_.numInputRows).sum
    while (consumed < totalIn && System.currentTimeMillis < deadline)
      Thread.sleep(100)
    assert(consumed >= totalIn,
      s"stream consumed $consumed of $totalIn input rows before timeout")
  }

  test("streaming bloom gate: arrivals are killed map-side by the " +
      "frozen dim filter before the confirm join — dispositions " +
      "replay batch x20's arithmetic, no false negative ever emits") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.functions.Portable
    import graft.operators.LlmOps.{BLOOM_M, BLOOM_K}
    val dimKeys = (100L to 163L).toSeq // 64 dim members
    val arrivals = (100L to 131L) ++ (5000L to 5199L) // 32 hits + 200 misses
    val bits = dimKeys.flatMap(k => (0 until BLOOM_K).map(j =>
      (Portable.h60Jvm(s"xj$j|$k") % BLOOM_M).toInt)).toSet
    val expected = arrivals.map { k =>
      val pass = (0 until BLOOM_K).forall(j =>
        bits((Portable.h60Jvm(s"xj$j|$k") % BLOOM_M).toInt))
      val inDim = dimKeys.contains(k)
      k -> (if (pass && inDim) "confirmed"
            else if (pass) "false_pos" else "rejected")
    }.toMap
    val input = MemoryStream[Long]
    val q = StreamingJobs.streamingBloomGate(spark,
        input.toDF().toDF("k"), dimKeys.toDF("k"))
      .writeStream.format("memory").queryName("bloomgate_test")
      .outputMode("append").start()
    try {
      input.addData(arrivals: _*)
      q.processAllAvailable()
      val got = spark.table("bloomgate_test").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got === expected,
        "streamed dispositions must equal the batch-arithmetic replay")
      // non-vacuity + contract: every dim hit confirmed, nothing
      // leaked past the gate, and the gate genuinely rejects
      assert(!got.values.exists(_ == "false_neg_bug"))
      assert(got.count(_._2 == "confirmed") === 32)
      assert(got.count(_._2 == "rejected") > 150,
        "gate must kill the vast majority of non-matching arrivals")
    } finally q.stop()
  }

  test("streaming set-op estimates: the arrival KMV sketch maintains " +
      "incrementally and every cut replays x21's algebra against the " +
      "frozen standing sketch") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.functions.Portable
    import graft.operators.Extended.{X21_K, X21_H}
    val standingKeys = (1000L to 1199L).toSeq // 200 > K: formula path
    val b1 = (1L to 40L).toSeq                // cut 1: sketch < K, exact
    val b2 = (41L to 70L) ++ (1000L to 1099L) // 30 new + 100 overlap
    def h(k: Long): Long = Portable.h60Jvm("x21|" + k)
    def bottomK(s: Set[Long]): Seq[Long] = s.toSeq.sorted.take(X21_K)
    def est(sk: Seq[Long]): Long =
      if (sk.size < X21_K) sk.size.toLong
      else (BigInt(X21_K - 1) * X21_H / sk.max).toLong
    def eff(sk: Seq[Long]): Long = if (sk.size < X21_K) X21_H else sk.max
    val sks = bottomK(standingKeys.map(h).toSet)
    def expect(cum: Seq[Long]): (Long, Long, Long, Long) = {
      val arr = bottomK(cum.map(h).toSet)
      val union = bottomK((arr ++ sks).toSet)
      val theta = math.min(eff(arr), eff(sks))
      val c = arr.toSet.intersect(sks.toSet).count(_ < theta)
      (est(arr), est(union), (BigInt(c) * X21_H / theta).toLong,
        math.max(est(union) - est(sks), 0L))
    }
    val input = MemoryStream[Long]
    // the state task must never be the stream's funnel (VERDICT r19
    // #4): the plan carries a stateless per-partition bottom-K
    // MapPartitions BELOW the single-group state fold, so the shuffle
    // into the state task moves one (count, <=K hashes) tuple per
    // partition, not the arrival rows
    val lp = StreamingJobs.streamingSetopsEstimate(spark,
        input.toDF().toDF("k"), standingKeys.toDF("k"))
      .queryExecution.analyzed.toString
    val iState = lp.indexOf("FlatMapGroupsWithState")
    val iShrink = lp.indexOf("MapPartitions")
    assert(iState >= 0 && iShrink > iState,
      s"expected the map-side pre-shrink below the state fold:\n$lp")
    val q = StreamingJobs.streamingSetopsEstimate(spark,
        input.toDF().toDF("k"), standingKeys.toDF("k"))
      .writeStream.format("memory").queryName("setops_test")
      .outputMode("update").start()
    try {
      def cut(nSeen: Long): (Long, Long, Long, Long) = {
        val r = spark.table("setops_test").collect()
          .filter(_.getLong(0) == nSeen).head
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      }
      input.addData(b1: _*)
      q.processAllAvailable()
      assert(cut(b1.size.toLong) === expect(b1),
        "cut 1 (sketch < K: exact degradation) must replay")
      input.addData(b2: _*)
      q.processAllAvailable()
      val exp2 = expect(b1 ++ b2)
      assert(cut((b1.size + b2.size).toLong) === exp2,
        "cut 2 must FOLD cut 1's sketch (incremental maintenance)")
      // non-vacuity: cut 2 runs the real formula path, detects the
      // planted overlap, and reports genuinely new mass
      assert((b1 ++ b2).distinct.size >= X21_K)
      assert(exp2._3 > 0, "theta intersection must see the overlap")
      assert(exp2._4 > 0, "new-mass estimate must be positive")
    } finally q.stop()
  }

  test("streaming margin mining: arrivals mine against the frozen " +
      "standing index — verdicts replay driver-side, re-deliveries " +
      "emit nothing, displacement reads the standing best") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dim = 64
    def vec(odd: Map[Int, Float]): Array[Float] = {
      val a = new Array[Float](dim)
      for (j <- 1 until dim by 2) a(j) = 0.5f
      odd.foreach { case (i, v) => a(i) = v }
      a
    }
    // standing corpus: anchors A = {0,2,4,6}, one standing B doc (1) —
    // so every anchor has frozen stats of exactly its (a,1) candidate
    val standingRows = Seq(
      0L -> vec(Map(0 -> 1.0f)),
      1L -> vec(Map(0 -> 1.0f)),
      2L -> vec(Map(2 -> 0.7f, 4 -> 0.7f)),
      4L -> vec(Map(4 -> 1.0f)),
      6L -> vec(Map(0 -> 0.9f)))
    val arrivalRows = Map(
      3L -> vec(Map(2 -> 1.0f)),  // courts anchor 2
      5L -> vec(Map(4 -> 1.0f)))  // identical to anchor 4
    val standing = standingRows.toDF("vec_id", "embedding")
    def simU(a: Array[Float], b: Array[Float]): Long = {
      def dot(x: Array[Float], y: Array[Float]): Double =
        (0 until dim).foldLeft(0.0)((acc, i) =>
          acc + x(i).toDouble * y(i).toDouble)
      val c = dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
      BigDecimal(c * 1e6)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    }
    val emb = standingRows.toMap
    val as = Seq(0L, 2L, 4L, 6L)
    // frozen per-anchor artifacts: kNN stats + standing best over the
    // standing B side (just doc 1)
    val frozen = as.map { a =>
      val s0 = simU(emb(a), emb(1L))
      a -> ((s0, 1L, s0)) // (sum_a_u, n_a, a_best_u)
    }.toMap
    val expected = arrivalRows.map { case (b, be) =>
      val cs = as.map(a => (a, simU(emb(a), be)))
        .sortBy { case (a, s0) => (-s0, a) }
      val (aId, s0) = cs.head
      val top = cs.take(4)
      val (sumB, nB) = (top.map(_._2).sum, top.size.toLong)
      val (sumA, nA, aBest) = frozen(aId)
      b -> ((aId, s0, nB, sumB, nA, sumA,
        40L * s0 * nA * nB > 21L * (sumA * nB + sumB * nA),
        s0 > aBest))
    }
    val input = MemoryStream[(Long, Array[Float])]
    val events = input.toDF().toDF("vec_id", "embedding")
    val q = StreamingJobs.streamingMarginMining(spark, events, standing)
      .writeStream.format("memory").queryName("margin_test")
      .outputMode("append").start()
    try {
      def rows() = spark.table("margin_test").collect()
        .map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
            r.getLong(5), r.getLong(6), r.getBoolean(7),
            r.getBoolean(8))))
      input.addData(3L -> arrivalRows(3L))
      drainStream(q, 1)
      assert(rows().length === 1, "one mined row per arrival")
      // batch 2: a new arrival plus a RE-DELIVERY of 3 — the state
      // boolean must swallow the duplicate
      input.addData(5L -> arrivalRows(5L), 3L -> arrivalRows(3L))
      drainStream(q, 3)
      val got = rows()
      assert(got.length === 2, "re-delivered arrival must emit nothing")
      assert(got.toMap === expected,
        "streamed verdicts must equal the driver replay")
      // non-vacuity: the fixture exercises displacement (5 beats 4's
      // standing best) and a genuine margin verdict on both arrivals
      assert(expected(5L)._8, "arrival 5 must displace anchor 4's best")
      // batch 3: an EVEN id on the arrival stream is corpus-side
      // content, not a B-side candidate — the parity contract batch
      // a31 enforces on its join must drop it before banding
      input.addData(8L -> arrivalRows(3L))
      drainStream(q, 4)
      assert(rows().length === 2,
        "even-id arrival must be dropped by the B-side parity filter")
    } finally q.stop()
  }

  test("streaming near-dup ROUTING == batch d17 row-for-row: arrivals " +
      "route dup_of_history/dup_in_batch/new live against the frozen " +
      "signature/band artifacts, with cross-batch in-stream election") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // planted lake: standing docs (id % 4 != 0) + arrival docs
    // (id % 4 == 0) in ONE documents.parquet so batch d17 runs on the
    // exact corpus the stream replays
    val standingRows = Seq(
      1L -> "alpha beta gamma delta epsilon zeta",
      2L -> "one two three four five six",
      3L -> "completely different standing content here now",
      5L -> "yet another unrelated standing document text")
    val arrivalRows = Seq(
      4L -> "alpha beta gamma delta epsilon zeta", // = standing 1
      8L -> "one two three four five six seven",   // fuzzy vs standing 2
      12L -> "brand new shared payload among arrivals only",
      16L -> "brand new shared payload among arrivals only", // = 12
      20L -> "singleton text matching absolutely nobody at all")
    val dir = java.nio.file.Files
      .createTempDirectory("graft-d17-stream").toString
    (standingRows ++ arrivalRows).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val truth = operators.LlmOps.d17IncrementalNeardup.fn(spark, dir)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    // non-vacuity before anything streams: all three routes exist in
    // the planted truth, and the in-batch pair elected min-id owner
    assert(truth.values.map(_._1).toSet ===
      Set("dup_of_history", "dup_in_batch", "new"))
    assert(truth(16L) === (("dup_in_batch", 12L, 8L)),
      "identical in-batch pair must elect the min-id owner with full " +
        "signature agreement")
    assert(truth(4L)._1 === "dup_of_history" && truth(4L)._2 === 1L)
    val input = MemoryStream[(Long, String)]
    val q = StreamingJobs.streamingNeardupRouting(spark,
        input.toDF().toDF("doc_id", "text"),
        standingRows.toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("d17_route")
      .outputMode("append").start()
    try {
      // id order across batches (the documented parity condition);
      // 16's in-stream partner 12 arrived in the PREVIOUS micro-batch,
      // so the election crosses checkpointed bucket state. Append mode
      // + drainStream: the TTL'd stateful stages never quiesce under
      // processAllAvailable (shouldRunAnotherBatch is always true).
      // the arrival source is self-unioned (candidates + self rows),
      // so numInputRows can multi-count — wait on the SINK too: every
      // arrival emits exactly one verdict row
      def awaitVerdicts(n: Long): Unit = {
        val deadline = System.currentTimeMillis + 120000
        while (spark.table("d17_route").count() < n &&
          System.currentTimeMillis < deadline) Thread.sleep(100)
      }
      input.addData(4L -> arrivalRows(0)._2, 8L -> arrivalRows(1)._2,
        12L -> arrivalRows(2)._2)
      drainStream(q, 3)
      awaitVerdicts(3)
      input.addData(16L -> arrivalRows(3)._2, 20L -> arrivalRows(4)._2)
      drainStream(q, 5)
      awaitVerdicts(5)
      val got = spark.table("d17_route").collect()
        .map(r => r.getLong(0) ->
          ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
      assert(got === truth,
        "streamed routing must equal batch d17 row-for-row")
      assert(got.size === spark.table("d17_route").count(),
        "each arrival must emit exactly one verdict row")
    } finally q.stop()
  }

  test("streaming margin mining, stat-less anchors: a standing corpus " +
      "with no B side falls back to the arrival-side-only margin; a " +
      "sole-candidate pair stays rejected but displaces") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dim = 64
    def vec(hot: Map[Int, Float]): Array[Float] = {
      val a = new Array[Float](dim)
      for (j <- 1 until dim by 2) a(j) = 0.5f
      hot.foreach { case (i, v) => a(i) = v }
      a
    }
    def simU(a: Array[Float], b: Array[Float]): Long = {
      def dot(x: Array[Float], y: Array[Float]): Double =
        (0 until dim).foldLeft(0.0)((acc, i) =>
          acc + x(i).toDouble * y(i).toDouble)
      val c = dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
      BigDecimal(c * 1e6)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    }
    // phase A: three anchors, ZERO standing B docs — every anchor is
    // stat-less (n_a = 0). The shared 0.5-odd baseline keeps all
    // vectors in the same d4 band buckets, so an arrival courts all
    // three and its own top-K neighborhood is non-trivial.
    val anchorsA = Map(
      0L -> vec(Map(0 -> 1.0f)),
      2L -> vec(Map(2 -> 1.0f)),
      4L -> vec(Map(4 -> 1.0f)))
    val arrival = vec(Map(0 -> 1.0f)) // identical to anchor 0
    val inA = MemoryStream[(Long, Array[Float])]
    val qA = StreamingJobs.streamingMarginMining(spark,
        inA.toDF().toDF("vec_id", "embedding"),
        anchorsA.toSeq.toDF("vec_id", "embedding"))
      .writeStream.format("memory").queryName("margin_statless_a")
      .outputMode("append").start()
    try {
      inA.addData(3L -> arrival)
      drainStream(qA, 1)
      val got = spark.table("margin_statless_a").collect()
      assert(got.length === 1)
      val r = got.head
      // driver replay of the fallback: top-K = the three candidates,
      // 20*sim*nB > 21*sumB (arrival-side-only 1.05 margin)
      val sims = Seq(0L, 2L, 4L).map(a => (a, simU(anchorsA(a), arrival)))
        .sortBy { case (a, s0) => (-s0, a) }
      val (sumB, nB) = (sims.map(_._2).sum, sims.size.toLong)
      val acceptExp = 20L * sims.head._2 * nB > 21L * sumB
      assert(r.getLong(1) === 0L, "best anchor is the identical one")
      assert(r.getLong(5) === 0L, "anchor must be stat-less (n_a=0)")
      assert(r.getBoolean(7) === acceptExp,
        "fallback verdict must equal the replay")
      assert(acceptExp,
        "non-vacuity: the fallback must be able to ACCEPT (the old " +
          "two-sided test structurally rejected every stat-less anchor)")
      assert(r.getBoolean(8), "stat-less anchor is always displaced")
    } finally qA.stop()
    // phase B: ONE stat-less anchor — the arrival's sole candidate has
    // avg_B = sim, margin exactly 1.0 < 1.05: rejected by design, but
    // the displacement (rebuild) signal still fires
    val inB = MemoryStream[(Long, Array[Float])]
    val qB = StreamingJobs.streamingMarginMining(spark,
        inB.toDF().toDF("vec_id", "embedding"),
        Seq(0L -> vec(Map(0 -> 1.0f))).toDF("vec_id", "embedding"))
      .writeStream.format("memory").queryName("margin_statless_b")
      .outputMode("append").start()
    try {
      inB.addData(3L -> vec(Map(0 -> 1.0f)))
      drainStream(qB, 1)
      val got = spark.table("margin_statless_b").collect()
      assert(got.length === 1)
      assert(!got.head.getBoolean(7),
        "sole-candidate stat-less pair carries no margin evidence")
      assert(got.head.getBoolean(8), "…but still displaces")
    } finally qB.stop()
  }

  test("streaming constraints survive a mid-stream restart: running " +
      "violation totals fold across the checkpoint") {
    val srcDir = java.nio.file.Files
      .createTempDirectory("graft-cons-src").toString
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-cons-ckpt").toString
    def land(rows: Seq[(java.lang.Long, Timestamp, String, Double)],
        name: String): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-cons-tmp")
      rows.toDF("event_id", "ts", "event_type", "value").coalesce(1)
        .write.mode("overwrite").parquet(tmp.toString)
      val part = tmp.toFile.listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$srcDir/$name"))
    }
    // complete mode re-emits every contract's running total per batch;
    // overwrite-fold keeps the latest, which a redelivered batch
    // reproduces identically
    val latest = scala.collection.concurrent.TrieMap
      .empty[String, (Long, Long, Boolean)]
    def startQuery() = StreamingJobs.streamingConstraints(spark,
      spark.readStream
        .schema("event_id LONG, ts TIMESTAMP, event_type STRING, " +
          "value DOUBLE")
        .parquet(srcDir))
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.collect().foreach { r =>
          latest(r.getString(0)) =
            ((r.getLong(1), r.getLong(2), r.getBoolean(3)))
        }
      }
      .option("checkpointLocation", ckpt)
      .outputMode("complete").start()
    // phase 1: two clean rows, STOP
    land(Seq(
      (1L: java.lang.Long, ts("2024-01-01 00:00:00"), "view", 1.0),
      (2L: java.lang.Long, ts("2024-01-01 00:01:00"), "click", 2.0)),
      "p1.parquet")
    val q1 = startQuery()
    q1.processAllAvailable(); q1.stop()
    assert(latest.values.forall { case (n, v, p) => n == 2 && v == 0 && p },
      "pre-restart: 2 checked, 0 violations per contract")
    // phase 2: one violation per contract lands while the query is
    // DOWN; restart — totals must fold phase 1's clean rows with phase
    // 2's dirty ones (5 checked, 1 violation), which only holds if the
    // aggregation state resumed
    land(Seq(
      (null.asInstanceOf[java.lang.Long],
        ts("2024-01-01 00:02:00"), "view", 1.0),
      (4L: java.lang.Long, ts("2024-01-01 00:03:00"), "click", -5.0),
      (5L: java.lang.Long, ts("2031-01-01 00:00:00"), "view", 1.0)),
      "p2.parquet")
    val q2 = startQuery()
    try {
      q2.processAllAvailable()
      assert(latest("not_null") === ((5L, 1L, false)))
      assert(latest("value_range") === ((5L, 1L, false)))
      assert(latest("no_future_ts") === ((5L, 1L, false)))
    } finally q2.stop()
  }

  test("streaming funnel: in-order parity with batch w5, monotone " +
      "refinement, freeze-on-anchor, and the documented lost-candidate " +
      "divergence") {
    implicit val sqlCtx = spark.sqlContext
    def us(s: String) = ts(s).getTime * 1000L
    val input = MemoryStream[(Long, String, Timestamp)]
    val events = input.toDF().toDF("user_id", "event_type", "ts")
    val q = StreamingJobs.streamingFunnel(spark, events)
      .writeStream.format("memory").queryName("funnel_test")
      .outputMode("update").start()
    try {
      // batch 1: the w5 planted fixture delivered in-order — users 1
      // (full funnel), 2 (click precedes first view: stops at 1), 3
      // (no purchase: stops at 2), 4 (purchase only: step 0); plus the
      // cross-batch users' openers
      input.addData(
        (1L, "view", ts("2024-03-01 00:00:00")),
        (1L, "click", ts("2024-03-01 00:10:00")),
        (1L, "purchase", ts("2024-03-01 00:30:00")),
        (2L, "click", ts("2024-03-01 00:01:00")),
        (2L, "view", ts("2024-03-01 00:05:00")),
        (2L, "purchase", ts("2024-03-01 00:06:00")),
        (3L, "view", ts("2024-03-01 00:00:00")),
        (3L, "click", ts("2024-03-01 00:05:00")),
        (4L, "purchase", ts("2024-03-01 00:02:00")),
        (11L, "click", ts("2024-03-01 00:20:00")),
        (12L, "view", ts("2024-03-01 00:10:00")),
        (12L, "click", ts("2024-03-01 00:20:00")),
        (13L, "view", ts("2024-03-01 00:01:00")),
        (13L, "click", ts("2024-03-01 00:02:00")),
        (13L, "purchase", ts("2024-03-01 00:10:00")))
      q.processAllAvailable()
      def rows() = spark.table("funnel_test").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
          r.getLong(3), r.getLong(4)))
      val b1 = rows().map(r => r._1 -> r).toMap
      // in-order single-batch delivery == batch w5's strict sequencing
      assert(b1(1L) === ((1L, 3, us("2024-03-01 00:00:00"),
        us("2024-03-01 00:10:00"), us("2024-03-01 00:30:00"))))
      assert(b1(2L)._2 === 1, "pre-view click must not convert")
      assert(b1(3L)._2 === 2)
      assert(b1(4L)._2 === 0)
      // batch 2: the cross-batch contracts
      input.addData(
        // user 11: its click arrived BEFORE any view anchored and is
        // gone — the documented lost-candidate divergence (batch truth
        // would say step 2)
        (11L, "view", ts("2024-03-01 00:10:00")),
        // user 12: t2 already anchored — an earlier view cannot
        // re-open it (t1 frozen)
        (12L, "view", ts("2024-03-01 00:05:00")),
        // user 13: a late purchase still after t2 refines t3 downward
        (13L, "purchase", ts("2024-03-01 00:05:00")))
      q.processAllAvailable()
      val all = rows()
      val b2 = all.groupBy(_._1).view
        .mapValues(_.maxBy(r => (r._2, -r._5))).toMap
      assert(b2(11L)._2 === 1,
        "lost pre-anchor candidate: stream stays at step 1 by contract")
      assert(all.filter(_._1 === 12L).forall(
        _._3 === us("2024-03-01 00:10:00")),
        "t1 must stay frozen once t2 anchored")
      assert(all.filter(_._1 === 13L).map(_._5).min ===
        us("2024-03-01 00:05:00"),
        "a later-arriving earlier purchase (still after t2) refines t3")
    } finally q.stop()
  }
}
