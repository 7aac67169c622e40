package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.time.Instant

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
import org.json4s._

import graft.Tables
import graft.streaming.StreamingJobs

/** The lake's landing stream, run as one step of a batch pass. The events
  * table is cut, in event-time order, into seeded slices staged once per
  * run as Parquet files. Each run of the step starts
  * `StreamingJobs.eventsFileStream` feeding `tumblingCounts` and
  * `dedupEvents`, each with a checkpointed Parquet sink, then a generator
  * thread lands the slices into the watched directory on a seeded
  * schedule whether or not the streams keep up (an open loop), and the
  * step ends when both streams have read every landed row. After the timed
  * passes, every sink is compared with its job run as a batch. */
final class StreamLanding(spark: SparkSession, data: String, root: Path,
    cuts: Seq[Double], dueOffsets: Seq[Double]) {
  import StreamLanding._

  private val progress = new ProgressLog
  spark.streams.addListener(progress)
  private val staged = stage(spark, data, cuts, root.resolve("staged"))
  private val landed = mutable.ListBuffer.empty[(String, Path)]

  /** One run of the step, writing under its own directory `tag`. */
  def step(tag: String): Step = new Step {
    private val dir = root.resolve(tag)
    private val landing = Files.createDirectories(dir.resolve("landing"))
    private var frames = Seq.empty[(String, DataFrame)]

    def construct(): Unit = {
      val events = StreamingJobs.eventsFileStream(spark, landing.toString)
      frames = Jobs.map { case (name, job) => name -> job(events) }
    }

    /** Streams plan each micro-batch as it runs, inside [[exec]]. */
    def plan(): Unit = ()

    def exec(): List[JField] = {
      // micro-batch jobs inherit the local properties of the thread that
      // starts the query, so they are attributed to the exec span
      val queries = frames.map { case (name, df) =>
        name -> df.writeStream.queryName(s"$tag-$name").format("parquet")
          .option("path", dir.resolve(s"sink-$name").toString)
          .option("checkpointLocation", dir.resolve(s"ckpt-$name").toString)
          .outputMode("append").start()
      }
      val pending = Files.createDirectories(dir.resolve("pending"))
      val names = staged.indices.map(i => f"slice-$i%03d.parquet")
      staged.zip(names).foreach { case ((f, _), name) =>
        Files.copy(f, pending.resolve(name), StandardCopyOption.REPLACE_EXISTING)
      }
      val t0 = System.currentTimeMillis() + 50
      val due = dueOffsets.map(o => t0 + math.round(o * 1000))
      val landedMs = new Array[Long](names.size)
      val generator = new Thread(() => names.indices.foreach { i =>
        val wait = due(i) - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        Files.move(pending.resolve(names(i)), landing.resolve(names(i)),
          StandardCopyOption.ATOMIC_MOVE)
        landedMs(i) = System.currentTimeMillis()
      })
      generator.start()
      generator.join()
      val error = try awaitRows(queries, progress, staged.map(_._2).sum)
        finally queries.foreach(_._2.stop())
      error.foreach(e => throw new IllegalStateException(e))
      landed += tag -> dir
      List(
        "rows" -> JLong(staged.map(_._2).sum),
        "files" -> JArray(names.indices.toList.map(i => JObject(
          "name" -> JString(names(i)), "due_ms" -> JLong(due(i)),
          "landed_ms" -> JLong(landedMs(i))))),
        "streams" -> JObject(queries.toList.map { case (name, _) =>
          name -> JObject(
            "checkpoint" -> JString(dir.resolve(s"ckpt-$name").toString),
            "progress" -> JArray(progress.of(s"$tag-$name").map(_.json).toList))
        }))
    }
  }

  /** Every landed step's sinks against their batch twins, each twin run
    * once over the whole table. dedup must match its twin's fingerprint.
    * tumbling may only emit windows the twin has, each once, and must have
    * emitted every window that ends before the step's final watermark. */
  def checks(): JValue = {
    spark.streams.removeListener(progress)
    val events = Tables.events(spark, data)
    val dedupWant = Fingerprint.materialize(events.dropDuplicates("event_id"),
      hashRows = true)
    val windows = StreamingJobs.tumblingCounts(events).collect().map(windowKey)
    val want = windows.toSet
    JObject(landed.toList.map { case (tag, dir) =>
      def sink(name: String) = spark.read.parquet(dir.resolve(s"sink-$name").toString)
      val dedup = Fingerprint.materialize(sink("dedup"), hashRows = true)
      val got = sink("tumbling").collect().map(windowKey)
      val gotSet = got.toSet
      val watermark = progress.of(s"$tag-tumbling").map(_.watermarkMs).max
      val extra = got.length - gotSet.size + got.count(r => !want(r))
      val missing = windows.count(w => w._1 + WindowMs < watermark && !gotSet(w))
      tag -> JObject(
        "dedup" -> JObject("ok" -> JBool(dedup == dedupWant),
          "rows" -> JLong(dedup.rows), "want_rows" -> JLong(dedupWant.rows)),
        "tumbling" -> JObject("ok" -> JBool(extra == 0 && missing == 0),
          "rows" -> JLong(got.length), "extra" -> JLong(extra),
          "missing" -> JLong(missing), "watermark_ms" -> JLong(watermark)))
    })
  }
}

object StreamLanding {
  private val Jobs: Seq[(String, DataFrame => DataFrame)] = Seq(
    "tumbling" -> StreamingJobs.tumblingCounts,
    "dedup" -> StreamingJobs.dedupEvents)

  /** Cuts the events table into slices at the given fractions of its rows
    * in (ts, event_id) order and writes one Parquet file per slice. The
    * slices carry `ts` as TIMESTAMP_NTZ, the shape the engine's file-stream
    * reader assumes for a landing directory that starts empty. */
  private def stage(spark: SparkSession, data: String, cuts: Seq[Double],
      dir: Path): Seq[(Path, Long)] = {
    val events = Tables.events(spark, data)
    val n = events.count()
    val bounds = cuts.map(f => (f * n).toLong)
    val slice = bounds.zipWithIndex.foldRight(lit(bounds.size)) {
      case ((b, i), rest) => when(col("rn") < b, lit(i)).otherwise(rest)
    }
    events
      .withColumn("rn", row_number().over(Window.orderBy("ts", "event_id")) - 1)
      .withColumn("slice", slice).drop("rn")
      .withColumn("ts", col("ts").cast("timestamp_ntz"))
      .repartition(col("slice"))
      .write.mode("overwrite").partitionBy("slice").parquet(dir.toString)
    val rows = (0L +: bounds :+ n).sliding(2).map(w => w(1) - w(0)).toSeq
    rows.indices.map { i =>
      val files = Files.list(dir.resolve(s"slice=$i"))
      try (files.iterator().asScala.filter(_.getFileName.toString.startsWith("part-"))
        .toList match {
          case List(f) => f
          case other => throw new IllegalStateException(
            s"slice $i staged as ${other.size} files")
        }, rows(i))
      finally files.close()
    }
  }

  /** Waits until every query has read all landed rows; returns the first
    * query failure, if any. */
  private def awaitRows(queries: Seq[(String, StreamingQuery)],
      progress: ProgressLog, total: Long): Option[String] = {
    val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
    def pending = queries.filter { case (_, q) =>
      progress.of(q.name).map(_.inputRows).sum < total }
    while (pending.nonEmpty) {
      queries.flatMap(_._2.exception).headOption.foreach(e => return Some(e.toString))
      if (System.nanoTime() > deadline)
        return Some(s"timed out waiting for ${pending.map(_._1).mkString(", ")}")
      Thread.sleep(5)
    }
    None
  }

  private val WindowMs = 5 * 60 * 1000L

  /** (window start ms, event type, count, sum) of a tumblingCounts row. */
  private def windowKey(r: org.apache.spark.sql.Row) =
    (r.getAs[java.sql.Timestamp]("w_start").getTime, r.getAs[String]("event_type"),
      r.getAs[Long]("n"), r.getAs[Double]("sum_value"))
}

/** Micro-batch progress of every stream, in arrival order. */
final class ProgressLog extends StreamingQueryListener {
  import ProgressLog.Batch
  private val batches = mutable.Map.empty[String, mutable.ArrayBuffer[Batch]]

  def of(name: String): Seq[Batch] = synchronized {
    batches.get(name).map(_.toList).getOrElse(Nil)
  }

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val state = p.stateOperators.toSeq
    val b = Batch(p.batchId, Instant.parse(p.timestamp).toEpochMilli,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      p.numInputRows,
      Option(p.eventTime.get("watermark")).map(Instant.parse(_).toEpochMilli)
        .getOrElse(0L),
      state.map(_.numRowsTotal).sum, state.map(_.memoryUsedBytes).sum)
    synchronized { batches.getOrElseUpdate(p.name, mutable.ArrayBuffer.empty) += b }
  }
}

object ProgressLog {
  final case class Batch(id: Long, startMs: Long, durationsMs: Map[String, Long],
      inputRows: Long, watermarkMs: Long, stateRows: Long, stateBytes: Long) {
    def json: JValue = JObject(
      "batch" -> JLong(id), "start_ms" -> JLong(startMs),
      "durations_ms" -> JObject(durationsMs.toList.sortBy(_._1)
        .map { case (k, v) => k -> JLong(v) }),
      "input_rows" -> JLong(inputRows), "watermark_ms" -> JLong(watermarkMs),
      "state_rows" -> JLong(stateRows), "state_bytes" -> JLong(stateBytes))
  }
}
