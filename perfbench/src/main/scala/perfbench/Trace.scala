package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.json4s._

/** Spans recorded around the benchmark's calls into the engine. Each
  * span has an id, a parent, a name and start/end times on the run's own
  * clock. While a traced span is open, its id is the Spark local property
  * [[Tracer.Key]], so every job the call submits is attributed to it by
  * [[SpanListener]]. An untraced tracer only times the calls. */
final class Tracer(sc: SparkContext, origin: Long) {
  import Tracer._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  var on = false

  /** Runs `body` inside a span; `body` receives the span's id. */
  def span[T](name: String, parent: Int)(body: Int => T): T = {
    val id = nextId
    nextId += 1
    val outer = sc.getLocalProperty(Key)
    if (on) sc.setLocalProperty(Key, id.toString)
    val t0 = System.nanoTime()
    try body(id)
    finally {
      if (on) {
        spans += Span(id, parent, name, t0 - origin, System.nanoTime() - origin)
        sc.setLocalProperty(Key, outer)
      }
    }
  }

  def json: JValue = JArray(spans.toList.map(s => JObject(
    "id" -> JInt(s.id), "parent" -> JInt(s.parent), "name" -> JString(s.name),
    "start" -> JDouble(s.start / 1e9), "end" -> JDouble(s.end / 1e9))))
}

object Tracer {
  val Key = "perfbench.span"
  final case class Span(id: Int, parent: Int, name: String, start: Long, end: Long)
}

/** Per-span Spark counters, summed over the tasks of the jobs a span
  * submitted. */
final class Counters {
  var jobs, tasks, taskMs, gcMs, inputBytes, shuffleRead, shuffleWrite,
    spillBytes, outBytes, outRecords: Long = 0L

  def json: JValue = JObject(
    "jobs" -> JLong(jobs), "tasks" -> JLong(tasks), "task_ms" -> JLong(taskMs),
    "gc_ms" -> JLong(gcMs), "input_bytes" -> JLong(inputBytes),
    "shuffle_read" -> JLong(shuffleRead), "shuffle_write" -> JLong(shuffleWrite),
    "spill_bytes" -> JLong(spillBytes), "out_bytes" -> JLong(outBytes),
    "out_records" -> JLong(outRecords))
}

/** Attributes Spark jobs and tasks to the span that was open when the job
  * was submitted (the [[Tracer.Key]] local property). Listener events
  * arrive asynchronously; [[drain]] waits until every event posted before
  * it has been seen. */
final class SpanListener extends SparkListener {
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val bySpan = mutable.Map.empty[Int, Counters]
  private val markerJobs = mutable.Set.empty[Int]
  private var markersDone = 0
  private var markersRun = 0

  private def counters(span: Int) = bySpan.getOrElseUpdate(span, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Key)))
      .map(_.toInt).foreach { span =>
        if (span == SpanListener.Marker) markerJobs += e.jobId
        else {
          e.stageIds.foreach(stageSpan(_) = span)
          counters(span).jobs += 1
        }
      }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    if (markerJobs.remove(e.jobId)) markersDone += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (span <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
      val c = counters(span)
      c.tasks += 1
      c.taskMs += m.executorRunTime
      c.gcMs += m.jvmGCTime
      c.inputBytes += m.inputMetrics.bytesRead
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      c.outBytes += m.outputMetrics.bytesWritten
      c.outRecords += m.outputMetrics.recordsWritten
    }
  }

  /** Runs a one-task marker job and waits until the listener has seen it
    * end: the bus delivers a queue's events in order, so every job and
    * task event posted before the marker has been counted. */
  def drain(sc: SparkContext): Unit = {
    val outer = sc.getLocalProperty(Tracer.Key)
    sc.setLocalProperty(Tracer.Key, SpanListener.Marker.toString)
    val target = synchronized { markersRun += 1; markersRun }
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(Tracer.Key, outer)
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (synchronized(markersDone) < target) {
      require(System.nanoTime() < deadline, "Spark listener bus did not drain")
      Thread.sleep(2)
    }
  }

  def json: JValue = synchronized {
    JObject(bySpan.toList.sortBy(_._1).map { case (k, c) => k.toString -> c.json })
  }
}

object SpanListener {
  val Marker: Int = -1
}
