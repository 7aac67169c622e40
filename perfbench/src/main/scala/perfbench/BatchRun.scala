package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.json4s._

import graft.operators.LlmOps
import graft.sources.rest.RestFetchRuntime

/** A batch workload: a closed loop with one client. Each query is built
  * (construct), planned, fully materialized and released before the next
  * one starts. Untimed passes (the first use, then JIT warm-up) run first;
  * then come the timed passes, each in the next seeded order the plan lists,
  * for as long as the plan's run length allows. In a
  * traced run, traced and untraced passes alternate so the record carries
  * its own tracing overhead. */
object BatchRun {
  /** The seeded REST pull's and the landing stream's names in plans and
    * records. */
  val RestPull = "rest_pull"
  val StreamLand = "stream_land"

  def run(spark: SparkSession, plan: JValue): JValue = {
    implicit val formats: Formats = DefaultFormats
    val sc = spark.sparkContext
    val data = (plan \ "data").extract[String]
    val traced = (plan \ "trace").extract[Int] == 1
    val orders = (plan \ "pass_orders").extract[List[List[String]]]
    val restOptions = (plan \ "rest_options").extractOpt[Map[String, String]]
      .getOrElse(Map.empty)
    val queries = graft.SparkEntry.queries
    val tracer = new Tracer(sc, System.nanoTime())
    val listener = new SpanListener

    val landing = (plan \ "stream").toOption.map { st =>
      new StreamLanding(spark, data,
        java.nio.file.Paths.get((plan \ "work").extract[String], "stream"),
        (st \ "cuts").extract[List[Double]], (st \ "due_offsets_s").extract[List[Double]])
    }

    def step(name: String, pass: Int): Step = name match {
      case RestPull => new QueryStep(() =>
        spark.read.format("graft.sources.rest.RestIntradaySource")
          .options(restOptions).load(), hashRows = false)
      case StreamLand => landing.get.step(s"pass-$pass")
      case _ => new QueryStep(() => queries(name)(spark, data), hashRows = true)
    }

    def runQuery(name: String, pass: Int, parent: Int): JObject = {
      val times = mutable.LinkedHashMap.empty[String, Double]
      val fields = mutable.ListBuffer.empty[JField]
      tracer.span(s"query:$name", parent) { qid =>
        def phase[T](p: String)(body: => T): T = {
          val t0 = System.nanoTime()
          try tracer.span(p, qid)(_ => body)
          finally times(p) = (System.nanoTime() - t0) / 1e9
        }
        val throttled0 = RestFetchRuntime.simulated429s.get()
        val cpu0 = Machine.processCpuNs()
        val jit0 = Machine.jitCpuNs()
        try {
          val s = step(name, pass)
          phase("construct")(s.construct())
          phase("plan")(s.plan())
          fields ++= phase("exec")(s.exec())
          if (tracer.on) fields ++= storage("")
        } catch {
          case e: Exception =>
            fields += "error" -> JString(s"${e.getClass.getName}: ${e.getMessage}")
        } finally {
          phase("release")(LlmOps.releaseCaches())
          if (tracer.on) fields ++= storage("_after_release")
        }
        // the engine's CPU time: every thread of the JVM but the JIT compiler's
        val jit = Machine.jitCpuNs() - jit0
        fields ++= List("throttled" ->
          JLong(RestFetchRuntime.simulated429s.get() - throttled0),
          "cpu_s" -> JDouble((Machine.processCpuNs() - cpu0 - jit) / 1e9),
          "jit_cpu_s" -> JDouble(jit / 1e9),
          "span" -> JInt(qid))
      }
      JObject(List[JField]("name" -> JString(name), "pass" -> JInt(pass)) ++
        times.map { case (k, v) => s"${k}_s" -> JDouble(v) } ++ fields)
    }

    def storage(suffix: String): List[JField] = {
      val infos = sc.getRDDStorageInfo
      List(s"blocks$suffix" -> JLong(infos.map(_.numCachedPartitions.toLong).sum),
        s"storage_mb$suffix" ->
          JDouble(infos.map(i => i.memSize + i.diskSize).sum / 1048576.0))
    }

    def runPass(order: List[String], pass: Int): JObject = {
      if (tracer.on) sc.addSparkListener(listener)
      val lakeStart = System.currentTimeMillis()
      val jit0 = Machine.jitCpuNs()
      val t0 = System.nanoTime()
      val (recs, runSpan) = tracer.span("run", -1) { id =>
        (order.map(runQuery(_, pass, id)), id)
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val jit = (Machine.jitCpuNs() - jit0) / 1e9
      val extra: List[JField] =
        if (!tracer.on) Nil
        else {
          listener.drain(sc)
          sc.removeSparkListener(listener)
          List("lake_files" -> JLong(lakeFiles(lakeStart)), "span" -> JInt(runSpan))
        }
      JObject(List[JField]("pass" -> JInt(pass), "traced" -> JBool(tracer.on),
        "wall_s" -> JDouble(wall), "jit_cpu_s" -> JDouble(jit),
        "queries" -> JArray(recs)) ++ extra)
    }

    val warm = (plan \ "warm_orders").extract[List[List[String]]].zipWithIndex
      .map { case (order, i) => runPass(order, -i) }
    val setupS = Main.sinceStart()
    // another pass starts while it is expected to end within `seconds`
    val seconds = (plan \ "seconds").extract[Double]
    val minPasses = (plan \ "min_passes").extract[Int]
    val timed0 = System.nanoTime()
    var lastWall = 0.0
    val passes = orders.iterator.zipWithIndex.takeWhile { case (_, i) =>
      i < minPasses || (System.nanoTime() - timed0) / 1e9 + lastWall <= seconds
    }.map { case (order, i) =>
      tracer.on = traced && i % 2 == 0
      val p = runPass(order, i + 1)
      lastWall = (p \ "wall_s").extract[Double]
      p
    }.toList
    tracer.on = false
    JObject("workload" -> plan \ "workload", "setup_s" -> JDouble(setupS),
      "warm" -> JArray(warm), "passes" -> JArray(passes),
      "stream_checks" -> landing.map(_.checks()).getOrElse(JNothing),
      "spans" -> tracer.json, "counters" -> listener.json)
  }

  /** Data files in the ingest lake written since `sinceMs`. */
  private def lakeFiles(sinceMs: Long): Long = {
    val root = Paths.get(System.getProperty("graft.lake.dir"))
    if (!Files.isDirectory(root)) 0L
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.count { p =>
        val n = p.getFileName.toString
        Files.isRegularFile(p) && !n.startsWith(".") && !n.startsWith("_") &&
          Files.getLastModifiedTime(p).toMillis >= sinceMs
      }.toLong
      finally s.close()
    }
  }
}

/** One closed-loop step of a pass, timed phase by phase. */
trait Step {
  def construct(): Unit
  def plan(): Unit
  /** Runs the step to completion; returns what the record keeps of it. */
  def exec(): List[JField]
}

/** A query: `construct` builds the frame, `plan` plans it, and `exec`
  * materializes every row of the full plan into its fingerprint. */
final class QueryStep(build: () => DataFrame, hashRows: Boolean) extends Step {
  private var df: DataFrame = _

  def construct(): Unit = df = build()
  def plan(): Unit = df.queryExecution.executedPlan: Unit

  def exec(): List[JField] = {
    val fp = Fingerprint.materialize(df, hashRows)
    val qe = df.queryExecution
    var nodes = 0
    qe.optimizedPlan.foreach(_ => nodes += 1)
    List[JField]("rows" -> JLong(fp.rows), "hash" -> JString(fp.hex),
      "cols" -> JString(fp.cols), "plan_nodes" -> JInt(nodes),
      "rest_rows" -> JLong(Plans.restRows(qe.executedPlan).getOrElse(-1L))) ++
      qe.tracker.phases.toList.map { case (k, v) => s"${k}_ms" -> JLong(v.durationMs) }
  }
}

/** Reads the executed plan of a materialized query. */
object Plans extends AdaptiveSparkPlanHelper {
  /** Rows the query's REST intraday scans produced, if it has any. */
  def restRows(plan: SparkPlan): Option[Long] = {
    val rows = collectWithSubqueries(plan) {
      case b: BatchScanExec
          if b.scan.getClass.getName.startsWith("graft.sources.rest.") =>
        b.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    }
    if (rows.isEmpty) None else Some(rows.sum)
  }
}
