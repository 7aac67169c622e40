package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

/** One benchmark run of one workload. It reads the run plan that
  * `perfbench/run.py` generated from the seed (query orders, REST pull
  * options, stream slices and landing schedule), drives the engine through its
  * public entry points, and writes the raw measurements as JSON. All
  * statistics, output checks and the result line are made by run.py.
  *
  * {{{
  *   perfbench.Main --plan <plan.json> --out <raw.json>
  *   perfbench.Main --dump-oracle <out.json> --names a,b,c
  * }}}
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    opt.get("dump-oracle") match {
      case Some(out) => dumpOracle(out, opt("names").split(",").toSeq)
      case None => run(opt("plan"), opt("out"))
    }
  }

  /** The DuckDB oracle SQL of the named queries, for the fingerprint
    * derivation script. */
  private def dumpOracle(out: String, names: Seq[String]): Unit = {
    val oracle = graft.SparkEntry.oracleSql
    val missing = names.filterNot(oracle.contains)
    require(missing.isEmpty, s"no oracle SQL for: ${missing.mkString(", ")}")
    write(out, JObject(names.map(n => n -> JString(oracle(n))).toList))
  }

  private def run(planPath: String, out: String): Unit = {
    val plan = JsonMethods.parse(
      new String(Files.readAllBytes(Paths.get(planPath)), UTF_8))
    implicit val formats: Formats = DefaultFormats
    val cores = (plan \ "cores").extract[Int]
    val work = (plan \ "work").extract[String]
    val ctxStart = Machine.context()
    val spark = session(cores, work)
    val result = try BatchRun.run(spark, plan) finally spark.stop()
    val ctx = ctxStart merge JObject(
      "load_end" -> JDouble(Machine.loadAverage()),
      "spark" -> JString(org.apache.spark.SPARK_VERSION))
    write(out, result merge JObject("ctx" -> ctx))
  }

  /** The session settings of the engine's own Bench harness, with every
    * scratch directory inside the run's work directory. */
  private def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Seconds since this JVM started. */
  def sinceStart(): Double =
    (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  def write(path: String, v: JValue): Unit =
    Files.write(Paths.get(path), JsonMethods.compact(JsonMethods.render(v))
      .getBytes(UTF_8))
}

/** Machine context recorded with every run, so two sets of runs can be
  * told apart from the box's load waves. */
object Machine {
  def loadAverage(): Double =
    ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** CPU time of every thread of this JVM: Spark's task threads, the
    * main thread, the JIT compiler and the garbage collector. */
  def processCpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private val TickNs = 10L * 1000 * 1000

  /** CPU time of this JVM's JIT compiler threads, read from /proc because
    * the JVM does not expose them as Java threads; 0 without /proc. */
  def jitCpuNs(): Long = {
    val tasks = new java.io.File("/proc/self/task").listFiles()
    if (tasks == null) 0L
    else tasks.iterator.map { t =>
      try {
        val comm = new String(Files.readAllBytes(t.toPath.resolve("comm")), UTF_8)
        if (!comm.startsWith("C1 CompilerThre") && !comm.startsWith("C2 CompilerThre")) 0L
        else {
          val stat = new String(Files.readAllBytes(t.toPath.resolve("stat")), UTF_8)
          // utime and stime: fields 14 and 15, counted after the ") " that
          // closes field 2
          val f = stat.substring(stat.lastIndexOf(')') + 2).split(" ")
          (f(11).toLong + f(12).toLong) * TickNs
        }
      } catch { case _: java.io.IOException => 0L }
    }.sum
  }

  /** A fixed single-thread CPU task (SHA-256 over 64 MiB), median of
    * three: the same work on every run, so its time tracks the box. */
  def canary(): Double = {
    val buf = Array.tabulate[Byte](1 << 20)(i => (i * 31).toByte)
    val times = (1 to 3).map { _ =>
      val md = java.security.MessageDigest.getInstance("SHA-256")
      val t0 = System.nanoTime()
      (1 to 64).foreach(_ => md.update(buf))
      md.digest()
      (System.nanoTime() - t0) / 1e9
    }
    times.sorted.apply(1)
  }

  def context(): JObject = JObject(
    "java" -> JString(System.getProperty("java.version")),
    "load_start" -> JDouble(loadAverage()),
    "canary_s" -> JDouble(canary()))
}
