package graft

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{GenerateExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanLike
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec,
  ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.util.{Failure, Success, Try, Using}
import scala.util.control.NonFatal
import GraftSession.jsonStr

/** The measured runner. Each query runs PASSES timed passes, each split
  * into three phases, and the record keeps the median pass:
  *  - build: the query's `fn`, with every job it runs before returning a
  *    frame (fixpoint rounds, checkpoints, sink writes);
  *  - plan: analysis, optimization and physical planning of that frame;
  *  - exec: `toRdd.count()` of the full plan.
  * A [[PhaseListener]] attributes every Spark job to the phase that
  * submitted it. Per query, the record also carries the classes Janino
  * compiled during the pass, the cached RDDs and bytes still resident
  * after `releaseCaches()`, and operator counts of the final adaptive
  * plan, whose text goes to one file per query. */
object Bench {
  /** Timed passes per query; the reported figure is the per-query MEDIAN.
    * r3's single pass drifted ±0.9–3.4 s on untouched queries, which made
    * the pinned-baseline regression gate noise-dominated (VERDICT r3
    * What's-wrong 2). Env-overridable for one-off probes (the 10× scale
    * probe cares about scaling ratios, not ±10% noise, and 3 passes at
    * 10× data is an hour of wall-clock). */
  private val PASSES = passes(sys.env.get("SPARK_GRAFT_PASSES"))

  /** The pass count: a positive integer, else the default 3. */
  private[graft] def passes(raw: Option[String]): Int =
    numericKnob(raw, p => p > 0 && p <= Int.MaxValue)
      .map(_.toInt).getOrElse(3)

  /** A numeric env knob's value: `None` when unset, not an integer, or
    * outside `valid`, so a malformed setting falls back to the default
    * instead of throwing. */
  private[graft] def numericKnob(
      raw: Option[String], valid: Long => Boolean): Option[Long] =
    raw.flatMap(_.trim.toLongOption).filter(valid)

  type Query = (SparkSession, String) => DataFrame

  /** The local property naming the phase that submits a job. */
  private val PhaseKey = "graft.bench.phase"
  private val Marker = "marker"
  private val Phases = Seq("build", "plan", "exec")

  /** Spark counters of the jobs one phase submitted, summed over their
    * tasks, plus (task ms, tasks, RDD scopes) per completed stage. */
  private[graft] final class Counters {
    var jobs, stages, tasks, taskMs, gcMs, shuffleRead, shuffleWrite,
      spill: Long = 0L
    val stageRows = mutable.ArrayBuffer.empty[(Long, Int, String)]
  }

  /** Attributes Spark jobs, stages and tasks to the phase (the
    * [[PhaseKey]] local property) that was open when the job was
    * submitted. Events arrive asynchronously; [[drain]] waits until
    * every event posted before it has been seen. */
  private[graft] final class PhaseListener extends SparkListener {
    private val stagePhase = mutable.Map.empty[Int, String]
    private val byPhase = mutable.Map.empty[String, Counters]
    private val markerJobs = mutable.Set.empty[Int]
    private var markersRun, markersDone = 0

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      Option(e.properties).flatMap(p => Option(p.getProperty(PhaseKey)))
        .foreach { phase =>
          if (phase == Marker) markerJobs += e.jobId
          else {
            e.stageIds.foreach(stagePhase(_) = phase)
            byPhase.getOrElseUpdate(phase, new Counters).jobs += 1
          }
        }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      if (markerJobs.remove(e.jobId)) markersDone += 1
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        val info = e.stageInfo
        for (phase <- stagePhase.get(info.stageId);
             c <- byPhase.get(phase)) {
          c.stages += 1
          // AQE submits every stage from a CompletableFuture, so the
          // stage NAME is useless; the RDD lineage scopes (physical
          // operator names) are the attribution that survives
          val scopes = info.rddInfos.sortBy(_.id).map(_.name).distinct
            .mkString(">").take(160)
          val ms = Option(info.taskMetrics).map(_.executorRunTime)
            .getOrElse(0L)
          c.stageRows += ((ms, info.numTasks, scopes))
        }
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      for (phase <- stagePhase.get(e.stageId); c <- byPhase.get(phase);
           m <- Option(e.taskMetrics)) {
        c.tasks += 1
        c.taskMs += m.executorRunTime
        c.gcMs += m.jvmGCTime
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }

    /** Runs `body` with `phase` as the submitting phase of its jobs. */
    def phase[T](sc: SparkContext, phase: String)(body: => T): T = {
      val outer = sc.getLocalProperty(PhaseKey)
      sc.setLocalProperty(PhaseKey, phase)
      try body finally sc.setLocalProperty(PhaseKey, outer)
    }

    /** Runs a one-task marker job and waits until this listener has seen
      * it end: the bus delivers a queue's events in order, so every job
      * and task event posted before the marker has been counted. */
    def drain(sc: SparkContext): Unit = {
      val target = synchronized { markersRun += 1; markersRun }
      phase(sc, Marker)(sc.parallelize(Seq(1), 1).count())
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (synchronized(markersDone) < target) {
        require(System.nanoTime() < deadline,
          "Spark listener bus did not drain")
        Thread.sleep(2)
      }
    }

    /** Drains, then returns the counters gathered since the last take,
      * by phase, and starts afresh. */
    def take(sc: SparkContext): Map[String, Counters] = {
      drain(sc)
      synchronized {
        val out = byPhase.toMap
        byPhase.clear()
        stagePhase.clear()
        out
      }
    }
  }

  /** One timed pass: the wall seconds of each phase and of the whole
    * pass, the counters of the jobs each phase ran, and the classes
    * Janino compiled during it (driver and tasks: local mode runs both
    * in this JVM, and each keys its own codegen cache). */
  private[graft] final case class Pass(phaseS: Map[String, Double],
      wallS: Double, counters: Map[String, Counters], compiles: Long)

  private def timePass(spark: SparkSession, listener: PhaseListener,
      fn: Query, dir: String): (Pass, SparkPlan) = {
    val sc = spark.sparkContext
    val phaseS = mutable.Map.empty[String, Double]
    def timed[T](name: String)(body: => T): T = listener.phase(sc, name) {
      val t0 = System.nanoTime()
      try body finally phaseS(name) = (System.nanoTime() - t0) / 1e9
    }
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val t0 = System.nanoTime()
    val df = timed("build")(fn(spark, dir))
    val qe = df.queryExecution
    timed("plan")(qe.executedPlan)
    // toRdd.count() materializes every InternalRow of the FULL plan —
    // df.count() would let Catalyst prune all projected expressions,
    // so projection-heavy queries would measure only scan+count.
    timed("exec")(qe.toRdd.count())
    val wall = (System.nanoTime() - t0) / 1e9
    val compiles =
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
    (Pass(phaseS.toMap, wall, listener.take(sc), compiles),
      qe.executedPlan)
  }

  /** Every node of an executed plan, through its adaptive query stages.
    * A TREE, not the plan string: InMemoryTableScan PRINTS its cached
    * relation's build plan, and a reused exchange prints the subtree it
    * reuses, but neither executes here — tree collection sees only the
    * operators that ran (ADVICE r19/r20). */
  private[graft] def finalNodes(plan: SparkPlan): Seq[SparkPlan] =
    plan.collect {
      case a: AdaptiveSparkPlanExec => finalNodes(a.executedPlan)
      case s: QueryStageExec => finalNodes(s.plan)
      case other => Seq(other)
    }.flatten

  /** Operator counts of a final plan's nodes, by record column. A
    * reused exchange counts as a reused stage, not as an exchange;
    * partial and final aggregates count apart. */
  private[graft] def nodeCounts(nodes: Seq[SparkPlan]): Seq[(String, Int)] =
    Seq(
      "exchanges" -> nodes.count(_.isInstanceOf[ShuffleExchangeLike]),
      "joins" -> nodes.count(_.isInstanceOf[BaseJoinExec]),
      "aggregates" -> nodes.count(_.isInstanceOf[BaseAggregateExec]),
      "generates" -> nodes.count(_.isInstanceOf[GenerateExec]),
      "cached_scans" -> nodes.count(_.isInstanceOf[InMemoryTableScanLike]),
      "reused_stages" -> nodes.count(_.isInstanceOf[ReusedExchangeExec]))

  /** One query's record: its median pass, the cached RDDs and bytes
    * still resident after its release, and its final plan's operator
    * counts and text. */
  private[graft] final case class Record(name: String, median: Pass,
      residentRdds: Int, residentBytes: Long, nodes: Seq[(String, Int)],
      planText: String) {
    def seconds: Double = median.wallS

    def json: String = {
      val cs = median.counters.values
      def sum(f: Counters => Long) = cs.iterator.map(f).sum
      def jobs(phase: String) = median.counters.get(phase).fold(0L)(_.jobs)
      val top = cs.flatMap(_.stageRows).toSeq.sortBy(-_._1).take(3).map {
        case (ms, n, scope) => f"""{"task_s":${ms / 1e3}%.3f,""" +
          s""""tasks":$n,"scope":${jsonStr(scope)}}"""
      }
      val phases = Phases.map { p =>
        val secs = median.phaseS.getOrElse(p, 0.0)
        f""""${p}_s":$secs%.4f,"${p}_jobs":${jobs(p)}"""
      }
      val counts = nodes.map { case (k, v) => s""""$k":$v""" }
      (Seq(f""""wall_s":$seconds%.4f""") ++ phases ++ Seq(
        s""""stages":${sum(_.stages)}""",
        s""""tasks":${sum(_.tasks)}""",
        s""""compiles":${median.compiles}""",
        f""""task_s":${sum(_.taskMs) / 1e3}%.3f""",
        f""""gc_s":${sum(_.gcMs) / 1e3}%.3f""",
        f""""shuffle_read_mb":${sum(_.shuffleRead) / 1e6}%.3f""",
        f""""shuffle_write_mb":${sum(_.shuffleWrite) / 1e6}%.3f""",
        f""""spill_mb":${sum(_.spill) / 1e6}%.3f""",
        s""""resident_rdds":$residentRdds""",
        f""""resident_mb":${residentBytes / 1e6}%.3f""") ++ counts ++
        Seq(top.mkString(""""top_stages":[""", ",", "]")))
        .mkString("{", ",", "}")
    }
  }

  /** Times `passes` passes of one query and releases its caches. Fails
    * with the first non-fatal error a pass throws; a fatal one ends the
    * run. */
  private[graft] def runQuery(spark: SparkSession, listener: PhaseListener,
      name: String, fn: Query, dir: String, passes: Int): Try[Record] = {
    val ran = Try((1 to passes).map(_ => timePass(spark, listener, fn, dir)))
    // Release THIS query's pinned frames before the next query runs.
    // r8 released only once at suite end, so d2's signature tables and
    // d7's frontiers stayed block-manager residents under all ~50
    // subsequent queries and the committed record read 2.5× the pin
    // sum while isolated reruns sat at 1.3× (VERDICT r8 What's-wrong
    // #2). Outside the timed region: the release is bench hygiene,
    // not part of any query's cost.
    operators.LlmOps.releaseCaches()
    if (ran.isFailure) listener.take(spark.sparkContext)
    ran.map { ps =>
      val (median, plan) = ps.sortBy(_._1.wallS).apply(ps.size / 2)
      val resident = spark.sparkContext.getRDDStorageInfo
      Record(name, median, resident.length,
        resident.iterator.map(i => i.memSize + i.diskSize).sum,
        nodeCounts(finalNodes(plan)),
        plan.toString.split("== Initial Plan ==").head)
    }
  }

  /** The records of the queries that ran, and the names of those that
    * failed. */
  private[graft] final case class Suite(records: Seq[Record],
      failed: Seq[String]) {
    def total: Double = records.iterator.map(_.seconds).sum
  }

  /** Runs each query in order with [[runQuery]]. */
  private[graft] def runSuite(spark: SparkSession,
      queries: Seq[(String, Query)], dir: String, passes: Int): Suite = {
    val listener = new PhaseListener
    spark.sparkContext.addSparkListener(listener)
    try {
      val ran = queries.map { case (name, fn) =>
        name -> runQuery(spark, listener, name, fn, dir, passes)
      }
      Suite(ran.collect { case (_, Success(r)) => r },
        ran.collect { case (name, Failure(e)) =>
          System.err.println(s"[bench] $name failed: $e")
          name
        })
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.defaultCpus
    val spark = GraftSession(cpus)
    GraftSession.warmup(spark, sfDir)
    // Canary pass (r13 advice #5): the same binary read 1.02x (builder)
    // and 1.32x (driver) against the pins hours apart — pure machine
    // load. Before the full suite, time a fixed 5-query slice spanning
    // scan+join+agg / text / ANN and record its ratio to the pinned
    // baseline IN the bench record, so any run carries its own
    // load-contamination estimate: a total near 2x the pin with a
    // canary near the same ratio is drift, not regression.
    // SPARK_GRAFT_CANARY_DIR points the canary at a DIFFERENT dir than
    // the suite (r14 VERDICT #8): a 10x/30x scale probe replicates the
    // suite's input, which would scale the canary's own queries and
    // destroy the load estimate — probes set it to the UNSCALED sf0.1
    // dir so every probe record carries a valid machine-load ratio
    // against the pins, whatever the probe dir scales.
    val canaryDir = sys.env.getOrElse("SPARK_GRAFT_CANARY_DIR", sfDir)
    val canaryNames = Seq("q1_flagship", "d3_simhash", "agg_battery",
      "j1_join_enrich", "a5_ann_bruteforce")
    val pinText =
      try new String(Files.readAllBytes(Paths.get("BASELINE_BENCH.json")),
        UTF_8)
      catch { case NonFatal(_) => "" }
    def pinOf(n: String): Option[Double] =
      ("\"" + java.util.regex.Pattern.quote(n) +
        "\"\\s*:\\s*([0-9][0-9.eE+-]*)").r
        .findFirstMatchIn(pinText).map(_.group(1).toDouble)
    val (canaryRatio: Option[Double], canaryJson: String) = {
      val canary = runSuite(spark, canaryNames.flatMap(n =>
        SparkEntry.queries.get(n).filter(_ => pinOf(n).isDefined).map(n -> _)),
        canaryDir, PASSES)
      if (canary.records.isEmpty) (None, "null")
      else {
        val ratio = canary.total /
          canary.records.flatMap(r => pinOf(r.name)).sum
        val qs = canary.records.map(r => s"\"${r.name}\":${r.seconds}")
          .mkString("{", ",", "}")
        val dirNote =
          if (canaryDir == sfDir) ""
          else s""","dir":${jsonStr(canaryDir)}"""
        (Some(ratio), f"""{"ratio":$ratio%.4f,"queries":$qs$dirNote}""")
      }
    }
    // SPARK_GRAFT_ONLY=q1,q2 restricts to a comma-separated subset —
    // local outlier triage only; the driver never sets it
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val selected = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_(name)) }
    val suite = runSuite(spark, selected, sfDir, PASSES)
    val medians = suite.records.map(r => r.name -> r.seconds)
    val qs = medians.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val n = suite.records.size
    val mean = if (n > 0) suite.total / n else 0.0
    // Per-query LOAD-ADJUSTED ratios (VERDICT r17 #2): medianᵩ / pinᵩ /
    // canary.ratio. The r17 driver sweep ran under a 1.71x canary and
    // 16 queries read as false 2x "breaches" that sat at pin in every
    // isolated rerun — this record makes each run self-adjudicating:
    // a breach only counts if it survives the run's own measured
    // machine-load normalization. Only meaningful when the suite dir is
    // the pinned sf0.1 (probes point SPARK_GRAFT_SF_DIR elsewhere, so
    // their raw ratios measure SCALING, not regression — there the map
    // is emitted but reads >1 by design). Adjudication rule lives in
    // PLANS.md.
    val ratiosJson = canaryRatio match {
      case Some(cr) if cr > 0 =>
        val rs = medians.flatMap { case (name, med) =>
          pinOf(name).collect { case pin if pin > 0 =>
            f""""$name":${med / pin / cr}%.4f"""
          }
        }
        if (rs.isEmpty) "null" else rs.mkString("{", ",", "}")
      case _ => "null"
    }
    // Adjudicated breach list (VERDICT r18 #2): a load-adjusted ratio
    // >2x counts as a breach ONLY if the median also exceeds
    // pin + 0.5 s — an absolute floor that mechanically exempts the
    // two classes a CPU canary cannot normalize: sub-second
    // fixture-bound queries (c2_split_assign: 0.34 s read as a false
    // 2.6x) and deterministic-sleep queries (s2d_retry_429's retry
    // backoff: 0.47 s read as a false 3.1x). The floor cannot mask a
    // real regression — every query that matters at scale has
    // pin >> 0.5 s, so its 2x breach clears the floor by construction.
    // The driver reads THIS field; raw ratios stay in the record for
    // forensics. Like ratios_load_adjusted, only meaningful when the
    // suite dir is the pinned sf0.1.
    val breachesJson = canaryRatio match {
      case Some(cr) if cr > 0 =>
        medians.flatMap { case (name, med) =>
          pinOf(name).collect {
            case pin if pin > 0 && med / pin / cr > 2.0 && med > pin + 0.5 =>
              jsonStr(name)
          }
        }.mkString("[", ",", "]")
      case _ => "null"
    }
    val failedJson = suite.failed.map(jsonStr).mkString("[", ",", "]")
    // action records HOW timings were taken: full-plan toRdd.count,
    // median of PASSES runs per query (round 4+; rounds 2-3 were a
    // single pass, round 1's df.count() let Catalyst prune projections)
    // cpus is part of the record's identity: the pinned baseline is a
    // local[32] measurement, and a local[4] rerun reads ~1.4-2x slower
    // across the board — a ratio against the pin is meaningless without
    // knowing which harness produced it (r8 triage burned an hour on
    // exactly that). A failed query is listed in `failed` and counts in
    // neither `queries` nor `total`.
    val fields = s"""{"metric":"total","value":${suite.total},"unit":"sec","queries":$qs,"sf":${jsonStr(sfDir)},"n_queries":$n,"sec_per_query":$mean,"action":"toRdd.count","passes":$PASSES,"stat":"median","cpus":$cpus,"canary":$canaryJson,"ratios_load_adjusted":$ratiosJson,"breaches":$breachesJson,"failed":$failedJson"""
    println(fields + "}")
    // The driver's BENCH_r*.json keeps only a 2000-char tail of sbt
    // output, which truncated 38 of 98 per-query timings in round 7 —
    // persist the FULL record, with every query's layered columns, so
    // the per-query history survives in-repo; each query's final plan
    // goes to <record>.plans/<query>.txt.
    try {
      val out = Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench/bench_last.json"))
      Option(out.getParent).foreach(Files.createDirectories(_))
      val records = suite.records.map(r => s"${jsonStr(r.name)}:${r.json}")
        .mkString("{", ",", "}")
      Files.write(out,
        (fields + s""","records":$records}""" + "\n").getBytes(UTF_8))
      writePlans(Paths.get(out.toString.stripSuffix(".json") + ".plans"),
        suite.records)
    } catch { case NonFatal(e) =>
      // a silent write failure would leave a STALE record masquerading
      // as this run (ADVICE r8) — warn; fatal errors propagate
      System.err.println(s"[bench] failed to persist bench record: $e")
    }
    spark.stop()
    if (suite.failed.nonEmpty) sys.exit(1)
  }

  /** Replaces `dir`'s plan files with one `<query>.txt` per record, so no
    * plan of an earlier run outlives it. */
  private def writePlans(dir: Path, records: Seq[Record]): Unit = {
    if (Files.isDirectory(dir))
      Using.resource(Files.list(dir))(_.forEach(p => Files.delete(p)))
    Files.createDirectories(dir)
    records.foreach(r =>
      Files.write(dir.resolve(s"${r.name}.txt"), r.planText.getBytes(UTF_8)))
  }
}
