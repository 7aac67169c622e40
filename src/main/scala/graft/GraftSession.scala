package graft

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

/** The one session every graft harness runs on (Bench, Verify, ScaleUp
  * and the test suites), so a plan measured by one is the plan the
  * others run. */
object GraftSession {
  /** `SPARK_GRAFT_CPUS`: a positive core count, else 4. Every pin in
    * BASELINE_BENCH.json is a local[32] measurement, and local[4] reads
    * ~1.4-2x slower across the board, so compare against the pins only
    * at the pins' core count. */
  def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS")
    .flatMap(_.trim.toIntOption).filter(_ > 0).getOrElse(4)

  def apply(cpus: Int = defaultCpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet stores TIMESTAMP(NANOS) in some generations; read
      // nanos as long once, session-wide, instead of mutating conf
      // inside table loaders
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // NTZ micros read verbatim as UTC TimestampType, set at session
      // construction so read semantics never depend on which loader ran
      // first (r12 advice; Tables.ensureNtzReadAsUtc stays as the
      // fallback for driver-built sessions).
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      // r20 optimization (guide §2.4/§3.1): cached plans otherwise
      // BYPASS AQE — every persisted index/fixpoint build runs with
      // static shuffle-partition-count exchanges and whatever join
      // strategy the STATIC size estimates pick, and nswBucketFrames'
      // crossJoin(broadcast(count)) poisons those estimates so the
      // bucket joins planned as 32-task SortMergeJoins (a17's
      // edge-build count() stage measured 19.6 s of task time across
      // 32 tasks; 0.5 s in 1 task with this on). Every
      // InMemoryTableScan consumer also stops paying one task per
      // static shuffle partition. Scale-adaptive by construction (AQE
      // sizes from runtime bytes), not a local[32] tune — the same
      // setting is right on a cluster.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
      // r21 A/B (guide §2.2): lowering AQE's coalescing floor
      // (minPartitionSize 1m -> 64k) was MEASURED WORSE on the
      // text-heavy subset (load-adjusted 32.5 s vs 28.1 s,
      // bench_r21_minpart_{1m,64k}.json) — finer post-shuffle tasks
      // only add scheduling overhead locally. Default kept.
      // injects the custom cosine_sim expression the ANN queries use
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // LlmOps.releaseCaches() unpersists every snapped frame, and
    // RDD.unpersist warns once per locally checkpointed RDD that its
    // lineage is gone: the intended outcome of a release, one line per
    // fixpoint round, which would bury every other warning
    Configurator.setLevel("org.apache.spark.rdd.MapPartitionsRDD",
      Level.ERROR)
    spark
  }

  /** Absorb JVM/codegen/parquet-footer startup cost so the first
    * measured query isn't charged for it — and pre-materialize the
    * p4/p4b doc fixtures, which are scaffolding (collect_list+to_json
    * lake writes), NOT part of the measured flatten operators: r3's
    * fresh-JVM bench charged the build to p4_json_flatten (8.3→14.2 s).
    * A failure is reported and the run goes on: the query that needs
    * the fixture then fails on its own. */
  def warmup(spark: SparkSession, sfDir: String): Unit =
    try {
      spark.range(1000000L).selectExpr("sum(id)").collect()
      spark.read.parquet(s"$sfDir/orders.parquet").count()
      spark.read.parquet(s"$sfDir/lineitem.parquet")
        .groupBy("l_returnflag").count().collect()
      sources.Ingest.p4DocsFixture(spark, sfDir)
      sources.Ingest.p4bAzmFixture(spark, sfDir)
      sources.Ingest.s9JsonlFixture(spark, sfDir)
      sources.Ingest.s11GenFixtures(spark, sfDir)
      // pre-sunk standing index artifacts (VERDICT r19 #1): the
      // k8c/k8d append rows measure the NIGHTLY job — append +
      // re-search against yesterday's index, which the warmup sinks
      // here so no measured pass is charged for the O(corpus) build
      // (that cost is k8c_standing_build's own pinned row)
      sources.Ingest.k8cStandingFixture(spark, sfDir)
      sources.Ingest.k8dStandingFixture(spark, sfDir)
    } catch { case NonFatal(e) =>
      System.err.println(s"[graft] warmup failed: $e")
    }

  /** JSON string literal: escapes the quote, the backslash and ALL
    * control chars (< 0x20) — a tab or CR in hand-written SQL, or a
    * quote in a directory name, would otherwise make the downstream
    * json.load fail (ADVICE r15). */
  def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
