package graft
import org.apache.spark.sql.SparkSession
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
    operators.LlmOps.numericKnob(raw, p => p > 0 && p <= Int.MaxValue)
      .map(_.toInt).getOrElse(3)

  /** `SPARK_GRAFT_CACHE_AQE` as the boolean conf value: "true" or
    * "false" in any case (blanks tolerated), anything else the default
    * true. */
  private[graft] def cacheAqe(raw: Option[String]): Boolean =
    raw.flatMap(_.trim.toBooleanOption).getOrElse(true)

  /** JSON string escape (same table as Verify's oracle_sql writer): a
    * canary dir containing a quote/backslash/control char would
    * otherwise emit invalid JSON the downstream json.load rejects
    * (ADVICE r15). */
  private def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // NTZ micros read verbatim as UTC TimestampType, set at session
      // construction so read semantics never depend on which loader ran
      // first (r12 advice; Tables.ensureNtzReadAsUtc stays as the
      // fallback for driver-built sessions).
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      // r20 optimization (guide §2.4/§3.1): cached plans otherwise
      // BYPASS AQE — every pinFrame'd index/fixpoint build runs with
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
      // env-overridable for A/B isolation of this one setting
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        cacheAqe(sys.env.get("SPARK_GRAFT_CACHE_AQE")))
      // r21 A/B (guide §2.2): lowering AQE's coalescing floor
      // (minPartitionSize 1m -> 64k) was MEASURED WORSE on the
      // text-heavy subset (load-adjusted 32.5 s vs 28.1 s,
      // bench_r21_minpart_{1m,64k}.json) — finer post-shuffle tasks
      // only add scheduling overhead locally. Default kept.
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Warmup: absorb JVM/codegen/parquet-footer startup cost so the
    // first measured query isn't charged for it — and pre-materialize the
    // p4/p4b doc fixtures, which are scaffolding (collect_list+to_json
    // lake writes), NOT part of the measured flatten operators: r3's
    // fresh-JVM bench charged the build to p4_json_flatten (8.3→14.2 s).
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
    } catch { case _: Throwable => () }
    def timeOnce(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
        dir: String = sfDir): Double = {
      val t0 = System.nanoTime()
      // toRdd.count() materializes every InternalRow of the FULL plan —
      // df.count() would let Catalyst prune all projected expressions,
      // so projection-heavy queries would measure only scan+count.
      // A failed query reports -1 instead of masquerading as fast.
      try {
        fn(spark, dir).queryExecution.toRdd.count()
        (System.nanoTime() - t0) / 1e9
      } catch { case _: Throwable => -1.0 }
    }
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
      try new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("BASELINE_BENCH.json")),
        java.nio.charset.StandardCharsets.UTF_8)
      catch { case _: Throwable => "" }
    def pinOf(n: String): Option[Double] =
      ("\"" + java.util.regex.Pattern.quote(n) +
        "\"\\s*:\\s*([0-9][0-9.eE+-]*)").r
        .findFirstMatchIn(pinText).map(_.group(1).toDouble)
    val (canaryRatio: Option[Double], canaryJson: String) = {
      val timed = canaryNames.flatMap { n =>
        for {
          fn <- SparkEntry.queries.get(n)
          pin <- pinOf(n)
          t = (1 to PASSES).map(_ => timeOnce(fn, canaryDir))
            .sorted.apply(PASSES / 2)
          if t >= 0
        } yield (n, t, pin)
      }
      operators.LlmOps.releaseCaches()
      if (timed.isEmpty) (None, "null")
      else {
        val ratio = timed.map(_._2).sum / timed.map(_._3).sum
        val qs = timed.map { case (n, t, _) => s"\"$n\":$t" }
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
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter(kv => names(kv._1))
      case None => SparkEntry.queries
    }
    val results = selected.map { case (name, fn) =>
      val samples = (1 to PASSES).map(_ => timeOnce(fn))
      // Release THIS query's pinned frames before the next query runs.
      // r8 released only once at suite end, so d2's signature tables and
      // d7's frontiers stayed block-manager residents under all ~50
      // subsequent queries and the committed record read 2.5× the pin
      // sum while isolated reruns sat at 1.3× (VERDICT r8 What's-wrong
      // #2). Outside the timed region: the release is bench hygiene,
      // not part of any query's cost.
      operators.LlmOps.releaseCaches()
      val median =
        if (samples.exists(_ < 0)) -1.0
        else samples.sorted.apply(PASSES / 2)
      name -> median
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val ok = results.filter(_._2 >= 0)
    val total = if (ok.nonEmpty) ok.values.sum else 0.0
    val n = ok.size
    val mean = if (n > 0) total / n else 0.0
    // action records HOW timings were taken: full-plan toRdd.count,
    // median of PASSES runs per query (round 4+; rounds 2-3 were a
    // single pass, round 1's df.count() let Catalyst prune projections)
    // cpus is part of the record's identity: the pinned baseline is a
    // local[32] measurement, and a local[4] rerun reads ~1.4-2x slower
    // across the board — a ratio against the pin is meaningless without
    // knowing which harness produced it (r8 triage burned an hour on
    // exactly that).
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
        val rs = results.toSeq.flatMap { case (name, med) =>
          pinOf(name).collect { case pin if med >= 0 && pin > 0 =>
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
        results.toSeq.flatMap { case (name, med) =>
          pinOf(name).collect {
            case pin if med >= 0 && pin > 0 &&
              med / pin / cr > 2.0 && med > pin + 0.5 => jsonStr(name)
          }
        }.mkString("[", ",", "]")
      case _ => "null"
    }
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":${jsonStr(sfDir)},"n_queries":$n,"sec_per_query":$mean,"action":"toRdd.count","passes":$PASSES,"stat":"median","cpus":$cpus,"canary":$canaryJson,"ratios_load_adjusted":$ratiosJson,"breaches":$breachesJson}"""
    println(line)
    // The driver's BENCH_r*.json keeps only a 2000-char tail of sbt
    // output, which truncated 38 of 98 per-query timings in round 7 —
    // persist the FULL record so the per-query history survives in-repo.
    try {
      val out = java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench/bench_last.json"))
      Option(out.getParent).foreach(java.nio.file.Files.createDirectories(_))
      java.nio.file.Files.write(out,
        (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case scala.util.control.NonFatal(e) =>
      // a silent write failure would leave a STALE record masquerading
      // as this run (ADVICE r8) — warn; fatal errors propagate
      System.err.println(s"[bench] failed to persist bench record: $e")
    }
    spark.stop()
  }
}
