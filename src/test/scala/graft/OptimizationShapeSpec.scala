package graft

import org.apache.spark.sql.functions._

/** r20 optimization round: plan-shape and semantics guards for the
  * operator internals the round changed (the "add a focused test when
  * an optimization changes an operator's internals" rule).
  *
  * These assert the MECHANISM of each optimization, because the
  * committed plans/r20 dumps can only show the final sub-plan (the
  * per-hop localCheckpoints truncate everything upstream):
  *  - one beam hop = broadcast joins only (no SortMergeJoin, no
  *    corpus-side shuffle) and ONE hash exchange feeding both the
  *    dedup agg and the top-beam window;
  *  - the NSW build spreads its pair-scoring join by the bucket key;
  *  - k14's before/tombstoned split derives both phases from one
  *    beam frame and equals the unsplit search exactly;
  *  - spreadScan widens one-split scans and leaves wide frames alone.
  */
class OptimizationShapeSpec extends SparkSuite {
  import spark.implicits._

  // 64 dims like the real embeddings table — the NSW sign key reads
  // elements up to index NSW_KEY_MAX_DIM (63)
  private def emb(id: Long): (Long, Array[Float]) =
    (id, Array.tabulate(64)(i => ((id * 31 + i * 7) % 13 - 6).toFloat))

  private lazy val e = (0L until 64L).map(emb)
    .toDF("vec_id", "emb")

  test("beamHop: broadcast-only joins, one hash exchange shared by " +
      "the dedup agg and the top-beam window, frontier referenced " +
      "once (self-loop edges carry the keep-frontier semantics)") {
    val probes = e.filter(col("vec_id") < 2)
      .select(col("vec_id").as("probe_id"), col("emb").as("p_emb"))
    val edges = e.select(col("vec_id").as("v"),
      ((col("vec_id") + 1) % 64).as("n"))
    val edgesPlus = operators.Ann.withSelfLoops(
      e.select(col("vec_id"), col("emb")), edges)
    // literal f0 (no broadcast of its own) so the assertion below
    // counts ONLY the hop's broadcasts
    val f0 = Seq((0L, 5L, 0.5), (0L, 9L, 0.4), (1L, 5L, 0.5),
      (1L, 9L, 0.4)).toDF("probe_id", "vec_id", "sim")
    val hop = operators.Ann.beamHop(spark, e, probes, f0, edgesPlus, 4)
    hop.queryExecution.toRdd.count()
    val p = hop.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!p.contains("SortMergeJoin"),
      s"beam hop regressed to a shuffle join:\n$p")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 3,
      s"beam hop lost its bounded-side broadcasts:\n$p")
    val ex = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(ex <= 1, s"beam hop carries $ex hash exchanges — the " +
      s"probe_id repartition must feed BOTH the agg and the window:\n$p")
    // r21b single-reference contract: the frontier enters the plan
    // exactly once — as one broadcast build (the edge-lookup side).
    // The self-loop union lives BELOW that join (edges ∪ (v,v)), so a
    // second frontier-consuming union would show as a second broadcast
    // of the same frontier subtree; with one reference the hop needs
    // exactly 3 broadcast exchanges (frontier, cand, probes).
    val bx = "BroadcastExchange".r.findAllIn(p).length
    assert(bx <= 3, s"beam hop grew a 4th broadcast — the frontier " +
      s"must be referenced exactly once:\n$p")
  }

  test("beamHop over self-loop edges == the r20 two-reference hop " +
      "(frontier union + neighbor rescore), row for row") {
    import org.apache.spark.sql.expressions.Window
    val probes = e.filter(col("vec_id") < 2)
      .select(col("vec_id").as("probe_id"), col("emb").as("p_emb"))
    // a denser fixture than the plan test: ~3 edges per node, plus one
    // DELIBERATELY edgeless frontier node (vec_id 63 has no out-edges)
    // to prove self-loop survival
    val edges = e.filter(col("vec_id") < 63)
      .select(col("vec_id").as("v"), ((col("vec_id") * 7 + 3) % 64).as("n"))
      .union(e.filter(col("vec_id") < 63)
        .select(col("vec_id").as("v"), ((col("vec_id") * 11 + 5) % 64).as("n")))
      .union(e.filter(col("vec_id") < 63)
        .select(col("vec_id").as("v"), ((col("vec_id") * 13 + 9) % 64).as("n")))
      .filter(col("v") =!= col("n"))
    val entry = e.filter(col("vec_id").isin(5L, 9L, 63L))
    val f0 = probes.crossJoin(broadcast(entry))
      .select(col("probe_id"), col("vec_id"),
        round(expr("cosine_sim(emb, p_emb)"), 6).as("sim"))
    val hop1 = operators.Ann.beamHop(spark, e, probes, f0,
      operators.Ann.withSelfLoops(e, edges), 4)
    // reference implementation: the pre-r21b hop (union + groupBy max)
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("sim").desc, col("vec_id").asc)
    val cand = edges
      .join(broadcast(f0.select(col("probe_id"), col("vec_id"))),
        col("vec_id") === col("v"))
      .select(col("probe_id"), col("n").as("vec_id"))
    val neighbors = e.join(broadcast(cand), Seq("vec_id"))
      .join(broadcast(probes), Seq("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        round(expr("cosine_sim(emb, p_emb)"), 6).as("sim"))
    val ref = f0.unionByName(neighbors)
      .groupBy(col("probe_id"), col("vec_id"))
      .agg(max(col("sim")).as("sim"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 4)
      .select("probe_id", "vec_id", "sim")
    assert(hop1.collect().toSet === ref.collect().toSet,
      "self-loop hop diverged from the two-reference reference hop")
    // the edgeless entry node must be able to survive a hop: drop it
    // from the fixture's edges entirely and check it stays reachable
    // in the candidate set when it ranks in-beam
    val cands = operators.Ann.beamCands(spark, e, probes, f0,
      operators.Ann.withSelfLoops(e, edges))
    assert(cands.filter(col("vec_id") === 63L).count() > 0,
      "edgeless frontier node lost — self-loops must keep it scored")
  }

  test("nswEdgesFrom: the pair-scoring joins are spread by the bucket " +
      "key (no single-task scan fusion), sign families fused into one " +
      "tagged pass") {
    val edges = operators.Ann.nswEdgesFrom(spark, e)
    edges.queryExecution.toRdd.count()
    val p = edges.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // r21b: ONE (fam, b)-keyed spread serves BOTH sign families (the
    // tagged-explode fusion) + the long-range family's b-keyed spread
    assert("hashpartitioning\\(fam#".r.findAllIn(p).length >= 1,
      s"NSW build lost the fused (fam, b) spread exchange:\n$p")
    assert("hashpartitioning\\(b#".r.findAllIn(p).length >= 1,
      s"NSW build lost the long-range family's spread exchange:\n$p")
  }

  test("k14 split: nswTopkFrom over one nswFinalBeam equals the " +
      "unsplit masked search, masked and unmasked") {
    val edges = operators.Ann.nswEdgesFrom(spark, e)
    val beam = operators.Ann.nswFinalBeam(spark, e, edges)
    val mask = Some(col("vec_id") % 9 === 8)
    for (m <- Seq(None, mask)) {
      val split = operators.Ann.nswTopkFrom(beam, m)
      val whole = operators.Ann.nswSearchOverMasked(spark, e, edges, m)
      assert(split.collect().toSet === whole.collect().toSet,
        s"split beam diverged from the unsplit search (mask=$m)")
    }
    // the tombstone mask must actually bite: at least one tombstoned
    // id ranks in the unmasked top-K (non-vacuous fixture)
    val unmasked = operators.Ann.nswTopkFrom(beam, None)
      .filter(col("vec_id") % 9 === 8).count()
    assert(unmasked > 0, "fixture vacuous: no tombstoned id in top-K")
  }

  test("spreadScan: size-adaptive width — tiny scans stay unspread, " +
      "big one-split scans widen by bytes/target clamped to cores, " +
      "already-wide frames unchanged") {
    val p = spark.sparkContext.defaultParallelism
    // tiny scan (hundreds of bytes << SPREAD_TARGET_BYTES): unspread —
    // the r21 measurement (d13 taskTime 64 s vs 4.6 s warm at sf0.1)
    // is the contract
    val tinyDir = java.nio.file.Files
      .createTempDirectory("spread_scan_tiny").toString
    (0 until 100).toDF("x").coalesce(1).write
      .mode("overwrite").parquet(tinyDir)
    val tiny = spark.read.parquet(tinyDir)
    assert(operators.LlmOps.spreadScan(tiny).rdd.getNumPartitions === 1,
      "a scan far below SPREAD_TARGET_BYTES must stay unspread")
    // big one-split scan (> 2 targets of incompressible strings):
    // width = ceil(stats.sizeInBytes / target) clamped to cores
    val bigDir = java.nio.file.Files
      .createTempDirectory("spread_scan_big").toString
    (0 until 40000).toDF("x")
      .select(md5(col("x").cast("string")).as("s"))
      .coalesce(1).write.mode("overwrite").parquet(bigDir)
    val big = spark.read.parquet(bigDir)
    val bytes = BigInt(big.queryExecution.optimizedPlan.stats
      .sizeInBytes.bigInteger).toLong
    val t = operators.LlmOps.SPREAD_TARGET_BYTES
    assert(bytes > 2 * t, s"fixture too small to exercise the spread " +
      s"($bytes bytes <= ${2 * t})")
    val expected = math.min(p.toLong, (bytes + t - 1) / t).toInt
    assert(operators.LlmOps.spreadScan(big).rdd.getNumPartitions
      === expected,
      "width must derive from scan bytes, clamped to the session cores")
    // already-wide frames untouched
    val wide = tiny.repartition(p + 3)
    assert(operators.LlmOps.spreadScan(wide).rdd.getNumPartitions
      === p + 3, "spreadScan must not touch already-wide frames")
  }

  test("spread env knobs: malformed or out-of-range values fall back " +
      "to the default instead of throwing") {
    import operators.LlmOps.numericKnob
    val bytes = (b: Long) => b > 0
    val width = (w: Long) => w >= 0 && w <= Int.MaxValue
    // well-formed values pass through (surrounding blanks tolerated)
    assert(numericKnob(Some("65536"), bytes) === Some(65536L))
    assert(numericKnob(Some(" 8 "), width) === Some(8L))
    assert(numericKnob(Some("0"), width) === Some(0L), "0 disables spread")
    // unset, malformed, or out of range: no value, so the default holds
    Seq(None, Some(""), Some("abc"), Some("1.5"), Some("256k"),
      Some("99999999999999999999")).foreach { raw =>
      assert(numericKnob(raw, bytes) === None, s"bytes knob $raw")
      assert(numericKnob(raw, width) === None, s"width knob $raw")
    }
    assert(numericKnob(Some("0"), bytes) === None,
      "a zero target would divide by zero in spreadScan")
    assert(numericKnob(Some("-4"), width) === None)
    assert(numericKnob(Some("4294967296"), width) === None,
      "a width past Int range must not wrap")
  }

  test("bench env knobs: SPARK_GRAFT_PASSES takes only a positive count " +
      "and SPARK_GRAFT_CACHE_AQE only true/false; anything else falls " +
      "back to the default") {
    assert(Bench.passes(Some("5")) === 5)
    assert(Bench.passes(Some(" 1 ")) === 1)
    Seq(None, Some(""), Some("0"), Some("-3"), Some("two"), Some("2.5"),
      Some("4294967296")).foreach { raw =>
      assert(Bench.passes(raw) === 3, s"passes $raw")
    }
    assert(!Bench.cacheAqe(Some("false")))
    assert(!Bench.cacheAqe(Some(" FALSE ")))
    assert(Bench.cacheAqe(Some("True")))
    Seq(None, Some(""), Some("0"), Some("no"), Some("off"),
      Some("flase")).foreach { raw =>
      assert(Bench.cacheAqe(raw), s"cache AQE $raw")
    }
  }
}
