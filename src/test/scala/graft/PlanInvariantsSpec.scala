package graft

/** Executable plan-shape guards: the properties PLANS.md documents,
  * asserted on the FINAL adaptive plan so a regression fails the suite
  * instead of waiting for a manual audit. Each materializes its
  * queryExecution (AQE finalizes plans only after a run). */
class PlanInvariantsSpec extends SparkSuite {
  import org.apache.spark.sql.execution.SparkPlan

  private def finalPlan(name: String): String = {
    val qe = SparkEntry.queries(name)(spark, sf).queryExecution
    qe.toRdd.count()
    qe.executedPlan.toString.split("== Initial Plan ==").head
  }

  /** Every node of `name`'s final adaptive plan after a run, through
    * its query stages ([[Bench.finalNodes]]: a tree, not the plan
    * string). */
  private def finalNodes(name: String): Seq[SparkPlan] = {
    val qe = SparkEntry.queries(name)(spark, sf).queryExecution
    qe.toRdd.count()
    Bench.finalNodes(qe.executedPlan)
  }

  test("s5/a1b/a7: packed-long argmax stays a HashAggregate — no " +
    "SortAggregate anywhere") {
    Seq("s5_catalog_argmax", "a1b_argmax_maxby", "a7_ann_ivf").foreach { q =>
      val p = finalPlan(q)
      assert(!p.contains("SortAggregate"),
        s"$q regressed to SortAggregate:\n$p")
    }
  }

  test("s5: top-1 plans as TakeOrderedAndProject, not a global sort") {
    val p = finalPlan("s5_catalog_argmax")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("x6: the range join stays an equi-join — no nested-loop join") {
    val p = finalPlan("x6_interval_join")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"range join must bin-bucket to an equi-join:\n$p")
  }

  test("s1: filter and projection reach the parquet scan") {
    val p = finalPlan("s1_scan_prune")
    assert(p.contains("PushedFilters: [I"), p)
    assert(!p.contains("Exchange"), "s1 is scan+filter+project only")
  }

  test("events ts range predicates push into the parquet scan") {
    // the r12 NTZ read path's point: ts loads verbatim as UTC micros
    // (no cast layer wrapping the column), so a range predicate on ts
    // must reach the footer as a PushedFilter — on a 100 TB lake that
    // is the difference between pruning row groups and decoding them
    import org.apache.spark.sql.functions._
    val p = graft.Tables.events(spark, sf)
      .filter(col("ts") >= lit("2024-01-02").cast("timestamp"))
      .select("event_id", "ts")
      .queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters: [IsNotNull(ts), GreaterThanOrEqual(ts"),
      s"ts range filter must push to the scan:\n$p")
  }

  test("rest source: pushed predicates prune partitions before the scan") {
    import org.apache.spark.sql.functions._
    val df = spark.read
      .format("graft.sources.rest.RestIntradaySource")
      .option("resources", "steps,calories")
      .option("start", "2024-01-01").option("end", "2024-01-31")
      .load()
      .filter(col("date") === "2024-01-05" && col("resource") === "steps")
    assert(df.rdd.getNumPartitions === 1,
      "exactly one fetch unit must survive pruning")
  }

  test("t3/t10: per-group top-k carries a WindowGroupLimit (map-side " +
    "partial top-k)") {
    val p = finalPlan("t10_tfidf")
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("a9: register aggregation hash-aggregates; no nested-loop joins") {
    val p = finalPlan("a9_hll_distinct")
    assert(!p.contains("SortAggregate"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("d7: the cluster-size lookup broadcasts; labels read from cache") {
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val nodes = finalNodes("d7_dedup_cc")
    assert(nodes.exists(_.isInstanceOf[BroadcastHashJoinExec]),
      "the cluster-size lookup must broadcast")
    assert(nodes.exists(_.isInstanceOf[InMemoryTableScanExec]),
      "fixpoint labels must come from the persisted frontier")
  }

  test("d5: the trigram table derives ONCE — one Generate, every other " +
      "consumer reuses its exchange") {
    // the anchors, the set sizes and both intersection join sides all
    // read one distinct-trigram frame; with identical not-null filters
    // their exchanges canonicalize alike and AQE reuses the first, so
    // the scan → split → explode → hash chain executes once (it ran
    // three times when each consumer got its own inferred filters)
    import org.apache.spark.sql.execution.GenerateExec
    val nodes = finalNodes("d5_ngram_jaccard")
    val gens = nodes.count(_.isInstanceOf[GenerateExec])
    assert(gens === 1,
      s"d5's final plan executes $gens trigram Generate nodes — the " +
        "trigram table is being re-derived per consumer")
  }

  test("runtime bloom filter reduces the fact side of a selective " +
    "shuffle join (the 100 TB semi-join-reduction posture)") {
    // At fact-fact scale the dim side can't broadcast, but a SELECTIVE
    // dim filter can still prune the fact shuffle: Spark injects a
    // bloom_filter_agg on the filtered side and a might_contain guard
    // on the fact scan. Local thresholds are tuned down to make the
    // optimizer fire at test scale; production leaves the defaults.
    val c = spark.conf
    val keys = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold")
    val saved = keys.map(k => k -> c.getOption(k)).toMap
    try {
      c.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      c.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      c.set("spark.sql.optimizer.runtime.bloomFilter." +
        "applicationSideScanSizeThreshold", "0")
      c.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
        "100MB")
      val o = graft.Tables.orders(spark, sf)
        .filter(org.apache.spark.sql.functions.col("o_orderdate") >=
          "1998-06-01")
      val l = graft.Tables.lineitem(spark, sf)
      val plan = l.join(o, l("l_orderkey") === o("o_orderkey"))
        .queryExecution.optimizedPlan.toString
      assert(plan.contains("bloom_filter_agg"),
        s"no bloom build on the selective side:\n$plan")
      assert(plan.contains("might_contain"),
        s"no bloom probe on the fact side:\n$plan")
    } finally saved.foreach { case (k, v) => v.fold(c.unset(k))(c.set(k, _)) }
  }

  test("hot paths stay inside WholeStageCodegen, custom cosine included") {
    // the brief's rule: widen the codegen spans — a hot-path projection
    // or filter falling out of WSCG means interpreted row-at-a-time eval
    val t1 = finalPlan("t1_text_stats")
    assert(t1.contains("WholeStageCodegen") || t1.contains("*("),
      s"t1's pure projection must be codegen'd:\n$t1")
    // s1: the filter+project pipeline is one codegen stage over the scan
    val s1 = finalPlan("s1_scan_prune")
    assert(s1.split("\n").exists(l =>
      l.contains("Filter") && l.trim.startsWith("+- *(")
        || l.contains("*(") && l.contains("Filter")),
      s"s1's filter must be inside a codegen span:\n$s1")
    // the custom cosine_sim expression must not break codegen: the
    // project evaluating it carries the *(n) codegen marker
    val a5 = finalPlan("a5_ann_bruteforce")
    // the expression prints under its class nodeName, `cosinesimilarity`
    val cosLine = a5.split("\n").find(_.contains("cosinesimilarity"))
    assert(cosLine.isDefined, s"a5 should evaluate cosine_sim:\n$a5")
    assert(cosLine.get.contains("*("),
      s"cosine_sim fell out of WholeStageCodegen:\n${cosLine.get}")
  }

  test("j1 under key skew: AQE splits the hot customer's partition " +
    "(skew=true) instead of one straggler task") {
    // The j1 enrich shape — fact join dim on a key — with a real-world
    // pathology: one customer owns most of the fact rows (a bot
    // account, a default/null-like key). When the dim side is too big
    // to broadcast, the join is sort-merge and the hot key's partition
    // would serialize into one straggler; AQE's skew-join must split it.
    // Thresholds are scaled down so sf-test data registers as skewed;
    // production keeps the stock 256 MB threshold.
    import org.apache.spark.sql.functions._
    val c = spark.conf
    val keys = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes")
    val saved = keys.map(k => k -> c.getOption(k)).toMap
    try {
      c.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      c.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      c.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      c.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16k")
      c.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16k")
      // orders with 60% of rows funneled onto one hot custkey, then the
      // hot rows replicated 16× — the megabytes a real bot account's
      // rows occupy — so the scaled-down 16k threshold sees the hot
      // partition the way production's 256 MB threshold sees real skew.
      // Skew detection reads COMPRESSED shuffle sizes — the pad must be
      // row-unique (md5 chain) or lz4 flattens it below the threshold.
      val fact = graft.Tables.orders(spark, sf)
        .withColumn("k",
          when(col("o_orderkey") % 10 < 6, lit(1L))
            .otherwise(col("o_custkey")))
        .withColumn("rep", explode(
          when(col("k") === 1L, expr("sequence(1, 16)"))
            .otherwise(expr("array(1)"))))
        .withColumn("pad", expr(
          "concat(md5(CAST(o_orderkey * 100 + rep AS STRING)), " +
            "md5(CAST(o_orderkey * 100 + rep + 50 AS STRING)), " +
            "md5(CAST(o_orderkey * 317 + rep AS STRING)))"))
        // AQE splits a skewed partition at MAPPER granularity
        // (PartialReducerPartitionSpec reads mapper ranges) — the tiny
        // sf file is one scan task, which would leave nothing to split.
        // A real 100 TB scan has thousands of mappers; model that.
        .repartition(8)
      val dim = graft.Tables.customer(spark, sf)
        .select(col("c_custkey").as("k"), col("c_name"), col("c_mktsegment"))
      // pad must be in the output or column pruning strips it pre-shuffle
      val joined = fact.join(dim, Seq("k"))
        .select(col("o_orderkey"), col("c_name"), col("c_mktsegment"),
          col("pad"))
      val qe = joined.queryExecution
      val n = qe.toRdd.count()
      assert(n === fact.count(),
        "every fact row still enriches (key domain unchanged)")
      val plan = qe.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"hot-customer partition must be split by AQE skew-join:\n$plan")
    } finally saved.foreach { case (k, v) => v.fold(c.unset(k))(c.set(k, _)) }
  }

  test("a17: one linear descent query — the pinned edge index is " +
      "served from cache (build not inlined), hops single-referenced") {
    // r21b: the per-hop localCheckpoints are gone (self-loop edges make
    // each hop reference the previous frontier once), so the FINAL plan
    // is the whole 5-hop descent. Two invariants carry the design:
    // (1) the edge INDEX must come from the pin (InMemoryTableScan),
    //     never re-built inline — a failed pin re-runs the bucket build
    //     per hop (the r14 trap: 116 stages / 124 s task time), whose
    //     signature is the build's spread exchanges (hashpartitioning
    //     on the bucket key b) appearing in the search plan;
    // (2) linear growth: one probe_id exchange per hop plus the final
    //     top-K's (window-limit) — more means a hop re-grew a second
    //     frontier reference.
    // assert on the executed TREE, not its string: InMemoryTableScan
    // PRINTS its cached relation's build plan (bucket exchanges and
    // all), but the cached subtree is not executed — tree collection
    // sees only the real stages (the ADVICE r19 string-vs-tree note).
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val nodes = finalNodes("a17_nsw_search")
    assert(nodes.exists(_.isInstanceOf[InMemoryTableScanExec]),
      "final a17 plan lost the pinned edge index")
    assert(!nodes.exists(_.isInstanceOf[SortMergeJoinExec]),
      "a17 descent regressed to a shuffle join")
    val ex = nodes.count(
      _.isInstanceOf[org.apache.spark.sql.execution.exchange
        .ShuffleExchangeExec])
    assert(ex <= graft.operators.Ann.NSW_HOPS + 1,
      s"final a17 plan executes $ex shuffle stages — a hop re-grew a " +
        "second frontier reference (2^hops form) or the build inlined")
  }

  test("sql_a17: the five adjacency subtrees collapse to reused " +
      "exchanges") {
    // the r14 fix for the SQL twin: each hop references the frontier
    // once, and the broadcast hint makes every hop's adjacency side an
    // identical broadcast subtree that physical planning must collapse
    // (ReusedExchange/ReusedQueryStage) — without the collapse the
    // edge build runs per hop and the query reads ~2.7x its pin.
    val p = finalPlan("sql_a17_nsw")
    val reused = "ReusedExchange".r.findAllIn(p).length +
      "ReusedQueryStage".r.findAllIn(p).length
    assert(reused >= graft.operators.Ann.NSW_HOPS - 1,
      s"only $reused reused exchanges/stages in sql_a17's final plan — " +
        "the adjacency collapse regressed")
  }

  test("t19/sql_t19/sql_c12: the DSIR feature explode derives ONCE — " +
      "bydf's exchange is reused, not the corpus re-scanned") {
    // the r17 fix: the unigram+bigram corpus explode folds into the
    // per-(doc, bucket) count frame bydf, and BOTH consumers (bucket
    // counts and scoring) read bydf with the same column set, so its
    // shuffle must collapse to one build + ReusedExchange. Before the
    // fix the suite's heaviest intermediate was derived twice per run
    // (and load-amplified sql_t19 to 16x its pin in the r17 driver
    // sweep). The explode count is the sharp check: one derivation =
    // 2 Generate nodes (unigram + bigram); a regression to two
    // derivations prints 4.
    Seq("t19_dsir_weights", "sql_t19_dsir", "sql_c12_resample")
      .foreach { q =>
        val p = finalPlan(q)
        val reused = "ReusedExchange".r.findAllIn(p).length +
          "ReusedQueryStage".r.findAllIn(p).length +
          "ReusedShuffle".r.findAllIn(p).length
        assert(reused >= 1,
          s"$q: no reused exchange/stage — bydf derives twice:\n$p")
        val explodes = "Generate explode".r.findAllIn(p).length
        assert(explodes <= 2,
          s"$q: $explodes explode nodes in the final plan — the " +
            s"feature stream is being re-derived:\n$p")
      }
  }

  test("x20: every join in the bloom-pruned chain broadcasts — a " +
      "sort-merge anywhere means the filter/probe stopped being " +
      "metadata-sized") {
    val p = finalPlan("x20_bloom_join_prune")
    assert(!p.contains("SortMergeJoin"),
      s"x20 regressed to a shuffle join:\n$p")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("sql_x20: the SQL face keeps the DSL's plan shape — no scalar " +
      "subqueries re-deriving the distinct-fact-key frame, no shuffle " +
      "joins, and the repeated fkeys subtrees collapse to reuse") {
    val p = finalPlan("sql_x20_bloom_join")
    assert(!p.contains("SortMergeJoin"),
      s"sql_x20 regressed to a shuffle join:\n$p")
    // the joined report shape: four one-row aggregates meet in >= 3
    // nested-loop joins INSIDE one plan — the scalar-subquery form has
    // zero (each aggregate runs as its own driver-collected job)
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length >= 3,
      s"sql_x20's report tail regressed to scalar subqueries (each " +
        s"one plans as an independent job re-deriving fkeys):\n$p")
    val reused = "ReusedExchange".r.findAllIn(p).length +
      "ReusedQueryStage".r.findAllIn(p).length
    assert(reused >= 2,
      s"sql_x20: the repeated fkeys/dim subtrees stopped collapsing " +
        s"to reused exchanges:\n$p")
  }

  test("x21: bottom-K never global-sorts the key space — the salted " +
      "two-phase keeps WindowGroupLimit in the plan and the repeated " +
      "hash subtrees collapse to reused exchanges") {
    val p = finalPlan("x21_sketch_setops")
    assert("WindowGroupLimit".r.findAllIn(p).length >= 4,
      s"x21: the salted bottom-K rank pushdown disappeared:\n$p")
    val reused = "ReusedExchange".r.findAllIn(p).length +
      "ReusedQueryStage".r.findAllIn(p).length
    assert(reused >= 2,
      s"x21: the exact-truth counts stopped reusing the sketch " +
        s"side's hash exchanges:\n$p")
  }
}
