package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The pure-SQL entry point for the engine (VERDICT r11 top-next #1).
  *
  * The reference exposes a string expression language over its frames
  * (`activities.query("start_date_local >= @start_date")`,
  * services/strava/get_stream_data.py:68-75); the Spark-native analog is
  * the full `spark.sql` surface over a documented session catalog:
  * [[registerViews]] publishes the canonical testdata tables as temp
  * views (through the SAME loaders the Scala DSL uses — events arrives
  * ts-normalized, so SQL users never see a physical-generation type),
  * and GraftExtensions injects `cosine_sim` / `hll_estimate` /
  * `cm_sketch` as SQL-callable functions. A user of the reference can
  * therefore phrase every query in SQL text without touching the Scala
  * DSL; the DSv2 REST source is likewise SQL-reachable via
  * `CREATE TABLE ... USING graft.sources.rest.RestIntradaySource`
  * (SqlSurfaceSpec).
  *
  * The `sql_*` queries below are registered like any operator, but their
  * Spark side is NOTHING BUT SQL TEXT — each shares the oracle of the
  * DSL query it mirrors, so a green CORRECTNESS row proves
  * SQL text == DataFrame DSL == DuckDB on the same data. A twin that
  * differs from its oracle only in spelling is rendered from the
  * oracle's own text through [[Dialect]].
  */
object SqlFrontend {

  /** Tables whose raw parquet schema is already canonical. */
  private val rawTables = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "documents", "embeddings")

  /** Last directory registered per session — registering the catalog is
    * a once-per-session act (10 parquet footer reads); re-running it on
    * every sql_* invocation would charge each SQL query ~0.5 s of
    * catalog setup the DSL queries don't pay. Keyed on the SparkSession
    * OBJECT in a WeakHashMap (identity semantics without the
    * identityHashCode-collision hazard across newSession()/GC reuse —
    * r12 advice), synchronized because sql_* queries may register from
    * concurrent threads, and weak so a retired session's entry is
    * collectable rather than pinned forever. */
  private val registeredDir =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, String]())

  /** Publish the session catalog: one temp view per testdata table,
    * named exactly like the table (same names the DuckDB oracle uses,
    * so SQL text can be shared verbatim). Events goes through
    * Tables.events — the adaptive ts normalization is a LOADER concern
    * and SQL users get the one canonical schema whatever physical
    * timestamp generation is on disk. Idempotent and memoized per
    * (session, dir); the memo records the dir only AFTER every view
    * registered, so a mid-registration failure retries next call
    * instead of caching a half-built catalog (r12 advice). On a memo
    * hit the views' cached parquet file indexes are refreshed — the
    * testdata dir is regenerated in place between driver rounds, and a
    * session spanning a regeneration must re-list files like the DSL
    * loaders do, not serve the stale index. refreshTable only
    * invalidates (re-listing happens lazily at next use), so the hit
    * path stays ~free vs the ~0.5 s footer-read registration. */
  def registerViews(s: SparkSession, d: String): Unit = {
    if (registeredDir.get(s) != d) {
      rawTables.foreach(n =>
        Tables.table(s, d, n).createOrReplaceTempView(n))
      Tables.events(s, d).createOrReplaceTempView("events")
      registeredDir.put(s, d)
    } else {
      (rawTables :+ "events").foreach(n => s.catalog.refreshTable(n))
    }
  }

  private def sqlQ(
      name: String, text: String, oracle: Option[String]): Queries.Q =
    Queries.Q(name, (s, d) => { registerViews(s, d); s.sql(text) }, oracle)

  // Flagship join+agg as SQL text (the form SqlSurfaceSpec proves equal
  // to the DataFrame plan); shares q1's oracle, so the hash check pins
  // SQL == DSL == DuckDB. Decimal accumulation exactly as q1: ulp-stable
  // under partition order.
  val sqlQ1Flagship: Queries.Q = sqlQ(
    "sql_q1_flagship",
    """SELECT o_custkey, count(*) AS n_items,
      CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
               (CAST(1 AS DECIMAL(18,2)) -
                CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
      sum(l_quantity) AS sum_qty, max(l_shipdate) AS last_ship
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderdate >= TIMESTAMP '1998-01-01'
        AND o_orderdate <= TIMESTAMP '2000-12-31'
      GROUP BY o_custkey""",
    Queries.q1Flagship.oracle)

  // Date-bound filter where ONE ANSI string is both the Spark query and
  // the DuckDB oracle, character for character.
  private val f1f2Ansi =
    """SELECT * FROM orders
      WHERE CAST(o_orderdate AS DATE) >= DATE '1999-01-01'
        AND CAST(o_orderdate AS DATE) <= DATE '1999-12-31'"""
  val sqlF1f2: Queries.Q = sqlQ(
    "sql_f1f2_date_filter", f1f2Ansi, Some(f1f2Ansi))

  // Brute-force cosine top-k phrased in SQL through the injected
  // `cosine_sim` Catalyst expression — same kernel the DSL dispatches to
  // (Ann.cosineSql), so it shares a5's oracle. The 8-probe side is tiny;
  // AQE broadcasts it exactly as the DSL's explicit broadcast() does.
  val sqlA5CosineTopk: Queries.Q = sqlQ(
    "sql_a5_cosine_topk",
    """WITH p AS (
        SELECT vec_id AS probe_id, embedding AS p_emb
        FROM embeddings WHERE vec_id < 8),
      sims AS (
        SELECT probe_id, vec_id,
          round(cosine_sim(embedding, p_emb), 6) AS sim
        FROM embeddings CROSS JOIN p WHERE vec_id <> probe_id)
      SELECT probe_id, vec_id, sim
      FROM (SELECT *, row_number() OVER (PARTITION BY probe_id
            ORDER BY sim DESC, vec_id ASC) AS rn FROM sims) t
      WHERE rn <= 10""",
    operators.Ann.a5AnnBruteforce.oracle)

  // Per-language 3-gram cardinality through the injected `hll_estimate`
  // TypedImperativeAggregate, fully in SQL (h60 inlined as its Spark SQL
  // fragment — functions/Portable.scala); shares the HLL family's one
  // oracle, so SQL == native aggregate == relational == DuckDB.
  val sqlA9bHll: Queries.Q = sqlQ(
    "sql_a9b_hll",
    """WITH toks AS (
        SELECT lang, split(lower(text), ' ') AS t FROM documents),
      g AS (
        SELECT lang, explode(transform(sequence(0, size(t)-3),
          i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS gram
        FROM toks WHERE size(t) >= 3)
      SELECT lang, hll_estimate(CAST(conv(substring(md5(concat('hll|',
          gram)), 1, 15), 16, 10) AS BIGINT)) AS n_hll
      FROM g GROUP BY lang""",
    operators.LlmOps.a9bHllNative.oracle)

  // Event-time windows in SQL: GROUP BY window(ts, ...) — shares w1's
  // oracle, so the SQL text, the DSL window() aggregation, and DuckDB's
  // time_bucket all land on identical buckets.
  val sqlW1Tumbling: Queries.Q = sqlQ(
    "sql_w1_tumbling",
    """SELECT window.start AS w_start, count(*) AS n,
      CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      FROM events GROUP BY window(ts, '5 minutes')""",
    operators.Windows.w1Tumbling.oracle)

  // Grouping sets in SQL — the second verbatim-ANSI query: Spark and
  // DuckDB run this exact string (GROUP BY ROLLUP is common syntax).
  private val x2Ansi =
    """SELECT l_returnflag, l_linestatus, count(*) AS n,
      sum(l_quantity) AS sum_qty
      FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)"""
  val sqlX2Rollup: Queries.Q = sqlQ(
    "sql_x2_rollup", x2Ansi, Some(x2Ansi))

  // The analytic window battery's oracle is already one ANSI string
  // (named WINDOW clause, both orderings) — the third verbatim-ANSI
  // query: Spark SQL runs the identical text DuckDB runs, and the DSL
  // twin (Extended.x12WindowBattery) shares the same oracle, so one
  // green row pins Spark DSL == Spark SQL == DuckDB on the whole
  // lag/lead/rank/dense_rank/ntile/cume_dist/percent_rank/running-sum
  // surface. Same two-sort plan as the DSL battery (one Window operator
  // per named spec).
  val sqlX12Window: Queries.Q = {
    val t = operators.Extended.x12WindowBattery.oracle.get
    sqlQ("sql_x12_window", t, Some(t))
  }

  // The curriculum planner as SQL text. The BROADCAST hint reproduces
  // the DSL's plan: the stage map is planner-sized (distinct lengths),
  // the corpus is never sorted globally.
  val sqlC10Curriculum: Queries.Q = sqlQ(
    "sql_c10_curriculum", operators.LlmOps.c10Sql(Dialect.Spark),
    operators.LlmOps.c10Curriculum.oracle)

  // The grouping-sets lattice is the FOURTH verbatim-ANSI query: x13's
  // oracle text runs identically in Spark SQL and DuckDB (gid spelled
  // as per-column grouping() arithmetic — order-free where multi-arg
  // grouping_id() is engine-ordered), so one green row pins
  // DSL Expand == Spark SQL == DuckDB across the whole hand-picked
  // lattice. Same one-Expand/one-shuffle plan as the DSL twin.
  val sqlX13GroupingSets: Queries.Q = {
    val t = operators.Extended.x13GroupingSets.oracle.get
    sqlQ("sql_x13_grouping_sets", t, Some(t))
  }

  // AS-OF join as SQL text, sharing x1's DuckDB ASOF LEFT JOIN oracle.
  // Spark SQL has no ASOF keyword, so the text spells out the DSL's
  // union-tag technique (Extended.scala x1 notes): tag probe/candidate
  // rows, one window sorted by (t, is_b, key), last(m, true) carries the
  // latest strictly-earlier match forward. Probe rows order BEFORE
  // same-date candidates (is_b ASC), preserving the strict inequality;
  // b-rows' NULL o_orderkey sorts first within a tie group, which is
  // inert (all a-rows carry NULL m, so order among them can't change
  // the carried value). Same single-sort shape as the DSL at any scale —
  // a green row proves SQL text == DSL window == DuckDB's native ASOF.
  val sqlX1Asof: Queries.Q = sqlQ(
    "sql_x1_asof",
    """WITH o AS (
        SELECT o_custkey AS k, CAST(o_orderdate AS DATE) AS t, o_orderkey
        FROM orders),
      b AS (
        SELECT k, t, 1 AS is_b, CAST(NULL AS BIGINT) AS o_orderkey,
          named_struct('prev_date', t,
            'prev_orderkey', max(o_orderkey)) AS m
        FROM o GROUP BY k, t),
      a AS (
        SELECT k, t, 0 AS is_b, o_orderkey,
          CAST(NULL AS STRUCT<prev_date: DATE, prev_orderkey: BIGINT>)
            AS m
        FROM o),
      u AS (SELECT * FROM a UNION ALL SELECT * FROM b)
      SELECT o_orderkey, k AS o_custkey, t AS order_date,
        prev.prev_orderkey AS prev_orderkey, prev.prev_date AS prev_date
      FROM (
        SELECT *, last(m, true) OVER (PARTITION BY k
          ORDER BY t ASC, is_b ASC, o_orderkey ASC
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev
        FROM u) t
      WHERE is_b = 0""",
    operators.Extended.x1AsofJoin.oracle)

  // Session windows in SQL: GROUP BY session_window(ts, gap) — shares
  // w3's gaps-and-islands oracle, so the SQL text, the DSL
  // session_window aggregation, and DuckDB's lag/sum-over islands all
  // merge sessions identically (including the boundary case: an event
  // landing exactly at last+gap merges; the oracle breaks only on
  // strictly-greater gaps — Windows.scala w3 notes).
  val sqlW3Session: Queries.Q = sqlQ(
    "sql_w3_session",
    """SELECT user_id, session_window.start AS s_start,
      session_window.end AS s_end, count(*) AS n
      FROM events GROUP BY user_id, session_window(ts, '10 minutes')""",
    operators.Windows.w3Session.oracle)

  // The count-min sketch through SQL — completes SQL reachability of
  // all three injected native functions (cosine_sim, hll_estimate,
  // cm_sketch). Same pipeline as t12b: exact token counts → one
  // cm_sketch aggregate → per-top-token probes of the flattened
  // sketch; shares the t12/t12b family oracle, so SQL == native
  // aggregate == relational == DuckDB. (Unlike the DSL twin, there is
  // no relational fallback: the SQL text requires the extension, which
  // Verify/Bench/test sessions all inject.)
  val sqlT12bCountmin: Queries.Q = sqlQ(
    "sql_t12b_countmin", {
      import operators.LlmOps.{CM_D, CM_W}
      val bucketStructs = (0 until CM_D).map { i =>
        s"named_struct('depth', $i, 'bucket', " +
          s"${functions.Portable.h60Sql("tok", s"cm$i|")} % $CM_W)"
      }.mkString(", ")
      s"""WITH cnts AS (
        SELECT tok, count(*) AS n_exact
        FROM (SELECT explode(split(lower(text), ' ')) AS tok
              FROM documents)
        GROUP BY tok),
      sk AS (
        SELECT idx div $CM_W AS depth, idx % $CM_W AS bucket, cnt
        FROM (SELECT posexplode(sk) AS (idx, cnt)
              FROM (SELECT cm_sketch(tok, n_exact) AS sk FROM cnts))),
      top AS (
        SELECT tok, n_exact FROM cnts
        ORDER BY n_exact DESC, tok ASC LIMIT 10),
      probes AS (
        SELECT tok, n_exact, db.depth AS depth, db.bucket AS bucket
        FROM top LATERAL VIEW explode(array($bucketStructs)) t AS db)
      SELECT p.tok, p.n_exact, min(s.cnt) AS n_cm,
        min(s.cnt) - p.n_exact AS overcount
      FROM probes p JOIN sk s ON s.depth = p.depth AND s.bucket = p.bucket
      GROUP BY p.tok, p.n_exact"""
    },
    operators.LlmOps.t12bCountminNative.oracle)

  // Exact dedup as SQL text — the first d-family query through the SQL
  // surface; shares d1's oracle, so SQL text == DSL fingerprintsOf ==
  // DuckDB on the one normalization definition. (Dialect note: Spark's
  // parser unescapes string literals, so the regex is '\\s+' where the
  // DuckDB text writes '\s+' with an explicit 'g' flag — Spark's
  // regexp_replace is global by default.)
  val sqlD1Dedup: Queries.Q = sqlQ(
    "sql_d1_dedup",
    """SELECT md5(lower(trim(regexp_replace(text, '\\s+', ' ')))) AS h,
      min(doc_id) AS keep_id, count(*) AS n_dups
      FROM documents GROUP BY h""",
    operators.LlmOps.d1DedupExact.oracle)

  // BM25 from SQL — t18's whole chain (corpus-derived query workload,
  // round(ln,6) idf, Okapi length-normalized tf, DECIMAL score sums,
  // per-query top-5) as one Spark SQL string.
  val sqlT18Bm25: Queries.Q = sqlQ(
    "sql_t18_bm25", operators.LlmOps.t18Sql(Dialect.Spark),
    operators.LlmOps.t18Bm25.oracle)

  // URL canonicalization from SQL — d14's synthesis + canonicalization.
  val sqlD14Url: Queries.Q = sqlQ(
    "sql_d14_url", operators.LlmOps.d14Sql(Dialect.Spark),
    operators.LlmOps.d14UrlDedup.oracle)

  // Cross-document line-level dedup from SQL — d15's postings chain
  // (segment → hash → owner election → per-doc rebuild) as one SQL
  // string: the struct(line_no, line) collect + array_sort + transform
  // rebuild is the same expression tree the DSL compiles, so the twin
  // demonstrates the whole boilerplate-removal pass is SQL-reachable.
  val sqlD15LineDedup: Queries.Q = sqlQ(
    "sql_d15_line_dedup", {
      import graft.functions.Portable
      val w = operators.LlmOps.LINE_W
      s"""WITH toks AS (
        SELECT doc_id,
          split(lower(trim(regexp_replace(text, '\\\\s+', ' '))), ' ')
            AS t
        FROM documents),
      lines AS (
        SELECT doc_id, CAST(i AS BIGINT) AS line_no,
          concat_ws(' ', slice(t, i * $w + 1, $w)) AS line
        FROM toks
        LATERAL VIEW explode(sequence(0,
          CAST(floor((size(t) - 1) / $w) AS INT))) sq AS i),
      hashed AS (
        SELECT doc_id, line_no, line,
          ${Portable.h60Sql("line", "ld|")} AS lh
        FROM lines),
      own AS (
        SELECT lh, min(doc_id) AS owner,
          count(DISTINCT doc_id) AS n_docs
        FROM hashed GROUP BY lh),
      j AS (
        SELECT h.doc_id, h.line_no, h.line,
          (o.n_docs = 1 OR h.doc_id = o.owner) AS kept
        FROM hashed h JOIN own o ON o.lh = h.lh),
      agg AS (
        SELECT doc_id, count(*) AS n_lines,
          sum(CASE WHEN kept THEN CAST(1 AS BIGINT)
              ELSE CAST(0 AS BIGINT) END) AS n_kept,
          concat_ws(' ', transform(array_sort(collect_list(
            CASE WHEN kept THEN struct(line_no, line) END)),
            x -> x.line)) AS deduped_text
        FROM j GROUP BY doc_id)
      SELECT doc_id, n_lines, n_lines - n_kept AS n_dropped,
        round(CAST(n_kept AS DOUBLE) / n_lines, 6) AS kept_frac,
        deduped_text
      FROM agg"""
    },
    operators.LlmOps.d15LineDedup.oracle)

  // DSIR importance weighting from SQL — t19's hashed-feature
  // log-ratio chain. The broadcast hints reproduce the DSL's plan
  // (one-row totals and the 1024-bucket weight table never shuffle the
  // corpus side; the corpus appears on exactly one side of each join).
  // Like the DSL (r17 fix), the corpus explode folds ONCE into the
  // per-(doc, bucket) count CTE `bydf`, and every bydf reference stays
  // canonically identical — `WHERE f IS NOT NULL` pre-satisfies the
  // constraint the scored join would infer into only its copy, and the
  // raw/target cut filters the aggregated `tgt` flag instead of a
  // grouping-key predicate the optimizer would push into one copy's
  // scan — so the shuffle collapses to one build + ReusedExchange:
  // persist-free single derivation in pure SQL text
  // (PlanInvariantsSpec pins it for the DSL and both twins).
  /** t19's whole derivation as Spark SQL CTEs ending in `scored` —
    * shared by sql_t19 and sql_c12 (the dsirCtesDuck discipline on the
    * Spark-text side). */
  private def sparkDsirCtes: String = {
    import graft.functions.Portable
    val b = operators.LlmOps.DSIR_BUCKETS
    s"""toks AS (
        SELECT doc_id, split(lower(text), ' ') AS t FROM documents),
      feats AS (
        SELECT doc_id, ${Portable.h60Sql("g", "dsir|")} % $b AS f
        FROM (
          SELECT doc_id, explode(transform(sequence(0, size(t) - 1),
            i -> concat_ws(' ', t[i]))) AS g
          FROM toks WHERE size(t) >= 1
          UNION ALL
          SELECT doc_id, explode(transform(sequence(0, size(t) - 2),
            i -> concat_ws(' ', t[i], t[i+1]))) AS g
          FROM toks WHERE size(t) >= 2) u),
      bydf AS (
        SELECT doc_id, f, count(*) AS c FROM feats
        WHERE f IS NOT NULL GROUP BY doc_id, f),
      cnts AS (
        SELECT f,
          sum(CASE WHEN doc_id % 20 = 0 THEN c
              ELSE CAST(0 AS BIGINT) END) AS cnt_t,
          sum(CASE WHEN doc_id % 20 = 0 THEN CAST(0 AS BIGINT)
              ELSE c END) AS cnt_r
        FROM bydf GROUP BY f),
      tots AS (
        SELECT sum(cnt_t) AS tot_t, sum(cnt_r) AS tot_r FROM cnts),
      lw AS (
        SELECT /*+ BROADCAST(tots) */ f,
          round(ln(CAST((cnt_t + 1) * (tot_r + $b) AS DOUBLE)
            / CAST((cnt_r + 1) * (tot_t + $b) AS DOUBLE)), 6) AS lw
        FROM cnts CROSS JOIN tots),
      scored AS (
        SELECT doc_id, n_feats, w FROM (
          SELECT /*+ BROADCAST(lw) */ bd.doc_id,
            sum(bd.c) AS n_feats,
            sum(CAST(bd.c AS DECIMAL(10,0)) *
                CAST(lw.lw AS DECIMAL(18,6))) AS w,
            max(CASE WHEN bd.doc_id % 20 = 0 THEN 1 ELSE 0 END) AS tgt
          FROM bydf bd JOIN lw ON lw.f = bd.f
          GROUP BY bd.doc_id) g
        WHERE tgt = 0)"""
  }

  val sqlT19Dsir: Queries.Q = sqlQ(
    "sql_t19_dsir",
    s"""WITH $sparkDsirCtes
      SELECT doc_id, n_feats, CAST(w AS DOUBLE) AS logw,
        w > 0 AS selected
      FROM scored""",
    operators.LlmOps.t19DsirWeights.oracle)

  // DSIR importance RESAMPLING from SQL — c12's replayable ln-space
  // Bernoulli draw over the shared sparkDsirCtes chain, sharing c12's
  // oracle; the draw is pure projection, so the SQL form adds zero
  // exchanges past the weight chain.
  val sqlC12Resample: Queries.Q = sqlQ(
    "sql_c12_resample", {
      import graft.functions.Portable
      s"""WITH $sparkDsirCtes,
      drawn AS (
        SELECT doc_id, CAST(w AS DOUBLE) AS logw,
          round(ln((CAST(${Portable.h60Sql(
            "CAST(doc_id AS STRING)", "c12|")} % 1000000 AS DOUBLE)
            + 0.5) / 1000000.0), 6) AS log_u
        FROM scored)
      SELECT doc_id, logw, log_u,
        log_u < least(logw, CAST(0.0 AS DOUBLE)) AS accepted
      FROM drawn"""
    },
    operators.LlmOps.c12ImportanceResample.oracle)

  // Sliding windows from SQL — w2 was the one windows-family op with
  // no SQL surface (VERDICT r16 #7): GROUP BY window(ts, width, slide)
  // is plain Spark SQL text, same single hash-aggregate plan as the
  // DSL (each row projects into its width/slide = 2 windows before the
  // shuffle, map-side partial agg applies). Shares w2's oracle, so a
  // green row pins SQL == DSL == DuckDB's explicit 2-row offset cross
  // join.
  val sqlW2Sliding: Queries.Q = sqlQ(
    "sql_w2_sliding",
    """SELECT window.start AS w_start, count(*) AS n
      FROM events
      GROUP BY window(ts, '10 minutes', '5 minutes')""",
    operators.Windows.w2Sliding.oracle)

  // Gap fill from SQL — w4's grid + LOCF chain as one Spark SQL string
  // sharing w4's oracle: sequence/explode for the per-(resource, day)
  // minute grid, max_by for the day close, lag for the cross-day
  // carry, and the LOCF window via last_value IGNORE NULLS — dialect
  // deltas from the DuckDB oracle are only LATERAL VIEW explode vs
  // unnest(generate_series) and the IGNORE-NULLS spelling. Same
  // (resource, DAY)-bounded window partitioning as the DSL.
  val sqlW4GapFill: Queries.Q = sqlQ(
    "sql_w4_gap_fill",
    """WITH obs AS (
        SELECT event_type, date_trunc('minute', ts) AS m,
          CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS val
        FROM events GROUP BY 1, 2),
      closes AS (
        SELECT event_type, CAST(m AS DATE) AS day,
          max_by(val, m) AS close_val
        FROM obs GROUP BY 1, 2),
      carry AS (
        SELECT event_type, day,
          lag(close_val) OVER (PARTITION BY event_type ORDER BY day)
            AS carry
        FROM closes),
      grid AS (
        SELECT event_type, day, carry, m
        FROM carry
        LATERAL VIEW explode(sequence(CAST(day AS TIMESTAMP),
          CAST(day AS TIMESTAMP) + INTERVAL 23 HOURS 59 MINUTES,
          INTERVAL 1 MINUTE)) t AS m),
      joined AS (
        SELECT g.event_type, g.day, g.carry, g.m, o.val
        FROM grid g LEFT JOIN obs o
          ON o.event_type = g.event_type AND o.m = g.m),
      filled AS (
        SELECT event_type, day, carry, m, val,
          last_value(val) IGNORE NULLS OVER (
            PARTITION BY event_type, day ORDER BY m
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fday,
          count(CASE WHEN val IS NULL THEN 1 END) OVER (
            PARTITION BY event_type, day) AS n_missing_day
        FROM joined)
      SELECT event_type, m AS minute_ts,
        coalesce(fday, carry) AS value,
        CASE WHEN val IS NOT NULL THEN 'observed'
             WHEN fday IS NOT NULL THEN 'locf_same_day'
             WHEN carry IS NOT NULL THEN 'locf_prev_day'
             ELSE 'unfilled' END AS status,
        n_missing_day
      FROM filled""",
    operators.Windows.w4GapFill.oracle)

  // Conversion funnel from SQL — w5's strict-sequence semantics. Same
  // three user-keyed min-aggregates and monotone-shrinking joins as the
  // DSL; the 3-row rollup window is planner-sized.
  val sqlW5Funnel: Queries.Q = sqlQ(
    "sql_w5_funnel", operators.Windows.w5Sql(Dialect.Spark),
    operators.Windows.w5Funnel.oracle)

  // Cohort retention from SQL — w6's first-day cohorts.
  val sqlW6Cohort: Queries.Q = sqlQ(
    "sql_w6_cohort", operators.Windows.w6Sql(Dialect.Spark),
    operators.Windows.w6Cohort.oracle)

  // The data-quality suite from SQL — x16's seven contracts as one
  // Spark SQL string. This is the form a scheduler actually runs: one
  // SQL statement, gate on bool_and(passed).
  val sqlX16DataQuality: Queries.Q = sqlQ(
    "sql_x16_data_quality", operators.Extended.x16Sql(Dialect.Spark),
    operators.Extended.x16DataQuality.oracle)

  // Multimodal metadata from SQL — m1's typed projection (payload hex,
  // byte length, mime route, magic-bytes prefix) as plain Spark SQL
  // text over the documents view, sharing m1's oracle. The multimodal
  // family was the one family with zero sql_* twins (VERDICT r17 #5):
  // the container DECODE stages are imperative mapPartitions and stay
  // DSL-only, but the metadata projection (here) and the pHash report
  // (below) are relational. Plan shape matches the DSL's: one
  // codegen'd projection at scan speed, zero exchanges.
  val sqlM1Meta: Queries.Q = sqlQ(
    "sql_m1_meta",
    """SELECT doc_id, hex(CAST(text AS BINARY)) AS payload_hex,
      CAST(length(CAST(text AS BINARY)) AS BIGINT) AS n_bytes,
      CASE WHEN doc_id % 3 = 0 THEN
             CASE WHEN doc_id % 2 = 0 THEN 'image/png'
                  ELSE 'image/jpeg' END
           WHEN doc_id % 3 = 1 THEN 'audio/wav'
           ELSE 'video/mp4' END AS mime,
      hex(substring(CAST(text AS BINARY), 1, 4)) AS magic_hex
      FROM documents""",
    operators.Multimodal.m1MultimodalMeta.oracle)

  // Perceptual-hash dedup buckets from SQL — m4's report shares the m4
  // oracle, and the SQL text restates the dHash arithmetic exactly the
  // way that oracle already does (decode(containerize(x)) == x for the
  // image payload bytes, so the sampled-byte gradient hash is derivable
  // relationally from the hex encoding — the m2 oracle discipline, now
  // exercised from the user-facing SQL surface too). One projection +
  // one hash-agg on the 16-bit bucket key; the image slice (doc%3=0)
  // reaches the scan as a pushed filter.
  val sqlM4Phash: Queries.Q = sqlQ(
    "sql_m4_phash", {
      import operators.Multimodal.PHASH_SAMPLES
      s"""WITH m AS (
        SELECT doc_id, hex(CAST(text AS BINARY)) AS h,
          length(CAST(text AS BINARY)) AS n
        FROM documents
        WHERE doc_id % 3 = 0
          AND length(CAST(text AS BINARY)) >= $PHASH_SAMPLES),
      g AS (
        SELECT doc_id,
          transform(sequence(0, ${PHASH_SAMPLES - 1}), j ->
            CAST(conv(substring(h,
              CAST(1 + 2 * floor(j * n / $PHASH_SAMPLES.0) AS INT), 2),
              16, 10) AS INT)) AS s
        FROM m),
      ph AS (
        SELECT doc_id,
          aggregate(transform(sequence(0, ${PHASH_SAMPLES - 2}), i ->
            CASE WHEN element_at(s, i + 2) > element_at(s, i + 1)
              THEN CAST(power(2, i) AS BIGINT)
              ELSE CAST(0 AS BIGINT) END),
            CAST(0 AS BIGINT), (a, x) -> a + x) AS phash
        FROM g)
      SELECT phash, min(doc_id) AS keep_id, count(*) AS n_dups
      FROM ph GROUP BY phash"""
    },
    operators.Multimodal.m4MediaPhash.oracle)

  // Margin-based bitext mining from SQL — a31's whole chain (banded
  // cross-side candidates, micro-cosine kNN stats, the cross-multiplied
  // ratio-margin test, the mutual flag) as one Spark SQL text sharing
  // a31's oracle; the only dialect deltas are the band spelling
  // (element_at vs 1-based list index) and cosine_sim vs
  // list_inner_product/nrm.
  val sqlA31Margin: Queries.Q = sqlQ(
    "sql_a31_margin", {
      import operators.Ann.{d4BandsSparkSelects, MARGIN_K}
      s"""WITH bands AS (${d4BandsSparkSelects}),
      bsz AS (SELECT tbl, bkey, count(*) AS c FROM bands GROUP BY 1, 2),
      kept AS (
        SELECT b.vec_id, b.tbl, b.bkey FROM bands b
        JOIN bsz z ON z.tbl = b.tbl AND z.bkey = b.bkey
          AND z.c <= ${operators.LlmOps.BUCKET_CAP}),
      cand AS (
        SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
        FROM kept a JOIN kept b
          ON a.tbl = b.tbl AND a.bkey = b.bkey
        WHERE a.vec_id % 2 = 0 AND b.vec_id % 2 = 1),
      sims AS (
        SELECT c.a_id, c.b_id,
          CAST(round(cosine_sim(ea.embedding, eb.embedding) * 1000000)
            AS BIGINT) AS sim_u
        FROM cand c
        JOIN embeddings ea ON ea.vec_id = c.a_id
        JOIN embeddings eb ON eb.vec_id = c.b_id),
      rk AS (
        SELECT *,
          row_number() OVER (PARTITION BY a_id
            ORDER BY sim_u DESC, b_id ASC) AS rk_a,
          row_number() OVER (PARTITION BY b_id
            ORDER BY sim_u DESC, a_id ASC) AS rk_b
        FROM sims),
      astats AS (
        SELECT a_id, CAST(sum(sim_u) AS BIGINT) AS sum_a_u,
          count(*) AS n_a
        FROM rk WHERE rk_a <= $MARGIN_K GROUP BY a_id),
      bstats AS (
        SELECT b_id, CAST(sum(sim_u) AS BIGINT) AS sum_b_u,
          count(*) AS n_b
        FROM rk WHERE rk_b <= $MARGIN_K GROUP BY b_id),
      bwd AS (SELECT b_id, a_id AS bwd_a FROM rk WHERE rk_b = 1)
      SELECT f.a_id, f.b_id, f.sim_u, s1.n_a, s2.n_b,
        s1.sum_a_u, s2.sum_b_u,
        40 * f.sim_u * s1.n_a * s2.n_b >
          21 * (s1.sum_a_u * s2.n_b + s2.sum_b_u * s1.n_a) AS accepted,
        w.bwd_a = f.a_id AS mutual
      FROM (SELECT a_id, b_id, sim_u FROM rk WHERE rk_a = 1) f
      JOIN astats s1 USING (a_id)
      JOIN bstats s2 USING (b_id)
      JOIN bwd w USING (b_id)"""
    },
    operators.Ann.a31MarginMining.oracle)

  // Incremental quantile maintenance from SQL — x18's mergeable
  // bottom-K chain. Both rank filters compile to WindowGroupLimit
  // exactly as the DSL's samples do.
  val sqlX18Quantiles: Queries.Q = sqlQ(
    "sql_x18_quantiles", operators.Extended.x18Sql(Dialect.Spark),
    operators.Extended.x18IncrementalQuantiles.oracle)

  // Touch attribution from SQL — w7's two attribution models.
  val sqlW7Attribution: Queries.Q = sqlQ(
    "sql_w7_attribution", operators.Windows.w7Sql(Dialect.Spark),
    operators.Windows.w7Attribution.oracle)

  // Equi-height histograms from SQL — x15's fixed-size hash-ranked
  // sample + ntile cut. Not rendered from the oracle: it carries n_rows
  // through the sample (first(n_rows)) where the oracle cross-joins nr
  // at the end, and keys the hash with concat_ws, so its plan is its
  // own. Both rank filters compile to WindowGroupLimit exactly as the
  // DSL's.
  val sqlX15Histogram: Queries.Q = {
    import graft.functions.Portable.h60Sql
    import operators.Extended.{HIST_SAMPLE, HIST_BINS, histThreshSql}
    val key = "concat_ws('|', l_orderkey, l_linenumber)"
    sqlQ(
      "sql_x15_histogram",
      s"""WITH nr AS (
        SELECT CAST(count(*) AS BIGINT) AS n_rows FROM lineitem),
      survivors AS (
        SELECT l_quantity, l_extendedprice,
          ${h60Sql(key, "x15|")} AS h, nr.n_rows
        FROM lineitem CROSS JOIN nr
        WHERE ${h60Sql(key, "x15|")} <
          ${histThreshSql("nr.n_rows")}),
      stacked AS (
        SELECT 'l_quantity' AS col_name,
          CAST(l_quantity AS DOUBLE) AS val, h, n_rows
        FROM survivors
        UNION ALL
        SELECT 'l_extendedprice', CAST(l_extendedprice AS DOUBLE), h,
          n_rows
        FROM survivors),
      sample AS (
        SELECT col_name, val, h, n_rows FROM (
          SELECT *, row_number() OVER (PARTITION BY col_name
            ORDER BY h ASC, val ASC) AS rn
          FROM stacked) t
        WHERE rn <= $HIST_SAMPLE),
      binned AS (
        SELECT col_name, val, n_rows,
          CAST(ntile($HIST_BINS) OVER (PARTITION BY col_name
            ORDER BY val ASC, h ASC) AS BIGINT) AS bin
        FROM sample),
      bins AS (
        SELECT col_name, bin, CAST(count(*) AS BIGINT) AS n_sample,
          min(val) AS lo, max(val) AS hi, first(n_rows) AS n_rows
        FROM binned GROUP BY 1, 2),
      tot AS (
        SELECT col_name, CAST(count(*) AS BIGINT) AS n_in_sample
        FROM sample GROUP BY 1)
      SELECT b.col_name, b.bin, b.n_sample, b.lo, b.hi,
        round(CAST(b.n_rows AS DOUBLE) * b.n_sample / t.n_in_sample, 2)
          AS est_rows
      FROM bins b JOIN tot t USING (col_name)""",
      operators.Extended.x15HistogramStats.oracle)
  }

  // BPE train-then-encode from SQL — t21's full lifecycle in one Spark
  // SQL string. THE SHAPE IS THE POINT (the sql_g1 lesson, applied
  // before measuring this time): the naive unrolled form needs each
  // round to read s{i-1} twice (argmax CTE + apply CTE) and each
  // encode step to read that round's merge CTE — Spark inlines both,
  // 2^rounds copies of the corpus word-frequency scan. This form is
  // STRICTLY LINEAR: the round's best pair is computed IN-FRAME (pair
  // weights via a (sym, nxt)-partitioned window sum over the exploded
  // vocab, the argmax via an unpartitioned min() over a struct whose
  // field order (−weight, lhs, rhs) spells the (weight DESC, lhs ASC,
  // rhs ASC) total order), applied in the same projection, and
  // APPENDED to a `merges` array column that rides the chain — so
  // s{i} references s{i-1} exactly once, and the encode reads the
  // whole learned rule list from ONE terminal 1-row relation, applying
  // all 6 merges as one 18-replace projection over the corpus.
  // Windows run over the ≤256-word vocab (planner-sized); the final
  // corpus-total window over the thin counts frame is the documented
  // single-partition parity demonstration (the sql_g2 convention).
  val sqlT21Bpe: Queries.Q = sqlQ(
    "sql_t21_bpe_encode", {
      import operators.LlmOps.{BPE_VOCAB_CAP, BPE_ROUNDS, BPE_REPLACE_PASSES}
      def rp(seq: String, l: String, r: String): String =
        (1 to BPE_REPLACE_PASSES).foldLeft(seq)((e, _) =>
          s"replace($e, ' '||$l||' '||$r||' ', ' '||$l||$r||' ')")
      // an exhausted vocabulary (no adjacent pair anywhere) makes the
      // in-frame argmax NULL; without the guard the replace chain would
      // null every seq and the twin would silently diverge from the
      // DSL's empty-crossJoin passthrough (ADVICE r16 #3) — unreachable
      // at BPE_ROUNDS=6 over the 256-word vocab, guarded anyway
      val rounds = (1 to BPE_ROUNDS).map { i =>
        s"""s$i AS (
          SELECT word, freq,
            CASE WHEN best IS NULL THEN seq
              ELSE ${rp("seq", "best.lhs", "best.rhs")} END AS seq,
            CASE WHEN best IS NULL THEN merges
              ELSE array_append(merges,
                named_struct('lhs', best.lhs, 'rhs', best.rhs))
            END AS merges
          FROM (
            SELECT word, freq, seq, merges, ord,
              min(CASE WHEN nxt IS NOT NULL THEN
                named_struct('nw', -pw, 'lhs', sym, 'rhs', nxt) END)
                OVER () AS best
            FROM (
              SELECT word, freq, seq, merges, ord, sym, nxt,
                sum(freq) OVER (PARTITION BY sym, nxt) AS pw
              FROM (
                SELECT word, freq, seq, merges, ord, sym,
                  lead(sym) OVER (PARTITION BY word ORDER BY ord) AS nxt
                FROM (SELECT word, freq, seq, merges, ord, sym
                      FROM s${i - 1}
                      LATERAL VIEW posexplode(split(trim(seq), ' '))
                        t AS ord, sym) e1) e2) e3
          ) z
          WHERE ord = 0)"""
      }.mkString(",\n      ")
      val encApplied = (1 to BPE_ROUNDS).foldLeft("seq") { (e, i) =>
        // guard the accessor, not the chain: a CASE around the whole
        // replace chain would nest the previous round's expression
        // twice (2^rounds tree growth); a never-matching '~' sentinel
        // needle (seqs hold only [a-z] symbols and the '0' non-word
        // marker) keeps the fold linear when a guarded round appended
        // no merge and the list is shorter than BPE_ROUNDS
        def acc(f: String) =
          s"coalesce(CASE WHEN size(ms) >= $i " +
            s"THEN element_at(ms, $i).$f END, '~')"
        rp(e, acc("lhs"), acc("rhs"))
      }
      s"""WITH wc AS (
        SELECT word, count(*) AS freq
        FROM (SELECT explode(split(lower(text), ' ')) AS word
              FROM documents) t
        WHERE word rlike '^[a-z]+${"$"}'
        GROUP BY word ORDER BY freq DESC, word ASC LIMIT $BPE_VOCAB_CAP),
      s0 AS (
        SELECT word, freq,
          regexp_replace(word, '(.)', ' ${"$"}1') || ' ' AS seq,
          CAST(array() AS ARRAY<STRUCT<lhs: STRING, rhs: STRING>>)
            AS merges
        FROM wc),
      $rounds,
      mm AS (SELECT merges AS ms FROM s$BPE_ROUNDS LIMIT 1),
      enc AS (
        SELECT doc_id, $encApplied AS seq
        FROM (SELECT doc_id, array_join(transform(
            filter(split(lower(text), ' '), w -> w <> ''),
            w -> CASE WHEN w rlike '^[a-z]+${"$"}'
              THEN concat(regexp_replace(w, '(.)', ' ${"$"}1'), ' ')
              ELSE ' 0 ' END), '') AS seq
          FROM documents) d0
        CROSS JOIN mm)
      SELECT doc_id, n_tokens,
        sum(n_tokens) OVER () AS corpus_tokens
      FROM (SELECT doc_id,
          CASE WHEN trim(seq) = '' THEN CAST(0 AS BIGINT)
            ELSE CAST(size(split(trim(seq), ' +')) AS BIGINT) END
            AS n_tokens
        FROM enc) z"""
    },
    operators.LlmOps.t21BpeEncode.oracle)

  // Trained quality classifier from SQL — t22's Bernoulli-NB lifecycle
  // (gate-label, hash features, train, score WITH absence terms, route,
  // precision/recall report) as one Spark SQL string sharing t22's
  // oracle. Strictly linear (each CTE consumed once); the class ×
  // 64-bucket grid and the priors are planner-sized relations AQE
  // broadcasts, exactly like the DSL's explicit broadcast() hints.
  val sqlT22Classifier: Queries.Q = sqlQ(
    "sql_t22_classifier", {
      import graft.functions.Portable
      import operators.LlmOps.T22_NFEAT
      s"""WITH docs AS (
        SELECT doc_id, split(lower(text), ' ') AS t FROM documents),
      lab AS (
        SELECT doc_id, t,
          CASE WHEN size(t) >= 15
            AND CAST(size(filter(t, x -> x IN ('the', 'a')))
                AS DOUBLE) / size(t) <= 0.4
          THEN 'curated' ELSE 'quarantined' END AS label
        FROM docs),
      feats AS (
        SELECT DISTINCT doc_id,
          pmod(${Portable.h60Sql("bg", "t22|")}, $T22_NFEAT) AS fh
        FROM (
          SELECT doc_id, explode(transform(sequence(0, size(t) - 2),
            i -> concat_ws(' ', t[i], t[i+1]))) AS bg
          FROM lab WHERE size(t) >= 2) fx),
      train AS (SELECT doc_id, label FROM lab WHERE doc_id % 10 < 8),
      nl AS (SELECT label, count(*) AS n_docs FROM train GROUP BY 1),
      dfc AS (
        SELECT tr.label, f.fh, count(*) AS df
        FROM feats f JOIN train tr USING (doc_id) GROUP BY 1, 2),
      grid AS (
        SELECT nl.label AS p_label, g.fh,
          round(ln((coalesce(dfc.df, 0) + 1.0) / (nl.n_docs + 2)), 6)
            AS lp1,
          round(ln(1.0 - (coalesce(dfc.df, 0) + 1.0) / (nl.n_docs + 2)),
            6) AS lp0
        FROM nl
        CROSS JOIN (SELECT explode(sequence(0, ${T22_NFEAT - 1}))
          AS fh) g
        LEFT JOIN dfc ON dfc.label = nl.label AND dfc.fh = g.fh),
      prior AS (
        SELECT label AS p_label,
          round(ln(n_docs / (SELECT count(*) FROM train)), 6)
            AS logprior
        FROM nl),
      held AS (SELECT doc_id, label FROM lab WHERE doc_id % 10 >= 8),
      scored AS (
        SELECT h.doc_id, g.p_label,
          sum(CAST(CASE WHEN f.doc_id IS NOT NULL THEN g.lp1
            ELSE g.lp0 END AS DECIMAL(20,6))) AS sum_lp
        FROM held h CROSS JOIN grid g
        LEFT JOIN feats f ON f.doc_id = h.doc_id AND f.fh = g.fh
        GROUP BY 1, 2),
      final AS (
        SELECT s.doc_id, s.p_label,
          s.sum_lp + CAST(pr.logprior AS DECIMAL(20,6)) AS score
        FROM scored s JOIN prior pr ON pr.p_label = s.p_label),
      guess AS (
        SELECT doc_id, p_label AS guess FROM (
          SELECT *, row_number() OVER (PARTITION BY doc_id
            ORDER BY score DESC, p_label ASC) AS rn FROM final) z
        WHERE rn = 1),
      cm AS (SELECT h.doc_id, h.label, g.guess
             FROM held h JOIN guess g USING (doc_id)),
      bt AS (SELECT label, count(*) AS n_true,
               count(CASE WHEN guess = label THEN 1 END) AS n_correct
             FROM cm GROUP BY 1),
      bg AS (SELECT guess AS label, count(*) AS n_guessed
             FROM cm GROUP BY 1)
      SELECT label,
        CAST(coalesce(bt.n_true, 0) AS BIGINT) AS n_true,
        CAST(coalesce(bg.n_guessed, 0) AS BIGINT) AS n_guessed,
        CAST(coalesce(bt.n_correct, 0) AS BIGINT) AS n_correct,
        CASE WHEN coalesce(bg.n_guessed, 0) > 0 THEN
          round(CAST(coalesce(bt.n_correct, 0) AS DOUBLE)
            / bg.n_guessed, 6)
        END AS prec,
        CASE WHEN coalesce(bt.n_true, 0) > 0 THEN
          round(CAST(coalesce(bt.n_correct, 0) AS DOUBLE)
            / bt.n_true, 6)
        END AS rec
      FROM bt FULL OUTER JOIN bg USING (label)"""
    },
    operators.LlmOps.t22QualityClassifier.oracle)

  // PageRank from SQL — g1's integer-exact fixpoint as ONE Spark SQL
  // string. THE SHAPE IS THE POINT: the naive unrolled form (each round
  // = a recv CTE joining r{i-1} PLUS a dang CTE aggregating r{i-1})
  // references the previous round twice, Spark inlines both, and the
  // plan doubles per round — measured 23.3 s vs the DSL's 1.7 s at
  // sf0.1, the 2^rounds trap the DSL dodges with localCheckpoint. This
  // form makes each round a STRICTLY LINEAR chain referencing r{i-1}
  // exactly once: the dangling total rides along as an unpartitioned
  // window sum, and each node row EXPLODES into its self-record plus
  // its outgoing contributions (the edge list inlined into the
  // projection — no edges CTE to re-consume), so one hash-agg on the
  // receiving node rebuilds the next round's ranks. Lands within noise
  // of the DSL twin.
  //
  // Dialect note on the window (r15 VERDICT #6): the unpartitioned sum
  // necessarily runs in ONE partition — that part is intrinsic and
  // cheap (N thin node rows). What made the r15 form probe LINEAR at
  // 30× (5.7×/30× vs sql_g2's 2.3×) was everything DOWNSTREAM staying
  // in that single partition: explode and partial hash-agg are narrow
  // ops, so 2.5N generated rows per round ran single-threaded. sql_g2
  // never hit it because its window output feeds a keyed JOIN whose
  // exchange re-spreads the rows. Here no join exists, so the round
  // re-spreads EXPLICITLY: DISTRIBUTE BY doc_id between the window and
  // the explode — one extra N-row exchange per round buys back all 32
  // cores for the heavy generate+aggregate stage (re-probed 10×/30×
  // alongside the round's new queries; the chain stays strictly
  // linear, r{i-1} still referenced exactly once).
  /** The g1 fixpoint (nn, r0, s/r 1..8) as SPARK SQL CTE text ending in
    * r[[operators.Graph.PR_ITERS]] — shared by sql_g1 and sql_c11. */
  private def sparkG1Ctes: String = {
      import operators.Graph.{PR_ITERS, PR_SCALE, PR_DAMP_PCT}
      val rounds = (1 to PR_ITERS).map { i =>
        s"""s$i AS (
          SELECT explode(concat(
            array(named_struct('node', doc_id, 'n', n, 'outdeg', outdeg,
              'dang', dang, 'contrib', CAST(NULL AS BIGINT))),
            transform(filter(array(0L, 1L, 2L), k -> k < outdeg), k ->
              named_struct(
                'node', (doc_id * (CASE WHEN k = 0 THEN 7
                  WHEN k = 1 THEN 13 ELSE 29 END) + k + 1) % n,
                'n', CAST(NULL AS BIGINT),
                'outdeg', CAST(NULL AS BIGINT),
                'dang', CAST(NULL AS BIGINT),
                'contrib', pr div outdeg)))) AS x
          FROM (SELECT doc_id, n, outdeg, pr, dang
            FROM (SELECT doc_id, n, outdeg, pr,
                coalesce(sum(CASE WHEN outdeg = 0 THEN pr END) OVER (),
                  0L) AS dang
              FROM r${i - 1}) w
            DISTRIBUTE BY doc_id)),
        r$i AS (
          SELECT x.node AS doc_id, max(x.n) AS n,
            max(x.outdeg) AS outdeg,
            (15 * ($PR_SCALE div max(x.n))) div 100
              + ($PR_DAMP_PCT * (coalesce(sum(x.contrib), 0L)
                  + max(x.dang) div max(x.n))) div 100 AS pr
          FROM s$i GROUP BY x.node)"""
      }.mkString(",\n      ")
      s"""nn AS (SELECT count(*) AS n FROM documents),
      r0 AS (
        SELECT doc_id, nn.n, CAST(doc_id % 4 AS BIGINT) AS outdeg,
          $PR_SCALE div nn.n AS pr
        FROM documents CROSS JOIN nn),
      $rounds"""
  }

  val sqlG1Pagerank: Queries.Q = sqlQ(
    "sql_g1_pagerank",
    s"""WITH $sparkG1Ctes
      SELECT doc_id, outdeg, CAST(pr AS BIGINT) AS pr
      FROM r${operators.Graph.PR_ITERS}""",
    operators.Graph.g1Pagerank.oracle)

  // Personalized PageRank from SQL — g6's seeded fixpoint in sql_g1's
  // strictly-linear shape: each round's frame explodes into its
  // self-record plus its contributions (edges inlined into the
  // projection), one hash-agg rebuilds the next round, DISTRIBUTE BY
  // breaks the unpartitioned dangling window's single-partition tail
  // (the sql_g1 lesson), and the PPR deltas ride as pure functions of
  // the group key (node % SEED_MOD decides seed-ness, the leaf `nsq`
  // count joins broadcast per round). Shares g6's oracle.
  val sqlG6Ppr: Queries.Q = sqlQ(
    "sql_g6_ppr", {
      import operators.Graph.{PR_ITERS, PR_SCALE, PR_DAMP_PCT,
        PPR_SEED_MOD}
      val rounds = (1 to PR_ITERS).map { i =>
        s"""s$i AS (
          SELECT explode(concat(
            array(named_struct('node', doc_id, 'n', n, 'outdeg', outdeg,
              'dang', dang, 'contrib', CAST(NULL AS BIGINT))),
            transform(filter(array(0L, 1L, 2L), k -> k < outdeg), k ->
              named_struct(
                'node', (doc_id * (CASE WHEN k = 0 THEN 7
                  WHEN k = 1 THEN 13 ELSE 29 END) + k + 1) % n,
                'n', CAST(NULL AS BIGINT),
                'outdeg', CAST(NULL AS BIGINT),
                'dang', CAST(NULL AS BIGINT),
                'contrib', pr div outdeg)))) AS x
          FROM (SELECT doc_id, n, outdeg, pr, dang
            FROM (SELECT doc_id, n, outdeg, pr,
                coalesce(sum(CASE WHEN outdeg = 0 THEN pr END) OVER (),
                  0L) AS dang
              FROM p${i - 1}) w
            DISTRIBUTE BY doc_id)),
        p$i AS (
          SELECT x.node AS doc_id, max(x.n) AS n,
            max(x.outdeg) AS outdeg,
            (CASE WHEN x.node % $PPR_SEED_MOD = 0
              THEN (15 * ($PR_SCALE div q.ns)) div 100 ELSE 0L END)
            + ($PR_DAMP_PCT * (coalesce(sum(x.contrib), 0L)
                + CASE WHEN x.node % $PPR_SEED_MOD = 0
                  THEN max(x.dang) div q.ns ELSE 0L END)) div 100 AS pr
          FROM s$i CROSS JOIN nsq q
          GROUP BY x.node, q.ns)"""
      }.mkString(",\n      ")
      s"""WITH nn AS (SELECT count(*) AS n FROM documents),
      nsq AS (SELECT count(*) AS ns FROM documents
        WHERE doc_id % $PPR_SEED_MOD = 0),
      p0 AS (
        SELECT doc_id, nn.n, CAST(doc_id % 4 AS BIGINT) AS outdeg,
          CASE WHEN doc_id % $PPR_SEED_MOD = 0
            THEN $PR_SCALE div nsq.ns ELSE 0L END AS pr
        FROM documents CROSS JOIN nn CROSS JOIN nsq),
      $rounds
      SELECT doc_id, doc_id % $PPR_SEED_MOD = 0 AS is_seed,
        CAST(pr AS BIGINT) AS pr
      FROM p$PR_ITERS"""
    },
    operators.Graph.g6Ppr.oracle)

  // HITS from SQL — g2's strictly linear chain: each iterated score
  // frame is referenced exactly once (raw sums via the edge join,
  // normalization via an unpartitioned window total over the
  // null-filled node frame); only the LEAF edges/nodes CTEs are
  // multiply referenced.
  val sqlG2Hits: Queries.Q = sqlQ(
    "sql_g2_hits", operators.Graph.g2Sql(Dialect.Spark),
    operators.Graph.g2Hits.oracle)

  // Label propagation from SQL — g3's unrolled synchronous rounds. The
  // chain is strictly linear per round (votes → rank-1 winner, each
  // referencing only the previous label frame); nbrs/edges/nodes are
  // the only multiply-referenced CTEs and they are leaves.
  val sqlG3LabelProp: Queries.Q = sqlQ(
    "sql_g3_label_prop", operators.Graph.g3Sql(Dialect.Spark),
    operators.Graph.g3LabelProp.oracle)

  // k-core from SQL — g4's strictly-linear peeling (the redundant-
  // membership lemma in Graph.scala makes each round reference only
  // the previous alive frame once; only the final report doubles the
  // chain, a constant).
  val sqlG4Kcore: Queries.Q = sqlQ(
    "sql_g4_kcore", operators.Graph.g4Sql(Dialect.Spark),
    operators.Graph.g4Kcore.oracle)

  // Triangle counting from SQL — g5's degree-oriented wedge closure,
  // one-shot (no iteration, so no inlining hazard; oriented is the
  // only multiply-referenced non-leaf CTE and the plan reuses its
  // exchange).
  val sqlG5Triangles: Queries.Q = sqlQ(
    "sql_g5_triangles", operators.Graph.g5Sql(Dialect.Spark),
    operators.Graph.g5Triangles.oracle)

  /** Unrolled min-propagation rounds in [[nearDupLabelCtes]]; labels
    * land in `l<LABEL_ROUNDS>`. */
  private val LABEL_ROUNDS = 4

  /** The near-dup label derivation as Spark-dialect CTEs (`toks` →
    * anchor-blocked pair stats → edge list → unrolled min-propagation,
    * ending in `l<LABEL_ROUNDS>`) — the shared prefix of sql_d7 and
    * sql_e4. The chain is STRICTLY LINEAR (see sql_d7's shape notes:
    * the naive propagate-UNION-carry form expanded the candidate
    * subtree 2^rounds times and read 45.9 s). */
  private lazy val nearDupLabelCtes: String = {
    import operators.LlmOps.{ANCHORS, BUCKET_CAP}
    val prop = (1 to LABEL_ROUNDS).map { k =>
      s"""l$k AS (
        SELECT s.v AS v, min(l.lbl) AS lbl
        FROM symz s JOIN l${k - 1} l ON l.v = s.n
        GROUP BY s.v)"""
    }.mkString(",\n      ")
    s"""toks AS (
        SELECT doc_id, split(lower(text), ' ') AS t FROM documents),
      grams AS (
        SELECT DISTINCT doc_id, ${functions.Portable.h60Sql("g", "ng|")} AS gh
        FROM (SELECT doc_id, explode(transform(sequence(0, size(t)-3),
                i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS g
              FROM toks WHERE size(t) >= 3)),
      anchors AS (
        SELECT doc_id, gh AS anchor FROM (
          SELECT doc_id, gh, row_number() OVER (PARTITION BY doc_id
            ORDER BY gh ASC) AS rn FROM grams) t
        WHERE rn <= $ANCHORS),
      asz AS (SELECT anchor, count(*) AS c FROM anchors GROUP BY anchor),
      akept AS (
        SELECT a.doc_id, a.anchor FROM anchors a
        JOIN asz z ON z.anchor = a.anchor AND z.c <= $BUCKET_CAP),
      cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM akept a JOIN akept b
          ON a.anchor = b.anchor AND a.doc_id < b.doc_id),
      sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
      inter AS (
        SELECT c.id_a, c.id_b, count(*) AS n_inter
        FROM cand c
        JOIN grams ga ON ga.doc_id = c.id_a
        JOIN grams gb ON gb.doc_id = c.id_b AND gb.gh = ga.gh
        GROUP BY c.id_a, c.id_b),
      pstats AS (
        SELECT c.id_a, c.id_b, coalesce(i.n_inter, 0) AS ni,
          za.n AS na, zb.n AS nb
        FROM cand c
        LEFT JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
        JOIN sizes za ON za.doc_id = c.id_a
        JOIN sizes zb ON zb.doc_id = c.id_b),
      edges AS (SELECT id_a, id_b FROM pstats
        WHERE ni * 5 >= na + nb - ni),
      symz AS (
        SELECT e.v, e.n FROM (
          SELECT explode(array(
            named_struct('v', id_a, 'n', id_b),
            named_struct('v', id_b, 'n', id_a),
            named_struct('v', id_a, 'n', id_a),
            named_struct('v', id_b, 'n', id_b))) AS e
          FROM edges)),
      l0 AS (SELECT v, min(n) AS lbl FROM symz GROUP BY v),
      $prop"""
  }


  // Near-dup cluster assembly as SQL text, sharing d7's oracle. The
  // oracle's WITH RECURSIVE reach/labels fixpoint cannot run on Spark
  // 4.1: recursive CTEs accept only UNION ALL ([UNION_NOT_SUPPORTED_
  // IN_RECURSIVE_CTE]), and UNION ALL min-propagation diverges on the
  // cyclic near-dup graph (a label re-enters every cycle endlessly, so
  // the recursion only stops at the level limit — as an error). The
  // SQL form therefore UNROLLS the propagation: l0 is the closed-
  // neighborhood min (the DSL's fused star init, which alone converges
  // the clique-glued near-dup components — measured 1 confirmation
  // round at sf0.01 AND sf0.1), plus 4 unrolled min-propagation rounds
  // of safety margin. Convergence is still externally CHECKED, twice:
  // the DuckDB oracle computes the TRUE fixpoint (an unconverged l4
  // hash-mismatches loudly), and SqlSurfaceSpec pins sql == DSL
  // label-for-label.
  //
  // SHAPE DISCIPLINE (the first form of this read 45 s at sf0.1, 16×
  // the DSL twin): without persist() — which SQL text cannot express —
  // every CTE reference re-expands its subtree into the plan, so the
  // chain must be STRICTLY LINEAR. Three rules keep it so: (1) the
  // self-loop rides inside `symz` via one explode-shaped UNION-free
  // scan of `edges`, so a round is ONE join+agg over symz and the
  // previous round — the naive `propagate UNION ALL carry-over` form
  // references l(k-1) twice and expands the l0 subtree 2^rounds times;
  // (2) cluster_size is a window count over the final labels, not a
  // join against a separate GROUP BY (which would evaluate the whole
  // chain twice); (3) the repeated symz references collapse to
  // ReusedExchange/ReusedStage because the subtrees stay identical.
  val sqlD7Clusters: Queries.Q = sqlQ(
    "sql_d7_clusters",
    s"""WITH $nearDupLabelCtes
      SELECT v AS doc_id, lbl AS cluster_id,
        count(*) OVER (PARTITION BY lbl) AS cluster_size
      FROM l$LABEL_ROUNDS""",
    operators.LlmOps.d7DedupCc.oracle)

  // The WHOLE training-data build (e4) as ONE SQL string, sharing e4's
  // WITH RECURSIVE oracle — the flagship of the SQL surface: a user who
  // writes only SQL gets the near-dup cluster election (the unrolled
  // label chain above), the LM-decile and repetition elections, exact
  // dedup, lexical gates, decontamination routing, the seeded split,
  // per-shard packing, and the (split, source) manifest from one
  // statement. Discipline carried over: the chain stays linear (each
  // heavy CTE referenced once; `toks` feeds the gram/rep/LM derivations
  // exactly as the DSL's one tokenization does), integer arithmetic at
  // every rounding-sensitive edge (`div`, CAST AS BIGINT), and the
  // seeded h60 everywhere a hash routes a document.
  val sqlE4Pipeline: Queries.Q = sqlQ(
    "sql_e4_pipeline", {
      val h60split = functions.Portable.h60Sql(
        "CAST(s.doc_id AS STRING)", "split|")
      s"""WITH $nearDupLabelCtes,
      ccl AS (SELECT v AS doc_id FROM l$LABEL_ROUNDS WHERE v <> lbl),
      rg AS (
        SELECT doc_id, ${functions.Portable.h60Sql("g", "rep|")} AS gh
        FROM (SELECT doc_id, explode(transform(sequence(0, size(t)-3),
                i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS g
              FROM toks WHERE size(t) >= 3)),
      rpc AS (SELECT doc_id, gh, count(*) AS c FROM rg GROUP BY doc_id, gh),
      rep AS (
        SELECT doc_id,
          round(CAST(CAST(sum(c) AS BIGINT) - count(*) AS DOUBLE) /
                CAST(sum(c) AS BIGINT), 6) AS rep_ratio
        FROM rpc GROUP BY doc_id),
      lmp AS (
        SELECT doc_id,
          ${functions.Portable.h60Sql(
            "concat_ws(' ', t[i], t[i+1])", "lm2|")} AS gh,
          ${functions.Portable.h60Sql("t[i]", "lm1|")} AS w1h
        FROM (SELECT doc_id, t, explode(sequence(0, size(t)-2)) AS i
              FROM toks WHERE size(t) >= 2)),
      c2 AS (SELECT gh, count(*) AS c2 FROM lmp
             WHERE doc_id % 10 < 8 GROUP BY gh),
      c1 AS (SELECT w1h, count(*) AS c1 FROM lmp
             WHERE doc_id % 10 < 8 GROUP BY w1h),
      vocab AS (
        SELECT count(DISTINCT ${functions.Portable.h60Sql("tok", "lm1|")})
          AS v
        FROM (SELECT explode(t) AS tok FROM toks WHERE doc_id % 10 < 8)),
      scored AS (
        SELECT p.doc_id,
          CAST(round(ln(CAST(coalesce(c2.c2, 0) + 1 AS DOUBLE) /
                        CAST(coalesce(c1.c1, 0) + vocab.v AS DOUBLE)), 6)
               AS DECIMAL(28,6)) AS logp
        FROM lmp p
        LEFT JOIN c2 ON c2.gh = p.gh
        LEFT JOIN c1 ON c1.w1h = p.w1h
        CROSS JOIN vocab),
      lmscore AS (
        SELECT doc_id, round(CAST(sum(logp) AS DOUBLE) / count(*), 6)
          AS avg_logp
        FROM scored GROUP BY doc_id),
      dl AS (SELECT doc_id, lang FROM documents),
      lml AS (
        SELECT doc_id FROM (
          SELECT s.doc_id,
            row_number() OVER (PARTITION BY dl.lang
              ORDER BY s.avg_logp ASC, s.doc_id ASC) AS rn,
            count(*) OVER (PARTITION BY dl.lang) AS n
          FROM lmscore s JOIN dl ON dl.doc_id = s.doc_id) t
        WHERE rn <= n div 10),
      repl AS (
        SELECT doc_id FROM (
          SELECT r.doc_id,
            row_number() OVER (PARTITION BY dl.lang
              ORDER BY r.rep_ratio DESC, r.doc_id ASC) AS rn,
            count(*) OVER (PARTITION BY dl.lang) AS n
          FROM rep r JOIN dl ON dl.doc_id = r.doc_id) t
        WHERE rn <= n div 20),
      losers AS (
        SELECT doc_id FROM ccl
        UNION SELECT doc_id FROM lml
        UNION SELECT doc_id FROM repl),
      docs AS (
        SELECT doc_id, source,
          md5(lower(trim(regexp_replace(text, '\\\\s+', ' ')))) AS h,
          split(lower(text), ' ') AS t
        FROM documents),
      keep AS (SELECT min(doc_id) AS doc_id FROM docs GROUP BY h),
      survivors AS (
        SELECT d.doc_id, d.source, CAST(size(d.t) AS BIGINT) AS n_tokens
        FROM docs d JOIN keep k ON d.doc_id = k.doc_id
        WHERE d.doc_id NOT IN (SELECT doc_id FROM losers)
          AND size(d.t) >= 15
          AND CAST(size(filter(d.t, x -> x IN ('the', 'a'))) AS DOUBLE)
              / size(d.t) <= 0.4),
      cgrams AS (
        SELECT DISTINCT doc_id, ${functions.Portable.h60Sql("g", "dc|")}
          AS gh
        FROM (SELECT doc_id, explode(transform(sequence(0, size(t)-4),
                i -> concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3]))) AS g
              FROM toks WHERE size(t) >= 4)),
      contam AS (
        SELECT DISTINCT c.doc_id
        FROM cgrams c JOIN cgrams e ON e.gh = c.gh AND e.doc_id % 20 = 0
        WHERE c.doc_id % 20 <> 0),
      routed AS (
        SELECT s.doc_id, s.source, s.n_tokens,
          CASE WHEN s.doc_id % 20 = 0 THEN 'eval'
               WHEN c.doc_id IS NOT NULL THEN 'quarantine'
               WHEN $h60split % 10 < 8 THEN 'train'
               WHEN $h60split % 10 = 8 THEN 'valid'
               ELSE 'test' END AS split
        FROM survivors s LEFT JOIN contam c ON c.doc_id = s.doc_id),
      packed AS (
        -- SINGLE PASS (r21): routed is referenced ONCE. The packing
        -- cumsum rides the manifest scan as a CONDITIONAL window (train
        -- tokens only, ordered by doc_id within source), so train rows
        -- see exactly the prefix sum the old train-filtered window
        -- produced; the old two-reference form re-expanded the whole
        -- pipeline subtree into the plan a second time (SQL text cannot
        -- persist).
        SELECT doc_id, source, n_tokens, split,
          sum(CASE WHEN split = 'train' THEN n_tokens ELSE 0 END)
            OVER (PARTITION BY source ORDER BY doc_id) AS tcum
        FROM routed)
      SELECT split, source, count(*) AS n_docs,
        CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
        CASE WHEN split = 'train'
          THEN CAST(max((tcum - n_tokens)
            div ${operators.LlmOps.PACK_BUDGET}) + 1 AS BIGINT) END
          AS n_packs
      FROM packed
      GROUP BY split, source"""
    },
    operators.LlmOps.e4LlmPipeline.oracle)

  // The Gopher rule battery as SQL text, sharing t16's oracle — the
  // quality-gate family's SQL reachability proof. The integer-compare
  // discipline carries over verbatim (each rule is pure BIGINT
  // arithmetic in the text); the rule flags and n_failed land in
  // nested CTE levels because a same-level lateral alias reference
  // would tie the query to spark.sql.lateralColumnAlias being on.
  val sqlT16Gopher: Queries.Q = sqlQ(
    "sql_t16_gopher",
    """WITH b AS (
        SELECT doc_id, source, text, split(lower(text), ' ') AS t
        FROM documents),
      st AS (
        SELECT doc_id, source,
          CAST(size(t) AS BIGINT) AS n_words,
          CAST(length(replace(text, ' ', '')) AS BIGINT) AS n_chars,
          CAST(length(text) -
            length(regexp_replace(text, '[.,;:!?#]', '')) AS BIGINT)
            AS n_symbols,
          CAST(size(filter(t, x -> x rlike '[a-z]')) AS BIGINT) AS n_alpha,
          CAST(size(filter(t, x -> x IN ('the', 'a', 'of', 'and', 'to')))
            AS BIGINT) AS n_stop
        FROM b),
      rules AS (
        SELECT doc_id, source, n_words,
          round(CAST(n_chars AS DOUBLE) / n_words, 4) AS mean_word_len,
          round(CAST(n_symbols AS DOUBLE) / n_words, 6) AS symbol_ratio,
          round(CAST(n_alpha AS DOUBLE) / n_words, 6) AS alpha_frac,
          n_stop,
          n_words >= 50 AND n_words <= 100000 AS r_word_count,
          n_chars >= n_words * 3 AND n_chars <= n_words * 10 AS r_word_len,
          n_symbols * 10 <= n_words AS r_symbol,
          n_alpha * 5 >= n_words * 4 AS r_alpha,
          n_stop >= 2 AS r_stop
        FROM st),
      f AS (
        SELECT *,
          CAST(5 - (CAST(r_word_count AS INT) + CAST(r_word_len AS INT) +
            CAST(r_symbol AS INT) + CAST(r_alpha AS INT) +
            CAST(r_stop AS INT)) AS BIGINT) AS n_failed
        FROM rules)
      SELECT *, n_failed = 0 AS pass FROM f""",
    operators.LlmOps.t16GopherRules.oracle)

  // The CCNet perplexity-bucket chain as SQL text, sharing c7's oracle
  // — trains the bigram LM, scores every doc, and cuts per-lang
  // terciles in one WITH chain. SQL-dialect notes: the (bigram,
  // history) pair derivation explodes POSITIONS and indexes the token
  // array (arrays_zip's struct field names aren't stable SQL
  // identifiers), and the chain is linear except `pairs` (read by the
  // two count tables and the scored slice — the same three evaluations
  // the DSL's unpersisted lmScores performs, so SQL adds no plan cost
  // over its twin; SqlSurfaceSpec pins row equality).
  /** The Laplace-bigram LM chain (toks → hashed pairs → model counts →
    * per-doc scores) as SPARK SQL CTE text ending in
    * `lmscore (doc_id, n_bigrams, avg_logp)` — shared by sql_c7 and
    * sql_c11. */
  private val sparkLmCtes: String = """toks AS (
        SELECT doc_id, split(lower(text), ' ') AS t FROM documents),
      pairs AS (
        SELECT doc_id,
          CAST(conv(substring(md5(concat('lm2|',
            concat_ws(' ', t[i], t[i+1]))), 1, 15), 16, 10) AS BIGINT)
            AS gh,
          CAST(conv(substring(md5(concat('lm1|', t[i])), 1, 15), 16, 10)
            AS BIGINT) AS w1h
        FROM (SELECT doc_id, t, explode(sequence(0, size(t)-2)) AS i
              FROM toks WHERE size(t) >= 2)),
      c2 AS (SELECT gh, count(*) AS c2 FROM pairs
             WHERE doc_id % 10 < 8 GROUP BY gh),
      c1 AS (SELECT w1h, count(*) AS c1 FROM pairs
             WHERE doc_id % 10 < 8 GROUP BY w1h),
      vocab AS (
        SELECT count(DISTINCT CAST(conv(substring(md5(concat('lm1|',
          tok)), 1, 15), 16, 10) AS BIGINT)) AS v
        FROM (SELECT explode(t) AS tok FROM toks WHERE doc_id % 10 < 8)),
      scored AS (
        SELECT p.doc_id,
          CAST(round(ln(CAST(coalesce(c2.c2, 0) + 1 AS DOUBLE) /
                        CAST(coalesce(c1.c1, 0) + vocab.v AS DOUBLE)), 6)
               AS DECIMAL(28,6)) AS logp
        FROM pairs p
        LEFT JOIN c2 ON c2.gh = p.gh
        LEFT JOIN c1 ON c1.w1h = p.w1h
        CROSS JOIN vocab),
      lmscore AS (
        SELECT doc_id, count(*) AS n_bigrams,
          round(CAST(sum(logp) AS DOUBLE) / count(*), 6) AS avg_logp
        FROM scored GROUP BY doc_id)"""

  val sqlC7Ccnet: Queries.Q = sqlQ(
    "sql_c7_ccnet",
    s"""WITH $sparkLmCtes,
      sl AS (
        SELECT l.doc_id, l.avg_logp, d.lang
        FROM lmscore l JOIN documents d ON d.doc_id = l.doc_id),
      nt AS (
        SELECT lang, avg_logp,
          ntile(3) OVER (PARTITION BY lang
            ORDER BY avg_logp DESC, doc_id ASC) AS b
        FROM sl)
      SELECT lang,
        CASE b WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
          ELSE 'tail' END AS bucket,
        count(*) AS n_docs,
        round(CAST(sum(CAST(avg_logp AS DECIMAL(28,6))) AS DOUBLE)
          / count(*), 6) AS mean_logp,
        max(avg_logp) AS best_logp,
        min(avg_logp) AS worst_logp
      FROM nt GROUP BY lang, bucket""",
    operators.LlmOps.c7CcnetBuckets.oracle)

  // Rank-x-quality curation from SQL — c11's blend composed from the
  // two Spark-dialect chains this file already carries: sparkG1Ctes
  // (the strictly-linear 8-round PageRank) and sparkLmCtes (the
  // Laplace-bigram LM). CTE namespaces are disjoint by construction
  // (toks/pairs/c1/c2/vocab/scored/lmscore vs nn/r0../s1..); the blend
  // itself is c11's oracle text with div for // — per-language integer
  // positions, NULLS LAST explicit, BIGINT better-than sums. Shares
  // c11's oracle: green proves SQL == DSL == DuckDB across the whole
  // two-prior composition.
  val sqlC11RankCuration: Queries.Q = sqlQ(
    "sql_c11_rank_curation",
    s"""WITH $sparkLmCtes,
      $sparkG1Ctes,
      base AS (
        SELECT d.doc_id, d.lang, CAST(r.pr AS BIGINT) AS pr,
          CAST(row_number() OVER (PARTITION BY d.lang
            ORDER BY r.pr DESC, d.doc_id ASC) AS BIGINT) AS rank_rn,
          CAST(row_number() OVER (PARTITION BY d.lang
            ORDER BY s.avg_logp DESC NULLS LAST, d.doc_id ASC)
            AS BIGINT) AS lm_rn,
          CAST(count(*) OVER (PARTITION BY d.lang) AS BIGINT) AS n
        FROM documents d
        JOIN r${operators.Graph.PR_ITERS} r ON r.doc_id = d.doc_id
        LEFT JOIN lmscore s ON s.doc_id = d.doc_id)
      SELECT doc_id, lang, pr, rank_rn, lm_rn,
        (n - rank_rn) + (n - lm_rn) AS blend,
        row_number() OVER (PARTITION BY lang
          ORDER BY (n - rank_rn) + (n - lm_rn) DESC, doc_id ASC)
          <= n div 10 AS kept,
        CASE WHEN rank_rn <= n div 10 AND lm_rn > n div 10
               THEN 'rank_only'
             WHEN lm_rn <= n div 10 AND rank_rn > n div 10
               THEN 'lm_only'
             WHEN rank_rn <= n div 10 THEN 'both'
             ELSE 'neither' END AS signal
      FROM base""",
    operators.LlmOps.c11RankCuration.oracle)

  // Graph-ANN through the SQL surface: a17's corpus-scaled two-family
  // edge build (r14 — sign-prefix buckets sized by integer thresholds,
  // h60-random long-range buckets, sample-not-drop cap) + 5-hop unrolled
  // greedy beam as one WITH chain, leaning on the injected `cosine_sim`
  // (the SQL text is SIMPLER than the DuckDB oracle, which must spell
  // out list_inner_product/nrm). Shares a17's oracle; the unroll
  // discipline is sql_d7's (each hop references only the previous
  // frontier once — UNION dedup replaces the DSL's groupBy-max,
  // identical because sim is deterministic per pair).
  val sqlA17Nsw: Queries.Q = sqlQ(
    "sql_a17_nsw", {
      import operators.Ann.{NSW_MA, NSW_MB, NSW_MR, NSW_B, NSW_CAP,
        NSW_HOPS, NSW_K, NSW_RTARGET, NSW_ENTRIES}
      import graft.functions.Portable.h60Sql
      val families = Seq(
        ("a", operators.Ann.nswSignOffA, NSW_MA),
        ("b", operators.Ann.nswSignOffB, NSW_MB))
      val signCtes = families.map { case (t, off, m) =>
        s"""b$t AS (SELECT vec_id, embedding,
            CAST(pmod(${operators.Ann.nswSignKeySql("embedding", off)},
              shiftleft(1, nbits)) AS INT) AS b
          FROM embeddings CROSS JOIN nb),
        s$t AS (SELECT vec_id, embedding, b FROM (
            SELECT vec_id, embedding, b,
              row_number() OVER (PARTITION BY b ORDER BY
                ${h60Sql("CAST(vec_id AS STRING)", "nsws|")}, vec_id)
                AS srn
            FROM b$t) t WHERE srn <= $NSW_CAP),
        ef$t AS (
          SELECT v, n FROM (
            SELECT va.vec_id AS v, vb.vec_id AS n,
              row_number() OVER (PARTITION BY va.vec_id ORDER BY
                round(cosine_sim(va.embedding, vb.embedding), 6) DESC,
                vb.vec_id ASC) AS rn
            FROM b$t va JOIN s$t vb
              ON va.b = vb.b AND va.vec_id <> vb.vec_id) t
          WHERE rn <= $m)"""
      }.mkString(",\n        ")
      val edgeCtes =
        s"""nc AS (SELECT count(*) AS n FROM embeddings),
        nb AS (SELECT (${operators.Ann.nswNbitsSql}) AS nbits,
            greatest(CAST(1 AS BIGINT),
              CAST(floor(n / $NSW_RTARGET.0) AS BIGINT)) AS nb2
          FROM nc),
        $signCtes,
        br AS (SELECT vec_id,
            CAST(pmod(${h60Sql("CAST(vec_id AS STRING)", "nswr|")},
              nb2) AS INT) AS b
          FROM embeddings CROSS JOIN nb),
        sr AS (SELECT vec_id, b FROM (
            SELECT vec_id, b,
              row_number() OVER (PARTITION BY b ORDER BY
                ${h60Sql("CAST(vec_id AS STRING)", "nsws|")}, vec_id)
                AS srn
            FROM br) t WHERE srn <= $NSW_CAP),
        efr AS (
          SELECT v, n FROM (
            SELECT va.vec_id AS v, vb.vec_id AS n,
              row_number() OVER (PARTITION BY va.vec_id ORDER BY
                ${h60Sql("concat(CAST(va.vec_id AS STRING), '|', " +
          "CAST(vb.vec_id AS STRING))", "nsw2|")} ASC,
                vb.vec_id ASC) AS rn
            FROM br va JOIN sr vb
              ON va.b = vb.b AND va.vec_id <> vb.vec_id) t
          WHERE rn <= $NSW_MR)"""
      // Each hop references the previous frontier exactly ONCE (left
      // join against adjacency lists + explode of self ∪ neighbors,
      // then rescore): the r13 two-reference form (neighbor join +
      // UNION) doubled the inlined plan tree per hop — 2^5 copies of
      // the whole chain once the r14 edge build got heavier. The
      // BROADCAST hint makes every hop's adjacency side an IDENTICAL
      // broadcast-exchange subtree, which physical planning collapses
      // to one build + ReusedExchange — the SQL-text analogue of the
      // DSL's persisted edge index. Rescoring frontier members costs
      // B·(deg+1) cosines per probe per hop and changes nothing: sims
      // are deterministic per (probe, vec) pair.
      val hops = (1 to NSW_HOPS).map { k =>
        s"""c$k AS (
          SELECT /*+ BROADCAST(g) */ DISTINCT f.probe_id, t.nv AS vec_id
          FROM f${k - 1} f LEFT JOIN adjl g ON g.v = f.vec_id
          LATERAL VIEW explode(concat(array(f.vec_id),
            coalesce(g.ns, CAST(array() AS ARRAY<BIGINT>)))) t AS nv),
        f$k AS (
          SELECT probe_id, vec_id, sim FROM (
            SELECT c.probe_id, c.vec_id,
              round(cosine_sim(e.embedding, p.p_emb), 6) AS sim,
              row_number() OVER (PARTITION BY c.probe_id
                ORDER BY round(cosine_sim(e.embedding, p.p_emb), 6) DESC,
                c.vec_id ASC) AS rn
            FROM c$k c JOIN embeddings e ON e.vec_id = c.vec_id
            JOIN p ON p.probe_id = c.probe_id) t
          WHERE rn <= $NSW_B)"""
      }.mkString(",\n      ")
      s"""WITH $edgeCtes,
      edges AS (SELECT v, n FROM efa UNION SELECT v, n FROM efb
        UNION SELECT v, n FROM efr),
      adjl AS (SELECT v, collect_list(n) AS ns FROM edges GROUP BY v),
      p AS (
        SELECT vec_id AS probe_id, embedding AS p_emb
        FROM embeddings WHERE vec_id < 8),
      ent AS (SELECT vec_id FROM embeddings ORDER BY
          ${h60Sql("CAST(vec_id AS STRING)", "nswe|")}, vec_id
        LIMIT $NSW_ENTRIES),
      f0 AS (
        SELECT p.probe_id, e.vec_id,
          round(cosine_sim(e.embedding, p.p_emb), 6) AS sim
        FROM p CROSS JOIN embeddings e
        WHERE e.vec_id IN (SELECT vec_id FROM ent)),
      $hops
      SELECT probe_id, vec_id, sim, CAST(rn AS BIGINT) AS rank FROM (
        SELECT *, row_number() OVER (PARTITION BY probe_id
          ORDER BY sim DESC, vec_id ASC) AS rn FROM f$NSW_HOPS) t
      WHERE rn <= $NSW_K"""
    },
    operators.Ann.a17NswSearch.oracle)

  // The hierarchical HNSW descent through the SQL surface, sharing
  // a19's oracle: level CTE (the 1-in-8 geometric promotion off h60),
  // THREE per-layer edge builds (each sized by its own layer count —
  // the me/ncl/nbl chain re-reads the layer population, so the SQL
  // text keeps a19's every-layer-stays-bucketed property), per-layer
  // adjacency lists, and the descent phrased as three sql_a17-style
  // hop chains: two upper phases at width 8 passing top-4 down, the
  // base phase at the full beam. Hop discipline carried over verbatim
  // (one previous-frontier reference per hop; BROADCAST(g) makes each
  // phase's adjacency side an identical broadcast subtree physical
  // planning collapses to one build + ReusedExchange).
  val sqlA19Hnsw: Queries.Q = sqlQ(
    "sql_a19_hnsw", {
      import operators.Ann.{NSW_MA, NSW_MB, NSW_MR, NSW_B, NSW_CAP,
        NSW_K, NSW_RTARGET, NSW_ENTRIES, HNSW_PROMOTE, HNSW_MAXL,
        HNSW_UHOPS, HNSW_BHOPS, HNSW_UBEAM, HNSW_DESC}
      import graft.functions.Portable.h60Sql
      val p1 = HNSW_PROMOTE.toLong
      def layerEdges(k: Int): String = {
        def sample(src: String, out: String, cols: String) =
          s"""$out AS (SELECT $cols, b FROM (
              SELECT $cols, b, row_number() OVER (PARTITION BY b
                ORDER BY ${h60Sql("CAST(vec_id AS STRING)", "nsws|")},
                vec_id) AS srn
              FROM $src) t WHERE srn <= $NSW_CAP)"""
        val sign = Seq(
          ("a", operators.Ann.nswSignOffA, NSW_MA),
          ("b", operators.Ann.nswSignOffB, NSW_MB)).map {
          case (t, off, m) =>
            s"""lb$t$k AS (SELECT vec_id, embedding,
                CAST(pmod(${operators.Ann.nswSignKeySql("embedding", off)},
                  shiftleft(1, nbits)) AS INT) AS b
              FROM me$k CROSS JOIN nbl$k),
            ${sample(s"lb$t$k", s"ls$t$k", "vec_id, embedding")},
            lef$t$k AS (
              SELECT v, n FROM (
                SELECT va.vec_id AS v, vb.vec_id AS n,
                  row_number() OVER (PARTITION BY va.vec_id ORDER BY
                    round(cosine_sim(va.embedding, vb.embedding), 6)
                      DESC,
                    vb.vec_id ASC) AS rn
                FROM lb$t$k va JOIN ls$t$k vb ON va.b = vb.b
                  AND va.vec_id <> vb.vec_id) t
              WHERE rn <= $m)"""
        }.mkString(",\n        ")
        s"""me$k AS (SELECT em.vec_id, em.embedding FROM embeddings em
              JOIN lv ON lv.vec_id = em.vec_id AND lv.lvl >= $k),
          ncl$k AS (SELECT count(*) AS n FROM me$k),
          nbl$k AS (SELECT (${operators.Ann.nswNbitsSql}) AS nbits,
              greatest(CAST(1 AS BIGINT),
                CAST(floor(n / $NSW_RTARGET.0) AS BIGINT)) AS nb2
            FROM ncl$k),
          $sign,
          lbr$k AS (SELECT vec_id,
              CAST(pmod(${h60Sql("CAST(vec_id AS STRING)", "nswr|")},
                nb2) AS INT) AS b
            FROM me$k CROSS JOIN nbl$k),
          ${sample(s"lbr$k", s"lsr$k", "vec_id")},
          lefr$k AS (
            SELECT v, n FROM (
              SELECT va.vec_id AS v, vb.vec_id AS n,
                row_number() OVER (PARTITION BY va.vec_id ORDER BY
                  ${h60Sql("concat(CAST(va.vec_id AS STRING), '|', " +
          "CAST(vb.vec_id AS STRING))", "nsw2|")} ASC,
                  vb.vec_id ASC) AS rn
              FROM lbr$k va JOIN lsr$k vb ON va.b = vb.b
                AND va.vec_id <> vb.vec_id) t
            WHERE rn <= $NSW_MR),
          ledges$k AS (SELECT v, n FROM lefa$k
            UNION SELECT v, n FROM lefb$k
            UNION SELECT v, n FROM lefr$k),
          adjl$k AS (SELECT v, collect_list(n) AS ns
            FROM ledges$k GROUP BY v)"""
      }
      def sqlBeam(tag: String, start: String, adj: String,
          hops: Int, beam: Int): String =
        (1 to hops).map { j =>
          val prev = if (j == 1) start else s"f$tag${j - 1}"
          s"""c$tag$j AS (
            SELECT /*+ BROADCAST(g) */ DISTINCT f.probe_id, t.nv AS vec_id
            FROM $prev f LEFT JOIN $adj g ON g.v = f.vec_id
            LATERAL VIEW explode(concat(array(f.vec_id),
              coalesce(g.ns, CAST(array() AS ARRAY<BIGINT>)))) t AS nv),
          f$tag$j AS (
            SELECT probe_id, vec_id, sim FROM (
              SELECT c.probe_id, c.vec_id,
                round(cosine_sim(e.embedding, p.p_emb), 6) AS sim,
                row_number() OVER (PARTITION BY c.probe_id
                  ORDER BY round(cosine_sim(e.embedding, p.p_emb), 6)
                    DESC,
                  c.vec_id ASC) AS rn
              FROM c$tag$j c JOIN embeddings e ON e.vec_id = c.vec_id
              JOIN p ON p.probe_id = c.probe_id) t
            WHERE rn <= $beam)"""
        }.mkString(",\n      ")
      val phases = new StringBuilder
      var start = "f0"
      for (k <- HNSW_MAXL to 1 by -1) {
        phases.append(sqlBeam(s"u$k", start, s"adjl$k",
          HNSW_UHOPS, HNSW_UBEAM)).append(",\n      ")
        phases.append(
          s"""g$k AS (SELECT probe_id, vec_id, sim FROM (
            SELECT *, row_number() OVER (PARTITION BY probe_id
              ORDER BY sim DESC, vec_id ASC) AS rn
            FROM fu$k$HNSW_UHOPS) t
          WHERE rn <= $HNSW_DESC)""").append(",\n      ")
        start = s"g$k"
      }
      phases.append(sqlBeam("z", start, "adjl0", HNSW_BHOPS, NSW_B))
      s"""WITH lv AS (SELECT vec_id,
          CASE WHEN pmod(${h60Sql("CAST(vec_id AS STRING)", "lvl|")},
                 ${p1 * p1}) = 0 THEN 2
               WHEN pmod(${h60Sql("CAST(vec_id AS STRING)", "lvl|")},
                 $p1) = 0 THEN 1 ELSE 0 END AS lvl
        FROM embeddings),
      ${(0 to HNSW_MAXL).map(layerEdges).mkString(",\n      ")},
      p AS (
        SELECT vec_id AS probe_id, embedding AS p_emb
        FROM embeddings WHERE vec_id < 8),
      ent AS (SELECT vec_id FROM lv ORDER BY lvl DESC,
          ${h60Sql("CAST(vec_id AS STRING)", "nswe|")}, vec_id
        LIMIT $NSW_ENTRIES),
      f0 AS (
        SELECT p.probe_id, e.vec_id,
          round(cosine_sim(e.embedding, p.p_emb), 6) AS sim
        FROM p CROSS JOIN embeddings e
        WHERE e.vec_id IN (SELECT vec_id FROM ent)),
      $phases
      SELECT probe_id, vec_id, sim, CAST(rn AS BIGINT) AS rank FROM (
        SELECT *, row_number() OVER (PARTITION BY probe_id
          ORDER BY sim DESC, vec_id ASC) AS rn FROM fz$HNSW_BHOPS) t
      WHERE rn <= $NSW_K"""
    },
    operators.Ann.a19HnswLayers.oracle)

  // The 100 TB serving shape through the SQL surface: a14's whole
  // IVF-PQ chain — 2-Lloyd-iteration coarse quantizer (cells route
  // probes), per-subspace PQ codebooks, and ADC scoring through 16-bit
  // codes — as ONE WITH chain sharing a14's oracle, the way sql_a17
  // reaches the beam and sql_e4 the curation pipeline. Every rounding
  // boundary is the DSL's: csim rounded to 6 before the packed-long
  // argmax (hash-aggregable, no SortAggregate), distance terms rounded
  // then DECIMAL-summed, codes and ADC sums in exact integer micros.
  // The probe distance table and centroid sides are tiny (≤320 rows);
  // AQE broadcasts them exactly as the DSL's explicit broadcast() does.
  /** sql_a14's trained coarse-quantizer chain in Spark-SQL dialect
    * (seed cells c0 → assignment a1 → per-dim means m1 → refreshed
    * centroids c1 → trained assignment a2, plus the exploded `dims`
    * the means and sql_a14's PQ both read) — factored so sql_a20's
    * filtered search routes through the SAME trained cells. */
  private lazy val kmeansSparkCtes: String = {
    import operators.Ann.{KMEANS_K, PQ_M}
    s"""c0 AS (
        SELECT CAST(vec_id AS INT) AS cid, embedding AS c_emb
        FROM embeddings WHERE vec_id < $KMEANS_K),
      a1 AS (
        SELECT vec_id,
          15 - pmod(max(CAST(round(csim * 1000000) AS BIGINT) * 16
            + (15 - cid)), 16) AS cell
        FROM (SELECT e.vec_id, c.cid,
            round(cosine_sim(e.embedding, c.c_emb), 6) AS csim
          FROM embeddings e CROSS JOIN c0 c) t
        GROUP BY vec_id),
      dims AS (
        SELECT vec_id, pos AS dim, round(CAST(x0 AS DOUBLE), 6) AS x,
          CAST(pos / ${64 / PQ_M} AS INT) AS sub
        FROM embeddings LATERAL VIEW posexplode(embedding) t AS pos, x0),
      m1 AS (
        SELECT a1.cell, d.dim,
          round(CAST(sum(CAST(d.x AS DECIMAL(20,6))) AS DOUBLE)
            / count(*), 6) AS v
        FROM a1 JOIN dims d USING (vec_id)
        GROUP BY a1.cell, d.dim),
      c1 AS (
        SELECT cell AS cid,
          transform(sort_array(collect_list(struct(dim, v))), r -> r.v)
            AS c_emb
        FROM m1 GROUP BY cell),
      a2 AS (
        SELECT vec_id,
          15 - pmod(max(CAST(round(csim * 1000000) AS BIGINT) * 16
            + (15 - cid)), 16) AS cell
        FROM (SELECT e.vec_id, c.cid,
            round(cosine_sim(e.embedding, c.c_emb), 6) AS csim
          FROM embeddings e CROSS JOIN c1 c) t
        GROUP BY vec_id)"""
  }

  val sqlA14IvfPq: Queries.Q = sqlQ(
    "sql_a14_ivfpq", {
      import operators.Ann.{PQ_K}
      s"""WITH $kmeansSparkCtes,
      cents AS (
        SELECT CAST(vec_id AS INT) AS cid, dim, x AS c
        FROM dims WHERE vec_id < $PQ_K),
      sqd AS (
        SELECT d.vec_id, d.sub, c.cid,
          CAST(sum(CAST(round((d.x - c.c) * (d.x - c.c), 6)
            AS DECIMAL(20,6))) AS DOUBLE) AS sqdist
        FROM dims d JOIN cents c ON c.dim = d.dim
        GROUP BY d.vec_id, d.sub, c.cid),
      codes AS (
        SELECT vec_id, sub,
          CAST(pmod(min(CAST(round(sqdist * 1000000) AS BIGINT) * $PQ_K
            + cid), $PQ_K) AS INT) AS code
        FROM sqd GROUP BY vec_id, sub),
      idx AS (
        SELECT k.vec_id, a2.cell, k.sub, k.code
        FROM codes k JOIN a2 USING (vec_id)),
      tbl AS (
        SELECT s.vec_id AS probe_id, a2.cell, s.sub, s.cid AS code,
          CAST(round(s.sqdist * 1000000) AS BIGINT) AS micro
        FROM sqd s JOIN a2 ON a2.vec_id = s.vec_id
        WHERE s.vec_id >= 100 AND s.vec_id < 110),
      adc AS (
        SELECT t.probe_id, k.vec_id, sum(t.micro) AS adc_micro
        FROM idx k JOIN tbl t
          ON t.cell = k.cell AND t.sub = k.sub AND t.code = k.code
        WHERE k.vec_id <> t.probe_id
        GROUP BY t.probe_id, k.vec_id)
      SELECT probe_id, vec_id,
        round(CAST(adc_micro AS DOUBLE) / 1000000.0, 6) AS adc_dist
      FROM (SELECT *, row_number() OVER (PARTITION BY probe_id
          ORDER BY adc_micro ASC, vec_id ASC) AS rn FROM adc) t
      WHERE rn <= 5"""
    },
    operators.Ann.a14IvfPq.oracle)

  // Filtered vector search through the SQL surface, sharing a20's
  // oracle: the trained coarse cells come from the SAME Spark-SQL
  // Lloyd chain sql_a14 serves from, and both strategies (exact
  // label-slice scan vs cell-routed post-filter with its visible
  // shortfall) are plain joins off it — the full filtered-retrieval
  // report in one SQL string.
  val sqlA20Filtered: Queries.Q = sqlQ(
    "sql_a20_filtered",
    s"""WITH $kmeansSparkCtes,
      cells AS (
        SELECT e.vec_id, a2.cell, e.embedding, e.label
        FROM embeddings e JOIN a2 ON a2.vec_id = e.vec_id),
      p AS (
        SELECT vec_id AS probe_id, cell AS p_cell, embedding AS p_emb,
               label AS p_label
        FROM cells WHERE vec_id < 8),
      pre AS (
        SELECT p.probe_id, c.vec_id,
          round(cosine_sim(c.embedding, p.p_emb), 6) AS sim,
          'prefilter' AS strategy
        FROM cells c JOIN p ON c.label = p.p_label
          AND c.vec_id <> p.probe_id),
      post AS (
        SELECT p.probe_id, c.vec_id,
          round(cosine_sim(c.embedding, p.p_emb), 6) AS sim,
          'ivf_postfilter' AS strategy
        FROM cells c JOIN p ON c.cell = p.p_cell
          AND c.label = p.p_label AND c.vec_id <> p.probe_id),
      u AS (SELECT * FROM pre UNION ALL SELECT * FROM post)
      SELECT probe_id, strategy, vec_id, sim, CAST(rn AS BIGINT) AS rank
      FROM (SELECT *, row_number() OVER (
          PARTITION BY probe_id, strategy
          ORDER BY sim DESC, vec_id ASC) AS rn FROM u) t
      WHERE rn <= 5""",
    operators.Ann.a20FilteredAnn.oracle)

  // The nprobe tuning sweep through the SQL surface, sharing a21's
  // oracle: multi-cell routing, per-tier candidates and recall@5
  // against exact truth — the serving dial's tuning curve as one SQL
  // string off the same factored Lloyd chain.
  val sqlA21Nprobe: Queries.Q = sqlQ(
    "sql_a21_nprobe",
    s"""WITH $kmeansSparkCtes,
      sw_cells AS (
        SELECT e.vec_id, a2.cell, e.embedding
        FROM embeddings e JOIN a2 ON a2.vec_id = e.vec_id),
      sw_p AS (
        SELECT vec_id AS probe_id, embedding AS p_emb
        FROM embeddings WHERE vec_id < 8),
      sw_pr AS (
        SELECT probe_id, cid, row_number() OVER (PARTITION BY probe_id
            ORDER BY csim DESC, cid ASC) AS rc
        FROM (SELECT p.probe_id, c.cid,
            round(cosine_sim(c.c_emb, p.p_emb), 6) AS csim
          FROM sw_p p CROSS JOIN c1 c) t),
      sw_np AS (SELECT explode(array(${
        operators.Ann.NPROBES.mkString(", ")})) AS nprobe),
      sw_route AS (
        SELECT np.nprobe, pr.probe_id, pr.cid
        FROM sw_pr pr CROSS JOIN sw_np np WHERE pr.rc <= np.nprobe),
      sw_cand AS (
        SELECT r.nprobe, r.probe_id, c.vec_id,
          round(cosine_sim(c.embedding, p.p_emb), 6) AS sim
        FROM sw_route r JOIN sw_cells c ON c.cell = r.cid
        JOIN sw_p p ON p.probe_id = r.probe_id
        WHERE c.vec_id <> r.probe_id),
      sw_top AS (
        SELECT nprobe, probe_id, vec_id FROM (
          SELECT *, row_number() OVER (PARTITION BY nprobe, probe_id
            ORDER BY sim DESC, vec_id ASC) AS rn FROM sw_cand) t
        WHERE rn <= 5),
      sw_nc AS (
        SELECT nprobe, probe_id, count(*) AS n_candidates
        FROM sw_cand GROUP BY nprobe, probe_id),
      sw_truth AS (
        SELECT probe_id, vec_id FROM (
          SELECT p.probe_id, e.vec_id,
            row_number() OVER (PARTITION BY p.probe_id ORDER BY
              round(cosine_sim(e.embedding, p.p_emb), 6) DESC,
              e.vec_id ASC) AS rn
          FROM sw_p p CROSS JOIN embeddings e
          WHERE e.vec_id <> p.probe_id) t
        WHERE rn <= 5),
      sw_hits AS (
        SELECT t.nprobe, t.probe_id, count(tr.vec_id) AS n_hits
        FROM sw_top t LEFT JOIN sw_truth tr
          ON tr.probe_id = t.probe_id AND tr.vec_id = t.vec_id
        GROUP BY t.nprobe, t.probe_id)
      SELECT h.nprobe, h.probe_id, n.n_candidates, h.n_hits,
        round(CAST(h.n_hits AS DOUBLE) / 5, 6) AS recall
      FROM sw_hits h JOIN sw_nc n
        ON n.nprobe = h.nprobe AND n.probe_id = h.probe_id""",
    operators.Ann.a21NprobeSweep.oracle)

  // Incremental graph maintenance through the SQL surface — a18's
  // frozen-sizing insertion as one WITH chain sharing a18's oracle:
  // standing/batch split, corpus-sized sign buckets + random buckets
  // (the sizing CTE reads the STANDING count only), per-bucket h60
  // sample of the standing side, per-arrival top-M ranks, and the
  // out ∪ back delta edge list.
  val sqlA18Extend: Queries.Q = sqlQ(
    "sql_a18_extend", {
      import operators.Ann.{NSW_MA, NSW_MB, NSW_MR, NSW_CAP, NSW_RTARGET}
      import graft.functions.Portable.h60Sql
      def famCtes(tag: String, off: Int, m: Int) =
        s"""bs_$tag AS (SELECT vec_id, embedding,
            CAST(pmod(${operators.Ann.nswSignKeySql("embedding", off)},
              shiftleft(1, nbits)) AS INT) AS b
          FROM es CROSS JOIN nb),
        ss_$tag AS (SELECT vec_id, embedding, b FROM (
            SELECT vec_id, embedding, b,
              row_number() OVER (PARTITION BY b ORDER BY
                ${h60Sql("CAST(vec_id AS STRING)", "nsws|")}, vec_id)
                AS srn
            FROM bs_$tag) t WHERE srn <= $NSW_CAP),
        qa_$tag AS (SELECT vec_id, embedding,
            CAST(pmod(${operators.Ann.nswSignKeySql("embedding", off)},
              shiftleft(1, nbits)) AS INT) AS b
          FROM eb CROSS JOIN nb),
        ef_$tag AS (
          SELECT src, dst, sim FROM (
            SELECT q.vec_id AS src, t.vec_id AS dst,
              round(cosine_sim(q.embedding, t.embedding), 6) AS sim,
              row_number() OVER (PARTITION BY q.vec_id ORDER BY
                round(cosine_sim(q.embedding, t.embedding), 6) DESC,
                t.vec_id ASC) AS rn
            FROM qa_$tag q JOIN ss_$tag t ON q.b = t.b) x
          WHERE rn <= $m)"""
      s"""WITH es AS (
        SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 <> 0),
      eb AS (
        SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 = 0),
      nc AS (SELECT count(*) AS n FROM es),
      nb AS (SELECT (${operators.Ann.nswNbitsSql}) AS nbits,
          greatest(CAST(1 AS BIGINT),
            CAST(floor(n / $NSW_RTARGET.0) AS BIGINT)) AS nb2
        FROM nc),
      ${famCtes("a", operators.Ann.nswSignOffA, NSW_MA)},
      ${famCtes("b", operators.Ann.nswSignOffB, NSW_MB)},
      bs_r AS (SELECT vec_id, embedding,
          CAST(pmod(${h60Sql("CAST(vec_id AS STRING)", "nswr|")},
            nb2) AS INT) AS b
        FROM es CROSS JOIN nb),
      ss_r AS (SELECT vec_id, embedding, b FROM (
          SELECT vec_id, embedding, b,
            row_number() OVER (PARTITION BY b ORDER BY
              ${h60Sql("CAST(vec_id AS STRING)", "nsws|")}, vec_id)
              AS srn
          FROM bs_r) t WHERE srn <= $NSW_CAP),
      qa_r AS (SELECT vec_id, embedding,
          CAST(pmod(${h60Sql("CAST(vec_id AS STRING)", "nswr|")},
            nb2) AS INT) AS b
        FROM eb CROSS JOIN nb),
      ef_r AS (
        SELECT src, dst, sim FROM (
          SELECT q.vec_id AS src, t.vec_id AS dst,
            round(cosine_sim(q.embedding, t.embedding), 6) AS sim,
            row_number() OVER (PARTITION BY q.vec_id ORDER BY
              ${h60Sql("concat(CAST(q.vec_id AS STRING), '|', " +
        "CAST(t.vec_id AS STRING))", "nsw2|")} ASC,
              t.vec_id ASC) AS rn
          FROM qa_r q JOIN ss_r t ON q.b = t.b) x
        WHERE rn <= $NSW_MR),
      outs AS (
        SELECT DISTINCT src, dst, sim FROM (
          SELECT src, dst, sim FROM ef_a
          UNION ALL SELECT src, dst, sim FROM ef_b
          UNION ALL SELECT src, dst, sim FROM ef_r) u)
      SELECT src, dst, sim, 'out' AS kind FROM outs
      UNION ALL
      SELECT dst AS src, src AS dst, sim, 'back' AS kind FROM outs"""
    },
    operators.Ann.a18GraphExtend.oracle)

  // The no-silent-caps report through the SQL surface: every capped
  // index's pre-cap band/bucket table re-derived as one WITH chain
  // (per-index CTE prefixes keep the eight derivations disjoint) and
  // eight UNION ALL saturation-stat branches. Shares d13's oracle, so
  // SQL == DSL == DuckDB on the observability numbers a production
  // monitor would alarm on.
  val sqlD13CapReport: Queries.Q = sqlQ(
    "sql_d13_cap_report", {
      // r21 single-pass restructure, twin of the DSL's (see
      // LlmOps.d13CapReport): ONE tall (src, k1, k2) union feeds ONE
      // per-bucket count and ONE per-index saturation aggregate; the 18
      // NSW-family bucket tables come from one hashed pass over
      // embeddings (sign keys / rand draw are member-independent, only
      // the nbits/nb2 modulus varies with member size), and d12's band
      // table is derived once for both its cap rows. The old form ran
      // ~24 independent count-agg branches, each re-expanding its band
      // CTE into the plan.
      import operators.LlmOps.{BUCKET_CAP, d2BandsSparkCtes,
        d3bBandsSparkCtes, d5AnchorsSparkCtes}
      import operators.Ann.{D12B_CAP, NSW_CAP}
      import graft.functions.Portable.h60Sql
      val ann = operators.Ann
      val p1 = ann.HNSW_PROMOTE.toLong
      val lvlH = h60Sql("CAST(vec_id AS STRING)", "lvl|")
      val members = Seq(
        ("nsw_", "true", 0),
        ("a19_l1_", "lvl >= 1", 1),
        ("a19_l2_", "lvl >= 2", 2),
        ("a18_", "standing", 3),
        ("a24_l1_", "standing AND lvl >= 1", 4),
        ("a24_l2_", "standing AND lvl >= 2", 5))
      val sizeCols = members.map { case (_, _, m) =>
        s"""(${ann.nswNbitsSqlOver(s"coalesce(n$m, 0)")}) AS nbits_n$m,
          greatest(CAST(1 AS BIGINT),
            CAST(floor(coalesce(n$m, 0) / ${ann.NSW_RTARGET}.0)
              AS BIGINT)) AS nb2_n$m"""
      }.mkString(",\n          ")
      val entries = members.flatMap { case (pfx, cond, m) =>
        def entry(fam: String, b: String) =
          s"""CASE WHEN $cond THEN named_struct(
            'src', '$pfx$fam',
            'k1', CAST(CAST($b AS INT) AS STRING)) END"""
        Seq(
          entry("sign_a", s"pmod(ska, shiftleft(1, nbits_n$m))"),
          entry("sign_b", s"pmod(skb, shiftleft(1, nbits_n$m))"),
          entry("rand", s"pmod(rh, nb2_n$m)"))
      }.mkString(",\n            ")
      val dirRows = (Seq(
        ("d2_minhash", "d2_minhash", "drop", BUCKET_CAP),
        ("d3b_simhash", "d3b_simhash", "drop", BUCKET_CAP),
        ("d4_banded", "d4_banded", "drop", BUCKET_CAP),
        ("d5_anchor", "d5_anchor", "drop", BUCKET_CAP),
        ("d12bands", "d12b_banded", "drop", D12B_CAP),
        ("d12bands", "a22_band", "sample", ann.A22_CAP)) ++
        (members.flatMap { case (pfx, _, _) =>
          Seq("sign_a", "sign_b", "rand").map { fam =>
            (s"$pfx$fam", s"$pfx$fam", "sample", NSW_CAP)
          }
        })).map { case (src, idx, pol, cap) =>
        s"('$src', '$idx', '$pol', CAST($cap AS BIGINT))"
      }.mkString(",\n          ")
      val t20 = {
        val cap = operators.LlmOps.BPE_VOCAB_CAP
        s"""SELECT 't20_vocab' AS idx, 'topk' AS policy,
            CAST($cap AS BIGINT) AS cap,
            CAST(count(*) AS BIGINT) AS buckets_total,
            CAST(coalesce(sum(CASE WHEN rk > $cap THEN 1 ELSE 0 END), 0)
              AS BIGINT) AS buckets_over,
            CAST(coalesce(sum(c), 0) AS BIGINT) AS rows_total,
            CAST(coalesce(sum(CASE WHEN rk > $cap THEN c ELSE 0 END), 0)
              AS BIGINT) AS rows_affected
          FROM (SELECT c, row_number() OVER (
                  ORDER BY c DESC, word ASC) AS rk
            FROM (SELECT word, count(*) AS c
              FROM (SELECT explode(split(lower(text), ' ')) AS word
                    FROM documents) t
              WHERE word RLIKE '^[a-z]+${"$"}'
              GROUP BY word) wf) r"""
      }
      s"""WITH $d2BandsSparkCtes,
      $d3bBandsSparkCtes,
      $d5AnchorsSparkCtes,
      q4_bands AS (${ann.d4BandsSparkSelects}),
      q12_bands AS (${ann.d12BandsSparkSelects}),
      ebase AS (
        SELECT vec_id,
          (${ann.nswSignKeySql("embedding", ann.nswSignOffA)}) AS ska,
          (${ann.nswSignKeySql("embedding", ann.nswSignOffB)}) AS skb,
          ${h60Sql("CAST(vec_id AS STRING)", "nswr|")} AS rh,
          (CASE WHEN pmod($lvlH, ${p1 * p1}) = 0 THEN 2
                WHEN pmod($lvlH, $p1) = 0 THEN 1 ELSE 0 END) AS lvl,
          vec_id % 10 <> 0 AS standing
        FROM embeddings),
      sizes AS (
        SELECT $sizeCols
        FROM (SELECT count(*) AS n0,
            sum(CASE WHEN lvl >= 1 THEN 1 ELSE 0 END) AS n1,
            sum(CASE WHEN lvl >= 2 THEN 1 ELSE 0 END) AS n2,
            sum(CASE WHEN standing THEN 1 ELSE 0 END) AS n3,
            sum(CASE WHEN standing AND lvl >= 1 THEN 1 ELSE 0 END) AS n4,
            sum(CASE WHEN standing AND lvl >= 2 THEN 1 ELSE 0 END) AS n5
          FROM ebase) c),
      nsw_tall AS (
        SELECT en.src AS src, en.k1 AS k1, '' AS k2
        FROM ebase CROSS JOIN sizes
        LATERAL VIEW explode(array_compact(array(
            $entries))) t AS en),
      tall AS (
        SELECT 'd2_minhash' AS src, CAST(band AS STRING) AS k1,
          CAST(bkey AS STRING) AS k2 FROM q2_bands
        UNION ALL SELECT 'd3b_simhash', CAST(band AS STRING),
          CAST(bkey AS STRING) FROM q3_bands
        UNION ALL SELECT 'd4_banded', CAST(tbl AS STRING),
          CAST(bkey AS STRING) FROM q4_bands
        UNION ALL SELECT 'd5_anchor', CAST(anchor AS STRING), ''
          FROM q5_anchors
        UNION ALL SELECT 'd12bands', CAST(tbl AS STRING),
          CAST(bkey AS STRING) FROM q12_bands
        UNION ALL SELECT src, k1, k2 FROM nsw_tall),
      dir AS (SELECT * FROM VALUES
          $dirRows
        AS t(src, idx, policy, cap)),
      cnt AS (SELECT src, k1, k2, count(*) AS c
        FROM tall GROUP BY src, k1, k2),
      peridx AS (
        SELECT idx, policy, cap, count(*) AS bt,
          sum(CASE WHEN c > cap THEN 1 ELSE 0 END) AS bo,
          sum(c) AS rt,
          sum(CASE WHEN c > cap THEN
            (CASE WHEN policy = 'drop' THEN c ELSE c - cap END)
            ELSE 0 END) AS ra
        FROM cnt JOIN dir ON dir.src = cnt.src
        GROUP BY idx, policy, cap)
      SELECT d.idx, d.policy, d.cap,
        CAST(coalesce(p.bt, 0) AS BIGINT) AS buckets_total,
        CAST(coalesce(p.bo, 0) AS BIGINT) AS buckets_over,
        CAST(coalesce(p.rt, 0) AS BIGINT) AS rows_total,
        CAST(coalesce(p.ra, 0) AS BIGINT) AS rows_affected
      FROM (SELECT DISTINCT idx, policy, cap FROM dir) d
      LEFT JOIN peridx p ON p.idx = d.idx
      UNION ALL $t20"""
    },
    operators.LlmOps.d13CapReport.oracle)

  /** The g7 MERGED-graph recurrence (base edges + the %50 delta link,
    * bumped out-degrees, shrunken dangling set) in sql_g1's strictly-
    * linear explode shape — base out-degree and delta membership are
    * pure functions of doc_id, so round frames carry only
    * (doc_id, n, pr) and the edges inline into the explode. */
  private def sparkPrMergedRounds(tag: String, iters: Int): String = {
    import operators.Graph.{PR_SCALE, PR_DAMP_PCT}
    (1 to iters).map { i =>
      s"""${tag}s$i AS (
        SELECT explode(concat(
          array(named_struct('node', doc_id, 'n', n,
            'dang', dang, 'hist', hist,
            'contrib', CAST(NULL AS BIGINT))),
          transform(filter(array(0L, 1L, 2L), k -> k < doc_id % 4), k ->
            named_struct(
              'node', (doc_id * (CASE WHEN k = 0 THEN 7
                WHEN k = 1 THEN 13 ELSE 29 END) + k + 1) % n,
              'n', CAST(NULL AS BIGINT),
              'dang', CAST(NULL AS BIGINT),
              'hist', CAST(NULL AS ARRAY<BIGINT>),
              'contrib', pr div (doc_id % 4 +
                CASE WHEN doc_id % 50 = 0 THEN 1 ELSE 0 END))),
          CASE WHEN doc_id % 50 = 0 THEN array(named_struct(
              'node', (doc_id * 37 + 3) % n,
              'n', CAST(NULL AS BIGINT),
              'dang', CAST(NULL AS BIGINT),
              'hist', CAST(NULL AS ARRAY<BIGINT>),
              'contrib', pr div (doc_id % 4 + 1)))
            ELSE CAST(array() AS ARRAY<STRUCT<node: BIGINT, n: BIGINT,
              dang: BIGINT, hist: ARRAY<BIGINT>,
              contrib: BIGINT>>) END)) AS x
        FROM (SELECT doc_id, n, pr, dang, hist
          FROM (SELECT doc_id, n, pr, hist,
              coalesce(sum(CASE WHEN doc_id % 4 = 0
                  AND doc_id % 50 <> 0 THEN pr END) OVER (), 0L) AS dang
            FROM $tag${i - 1}) w
          DISTRIBUTE BY doc_id)),
      $tag$i AS (
        SELECT doc_id, n, pr, array_append(hist, pr) AS hist FROM (
          SELECT x.node AS doc_id, max(x.n) AS n,
            (15 * ($PR_SCALE div max(x.n))) div 100
              + ($PR_DAMP_PCT * (coalesce(sum(x.contrib), 0L)
                  + max(x.dang) div max(x.n))) div 100 AS pr,
            max(x.hist) AS hist
          FROM ${tag}s$i GROUP BY x.node) z)"""
    }.mkString(",\n      ")
  }

  // Incremental warm-start PageRank from SQL — g7's three fixpoints
  // (base, cold-on-merged, warm-on-merged) as one SQL string: the base
  // chain is sparkG1Ctes verbatim, the merged chains inline the delta
  // edge + bumped out-degree as pure functions of doc_id (so round
  // frames stay (doc_id, n, pr) and the recurrence stays strictly
  // linear — one reference to the previous round), and the 14 report
  // branches join round frames whose identical subtree text AQE
  // collapses to reused stages. Shares g7's oracle, so a green row
  // pins SQL == DSL == DuckDB on the whole warm-vs-cold trajectory.
  // NOTE: three unrolled fixpoints = 34 chained CTEs + 14 report
  // branches, which exceeds the analyzer's default 100-iteration
  // fixed-point budget (a DIAL for deep plans, not a semantic knob) —
  // the wrapper raises it session-wide before parsing; harmless for
  // every other plan (the limit only binds on pathological depth).
  val sqlG7Delta: Queries.Q = {
    import operators.Graph.{PR_ITERS, PR_SCALE, G7_WARM}
    // report from the carried histories: ONE join (cold ⋈ warm), then
    // per-node round records explode off the arrays — no round frame
    // is ever referenced twice (the t21 merges-array lesson; the
    // branch-join form re-evaluated round subtrees and read 3x the
    // DSL; this form reads at DSL-parity cost structure)
    val report =
      s"""joined AS (
        SELECT c.doc_id, c.hist AS ch, w.hist AS wh,
          element_at(c.hist, ${PR_ITERS + 1}) AS fin
        FROM c$PR_ITERS c JOIN w$G7_WARM w ON w.doc_id = c.doc_id),
      expl AS (
        SELECT explode(concat(
          transform(sequence(0, $PR_ITERS), i -> named_struct(
            'phase', 'cold', 'round', CAST(i AS BIGINT),
            'l1', CASE WHEN i = 0 THEN CAST(NULL AS BIGINT)
              ELSE abs(element_at(ch, i + 1) - element_at(ch, i)) END,
            'dist', abs(element_at(ch, i + 1) - fin))),
          transform(sequence(0, $G7_WARM), i -> named_struct(
            'phase', 'warm', 'round', CAST(i AS BIGINT),
            'l1', CASE WHEN i = 0 THEN CAST(NULL AS BIGINT)
              ELSE abs(element_at(wh, i + 1) - element_at(wh, i)) END,
            'dist', abs(element_at(wh, i + 1) - fin))))) AS x
        FROM joined)
      SELECT x.phase AS phase, x.round AS round,
        CAST(sum(x.l1) AS BIGINT) AS l1_delta,
        CAST(sum(x.dist) AS BIGINT) AS dist_to_final
      FROM expl GROUP BY x.phase, x.round"""
    val text = s"""WITH $sparkG1Ctes,
      c0 AS (
        SELECT doc_id, nn.n, $PR_SCALE div nn.n AS pr,
          array($PR_SCALE div nn.n) AS hist
        FROM documents CROSS JOIN nn),
      ${sparkPrMergedRounds("c", PR_ITERS)},
      w0 AS (SELECT doc_id, n, pr, array(pr) AS hist FROM r$PR_ITERS),
      ${sparkPrMergedRounds("w", G7_WARM)},
      $report"""
    Queries.Q("sql_g7_delta",
      (s, d) => {
        registerViews(s, d)
        if (s.conf.get("spark.sql.analyzer.maxIterations", "100")
            .toInt < 400)
          s.conf.set("spark.sql.analyzer.maxIterations", "400")
        s.sql(text)
      },
      operators.Graph.g7DeltaPagerank.oracle)
  }

  // Hybrid dense+sparse retrieval with reciprocal-rank fusion as pure
  // SQL text: the dense arm through the injected cosine_sim expression
  // (sql_a5's kernel), the sparse arm t18's BM25 with the probe doc's
  // own top terms as the query, RRF = 1/(60+rank) summed per arm.
  // Shares a26's oracle, so SQL text == DSL == DuckDB on the fused
  // ranking including the per-arm null semantics of the outer join.
  val sqlA26Hybrid: Queries.Q = sqlQ(
    "sql_a26_hybrid",
    s"""WITH p AS (
        SELECT vec_id AS probe_id, embedding AS p_emb
        FROM embeddings WHERE vec_id < ${operators.Ann.RRF_PROBES}),
      dense AS (
        SELECT probe_id, doc_id, CAST(rn AS BIGINT) AS dense_rk FROM (
          SELECT probe_id, vec_id AS doc_id, row_number() OVER (
              PARTITION BY probe_id ORDER BY sim DESC, vec_id ASC) AS rn
          FROM (SELECT p.probe_id, e.vec_id,
              round(cosine_sim(e.embedding, p.p_emb), 6) AS sim
            FROM embeddings e CROSS JOIN p
            WHERE e.vec_id <> p.probe_id) s) t
        WHERE rn <= ${operators.Ann.RRF_KDENSE}),
      toks AS (
        SELECT doc_id, explode(split(lower(text), ' ')) AS tok
        FROM documents),
      tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
      dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
      stats AS (SELECT count(*) AS n,
        CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
      qterms AS (
        SELECT probe_id, tok FROM (
          SELECT doc_id AS probe_id, tok, row_number() OVER (
              PARTITION BY doc_id ORDER BY tf DESC, tok ASC) AS qrn
          FROM tf
          WHERE doc_id < ${operators.Ann.RRF_PROBES}
            AND length(tok) >= ${operators.Ann.RRF_MINLEN}) t
        WHERE qrn <= ${operators.Ann.RRF_QTERMS}),
      dfq AS (
        SELECT tok, count(DISTINCT doc_id) AS df FROM toks
        WHERE tok IN (SELECT tok FROM qterms) GROUP BY 1),
      scored AS (
        SELECT q.probe_id, t.doc_id,
          round(round(ln((s.n - f.df + CAST(0.5 AS DOUBLE)) /
                (f.df + CAST(0.5 AS DOUBLE)) + CAST(1.0 AS DOUBLE)), 6)
            * (t.tf * CAST(2.2 AS DOUBLE))
            / (t.tf + CAST(1.2 AS DOUBLE) *
               (CAST(0.25 AS DOUBLE) +
                CAST(0.75 AS DOUBLE) * (l.dl / s.avgdl))), 6)
            AS term_score
        FROM tf t JOIN qterms q USING (tok)
        JOIN dfq f ON f.tok = t.tok
        JOIN dl l ON l.doc_id = t.doc_id CROSS JOIN stats s
        WHERE t.doc_id <> q.probe_id),
      sparse AS (
        SELECT probe_id, doc_id, CAST(rn AS BIGINT) AS sparse_rk FROM (
          SELECT probe_id, doc_id, row_number() OVER (
              PARTITION BY probe_id ORDER BY bm25 DESC, doc_id ASC) AS rn
          FROM (SELECT probe_id, doc_id,
              CAST(sum(CAST(term_score AS DECIMAL(20,6))) AS DOUBLE)
                AS bm25
            FROM scored GROUP BY 1, 2) pd) t
        WHERE rn <= ${operators.Ann.RRF_KSPARSE}),
      fused AS (
        SELECT coalesce(dn.probe_id, sp.probe_id) AS probe_id,
               coalesce(dn.doc_id, sp.doc_id) AS doc_id,
               dn.dense_rk, sp.sparse_rk,
               round(coalesce(CAST(1.0 AS DOUBLE)
                   / (${operators.Ann.RRF_C} + dn.dense_rk),
                   CAST(0.0 AS DOUBLE))
                 + coalesce(CAST(1.0 AS DOUBLE)
                   / (${operators.Ann.RRF_C} + sp.sparse_rk),
                   CAST(0.0 AS DOUBLE)), 9) AS rrf
        FROM dense dn FULL OUTER JOIN sparse sp
          ON sp.probe_id = dn.probe_id AND sp.doc_id = dn.doc_id)
      SELECT probe_id, doc_id, dense_rk, sparse_rk, rrf,
        CAST(rn AS BIGINT) AS fused_rk
      FROM (SELECT *, row_number() OVER (PARTITION BY probe_id
          ORDER BY rrf DESC, doc_id ASC) AS rn FROM fused) t
      WHERE rn <= ${operators.Ann.RRF_TOPK}""",
    operators.Ann.a26HybridRrf.oracle)

  // Snapshot diff from SQL — the lake-maintenance family's first SQL
  // face (VERDICT r18 #4: zero sql_s*/sql_k* twins; a SQL user could
  // not reach the lakehouse story at all). s10's two-snapshot
  // full-outer diff is plain relational SQL: the text below is the
  // DuckDB oracle's text verbatim (the f1f2 one-ANSI-string
  // discipline — CAST(ts AS TIMESTAMP) is a no-op on the normalized
  // events view, and it is exactly what DuckDB needs on a raw NANOS
  // generation), so SQL == DSL == oracle pins three engines at once.
  val sqlS10SnapshotDiff: Queries.Q = sqlQ(
    "sql_s10_snapshot_diff",
    sources.Ingest.s10SnapshotDiff.oracle.get,
    sources.Ingest.s10SnapshotDiff.oracle)

  // Compaction read-back report from SQL — k6's rewrite itself is
  // imperative lake maintenance (file listing + repartitionByRange
  // write: no SQL face exists or should), but the REPORT a maintenance
  // job publishes — per-type content aggregate over the COMPACTED
  // files plus the before/after file counts — is relational. The twin
  // runs the same fixture + compaction seam as k6, registers the
  // compacted dir as a view, and phrases the report in SQL with the
  // observed file counts as literals; sharing k6's oracle means the
  // row is green iff the SQL-visible lake carries byte-identical
  // content and exactly the planned file layout.
  val sqlK6Compaction: Queries.Q = Queries.Q(
    "sql_k6_compaction",
    (s, d) => {
      registerViews(s, d)
      val frag = sources.Ingest.k6FragFixture(s, d)
      val (nBefore, _) = sources.Ingest.parquetFileStats(frag)
      val out = sources.Ingest.compactEvents(s, frag,
        sources.Ingest.freshDir("sql_k6_compact"),
        sources.Ingest.K6_ROWS_PER_FILE)
      val (nAfter, _) = sources.Ingest.parquetFileStats(out)
      s.read.parquet(out).createOrReplaceTempView("k6_compacted")
      s.sql(s"""SELECT event_type, count(*) AS n,
        CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        CAST($nBefore AS BIGINT) AS n_files_before,
        CAST($nAfter AS BIGINT) AS n_files_after
        FROM k6_compacted GROUP BY event_type""")
    },
    sources.Ingest.k6Compaction.oracle)

  // Retention-sweep read-back from SQL — the third lake-maintenance
  // twin (s10 diff, k6 compaction, THIS): the partition-directory drop
  // is imperative metadata work (k7Sweep, one definition shared with
  // the DSL query), the surviving-lake report is SQL over a view of
  // the swept lake with the sweep's partition accounting as literals.
  // Shares k7's oracle: green iff the sweep deleted exactly the
  // partitions the retention rule names and nothing else.
  val sqlK7Retention: Queries.Q = Queries.Q(
    "sql_k7_retention",
    (s, d) => {
      registerViews(s, d)
      val (dir, nBefore, nDeleted) =
        sources.Ingest.k7Sweep(s, d, "sql_k7_lake")
      s.read.parquet(dir).createOrReplaceTempView("k7_survivors")
      s.sql(s"""SELECT event_date, count(*) AS n,
        CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        CAST($nBefore AS BIGINT) AS n_partitions_before,
        CAST($nDeleted AS BIGINT) AS n_partitions_deleted
        FROM k7_survivors GROUP BY event_date""")
    },
    sources.Ingest.k7Retention.oracle)

  // Bloom-pruned join from SQL — x20's whole chain (dim filter fold,
  // distinct-fact-key probe, pruned confirm join, self-evaluating
  // report) is pure relational text; this is the form a SQL user's
  // CBO-less warehouse job would paste. Shares x20's oracle, so the
  // no-false-negative property stays hash-enforced from the SQL
  // surface too. Two structural choices keep the SQL plan the DSL's
  // plan: (1) positions come from ONE explode(array(h0,h1,h2)) scan
  // per side — the previous 3-branch UNION ALL re-ran the
  // DISTINCT-fact-key frame once per hash function; (2) the report
  // tail is four one-row aggregated CTEs CROSS JOINed rather than
  // scalar subqueries — scalar subqueries plan as independent
  // driver-collected jobs, so each one re-derived fkeys, while in one
  // joined plan the repeated fkeys subtrees canonicalize identically
  // and collapse to ReusedExchange, matching the DSL's slope.
  val sqlX20Bloom: Queries.Q = sqlQ(
    "sql_x20_bloom_join", {
      import graft.functions.Portable.h60Sql
      import operators.LlmOps.{BLOOM_M, BLOOM_K}
      def posArray: String =
        "explode(array(" + (0 until BLOOM_K).map(j =>
          s"${h60Sql("CAST(k AS STRING)", s"xj$j|")} % $BLOOM_M")
          .mkString(", ") + ")) AS pos"
      s"""WITH dim AS (
        SELECT o_orderkey AS k FROM orders WHERE o_orderstatus = 'P'),
      fkeys AS (SELECT DISTINCT l_orderkey AS k FROM lineitem),
      bits AS (SELECT DISTINCT pos FROM (SELECT $posArray FROM dim)),
      pass AS (
        SELECT f.k FROM (SELECT k, $posArray FROM fkeys) f
        JOIN bits b ON b.pos = f.pos
        GROUP BY f.k HAVING count(*) = $BLOOM_K),
      joined AS (
        SELECT l.l_extendedprice FROM lineitem l
        JOIN pass p ON p.k = l.l_orderkey
        JOIN dim d2 ON d2.k = l.l_orderkey),
      agg_f AS (SELECT count(*) AS n_fact_keys FROM fkeys),
      agg_p AS (SELECT count(*) AS n_bloom_pass FROM pass),
      agg_t AS (SELECT count(*) AS n_true_match
                FROM fkeys f JOIN dim d ON d.k = f.k),
      agg_j AS (SELECT count(*) AS n_join_rows,
                CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
                  AS DOUBLE) AS revenue FROM joined)
      SELECT n_fact_keys, n_bloom_pass, n_true_match,
        n_bloom_pass - n_true_match AS n_false_pos,
        n_join_rows, revenue
      FROM agg_f CROSS JOIN agg_p CROSS JOIN agg_t CROSS JOIN agg_j"""
    },
    operators.Extended.x20BloomJoinPrune.oracle)

  // KMV set-operation estimates from SQL — x21's algebra as one text:
  // ORDER BY h LIMIT K is the SQL spelling of bottom-K (it compiles to
  // TakeOrderedAndProject — a map-side top-K plus one tiny reduce, the
  // scalable shape, not a global sort), DECIMAL(38,0) `div` carries
  // the oracle's HUGEINT `//` semantics. Shares x21's oracle.
  val sqlX21Setops: Queries.Q = sqlQ(
    "sql_x21_setops", {
      import graft.functions.Portable.h60Sql
      import operators.Extended.{X21_K, X21_H}
      def keys(year: Int) =
        s"""SELECT DISTINCT CAST(o_custkey AS STRING) AS k
          FROM orders WHERE year(o_orderdate) = $year"""
      def hs(src: String) =
        s"SELECT DISTINCT ${h60Sql("k", "x21|")} AS h FROM ($src)"
      def est(n: String, vk: String) =
        s"""CASE WHEN $n < $X21_K THEN $n
          ELSE CAST(${X21_K - 1} AS DECIMAL(38,0)) * ${X21_H}L div $vk
          END"""
      s"""WITH ha AS (${hs(keys(1996))}), hb AS (${hs(keys(2000))}),
      ska AS (SELECT h FROM ha ORDER BY h LIMIT $X21_K),
      skb AS (SELECT h FROM hb ORDER BY h LIMIT $X21_K),
      sku AS (SELECT h FROM (SELECT h FROM ska UNION SELECT h FROM skb)
              ORDER BY h LIMIT $X21_K),
      sa AS (SELECT count(*) AS n_a, max(h) AS vk_a FROM ska),
      sb AS (SELECT count(*) AS n_b, max(h) AS vk_b FROM skb),
      su AS (SELECT count(*) AS n_u, max(h) AS vk_u FROM sku),
      th AS (SELECT least(
          CASE WHEN n_a < $X21_K THEN ${X21_H}L ELSE vk_a END,
          CASE WHEN n_b < $X21_K THEN ${X21_H}L ELSE vk_b END) AS theta
        FROM sa CROSS JOIN sb),
      cm AS (SELECT count(*) AS c FROM
        (SELECT h FROM ska INTERSECT SELECT h FROM skb) x
        CROSS JOIN th WHERE x.h < th.theta),
      xa AS (SELECT count(*) AS x_a FROM ha),
      xb AS (SELECT count(*) AS x_b FROM hb),
      xu AS (SELECT count(*) AS x_u FROM
        (SELECT h FROM ha UNION SELECT h FROM hb)),
      est AS (SELECT
        x_a AS n_a_exact, ${est("n_a", "vk_a")} AS n_a_est,
        x_b AS n_b_exact, ${est("n_b", "vk_b")} AS n_b_est,
        x_u AS n_union_exact, ${est("n_u", "vk_u")} AS n_union_est,
        x_a + x_b - x_u AS n_intersect_exact,
        CAST(c AS DECIMAL(38,0)) * ${X21_H}L div theta AS n_intersect_est
        FROM sa CROSS JOIN sb CROSS JOIN su CROSS JOIN th
          CROSS JOIN cm CROSS JOIN xa CROSS JOIN xb CROSS JOIN xu)
      SELECT *,
        n_a_exact - n_intersect_exact AS n_a_only_exact,
        greatest(n_a_est - n_intersect_est, 0L) AS n_a_only_est
      FROM est"""
    },
    operators.Extended.x21SketchSetops.oracle)

  // Dynamic-partition-overwrite repair read-back from SQL — the fourth
  // lake-maintenance twin: k9's seed + dynamic repair is imperative
  // write-path work (one shared k9Repair definition), the repaired
  // lake's report is SQL over a view with the PHYSICAL partition
  // accounting (exact part-file-set preservation) as literals. Shares
  // k9's oracle: green iff the repair fixed exactly the window and the
  // untouched partitions kept their exact files.
  // Commit-family read-backs as SQL (VERDICT r19 #5): the fs-protocol
  // halves (staging, audits, pointer flips, rollback) stay DSL inside
  // the factored k10Protocol/k12Protocol — like m2's decode — and the
  // REPORTS a SQL user actually consumes (the published-table audit
  // summary, the history/AS-OF version comparison) are one SQL text
  // over the protocol's returned read paths, sharing the DSL oracles
  // so SQL == DSL == DuckDB stays hash-enforced.
  val sqlK10Audit: Queries.Q = Queries.Q(
    "sql_k10_audit",
    (s, d) => {
      registerViews(s, d)
      val (live, b1ok, b2ok, b2null, b2bound) =
        sources.Ingest.k10Protocol(s, d, "sql_k10_lake")
      live.createOrReplaceTempView("k10_live")
      s.sql(s"""SELECT event_date, count(*) AS n,
        CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        $b1ok AS b1_published, $b2ok AS b2_published,
        CAST($b2null AS BIGINT) AS b2_null_viol,
        CAST($b2bound AS BIGINT) AS b2_bound_viol
        FROM k10_live GROUP BY event_date""")
    },
    sources.Ingest.k10WriteAuditPublish.oracle)

  val sqlK12History: Queries.Q = Queries.Q(
    "sql_k12_history",
    (s, d) => {
      registerViews(s, d)
      val (versions, current, bad) =
        sources.Ingest.k12Protocol(s, d, "sql_k12_lake")
      versions.zipWithIndex.foreach { case (v, i) =>
        v.createOrReplaceTempView(s"k12_v$i") }
      current.createOrReplaceTempView("k12_current")
      s.sql(s"""WITH cuts AS (
        SELECT 'v0' AS version, value FROM k12_v0
        UNION ALL SELECT 'v1', value FROM k12_v1
        UNION ALL SELECT 'v2', value FROM k12_v2
        UNION ALL SELECT 'current', value FROM k12_current)
      SELECT version, count(*) AS n,
        CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        count(CASE WHEN value < 0 THEN 1 END) AS n_neg,
        $bad AS rolled_back
      FROM cuts GROUP BY version""")
    },
    sources.Ingest.k12TimeTravel.oracle)

  val sqlK13Merge: Queries.Q = Queries.Q(
    "sql_k13_merge",
    (s, d) => {
      registerViews(s, d)
      val (dir, nUpdated, nInserted, nRewritten, nCreated, nPreserved) =
        sources.Ingest.k13Protocol(s, d, "sql_k13_lake")
      s.read.parquet(dir).createOrReplaceTempView("k13_merged")
      s.sql(s"""SELECT event_date, count(*) AS n,
        CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        CAST($nUpdated AS BIGINT) AS n_updated,
        CAST($nInserted AS BIGINT) AS n_inserted,
        CAST($nRewritten AS BIGINT) AS n_parts_rewritten,
        CAST($nCreated AS BIGINT) AS n_parts_created,
        CAST($nPreserved AS BIGINT) AS n_parts_preserved
        FROM k13_merged GROUP BY event_date""")
    },
    sources.Ingest.k13MergeUpsert.oracle)

  val sqlK9Overwrite: Queries.Q = Queries.Q(
    "sql_k9_overwrite",
    (s, d) => {
      registerViews(s, d)
      val (dir, preserved, replaced) =
        sources.Ingest.k9Repair(s, d, "sql_k9_lake")
      s.read.parquet(dir).createOrReplaceTempView("k9_repaired")
      s.sql(s"""SELECT event_date, count(*) AS n,
        CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        CAST($preserved AS BIGINT) AS n_partitions_preserved,
        CAST($replaced AS BIGINT) AS n_partitions_overwritten
        FROM k9_repaired GROUP BY event_date""")
    },
    sources.Ingest.k9PartitionOverwrite.oracle)

  def all: Seq[Queries.Q] =
    Seq(sqlQ1Flagship, sqlF1f2, sqlA5CosineTopk, sqlA9bHll,
      sqlW1Tumbling, sqlX2Rollup, sqlX12Window, sqlX1Asof, sqlW3Session,
      sqlW2Sliding, sqlW4GapFill, sqlW5Funnel, sqlW6Cohort,
      sqlW7Attribution, sqlX15Histogram, sqlX16DataQuality,
      sqlX18Quantiles, sqlM1Meta, sqlM4Phash, sqlA31Margin,
      sqlT12bCountmin, sqlD1Dedup,
      sqlD7Clusters, sqlT16Gopher, sqlC7Ccnet, sqlC11RankCuration, sqlE4Pipeline, sqlA17Nsw,
      sqlA19Hnsw, sqlA14IvfPq, sqlA20Filtered, sqlA21Nprobe,
      sqlA18Extend, sqlD13CapReport, sqlT18Bm25, sqlD14Url,
      sqlD15LineDedup, sqlT19Dsir, sqlC12Resample, sqlT21Bpe, sqlT22Classifier,
      sqlG1Pagerank, sqlG2Hits, sqlG6Ppr,
      sqlG3LabelProp, sqlG4Kcore, sqlG5Triangles, sqlX13GroupingSets,
      sqlC10Curriculum, sqlA26Hybrid, sqlG7Delta, sqlS10SnapshotDiff,
      sqlK6Compaction, sqlK7Retention, sqlX20Bloom, sqlX21Setops,
      sqlK9Overwrite, sqlK10Audit, sqlK12History, sqlK13Merge)
}
