package graft.operators

import graft.{Checkpoints, Dialect}
import graft.Checkpoints.SnapOps

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.Queries.Q
import graft.Tables._

/** Link-analysis operators — the crawl-graph side of corpus curation.
  *
  * PageRank is THE web-scale quality prior (a crawl pipeline ranks
  * hosts/pages by link centrality before content filters ever run), and
  * it is the canonical "iterative relational fixpoint" workload: rank
  * mass flows along edges each round, so the natural Spark shape is an
  * iterated join + re-aggregation with lineage truncation per round —
  * the same discipline as d8's large-star/small-star loop.
  *
  * Determinism across engines is the hard part: floating-point PageRank
  * sums are partition-order dependent. Every quantity here is instead a
  * BIGINT in "micro-probability" units (1e12 = total mass) and every
  * division is integer division, so Spark and DuckDB produce identical
  * ranks bit-for-bit. Truncation loses a bounded sliver of mass per
  * round (< 1 unit per edge + 1 per node); GraphSpec pins the loss
  * bound and an independently recomputed fixpoint.
  */
object Graph {

  /** Iterations of the unrolled fixpoint. 8 rounds move the ring-graph
    * ranks well past the point where orderings stabilize (GraphSpec
    * re-derives the same fixpoint independently); more rounds only
    * shrink deltas already below the integer-truncation floor. */
  private[graft] val PR_ITERS = 8

  /** Total rank mass in integer units (1e12 "micro-probability"). */
  private[graft] val PR_SCALE = 1000000000000L

  /** Damping factor as an integer percentage (the classic 0.85). */
  private[graft] val PR_DAMP_PCT = 85L

  // ---------------------------------------------------------------------
  // G1: PageRank over a deterministic doc-id link graph. The corpus has
  // no native hyperlinks, so the edge list synthesizes the d14-URL way
  // (replayable from doc_id alone): doc u emits (u % 4) outlinks to
  // ((u * p_k + k + 1) % N) for p = (7, 13, 29) — out-degrees 0-3, so
  // in-degrees (and therefore ranks) genuinely vary AND ~1/4 of nodes
  // are DANGLING, exercising the real-pipeline complication naive
  // implementations drop: dangling mass is collected each round and
  // redistributed uniformly.
  //
  // Per round (all integer arithmetic):
  //   contrib(u->v) = pr(u) div outdeg(u)
  //   recv(v)       = Σ contrib(u->v)
  //   dang          = Σ_{outdeg(u)=0} pr(u)
  //   pr'(v) = (15 * (S div N)) div 100
  //          + (85 * (recv(v) + dang div N)) div 100
  //
  // Shape at scale: every link is a pure function of its source row,
  // so no edge frame is built or joined. The rank row carries its
  // out-links (`dsts`), and the loop is the classic co-partitioned
  // Spark PageRank: the rank rows are hash-partitioned by doc_id ONCE
  // and stay partitioned, so each round shuffles only the (dst,
  // pr div outdeg) contribution pairs and reads the rank rows through a
  // narrow dependency. Each round is ONE job (`runJob`) that both
  // materializes the round, snapped through the Checkpoints seam, and
  // returns per-partition partial sums of the next dangling mass and
  // the L1 step, so only O(partitions) longs reach the driver. The loop
  // runs no SQL: at sf0.01 a SQL round cost three jobs (the dangling
  // broadcast, the AQE shuffle stage, the checkpoint) and ~60-70 ms of
  // driver planning and scheduling each, on rows it barely touches.
  // ---------------------------------------------------------------------
  /** (doc_id, n, outdeg) — the synthetic node frame both fixpoints
    * share (n rides along for the teleport arithmetic). */
  private def nodesOf(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d).select(col("doc_id"))
    docs
      .crossJoin(broadcast(docs.agg(count(lit(1)).as("n"))))
      .select(col("doc_id"), col("n"), g1Outdeg.as("outdeg"))
  }

  /** g1's out-degree of node doc_id: 0-3 links, ~1/4 dangling. */
  private val g1Outdeg = (col("doc_id") % 4).cast("long")

  /** The out-links of node `doc` in an `n`-node graph: the
    * (doc·p_k + k + 1) % n slots for the `outdeg` lowest k, p = (7, 13,
    * 29) — ONE definition, shared by the PageRank rounds (as the rank
    * row's `dsts`) and, through [[edgesOf]], by HITS, personalized
    * PageRank and the walks, so every link-analysis query ranks the
    * same graph. */
  private def linksOf(doc: Column, n: Column, outdeg: Column): Column =
    slice(array(Seq(7L, 13L, 29L).zipWithIndex.map { case (p, k) =>
      (doc * p + (k + 1).toLong) % n
    }: _*), lit(1), outdeg.cast("int"))

  /** g1's out-links over [[nodesOf]]'s row. */
  private[graft] val g1Links =
    linksOf(col("doc_id"), col("n"), col("outdeg"))

  /** The deterministic (src, outdeg, dst) edge list over [[nodesOf]]:
    * an explode of [[g1Links]]. */
  private def edgesOf(nodes: DataFrame): DataFrame =
    nodes.select(col("doc_id").as("src"), col("outdeg"),
      explode(g1Links).as("dst"))

  /** The rank frames r0..r`iters`, each (doc_id, n, outdeg, dsts, pr)
    * over a snapped round, plus `steps(i - 1)` = round i's L1 step
    * Σ|pr_i − pr_{i−1}|, summed on round i's own job. The caller frees
    * the frames' blocks with [[graft.Checkpoints.release]] once nothing
    * reads them, and leaves the rest to [[LlmOps.releaseCaches]]. */
  private[graft] final case class PrRounds(
      frames: Seq[DataFrame], steps: Seq[Long])

  /** The uniform initial rank frame over [[nodesOf]]. */
  private def prInit(nodes: DataFrame): DataFrame =
    nodes.select(col("doc_id"), col("n"), col("outdeg"),
      expr(s"$PR_SCALE div n").as("pr"))

  /** The r0..r`iters` rounds of g1's graph (g1's final projection and
    * g1b's per-round steps both read materialized rounds, never re-run
    * lineage). */
  private[graft] def prRounds(
      s: SparkSession, d: String, iters: Int = PR_ITERS): PrRounds =
    prFixpointRounds(prInit(nodesOf(s, d)), g1Links, iters)

  /** A rank row's value, keyed by doc_id: `prev` is the previous
    * round's rank (the seed's own). */
  private[graft] final case class PrRow(
      n: Long, outdeg: Long, dsts: Array[Long], prev: Long, pr: Long)

  /** The PageRank recurrence from ANY initial rank frame (doc_id, n,
    * outdeg, pr) over ANY out-link column `links` (an array of target
    * ids, a function of the node row) — split from [[prRounds]] so g7
    * can run the same integer-exact rounds cold (uniform init) and warm
    * (a prior fixpoint's ranks) on a delta'd graph.
    *
    * The seed is [[rankRows]], each round is [[rankRound]], and each is
    * settled by ONE job ([[settle]]) that snaps it and sums the next
    * dangling mass and the L1 step. The dangling mass reaches the next
    * round as a captured `Long`: the round is plain RDD code, so a
    * per-round value generates no code and costs no compile. */
  private[graft] def prFixpointRounds(
      init: DataFrame, links: Column, iters: Int): PrRounds = {
    val s = init.sparkSession
    val seed = init.select(col("doc_id"), col("n"), col("outdeg"),
      links.as("dsts"), col("pr"))
    var r = rankRows(seed)
    var dang = settle(s, r)._1
    val frames = Seq.newBuilder[DataFrame]
    val steps = Seq.newBuilder[Long]
    frames += frameOf(s, seed.schema, r)
    for (_ <- 1 to iters) {
      r = rankRound(r, dang)
      val (nextDang, step) = settle(s, r)
      dang = nextDang
      frames += frameOf(s, seed.schema, r)
      steps += step
    }
    PrRounds(frames.result(), steps.result())
  }

  /** The rank rows of a (doc_id, n, outdeg, dsts, pr) frame,
    * hash-partitioned by doc_id into the session's shuffle-partition
    * count, which every round keeps. */
  private[graft] def rankRows(seed: DataFrame): RDD[(Long, PrRow)] = {
    val parts = seed.sparkSession.conf.get("spark.sql.shuffle.partitions")
    seed.rdd.map { row =>
      val pr = row.getLong(4)
      row.getLong(0) ->
        PrRow(row.getLong(1), row.getLong(2), row.getSeq[Long](3).toArray,
          pr, pr)
    }.partitionBy(new HashPartitioner(parts.toInt))
  }

  /** One PageRank round over the partitioned rank rows `r` with
    * dangling mass `dang`, unmaterialized. The only shuffle is the
    * contribution pairs' `reduceByKey` into `r`'s partitioner, so the
    * join with `r` is narrow on both sides; a contribution to an id
    * with no rank row is dropped. */
  private[graft] def rankRound(
      r: RDD[(Long, PrRow)], dang: Long): RDD[(Long, PrRow)] = {
    val part = r.partitioner.get
    val recv = r.flatMap { case (_, p) =>
      p.dsts.iterator.map(_ -> p.pr / p.outdeg)
    }.reduceByKey(part, _ + _)
    r.leftOuterJoin(recv, part).mapValues { case (p, c) =>
      p.copy(prev = p.pr,
        pr = 15L * (PR_SCALE / p.n) / 100 +
          PR_DAMP_PCT * (c.getOrElse(0L) + dang / p.n) / 100)
    }
  }

  /** Snaps round `r` and materializes it in ONE job, which also returns
    * the round's dangling mass Σ_{outdeg=0} pr and L1 step Σ|pr − prev|
    * as per-partition partial sums. */
  private def settle(
      s: SparkSession, r: RDD[(Long, PrRow)]): (Long, Long) = {
    val partials = s.sparkContext.runJob(Checkpoints.snap(s, r),
      (rows: Iterator[(Long, PrRow)]) => {
        var dang = 0L
        var step = 0L
        rows.foreach { case (_, p) =>
          if (p.outdeg == 0L) dang += p.pr
          step += math.abs(p.pr - p.prev)
        }
        (dang, step)
      })
    (partials.map(_._1).sum, partials.map(_._2).sum)
  }

  /** Round `r` as a (doc_id, n, outdeg, dsts, pr) frame of `schema`. */
  private def frameOf(
      s: SparkSession, schema: StructType, r: RDD[(Long, PrRow)])
      : DataFrame =
    s.createDataFrame(r.map { case (id, p) =>
      Row(id, p.n, p.outdeg, p.dsts.toSeq, p.pr)
    }, schema)

  /** The full r0..r[[PR_ITERS]] recurrence as DuckDB CTE text — the
    * shared oracle prefix of g1 (final ranks), g1b (per-round deltas),
    * and c11 (the rank-×-quality curation blend in LlmOps). */
  private[graft] def prDuckCtes: String = {
    val rounds = (1 to PR_ITERS).map { i =>
      s"""recv$i AS (
        SELECT e.dst AS doc_id,
          CAST(sum(r.pr // e.outdeg) AS BIGINT) AS recv
        FROM edges e JOIN r${i - 1} r ON r.doc_id = e.src
        GROUP BY e.dst),
      dang$i AS (
        SELECT CAST(coalesce(sum(pr), 0) AS BIGINT) AS dang
        FROM r${i - 1} WHERE outdeg = 0),
      r$i AS (
        SELECT n.doc_id, n.n, n.outdeg,
          (15 * ($PR_SCALE // n.n)) // 100
            + ($PR_DAMP_PCT * (coalesce(v.recv, 0) + d.dang // n.n))
              // 100 AS pr
        FROM nodes n LEFT JOIN recv$i v ON v.doc_id = n.doc_id
        CROSS JOIN dang$i d)"""
    }.mkString(",\n      ")
    s"""${graphEdgesCtes(Dialect.DuckDB)},
      r0 AS (
        SELECT doc_id, n, outdeg, $PR_SCALE // n AS pr FROM nodes),
      $rounds"""
  }

  /** The synthetic node + edge CTEs alone (`nn`, `nodes`, `edges`) —
    * the ONE SQL definition of [[nodesOf]]+[[edgesOf]], shared by the
    * rank fixpoints, HITS, LPA, the k-core, triangles and g8's walk
    * generator, and by their SQL twins. */
  private[graft] def graphEdgesCtes(d: Dialect): String =
    s"""nn AS (SELECT count(*) AS n FROM documents),
      nodes AS (
        SELECT doc_id, nn.n, CAST(doc_id % 4 AS BIGINT) AS outdeg
        FROM documents CROSS JOIN nn),
      edges AS (
        SELECT doc_id AS src, outdeg,
          (doc_id * (CASE WHEN k = 0 THEN 7 WHEN k = 1 THEN 13
            ELSE 29 END) + k + 1) % n AS dst
        FROM nodes${d.crossValues("t", "k", 0, 1, 2)}
        WHERE k < outdeg)"""

  val g1Pagerank = Q(
    "g1_pagerank",
    (s, d) => {
      val frames = prRounds(s, d).frames
      // the result reads only the last round: free the others now; that
      // one stays until releaseCaches()
      Checkpoints.release(frames.init)
      frames.last.select(col("doc_id"), col("outdeg"), col("pr"))
    },
    Some(s"""WITH $prDuckCtes
      SELECT doc_id, outdeg, CAST(pr AS BIGINT) AS pr
      FROM r$PR_ITERS"""))

  // ---------------------------------------------------------------------
  // G1b: convergence observability — the d13 "no silent dials"
  // discipline applied to g1's fixed iteration count. One row per
  // round: the L1 rank delta Σ|pr_i − pr_{i−1}| in integer mass units
  // plus its fraction of total mass, so "how converged is 8 rounds"
  // is a driver-visible number (and the dial to raise PR_ITERS on),
  // not a constant buried in code. Each step is summed on its round's
  // own job (the rank row carries the previous rank as `prev`), so the
  // report costs no job at all: its 8 rows are a local relation built
  // from the returned steps.
  // GraphSpec recomputes every step with the independent recurrence
  // and requires equality, and asserts the deltas decrease
  // monotonically (damping 0.85 contracts the L1 error geometrically;
  // a non-decreasing step means a broken round).
  // ---------------------------------------------------------------------
  val g1bPagerankConverge = Q(
    "g1b_pagerank_converge",
    (s, d) => {
      val rounds = prRounds(s, d)
      // the report reads only the returned steps
      Checkpoints.release(rounds.frames)
      s.createDataFrame(rounds.steps.zipWithIndex.map {
        case (step, i) => ((i + 1).toLong, step)
      }).toDF("round", "l1_delta")
        .select(col("round"), col("l1_delta"),
          round(col("l1_delta").cast("double") /
            lit(PR_SCALE.toDouble), 9).as("delta_frac"))
    },
    Some {
      val branches = (1 to PR_ITERS).map { i =>
        s"""SELECT CAST($i AS BIGINT) AS round,
          CAST(sum(abs(a.pr - b.pr)) AS BIGINT) AS l1_delta,
          round(CAST(sum(abs(a.pr - b.pr)) AS DOUBLE)
            / $PR_SCALE, 9) AS delta_frac
        FROM r$i a JOIN r${i - 1} b ON a.doc_id = b.doc_id"""
      }.mkString(" UNION ALL ")
      s"""WITH $prDuckCtes
      $branches"""
    })

  // ---------------------------------------------------------------------
  // G6: personalized PageRank — the crawl-frontier/recommendation form
  // of g1: teleport mass restarts ONLY at a seed set (here the
  // doc_id % 97 slice — a "trusted pages" list), so ranks measure
  // proximity to the seeds rather than global centrality (TrustRank /
  // seeded crawl prioritization — the two-prior curation c11 blends
  // would use exactly this when the quality signal is a SEED LIST
  // rather than a global score). Same integer-exact discipline as g1
  // (PR_SCALE fixed-point, div truncation replayed by DuckDB's //),
  // same graph (nodesOf/edgesOf — one definition), same per-round
  // localCheckpoint lineage hygiene; the two deltas are r0 (mass
  // SCALE/|S| on seeds, zero elsewhere) and the restart+dangling terms
  // landing on seeds only. Non-seed nodes earn rank exclusively
  // through in-links from seed-reachable mass — GraphSpec pins that a
  // node outside the seeds' forward closure holds pr = 0 through every
  // round while reachable non-seeds earn strictly positive rank.
  // ---------------------------------------------------------------------
  private[graft] val PPR_SEED_MOD = 97L

  val g6Ppr = Q(
    "g6_personalized_pagerank",
    (s, d) => {
      val nodes0 = nodesOf(s, d)
        .withColumn("is_seed", col("doc_id") % PPR_SEED_MOD === 0)
      val nodes = nodes0.crossJoin(broadcast(
        nodes0.filter(col("is_seed")).agg(count(lit(1)).as("ns"))))
      val edges = edgesOf(nodes0).persist()
      edges.count() // eager: the consuming rounds must not race the cache
      val seedTele =
        expr(s"CASE WHEN is_seed THEN 15L * ($PR_SCALE div ns) div 100 " +
          "ELSE 0L END")
      var r = nodes
        .select(col("doc_id"), col("ns"), col("outdeg"), col("is_seed"),
          expr(s"CASE WHEN is_seed THEN $PR_SCALE div ns ELSE 0L END")
            .as("pr"))
        .snap()
      for (_ <- 1 to PR_ITERS) {
        val recv = edges
          .join(r.select(col("doc_id").as("src"), col("pr")), "src")
          .select(col("dst").as("doc_id"),
            expr("pr div outdeg").as("c"))
          .groupBy(col("doc_id")).agg(sum(col("c")).as("recv"))
        val dang = r.filter(col("outdeg") === 0L)
          .agg(coalesce(sum(col("pr")), lit(0L)).as("dang"))
        r = nodes
          .select(col("doc_id"), col("ns"), col("outdeg"),
            col("is_seed"))
          .join(recv, Seq("doc_id"), "left")
          .crossJoin(broadcast(dang))
          .select(col("doc_id"), col("ns"), col("outdeg"),
            col("is_seed"),
            (seedTele +
              expr(s"$PR_DAMP_PCT * (coalesce(recv, 0L) + " +
                "CASE WHEN is_seed THEN dang div ns ELSE 0L END) " +
                "div 100")).as("pr"))
          .snap()
      }
      edges.unpersist()
      r.select(col("doc_id"), col("is_seed"), col("pr"))
    },
    Some {
      val rounds = (1 to PR_ITERS).map { i =>
        s"""recv$i AS (
          SELECT e.dst AS doc_id,
            CAST(sum(r.pr // e.outdeg) AS BIGINT) AS recv
          FROM edges e JOIN p${i - 1} r ON r.doc_id = e.src
          GROUP BY e.dst),
        dang$i AS (
          SELECT CAST(coalesce(sum(pr), 0) AS BIGINT) AS dang
          FROM p${i - 1} WHERE outdeg = 0),
        p$i AS (
          SELECT nd.doc_id, nd.outdeg, nd.is_seed,
            (CASE WHEN nd.is_seed
              THEN (15 * ($PR_SCALE // q.ns)) // 100 ELSE 0 END)
            + ($PR_DAMP_PCT * (coalesce(v.recv, 0)
                + CASE WHEN nd.is_seed THEN dg.dang // q.ns
                  ELSE 0 END)) // 100 AS pr
          FROM nodes nd CROSS JOIN nsq q
          LEFT JOIN recv$i v ON v.doc_id = nd.doc_id
          CROSS JOIN dang$i dg)"""
      }.mkString(",\n      ")
      s"""WITH nn AS (SELECT count(*) AS n FROM documents),
      nodes AS (
        SELECT doc_id, nn.n, CAST(doc_id % 4 AS BIGINT) AS outdeg,
          doc_id % $PPR_SEED_MOD = 0 AS is_seed
        FROM documents CROSS JOIN nn),
      nsq AS (SELECT count(*) AS ns FROM nodes WHERE is_seed),
      edges AS (
        SELECT doc_id AS src, outdeg,
          (doc_id * (CASE WHEN k = 0 THEN 7 WHEN k = 1 THEN 13
            ELSE 29 END) + k + 1) % n AS dst
        FROM nodes, unnest([0, 1, 2]) AS t(k)
        WHERE k < outdeg),
      p0 AS (
        SELECT nd.doc_id, nd.outdeg, nd.is_seed,
          CASE WHEN nd.is_seed THEN $PR_SCALE // q.ns ELSE 0 END AS pr
        FROM nodes nd CROSS JOIN nsq q),
      $rounds
      SELECT doc_id, is_seed, CAST(pr AS BIGINT) AS pr
      FROM p$PR_ITERS"""
    })

  /** HITS iterations (6 move the ring-graph scores past ordering
    * stabilization; GraphSpec recomputes the same fixpoint). */
  private[graft] val HITS_ITERS = 6

  /** Overflow-safe integer normalization: x·SCALE/total computed as
    * (x · 1e3) div (total div 1e9) — x ≤ 3·SCALE keeps the product
    * under 2^63 (x·SCALE itself would overflow), and both truncations
    * are integer ops DuckDB replays exactly. Totals sit near SCALE, so
    * total div 1e9 ≥ 1 is guarded only for pathological inputs. */
  private[graft] val HITS_NN = 1000L
  private[graft] val HITS_ND = 1000000000L

  // ---------------------------------------------------------------------
  // G2: HITS hubs & authorities (Kleinberg) over the SAME link graph as
  // g1 — the second canonical link-analysis prior: a crawl curator
  // reads authorities as content-quality signal and hubs as
  // directory/spam signal, and the two-phase mutual recursion
  // (auth = Σ in-link hubs, hub = Σ out-link auths, renormalize each
  // half-step) is the canonical BIPARTITE iterative workload — two
  // keyed shuffles per round instead of g1's one. All integer
  // arithmetic (scores in 1e12 mass units, overflow-safe two-step
  // normalization), so Spark and DuckDB agree bit-for-bit; both score
  // frames are localCheckpoint-truncated per round (each feeds TWO
  // consumers: the partner join and its own total — the 2^rounds
  // trap, twice per round here).
  // ---------------------------------------------------------------------
  /** The h0..h[[HITS_ITERS]] hub frames and a1..a[[HITS_ITERS]] auth
    * frames, every frame snapped — shared by g2 (final
    * scores) and g2b (per-round deltas), the prRounds pattern: extra
    * consumers read materialized rounds, never re-run fixpoint
    * lineage. */
  private def hitsRounds(s: SparkSession, d: String)
      : (Seq[DataFrame], Seq[DataFrame]) = {
    val nodes = nodesOf(s, d)
    val edges = edgesOf(nodes).persist()
    edges.count()
    def normalize(raw: DataFrame, scoreCol: String): DataFrame = {
      val tot = raw.agg(coalesce(sum(col("s")), lit(0L)).as("t"))
      nodes.select(col("doc_id"))
        .join(raw, Seq("doc_id"), "left")
        .crossJoin(broadcast(tot))
        .select(col("doc_id"),
          expr(s"coalesce(s, 0L) * $HITS_NN div " +
            s"greatest(1L, t div $HITS_ND)").as(scoreCol))
        .snap()
    }
    var h = nodes
      .select(col("doc_id"), expr(s"$PR_SCALE div n").as("hub"))
      .snap()
    val hs = Seq.newBuilder[DataFrame]
    val as = Seq.newBuilder[DataFrame]
    hs += h
    for (_ <- 1 to HITS_ITERS) {
      val a = normalize(
        edges.join(h.select(col("doc_id").as("src"), col("hub")), "src")
          .groupBy(col("dst").as("doc_id"))
          .agg(sum(col("hub")).as("s")),
        "auth")
      as += a
      h = normalize(
        edges.join(a.select(col("doc_id").as("dst"), col("auth")), "dst")
          .groupBy(col("src").as("doc_id"))
          .agg(sum(col("auth")).as("s")),
        "hub")
      hs += h
    }
    edges.unpersist()
    (hs.result(), as.result())
  }

  val g2Hits = Q(
    "g2_hits",
    (s, d) => {
      val (hs, as) = hitsRounds(s, d)
      hs.last.join(as.last, Seq("doc_id"))
        .select(col("doc_id"), col("hub"), col("auth"))
    },
    Some(g2Sql(Dialect.DuckDB)))

  private[graft] def g2Sql(d: Dialect): String =
    s"""WITH ${hitsCtes(d)}
      SELECT h.doc_id, h.hub, a.auth
      FROM h$HITS_ITERS h JOIN a$HITS_ITERS a ON a.doc_id = h.doc_id"""

  /** The full HITS recurrence (h0, a1..a6, h1..h6) as CTE text — the
    * shared prefix of g2 and sql_g2 (final scores) and g2b (per-round
    * deltas). STRICTLY LINEAR chain (the sql_g1 lesson, here in the
    * oracle: DuckDB inlines CTEs, so a normalize step that references
    * its raw-score CTE twice — once for the join, once for the total —
    * expands the whole prior chain 4x PER ROUND; 4^6 inlined copies
    * blew the process fd limit re-opening the parquet leaf). Each CTE
    * references its predecessor exactly once: the total rides along as
    * an unpartitioned window sum over the null-filled node frame.
    * (g2b's delta branches reference TWO chain suffixes each — that is
    * the g1b shape, quadratic total inlining over rounds, not the
    * exponential per-round doubling the linearity rule exists for.) */
  private def hitsCtes(d: Dialect): String = {
    def norm(i: Int, frm: String, key: String, score: String,
        prev: String, prevCol: String): String =
      s"""${frm}r$i AS (
        SELECT e.$key AS doc_id, CAST(sum(p.$prevCol) AS BIGINT) AS s
        FROM edges e JOIN $prev p
          ON p.doc_id = e.${if (key == "dst") "src" else "dst"}
        GROUP BY e.$key),
      $frm$i AS (
        SELECT doc_id,
          CAST(coalesce(s, 0) * $HITS_NN ${d.div}
            greatest(1, sum(coalesce(s, 0)) OVER () ${d.div} $HITS_ND)
            AS BIGINT) AS $score
        FROM (SELECT n.doc_id, r.s
              FROM nodes n LEFT JOIN ${frm}r$i r
                ON r.doc_id = n.doc_id) z)"""
    val rounds = (1 to HITS_ITERS).map { i =>
      val hPrev = if (i == 1) "h0" else s"h${i - 1}"
      norm(i, "a", "dst", "auth", hPrev, "hub") + ",\n      " +
        norm(i, "h", "src", "hub", s"a$i", "auth")
    }.mkString(",\n      ")
    s"""${graphEdgesCtes(d)},
      h0 AS (SELECT doc_id, $PR_SCALE ${d.div} n AS hub FROM nodes),
      $rounds"""
  }

  // ---------------------------------------------------------------------
  // G2b: HITS convergence observability — the g1b treatment for the
  // second fixed iteration count (VERDICT r15 #4): one row per round
  // with the L1 deltas of BOTH score vectors (hub: h_i vs h_{i−1} for
  // every round; auth: a_i vs a_{i−1}, defined from round 2 — a1 has
  // no predecessor, the column is NULL there), so "how converged is 6
  // rounds" is driver-visible output and the dial to raise HITS_ITERS
  // on. Every delta joins two ALREADY-MATERIALIZED rounds from
  // hitsRounds (localCheckpoint per round), so no fixpoint lineage
  // re-runs; each branch is one doc_id join + one scalar agg.
  // GraphSpec asserts overall contraction (the final deltas sit well
  // under the early ones) — HITS normalization makes per-step deltas
  // near-monotone but not provably strictly so, hence the weaker,
  // honest assertion.
  // ---------------------------------------------------------------------
  val g2bHitsConverge = Q(
    "g2b_hits_converge",
    (s, d) => {
      // r21 (guide §2.4, the g1b tall-union rewrite): one lag window
      // per score family instead of one join+agg branch per round —
      // the old shape planned ~45 sequential stage-jobs over rounds
      // that were already checkpointed. Round labels are preserved
      // exactly: hub deltas tag the CURRENT frame's index (1..iters),
      // auth deltas tag index+1 (2..iters+1), matching the old
      // (i+1)/(i+2) branch labels.
      import org.apache.spark.sql.expressions.Window
      val (hs, as) = hitsRounds(s, d)
      def deltas(rounds: Seq[DataFrame], c: String, out: String,
          firstTag: Long): DataFrame = {
        val tall = rounds.zipWithIndex.map { case (r, i) =>
          r.select(lit(firstTag + i).as("round"), col("doc_id"), col(c))
        }.reduce(_ unionByName _)
        val w = Window.partitionBy(col("doc_id"))
          .orderBy(col("round").asc)
        tall.withColumn("prv", lag(col(c), 1).over(w))
          .filter(col("round") > firstTag)
          .groupBy(col("round"))
          .agg(sum(abs(col(c) - col("prv"))).as(out))
      }
      val hubD = deltas(hs, "hub", "hub_l1", 0L)
      val authD = deltas(as, "auth", "auth_l1", 1L)
      hubD.join(authD, Seq("round"), "left")
        .select(col("round"), col("hub_l1"), col("auth_l1"))
    },
    Some {
      val hubB = (1 to HITS_ITERS).map { i =>
        s"""SELECT CAST($i AS BIGINT) AS round,
          CAST(sum(abs(a.hub - b.hub)) AS BIGINT) AS hub_l1
        FROM h$i a JOIN h${i - 1} b ON a.doc_id = b.doc_id"""
      }.mkString(" UNION ALL ")
      val authB = (2 to HITS_ITERS).map { i =>
        s"""SELECT CAST($i AS BIGINT) AS round,
          CAST(sum(abs(a.auth - b.auth)) AS BIGINT) AS auth_l1
        FROM a$i a JOIN a${i - 1} b ON a.doc_id = b.doc_id"""
      }.mkString(" UNION ALL ")
      s"""WITH ${hitsCtes(Dialect.DuckDB)}
      SELECT h.round, h.hub_l1, a.auth_l1
      FROM ($hubB) h LEFT JOIN ($authB) a ON a.round = h.round"""
    })

  /** Synchronous label-propagation rounds. 5 is past ordering
    * stabilization on the synthetic quasi-ring (GraphSpec recomputes
    * the fixpoint independently at the same depth). */
  private[graft] val LPA_ITERS = 5

  // ---------------------------------------------------------------------
  // G3: community detection by synchronous label propagation (Raghavan
  // et al. 2007) over the UNDIRECTED view of the same link graph as
  // g1/g2 — the third canonical link-analysis prior: a crawl curator
  // reads communities as site/mirror clusters (sampling caps per
  // community, spam-farm detection). Exactness needs no scaling trick
  // here: labels ARE node ids and votes ARE counts, so every quantity
  // is a BIGINT both engines agree on bit-for-bit; the only
  // determinism hazard is the argmax tie, broken (count DESC, label
  // ASC) — a total order.
  //
  // Each node also votes for ITSELF (a standing self-loop): that keeps
  // isolated nodes labeled without a second reference to the previous
  // round's frame (the sql_g2 lesson — a coalesce-with-previous update
  // doubles the inlined CTE chain per round, 2^5 copies), and damps
  // the 2-cycle oscillation synchronous LPA suffers on near-bipartite
  // structures.
  //
  // Shape at scale: the symmetrized neighbor list builds once (explode
  // of both directions — d7's lesson: a self-union evaluates the edge
  // subtree per branch — cached and eagerly counted); each round is
  // ONE edge-sized shuffle (the (node, label) vote hash-agg) plus one
  // node-keyed window (rank-1 filter → WindowGroupLimit, partial
  // top-1 before the sort shuffle), and the label frame is
  // localCheckpoint-truncated per round.
  // ---------------------------------------------------------------------
  /** The l0..l[[LPA_ITERS]] label frames, each snapped —
    * shared by g3 (final communities) and g3b (per-round
    * labels-changed counts). */
  private def lpaRounds(s: SparkSession, d: String): Seq[DataFrame] = {
    import org.apache.spark.sql.expressions.Window
    val nodes = nodesOf(s, d)
    val nbrs = edgesOf(nodes)
      .select(explode(array(
        struct(col("src").as("node"), col("dst").as("nbr")),
        struct(col("dst").as("node"), col("src").as("nbr")))).as("e"))
      .select(col("e.node"), col("e.nbr"))
      .unionByName(nodes.select(
        col("doc_id").as("node"), col("doc_id").as("nbr")))
      .persist()
    nbrs.count() // eager: 5 consuming rounds must not race the cache
    var labels = nodes
      .select(col("doc_id"), col("doc_id").as("lbl"))
      .snap()
    val rounds = Seq.newBuilder[DataFrame]
    rounds += labels
    for (_ <- 1 to LPA_ITERS) {
      val votes = nbrs
        .join(labels.select(col("doc_id").as("nbr"), col("lbl")), "nbr")
        .groupBy(col("node"), col("lbl")).agg(count(lit(1)).as("cnt"))
      labels = votes
        .withColumn("rn", row_number().over(Window.partitionBy(col("node"))
          .orderBy(col("cnt").desc, col("lbl").asc)))
        .filter(col("rn") === 1)
        .select(col("node").as("doc_id"), col("lbl"))
        .snap()
      rounds += labels
    }
    nbrs.unpersist()
    rounds.result()
  }

  /** The LPA recurrence (nbrs, l0..l5) as CTE text — the shared prefix
    * of g3's and g3b's oracles and sql_g3. */
  private def lpaCtes(d: Dialect): String = {
    val rounds = (1 to LPA_ITERS).map { i =>
      s"""c$i AS (
        SELECT b.node, l.lbl, CAST(count(*) AS BIGINT) AS cnt
        FROM nbrs b JOIN l${i - 1} l ON l.doc_id = b.nbr
        GROUP BY b.node, l.lbl),
      l$i AS (
        SELECT node AS doc_id, lbl FROM (
          SELECT node, lbl, row_number() OVER (
            PARTITION BY node ORDER BY cnt DESC, lbl ASC) AS rn
          FROM c$i) z
        WHERE rn = 1)"""
    }.mkString(",\n      ")
    s"""${graphEdgesCtes(d)},
      nbrs AS (
        SELECT src AS node, dst AS nbr FROM edges
        UNION ALL SELECT dst AS node, src AS nbr FROM edges
        UNION ALL SELECT doc_id AS node, doc_id AS nbr FROM nodes),
      l0 AS (SELECT doc_id, doc_id AS lbl FROM nodes),
      $rounds"""
  }

  val g3LabelProp = Q(
    "g3_label_prop",
    (s, d) => {
      val labels = lpaRounds(s, d).last
      val sizes = labels.groupBy(col("lbl")).agg(count(lit(1)).as("csize"))
      labels.join(sizes, "lbl")
        .select(col("doc_id"), col("lbl").as("community"), col("csize"))
    },
    Some(g3Sql(Dialect.DuckDB)))

  private[graft] def g3Sql(d: Dialect): String =
    s"""WITH ${lpaCtes(d)}
      SELECT l.doc_id, l.lbl AS community, s.csize
      FROM l$LPA_ITERS l
      JOIN (SELECT lbl, CAST(count(*) AS BIGINT) AS csize
            FROM l$LPA_ITERS GROUP BY lbl) s ON s.lbl = l.lbl"""

  // ---------------------------------------------------------------------
  // G3b: LPA convergence observability (VERDICT r15 #4) — one row per
  // round: how many nodes CHANGED label this round (the convergence
  // dial: 0 means fixpoint; a plateau at a non-zero value across
  // consecutive rounds is the classic synchronous-LPA 2-cycle, now
  // driver-visible instead of silently absorbed by the fixed
  // LPA_ITERS) plus the surviving distinct-label count (community
  // consolidation per round). Deltas join already-materialized rounds
  // from lpaRounds; labels are BIGINTs so both engines agree exactly.
  // ---------------------------------------------------------------------
  val g3bLpaConverge = Q(
    "g3b_lpa_converge",
    (s, d) => {
      // r21: tall-union + one lag window (the g1b rewrite) instead of
      // one join+agg branch per LPA round — same rows, ~2 exchanges
      // instead of ~15 sequential stage-jobs.
      import org.apache.spark.sql.expressions.Window
      val rounds = lpaRounds(s, d)
      val tall = rounds.zipWithIndex.map { case (r, i) =>
        r.select(lit(i.toLong).as("round"), col("doc_id"), col("lbl"))
      }.reduce(_ unionByName _)
      val w = Window.partitionBy(col("doc_id")).orderBy(col("round").asc)
      tall.withColumn("prv", lag(col("lbl"), 1).over(w))
        .filter(col("round") >= 1)
        .groupBy(col("round"))
        .agg(count(when(col("lbl") =!= col("prv"), 1)).as("changed"),
          count_distinct(col("lbl")).as("n_labels"))
        .select(col("round"), col("changed"), col("n_labels"))
    },
    Some {
      val branches = (1 to LPA_ITERS).map { i =>
        s"""SELECT CAST($i AS BIGINT) AS round,
          CAST(count(CASE WHEN a.lbl <> b.lbl THEN 1 END) AS BIGINT)
            AS changed,
          CAST(count(DISTINCT a.lbl) AS BIGINT) AS n_labels
        FROM l$i a JOIN l${i - 1} b ON a.doc_id = b.doc_id"""
      }.mkString(" UNION ALL ")
      s"""WITH ${lpaCtes(Dialect.DuckDB)}
      $branches"""
    })

  /** The DENSE undirected substrate of g4 (k-core) and g5 (triangles):
    * the g1/g2/g3 sparse cross-links PLUS, per 8-node block, a 4-clique
    * on residues 0–3 and hash-randomized fringe attachments from
    * residues 4–7 to the first h60(id)%4 clique members. Web graphs
    * have exactly this texture — locally clustered cores (the cliques
    * carry triangles at every scale) with a loosely attached fringe
    * (whose hash-varied degree makes peeling genuinely bite) — whereas
    * the sparse multiplier ring alone is triangle-free and min-degree-
    * uniform at round N (both ops were oracle-green but DEGENERATE on
    * it at sf0.01: zero triangles, zero peeled — the r13 lesson, caught
    * by the spec's non-vacuity guards before commit). The fringe count
    * hashes with [[graft.functions.Portable.h60]] so DuckDB replays the
    * graph bit-for-bit, and modular wraps keep partial tail blocks
    * valid at any N.
    *
    * Simulated at N = 500 / 5k / 15k / 50k / 150k: triangles ≈ N,
    * peeling removes ~8% and reaches its fixpoint in ≤ 3 rounds at
    * every scale (clique walls stop cascades — a chain-structured
    * densifier instead unzips linearly and never converges; tried and
    * discarded). Distinct simple edges (u < v): one hash-agg shuffle,
    * paid once per query. */
  private def denseUndOf(nodes: DataFrame): DataFrame = {
    val sparse = edgesOf(nodes)
      .select(col("src").as("x"), col("dst").as("y"))
    val blocked = nodes.select(col("doc_id"), col("n"),
      (col("doc_id") - col("doc_id") % 8).as("b"),
      (col("doc_id") % 8).as("r"))
    val clique = blocked
      .select(col("doc_id"), col("n"), col("b"), col("r"),
        explode(array(lit(1L), lit(2L), lit(3L))).as("j"))
      .filter(col("r") < 4 && col("j") > col("r"))
      .select(col("doc_id").as("x"), ((col("b") + col("j")) % col("n")).as("y"))
    val fringe = blocked
      .filter(col("r") >= 4)
      .select(col("doc_id"), col("n"), col("b"),
        (graft.functions.Portable.h60(col("doc_id"), "g4f") % 4).as("c"),
        explode(array(lit(0L), lit(1L), lit(2L))).as("j"))
      .filter(col("j") < col("c"))
      .select(col("doc_id").as("x"), ((col("b") + col("j")) % col("n")).as("y"))
    sparse.unionByName(clique).unionByName(fringe)
      .filter(col("x") =!= col("y"))
      .select(least(col("x"), col("y")).as("u"),
        greatest(col("x"), col("y")).as("v"))
      .distinct()
  }

  /** [[denseUndOf]] as SQL text over the `nodes` and `edges` CTEs. */
  private[graft] def denseUndCte(d: Dialect): String =
    s"""und AS (
        SELECT DISTINCT least(x, y) AS u, greatest(x, y) AS v FROM (
          SELECT src AS x, dst AS y FROM edges
          UNION ALL
          SELECT doc_id AS x, ((doc_id - doc_id % 8) + j) % n AS y
          FROM nodes ${d.crossValues("t", "j", 1, 2, 3)}
          WHERE doc_id % 8 < 4 AND j > doc_id % 8
          UNION ALL
          SELECT doc_id AS x, ((doc_id - doc_id % 8) + j) % n AS y
          FROM nodes ${d.crossValues("t", "j", 0, 1, 2)}
          WHERE doc_id % 8 >= 4 AND j < ${d.h60("doc_id", "g4f")} % 4
        ) z WHERE x <> y)"""

  /** [[denseUndCte]] + the both-directions neighbor view, shared by
    * g4's and g4b's oracles and sql_g4. (r20 probe: a REPARTITION(nbr)
    * hint on the Spark side was tried and REVERTED — the executed plan
    * already collapses the peeling rounds' identical agg exchanges via
    * ReusedExchange (27 reuse nodes in plans/r20/sql_g4_kcore_before
    * .txt); the hint only added exchanges, measured ~1.1x slower.) */
  private[graft] def undNbrsCtes(d: Dialect): String =
    denseUndCte(d) +
      """,
      unbrs AS (
        SELECT u AS node, v AS nbr FROM und
        UNION ALL SELECT v AS node, u AS nbr FROM und)"""

  /** Peeling rounds for the k-core. 6 rounds reach the fixpoint on the
    * quasi-ring fixture (GraphSpec asserts round 6 removes nothing); a
    * graph needing more rounds shows up as a non-converged spec, not a
    * silently-wrong answer. */
  private[graft] val KCORE_ITERS = 6

  /** The core order: nodes must keep ≥ K still-alive neighbors. K = 3
    * on the dense substrate: the per-block 4-cliques guarantee an
    * unpeelable 3-core backbone at every scale, while ~8% of the
    * hash-fringe (attachment count 0–1 plus sparse luck) falls below 3
    * and peels — both sides of the decomposition non-empty at any N
    * (simulated 500 → 150k). K = 2 is vacuous here (min degree ≥ 2 by
    * construction at block-aligned N). */
  private[graft] val KCORE_K = 3L

  // ---------------------------------------------------------------------
  // G4: k-core decomposition by synchronous peeling (Seidman 1983) over
  // the UNDIRECTED view of the g1/g2/g3 link graph — the density prior
  // of crawl curation: the k-core is the maximal subgraph where every
  // node keeps ≥ k neighbors, so core membership separates densely
  // interlinked hubs/spam-farms from the long tail of leaf pages, and
  // peeling depth is the standard "how embedded is this host" feature.
  //
  // Semantics: KCORE_ITERS synchronized rounds of "drop every node
  // whose degree among survivors is < K", then report survivors with
  // their in-core degree. Peeling is monotone (alive sets only
  // shrink), so a round that removes nothing IS the fixpoint —
  // GraphSpec asserts exactly that on the fixture, and the all-integer
  // quantities (degrees are counts) make Spark and DuckDB agree
  // bit-for-bit with no scaling tricks.
  //
  // The recurrence is STRICTLY LINEAR by a small lemma: the textbook
  // round is a_i = {u ∈ a_{i-1} : |N(u) ∩ a_{i-1}| ≥ K}, which reads
  // a_{i-1} twice (membership + neighbor count) — the 2^rounds CTE-
  // inlining trap in SQL form (the sql_g2 lesson). But the membership
  // conjunct is REDUNDANT: a node peeled at round j had < K alive
  // neighbors then, alive sets only shrink, so its count at any later
  // round is ≤ that and it can never re-pass the ≥ K test. Hence
  // a_i = {u : |N(u) ∩ a_{i-1}| ≥ K} — one reference per round — and
  // a_i ⊆ a_{i-1} follows by induction. Only the FINAL report (core
  // members + their in-core degree) reads the last frame twice: one
  // doubling at the tail, not 2^rounds along the chain.
  //
  // Shape at scale: the undirected neighbor list builds once (cached,
  // eagerly counted — the a17 lazy-persist race); each round is one
  // nbr-keyed join + one node-keyed count hash-agg (edge-sized
  // shuffles, same as g3's vote round) and the alive frame is
  // localCheckpoint-truncated per round (it still feeds two stages —
  // the join and the next checkpoint — under parallel AQE).
  // ---------------------------------------------------------------------
  /** The a0..a[[KCORE_ITERS]] alive frames (plus the shared cached
    * neighbor list's lifecycle), each snapped — shared
    * by g4 (final core) and g4b (per-round peel counts). Returns the
    * rounds and the aliveNbrCnt closure over the still-cached nbrs;
    * callers must run their consuming plans before this session drops
    * the cache (both callers materialize via the Q's single action). */
  private def kcoreRounds(s: SparkSession, d: String)
      : (Seq[DataFrame], DataFrame => DataFrame) = {
    val nodes = nodesOf(s, d)
    val nbrs = denseUndOf(nodes)
      .select(explode(array(
        struct(col("u").as("node"), col("v").as("nbr")),
        struct(col("v").as("node"), col("u").as("nbr")))).as("e"))
      .select(col("e.node"), col("e.nbr"))
      .persist()
    nbrs.count() // eager: the peeling rounds must not race the cache
    def aliveNbrCnt(alive: DataFrame): DataFrame =
      nbrs
        .join(alive.select(col("doc_id").as("nbr")), "nbr")
        .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    var alive = nodes.select(col("doc_id")).snap()
    val rounds = Seq.newBuilder[DataFrame]
    rounds += alive
    for (_ <- 1 to KCORE_ITERS) {
      alive = aliveNbrCnt(alive)
        .filter(col("deg") >= KCORE_K)
        .select(col("node").as("doc_id"))
        .snap()
      rounds += alive
    }
    nbrs.unpersist()
    (rounds.result(), aliveNbrCnt)
  }

  /** The peeling recurrence (und, unbrs, a0..a6) as CTE text — the
    * shared prefix of g4's and g4b's oracles and sql_g4. */
  private def kcoreCtes(d: Dialect): String = {
    val rounds = (1 to KCORE_ITERS).map { i =>
      s"""d$i AS (
        SELECT b.node, CAST(count(*) AS BIGINT) AS deg
        FROM unbrs b
        JOIN a${i - 1} x ON x.doc_id = b.nbr
        GROUP BY b.node),
      a$i AS (SELECT node AS doc_id FROM d$i WHERE deg >= $KCORE_K)"""
    }.mkString(",\n      ")
    s"""${graphEdgesCtes(d)},
      ${undNbrsCtes(d)},
      a0 AS (SELECT doc_id FROM nodes),
      $rounds"""
  }

  val g4Kcore = Q(
    "g4_kcore",
    (s, d) => {
      val (rounds, aliveNbrCnt) = kcoreRounds(s, d)
      val alive = rounds.last
      aliveNbrCnt(alive)
        .join(alive.select(col("doc_id").as("node")), Seq("node"),
          "left_semi")
        .select(col("node").as("doc_id"), col("deg").as("core_deg"))
    },
    Some(g4Sql(Dialect.DuckDB)))

  private[graft] def g4Sql(d: Dialect): String =
    s"""WITH ${kcoreCtes(d)}
      SELECT d.node AS doc_id, d.deg AS core_deg
      FROM (SELECT b.node, CAST(count(*) AS BIGINT) AS deg
            FROM unbrs b
            JOIN a$KCORE_ITERS x ON x.doc_id = b.nbr
            GROUP BY b.node) d
      WHERE EXISTS (SELECT 1 FROM a$KCORE_ITERS y
                    WHERE y.doc_id = d.node)"""

  // ---------------------------------------------------------------------
  // G4b: peeling convergence observability (VERDICT r15 #4) — one row
  // per round: survivors and how many nodes PEELED this round. Peeling
  // is monotone (alive sets only shrink), so "the final round peels
  // zero" IS the fixpoint witness — previously asserted only in
  // GraphSpec at sf0.01, now first-class query output: on a graph
  // where KCORE_ITERS rounds don't reach the fixpoint, the last row's
  // peeled column reads non-zero in production instead of silently
  // reporting a non-core as the core. Each branch counts two
  // already-materialized rounds (1-row aggs over localCheckpoint'd
  // id frames).
  // ---------------------------------------------------------------------
  val g4bKcoreConverge = Q(
    "g4b_kcore_converge",
    (s, d) => {
      val (rounds, _) = kcoreRounds(s, d)
      rounds.zip(rounds.tail).zipWithIndex.map { case ((p, c), i) =>
        p.agg(count(lit(1)).as("prev_n"))
          .crossJoin(c.agg(count(lit(1)).as("alive")))
          .select(lit((i + 1).toLong).as("round"), col("alive"),
            (col("prev_n") - col("alive")).as("peeled"))
      }.reduce(_ unionByName _)
    },
    Some {
      val branches = (1 to KCORE_ITERS).map { i =>
        s"""SELECT CAST($i AS BIGINT) AS round,
          (SELECT CAST(count(*) AS BIGINT) FROM a$i) AS alive,
          (SELECT CAST(count(*) AS BIGINT) FROM a${i - 1})
            - (SELECT CAST(count(*) AS BIGINT) FROM a$i) AS peeled"""
      }.mkString(" UNION ALL ")
      s"""WITH ${kcoreCtes(Dialect.DuckDB)}
      $branches"""
    })

  // ---------------------------------------------------------------------
  // G5: triangle counting over the same undirected view — the local-
  // clustering prior (a page whose neighborhood closes into triangles
  // sits in genuine community structure; link farms show high degree
  // with near-zero closure), and the canonical "join-explosion" graph
  // workload whose scale story is the ORIENTATION, not the join: each
  // undirected edge is directed from its (degree, id)-smaller endpoint
  // to the larger, so every wedge is generated at its lowest-ordered
  // apex and the wedge count is Σ d⁺(a)² with d⁺ bounded by O(√m) on
  // any graph (arboricity bound, Chiba–Nishizeki) — the skew-proof
  // shape, vs Σ d(a)² unoriented which explodes on hub nodes at 100 TB.
  // Each triangle is emitted exactly once (its two higher-ordered
  // corners close the wedge), counts are integers, and the (deg, id)
  // order is total, so both engines agree bit-for-bit.
  //
  // Shape: degree hash-agg → two node-keyed joins to attach endpoint
  // degrees → wedge self-join on the apex → closure semi-join against
  // the oriented edge list → explode corners → per-node count. Five
  // keyed shuffles, no iteration, no caching needed.
  // ---------------------------------------------------------------------
  val g5Triangles = Q(
    "g5_triangle_count",
    (s, d) => {
      val nodes = nodesOf(s, d)
      val und = denseUndOf(nodes)
      val deg = und
        .select(explode(array(col("u"), col("v"))).as("x"))
        .groupBy(col("x")).agg(count(lit(1)).as("deg"))
      val before = col("du") < col("dv") ||
        (col("du") === col("dv") && col("u") < col("v"))
      val oriented = und
        .join(deg.select(col("x").as("u"), col("deg").as("du")), "u")
        .join(deg.select(col("x").as("v"), col("deg").as("dv")), "v")
        .select(
          when(before, col("u")).otherwise(col("v")).as("a"),
          when(before, col("v")).otherwise(col("u")).as("b"),
          when(before, col("dv")).otherwise(col("du")).as("db"))
      val wedges = oriented.as("e1")
        .join(oriented.as("e2"), col("e1.a") === col("e2.a") &&
          (col("e1.db") < col("e2.db") ||
            (col("e1.db") === col("e2.db") &&
              col("e1.b") < col("e2.b"))))
        .select(col("e1.a").as("w0"), col("e1.b").as("w1"),
          col("e2.b").as("w2"))
      val tris = wedges
        .join(oriented.select(col("a").as("w1"), col("b").as("w2")),
          Seq("w1", "w2"), "left_semi")
      val triCnt = tris
        .select(explode(array(col("w0"), col("w1"), col("w2"))).as("x"))
        .groupBy(col("x")).agg(count(lit(1)).as("tri_cnt"))
      deg
        .join(triCnt, Seq("x"), "left")
        .select(col("x").as("doc_id"), col("deg"),
          coalesce(col("tri_cnt"), lit(0L)).as("tri_cnt"))
    },
    Some(g5Sql(Dialect.DuckDB)))

  private[graft] def g5Sql(d: Dialect): String =
    s"""WITH ${graphEdgesCtes(d)},
      ${denseUndCte(d)},
      deg AS (
        SELECT x, CAST(count(*) AS BIGINT) AS deg
        FROM (SELECT u AS x FROM und UNION ALL SELECT v AS x FROM und) z
        GROUP BY x),
      oriented AS (
        SELECT CASE WHEN du < dv OR (du = dv AND u < v)
                 THEN u ELSE v END AS a,
               CASE WHEN du < dv OR (du = dv AND u < v)
                 THEN v ELSE u END AS b,
               CASE WHEN du < dv OR (du = dv AND u < v)
                 THEN dv ELSE du END AS db
        FROM (SELECT e.u, e.v, x.deg AS du, y.deg AS dv
              FROM und e JOIN deg x ON x.x = e.u
              JOIN deg y ON y.x = e.v) z),
      wedges AS (
        SELECT e1.a AS w0, e1.b AS w1, e2.b AS w2
        FROM oriented e1 JOIN oriented e2 ON e1.a = e2.a
        WHERE e1.db < e2.db OR (e1.db = e2.db AND e1.b < e2.b)),
      tris AS (
        SELECT w.w0, w.w1, w.w2 FROM wedges w
        WHERE EXISTS (SELECT 1 FROM oriented o
                      WHERE o.a = w.w1 AND o.b = w.w2)),
      tri_cnt AS (
        SELECT x, CAST(count(*) AS BIGINT) AS tri_cnt
        FROM (SELECT w0 AS x FROM tris UNION ALL
              SELECT w1 AS x FROM tris UNION ALL
              SELECT w2 AS x FROM tris) z
        GROUP BY x)
      SELECT d.x AS doc_id, d.deg,
        CAST(coalesce(t.tri_cnt, 0) AS BIGINT) AS tri_cnt
      FROM deg d LEFT JOIN tri_cnt t ON t.x = d.x"""

  // ---------------------------------------------------------------------
  // G7: incremental (warm-start) PageRank on an edge delta — the
  // nightly-crawl maintenance form of g1: yesterday's converged ranks
  // are not thrown away when today's links arrive. The delta is
  // deterministic the edgesOf way (replayable from doc_id alone):
  // every node with doc_id % 50 == 0 gains ONE new outlink to
  // (doc_id·37 + 3) % N, so ~2% of out-degrees change and some
  // formerly-DANGLING nodes (doc_id % 100 == 0) leave the dangling set
  // — the two things a naive "just keep iterating" implementation gets
  // wrong (stale outdeg in the contribution division, stale dangling
  // mass).
  //
  // Two fixpoints run on the MERGED graph through the identical
  // integer-exact recurrence: COLD from the uniform init (what a full
  // rebuild pays) and WARM from the base graph's converged r8 ranks
  // (what the incremental job pays). Output: one row per (phase,
  // round) with the per-round L1 step and the L1 distance to the cold
  // fixpoint (c8, the reference), so "warm start converges in fewer
  // rounds" is a driver-visible NUMBER per round, not a claim — the
  // g1b observability discipline applied to the incremental decision
  // (GraphSpec pins warm₀ ≪ cold₀ and warm₄ ≤ cold₄).
  //
  // Shape at scale: the warm path's cost is G7_WARM rounds instead of
  // PR_ITERS — each round g1's one contribution shuffle and one job
  // that snaps it (the d8/a17 lineage discipline); the report joins
  // ALREADY-MATERIALIZED rounds. The cold run exists here only to
  // publish the comparison; production runs warm-only.
  // ---------------------------------------------------------------------
  private[graft] val G7_WARM = 4

  val g7DeltaPagerank = Q(
    "g7_delta_pagerank",
    (s, d) => {
      val nodes = nodesOf(s, d)
      val base = prFixpointRounds(prInit(nodes), g1Links, PR_ITERS).frames
      val bump = when(col("doc_id") % 50 === 0, lit(1L)).otherwise(lit(0L))
      val mNodes = nodes.select(col("doc_id"), col("n"),
        (col("outdeg") + bump).as("outdeg"))
      // g1's links (from the base out-degree) plus the delta link
      val mLinks = concat(
        linksOf(col("doc_id"), col("n"), g1Outdeg),
        slice(array((col("doc_id") * 37L + 3L) % col("n")), lit(1),
          bump.cast("int")))
      val cold = prFixpointRounds(prInit(mNodes), mLinks, PR_ITERS)
      val warm = prFixpointRounds(
        mNodes.join(base.last.select(col("doc_id"), col("pr")), "doc_id")
          .select(col("doc_id"), col("n"), col("outdeg"), col("pr")),
        mLinks, G7_WARM)
      // the warm seed is materialized; the report reads every cold and
      // warm round, so those stay until releaseCaches()
      Checkpoints.release(base)
      val fin = cold.frames.last.select(col("doc_id"), col("pr").as("pr_fin"))
      // Tall form: union every checkpointed round once with (phase,
      // round) tags, ONE doc_id join against the cold fixpoint, ONE
      // grouped aggregation (the per-round branch form planned ~140
      // sequential AQE stage-jobs — pure scheduler latency). l1_delta
      // is each round's returned step; round 0 has none, so the left
      // join leaves it null, as the oracle's round-0 branch does.
      def tallOf(phase: String, rounds: Seq[DataFrame]): DataFrame =
        rounds.zipWithIndex.map { case (r, i) =>
          r.select(lit(phase).as("phase"), lit(i.toLong).as("round"),
            col("doc_id"), col("pr"))
        }.reduce(_ unionByName _)
      val steps = s.createDataFrame(
        Seq("cold" -> cold, "warm" -> warm).flatMap { case (phase, pr) =>
          pr.steps.zipWithIndex.map { case (step, i) =>
            (phase, (i + 1).toLong, step)
          }
        }).toDF("phase", "round", "l1_delta")
      tallOf("cold", cold.frames).unionByName(tallOf("warm", warm.frames))
        .join(fin, "doc_id")
        .groupBy(col("phase"), col("round"))
        .agg(sum(abs(col("pr") - col("pr_fin"))).as("dist_to_final"))
        .join(steps, Seq("phase", "round"), "left")
        .select(col("phase"), col("round"), col("l1_delta"),
          col("dist_to_final"))
    },
    Some {
      val coldRounds = prRecurrenceDuck("c", "mnodes", "medges", PR_ITERS)
      val warmRounds = prRecurrenceDuck("w", "mnodes", "medges", G7_WARM)
      def branch(phase: String, tag: String, i: Int): String =
        if (i == 0)
          s"""SELECT '$phase' AS phase, CAST(0 AS BIGINT) AS round,
            CAST(NULL AS BIGINT) AS l1_delta,
            CAST(sum(abs(a.pr - f.pr)) AS BIGINT) AS dist_to_final
          FROM ${tag}0 a JOIN c$PR_ITERS f ON f.doc_id = a.doc_id"""
        else
          s"""SELECT '$phase' AS phase, CAST($i AS BIGINT) AS round,
            CAST(sum(abs(a.pr - b.pr)) AS BIGINT) AS l1_delta,
            CAST(sum(abs(a.pr - f.pr)) AS BIGINT) AS dist_to_final
          FROM ${tag}$i a JOIN ${tag}${i - 1} b ON b.doc_id = a.doc_id
          JOIN c$PR_ITERS f ON f.doc_id = a.doc_id"""
      val branches =
        ((0 to PR_ITERS).map(branch("cold", "c", _)) ++
          (0 to G7_WARM).map(branch("warm", "w", _)))
          .mkString(" UNION ALL ")
      s"""WITH $prDuckCtes,
      mnodes AS MATERIALIZED (
        SELECT doc_id, n, outdeg +
          CASE WHEN doc_id % 50 = 0 THEN 1 ELSE 0 END AS outdeg
        FROM nodes),
      medges AS MATERIALIZED (
        SELECT src, outdeg +
            CASE WHEN src % 50 = 0 THEN 1 ELSE 0 END AS outdeg, dst
        FROM edges
        UNION ALL
        SELECT doc_id AS src, outdeg + 1 AS outdeg,
          (doc_id * 37 + 3) % n AS dst
        FROM nodes WHERE doc_id % 50 = 0),
      c0 AS MATERIALIZED (
        SELECT doc_id, n, outdeg, $PR_SCALE // n AS pr FROM mnodes),
      $coldRounds,
      w0 AS MATERIALIZED (
        SELECT m.doc_id, m.n, m.outdeg, r.pr
        FROM mnodes m JOIN r$PR_ITERS r ON r.doc_id = m.doc_id),
      $warmRounds
      $branches"""
    })

  /** [[prDuckCtes]]'s per-round recurrence over ANY nodes/edges
    * relations with CTE names `$tag0..$tag$iters` — the oracle twin of
    * [[prFixpointRounds]] (the caller supplies `${tag}0`). */
  private def prRecurrenceDuck(
      tag: String, nodesRel: String, edgesRel: String, iters: Int)
      : String =
    (1 to iters).map { i =>
      s"""${tag}recv$i AS (
        SELECT e.dst AS doc_id,
          CAST(sum(r.pr // e.outdeg) AS BIGINT) AS recv
        FROM $edgesRel e JOIN $tag${i - 1} r ON r.doc_id = e.src
        GROUP BY e.dst),
      ${tag}dang$i AS (
        SELECT CAST(coalesce(sum(pr), 0) AS BIGINT) AS dang
        FROM $tag${i - 1} WHERE outdeg = 0),
      $tag$i AS MATERIALIZED (
        SELECT n.doc_id, n.n, n.outdeg,
          (15 * ($PR_SCALE // n.n)) // 100
            + ($PR_DAMP_PCT * (coalesce(v.recv, 0) + d.dang // n.n))
              // 100 AS pr
        FROM $nodesRel n LEFT JOIN ${tag}recv$i v ON v.doc_id = n.doc_id
        CROSS JOIN ${tag}dang$i d)"""
    }.mkString(",\n      ")

  // ---------------------------------------------------------------------
  // G8: hash-random walk corpus — the sequence GENERATOR the graph
  // family lacked: node2vec/DeepWalk-style embedding trainers and
  // GNN neighborhood samplers consume fixed-length random walks, and
  // at scale the walk corpus is itself a lake table. Each seed node
  // (doc_id % G8_SEED_MOD = 0) starts G8_WALKS walks of up to G8_LEN
  // hops; the "random" next hop is the out-neighbor minimizing
  // h60(seed|walk|step|dst) — the suite's replayable-randomness
  // convention (c2/c8's seeded hash), so two engines and two runs
  // generate the SAME corpus, and walk diversity comes from the hash
  // varying per (walk, step). A walk reaching a dangling node stops
  // (its rows simply end — truncation is visible as a shorter walk,
  // never padded).
  //
  // Shape at scale: the edge list builds once (persisted, eagerly
  // counted);
  // each hop is one join keyed on the frontier's current node + a
  // per-(seed, walk) argmin over ≤ outdeg candidates (WindowGroupLimit
  // over ≤ 3-row groups), with the frontier localCheckpoint-truncated
  // per hop (it feeds the output AND the next join — the g1/d8
  // two-consumer round discipline). Work per hop = |active walks| ×
  // mean outdeg, independent of corpus size beyond the first join's
  // edge-side shuffle.
  // ---------------------------------------------------------------------
  private[graft] val G8_SEED_MOD = 50L
  private[graft] val G8_WALKS = 2
  private[graft] val G8_LEN = 4

  val g8RandomWalks = Q(
    "g8_random_walks",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      import graft.functions.Portable
      val nodes = nodesOf(s, d)
      val edges = edgesOf(nodes).select(col("src"), col("dst")).persist()
      edges.count() // eager: G8_LEN consuming hops must not race
      var frontier = nodes
        .filter(col("doc_id") % G8_SEED_MOD === 0)
        .crossJoin(s.range(G8_WALKS).select(col("id").as("walk")))
        .select(col("doc_id").as("seed"), col("walk"),
          col("doc_id").as("cur"))
        .snap()
      val out = scala.collection.mutable.ArrayBuffer[DataFrame](
        frontier.select(col("seed"), col("walk"), lit(0L).as("step"),
          col("cur").as("node")))
      for (i <- 1 to G8_LEN) {
        val w = Window.partitionBy(col("seed"), col("walk"))
          .orderBy(col("h").asc, col("dst").asc)
        frontier = frontier
          .join(edges, col("cur") === col("src"))
          .select(col("seed"), col("walk"), col("dst"),
            Portable.h60(concat_ws("|", col("seed"), col("walk"),
              lit(i), col("dst")), "g8|").as("h"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("seed"), col("walk"), col("dst").as("cur"))
          .snap()
        out += frontier.select(col("seed"), col("walk"),
          lit(i.toLong).as("step"), col("cur").as("node"))
      }
      edges.unpersist()
      out.reduce(_ unionAll _)
    },
    Some(s"""WITH $walksDuckCtes
      SELECT seed, walk, step, node FROM walks"""))

  /** g8's whole walk generation as DuckDB CTEs ending in
    * `walks (seed, walk, step, node)` — shared by g8's report and
    * g8b's pair extraction so the two replays can't drift. */
  private def walksDuckCtes: String = {
    import graft.functions.Portable.h60Duck
    val hops = (1 to G8_LEN).map { i =>
      val h = h60Duck(s"concat_ws('|', seed, walk, $i, dst)", "g8|")
      s"""c$i AS (
        SELECT f.seed, f.walk, e.dst, $h AS h
        FROM f${i - 1} f JOIN edges e ON e.src = f.cur),
      f$i AS (
        SELECT seed, walk, dst AS cur FROM (
          SELECT *, row_number() OVER (PARTITION BY seed, walk
            ORDER BY h ASC, dst ASC) AS rn FROM c$i) t
        WHERE rn = 1)"""
    }.mkString(",\n      ")
    val emits = (0 to G8_LEN).map(i =>
      s"""SELECT seed, walk, CAST($i AS BIGINT) AS step, cur AS node
        FROM f$i""").mkString(" UNION ALL ")
    s"""${graphEdgesCtes(Dialect.DuckDB)},
      f0 AS (
        SELECT doc_id AS seed, CAST(w AS BIGINT) AS walk,
          doc_id AS cur
        FROM nodes, unnest(range($G8_WALKS)) AS t(w)
        WHERE doc_id % $G8_SEED_MOD = 0),
      $hops,
      walks AS ($emits)"""
  }

  // ---------------------------------------------------------------------
  // G8b: skip-gram pair extraction — g8's CONSUMER (the generator →
  // consumer closure every family here carries): node2vec/DeepWalk
  // train on (center, context) co-occurrence pairs within a window
  // over each walk, not on the walks themselves. Window = ±G8B_WIN
  // steps inside one (seed, walk); pairs aggregate to a weighted
  // training table (center, context, n_pairs) — the skip-gram corpus a
  // trainer streams. Shape: the walk self-join keys on (seed, walk)
  // (≤ G8_LEN+1 rows per group, so the join is m² over a ≤5-row group)
  // and the pair table aggregates map-side; nothing beyond g8's own
  // build ever exceeds walk-corpus size.
  // ---------------------------------------------------------------------
  private[graft] val G8B_WIN = 2

  val g8bWalkPairs = Q(
    "g8b_walk_pairs",
    (s, d) => {
      val walks = g8RandomWalks.fn(s, d)
      val a = walks.select(col("seed"), col("walk"),
        col("step").as("si"), col("node").as("center"))
      val b = walks.select(col("seed"), col("walk"),
        col("step").as("sj"), col("node").as("context"))
      a.join(b, Seq("seed", "walk"))
        .filter(col("si") =!= col("sj") &&
          abs(col("si") - col("sj")) <= G8B_WIN)
        .groupBy(col("center"), col("context"))
        .agg(count(lit(1)).as("n_pairs"))
    },
    Some(s"""WITH $walksDuckCtes
      SELECT a.node AS center, b.node AS context,
        CAST(count(*) AS BIGINT) AS n_pairs
      FROM walks a JOIN walks b
        ON a.seed = b.seed AND a.walk = b.walk
        AND a.step <> b.step AND abs(a.step - b.step) <= $G8B_WIN
      GROUP BY 1, 2"""))

  def all: Seq[Q] = Seq(g1Pagerank, g1bPagerankConverge, g2Hits,
    g2bHitsConverge, g3LabelProp, g3bLpaConverge, g4Kcore,
    g4bKcoreConverge, g5Triangles, g6Ppr, g7DeltaPagerank,
    g8RandomWalks, g8bWalkPairs)
}
