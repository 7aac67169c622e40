package graft.operators

import graft.Checkpoints.SnapOps

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Queries.Q
import graft.Tables._

/** Similarity search over the `embeddings` table (vec_id, embedding
  * FLOAT[64], label) — BASELINE.json north star.
  *
  * Scale design: the probe set is the small side and is broadcast, so the
  * corpus is scanned exactly once with no corpus-side shuffle; top-k is a
  * per-probe window over the (|probes| × corpus) similarity stream. The
  * LSH variant buckets both sides on sign-bit keys first, so each corpus
  * row only meets probes in its own bucket — the 100 TB path where even
  * one pass per probe is too much.
  *
  * All dot products fold left-to-right in DOUBLE (floats upcast first) so
  * the DuckDB oracle (list_inner_product over DOUBLE[]) accumulates in the
  * same order and precision; similarities are rounded to 6 digits before
  * ranking on (sim, vec_id), making rank boundaries deterministic.
  */
object Ann {

  /** Fused cosine similarity — the codegen'd custom Catalyst expression
    * injected by [[graft.GraftExtensions]] (functions/CosineSimilarity):
    * one loop per pair, accumulating dot and both norms in DOUBLE
    * left-to-right, numerically identical to the aggregate(zip_with(...))
    * higher-order form (CosineSimSpec proves bit-parity) but without its
    * per-pair array allocations and interpreted lambdas. On a foreign
    * session built without spark.sql.extensions=graft.GraftExtensions,
    * falls back to the equivalent HOF expression instead of failing
    * analysis. */
  private def cosine(s: SparkSession, a: String, b: String): Column =
    expr(cosineSql(s, a, b))

  /** The same kernel as SQL text over two expression strings — the ONE
    * dispatch point for every cosine in the engine, private[graft] so
    * StreamingJobs' arrival routing composes it INSIDE a higher-order
    * lambda (where Column composition can't reach) and stays on the
    * identical kernel/rounding as the batch assignment. */
  private[graft] def cosineSql(s: SparkSession, a: String, b: String)
      : String =
    if (s.catalog.functionExists("cosine_sim")) s"cosine_sim($a, $b)"
    else {
      def dot(x: String, y: String) =
        s"aggregate(zip_with($x, $y, (p, q) -> CAST(p AS DOUBLE) * CAST(q AS DOUBLE)), " +
          "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
      // nullif guards the zero-norm case (0/0 would be NaN, which sorts
      // ABOVE every real similarity under desc top-k) — same NULL
      // semantics as the native expression; length mismatches already
      // null-propagate through zip_with's padding
      s"${dot(a, b)} / nullif(sqrt(${dot(a, a)}) * sqrt(${dot(b, b)}), 0.0)"
    }

  // ---------------------------------------------------------------------
  // A5: brute-force cosine top-k — the exact baseline. Probes (vec_id<8)
  // broadcast against the full corpus; one corpus scan, per-probe top-10.
  // ---------------------------------------------------------------------
  val a5AnnBruteforce = Q(
    "a5_ann_bruteforce",
    (s, d) => {
      val e = embeddings(s, d)
        .select(col("vec_id"), col("embedding").as("emb"))
      val probes = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("probe_id"), col("emb").as("p_emb"))
      import org.apache.spark.sql.expressions.Window
      val sims = e.crossJoin(broadcast(probes))
        .filter(col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("vec_id"),
          round(cosine(s, "emb", "p_emb"), 6).as("sim"))
      val w = Window.partitionBy(col("probe_id"))
        .orderBy(col("sim").desc, col("vec_id").asc)
      sims.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 10)
        .select("probe_id", "vec_id", "sim")
    },
    Some("""WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
               sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
                                       CAST(embedding AS DOUBLE[]))) AS nrm
        FROM embeddings),
      p AS (SELECT vec_id AS probe_id, emb AS p_emb, nrm AS p_nrm
            FROM e WHERE vec_id < 8),
      sims AS (
        SELECT probe_id, vec_id,
          round(list_inner_product(emb, p_emb)
            / nullif(nrm * p_nrm, 0.0), 6) AS sim
        FROM e CROSS JOIN p WHERE vec_id <> probe_id)
      SELECT probe_id, vec_id, sim
      FROM (SELECT *, row_number() OVER (PARTITION BY probe_id
            ORDER BY sim DESC, vec_id ASC) AS rn FROM sims) t
      WHERE rn <= 10"""))

  // ---------------------------------------------------------------------
  // A6: LSH-bucketed ANN — 4 sign-bit hyperplanes (dims 1,17,33,49,
  // 1-based) give a 16-bucket partition of the corpus; probes only meet
  // corpus vectors in their own bucket. Same cosine + top-3 inside the
  // bucket. The oracle replays the same bucketed algorithm (ANN is judged
  // against its own declared algorithm, not brute force).
  // ---------------------------------------------------------------------
  private def signBucket(embCol: String): Column =
    (0 until 4).map { i =>
      when(expr(s"element_at($embCol, ${1 + 16 * i})") > 0,
        lit(1 << (3 - i))).otherwise(lit(0))
    }.reduce(_ + _).cast("int")

  private def signBucketDuck(embCol: String): String =
    (0 until 4).map { i =>
      s"(CASE WHEN $embCol[${1 + 16 * i}] > 0 THEN ${1 << (3 - i)} ELSE 0 END)"
    }.mkString(" + ")

  val a6AnnLsh = Q(
    "a6_ann_lsh",
    (s, d) => {
      val e = embeddings(s, d)
        .select(col("vec_id"), col("embedding").as("emb"))
        .withColumn("bucket", signBucket("emb"))
      val probes = e.filter(col("vec_id") < 40)
        .select(col("vec_id").as("probe_id"), col("emb").as("p_emb"),
          col("bucket"))
      import org.apache.spark.sql.expressions.Window
      val sims = e.join(broadcast(probes), Seq("bucket"))
        .filter(col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("vec_id"),
          round(cosine(s, "emb", "p_emb"), 6).as("sim"))
      val w = Window.partitionBy(col("probe_id"))
        .orderBy(col("sim").desc, col("vec_id").asc)
      sims.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select("probe_id", "vec_id", "sim")
    },
    Some(s"""WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
               sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
                                       CAST(embedding AS DOUBLE[]))) AS nrm,
               CAST(${signBucketDuck("embedding")} AS INTEGER) AS bucket
        FROM embeddings),
      p AS (SELECT vec_id AS probe_id, emb AS p_emb, nrm AS p_nrm, bucket
            FROM e WHERE vec_id < 40),
      sims AS (
        SELECT probe_id, e.vec_id,
          round(list_inner_product(emb, p_emb)
            / nullif(nrm * p_nrm, 0.0), 6) AS sim
        FROM e JOIN p USING (bucket) WHERE e.vec_id <> probe_id)
      SELECT probe_id, vec_id, sim
      FROM (SELECT *, row_number() OVER (PARTITION BY probe_id
            ORDER BY sim DESC, vec_id ASC) AS rn FROM sims) t
      WHERE rn <= 3"""))

  // ---------------------------------------------------------------------
  // D4: embedding-cosine near-dup — banded multi-table sign-LSH
  // candidate generation (D4_TABLES tables × D4_BITS hyperplane bits,
  // disjoint dimensions per table), then exact cosine on the distinct
  // candidate pairs. A pair is a candidate iff SOME table agrees on all
  // its bits — wide buckets keep collisions rare, multiple tables
  // recover recall for genuinely-similar pairs; this is d2's band
  // structure in embedding space. The round-8 scale probe showed why
  // the old single-table 16-bucket form had to go: with a FIXED bucket
  // count, candidate pairs grow as N²/buckets — measured 100.7× pair
  // growth (124,875 → 12.58M) for 10× data. 2^D4_BITS buckets per
  // table plus LlmOps.BUCKET_CAP (boilerplate/duplicate pile-ups get
  // dropped, not exploded) bound the per-bucket pair work; production
  // sizes D4_BITS ~ log2(N / target_bucket_size).
  // ---------------------------------------------------------------------
  private val D4_TABLES = 4
  private val D4_BITS = 8

  /** Highest 1-based dimension any band key reads: table D4_TABLES-1,
    * bit D4_BITS-1. */
  private val D4_MAX_DIM = (D4_TABLES - 1) * 16 + (D4_BITS - 1) * 2 + 2

  /** Table `t`'s band key: 8 sign bits over dims {t*16 + 2i + 2}
    * (1-based, odd stride keeps every table on its own dimensions).
    * Guarded: on an embedding narrower than [[D4_MAX_DIM]] the missing
    * dims would read as null and silently collapse band bits to 0,
    * degenerating every bucket (ADVICE r8) — raise instead, per row,
    * inside the consumed expression so Catalyst can't prune the check. */
  private def d4BandKey(t: Int, embCol: String): Column = {
    val key = (0 until D4_BITS).map { i =>
      when(expr(s"element_at($embCol, ${t * 16 + i * 2 + 2})") > 0,
        lit(1 << (D4_BITS - 1 - i))).otherwise(lit(0))
    }.reduce(_ + _).cast("int")
    when(size(col(embCol)) >= D4_MAX_DIM, key)
      .otherwise(raise_error(concat(
        lit(s"d4BandKey: embedding dimension "), size(col(embCol)),
        lit(s" < required $D4_MAX_DIM"))))
  }

  /** D4's banded candidate generation + exact cosine over any
    * (vec_id, emb) frame — split from the Q so BandedLshRecallSpec can
    * drive it with planted duplicates. */
  /** d4's pre-cap band table over any (vec_id, emb) frame — also the
    * index surface d13_cap_report audits. */
  private[graft] def d4BandsOf(e: DataFrame): DataFrame =
    e.select(col("vec_id"),
        explode(array((0 until D4_TABLES).map(t =>
          struct(lit(t).as("tbl"), d4BandKey(t, "emb").as("bkey"))): _*))
          .as("b"))
      .select(col("vec_id"), col("b.tbl").as("tbl"),
        col("b.bkey").as("bkey"))

  /** [[d4BandsOf]] with the embedding carried through the explode —
    * the streaming miner bands its arrivals in ONE projection (a
    * re-join of the band rows back onto the arrival frame would be a
    * stream-stream self-join, which append mode forbids). */
  private[graft] def d4BandsWithEmb(e: DataFrame): DataFrame =
    e.select(col("vec_id"), col("emb"),
        explode(array((0 until D4_TABLES).map(t =>
          struct(lit(t).as("tbl"), d4BandKey(t, "emb").as("bkey"))): _*))
          .as("b"))
      .select(col("vec_id"), col("emb"), col("b.tbl").as("tbl"),
        col("b.bkey").as("bkey"))

  private[graft] def bandedNearDups(s: SparkSession, e: DataFrame)
      : DataFrame = {
      val bands = d4BandsOf(e)
      val kept = LlmOps.capBuckets(bands, Seq("tbl", "bkey"))
      val cand = kept.select(col("vec_id").as("id_a"), col("tbl"),
        col("bkey"))
        .join(kept.select(col("vec_id").as("id_b"), col("tbl"),
          col("bkey")), Seq("tbl", "bkey"))
        .filter(col("id_a") < col("id_b"))
        .select("id_a", "id_b").distinct()
      cand
        .join(e.select(col("vec_id").as("id_a"), col("emb").as("emb_a")),
          Seq("id_a"))
        .join(e.select(col("vec_id").as("id_b"), col("emb").as("emb_b")),
          Seq("id_b"))
        .select(col("id_a"), col("id_b"),
          round(cosine(s, "emb_a", "emb_b"), 6).as("sim"))
        .filter(col("sim") >= 0.3)
  }

  /** The banded-LSH candidate/exact-rescore derivation as DuckDB CTEs
    * (no leading WITH, no trailing SELECT; requires an `e` CTE with
    * (vec_id, emb DOUBLE[], nrm) in scope) — the ONE oracle definition
    * of [[bandedNearDups]]'s pair list, shared by d4's report and d12's
    * election. */
  /** d4's pre-cap band table as a DuckDB UNION ALL select list (over
    * an `e(vec_id, emb DOUBLE[])` CTE) — shared with d13_cap_report. */
  private[graft] def d4BandsDuckSelects: String =
    (0 until D4_TABLES).map { t =>
      val bits = (0 until D4_BITS).map { i =>
        s"(CASE WHEN emb[${t * 16 + i * 2 + 2}] > 0 " +
          s"THEN ${1 << (D4_BITS - 1 - i)} ELSE 0 END)"
      }.mkString(" + ")
      s"SELECT vec_id, $t AS tbl, $bits AS bkey FROM e"
    }.mkString(" UNION ALL ")

  /** [[d4BandsDuckSelects]] as SPARK SQL text over the raw embeddings
    * view (element_at, 1-based), for sql_d13_cap_report. */
  private[graft] def d4BandsSparkSelects: String =
    (0 until D4_TABLES).map { t =>
      val bits = (0 until D4_BITS).map { i =>
        s"(CASE WHEN element_at(embedding, ${t * 16 + i * 2 + 2}) > 0 " +
          s"THEN ${1 << (D4_BITS - 1 - i)} ELSE 0 END)"
      }.mkString(" + ")
      s"SELECT vec_id, $t AS tbl, $bits AS bkey FROM embeddings"
    }.mkString(" UNION ALL ")

  private def bandedPairsCtesSql: String = {
    s"""bands AS ($d4BandsDuckSelects),
      bsz AS (SELECT tbl, bkey, count(*) AS c FROM bands GROUP BY 1, 2),
      kept AS (
        SELECT b.vec_id, b.tbl, b.bkey FROM bands b
        JOIN bsz z ON z.tbl = b.tbl AND z.bkey = b.bkey
          AND z.c <= ${LlmOps.BUCKET_CAP}),
      cand AS (
        SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        FROM kept a JOIN kept b
          ON a.tbl = b.tbl AND a.bkey = b.bkey AND a.vec_id < b.vec_id),
      pairs AS (
        SELECT c.id_a, c.id_b,
          round(list_inner_product(a.emb, b.emb) / nullif(a.nrm * b.nrm, 0.0), 6)
            AS sim
        FROM cand c
        JOIN e a ON a.vec_id = c.id_a
        JOIN e b ON b.vec_id = c.id_b
        WHERE round(list_inner_product(a.emb, b.emb) / nullif(a.nrm * b.nrm, 0.0), 6)
              >= 0.3)"""
  }

  val d4EmbedNeardup = Q(
    "d4_embed_neardup",
    (s, d) => bandedNearDups(s,
      embeddings(s, d).select(col("vec_id"), col("embedding").as("emb"))),
    Some(s"""WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
               sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
                                       CAST(embedding AS DOUBLE[]))) AS nrm
        FROM embeddings),
      $bandedPairsCtesSql
      SELECT id_a, id_b, sim FROM pairs"""))

  // ---------------------------------------------------------------------
  // A7: IVF-style ANN — a coarse quantizer partitions the corpus into
  // cells (centroids = a small fixed seed set, here vec_id < 4, the
  // stand-in for k-means centroids a training job would produce); every
  // vector is assigned to its nearest centroid ONCE (broadcast centroids,
  // one corpus pass, argmax via max(struct)), then probes search only
  // their own cell. The two-level structure is what scales: the corpus
  // shuffle is by cell, and a probe touches |corpus|/k vectors.
  // ---------------------------------------------------------------------
  val a7AnnIvf = Q(
    "a7_ann_ivf",
    (s, d) => {
      val e = embeddings(s, d)
        .select(col("vec_id"), col("embedding").as("emb"))
      val cents = e.filter(col("vec_id") < 4)
        .select(col("vec_id").as("cid"), col("emb").as("c_emb"))
      // nearest-centroid assignment: argmax cosine over the 4 centroids,
      // deterministic tie-break on cid. Packed-long max → a TRUE
      // HashAggregate: max(struct(...)) silently degrades to a full
      // SortAggregate (struct buffers aren't hash-aggregable — the same
      // trap a1b and s5 document). csim is already rounded to 6 digits,
      // so round(csim*1e6) is exact; high bits carry it, the low 4 carry
      // (15 - cid), so max picks highest csim then LOWEST cid.
      val assigned = e.crossJoin(broadcast(cents))
        .select(col("vec_id"),
          round(cosine(s, "emb", "c_emb"), 6).as("csim"), col("cid"))
        .groupBy(col("vec_id"))
        .agg(max(expr(
          "CAST(round(csim * 1000000) AS BIGINT) * 16 + (15 - cid)"))
          .as("pk"))
        .select(col("vec_id"), (lit(15) - pmod(col("pk"), lit(16))).as("cell"))
      val cellsOf = assigned
        .join(e, Seq("vec_id"))
        .select(col("vec_id"), col("cell"), col("emb"))
      val probes = cellsOf
        .filter(col("vec_id") >= 100 && col("vec_id") < 110)
        .select(col("vec_id").as("probe_id"), col("cell"),
          col("emb").as("p_emb"))
      import org.apache.spark.sql.expressions.Window
      val sims = cellsOf.join(broadcast(probes), Seq("cell"))
        .filter(col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("vec_id"),
          round(cosine(s, "emb", "p_emb"), 6).as("sim"))
      val w = Window.partitionBy(col("probe_id"))
        .orderBy(col("sim").desc, col("vec_id").asc)
      sims.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .select("probe_id", "vec_id", "sim")
    },
    Some("""WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
               sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
                                       CAST(embedding AS DOUBLE[]))) AS nrm
        FROM embeddings),
      cents AS (SELECT vec_id AS cid, emb AS c_emb, nrm AS c_nrm
                FROM e WHERE vec_id < 4),
      assigned AS (
        SELECT vec_id, cell FROM (
          SELECT e.vec_id, c.cid AS cell,
            row_number() OVER (PARTITION BY e.vec_id
              ORDER BY round(list_inner_product(e.emb, c.c_emb) /
                             nullif(e.nrm * c.c_nrm, 0.0), 6) DESC, c.cid ASC) AS rn
          FROM e CROSS JOIN cents c) t WHERE rn = 1),
      cells AS (
        SELECT e.vec_id, a.cell, e.emb, e.nrm
        FROM e JOIN assigned a ON e.vec_id = a.vec_id),
      probes AS (
        SELECT vec_id AS probe_id, cell, emb AS p_emb, nrm AS p_nrm
        FROM cells WHERE vec_id >= 100 AND vec_id < 110),
      sims AS (
        SELECT probe_id, c.vec_id,
          round(list_inner_product(c.emb, p.p_emb) /
                nullif(c.nrm * p.p_nrm, 0.0), 6) AS sim
        FROM cells c JOIN probes p USING (cell)
        WHERE c.vec_id <> p.probe_id)
      SELECT probe_id, vec_id, sim
      FROM (SELECT *, row_number() OVER (PARTITION BY probe_id
            ORDER BY sim DESC, vec_id ASC) AS rn FROM sims) t
      WHERE rn <= 5"""))

  // ---------------------------------------------------------------------
  // A8: coarse-quantizer TRAINING — two Lloyd iterations of k-means,
  // fully relational, upgrading a7's documented "stand-in centroids"
  // caveat: this is the job that produces the IVF centroids. Each
  // iteration is (a) nearest-centroid assignment — broadcast the K
  // centroid arrays, one corpus pass, packed-long argmax (a7's trick: no
  // SortAggregate) — and (b) centroid recomputation — posexplode to
  // (cell, dim, x), one hash-agg per (cell, dim), mean accumulated in
  // DECIMAL over 6-digit-rounded terms so partition order can't move an
  // ulp, arrays rebuilt with collect_list(struct(dim, v)) sorted by dim.
  //
  // Scale: per iteration one broadcast + one shuffle on (cell, dim) —
  // K*64 groups, trivially parallel; the corpus is scanned once per
  // iteration and never self-joined. More iterations = a loop of the
  // same two stages (checkpoint the centroid table between rounds at
  // 100 TB). Output: the iteration-2 assignment with its similarity —
  // exactly what a7 would consume as its cell index.
  // ---------------------------------------------------------------------
  private[graft] val KMEANS_K = 4

  /** Packed-long argmax assignment of an (vec_id, emb) frame against a
    * (cid, c_emb) centroid frame — the centroid side broadcasts. */
  private def assignTo(
      s: SparkSession, e: DataFrame, cents: DataFrame): DataFrame =
    e.crossJoin(broadcast(cents))
      .select(col("vec_id"),
        round(cosine(s, "emb", "c_emb"), 6).as("csim"), col("cid"))
      .groupBy(col("vec_id"))
      .agg(max(expr(
        "CAST(round(csim * 1000000) AS BIGINT) * 16 + (15 - cid)"))
        .as("pk"))
      .select(col("vec_id"),
        (lit(15) - pmod(col("pk"), lit(16))).as("cell"),
        (floor(col("pk") / 16) / 1e6).as("csim"))

  /** Two Lloyd iterations over an (vec_id, emb) frame; returns the
    * trained (cid, c_emb) centroid table (seeds: vec_id < KMEANS_K of
    * THIS frame, one recompute pass — identical derivation to
    * KMEANS_CTES' c1). private[graft]: StreamingJobs routes arriving
    * micro-batches against this frozen table (a15's streaming twin). */
  private[graft] def kmeansTrainedCentroids(
      s: SparkSession, e: DataFrame): DataFrame = {
    // per-cell, per-dim mean → centroid arrays, deterministically
    def recompute(assigned: DataFrame): DataFrame =
      assigned.join(e, Seq("vec_id"))
        .select(col("cell"), posexplode(col("emb")))
        .select(col("cell"), col("pos"),
          round(col("col").cast("double"), 6).as("x"))
        .groupBy(col("cell"), col("pos"))
        .agg(round(
          sum(col("x").cast("decimal(20,6)")).cast("double") /
            count(lit(1)), 6).as("v"))
        .groupBy(col("cell"))
        .agg(expr("transform(sort_array(collect_list(struct(pos, v))), " +
          "r -> r.v)").as("c_emb"))
        .select(col("cell").as("cid"), col("c_emb"))

    val c0 = e.filter(col("vec_id") < KMEANS_K)
      .select(col("vec_id").cast("int").as("cid"), col("emb").as("c_emb"))
    recompute(assignTo(s, e, c0).select("vec_id", "cell"))
  }

  /** Two Lloyd iterations over the embeddings table; returns the
    * iteration-2 assignment (vec_id, cell, csim). Shared by a8 (reports
    * it) and a7b (searches with it). */
  private def kmeansAssign(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
      .select(col("vec_id"), col("embedding").as("emb"))
    assignTo(s, e, kmeansTrainedCentroids(s, e))
      .select(col("vec_id"), col("cell"),
        round(col("csim"), 6).as("csim"))
  }

  /** The k-means derivation as DuckDB CTEs (no trailing SELECT), shared
    * by a8's report and a7b's trained-index search. */
  /** The two-Lloyd-iteration derivation (seed c0 → assignment a1 →
    * recompute m1/c1 → final assignment a2) as DuckDB CTEs over a
    * source CTE named `src` — no leading WITH, no trailing SELECT. The
    * ONE oracle definition of [[kmeansTrainedCentroids]]+[[assignTo]],
    * parameterized so a8/a7b/d12 (full corpus) and a15 (standing slice)
    * can't drift. */
  private def kmeansCtesSqlFrom(src: String, p: String = ""): String =
    s"""${p}c0 AS (
        SELECT CAST(vec_id AS INTEGER) AS cid, emb AS c_emb, nrm AS c_nrm
        FROM $src WHERE vec_id < $KMEANS_K),
      ${p}a1 AS (
        SELECT vec_id, cell FROM (
          SELECT s.vec_id, c.cid AS cell,
            row_number() OVER (PARTITION BY s.vec_id
              ORDER BY round(list_inner_product(s.emb, c.c_emb) /
                             nullif(s.nrm * c.c_nrm, 0.0), 6) DESC, c.cid ASC) AS rn
          FROM $src s CROSS JOIN ${p}c0 c) t WHERE rn = 1),
      ${p}m1 AS (
        SELECT ${p}a1.cell, p.pos,
          round(CAST(sum(CAST(round(s.emb[p.pos + 1], 6)
                   AS DECIMAL(20,6))) AS DOUBLE) / count(*), 6) AS v
        FROM ${p}a1 JOIN $src s USING (vec_id)
        CROSS JOIN (SELECT unnest(range(64)) AS pos) p
        GROUP BY ${p}a1.cell, p.pos),
      ${p}c1 AS (
        SELECT cell AS cid, list(v ORDER BY pos) AS c_emb,
               sqrt(list_inner_product(list(v ORDER BY pos),
                                       list(v ORDER BY pos))) AS c_nrm
        FROM ${p}m1 GROUP BY cell),
      ${p}a2 AS (
        SELECT vec_id, cell, csim FROM (
          SELECT s.vec_id, c.cid AS cell,
            round(list_inner_product(s.emb, c.c_emb) /
                  nullif(s.nrm * c.c_nrm, 0.0), 6) AS csim,
            row_number() OVER (PARTITION BY s.vec_id
              ORDER BY round(list_inner_product(s.emb, c.c_emb) /
                             nullif(s.nrm * c.c_nrm, 0.0), 6) DESC, c.cid ASC) AS rn
          FROM $src s CROSS JOIN ${p}c1 c) t WHERE rn = 1)"""

  private val KMEANS_CTES: String = s"""WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
               sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
                                       CAST(embedding AS DOUBLE[]))) AS nrm
        FROM embeddings),
      ${kmeansCtesSqlFrom("e")}"""

  val a8KmeansRefine = Q(
    "a8_kmeans_refine",
    (s, d) => kmeansAssign(s, d),
    Some(s"""$KMEANS_CTES
      SELECT vec_id, cell, csim FROM a2"""))

  // ---------------------------------------------------------------------
  // A7b: IVF search over the TRAINED quantizer — the two halves chained:
  // a8's iteration-2 assignment is the cell index, probes search only
  // their own trained cell. Together with a7 (fixed seed centroids) this
  // is the full IVF lifecycle: train → index → search, all relational.
  // Same scale shape as a7 — the search shuffle keys on cell, a probe
  // touches |corpus|/k vectors.
  // ---------------------------------------------------------------------
  val a7bIvfTrained = Q(
    "a7b_ivf_trained",
    (s, d) => {
      val e = embeddings(s, d)
        .select(col("vec_id"), col("embedding").as("emb"))
      val cellsOf = kmeansAssign(s, d).select("vec_id", "cell")
        .join(e, Seq("vec_id"))
      val probes = cellsOf
        .filter(col("vec_id") >= 100 && col("vec_id") < 110)
        .select(col("vec_id").as("probe_id"), col("cell"),
          col("emb").as("p_emb"))
      import org.apache.spark.sql.expressions.Window
      val sims = cellsOf.join(broadcast(probes), Seq("cell"))
        .filter(col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("vec_id"),
          round(cosine(s, "emb", "p_emb"), 6).as("sim"))
      val w = Window.partitionBy(col("probe_id"))
        .orderBy(col("sim").desc, col("vec_id").asc)
      sims.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .select("probe_id", "vec_id", "sim")
    },
    Some(s"""$KMEANS_CTES,
      cells AS (
        SELECT e.vec_id, a2.cell, e.emb, e.nrm
        FROM e JOIN a2 ON e.vec_id = a2.vec_id),
      probes AS (
        SELECT vec_id AS probe_id, cell, emb AS p_emb, nrm AS p_nrm
        FROM cells WHERE vec_id >= 100 AND vec_id < 110),
      sims AS (
        SELECT probe_id, c.vec_id,
          round(list_inner_product(c.emb, p.p_emb) /
                nullif(c.nrm * p.p_nrm, 0.0), 6) AS sim
        FROM cells c JOIN probes p USING (cell)
        WHERE c.vec_id <> p.probe_id)
      SELECT probe_id, vec_id, sim
      FROM (SELECT *, row_number() OVER (PARTITION BY probe_id
            ORDER BY sim DESC, vec_id ASC) AS rn FROM sims) t
      WHERE rn <= 5"""))

  // ---------------------------------------------------------------------
  // A11: ANN recall report — the self-evaluation loop every approximate
  // index needs: score a6 (LSH buckets) and a7b (trained IVF) against
  // the EXACT brute-force top-k for their own probe sets and k, and emit
  // per-probe recall@k. Pure relational: exact ground truth is one
  // broadcast-probe corpus pass per index (the a5 shape), the hit count
  // is a left join on (probe, neighbor), and recall is an exact integer
  // ratio — no new shuffle shapes beyond what the index queries already
  // use. At 100 TB this runs on a sampled probe set the same way; the
  // report is what decides bucket-bit / nlist tuning before reindexing.
  // ---------------------------------------------------------------------
  val a11AnnRecall = Q(
    "a11_ann_recall",
    (s, d) => {
      val e = embeddings(s, d)
        .select(col("vec_id"), col("embedding").as("emb"))
      import org.apache.spark.sql.expressions.Window
      def exactTopK(probeFilter: Column, k: Int): DataFrame = {
        val probes = e.filter(probeFilter)
          .select(col("vec_id").as("probe_id"), col("emb").as("p_emb"))
        val sims = e.crossJoin(broadcast(probes))
          .filter(col("vec_id") =!= col("probe_id"))
          .select(col("probe_id"), col("vec_id"),
            round(cosine(s, "emb", "p_emb"), 6).as("sim"))
        val w = Window.partitionBy(col("probe_id"))
          .orderBy(col("sim").desc, col("vec_id").asc)
        sims.withColumn("rn", row_number().over(w))
          .filter(col("rn") <= k).select("probe_id", "vec_id")
      }
      def recallOf(index: String, approx: DataFrame,
          probeFilter: Column, k: Int): DataFrame =
        exactTopK(probeFilter, k)
          .join(approx.select(col("probe_id"), col("vec_id"),
            lit(1).as("hit")), Seq("probe_id", "vec_id"), "left")
          .groupBy(col("probe_id"))
          .agg(count(col("hit")).as("n_hits"))
          .select(lit(index).as("index_type"), col("probe_id"),
            lit(k).as("k"), col("n_hits"),
            round(col("n_hits").cast("double") / k, 6).as("recall"))
      recallOf("lsh", a6AnnLsh.fn(s, d), col("vec_id") < 40, 3)
        .union(recallOf("ivf", a7bIvfTrained.fn(s, d),
          col("vec_id") >= 100 && col("vec_id") < 110, 5))
    },
    Some(s"""$KMEANS_CTES,
      cells AS (
        SELECT e.vec_id, a2.cell, e.emb, e.nrm
        FROM e JOIN a2 ON e.vec_id = a2.vec_id),
      probes_ivf AS (
        SELECT vec_id AS probe_id, cell, emb AS p_emb, nrm AS p_nrm
        FROM cells WHERE vec_id >= 100 AND vec_id < 110),
      sims_ivf AS (
        SELECT probe_id, c.vec_id,
          round(list_inner_product(c.emb, p.p_emb) /
                nullif(c.nrm * p.p_nrm, 0.0), 6) AS sim
        FROM cells c JOIN probes_ivf p USING (cell)
        WHERE c.vec_id <> p.probe_id),
      approx_ivf AS (
        SELECT probe_id, vec_id
        FROM (SELECT *, row_number() OVER (PARTITION BY probe_id
              ORDER BY sim DESC, vec_id ASC) AS rn FROM sims_ivf) t
        WHERE rn <= 5),
      eb AS (SELECT vec_id, emb, nrm,
               CAST(${signBucketDuck("emb")} AS INTEGER) AS bucket FROM e),
      probes_lsh AS (
        SELECT vec_id AS probe_id, emb AS p_emb, nrm AS p_nrm, bucket
        FROM eb WHERE vec_id < 40),
      sims_lsh AS (
        SELECT probe_id, eb.vec_id,
          round(list_inner_product(eb.emb, p.p_emb) /
                nullif(eb.nrm * p.p_nrm, 0.0), 6) AS sim
        FROM eb JOIN probes_lsh p USING (bucket)
        WHERE eb.vec_id <> p.probe_id),
      approx_lsh AS (
        SELECT probe_id, vec_id
        FROM (SELECT *, row_number() OVER (PARTITION BY probe_id
              ORDER BY sim DESC, vec_id ASC) AS rn FROM sims_lsh) t
        WHERE rn <= 3),
      ex_sims_lsh AS (
        SELECT p.vec_id AS probe_id, e.vec_id,
          round(list_inner_product(e.emb, p.emb) / nullif(e.nrm * p.nrm, 0.0), 6) AS sim
        FROM e CROSS JOIN (SELECT * FROM e WHERE vec_id < 40) p
        WHERE e.vec_id <> p.vec_id),
      exact_lsh AS (
        SELECT probe_id, vec_id
        FROM (SELECT *, row_number() OVER (PARTITION BY probe_id
              ORDER BY sim DESC, vec_id ASC) AS rn FROM ex_sims_lsh) t
        WHERE rn <= 3),
      ex_sims_ivf AS (
        SELECT p.vec_id AS probe_id, e.vec_id,
          round(list_inner_product(e.emb, p.emb) / nullif(e.nrm * p.nrm, 0.0), 6) AS sim
        FROM e CROSS JOIN
          (SELECT * FROM e WHERE vec_id >= 100 AND vec_id < 110) p
        WHERE e.vec_id <> p.vec_id),
      exact_ivf AS (
        SELECT probe_id, vec_id
        FROM (SELECT *, row_number() OVER (PARTITION BY probe_id
              ORDER BY sim DESC, vec_id ASC) AS rn FROM ex_sims_ivf) t
        WHERE rn <= 5),
      r_lsh AS (
        SELECT 'lsh' AS index_type, x.probe_id, 3 AS k,
          count(a.vec_id) AS n_hits
        FROM exact_lsh x LEFT JOIN approx_lsh a
          ON a.probe_id = x.probe_id AND a.vec_id = x.vec_id
        GROUP BY x.probe_id),
      r_ivf AS (
        SELECT 'ivf' AS index_type, x.probe_id, 5 AS k,
          count(a.vec_id) AS n_hits
        FROM exact_ivf x LEFT JOIN approx_ivf a
          ON a.probe_id = x.probe_id AND a.vec_id = x.vec_id
        GROUP BY x.probe_id)
      SELECT index_type, probe_id, k, n_hits,
        round(CAST(n_hits AS DOUBLE) / k, 6) AS recall FROM r_lsh
      UNION ALL
      SELECT index_type, probe_id, k, n_hits,
        round(CAST(n_hits AS DOUBLE) / k, 6) AS recall FROM r_ivf"""))

  // ---------------------------------------------------------------------
  // A10: int8 scalar quantization — the embedding-STORAGE operator: at
  // 100 TB of float32 vectors, 4× compression (one byte per dimension,
  // per-dimension min/max codebook) is the difference between an index
  // that fits executor memory and one that doesn't. Relational shape:
  // one posexplode + per-dim min/max agg (the codebook: 64 rows — a
  // broadcast dimension), then encode/decode as a pure projection and a
  // per-vector reconstruction report. Parity: codes are computed with
  // floor(t·255 + 0.5) — floor is exact on both engines, unlike
  // round()'s half-up/half-even split — and squared errors accumulate
  // as DECIMAL cast from identical doubles, so partition order cannot
  // move an ulp. code_sum is an exact integer checksum over the whole
  // code vector: if ANY of the 64 codes differed between engines, it
  // would break before rmse rounding could hide it.
  // ---------------------------------------------------------------------
  val a10ScalarQuant = Q(
    "a10_scalar_quant",
    (s, d) => {
      val dims = embeddings(s, d)
        .select(col("vec_id"), posexplode(col("embedding")))
        .select(col("vec_id"), col("pos").as("dim"),
          col("col").cast("double").as("x"))
      val codebook = dims.groupBy(col("dim"))
        .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      val coded = dims.join(broadcast(codebook), Seq("dim"))
        .select(col("vec_id"), col("x"), col("mn"), col("mx"),
          when(col("mx") > col("mn"),
            least(lit(255.0), greatest(lit(0.0),
              floor((col("x") - col("mn")) / (col("mx") - col("mn")) *
                255.0 + 0.5))))
            .otherwise(lit(0.0)).cast("long").as("code"))
      coded
        .select(col("vec_id"), col("code"), col("x"),
          (col("mn") + col("code").cast("double") / 255.0 *
            (col("mx") - col("mn"))).as("xq"))
        .select(col("vec_id"), col("code"),
          ((col("x") - col("xq")) * (col("x") - col("xq")))
            .cast("decimal(30,15)").as("sqerr"))
        .groupBy(col("vec_id"))
        .agg(count(lit(1)).as("n_dims"), sum(col("code")).as("code_sum"),
          round(sqrt(sum(col("sqerr")).cast("double") / count(lit(1))), 6)
            .as("rmse"))
    },
    Some("""WITH dims AS (
        SELECT vec_id, dim, CAST(embedding[dim + 1] AS DOUBLE) AS x
        FROM (SELECT vec_id, embedding,
                unnest(range(len(embedding))) AS dim
              FROM embeddings) t),
      codebook AS (
        SELECT dim, min(x) AS mn, max(x) AS mx FROM dims GROUP BY 1),
      coded AS (
        SELECT vec_id, x, mn, mx,
          CAST(CASE WHEN mx > mn
            THEN least(255.0, greatest(0.0,
              floor((x - mn) / (mx - mn) * 255.0 + 0.5)))
            ELSE 0.0 END AS BIGINT) AS code
        FROM dims JOIN codebook USING (dim)),
      rec AS (
        SELECT vec_id, code,
          CAST((x - (mn + code / 255.0 * (mx - mn))) *
               (x - (mn + code / 255.0 * (mx - mn)))
            AS DECIMAL(30,15)) AS sqerr
        FROM coded)
      SELECT vec_id, count(*) AS n_dims,
        CAST(sum(code) AS BIGINT) AS code_sum,
        round(sqrt(CAST(sum(sqerr) AS DOUBLE) / count(*)), 6) AS rmse
      FROM rec GROUP BY 1"""))

  // ---------------------------------------------------------------------
  // A12: product quantization — the OTHER embedding-storage operator:
  // where a10 compresses per-dimension (4×), PQ compresses per-SUBSPACE
  // (here 64 dims → 8 sub-codes of 2 bits = 16 bits/vector, 128×), the
  // representation ANN systems actually ship at 100 TB. The 64-dim
  // vector splits into 8 contiguous 8-dim subvectors; each is assigned
  // to its nearest subspace centroid by squared L2 (centroids = the
  // seed vectors' subvectors, the same stand-in convention as a7; a
  // trained variant would swap in per-subspace k-means exactly as a8
  // does for IVF). Relational shape: one posexplode, one broadcast join
  // against the 8×4×8-row centroid dimension, a (vec, sub, cid)
  // hash-agg for distances, a packed-long argmin (no SortAggregate),
  // and a final per-vector rollup emitting the packed code and the
  // reconstruction rmse. Parity discipline: distance terms are rounded
  // to 6 digits and summed in DECIMAL (partition order can't move an
  // ulp), the argmin key is exact integer arithmetic, and the packed
  // code is an integer checksum — any cross-engine code flip breaks
  // the hash before rmse rounding could hide it.
  // ---------------------------------------------------------------------
  private[graft] val PQ_M = 8 // subspaces (8 dims each over 64)
  private[graft] val PQ_K = 4 // centroids per subspace (2-bit codes)

  /** Per-(vector, subspace, centroid) squared L2 in integer-exact form:
    * the shared first half of the PQ family (a12 encodes from it; a13's
    * probe distance tables ARE its probe slice). */
  private def pqSqdist(s: SparkSession, d: String): DataFrame = {
    val dims = embeddings(s, d)
      .select(col("vec_id"), posexplode(col("embedding")))
      .select(col("vec_id"), col("pos").as("dim"),
        round(col("col").cast("double"), 6).as("x"))
      .withColumn("sub", (col("dim") / (64 / PQ_M)).cast("int"))
    val cents = dims.filter(col("vec_id") < PQ_K)
      .select(col("vec_id").cast("int").as("cid"), col("dim"),
        col("x").as("c"))
    dims.join(broadcast(cents), Seq("dim"))
      .select(col("vec_id"), col("sub"), col("cid"),
        round((col("x") - col("c")) * (col("x") - col("c")), 6)
          .cast("decimal(20,6)").as("term"))
      .groupBy(col("vec_id"), col("sub"), col("cid"))
      .agg(sum(col("term")).cast("double").as("sqdist"))
  }

  /** Per-(vector, subspace) winning code + its exact squared distance in
    * integer micros, via the packed argmin. */
  private def pqCodes(s: SparkSession, d: String): DataFrame =
    pqSqdist(s, d)
      .groupBy(col("vec_id"), col("sub"))
      .agg(min(expr(
        s"CAST(round(sqdist * 1000000) AS BIGINT) * $PQ_K + cid"))
        .as("pk"))
      .select(col("vec_id"), col("sub"),
        pmod(col("pk"), lit(PQ_K)).cast("int").as("code"),
        expr(s"pk div $PQ_K").as("sqd_micro"))

  /** The PQ derivation as DuckDB CTEs ending in `codes` (no leading
    * WITH, no trailing SELECT) — a14 splices it after the k-means chain,
    * whose CTE names (e, c0, a1, m1, c1, a2) are disjoint from these
    * (dims, cents, sqd, codes). */
  private val PQ_CTES_BODY: String = s"""dims AS (
        SELECT vec_id, dim, round(CAST(embedding[dim + 1] AS DOUBLE), 6) AS x,
               CAST(dim // ${64 / PQ_M} AS INTEGER) AS sub
        FROM (SELECT vec_id, embedding,
                unnest(range(len(embedding))) AS dim
              FROM embeddings) t),
      cents AS (
        SELECT CAST(vec_id AS INTEGER) AS cid, dim, sub, x AS c
        FROM dims WHERE vec_id < $PQ_K),
      sqd AS (
        SELECT d.vec_id, d.sub, c.cid,
          CAST(sum(CAST(round((d.x - c.c) * (d.x - c.c), 6)
                 AS DECIMAL(20,6))) AS DOUBLE) AS sqdist
        FROM dims d JOIN cents c ON c.dim = d.dim
        GROUP BY 1, 2, 3),
      codes AS (
        SELECT vec_id, sub,
          CAST(min(CAST(round(sqdist * 1000000) AS BIGINT) * $PQ_K + cid)
               % $PQ_K AS INTEGER) AS code,
          min(CAST(round(sqdist * 1000000) AS BIGINT) * $PQ_K + cid)
               // $PQ_K AS sqd_micro
        FROM sqd GROUP BY 1, 2)"""

  private val PQ_CTES: String = "WITH " + PQ_CTES_BODY

  val a12ProductQuant = Q(
    "a12_product_quant",
    (s, d) => {
      // the packed argmin key carries BOTH outputs: low bits the winning
      // centroid, high bits its (6-decimal-exact) squared distance in
      // integer micros — which IS the subspace's reconstruction error,
      // so no rejoin against the exploded dims table is ever needed (the
      // naive recon join re-shuffled the full (vec, dim) table; this is
      // one narrow hash-agg instead)
      // packed 16-bit code: 2 bits per subspace — integer arithmetic end
      // to end, so it doubles as a cross-engine checksum of every code
      pqCodes(s, d).groupBy(col("vec_id"))
        .agg(sum(expr("shiftleft(CAST(code AS BIGINT), 2 * sub)"))
          .as("pq_code"),
          (count(lit(1)) * (64 / PQ_M)).as("n_dims"),
          sum(col("sqd_micro")).as("micro"))
        .select(col("vec_id"), col("pq_code"), col("n_dims"),
          round(sqrt(col("micro").cast("double") / 1e6 / col("n_dims")), 6)
            .as("rmse"))
    },
    Some(s"""$PQ_CTES
      SELECT vec_id,
        CAST(sum(code * (1 << (2 * sub))) AS BIGINT) AS pq_code,
        CAST(count(*) * ${64 / PQ_M} AS BIGINT) AS n_dims,
        round(sqrt(CAST(sum(sqd_micro) AS DOUBLE) / 1000000 /
                   (count(*) * ${64 / PQ_M})), 6) AS rmse
      FROM codes GROUP BY 1"""))

  // ---------------------------------------------------------------------
  // A13: ADC search over the PQ codes — the payoff of a12, and the way
  // PQ search actually runs at 100 TB: the corpus is touched ONLY
  // through its 16-bit codes; each probe precomputes an M×K distance
  // table (its squared L2 to every subspace centroid — which is exactly
  // the probe slice of the shared pqSqdist frame), and a candidate's
  // asymmetric distance is the sum of 8 table lookups. Relational
  // shape: broadcast the (probes × M × K) table, join corpus codes on
  // (sub, code), one (probe, vec) hash-agg summing exact integer
  // micros, then a per-probe bottom-k window. No full-vector math
  // touches the corpus after encoding — that is the entire point.
  // ---------------------------------------------------------------------
  val a13PqAdc = Q(
    "a13_pq_adc",
    (s, d) => {
      val codes = pqCodes(s, d).select("vec_id", "sub", "code")
      val table = pqSqdist(s, d)
        .filter(col("vec_id") >= 100 && col("vec_id") < 110)
        .select(col("vec_id").as("probe_id"), col("sub"),
          col("cid").as("code"),
          expr("CAST(round(sqdist * 1000000) AS BIGINT)").as("micro"))
      import org.apache.spark.sql.expressions.Window
      val adc = codes.join(broadcast(table), Seq("sub", "code"))
        .filter(col("vec_id") =!= col("probe_id"))
        .groupBy(col("probe_id"), col("vec_id"))
        .agg(sum(col("micro")).as("adc_micro"))
      val w = Window.partitionBy(col("probe_id"))
        .orderBy(col("adc_micro").asc, col("vec_id").asc)
      adc.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .select(col("probe_id"), col("vec_id"),
          round(col("adc_micro").cast("double") / 1e6, 6).as("adc_dist"))
    },
    Some(s"""$PQ_CTES,
      tbl AS (
        SELECT vec_id AS probe_id, sub, cid AS code,
          CAST(round(sqdist * 1000000) AS BIGINT) AS micro
        FROM sqd WHERE vec_id >= 100 AND vec_id < 110),
      adc AS (
        SELECT t.probe_id, k.vec_id,
          CAST(sum(t.micro) AS BIGINT) AS adc_micro
        FROM codes k JOIN tbl t ON t.sub = k.sub AND t.code = k.code
        WHERE k.vec_id <> t.probe_id
        GROUP BY 1, 2)
      SELECT probe_id, vec_id,
        round(CAST(adc_micro AS DOUBLE) / 1000000, 6) AS adc_dist
      FROM (SELECT *, row_number() OVER (PARTITION BY probe_id
            ORDER BY adc_micro ASC, vec_id ASC) AS rn FROM adc) t
      WHERE rn <= 5"""))

  // ---------------------------------------------------------------------
  // A14: IVF-PQ — the two index halves composed the way a 100 TB vector
  // store actually ships (FAISS's IVFPQ, SCANN's tree-AH): the TRAINED
  // coarse quantizer (a8's k-means cells) prunes the candidate set to
  // the probe's cell, and within the cell candidates are scored only
  // through their 16-bit PQ codes by asymmetric distance (a13's table
  // lookups). Relational shape: the "index" is one narrow frame
  // (vec_id, cell, sub, code) — built once, in reality stored — the
  // probe side broadcasts its (cell × M × K) distance table, and the
  // join keys on (cell, sub, code), so a corpus code row meets only
  // probes routed to its own cell: per-probe work is |corpus|/nlist
  // lookups, no full-vector math after encoding, and the one shuffle is
  // the (probe, vec) partial-sum hash-agg. Everything upstream (cells,
  // codes, tables) reuses the a8/a12 derivations verbatim, so parity is
  // inherited: exact integer micros end to end.
  // ---------------------------------------------------------------------
  val a14IvfPq = Q(
    "a14_ivfpq",
    (s, d) => {
      val cells = kmeansAssign(s, d).select(col("vec_id"), col("cell"))
      // the stored index: one row per (vector, subspace) with its cell
      // and 2-bit code — 16 bits + routing key per vector, nothing else
      val index = pqCodes(s, d).select("vec_id", "sub", "code")
        .join(cells, Seq("vec_id"))
      val table = pqSqdist(s, d)
        .filter(col("vec_id") >= 100 && col("vec_id") < 110)
        .select(col("vec_id").as("probe_id"), col("sub"),
          col("cid").as("code"),
          expr("CAST(round(sqdist * 1000000) AS BIGINT)").as("micro"))
        .join(cells.select(col("vec_id").as("probe_id"), col("cell")),
          Seq("probe_id"))
      import org.apache.spark.sql.expressions.Window
      val adc = index.join(broadcast(table), Seq("cell", "sub", "code"))
        .filter(col("vec_id") =!= col("probe_id"))
        .groupBy(col("probe_id"), col("vec_id"))
        .agg(sum(col("micro")).as("adc_micro"))
      val w = Window.partitionBy(col("probe_id"))
        .orderBy(col("adc_micro").asc, col("vec_id").asc)
      adc.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .select(col("probe_id"), col("vec_id"),
          round(col("adc_micro").cast("double") / 1e6, 6).as("adc_dist"))
    },
    Some(s"""$KMEANS_CTES,
      $PQ_CTES_BODY,
      kcells AS (SELECT vec_id, cell FROM a2),
      idx AS (
        SELECT k.vec_id, kc.cell, k.sub, k.code
        FROM codes k JOIN kcells kc USING (vec_id)),
      tbl AS (
        SELECT s.vec_id AS probe_id, kc.cell, s.sub, s.cid AS code,
          CAST(round(s.sqdist * 1000000) AS BIGINT) AS micro
        FROM sqd s JOIN kcells kc ON kc.vec_id = s.vec_id
        WHERE s.vec_id >= 100 AND s.vec_id < 110),
      adc AS (
        SELECT t.probe_id, k.vec_id,
          CAST(sum(t.micro) AS BIGINT) AS adc_micro
        FROM idx k JOIN tbl t
          ON t.cell = k.cell AND t.sub = k.sub AND t.code = k.code
        WHERE k.vec_id <> t.probe_id
        GROUP BY 1, 2)
      SELECT probe_id, vec_id,
        round(CAST(adc_micro AS DOUBLE) / 1000000, 6) AS adc_dist
      FROM (SELECT *, row_number() OVER (PARTITION BY probe_id
            ORDER BY adc_micro ASC, vec_id ASC) AS rn FROM adc) t
      WHERE rn <= 5"""))

  /** All similarity-search queries, registration order. */
  // ---------------------------------------------------------------------
  // D4b: recall self-evaluation of the banded near-dup index — exact
  // cosine ground truth over a FIXED-SIZE anchor sample, d4's banded
  // candidates as the approximate answer, and a one-row report: how
  // many sampled true near-dup pairs exist, how many the index found,
  // and the recall. d4's pairs are a strict subset of the truth (both
  // apply the same exact cosine threshold; banding can only MISS
  // pairs), so recall is the one number that matters.
  //
  // The ground truth deliberately does NOT run all-pairs: the r8 30×
  // scale probe read the full-crossJoin form at 10.1× for 3× data —
  // quadratic exactly as written, the one super-linear query in the
  // suite. Instead the D4B_ANCHORS smallest seeded-hash vec_ids anchor
  // the evaluation and the truth is every qualifying (anchor, corpus)
  // pair: O(S·n) with the anchor side broadcast, scale-stable at any
  // corpus size, and an unbiased pair sample (each pair is evaluated
  // iff it touches an anchor — a property of the pair's ids, seeded
  // independently of the embedding geometry the index buckets on).
  //
  // Reading the number: a pair at cosine s collides in one table with
  // probability (1 - acos(s)/π)^D4_BITS, and in ANY table with
  // 1-(1-p^b)^L. The synthetic corpus's above-threshold pairs all sit
  // in the weak 0.3–0.6 band (verified exhaustively at sf0.01), where
  // the 4×8 configuration is ~3%-selective per table by design — so a
  // LOW recall here documents the selectivity dial, not a defect; for
  // genuine near-dups (s ≥ 0.95) the same index recalls ≳90%
  // (BandedLshRecallSpec proves it on planted duplicates). Tuning for
  // a weaker similarity target means fewer bits or more tables.
  // ---------------------------------------------------------------------
  private val D4B_ANCHORS = 256

  val d4bNeardupRecall = Q(
    "d4b_neardup_recall",
    (s, d) => {
      val e = embeddings(s, d)
        .select(col("vec_id"), col("embedding").as("emb"))
      val anchors = e
        .withColumn("ah",
          graft.functions.Portable.h60(
            col("vec_id").cast("string"), "d4b|"))
        .orderBy(col("ah").asc, col("vec_id").asc)
        .limit(D4B_ANCHORS)
        .select(col("vec_id").as("aid"), col("emb").as("emb_a"))
      val exact = broadcast(anchors)
        .crossJoin(e.select(col("vec_id").as("bid"), col("emb").as("emb_b")))
        .filter(col("aid") =!= col("bid"))
        .filter(round(cosine(s, "emb_a", "emb_b"), 6) >= 0.3)
        .select(least(col("aid"), col("bid")).as("id_a"),
          greatest(col("aid"), col("bid")).as("id_b"))
        .distinct() // both-endpoints-anchored pairs appear twice
      val found = d4EmbedNeardup.fn(s, d).select("id_a", "id_b")
      exact.join(found, Seq("id_a", "id_b"), "left_semi")
        .agg(count(lit(1)).as("n_found"))
        .crossJoin(exact.agg(count(lit(1)).as("n_exact")))
        .select(col("n_exact"), col("n_found"),
          round(col("n_found").cast("double") / col("n_exact"), 4)
            .as("recall"))
    },
    Some(s"""WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
               sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
                                       CAST(embedding AS DOUBLE[]))) AS nrm
        FROM embeddings),
      anchors AS (
        SELECT vec_id FROM e
        ORDER BY ${graft.functions.Portable.h60Duck(
          "CAST(vec_id AS VARCHAR)", "d4b|")} ASC, vec_id ASC
        LIMIT $D4B_ANCHORS),
      exact AS (
        SELECT DISTINCT least(a.vec_id, b.vec_id) AS id_a,
          greatest(a.vec_id, b.vec_id) AS id_b
        FROM e a JOIN e b ON a.vec_id <> b.vec_id
        WHERE a.vec_id IN (SELECT vec_id FROM anchors)
          AND round(list_inner_product(a.emb, b.emb) / nullif(a.nrm * b.nrm, 0.0), 6)
              >= 0.3),
      found AS (SELECT id_a, id_b FROM (__D4_SQL__) d4)
      SELECT (SELECT count(*) FROM exact) AS n_exact,
        (SELECT count(*) FROM exact x SEMI JOIN found f
          ON f.id_a = x.id_a AND f.id_b = x.id_b) AS n_found,
        round((SELECT count(*) FROM exact x SEMI JOIN found f
          ON f.id_a = x.id_a AND f.id_b = x.id_b)::DOUBLE /
          (SELECT count(*) FROM exact), 4) AS recall""".replace(
      "__D4_SQL__", d4EmbedNeardup.oracle.get)))

  // ---------------------------------------------------------------------
  // D12: SemDeDup-style semantic dedup (Abbas et al. 2023,
  // arXiv:2303.09540) — the established LLM-pipeline dedup family d2/d3
  // (lexical) and d4 (embedding-LSH) don't cover: cluster the corpus
  // with trained k-means, then WITHIN each cluster drop every member of
  // a high-cosine pair except one canonical survivor. Composes a8's
  // trained assignment with d7's election pattern. Per the paper's
  // diversity rationale, the survivor of a semantic-duplicate pair is
  // the member FARTHEST from its centroid (lowest csim; ties → lowest
  // vec_id) — keeping the boundary example and shedding the redundant
  // cluster-core ones.
  //
  // Scale: SemDeDup's own cost model is Σ|cell|² with K grown to hold
  // |cell| ≈ N/K bounded (the paper runs K=50k on LAION) — per-cell
  // work bounded, K even shuffle keys, no cross-cell all-pairs.
  // Locally K is PINNED at 4 (a8's contract with its oracle), which
  // made the r9 within-cell all-pairs structurally quadratic (7.9×
  // time for 3× data at the r11 probe), so the candidate stage is the
  // banded near-dup blocker instead.
  //
  // SEMANTICS OF THAT TRADE (r12, per r11 advice): the election ranks
  // only the pairs the 8-bit × 4-table blocker emits, and the blocker
  // is sized for near-duplicates — per-bit collision p = 1 - acos(c)/π
  // gives pair recall 1-(1-p^8)^4 ≈ 0.15 at cosine 0.5, ≳0.9 only
  // above ~0.95. So d12 drops near-duplicate same-cell pairs, NOT all
  // pairs ≥ τ: mid-band semantic duplicates (0.4–0.9) are mostly
  // retained. This is a deliberate, quantified restriction
  // (BandedLshRecallSpec pins the 0.15 mid-sim recall analytically);
  // the engine and the oracle share the blocker, so correctness rows
  // check the IMPLEMENTED semantics. At 100 TB the paper-faithful path
  // is the Σ|cell|² form above (K grown with N), for which
  // semanticElectOver accepts any candidate pair list — swap the
  // blocker for the within-cell generator and the election, oracle
  // pattern, and tie-breaks are unchanged.
  // ---------------------------------------------------------------------
  private val D12_TAU = 0.4

  /** The per-cluster election over a (vec_id, cell, csim) cell frame and
    * an explicit (id_a, id_b, sim) candidate pair list (id_a < id_b):
    * each same-cell CANDIDATE pair at sim ≥ [[D12_TAU]] drops its
    * LESS-canonical member (more canonical = lower csim, ties lower
    * vec_id). The election's reach is exactly the candidate list it is
    * given — d12 feeds it the near-duplicate blocker's pairs (see the
    * trade documented at the D12 header), a within-cell generator
    * would make it the paper's full ≥ τ election. Split from the Q so
    * DedupSpec can drive it with planted paraphrases and its own pair
    * list.
    *
    * r9 shipped this as an all-pairs self-join within each cell, and
    * the r11 30× scale probe read it at 7.9× for 3× data — with the
    * cell count FIXED (KMEANS_K), cells grow linearly with the corpus
    * and any within-cell all-pairs is structurally quadratic (the d4
    * redesign's lesson, one level up). Candidates now come from the
    * banded multi-table LSH ([[bandedNearDups]]) — near-identical
    * vectors collide in some band with high probability, pair growth
    * is band-bucket-bounded (BUCKET_CAP), and the election only ranks
    * the pairs the blocker emits. */
  private[graft] def semanticElectOver(
      cells: DataFrame, pairs: DataFrame): DataFrame = {
    val ca = cells.select(col("vec_id").as("id_a"),
      col("cell").as("cell_a"), col("csim").as("csim_a"))
    val cb = cells.select(col("vec_id").as("id_b"),
      col("cell").as("cell_b"), col("csim").as("csim_b"))
    val dropped = pairs.filter(col("sim") >= D12_TAU)
      .join(ca, Seq("id_a"))
      .join(cb, Seq("id_b"))
      .filter(col("cell_a") === col("cell_b"))
      .select(
        when(col("csim_a") < col("csim_b") ||
          (col("csim_a") === col("csim_b") && col("id_a") < col("id_b")),
          col("id_b")).otherwise(col("id_a")).as("vec_id"))
      .distinct()
    cells
      .join(dropped.withColumn("is_dropped", lit(true)),
        Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"), col("csim"),
        not(coalesce(col("is_dropped"), lit(false))).as("kept"))
  }

  val d12SemanticDedup = Q(
    "d12_semantic_dedup",
    (s, d) => {
      val e = embeddings(s, d)
        .select(col("vec_id"), col("embedding").as("emb"))
      semanticElectOver(kmeansAssign(s, d), bandedNearDups(s, e))
    },
    Some(s"""$KMEANS_CTES,
      $bandedPairsCtesSql,
      dropped AS (
        SELECT DISTINCT
          CASE WHEN va.csim < vb.csim
                 OR (va.csim = vb.csim AND p.id_a < p.id_b)
               THEN p.id_b ELSE p.id_a END AS vec_id
        FROM pairs p
        JOIN a2 va ON va.vec_id = p.id_a
        JOIN a2 vb ON vb.vec_id = p.id_b
        WHERE va.cell = vb.cell AND p.sim >= $D12_TAU)
      SELECT a2.vec_id, a2.cell, a2.csim,
        (d.vec_id IS NULL) AS kept
      FROM a2 LEFT JOIN dropped d ON a2.vec_id = d.vec_id"""))

  // ---------------------------------------------------------------------
  // D12b: the OTHER branch of the r11/r12 advice — the same SemDeDup
  // election as d12, but fed by a band set SIZED FOR τ = 0.4 instead of
  // the near-duplicate blocker. Fewer bits per band and more tables
  // move the sign-LSH S-curve left: per-bit collision p = 1 - acos(c)/π
  // gives pair recall 1-(1-p^b)^L, so at b = 4, L = 8 a pair at cosine
  // 0.4 (p = 0.631) is recalled at ≈ 0.75, at 0.5 ≈ 0.83, at 0.6 ≈ 0.90
  // — against d12's 8-bit × 4-table ≈ 0.15 at cosine 0.5
  // (BandedLshRecallSpec pins both analytic curves on planted
  // fixed-cosine pairs). The τ=0.4 election therefore sees the mid-band
  // semantic duplicates d12's blocker drops.
  //
  // THE COST, stated plainly: selectivity per table is (p(c)/p(0))^b =
  // 1.26^4 ≈ 2.5× over random pairs, so 4-bit bands admit ~L/2^b ≈ 50%
  // of an uncorrelated corpus — sign-LSH cannot be simultaneously
  // high-recall at τ = 0.4 and sublinear on candidates (the analytic
  // wall: admit ≥ 75% at 0.4 while rejecting 99% random needs ~19 bits
  // and ~4000 tables). This form is therefore the WITHIN-SHARD /
  // mid-size-corpus tool; at 100 TB the paper-faithful path remains
  // Σ|cell|² with K grown ∝ N (the D12 header's swap point —
  // semanticElectOver takes any pair list). D12B_CAP bounds the
  // worst-case per-bucket pair work exactly as BUCKET_CAP does for d4,
  // sized to the 2^4-bucket geometry (a 4-bit bucket legitimately
  // holds N/16 of the corpus, so d4's 64-cap would drop every bucket).
  // ---------------------------------------------------------------------
  private val D12B_TABLES = 8
  private val D12B_BITS = 4
  private[graft] val D12B_CAP = 1024

  /** Highest 1-based dimension the τ band set reads: table 7, bit 3. */
  private val D12B_MAX_DIM =
    (D12B_TABLES - 1) * 8 + (D12B_BITS - 1) * 2 + 2

  /** Table `t`'s τ-sized band key: 4 sign bits over dims
    * {t*8 + 2i + 2} (1-based; 8-stride keeps the 8 tables on disjoint
    * dimensions of a 64-dim embedding). Same per-row dimension guard as
    * [[d4BandKey]]. */
  private def d12bBandKey(t: Int, embCol: String): Column = {
    val key = (0 until D12B_BITS).map { i =>
      when(expr(s"element_at($embCol, ${t * 8 + i * 2 + 2})") > 0,
        lit(1 << (D12B_BITS - 1 - i))).otherwise(lit(0))
    }.reduce(_ + _).cast("int")
    when(size(col(embCol)) >= D12B_MAX_DIM, key)
      .otherwise(raise_error(concat(
        lit(s"d12bBandKey: embedding dimension "), size(col(embCol)),
        lit(s" < required $D12B_MAX_DIM"))))
  }

  /** The τ-sized candidate generation + exact cosine rescore over any
    * (vec_id, emb) frame — [[bandedNearDups]] with the b=4, L=8 band
    * geometry and its own cap; pairs are emitted at sim ≥ [[D12_TAU]]
    * (the election threshold IS the blocker's floor here — this band
    * set exists to reach τ, not 0.3-band reporting). Split from the Q
    * so BandedLshRecallSpec can drive it with planted fixed-cosine
    * pairs. */
  /** d12b's pre-cap band table — also the index surface d13_cap_report
    * audits. */
  private[graft] def d12BandsOf(e: DataFrame): DataFrame =
    e.select(col("vec_id"),
        explode(array((0 until D12B_TABLES).map(t =>
          struct(lit(t).as("tbl"), d12bBandKey(t, "emb").as("bkey"))): _*))
          .as("b"))
      .select(col("vec_id"), col("b.tbl").as("tbl"),
        col("b.bkey").as("bkey"))

  private[graft] def bandedNearDupsTau(s: SparkSession, e: DataFrame)
      : DataFrame = {
    val bands = d12BandsOf(e)
    val kept = LlmOps.capBuckets(bands, Seq("tbl", "bkey"), D12B_CAP)
    val cand = kept.select(col("vec_id").as("id_a"), col("tbl"),
      col("bkey"))
      .join(kept.select(col("vec_id").as("id_b"), col("tbl"),
        col("bkey")), Seq("tbl", "bkey"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    cand
      .join(e.select(col("vec_id").as("id_a"), col("emb").as("emb_a")),
        Seq("id_a"))
      .join(e.select(col("vec_id").as("id_b"), col("emb").as("emb_b")),
        Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        round(cosine(s, "emb_a", "emb_b"), 6).as("sim"))
      .filter(col("sim") >= D12_TAU)
  }

  /** [[bandedNearDupsTau]]'s pair list as DuckDB CTEs — same contract
    * as [[bandedPairsCtesSql]] (needs an `e` CTE with
    * (vec_id, emb DOUBLE[], nrm) in scope). */
  /** d12b's pre-cap band table as a DuckDB UNION ALL select list —
    * shared with d13_cap_report. */
  private[graft] def d12BandsDuckSelects: String =
    (0 until D12B_TABLES).map { t =>
      val bits = (0 until D12B_BITS).map { i =>
        s"(CASE WHEN emb[${t * 8 + i * 2 + 2}] > 0 " +
          s"THEN ${1 << (D12B_BITS - 1 - i)} ELSE 0 END)"
      }.mkString(" + ")
      s"SELECT vec_id, $t AS tbl, $bits AS bkey FROM e"
    }.mkString(" UNION ALL ")

  /** [[d12BandsDuckSelects]] as SPARK SQL text, for
    * sql_d13_cap_report. */
  private[graft] def d12BandsSparkSelects: String =
    (0 until D12B_TABLES).map { t =>
      val bits = (0 until D12B_BITS).map { i =>
        s"(CASE WHEN element_at(embedding, ${t * 8 + i * 2 + 2}) > 0 " +
          s"THEN ${1 << (D12B_BITS - 1 - i)} ELSE 0 END)"
      }.mkString(" + ")
      s"SELECT vec_id, $t AS tbl, $bits AS bkey FROM embeddings"
    }.mkString(" UNION ALL ")

  private def bandedPairsTauCtesSql: String = {
    s"""bands AS ($d12BandsDuckSelects),
      bsz AS (SELECT tbl, bkey, count(*) AS c FROM bands GROUP BY 1, 2),
      kept AS (
        SELECT b.vec_id, b.tbl, b.bkey FROM bands b
        JOIN bsz z ON z.tbl = b.tbl AND z.bkey = b.bkey
          AND z.c <= $D12B_CAP),
      cand AS (
        SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        FROM kept a JOIN kept b
          ON a.tbl = b.tbl AND a.bkey = b.bkey AND a.vec_id < b.vec_id),
      pairs AS (
        SELECT c.id_a, c.id_b,
          round(list_inner_product(a.emb, b.emb) / nullif(a.nrm * b.nrm, 0.0), 6)
            AS sim
        FROM cand c
        JOIN e a ON a.vec_id = c.id_a
        JOIN e b ON b.vec_id = c.id_b
        WHERE round(list_inner_product(a.emb, b.emb) / nullif(a.nrm * b.nrm, 0.0), 6)
              >= $D12_TAU)"""
  }

  val d12bSemanticRecall = Q(
    "d12b_semantic_recall",
    (s, d) => {
      val e = embeddings(s, d)
        .select(col("vec_id"), col("embedding").as("emb"))
      semanticElectOver(kmeansAssign(s, d), bandedNearDupsTau(s, e))
    },
    Some(s"""$KMEANS_CTES,
      $bandedPairsTauCtesSql,
      dropped AS (
        SELECT DISTINCT
          CASE WHEN va.csim < vb.csim
                 OR (va.csim = vb.csim AND p.id_a < p.id_b)
               THEN p.id_b ELSE p.id_a END AS vec_id
        FROM pairs p
        JOIN a2 va ON va.vec_id = p.id_a
        JOIN a2 vb ON vb.vec_id = p.id_b
        WHERE va.cell = vb.cell AND p.sim >= $D12_TAU)
      SELECT a2.vec_id, a2.cell, a2.csim,
        (d.vec_id IS NULL) AS kept
      FROM a2 LEFT JOIN dropped d ON a2.vec_id = d.vec_id"""))

  // ---------------------------------------------------------------------
  // A15: incremental index maintenance — the d10 analog for the ANN
  // family. A production vector index is never retrained per batch: new
  // embeddings route into the STANDING index's cells through its frozen
  // centroid summary. Here the standing corpus (vec_id % 10 != 0) trains
  // the centroids; the arriving batch (vec_id % 10 == 0) is assigned
  // against those frozen centroids — at 100 TB the additions touch the
  // history only through K fixed-size centroid rows (broadcast), never
  // the standing vectors. Output: the per-cell growth report every
  // index-maintenance run logs (standing size, additions, mean arrival
  // similarity — a routing-drift signal: falling arrival csim means the
  // frozen centroids no longer describe the incoming distribution and a
  // retrain is due). The standing per-cell counts come from the index
  // catalog in production; they are recomputed here so the oracle can
  // check them.
  // ---------------------------------------------------------------------
  val a15IncrementalIndex = Q(
    "a15_incremental_index",
    (s, d) => {
      val all = embeddings(s, d)
        .select(col("vec_id"), col("embedding").as("emb"))
      val standing = all.filter(col("vec_id") % 10 =!= 0)
      val batch = all.filter(col("vec_id") % 10 === 0)
      val cents = kmeansTrainedCentroids(s, standing)
      val sc = assignTo(s, standing, cents)
        .groupBy(col("cell")).agg(count(lit(1)).as("n_standing"))
      val bc = assignTo(s, batch, cents)
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("n_added"),
          round(sum(round(col("csim"), 6).cast("decimal(20,6)"))
            .cast("double") / count(lit(1)), 6).as("avg_new_sim"))
      sc.join(bc, Seq("cell"), "full_outer")
        .select(col("cell"),
          coalesce(col("n_standing"), lit(0L)).as("n_standing"),
          coalesce(col("n_added"), lit(0L)).as("n_added"),
          col("avg_new_sim"))
    },
    Some(s"""WITH ea AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
               sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
                                       CAST(embedding AS DOUBLE[]))) AS nrm
        FROM embeddings),
      es AS (SELECT * FROM ea WHERE vec_id % 10 <> 0),
      eb AS (SELECT * FROM ea WHERE vec_id % 10 = 0),
      ${kmeansCtesSqlFrom("es")},
      ba AS (
        SELECT vec_id, cell, csim FROM (
          SELECT eb.vec_id, c.cid AS cell,
            round(list_inner_product(eb.emb, c.c_emb) /
                  nullif(eb.nrm * c.c_nrm, 0.0), 6) AS csim,
            row_number() OVER (PARTITION BY eb.vec_id
              ORDER BY round(list_inner_product(eb.emb, c.c_emb) /
                             nullif(eb.nrm * c.c_nrm, 0.0), 6) DESC, c.cid ASC) AS rn
          FROM eb CROSS JOIN c1 c) t WHERE rn = 1),
      sc AS (SELECT cell, count(*) AS n_standing FROM a2 GROUP BY 1),
      bc AS (
        SELECT cell, count(*) AS n_added,
          round(CAST(sum(CAST(csim AS DECIMAL(20,6))) AS DOUBLE)
            / count(*), 6) AS avg_new_sim
        FROM ba GROUP BY 1)
      SELECT coalesce(sc.cell, bc.cell) AS cell,
        CAST(coalesce(sc.n_standing, 0) AS BIGINT) AS n_standing,
        CAST(coalesce(bc.n_added, 0) AS BIGINT) AS n_added,
        bc.avg_new_sim
      FROM sc FULL OUTER JOIN bc ON sc.cell = bc.cell"""))

  // ---------------------------------------------------------------------
  // A16: the retrain DECISION — closes the index lifecycle loop
  // (train → serve → monitor → retrain) that a15's avg_new_sim signal
  // feeds (VERDICT r11 top-next #3). Rule: if the arriving batch's
  // overall mean routing similarity against the FROZEN standing
  // centroids falls below RETRAIN_TAU, the frozen summary no longer
  // describes the incoming distribution — emit retrain=true plus the
  // REFRESHED centroid table (retrained over standing ∪ batch, the
  // kmeansTrainedCentroids derivation a8 pins). Output: one row per
  // cell with the monitoring report (standing size, additions, per-cell
  // and overall arrival sim), the global decision, and the refreshed
  // centroid's norm — NULL when no retrain fires; a refreshed-only cell
  // (one the standing index never used that the retrain activates)
  // appears with zero counts. At 100 TB the monitor itself is a
  // broadcast projection + one scalar aggregate over the BATCH only
  // (the standing corpus is touched only by the retrain branch, which
  // production orchestration gates behind the decision; here the plan
  // always emits it because the testdata batch IS drifted — random
  // embeddings route at ~0.1 mean sim, far under TAU). The streaming
  // twin (StreamingSpec) drains micro-batches through routeArrivals and
  // must flip the same decision when the arrival distribution drifts.
  // ---------------------------------------------------------------------
  private[graft] val RETRAIN_TAU = 0.5

  val a16RetrainDecision = Q(
    "a16_retrain_decision",
    (s, d) => {
      val all = embeddings(s, d)
        .select(col("vec_id"), col("embedding").as("emb"))
      val standing = all.filter(col("vec_id") % 10 =!= 0)
      val batch = all.filter(col("vec_id") % 10 === 0)
      val cents = kmeansTrainedCentroids(s, standing)
      val ba = assignTo(s, batch, cents)
      def meanSim = round(
        sum(round(col("csim"), 6).cast("decimal(20,6)")).cast("double") /
          count(lit(1)), 6)
      val decision = broadcast(
        ba.agg(meanSim.as("overall_new_sim"))
          .withColumn("retrain", col("overall_new_sim") < lit(RETRAIN_TAU)))
      val report = assignTo(s, standing, cents)
        .groupBy(col("cell")).agg(count(lit(1)).as("n_standing"))
        .join(
          ba.groupBy(col("cell"))
            .agg(count(lit(1)).as("n_added"), meanSim.as("avg_new_sim")),
          Seq("cell"), "full_outer")
      // the refreshed index: same seeds-and-one-recompute derivation as
      // a8, over the union corpus; the norm is a compact oracle-checkable
      // witness of the retrained centroid values (sequential left-fold
      // over the 64 rounded dims — both engines sum in index order, so
      // the double accumulation is bit-identical)
      val refreshed = kmeansTrainedCentroids(s, all)
        .select(col("cid").as("cell"),
          round(expr("sqrt(aggregate(c_emb, CAST(0.0 AS DOUBLE), " +
            "(acc, v) -> acc + v * v))"), 6).as("norm_refreshed"))
      report.join(refreshed, Seq("cell"), "full_outer")
        .crossJoin(decision)
        .filter(col("n_standing").isNotNull || col("n_added").isNotNull ||
          col("retrain"))
        .select(col("cell"),
          coalesce(col("n_standing"), lit(0L)).as("n_standing"),
          coalesce(col("n_added"), lit(0L)).as("n_added"),
          col("avg_new_sim"), col("overall_new_sim"), col("retrain"),
          when(col("retrain"), col("norm_refreshed")).as("new_c_norm"))
    },
    Some(s"""WITH ea AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
               sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
                                       CAST(embedding AS DOUBLE[]))) AS nrm
        FROM embeddings),
      es AS (SELECT * FROM ea WHERE vec_id % 10 <> 0),
      eb AS (SELECT * FROM ea WHERE vec_id % 10 = 0),
      ${kmeansCtesSqlFrom("es")},
      ba AS (
        SELECT vec_id, cell, csim FROM (
          SELECT eb.vec_id, c.cid AS cell,
            round(list_inner_product(eb.emb, c.c_emb) /
                  nullif(eb.nrm * c.c_nrm, 0.0), 6) AS csim,
            row_number() OVER (PARTITION BY eb.vec_id
              ORDER BY round(list_inner_product(eb.emb, c.c_emb) /
                             nullif(eb.nrm * c.c_nrm, 0.0), 6) DESC, c.cid ASC) AS rn
          FROM eb CROSS JOIN c1 c) t WHERE rn = 1),
      sc AS (SELECT cell, count(*) AS n_standing FROM a2 GROUP BY 1),
      bc AS (
        SELECT cell, count(*) AS n_added,
          round(CAST(sum(CAST(csim AS DECIMAL(20,6))) AS DOUBLE)
            / count(*), 6) AS avg_new_sim
        FROM ba GROUP BY 1),
      ov AS (
        SELECT round(CAST(sum(CAST(csim AS DECIMAL(20,6))) AS DOUBLE)
            / count(*), 6) AS overall_new_sim
        FROM ba),
      ${kmeansCtesSqlFrom("ea", "r_")},
      rn AS (SELECT cid AS cell, round(c_nrm, 6) AS norm_refreshed
             FROM r_c1),
      rep AS (
        SELECT coalesce(sc.cell, bc.cell) AS cell,
          sc.n_standing, bc.n_added, bc.avg_new_sim
        FROM sc FULL OUTER JOIN bc ON sc.cell = bc.cell)
      SELECT coalesce(rep.cell, rn.cell) AS cell,
        CAST(coalesce(rep.n_standing, 0) AS BIGINT) AS n_standing,
        CAST(coalesce(rep.n_added, 0) AS BIGINT) AS n_added,
        rep.avg_new_sim, ov.overall_new_sim,
        (ov.overall_new_sim < $RETRAIN_TAU) AS retrain,
        CASE WHEN ov.overall_new_sim < $RETRAIN_TAU
             THEN rn.norm_refreshed END AS new_c_norm
      FROM rep FULL OUTER JOIN rn ON rep.cell = rn.cell CROSS JOIN ov
      WHERE rep.cell IS NOT NULL
         OR (ov.overall_new_sim < $RETRAIN_TAU)"""))

  // ---------------------------------------------------------------------
  // A17: graph-based ANN — the navigable-small-world family (Malkov &
  // Yashunin's HNSW is the production standard) re-expressed as
  // relational build + unrolled greedy beam search.
  //
  // BUILD (redesigned r14 — the r13 form fixed 16 buckets per family and
  // DROPPED over-cap buckets via capBuckets, so above ~4k vectors every
  // bucket crossed NSW_CAP and the edge list silently emptied while the
  // oracle stayed green; VERDICT r13 What's-wrong #1):
  //   - SHORT-RANGE edges, TWO overlapping sign-LSH partitions (odd
  //     dims 1..31 and 33..63 — independent hyperplane sets): per-node
  //     top-NSW_MA/NSW_MB cosine neighbors within each partition's
  //     bucket. The bucket bit count FOLLOWS THE CORPUS — nbits =
  //     clamp(ceil(log2(N / NSW_TARGET)), 4, 16), the d4 sizing rule,
  //     computed as a chain of integer threshold comparisons rather than
  //     float log2 (one ulp of Spark/DuckDB disagreement at an exact
  //     power of two would flip the whole partition). Expected bucket
  //     size stays ~NSW_TARGET at any N, so per-bucket pairing cost is
  //     N·NSW_TARGET, linear in the corpus. One partition's short edges
  //     form per-bucket islands; the second, cut along DIFFERENT
  //     hyperplanes, bridges exactly those islands (two nodes split by
  //     partition A's boundary usually share a partition-B bucket) —
  //     the within-cluster navigability the 10× recall fixture showed a
  //     single family lacks.
  //   - LONG-RANGE edges: NSW_MR pseudo-random neighbors drawn inside
  //     h60-random buckets of ~NSW_RTARGET vectors, ranked by a portable
  //     per-(v,n) hash. Random — NOT similarity-ranked — long links are
  //     what makes the graph navigable ACROSS clusters: a
  //     similarity-ranked family collapses into the same local cliques
  //     as the short-range families (every top-M neighbor is a
  //     near-duplicate), and the beam can never cross cluster
  //     boundaries. Random links play the role of NSW's random insertion
  //     order / HNSW's sparse upper layers.
  //   - SEARCH starts from NSW_ENTRIES h60-spread entry points (not one
  //     global-min id): multi-entry is the standard NSW restart trick,
  //     and costs one |entries|-row broadcast.
  //   - Over-cap buckets are SAMPLED down to NSW_CAP neighbor-candidates
  //     per bucket (deterministic h60 order), never dropped: a
  //     degenerate pile-up now costs |bucket|·NSW_CAP comparisons
  //     (linear) and every node still gets edges, where the r13 drop
  //     form bounded cost by silently disconnecting the graph.
  //     x13_cap_report carries the saturation observability.
  //
  // SEARCH: greedy beam, NSW_HOPS rounds unrolled into the plan (the
  // oracle unrolls the same chain — the d7/sql_d7 fixpoint discipline):
  // frontier₀ = the global-min-id entry vector; each round scores the
  // frontier's out-neighbors against the probe and keeps the top-NSW_B
  // of (frontier ∪ neighbors). Each round is one broadcast join against
  // the edge list + one per-probe window top-k over ≤ B·(M+M2) rows per
  // probe — frontier size is CONSTANT, so 100 TB changes only the edge
  // build, not the search plan. Every similarity is round(·,6) BEFORE
  // ranking with a vec_id tie-break, so both engines walk the identical
  // path (the a6 determinism discipline).
  //
  // Output: the final beam's top-NSW_K per probe — judged, like a6/a7,
  // against its own declared algorithm; recall vs exact brute force is
  // a17's spec concern (AnnGraphSpec reports it against a5's truth).
  // ---------------------------------------------------------------------
  private[graft] val NSW_MA = 6 // short-range out-degree, partition A
  private[graft] val NSW_MB = 6 // short-range out-degree, partition B
  private[graft] val NSW_MR = 4 // long-range random out-degree
  private[graft] val NSW_DEG = NSW_MA + NSW_MB + NSW_MR // ≤ 16 total
  private[graft] val NSW_B = 16 // beam width
  private[graft] val NSW_CAP = 256 // per-bucket neighbor-candidate sample
  private[graft] val NSW_HOPS = 5
  private[graft] val NSW_K = 5
  private[graft] val NSW_ENTRIES = 4 // h60-spread beam entry points
  private[graft] val NSW_TARGET = 128 // short-range target bucket size
  private[graft] val NSW_RTARGET = 192 // long-range random bucket size (< NSW_CAP, so the sample guard is a true anomaly cap, not a by-construction haircut — the r14 d13 report caught 512 saturating every random bucket)
  private[graft] val NSW_MIN_BITS = 4
  private[graft] val NSW_MAX_BITS = 16
  /** 1-based first dims of the two sign partitions (odd dims 1..31 and
    * 33..63 — disjoint from each other and, by parity, from d4's
    * even-dim band keys). */
  private val NSW_OFF_A = 1
  private val NSW_OFF_B = 33
  /** Highest 1-based dim [[nswSignKey]] reads. */
  private val NSW_KEY_MAX_DIM = NSW_OFF_B + 2 * (NSW_MAX_BITS - 1)

  /** nbits = clamp(ceil(log2(N / NSW_TARGET)), MIN, MAX) over any
    * corpus-count column, as pure integer comparisons (see build
    * note). Parameterized (r21) so d13's single-pass saturation scan
    * can size all six member frames from one counts row. */
  private[graft] def nswNbitsOf(n: Column): Column =
    (NSW_MIN_BITS until NSW_MAX_BITS).map { b =>
      when(n > (NSW_TARGET.toLong << b), lit(1))
        .otherwise(lit(0))
    }.reduce(_ + _) + lit(NSW_MIN_BITS)

  private def nswNbitsCol: Column = nswNbitsOf(col("n_corpus"))

  private def nswNbitsDuck: String = nswNbitsSqlOver("n")

  /** The nbits clamp over any count expression, SQL text shared by
    * both dialects — r21's single-pass sql_d13 sizes all six member
    * frames from one counts row, so the column name must vary. */
  private[graft] def nswNbitsSqlOver(n: String): String =
    (NSW_MIN_BITS until NSW_MAX_BITS).map { b =>
      s"(CASE WHEN $n > ${NSW_TARGET.toLong << b} THEN 1 ELSE 0 END)"
    }.mkString(" + ") + s" + $NSW_MIN_BITS"

  /** Full [[NSW_MAX_BITS]]-bit sign key over odd dims off, off+2, ..;
    * bit i weighs 2^i so `% 2^nbits` keeps the FIRST nbits hyperplanes —
    * a prefix partition that coarsens/refines consistently as N moves.
    * Guarded like d4BandKey: a narrower embedding must raise, not
    * silently collapse bits to 0. */
  private[graft] def nswSignKey(embCol: String, off: Int): Column = {
    val key = (0 until NSW_MAX_BITS).map { i =>
      when(expr(s"element_at($embCol, ${off + 2 * i})") > 0,
        lit(1 << i)).otherwise(lit(0))
    }.reduce(_ + _)
    when(size(col(embCol)) >= NSW_KEY_MAX_DIM, key)
      .otherwise(raise_error(concat(
        lit("nswSignKey: embedding dimension "), size(col(embCol)),
        lit(s" < required $NSW_KEY_MAX_DIM"))))
  }

  private def nswSignKeyDuck(embCol: String, off: Int): String =
    (0 until NSW_MAX_BITS).map { i =>
      s"(CASE WHEN $embCol[${off + 2 * i}] > 0 THEN ${1 << i} ELSE 0 END)"
    }.mkString(" + ")

  /** The same derivations as Spark SQL text — the ONE other spelling,
    * consumed by the SQL-surface twin (SqlFrontend.sqlA17Nsw) so the two
    * engines can never drift on the partition. */
  private[graft] def nswSignKeySql(embCol: String, off: Int): String =
    (0 until NSW_MAX_BITS).map { i =>
      s"(CASE WHEN element_at($embCol, ${off + 2 * i}) > 0 " +
        s"THEN ${1 << i} ELSE 0 END)"
    }.mkString(" + ")

  private[graft] def nswSignOffA: Int = NSW_OFF_A
  private[graft] def nswSignOffB: Int = NSW_OFF_B

  private[graft] def nswNbitsSql: String = nswNbitsDuck

  /** Deterministic ≤[[NSW_CAP]]-per-bucket neighbor-candidate sample
    * (h60 order) — the sample-not-drop guard of the build note. */
  private def nswSampled(rows: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("b"))
      .orderBy(graft.functions.Portable
        .h60(col("vec_id").cast("string"), "nsws|").asc, col("vec_id").asc)
    rows.withColumn("srn", row_number().over(w))
      .filter(col("srn") <= NSW_CAP).drop("srn")
  }

  /** The three NSW bucket frames as standalone DuckDB queries over any
    * (vec_id, embedding) member SELECT, each ending in a (vec_id, b)
    * projection — the oracle twins of [[nswBucketFrames]], shared with
    * d13_cap_report (full corpus AND a19's layer slices). */
  private[graft] def nswBucketsDuckOver(srcSelect: String)
      : Seq[(String, String)] = {
    val nbCtes = s"""mem AS ($srcSelect),
          nc AS (SELECT count(*) AS n FROM mem),
          nb AS (SELECT ($nswNbitsDuck) AS nbits,
              greatest(1, CAST(floor(n / $NSW_RTARGET.0) AS BIGINT)) AS nb2
            FROM nc)"""
    def sign(off: Int) =
      s"""WITH $nbCtes
          SELECT vec_id,
            CAST((${nswSignKeyDuck("embedding", off)}) % (1 << nbits)
              AS INT) AS b
          FROM mem CROSS JOIN nb"""
    val rand =
      s"""WITH $nbCtes
          SELECT vec_id,
            CAST(${graft.functions.Portable
        .h60Duck("CAST(vec_id AS VARCHAR)", "nswr|")} % nb2 AS INT) AS b
          FROM mem CROSS JOIN nb"""
    Seq(("nsw_sign_a", sign(NSW_OFF_A)), ("nsw_sign_b", sign(NSW_OFF_B)),
      ("nsw_rand", rand))
  }

  private[graft] def nswBucketsDuck: Seq[(String, String)] =
    nswBucketsDuckOver("SELECT vec_id, embedding FROM embeddings")

  /** The three NSW bucket frames as SPARK SQL CTE text over any
    * (vec_id, embedding) member SELECT (prefix `p`; provides p_mem,
    * p_nc, p_nb, p_ba, p_bb, p_br each ending in (vec_id, b)), for
    * sql_d13_cap_report. */
  private[graft] def nswBucketsSparkCtesOver(
      p: String, srcSelect: String): String = {
    import graft.functions.Portable.h60Sql
    def sign(tag: String, off: Int) =
      s"""${p}_b$tag AS (SELECT vec_id,
          CAST(pmod(${nswSignKeySql("embedding", off)},
            shiftleft(1, nbits)) AS INT) AS b
        FROM ${p}_mem CROSS JOIN ${p}_nb)"""
    s"""${p}_mem AS ($srcSelect),
      ${p}_nc AS (SELECT count(*) AS n FROM ${p}_mem),
      ${p}_nb AS (SELECT ($nswNbitsSql) AS nbits,
          greatest(CAST(1 AS BIGINT),
            CAST(floor(n / $NSW_RTARGET.0) AS BIGINT)) AS nb2
        FROM ${p}_nc),
      ${sign("a", NSW_OFF_A)},
      ${sign("b", NSW_OFF_B)},
      ${p}_br AS (SELECT vec_id,
          CAST(pmod(${h60Sql("CAST(vec_id AS STRING)", "nswr|")},
            nb2) AS INT) AS b
        FROM ${p}_mem CROSS JOIN ${p}_nb)"""
  }

  private[graft] def nswBucketsSparkCtes: String =
    nswBucketsSparkCtesOver("qn",
      "SELECT vec_id, embedding FROM embeddings")

  /** a19 layer-k members (lvl ≥ k) of any (vec_id, emb) frame — the
    * geometric h60 level draw shared by a19, the streaming descent,
    * and d13's layer saturation accounting. */
  /** The geometric h60 level draw as a column — the ONE definition
    * shared by [[hnswMembers]] and d13's single-pass member tagging. */
  private[graft] def hnswLvlCol: Column = {
    val p1 = HNSW_PROMOTE.toLong
    val lh = graft.functions.Portable
      .h60(col("vec_id").cast("string"), "lvl|")
    when(pmod(lh, lit(p1 * p1)) === 0, 2)
      .when(pmod(lh, lit(p1)) === 0, 1).otherwise(0)
  }

  private[graft] def hnswMembers(e0: DataFrame, k: Int): DataFrame =
    e0.withColumn("hnsw_lvl", hnswLvlCol).filter(col("hnsw_lvl") >= k)
      .drop("hnsw_lvl")

  /** The layer-k member SELECT in DuckDB dialect. */
  private[graft] def hnswMemberDuck(k: Int): String = {
    val p1 = HNSW_PROMOTE.toLong
    val lh = graft.functions.Portable
      .h60Duck("CAST(vec_id AS VARCHAR)", "lvl|")
    s"""SELECT vec_id, embedding FROM embeddings
        WHERE (CASE WHEN $lh % ${p1 * p1} = 0 THEN 2
               WHEN $lh % $p1 = 0 THEN 1 ELSE 0 END) >= $k"""
  }

  /** The layer-k member SELECT in Spark SQL dialect. */
  private[graft] def hnswMemberSql(k: Int): String = {
    val p1 = HNSW_PROMOTE.toLong
    val lh = graft.functions.Portable
      .h60Sql("CAST(vec_id AS STRING)", "lvl|")
    s"""SELECT vec_id, embedding FROM embeddings
        WHERE (CASE WHEN pmod($lh, ${p1 * p1}) = 0 THEN 2
               WHEN pmod($lh, $p1) = 0 THEN 1 ELSE 0 END) >= $k"""
  }

  /** Spread the streamed (pair-scoring) side of a bucket join across
    * the session's cores by its bucket key (guide §2.5: few-split
    * input before fan-out work — the local single-row-group parquet
    * gives every scan ONE split, so the scoring join, whose output
    * fans out |bucket|-fold with a cosine per pair, otherwise runs
    * fused into a single scan task; a17's build measured 3.4–4.5 s
    * single-task stages from exactly this). Keyed by the JOIN key, so
    * at cluster scale where the sampled side outgrows broadcast and
    * the planner shuffles both sides by `b` anyway, this exchange IS
    * the join's required one; under a broadcast join it adds one
    * shuffle of the pre-fan-out input rows — negligible next to the
    * scoring it parallelizes. Explicit partition count because AQE
    * would coalesce this exchange on input BYTES, blind to the join's
    * fan-out CPU (r20 measurement: AQE coalesced it to one task). */
  private def spreadByBucket(s: SparkSession, df: DataFrame): DataFrame =
    df.repartition(s.sparkContext.defaultParallelism, col("b"))

  /** The NSW edge list over any (vec_id, emb) frame: per-node top-M by
    * cosine within corpus-scaled sign buckets ∪ M2 hash-random picks
    * within random buckets, distinct. Directed (v → n). Split from the
    * directory form so AnnGraphSpec can drive it at 10× fixture sizes
    * where the r13 build provably emptied. */
  private[graft] def nswEdgesFrom(s: SparkSession, e0: DataFrame)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.Portable
    // corpus size as a broadcast one-row frame (the x11 discipline: no
    // driver collect; sizing is part of the plan)
    val Seq(_, _, (_, br)) = nswBucketFrames(e0)
    // r21b (guide §2.3/§2.4): BOTH sign families from ONE tagged corpus
    // pass — the two bucket keys are projections of the same row, so an
    // explode emits (fam, b) pairs and one spread exchange + one sample
    // window + one scoring join replace two of each. Identical edges:
    // the per-bucket sample rank and the per-node top-M are the same
    // windows with `fam` prepended to their partition keys, so each
    // family ranks exactly as it did alone. (nswBucketFrames stays the
    // separate accounting surface d13 reads — same key expressions.)
    val e = e0.crossJoin(broadcast(e0.agg(count(lit(1)).as("n_corpus"))))
    val tall = e.withColumn("nbits", nswNbitsCol)
      .select(col("vec_id"), col("emb"), explode(array(
        struct(lit("a").as("fam"),
          pmod(nswSignKey("emb", NSW_OFF_A),
            expr("shiftleft(1, nbits)")).cast("int").as("b")),
        struct(lit("b").as("fam"),
          pmod(nswSignKey("emb", NSW_OFF_B),
            expr("shiftleft(1, nbits)")).cast("int").as("b")))).as("fb"))
      .select(col("vec_id"), col("emb"),
        col("fb.fam").as("fam"), col("fb.b").as("b"))
    val wS = Window.partitionBy(col("fam"), col("b"))
      .orderBy(Portable.h60(col("vec_id").cast("string"), "nsws|").asc,
        col("vec_id").asc)
    val sampled = tall.withColumn("srn", row_number().over(wS))
      .filter(col("srn") <= NSW_CAP)
      .select(col("vec_id").as("n"), col("emb").as("n_emb"),
        col("fam"), col("b"))
    val w = Window.partitionBy(col("v"), col("fam"))
      .orderBy(col("sim").desc, col("n").asc)
    val signs = tall
      .select(col("vec_id").as("v"), col("emb").as("v_emb"),
        col("fam"), col("b"))
      .repartition(s.sparkContext.defaultParallelism,
        col("fam"), col("b")) // spreadByBucket, keyed by the JOIN key
      .join(sampled, Seq("fam", "b"))
      .filter(col("v") =!= col("n"))
      .select(col("fam"), col("v"), col("n"),
        round(cosine(s, "v_emb", "n_emb"), 6).as("sim"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= when(col("fam") === "a", NSW_MA)
        .otherwise(NSW_MB))
      .select("v", "n")
    val w2 = Window.partitionBy(col("v"))
      .orderBy(col("rk").asc, col("n").asc)
    val long = spreadByBucket(s, br.select(col("vec_id").as("v"), col("b")))
      .join(nswSampled(br).select(col("vec_id").as("n"), col("b")),
        Seq("b"))
      .filter(col("v") =!= col("n"))
      .withColumn("rk", Portable.h60(concat(col("v").cast("string"),
        lit("|"), col("n").cast("string")), "nsw2|"))
      .withColumn("rn", row_number().over(w2))
      .filter(col("rn") <= NSW_MR)
      .select("v", "n")
    signs.union(long).distinct()
  }

  /** The three pre-sample NSW bucket frames (named) over any
    * (vec_id, emb) frame — the build's candidate-generation surface,
    * shared with d13_cap_report's saturation accounting. */
  private[graft] def nswBucketFrames(e0: DataFrame)
      : Seq[(String, DataFrame)] = {
    import graft.functions.Portable
    val e = e0.crossJoin(broadcast(e0.agg(count(lit(1)).as("n_corpus"))))
    def sign(off: Int): DataFrame =
      e.withColumn("nbits", nswNbitsCol)
        .withColumn("b", pmod(nswSignKey("emb", off),
          expr("shiftleft(1, nbits)")).cast("int"))
        .select("vec_id", "emb", "b")
    val rand = e.withColumn("b",
        pmod(Portable.h60(col("vec_id").cast("string"), "nswr|"),
          greatest(lit(1L),
            floor(col("n_corpus") / lit(NSW_RTARGET.toDouble))
              .cast("long"))).cast("int"))
      .select("vec_id", "b")
    Seq(("nsw_sign_a", sign(NSW_OFF_A)), ("nsw_sign_b", sign(NSW_OFF_B)),
      ("nsw_rand", rand))
  }

  private[graft] def nswEdges(s: SparkSession, d: String): DataFrame =
    nswEdgesFrom(s,
      embeddings(s, d).select(col("vec_id"), col("embedding").as("emb")))

  /** The traversal edge set for a beam descent: the (v, n) edge list
    * plus one (v, v) self-loop per corpus node. The self-loops carry
    * the "frontier survives into the next candidate set" semantics
    * (the oracle's `f_{k-1} UNION neighbors` — sims are deterministic
    * per (probe, vec) pair, so rescoring a kept node reproduces its
    * sim exactly), which lets each hop reference the previous frontier
    * exactly ONCE. That single reference is what makes the whole
    * descent one linear plan: the pre-r21b hop fed the frontier to TWO
    * consumers (neighbor join + union), which doubles the inlined tree
    * per hop — 2^hops copies — and forced an eager localCheckpoint per
    * hop; at local[32] those checkpoints cost ~4-5 scheduler jobs per
    * hop (r21b Prof: a19 95 jobs / 66 s task time for 2.4 s of wall
    * compute; k8d 143 jobs) and on a cluster the same count of stage
    * round-trips. Edgeless frontier nodes survive via their self-loop
    * (an upper HNSW layer can be empty at tiny SFs — the frontier must
    * carry through unchanged). */
  private[graft] def withSelfLoops(e: DataFrame, edges: DataFrame)
      : DataFrame =
    edges.select(col("v"), col("n")).unionByName(
      e.select(col("vec_id").as("v"), col("vec_id").as("n")))

  /** One greedy-beam phase over a (v, n) edge list: `hops` rounds of
    * expand → score vs probe → top-`beam` prune from `frontier0`.
    * Shared by a17 (single phase) and a19 (per-layer descent). The
    * self-loop edge set ([[withSelfLoops]]) makes every hop reference
    * the previous frontier once, so the phase is ONE un-checkpointed
    * linear plan — no per-hop snap, no per-hop query: identical
    * broadcast subtrees (probes, the persisted edge side of each hop's
    * lookup) collapse to one build + ReusedExchange under AQE, the
    * discipline sql_a17's WITH-chain proved. */
  private[graft] def beamPhase(
      s: SparkSession, e: DataFrame, probes: DataFrame,
      frontier0: DataFrame, edges: DataFrame, hops: Int, beam: Int)
      : DataFrame = {
    val edgesPlus = withSelfLoops(e, edges)
    (1 to hops).foldLeft(frontier0) { (frontier, _) =>
      beamHop(s, e, probes, frontier, edgesPlus, beam)
    }
  }

  /** One hop's deduped scored candidate set (probe_id, vec_id, sim) —
    * everything the beam scores this hop, BEFORE the top-beam prune.
    * Split from [[beamHop]] because a25's visited accumulator needs
    * exactly this frame per hop.
    *
    * Hop shape (guide §3.1/§2.4), unchanged from r20 except the union
    * arm: the frontier (≤ probes×beam rows BY CONSTRUCTION) broadcasts
    * into the self-loop edge lookup and the candidate id set
    * (≤ frontier×(degree+1)) broadcasts into the corpus fetch, so the
    * edge table and the corpus are each scanned once per hop with NO
    * shuffle of either — bounded-size broadcasts with the big sides
    * distributed (the 100 TB posture; broadcasting the adjacency like
    * the SQL face's hint does is only safe when the index fits). ONE
    * exchange per hop: hash(probe_id) satisfies both the dedup
    * aggregation's (probe_id, vec_id) clustering and the downstream
    * top-beam window's probe_id clustering. */
  private[graft] def beamCands(
      s: SparkSession, e: DataFrame, probes: DataFrame,
      frontier: DataFrame, edgesPlus: DataFrame): DataFrame = {
    val cand = edgesPlus
      .join(broadcast(frontier.select(col("probe_id"), col("vec_id"))),
        col("vec_id") === col("v"))
      .select(col("probe_id"), col("n").as("vec_id"))
    e.join(broadcast(cand), Seq("vec_id"))
      .join(broadcast(probes), Seq("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        round(cosine(s, "emb", "p_emb"), 6).as("sim"))
      .repartition(col("probe_id"))
      .groupBy(col("probe_id"), col("vec_id"))
      .agg(max(col("sim")).as("sim")) // dedup revisited nodes
  }

  /** ONE beam hop over a self-loop edge set ([[withSelfLoops]]):
    * [[beamCands]] pruned to the top `beam` per probe. */
  private[graft] def beamHop(
      s: SparkSession, e: DataFrame, probes: DataFrame,
      frontier: DataFrame, edgesPlus: DataFrame, beam: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("sim").desc, col("vec_id").asc)
    beamCands(s, e, probes, frontier, edgesPlus)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= beam)
      .select("probe_id", "vec_id", "sim")
  }

  /** The greedy-beam search side over ANY (v, n) edge list — a17's
    * search, split out so the k8 sink can serve the SAME beam from a
    * written-then-read parquet index (build once, search many, proven
    * by a shared oracle rather than asserted in a comment). */
  private[graft] def nswSearchOver(
      s: SparkSession, d: String, edges: DataFrame): DataFrame =
    nswSearchOverMasked(s,
      embeddings(s, d).select(col("vec_id"), col("embedding").as("emb")),
      edges, None)

  /** [[nswSearchOver]] generalized for the k14 erasure lifecycle: the
    * corpus frame (vec_id, emb) is a parameter (a compacted store has
    * physically dropped erased vectors — entries and scoring rows come
    * only from survivors), and `tombstoned`, when set, excludes
    * matching ids from the FINAL top-K while the beam still traverses
    * and ranks them — the production tombstone semantics (a logically
    * deleted node keeps carrying connectivity until compaction). */
  private[graft] def nswSearchOverMasked(
      s: SparkSession, e: DataFrame, edges: DataFrame,
      tombstoned: Option[org.apache.spark.sql.Column]): DataFrame =
    nswTopkFrom(nswFinalBeam(s, e, edges), tombstoned)

  /** The materialized final beam (probe_id, vec_id, sim) over any
    * corpus + edge list — [[nswSearchOverMasked]] up to (excluding)
    * the mask+top-K tail. Split in r20 so k14 computes the beam ONCE
    * for its before/tombstoned phases (identical traversal by the
    * tombstone semantics — only the final top-K mask differs; the
    * pre-split form re-ran all NSW_HOPS checkpointed hops twice). */
  private[graft] def nswFinalBeam(
      s: SparkSession, e: DataFrame, edges: DataFrame): DataFrame = {
      val probes = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("probe_id"), col("emb").as("p_emb"))
      // NSW_ENTRIES h60-spread entry points — TakeOrderedAndProject
      // (limit-after-sort), never a materialized global sort
      val entry = e
        .withColumn("ek", graft.functions.Portable
          .h60(col("vec_id").cast("string"), "nswe|"))
        .orderBy(col("ek").asc, col("vec_id").asc)
        .limit(NSW_ENTRIES)
        .select("vec_id", "emb")
      // frontier₀: every probe starts at the entry vectors
      val f0 = probes.crossJoin(broadcast(entry))
        .select(col("probe_id"), col("vec_id"),
          round(cosine(s, "emb", "p_emb"), 6).as("sim"))
      beamPhase(s, e, probes, f0, edges, NSW_HOPS, NSW_B)
  }

  /** The mask + per-probe top-[[NSW_K]] tail over a final beam frame. */
  private[graft] def nswTopkFrom(
      beam: DataFrame,
      tombstoned: Option[org.apache.spark.sql.Column]): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("probe_id"))
        .orderBy(col("sim").desc, col("vec_id").asc)
      val masked = tombstoned.fold(beam)(t => beam.filter(!t))
      masked.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= NSW_K)
        .select(col("probe_id"), col("vec_id"), col("sim"),
          col("rn").cast("long").as("rank"))
  }

  val a17NswSearch = Q(
    "a17_nsw_search",
    (s, d) => {
      // The edge list sits under every unrolled hop join. The r13 form
      // left it unpersisted (A/B: AQE ReusedExchange beat forced
      // materialization, 5.0 s vs 7.9 s at sf0.1) — but that verdict
      // FLIPS with the r14 corpus-scaled build: three families, each
      // with a per-bucket sample window, make a subtree AQE no longer
      // collapses across the hops. A LAZY persist is not enough either:
      // AQE submits every hop's edge-side map stage in parallel, they
      // race the still-unmaterialized cache, and each recomputes the
      // whole build — measured 116 stages / 124 s of task time for a
      // 2,000-row corpus (r14 listener audit). So the index is built
      // as its own eager job, then every hop reads the cached relation
      // — build once, search many (k8_ann_index_sink proves the same
      // discipline with the index written to and served from parquet).
      // The build job is INSIDE the benched region (Bench times fn
      // construction + execution), so its cost is honestly counted;
      // LlmOps.releaseCaches() frees the blocks after the query.
      val edges = nswEdges(s, d).persist()
      edges.count()
      nswSearchOver(s, d, edges)
    },
    Some(s"""WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
               sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
                                       CAST(embedding AS DOUBLE[]))) AS nrm
        FROM embeddings),
      ${nswBuildDuck("", "embeddings")},
      ${nswSearchDuck("edges")}"""))

  /** The flat NSW edge BUILD as DuckDB CTE text over any member
    * relation `memberFrom` (must expose (vec_id, embedding); bucket
    * sizing reads ITS count), CTE names prefixed `pre`, scoring via a
    * prior `e` CTE (vec_id, emb, nrm — a superset of the members).
    * Ends in `${pre}edges (v, n)`. Shared by a17's oracle (members =
    * the whole corpus) and k8c's (members = a18's standing slice, so
    * the served standing index and the delta replay provably size
    * their buckets the same way). */
  private[graft] def nswBuildDuck(pre: String, memberFrom: String)
      : String = {
    import graft.functions.Portable.h60Duck
    val sign = Seq(("a", NSW_OFF_A, NSW_MA), ("b", NSW_OFF_B, NSW_MB))
      .map { case (t, off, m) =>
        s"""${pre}b$t AS (SELECT vec_id,
          CAST((${nswSignKeyDuck("embedding", off)}) % (1 << nbits)
            AS INT) AS b
        FROM $memberFrom CROSS JOIN ${pre}nb),
      ${pre}s$t AS (SELECT vec_id, b FROM (
          SELECT vec_id, b, row_number() OVER (PARTITION BY b ORDER BY
            ${h60Duck("CAST(vec_id AS VARCHAR)", "nsws|")}, vec_id) AS srn
          FROM ${pre}b$t) t WHERE srn <= $NSW_CAP),
      ${pre}ef$t AS (
        SELECT v, n FROM (
          SELECT va.vec_id AS v, vb.vec_id AS n,
            row_number() OVER (PARTITION BY va.vec_id ORDER BY
              round(list_inner_product(ea.emb, eb.emb)
                / nullif(ea.nrm * eb.nrm, 0.0), 6) DESC,
              vb.vec_id ASC) AS rn
          FROM ${pre}b$t va JOIN ${pre}s$t vb ON va.b = vb.b
            AND va.vec_id <> vb.vec_id
          JOIN e ea ON ea.vec_id = va.vec_id
          JOIN e eb ON eb.vec_id = vb.vec_id) t
        WHERE rn <= $m)"""
      }.mkString(",\n      ")
    s"""${pre}nc AS (SELECT count(*) AS n FROM $memberFrom),
      ${pre}nb AS (SELECT ($nswNbitsDuck) AS nbits,
          greatest(1, CAST(floor(n / $NSW_RTARGET.0) AS BIGINT)) AS nb2
        FROM ${pre}nc),
      $sign,
      ${pre}br AS (SELECT vec_id,
          CAST(${h60Duck("CAST(vec_id AS VARCHAR)", "nswr|")} % nb2
            AS INT) AS b
        FROM $memberFrom CROSS JOIN ${pre}nb),
      ${pre}sr AS (SELECT vec_id, b FROM (
          SELECT vec_id, b, row_number() OVER (PARTITION BY b ORDER BY
            ${h60Duck("CAST(vec_id AS VARCHAR)", "nsws|")}, vec_id) AS srn
          FROM ${pre}br) t WHERE srn <= $NSW_CAP),
      ${pre}efr AS (
        SELECT v, n FROM (
          SELECT va.vec_id AS v, vb.vec_id AS n,
            row_number() OVER (PARTITION BY va.vec_id ORDER BY
              ${h60Duck(
      "concat(CAST(va.vec_id AS VARCHAR), '|', CAST(vb.vec_id AS VARCHAR))",
      "nsw2|")} ASC,
              vb.vec_id ASC) AS rn
          FROM ${pre}br va JOIN ${pre}sr vb ON va.b = vb.b
            AND va.vec_id <> vb.vec_id) t
        WHERE rn <= $NSW_MR),
      ${pre}edges AS (SELECT v, n FROM ${pre}efa
        UNION SELECT v, n FROM ${pre}efb
        UNION SELECT v, n FROM ${pre}efr)"""
  }

  /** The greedy-beam SEARCH as DuckDB CTE text + final SELECT over any
    * (v, n) edge relation — the oracle twin of [[nswSearchOver]]:
    * probes vec_id < 8, NSW_ENTRIES h60-spread entries from the full
    * corpus, NSW_HOPS beam rounds, top-NSW_K. Requires a prior `e` CTE.
    * Shared by a17 (in-memory edges) and k8c (standing ∪ delta). */
  private[graft] def nswSearchDuck(edgesRel: String): String = {
    val hops = (1 to NSW_HOPS).map { k =>
      s"""n$k AS (
        SELECT f.probe_id, g.n AS vec_id
        FROM f${k - 1} f JOIN $edgesRel g ON g.v = f.vec_id),
      c$k AS (
        SELECT probe_id, vec_id, sim FROM f${k - 1}
        UNION
        SELECT n.probe_id, n.vec_id,
          round(list_inner_product(e.emb, p.p_emb)
            / nullif(e.nrm * p.p_nrm, 0.0), 6) AS sim
        FROM n$k n JOIN e ON e.vec_id = n.vec_id
        JOIN p ON p.probe_id = n.probe_id),
      f$k AS (
        SELECT probe_id, vec_id, sim FROM (
          SELECT *, row_number() OVER (PARTITION BY probe_id
            ORDER BY sim DESC, vec_id ASC) AS rn FROM c$k) t
        WHERE rn <= $NSW_B)"""
    }.mkString(",\n      ")
    s"""p AS (
        SELECT vec_id AS probe_id, emb AS p_emb, nrm AS p_nrm
        FROM e WHERE vec_id < 8),
      ent AS (SELECT vec_id FROM embeddings ORDER BY
          ${graft.functions.Portable
      .h60Duck("CAST(vec_id AS VARCHAR)", "nswe|")}, vec_id
        LIMIT $NSW_ENTRIES),
      f0 AS (
        SELECT p.probe_id, e.vec_id,
          round(list_inner_product(e.emb, p.p_emb)
            / nullif(e.nrm * p.p_nrm, 0.0), 6) AS sim
        FROM p CROSS JOIN e
        WHERE e.vec_id IN (SELECT vec_id FROM ent)),
      $hops
      SELECT probe_id, vec_id, sim, CAST(rn AS BIGINT) AS rank FROM (
        SELECT *, row_number() OVER (PARTITION BY probe_id
          ORDER BY sim DESC, vec_id ASC) AS rn FROM f$NSW_HOPS) t
      WHERE rn <= $NSW_K"""
  }

  /** [[nswSearchDuck]] as REUSABLE tagged CTE text (ends in
    * `${tag}res(probe_id, vec_id, sim, rank)` instead of a final
    * SELECT) over a parameterized corpus relation and an optional
    * tombstone mask applied to the final top-K only — the oracle twin
    * of [[nswSearchOverMasked]], instantiable three times in one query
    * (k14's before/tombstoned/compacted phases). Per-hop frontiers are
    * MATERIALIZED: each f$k is referenced twice (expansion + union),
    * so inlining is 2^hops copies of the whole build subtree (the g7
    * lesson — DuckDB 1.0 inlines CTEs by default). */
  private[graft] def nswSearchDuckCtes(
      tag: String, edgesRel: String, corpusRel: String,
      tombstonedSql: Option[String]): String = {
    val hops = (1 to NSW_HOPS).map { k =>
      s"""${tag}n$k AS (
        SELECT f.probe_id, g.n AS vec_id
        FROM ${tag}f${k - 1} f JOIN $edgesRel g ON g.v = f.vec_id),
      ${tag}c$k AS (
        SELECT probe_id, vec_id, sim FROM ${tag}f${k - 1}
        UNION
        SELECT n.probe_id, n.vec_id,
          round(list_inner_product(e.emb, p.p_emb)
            / nullif(e.nrm * p.p_nrm, 0.0), 6) AS sim
        FROM ${tag}n$k n JOIN $corpusRel e ON e.vec_id = n.vec_id
        JOIN ${tag}p p ON p.probe_id = n.probe_id),
      ${tag}f$k AS MATERIALIZED (
        SELECT probe_id, vec_id, sim FROM (
          SELECT *, row_number() OVER (PARTITION BY probe_id
            ORDER BY sim DESC, vec_id ASC) AS rn FROM ${tag}c$k) t
        WHERE rn <= $NSW_B)"""
    }.mkString(",\n      ")
    val mask = tombstonedSql.map(m => s"WHERE NOT ($m)").getOrElse("")
    s"""${tag}p AS (
        SELECT vec_id AS probe_id, emb AS p_emb, nrm AS p_nrm
        FROM $corpusRel WHERE vec_id < 8),
      ${tag}ent AS (SELECT vec_id FROM $corpusRel ORDER BY
          ${graft.functions.Portable
      .h60Duck("CAST(vec_id AS VARCHAR)", "nswe|")}, vec_id
        LIMIT $NSW_ENTRIES),
      ${tag}f0 AS MATERIALIZED (
        SELECT p.probe_id, e.vec_id,
          round(list_inner_product(e.emb, p.p_emb)
            / nullif(e.nrm * p.p_nrm, 0.0), 6) AS sim
        FROM ${tag}p p CROSS JOIN $corpusRel e
        WHERE e.vec_id IN (SELECT vec_id FROM ${tag}ent)),
      $hops,
      ${tag}res AS (
        SELECT probe_id, vec_id, sim, CAST(rn AS BIGINT) AS rank FROM (
          SELECT *, row_number() OVER (PARTITION BY probe_id
            ORDER BY sim DESC, vec_id ASC) AS rn
          FROM (SELECT * FROM ${tag}f$NSW_HOPS $mask) z) t
        WHERE rn <= $NSW_K)"""
  }

  // ---------------------------------------------------------------------
  // A18: incremental NSW graph maintenance — the a15/d10 lifecycle
  // discipline applied to a17's graph: an arriving batch joins the
  // standing graph WITHOUT a rebuild. Each arrival gets out-edges (its
  // top-M cosine neighbors within each sign family's bucket + M_R
  // hash-random long-range picks, all against STANDING members only)
  // and every selected neighbor gets the reverse edge back — the
  // bidirectional insertion NSW needs so future searches can REACH the
  // new node. Bucket sizing (nbits, nb2) is FROZEN from the standing
  // corpus (the a15 frozen-centroid discipline: arrivals must not
  // re-partition the graph they're joining); the standing side is
  // sampled to NSW_CAP per bucket, so an arrival batch of m vectors
  // costs m · (2·bucket + cap) comparisons — linear in the batch,
  // independent of corpus size, no touch of standing edges. Output:
  // the delta edge list (src, dst, sim, kind out|back) a production
  // index would append.
  // ---------------------------------------------------------------------

  /** a18's standing corpus (arrivals are `vec_id % 10 == 0`) — the ONE
    * definition of the split, shared with d13_cap_report: a18's
    * per-arrival sampled standing buckets are a capped surface with the
    * same silent-degradation potential as the build-time ones (VERDICT
    * r14 #4), so the saturation report derives its pre-cap bucket
    * tables from exactly this frame. */
  private[graft] def a18Standing(e0: DataFrame): DataFrame =
    e0.filter(col("vec_id") % 10 =!= 0)

  /** The standing-member SELECT — DuckDB and Spark SQL share the
    * dialect here (both accept `%` / `<>` on BIGINT). */
  private[graft] val a18StandingSelect =
    "SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 <> 0"

  /** a18's delta OUT-edge list (src=arrival, dst=standing, sim),
    * distinct — split from the query so k8c can append exactly these
    * edges (both directions) into the served index table. */
  private[graft] def a18DeltaOut(s: SparkSession, d: String): DataFrame = {
    val all0 = embeddings(s, d)
      .select(col("vec_id"), col("embedding").as("emb"))
    nswDeltaOutOver(s, a18Standing(all0),
      all0.filter(col("vec_id") % 10 === 0))
  }

  /** The delta recurrence over ARBITRARY (vec_id, emb) standing/batch
    * frames — a18's three candidate families with bucket sizing FROZEN
    * from the STANDING count (the a15 discipline). Factored so a24 can
    * run it once per HNSW layer (standing = the layer's standing
    * members, batch = the layer's promoted arrivals) with the same
    * geometry guarantees as the flat form. */
  private[graft] def nswDeltaOutOver(
      s: SparkSession, standing: DataFrame, batch: DataFrame)
      : DataFrame = {
      import org.apache.spark.sql.expressions.Window
      import graft.functions.Portable
      val sizes = standing.agg(count(lit(1)).as("n_corpus"))
      def withSize(df: DataFrame) = df.crossJoin(broadcast(sizes))
      def randB(df: DataFrame): DataFrame =
        withSize(df).withColumn("b",
            pmod(Portable.h60(col("vec_id").cast("string"), "nswr|"),
              greatest(lit(1L),
                floor(col("n_corpus") / lit(NSW_RTARGET.toDouble))
                  .cast("long"))).cast("int"))
          .select("vec_id", "emb", "b")
      // r21b: both sign families from ONE tagged pass per side (the
      // nswEdgesFrom fusion applied to the delta) — identical edges,
      // `fam` prepended to the sample and top-M partition keys
      def signTall(df: DataFrame): DataFrame =
        withSize(df).withColumn("nbits", nswNbitsCol)
          .select(col("vec_id"), col("emb"), explode(array(
            struct(lit("a").as("fam"),
              pmod(nswSignKey("emb", NSW_OFF_A),
                expr("shiftleft(1, nbits)")).cast("int").as("b")),
            struct(lit("b").as("fam"),
              pmod(nswSignKey("emb", NSW_OFF_B),
                expr("shiftleft(1, nbits)")).cast("int").as("b"))))
            .as("fb"))
          .select(col("vec_id"), col("emb"),
            col("fb.fam").as("fam"), col("fb.b").as("b"))
      val wS = Window.partitionBy(col("fam"), col("b"))
        .orderBy(Portable.h60(col("vec_id").cast("string"), "nsws|").asc,
          col("vec_id").asc)
      val sampledStanding = signTall(standing)
        .withColumn("srn", row_number().over(wS))
        .filter(col("srn") <= NSW_CAP)
        .select(col("vec_id").as("dst"), col("emb").as("n_emb"),
          col("fam"), col("b"))
      val w = Window.partitionBy(col("src"), col("fam"))
        .orderBy(col("sim").desc, col("dst").asc)
      val signFams = signTall(batch)
        .select(col("vec_id").as("src"), col("emb").as("a_emb"),
          col("fam"), col("b"))
        .repartition(s.sparkContext.defaultParallelism,
          col("fam"), col("b"))
        .join(sampledStanding, Seq("fam", "b"))
        .select(col("fam"), col("src"), col("dst"),
          round(cosine(s, "a_emb", "n_emb"), 6).as("sim"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= when(col("fam") === "a", NSW_MA)
          .otherwise(NSW_MB))
        .select("src", "dst", "sim")
      val wr = Window.partitionBy(col("src"))
        .orderBy(col("rk").asc, col("dst").asc)
      val randFam = spreadByBucket(s, randB(batch)
        .select(col("vec_id").as("src"), col("emb").as("a_emb"),
          col("b")))
        .join(nswSampled(randB(standing))
          .select(col("vec_id").as("dst"), col("emb").as("n_emb"),
            col("b")), Seq("b"))
        .withColumn("rk", Portable.h60(concat(col("src").cast("string"),
          lit("|"), col("dst").cast("string")), "nsw2|"))
        .withColumn("rn", row_number().over(wr))
        .filter(col("rn") <= NSW_MR)
        .select(col("src"), col("dst"),
          round(cosine(s, "a_emb", "n_emb"), 6).as("sim"))
      signFams.union(randFam).distinct()
  }

  val a18GraphExtend = Q(
    "a18_graph_extend",
    (s, d) => {
      val out = a18DeltaOut(s, d)
      out.withColumn("kind", lit("out"))
        .unionByName(out.select(col("dst").as("src"),
          col("src").as("dst"), col("sim"))
          .withColumn("kind", lit("back")))
    },
    Some(s"""WITH $a18DeltaDuckCtes
      SELECT src, dst, sim, 'out' AS kind FROM outs
      UNION ALL
      SELECT dst AS src, src AS dst, sim, 'back' AS kind FROM outs"""))

  /** a18's delta recurrence (ea/es/eb sizing + the three candidate
    * families, ending in `outs (src, dst, sim)`) as DuckDB CTE text —
    * the shared oracle prefix of a18 (reports the delta) and k8c
    * (appends it into the served index and re-searches). */
  private[graft] def a18DeltaDuckCtes: String =
    s"""ea AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
               sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
                                       CAST(embedding AS DOUBLE[]))) AS nrm
        FROM embeddings),
      ${nswDeltaDuckCtesOver("", "vec_id % 10 <> 0", "vec_id % 10 = 0")}"""

  /** [[nswDeltaOutOver]]'s oracle twin over arbitrary standing/batch
    * member predicates (WHERE bodies against a prior `ea` CTE of
    * (vec_id, emb, nrm) for the whole corpus); CTE names prefixed
    * `pre`, ending in `${pre}outs (src, dst, sim)`. pre = "" keeps
    * a18/k8c's oracle text byte-stable; a24/k8d instantiate it once
    * per layer with level-draw predicates. */
  private[graft] def nswDeltaDuckCtesOver(
      pre: String, standingWhere: String, batchWhere: String): String = {
      def keyDuck(off: Int) = nswSignKeyDuck("emb", off)
      def famCtes(tag: String, off: Int, m: Int) =
        s"""${pre}bs_$tag AS (SELECT vec_id, emb, nrm,
            CAST((${keyDuck(off)}) % (1 << nbits) AS INT) AS b
          FROM ${pre}es CROSS JOIN ${pre}nb),
        ${pre}ss_$tag AS (SELECT vec_id, emb, nrm, b FROM (
            SELECT vec_id, emb, nrm, b,
              row_number() OVER (PARTITION BY b ORDER BY
                ${graft.functions.Portable
          .h60Duck("CAST(vec_id AS VARCHAR)", "nsws|")}, vec_id) AS srn
            FROM ${pre}bs_$tag) t WHERE srn <= $NSW_CAP),
        ${pre}qa_$tag AS (SELECT vec_id, emb, nrm,
            CAST((${keyDuck(off)}) % (1 << nbits) AS INT) AS b
          FROM ${pre}eb CROSS JOIN ${pre}nb),
        ${pre}ef_$tag AS (
          SELECT src, dst, sim FROM (
            SELECT q.vec_id AS src, t.vec_id AS dst,
              round(list_inner_product(q.emb, t.emb)
                / nullif(q.nrm * t.nrm, 0.0), 6) AS sim,
              row_number() OVER (PARTITION BY q.vec_id ORDER BY
                round(list_inner_product(q.emb, t.emb)
                  / nullif(q.nrm * t.nrm, 0.0), 6) DESC,
                t.vec_id ASC) AS rn
            FROM ${pre}qa_$tag q JOIN ${pre}ss_$tag t ON q.b = t.b) x
          WHERE rn <= $m)"""
      s"""${pre}es AS (SELECT * FROM ea WHERE $standingWhere),
      ${pre}eb AS (SELECT * FROM ea WHERE $batchWhere),
      ${pre}nc AS (SELECT count(*) AS n FROM ${pre}es),
      ${pre}nb AS (SELECT ($nswNbitsDuck) AS nbits,
          greatest(1, CAST(floor(n / $NSW_RTARGET.0) AS BIGINT)) AS nb2
        FROM ${pre}nc),
      ${famCtes("a", NSW_OFF_A, NSW_MA)},
      ${famCtes("b", NSW_OFF_B, NSW_MB)},
      ${pre}bs_r AS (SELECT vec_id, emb, nrm,
          CAST(${graft.functions.Portable
        .h60Duck("CAST(vec_id AS VARCHAR)", "nswr|")} % nb2 AS INT) AS b
        FROM ${pre}es CROSS JOIN ${pre}nb),
      ${pre}ss_r AS (SELECT vec_id, emb, nrm, b FROM (
          SELECT vec_id, emb, nrm, b,
            row_number() OVER (PARTITION BY b ORDER BY
              ${graft.functions.Portable
        .h60Duck("CAST(vec_id AS VARCHAR)", "nsws|")}, vec_id) AS srn
          FROM ${pre}bs_r) t WHERE srn <= $NSW_CAP),
      ${pre}qa_r AS (SELECT vec_id, emb, nrm,
          CAST(${graft.functions.Portable
        .h60Duck("CAST(vec_id AS VARCHAR)", "nswr|")} % nb2 AS INT) AS b
        FROM ${pre}eb CROSS JOIN ${pre}nb),
      ${pre}ef_r AS (
        SELECT src, dst, sim FROM (
          SELECT q.vec_id AS src, t.vec_id AS dst,
            round(list_inner_product(q.emb, t.emb)
              / nullif(q.nrm * t.nrm, 0.0), 6) AS sim,
            row_number() OVER (PARTITION BY q.vec_id ORDER BY
              ${graft.functions.Portable.h60Duck(
        "concat(CAST(q.vec_id AS VARCHAR), '|', CAST(t.vec_id AS VARCHAR))",
        "nsw2|")} ASC,
              t.vec_id ASC) AS rn
          FROM ${pre}qa_r q JOIN ${pre}ss_r t ON q.b = t.b) x
        WHERE rn <= $NSW_MR),
      ${pre}outs AS (
        SELECT DISTINCT src, dst, sim FROM (
          SELECT src, dst, sim FROM ${pre}ef_a
          UNION ALL SELECT src, dst, sim FROM ${pre}ef_b
          UNION ALL SELECT src, dst, sim FROM ${pre}ef_r) u)"""
  }

  // ---------------------------------------------------------------------
  // A19: hierarchical layered graph search (HNSW-style) — the log-scale
  // serving shape on top of a17's flat NSW. Three pieces, all
  // deterministic and oracle-replayable:
  //   - LAYERS: geometric promotion off a portable hash — a vector is a
  //     layer-1 member iff h60(vec_id,"lvl|") % PROMOTE == 0, layer-2
  //     iff % PROMOTE² == 0 (HNSW's exponentially-decaying level draw
  //     with the randomness made replayable). Expected layer sizes
  //     N/8, N/64 — at 100 TB the upper layers are a centroid-scale
  //     graph that routes into the base in O(log N) total hops instead
  //     of a17's fixed entry spread.
  //   - EDGES per layer: nswEdgesFrom over the layer's members — the
  //     corpus-scaled bucket sizing reads the LAYER's count, so every
  //     layer keeps ~NSW_TARGET-sized buckets and per-node degree
  //     NSW_DEG whatever its population. Built once, persisted eagerly
  //     (a17's build-once discipline), tagged elvl.
  //   - SEARCH: entries = NSW_ENTRIES h60-spread members of the
  //     HIGHEST populated layer (lvl DESC ordering — at a scale factor
  //     where layer 2 is empty the descent degrades gracefully: a
  //     frontier crossing an empty edge set carries through unchanged).
  //     Each upper layer runs HNSW_UHOPS beam hops at width HNSW_UBEAM
  //     over ITS edges, passes its top-HNSW_DESC down; the base layer
  //     runs HNSW_BHOPS at the full NSW_B and emits a17's
  //     (probe, vec, sim, rank) top-K shape.
  // MAXL=2 is inlined in both engines' level predicates (the CASE and
  // the when-chain must stay literally twins).
  // ---------------------------------------------------------------------
  private[graft] val HNSW_PROMOTE = 8 // 1-in-8 promotion per layer
  private[graft] val HNSW_MAXL = 2 // layers above the base
  private[graft] val HNSW_UHOPS = 2 // beam hops per upper layer
  private[graft] val HNSW_BHOPS = 3 // beam hops at the base layer
  private[graft] val HNSW_UBEAM = 8 // beam width in upper layers
  private[graft] val HNSW_DESC = 4 // survivors carried down a layer

  /** One layer's NSW edge build as DuckDB CTE text: members `me<k>`
    * (lvl ≥ k), layer-sized buckets, the two sign families + random
    * long-range family, ending in `ledges<k>` — the oracle twin of
    * `nswEdgesFrom(el.filter(lvl >= k))`, text structure identical to
    * a17's single-layer oracle. */
  private[graft] def hnswLayerEdgesDuck(
      k: Int, extraWhere: String = ""): String = {
    import graft.functions.Portable.h60Duck
    def sample(src: String, out: String) =
      s"""$out AS (SELECT vec_id, b FROM (
          SELECT vec_id, b, row_number() OVER (PARTITION BY b ORDER BY
            ${h60Duck("CAST(vec_id AS VARCHAR)", "nsws|")}, vec_id) AS srn
          FROM $src) t WHERE srn <= $NSW_CAP)"""
    val sign = Seq(("a", NSW_OFF_A, NSW_MA), ("b", NSW_OFF_B, NSW_MB))
      .map { case (t, off, m) =>
        s"""lb$t$k AS (SELECT vec_id,
            CAST((${nswSignKeyDuck("embedding", off)}) % (1 << nbits)
              AS INT) AS b
          FROM me$k CROSS JOIN nbl$k),
        ${sample(s"lb$t$k", s"ls$t$k")},
        lef$t$k AS (
          SELECT v, n FROM (
            SELECT va.vec_id AS v, vb.vec_id AS n,
              row_number() OVER (PARTITION BY va.vec_id ORDER BY
                round(list_inner_product(ea.emb, eb.emb)
                  / nullif(ea.nrm * eb.nrm, 0.0), 6) DESC,
                vb.vec_id ASC) AS rn
            FROM lb$t$k va JOIN ls$t$k vb ON va.b = vb.b
              AND va.vec_id <> vb.vec_id
            JOIN e ea ON ea.vec_id = va.vec_id
            JOIN e eb ON eb.vec_id = vb.vec_id) t
          WHERE rn <= $m)"""
      }.mkString(",\n      ")
    s"""me$k AS (SELECT em.vec_id, em.embedding FROM embeddings em
          JOIN lv ON lv.vec_id = em.vec_id AND lv.lvl >= $k$extraWhere),
      ncl$k AS (SELECT count(*) AS n FROM me$k),
      nbl$k AS (SELECT ($nswNbitsDuck) AS nbits,
          greatest(1, CAST(floor(n / $NSW_RTARGET.0) AS BIGINT)) AS nb2
        FROM ncl$k),
      $sign,
      lbr$k AS (SELECT vec_id,
          CAST(${h60Duck("CAST(vec_id AS VARCHAR)", "nswr|")} % nb2
            AS INT) AS b
        FROM me$k CROSS JOIN nbl$k),
      ${sample(s"lbr$k", s"lsr$k")},
      lefr$k AS (
        SELECT v, n FROM (
          SELECT va.vec_id AS v, vb.vec_id AS n,
            row_number() OVER (PARTITION BY va.vec_id ORDER BY
              ${h60Duck("concat(CAST(va.vec_id AS VARCHAR), '|', " +
        "CAST(vb.vec_id AS VARCHAR))", "nsw2|")} ASC,
              vb.vec_id ASC) AS rn
          FROM lbr$k va JOIN lsr$k vb ON va.b = vb.b
            AND va.vec_id <> vb.vec_id) t
        WHERE rn <= $NSW_MR),
      ledges$k AS (SELECT v, n FROM lefa$k UNION SELECT v, n FROM lefb$k
        UNION SELECT v, n FROM lefr$k)"""
  }

  /** `hops` beam rounds as DuckDB CTE text (a17's hop shape: expand
    * once off the previous frontier, UNION-dedup — sims are
    * deterministic per pair — prune to `beam`); final frontier lands in
    * `f<tag><hops>`. */
  private def duckBeamCtes(tag: String, start: String, edgesCte: String,
      hops: Int, beam: Int): String =
    (1 to hops).map { j =>
      val prev = if (j == 1) start else s"f$tag${j - 1}"
      s"""n$tag$j AS (
        SELECT f.probe_id, g.n AS vec_id
        FROM $prev f JOIN $edgesCte g ON g.v = f.vec_id),
      c$tag$j AS (
        SELECT probe_id, vec_id, sim FROM $prev
        UNION
        SELECT n.probe_id, n.vec_id,
          round(list_inner_product(e.emb, p.p_emb)
            / nullif(e.nrm * p.p_nrm, 0.0), 6) AS sim
        FROM n$tag$j n JOIN e ON e.vec_id = n.vec_id
        JOIN p ON p.probe_id = n.probe_id),
      f$tag$j AS (
        SELECT probe_id, vec_id, sim FROM (
          SELECT *, row_number() OVER (PARTITION BY probe_id
            ORDER BY sim DESC, vec_id ASC) AS rn FROM c$tag$j) t
        WHERE rn <= $beam)"""
    }.mkString(",\n      ")

  /** a19's build artifact: the union-of-layers NSW edge list
    * (elvl, v, n) — one NSW graph per layer over the lvl ≥ k member
    * slice. Extracted so the k8b sink can WRITE this frame to parquet
    * and serve the descent from the read-back artifact (VERDICT r14
    * #2: the flat a17 edge list round-tripped through k8, but the
    * hierarchical index — the one that matters at 100 TB — was rebuilt
    * on every query). */
  private[graft] def hnswEdgesAll(s: SparkSession, d: String)
      : DataFrame =
    hnswEdgesAllFrom(s, embeddings(s, d)
      .select(col("vec_id"), col("embedding").as("emb")))

  /** The layered build over ANY (vec_id, emb) member frame — k8d sinks
    * the STANDING slice's layers through this, so the served standing
    * index and a24's delta replay size every layer's buckets from the
    * same member counts (the a15 frozen-sizing discipline, per layer). */
  private[graft] def hnswEdgesAllFrom(s: SparkSession, e: DataFrame)
      : DataFrame =
    (0 to HNSW_MAXL).map { k =>
      nswEdgesFrom(s, hnswMembers(e, k)).withColumn("elvl", lit(k))
    }.reduce(_ unionByName _)

  /** a19's hierarchical descent over ANY (elvl, v, n) edge source —
    * entry at the top layer's h60-ranked members, HNSW_UHOPS/UBEAM
    * beam per upper layer narrowing to HNSW_DESC seeds, full
    * NSW_B-beam on layer 0. Shared by a19 (in-memory persisted build) and
    * k8b (parquet round-trip), so both produce identical rows by
    * construction and share one oracle. */
  private[graft] def hnswDescentOver(
      s: SparkSession, d: String, edges: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.Portable
    val e = embeddings(s, d)
      .select(col("vec_id"), col("embedding").as("emb"))
    val lh = Portable.h60(col("vec_id").cast("string"), "lvl|")
    val p1 = HNSW_PROMOTE.toLong
    val lvlCol = when(pmod(lh, lit(p1 * p1)) === 0, 2)
      .when(pmod(lh, lit(p1)) === 0, 1).otherwise(0)
    val el = e.withColumn("lvl", lvlCol)
    def layerEdges(k: Int) =
      edges.filter(col("elvl") === k).select("v", "n")
    val probes = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("probe_id"), col("emb").as("p_emb"))
    val entry = el
      .withColumn("ek",
        Portable.h60(col("vec_id").cast("string"), "nswe|"))
      .orderBy(col("lvl").desc, col("ek").asc, col("vec_id").asc)
      .limit(NSW_ENTRIES)
      .select("vec_id", "emb")
    val f0 = probes.crossJoin(broadcast(entry))
      .select(col("probe_id"), col("vec_id"),
        round(cosine(s, "emb", "p_emb"), 6).as("sim"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("sim").desc, col("vec_id").asc)
    val descended = (HNSW_MAXL to 1 by -1).foldLeft(f0) { (front, k) =>
      beamPhase(s, e, probes, front, layerEdges(k),
        HNSW_UHOPS, HNSW_UBEAM)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= HNSW_DESC)
        .select("probe_id", "vec_id", "sim")
    }
    beamPhase(s, e, probes, descended, layerEdges(0), HNSW_BHOPS,
      NSW_B)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= NSW_K)
      .select(col("probe_id"), col("vec_id"), col("sim"),
        col("rn").cast("long").as("rank"))
  }

  val a19HnswLayers = Q(
    "a19_hnsw_layers",
    (s, d) => {
      // build once, persist eagerly (a17's discipline — a lazy
      // persist races AQE's parallel hop stages)
      val edges = hnswEdgesAll(s, d).persist()
      edges.count()
      hnswDescentOver(s, d, edges)
    },
    Some {
      val layerEdges = (0 to HNSW_MAXL).map(k => hnswLayerEdgesDuck(k))
        .mkString(",\n      ")
      s"""WITH $hnswBaseDuckCtes,
      $layerEdges,
      ${hnswDescentDuckTail(k => s"ledges$k")}"""
    })

  /** The e + lv oracle prefix (full-corpus scored embeddings + the
    * geometric level draw), shared by a19's and k8d's oracles. */
  private[graft] def hnswBaseDuckCtes: String = {
    import graft.functions.Portable.h60Duck
    val lh = h60Duck("CAST(vec_id AS VARCHAR)", "lvl|")
    val p1 = HNSW_PROMOTE.toLong
    s"""e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
               sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
                                       CAST(embedding AS DOUBLE[]))) AS nrm
        FROM embeddings),
      lv AS (SELECT vec_id,
          CASE WHEN $lh % ${p1 * p1} = 0 THEN 2
               WHEN $lh % $p1 = 0 THEN 1 ELSE 0 END AS lvl
        FROM embeddings)"""
  }

  /** a19's oracle tail (probes, lvl-ranked entries, seed frontier,
    * per-layer beam descent, final top-K) over any per-layer edge CTE
    * naming; requires prior `e` and `lv` CTEs. Shared by a19/k8b
    * (built layer edges) and k8d (standing ∪ appended delta edges) —
    * the descent text is IDENTICAL, only the edge relations differ,
    * so a green k8d proves the appended table serves the same search. */
  private[graft] def hnswDescentDuckTail(edgesCte: Int => String)
      : String = {
    import graft.functions.Portable.h60Duck
    val phases = new StringBuilder
    var start = "f0c"
    for (k <- HNSW_MAXL to 1 by -1) {
      phases.append(duckBeamCtes(s"u$k", start, edgesCte(k),
        HNSW_UHOPS, HNSW_UBEAM)).append(",\n      ")
      phases.append(
        s"""g$k AS (SELECT probe_id, vec_id, sim FROM (
          SELECT *, row_number() OVER (PARTITION BY probe_id
            ORDER BY sim DESC, vec_id ASC) AS rn
          FROM fu$k$HNSW_UHOPS) t
        WHERE rn <= $HNSW_DESC)""").append(",\n      ")
      start = s"g$k"
    }
    phases.append(duckBeamCtes("z", start, edgesCte(0), HNSW_BHOPS,
      NSW_B))
    s"""p AS (SELECT vec_id AS probe_id, emb AS p_emb, nrm AS p_nrm
        FROM e WHERE vec_id < 8),
      ent AS (SELECT vec_id FROM lv ORDER BY lvl DESC,
          ${h60Duck("CAST(vec_id AS VARCHAR)", "nswe|")} ASC, vec_id
        LIMIT $NSW_ENTRIES),
      f0c AS (
        SELECT p.probe_id, e.vec_id,
          round(list_inner_product(e.emb, p.p_emb)
            / nullif(e.nrm * p.p_nrm, 0.0), 6) AS sim
        FROM p CROSS JOIN e
        WHERE e.vec_id IN (SELECT vec_id FROM ent)),
      $phases
      SELECT probe_id, vec_id, sim, CAST(rn AS BIGINT) AS rank FROM (
        SELECT *, row_number() OVER (PARTITION BY probe_id
          ORDER BY sim DESC, vec_id ASC) AS rn FROM fz$HNSW_BHOPS) t
      WHERE rn <= $NSW_K"""
  }

  // ---------------------------------------------------------------------
  // A24: hierarchical incremental insertion (VERDICT r16 #1) — a18
  // extends only the FLAT NSW graph; the layered index (a19/k8b, the
  // serving shape that matters at 100 TB) had no arrival path. An
  // arrival draws its level from the SAME portable hash as the standing
  // build (h60(vec_id,"lvl|") geometric promotion — a node's level is a
  // pure function of its id, so the extended index is bit-identical to
  // what a full rebuild would assign it), then for EVERY layer it
  // belongs to (lvl >= k) runs a18's delta recurrence against that
  // layer's STANDING members: top-M cosine per sign-family bucket + MR
  // hash-random long-range picks, bucket sizing FROZEN from the
  // standing layer's count (arrivals must not re-partition the layers
  // they join). Output: per-layer delta edges both directions — the
  // back-edges are what make a promoted arrival REACHABLE to an upper
  // layer's descent. Cost: an arrival appears in layer k with
  // probability 8^-k, so the expected per-arrival work is the flat
  // a18 cost times Σ 8^-k ≈ 1.15 — corpus-size independent, layer
  // membership never scanned beyond the sampled buckets.
  // ---------------------------------------------------------------------

  /** a24's per-layer delta OUT-edges (elvl, src, dst, sim) — split from
    * the query so k8d can append exactly these edges (both directions,
    * per layer) into k8b's layer-partitioned served table. */
  private[graft] def a24DeltaOut(s: SparkSession, d: String): DataFrame = {
    val all0 = embeddings(s, d)
      .select(col("vec_id"), col("embedding").as("emb"))
    val standing = a18Standing(all0)
    val batch = all0.filter(col("vec_id") % 10 === 0)
    (0 to HNSW_MAXL).map { k =>
      nswDeltaOutOver(s, hnswMembers(standing, k), hnswMembers(batch, k))
        .withColumn("elvl", lit(k))
    }.reduce(_ unionByName _)
  }

  /** The per-layer member predicates as DuckDB WHERE bodies (lvl >= k
    * ⟺ h60 % 8^k = 0 — the when-chain's algebraic twin), shared by
    * a24's oracle and k8d's. */
  private def a24LayerWhere(k: Int, standingSide: Boolean): String = {
    val lh = graft.functions.Portable
      .h60Duck("CAST(vec_id AS VARCHAR)", "lvl|")
    val base = if (standingSide) "vec_id % 10 <> 0" else "vec_id % 10 = 0"
    if (k == 0) base
    else s"$base AND $lh % ${Seq.fill(k)(HNSW_PROMOTE.toLong).product} = 0"
  }

  /** The shared `ea` prefix + one delta chain per layer (prefixes l0..),
    * each ending in `l<k>outs` — a24's and k8d's common oracle body. */
  private[graft] def a24DeltaDuckLayers: String = {
    val layers = (0 to HNSW_MAXL).map { k =>
      nswDeltaDuckCtesOver(s"l$k",
        a24LayerWhere(k, standingSide = true),
        a24LayerWhere(k, standingSide = false))
    }.mkString(",\n      ")
    s"""ea AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
               sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
                                       CAST(embedding AS DOUBLE[]))) AS nrm
        FROM embeddings),
      $layers"""
  }

  val a24HnswExtend = Q(
    "a24_hnsw_extend",
    (s, d) => {
      val out = a24DeltaOut(s, d)
      out.withColumn("kind", lit("out"))
        .unionByName(out.select(col("dst").as("src"),
          col("src").as("dst"), col("sim"), col("elvl"))
          .withColumn("kind", lit("back")))
    },
    Some {
      val sel = (0 to HNSW_MAXL).map { k =>
        s"""SELECT src, dst, sim, $k AS elvl, 'out' AS kind
          FROM l${k}outs
        UNION ALL
        SELECT dst AS src, src AS dst, sim, $k AS elvl, 'back' AS kind
          FROM l${k}outs"""
      }.mkString("\n      UNION ALL\n      ")
      s"""WITH $a24DeltaDuckLayers
      $sel"""
    })

  // ---------------------------------------------------------------------
  // A20: filtered ANN — top-k under a metadata predicate (here: the
  // probe's own label, the "nearest neighbors within my category"
  // retrieval every production vector store serves). BOTH standard
  // strategies in one report, so the result itself exposes the classic
  // filtered-search trade-off instead of hiding it:
  //   - 'prefilter': restrict the corpus to the predicate FIRST, then
  //     an exact broadcast-probe pass — the right plan when the
  //     predicate is selective (the label equi-join keys the broadcast
  //     hash join; at 100 TB this is a partition-pruned scan of the
  //     label's slice, cost O(|label slice|) per probe set).
  //   - 'ivf_postfilter': route the probe to its trained coarse cell
  //     (a7b's index) and apply the predicate to the CELL's members —
  //     cost O(|corpus|/nlist) whatever the predicate, but a probe
  //     whose label is rare in its cell returns FEWER than k rows.
  //     That shortfall is visible in the output (missing ranks), not
  //     silently padded — the d13 no-silent-degradation discipline:
  //     the row deficit is exactly the signal that decides when to
  //     fall back to prefilter or raise nprobe.
  // ---------------------------------------------------------------------
  /** a20's two strategies as one (probe_id, vec_id, sim, strategy)
    * frame — the ONE definition, shared with a25's three-strategy
    * report so the pre/post baselines cannot drift between the two. */
  private[graft] def filteredAnnStrategies(
      s: SparkSession, d: String): DataFrame = {
      val el = embeddings(s, d)
        .select(col("vec_id"), col("embedding").as("emb"), col("label"))
      val cellsOf = kmeansAssign(s, d).select("vec_id", "cell")
        .join(el, Seq("vec_id"))
      val probes = cellsOf.filter(col("vec_id") < 8)
        .select(col("vec_id").as("probe_id"), col("cell").as("p_cell"),
          col("emb").as("p_emb"), col("label").as("p_label"))
      val pre = el
        .join(broadcast(probes), col("label") === col("p_label") &&
          col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("vec_id"),
          round(cosine(s, "emb", "p_emb"), 6).as("sim"))
        .withColumn("strategy", lit("prefilter"))
      val post = cellsOf
        .join(broadcast(probes), col("cell") === col("p_cell") &&
          col("label") === col("p_label") &&
          col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("vec_id"),
          round(cosine(s, "emb", "p_emb"), 6).as("sim"))
        .withColumn("strategy", lit("ivf_postfilter"))
      pre.unionByName(post)
  }

  /** The shared top-5-per-(probe, strategy) report edge of a20/a25. */
  private[graft] def filteredTop5(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("probe_id"), col("strategy"))
      .orderBy(col("sim").desc, col("vec_id").asc)
    df.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("probe_id"), col("strategy"), col("vec_id"),
        col("sim"), col("rn").cast("long").as("rank"))
  }

  /** a20's oracle CTE chain (kmeans cells, labels, probes, the two
    * strategies, their union `u`) — shared prefix of a20 and a25. */
  private[graft] def filteredAnnDuckCtes: String = s"""$KMEANS_CTES,
      lab AS (SELECT vec_id, label FROM embeddings),
      cells AS (
        SELECT e.vec_id, a2.cell, e.emb, e.nrm, l.label
        FROM e JOIN a2 ON e.vec_id = a2.vec_id
        JOIN lab l ON l.vec_id = e.vec_id),
      p AS (
        SELECT vec_id AS probe_id, cell AS p_cell, emb AS p_emb,
               nrm AS p_nrm, label AS p_label
        FROM cells WHERE vec_id < 8),
      pre AS (
        SELECT p.probe_id, c.vec_id,
          round(list_inner_product(c.emb, p.p_emb)
            / nullif(c.nrm * p.p_nrm, 0.0), 6) AS sim,
          'prefilter' AS strategy
        FROM cells c JOIN p ON c.label = p.p_label
          AND c.vec_id <> p.probe_id),
      post AS (
        SELECT p.probe_id, c.vec_id,
          round(list_inner_product(c.emb, p.p_emb)
            / nullif(c.nrm * p.p_nrm, 0.0), 6) AS sim,
          'ivf_postfilter' AS strategy
        FROM cells c JOIN p ON c.cell = p.p_cell
          AND c.label = p.p_label AND c.vec_id <> p.probe_id),
      u AS (SELECT * FROM pre UNION ALL SELECT * FROM post)"""

  private val filteredDuckReport: String =
    """SELECT probe_id, strategy, vec_id, sim,
        CAST(rn AS BIGINT) AS rank
      FROM (SELECT *, row_number() OVER (
          PARTITION BY probe_id, strategy
          ORDER BY sim DESC, vec_id ASC) AS rn FROM %s) t
      WHERE rn <= 5"""

  val a20FilteredAnn = Q(
    "a20_filtered_ann",
    (s, d) => filteredTop5(filteredAnnStrategies(s, d)),
    Some(s"""$filteredAnnDuckCtes
      ${filteredDuckReport.format("u")}"""))

  // ---------------------------------------------------------------------
  // A25: filtered GRAPH search (VERDICT r16 #2) — the production third
  // strategy next to a20's two: a predicate-aware beam over a17's NSW
  // graph that TRAVERSES through non-matching nodes (the frontier
  // evolves exactly like the unfiltered a17 beam — filtering the
  // frontier would disconnect the walk, the classic filtered-HNSW
  // failure) but COLLECTS only matching ones: every candidate the beam
  // ever scored is kept, filtered to the probe's label, top-5. One
  // three-strategy report (prefilter / ivf_postfilter / graph_beam)
  // with per-strategy shortfalls visible as missing ranks — the beam's
  // matched-k can trail prefilter's (it only sees what the walk
  // visited) while beating postfilter's cell-bound recall; WHERE each
  // lands decides the serving strategy, and the report IS that
  // decision input. Cost: the beam touches O(entries + hops·beam·deg)
  // nodes per probe regardless of predicate selectivity — the property
  // that makes it the right strategy when the label slice is too big
  // to prefilter and too scattered for one cell.
  // ---------------------------------------------------------------------

  /** Every candidate a17's beam ever SCORES (probe_id, vec_id, sim),
    * frontier evolution identical to [[beamPhase]] — per hop, ONE
    * deduped scored candidate set ([[beamCands]], the oracle's c<k>)
    * feeds both the next frontier (top-beam window) and the visited
    * union. Each cands frame is referenced twice, so the inlined tree
    * grows QUADRATICALLY in hops (~h²/2 hop subtrees at h=5), not
    * 2^hops: each reference reaches the previous hop only through the
    * pruned frontier (one reference per hop), and every copy of a
    * hop's exchange subtree canonicalizes identically, so AQE
    * materializes each hop's shuffle once and reuses it — no snap, one
    * query. */
  private[graft] def nswBeamVisited(
      s: SparkSession, e: DataFrame, probes: DataFrame,
      f0: DataFrame, edges: DataFrame, hops: Int, beam: Int)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("sim").desc, col("vec_id").asc)
    val edgesPlus = withSelfLoops(e, edges)
    var frontier = f0
    var visited = f0
    for (_ <- 1 to hops) {
      val cands = beamCands(s, e, probes, frontier, edgesPlus)
      frontier = cands.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= beam)
        .select("probe_id", "vec_id", "sim")
      visited = visited.unionByName(cands)
    }
    visited.groupBy(col("probe_id"), col("vec_id"))
      .agg(max(col("sim")).as("sim"))
  }

  /** The visited-collecting beam as DuckDB CTE text over any (v, n)
    * edge relation, ending in `visited (probe_id, vec_id, sim)` —
    * [[nswBeamVisited]]'s oracle twin (hop shape identical to
    * nswSearchDuck; the c<k> union-dedup IS the per-hop visited set,
    * so `visited` is just the union of every c<k>). CTE names carry a
    * v-prefix (vp, vent, vf/vn/vc) to avoid a20's `p`. Requires a
    * prior `e` CTE. */
  private[graft] def nswVisitedDuck(edgesRel: String): String = {
    val hops = (1 to NSW_HOPS).map { k =>
      s"""vn$k AS (
        SELECT f.probe_id, g.n AS vec_id
        FROM vf${k - 1} f JOIN $edgesRel g ON g.v = f.vec_id),
      vc$k AS (
        SELECT probe_id, vec_id, sim FROM vf${k - 1}
        UNION
        SELECT n.probe_id, n.vec_id,
          round(list_inner_product(e.emb, vp.p_emb)
            / nullif(e.nrm * vp.p_nrm, 0.0), 6) AS sim
        FROM vn$k n JOIN e ON e.vec_id = n.vec_id
        JOIN vp ON vp.probe_id = n.probe_id),
      vf$k AS (
        SELECT probe_id, vec_id, sim FROM (
          SELECT *, row_number() OVER (PARTITION BY probe_id
            ORDER BY sim DESC, vec_id ASC) AS rn FROM vc$k) t
        WHERE rn <= $NSW_B)"""
    }.mkString(",\n      ")
    val unioned = (1 to NSW_HOPS)
      .map(k => s"SELECT probe_id, vec_id, sim FROM vc$k")
      .mkString("\n        UNION\n        ")
    s"""vp AS (
        SELECT vec_id AS probe_id, emb AS p_emb, nrm AS p_nrm
        FROM e WHERE vec_id < 8),
      vent AS (SELECT vec_id FROM embeddings ORDER BY
          ${graft.functions.Portable
      .h60Duck("CAST(vec_id AS VARCHAR)", "nswe|")}, vec_id
        LIMIT $NSW_ENTRIES),
      vf0 AS (
        SELECT vp.probe_id, e.vec_id,
          round(list_inner_product(e.emb, vp.p_emb)
            / nullif(e.nrm * vp.p_nrm, 0.0), 6) AS sim
        FROM vp CROSS JOIN e
        WHERE e.vec_id IN (SELECT vec_id FROM vent)),
      $hops,
      visited AS (
        $unioned)"""
  }

  val a25FilteredNsw = Q(
    "a25_filtered_nsw",
    (s, d) => {
      val e = embeddings(s, d)
        .select(col("vec_id"), col("embedding").as("emb"))
      val labels = embeddings(s, d).select(col("vec_id"), col("label"))
      val probes = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("probe_id"), col("emb").as("p_emb"))
      val pLabels = labels.filter(col("vec_id") < 8)
        .select(col("vec_id").as("probe_id"),
          col("label").as("p_label"))
      // a17's graph, built eagerly by this query (a17's discipline)
      val edges = nswEdges(s, d).persist()
      edges.count()
      val entry = e
        .withColumn("ek", graft.functions.Portable
          .h60(col("vec_id").cast("string"), "nswe|"))
        .orderBy(col("ek").asc, col("vec_id").asc)
        .limit(NSW_ENTRIES)
        .select("vec_id", "emb")
      val f0 = probes.crossJoin(broadcast(entry))
        .select(col("probe_id"), col("vec_id"),
          round(cosine(s, "emb", "p_emb"), 6).as("sim"))
      val gb = nswBeamVisited(s, e, probes, f0, edges, NSW_HOPS, NSW_B)
        .join(labels, Seq("vec_id"))
        .join(broadcast(pLabels), Seq("probe_id"))
        .filter(col("label") === col("p_label") &&
          col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("vec_id"), col("sim"))
        .withColumn("strategy", lit("graph_beam"))
      filteredTop5(filteredAnnStrategies(s, d).unionByName(gb))
    },
    Some(s"""$filteredAnnDuckCtes,
      ${nswBuildDuck("", "embeddings")},
      ${nswVisitedDuck("edges")},
      gb AS (
        SELECT v.probe_id, v.vec_id, v.sim, 'graph_beam' AS strategy
        FROM visited v
        JOIN lab l ON l.vec_id = v.vec_id
        JOIN p ON p.probe_id = v.probe_id
        WHERE l.label = p.p_label AND v.vec_id <> v.probe_id),
      uall AS (SELECT * FROM u UNION ALL SELECT * FROM gb)
      ${filteredDuckReport.format("uall")}"""))

  // ---------------------------------------------------------------------
  // A21: the nprobe tuning sweep — multi-cell IVF routing plus the
  // recall-vs-cost curve that decides the dial. a7b/a14 route each
  // probe to its ONE best cell; production IVF serves with nprobe > 1
  // (search the top-P cells) and tunes P from exactly this report:
  // per (nprobe ∈ {1,2,4}, probe), the candidate count (the cost axis:
  // ~nprobe·|corpus|/nlist) and recall@5 against exact brute-force
  // truth (the quality axis). This also closes a20's "raise nprobe"
  // arrow: the shortfall report says WHEN, this curve says TO WHAT.
  // All small sides broadcast (centroids, probe routing, probe set);
  // the corpus is touched once per nprobe tier through its cell index
  // and once for the exact truth (the a5/a11 self-eval shape — at
  // 100 TB the truth pass runs on a sampled probe set, as a11 notes).
  // ---------------------------------------------------------------------
  private[graft] val NPROBES = Seq(1, 2, 4)
  val a21NprobeSweep = Q(
    "a21_nprobe_sweep",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      import s.implicits._
      val e = embeddings(s, d)
        .select(col("vec_id"), col("embedding").as("emb"))
      val cellsOf = kmeansAssign(s, d).select("vec_id", "cell")
        .join(e, Seq("vec_id"))
      val cents = kmeansTrainedCentroids(s, e)
      val probes = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("probe_id"), col("emb").as("p_emb"))
      val wc = Window.partitionBy(col("probe_id"))
        .orderBy(col("csim").desc, col("cid").asc)
      val ranked = probes.crossJoin(broadcast(cents))
        .select(col("probe_id"), col("cid"),
          round(cosine(s, "p_emb", "c_emb"), 6).as("csim"))
        .withColumn("rc", row_number().over(wc))
      val route = ranked
        .join(broadcast(NPROBES.toDF("nprobe")),
          col("rc") <= col("nprobe"))
        .select(col("nprobe"), col("probe_id"), col("cid"))
      val cand = cellsOf
        .join(broadcast(route), col("cell") === col("cid"))
        .filter(col("vec_id") =!= col("probe_id"))
        .join(broadcast(probes), Seq("probe_id"))
        .select(col("nprobe"), col("probe_id"), col("vec_id"),
          round(cosine(s, "emb", "p_emb"), 6).as("sim"))
      val wt = Window.partitionBy(col("nprobe"), col("probe_id"))
        .orderBy(col("sim").desc, col("vec_id").asc)
      val top = cand.withColumn("rn", row_number().over(wt))
        .filter(col("rn") <= 5)
        .select("nprobe", "probe_id", "vec_id")
      val nCand = cand.groupBy(col("nprobe"), col("probe_id"))
        .agg(count(lit(1)).as("n_candidates"))
      val wx = Window.partitionBy(col("probe_id"))
        .orderBy(col("sim").desc, col("vec_id").asc)
      val truth = e.crossJoin(broadcast(probes))
        .filter(col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("vec_id"),
          round(cosine(s, "emb", "p_emb"), 6).as("sim"))
        .withColumn("rn", row_number().over(wx))
        .filter(col("rn") <= 5)
        .select(col("probe_id"), col("vec_id"), lit(1).as("hit"))
      top.join(truth, Seq("probe_id", "vec_id"), "left")
        .groupBy(col("nprobe"), col("probe_id"))
        .agg(count(col("hit")).as("n_hits"))
        .join(nCand, Seq("nprobe", "probe_id"))
        .select(col("nprobe"), col("probe_id"), col("n_candidates"),
          col("n_hits"),
          round(col("n_hits") / lit(5.0), 6).as("recall"))
    },
    Some(s"""$KMEANS_CTES,
      sw_cells AS (
        SELECT e.vec_id, a2.cell, e.emb, e.nrm
        FROM e JOIN a2 ON e.vec_id = a2.vec_id),
      sw_p AS (
        SELECT vec_id AS probe_id, emb AS p_emb, nrm AS p_nrm
        FROM e WHERE vec_id < 8),
      sw_cn AS (
        SELECT cid, c_emb,
          sqrt(list_inner_product(c_emb, c_emb)) AS c_nrm
        FROM c1),
      sw_pr AS (
        SELECT probe_id, cid, row_number() OVER (PARTITION BY probe_id
            ORDER BY csim DESC, cid ASC) AS rc
        FROM (SELECT p.probe_id, c.cid,
            round(list_inner_product(c.c_emb, p.p_emb)
              / nullif(c.c_nrm * p.p_nrm, 0.0), 6) AS csim
          FROM sw_p p CROSS JOIN sw_cn c) t),
      sw_np AS (SELECT CAST(unnest([${NPROBES.mkString(", ")}]) AS INT)
        AS nprobe),
      sw_route AS (
        SELECT np.nprobe, pr.probe_id, pr.cid
        FROM sw_pr pr CROSS JOIN sw_np np WHERE pr.rc <= np.nprobe),
      sw_cand AS (
        SELECT r.nprobe, r.probe_id, c.vec_id,
          round(list_inner_product(c.emb, p.p_emb)
            / nullif(c.nrm * p.p_nrm, 0.0), 6) AS sim
        FROM sw_route r JOIN sw_cells c ON c.cell = r.cid
        JOIN sw_p p ON p.probe_id = r.probe_id
        WHERE c.vec_id <> r.probe_id),
      sw_top AS (
        SELECT nprobe, probe_id, vec_id FROM (
          SELECT *, row_number() OVER (PARTITION BY nprobe, probe_id
            ORDER BY sim DESC, vec_id ASC) AS rn FROM sw_cand) t
        WHERE rn <= 5),
      sw_nc AS (
        SELECT nprobe, probe_id, CAST(count(*) AS BIGINT)
          AS n_candidates
        FROM sw_cand GROUP BY nprobe, probe_id),
      sw_truth AS (
        SELECT probe_id, vec_id FROM (
          SELECT p.probe_id, e.vec_id,
            row_number() OVER (PARTITION BY p.probe_id ORDER BY
              round(list_inner_product(e.emb, p.p_emb)
                / nullif(e.nrm * p.p_nrm, 0.0), 6) DESC,
              e.vec_id ASC) AS rn
          FROM sw_p p CROSS JOIN e WHERE e.vec_id <> p.probe_id) t
        WHERE rn <= 5),
      sw_hits AS (
        SELECT t.nprobe, t.probe_id,
          CAST(count(tr.vec_id) AS BIGINT) AS n_hits
        FROM sw_top t LEFT JOIN sw_truth tr
          ON tr.probe_id = t.probe_id AND tr.vec_id = t.vec_id
        GROUP BY t.nprobe, t.probe_id)
      SELECT h.nprobe, h.probe_id, n.n_candidates, h.n_hits,
        round(CAST(h.n_hits AS DOUBLE) / 5, 6) AS recall
      FROM sw_hits h JOIN sw_nc n
        ON n.nprobe = h.nprobe AND n.probe_id = h.probe_id"""))

  // ---------------------------------------------------------------------
  // A22: RANGE (radius) similarity search — "every vector within
  // cosine >= tau of the probe", the other half of the ANN surface:
  // top-k answers "the best k no matter how far", range answers "all
  // the close ones no matter how many" (dedup sweeps, near-duplicate
  // audits, abuse-cluster expansion all want the radius form). tau
  // reuses d4's 0.3 near-dup threshold on the same rounded-to-6
  // similarities, so the boundary set is engine-exact.
  //
  // Both strategies run, a20-style, with the shortfall driver-visible
  // per probe: the EXACT pass (broadcast probes x one corpus scan —
  // no shuffle, the right shape while |probes| stays small) and the
  // BANDED pass (d4's capped multi-table LSH buckets generate
  // candidates, exact cosine rescored — the 100 TB shape where even
  // one full scan per probe batch is too much). n_exact - n_band is
  // the recall the banding gives up; at production scale you alert on
  // it next to d13's saturation rows (same band tables, same caps).
  // ---------------------------------------------------------------------
  private[graft] val RANGE_TAU = 0.3

  /** a22 searches d12b's tau-sized band geometry (4 sign bits x 8
    * tables — radius search at tau ~0.3 needs ~0.6^4 per-table
    * collision; d4's 8-bit near-dup bands read ~1.6% here) but under
    * its own cap POLICY: over-cap buckets are SAMPLED to this size,
    * not dropped. A radius query's bucket population grows linearly
    * with the corpus (unlike near-dup bands, where a hot bucket means
    * degenerate data), so d12b's drop-at-1024 would zero recall
    * exactly when the corpus gets big — the a17 lesson. Sampling
    * bounds per-probe work at 8 tables x 64 candidates while recall
    * degrades smoothly, and d13's a22_band row reports the sampled
    * volume next to d12b_banded's drop accounting of the same table. */
  private[graft] val A22_CAP = 64

  /** Deterministic per-bucket sample (hash order, the nswSampled
    * pattern) — the corpus-side neighbor pool a22 searches. */
  private def a22Sampled(bands: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("tbl"), col("bkey"))
      .orderBy(graft.functions.Portable
        .h60(col("vec_id").cast("string"), "a22s|").asc,
        col("vec_id").asc)
    bands.withColumn("srn", row_number().over(w))
      .filter(col("srn") <= A22_CAP).drop("srn")
  }

  val a22RangeSearch = Q(
    "a22_range_search",
    (s, d) => {
      val e = embeddings(s, d)
        .select(col("vec_id"), col("embedding").as("emb"))
      val probes = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("probe_id"), col("emb").as("p_emb"))
      val exact = e.crossJoin(broadcast(probes))
        .filter(col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("vec_id"),
          round(cosine(s, "emb", "p_emb"), 6).as("sim"))
        .filter(col("sim") >= RANGE_TAU)
      val kept = a22Sampled(d12BandsOf(e))
      val pBands = d12BandsOf(
        probes.select(col("probe_id").as("vec_id"),
          col("p_emb").as("emb")))
        .select(col("vec_id").as("probe_id"), col("tbl"), col("bkey"))
      val band = kept
        .join(broadcast(pBands), Seq("tbl", "bkey"))
        .filter(col("vec_id") =!= col("probe_id"))
        .select("probe_id", "vec_id").distinct()
        .join(e, Seq("vec_id"))
        .join(broadcast(probes), Seq("probe_id"))
        .select(col("probe_id"), col("vec_id"),
          round(cosine(s, "emb", "p_emb"), 6).as("sim"))
        .filter(col("sim") >= RANGE_TAU)
      val ex = exact.groupBy(col("probe_id"))
        .agg(count(lit(1)).as("ne"), max(col("sim")).as("max_sim"))
      val bd = band.groupBy(col("probe_id"))
        .agg(count(lit(1)).as("nb"))
      probes.select(col("probe_id"))
        .join(ex, Seq("probe_id"), "left")
        .join(bd, Seq("probe_id"), "left")
        .select(col("probe_id"),
          coalesce(col("ne"), lit(0L)).as("n_exact"),
          coalesce(col("nb"), lit(0L)).as("n_band"),
          (coalesce(col("ne"), lit(0L)) - coalesce(col("nb"), lit(0L)))
            .as("missed"),
          col("max_sim"))
    },
    Some(s"""WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
               sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
                                       CAST(embedding AS DOUBLE[]))) AS nrm
        FROM embeddings),
      p AS (SELECT vec_id AS probe_id, emb AS p_emb, nrm AS p_nrm
            FROM e WHERE vec_id < 8),
      exf AS (
        SELECT * FROM (
          SELECT probe_id, vec_id,
            round(list_inner_product(emb, p_emb)
              / nullif(nrm * p_nrm, 0.0), 6) AS sim
          FROM e CROSS JOIN p
          WHERE vec_id <> probe_id) t
        WHERE sim >= $RANGE_TAU),
      bands AS ($d12BandsDuckSelects),
      kept AS (
        SELECT vec_id, tbl, bkey FROM (
          SELECT vec_id, tbl, bkey, row_number() OVER (
            PARTITION BY tbl, bkey
            ORDER BY ${graft.functions.Portable
              .h60Duck("CAST(vec_id AS VARCHAR)", "a22s|")} ASC,
              vec_id ASC) AS srn
          FROM bands) t
        WHERE srn <= $A22_CAP),
      pb AS (SELECT vec_id AS probe_id, tbl, bkey FROM bands
             WHERE vec_id < 8),
      cand AS (
        SELECT DISTINCT k.vec_id, pb.probe_id
        FROM kept k JOIN pb
          ON pb.tbl = k.tbl AND pb.bkey = k.bkey
            AND k.vec_id <> pb.probe_id),
      bf AS (
        SELECT * FROM (
          SELECT c.probe_id, c.vec_id,
            round(list_inner_product(a.emb, p.p_emb)
              / nullif(a.nrm * p.p_nrm, 0.0), 6) AS sim
          FROM cand c
          JOIN e a ON a.vec_id = c.vec_id
          JOIN p ON p.probe_id = c.probe_id) t
        WHERE sim >= $RANGE_TAU),
      ex AS (
        SELECT probe_id, CAST(count(*) AS BIGINT) AS ne,
          max(sim) AS max_sim
        FROM exf GROUP BY probe_id),
      bd AS (
        SELECT probe_id, CAST(count(*) AS BIGINT) AS nb
        FROM bf GROUP BY probe_id)
      SELECT p.probe_id,
        CAST(coalesce(ex.ne, 0) AS BIGINT) AS n_exact,
        CAST(coalesce(bd.nb, 0) AS BIGINT) AS n_band,
        CAST(coalesce(ex.ne, 0) - coalesce(bd.nb, 0) AS BIGINT)
          AS missed,
        ex.max_sim
      FROM p
      LEFT JOIN ex ON ex.probe_id = p.probe_id
      LEFT JOIN bd ON bd.probe_id = p.probe_id"""))

  // ---------------------------------------------------------------------
  // A23: MMR (maximal-marginal-relevance) diversified re-ranking — the
  // retrieval-for-training-data selection shape: pure relevance top-k
  // returns k near-duplicates of each other; MMR greedily picks
  //   argmax_d  lambda*sim(q,d) - (1-lambda)*max_{s in S} sim(d,s)
  // so each pick is relevant AND far from what's already selected.
  //
  // Integer-exact across engines (the g1 discipline): similarities are
  // micro-scaled BIGINTs (round(cos*1e6)) and lambda=0.7 becomes the
  // integer pair (7, 3) — scores are 7*sq - 3*ms with no float math, so
  // rank boundaries cannot drift between Spark and DuckDB.
  //
  // Scale: the only corpus-sized work is pool extraction — the a5
  // broadcast-probe shape, ONE corpus scan, per-probe top-POOL window.
  // The greedy loop then runs over the pooled frame: O(|probes|*POOL^2)
  // rows INDEPENDENT of corpus size, each round two hash-aggs over that
  // bounded frame. The picks frame feeds two consumers per round (the
  // max-sim join and the union) — localCheckpoint per round, or the
  // inlined plan doubles per iteration (the d8/a17 listener trap).
  // ---------------------------------------------------------------------
  private val MMR_POOL = 12
  private val MMR_K = 5

  /** round(cos*1e6) as BIGINT — the micro-scaled similarity both MMR
    * engines rank on (private[graft]: the streaming miner scores
    * arrivals on the identical kernel/scaling). */
  private[graft] def microCos(s: SparkSession, a: String, b: String): Column =
    expr(s"CAST(round((${cosineSql(s, a, b)}) * 1000000) AS BIGINT)")

  val a23MmrRerank = Q(
    "a23_mmr_rerank",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val e = embeddings(s, d)
        .select(col("vec_id"), col("embedding").as("emb"))
      val probes = e.filter(col("vec_id") < 6)
        .select(col("vec_id").as("probe_id"), col("emb").as("p_emb"))
      val simq = e.crossJoin(broadcast(probes))
        .filter(col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("vec_id"),
          microCos(s, "emb", "p_emb").as("sq"))
      val wp = Window.partitionBy(col("probe_id"))
        .orderBy(col("sq").desc, col("vec_id").asc)
      val pool = simq.withColumn("rn", row_number().over(wp))
        .filter(col("rn") <= MMR_POOL).drop("rn")
        .snap()
      val poolV = pool.join(e, Seq("vec_id"))
      val pairs = poolV
        .select(col("probe_id"), col("vec_id").as("va"),
          col("emb").as("ea"))
        .join(poolV.select(col("probe_id"), col("vec_id").as("vb"),
          col("emb").as("eb")), Seq("probe_id"))
        .filter(col("va") =!= col("vb"))
        .select(col("probe_id"), col("va"), col("vb"),
          microCos(s, "ea", "eb").as("pu"))
        .snap()
      val w1 = Window.partitionBy(col("probe_id"))
        .orderBy(col("score").desc, col("vec_id").asc)
      var picks = pool
        .select(col("probe_id"), col("vec_id"),
          (col("sq") * lit(7L)).as("score"))
        .withColumn("rn", row_number().over(w1))
        .filter(col("rn") === 1)
        .select(col("probe_id"), col("vec_id"), col("score"),
          lit(1L).as("pick"))
        .snap()
      for (r <- 2 to MMR_K) {
        val selIds = picks.select(col("probe_id"), col("vec_id"))
        val ms = pairs
          .join(selIds.select(col("probe_id"), col("vec_id").as("vb")),
            Seq("probe_id", "vb"))
          .groupBy(col("probe_id"), col("va"))
          .agg(max(col("pu")).as("ms"))
        val next = pool
          .join(selIds, Seq("probe_id", "vec_id"), "left_anti")
          .join(ms.select(col("probe_id"), col("va").as("vec_id"),
            col("ms")), Seq("probe_id", "vec_id"), "left")
          .select(col("probe_id"), col("vec_id"),
            (col("sq") * lit(7L) -
              coalesce(col("ms"), lit(0L)) * lit(3L)).as("score"))
          .withColumn("rn", row_number().over(w1))
          .filter(col("rn") === 1)
          .select(col("probe_id"), col("vec_id"), col("score"),
            lit(r.toLong).as("pick"))
        picks = picks.unionByName(next).snap()
      }
      picks.select(col("probe_id"), col("pick"), col("vec_id"),
        col("score").as("mmr_u"))
    },
    Some {
      val rounds = (2 to MMR_K).map { r =>
        s"""ms$r AS (
        SELECT pr.probe_id, pr.va AS vec_id, max(pr.pu) AS ms
        FROM pr JOIN sel${r - 1} s
          ON s.probe_id = pr.probe_id AND s.vec_id = pr.vb
        GROUP BY pr.probe_id, pr.va),
      s$r AS (
        SELECT probe_id, vec_id, score, CAST($r AS BIGINT) AS pick
        FROM (
          SELECT c.*, row_number() OVER (PARTITION BY probe_id
            ORDER BY score DESC, vec_id ASC) AS rn
          FROM (
            SELECT pl.probe_id, pl.vec_id,
              7 * pl.sq - 3 * coalesce(m.ms, 0) AS score
            FROM pool pl
            LEFT JOIN ms$r m
              ON m.probe_id = pl.probe_id AND m.vec_id = pl.vec_id
            WHERE NOT EXISTS (SELECT 1 FROM sel${r - 1} s
              WHERE s.probe_id = pl.probe_id
                AND s.vec_id = pl.vec_id)) c) t
        WHERE rn = 1),
      sel$r AS (SELECT probe_id, vec_id FROM sel${r - 1}
        UNION ALL SELECT probe_id, vec_id FROM s$r)"""
      }.mkString(",\n      ")
      val unionAll = (1 to MMR_K).map(r => s"SELECT * FROM s$r")
        .mkString(" UNION ALL ")
      s"""WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
               sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
                                       CAST(embedding AS DOUBLE[]))) AS nrm
        FROM embeddings),
      p AS (SELECT vec_id AS probe_id, emb AS p_emb, nrm AS p_nrm
            FROM e WHERE vec_id < 6),
      simq AS (
        SELECT probe_id, vec_id,
          CAST(round(list_inner_product(emb, p_emb)
            / nullif(nrm * p_nrm, 0.0) * 1000000) AS BIGINT) AS sq
        FROM e CROSS JOIN p WHERE vec_id <> probe_id),
      pool AS (
        SELECT probe_id, vec_id, sq FROM (
          SELECT *, row_number() OVER (PARTITION BY probe_id
            ORDER BY sq DESC, vec_id ASC) AS rn FROM simq) t
        WHERE rn <= $MMR_POOL),
      pr AS (
        SELECT a.probe_id, a.vec_id AS va, b.vec_id AS vb,
          CAST(round(list_inner_product(ea.emb, eb.emb)
            / nullif(ea.nrm * eb.nrm, 0.0) * 1000000) AS BIGINT) AS pu
        FROM pool a
        JOIN pool b ON b.probe_id = a.probe_id AND b.vec_id <> a.vec_id
        JOIN e ea ON ea.vec_id = a.vec_id
        JOIN e eb ON eb.vec_id = b.vec_id),
      s1 AS (
        SELECT probe_id, vec_id, score, CAST(1 AS BIGINT) AS pick
        FROM (
          SELECT probe_id, vec_id, 7 * sq AS score, row_number() OVER (
            PARTITION BY probe_id ORDER BY 7 * sq DESC, vec_id ASC)
            AS rn
          FROM pool) t
        WHERE rn = 1),
      sel1 AS (SELECT probe_id, vec_id FROM s1),
      $rounds
      SELECT probe_id, pick, vec_id, CAST(score AS BIGINT) AS mmr_u
      FROM ($unionAll) u"""
    })

  // ---------------------------------------------------------------------
  // A26: hybrid retrieval with reciprocal-rank fusion — the production
  // RAG serving shape no single-arm operator covers: a dense candidate
  // list (a5's brute cosine, the exact arm a7/a14 approximate) and a
  // sparse candidate list (t18's BM25, the probe DOC's own top terms as
  // the query — "more like this" retrieval) fused by RRF
  // (Cormack/Clarke/Buettcher 2009: score = Σ 1/(C + rank), C = 60),
  // which needs no score calibration between arms — exactly why
  // production stores (Elastic, Vespa, OpenSearch) ship it as the
  // default hybrid combiner. Output keeps BOTH per-arm ranks next to
  // the fused rank, so "which arm surfaced this hit" is driver-visible
  // per row (a doc null on one arm was found by the other alone).
  //
  // Shape at scale: the probe set broadcasts everywhere; the dense arm
  // is ONE corpus scan (a5's shape); the sparse arm tokenizes the
  // corpus once into tf/dl, derives ≤ PROBES·QTERMS query terms, and
  // df is computed ONLY for those terms (tokens pass pre-filtered by a
  // broadcast semi-join — never a corpus-wide df table); fusion is a
  // full-outer join of two ≤ PROBES·K-row lists. No stage ever carries
  // the corpus on both sides.
  //
  // Parity: dense sims round 6 (a5's discipline); BM25 replays t18's
  // exact rounding (ln-term round 6, term product round 6, DECIMAL sum
  // → DOUBLE); RRF terms are 1.0/(60+rank) from BIGINT ranks summed in
  // fixed textual order, round 9 — every rank boundary deterministic.
  // ---------------------------------------------------------------------
  private[graft] val RRF_PROBES = 6 // query docs (doc_id == vec_id < 6)
  private[graft] val RRF_KDENSE = 20 // dense candidate list depth
  private[graft] val RRF_KSPARSE = 20 // sparse candidate list depth
  private[graft] val RRF_QTERMS = 8 // query terms per probe doc
  private[graft] val RRF_MINLEN = 5 // content-token length floor (t18's)
  private[graft] val RRF_C = 60 // the RRF smoothing constant
  private[graft] val RRF_TOPK = 10

  /** The full hybrid pipeline over any (vec_id, emb) + (doc_id, text)
    * pair of frames (ids aligned 1:1) — split from the Q so
    * HybridRrfSpec can plant a dense-only and a sparse-only relevant
    * doc and prove fusion surfaces both. */
  private[graft] def hybridRrfOver(
      s: SparkSession, e: DataFrame, docs: DataFrame): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      val probes = e.filter(col("vec_id") < RRF_PROBES)
        .select(col("vec_id").as("probe_id"), col("emb").as("p_emb"))
      val wD = Window.partitionBy(col("probe_id"))
        .orderBy(col("sim").desc, col("doc_id").asc)
      val dense = e.crossJoin(broadcast(probes))
        .filter(col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("vec_id").as("doc_id"),
          round(cosine(s, "emb", "p_emb"), 6).as("sim"))
        .withColumn("dense_rk", row_number().over(wD).cast("long"))
        .filter(col("dense_rk") <= RRF_KDENSE)
        .select("probe_id", "doc_id", "dense_rk")
      val toks = docs
        .select(col("doc_id"),
          explode(split(lower(col("text")), " ")).as("tok"))
      val tf = toks.groupBy(col("doc_id"), col("tok"))
        .agg(count(lit(1)).as("tf"))
      val dl = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
      val stats = dl.agg(count(lit(1)).as("n"),
        (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
      val wQ = Window.partitionBy(col("probe_id"))
        .orderBy(col("qtf").desc, col("tok").asc)
      val qterms = tf
        .filter(col("doc_id") < RRF_PROBES &&
          length(col("tok")) >= RRF_MINLEN)
        .select(col("doc_id").as("probe_id"), col("tok"),
          col("tf").as("qtf"))
        .withColumn("qrn", row_number().over(wQ))
        .filter(col("qrn") <= RRF_QTERMS)
        .select("probe_id", "tok")
      val dfq = toks
        .join(broadcast(qterms.select("tok").distinct()), Seq("tok"))
        .groupBy(col("tok"))
        .agg(countDistinct(col("doc_id")).as("df"))
      val scored = tf.join(broadcast(qterms), Seq("tok"))
        .filter(col("doc_id") =!= col("probe_id"))
        .join(broadcast(dfq), Seq("tok"))
        .join(dl, Seq("doc_id"))
        .crossJoin(broadcast(stats))
        .select(col("probe_id"), col("doc_id"),
          round(
            round(log((col("n") - col("df") + lit(0.5)) /
                (col("df") + lit(0.5)) + lit(1.0)), 6) *
              (col("tf") * lit(2.2)) /
              (col("tf") + lit(1.2) *
                (lit(0.25) + lit(0.75) * (col("dl") / col("avgdl")))),
            6).as("term_score"))
      val wS = Window.partitionBy(col("probe_id"))
        .orderBy(col("bm25").desc, col("doc_id").asc)
      val sparse = scored.groupBy(col("probe_id"), col("doc_id"))
        .agg(sum(col("term_score").cast("decimal(20,6)"))
          .cast("double").as("bm25"))
        .withColumn("sparse_rk", row_number().over(wS).cast("long"))
        .filter(col("sparse_rk") <= RRF_KSPARSE)
        .select("probe_id", "doc_id", "sparse_rk")
      val fused = dense
        .join(sparse, Seq("probe_id", "doc_id"), "full_outer")
        .select(col("probe_id"), col("doc_id"),
          col("dense_rk"), col("sparse_rk"),
          round(
            coalesce(lit(1.0) / (lit(RRF_C) + col("dense_rk")), lit(0.0)) +
              coalesce(lit(1.0) / (lit(RRF_C) + col("sparse_rk")),
                lit(0.0)), 9).as("rrf"))
      val wF = Window.partitionBy(col("probe_id"))
        .orderBy(col("rrf").desc, col("doc_id").asc)
      fused.withColumn("fused_rk", row_number().over(wF).cast("long"))
        .filter(col("fused_rk") <= RRF_TOPK)
        .select("probe_id", "doc_id", "dense_rk", "sparse_rk",
          "rrf", "fused_rk")
  }

  val a26HybridRrf = Q(
    "a26_hybrid_rrf",
    (s, d) => hybridRrfOver(s,
      embeddings(s, d).select(col("vec_id"), col("embedding").as("emb")),
      documents(s, d).select(col("doc_id"), col("text"))),
    Some(s"""WITH $hybridDuckCtes
      SELECT probe_id, doc_id, dense_rk, sparse_rk, rrf, fused_rk
      FROM hybrid"""))

  /** a26's whole two-arm retrieval + RRF fusion as DuckDB CTEs ending
    * in `hybrid (probe_id, doc_id, dense_rk, sparse_rk, rrf,
    * fused_rk)` — shared by a26's report and e8's serving composition
    * so the two replays can't drift. */
  private def hybridDuckCtes: String = s"""e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
               sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
                                       CAST(embedding AS DOUBLE[]))) AS nrm
        FROM embeddings),
      p AS (SELECT vec_id AS probe_id, emb AS p_emb, nrm AS p_nrm
            FROM e WHERE vec_id < $RRF_PROBES),
      dense AS (
        SELECT probe_id, doc_id, CAST(rn AS BIGINT) AS dense_rk FROM (
          SELECT probe_id, vec_id AS doc_id, row_number() OVER (
              PARTITION BY probe_id ORDER BY sim DESC, vec_id ASC) AS rn
          FROM (SELECT p.probe_id, e.vec_id,
              round(list_inner_product(e.emb, p.p_emb)
                / nullif(e.nrm * p.p_nrm, 0.0), 6) AS sim
            FROM e CROSS JOIN p WHERE e.vec_id <> p.probe_id) s) t
        WHERE rn <= $RRF_KDENSE),
      toks AS (
        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
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
          WHERE doc_id < $RRF_PROBES AND length(tok) >= $RRF_MINLEN) t
        WHERE qrn <= $RRF_QTERMS),
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
        WHERE rn <= $RRF_KSPARSE),
      fused AS (
        SELECT coalesce(dn.probe_id, sp.probe_id) AS probe_id,
               coalesce(dn.doc_id, sp.doc_id) AS doc_id,
               dn.dense_rk, sp.sparse_rk,
               round(coalesce(CAST(1.0 AS DOUBLE) / ($RRF_C + dn.dense_rk),
                   CAST(0.0 AS DOUBLE))
                 + coalesce(CAST(1.0 AS DOUBLE) / ($RRF_C + sp.sparse_rk),
                   CAST(0.0 AS DOUBLE)), 9) AS rrf
        FROM dense dn FULL OUTER JOIN sparse sp
          ON sp.probe_id = dn.probe_id AND sp.doc_id = dn.doc_id),
      hybrid AS (
        SELECT probe_id, doc_id, dense_rk, sparse_rk, rrf,
          CAST(rn AS BIGINT) AS fused_rk
        FROM (SELECT *, row_number() OVER (PARTITION BY probe_id
            ORDER BY rrf DESC, doc_id ASC) AS rn FROM fused) t
        WHERE rn <= $RRF_TOPK)"""

  // ---------------------------------------------------------------------
  // A27: graph-index health report + rebuild decision — a16's retrain
  // monitor for the SERVING shape a18/k8c maintain incrementally. An
  // appended graph degrades silently: arrivals can end up under-linked
  // (low degree), unreachable (no in-edge), or the whole graph can
  // drift until the beam misses what brute force finds. This runs the
  // nightly health check a production vector store schedules between
  // append and rebuild:
  //   - per-arrival degree stats over the appended edge set (standing
  //     build ∪ delta both directions, set semantics);
  //   - orphan arrivals: nodes with NO in-edge (unreachable, whatever
  //     the beam does);
  //   - reciprocity: fraction of directed edges whose reverse exists
  //     (the NSW insertion invariant a18 promises);
  //   - sampled recall: the probe set's beam results over the appended
  //     graph vs exact brute-force top-K;
  //   - rebuild: recall under REBUILD_TAU or any orphan — the a16
  //     decision rule with the graph family's failure modes.
  // One row; every number replayed by the oracle (the beam through
  // nswSearchDuckCtes, brute force a5-style, the rest relational).
  // Shape at scale: the health metrics are edge-table-sized aggregates
  // (O(index), never O(corpus·dim)); the recall sample is |probes|
  // beam walks + one corpus scan for truth.
  // ---------------------------------------------------------------------
  private[graft] val REBUILD_TAU = 0.6

  val a27IndexHealth = Q(
    "a27_index_health",
    (s, d) => {
      val e = embeddings(s, d)
        .select(col("vec_id"), col("embedding").as("emb"))
      val delta = a18DeltaOut(s, d)
      val alledges = nswEdgesFrom(s, a18Standing(e)).select("v", "n")
        .unionByName(delta.select(col("src").as("v"),
          col("dst").as("n")))
        .unionByName(delta.select(col("dst").as("v"),
          col("src").as("n")))
        .distinct()
        .persist()
      alledges.count() // eager: the 5 beam hops must not race the cache
      indexHealthOver(s, e, alledges)
    },
    a27OracleSql)

  /** The health report over any (vec_id, emb) corpus + (v, n) appended
    * edge set (arrivals = vec_id % 10 == 0, a18's split) — split from
    * the Q so AnnGraphSpec can plant a degraded graph (an orphaned
    * arrival, a beam-unreachable truth) and prove the rebuild decision
    * FIRES. */
  private[graft] def indexHealthOver(
      s: SparkSession, e: DataFrame, alledges: DataFrame): DataFrame = {
      val arrivals = e.filter(col("vec_id") % 10 === 0)
      val beam = nswSearchOverMasked(s, e, alledges, None)
        .select("probe_id", "vec_id")
      import org.apache.spark.sql.expressions.Window
      val probes = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("probe_id"), col("emb").as("p_emb"))
      val wB = Window.partitionBy(col("probe_id"))
        .orderBy(col("sim").desc, col("vec_id").asc)
      val brute = e.crossJoin(broadcast(probes))
        .filter(col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("vec_id"),
          round(cosine(s, "emb", "p_emb"), 6).as("sim"))
        .withColumn("rn", row_number().over(wB))
        .filter(col("rn") <= NSW_K)
        .select("probe_id", "vec_id")
      val hits = beam.join(brute, Seq("probe_id", "vec_id"))
        .agg(count(lit(1)).as("hits"))
      val truthN = brute.agg(count(lit(1)).as("tn"))
      val stn = e.filter(col("vec_id") % 10 =!= 0)
        .agg(count(lit(1)).as("n_standing"))
      val arrn = arrivals.agg(count(lit(1)).as("n_arrivals"))
      val adeg = arrivals.select(col("vec_id").as("v"))
        .join(alledges, Seq("v"), "left")
        .groupBy(col("v"))
        .agg(sum(when(col("n").isNotNull, lit(1L)).otherwise(lit(0L)))
          .as("deg"))
      val degs = adeg.agg(min(col("deg")).as("arr_deg_min"),
        round(sum(col("deg")).cast("double") / count(lit(1)), 6)
          .as("arr_deg_avg"),
        max(col("deg")).as("arr_deg_max"))
      val orph = arrivals
        .join(alledges.select(col("n").as("vec_id")).distinct(),
          Seq("vec_id"), "left_anti")
        .agg(count(lit(1)).as("orphan_arrivals"))
      val recip = alledges
        .join(alledges.select(col("n").as("v"), col("v").as("n")),
          Seq("v", "n"), "left_semi")
        .agg(count(lit(1)).as("recip"))
      val tot = alledges.agg(count(lit(1)).as("tot"))
      stn.crossJoin(broadcast(arrn))
        .crossJoin(broadcast(orph))
        .crossJoin(broadcast(degs))
        .crossJoin(broadcast(recip))
        .crossJoin(broadcast(tot))
        .crossJoin(broadcast(hits))
        .crossJoin(broadcast(truthN))
        .select(col("n_standing"), col("n_arrivals"),
          col("orphan_arrivals"),
          col("arr_deg_min"), col("arr_deg_avg"), col("arr_deg_max"),
          round(col("recip").cast("double") / col("tot"), 6)
            .as("reciprocity_frac"),
          round(col("hits").cast("double") / col("tn"), 6)
            .as("mean_recall"),
          (round(col("hits").cast("double") / col("tn"), 6) <
            lit(REBUILD_TAU) || col("orphan_arrivals") > 0L)
            .as("rebuild"))
  }

  private def a27OracleSql: Option[String] =
    Some(s"""WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
               sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
                                       CAST(embedding AS DOUBLE[]))) AS nrm
        FROM embeddings),
      ${a18DeltaDuckCtes},
      ${nswBuildDuck("k",
        "(SELECT vec_id, embedding FROM embeddings " +
          "WHERE vec_id % 10 <> 0)")},
      alledges AS MATERIALIZED (
        SELECT v, n FROM kedges
        UNION SELECT src AS v, dst AS n FROM outs
        UNION SELECT dst AS v, src AS n FROM outs),
      ${nswSearchDuckCtes("h", "alledges", "e", None)},
      brute AS MATERIALIZED (
        SELECT probe_id, vec_id FROM (
          SELECT p.probe_id, e.vec_id, row_number() OVER (
              PARTITION BY p.probe_id ORDER BY
              round(list_inner_product(e.emb, p.p_emb)
                / nullif(e.nrm * p.p_nrm, 0.0), 6) DESC,
              e.vec_id ASC) AS rn
          FROM e CROSS JOIN hp p WHERE e.vec_id <> p.probe_id) t
        WHERE rn <= $NSW_K),
      hits AS (SELECT CAST(count(*) AS BIGINT) AS hits
        FROM hres JOIN brute USING (probe_id, vec_id)),
      truthn AS (SELECT CAST(count(*) AS BIGINT) AS tn FROM brute),
      arr AS (SELECT vec_id FROM embeddings WHERE vec_id % 10 = 0),
      stn AS (SELECT CAST(count(*) AS BIGINT) AS n_standing
        FROM embeddings WHERE vec_id % 10 <> 0),
      arrn AS (SELECT CAST(count(*) AS BIGINT) AS n_arrivals FROM arr),
      adeg AS (SELECT a.vec_id, CAST(count(g.v) AS BIGINT) AS deg
        FROM arr a LEFT JOIN alledges g ON g.v = a.vec_id GROUP BY 1),
      degs AS (SELECT CAST(min(deg) AS BIGINT) AS arr_deg_min,
          round(CAST(sum(deg) AS DOUBLE) / count(*), 6) AS arr_deg_avg,
          CAST(max(deg) AS BIGINT) AS arr_deg_max
        FROM adeg),
      orph AS (SELECT CAST(count(*) AS BIGINT) AS orphan_arrivals
        FROM arr a WHERE NOT EXISTS (
          SELECT 1 FROM alledges g WHERE g.n = a.vec_id)),
      recip AS (SELECT CAST(count(*) AS BIGINT) AS recip
        FROM alledges g WHERE EXISTS (
          SELECT 1 FROM alledges r WHERE r.v = g.n AND r.n = g.v)),
      tote AS (SELECT CAST(count(*) AS BIGINT) AS tot FROM alledges)
      SELECT s.n_standing, a.n_arrivals, o.orphan_arrivals,
        d.arr_deg_min, d.arr_deg_avg, d.arr_deg_max,
        round(CAST(r.recip AS DOUBLE) / t.tot, 6) AS reciprocity_frac,
        round(CAST(h.hits AS DOUBLE) / u.tn, 6) AS mean_recall,
        (round(CAST(h.hits AS DOUBLE) / u.tn, 6)
            < CAST($REBUILD_TAU AS DOUBLE)
          OR o.orphan_arrivals > 0) AS rebuild
      FROM stn s, arrn a, orph o, degs d, recip r, tote t, hits h,
        truthn u""")

  // ---------------------------------------------------------------------
  // A28: binary quantization + Hamming prefilter + exact rerank — the
  // third quantization family next to a10's int8 SQ (4×) and a12's PQ
  // (128×): ONE BIT per dimension (32× vs float32; 64 dims pack into two
  // 32-bit signature words), which is what Lucene/Elasticsearch-class
  // stores ship for first-pass candidate generation because Hamming
  // distance over packed words costs 2 XOR + 2 popcount per pair — no
  // float math touches the corpus until the rerank. Threshold is the
  // per-dimension corpus MEAN (the standard BQ centering; a zero
  // threshold would waste bits on biased dimensions). Search = Hamming
  // top-BQ_CAND candidates per probe, then exact-cosine rerank to top-k,
  // with the exact brute-force top-k joined in as an `exact_hit` column
  // so the report is self-evaluating (the a11/a20 discipline: the
  // shortfall of the cheap prefilter is visible in the output, never
  // silent).
  //
  // Scale shape: the codebook is 64 mean rows (broadcast); signatures
  // are a per-vector hash-agg (map-side combinable sums of disjoint bit
  // words); the Hamming scan is the a5 broadcast-probe corpus pass but
  // touching 16 BYTES per vector, and its rank filter compiles to
  // WindowGroupLimit, so each task forwards ≤ BQ_CAND rows per probe —
  // the rerank's float work is O(probes × BQ_CAND), corpus-size-
  // independent. At 100 TB the signature scan composes with a7/a14's
  // cells (scan only the probed cells' signatures); two 32-bit words
  // per signature (not one 64-bit word) keeps every shift < 32 — exact
  // on both engines with no sign-bit overflow cases to adjudicate.
  // Parity: bit j is set iff x_j > mean_j with the mean accumulated in
  // DECIMAL and rounded to 6dp; signature words are exact integer sums
  // of distinct powers of two, so any cross-engine bit flip breaks the
  // hash outright rather than hiding in a rounded distance.
  // ---------------------------------------------------------------------
  private val BQ_CAND = 20 // Hamming candidates reranked per probe
  private val BQ_K = 5 // final top-k

  /** BQ signature frame (vec_id, lo, hi) — the per-vector two-word
    * sign pack over the mean-centered corpus, factored from a28 so
    * a30 composes the SAME signatures inside the trained IVF cells. */
  private def bqSigs(s: SparkSession, d: String): DataFrame = {
    val dims = embeddings(s, d)
      .select(col("vec_id"), posexplode(col("embedding")))
      .select(col("vec_id"), col("pos").as("dim"),
        col("col").cast("double").as("x"))
    val mu = dims.groupBy(col("dim"))
      .agg(round(sum(round(col("x"), 6).cast("decimal(20,6)"))
        .cast("double") / count(lit(1)), 6).as("mn"))
    dims.join(broadcast(mu), Seq("dim"))
      .select(col("vec_id"), col("dim"),
        when(col("x") > col("mn"),
          expr("shiftleft(CAST(1 AS BIGINT), dim % 32)"))
          .otherwise(lit(0L)).as("b"))
      .groupBy(col("vec_id"))
      .agg(sum(when(col("dim") < 32, col("b")).otherwise(lit(0L)))
        .as("lo"),
        sum(when(col("dim") >= 32, col("b")).otherwise(lit(0L)))
          .as("hi"))
  }

  /** The bits derivation as DuckDB CTEs ending in `bits (vec_id, lo,
    * hi)`, over an e-CTE exposing (vec_id, emb DOUBLE[]); prefix `p`
    * keeps names disjoint when composed with the k-means chain. */
  private def bqCtesDuck(e: String, p: String = ""): String =
    s"""${p}dims AS (
        SELECT vec_id, dim, emb[dim + 1] AS x
        FROM $e CROSS JOIN (SELECT unnest(range(64)) AS dim) ${p}g),
      ${p}mu AS (
        SELECT dim,
          round(CAST(sum(CAST(round(x, 6) AS DECIMAL(20,6))) AS DOUBLE)
            / count(*), 6) AS mn
        FROM ${p}dims GROUP BY 1),
      ${p}bits AS (
        SELECT vec_id,
          CAST(sum(CASE WHEN x > mn AND dim < 32
            THEN (CAST(1 AS BIGINT) << (dim % 32)) ELSE 0 END)
            AS BIGINT) AS lo,
          CAST(sum(CASE WHEN x > mn AND dim >= 32
            THEN (CAST(1 AS BIGINT) << (dim % 32)) ELSE 0 END)
            AS BIGINT) AS hi
        FROM ${p}dims JOIN ${p}mu USING (dim) GROUP BY 1)"""

  val a28BinaryQuant = Q(
    "a28_binary_quant",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val e = embeddings(s, d)
        .select(col("vec_id"), col("embedding").as("emb"))
      val sigs = e.join(bqSigs(s, d), Seq("vec_id"))
      val probes = sigs.filter(col("vec_id") < 20)
        .select(col("vec_id").as("probe_id"), col("emb").as("p_emb"),
          col("lo").as("p_lo"), col("hi").as("p_hi"))
      val ham = sigs.crossJoin(broadcast(probes))
        .filter(col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("vec_id"), col("emb"), col("p_emb"),
          expr("CAST(bit_count(lo ^ p_lo) + bit_count(hi ^ p_hi) " +
            "AS BIGINT)").as("hamming"))
      val wH = Window.partitionBy(col("probe_id"))
        .orderBy(col("hamming").asc, col("vec_id").asc)
      val cand = ham.withColumn("rn", row_number().over(wH))
        .filter(col("rn") <= BQ_CAND)
        .select(col("probe_id"), col("vec_id"), col("hamming"),
          round(cosine(s, "emb", "p_emb"), 6).as("sim"))
      val wS = Window.partitionBy(col("probe_id"))
        .orderBy(col("sim").desc, col("vec_id").asc)
      val topk = cand.withColumn("rn", row_number().over(wS))
        .filter(col("rn") <= BQ_K)
        .select("probe_id", "vec_id", "hamming", "sim")
      val exact = e.crossJoin(broadcast(
          probes.select(col("probe_id"), col("p_emb"))))
        .filter(col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("vec_id"),
          round(cosine(s, "emb", "p_emb"), 6).as("es"))
      val wE = Window.partitionBy(col("probe_id"))
        .orderBy(col("es").desc, col("vec_id").asc)
      val truth = exact.withColumn("rn", row_number().over(wE))
        .filter(col("rn") <= BQ_K)
        .select(col("probe_id"), col("vec_id"), lit(1L).as("hit"))
      topk.join(truth, Seq("probe_id", "vec_id"), "left")
        .select(col("probe_id"), col("vec_id"), col("hamming"),
          col("sim"), coalesce(col("hit"), lit(0L)).as("exact_hit"))
    },
    Some(s"""WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
               sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
                                       CAST(embedding AS DOUBLE[]))) AS nrm
        FROM embeddings),
      ${bqCtesDuck("e")},
      sigs AS (
        SELECT e.vec_id, e.emb, e.nrm, b.lo, b.hi
        FROM e JOIN bits b USING (vec_id)),
      probes AS (
        SELECT vec_id AS probe_id, emb AS p_emb, nrm AS p_nrm,
          lo AS p_lo, hi AS p_hi
        FROM sigs WHERE vec_id < 20),
      ham AS (
        SELECT p.probe_id, s.vec_id, s.emb, s.nrm, p.p_emb, p.p_nrm,
          CAST(bit_count(xor(s.lo, p.p_lo)) +
               bit_count(xor(s.hi, p.p_hi)) AS BIGINT) AS hamming
        FROM sigs s CROSS JOIN probes p WHERE s.vec_id <> p.probe_id),
      cand AS (
        SELECT probe_id, vec_id, hamming,
          round(list_inner_product(emb, p_emb)
            / nullif(nrm * p_nrm, 0.0), 6) AS sim
        FROM (SELECT *, row_number() OVER (PARTITION BY probe_id
              ORDER BY hamming ASC, vec_id ASC) AS rn FROM ham) t
        WHERE rn <= $BQ_CAND),
      topk AS (
        SELECT probe_id, vec_id, hamming, sim
        FROM (SELECT *, row_number() OVER (PARTITION BY probe_id
              ORDER BY sim DESC, vec_id ASC) AS rn FROM cand) t
        WHERE rn <= $BQ_K),
      ex AS (
        SELECT p.probe_id, e.vec_id,
          round(list_inner_product(e.emb, p.p_emb)
            / nullif(e.nrm * p.p_nrm, 0.0), 6) AS es
        FROM e CROSS JOIN probes p WHERE e.vec_id <> p.probe_id),
      truth AS (
        SELECT probe_id, vec_id FROM (
          SELECT *, row_number() OVER (PARTITION BY probe_id
            ORDER BY es DESC, vec_id ASC) AS rn FROM ex) t
        WHERE rn <= $BQ_K)
      SELECT k.probe_id, k.vec_id, k.hamming, k.sim,
        CAST(CASE WHEN t.vec_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
          AS exact_hit
      FROM topk k LEFT JOIN truth t
        ON t.probe_id = k.probe_id AND t.vec_id = k.vec_id"""))

  // ---------------------------------------------------------------------
  // A29: matryoshka dimension-truncation recall — the serving-dimension
  // decision for MRL-style embeddings: production stores serve a PREFIX
  // of each vector (64 → 32 → 16 dims) to cut index memory and scan
  // bytes linearly, and the question that decides the cut is exactly
  // this report — recall@k of prefix-cosine search against the
  // full-dimension ground truth, per prefix width. Same broadcast-probe
  // corpus-pass shape as a5/a11; truncation is a pure projection
  // (slice), so it composes unchanged with ANY index family here (the
  // IVF cells, the NSW beam, a28's signatures) — this query measures
  // the quality side of that trade so the width choice is data-driven,
  // not folklore. Output: (dims, probe_id, k, n_hits, recall), exact
  // integer hit counts against the full-width top-k (the a11 recall
  // discipline — both sets are size k, so the intersection count is
  // direction-independent).
  // ---------------------------------------------------------------------
  private val MRL_DIMS = Seq(16, 32)
  private val MRL_K = 5

  val a29MatryoshkaRecall = Q(
    "a29_matryoshka_recall",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val e = embeddings(s, d)
        .select(col("vec_id"), col("embedding").as("emb"))
      val probes = e.filter(col("vec_id") < 20)
        .select(col("vec_id").as("probe_id"), col("emb").as("p_emb"))
      def topk(m: Int): DataFrame = {
        val sims = e.crossJoin(broadcast(probes))
          .filter(col("vec_id") =!= col("probe_id"))
          .withColumn("se", slice(col("emb"), 1, m))
          .withColumn("pe", slice(col("p_emb"), 1, m))
          .select(col("probe_id"), col("vec_id"),
            round(cosine(s, "se", "pe"), 6).as("sim"))
        val w = Window.partitionBy(col("probe_id"))
          .orderBy(col("sim").desc, col("vec_id").asc)
        sims.withColumn("rn", row_number().over(w))
          .filter(col("rn") <= MRL_K).select("probe_id", "vec_id")
      }
      val truth = topk(64)
      MRL_DIMS.map { m =>
        truth
          .join(topk(m).withColumn("hit", lit(1)),
            Seq("probe_id", "vec_id"), "left")
          .groupBy(col("probe_id"))
          .agg(count(col("hit")).as("n_hits"))
          .select(lit(m.toLong).as("dims"), col("probe_id"),
            lit(MRL_K.toLong).as("k"), col("n_hits"),
            round(col("n_hits").cast("double") / MRL_K, 6).as("recall"))
      }.reduce(_ unionAll _)
    },
    Some {
      def simCtes(m: Int, tag: String) = s"""sims_$tag AS (
        SELECT p.probe_id, e.vec_id,
          round(list_inner_product(e.emb[1:$m], p.p_emb[1:$m])
            / nullif(sqrt(list_inner_product(e.emb[1:$m], e.emb[1:$m]))
              * sqrt(list_inner_product(p.p_emb[1:$m], p.p_emb[1:$m])),
              0.0), 6) AS sim
        FROM e CROSS JOIN p WHERE e.vec_id <> p.probe_id),
      top_$tag AS (
        SELECT probe_id, vec_id FROM (
          SELECT *, row_number() OVER (PARTITION BY probe_id
            ORDER BY sim DESC, vec_id ASC) AS rn FROM sims_$tag) t
        WHERE rn <= $MRL_K)"""
      val reports = MRL_DIMS.map { m =>
        s"""SELECT CAST($m AS BIGINT) AS dims, t.probe_id,
          CAST($MRL_K AS BIGINT) AS k,
          CAST(count(a.vec_id) AS BIGINT) AS n_hits,
          round(CAST(count(a.vec_id) AS DOUBLE) / $MRL_K, 6) AS recall
        FROM top_64 t LEFT JOIN top_$m a
          ON a.probe_id = t.probe_id AND a.vec_id = t.vec_id
        GROUP BY t.probe_id"""
      }.mkString(" UNION ALL ")
      s"""WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
        FROM embeddings),
      p AS (SELECT vec_id AS probe_id, emb AS p_emb
            FROM e WHERE vec_id < 20),
      ${(MRL_DIMS :+ 64).map(m => simCtes(m, m.toString))
        .mkString(",\n      ")}
      $reports"""
    })

  // ---------------------------------------------------------------------
  // A30: IVF × BQ composed — a28's noted scale path made real: at
  // 100 TB nobody Hamming-scans the whole corpus; the trained coarse
  // quantizer (a8's cells) routes each probe to its own partition and
  // the binary signatures do the cheap first pass INSIDE the cell —
  // 16 bytes per candidate over |corpus|/k rows, then the exact-cosine
  // rerank touches only the Hamming top-10. This is the BQ analog of
  // a14's IVF-PQ (codes inside cells), completing the quantization ×
  // partition matrix: SQ stores, PQ scores by table lookup, BQ
  // prefilters by popcount. Self-evaluation against the CELL-exhaustive
  // exact top-5 — isolating the signatures' loss from the cell
  // routing's (a11/a21's subject): exact_hit reads 1 where the two-word
  // prefilter kept what a full float scan of the same cell would.
  // Probes share a7b's set so the three in-cell searches (float, PQ,
  // BQ) are comparable row-for-row.
  // ---------------------------------------------------------------------
  private val IVFBQ_CAND = 10

  val a30IvfBq = Q(
    "a30_ivf_bq",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val e = embeddings(s, d)
        .select(col("vec_id"), col("embedding").as("emb"))
      val cells = kmeansAssign(s, d).select("vec_id", "cell")
      val sigs = e.join(bqSigs(s, d), Seq("vec_id"))
        .join(cells, Seq("vec_id"))
      val probes = sigs
        .filter(col("vec_id") >= 100 && col("vec_id") < 110)
        .select(col("vec_id").as("probe_id"), col("cell"),
          col("emb").as("p_emb"), col("lo").as("p_lo"),
          col("hi").as("p_hi"))
      val ham = sigs.join(broadcast(probes), Seq("cell"))
        .filter(col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("cell"), col("vec_id"), col("emb"),
          col("p_emb"),
          expr("CAST(bit_count(lo ^ p_lo) + bit_count(hi ^ p_hi) " +
            "AS BIGINT)").as("hamming"))
      val wH = Window.partitionBy(col("probe_id"))
        .orderBy(col("hamming").asc, col("vec_id").asc)
      val cand = ham.withColumn("rn", row_number().over(wH))
        .filter(col("rn") <= IVFBQ_CAND)
        .select(col("probe_id"), col("cell"), col("vec_id"),
          col("hamming"), round(cosine(s, "emb", "p_emb"), 6).as("sim"))
      val wS = Window.partitionBy(col("probe_id"))
        .orderBy(col("sim").desc, col("vec_id").asc)
      val topk = cand.withColumn("rn", row_number().over(wS))
        .filter(col("rn") <= BQ_K)
        .select("probe_id", "cell", "vec_id", "hamming", "sim")
      val cellExact = sigs.select(col("cell"), col("vec_id"), col("emb"))
        .join(broadcast(probes.select(col("probe_id"), col("cell"),
          col("p_emb"))), Seq("cell"))
        .filter(col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("vec_id"),
          round(cosine(s, "emb", "p_emb"), 6).as("es"))
      val wE = Window.partitionBy(col("probe_id"))
        .orderBy(col("es").desc, col("vec_id").asc)
      val truth = cellExact.withColumn("rn", row_number().over(wE))
        .filter(col("rn") <= BQ_K)
        .select(col("probe_id"), col("vec_id"), lit(1L).as("hit"))
      topk.join(truth, Seq("probe_id", "vec_id"), "left")
        .select(col("probe_id"), col("cell"), col("vec_id"),
          col("hamming"), col("sim"),
          coalesce(col("hit"), lit(0L)).as("exact_hit"))
    },
    Some(s"""$KMEANS_CTES,
      ${bqCtesDuck("e", "q")},
      sigs AS (
        SELECT e.vec_id, a2.cell, e.emb, e.nrm, b.lo, b.hi
        FROM e JOIN a2 ON a2.vec_id = e.vec_id
        JOIN qbits b ON b.vec_id = e.vec_id),
      probes AS (
        SELECT vec_id AS probe_id, cell, emb AS p_emb, nrm AS p_nrm,
          lo AS p_lo, hi AS p_hi
        FROM sigs WHERE vec_id >= 100 AND vec_id < 110),
      ham AS (
        SELECT p.probe_id, s.cell, s.vec_id, s.emb, s.nrm, p.p_emb,
          p.p_nrm,
          CAST(bit_count(xor(s.lo, p.p_lo)) +
               bit_count(xor(s.hi, p.p_hi)) AS BIGINT) AS hamming
        FROM sigs s JOIN probes p USING (cell)
        WHERE s.vec_id <> p.probe_id),
      cand AS (
        SELECT probe_id, cell, vec_id, hamming,
          round(list_inner_product(emb, p_emb)
            / nullif(nrm * p_nrm, 0.0), 6) AS sim
        FROM (SELECT *, row_number() OVER (PARTITION BY probe_id
              ORDER BY hamming ASC, vec_id ASC) AS rn FROM ham) t
        WHERE rn <= $IVFBQ_CAND),
      topk AS (
        SELECT probe_id, cell, vec_id, hamming, sim
        FROM (SELECT *, row_number() OVER (PARTITION BY probe_id
              ORDER BY sim DESC, vec_id ASC) AS rn FROM cand) t
        WHERE rn <= $BQ_K),
      ex AS (
        SELECT p.probe_id, s.vec_id,
          round(list_inner_product(s.emb, p.p_emb)
            / nullif(s.nrm * p.p_nrm, 0.0), 6) AS es
        FROM sigs s JOIN probes p USING (cell)
        WHERE s.vec_id <> p.probe_id),
      truth AS (
        SELECT probe_id, vec_id FROM (
          SELECT *, row_number() OVER (PARTITION BY probe_id
            ORDER BY es DESC, vec_id ASC) AS rn FROM ex) t
        WHERE rn <= $BQ_K)
      SELECT k.probe_id, k.cell, k.vec_id, k.hamming, k.sim,
        CAST(CASE WHEN t.vec_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
          AS exact_hit
      FROM topk k LEFT JOIN truth t
        ON t.probe_id = k.probe_id AND t.vec_id = k.vec_id"""))

  // ---------------------------------------------------------------------
  // E8: the RAG serving pipeline composed end-to-end — e4 is the
  // TRAINING-data build as one plan; this is the SERVING build: hybrid
  // retrieval (a26's two arms + RRF fusion) → MMR diversification over
  // the fused pool (a23's greedy, relevance = the fused RANK scaled to
  // micro units so both MMR terms live on one integer scale) → context
  // packing under a token budget (t9's discipline at serving time:
  // include picks in MMR order while they fit, a skipped pick stays in
  // the report with included=false — the d13 rule: what was dropped
  // and why is output, not silence). Every stage after the pool
  // extraction runs on ≤ RRF_TOPK rows per probe: the pairwise-sim
  // frame, the E8_PICKS unrolled greedy rounds, and the budget fold
  // (a 3-row per-probe pivot, pure column arithmetic) are all
  // planner-sized whatever the corpus; integers end to end, so both
  // engines pick and pack identically.
  // ---------------------------------------------------------------------
  private[graft] val E8_PICKS = 3
  private[graft] val E8_BUDGET = 64L

  val e8RagPipeline = Q(
    "e8_rag_pipeline",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val e = embeddings(s, d)
        .select(col("vec_id"), col("embedding").as("emb"))
      val docs = documents(s, d).select(col("doc_id"), col("text"))
      val pool = hybridRrfOver(s, e, docs)
        .select(col("probe_id"), col("doc_id"), col("fused_rk"))
        .withColumn("rel",
          (lit(RRF_TOPK + 1L) - col("fused_rk")) *
            lit(1000000L / RRF_TOPK))
        .snap()
      val poolV = pool
        .join(e.select(col("vec_id").as("doc_id"), col("emb")),
          Seq("doc_id"))
      val pairs = poolV
        .select(col("probe_id"), col("doc_id").as("va"),
          col("emb").as("ea"))
        .join(poolV.select(col("probe_id"), col("doc_id").as("vb"),
          col("emb").as("eb")), Seq("probe_id"))
        .filter(col("va") =!= col("vb"))
        .select(col("probe_id"), col("va"), col("vb"),
          microCos(s, "ea", "eb").as("pu"))
        .snap()
      val w1 = Window.partitionBy(col("probe_id"))
        .orderBy(col("score").desc, col("doc_id").asc)
      var picks = pool
        .select(col("probe_id"), col("doc_id"), col("fused_rk"),
          (col("rel") * lit(7L)).as("score"))
        .withColumn("rn", row_number().over(w1))
        .filter(col("rn") === 1)
        .select(col("probe_id"), col("doc_id"), col("fused_rk"),
          lit(1L).as("pick"))
        .snap()
      for (r <- 2 to E8_PICKS) {
        val selIds = picks.select(col("probe_id"), col("doc_id"))
        val ms = pairs
          .join(selIds.select(col("probe_id"), col("doc_id").as("vb")),
            Seq("probe_id", "vb"))
          .groupBy(col("probe_id"), col("va"))
          .agg(max(col("pu")).as("ms"))
        val next = pool
          .join(selIds, Seq("probe_id", "doc_id"), "left_anti")
          .join(ms.select(col("probe_id"), col("va").as("doc_id"),
            col("ms")), Seq("probe_id", "doc_id"), "left")
          .select(col("probe_id"), col("doc_id"), col("fused_rk"),
            (col("rel") * lit(7L) -
              coalesce(col("ms"), lit(0L)) * lit(3L)).as("score"))
          .withColumn("rn", row_number().over(w1))
          .filter(col("rn") === 1)
          .select(col("probe_id"), col("doc_id"), col("fused_rk"),
            lit(r.toLong).as("pick"))
        picks = picks.unionByName(next).snap()
      }
      val toks = docs.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      val pivotAggs = (1 to E8_PICKS).flatMap { r =>
        Seq(max(when(col("pick") === r, col("doc_id"))).as(s"d$r"),
          max(when(col("pick") === r, col("fused_rk"))).as(s"rk$r"),
          max(when(col("pick") === r, col("n_tokens"))).as(s"t$r"))
      }
      val wide = picks.join(toks, Seq("doc_id"))
        .groupBy(col("probe_id"))
        .agg(pivotAggs.head, pivotAggs.tail: _*)
      // greedy budget fold over pick order, as pure column arithmetic
      val (incs, cums) = (1 to E8_PICKS)
        .foldLeft((Vector.empty[Column], Vector.empty[Column])) {
          case ((is, cs), r) =>
            val prev = cs.lastOption.getOrElse(lit(0L))
            val inc = prev + col(s"t$r") <= lit(E8_BUDGET)
            (is :+ inc, cs :+ (prev + when(inc, col(s"t$r"))
              .otherwise(lit(0L))))
        }
      wide.select(col("probe_id"), explode(array((1 to E8_PICKS).map {
        r =>
          struct(lit(r.toLong).as("pick"), col(s"d$r").as("doc_id"),
            col(s"rk$r").as("fused_rk"), col(s"t$r").as("n_tokens"),
            incs(r - 1).as("included"), cums(r - 1).as("cum_tokens"))
      }: _*)).as("x"))
        .select(col("probe_id"), col("x.pick"), col("x.doc_id"),
          col("x.fused_rk"), col("x.n_tokens"), col("x.included"),
          col("x.cum_tokens"))
    },
    Some {
      val rounds = (2 to E8_PICKS).map { r =>
        s"""ms$r AS (
        SELECT pr.probe_id, pr.va AS doc_id, max(pr.pu) AS ms
        FROM pr JOIN sel${r - 1} s
          ON s.probe_id = pr.probe_id AND s.doc_id = pr.vb
        GROUP BY pr.probe_id, pr.va),
      s$r AS (
        SELECT probe_id, doc_id, fused_rk, CAST($r AS BIGINT) AS pick
        FROM (
          SELECT c.*, row_number() OVER (PARTITION BY probe_id
            ORDER BY score DESC, doc_id ASC) AS rn
          FROM (
            SELECT pl.probe_id, pl.doc_id, pl.fused_rk,
              7 * pl.rel - 3 * coalesce(m.ms, 0) AS score
            FROM pool pl
            LEFT JOIN ms$r m
              ON m.probe_id = pl.probe_id AND m.doc_id = pl.doc_id
            WHERE NOT EXISTS (SELECT 1 FROM sel${r - 1} s
              WHERE s.probe_id = pl.probe_id
                AND s.doc_id = pl.doc_id)) c) t
        WHERE rn = 1),
      sel$r AS (SELECT probe_id, doc_id FROM sel${r - 1}
        UNION ALL SELECT probe_id, doc_id FROM s$r)"""
      }.mkString(",\n      ")
      val unionAll = (1 to E8_PICKS).map(r =>
        s"SELECT probe_id, doc_id, fused_rk, " +
          s"CAST($r AS BIGINT) AS pick FROM s$r")
        .mkString(" UNION ALL ")
      val wideCols = (1 to E8_PICKS).map { r =>
        s"""max(CASE WHEN pick = $r THEN p.doc_id END) AS d$r,
          max(CASE WHEN pick = $r THEN p.fused_rk END) AS rk$r,
          max(CASE WHEN pick = $r THEN t.n_tokens END) AS t$r"""
      }.mkString(",\n          ")
      val cumExpr = (1 to E8_PICKS).map { r =>
        val prev = (1 until r).map(j =>
          s"(CASE WHEN inc$j THEN t$j ELSE 0 END)")
          .foldLeft("0")(_ + " + " + _)
        s"$prev"
      }
      val incDefs = (1 to E8_PICKS).map { r =>
        s"${cumExpr(r - 1)} + t$r <= $E8_BUDGET AS inc$r"
      }.mkString(",\n          ")
      val emits = (1 to E8_PICKS).map { r =>
        s"""SELECT probe_id, CAST($r AS BIGINT) AS pick, d$r AS doc_id,
          rk$r AS fused_rk, t$r AS n_tokens, inc$r AS included,
          CAST(${cumExpr(r - 1)} +
            (CASE WHEN inc$r THEN t$r ELSE 0 END) AS BIGINT)
            AS cum_tokens
        FROM flags"""
      }.mkString(" UNION ALL ")
      s"""WITH $hybridDuckCtes,
      pool AS (
        SELECT probe_id, doc_id, fused_rk,
          (${RRF_TOPK + 1} - fused_rk) * ${1000000L / RRF_TOPK} AS rel
        FROM hybrid),
      pr AS (
        SELECT a.probe_id, a.doc_id AS va, b.doc_id AS vb,
          CAST(round(list_inner_product(ea.emb, eb.emb)
            / nullif(ea.nrm * eb.nrm, 0.0) * 1000000) AS BIGINT) AS pu
        FROM pool a
        JOIN pool b ON b.probe_id = a.probe_id AND b.doc_id <> a.doc_id
        JOIN e ea ON ea.vec_id = a.doc_id
        JOIN e eb ON eb.vec_id = b.doc_id),
      s1 AS (
        SELECT probe_id, doc_id, fused_rk, CAST(1 AS BIGINT) AS pick
        FROM (
          SELECT pl.*, row_number() OVER (PARTITION BY probe_id
            ORDER BY 7 * rel DESC, doc_id ASC) AS rn
          FROM pool pl) t
        WHERE rn = 1),
      sel1 AS (SELECT probe_id, doc_id FROM s1),
      $rounds,
      picks AS ($unionAll),
      tok AS (
        SELECT doc_id,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents),
      wide AS (
        SELECT probe_id,
          $wideCols
        FROM picks p JOIN tok t USING (doc_id)
        GROUP BY 1),
      flags AS (
        SELECT *,
          $incDefs
        FROM wide)
      $emits"""
    })

  // ---------------------------------------------------------------------
  // A31: margin-based parallel-pair mining (Artetxe & Schwenk 2019,
  // "Margin-based Parallel Corpus Mining with Multilingual Sentence
  // Embeddings") — the bitext miner that builds translation training
  // data: two sides of a multilingual embedding space (side A =
  // vec_id % 2 = 0, side B odd — the suite's parity-split convention),
  // each A anchor retrieves its best B candidate, and the pair is
  // accepted not on raw cosine (which the paper shows mis-ranks in
  // dense hubs) but on the RATIO MARGIN: cos(x,y) against the mean of
  // both sides' k-NN neighborhoods. A hub whose whole neighborhood is
  // equally close fails the margin even at high absolute cosine; an
  // isolated true pair passes at modest cosine.
  //
  // Scale shape: candidates come from d4's banded multi-table sign-LSH
  // (disjoint-dim tables, BUCKET_CAP hot-bucket guard) — never an
  // A×B cross join; the k-NN statistics are computed over the SAME
  // candidate sims (the LSH-kNN approximation the paper's FAISS
  // pipeline also makes), so the corpus appears once per join and the
  // margin stage adds two bounded window ranks + two hash-aggs.
  //
  // Parity: the margin test is CROSS-MULTIPLIED in integer micro-cosine
  // space (the w8 thresholds discipline — no quotient is ever computed,
  // so no engine can disagree on an ulp): with τ = 21/20,
  //   margin = 2·sim / (sumA/nA + sumB/nB) > τ
  //   ⇔ 40·sim_u·nA·nB > 21·(sumA_u·nB + sumB_u·nA)
  // Every decision input (n, sums, both flags) is output per pair —
  // the d13 audit discipline applied to mining.
  // ---------------------------------------------------------------------
  private[graft] val MARGIN_K = 4

  /** a31's candidate sims, ranked from BOTH sides — the ONE definition
    * of the mining frame (banded cross-side candidates under
    * BUCKET_CAP, integer micro-cosines, (sim DESC, id ASC) ranks);
    * shared by batch a31 and the streaming miner's frozen standing
    * statistics so the two cannot drift. */
  private[graft] def marginRanked(
      s: SparkSession, e: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bands = d4BandsOf(e)
    val kept = LlmOps.capBuckets(bands, Seq("tbl", "bkey"))
    val cand = kept.filter(col("vec_id") % 2 === 0)
      .select(col("vec_id").as("a_id"), col("tbl"), col("bkey"))
      .join(kept.filter(col("vec_id") % 2 === 1)
        .select(col("vec_id").as("b_id"), col("tbl"), col("bkey")),
        Seq("tbl", "bkey"))
      .select("a_id", "b_id").distinct()
    val sims = cand
      .join(e.select(col("vec_id").as("a_id"), col("emb").as("emb_a")),
        Seq("a_id"))
      .join(e.select(col("vec_id").as("b_id"), col("emb").as("emb_b")),
        Seq("b_id"))
      .select(col("a_id"), col("b_id"),
        microCos(s, "emb_a", "emb_b").as("sim_u"))
    val wA = Window.partitionBy(col("a_id"))
      .orderBy(col("sim_u").desc, col("b_id").asc)
    val wB = Window.partitionBy(col("b_id"))
      .orderBy(col("sim_u").desc, col("a_id").asc)
    sims
      .withColumn("rk_a", row_number().over(wA))
      .withColumn("rk_b", row_number().over(wB))
  }

  val a31MarginMining = Q(
    "a31_margin_mining",
    (s, d) => {
      val e = embeddings(s, d)
        .select(col("vec_id"), col("embedding").as("emb"))
      val rk = marginRanked(s, e)
      val aStats = rk.filter(col("rk_a") <= MARGIN_K)
        .groupBy(col("a_id"))
        .agg(sum(col("sim_u")).as("sum_a_u"), count(lit(1)).as("n_a"))
      val bStats = rk.filter(col("rk_b") <= MARGIN_K)
        .groupBy(col("b_id"))
        .agg(sum(col("sim_u")).as("sum_b_u"), count(lit(1)).as("n_b"))
      val bwd = rk.filter(col("rk_b") === 1)
        .select(col("b_id"), col("a_id").as("bwd_a"))
      rk.filter(col("rk_a") === 1)
        .join(aStats, Seq("a_id"))
        .join(bStats, Seq("b_id"))
        .join(bwd, Seq("b_id"))
        .select(col("a_id"), col("b_id"), col("sim_u"),
          col("n_a"), col("n_b"), col("sum_a_u"), col("sum_b_u"),
          (lit(40L) * col("sim_u") * col("n_a") * col("n_b") >
            lit(21L) * (col("sum_a_u") * col("n_b") +
              col("sum_b_u") * col("n_a"))).as("accepted"),
          (col("bwd_a") === col("a_id")).as("mutual"))
    },
    Some(s"""WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
               sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
                                       CAST(embedding AS DOUBLE[]))) AS nrm
        FROM embeddings),
      bands AS ($d4BandsDuckSelects),
      bsz AS (SELECT tbl, bkey, count(*) AS c FROM bands GROUP BY 1, 2),
      kept AS (
        SELECT b.vec_id, b.tbl, b.bkey FROM bands b
        JOIN bsz z ON z.tbl = b.tbl AND z.bkey = b.bkey
          AND z.c <= ${LlmOps.BUCKET_CAP}),
      cand AS (
        SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
        FROM kept a JOIN kept b
          ON a.tbl = b.tbl AND a.bkey = b.bkey
        WHERE a.vec_id % 2 = 0 AND b.vec_id % 2 = 1),
      sims AS (
        SELECT c.a_id, c.b_id,
          CAST(round(list_inner_product(ea.emb, eb.emb)
            / nullif(ea.nrm * eb.nrm, 0.0) * 1000000) AS BIGINT) AS sim_u
        FROM cand c
        JOIN e ea ON ea.vec_id = c.a_id
        JOIN e eb ON eb.vec_id = c.b_id),
      rk AS (
        SELECT *,
          row_number() OVER (PARTITION BY a_id
            ORDER BY sim_u DESC, b_id ASC) AS rk_a,
          row_number() OVER (PARTITION BY b_id
            ORDER BY sim_u DESC, a_id ASC) AS rk_b
        FROM sims),
      astats AS (
        SELECT a_id, CAST(sum(sim_u) AS BIGINT) AS sum_a_u,
          CAST(count(*) AS BIGINT) AS n_a
        FROM rk WHERE rk_a <= $MARGIN_K GROUP BY a_id),
      bstats AS (
        SELECT b_id, CAST(sum(sim_u) AS BIGINT) AS sum_b_u,
          CAST(count(*) AS BIGINT) AS n_b
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
      JOIN bwd w USING (b_id)"""))

  def all: Seq[Q] =
    Seq(a5AnnBruteforce, a6AnnLsh, a7AnnIvf, a7bIvfTrained, a8KmeansRefine,
      a10ScalarQuant, a11AnnRecall, a12ProductQuant, a13PqAdc, a14IvfPq,
      d4EmbedNeardup, d4bNeardupRecall, d12SemanticDedup,
      d12bSemanticRecall, a15IncrementalIndex, a16RetrainDecision,
      a17NswSearch, a18GraphExtend, a19HnswLayers, a20FilteredAnn,
      a21NprobeSweep, a22RangeSearch, a23MmrRerank, a24HnswExtend,
      a25FilteredNsw, a26HybridRrf, a27IndexHealth, a28BinaryQuant,
      a29MatryoshkaRecall, a30IvfBq, e8RagPipeline, a31MarginMining)
}
