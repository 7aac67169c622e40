package graft.operators

import graft.Checkpoints.SnapOps

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.control.NonFatal

import graft.Dialect
import graft.Queries.Q
import graft.Tables._
import graft.functions.Portable

/** LLM-training-data pipeline operators over the `documents` table
  * (BASELINE.json north star: dedup, text analysis at 100 TB scale).
  *
  * Design rules for scale:
  *   - every candidate-generation step is BUCKETED (MinHash band keys,
  *     hash groups) — never an all-pairs crossJoin;
  *   - hashing is a per-row codegen'd projection (Portable.h60), so the
  *     only shuffles are the per-doc aggregations and the band-bucket
  *     self-join, all keyed and AQE-sized;
  *   - all probabilistic structures use the portable md5-based hash so a
  *     DuckDB oracle can replay them bit-for-bit.
  *
  * The reference has no text analytics (it is a fitness ETL); these extend
  * its document-processing surface the way SURVEY.md §2.11 sketches.
  */
object LlmOps {

  /** Whitespace-normalized lowercase text — the canonical form every
    * dedup/fingerprint op hashes. */
  private def normText: Column =
    lower(trim(regexp_replace(col("text"), "\\s+", " ")))

  /** (doc_id, h) fingerprints over any documents-shaped frame — the ONE
    * definition of the exact-dedup key (d1, d10, and the streaming
    * incremental-dedup job all hash through here, so the normalization
    * cannot drift between the batch and streaming paths; c1's curation
    * keeps the text columns alongside and applies [[normText]] inline).
    * Works on both batch and streaming inputs: pure column expressions,
    * no shuffle. */
  private[graft] def fingerprintsOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), md5(normText).as("h"))

  /** The n-gram window over a token array `t`, ONE definition per
    * engine: the Spark SQL `transform` (0-based) and its DuckDB
    * `list_transform` twin (1-based). Every gram-consuming operator
    * (d2 shingles, d5/d6/d7 candidates, a9's sketch, t13's counts)
    * builds from these two, so a tokenizer change cannot silently leave
    * one copy behind. */
  private def ngramExpr(n: Int): String =
    s"transform(sequence(0, size(t)-$n), i -> concat_ws(' ', " +
      (0 until n).map(j => s"t[i+$j]").mkString(", ") + "))"
  private def ngramDuck(n: Int): String =
    s"list_transform(range(len(t)-${n - 1}), i -> concat_ws(' ', " +
      (1 to n).map(j => s"t[i+$j]").mkString(", ") + "))"

  // ---------------------------------------------------------------------
  // D1: exact dedup — hash-groupBy on normalized text. One shuffle on the
  // 32-hex md5 key; survivor = min(doc_id) per hash group (deterministic).
  // At 100 TB: identical plan, the hash key shards uniformly.
  // ---------------------------------------------------------------------
  val d1DedupExact = Q(
    "d1_dedup_exact",
    (s, d) =>
      fingerprintsOf(documents(s, d))
        .groupBy(col("h"))
        .agg(min(col("doc_id")).as("keep_id"),
          count(lit(1)).as("n_dups")),
    Some("""SELECT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS h,
      min(doc_id) AS keep_id, count(*) AS n_dups
      FROM documents GROUP BY 1"""))

  // ---------------------------------------------------------------------
  // D10: INCREMENTAL exact dedup — the shape production dedup actually
  // runs: a new batch (here the doc_id % 4 == 0 slice, standing in for
  // today's crawl shard) deduped against the STANDING corpus's
  // fingerprint table, not the corpus itself. Every new doc routes to
  // exactly one of: 'new' (first sighting anywhere), 'dup_in_batch'
  // (a smaller-id batch doc owns the fingerprint), 'dup_of_history'
  // (the standing corpus owns it).
  //
  // Scale shape: the historical side is 16 bytes per document (md5 of
  // the normalized text) — at 100 TB of corpus that is a fingerprint
  // TABLE in the tens of GB, joined on its own hash key; stored
  // bucketed by fingerprint it co-locates with every future batch's
  // shuffle (x5's zero-Exchange pattern), and the batch side combines
  // map-side first. The corpus text is never re-read. d1 is the
  // full-rebuild form of the same fingerprint discipline.
  // ---------------------------------------------------------------------
  val d10IncrementalDedup = Q(
    "d10_incremental_dedup",
    (s, d) => {
      val fp = fingerprintsOf(documents(s, d))
      val history = fp.filter(col("doc_id") % 4 =!= 0)
      val batch = fp.filter(col("doc_id") % 4 === 0)
      val batchOwner = batch.groupBy(col("h"))
        .agg(min(col("doc_id")).as("owner_id"))
      batch
        .join(history.select(col("h")).distinct()
          .withColumn("in_hist", lit(1)), Seq("h"), "left")
        .join(batchOwner, Seq("h"))
        .select(col("doc_id"), col("h"),
          when(col("in_hist") === 1, "dup_of_history")
            .when(col("doc_id") =!= col("owner_id"), "dup_in_batch")
            .otherwise("new").as("status"))
    },
    Some("""WITH fp AS (
        SELECT doc_id,
          md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS h
        FROM documents),
      hist AS (SELECT DISTINCT h FROM fp WHERE doc_id % 4 <> 0),
      batch AS (SELECT doc_id, h FROM fp WHERE doc_id % 4 = 0),
      owner AS (SELECT h, min(doc_id) AS owner_id FROM batch GROUP BY 1)
      SELECT b.doc_id, b.h,
        CASE WHEN hist.h IS NOT NULL THEN 'dup_of_history'
             WHEN b.doc_id <> o.owner_id THEN 'dup_in_batch'
             ELSE 'new' END AS status
      FROM batch b
      LEFT JOIN hist ON hist.h = b.h
      JOIN owner o ON o.h = b.h"""))

  // ---------------------------------------------------------------------
  // D2: MinHash + LSH near-dup detection, end to end:
  //   word-bigram shingles → 8 MinHash values (seeded portable hashes) →
  //   4 bands of 2 rows → band-bucket self-join (candidates = docs sharing
  //   a band key ONLY — never all-pairs) → exact shingle-Jaccard on the
  //   candidates. Output: candidate pair + exact jaccard.
  // Scale: the band self-join shuffles on (band, bkey); bucket sizes are
  // bounded by collision probability for organic data, and the
  // BUCKET_CAP guard structurally drops degenerate boilerplate buckets
  // before they go quadratic (AQE skew-join only rebalances partitions —
  // it cannot shrink a bucket's pair count). The shingle explode is
  // linear in corpus size.
  // ---------------------------------------------------------------------
  private[graft] val P = 8 // MinHash permutations
  private[graft] val BANDS = 4 // bands of r = 2 rows

  /** Distinct word-bigram shingles per doc, identified by their 60-bit
    * portable hash — the unit set for Jaccard. Hashing happens BEFORE
    * the distinct, so the dedup shuffle and every downstream join moves
    * 8-byte longs instead of shingle strings (at 100 TB the shingle
    * table dominates shuffle volume; this is the narrow-key form d6
    * uses). Two distinct shingles colliding would merge set elements in
    * BOTH engines identically (p ≈ n²/2^61 per doc — negligible, and
    * oracle-invisible since the oracle replays the same hash). */
  private[graft] def shinglesOf(docs: DataFrame): DataFrame =
    // (r20 probe: a spreadScan here was tried and REVERTED — the
    // ~3.4 s single-task gram stages run concurrently with other
    // stages, so wall was flat while per-task plan-deserialization
    // overhead inflated total CPU ~5x on the big-plan consumers.)
    docs
      .select(col("doc_id"), split(lower(col("text")), " ").as("t"))
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"), explode(expr(ngramExpr(2))).as("shingle"))
      .select(col("doc_id"), Portable.h60(col("shingle"), "sh|").as("sh"))
      .distinct()

  /** Candidate-generation hot-bucket cap, shared by d2's (band, bkey)
    * buckets and d5's anchor-gram buckets. A bucket of m members emits
    * m(m-1)/2 candidate pairs, so one boilerplate-dominated bucket (a
    * hot anchor gram, a degenerate band key) turns bucketed candidate
    * generation back into all-pairs — the exact blowup bucketing exists
    * to avoid. Buckets past the cap are DROPPED: at this size the
    * members are overwhelmingly boilerplate-near-identical and are
    * better handled by d1's exact pass, and a dropped bucket costs
    * recall only for pairs whose EVERY shared anchor/band is hot
    * (ANCHORS and BANDS give each pair multiple independent chances).
    * 64² /2 ≈ 2k pairs per surviving bucket bounds the worst case.
    * Production monitoring hangs `droppedBuckets` on a listener; the
    * DedupSpec adversarial fixture (500 near-identical docs) proves the
    * bound. */
  private[graft] val BUCKET_CAP = 64

  /** Drop every bucket whose membership exceeds `cap`. A window COUNT
    * partitioned on the bucket key, not a groupBy+join-back: the join
    * form scans `rows` twice (and `rows` here is the end of an
    * explode→hash→distinct→top-k chain that is expensive to recompute),
    * while the window form is one pass whose hash-partitioning on the
    * bucket key is exactly what the candidate self-join that follows
    * needs — Catalyst reuses the exchange, so the guard costs zero
    * extra shuffles of `rows` (r8 plan audit: the join form had pushed
    * d7 to 1.7× its pin; this form returned it). */
  private[graft] def capBuckets(
      rows: DataFrame, keys: Seq[String],
      cap: Int = BUCKET_CAP): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    rows
      .withColumn("bsz",
        count(lit(1)).over(Window.partitionBy(keys.map(col): _*)))
      .filter(col("bsz") <= cap)
      .drop("bsz")
  }

  /** [[capBuckets]] as a groupBy + anti-join of the OVER-cap bucket
    * keys instead of a window count. Two scans of `rows`, but no
    * per-bucket-key sort. Right when `rows` is already a persisted
    * relation (d2: bands derive from the persisted signature table, so the
    * second scan is an in-memory re-read); wrong when `rows` is the live
    * end of an expensive unmaterialized chain (d5/d7: the r8 plan audit
    * measured the double evaluation at 1.7× the pin). The r9 same-session
    * A/B on d2 isolated at sf0.1 read the two forms within noise of each
    * other (window 4.28 s vs join 4.39 s median-of-3, local[32]) — the
    * join form is kept for its scale shape, not a local win: the window
    * sorts EVERY bucket's rows per key, so a degenerate hot bucket (the
    * exact case the cap exists for) costs n·log n in the window form and
    * O(n) map-side-combinable counting here. The over-cap key set is
    * ≤ |buckets| and usually tiny, so AQE broadcasts the anti-join. */
  private[graft] def capBucketsJoin(
      rows: DataFrame, keys: Seq[String],
      cap: Int = BUCKET_CAP): DataFrame =
    rows.join(
      rows.groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as("bsz"))
        .filter(col("bsz") > cap)
        .select(keys.map(col): _*),
      keys, "left_anti")

  /** Diagnostic companion to [[capBuckets]]: the over-cap buckets and
    * their sizes — what the guard dropped and why. */
  private[graft] def droppedBuckets(
      rows: DataFrame, keys: Seq[String],
      cap: Int = BUCKET_CAP): DataFrame =
    rows.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("bsz"))
      .filter(col("bsz") > cap)

  /** Drops everything the active session holds in storage: every
    * cached Dataset first (`catalog.clearCache()`), then every persisted
    * RDD of its context, which covers the blocks of every snapped frame
    * ([[graft.Checkpoints]]) and every persist of every query. Stateless:
    * no query registers what it holds, so a query run twice in one
    * session never frees the other run's frames. Bench, Verify and the
    * benchmark call it after each query (Bench after each pass), so no
    * query's result or cost depends on what ran before it. Never call it
    * while a query of the session is still executing or a frame it
    * returned is still to be read: a persisted frame then recomputes,
    * and a snapped one fails, its lineage truncated. */
  def releaseCaches(): Unit =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .foreach { s =>
        s.catalog.clearCache()
        s.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
      }

  /** Bytes of CPU-dense scan input one spread partition should carry
    * (guide §2.2: derive partitioning from input size, never a
    * local-core constant). Sized from the r21 A/B pair: at sf0.1
    * (0.6 MB docs) a 32-way spread cost 14× CPU in tiny-task overhead
    * (d13 taskTime 64 s vs 4.6 s warm), while at the 10× probe (6 MB)
    * NOT spreading serialized the per-row hashing into one scan task
    * (canary-adjusted 2.1× the spread form). 256 KB puts the
    * crossover between those two measured points: ≈2 tasks at sf0.1,
    * ≈24 at 10×, capped at the session's cores. */
  private[graft] val SPREAD_TARGET_BYTES = 256L << 10

  /** Round-robin-spread a SCAN-ONLY frame across the session's cores
    * before fan-out-heavy derivations (guide §2.5: few-split input
    * ahead of fan-out work — the local single-row-group parquet gives
    * every scan ONE split, so per-row-expensive derivations like d13's
    * pre-cap band tables and x14's 5-per-row h60 explode otherwise run
    * on one core; d13 measured 6.7–12 s single-task stages).
    *
    * The width derives from the scan's size: ceil(bytes /
    * SPREAD_TARGET_BYTES) clamped to the session's cores, so tiny local
    * scans stay unspread (r21: the 32-way spread of a 2 k-row scan cost
    * 14× CPU in tiny-task overhead) while probe-scale scans still fan
    * their CPU-dense derivations out. No-op when the scan already has
    * that many partitions (the production case: many splits), so it
    * never adds a corpus-wide shuffle at scale.
    *
    * Only a leaf relation under Project/Filter nodes is probed: the
    * partition probe resolves the physical plan, which for a frame with
    * upstream exchanges would materialize its query stages; any other
    * frame comes back unchanged. Result-neutral: every consumer
    * aggregates by key (counts / min-max / register merges), none is
    * partitioning- or order-sensitive. */
  private[graft] def spreadScan(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical.{
      Filter, LeafNode, LogicalPlan, Project}
    def scanOnly(p: LogicalPlan): Boolean = p match {
      case Project(_, child) => scanOnly(child)
      case Filter(_, child) => scanOnly(child)
      case _: LeafNode => true
      case _ => false
    }
    if (df.isStreaming) return df
    val plan = df.queryExecution.optimizedPlan
    if (!scanOnly(plan)) return df
    val cores = df.sparkSession.sparkContext.defaultParallelism
    val bytes =
      try BigInt(plan.stats.sizeInBytes.bigInteger)
        .min(BigInt(Long.MaxValue)).toLong
      catch { case NonFatal(_) => 0L }
    val p = if (bytes <= 0) cores
      else math.min(cores.toLong,
        (bytes + SPREAD_TARGET_BYTES - 1) / SPREAD_TARGET_BYTES).toInt
    if (p <= 1) return df
    // the spread is an optimization, never a semantic need: if the
    // probe fails, the frame goes on unchanged
    val parts = try df.rdd.getNumPartitions catch { case NonFatal(_) => p }
    if (parts >= p) df else df.repartition(p)
  }

  /** MinHash signatures over a shingle frame — "permutations" = seeded
    * re-hashes of the shingle's hash (rendered as a decimal string —
    * portable: both engines print a non-negative BIGINT identically);
    * map-side, only the P partial mins per doc shuffle. */
  private[graft] def minhashSigsOf(sh: DataFrame): DataFrame =
    sh.groupBy(col("doc_id")).agg(
      min(Portable.h60(col("sh").cast("string"), "mh0|")).as("m0"),
      ((1 until P).map(i =>
        min(Portable.h60(col("sh").cast("string"), s"mh$i|")).as(s"m$i")) :+
        count(lit(1)).as("n")): _*)

  /** The (doc_id, band, bkey) LSH band table from a signature frame. */
  private[graft] def bandsFromMh(mh: DataFrame): DataFrame =
    mh.select(col("doc_id"), explode(array((0 until BANDS).map(b =>
        struct(lit(b).as("band"),
          md5(concat_ws(",", col(s"m${2 * b}"), col(s"m${2 * b + 1}")))
            .as("bkey"))): _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"),
        col("bb.bkey").as("bkey"))

  /** d2's pre-cap band table over any (doc_id, text) frame — the index
    * surface d13_cap_report audits (no persist: one-pass consumer). */
  private[graft] def minhashBandsOf(docs: DataFrame): DataFrame =
    bandsFromMh(minhashSigsOf(shinglesOf(docs)))

  /** D2's full MinHash/LSH pipeline over any (doc_id, text) input —
    * split from the Q so DedupSpec can drive it with an adversarial
    * corpus (hot-bucket fixture). Its persisted shingle, signature and
    * candidate tables stay until [[releaseCaches]]. */
  private[graft] def minhashNearDups(docs: DataFrame): DataFrame = {
      // The shingle and signature tables feed MULTIPLE downstream joins
      // (band self-join, intersection probes, size lookups); Catalyst
      // does not reuse the raw subtree across those consumers (verified:
      // 8 FileScans in the unmaterialized plan), so persist each ONCE —
      // every consumer then reads the same InMemoryRelation, the
      // local-mode analogue of checkpointing the signature table to
      // storage, which is what a 100 TB dedup pipeline does anyway.
      val sh = shinglesOf(docs).persist()
      val mh = minhashSigsOf(sh).persist()
      val bands = bandsFromMh(mh)
      // hot-bucket guard BEFORE the self-join: a degenerate band key
      // (boilerplate corpus) would emit |bucket|²/2 pairs. Join form,
      // not window: bands read from the persisted mh, so the double
      // scan is an in-memory re-read and no per-bucket sort is paid
      // (r9 A/B measured the forms at parity at sf0.1 — see
      // capBucketsJoin's doc and BASELINE_BENCH note 21).
      val kept = capBucketsJoin(bands, Seq("band", "bkey"))
      // cand also feeds two consumers (the intersection aggregation and
      // the final left join) — materialize it too, or the band self-join
      // and its distinct run twice
      val cand = kept.select(col("doc_id").as("id_a"), col("band"), col("bkey"))
        .join(kept.select(col("doc_id").as("id_b"), col("band"), col("bkey")),
          Seq("band", "bkey"))
        .filter(col("id_a") < col("id_b"))
        .select("id_a", "id_b").distinct()
        .persist()
      val sizes = mh.select(col("doc_id"), col("n"))
      val inter = cand
        .join(sh.select(col("doc_id").as("id_a"), col("sh")), Seq("id_a"))
        .join(sh.select(col("doc_id").as("id_b"), col("sh")),
          Seq("id_b", "sh"))
        .groupBy(col("id_a"), col("id_b"))
        .agg(count(lit(1)).as("n_inter"))
      cand
        .join(inter, Seq("id_a", "id_b"), "left")
        .join(sizes.select(col("doc_id").as("id_a"), col("n").as("na")), Seq("id_a"))
        .join(sizes.select(col("doc_id").as("id_b"), col("n").as("nb")), Seq("id_b"))
        .select(col("id_a"), col("id_b"),
          coalesce(col("n_inter"), lit(0L)).as("n_inter"),
          round(coalesce(col("n_inter"), lit(0L)).cast("double") /
            (col("na") + col("nb") - coalesce(col("n_inter"), lit(0L))), 6)
            .as("jaccard"))
  }

  /** DuckDB CTE chain ending in `bands(doc_id, band, bkey)` — the
    * oracle twin of [[minhashBandsOf]], shared by d2's oracle and
    * d13_cap_report. */
  private[graft] val d2BandsDuck: String = s"""toks AS (
        SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
      sh AS (
        SELECT DISTINCT doc_id,
          ${Portable.h60Duck(s"unnest(${ngramDuck(2)})", "sh|")} AS sh
        FROM toks WHERE len(t) >= 2),
      mh AS (
        SELECT doc_id,
          ${(0 until P).map(i =>
            s"min(${Portable.h60Duck("CAST(sh AS VARCHAR)", s"mh$i|")}) AS m$i")
            .mkString(", ")}
        FROM sh GROUP BY doc_id),
      bands AS (
        ${(0 until BANDS).map(b =>
          s"SELECT doc_id, $b AS band, md5(concat_ws(',', m${2 * b}, m${2 * b + 1})) AS bkey FROM mh")
          .mkString(" UNION ALL ")})"""

  /** The same chain as SPARK SQL text (prefix q2_), for the SQL
    * surface twin sql_d13_cap_report — mirrors [[d2BandsDuck]]. */
  private[graft] val d2BandsSparkCtes: String = s"""q2_toks AS (
        SELECT doc_id, split(lower(text), ' ') AS t FROM documents),
      q2_sh AS (
        SELECT DISTINCT doc_id, ${Portable.h60Sql("g", "sh|")} AS sh
        FROM (SELECT doc_id, explode(${ngramExpr(2)}) AS g
              FROM q2_toks WHERE size(t) >= 2) x),
      q2_mh AS (
        SELECT doc_id,
          ${(0 until P).map(i =>
            s"min(${Portable.h60Sql("CAST(sh AS STRING)", s"mh$i|")}) AS m$i")
            .mkString(", ")}
        FROM q2_sh GROUP BY doc_id),
      q2_bands AS (
        ${(0 until BANDS).map(b =>
          s"SELECT doc_id, $b AS band, md5(concat_ws(',', m${2 * b}, m${2 * b + 1})) AS bkey FROM q2_mh")
          .mkString(" UNION ALL ")})"""

  val d2DedupMinhash = Q(
    "d2_dedup_minhash",
    (s, d) => minhashNearDups(documents(s, d)),
    Some(s"""WITH $d2BandsDuck,
      bsz AS (
        SELECT band, bkey, count(*) AS c FROM bands GROUP BY 1, 2),
      bkept AS (
        SELECT b.doc_id, b.band, b.bkey FROM bands b
        JOIN bsz z ON z.band = b.band AND z.bkey = b.bkey
          AND z.c <= $BUCKET_CAP),
      cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bkept a JOIN bkept b
          ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
      sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      inter AS (
        SELECT c.id_a, c.id_b, count(*) AS n_inter
        FROM cand c
        JOIN sh sa ON sa.doc_id = c.id_a
        JOIN sh sb ON sb.doc_id = c.id_b AND sb.sh = sa.sh
        GROUP BY c.id_a, c.id_b)
      SELECT c.id_a, c.id_b, coalesce(i.n_inter, 0) AS n_inter,
        round(coalesce(i.n_inter, 0)::DOUBLE /
              (za.n + zb.n - coalesce(i.n_inter, 0)), 6) AS jaccard
      FROM cand c
      LEFT JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
      JOIN sizes za ON za.doc_id = c.id_a
      JOIN sizes zb ON zb.doc_id = c.id_b"""))

  // ---------------------------------------------------------------------
  // D17: incremental NEAR-dup dedup — the d10/d16 lifecycle discipline
  // applied to d2's MinHash index, closing the dedup-family incremental
  // matrix (exact → d10, line-level → d16, near-dup → THIS): an
  // arriving batch (doc_id % 4 == 0, d10's split) sheds paraphrase
  // duplicates against the standing corpus WITHOUT re-reading standing
  // text. The standing side is touched only through its MAINTAINED
  // artifacts: the P-column MinHash SIGNATURE table (P longs per doc)
  // and the band table derived from it, capped on the STANDING bucket
  // population (frozen sizing, the a18 convention; the batch's own
  // buckets cap on the batch population). Candidates come bucket-wise;
  // verification is SIGNATURE AGREEMENT — n_match = |{i : mᵢ(batch) =
  // mᵢ(standing)}|, an unbiased P-granular Jaccard estimator — because
  // exact shingle intersection would re-read standing text, which is
  // exactly what the incremental form exists to avoid (the honest
  // trade, stated: P=8 gives 1/8-granular similarity; the full d2
  // rebuild remains the replayable truth). A pair duplicates at
  // n_match >= D17_MINS (integer threshold — no ratio is ever
  // computed). Routing per batch doc, d10's order: dup_of_history
  // (best standing partner: max n_match, min id) beats dup_in_batch
  // (best SMALLER-id batch partner — the min-owner convention) beats
  // new. The report carries the partner and its n_match, so the
  // decision is auditable at P-granularity.
  // At 100 TB: batch cost = batch shingling + two band joins against
  // 16-byte/row artifacts; standing cost = zero scans.
  // ---------------------------------------------------------------------
  private[graft] val D17_MINS = 4 // of P=8 matching mins ⇔ est J ≥ 0.5

  val d17IncrementalNeardup = Q(
    "d17_incremental_neardup",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = documents(s, d)
      val mhS = minhashSigsOf(shinglesOf(docs.filter(col("doc_id") % 4 =!= 0)))
      val mhB = minhashSigsOf(shinglesOf(docs.filter(col("doc_id") % 4 === 0)))
      val bandsS = capBucketsJoin(bandsFromMh(mhS), Seq("band", "bkey"))
      val bandsB = capBucketsJoin(bandsFromMh(mhB), Seq("band", "bkey"))
      def agree(l: String, r: String): Column =
        (0 until P).map(i =>
          when(col(s"$l$i") === col(s"$r$i"), 1L).otherwise(0L))
          .reduce(_ + _)
      def renamed(mh: DataFrame, p: String): DataFrame =
        (0 until P).foldLeft(
          mh.select((col("doc_id") +: (0 until P).map(i =>
            col(s"m$i"))): _*)) {
          (df, i) => df.withColumnRenamed(s"m$i", s"$p$i")
        }
      def best(cand: DataFrame, left: DataFrame, right: DataFrame)
          : DataFrame = {
        val w = Window.partitionBy(col("doc_id"))
          .orderBy(col("n_match").desc, col("matched_id").asc)
        cand
          .join(renamed(left, "lm"), Seq("doc_id"))
          .join(renamed(right, "rm")
            .withColumnRenamed("doc_id", "matched_id"),
            Seq("matched_id"))
          .select(col("doc_id"), col("matched_id"),
            agree("lm", "rm").as("n_match"))
          .filter(col("n_match") >= D17_MINS)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("doc_id"), col("matched_id"), col("n_match"))
      }
      val histCand = bandsB.select(col("doc_id"), col("band"), col("bkey"))
        .join(bandsS.select(col("doc_id").as("matched_id"),
          col("band"), col("bkey")), Seq("band", "bkey"))
        .select("doc_id", "matched_id").distinct()
      val batchCand = bandsB.select(col("doc_id"), col("band"), col("bkey"))
        .join(bandsB.select(col("doc_id").as("matched_id"),
          col("band"), col("bkey")), Seq("band", "bkey"))
        .filter(col("matched_id") < col("doc_id"))
        .select("doc_id", "matched_id").distinct()
      val bestHist = best(histCand, mhB, mhS)
        .withColumnRenamed("matched_id", "h_id")
        .withColumnRenamed("n_match", "h_n")
      val bestBatch = best(batchCand, mhB, mhB)
        .withColumnRenamed("matched_id", "b_id")
        .withColumnRenamed("n_match", "b_n")
      docs.filter(col("doc_id") % 4 === 0).select(col("doc_id"))
        .join(bestHist, Seq("doc_id"), "left")
        .join(bestBatch, Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("h_n").isNotNull, "dup_of_history")
            .when(col("b_n").isNotNull, "dup_in_batch")
            .otherwise("new").as("status"),
          coalesce(when(col("h_n").isNotNull, col("h_id"))
            .otherwise(col("b_id")), lit(-1L)).as("matched_id"),
          coalesce(when(col("h_n").isNotNull, col("h_n"))
            .otherwise(col("b_n")), lit(0L)).as("n_match"))
    },
    Some {
      def mins(src: String) = (0 until P).map(i =>
        s"min(${Portable.h60Duck("CAST(sh AS VARCHAR)", s"mh$i|")}) AS m$i")
        .mkString(", ")
      def bandsOf(mh: String) = (0 until BANDS).map(b =>
        s"SELECT doc_id, $b AS band, " +
          s"md5(concat_ws(',', m${2 * b}, m${2 * b + 1})) AS bkey FROM $mh")
        .mkString(" UNION ALL ")
      def capped(bands: String) =
        s"""SELECT b.doc_id, b.band, b.bkey FROM $bands b
          JOIN (SELECT band, bkey, count(*) AS c FROM $bands
                GROUP BY 1, 2) z
            ON z.band = b.band AND z.bkey = b.bkey
              AND z.c <= $BUCKET_CAP"""
      val agree = (0 until P).map(i =>
        s"CASE WHEN l.m$i = r.m$i THEN 1 ELSE 0 END").mkString(" + ")
      def bestOf(cand: String, l: String, r: String) =
        s"""SELECT doc_id, matched_id, n_match FROM (
          SELECT nm.*, row_number() OVER (PARTITION BY doc_id
            ORDER BY n_match DESC, matched_id ASC) AS rn
          FROM (
            SELECT c.doc_id, c.matched_id,
              CAST($agree AS BIGINT) AS n_match
            FROM $cand c
            JOIN $l l ON l.doc_id = c.doc_id
            JOIN $r r ON r.doc_id = c.matched_id) nm
          WHERE n_match >= $D17_MINS) t
        WHERE rn = 1"""
      s"""WITH toks AS (
        SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
      sh AS (
        SELECT DISTINCT doc_id,
          ${Portable.h60Duck(s"unnest(${ngramDuck(2)})", "sh|")} AS sh
        FROM toks WHERE len(t) >= 2),
      mh_s AS (SELECT doc_id, ${mins("sh")} FROM sh
               WHERE doc_id % 4 <> 0 GROUP BY doc_id),
      mh_b AS (SELECT doc_id, ${mins("sh")} FROM sh
               WHERE doc_id % 4 = 0 GROUP BY doc_id),
      bands_s0 AS (${bandsOf("mh_s")}),
      bands_b0 AS (${bandsOf("mh_b")}),
      bands_s AS (${capped("bands_s0")}),
      bands_b AS (${capped("bands_b0")}),
      histcand AS (
        SELECT DISTINCT b.doc_id, s.doc_id AS matched_id
        FROM bands_b b JOIN bands_s s
          ON s.band = b.band AND s.bkey = b.bkey),
      batchcand AS (
        SELECT DISTINCT a.doc_id, b.doc_id AS matched_id
        FROM bands_b a JOIN bands_b b
          ON b.band = a.band AND b.bkey = a.bkey
            AND b.doc_id < a.doc_id),
      besthist AS (${bestOf("histcand", "mh_b", "mh_s")}),
      bestbatch AS (${bestOf("batchcand", "mh_b", "mh_b")})
      SELECT d.doc_id,
        CASE WHEN h.n_match IS NOT NULL THEN 'dup_of_history'
             WHEN b.n_match IS NOT NULL THEN 'dup_in_batch'
             ELSE 'new' END AS status,
        coalesce(CASE WHEN h.n_match IS NOT NULL THEN h.matched_id
                      ELSE b.matched_id END, -1) AS matched_id,
        coalesce(CASE WHEN h.n_match IS NOT NULL THEN h.n_match
                      ELSE b.n_match END, 0) AS n_match
      FROM (SELECT doc_id FROM documents WHERE doc_id % 4 = 0) d
      LEFT JOIN besthist h ON h.doc_id = d.doc_id
      LEFT JOIN bestbatch b ON b.doc_id = d.doc_id"""
    })

  // ---------------------------------------------------------------------
  // D3: SimHash — 16-bit locality-sensitive signature per document.
  // Per distinct token: portable 60-bit hash; signature bit j is the sign
  // of Σ_tokens (±1 by token-hash bit j). One explode + one hash-agg; the
  // signature is a single BIGINT column any downstream grouping can
  // bucket on (hamming-neighbor probing at scale).
  // ---------------------------------------------------------------------
  private val SIMHASH_BITS = 16

  /** The (doc_id, simhash) signature frame — d3's body, reused by d3b's
    * near-dup pairing so the signature definition exists once. */
  private def simhashesOf(s: SparkSession, d: String): DataFrame = {
    val tok = documents(s, d)
      .select(col("doc_id"),
        explode(split(lower(col("text")), " ")).as("tok"))
      .distinct()
      .withColumn("h", Portable.h60(col("tok"), "sh|"))
    val sums = tok.groupBy(col("doc_id")).agg(
      sum(when(expr(s"(h div ${1L}) % 2") === 1, 1).otherwise(-1)).as("b0"),
      (1 until SIMHASH_BITS).map(j =>
        sum(when(expr(s"(h div ${1L << j}) % 2") === 1, 1).otherwise(-1))
          .as(s"b$j")): _*)
    sums.select(col("doc_id"),
      (0 until SIMHASH_BITS).map(j =>
        when(col(s"b$j") > 0, lit(1L << j)).otherwise(lit(0L)))
        .reduce(_ + _).as("simhash"))
  }

  /** DuckDB CTE chain ending in `sh(doc_id, simhash)` — the oracle twin
    * of [[simhashesOf]], shared by d3 and d3b. */
  private val simhashSql = s"""tok AS (
        SELECT DISTINCT doc_id, unnest(string_split(lower(text), ' ')) AS tok
        FROM documents),
      th AS (SELECT doc_id, ${Portable.h60Duck("tok", "sh|")} AS h FROM tok),
      sums AS (
        SELECT doc_id,
          ${(0 until SIMHASH_BITS).map(j =>
            s"sum(CASE WHEN (h // ${1L << j}) % 2 = 1 THEN 1 ELSE -1 END) AS b$j")
            .mkString(", ")}
        FROM th GROUP BY doc_id),
      sh AS (
        SELECT doc_id, CAST(${(0 until SIMHASH_BITS).map(j =>
          s"(CASE WHEN b$j > 0 THEN ${1L << j} ELSE 0 END)").mkString(" + ")}
          AS BIGINT) AS simhash
        FROM sums)"""

  val d3Simhash = Q(
    "d3_simhash",
    (s, d) => simhashesOf(s, d),
    Some(s"""WITH $simhashSql SELECT doc_id, simhash FROM sh"""))

  // ---------------------------------------------------------------------
  // D3b: SimHash NEAR-DUP PAIRING — the decision d3's fingerprints
  // exist to enable. Bit-sampling blocking: the 16-bit signature splits
  // into 2 bands of 8 bits; docs sharing ANY band are candidates, then
  // an exact popcount(xor) Hamming filter keeps pairs within HAM_MAX.
  // With HAM_MAX = 1 < 2 bands the blocking is PIGEONHOLE-COMPLETE
  // over surviving buckets — one differing bit cannot touch both
  // bands, so every qualifying pair shares an intact band; the ONLY
  // sanctioned loss is the structural BUCKET_CAP on degenerate-hot
  // buckets (DedupSpec replicates banding+cap+hamming independently
  // and demands exact set equality). Band width is a selectivity
  // dial, and 8 bits is the deliberate choice: organic signatures
  // concentrate hard (11% of sf0.001 all-pairs sit within Hamming 1),
  // so 4-bit bands (16 buckets/band) degenerate toward all-pairs and
  // force the cap to drop most of the corpus; 256 buckets/band keeps
  // buckets ~n/256 and the cap a true anomaly guard. Scale shape is d2's: candidates
  // shuffle on (band, bkey) — 2 rows per doc, never all-pairs — with
  // the same structural BUCKET_CAP guard on degenerate buckets (a
  // zero-ish signature from boilerplate is this scheme's hot band key).
  // ---------------------------------------------------------------------
  private val HAM_MAX = 1
  private val SIMHASH_BANDS = 2
  private val BAND_BITS = SIMHASH_BITS / SIMHASH_BANDS

  /** d3b's pre-cap band table (bit-sampling blocks of the simhash) —
    * also the index surface d13_cap_report audits. */
  private[graft] def simhashBandsOf(s: SparkSession, d: String)
      : DataFrame =
    simhashesOf(s, d).select(col("doc_id"), col("simhash"),
        explode(array((0 until SIMHASH_BANDS).map(j =>
          struct(lit(j).as("band"),
            expr(s"(simhash div ${1L << (BAND_BITS * j)}) % ${1 << BAND_BITS}")
              .as("bkey"))): _*)).as("e"))
      .select(col("doc_id"), col("simhash"),
        col("e.band").as("band"), col("e.bkey").as("bkey"))

  /** DuckDB CTE chain ending in `bands(doc_id, simhash, band, bkey)` —
    * the oracle twin of [[simhashBandsOf]], shared by d3b's oracle and
    * d13_cap_report. */
  private[graft] val d3bBandsDuck: String = s"""$simhashSql,
      bands AS (
        SELECT doc_id, simhash, j AS band,
          (simhash // (CASE j ${(0 until SIMHASH_BANDS).map(j =>
            s"WHEN $j THEN ${1L << (BAND_BITS * j)}").mkString(" ")}
            END)) % ${1 << BAND_BITS} AS bkey
        FROM sh, unnest([${(0 until SIMHASH_BANDS).mkString(", ")}]) AS t(j))"""

  /** [[d3bBandsDuck]] as SPARK SQL text (prefix q3_), for
    * sql_d13_cap_report. */
  private[graft] val d3bBandsSparkCtes: String = s"""q3_tok AS (
        SELECT DISTINCT doc_id, explode(split(lower(text), ' ')) AS tok
        FROM documents),
      q3_th AS (SELECT doc_id, ${Portable.h60Sql("tok", "sh|")} AS h
        FROM q3_tok),
      q3_sums AS (
        SELECT doc_id,
          ${(0 until SIMHASH_BITS).map(j =>
            s"sum(CASE WHEN (h div ${1L << j}) % 2 = 1 THEN 1 ELSE -1 END) AS b$j")
            .mkString(", ")}
        FROM q3_th GROUP BY doc_id),
      q3_sh AS (
        SELECT doc_id, CAST(${(0 until SIMHASH_BITS).map(j =>
          s"(CASE WHEN b$j > 0 THEN ${1L << j} ELSE 0 END)").mkString(" + ")}
          AS BIGINT) AS simhash
        FROM q3_sums),
      q3_bands AS (
        ${(0 until SIMHASH_BANDS).map(j =>
          s"SELECT doc_id, $j AS band, (simhash div ${1L << (BAND_BITS * j)}) % ${1 << BAND_BITS} AS bkey FROM q3_sh")
          .mkString(" UNION ALL ")})"""

  val d3bSimhashNeardup = Q(
    "d3b_simhash_neardup",
    (s, d) => {
      val bands = simhashBandsOf(s, d)
      val kept = capBuckets(bands, Seq("band", "bkey"))
      kept.select(col("doc_id").as("id_a"), col("simhash").as("sh_a"),
          col("band"), col("bkey"))
        .join(kept.select(col("doc_id").as("id_b"),
          col("simhash").as("sh_b"), col("band"), col("bkey")),
          Seq("band", "bkey"))
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          expr("bit_count(sh_a ^ sh_b)").cast("long").as("hamming"))
        .distinct()
        .filter(col("hamming") <= HAM_MAX)
    },
    Some(s"""WITH $d3bBandsDuck,
      bsz AS (
        SELECT band, bkey, count(*) AS c FROM bands GROUP BY 1, 2),
      kept AS (
        SELECT b.* FROM bands b
        JOIN bsz z ON z.band = b.band AND z.bkey = b.bkey
          AND z.c <= $BUCKET_CAP),
      cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
          CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
        FROM kept a
        JOIN kept b ON a.band = b.band AND a.bkey = b.bkey
          AND a.doc_id < b.doc_id)
      SELECT id_a, id_b, hamming FROM cand WHERE hamming <= $HAM_MAX"""))

  // ---------------------------------------------------------------------
  // D5: n-gram Jaccard near-dup — EXACT Jaccard over word-trigram sets,
  // with anchor-gram blocking for candidate generation: each doc
  // nominates its ANCHORS smallest-hash trigrams, and only docs sharing
  // an anchor are compared. A deliberately different scale scheme from
  // d2 (banded MinHash over bigram shingles): no signature table, recall
  // is governed by the anchor count, and the similarity is computed on
  // the raw n-gram sets. Anchor buckets shuffle on the gram hash; a hot
  // anchor (boilerplate phrase) is the same quadratic threat as a hot
  // band key in d2, and gets the same structural BUCKET_CAP guard —
  // AQE can rebalance a skewed partition but not shrink a bucket's
  // pair count.
  // ---------------------------------------------------------------------
  private[graft] val ANCHORS = 2

  /** Distinct word n-grams per doc, identified by their seeded 60-bit
    * hash — the unit sets for d5's Jaccard (n=3) and d6's overlap probe
    * (n=4). Hashing precedes the distinct, so the dedup shuffle and all
    * downstream joins move 8-byte longs, never gram strings (same
    * narrow-key rationale and collision caveat as `shingles`). */
  private def wordNgramHashes(
      s: SparkSession, d: String, n: Int, seed: String,
      dedup: Boolean = true): DataFrame =
    wordNgramHashesOf(documents(s, d), n, seed, dedup)

  private def wordNgramHashesOf(
      docs: DataFrame, n: Int, seed: String,
      dedup: Boolean = true): DataFrame = {
    // (r20 probe: a spreadScan here was tried and REVERTED — see
    // shinglesOf; same flat-wall / inflated-CPU outcome.)
    val g = docs
      .select(col("doc_id"), split(lower(col("text")), " ").as("t"))
      .filter(size(col("t")) >= n)
      .select(col("doc_id"), explode(expr(ngramExpr(n))).as("gram"))
      .select(col("doc_id"), Portable.h60(col("gram"), seed).as("gh"))
    if (dedup) g.distinct() else g
  }

  /** Anchor-blocked candidate pairs with exact intersection/set sizes —
    * the shared generator for d5 (thresholded Jaccard report) and d7
    * (duplicate-cluster assembly). Columns: id_a, id_b, ni, na, nb. */
  private def ngramPairStats(s: SparkSession, d: String): DataFrame =
    ngramPairStatsOf(documents(s, d))

  /** (doc_id, gs): each doc's distinct trigram hashes as one ascending
    * array — the ONE per-doc gram table behind d5's anchors, set sizes
    * and intersections. The explicit not-null filters are the ones a
    * join on doc_id would otherwise infer and push below the grouping
    * for its own consumer: stated once, every consumer reads the same
    * aggregate subtree, so AQE reuses its exchange and the scan → split
    * → explode → hash chain runs once. */
  private def gramSetsOf(docs: DataFrame): DataFrame =
    wordNgramHashesOf(docs, 3, "ng|", dedup = false)
      .filter(col("doc_id").isNotNull && col("gh").isNotNull)
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_set(col("gh"))).as("gs"))

  /** Each doc's [[ANCHORS]] smallest-hash trigrams: the first slots of
    * its sorted gram set, one projection per slot (no second
    * Generate); a doc with fewer grams fills fewer slots. */
  private def anchorsOfSets(sets: DataFrame): DataFrame =
    (1 to ANCHORS).map { k =>
      sets.select(col("doc_id"),
          try_element_at(col("gs"), lit(k)).as("anchor"))
        .filter(col("anchor").isNotNull)
    }.reduce(_ union _)

  /** d5's pre-cap anchor table (per-doc [[ANCHORS]] smallest-hash
    * trigrams) — also the index surface d13_cap_report audits. */
  private[graft] def anchorsOf(docs: DataFrame): DataFrame =
    anchorsOfSets(gramSetsOf(docs))

  private[graft] def ngramPairStatsOf(docs: DataFrame): DataFrame = {
    val sets = gramSetsOf(docs)
    // hot-anchor guard: one boilerplate gram shared by m docs would
    // otherwise emit m²/2 candidate pairs
    val kept = capBuckets(anchorsOfSets(sets), Seq("anchor"))
    val cand = kept.select(col("doc_id").as("id_a"), col("anchor"))
      .join(kept.select(col("doc_id").as("id_b"), col("anchor")),
        Seq("anchor"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    // both sides are sets, so the intersection's size is |A ∩ B|: the
    // candidate pairs meet the gram table twice, never the gram rows
    cand
      .join(sets.select(col("doc_id").as("id_a"), col("gs").as("ga")),
        Seq("id_a"))
      .join(sets.select(col("doc_id").as("id_b"), col("gs").as("gb")),
        Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("ga"), col("gb"))).cast("long").as("ni"),
        size(col("ga")).cast("long").as("na"),
        size(col("gb")).cast("long").as("nb"))
  }

  /** DuckDB CTE chain mirroring [[ngramPairStats]] (ends in `pstats`);
    * prefix with WITH / WITH RECURSIVE and append consumers. */
  /** DuckDB CTE chain ending in `anchors(doc_id, anchor)` — the oracle
    * twin of [[anchorsOf]], shared by d5's oracle and d13_cap_report. */
  private[graft] val d5AnchorsDuck: String = s"""toks AS (
        SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
      grams AS (
        SELECT DISTINCT doc_id,
          ${Portable.h60Duck(s"unnest(${ngramDuck(3)})", "ng|")} AS gh
        FROM toks WHERE len(t) >= 3),
      anchors AS (
        SELECT doc_id, gh AS anchor FROM (
          SELECT doc_id, gh, row_number() OVER (PARTITION BY doc_id
            ORDER BY gh ASC) AS rn FROM grams) t
        WHERE rn <= $ANCHORS)"""

  private val ngramPairStatsSql = s"""$d5AnchorsDuck,
      asz AS (SELECT anchor, count(*) AS c FROM anchors GROUP BY 1),
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
        JOIN sizes zb ON zb.doc_id = c.id_b)"""

  /** [[d5AnchorsDuck]] as SPARK SQL text (prefix q5_), for
    * sql_d13_cap_report. */
  private[graft] val d5AnchorsSparkCtes: String = s"""q5_toks AS (
        SELECT doc_id, split(lower(text), ' ') AS t FROM documents),
      q5_grams AS (
        SELECT DISTINCT doc_id, ${Portable.h60Sql("g", "ng|")} AS gh
        FROM (SELECT doc_id, explode(${ngramExpr(3)}) AS g
              FROM q5_toks WHERE size(t) >= 3) x),
      q5_anchors AS (
        SELECT doc_id, gh AS anchor FROM (
          SELECT doc_id, gh, row_number() OVER (PARTITION BY doc_id
            ORDER BY gh ASC) AS rn FROM q5_grams) t
        WHERE rn <= $ANCHORS)"""

  val d5NgramJaccard = Q(
    "d5_ngram_jaccard",
    (s, d) =>
      // threshold on EXACT integer arithmetic — jaccard >= 1/5 iff
      // 5*|A∩B| >= |A∪B| — so Spark's BigDecimal HALF_UP round and
      // DuckDB's double-scaled round can't disagree on a 6th-digit tie
      // and flip a pair across the cut (ADVICE r3); round() is display
      // only.
      ngramPairStats(s, d)
        .filter(col("ni") * 5 >= col("na") + col("nb") - col("ni"))
        .select(col("id_a"), col("id_b"),
          round(col("ni").cast("double") /
            (col("na") + col("nb") - col("ni")), 6).as("jaccard")),
    Some(s"""WITH $ngramPairStatsSql
      SELECT id_a, id_b,
        round(ni::DOUBLE / (na + nb - ni), 6) AS jaccard
      FROM pstats
      WHERE ni * 5 >= na + nb - ni"""))

  // ---------------------------------------------------------------------
  // D11: duplicated-SUBSTRING detection — the span-level dedup decision
  // (Lee et al., "Deduplicating Training Data Makes Language Models
  // Better": remove repeated long substrings, not just whole near-dup
  // documents). A K-token window slides over every doc; a window whose
  // hash occurs in MORE THAN ONE document is duplicated text, and
  // overlapping/adjacent duplicated windows merge into maximal spans
  // per doc (gaps-and-islands over window positions). Output: per
  // affected doc, how many spans and how many of its tokens sit inside
  // cross-document duplicated text.
  //
  // THE scale property: unlike every pairing op (d2/d3b/d5), no pair
  // is ever materialized — a boilerplate window shared by m docs costs
  // m posting rows, never m²/2 candidates, so there is no hot-bucket
  // guard to need. Three shuffles total, all on narrow keys: the
  // postings hash-agg on the 8-byte window hash (map-side combined),
  // the semi-join of postings against the duplicated-hash set (same
  // key), and the per-doc window sort for span merge (doc_id key,
  // positions only — the text never shuffles). At 100 TB the
  // duplicated-hash set is the only intermediate that grows with
  // corpus redundancy, and it stays (hash) 8 bytes/entry.
  //
  // Portability: within-doc window positions are 0-based on both
  // sides (posexplode / range), and the island break is integer
  // arithmetic — pos-diff > K starts a new span, so coverage
  // [p, p+K-1] unions exactly. The duplicated-fraction report is
  // dup_frac_ppm, a half-up-rounded parts-per-million computed in PURE
  // integer arithmetic ((2·dup·10⁶ + n) div 2n) — r8 shipped it as a
  // round(double/double, 6) and the driver hash caught the one
  // engine-dependent ulp (CORRECTNESS_r08's single red row); integers
  // cannot disagree — PROVIDED the oracle's integer stays an integer
  // through the comparator: DuckDB sum(BIGINT) returns HUGEINT, which
  // pandas widens to float64, and the driver's value hash renders 47
  // vs 47.0 differently (r9/r10's persistent red row with cell-wise
  // identical values). Every oracle integer aggregate is therefore
  // CAST(... AS BIGINT) at the output edge.
  // ---------------------------------------------------------------------
  private val SUB_K = 8 // window length in tokens

  /** d11's body over any documents-shaped frame — separated so DedupSpec
    * can drive planted fixtures through the exact production path. */
  private[graft] def substringDedupOf(docs: DataFrame): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      val wins = docs
        .select(col("doc_id"), split(lower(col("text")), " ").as("t"))
        .filter(size(col("t")) >= SUB_K)
        .select(col("doc_id"), size(col("t")).cast("long").as("n_tokens"),
          posexplode(expr(ngramExpr(SUB_K))).as(Seq("pos", "gram")))
        .select(col("doc_id"), col("n_tokens"), col("pos"),
          Portable.h60(col("gram"), "ss|").as("gh"))
      // windows present in >1 DISTINCT doc (within-doc repetition is
      // t13's signal, not duplication): distinct (gh, doc) postings,
      // then a count per hash — both map-side-combinable hash-aggs
      val dup = wins.select(col("gh"), col("doc_id")).distinct()
        .groupBy(col("gh")).agg(count(lit(1)).as("c"))
        .filter(col("c") >= 2).select(col("gh"))
      // (doc, pos) is unique by construction, so the semi-join output
      // needs no dedup before the island pass
      val hits = wins.join(dup, Seq("gh"), "left_semi")
      val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      val spans = hits
        .withColumn("brk",
          when(col("pos") - lag(col("pos"), 1).over(w) <= SUB_K, 0)
            .otherwise(1))
        .withColumn("g", sum(col("brk")).over(w))
        .groupBy(col("doc_id"), col("n_tokens"), col("g"))
        .agg(min(col("pos")).as("p0"), max(col("pos")).as("p1"))
      spans.groupBy(col("doc_id"), col("n_tokens"))
        .agg(count(lit(1)).as("n_spans"),
          sum(col("p1") - col("p0") + SUB_K).as("n_dup_tokens"))
        .select(col("doc_id"), col("n_tokens"), col("n_spans"),
          col("n_dup_tokens"),
          expr("(n_dup_tokens * 2000000L + n_tokens) div (n_tokens * 2)")
            .as("dup_frac_ppm"))
  }

  val d11SubstringDedup = Q(
    "d11_substring_dedup",
    (s, d) => substringDedupOf(documents(s, d)),
    Some(s"""WITH toks AS (
        SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
      win AS (
        SELECT doc_id, len(t) AS n_tokens,
          unnest(range(len(t) - ${SUB_K - 1})) AS pos, t
        FROM toks WHERE len(t) >= $SUB_K),
      wh AS (
        SELECT doc_id, n_tokens, pos,
          ${Portable.h60Duck(
            s"concat_ws(' ', ${(1 to SUB_K).map(j => s"t[pos+$j]").mkString(", ")})",
            "ss|")} AS gh
        FROM win),
      dup AS (
        SELECT gh FROM (
          SELECT gh, count(DISTINCT doc_id) AS c FROM wh GROUP BY 1)
        WHERE c >= 2),
      hits AS (SELECT w.doc_id, w.n_tokens, w.pos FROM wh w JOIN dup USING (gh)),
      isl AS (
        SELECT doc_id, n_tokens, pos,
          CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
            <= $SUB_K THEN 0 ELSE 1 END AS brk
        FROM hits),
      grp AS (
        SELECT doc_id, n_tokens, pos,
          sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS g
        FROM isl),
      spans AS (
        SELECT doc_id, n_tokens, min(pos) AS p0, max(pos) AS p1
        FROM grp GROUP BY doc_id, n_tokens, g)
      SELECT doc_id, n_tokens, count(*) AS n_spans,
        CAST(sum(p1 - p0 + $SUB_K) AS BIGINT) AS n_dup_tokens,
        CAST((sum(p1 - p0 + $SUB_K) * 2000000 + n_tokens) // (n_tokens * 2)
          AS BIGINT) AS dup_frac_ppm
      FROM spans GROUP BY doc_id, n_tokens"""))

  // ---------------------------------------------------------------------
  // D7: duplicate-CLUSTER assembly — connected components over the
  // near-dup pair graph d5 emits. Pairwise similarity is not a dedup
  // decision: if A~B and B~C, one survivor must represent {A,B,C} even
  // when A~C was never scored, so every production dedup pipeline runs a
  // CC pass between candidate scoring and survivor election.
  //
  // Algorithm: iterative min-label propagation to a FIXPOINT —
  // lbl(v) ← min(lbl(v), min over neighbors lbl(u)) — each round one
  // equi-join of the symmetrized edge list with the labels, unioned
  // with every vertex's own row carrying its current label as `old`,
  // and ONE hash-agg yielding (lbl, old) per vertex; the round is
  // persisted and the convergence action is a count of its lbl < old
  // rows (no second join against the previous labels). The round
  // count comes back with the labels (CcLabels.rounds); DedupSpec pins
  // it to the graph's depth. Rounds needed = graph diameter, and near-dup
  // components are anchor-bucket cliques glued at shared docs (diameter
  // a few hops), so the loop is O(few) rounds of narrow (v, lbl) long
  // pairs; an adversarial long-chain graph would call for the
  // large-star/small-star contraction (O(log²) rounds) on the same
  // relational skeleton. The driver-side loop holds only a changed-row
  // COUNT, never data.
  //
  // The fixpoint is algorithm-independent (component-min labels), which
  // is what makes an engine-independent oracle possible: DuckDB computes
  // the same labels by recursive reachability closure — min reachable
  // vertex id == component min on a symmetric graph.
  // ---------------------------------------------------------------------
  private val CC_MAX_ROUNDS = 50

  /** Recursive-closure CTE chain from `pstats` to component-min
    * `labels` — the ONE oracle definition of the near-dup cluster
    * labels, shared by d7's report and c1b's election. Must follow
    * [[ngramPairStatsSql]] under a WITH RECURSIVE. */
  private val ccLabelsSql = """edges AS (
        SELECT id_a, id_b FROM pstats WHERE ni * 5 >= na + nb - ni),
      sym AS (
        SELECT id_a AS v, id_b AS n FROM edges
        UNION ALL
        SELECT id_b AS v, id_a AS n FROM edges),
      verts AS (SELECT DISTINCT v FROM sym),
      reach AS (
        SELECT v, v AS lbl FROM verts
        UNION
        SELECT s.n AS v, r.lbl FROM reach r JOIN sym s ON s.v = r.v),
      labels AS (SELECT v, min(lbl) AS lbl FROM reach GROUP BY v)"""

  /** Converged (v, lbl) component-min labels + the propagation round
    * count (the seed round excluded). */
  private[graft] final case class CcLabels(labels: DataFrame, rounds: Int)

  /** d7's min-label fixpoint over the near-dup pair graph — the ONE
    * label computation, returning the (v, lbl) labels, read from the
    * persisted last round (held, with the persisted edge list, until
    * [[releaseCaches]]), and the round count. Shared by d7's per-doc
    * report, d7b's size distribution, and the c1b/e4 cluster elections:
    * every consumer reads the label table itself instead of d7's
    * per-doc report and immediately re-aggregating/projecting away the
    * cluster_size it paid a broadcast join for (r9 — VERDICT r8
    * next-round #4). */
  private[graft] def ccLabelFixpoint(
      s: SparkSession, d: String): CcLabels = {
      val edges = ngramPairStats(s, d)
        .filter(col("ni") * 5 >= col("na") + col("nb") - col("ni"))
        .select(col("id_a"), col("id_b"))
      // symmetrize once and pin: every propagation round re-reads it.
      // explode-of-both-directions, NOT a self-union: a union's two
      // branches each evaluate `edges` — i.e. the whole candidate-
      // generation subtree (explode → hash → distinct → top-k → join)
      // runs twice before the persist ever materializes. The explode
      // form emits both directed rows from ONE scan of the pair list
      // (r8: this alone was d7's 1.7×-vs-pin regression).
      val sym = edges
        .select(explode(array(
          struct(col("id_a").as("v"), col("id_b").as("n")),
          struct(col("id_b").as("v"), col("id_a").as("n")))).as("e"))
        .select(col("e.v").as("v"), col("e.n").as("n"))
        .persist()
      // seed with min(v, min neighbor) — this IS propagation round 1,
      // fused into the vertex-set aggregation that initialization needs
      // anyway: star components centered at their min converge at once
      var lbl = sym.groupBy(col("v"))
        .agg(min(col("n")).as("mn"))
        .select(col("v"), least(col("v"), col("mn")).as("lbl")).persist()
      var converged = false
      var rounds = 0
      while (!converged && rounds < CC_MAX_ROUNDS) {
        // the union carries each vertex's current label as `old`, so
        // ONE groupBy yields (lbl, old) — no second next ⋈ lbl join
        val next = sym.as("s")
          .join(lbl.as("l"), col("s.n") === col("l.v"))
          .select(col("s.v").as("v"), col("l.lbl").as("lbl"),
            lit(null).cast("long").as("old"))
          .union(lbl.select(col("v"), col("lbl"), col("lbl").as("old")))
          .groupBy(col("v"))
          .agg(min(col("lbl")).as("lbl"), max(col("old")).as("old"))
          .persist()
        // labels only ever decrease under min-propagation, so one
        // strict-< count is a complete convergence test; it also
        // materializes next's cache, after which the superseded
        // frontier is dead weight — release it immediately rather than
        // letting round count multiply the cache footprint
        val changed = next.filter(col("lbl") < col("old")).count()
        lbl.unpersist(blocking = false)
        lbl = next
        converged = changed == 0
        rounds += 1
      }
      require(converged,
        s"d7: label propagation not at fixpoint after $CC_MAX_ROUNDS rounds")
      CcLabels(lbl.select(col("v"), col("lbl")), rounds)
  }

  val d7DedupCc = Q(
    "d7_dedup_cc",
    (s, d) => {
      val lbl = ccLabelFixpoint(s, d).labels
      val cs = lbl.groupBy(col("lbl")).agg(count(lit(1)).as("cluster_size"))
      // cluster count ≤ vertex count and shrinks with merging — the size
      // lookup is a textbook broadcast dimension
      lbl.as("x").join(broadcast(cs).as("c"), col("x.lbl") === col("c.lbl"))
        .select(col("x.v").as("doc_id"), col("x.lbl").as("cluster_id"),
          col("c.cluster_size"))
    },
    Some(s"""WITH RECURSIVE $ngramPairStatsSql,
      $ccLabelsSql,
      cs AS (SELECT lbl, count(*) AS cluster_size FROM labels GROUP BY lbl)
      SELECT l.v AS doc_id, l.lbl AS cluster_id, c.cluster_size
      FROM labels l JOIN cs c ON c.lbl = l.lbl"""))

  // ---------------------------------------------------------------------
  // D8: connected components by LARGE-STAR / SMALL-STAR contraction —
  // the O(log² n)-round alternative to d7's min-label propagation
  // (Kiveris et al., "Connected Components in MapReduce and Beyond",
  // SoCC 2014). d7 needs diameter-many rounds, which is fine for the
  // clique-glued near-dup graphs it targets but degenerates on long
  // chains; star contraction REWRITES the edge set each round so every
  // vertex hops toward the component minimum at doubling speed:
  //   large-star: per center u, reconnect each larger neighbor to
  //     m = min(Γ(u) ∪ {u})  — one window-min over the symmetrized list;
  //   small-star: per center u, reconnect u and its smaller neighbors
  //     to their minimum    — one window-min over the edge list directed
  //     at its larger endpoint.
  // Both steps are (window-min + filter + dedup) — pure relational,
  // shuffle keyed on the center vertex, no driver-side data; the loop
  // holds only a changed-edge COUNT. At a fixpoint the edge set IS the
  // star {(m, v)} of every component, so labels fall out of the final
  // edge list without a closure query. Same candidate generator
  // (pstats), same output shape, and the same oracle as d7 — the
  // fixpoint (component-min labels) is algorithm-independent.
  // ---------------------------------------------------------------------

  /** One large-star round: every vertex-center reconnects its LARGER
    * neighbors to the minimum of its closed neighborhood. Canonical
    * (a &lt; b) distinct edges in and out. */
  private[graft] def largeStar(edges: DataFrame): DataFrame = {
    val sym = edges.select(col("a").as("u"), col("b").as("v"))
      .union(edges.select(col("b").as("u"), col("a").as("v")))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("u"))
    sym.select(col("u"), col("v"),
        least(col("u"), min(col("v")).over(w)).as("m"))
      .filter(col("v") > col("u"))
      .select(col("m").as("a"), col("v").as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
  }

  /** One small-star round: every vertex-center reconnects ITSELF and its
    * smaller neighbors to their collective minimum. Canonical edges in
    * and out. */
  private[graft] def smallStar(edges: DataFrame): DataFrame = {
    // input is canonical, so b is each edge's larger endpoint: partition
    // by it directly — no symmetrize needed
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("b"))
    val withMin = edges.select(col("a"), col("b"),
      min(col("a")).over(w).as("m"))
    withMin.select(col("m").as("a"), col("a").as("b"))
      .union(withMin.select(col("m").as("a"), col("b")))
      .filter(col("a") =!= col("b"))
      .distinct()
  }

  /** Converged star edges (a snapped frame, held until
    * [[releaseCaches]]) + round count. */
  private[graft] final case class StarCc(stars: DataFrame, rounds: Int)

  /** Alternate large-star/small-star to a fixpoint.
    *
    * Each round REWRITES the frontier in terms of the previous one
    * several times over (largeStar reads it twice, smallStar twice
    * more), so un-truncated lineage grows ~4× per round and the logical
    * plan explodes long before the data does — the iterative-algorithm
    * trap every distributed CC implementation must break. We break it
    * the way GraphX/GraphFrames do: a checkpoint of the frontier every
    * round through the [[graft.Checkpoints]] seam — executor-block
    * localCheckpoint by default, RELIABLE cluster-storage checkpoint
    * when `spark.graft.checkpointDir` is set (the fault-tolerant mode
    * a real cluster runs) — so every round starts from a leaf plan.
    * Superseded frontiers' blocks are released with
    * [[graft.Checkpoints.release]] (Dataset.unpersist cannot reach
    * checkpoint blocks). */
  private[graft] def starContract(
      edges0: DataFrame, maxRounds: Int): StarCc = {
    // lazy checkpoints: the blocks materialize on the round's
    // convergence count, saving one job per round vs eager
    var edges = edges0.select(col("a"), col("b")).distinct()
      .snap(eager = false)
    var converged = false
    var rounds = 0
    while (!converged && rounds < maxRounds) {
      val next = smallStar(largeStar(edges)).snap(eager = false)
      // set equality via one full-outer probe: both sides are canonical
      // distinct, so any null-padded row is a symmetric-difference
      // member — ONE count job per round (it also materializes next's
      // checkpoint blocks)
      val changed = next.withColumn("l", lit(1))
        .join(edges.withColumn("r", lit(1)), Seq("a", "b"), "full_outer")
        .filter(col("l").isNull || col("r").isNull).count()
      graft.Checkpoints.release(Seq(edges))
      edges = next
      converged = changed == 0
      rounds += 1
    }
    require(converged,
      s"d8: star contraction not at fixpoint after $maxRounds rounds")
    StarCc(edges, rounds)
  }

  val d8DedupCcStar = Q(
    "d8_dedup_cc_star",
    (s, d) => {
      val pairEdges = ngramPairStats(s, d)
        .filter(col("ni") * 5 >= col("na") + col("nb") - col("ni"))
        .select(col("id_a").as("a"), col("id_b").as("b"))
      val cc = starContract(pairEdges, CC_MAX_ROUNDS)
      val stars = cc.stars
      // at the fixpoint every non-min vertex carries exactly (m, v) and
      // every component min appears as some edge's `a` — so the LABELS
      // read straight off the tiny checkpointed star list (never
      // re-derive the vertex set from pstats: that would re-run the
      // whole candidate subtree a second time)
      val lbl = stars.select(col("b").as("v"), col("a").as("lbl"))
        .union(stars.select(col("a").as("v"), col("a").as("lbl")).distinct())
      val cs = lbl.groupBy(col("lbl")).agg(count(lit(1)).as("cluster_size"))
      lbl.as("x").join(broadcast(cs).as("c"), col("x.lbl") === col("c.lbl"))
        .select(col("x.v").as("doc_id"), col("x.lbl").as("cluster_id"),
          col("c.cluster_size"))
    },
    Some(s"""WITH RECURSIVE $ngramPairStatsSql,
      $ccLabelsSql,
      cs AS (SELECT lbl, count(*) AS cluster_size FROM labels GROUP BY lbl)
      SELECT l.v AS doc_id, l.lbl AS cluster_id, c.cluster_size
      FROM labels l JOIN cs c ON c.lbl = l.lbl"""))

  // ---------------------------------------------------------------------
  // D7b: CLUSTER-SIZE DISTRIBUTION — the dedup report every production
  // run logs: how many duplicate families exist at each size, and how
  // many documents they absorb (n_docs = size × count tells you the
  // dedup yield at a glance; a fat tail at large sizes means boilerplate
  // is eating the corpus). One distinct + one hash-agg over d7's label
  // table — |clusters| rows in, |distinct sizes| rows out, nothing
  // scales with the corpus itself.
  // ---------------------------------------------------------------------
  val d7bClusterStats = Q(
    "d7b_cluster_stats",
    (s, d) =>
      // straight off the persisted label table: one hash-agg to sizes, one
      // to the distribution — no per-doc broadcast join + distinct of
      // d7's report just to throw the doc ids away (r9)
      ccLabelFixpoint(s, d).labels
        .groupBy(col("lbl"))
        .agg(count(lit(1)).as("cluster_size"))
        .groupBy(col("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"))
        .select(col("cluster_size"), col("n_clusters"),
          (col("cluster_size") * col("n_clusters")).as("n_docs")),
    Some(s"""WITH RECURSIVE $ngramPairStatsSql,
      $ccLabelsSql,
      cs AS (SELECT lbl, count(*) AS cluster_size FROM labels GROUP BY lbl)
      SELECT cluster_size, count(*) AS n_clusters,
        cluster_size * count(*) AS n_docs
      FROM cs GROUP BY cluster_size"""))

  // ---------------------------------------------------------------------
  // D6: benchmark decontamination — flag corpus documents that share
  // word 4-grams with a held-out evaluation set (the training-data
  // hygiene step LLM pipelines run before training: any eval n-gram
  // appearing in the corpus is potential test-set leakage). The eval set
  // here is a deterministic 5% slice (doc_id % 20 = 0) standing in for a
  // benchmark suite.
  //
  // Scale shape: grams are hashed to a 60-bit long BEFORE the join, so
  // the shuffle key is 8 bytes, not a 5-word string; the join is a plain
  // equi-join corpus-grams ⋈ eval-grams — the eval side is tiny compared
  // to the corpus (benchmarks are MBs, corpora are TBs), so at scale AQE
  // broadcasts it and the corpus side never shuffles at all. Per-doc
  // counts are one hash-agg. Never all-pairs, no driver-side set.
  // ---------------------------------------------------------------------
  val d6Decontaminate = Q(
    "d6_decontaminate",
    (s, d) => {
      val grams = wordNgramHashes(s, d, 4, "dc|")
      val eval5 = grams.filter(col("doc_id") % 20 === 0)
        .select(col("doc_id").as("eval_id"), col("gh"))
      grams.filter(col("doc_id") % 20 =!= 0)
        .join(eval5, Seq("gh"))
        .groupBy(col("doc_id"))
        .agg(countDistinct(col("gh")).as("n_shared_grams"),
          countDistinct(col("eval_id")).as("n_eval_docs"))
    },
    Some(s"""WITH toks AS (
        SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
      grams AS (
        SELECT DISTINCT doc_id,
          ${Portable.h60Duck(s"unnest(${ngramDuck(4)})", "dc|")} AS gh
        FROM toks WHERE len(t) >= 4)
      SELECT c.doc_id,
        count(DISTINCT c.gh) AS n_shared_grams,
        count(DISTINCT e.doc_id) AS n_eval_docs
      FROM grams c
      JOIN grams e ON e.gh = c.gh AND e.doc_id % 20 = 0
      WHERE c.doc_id % 20 <> 0
      GROUP BY c.doc_id"""))

  // ---------------------------------------------------------------------
  // D6b: the EVAL-SIDE leakage report — d6 answers "which corpus docs
  // must be quarantined"; this answers the question the benchmark owner
  // asks: "which of MY eval items has leaked, how badly, and where".
  // Per eval doc: how many distinct corpus docs echo it, how many of
  // its 4-grams are compromised (with its gram total, so the
  // contaminated FRACTION is visible), and the single worst offender
  // (most shared grams, min doc_id tie-break) to pull in triage. An
  // eval item with a high contaminated fraction can't be scored
  // honestly even after d6's quarantine (quarantine only fixes the NEXT
  // build) — this report is how it gets rotated out of the benchmark.
  // Same scale shape as d6: one gram equi-join, eval side tiny.
  // ---------------------------------------------------------------------
  val d6bLeakReport = Q(
    "d6b_leak_report",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val grams = wordNgramHashes(s, d, 4, "dc|")
      val evalG = grams.filter(col("doc_id") % 20 === 0)
        .select(col("doc_id").as("eval_id"), col("gh"))
      val evalSz = evalG.groupBy(col("eval_id"))
        .agg(count(lit(1)).as("n_grams"))
      val hits = grams.filter(col("doc_id") % 20 =!= 0)
        .select(col("doc_id").as("corpus_id"), col("gh"))
        .join(evalG, Seq("gh"))
      val perPair = hits.groupBy(col("eval_id"), col("corpus_id"))
        .agg(count(lit(1)).as("shared"))
      val w = Window.partitionBy(col("eval_id"))
        .orderBy(col("shared").desc, col("corpus_id").asc)
      val worst = perPair.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("eval_id"), col("corpus_id").as("worst_offender"),
          col("shared").as("worst_shared"))
      perPair
        .groupBy(col("eval_id"))
        .agg(count(lit(1)).as("n_corpus_docs"))
        .join(hits.select(col("eval_id"), col("gh")).distinct()
          .groupBy(col("eval_id")).agg(count(lit(1)).as("n_leaked_grams")),
          Seq("eval_id"))
        .join(evalSz, Seq("eval_id"))
        .join(worst, Seq("eval_id"))
        .select(col("eval_id"), col("n_corpus_docs"),
          col("n_leaked_grams"), col("n_grams"),
          round(col("n_leaked_grams").cast("double") / col("n_grams"), 6)
            .as("leak_frac"),
          col("worst_offender"), col("worst_shared"))
    },
    Some(s"""WITH toks AS (
        SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
      grams AS (
        SELECT DISTINCT doc_id,
          ${Portable.h60Duck(s"unnest(${ngramDuck(4)})", "dc|")} AS gh
        FROM toks WHERE len(t) >= 4),
      esz AS (
        SELECT doc_id AS eval_id, count(*) AS n_grams FROM grams
        WHERE doc_id % 20 = 0 GROUP BY 1),
      pp AS (
        SELECT e.doc_id AS eval_id, c.doc_id AS corpus_id,
          count(*) AS shared
        FROM grams e JOIN grams c ON c.gh = e.gh AND c.doc_id % 20 <> 0
        WHERE e.doc_id % 20 = 0
        GROUP BY 1, 2),
      lg AS (
        SELECT e.doc_id AS eval_id, count(DISTINCT e.gh) AS n_leaked_grams
        FROM grams e
        WHERE e.doc_id % 20 = 0 AND EXISTS (
          SELECT 1 FROM grams c
          WHERE c.gh = e.gh AND c.doc_id % 20 <> 0)
        GROUP BY 1),
      worst AS (
        SELECT eval_id, corpus_id AS worst_offender,
          shared AS worst_shared
        FROM (SELECT *, row_number() OVER (PARTITION BY eval_id
          ORDER BY shared DESC, corpus_id ASC) AS rn FROM pp) t
        WHERE rn = 1)
      SELECT p.eval_id,
        CAST(count(*) AS BIGINT) AS n_corpus_docs,
        CAST(max(lg.n_leaked_grams) AS BIGINT) AS n_leaked_grams,
        CAST(max(esz.n_grams) AS BIGINT) AS n_grams,
        round(CAST(max(lg.n_leaked_grams) AS DOUBLE)
          / max(esz.n_grams), 6) AS leak_frac,
        max(w.worst_offender) AS worst_offender,
        CAST(max(w.worst_shared) AS BIGINT) AS worst_shared
      FROM pp p
      JOIN lg ON lg.eval_id = p.eval_id
      JOIN esz ON esz.eval_id = p.eval_id
      JOIN worst w ON w.eval_id = p.eval_id
      GROUP BY p.eval_id"""))

  // ---------------------------------------------------------------------
  // D9: Bloom-filter decontamination PRE-filter — the cheap gram-level
  // guard a production pipeline runs before d6's exact join. The eval
  // set's 4-grams are folded into a FIXED 2^14-bit Bloom filter (K=3
  // seeded re-hashes of the gram's h60, the d2 permutation trick), and
  // corpus grams are probed against it: a gram is a candidate leak iff
  // ALL K bit positions are set. Bloom filters admit no false
  // negatives, so every d6-flagged document must surface here
  // (DedupSpec proves the superset property), while false-positive
  // grams cost only a wasted exact-check downstream.
  //
  // Scale shape: the filter is a DataFrame of set bit positions with AT
  // MOST 2^14 rows NO MATTER HOW LARGE THE EVAL SET IS — always
  // broadcastable, so the corpus-side probe is a broadcast semi-join
  // with zero corpus shuffle; d6's equi-join only ever sees the
  // pre-filtered survivors. (Spark's own might_contain/bloom_filter_agg
  // does this for join reduction — see PlanInvariantsSpec — but its
  // filter bits are not engine-portable; this relational form is
  // oracle-replayable bit for bit.) The output reports each flagged
  // doc's bloom-hit gram count beside its exact count, making the
  // false-positive overhead (n_bloom >= n_exact) directly observable.
  // ---------------------------------------------------------------------
  private[graft] val BLOOM_M = 1 << 14 // bits in the filter
  private[graft] val BLOOM_K = 3 // hash functions per gram

  /** The K bit positions of a gram hash column `gh` — ONE definition
    * shared by d9's batch filter and the streaming bit-maintenance job
    * (StreamingJobs.streamingBloomBits), so the two cannot drift. */
  private[graft] def bloomPositionCols: Seq[Column] =
    (0 until BLOOM_K).map(j =>
      (Portable.h60(col("gh").cast("string"), s"bf$j|") % BLOOM_M)
        .cast("int"))

  val d9BloomPrefilter = Q(
    "d9_bloom_prefilter",
    (s, d) => {
      val grams = wordNgramHashes(s, d, 4, "dc|")
      def positions(df: DataFrame): DataFrame = df.select(
        col("doc_id"), col("gh"),
        explode(array(bloomPositionCols: _*)).as("pos"))
      val bits = positions(grams.filter(col("doc_id") % 20 === 0))
        .select("pos").distinct()
      val bloomHits = positions(grams.filter(col("doc_id") % 20 =!= 0))
        .join(broadcast(bits), Seq("pos"))
        .groupBy(col("doc_id"), col("gh"))
        .agg(count(lit(1)).as("k_set"))
        .filter(col("k_set") === BLOOM_K)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bloom_grams"))
      val exact = d6Decontaminate.fn(s, d)
        .select(col("doc_id"), col("n_shared_grams"))
      bloomHits.join(exact, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_bloom_grams"),
          coalesce(col("n_shared_grams"), lit(0L)).as("n_exact_grams"))
    },
    Some {
      val posUnion = (0 until BLOOM_K).map(j =>
        "SELECT doc_id, gh, " +
          s"${Portable.h60Duck("CAST(gh AS VARCHAR)", s"bf$j|")} % $BLOOM_M" +
          " AS pos FROM grams").mkString(" UNION ALL ")
      s"""WITH toks AS (
        SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
      grams AS (
        SELECT DISTINCT doc_id,
          ${Portable.h60Duck(s"unnest(${ngramDuck(4)})", "dc|")} AS gh
        FROM toks WHERE len(t) >= 4),
      pos AS ($posUnion),
      bits AS (SELECT DISTINCT pos FROM pos WHERE doc_id % 20 = 0),
      hits AS (
        SELECT p.doc_id, p.gh
        FROM pos p JOIN bits b ON b.pos = p.pos
        WHERE p.doc_id % 20 <> 0
        GROUP BY p.doc_id, p.gh
        HAVING count(*) = $BLOOM_K),
      bloom AS (
        SELECT doc_id, count(*) AS n_bloom_grams FROM hits GROUP BY 1),
      exact AS (
        SELECT c.doc_id, count(DISTINCT c.gh) AS n_exact
        FROM grams c JOIN grams e ON e.gh = c.gh AND e.doc_id % 20 = 0
        WHERE c.doc_id % 20 <> 0
        GROUP BY c.doc_id)
      SELECT b.doc_id, b.n_bloom_grams,
        coalesce(e.n_exact, 0) AS n_exact_grams
      FROM bloom b LEFT JOIN exact e ON e.doc_id = b.doc_id"""
    })

  // ---------------------------------------------------------------------
  // T1: text quality stats — token count, char count, avg token length,
  // stopword ratio, punctuation count, and a composite quality score.
  // Pure per-row projection: codegen'd, zero shuffles, embarrassingly
  // parallel at any scale.
  // ---------------------------------------------------------------------
  val t1TextStats = Q(
    "t1_text_stats",
    (s, d) =>
      documents(s, d)
        .select(col("doc_id"), split(lower(col("text")), " ").as("t"),
          col("text"))
        .select(
          col("doc_id"),
          size(col("t")).cast("long").as("n_tokens"),
          length(col("text")).cast("long").as("n_chars_calc"),
          round(length(regexp_replace(col("text"), " ", ""))
            .cast("double") / size(col("t")), 4).as("avg_token_len"),
          expr("size(filter(t, x -> x IN ('the', 'a')))").cast("long")
            .as("n_stop"),
          round(expr("size(filter(t, x -> x IN ('the', 'a')))")
            .cast("double") / size(col("t")), 6).as("stop_ratio"),
          (length(col("text")) -
            length(regexp_replace(col("text"), "[.,;:!?]", "")))
            .cast("long").as("n_punct"),
          // BPE-ish tokenization: alpha runs, digit runs, and single
          // symbols each count as one token (the regex family real BPE
          // pre-tokenizers use), vs the whitespace count above
          size(expr(
            "regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\\\s]', 0)"))
            .cast("long").as("n_tokens_bpe"),
          round(least(lit(1.0), size(col("t")).cast("double") / 100.0) *
            (lit(1.0) - expr("size(filter(t, x -> x IN ('the', 'a')))")
              .cast("double") / size(col("t"))), 6).as("quality")),
    Some("""WITH b AS (SELECT doc_id, text,
        string_split(lower(text), ' ') AS t FROM documents)
      SELECT doc_id,
        CAST(len(t) AS BIGINT) AS n_tokens,
        CAST(length(text) AS BIGINT) AS n_chars_calc,
        round(CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(t), 4)
          AS avg_token_len,
        CAST(len(list_filter(t, x -> x IN ('the', 'a'))) AS BIGINT) AS n_stop,
        round(CAST(len(list_filter(t, x -> x IN ('the', 'a'))) AS DOUBLE)
          / len(t), 6) AS stop_ratio,
        CAST(length(text) -
             length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS BIGINT)
          AS n_punct,
        CAST(len(regexp_extract_all(lower(text),
             '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS n_tokens_bpe,
        round(least(1.0, CAST(len(t) AS DOUBLE) / 100.0) *
          (1.0 - CAST(len(list_filter(t, x -> x IN ('the', 'a'))) AS DOUBLE)
           / len(t)), 6) AS quality
      FROM b"""))

  // ---------------------------------------------------------------------
  // T2: language identification — marker-token heuristic (per-language
  // stopword hit counts, argmax with deterministic precedence). A real
  // deployment would swap the marker lists for char-n-gram profiles; the
  // *plan shape* (per-row scoring projection, no shuffle) is what matters
  // at 100 TB.
  // ---------------------------------------------------------------------
  val t2LangId = Q(
    "t2_lang_id",
    (s, d) =>
      documents(s, d)
        .select(col("doc_id"), col("lang"),
          split(lower(col("text")), " ").as("t"))
        .select(col("doc_id"), col("lang"),
          expr("size(filter(t, x -> x IN ('the', 'a', 'of')))").as("s_en"),
          expr("size(filter(t, x -> x IN ('el', 'la', 'de')))").as("s_es"),
          expr("size(filter(t, x -> x IN ('le', 'un', 'et')))").as("s_fr"))
        .select(col("doc_id"), col("lang"),
          when(col("s_en") >= col("s_es") && col("s_en") >= col("s_fr") &&
            col("s_en") > 0, "en")
            .when(col("s_es") >= col("s_fr") && col("s_es") > 0, "es")
            .when(col("s_fr") > 0, "fr")
            .otherwise("und").as("guess"))
        .withColumn("is_match", col("guess") === col("lang")),
    Some("""WITH sc AS (
        SELECT doc_id, lang,
          len(list_filter(string_split(lower(text), ' '),
              x -> x IN ('the', 'a', 'of'))) AS s_en,
          len(list_filter(string_split(lower(text), ' '),
              x -> x IN ('el', 'la', 'de'))) AS s_es,
          len(list_filter(string_split(lower(text), ' '),
              x -> x IN ('le', 'un', 'et'))) AS s_fr
        FROM documents)
      SELECT doc_id, lang,
        CASE WHEN s_en >= s_es AND s_en >= s_fr AND s_en > 0 THEN 'en'
             WHEN s_es >= s_fr AND s_es > 0 THEN 'es'
             WHEN s_fr > 0 THEN 'fr'
             ELSE 'und' END AS guess,
        (CASE WHEN s_en >= s_es AND s_en >= s_fr AND s_en > 0 THEN 'en'
              WHEN s_es >= s_fr AND s_es > 0 THEN 'es'
              WHEN s_fr > 0 THEN 'fr'
              ELSE 'und' END) = lang AS is_match
      FROM sc"""))

  // ---------------------------------------------------------------------
  // T3: corpus token frequency, top-20 — explode + hash-agg + top-k
  // (TakeOrderedAndProject: only k rows cross the final exchange).
  // Deterministic tie-break on the token itself.
  // ---------------------------------------------------------------------
  val t3TokenTopk = Q(
    "t3_token_topk",
    (s, d) =>
      documents(s, d)
        .select(explode(split(lower(col("text")), " ")).as("tok"))
        .groupBy(col("tok"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("tok").asc)
        .limit(20),
    Some("""SELECT tok, count(*) AS cnt
      FROM (SELECT unnest(string_split(lower(text), ' ')) AS tok
            FROM documents) t
      GROUP BY tok ORDER BY cnt DESC, tok ASC LIMIT 20"""))

  // ---------------------------------------------------------------------
  // T4: document fingerprint — min hash over character 8-grams SAMPLED
  // at stride 4 (a quarter of the hash calls; md5 per gram is the
  // dominant cost of this pass). Sampling, not exhaustive tiling: up to
  // 3 trailing characters can fall outside every sampled gram, which is
  // fine for a fingerprint and replayed identically by the oracle.
  // Entirely inside one per-row
  // higher-order-function expression: no explode, no shuffle — the
  // cheapest possible shape for a 100 TB fingerprint pass.
  // ---------------------------------------------------------------------
  val t4Fingerprint = Q(
    "t4_fingerprint",
    (s, d) =>
      documents(s, d)
        .select(col("doc_id"),
          lower(regexp_replace(col("text"), "\\s+", " ")).as("norm"))
        .filter(length(col("norm")) >= 8)
        .select(col("doc_id"),
          expr("array_min(transform(sequence(1, length(norm) - 7, 4), i -> " +
            Portable.h60Sql("substring(norm, i, 8)", "fp|") + "))")
            .as("fingerprint")),
    Some(s"""SELECT doc_id,
        list_min(list_transform(range(1, length(norm) - 6, 4), i ->
          ${Portable.h60Duck("substring(norm, i, 8)", "fp|")})) AS fingerprint
      FROM (SELECT doc_id,
              lower(regexp_replace(text, '\\s+', ' ', 'g')) AS norm
            FROM documents) t
      WHERE length(norm) >= 8"""))

  // ---------------------------------------------------------------------
  // T5: corpus length statistics — exact interpolated percentiles of
  // document length per language (the distribution report every corpus
  // curation pass starts with). Spark `percentile` and DuckDB
  // `quantile_cont` both use exact linear interpolation, so the values
  // hash-match; one hash-agg + per-group sort of a tiny group set.
  // ---------------------------------------------------------------------
  val t5LengthPercentiles = Q(
    "t5_length_percentiles",
    (s, d) =>
      documents(s, d)
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          expr("round(percentile(n_chars, 0.25), 4)").as("p25"),
          expr("round(percentile(n_chars, 0.5), 4)").as("p50"),
          expr("round(percentile(n_chars, 0.75), 4)").as("p75"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars")),
    Some("""SELECT lang, count(*) AS n_docs,
      round(quantile_cont(n_chars, 0.25), 4) AS p25,
      round(quantile_cont(n_chars, 0.5), 4) AS p50,
      round(quantile_cont(n_chars, 0.75), 4) AS p75,
      min(n_chars) AS min_chars, max(n_chars) AS max_chars
      FROM documents GROUP BY lang"""))

  // ---------------------------------------------------------------------
  // T6: document-length histogram — fixed-width binning via integer
  // division, one hash aggregate; the bin key is computed map-side so
  // only (bin, count) partials shuffle.
  // ---------------------------------------------------------------------
  val t6LengthHistogram = Q(
    "t6_length_histogram",
    (s, d) =>
      documents(s, d)
        .select(expr("n_chars div 50").as("bin"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"))
        .withColumn("bin_lo", col("bin") * 50)
        .withColumn("bin_hi", col("bin") * 50 + 49),
    Some("""SELECT n_chars // 50 AS bin, count(*) AS n,
      (n_chars // 50) * 50 AS bin_lo, (n_chars // 50) * 50 + 49 AS bin_hi
      FROM documents GROUP BY n_chars // 50"""))

  // ---------------------------------------------------------------------
  // T7: chunking — split each document into fixed-size token windows
  // with overlap (20-token chunks, stride 15), one output row per chunk:
  // the shape a pretraining tokenizer consumes. Pure per-row explode of
  // an arithmetic window list — linear, shuffle-free, embarrassingly
  // parallel.
  // ---------------------------------------------------------------------
  private val CHUNK = 20
  private val STRIDE = 15

  val t7Chunking = Q(
    "t7_chunking",
    (s, d) =>
      documents(s, d)
        .select(col("doc_id"), split(lower(col("text")), " ").as("t"))
        // window starts: multiples of STRIDE up to n-CHUNK, plus one
        // final start at exactly n-CHUNK when the stride doesn't land
        // there — every token is covered (no dropped tail) and no chunk
        // is wholly contained in its predecessor (no duplicated text)
        .select(col("doc_id"), col("t"),
          size(col("t")).cast("long").as("n_tokens"),
          explode(expr(
            s"""concat(
                 sequence(0, greatest(size(t) - $CHUNK, 0), $STRIDE),
                 CASE WHEN size(t) > $CHUNK
                        AND pmod(size(t) - $CHUNK, $STRIDE) != 0
                   THEN array(size(t) - $CHUNK)
                   ELSE CAST(array() AS ARRAY<INT>) END)"""))
            .as("start"))
        .select(col("doc_id"), col("n_tokens"),
          col("start").cast("long").as("chunk_start"),
          expr(s"concat_ws(' ', slice(t, start + 1, $CHUNK))")
            .as("chunk_text")),
    Some(s"""WITH toks AS (
        SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
      idx AS (
        SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens, t,
          unnest(list_concat(
            range(0, greatest(len(t) - $CHUNK, 0) + 1, $STRIDE),
            CASE WHEN len(t) > $CHUNK AND (len(t) - $CHUNK) % $STRIDE <> 0
              THEN [len(t) - $CHUNK] ELSE [] END)) AS i
        FROM toks)
      SELECT doc_id, n_tokens, CAST(i AS BIGINT) AS chunk_start,
        array_to_string(list_slice(t, i + 1, i + $CHUNK), ' ') AS chunk_text
      FROM idx"""))

  // ---------------------------------------------------------------------
  // T8: scrubbing — regexp battery removing URL-shaped and email-shaped
  // spans and collapsing the leftover whitespace. The testdata corpus
  // contains no such spans, so the query deterministically INJECTS them
  // into a third of the documents first (the oracle replays the same
  // injection) — otherwise the scrub regexes would never execute and the
  // correctness check would be vacuous. The flag comes from matching the
  // scrub patterns on the input, not from a length diff (whitespace
  // normalization alone must not read as "PII removed"). Per-row
  // projection, codegen'd, no shuffle.
  // ---------------------------------------------------------------------
  val t8Scrub = Q(
    "t8_scrub",
    (s, d) =>
      documents(s, d)
        .select(col("doc_id"),
          when(col("doc_id") % 3 === 0,
            concat(col("text"), lit(" contact user"), col("doc_id"),
              lit("@example.com now")))
            .when(col("doc_id") % 3 === 1,
              concat(col("text"), lit(" see https://example.com/d/"),
                col("doc_id"), lit(" for details")))
            .otherwise(col("text")).as("text"))
        .withColumn("was_scrubbed",
          col("text").rlike("https?://[^ ]+") ||
            col("text").rlike("[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"))
        .withColumn("scrubbed",
          trim(regexp_replace(
            regexp_replace(
              regexp_replace(col("text"),
                "https?://[^ ]+", " "),
              "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}", " "),
            "\\s+", " ")))
        .select("doc_id", "scrubbed", "was_scrubbed"),
    Some("""WITH injected AS (
        SELECT doc_id,
          CASE WHEN doc_id % 3 = 0
                 THEN text || ' contact user' || doc_id || '@example.com now'
               WHEN doc_id % 3 = 1
                 THEN text || ' see https://example.com/d/' || doc_id
                      || ' for details'
               ELSE text END AS text
        FROM documents)
      SELECT doc_id,
        trim(regexp_replace(regexp_replace(regexp_replace(text,
          'https?://[^ ]+', ' ', 'g'),
          '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', ' ', 'g'),
          '\s+', ' ', 'g')) AS scrubbed,
        regexp_matches(text, 'https?://[^ ]+') OR
        regexp_matches(text, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')
          AS was_scrubbed
      FROM injected"""))

  // ---------------------------------------------------------------------
  // T8b: the PII scrub battery a production training-data pipeline
  // actually ships (VERDICT r19 #6, the C4/CCNet-style masking pass):
  // t8's URL/email scrub extended with phone numbers, IP addresses,
  // and card-shaped 13-16 digit runs. Same discipline as t8 — the
  // corpus contains no PII, so each class is deterministically
  // INJECTED into its own doc_id % 6 stratum (one planted fixture per
  // class, replayed by the oracle; stratum 5 stays clean so the
  // no-op path is checked too), and the scrub is ONE codegen'd
  // projection, no shuffle. Per-class match counts ride every row
  // (the d13 no-silent-dials rule): "how much PII did this pass
  // remove, of which kind" is query output, not a log line. The five
  // patterns are structurally disjoint (dots vs dashes vs pure digit
  // runs, \b-anchored), so replacement order only matters for the
  // URL pass, which runs first because its [^ ]+ tail can swallow
  // anything.
  // ---------------------------------------------------------------------
  /** The five-pattern scrub + per-class counts as ONE stateless
    * codegen'd projection over (doc_id, text) — shared by batch t8b
    * (over its injected fixture) and [[graft.streaming.StreamingJobs]]'
    * per-micro-batch twin, so the two paths cannot drift. */
  private[graft] def piiScrubProjection(df: DataFrame): DataFrame = {
    val urlRe = "https?://[^ ]+"
    val emailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
    val phoneRe = "\\b\\d{3}-\\d{3}-\\d{4}\\b"
    val ipRe = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
    val cardRe = "\\b\\d{13,16}\\b"
    df.select(col("doc_id"),
      trim(regexp_replace(regexp_replace(regexp_replace(
        regexp_replace(regexp_replace(regexp_replace(col("text"),
          urlRe, " "), emailRe, " "), phoneRe, " "), ipRe, " "),
        cardRe, " "), "\\s+", " ")).as("scrubbed"),
      regexp_count(col("text"), lit(urlRe)).cast("long").as("n_url"),
      regexp_count(col("text"), lit(emailRe)).cast("long")
        .as("n_email"),
      regexp_count(col("text"), lit(phoneRe)).cast("long")
        .as("n_phone"),
      regexp_count(col("text"), lit(ipRe)).cast("long").as("n_ip"),
      regexp_count(col("text"), lit(cardRe)).cast("long").as("n_card"))
  }

  val t8bPiiScrub = Q(
    "t8b_pii_scrub",
    (s, d) => {
      val injected = documents(s, d).select(col("doc_id"),
        when(col("doc_id") % 6 === 0,
          concat(col("text"), lit(" contact user"),
            col("doc_id").cast("string"), lit("@example.com now")))
          .when(col("doc_id") % 6 === 1,
            concat(col("text"), lit(" see https://example.com/d/"),
              col("doc_id").cast("string"), lit(" for details")))
          .when(col("doc_id") % 6 === 2,
            concat(col("text"), lit(" call 555-"),
              (col("doc_id") % 900 + 100).cast("string"),
              lit("-0199 now")))
          .when(col("doc_id") % 6 === 3,
            concat(col("text"), lit(" from 10."),
              (col("doc_id") % 256).cast("string"), lit(".0.12 logged")))
          .when(col("doc_id") % 6 === 4,
            concat(col("text"), lit(" pay 41111111111111"),
              lpad((col("doc_id") % 100).cast("string"), 2, "0"),
              lit(" ok")))
          .otherwise(col("text")).as("text"))
      piiScrubProjection(injected)
    },
    Some("""WITH injected AS (
        SELECT doc_id,
          CASE WHEN doc_id % 6 = 0
                 THEN text || ' contact user' || doc_id
                      || '@example.com now'
               WHEN doc_id % 6 = 1
                 THEN text || ' see https://example.com/d/' || doc_id
                      || ' for details'
               WHEN doc_id % 6 = 2
                 THEN text || ' call 555-' || (doc_id % 900 + 100)
                      || '-0199 now'
               WHEN doc_id % 6 = 3
                 THEN text || ' from 10.' || (doc_id % 256)
                      || '.0.12 logged'
               WHEN doc_id % 6 = 4
                 THEN text || ' pay 41111111111111'
                      || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
                      || ' ok'
               ELSE text END AS text
        FROM documents)
      SELECT doc_id,
        trim(regexp_replace(regexp_replace(regexp_replace(
          regexp_replace(regexp_replace(regexp_replace(text,
            'https?://[^ ]+', ' ', 'g'),
            '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', ' ', 'g'),
            '\b\d{3}-\d{3}-\d{4}\b', ' ', 'g'),
            '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', ' ', 'g'),
            '\b\d{13,16}\b', ' ', 'g'),
          '\s+', ' ', 'g')) AS scrubbed,
        CAST(len(regexp_extract_all(text, 'https?://[^ ]+'))
          AS BIGINT) AS n_url,
        CAST(len(regexp_extract_all(text,
          '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS BIGINT)
          AS n_email,
        CAST(len(regexp_extract_all(text, '\b\d{3}-\d{3}-\d{4}\b'))
          AS BIGINT) AS n_phone,
        CAST(len(regexp_extract_all(text,
          '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ip,
        CAST(len(regexp_extract_all(text, '\b\d{13,16}\b'))
          AS BIGINT) AS n_card
      FROM injected"""))

  // ---------------------------------------------------------------------
  // T9: sequence packing — assign documents to fixed-budget context
  // windows ("packs") by running token count, the step that turns a
  // curated corpus into training sequences (fill each 512-token context
  // with consecutive docs; a doc straddling a boundary starts in the pack
  // where its first token lands). Relational form: a running sum over a
  // window, pack_id = floor(tokens-before-this-doc / budget).
  //
  // Scale shape: the window partitions by `source` (the natural corpus
  // shard key), so the sort is per-shard, not global — a total order over
  // 100 TB would serialize into one reducer; per-shard packing is what
  // distributed training-data builds actually do (pack within a shard,
  // shuffle shards). One exchange on source, one sort per partition.
  // ---------------------------------------------------------------------
  private[graft] val PACK_BUDGET = 512

  val t9SequencePack = Q(
    "t9_sequence_pack",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      documents(s, d)
        .select(col("doc_id"), col("source"),
          size(split(lower(col("text")), " ")).cast("long").as("n_tokens"))
        .withColumn("cum", sum(col("n_tokens")).over(w))
        .select(col("doc_id"), col("source"), col("n_tokens"),
          floor((col("cum") - col("n_tokens")) / PACK_BUDGET)
            .as("pack_id"),
          (col("cum") - col("n_tokens") - floor((col("cum") - col("n_tokens"))
            / PACK_BUDGET) * PACK_BUDGET).as("pack_offset"))
    },
    Some(s"""WITH toks AS (
        SELECT doc_id, source,
          CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens
        FROM documents),
      c AS (
        SELECT doc_id, source, n_tokens,
          sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id)
            - n_tokens AS before_
        FROM toks)
      SELECT doc_id, source, n_tokens,
        CAST(floor(before_ / $PACK_BUDGET) AS BIGINT) AS pack_id,
        CAST(before_ - CAST(floor(before_ / $PACK_BUDGET) AS BIGINT)
          * $PACK_BUDGET AS BIGINT) AS pack_offset
      FROM c"""))

  // ---------------------------------------------------------------------
  // C2: deterministic stratified split — route every document to
  // train/valid/test by a seeded portable hash of its id (8/1/1), the
  // assignment step every training build runs before packing. Hash-based
  // (not random) so the split is reproducible, join-free, and stable
  // under corpus growth: a doc's split never changes when other docs
  // arrive. Pure per-row projection — zero shuffles at any scale; the
  // per-(split, lang) histogram downstream is one hash-agg.
  // ---------------------------------------------------------------------
  val c2SplitAssign = Q(
    "c2_split_assign",
    (s, d) => {
      val bucket = Portable.h60(col("doc_id").cast("string"), "split|") % 10
      documents(s, d)
        .select(col("doc_id"), col("lang"),
          when(bucket < 8, lit("train"))
            .when(bucket === 8, lit("valid"))
            .otherwise(lit("test")).as("split"))
    },
    Some(s"""SELECT doc_id, lang,
      CASE WHEN ${Portable.h60Duck("CAST(doc_id AS VARCHAR)", "split|")} % 10 < 8
             THEN 'train'
           WHEN ${Portable.h60Duck("CAST(doc_id AS VARCHAR)", "split|")} % 10 = 8
             THEN 'valid'
           ELSE 'test' END AS split
      FROM documents"""))

  // ---------------------------------------------------------------------
  // C8: seeded global shuffle + shard assignment — the WRITER step that
  // turns a curated corpus into training shards: every doc gets a
  // deterministic pseudo-random position (order by a seeded hash, ties
  // broken on doc_id) and a shard (hash mod N_SHARDS), so the training
  // order is REPRODUCIBLE from the seed alone — re-running the build on
  // a grown corpus preserves the relative order of surviving docs, and
  // two sites running the same seed shard identically (no RNG state to
  // ship). This is why pipelines shuffle by hash-sort, not by
  // `ORDER BY rand()`: rand() is neither reproducible nor restartable.
  //
  // Scale shape: ONE exchange on the shard key + a per-shard sort —
  // exactly what `repartition(shard).sortWithinPartitions(ord)` +
  // parquet write costs; the window is partitioned by shard, so no
  // global sort ever happens, and shard sizes concentrate at
  // corpus/N_SHARDS (seeded-hash balance, reported by c8b-style stats
  // downstream consumers watch).
  // ---------------------------------------------------------------------
  // ---------------------------------------------------------------------
  // C9: epoch budgeting under data constraint (Muennighoff et al. 2023,
  // "Scaling Data-Constrained Language Models") — the mixing PLANNER
  // that sits between curation (c1-c7) and the shard writer (c8): given
  // a training-token budget, target a UNIFORM per-source mix (the
  // balance-the-mix choice vs natural sampling) but never repeat a
  // source past [[C9_MAX_EPOCHS]] epochs (the paper's ~4-epoch
  // usefulness cliff). Allocation is integer water-filling, unrolled
  // [[C9_ROUNDS]] rounds: each round gives every un-capped source an
  // equal share of the remaining budget, clamps at its cap, and the
  // freed remainder re-spreads next round. The residual after the last
  // round is REPORTED per row (`unalloc` — the no-silent-dials rule:
  // "how much budget the caps strand" is the number that tells you to
  // raise the cap or buy more data).
  //
  // Shape at scale: the ONLY corpus-sized stage is the per-source token
  // count (one hash-agg at scan speed); the fill iterates on the
  // #sources-row table under an unpartitioned window (sources number
  // in the dozens, not the billions). All arithmetic is BIGINT —
  // equal-share is integer division, so both engines strand identical
  // dust.
  // ---------------------------------------------------------------------
  private[graft] val C9_MAX_EPOCHS = 4L
  private[graft] val C9_BUDGET_EPOCHS = 4L // budget = 4x the corpus
  private[graft] val C9_ROUNDS = 3

  val c9EpochBudget = Q(
    "c9_epoch_budget",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy()
      val toks = documents(s, d)
        .select(col("source"),
          size(split(col("text"), " ")).cast("long").as("tk"))
        .groupBy(col("source")).agg(sum(col("tk")).as("n_tokens"))
      var r = toks.select(col("source"), col("n_tokens"),
        (col("n_tokens") * C9_MAX_EPOCHS).as("cap"),
        lit(0L).as("a"),
        (sum(col("n_tokens")).over(w) * C9_BUDGET_EPOCHS).as("b"))
      for (_ <- 1 to C9_ROUNDS) {
        r = r
          .withColumn("rem", col("b") - sum(col("a")).over(w))
          .withColumn("kun",
            sum(when(col("a") < col("cap"), 1L).otherwise(0L)).over(w))
          .withColumn("a", when(col("a") < col("cap"),
            least(col("cap"), col("a") + expr("rem div kun")))
            .otherwise(col("a")))
          .drop("rem", "kun")
      }
      r.select(col("source"), col("n_tokens"),
        col("cap").as("cap_tokens"), col("a").as("alloc_tokens"),
        expr("a * 1000 div n_tokens").as("epochs_milli"),
        (col("a") === col("cap")).as("capped"),
        (col("b") - sum(col("a")).over(w)).as("unalloc"))
    },
    Some {
      val rounds = (1 to C9_ROUNDS).map { i =>
        s"""r$i AS (
          SELECT source, n_tokens, cap,
            CAST(CASE WHEN a < cap THEN least(cap,
                a + (b - sum(a) OVER ())
                  // sum(CASE WHEN a < cap THEN 1 ELSE 0 END) OVER ())
              ELSE a END AS BIGINT) AS a, b
          FROM r${i - 1})"""
      }.mkString(",\n      ")
      s"""WITH tk AS (
        SELECT source,
          CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        FROM documents GROUP BY source),
      r0 AS (
        SELECT source, n_tokens,
          CAST($C9_MAX_EPOCHS * n_tokens AS BIGINT) AS cap,
          CAST(0 AS BIGINT) AS a,
          CAST($C9_BUDGET_EPOCHS * sum(n_tokens) OVER () AS BIGINT) AS b
        FROM tk),
      $rounds
      SELECT source, n_tokens, cap AS cap_tokens, a AS alloc_tokens,
        CAST(a * 1000 // n_tokens AS BIGINT) AS epochs_milli,
        a = cap AS capped,
        CAST(b - sum(a) OVER () AS BIGINT) AS unalloc
      FROM r$C9_ROUNDS"""
    })

  // ---------------------------------------------------------------------
  // C10: curriculum ordering (Bengio et al. 2009 shape) — the ORDERING
  // planner between the mix (c9) and the shard writer (c8): assign every
  // doc to one of [[C10_STAGES]] difficulty stages of EQUAL TOKEN MASS
  // (difficulty = token count, the classic short-to-long curriculum),
  // then give it a seeded-hash position so sources INTERLEAVE within a
  // stage instead of training all of source A before source B.
  //
  // The scale point is how the equal-mass quantiles are computed WITHOUT
  // a global sort: one hash-agg builds the (n_tok -> token mass)
  // histogram — bounded by the number of DISTINCT lengths, not by corpus
  // size — a window over that small table turns exclusive-prefix mass
  // into a stage id (stage = pre*K div total, pure BIGINT so both
  // engines strand identical dust), and the tiny map broadcasts back
  // onto the corpus. Corpus-sized work is two scans + one hash-agg; the
  // unpartitioned window touches only the histogram (the c9 discipline:
  // global windows are fine on planner-sized frames, never on the
  // corpus). Docs sharing a length share a stage, so stage boundaries
  // land on value boundaries — the worst-case mass imbalance is one
  // length-value's mass, which CurriculumSpec bounds explicitly.
  // ---------------------------------------------------------------------
  private[graft] val C10_STAGES = 4L

  val c10Curriculum = Q(
    "c10_curriculum",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val tok = documents(s, d).select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
      val hist = tok.groupBy(col("n_tok"))
        .agg(sum(col("n_tok")).as("mass"))
      val wPre = Window.orderBy(col("n_tok"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val wAll = Window.partitionBy()
      val stages = hist
        .withColumn("pre", coalesce(sum(col("mass")).over(wPre), lit(0L)))
        .withColumn("total", sum(col("mass")).over(wAll))
        .select(col("n_tok"),
          least(lit(C10_STAGES - 1),
            expr(s"pre * $C10_STAGES div total")).as("stage"))
      tok.join(broadcast(stages), Seq("n_tok"))
        .select(col("doc_id"), col("source"), col("n_tok"), col("stage"),
          Portable.h60(col("doc_id").cast("string"), "cur|").as("ord"))
    },
    Some(c10Sql(Dialect.DuckDB)))

  private[graft] def c10Sql(d: Dialect): String =
    s"""WITH tok AS (
        SELECT doc_id, source,
          CAST(${d.len}(${d.split}(text, ' ')) AS BIGINT) AS n_tok
        FROM documents),
      hist AS (
        SELECT n_tok, CAST(sum(n_tok) AS BIGINT) AS mass
        FROM tok GROUP BY n_tok),
      st AS (
        SELECT n_tok,
          least(CAST(${C10_STAGES - 1} AS BIGINT),
            CAST(coalesce(sum(mass) OVER (ORDER BY n_tok
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              * $C10_STAGES ${d.div} sum(mass) OVER () AS BIGINT)) AS stage
        FROM hist)
      SELECT ${d.hint("BROADCAST(s)")}t.doc_id, t.source, t.n_tok, s.stage,
        ${d.h60(s"CAST(doc_id AS ${d.varchar})", "cur|")} AS ord
      FROM tok t JOIN st s USING (n_tok)"""

  // ---------------------------------------------------------------------
  // C11: link-rank × content-quality curation (VERDICT r15 #5) — what a
  // crawl pipeline actually does with its two independent priors: g1's
  // PageRank (the link-centrality signal computed BEFORE content
  // filters run) and t15's trained LM score (the content signal),
  // blended into one per-language retention election. Neither signal
  // alone is safe: link farms rank high and read as garbage, fresh
  // high-quality pages rank low — so the blend keeps the top decile by
  // COMBINED per-language standing, and every document's row reports
  // which single-signal verdicts DISAGREED with each other ('rank_only'
  // / 'lm_only' — the dashboard columns a curation team watches to
  // re-weight the blend).
  //
  // Exactness: both signals convert to per-language INTEGER positions
  // (row_number with total-order tie-breaks; the lm axis orders the
  // same rounded avg_logp both engines already agree on bit-for-bit,
  // NULLS LAST explicit — docs too short to score sort to the bottom,
  // never dropped), and the blend is the sum of "better-than" counts —
  // all BIGINTs. Shape at scale: two thin per-doc score tables (g1's
  // rank frame, the LM agg) joined on doc_id, then per-language
  // windows over (doc_id + 3 numbers) rows — the c1c election shape.
  // ---------------------------------------------------------------------
  val c11RankCuration = Q(
    "c11_rank_curation",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val ranks = graft.operators.Graph.g1Pagerank.fn(s, d)
        .select(col("doc_id"), col("pr"))
      val lm = lmScores(s, d, heldOutOnly = false)
        .select(col("doc_id"), col("avg_logp"))
      val cw = Window.partitionBy(col("lang"))
      val base = documents(s, d).select(col("doc_id"), col("lang"))
        .join(ranks, Seq("doc_id"))
        .join(lm, Seq("doc_id"), "left")
        .withColumn("rank_rn", row_number().over(
          cw.orderBy(col("pr").desc, col("doc_id").asc)))
        .withColumn("lm_rn", row_number().over(
          cw.orderBy(col("avg_logp").desc_nulls_last, col("doc_id").asc)))
        .withColumn("n", count(lit(1)).over(cw))
      base
        .withColumn("blend",
          (col("n") - col("rank_rn")) + (col("n") - col("lm_rn")))
        .withColumn("kept", row_number().over(
          cw.orderBy(col("blend").desc, col("doc_id").asc))
          <= expr("n div 10"))
        .select(col("doc_id"), col("lang"), col("pr"),
          col("rank_rn").cast("long").as("rank_rn"),
          col("lm_rn").cast("long").as("lm_rn"),
          col("blend").cast("long").as("blend"), col("kept"),
          when(col("rank_rn") <= expr("n div 10") &&
            col("lm_rn") > expr("n div 10"), "rank_only")
            .when(col("lm_rn") <= expr("n div 10") &&
              col("rank_rn") > expr("n div 10"), "lm_only")
            .when(col("rank_rn") <= expr("n div 10"), "both")
            .otherwise("neither").as("signal"))
    },
    Some(s"""WITH ${graft.operators.Graph.prDuckCtes},
      ${lmScoreSql("TRUE")},
      base AS (
        SELECT d.doc_id, d.lang, r.pr,
          CAST(row_number() OVER (PARTITION BY d.lang
            ORDER BY r.pr DESC, d.doc_id ASC) AS BIGINT) AS rank_rn,
          CAST(row_number() OVER (PARTITION BY d.lang
            ORDER BY s.avg_logp DESC NULLS LAST, d.doc_id ASC)
            AS BIGINT) AS lm_rn,
          CAST(count(*) OVER (PARTITION BY d.lang) AS BIGINT) AS n
        FROM documents d
        JOIN r${graft.operators.Graph.PR_ITERS} r ON r.doc_id = d.doc_id
        LEFT JOIN lmscore s ON s.doc_id = d.doc_id)
      SELECT doc_id, lang, pr, rank_rn, lm_rn,
        (n - rank_rn) + (n - lm_rn) AS blend,
        row_number() OVER (PARTITION BY lang
          ORDER BY (n - rank_rn) + (n - lm_rn) DESC, doc_id ASC)
          <= n // 10 AS kept,
        CASE WHEN rank_rn <= n // 10 AND lm_rn > n // 10 THEN 'rank_only'
             WHEN lm_rn <= n // 10 AND rank_rn > n // 10 THEN 'lm_only'
             WHEN rank_rn <= n // 10 THEN 'both'
             ELSE 'neither' END AS signal
      FROM base"""))

  private val N_SHARDS = 16
  val c8ShardShuffle = Q(
    "c8_shard_shuffle",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val ord = Portable.h60(col("doc_id").cast("string"), "ord|")
      val shard = pmod(
        Portable.h60(col("doc_id").cast("string"), "shard|"),
        lit(N_SHARDS)).cast("int")
      documents(s, d)
        .select(col("doc_id"), shard.as("shard"), ord.as("ord"))
        .withColumn("pos",
          (row_number().over(Window.partitionBy(col("shard"))
            .orderBy(col("ord").asc, col("doc_id").asc)) - 1)
            .cast("long"))
        .select(col("doc_id"), col("shard"), col("pos"))
    },
    Some(s"""SELECT doc_id,
      CAST(${Portable.h60Duck("CAST(doc_id AS VARCHAR)", "shard|")}
        % $N_SHARDS AS INTEGER) AS shard,
      CAST(row_number() OVER (
        PARTITION BY ${Portable.h60Duck("CAST(doc_id AS VARCHAR)", "shard|")}
          % $N_SHARDS
        ORDER BY ${Portable.h60Duck("CAST(doc_id AS VARCHAR)", "ord|")} ASC,
          doc_id ASC) - 1 AS BIGINT) AS pos
      FROM documents"""))

  // ---------------------------------------------------------------------
  // C4: decontamination-aware split — c2's routing composed with d6's
  // leakage flags, which is the order a real pretraining build runs:
  // benchmark docs are fenced off as 'eval', any corpus doc sharing a
  // word 4-gram with them is QUARANTINED (excluded from every split —
  // re-routing it to train would defeat d6; dropping it silently would
  // hide the leak), and only clean docs take their seeded hash split.
  // Scale shape: the contaminated-id set is benchmark-sized (tiny next
  // to the corpus), so the left join broadcasts under AQE and the
  // corpus side keeps c2's zero-shuffle projection posture; quarantine
  // stays stable under corpus growth for the same reason c2's hash
  // routing does.
  // ---------------------------------------------------------------------
  val c4DecontSplit = Q(
    "c4_decontaminated_split",
    (s, d) => {
      val contam = d6Decontaminate.fn(s, d)
        .select(col("doc_id"), lit(1).as("contam"))
      val bucket = Portable.h60(col("doc_id").cast("string"), "split|") % 10
      documents(s, d)
        .join(contam, Seq("doc_id"), "left")
        .select(col("doc_id"), col("lang"),
          when(col("doc_id") % 20 === 0, lit("eval"))
            .when(col("contam").isNotNull, lit("quarantine"))
            .when(bucket < 8, lit("train"))
            .when(bucket === 8, lit("valid"))
            .otherwise(lit("test")).as("split"))
    },
    Some(s"""WITH toks AS (
        SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
      grams AS (
        SELECT DISTINCT doc_id,
          ${Portable.h60Duck(s"unnest(${ngramDuck(4)})", "dc|")} AS gh
        FROM toks WHERE len(t) >= 4),
      contam AS (
        SELECT DISTINCT c.doc_id
        FROM grams c JOIN grams e ON e.gh = c.gh AND e.doc_id % 20 = 0
        WHERE c.doc_id % 20 <> 0)
      SELECT d.doc_id, d.lang,
        CASE WHEN d.doc_id % 20 = 0 THEN 'eval'
             WHEN c.doc_id IS NOT NULL THEN 'quarantine'
             WHEN ${Portable.h60Duck("CAST(d.doc_id AS VARCHAR)", "split|")}
               % 10 < 8 THEN 'train'
             WHEN ${Portable.h60Duck("CAST(d.doc_id AS VARCHAR)", "split|")}
               % 10 = 8 THEN 'valid'
             ELSE 'test' END AS split
      FROM documents d LEFT JOIN contam c ON c.doc_id = d.doc_id"""))

  // ---------------------------------------------------------------------
  // T12: count-min heavy hitters — frequency estimation from a sketch
  // that is a FIXED D×W counter table (4×64 here) no matter how large
  // the corpus: D seeded bucket projections of every token occurrence,
  // one hash-agg, and the estimate for any token is the MIN of its D
  // bucket counts (never an undercount — collisions only inflate).
  // This is the standing answer to "what are the hot tokens/URLs/docs"
  // at 100 TB: the sketch build is map-side partial counting into 256
  // cells, sketches merge by cell-wise ADD across partitions or days,
  // and no per-token state survives the scan. The whole operator is
  // integer arithmetic — hash, modulo, count, min — so both engines
  // agree bit-for-bit with no rounding discipline needed. The exact
  // top-10 rides along to exhibit the overcount (W=64 forces visible
  // collisions on this vocabulary).
  // ---------------------------------------------------------------------
  private[graft] val CM_W = 64 // buckets per row (power of two: exact modulo)
  private[graft] val CM_D = 4 // seeded rows; estimate = min across rows

  /** The ONE oracle for the count-min family: t12 and t12b must both
    * equal it — which transitively pins native-aggregate == relational
    * == DuckDB (the a9/a9b discipline). */
  private val cmOracleSql: String = s"""WITH toks AS (
        SELECT unnest(string_split(lower(text), ' ')) AS tok FROM documents),
      sk AS (
        SELECT depth, bucket, count(*) AS cnt FROM (
          ${(0 until CM_D).map(i =>
            s"SELECT $i AS depth, ${Portable.h60Duck("tok", s"cm$i|")} % $CM_W AS bucket FROM toks")
            .mkString(" UNION ALL ")}) u
        GROUP BY 1, 2),
      top AS (
        SELECT tok, count(*) AS n_exact FROM toks GROUP BY 1
        ORDER BY n_exact DESC, tok ASC LIMIT 10),
      probes AS (
        ${(0 until CM_D).map(i =>
          s"SELECT tok, n_exact, $i AS depth, ${Portable.h60Duck("tok", s"cm$i|")} % $CM_W AS bucket FROM top")
          .mkString(" UNION ALL ")}),
      est AS (
        SELECT p.tok, p.n_exact, min(s.cnt) AS n_cm
        FROM probes p JOIN sk s ON s.depth = p.depth AND s.bucket = p.bucket
        GROUP BY 1, 2)
      SELECT tok, n_exact, n_cm, n_cm - n_exact AS overcount FROM est"""

  val t12CountminTopk = Q(
    "t12_countmin_topk",
    (s, d) => {
      // Per-token counts FIRST (one tokenize + one map-side-combined
      // hash-agg); the sketch is then built from DISTINCT tokens with
      // their counts as weights — cell count = Σ n over tokens hashing
      // into the cell, identical to counting occurrences, but the 4
      // seeded md5 projections run once per distinct token instead of
      // once per token OCCURRENCE (vocabulary ≪ corpus at 100 TB). The
      // exact top-10 consumes the same aggregate, so the per-token
      // shuffle exchange is computed once and reused (ReusedExchange).
      val cnts = documents(s, d)
        .select(explode(split(lower(col("text")), " ")).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("n_exact"))
      def buckets(c: Column): Column = array((0 until CM_D).map(i =>
        struct(lit(i).as("depth"),
          (Portable.h60(c, s"cm$i|") % CM_W).as("bucket"))): _*)
      val sk = cnts
        .select(explode(buckets(col("tok"))).as("db"), col("n_exact"))
        .groupBy(col("db.depth").as("depth"), col("db.bucket").as("bucket"))
        .agg(sum(col("n_exact")).as("cnt"))
      val top = cnts.orderBy(col("n_exact").desc, col("tok").asc).limit(10)
      top
        .select(col("tok"), col("n_exact"),
          explode(buckets(col("tok"))).as("db"))
        .select(col("tok"), col("n_exact"), col("db.depth").as("depth"),
          col("db.bucket").as("bucket"))
        .join(broadcast(sk), Seq("depth", "bucket"))
        .groupBy(col("tok"), col("n_exact"))
        .agg(min(col("cnt")).as("n_cm"))
        .select(col("tok"), col("n_exact"), col("n_cm"),
          (col("n_cm") - col("n_exact")).as("overcount"))
    },
    Some(cmOracleSql))

  // ---------------------------------------------------------------------
  // T12b: the same heavy-hitter estimates through the NATIVE `cm_sketch`
  // Catalyst aggregate (functions/CmSketch, injected by
  // GraftExtensions) — one ObjectHashAggregate carrying a 2 KiB cell
  // buffer with map-side partial merge and cell-wise-ADD combine,
  // instead of t12's (depth, bucket) cell shuffle of D rows per
  // distinct token. The flattened cell array is exploded back to
  // (depth, bucket, cnt) rows, and the probe side is t12's verbatim.
  // Same oracle as t12: native == relational == DuckDB, or the round
  // fails. Falls back to t12's relational pipeline on a session
  // without the extension.
  // ---------------------------------------------------------------------
  val t12bCountminNative = Q(
    "t12b_countmin_native",
    (s, d) =>
      if (!s.catalog.functionExists("cm_sketch")) t12CountminTopk.fn(s, d)
      else {
        val cnts = documents(s, d)
          .select(explode(split(lower(col("text")), " ")).as("tok"))
          .groupBy(col("tok")).agg(count(lit(1)).as("n_exact"))
        val sk = cnts
          .agg(expr("cm_sketch(tok, n_exact)").as("sk"))
          .select(posexplode(col("sk")).as(Seq("idx", "cnt")))
          .select(expr(s"idx div $CM_W").as("depth"),
            pmod(col("idx"), lit(CM_W)).as("bucket"), col("cnt"))
        def buckets(c: Column): Column = array((0 until CM_D).map(i =>
          struct(lit(i).as("depth"),
            (Portable.h60(c, s"cm$i|") % CM_W).as("bucket"))): _*)
        val top = cnts.orderBy(col("n_exact").desc, col("tok").asc).limit(10)
        top
          .select(col("tok"), col("n_exact"),
            explode(buckets(col("tok"))).as("db"))
          .select(col("tok"), col("n_exact"), col("db.depth").as("depth"),
            col("db.bucket").as("bucket"))
          .join(broadcast(sk), Seq("depth", "bucket"))
          .groupBy(col("tok"), col("n_exact"))
          .agg(min(col("cnt")).as("n_cm"))
          .select(col("tok"), col("n_exact"), col("n_cm"),
            (col("n_cm") - col("n_exact")).as("overcount"))
      },
    Some(cmOracleSql))

  // ---------------------------------------------------------------------
  // T13: within-document repetition — the boilerplate/spam/loop signal
  // (repStatsSql precedes the query: Scala object vals initialize in
  // declaration order, and a forward reference would interpolate null)
  // quality filters cut on: the fraction of trigram OCCURRENCES that
  // are repeats of an earlier trigram in the same doc, plus the hottest
  // trigram's count. One explode + one (doc, gram) hash-agg + one
  // per-doc rollup; grams are hashed to 60-bit longs before the shuffle
  // (family rule), and the ratio is a single integer-derived division
  // rounded identically in both engines. Generated text loops hard, so
  // this is also the column the c-family curation would gate on next.
  // ---------------------------------------------------------------------
  /** t13's repetition stats as DuckDB CTEs ending in `rep` (CTE names
    * prefixed r- so the chain composes with lmScoreSql/curateSql in one
    * WITH); shared by t13 and c1c. */
  private val repStatsSql: String = s"""rtoks AS (
        SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
      rg AS (
        SELECT doc_id, ${Portable.h60Duck(s"unnest(${ngramDuck(3)})", "rep|")} AS gh
        FROM rtoks WHERE len(t) >= 3),
      rpc AS (SELECT doc_id, gh, count(*) AS c FROM rg GROUP BY 1, 2),
      rep AS (
        SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_grams,
          count(*) AS n_distinct, max(c) AS max_rep,
          round((CAST(sum(c) AS BIGINT) - count(*))::DOUBLE /
                CAST(sum(c) AS BIGINT), 6) AS rep_ratio
        FROM rpc GROUP BY 1)"""

  val t13Repetition = Q(
    "t13_repetition",
    (s, d) =>
      wordNgramHashes(s, d, 3, "rep|", dedup = false)
        .groupBy(col("doc_id"), col("gh"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n_grams"),
          count(lit(1)).as("n_distinct"),
          max(col("c")).as("max_rep"))
        .select(col("doc_id"), col("n_grams"), col("n_distinct"),
          col("max_rep"),
          round((col("n_grams") - col("n_distinct")).cast("double") /
            col("n_grams"), 6).as("rep_ratio")),
    Some(s"""WITH $repStatsSql
      SELECT doc_id, n_grams, n_distinct, max_rep, rep_ratio
      FROM rep"""))

  // ---------------------------------------------------------------------
  // T15: bigram-LM quality score — the perplexity-proxy filter every
  // training-data pipeline gates on: a Laplace-smoothed bigram model
  // p(w2|w1) = (c(w1 w2)+1)/(c(w1)+V) trained on the 80% split, and
  // each held-out doc scored by its mean bigram log-probability (low =
  // gibberish/loop/foreign text; the gate a c-family curation would cut
  // on next, beside t13's repetition signal).
  //
  // Scale shape: both model tables key on 60-bit hashes (family rule —
  // the shuffle moves 8-byte longs, never token strings); scoring is
  // two left joins (bigram hit; history count for the smoothing
  // denominator) and one per-doc hash-agg. At 100 TB the model tables
  // are the small side (vocabulary² is bounded, the corpus isn't) and
  // AQE broadcasts them. Parity: log terms round to 6 digits and sum in
  // DECIMAL — t11's discipline, argmax-stable in both engines; V counts
  // distinct unigram HASHES so both engines count the same thing.
  // ---------------------------------------------------------------------
  /** Per-doc mean bigram log-probability under the 80%-split model —
    * the ONE scorer definition, shared by t15's held-out report
    * (`heldOutOnly = true`) and c1c's whole-corpus quality election
    * (`false`: score every doc with the same trained model). */
  private def lmScores(
      s: SparkSession, d: String, heldOutOnly: Boolean): DataFrame = {
    // per-occurrence (bigram, history) pairs, hashed — shared
    // derivation for train and scored slices
    def pairs(docs: DataFrame): DataFrame = docs
      .select(col("doc_id"), split(lower(col("text")), " ").as("t"))
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"), explode(expr(
        s"arrays_zip(${ngramExpr(2)}, " +
          "transform(sequence(0, size(t)-2), i -> t[i]))")).as("z"))
      .select(col("doc_id"),
        Portable.h60(col("z").getField("0"), "lm2|").as("gh"),
        Portable.h60(col("z").getField("1"), "lm1|").as("w1h"))
    val train = pairs(documents(s, d).filter(col("doc_id") % 10 < 8))
    val c2 = train.groupBy(col("gh")).agg(count(lit(1)).as("c2"))
    // history counts: occurrences of w1 AS A HISTORY (pair count per
    // w1), so Σ_w2 p(w2|w1) stays a proper distribution
    val c1 = train.groupBy(col("w1h")).agg(count(lit(1)).as("c1"))
    val vocab = documents(s, d).filter(col("doc_id") % 10 < 8)
      .select(explode(split(lower(col("text")), " ")).as("tok"))
      .agg(countDistinct(Portable.h60(col("tok"), "lm1|")).as("v"))
    val slice =
      if (heldOutOnly) documents(s, d).filter(col("doc_id") % 10 >= 8)
      else documents(s, d)
    pairs(slice)
      .join(c2, Seq("gh"), "left")
      .join(c1, Seq("w1h"), "left")
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"),
        round(log(
          (coalesce(col("c2"), lit(0L)) + lit(1)).cast("double") /
            (coalesce(col("c1"), lit(0L)) + col("v")).cast("double")), 6)
          .cast("decimal(28,6)").as("logp"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("logp")).cast("double").as("ll"))
      .select(col("doc_id"), col("n_bigrams"),
        round(col("ll") / col("n_bigrams"), 6).as("avg_logp"))
  }

  /** The LM-score chain as DuckDB CTEs ending in `lmscore` (no trailing
    * SELECT); `scoreWhere` picks the scored slice. Mirrors [[lmScores]];
    * shared by t15 and c1c. */
  private def lmScoreSql(scoreWhere: String): String = s"""toks AS (
        SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
      ${lmScoreSqlBody(scoreWhere)}"""

  /** [[lmScoreSql]] minus its leading `toks` CTE, for WITH chains that
    * already define the identical `toks` (e4 composes this after
    * [[ngramPairStatsSql]], whose `toks` is the same projection). */
  private def lmScoreSqlBody(scoreWhere: String): String = s"""pairs AS (
        SELECT doc_id,
          ${Portable.h60Duck(s"unnest(${ngramDuck(2)})", "lm2|")} AS gh,
          ${Portable.h60Duck(
            "unnest(list_transform(range(len(t)-1), i -> t[i+1]))", "lm1|")}
            AS w1h
        FROM toks WHERE len(t) >= 2),
      c2 AS (SELECT gh, count(*) AS c2 FROM pairs
             WHERE doc_id % 10 < 8 GROUP BY 1),
      c1 AS (SELECT w1h, count(*) AS c1 FROM pairs
             WHERE doc_id % 10 < 8 GROUP BY 1),
      vocab AS (
        SELECT count(DISTINCT h) AS v FROM (
          SELECT ${Portable.h60Duck("unnest(t)", "lm1|")} AS h
          FROM toks WHERE doc_id % 10 < 8) u),
      scored AS (
        SELECT p.doc_id,
          CAST(round(ln(CAST(coalesce(c2.c2, 0) + 1 AS DOUBLE) /
                        CAST(coalesce(c1.c1, 0) + vocab.v AS DOUBLE)), 6)
               AS DECIMAL(28,6)) AS logp
        FROM pairs p
        LEFT JOIN c2 ON c2.gh = p.gh
        LEFT JOIN c1 ON c1.w1h = p.w1h
        CROSS JOIN vocab
        WHERE $scoreWhere),
      lmscore AS (
        SELECT doc_id, count(*) AS n_bigrams,
          round(CAST(sum(logp) AS DOUBLE) / count(*), 6) AS avg_logp
        FROM scored GROUP BY 1)"""

  val t15LmScore = Q(
    "t15_lm_score",
    (s, d) => lmScores(s, d, heldOutOnly = true),
    Some(s"""WITH ${lmScoreSql("p.doc_id % 10 >= 8")}
      SELECT doc_id, n_bigrams, avg_logp FROM lmscore"""))

  // ---------------------------------------------------------------------
  // T17: n-gram novelty — per document, the fraction of its DISTINCT
  // trigrams that occur in NO other document. The inverse signal of
  // t13's within-doc repetition and d11's cross-doc duplication: high
  // novelty marks content the corpus hasn't seen (worth keeping / the
  // memorization-risk cohort in eval design), near-zero novelty marks
  // boilerplate that contributes nothing beyond its duplicates. Shape:
  // the same two map-side-combinable hash-aggs as d11's postings pass
  // (distinct (gram, doc) → document frequency per gram → per-doc
  // novel fraction) — no pairs, no text shuffle; the gram table is
  // 8 bytes/entry. The ratio is exact integer-over-integer rounded at
  // the edge, the d11 ppm discipline.
  // ---------------------------------------------------------------------
  val t17Novelty = Q(
    "t17_novelty",
    (s, d) => {
      val grams = wordNgramHashes(s, d, 3, "nv|")
      // a df=1 gram has exactly ONE owner, so per-doc novel counts
      // fall straight out of the frequency aggregation (min(doc_id)
      // IS the owner when df=1) — no join-back of the gram table onto
      // itself (the first form paid a 3rd full-postings shuffle for
      // that join and read ~1.5× slower at sf0.1)
      val novel = grams.groupBy(col("gh"))
        .agg(count(lit(1)).as("df"), min(col("doc_id")).as("doc_id"))
        .filter(col("df") === 1)
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_novel"))
      grams.groupBy(col("doc_id")).agg(count(lit(1)).as("n_grams"))
        .join(novel, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_grams"),
          coalesce(col("n_novel"), lit(0L)).as("n_novel"),
          round(coalesce(col("n_novel"), lit(0L)).cast("double") /
            col("n_grams"), 6).as("novelty"))
    },
    Some(s"""WITH toks AS (
        SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
      g AS (
        SELECT DISTINCT doc_id,
          ${Portable.h60Duck(s"unnest(${ngramDuck(3)})", "nv|")} AS gh
        FROM toks WHERE len(t) >= 3),
      df AS (SELECT gh, count(*) AS df FROM g GROUP BY gh)
      SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        CAST(sum(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_novel,
        round(CAST(sum(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) AS DOUBLE)
          / count(*), 6) AS novelty
      FROM g JOIN df ON df.gh = g.gh
      GROUP BY g.doc_id"""))

  // ---------------------------------------------------------------------
  // D14: URL canonicalization dedup — the first dedup any web-crawl
  // pipeline runs, BEFORE content hashing: the same page arrives under
  // uppercased scheme/host, a www. prefix, an explicit default port, a
  // trailing slash, tracking parameters, reordered query strings, and
  // fragments. Canonicalize (lowercase scheme+host, strip www./:443,
  // strip trailing path slash, drop utm_* params, sort the rest, drop
  // the fragment), then group: one keeper (min doc_id) per canonical
  // URL. Pages that differ in a REAL query parameter stay distinct —
  // over-merging is the failure mode the spec pins.
  //
  // The corpus has no URL column, so each doc's raw URL is synthesized
  // deterministically from doc_id (the suite's REST-payload convention:
  // a replayable stand-in the oracle re-derives): four variant shapes
  // per group of 4 docs, three collapsing to one canonical form and the
  // fourth differing in a real parameter value.
  //
  // Shape at scale: the whole derivation is one codegen'd projection
  // (regex extracts + a higher-order filter/sort over the split query —
  // no UDF), and the only shuffle is the final canonical-URL hash-agg.
  // Engine-parity notes: regexes avoid backslash classes ([.] not \.),
  // the utm test is substr(p,1,4) (LIKE-in-lambda differs across
  // engines), and array_sort/list_sort agree on ascending strings.
  // ---------------------------------------------------------------------
  val d14UrlDedup = Q(
    "d14_url_dedup",
    (s, d) => {
      val raw = documents(s, d).select(col("doc_id"), expr("""concat(
          CASE WHEN doc_id % 4 = 0 THEN 'HTTPS://WWW.'
               WHEN doc_id % 4 = 1 THEN 'https://'
               WHEN doc_id % 4 = 2 THEN 'https://www.'
               ELSE 'HTTPS://' END,
          'd', CAST(doc_id div 4 AS STRING),
          CASE WHEN doc_id % 2 = 0 THEN '.Example.COM'
               ELSE '.example.com' END,
          CASE WHEN doc_id % 4 = 1 THEN ':443' ELSE '' END,
          '/docs/', CAST(doc_id div 4 AS STRING),
          CASE WHEN doc_id % 4 = 2 THEN '/' ELSE '' END,
          CASE WHEN doc_id % 4 = 0 THEN '?utm_source=feed&b=2&a=1'
               WHEN doc_id % 4 = 1 THEN '?a=1&b=2'
               WHEN doc_id % 4 = 2 THEN '?b=2&utm_medium=x&a=1'
               ELSE '?a=1&utm_campaign=z&b=3' END,
          CASE WHEN doc_id % 4 = 3 THEN '#section-2' ELSE '' END)
        """).as("raw_url"))
      val canon = raw.select(col("doc_id"), col("raw_url"),
        expr("""concat(
            lower(regexp_extract(raw_url, '^([a-zA-Z]+)://', 1)), '://',
            regexp_replace(regexp_replace(
              lower(regexp_extract(raw_url, '^[a-zA-Z]+://([^/?#]+)', 1)),
              '^www[.]', ''), ':443$', ''),
            regexp_replace(
              regexp_extract(raw_url, '^[a-zA-Z]+://[^/?#]+([^?#]*)', 1),
              '/$', ''),
            CASE WHEN array_join(array_sort(filter(
                split(regexp_extract(raw_url, '[?]([^#]*)', 1), '&'),
                p -> substr(p, 1, 4) != 'utm_')), '&') = '' THEN ''
              ELSE concat('?', array_join(array_sort(filter(
                split(regexp_extract(raw_url, '[?]([^#]*)', 1), '&'),
                p -> substr(p, 1, 4) != 'utm_')), '&')) END)
          """).as("canon_url"))
      canon.groupBy(col("canon_url"))
        .agg(count(lit(1)).as("n_variants"),
          countDistinct(col("raw_url")).as("n_raw"),
          min(col("doc_id")).as("keeper"))
    },
    Some(d14Sql(Dialect.DuckDB)))

  private[graft] def d14Sql(d: Dialect): String = {
    val query = s"""${d.arrayJoin}(${d.listSort}(${d.listFilter}(
              ${d.split}(regexp_extract(raw_url, '[?]([^#]*)', 1), '&'),
              p -> substr(p, 1, 4) != 'utm_')), '&')"""
    s"""WITH raw AS (
        SELECT doc_id, concat(
          CASE WHEN doc_id % 4 = 0 THEN 'HTTPS://WWW.'
               WHEN doc_id % 4 = 1 THEN 'https://'
               WHEN doc_id % 4 = 2 THEN 'https://www.'
               ELSE 'HTTPS://' END,
          'd', CAST(doc_id ${d.div} 4 AS ${d.varchar}),
          CASE WHEN doc_id % 2 = 0 THEN '.Example.COM'
               ELSE '.example.com' END,
          CASE WHEN doc_id % 4 = 1 THEN ':443' ELSE '' END,
          '/docs/', CAST(doc_id ${d.div} 4 AS ${d.varchar}),
          CASE WHEN doc_id % 4 = 2 THEN '/' ELSE '' END,
          CASE WHEN doc_id % 4 = 0 THEN '?utm_source=feed&b=2&a=1'
               WHEN doc_id % 4 = 1 THEN '?a=1&b=2'
               WHEN doc_id % 4 = 2 THEN '?b=2&utm_medium=x&a=1'
               ELSE '?a=1&utm_campaign=z&b=3' END,
          CASE WHEN doc_id % 4 = 3 THEN '#section-2' ELSE '' END)
          AS raw_url
        FROM documents),
      canon AS (
        SELECT doc_id, raw_url, concat(
          lower(regexp_extract(raw_url, '^([a-zA-Z]+)://', 1)), '://',
          regexp_replace(regexp_replace(
            lower(regexp_extract(raw_url, '^[a-zA-Z]+://([^/?#]+)', 1)),
            '^www[.]', ''), ':443$$', ''),
          regexp_replace(
            regexp_extract(raw_url, '^[a-zA-Z]+://[^/?#]+([^?#]*)', 1),
            '/$$', ''),
          CASE WHEN $query = '' THEN ''
            ELSE concat('?', $query) END)
          AS canon_url
        FROM raw)
      SELECT canon_url, CAST(count(*) AS BIGINT) AS n_variants,
        CAST(count(DISTINCT raw_url) AS BIGINT) AS n_raw,
        min(doc_id) AS keeper
      FROM canon GROUP BY canon_url"""
  }

  // ---------------------------------------------------------------------
  // D15: cross-document LINE-level dedup (the CCNet/RefinedWeb pass):
  // boilerplate lines — nav bars, cookie banners, footers — repeat
  // across thousands of pages while the pages themselves are distinct,
  // so document-level dedup (d1-d5) never sees them. Segment each doc
  // into lines, hash each line, and drop every occurrence of a
  // cross-document duplicated line EXCEPT the one in its first-sighted
  // (min doc_id) document; rebuild the document from its surviving
  // lines in order. Within-document repetition is t13's job — this pass
  // only acts on lines seen in >= 2 DISTINCT documents.
  //
  // The corpus is single-line synthetic text, so "line" is a fixed
  // 4-token segment (LINE_W) — the same stand-in discipline as t7's
  // chunker; a real corpus would split on '\n' and the rest of the
  // operator is unchanged.
  //
  // Shape at scale: line fingerprints are h60 longs, so the owner table
  // is ~(8B key + 16B agg) per DISTINCT line — boilerplate-heavy
  // corpora collapse it far below the line count. Two keyed shuffles
  // (owner hash-agg, occurrence⋈owner on lh) plus the per-doc rebuild
  // agg; the rebuild's collect_list is per-document (bounded by doc
  // length), never per-key-group. No all-pairs anywhere: a line shared
  // by m docs costs m join rows, not m².
  // ---------------------------------------------------------------------
  private[graft] val LINE_W = 4

  /** (doc_id, line_no, line, lh) — the ONE line segmentation every
    * line-level pass shares (d15's full rebuild, d16's incremental
    * form, and their oracles' CTE twin): fixed [[LINE_W]]-token
    * segments of the normalized text, each identified by its 60-bit
    * portable hash so every downstream join/agg moves 8-byte longs. */
  private[graft] def linesOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(normText, " ").as("t"))
      .select(col("doc_id"), col("t"),
        explode(expr(
          s"sequence(0, CAST(floor((size(t) - 1) / $LINE_W) AS INT))"))
          .as("line_no"))
      .select(col("doc_id"), col("line_no").cast("long").as("line_no"),
        expr(s"concat_ws(' ', slice(t, line_no * $LINE_W + 1, $LINE_W))")
          .as("line"))
      .withColumn("lh", Portable.h60(col("line"), "ld|"))

  /** The line segmentation as DuckDB CTE text over `documents $where`,
    * prefixed so two slices can coexist in one WITH chain; lands in
    * `${p}hashed` with (doc_id, line_no, line, lh) — [[linesOf]]'s
    * oracle twin, shared by d15 and d16. */
  private def linesDuckCtes(p: String, where: String): String =
    s"""${p}toks AS (
        SELECT doc_id,
          string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))),
            ' ') AS t
        FROM documents $where),
      ${p}idx AS (
        SELECT doc_id, t,
          unnest(range((len(t) - 1) // $LINE_W + 1)) AS i
        FROM ${p}toks),
      ${p}lines AS (
        SELECT doc_id, CAST(i AS BIGINT) AS line_no,
          array_to_string(
            list_slice(t, i * $LINE_W + 1, i * $LINE_W + $LINE_W), ' ')
            AS line
        FROM ${p}idx),
      ${p}hashed AS (
        SELECT doc_id, line_no, line,
          ${Portable.h60Duck("line", "ld|")} AS lh
        FROM ${p}lines)"""

  val d15LineDedup = Q(
    "d15_line_dedup",
    (s, d) => {
      val lines = linesOf(documents(s, d))
      val owners = lines.groupBy(col("lh"))
        .agg(min(col("doc_id")).as("owner"),
          countDistinct(col("doc_id")).as("n_docs"))
      lines.join(owners, Seq("lh"))
        .withColumn("kept",
          col("n_docs") === 1 || col("doc_id") === col("owner"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_lines"),
          sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
          concat_ws(" ", expr(
            "transform(array_sort(collect_list(" +
              "CASE WHEN kept THEN struct(line_no, line) END)), " +
              "x -> x.line)")).as("deduped_text"))
        .select(col("doc_id"), col("n_lines"),
          (col("n_lines") - col("n_kept")).as("n_dropped"),
          round(col("n_kept").cast("double") / col("n_lines"), 6)
            .as("kept_frac"),
          col("deduped_text"))
    },
    Some(s"""WITH ${linesDuckCtes("", "")},
      own AS (
        SELECT lh, min(doc_id) AS owner,
          count(DISTINCT doc_id) AS n_docs
        FROM hashed GROUP BY lh),
      j AS (
        SELECT h.doc_id, h.line_no, h.line,
          (o.n_docs = 1 OR h.doc_id = o.owner) AS kept
        FROM hashed h JOIN own o ON o.lh = h.lh),
      agg AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines,
          CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
          coalesce(
            string_agg(CASE WHEN kept THEN line END, ' ' ORDER BY line_no),
            '') AS deduped_text
        FROM j GROUP BY doc_id)
      SELECT doc_id, n_lines, n_lines - n_kept AS n_dropped,
        round(CAST(n_kept AS DOUBLE) / n_lines, 6) AS kept_frac,
        deduped_text
      FROM agg"""))

  // ---------------------------------------------------------------------
  // D16: INCREMENTAL line-level dedup — the d10/a15/a18 lifecycle
  // discipline applied to d15: a daily arriving batch must shed
  // boilerplate lines the standing corpus has already seen WITHOUT
  // re-reading (or re-electing over) the standing text. The standing
  // side is touched only through its distinct line-FINGERPRINT table
  // (8 bytes per distinct line — the maintained artifact a production
  // run carries forward, exactly like d10's doc fingerprints): any
  // batch occurrence of a standing line drops with provenance
  // 'standing' (the standing owner already carries the line); lines
  // shared only within the batch elect a min-doc_id batch owner (d15's
  // rule applied batch-internally, provenance 'batch' for the losers);
  // batch-unique lines survive. Output per arriving doc: the d15
  // report split by drop provenance — the number that tells an
  // operator whether today's crawl is re-crawling old boilerplate or
  // growing new.
  //
  // Shape at scale: two keyed shuffles on the 8-byte lh (standing-set
  // left join + batch-owner agg) and the bounded per-doc rebuild; the
  // standing fingerprint table joins once, batch-side cost is linear
  // in the batch — corpus-size-independent, the incremental property.
  // ---------------------------------------------------------------------
  /** d16's per-line routing — (doc_id, line_no, line, status ∈
    * standing | batch_dup | kept). The Q below aggregates this; the
    * streaming twin (StreamingJobs.streamingLineDedup) must emit the
    * SAME routes row for row, which StreamingSpec pins. */
  private[graft] def d16LineRoutes(docs: DataFrame): DataFrame = {
    val standingFp = linesOf(docs.filter(col("doc_id") % 4 =!= 0))
      .select(col("lh")).distinct()
      .withColumn("in_hist", lit(1))
    val batch = linesOf(docs.filter(col("doc_id") % 4 === 0))
    val owners = batch.groupBy(col("lh"))
      .agg(min(col("doc_id")).as("owner"),
        countDistinct(col("doc_id")).as("n_docs"))
    batch
      .join(standingFp, Seq("lh"), "left")
      .join(owners, Seq("lh"))
      .select(col("doc_id"), col("line_no"), col("line"),
        when(col("in_hist").isNotNull, "standing")
          .when(col("n_docs") > 1 && col("doc_id") =!= col("owner"),
            "batch_dup")
          .otherwise("kept").as("status"))
  }

  val d16IncrementalLineDedup = Q(
    "d16_incremental_line_dedup",
    (s, d) =>
      d16LineRoutes(documents(s, d))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_lines"),
          sum(when(col("status") === "standing", 1L).otherwise(0L))
            .as("n_dropped_standing"),
          sum(when(col("status") === "batch_dup", 1L).otherwise(0L))
            .as("n_dropped_batch"),
          sum(when(col("status") === "kept", 1L).otherwise(0L))
            .as("n_kept"),
          concat_ws(" ", expr(
            "transform(array_sort(collect_list(" +
              "CASE WHEN status = 'kept' THEN struct(line_no, line) END)), " +
              "x -> x.line)")).as("deduped_text"))
        .select(col("doc_id"), col("n_lines"),
          col("n_dropped_standing"), col("n_dropped_batch"),
          round(col("n_kept").cast("double") / col("n_lines"), 6)
            .as("kept_frac"),
          col("deduped_text")),
    Some(s"""WITH ${linesDuckCtes("s_", "WHERE doc_id % 4 <> 0")},
      ${linesDuckCtes("b_", "WHERE doc_id % 4 = 0")},
      hist AS (SELECT DISTINCT lh FROM s_hashed),
      own AS (
        SELECT lh, min(doc_id) AS owner,
          count(DISTINCT doc_id) AS n_docs
        FROM b_hashed GROUP BY lh),
      j AS (
        SELECT b.doc_id, b.line_no, b.line,
          (h.lh IS NOT NULL) AS drop_standing,
          (h.lh IS NULL AND o.n_docs > 1 AND b.doc_id <> o.owner)
            AS drop_batch
        FROM b_hashed b
        LEFT JOIN hist h ON h.lh = b.lh
        JOIN own o ON o.lh = b.lh),
      agg AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines,
          CAST(sum(CASE WHEN drop_standing THEN 1 ELSE 0 END) AS BIGINT)
            AS n_dropped_standing,
          CAST(sum(CASE WHEN drop_batch THEN 1 ELSE 0 END) AS BIGINT)
            AS n_dropped_batch,
          CAST(sum(CASE WHEN NOT drop_standing AND NOT drop_batch
            THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
          coalesce(
            string_agg(CASE WHEN NOT drop_standing AND NOT drop_batch
              THEN line END, ' ' ORDER BY line_no), '') AS deduped_text
        FROM j GROUP BY doc_id)
      SELECT doc_id, n_lines, n_dropped_standing, n_dropped_batch,
        round(CAST(n_kept AS DOUBLE) / n_lines, 6) AS kept_frac,
        deduped_text
      FROM agg"""))

  // ---------------------------------------------------------------------
  // T18: BM25 retrieval scoring (the Okapi formula, Robertson et al.) —
  // the relevance ranker a curation pipeline uses to pull topic-targeted
  // training slices out of a 100 TB corpus ("the documents that best
  // answer these queries"). Everything derives from the corpus itself so
  // the oracle can replay it: the query workload is the top-6
  // document-frequency tokens of length >= 5 paired into three two-term
  // queries (deterministic df-then-token ranking), idf falls out of the
  // df aggregation, and length normalization uses per-doc token counts
  // against the corpus mean.
  //
  // Shape at scale: the corpus is touched through the (doc, tok) tf
  // hash-agg (dl is a second agg over the same exploded pass), df is
  // vocabulary-sized, the query table is top-6 (TakeOrdered ->
  // broadcast), N/avgdl are a one-row broadcast, and the per-query
  // top-5 is a WindowGroupLimit window — only 5 rows per query survive
  // the final shuffle. The scoring join touches only docs containing a
  // query term (the broadcast-semi slice), never the full corpus.
  //
  // Parity discipline: idf = round(ln(...), 6) (the libm rule, t10);
  // the per-term score is one rounded product/quotient chain over exact
  // integer tf/dl and the single-division avgdl (IEEE-identical in both
  // engines); per-query sums accumulate as DECIMAL(20,6). The Okapi
  // constants k1 = 1.2, b = 0.75 enter as verbatim double literals on
  // BOTH sides (never computed: 1.0 + k1 re-derived in one engine could
  // differ in the last ulp from the other's literal 2.2).
  // ---------------------------------------------------------------------
  val t18Bm25 = Q(
    "t18_bm25",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val toks = documents(s, d)
        .select(col("doc_id"),
          explode(split(lower(col("text")), " ")).as("tok"))
      val tf = toks.groupBy(col("doc_id"), col("tok"))
        .agg(count(lit(1)).as("tf"))
      val dl = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
      val df = toks.groupBy(col("tok"))
        .agg(countDistinct(col("doc_id")).as("df"))
      val stats = dl.agg(count(lit(1)).as("n"),
        (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
      val qtop = df.filter(length(col("tok")) >= 5)
        .orderBy(col("df").desc, col("tok").asc).limit(6)
      // row_number over the 6-row post-limit set: the unpartitioned
      // window is fine here because limit(6) already collapsed the input
      val qterms = qtop
        .select(col("tok"), col("df"),
          row_number().over(
            Window.orderBy(col("df").desc, col("tok").asc))
            .cast("long").as("rk"))
        .select(col("tok"), col("df"),
          expr("(rk - 1) div 2").as("query_id"))
      val scored = tf.join(broadcast(qterms), Seq("tok"))
        .join(dl, Seq("doc_id"))
        .crossJoin(broadcast(stats))
        .select(col("query_id"), col("doc_id"),
          round(
            round(log((col("n") - col("df") + lit(0.5)) /
                (col("df") + lit(0.5)) + lit(1.0)), 6) *
              (col("tf") * lit(2.2)) /
              (col("tf") + lit(1.2) *
                (lit(0.25) + lit(0.75) * (col("dl") / col("avgdl")))),
            6).as("term_score"))
      val perDoc = scored.groupBy(col("query_id"), col("doc_id"))
        .agg(sum(col("term_score").cast("decimal(20,6)")).as("sraw"),
          count(lit(1)).as("n_terms"))
        .select(col("query_id"), col("doc_id"),
          col("sraw").cast("double").as("bm25"), col("n_terms"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("bm25").desc, col("doc_id").asc)
      perDoc.withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 5)
        .select("query_id", "doc_id", "bm25", "n_terms", "rk")
    },
    Some(t18Sql(Dialect.DuckDB)))

  private[graft] def t18Sql(d: Dialect): String =
    s"""WITH toks AS (
        SELECT doc_id, ${d.unnest}(${d.split}(lower(text), ' ')) AS tok
        FROM documents),
      tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
      dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
      df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM toks
        GROUP BY 1),
      stats AS (SELECT count(*) AS n,
        CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
      qtop AS (SELECT tok, df FROM df WHERE length(tok) >= 5
        ORDER BY df DESC, tok ASC LIMIT 6),
      qterms AS (SELECT tok, df,
          (row_number() OVER (ORDER BY df DESC, tok ASC) - 1) ${d.div} 2
            AS query_id
        FROM qtop),
      scored AS (
        SELECT q.query_id, t.doc_id,
          round(round(ln((s.n - q.df + CAST(0.5 AS DOUBLE)) /
                (q.df + CAST(0.5 AS DOUBLE)) + CAST(1.0 AS DOUBLE)), 6)
            * (t.tf * CAST(2.2 AS DOUBLE))
            / (t.tf + CAST(1.2 AS DOUBLE) *
               (CAST(0.25 AS DOUBLE) +
                CAST(0.75 AS DOUBLE) * (l.dl / s.avgdl))), 6)
            AS term_score
        FROM tf t JOIN qterms q USING (tok)
        JOIN dl l ON l.doc_id = t.doc_id CROSS JOIN stats s),
      perdoc AS (
        SELECT query_id, doc_id,
          CAST(sum(CAST(term_score AS DECIMAL(20,6))) AS DOUBLE) AS bm25,
          CAST(count(*) AS BIGINT) AS n_terms
        FROM scored GROUP BY 1, 2)
      SELECT query_id, doc_id, bm25, n_terms, CAST(rk AS BIGINT) AS rk
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
          ORDER BY bm25 DESC, doc_id ASC) AS rk FROM perdoc) z
      WHERE rk <= 5"""

  // ---------------------------------------------------------------------
  // T19: DSIR importance weights (Xie et al. 2023, "Data Selection for
  // Language Models via Importance Resampling") — the targeted data
  // selector: score every raw document by how much more likely its
  // hashed n-gram features are under the TARGET distribution than the
  // raw one, then keep the target-like slice. The target set is the
  // suite's eval split (doc_id % 20 = 0, the d6 convention); features
  // are hashed unigrams + bigrams folded into DSIR_BUCKETS buckets
  // (the paper's reduced feature space, counted WITH repeats).
  //
  //   lw[f]  = round(ln((cnt_t[f]+1)(tot_r+B) / ((cnt_r[f]+1)(tot_t+B))), 6)
  //   logw(doc) = Σ_{feature occurrences} lw[f]   (DECIMAL-exact)
  //   selected  = logw > 0  (more target-like than raw)
  //
  // Parity: the ln argument is ONE division of two exact integer
  // products (IEEE-identical), rounded per the libm rule; the per-doc
  // sum Σ lw = Σ c·lw runs in scale-6 DECIMAL on both engines (c is an
  // integer count, lw has exactly 6 dp, so c·lw is exact).
  //
  // Shape at scale (the r17 fix — the explode used to be derived twice
  // per run, once for bucket counts and once for scoring, doubling the
  // suite's heaviest scan): ONE corpus pass now folds the feature
  // explode into the compact per-(doc_id, f) count frame `bydf`
  // (map-side partial agg, so the only corpus-wide exchange carries
  // near-distinct pairs, not token instances). Both consumers — the
  // bucket-count aggregation and the scoring join — read `bydf` with
  // the SAME column set, so their identical heavy subtrees collapse to
  // one shuffle + ReusedExchange (the sql_d7/sql_a17 discipline;
  // PlanInvariantsSpec pins it). The per-feature weight table is <= B
  // rows (broadcast), totals are a one-row broadcast, and the per-doc
  // sum is one hash-agg over bydf — no joins ever carry the corpus on
  // both sides, and nothing needs a persist at 100 TB.
  // ---------------------------------------------------------------------
  private[graft] val DSIR_BUCKETS = 1024L

  /** t19's whole feature→weight→score derivation as DuckDB CTEs ending
    * in `scored` (doc_id, n_feats, w DECIMAL) — no leading WITH, no
    * trailing SELECT; shared by t19's weight report and c12's
    * resampling so the two replays can't drift. */
  private def dsirCtesDuck: String = {
    val b = DSIR_BUCKETS
    s"""toks AS (
        SELECT doc_id, string_split(lower(text), ' ') AS t
        FROM documents),
      feats AS (
        SELECT doc_id,
          ${Portable.h60Duck("g", "dsir|")} % $b AS f
        FROM (
          SELECT doc_id, unnest(${ngramDuck(1)}) AS g FROM toks
            WHERE len(t) >= 1
          UNION ALL
          SELECT doc_id, unnest(${ngramDuck(2)}) AS g FROM toks
            WHERE len(t) >= 2)),
      bydf AS (
        SELECT doc_id, f, CAST(count(*) AS BIGINT) AS c
        FROM feats GROUP BY 1, 2),
      cnts AS (
        SELECT f,
          CAST(sum(CASE WHEN doc_id % 20 = 0 THEN c ELSE 0 END)
            AS BIGINT) AS cnt_t,
          CAST(sum(CASE WHEN doc_id % 20 = 0 THEN 0 ELSE c END)
            AS BIGINT) AS cnt_r
        FROM bydf GROUP BY f),
      tots AS (
        SELECT CAST(sum(cnt_t) AS BIGINT) AS tot_t,
          CAST(sum(cnt_r) AS BIGINT) AS tot_r
        FROM cnts),
      lw AS (
        SELECT f,
          round(ln(CAST((cnt_t + 1) * (tot_r + $b) AS DOUBLE) /
                   CAST((cnt_r + 1) * (tot_t + $b) AS DOUBLE)), 6) AS lw
        FROM cnts CROSS JOIN tots),
      scored AS (
        SELECT bd.doc_id, CAST(sum(bd.c) AS BIGINT) AS n_feats,
          sum(CAST(bd.c AS DECIMAL(10,0)) *
              CAST(lw.lw AS DECIMAL(18,6))) AS w
        FROM bydf bd JOIN lw ON lw.f = bd.f
        WHERE bd.doc_id % 20 <> 0
        GROUP BY bd.doc_id)"""
  }

  val t19DsirWeights = Q(
    "t19_dsir_weights",
    (s, d) => {
      val docs = documents(s, d)
      // ONE derivation of the heavy feature stream, pre-folded to
      // per-(doc, bucket) counts. All three references below must stay
      // CANONICALLY IDENTICAL for physical planning to collapse them
      // to one build + ReusedExchange, which takes two deliberate
      // moves: (1) the explicit isNotNull(f) filter pre-satisfies the
      // constraint the scored⋈lw join would otherwise infer and push
      // into only ITS copy of the subtree; (2) the raw/target cut
      // happens on an AGGREGATE OUTPUT below (max over the group), not
      // a grouping-key predicate the optimizer would push into only
      // the scored copy's scan.
      val byDF = wordNgramHashesOf(docs, 1, "dsir|", dedup = false)
        .union(wordNgramHashesOf(docs, 2, "dsir|", dedup = false))
        .select(col("doc_id"), (col("gh") % DSIR_BUCKETS).as("f"))
        .filter(col("f").isNotNull)
        .groupBy(col("doc_id"), col("f"))
        .agg(count(lit(1)).as("c"))
      val isT = col("doc_id") % 20 === 0
      val cnts = byDF.groupBy(col("f"))
        .agg(sum(when(isT, col("c")).otherwise(0L)).as("cnt_t"),
          sum(when(isT, 0L).otherwise(col("c"))).as("cnt_r"))
      val tots = cnts.agg(sum(col("cnt_t")).as("tot_t"),
        sum(col("cnt_r")).as("tot_r"))
      val lw = cnts.crossJoin(broadcast(tots))
        .select(col("f"),
          round(log(
            ((col("cnt_t") + lit(1L)) * (col("tot_r") + lit(DSIR_BUCKETS)))
              .cast("double") /
            ((col("cnt_r") + lit(1L)) * (col("tot_t") + lit(DSIR_BUCKETS)))
              .cast("double")), 6).as("lw"))
      // target docs ride through the agg (5% extra rows) and drop on
      // the aggregated flag — cheaper than a second subtree variant
      val scored = byDF
        .join(broadcast(lw), Seq("f"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n_feats"),
          sum(col("c").cast("decimal(10,0)") *
            col("lw").cast("decimal(18,6)")).as("w"),
          max(isT.cast("int")).as("tgt"))
        .filter(col("tgt") === 0)
      scored.select(col("doc_id"), col("n_feats"),
        col("w").cast("double").as("logw"),
        (col("w") > 0).as("selected"))
    },
    Some(s"""WITH $dsirCtesDuck
      SELECT doc_id, n_feats, CAST(w AS DOUBLE) AS logw,
        w > 0 AS selected
      FROM scored"""))

  // ---------------------------------------------------------------------
  // C12: importance RESAMPLING — t19's missing consumer and the second
  // half of the DSIR paper's name: t19 emits log-importance weights and
  // a hard selected-vs-not cut, but the paper's estimator RESAMPLES raw
  // docs with probability ∝ min(1, w) so moderately-target-like docs
  // survive proportionally instead of dying at the threshold. The
  // Bernoulli draw is replayable on any engine without exp(): accept
  // iff round(ln(u), 6) < min(logw, 0), where u = (h60(doc) mod 10^6
  // + 0.5) / 10^6 — ln(u) < 0 always, so w ≥ 1 docs always survive and
  // w < 1 docs survive with probability e^logw = w, using only the
  // round(ln, 6) libm rule every LM-score op here already relies on
  // (never exp, whose cross-engine last-ulp would sit directly on the
  // accept boundary). Output keeps the whole decision audit per doc:
  // the weight, the draw, and the verdict — the d13 rule applied to
  // sampling (how much was dropped and WHY is first-class output).
  // Shape: t19's scored frame (one hash-agg over the broadcast-joined
  // feature stream) plus one hash-free projection — the draw adds zero
  // exchanges; at 100 TB the resample is a filter at scan speed over
  // the weight table.
  // ---------------------------------------------------------------------
  val c12ImportanceResample = Q(
    "c12_importance_resample",
    (s, d) => {
      val u = (pmod(Portable.h60(col("doc_id").cast("string"), "c12|"),
        lit(1000000L)).cast("double") + lit(0.5)) / 1000000.0
      t19DsirWeights.fn(s, d)
        .select(col("doc_id"), col("logw"),
          round(log(u), 6).as("log_u"))
        .withColumn("accepted",
          col("log_u") < least(col("logw"), lit(0.0)))
    },
    Some(s"""WITH $dsirCtesDuck,
      drawn AS (
        SELECT doc_id, CAST(w AS DOUBLE) AS logw,
          round(ln((CAST(${Portable.h60Duck(
            "CAST(doc_id AS VARCHAR)", "c12|")} % 1000000 AS DOUBLE)
            + 0.5) / 1000000.0), 6) AS log_u
        FROM scored)
      SELECT doc_id, logw, log_u,
        log_u < least(logw, CAST(0.0 AS DOUBLE)) AS accepted
      FROM drawn"""))

  // ---------------------------------------------------------------------
  // T20: BPE merge learning (Sennrich et al. 2016, "Neural Machine
  // Translation of Rare Words with Subword Units") — tokenizer
  // TRAINING as a corpus op, the missing half of t9's sequence
  // packing (which consumes a tokenizer). The classic vocab-level
  // algorithm, exactly how production trainers shape it: ONE heavy
  // corpus pass builds the word-frequency table (hash-agg at scan
  // speed — the only stage that sees 100 TB), then every merge round
  // runs on the CAPPED vocab (top-[[BPE_VOCAB_CAP]] words by mass,
  // deterministic (freq DESC, word ASC) — the cap is a reported d13
  // surface, not silent). Per round: explode the symbol sequences,
  // pair adjacent symbols via lead() over (word, ord) — a window, not
  // a self-join, so each round references the previous state ONCE and
  // the unrolled oracle stays linear-ish — weight pairs by word freq,
  // take the argmax (weight DESC, pair ASC: a total order), and apply
  // the merge to the delimited symbol string.
  //
  // Exactness: symbols ride in " a b c "-delimited strings; applying a
  // merge is replace(" l r " -> " lr ") run [[BPE_REPLACE_PASSES]]
  // times — both engines' replace() is non-overlapping left-to-right,
  // so pass k halves any remaining same-symbol run and 3 passes
  // resolve runs <= 8 symbols identically (BpeSpec pins the semantics
  // on planted runs). All weights are BIGINT sums of BIGINT freqs.
  //
  // Shape at scale: corpus pass = one shuffle; each of the 6 rounds
  // shuffles only the <=256-row vocab (explode ~10 symbols/word); the
  // 1-row argmax broadcasts into the apply. The learned merge table IS
  // the artifact a tokenizer ships.
  // ---------------------------------------------------------------------
  private[graft] val BPE_VOCAB_CAP = 256
  private[graft] val BPE_ROUNDS = 6
  private[graft] val BPE_REPLACE_PASSES = 3

  /** The t20 learning loop, shared with t21 (which APPLIES the learned
    * rules): one corpus word-freq pass, then [[BPE_ROUNDS]] argmax
    * rounds over the capped vocab. Returns the per-round 1-row best
    * frames (lhs, rhs, weight) in merge order, each snapped (every
    * best feeds both its caller's output/apply and the
    * next learning round). */
  private def bpeLearnBests(s: SparkSession, d: String): Seq[DataFrame] = {
    import org.apache.spark.sql.expressions.Window
    val words = documents(s, d)
      .select(explode(split(lower(col("text")), " ")).as("word"))
      .filter(col("word").rlike("^[a-z]+$"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("word").asc)
      .limit(BPE_VOCAB_CAP)
    var seq = words.select(col("word"), col("freq"),
      concat(regexp_replace(col("word"), "(.)", " $1"), lit(" "))
        .as("seq"))
      .snap()
    val bests = Seq.newBuilder[DataFrame]
    for (_ <- 1 to BPE_ROUNDS) {
      val best = seq
        .select(col("word"), col("freq"),
          posexplode(split(trim(col("seq")), " ")))
        .withColumnRenamed("pos", "ord").withColumnRenamed("col", "sym")
        .withColumn("r", lead(col("sym"), 1).over(
          Window.partitionBy(col("word")).orderBy(col("ord"))))
        .filter(col("r").isNotNull)
        .groupBy(col("sym").as("lhs"), col("r").as("rhs"))
        .agg(sum(col("freq")).as("weight"))
        .orderBy(col("weight").desc, col("lhs").asc, col("rhs").asc)
        .limit(1)
        .snap() // 1 row; feeds BOTH the output and the apply
      bests += best
      seq = seq.crossJoin(broadcast(best.select(col("lhs"), col("rhs"))))
        .select(col("word"), col("freq"),
          bpeApplyMerge(col("seq")).as("seq"))
        .snap()
    }
    bests.result()
  }

  /** One merge application: replace(" lhs rhs " -> " lhsrhs ") run
    * [[BPE_REPLACE_PASSES]] times over a delimited symbol string whose
    * frame carries broadcast `lhs`/`rhs` columns. */
  private def bpeApplyMerge(seqCol: Column): Column = {
    val pat = concat(lit(" "), col("lhs"), lit(" "), col("rhs"), lit(" "))
    val rep = concat(lit(" "), col("lhs"), col("rhs"), lit(" "))
    (1 to BPE_REPLACE_PASSES).foldLeft(seqCol)((c, _) => replace(c, pat, rep))
  }

  /** The learning recurrence (wc, s0, px/m/s 1..6) as DuckDB CTE text —
    * the shared oracle prefix of t20 (reports the rules) and t21
    * (applies them to the corpus). */
  private def bpeDuckCtes: String = {
    val rounds = (1 to BPE_ROUNDS).map { i =>
      val rp = (1 to BPE_REPLACE_PASSES).foldLeft("seq")((e, _) =>
        s"replace($e, ' '||lhs||' '||rhs||' ', ' '||lhs||rhs||' ')")
      s"""px$i AS (
        SELECT sym AS lhs, lead(sym) OVER (
            PARTITION BY word ORDER BY ord) AS rhs, freq
        FROM (SELECT word, freq, unnest(syms) AS sym,
                unnest(range(1, len(syms) + 1)) AS ord
              FROM (SELECT word, freq,
                  string_split(trim(seq), ' ') AS syms
                FROM s${i - 1}))),
      m$i AS (
        SELECT lhs, rhs, CAST(sum(freq) AS BIGINT) AS weight
        FROM px$i WHERE rhs IS NOT NULL
        GROUP BY lhs, rhs
        ORDER BY weight DESC, lhs ASC, rhs ASC LIMIT 1),
      s$i AS (
        SELECT word, freq, $rp AS seq
        FROM s${i - 1} CROSS JOIN m$i)"""
    }.mkString(",\n      ")
    s"""wc AS (
        SELECT word, CAST(count(*) AS BIGINT) AS freq
        FROM (SELECT unnest(string_split(lower(text), ' ')) AS word
              FROM documents) t
        WHERE regexp_matches(word, '^[a-z]+${"$"}')
        GROUP BY word ORDER BY freq DESC, word ASC LIMIT $BPE_VOCAB_CAP),
      s0 AS (
        SELECT word, freq,
          regexp_replace(word, '(.)', ' \\1', 'g') || ' ' AS seq
        FROM wc),
      $rounds"""
  }

  val t20BpeMerges = Q(
    "t20_bpe_merges",
    (s, d) =>
      bpeLearnBests(s, d).zipWithIndex.map { case (best, i) =>
        best.select(lit((i + 1).toLong).as("rnd"), col("lhs"),
          col("rhs"), concat(col("lhs"), col("rhs")).as("merged"),
          col("weight"))
      }.reduce(_ unionByName _),
    Some {
      val out = (1 to BPE_ROUNDS).map { i =>
        s"""SELECT CAST($i AS BIGINT) AS rnd, lhs, rhs,
          lhs || rhs AS merged, weight FROM m$i"""
      }.mkString(" UNION ALL ")
      s"""WITH $bpeDuckCtes
      $out"""
    })

  // ---------------------------------------------------------------------
  // T21: BPE encoding — the CONSUMER t20 was missing (VERDICT r15 #1,
  // the train→apply asymmetry: every other trained artifact has a
  // consumer — a8→a7b, t15's LM → c7). Tokenizing the corpus with the
  // learned tokenizer IS the heavy pass of a training-data build, and
  // its numbers (per-doc token counts, the corpus total) are what t9's
  // sequence packing budgets against.
  //
  // Encoding: each document maps to ONE delimited symbol string — an
  // alpha word contributes " c h a r s " (its space-delimited chars),
  // any other whitespace token contributes the single non-mergeable
  // symbol " 0 " (a byte-fallback stand-in: '0' ∉ [a-z] and every
  // learned lhs/rhs IS [a-z]+, so it can never merge). Adjacent word
  // strings concatenate to DOUBLE spaces at word boundaries, which the
  // single-spaced " lhs rhs " patterns cannot span — word-boundary
  // isolation with zero extra bookkeeping. The 6 learned merges then
  // apply IN ORDER (each a 1-row broadcast crossJoin + the same
  // 3-pass replace discipline BpeSpec pins), and a doc's token count
  // is its final symbol count.
  //
  // Shape at scale: learning re-runs t20 (one corpus hash-agg + capped
  // iteration); encoding is ONE corpus-sized projection pipeline — 6
  // merges × 3 passes = 18 codegen'd replaces, no shuffle — and the
  // count agg broadcasts back over the planner-thin counts frame. The
  // corpus is scanned twice (freq pass, encode pass), the physical
  // floor for train-then-apply in one query.
  // ---------------------------------------------------------------------
  /** (doc_id, n_tokens) under the LEARNED tokenizer — t21's encode,
    * split out so t9b's packing can budget on REAL token counts.
    * snapped: every caller reads it at least twice. */
  private[graft] def bpeTokenCounts(s: SparkSession, d: String)
      : DataFrame = {
    val bests = bpeLearnBests(s, d)
    val seqExpr = expr(
      "array_join(transform(filter(split(lower(text), ' '), " +
        "w -> w <> ''), w -> CASE WHEN w rlike '^[a-z]+$' " +
        "THEN concat(regexp_replace(w, '(.)', ' $1'), ' ') " +
        "ELSE ' 0 ' END), '')")
    var enc = documents(s, d).select(col("doc_id"), seqExpr.as("seq"))
    for (best <- bests)
      enc = enc.crossJoin(broadcast(best.select(col("lhs"), col("rhs"))))
        .select(col("doc_id"), bpeApplyMerge(col("seq")).as("seq"))
    enc.select(col("doc_id"),
      when(trim(col("seq")) === "", lit(0L))
        .otherwise(size(split(trim(col("seq")), " +")).cast("long"))
        .as("n_tokens"))
      .snap()
  }

  /** The encode chain as DuckDB CTE text ending in
    * `btok (doc_id, n_tokens)` — [[bpeDuckCtes]] + enc0..enc6 + the
    * count projection; the shared oracle prefix of t21 and t9b. */
  private[graft] def bpeEncodeDuckCtes: String = {
    val encs = (1 to BPE_ROUNDS).map { i =>
      val rp = (1 to BPE_REPLACE_PASSES).foldLeft("seq")((e, _) =>
        s"replace($e, ' '||lhs||' '||rhs||' ', ' '||lhs||rhs||' ')")
      s"""enc$i AS (
        SELECT doc_id, $rp AS seq
        FROM enc${i - 1} CROSS JOIN m$i)"""
    }.mkString(",\n      ")
    s"""$bpeDuckCtes,
      enc0 AS (
        SELECT doc_id, array_to_string(list_transform(
          list_filter(string_split(lower(text), ' '), w -> w <> ''),
          w -> CASE WHEN regexp_matches(w, '^[a-z]+${"$"}')
            THEN regexp_replace(w, '(.)', ' \\1', 'g') || ' '
            ELSE ' 0 ' END), '') AS seq
        FROM documents),
      $encs,
      btok AS (
        SELECT doc_id,
          CASE WHEN trim(seq) = '' THEN CAST(0 AS BIGINT)
            ELSE CAST(len(string_split_regex(trim(seq), ' +'))
              AS BIGINT) END AS n_tokens
        FROM enc$BPE_ROUNDS)"""
  }

  val t21BpeEncode = Q(
    "t21_bpe_encode",
    (s, d) => {
      val counts = bpeTokenCounts(s, d)
      counts.crossJoin(broadcast(
        counts.agg(sum(col("n_tokens")).as("corpus_tokens"))))
        .select(col("doc_id"), col("n_tokens"), col("corpus_tokens"))
    },
    Some(s"""WITH $bpeEncodeDuckCtes
      SELECT doc_id, n_tokens,
        CAST(sum(n_tokens) OVER () AS BIGINT) AS corpus_tokens
      FROM btok"""))

  // ---------------------------------------------------------------------
  // T9b: sequence packing on REAL token counts — t9's per-shard
  // running-sum packing re-expressed over the LEARNED tokenizer's
  // per-doc counts (t21) instead of the whitespace proxy, closing the
  // last train→consume hop of the tokenizer lifecycle: learn (t20) →
  // encode (t21) → budget the packs a trainer actually fills (this).
  // The packing shape is t9's verbatim (per-source running sum →
  // pack_id = floor(before/budget), offset rides along — one window
  // per source shard, never a global sort); only the count column's
  // provenance changed, which is exactly the point: a whitespace-count
  // pack under-budgets by the subword blow-up factor and the trainer
  // hits sequence-length overflows at load time.
  // ---------------------------------------------------------------------
  val t9bPackBpe = Q(
    "t9b_pack_bpe",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      bpeTokenCounts(s, d)
        .join(documents(s, d).select(col("doc_id"), col("source")),
          Seq("doc_id"))
        .withColumn("cum", sum(col("n_tokens")).over(w))
        .select(col("doc_id"), col("source"), col("n_tokens"),
          floor((col("cum") - col("n_tokens")) / PACK_BUDGET)
            .as("pack_id"),
          (col("cum") - col("n_tokens") -
            floor((col("cum") - col("n_tokens")) / PACK_BUDGET)
              * PACK_BUDGET).as("pack_offset"))
    },
    Some(s"""WITH $bpeEncodeDuckCtes,
      c AS (
        SELECT b.doc_id, d.source, b.n_tokens,
          sum(b.n_tokens) OVER (PARTITION BY d.source ORDER BY b.doc_id)
            - b.n_tokens AS before_
        FROM btok b JOIN documents d ON d.doc_id = b.doc_id)
      SELECT doc_id, source, n_tokens,
        CAST(floor(before_ / $PACK_BUDGET) AS BIGINT) AS pack_id,
        CAST(before_ - CAST(floor(before_ / $PACK_BUDGET) AS BIGINT)
          * $PACK_BUDGET AS BIGINT) AS pack_offset
      FROM c"""))

  // ---------------------------------------------------------------------
  // T16: the Gopher quality-rule battery (Rae et al. 2021, "Scaling
  // Language Models: Methods, Analysis & Insights from Training
  // Gopher", §A1.1) — the composite rule filter most production
  // curation stacks run verbatim: word-count bounds, mean-word-length
  // bounds, symbol-to-word ratio, alphabetic-word fraction, minimum
  // stop-word evidence. Output is the per-doc rule REPORT (each rule's
  // verdict + the stats it read), not just the surviving slice —
  // downstream consumers route on `pass` while the per-rule flags feed
  // the corpus-health dashboard (which rule kills how much of which
  // source is the number a data team actually watches).
  //
  // Every rule COMPARES IN INTEGER ARITHMETIC (n_punct*10 <= n_words,
  // chars-vs-3n/10n bounds, n_alpha*5 >= n_words*4): a rounded-double
  // threshold would let Spark's HALF_UP and DuckDB's binary-double
  // rounding disagree on boundary docs (the d5 lesson, ADVICE r3); the
  // rounded ratio columns are display-only. Plan shape: one per-row
  // projection, codegen'd, no shuffle — at 100 TB this runs at scan
  // speed next to t1's stats pass.
  // ---------------------------------------------------------------------
  /** The rule battery as a TRANSFORM over any documents-shaped frame —
    * a pure stateless projection, so the same definition gates a batch
    * corpus and a readStream of arriving documents identically
    * (StreamingSpec proves stream == batch row for row); the Q below
    * is this transform over the lake table. */
  private[graft] def gopherRulesOf(docs: DataFrame): DataFrame =
      docs
        .select(col("doc_id"), col("source"), col("text"),
          split(lower(col("text")), " ").as("t"))
        .select(col("doc_id"), col("source"),
          size(col("t")).cast("long").as("n_words"),
          length(regexp_replace(col("text"), " ", ""))
            .cast("long").as("n_chars"),
          (length(col("text")) -
            length(regexp_replace(col("text"), "[.,;:!?#]", "")))
            .cast("long").as("n_symbols"),
          expr("size(filter(t, x -> x rlike '[a-z]'))")
            .cast("long").as("n_alpha"),
          expr("size(filter(t, x -> x IN ('the', 'a', 'of', 'and', 'to')))")
            .cast("long").as("n_stop"))
        .select(col("doc_id"), col("source"), col("n_words"),
          round(col("n_chars").cast("double") / col("n_words"), 4)
            .as("mean_word_len"),
          round(col("n_symbols").cast("double") / col("n_words"), 6)
            .as("symbol_ratio"),
          round(col("n_alpha").cast("double") / col("n_words"), 6)
            .as("alpha_frac"),
          col("n_stop"),
          (col("n_words") >= 50 && col("n_words") <= 100000)
            .as("r_word_count"),
          (col("n_chars") >= col("n_words") * 3 &&
            col("n_chars") <= col("n_words") * 10).as("r_word_len"),
          (col("n_symbols") * 10 <= col("n_words")).as("r_symbol"),
          (col("n_alpha") * 5 >= col("n_words") * 4).as("r_alpha"),
          (col("n_stop") >= 2).as("r_stop"))
        .withColumn("n_failed",
          (lit(5) -
            (col("r_word_count").cast("int") + col("r_word_len").cast("int") +
              col("r_symbol").cast("int") + col("r_alpha").cast("int") +
              col("r_stop").cast("int"))).cast("long"))
        .withColumn("pass", col("n_failed") === 0)

  val t16GopherRules = Q(
    "t16_gopher_rules",
    (s, d) => gopherRulesOf(documents(s, d)),
    Some("""WITH b AS (
        SELECT doc_id, source, text,
          string_split(lower(text), ' ') AS t FROM documents),
      st AS (
        SELECT doc_id, source,
          CAST(len(t) AS BIGINT) AS n_words,
          CAST(length(replace(text, ' ', '')) AS BIGINT) AS n_chars,
          CAST(length(text) -
            length(regexp_replace(text, '[.,;:!?#]', '', 'g')) AS BIGINT)
            AS n_symbols,
          CAST(len(list_filter(t, x -> regexp_matches(x, '[a-z]')))
            AS BIGINT) AS n_alpha,
          CAST(len(list_filter(t,
            x -> x IN ('the', 'a', 'of', 'and', 'to'))) AS BIGINT) AS n_stop
        FROM b)
      SELECT doc_id, source, n_words,
        round(CAST(n_chars AS DOUBLE) / n_words, 4) AS mean_word_len,
        round(CAST(n_symbols AS DOUBLE) / n_words, 6) AS symbol_ratio,
        round(CAST(n_alpha AS DOUBLE) / n_words, 6) AS alpha_frac,
        n_stop,
        n_words >= 50 AND n_words <= 100000 AS r_word_count,
        n_chars >= n_words * 3 AND n_chars <= n_words * 10 AS r_word_len,
        n_symbols * 10 <= n_words AS r_symbol,
        n_alpha * 5 >= n_words * 4 AS r_alpha,
        n_stop >= 2 AS r_stop,
        CAST(5 - (CAST(n_words >= 50 AND n_words <= 100000 AS INT)
          + CAST(n_chars >= n_words * 3 AND n_chars <= n_words * 10 AS INT)
          + CAST(n_symbols * 10 <= n_words AS INT)
          + CAST(n_alpha * 5 >= n_words * 4 AS INT)
          + CAST(n_stop >= 2 AS INT)) AS BIGINT) AS n_failed,
        (CAST(n_words >= 50 AND n_words <= 100000 AS INT)
          + CAST(n_chars >= n_words * 3 AND n_chars <= n_words * 10 AS INT)
          + CAST(n_symbols * 10 <= n_words AS INT)
          + CAST(n_alpha * 5 >= n_words * 4 AS INT)
          + CAST(n_stop >= 2 AS INT)) = 5 AS pass
      FROM st"""))

  // ---------------------------------------------------------------------
  // T14: KMV quantile sketch — the third sketch leg (a9 answers "how
  // many distinct", t12 "how often", t14 "how is it distributed"): a
  // bottom-K-by-hash sample per stratum is a uniform sample that is
  // DETERMINISTIC, id-auditable, and mergeable (bottom-K of a union =
  // bottom-K of the merged bottom-Ks — the d5-anchor WindowGroupLimit
  // pattern, so only K rows per stratum survive the map side), and
  // order statistics read off the sample estimate the stratum's
  // quantiles with O(K) state. Selection ranks use the deterministic
  // type-1 formula (row (n+1) div 2 of the (value, id) ordering), all
  // integer arithmetic; the exact ranks ride along for the error
  // exhibit, costing the full-stratum sort the sketch exists to avoid.
  // ---------------------------------------------------------------------
  private val KMV_K = 64

  val t14KmvQuantile = Q(
    "t14_kmv_quantile",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val base = documents(s, d)
        .select(col("lang"), col("doc_id"), col("n_chars"),
          Portable.h60(col("doc_id").cast("string"), "kmv|").as("hk"))
      val byVal = Window.partitionBy(col("lang"))
        .orderBy(col("n_chars").asc, col("doc_id").asc)
      def ranksOf(df: DataFrame, nCol: String): DataFrame = {
        val counts = df.groupBy(col("lang")).agg(count(lit(1)).as(nCol))
        df.withColumn("rv", row_number().over(byVal))
          .join(broadcast(counts), Seq("lang"))
      }
      def pick(df: DataFrame, nCol: String, tag: String): DataFrame =
        df.groupBy(col("lang"), col(nCol))
          .agg(
            max(when(col("rv") === expr(s"($nCol + 1) div 2"),
              col("n_chars"))).as(s"p50_$tag"),
            max(when(col("rv") === expr(s"(9 * $nCol + 9) div 10"),
              col("n_chars"))).as(s"p90_$tag"))
      // doc_id tie-break: an h60 collision straddling rank K must pick
      // the same doc in both engines or sample membership diverges
      val sample = base
        .withColumn("rs", row_number().over(
          Window.partitionBy(col("lang"))
            .orderBy(col("hk").asc, col("doc_id").asc)))
        .filter(col("rs") <= KMV_K)
        .select("lang", "doc_id", "n_chars")
      pick(ranksOf(base, "n_docs"), "n_docs", "exact")
        .join(pick(ranksOf(sample, "n_sample"), "n_sample", "kmv"),
          Seq("lang"))
        .select(col("lang"), col("n_docs"), col("n_sample"),
          col("p50_exact"), col("p50_kmv"), col("p90_exact"),
          col("p90_kmv"))
    },
    Some(s"""WITH base AS (
        SELECT lang, doc_id, n_chars,
          ${Portable.h60Duck("CAST(doc_id AS VARCHAR)", "kmv|")} AS hk
        FROM documents),
      exact_r AS (
        SELECT lang, n_chars,
          row_number() OVER (PARTITION BY lang
            ORDER BY n_chars ASC, doc_id ASC) AS rv,
          count(*) OVER (PARTITION BY lang) AS n_docs
        FROM base),
      exact_q AS (
        SELECT lang, n_docs,
          max(CASE WHEN rv = (n_docs + 1) // 2 THEN n_chars END)
            AS p50_exact,
          max(CASE WHEN rv = (9 * n_docs + 9) // 10 THEN n_chars END)
            AS p90_exact
        FROM exact_r GROUP BY 1, 2),
      sample_ AS (
        SELECT lang, doc_id, n_chars FROM (
          SELECT lang, doc_id, n_chars, row_number() OVER (
            PARTITION BY lang ORDER BY hk ASC, doc_id ASC) AS rs
          FROM base) t
        WHERE rs <= $KMV_K),
      sample_r AS (
        SELECT lang, n_chars,
          row_number() OVER (PARTITION BY lang
            ORDER BY n_chars ASC, doc_id ASC) AS rv,
          count(*) OVER (PARTITION BY lang) AS n_sample
        FROM sample_),
      sample_q AS (
        SELECT lang, n_sample,
          max(CASE WHEN rv = (n_sample + 1) // 2 THEN n_chars END)
            AS p50_kmv,
          max(CASE WHEN rv = (9 * n_sample + 9) // 10 THEN n_chars END)
            AS p90_kmv
        FROM sample_r GROUP BY 1, 2)
      SELECT e.lang, e.n_docs, s.n_sample, e.p50_exact, s.p50_kmv,
        e.p90_exact, s.p90_kmv
      FROM exact_q e JOIN sample_q s ON s.lang = e.lang"""))

  // ---------------------------------------------------------------------
  // C3: deterministic stratified sampling — rebalance the corpus mix by
  // keeping each document iff its seeded hash falls under its stratum's
  // threshold. This is how training mixes are actually struck at scale:
  // rand() sampling is irreproducible across retries/executors and
  // unstable under repartition, while hash-gating is a pure map-side
  // codegen'd filter — no shuffle, no state, the same sample on every
  // rerun of a 100 TB corpus, and membership of any doc is auditable
  // from its id alone. Thresholds are EXACT powers-of-two fractions of
  // the h60 range (rate r = thr / 2^60), so both engines compare
  // integers — no double rounding at the gate. Strata absent from the
  // table (here: de) keep everything — the sane default for a mix spec
  // that names only the strata it downsamples.
  // ---------------------------------------------------------------------
  /** stratum → keep-threshold over h60's [0, 2^60) range. */
  private val SAMPLE_THRESHOLDS: Seq[(String, Long)] = Seq(
    "en" -> (1L << 59), // 1/2 — the over-represented stratum
    "zh" -> 3L * (1L << 58), // 3/4
    "es" -> 5L * (1L << 57), // 5/8
    "fr" -> (1L << 58)) // 1/4
  private val KEEP_ALL = 1L << 60 // > any h60 value

  val c3StratifiedSample = Q(
    "c3_stratified_sample",
    (s, d) => {
      val thr = SAMPLE_THRESHOLDS.foldRight(lit(KEEP_ALL): Column) {
        case ((l, t), acc) => when(col("lang") === l, lit(t)).otherwise(acc)
      }
      documents(s, d)
        .filter(Portable.h60(col("doc_id").cast("string"), "samp|") < thr)
        .select(col("doc_id"), col("lang"), col("source"))
    },
    Some(s"""SELECT doc_id, lang, source FROM documents
      WHERE ${Portable.h60Duck("CAST(doc_id AS VARCHAR)", "samp|")} <
        CASE lang ${SAMPLE_THRESHOLDS.map { case (l, t) =>
          s"WHEN '$l' THEN $t" }.mkString(" ")} ELSE $KEEP_ALL END"""))

  // ---------------------------------------------------------------------
  // C5: temperature-weighted mixture sampling — c3 with the rates
  // DERIVED from the data instead of hand-specified: each stratum keeps
  // rate_s = sqrt(n_min / n_s), the α=0.5 temperature flattening every
  // multilingual/multi-domain training mix uses (XLM-R style): sampled
  // sizes become sqrt(n_min·n_s) — the geometric mean between uniform
  // and proportional — so over-represented strata are suppressed and
  // the smallest stratum keeps everything, with no magic constants to
  // retune as the corpus grows.
  //
  // Scale: the stratum table is |langs| rows — aggregated once, then
  // BROADCAST back; the gate itself is c3's pure map-side codegen'd
  // hash compare against a per-stratum integer threshold (same seeded
  // h60, so membership is auditable from the id alone and stable
  // across reruns/retries). Two passes over documents, but the second
  // reads only (doc_id, lang) — column pruning keeps the text out of
  // both. Float discipline: rate = one IEEE sqrt of one IEEE division
  // on exact integer inputs, threshold = floor(rate·2^60) — every step
  // correctly rounded on identical inputs, so the engines' thresholds
  // are bit-equal and no doc can flip across the gate.
  // ---------------------------------------------------------------------
  private val TWO60D: Double = 1152921504606846976.0 // 2^60, exact

  /** c5's body over any documents-shaped frame — separated so the spec
    * can replicate the gate driver-side on planted skew. */
  private[graft] def temperatureMixOf(docs: DataFrame): DataFrame = {
      val ns = docs
        .groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
      val nref = ns.agg(min(col("n_docs")).as("n_ref"))
      val rates = ns.crossJoin(broadcast(nref))
        .withColumn("rate",
          sqrt(col("n_ref").cast("double") / col("n_docs").cast("double")))
        .withColumn("thr", floor(col("rate") * lit(TWO60D)))
      val sampled = docs
        .select(col("doc_id"), col("lang"))
        .join(broadcast(rates.select(col("lang"), col("thr"))), Seq("lang"))
        .filter(Portable.h60(col("doc_id").cast("string"), "mix|") <
          col("thr"))
        .groupBy(col("lang")).agg(count(lit(1)).as("n_sampled"))
      rates.join(sampled, Seq("lang"), "left")
        .select(col("lang"), col("n_docs"),
          coalesce(col("n_sampled"), lit(0L)).as("n_sampled"),
          round(col("rate"), 6).as("rate"))
  }

  val c5TemperatureMix = Q(
    "c5_temperature_mix",
    (s, d) => temperatureMixOf(documents(s, d)),
    Some(s"""WITH ns AS (
        SELECT lang, count(*) AS n_docs FROM documents GROUP BY 1),
      nref AS (SELECT min(n_docs) AS n_ref FROM ns),
      rates AS (
        SELECT lang, n_docs,
          sqrt(CAST(n_ref AS DOUBLE) / CAST(n_docs AS DOUBLE)) AS rate,
          CAST(floor(sqrt(CAST(n_ref AS DOUBLE) / CAST(n_docs AS DOUBLE))
            * CAST(1152921504606846976 AS DOUBLE)) AS BIGINT) AS thr
        FROM ns, nref),
      samp AS (
        SELECT d.lang, count(*) AS n_sampled
        FROM documents d JOIN rates r ON r.lang = d.lang
        WHERE ${Portable.h60Duck("CAST(doc_id AS VARCHAR)", "mix|")} < r.thr
        GROUP BY 1)
      SELECT r.lang, r.n_docs, coalesce(s.n_sampled, 0) AS n_sampled,
        round(r.rate, 6) AS rate
      FROM rates r LEFT JOIN samp s ON s.lang = r.lang"""))

  // ---------------------------------------------------------------------
  // C7: CCNet-style perplexity bucketing (Wenzek et al. 2020, "CCNet:
  // Extracting High Quality Monolingual Datasets from Web Crawl Data")
  // — per language, rank every document by its LM score and cut the
  // ranking into head/middle/tail terciles; the bucket label is the
  // mixing handle (train on head+middle, hold tail for ablations) and
  // the per-bucket report is what the curation dashboard shows. Reuses
  // t15's trained-bigram LM scores over the FULL corpus, so one score
  // definition serves the held-out eval (t15), the decile election
  // (c1c), and the bucket mix (here).
  //
  // Tercile assignment is exact ntile(3) over (avg_logp DESC, doc_id)
  // — deterministic under ties, identical in DuckDB. The window runs
  // over the per-doc STATS table (16 B/doc), never the corpus text; at
  // 100 TB that is a ~16 GB/1e9-doc per-lang sort, fine for a batch
  // report — a latency-bound variant would broadcast two
  // approx-percentile cutpoints instead and lose tie determinism.
  // Docs under 2 tokens have no bigrams and fall out of scoring on
  // both engines identically.
  // ---------------------------------------------------------------------
  val c7CcnetBuckets = Q(
    "c7_ccnet_buckets",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val scored = lmScores(s, d, heldOutOnly = false)
        .join(documents(s, d).select(col("doc_id"), col("lang")),
          Seq("doc_id"))
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("avg_logp").desc, col("doc_id").asc)
      scored
        .withColumn("nt", ntile(3).over(w))
        .withColumn("bucket",
          when(col("nt") === 1, "head")
            .when(col("nt") === 2, "middle")
            .otherwise("tail"))
        .groupBy(col("lang"), col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          round(sum(col("avg_logp").cast("decimal(28,6)")).cast("double") /
            count(lit(1)), 6).as("mean_logp"),
          max(col("avg_logp")).as("best_logp"),
          min(col("avg_logp")).as("worst_logp"))
    },
    Some(s"""WITH ${lmScoreSql("TRUE")},
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
        CAST(count(*) AS BIGINT) AS n_docs,
        round(CAST(sum(CAST(avg_logp AS DECIMAL(28,6))) AS DOUBLE)
          / count(*), 6) AS mean_logp,
        max(avg_logp) AS best_logp,
        min(avg_logp) AS worst_logp
      FROM nt GROUP BY 1, 2"""))

  // ---------------------------------------------------------------------
  // A9: HyperLogLog distinct-count sketch, fully relational and
  // engine-portable — per-language distinct-trigram cardinality without
  // a distinct. THE cardinality tool at 100 TB: exact countDistinct
  // shuffles every distinct value, while the sketch reduces a stratum
  // to a FIXED 2^p-register table (here p=8 → 256 rows per language)
  // built by one map-side-partial max aggregation, and register tables
  // are mergeable by pairwise max — across partitions, days, or
  // clusters — which is what makes the sketch composable in a lake.
  //
  // Portability discipline: the h60 hash splits into a p-bit register
  // index and a (60-p)-bit suffix whose leading-zero rank comes from
  // length(bin(w)) — string length of the binary form, identical in
  // both engines, no floating log2. The harmonic mean accumulates as
  // Σ 2^(53-M_j) in EXACT BIGINT arithmetic (≤ 2^61, no overflow), so
  // the only floating-point steps are one division by the inlined
  // alpha·m²·2^53 literal and the small-range linear-counting branch
  // (m·ln(m/V)) — each a single correctly-rounded IEEE op on identical
  // inputs, rounded to 4dp on both sides. Through round 7 an exact
  // countDistinct rode along to exhibit the sketch error (≈1.04/√m ≈
  // 6.5% at p=8); it was the very shuffle the sketch avoids, so the
  // benched query is now sketch-only and the error exhibit lives in
  // HllAggSpec against an exact recount.
  // ---------------------------------------------------------------------
  private val HLL_P = 8
  private val HLL_M = 1 << HLL_P // registers per stratum
  private val HLL_WMASK = 1L << (60 - HLL_P) // 2^52: suffix range
  /** alpha_m · m² · 2^53 — numerator of the scaled harmonic-mean
    * estimate; shortest-round-trip literal shared with the oracle. */
  private val HLL_NUMC: Double =
    0.7213 / (1 + 1.079 / HLL_M) * HLL_M * HLL_M * math.pow(2, 53)

  /** a9's relational HLL factored BY KEY: over a (key, h) frame of
    * 60-bit hashes, returns (key, n_hll) — register max-agg, exact
    * BIGINT harmonic sum, linear-counting small-range branch. Shared
    * by a9 (key = lang over trigrams) and x14 (key = column name over
    * column values). */
  /** The register half of [[hllByKey]] — per-($key, idx) max-rho, the
    * MERGEABLE artifact (registers of A ∪ B = per-cell max of A's and
    * B's registers), factored so x17's incremental-stats merge shares
    * the exact math. */
  private[graft] def hllRegsByKey(keyed: DataFrame, key: String)
      : DataFrame =
    keyed
      .select(col(key), expr(s"h div $HLL_WMASK").as("idx"),
        (col("h") % HLL_WMASK).as("w"))
      .select(col(key), col("idx"),
        when(col("w") === 0, lit(53))
          .otherwise(lit(53) - length(bin(col("w")))).as("rho"))
      .groupBy(col(key), col("idx"))
      .agg(max(col("rho")).as("m_rho"))

  /** The estimate half: a ($key, idx, m_rho) register frame → the
    * ($key, n_hll) cardinality estimate. */
  private[graft] def hllFinalize(regs: DataFrame, key: String)
      : DataFrame = {
    val z = regs.groupBy(col(key)).agg(
      (sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(53 - m_rho AS INT))")) +
        (lit(HLL_M.toLong) - count(lit(1))) * lit(1L << 53)).as("z_scaled"),
      (lit(HLL_M.toLong) - count(lit(1))).as("v_zero"))
    z.select(col(key), (lit(HLL_NUMC) / col("z_scaled")).as("raw"),
        col("v_zero"))
      .select(col(key),
        when(col("raw") <= lit(2.5 * HLL_M) && col("v_zero") > 0,
          round(lit(HLL_M.toDouble) *
            log(lit(HLL_M.toDouble) / col("v_zero")), 4))
          .otherwise(round(col("raw"), 4)).as("n_hll"))
  }

  private[graft] def hllByKey(keyed: DataFrame, key: String): DataFrame =
    hllFinalize(hllRegsByKey(keyed, key), key)

  /** Register CTE text: builds `${p}hreg ($key, idx, m_rho)` from a
    * prior CTE `$src` exposing ($key, h). */
  private[graft] def hllRegsDuck(
      key: String, p: String, src: String): String = s"""${p}hreg AS (
        SELECT $key, h // $HLL_WMASK AS idx,
          max(CASE WHEN h % $HLL_WMASK = 0 THEN 53
              ELSE 53 - length(bin(h % $HLL_WMASK)) END) AS m_rho
        FROM $src GROUP BY 1, 2)"""

  /** Finalizer CTE text: `${p}hreg` → `${p}hfin ($key, n_hll)`. */
  private[graft] def hllFinalizeDuck(key: String, p: String): String =
    s"""${p}hz AS (
        SELECT $key,
          sum(1::BIGINT << CAST(53 - m_rho AS INT)) +
            ($HLL_M - count(*)) * (1::BIGINT << 53) AS z_scaled,
          $HLL_M - count(*) AS v_zero
        FROM ${p}hreg GROUP BY 1),
      ${p}hfin AS (
        SELECT $key, CASE WHEN raw <= ${2.5 * HLL_M} AND v_zero > 0
            THEN round($HLL_M.0 * ln($HLL_M.0 / v_zero), 4)
            ELSE round(raw, 4) END AS n_hll
        FROM (SELECT $key, $HLL_NUMC / z_scaled AS raw, v_zero
              FROM ${p}hz) t)"""

  /** [[hllByKey]] as DuckDB CTE text over a prior `hsrc` CTE exposing
    * ($key, h); ends in `hfin ($key, n_hll)`. */
  private[graft] def hllByKeyDuck(key: String): String =
    hllRegsDuck(key, "", "hsrc") + ",\n      " + hllFinalizeDuck(key, "")

  /** Per-(lang) 3-gram stream with its 60-bit sketch hash — shared by
    * a9 (relational registers) and a9b (native aggregate). */
  private def hllGrams(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("lang"), split(lower(col("text")), " ").as("t"))
      .filter(size(col("t")) >= 3)
      .select(col("lang"), explode(expr(ngramExpr(3))).as("gram"))

  /** The ONE oracle for the HLL family: a9 and a9b must both equal it —
    * which transitively pins native-aggregate == relational == DuckDB. */
  private val hllOracleSql: String = s"""WITH toks AS (
        SELECT lang, string_split(lower(text), ' ') AS t FROM documents),
      g AS (
        SELECT lang, unnest(${ngramDuck(3)}) AS gram
        FROM toks WHERE len(t) >= 3),
      reg AS (
        SELECT lang, h // $HLL_WMASK AS idx,
          max(CASE WHEN h % $HLL_WMASK = 0 THEN 53
              ELSE 53 - length(bin(h % $HLL_WMASK)) END) AS m_rho
        FROM (SELECT lang, ${Portable.h60Duck("gram", "hll|")} AS h FROM g) t
        GROUP BY 1, 2),
      z AS (
        SELECT lang,
          sum(1::BIGINT << CAST(53 - m_rho AS INT)) +
            ($HLL_M - count(*)) * (1::BIGINT << 53) AS z_scaled,
          $HLL_M - count(*) AS v_zero
        FROM reg GROUP BY 1),
      fin AS (
        SELECT lang, CASE WHEN raw <= ${2.5 * HLL_M} AND v_zero > 0
            THEN round($HLL_M.0 * ln($HLL_M.0 / v_zero), 4)
            ELSE round(raw, 4) END AS n_hll
        FROM (SELECT lang, $HLL_NUMC / z_scaled AS raw, v_zero FROM z) t)
      SELECT lang, n_hll FROM fin"""

  val a9HllDistinct = Q(
    "a9_hll_distinct",
    (s, d) =>
      hllByKey(hllGrams(s, d)
        .select(col("lang"), Portable.h60(col("gram"), "hll|").as("h")),
        "lang"),
    Some(hllOracleSql))

  // ---------------------------------------------------------------------
  // A9b: the same HLL estimate through the NATIVE `hll_estimate`
  // Catalyst aggregate (functions/HllEstimate, injected by
  // GraftExtensions) — one ObjectHashAggregate carrying a 256-byte
  // register buffer with map-side partial merge, instead of a9's
  // (lang, idx) register shuffle. Same oracle as a9: native ==
  // relational == DuckDB, or the round fails. Falls back to a9's
  // relational pipeline on a session without the extension.
  // ---------------------------------------------------------------------
  val a9bHllNative = Q(
    "a9b_hll_native",
    (s, d) =>
      if (!s.catalog.functionExists("hll_estimate")) a9HllDistinct.fn(s, d)
      else {
        hllGrams(s, d)
          .select(col("lang"), Portable.h60(col("gram"), "hll|").as("h"))
          .groupBy(col("lang"))
          .agg(expr("hll_estimate(h)").as("n_hll"))
      },
    Some(hllOracleSql))

  // ---------------------------------------------------------------------
  // T10: TF-IDF top terms per document — the classic distinctive-term
  // extractor (keyword indexing, topic sampling, dedup features). Three
  // relational stages: per-(doc, term) counts (one hash-agg), document
  // frequency per term (one hash-agg on the vocabulary — orders of
  // magnitude smaller than the corpus), and a broadcast of the single-row
  // corpus size; the per-doc top-3 is a WindowGroupLimit window, so only
  // 3 rows per doc survive the final shuffle. Scores are rounded to 6
  // digits BEFORE ranking with a term tie-break: ln() is the one libm
  // call in the suite, and the two engines' log implementations may
  // differ in the last ulp — rounding first makes rank boundaries
  // deterministic.
  // ---------------------------------------------------------------------
  val t10Tfidf = Q(
    "t10_tfidf",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val toks = documents(s, d)
        .select(col("doc_id"),
          explode(split(lower(col("text")), " ")).as("tok"))
      val tf = toks.groupBy(col("doc_id"), col("tok"))
        .agg(count(lit(1)).as("tf"))
      val df = toks.groupBy(col("tok"))
        .agg(countDistinct(col("doc_id")).as("df"))
      val n = documents(s, d).agg(count(lit(1)).as("n"))
      val scored = tf.join(df, Seq("tok"))
        .crossJoin(broadcast(n))
        .select(col("doc_id"), col("tok"),
          round(col("tf") *
            log((col("n") + lit(1.0)) / (col("df") + lit(1.0))), 6)
            .as("tfidf"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("tfidf").desc, col("tok").asc)
      scored.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("doc_id"), col("tok"), col("tfidf"))
    },
    Some("""WITH toks AS (
        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
        FROM documents),
      tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
      df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
      n AS (SELECT count(*) AS n FROM documents),
      scored AS (
        SELECT t.doc_id, t.tok,
          round(t.tf * ln((n.n + 1.0) / (d.df + 1.0)), 6) AS tfidf
        FROM tf t JOIN df d USING (tok) CROSS JOIN n)
      SELECT doc_id, tok, tfidf FROM (
        SELECT *, row_number() OVER (PARTITION BY doc_id
          ORDER BY tfidf DESC, tok ASC) AS rn FROM scored) z
      WHERE rn <= 3"""))

  // ---------------------------------------------------------------------
  // T11: naive-Bayes language ID, trained FROM the corpus — the
  // principled upgrade over t2's marker lists: per-language token
  // likelihoods are LEARNED from the labeled 80% slice (Laplace
  // smoothing), and the held-out 20% is classified by additive
  // log-probability. Everything is relational: training is two
  // hash-aggs ((lang, tok) counts + per-lang totals), the model is a
  // vocab×langs table (tiny next to the corpus → broadcast at scale),
  // and scoring is one (doc, lang) hash-agg over a broadcast join.
  //
  // Model choice: BERNOULLI likelihoods over distinct tokens —
  // P(tok|lang) = (docs_of_lang_containing_tok + 1) / (docs_of_lang + 2)
  // — not multinomial Laplace. With unbalanced classes and a large
  // vocabulary, multinomial smoothing biases EVERY shared token toward
  // the class with the most training tokens ((r·n+1)/(n+V) grows with
  // n when V dominates), which collapses the classifier to the majority
  // class; document-frequency likelihoods normalize by class size, so
  // shared tokens are neutral and the language markers decide.
  //
  // Parity discipline: every log-prob is round(ln(...), 6) then summed
  // as DECIMAL(20,6) — double sums are partition-order dependent, and
  // ln() is a libm call that may differ in the last ulp between engines;
  // rounding per-term and accumulating exactly makes the scores (and
  // therefore the argmax) bit-stable in both engines.
  // ---------------------------------------------------------------------
  val t11NbLangid = Q(
    "t11_nb_langid",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val toks = documents(s, d)
        .select(col("doc_id"), col("lang"),
          explode(split(lower(col("text")), " ")).as("tok"))
      val train = toks.filter(col("doc_id") % 10 < 8)
      val testToks = toks.filter(col("doc_id") % 10 >= 8)
        .select("doc_id", "tok").distinct()

      val trainDocs = documents(s, d).filter(col("doc_id") % 10 < 8)
        .select("doc_id", "lang")
      val nl = trainDocs.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
      val df = train.groupBy(col("lang"), col("tok"))
        .agg(countDistinct(col("doc_id")).as("df"))
      val probs = df.join(nl, Seq("lang"))
        .select(col("lang").as("p_lang"), col("tok"),
          round(log((col("df") + lit(1.0)) / (col("n_docs") + lit(2))), 6)
            .as("logp"))
      val unseen = nl
        .select(col("lang").as("p_lang"),
          round(log(lit(1.0) / (col("n_docs") + lit(2))), 6)
            .as("logp_unseen"))
      val prior = nl
        .crossJoin(broadcast(trainDocs.agg(count(lit(1)).as("total"))))
        .select(col("lang").as("p_lang"),
          round(log(col("n_docs") / col("total")), 6).as("logprior"))

      val scored = testToks
        .crossJoin(broadcast(unseen)) // every (doc, tok) meets every lang
        .join(probs, Seq("p_lang", "tok"), "left")
        .select(col("doc_id"), col("p_lang"),
          coalesce(col("logp"), col("logp_unseen"))
            .cast("decimal(20,6)").as("lp"))
        .groupBy(col("doc_id"), col("p_lang"))
        .agg(sum(col("lp")).as("sum_lp"))
        .join(broadcast(prior), Seq("p_lang"))
        .select(col("doc_id"), col("p_lang"),
          (col("sum_lp") + col("logprior").cast("decimal(20,6)"))
            .as("score"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("p_lang").asc)
      val win = scored.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("p_lang").as("guess"))
      win.join(documents(s, d).select("doc_id", "lang"), Seq("doc_id"))
        .select(col("doc_id"), col("lang"), col("guess"),
          (col("guess") === col("lang")).as("is_match"))
    },
    Some("""WITH toks AS (
        SELECT doc_id, lang, unnest(string_split(lower(text), ' ')) AS tok
        FROM documents),
      train AS (SELECT * FROM toks WHERE doc_id % 10 < 8),
      test AS (SELECT DISTINCT doc_id, tok FROM toks WHERE doc_id % 10 >= 8),
      tdocs AS (SELECT doc_id, lang FROM documents WHERE doc_id % 10 < 8),
      nl AS (SELECT lang, count(*) AS n_docs FROM tdocs GROUP BY 1),
      df AS (SELECT lang, tok, count(DISTINCT doc_id) AS df
             FROM train GROUP BY 1, 2),
      probs AS (
        SELECT df.lang AS p_lang, df.tok,
          round(ln((df.df + 1.0) / (nl.n_docs + 2)), 6) AS logp
        FROM df JOIN nl USING (lang)),
      unseen AS (
        SELECT lang AS p_lang,
          round(ln(1.0 / (n_docs + 2)), 6) AS logp_unseen
        FROM nl),
      prior AS (
        SELECT lang AS p_lang,
          round(ln(n_docs::DOUBLE / (SELECT count(*) FROM tdocs)), 6)
            AS logprior
        FROM nl),
      scored AS (
        SELECT t.doc_id, u.p_lang,
          sum(CAST(coalesce(p.logp, u.logp_unseen) AS DECIMAL(20,6)))
            AS sum_lp
        FROM test t CROSS JOIN unseen u
        LEFT JOIN probs p ON p.p_lang = u.p_lang AND p.tok = t.tok
        GROUP BY 1, 2),
      final AS (
        SELECT s.doc_id, s.p_lang,
          s.sum_lp + CAST(pr.logprior AS DECIMAL(20,6)) AS score
        FROM scored s JOIN prior pr USING (p_lang)),
      win AS (
        SELECT doc_id, p_lang AS guess FROM (
          SELECT *, row_number() OVER (PARTITION BY doc_id
            ORDER BY score DESC, p_lang ASC) AS rn FROM final) z
        WHERE rn = 1)
      SELECT w.doc_id, d.lang, w.guess, w.guess = d.lang AS is_match
      FROM win w JOIN documents d ON d.doc_id = w.doc_id"""))

  // ---------------------------------------------------------------------
  // C1: the curation pipeline end to end — what a training-data run
  // actually executes: exact-dedup survivors (min doc_id per normalized
  // hash) → quality gate (token count + stopword ratio) → curated
  // corpus written to the lake and read back, reporting per-(lang,
  // source) survivor counts. One dedup shuffle + one count shuffle;
  // every gate is a map-side projection.
  // ---------------------------------------------------------------------
  /** The curation pipeline body shared by c1 and c1b: exact-dedup
    * survivors, an optional extra loser set anti-joined away (c1b's
    * cluster election), the quality gate, the curated partitioned lake
    * write, and the read-back report. ONE definition of the gates so
    * the two queries cannot drift apart. */
  private def curateReport(
      s: SparkSession, d: String,
      losers: Option[DataFrame], fixture: String): DataFrame = {
    val out = graft.sources.Ingest.freshDir(fixture)
    val docs = documents(s, d)
      .withColumn("h", md5(normText))
      .withColumn("t", split(lower(col("text")), " "))
    val elected = docs
      .groupBy(col("h")).agg(min(col("doc_id")).as("doc_id"))
      .join(docs, Seq("doc_id"))
    val survivors = losers.fold(elected)(l =>
        elected.join(l, Seq("doc_id"), "left_anti"))
      .filter(size(col("t")) >= 15 &&
        expr("size(filter(t, x -> x IN ('the', 'a')))")
          .cast("double") / size(col("t")) <= 0.4)
      .select(col("doc_id"), col("lang"), col("source"))
    survivors
      .repartition(col("lang"))
      .write.mode("overwrite").partitionBy("lang").parquet(out)
    s.read.parquet(out)
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"))
  }

  /** docs→keep→survivors→report oracle chain, with c1b's election spliced
    * in as an extra WHERE conjunct. Mirrors [[curateReport]]. */
  private def curateSql(extraWhere: String): String =
    s"""docs AS (
        SELECT doc_id, lang, source,
          md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS h,
          string_split(lower(text), ' ') AS t
        FROM documents),
      keep AS (SELECT min(doc_id) AS doc_id FROM docs GROUP BY h),
      survivors AS (
        SELECT d.lang, d.source FROM docs d
        JOIN keep k ON d.doc_id = k.doc_id
        WHERE ${extraWhere}len(d.t) >= 15
          AND CAST(len(list_filter(d.t, x -> x IN ('the', 'a'))) AS DOUBLE)
              / len(d.t) <= 0.4)
      SELECT lang, source, count(*) AS n_docs
      FROM survivors GROUP BY lang, source"""

  val c1CurateCorpus = Q(
    "c1_curate_corpus",
    (s, d) => curateReport(s, d, None, "c1_curated"),
    Some(s"""WITH ${curateSql("")}"""))

  // ---------------------------------------------------------------------
  // C1b: curation with near-dup cluster election — c1's pipeline plus
  // the step real corpora can't skip: after exact dedup, every document
  // that sits in a d7 near-dup CLUSTER without being its canonical
  // (minimum) member is dropped too, so a paraphrase family contributes
  // exactly one survivor even when its pairwise scores never compared
  // the two losers directly. The election is one anti-join against the
  // cluster labels (losers = labels where doc ≠ cluster id); everything
  // else is c1's shape: quality gate as a map-side projection, curated
  // lake write, read-back report. The oracle replays the entire chain —
  // pair generation, recursive closure, election, gate — in one
  // WITH RECURSIVE statement.
  // ---------------------------------------------------------------------
  val c1bCurateNeardup = Q(
    "c1b_curate_neardup",
    (s, d) => curateReport(s, d,
      // non-canonical = label differs from self; read off the persisted
      // label table, not d7's per-doc report (r9)
      losers = Some(ccLabelFixpoint(s, d).labels
        .filter(col("v") =!= col("lbl"))
        .select(col("v").as("doc_id"))),
      fixture = "c1b_curated"),
    Some(s"""WITH RECURSIVE $ngramPairStatsSql,
      $ccLabelsSql,
      losers AS (SELECT v AS doc_id FROM labels WHERE v <> lbl),
      ${curateSql(
        "d.doc_id NOT IN (SELECT doc_id FROM losers)\n          AND ")}"""))

  // ---------------------------------------------------------------------
  // C1c: curation with QUALITY election — the gate t13 and t15 exist to
  // feed: beside c1's exact dedup and lexical filters, drop each
  // language's worst decile by bigram-LM score and worst 5% by
  // repetition ratio (budget-style rank elections, which is how real
  // curations cut — absolute thresholds go vacuous or catastrophic as
  // the corpus mix drifts; ranks track the distribution). Scale shape:
  // the elections window over the per-doc STATS tables (orders of
  // magnitude smaller than the corpus), partitioned by language — no
  // global sort; ties break on doc_id so both engines elect identical
  // losers. Everything else is c1's shape via the shared curateReport.
  // ---------------------------------------------------------------------
  val c1cCurateQuality = Q(
    "c1c_curate_quality",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val langOf = documents(s, d).select(col("doc_id"), col("lang"))
      val cw = Window.partitionBy(col("lang"))
      val lmLosers = lmScores(s, d, heldOutOnly = false)
        .join(langOf, Seq("doc_id"))
        .withColumn("rn", row_number().over(
          cw.orderBy(col("avg_logp").asc, col("doc_id").asc)))
        .withColumn("n", count(lit(1)).over(cw))
        .filter(col("rn") <= expr("n div 10"))
        .select(col("doc_id"))
      val repLosers = t13Repetition.fn(s, d)
        .join(langOf, Seq("doc_id"))
        .withColumn("rn", row_number().over(
          cw.orderBy(col("rep_ratio").desc, col("doc_id").asc)))
        .withColumn("n", count(lit(1)).over(cw))
        .filter(col("rn") <= expr("n div 20"))
        .select(col("doc_id"))
      curateReport(s, d,
        losers = Some(lmLosers.union(repLosers).distinct()),
        fixture = "c1c_curated")
    },
    Some(s"""WITH $repStatsSql,
      ${lmScoreSql("TRUE")},
      dl AS (SELECT doc_id, lang FROM documents),
      lml AS (
        SELECT doc_id FROM (
          SELECT s.doc_id,
            row_number() OVER (PARTITION BY dl.lang
              ORDER BY s.avg_logp ASC, s.doc_id ASC) AS rn,
            count(*) OVER (PARTITION BY dl.lang) AS n
          FROM lmscore s JOIN dl ON dl.doc_id = s.doc_id) t
        WHERE rn <= n // 10),
      repl AS (
        SELECT doc_id FROM (
          SELECT r.doc_id,
            row_number() OVER (PARTITION BY dl.lang
              ORDER BY r.rep_ratio DESC, r.doc_id ASC) AS rn,
            count(*) OVER (PARTITION BY dl.lang) AS n
          FROM rep r JOIN dl ON dl.doc_id = r.doc_id) t
        WHERE rn <= n // 20),
      losers AS (SELECT doc_id FROM lml UNION SELECT doc_id FROM repl),
      ${curateSql(
        "d.doc_id NOT IN (SELECT doc_id FROM losers)\n          AND ")}"""))

  // ---------------------------------------------------------------------
  // E4: the WHOLE training-data build as one declarative plan — every
  // stage the family implements piecewise, composed in production
  // order: exact-dedup election (c1) → near-dup cluster election (d7's
  // labels) → quality rank elections (c1c's LM-decile + repetition-5%)
  // → lexical gates → decontamination routing (c4's eval fence +
  // quarantine) → split assignment (c2's seeded hash) → per-shard
  // sequence packing of the train split (t9) → the run manifest: per
  // (split, source) document count, token count, and pack count. This
  // is the query a user of the engine actually ships; the point of
  // expressing it as ONE DataFrame is that Catalyst sees the whole
  // pipeline — the doc-stats subtrees (LM scores, repetition, CC
  // labels) are computed once each and reused, and nothing rescans the
  // corpus per stage.
  //
  // Scale posture is inherited stage by stage (each argued at its
  // definition): elections window over per-doc STATS tables, the CC
  // pair graph is anchor-blocked and capped, the contaminated-id set
  // broadcasts, routing is a map-side hash gate, and packing sorts per
  // source shard — never globally. The manifest is |splits|×|sources|
  // rows.
  // ---------------------------------------------------------------------
  /** e4's per-document routed frame (doc_id, source, n_tokens, split) —
    * the pipeline up to the manifest aggregation, separated so the spec
    * can check each doc's fate against the component queries. */
  private[graft] def e4Routed(s: SparkSession, d: String): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      val langOf = documents(s, d).select(col("doc_id"), col("lang"))
      val cw = Window.partitionBy(col("lang"))
      // losers: near-dup cluster non-canonicals + c1c's two elections
      val ccLosers = ccLabelFixpoint(s, d).labels
        .filter(col("v") =!= col("lbl")).select(col("v").as("doc_id"))
      val lmLosers = lmScores(s, d, heldOutOnly = false)
        .join(langOf, Seq("doc_id"))
        .withColumn("rn", row_number().over(
          cw.orderBy(col("avg_logp").asc, col("doc_id").asc)))
        .withColumn("n", count(lit(1)).over(cw))
        .filter(col("rn") <= expr("n div 10"))
        .select(col("doc_id"))
      val repLosers = t13Repetition.fn(s, d)
        .join(langOf, Seq("doc_id"))
        .withColumn("rn", row_number().over(
          cw.orderBy(col("rep_ratio").desc, col("doc_id").asc)))
        .withColumn("n", count(lit(1)).over(cw))
        .filter(col("rn") <= expr("n div 20"))
        .select(col("doc_id"))
      val losers = ccLosers.union(lmLosers).union(repLosers).distinct()
      // exact-dedup election + gates (c1's definitions, verbatim)
      val docs = documents(s, d)
        .withColumn("h", md5(normText))
        .withColumn("t", split(lower(col("text")), " "))
      val survivors = docs
        .groupBy(col("h")).agg(min(col("doc_id")).as("doc_id"))
        .join(docs, Seq("doc_id"))
        .join(losers, Seq("doc_id"), "left_anti")
        .filter(size(col("t")) >= 15 &&
          expr("size(filter(t, x -> x IN ('the', 'a')))")
            .cast("double") / size(col("t")) <= 0.4)
        .select(col("doc_id"), col("source"),
          size(col("t")).cast("long").as("n_tokens"))
      // routing: c4's eval fence + quarantine, c2's hash split
      val contam = d6Decontaminate.fn(s, d)
        .select(col("doc_id"), lit(1).as("contam"))
      val bucket = Portable.h60(col("doc_id").cast("string"), "split|") % 10
      survivors
        .join(contam, Seq("doc_id"), "left")
        .select(col("doc_id"), col("source"), col("n_tokens"),
          when(col("doc_id") % 20 === 0, lit("eval"))
            .when(col("contam").isNotNull, lit("quarantine"))
            .when(bucket < 8, lit("train"))
            .when(bucket === 8, lit("valid"))
            .otherwise(lit("test")).as("split"))
  }

  val e4LlmPipeline = Q(
    "e4_llm_pipeline",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      // SINGLE PASS over routed (r21): the packing cumsum rides the
      // manifest scan as a CONDITIONAL window — sum train tokens only,
      // ordered by doc_id within source — so train rows see exactly the
      // prefix sum the old train-filtered window produced (non-train
      // rows contribute 0 and never read their own cum). One window +
      // one grouped agg replace the old persist + two consumers +
      // broadcast join (r8's double-evaluation fix persisted routed;
      // this removes the second consumer instead, so nothing needs
      // pinning and the plan is one linear chain).
      val pw = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      e4Routed(s, d)
        .withColumn("tcum", sum(when(col("split") === "train",
          col("n_tokens")).otherwise(lit(0L))).over(pw))
        .withColumn("pid", when(col("split") === "train",
          floor((col("tcum") - col("n_tokens")) / PACK_BUDGET)))
        .groupBy(col("split"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("sum_tokens"),
          (max(col("pid")) + 1).as("n_packs"))
        .select(col("split"), col("source"), col("n_docs"),
          col("sum_tokens"), col("n_packs"))
    },
    Some(s"""WITH RECURSIVE $ngramPairStatsSql,
      $ccLabelsSql,
      ccl AS (SELECT v AS doc_id FROM labels WHERE v <> lbl),
      $repStatsSql,
      ${lmScoreSqlBody("TRUE")},
      dl AS (SELECT doc_id, lang FROM documents),
      lml AS (
        SELECT doc_id FROM (
          SELECT s.doc_id,
            row_number() OVER (PARTITION BY dl.lang
              ORDER BY s.avg_logp ASC, s.doc_id ASC) AS rn,
            count(*) OVER (PARTITION BY dl.lang) AS n
          FROM lmscore s JOIN dl ON dl.doc_id = s.doc_id) t
        WHERE rn <= n // 10),
      repl AS (
        SELECT doc_id FROM (
          SELECT r.doc_id,
            row_number() OVER (PARTITION BY dl.lang
              ORDER BY r.rep_ratio DESC, r.doc_id ASC) AS rn,
            count(*) OVER (PARTITION BY dl.lang) AS n
          FROM rep r JOIN dl ON dl.doc_id = r.doc_id) t
        WHERE rn <= n // 20),
      losers AS (
        SELECT doc_id FROM ccl
        UNION SELECT doc_id FROM lml
        UNION SELECT doc_id FROM repl),
      docs AS (
        SELECT doc_id, source,
          md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS h,
          string_split(lower(text), ' ') AS t
        FROM documents),
      keep AS (SELECT min(doc_id) AS doc_id FROM docs GROUP BY h),
      survivors AS (
        SELECT d.doc_id, d.source, CAST(len(d.t) AS BIGINT) AS n_tokens
        FROM docs d JOIN keep k ON d.doc_id = k.doc_id
        WHERE d.doc_id NOT IN (SELECT doc_id FROM losers)
          AND len(d.t) >= 15
          AND CAST(len(list_filter(d.t, x -> x IN ('the', 'a'))) AS DOUBLE)
              / len(d.t) <= 0.4),
      cgrams AS (
        SELECT DISTINCT doc_id,
          ${Portable.h60Duck(s"unnest(${ngramDuck(4)})", "dc|")} AS gh
        FROM toks WHERE len(t) >= 4),
      contam AS (
        SELECT DISTINCT c.doc_id
        FROM cgrams c JOIN cgrams e ON e.gh = c.gh AND e.doc_id % 20 = 0
        WHERE c.doc_id % 20 <> 0),
      routed AS (
        SELECT s.doc_id, s.source, s.n_tokens,
          CASE WHEN s.doc_id % 20 = 0 THEN 'eval'
               WHEN c.doc_id IS NOT NULL THEN 'quarantine'
               WHEN ${Portable.h60Duck("CAST(s.doc_id AS VARCHAR)", "split|")}
                 % 10 < 8 THEN 'train'
               WHEN ${Portable.h60Duck("CAST(s.doc_id AS VARCHAR)", "split|")}
                 % 10 = 8 THEN 'valid'
               ELSE 'test' END AS split
        FROM survivors s LEFT JOIN contam c ON c.doc_id = s.doc_id),
      packed AS (
        SELECT source,
          sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id)
            - n_tokens AS before_
        FROM routed WHERE split = 'train'),
      pc AS (
        SELECT source,
          CAST(max(before_ // $PACK_BUDGET) + 1 AS BIGINT) AS np
        FROM packed GROUP BY 1)
      SELECT r.split, r.source, count(*) AS n_docs,
        CAST(sum(r.n_tokens) AS BIGINT) AS sum_tokens,
        CASE WHEN r.split = 'train' THEN max(pc.np) END AS n_packs
      FROM routed r LEFT JOIN pc ON pc.source = r.source
      GROUP BY r.split, r.source"""))

  /** All LLM-pipeline text queries, registration order. */
  /** One saturation-accounting row for a pre-cap bucket/band table: how
    * many buckets exist, how many exceed `cap`, and how many member
    * rows the policy affects ("drop": every member of an over-cap
    * bucket is discarded from candidate generation; "sample": only
    * members beyond the cap-sized deterministic sample lose
    * NEIGHBOR-candidacy — they still source their own edges). */
  private[graft] def capStats(idx: String, policy: String,
      bands: DataFrame, keys: Seq[String], cap: Int): DataFrame = {
    val affected =
      if (policy == "drop") when(col("c") > cap, col("c")).otherwise(lit(0L))
      else when(col("c") > cap, col("c") - cap).otherwise(lit(0L))
    bands.groupBy(keys.map(col): _*).agg(count(lit(1)).as("c"))
      .agg(count(lit(1)).as("buckets_total"),
        sum(when(col("c") > cap, 1L).otherwise(0L)).as("buckets_over"),
        sum(col("c")).as("rows_total"),
        sum(affected).as("rows_affected"))
      .select(lit(idx).as("idx"), lit(policy).as("policy"),
        lit(cap.toLong).as("cap"),
        col("buckets_total").cast("long").as("buckets_total"),
        coalesce(col("buckets_over"), lit(0L)).cast("long")
          .as("buckets_over"),
        coalesce(col("rows_total"), lit(0L)).cast("long").as("rows_total"),
        coalesce(col("rows_affected"), lit(0L)).cast("long")
          .as("rows_affected"))
  }

  // ---------------------------------------------------------------------
  // D13: cap-saturation report — the "no silent caps" observability op
  // (VERDICT r13 What's-wrong #2 / next-round #2). Every index-building
  // candidate generator in the engine bounds hot-bucket cost with a cap
  // (capBuckets/capBucketsJoin drop over-cap buckets; a17's build keeps
  // a deterministic sample); at bench scale the caps are inert, but at
  // production scale a saturated index silently degrades recall — which
  // is exactly how a17's r13 degeneration hid inside a green row. This
  // report recomputes each index's PRE-cap bucket table and publishes
  // bucket/row saturation counts, so a driver dashboard (or a paranoid
  // operator) sees the drop volume the moment data growth crosses a
  // cap, instead of discovering it in a recall regression. One row per
  // index surface; all counting aggregates are map-side combinable and
  // each branch's shuffle is the same (key → count) shape the index
  // build itself pays.
  // ---------------------------------------------------------------------
  val d13CapReport = Q(
    "d13_cap_report",
    (s, d) => {
      import graft.functions.Portable
      // r21 single-pass restructure (guide §2.3/§2.4): the old form ran
      // ~24 independent capStats branches — the 18 NSW-family ones each
      // re-hashed the embeddings (sign keys per member frame) behind
      // their own count-agg + groupBy + final agg, and d12's band table
      // was derived twice (d12b cap and a22 cap). Every branch is the
      // same shape — bucket table → per-bucket count → saturation agg —
      // so all of them now feed ONE tall (src, k1, k2) union, ONE
      // per-bucket count, and ONE per-index aggregate; member sizing
      // (nbits/nb2 per member frame) comes from a single 6-way
      // conditional count over the hashed base. 993 tasks / 92 jobs at
      // sf0.1 were per-branch overhead; at scale this is 1 embedding
      // hash pass instead of ~19.
      // spreadScan is SIZE-ADAPTIVE since r21 (see its note): at sf0.1
      // it resolves to ~2 tasks (the unconditional 32-way spread cost
      // 14× CPU in tiny-task overhead — taskTime 64 s vs 4.6 s warm),
      // while at the 10×/30× probes the per-row hashing still fans out
      // instead of serializing into the one-split scan task (the
      // unspread form probed 2.1× worse canary-adjusted at 10×).
      val docs = spreadScan(documents(s, d))
      val e = spreadScan(embeddings(s, d))
        .select(col("vec_id"), col("embedding").as("emb"))
      // ---- branch directory: src (shared bucket table) → report row
      val nswFams = Seq("sign_a", "sign_b", "rand")
      val nswIdx = nswFams.map(f => s"nsw_$f") ++
        (1 to Ann.HNSW_MAXL).flatMap(k =>
          nswFams.map(f => s"a19_l${k}_$f")) ++
        nswFams.map(f => s"a18_$f") ++
        (1 to Ann.HNSW_MAXL).flatMap(k =>
          nswFams.map(f => s"a24_l${k}_$f"))
      val dir = Seq(
        ("d2_minhash", "d2_minhash", "drop", BUCKET_CAP.toLong),
        ("d3b_simhash", "d3b_simhash", "drop", BUCKET_CAP.toLong),
        ("d4_banded", "d4_banded", "drop", BUCKET_CAP.toLong),
        ("d5_anchor", "d5_anchor", "drop", BUCKET_CAP.toLong),
        // one derivation of d12's band table serves BOTH its consumers'
        // saturation rows (d12b's drop cap, a22's sample cap)
        ("d12bands", "d12b_banded", "drop", Ann.D12B_CAP.toLong),
        ("d12bands", "a22_band", "sample", Ann.A22_CAP.toLong)) ++
        nswIdx.map(i => (i, i, "sample", Ann.NSW_CAP.toLong))
      import s.implicits._
      val dirDf = dir.toDF("src", "idx", "policy", "cap")
      // ---- the 18 NSW-family bucket tables from ONE hashed pass:
      // sign keys and the rand draw are member-independent; only the
      // bucket-count modulus (nbits / nb2 from the member size) varies.
      // Member frames: full corpus, a19 layer 1/2 (lvl draw), a18
      // standing, a24 standing layer 1/2 — all tagged on the same row.
      val base0 = e.withColumn("lvl", Ann.hnswLvlCol)
        .withColumn("standing", col("vec_id") % 10 =!= 0)
      val members = Seq[(String, Column, String)](
        ("nsw_", lit(true), "n0"),
        ("a19_l1_", col("lvl") >= 1, "n1"),
        ("a19_l2_", col("lvl") >= 2, "n2"),
        ("a18_", col("standing"), "n3"),
        ("a24_l1_", col("standing") && col("lvl") >= 1, "n4"),
        ("a24_l2_", col("standing") && col("lvl") >= 2, "n5"))
      val sizes = base0.agg(
          count(lit(1)).as("n0"),
          sum(when(col("lvl") >= 1, 1L).otherwise(0L)).as("n1"),
          sum(when(col("lvl") >= 2, 1L).otherwise(0L)).as("n2"),
          sum(when(col("standing"), 1L).otherwise(0L)).as("n3"),
          sum(when(col("standing") && col("lvl") >= 1, 1L)
            .otherwise(0L)).as("n4"),
          sum(when(col("standing") && col("lvl") >= 2, 1L)
            .otherwise(0L)).as("n5"))
        .select(members.map(_._3).flatMap { n =>
          val nn = coalesce(col(n), lit(0L))
          Seq(Ann.nswNbitsOf(nn).as(s"nbits_$n"),
            greatest(lit(1L), floor(nn / lit(Ann.NSW_RTARGET.toDouble))
              .cast("long")).as(s"nb2_$n"))
        }: _*)
      val entries: Seq[Column] = members.flatMap { case (pfx, cond, n) =>
        def entry(fam: String, b: Column) = when(cond,
          struct(lit(pfx + fam).as("src"),
            b.cast("int").cast("string").as("k1")))
        Seq(
          entry("sign_a",
            pmod(Ann.nswSignKey("emb", Ann.nswSignOffA),
              expr(s"shiftleft(1, nbits_$n)"))),
          entry("sign_b",
            pmod(Ann.nswSignKey("emb", Ann.nswSignOffB),
              expr(s"shiftleft(1, nbits_$n)"))),
          entry("rand",
            pmod(Portable.h60(col("vec_id").cast("string"), "nswr|"),
              col(s"nb2_$n"))))
      }
      val nswTall = base0.crossJoin(broadcast(sizes))
        .select(explode(array_compact(array(entries: _*))).as("en"))
        .select(col("en.src").as("src"), col("en.k1").as("k1"),
          lit("").as("k2"))
      // ---- tall union: every bucket table as (src, k1, k2) rows
      def tall(src: String, df: DataFrame, keys: Seq[String]) =
        df.select(lit(src).as("src"),
          col(keys.head).cast("string").as("k1"),
          (if (keys.size > 1) col(keys(1)).cast("string")
           else lit("")).as("k2"))
      val bucketRows = tall("d2_minhash", minhashBandsOf(docs),
          Seq("band", "bkey"))
        .unionByName(tall("d3b_simhash", simhashBandsOf(s, d),
          Seq("band", "bkey")))
        .unionByName(tall("d4_banded", Ann.d4BandsOf(e),
          Seq("tbl", "bkey")))
        .unionByName(tall("d5_anchor", anchorsOf(docs), Seq("anchor")))
        .unionByName(tall("d12bands", Ann.d12BandsOf(e),
          Seq("tbl", "bkey")))
        .unionByName(nswTall)
      // ---- one per-bucket count, one per-index saturation aggregate
      val perIdx = bucketRows
        .groupBy(col("src"), col("k1"), col("k2"))
        .agg(count(lit(1)).as("c"))
        .join(broadcast(dirDf), Seq("src"))
        .groupBy(col("idx"), col("policy"), col("cap"))
        .agg(count(lit(1)).as("bt"),
          sum(when(col("c") > col("cap"), 1L).otherwise(0L)).as("bo"),
          sum(col("c")).as("rt"),
          sum(when(col("c") > col("cap"),
            when(col("policy") === "drop", col("c"))
              .otherwise(col("c") - col("cap")))
            .otherwise(lit(0L))).as("ra"))
      // empty member frames (e.g. no layer-2 vectors at tiny SFs) must
      // still report a zero row, exactly as capStats over an empty
      // bucket table did — left-join the directory over the results
      val rows = Seq(
        dirDf.select(col("idx"), col("policy"), col("cap")).distinct()
          .join(broadcast(perIdx), Seq("idx", "policy", "cap"), "left")
          .select(col("idx"), col("policy"), col("cap"),
            coalesce(col("bt"), lit(0L)).cast("long")
              .as("buckets_total"),
            coalesce(col("bo"), lit(0L)).cast("long").as("buckets_over"),
            coalesce(col("rt"), lit(0L)).cast("long").as("rows_total"),
            coalesce(col("ra"), lit(0L)).cast("long")
              .as("rows_affected"))) ++
        // t20's vocab cap is a GLOBAL top-K, not a per-bucket cap:
        // saturation = words ranked past the cap plus the token mass
        // they carry (the corpus share the learned merges never see).
        // Scale shape: TakeOrdered(cap) cutoff broadcast into one
        // filtered agg — no global sort; the oracle states the same
        // set as rank > cap under the (freq DESC, word ASC) order.
        Seq {
          val wf = docs
            .select(explode(split(lower(col("text")), " ")).as("word"))
            .filter(col("word").rlike("^[a-z]+$"))
            .groupBy(col("word")).agg(count(lit(1)).as("c"))
          val cut = wf.orderBy(col("c").desc, col("word").asc)
            .limit(BPE_VOCAB_CAP)
            .agg(max(struct((-col("c")).as("nc"),
              col("word").as("w"))).as("cut"))
          wf.crossJoin(broadcast(cut))
            .select(col("c"),
              (struct((-col("c")).as("nc"), col("word").as("w")) >
                col("cut")).as("over"))
            .agg(count(lit(1)).as("bt"),
              sum(when(col("over"), 1L).otherwise(0L)).as("bo"),
              sum(col("c")).as("rt"),
              sum(when(col("over"), col("c")).otherwise(0L)).as("ra"))
            .select(lit("t20_vocab").as("idx"), lit("topk").as("policy"),
              lit(BPE_VOCAB_CAP.toLong).as("cap"),
              col("bt").cast("long").as("buckets_total"),
              coalesce(col("bo"), lit(0L)).cast("long")
                .as("buckets_over"),
              coalesce(col("rt"), lit(0L)).cast("long").as("rows_total"),
              coalesce(col("ra"), lit(0L)).cast("long")
                .as("rows_affected"))
        }
      rows.reduce(_ unionByName _)
    },
    Some {
      def stats(idx: String, policy: String, cap: Int,
          inner: String): String = {
        val affected =
          if (policy == "drop") s"CASE WHEN c > $cap THEN c ELSE 0 END"
          else s"CASE WHEN c > $cap THEN c - $cap ELSE 0 END"
        s"""SELECT '$idx' AS idx, '$policy' AS policy,
          CAST($cap AS BIGINT) AS cap,
          CAST(count(*) AS BIGINT) AS buckets_total,
          CAST(coalesce(sum(CASE WHEN c > $cap THEN 1 ELSE 0 END), 0)
            AS BIGINT) AS buckets_over,
          CAST(coalesce(sum(c), 0) AS BIGINT) AS rows_total,
          CAST(coalesce(sum($affected), 0) AS BIGINT) AS rows_affected
        FROM ($inner) t"""
      }
      val eCte =
        "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb " +
          "FROM embeddings)"
      val branches = Seq(
        stats("d2_minhash", "drop", BUCKET_CAP,
          s"WITH $d2BandsDuck SELECT count(*) AS c FROM bands " +
            "GROUP BY band, bkey"),
        stats("d3b_simhash", "drop", BUCKET_CAP,
          s"WITH $d3bBandsDuck SELECT count(*) AS c FROM bands " +
            "GROUP BY band, bkey"),
        stats("d4_banded", "drop", BUCKET_CAP,
          s"WITH $eCte, bands AS (${Ann.d4BandsDuckSelects}) " +
            "SELECT count(*) AS c FROM bands GROUP BY tbl, bkey"),
        stats("d5_anchor", "drop", BUCKET_CAP,
          s"WITH $d5AnchorsDuck SELECT count(*) AS c FROM anchors " +
            "GROUP BY anchor"),
        stats("d12b_banded", "drop", Ann.D12B_CAP,
          s"WITH $eCte, bands AS (${Ann.d12BandsDuckSelects}) " +
            "SELECT count(*) AS c FROM bands GROUP BY tbl, bkey")) ++
        Ann.nswBucketsDuck.map { case (nm, q) =>
          stats(nm, "sample", Ann.NSW_CAP,
            s"SELECT count(*) AS c FROM ($q) bb GROUP BY b")
        } ++
        (1 to Ann.HNSW_MAXL).flatMap { k =>
          Ann.nswBucketsDuckOver(Ann.hnswMemberDuck(k)).map {
            case (nm, q) =>
              stats(s"a19_l${k}_${nm.stripPrefix("nsw_")}", "sample",
                Ann.NSW_CAP,
                s"SELECT count(*) AS c FROM ($q) bb GROUP BY b")
          }
        } ++
        Ann.nswBucketsDuckOver(Ann.a18StandingSelect).map {
          case (nm, q) =>
            stats(s"a18_${nm.stripPrefix("nsw_")}", "sample",
              Ann.NSW_CAP,
              s"SELECT count(*) AS c FROM ($q) bb GROUP BY b")
        } ++
        (1 to Ann.HNSW_MAXL).flatMap { k =>
          Ann.nswBucketsDuckOver(
            s"${Ann.hnswMemberDuck(k)} AND vec_id % 10 <> 0").map {
            case (nm, q) =>
              stats(s"a24_l${k}_${nm.stripPrefix("nsw_")}", "sample",
                Ann.NSW_CAP,
                s"SELECT count(*) AS c FROM ($q) bb GROUP BY b")
          }
        } :+
        stats("a22_band", "sample", Ann.A22_CAP,
          s"WITH $eCte, bands AS (${Ann.d12BandsDuckSelects}) " +
            "SELECT count(*) AS c FROM bands GROUP BY tbl, bkey") :+ {
          val cap = BPE_VOCAB_CAP
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
            FROM (SELECT word, CAST(count(*) AS BIGINT) AS c
              FROM (SELECT unnest(string_split(lower(text), ' '))
                      AS word FROM documents) t
              WHERE regexp_matches(word, '^[a-z]+${"$"}')
              GROUP BY word) wf) r"""
        }
      branches.mkString(" UNION ALL ")
    })

  // ---------------------------------------------------------------------
  // T22: trained quality classifier (VERDICT r16 #4) — the fastText-style
  // curated-vs-quarantined model every production pipeline trains: t19
  // WEIGHS docs against a target distribution and c11 BLENDS existing
  // priors, but nothing LEARNED a decision from labels. Labels come from
  // c1's own quality gate (token count + stopword ratio — the gate IS
  // the labeling function, so the classifier learns to predict the
  // pipeline's own routing); features are hashed bigram PRESENCE bits
  // over a 64-bucket space (the fastText hashing-trick shape); the model
  // is t11's Bernoulli NB machinery with the one addition this feature
  // space needs: the ABSENCE term. t11's languages split on disjoint
  // token sets, so present-feature scoring sufficed; quality classes
  // split on how MANY buckets a doc fills (length) — presence-only
  // scoring would let the class with denser document-frequencies win
  // every doc, and only sum_{f absent} ln(1-p(f|c)) penalizes a short
  // doc under the curated model. With 64 buckets the full grid is 128
  // rows: training is two hash-aggs, the model broadcasts at any corpus
  // size, and scoring is (heldout × 128) map-side terms into one
  // per-(doc, class) hash-agg — the same cost shape as t11.
  //
  // Consumer closure: the held-out 20% is scored and ROUTED, and the
  // output is the deployment decision itself — per-class
  // precision/recall of the learned router against the real gate (can
  // the cheap model replace the exact gate on tomorrow's shard?).
  // Parity: every log rounds to 6dp then sums as DECIMAL(20,6) (t11's
  // argmax-stability discipline); ties break on class name.
  // ---------------------------------------------------------------------
  private[graft] val T22_NFEAT = 64

  /** t22's whole train-and-score derivation as DuckDB CTEs ending in
    * `final` (doc_id, p_label, score DECIMAL; plus `held` with true
    * labels) — no leading WITH, no trailing SELECT. The ONE oracle
    * definition of [[t22Docs]]+[[t22Feats]]+[[t22Model]]+[[t22Scores]],
    * shared by t22's router report and t23's calibration bins so the
    * two replays can't drift. */
  private def t22CtesDuck: String = s"""docs AS (
        SELECT doc_id, string_split(lower(text), ' ') AS t
        FROM documents),
      lab AS (
        SELECT doc_id, t,
          CASE WHEN len(t) >= 15
            AND CAST(len(list_filter(t, x -> x IN ('the', 'a')))
                AS DOUBLE) / len(t) <= 0.4
          THEN 'curated' ELSE 'quarantined' END AS label
        FROM docs),
      feats AS (
        SELECT DISTINCT doc_id,
          ${Portable.h60Duck(s"unnest(${ngramDuck(2)})", "t22|")}
            % $T22_NFEAT AS fh
        FROM lab WHERE len(t) >= 2),
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
        CROSS JOIN (SELECT unnest(range($T22_NFEAT)) AS fh) g
        LEFT JOIN dfc ON dfc.label = nl.label AND dfc.fh = g.fh),
      prior AS (
        SELECT label AS p_label,
          round(ln(n_docs::DOUBLE / (SELECT count(*) FROM train)), 6)
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
        FROM scored s JOIN prior pr USING (p_label))"""

  /** t22's gate-labeled token frame (doc_id, t, label) — c1's quality
    * gate as the labeling function, ONE definition shared by the query
    * and the streaming scorer's parity spec. */
  private[graft] def t22Docs(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"), split(lower(col("text")), " ").as("t"))
      .withColumn("label",
        when(size(col("t")) >= 15 &&
          expr("size(filter(t, x -> x IN ('the', 'a')))")
            .cast("double") / size(col("t")) <= 0.4, "curated")
          .otherwise("quarantined"))

  /** Bernoulli presence features: distinct hashed-bigram buckets. */
  private[graft] def t22Feats(docs: DataFrame): DataFrame =
    docs.filter(size(col("t")) >= 2)
      .select(col("doc_id"), explode(expr(ngramExpr(2))).as("bg"))
      .select(col("doc_id"),
        pmod(Portable.h60(col("bg"), "t22|"), lit(T22_NFEAT.toLong))
          .as("fh"))
      .distinct()

  /** t22's trained model: the FULL class × T22_NFEAT Bernoulli grid
    * (p_label, fh, lp1, lp0 — absence scores too, see the query
    * header) and the class priors (p_label, logprior). Planner-sized
    * at any corpus scale, which is what lets the streaming scorer
    * serve it from a task closure. */
  private[graft] def t22Model(
      s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val docs = t22Docs(s, d)
    val feats = t22Feats(docs)
    val train = docs.filter(col("doc_id") % 10 < 8)
      .select("doc_id", "label")
    val nl = train.groupBy(col("label")).agg(count(lit(1)).as("n_docs"))
    val dfC = feats.join(train, Seq("doc_id"))
      .groupBy(col("label"), col("fh"))
      .agg(count(lit(1)).as("df")) // feats is distinct per doc
    val grid = nl
      .crossJoin(s.range(T22_NFEAT).select(col("id").as("fh")))
      .join(dfC, Seq("label", "fh"), "left")
      .select(col("label").as("p_label"), col("fh"),
        round(log((coalesce(col("df"), lit(0L)) + lit(1.0)) /
          (col("n_docs") + lit(2))), 6).as("lp1"),
        round(log(lit(1.0) -
          (coalesce(col("df"), lit(0L)) + lit(1.0)) /
            (col("n_docs") + lit(2))), 6).as("lp0"))
    val prior = nl
      .crossJoin(broadcast(train.agg(count(lit(1)).as("total"))))
      .select(col("label").as("p_label"),
        round(log(col("n_docs") / col("total")), 6).as("logprior"))
    (grid, prior)
  }

  /** t22's held-out per-(doc, class) posterior log-scores — the scorer's
    * exact-decimal core, factored so t22's argmax router and t23's
    * calibration margins share ONE definition. */
  private[graft] def t22Scores(s: SparkSession, d: String): DataFrame = {
    val docs = t22Docs(s, d)
    val feats = t22Feats(docs)
    val (grid, prior) = t22Model(s, d)
    docs.filter(col("doc_id") % 10 >= 8)
      .select("doc_id")
      .crossJoin(broadcast(grid))
      .join(feats.withColumn("present", lit(1)),
        Seq("doc_id", "fh"), "left")
      .select(col("doc_id"), col("p_label"),
        when(col("present") === 1, col("lp1")).otherwise(col("lp0"))
          .cast("decimal(20,6)").as("lp"))
      .groupBy(col("doc_id"), col("p_label"))
      .agg(sum(col("lp")).as("sum_lp"))
      .join(broadcast(prior), Seq("p_label"))
      .select(col("doc_id"), col("p_label"),
        (col("sum_lp") + col("logprior").cast("decimal(20,6)"))
          .as("score"))
  }

  /** t22's held-out routing (doc_id, guess) — the scorer itself,
    * factored so StreamingSpec can pin the streaming model-serving
    * path guess-for-guess against the batch router. */
  private[graft] def t22Guesses(s: SparkSession, d: String): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("p_label").asc)
      t22Scores(s, d).withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("p_label").as("guess"))
  }

  val t22QualityClassifier = Q(
    "t22_quality_classifier",
    (s, d) => {
      val held = t22Docs(s, d).filter(col("doc_id") % 10 >= 8)
        .select("doc_id", "label")
      val cm = held.join(t22Guesses(s, d), Seq("doc_id"))
      val byTrue = cm.groupBy(col("label"))
        .agg(count(lit(1)).as("n_true"),
          count(when(col("guess") === col("label"), 1)).as("n_correct"))
      val byGuess = cm.groupBy(col("guess").as("label"))
        .agg(count(lit(1)).as("n_guessed"))
      byTrue.join(byGuess, Seq("label"), "full")
        .select(col("label"),
          coalesce(col("n_true"), lit(0L)).as("n_true"),
          coalesce(col("n_guessed"), lit(0L)).as("n_guessed"),
          coalesce(col("n_correct"), lit(0L)).as("n_correct"))
        .withColumn("prec",
          when(col("n_guessed") > 0,
            round(col("n_correct").cast("double") / col("n_guessed"), 6)))
        .withColumn("rec",
          when(col("n_true") > 0,
            round(col("n_correct").cast("double") / col("n_true"), 6)))
    },
    Some(s"""WITH $t22CtesDuck,
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
          round(coalesce(bt.n_correct, 0)::DOUBLE / bg.n_guessed, 6)
        END AS prec,
        CASE WHEN coalesce(bt.n_true, 0) > 0 THEN
          round(coalesce(bt.n_correct, 0)::DOUBLE / bt.n_true, 6)
        END AS rec
      FROM bt FULL OUTER JOIN bg USING (label)"""))

  // ---------------------------------------------------------------------
  // T23: classifier calibration — the reliability check that decides
  // whether t22's scores can be THRESHOLDED (kept-if-margin>τ curation,
  // the fastText deployment mode) rather than only argmax-routed: bin
  // the held-out docs by their curated-vs-quarantined log-odds margin
  // (score_curated − score_quarantined, an EXACT decimal — binning in
  // logit space instead of sigmoid probabilities keeps the whole report
  // free of cross-engine exp() last-ulp adjudication) and report each
  // bin's empirical curated rate next to its mean margin. A calibrated
  // model shows pos_rate rising monotonically with avg_margin and
  // crossing 0.5 near margin 0; a miscalibrated one tells the operator
  // the threshold must be fit per-bin, not read off the model. Bins are
  // width-5 logits clamped to [-4, 3] so the tails stay non-empty and
  // the output is a fixed ≤8-row frame at any corpus size; everything
  // before the final rounding is exact integer/decimal arithmetic on
  // both engines.
  // ---------------------------------------------------------------------
  val t23Calibration = Q(
    "t23_calibration",
    (s, d) => {
      val margins = t22Scores(s, d)
        .groupBy(col("doc_id"))
        .agg((max(when(col("p_label") === "curated", col("score"))) -
          max(when(col("p_label") === "quarantined", col("score"))))
          .as("margin"))
      val held = t22Docs(s, d).filter(col("doc_id") % 10 >= 8)
        .select("doc_id", "label")
      margins.join(held, Seq("doc_id"))
        .select(
          greatest(least(floor(col("margin").cast("double") / 5.0)
            .cast("long"), lit(3L)), lit(-4L)).as("bin"),
          col("margin"), col("label"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"),
          count(when(col("label") === "curated", 1)).as("n_curated"),
          round(sum(col("margin")).cast("double") / count(lit(1)), 6)
            .as("avg_margin"))
        .select(col("bin"), col("n"), col("n_curated"),
          round(col("n_curated").cast("double") / col("n"), 6)
            .as("curated_rate"),
          col("avg_margin"))
    },
    Some(s"""WITH $t22CtesDuck,
      margins AS (
        SELECT doc_id,
          max(CASE WHEN p_label = 'curated' THEN score END) -
          max(CASE WHEN p_label = 'quarantined' THEN score END)
            AS margin
        FROM final GROUP BY 1),
      binned AS (
        SELECT greatest(least(CAST(floor(CAST(m.margin AS DOUBLE) / 5.0)
              AS BIGINT), 3), -4) AS bin,
          m.margin, h.label
        FROM margins m JOIN held h USING (doc_id))
      SELECT bin, CAST(count(*) AS BIGINT) AS n,
        CAST(count(CASE WHEN label = 'curated' THEN 1 END) AS BIGINT)
          AS n_curated,
        round(CAST(count(CASE WHEN label = 'curated' THEN 1 END)
          AS DOUBLE) / count(*), 6) AS curated_rate,
        round(CAST(sum(margin) AS DOUBLE) / count(*), 6) AS avg_margin
      FROM binned GROUP BY 1"""))

  def all: Seq[Q] = Seq(
    d1DedupExact, d10IncrementalDedup, d2DedupMinhash, d3Simhash,
    d3bSimhashNeardup, d5NgramJaccard, d11SubstringDedup,
    d6Decontaminate, d6bLeakReport, d9BloomPrefilter, d7DedupCc, d7bClusterStats, d8DedupCcStar, d14UrlDedup, d15LineDedup,
    d16IncrementalLineDedup, d17IncrementalNeardup,
    t1TextStats, t2LangId, t3TokenTopk, t4Fingerprint,
    t5LengthPercentiles, t6LengthHistogram, t7Chunking, t8Scrub,
    t8bPiiScrub,
    t9SequencePack, t10Tfidf, t11NbLangid, t12CountminTopk,
    t12bCountminNative, t13Repetition,
    t14KmvQuantile, t15LmScore, t16GopherRules, t17Novelty, t18Bm25,
    t19DsirWeights, t20BpeMerges, t21BpeEncode, t9bPackBpe,
    t22QualityClassifier, t23Calibration,
    a9HllDistinct, a9bHllNative,
    c1CurateCorpus, c1bCurateNeardup, c1cCurateQuality,
    c2SplitAssign, c3StratifiedSample, c4DecontSplit, c5TemperatureMix,
    c7CcnetBuckets, c8ShardShuffle, c9EpochBudget, c10Curriculum,
    c11RankCuration, c12ImportanceResample,
    e4LlmPipeline,
    d13CapReport)
}
