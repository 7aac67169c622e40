package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Dialect
import graft.Queries.Q
import graft.Tables._

/** Capability extensions past the reference's surface (SURVEY §2.5/§2.6
  * "not present" rows): as-of join, grouping sets, skew-salted
  * aggregation, intersect/except — each in its scale-correct Spark form.
  */
object Extended {

  // ---------------------------------------------------------------------
  // X1: AS-OF join — for every order, the customer's most recent PRIOR
  // order (strictly earlier date; ties inside a date pre-aggregated to
  // max key). Implemented with the union-tag technique: tag both sides,
  // one shuffle by customer, one per-partition sort by (date, tag), then
  // last(ignoreNulls) carries the latest match forward — no range join,
  // no per-key loop, exactly one sort at any scale. The oracle uses
  // DuckDB's native ASOF LEFT JOIN with a strict inequality.
  // ---------------------------------------------------------------------
  val x1AsofJoin = Q(
    "x1_asof_join",
    (s, d) => {
      val o = orders(s, d)
        .select(col("o_custkey").as("k"),
          to_date(col("o_orderdate")).as("t"), col("o_orderkey"))
      // match candidates: one row per (customer, date), deterministic
      val b = o.groupBy(col("k"), col("t"))
        .agg(max(col("o_orderkey")).as("bkey"))
        .select(col("k"), col("t"), lit(1).as("is_b"),
          lit(null).cast("long").as("o_orderkey"),
          struct(col("t").as("prev_date"), col("bkey").as("prev_orderkey"))
            .as("m"))
      val a = o.select(col("k"), col("t"), lit(0).as("is_b"),
        col("o_orderkey"),
        lit(null).cast("struct<prev_date:date,prev_orderkey:bigint>")
          .as("m"))
      // probe rows sort BEFORE same-date candidates (is_b asc), so the
      // carried-forward match is always strictly earlier
      val w = Window.partitionBy(col("k"))
        .orderBy(col("t").asc, col("is_b").asc, col("o_orderkey").asc)
        .rowsBetween(Window.unboundedPreceding, 0)
      a.unionByName(b)
        .withColumn("prev", last(col("m"), ignoreNulls = true).over(w))
        .filter(col("is_b") === 0)
        .select(col("o_orderkey"), col("k").as("o_custkey"),
          col("t").as("order_date"),
          col("prev.prev_orderkey").as("prev_orderkey"),
          col("prev.prev_date").as("prev_date"))
    },
    Some("""WITH b AS (
        SELECT o_custkey AS k, CAST(o_orderdate AS DATE) AS t,
               max(o_orderkey) AS bkey
        FROM orders GROUP BY 1, 2),
      a AS (SELECT o_custkey AS k, CAST(o_orderdate AS DATE) AS t,
            o_orderkey FROM orders)
      SELECT a.o_orderkey, a.k AS o_custkey, a.t AS order_date,
        b.bkey AS prev_orderkey, b.t AS prev_date
      FROM a ASOF LEFT JOIN b ON a.k = b.k AND a.t > b.t"""))

  // ---------------------------------------------------------------------
  // X2: ROLLUP grouping sets — (flag, status), (flag), () in ONE pass
  // (Spark plans a single Expand + hash aggregate, not three scans).
  // ---------------------------------------------------------------------
  val x2Rollup = Q(
    "x2_rollup",
    (s, d) =>
      lineitem(s, d)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty")),
    Some("""SELECT l_returnflag, l_linestatus, count(*) AS n,
      sum(l_quantity) AS sum_qty
      FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)"""))

  // ---------------------------------------------------------------------
  // X3: skew-salted aggregation — the two-phase pattern for hot keys:
  // phase 1 aggregates (key, salt) so a hot key's rows spread over 16
  // reducers, phase 2 merges the 16 partials. (For plain count/sum
  // Spark's map-side partial aggregation already defuses skew; the salt
  // pattern is the template for aggs without cheap partials —
  // collect_list/exact-distinct — and for skewed JOIN keys.) Decimal
  // accumulation keeps the two-phase sum bit-equal to the oracle's
  // one-phase sum.
  // ---------------------------------------------------------------------
  val x3SaltedAgg = Q(
    "x3_salted_agg",
    (s, d) =>
      events(s, d)
        .withColumn("salt", pmod(col("event_id"), lit(16)))
        .groupBy(col("event_type"), col("salt"))
        .agg(count(lit(1)).as("pn"),
          sum(col("value").cast("decimal(18,6)")).as("psv"))
        .groupBy(col("event_type"))
        .agg(sum(col("pn")).as("n"),
          sum(col("psv")).cast("double").as("sum_value")),
    Some("""SELECT event_type, count(*) AS n,
      CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      FROM events GROUP BY event_type"""))

  // ---------------------------------------------------------------------
  // X4: INTERSECT / EXCEPT — customers active in both 1999 and 2000 vs
  // only 1999, tagged and unioned into one result.
  // ---------------------------------------------------------------------
  val x4IntersectExcept = Q(
    "x4_intersect_except",
    (s, d) => {
      val y99 = orders(s, d).filter(year(col("o_orderdate")) === 1999)
        .select(col("o_custkey")).distinct()
      val y00 = orders(s, d).filter(year(col("o_orderdate")) === 2000)
        .select(col("o_custkey")).distinct()
      y99.intersect(y00).withColumn("setop", lit("both"))
        .unionByName(y99.except(y00).withColumn("setop", lit("only_1999")))
    },
    Some("""SELECT o_custkey, 'both' AS setop FROM (
        SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1999
        INTERSECT
        SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 2000)
      UNION ALL
      SELECT o_custkey, 'only_1999' AS setop FROM (
        SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1999
        EXCEPT
        SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 2000)"""))

  // ---------------------------------------------------------------------
  // X5: bucketed co-located join — both sides written bucketBy(join key)
  // into catalog tables, so the sort-merge join reads bucket n against
  // bucket n directly: ZERO Exchange in the join plan (asserted by
  // ExtendedSpec). This is the at-rest layout that amortizes the shuffle
  // of a repeated fact-fact join across every future query — the 100 TB
  // answer when j1-style joins run daily. Tables live under
  // target/graft-warehouse via explicit path options.
  // ---------------------------------------------------------------------
  val x5BucketedJoin = Q(
    "x5_bucketed_join",
    (s, d) => {
      val wh = sys.props.getOrElse("graft.warehouse.dir",
        java.nio.file.Paths.get(sys.props("user.dir"),
          "target", "graft-warehouse").toString)
      s.sql("DROP TABLE IF EXISTS graft_orders_b")
      s.sql("DROP TABLE IF EXISTS graft_lineitem_b")
      orders(s, d).select("o_orderkey", "o_custkey", "o_orderpriority")
        .write.mode("overwrite")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .option("path", s"$wh/orders_b").saveAsTable("graft_orders_b")
      lineitem(s, d).select("l_orderkey", "l_linenumber", "l_quantity")
        .write.mode("overwrite")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .option("path", s"$wh/lineitem_b").saveAsTable("graft_lineitem_b")
      s.table("graft_lineitem_b")
        .join(s.table("graft_orders_b"),
          col("l_orderkey") === col("o_orderkey"))
        .select("l_orderkey", "l_linenumber", "l_quantity",
          "o_custkey", "o_orderpriority")
    },
    Some("""SELECT l_orderkey, l_linenumber, l_quantity,
      o_custkey, o_orderpriority
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey"""))

  // ---------------------------------------------------------------------
  // X6: interval (range) join, bin-bucketed — events matched to time
  // WINDOWS on ts ∈ [lo, hi), the join shape Spark has no native operator
  // for. The naive plan is a BroadcastNestedLoopJoin (quadratic when both
  // sides are fact-sized — the range-join trap). The scalable pattern:
  // derive the EQUI bin both sides share (here the calendar day — every
  // window lies inside one day by construction), hash-join on
  // (event_type, bin), and apply the range predicate as a residual
  // filter. The join is then an ordinary shuffled equi-join: at 100 TB it
  // partitions by (type, day) like every other fact-fact join here, and
  // a window spanning B bins would simply explode into B bin rows.
  // Windows are synthesized deterministically per (event_type, day):
  // start = 06:00 + (h60 % 6) hours, 8 hours long — so the oracle
  // replays them exactly.
  // ---------------------------------------------------------------------
  val x6IntervalJoin = Q(
    "x6_interval_join",
    (s, d) => {
      val ev = events(s, d)
        .select(col("event_id"), col("ts"), col("event_type"),
          col("value"), to_date(col("ts")).as("event_date"))
      val win = ev.select(col("event_type"), col("event_date")).distinct()
        .withColumn("off",
          (graft.functions.Portable.h60(
            concat_ws("|", col("event_type"),
              col("event_date").cast("string")), "win|") % 6).cast("int"))
        .select(col("event_type"), col("event_date"),
          expr("timestampadd(HOUR, 6 + off, CAST(event_date AS TIMESTAMP))")
            .as("lo"))
        .withColumn("hi", expr("timestampadd(HOUR, 8, lo)"))
      // The residual range predicate is deliberately null-TOLERANT
      // (coalesce(pred, false) — identical filter semantics, since a
      // null pred drops the row either way and lo/hi are never null by
      // construction). A null-INTOLERANT `ts >= lo` makes constraint
      // inference manufacture IsNotNull(lo)/IsNotNull(hi) on the window
      // side, and because lo/hi are deterministic functions of the
      // grouping keys those filters get pushed BELOW the distinct — so
      // the md5-based window derivation ran once per raw event row
      // (three times over) instead of once per distinct (type, day).
      // That pushdown was the r11 x6 drift (0.52 s → ~1.0 s at sf0.1);
      // with the tolerant form the derivation stays above the
      // aggregate, on ~3k rows.
      ev.join(win, Seq("event_type", "event_date"))
        .filter(coalesce(
          col("ts") >= col("lo") && col("ts") < col("hi"), lit(false)))
        .groupBy(col("event_type"), col("event_date"), col("lo"), col("hi"))
        .agg(count(lit(1)).as("n_in_window"),
          sum(col("value").cast("decimal(18,2)")).cast("double")
            .as("sum_value"))
    },
    Some("""WITH ev AS (
        SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value,
          CAST(ts AS DATE) AS event_date
        FROM events),
      win AS (
        SELECT event_type, event_date,
          CAST(event_date AS TIMESTAMP) + INTERVAL 6 HOUR +
            to_hours(CAST(CAST(concat('0x', substring(md5(concat('win|',
              event_type, '|', strftime(event_date, '%Y-%m-%d'))), 1, 15))
              AS BIGINT) % 6 AS BIGINT)) AS lo
        FROM (SELECT DISTINCT event_type, event_date FROM ev)),
      w2 AS (SELECT event_type, event_date, lo,
               lo + INTERVAL 8 HOUR AS hi FROM win)
      SELECT e.event_type, e.event_date, w.lo, w.hi,
        count(*) AS n_in_window,
        CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM ev e JOIN w2 w
        ON e.event_type = w.event_type AND e.event_date = w.event_date
      WHERE e.ts >= w.lo AND e.ts < w.hi
      GROUP BY e.event_type, e.event_date, w.lo, w.hi"""))

  // ---------------------------------------------------------------------
  // X7: UNPIVOT (wide → long reshape) — the inverse of p11's pivot and
  // the standard first step of per-measure profiling over a wide fact
  // table. Spark's native `Dataset.unpivot` compiles to one Expand node
  // (each input row fans out to 4 measure rows map-side — no shuffle,
  // no self-union scan per measure), and the single shuffle is the
  // 12-group hash-agg. Money sums follow the integer-checksum
  // discipline: 2-decimal values scale to exact BIGINT cents (round
  // kills the binary representation error first), so the total is
  // exact cross-engine and the double form is one shared IEEE division.
  // The oracle spells the reshape as UNION ALL — ANSI for the same
  // row-set (DuckDB's UNPIVOT would also do).
  // ---------------------------------------------------------------------
  val x7Unpivot = Q(
    "x7_unpivot",
    (s, d) =>
      lineitem(s, d)
        .select(col("l_returnflag"), col("l_quantity"),
          col("l_extendedprice"), col("l_discount"), col("l_tax"))
        .unpivot(
          Array(col("l_returnflag")),
          Array(col("l_quantity"), col("l_extendedprice"),
            col("l_discount"), col("l_tax")),
          "measure", "val")
        .groupBy(col("l_returnflag"), col("measure"))
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(round(val * 100) AS BIGINT)")).as("total_c100"),
          min(col("val")).as("mn"), max(col("val")).as("mx"))
        .select(col("l_returnflag"), col("measure"), col("n"),
          col("total_c100"),
          (col("total_c100") / 100.0).as("total"), col("mn"), col("mx")),
    Some("""WITH u AS (
        SELECT l_returnflag, 'l_quantity' AS measure, l_quantity AS val
        FROM lineitem
        UNION ALL SELECT l_returnflag, 'l_extendedprice', l_extendedprice
        FROM lineitem
        UNION ALL SELECT l_returnflag, 'l_discount', l_discount
        FROM lineitem
        UNION ALL SELECT l_returnflag, 'l_tax', l_tax FROM lineitem)
      SELECT l_returnflag, measure, count(*) AS n,
        CAST(sum(CAST(round(val * 100) AS BIGINT)) AS BIGINT) AS total_c100,
        CAST(sum(CAST(round(val * 100) AS BIGINT)) AS BIGINT) / 100.0
          AS total,
        min(val) AS mn, max(val) AS mx
      FROM u GROUP BY 1, 2"""))

  // ---------------------------------------------------------------------
  // X8: PIVOT (long → wide reshape) — the inverse of x7 and the standard
  // report shape over a categorical dimension. The pivot VALUES are
  // passed explicitly (`Seq("F","O")`), which matters at scale: without
  // them Spark runs an extra distinct-collect job over the full fact
  // table just to discover the column set, and the column set becomes
  // data-dependent (a schema no downstream consumer can rely on). With
  // pinned values the reshape is two hash aggregates over a single scan:
  // a pre-aggregate keyed on (group, value) with map-side partials, then
  // a `pivotfirst` rotate keyed on group — both shuffles carry only
  // |groups| × |values| cells, never fact rows (plan asserted in
  // ExtendedSpec). Money sums use the
  // x7 integer-cents checksum discipline (exact cross-engine). Pivot
  // counts for an EMPTY (group, value) cell come back NULL from Spark's
  // pivotfirst but 0 from SQL's count(*) FILTER — the coalesce below
  // pins the SQL semantics so the query stays correct on distributions
  // where a returnflag×linestatus combination is absent (real TPC-H has
  // no A/O or R/O rows). Empty-cell SUMs are NULL in both engines.
  // ---------------------------------------------------------------------
  /** The x8 reshape over any lineitem-shaped input — split out so the
    * empty-cell semantics (count → 0, never NULL) are testable on a
    * fixture where a pivot cell is genuinely absent (ExtendedSpec). */
  private[graft] def pivotFlags(df: DataFrame): DataFrame =
    df.groupBy(col("l_returnflag"))
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)"))
          .as("price_c100"))
      .select(col("l_returnflag"),
        coalesce(col("F_n"), lit(0L)).as("F_n"), col("F_price_c100"),
        coalesce(col("O_n"), lit(0L)).as("O_n"), col("O_price_c100"))

  val x8Pivot = Q(
    "x8_pivot",
    (s, d) => pivotFlags(lineitem(s, d)),
    Some("""SELECT l_returnflag,
        count(*) FILTER (WHERE l_linestatus = 'F') AS "F_n",
        CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
          FILTER (WHERE l_linestatus = 'F') AS BIGINT) AS "F_price_c100",
        count(*) FILTER (WHERE l_linestatus = 'O') AS "O_n",
        CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
          FILTER (WHERE l_linestatus = 'O') AS BIGINT) AS "O_price_c100"
      FROM lineitem GROUP BY l_returnflag"""))

  // ---------------------------------------------------------------------
  // X9: SCD TYPE-2 HISTORY BUILD — collapse an event stream into validity
  // intervals per entity: one row per (user, event_type run) carrying
  // [valid_from, valid_to) and an is_current flag. This is the standard
  // dimension-history derivation (and the relational form of
  // "sessionize by attribute change"). Two window passes share ONE
  // partitioning and ONE sort — (user_id) × (ts, event_id) — and the
  // change-detection filter preserves that ordering, so Catalyst plans a
  // single Exchange + single Sort for the whole query (asserted by
  // ExtendedSpec). At 100 TB this scales as a per-entity timeline scan:
  // no self-join, no materialized lag table, skew bounded by the hottest
  // single entity's history.
  // ---------------------------------------------------------------------
  val x9Scd2 = Q(
    "x9_scd2",
    (s, d) => {
      val ev = events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      ev.withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .filter(col("prev_type").isNull ||
          col("prev_type") =!= col("event_type"))
        .withColumn("version", row_number().over(w))
        .withColumn("valid_to", lead(col("ts"), 1).over(w))
        .select(col("user_id"), col("event_type"),
          col("ts").as("valid_from"), col("valid_to"), col("version"),
          col("valid_to").isNull.as("is_current"))
    },
    Some("""WITH e AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type
        FROM events),
      c AS (
        SELECT *, lag(event_type) OVER
          (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        FROM e),
      f AS (
        SELECT user_id, ts, event_id, event_type FROM c
        WHERE prev_type IS NULL OR prev_type <> event_type)
      SELECT user_id, event_type, ts AS valid_from,
        lead(ts) OVER w AS valid_to,
        CAST(row_number() OVER w AS INT) AS version,
        (lead(ts) OVER w IS NULL) AS is_current
      FROM f WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)"""))

  // ---------------------------------------------------------------------
  // X10: CUBE grouping sets with grouping_id — the full 2^k lattice over
  // (returnflag, linestatus) in ONE pass (x2's ROLLUP covers only the
  // prefix chain). grouping_id disambiguates a genuine NULL group value
  // from a rolled-up cell — the reason production cube reports carry it
  // — and Spark's bit encoding (bit i set = column i rolled up) matches
  // DuckDB's GROUPING(...) exactly, so the oracle replays it verbatim.
  // Same single Expand + hash-aggregate shape as x2: Expand multiplies
  // rows 4× BEFORE the shuffle, but map-side partial aggregation
  // collapses each grouping set to its cell count per mapper, so the
  // exchange carries |cells| × 4 rows regardless of fact size — the
  // cube is as scale-safe as the flat aggregate.
  // ---------------------------------------------------------------------
  val x10Cube = Q(
    "x10_cube",
    (s, d) =>
      lineitem(s, d)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(grouping_id().cast("long").as("gid"),
          count(lit(1)).as("n"),
          sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)"))
            .as("price_c100")),
    Some("""SELECT l_returnflag, l_linestatus,
        CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
        count(*) AS n,
        CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
          AS price_c100
      FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)"""))

  // ---------------------------------------------------------------------
  // X11: Z-order clustering with data-skipping stats — the Delta/Iceberg
  // Z-ORDER technique relationally: interleave the bits of two filter
  // dimensions (l_partkey, l_suppkey) into one Z-value, bucket the table
  // along the Z curve, and report each bucket's bounding box on BOTH
  // dims beside the same buckets under a plain one-dimension ordering.
  // The point is what a file pruner sees: Z buckets have TIGHT min/max
  // on both dims (a predicate on EITHER dim skips most buckets), while
  // linear buckets are tight on the sort key only — the second dim's
  // per-bucket span covers the whole domain and nothing skips
  // (ExtendedSpec quantifies the skipping ratio on a planted predicate).
  //
  // Portability: the interleave is 32 integer div/mod/multiply terms —
  // no engine bit ops — so the Z-value is identical in DuckDB. Buckets
  // are FIXED-WIDTH ranges of the ordering key (width = ceil((max+1)/
  // B), the 1-row max broadcast onto the scan) — a pure map-side
  // assignment with NO global sort: the first form used ntile over a
  // global ORDER BY, which moves the whole table through ONE partition
  // and read 3.39× for 3× data at the r13 probe (60.7 s at 30×); the
  // range form is two narrow aggs and scales with the scan. This is
  // also the more faithful model: parquet row-group pruning works off
  // VALUE ranges, and a Z-order table rewrite is repartitionByRange on
  // exactly these curve ranges.
  // ---------------------------------------------------------------------
  private val Z_BITS = 16
  private val Z_BUCKETS = 64
  private def zExpr(pk: String, sk: String, div: String): String =
    (0 until Z_BITS).map { i =>
      val p2i = 1L << i
      s"(($pk $div $p2i) % 2) * ${1L << (2 * i)} + " +
        s"(($sk $div $p2i) % 2) * ${1L << (2 * i + 1)}"
    }.mkString(" + ")

  /** The normalized-interleave base frame (l_orderkey, l_linenumber,
    * l_partkey, l_suppkey, z): both dims normalized to the common
    * 16-bit domain before the interleave (value * 65535 div max) — raw
    * interleave of dims with unequal bit widths puts the narrow dim's
    * bits entirely below the bucket cut and the curve degenerates to a
    * one-dimension sort (measured: skip fraction 0.24 unnormalized vs
    * ~0.75 normalized on the same predicate); every real Z-order
    * implementation rank- or range-normalizes for exactly this reason.
    * The two maxes are one broadcast row. Shared by x11's relational
    * report and ZorderWriteSpec's real-file write+footer proof (the
    * table rewrite IS repartitionByRange on this z column). */
  private[graft] def zOrderedBase(s: SparkSession, d: String)
      : DataFrame = {
    val mx = lineitem(s, d)
      .agg(greatest(max(col("l_partkey")), lit(1L)).as("mx_pk"),
        greatest(max(col("l_suppkey")), lit(1L)).as("mx_sk"))
    lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_partkey"), col("l_suppkey"))
      .crossJoin(broadcast(mx))
      .withColumn("npk", expr("(l_partkey * 65535) div mx_pk"))
      .withColumn("nsk", expr("(l_suppkey * 65535) div mx_sk"))
      .withColumn("z", expr(zExpr("npk", "nsk", "div")))
  }

  val x11Zorder = Q(
    "x11_zorder",
    (s, d) => {
      val base = zOrderedBase(s, d)
      def buckets(withOrd: DataFrame, variant: String): DataFrame = {
        val w = withOrd
          .agg(max(col("ord")).as("mx"))
          .select(expr(s"(mx + $Z_BUCKETS) div $Z_BUCKETS").as("w"))
        withOrd.crossJoin(broadcast(w))
          .withColumn("bucket", expr("ord div w"))
          .groupBy(col("bucket"))
          .agg(count(lit(1)).as("n"),
            min(col("l_partkey")).as("pk_lo"),
            max(col("l_partkey")).as("pk_hi"),
            min(col("l_suppkey")).as("sk_lo"),
            max(col("l_suppkey")).as("sk_hi"))
          .withColumn("variant", lit(variant))
      }
      buckets(base.withColumn("ord", col("z")), "zorder")
        .unionByName(
          buckets(base.withColumn("ord", col("l_orderkey")), "linear"))
    },
    Some {
      val z = zExpr("npk", "nsk", "//")
      val normed = """(SELECT l_orderkey, l_partkey, l_suppkey,
          (l_partkey * 65535) // greatest(mx_pk, 1) AS npk,
          (l_suppkey * 65535) // greatest(mx_sk, 1) AS nsk
        FROM lineitem,
          (SELECT max(l_partkey) AS mx_pk, max(l_suppkey) AS mx_sk
           FROM lineitem) m)"""
      def half(ord: String, variant: String) = s"""
        SELECT CAST(bucket AS BIGINT) AS bucket,
          CAST(count(*) AS BIGINT) AS n,
          min(l_partkey) AS pk_lo, max(l_partkey) AS pk_hi,
          min(l_suppkey) AS sk_lo, max(l_suppkey) AS sk_hi,
          '$variant' AS variant
        FROM (SELECT l_partkey, l_suppkey,
                ord // ((mx + 1 + $Z_BUCKETS - 1) // $Z_BUCKETS) AS bucket
              FROM (SELECT l_partkey, l_suppkey, $ord AS ord
                    FROM $normed nz) o,
                   (SELECT max($ord) AS mx FROM $normed nz2) m) t
        GROUP BY bucket"""
      s"""${half(s"($z)", "zorder")} UNION ALL ${half("l_orderkey", "linear")}"""
    })

  /** All extension queries, registration order. */
  // ---------------------------------------------------------------------
  // X12: the analytic window-function battery — lag/lead, rank /
  // dense_rank / cume_dist / percent_rank (over the TIE-AMBIGUOUS
  // date-only ordering, where their semantics are still deterministic:
  // ties share a value), ntile + running decimal sum (over the fully
  // deterministic (date, key) ordering, since position-based functions
  // are NOT tie-stable). One window spec per ordering, so Spark plans
  // ONE sort per (partition, ordering) pair and runs every function of
  // a spec in the same Window operator — the battery costs two sorts
  // total, not eight. The oracle is the same ANSI text DuckDB runs.
  // ---------------------------------------------------------------------
  val x12WindowBattery = Q(
    "x12_window_battery",
    (s, d) => {
      val o = orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        to_date(col("o_orderdate")).as("od"), col("o_totalprice"))
      val w1 = Window.partitionBy(col("o_custkey")).orderBy(col("od"))
      val w2 = Window.partitionBy(col("o_custkey"))
        .orderBy(col("od"), col("o_orderkey"))
      val w2r = w2.rowsBetween(Window.unboundedPreceding, 0)
      o.select(col("o_orderkey"), col("o_custkey"),
        lag(col("o_totalprice"), 1).over(w2).as("prev_price"),
        lead(col("o_totalprice"), 1).over(w2).as("next_price"),
        rank().over(w1).cast("long").as("rk"),
        dense_rank().over(w1).cast("long").as("drk"),
        ntile(4).over(w2).cast("long").as("q4"),
        cume_dist().over(w1).as("cd"),
        percent_rank().over(w1).as("pr"),
        sum(col("o_totalprice").cast("decimal(18,2)")).over(w2r)
          .cast("double").as("run_spend"))
    },
    Some("""SELECT o_orderkey, o_custkey,
        lag(o_totalprice) OVER w2 AS prev_price,
        lead(o_totalprice) OVER w2 AS next_price,
        CAST(rank() OVER w1 AS BIGINT) AS rk,
        CAST(dense_rank() OVER w1 AS BIGINT) AS drk,
        CAST(ntile(4) OVER w2 AS BIGINT) AS q4,
        cume_dist() OVER w1 AS cd,
        percent_rank() OVER w1 AS pr,
        CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
          PARTITION BY o_custkey
          ORDER BY CAST(o_orderdate AS DATE), o_orderkey
          ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS run_spend
      FROM orders
      WINDOW
        w1 AS (PARTITION BY o_custkey ORDER BY CAST(o_orderdate AS DATE)),
        w2 AS (PARTITION BY o_custkey
          ORDER BY CAST(o_orderdate AS DATE), o_orderkey)"""))

  // ---------------------------------------------------------------------
  // X13: arbitrary GROUPING SETS — the reporting form rollup (x2) and
  // cube (x10) cannot express: a hand-picked lattice of dimension
  // combinations over an enriched fact. Sets here: (nation, year),
  // (priority, year), (year), () — the "two drill-downs sharing a time
  // axis plus totals" dashboard shape.
  //
  // Scale shape: ONE Expand (each fact row replicated once per set, 4×)
  // feeding ONE hash-agg shuffle with map-side partials — vs the naive
  // 4-query UNION ALL that re-scans and re-shuffles the fact per set.
  // The nation dim arrives by broadcast (customer -> nation is the j1b
  // pattern), so the only exchange is the final grouping-key shuffle,
  // post-Expand, after partial aggregation has already collapsed each
  // map partition to at most |groups| rows per set. grouping_id() is
  // bit-compatible with DuckDB's GROUPING(...) when the column lists
  // match order, which the oracle pins.
  // ---------------------------------------------------------------------
  val x13GroupingSets = Q(
    "x13_grouping_sets",
    (s, d) => {
      val o = orders(s, d).select(col("o_custkey"),
        col("o_orderpriority").as("priority"),
        year(to_date(col("o_orderdate"))).cast("long").as("yr"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("price_c"))
      val c = customer(s, d).select(col("c_custkey"), col("c_nationkey"))
      val n = nation(s, d).select(col("n_nationkey"),
        col("n_name").as("nation_name"))
      val enriched = o
        .join(broadcast(c.join(broadcast(n),
          col("c_nationkey") === col("n_nationkey"))),
          col("o_custkey") === col("c_custkey"))
      enriched
        .groupingSets(
          Seq(Seq(col("nation_name"), col("yr")),
            Seq(col("priority"), col("yr")),
            Seq(col("yr")),
            Seq()),
          col("nation_name"), col("priority"), col("yr"))
        .agg(grouping_id().cast("long").as("gid"),
          count(lit(1)).as("n"),
          sum(col("price_c")).as("price_c100"))
    },
    // the oracle text is VERBATIM ANSI runnable by BOTH engines
    // (sql_x13 runs the identical string in Spark SQL): gid is spelled
    // as per-column grouping() arithmetic because Spark's multi-arg
    // grouping_id() demands the args in grouping-column first-
    // appearance order, which differs from the DSL's declared order —
    // the single-arg form is order-free and bit-identical
    Some("""WITH enriched AS (
        SELECT n.n_name AS nation_name, o.o_orderpriority AS priority,
          CAST(year(CAST(o.o_orderdate AS DATE)) AS BIGINT) AS yr,
          CAST(round(o.o_totalprice * 100) AS BIGINT) AS price_c
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey)
      SELECT nation_name, priority, yr,
        CAST(grouping(nation_name) * 4 + grouping(priority) * 2 +
             grouping(yr) AS BIGINT) AS gid,
        count(*) AS n,
        CAST(sum(price_c) AS BIGINT) AS price_c100
      FROM enriched
      GROUP BY GROUPING SETS ((nation_name, yr), (priority, yr), (yr),
        ())"""))

  // ---------------------------------------------------------------------
  // X14: table statistics collection — the ANALYZE job every lakehouse
  // runs so its CBO can order joins and pick broadcast sides: per
  // column, row count, null count, min/max, and distinct-count via the
  // portable HLL sketch (a9's register math factored by key — NDV is
  // THE statistic that cannot be computed exactly at 100 TB without a
  // full distinct shuffle per column; the sketch reduces each column to
  // 256 register rows).
  //
  // Shape: ONE scan computes every typed min/max/null aggregate
  // map-side (a 1-row result exploded back into per-column rows), and
  // one more scan feeds the stacked (column, h60) hash stream whose
  // register agg is map-side-combinable into 5×256 rows — no shuffle
  // ever carries data rows. Values canonicalize to strings only at the
  // output edge (BIGINT casts, yyyy-MM-dd for the date column), so
  // min/max compare in their native types, never lexicographically.
  // ---------------------------------------------------------------------
  val x14TableStats = Q(
    "x14_table_stats",
    (s, d) => {
      import graft.functions.Portable
      // r20: the NDV branch explodes 5 h60(md5) hashes per row out of a
      // one-split scan (~3M md5s in one task at sf0.1) — spread the
      // scan first (guide §2.5; min/max/count/HLL-register aggregates
      // are partitioning-neutral)
      val li = graft.operators.LlmOps.spreadScan(lineitem(s, d))
      val canon: Seq[(String, org.apache.spark.sql.Column)] = Seq(
        ("l_orderkey", col("l_orderkey").cast("string")),
        ("l_partkey", col("l_partkey").cast("string")),
        ("l_linenumber", col("l_linenumber").cast("string")),
        ("l_returnflag", col("l_returnflag")),
        ("l_shipdate", date_format(col("l_shipdate"), "yyyy-MM-dd")))
      def nn(c: String) = count(when(col(c).isNull, 1)).as(s"nn_$c")
      val stats = li
        .agg(count(lit(1)).as("n_rows"),
          Seq("l_orderkey", "l_partkey", "l_linenumber", "l_returnflag")
            .flatMap(c => Seq(nn(c), min(col(c)).as(s"mn_$c"),
              max(col(c)).as(s"mx_$c"))) ++ Seq(
            nn("l_shipdate"),
            date_format(min(col("l_shipdate")), "yyyy-MM-dd")
              .as("mn_l_shipdate"),
            date_format(max(col("l_shipdate")), "yyyy-MM-dd")
              .as("mx_l_shipdate")): _*)
        .select(col("n_rows"), explode(array(canon.map { case (c, _) =>
          struct(lit(c).as("col_name"), col(s"nn_$c").as("n_nulls"),
            col(s"mn_$c").cast("string").as("min_val"),
            col(s"mx_$c").cast("string").as("max_val"))
        }: _*)).as("st"))
        .select(col("st.col_name"), col("n_rows"), col("st.n_nulls"),
          col("st.min_val"), col("st.max_val"))
      val hashes = li
        .select(explode(array(canon.map { case (c, v) =>
          struct(lit(c).as("c"), Portable.h60(v, "st|").as("h"))
        }: _*)).as("e"))
        .select(col("e.c"), col("e.h"))
        .filter(col("h").isNotNull) // NDV counts non-null values
      stats
        .join(graft.operators.LlmOps.hllByKey(hashes, "c"),
          col("col_name") === col("c"), "left")
        .select(col("col_name"), col("n_rows"), col("n_nulls"),
          col("min_val"), col("max_val"),
          coalesce(col("n_hll"), lit(0.0)).as("ndv"))
    },
    Some {
      import graft.functions.Portable.h60Duck
      val cols = Seq(
        ("l_orderkey", "CAST(l_orderkey AS VARCHAR)"),
        ("l_partkey", "CAST(l_partkey AS VARCHAR)"),
        ("l_linenumber", "CAST(l_linenumber AS VARCHAR)"),
        ("l_returnflag", "l_returnflag"),
        ("l_shipdate",
          "strftime(CAST(l_shipdate AS TIMESTAMP), '%Y-%m-%d')"))
      val aggSel = cols.map { case (c, _) =>
        val mm =
          if (c == "l_shipdate")
            s"""strftime(min(CAST($c AS TIMESTAMP)), '%Y-%m-%d')
                 AS mn_$c,
               strftime(max(CAST($c AS TIMESTAMP)), '%Y-%m-%d')
                 AS mx_$c"""
          else s"CAST(min($c) AS VARCHAR) AS mn_$c, " +
            s"CAST(max($c) AS VARCHAR) AS mx_$c"
        s"CAST(count(CASE WHEN $c IS NULL THEN 1 END) AS BIGINT) " +
          s"AS nn_$c, $mm"
      }.mkString(",\n          ")
      val rows = cols.map { case (c, _) =>
        s"""SELECT '$c' AS col_name, n_rows, nn_$c AS n_nulls,
          mn_$c AS min_val, mx_$c AS max_val FROM st"""
      }.mkString(" UNION ALL ")
      val hsrc = cols.map { case (c, v) =>
        s"""SELECT '$c' AS c, ${h60Duck(v, "st|")} AS h
          FROM lineitem WHERE $c IS NOT NULL"""
      }.mkString(" UNION ALL ")
      s"""WITH st AS (
        SELECT CAST(count(*) AS BIGINT) AS n_rows,
          $aggSel
        FROM lineitem),
      srows AS ($rows),
      hsrc AS ($hsrc),
      ${graft.operators.LlmOps.hllByKeyDuck("c")}
      SELECT r.col_name, r.n_rows, r.n_nulls, r.min_val, r.max_val,
        coalesce(f.n_hll, CAST(0.0 AS DOUBLE)) AS ndv
      FROM srows r LEFT JOIN hfin f ON f.c = r.col_name"""
    })

  // ---------------------------------------------------------------------
  // X15: equi-height column histograms — the range-selectivity half of
  // the CBO feed (x14 collects row counts / min-max / NDV; range
  // predicates additionally need the DISTRIBUTION, which is what
  // ANALYZE ... FOR COLUMNS histograms store). Built the way production
  // engines build them at scale: from a FIXED-SIZE deterministic sample
  // — each row ranks by a portable hash of its primary key and only the
  // lowest HIST_SAMPLE hashes per column survive (a uniform fixed-size
  // sample that any engine replays exactly; the rank filter compiles to
  // WindowGroupLimit, so every task forwards at most HIST_SAMPLE rows
  // per column and no stage ever sorts the full table — the x11 lesson:
  // a global ntile over raw rows is the single-partition trap). The
  // surviving sample (planner-sized by construction) is cut into
  // HIST_BINS equi-height bins by ntile over the total order (value,
  // hash), and each bin reports its bounds, sample count, and the
  // estimated table rows it represents — the number a planner multiplies
  // a range predicate against. Duplicate-heavy columns (l_quantity: 50
  // distinct values) split a value across bins; the distinct-value
  // variant is x14's NDV sketch — the two reports together are the
  // stats a CBO consumes.
  // ---------------------------------------------------------------------
  private[graft] val HIST_SAMPLE = 4096
  private[graft] val HIST_BINS = 8
  /** Keep-threshold for the hash sample, clamped to 2^60: h60 values
    * are < 2^60, so any threshold ≥ 2^60 keeps all rows — and without
    * the clamp, floor(2·HIST_SAMPLE·2^60 / n) overflows BIGINT for
    * n ≤ 1024 (Spark's non-ANSI cast saturates; DuckDB's CAST raises
    * out-of-range), breaking oracle parity on tiny lakes. */
  private[graft] def histThreshSql(nRowsCol: String): String =
    s"CAST(least(floor(${2.0 * HIST_SAMPLE} * 1152921504606846976.0" +
      s" / $nRowsCol), 1152921504606846976.0) AS BIGINT)"

  val x15HistogramStats = Q(
    "x15_histogram_stats",
    (s, d) => {
      import graft.functions.Portable
      import org.apache.spark.sql.expressions.Window
      val li = lineitem(s, d)
      // keep-threshold from the row count: only rows whose hash falls
      // in the smallest ~2×HIST_SAMPLE/n fraction of hash space reach
      // the rank filter, so the window (and every sort anywhere in the
      // plan) sees a few-thousand-row frame whatever the table size.
      // The first form ranked ALL rows and paid a full local sort per
      // task — 3.6× per 3× data at the r19 30× probe; this form is
      // scan + one md5 + a codegen'd filter, then planner-sized work.
      // 2·HIST_SAMPLE·2^60 is a power-of-two-scaled integer, exact in
      // a double on both engines; P(survivors < HIST_SAMPLE) is
      // Chernoff-negligible at the 2× oversample.
      val nr = li.agg(count(lit(1)).as("n_rows"))
      val key = concat_ws("|", col("l_orderkey"), col("l_linenumber"))
      val thresh = expr(histThreshSql("n_rows"))
      val survivors = li
        .select(col("l_quantity"), col("l_extendedprice"),
          Portable.h60(key, "x15|").as("h"))
        .crossJoin(broadcast(nr))
        .filter(col("h") < thresh)
      val stacked = survivors
        .select(col("h"), col("n_rows"), explode(array(
          struct(lit("l_quantity").as("col_name"),
            col("l_quantity").cast("double").as("val")),
          struct(lit("l_extendedprice").as("col_name"),
            col("l_extendedprice").cast("double").as("val")))).as("e"))
        .select(col("e.col_name"), col("e.val"), col("h"),
          col("n_rows"))
      val wS = Window.partitionBy(col("col_name"))
        .orderBy(col("h").asc, col("val").asc)
      val sample = stacked.withColumn("rn", row_number().over(wS))
        .filter(col("rn") <= HIST_SAMPLE)
      val wB = Window.partitionBy(col("col_name"))
        .orderBy(col("val").asc, col("h").asc)
      val bins = sample
        .withColumn("bin", ntile(HIST_BINS).over(wB).cast("long"))
        .groupBy(col("col_name"), col("bin"))
        .agg(count(lit(1)).as("n_sample"), min(col("val")).as("lo"),
          max(col("val")).as("hi"), first(col("n_rows")).as("n_rows"))
      val sampleTotals = sample.groupBy(col("col_name"))
        .agg(count(lit(1)).as("n_in_sample"))
      bins
        .join(broadcast(sampleTotals), Seq("col_name"))
        .select(col("col_name"), col("bin"), col("n_sample"),
          col("lo"), col("hi"),
          round(col("n_rows").cast("double") * col("n_sample") /
            col("n_in_sample"), 2).as("est_rows"))
    },
    Some {
      import graft.functions.Portable.h60Duck
      val key = "CAST(l_orderkey AS VARCHAR) || '|' || " +
        "CAST(l_linenumber AS VARCHAR)"
      s"""WITH nr AS (
        SELECT CAST(count(*) AS BIGINT) AS n_rows FROM lineitem),
      survivors AS (
        SELECT l_quantity, l_extendedprice,
          ${h60Duck(key, "x15|")} AS h, nr.n_rows
        FROM lineitem CROSS JOIN nr
        WHERE ${h60Duck(key, "x15|")} <
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
        SELECT col_name, val,
          CAST(ntile($HIST_BINS) OVER (PARTITION BY col_name
            ORDER BY val ASC, h ASC) AS BIGINT) AS bin
        FROM sample),
      bins AS (
        SELECT col_name, bin, CAST(count(*) AS BIGINT) AS n_sample,
          min(val) AS lo, max(val) AS hi
        FROM binned GROUP BY 1, 2),
      tot AS (
        SELECT col_name, CAST(count(*) AS BIGINT) AS n_in_sample
        FROM sample GROUP BY 1)
      SELECT b.col_name, b.bin, b.n_sample, b.lo, b.hi,
        round(CAST(nr.n_rows AS DOUBLE) * b.n_sample / t.n_in_sample, 2)
          AS est_rows
      FROM bins b JOIN tot t USING (col_name) CROSS JOIN nr"""
    })

  // ---------------------------------------------------------------------
  // X16: declarative data-quality constraint suite — the dbt-test /
  // Deequ half of the stats story (x14 describes the data, x15 its
  // distribution; THIS one asserts the contracts a lake consumer relies
  // on): primary-key uniqueness, referential integrity, non-null,
  // value-range, accepted-values, and no-future-timestamps, each
  // reported as (check, target, n_checked, n_violations, passed) so a
  // scheduler can gate a publish on `bool_and(passed)` — the k10 audit
  // discipline generalized from one batch to the whole lake.
  //
  // Shape at scale: every per-row predicate check rides ONE conditional
  // aggregate over its table's single scan (orders' three checks share
  // one scan; lineitem's range check shares the PK scan); the only wide
  // stages are the two a lake cannot avoid — the PK distinct (keyed on
  // the key being asserted, map-side partial) and the FK existence
  // probe (a key-only left join against the distinct parent keys; at
  // 100 TB both sides shuffle on the join key and the probe carries 8
  // bytes per row). Violation COUNTS, not just flags: the report tells
  // the operator how broken, and zero rows are never silently green
  // (n_checked is part of the contract).
  // ---------------------------------------------------------------------
  val x16DataQuality = Q(
    "x16_data_quality",
    (s, d) => {
      val li = lineitem(s, d)
      val o = orders(s, d)
      val ev = graft.Tables.events(s, d)
      // lineitem: PK uniqueness + quantity range off one scan-and-agg
      val liAgg = li.agg(
        count(lit(1)).as("n"),
        countDistinct(col("l_orderkey"), col("l_linenumber")).as("nd"),
        count(when(col("l_quantity") < 1 || col("l_quantity") > 50, 1))
          .as("v_range"))
      val liChecks = liAgg.select(explode(array(
        struct(lit("pk_unique").as("check_name"),
          lit("lineitem(l_orderkey,l_linenumber)").as("target"),
          col("n").as("n_checked"), (col("n") - col("nd"))
            .as("n_violations")),
        struct(lit("value_range").as("check_name"),
          lit("lineitem.l_quantity in [1,50]").as("target"),
          col("n").as("n_checked"), col("v_range").as("n_violations"))))
        .as("c")).select("c.*")
      // FK: every lineitem names an existing order (key-only probe)
      val fk = li.select(col("l_orderkey"))
        .join(o.select(col("o_orderkey")).distinct(),
          col("l_orderkey") === col("o_orderkey"), "left")
        .agg(count(lit(1)).as("n_checked"),
          count(when(col("o_orderkey").isNull, 1)).as("n_violations"))
        .select(lit("fk_exists").as("check_name"),
          lit("lineitem.l_orderkey -> orders").as("target"),
          col("n_checked"), col("n_violations"))
      // orders: three contracts off one scan
      val oAgg = o.agg(count(lit(1)).as("n"),
        count(when(col("o_orderdate").isNull, 1)).as("v_null"),
        count(when(col("o_totalprice") < 0, 1)).as("v_neg"),
        count(when(!col("o_orderstatus").isin("O", "F", "P"), 1))
          .as("v_dom"))
      val oChecks = oAgg.select(explode(array(
        struct(lit("not_null").as("check_name"),
          lit("orders.o_orderdate").as("target"),
          col("n").as("n_checked"), col("v_null").as("n_violations")),
        struct(lit("value_range").as("check_name"),
          lit("orders.o_totalprice >= 0").as("target"),
          col("n").as("n_checked"), col("v_neg").as("n_violations")),
        struct(lit("accepted_values").as("check_name"),
          lit("orders.o_orderstatus in (O,F,P)").as("target"),
          col("n").as("n_checked"), col("v_dom").as("n_violations"))))
        .as("c")).select("c.*")
      // events: no timestamps from the future (data-anchored bound, so
      // the check replays — never wall clock)
      val evCheck = ev.agg(count(lit(1)).as("n_checked"),
        count(when(col("ts") > lit("2030-01-01").cast("timestamp"), 1))
          .as("n_violations"))
        .select(lit("no_future_ts").as("check_name"),
          lit("events.ts < 2030-01-01").as("target"),
          col("n_checked"), col("n_violations"))
      liChecks.unionAll(fk).unionAll(oChecks).unionAll(evCheck)
        .withColumn("passed", col("n_violations") === 0)
    },
    Some(x16Sql(Dialect.DuckDB)))

  private[graft] def x16Sql(d: Dialect): String =
    s"""WITH li AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
          CAST(${d.countDistinct("l_orderkey", "l_linenumber")} AS BIGINT)
            AS nd,
          CAST(count(CASE WHEN l_quantity < 1 OR l_quantity > 50
            THEN 1 END) AS BIGINT) AS v_range
        FROM lineitem),
      fk AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
          CAST(count(CASE WHEN o.o_orderkey IS NULL THEN 1 END)
            AS BIGINT) AS v
        FROM lineitem l LEFT JOIN
          (SELECT DISTINCT o_orderkey FROM orders) o
          ON l.l_orderkey = o.o_orderkey),
      od AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
          CAST(count(CASE WHEN o_orderdate IS NULL THEN 1 END)
            AS BIGINT) AS v_null,
          CAST(count(CASE WHEN o_totalprice < 0 THEN 1 END) AS BIGINT)
            AS v_neg,
          CAST(count(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P')
            THEN 1 END) AS BIGINT) AS v_dom
        FROM orders),
      evc AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
          CAST(count(CASE WHEN CAST(ts AS TIMESTAMP) >
            TIMESTAMP '2030-01-01 00:00:00' THEN 1 END) AS BIGINT) AS v
        FROM events),
      checks AS (
        SELECT 'pk_unique' AS check_name,
          'lineitem(l_orderkey,l_linenumber)' AS target,
          n AS n_checked, n - nd AS n_violations FROM li
        UNION ALL
        SELECT 'value_range', 'lineitem.l_quantity in [1,50]', n,
          v_range FROM li
        UNION ALL
        SELECT 'fk_exists', 'lineitem.l_orderkey -> orders', n, v
        FROM fk
        UNION ALL
        SELECT 'not_null', 'orders.o_orderdate', n, v_null FROM od
        UNION ALL
        SELECT 'value_range', 'orders.o_totalprice >= 0', n, v_neg
        FROM od
        UNION ALL
        SELECT 'accepted_values', 'orders.o_orderstatus in (O,F,P)', n,
          v_dom FROM od
        UNION ALL
        SELECT 'no_future_ts', 'events.ts < 2030-01-01', n, v FROM evc)
      SELECT check_name, target, n_checked, n_violations,
        n_violations = 0 AS passed
      FROM checks"""

  // ---------------------------------------------------------------------
  // X17: incremental statistics maintenance — the lifecycle closure for
  // the stats family (x14 collects, x15 distributes, x16 asserts; THIS
  // one MAINTAINS): a nightly ANALYZE that rescans the standing table
  // is a full corpus pass at 100 TB, but HLL registers are MERGEABLE —
  // registers(A ∪ B) = per-cell max of A's and B's registers — so the
  // standing table's NDV artifact (256 register rows per column, the
  // d10/a15 maintained-artifact discipline applied to statistics)
  // absorbs an arriving batch by ONE register-level max against the
  // batch's own registers, touching standing history only through the
  // artifact. The report carries all three estimates per column
  // (standing, batch, merged) next to the exact additive row counts,
  // so the merge algebra is driver-visible: a disjoint-values batch
  // (l_partkey's shifted keys under replication) pushes merged toward
  // the sum, an overlapping one (l_returnflag's 3 flags) leaves it at
  // the standing estimate. Exact same register math as x14/a9 —
  // hllRegsByKey/hllFinalize factored from hllByKey so the three paths
  // cannot drift.
  // ---------------------------------------------------------------------
  val x17IncrementalStats = Q(
    "x17_incremental_stats",
    (s, d) => {
      import graft.functions.Portable
      import graft.operators.LlmOps
      val li = lineitem(s, d)
      def hashes(split: DataFrame): DataFrame = split
        .select(explode(array(
          struct(lit("l_returnflag").as("c"),
            Portable.h60(col("l_returnflag"), "x17|").as("h")),
          struct(lit("l_partkey").as("c"),
            Portable.h60(col("l_partkey").cast("string"), "x17|")
              .as("h")))).as("e"))
        .select(col("e.c"), col("e.h"))
      val standing = li.filter(col("l_orderkey") % 4 =!= 0)
      val batch = li.filter(col("l_orderkey") % 4 === 0)
      val regsS = LlmOps.hllRegsByKey(hashes(standing), "c")
      val regsB = LlmOps.hllRegsByKey(hashes(batch), "c")
      val regsM = regsS.unionAll(regsB)
        .groupBy(col("c"), col("idx")).agg(max(col("m_rho")).as("m_rho"))
      val est = LlmOps.hllFinalize(regsS, "c")
        .withColumnRenamed("n_hll", "ndv_standing")
        .join(LlmOps.hllFinalize(regsB, "c")
          .withColumnRenamed("n_hll", "ndv_batch"), Seq("c"))
        .join(LlmOps.hllFinalize(regsM, "c")
          .withColumnRenamed("n_hll", "ndv_merged"), Seq("c"))
      val counts = standing.agg(count(lit(1)).as("n_standing"))
        .crossJoin(batch.agg(count(lit(1)).as("n_batch")))
      est.crossJoin(broadcast(counts))
        .select(col("c").as("col_name"), col("n_standing"),
          col("n_batch"),
          (col("n_standing") + col("n_batch")).as("n_merged"),
          col("ndv_standing"), col("ndv_batch"), col("ndv_merged"))
    },
    Some {
      import graft.functions.Portable.h60Duck
      import graft.operators.LlmOps.{hllRegsDuck, hllFinalizeDuck}
      def src(cond: String) =
        s"""SELECT 'l_returnflag' AS c,
          ${h60Duck("l_returnflag", "x17|")} AS h
        FROM lineitem WHERE $cond
        UNION ALL
        SELECT 'l_partkey', ${h60Duck("CAST(l_partkey AS VARCHAR)",
          "x17|")}
        FROM lineitem WHERE $cond"""
      s"""WITH hsrcs AS (${src("l_orderkey % 4 <> 0")}),
      hsrcb AS (${src("l_orderkey % 4 = 0")}),
      ${hllRegsDuck("c", "s", "hsrcs")},
      ${hllFinalizeDuck("c", "s")},
      ${hllRegsDuck("c", "b", "hsrcb")},
      ${hllFinalizeDuck("c", "b")},
      mhreg AS (
        SELECT c, idx, max(m_rho) AS m_rho FROM (
          SELECT * FROM shreg UNION ALL SELECT * FROM bhreg) u
        GROUP BY 1, 2),
      ${hllFinalizeDuck("c", "m")},
      cnt AS (
        SELECT CAST(count(CASE WHEN l_orderkey % 4 <> 0 THEN 1 END)
            AS BIGINT) AS n_standing,
          CAST(count(CASE WHEN l_orderkey % 4 = 0 THEN 1 END)
            AS BIGINT) AS n_batch
        FROM lineitem)
      SELECT sf.c AS col_name, cnt.n_standing, cnt.n_batch,
        cnt.n_standing + cnt.n_batch AS n_merged,
        sf.n_hll AS ndv_standing, bf.n_hll AS ndv_batch,
        mf.n_hll AS ndv_merged
      FROM shfin sf
      JOIN bhfin bf USING (c)
      JOIN mhfin mf USING (c)
      CROSS JOIN cnt"""
    })

  // ---------------------------------------------------------------------
  // X18: incremental quantile maintenance — x17's discipline for the
  // DISTRIBUTION statistic: KMV bottom-K samples are mergeable
  // (bottom-K of a union = bottom-K of the merged bottom-Ks, t14's
  // property), so the standing table's per-stratum K-row sample is the
  // maintained artifact and absorbing a batch costs one re-rank over
  // 2K rows per stratum — never a standing rescan, never a global
  // sort. With x17 (HLL registers) and the streaming count-min cell
  // maintenance this completes the claim that every sketch the engine
  // ships is maintained incrementally: NDV by register max, frequency
  // by cell add, quantiles by sample re-rank. Report: per l_returnflag
  // stratum, exact split row counts next to p50/p90 off the standing,
  // batch, and merged samples (type-1 integer ranks, the t14 formula);
  // the spec proves the merged sample's estimates equal a from-scratch
  // bottom-K of ALL rows bit-for-bit.
  // ---------------------------------------------------------------------
  private val X18_K = 64

  val x18IncrementalQuantiles = Q(
    "x18_incremental_quantiles",
    (s, d) => {
      import graft.functions.Portable
      val li = lineitem(s, d).select(col("l_returnflag").as("flag"),
        col("l_orderkey").as("ok"), col("l_linenumber").as("ln"),
        col("l_extendedprice").as("v"),
        Portable.h60(concat_ws("|", col("l_orderkey"),
          col("l_linenumber")), "x18|").as("hk"))
      val standing = li.filter(col("ok") % 4 =!= 0)
      val batch = li.filter(col("ok") % 4 === 0)
      val wH = Window.partitionBy(col("flag"))
        .orderBy(col("hk").asc, col("v").asc, col("ok").asc,
          col("ln").asc)
      def sample(df: DataFrame): DataFrame =
        df.withColumn("rs", row_number().over(wH))
          .filter(col("rs") <= X18_K)
          .select("flag", "ok", "ln", "v", "hk")
      val ss = sample(standing)
      val sb = sample(batch)
      val sm = sample(ss.unionAll(sb)) // the K-row artifact, re-ranked
      def quant(df: DataFrame, tag: String): DataFrame = {
        val wV = Window.partitionBy(col("flag"))
          .orderBy(col("v").asc, col("hk").asc)
        val counts = df.groupBy(col("flag")).agg(count(lit(1)).as("n"))
        df.withColumn("rv", row_number().over(wV))
          .join(broadcast(counts), Seq("flag"))
          .groupBy(col("flag"))
          .agg(max(when(col("rv") === expr("(n + 1) div 2"), col("v")))
            .as(s"p50_$tag"),
            max(when(col("rv") === expr("(9 * n + 9) div 10"),
              col("v"))).as(s"p90_$tag"))
      }
      val nrows = standing.groupBy(col("flag"))
        .agg(count(lit(1)).as("n_standing"))
        .join(batch.groupBy(col("flag"))
          .agg(count(lit(1)).as("n_batch")), Seq("flag"))
      quant(ss, "standing").join(quant(sb, "batch"), Seq("flag"))
        .join(quant(sm, "merged"), Seq("flag"))
        .join(broadcast(nrows), Seq("flag"))
        .select(col("flag").as("l_returnflag"), col("n_standing"),
          col("n_batch"), col("p50_standing"), col("p90_standing"),
          col("p50_batch"), col("p90_batch"), col("p50_merged"),
          col("p90_merged"))
    },
    Some(x18Sql(Dialect.DuckDB)))

  private[graft] def x18Sql(d: Dialect): String = {
    val hk = d.h60(d.concatWs("|", "l_orderkey", "l_linenumber"), "x18|")
    def samp(name: String, src: String) = s"""$name AS (
        SELECT flag, ok, ln, v, hk FROM (
          SELECT *, row_number() OVER (PARTITION BY flag
            ORDER BY hk ASC, v ASC, ok ASC, ln ASC) AS rs
          FROM $src) t
        WHERE rs <= $X18_K)"""
    def quant(name: String, src: String, tag: String) = s"""$name AS (
        SELECT flag,
          max(CASE WHEN rv = (n + 1) ${d.div} 2 THEN v END) AS p50_$tag,
          max(CASE WHEN rv = (9 * n + 9) ${d.div} 10 THEN v END) AS p90_$tag
        FROM (
          SELECT flag, v,
            row_number() OVER (PARTITION BY flag
              ORDER BY v ASC, hk ASC) AS rv,
            count(*) OVER (PARTITION BY flag) AS n
          FROM $src) t
        GROUP BY 1)"""
    s"""WITH li AS (
        SELECT l_returnflag AS flag, l_orderkey AS ok,
          l_linenumber AS ln, l_extendedprice AS v, $hk AS hk
        FROM lineitem),
      standing AS (SELECT * FROM li WHERE ok % 4 <> 0),
      batch AS (SELECT * FROM li WHERE ok % 4 = 0),
      ${samp("ss", "standing")},
      ${samp("sb", "batch")},
      ${samp("sm",
        "(SELECT * FROM ss UNION ALL SELECT * FROM sb) u")},
      ${quant("qs", "ss", "standing")},
      ${quant("qb", "sb", "batch")},
      ${quant("qm", "sm", "merged")},
      nr AS (
        SELECT flag,
          CAST(count(CASE WHEN ok % 4 <> 0 THEN 1 END) AS BIGINT)
            AS n_standing,
          CAST(count(CASE WHEN ok % 4 = 0 THEN 1 END) AS BIGINT)
            AS n_batch
        FROM li GROUP BY 1)
      SELECT qs.flag AS l_returnflag, nr.n_standing, nr.n_batch,
        qs.p50_standing, qs.p90_standing, qb.p50_batch, qb.p90_batch,
        qm.p50_merged, qm.p90_merged
      FROM qs JOIN qb USING (flag) JOIN qm USING (flag)
      JOIN nr USING (flag)"""
  }

  // ---------------------------------------------------------------------
  // X19: join-size estimation by count-min inner product (AMS F2 /
  // Cormode-Muthukrishnan) — the remaining CBO feed next to x14's NDV,
  // x15's histograms and x17/x18's maintenance: a join reorderer needs
  // |A ⋈ B| BEFORE running the join, and at 100 TB it cannot afford the
  // per-key degree shuffle the exact answer costs. The classic sketch
  // answer: |A ⋈_k B| = Σ_k degA(k)·degB(k) is estimated by the inner
  // product of the two sides' count-min rows, min'd across the CM_D
  // seeded rows — each side folds to CM_D×CM_W integer cells in ONE
  // map-side-combinable pass (t12's exact sketch machinery, the same
  // "cm$i|" h60 seeds, so the streaming count-min cells are directly
  // reusable as one side), and the estimate is a CM_D×CM_W-row join,
  // corpus-size-independent. The self-join case (B = A) is the F2
  // second frequency moment — the skew statistic itself. Guarantees:
  // est ≥ exact always (hash collisions only ADD cross terms), so
  // `overcount` is the visible one-sided error, reported next to the
  // exact truth per the a11/d4b self-evaluation discipline (the exact
  // side is what this op exists to avoid at scale; it rides along here
  // as the report's ground truth).
  // Surfaces: the skewed l_suppkey self-join and the l_orderkey
  // lineitem⋈orders join (orders unique per key, so truth = |lineitem|
  // with a live FK — the estimator must get BOTH shapes right).
  // ---------------------------------------------------------------------
  /** One count-min row set for a key column `k`: (depth, bucket, cnt)
    * over the CM_D seeded h60 rows — x19's sketch side, shared with
    * its spec. */
  private[graft] def cmCells(keys: DataFrame): DataFrame = {
    import graft.functions.Portable
    import graft.operators.LlmOps.{CM_W, CM_D}
    keys.select(explode(array((0 until CM_D).map(i =>
        struct(lit(i).as("depth"),
          (Portable.h60(col("k").cast("string"), s"cm$i|") % CM_W)
            .as("bucket"))): _*)).as("db"))
      .groupBy(col("db.depth").as("depth"),
        col("db.bucket").as("bucket"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Count-min join-size estimate min_d Σ_b cntA·cntB for two key
    * frames (column `k` each). The inner join keeps only COLLIDING
    * (depth,bucket) cells, so a depth with zero collisions (true
    * ip=0) would silently drop out of the min — and with NO colliding
    * depth n_est would go NULL, violating est ≥ exact = 0 on
    * degenerate inputs (ADVICE r18). Left-join from the full depth
    * domain and coalesce each depth's ip to 0 so min always ranges
    * over exactly CM_D values. The per-cell product is widened to
    * DECIMAL(38,0) before summing: with CM_W=64 a per-cell count
    * ~N/64 makes cnt_a·cnt_b overflow int64 silently (non-ANSI)
    * around N≈10^11 keys — DECIMAL keeps the accumulation exact
    * wherever the emitted BIGINT estimate is representable at all
    * (oracle side mirrors with HUGEINT). */
  private[graft] def cmJoinEstimate(
      s: SparkSession, a: DataFrame, b: DataFrame): DataFrame = {
    import graft.operators.LlmOps.CM_D
    val ips = cmCells(a).as("ca")
      .join(cmCells(b).as("cb"), Seq("depth", "bucket"))
      .groupBy(col("depth"))
      .agg(sum(col("ca.cnt").cast("decimal(19,0)") *
        col("cb.cnt").cast("decimal(19,0)")).as("ip"))
    s.range(CM_D).select(col("id").cast("int").as("depth"))
      .join(ips, Seq("depth"), "left")
      .agg(min(coalesce(col("ip"), lit(0).cast("decimal(38,0)")))
        .cast("long").as("n_est"))
  }

  val x19JoinSizeSketch = Q(
    "x19_join_size_sketch",
    (s, d) => {
      def estimate(a: DataFrame, b: DataFrame): DataFrame =
        cmJoinEstimate(s, a, b)
      def exact(a: DataFrame, b: DataFrame): DataFrame =
        a.groupBy(col("k")).agg(count(lit(1)).as("da"))
          .join(b.groupBy(col("k")).agg(count(lit(1)).as("db")),
            Seq("k"))
          .agg(coalesce(sum(col("da") * col("db")), lit(0L))
            .as("n_exact"))
      val li = lineitem(s, d)
      val supp = li.select(col("l_suppkey").as("k"))
      val lio = li.select(col("l_orderkey").as("k"))
      val ok = orders(s, d).select(col("o_orderkey").as("k"))
      def report(name: String, a: DataFrame, b: DataFrame): DataFrame =
        exact(a, b).crossJoin(estimate(a, b))
          .select(lit(name).as("pair"), col("n_exact"), col("n_est"),
            (col("n_est") - col("n_exact")).as("overcount"))
      report("lineitem.l_suppkey self-join (F2)", supp, supp)
        .unionByName(
          report("lineitem JOIN orders ON orderkey", lio, ok))
    },
    Some {
      import graft.functions.Portable.h60Duck
      import graft.operators.LlmOps.{CM_W, CM_D}
      def cellsSql(src: String): String =
        (0 until CM_D).map(i =>
          s"SELECT $i AS depth, " +
            s"${h60Duck(s"CAST(k AS VARCHAR)", s"cm$i|")} % $CM_W " +
            s"AS bucket FROM $src")
          .mkString(" UNION ALL ")
      def arm(tag: String, aSrc: String, bSrc: String): String =
        s"""SELECT '$tag' AS pair,
          (SELECT CAST(coalesce(sum(da * db), 0) AS BIGINT) FROM (
             SELECT k, count(*) AS da FROM $aSrc GROUP BY k) xa
           JOIN (SELECT k, count(*) AS db FROM $bSrc GROUP BY k) xb
           USING (k)) AS n_exact,
          (SELECT CAST(min(coalesce(t.ip, 0)) AS BIGINT)
           FROM range(0, $CM_D) dd(depth)
           LEFT JOIN (
             SELECT ca.depth, sum(CAST(ca.cnt AS HUGEINT) * cb.cnt) AS ip
             FROM (SELECT depth, bucket, count(*) AS cnt
                   FROM (${cellsSql(aSrc)}) GROUP BY 1, 2) ca
             JOIN (SELECT depth, bucket, count(*) AS cnt
                   FROM (${cellsSql(bSrc)}) GROUP BY 1, 2) cb
             ON ca.depth = cb.depth AND ca.bucket = cb.bucket
             GROUP BY ca.depth) t ON dd.depth = t.depth) AS n_est"""
      s"""WITH supp AS (SELECT l_suppkey AS k FROM lineitem),
      lio AS (SELECT l_orderkey AS k FROM lineitem),
      ok AS (SELECT o_orderkey AS k FROM orders),
      arms AS (
        ${arm("lineitem.l_suppkey self-join (F2)", "supp", "supp")}
        UNION ALL
        ${arm("lineitem JOIN orders ON orderkey", "lio", "ok")})
      SELECT pair, n_exact, n_est, n_est - n_exact AS overcount
      FROM arms"""
    })

  // ---------------------------------------------------------------------
  // X20: runtime Bloom-pruned join — the shuffle-reduction move a 100 TB
  // fact⋈selective-dim join lives or dies by (Spark ships it as
  // spark.sql.optimizer.runtime.bloomFilter; ours is the ENGINE-VISIBLE
  // form with portable h60 hashing so the pruning decision itself is
  // oracle-checkable): the dim side's join keys fold into a fixed
  // BLOOM_M-bit / BLOOM_K-hash filter (d9's machinery, broadcast-sized
  // whatever the dim count), DISTINCT fact keys probe it map-side, and
  // only passing keys' rows enter the join shuffle. Bloom guarantees no
  // false negatives — the report proves it by computing the join
  // cardinality and revenue THROUGH the pruned path while the oracle
  // restates them from the unpruned truth — and the false-positive
  // overhead (keys that passed but don't match) stays a visible column,
  // the d13/a11 self-evaluation rule. At 100 TB: the filter is ~2 KB
  // broadcast, the probe is a per-key projection + one ≤16384-row
  // broadcast join, and the rows that skip the shuffle are the win.
  // ---------------------------------------------------------------------
  val x20BloomJoinPrune = Q(
    "x20_bloom_join_prune",
    (s, d) => {
      import graft.functions.Portable
      import graft.operators.LlmOps.{BLOOM_M, BLOOM_K}
      val dim = orders(s, d).filter(col("o_orderstatus") === "P")
        .select(col("o_orderkey").as("k"))
      def positions(df: DataFrame): DataFrame =
        df.select(col("k"), explode(array((0 until BLOOM_K).map(j =>
          (Portable.h60(col("k").cast("string"), s"xj$j|") % BLOOM_M)
            .cast("int")): _*)).as("pos"))
      val bits = positions(dim).select("pos").distinct()
      val fKeys = lineitem(s, d).select(col("l_orderkey").as("k"))
        .distinct()
      val pass = positions(fKeys).join(broadcast(bits), Seq("pos"))
        .groupBy(col("k")).agg(count(lit(1)).as("ks"))
        .filter(col("ks") === BLOOM_K).select("k")
      val joined = lineitem(s, d)
        .join(pass.withColumnRenamed("k", "l_orderkey"),
          Seq("l_orderkey")) // the bloom-pruned fact slice
        .join(dim.withColumnRenamed("k", "l_orderkey"),
          Seq("l_orderkey")) // confirm: false positives drop here
      def one(df: DataFrame, c: Column, n: String): DataFrame =
        df.agg(coalesce(c, lit(0L)).as(n))
      one(fKeys, count(lit(1)), "n_fact_keys")
        .crossJoin(one(pass, count(lit(1)), "n_bloom_pass"))
        .crossJoin(one(fKeys.join(dim, Seq("k"), "left_semi"),
          count(lit(1)), "n_true_match"))
        .crossJoin(joined.agg(
          count(lit(1)).as("n_join_rows"),
          sum(col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double").as("revenue")))
        .select(col("n_fact_keys"), col("n_bloom_pass"),
          col("n_true_match"),
          (col("n_bloom_pass") - col("n_true_match")).as("n_false_pos"),
          col("n_join_rows"), col("revenue"))
    },
    Some {
      import graft.functions.Portable.h60Duck
      import graft.operators.LlmOps.{BLOOM_M, BLOOM_K}
      def posUnion(src: String): String =
        (0 until BLOOM_K).map(j =>
          s"SELECT k, ${h60Duck("CAST(k AS VARCHAR)", s"xj$j|")} % $BLOOM_M AS pos FROM $src")
          .mkString(" UNION ALL ")
      s"""WITH dim AS (
        SELECT o_orderkey AS k FROM orders WHERE o_orderstatus = 'P'),
      fkeys AS (SELECT DISTINCT l_orderkey AS k FROM lineitem),
      bits AS (SELECT DISTINCT pos FROM (${posUnion("dim")})),
      pass AS (
        SELECT f.k FROM (${posUnion("fkeys")}) f
        JOIN bits b ON b.pos = f.pos
        GROUP BY f.k HAVING count(*) = $BLOOM_K),
      joined AS (
        SELECT l.l_extendedprice FROM lineitem l
        JOIN pass p ON p.k = l.l_orderkey
        JOIN dim d2 ON d2.k = l.l_orderkey)
      SELECT
        (SELECT CAST(count(*) AS BIGINT) FROM fkeys) AS n_fact_keys,
        (SELECT CAST(count(*) AS BIGINT) FROM pass) AS n_bloom_pass,
        (SELECT CAST(count(*) AS BIGINT) FROM fkeys
         WHERE k IN (SELECT k FROM dim)) AS n_true_match,
        (SELECT CAST(count(*) AS BIGINT) FROM pass) -
        (SELECT CAST(count(*) AS BIGINT) FROM fkeys
         WHERE k IN (SELECT k FROM dim)) AS n_false_pos,
        (SELECT CAST(count(*) AS BIGINT) FROM joined) AS n_join_rows,
        (SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
          AS DOUBLE) FROM joined) AS revenue"""
    })

  // ---------------------------------------------------------------------
  // X21: KMV/theta-sketch SET OPERATIONS — distinct-count algebra over
  // mergeable bottom-K sketches, the planning statistic behind "how
  // many NEW documents does this crawl add" / "how much does dedup
  // against last month's corpus save" at 100 TB, where the exact
  // answer is a distinct shuffle of both full sets: |A|, |B|, |A∪B|,
  // |A∩B|, |A\B| all estimated from two K=64-row sketches. Union =
  // bottom-K of the merged samples (bottomK(A∪B) ⊆ bottomK(A) ∪
  // bottomK(B), the KMV merge theorem x18 already relies on);
  // intersection = the theta-sketch rule: θ = min of the two effective
  // thresholds, count common hashes below θ, scale by H/θ. All
  // estimates are INTEGER arithmetic end to end — (K-1)·2^60 div v_K
  // in DECIMAL(38,0)/HUGEINT (the cross-engine convention; no float
  // division near a comparison anywhere) — and a sketch smaller than K
  // IS its set (est = sample size, θ = the whole hash space), so tiny
  // strata degrade to exact, never to a division by a non-existent
  // K-th value. Exact truths ride along per the a11/x19
  // self-evaluation discipline. Global bottom-K never global-sorts:
  // rank within 32 hash-salt partitions first (WindowGroupLimit, ≤ K
  // rows survive per salt), then rank the ≤ 32K survivors.
  // Sets: customers ordering in 1996 vs in 2000 — real partial
  // overlap (~78% of A) at every sf.
  // ---------------------------------------------------------------------
  private[graft] val X21_K = 64
  private[graft] val X21_H = 1152921504606846976L // 2^60: h60's range

  val x21SketchSetops = Q(
    "x21_sketch_setops",
    (s, d) => {
      import graft.functions.Portable
      import org.apache.spark.sql.expressions.Window
      val K = X21_K
      def keys(year: Int): DataFrame =
        orders(s, d).filter(expr(s"year(o_orderdate) = $year"))
          .select(col("o_custkey").cast("string").as("k")).distinct()
      def hashes(df: DataFrame): DataFrame =
        df.select(Portable.h60(col("k"), "x21|").as("h")).distinct()
      def bottomK(hs: DataFrame): DataFrame =
        hs.withColumn("salt", (col("h") % 32).cast("int"))
          .withColumn("r1", row_number().over(
            Window.partitionBy(col("salt")).orderBy(col("h").asc)))
          .filter(col("r1") <= K)
          .withColumn("r2", row_number().over(
            Window.orderBy(col("h").asc)))
          .filter(col("r2") <= K)
          .select("h")
      val (ha, hb) = (hashes(keys(1996)), hashes(keys(2000)))
      val (ska, skb) = (bottomK(ha), bottomK(hb))
      def stats(sk: DataFrame, p: String): DataFrame =
        sk.agg(count(lit(1)).as(s"n_$p"), max(col("h")).as(s"vk_$p"))
      def estCol(n: String, vk: String): Column =
        when(col(n) < K, col(n)).otherwise(
          expr(s"CAST(${K - 1} AS DECIMAL(38,0)) * ${X21_H}L div $vk"))
      val thetaCol: Column =
        least(
          when(col("n_a") < K, lit(X21_H)).otherwise(col("vk_a")),
          when(col("n_b") < K, lit(X21_H)).otherwise(col("vk_b")))
      val common = ska.join(skb, Seq("h"))
      val sku = bottomK(ska.unionByName(skb).distinct())
      stats(ska, "a").crossJoin(stats(skb, "b"))
        .crossJoin(stats(sku, "u"))
        .withColumn("theta", thetaCol)
        .crossJoin(common.agg(collect_list(col("h")).as("hs")))
        .withColumn("c", expr("size(filter(hs, x -> x < theta))").cast("long"))
        .crossJoin(hashes(keys(1996)).agg(count(lit(1)).as("x_a")))
        .crossJoin(hashes(keys(2000)).agg(count(lit(1)).as("x_b")))
        .crossJoin(hashes(keys(1996)).unionByName(hashes(keys(2000)))
          .distinct().agg(count(lit(1)).as("x_u")))
        .select(
          col("x_a").as("n_a_exact"), estCol("n_a", "vk_a").as("n_a_est"),
          col("x_b").as("n_b_exact"), estCol("n_b", "vk_b").as("n_b_est"),
          col("x_u").as("n_union_exact"),
          estCol("n_u", "vk_u").as("n_union_est"),
          (col("x_a") + col("x_b") - col("x_u")).as("n_intersect_exact"),
          expr(s"CAST(c AS DECIMAL(38,0)) * ${X21_H}L div theta")
            .as("n_intersect_est"))
        .withColumn("n_a_only_exact",
          col("n_a_exact") - col("n_intersect_exact"))
        .withColumn("n_a_only_est",
          greatest(col("n_a_est") - col("n_intersect_est"), lit(0L)))
    },
    Some {
      import graft.functions.Portable.h60Duck
      val K = X21_K
      val H = X21_H
      def keys(year: Int) =
        s"""SELECT DISTINCT CAST(o_custkey AS VARCHAR) AS k
          FROM orders WHERE year(o_orderdate) = $year"""
      def hs(src: String) =
        s"SELECT DISTINCT ${h60Duck("k", "x21|")} AS h FROM ($src)"
      s"""WITH ha AS (${hs(keys(1996))}), hb AS (${hs(keys(2000))}),
      ska AS (SELECT h FROM ha ORDER BY h LIMIT $K),
      skb AS (SELECT h FROM hb ORDER BY h LIMIT $K),
      sku AS (SELECT h FROM (SELECT h FROM ska UNION SELECT h FROM skb)
              ORDER BY h LIMIT $K),
      sa AS (SELECT count(*) AS n_a, max(h) AS vk_a FROM ska),
      sb AS (SELECT count(*) AS n_b, max(h) AS vk_b FROM skb),
      su AS (SELECT count(*) AS n_u, max(h) AS vk_u FROM sku),
      th AS (SELECT least(
          CASE WHEN n_a < $K THEN $H ELSE vk_a END,
          CASE WHEN n_b < $K THEN $H ELSE vk_b END) AS theta
        FROM sa, sb),
      cm AS (SELECT count(*) AS c FROM
        (SELECT h FROM ska INTERSECT SELECT h FROM skb) x, th
        WHERE x.h < th.theta),
      xa AS (SELECT count(*) AS x_a FROM ha),
      xb AS (SELECT count(*) AS x_b FROM hb),
      xu AS (SELECT count(*) AS x_u FROM
        (SELECT h FROM ha UNION SELECT h FROM hb)),
      est AS (SELECT
        CAST(x_a AS BIGINT) AS n_a_exact,
        CAST(CASE WHEN n_a < $K THEN n_a
          ELSE CAST(${K - 1} AS HUGEINT) * $H // vk_a END AS BIGINT)
          AS n_a_est,
        CAST(x_b AS BIGINT) AS n_b_exact,
        CAST(CASE WHEN n_b < $K THEN n_b
          ELSE CAST(${K - 1} AS HUGEINT) * $H // vk_b END AS BIGINT)
          AS n_b_est,
        CAST(x_u AS BIGINT) AS n_union_exact,
        CAST(CASE WHEN n_u < $K THEN n_u
          ELSE CAST(${K - 1} AS HUGEINT) * $H // vk_u END AS BIGINT)
          AS n_union_est,
        CAST(x_a + x_b - x_u AS BIGINT) AS n_intersect_exact,
        CAST(CAST(c AS HUGEINT) * $H // theta AS BIGINT)
          AS n_intersect_est
        FROM sa, sb, su, th, cm, xa, xb, xu)
      SELECT *,
        n_a_exact - n_intersect_exact AS n_a_only_exact,
        greatest(n_a_est - n_intersect_est, 0) AS n_a_only_est
      FROM est"""
    })

  def all: Seq[Q] = Seq(
    x1AsofJoin, x2Rollup, x3SaltedAgg, x4IntersectExcept, x5BucketedJoin,
    x6IntervalJoin, x7Unpivot, x8Pivot, x9Scd2, x10Cube, x11Zorder,
    x12WindowBattery, x13GroupingSets, x14TableStats, x15HistogramStats,
    x16DataQuality, x17IncrementalStats, x18IncrementalQuantiles,
    x19JoinSizeSketch, x20BloomJoinPrune, x21SketchSetops)
}
