package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._
import graft.{GQuery, Tables => T}

/** Core relational operator surface (SURVEY.md §2.1-§2.6) expressed over
  * the driver testdata tables, each with a DuckDB oracle.
  *
  * Determinism rules used throughout (the driver hash-compares values):
  *  - money/value sums go through DECIMAL so partial-aggregation order
  *    cannot perturb the result (double sums are order-dependent);
  *  - averages are computed as double(sum_decimal)/double(count) and
  *    rounded, so both engines perform the identical IEEE division;
  *  - every query has a total ORDER BY;
  *  - timestamps are µs-precision on both engines (parquet
  *    TIMESTAMP(MICROS)), so emitted timestamp columns compare exactly.
  */
object Core {

  private def dec(c: Column, scale: Int): Column =
    c.cast(DecimalType(38, scale))

  /** sum(x) via decimal, emitted as double — deterministic under any
    * aggregation order. */
  private def dsum(c: Column, scale: Int): Column =
    sum(dec(c, scale)).cast("double")

  // ---------------------------------------------------------------- A1/A2/C6
  /** TPC-H Q1-shaped pricing summary: grouped running counters + derived
    * ratio metrics (reference A1 `metricsCounterCalc` master.py:140-175 and
    * A2 `getFinalMetrics` master.py:177-212 are this same shape: per-key
    * sums then guarded ratios). */
  val q1_agg = GQuery(
    "q1_agg",
    (s, d) => {
      import s.implicits._
      T.lineitem(s, d)
        .filter($"l_shipdate" <= lit("1998-09-02").cast("timestamp"))
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(
          dsum($"l_quantity", 2).as("sum_qty"),
          dsum($"l_extendedprice", 2).as("sum_base_price"),
          dsum($"l_extendedprice" * (lit(1.0) - $"l_discount"), 4)
            .as("sum_disc_price"),
          dsum($"l_extendedprice" * (lit(1.0) - $"l_discount") *
            (lit(1.0) + $"l_tax"), 6).as("sum_charge"),
          count(lit(1)).as("count_order"))
        .orderBy($"l_returnflag", $"l_linestatus")
    },
    Some("""
      SELECT l_returnflag, l_linestatus,
             CAST(SUM(CAST(l_quantity AS DECIMAL(38,2))) AS DOUBLE) AS sum_qty,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,2))) AS DOUBLE) AS sum_base_price,
             CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,4))) AS DOUBLE) AS sum_disc_price,
             CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS DECIMAL(38,6))) AS DOUBLE) AS sum_charge,
             COUNT(*) AS count_order
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '1998-09-02'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus"""))

  // ------------------------------------------------------------------ S2/F4
  /** Scan + predicate + projection; filters and the 3-column ReadSchema
    * push down into the parquet scan (reference F1/F2 record filters,
    * master.py:32-46). */
  val f1_filter_project = GQuery(
    "f1_filter_project",
    (s, d) => {
      import s.implicits._
      T.lineitem(s, d)
        .filter($"l_shipdate" >= lit("1996-01-01").cast("timestamp") &&
          $"l_shipdate" < lit("1997-01-01").cast("timestamp") &&
          $"l_quantity" > 45.0)
        .select($"l_orderkey", $"l_linenumber", $"l_quantity")
        .orderBy($"l_orderkey", $"l_linenumber")
    },
    Some("""
      SELECT l_orderkey, l_linenumber, l_quantity
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1997-01-01'
        AND l_quantity > 45.0
      ORDER BY l_orderkey, l_linenumber"""))

  // -------------------------------------------------------------------- F3
  /** Equality point lookup (reference `players_df.filter(name==x).first()`
    * ui.py:41-42) — the predicate reaches the scan as a PushedFilter. */
  val f3_point_lookup = GQuery(
    "f3_point_lookup",
    (s, d) => {
      import s.implicits._
      T.customer(s, d)
        .filter($"c_name" === "Customer#000000042")
        .select($"c_custkey", $"c_name", $"c_nationkey", $"c_acctbal",
          $"c_mktsegment")
    },
    Some("""
      SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
      FROM customer WHERE c_name = 'Customer#000000042'"""))

  // -------------------------------------------------------------------- F5
  /** Top-k with deterministic tie-break (reference F5 `first()`/head,
    * ui.py:41,80). TakeOrderedAndProject — no global sort at scale. */
  val f5_topk = GQuery(
    "f5_topk",
    (s, d) => {
      import s.implicits._
      T.orders(s, d)
        .orderBy($"o_totalprice".desc, $"o_orderkey")
        .select($"o_orderkey", $"o_custkey", $"o_totalprice")
        .limit(10)
    },
    Some("""
      SELECT o_orderkey, o_custkey, o_totalprice
      FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10"""))

  // -------------------------------------------------------------------- G1
  /** Array flatten via posexplode (reference G1-G3 lineup/bench explodes,
    * master.py:261-310): embedding vector → (row, ordinal, value). */
  val g1_explode = GQuery(
    "g1_explode",
    (s, d) => {
      import s.implicits._
      T.embeddings(s, d)
        .filter($"vec_id" < 50)
        .select($"vec_id", posexplode($"embedding"))
        .toDF("vec_id", "idx", "val")
        .orderBy($"vec_id", $"idx")
    },
    Some("""
      SELECT vec_id, CAST(t.idx AS INT) AS idx,
             embedding[CAST(t.idx AS INT) + 1] AS val
      FROM embeddings CROSS JOIN (SELECT range AS idx FROM range(64)) t
      WHERE vec_id < 50
      ORDER BY vec_id, idx"""))

  // -------------------------------------------------------------------- J1
  /** Fact ⋈ small dim with explicit broadcast (reference J1 metrics⋈teamId
    * master.py:364 — dims are tiny, broadcast avoids shuffling the fact
    * side entirely; at 100 TB this is the difference between a map-side
    * join and a full shuffle of the fact table). */
  val j1_join_broadcast = GQuery(
    "j1_join_broadcast",
    (s, d) => {
      import s.implicits._
      T.lineitem(s, d)
        .join(broadcast(T.part(s, d)), $"l_partkey" === $"p_partkey")
        .groupBy($"p_brand")
        .agg(
          dsum($"l_extendedprice" * (lit(1.0) - $"l_discount"), 4)
            .as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy($"p_brand")
    },
    Some("""
      SELECT p_brand,
             CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,4))) AS DOUBLE) AS revenue,
             COUNT(*) AS n_items
      FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY p_brand ORDER BY p_brand"""))

  // -------------------------------------------------------------------- J2
  /** Multi-way join (TPC-H Q5 shape; reference J2/J3 chained keyed joins
    * master.py:367-372). Dims broadcast; the single shuffle is the
    * orders⋈lineitem key exchange. */
  val j2_multi_join = GQuery(
    "j2_multi_join",
    (s, d) => {
      import s.implicits._
      val li = T.lineitem(s, d)
      val o = T.orders(s, d)
      val c = broadcast(T.customer(s, d))
      val n = broadcast(T.nation(s, d))
      val r = broadcast(T.region(s, d))
      // dims-first order: orders shrinks through the broadcast joins and
      // the ASIA filter BEFORE meeting the big fact table, so AQE can
      // turn the lineitem join into a broadcast at runtime instead of
      // shuffling all of lineitem against unfiltered orders
      val oAsia = o
        .join(c, $"o_custkey" === $"c_custkey")
        .join(n, $"c_nationkey" === $"n_nationkey")
        .join(r, $"n_regionkey" === $"r_regionkey")
        .filter($"r_name" === "ASIA")
        .select($"o_orderkey", $"n_name")
      li.join(oAsia, $"l_orderkey" === $"o_orderkey")
        .groupBy($"n_name")
        .agg(dsum($"l_extendedprice" * (lit(1.0) - $"l_discount"), 4)
          .as("revenue"))
        .orderBy($"n_name")
    },
    Some("""
      SELECT n_name,
             CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,4))) AS DOUBLE) AS revenue
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation   ON c_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
      WHERE r_name = 'ASIA'
      GROUP BY n_name ORDER BY n_name"""))

  // -------------------------------------------------------------------- J4
  /** Theta self-join — all unordered pairs within a group (reference J4
    * chemistry cartesian metrics.py:26-49). Pair key ordered
    * (least, greatest) exactly as chemistry's unordered-pair identity. */
  val j4_theta_selfjoin = GQuery(
    "j4_theta_selfjoin",
    (s, d) => {
      import s.implicits._
      val a = T.supplier(s, d).select($"s_suppkey".as("k1"),
        $"s_nationkey".as("nat1"), $"s_acctbal".as("b1"))
      val b = T.supplier(s, d).select($"s_suppkey".as("k2"),
        $"s_nationkey".as("nat2"), $"s_acctbal".as("b2"))
      a.join(b, $"nat1" % 5 === $"nat2" % 5 && $"k1" < $"k2")
        .select($"k1", $"k2",
          round(abs($"b1" - $"b2"), 2).as("bal_gap"))
        .orderBy($"k1", $"k2")
    },
    Some("""
      SELECT a.s_suppkey AS k1, b.s_suppkey AS k2,
             ROUND(ABS(a.s_acctbal - b.s_acctbal), 2) AS bal_gap
      FROM supplier a JOIN supplier b
        ON a.s_nationkey % 5 = b.s_nationkey % 5
       AND a.s_suppkey < b.s_suppkey
      ORDER BY k1, k2"""))

  // -------------------------------------------------------------------- J5
  /** Left-semi join (EXISTS) — reference J5 point-lookup joins become
    * broadcast semi-joins. */
  val j5_semi_join = GQuery(
    "j5_semi_join",
    (s, d) => {
      import s.implicits._
      T.customer(s, d)
        .join(T.orders(s, d), $"c_custkey" === $"o_custkey", "left_semi")
        .groupBy($"c_mktsegment")
        .agg(count(lit(1)).as("n_customers"))
        .orderBy($"c_mktsegment")
    },
    Some("""
      SELECT c_mktsegment, COUNT(*) AS n_customers
      FROM customer c
      WHERE EXISTS (SELECT 1 FROM orders o WHERE c.c_custkey = o.o_custkey)
      GROUP BY c_mktsegment ORDER BY c_mktsegment"""))

  /** Left-anti join (NOT EXISTS): customers that never placed an URGENT
    * order. */
  val j5_anti_join = GQuery(
    "j5_anti_join",
    (s, d) => {
      import s.implicits._
      val urgent = T.orders(s, d)
        .filter($"o_orderpriority" === "1-URGENT")
      T.customer(s, d)
        .join(urgent, $"c_custkey" === $"o_custkey", "left_anti")
        .groupBy($"c_nationkey")
        .agg(count(lit(1)).as("n_customers"))
        .orderBy($"c_nationkey")
    },
    Some("""
      SELECT c_nationkey, COUNT(*) AS n_customers
      FROM customer c
      WHERE NOT EXISTS (SELECT 1 FROM orders o
                        WHERE c.c_custkey = o.o_custkey
                          AND o.o_orderpriority = '1-URGENT')
      GROUP BY c_nationkey ORDER BY c_nationkey"""))

  // -------------------------------------------------------------------- A2
  /** Guarded ratio metrics, division-by-zero ⇒ 0 (reference A2
    * `getFinalMetrics` master.py:177-212: pass accuracy, duel/shot
    * effectiveness — same when(den===0,0) algebra over event counters). */
  val a2_ratios = GQuery(
    "a2_ratios",
    (s, d) => {
      import s.implicits._
      val e = T.events(s, d)
      val agg = e.groupBy($"user_id").agg(
        count(lit(1)).as("n_total"),
        sum(when($"event_type" === "purchase", 1L).otherwise(0L))
          .as("n_purchase"),
        sum(when($"event_type" === "click", 1L).otherwise(0L)).as("n_click"),
        sum(when($"event_type" === "purchase", dec($"value", 2))
          .otherwise(dec(lit(0.0), 2))).cast("double").as("purchase_value"))
      agg.select(
          $"user_id", $"n_total", $"n_purchase", $"n_click",
          round($"n_purchase".cast("double") / $"n_total".cast("double"), 6)
            .as("purchase_rate"),
          when($"n_click" === 0, 0.0)
            .otherwise(round($"purchase_value" / $"n_click".cast("double"), 6))
            .as("value_per_click"))
        .orderBy($"user_id")
    },
    Some("""
      WITH agg AS (
        SELECT user_id,
               COUNT(*) AS n_total,
               SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS n_purchase,
               SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS n_click,
               CAST(SUM(CASE WHEN event_type = 'purchase'
                             THEN CAST(value AS DECIMAL(38,2))
                             ELSE CAST(0.0 AS DECIMAL(38,2)) END) AS DOUBLE) AS purchase_value
        FROM events GROUP BY user_id)
      SELECT user_id,
             CAST(n_total AS BIGINT) AS n_total,
             CAST(n_purchase AS BIGINT) AS n_purchase,
             CAST(n_click AS BIGINT) AS n_click,
             ROUND(CAST(n_purchase AS DOUBLE) / CAST(n_total AS DOUBLE), 6) AS purchase_rate,
             CASE WHEN n_click = 0 THEN 0.0
                  ELSE ROUND(purchase_value / CAST(n_click AS DOUBLE), 6) END AS value_per_click
      FROM agg ORDER BY user_id"""))

  // -------------------------------------------------------------------- A6
  /** Last value per key (reference A6 final-rating snapshot,
    * metrics.py:53-63) via ranked window, deterministic tie-break. */
  val a6_last_value = GQuery(
    "a6_last_value",
    (s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id")
        .orderBy($"ts".desc, $"event_id".desc)
      T.events(s, d)
        .withColumn("rn", row_number().over(w))
        .filter($"rn" === 1)
        .select($"user_id", $"event_id", $"event_type", $"value")
        .orderBy($"user_id")
    },
    Some("""
      SELECT user_id, event_id, event_type, value FROM (
        SELECT *, ROW_NUMBER() OVER
          (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events) WHERE rn = 1 ORDER BY user_id"""))

  // ----------------------------------------------------------------- A3/W
  /** Running cumulative sum per key (ordered window; DECIMAL so the
    * running value is exact under both engines' frame evaluation). */
  val w1_running_sum = GQuery(
    "w1_running_sum",
    (s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id")
        .orderBy($"ts", $"event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      T.events(s, d)
        .withColumn("running_value",
          sum(dec($"value", 2)).over(w).cast("double"))
        .select($"user_id", $"event_id", $"running_value")
        .orderBy($"user_id", $"event_id")
    },
    Some("""
      SELECT user_id, event_id,
             CAST(SUM(CAST(value AS DECIMAL(38,2))) OVER
               (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
               AS running_value
      FROM events ORDER BY user_id, event_id"""))

  // -------------------------------------------------------------------- A3
  /** Order-dependent "average of averages" fold (reference A3 player
    * profile master.py:242-259: p' = (x + p)/2 per match, NOT a plain
    * avg). r_n = (x_n + r_{n-1})/2, r_1 = x_1. Closed form
    * r_n = x_1·2^-(n-1) + Σ_{i≥2} x_i·2^-(n-i+1); powers of two are
    * exact in IEEE754, so only the final summation order differs →
    * rounded to 6. FplProperties checks the closed form against the
    * sequential fold the stream kernel (FplStream.closeMatch) runs. */
  val a3_fold_avg_of_avgs = GQuery(
    "a3_fold_avg_of_avgs",
    (s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      val wAll = Window.partitionBy($"user_id")
      T.events(s, d)
        .withColumn("rn", row_number().over(w))
        .withColumn("cnt", count(lit(1)).over(wAll))
        .withColumn("term", $"value" *
          when($"rn" === 1, pow(lit(0.5), $"cnt" - 1))
            .otherwise(pow(lit(0.5), $"cnt" - $"rn" + 1)))
        .groupBy($"user_id")
        .agg(round(sum($"term"), 6).as("folded_avg"))
        .orderBy($"user_id")
    },
    Some("""
      WITH ordered AS (
        SELECT user_id, value,
               ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
               COUNT(*) OVER (PARTITION BY user_id) AS cnt
        FROM events)
      SELECT user_id,
             ROUND(SUM(value * CASE WHEN rn = 1 THEN POW(0.5, cnt - 1)
                                    ELSE POW(0.5, cnt - rn + 1) END), 6)
               AS folded_avg
      FROM ordered GROUP BY user_id ORDER BY user_id"""))

  // -------------------------------------------------------------------- A4
  /** Order-dependent EWMA-style rating fold (reference A4
    * `updatePlayerRating` master.py:214-239: r' = (c + r)/2 chained,
    * r_0 = 0.5). Closed form r_n = 0.5^n·r_0 + Σ c_i·0.5^(n-i+1). */
  val a4_fold_ewma = GQuery(
    "a4_fold_ewma",
    (s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      val wAll = Window.partitionBy($"user_id")
      T.events(s, d)
        .withColumn("rn", row_number().over(w))
        .withColumn("cnt", count(lit(1)).over(wAll))
        .withColumn("term", $"value" * pow(lit(0.5), $"cnt" - $"rn" + 1))
        .groupBy($"user_id")
        .agg(round(
          sum($"term") + lit(0.5) * pow(lit(0.5), max($"cnt")), 6)
          .as("rating"))
        .orderBy($"user_id")
    },
    Some("""
      WITH ordered AS (
        SELECT user_id, value,
               ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
               COUNT(*) OVER (PARTITION BY user_id) AS cnt
        FROM events)
      SELECT user_id,
             ROUND(SUM(value * POW(0.5, cnt - rn + 1))
                   + 0.5 * POW(0.5, MAX(cnt)), 6) AS rating
      FROM ordered GROUP BY user_id ORDER BY user_id"""))

  // -------------------------------------------------------------------- C1
  /** JSON ingestion: schema-ful from_json at ingest (reference C1
    * json.loads per record master.py:37-138 — done once, columnar,
    * instead of per-lambda). */
  val c1_json_extract = GQuery(
    "c1_json_extract",
    (s, d) => {
      import s.implicits._
      T.events(s, d)
        .withColumn("k", from_json($"props", StructType(
          Seq(StructField("k", LongType)))).getField("k"))
        .groupBy($"event_type")
        .agg(
          sum($"k").as("sum_k"),
          count($"k").as("n"),
          round(sum($"k").cast("double") / count($"k").cast("double"), 6)
            .as("avg_k"))
        .orderBy($"event_type")
    },
    Some("""
      SELECT event_type,
             CAST(SUM(k) AS BIGINT) AS sum_k, COUNT(k) AS n,
             ROUND(CAST(SUM(k) AS DOUBLE) / CAST(COUNT(k) AS DOUBLE), 6) AS avg_k
      FROM (SELECT event_type,
                   CAST(regexp_extract(props, '[0-9]+', 0) AS BIGINT) AS k
            FROM events)
      GROUP BY event_type ORDER BY event_type"""))

  // -------------------------------------------------------------------- C7
  /** Temporal bucketing (reference C7 date split/compare ui.py:122). */
  val c7_date_agg = GQuery(
    "c7_date_agg",
    (s, d) => {
      import s.implicits._
      T.orders(s, d)
        .groupBy(date_format($"o_orderdate", "yyyy-MM").as("month"))
        .agg(count(lit(1)).as("n_orders"),
          dsum($"o_totalprice", 2).as("month_total"))
        .orderBy($"month")
    },
    Some("""
      SELECT strftime(o_orderdate, '%Y-%m') AS month,
             COUNT(*) AS n_orders,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(38,2))) AS DOUBLE) AS month_total
      FROM orders GROUP BY 1 ORDER BY month"""))

  // -------------------------------------------------------------------- A7
  /** Two-level strength aggregation (reference A7 team strength / win
    * chance ui.py:56-72: per-player mean then per-team mean). Cohort =
    * user_id % 10 plays "team". */
  val a7_group_strength = GQuery(
    "a7_group_strength",
    (s, d) => {
      import s.implicits._
      val perUser = T.events(s, d)
        .groupBy($"user_id")
        .agg((dsum($"value", 2) / count(lit(1))).cast("double")
          .as("user_avg"))
      perUser
        .groupBy(($"user_id" % 10).as("cohort"))
        .agg(
          count(lit(1)).as("n_users"),
          round(sum(dec($"user_avg", 10)).cast("double") /
            count(lit(1)).cast("double"), 6).as("strength"))
        .orderBy($"cohort")
    },
    Some("""
      WITH per_user AS (
        SELECT user_id,
               CAST(SUM(CAST(value AS DECIMAL(38,2))) / COUNT(*) AS DOUBLE) AS user_avg
        FROM events GROUP BY user_id)
      SELECT user_id % 10 AS cohort,
             COUNT(*) AS n_users,
             ROUND(CAST(SUM(CAST(user_avg AS DECIMAL(38,10))) AS DOUBLE)
                   / CAST(COUNT(*) AS DOUBLE), 6) AS strength
      FROM per_user GROUP BY 1 ORDER BY cohort"""))

  // ------------------------------------------------------------ distinct
  /** Distinct aggregation (SURVEY §2.5 "available for free" row). */
  val agg_distinct = GQuery(
    "agg_distinct",
    (s, d) => {
      import s.implicits._
      T.events(s, d)
        .groupBy($"event_type")
        .agg(countDistinct($"user_id").as("n_users"),
          count(lit(1)).as("n_events"))
        .orderBy($"event_type")
    },
    Some("""
      SELECT event_type, COUNT(DISTINCT user_id) AS n_users,
             COUNT(*) AS n_events
      FROM events GROUP BY event_type ORDER BY event_type"""))

  // ------------------------------------------------------------ stream_fold
  /** The reference's CORE workload — the per-player stateful season fold
    * (master.py:330-378 `updateStateByKey` chain) — run through the REAL
    * production operator: `FplStream.matchCloses` is the same
    * flatMapGroupsWithState pipeline the streaming job executes, and
    * Spark runs FMGWS on batch Datasets (empty initial state, all of a
    * key's messages in one group), so the exact handler + fold kernel
    * sits under the driver's hash gate instead of ScalaTest only.
    *
    * A deterministic season is derived from `events`: each player's
    * events in (ts, event_id) order are chunked 3-per-match; the 17
    * counters are exact integer functions of event_id (c2 ≥ 1 so a match
    * never has all-zero counters and the pass denominator is never 0);
    * every match gets a minutes message with factor 0.5 (45 of 90
    * minutes — exact in IEEE754, so the rating chain stays bit-stable).
    *
    * The oracle replays the SAME recurrences step by step in a recursive
    * CTE — rating r' = 0.5·((contrib + r)/2), profile p' = (x + p)/2 —
    * with an identical floating-op tree, so the doubles match
    * BIT-FOR-BIT and are emitted unrounded. (ROUND(…,6) was tried and
    * reverted: the integer counter construction yields rationals whose
    * decimal expansion terminates at ≤7 digits, and Spark's HALF_UP on
    * the exact BigDecimal expansion disagrees with DuckDB's round() on
    * those ties — rounding introduced the only mismatches.) A match
    * closes when the next match's first message arrives, so the last
    * match per player stays open on both sides (mn < nm). */
  val stream_fold = GQuery(
    "stream_fold",
    (s, d) => {
      import s.implicits._
      val nc = graft.streaming.FplStream.NumCounters
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      val seq = T.events(s, d)
        .select($"user_id", $"ts", $"event_id")
        .withColumn("rn", row_number().over(w))
      def cmod(m: Int): Column = pmod($"event_id", lit(m)).cast("long")
      val counters: Seq[Column] = (0 until nc).map {
        case 0  => cmod(7)            // accurate passes
        case 2  => (cmod(7) + 1L)     // pass attempts (≥1 per event)
        case 4  => cmod(4)            // duels won
        case 6  => cmod(6)            // duels
        case 7  => cmod(3)            // shots
        case 8  => cmod(2)            // shots effective
        case 10 => cmod(9)            // shots on target
        case 11 => cmod(11)           // fouls
        case 16 => cmod(5)            // goals
        case _  => lit(0L)
      }
      val evMsgs = seq.select(
        $"user_id".as("playerId"),
        expr("(rn - 1) DIV 3").as("matchId"),
        $"rn".cast("long").as("order"),
        lit(1).as("kind"), lit(0.0).as("factor"),
        pmod($"user_id", lit(10)).cast("long").as("teamId"),
        array(counters: _*).as("counters"))
      val minMsgs = evMsgs.select($"playerId", $"matchId").distinct()
        .select($"playerId", $"matchId", lit(0L).as("order"),
          lit(0).as("kind"), lit(0.5).as("factor"),
          pmod($"playerId", lit(10)).cast("long").as("teamId"),
          array((0 until nc).map(_ => lit(0L)): _*).as("counters"))
      graft.streaming.FplStream.matchCloses(
        evMsgs.unionByName(minMsgs)
          .as[graft.streaming.FplStream.PlayerMsg])
        .toDF()
        .select($"playerId", $"matchId", $"teamId",
          $"passAccuracy".as("pass_acc"),
          $"duelEffectiveness".as("duel_eff"),
          $"shotEffectiveness".as("shot_eff"),
          $"fouls", $"shotsOnTarget".as("shots_on_target"), $"goals",
          $"contribution",
          $"rating",
          $"delta",
          $"profilePassAccuracy".as("profile_pass_acc"),
          $"matchesPlayed".as("matches_played"))
        .orderBy($"playerId", $"matchId")
    },
    Some("""
      WITH RECURSIVE
      seq AS (
        SELECT user_id AS playerId, event_id,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events),
      ev AS (
        SELECT playerId,
               CAST((rn - 1) // 3 AS BIGINT) AS matchId,
               event_id % 7 AS c0, event_id % 7 + 1 AS c2,
               event_id % 4 AS c4, event_id % 6 AS c6,
               event_id % 3 AS c7, event_id % 2 AS c8,
               event_id % 9 AS c10, event_id % 11 AS c11,
               event_id % 5 AS c16
        FROM seq),
      m AS (
        SELECT playerId, matchId,
               CAST(SUM(c0) AS BIGINT) AS s0, CAST(SUM(c2) AS BIGINT) AS s2,
               CAST(SUM(c4) AS BIGINT) AS s4, CAST(SUM(c6) AS BIGINT) AS s6,
               CAST(SUM(c7) AS BIGINT) AS s7, CAST(SUM(c8) AS BIGINT) AS s8,
               CAST(SUM(c10) AS BIGINT) AS s10,
               CAST(SUM(c11) AS BIGINT) AS s11,
               CAST(SUM(c16) AS BIGINT) AS s16
        FROM ev GROUP BY playerId, matchId),
      scored AS (
        SELECT playerId, matchId, s10, s11, s16,
               ROW_NUMBER() OVER (PARTITION BY playerId
                                  ORDER BY matchId) AS mn,
               COUNT(*) OVER (PARTITION BY playerId) AS nm,
               CAST(s0 AS DOUBLE) / CAST(s2 AS DOUBLE) AS pass_acc,
               CASE WHEN s6 = 0 THEN 0.0
                    ELSE CAST(s4 AS DOUBLE) / CAST(s6 AS DOUBLE)
               END AS duel_eff,
               CASE WHEN s7 = 0 THEN 0.0
                    ELSE CAST(s8 AS DOUBLE) / CAST(s7 AS DOUBLE)
               END AS shot_eff
        FROM m),
      contribed AS (
        SELECT *,
               ((pass_acc + duel_eff + shot_eff + CAST(s10 AS DOUBLE)) / 4)
                 - (0.005 * CAST(s11 AS DOUBLE))
                   * ((pass_acc + duel_eff + shot_eff
                       + CAST(s10 AS DOUBLE)) / 4) AS contrib
        FROM scored),
      chain AS (
        SELECT playerId, matchId, mn, nm, s10, s11, s16,
               pass_acc, duel_eff, shot_eff, contrib,
               0.5 * ((contrib + 0.5) / 2) AS rating,
               0.5 * ((contrib + 0.5) / 2) - 0.5 AS delta,
               pass_acc AS prof
        FROM contribed WHERE mn = 1
        UNION ALL
        SELECT s.playerId, s.matchId, s.mn, s.nm, s.s10, s.s11, s.s16,
               s.pass_acc, s.duel_eff, s.shot_eff, s.contrib,
               0.5 * ((s.contrib + c.rating) / 2),
               0.5 * ((s.contrib + c.rating) / 2) - c.rating,
               (s.pass_acc + c.prof) / 2
        FROM contribed s JOIN chain c
          ON s.playerId = c.playerId AND s.mn = c.mn + 1)
      SELECT playerId, matchId, playerId % 10 AS teamId,
             pass_acc, duel_eff, shot_eff,
             s11 AS fouls, s10 AS shots_on_target, s16 AS goals,
             contrib AS contribution, rating, delta,
             prof AS profile_pass_acc,
             mn AS matches_played
      FROM chain WHERE mn < nm
      ORDER BY playerId, matchId"""))

  val all: Seq[GQuery] = Seq(
    q1_agg, f1_filter_project, f3_point_lookup, f5_topk, g1_explode,
    j1_join_broadcast, j2_multi_join, j4_theta_selfjoin, j5_semi_join,
    j5_anti_join, a2_ratios, a6_last_value, w1_running_sum,
    a3_fold_avg_of_avgs, a4_fold_ewma, c1_json_extract, c7_date_agg,
    a7_group_strength, agg_distinct, stream_fold)
}
