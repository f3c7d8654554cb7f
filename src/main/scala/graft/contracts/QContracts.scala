package graft
package contracts

import graft.functions.GraftFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import Shared._

/** `q_*`: the standard relational categories, each checked by an exact
  * DuckDB oracle.
  */
object QContracts {

  val all: Seq[Contract] = Seq(
    // scan + filter + group-agg + sort (TPC-H Q1 shape)
    Contract("q_pricing_summary", (s, dir) => {
      val li = t(s, dir, "lineitem")
      li.filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
          round(avg(col("l_quantity")), 4).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },
      """SELECT l_returnflag, l_linestatus,
        |  ROUND(SUM(l_quantity), 2) AS sum_qty,
        |  ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
        |  ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |  ROUND(AVG(l_quantity), 4) AS avg_qty,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),

    // exact distinct (op #13's shuffle dedup) — oracle-checked
    Contract("q_exact_distinct_users", (s, dir) => {
      val ev = events(s, dir)
      ev.agg(countDistinct(col("user_id")).as("exact_users"))
    },
      "SELECT COUNT(DISTINCT user_id) AS exact_users FROM events"),

    Contract("q_exact_users_by_type", (s, dir) => {
      val ev = events(s, dir)
      ev.groupBy(col("event_type"))
        .agg(
          countDistinct(col("user_id")).as("exact_users"),
          count(lit(1)).as("n_events"))
        .orderBy(col("event_type"))
    },
      """SELECT event_type, COUNT(DISTINCT user_id) AS exact_users, COUNT(*) AS n_events
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // join chain + group-agg: revenue per nation (broadcast-able dims)
    Contract("q_revenue_by_nation", (s, dir) => {
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      o.join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(
          round(sum(col("o_totalprice")), 2).as("revenue"),
          count(lit(1)).as("n_orders"))
        .orderBy(col("n_name"))
    },
      """SELECT n_name, ROUND(SUM(o_totalprice), 2) AS revenue, COUNT(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin),

    // window function: top-3 orders per customer by price
    Contract("q_top_orders_per_cust", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val o = t(s, dir, "orders")
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      o.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("o_custkey"), col("o_orderkey"),
          round(col("o_totalprice"), 2).as("price"), col("rk"))
        .orderBy(col("o_custkey"), col("rk"), col("o_orderkey"))
    },
      """SELECT o_custkey, o_orderkey, ROUND(o_totalprice, 2) AS price, rk FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rk
        |  FROM orders) WHERE rk <= 3
        |ORDER BY o_custkey, rk, o_orderkey""".stripMargin),

    // range-frame window: revenue within a +/-5-day value window around
    // each order date per customer (RANGE BETWEEN, not ROWS BETWEEN)
    Contract("q_range_window", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val o = t(s, dir, "orders")
      val day = 86400L
      // o_orderdate arrives as TIMESTAMP_NTZ (parquet ms, not UTC-adjusted);
      // NTZ won't cast straight to long — hop through TIMESTAMP first
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").cast("timestamp").cast("long"))
        .rangeBetween(-5 * day, 5 * day)
      o.select(col("o_custkey"), col("o_orderkey"),
          round(sum(col("o_totalprice")).over(w), 2).as("nearby_revenue"),
          count(lit(1)).over(w).as("nearby_orders"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    },
      """SELECT o_custkey, o_orderkey,
        |  ROUND(SUM(o_totalprice) OVER w, 2) AS nearby_revenue,
        |  COUNT(*) OVER w AS nearby_orders
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY epoch(o_orderdate)
        |  RANGE BETWEEN 432000 PRECEDING AND 432000 FOLLOWING)
        |ORDER BY o_custkey, o_orderkey""".stripMargin),

    // physical layout for data skipping: Z-order (Morton interleave of
    // custkey x totalprice via the native interleave_bits expression) vs a
    // single-dim sort, compared on the metric min/max pruning actually
    // uses — the per-bucket span of each dimension. The sorted layout
    // clusters custkey perfectly and leaves price spans at ~full range;
    // the z-order layout bounds BOTH. The oracle re-derives the interleave
    // bit-for-bit in SQL (bit j of dim i lands at j*n+i, matching
    // InterleaveBits).
    Contract("q_zorder_layout", (s, dir) => {
      val o = t(s, dir, "orders")
      val x = col("o_custkey").bitwiseAND(lit(0xffffL))
      val y = floor(col("o_totalprice")).cast("long").bitwiseAND(lit(0xffffL))
      def z(cols: Seq[org.apache.spark.sql.Column]) =
        org.apache.spark.sql.graftshim.GraftShims.column(
          graft.functions.InterleaveBits(
            cols.map(org.apache.spark.sql.graftshim.GraftShims.expression), 16))
      val base = o.select(x.as("x"), y.as("y"))
        .withColumn("zb", shiftright(z(Seq(col("x"), col("y"))), 27))
        .withColumn("sb", shiftright(col("x"), 6))
      def spans(df: DataFrame, bucket: String, label: String) =
        df.groupBy(col(bucket))
          .agg((max(col("x")) - min(col("x")) + 1).as("_xs"),
            (max(col("y")) - min(col("y")) + 1).as("_ys"))
          .agg(round(avg(col("_xs")) / 65536.0, 4).as("avg_x_span"),
            round(avg(col("_ys")) / 65536.0, 4).as("avg_y_span"),
            count(lit(1)).as("n_buckets"))
          .select(lit(label).as("layout"), col("n_buckets"),
            col("avg_x_span"), col("avg_y_span"))
      spans(base, "zb", "zorder").unionByName(spans(base, "sb", "custkey_sorted"))
        .orderBy(col("layout"))
    },
      {
      // the Morton interleave, expanded term-by-term for DuckDB: bit i of x
      // lands at 2i, bit i of y at 2i+1 (matches Layout.zValue for n=2)
      val zExpr = (0 until 16).flatMap(i => Seq(
        s"(((x >> $i) & 1) << ${2 * i})",
        s"(((y >> $i) & 1) << ${2 * i + 1})")).mkString(" | ")
      s"""WITH pts AS (
         |  SELECT o_custkey & 65535 AS x,
         |         CAST(FLOOR(o_totalprice) AS BIGINT) & 65535 AS y
         |  FROM orders),
         |keyed AS (SELECT x, y, ($zExpr) >> 27 AS zb, x >> 6 AS sb FROM pts),
         |zs AS (
         |  SELECT 'zorder' AS layout, COUNT(*) AS n_buckets,
         |    ROUND(AVG(xs) / 65536.0, 4) AS avg_x_span,
         |    ROUND(AVG(ys) / 65536.0, 4) AS avg_y_span
         |  FROM (SELECT zb, MAX(x) - MIN(x) + 1 AS xs, MAX(y) - MIN(y) + 1 AS ys
         |        FROM keyed GROUP BY zb)),
         |ss AS (
         |  SELECT 'custkey_sorted' AS layout, COUNT(*) AS n_buckets,
         |    ROUND(AVG(xs) / 65536.0, 4) AS avg_x_span,
         |    ROUND(AVG(ys) / 65536.0, 4) AS avg_y_span
         |  FROM (SELECT sb, MAX(x) - MIN(x) + 1 AS xs, MAX(y) - MIN(y) + 1 AS ys
         |        FROM keyed GROUP BY sb))
         |SELECT * FROM zs UNION ALL SELECT * FROM ss ORDER BY layout""".stripMargin
    }),

    // sort + limit (top-k)
    Contract("q_top20_orders", (s, dir) => {
      val o = t(s, dir, "orders")
      o.select(col("o_orderkey"), round(col("o_totalprice"), 2).as("price"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(20)
    },
      """SELECT o_orderkey, ROUND(o_totalprice, 2) AS price FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""".stripMargin),

    // semi/anti joins: customers with and without orders
    Contract("q_cust_order_existence", (s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      val withO = c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .agg(count(lit(1)).as("n")).select(lit("with_orders").as("bucket"), col("n"))
      val withoutO = c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .agg(count(lit(1)).as("n")).select(lit("without_orders").as("bucket"), col("n"))
      withO.union(withoutO).orderBy(col("bucket"))
    },
      """SELECT * FROM (
        |  SELECT 'with_orders' AS bucket, COUNT(*) AS n FROM customer
        |  WHERE c_custkey IN (SELECT o_custkey FROM orders)
        |  UNION ALL
        |  SELECT 'without_orders' AS bucket, COUNT(*) AS n FROM customer
        |  WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
        |) ORDER BY bucket""".stripMargin),

    // projection + filter pushdown to parquet
    Contract("q_filter_pushdown", (s, dir) => {
      val li = t(s, dir, "lineitem")
      li.filter(col("l_quantity") > 45 && col("l_discount") < 0.02)
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("l_extendedprice"), 2).as("price"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },
      """SELECT l_orderkey, l_linenumber, ROUND(l_extendedprice, 2) AS price
        |FROM lineitem WHERE l_quantity > 45 AND l_discount < 0.02
        |ORDER BY l_orderkey, l_linenumber""".stripMargin),

    // rollup (grouping sets family)
    Contract("q_rollup_order_status", (s, dir) => {
      val o = t(s, dir, "orders")
      o.rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"))
        .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)
    },
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
        |  ROUND(SUM(o_totalprice), 2) AS total
        |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin),

    // skew-safe exact distinct: value-hash salting splits a hot group's
    // dedup across cells whose disjoint counts sum exactly (oracle = plain
    // COUNT(DISTINCT)) — the rewrite used when one group dominates at scale
    Contract("q_salted_distinct", (s, dir) => {
      val li = t(s, dir, "lineitem")
      graft.operators.SkewTools.saltedCountDistinct(
          li, Seq("l_returnflag"), "l_partkey", buckets = 32)
        .withColumnRenamed("l_partkey_distinct", "n_parts")
        .orderBy(col("l_returnflag"))
    },
      """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    // Forced-salt skewed join: lineitem × part with the small side replicated
    // 16× and the fact side salted by row hash — the manual fallback when
    // AQE's skew split can't apply. Result must equal the plain join.
    Contract("q_salted_join", (s, dir) => {
      // project BEFORE the salt (guide §2.3): saltedJoin hashes a struct of
      // every big-side column, so handing it full lineitem rows forced a
      // 16-column ReadSchema and xxhash64 over all of them — the r14
      // profile's 0.87 s single fat task. Only the join key and the
      // aggregated measure survive downstream; the salt stays deterministic
      // per row and the join/aggregate result is salt-independent.
      val li = t(s, dir, "lineitem").select(col("l_partkey"), col("l_quantity"))
      val p = t(s, dir, "part")
      graft.operators.SkewTools.saltedJoin(li, p, "l_partkey", "p_partkey", 16)
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_lines"),
          sum(col("l_quantity")).cast("long").as("sum_qty"))
        .orderBy(col("p_brand"))
    },
      // the salted join must be indistinguishable from the plain join
      // (l_quantity is integral, so the BIGINT cast of the sum is exact)
      """SELECT p_brand, COUNT(*) AS n_lines,
        |  CAST(SUM(l_quantity) AS BIGINT) AS sum_qty
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin),

    // Sketch-based join-size estimation (JoinStats): predicts the
    // lineitem⋈orders output from one bucketed-HLL pass per side — the
    // "should I even run this join" planning primitive. The exact join here
    // exists only to verify the estimate.
    Contract("q_join_size_estimate", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val est = graft.operators.JoinStats.equiJoinSizeEstimate(
        li, "l_orderkey", o, "o_orderkey")
      val exact = li.join(o, col("l_orderkey") === col("o_orderkey"))
        .agg(count(lit(1)).as("exact_rows"))
      est.crossJoin(exact).select(col("exact_rows"),
        (abs(col("est_rows") - col("exact_rows")) / col("exact_rows") <= 0.1)
          .as("est_ok"))
    },
      """SELECT COUNT(*) AS exact_rows, TRUE AS est_ok
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey""".stripMargin),

    // MERGE/upsert: re-priced delta batch folded into the orders snapshot,
    // last-writer-wins per key (delta beats snapshot on the version tie).
    Contract("q_upsert_orders", (s, dir) => {
      val o = t(s, dir, "orders")
      // re-price via floor (bit-identical across engines, unlike round,
      // which Spark applies to the shortest-decimal repr) and sum in
      // decimal space so the total is order-independent and exact
      val delta = o.filter(col("o_orderkey") % 10 === 0)
        .withColumn("o_totalprice", floor(col("o_totalprice") * 110) / 100)
      graft.operators.Upsert.upsert(o, delta, Seq("o_orderkey"), "o_orderdate")
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double"), 2)
            .as("total_price"),
          sum(when(col("o_orderkey") % 10 === 0, 1L).otherwise(0L)).as("n_updated"))
    },
      """WITH delta AS (
        |  SELECT * REPLACE (FLOOR(o_totalprice * 110) / 100 AS o_totalprice)
        |  FROM orders WHERE o_orderkey % 10 = 0),
        |merged AS (
        |  SELECT * FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey
        |      ORDER BY o_orderdate DESC, src DESC) AS rn
        |    FROM (SELECT *, 0 AS src FROM orders
        |          UNION ALL SELECT *, 1 AS src FROM delta))
        |  WHERE rn = 1)
        |SELECT COUNT(*) AS n_orders,
        |  ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
        |    AS total_price,
        |  COUNT(*) FILTER (o_orderkey % 10 = 0) AS n_updated
        |FROM merged""".stripMargin),

    // Snapshot reconciliation (Upsert.snapshotDiff): classify keys as
    // added/removed/changed/unchanged between the orders snapshot and a
    // mutated next version (re-priced tenth, fresh keys, deleted slice).
    Contract("q_snapshot_diff", (s, dir) => {
      val o = t(s, dir, "orders")
      val repriced = o.filter(col("o_orderkey") % 10 === 0)
        .withColumn("o_totalprice", floor(col("o_totalprice") * 110) / 100)
      val fresh = o.filter(col("o_orderkey") % 100 === 7)
        .withColumn("o_orderkey", col("o_orderkey") + 1000000L)
      val after = graft.operators.Upsert.upsert(
          o, repriced.unionByName(fresh), Seq("o_orderkey"), "o_orderdate")
        .filter(col("o_orderkey") % 17 =!= 3)
      graft.operators.Upsert.snapshotDiff(
          o, after, Seq("o_orderkey"), Seq("o_totalprice"))
        .orderBy(col("change"))
    },
      """WITH after0 AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 10 = 0 THEN FLOOR(o_totalprice * 110) / 100
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM orders
        |  UNION ALL
        |  SELECT o_orderkey + 1000000, o_totalprice FROM orders
        |  WHERE o_orderkey % 100 = 7),
        |af AS (SELECT * FROM after0 WHERE o_orderkey % 17 != 3),
        |j AS (
        |  SELECT CASE WHEN b.o_orderkey IS NULL THEN 'added'
        |              WHEN a.o_orderkey IS NULL THEN 'removed'
        |              WHEN b.o_totalprice = a.o_totalprice THEN 'unchanged'
        |              ELSE 'changed' END AS change
        |  FROM orders b FULL OUTER JOIN af a ON b.o_orderkey = a.o_orderkey)
        |SELECT change, COUNT(*) AS n_keys FROM j
        |GROUP BY change ORDER BY change""".stripMargin),

    // SCD2 history build (Upsert.scd2): three stacked order snapshots —
    // v2 reprices every 10th key (+100.00, exact in both engines), v3
    // additionally flips every 100th key's status — collapse to validity
    // intervals; the summary counts rows per (valid_from, valid_to,
    // is_current). valid_to=0 encodes "open" (null would drift between
    // pandas renderings of nullable ints).
    Contract("q_scd2", (s, dir) => {
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val v1 = o.withColumn("version", lit(1))
      val v2 = o.withColumn("o_totalprice",
          when(col("o_orderkey") % 10 === 0, col("o_totalprice") + 100.0)
            .otherwise(col("o_totalprice")))
        .withColumn("version", lit(2))
      val v3 = v2.withColumn("o_orderstatus",
          when(col("o_orderkey") % 100 === 0, lit("X"))
            .otherwise(col("o_orderstatus")))
        .withColumn("version", lit(3))
      graft.operators.Upsert.scd2(
          v1.unionByName(v2).unionByName(v3),
          Seq("o_orderkey"), Seq("o_orderstatus", "o_totalprice"), "version")
        .groupBy(col("valid_from"), coalesce(col("valid_to"), lit(0)).as("valid_to"),
          col("is_current"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("valid_from"), col("valid_to"))
    },
      """WITH base AS (
        |  SELECT o_orderkey AS k, o_orderstatus AS st, o_totalprice AS pr
        |  FROM orders),
        |hist AS (
        |  SELECT k, st, pr, 1 AS version FROM base
        |  UNION ALL
        |  SELECT k, st,
        |    CASE WHEN k % 10 = 0 THEN pr + 100.0 ELSE pr END, 2 FROM base
        |  UNION ALL
        |  SELECT k,
        |    CASE WHEN k % 100 = 0 THEN 'X' ELSE st END,
        |    CASE WHEN k % 10 = 0 THEN pr + 100.0 ELSE pr END, 3 FROM base),
        |chg AS (
        |  SELECT *,
        |    COALESCE(LAG(st) OVER w IS DISTINCT FROM st
        |             OR LAG(pr) OVER w IS DISTINCT FROM pr
        |             OR LAG(version) OVER w IS NULL, TRUE) AS is_chg
        |  FROM hist WINDOW w AS (PARTITION BY k ORDER BY version)),
        |pts AS (
        |  SELECT k, version AS valid_from,
        |    LEAD(version) OVER (PARTITION BY k ORDER BY version) AS valid_to
        |  FROM chg WHERE is_chg)
        |SELECT valid_from, COALESCE(valid_to, 0) AS valid_to,
        |  (valid_to IS NULL) AS is_current, CAST(COUNT(*) AS BIGINT) AS n
        |FROM pts GROUP BY 1, 2, 3 ORDER BY 1, 2""".stripMargin),

    // Single-pass column profiling (Profile): nulls/min/max/HLL-distinct for
    // five heterogeneous columns in ONE aggregation — no Expand, no
    // per-column scans. The exact-distinct side here is verification only.
    // Full one-pass profiler: base stats + GK quantiles on the numeric
    // column + MG top values on the categoricals, ONE scan, no Expand.
    // Estimates leave as booleans: distinct within 5%, each quantile's
    // true rank within relErr*n (GK theorem — the returned sample varies
    // with merge order, its rank bound does not), top values exact in the
    // capacity >= distinct regime the DuckDB oracle re-derives.
    Contract("q_profile_deep", (s, dir) => {
      val o = t(s, dir, "orders")
      val relErr = 0.01
      // the demo file is one row group, so the sketch-building partial agg
      // fused to the scan runs on ONE task (r14 profile: 1.06 s of the
      // query's 1.62 s CPU on a single task); hash-spreading by the unique
      // key parallelizes it. Result-identical: HLL registers are
      // max-merged, MG is exact in the capacity >= distinct regime with a
      // unique top value at every SF, GK emits rank-bound booleans the
      // theorem guarantees under ANY merge order, min/max/counts exact.
      val oSpread = spreadIfNarrow(o, col("o_orderkey"))
      val prof = graft.operators.Profile.profileDeep(oSpread,
          numeric = Seq("o_totalprice"),
          categorical = Seq("o_orderstatus", "o_orderpriority"),
          k = 1 << 16, relErr = relErr, topCapacity = 64)
        .localCheckpoint() // reused by the rank-check scan below
      val cs = Seq("o_totalprice", "o_orderstatus", "o_orderpriority")
      val exact = o
        .select(cs.map(c => count_distinct(col(c)).as(s"_x_$c")): _*)
        .selectExpr(s"stack(${cs.length}, " +
          cs.map(c => s"'$c', _x_$c").mkString(", ") + ") AS (col_name, _n_exact)")
      val pv = prof.filter(col("col_name") === "o_totalprice")
        .select(col("p25").as("_q25"), col("p50").as("_q50"), col("p75").as("_q75"))
      // _n = NON-NULL count: the GK sketch and the lt/le counters both
      // exclude nulls, so the target rank must be computed in the same
      // population (count(lit(1)) would silently shift it on nullable data)
      val ranks = o.select(col("o_totalprice")).crossJoin(broadcast(pv))
        .agg(count(col("o_totalprice")).as("_n"),
          sum(when(col("o_totalprice") < col("_q25"), 1L).otherwise(0L)).as("_lt25"),
          sum(when(col("o_totalprice") <= col("_q25"), 1L).otherwise(0L)).as("_le25"),
          sum(when(col("o_totalprice") < col("_q50"), 1L).otherwise(0L)).as("_lt50"),
          sum(when(col("o_totalprice") <= col("_q50"), 1L).otherwise(0L)).as("_le50"),
          sum(when(col("o_totalprice") < col("_q75"), 1L).otherwise(0L)).as("_lt75"),
          sum(when(col("o_totalprice") <= col("_q75"), 1L).otherwise(0L)).as("_le75"))
      def rankOk(q: Double, lt: org.apache.spark.sql.Column,
          le: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
        val rank = ceil(lit(q) * col("_n"))
        val eps = lit(relErr) * col("_n")
        (rank - eps <= le) && (lt + lit(1L) <= rank + eps)
      }
      prof.join(exact, Seq("col_name"))
        .crossJoin(broadcast(ranks))
        .select(col("col_name"), col("n_rows"), col("n_nulls"),
          col("min_s"), col("max_s"),
          (abs(col("n_distinct_est") - col("_n_exact")) / col("_n_exact") <= 0.05)
            .as("distinct_ok"),
          // 'n/a' sentinels, not NULLs: the two engines' NULL renderings
          // differ under the driver's string-normalized hash compare
          when(col("col_name") === "o_totalprice",
            rankOk(0.25, col("_lt25"), col("_le25")).cast("string"))
            .otherwise("n/a").as("p25_ok"),
          when(col("col_name") === "o_totalprice",
            rankOk(0.50, col("_lt50"), col("_le50")).cast("string"))
            .otherwise("n/a").as("p50_ok"),
          when(col("col_name") === "o_totalprice",
            rankOk(0.75, col("_lt75"), col("_le75")).cast("string"))
            .otherwise("n/a").as("p75_ok"),
          coalesce(col("top_value"), lit("n/a")).as("top_value"),
          coalesce(col("top_n").cast("string"), lit("n/a")).as("top_n"))
        .orderBy(col("col_name"))
    },
      """SELECT 'o_orderpriority' AS col_name, COUNT(*) AS n_rows,
        |  COUNT(*) - COUNT(o_orderpriority) AS n_nulls,
        |  CAST(MIN(o_orderpriority) AS VARCHAR) AS min_s,
        |  CAST(MAX(o_orderpriority) AS VARCHAR) AS max_s,
        |  TRUE AS distinct_ok,
        |  'n/a' AS p25_ok, 'n/a' AS p50_ok, 'n/a' AS p75_ok,
        |  (SELECT o_orderpriority FROM orders GROUP BY 1
        |   ORDER BY COUNT(*) DESC, 1 ASC LIMIT 1) AS top_value,
        |  (SELECT CAST(COUNT(*) AS VARCHAR) FROM orders GROUP BY o_orderpriority
        |   ORDER BY COUNT(*) DESC, o_orderpriority ASC LIMIT 1) AS top_n
        |FROM orders
        |UNION ALL SELECT 'o_orderstatus', COUNT(*),
        |  COUNT(*) - COUNT(o_orderstatus),
        |  CAST(MIN(o_orderstatus) AS VARCHAR), CAST(MAX(o_orderstatus) AS VARCHAR),
        |  TRUE, 'n/a', 'n/a', 'n/a',
        |  (SELECT o_orderstatus FROM orders GROUP BY 1
        |   ORDER BY COUNT(*) DESC, 1 ASC LIMIT 1),
        |  (SELECT CAST(COUNT(*) AS VARCHAR) FROM orders GROUP BY o_orderstatus
        |   ORDER BY COUNT(*) DESC, o_orderstatus ASC LIMIT 1)
        |FROM orders
        |UNION ALL SELECT 'o_totalprice', COUNT(*),
        |  COUNT(*) - COUNT(o_totalprice),
        |  CAST(MIN(o_totalprice) AS VARCHAR), CAST(MAX(o_totalprice) AS VARCHAR),
        |  TRUE, CAST(TRUE AS VARCHAR), CAST(TRUE AS VARCHAR), CAST(TRUE AS VARCHAR),
        |  'n/a', 'n/a'
        |FROM orders
        |ORDER BY col_name""".stripMargin),

    Contract("q_profile_orders", (s, dir) => {
      val o = t(s, dir, "orders")
      val cs = Seq("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate",
        "o_orderstatus")
      // k=2^16 keeps every column in the linear-counting regime at sf0.01.
      // Hash-spread before the 5-column HLL pass (one-row-group demo file
      // scans as ONE task — q_profile_deep's comment has the full
      // argument); HLL registers max-merge identically under any
      // partitioning.
      val prof = graft.operators.Profile.profile(
        spreadIfNarrow(o, col("o_orderkey")), cs, k = 1 << 16)
      // Exact verify side: one pruned single-column scan per column (a
      // columnar read proportional to that column), NEVER N count_distincts
      // in one agg — Catalyst plans that as Expand xN, multiplying the scan
      // output into the aggregation exchange at scale.
      val exact = cs.map { c =>
        o.select(col(c)).distinct()
          .agg(count(col(c)).as("n_exact")) // nulls excluded, like the HLL side
          .withColumn("col_name", lit(c))
      }.reduce(_ unionByName _)
      prof.join(broadcast(exact), "col_name")
        .select(col("col_name"), col("n_rows"), col("n_nulls"),
          col("min_s"), col("max_s"),
          (abs(col("n_distinct_est") - col("n_exact")) / col("n_exact") <= 0.05)
            .as("distinct_ok"))
        .orderBy(col("col_name"))
    },
      """SELECT 'o_custkey' AS col_name, COUNT(*) AS n_rows,
        |  COUNT(*) - COUNT(o_custkey) AS n_nulls,
        |  CAST(MIN(o_custkey) AS VARCHAR) AS min_s,
        |  CAST(MAX(o_custkey) AS VARCHAR) AS max_s, TRUE AS distinct_ok
        |FROM orders
        |UNION ALL SELECT 'o_orderdate', COUNT(*), COUNT(*) - COUNT(o_orderdate),
        |  CAST(MIN(o_orderdate) AS VARCHAR), CAST(MAX(o_orderdate) AS VARCHAR), TRUE
        |FROM orders
        |UNION ALL SELECT 'o_orderkey', COUNT(*), COUNT(*) - COUNT(o_orderkey),
        |  CAST(MIN(o_orderkey) AS VARCHAR), CAST(MAX(o_orderkey) AS VARCHAR), TRUE
        |FROM orders
        |UNION ALL SELECT 'o_orderstatus', COUNT(*), COUNT(*) - COUNT(o_orderstatus),
        |  MIN(o_orderstatus), MAX(o_orderstatus), TRUE FROM orders
        |UNION ALL SELECT 'o_totalprice', COUNT(*), COUNT(*) - COUNT(o_totalprice),
        |  CAST(MIN(o_totalprice) AS VARCHAR), CAST(MAX(o_totalprice) AS VARCHAR), TRUE
        |FROM orders
        |ORDER BY col_name""".stripMargin),

    // Profile's exactness escape hatch: designated low-cardinality columns
    // get a precise n_distinct from per-column pruned-scan aggregates (one
    // narrow columnar scan each — never the Expand xN shape), broadcast-
    // joined back into the single-pass report; the high-card o_custkey
    // stays estimate-only (null n_distinct). Fully DuckDB-replayable.
    Contract("q_profile_exact", (s, dir) => {
      val o = t(s, dir, "orders")
      val cs = Seq("o_orderstatus", "o_orderpriority", "o_custkey")
      graft.operators.Profile.profile(o, cs, k = 1 << 16,
          exact = Set("o_orderstatus", "o_orderpriority"))
        .select(col("col_name"), col("n_rows"), col("n_nulls"),
          col("min_s"), col("max_s"), col("n_distinct"))
        .orderBy(col("col_name"))
    },
      """SELECT 'o_custkey' AS col_name, COUNT(*) AS n_rows,
        |  COUNT(*) - COUNT(o_custkey) AS n_nulls,
        |  CAST(MIN(o_custkey) AS VARCHAR) AS min_s,
        |  CAST(MAX(o_custkey) AS VARCHAR) AS max_s,
        |  CAST(NULL AS BIGINT) AS n_distinct
        |FROM orders
        |UNION ALL SELECT 'o_orderpriority', COUNT(*),
        |  COUNT(*) - COUNT(o_orderpriority),
        |  MIN(o_orderpriority), MAX(o_orderpriority),
        |  COUNT(DISTINCT o_orderpriority) FROM orders
        |UNION ALL SELECT 'o_orderstatus', COUNT(*),
        |  COUNT(*) - COUNT(o_orderstatus),
        |  MIN(o_orderstatus), MAX(o_orderstatus),
        |  COUNT(DISTINCT o_orderstatus) FROM orders
        |ORDER BY col_name""".stripMargin),

    // ntile + lead window functions: per-segment account-balance deciles
    // with the average gap to the next-ranked customer.
    Contract("q_ntile_lead", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val c = t(s, dir, "customer")
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("c_acctbal"), col("c_custkey"))
      c.select(col("c_mktsegment"), col("c_acctbal"), col("c_custkey"))
        .withColumn("decile", ntile(10).over(w))
        .withColumn("gap",
          round(lead(col("c_acctbal"), 1).over(w) - col("c_acctbal"), 2))
        .groupBy(col("c_mktsegment"), col("decile"))
        .agg(count(lit(1)).as("n"),
          round(min(col("c_acctbal")), 2).as("lo"),
          round(max(col("c_acctbal")), 2).as("hi"),
          round(avg(col("gap")), 3).as("avg_gap"))
        .orderBy(col("c_mktsegment"), col("decile"))
    },
      """WITH r AS (
        |  SELECT c_mktsegment, c_acctbal,
        |    NTILE(10) OVER w AS decile,
        |    ROUND(LEAD(c_acctbal, 1) OVER w - c_acctbal, 2) AS gap
        |  FROM customer
        |  WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey))
        |SELECT c_mktsegment, decile, COUNT(*) AS n,
        |  ROUND(MIN(c_acctbal), 2) AS lo, ROUND(MAX(c_acctbal), 2) AS hi,
        |  ROUND(AVG(gap), 3) AS avg_gap
        |FROM r GROUP BY c_mktsegment, decile
        |ORDER BY c_mktsegment, decile""".stripMargin),

    // Correlated scalar subquery: customers whose most expensive order is
    // >= 2x their average — Catalyst decorrelates both subqueries into one
    // aggregate-then-join plan (no per-row re-execution).
    Contract("q_correlated_subquery", (s, dir) => {
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      o.createOrReplaceTempView("_co_orders")
      c.createOrReplaceTempView("_co_customer")
      s.sql("""
        SELECT c_custkey, c_name,
          (SELECT ROUND(MAX(o_totalprice), 2) FROM _co_orders
           WHERE o_custkey = c_custkey) AS max_price,
          (SELECT ROUND(AVG(o_totalprice), 2) FROM _co_orders
           WHERE o_custkey = c_custkey) AS avg_price
        FROM _co_customer
        WHERE (SELECT MAX(o_totalprice) FROM _co_orders
               WHERE o_custkey = c_custkey)
              >= 2 * (SELECT AVG(o_totalprice) FROM _co_orders
                      WHERE o_custkey = c_custkey)
        ORDER BY c_custkey""")
    },
      """SELECT c_custkey, c_name,
        |  (SELECT ROUND(MAX(o_totalprice), 2) FROM orders
        |   WHERE o_custkey = c_custkey) AS max_price,
        |  (SELECT ROUND(AVG(o_totalprice), 2) FROM orders
        |   WHERE o_custkey = c_custkey) AS avg_price
        |FROM customer
        |WHERE (SELECT MAX(o_totalprice) FROM orders WHERE o_custkey = c_custkey)
        |      >= 2 * (SELECT AVG(o_totalprice) FROM orders
        |              WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin),

    // JSON source/sink round-trip through the driver gate: write a typed
    // projection as JSON lines, read it back (schema inference), aggregate.
    Contract("q_json_roundtrip", (s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_json_rt"
      d.coalesce(2).write.mode("overwrite").json(path)
      s.read.json(path)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
        .orderBy(col("lang"))
    },
      """SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin),

    // JSON scalar functions over an embedded JSON column (events.props):
    // extract a typed field per row (codegen'd get_json_object — no UDF),
    // aggregate per type. The map-side extract means only (type, k) pairs
    // reach the exchange, never the JSON blobs.
    Contract("q_json_functions", (s, dir) => {
      val ev = events(s, dir)
      ev.select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(col("event_type"))
        .agg(count(col("k")).as("n_parsed"),
          min(col("k")).as("k_min"), max(col("k")).as("k_max"),
          round(avg(col("k")), 4).as("k_avg"))
        .orderBy(col("event_type"))
    },
      """SELECT event_type,
        |  CAST(COUNT(TRY_CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS n_parsed,
        |  CAST(MIN(TRY_CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS k_min,
        |  CAST(MAX(TRY_CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS k_max,
        |  ROUND(AVG(TRY_CAST(props->>'$.k' AS BIGINT)), 4) AS k_avg
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // Interval-literal RANGE window frames (SQL-only surface — the
    // DataFrame API's rangeBetween takes longs): trailing-30-day order
    // counts and revenue per customer, the event-time window analytics
    // shape over a timestamp ordering.
    Contract("q_interval_range_window", (s, dir) => {
      val o = t(s, dir, "orders")
      o.createOrReplaceTempView("_irw_orders")
      s.sql("""
        SELECT o_custkey, date_format(o_orderdate, 'yyyy-MM-dd') AS d,
          CAST(COUNT(*) OVER w AS BIGINT) AS n_trailing_30d,
          ROUND(SUM(o_totalprice) OVER w, 2) AS rev_trailing_30d
        FROM _irw_orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate
                     RANGE BETWEEN INTERVAL '30' DAY PRECEDING AND CURRENT ROW)
        ORDER BY o_custkey, d, n_trailing_30d""")
    },
      """SELECT o_custkey, strftime(o_orderdate, '%Y-%m-%d') AS d,
        |  CAST(COUNT(*) OVER w AS BIGINT) AS n_trailing_30d,
        |  ROUND(SUM(o_totalprice) OVER w, 2) AS rev_trailing_30d
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate
        |             RANGE BETWEEN INTERVAL '30' DAY PRECEDING AND CURRENT ROW)
        |ORDER BY o_custkey, d, n_trailing_30d""".stripMargin),

    // MapType construction + explosion with scalar-only outputs: per
    // priority a status→count map (map_from_entries over sorted entries),
    // immediately exploded back to rows plus a map_keys cardinality — the
    // map value itself never crosses the oracle boundary, so the rendering
    // stays engine-portable.
    Contract("q_map_functions", (s, dir) => {
      val o = t(s, dir, "orders")
      val m = o.groupBy(col("o_orderpriority"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n"))
        .groupBy(col("o_orderpriority"))
        .agg(map_from_entries(sort_array(collect_list(
          struct(col("o_orderstatus"), col("n"))))).as("status_counts"))
      m.select(col("o_orderpriority"),
          size(col("status_counts")).as("n_statuses"),
          explode(col("status_counts")).as(Seq("status", "n")))
        .select(col("o_orderpriority"), col("status"), col("n"),
          col("n_statuses"))
        .orderBy(col("o_orderpriority"), col("status"))
    },
      """WITH g AS (
        |  SELECT o_orderpriority, o_orderstatus AS status,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM orders GROUP BY 1, 2)
        |SELECT o_orderpriority, status, n,
        |  CAST(COUNT(*) OVER (PARTITION BY o_orderpriority) AS BIGINT)
        |    AS n_statuses
        |FROM g ORDER BY o_orderpriority, status""".stripMargin),

    // Join-strategy hints: the MERGE hint forces a SortMergeJoin where the
    // tiny nation side would otherwise broadcast (asserted in
    // PlanQualitySpec) — the manual-override surface for when statistics
    // mislead the planner at scale. Results must be identical either way.
    Contract("q_join_hints", (s, dir) => {
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      c.join(n.hint("merge"), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_cust"),
          round(sum(col("c_acctbal").cast("decimal(18,2)")).cast("double"), 2)
            .as("total_bal"))
        .orderBy(col("n_name"))
    },
      """SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n_cust,
        |  ROUND(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE), 2)
        |    AS total_bal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin),

    // GROUP BY ALL (Spark 4 + DuckDB dialect): every non-aggregate select
    // item becomes a grouping key implicitly.
    Contract("q_group_by_all", (s, dir) => {
      val o = t(s, dir, "orders")
      o.createOrReplaceTempView("_gba_orders")
      s.sql("""
        SELECT o_orderstatus, o_orderpriority,
               COUNT(*) AS n,
               ROUND(SUM(o_totalprice), 2) AS total
        FROM _gba_orders
        GROUP BY ALL
        ORDER BY o_orderstatus, o_orderpriority""")
    },
      """SELECT o_orderstatus, o_orderpriority,
        |  COUNT(*) AS n,
        |  ROUND(SUM(o_totalprice), 2) AS total
        |FROM orders
        |GROUP BY ALL
        |ORDER BY o_orderstatus, o_orderpriority""".stripMargin),

    // Generator/lateral surface: collect per-order part arrays, re-explode
    // with position (posexplode), aggregate by position. The oracle
    // re-derives positions via ROW_NUMBER over the same ordering — equal
    // keys make tie order irrelevant to the per-position sums.
    Contract("q_posexplode", (s, dir) => {
      val l = t(s, dir, "lineitem")
      val arrs = l.groupBy(col("l_orderkey"))
        .agg(sort_array(collect_list(col("l_partkey"))).as("parts"))
      arrs.select(col("l_orderkey"),
          posexplode(col("parts")).as(Seq("pos", "partkey")))
        .groupBy(col("pos"))
        .agg(count(lit(1)).as("n"), sum(col("partkey")).as("sum_parts"))
        .orderBy(col("pos"))
    },
      """SELECT pos, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(partkey) AS BIGINT) AS sum_parts
        |FROM (
        |  SELECT l_orderkey, l_partkey AS partkey,
        |    ROW_NUMBER() OVER (PARTITION BY l_orderkey ORDER BY l_partkey) - 1
        |      AS pos
        |  FROM lineitem)
        |GROUP BY pos ORDER BY pos""".stripMargin),

    // Schema evolution across parquet batches: an early batch without a
    // column and a later batch with it read together via mergeSchema — the
    // union schema appears, missing values surface as NULL. The 100 TB
    // reality: corpora accrete columns over months; readers must span
    // vintages without rewrites. Oracle simulates the same union from the
    // source table.
    Contract("q_merge_schema", (s, dir) => {
      val o = t(s, dir, "orders")
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_schema_evo_" +
        java.lang.ProcessHandle.current().pid()
      o.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_orderstatus"))
        .coalesce(2).write.mode("overwrite").parquet(s"$base/v1")
      o.filter(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_orderpriority"))
        .coalesce(2).write.mode("overwrite").parquet(s"$base/v2")
      val hp = new org.apache.hadoop.fs.Path(base)
      hp.getFileSystem(s.sparkContext.hadoopConfiguration).deleteOnExit(hp)
      s.read.option("mergeSchema", "true").parquet(s"$base/v1", s"$base/v2")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("o_orderpriority").isNull.cast("long")).as("n_missing_priority"),
          count(col("o_orderpriority")).as("n_with_priority"))
        .orderBy(col("o_orderstatus"))
    },
      """SELECT o_orderstatus,
        |  CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(COUNT(*) FILTER (o_orderkey % 2 = 0) AS BIGINT)
        |    AS n_missing_priority,
        |  CAST(COUNT(*) FILTER (o_orderkey % 2 = 1) AS BIGINT)
        |    AS n_with_priority
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),

    // CSV source/sink round-trip (header + explicit schema on read)
    Contract("q_csv_roundtrip", (s, dir) => {
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_csv_rt"
      o.coalesce(2).write.mode("overwrite").option("header", "true").csv(path)
      s.read.option("header", "true")
        .schema("o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE")
        .csv(path)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double"), 2)
            .as("total_price"))
        .orderBy(col("o_orderstatus"))
    },
      """SELECT o_orderstatus, COUNT(*) AS n_orders,
        |  ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
        |    AS total_price
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),

    // ORC source/sink round-trip — the other mainstream columnar warehouse
    // format (built-in DataSource, same predicate-pushdown surface as
    // parquet). Write a projection, read it back with a pushable filter,
    // aggregate; the oracle computes the same aggregate from the parquet
    // original, so the ORC writer/reader pair must preserve values exactly.
    Contract("q_orc_roundtrip", (s, dir) => {
      val l = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"),
          col("l_extendedprice"))
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_orc_rt_" +
        java.lang.ProcessHandle.current().pid()
      l.coalesce(4).write.mode("overwrite").orc(path)
      val hp = new org.apache.hadoop.fs.Path(path)
      hp.getFileSystem(s.sparkContext.hadoopConfiguration).deleteOnExit(hp)
      s.read.orc(path)
        .filter(col("l_quantity") > 10.0)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_rows"),
          round(sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double"), 2)
            .as("total_price"))
        .orderBy(col("l_returnflag"))
    },
      """SELECT l_returnflag, COUNT(*) AS n_rows,
        |  ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2)
        |    AS total_price
        |FROM lineitem WHERE l_quantity > 10.0
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    // Hive-style partitioned layout + planning-time pruning: write orders
    // partitioned by status, read back with a partition predicate — the
    // scan's PartitionFilters drop non-matching directories before any file
    // I/O (asserted in PlanQualitySpec). The 100 TB pattern: partition by
    // the coarse axis (date/source), prune whole directories per query.
    Contract("q_partition_pruning", (s, dir) => {
      val o = t(s, dir, "orders")
      // per-process path: a second graft process (bench lap + test run on
      // the same host) must not overwrite the directory this one is
      // reading; deleteOnExit keeps repeated runs from accumulating
      // full-table copies in tmp
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_part_orders_" +
        java.lang.ProcessHandle.current().pid()
      graft.operators.Layout.partitionedWrite(o, path, Seq("o_orderstatus"))
      val hp = new org.apache.hadoop.fs.Path(path)
      hp.getFileSystem(s.sparkContext.hadoopConfiguration).deleteOnExit(hp)
      s.read.parquet(path)
        .filter(col("o_orderstatus") === "O")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double"), 2)
            .as("total"))
        .orderBy(col("o_orderpriority"))
    },
      """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
        |  ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
        |    AS total
        |FROM orders WHERE o_orderstatus = 'O'
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // Declarative quality gate: the full constraint suite (null / range /
    // set / regex / uniqueness / row floor) evaluated in one conditional-
    // aggregate scan plus one exact-distinct pass — the oracle recomputes
    // every verdict from raw SQL.
    Contract("q_quality_checks", (s, dir) => {
      import graft.operators.Quality
      Quality.check(t(s, dir, "orders"), Seq(
          Quality.NotNull("o_custkey"),
          Quality.InRange("o_totalprice", 0, 1000000),
          Quality.OneOf("o_orderstatus", Seq("F", "O", "P")),
          Quality.Matches("o_orderpriority", "^[1-5]-"),
          Quality.Unique(Seq("o_orderkey")),
          Quality.MinRows(100)))
        .orderBy(col("check"), col("target"))
    },
      """SELECT * FROM (
        |  SELECT 'not_null' AS "check", 'o_custkey' AS target,
        |    CAST(COUNT(*) FILTER (o_custkey IS NULL) AS BIGINT) AS violations,
        |    COUNT(*) FILTER (o_custkey IS NULL) = 0 AS passed FROM orders
        |  UNION ALL
        |  SELECT 'in_range[0.0,1000000.0]', 'o_totalprice',
        |    CAST(COUNT(*) FILTER (o_totalprice IS NOT NULL
        |      AND o_totalprice NOT BETWEEN 0 AND 1000000) AS BIGINT),
        |    COUNT(*) FILTER (o_totalprice IS NOT NULL
        |      AND o_totalprice NOT BETWEEN 0 AND 1000000) = 0 FROM orders
        |  UNION ALL
        |  SELECT 'one_of[F|O|P]', 'o_orderstatus',
        |    CAST(COUNT(*) FILTER (o_orderstatus IS NOT NULL
        |      AND o_orderstatus NOT IN ('F','O','P')) AS BIGINT),
        |    COUNT(*) FILTER (o_orderstatus IS NOT NULL
        |      AND o_orderstatus NOT IN ('F','O','P')) = 0 FROM orders
        |  UNION ALL
        |  SELECT 'matches[^[1-5]-]', 'o_orderpriority',
        |    CAST(COUNT(*) FILTER (o_orderpriority IS NOT NULL
        |      AND NOT regexp_matches(o_orderpriority, '^[1-5]-')) AS BIGINT),
        |    COUNT(*) FILTER (o_orderpriority IS NOT NULL
        |      AND NOT regexp_matches(o_orderpriority, '^[1-5]-')) = 0
        |  FROM orders
        |  UNION ALL
        |  SELECT 'unique', 'o_orderkey',
        |    CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT),
        |    COUNT(*) = COUNT(DISTINCT o_orderkey) FROM orders
        |  UNION ALL
        |  SELECT 'min_rows[100]', '*',
        |    CAST(GREATEST(0, 100 - COUNT(*)) AS BIGINT),
        |    COUNT(*) >= 100 FROM orders)
        |ORDER BY "check", target""".stripMargin),

    // Retention cohort matrix: users bucketed by first-seen week, activity
    // tracked at week offsets — the standard product-analytics rollup. One
    // distinct (user, week) projection feeds both the cohort assignment
    // (min) and the activity join; the matrix aggregation is a single
    // exchange on (cohort, offset).
    Contract("q_retention_cohorts", (s, dir) => {
      val ev = events(s, dir)
      val uw = ev.select(col("user_id"), date_trunc("week", col("ts")).as("w"))
        .distinct().localCheckpoint()
      val first = uw.groupBy(col("user_id")).agg(min(col("w")).as("cohort"))
      val sizes = first.groupBy(col("cohort")).agg(countDistinct(col("user_id")).as("cohort_size"))
      uw.join(first, "user_id")
        .groupBy(col("cohort"),
          (datediff(col("w"), col("cohort")) / 7).cast("int").as("week_offset"))
        .agg(countDistinct(col("user_id")).as("n_active"))
        .join(sizes, "cohort")
        .select(date_format(col("cohort"), "yyyy-MM-dd").as("cohort_week"),
          col("week_offset"), col("n_active"), col("cohort_size"),
          round(col("n_active").cast("double") / col("cohort_size"), 4)
            .as("retention"))
        .orderBy(col("cohort_week"), col("week_offset"))
    },
      """WITH uw AS (
        |  SELECT DISTINCT user_id, date_trunc('week', ts) AS w FROM events),
        |f AS (SELECT user_id, MIN(w) AS cohort FROM uw GROUP BY user_id),
        |sz AS (SELECT cohort, CAST(COUNT(*) AS BIGINT) AS cohort_size
        |       FROM f GROUP BY cohort),
        |m AS (
        |  SELECT f.cohort,
        |    CAST(DATEDIFF('day', f.cohort, uw.w) / 7 AS INT) AS week_offset,
        |    CAST(COUNT(DISTINCT uw.user_id) AS BIGINT) AS n_active
        |  FROM uw JOIN f ON uw.user_id = f.user_id
        |  GROUP BY 1, 2)
        |SELECT strftime(m.cohort, '%Y-%m-%d') AS cohort_week, week_offset,
        |  n_active, cohort_size,
        |  ROUND(CAST(n_active AS DOUBLE) / cohort_size, 4) AS retention
        |FROM m JOIN sz ON m.cohort = sz.cohort
        |ORDER BY cohort_week, week_offset""".stripMargin),

    // Month-over-month revenue growth: exact decimal-cent monthly sums
    // (partial-agg collapsed before the single exchange), then one lag
    // window over the ~80-row month series.
    Contract("q_mom_growth", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val o = t(s, dir, "orders")
      val monthly = o.groupBy(
          date_format(col("o_orderdate"), "yyyy-MM").as("month"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
      monthly
        .withColumn("_prev", lag(col("cents"), 1).over(Window.orderBy(col("month"))))
        .select(col("month"), col("cents"),
          coalesce(
            round((col("cents") - col("_prev")).cast("double") / col("_prev"), 4),
            lit(0.0)).as("mom_growth"))
        .orderBy(col("month"))
    },
      """WITH monthly AS (
        |  SELECT strftime(o_orderdate, '%Y-%m') AS month,
        |    CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS cents
        |  FROM orders GROUP BY 1)
        |SELECT month, cents,
        |  COALESCE(ROUND(CAST(cents - LAG(cents) OVER (ORDER BY month)
        |    AS DOUBLE) / LAG(cents) OVER (ORDER BY month), 4), 0.0)
        |    AS mom_growth
        |FROM monthly ORDER BY month""".stripMargin),

    // Ordered funnel (Funnel.funnel): users completing view -> click ->
    // purchase IN ORDER — chained cumulative windows, one exchange, one
    // per-user sweep. A purchase before the first view must not count.
    Contract("q_funnel", (s, dir) => {
      val ev = events(s, dir)
      graft.operators.Funnel.funnel(ev, "user_id", "ts", "event_type",
          Seq("view", "click", "purchase"), tieBreakCols = Seq("event_id"))
        .orderBy(col("stage_idx"))
    },
      """WITH s1 AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) OVER w AS r0
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS UNBOUNDED PRECEDING)),
        |s2 AS (
        |  SELECT *, MAX(CASE WHEN event_type = 'click' AND r0 = 1
        |                     THEN 1 ELSE 0 END) OVER w AS r1
        |  FROM s1
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS UNBOUNDED PRECEDING)),
        |s3 AS (
        |  SELECT *, MAX(CASE WHEN event_type = 'purchase' AND r1 = 1
        |                     THEN 1 ELSE 0 END) OVER w AS r2
        |  FROM s2
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS UNBOUNDED PRECEDING)),
        |pu AS (SELECT user_id, MAX(r0) AS r0, MAX(r1) AS r1, MAX(r2) AS r2
        |       FROM s3 GROUP BY user_id)
        |SELECT 0 AS stage_idx, 'view' AS stage,
        |  CAST(SUM(r0) AS BIGINT) AS n_users FROM pu
        |UNION ALL SELECT 1, 'click', CAST(SUM(r1) AS BIGINT) FROM pu
        |UNION ALL SELECT 2, 'purchase', CAST(SUM(r2) AS BIGINT) FROM pu
        |ORDER BY stage_idx""".stripMargin),

    // Daily event volumes with a trailing-window z-score — streaming-ish
    // anomaly detection expressed as a batch window query. The window frame
    // is per event_type ordered by day, so the shuffle is one exchange on
    // event_type after a partial-agg-collapsed daily rollup.
    Contract("q_anomaly_zscore", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = events(s, dir)
      val daily = ev.groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
        .rowsBetween(-7, -1)
      // nullif: a constant trailing window (stddev 0) yields NULL, matching
      // DuckDB's non-strict division instead of tripping ANSI div-by-zero
      daily.select(col("event_type"),
          date_format(col("day"), "yyyy-MM-dd").as("day"), col("n"),
          round((col("n") - avg(col("n")).over(w))
            / nullif(stddev_samp(col("n")).over(w), lit(0.0)), 4)
            .as("zscore"))
        // coalesce: a null z (warm-up frame) is "no spike", and a non-null
        // boolean keeps the oracle hash-compare free of null-render drift
        .withColumn("is_spike", coalesce(col("zscore") > lit(2.5), lit(false)))
        .orderBy(col("event_type"), col("day"))
    },
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n
        |  FROM events GROUP BY 1, 2),
        |z AS (
        |  SELECT event_type, day, n,
        |    ROUND((n - AVG(n) OVER w) / STDDEV_SAMP(n) OVER w, 4) AS zscore
        |  FROM daily
        |  WINDOW w AS (PARTITION BY event_type ORDER BY day
        |               ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
        |SELECT event_type, strftime(day, '%Y-%m-%d') AS day, n, zscore,
        |  COALESCE(zscore > 2.5, FALSE) AS is_spike
        |FROM z ORDER BY event_type, day""".stripMargin),

    // Time-series gap-fill: daily revenue per order priority on a complete
    // date spine, missing days forward-filled from the last observed day.
    // The spine is tiny (days x priorities, built from one global min/max
    // aggregate) so the left join broadcasts; the only real exchanges are
    // the daily rollup and one window pass per priority.
    Contract("q_gapfill", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val o = t(s, dir, "orders")
      val daily = o.groupBy(col("o_orderpriority").as("priority"),
          to_date(col("o_orderdate")).as("day"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double"), 2)
            .as("revenue"))
      val spine = o.agg(to_date(min(col("o_orderdate"))).as("d0"),
          to_date(max(col("o_orderdate"))).as("d1"))
        .select(explode(sequence(col("d0"), col("d1"))).as("day"))
        .crossJoin(o.select(col("o_orderpriority").as("priority")).distinct())
      val w = Window.partitionBy(col("priority")).orderBy(col("day"))
      spine.join(daily, Seq("priority", "day"), "left")
        .select(col("priority"), date_format(col("day"), "yyyy-MM-dd").as("day"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"),
          coalesce(last(col("revenue"), ignoreNulls = true).over(w), lit(0.0))
            .as("revenue_ff"),
          col("n_orders").isNull.as("is_filled"))
        .orderBy(col("priority"), col("day"))
    },
      """WITH daily AS (
        |  SELECT o_orderpriority AS priority, CAST(o_orderdate AS DATE) AS day,
        |    CAST(COUNT(*) AS BIGINT) AS n_orders,
        |    ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS revenue
        |  FROM orders GROUP BY 1, 2),
        |bounds AS (
        |  SELECT CAST(MIN(o_orderdate) AS DATE) AS d0,
        |         CAST(MAX(o_orderdate) AS DATE) AS d1
        |  FROM orders),
        |spine AS (
        |  SELECT CAST(UNNEST(GENERATE_SERIES(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
        |  FROM bounds),
        |grid AS (
        |  SELECT p.priority, s.day
        |  FROM spine s
        |  CROSS JOIN (SELECT DISTINCT o_orderpriority AS priority FROM orders) p)
        |SELECT g.priority, strftime(g.day, '%Y-%m-%d') AS day,
        |  COALESCE(d.n_orders, 0) AS n_orders,
        |  COALESCE(LAST_VALUE(d.revenue IGNORE NULLS) OVER (
        |    PARTITION BY g.priority ORDER BY g.day), 0.0) AS revenue_ff,
        |  (d.day IS NULL) AS is_filled
        |FROM grid g LEFT JOIN daily d ON g.priority = d.priority AND g.day = d.day
        |ORDER BY 1, 2""".stripMargin),

    // WITH RECURSIVE month ladder (Spark 4 recursive CTE): the anchor seeds
    // [first, last] order months, each step advances one month, then a left
    // join pins monthly order volume — empty months survive with zeroes.
    // Recursion depth = month span (~80 here), a driver-side plan property
    // independent of row count, so the shape is scale-safe.
    Contract("q_recursive_cte", (s, dir) => {
      val o = t(s, dir, "orders")
      o.createOrReplaceTempView("_rc_orders")
      s.sql("""
        WITH RECURSIVE months(m, mx) AS (
          SELECT trunc(CAST(MIN(o_orderdate) AS DATE), 'MONTH'),
                 trunc(CAST(MAX(o_orderdate) AS DATE), 'MONTH')
          FROM _rc_orders
          UNION ALL
          SELECT add_months(m, 1), mx FROM months WHERE m < mx
        )
        SELECT date_format(m, 'yyyy-MM') AS month,
               COUNT(o_orderkey) AS n_orders,
               COALESCE(ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                                   AS DOUBLE), 2), 0.0) AS revenue
        FROM months LEFT JOIN _rc_orders
          ON trunc(CAST(o_orderdate AS DATE), 'MONTH') = m
        GROUP BY m ORDER BY month""")
    },
      """WITH RECURSIVE months(m, mx) AS (
        |  SELECT CAST(DATE_TRUNC('month', MIN(o_orderdate)) AS DATE),
        |         CAST(DATE_TRUNC('month', MAX(o_orderdate)) AS DATE)
        |  FROM orders
        |  UNION ALL
        |  SELECT CAST(m + INTERVAL 1 MONTH AS DATE), mx FROM months WHERE m < mx
        |)
        |SELECT strftime(m, '%Y-%m') AS month,
        |  CAST(COUNT(o_orderkey) AS BIGINT) AS n_orders,
        |  COALESCE(ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
        |                      AS DOUBLE), 2), 0.0) AS revenue
        |FROM months LEFT JOIN orders
        |  ON CAST(DATE_TRUNC('month', o_orderdate) AS DATE) = m
        |GROUP BY m ORDER BY month""".stripMargin),

    // Incremental rollup maintenance: fold a 20% delta batch into a rollup
    // stored from the other 80% — cost scales with the delta, not the
    // history. The oracle recomputes the rollup from the FULL table, so
    // the gate verifies increment ≡ rebuild (exact for sum/count).
    Contract("q_incremental_rollup", (s, dir) => {
      val o = t(s, dir, "orders")
        .withColumn("cents", round(col("o_totalprice") * 100).cast("long"))
        .select(col("o_orderkey"), col("o_orderstatus"), col("cents"))
      val stored = graft.operators.Upsert.rollup(
        o.filter(col("o_orderkey") % 5 =!= 0), Seq("o_orderstatus"), Seq("cents"))
      graft.operators.Upsert.incrementalRollup(
          stored, o.filter(col("o_orderkey") % 5 === 0),
          Seq("o_orderstatus"), Seq("cents"))
        .orderBy(col("o_orderstatus"))
    },
      // full-table recompute: the equivalence oracle for the incremental path
      """SELECT o_orderstatus,
        |  CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS cents,
        |  CAST(COUNT(*) AS BIGINT) AS n_rows
        |FROM orders GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin),

    // LATERAL correlated subquery with LIMIT (top-3 customers per nation):
    // Spark decorrelates the per-row ORDER BY/LIMIT into a ranked window —
    // dialect parity with engines that execute LATERAL as a loop join.
    Contract("q_lateral_topn", (s, dir) => {
      t(s, dir, "nation").createOrReplaceTempView("_lt_nation")
      t(s, dir, "customer").createOrReplaceTempView("_lt_customer")
      s.sql("""
        SELECT n_name, c.c_custkey, ROUND(c.c_acctbal, 2) AS acctbal
        FROM _lt_nation,
        LATERAL (
          SELECT c_custkey, c_acctbal FROM _lt_customer
          WHERE c_nationkey = n_nationkey
          ORDER BY c_acctbal DESC, c_custkey LIMIT 3) c
        ORDER BY n_name, acctbal DESC, c_custkey""")
    },
      """SELECT n_name, c.c_custkey, ROUND(c.c_acctbal, 2) AS acctbal
        |FROM nation,
        |LATERAL (
        |  SELECT c_custkey, c_acctbal FROM customer
        |  WHERE c_nationkey = n_nationkey
        |  ORDER BY c_acctbal DESC, c_custkey LIMIT 3) c
        |ORDER BY n_name, acctbal DESC, c_custkey""".stripMargin),

    // NOT IN vs NOT EXISTS null semantics: the second probe list contains
    // NULLs (every 'P'-status order yields one), so its NOT IN must return
    // zero matches under three-valued logic, while NOT EXISTS ignores NULLs
    // entirely. Exercises Spark's null-aware anti join alongside the plain
    // left-anti path.
    Contract("q_notin_nulls", (s, dir) => {
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      o.createOrReplaceTempView("_nn_orders")
      c.createOrReplaceTempView("_nn_customer")
      s.sql("""
        SELECT
          (SELECT COUNT(*) FROM _nn_customer
           WHERE c_custkey NOT IN (SELECT o_custkey FROM _nn_orders
                                   WHERE o_orderstatus <> 'P'))
            AS n_not_in_clean,
          (SELECT COUNT(*) FROM _nn_customer
           WHERE c_custkey NOT IN (
             SELECT CASE WHEN o_orderstatus = 'P' THEN NULL
                         ELSE o_custkey END
             FROM _nn_orders)) AS n_not_in_with_nulls,
          (SELECT COUNT(*) FROM _nn_customer c
           WHERE NOT EXISTS (
             SELECT 1 FROM _nn_orders o
             WHERE o.o_orderstatus <> 'P'
               AND o.o_custkey = c.c_custkey)) AS n_not_exists""")
    },
      """SELECT
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM customer
        |   WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
        |                           WHERE o_orderstatus <> 'P'))
        |    AS n_not_in_clean,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM customer
        |   WHERE c_custkey NOT IN (
        |     SELECT CASE WHEN o_orderstatus = 'P' THEN NULL
        |                 ELSE o_custkey END
        |     FROM orders)) AS n_not_in_with_nulls,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM customer c
        |   WHERE NOT EXISTS (
        |     SELECT 1 FROM orders o
        |     WHERE o.o_orderstatus <> 'P'
        |       AND o.o_custkey = c.c_custkey)) AS n_not_exists""".stripMargin),

    // explicit GROUPING SETS (beyond rollup/cube): two unrelated groupings
    // plus grand total in one pass, with grouping_id disambiguation
    Contract("q_grouping_sets", (s, dir) => {
      val o = t(s, dir, "orders")
      o.createOrReplaceTempView("gs_orders")
      s.sql("""
        SELECT o_orderstatus, o_orderpriority,
               grouping_id() AS gid,
               COUNT(*) AS n,
               ROUND(SUM(o_totalprice), 2) AS total
        FROM gs_orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        ORDER BY gid, o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""")
    },
      """SELECT o_orderstatus, o_orderpriority,
        |  GROUPING(o_orderstatus, o_orderpriority) AS gid,
        |  COUNT(*) AS n,
        |  ROUND(SUM(o_totalprice), 2) AS total
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY gid, o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin),

    // TPC-H Q3 shape: shipping priority (3-way join, filter both sides,
    // group, sort by revenue, limit)
    Contract("q_tpch_q3", (s, dir) => {
      val c = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") < lit("1995-03-15").cast("timestamp"))
      val l = t(s, dir, "lineitem")
        .filter(col("l_shipdate") > lit("1995-03-15").cast("timestamp"))
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .groupBy(col("l_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
          col("o_orderpriority"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    },
      """SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
        |  o_orderpriority,
        |  ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
        |GROUP BY l_orderkey, strftime(o_orderdate, '%Y-%m-%d'), o_orderpriority
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin),

    // TPC-H Q5 shape: local volume through a 6-table join chain
    // TPC-H Q10 (returned-item reporting): quarter-scoped returns rolled up
    // to customers, top 20 by lost revenue. Date + returnflag predicates
    // push to the scans; nation broadcasts; revenue follows the proven
    // q_tpch_q3 sum-then-round pattern.
    Contract("q_tpch_q10", (s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem")
      val n = t(s, dir, "nation")
      c.join(o, col("c_custkey") === col("o_custkey"))
        .join(l, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .filter(col("l_returnflag") === "R"
          && col("o_orderdate") >= lit("1995-10-01")
          && col("o_orderdate") < lit("1996-01-01"))
        .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    },
      """SELECT c_custkey, c_name, n_name,
        |  ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |  CAST(COUNT(*) AS BIGINT) AS n_items
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1995-10-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
        |GROUP BY c_custkey, c_name, n_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin),

    // TPC-H Q18 (large-volume customers): HAVING-filtered aggregate as a
    // left-semi probe, then the 3-table join re-aggregates only the
    // surviving orders — the big lineitem scan feeds one partial agg and
    // one semi-joined pass, never a full materialized join of everything.
    Contract("q_tpch_q18", (s, dir) => {
      val l = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val big = l.groupBy(col("l_orderkey")).agg(sum(col("l_quantity")).as("_sq"))
        .filter(col("_sq") > 300).select(col("l_orderkey").as("_bk"))
      o.join(big, col("o_orderkey") === col("_bk"), "left_semi")
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(l, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("c_name"), col("c_custkey"), col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
          col("o_totalprice"))
        .agg(sum(col("l_quantity")).cast("long").as("sum_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100)
    },
      """SELECT c_name, c_custkey, o_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
        |  o_totalprice, CAST(SUM(l_quantity) AS BIGINT) AS sum_qty
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE o_orderkey IN (
        |  SELECT l_orderkey FROM lineitem
        |  GROUP BY l_orderkey HAVING SUM(l_quantity) > 300)
        |GROUP BY c_name, c_custkey, o_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d'), o_totalprice
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin),

    Contract("q_tpch_q5", (s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem")
      val su = t(s, dir, "supplier")
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region").filter(col("r_name") === "ASIA")
      c.join(o, c("c_custkey") === o("o_custkey"))
        .join(l, o("o_orderkey") === l("l_orderkey"))
        .join(su, l("l_suppkey") === su("s_suppkey") && c("c_nationkey") === su("s_nationkey"))
        .join(broadcast(n), su("s_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    },
      """SELECT n_name,
        |  ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin),

    // TPC-H Q6 (forecasting revenue change): the canonical scan-only query —
    // every predicate reaches the parquet scan (shipdate range, discount
    // band, quantity cap), then a single partial+final agg. No join, no
    // wide shuffle: the 100 TB plan is "read the pruned row groups, sum".
    Contract("q_tpch_q6", (s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01")
          && col("l_shipdate") < lit("1997-01-01")
          && col("l_discount").between(0.05, 0.07)
          && col("l_quantity") < 24)
        .agg(
          round(sum(col("l_extendedprice") * col("l_discount")), 2).as("revenue"),
          count(lit(1)).as("n_lines"))
    },
      """SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue,
        |  CAST(COUNT(*) AS BIGINT) AS n_lines
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin),

    // TPC-H Q4 adapted to this schema (no commit/receipt dates): order
    // priority checking via EXISTS — orders in a quarter with at least one
    // line shipped >60 days after the order date. left_semi keeps the
    // probe side single-pass; the date predicate prunes orders first.
    Contract("q_tpch_q4", (s, dir) => {
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01")
          && col("o_orderdate") < lit("1996-10-01"))
      val l = t(s, dir, "lineitem")
      o.join(l,
          o("o_orderkey") === l("l_orderkey")
            && l("l_shipdate") > o("o_orderdate") + expr("INTERVAL 60 DAYS"),
          "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
        .orderBy(col("o_orderpriority"))
    },
      """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-10-01'
        |  AND EXISTS (
        |    SELECT 1 FROM lineitem
        |    WHERE l_orderkey = o_orderkey
        |      AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),

    // TPC-H Q14 (promo revenue): join pruned lineitem window to part,
    // conditional-sum ratio in one aggregate. p_type here is a single word,
    // so equality replaces the spec's LIKE 'PROMO%'.
    Contract("q_tpch_q14", (s, dir) => {
      val l = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-03-01")
          && col("l_shipdate") < lit("1996-06-01"))
      val p = t(s, dir, "part")
      val rev = col("l_extendedprice") * (lit(1) - col("l_discount"))
      l.join(p, l("l_partkey") === p("p_partkey"))
        .agg(
          round(sum(when(col("p_type") === "PROMO", rev).otherwise(0.0)) * 100.0
            / sum(rev), 4).as("promo_revenue_pct"),
          round(sum(rev), 2).as("total_revenue"))
    },
      """SELECT
        |  ROUND(SUM(CASE WHEN p_type = 'PROMO'
        |    THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END) * 100.0
        |    / SUM(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue_pct,
        |  ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1996-03-01'
        |  AND l_shipdate < TIMESTAMP '1996-06-01'""".stripMargin),

    // TPC-H Q19 shape (disjunctive brand/size/quantity predicates): Catalyst
    // splits the equi-key from the OR residual, so this stays a hash join
    // on partkey with the disjunction evaluated post-match — not a nested-
    // loop. Container/shipmode clauses dropped (absent from this schema).
    Contract("q_tpch_q19", (s, dir) => {
      val l = t(s, dir, "lineitem")
      val p = t(s, dir, "part")
      val clause =
        (col("p_brand") === "Brand#12" && col("p_size").between(1, 15)
          && col("l_quantity").between(1, 11)) ||
        (col("p_brand") === "Brand#23" && col("p_size").between(1, 25)
          && col("l_quantity").between(10, 20)) ||
        (col("p_brand") === "Brand#15" && col("p_size").between(1, 35)
          && col("l_quantity").between(20, 30))
      l.join(p, l("l_partkey") === p("p_partkey") && clause)
        .agg(
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("revenue"),
          count(lit(1)).as("n_lines"))
    },
      """SELECT ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |  CAST(COUNT(*) AS BIGINT) AS n_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
        |       AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#15' AND p_size BETWEEN 1 AND 35
        |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin),

    // TPC-H Q7 (volume shipping): bidirectional nation-pair trade by ship
    // year. The two nation lookups broadcast; the OR pair filter is a
    // post-join residual on the broadcasted dims, so the big tables still
    // join on pure equi-keys.
    Contract("q_tpch_q7", (s, dir) => {
      val l = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01")
          && col("l_shipdate") < lit("1998-01-01"))
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val su = t(s, dir, "supplier")
      val n1 = t(s, dir, "nation")
        .select(col("n_nationkey").as("_sn_key"), col("n_name").as("supp_nation"))
      val n2 = t(s, dir, "nation")
        .select(col("n_nationkey").as("_cn_key"), col("n_name").as("cust_nation"))
      su.join(l, su("s_suppkey") === l("l_suppkey"))
        .join(o, l("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n1), su("s_nationkey") === col("_sn_key"))
        .join(broadcast(n2), c("c_nationkey") === col("_cn_key"))
        .filter(
          (col("supp_nation") === "NATION_10" && col("cust_nation") === "NATION_12")
            || (col("supp_nation") === "NATION_12" && col("cust_nation") === "NATION_10"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).as("l_year"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))
        .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
    },
      """SELECT supp_nation, cust_nation, l_year,
        |  ROUND(SUM(volume), 2) AS revenue
        |FROM (
        |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |    EXTRACT(year FROM l_shipdate) AS l_year,
        |    l_extendedprice * (1 - l_discount) AS volume
        |  FROM supplier
        |  JOIN lineitem ON s_suppkey = l_suppkey
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1998-01-01'
        |    AND ((n1.n_name = 'NATION_10' AND n2.n_name = 'NATION_12')
        |      OR (n1.n_name = 'NATION_12' AND n2.n_name = 'NATION_10')))
        |GROUP BY supp_nation, cust_nation, l_year
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin),

    // TPC-H Q8 (market share): one nation's share of a region's ECONOMY-part
    // import volume per order year — conditional-sum ratio, region/nation
    // dims broadcast, part filter applied before its join.
    Contract("q_tpch_q8", (s, dir) => {
      val p = t(s, dir, "part").filter(col("p_type") === "ECONOMY")
      val l = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01")
          && col("o_orderdate") < lit("1998-01-01"))
      val c = t(s, dir, "customer")
      val n1 = t(s, dir, "nation")
        .select(col("n_nationkey").as("_cn_key"), col("n_regionkey"))
      val r = t(s, dir, "region").filter(col("r_name") === "AMERICA")
      val su = t(s, dir, "supplier")
      val n2 = t(s, dir, "nation")
        .select(col("n_nationkey").as("_sn_key"), col("n_name").as("supp_nation"))
      val vol = col("l_extendedprice") * (lit(1) - col("l_discount"))
      l.join(broadcast(p), l("l_partkey") === p("p_partkey"))
        .join(o, l("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n1), c("c_nationkey") === col("_cn_key"))
        .join(broadcast(r), col("n_regionkey") === r("r_regionkey"))
        .join(su, l("l_suppkey") === su("s_suppkey"))
        .join(broadcast(n2), su("s_nationkey") === col("_sn_key"))
        .groupBy(year(col("o_orderdate")).as("o_year"))
        .agg(round(
          sum(when(col("supp_nation") === "NATION_6", vol).otherwise(0.0))
            / sum(vol), 4).as("mkt_share"))
        .orderBy(col("o_year"))
    },
      """SELECT o_year,
        |  ROUND(SUM(CASE WHEN supp_nation = 'NATION_6' THEN volume
        |    ELSE 0.0 END) / SUM(volume), 4) AS mkt_share
        |FROM (
        |  SELECT EXTRACT(year FROM o_orderdate) AS o_year,
        |    l_extendedprice * (1 - l_discount) AS volume,
        |    n2.n_name AS supp_nation
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation n1 ON c_nationkey = n1.n_nationkey
        |  JOIN region ON n1.n_regionkey = r_regionkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation n2 ON s_nationkey = n2.n_nationkey
        |  WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
        |    AND o_orderdate >= TIMESTAMP '1996-01-01'
        |    AND o_orderdate < TIMESTAMP '1998-01-01')
        |GROUP BY o_year ORDER BY o_year""".stripMargin),

    // TPC-H Q2 adapted (no partsupp table in this schema): minimum-cost
    // supplier per part, with "supply cost" proxied by the minimum effective
    // unit price a supplier ever charged for the part
    // (l_extendedprice / l_quantity * (1 - l_discount)). Region-scoped
    // suppliers and the part filter broadcast into the lineitem scan; the
    // spec's correlated min-cost subquery is a window MIN over partkey —
    // one shuffle serves the per-supplier min and the per-part min. Ties
    // (all suppliers at the min) are kept, as in the spec; the full sort key
    // is unique so LIMIT is deterministic.
    Contract("q_tpch_q2", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val eu = t(s, dir, "nation")
        .join(t(s, dir, "region"), col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === "EUROPE")
        .select(col("n_nationkey"), col("n_name"))
      val su = t(s, dir, "supplier")
        .join(broadcast(eu), col("s_nationkey") === col("n_nationkey"))
      val p = t(s, dir, "part").filter(col("p_type") === "PROMO")
        .select(col("p_partkey"), col("p_name"))
      val unit = col("l_extendedprice") / col("l_quantity") * (lit(1) - col("l_discount"))
      val perSupp = t(s, dir, "lineitem")
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .join(broadcast(su.select(col("s_suppkey").as("_sk"))),
          col("l_suppkey") === col("_sk"), "left_semi")
        .groupBy(col("l_partkey"), col("p_name"), col("l_suppkey"))
        .agg(min(unit).as("cost"))
      val w = Window.partitionBy(col("l_partkey"))
      perSupp.withColumn("_min_cost", min(col("cost")).over(w))
        .filter(col("cost") === col("_min_cost"))
        .join(broadcast(su), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_acctbal"), col("s_name"), col("n_name"),
          col("l_partkey").as("p_partkey"), col("p_name"),
          round(col("cost"), 4).as("cost"))
        .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"),
          col("p_partkey"))
        .limit(100)
    },
      """WITH costs AS (
        |  SELECT l_partkey AS p_partkey, p_name, l_suppkey,
        |    MIN(l_extendedprice / l_quantity * (1 - l_discount)) AS cost
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE p_type = 'PROMO' AND r_name = 'EUROPE'
        |  GROUP BY 1, 2, 3)
        |SELECT s_acctbal, s_name, n_name, p_partkey, p_name,
        |  ROUND(cost, 4) AS cost
        |FROM costs
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE cost = (SELECT MIN(cost) FROM costs c2
        |              WHERE c2.p_partkey = costs.p_partkey)
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
        |LIMIT 100""".stripMargin),

    // TPC-H Q9 adapted (no partsupp => no supply-cost term): revenue by
    // supplier nation and order year for parts whose name contains a token.
    // The part filter broadcasts into the lineitem scan first (~1/7
    // survives), supplier/nation broadcast, orders is the only big-big
    // join — the Q9 plan at 100 TB is exactly this: prune with the smallest
    // dimension, shuffle once on orderkey.
    Contract("q_tpch_q9", (s, dir) => {
      val p = t(s, dir, "part").filter(col("p_name").contains("widget"))
        .select(col("p_partkey"))
      val su = t(s, dir, "supplier")
      val n = t(s, dir, "nation")
      val o = t(s, dir, "orders")
      t(s, dir, "lineitem")
        .join(broadcast(p), col("l_partkey") === col("p_partkey"), "left_semi")
        .join(broadcast(su.select(col("s_suppkey"), col("s_nationkey"))),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(o.select(col("o_orderkey"), col("o_orderdate")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("n_name").as("nation"),
          year(col("o_orderdate")).as("o_year"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("sum_profit"))
        .orderBy(col("nation"), col("o_year").desc)
    },
      """SELECT n_name AS nation,
        |  CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
        |  ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_profit
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_partkey IN (SELECT p_partkey FROM part
        |                    WHERE p_name LIKE '%widget%')
        |GROUP BY 1, 2 ORDER BY 1, 2 DESC""".stripMargin),

    // TPC-H Q11 adapted (no partsupp => part "value" proxied by region-
    // scoped trade volume): parts whose lineitem revenue from EUROPE
    // suppliers exceeds 0.1% of the region total. Revenue is accumulated in
    // EXACT integer cents (floor of the per-row product — bit-identical in
    // any engine, any aggregation order), so the global-threshold compare
    // cannot flip on a last-ulp double difference. The total is a 1-row
    // aggregate broadcast back over the per-part rollup.
    Contract("q_tpch_q11", (s, dir) => {
      val eu = t(s, dir, "nation")
        .join(t(s, dir, "region"), col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === "EUROPE")
        .select(col("n_nationkey"))
      val sup = t(s, dir, "supplier")
        .join(broadcast(eu), col("s_nationkey") === col("n_nationkey"), "left_semi")
        .select(col("s_suppkey"))
      val cents = floor(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
        .cast("long")
      val perPart = t(s, dir, "lineitem")
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"), "left_semi")
        .groupBy(col("l_partkey"))
        .agg(sum(cents).as("value_cents"))
      val total = perPart.agg(sum(col("value_cents")).as("_total"))
      perPart.join(broadcast(total))
        .filter(col("value_cents").cast("double") >
          col("_total").cast("double") * 0.001)
        .select(col("l_partkey").as("p_partkey"), col("value_cents"))
        .orderBy(col("value_cents").desc, col("p_partkey"))
    },
      """WITH per_part AS (
        |  SELECT l_partkey AS p_partkey,
        |    CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100)
        |      AS BIGINT)) AS BIGINT) AS value_cents
        |  FROM lineitem
        |  WHERE l_suppkey IN (
        |    SELECT s_suppkey FROM supplier
        |    JOIN nation ON s_nationkey = n_nationkey
        |    JOIN region ON n_regionkey = r_regionkey
        |    WHERE r_name = 'EUROPE')
        |  GROUP BY 1)
        |SELECT p_partkey, value_cents FROM per_part
        |WHERE CAST(value_cents AS DOUBLE) >
        |  (SELECT CAST(SUM(value_cents) AS DOUBLE) FROM per_part) * 0.001
        |ORDER BY value_cents DESC, p_partkey""".stripMargin),

    // TPC-H Q16 adapted: supplier breadth per (brand, type, size) for parts
    // outside one brand/type, sizes from a fixed list, excluding suppliers
    // in deficit (acctbal < 0 — the schema has no comment column for the
    // spec's complaint scan). Part filter broadcasts into the scan, the
    // exclusion is a broadcast anti-join, and the count-distinct groups on
    // (brand, type, size) — supplier breadth, the Q16 shape.
    Contract("q_tpch_q16", (s, dir) => {
      val p = t(s, dir, "part")
        .filter(col("p_brand") =!= "Brand#13" && col("p_type") =!= "PROMO"
          && col("p_size").isin(2, 3, 9, 14, 19, 23, 36, 45))
        .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))
      val badSupp = t(s, dir, "supplier").filter(col("s_acctbal") < 0)
        .select(col("s_suppkey"))
      t(s, dir, "lineitem")
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .join(broadcast(badSupp), col("l_suppkey") === col("s_suppkey"), "left_anti")
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
          col("p_size"))
    },
      """SELECT p_brand, p_type, p_size,
        |  CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#13' AND p_type <> 'PROMO'
        |  AND p_size IN (2, 3, 9, 14, 19, 23, 36, 45)
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
        |                        WHERE s_acctbal < 0)
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin),

    // TPC-H Q20 adapted (no partsupp availqty): suppliers who moved more
    // than half the per-supplier average quantity of 'cold%' parts in 1996,
    // by nation — the spec's correlated availability threshold becomes a
    // 1-row average broadcast over the per-supplier rollup, and the final
    // supplier selection is a semi-join (the Q20 nested-EXISTS shape).
    // Quantities are integer-valued doubles: sums and the average are exact
    // in any engine and any order.
    Contract("q_tpch_q20", (s, dir) => {
      val coldParts = t(s, dir, "part").filter(col("p_name").like("cold%"))
        .select(col("p_partkey"))
      val qty96 = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01")
          && col("l_shipdate") < lit("1997-01-01"))
        .join(broadcast(coldParts), col("l_partkey") === col("p_partkey"), "left_semi")
        .groupBy(col("l_suppkey"))
        .agg(sum(col("l_quantity")).as("_qty"))
      val avgq = qty96.agg(avg(col("_qty")).as("_avg"))
      val keep = qty96.join(broadcast(avgq))
        .filter(col("_qty") > col("_avg") * 0.5)
        .select(col("l_suppkey"))
      t(s, dir, "supplier")
        .join(broadcast(keep), col("s_suppkey") === col("l_suppkey"), "left_semi")
        .join(broadcast(t(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_name"), col("n_name"))
        .orderBy(col("s_name"))
    },
      """WITH qty96 AS (
        |  SELECT l_suppkey, SUM(l_quantity) AS qty
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1997-01-01'
        |    AND l_partkey IN (SELECT p_partkey FROM part
        |                      WHERE p_name LIKE 'cold%')
        |  GROUP BY 1)
        |SELECT s_name, n_name
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |WHERE s_suppkey IN (
        |  SELECT l_suppkey FROM qty96
        |  WHERE qty > (SELECT AVG(qty) FROM qty96) * 0.5)
        |ORDER BY s_name""".stripMargin),

    // TPC-H Q12 adapted (no l_shipmode column in this schema): late-shipment
    // priority audit by linestatus — lines shipped >60 days after order date
    // in 1996, split into high/low priority counts. One join, one
    // conditional-sum aggregate; both date predicates reach the lineitem scan.
    Contract("q_tpch_q12", (s, dir) => {
      val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01")
          && col("l_shipdate") < lit("1997-01-01"))
      val hi = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      o.join(l, col("o_orderkey") === col("l_orderkey")
          && col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
        .groupBy(col("l_linestatus"))
        .agg(
          sum(when(hi, 1L).otherwise(0L)).as("high_line_count"),
          sum(when(hi, 0L).otherwise(1L)).as("low_line_count"))
        .orderBy(col("l_linestatus"))
    },
      """SELECT l_linestatus,
        |  CAST(COUNT(*) FILTER (o_orderpriority IN ('1-URGENT','2-HIGH'))
        |    AS BIGINT) AS high_line_count,
        |  CAST(COUNT(*) FILTER (o_orderpriority NOT IN ('1-URGENT','2-HIGH'))
        |    AS BIGINT) AS low_line_count
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
        |  AND l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin),

    // TPC-H Q13 (customer order-count distribution): LEFT join keeps
    // zero-order customers; the join-side filter (priority <> URGENT) lives in
    // the join condition, not a WHERE, so empty groups count as 0. Two
    // aggregations: per-customer count, then the distribution histogram.
    Contract("q_tpch_q13", (s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").filter(col("o_orderpriority") =!= "1-URGENT")
      c.join(o, col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    },
      """SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist FROM (
        |  SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
        |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |    AND o_orderpriority <> '1-URGENT'
        |  GROUP BY c_custkey)
        |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin),

    // TPC-H Q15 (top supplier): quarter revenue per supplier, then keep the
    // supplier(s) hitting the max. The max is a 1-row aggregate broadcast
    // back onto the 10k-row revenue view — no second lineitem pass, no sort.
    // Selection compares the raw sums (within-engine consistent); only the
    // output is rounded.
    Contract("q_tpch_q15", (s, dir) => {
      val l = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01")
          && col("l_shipdate") < lit("1996-04-01"))
      val revenue = l.groupBy(col("l_suppkey"))
        .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("_rev"))
      val top = revenue.agg(max(col("_rev")).as("_maxrev"))
      val su = t(s, dir, "supplier")
      su.join(revenue, col("s_suppkey") === col("l_suppkey"))
        .join(broadcast(top), col("_rev") === col("_maxrev"))
        .select(col("s_suppkey"), col("s_name"),
          round(col("_rev"), 2).as("total_revenue"))
        .orderBy(col("s_suppkey"))
    },
      """WITH revenue AS (
        |  SELECT l_suppkey AS supplier_no,
        |    SUM(l_extendedprice * (1 - l_discount)) AS rev
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, ROUND(rev, 2) AS total_revenue
        |FROM supplier JOIN revenue ON s_suppkey = supplier_no
        |WHERE rev = (SELECT MAX(rev) FROM revenue)
        |ORDER BY s_suppkey""".stripMargin),

    // TPC-H Q17 (small-quantity-order revenue): brand parts broadcast-semi
    // filter the lineitem scan first (~1/25 survives), then a per-part window
    // average replaces the spec's correlated scalar subquery — one shuffle on
    // partkey serves both the average and the filter. Quantities are
    // integer-valued doubles, so the avg threshold is order-independent and
    // engine-exact.
    Contract("q_tpch_q17", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val p = t(s, dir, "part").filter(col("p_brand") === "Brand#23")
        .select(col("p_partkey"))
      val l = t(s, dir, "lineitem")
        .join(broadcast(p), col("l_partkey") === col("p_partkey"), "left_semi")
      val w = Window.partitionBy(col("l_partkey"))
      l.withColumn("_avg_qty", avg(col("l_quantity")).over(w))
        .filter(col("l_quantity") < lit(0.5) * col("_avg_qty"))
        .agg(
          round(sum(col("l_extendedprice")) / 7.0, 2).as("avg_yearly"),
          count(lit(1)).as("n_lines"))
    },
      """SELECT ROUND(SUM(l_extendedprice) / 7.0, 2) AS avg_yearly,
        |  CAST(COUNT(*) AS BIGINT) AS n_lines
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE p_brand = 'Brand#23'
        |  AND l_quantity < (
        |    SELECT 0.5 * AVG(l_quantity) FROM lineitem l2
        |    WHERE l2.l_partkey = p_partkey)""".stripMargin),

    // TPC-H Q21 adapted (suppliers who kept orders waiting; "late" =
    // shipped >90 days after order date, no receipt/commit dates in this
    // schema). The spec's EXISTS + NOT-EXISTS pair of correlated self-joins
    // collapses into ONE per-order aggregate: count distinct suppliers and
    // distinct late suppliers, then a late line is a sole-blame line iff the
    // order has >1 supplier and exactly 1 late one. Single shuffle on
    // orderkey instead of three lineitem passes — the 100 TB plan.
    Contract("q_tpch_q21", (s, dir) => {
      val o = t(s, dir, "orders").filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_orderdate"))
      val l = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
      val lo = l.join(o, col("l_orderkey") === col("o_orderkey"))
        .withColumn("_late",
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"))
      // two-level agg (order,supp)->(order) instead of two countDistincts in
      // one groupBy: same answer, no Expand rewrite doubling the shuffle
      val perOrder = lo
        .groupBy(col("l_orderkey").as("_ok"), col("l_suppkey").as("_sk"))
        .agg(max(col("_late")).as("_supp_late"))
        .groupBy(col("_ok"))
        .agg(
          count(lit(1)).as("_n_supp"),
          sum(when(col("_supp_late"), 1L).otherwise(0L)).as("_n_late"))
      val su = t(s, dir, "supplier")
      lo.filter(col("_late"))
        .join(perOrder, col("l_orderkey") === col("_ok"))
        .filter(col("_n_supp") > 1 && col("_n_late") === 1)
        .join(broadcast(su), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(20)
    },
      """SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
        |FROM supplier
        |JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
        |JOIN orders ON o_orderkey = l1.l_orderkey
        |WHERE o_orderstatus = 'F'
        |  AND l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
        |  AND EXISTS (
        |    SELECT 1 FROM lineitem l2
        |    WHERE l2.l_orderkey = l1.l_orderkey
        |      AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (
        |    SELECT 1 FROM lineitem l3
        |    WHERE l3.l_orderkey = l1.l_orderkey
        |      AND l3.l_suppkey <> l1.l_suppkey
        |      AND l3.l_shipdate > o_orderdate + INTERVAL 90 DAY)
        |GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin),

    // TPC-H Q22 adapted (no phone column; "inactive" = no orders since
    // 2000-01-01): wealthy inactive customers per nation. The global average
    // threshold is computed in exact integer cents (deterministic in any
    // engine, any partition order) and broadcast as a 1-row cross join; the
    // recency check is a broadcast anti-join against the pruned orders scan.
    Contract("q_tpch_q22", (s, dir) => {
      val c = t(s, dir, "customer")
        .withColumn("_cents", round(col("c_acctbal") * 100).cast("long"))
      val avgCents = c.filter(col("c_acctbal") > 0.0)
        .agg((sum(col("_cents")).cast("double") / count(lit(1))).as("_avg_cents"))
      val recent = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("2000-01-01"))
        .select(col("o_custkey"))
      c.join(broadcast(avgCents))
        .filter(col("_cents").cast("double") > col("_avg_cents"))
        .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("numcust"), sum(col("_cents")).as("acct_cents"))
        .orderBy(col("c_nationkey"))
    },
      """SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS numcust,
        |  CAST(SUM(cents) AS BIGINT) AS acct_cents
        |FROM (SELECT c_custkey, c_nationkey,
        |        CAST(ROUND(c_acctbal * 100) AS BIGINT) AS cents
        |      FROM customer) c
        |WHERE CAST(cents AS DOUBLE) > (
        |    SELECT CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS DOUBLE)
        |      / COUNT(*)
        |    FROM customer WHERE c_acctbal > 0.0)
        |  AND NOT EXISTS (
        |    SELECT 1 FROM orders WHERE o_custkey = c.c_custkey
        |      AND o_orderdate >= TIMESTAMP '2000-01-01')
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin),

    // Bucketed co-located join (Layout.bucketedWrite promoted to the driver
    // gate): both sides land in the catalog hash-bucketed AND bucket-sorted
    // on the join key, so the join plans with NO shuffle exchange and no
    // sort, and the groupBy on the same key rides the bucket partitioning
    // too — the layout cost is paid once at write, every subsequent run of
    // a recurring fact join is shuffle-free. PlanQualitySpec asserts the
    // Exchange-free plan; the oracle replays the same join on the raw
    // parquet. Sums are exact integer cents.
    Contract("q_bucketed_join", (s, dir) => {
      val c = t(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment"))
      val o = t(s, dir, "orders").select(col("o_custkey"),
        round(col("o_totalprice") * 100).cast("long").as("_cents"))
      operators.Layout.bucketedWrite(c, "graft_bj_customer", 8,
        Seq("c_custkey"), Seq("c_custkey"))
      operators.Layout.bucketedWrite(o, "graft_bj_orders", 8,
        Seq("o_custkey"), Seq("o_custkey"))
      s.table("graft_bj_customer")
        .join(s.table("graft_bj_orders"), col("c_custkey") === col("o_custkey"))
        .groupBy(col("c_custkey"), col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"), sum(col("_cents")).as("cents"))
        .orderBy(col("c_custkey"))
    },
      """SELECT c_custkey, c_mktsegment,
        |  CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS cents
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey, c_mktsegment
        |ORDER BY c_custkey""".stripMargin),

    // exact percentiles (sort-based, matches ANSI percentile_cont). One
    // percentile(col, array(...)) aggregate: a single value-count buffer per
    // group serves all three points — three separate percentile() calls each
    // maintain (and merge) their own copy of the full value map.
    Contract("q_percentiles", (s, dir) => {
      val li = t(s, dir, "lineitem")
      // hash-spread the exact-percentile partial aggregation (3 groups,
      // one-row-group scan = one task otherwise; the value-count maps
      // merge commutatively so the interpolated result is
      // partitioning-independent)
      spreadIfNarrow(li, col("l_orderkey"))
        .groupBy(col("l_returnflag"))
        .agg(expr("percentile(l_extendedprice, array(0.5D, 0.9D, 0.99D))").as("_p"))
        .select(col("l_returnflag"),
          round(col("_p").getItem(0), 4).as("p50"),
          round(col("_p").getItem(1), 4).as("p90"),
          round(col("_p").getItem(2), 4).as("p99"))
        .orderBy(col("l_returnflag"))
    },
      """SELECT l_returnflag,
        |  ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
        |  ROUND(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
        |  ROUND(quantile_cont(l_extendedprice, 0.99), 4) AS p99
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    // approximate percentiles — the 100 TB answer to q_percentiles: Spark's
    // approx_percentile (Greenwald-Khanna summaries) keeps O(1/accuracy)
    // state per group instead of the exact aggregate's full value-count map,
    // and merges map-side. The approx values themselves depend on summary
    // merge order, so the contract emits rank-error booleans instead: GK
    // guarantees rank error <= N/accuracy, verified with one codegen'd
    // fraction-below pass (no second exact-percentile buffer anywhere).
    Contract("q_approx_percentiles", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val approx = li.agg(
        expr("approx_percentile(l_extendedprice, array(0.5D, 0.9D, 0.99D), 1000)").as("_ap"))
        .select(col("_ap").getItem(0).as("_a50"),
          col("_ap").getItem(1).as("_a90"), col("_ap").getItem(2).as("_a99"))
      li.crossJoin(broadcast(approx))
        .agg(
          avg(when(col("l_extendedprice") <= col("_a50"), 1.0).otherwise(0.0)).as("_f50"),
          avg(when(col("l_extendedprice") <= col("_a90"), 1.0).otherwise(0.0)).as("_f90"),
          avg(when(col("l_extendedprice") <= col("_a99"), 1.0).otherwise(0.0)).as("_f99"))
        .select(
          (col("_f50") >= 0.49 && col("_f50") <= 0.51).as("p50_ok"),
          (col("_f90") >= 0.89 && col("_f90") <= 0.91).as("p90_ok"),
          (col("_f99") >= 0.98 && col("_f99") <= 1.0).as("p99_ok"))
    },
      "SELECT TRUE AS p50_ok, TRUE AS p90_ok, TRUE AS p99_ok"),

    // Stored-sketch quantiles (GkSketchAgg/GkUnionAgg): per-returnflag GK
    // summaries merged to a global one, then point-queried — the sketch-
    // warehouse path where percentiles come from stored state, not rescans.
    // Merge order varies run to run, so (like q_approx_percentiles) the
    // contract emits rank-error booleans computed by one fraction-below pass.
    Contract("q_gk_quantile_reagg", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val perGroup = li.groupBy(col("l_returnflag"))
        .agg(GraftFunctions.gk_sketch_agg(col("l_extendedprice"), 0.01).as("gk"))
      val merged = perGroup
        .agg(GraftFunctions.gk_union_agg(col("gk")).as("gk"))
        .select(GraftFunctions.gk_quantile(col("gk"), lit(0.5)).as("_p50"),
          GraftFunctions.gk_quantile(col("gk"), lit(0.9)).as("_p90"))
      li.crossJoin(broadcast(merged))
        .agg(
          avg(when(col("l_extendedprice") <= col("_p50"), 1.0).otherwise(0.0)).as("_f50"),
          avg(when(col("l_extendedprice") <= col("_p90"), 1.0).otherwise(0.0)).as("_f90"))
        .select(
          (col("_f50") >= 0.47 && col("_f50") <= 0.53).as("p50_ok"),
          (col("_f90") >= 0.87 && col("_f90") <= 0.93).as("p90_ok"))
    },
      "SELECT TRUE AS p50_ok, TRUE AS p90_ok"),

    // pivot: order counts per status x priority matrix
    Contract("q_pivot", (s, dir) => {
      val o = t(s, dir, "orders")
      o.groupBy(col("o_orderstatus"))
        .pivot("o_orderpriority",
          Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .toDF("o_orderstatus", "urgent", "high", "medium", "notspec", "low")
        .orderBy(col("o_orderstatus"))
    },
      """SELECT o_orderstatus,
        |  COUNT(*) FILTER (o_orderpriority = '1-URGENT') AS urgent,
        |  COUNT(*) FILTER (o_orderpriority = '2-HIGH') AS high,
        |  COUNT(*) FILTER (o_orderpriority = '3-MEDIUM') AS medium,
        |  COUNT(*) FILTER (o_orderpriority = '4-NOT SPECIFIED') AS notspec,
        |  COUNT(*) FILTER (o_orderpriority = '5-LOW') AS low
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),

    // unpivot/melt: wide per-status metrics back to (metric, value) rows
    Contract("q_unpivot", (s, dir) => {
      val o = t(s, dir, "orders")
      o.groupBy(col("o_orderstatus"))
        .agg(round(sum(col("o_totalprice")), 2).as("sum_price"),
          round(avg(col("o_totalprice")), 4).as("avg_price"),
          count(lit(1)).cast("double").as("n_orders"))
        .unpivot(Array(col("o_orderstatus")),
          Array(col("sum_price"), col("avg_price"), col("n_orders")),
          "metric", "value")
        .orderBy(col("o_orderstatus"), col("metric"))
    },
      """WITH a AS (
        |  SELECT o_orderstatus,
        |    ROUND(SUM(o_totalprice), 2) AS sum_price,
        |    ROUND(AVG(o_totalprice), 4) AS avg_price,
        |    CAST(COUNT(*) AS DOUBLE) AS n_orders
        |  FROM orders GROUP BY o_orderstatus)
        |SELECT o_orderstatus, metric, value
        |FROM (UNPIVOT a ON sum_price, avg_price, n_orders
        |      INTO NAME metric VALUE value)
        |ORDER BY o_orderstatus, metric""".stripMargin),

    // set operations: intersect / except / union distinct
    Contract("q_setops", (s, dir) => {
      val o = t(s, dir, "orders")
      val highPri = o.filter(col("o_orderpriority") === "1-URGENT").select(col("o_custkey"))
      val openStatus = o.filter(col("o_orderstatus") === "O").select(col("o_custkey"))
      val both = highPri.intersect(openStatus).agg(count(lit(1)).as("n"))
        .select(lit("urgent_and_open").as("bucket"), col("n"))
      val onlyUrgent = highPri.except(openStatus).agg(count(lit(1)).as("n"))
        .select(lit("urgent_not_open").as("bucket"), col("n"))
      val either = highPri.union(openStatus).distinct().agg(count(lit(1)).as("n"))
        .select(lit("urgent_or_open").as("bucket"), col("n"))
      both.union(onlyUrgent).union(either).orderBy(col("bucket"))
    },
      """SELECT * FROM (
        |  SELECT 'urgent_and_open' AS bucket, COUNT(*) AS n FROM (
        |    SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        |    INTERSECT SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
        |  UNION ALL
        |  SELECT 'urgent_not_open' AS bucket, COUNT(*) AS n FROM (
        |    SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        |    EXCEPT SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
        |  UNION ALL
        |  SELECT 'urgent_or_open' AS bucket, COUNT(*) AS n FROM (
        |    SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        |    UNION SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
        |) ORDER BY bucket""".stripMargin),

    // Multiset set ops (ALL variants): INTERSECT ALL keeps min(multiplicity),
    // EXCEPT ALL subtracts multiplicities — Catalyst rewrites these through
    // a replicate-rows generate, a different physical path from the
    // distinct-based rewrites q_setops exercises.
    Contract("q_setops_all", (s, dir) => {
      val o = t(s, dir, "orders")
      val urgent = o.filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey"))
      val open = o.filter(col("o_orderstatus") === "O").select(col("o_custkey"))
      val interAll = urgent.intersectAll(open).agg(count(lit(1)).as("n"))
        .select(lit("intersect_all").as("bucket"), col("n"))
      val exceptAll = urgent.exceptAll(open).agg(count(lit(1)).as("n"))
        .select(lit("except_all").as("bucket"), col("n"))
      val unionAll = urgent.unionAll(open).agg(count(lit(1)).as("n"))
        .select(lit("union_all").as("bucket"), col("n"))
      interAll.union(exceptAll).union(unionAll).orderBy(col("bucket"))
    },
      """SELECT * FROM (
        |  SELECT 'intersect_all' AS bucket, CAST(COUNT(*) AS BIGINT) AS n FROM (
        |    SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        |    INTERSECT ALL
        |    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
        |  UNION ALL
        |  SELECT 'except_all' AS bucket, CAST(COUNT(*) AS BIGINT) AS n FROM (
        |    SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        |    EXCEPT ALL
        |    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
        |  UNION ALL
        |  SELECT 'union_all' AS bucket, CAST(COUNT(*) AS BIGINT) AS n FROM (
        |    SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        |    UNION ALL
        |    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
        |) ORDER BY bucket""".stripMargin),

    // Null-safe equality join (<=>): NULL keys match each other — and the
    // predicate still plans as a HASH join (EqualNullSafe is a valid hash
    // key), unlike general null logic which would degrade to a nested
    // loop. The strict (=) count alongside shows the dropped-null contrast.
    Contract("q_nullsafe_join", (s, dir) => {
      val o = t(s, dir, "orders")
        .select(nullif(col("o_custkey") % 500, lit(13)).as("k"))
      val c = t(s, dir, "customer")
        .select(nullif(col("c_custkey") % 500, lit(13)).as("ck"))
      val nsafe = o.join(c, col("k") <=> col("ck"))
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("k").isNull, 1L).otherwise(0L)).as("n_null_matches"))
      val strict = o.join(c, col("k") === col("ck"))
        .agg(count(lit(1)).as("n_rows_strict"))
      nsafe.crossJoin(strict)
    },
      """WITH o AS (SELECT NULLIF(o_custkey % 500, 13) AS k FROM orders),
        |c AS (SELECT NULLIF(c_custkey % 500, 13) AS ck FROM customer)
        |SELECT
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM o JOIN c
        |   ON k IS NOT DISTINCT FROM ck) AS n_rows,
        |  (SELECT CAST(COUNT(*) FILTER (k IS NULL) AS BIGINT) FROM o JOIN c
        |   ON k IS NOT DISTINCT FROM ck) AS n_null_matches,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM o JOIN c ON k = ck)
        |    AS n_rows_strict""".stripMargin),

    // max_by / min_by / median: per-segment extremes with a composite
    // ordering key (acctbal cents * 1e12 + custkey — strictly monotonic in
    // (acctbal, custkey) while custkey < 1e12, i.e. far past any real SF,
    // and |cents| < 1e6 keeps the product inside a long); median computed
    // over exact integer cents to dodge double-interpolation rendering
    // drift.
    Contract("q_argmax_median", (s, dir) => {
      val c = t(s, dir, "customer")
      val key = round(col("c_acctbal") * 100).cast("long") * 1000000000000L +
        col("c_custkey")
      c.groupBy(col("c_mktsegment"))
        .agg(max_by(col("c_custkey"), key).as("top_cust"),
          min_by(col("c_custkey"), key).as("bot_cust"),
          (median(round(col("c_acctbal") * 100).cast("long")) / 100.0)
            .as("med_bal"),
          count(lit(1)).as("n"))
        .orderBy(col("c_mktsegment"))
    },
      """SELECT c_mktsegment,
        |  arg_max(c_custkey,
        |    CAST(ROUND(c_acctbal * 100) AS BIGINT) * 1000000000000 + c_custkey)
        |    AS top_cust,
        |  arg_min(c_custkey,
        |    CAST(ROUND(c_acctbal * 100) AS BIGINT) * 1000000000000 + c_custkey)
        |    AS bot_cust,
        |  median(CAST(ROUND(c_acctbal * 100) AS BIGINT)) / 100.0 AS med_bal,
        |  CAST(COUNT(*) AS BIGINT) AS n
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),

    // cube with grouping_id (grouping-sets family beyond rollup)
    Contract("q_cube_status_priority", (s, dir) => {
      val o = t(s, dir, "orders")
      o.cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(grouping_id().as("gid"), count(lit(1)).as("n"))
        .select(col("o_orderstatus"), col("o_orderpriority"), col("gid"), col("n"))
        .orderBy(col("gid"), col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first)
    },
      """SELECT o_orderstatus, o_orderpriority, GROUPING(o_orderstatus, o_orderpriority) AS gid,
        |  COUNT(*) AS n
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY gid, o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin),

    // scalar function surface: string/date/math builtins
    Contract("q_scalar_funcs", (s, dir) => {
      val o = t(s, dir, "orders")
      o.select(
          col("o_orderkey"),
          upper(substring(col("o_orderpriority"), 1, 3)).as("pri3"),
          length(col("o_orderstatus")).as("status_len"),
          year(col("o_orderdate")).as("yr"),
          month(col("o_orderdate")).as("mo"),
          round(sqrt(abs(col("o_totalprice"))), 4).as("sqrt_price"),
          (col("o_orderkey") % 7).as("key_mod"))
        .orderBy(col("o_orderkey"))
    },
      """SELECT o_orderkey, UPPER(SUBSTRING(o_orderpriority, 1, 3)) AS pri3,
        |  LENGTH(o_orderstatus) AS status_len,
        |  YEAR(o_orderdate) AS yr, MONTH(o_orderdate) AS mo,
        |  ROUND(SQRT(ABS(o_totalprice)), 4) AS sqrt_price,
        |  o_orderkey % 7 AS key_mod
        |FROM orders ORDER BY o_orderkey""".stripMargin),

    // dropDuplicates on a column subset (first-wins semantics made
    // deterministic by reducing to min orderkey per group)
    Contract("q_dropdup", (s, dir) => {
      val o = t(s, dir, "orders")
      o.groupBy(col("o_custkey"), col("o_orderstatus"))
        .agg(min(col("o_orderkey")).as("first_orderkey"))
        .orderBy(col("o_custkey"), col("o_orderstatus"))
    },
      """SELECT o_custkey, o_orderstatus, MIN(o_orderkey) AS first_orderkey
        |FROM orders GROUP BY o_custkey, o_orderstatus
        |ORDER BY o_custkey, o_orderstatus""".stripMargin),

    // Per-domain crawl-frequency cap (mix winsorization): keep at most 10
    // docs per source, chosen by the portable LCG scramble of doc_id — not
    // crawl order, not RNG. The row_number filter compiles to a map-side
    // WindowGroupLimit, so a mega-domain ships cap x partitions rows into
    // the exchange, not its whole corpus (PlanQualitySpec asserts the
    // pushdown). kept_id_sum/min pin the exact kept SET, which the oracle
    // replays with ROW_NUMBER over the same integer scramble.
    Contract("q_domain_cap", (s, dir) => {
      val d = t(s, dir, "documents")
      val kept = graft.operators.Sampling.capPerGroup(d, "source", col("doc_id"), 10)
      kept.groupBy(col("source")).agg(
          count(lit(1)).as("n_kept"),
          sum(col("doc_id")).as("kept_id_sum"),
          min(col("doc_id")).as("kept_id_min"))
        .join(d.groupBy(col("source")).agg(count(lit(1)).as("n_docs")), Seq("source"))
        .select(col("source"), col("n_docs"), col("n_kept"),
          col("kept_id_sum"), col("kept_id_min"))
        .orderBy(col("source"))
    },
      """WITH ranked AS (
        |  SELECT source, doc_id,
        |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY
        |      ((((doc_id + 1013904223) % 2147483647) * 48271 % 2147483647)
        |        * 48271) % 2147483647, doc_id) AS rk
        |  FROM documents),
        |tot AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
        |        FROM documents GROUP BY 1)
        |SELECT t.source, n_docs, CAST(COUNT(*) AS BIGINT) AS n_kept,
        |  CAST(SUM(doc_id) AS BIGINT) AS kept_id_sum,
        |  CAST(MIN(doc_id) AS BIGINT) AS kept_id_min
        |FROM ranked r JOIN tot t ON r.source = t.source
        |WHERE rk <= 10
        |GROUP BY t.source, n_docs ORDER BY t.source""".stripMargin),

    // sessionization: lag + cumulative-sum windows over the event stream
    Contract("q_sessionize", (s, dir) => {
      val ev = events(s, dir)
      graft.operators.Sessionize.sessionStats(ev, "user_id", "ts", gapSeconds = 3600)
        .select(col("user_id"), col("session_seq"),
          date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
          date_format(col("session_end"), "yyyy-MM-dd HH:mm:ss").as("session_end"),
          col("n_events"))
        .orderBy(col("user_id"), col("session_seq"))
    },
      """SELECT user_id, session_seq,
        |  strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        |  strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
        |  COUNT(*) AS n_events
        |FROM (
        |  SELECT user_id, ts,
        |    CAST(SUM(CASE WHEN prev IS NULL OR epoch(ts) - epoch(prev) > 3600 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
        |  FROM (SELECT user_id, ts, LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
        |        FROM events))
        |GROUP BY user_id, session_seq ORDER BY user_id, session_seq""".stripMargin),

    // range join: events bucketed into price-derived integer intervals of
    // orders (synthetic intervals exercise the bucketed composition; the
    // plan must not contain a nested-loop join)
    Contract("q_range_join", (s, dir) => {
      val ev = events(s, dir).select(col("event_id"), col("user_id"))
      val iv = t(s, dir, "orders")
        .select(col("o_orderkey"),
          (col("o_custkey") * 10).as("lo"),
          (col("o_custkey") * 10 + 5).as("hi"))
      graft.operators.RangeJoin.pointInInterval(
          ev.withColumn("pt", col("user_id") * 10 + 2), iv,
          "pt", "lo", "hi", bucketWidth = 16)
        .groupBy(col("event_id")).agg(count(lit(1)).as("n_intervals"))
        .orderBy(col("event_id"))
    },
      """SELECT e.event_id, COUNT(*) AS n_intervals
        |FROM (SELECT event_id, user_id * 10 + 2 AS pt FROM events) e
        |JOIN (SELECT o_custkey * 10 AS lo, o_custkey * 10 + 5 AS hi FROM orders) o
        |  ON e.pt BETWEEN o.lo AND o.hi
        |GROUP BY e.event_id ORDER BY e.event_id""".stripMargin),

    // interval-overlap join: event-derived ranges against order-derived
    // ranges, bucketed (no cross product, no duplicate pairs)
    Contract("q_interval_overlap", (s, dir) => {
      val ev = events(s, dir).select(col("event_id"),
        (col("user_id") * 10 + 2).as("elo"), (col("user_id") * 10 + 8).as("ehi"))
      val iv = t(s, dir, "orders").select(col("o_orderkey"),
        (col("o_custkey") * 10).as("olo"), (col("o_custkey") * 10 + 5).as("ohi"))
      graft.operators.RangeJoin.intervalOverlapJoin(
          ev, iv, "elo", "ehi", "olo", "ohi", bucketWidth = 16)
        .groupBy(col("event_id")).agg(count(lit(1)).as("n_overlaps"))
        .orderBy(col("event_id"))
    },
      """SELECT e.event_id, COUNT(*) AS n_overlaps
        |FROM (SELECT event_id, user_id * 10 + 2 AS elo, user_id * 10 + 8 AS ehi FROM events) e
        |JOIN (SELECT o_custkey * 10 AS olo, o_custkey * 10 + 5 AS ohi FROM orders) o
        |  ON e.elo <= o.ohi AND o.olo <= e.ehi
        |GROUP BY e.event_id ORDER BY e.event_id""".stripMargin),

    // as-of join: latest order at-or-before each event per customer
    // (right side deduplicated to one row per (custkey, date) so the
    // at-equal-time winner is deterministic)
    Contract("q_asof_join", (s, dir) => {
      val ev = events(s, dir).select(col("event_id"), col("ts"), col("user_id"))
      val o = t(s, dir, "orders")
        .groupBy(col("o_custkey"), col("o_orderdate"))
        .agg(max(col("o_orderkey")).as("o_orderkey"))
      graft.operators.AsofJoin.asofJoin(
          ev, o,
          leftKeys = Seq("user_id"), rightKeys = Seq("o_custkey"),
          leftTime = "ts", rightTime = "o_orderdate",
          rightCols = Seq("o_orderkey", "o_orderdate"))
        .select(col("event_id"), col("asof_o_orderkey"),
          date_format(col("asof_o_orderdate"), "yyyy-MM-dd").as("asof_date"))
        .orderBy(col("event_id"))
    },
      """SELECT e.event_id, o.o_orderkey AS asof_o_orderkey,
        |  strftime(o.o_orderdate, '%Y-%m-%d') AS asof_date
        |FROM events e
        |ASOF LEFT JOIN (
        |  SELECT o_custkey, o_orderdate, MAX(o_orderkey) AS o_orderkey
        |  FROM orders GROUP BY o_custkey, o_orderdate) o
        |ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
        |ORDER BY e.event_id""".stripMargin),

    // deterministic per-group sample: 3 docs per source by scrambled-id
    // order (stable across partitionings; arithmetic scramble is engine-
    // portable so the oracle can replicate it)
    Contract("q_group_sample", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = t(s, dir, "documents")
      val w = Window.partitionBy(col("source"))
        .orderBy(pmod(col("doc_id") * 2654435761L, lit(1000000007L)), col("doc_id"))
      d.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("source"), col("rn"), col("doc_id"))
        .orderBy(col("source"), col("rn"))
    },
      """SELECT source, rn, doc_id FROM (
        |  SELECT source, doc_id, ROW_NUMBER() OVER (PARTITION BY source
        |    ORDER BY (doc_id * 2654435761) % 1000000007, doc_id) AS rn
        |  FROM documents) WHERE rn <= 3
        |ORDER BY source, rn""".stripMargin),

    // Engine-portable TABLESAMPLE: deterministic two-round LCG scramble of
    // the key replaces the RNG behind TABLESAMPLE/df.sample, so the sampled
    // row set is partition-invariant and bit-replayable by the oracle. The
    // predicate folds into the parquet scan (no shuffle, no extra pass);
    // aggregation is over exact cents so the sums hash-match.
    Contract("q_tablesample", (s, dir) => {
      val sampled = graft.operators.Sampling.portableSample(
        t(s, dir, "orders"), "o_orderkey", 0.1)
      sampled.groupBy(col("o_orderstatus"))
        .agg(
          count(lit(1)).as("n_sampled"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("revenue_cents"))
        .orderBy(col("o_orderstatus"))
    },
      """SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_sampled,
        |  CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS revenue_cents
        |FROM orders
        |WHERE ((((o_orderkey % 2147483648) * 1103515245 + 12345)
        |         % 2147483648) * 1103515245 + 12345) % 2147483648
        |      < 214748364
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),

    // Weighted sampling without replacement (Efraimidis-Spirakis A-ES):
    // priority = ln(u)/w with u from the same engine-portable Knuth hash as
    // q_group_sample and w = n_chars (length-weighted; production would use
    // a quality score). Top-20 by priority IS a weighted sample — fully
    // deterministic, re-derivable in SQL. TakeOrdered does the selection
    // (no global sort); the row_number runs over the 20 survivors only.
    Contract("q_weighted_sample", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = t(s, dir, "documents")
      val u = (pmod(col("doc_id") * 2654435761L, lit(1000000007L)) + 1)
        .cast("double") / 1000000008.0
      val pr = log(u) / col("n_chars")
      val top = d.select(col("doc_id"), col("n_chars"), pr.as("_pr"))
        .orderBy(col("_pr").desc, col("doc_id")).limit(20)
      top.withColumn("rn",
          row_number().over(Window.orderBy(col("_pr").desc, col("doc_id"))))
        .select(col("rn"), col("doc_id"), col("n_chars"))
        .orderBy(col("rn"))
    },
      """WITH r AS (
        |  SELECT doc_id, n_chars,
        |    LN((((doc_id * 2654435761) % 1000000007) + 1) / 1000000008.0)
        |      / n_chars AS pr
        |  FROM documents)
        |SELECT ROW_NUMBER() OVER (ORDER BY pr DESC, doc_id) AS rn,
        |  doc_id, n_chars
        |FROM r ORDER BY pr DESC, doc_id LIMIT 20""".stripMargin)
  )
}
