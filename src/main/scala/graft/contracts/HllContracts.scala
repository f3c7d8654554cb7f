package graft
package contracts

import graft.functions.GraftFunctions
import org.apache.spark.sql.functions._

import Shared._

/** `hll_*`: the reference operator surface — build a sketch, merge,
  * finalize, and pair each estimate with the exact count. The estimate
  * itself is a custom sketch DuckDB cannot reproduce, so each oracle
  * computes the exact side and holds the tolerance booleans hard TRUE
  * (deterministic sketches, fixed data).
  */
object HllContracts {

  val all: Seq[Contract] = Seq(
    // ops #1-5,#10,#12,#13,#14: build sketch, finalize, pair with exact count
    // and accuracy metrics (EP2+EP3, HLL/examples.py:56-83).
    // Oracle shape for every estimate query: the estimate itself is a custom
    // sketch DuckDB cannot reproduce, so the query emits the EXACT side (an
    // oracle-computable value) plus a tolerance boolean over the estimate —
    // deterministic (fixed SHA-1, fixed data), so the boolean is a hard
    // invariant, not a flaky statistical check. The raw estimates stay
    // golden-locked (exact doubles) in the ScalaTest suites.
    Contract("hll_users_total", (s, dir) => {
      val ev = events(s, dir)
      ev.agg(
          GraftFunctions.hll_cardinality(col("user_id"), 1 << 12).as("_est"),
          countDistinct(col("user_id")).as("exact_users"))
        .select(
          col("exact_users"),
          (abs(col("_est") - col("exact_users")) / col("exact_users") <= 0.05).as("est_ok"))
    },
      "SELECT COUNT(DISTINCT user_id) AS exact_users, TRUE AS est_ok FROM events"),

    // op #12 grouped: one sketch per group under partial/final agg
    Contract("hll_users_by_type", (s, dir) => {
      val ev = events(s, dir)
      ev.groupBy(col("event_type"))
        .agg(
          GraftFunctions.hll_cardinality(col("user_id"), 1 << 12).as("_est"),
          countDistinct(col("user_id")).as("exact_users"))
        .select(col("event_type"), col("exact_users"),
          (abs(col("_est") - col("exact_users")) / col("exact_users") <= 0.05).as("est_ok"))
        .orderBy(col("event_type"))
    },
      """SELECT event_type, COUNT(DISTINCT user_id) AS exact_users, TRUE AS est_ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // Engine-portable sketch interchange: hll_export flattens each sketch
    // into PLAIN relational rows (k, bits, hash, register idx/rho) — the
    // sparse wire format as data, storable in any warehouse column and
    // consumable by any engine — and hll_import re-assembles those rows
    // (order-insensitive, max-folding) into a sketch whose estimate matches
    // the original EXACTLY. This is the cross-system hand-off path: sketches
    // built here can leave as rows and come back mergeable.
    Contract("hll_wire_roundtrip", (s, dir) => {
      val ev = events(s, dir)
      val sk = ev.groupBy(col("event_type"))
        .agg(GraftFunctions.hll_sketch_agg(col("user_id"), 1 << 12).as("_sk"),
          countDistinct(col("user_id")).as("exact_users"))
      val flat = sk.select(col("event_type"),
          GraftFunctions.hll_export(col("_sk")).as("_w"))
        .select(col("event_type"), col("_w.k").as("_k"),
          col("_w.bits").as("_b"), col("_w.hash").as("_h"),
          explode(col("_w.regs")).as("_r"))
      val back = flat
        .groupBy(col("event_type"), col("_k"), col("_b"), col("_h"))
        .agg(collect_list(struct(col("_r.idx").as("idx"),
          col("_r.rho").as("rho"))).as("_regs"))
        .select(col("event_type"), GraftFunctions.hll_import(
          struct(col("_k").as("k"), col("_b").as("bits"),
            col("_h").as("hash"), col("_regs").as("regs"))).as("_sk2"))
      sk.join(back, "event_type")
        .select(col("event_type"), col("exact_users"),
          (GraftFunctions.hll_estimate(col("_sk2")) ===
            GraftFunctions.hll_estimate(col("_sk"))).as("roundtrip_exact"),
          (abs(GraftFunctions.hll_estimate(col("_sk")) - col("exact_users"))
            / col("exact_users") <= 0.05).as("est_ok"))
        .orderBy(col("event_type"))
    },
      """SELECT event_type, COUNT(DISTINCT user_id) AS exact_users,
        |  TRUE AS roundtrip_exact, TRUE AS est_ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // ops #8,#9,#11: sketches as stored values, re-aggregated (daily ->
    // total). merge_ok asserts the monoid law end-to-end: the union of the
    // daily sketches must estimate EXACTLY what one direct sketch does.
    Contract("hll_sketch_reagg", (s, dir) => {
      val ev = events(s, dir)
      val daily = ev.groupBy(to_date(col("ts")).as("day"))
        .agg(GraftFunctions.hll_sketch_agg(col("user_id"), 1 << 12).as("sk"))
      val reagg = daily.agg(
        GraftFunctions.hll_estimate(GraftFunctions.hll_union_agg(col("sk"))).as("_reagg"),
        count(lit(1)).as("n_days"))
      val direct = ev.agg(
        GraftFunctions.hll_cardinality(col("user_id"), 1 << 12).as("_direct"),
        countDistinct(col("user_id")).as("exact_users"))
      reagg.crossJoin(direct).select(
        col("n_days"), col("exact_users"),
        (col("_reagg") === col("_direct")).as("merge_ok"),
        (abs(col("_reagg") - col("exact_users")) / col("exact_users") <= 0.05).as("est_ok"))
    },
      """SELECT COUNT(DISTINCT CAST(ts AS DATE)) AS n_days,
        |  COUNT(DISTINCT user_id) AS exact_users,
        |  TRUE AS merge_ok, TRUE AS est_ok
        |FROM events""".stripMargin),

    // op #5 (32-bit finalizer) + #6 (64-bit) side by side on the same
    // column; sketch and exact sides split to avoid the Expand-based
    // distinct rewrite (see hll_distinct_pairs)
    Contract("hll_both_widths", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val est = li.agg(
        GraftFunctions.hll_cardinality(col("l_partkey"), 1 << 12, 32).as("_est32"),
        GraftFunctions.hll_cardinality(col("l_partkey"), 1 << 12, 64).as("_est64"))
      val exact = li.agg(countDistinct(col("l_partkey")).as("exact"))
      exact.crossJoin(est)
        .select(col("exact"),
          (abs(col("_est32") - col("exact")) / col("exact") <= 0.05).as("est32_ok"),
          (abs(col("_est64") - col("exact")) / col("exact") <= 0.05).as("est64_ok"))
    },
      """SELECT COUNT(DISTINCT l_partkey) AS exact,
        |  TRUE AS est32_ok, TRUE AS est64_ok FROM lineitem""".stripMargin),

    // grouped distinct parts per returnflag: estimate + exact, as separate
    // aggregations joined on the group key (same Expand-avoidance as
    // hll_distinct_pairs below: the sketch side stays map-side partial, the
    // exact side shuffles partially-deduped keys once; the join is 3 rows)
    Contract("hll_parts_by_returnflag", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val est = li.groupBy(col("l_returnflag"))
        .agg(GraftFunctions.hll_cardinality(col("l_partkey"), 1 << 12).as("_est"))
      val exact = li.groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("exact"))
      exact.join(broadcast(est), "l_returnflag")
        .select(col("l_returnflag"), col("exact"),
          (abs(col("_est") - col("exact")) / col("exact") <= 0.05).as("est_ok"))
        .orderBy(col("l_returnflag"))
    },
      """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS exact, TRUE AS est_ok
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    // op #7 metadata: error bound surfaced from a stored sketch. The bound
    // itself is the closed-form 1.04/sqrt(m) (oracle-computable); the
    // estimate check uses 3x that bound (p=10 sits in the reference's
    // inherited mid-range-bias band, see BASELINE.md).
    Contract("hll_error_bound", (s, dir) => {
      val ev = events(s, dir)
      ev.agg(
          GraftFunctions.hll_sketch_agg(col("user_id"), 1 << 10).as("sk"),
          countDistinct(col("user_id")).as("_exact"))
        .select(
          round(GraftFunctions.hll_error(col("sk")), 6).as("rel_std_err"),
          (abs(GraftFunctions.hll_estimate(col("sk")) - col("_exact")) / col("_exact")
            <= GraftFunctions.hll_error(col("sk")) * 3).as("est_ok"))
    },
      "SELECT ROUND(1.04 / SQRT(1024), 6) AS rel_std_err, TRUE AS est_ok"),

    // approximate top-k (Misra-Gries); capacity >= distinct -> exact, so
    // the exploded output is oracle-checkable against GROUP BY ... LIMIT
    Contract("hll_top_event_types", (s, dir) => {
      val ev = events(s, dir)
      ev.agg(GraftFunctions.approx_top_k(col("event_type"), 5, 64).as("tk"))
        .select(explode(col("tk")).as("e"))
        .select(col("e.item").as("item"), col("e.count").as("cnt"))
        .orderBy(col("cnt").desc, col("item"))
    },
      """SELECT event_type AS item, COUNT(*) AS cnt FROM events
        |GROUP BY event_type ORDER BY cnt DESC, item LIMIT 5""".stripMargin),

    // Count-Min sketch in its exact regime (width 2048 >> distinct event
    // types): one mergeable frequency sketch answers point lookups for
    // every key — the counts must equal the exact GROUP BY.
    Contract("hll_cms_event_counts", (s, dir) => {
      val ev = events(s, dir)
      val sk = ev.agg(GraftFunctions.cms_sketch_agg(col("event_type")).as("sk"))
      ev.select(col("event_type")).distinct()
        .crossJoin(broadcast(sk))
        .select(col("event_type"),
          GraftFunctions.cms_query(col("sk"), col("event_type")).as("n_events"))
        .orderBy(col("event_type"))
    },
      """SELECT event_type, COUNT(*) AS n_events FROM events
        |GROUP BY event_type ORDER BY event_type""".stripMargin),

    // composite-key distinct: sketch over a canonical key encoding, paired
    // with the exact multi-column count. The two sides run as SEPARATE
    // aggregations joined on their 1-row results: mixing a distinct
    // aggregate with the sketch in one agg triggers Catalyst's Expand-based
    // distinct rewrite, which doubles every input row through the exchange —
    // split, the sketch side is pure map-side partial aggregation (only
    // sketch bytes move) and the exact side shuffles its partially-deduped
    // keys once. Two column-pruned scans cost less than one doubled shuffle,
    // here and at 100 TB.
    Contract("hll_distinct_pairs", (s, dir) => {
      val li = t(s, dir, "lineitem")
      // separator prevents cross-column collisions ("12|34" vs "123|4");
      // k chosen so n/m > 5 stays clear of the reference's inherited
      // mid-range bias band (see BASELINE.md accuracy caveat)
      val key = concat_ws("|", col("l_partkey"), col("l_suppkey"))
      val est = li.agg(GraftFunctions.hll_cardinality(key, 1 << 12).as("_est"))
      val exact = li.agg(
        countDistinct(col("l_partkey"), col("l_suppkey")).as("exact_pairs"))
      exact.crossJoin(est)
        .select(col("exact_pairs"),
          (abs(col("_est") - col("exact_pairs")) / col("exact_pairs") <= 0.05).as("est_ok"))
    },
      """SELECT COUNT(*) AS exact_pairs, TRUE AS est_ok
        |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)""".stripMargin),

    // sketch-algebra intersection: distinct users seen in BOTH halves of the
    // event stream (inclusion-exclusion over stored sketches). Exact sides
    // are oracle-computable; the intersection estimate is a DIFFERENCE of
    // estimates so its tolerance is wider than a single sketch's.
    Contract("hll_intersect_halves", (s, dir) => {
      val ev = events(s, dir)
      val half = ev.withColumn("half", (col("event_id") % 2).cast("int"))
      val sketches = half.groupBy(col("half"))
        .agg(GraftFunctions.hll_sketch_agg(col("user_id"), 1 << 12).as("sk"))
      val a = sketches.filter(col("half") === 0).select(col("sk").as("sk_a"))
      val b = sketches.filter(col("half") === 1).select(col("sk").as("sk_b"))
      val exact = half.groupBy(col("user_id"))
        .agg(countDistinct(col("half")).as("_nh"))
        .agg(
          count(lit(1)).as("exact_union"),
          sum(when(col("_nh") === 2, 1L).otherwise(0L)).as("exact_intersect"))
      a.crossJoin(b).crossJoin(exact).select(
        col("exact_union"), col("exact_intersect"),
        (abs(GraftFunctions.hll_intersect_estimate(col("sk_a"), col("sk_b"))
          - col("exact_intersect")) / col("exact_intersect") <= 0.15).as("intersect_ok"))
    },
      """SELECT COUNT(*) AS exact_union,
        |  COUNT(*) FILTER (nh = 2) AS exact_intersect,
        |  TRUE AS intersect_ok
        |FROM (SELECT user_id, COUNT(DISTINCT event_id % 2) AS nh
        |      FROM events GROUP BY user_id)""".stripMargin),

    // sketch set-algebra completion: |A \ B| via inclusion-exclusion.
    // The tolerance is UNION-relative: the difference inherits the union
    // estimates' absolute error, so err/|A\B| is unbounded when the
    // difference is small — err/|A∪B| is the honest contract.
    Contract("hll_difference_halves", (s, dir) => {
      val ev = events(s, dir)
      val half = ev.withColumn("half", (col("event_id") % 2).cast("int"))
      val sketches = half.groupBy(col("half"))
        .agg(GraftFunctions.hll_sketch_agg(col("user_id"), 1 << 12).as("sk"))
      val a = sketches.filter(col("half") === 0).select(col("sk").as("sk_a"))
      val b = sketches.filter(col("half") === 1).select(col("sk").as("sk_b"))
      val exact = half.groupBy(col("user_id"))
        .agg(max(when(col("half") === 0, 1).otherwise(0)).as("_h0"),
          max(when(col("half") === 1, 1).otherwise(0)).as("_h1"))
        .agg(
          count(lit(1)).as("exact_union"),
          sum(when(col("_h0") === 1 && col("_h1") === 0, 1L).otherwise(0L))
            .as("exact_a_only"))
      a.crossJoin(b).crossJoin(exact).select(
        col("exact_union"), col("exact_a_only"),
        (abs(GraftFunctions.hll_difference_estimate(col("sk_a"), col("sk_b"))
          - col("exact_a_only")) / col("exact_union") <= 0.05).as("difference_ok"))
    },
      """SELECT COUNT(*) AS exact_union,
        |  COUNT(*) FILTER (h0 = 1 AND h1 = 0) AS exact_a_only,
        |  TRUE AS difference_ok
        |FROM (SELECT user_id,
        |        MAX(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END) AS h0,
        |        MAX(CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END) AS h1
        |      FROM events GROUP BY user_id)""".stripMargin),

    // KMV bottom-k sketch: NATIVE set algebra on stored sketches (vs the
    // HLL family's inclusion-exclusion). The event-id halves are provably
    // disjoint (parity split of unique ids), so KMV's intersection estimate
    // must be EXACTLY zero — no shared hash can sit in both bottom-k sets —
    // where inclusion-exclusion would return union-scaled noise. The
    // user-id halves overlap almost completely; intersection and Jaccard
    // track the exact values within the 1/sqrt(k) band. One pass builds
    // both sketch pairs; kmv_union_agg re-aggregates the stored event
    // sketches into the union estimate.
    Contract("hll_kmv_sets", (s, dir) => {
      val ev = events(s, dir)
      val half = ev.withColumn("half", (col("event_id") % 2).cast("int"))
      val sk = half.groupBy(col("half")).agg(
        GraftFunctions.kmv_sketch_agg(col("event_id"), 1024).as("sk_e"),
        GraftFunctions.kmv_sketch_agg(col("user_id"), 1024).as("sk_u"))
      val pair = sk.agg(
        GraftFunctions.kmv_union_agg(col("sk_e")).as("sk_e_all"),
        max(when(col("half") === 0, col("sk_e"))).as("sk_e0"),
        max(when(col("half") === 1, col("sk_e"))).as("sk_e1"),
        max(when(col("half") === 0, col("sk_u"))).as("sk_u0"),
        max(when(col("half") === 1, col("sk_u"))).as("sk_u1"))
      val exact = half.groupBy(col("user_id"))
        .agg(countDistinct(col("half")).as("_nh"),
          countDistinct(col("event_id")).as("_ne"))
        .agg(count(lit(1)).as("exact_users"),
          sum(when(col("_nh") === 2, 1L).otherwise(0L)).as("exact_users_both"),
          sum(col("_ne")).as("exact_events"))
      pair.crossJoin(exact).select(
        col("exact_users"), col("exact_users_both"), col("exact_events"),
        (abs(GraftFunctions.kmv_estimate(col("sk_e_all")) - col("exact_events"))
          / col("exact_events") <= 0.1).as("union_ok"),
        (GraftFunctions.kmv_intersect_estimate(col("sk_e0"), col("sk_e1"))
          === 0.0).as("disjoint_exact"),
        (abs(GraftFunctions.kmv_intersect_estimate(col("sk_u0"), col("sk_u1"))
          - col("exact_users_both")) / col("exact_users") <= 0.1)
          .as("users_intersect_ok"),
        (abs(GraftFunctions.kmv_jaccard(col("sk_u0"), col("sk_u1"))
          - col("exact_users_both").cast("double") / col("exact_users")) <= 0.1)
          .as("users_jaccard_ok"))
    },
      """WITH nh AS (
        |  SELECT user_id, COUNT(DISTINCT event_id % 2) AS nh,
        |    COUNT(DISTINCT event_id) AS ne
        |  FROM events GROUP BY user_id)
        |SELECT CAST(COUNT(*) AS BIGINT) AS exact_users,
        |  CAST(COUNT(*) FILTER (nh = 2) AS BIGINT) AS exact_users_both,
        |  CAST(SUM(ne) AS BIGINT) AS exact_events,
        |  TRUE AS union_ok, TRUE AS disjoint_exact,
        |  TRUE AS users_intersect_ok, TRUE AS users_jaccard_ok
        |FROM nh""".stripMargin),

    // KMV wire contract, asserted against INDEPENDENT implementations (see
    // WIRE.md): (a) wire_exact — the exported sketch contents equal the
    // bottom-k distinct values of Spark's own xxhash64 builtin in unsigned
    // order (sign-bit flip = unsigned sort), computed with generic SQL
    // array ops that never touch the sketch code; (b) roundtrip_exact —
    // kmv_import(kmv_export(s)) estimates identically (byte-identical
    // rebuild); (c) replay_exact — the estimate re-derived from the wire
    // row with PLAIN SQL arithmetic (n < k ? n : (k-1)*2^64/unsigned(h_k))
    // matches kmv_estimate bit-for-bit, the "any engine can consume this"
    // claim executed. The collect_set side is verification-only (it holds
    // every distinct hash; production reads the kilobyte sketch).
    // CMS row wire: export the non-zero counters as SQL rows + per-item
    // positions, replay the point query as a plain join/group-min over that
    // data (the engine-portable handshake — no murmur needed on the
    // consuming side), and round-trip import back to the identical sketch.
    // All booleans are hard TRUE: replay must equal cms_query exactly, and
    // at width 2048 over a handful of event types the sketch is
    // collision-free, so the estimate equals the exact count.
    Contract("hll_cms_wire_roundtrip", (s, dir) => {
      val ev = events(s, dir)
      val depth = 5
      val width = 2048
      val sk = ev.agg(GraftFunctions.cms_sketch_agg(col("event_type"), depth, width).as("_sk"))
        .withColumn("_w", GraftFunctions.cms_export(col("_sk")))
        .localCheckpoint() // 1 row; cells, cross-join, and import all reuse it
      val cells = sk.select(explode(col("_w.cells")).as("_c"))
        .select(col("_c.d").as("d"), col("_c.w").as("w"), col("_c.n").as("n"))
      val types = ev.groupBy(col("event_type")).agg(count(lit(1)).as("exact_n"))
      val pos = types.select(col("event_type"),
        posexplode(GraftFunctions.cms_positions(col("event_type"), depth, width))
          .as(Seq("d", "w")))
      // absent cell = 0 (sparse export): left join, coalesce, min over rows
      val replayed = pos.join(cells, Seq("d", "w"), "left")
        .groupBy(col("event_type"))
        .agg(min(coalesce(col("n"), lit(0L))).as("_replayed"))
      types.join(replayed, Seq("event_type"))
        .crossJoin(broadcast(sk))
        .select(col("event_type"), col("exact_n"),
          (GraftFunctions.cms_import(col("_w")) === col("_sk")).as("roundtrip_exact"),
          (col("_replayed") ===
            GraftFunctions.cms_query(col("_sk"), col("event_type"))).as("replay_exact"),
          (GraftFunctions.cms_query(col("_sk"), col("event_type"))
            === col("exact_n")).as("est_exact"))
        .orderBy(col("event_type"))
    },
      """SELECT event_type, COUNT(*) AS exact_n,
        |  TRUE AS roundtrip_exact, TRUE AS replay_exact, TRUE AS est_exact
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // CMS warehouse rollup: per-day frequency sketches union (element-wise
    // addition) to EXACTLY the sketch a single pass over all events builds
    // — merged-vs-direct byte equality is the strongest possible rollup
    // check, and collision-free sizing makes every per-type lookup exact.
    Contract("hll_cms_reagg", (s, dir) => {
      val ev = events(s, dir)
      val daily = ev.groupBy(date_trunc("day", col("ts")).as("_d"))
        .agg(GraftFunctions.cms_sketch_agg(col("event_type"), 5, 2048).as("_sk"))
      val merged = daily.agg(
        GraftFunctions.cms_union_agg(col("_sk")).as("_m"),
        count(lit(1)).as("n_days"))
      val direct = ev.agg(
        GraftFunctions.cms_sketch_agg(col("event_type"), 5, 2048).as("_dir"))
      val exact = ev.groupBy(col("event_type")).agg(count(lit(1)).as("exact_n"))
      exact.crossJoin(broadcast(merged.crossJoin(direct)))
        .select(col("event_type"), col("exact_n"), col("n_days"),
          (col("_m") === col("_dir")).as("merge_exact"),
          (GraftFunctions.cms_query(col("_m"), col("event_type"))
            === col("exact_n")).as("est_exact"))
        .orderBy(col("event_type"))
    },
      """SELECT event_type, COUNT(*) AS exact_n,
        |  (SELECT COUNT(DISTINCT CAST(ts AS DATE)) FROM events) AS n_days,
        |  TRUE AS merge_exact, TRUE AS est_exact
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // MG warehouse rollup: per-day heavy-hitter sketches union with the
    // standard MG decrement; at capacity >= distinct the rollup stays
    // exact, so every merged count equals the raw per-type count.
    Contract("hll_topk_reagg", (s, dir) => {
      val ev = events(s, dir)
      val daily = ev.groupBy(date_trunc("day", col("ts")).as("_d"))
        .agg(GraftFunctions.topk_sketch_agg(col("event_type"), 64).as("_sk"))
      val merged = daily.agg(
        GraftFunctions.topk_union_agg(col("_sk")).as("_m"),
        count(lit(1)).as("n_days"))
      val entries = merged.select(col("n_days"),
          explode(GraftFunctions.topk_export(col("_m")).getField("entries")).as("_e"))
        .select(col("_e.item").as("event_type"), col("_e.n").as("_mg_n"), col("n_days"))
      val exact = ev.groupBy(col("event_type")).agg(count(lit(1)).as("exact_n"))
      entries.join(exact, Seq("event_type"), "full")
        .select(col("event_type"), col("exact_n"), col("n_days"),
          (col("_mg_n") === col("exact_n")).as("mg_exact"))
        .orderBy(col("event_type"))
    },
      """SELECT event_type, COUNT(*) AS exact_n,
        |  (SELECT COUNT(DISTINCT CAST(ts AS DATE)) FROM events) AS n_days,
        |  TRUE AS mg_exact
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // GK row wire: export the complete quantile-summary state (the textbook
    // (v, g, delta) tuples), replay the median query from those rows with
    // the classic GK rank rule, and verify BOTH the replayed answer and
    // gk_quantile's own answer sit within rank relErr*n of the true median
    // against the raw data. The bound is the GK theorem (post-compress
    // max(g+delta) <= 2*relErr*n), so every boolean is hard TRUE.
    Contract("hll_gk_wire_roundtrip", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val l = t(s, dir, "lineitem")
      val relErr = 0.01
      val qv = 0.5
      val sk = l.groupBy(col("l_returnflag"))
        .agg(GraftFunctions.gk_sketch_agg(col("l_quantity"), relErr).as("_sk"),
          count(lit(1)).as("exact_n"))
        .withColumn("_w", GraftFunctions.gk_export(col("_sk")))
        .localCheckpoint()
      // classic GK answer from the exported tuples alone: first tuple (in
      // value order) whose [minRank, minRank+delta] sits within rank +- eps
      val tup = sk.select(col("l_returnflag"),
          col("_w.count").as("_cnt"), col("_w.rel_err").as("_re"),
          posexplode(col("_w.tuples")).as(Seq("_i", "_t")))
        .withColumn("_minRank",
          sum(col("_t.g")).over(Window.partitionBy("l_returnflag").orderBy("_i")))
        .withColumn("_rank", ceil(lit(qv) * col("_cnt")))
        .withColumn("_eps", col("_re") * col("_cnt"))
      val firstHit = tup.filter(
          (col("_minRank") + col("_t.delta") - col("_eps") <= col("_rank")) &&
          (col("_rank") <= col("_minRank") + col("_eps")))
        .groupBy(col("l_returnflag"))
        .agg(min_by(col("_t.v"), col("_i")).as("_hit"))
      val lastV = tup.groupBy(col("l_returnflag"))
        .agg(max_by(col("_t.v"), col("_i")).as("_last"))
      val replay = lastV.join(firstHit, Seq("l_returnflag"), "left")
        .select(col("l_returnflag"), coalesce(col("_hit"), col("_last")).as("_replay"))
      val both = sk.join(replay, Seq("l_returnflag"))
        .withColumn("_gkv", GraftFunctions.gk_quantile(col("_sk"), lit(qv)))
      // true rank brackets of each answer, from the raw column
      val ranks = l.select(col("l_returnflag"), col("l_quantity"))
        .join(broadcast(both.select(col("l_returnflag"), col("_replay"), col("_gkv"))),
          Seq("l_returnflag"))
        .groupBy(col("l_returnflag"))
        .agg(
          sum(when(col("l_quantity") < col("_replay"), 1L).otherwise(0L)).as("_rep_lt"),
          sum(when(col("l_quantity") <= col("_replay"), 1L).otherwise(0L)).as("_rep_le"),
          sum(when(col("l_quantity") < col("_gkv"), 1L).otherwise(0L)).as("_gk_lt"),
          sum(when(col("l_quantity") <= col("_gkv"), 1L).otherwise(0L)).as("_gk_le"))
      def inBound(lt: org.apache.spark.sql.Column, le: org.apache.spark.sql.Column,
          n: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
        val rank = ceil(lit(qv) * n)
        val eps = lit(relErr) * n
        (rank - eps <= le) && (lt + lit(1L) <= rank + eps)
      }
      both.join(ranks, Seq("l_returnflag"))
        .select(col("l_returnflag"), col("exact_n"),
          (GraftFunctions.gk_import(col("_w")) === col("_sk")).as("roundtrip_exact"),
          inBound(col("_rep_lt"), col("_rep_le"), col("exact_n")).as("replay_in_bound"),
          inBound(col("_gk_lt"), col("_gk_le"), col("exact_n")).as("gk_in_bound"))
        .orderBy(col("l_returnflag"))
    },
      """SELECT l_returnflag, COUNT(*) AS exact_n, TRUE AS roundtrip_exact,
        |  TRUE AS replay_in_bound, TRUE AS gk_in_bound
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    // Misra-Gries row wire: stored-binary MG sketch on event_type at a
    // capacity above the distinct count (the exact regime — results are
    // partition-order independent), exported entries joined against the
    // exact counts; semantic roundtrip through topk_import. The oracle
    // recomputes every (item, count) pair from raw events.
    Contract("hll_topk_wire_roundtrip", (s, dir) => {
      val ev = events(s, dir)
      val sk = ev.agg(GraftFunctions.topk_sketch_agg(col("event_type"), 64).as("_sk"))
        .withColumn("_w", GraftFunctions.topk_export(col("_sk")))
        .localCheckpoint()
      val entries = sk.select(
          (GraftFunctions.topk_export(GraftFunctions.topk_import(col("_w")))
            === col("_w")).as("roundtrip_exact"),
          explode(col("_w.entries")).as("_e"))
        .select(col("_e.item").as("event_type"), col("_e.n").as("mg_n"),
          col("roundtrip_exact"))
      val exact = ev.groupBy(col("event_type")).agg(count(lit(1)).as("exact_n"))
      entries.join(exact, Seq("event_type"), "full")
        .select(col("event_type"), col("exact_n"),
          (col("mg_n") === col("exact_n")).as("mg_exact"),
          col("roundtrip_exact"))
        .orderBy(col("event_type"))
    },
      """SELECT event_type, COUNT(*) AS exact_n, TRUE AS mg_exact,
        |  TRUE AS roundtrip_exact
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    Contract("hll_kmv_wire_roundtrip", (s, dir) => {
      val ev = events(s, dir)
      val kk = 1024
      val signBit = lit(Long.MinValue)
      val sk = ev.groupBy(col("event_type"))
        .agg(GraftFunctions.kmv_sketch_agg(col("user_id"), kk).as("_sk"),
          countDistinct(col("user_id")).as("exact_users"),
          collect_set(xxhash64(col("user_id").cast("string"))).as("_all"))
        .withColumn("_w", GraftFunctions.kmv_export(col("_sk")))
      val bottom = transform(
        slice(array_sort(transform(col("_all"), h => h.bitwiseXOR(signBit))),
          1, kk),
        h => h.bitwiseXOR(signBit))
      val n = size(col("_w.hashes"))
      val hk = element_at(col("_w.hashes"), n) // ascending unsigned: last = h_k
      val twoTo64 = lit(1.8446744073709552e19)
      val uHk = when(hk >= 0, hk.cast("double"))
        .otherwise(hk.cast("double") + twoTo64)
      val replay = when(n < col("_w.k"), n.cast("double"))
        .otherwise((col("_w.k") - 1).cast("double") * twoTo64 / uHk)
      sk.select(col("event_type"), col("exact_users"),
          (col("_w.hashes") === bottom).as("wire_exact"),
          (GraftFunctions.kmv_estimate(GraftFunctions.kmv_import(col("_w")))
            === GraftFunctions.kmv_estimate(col("_sk"))).as("roundtrip_exact"),
          (replay === GraftFunctions.kmv_estimate(col("_sk"))).as("replay_exact"),
          (abs(GraftFunctions.kmv_estimate(col("_sk")) - col("exact_users"))
            / col("exact_users") <= 0.1).as("est_ok"))
        .orderBy(col("event_type"))
    },
      """SELECT event_type, COUNT(DISTINCT user_id) AS exact_users,
        |  TRUE AS wire_exact, TRUE AS roundtrip_exact,
        |  TRUE AS replay_exact, TRUE AS est_ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // Audience-overlap matrix from stored KMV sketches: one scan builds a
    // sketch per event_type, then every pairwise intersection/Jaccard comes
    // from kilobyte sketch values — the |types|^2 pair join never touches
    // raw events. At 100 TB with daily per-segment sketch tables this is
    // the whole point of KMV: any-segment-vs-any-segment overlap without a
    // rescan. Exact sides recomputed in-query from a distinct (user, type)
    // projection; tolerances are union-relative (the honest contract for
    // intersections).
    Contract("hll_kmv_overlap", (s, dir) => {
      val ev = events(s, dir)
      // materialize the |types|-row sketch table and the distinct (user,
      // type) projection once: both feed two join branches each, and
      // without the checkpoint Catalyst re-runs the full event scan per
      // branch (4 scans). The exact side exists only to verify the sketch
      // math — production overlap matrices read the sketch table alone.
      val sk = ev.groupBy(col("event_type"))
        .agg(GraftFunctions.kmv_sketch_agg(col("user_id"), 1024).as("sk"),
          countDistinct(col("user_id")).as("nd"))
        .localCheckpoint()
      val a = sk.select(col("event_type").as("et_a"), col("sk").as("sk_a"),
        col("nd").as("exact_a"))
      val b = sk.select(col("event_type").as("et_b"), col("sk").as("sk_b"),
        col("nd").as("exact_b"))
      val pairs = a.join(b, col("et_a") < col("et_b"))
      val ut = ev.select(col("user_id"), col("event_type")).distinct()
        .localCheckpoint()
      val exactBoth = ut.as("x").join(ut.as("y"),
          col("x.user_id") === col("y.user_id")
            && col("x.event_type") < col("y.event_type"))
        .groupBy(col("x.event_type").as("et_a"), col("y.event_type").as("et_b"))
        .agg(count(lit(1)).as("exact_both"))
      val u = col("exact_a") + col("exact_b") - col("exact_both")
      pairs.join(exactBoth, Seq("et_a", "et_b"))
        .select(col("et_a"), col("et_b"),
          col("exact_a"), col("exact_b"), col("exact_both"),
          (abs(GraftFunctions.kmv_intersect_estimate(col("sk_a"), col("sk_b"))
            - col("exact_both")) / u <= 0.1).as("intersect_ok"),
          (abs(GraftFunctions.kmv_jaccard(col("sk_a"), col("sk_b"))
            - col("exact_both").cast("double") / u) <= 0.1).as("jaccard_ok"))
        .orderBy(col("et_a"), col("et_b"))
    },
      """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
        |nd AS (SELECT event_type, COUNT(*) AS nd FROM ut GROUP BY event_type),
        |pairs AS (
        |  SELECT x.event_type AS et_a, y.event_type AS et_b,
        |    CAST(COUNT(*) AS BIGINT) AS exact_both
        |  FROM ut x JOIN ut y
        |    ON x.user_id = y.user_id AND x.event_type < y.event_type
        |  GROUP BY 1, 2)
        |SELECT p.et_a, p.et_b,
        |  CAST(na.nd AS BIGINT) AS exact_a,
        |  CAST(nb.nd AS BIGINT) AS exact_b,
        |  exact_both,
        |  TRUE AS intersect_ok, TRUE AS jaccard_ok
        |FROM pairs p
        |JOIN nd na ON p.et_a = na.event_type
        |JOIN nd nb ON p.et_b = nb.event_type
        |ORDER BY et_a, et_b""".stripMargin),

    // Theta-sketch-style set DIFFERENCE on stored KMV sketches: a-not-b as
    // (A-only fraction of the merged bottom-k union sample) x (union
    // estimate from the same sample) — no inclusion-exclusion cancellation,
    // so the error stays union-relative even when |A \ B| is tiny. Checked
    // in both directions on the overlapping user halves and against the
    // provably disjoint event-id halves (difference = |A| there).
    Contract("hll_kmv_difference", (s, dir) => {
      val ev = events(s, dir)
      val half = ev.withColumn("half", (col("event_id") % 2).cast("int"))
      val sk = half.groupBy(col("half")).agg(
        GraftFunctions.kmv_sketch_agg(col("user_id"), 1024).as("sk_u"),
        GraftFunctions.kmv_sketch_agg(col("event_id"), 1024).as("sk_e"))
      val pair = sk.agg(
        max(when(col("half") === 0, col("sk_u"))).as("sk_u0"),
        max(when(col("half") === 1, col("sk_u"))).as("sk_u1"),
        max(when(col("half") === 0, col("sk_e"))).as("sk_e0"),
        max(when(col("half") === 1, col("sk_e"))).as("sk_e1"))
      val exact = half.groupBy(col("user_id"))
        .agg(max(when(col("half") === 0, 1).otherwise(0)).as("_h0"),
          max(when(col("half") === 1, 1).otherwise(0)).as("_h1"),
          countDistinct(when(col("half") === 0, col("event_id"))).as("_ne0"))
        .agg(
          count(lit(1)).as("exact_union"),
          sum(when(col("_h0") === 1 && col("_h1") === 0, 1L).otherwise(0L))
            .as("exact_a_only"),
          sum(when(col("_h1") === 1 && col("_h0") === 0, 1L).otherwise(0L))
            .as("exact_b_only"),
          sum(col("_ne0")).as("exact_events_a"))
      pair.crossJoin(exact).select(
        col("exact_union"), col("exact_a_only"), col("exact_b_only"),
        col("exact_events_a"),
        (abs(GraftFunctions.kmv_difference_estimate(col("sk_u0"), col("sk_u1"))
          - col("exact_a_only")) / col("exact_union") <= 0.1).as("diff_a_ok"),
        (abs(GraftFunctions.kmv_difference_estimate(col("sk_u1"), col("sk_u0"))
          - col("exact_b_only")) / col("exact_union") <= 0.1).as("diff_b_ok"),
        (abs(GraftFunctions.kmv_difference_estimate(col("sk_e0"), col("sk_e1"))
          - col("exact_events_a")) / col("exact_events_a") <= 0.1)
          .as("diff_disjoint_ok"))
    },
      """SELECT COUNT(*) AS exact_union,
        |  COUNT(*) FILTER (h0 = 1 AND h1 = 0) AS exact_a_only,
        |  COUNT(*) FILTER (h1 = 1 AND h0 = 0) AS exact_b_only,
        |  CAST(SUM(ne0) AS BIGINT) AS exact_events_a,
        |  TRUE AS diff_a_ok, TRUE AS diff_b_ok, TRUE AS diff_disjoint_ok
        |FROM (SELECT user_id,
        |        MAX(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END) AS h0,
        |        MAX(CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END) AS h1,
        |        COUNT(DISTINCT event_id) FILTER (event_id % 2 = 0) AS ne0
        |      FROM events GROUP BY user_id)""".stripMargin),

    // N-way KMV intersection: the view∩click∩purchase audience from three
    // stored sketches in ONE union-sample pass — inclusion-exclusion over
    // n sets needs 2^n-1 alternating HLL terms whose noise compounds;
    // kmv_intersect_n classifies each sampled hash once.
    Contract("hll_kmv_triple", (s, dir) => {
      val types = Seq("view", "click", "purchase")
      val ev = events(s, dir).filter(col("event_type").isin(types: _*))
      val pivoted = ev.groupBy(col("event_type"))
        .agg(GraftFunctions.kmv_sketch_agg(col("user_id"), 1024).as("sk"))
        .agg(
          max(when(col("event_type") === "view", col("sk"))).as("sk_v"),
          max(when(col("event_type") === "click", col("sk"))).as("sk_c"),
          max(when(col("event_type") === "purchase", col("sk"))).as("sk_p"))
      val exact = ev.select(col("user_id"), col("event_type")).distinct()
        .groupBy(col("user_id")).agg(count(lit(1)).as("_nt"))
        .agg(count(lit(1)).as("exact_union"),
          sum(when(col("_nt") === 3, 1L).otherwise(0L)).as("exact_all3"))
      pivoted.crossJoin(exact).select(
        col("exact_union"), col("exact_all3"),
        (abs(GraftFunctions.kmv_intersect_n(col("sk_v"), col("sk_c"), col("sk_p"))
          - col("exact_all3")) / col("exact_union") <= 0.1).as("triple_ok"))
    },
      """SELECT COUNT(*) AS exact_union,
        |  COUNT(*) FILTER (nt = 3) AS exact_all3,
        |  TRUE AS triple_ok
        |FROM (SELECT user_id, COUNT(DISTINCT event_type) AS nt
        |      FROM events
        |      WHERE event_type IN ('view', 'click', 'purchase')
        |      GROUP BY user_id)""".stripMargin),

    // Sketch Jaccard between the two event halves: the user-overlap ratio
    // without ever materializing the sets. Exact side recomputed in-query;
    // the tolerance is generous because inclusion-exclusion noise compounds
    // in the ratio.
    Contract("hll_jaccard_halves", (s, dir) => {
      val ev = events(s, dir)
      val half = ev.withColumn("half", (col("event_id") % 2).cast("int"))
      val sketches = half.groupBy(col("half"))
        .agg(GraftFunctions.hll_sketch_agg(col("user_id"), 1 << 12).as("sk"))
      val a = sketches.filter(col("half") === 0).select(col("sk").as("sk_a"))
      val b = sketches.filter(col("half") === 1).select(col("sk").as("sk_b"))
      val exact = half.groupBy(col("user_id"))
        .agg(countDistinct(col("half")).as("_nh"))
        .agg(
          count(lit(1)).as("exact_union"),
          sum(when(col("_nh") === 2, 1L).otherwise(0L)).as("exact_intersect"))
      a.crossJoin(b).crossJoin(exact).select(
        col("exact_union"), col("exact_intersect"),
        round(col("exact_intersect").cast("double") / col("exact_union"), 4)
          .as("exact_jaccard"),
        (abs(GraftFunctions.hll_jaccard_estimate(col("sk_a"), col("sk_b"))
          - col("exact_intersect").cast("double") / col("exact_union"))
          <= 0.05).as("jaccard_ok"))
    },
      """SELECT COUNT(*) AS exact_union,
        |  COUNT(*) FILTER (nh = 2) AS exact_intersect,
        |  ROUND(CAST(COUNT(*) FILTER (nh = 2) AS DOUBLE) / COUNT(*), 4)
        |    AS exact_jaccard,
        |  TRUE AS jaccard_ok
        |FROM (SELECT user_id, COUNT(DISTINCT event_id % 2) AS nh
        |      FROM events GROUP BY user_id)""".stripMargin)
  )
}
