package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression guards: the properties that make these queries
  * scale are asserted on the optimized physical plan, so a refactor that
  * silently loses pushdown, broadcast, or partial aggregation fails CI.
  */
class PlanQualitySpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, dir)
    df.queryExecution.executedPlan.toString
  }

  test("filters and projection reach the parquet scan") {
    val p = plan("q_filter_pushdown")
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), IsNotNull(l_discount)"),
      s"filter not pushed:\n$p")
    assert(p.contains("GreaterThan(l_quantity,45.0)"))
    // projection pruned: quantity/discount read for the filter, but no
    // unrelated wide columns (e.g. l_shipdate, l_returnflag)
    assert(!p.contains("l_shipdate"), "column pruning lost: l_shipdate read")
  }

  test("partitioned layout prunes non-matching directories at planning time") {
    import org.apache.spark.sql.functions.col
    val o = spark.read.parquet(s"$dir/orders.parquet")
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_prune_spec_" +
      java.lang.ProcessHandle.current().pid()
    operators.Layout.partitionedWrite(o, path, Seq("o_orderstatus"))
    val hp = new org.apache.hadoop.fs.Path(path)
    hp.getFileSystem(spark.sparkContext.hadoopConfiguration).deleteOnExit(hp)
    val pruned = spark.read.parquet(path).filter(col("o_orderstatus") === "O")
    // pruning is visible in BOTH the plan (a NON-EMPTY PartitionFilters on
    // the scan — the metadata key prints "[]" even with no pruning, so
    // match the predicate text) and the runtime metrics: only the matching
    // directory's files are read (inputFiles can't show this — it lists
    // the relation pre-pruning)
    val partFilter = """PartitionFilters: \[[^\]]*o_orderstatus""".r
    val p = pruned.queryExecution.executedPlan.toString
    assert(partFilter.findFirstIn(p).isDefined, s"no partition filter on o_orderstatus:\n$p")
    pruned.collect()
    val scan = pruned.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.getOrElse(fail(s"no file scan in:\n$p"))
    val matchDir = new java.io.File(path, "o_orderstatus=O")
    val matchFiles = Option(matchDir.listFiles((_, n) => n.endsWith(".parquet")))
      .map(_.length).getOrElse(fail(s"partition dir missing: $matchDir"))
    val totalFiles = spark.read.parquet(path).inputFiles.length
    val scanned = scan.metrics("numFiles").value
    assert(scanned == matchFiles && scanned < totalFiles,
      s"pruning not applied: scanned=$scanned matching=$matchFiles total=$totalFiles")
    // and the full contract query keeps the pruned shape
    assert(partFilter.findFirstIn(plan("q_partition_pruning")).isDefined)
  }

  test("demo-scan spread deletes itself when the scan is already parallel") {
    // guard contract (r15): the one-row-group demo parquet scans as ONE
    // task, so the spread's user-forced repartition is present…
    val p1 = plan("q_percentiles")
    assert(p1.contains("REPARTITION_BY_NUM"),
      s"expected the narrow-scan spread exchange:\n$p1")
    // …but when the scan already arrives at >= core-count partitions (the
    // 100 TB shape, simulated by shrinking the split size), the same query
    // plans with NO spread exchange — no unconditional raw-row shuffle
    // ahead of the partial aggregate.
    spark.conf.set("spark.sql.files.maxPartitionBytes", "8192")
    spark.conf.set("spark.sql.files.openCostInBytes", "0")
    try {
      val p2 = plan("q_percentiles")
      assert(!p2.contains("REPARTITION_BY_NUM"),
        s"spread exchange survived a parallel scan:\n$p2")
    } finally {
      spark.conf.unset("spark.sql.files.maxPartitionBytes")
      spark.conf.unset("spark.sql.files.openCostInBytes")
    }
  }

  test("spread guard: an exchange-free scan passes through the probe") {
    import org.apache.spark.sql.functions.col
    val scan = spark.read.parquet(s"$dir/orders.parquet")
    // narrow demo scan: spread by key, or round-robin without keys
    for (spread <- Seq(contracts.Shared.spreadIfNarrow(scan, col("o_orderkey")),
        contracts.Shared.spreadIfNarrow(scan))) {
      val p = spread.queryExecution.executedPlan.toString
      assert(p.contains("REPARTITION_BY_NUM"), s"expected the spread exchange:\n$p")
    }
    // already at >= core-count partitions: returned as is
    val wide = spark.range(0, 100, 1, 8).toDF()
    assert(contracts.Shared.spreadIfNarrow(wide, col("id")) eq wide)
  }

  test("spread guard: a shuffled input is rejected before the probe") {
    import org.apache.spark.sql.functions.col
    val scan = spark.read.parquet(s"$dir/orders.parquet")
    for (shuffled <- Seq(scan.groupBy(col("o_custkey")).count(), scan.repartition(3))) {
      val e = intercept[IllegalArgumentException](
        contracts.Shared.spreadIfNarrow(shuffled, col("o_custkey")))
      assert(e.getMessage.contains("needs an exchange-free input"), e.getMessage)
    }
  }

  test("MERGE hint overrides the broadcast choice the tiny side would win") {
    val p = plan("q_join_hints")
    assert(p.contains("SortMergeJoin"), s"MERGE hint ignored:\n$p")
    assert(!p.contains("BroadcastHashJoin"), s"hint did not suppress broadcast:\n$p")
  }

  test("dimension joins broadcast instead of shuffling the fact side") {
    val p = plan("q_revenue_by_nation")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast join:\n$p")
    assert(!p.contains("SortMergeJoin"), "dim join degraded to SMJ at tiny SF")
  }

  test("hll aggregate plans as partial/final around one exchange") {
    val p = plan("hll_parts_by_returnflag")
    val objAggs = "ObjectHashAggregate".r.findAllIn(p).length
    assert(objAggs >= 2, s"expected partial+final ObjectHashAggregate:\n$p")
    assert(p.contains("hll_cardinality"), "custom aggregate missing from plan")
    // scan must prune to the two columns used
    assert(!p.contains("l_extendedprice"), "column pruning lost on lineitem")
  }

  test("word top-k: map-side combine before the exchange, TakeOrdered final") {
    val p = plan("tx_word_topk")
    // partial+final hash aggregation: the exploded token stream collapses
    // to vocab-sized partials before the shuffle
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      s"expected partial+final aggregation:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k must plan as TakeOrdered, not global sort:\n$p")
  }

  test("salted join broadcasts the replicated small side, no cross product") {
    val p = plan("q_salted_join")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast hash join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"salted join degraded:\n$p")
  }

  test("surprisal: token stream joins broadcast vocab, is never shuffled raw") {
    val df = SparkEntry.queries("tx_surprisal")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), s"unexpected cross product:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"vocab join must broadcast (token side never shuffles raw):\n$p")
  }

  test("cms aggregate plans as partial/final around one exchange") {
    val p = plan("hll_cms_event_counts")
    assert("ObjectHashAggregate".r.findAllIn(p).length >= 2,
      s"expected partial+final ObjectHashAggregate for CMS:\n$p")
    assert(p.contains("cms_sketch_agg"), "CMS aggregate missing from plan")
  }

  test("exact dedup shuffles digests, not text") {
    val df = operators.Dedup.exactDupStats(
      spark.read.parquet(s"$dir/documents.parquet"), "text", "doc_id")
    val p = df.queryExecution.executedPlan.toString
    // the exchange partitions on the digest columns, never raw text
    val exchangeLines = p.linesIterator.filter(_.contains("hashpartitioning")).toList
    assert(exchangeLines.nonEmpty)
    exchangeLines.foreach(l => assert(!l.contains("text#"),
      s"shuffle carries raw text: $l"))
  }

  test("range join is an equi-join on buckets, not a nested-loop join") {
    val df = SparkEntry.queries("q_range_join")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"range join degraded to cross product:\n$p")
  }

  test("asof join uses a single hash shuffle, no nested-loop join") {
    val ev = SparkEntry.queries("q_asof_join")(spark, dir)
    val p = ev.queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"asof join degraded to cross product:\n$p")
  }

  test("LSH ANN candidates come from an equi-join, not a per-row predicate scan") {
    // the contract query sim_ann_lsh deliberately adds a broadcast
    // cross-join brute-force baseline (5 query rows) to compute recall, so
    // assert on the LSH operator's own plan here
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val q = e.filter(org.apache.spark.sql.functions.col("vec_id") < 5)
      .select(org.apache.spark.sql.functions.col("vec_id").as("qid"),
        org.apache.spark.sql.functions.col("embedding").as("qvec"))
    val planes = operators.Similarity.randomHyperplaneTables(4, 4, 64)
    val p = operators.Similarity.lshTopK(e, "vec_id", "embedding",
      q, "qid", "qvec", planes).queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"LSH ANN degraded to cross product:\n$p")
    assert(p.contains("hyperplane_bucket"), "bucket expression missing from plan")
    // and the full contract query still carries the bucketed path
    assert(plan("sim_ann_lsh").contains("hyperplane_bucket"))
  }

  test("domain cap pushes the rank limit map-side (WindowGroupLimit before the exchange)") {
    val p = plan("q_domain_cap")
    // Catalyst's rank-limit rewrite must appear on BOTH sides of the
    // exchange: the Partial limit bounds what each input partition ships
    // per group — the property that keeps a mega-domain from flooding the
    // shuffle — and the Final limit finishes after the sort.
    assert(p.contains("WindowGroupLimit"), s"rank limit not pushed down:\n$p")
    assert(p.contains("Partial"), s"no partial (map-side) group limit:\n$p")
  }

  test("no contract query plans a cross product (beyond declared tiny sides)") {
    // queries that INTENTIONALLY cross-join a bounded tiny side: the ANN
    // recall baselines broadcast <=5 query rows against the corpus, and the
    // sketch-algebra/summary queries cross-join 1-row aggregates. Everything
    // else must stay equi-join only — a new name appearing here means a
    // rewrite silently degraded to an n^2 join.
    val tinySideCross = Set(
      "sim_bruteforce_topk", "sim_ann_ivf", "sim_ann_lsh", "sim_ann_pq",
      "sim_ann_ivfpq",
      "hll_intersect_halves", "hll_difference_halves", "hll_jaccard_halves",
      "hll_sketch_reagg", "hll_kmv_sets",
      // a-not-b difference: crosses the 1-row sketch-pair aggregate into
      // the 1-row exact aggregate
      "hll_kmv_difference",
      // n-way intersection: same 1-row x 1-row shape
      "hll_kmv_triple",
      // overlap matrix: inequality pair-join of the <=|event_types| sketch
      // rows (5 here) — bounded by segment count, never by data volume
      "hll_kmv_overlap",
      // shard triage matrix: |A shards| x |B shards| cross of kilobyte
      // sketch rows (2x2 here) — bounded by shard count
      "tx_shard_overlap",
      // unigram surprisal crosses the 1-row corpus-total into the
      // vocab-sized frequency table before the broadcast score join
      "tx_surprisal",
      // est/exact sides split to avoid the Expand distinct rewrite; the
      // rejoin is a cross of two 1-row aggregates
      "hll_distinct_pairs", "hll_both_widths",
      // rank-error check broadcasts the 1-row approx-quantile result
      // against the fraction-below scan
      "q_approx_percentiles",
      // BM25 broadcasts the 1-row (n_docs, avgdl) corpus stats
      "tx_bm25",
      // join-size estimate crosses its 1-row estimate into the 1-row exact
      "q_join_size_estimate",
      // CMS point lookups broadcast the 1-row sketch against distinct keys
      "hll_cms_event_counts",
      // gap-fill grid: day spine (one row per day, from a 1-row min/max
      // aggregate) crossed with the <=5 distinct priorities
      "q_gapfill",
      // GK rank-error check broadcasts the 1-row merged-quantile result
      "q_gk_quantile_reagg",
      // null-safe vs strict counts: a cross of two 1-row aggregates
      "q_nullsafe_join",
      // Q22: the global avg-acctbal threshold is a 1-row aggregate crossed
      // into the customer scan before the anti-join
      "q_tpch_q22",
      // Q11/Q20: the global value total / average-quantity threshold is a
      // 1-row aggregate crossed back over the per-key rollup
      "q_tpch_q11", "q_tpch_q20",
      // leakage audit: two 1-row aggregates (doc counts x pair audit)
      "dd_leakage_split",
      // incremental-snapshot summary: delta counts x pair-audit 1-row aggs
      "dd_incremental_snapshot",
      // semantic dedup: the drop list crosses the 1-row surviving-count agg
      "dd_semantic_keep",
      // CMS row wire: the 1-row sketch+export crosses into the per-type
      // replay; GK row wire broadcasts the per-group answers into the
      // rank-bracket scan (3 rows)
      "hll_cms_wire_roundtrip", "hll_gk_wire_roundtrip",
      // int8 quantization: the 1-row calibration aggregate crosses into
      // the corpus for the bound check and into the 1-row bound verdict
      "sim_int8_quantize",
      // budget apportionment: the 1-row grand-total weight crosses into
      // the nShards-row shard table (allocateBudget's documented
      // single-row stat join); the epoch-plan and capacity-cap queries
      // embed the same apportionment, and the replan round adds
      // reallocateSpill's 1-row spill/headroom totals cross
      "tx_crawl_budget", "tx_crawl_plan", "tx_budget_capacity",
      "tx_budget_replan",
      // fetch-order capstone: embeds the same allocateBudget 1-row
      // grand-total stat join as the epoch-plan family above
      "tx_fetch_order",
      // CMS rollup: merged and direct 1-row sketches cross into the
      // per-type exact counts
      "hll_cms_reagg",
      // deep profile: the 1-row quantile set crosses into the rank-check
      // scan, and the 1-row rank verdict crosses back into the report
      "q_profile_deep",
      // fast HRW: the 1-row move audit crosses the 1-row (8-shard-grain)
      // balance aggregate
      "dd_rendezvous_fast")
    SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
      val p = plan(name)
      if (!tinySideCross(name)) {
        assert(!p.contains("CartesianProduct"),
          s"$name plans a CartesianProduct:\n$p")
        assert(!p.contains("BroadcastNestedLoopJoin"),
          s"$name plans a BroadcastNestedLoopJoin:\n$p")
      }
    }
  }

  test("salted distinct is two aggregation phases, shuffled on (group, salt)") {
    val p = plan("q_salted_distinct")
    // the inner shuffle must include the salt so a hot group spreads out
    assert(p.linesIterator.exists(l =>
        l.contains("hashpartitioning") && l.contains("_salt")),
      s"salt missing from the dedup exchange:\n$p")
  }

  test("cross-corpus dedup bucket join is an equi-join on (band, hash)") {
    val d = spark.read.parquet(s"$dir/documents.parquet")
    val corpus = d.filter(org.apache.spark.sql.functions.col("source") =!= "src3")
    val batch = d.filter(org.apache.spark.sql.functions.col("source") === "src3")
    val p = operators.Dedup.minhashCrossDupPairs(corpus, batch, "text", "doc_id")
      .queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"cross dedup degraded to cross product:\n$p")
  }

  test("feed discovery probes the frontier via broadcast builds, never shuffles it") {
    // the SCALING.md claim made structural (r11 verdict #4): the 100 TB
    // frontier streams through BroadcastHashJoin probes with the entries
    // dim as build side — no SMJ/shuffled join anywhere in the plan
    val p = plan("tx_feed_discovery")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast joins:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"frontier join degraded to a shuffle join:\n$p")
  }

  test("archive-family lanes are map-only before their output projection") {
    // one fabrication exchange (the fixture's parallelism repartition) is
    // the ONLY shuffle before the final sort: decode/extract never
    // crosses an exchange. Holds for the r13/r14 lanes exactly like the
    // WARC/zip/tar elders.
    for (name <- Seq("tx_tarxz_members", "tx_wiki_dump", "tx_wiki_index",
      "tx_pdf_cjk", "tx_xls_encrypted",
      "tx_tarlz4_members", "tx_office_encrypted", "tx_7z_members",
      "tx_deb_packages", "tx_cpio_members", "tx_iso_members",
      "tx_xar_members", "tx_tarz_members")) {
      val p = plan(name)
      assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastNestedLoop"),
        s"$name joins where none belong:\n$p")
      val exchanges = "Exchange".r.findAllIn(p).length
      // fabrication repartition + the orderBy range exchange — nothing else
      assert(exchanges <= 3, s"$name has $exchanges exchanges:\n$p")
    }
  }
}
