package graft
package contracts

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._

/** One contract query: the Spark builder run by Verify and Bench, and the
  * DuckDB SQL that recomputes its output from the same parquet tables.
  *
  * Query naming: `hll_*` exercise the reference's own operator surface
  * (sketch build/merge/finalize/accuracy); `q_*` exercise the standard
  * relational categories with exact DuckDB oracles; `dd_*`, `sim_*`, `tx_*`
  * and `mm_*` are the training-data-pipeline operators (dedup, similarity,
  * text analysis, multimodal). Each family is one `Seq[Contract]` in its
  * own file.
  *
  * Determinism rules: every oracle-checked query sorts on a unique key and
  * rounds floating aggregates, so the DuckDB hash-compare is stable. HLL
  * estimates have no SQL oracle (DuckDB's approx_count_distinct is a
  * different sketch) — each estimate query emits the exact side plus a
  * tolerance boolean, and the estimates themselves are golden-locked in
  * the ScalaTest suites.
  */
final case class Contract(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracleSql: String)

/** Helpers shared by the contract builders and oracles. */
object Shared {

  private[graft] def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** `events.ts` has shipped in two encodings across testdata generations:
    * parquet `timestamp[us]` (current — reads directly as a Spark timestamp)
    * and nanosecond-precision int64 (older — only readable via the
    * nanosAsLong legacy conf, then `/1000` to micros). Branch on the dtype
    * the scan actually produced so both generations decode to the same
    * microsecond timestamp column.
    */
  private[graft] def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // The NTZ->LTZ cast below reinterprets wall-clock values in the session
    // timezone; pin UTC here (alongside nanosAsLong) so the conversion is
    // value-identical to the legacy long-nanos path on ANY host, not just
    // ones whose session happens to run UTC.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    val raw = t(spark, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros((col("ts") / 1000L).cast("long")))
      case _ =>
        // already a timestamp; parquet [us] not-UTC-adjusted reads as
        // TIMESTAMP_NTZ — cast to TIMESTAMP (LTZ) so downstream queries see
        // the same type the legacy long-nanos path produced
        raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }

  /** Parallelism-guarded spread: repartition `df` ONLY when it arrives
    * narrower than the session's core count — by hash of `keys`, or
    * round-robin when none are given. The demo parquet is one
    * row group, so every scan is ONE task and the heavy scan-fused work
    * downstream serializes; the spread fixes that for the price of one
    * shuffle (an explicit numPartitions repartition, so AQE must respect
    * it). At production scale the scan is already thousands of tasks, and
    * an unconditional repartition would insert a full raw-row shuffle
    * AHEAD of the size-reducing partial aggregates it feeds, so the guard
    * turns it off.
    *
    * Precondition: `df` is exchange-free (a scan, optionally filtered or
    * projected). The partition probe plans the input; on a plan with an
    * exchange, AQE would run the shuffle stages as jobs inside the probe,
    * so such an input is rejected before probing.
    */
  private[graft] def spreadIfNarrow(df: DataFrame, keys: Column*): DataFrame = {
    val plan = df.queryExecution.executedPlan
    require(!hasExchange(plan),
      "spreadIfNarrow needs an exchange-free input (a scan, optionally " +
        s"filtered or projected), got a plan with an exchange:\n$plan")
    val target = math.max(2, df.sparkSession.sparkContext.defaultParallelism)
    if (df.queryExecution.toRdd.getNumPartitions >= target) df
    else if (keys.isEmpty) df.repartition(target)
    else df.repartition(target, keys: _*)
  }

  private def hasExchange(p: SparkPlan): Boolean = p match {
    case a: AdaptiveSparkPlanExec => hasExchange(a.executedPlan)
    case _: Exchange => true
    case _ => p.children.exists(hasExchange)
  }

  /** The documents id list, spread round-robin for the per-id fixture
    * fabrication downstream (without it the whole document family was
    * measured running serialized on one core).
    */
  private[graft] def docIds(s: SparkSession, dir: String): Dataset[Long] =
    spreadIfNarrow(t(s, dir, "documents").select(col("doc_id"))).as(Encoders.scalaLong)

  // Generated integer-rank iteration CTE pairs (c_i/r_i) for oracles that
  // replay more rounds than are worth handwriting — same arithmetic as
  // tx_link_rank's unrolled three. MATERIALIZED is load-bearing: DuckDB
  // inlines plain CTEs, and a 24-deep inlined chain hands the join-order
  // optimizer a ~100-relation tree (measured: >5 min at sf0.01;
  // materialized: 0.4 s).
  // One damped-integer rank iteration per step, unrolled as DuckDB CTEs.
  // `g` suffixes the graph CTE names (e/deg/n) so one oracle can iterate
  // over TWO graphs (the old epoch's, then the merged one); `rp` prefixes
  // the rank CTEs so a warm-started chain (w0 seeded from the old chain's
  // terminal vector) coexists with the cold one.
  private[graft] def rankIterCtes(from: Int, to: Int, g: String = "",
      rp: String = "r"): String =
    (from to to).map { i =>
      s"""c$rp$i AS MATERIALIZED (SELECT e$g.dst AS host, CAST(SUM(($rp${i - 1}.rank * 17 // 20) // deg$g.out_deg) AS BIGINT) AS contrib
         |       FROM e$g JOIN deg$g ON deg$g.src = e$g.src JOIN $rp${i - 1} ON $rp${i - 1}.host = e$g.src GROUP BY e$g.dst),
         |$rp$i AS MATERIALIZED (SELECT n$g.host, 150000 + COALESCE(c$rp$i.contrib, 0) AS rank
         |       FROM n$g LEFT JOIN c$rp$i ON c$rp$i.host = n$g.host)""".stripMargin
    }.mkString(",\n")

  // Shared oracle prefix for the budget-capacity family
  // (tx_budget_capacity / tx_budget_replan): the 3-iteration integer rank
  // replay, the two-level 300-page apportionment, and the Crawl-Delay
  // join, ending in `capped(host, alloc, delay_s)`.
  private[graft] val budgetCappedCtes: String =
    """WITH ks AS (SELECT DISTINCT doc_id % 20 AS k FROM documents),
      |e0 AS (
      |  SELECT k AS s, (3 * k + 5) % 20 AS t FROM ks
      |  UNION SELECT k, (7 * k + 3) % 20 FROM ks
      |  UNION SELECT k, (k + 11) % 20 FROM ks),
      |e AS (SELECT 'src' || s || '.invalid' AS src,
      |             'src' || t || '.invalid' AS dst FROM e0 WHERE s <> t),
      |deg AS (SELECT src, COUNT(*) AS out_deg FROM e GROUP BY src),
      |n AS (SELECT src AS host FROM e UNION SELECT dst FROM e),
      |r0 AS (SELECT host, CAST(1000000 AS BIGINT) AS rank FROM n),
      |c1 AS (SELECT e.dst AS host, CAST(SUM((r0.rank * 17 // 20) // deg.out_deg) AS BIGINT) AS contrib
      |       FROM e JOIN deg ON deg.src = e.src JOIN r0 ON r0.host = e.src GROUP BY e.dst),
      |r1 AS (SELECT n.host, 150000 + COALESCE(c1.contrib, 0) AS rank
      |       FROM n LEFT JOIN c1 ON c1.host = n.host),
      |c2 AS (SELECT e.dst AS host, CAST(SUM((r1.rank * 17 // 20) // deg.out_deg) AS BIGINT) AS contrib
      |       FROM e JOIN deg ON deg.src = e.src JOIN r1 ON r1.host = e.src GROUP BY e.dst),
      |r2 AS (SELECT n.host, 150000 + COALESCE(c2.contrib, 0) AS rank
      |       FROM n LEFT JOIN c2 ON c2.host = n.host),
      |c3 AS (SELECT e.dst AS host, CAST(SUM((r2.rank * 17 // 20) // deg.out_deg) AS BIGINT) AS contrib
      |       FROM e JOIN deg ON deg.src = e.src JOIN r2 ON r2.host = e.src GROUP BY e.dst),
      |r3 AS (SELECT n.host, 150000 + COALESCE(c3.contrib, 0) AS rank
      |       FROM n LEFT JOIN c3 ON c3.host = n.host),
      |ranked AS (SELECT host, rank,
      |    CAST(regexp_extract(host, 'src(\d+)', 1) AS BIGINT) % 4 AS shard
      |  FROM r3),
      |sw AS (SELECT shard, CAST(SUM(rank) AS BIGINT) AS ws
      |       FROM ranked GROUP BY shard),
      |g AS (SELECT CAST(SUM(ws) AS BIGINT) AS w FROM sw),
      |sb AS (SELECT shard, ws, 300 * ws // w AS base,
      |         (300 * ws) % w AS rem FROM sw, g),
      |lo AS (SELECT CAST(300 - SUM(base) AS BIGINT) AS leftover FROM sb),
      |rkd AS (SELECT shard, ws, base +
      |    CASE WHEN ROW_NUMBER() OVER (ORDER BY rem DESC, shard ASC)
      |      <= leftover THEN 1 ELSE 0 END AS bs
      |  FROM sb, lo),
      |cum AS (SELECT ranked.host, ranked.shard, ranked.rank, rkd.ws, rkd.bs,
      |    CAST(SUM(ranked.rank) OVER (PARTITION BY ranked.shard
      |      ORDER BY ranked.host) AS BIGINT) AS cw
      |  FROM ranked JOIN rkd USING (shard)),
      |budget AS (SELECT host,
      |    CAST((bs * cw // ws) - (bs * (cw - rank) // ws) AS BIGINT) AS alloc
      |  FROM cum),
      |capped AS (SELECT host, alloc,
      |    CAST(1 + CAST(regexp_extract(host, 'src(\d+)', 1) AS BIGINT) % 5
      |      AS BIGINT) AS delay_s
      |  FROM budget)""".stripMargin

  /** Shared DuckDB CTE: word-3-shingle sets per document (the exact-Jaccard
    * ground truth the minhash/dedup oracles verify against).
    */
  private[graft] val shingleCte: String =
    """sh AS (
      |  SELECT doc_id, source,
      |    LIST_DISTINCT(
      |      CASE WHEN LEN(ws) < 3
      |           THEN CASE WHEN LEN(ws) > 0 THEN [ARRAY_TO_STRING(ws, ' ')] ELSE [] END
      |           ELSE LIST_TRANSFORM(GENERATE_SERIES(1, LEN(ws) - 2),
      |                  i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
      |      END) AS sh
      |  FROM (
      |    SELECT doc_id, source,
      |      LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(LOWER(text), '[^\p{L}]+'), x -> x != '') AS ws
      |    FROM documents))""".stripMargin
}
