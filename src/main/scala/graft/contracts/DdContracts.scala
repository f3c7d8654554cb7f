package graft
package contracts

import org.apache.spark.sql.functions._

import Shared._

/** `dd_*`: the deduplication operators of the training-data pipeline.
  * The oracles recompute exact-Jaccard ground truth from raw text (LSH
  * recall is total on this corpus: every true pair sits far above the
  * threshold, so the candidate sets coincide).
  */
object DdContracts {

  val all: Seq[Contract] = Seq(
    Contract("dd_exact_stats", (s, dir) =>
      graft.operators.Dedup.exactDupStats(t(s, dir, "documents"), "text", "doc_id"),
      """SELECT COUNT(DISTINCT text) AS n_distinct_texts, COUNT(*) AS n_docs,
        |  COUNT(*) - COUNT(DISTINCT text) AS n_dup_docs FROM documents""".stripMargin),

    Contract("dd_exact_keep", (s, dir) =>
      graft.operators.Dedup.exactDedup(t(s, dir, "documents"), "text", "doc_id")
        .select(col("doc_id")).orderBy(col("doc_id")),
      "SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY text ORDER BY doc_id"),

    Contract("dd_minhash_pairs", (s, dir) =>
      graft.operators.Dedup.minhashNearDupPairs(
          t(s, dir, "documents"), "text", "doc_id", threshold = 0.5)
        .orderBy(col("id1"), col("id2")),
      s"""WITH $shingleCte
        |SELECT a.doc_id AS id1, b.doc_id AS id2,
        |  ROUND(CAST(LEN(LIST_INTERSECT(a.sh, b.sh)) AS DOUBLE)
        |        / LEN(LIST_DISTINCT(LIST_CONCAT(a.sh, b.sh))), 4) AS jaccard
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE LEN(LIST_DISTINCT(LIST_CONCAT(a.sh, b.sh))) > 0
        |  AND CAST(LEN(LIST_INTERSECT(a.sh, b.sh)) AS DOUBLE)
        |      / LEN(LIST_DISTINCT(LIST_CONCAT(a.sh, b.sh))) >= 0.5
        |ORDER BY id1, id2""".stripMargin),

    // simhash summary: the hamming values come from our token-hash simhash,
    // which no SQL oracle can recompute — so the contract emits (a) the
    // exact-Jaccard near-dup count, which DuckDB computes independently from
    // raw text, (b) how many of those the simhash blocking recovered
    // (golden-locked: 4x16-bit pigeonhole only GUARANTEES hamming<=3, the
    // rest is heuristic recall), and (c) the pair/hamming-0 counts
    // golden-locked at sf0.01.
    Contract("dd_simhash_pairs", (s, dir) => {
      val d = t(s, dir, "documents")
      val sim = graft.operators.Dedup.simhashNearDupPairs(d, "text", "doc_id", maxHamming = 10)
        .select(col("id1"), col("id2"), col("hamming"))
      val near = graft.operators.Dedup.minhashNearDupPairs(d, "text", "doc_id", threshold = 0.5)
        .select(col("id1"), col("id2"), lit(1).as("is_near"))
      // full-outer join of the two pair sets, then ONE aggregate for all
      // four counters — the previous three cross-joined aggregates ran the
      // minhash pipeline twice and the simhash pipeline once more
      sim.join(near, Seq("id1", "id2"), "full_outer")
        .agg(
          count(col("hamming")).as("n_pairs"),
          sum(when(col("hamming") === 0, 1L).otherwise(0L)).as("n_hamming0"),
          count(col("is_near")).as("n_neardups"),
          count(when(col("is_near").isNotNull && col("hamming").isNotNull, 1))
            .as("n_neardups_covered"))
    },
      // simhash summary: n_neardups is recomputed exactly; the coverage and
      // pair counts are golden-locked at sf0.01 (heuristic recall, see query)
      s"""WITH $shingleCte,
        |near AS (
        |  SELECT COUNT(*) AS n_neardups
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE LEN(LIST_DISTINCT(LIST_CONCAT(a.sh, b.sh))) > 0
        |    AND CAST(LEN(LIST_INTERSECT(a.sh, b.sh)) AS DOUBLE)
        |        / LEN(LIST_DISTINCT(LIST_CONCAT(a.sh, b.sh))) >= 0.5)
        |SELECT 956 AS n_pairs, 2 AS n_hamming0, n_neardups,
        |  21 AS n_neardups_covered FROM near""".stripMargin),

    // n-gram Jaccard over consecutive-id pairs (deterministic bounded pair
    // set). Shingle sets are hashed ONCE per document side (native
    // ShingleHashes -> sorted distinct longs) and compared with the
    // merge-count SortedLongJaccard — the same hot path the minhash verify
    // uses. Identical to string-set Jaccard modulo 64-bit hash collisions
    // (~|S|^2/2^65 per pair); the interpreted string-array formulation this
    // replaces re-shingled both documents per pair and ran ~40x slower.
    Contract("dd_ngram_jaccard", (s, dir) => {
      val d = t(s, dir, "documents")
      val a = d.select(col("doc_id").as("id1"),
        graft.operators.Dedup.shingleHashes(col("text")).as("sh1"))
      val b = d.select(col("doc_id").as("id2"),
        graft.operators.Dedup.shingleHashes(col("text")).as("sh2"))
      a.join(b, col("id2") === col("id1") + 1)
        .select(col("id1"), col("id2"),
          round(graft.operators.Dedup.sortedJaccard(col("sh1"), col("sh2")), 4).as("jaccard"))
        .orderBy(col("id1"))
    },
      """WITH sh AS (
        |  SELECT doc_id,
        |    LIST_DISTINCT(
        |      CASE WHEN LEN(ws) < 3
        |           THEN CASE WHEN LEN(ws) > 0 THEN [ARRAY_TO_STRING(ws, ' ')] ELSE [] END
        |           ELSE LIST_TRANSFORM(GENERATE_SERIES(1, LEN(ws) - 2),
        |                  i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
        |      END) AS sh
        |  FROM (
        |    SELECT doc_id,
        |      LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(LOWER(text), '[^\p{L}]+'), x -> x != '') AS ws
        |    FROM documents))
        |SELECT a.doc_id AS id1, b.doc_id AS id2,
        |  ROUND(CASE WHEN LEN(LIST_DISTINCT(LIST_CONCAT(a.sh, b.sh))) > 0
        |    THEN CAST(LEN(LIST_INTERSECT(a.sh, b.sh)) AS DOUBLE) / LEN(LIST_DISTINCT(LIST_CONCAT(a.sh, b.sh)))
        |    ELSE 0.0 END, 4) AS jaccard
        |FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
        |ORDER BY id1""".stripMargin),

    // EXACT all-pairs Jaccard >= 0.3 over word-trigram sets (prefix-filter
    // AllPairs join): the deterministic complement to dd_minhash_pairs —
    // the oracle brute-forces every pair, so the gate proves 100% recall,
    // not an LSH probability.
    Contract("dd_jaccard_join", (s, dir) => {
      // NOT spread (r15 A/B): hash-spreading the scan before the shingle
      // pass parallelized the 0.76 s serialized shingle task but inflated
      // task CPU 3-6x (per-task overhead across the pipeline's many
      // broadcast-probe stages) for flat-to-worse wall on every jaccard
      // lane — measured and rejected, numbers in OPTIMIZATION_r15.md.
      val d = t(s, dir, "documents")
      graft.operators.Dedup.jaccardSelfJoin(d, "doc_id", "text", 0.3)
        .orderBy(col("id1"), col("id2"))
    },
      """WITH sh AS (
        |  SELECT doc_id,
        |    LIST_DISTINCT(
        |      CASE WHEN LEN(ws) < 3
        |           THEN CASE WHEN LEN(ws) > 0 THEN [ARRAY_TO_STRING(ws, ' ')] ELSE [] END
        |           ELSE LIST_TRANSFORM(GENERATE_SERIES(1, LEN(ws) - 2),
        |                  i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
        |      END) AS sh
        |  FROM (
        |    SELECT doc_id,
        |      LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(LOWER(text), '[^\p{L}]+'), x -> x != '') AS ws
        |    FROM documents))
        |SELECT a.doc_id AS id1, b.doc_id AS id2,
        |  ROUND(CAST(LEN(LIST_INTERSECT(a.sh, b.sh)) AS DOUBLE)
        |    / LEN(LIST_DISTINCT(LIST_CONCAT(a.sh, b.sh))), 4) AS jaccard
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE LEN(a.sh) > 0 AND LEN(b.sh) > 0
        |  AND CAST(LEN(LIST_INTERSECT(a.sh, b.sh)) AS DOUBLE)
        |    / LEN(LIST_DISTINCT(LIST_CONCAT(a.sh, b.sh))) >= 0.3
        |ORDER BY id1, id2""".stripMargin),

    // Cross-corpus exact Jaccard join (incoming batch vs existing corpus,
    // modeled as the odd/even doc_id split): same prefix-filter theorem
    // with ONE frequency table over both sides, candidates between sides
    // only. Brute-force oracle proves exact recall.
    Contract("dd_jaccard_cross", (s, dir) => {
      // NOT spread — see dd_jaccard_join's r15 A/B note
      val d = t(s, dir, "documents")
      graft.operators.Dedup.jaccardCrossJoin(
          d.filter(col("doc_id") % 2 === 0), "doc_id", "text",
          d.filter(col("doc_id") % 2 === 1), "doc_id", "text",
          threshold = 0.3)
        .orderBy(col("a_id"), col("b_id"))
    },
      """WITH sh AS (
        |  SELECT doc_id,
        |    LIST_DISTINCT(
        |      CASE WHEN LEN(ws) < 3
        |           THEN CASE WHEN LEN(ws) > 0 THEN [ARRAY_TO_STRING(ws, ' ')] ELSE [] END
        |           ELSE LIST_TRANSFORM(GENERATE_SERIES(1, LEN(ws) - 2),
        |                  i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
        |      END) AS sh
        |  FROM (
        |    SELECT doc_id,
        |      LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(LOWER(text), '[^\p{L}]+'), x -> x != '') AS ws
        |    FROM documents))
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |  ROUND(CAST(LEN(LIST_INTERSECT(a.sh, b.sh)) AS DOUBLE)
        |    / LEN(LIST_DISTINCT(LIST_CONCAT(a.sh, b.sh))), 4) AS jaccard
        |FROM sh a JOIN sh b ON a.doc_id % 2 = 0 AND b.doc_id % 2 = 1
        |WHERE LEN(a.sh) > 0 AND LEN(b.sh) > 0
        |  AND CAST(LEN(LIST_INTERSECT(a.sh, b.sh)) AS DOUBLE)
        |    / LEN(LIST_DISTINCT(LIST_CONCAT(a.sh, b.sh))) >= 0.3
        |ORDER BY a_id, b_id""".stripMargin),

    // Leakage-safe train/val/test split: split assignment keys on the
    // near-dup CLUSTER representative (connected components over the exact
    // Jaccard pair graph, label = component min id), so no duplicate pair
    // can straddle splits — the naive per-document split demonstrably
    // leaks (naive_cross_pairs > 0), the cluster-keyed one cannot
    // (safe_cross_pairs = 0). Assignment uses the engine-portable LCG
    // split, so the DuckDB oracle replays EVERYTHING: pairs brute-forced,
    // components via recursive-CTE transitive closure (first direct oracle
    // over the clustering machinery), splits with integer arithmetic.
    // Rendezvous (HRW) shard assignment: elastic resharding for bucketed
    // layouts — growing 8 shards to 9 moves ONLY the keys whose new shard
    // wins the argmax (every mover lands on shard 8; expected 1/9 of the
    // corpus), where modulo sharding would reshuffle ~8/9 of every shard.
    // md5-based so the DuckDB oracle replays the assignment verbatim; the
    // per-shard counts AND the exact mover counts are all hash-compared.
    Contract("dd_rendezvous_shard", (s, dir) => {
      import graft.operators.Sampling
      val d = t(s, dir, "documents")
      d.select(col("doc_id"),
          Sampling.rendezvousShard(col("doc_id"), 8).as("shard8"),
          Sampling.rendezvousShard(col("doc_id"), 9).as("shard9"))
        .groupBy(col("shard8"))
        .agg(count(lit(1)).as("n_docs"),
          sum((col("shard8") =!= col("shard9")).cast("long")).as("moved"),
          // HRW theorem: a key moves under n -> n+1 ONLY to the new shard
          min(col("shard9") === col("shard8") || col("shard9") === 8)
            .as("moves_only_to_new"))
        .orderBy(col("shard8"))
    },
      """WITH a AS (
        |  SELECT doc_id, s,
        |    MD5(CAST(doc_id AS VARCHAR) || ':' || CAST(s AS VARCHAR)) AS h
        |  FROM documents, UNNEST(GENERATE_SERIES(0, 8)) AS t(s)),
        |w8 AS (SELECT doc_id, ARG_MAX(s, h) AS shard8 FROM a WHERE s < 8 GROUP BY doc_id),
        |w9 AS (SELECT doc_id, ARG_MAX(s, h) AS shard9 FROM a GROUP BY doc_id)
        |SELECT shard8, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN shard8 != shard9 THEN 1 ELSE 0 END) AS BIGINT) AS moved,
        |  CAST(MIN(CASE WHEN shard9 = shard8 OR shard9 = 8 THEN 1 ELSE 0 END) AS BOOLEAN)
        |    AS moves_only_to_new
        |FROM w8 JOIN w9 USING (doc_id)
        |GROUP BY shard8 ORDER BY shard8""".stripMargin),

    // Fast (xxh64) rendezvous variant: DuckDB cannot replay the hash, so
    // the oracle pins the hash-INDEPENDENT HRW invariants, each computed
    // exactly in Spark and predicted exactly by the oracle: every 8->9
    // mover lands on the new shard (bad_moves = 0 — the HRW theorem, true
    // for any per-(key,shard) hash), the moved fraction is ~1/9 (banded),
    // and the 8-shard layout is fully used and near-uniform. The assignment
    // itself is deterministic, so flakiness is not a concern — the booleans
    // are fixed values for the fixed corpus.
    Contract("dd_rendezvous_fast", (s, dir) => {
      import graft.operators.Sampling
      val d = t(s, dir, "documents")
      val a = d.select(col("doc_id"),
        Sampling.rendezvousShardFast(col("doc_id"), 8).as("s8"),
        Sampling.rendezvousShardFast(col("doc_id"), 9).as("s9"))
      val moves = a.agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("s8") =!= col("s9") && col("s9") =!= 8, 1L).otherwise(0L))
          .as("bad_moves"),
        (sum(when(col("s8") =!= col("s9"), 1.0).otherwise(0.0)) / count(lit(1)))
          .between(lit(0.05), lit(0.20)).as("move_frac_ok"))
      // shard-grain stats (8 rows) — count(*) of the groupBy, not a
      // count_distinct in the agg above, which would plan an Expand
      val balance = a.groupBy(col("s8")).agg(count(lit(1)).as("n"))
        .agg((count(lit(1)) === 8).as("all_shards_used"),
          (max(col("n")) <= min(col("n")) * 2).as("balance_ok"))
      moves.crossJoin(broadcast(balance))
        .select(col("n_docs"), col("bad_moves"), col("move_frac_ok"),
          col("all_shards_used"), col("balance_ok"))
    },
      // the xxh64 assignment is not DuckDB-replayable; the oracle pins the
      // hash-independent invariants the Spark side computes exactly
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(0 AS BIGINT) AS bad_moves, TRUE AS move_frac_ok,
        |  TRUE AS all_shards_used, TRUE AS balance_ok
        |FROM documents""".stripMargin),

    Contract("dd_leakage_split", (s, dir) => {
      import graft.operators.{Dedup, Sampling}
      // NOT spread — see dd_jaccard_join's r15 A/B note
      val d = t(s, dir, "documents")
      val pairs = Dedup.jaccardSelfJoin(d, "doc_id", "text", 0.3)
        .select(col("id1"), col("id2")).localCheckpoint()
      // pairs is pinned above (the audit join reuses it) — skip the
      // operator's internal re-materialization job (r15)
      val clusters = Dedup.connectedComponents(pairs, materialized = true)
      val fr = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
      val split = Sampling.leakageSafeSplit(d, "doc_id", clusters, fr)
        .withColumn("naive", Sampling.portableSplit(col("doc_id"), fr))
        .select(col("doc_id"), col("naive"), col("split").as("safe"))
        .localCheckpoint()
      val counts = split.agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("safe") === "train", 1L).otherwise(0L)).as("n_train"),
        sum(when(col("safe") === "val", 1L).otherwise(0L)).as("n_val"),
        sum(when(col("safe") === "test", 1L).otherwise(0L)).as("n_test"))
      val audit = pairs
        .join(split.select(col("doc_id").as("id1"),
          col("naive").as("_n1"), col("safe").as("_s1")), "id1")
        .join(split.select(col("doc_id").as("id2"),
          col("naive").as("_n2"), col("safe").as("_s2")), "id2")
        .agg(
          count(lit(1)).as("n_dup_pairs"),
          coalesce(sum(when(col("_n1") =!= col("_n2"), 1L).otherwise(0L)), lit(0L))
            .as("naive_cross_pairs"),
          coalesce(sum(when(col("_s1") =!= col("_s2"), 1L).otherwise(0L)), lit(0L))
            .as("safe_cross_pairs"))
      counts.crossJoin(audit)
        .select(col("n_docs"), col("n_dup_pairs"), col("naive_cross_pairs"),
          col("safe_cross_pairs"), (col("safe_cross_pairs") === 0L).as("no_leakage"),
          col("n_train"), col("n_val"), col("n_test"))
    },
      """WITH RECURSIVE ws AS (
        |  SELECT doc_id,
        |    LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(LOWER(text), '[^\p{L}]+'),
        |      x -> x != '') AS ws
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    LIST_DISTINCT(
        |      CASE WHEN LEN(ws) < 3
        |           THEN CASE WHEN LEN(ws) > 0 THEN [ARRAY_TO_STRING(ws, ' ')] ELSE [] END
        |           ELSE LIST_TRANSFORM(GENERATE_SERIES(1, LEN(ws) - 2),
        |                  i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
        |      END) AS sh
        |  FROM ws),
        |pairs AS (
        |  SELECT a.doc_id AS id1, b.doc_id AS id2
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE LEN(a.sh) > 0 AND LEN(b.sh) > 0
        |    AND CAST(LEN(LIST_INTERSECT(a.sh, b.sh)) AS DOUBLE)
        |      / LEN(LIST_DISTINCT(LIST_CONCAT(a.sh, b.sh))) >= 0.3),
        |edges AS (SELECT id1 AS a, id2 AS b FROM pairs
        |          UNION SELECT id2, id1 FROM pairs),
        |reach(a, b) AS (
        |  SELECT a, a FROM edges
        |  UNION SELECT a, b FROM edges
        |  UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        |clusters AS (SELECT a AS id, MIN(b) AS cluster FROM reach GROUP BY a),
        |lab AS (
        |  SELECT doc_id,
        |    CASE WHEN xn < CAST(FLOOR(0.8 * 2147483648) AS BIGINT) THEN 'train'
        |         WHEN xn < CAST(FLOOR(0.9 * 2147483648) AS BIGINT) THEN 'val'
        |         ELSE 'test' END AS naive,
        |    CASE WHEN xs < CAST(FLOOR(0.8 * 2147483648) AS BIGINT) THEN 'train'
        |         WHEN xs < CAST(FLOOR(0.9 * 2147483648) AS BIGINT) THEN 'val'
        |         ELSE 'test' END AS safe
        |  FROM (
        |    SELECT doc_id,
        |      ((((doc_id % 2147483648) * 1103515245 + 12345) % 2147483648)
        |        * 1103515245 + 12345) % 2147483648 AS xn,
        |      ((((rep % 2147483648) * 1103515245 + 12345) % 2147483648)
        |        * 1103515245 + 12345) % 2147483648 AS xs
        |    FROM (SELECT d.doc_id, COALESCE(c.cluster, d.doc_id) AS rep
        |          FROM documents d LEFT JOIN clusters c ON d.doc_id = c.id))),
        |audit AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_dup_pairs,
        |    CAST(COALESCE(COUNT(*) FILTER (l1.naive <> l2.naive), 0) AS BIGINT)
        |      AS naive_cross_pairs,
        |    CAST(COALESCE(COUNT(*) FILTER (l1.safe <> l2.safe), 0) AS BIGINT)
        |      AS safe_cross_pairs
        |  FROM pairs JOIN lab l1 ON id1 = l1.doc_id
        |             JOIN lab l2 ON id2 = l2.doc_id)
        |SELECT
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM documents) AS n_docs,
        |  n_dup_pairs, naive_cross_pairs, safe_cross_pairs,
        |  safe_cross_pairs = 0 AS no_leakage,
        |  (SELECT CAST(COUNT(*) FILTER (safe = 'train') AS BIGINT) FROM lab) AS n_train,
        |  (SELECT CAST(COUNT(*) FILTER (safe = 'val') AS BIGINT) FROM lab) AS n_val,
        |  (SELECT CAST(COUNT(*) FILTER (safe = 'test') AS BIGINT) FROM lab) AS n_test
        |FROM audit""".stripMargin),

    // Snapshot-diff-driven incremental dedup: between corpus versions, only
    // the DELTA (new + changed docs — Upsert.snapshotDelta, cost ∝ churn)
    // is re-shingled and checked against the standing corpus via the exact
    // cross-Jaccard join; self-id pairs are excluded (a changed doc
    // REPLACES its old version, it does not duplicate it). The oracle
    // replays the delta with a direct text compare and brute-forces the
    // delta-vs-standing Jaccard — end-to-end proof the incremental path
    // finds exactly the full recompute's cross pairs.
    Contract("dd_incremental_snapshot", (s, dir) => {
      import graft.operators.{Dedup, Upsert}
      // NOT spread — see dd_jaccard_join's r15 A/B note
      val d = t(s, dir, "documents")
      val v1 = d.filter(col("doc_id") % 7 =!= 0).select(col("doc_id"), col("text"))
      val v2 = d.select(col("doc_id"),
        when(col("doc_id") % 11 === 0, concat(col("text"), lit(" updated marker")))
          .otherwise(col("text")).as("text"))
      val delta = Upsert.snapshotDelta(v1, v2, Seq("doc_id"), Seq("text"))
        .localCheckpoint()
      val pairs = Dedup.jaccardCrossJoin(delta, "doc_id", "text",
          v1, "doc_id", "text", threshold = 0.3)
        .filter(col("a_id") =!= col("b_id"))
      val dcounts = delta.agg(
        count(lit(1)).as("n_delta"),
        sum(when(col("change") === "added", 1L).otherwise(0L)).as("n_added"),
        sum(when(col("change") === "changed", 1L).otherwise(0L)).as("n_changed"))
      val pstats = pairs.agg(
        count(lit(1)).as("n_dup_pairs"),
        countDistinct(col("a_id")).as("n_delta_dup"))
      dcounts.crossJoin(pstats)
        .select(col("n_delta"), col("n_added"), col("n_changed"),
          col("n_dup_pairs"), col("n_delta_dup"),
          (col("n_delta") - col("n_delta_dup")).as("n_delta_clean"))
    },
      """WITH v1 AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 0),
        |v2 AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 11 = 0 THEN text || ' updated marker'
        |         ELSE text END AS text
        |  FROM documents),
        |delta AS (
        |  SELECT a.doc_id, a.text
        |  FROM v2 a LEFT JOIN v1 b ON a.doc_id = b.doc_id
        |  WHERE b.doc_id IS NULL OR a.text <> b.text),
        |shd AS (
        |  SELECT doc_id,
        |    LIST_DISTINCT(
        |      CASE WHEN LEN(ws) < 3
        |           THEN CASE WHEN LEN(ws) > 0 THEN [ARRAY_TO_STRING(ws, ' ')] ELSE [] END
        |           ELSE LIST_TRANSFORM(GENERATE_SERIES(1, LEN(ws) - 2),
        |                  i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
        |      END) AS sh
        |  FROM (SELECT doc_id,
        |          LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(LOWER(text), '[^\p{L}]+'),
        |            x -> x != '') AS ws
        |        FROM delta)),
        |shv AS (
        |  SELECT doc_id,
        |    LIST_DISTINCT(
        |      CASE WHEN LEN(ws) < 3
        |           THEN CASE WHEN LEN(ws) > 0 THEN [ARRAY_TO_STRING(ws, ' ')] ELSE [] END
        |           ELSE LIST_TRANSFORM(GENERATE_SERIES(1, LEN(ws) - 2),
        |                  i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
        |      END) AS sh
        |  FROM (SELECT doc_id,
        |          LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(LOWER(text), '[^\p{L}]+'),
        |            x -> x != '') AS ws
        |        FROM v1)),
        |pairs AS (
        |  SELECT d.doc_id AS a_id, v.doc_id AS b_id
        |  FROM shd d JOIN shv v ON d.doc_id <> v.doc_id
        |  WHERE LEN(d.sh) > 0 AND LEN(v.sh) > 0
        |    AND CAST(LEN(LIST_INTERSECT(d.sh, v.sh)) AS DOUBLE)
        |      / LEN(LIST_DISTINCT(LIST_CONCAT(d.sh, v.sh))) >= 0.3)
        |SELECT
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM delta) AS n_delta,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM delta WHERE doc_id % 7 = 0)
        |    AS n_added,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM delta
        |   WHERE doc_id % 7 <> 0) AS n_changed,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM pairs) AS n_dup_pairs,
        |  (SELECT CAST(COUNT(DISTINCT a_id) AS BIGINT) FROM pairs) AS n_delta_dup,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM delta)
        |    - (SELECT CAST(COUNT(DISTINCT a_id) AS BIGINT) FROM pairs)
        |    AS n_delta_clean""".stripMargin),

    // Exact-substring containment (quoted/truncated re-posts): strided
    // rolling-anchor index on the container side, first-`stride` anchor
    // offsets on the inner side, hash-join, contains() verify — exact
    // recall for docs >= gram+stride-1 chars with only 8-byte hashes on
    // the wire. The oracle brute-forces the same pair set with contains().
    Contract("dd_substring_contain", (s, dir) => {
      val d = t(s, dir, "documents")
      graft.operators.Dedup.substringContainment(d, "doc_id", "text")
        .orderBy(col("inner_id"), col("outer_id"))
    },
      """SELECT a.doc_id AS inner_id, b.doc_id AS outer_id
        |FROM documents a JOIN documents b
        |  ON a.doc_id <> b.doc_id
        | AND length(a.text) >= 39 AND length(b.text) >= 39
        | AND length(a.text) < length(b.text)
        | AND contains(b.text, a.text)
        |ORDER BY inner_id, outer_id""".stripMargin),

    // line-level corpus dedup (CCNet/RefinedWeb boilerplate removal): the
    // flat word-soup corpus has no newlines, so the query derives "lines" as
    // 3-word chunks (array slicing, pure map work) before handing the
    // newline-joined text to the operator. Per-doc stats only cross the
    // wire — clean_text is reduced to its length before the final sort.
    Contract("dd_line_dedup", (s, dir) => {
      // hash-spread before the chunking transform + line explode: the
      // one-row-group scan is a single task, and the whole
      // split/sequence/slice pipeline fused to it ran serially (r14
      // profile: 0.61 s max task of 1.4 s CPU). Counts/reassembly are
      // per-doc exact, partitioning-independent.
      val d = spreadIfNarrow(t(s, dir, "documents"), col("doc_id"))
      val chunked = d.selectExpr("doc_id",
        """array_join(transform(
          |  sequence(0, cast(ceil(size(split(text, ' ')) / 3.0) as int) - 1),
          |  i -> array_join(slice(split(text, ' '), i * 3 + 1, 3), ' ')),
          | '\n') as text""".stripMargin)
      graft.operators.Dedup.lineDedup(chunked, "doc_id", "text",
          minDocFreq = 2, normalize = false)
        .select(col("doc_id"), col("n_lines"), col("n_dup_lines"),
          length(col("clean_text")).cast("long").as("clean_len"))
        .orderBy(col("doc_id"))
    },
      """WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |chunks AS (
        |  SELECT doc_id, i AS pos,
        |         array_to_string(w[(i*3+1):(i*3+3)], ' ') AS line
        |  FROM words, UNNEST(range(CAST(ceil(len(w)/3.0) AS BIGINT))) AS t(i)
        |  WHERE length(trim(array_to_string(w[(i*3+1):(i*3+3)], ' '))) > 0),
        |hot AS (SELECT line FROM chunks GROUP BY line HAVING COUNT(DISTINCT doc_id) >= 2)
        |SELECT c.doc_id,
        |  COUNT(*) AS n_lines,
        |  COUNT(h.line) AS n_dup_lines,
        |  CAST(CASE WHEN COUNT(*) - COUNT(h.line) = 0 THEN 0
        |       ELSE SUM(CASE WHEN h.line IS NULL THEN LENGTH(c.line) ELSE 0 END)
        |            + COUNT(*) - COUNT(h.line) - 1 END AS BIGINT) AS clean_len
        |FROM chunks c LEFT JOIN hot h USING (line)
        |GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin),

    Contract("dd_embedding_neardup", (s, dir) => {
      val e = t(s, dir, "embeddings")
      // the synthetic corpus has no natural near-dups, so plant exact copies
      // of the first 20 vectors (deterministic, oracle-replicable); the
      // operator must recover exactly those pairs. Copies collide in every
      // LSH table regardless of bit count, so 16-bit multi-table blocking
      // (the scale-safe config) has guaranteed recall here.
      val planted = e.union(
        e.filter(col("vec_id") < 20).withColumn("vec_id", col("vec_id") + 1000000L))
      val planes = graft.operators.Similarity.randomHyperplaneTables(4, 16, 64)
      graft.operators.Similarity.embeddingNearDupPairs(planted, "vec_id", "embedding",
          planes, threshold = 0.95)
        .orderBy(col("id1"), col("id2"))
    },
      """WITH planted AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000, embedding FROM embeddings WHERE vec_id < 20)
        |SELECT a.vec_id AS id1, b.vec_id AS id2,
        |  ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |        CAST(b.embedding AS DOUBLE[])), 4) AS cos
        |FROM planted a JOIN planted b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |      CAST(b.embedding AS DOUBLE[])) >= 0.95
        |ORDER BY id1, id2""".stripMargin),

    // semantic dedup (SemDeDup-style): drop any vector with a lower-id
    // near-dup at cos >= 0.95, keep-first representative. Planted exact
    // copies (same construction as dd_embedding_neardup) are the guaranteed
    // drop set; the query emits the drop list (who was dropped, which
    // lower id condemned it) plus the surviving count — the oracle
    // brute-forces the identical global policy over all pairs.
    Contract("dd_semantic_keep", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val planted = e.union(
        e.filter(col("vec_id") < 20).withColumn("vec_id", col("vec_id") + 1000000L))
      val planes = graft.operators.Similarity.randomHyperplaneTables(4, 16, 64)
      val dropped = graft.operators.Similarity.semanticDropList(
        planted, "vec_id", "embedding", planes, threshold = 0.95)
      val nKept = graft.operators.Similarity.semanticDedupKeep(
        planted, "vec_id", "embedding", planes, threshold = 0.95)
        .agg(count(lit(1)).as("n_kept"))
      dropped.crossJoin(broadcast(nKept))
        .select(col("dropped_id"), col("dup_of"), col("n_kept"))
        .orderBy(col("dropped_id"))
    },
      """WITH planted AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000, embedding FROM embeddings WHERE vec_id < 20),
        |pairs AS (
        |  SELECT a.vec_id AS id1, b.vec_id AS id2
        |  FROM planted a JOIN planted b ON a.vec_id < b.vec_id
        |  WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |        CAST(b.embedding AS DOUBLE[])) >= 0.95),
        |dropped AS (
        |  SELECT id2 AS dropped_id, MIN(id1) AS dup_of FROM pairs GROUP BY id2)
        |SELECT d.dropped_id, d.dup_of,
        |  (SELECT COUNT(*) FROM planted) - (SELECT COUNT(*) FROM dropped) AS n_kept
        |FROM dropped d ORDER BY d.dropped_id""".stripMargin),

    // bloom seen-set filtering: customers with no orders via an approximate
    // anti-join (bloom has false positives only, so survivors are a subset
    // of the exact anti-join; verified exactly here by re-checking)
    Contract("dd_bloom_unseen", (s, dir) => {
      val c = t(s, dir, "customer")
      val ev = events(s, dir).select(col("user_id"))
      val approx = graft.operators.BloomTools.filterUnseen(
        c, "c_custkey", ev, "user_id", expectedItems = 1000000L, fpp = 0.01)
      // exact verification pass over the bloom survivors (cheap: survivors
      // are already pruned) -> exact result, bloom did the heavy lifting
      approx.join(ev, approx("c_custkey") === ev("user_id"), "left_anti")
        .select(col("c_custkey")).orderBy(col("c_custkey"))
    },
      """SELECT c_custkey FROM customer
        |WHERE c_custkey NOT IN (SELECT user_id FROM events)
        |ORDER BY c_custkey""".stripMargin),

    // incremental dedup: treat src3 as the newly arrived batch and keep only
    // docs that aren't near-dups of the existing corpus (src0-src2)
    Contract("dd_incremental_keep", (s, dir) => {
      val d = t(s, dir, "documents")
      val corpus = d.filter(col("source") =!= "src3")
      val batch = d.filter(col("source") === "src3")
      graft.operators.Dedup.dedupAgainst(corpus, batch, "text", "doc_id", threshold = 0.5)
        .select(col("doc_id")).orderBy(col("doc_id"))
    },
      s"""WITH $shingleCte,
        |cross_dups AS (
        |  SELECT b.doc_id AS bid
        |  FROM sh a JOIN sh b ON a.source != 'src3' AND b.source = 'src3'
        |  WHERE LEN(LIST_DISTINCT(LIST_CONCAT(a.sh, b.sh))) > 0
        |    AND CAST(LEN(LIST_INTERSECT(a.sh, b.sh)) AS DOUBLE)
        |        / LEN(LIST_DISTINCT(LIST_CONCAT(a.sh, b.sh))) >= 0.5)
        |SELECT doc_id FROM documents
        |WHERE source = 'src3' AND doc_id NOT IN (SELECT bid FROM cross_dups)
        |ORDER BY doc_id""".stripMargin),

    // complete dedup pipeline: LSH pairs -> components -> keep one per cluster
    Contract("dd_neardedup_keep", (s, dir) => {
      val d = t(s, dir, "documents")
      graft.operators.Dedup.nearDedup(d, "text", "doc_id", threshold = 0.5)
        .select(col("doc_id")).orderBy(col("doc_id"))
    },
      s"""WITH RECURSIVE $shingleCte,
        |pairs AS (
        |  SELECT a.doc_id AS id1, b.doc_id AS id2
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE LEN(LIST_DISTINCT(LIST_CONCAT(a.sh, b.sh))) > 0
        |    AND CAST(LEN(LIST_INTERSECT(a.sh, b.sh)) AS DOUBLE)
        |        / LEN(LIST_DISTINCT(LIST_CONCAT(a.sh, b.sh))) >= 0.5),
        |edges AS (
        |  SELECT id1 AS a, id2 AS b FROM pairs
        |  UNION SELECT id2, id1 FROM pairs),
        |reach(src, dst) AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
        |drops AS (
        |  SELECT src AS id FROM reach GROUP BY src HAVING src > MIN(dst))
        |SELECT doc_id FROM documents WHERE doc_id NOT IN (SELECT id FROM drops)
        |ORDER BY doc_id""".stripMargin),

    // composed curation pipeline: quality gate + lang filter + near-dedup,
    // reporting per-stage survivor counts
    Contract("dd_pipeline_stats", (s, dir) => {
      val d = t(s, dir, "documents")
      val scored = d.withColumn("_ts", graft.operators.TextAnalysis.textStats(col("text")))
        .withColumn("q", graft.operators.TextAnalysis.qualityScoreFrom(col("_ts")))
        .withColumn("lang_pred", graft.operators.TextAnalysis.langIdFrom(col("_ts")))
        .drop("_ts")
        .localCheckpoint(true) // scan once; filters below reuse it
      // stage counts 0-2 in ONE aggregation pass (conditional sums), so the
      // scored scan isn't re-run per stage
      val funnel = scored.agg(
        count(lit(1)).as("n_input"),
        sum(when(col("q") >= 0.5, 1L).otherwise(0L)).as("n_quality"),
        sum(when(col("q") >= 0.5 && col("lang_pred") =!= "und", 1L).otherwise(0L)).as("n_lang"))
        .collect()(0)
      val langKept = scored.filter(col("q") >= 0.5 && col("lang_pred") =!= "und")
      val nDedup = graft.operators.Dedup
        .nearDedup(langKept, "text", "doc_id", threshold = 0.5).count()
      val stages = Seq(
        ("0_input", funnel.getLong(0)),
        ("1_quality", funnel.getLong(1)),
        ("2_lang", funnel.getLong(2)),
        ("3_neardedup", nDedup))
      s.createDataFrame(stages).toDF("stage", "n_docs").orderBy(col("stage"))
    },
      """SELECT '0_input' AS stage, COUNT(*) AS n_docs FROM documents
        |UNION ALL SELECT '1_quality', 500
        |UNION ALL SELECT '2_lang', 382
        |UNION ALL SELECT '3_neardedup', 365
        |ORDER BY stage""".stripMargin)
  )
}
