package graft
package contracts

import graft.functions.GraftFunctions
import org.apache.spark.sql.functions._

import Shared._

/** `tx_*`: the text-analysis and crawl/archive operators of the
  * training-data pipeline; the oracles recompute the heuristics from raw
  * text.
  */
object TxContracts {

  val all: Seq[Contract] = Seq(
    // Relative (within-language) quality filter: keep docs at or above
    // their OWN language's p25 length — absolute thresholds empty
    // lower-scoring groups; the within-group percentile adapts. Exact
    // interpolating percentile (ANSI percentile_cont semantics) as a
    // window over the language shuffle; the oracle recomputes thresholds
    // with quantile_cont. Integer scores make the interpolation arithmetic
    // identical in both engines.
    Contract("tx_relative_quality", (s, dir) => {
      val d = t(s, dir, "documents")
      val kept = graft.operators.Sampling.relativeFilter(d, "lang", "n_chars", 0.25)
      val thr = d.groupBy(col("lang"))
        .agg(round(percentile(col("n_chars"), lit(0.25)), 2).as("p25_chars"),
          count(lit(1)).as("n_docs"))
      kept.groupBy(col("lang")).agg(count(lit(1)).as("n_kept"))
        .join(thr, Seq("lang"))
        .select(col("lang"), col("n_docs"), col("n_kept"), col("p25_chars"))
        .orderBy(col("lang"))
    },
      """WITH thr AS (
        |  SELECT lang, QUANTILE_CONT(n_chars, 0.25) AS t,
        |    CAST(COUNT(*) AS BIGINT) AS n_docs
        |  FROM documents GROUP BY lang)
        |SELECT d.lang, n_docs,
        |  CAST(COUNT(*) FILTER (n_chars >= t) AS BIGINT) AS n_kept,
        |  ROUND(t, 2) AS p25_chars
        |FROM documents d JOIN thr ON d.lang = thr.lang
        |GROUP BY d.lang, n_docs, t ORDER BY d.lang""".stripMargin),

    // Deterministic temperature resampling: floor(weight) copies per doc
    // plus an LCG-decided fractional copy — up-sampling (2.5x the curated
    // source) and down-sampling (0.3x the noisy ones) in ONE map-only
    // pass, identical output on any engine, any partitioning, any rerun.
    // The oracle replays copy counts with the same integer scramble.
    Contract("tx_upsample_mix", (s, dir) => {
      val d = t(s, dir, "documents")
      val weights = Map("src0" -> 2.5, "src1" -> 1.0, "src2" -> 0.4)
      val out = graft.operators.Sampling.weightedReplicate(
        d, "doc_id", "source", weights)
      out.groupBy(col("source"))
        .agg(count(lit(1)).as("n_out"),
          countDistinct(col("doc_id")).as("n_docs_kept"),
          max(col("copy")).as("max_copy"))
        .orderBy(col("source"))
    },
      """WITH copies AS (
        |  SELECT source, doc_id,
        |    CAST(FLOOR(w) AS BIGINT) +
        |    CASE WHEN ((((doc_id % 2147483648) * 1103515245 + 12345)
        |                % 2147483648) * 1103515245 + 12345) % 2147483648
        |              < CAST(FLOOR((w - FLOOR(w)) * 2147483648) AS BIGINT)
        |         THEN 1 ELSE 0 END AS n
        |  FROM (SELECT source, doc_id,
        |          CASE source WHEN 'src0' THEN 2.5 WHEN 'src1' THEN 1.0
        |               WHEN 'src2' THEN 0.4 ELSE 0.0 END AS w
        |        FROM documents))
        |SELECT source, CAST(SUM(n) AS BIGINT) AS n_out,
        |  CAST(COUNT(*) FILTER (n > 0) AS BIGINT) AS n_docs_kept,
        |  CAST(MAX(n) - 1 AS INT) AS max_copy
        |FROM copies WHERE n > 0 GROUP BY source ORDER BY source""".stripMargin),

    // Vocabulary-growth curve (corpus saturation analytics): bucket the
    // corpus into ingestion batches, count 3-gram shingles NEVER seen in an
    // earlier bucket — the "is more crawl still adding novelty" signal.
    // first-seen = one min-aggregate on the shingle shuffle (no cumulative
    // re-scans); the running total is a window sum over the 10-row curve.
    // The same curve at 100 TB: per-bucket HLL sketches re-aggregated
    // cumulatively — est_ok checks the sketch curve against the exact one
    // at every point.
    Contract("tx_vocab_growth", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = t(s, dir, "documents")
      // native single-pass shingle hashing (same expression the Jaccard
      // joins use — its hash-vs-string equivalence is oracle-proven by
      // dd_jaccard_join); per-doc distinct is harmless for first-seen and
      // distinct counting. A lambda-built string-shingle variant was 40x
      // slower: CollapseProject inlines the split() into every subscript
      // of the transform, going quadratic in document length.
      val toks = d.select((col("doc_id") / 50).cast("int").as("bucket"),
          explode(graft.operators.Dedup.shingleHashes(col("text"), 3)).as("tok"))
      val newPer = toks.groupBy(col("tok")).agg(min(col("bucket")).as("bucket"))
        .groupBy(col("bucket")).agg(count(lit(1)).as("n_new_tokens"))
      // k = 2^16 keeps the whole <=20k-token curve in the linear-counting
      // regime, clear of the reference's documented mid-range bias zone
      val sk = toks.groupBy(col("bucket"))
        .agg(GraftFunctions.hll_sketch_agg(col("tok"), 1 << 16).as("_sk"))
      val wCum = Window.orderBy(col("bucket"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      newPer.join(sk, Seq("bucket"))
        .withColumn("cum_vocab", sum(col("n_new_tokens")).over(wCum))
        .withColumn("_cum_est",
          GraftFunctions.hll_estimate(GraftFunctions.hll_union_agg(col("_sk")).over(wCum)))
        .select(col("bucket"), col("n_new_tokens"), col("cum_vocab"),
          (abs(col("_cum_est") - col("cum_vocab")) / col("cum_vocab") <= 0.05)
            .as("est_ok"))
        .orderBy(col("bucket"))
    },
      """WITH ws AS (
        |  SELECT doc_id,
        |    LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(LOWER(text), '[^\p{L}]+'),
        |      x -> x != '') AS ws
        |  FROM documents),
        |toks AS (
        |  SELECT CAST(doc_id // 50 AS INT) AS bucket, t.tok
        |  FROM ws,
        |    UNNEST(CASE WHEN LEN(ws) < 3
        |             THEN CASE WHEN LEN(ws) > 0
        |                  THEN [ARRAY_TO_STRING(ws, ' ')] ELSE [] END
        |             ELSE LIST_TRANSFORM(GENERATE_SERIES(1, LEN(ws) - 2),
        |                    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
        |           END) AS t(tok)),
        |fs AS (SELECT tok, MIN(bucket) AS bucket FROM toks GROUP BY 1)
        |SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_new_tokens,
        |  CAST(SUM(COUNT(*)) OVER (ORDER BY bucket) AS BIGINT) AS cum_vocab,
        |  TRUE AS est_ok
        |FROM fs GROUP BY bucket ORDER BY bucket""".stripMargin),

    // The curation pipeline COMPOSED from portable primitives: relative
    // quality filter (keep docs >= their language's p25 length) -> per-
    // source cap (10 docs by LCG rank) -> leakage-safe split (exact
    // Jaccard clusters on the survivors, split keyed on the
    // representative). Every stage is engine-replayable, so the oracle
    // re-derives the ENTIRE pipeline — quantile thresholds, capped sets,
    // recursive-CTE components, split labels — and the id sums pin the
    // exact surviving set per split.
    Contract("tx_curation_pipeline", (s, dir) => {
      import graft.operators.{Dedup, Sampling}
      val d = t(s, dir, "documents")
      val filtered = Sampling.relativeFilter(d, "lang", "n_chars", 0.25)
      val capped = Sampling.capPerGroup(filtered, "source", col("doc_id"), 10)
        .localCheckpoint()
      val pairs = Dedup.jaccardSelfJoin(capped, "doc_id", "text", 0.3)
        .select(col("id1"), col("id2"))
      val clusters = Dedup.connectedComponents(pairs)
      val fr = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
      Sampling.leakageSafeSplit(capped, "doc_id", clusters, fr)
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_sum"))
        .orderBy(col("split"))
    },
      """WITH RECURSIVE thr AS (
        |  SELECT lang, QUANTILE_CONT(n_chars, 0.25) AS t
        |  FROM documents GROUP BY lang),
        |filtered AS (
        |  SELECT d.doc_id, d.source, d.text
        |  FROM documents d JOIN thr ON d.lang = thr.lang
        |  WHERE n_chars >= t),
        |ranked AS (
        |  SELECT doc_id, text, ROW_NUMBER() OVER (PARTITION BY source
        |    ORDER BY ((((doc_id + 1013904223) % 2147483647) * 48271
        |      % 2147483647) * 48271) % 2147483647, doc_id) AS rk
        |  FROM filtered),
        |capped AS (SELECT doc_id, text FROM ranked WHERE rk <= 10),
        |ws AS (
        |  SELECT doc_id,
        |    LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(LOWER(text), '[^\p{L}]+'),
        |      x -> x != '') AS ws
        |  FROM capped),
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
        |    CASE WHEN xs < CAST(FLOOR(0.8 * 2147483648) AS BIGINT) THEN 'train'
        |         WHEN xs < CAST(FLOOR(0.9 * 2147483648) AS BIGINT) THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM (
        |    SELECT c.doc_id,
        |      ((((rep % 2147483648) * 1103515245 + 12345) % 2147483648)
        |        * 1103515245 + 12345) % 2147483648 AS xs
        |    FROM (SELECT d.doc_id, COALESCE(cl.cluster, d.doc_id) AS rep
        |          FROM capped d LEFT JOIN clusters cl ON d.doc_id = cl.id) c))
        |SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(doc_id) AS BIGINT) AS id_sum
        |FROM lab GROUP BY split ORDER BY split""".stripMargin),

    // Per-source quality drift: total variation distance between the two
    // corpus halves' length histograms, per source — the "source X
    // suddenly ships different documents" alarm. TVD stays in exact
    // integer arithmetic until one final division, so the score is
    // bit-reproducible in any engine and any aggregation order; the
    // oracle re-derives it from raw counts.
    Contract("tx_quality_drift", (s, dir) => {
      val d = t(s, dir, "documents")
      graft.operators.Quality.distributionDrift(d, "source",
          col("doc_id") < 250,
          least(lit(7), floor(col("n_chars") / 100)).cast("int"))
        .select(col("source"), col("n_baseline"), col("n_compare"),
          round(col("tvd"), 6).as("tvd"))
        .orderBy(col("source"))
    },
      """WITH binned AS (
        |  SELECT source, doc_id < 250 AS h0,
        |    CAST(LEAST(7, FLOOR(n_chars / 100)) AS INT) AS bin
        |  FROM documents),
        |cnt AS (
        |  SELECT source, bin,
        |    COUNT(*) FILTER (h0) AS c0, COUNT(*) FILTER (NOT h0) AS c1
        |  FROM binned GROUP BY source, bin),
        |tot AS (
        |  SELECT source, CAST(SUM(c0) AS BIGINT) AS t0,
        |    CAST(SUM(c1) AS BIGINT) AS t1
        |  FROM cnt GROUP BY source)
        |SELECT c.source, t0 AS n_baseline, t1 AS n_compare,
        |  ROUND(CAST(SUM(ABS(c0 * t1 - c1 * t0)) AS DOUBLE)
        |    / (2.0 * t0 * t1), 6) AS tvd
        |FROM cnt c JOIN tot t ON c.source = t.source
        |GROUP BY c.source, t0, t1 ORDER BY c.source""".stripMargin),

    Contract("tx_token_counts", (s, dir) => {
      val d = t(s, dir, "documents")
      d.select(col("doc_id"),
          length(col("text")).as("n_chars"),
          graft.operators.TextAnalysis.tokenCount(col("text")).as("n_tokens_ws"),
          graft.operators.TextAnalysis.tokenCountBpe(col("text")).as("n_tokens_bpe"))
        .orderBy(col("doc_id"))
    },
      """SELECT doc_id,
        |  LENGTH(text) AS n_chars,
        |  LEN(LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(text, '\s+'), x -> x != '')) AS n_tokens_ws,
        |  LEN(REGEXP_EXTRACT_ALL(text, '\p{L}+|\p{N}+|[^\s\p{L}\p{N}]')) AS n_tokens_bpe
        |FROM documents ORDER BY doc_id""".stripMargin),

    // BPE tokenizer trained ON the corpus (Bpe.train: one distributed pass
    // to the word-frequency table, bounded driver merge loop — the split
    // every production tokenizer trainer uses) then applied with the
    // map-only native encoder. Contract: the FIRST merge rule is
    // independently re-derived by DuckDB (most frequent adjacent character
    // pair of the word table, same tie-break); roundtrip/compression/
    // determinism are hard Spark-side invariants, sim_ivf_refit-style.
    Contract("tx_bpe_tokenize", (s, dir) => {
      // hash-spread: both train passes' word explode and the per-doc BPE
      // encode are fused to the one-row-group scan otherwise (r14 profile:
      // 0.89 s max task of 1.13 s CPU); word counts and the encode
      // roundtrip aggregate are exact integers, partitioning-independent
      val d = spreadIfNarrow(t(s, dir, "documents"), col("doc_id"))
      // nMerges=50 stays safely below vocabulary exhaustion (the synthetic
      // corpus builds from a bounded word list and fully merges at ~89
      // rules), so the merge count is the constant the oracle predicts;
      // early-stop behavior at the exhaustion/floor boundary is
      // BpeSpec-covered
      val merges = graft.operators.Bpe.train(d, "text", nMerges = 50)
      val merges2 = graft.operators.Bpe.train(d, "text", nMerges = 50)
      val enc = graft.operators.Bpe.encode(col("text"), merges)
      val words = filter(split(lower(col("text")), "[^\\p{L}]+"),
        w => w =!= "")
      d.select(concat_ws("", enc).as("_tj"),
          concat_ws("", words).as("_wj"),
          size(enc).cast("long").as("_ntok"))
        .agg(count(lit(1)).as("_docs"),
          sum(when(col("_tj") === col("_wj"), 1L).otherwise(0L)).as("_rt"),
          sum(col("_ntok")).as("_tok"),
          sum(length(col("_wj")).cast("long")).as("_chr"))
        .select(
          lit(merges.head._1 + " " + merges.head._2).as("first_merge"),
          lit(merges.length).as("n_merges"),
          (col("_rt") === col("_docs")).as("roundtrip_ok"),
          (col("_tok") < col("_chr")).as("compresses"),
          lit(merges == merges2).as("deterministic_ok"))
    },
      """WITH ws AS (
        |  SELECT LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(LOWER(text), '[^\p{L}]+'),
        |    x -> x != '') AS ws
        |  FROM documents),
        |wc AS (
        |  SELECT w, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM (SELECT UNNEST(ws) AS w FROM ws) GROUP BY w),
        |pc AS (
        |  SELECT pair, SUM(n) AS c FROM (
        |    SELECT UNNEST(CASE WHEN LENGTH(w) < 2 THEN []
        |      ELSE LIST_TRANSFORM(GENERATE_SERIES(1, LENGTH(w) - 1),
        |        i -> substring(w, i, 2)) END) AS pair, n
        |    FROM wc)
        |  GROUP BY pair)
        |SELECT (SELECT substring(pair, 1, 1) || ' ' || substring(pair, 2, 1)
        |        FROM pc ORDER BY c DESC, pair LIMIT 1) AS first_merge,
        |  50 AS n_merges, TRUE AS roundtrip_ok, TRUE AS compresses,
        |  TRUE AS deterministic_ok""".stripMargin),

    // RAG-style overlapping-window chunking: 64-token windows at stride 48
    // (16-token overlap), built with higher-order functions (sequence →
    // transform → slice → aggregate) — pure map work, no shuffle until the
    // per-doc stats. chunk_tokens sums actual slice lengths (the last
    // window is usually truncated), re-derived independently by the oracle.
    Contract("tx_chunking", (s, dir) => {
      val d = t(s, dir, "documents")
      d.selectExpr("doc_id",
          "filter(split(lower(text), '[^\\\\p{L}]+'), x -> x != '') as ws")
        .selectExpr("doc_id", "cast(size(ws) as bigint) as n_tok",
          """case when size(ws) = 0 then array()
            |else transform(sequence(0, cast(floor((size(ws)-1)/48) as int)),
            |               i -> slice(ws, i*48+1, 64)) end as chunks""".stripMargin)
        .selectExpr("doc_id", "n_tok",
          "cast(size(chunks) as bigint) as n_chunks",
          "aggregate(chunks, 0L, (acc, c) -> acc + size(c)) as chunk_tokens")
        .orderBy(col("doc_id"))
    },
      """WITH w AS (
        |  SELECT doc_id,
        |    LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(LOWER(text), '[^\p{L}]+'),
        |                x -> x != '') AS ws
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, CAST(LEN(ws) AS BIGINT) AS n_tok,
        |    CASE WHEN LEN(ws) = 0 THEN []
        |    ELSE LIST_TRANSFORM(
        |      GENERATE_SERIES(0, CAST(FLOOR((LEN(ws)-1)/48) AS BIGINT)),
        |      i -> ws[i*48+1 : i*48+64]) END AS chunks
        |  FROM w)
        |SELECT doc_id, n_tok,
        |  CAST(LEN(chunks) AS BIGINT) AS n_chunks,
        |  CAST(COALESCE(LIST_SUM(LIST_TRANSFORM(chunks, ch -> LEN(ch))), 0)
        |       AS BIGINT) AS chunk_tokens
        |FROM c ORDER BY doc_id""".stripMargin),

    // End-to-end corpus release pipeline: quality gate (>=0.8 on the
    // closed-form score) → minhash near-dedup (exact-Jaccard-verified,
    // min-id representative) → GPT-style sequence packing of the
    // survivors. Each stage's operator is oracle-checked individually
    // elsewhere; this query proves they COMPOSE — DuckDB re-derives the
    // whole pipeline (quality formula + recursive dup closure + cumsum
    // pack) from raw text. The checkpoint bounds re-scans: the quality
    // gate's survivor set feeds both the dedup pass and the packer.
    Contract("tx_release_pipeline", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = t(s, dir, "documents")
      val scored = d
        .withColumn("_ts", graft.operators.TextAnalysis.textStats(col("text")))
        .withColumn("q", graft.operators.TextAnalysis.qualityScoreFrom(col("_ts")))
        .filter(col("q") >= 0.8)
        .select(col("doc_id"), col("text"))
        .localCheckpoint()
      val unique = graft.operators.Dedup.nearDedup(
        scored, "text", "doc_id", threshold = 0.5)
      val budget = 1024
      val toks = unique.select(col("doc_id"),
        pmod(col("doc_id"), lit(8)).as("shard"),
        graft.operators.TextAnalysis.tokenCountBpe(col("text")).as("n_tok"))
      val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      toks.withColumn("cum_end", sum(col("n_tok")).over(w))
        .withColumn("cum_start", col("cum_end") - col("n_tok"))
        .withColumn("bin_first",
          floor(col("cum_start") / lit(budget.toDouble)).cast("long"))
        .withColumn("bin_last",
          when(col("n_tok") > 0, floor((col("cum_end") - 1) / lit(budget.toDouble)))
            .otherwise(col("bin_first")).cast("long"))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("total_tokens"),
          sum((col("bin_last") > col("bin_first")).cast("long")).as("n_split_docs"))
        .withColumn("n_seqs",
          ceil(col("total_tokens") / lit(budget.toDouble)).cast("long"))
        .withColumn("fill_ratio",
          round(col("total_tokens") / (col("n_seqs") * budget), 4))
        .select(col("shard"), col("n_docs"), col("total_tokens"), col("n_seqs"),
          col("n_split_docs"), col("fill_ratio"))
        .orderBy(col("shard"))
    },
      s"""WITH RECURSIVE $shingleCte,
        |stats AS (
        |  SELECT doc_id, LENGTH(text) AS n_chars,
        |    LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(LOWER(text), '[^\\p{L}]+'), x -> x != '') AS ws,
        |    LEN(REGEXP_EXTRACT_ALL(text, '\\p{L}')) AS n_alpha,
        |    LEN(REGEXP_EXTRACT_ALL(text, '[[:punct:]]')) AS n_punct
        |  FROM documents),
        |qscored AS (
        |  SELECT doc_id, n_chars, n_alpha, n_punct, LEN(ws) AS n_words,
        |    LEN(LIST_FILTER(ws, w -> LIST_CONTAINS(['als','and','auf','as','be','con','dans','das','de','den','der','des','die','du','ein','eine','el','en','es','est','et','for','his','in','is','ist','it','la','las','le','les','los','mit','nicht','of','on','para','pas','por','pour','que','qui','su','that','the','to','un','una','und','une','von','was','with','y','zu'], w))) AS stop_all
        |  FROM stats),
        |qratios AS (
        |  SELECT doc_id, CAST(n_chars AS DOUBLE) AS len,
        |    CASE WHEN n_chars > 0 THEN CAST(n_alpha AS DOUBLE) / n_chars ELSE 0.0 END AS alpha_ratio,
        |    CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE) / n_chars ELSE 0.0 END AS punct_ratio,
        |    CASE WHEN n_words > 0 THEN CAST(stop_all AS DOUBLE) / n_words ELSE 0.0 END AS stop_ratio,
        |    CASE WHEN n_words > 0 THEN CAST(n_alpha AS DOUBLE) / n_words ELSE 0.0 END AS mwl
        |  FROM qscored),
        |keepq AS (
        |  SELECT doc_id FROM qratios
        |  WHERE ROUND(((CASE WHEN len >= 200 AND len <= 50000 THEN 1.0 ELSE LEAST(len / 200.0, 1.0) END
        |     + LEAST(alpha_ratio / 0.6, 1.0))
        |     + (CASE WHEN punct_ratio <= 0.2 THEN 1.0 ELSE GREATEST(0.0, 1.0 - (punct_ratio - 0.2) * 5) END)
        |     + LEAST(stop_ratio / 0.05, 1.0)
        |     + (CASE WHEN mwl >= 2 AND mwl <= 12 THEN 1.0 ELSE 0.0 END)) / 5.0, 4) >= 0.8),
        |pairs AS (
        |  SELECT a.doc_id AS id1, b.doc_id AS id2
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE a.doc_id IN (SELECT doc_id FROM keepq)
        |    AND b.doc_id IN (SELECT doc_id FROM keepq)
        |    AND LEN(LIST_DISTINCT(LIST_CONCAT(a.sh, b.sh))) > 0
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
        |  SELECT src AS id FROM reach GROUP BY src HAVING src > MIN(dst)),
        |surv AS (
        |  SELECT doc_id FROM keepq WHERE doc_id NOT IN (SELECT id FROM drops)),
        |toks AS (
        |  SELECT d.doc_id, d.doc_id % 8 AS shard,
        |    LEN(REGEXP_EXTRACT_ALL(d.text, '\\p{L}+|\\p{N}+|[^\\s\\p{L}\\p{N}]')) AS n_tok
        |  FROM documents d JOIN surv USING (doc_id)),
        |cum AS (
        |  SELECT shard, n_tok,
        |    SUM(n_tok) OVER (PARTITION BY shard ORDER BY doc_id) AS cum_end
        |  FROM toks),
        |bins AS (
        |  SELECT shard, n_tok,
        |    CAST(FLOOR((cum_end - n_tok) / 1024.0) AS BIGINT) AS bin_first,
        |    CAST(CASE WHEN n_tok > 0 THEN FLOOR((cum_end - 1) / 1024.0)
        |         ELSE FLOOR((cum_end - n_tok) / 1024.0) END AS BIGINT) AS bin_last
        |  FROM cum)
        |SELECT shard,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
        |  CAST(CEIL(SUM(n_tok) / 1024.0) AS BIGINT) AS n_seqs,
        |  CAST(SUM(CASE WHEN bin_last > bin_first THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_split_docs,
        |  ROUND(SUM(n_tok) / (CAST(CEIL(SUM(n_tok) / 1024.0) AS BIGINT) * 1024.0), 4)
        |    AS fill_ratio
        |FROM bins GROUP BY shard ORDER BY shard""".stripMargin),

    // GPT-style sequence packing: concatenate documents in shard-local id
    // order, chop into fixed 1024-token training sequences, report per-shard
    // packing stats (docs split across a boundary, fill ratio). Shards are
    // fully independent — at 100 TB the shard key becomes pmod(xxhash64(id),
    // nShards) with nShards ~ cluster parallelism; id % 8 here keeps the
    // DuckDB oracle byte-portable. Only exchange: the per-shard window
    // cumsum; stats collapse to one row per shard.
    Contract("tx_sequence_pack", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val budget = 1024
      val d = t(s, dir, "documents")
      val toks = d.select(col("doc_id"), pmod(col("doc_id"), lit(8)).as("shard"),
        graft.operators.TextAnalysis.tokenCountBpe(col("text")).as("n_tok"))
      val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      toks.withColumn("cum_end", sum(col("n_tok")).over(w))
        .withColumn("cum_start", col("cum_end") - col("n_tok"))
        .withColumn("bin_first",
          floor(col("cum_start") / lit(budget.toDouble)).cast("long"))
        // empty docs occupy no tokens: pin them to bin_first so they never
        // count as boundary-split
        .withColumn("bin_last",
          when(col("n_tok") > 0, floor((col("cum_end") - 1) / lit(budget.toDouble)))
            .otherwise(col("bin_first")).cast("long"))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("total_tokens"),
          sum((col("bin_last") > col("bin_first")).cast("long")).as("n_split_docs"))
        .withColumn("n_seqs", ceil(col("total_tokens") / lit(budget.toDouble)).cast("long"))
        .withColumn("fill_ratio",
          round(col("total_tokens") / (col("n_seqs") * budget), 4))
        .select(col("shard"), col("n_docs"), col("total_tokens"), col("n_seqs"),
          col("n_split_docs"), col("fill_ratio"))
        .orderBy(col("shard"))
    },
      """WITH toks AS (
        |  SELECT doc_id, doc_id % 8 AS shard,
        |    LEN(REGEXP_EXTRACT_ALL(text, '\p{L}+|\p{N}+|[^\s\p{L}\p{N}]')) AS n_tok
        |  FROM documents),
        |c AS (
        |  SELECT shard, n_tok,
        |    SUM(n_tok) OVER (PARTITION BY shard ORDER BY doc_id) AS cum_end
        |  FROM toks),
        |b AS (
        |  SELECT shard, n_tok, cum_end,
        |    CAST(FLOOR((cum_end - n_tok) / 1024.0) AS BIGINT) AS bin_first,
        |    CAST(CASE WHEN n_tok > 0 THEN FLOOR((cum_end - 1) / 1024.0)
        |         ELSE FLOOR((cum_end - n_tok) / 1024.0) END AS BIGINT) AS bin_last
        |  FROM c)
        |SELECT shard,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
        |  CAST(CEIL(SUM(n_tok) / 1024.0) AS BIGINT) AS n_seqs,
        |  CAST(SUM(CASE WHEN bin_last > bin_first THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_split_docs,
        |  ROUND(SUM(n_tok) / (CAST(CEIL(SUM(n_tok) / 1024.0) AS BIGINT) * 1024.0), 4)
        |    AS fill_ratio
        |FROM b GROUP BY shard ORDER BY shard""".stripMargin),

    // BM25 corpus search: top-20 documents for a fixed term set, scored by
    // the Okapi/Lucene +1-idf formula — exactly re-derivable in SQL
    Contract("tx_bm25", (s, dir) => {
      val d = t(s, dir, "documents")
      graft.operators.TextAnalysis.bm25TopK(d, "doc_id", "text",
        Seq("spark", "shuffle", "vector"), k = 20)
    },
      """WITH w AS (
        |  SELECT doc_id,
        |    LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(LOWER(text), '[^\p{L}]+'), x -> x != '') AS ws
        |  FROM documents),
        |toks AS (
        |  SELECT doc_id, LEN(ws) AS dl, UNNEST(ws) AS term FROM w),
        |tf AS (
        |  SELECT doc_id, dl, term, COUNT(*) AS tf FROM toks
        |  WHERE term IN ('spark', 'shuffle', 'vector')
        |  GROUP BY doc_id, dl, term),
        |stats AS (
        |  SELECT COUNT(*) AS n_docs, AVG(LEN(ws)) AS avgdl FROM w),
        |dfreq AS (
        |  SELECT term, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY term),
        |scored AS (
        |  SELECT tf.doc_id,
        |    LN((stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)
        |      * tf.tf * 2.2 / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / stats.avgdl)) AS s
        |  FROM tf JOIN dfreq USING (term) CROSS JOIN stats)
        |SELECT doc_id, ROUND(SUM(s), 4) AS bm25, COUNT(*) AS n_terms_hit
        |FROM scored GROUP BY doc_id
        |ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin),

    // Exact corpus vocabulary ranking: explode collapses under map-side
    // combine (shuffle bounded by vocab × tasks), final top-k is
    // TakeOrdered. The baseline "what's in this corpus" report.
    Contract("tx_word_topk", (s, dir) => {
      val d = t(s, dir, "documents")
      graft.operators.TextAnalysis.wordFrequencies(d, "text")
        .orderBy(col("n").desc, col("term")).limit(40)
    },
      """SELECT term, COUNT(*) AS n
        |FROM (SELECT UNNEST(LIST_FILTER(
        |        REGEXP_SPLIT_TO_ARRAY(LOWER(text), '[^\p{L}]+'), x -> x != '')) AS term
        |      FROM documents)
        |GROUP BY term ORDER BY n DESC, term LIMIT 40""".stripMargin),

    // Unigram-LM surprisal quality scores per document (see
    // TextAnalysis.unigramSurprisal): high mean −log2 p = improbable junk,
    // near-lower-bound = most-common-word boilerplate.
    Contract("tx_surprisal", (s, dir) => {
      val d = t(s, dir, "documents")
      graft.operators.TextAnalysis.unigramSurprisal(d, "doc_id", "text")
        .orderBy(col("doc_id"))
    },
      """WITH toks AS (
        |  SELECT doc_id, UNNEST(LIST_FILTER(
        |    REGEXP_SPLIT_TO_ARRAY(LOWER(text), '[^\p{L}]+'), x -> x != '')) AS term
        |  FROM documents),
        |freq AS (SELECT term, COUNT(*) AS n FROM toks GROUP BY term),
        |probs AS (
        |  SELECT term, n / (SELECT SUM(n) FROM freq) AS p FROM freq)
        |SELECT doc_id, COUNT(*) AS n_tokens,
        |  ROUND(AVG(-LOG2(p)), 4) AS mean_surprisal,
        |  ROUND(MAX(-LOG2(p)), 4) AS max_surprisal
        |FROM toks JOIN probs USING (term)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // intra-document repetition (Gopher-style boilerplate/looping filter):
    // single-pass native struct, exact-checkable against a SQL re-derivation
    Contract("tx_repetition", (s, dir) => {
      val d = t(s, dir, "documents")
      d.select(col("doc_id"),
          graft.operators.TextAnalysis.bigramRepetition(col("text")).as("_r"))
        .select(col("doc_id"),
          col("_r.n_bigrams").as("n_bigrams"),
          round(col("_r.top_bigram_frac"), 4).as("top_bigram_frac"),
          round(col("_r.dup_bigram_frac"), 4).as("dup_bigram_frac"))
        .orderBy(col("doc_id"))
    },
      """WITH w AS (
        |  SELECT doc_id,
        |    LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(LOWER(text), '[^\p{L}]+'), x -> x != '') AS ws
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    CASE WHEN LEN(ws) >= 2
        |         THEN LIST_TRANSFORM(GENERATE_SERIES(1, LEN(ws) - 1), i -> ws[i] || ' ' || ws[i+1])
        |         ELSE [] END AS grams
        |  FROM w),
        |c AS (
        |  SELECT doc_id, gram, COUNT(*) AS n
        |  FROM (SELECT doc_id, UNNEST(grams) AS gram FROM g)
        |  GROUP BY doc_id, gram),
        |a AS (
        |  SELECT doc_id, SUM(n) AS total, MAX(n) AS topn,
        |         SUM(CASE WHEN n > 1 THEN n ELSE 0 END) AS dup
        |  FROM c GROUP BY doc_id)
        |SELECT g.doc_id,
        |  CAST(COALESCE(a.total, 0) AS BIGINT) AS n_bigrams,
        |  ROUND(COALESCE(CAST(a.topn AS DOUBLE) / a.total, 0.0), 4) AS top_bigram_frac,
        |  ROUND(COALESCE(CAST(a.dup AS DOUBLE) / a.total, 0.0), 4) AS dup_bigram_frac
        |FROM g LEFT JOIN a ON g.doc_id = a.doc_id
        |ORDER BY g.doc_id""".stripMargin),

    // Span-granular repetition audit: per-doc suffix automaton (linear
    // time, pure map work) -> longest repeated substring + distinct-
    // substring ratio, folded to a corpus report. Bigram fractions
    // (tx_repetition) see local stutter; this sees whole repeated
    // templates. n_docs is oracle-derived; the automaton fields are
    // deterministic goldens.
    Contract("tx_repeated_span", (s, dir) => {
      val d = t(s, dir, "documents")
      d.select(graft.operators.TextAnalysis.repeatedSpanStats(col("text")).as("r"))
        .select(col("r.longest_rep_len").as("_lrl"),
          col("r.distinct_ratio").as("_ratio"))
        .agg(
          count(lit(1)).as("n_docs"),
          max(col("_lrl")).as("max_longest"),
          sum(col("_lrl").cast("long")).as("sum_longest"),
          round(avg(col("_ratio")), 4).as("avg_distinct_ratio"),
          sum(when(col("_ratio") < 0.98, 1L).otherwise(0L)).as("n_repetitive"))
    },
      // n_docs oracle-derived; automaton fields are deterministic goldens
      // (fixed corpus, exact integer byte arithmetic)
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  24 AS max_longest,
        |  CAST(6023 AS BIGINT) AS sum_longest,
        |  CAST(0.9768 AS DOUBLE) AS avg_distinct_ratio,
        |  CAST(274 AS BIGINT) AS n_repetitive
        |FROM documents""".stripMargin),

    // winnowing fingerprints: substring-level overlap among consecutive doc
    // ids (bounded deterministic pair set), summarized — the fingerprint
    // hashes are ours (no SQL oracle can recompute them), so the contract
    // emits the pair count (oracle-computable) plus golden-locked overlap
    // statistics; per-pair behavior is unit-tested in AsofWinnowSpec.
    Contract("tx_winnow_overlap", (s, dir) => {
      val d = t(s, dir, "documents")
      val fp = d.select(col("doc_id"),
        graft.operators.TextAnalysis.winnowingFingerprint(col("text")).as("fp"))
      val a = fp.select(col("doc_id").as("id1"), col("fp").as("fp1"))
      val b = fp.select(col("doc_id").as("id2"), col("fp").as("fp2"))
      a.join(b, col("id2") === col("id1") + 1)
        .select(graft.operators.Dedup.sortedJaccard(col("fp1"), col("fp2")).as("overlap"))
        .agg(
          count(lit(1)).as("n_pairs"),
          sum(when(col("overlap") > 0, 1L).otherwise(0L)).as("n_pos_overlap"),
          round(avg(col("overlap")), 4).as("mean_overlap"),
          round(max(col("overlap")), 4).as("max_overlap"))
    },
      // golden-locked summaries (values fixed by deterministic hashes at
      // sf0.01; n_pairs/counts that ARE text-derivable are computed)
      """SELECT COUNT(*) - 1 AS n_pairs, 473 AS n_pos_overlap,
        |  0.0337 AS mean_overlap, 0.1223 AS max_overlap FROM documents""".stripMargin),

    // deterministic training-mix: per-source rates + stable hash sampling,
    // with a reproducible train/val/test split column
    Contract("tx_training_mix", (s, dir) => {
      val d = t(s, dir, "documents")
      val rates = Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25, "src3" -> 0.1)
      graft.operators.Sampling.trainingMix(d, "source", "doc_id", rates)
        .withColumn("split", graft.operators.Sampling.hashSplit(col("doc_id"),
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)))
        .groupBy(col("source"), col("split"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("source"), col("split"))
    },
      """SELECT * FROM (VALUES
        |  ('src0', 'test', CAST(2 AS BIGINT)), ('src0', 'train', 19), ('src0', 'val', 4),
        |  ('src1', 'test', 2), ('src1', 'train', 7), ('src1', 'val', 1),
        |  ('src2', 'train', 6),
        |  ('src3', 'test', 2), ('src3', 'train', 2))
        |t(source, split, n_docs) ORDER BY source, split""".stripMargin),

    // contamination audit: doc-vs-doc substring overlap between two source
    // partitions of the corpus (deterministic; self-pairs excluded by side)
    Contract("tx_contamination", (s, dir) => {
      // hash-spread: the winnowing fingerprint pass is fused to the
      // one-row-group scan otherwise (r14 profile: 0.52 s max task);
      // posting caps, totals and overlap counts are exact integers,
      // partitioning-independent
      val d = spreadIfNarrow(t(s, dir, "documents"), col("doc_id"))
      val a = d.filter(col("source").isin("src0", "src1"))
      val b = d.filter(col("source").isin("src2", "src3"))
      // audit summary (always >= 1 row): contaminated pairs at several
      // thresholds; the clean synthetic corpus legitimately reports zeros
      val pairs = graft.operators.Contamination.overlap(
        a, "doc_id", "text", b, "doc_id", "text", threshold = 0.05)
      pairs.agg(
          count(lit(1)).as("pairs_at_005"),
          sum(when(col("overlap") >= 0.3, 1L).otherwise(0L)).as("pairs_at_03"),
          sum(when(col("overlap") >= 0.8, 1L).otherwise(0L)).as("pairs_at_08"))
        .na.fill(0L)
    },
      """SELECT CAST(1694 AS BIGINT) AS pairs_at_005, CAST(0 AS BIGINT) AS pairs_at_03,
        |  CAST(0 AS BIGINT) AS pairs_at_08""".stripMargin),

    // Bloom-pruned contamination audit: MUST report the numbers
    // tx_contamination reports (the prune is recall-exact — Bloom false
    // positives only add candidates the join discards), while shuffling
    // only the A fingerprints that might exist in B. The shared golden
    // oracle IS the equivalence check, driver-verified.
    Contract("tx_contamination_pruned", (s, dir) => {
      // hash-spread: the winnowing fingerprint pass is fused to the
      // one-row-group scan otherwise (r14 profile: 0.52 s max task);
      // posting caps, totals and overlap counts are exact integers,
      // partitioning-independent
      val d = spreadIfNarrow(t(s, dir, "documents"), col("doc_id"))
      val a = d.filter(col("source").isin("src0", "src1"))
      val b = d.filter(col("source").isin("src2", "src3"))
      val pairs = graft.operators.Contamination.overlapPruned(
        a, "doc_id", "text", b, "doc_id", "text", threshold = 0.05,
        expectedBFingerprints = 1L << 20)
      pairs.agg(
          count(lit(1)).as("pairs_at_005"),
          sum(when(col("overlap") >= 0.3, 1L).otherwise(0L)).as("pairs_at_03"),
          sum(when(col("overlap") >= 0.8, 1L).otherwise(0L)).as("pairs_at_08"))
        .na.fill(0L)
    },
      // identical golden to tx_contamination BY DESIGN: the Bloom prune must
      // not change a single pair count
      """SELECT CAST(1694 AS BIGINT) AS pairs_at_005, CAST(0 AS BIGINT) AS pairs_at_03,
        |  CAST(0 AS BIGINT) AS pairs_at_08""".stripMargin),

    // Sketch-only shard triage: per-source KMV sketches over winnowing
    // fingerprints, pairwise overlap estimates from kilobyte sketch values
    // — the "which shards look contaminated" report with no fingerprint
    // join at all. Estimates are deterministic (fixed hash, fixed data),
    // golden-locked like the other sketch surfaces.
    Contract("tx_shard_overlap", (s, dir) => {
      val d = t(s, dir, "documents")
      val a = d.filter(col("source").isin("src0", "src1"))
      val b = d.filter(col("source").isin("src2", "src3"))
      graft.operators.Contamination.groupOverlapMatrix(
          a, "source", "text", b, "source", "text")
        .orderBy(col("a_group"), col("b_group"))
    },
      // deterministic sketch estimates (fixed hash, fixed data): the heavy
      // cross-source k-gram sharing these report (~0.43 Jaccard over the
      // word-soup corpus) is exactly why tx_contamination sees 1694 pairs at
      // the 0.05 threshold
      """SELECT * FROM (VALUES
        |  ('src0', 'src2', 956.0, 0.4249),
        |  ('src0', 'src3', 951.0, 0.4261),
        |  ('src1', 'src2', 1004.0, 0.4439),
        |  ('src1', 'src3', 1003.0, 0.4478))
        |t(a_group, b_group, est_shared_fp, est_jaccard)
        |ORDER BY a_group, b_group""".stripMargin),

    // PII audit + compression-ratio quality signal over the corpus. The PII
    // regexes are RE2-compatible on purpose, so DuckDB recomputes pii_hits
    // from raw text; the deflate ratio is JVM-side, surfaced as a sanity
    // boolean (plain text compresses: ratio strictly inside (0, 1.5)).
    Contract("tx_pii_compression", (s, dir) => {
      val d = t(s, dir, "documents")
      val ratio = graft.operators.TextAnalysis.compressionRatio(col("text"))
      d.select(col("doc_id"),
          graft.operators.TextAnalysis.piiCount(col("text")).as("pii_hits"),
          (ratio > 0.0 && ratio < 1.5).as("compress_ok"))
        .orderBy(col("doc_id"))
    },
      """SELECT doc_id,
        |  LEN(REGEXP_EXTRACT_ALL(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
        |  + LEN(REGEXP_EXTRACT_ALL(text, '\+?[0-9]{1,3}[-. ]?\(?[0-9]{3}\)?[-. ][0-9]{3}[-. ][0-9]{4}'))
        |  + LEN(REGEXP_EXTRACT_ALL(text, '[0-9]{3}-[0-9]{2}-[0-9]{4}'))
        |  + LEN(REGEXP_EXTRACT_ALL(text, '([0-9]{1,3}\.){3}[0-9]{1,3}')) AS pii_hits,
        |  TRUE AS compress_ok
        |FROM documents ORDER BY doc_id""".stripMargin),

    // corpus length histogram (fixed-width buckets, oracle-checkable)
    Contract("tx_length_histogram", (s, dir) => {
      val d = t(s, dir, "documents")
      d.select(width_bucket(col("n_chars"), lit(0), lit(1000), lit(20)).as("bucket"))
        .groupBy(col("bucket")).agg(count(lit(1)).as("n_docs"))
        .orderBy(col("bucket"))
    },
      """SELECT CASE WHEN n_chars >= 1000 THEN 21
        |  ELSE CAST(FLOOR(n_chars / 50.0) + 1 AS BIGINT) END AS bucket,
        |  COUNT(*) AS n_docs
        |FROM documents GROUP BY bucket ORDER BY bucket""".stripMargin),

    // WARC ingest — the FIRST step of a crawl pipeline: documents packed
    // 16-to-an-archive (warcinfo + request/response pairs; odd archives
    // per-record-GZIPPED, exercising the multi-member gunzip), exploded
    // back to per-capture rows. The oracle rebuilds every output column
    // from the documents table: url string, 404-every-17th status, UTF-8
    // body length. Archive bytes never cross a shuffle — only the
    // exploded fixed-shape captures do.
    Contract("tx_warc_ingest", (s, dir) => {
      import s.implicits._
      val ing = graft.operators.Ingest
      ing.ingestWarc(ing.warcArchivesFromDocuments(s, dir))
        .filter(col("warc_type") === "response")
        .select(col("archive_id"), col("url"), col("http_status"), col("content_length"))
        .orderBy(col("url"))
    },
      """SELECT doc_id // 16 AS archive_id,
        |  'http://corpus.invalid/' || source || '/' || doc_id AS url,
        |  CASE WHEN doc_id % 17 = 0 THEN 404 ELSE 200 END AS http_status,
        |  strlen(text) AS content_length
        |FROM documents ORDER BY url""".stripMargin),

    // the Common-Crawl-shaped capstone: WARC archives -> explode ->
    // HTTP-200 responses only -> UTF-8 text -> per-doc curation metrics,
    // i.e. the classic crawl-to-training-text front half composed from
    // this round's ingest seam and the existing text analysis. The 404
    // captures (every 17th doc) drop out at the status filter, which the
    // oracle mirrors with WHERE doc_id % 17 <> 0.
    Contract("tx_warc_curation", (s, dir) => {
      val ing = graft.operators.Ingest
      ing.ingestWarc(ing.warcArchivesFromDocuments(s, dir))
        .filter(col("warc_type") === "response" && col("http_status") === 200)
        .select(col("archive_id"), col("url"),
          decode(col("body"), "UTF-8").as("text"))
        .select(col("archive_id"), col("url"),
          length(col("text")).as("n_chars"),
          graft.operators.TextAnalysis.tokenCount(col("text")).as("n_tokens_ws"))
        .orderBy(col("url"))
    },
      """SELECT doc_id // 16 AS archive_id,
        |  'http://corpus.invalid/' || source || '/' || doc_id AS url,
        |  LENGTH(text) AS n_chars,
        |  LEN(LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(text, '\s+'), x -> x != '')) AS n_tokens_ws
        |FROM documents WHERE doc_id % 17 <> 0 ORDER BY url""".stripMargin),

    // tar ingest, the archive sibling: one member per document, listing
    // (name, size) oracle-predicted from the doc columns. Checksums
    // verified per 512-byte ustar header on the way in.
    Contract("tx_tar_members", (s, dir) => {
      import s.implicits._
      val ing = graft.operators.Ingest
      ing.ingestTar(ing.tarArchivesFromDocuments(s, dir))
        .select(col("archive_id"), col("name"), col("size"))
        .orderBy(col("name"))
    },
      """SELECT doc_id // 16 AS archive_id,
        |  source || '/' || doc_id || '.txt' AS name,
        |  strlen(text) AS size
        |FROM documents ORDER BY name""".stripMargin),

    // .tar.xz source archives — the kernel/source-tarball shape: the
    // from-scratch xz walk (LZMA2 chunks, every container CRC verified,
    // block check over the UNCOMPRESSED bytes) feeding the tar member
    // walk. Check types rotate by archive id (none/crc32/crc64/sha256)
    // and the query REPORTS the check it read off the stream header, so
    // the oracle pins both the listing and the container metadata.
    // Map-only per-record decode, the archive-family shape.
    Contract("tx_tarxz_members", (s, dir) => {
      import s.implicits._
      val ing = graft.operators.Ingest
      ing.tarXzArchivesFromDocuments(s, dir)
        .flatMap { r =>
          val check = graft.operators.Xz.checkName(r.content)
          graft.operators.Tar.readEntries(graft.operators.Xz.decompress(r.content))
            .map(e => (r.media_id, check, e.name, e.size, e.payload))
        }
        .toDF("archive_id", "check_type", "name", "size", "payload")
        .select(col("archive_id"), col("check_type"), col("name"), col("size"),
          md5(col("payload")).as("payload_md5"))
        .orderBy(col("name"))
    },
      // the xz container metadata + listing replayed: check by aid%4, the
      // member payloads pinned through md5 against the source text
      """SELECT doc_id // 16 AS archive_id,
        |  CASE (doc_id // 16) % 4 WHEN 0 THEN 'none' WHEN 1 THEN 'crc32'
        |    WHEN 2 THEN 'crc64' ELSE 'sha256' END AS check_type,
        |  source || '/' || doc_id || '.txt' AS name,
        |  strlen(text) AS size,
        |  md5(text) AS payload_md5
        |FROM documents ORDER BY name""".stripMargin),

    // .tar.lz4 archives — the Hadoop-ecosystem archive flavor, with a
    // CANONICAL second implementation in the sandbox (the lz4 CLI, which
    // Lz4Spec interops against both directions). Containers rotate by
    // archive id between the modern frame (header/content checksums
    // verified) and the kernel legacy frame; the query REPORTS the
    // container it read off the magic so the oracle pins both the
    // listing and the framing. Map-only per-record decode.
    Contract("tx_tarlz4_members", (s, dir) => {
      import s.implicits._
      val ing = graft.operators.Ingest
      ing.tarLz4ArchivesFromDocuments(s, dir)
        .flatMap { r =>
          val container = graft.operators.Lz4.containerName(r.content)
          graft.operators.Tar.readEntries(graft.operators.Lz4.decompress(r.content))
            .map(e => (r.media_id, container, e.name, e.size, e.payload))
        }
        .toDF("archive_id", "container", "name", "size", "payload")
        .select(col("archive_id"), col("container"), col("name"), col("size"),
          md5(col("payload")).as("payload_md5"))
        .orderBy(col("name"))
    },
      // the lz4 lane replayed: container by aid%2 (modern frame / kernel
      // legacy), member payloads pinned through md5 against the source text
      """SELECT doc_id // 16 AS archive_id,
        |  CASE WHEN (doc_id // 16) % 2 = 0 THEN 'frame' ELSE 'legacy' END AS container,
        |  source || '/' || doc_id || '.txt' AS name,
        |  strlen(text) AS size,
        |  md5(text) AS payload_md5
        |FROM documents ORDER BY name""".stripMargin),

    // 7z archives — the LZMA-family container, canonical interop both
    // directions via libarchive (bsdtar-built goldens decode exactly;
    // bsdtar lists/extracts our archives live in SevenzSpec; a
    // spec-literal hand-built fixture pins the framing besides).
    // Coders rotate by aid%3 (copy/lzma/lzma2), layout
    // by aid%2 (solid/one-folder-per-member), every 5th archive carries
    // the ENCODED header real 7z writes; the query REPORTS the coder it
    // read off the header so the oracle pins listing AND framing.
    // Map-only per-record decode, the archive-family shape.
    Contract("tx_7z_members", (s, dir) => {
      import s.implicits._
      val ing = graft.operators.Ingest
      ing.sevenzArchivesFromDocuments(s, dir)
        .flatMap { r =>
          val coder = graft.operators.Sevenz.coderNames(r.content)
          graft.operators.Sevenz.readEntries(r.content)
            .map(e => (r.media_id, coder, e.name, e.size, e.payload))
        }
        .toDF("archive_id", "coder", "name", "size", "payload")
        .select(col("archive_id"), col("coder"), col("name"), col("size"),
          md5(col("payload")).as("payload_md5"))
        .orderBy(col("name"))
    },
      // the 7z lane replayed: coder by aid%3, member payloads pinned
      // through md5 against the source text
      """SELECT doc_id // 16 AS archive_id,
        |  CASE (doc_id // 16) % 3 WHEN 0 THEN 'copy' WHEN 1 THEN 'lzma'
        |    ELSE 'lzma2' END AS coder,
        |  source || '/' || doc_id || '.txt' AS name,
        |  strlen(text) AS size,
        |  md5(text) AS payload_md5
        |FROM documents ORDER BY name""".stripMargin),

    // .deb packages — the distro-archive corpus shape: ar container
    // (interop-pinned byte-identical to GNU ar), debian-binary gate,
    // control.tar parsed into RFC822 fields, data.tar exploded into
    // members; data compression rotates by package id over the full
    // deb(5) matrix (xz/gzip/zstd/none) and the query REPORTS the
    // codec + control fields it read so the oracle pins framing,
    // metadata AND payloads. dpkg-deb reads our writer's packages live
    // in DebSpec. Map-only per-record decode.
    Contract("tx_deb_packages", (s, dir) => {
      import s.implicits._
      val ing = graft.operators.Ingest
      ing.debPackagesFromDocuments(s, dir)
        .flatMap { r =>
          val p = graft.operators.Deb.readPackage(r.content)
          p.dataMembers.filter(_.typeflag == '0').map(e =>
            (p.control("Package"), p.control("Version"), p.compression,
              e.name.stripPrefix("./"), e.size, e.payload))
        }
        .toDF("package", "version", "compression", "name", "size", "payload")
        .select(col("package"), col("version"), col("compression"),
          col("name"), col("size"), md5(col("payload")).as("payload_md5"))
        .orderBy(col("name"))
    },
      // the deb lane replayed: control fields + data compression by
      // aid%4, member payloads pinned through md5 against the source text
      """SELECT 'corpus-' || (doc_id // 16) AS package,
        |  '1.' || (doc_id // 16) || '-1' AS version,
        |  CASE (doc_id // 16) % 4 WHEN 0 THEN 'xz' WHEN 1 THEN 'gzip'
        |    WHEN 2 THEN 'zstd' ELSE 'none' END AS compression,
        |  'usr/share/doc/corpus-' || (doc_id // 16) || '/' || source ||
        |    '/' || doc_id || '.txt' AS name,
        |  strlen(text) AS size,
        |  md5(text) AS payload_md5
        |FROM documents ORDER BY name""".stripMargin),

    // cpio archives — the initramfs / RPM-payload container: formats
    // rotate by aid%3 (newc / crc-with-verified-sums / odc) and the
    // query REPORTS the format read off the magic, so the oracle pins
    // listing AND framing. bsdcpio interop both directions in CpioSpec.
    // Map-only per-record decode, the archive-family shape.
    Contract("tx_cpio_members", (s, dir) => {
      import s.implicits._
      val ing = graft.operators.Ingest
      ing.cpioArchivesFromDocuments(s, dir)
        .flatMap { r =>
          val fmt = new String(r.content, 0, 6,
            java.nio.charset.StandardCharsets.US_ASCII) match {
            case "070701" => "newc"
            case "070702" => "crc"
            case "070707" => "odc"
            case other => other
          }
          graft.operators.Cpio.readEntries(r.content)
            .map(e => (r.media_id, fmt, e.name, e.size, e.payload))
        }
        .toDF("archive_id", "format", "name", "size", "payload")
        .select(col("archive_id"), col("format"), col("name"), col("size"),
          md5(col("payload")).as("payload_md5"))
        .orderBy(col("name"))
    },
      // the cpio lane replayed: format by aid%3, member payloads pinned
      // through md5 against the source text
      """SELECT doc_id // 16 AS archive_id,
        |  CASE (doc_id // 16) % 3 WHEN 0 THEN 'newc' WHEN 1 THEN 'crc'
        |    ELSE 'odc' END AS format,
        |  source || '/' || doc_id || '.txt' AS name,
        |  strlen(text) AS size,
        |  md5(text) AS payload_md5
        |FROM documents ORDER BY name""".stripMargin),

    // ISO 9660 disc images — the optical-media preservation shape:
    // volume-descriptor walk, recursive directory records with both-
    // endian fields cross-checked, Rock Ridge names. bsdtar interop
    // both directions in Iso9660Spec (goldens across RR/plain/Joliet).
    // Map-only per-record decode, the archive-family shape.
    Contract("tx_iso_members", (s, dir) => {
      import s.implicits._
      val ing = graft.operators.Ingest
      ing.isoImagesFromDocuments(s, dir)
        .flatMap { r =>
          graft.operators.Iso9660.readEntries(r.content)
            .map(e => (r.media_id, e.name, e.size, e.payload))
        }
        .toDF("archive_id", "name", "size", "payload")
        .select(col("archive_id"), col("name"), col("size"),
          md5(col("payload")).as("payload_md5"))
        .orderBy(col("name"))
    },
      // the iso lane replayed: member payloads pinned through md5
      """SELECT doc_id // 16 AS archive_id,
        |  source || '/' || doc_id || '.txt' AS name,
        |  strlen(text) AS size,
        |  md5(text) AS payload_md5
        |FROM documents ORDER BY name""".stripMargin),

    // xar packages — the macOS installer shape: zlib TOC walked with
    // the hardened XML parser, TOC checksum + both per-member checksums
    // verified on every record. bsdtar interop both directions in
    // XarSpec. Map-only per-record decode, the archive-family shape.
    Contract("tx_xar_members", (s, dir) => {
      import s.implicits._
      val ing = graft.operators.Ingest
      ing.xarArchivesFromDocuments(s, dir)
        .flatMap { r =>
          graft.operators.Xar.readEntries(r.content)
            .map(e => (r.media_id, e.name, e.size, e.payload))
        }
        .toDF("archive_id", "name", "size", "payload")
        .select(col("archive_id"), col("name"), col("size"),
          md5(col("payload")).as("payload_md5"))
        .orderBy(col("name"))
    },
      // the xar lane replayed: member payloads pinned through md5
      """SELECT doc_id // 16 AS archive_id,
        |  source || '/' || doc_id || '.txt' AS name,
        |  strlen(text) AS size,
        |  md5(text) AS payload_md5
        |FROM documents ORDER BY name""".stripMargin),

    // .tar.Z archives — the FTP/Usenet-era LZW flavor, canonical
    // interop both directions (bsdtar-written golden vs gzip -dc;
    // gzip/bsdcat decode our streams — LzwSpec). The query REPORTS the
    // max code width read off the flags byte so the oracle pins the
    // framing. Map-only per-record decode, the archive-family shape.
    Contract("tx_tarz_members", (s, dir) => {
      import s.implicits._
      val ing = graft.operators.Ingest
      ing.tarZArchivesFromDocuments(s, dir)
        .flatMap { r =>
          val maxBits = (r.content(2) & 0x1F).toLong
          graft.operators.Tar.readEntries(graft.operators.Lzw.decompressZ(r.content))
            .map(e => (r.media_id, maxBits, e.name, e.size, e.payload))
        }
        .toDF("archive_id", "max_bits", "name", "size", "payload")
        .select(col("archive_id"), col("max_bits"), col("name"), col("size"),
          md5(col("payload")).as("payload_md5"))
        .orderBy(col("name"))
    },
      // the tar.Z lane replayed: fixed block-mode 16-bit framing, member
      // payloads pinned through md5
      """SELECT doc_id // 16 AS archive_id,
        |  CAST(16 AS BIGINT) AS max_bits,
        |  source || '/' || doc_id || '.txt' AS name,
        |  strlen(text) AS size,
        |  md5(text) AS payload_md5
        |FROM documents ORDER BY name""".stripMargin),

    // zip ingest, completing the archive triple: central-directory walk,
    // store + deflate members (odd archives deflated), CRC-32 verified
    // per member on the way out. Method and uncompressed size are
    // oracle-predicted from the doc columns; md5(payload) rides along so
    // the oracle pins the INFLATED bytes against the source text, not
    // just the listing.
    Contract("tx_zip_members", (s, dir) => {
      import s.implicits._
      val ing = graft.operators.Ingest
      ing.ingestZip(ing.zipArchivesFromDocuments(s, dir))
        .select(col("archive_id"), col("name"), col("method"), col("size"),
          md5(col("payload")).as("payload_md5"))
        .orderBy(col("name"))
    },
      """SELECT doc_id // 16 AS archive_id,
        |  source || '/' || doc_id || '.txt' AS name,
        |  CASE WHEN (doc_id // 16) % 2 = 1 THEN 'deflate' ELSE 'store' END AS method,
        |  strlen(text) AS size,
        |  md5(text) AS payload_md5
        |FROM documents ORDER BY name""".stripMargin),

    // canonical-URL curation: six deterministic messy-URL shapes (case
    // games, default ports, fragments, tracking params, unsorted queries,
    // lowercase percent-escapes, userinfo) built from the doc columns and
    // pushed through url_normalize — each rule's output is
    // oracle-predicted by construction. The canonical URL is the dedup
    // key of every crawl pipeline; this pins its semantics end-to-end.
    Contract("tx_url_canonical", (s, dir) => {
      import s.implicits._
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("source"))
      val raw = when(col("doc_id") % 6 === 0,
          concat(lit("HTTP://Corpus.INVALID:80/"), col("source"), lit("/"),
            col("doc_id"), lit("?b=2&a=1#frag")))
        .when(col("doc_id") % 6 === 1,
          concat(lit("https://CORPUS.invalid:443/"), col("source"), lit("/"), col("doc_id")))
        .when(col("doc_id") % 6 === 2,
          concat(lit("http://corpus.invalid/"), col("source"), lit("/"),
            col("doc_id"), lit("?utm_source=feed&utm_medium=rss")))
        .when(col("doc_id") % 6 === 3,
          concat(lit("http://corpus.invalid:8080/"), col("source"), lit("/"),
            col("doc_id"), lit("%2fx")))
        .when(col("doc_id") % 6 === 4, lit("http://corpus.invalid#top"))
        .otherwise(
          concat(lit("http://User:Pw@Corpus.Invalid/"), col("doc_id"),
            lit("?fbclid=abc&z=9&a&a=0#x")))
      docs.select(col("doc_id"), raw.as("url_raw"),
          graft.operators.TextAnalysis.urlNormalize(raw).as("url_canonical"))
        .orderBy(col("doc_id"))
    },
      """SELECT doc_id,
        |  CASE doc_id % 6
        |    WHEN 0 THEN 'HTTP://Corpus.INVALID:80/' || source || '/' || doc_id || '?b=2&a=1#frag'
        |    WHEN 1 THEN 'https://CORPUS.invalid:443/' || source || '/' || doc_id
        |    WHEN 2 THEN 'http://corpus.invalid/' || source || '/' || doc_id || '?utm_source=feed&utm_medium=rss'
        |    WHEN 3 THEN 'http://corpus.invalid:8080/' || source || '/' || doc_id || '%2fx'
        |    WHEN 4 THEN 'http://corpus.invalid#top'
        |    ELSE 'http://User:Pw@Corpus.Invalid/' || doc_id || '?fbclid=abc&z=9&a&a=0#x'
        |  END AS url_raw,
        |  CASE doc_id % 6
        |    WHEN 0 THEN 'http://corpus.invalid/' || source || '/' || doc_id || '?a=1&b=2'
        |    WHEN 1 THEN 'https://corpus.invalid/' || source || '/' || doc_id
        |    WHEN 2 THEN 'http://corpus.invalid/' || source || '/' || doc_id
        |    WHEN 3 THEN 'http://corpus.invalid:8080/' || source || '/' || doc_id || '%2Fx'
        |    WHEN 4 THEN 'http://corpus.invalid/'
        |    ELSE 'http://User:Pw@corpus.invalid/' || doc_id || '?a&a=0&z=9'
        |  END AS url_canonical
        |FROM documents ORDER BY doc_id""".stripMargin),

    // the CDX seam: build the record-level (offset, length) index for
    // the WARC corpus (compressed space on the odd, per-member-gzipped
    // archives), then AUDIT it — every span re-parsed as a standalone
    // buffer (what a ranged GET returns) must yield one record with the
    // indexed digest. Per-archive record counts are oracle-predicted
    // from the doc grouping (1 warcinfo + request/response per doc);
    // slices_ok = TRUE pins the round-trip.
    Contract("tx_warc_cdx", (s, dir) => {
      import s.implicits._
      val ing = graft.operators.Ingest
      ing.verifyCdxSlices(ing.warcArchivesFromDocuments(s, dir))
        .select(col("archive_id"), col("n_records"), col("n_responses"),
          col("slices_ok"))
        .orderBy(col("archive_id"))
    },
      """SELECT doc_id // 16 AS archive_id,
        |  1 + 2 * count(*) AS n_records,
        |  count(*) AS n_responses,
        |  TRUE AS slices_ok
        |FROM documents GROUP BY 1 ORDER BY archive_id""".stripMargin),

    // the robots.txt fetch gate (RFC 9309): host-grain robots bodies —
    // a TINY dim table — broadcast-joined onto the URL stream, then the
    // codegen'd robots_allowed scalar per row. The corpus exercises every
    // precedence rule: exact-agent group beats *, longest match wins,
    // Allow wins ties, * wildcards and $ anchors, and the fallback-to-*
    // hosts prove group selection (their graftbot answers differ from
    // their otherbot-only rules). Every verdict is doc_id arithmetic, so
    // DuckDB predicts the whole gate by CASE.
    Contract("tx_robots_gate", (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("source"))
      val path = when(col("doc_id") % 5 === 0, concat(lit("/public/"), col("doc_id")))
        .when(col("doc_id") % 5 === 1, concat(lit("/private/"), col("doc_id")))
        .when(col("doc_id") % 5 === 2, concat(lit("/private/open/"), col("doc_id")))
        .when(col("doc_id") % 5 === 3, concat(lit("/files/"), col("doc_id"), lit(".tmp")))
        .otherwise(concat(lit("/files/"), col("doc_id"), lit(".txt")))
      // even-numbered hosts publish a graftbot group (plus a deny-all *
      // group that must NOT apply to graftbot); odd hosts publish no
      // graftbot group, so graftbot falls back to their * group
      val robotsEven = "# corpus robots\nUser-agent: graftbot\nDisallow: /private/\n" +
        "Allow: /private/open/\nDisallow: /*.tmp$\n\nUser-agent: *\nDisallow: /\n"
      val robotsOdd = "User-agent: otherbot\nDisallow: /\n\n" +
        "User-agent: *\nDisallow: /files/\nAllow: /files/*.txt$\n"
      val robots = t(s, dir, "documents").select(col("source")).distinct()
        .withColumn("robots_txt",
          when(substring(col("source"), 4, 8).cast("int") % 2 === 0,
            lit(robotsEven)).otherwise(lit(robotsOdd)))
      d.join(broadcast(robots), Seq("source"))
        .select(col("doc_id"), col("source"), path.as("path"),
          graft.operators.TextAnalysis.robotsAllowed(
            col("robots_txt"), lit("graftbot"), path).as("allowed"))
        .orderBy(col("doc_id"))
    },
      // robots verdicts by construction: even hosts use the graftbot group
      // (allow unless /private/ non-open or *.tmp), odd hosts have no
      // graftbot group so the * group applies (deny /files/ except *.txt$);
      // source parity == doc_id parity since source = 'src' || doc_id % 20
      """SELECT doc_id, source,
        |  CASE doc_id % 5
        |    WHEN 0 THEN '/public/' || doc_id
        |    WHEN 1 THEN '/private/' || doc_id
        |    WHEN 2 THEN '/private/open/' || doc_id
        |    WHEN 3 THEN '/files/' || doc_id || '.tmp'
        |    ELSE '/files/' || doc_id || '.txt'
        |  END AS path,
        |  CASE WHEN doc_id % 2 = 0 THEN doc_id % 5 IN (0, 2, 4)
        |       ELSE doc_id % 5 != 3 END AS allowed
        |FROM documents ORDER BY doc_id""".stripMargin),

    // the crawl FRONTIER shard: canonicalize messy capture URLs
    // (url_normalize rides the scan as a projection), derive the host
    // with the built-in parse_url, then rendezvous-shard HOSTS to
    // fetchers — politeness requires all of a host's URLs on one
    // fetcher, and HRW means adding a fetcher moves only ~1/n of hosts.
    // md5 HRW, so DuckDB replays the exact assignment; per-shard URL
    // counts, host counts, and min host all hash-compare.
    Contract("tx_frontier_shard", (s, dir) => {
      val d = t(s, dir, "documents")
      val raw = concat(lit("HTTP://"), upper(col("source")), lit(".INVALID:80/"),
        col("doc_id"), lit("?utm_source=feed&b=2&a=1#frag"))
      val canon = graft.operators.TextAnalysis.urlNormalize(raw)
      // reduce to HOST grain first: the per-host URL tally partial-aggs
      // map-side, and the nShards md5 rounds of HRW run once per HOST,
      // not once per URL — the per-URL form would hash the 100 TB stream
      // 4x for an assignment that is a host property. No countDistinct
      // at the fetcher grain either, so no Expand anywhere.
      d.select(col("doc_id"), canon.as("url"))
        .withColumn("host", parse_url(col("url"), lit("HOST")))
        .groupBy(col("host")).agg(count(lit(1)).as("n_urls"))
        .withColumn("fetcher", graft.operators.Sampling.rendezvousShard(col("host"), 4))
        .groupBy(col("fetcher"))
        .agg(sum(col("n_urls")).as("n_urls"),
          count(lit(1)).as("n_hosts"),
          min(col("host")).as("host_min"))
        .orderBy(col("fetcher"))
    },
      """WITH u AS (
        |  SELECT doc_id, 'src' || (doc_id % 20) || '.invalid' AS host FROM documents),
        |hs AS (
        |  SELECT host, COUNT(*) AS n_urls FROM u GROUP BY host),
        |a AS (
        |  SELECT host, s, MD5(host || ':' || CAST(s AS VARCHAR)) AS h
        |  FROM hs, UNNEST(GENERATE_SERIES(0, 3)) AS t(s)),
        |w AS (SELECT host, ARG_MAX(s, h) AS fetcher FROM a GROUP BY host)
        |SELECT fetcher, CAST(SUM(n_urls) AS BIGINT) AS n_urls, COUNT(*) AS n_hosts,
        |  MIN(host) AS host_min
        |FROM hs JOIN w USING (host)
        |GROUP BY fetcher ORDER BY fetcher""".stripMargin),

    // the FETCH SCHEDULER — what the frontier actually emits: per host,
    // URLs ordered stalest-first (the sitemap lastmod signal), spaced by
    // the host's declared Crawl-Delay (graftbot group on even hosts,
    // * fallback on odd — resolved through Robots.crawlDelay on the
    // 20-row dim, a typed map), the whole host assigned to a fetcher by
    // md5 HRW. One window per host for the position, one broadcast
    // join, HRW at host grain; every column exact arithmetic (the
    // delays are 2.0 / 0.5, binary-exact multipliers).
    Contract("tx_fetch_schedule", (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val robotsEven = "User-agent: graftbot\nCrawl-delay: 2\nDisallow: /private/\n\n" +
        "User-agent: *\nCrawl-delay: 10\nDisallow: /\n"
      val robotsOdd = "User-agent: otherbot\nCrawl-delay: 30\n\n" +
        "User-agent: *\nCrawl-delay: 0.5\n"
      val robots = t(s, dir, "documents")
        .select((col("doc_id") % 20).as("k")).distinct()
        .select(concat(lit("src"), col("k"), lit(".invalid")).as("host"),
          when(col("k") % 2 === 0, lit(robotsEven))
            .otherwise(lit(robotsOdd)).as("robots_txt"))
        .as[(String, String)]
        .map { case (host, txt) =>
          (host, graft.operators.Robots.crawlDelay(
            graft.operators.Robots.parse(txt), "graftbot").getOrElse(1.0))
        }.toDF("host", "delay_s")
        .withColumn("fetcher", graft.operators.Sampling.rendezvousShard(col("host"), 4))
      val urls = t(s, dir, "documents")
        .select(col("doc_id"),
          concat(lit("src"), col("doc_id") % 20, lit(".invalid")).as("host"),
          ((col("doc_id") % 28) + 1).as("lastmod_day"))
      val w = Window.partitionBy(col("host"))
        .orderBy(col("lastmod_day"), col("doc_id"))
      urls.join(broadcast(robots), Seq("host"))
        .withColumn("position", row_number().over(w))
        .select(col("doc_id"), col("host"), col("fetcher"), col("position"),
          ((col("position") - 1) * col("delay_s")).as("offset_s"))
        .orderBy(col("doc_id"))
    },
      // scheduler replay: per-host stalest-first ordering, delay spacing
      // (graftbot 2s on even hosts, * fallback 0.5s on odd), md5 HRW
      """WITH u AS (
        |  SELECT doc_id, 'src' || (doc_id % 20) || '.invalid' AS host,
        |    (doc_id % 28) + 1 AS lastmod_day,
        |    CASE WHEN doc_id % 2 = 0 THEN 2.0 ELSE 0.5 END AS delay_s
        |  FROM documents),
        |a AS (
        |  SELECT host, s, MD5(host || ':' || CAST(s AS VARCHAR)) AS h
        |  FROM (SELECT DISTINCT host FROM u), UNNEST(GENERATE_SERIES(0, 3)) AS t(s)),
        |w AS (SELECT host, ARG_MAX(s, h) AS fetcher FROM a GROUP BY host),
        |r AS (
        |  SELECT doc_id, host, lastmod_day, delay_s,
        |    ROW_NUMBER() OVER (PARTITION BY host ORDER BY lastmod_day, doc_id)
        |      AS position
        |  FROM u)
        |SELECT r.doc_id, r.host, w.fetcher, CAST(r.position AS INT) AS position,
        |  (r.position - 1) * r.delay_s AS offset_s
        |FROM r JOIN w USING (host) ORDER BY r.doc_id""".stripMargin),

    // the frontier-seeding half of the robots surface: sitemap XML —
    // one urlset per host (odd hosts gzip-compressed, the common
    // .xml.gz form) plus one sitemapindex pointing at all of them, every
    // <loc> canonicalized through url_normalize on the way out. The
    // parser is the XXE-hardened DOM walk (DOCTYPE rejected outright —
    // sitemaps are attacker-controlled bytes). kind/loc/lastmod all
    // arithmetic-predicted.
    Contract("tx_sitemap_frontier", (s, dir) => {
      import s.implicits._
      val maps = docIds(s, dir)
        .groupByKey(_ % 20)
        .mapGroups { (k, it) =>
          val entries = it.toSeq.sorted.map { d =>
            (s"HTTP://Src$k.INVALID:80/page/$d?utm_source=map",
              Some(f"2026-01-${(d % 28) + 1}%02d"))
          }
          graft.operators.Multimodal.MediaRecord(k, s"fake://sitemap/$k.xml",
            "application/xml",
            graft.operators.Sitemaps.write(entries, gzipped = k % 2 == 1), Map.empty)
        }
      val index = s.createDataset(Seq(
        graft.operators.Multimodal.MediaRecord(100L, "fake://sitemap/index.xml",
          "application/xml",
          graft.operators.Sitemaps.write(
            (0L until 20L).map(k => (s"http://src$k.invalid/sitemap.xml.gz",
              None: Option[String])),
            index = true), Map.empty)))
      maps.union(index)
        .flatMap(r => graft.operators.Sitemaps.parse(r.content)
          .map(e => (e.kind, e.loc, e.lastmod)))
        .toDF("kind", "loc", "lastmod")
        .select(col("kind"),
          graft.operators.TextAnalysis.urlNormalize(col("loc")).as("loc_canonical"),
          col("lastmod"))
        .orderBy(col("loc_canonical"))
    },
      """SELECT * FROM (
        |  SELECT 'url' AS kind,
        |    'http://src' || (doc_id % 20) || '.invalid/page/' || doc_id AS loc_canonical,
        |    '2026-01-' || lpad(CAST((doc_id % 28) + 1 AS VARCHAR), 2, '0') AS lastmod
        |  FROM documents
        |  UNION ALL
        |  SELECT DISTINCT 'sitemap',
        |    'http://src' || (doc_id % 20) || '.invalid/sitemap.xml.gz',
        |    CAST(NULL AS VARCHAR)
        |  FROM documents
        |) ORDER BY loc_canonical""".stripMargin),

    // THE REFINE CAPSTONE — the full Common-Crawl front half in one
    // oracled query, composing five round-8 operators over a corpus
    // that is deliberately messy on every axis: WARC explode (half the
    // archives gzipped) -> charset decode from the HTTP Content-Type
    // (five byte shapes incl. invalid utf-8) -> url_normalize (case
    // games, default ports, tracking params, fragments) -> host-grain
    // robots gate (every RFC 9309 precedence rule) -> per-doc verdict
    // row. Every column — canonical URL, charset, clean flag, robots
    // verdict, decoded-text md5 — is DuckDB-predicted arithmetic.
    Contract("tx_warc_refine", (s, dir) => {
      import s.implicits._
      val caps = graft.operators.Ingest.ingestWarc(
        graft.operators.Ingest.refineArchivesFromDocuments(s, dir))
      val decoded = caps
        .filter(col("warc_type") === "response" && col("http_status") === 200)
        .select(col("url"), col("http_content_type"), col("body"))
        .as[(String, String, Array[Byte])]
        .map { case (url, ct, body) =>
          val d = graft.operators.Charsets.decode(body, ct)
          (url, d.charset, d.clean, d.text)
        }
        .toDF("url", "charset", "clean", "text")
      val canon = decoded
        .withColumn("url_canonical",
          graft.operators.TextAnalysis.urlNormalize(col("url")))
        .withColumn("host", parse_url(col("url_canonical"), lit("HOST")))
        .withColumn("path", parse_url(col("url_canonical"), lit("PATH")))
      val robotsEven = "# corpus robots\nUser-agent: graftbot\nDisallow: /private/\n" +
        "Allow: /private/open/\nDisallow: /*.tmp$\n\nUser-agent: *\nDisallow: /\n"
      val robotsOdd = "User-agent: otherbot\nDisallow: /\n\n" +
        "User-agent: *\nDisallow: /files/\nAllow: /files/*.txt$\n"
      // the robots dim is its OWN host-grain table (a real pipeline gets
      // it from the robots fetcher) — one pruned scan + tiny distinct,
      // NOT a re-run of the decode pipeline just to list hosts
      val robots = t(s, dir, "documents")
        .select((col("doc_id") % 20).as("k")).distinct()
        .select(concat(lit("src"), col("k"), lit(".invalid")).as("host"),
          when(col("k") % 2 === 0, lit(robotsEven))
            .otherwise(lit(robotsOdd)).as("robots_txt"))
      canon.join(broadcast(robots), Seq("host"))
        .select(
          regexp_extract(col("path"), "(\\d+)", 1).cast("long").as("doc_id"),
          col("url_canonical"), col("charset"), col("clean"),
          graft.operators.TextAnalysis.robotsAllowed(
            col("robots_txt"), lit("graftbot"), col("path")).as("allowed"),
          md5(col("text")).as("text_md5"))
        .orderBy(col("doc_id"))
    },
      // the refine capstone replayed end to end: canonical URL, charset,
      // clean flag, robots verdict (host parity == doc parity), text md5
      """SELECT doc_id,
        |  'http://src' || (doc_id % 20) || '.invalid' ||
        |  CASE doc_id % 5
        |    WHEN 0 THEN '/public/' || doc_id
        |    WHEN 1 THEN '/private/' || doc_id
        |    WHEN 2 THEN '/private/open/' || doc_id
        |    WHEN 3 THEN '/files/' || doc_id || '.tmp'
        |    ELSE '/files/' || doc_id || '.txt'
        |  END || '?a=1&b=2' AS url_canonical,
        |  CASE doc_id % 5 WHEN 1 THEN 'utf-16le' WHEN 2 THEN 'iso-8859-1'
        |    WHEN 4 THEN 'windows-1252' ELSE 'utf-8' END AS charset,
        |  doc_id % 5 != 4 AS clean,
        |  CASE WHEN doc_id % 2 = 0 THEN doc_id % 5 IN (0, 2, 4)
        |       ELSE doc_id % 5 != 3 END AS allowed,
        |  CASE WHEN doc_id % 5 = 4 THEN md5(text || '€' || chr(129))
        |    ELSE md5(text) END AS text_md5
        |FROM documents ORDER BY doc_id""".stripMargin),

    // redirect-chain resolution: every 3xx capture resolved to the URL
    // its chain lands on — final / resolved (k hops) / dangling (chain
    // leaves the crawl) / loop (cycle or > maxHops), all four outcomes
    // first-class. The constructed graph has 2-hop chains, self-loops,
    // and out-of-crawl targets; boundary docs (targets past max doc_id)
    // become danglings, and the oracle predicts those too.
    Contract("tx_redirect_resolve", (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"))
      def u(c: org.apache.spark.sql.Column) = concat(lit("http://c.invalid/"), c)
      val m6 = col("doc_id") % 6
      val pages = d.select(col("doc_id"), u(col("doc_id")).as("url"),
        m6.isin(0, 1, 2, 5).as("is_redirect"),
        when(m6 === 0, u(col("doc_id") + 1))
          .when(m6 === 1, u(col("doc_id") + 2))
          .when(m6 === 2, u(col("doc_id"))) // self-loop
          .when(m6 === 5, concat(lit("http://gone.invalid/"), col("doc_id")))
          .otherwise(lit(null)).as("location"))
      graft.operators.Redirects.resolve(pages, "url", "is_redirect", "location")
        .join(pages.select(col("doc_id"), col("url")), Seq("url"))
        .select(col("doc_id"), col("url"), col("status"),
          col("resolved_url"), col("hops"))
        .orderBy(col("doc_id"))
    },
      // chain replay by construction: %6==0 docs hop through %6==1 to the
      // %6==3 final two ids on; targets past max(doc_id) dangle
      """WITH m AS (SELECT MAX(doc_id) AS mx FROM documents)
        |SELECT doc_id, 'http://c.invalid/' || doc_id AS url,
        |  CASE doc_id % 6
        |    WHEN 0 THEN CASE WHEN doc_id + 3 > mx THEN 'dangling' ELSE 'resolved' END
        |    WHEN 1 THEN CASE WHEN doc_id + 2 > mx THEN 'dangling' ELSE 'resolved' END
        |    WHEN 2 THEN 'loop'
        |    WHEN 5 THEN 'dangling'
        |    ELSE 'final' END AS status,
        |  CASE doc_id % 6
        |    WHEN 0 THEN 'http://c.invalid/' ||
        |      (CASE WHEN doc_id + 1 > mx THEN doc_id + 1 ELSE doc_id + 3 END)
        |    WHEN 1 THEN 'http://c.invalid/' || (doc_id + 2)
        |    WHEN 2 THEN NULL
        |    WHEN 5 THEN 'http://gone.invalid/' || doc_id
        |    ELSE 'http://c.invalid/' || doc_id END AS resolved_url,
        |  CAST(CASE doc_id % 6
        |    WHEN 0 THEN CASE WHEN doc_id + 1 > mx THEN 1 ELSE 2 END
        |    WHEN 1 THEN 1
        |    WHEN 2 THEN NULL
        |    WHEN 5 THEN 1
        |    ELSE 0 END AS BIGINT) AS hops
        |FROM documents, m ORDER BY doc_id""".stripMargin),

    // the charset seam between "HTTP gave us bytes" and every text
    // operator: BOMs (stripped, and they beat a lying declaration),
    // declared charsets through the JVM alias table, strict UTF-8
    // sniffing, and a TOTAL WHATWG windows-1252 fallback that can never
    // fail — undecodable rows come back clean=false instead of killing
    // tasks. Five byte-level constructions (utf-8 BOM, utf-16le BOM,
    // declared latin-1, bare utf-8, invalid utf-8), every decoded text
    // md5-pinned by the oracle.
    Contract("tx_charset_decode", (s, dir) => {
      import s.implicits._
      val d = t(s, dir, "documents").select(col("doc_id"), col("text")).as[(Long, String)]
      d.map { case (id, text) =>
        val (body, ct) = (id % 5) match {
          case 0 => (Array(0xef, 0xbb, 0xbf).map(_.toByte) ++ text.getBytes("UTF-8"),
            "text/html")
          case 1 => (Array(0xff, 0xfe).map(_.toByte) ++ text.getBytes("UTF-16LE"),
            "text/html")
          case 2 => (text.getBytes("ISO-8859-1"), "text/html; charset=ISO-8859-1")
          case 3 => (text.getBytes("UTF-8"), "text/html")
          case _ => (text.getBytes("UTF-8") ++ Array(0x80, 0x81).map(_.toByte),
            "text/html") // invalid utf-8 tail -> windows-1252 fallback
        }
        val dec = graft.operators.Charsets.decode(body, ct)
        (id, dec.charset, dec.clean, dec.text)
      }.toDF("doc_id", "charset", "clean", "text")
        .select(col("doc_id"), col("charset"), col("clean"),
          md5(col("text")).as("text_md5"))
        .orderBy(col("doc_id"))
    },
      // the windows-1252 fallback decodes the appended 0x80 0x81 to the
      // euro sign and U+0081 (WHATWG table); everything else round-trips
      """SELECT doc_id,
        |  CASE doc_id % 5 WHEN 1 THEN 'utf-16le' WHEN 2 THEN 'iso-8859-1'
        |    WHEN 4 THEN 'windows-1252' ELSE 'utf-8' END AS charset,
        |  doc_id % 5 != 4 AS clean,
        |  CASE WHEN doc_id % 5 = 4 THEN md5(text || '€' || chr(129))
        |    ELSE md5(text) END AS text_md5
        |FROM documents ORDER BY doc_id""".stripMargin),

    // WET derivation (Common Crawl's text-extraction companion format):
    // WARC crawl archives -> one `conversion` record per HTTP response,
    // WARC-Refers-To linking back to the capture, non-response records
    // dropped — then the WET archives are RE-INGESTED and every
    // conversion's text md5-pinned against the source documents. Map-only
    // archive-in/archive-out on the same grain: WET layout mirrors WARC
    // layout, zero shuffles beyond the demo corpus construction.
    Contract("tx_warc_wet", (s, dir) => {
      val ing = graft.operators.Ingest
      ing.ingestWarc(ing.toWet(ing.warcArchivesFromDocuments(s, dir)))
        .select(col("archive_id"), col("url"), col("warc_type"),
          col("content_length").as("text_len"), md5(col("body")).as("text_md5"))
        .orderBy(col("url"))
    },
      """SELECT doc_id // 16 AS archive_id,
        |  'http://corpus.invalid/' || source || '/' || doc_id AS url,
        |  'conversion' AS warc_type,
        |  strlen(text) AS text_len,
        |  md5(text) AS text_md5
        |FROM documents ORDER BY url""".stripMargin),

    // WAT derivation — the third Common-Crawl companion (CDX index, WET
    // text, WAT metadata/OUTLINKS) and the crawl's frontier-GROWTH input:
    // HTML captures -> one metadata record per response whose JSON body
    // carries the page's <a href> targets, extracted by the single-pass
    // scanner, <base href>-rebased, RFC 3986-resolved, entity-decoded,
    // and url_normalize'd. The demo pages exercise every rule (relative /
    // absolute-path / cross-host / unquoted-attr / dot-segment links kept;
    // comment, fragment-only, mailto:, javascript:, and in-script links
    // dropped) — the oracle predicts every (doc, position, url) edge from
    // doc_id arithmetic. The WAT archives are RE-INGESTED through the
    // normal WARC path before exploding, so the round trip is pinned too.
    Contract("tx_warc_wat", (s, dir) => {
      val ing = graft.operators.Ingest
      val wat = ing.ingestWarc(ing.toWat(ing.watArchivesFromDocuments(s, dir)))
      wat.toDF()
        .filter(col("warc_type") === "metadata")
        .select(col("url").as("src_url"),
          from_json(col("body").cast("string"),
            org.apache.spark.sql.types.StructType.fromDDL(
              "url string, outlinks array<string>")).as("j"))
        .select(col("src_url"), posexplode(col("j.outlinks")).as(Seq("pos", "dst_url")))
        .select(
          regexp_extract(col("src_url"), "/page/(\\d+)", 1).cast("long").as("doc_id"),
          (col("pos") + 1).cast("long").as("position"),
          col("dst_url"))
        .orderBy(col("doc_id"), col("position"))
    },
      // every kept link of every page, predicted from the watPage arithmetic:
      // positions 1-7 are (d+1 same host, d+2 sibling via <base>, 3d+5
      // cross-host normalized, d+3 unquoted+entity with sorted query, 7d+3
      // cross-host, d+11 https cross-host, d+4 dot-segment dir)
      """WITH d AS (SELECT doc_id, doc_id % 20 AS k FROM documents)
        |SELECT doc_id, position, dst_url FROM (
        |  SELECT doc_id, CAST(1 AS BIGINT) AS position,
        |    'http://src' || k || '.invalid/page/' || (doc_id + 1) AS dst_url FROM d
        |  UNION ALL SELECT doc_id, 2,
        |    'http://src' || k || '.invalid/page/' || (doc_id + 2) || '.html' FROM d
        |  UNION ALL SELECT doc_id, 3,
        |    'http://src' || ((3 * doc_id + 5) % 20) || '.invalid/page/' ||
        |    (3 * doc_id + 5) || '?a=1&b=2' FROM d
        |  UNION ALL SELECT doc_id, 4,
        |    'http://src' || k || '.invalid/page/' || (doc_id + 3) || '?y=2&z=1' FROM d
        |  UNION ALL SELECT doc_id, 5,
        |    'http://src' || ((7 * doc_id + 3) % 20) || '.invalid/page/' ||
        |    (7 * doc_id + 3) FROM d
        |  UNION ALL SELECT doc_id, 6,
        |    'https://src' || ((doc_id + 11) % 20) || '.invalid/page/' ||
        |    (doc_id + 11) FROM d
        |  UNION ALL SELECT doc_id, 7,
        |    'http://src' || k || '.invalid/page/' || (doc_id + 4) || '/' FROM d
        |) ORDER BY doc_id, position""".stripMargin),

    // cross-crawl dedup via WARC revisit records (ISO 28500 §6.7.2, the
    // Common-Crawl mechanism): epoch B's captures join the epoch-A digest
    // index on url — unchanged pages become body-less `revisit` verdicts
    // pointing at the prior record id, changed pages re-store, pages A
    // never crawled (the index filter drops doc_id%5==4) are `new`. Every
    // verdict, refers-to, and stored-byte count is doc_id arithmetic
    // (epoch B amends every 3rd body with ' v2' -> +3 bytes).
    Contract("tx_warc_revisit", (s, dir) => {
      val ing = graft.operators.Ingest
      // a real pipeline reads the PREVIOUS crawl's committed index; the
      // demo filters epoch A's to simulate never-crawled urls
      val prevIdx = ing.revisitIndex(ing.warcArchivesFromDocuments(s, dir))
        .filter(regexp_extract(col("url"), "(\\d+)$", 1).cast("long") % 5 =!= 4)
      val cur = ing.ingestWarc(ing.warcArchivesFromDocuments(s, dir, bodyV2Every = 3))
      ing.revisitVerdicts(cur, prevIdx)
        .withColumn("doc_id", regexp_extract(col("url"), "(\\d+)$", 1).cast("long"))
        .select(col("doc_id"), col("url"), col("verdict"),
          col("refers_to"), col("stored_bytes"))
        .orderBy(col("doc_id"))
    },
      // revisit verdicts replayed from the epoch rules: %5==4 never in the
      // prev index -> new; %3==0 amended body (+3 bytes) -> response; else
      // unchanged -> revisit with 0 stored bytes and the prior record id
      """SELECT doc_id,
        |  'http://corpus.invalid/' || source || '/' || doc_id AS url,
        |  CASE WHEN doc_id % 5 = 4 THEN 'new'
        |       WHEN doc_id % 3 = 0 THEN 'response'
        |       ELSE 'revisit' END AS verdict,
        |  CASE WHEN doc_id % 5 <> 4 AND doc_id % 3 <> 0
        |       THEN '<urn:graft:resp:' || doc_id || '>' END AS refers_to,
        |  CASE WHEN doc_id % 5 <> 4 AND doc_id % 3 <> 0 THEN 0
        |       WHEN doc_id % 3 = 0 THEN strlen(text) + 3
        |       ELSE strlen(text) END AS stored_bytes
        |FROM documents ORDER BY doc_id""".stripMargin),

    // recrawl-rate estimation (Cho & Garcia-Molina): four consecutive
    // re-crawl epochs run through the REAL revisit machinery (epoch e's
    // captures vs epoch e-1's digest index), verdicts unioned, change
    // frequency + integer recrawl interval per url. The corpus rule —
    // a doc mutates at epoch e iff (doc_id + e) % 3 == 0 — makes every
    // count/permille/interval DuckDB arithmetic: docs with doc_id%3==2
    // change twice (e=1,4), the rest once.
    Contract("tx_recrawl_rate", (s, dir) => {
      val ing = graft.operators.Ingest
      // epochs 1-3 are each consumed twice (current side of round e, prev
      // side of round e+1). r14 tried an eager localCheckpoint (fabricate
      // once, store the blobs) — measured SLOWER; r15 instead derives all
      // four rounds from ONE epoch-stamped digest pass + a lag window
      // (revisitVerdictsOverEpochs): 5 archive passes instead of 8, one
      // digest exchange instead of 4 index joins, nothing stored.
      val epochs = (0 to 4).map(e => ing.recrawlArchives(s, dir, e))
      val verdicts = ing.revisitVerdictsOverEpochs(epochs)
        .select(col("url"), col("verdict"))
      ing.changeRate(verdicts, epochs = 4)
        .withColumn("doc_id", regexp_extract(col("url"), "(\\d+)$", 1).cast("long"))
        .select(col("doc_id"), col("changed_count"),
          col("change_permille"), col("interval_days"))
        .orderBy(col("doc_id"))
    },
      // change counts from the mutation rule: e in 1..4 with (d+e)%3==0 —
      // two epochs for d%3==2 (e=1,4), one otherwise
      """SELECT doc_id,
        |  CAST(CASE WHEN doc_id % 3 = 2 THEN 2 ELSE 1 END AS BIGINT) AS changed_count,
        |  CAST(CASE WHEN doc_id % 3 = 2 THEN 500 ELSE 250 END AS BIGINT) AS change_permille,
        |  CAST(CASE WHEN doc_id % 3 = 2 THEN 9 ELSE 14 END AS BIGINT) AS interval_days
        |FROM documents ORDER BY doc_id""".stripMargin),

    // the two recrawl signals JOINED into one fetch priority — the pair
    // tx_recrawl_rate and tx_sitemap_frontier left unconnected: per-url
    // Cho/Garcia-Molina intervals from the 4-epoch revisit history meet
    // sitemap <lastmod> (REAL sitemap bytes, odd sites gzipped, parsed
    // back through the XXE-hardened walk), age = days since lastmod at
    // the day-28 epoch close, priority = age in permille of the change
    // interval, due = age >= interval, and a per-site stalest-first
    // window orders the fetch queue. All integer arithmetic; DuckDB
    // replays signal derivation, the join, and the window. Scale shape:
    // url-grain join (rates and sitemap entries share the url key), one
    // site-partitioned window — never a global sort.
    Contract("tx_recrawl_priority", (s, dir) => {
      import s.implicits._
      val ing = graft.operators.Ingest
      // single-pass multi-epoch verdicts — see tx_recrawl_rate (r15)
      val epochs = (0 to 4).map(e => ing.recrawlArchives(s, dir, e))
      val verdicts = ing.revisitVerdictsOverEpochs(epochs)
        .select(col("url"), col("verdict"))
      val rates = ing.changeRate(verdicts, epochs = 4)
      val maps = t(s, dir, "documents").select(col("source"), col("doc_id"))
        .as[(String, Long)]
        .groupByKey(_._1)
        .mapGroups { (src, it) =>
          val entries = it.map(_._2).toSeq.sorted.map { d =>
            (s"http://corpus.invalid/$src/$d",
              Some(f"2026-01-${(d % 28) + 1}%02d"): Option[String])
          }
          val k = src.stripPrefix("src").toLong
          graft.operators.Multimodal.MediaRecord(k, s"fake://sm/$src.xml",
            "application/xml",
            graft.operators.Sitemaps.write(entries, gzipped = k % 2 == 1),
            Map.empty)
        }
      val lastmod = maps
        .flatMap(r => graft.operators.Sitemaps.parse(r.content)
          .flatMap(e => e.lastmod.map(lm => (e.loc, lm))))
        .toDF("url", "lastmod")
        .select(col("url"),
          regexp_extract(col("lastmod"), "-(\\d+)$", 1).cast("long")
            .as("lastmod_day"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source"))
        .orderBy(col("priority_permille").desc, col("doc_id").asc)
      rates.join(lastmod, Seq("url"))
        .withColumn("doc_id", regexp_extract(col("url"), "(\\d+)$", 1).cast("long"))
        .withColumn("source", regexp_extract(col("url"), "invalid/([^/]+)/", 1))
        .withColumn("age_days", lit(28L) - col("lastmod_day"))
        .withColumn("priority_permille", expr("age_days * 1000 div interval_days"))
        .withColumn("due", col("age_days") >= col("interval_days"))
        .withColumn("position", row_number().over(w).cast("long"))
        .select(col("doc_id"), col("source"), col("lastmod_day"), col("age_days"),
          col("changed_count"), col("interval_days"), col("priority_permille"),
          col("due"), col("position"))
        .orderBy(col("doc_id"))
    },
      // both signals replayed from arithmetic (change interval from the
      // id%3 mutation rule, lastmod day from id%28), then the join, the
      // priority division, and the per-site stalest-first window
      """WITH d AS (SELECT doc_id, source,
        |    CAST(CASE WHEN doc_id % 3 = 2 THEN 2 ELSE 1 END AS BIGINT) AS changed_count,
        |    CAST(CASE WHEN doc_id % 3 = 2 THEN 9 ELSE 14 END AS BIGINT) AS interval_days,
        |    CAST((doc_id % 28) + 1 AS BIGINT) AS lastmod_day
        |  FROM documents),
        |q AS (SELECT doc_id, source, lastmod_day,
        |    CAST(28 - lastmod_day AS BIGINT) AS age_days,
        |    changed_count, interval_days,
        |    CAST((28 - lastmod_day) * 1000 // interval_days AS BIGINT)
        |      AS priority_permille,
        |    (28 - lastmod_day) >= interval_days AS due
        |  FROM d)
        |SELECT doc_id, source, lastmod_day, age_days, changed_count,
        |  interval_days, priority_permille, due,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY source
        |    ORDER BY priority_permille DESC, doc_id ASC) AS BIGINT) AS position
        |FROM q ORDER BY doc_id""".stripMargin),

    // rank × recrawl FETCH-ORDER capstone — the seam tx_crawl_plan and
    // tx_recrawl_priority left open: the epoch plan selected by raw
    // staleness, ignoring what the revisit history KNOWS about how fast
    // each page changes. Here the selection key is the change-aware
    // priority (age × 1000 div interval), so under the same per-host
    // budget the planner prefers known-fast-changing pages: a 9-day-
    // interval page outranks a 14-day page of equal age. Change
    // intervals come from the REAL 4-epoch revisit machinery
    // (Cho/Garcia-Molina, as tx_recrawl_rate), lastmod ages from REAL
    // sitemap bytes (as tx_recrawl_priority), per-host budgets from the
    // rank apportionment (as tx_crawl_plan) — every value is DuckDB
    // arithmetic. Scale shape: url-grain joins on the shared doc key,
    // ONE host-partitioned window under a broadcast budget dim — never
    // a global frontier sort.
    Contract("tx_fetch_order", (s, dir) => {
      import s.implicits._
      val ing = graft.operators.Ingest
      // single-pass multi-epoch verdicts — see tx_recrawl_rate (r15)
      val epochs = (0 to 4).map(e => ing.recrawlArchives(s, dir, e))
      val verdicts = ing.revisitVerdictsOverEpochs(epochs)
        .select(col("url"), col("verdict"))
      val rates = ing.changeRate(verdicts, epochs = 4)
        .select(regexp_extract(col("url"), "(\\d+)$", 1).cast("long")
          .as("doc_id"), col("interval_days"))
      val maps = t(s, dir, "documents").select(col("source"), col("doc_id"))
        .as[(String, Long)]
        .groupByKey(_._1)
        .mapGroups { (src, it) =>
          val entries = it.map(_._2).toSeq.sorted.map { d =>
            (s"http://corpus.invalid/$src/$d",
              Some(f"2026-01-${(d % 28) + 1}%02d"): Option[String])
          }
          val k = src.stripPrefix("src").toLong
          graft.operators.Multimodal.MediaRecord(k, s"fake://sm/$src.xml",
            "application/xml",
            graft.operators.Sitemaps.write(entries, gzipped = k % 2 == 1),
            Map.empty)
        }
      val lastmod = maps
        .flatMap(r => graft.operators.Sitemaps.parse(r.content)
          .flatMap(e => e.lastmod.map(lm => (e.loc, lm))))
        .toDF("url", "lastmod")
        .select(
          regexp_extract(col("url"), "(\\d+)$", 1).cast("long").as("doc_id"),
          regexp_extract(col("lastmod"), "-(\\d+)$", 1).cast("long")
            .as("lastmod_day"))
      val pages = docIds(s, dir)
        .map(id => graft.operators.Ingest.watPage(id))
        .toDF("url", "html")
      val links = pages.select(col("url"),
          explode(graft.operators.TextAnalysis.htmlOutlinks(
            col("html"), col("url"))).as("raw_dst"))
        .select(col("url"),
          graft.operators.TextAnalysis.urlNormalize(col("raw_dst")).as("dst"))
      val edges = graft.operators.LinkGraph.hostEdges(links, "url", "dst")
      val ranked = graft.operators.LinkGraph
        .rankHosts(edges, "src_host", "dst_host", iters = 3)
        .withColumn("shard",
          regexp_extract(col("host"), "src(\\d+)", 1).cast("long") % 4)
        .select(col("host"), col("shard"), col("rank"))
      val budgets = graft.operators.LinkGraph
        .allocateBudget(ranked, "host", "rank", "shard", total = 300L)
      val urls = t(s, dir, "documents")
        .select(col("doc_id"),
          concat(lit("src"), col("doc_id") % 20, lit(".invalid")).as("host"))
        .join(rates, Seq("doc_id"))
        .join(lastmod, Seq("doc_id"))
        .withColumn("age_days", lit(28L) - col("lastmod_day"))
        .withColumn("priority_permille",
          expr("age_days * 1000 div interval_days"))
        .withColumn("due", col("age_days") >= col("interval_days"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("host"))
        .orderBy(col("priority_permille").desc, col("doc_id").asc)
      urls
        .withColumn("rn", row_number().over(w))
        .join(broadcast(budgets.select(col("host"), col("rank"), col("alloc"))),
          Seq("host"))
        .filter(col("rn") <= col("alloc"))
        .groupBy(col("host"))
        .agg(max(col("rank")).as("rank"), max(col("alloc")).as("alloc"),
          count(lit(1)).as("n_selected"),
          sum(col("doc_id")).as("id_sum"),
          max(col("priority_permille")).as("top_priority"),
          sum(when(col("due"), 1L).otherwise(0L)).as("n_due"),
          sum(when(col("interval_days") === 9, 1L).otherwise(0L)).as("n_fast"))
        .withColumn("fetcher",
          graft.operators.Sampling.rendezvousShard(col("host"), 4))
        .select(col("host"), col("rank"), col("alloc"), col("n_selected"),
          col("id_sum"), col("top_priority"), col("n_due"), col("n_fast"),
          col("fetcher"))
        .orderBy(col("host"))
    },
      // the change-aware epoch plan replayed end-to-end: the same rank +
      // 300-page apportionment as tx_crawl_plan, but selection keyed by
      // age×1000 // interval (interval from the id%3 mutation rule as
      // tx_recrawl_rate, lastmod day from id%28 as tx_recrawl_priority) —
      // membership pinned by id_sum, fast-changer preference by n_fast
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
        |budget AS (SELECT host, rank,
        |    CAST((bs * cw // ws) - (bs * (cw - rank) // ws) AS BIGINT) AS alloc
        |  FROM cum),
        |urls AS (SELECT doc_id, doc_id % 20 AS k,
        |    CAST(CASE WHEN doc_id % 3 = 2 THEN 9 ELSE 14 END AS BIGINT)
        |      AS interval_days,
        |    CAST((doc_id % 28) + 1 AS BIGINT) AS lastmod_day
        |  FROM documents),
        |q AS (SELECT doc_id, k, interval_days,
        |    CAST(28 - lastmod_day AS BIGINT) AS age_days,
        |    CAST((28 - lastmod_day) * 1000 // interval_days AS BIGINT)
        |      AS priority_permille,
        |    (28 - lastmod_day) >= interval_days AS due
        |  FROM urls),
        |rn AS (SELECT q.*, ROW_NUMBER() OVER (PARTITION BY k
        |    ORDER BY priority_permille DESC, doc_id ASC) AS rn FROM q),
        |sel AS (SELECT rn.k, rn.doc_id, rn.priority_permille, rn.due,
        |    rn.interval_days, b.rank, b.alloc
        |  FROM rn JOIN budget b ON b.host = 'src' || rn.k || '.invalid'
        |  WHERE rn.rn <= b.alloc),
        |agg AS (SELECT k, MAX(rank) AS rank, MAX(alloc) AS alloc,
        |    COUNT(*) AS n_selected, CAST(SUM(doc_id) AS BIGINT) AS id_sum,
        |    MAX(priority_permille) AS top_priority,
        |    CAST(SUM(CASE WHEN due THEN 1 ELSE 0 END) AS BIGINT) AS n_due,
        |    CAST(SUM(CASE WHEN interval_days = 9 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_fast
        |  FROM sel GROUP BY k),
        |hrw AS (SELECT host, s, MD5(host || ':' || CAST(s AS VARCHAR)) AS hh
        |  FROM (SELECT DISTINCT 'src' || k || '.invalid' AS host FROM agg),
        |    UNNEST(GENERATE_SERIES(0, 3)) AS t(s)),
        |f AS (SELECT host, ARG_MAX(s, hh) AS fetcher FROM hrw GROUP BY host)
        |SELECT 'src' || agg.k || '.invalid' AS host, agg.rank, agg.alloc,
        |  agg.n_selected, agg.id_sum, agg.top_priority, agg.n_due, agg.n_fast,
        |  f.fetcher
        |FROM agg JOIN f ON f.host = 'src' || agg.k || '.invalid'
        |ORDER BY host""".stripMargin),

    // the FRONTIER-GROWTH capstone — the seam the r8 verdict said was
    // missing now closed end-to-end: outlinks DISCOVER urls (the real
    // extractor over the crawl pages), an anti-join against the crawl's
    // known canonical set keeps only genuinely NEW ones (frontier
    // growth, not reordering), the host-grain broadcast robots dim
    // gates them (numeric-suffix rules so DuckDB replays the verdict:
    // even hosts block /page/*0$, odd hosts block /page/*5$ for the
    // fallback group), and md5-HRW assigns each host to a fetcher. Per
    // host: new-URL count, robots-allowed count, fetcher — every value
    // arithmetic. Scale shape: map-only extract, 8-byte-ish URL rows
    // into one shuffle for the anti-join, host-grain dim broadcast,
    // host-grain aggregate.
    Contract("tx_frontier_growth", (s, dir) => {
      import s.implicits._
      val pages = docIds(s, dir)
        .map(id => graft.operators.Ingest.watPage(id))
        .toDF("url", "html")
      val discovered = pages
        .select(explode(graft.operators.TextAnalysis.htmlOutlinks(
          col("html"), col("url"))).as("raw"))
        .select(graft.operators.TextAnalysis.urlNormalize(col("raw")).as("url"))
        .distinct()
      // the known set from its OWN pruned scan (the dim-table lesson)
      val known = t(s, dir, "documents")
        .select(concat(lit("http://src"), col("doc_id") % 20,
          lit(".invalid/page/"), col("doc_id")).as("url"))
      val fresh = discovered.join(known, Seq("url"), "left_anti")
      val robotsEven = "User-agent: graftbot\nDisallow: /page/*0$\n\n" +
        "User-agent: *\nDisallow: /\n"
      val robotsOdd = "User-agent: otherbot\nDisallow: /\n\n" +
        "User-agent: *\nDisallow: /page/*5$\n"
      val robots = t(s, dir, "documents")
        .select((col("doc_id") % 20).as("k")).distinct()
        .select(concat(lit("src"), col("k"), lit(".invalid")).as("host"),
          when(col("k") % 2 === 0, lit(robotsEven))
            .otherwise(lit(robotsOdd)).as("robots_txt"))
      fresh
        .withColumn("host", parse_url(col("url"), lit("HOST")))
        .withColumn("path", parse_url(col("url"), lit("PATH")))
        .join(broadcast(robots), Seq("host"))
        .withColumn("allowed", graft.operators.TextAnalysis.robotsAllowed(
          col("robots_txt"), lit("graftbot"), col("path")))
        .groupBy(col("host"))
        .agg(count(lit(1)).as("n_new"),
          sum(when(col("allowed"), 1L).otherwise(0L)).as("n_allowed"))
        .withColumn("fetcher", graft.operators.Sampling.rendezvousShard(col("host"), 4))
        .select(col("host"), col("fetcher"), col("n_new"), col("n_allowed"))
        .orderBy(col("host"))
    },
      // the growth capstone replayed arithmetically: the 7 links per page
      // with known-set membership (only the bare cross-host pos-5 link can
      // be an existing doc), the numeric-suffix robots verdicts, the md5
      // HRW fetcher — all from doc_id
      """WITH d AS (SELECT doc_id AS d, doc_id % 20 AS k FROM documents),
        |links AS (
        |  SELECT k AS h, d + 1 AS id, TRUE AS bare, FALSE AS known FROM d
        |  UNION ALL SELECT k, d + 2, FALSE, FALSE FROM d
        |  UNION ALL SELECT (3 * d + 5) % 20, 3 * d + 5, TRUE, FALSE FROM d
        |  UNION ALL SELECT k, d + 3, TRUE, FALSE FROM d
        |  UNION ALL SELECT (7 * d + 3) % 20, 7 * d + 3, TRUE,
        |    7 * d + 3 IN (SELECT doc_id FROM documents) FROM d
        |  UNION ALL SELECT (d + 11) % 20, d + 11, TRUE, FALSE FROM d
        |  UNION ALL SELECT k, d + 4, FALSE, FALSE FROM d),
        |agg AS (
        |  SELECT 'src' || h || '.invalid' AS host,
        |    COUNT(*) AS n_new,
        |    CAST(SUM(CASE WHEN NOT bare THEN 1
        |                  WHEN h % 2 = 0 AND id % 10 = 0 THEN 0
        |                  WHEN h % 2 = 1 AND id % 10 = 5 THEN 0
        |                  ELSE 1 END) AS BIGINT) AS n_allowed
        |  FROM links WHERE NOT known GROUP BY h),
        |a AS (SELECT host, s, MD5(host || ':' || CAST(s AS VARCHAR)) AS hh
        |      FROM (SELECT DISTINCT host FROM agg),
        |        UNNEST(GENERATE_SERIES(0, 3)) AS t(s)),
        |w AS (SELECT host, ARG_MAX(s, hh) AS fetcher FROM a GROUP BY host)
        |SELECT agg.host, w.fetcher, agg.n_new, agg.n_allowed
        |FROM agg JOIN w USING (host) ORDER BY agg.host""".stripMargin),

    // host-level link graph over the WAT outlinks — the standard
    // Common-Crawl-style seed ranker. Page-level edges come out of the
    // REAL extractor (map-only over the demo pages), reduce to HOST grain
    // first (the tx_frontier_shard argument: iterate on the ~10^8-row
    // host graph, not the 100 TB edge stream), then 3 rounds of integer
    // damped contribution passing (rank*17 div 20 div out_deg — exact
    // arithmetic, so DuckDB replays every iteration bit-for-bit, which
    // float PageRank cannot). Degrees + final rank per host.
    Contract("tx_link_rank", (s, dir) => {
      import s.implicits._
      val pages = docIds(s, dir)
        .map(id => graft.operators.Ingest.watPage(id))
        .toDF("url", "html")
      val links = pages.select(col("url"),
          explode(graft.operators.TextAnalysis.htmlOutlinks(
            col("html"), col("url"))).as("raw_dst"))
        .select(col("url"),
          graft.operators.TextAnalysis.urlNormalize(col("raw_dst")).as("dst"))
      val edges = graft.operators.LinkGraph.hostEdges(links, "url", "dst")
      graft.operators.LinkGraph.rankHosts(edges, "src_host", "dst_host", iters = 3)
        .orderBy(col("host"))
    },
      // the host graph from the watPage cross-host rules (k -> (3k+5)%20,
      // (7k+3)%20, (k+11)%20; same-host links collapse to filtered
      // self-loops), then the 3 integer rank iterations unrolled — DuckDB's
      // `//` and Spark's `div` agree exactly on the positive ranks
      """WITH ks AS (SELECT DISTINCT doc_id % 20 AS k FROM documents),
        |e0 AS (
        |  SELECT k AS s, (3 * k + 5) % 20 AS t FROM ks
        |  UNION SELECT k, (7 * k + 3) % 20 FROM ks
        |  UNION SELECT k, (k + 11) % 20 FROM ks),
        |e AS (SELECT 'src' || s || '.invalid' AS src,
        |             'src' || t || '.invalid' AS dst FROM e0 WHERE s <> t),
        |deg AS (SELECT src, COUNT(*) AS out_deg FROM e GROUP BY src),
        |idg AS (SELECT dst, COUNT(*) AS in_deg FROM e GROUP BY dst),
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
        |       FROM n LEFT JOIN c3 ON c3.host = n.host)
        |SELECT n.host, COALESCE(deg.out_deg, 0) AS out_deg,
        |  COALESCE(idg.in_deg, 0) AS in_deg, r3.rank
        |FROM n LEFT JOIN deg ON deg.src = n.host
        |  LEFT JOIN idg ON idg.dst = n.host
        |  JOIN r3 ON r3.host = n.host
        |ORDER BY n.host""".stripMargin),

    // INCREMENTAL link-rank maintenance — the daily-crawl shape: the
    // stored host graph folds a sparse delta BOTH ways (hosts k%5==0 gain
    // an edge to k+13 — two genuinely new after dedup, the rest collide
    // with existing family edges; hosts k%4==0 LOSE their k+11 family
    // edge through mergeEdges' anti-join), and ranks warm-start from the
    // PREVIOUS epoch's converged vector, re-iterating only to the warm
    // horizon (6 rounds — the old vector sits near the new fixed point;
    // this is the operator's entire point vs a 20+-round cold rebuild).
    // The ORACLE REPLAYS THE EXACT WARM PATH: 8 cold iterations on the
    // old graph, the warm vector seeded from that terminal state, then 6
    // iterations on the merged graph — bit-equality holds by construction
    // at ANY horizon; the warm==cold fixed-point agreement proof lives in
    // LinkGraphSpec where it belongs. Scale shape: only the delta pays
    // page-grain extraction; prev ranks checkpoint once before
    // re-iterating.
    Contract("tx_link_rank_delta", (s, dir) => {
      import s.implicits._
      val pages = docIds(s, dir)
        .map(id => graft.operators.Ingest.watPage(id))
        .toDF("url", "html")
      val links = pages.select(col("url"),
          explode(graft.operators.TextAnalysis.htmlOutlinks(
            col("html"), col("url"))).as("raw_dst"))
        .select(col("url"),
          graft.operators.TextAnalysis.urlNormalize(col("raw_dst")).as("dst"))
      val oldEdges = graft.operators.LinkGraph.hostEdges(links, "url", "dst")
      // yesterday's epoch: ranks at the old graph's fixed point (it
      // converges at 6 — 8 is safely past)
      val prev = graft.operators.LinkGraph
        .rankHosts(oldEdges, "src_host", "dst_host", iters = 8)
        .select(col("host"), col("rank"))
      val ks = t(s, dir, "documents")
        .select((col("doc_id") % 20).as("k")).distinct()
      val adds = ks.filter(col("k") % 5 === 0)
        .select(concat(lit("src"), col("k"), lit(".invalid")).as("src_host"),
          concat(lit("src"), (col("k") + 13) % 20, lit(".invalid")).as("dst_host"))
      val removes = ks.filter(col("k") % 4 === 0)
        .select(concat(lit("src"), col("k"), lit(".invalid")).as("src_host"),
          concat(lit("src"), (col("k") + 11) % 20, lit(".invalid")).as("dst_host"))
      val merged = graft.operators.LinkGraph.mergeEdges(
        oldEdges, adds, removes, "src_host", "dst_host")
      graft.operators.LinkGraph
        .rankDelta(prev, "host", "rank", merged, "src_host", "dst_host", iters = 6)
        .orderBy(col("host"))
    },
      // the EXACT warm-path replay for the incremental ranker: 8 cold
      // iterations on the OLD graph (3 watPage families) -> that terminal
      // vector seeds w0 over the MERGED graph (families + the k%5==0 ->
      // k+13 adds, MINUS the k%4==0 -> k+11 removals, replaying
      // mergeEdges' anti-join) -> 6 warm iterations. Bit-equality with the
      // Spark run holds at any horizon because both sides run the same
      // integer map from the same start — no convergence assumption needed
      ("""WITH ks AS (SELECT DISTINCT doc_id % 20 AS k FROM documents),
        |e0 AS (
        |  SELECT k AS s, (3 * k + 5) % 20 AS t FROM ks
        |  UNION SELECT k, (7 * k + 3) % 20 FROM ks
        |  UNION SELECT k, (k + 11) % 20 FROM ks),
        |e AS MATERIALIZED (SELECT 'src' || s || '.invalid' AS src,
        |             'src' || t || '.invalid' AS dst FROM e0 WHERE s <> t),
        |deg AS MATERIALIZED (SELECT src, COUNT(*) AS out_deg FROM e GROUP BY src),
        |n AS MATERIALIZED (SELECT src AS host FROM e UNION SELECT dst FROM e),
        |r0 AS (SELECT host, CAST(1000000 AS BIGINT) AS rank FROM n),
        |""".stripMargin + rankIterCtes(1, 8) + """,
        |em0 AS (
        |  SELECT s, t FROM e0
        |  UNION SELECT k, (k + 13) % 20 FROM ks WHERE k % 5 = 0),
        |rm AS (SELECT k AS s, (k + 11) % 20 AS t FROM ks WHERE k % 4 = 0),
        |em AS MATERIALIZED (
        |  SELECT 'src' || s || '.invalid' AS src,
        |         'src' || t || '.invalid' AS dst
        |  FROM (SELECT s, t FROM em0 WHERE s <> t
        |        EXCEPT SELECT s, t FROM rm)),
        |degm AS MATERIALIZED (SELECT src, COUNT(*) AS out_deg FROM em GROUP BY src),
        |idgm AS (SELECT dst, COUNT(*) AS in_deg FROM em GROUP BY dst),
        |nm AS MATERIALIZED (SELECT src AS host FROM em UNION SELECT dst FROM em),
        |w0 AS (SELECT nm.host, COALESCE(r8.rank, CAST(1000000 AS BIGINT)) AS rank
        |       FROM nm LEFT JOIN r8 ON r8.host = nm.host),
        |""".stripMargin + rankIterCtes(1, 6, g = "m", rp = "w") + """
        |SELECT nm.host, COALESCE(degm.out_deg, 0) AS out_deg,
        |  COALESCE(idgm.in_deg, 0) AS in_deg, w6.rank
        |FROM nm LEFT JOIN degm ON degm.src = nm.host
        |  LEFT JOIN idgm ON idgm.dst = nm.host
        |  JOIN w6 ON w6.host = nm.host
        |ORDER BY nm.host""".stripMargin)),

    // anchor-text index over the WAT corpus: the REAL extractor pulls
    // (target, anchor text) pairs out of every page, targets normalize to
    // canonical URLs, and the host-grain aggregate is what other pages
    // CALL each host — the classic web-corpus relevance signal a plain
    // outlink edge list cannot provide. Every count and the sorted
    // distinct-label join are doc_id arithmetic (per-position labels are
    // constant). Scale shape: map-only extract, rows carry URLs + short
    // labels only (text capped at 256 cp), ONE host-grain aggregate.
    Contract("tx_anchor_text", (s, dir) => {
      import s.implicits._
      val pages = docIds(s, dir)
        .map(id => graft.operators.Ingest.watPage(id))
        .toDF("url", "html")
      pages
        .select(explode(graft.operators.TextAnalysis.htmlAnchors(
          col("html"), col("url"))).as("a"))
        .select(graft.operators.TextAnalysis.urlNormalize(col("a.url")).as("dst"),
          col("a.text").as("text"))
        .withColumn("host", parse_url(col("dst"), lit("HOST")))
        .groupBy(col("host"))
        // n_texts from the collected set, NOT countDistinct: one
        // aggregation pass / one exchange instead of the two-phase
        // distinct expansion
        .agg(count(lit(1)).as("n_links"),
          array_sort(collect_set(col("text"))).as("_texts"))
        .select(col("host"), col("n_links"),
          size(col("_texts")).cast("long").as("n_texts"),
          array_join(col("_texts"), "|").as("texts"))
        .orderBy(col("host"))
    },
      // the anchor labels are constant per link position; hosts follow the
      // watPage cross-host arithmetic — the per-host label set and counts
      // replay from doc_id alone
      """WITH d AS (SELECT doc_id AS d, doc_id % 20 AS k FROM documents),
        |links AS (
        |  SELECT k AS h, 'next' AS txt FROM d
        |  UNION ALL SELECT k, 'sibling' FROM d
        |  UNION ALL SELECT (3 * d + 5) % 20, 'cross one' FROM d
        |  UNION ALL SELECT k, 'unquoted' FROM d
        |  UNION ALL SELECT (7 * d + 3) % 20, 'cross two' FROM d
        |  UNION ALL SELECT (d + 11) % 20, 'cross three' FROM d
        |  UNION ALL SELECT k, 'dots' FROM d),
        |agg1 AS (SELECT h, COUNT(*) AS n_links FROM links GROUP BY h),
        |agg2 AS (SELECT h, COUNT(*) AS n_texts,
        |           string_agg(txt, '|' ORDER BY txt) AS texts
        |         FROM (SELECT DISTINCT h, txt FROM links) GROUP BY h)
        |SELECT 'src' || h || '.invalid' AS host, n_links, n_texts, texts
        |FROM agg1 JOIN agg2 USING (h) ORDER BY host""".stripMargin),

    // jusText-style boilerplate removal: html_blocks segments + measures,
    // the POLICY (link-density bad / length short / neighbor smoothing /
    // newline-joined main text) is declarative SQL in extractMainText —
    // so the DuckDB oracle replays classification AND the exact extracted
    // text. Pages: 6 blocks per doc — two all-link nav DIVs (bad), two
    // headings (short, promoted good by their good neighbor), two long
    // paragraphs of k = 20 + id%7 words (good; the first has one linked
    // word to exercise sub-threshold link density). Scale shape: map-only
    // segmentation, ONE hash exchange on doc_id shared by the smoothing
    // window and the reassembly aggregate.
    Contract("tx_boilerplate", (s, dir) => {
      import s.implicits._
      val pages = docIds(s, dir)
        .map(id => (id, graft.operators.Ingest.boilerplatePage(id)))
        .toDF("doc_id", "html")
      graft.operators.TextAnalysis.extractMainText(pages, "html", "doc_id")
        .orderBy(col("doc_id"))
    },
      // six blocks per page, all measurements doc_id arithmetic: nav divs
      // bad (link density 866/1000), headings short then promoted by their
      // good paragraph neighbor, k-word paragraphs good — the oracle
      // rebuilds the EXACT extracted text, not just the counts
      """WITH d AS (SELECT doc_id, 20 + doc_id % 7 AS k FROM documents)
        |SELECT doc_id,
        |  CAST(6 AS BIGINT) AS n_blocks,
        |  CAST(2 AS BIGINT) AS n_good_ctx,
        |  CAST(2 AS BIGINT) AS n_short_ctx,
        |  CAST(2 AS BIGINT) AS n_bad_ctx,
        |  CAST(4 AS BIGINT) AS n_good_final,
        |  CAST(2 * strlen('hdr ' || doc_id) + 4 + 2 * (6 * k - 1) AS BIGINT)
        |    AS main_chars,
        |  'hdr ' || doc_id || ' 1' || chr(10) || trim(repeat('lorem ', k)) ||
        |    chr(10) || 'hdr ' || doc_id || ' 4' || chr(10) ||
        |    trim(repeat('ipsum ', k)) AS main_text
        |FROM d ORDER BY doc_id""".stripMargin),

    // FULL jusText: the stopword-density signal joins link density —
    // keyword-stuffed long paragraphs (0 permille stopwords) reclassify
    // from good to bad, mid-density prose (200 permille) becomes
    // near_good and lives or dies by its neighbors, and a stopword-free
    // heading stub no longer rides the article beside it. Same single
    // doc_id exchange as tx_boilerplate; the stopword test is a
    // per-block scalar over the literal "en" profile.
    Contract("tx_boilerplate_stop", (s, dir) => {
      import s.implicits._
      val pages = docIds(s, dir)
        .map(id => (id, graft.operators.Ingest.stopwordPage(id)))
        .toDF("doc_id", "html")
      graft.operators.TextAnalysis.extractMainText(pages, "html", "doc_id",
        stopwords = graft.functions.TextStatsProfiles.stopwords("en"),
        stopLowPermille = 150, stopHighPermille = 400)
        .orderBy(col("doc_id"))
    },
      // full jusText replayed: eight blocks whose stopword densities are
      // word arithmetic (600 / 200 / 0 permille, h1 at 333, h2 at 0) —
      // kept text = h1 + article + the promoted near_good paragraph
      """WITH d AS (SELECT doc_id, 10 + doc_id % 5 AS k, 8 + doc_id % 3 AS k2
        |           FROM documents),
        |t2 AS (SELECT doc_id,
        |    'On widget reviews' || chr(10) ||
        |    rtrim(repeat('the cat and the dog ', k)) || chr(10) ||
        |    rtrim(repeat('green tea is fine here ', k2)) AS main_text,
        |    CAST(17 + (20 * k - 1) + (23 * k2 - 1) AS BIGINT) AS main_chars
        |  FROM d)
        |SELECT doc_id,
        |  CAST(8 AS BIGINT) AS n_blocks,
        |  CAST(1 AS BIGINT) AS n_good_ctx,
        |  CAST(2 AS BIGINT) AS n_near_ctx,
        |  CAST(1 AS BIGINT) AS n_short_ctx,
        |  CAST(4 AS BIGINT) AS n_bad_ctx,
        |  CAST(3 AS BIGINT) AS n_good_final,
        |  main_chars, main_text
        |FROM t2 ORDER BY doc_id""".stripMargin),

    // the frontier-growth anti-join at its 100 TB shape: the same
    // discovery stream as tx_frontier_growth, but the known-set check
    // routes through a Bloom prune — bloom-negative URLs (the bulk:
    // genuinely new) pass MAP-ONLY without shuffling, and only the
    // bloom-positive sliver pays the exact left_anti join. The result is
    // row-for-row the exact anti-join (the oracle proves it: same
    // arithmetic as tx_frontier_growth's n_new), the Bloom only routes.
    Contract("tx_frontier_bloom", (s, dir) => {
      import s.implicits._
      val pages = docIds(s, dir)
        .map(id => graft.operators.Ingest.watPage(id))
        .toDF("url", "html")
      val discovered = pages
        .select(explode(graft.operators.TextAnalysis.htmlOutlinks(
          col("html"), col("url"))).as("raw"))
        .select(graft.operators.TextAnalysis.urlNormalize(col("raw")).as("url"))
        .distinct()
      val known = t(s, dir, "documents")
        .select(concat(lit("http://src"), col("doc_id") % 20,
          lit(".invalid/page/"), col("doc_id")).as("url"))
      graft.operators.BloomTools
        .prunedAntiJoin(discovered, "url", known, "url",
          expectedItems = 1 << 17, fpp = 0.01)
        .withColumn("host", parse_url(col("url"), lit("HOST")))
        .groupBy(col("host"))
        .agg(count(lit(1)).as("n_new"))
        .orderBy(col("host"))
    },
      // the Bloom prune must not change the exact anti-join: n_new per host
      // is the same arithmetic as tx_frontier_growth's (only the bare pos-5
      // cross link can hit the known set)
      """WITH d AS (SELECT doc_id AS d, doc_id % 20 AS k FROM documents),
        |links AS (
        |  SELECT k AS h, FALSE AS known FROM d
        |  UNION ALL SELECT k, FALSE FROM d
        |  UNION ALL SELECT (3 * d + 5) % 20, FALSE FROM d
        |  UNION ALL SELECT k, FALSE FROM d
        |  UNION ALL SELECT (7 * d + 3) % 20,
        |    7 * d + 3 IN (SELECT doc_id FROM documents) FROM d
        |  UNION ALL SELECT (d + 11) % 20, FALSE FROM d
        |  UNION ALL SELECT k, FALSE FROM d)
        |SELECT 'src' || h || '.invalid' AS host, COUNT(*) AS n_new
        |FROM links WHERE NOT known GROUP BY h ORDER BY host""".stripMargin),

    // cross-host MIRROR detection, the digest-equality dedup Common Crawl
    // runs across hosts: the revisit digest index (the REAL machinery
    // tx_warc_revisit uses across epochs) grouped by payload digest —
    // groups spanning >= 2 hosts are mirror clusters, singleton content
    // must NOT be flagged. Content repeats by doc_id % 97 residue across
    // the 20 hosts (gcd 1 spreads each group), so group membership,
    // copy/host counts, and id_sum all replay from arithmetic. Scale
    // shape: digests are 16-byte keys off a map-only archive scan; ONE
    // digest-grain exchange, no body ever shuffles.
    Contract("tx_mirror_hosts", (s, dir) => {
      val ing = graft.operators.Ingest
      ing.revisitIndex(ing.mirrorArchives(s, dir))
        .withColumn("doc_id", regexp_extract(col("url"), "(\\d+)$", 1).cast("long"))
        .withColumn("host", parse_url(col("url"), lit("HOST")))
        .groupBy(col("digest"))
        .agg(min(col("doc_id")).as("group_id"),
          count(lit(1)).as("n_copies"),
          size(collect_set(col("host"))).cast("long").as("n_hosts"),
          sum(col("doc_id")).as("id_sum"))
        .filter(col("n_hosts") >= 2)
        .select(col("group_id"), col("n_copies"), col("n_hosts"), col("id_sum"))
        .orderBy(col("group_id"))
    },
      // mirror groups from the residue rule: docs with doc_id%97 < 50 share
      // content within their residue class; hosts are doc_id%20 so every
      // multi-member class spans hosts; singletons (residue >= 50) never
      // survive the n_hosts filter
      """SELECT MIN(doc_id) AS group_id, COUNT(*) AS n_copies,
        |  CAST(COUNT(DISTINCT doc_id % 20) AS BIGINT) AS n_hosts,
        |  CAST(SUM(doc_id) AS BIGINT) AS id_sum
        |FROM documents
        |GROUP BY CASE WHEN doc_id % 97 < 50 THEN doc_id % 97 ELSE doc_id END
        |HAVING CAST(COUNT(DISTINCT doc_id % 20) AS BIGINT) >= 2
        |ORDER BY group_id""".stripMargin),

    // NEAR-mirror detection — the mirrors exact digests CANNOT catch:
    // every host's raw bytes differ (host-named nav banner), but after
    // jusText boilerplate removal the main texts align: roles 0/1 of each
    // content group are identical (hamming 0), role 2 differs by ONE
    // planted word selected to land at hamming 1-3 (the
    // timestamp-in-content mirror; distances spec-pinned in DedupSpec),
    // role 3 is unique and must not flag. simhash + 4x16-bit pigeonhole
    // blocking — hamming <= 3 pairs are GUARANTEED found via an equi-join,
    // never an all-pairs scan. Scale shape: map-only extract+hash; only
    // 8-byte fingerprints shuffle, host-grain.
    Contract("tx_mirror_near", (s, dir) => {
      import s.implicits._
      val pages = t(s, dir, "documents")
        .select((col("doc_id") % 20).as("k")).distinct().as[Long]
        .map(k => (s"src$k.invalid", graft.operators.Ingest.mirrorPage(k)))
        .toDF("host", "html")
      val main = graft.operators.TextAnalysis.extractMainText(pages, "html", "host")
        .select(col("host"), col("main_text"))
      graft.operators.Dedup
        .simhashNearDupPairs(main, "main_text", "host", maxHamming = 3)
        .select(col("id1"), col("id2"), (col("hamming") === 0).as("exact"))
        .orderBy(col("id1"), col("id2"))
    },
      // the planted near-mirror pair set is pure k-arithmetic: per content
      // group g, roles 0/1 are exact (hamming 0), role 2 is near (the
      // selected word lands at hamming 1-3, DedupSpec-pinned), role 3 never
      // flags; pair order is binary-string order (LEAST/GREATEST), matching
      // Spark's UTF8 id1 < id2
      """WITH gs AS (SELECT DISTINCT (doc_id % 20) % 5 AS g FROM documents),
        |raw AS (
        |  SELECT 'src' || g || '.invalid' AS a,
        |         'src' || (g + 5) || '.invalid' AS b, TRUE AS exact FROM gs
        |  UNION ALL SELECT 'src' || g || '.invalid',
        |         'src' || (g + 10) || '.invalid', FALSE FROM gs
        |  UNION ALL SELECT 'src' || (g + 5) || '.invalid',
        |         'src' || (g + 10) || '.invalid', FALSE FROM gs)
        |SELECT LEAST(a, b) AS id1, GREATEST(a, b) AS id2, exact
        |FROM raw ORDER BY id1, id2""".stripMargin),

    // the ON-PAGE politeness + dedup signals robots.txt cannot carry:
    // html_meta pulls title (entity-decoded), meta-description,
    // rel=canonical (rel token list, rebased by the leading <base href>,
    // resolved like an outlink), and meta-robots noindex/nofollow
    // ("none" implies both, names case-insensitive); a commented-out
    // canonical and a script-embedded robots meta must be ignored.
    // dedup_url = coalesce(canonical, own url) — the key a curation
    // pipeline groups on BEFORE content hashing. Map-only scalar.
    Contract("tx_meta_gate", (s, dir) => {
      import s.implicits._
      val pages = docIds(s, dir)
        .map(id => graft.operators.Ingest.metaPage(id))
        .toDF("url", "html")
      pages
        .withColumn("m", graft.operators.TextAnalysis.htmlMeta(col("html"), col("url")))
        .select(
          regexp_extract(col("url"), "(\\d+)$", 1).cast("long").as("doc_id"),
          col("m.title").as("title"),
          col("m.description").as("description"),
          col("m.canonical").as("canonical"),
          col("m.noindex").as("noindex"),
          col("m.nofollow").as("nofollow"),
          coalesce(col("m.canonical"), col("url")).as("dedup_url"))
        .orderBy(col("doc_id"))
    },
      // every on-page signal from the metaPage rules: decoded em dash in
      // the title, robots rotation on id%4 (none implies both), canonical
      // rebased onto the base host for id%3==0
      """SELECT doc_id,
        |  'Doc ' || doc_id || ' — title' AS title,
        |  'summary ' || doc_id || ' & more' AS description,
        |  CASE WHEN doc_id % 3 = 0 THEN 'http://base' || (doc_id % 10) ||
        |    '.invalid/canon/' || (doc_id % 50) END AS canonical,
        |  doc_id % 4 = 0 OR doc_id % 4 = 2 AS noindex,
        |  doc_id % 4 = 1 OR doc_id % 4 = 2 AS nofollow,
        |  COALESCE(
        |    CASE WHEN doc_id % 3 = 0 THEN 'http://base' || (doc_id % 10) ||
        |      '.invalid/canon/' || (doc_id % 50) END,
        |    'http://src' || (doc_id % 20) || '.invalid/page/' || doc_id)
        |    AS dedup_url
        |FROM documents ORDER BY doc_id""".stripMargin),

    // canonical-declared dedup IN ACTION: pages group on
    // coalesce(rel-canonical, own url) BEFORE any content hashing — the
    // cheap first dedup pass every curation pipeline runs (the id%3==0
    // pages of each (id%10, id%50) class share a canonical target, i.e.
    // one cluster per id%150 residue; everything else is a singleton the
    // HAVING must drop). ONE key-grain exchange, map-only extraction.
    Contract("tx_canonical_dedup", (s, dir) => {
      import s.implicits._
      val pages = docIds(s, dir)
        .map(id => graft.operators.Ingest.metaPage(id))
        .toDF("url", "html")
      pages
        .withColumn("m", graft.operators.TextAnalysis.htmlMeta(col("html"), col("url")))
        .select(
          regexp_extract(col("url"), "(\\d+)$", 1).cast("long").as("doc_id"),
          coalesce(col("m.canonical"), col("url")).as("dedup_url"))
        .groupBy(col("dedup_url"))
        .agg(count(lit(1)).as("n_pages"),
          min(col("doc_id")).as("id_min"),
          sum(col("doc_id")).as("id_sum"))
        .filter(col("n_pages") >= 2)
        .orderBy(col("dedup_url"))
    },
      // canonical clusters from the metaPage rules: id%3==0 pages of the
      // same id%50 class share a canonical (id%10 is determined by id%50),
      // singletons dropped by the HAVING
      """WITH d AS (SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN 'http://base' || (doc_id % 10) ||
        |      '.invalid/canon/' || (doc_id % 50)
        |    ELSE 'http://src' || (doc_id % 20) || '.invalid/page/' || doc_id
        |    END AS dedup_url
        |  FROM documents)
        |SELECT dedup_url, COUNT(*) AS n_pages, MIN(doc_id) AS id_min,
        |  CAST(SUM(doc_id) AS BIGINT) AS id_sum
        |FROM d GROUP BY dedup_url HAVING COUNT(*) >= 2
        |ORDER BY dedup_url""".stripMargin),

    // the meta-robots gate wired into DISCOVERY: pages declaring
    // nofollow (id%4==1) or none (id%4==2, which implies nofollow) must
    // contribute ZERO outlinks to the frontier — the on-page politeness
    // rule the robots.txt gate cannot enforce. The html_meta filter runs
    // BEFORE extraction, so gated pages never even pay the outlink scan.
    // Per-host discovered counts replay from the watPage link arithmetic
    // restricted to follow-allowed docs.
    Contract("tx_frontier_nofollow", (s, dir) => {
      import s.implicits._
      val pages = docIds(s, dir)
        .map { id =>
          val (url, html) = graft.operators.Ingest.watPage(id)
          val tag = (id % 4) match {
            case 1 => """<meta name="robots" content="nofollow">"""
            case 2 => """<meta name="ROBOTS" content="none">"""
            case _ => ""
          }
          (url, html.replace("</head>", tag + "</head>"))
        }
        .toDF("url", "html")
      pages
        .withColumn("m", graft.operators.TextAnalysis.htmlMeta(col("html"), col("url")))
        .filter(!col("m.nofollow"))
        .select(explode(graft.operators.TextAnalysis.htmlOutlinks(
          col("html"), col("url"))).as("raw"))
        .select(graft.operators.TextAnalysis.urlNormalize(col("raw")).as("dst"))
        .withColumn("host", parse_url(col("dst"), lit("HOST")))
        .groupBy(col("host"))
        .agg(count(lit(1)).as("n_links"))
        .orderBy(col("host"))
    },
      // the watPage link arithmetic restricted to follow-allowed docs
      // (id%4 not in (1,2) — nofollow and none pages contribute nothing)
      """WITH d AS (SELECT doc_id AS d, doc_id % 20 AS k FROM documents
        |           WHERE doc_id % 4 NOT IN (1, 2)),
        |links AS (
        |  SELECT k AS h FROM d
        |  UNION ALL SELECT k FROM d
        |  UNION ALL SELECT (3 * d + 5) % 20 FROM d
        |  UNION ALL SELECT k FROM d
        |  UNION ALL SELECT (7 * d + 3) % 20 FROM d
        |  UNION ALL SELECT (d + 11) % 20 FROM d
        |  UNION ALL SELECT k FROM d)
        |SELECT 'src' || h || '.invalid' AS host, COUNT(*) AS n_links
        |FROM links GROUP BY h ORDER BY host""".stripMargin),

    // the within-crawl dedup WRITE path (what Common Crawl ships): mirror
    // archives -> selfDedupVerdicts (one stored body per digest, the
    // string-least capture canonical) -> dedupWarcRewrite (dups become
    // body-less revisit records with WARC-Refers-To + the
    // identical-payload-digest profile) -> the REWRITTEN BYTES re-ingested
    // and every verdict/refers-to/stored flag pinned from them. The
    // oracle replays canonical election with ARG_MIN over the url
    // strings. Scale shape: digests shuffle once for the verdict window;
    // the rewrite joins verdict rows (never bodies) onto a second
    // map-only archive pass.
    Contract("tx_warc_dedup", (s, dir) => {
      import s.implicits._
      val ing = graft.operators.Ingest
      val archives = ing.mirrorArchives(s, dir)
      val deduped = ing.dedupWarcRewrite(archives, ing.selfDedupVerdicts(archives))
      // stores_body = the HTTP PAYLOAD survived the rewrite. Revisit
      // records keep the original header block (their declared
      // Content-Type promises a parseable HTTP block) but drop the
      // payload, so the distinction is made by parsing, not by length.
      deduped.flatMap(r => graft.operators.Warc.readRecords(r.content).map { rec =>
          val payloadLen =
            if (rec.content.isEmpty) 0
            else graft.operators.Warc.parseHttpResponse(rec.content)._3.length
          (rec.targetUri, rec.warcType,
            rec.headers.getOrElse("warc-refers-to", null), payloadLen)
        })
        .toDF("url", "verdict", "refers_to", "plen")
        .select(
          regexp_extract(col("url"), "(\\d+)$", 1).cast("long").as("doc_id"),
          col("verdict"),
          regexp_extract(col("refers_to"), "mir:(\\d+)", 1).cast("long")
            .as("refers_to_doc"),
          (col("plen") > 0).as("stores_body"))
        .orderBy(col("doc_id"))
    },
      // canonical election replayed with ARG_MIN over url strings (both
      // engines compare UTF-8 bytes); the mirror groups are the doc_id%97
      // residue rule
      """WITH d AS (SELECT doc_id,
        |    CASE WHEN doc_id % 97 < 50 THEN doc_id % 97 ELSE doc_id END AS g,
        |    'http://src' || (doc_id % 20) || '.invalid/doc/' || doc_id AS url
        |  FROM documents),
        |c AS (SELECT g, ARG_MIN(doc_id, url) AS cid FROM d GROUP BY g)
        |SELECT d.doc_id,
        |  CASE WHEN d.doc_id = c.cid THEN 'response' ELSE 'revisit' END AS verdict,
        |  CASE WHEN d.doc_id <> c.cid THEN c.cid END AS refers_to_doc,
        |  d.doc_id = c.cid AS stores_body
        |FROM d JOIN c USING (g) ORDER BY d.doc_id""".stripMargin),

    // plan an entire crawl EPOCH end-to-end: link-graph host ranks (3
    // integer iterations) → exact budget apportionment (300 pages across
    // hosts by rank — small enough that the cap BINDS at ~15/host vs 25
    // urls/host) → stalest-first per-host selection under the
    // variable cap (row_number per host against the broadcast budget
    // dim) → md5-HRW fetcher assignment. Every stage is the REAL
    // operator and every output value replays in DuckDB: the rank
    // iterations, both apportionment levels, the per-host selection
    // membership (id_sum pins it), and the HRW argmax. Scale shape: ONE
    // url-grain exchange (the per-host window); ranks/budgets are
    // host-grain rows on broadcast dims.
    Contract("tx_crawl_plan", (s, dir) => {
      import s.implicits._
      val pages = docIds(s, dir)
        .map(id => graft.operators.Ingest.watPage(id))
        .toDF("url", "html")
      val links = pages.select(col("url"),
          explode(graft.operators.TextAnalysis.htmlOutlinks(
            col("html"), col("url"))).as("raw_dst"))
        .select(col("url"),
          graft.operators.TextAnalysis.urlNormalize(col("raw_dst")).as("dst"))
      val edges = graft.operators.LinkGraph.hostEdges(links, "url", "dst")
      val ranked = graft.operators.LinkGraph
        .rankHosts(edges, "src_host", "dst_host", iters = 3)
        .withColumn("shard",
          regexp_extract(col("host"), "src(\\d+)", 1).cast("long") % 4)
        .select(col("host"), col("shard"), col("rank"))
      val budgets = graft.operators.LinkGraph
        .allocateBudget(ranked, "host", "rank", "shard", total = 300L)
      val urls = t(s, dir, "documents")
        .select(col("doc_id"),
          concat(lit("src"), col("doc_id") % 20, lit(".invalid")).as("host"),
          (col("doc_id") % 5).as("staleness")) // epochs since last fetch
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("host"))
        .orderBy(col("staleness").desc, col("doc_id").asc)
      urls
        .withColumn("rn", row_number().over(w))
        .join(broadcast(budgets.select(col("host"), col("rank"), col("alloc"))),
          Seq("host"))
        .filter(col("rn") <= col("alloc"))
        .groupBy(col("host"))
        .agg(max(col("rank")).as("rank"), max(col("alloc")).as("alloc"),
          count(lit(1)).as("n_selected"),
          sum(col("doc_id")).as("id_sum"),
          max(col("staleness")).as("stalest"))
        .withColumn("fetcher", graft.operators.Sampling.rendezvousShard(col("host"), 4))
        .select(col("host"), col("rank"), col("alloc"), col("n_selected"),
          col("id_sum"), col("stalest"), col("fetcher"))
        .orderBy(col("host"))
    },
      // the whole epoch plan replayed: rank iterations (as tx_link_rank),
      // 300-page apportionment (as tx_crawl_budget), stalest-first
      // selection under the per-host cap (row_number with the same
      // DESC/ASC tiebreak), membership pinned by id_sum, fetcher by the
      // md5-argmax HRW
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
        |budget AS (SELECT host, rank,
        |    CAST((bs * cw // ws) - (bs * (cw - rank) // ws) AS BIGINT) AS alloc
        |  FROM cum),
        |urls AS (SELECT doc_id, doc_id % 20 AS k, doc_id % 5 AS staleness
        |         FROM documents),
        |rn AS (SELECT doc_id, k, staleness, ROW_NUMBER() OVER
        |    (PARTITION BY k ORDER BY staleness DESC, doc_id ASC) AS rn
        |  FROM urls),
        |sel AS (SELECT rn.k, rn.doc_id, rn.staleness, b.rank, b.alloc
        |  FROM rn JOIN budget b ON b.host = 'src' || rn.k || '.invalid'
        |  WHERE rn.rn <= b.alloc),
        |agg AS (SELECT k, MAX(rank) AS rank, MAX(alloc) AS alloc,
        |    COUNT(*) AS n_selected, CAST(SUM(doc_id) AS BIGINT) AS id_sum,
        |    MAX(staleness) AS stalest
        |  FROM sel GROUP BY k),
        |hrw AS (SELECT host, s, MD5(host || ':' || CAST(s AS VARCHAR)) AS hh
        |  FROM (SELECT DISTINCT 'src' || k || '.invalid' AS host FROM agg),
        |    UNNEST(GENERATE_SERIES(0, 3)) AS t(s)),
        |f AS (SELECT host, ARG_MAX(s, hh) AS fetcher FROM hrw GROUP BY host)
        |SELECT 'src' || agg.k || '.invalid' AS host, agg.rank, agg.alloc,
        |  agg.n_selected, agg.id_sum, agg.stalest, f.fetcher
        |FROM agg JOIN f ON f.host = 'src' || agg.k || '.invalid'
        |ORDER BY host""".stripMargin),

    // the budget meets POLITENESS PHYSICS: a host's Crawl-Delay bounds
    // what an epoch can fetch regardless of what the rank-proportional
    // apportionment wants — capacity = epoch_seconds div delay (REAL
    // robots parsing, exact-agent group wins over the hostile * group's
    // 60 s), effective = least(alloc, capacity), and the reported spill
    // is what a planner re-allocates to uncapped hosts. Delay 1+k%5 over
    // a ~15-page/host budget makes the cap BIND exactly on the slow
    // hosts (capacity 12 < alloc at delay 5). Scale shape: host-grain
    // rows end to end; the robots dim broadcasts.
    Contract("tx_budget_capacity", (s, dir) => {
      import s.implicits._
      val pages = docIds(s, dir)
        .map(id => graft.operators.Ingest.watPage(id))
        .toDF("url", "html")
      val links = pages.select(col("url"),
          explode(graft.operators.TextAnalysis.htmlOutlinks(
            col("html"), col("url"))).as("raw_dst"))
        .select(col("url"),
          graft.operators.TextAnalysis.urlNormalize(col("raw_dst")).as("dst"))
      val edges = graft.operators.LinkGraph.hostEdges(links, "url", "dst")
      val ranked = graft.operators.LinkGraph
        .rankHosts(edges, "src_host", "dst_host", iters = 3)
        .withColumn("shard",
          regexp_extract(col("host"), "src(\\d+)", 1).cast("long") % 4)
        .select(col("host"), col("shard"), col("rank"))
      val budgets = graft.operators.LinkGraph
        .allocateBudget(ranked, "host", "rank", "shard", total = 300L)
      val robots = t(s, dir, "documents")
        .select((col("doc_id") % 20).as("k")).distinct()
        .select(concat(lit("src"), col("k"), lit(".invalid")).as("host"),
          concat(lit("User-agent: graftbot\nCrawl-delay: "), col("k") % 5 + 1,
            lit("\n\nUser-agent: *\nCrawl-delay: 60\n")).as("robots_txt"))
        .as[(String, String)]
        .map { case (host, txt) =>
          (host, graft.operators.Robots.crawlDelay(
            graft.operators.Robots.parse(txt), "graftbot").getOrElse(60.0).toLong)
        }.toDF("host", "delay_s")
      budgets.join(broadcast(robots), Seq("host"))
        .withColumn("capacity", expr("60 div delay_s"))
        .withColumn("effective", least(col("alloc"), col("capacity")))
        .select(col("host"), col("alloc"), col("delay_s"), col("capacity"),
          col("effective"), (col("alloc") - col("effective")).as("spill"))
        .orderBy(col("host"))
    },
      // the 300-page apportionment (as tx_crawl_plan's) capped by the
      // declared Crawl-Delay: delay 1+k%5, capacity 60 // delay
      (budgetCappedCtes +
        """
        |SELECT host, alloc, delay_s, 60 // delay_s AS capacity,
        |  LEAST(alloc, 60 // delay_s) AS effective,
        |  alloc - LEAST(alloc, 60 // delay_s) AS spill
        |FROM capped ORDER BY host""".stripMargin)),

    // ...and the budget loop CLOSED: the pages the Crawl-Delay cap takes
    // from slow hosts (spill) are re-apportioned onto hosts with headroom
    // (capacity - effective), weighted BY that headroom so no host is
    // pushed past its own physics — one exact integer round, final by
    // construction (bonus <= headroom per host; sum(final_alloc) ==
    // min(total, sum(capacity)) to the page). Same host-grain shape as
    // tx_budget_capacity; the second apportionment adds one broadcast of
    // an nShards-row dim.
    Contract("tx_budget_replan", (s, dir) => {
      import s.implicits._
      val pages = docIds(s, dir)
        .map(id => graft.operators.Ingest.watPage(id))
        .toDF("url", "html")
      val links = pages.select(col("url"),
          explode(graft.operators.TextAnalysis.htmlOutlinks(
            col("html"), col("url"))).as("raw_dst"))
        .select(col("url"),
          graft.operators.TextAnalysis.urlNormalize(col("raw_dst")).as("dst"))
      val edges = graft.operators.LinkGraph.hostEdges(links, "url", "dst")
      val ranked = graft.operators.LinkGraph
        .rankHosts(edges, "src_host", "dst_host", iters = 3)
        .withColumn("shard",
          regexp_extract(col("host"), "src(\\d+)", 1).cast("long") % 4)
        .select(col("host"), col("shard"), col("rank"))
      val budgets = graft.operators.LinkGraph
        .allocateBudget(ranked, "host", "rank", "shard", total = 300L)
      val robots = t(s, dir, "documents")
        .select((col("doc_id") % 20).as("k")).distinct()
        .select(concat(lit("src"), col("k"), lit(".invalid")).as("host"),
          concat(lit("User-agent: graftbot\nCrawl-delay: "), col("k") % 5 + 1,
            lit("\n\nUser-agent: *\nCrawl-delay: 60\n")).as("robots_txt"))
        .as[(String, String)]
        .map { case (host, txt) =>
          (host, graft.operators.Robots.crawlDelay(
            graft.operators.Robots.parse(txt), "graftbot").getOrElse(60.0).toLong)
        }.toDF("host", "delay_s")
      val capped = budgets.join(broadcast(robots), Seq("host"))
        .withColumn("capacity", expr("60 div delay_s"))
      graft.operators.LinkGraph
        .reallocateSpill(capped, "host", "shard", "alloc", "capacity")
        .orderBy(col("host"))
    },
      // the replan round on top of the capacity cap: redistribute
      // redis = least(sum(spill), sum(headroom)) by largest remainder over
      // per-shard headroom sums, then cumulative rounding weighted by
      // headroom within each shard — every division integer, every window
      // deterministic (host asc / rem desc, shard asc)
      (budgetCappedCtes +
        """,
        |eff AS (SELECT host,
        |    CAST(regexp_extract(host, 'src(\d+)', 1) AS BIGINT) % 4 AS shard,
        |    alloc, 60 // delay_s AS capacity,
        |    LEAST(alloc, 60 // delay_s) AS effective,
        |    (60 // delay_s) - LEAST(alloc, 60 // delay_s) AS headroom,
        |    alloc - LEAST(alloc, 60 // delay_s) AS spill
        |  FROM capped),
        |tot AS (SELECT CAST(SUM(spill) AS BIGINT) AS spill_total,
        |    CAST(SUM(headroom) AS BIGINT) AS head_total,
        |    LEAST(CAST(SUM(spill) AS BIGINT), CAST(SUM(headroom) AS BIGINT))
        |      AS redis
        |  FROM eff),
        |shh AS (SELECT shard, CAST(SUM(headroom) AS BIGINT) AS hs
        |  FROM eff GROUP BY shard),
        |sb2 AS (SELECT shard, hs, redis,
        |    CASE WHEN head_total = 0 THEN 0 ELSE redis * hs // head_total END AS base,
        |    CASE WHEN head_total = 0 THEN 0 ELSE (redis * hs) % head_total END AS rem
        |  FROM shh, tot),
        |lo2 AS (SELECT CAST(MAX(redis) - SUM(base) AS BIGINT) AS leftover FROM sb2),
        |bs2 AS (SELECT shard, hs,
        |    CASE WHEN hs = 0 THEN 0 ELSE base +
        |      CASE WHEN ROW_NUMBER() OVER (ORDER BY rem DESC, shard ASC)
        |        <= leftover THEN 1 ELSE 0 END END AS bs
        |  FROM sb2, lo2),
        |cum2 AS (SELECT eff.host, eff.shard, eff.alloc, eff.capacity,
        |    eff.effective, eff.spill, eff.headroom, bs2.bs, bs2.hs,
        |    CAST(SUM(eff.headroom) OVER (PARTITION BY eff.shard
        |      ORDER BY eff.host) AS BIGINT) AS ch
        |  FROM eff JOIN bs2 USING (shard)),
        |fin AS (SELECT host, shard, alloc, capacity, effective, spill,
        |    CASE WHEN hs = 0 THEN 0
        |      ELSE (bs * ch // hs) - (bs * (ch - headroom) // hs) END AS bonus
        |  FROM cum2)
        |SELECT host, shard, alloc, capacity, effective, spill, bonus,
        |  effective + bonus AS final_alloc
        |FROM fin ORDER BY host""".stripMargin)),

    // the crawl→training-text capstone: WARC archives (bodies in three
    // wire encodings: BOM'd UTF-8 / declared ISO-8859-1 / bare UTF-8,
    // each carrying a non-ASCII 'café' the decoder must get right) →
    // charset decode → jusText boilerplate removal → whitespace token
    // count. Every stage's output is doc_id arithmetic: charset from
    // id%3, block verdicts and the reassembled main text from the
    // boilerplate rules, tokens = 2k+7. The decode verdict rides the
    // aggregation key (url|charset|clean), so the composition stays on
    // extractMainText's single doc-grain exchange — no metadata re-join.
    Contract("tx_warc_maintext", (s, dir) => {
      import s.implicits._
      val ing = graft.operators.Ingest
      val pages = ing.ingestWarc(ing.boilerplateArchives(s, dir))
        .filter(col("warc_type") === "response")
        .select(col("url"), col("http_content_type").as("ct"), col("body"))
        .as[(String, String, Array[Byte])]
        .map { case (url, ct, body) =>
          val d = graft.operators.Charsets.decode(body, ct)
          (url + "|" + d.charset + "|" + d.clean, d.text)
        }.toDF("_key", "html")
      graft.operators.TextAnalysis.extractMainText(pages, "html", "_key")
        .select(
          regexp_extract(col("_key"), "/doc/(\\d+)\\|", 1).cast("long").as("doc_id"),
          regexp_extract(col("_key"), "\\|([^|]+)\\|", 1).as("charset"),
          (regexp_extract(col("_key"), "([^|]+)$", 1) === "true").as("clean"),
          col("n_blocks"), col("n_good_final"), col("main_chars"),
          graft.operators.TextAnalysis.tokenCount(col("main_text"))
            .cast("long").as("n_tokens"))
        .orderBy(col("doc_id"))
    },
      // the capstone replayed end-to-end from doc_id: charset from the
      // id%3 wire encoding (every variant decodes clean), boilerplate
      // verdicts from the block rules (h1 carries ' café': +5 chars, +1
      // token), tokens = words of the four kept blocks
      """WITH d AS (SELECT doc_id, 20 + doc_id % 7 AS k FROM documents)
        |SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 1 THEN 'iso-8859-1' ELSE 'utf-8' END AS charset,
        |  TRUE AS clean,
        |  CAST(6 AS BIGINT) AS n_blocks,
        |  CAST(4 AS BIGINT) AS n_good_final,
        |  CAST(2 * strlen('hdr ' || doc_id) + 9 + 2 * (6 * k - 1) AS BIGINT)
        |    AS main_chars,
        |  CAST(2 * k + 7 AS BIGINT) AS n_tokens
        |FROM d ORDER BY doc_id""".stripMargin),

    // PDF mining — the web-corpus document class the engine previously
    // dropped: a spec-correct writer fabricates per-doc PDFs (1 + id%3
    // pages, even ids Flate-compressed, WinAnsi 'café' plus the 0x80-0x9F
    // typographic block (smart quotes, em dash) on every page, parens in
    // the text to exercise string escaping), the structural parser walks
    // xref -> page tree -> content streams -> BT/ET text operators, and
    // DuckDB predicts every page's exact text. Map-only per-record walk;
    // one task per partition of the documents scan.
    Contract("tx_pdf_text", (s, dir) => {
      import s.implicits._
      val docs = docIds(s, dir)
        .map { id =>
          val nPages = (1 + id % 3).toInt
          val pages = (0 until nPages).map(p =>
            s"Doc $id page $p ‘café’\ntokens ${id % 7} — (p$p)")
          val got = graft.operators.PdfCodec.extractText(
            graft.operators.PdfCodec.write(pages, compress = id % 2 == 0))
          (id, got.nPages.toLong, got.pages)
        }.toDF("doc_id", "n_pages", "pages")
      docs.select(col("doc_id"), col("n_pages"),
          posexplode(col("pages")).as(Seq("page_idx", "text")))
        .select(col("doc_id"), col("n_pages"),
          col("page_idx").cast("long").as("page_idx"), col("text"),
          length(col("text")).cast("long").as("n_chars"))
        .orderBy(col("doc_id"), col("page_idx"))
    },
      // the PDF roundtrip replayed from doc_id arithmetic: page count
      // 1 + id%3, every page's exact two-line text (WinAnsi café, the
      // 0x80-0x9F typographic block — smart quotes + em dash — and escaped
      // parens all survive the writer->parser trip byte-for-byte)
      """WITH d AS (SELECT doc_id, 1 + doc_id % 3 AS n_pages FROM documents),
        |p AS (SELECT doc_id, n_pages,
        |    UNNEST(GENERATE_SERIES(0, n_pages - 1)) AS page_idx FROM d),
        |t2 AS (SELECT doc_id, n_pages, page_idx,
        |    'Doc ' || doc_id || ' page ' || page_idx || ' ‘café’' || chr(10) ||
        |    'tokens ' || (doc_id % 7) || ' — (p' || page_idx || ')' AS text
        |  FROM p)
        |SELECT doc_id, CAST(n_pages AS BIGINT) AS n_pages,
        |  CAST(page_idx AS BIGINT) AS page_idx, text,
        |  CAST(LENGTH(text) AS BIGINT) AS n_chars
        |FROM t2 ORDER BY doc_id, page_idx""".stripMargin),

    // the PDF-mining CAPSTONE: WARC archives (odd ones gzipped) carrying
    // application/pdf responses -> archive explode -> content-type route
    // -> structural text extract, with every fifth document encrypted in
    // flight so the divert seam fires MID-PIPELINE (status names the
    // reject; the archive scan never dies). Page counts and total chars
    // replay from the same doc_id arithmetic as tx_pdf_text. Scale
    // shape: two map-only walks (archive explode, PDF extract), zero
    // shuffles before the final per-doc projection.
    Contract("tx_warc_pdf", (s, dir) => {
      import s.implicits._
      val ing = graft.operators.Ingest
      ing.ingestWarc(ing.pdfArchives(s, dir))
        .filter(col("warc_type") === "response" &&
          col("http_content_type") === "application/pdf")
        .select(col("url"), col("body"))
        .as[(String, Array[Byte])]
        .map { case (url, body) =>
          val id = url.substring(url.lastIndexOf('/') + 1).toLong
          try {
            val t = graft.operators.PdfCodec.extractText(body)
            (id, "ok", t.nPages.toLong, t.pages.map(_.length.toLong).sum)
          } catch {
            case e: IllegalArgumentException => (id, e.getMessage, 0L, 0L)
          }
        }
        .toDF("doc_id", "status", "n_pages", "n_chars")
        .orderBy(col("doc_id"))
    },
      // the PDF WARC capstone replayed end-to-end: page counts and total
      // chars are the same doc_id arithmetic as tx_pdf_text (1 + id%3 pages,
      // each page's two fabricated lines), and every fifth document carries
      // the /Encrypt splice, so its status is the NAMED reject with 0/0
      """WITH d AS (SELECT doc_id, 1 + doc_id % 3 AS n_pages FROM documents),
        |p AS (SELECT doc_id, n_pages,
        |    UNNEST(GENERATE_SERIES(0, n_pages - 1)) AS page_idx FROM d),
        |c AS (SELECT doc_id,
        |    SUM(LENGTH('Doc ' || doc_id || ' page ' || page_idx || ' ‘café’' ||
        |        chr(10) || 'tokens ' || (doc_id % 7) || ' — (p' || page_idx ||
        |        ')')) AS n_chars
        |  FROM p GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CASE WHEN d.doc_id % 5 = 0
        |    THEN 'pdf: encrypted (password required)' ELSE 'ok' END AS status,
        |  CAST(CASE WHEN d.doc_id % 5 = 0 THEN 0 ELSE d.n_pages END
        |    AS BIGINT) AS n_pages,
        |  CAST(CASE WHEN d.doc_id % 5 = 0 THEN 0 ELSE c.n_chars END
        |    AS BIGINT) AS n_chars
        |FROM d JOIN c ON c.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin),

    // OFFICE documents — the second-biggest document class after PDF:
    // DOCX (OOXML zip, w:p/w:t/w:tab/w:br) and ODT (OpenDocument zip,
    // text:p) written and extracted through the hardened XML walk
    // (doctype = parse error, so XXE/entity bombs die loudly). Map-only
    // per-record work like the PDF trio.
    Contract("tx_office_text", (s, dir) => {
      import s.implicits._
      docIds(s, dir)
        .map { id =>
          val paras = (0 until (1 + id % 4).toInt).map(p =>
            s"Para $p doc $id\ttab ‘§${id % 7}’")
          val bytes =
            if (id % 2 == 0) graft.operators.OfficeCodec.writeDocx(paras)
            else graft.operators.OfficeCodec.writeOdt(paras)
          val got = graft.operators.OfficeCodec.extractText(bytes)
          (id, got.format, got.nParagraphs.toLong, got.text)
        }.toDF("doc_id", "format", "n_paragraphs", "text")
        .select(col("doc_id"), col("format"), col("n_paragraphs"), col("text"),
          length(col("text")).cast("long").as("n_chars"))
        .orderBy(col("doc_id"))
    },
      // office roundtrip replayed: paragraphs by id%4, format by parity,
      // the writer/extractor pair guarantees the bytes, DuckDB the text
      """WITH d AS (SELECT doc_id, 1 + doc_id % 4 AS np,
        |    CASE WHEN doc_id % 2 = 0 THEN 'docx' ELSE 'odt' END AS format
        |  FROM documents),
        |p AS (SELECT doc_id, np, format,
        |    UNNEST(GENERATE_SERIES(0, np - 1)) AS pi FROM d),
        |t2 AS (SELECT doc_id, np, format,
        |    STRING_AGG('Para ' || pi || ' doc ' || doc_id || chr(9) ||
        |      'tab ‘§' || (doc_id % 7) || '’', chr(10) ORDER BY pi) AS text
        |  FROM p GROUP BY doc_id, np, format)
        |SELECT doc_id, format, CAST(np AS BIGINT) AS n_paragraphs, text,
        |  CAST(LENGTH(text) AS BIGINT) AS n_chars
        |FROM t2 ORDER BY doc_id""".stripMargin),

    // the SPREADSHEET/SLIDES half of the office family: XLSX cell grids
    // (shared-string table exercised by repeated cells) and PPTX slide
    // paragraphs, same hardened XML walk, same map-only shape.
    Contract("tx_sheet_text", (s, dir) => {
      import s.implicits._
      docIds(s, dir)
        .map { id =>
          val bytes =
            if (id % 2 == 0) graft.operators.OfficeCodec.writeXlsx(Seq(Seq(
              Seq("metric", "value"),
              Seq(s"rows doc $id", s"${id % 97}"),
              Seq("metric", s"${id % 7}"))))
            else graft.operators.OfficeCodec.writePptx(Seq(
              Seq(s"Slide doc $id", s"point ${id % 5}\nmore ‘§’"),
              Seq(s"Closing ${id % 3}")))
          val got = graft.operators.OfficeCodec.extractText(bytes)
          (id, got.format, got.nParagraphs.toLong, got.text)
        }.toDF("doc_id", "format", "n_units", "text")
        .select(col("doc_id"), col("format"), col("n_units"), col("text"),
          length(col("text")).cast("long").as("n_chars"))
        .orderBy(col("doc_id"))
    },
      // spreadsheet/slides replayed: xlsx rows tab-joined (3 rows), pptx
      // three paragraphs, by parity
      """WITH t2 AS (SELECT doc_id,
        |    CASE WHEN doc_id % 2 = 0 THEN 'xlsx' ELSE 'pptx' END AS format,
        |    3 AS n_units,
        |    CASE WHEN doc_id % 2 = 0 THEN
        |      'metric' || chr(9) || 'value' || chr(10) ||
        |      'rows doc ' || doc_id || chr(9) || (doc_id % 97) || chr(10) ||
        |      'metric' || chr(9) || (doc_id % 7)
        |    ELSE
        |      'Slide doc ' || doc_id || chr(10) || 'point ' || (doc_id % 5) ||
        |      chr(10) || 'more ‘§’' || chr(10) || 'Closing ' || (doc_id % 3)
        |    END AS text
        |  FROM documents)
        |SELECT doc_id, format, CAST(n_units AS BIGINT) AS n_units, text,
        |  CAST(LENGTH(text) AS BIGINT) AS n_chars
        |FROM t2 ORDER BY doc_id""".stripMargin),

    // the BOOK/LEGACY-DOC half of the document family: EPUB (OCF zip ->
    // OPF spine -> XHTML block text) and RTF (structural control-word
    // walk: \par/\line/\tab, \'xx cp1252, \uN unicode, destinations
    // skipped), both deterministic writers so the oracle replays exact
    // text. Map-only per-record work.
    Contract("tx_book_text", (s, dir) => {
      import s.implicits._
      docIds(s, dir)
        .map { id =>
          if (id % 2 == 0) {
            val chapters = (0 until (1 + id % 3).toInt).map(c => Seq(
              s"Chapter $c of doc $id", s"Body $c — ‘§${id % 7}’"))
            val got = graft.operators.OfficeCodec.extractText(
              graft.operators.OfficeCodec.writeEpub(chapters))
            (id, got.format, got.nParagraphs.toLong, got.text)
          } else {
            val paras = (0 until (1 + id % 4).toInt).map(p =>
              s"RTF para $p doc $id — café ${id % 9}")
            val text = graft.operators.Rtf.extractText(
              graft.operators.Rtf.write(paras))
            (id, "rtf", paras.length.toLong, text)
          }
        }.toDF("doc_id", "format", "n_units", "text")
        .select(col("doc_id"), col("format"), col("n_units"), col("text"),
          length(col("text")).cast("long").as("n_chars"))
        .orderBy(col("doc_id"))
    },
      // book/legacy-doc replayed: epub = 2 blocks per chapter over 1+id%3
      // chapters, rtf = 1+id%4 paragraphs, text by arithmetic
      """WITH e AS (SELECT doc_id, 1 + doc_id % 3 AS nc FROM documents
        |    WHERE doc_id % 2 = 0),
        |ec AS (SELECT doc_id, nc, UNNEST(GENERATE_SERIES(0, nc - 1)) AS c
        |  FROM e),
        |et AS (SELECT doc_id, 2 * ANY_VALUE(nc) AS n_units,
        |    STRING_AGG('Chapter ' || c || ' of doc ' || doc_id || chr(10) ||
        |      'Body ' || c || ' — ‘§' || (doc_id % 7) || '’',
        |      chr(10) ORDER BY c) AS text
        |  FROM ec GROUP BY doc_id),
        |r AS (SELECT doc_id, 1 + doc_id % 4 AS np FROM documents
        |    WHERE doc_id % 2 = 1),
        |rp AS (SELECT doc_id, np, UNNEST(GENERATE_SERIES(0, np - 1)) AS p
        |  FROM r),
        |rt AS (SELECT doc_id, ANY_VALUE(np) AS n_units,
        |    STRING_AGG('RTF para ' || p || ' doc ' || doc_id || ' — café ' ||
        |      (doc_id % 9), chr(10) ORDER BY p) AS text
        |  FROM rp GROUP BY doc_id),
        |u AS (SELECT doc_id, 'epub' AS format, n_units, text FROM et
        |  UNION ALL SELECT doc_id, 'rtf', n_units, text FROM rt)
        |SELECT doc_id, format, CAST(n_units AS BIGINT) AS n_units, text,
        |  CAST(LENGTH(text) AS BIGINT) AS n_chars
        |FROM u ORDER BY doc_id""".stripMargin),

    // TRIAGE over the document family: probeBytes routes every container
    // this engine extracts (docx/odt/xlsx/pptx/epub/rtf/mbox) plus the
    // OLE/CFB reject lane — zip routing is HEADER-ONLY (central-directory
    // names, zero decompression), the property that makes classifying a
    // 100 TB archive store cost directory reads.
    Contract("tx_doc_probe", (s, dir) => {
      import s.implicits._
      docIds(s, dir)
        .map { id =>
          val oc = graft.operators.OfficeCodec
          val bytes = (id % 10) match {
            case 0 => oc.writeDocx(Seq(s"doc $id"))
            case 1 => oc.writeOdt(Seq(s"doc $id"))
            case 2 => oc.writeXlsx(Seq(Seq(Seq(s"doc $id"))))
            case 3 => oc.writePptx(Seq(Seq(s"doc $id")))
            case 4 => oc.writeEpub(Seq(Seq(s"doc $id")))
            case 5 => graft.operators.Rtf.write(Seq(s"doc $id"))
            case 6 => graft.operators.Mail.writeMbox(Seq(
              s"Subject: d$id\n\nbody".getBytes(
                java.nio.charset.StandardCharsets.ISO_8859_1)))
            case 7 => graft.operators.MsDoc.write(Seq(s"doc $id"))
            case 8 => graft.operators.MsXls.write(Seq(
              "S0" -> Seq(Seq[Any](s"doc $id"))))
            case _ => graft.operators.MsPpt.write(Seq(Seq(s"doc $id")))
          }
          val p = graft.operators.Multimodal.probeBytes(id, bytes)
          (id, p.container, p.decodable)
        }.toDF("doc_id", "container", "decodable")
        .orderBy(col("doc_id"))
    },
      // document-triage replayed: container by id%10 — every lane is
      // decodable now that all three legacy binaries have real extractors
      """SELECT doc_id,
        |  CASE doc_id % 10 WHEN 0 THEN 'docx' WHEN 1 THEN 'odt'
        |    WHEN 2 THEN 'xlsx' WHEN 3 THEN 'pptx' WHEN 4 THEN 'epub'
        |    WHEN 5 THEN 'rtf' WHEN 6 THEN 'mbox' WHEN 7 THEN 'doc'
        |    WHEN 8 THEN 'xls' ELSE 'ppt' END AS container,
        |  TRUE AS decodable
        |FROM documents ORDER BY doc_id""".stripMargin),

    // the DOCUMENT-MINING capstone: one WARC stream carrying every
    // container this engine extracts, under octet-stream Content-Types
    // (servers lie) — magic-byte triage routes each record to its
    // extractor (pdf / the four office dialects / epub / rtf), the OLE
    // lane diverts namedly, and the unified output is (container,
    // status, extracted chars). Two map-only walks, zero shuffles before
    // the per-doc projection — the whole point of the document family:
    // a 100 TB crawl mines EVERY document class in one pass.
    Contract("tx_doc_mine", (s, dir) => {
      import s.implicits._
      val ing = graft.operators.Ingest
      ing.ingestWarc(ing.docArchives(s, dir))
        .filter(col("warc_type") === "response")
        .select(col("url"), col("body"))
        .as[(String, Array[Byte])]
        .map { case (url, body) =>
          graft.operators.Ingest.docMineRecord(url, body) }
        .toDF("doc_id", "container", "status", "n_chars")
        .orderBy(col("doc_id"))
    },
      // document-mining replayed: container by id%8, the office family
      // shares one text template, pdf its own, OLE diverts with 0 chars
      """SELECT doc_id,
        |  CASE doc_id % 10 WHEN 0 THEN 'pdf' WHEN 1 THEN 'docx'
        |    WHEN 2 THEN 'odt' WHEN 3 THEN 'xlsx' WHEN 4 THEN 'pptx'
        |    WHEN 5 THEN 'epub' WHEN 6 THEN 'rtf' WHEN 7 THEN 'doc'
        |    WHEN 8 THEN 'xls' ELSE 'ppt' END AS container,
        |  'ok' AS status,
        |  CAST(CASE doc_id % 10
        |    WHEN 0 THEN LENGTH('PDF doc ' || doc_id || ' — ‘§' ||
        |      (doc_id % 7) || '’')
        |    WHEN 7 THEN LENGTH('Mixed doc ' || doc_id || ' — café ' ||
        |      (doc_id % 9) || CASE WHEN (doc_id // 10) % 2 = 1
        |        THEN ' 日' ELSE '' END)
        |    ELSE LENGTH('Mixed doc ' || doc_id || ' — café ' || (doc_id % 9))
        |    END AS BIGINT) AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin),

    // MAILING-LIST mining: mbox mailboxes (RFC 4155 + mboxrd quoting)
    // split into messages, each through the MIME walk — 7bit / quoted-
    // printable / base64 / multipart-alternative bodies by id%4, RFC 2047
    // encoded-word subjects on id%3==0 — with the first text/plain leaf
    // extracted exactly. Map-only mailbox explode, bodies never shuffle.
    Contract("tx_mail_mbox", (s, dir) => {
      import s.implicits._
      val ing = graft.operators.Ingest
      ing.mboxArchives(s, dir)
        .flatMap(r => graft.operators.Mail.splitMbox(r.content)
          .map(graft.operators.Mail.parseMessage))
        .map { m =>
          val id = m.messageId.stripPrefix("<graft:").takeWhile(_ != '@').toLong
          (id, m.subject, m.contentType, m.textFound, m.nParts.toLong, m.text)
        }
        .toDF("doc_id", "subject", "content_type", "text_found", "n_parts", "text")
        .select(col("doc_id"), col("subject"), col("content_type"),
          col("text_found"), col("n_parts"), col("text"),
          length(col("text")).cast("long").as("n_chars"))
        .orderBy(col("doc_id"))
    },
      // mail mining replayed: decoded subject (the id%3 B-word rule),
      // media type / part count by the id%4 body route, exact body text
      """WITH t2 AS (SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN 'Betreff ' || doc_id || ' ü'
        |      ELSE 'Subject ' || doc_id END AS subject,
        |    CASE WHEN doc_id % 4 = 3 THEN 'multipart/alternative'
        |      ELSE 'text/plain' END AS content_type,
        |    CASE WHEN doc_id % 4 = 3 THEN 2 ELSE 1 END AS n_parts,
        |    'Mail ' || doc_id || ' von Nutzer ' || (doc_id % 7) ||
        |    ' — Grüße à ' || (1 + doc_id % 3) || '€' || chr(10) ||
        |    'Zeile zwei (§' || (doc_id % 9) || ')' AS text
        |  FROM documents)
        |SELECT doc_id, subject, content_type, TRUE AS text_found,
        |  CAST(n_parts AS BIGINT) AS n_parts, text,
        |  CAST(LENGTH(text) AS BIGINT) AS n_chars
        |FROM t2 ORDER BY doc_id""".stripMargin),

    // WIKI-DUMP mining — the classic public-corpus source in its real
    // shipping shape: bzip2 export-XML shards (the from-scratch Bzip2
    // walk, both CRCs verified) → hardened XML parse → per-page
    // wikitext cleanup (templates dropped, links unwrapped, refs and
    // comments removed, heading bars stripped). The shard's <siteinfo>
    // namespace map resolves each page's ns id to its NAME (key 0 is
    // the unnamed article space), like the real dumps. One shard is one
    // record; pages never cross an exchange before the projection.
    Contract("tx_wiki_dump", (s, dir) => {
      import s.implicits._
      val ing = graft.operators.Ingest
      ing.wikiArchives(s, dir)
        .flatMap { r =>
          val (namespaces, pages) =
            graft.operators.MediaWiki.parseDumpWithSiteinfo(
              graft.operators.Bzip2.decompress(r.content))
          pages.map { p =>
            val text = graft.operators.MediaWiki.cleanWikitext(p.wikitext)
            (p.pageId, p.title, p.ns,
              namespaces.getOrElse(p.ns, s"ns${p.ns}"), p.username, text,
              text.length.toLong)
          }
        }
        .toDF("doc_id", "title", "ns", "ns_name", "username", "text", "n_chars")
        .orderBy(col("doc_id"))
    },
      // the divert seam: id%5==0 carries /Encrypt — probe keeps the label,
      // drops the page count, flips decodable; extract names the reject
      // the wikitext cleanup replayed line-exactly by id arithmetic
      """WITH d AS (SELECT doc_id,
        |    'Article ' || doc_id || ' is about subject ' || (doc_id % 7) ||
        |      '.' || chr(10) ||
        |    'Body of article ' || doc_id || ' links Plain ' ||
        |      (doc_id % 5) || ' and notes café.' || chr(10) ||
        |    'Section ' || (doc_id % 3) || chr(10) ||
        |    'Final line ' || doc_id || ' — done.' AS text
        |  FROM documents)
        |SELECT doc_id, 'Article ' || doc_id AS title,
        |  CAST(CASE WHEN doc_id % 10 = 9 THEN 1 ELSE 0 END AS INTEGER) AS ns,
        |  CASE WHEN doc_id % 10 = 9 THEN 'Talk' ELSE '' END AS ns_name,
        |  'User' || (doc_id % 7) AS username, text,
        |  CAST(LENGTH(text) AS BIGINT) AS n_chars
        |FROM d ORDER BY doc_id""".stripMargin),

    // WIKI MULTISTREAM INDEX — the dumps' `multistream-index.txt.bz2`
    // twin (offset:pageId:title per line) enables RANGED reads: fetch
    // one bz2 stream's byte range and decode only that page batch,
    // never the rest of the dump — the CDX analog for wiki dumps. The
    // query audits the whole byte space: every index entry is replayed
    // through a genuine ranged read (Bzip2.decompressOne at the index
    // offset), the page must surface in THAT batch with the indexed
    // title, and the batch structure (stream rank, batch size) is
    // arithmetic the oracle predicts. Map-only per shard, like the dump
    // lane.
    Contract("tx_wiki_index", (s, dir) => {
      import s.implicits._
      val ing = graft.operators.Ingest
      ing.wikiIndexedArchives(s, dir)
        .flatMap { r =>
          val mw = graft.operators.MediaWiki
          val idxText = new String(graft.operators.Bzip2.decompress(
            java.util.Base64.getDecoder.decode(r.meta("index_bz2_b64"))),
            java.nio.charset.StandardCharsets.UTF_8)
          val entries = mw.parseIndexText(idxText)
          val offsets = entries.map(_.offset).distinct.sorted
          val rankOf = offsets.zipWithIndex.toMap
          val batches = offsets.map(o => o -> mw.pagesAt(r.content, o)).toMap
          entries.map { e =>
            val batch = batches(e.offset)
            val page = batch.find(_.pageId == e.pageId)
            val ok = page.exists(_.title == e.title)
            val text = page.map(p => mw.cleanWikitext(p.wikitext)).getOrElse("")
            (e.pageId, r.media_id, rankOf(e.offset).toLong,
              batch.size.toLong, e.title, text.length.toLong, ok)
          }
        }
        .toDF("doc_id", "archive_id", "stream_rank", "batch_size",
          "title", "n_chars", "ranged_ok")
        .orderBy(col("doc_id"))
    },
      // the multistream-index audit replayed: pages group 4-per-stream in
      // doc_id order within each 16-page shard, so stream rank and batch
      // size are pure arithmetic; n_chars reuses the dump lane's text
      """WITH d AS (SELECT doc_id, doc_id // 16 AS archive_id,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id // 16 ORDER BY doc_id)
        |      - 1 AS rnk,
        |    COUNT(*) OVER (PARTITION BY doc_id // 16) AS n,
        |    'Article ' || doc_id || ' is about subject ' || (doc_id % 7) ||
        |      '.' || chr(10) ||
        |    'Body of article ' || doc_id || ' links Plain ' ||
        |      (doc_id % 5) || ' and notes café.' || chr(10) ||
        |    'Section ' || (doc_id % 3) || chr(10) ||
        |    'Final line ' || doc_id || ' — done.' AS text
        |  FROM documents)
        |SELECT doc_id, archive_id,
        |  CAST(rnk // 4 AS BIGINT) AS stream_rank,
        |  CAST(LEAST(4, n - 4 * (rnk // 4)) AS BIGINT) AS batch_size,
        |  'Article ' || doc_id AS title,
        |  CAST(LENGTH(text) AS BIGINT) AS n_chars,
        |  TRUE AS ranged_ok
        |FROM d ORDER BY doc_id""".stripMargin),

    // WIKI REDIRECT resolution — the real dumps ship redirect pages
    // (`<redirect title=.../>`); canonicalizing links needs their
    // chains FOLLOWED to terminal articles, exactly the HTTP-redirect
    // problem the crawl seam already solves. The dump explode feeds the
    // shared Redirects.resolve (one materialized title map, per-hop
    // shrinkage, early exit): 1-hop and genuine 2-hop chains resolve,
    // targets absent from the corpus surface as 'dangling' — never a
    // silent self-resolution. doc_id rides back via a title-keyed join
    // (both sides page-grain, co-keyed).
    Contract("tx_wiki_redirects", (s, dir) => {
      import s.implicits._
      val ing = graft.operators.Ingest
      val pages = ing.wikiRedirectArchives(s, dir)
        .flatMap { r =>
          graft.operators.MediaWiki.parseDump(
            graft.operators.Bzip2.decompress(r.content))
            .map(p => (p.pageId, p.title, p.redirect.isDefined,
              p.redirect.getOrElse("")))
        }
        .toDF("doc_id", "title", "is_redirect", "target")
        // checkpointed (r14): consumed by the resolver AND the join back —
        // the bzip2 compress+decompress fabrication otherwise runs twice
        .localCheckpoint()
      val resolved = graft.operators.Redirects.resolve(
        pages, "title", "is_redirect", "target")
      pages.select(col("doc_id"), col("title"))
        .join(resolved, col("title") === col("url"))
        .select(col("doc_id"), col("title"), col("status"),
          col("resolved_url").as("resolved_title"), col("hops"))
        .orderBy(col("doc_id"))
    },
      // the chain walk replayed: id%4==1 one hop, id%4==3 two hops
      // (through the id-2 redirect), missing targets dangle — directly at
      // hop 1 for id%20==5, via the chain at hop 2 for id%20==7
      """SELECT doc_id, 'Article ' || doc_id AS title,
        |  CASE
        |    WHEN doc_id % 20 = 5 THEN 'dangling'
        |    WHEN doc_id % 4 = 3 AND doc_id % 20 = 7 THEN 'dangling'
        |    WHEN doc_id % 4 IN (1, 3) THEN 'resolved'
        |    ELSE 'final' END AS status,
        |  CASE
        |    WHEN doc_id % 20 = 5 THEN 'Missing ' || doc_id
        |    WHEN doc_id % 4 = 3 AND doc_id % 20 = 7
        |      THEN 'Missing ' || (doc_id - 2)
        |    WHEN doc_id % 4 = 1 THEN 'Article ' || (doc_id - 1)
        |    WHEN doc_id % 4 = 3 THEN 'Article ' || (doc_id - 3)
        |    ELSE 'Article ' || doc_id END AS resolved_title,
        |  CAST(CASE
        |    WHEN doc_id % 20 = 5 THEN 1
        |    WHEN doc_id % 4 = 1 THEN 1
        |    WHEN doc_id % 4 = 3 THEN 2
        |    ELSE 0 END AS BIGINT) AS hops
        |FROM documents ORDER BY doc_id""".stripMargin),

    // MAIL-ATTACHMENT mining — the cross-family capstone list archives
    // demand: mailbox explode → MIME walk → NON-text leaves decoded
    // (base64, filename from Content-Disposition) → magic-routed
    // document extraction (pdf/docx/rtf/xls by id%4, one shared
    // template). Documents riding mail never cross an exchange either:
    // the whole lane is one map-side flatMap.
    Contract("tx_mail_attachments", (s, dir) => {
      import s.implicits._
      val ing = graft.operators.Ingest
      ing.attachmentArchives(s, dir)
        .flatMap { r =>
          graft.operators.Mail.splitMbox(r.content).flatMap { m =>
            val parsed = graft.operators.Mail.parseMessage(m)
            val id = parsed.messageId.stripPrefix("<graft:")
              .takeWhile(_ != '@').toLong
            graft.operators.Mail.attachments(m).map { a =>
              val probe = graft.operators.Multimodal.probeBytes(id, a.bytes)
              val text = probe.container match {
                case "pdf" => graft.operators.PdfCodec.extractText(a.bytes)
                  .pages.mkString("\n")
                case "rtf" => graft.operators.Rtf.extractText(a.bytes)
                case _ => graft.operators.OfficeCodec.extractText(a.bytes).text
              }
              (id, a.filename, probe.container, parsed.text,
                text.length.toLong)
            }
          }
        }
        .toDF("doc_id", "filename", "container", "cover", "n_chars")
        .orderBy(col("doc_id"))
    },
      // the attachment walk replayed: filename/container by id%4, the
      // shared extraction template's LENGTH, the cover note exact
      """WITH d AS (SELECT doc_id,
        |    CASE doc_id % 4 WHEN 0 THEN 'pdf' WHEN 1 THEN 'docx'
        |      WHEN 2 THEN 'rtf' ELSE 'xls' END AS ext
        |  FROM documents)
        |SELECT doc_id,
        |  'doc' || doc_id || '.' || ext AS filename,
        |  ext AS container,
        |  'Cover note ' || doc_id AS cover,
        |  CAST(LENGTH('Attached doc ' || doc_id || ' — café ' ||
        |    (doc_id % 9)) AS BIGINT) AS n_chars
        |FROM d ORDER BY doc_id""".stripMargin),

    // FEED-DRIVEN discovery: RSS/Atom feeds (the channel that announces
    // new urls before sitemaps or the link graph see them) parsed through
    // the hardened XML walk, entries anti-joined against the known
    // frontier — new urls surface per host with their announcement day.
    // Feeds are host-grain KB dims; the 100 TB side is the FRONTIER, so
    // the plan must never shuffle or broadcast it: the frontier is probed
    // ONCE through a left-semi BroadcastHashJoin with the entries urls as
    // the build side (an outer join preserving entries could only ever
    // broadcast the frontier — Spark builds the non-preserved side — so
    // the flag is derived in two dim-grain steps instead), and the
    // resulting known-url set (≤ the entries size) flags the entries in a
    // second broadcast join. Both exchanges carry dims; frontier rows
    // stream.
    Contract("tx_feed_discovery", (s, dir) => {
      import s.implicits._
      val ing = graft.operators.Ingest
      val entries = ing.feedArchives(s, dir)
        .flatMap { r =>
          graft.operators.Feeds.parse(r.content).map(e =>
            (r.media_id, e.kind, e.link, e.published))
        }
        .toDF("host_k", "kind", "url", "published")
      val frontier = t(s, dir, "documents")
        .select(concat(lit("http://src"), col("doc_id") % 20,
          lit(".invalid/post/"), col("doc_id")).as("url"))
      val knownUrls = frontier
        .join(broadcast(entries.select(col("url")).distinct()),
          Seq("url"), "left_semi")
        .withColumn("known", lit(1L))
      val flagged = entries.join(broadcast(knownUrls), Seq("url"), "left_outer")
      flagged
        .groupBy(col("host_k"))
        .agg(max(col("kind")).as("kind"),
          count(lit(1)).as("n_entries"),
          sum(coalesce(col("known"), lit(0L))).as("n_known"),
          sum(when(col("known").isNull, 1L).otherwise(0L)).as("n_new"),
          sum(when(col("known").isNull,
            regexp_extract(col("url"), "new-(\\d+)$", 1).cast("long"))
            .otherwise(0L)).as("new_id_sum"))
        .select(concat(lit("src"), col("host_k"), lit(".invalid")).as("host"),
          col("kind"), col("n_entries"), col("n_known"), col("n_new"),
          col("new_id_sum"))
        .orderBy(col("host"))
    },
      // feed discovery replayed: every known post announced, id%3==0 docs
      // add one new url each; kind by host parity
      """WITH d AS (SELECT doc_id, doc_id % 20 AS k FROM documents),
        |a AS (SELECT k, COUNT(*) AS n_known,
        |    CAST(SUM(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_new,
        |    CAST(SUM(CASE WHEN doc_id % 3 = 0 THEN doc_id ELSE 0 END)
        |      AS BIGINT) AS new_id_sum
        |  FROM d GROUP BY k)
        |SELECT 'src' || k || '.invalid' AS host,
        |  CASE WHEN k % 2 = 0 THEN 'rss' ELSE 'atom' END AS kind,
        |  n_known + n_new AS n_entries, n_known, n_new, new_id_sum
        |FROM a ORDER BY host""".stripMargin),

    // the TRANSFER-DECODE seam: wild WARC captures store bodies exactly
    // as the server sent them, so Content-Encoding must be undone before
    // charset/boilerplate/PDF work. The corpus exercises the whole
    // routing table — gzip, spec deflate (zlib), the wild-server RAW
    // deflate under the same token (decode retries unwrapped), identity,
    // bzip2 (the from-scratch walk, both CRCs verified), and an
    // unsupported brotli token that DIVERTS with the original
    // bytes kept and the reject named. Decoded text is pinned exactly.
    // Scale shape: per-record scalar decode inside the archive explode's
    // partition — bodies never shuffle to be decoded.
    Contract("tx_content_encoding", (s, dir) => {
      import s.implicits._
      val ing = graft.operators.Ingest
      ing.ingestWarc(ing.encodedArchives(s, dir))
        .filter(col("warc_type") === "response")
        .select(col("url"), col("http_content_encoding").as("encoding"),
          col("body"))
        .as[(String, String, Array[Byte])]
        .map { case (url, enc, body) =>
          val id = url.substring(url.lastIndexOf('/') + 1).toLong
          val d = graft.operators.HttpPayload.decodeTransfer(body, enc)
          (id, enc, d.clean, d.reason, d.body.length.toLong,
            new String(d.body, java.nio.charset.StandardCharsets.UTF_8))
        }
        .toDF("doc_id", "encoding", "clean", "reason", "n_bytes", "text")
        .orderBy(col("doc_id"))
    },
      // the transfer-decode seam replayed: token by id%5 (both deflate
      // variants surface the same header token), decoded text and its BYTE
      // length from the payload template, the brotli rows diverted with the
      // named reject and their raw (= plain-text) bytes kept
      """WITH d AS (SELECT doc_id, 1 + doc_id % 3 AS n,
        |    CASE doc_id % 9 WHEN 0 THEN 'gzip' WHEN 1 THEN 'deflate'
        |      WHEN 2 THEN 'deflate' WHEN 3 THEN '' WHEN 4 THEN 'bzip2'
        |      WHEN 6 THEN 'xz' WHEN 7 THEN 'lz4' WHEN 8 THEN 'compress'
        |      ELSE 'br' END AS encoding
        |  FROM documents),
        |t2 AS (SELECT doc_id, encoding,
        |    repeat('payload ' || doc_id || ' café' || chr(10), CAST(n AS INT))
        |      AS text
        |  FROM d)
        |SELECT doc_id, encoding,
        |  doc_id % 9 <> 5 AS clean,
        |  CASE WHEN doc_id % 9 = 5
        |    THEN 'http: unsupported content-encoding ''br'''
        |    ELSE '' END AS reason,
        |  CAST(strlen(text) AS BIGINT) AS n_bytes,
        |  text
        |FROM t2 ORDER BY doc_id""".stripMargin),

    // the 1.5-PROFILE roundtrip: the same per-doc fabrication idea as
    // tx_pdf_text but written the MODERN way — catalog/pages/font/page
    // dicts packed in a compressed object stream (§7.5.7), located by a
    // cross-reference STREAM with /W widths and the PNG Up predictor
    // (§7.5.8) — and extracted back through the type-2 entry walk. Same
    // scale shape as tx_pdf_text: map-only per-record work.
    Contract("tx_pdf_text15", (s, dir) => {
      import s.implicits._
      val docs = docIds(s, dir)
        .map { id =>
          val pages = (0 until (1 + id % 3).toInt).map(p =>
            s"Doc $id v1.5 page $p ‘€${id % 9}’\nmodern ${id % 7} (p$p)")
          val got = graft.operators.PdfCodec.extractText(
            graft.operators.PdfCodec.write15(pages))
          (id, got.nPages.toLong, got.pages)
        }.toDF("doc_id", "n_pages", "pages")
      docs.select(col("doc_id"), col("n_pages"),
          posexplode(col("pages")).as(Seq("page_idx", "text")))
        .select(col("doc_id"), col("n_pages"),
          col("page_idx").cast("long").as("page_idx"), col("text"),
          length(col("text")).cast("long").as("n_chars"))
        .orderBy(col("doc_id"), col("page_idx"))
    },
      // the 1.5-profile roundtrip replayed: same doc_id arithmetic as
      // tx_pdf_text, new template — the writer/extractor pair guarantees
      // the bytes, DuckDB guarantees the text
      """WITH d AS (SELECT doc_id, 1 + doc_id % 3 AS n_pages FROM documents),
        |p AS (SELECT doc_id, n_pages,
        |    UNNEST(GENERATE_SERIES(0, n_pages - 1)) AS page_idx FROM d),
        |t2 AS (SELECT doc_id, n_pages, page_idx,
        |    'Doc ' || doc_id || ' v1.5 page ' || page_idx || ' ‘€' ||
        |    (doc_id % 9) || '’' || chr(10) || 'modern ' || (doc_id % 7) ||
        |    ' (p' || page_idx || ')' AS text
        |  FROM p)
        |SELECT doc_id, CAST(n_pages AS BIGINT) AS n_pages,
        |  CAST(page_idx AS BIGINT) AS page_idx, text,
        |  CAST(LENGTH(text) AS BIGINT) AS n_chars
        |FROM t2 ORDER BY doc_id, page_idx""".stripMargin),

    // the §7.4 FILTER FAMILY in situ: each document's content streams go
    // through the cascade id%5 picks (LZW / ASCIIHex / ASCII85 /
    // RunLength / ASCII85+Flate), write and extract — so every filter
    // decoder is driver-verified inside a real file, not just unit-
    // tested. Map-only per-record work.
    Contract("tx_pdf_filters", (s, dir) => {
      import s.implicits._
      docIds(s, dir)
        .map { id =>
          val cascade = graft.operators.Ingest.modernCascade(id)
          val pages = (0 until (1 + id % 3).toInt).map(p =>
            s"Doc $id filtered page $p ‘…’\nchain ${id % 5} (p$p)")
          val got = graft.operators.PdfCodec.extractText(
            graft.operators.PdfCodec.writeWithFilters(pages, cascade))
          (id, cascade.mkString(">"), got.nPages.toLong,
            got.pages.map(_.length.toLong).sum)
        }.toDF("doc_id", "filter_chain", "n_pages", "n_chars")
        .orderBy(col("doc_id"))
    },
      // the filter family replayed: the cascade label from id%5 and the
      // char sum over the fabricated pages
      """WITH d AS (SELECT doc_id, 1 + doc_id % 3 AS n_pages,
        |    CASE doc_id % 5 WHEN 0 THEN 'LZWDecode'
        |      WHEN 1 THEN 'ASCIIHexDecode' WHEN 2 THEN 'ASCII85Decode'
        |      WHEN 3 THEN 'RunLengthDecode'
        |      ELSE 'ASCII85Decode>FlateDecode' END AS filter_chain
        |  FROM documents),
        |p AS (SELECT doc_id, n_pages, filter_chain,
        |    UNNEST(GENERATE_SERIES(0, n_pages - 1)) AS page_idx FROM d),
        |c AS (SELECT doc_id, ANY_VALUE(filter_chain) AS filter_chain,
        |    ANY_VALUE(n_pages) AS n_pages,
        |    SUM(LENGTH('Doc ' || doc_id || ' filtered page ' || page_idx ||
        |      ' ‘…’' || chr(10) || 'chain ' || (doc_id % 5) || ' (p' ||
        |      page_idx || ')')) AS n_chars
        |  FROM p GROUP BY doc_id)
        |SELECT doc_id, filter_chain, CAST(n_pages AS BIGINT) AS n_pages,
        |  CAST(n_chars AS BIGINT) AS n_chars
        |FROM c ORDER BY doc_id""".stripMargin),

    // the `.warc.zst` ingest seam: archives in the IIPC zstd layout (one
    // frame per record; even archives dictionary-led, odd dict-less)
    // explode through the SAME ingestWarc walk as gzip/plain — the
    // compression transparency a Common-Crawl-shaped corpus needs now
    // that CC publishes zstd. Map-only explode, bodies never shuffle.
    Contract("tx_warc_zstd", (s, dir) => {
      import s.implicits._
      val ing = graft.operators.Ingest
      ing.ingestWarc(ing.zstdArchives(s, dir))
        .filter(col("warc_type") === "response")
        .select(col("url"), col("body"))
        .as[(String, Array[Byte])]
        .map { case (url, body) =>
          val id = url.substring(url.lastIndexOf('/') + 1).toLong
          (id, new String(body, java.nio.charset.StandardCharsets.UTF_8))
        }.toDF("doc_id", "text")
        .select(col("doc_id"), col("text"),
          length(col("text")).cast("long").as("n_chars"))
        .orderBy(col("doc_id"))
    },
      // the .warc.zst ingest replayed from the body template
      """WITH t2 AS (SELECT doc_id,
        |    '<html>doc ' || doc_id || ' on src' || (doc_id % 20) ||
        |    ' café ×' || (1 + doc_id % 3) || '</html>' AS text
        |  FROM documents)
        |SELECT doc_id, text, CAST(LENGTH(text) AS BIGINT) AS n_chars
        |FROM t2 ORDER BY doc_id""".stripMargin),

    // Content-Encoding: zstd (RFC 9659) through the transfer-decode
    // seam — the id%3 routing exercises zstd next to gzip and identity
    // so the new token rides the exact same divert-or-decode table.
    Contract("tx_zstd_encoding", (s, dir) => {
      import s.implicits._
      val ing = graft.operators.Ingest
      ing.ingestWarc(ing.encodedArchives(s, dir,
          modeOf = id => Seq("zstd", "gzip", "")((id % 3).toInt)))
        .filter(col("warc_type") === "response")
        .select(col("url"), col("http_content_encoding").as("encoding"),
          col("body"))
        .as[(String, String, Array[Byte])]
        .map { case (url, enc, body) =>
          val id = url.substring(url.lastIndexOf('/') + 1).toLong
          val d = graft.operators.HttpPayload.decodeTransfer(body, enc)
          (id, enc, d.clean, d.body.length.toLong,
            new String(d.body, java.nio.charset.StandardCharsets.UTF_8))
        }
        .toDF("doc_id", "encoding", "clean", "n_bytes", "text")
        .orderBy(col("doc_id"))
    },
      // Content-Encoding zstd next to gzip and identity: every row decodes
      // clean, text and BYTE length replay from the payload template
      """WITH d AS (SELECT doc_id, 1 + doc_id % 3 AS n,
        |    CASE doc_id % 3 WHEN 0 THEN 'zstd' WHEN 1 THEN 'gzip'
        |      ELSE '' END AS encoding
        |  FROM documents),
        |t2 AS (SELECT doc_id, encoding,
        |    repeat('payload ' || doc_id || ' café' || chr(10), CAST(n AS INT))
        |      AS text
        |  FROM d)
        |SELECT doc_id, encoding, TRUE AS clean,
        |  CAST(strlen(text) AS BIGINT) AS n_bytes, text
        |FROM t2 ORDER BY doc_id""".stripMargin),

    // the MODERN-STACK capstone: `.warc.zst` archives carrying PDF 1.5
    // files (even docs: object + xref streams; odd docs: classic files
    // under the id%5 filter cascade), every fifth /Encrypt-spliced so
    // the divert seam fires on the modern layout too — zstd framing,
    // 1.5 walk, filter family, and quarantine in ONE pipeline. Two
    // map-only walks, zero shuffles before the final projection.
    Contract("tx_pdf_modern", (s, dir) => {
      import s.implicits._
      val ing = graft.operators.Ingest
      ing.ingestWarc(ing.modernPdfArchives(s, dir))
        .filter(col("warc_type") === "response" &&
          col("http_content_type") === "application/pdf")
        .select(col("url"), col("body"))
        .as[(String, Array[Byte])]
        .map { case (url, body) =>
          val id = url.substring(url.lastIndexOf('/') + 1).toLong
          try {
            val t = graft.operators.PdfCodec.extractText(body)
            (id, "ok", t.nPages.toLong, t.pages.map(_.length.toLong).sum)
          } catch {
            case e: IllegalArgumentException => (id, e.getMessage, 0L, 0L)
          }
        }
        .toDF("doc_id", "status", "n_pages", "n_chars")
        .orderBy(col("doc_id"))
    },
      // the modern-stack capstone replayed: 1.5/filtered page counts and
      // char sums from the new template, every fifth row the named reject
      """WITH d AS (SELECT doc_id, 1 + doc_id % 3 AS n_pages FROM documents),
        |p AS (SELECT doc_id, n_pages,
        |    UNNEST(GENERATE_SERIES(0, n_pages - 1)) AS page_idx FROM d),
        |c AS (SELECT doc_id,
        |    SUM(LENGTH('Doc ' || doc_id || ' v1.5 page ' || page_idx ||
        |      ' ‘€' || (doc_id % 9) || '’' || chr(10) || 'modern ' ||
        |      (doc_id % 7) || ' (p' || page_idx || ')')) AS n_chars
        |  FROM p GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CASE WHEN d.doc_id % 5 = 0
        |    THEN 'pdf: encrypted (password required)' ELSE 'ok' END AS status,
        |  CAST(CASE WHEN d.doc_id % 5 = 0 THEN 0 ELSE d.n_pages END
        |    AS BIGINT) AS n_pages,
        |  CAST(CASE WHEN d.doc_id % 5 = 0 THEN 0 ELSE c.n_chars END
        |    AS BIGINT) AS n_chars
        |FROM d JOIN c ON c.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin),

    // ...and the PDF DIVERT seam: every fifth doc is an /Encrypt'd PDF —
    // the header-only probe keeps the container label with decodable =
    // false and no page count (it never throws), and the extract pass
    // reports the NAMED reject instead of killing the task. The status
    // column IS the quarantine reason the Quality seam files on.
    Contract("tx_pdf_quarantine", (s, dir) => {
      import s.implicits._
      docIds(s, dir)
        .map { id =>
          // the encrypted lane is REALLY encrypted now (standard security
          // handler, user password set), so the reject is the honest
          // "password required" — empty-password files decrypt instead
          // (tx_pdf_encrypted) and never reach quarantine
          val bytes =
            if (id % 5 == 0) graft.operators.PdfCodec.writeEncrypted(
              Seq(s"quarantine probe $id"),
              Seq("rc4-40", "rc4-128", "aes-128", "aes-256")(((id / 5) % 4).toInt),
              userPw = "locked")
            else graft.operators.PdfCodec.write(
              Seq(s"quarantine probe $id"), compress = false)
          val probe = graft.operators.Multimodal.probeBytes(id, bytes)
          val status =
            try { graft.operators.PdfCodec.extractText(bytes); "ok" }
            catch { case e: IllegalArgumentException => e.getMessage }
          (id, probe.container, probe.n_frames, probe.decodable, status)
        }
        .toDF("doc_id", "container", "n_pages", "decodable", "status")
        .orderBy(col("doc_id"))
    },
      """SELECT doc_id, 'pdf' AS container,
        |  CASE WHEN doc_id % 5 <> 0 THEN CAST(1 AS BIGINT) END AS n_pages,
        |  doc_id % 5 <> 0 AS decodable,
        |  CASE WHEN doc_id % 5 = 0 THEN 'pdf: encrypted (password required)'
        |    ELSE 'ok' END AS status
        |FROM documents ORDER BY doc_id""".stripMargin),

    // LEGACY POWERPOINT (.ppt) — the [MS-PPT] record-tree walk over the
    // CFB container: nested containers (Document → SlideListWithText →
    // Slide), both text atoms (TextBytesAtom low-byte lane; every 4th
    // doc carries a wide char so TextCharsAtom/UTF-16 rides the corpus),
    // paragraph marks mapped. Map-only per-record walk.
    Contract("tx_ppt_text", (s, dir) => {
      import s.implicits._
      docIds(s, dir)
        .map { id =>
          val nSlides = (1 + id % 3).toInt
          val slides = (0 until nSlides).map { k =>
            Seq(s"Slide $k of $id",
              s"Bullet ${id % 5} — café" + (if (id % 4 == 1) " 漢" else ""))
          }
          val texts = graft.operators.MsPpt.extractTexts(
            graft.operators.MsPpt.write(slides))
          (id, nSlides.toLong, texts)
        }
        .toDF("doc_id", "n_slides", "texts")
        .select(col("doc_id"), col("n_slides"),
          posexplode(col("texts")).as(Seq("slide_idx", "text")))
        .select(col("doc_id"), col("n_slides"),
          col("slide_idx").cast("long").as("slide_idx"), col("text"),
          length(col("text")).cast("long").as("n_chars"))
        .orderBy(col("doc_id"), col("slide_idx"))
    },
      // the PPT record walk replayed: per-slide text by arithmetic (the
      // wide-char lane only changes the ATOM type, never the text)
      """WITH d AS (SELECT doc_id, 1 + doc_id % 3 AS n_slides FROM documents),
        |sl AS (SELECT doc_id, n_slides,
        |    UNNEST(GENERATE_SERIES(0, n_slides - 1)) AS slide_idx FROM d),
        |t2 AS (SELECT doc_id, n_slides, slide_idx,
        |    'Slide ' || slide_idx || ' of ' || doc_id || chr(10) ||
        |    'Bullet ' || (doc_id % 5) || ' — café' ||
        |    CASE WHEN doc_id % 4 = 1 THEN ' 漢' ELSE '' END AS text
        |  FROM sl)
        |SELECT doc_id, CAST(n_slides AS BIGINT) AS n_slides,
        |  CAST(slide_idx AS BIGINT) AS slide_idx, text,
        |  CAST(LENGTH(text) AS BIGINT) AS n_chars
        |FROM t2 ORDER BY doc_id, slide_idx""".stripMargin),

    // LEGACY EXCEL (.xls, BIFF8) — the [MS-XLS] record walk over the
    // CFB container: SST shared strings (every 3rd doc written with a
    // tiny record cap, forcing REAL CONTINUE splits that resume
    // mid-string behind fresh width flags), LABELSST + RK + NUMBER cell
    // lanes, multi-sheet BOUNDSHEET offsets, a wide (UTF-16) string per
    // sheet. Cells flatten to rows; map-only per-record walk.
    Contract("tx_xls_text", (s, dir) => {
      import s.implicits._
      docIds(s, dir)
        .flatMap { id =>
          val nSheets = (1 + id % 2).toInt
          val sheets = (0 until nSheets).map { k =>
            s"S$k" -> Seq(
              Seq[Any](s"Cell $id-$k r0", id * 3 + k),
              Seq[Any](3.5, s"wide 日本 $id"))
          }
          val cap = if (id % 3 == 0) 64 else 8224
          val got = graft.operators.MsXls.extract(
            graft.operators.MsXls.write(sheets, maxRecordBytes = cap))
          got.cells.map(c =>
            (id, c.sheet.toLong, c.row.toLong, c.col.toLong, c.text))
        }
        .toDF("doc_id", "sheet", "row", "col", "text")
        .orderBy(col("doc_id"), col("sheet"), col("row"), col("col"))
    },
      // the BIFF8 walk replayed: four cells per sheet by arithmetic (the
      // CONTINUE-split lane changes bytes, never values)
      """WITH d AS (SELECT doc_id, 1 + doc_id % 2 AS ns FROM documents),
        |sh AS (SELECT doc_id, UNNEST(GENERATE_SERIES(0, ns - 1)) AS s
        |  FROM d),
        |cells AS (
        |  SELECT doc_id, s, 0 AS row, 0 AS col,
        |    'Cell ' || doc_id || '-' || s || ' r0' AS text FROM sh
        |  UNION ALL SELECT doc_id, s, 0, 1,
        |    CAST(doc_id * 3 + s AS VARCHAR) FROM sh
        |  UNION ALL SELECT doc_id, s, 1, 0, '3.5' FROM sh
        |  UNION ALL SELECT doc_id, s, 1, 1, 'wide 日本 ' || doc_id FROM sh)
        |SELECT doc_id, CAST(s AS BIGINT) AS sheet, CAST(row AS BIGINT) AS row,
        |  CAST(col AS BIGINT) AS col, text
        |FROM cells ORDER BY doc_id, sheet, row, col""".stripMargin),

    // ENCRYPTED legacy Excel — [MS-OFFCRYPTO] over FILEPASS, the .xls
    // analog of the encrypted-PDF lane: workbooks ciphered under
    // Excel's documented default password (VelvetSweatshop, tried
    // transparently on open) decrypt and extract without any secret;
    // handlers rotate by id%2 (97/2000 MD5-RC4 / RC4 CryptoAPI SHA-1),
    // per-1024-byte-block rekeying over the whole Workbook stream.
    // Every 7th workbook carries a REAL password and stays the named
    // reject. Map-only per-record decrypt+walk, nothing crosses an
    // exchange.
    Contract("tx_xls_encrypted", (s, dir) => {
      import s.implicits._
      docIds(s, dir)
        .map { id =>
          val method = if (id % 2 == 0) "rc4" else "rc4capi"
          val sheets = Seq("S0" -> Seq(
            Seq[Any](s"Secret cell $id — café", id * 7),
            Seq[Any](s"wide 機密 $id", id.toDouble / 2)))
          val locked = id % 7 == 0
          val bytes = graft.operators.MsXls.write(sheets, encryption = method,
            password = if (locked) "actual-secret"
            else graft.operators.OffCrypto.DefaultXlsPassword)
          try {
            val t = graft.operators.MsXls.extract(bytes)
            (id, method, "ok", t.cells.length.toLong, t.text)
          } catch {
            case e: IllegalArgumentException => (id, method, e.getMessage, 0L, "")
          }
        }
        .toDF("doc_id", "method", "status", "n_cells", "text")
        .orderBy(col("doc_id"))
    },
      // the FILEPASS lane replayed: handler by id%2, default-password
      // workbooks extract their exact tab/newline-joined cell text
      // (RK renders integral, NUMBER keeps the .5), every 7th stays the
      // named reject with 0 cells
      """WITH d AS (SELECT doc_id,
        |    CASE WHEN doc_id % 2 = 0 THEN 'rc4' ELSE 'rc4capi' END AS method,
        |    doc_id % 7 = 0 AS locked,
        |    'Secret cell ' || doc_id || ' — café' || chr(9) ||
        |      (doc_id * 7) || chr(10) || 'wide 機密 ' || doc_id || chr(9) ||
        |      CASE WHEN doc_id % 2 = 0 THEN CAST(doc_id // 2 AS VARCHAR)
        |        ELSE (doc_id // 2) || '.5' END AS text
        |  FROM documents)
        |SELECT doc_id, method,
        |  CASE WHEN locked THEN 'xls: encrypted workbook (password required)'
        |    ELSE 'ok' END AS status,
        |  CASE WHEN locked THEN CAST(0 AS BIGINT)
        |    ELSE CAST(4 AS BIGINT) END AS n_cells,
        |  CASE WHEN locked THEN '' ELSE text END AS text
        |FROM d ORDER BY doc_id""".stripMargin),

    // ENCRYPTED MODERN OFFICE (.docx under [MS-OFFCRYPTO] §2.3.4) — the
    // largest readable-but-rejected class closed: schemes rotate by id%2
    // (Standard AES-ECB with the 50k SHA-1 KDF / Agile AES-CBC SHA-512
    // with the HMAC dataIntegrity gate), packages ciphered under
    // Office's transparent-open default password decrypt and extract
    // without any secret; every 7th document carries a REAL password
    // and stays the named reject. The iterated KDF is cached per
    // distinct credential (two per corpus), so the per-record cost is
    // the AES, not the spin. Map-only per-record decrypt + OPC walk.
    Contract("tx_office_encrypted", (s, dir) => {
      import s.implicits._
      docIds(s, dir)
        .map { id =>
          val scheme = if (id % 2 == 0) "standard" else "agile"
          val paras = Seq(
            s"Protected doc $id — café",
            s"body ${id % 5} 機密 content")
          val pkg = graft.operators.OfficeCodec.writeDocx(paras)
          val locked = id % 7 == 0
          val pw = if (locked) "actual-secret"
            else graft.operators.OoxmlCrypto.DefaultPassword
          val bytes =
            if (scheme == "standard")
              graft.operators.OoxmlCrypto.writeStandard(pkg, pw)
            else graft.operators.OoxmlCrypto.writeAgile(pkg, pw)
          try {
            val t = graft.operators.OfficeCodec.extractText(bytes)
            (id, scheme, "ok", t.nParagraphs.toLong, t.text)
          } catch {
            case e: IllegalArgumentException => (id, scheme, e.getMessage, 0L, "")
          }
        }
        .toDF("doc_id", "scheme", "status", "n_paragraphs", "text")
        .orderBy(col("doc_id"))
    },
      // the modern-Office encryption lane replayed: scheme by id%2, default-
      // password documents extract their exact newline-joined paragraphs,
      // every 7th stays the named reject (message names its scheme's verifier)
      """WITH d AS (SELECT doc_id,
        |    CASE WHEN doc_id % 2 = 0 THEN 'standard' ELSE 'agile' END AS scheme,
        |    doc_id % 7 = 0 AS locked,
        |    'Protected doc ' || doc_id || ' — café' || chr(10) ||
        |      'body ' || (doc_id % 5) || ' 機密 content' AS text
        |  FROM documents)
        |SELECT doc_id, scheme,
        |  CASE WHEN NOT locked THEN 'ok'
        |    WHEN scheme = 'standard'
        |      THEN 'ooxml-crypto: password required (standard verifier mismatch)'
        |    ELSE 'ooxml-crypto: password required (agile verifier mismatch)'
        |  END AS status,
        |  CASE WHEN locked THEN CAST(0 AS BIGINT)
        |    ELSE CAST(2 AS BIGINT) END AS n_paragraphs,
        |  CASE WHEN locked THEN '' ELSE text END AS text
        |FROM d ORDER BY doc_id""".stripMargin),

    // ENCRYPTED PDFs — the standard security handler (ISO 32000-1
    // §7.6.3 / 32000-2 §7.6.4) over the dominant wild class: documents
    // whose OWNER password restricts editing but whose USER password is
    // empty, readable without any secret. Ciphers rotate by id%4
    // (RC4-40 / RC4-128 / AES-128-CBC / AES-256 R6); every 7th document
    // carries a REAL user password and stays the named reject — only
    // truly-locked files quarantine now. Map-only per-record decrypt +
    // extract; keys derive per record, nothing crosses an exchange.
    Contract("tx_pdf_encrypted", (s, dir) => {
      import s.implicits._
      docIds(s, dir)
        .map { id =>
          val method =
            Seq("rc4-40", "rc4-128", "aes-128", "aes-256")((id % 4).toInt)
          val pages = (0 until (1 + id % 2).toInt).map(p =>
            s"Secret doc $id page $p ‘café’\nciphered ${id % 5} — (p$p)")
          val locked = id % 7 == 0
          val bytes = graft.operators.PdfCodec.writeEncrypted(pages, method,
            userPw = if (locked) "secret" else "")
          try {
            val t = graft.operators.PdfCodec.extractText(bytes)
            (id, method, "ok", t.nPages.toLong,
              t.pages.map(_.length.toLong).sum)
          } catch {
            case e: IllegalArgumentException => (id, method, e.getMessage, 0L, 0L)
          }
        }
        .toDF("doc_id", "method", "status", "n_pages", "n_chars")
        .orderBy(col("doc_id"))
    },
      // the standard-security handler replayed: ciphers rotate by id%4,
      // every 7th doc is REALLY user-locked (the named reject with 0/0),
      // the rest decrypt with the empty password and their page text is
      // the same doc_id arithmetic every PDF oracle uses
      """WITH d AS (SELECT doc_id,
        |    CASE doc_id % 4 WHEN 0 THEN 'rc4-40' WHEN 1 THEN 'rc4-128'
        |      WHEN 2 THEN 'aes-128' ELSE 'aes-256' END AS method,
        |    1 + doc_id % 2 AS n_pages, doc_id % 7 = 0 AS locked
        |  FROM documents),
        |p AS (SELECT doc_id, n_pages,
        |    UNNEST(GENERATE_SERIES(0, n_pages - 1)) AS page_idx FROM d),
        |c AS (SELECT doc_id,
        |    SUM(LENGTH('Secret doc ' || doc_id || ' page ' || page_idx ||
        |        ' ‘café’' || chr(10) || 'ciphered ' || (doc_id % 5) ||
        |        ' — (p' || page_idx || ')')) AS n_chars
        |  FROM p GROUP BY doc_id)
        |SELECT d.doc_id, d.method,
        |  CASE WHEN d.locked THEN 'pdf: encrypted (password required)'
        |    ELSE 'ok' END AS status,
        |  CASE WHEN d.locked THEN 0 ELSE CAST(d.n_pages AS BIGINT) END AS n_pages,
        |  CASE WHEN d.locked THEN 0 ELSE CAST(c.n_chars AS BIGINT) END AS n_chars
        |FROM d JOIN c USING (doc_id) ORDER BY doc_id""".stripMargin),

    // CJK PDFs — composite Type0/CID fonts (ISO 32000-1 §9.7) decoded
    // through their /ToUnicode CMap (§9.10.3): Identity-H 2-byte codes,
    // bfchar + bfrange blocks genuinely parsed (ASCII rides bfrange,
    // CJK rides bfchar in the fixture's identity CMap). Scripts rotate
    // by id%4 (han/hanzi/hangul/kana); every 5th document OMITS the
    // ToUnicode CMap — the truly-undecodable shape — and must stay the
    // NAMED reject, so the lane asserts only unmapped fonts divert.
    // Map-only per-record decode, same shape as every document lane.
    Contract("tx_pdf_cjk", (s, dir) => {
      import s.implicits._
      docIds(s, dir)
        .map { id =>
          val phrase = Seq("漢字処理", "中文文本", "한국어 텍스트",
            "日本語テキスト")((id % 4).toInt)
          val pages = (0 until (1 + id % 2).toInt).map(p =>
            s"文書 $id 頁 $p — $phrase\n行 ${id % 7} 内容 café ($p)")
          val bytes = graft.operators.PdfCodec.writeCjk(pages,
            toUnicode = id % 5 != 0)
          try {
            val t = graft.operators.PdfCodec.extractText(bytes)
            (id, "ok", t.nPages.toLong, t.pages.mkString("\n"),
              t.pages.map(_.length.toLong).sum)
          } catch {
            case e: IllegalArgumentException => (id, e.getMessage, 0L, "", 0L)
          }
        }
        .toDF("doc_id", "status", "n_pages", "text", "n_chars")
        .orderBy(col("doc_id"))
    },
      // the ToUnicode walk replayed: script by id%4, page text by exact
      // arithmetic; id%5==0 omits the CMap and stays the named reject.
      // n_chars sums PAGE lengths (the page-joining newlines subtract out)
      """WITH d AS (SELECT doc_id, 1 + doc_id % 2 AS n_pages,
        |    CASE doc_id % 4 WHEN 0 THEN '漢字処理' WHEN 1 THEN '中文文本'
        |      WHEN 2 THEN '한국어 텍스트' ELSE '日本語テキスト' END AS phrase,
        |    doc_id % 5 = 0 AS nomap
        |  FROM documents),
        |p AS (SELECT doc_id, n_pages, nomap, phrase,
        |    UNNEST(GENERATE_SERIES(0, n_pages - 1)) AS pg FROM d),
        |t AS (SELECT doc_id, n_pages, nomap,
        |    STRING_AGG('文書 ' || doc_id || ' 頁 ' || pg || ' — ' || phrase ||
        |        chr(10) || '行 ' || (doc_id % 7) || ' 内容 café (' || pg || ')',
        |      chr(10) ORDER BY pg) AS text
        |  FROM p GROUP BY doc_id, n_pages, nomap)
        |SELECT doc_id,
        |  CASE WHEN nomap THEN 'pdf: composite (Type0) font unsupported' ||
        |      ' — needs a ToUnicode CMap' ELSE 'ok' END AS status,
        |  CASE WHEN nomap THEN 0 ELSE CAST(n_pages AS BIGINT) END AS n_pages,
        |  CASE WHEN nomap THEN '' ELSE text END AS text,
        |  CASE WHEN nomap THEN 0
        |    ELSE CAST(LENGTH(text) - (n_pages - 1) AS BIGINT) END AS n_chars
        |FROM t ORDER BY doc_id""".stripMargin),

    // HOST HEALTH from fetch outcomes — the feedback loop the politeness
    // surface was missing: per-host HTTP status mix out of the REAL
    // archive walk (statuses rotate per host via the (id div 20 + id%20)
    // rule, so error rates genuinely differ), exact integer error
    // permille, and a backoff verdict that DOUBLES the host's declared
    // Crawl-Delay (REAL robots parsing, as tx_budget_capacity) before
    // recomputing its hourly fetch capacity — error-heavy hosts lose
    // budget, healthy hosts keep theirs. Scale shape: map-only archive
    // explode carrying (host, status) only, ONE host-grain aggregate,
    // robots dim broadcast.
    Contract("tx_host_health", (s, dir) => {
      import s.implicits._
      val ing = graft.operators.Ingest
      val fetches = ing.ingestWarc(ing.statusArchives(s, dir))
        .filter(col("warc_type") === "response")
        .select(regexp_extract(col("url"), "//([^/]+)/", 1).as("host"),
          col("http_status").as("status"))
      val robots = t(s, dir, "documents")
        .select((col("doc_id") % 20).as("k")).distinct()
        .select(concat(lit("src"), col("k"), lit(".invalid")).as("host"),
          concat(lit("User-agent: graftbot\nCrawl-delay: "), col("k") % 5 + 1,
            lit("\n\nUser-agent: *\nCrawl-delay: 60\n")).as("robots_txt"))
        .as[(String, String)]
        .map { case (host, txt) =>
          (host, graft.operators.Robots.crawlDelay(
            graft.operators.Robots.parse(txt), "graftbot").getOrElse(60.0).toLong)
        }.toDF("host", "delay_s")
      fetches.groupBy(col("host"))
        .agg(count(lit(1)).as("n_fetches"),
          sum(when(col("status") >= 200 && col("status") < 300, 1L)
            .otherwise(0L)).as("n_2xx"),
          sum(when(col("status") >= 300 && col("status") < 400, 1L)
            .otherwise(0L)).as("n_3xx"),
          sum(when(col("status") >= 400 && col("status") < 500, 1L)
            .otherwise(0L)).as("n_4xx"),
          sum(when(col("status") >= 500, 1L).otherwise(0L)).as("n_5xx"))
        .withColumn("error_permille",
          expr("(n_4xx + n_5xx) * 1000 div n_fetches"))
        .withColumn("backoff", col("error_permille") >= 300)
        .join(broadcast(robots), Seq("host"))
        .withColumn("effective_delay_s",
          when(col("backoff"), col("delay_s") * 2).otherwise(col("delay_s")))
        .withColumn("capacity", expr("3600 div effective_delay_s"))
        .select(col("host"), col("n_fetches"), col("n_2xx"), col("n_3xx"),
          col("n_4xx"), col("n_5xx"), col("error_permille"), col("backoff"),
          col("delay_s"), col("effective_delay_s"), col("capacity"))
        .orderBy(col("host"))
    },
      // host health replayed from the rotation rule: status class from
      // q = (id div 20 + id%20) % 10, error permille exact-integer, the
      // backoff doubling and the capacity division both replayed
      """WITH f AS (SELECT doc_id, doc_id % 20 AS k,
        |    ((doc_id // 20) + (doc_id % 20)) % 10 AS q FROM documents),
        |a AS (SELECT k, COUNT(*) AS n_fetches,
        |    CAST(SUM(CASE WHEN q <= 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_2xx,
        |    CAST(SUM(CASE WHEN q = 6 THEN 1 ELSE 0 END) AS BIGINT) AS n_3xx,
        |    CAST(SUM(CASE WHEN q = 7 THEN 1 ELSE 0 END) AS BIGINT) AS n_4xx,
        |    CAST(SUM(CASE WHEN q >= 8 THEN 1 ELSE 0 END) AS BIGINT) AS n_5xx
        |  FROM f GROUP BY k),
        |b AS (SELECT k, n_fetches, n_2xx, n_3xx, n_4xx, n_5xx,
        |    (n_4xx + n_5xx) * 1000 // n_fetches AS error_permille,
        |    1 + k % 5 AS delay_s FROM a),
        |c AS (SELECT *, error_permille >= 300 AS backoff,
        |    CASE WHEN error_permille >= 300 THEN delay_s * 2
        |         ELSE delay_s END AS eff FROM b)
        |SELECT 'src' || k || '.invalid' AS host, n_fetches, n_2xx, n_3xx,
        |  n_4xx, n_5xx, error_permille, backoff,
        |  CAST(delay_s AS BIGINT) AS delay_s,
        |  CAST(eff AS BIGINT) AS effective_delay_s,
        |  CAST(3600 // eff AS BIGINT) AS capacity
        |FROM c ORDER BY host""".stripMargin),

    // PDF document metadata (§14.3.3) — the PROVENANCE half of PDF
    // mining: /Info title/author/producer/dates extracted header-only
    // (xref walk + one dict, no stream ever decompresses). The corpus
    // forces BOTH text-string encodings (§7.9.2.2): titles carry № —
    // outside PDFDocEncoding, so the writer emits UTF-16BE with the BOM —
    // while authors carry an ellipsis that PDFDocEncoding encodes at 0x83
    // (a DIFFERENT slot than WinAnsi's 0x85: the two tables are pinned
    // apart by the same fixture). Map-only per-record walk.
    Contract("tx_pdf_meta", (s, dir) => {
      import s.implicits._
      docIds(s, dir)
        .map { id =>
          val title = s"Report $id — ‘résumé’ №${id % 100}"
          val author = s"Author ${id % 7} (unit…)"
          val pdf = graft.operators.PdfCodec.write(
            Seq(s"body $id"), compress = id % 2 == 0,
            info = Seq("Title" -> title, "Author" -> author,
              "Producer" -> "graft 1.0",
              "CreationDate" -> s"D:2026010${1 + id % 9}000000Z"))
          val m = graft.operators.PdfCodec.info(pdf)
          (id, m.title.getOrElse(""), m.author.getOrElse(""),
            m.producer.getOrElse(""), m.created.getOrElse(""),
            m.subject.isEmpty)
        }
        .toDF("doc_id", "title", "author", "producer", "created", "no_subject")
        .orderBy(col("doc_id"))
    },
      // /Info provenance replayed from the templates: both text-string
      // encodings (UTF-16BE titles, PDFDocEncoding authors) decode back to
      // the same strings DuckDB concatenates
      """SELECT doc_id,
        |  'Report ' || doc_id || ' — ‘résumé’ №' || (doc_id % 100) AS title,
        |  'Author ' || (doc_id % 7) || ' (unit…)' AS author,
        |  'graft 1.0' AS producer,
        |  'D:2026010' || (1 + doc_id % 9) || '000000Z' AS created,
        |  TRUE AS no_subject
        |FROM documents ORDER BY doc_id""".stripMargin),

    // from seed RANKING to crawl PLAN: the host ranks (3 integer
    // iterations, as tx_link_rank) apportion a 10,000-page fetch budget —
    // exact largest-remainder across arithmetic shards (k % 4), exact
    // cumulative-rounding within each shard, sum(alloc) == 10000 to the
    // page. Every division is integer, so DuckDB replays the whole plan:
    // rank iterations AND both apportionment levels. Scale shape: the
    // only unpartitioned window runs over nShards rows (bounded by
    // construction); the host-grain pass is one shard-partitioned window.
    Contract("tx_crawl_budget", (s, dir) => {
      import s.implicits._
      val pages = docIds(s, dir)
        .map(id => graft.operators.Ingest.watPage(id))
        .toDF("url", "html")
      val links = pages.select(col("url"),
          explode(graft.operators.TextAnalysis.htmlOutlinks(
            col("html"), col("url"))).as("raw_dst"))
        .select(col("url"),
          graft.operators.TextAnalysis.urlNormalize(col("raw_dst")).as("dst"))
      val edges = graft.operators.LinkGraph.hostEdges(links, "url", "dst")
      val ranked = graft.operators.LinkGraph
        .rankHosts(edges, "src_host", "dst_host", iters = 3)
        .withColumn("shard",
          regexp_extract(col("host"), "src(\\d+)", 1).cast("long") % 4)
        .select(col("host"), col("shard"), col("rank"))
      graft.operators.LinkGraph
        .allocateBudget(ranked, "host", "rank", "shard", total = 10000L)
        .orderBy(col("host"))
    },
      // the tx_link_rank iteration replay feeding the two-level integer
      // apportionment: largest remainder across shards (k % 4), cumulative
      // rounding within — DuckDB's // and Spark's div agree on positives
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
        |sb AS (SELECT shard, ws, 10000 * ws // w AS base,
        |         (10000 * ws) % w AS rem FROM sw, g),
        |lo AS (SELECT CAST(10000 - SUM(base) AS BIGINT) AS leftover FROM sb),
        |rkd AS (SELECT shard, ws, base +
        |    CASE WHEN ROW_NUMBER() OVER (ORDER BY rem DESC, shard ASC)
        |      <= leftover THEN 1 ELSE 0 END AS bs
        |  FROM sb, lo),
        |cum AS (SELECT ranked.host, ranked.shard, ranked.rank, rkd.ws, rkd.bs,
        |    CAST(SUM(ranked.rank) OVER (PARTITION BY ranked.shard
        |      ORDER BY ranked.host) AS BIGINT) AS cw
        |  FROM ranked JOIN rkd USING (shard))
        |SELECT host, shard, rank,
        |  CAST((bs * cw // ws) - (bs * (cw - rank) // ws) AS BIGINT) AS alloc
        |FROM cum ORDER BY host""".stripMargin),

    // deterministic epoch shuffle: every epoch visits the corpus in a
    // different pseudorandom order that is a BIJECTION (two
    // multiplicative rounds mod the Mersenne prime 2^31-1) and pure
    // integer arithmetic, so DuckDB replays both epochs' exact ranks.
    // Shards are value ranges of the rank — the range-partition the real
    // epochShuffle writer uses — and n_ranks == n_docs per shard pins
    // injectivity; id_sum pins exact membership (epoch 0 and 1 place
    // different docs in each shard).
    Contract("tx_epoch_shuffle", (s, dir) => {
      val d = t(s, dir, "documents")
      val width = (2147483647L + 7L) / 8L // 8 rank-range shards
      def epochStats(epoch: Int) =
        d.select(col("doc_id"),
            graft.operators.Sampling.epochRank(col("doc_id"), epoch).as("rank"))
          .groupBy(col("rank"))
          .agg(count(lit(1)).as("cnt"), sum(col("doc_id")).as("ids"))
          .withColumn("shard", floor(col("rank") / lit(width)).cast("long"))
          .groupBy(col("shard"))
          .agg(sum(col("cnt")).as("n_docs"), count(lit(1)).as("n_ranks"),
            sum(col("ids")).as("id_sum"),
            min(col("rank")).as("rank_min"), max(col("rank")).as("rank_max"))
          .withColumn("epoch", lit(epoch.toLong))
      epochStats(0).unionByName(epochStats(1))
        .select(col("epoch"), col("shard"), col("n_docs"), col("n_ranks"),
          col("id_sum"), col("rank_min"), col("rank_max"))
        .orderBy(col("epoch"), col("shard"))
    },
      // both epochs' ranks replayed verbatim: two multiplicative rounds mod
      // 2^31-1 over the epoch-salted doc_id; shard = rank // width
      """WITH r AS (
        |  SELECT doc_id, e,
        |    ((((doc_id + e * 1013904223) % 2147483647) * 48271 % 2147483647)
        |      * 69621) % 2147483647 AS rank
        |  FROM documents, UNNEST(GENERATE_SERIES(0, 1)) AS t(e))
        |SELECT e AS epoch, rank // 268435456 AS shard,
        |  COUNT(*) AS n_docs, COUNT(DISTINCT rank) AS n_ranks,
        |  CAST(SUM(doc_id) AS BIGINT) AS id_sum,
        |  MIN(rank) AS rank_min, MAX(rank) AS rank_max
        |FROM r GROUP BY 1, 2 ORDER BY epoch, shard""".stripMargin),

    // quarantine re-admission, oracle-replayed END TO END: reference
    // histogram + quarantined slices are deterministic subsets of the
    // documents table, the per-source TVD is exact integer arithmetic, and
    // the readmit decision (tvd < threshold) is recomputed independently by
    // DuckDB — full row parity on (source, tvd, n_rows, readmitted).
    // Three slice kinds ride in the quarantine: in-distribution per-source
    // slices (low TVD -> readmitted), a 'drifted' source collapsed to a
    // single histogram bin (stays), and an 'unknown_src' absent from the
    // reference (null tvd, stays by definition).
    Contract("tx_quarantine_readmit", (s, dir) => {
      val d = t(s, dir, "documents")
      val tmp = java.nio.file.Files.createTempDirectory("graft_readmit")
      val refPath = tmp.resolve("reference").toString
      val quarPath = tmp.resolve("quarantine").toString
      val outPath = tmp.resolve("corpus").toString
      val bin = col("n_chars") % 8
      val good = d.filter(col("doc_id") % 3 =!= 0).select(col("source"), col("n_chars"))
      graft.streaming.StreamingQuarantine.writeReference(
        good.unionByName(good.withColumn("source", lit("drifted"))),
        "source", bin, refPath)
      val q0 = d.filter(col("doc_id") % 3 === 0)
        .select(col("source"), col("doc_id"), col("n_chars"))
      q0.unionByName(q0.filter(col("n_chars") % 8 === 0)
          .withColumn("source", lit("drifted")))
        .unionByName(q0.filter(col("doc_id") % 5 === 0)
          .withColumn("source", lit("unknown_src")))
        .withColumn("tvd", lit(null).cast("double"))
        .write.mode("overwrite").parquet(quarPath)
      graft.streaming.StreamingQuarantine.readmit(
          s, "source", bin, refPath, tvdThreshold = 0.35, outPath, quarPath)
        .select(col("source"), round(col("tvd"), 4).as("tvd"),
          col("n_rows"), col("readmitted"))
        .orderBy(col("source"))
    },
      """WITH good AS (
        |  SELECT source, n_chars % 8 AS bin FROM documents WHERE doc_id % 3 <> 0),
        |ref AS (
        |  SELECT source, bin, COUNT(*) AS n FROM (
        |    SELECT * FROM good UNION ALL SELECT 'drifted', bin FROM good)
        |  GROUP BY 1, 2),
        |q0 AS (
        |  SELECT source, doc_id, n_chars % 8 AS bin FROM documents WHERE doc_id % 3 = 0),
        |quar AS (
        |  SELECT source, bin FROM q0
        |  UNION ALL SELECT 'drifted', bin FROM q0 WHERE bin = 0
        |  UNION ALL SELECT 'unknown_src', bin FROM q0 WHERE doc_id % 5 = 0),
        |qh AS (SELECT source, bin, COUNT(*) AS n FROM quar GROUP BY 1, 2),
        |cells AS (
        |  SELECT source, bin, SUM(c0) AS c0, SUM(c1) AS c1 FROM (
        |    SELECT source, bin, n AS c0, 0 AS c1 FROM ref
        |    UNION ALL SELECT source, bin, 0, n FROM qh)
        |  GROUP BY 1, 2),
        |tot AS (SELECT source, SUM(c0) AS t0, SUM(c1) AS t1 FROM cells GROUP BY 1),
        |tvd AS (
        |  SELECT c.source, SUM(ABS(c.c1 * t.t0 - c.c0 * t.t1)) / (2.0 * t.t0 * t.t1) AS tvd
        |  FROM cells c JOIN tot t USING (source)
        |  WHERE t.t0 > 0 AND t.t1 > 0
        |  GROUP BY c.source, t.t0, t.t1),
        |nr AS (SELECT source, COUNT(*) AS n_rows FROM quar GROUP BY 1)
        |SELECT nr.source, ROUND(tvd.tvd, 4) AS tvd, nr.n_rows,
        |  COALESCE(tvd.tvd < 0.35, FALSE) AS readmitted
        |FROM nr LEFT JOIN tvd USING (source) ORDER BY source""".stripMargin),

    Contract("tx_lang_quality", (s, dir) => {
      val d = t(s, dir, "documents")
      // one text_stats pass feeds both language-ID and quality; both are
      // deterministic closed-form heuristics, so the DuckDB oracle recomputes
      // them from raw text (same stopword profiles, same component formulas)
      d.withColumn("_ts", graft.operators.TextAnalysis.textStats(col("text")))
        .select(col("doc_id"),
          graft.operators.TextAnalysis.langIdFrom(col("_ts")).as("lang_pred"),
          graft.operators.TextAnalysis.qualityScoreFrom(col("_ts")).as("quality"))
        .orderBy(col("doc_id"))
    },
      """WITH stats AS (
        |  SELECT doc_id,
        |    LENGTH(text) AS n_chars,
        |    LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(LOWER(text), '[^\p{L}]+'), x -> x != '') AS ws,
        |    LEN(REGEXP_EXTRACT_ALL(text, '\p{L}')) AS n_alpha,
        |    LEN(REGEXP_EXTRACT_ALL(text, '[[:punct:]]')) AS n_punct,
        |    LEN(REGEXP_EXTRACT_ALL(text, '[\x{4e00}-\x{9fff}\x{3040}-\x{30ff}]')) AS n_cjk
        |  FROM documents),
        |scored AS (
        |  SELECT doc_id, n_chars, n_alpha, n_punct, n_cjk,
        |    LEN(ws) AS n_words,
        |    LEN(LIST_FILTER(ws, w -> LIST_CONTAINS(['the','and','of','to','in','is','that','it','was','for','with','as','his','on','be'], w))) AS stop_en,
        |    LEN(LIST_FILTER(ws, w -> LIST_CONTAINS(['le','la','les','de','des','et','un','une','du','que','est','dans','pour','qui','pas'], w))) AS stop_fr,
        |    LEN(LIST_FILTER(ws, w -> LIST_CONTAINS(['el','la','los','las','de','y','que','en','un','una','es','por','con','para','su'], w))) AS stop_es,
        |    LEN(LIST_FILTER(ws, w -> LIST_CONTAINS(['der','die','das','und','in','von','zu','mit','ist','den','nicht','ein','eine','auf','als'], w))) AS stop_de,
        |    LEN(LIST_FILTER(ws, w -> LIST_CONTAINS(['als','and','auf','as','be','con','dans','das','de','den','der','des','die','du','ein','eine','el','en','es','est','et','for','his','in','is','ist','it','la','las','le','les','los','mit','nicht','of','on','para','pas','por','pour','que','qui','su','that','the','to','un','una','und','une','von','was','with','y','zu'], w))) AS stop_all
        |  FROM stats),
        |ratios AS (
        |  SELECT doc_id, n_cjk, stop_en, stop_fr, stop_es, stop_de,
        |    GREATEST(stop_en, stop_fr, stop_es, stop_de) AS best,
        |    CAST(n_chars AS DOUBLE) AS len,
        |    CASE WHEN n_chars > 0 THEN CAST(n_alpha AS DOUBLE) / n_chars ELSE 0.0 END AS alpha_ratio,
        |    CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE) / n_chars ELSE 0.0 END AS punct_ratio,
        |    CASE WHEN n_words > 0 THEN CAST(stop_all AS DOUBLE) / n_words ELSE 0.0 END AS stop_ratio,
        |    CASE WHEN n_words > 0 THEN CAST(n_alpha AS DOUBLE) / n_words ELSE 0.0 END AS mwl
        |  FROM scored)
        |SELECT doc_id,
        |  CASE WHEN n_cjk > 0 THEN 'zh'
        |       WHEN best <= 0 THEN 'und'
        |       WHEN stop_en = best THEN 'en'
        |       WHEN stop_fr = best THEN 'fr'
        |       WHEN stop_es = best THEN 'es'
        |       WHEN stop_de = best THEN 'de'
        |       ELSE 'und' END AS lang_pred,
        |  ROUND((
        |    (CASE WHEN len >= 200 AND len <= 50000 THEN 1.0 ELSE LEAST(len / 200.0, 1.0) END
        |     + LEAST(alpha_ratio / 0.6, 1.0))
        |     + (CASE WHEN punct_ratio <= 0.2 THEN 1.0 ELSE GREATEST(0.0, 1.0 - (punct_ratio - 0.2) * 5) END)
        |     + LEAST(stop_ratio / 0.05, 1.0)
        |     + (CASE WHEN mwl >= 2 AND mwl <= 12 THEN 1.0 ELSE 0.0 END)
        |  ) / 5.0, 4) AS quality
        |FROM ratios ORDER BY doc_id""".stripMargin),

    // HTML-to-text extraction — the first transform of every crawl pipeline.
    // Each document is wrapped in a deterministic page skeleton (head/style
    // block, comment, h1, script with markup-looking JS, entity showcase;
    // raw & and < in the body escaped, as any real serializer would), then
    // the single-pass native `html_to_text` recovers the visible text. The
    // oracle rebuilds the SAME page in SQL and replays the extraction as a
    // regex/REPLACE chain — full-string hash compare, so tag stripping,
    // script/comment elision, entity decoding, and whitespace collapse all
    // have to agree byte-for-byte. Map-only scalar: safe on a 100 TB scan.
    Contract("tx_html_extract", (s, dir) => {
      val d = t(s, dir, "documents")
      val esc = regexp_replace(regexp_replace(col("text"), "&", "&amp;"), "<", "&lt;")
      val html = concat(
        lit("<html><head><title>doc</title><style type=\"text/css\">p { color: #333; }</style></head><body><!-- id "),
        col("doc_id").cast("string"),
        lit(" --><h1>"), col("source"),
        lit("</h1>\n<p>"), esc,
        lit("</p><script type=\"text/javascript\">var n = 1 < 2 && \"</p>\";</script><div>&quot;fin&quot;&nbsp;&#8212;&nbsp;ok</div></body></html>"))
      d.select(col("doc_id"),
          graft.operators.TextAnalysis.htmlToText(html).as("extracted"))
        .orderBy(col("doc_id"))
    },
      // html_to_text replayed as a regex/REPLACE chain over the SAME page
      // construction (escape & and < first, wrap in skeleton, strip scripts/
      // styles/comments/tags, decode entities with &amp; last, collapse ASCII
      // whitespace) — full-string equality via the hash compare
      """WITH h AS (
        |  SELECT doc_id,
        |    '<html><head><title>doc</title><style type="text/css">p { color: #333; }</style></head><body><!-- id '
        |    || CAST(doc_id AS VARCHAR) || ' --><h1>' || source || '</h1>' || CHR(10) || '<p>'
        |    || REPLACE(REPLACE(text, '&', '&amp;'), '<', '&lt;')
        |    || '</p><script type="text/javascript">var n = 1 < 2 && "</p>";</script><div>&quot;fin&quot;&nbsp;&#8212;&nbsp;ok</div></body></html>'
        |      AS html
        |  FROM documents),
        |strip AS (
        |  SELECT doc_id,
        |    REGEXP_REPLACE(REGEXP_REPLACE(REGEXP_REPLACE(REGEXP_REPLACE(html,
        |      '<script[^>]*>.*?</script>', ' ', 'gs'),
        |      '<style[^>]*>.*?</style>', ' ', 'gs'),
        |      '<!--.*?-->', ' ', 'gs'),
        |      '<[^>]*>', ' ', 'g') AS t
        |  FROM h),
        |dec AS (
        |  SELECT doc_id,
        |    REPLACE(REPLACE(REPLACE(REPLACE(REPLACE(REPLACE(REPLACE(t,
        |      '&#8212;', CHR(8212)),
        |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        |      '&apos;', CHR(39)), '&nbsp;', ' '), '&amp;', '&') AS t
        |  FROM strip)
        |SELECT doc_id,
        |  TRIM(REGEXP_REPLACE(t, '[ \t\n\r\f\x0B]+', ' ', 'g')) AS extracted
        |FROM dec ORDER BY doc_id""".stripMargin),

    // HTML metadata extraction — the companion pass to tx_html_extract:
    // crawl pipelines keep (title, link density, heading structure) next to
    // the visible text for quality filters and dedup keys. Pure builtin
    // composition (regexp_extract/regexp_count are codegen'd; the title
    // fragment reuses html_to_text for decode+collapse), all replayed
    // verbatim in DuckDB. Link count varies per document (doc_id % 4 + 1
    // repeated anchors) so the counts are data, not constants.
    Contract("tx_html_metadata", (s, dir) => {
      val d = t(s, dir, "documents")
      val esc = regexp_replace(regexp_replace(col("text"), "&", "&amp;"), "<", "&lt;")
      val html = concat(
        lit("<html><head><title>Doc "), col("doc_id").cast("string"),
        lit(" — "), col("source"), lit("</title></head><body><h1>Doc</h1><h2>part one</h2>"),
        expr("repeat('<a href=\"/x\">link</a>', CAST(doc_id % 4 + 1 AS INT))"),
        lit("<p>"), esc, lit("</p><h3>notes</h3></body></html>"))
      d.select(col("doc_id"),
          graft.operators.TextAnalysis.htmlToText(
            regexp_extract(html, "(?s)<title[^>]*>(.*?)</title>", 1)).as("title"),
          regexp_count(html, lit("<a\\s")).as("n_links"),
          regexp_count(html, lit("<h[1-6][\\s>]")).as("n_headings"))
        .orderBy(col("doc_id"))
    },
      """WITH h AS (
        |  SELECT doc_id,
        |    '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) || ' — ' || source
        |    || '</title></head><body><h1>Doc</h1><h2>part one</h2>'
        |    || REPEAT('<a href="/x">link</a>', CAST(doc_id % 4 + 1 AS INT))
        |    || '<p>' || REPLACE(REPLACE(text, '&', '&amp;'), '<', '&lt;')
        |    || '</p><h3>notes</h3></body></html>' AS html
        |  FROM documents)
        |SELECT doc_id,
        |  TRIM(REGEXP_REPLACE(
        |    REGEXP_EXTRACT(html, '(?s)<title[^>]*>(.*?)</title>', 1),
        |    '[ \t\n\r\f\x0B]+', ' ', 'g')) AS title,
        |  CAST(LEN(REGEXP_EXTRACT_ALL(html, '<a\s')) AS INT) AS n_links,
        |  CAST(LEN(REGEXP_EXTRACT_ALL(html, '<h[1-6][\s>]')) AS INT) AS n_headings
        |FROM h ORDER BY doc_id""".stripMargin),

    // Unicode cleanup — NFC canonical composition + C0/DEL control strip
    // (keeping tab/newline/CR). The input plants the classic hazards after
    // each document: combining acute (e+U+0301), the ANGSTROM SIGN singleton
    // (U+212B -> U+00C5), control bytes, A+combining ring. DuckDB replays
    // with its own nfc_normalize + the same RE2 class — two independent
    // Unicode implementations must produce identical strings.
    Contract("tx_unicode_clean", (s, dir) => {
      val d = t(s, dir, "documents")
      val messy = concat(col("text"),
        lit(" Cafe\u0301 \u212B over\u0002flow\u0007 A\u030A"))
      d.select(col("doc_id"),
          graft.operators.TextAnalysis.unicodeClean(messy).as("cleaned"))
        .orderBy(col("doc_id"))
    },
      // independent Unicode implementation: DuckDB's nfc_normalize + the same
      // RE2 control class must produce byte-identical strings
      """SELECT doc_id,
        |  REGEXP_REPLACE(
        |    NFC_NORMALIZE(text || ' Cafe' || CHR(769) || ' ' || CHR(8491)
        |                  || ' over' || CHR(2) || 'flow' || CHR(7) || ' A' || CHR(778)),
        |    '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g') AS cleaned
        |FROM documents ORDER BY doc_id""".stripMargin)
  )
}
