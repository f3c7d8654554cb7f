package graft
package contracts

import graft.functions.GraftFunctions
import org.apache.spark.sql.functions._

import Shared._

/** `sim_*`: the similarity-search operators of the training-data
  * pipeline (embedding audit, exact and approximate nearest neighbours).
  */
object SimContracts {

  val all: Seq[Contract] = Seq(
    // embedding-corpus audit: the sanity gate before any ANN/near-dup run
    // (NaN or zero vectors poison cosine math silently)
    Contract("sim_embedding_stats", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val nrm = graft.operators.Similarity.norm(col("embedding"))
      e.select(nrm.as("_n"),
          exists(col("embedding"), x => isnan(x)).as("_has_nan"))
        .agg(count(lit(1)).as("n_vectors"),
          sum(when(col("_has_nan"), 1L).otherwise(0L)).as("n_nan"),
          sum(when(col("_n") === 0.0, 1L).otherwise(0L)).as("n_zero"),
          round(min(col("_n")), 4).as("norm_min"),
          round(avg(col("_n")), 4).as("norm_avg"),
          round(max(col("_n")), 4).as("norm_max"))
    },
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
        |  CAST(SUM(CASE WHEN has_nan THEN 1 ELSE 0 END) AS BIGINT) AS n_nan,
        |  CAST(SUM(CASE WHEN nrm = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
        |  ROUND(MIN(nrm), 4) AS norm_min,
        |  ROUND(AVG(nrm), 4) AS norm_avg,
        |  ROUND(MAX(nrm), 4) AS norm_max
        |FROM (
        |  SELECT SQRT(LIST_SUM(LIST_TRANSFORM(embedding,
        |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm,
        |    LEN(LIST_FILTER(embedding, x -> ISNAN(x))) > 0 AS has_nan
        |  FROM embeddings)""".stripMargin),

    // Affine int8 embedding quantization — 1 byte/dim vs 4 (the difference
    // between a 100 TB and a 25 TB embedding store). One map-side-combined
    // calibration pass (vec_minmax_agg), then map-only quantize/dequantize.
    // The oracle independently re-derives every per-dimension (mn, mx) via
    // unnest+group, and bound_ok asserts the analytic guarantee Spark-side:
    // every vector reconstructs within half a quantization step in EVERY
    // dimension (hard TRUE — it is a theorem, not a tolerance).
    Contract("sim_int8_quantize", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val mm = emb.agg(GraftFunctions.vec_minmax_agg(col("embedding")).as("_r"),
          count(lit(1)).as("n_vecs")).localCheckpoint()
      val deq = GraftFunctions.vec_dequantize8(
        GraftFunctions.vec_quantize8(col("embedding"), col("_r")), col("_r"))
      val rowOk = forall(
        zip_with(
          zip_with(col("embedding").cast("array<double>"), deq,
            (a, b) => abs(a - b)),
          transform(col("_r"),
            r => (r.getField("mx") - r.getField("mn")) / lit(510.0) + lit(1e-9)),
          (err, half) => err <= half),
        x => x)
      val ok = emb.crossJoin(broadcast(mm))
        .agg(min(rowOk).as("bound_ok"))
      mm.select(col("n_vecs"), posexplode(col("_r")).as(Seq("pos", "r")))
        .select(col("pos"), round(col("r.mn"), 6).as("mn"),
          round(col("r.mx"), 6).as("mx"), col("n_vecs"))
        .crossJoin(broadcast(ok))
        .orderBy(col("pos"))
    },
      // per-dimension calibration re-derived from raw lists; the bound is a
      // theorem, so bound_ok is a hard TRUE
      """WITH u AS (
        |  SELECT unnest(embedding) AS x,
        |    generate_subscripts(embedding, 1) AS i
        |  FROM embeddings),
        |d AS (
        |  SELECT i - 1 AS pos, MIN(x) AS mn0, MAX(x) AS mx0
        |  FROM u GROUP BY i),
        |n AS (SELECT COUNT(*) AS n_vecs FROM embeddings)
        |SELECT pos, ROUND(CAST(mn0 AS DOUBLE), 6) AS mn,
        |  ROUND(CAST(mx0 AS DOUBLE), 6) AS mx, n_vecs, TRUE AS bound_ok
        |FROM d, n ORDER BY pos""".stripMargin),

    Contract("sim_bruteforce_topk", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      graft.operators.Similarity.bruteForceTopK(e, "vec_id", "embedding",
          q, "qid", "qvec", k = 10, excludeSelf = true)
        .orderBy(col("query_id"), col("rank"))
    },
      """SELECT qid AS query_id, rank, vec_id AS neighbor_id, cos FROM (
        |  SELECT q.vec_id AS qid, c.vec_id,
        |    ROUND(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])), 4) AS cos,
        |    ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(CAST(c.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])) DESC, c.vec_id) AS rank
        |  FROM embeddings c, embeddings q
        |  WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id)
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin),

    // ANN contract shape: approximate top-k joined against the exact
    // brute-force top-k computed in the same query (cheap — 5 query vectors),
    // emitting per-query result count and recall@10. The recall values are
    // deterministic (fixed seeds/centroids) and golden-locked in the oracle;
    // n_results is structurally k. DuckDB cannot reproduce the index side,
    // but it CAN attest the locked recall stays put run over run.
    Contract("sim_ann_ivf", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val cents = graft.operators.Similarity.fitCentroids(e, "embedding", "vec_id",
        nlist = 16, sampleSize = 500)
      val approx = graft.operators.Similarity.ivfTopK(e, "vec_id", "embedding",
        q, "qid", "qvec", cents, k = 10, nprobe = 4, excludeSelf = true)
      val exact = graft.operators.Similarity.bruteForceTopK(e, "vec_id", "embedding",
        q, "qid", "qvec", k = 10, excludeSelf = true).select(col("query_id"), col("neighbor_id"))
      approx.join(exact, Seq("query_id", "neighbor_id"), "left_semi")
        .groupBy(col("query_id")).agg(count(lit(1)).as("_hits"))
        .join(approx.groupBy(col("query_id")).agg(count(lit(1)).as("n_results")), Seq("query_id"))
        .select(col("query_id"), col("n_results"),
          round(col("_hits") / 10.0, 2).as("recall_at_10"))
        .orderBy(col("query_id"))
    },
      """SELECT * FROM (VALUES
        |  (CAST(0 AS BIGINT), CAST(10 AS BIGINT), 0.9),
        |  (1, 10, 0.7), (2, 10, 0.6), (3, 10, 0.6), (4, 10, 0.6))
        |t(query_id, n_results, recall_at_10) ORDER BY query_id""".stripMargin),

    // LSH-bucketed ANN (the no-corpus-shuffle scale path): multi-table
    // sign-bit hyperplane buckets + Hamming-1 multi-probe on the broadcast
    // query side; only candidate pairs are ever shuffled
    Contract("sim_ann_lsh", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val planes = graft.operators.Similarity.randomHyperplaneTables(4, 4, 64)
      val approx = graft.operators.Similarity.lshTopK(e, "vec_id", "embedding",
        q, "qid", "qvec", planes, k = 10, excludeSelf = true)
      val exact = graft.operators.Similarity.bruteForceTopK(e, "vec_id", "embedding",
        q, "qid", "qvec", k = 10, excludeSelf = true).select(col("query_id"), col("neighbor_id"))
      approx.join(exact, Seq("query_id", "neighbor_id"), "left_semi")
        .groupBy(col("query_id")).agg(count(lit(1)).as("_hits"))
        .join(approx.groupBy(col("query_id")).agg(count(lit(1)).as("n_results")), Seq("query_id"))
        .select(col("query_id"), col("n_results"),
          round(col("_hits") / 10.0, 2).as("recall_at_10"))
        .orderBy(col("query_id"))
    },
      """SELECT * FROM (VALUES
        |  (CAST(0 AS BIGINT), CAST(10 AS BIGINT), 0.9),
        |  (1, 10, 0.8), (2, 10, 0.9), (3, 10, 1.0), (4, 10, 0.9))
        |t(query_id, n_results, recall_at_10) ORDER BY query_id""".stripMargin),

    // IVF index maintenance: a collapsed append batch must trigger the
    // refit executor for its hot bucket ONLY — frozen slots keep their
    // exact centroids — and re-running the fit stats against the updated
    // centroids (batch folded into the corpus) must show the batch fitting
    // its bucket tightly. All three invariants are deterministic booleans
    // (fixed seeds and centroids), so the oracle asserts them as hard
    // invariants, est_ok-style.
    Contract("sim_ivf_refit", (s, dir) => {
      import s.implicits._
      val e = t(s, dir, "embeddings")
      val corpus = e.filter(col("vec_id") % 2 === 0)
      val cents = graft.operators.Similarity.fitCentroids(corpus, "embedding", "vec_id",
        nlist = 16, sampleSize = 500)
      val collapsed = corpus.limit(200).withColumn("embedding",
        expr("transform(embedding, x -> float(0.1))"))
      val (updated, _, refit) = graft.operators.Similarity.ivfRefit(
        corpus, collapsed, "embedding", "vec_id", cents, fitDropThreshold = 0.2)
      val frozenOk = cents.indices.filterNot(refit.contains)
        .forall(b => updated(b).toSeq == cents(b).toSeq)
      val fitNew = graft.operators.Similarity.ivfAppendStats(
          corpus.unionByName(collapsed), collapsed, "embedding", updated)
        .filter(col("n_new") > 0)
        .agg(min(col("fit_new"))).collect()(0).getDouble(0)
      Seq((cents.length, refit.nonEmpty, frozenOk, fitNew > 0.99))
        .toDF("n_buckets", "refit_triggered", "frozen_ok", "fit_recovered")
    },
      """SELECT 16 AS n_buckets, TRUE AS refit_triggered,
        |  TRUE AS frozen_ok, TRUE AS fit_recovered""".stripMargin),

    // Streaming ANN index maintenance, batch-replayed through the EXACT
    // streaming code path (StreamingAnnIndex.maintainBatch drives both):
    // batch 0 bootstraps the centroid store, an in-distribution batch must
    // NOT refit (store byte-stable), a collapsed batch appended with HIGHER
    // ids — the append shape that exercises the per-side sample budgets —
    // must refit its hot bucket only (frozen slots byte-identical), and the
    // collapsed slice re-statted under the swapped-in store must fit
    // tightly. All invariants are deterministic booleans (fixed stores,
    // fixed seeds), asserted hard by the oracle, sim_ivf_refit-style.
    Contract("sim_ann_maintain", (s, dir) => {
      import s.implicits._
      val e = t(s, dir, "embeddings")
      val tmp = java.nio.file.Files.createTempDirectory("graft_annidx")
      val paths = graft.streaming.StreamingAnnIndex.IndexPaths(
        tmp.resolve("index").toString)
      // fitDropThreshold sits above the bootstrap's in-sample/out-of-sample
      // fit gap (~0.22 here, where the 500-sample covers the whole 250-row
      // toy batch — see the Config scaladoc); the collapse is detected by
      // share_drift, which has no in/out-of-sample asymmetry.
      val cfg = graft.streaming.StreamingAnnIndex.Config(
        nlist = 16, sampleSize = 500, fitDropThreshold = 0.35)
      val b0 = e.filter(col("vec_id") % 2 === 0)
        .select(col("vec_id"), col("embedding"))
      val b1 = e.filter(col("vec_id") % 2 === 1)
        .select(col("vec_id"), col("embedding"))
      val collapsed = b0.limit(200)
        .withColumn("embedding", expr("transform(embedding, x -> float(0.1))"))
        .withColumn("vec_id", col("vec_id") + lit(1000000L))
      def step(b: org.apache.spark.sql.DataFrame, id: Long) =
        graft.streaming.StreamingAnnIndex.maintainBatch(
          s, b, "vec_id", "embedding", paths, cfg, id)
      val r0 = step(b0, 0L)
      val c0 = graft.streaming.StreamingAnnIndex.readCentroids(s, paths)
      val r1 = step(b1, 1L)
      val c1 = graft.streaming.StreamingAnnIndex.readCentroids(s, paths)
      val r2 = step(collapsed, 2L)
      val c2 = graft.streaming.StreamingAnnIndex.readCentroids(s, paths)
      val stable = r1.isEmpty &&
        c0.indices.forall(b => c1(b).toSeq == c0(b).toSeq)
      val frozenOk = c1.indices.filterNot(r2.contains)
        .forall(b => c2(b).toSeq == c1(b).toSeq)
      val fitNew = graft.operators.Similarity.ivfAppendStats(
          b0.unionByName(b1).unionByName(collapsed), collapsed, "embedding", c2)
        .filter(col("n_new") > 0)
        .agg(min(col("fit_new"))).collect()(0).getDouble(0)
      Seq((cfg.nlist, r0.isEmpty && c0.length == cfg.nlist, stable,
          r2.nonEmpty, frozenOk, fitNew > 0.99))
        .toDF("n_buckets", "bootstrap_ok", "indist_stable",
          "refit_on_shift", "frozen_ok", "fit_recovered")
    },
      """SELECT 16 AS n_buckets, TRUE AS bootstrap_ok, TRUE AS indist_stable,
        |  TRUE AS refit_on_shift, TRUE AS frozen_ok,
        |  TRUE AS fit_recovered""".stripMargin),

    // PQ-compressed ANN (the 100 TB storage layout: byte codes + ADC scan +
    // exact re-rank); same recall-vs-in-query-brute-force contract shape
    Contract("sim_ann_pq", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val cbs = graft.operators.Similarity.fitPqCodebooks(e, "embedding", "vec_id",
        m = 8, ksub = 16, sampleSize = 500)
      val approx = graft.operators.Similarity.pqTopK(e, "vec_id", "embedding",
        q, "qid", "qvec", cbs, k = 10, refine = 8, excludeSelf = true)
      val exact = graft.operators.Similarity.bruteForceTopK(e, "vec_id", "embedding",
        q, "qid", "qvec", k = 10, excludeSelf = true).select(col("query_id"), col("neighbor_id"))
      approx.join(exact, Seq("query_id", "neighbor_id"), "left_semi")
        .groupBy(col("query_id")).agg(count(lit(1)).as("_hits"))
        .join(approx.groupBy(col("query_id")).agg(count(lit(1)).as("n_results")), Seq("query_id"))
        .select(col("query_id"), col("n_results"),
          round(col("_hits") / 10.0, 2).as("recall_at_10"))
        .orderBy(col("query_id"))
    },
      """SELECT * FROM (VALUES
        |  (CAST(0 AS BIGINT), CAST(10 AS BIGINT), 0.8),
        |  (1, 10, 0.8), (2, 10, 0.5), (3, 10, 0.8), (4, 10, 0.9))
        |t(query_id, n_results, recall_at_10) ORDER BY query_id""".stripMargin),

    // IVF-PQ composition (coarse pruning x byte codes): the billion-scale
    // index shape; same recall contract as the other ANN queries
    Contract("sim_ann_ivfpq", (s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val cents = graft.operators.Similarity.fitCentroids(e, "embedding", "vec_id",
        nlist = 16, sampleSize = 500)
      val cbs = graft.operators.Similarity.fitPqCodebooks(e, "embedding", "vec_id",
        m = 8, ksub = 16, sampleSize = 500)
      val approx = graft.operators.Similarity.ivfPqTopK(e, "vec_id", "embedding",
        q, "qid", "qvec", cents, cbs, k = 10, nprobe = 6, refine = 8, excludeSelf = true)
      val exact = graft.operators.Similarity.bruteForceTopK(e, "vec_id", "embedding",
        q, "qid", "qvec", k = 10, excludeSelf = true).select(col("query_id"), col("neighbor_id"))
      approx.join(exact, Seq("query_id", "neighbor_id"), "left_semi")
        .groupBy(col("query_id")).agg(count(lit(1)).as("_hits"))
        .join(approx.groupBy(col("query_id")).agg(count(lit(1)).as("n_results")), Seq("query_id"))
        .select(col("query_id"), col("n_results"),
          round(col("_hits") / 10.0, 2).as("recall_at_10"))
        .orderBy(col("query_id"))
    },
      """SELECT * FROM (VALUES
        |  (CAST(0 AS BIGINT), CAST(10 AS BIGINT), 0.9),
        |  (1, 10, 0.7), (2, 10, 0.6), (3, 10, 0.7), (4, 10, 0.7))
        |t(query_id, n_results, recall_at_10) ORDER BY query_id""".stripMargin)
  )
}
