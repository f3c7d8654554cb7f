package perfbench

import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{bit_xor, col, countDistinct, exp, floor, least, lit, pmod, when, xxhash64}

import graft.SparkEntry
import graft.functions.{GraftFunctions => G}
import graft.hll.HllSketch

final case class Check(name: String, ok: Boolean, detail: String) {
  def toMap: Map[String, Any] = Map("name" -> name, "ok" -> ok, "detail" -> detail)
}

/** Inputs for the direct [[HllSketch]] / [[graft.functions.PythonStr]]
  * microbenchmarks, taken from the workload's own data: elements as their
  * Python-`str()` UTF-8 bytes, doubles for the render path, and serialized
  * sketches the workload produced.
  */
final case class MicroInput(
    elems: Array[Array[Byte]], doubles: Array[Double], sketches: Array[Array[Byte]])

/** A benchmark workload: a fixture, and rounds of operations that the
  * closed-loop [[Runner]] repeats. Rounds 0 until `warmupRounds` are the
  * warm-up.
  */
trait Workload {
  def fixtureReps: Int
  def fixture(): Unit
  def warmupRounds: Int
  def round(warm: Boolean): Seq[() => Unit]
  def checks(): Seq[Check]
  /** Figures read after the checks; the costly ones only when `traced`. */
  def context(traced: Boolean): Map[String, Any]
  def microInput(): MicroInput
  def digest(): Map[String, Any]
}

object Gen {
  val K = 4096
  val IngestRows = 1000000L
  val IngestIds = 500000L
  val Groups = 256
  private val DoubleModulus = 100000000L
  private val DoubleStride = 48271L // coprime with DoubleModulus: r -> x is injective

  /** Uniform double in [0, 1) from the top-independent low 53 bits of a hash. */
  def uniform(h: Column): Column =
    h.bitwiseAND(lit((1L << 53) - 1)).cast("double") / lit(9007199254740992.0)

  /** Rank in [0, n) with weight ~ ln((i + 2) / (i + 1)): a Zipf-like skew. */
  def zipf(u: Column, n: Int): Column =
    least(floor(exp(u * lit(math.log(n + 1.0)))) - 1, lit(n - 1L)).cast("int")

  /** Zipf-skewed group of the base value `v`. */
  def group(v: Column, seed: Long): Column = zipf(uniform(xxhash64(v, lit(seed), lit(1))), Groups)

  /** The sketch_ingest table. Row r has base value v = r mod [[IngestIds]];
    * `uid` is v hashed (so min(rows, IngestIds) distinct values), `grp` the
    * Zipf-skewed group of v (every uid lives in one group), and `x` a
    * two-decimal double, distinct per row, that takes the Python `str()`
    * render path. Exact distinct counts therefore follow from group sizes.
    */
  def ingestTable(spark: SparkSession, seed: Long, rows: Long, parts: Int): DataFrame = {
    val r = col("id")
    val offset = java.lang.Math.floorMod(new scala.util.Random(seed).nextLong(), DoubleModulus)
    spark.range(0, rows, 1, parts).select(
      xxhash64(r % IngestIds, lit(seed)).as("uid"),
      group(r % IngestIds, seed).as("grp"),
      (pmod(r * DoubleStride + offset, lit(DoubleModulus)) / 100.0).as("x"))
  }

  /** Rows per group among the base values [0, n). */
  def groupSizes(spark: SparkSession, seed: Long, n: Long): Map[Int, Long] =
    spark.range(n).select(group(col("id"), seed).as("grp")).groupBy("grp").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap

  def sha256(bytes: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(bytes).map("%02x".format(_)).mkString

  def utf8(v: Any): Array[Byte] = v.toString.getBytes(UTF_8)

  /** Relative errors of (estimate, exact) pairs. */
  def relErrors(pairs: Seq[(Double, Long)]): Seq[Double] =
    pairs.map { case (est, exact) => math.abs(est - exact) / exact }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else xs.sum / xs.size
}

/** Three query shapes over an in-process generated table: global and
  * grouped `hll_cardinality` on the long id, and grouped `hll_sketch_agg` on
  * the double column (a tenth of the rows: the Python `str()` render costs
  * about ten times the id path per row).
  */
final class IngestWorkload(spark: SparkSession, runner: Runner, seed: Long, cores: Int)
    extends Workload {
  import Gen._

  private def table(rows: Long): DataFrame = ingestTable(spark, seed, rows, 2 * cores)

  private val first = mutable.LinkedHashMap.empty[String, Any]
  private var mismatches = 0

  private case class Shape(kind: String, rows: Long, query: DataFrame => DataFrame, extract: Array[Row] => Any)

  private val shapes = Seq(
    Shape("global_card", IngestRows, _.agg(G.hll_cardinality(col("uid"), K)),
      rows => rows(0).getDouble(0)),
    Shape("grouped_card", IngestRows, _.groupBy(col("grp")).agg(G.hll_cardinality(col("uid"), K)),
      rows => rows.map(r => r.getInt(0) -> r.getDouble(1)).toMap),
    Shape("grouped_sketch", IngestRows / 10, _.groupBy(col("grp")).agg(G.hll_sketch_agg(col("x"), K)),
      rows => rows.map(r => r.getInt(0) -> r.getAs[Array[Byte]](1).toSeq).toMap))

  val fixtureReps = 1
  def fixture(): Unit = ()
  val warmupRounds = 4

  def round(warm: Boolean): Seq[() => Unit] = shapes.map { sh =>
    () => runner.op(sh.kind, "hll", sh.rows) { ph =>
      val df = ph.build(sh.query(table(sh.rows)))
      val result = sh.extract(ph.action(df.collect()))
      first.get(sh.kind) match {
        case None => first(sh.kind) = result
        case Some(f) => if (f != result) mismatches += 1
      }
    }
  }

  private var relErr = Double.NaN

  def checks(): Seq[Check] = {
    val sigma = 1.04 / math.sqrt(K.toDouble)
    // Exact counts from the generator's construction: distinct base values
    // per group (uid is a 64-bit hash of the base value; a collision among
    // 5e5 values has probability ~7e-9).
    val exactAll = math.min(IngestRows, IngestIds)
    val exact = groupSizes(spark, seed, exactAll)
    val exactSmall = groupSizes(spark, seed, math.min(IngestRows / 10, IngestIds))
    val global = first.get("global_card").map(_.asInstanceOf[Double])
    val grouped = first.get("grouped_card").map(_.asInstanceOf[Map[Int, Double]])
    val sketches = first.get("grouped_sketch").map(_.asInstanceOf[Map[Int, Seq[Byte]]])
    val pairs =
      global.map(e => e -> exactAll).toSeq ++
      grouped.toSeq.flatMap(_.map { case (g, e) => e -> exact.getOrElse(g, 0L) }) ++
      sketches.toSeq.flatMap(_.map { case (g, b) =>
        HllSketch.deserialize(b.toArray).cardinality -> exactSmall.getOrElse(g, 0L) })
    val errs = relErrors(pairs.filter(_._2 > 0))
    relErr = mean(errs)
    // The 64-bit finalizer subtracts the reference's empirical bias between
    // the linear-counting threshold and 5m, indexing the bias table the way
    // the reference does (see HllSketch.estimateBias); there the error is not
    // bounded by 1.04/sqrt(m), so those counts are reported in rel_err but
    // not gated. The 10% margins keep the estimator's own branch choice,
    // which it makes on the noisy estimate, on the gated side.
    val p = HllSketch.pFor(K)
    val biasRange = (n: Long) =>
      n > 0.9 * graft.hll.Hll64Constants.threshold(p - 4) && n < 1.1 * 5 * (1 << p)
    val gated = pairs.filter { case (_, n) => n > 0 && !biasRange(n) }
    val gatedErrs = relErrors(gated)
    val worst = if (gatedErrs.isEmpty) 0.0 else gatedErrs.max / sigma
    val worstBias = (relErrors(pairs.filter(pr => biasRange(pr._2))) :+ 0.0).max / sigma
    Seq(
      Check("ingest.ran_every_shape", first.size == shapes.size, s"${first.keys.mkString(",")}"),
      Check("ingest.deterministic", mismatches == 0, s"$mismatches repeated results differ"),
      Check("ingest.groups_covered",
        grouped.exists(_.keySet == exact.keySet) && sketches.exists(_.keySet == exactSmall.keySet),
        s"${exact.size} groups"),
      Check("ingest.exact_positive", errs.size == pairs.size, s"${pairs.size - errs.size} empty"),
      // A correct estimator leaves a single estimate beyond 5 sigma with
      // probability ~6e-7, and keeps the mean error below one sigma.
      Check("ingest.estimate_bound", gated.nonEmpty && worst <= 5.0,
        f"worst $worst%.2f sigma over ${gated.size} estimates outside the bias range " +
        f"(sigma=1.04/sqrt(m)=$sigma%.4f); worst $worstBias%.2f sigma over " +
        f"${pairs.size - gated.size} inside it"),
      Check("ingest.mean_error", mean(gatedErrs) <= sigma, f"mean rel err ${mean(gatedErrs)}%.5f"))
  }

  def context(traced: Boolean): Map[String, Any] = Map("rel_err" -> relErr)

  def microInput(): MicroInput = {
    val rows = table(200000L).select("uid", "x").collect()
    val sk = first.get("grouped_sketch").map(_.asInstanceOf[Map[Int, Seq[Byte]]]).getOrElse(Map.empty)
    MicroInput(rows.map(r => utf8(r.getLong(0))), rows.map(_.getDouble(1)),
      sk.toSeq.sortBy(_._1).map(_._2.toArray).toArray)
  }

  def digest(): Map[String, Any] = {
    val t = table(IngestRows)
    Map(
      "input" -> t.agg(bit_xor(xxhash64(col("uid"), col("grp"), col("x")))).head().getLong(0),
      "sketch" -> sha256(t.agg(G.hll_sketch_agg(col("uid"), K)).head().getAs[Array[Byte]](0)))
  }
}

/** Writes beside reads on one stored-sketch table keyed by (site, day): day
  * batches folded in with `StreamingSketchRollup.foldBatch` (10% of each
  * batch is late and lands on the previous day), alternating with rollups
  * over the stored sketches per site, per day and overall.
  */
final class StoreWorkload(
    spark: SparkSession, runner: Runner, seed: Long, cores: Int, work: String)
    extends Workload {
  import Gen._
  import StoreWorkload._

  private val storePath = s"$work/store"
  private val warmPath = s"$work/store_warm"
  private var nextDay = StartDays
  private var warmDay = StartDays
  private val folded = mutable.ArrayBuffer.empty[Int]

  def day(d: Int): DataFrame = {
    val r = col("id")
    val late = pmod(xxhash64(r, lit(seed), lit(d), lit(3)), lit(10L)) === 0 && lit(d > 0)
    spark.range(0, DayEvents, 1, 2 * cores).select(
      zipf(uniform(xxhash64(r, lit(seed), lit(d), lit(1))), Sites).as("site"),
      when(late, lit(d - 1)).otherwise(lit(d)).as("day"),
      pmod(xxhash64(r, lit(seed), lit(d), lit(2)), lit(Users)).as("user"))
  }

  private def initial: DataFrame = (0 until StartDays).map(day).reduce(_ union _)

  private def fold(events: DataFrame, batchId: Long, path: String): Unit =
    graft.streaming.StreamingSketchRollup.foldBatch(events, batchId, path, Seq("site", "day"),
      Seq(G.hll_sketch_agg(col("user"), K).as("sk")), Seq(G.hll_union_agg(col("sk")).as("sk")))

  private def fs(path: String) = {
    val p = new Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  private def delete(path: String): Unit = { val (f, p) = fs(path); f.delete(p, true) }

  val fixtureReps = 3
  def fixture(): Unit = {
    delete(storePath)
    fold(initial, 0L, storePath)
  }

  val warmupRounds = 2

  def round(warm: Boolean): Seq[() => Unit] = {
    val path = if (warm) warmPath else storePath
    if (warm && warmDay == StartDays) {
      delete(warmPath)
      val (f, p) = fs(storePath)
      FileUtil.copy(f, p, f, new Path(warmPath), false, spark.sparkContext.hadoopConfiguration)
    }
    Seq(
      () => {
        val d = if (warm) warmDay else nextDay
        if (warm) warmDay += 1 else nextDay += 1
        runner.op("fold", "hll", DayEvents) { ph =>
          val events = ph.build(day(d))
          ph.action(fold(events, (d - StartDays + 1).toLong, path))
        }
        if (!warm) folded += d
      },
      () => rollup("rollup_site", path, Some("site")),
      () => rollup("rollup_day", path, Some("day")),
      () => rollup("rollup_all", path, None))
  }

  private def rollupDf(path: String, key: Option[String]): DataFrame = {
    val s = spark.read.parquet(path)
    val est = G.hll_estimate(G.hll_union_agg(col("sk"))).as("est")
    key.fold(s.agg(est))(k => s.groupBy(col(k)).agg(est))
  }

  private def rollup(kind: String, path: String, key: Option[String]): Unit =
    runner.op(kind, "hll", 0L) { ph =>
      val df = ph.build(rollupDf(path, key))
      ph.action(df.collect())
    }

  private def allEvents: DataFrame = (initial +: folded.toSeq.map(day)).reduce(_ union _)

  def checks(): Seq[Check] = {
    delete(warmPath)
    val keyed = (rows: Array[Row]) => rows.map(r => (r.getInt(0), r.getInt(1)) -> r.getAs[Array[Byte]](2).toSeq)
    val single = keyed(allEvents.groupBy(col("site"), col("day"))
      .agg(G.hll_sketch_agg(col("user"), K)).collect())
    val stored = keyed(spark.read.parquet(storePath).select("site", "day", "sk").collect())
    val storedMap = stored.toMap
    val singleMap = single.toMap
    val differing = singleMap.count { case (k, v) => !storedMap.get(k).contains(v) }
    Seq(
      Check("store.folded_days", folded.nonEmpty, s"${folded.size} day batches folded"),
      Check("store.no_duplicate_keys", storedMap.size == stored.length,
        s"${stored.length} rows, ${storedMap.size} keys"),
      Check("store.matches_single_pass",
        storedMap.keySet == singleMap.keySet && differing == 0,
        s"${singleMap.size} keys, $differing differ from a single-pass hll_sketch_agg"))
  }

  /** Mean relative error of the rollups over the final store against exact
    * distinct users per site, per day and overall.
    */
  private def rollupRelErr(): Double = {
    val events = allEvents.cache()
    try {
      val exactBy = (k: String) => events.groupBy(col(k)).agg(countDistinct(col("user"))).collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      val exactAll = events.agg(countDistinct(col("user"))).head().getLong(0)
      val pairs = Seq("site", "day").flatMap { k =>
        val exact = exactBy(k)
        rollupDf(storePath, Some(k)).collect().map(r => r.getDouble(1) -> exact(r.getInt(0)))
      } :+ (rollupDf(storePath, None).head().getDouble(0) -> exactAll)
      mean(relErrors(pairs))
    } finally events.unpersist()
  }

  def context(traced: Boolean): Map[String, Any] = {
    val (f, p) = fs(storePath)
    val files = f.listStatus(p).filter(_.getPath.getName.endsWith(".parquet"))
    Map("rel_err" -> (if (traced) rollupRelErr() else Double.NaN),
      "store_bytes" -> files.map(_.getLen).sum,
      "store_rows" -> spark.read.parquet(storePath).count())
  }

  def microInput(): MicroInput = {
    val users = day(StartDays).select("user").collect().map(r => utf8(r.getLong(0)))
    val doubles = ingestTable(spark, seed, 200000L, 2 * cores).select("x").collect().map(_.getDouble(0))
    val sketches = spark.read.parquet(storePath).orderBy("site", "day").select("sk").collect()
      .map(_.getAs[Array[Byte]](0))
    MicroInput(users, doubles, sketches)
  }

  def digest(): Map[String, Any] = {
    fixture()
    Map(
      "input" -> initial.agg(bit_xor(xxhash64(col("site"), col("day"), col("user")))).head().getLong(0),
      "sketch" -> sha256(spark.read.parquet(storePath).orderBy("site", "day").select("sk")
        .collect().flatMap(_.getAs[Array[Byte]](0))))
  }
}

object StoreWorkload {
  val Sites = 400
  val Users = 2000000L
  val DayEvents = 100000L
  val StartDays = 8
}

/** The headline contract queries, one lap per round in a seed-permuted
  * order, each run through its `SparkEntry.queries` builder into the noop
  * sink with the per-query unpersist, as `graft.Bench` runs them.
  */
final class ContractWorkload(
    spark: SparkSession, runner: Runner, seed: Long, data: String, work: String)
    extends Workload {
  import ContractWorkload._

  private val rng = new scala.util.Random(seed)

  val fixtureReps = 1
  def fixture(): Unit = ()
  val warmupRounds = 5

  private var lapsStarted = 0

  /** The first warm-up lap is the output-check pass: it writes each query's
    * output as Verify does, for the DuckDB oracle compare. Every other lap
    * runs the queries into the noop sink.
    */
  def round(warm: Boolean): Seq[() => Unit] = {
    lapsStarted += 1
    val checkPass = lapsStarted == 1
    rng.shuffle(Queries).map(q => () => run(q, checkPass))
  }

  private def unpersistAll(): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))

  private val written = mutable.Set.empty[String]

  private def run(q: String, checkPass: Boolean): Unit = {
    val fn = SparkEntry.queries(q)
    runner.op(q, q.takeWhile(_ != '_'), -1L) { ph =>
      val df = ph.build(fn(spark, data))
      ph.action {
        if (checkPass) {
          df.coalesce(1).write.mode("overwrite").parquet(s"$work/oracle/$q")
          written += q
        } else df.write.format("noop").mode("overwrite").save()
        unpersistAll()
      }
    }
  }

  /** Writes the oracle SQL of the queries whose outputs the check pass wrote. */
  def checks(): Seq[Check] = {
    val failed = Queries.filterNot(written.contains)
    val sql = SparkEntry.oracleSql
    val json = Json.write(Queries.map(q => q -> sql.getOrElse(q, "")).toMap)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$work/oracle/oracle_sql.json"), json)
    Seq(
      Check("contract.outputs_written", failed.isEmpty, s"failed: ${failed.mkString(",")}"),
      Check("contract.oracles_present", Queries.forall(sql.contains), s"${Queries.size} queries"))
  }

  def context(traced: Boolean): Map[String, Any] = Map.empty

  def microInput(): MicroInput = {
    val rows = spark.read.parquet(s"$data/events.parquet")
      .select("user_id", "value", "event_type").collect()
    val elems = rows.filterNot(_.isNullAt(0)).map(r => Gen.utf8(r.getLong(0)))
    val doubles = rows.filterNot(_.isNullAt(1)).map(_.getDouble(1))
    val sketches = rows.filterNot(r => r.isNullAt(0) || r.isNullAt(2))
      .groupBy(_.getString(2)).toSeq.sortBy(_._1).map { case (_, rs) =>
        val sk = HllSketch.empty(Gen.K)
        rs.foreach { r => val b = Gen.utf8(r.getLong(0)); sk.updateBytes(b, 0, b.length) }
        sk.serialize()
      }.toArray
    MicroInput(elems, doubles, sketches)
  }

  /** The tables are fixed; the seed chooses the lap order. */
  def digest(): Map[String, Any] = Map(
    "input" -> Gen.sha256(Tables.flatMap(t => java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$data/$t.parquet"))).toArray),
    "laps" -> (1 to 3).map(_ => rng.shuffle(Queries).mkString(",")))
}

object ContractWorkload {
  /** One query per engine family, from the 22 headline queries
    * `graft.Bench` prints: the subset whose cold lap, two warm-up laps and
    * measured laps fit one run of the benchmark.
    */
  val Queries: Seq[String] = Seq(
    "q_top_orders_per_cust", "hll_users_by_type", "dd_exact_keep", "sim_bruteforce_topk",
    "tx_token_counts", "mm_image_features")

  val Tables: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings")
}
