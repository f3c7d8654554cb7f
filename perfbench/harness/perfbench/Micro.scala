package perfbench

import org.apache.spark.sql.SparkSession

import graft.functions.PythonStr
import graft.hll.HllSketch

/** Direct calls into `graft.hll.HllSketch` and `PythonStr.render` on the
  * workload's own inputs. Each timed call is one `micro` span; each figure
  * is the median of `Reps` calls.
  */
object Micro {
  val Reps = 5
  @volatile private var sink = 0.0

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Median ns per item of `reps` timed calls of `body` over `n` items;
    * `prepare` runs untimed before each call. 0 when there are no items.
    */
  private def perItem[P](tracer: Tracer, call: String, n: Int)(prepare: => P)(body: P => Unit): Double =
    if (n == 0) 0.0
    else median((1 to Reps).map { _ =>
      val p = prepare
      tracer.span("micro", 0, Map("call" -> call)) { _ =>
        val t0 = System.nanoTime()
        body(p)
        (System.nanoTime() - t0).toDouble / n
      }
    })

  private def isSparse(bytes: Array[Byte]): Boolean = (bytes(0) & 0x80) != 0

  def run(in: MicroInput, tracer: Tracer): Map[String, Double] = {
    val k = Gen.K
    val pop = in.sketches
    val (sparse, dense) = pop.partition(isSparse)
    val deser = () => pop.map(HllSketch.deserialize)
    val doubles = in.doubles.take(100000)
    def meanLen(xs: Array[Array[Byte]]) = if (xs.isEmpty) 0.0 else xs.map(_.length.toDouble).sum / xs.length
    Map(
      "hll.update_ns" -> perItem(tracer, "update", in.elems.length)(HllSketch.empty(k)) { sk =>
        in.elems.foreach(b => sk.updateBytes(b, 0, b.length))
        sink += sk.cardinality
      },
      "hll.serialize_ns" -> perItem(tracer, "serialize", pop.length)(deser()) { ss =>
        ss.foreach(s => sink += s.serialize().length)
      },
      "hll.deserialize_ns" -> perItem(tracer, "deserialize", pop.length)(()) { _ =>
        pop.foreach(b => sink += HllSketch.deserialize(b).k)
      },
      "hll.merge_sparse_ns" -> perItem(tracer, "merge_sparse", sparse.length)(
        (HllSketch.empty(k), sparse.map(HllSketch.deserialize))) { case (acc, ss) =>
        ss.foreach(acc.merge)
      },
      "hll.merge_dense_ns" -> perItem(tracer, "merge_dense", dense.length)(
        (HllSketch.empty(k), dense.map(HllSketch.deserialize))) { case (acc, ss) =>
        ss.foreach(acc.merge)
      },
      "hll.cardinality_ns" -> perItem(tracer, "cardinality", pop.length)(deser()) { ss =>
        ss.foreach(s => sink += s.cardinality)
      },
      "hll.sketch_bytes_sparse" -> meanLen(sparse),
      "hll.sketch_bytes_dense" -> meanLen(dense),
      "functions.pystr_render_ns" -> perItem(tracer, "pystr_render", doubles.length)(()) { _ =>
        doubles.foreach(d => sink += PythonStr.render(d).length)
      })
  }
}

/** Host calibration recorded beside every run: a fixed single-thread spin
  * loop, the bare-job floor, and Spark's own HLL++ over a tenth of the
  * sketch_ingest input (a reference lane no engine change should move).
  */
object Host {
  private def ms[T](body: => T): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e6
  }

  @volatile private var sink = 0L

  def spinMs(): Double = Micro.median((1 to 3).map { _ =>
    ms {
      var x = 88172645463325252L
      var i = 0
      while (i < 40000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
      sink += x
    }
  })

  def bareJobMs(spark: SparkSession): Double =
    Micro.median((1 to 5).map(_ => ms(spark.range(1).count())))

  def fastLaneS(spark: SparkSession, seed: Long, cores: Int): Double = {
    val t = Gen.ingestTable(spark, seed, Gen.IngestRows / 10, 2 * cores)
    Micro.median((1 to 3).map(_ => ms(t.agg(
      graft.functions.GraftFunctions.hll_cardinality_fast(t("uid"), Gen.K)).collect()) / 1e3))
  }
}
