package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession

/** One timed operation. `warm` samples come from the warm-up and are never
  * measured; `traced` samples ran with spans and Catalyst phases recorded.
  */
final case class Sample(
    kind: String, family: String, op: String, wallS: Double, buildS: Double,
    rows: Long, warm: Boolean, traced: Boolean, error: Option[String]) {
  def toMap(counters: Map[String, Any]): Map[String, Any] = Map(
    "kind" -> kind, "family" -> family, "op" -> op, "wall_s" -> wallS,
    "build_s" -> buildS, "rows" -> rows, "warm" -> warm, "traced" -> traced,
    "error" -> error, "counters" -> counters)
}

/** The closed-loop client: runs one operation at a time on the main
  * thread, tags its Spark jobs for [[BenchListener]] and records its span.
  */
final class Runner(spark: SparkSession, tracer: Tracer) {
  import BenchListener._

  private val sc = spark.sparkContext
  private var seq = 0
  val samples = ArrayBuffer.empty[Sample]
  var warm = false

  /** Time `body` as one operation of `kind`; `rows` is its input row count,
    * or -1 when the listener's records-read count stands for it.
    */
  def op(kind: String, family: String, rows: Long)(body: Phases => Unit): Unit = {
    seq += 1
    val opId = s"$kind#$seq"
    val traced = tracer.enabled
    val phases = new Phases(sc, tracer)
    sc.setLocalProperty(OpKey, opId)
    val t0 = System.nanoTime()
    val error =
      try {
        tracer.span("op", 0, Map("kind" -> kind, "op" -> opId)) { id =>
          phases.opSpan = id
          body(phases)
        }
        None
      } catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] $opId failed: $e")
          Some(Option(e.getMessage).getOrElse(e.getClass.getName).take(300))
      } finally {
        Seq(OpKey, PhaseKey, SpanKey).foreach(sc.setLocalProperty(_, null))
      }
    val wall = (System.nanoTime() - t0) / 1e9
    samples += Sample(kind, family, opId, wall, phases.buildNs / 1e9, rows, warm, traced, error)
  }
}

/** The two halves of an operation: `build` (constructing the DataFrame,
  * including any job a builder runs eagerly) and `action` (running it).
  */
final class Phases(sc: SparkContext, tracer: Tracer) {
  import BenchListener._

  var opSpan = 0
  var buildNs = 0L

  def build[T](f: => T): T = phase("build", "entry.build")(f)

  def action[T](f: => T): T = phase("action", "action")(f)

  private def phase[T](phase: String, spanName: String)(f: => T): T =
    tracer.span(spanName, opSpan) { id =>
      sc.setLocalProperty(PhaseKey, phase)
      sc.setLocalProperty(SpanKey, id.toString)
      val t0 = System.nanoTime()
      try f finally if (phase == "build") buildNs += System.nanoTime() - t0
    }
}
