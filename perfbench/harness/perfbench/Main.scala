package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

/** Benchmark harness: one JVM, one closed-loop client, one workload.
  *
  * {{{
  * perfbench.Main --workload sketch_ingest --seed 1 --seconds 10 --trace 0
  *   --out <run dir> --data <sf0.01 dir> [--mode run|digest]
  * }}}
  *
  * Writes `<out>/result.json` (raw samples, counters, checks) and, when
  * traced, `<out>/spans.jsonl`; `perfbench/run.py` turns them into metrics.
  * `--mode digest --seed 1,2` prints each seed's input and sketch digests
  * instead, one JSON object per line.
  */
object Main {
  private def secs[T](body: => T): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val name = opts("workload")
    val seeds = opts("seed").split(",").map(_.toLong)
    val seconds = opts.getOrElse("seconds", "10").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val out = opts("out")
    val data = opts("data")
    val cores = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    Files.createDirectories(Paths.get(out))

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val tracer = new Tracer
    val listener = new BenchListener(tracer)
    spark.sparkContext.addSparkListener(listener)
    val phases = new PhaseListener
    spark.listenerManager.register(phases)
    val runner = new Runner(spark, tracer)
    def workload(seed: Long): Workload = name match {
      case "sketch_ingest" => new IngestWorkload(spark, runner, seed, cores)
      case "sketch_store" => new StoreWorkload(spark, runner, seed, cores, out)
      case "contract_lap" => new ContractWorkload(spark, runner, seed, data, out)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    try {
      if (opts.get("mode").contains("digest")) {
        seeds.foreach(seed => println(Json.write(workload(seed).digest() + ("seed" -> seed))))
      } else {
        val seed = seeds.head
        val result = run(spark, workload(seed), runner, tracer, listener, phases, seed, seconds, trace,
          cores, out)
        Files.writeString(Paths.get(s"$out/result.json"),
          Json.write(result + ("workload" -> name) + ("session_s" -> sessionS)))
      }
    } finally spark.stop()
  }

  private def run(
      spark: SparkSession, wl: Workload, runner: Runner, tracer: Tracer,
      listener: BenchListener, phases: PhaseListener, seed: Long, seconds: Double,
      trace: Boolean, cores: Int, out: String): Map[String, Any] = {
    val fixtureS = (1 to wl.fixtureReps).map(_ => secs(wl.fixture()))
    runner.warm = true
    val warmupS = (1 to wl.warmupRounds).map(_ => secs(wl.round(warm = true).foreach(_())))
    runner.warm = false

    // Closed loop over whole rounds until the deadline, so every operation
    // kind runs equally often. A traced run measures its first half plain
    // and its second half traced; the difference is the tracing overhead.
    val start = System.nanoTime()
    val deadline = start + (seconds * 1e9).toLong
    val plainEnd = if (trace) start + (seconds * 5e8).toLong else deadline
    var rounds = 0
    var tracedRounds = 0
    while (rounds == 0 || System.nanoTime() < deadline || (trace && tracedRounds == 0)) {
      if (trace && !tracer.enabled && System.nanoTime() >= plainEnd) {
        tracer.enabled = true
        phases.active = true
      }
      if (tracer.enabled) tracedRounds += 1
      wl.round(warm = false).foreach(_())
      rounds += 1
    }
    val measureS = (System.nanoTime() - start) / 1e9
    tracer.enabled = false
    phases.active = false
    PerfbenchBus.drain(spark.sparkContext)
    val catalyst = phases.snapshot

    val after = mutable.LinkedHashMap.empty[String, Double]
    def timed[T](name: String)(body: => T): T = {
      val t = System.nanoTime()
      try body finally after(name) = (System.nanoTime() - t) / 1e9
    }
    // The reference lane costs seconds (Spark's HLL++ at this precision
    // runs without codegen), so only traced runs, which report it, pay it.
    val host = timed("host")(Map(
      "spin_ms" -> Host.spinMs(),
      "bare_job_ms" -> Host.bareJobMs(spark),
      "fast_lane_s" -> (if (trace) Host.fastLaneS(spark, seed, cores) else Double.NaN)))
    val checks = timed("checks")(wl.checks())
    val context = timed("context")(wl.context(trace))
    val micro: Map[String, Double] =
      if (!trace) Map.empty
      else timed("micro") {
        val in = wl.microInput()
        tracer.enabled = true
        try Micro.run(in, tracer) finally tracer.enabled = false
      }
    PerfbenchBus.drain(spark.sparkContext)
    if (trace) {
      Files.write(Paths.get(s"$out/spans.jsonl"),
        tracer.all.map(s => Json.write(s.toMap)).mkString("", "\n", "\n").getBytes("UTF-8"))
    }
    Map(
      "seed" -> seed, "seconds" -> seconds, "trace" -> trace, "cores" -> cores,
      "fixture_s" -> fixtureS, "warmup_s" -> warmupS, "measure_s" -> measureS,
      "rounds" -> rounds,
      "samples" -> runner.samples.map(s => s.toMap(listener.snapshot(s.op))),
      "checks" -> checks.map(_.toMap), "context" -> context, "host" -> host,
      "micro" -> micro, "catalyst" -> catalyst, "after_s" -> after)
  }
}
