package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, AtomicReference, LongAdder}

/** Per-query profile of contract queries, each run into the noop sink as
  * Bench runs it. One warm-up pass precedes the reported pass. Per query it
  * prints wall and build seconds, summed task CPU and GC, task/job/stage
  * counts, the longest task and the Catalyst phase ms
  * (`QueryPlanningTracker`), then one line per job with its duration and
  * call site.
  *
  * Usage: runMain graft.tools.Probe [<q1>[,<q2>...]]
  * Without names it profiles the whole lap in `SparkEntry.queries` order
  * (the order Bench uses). SPARK_GRAFT_SHOW prints each result,
  * SPARK_GRAFT_EXPLAIN each executed plan.
  */
object Probe {

  /** Listener totals for the query currently running. The phase ms come
    * from the noop write's QueryExecution, which plans the whole query.
    */
  private final class Meter extends SparkListener with QueryExecutionListener {
    val taskMs = new LongAdder; val gcMs = new LongAdder
    val tasks = new LongAdder; val stages = new LongAdder
    val maxTaskMs = new AtomicLong(0)
    private val starts = new ConcurrentHashMap[Int, (Long, String)]()
    val jobs = new ConcurrentLinkedQueue[String]()
    val written = new AtomicReference[QueryExecution]()

    def reset(): Unit = {
      Seq(taskMs, gcMs, tasks, stages).foreach(_.reset())
      maxTaskMs.set(0); starts.clear(); jobs.clear(); written.set(null)
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = written.set(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val rt = t.taskMetrics.executorRunTime
      taskMs.add(rt); gcMs.add(t.taskMetrics.jvmGCTime); tasks.add(1)
      maxTaskMs.updateAndGet(m => math.max(m, rt))
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = stages.add(1)
    override def onJobStart(j: SparkListenerJobStart): Unit =
      starts.put(j.jobId, (j.time, j.stageInfos.lastOption.map(_.name).getOrElse("?")))
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(starts.get(e.jobId)).foreach { case (t0, site) =>
        jobs.add(f"  JOB ${e.jobId}%5d ${(e.time - t0) / 1e3}%7.3f s  $site")
      }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val meter = new Meter
    spark.sparkContext.addSparkListener(meter)
    spark.listenerManager.register(meter)
    val names =
      if (args.nonEmpty) args(0).split(",").toSeq
      else graft.SparkEntry.queries.keys.toSeq

    def run(name: String, report: Boolean): Unit = {
      meter.reset()
      val t0 = System.nanoTime()
      try {
        val df = graft.SparkEntry.queries(name)(spark, sfDir)
        val tBuilt = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        val wall = (System.nanoTime() - t0) / 1e9
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
        if (report) {
          Thread.sleep(200) // let the listener bus drain
          val phases = Option(meter.written.get).toSeq.flatMap(_.tracker.phases)
            .map { case (k, v) => s"$k=${v.endTimeMs - v.startTimeMs}ms" }
            .sorted.mkString(" ")
          println(f"PROBE $name wall=$wall%.3f build=${(tBuilt - t0) / 1e9}%.3f" +
            f" cpu=${meter.taskMs.sum() / 1e3}%.2f gc=${meter.gcMs.sum() / 1e3}%.2f" +
            f" tasks=${meter.tasks.sum()} jobs=${meter.jobs.size} stages=${meter.stages.sum()}" +
            f" max_task=${meter.maxTaskMs.get() / 1e3}%.2f | $phases")
          meter.jobs.forEach(l => println(l))
        }
      } catch { case e: Throwable =>
        if (report) println(s"PROBE $name FAILED: ${e.getMessage}")
      }
    }

    if (sys.env.contains("SPARK_GRAFT_SHOW")) {
      names.foreach { name =>
        println(s"==== RESULT $name ====")
        graft.SparkEntry.queries(name)(spark, sfDir).show(100, false)
      }
    }
    if (sys.env.contains("SPARK_GRAFT_EXPLAIN")) {
      names.foreach { name =>
        val df = graft.SparkEntry.queries(name)(spark, sfDir)
        df.write.format("noop").mode("overwrite").save() // let AQE finalize
        println(s"==== PLAN $name ====")
        println(df.queryExecution.executedPlan.toString)
      }
    }
    names.foreach(run(_, report = false))
    names.foreach(run(_, report = true))
    spark.stop()
  }
}
