package servebench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** In-memory span recorder for the traced replay. A span is a timed call
  * into one layer's public function; spans of one request share its id,
  * and a span's parent is the span open around it. Spans are written
  * once, when the run ends.
  */
final class Spans {
  case class Span(id: Int, name: String, request: Int, parent: Int,
      startMs: Long, endMs: Long, startNs: Long, endNs: Long) {
    def seconds: Double = (endNs - startNs) / 1e9
  }

  private val done = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Int]
  private var nextId = 1

  def apply[A](name: String, request: Int)(f: => A): A = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.getOrElse(0)
    open.push(id)
    val (ms, ns) = (System.currentTimeMillis(), System.nanoTime())
    try f
    finally {
      open.pop()
      done += Span(id, name, request, parent, ms, System.currentTimeMillis(),
        ns, System.nanoTime())
    }
  }

  def all: Seq[Span] = done.toSeq
  def named(name: String): Seq[Span] = done.filter(_.name == name).toSeq

  def toJson: String = done.map { s =>
    s"""{"id":${s.id},"name":"${s.name}","request":${s.request},""" +
      s""""parent":${s.parent},"start_ms":${s.startMs},"end_ms":${s.endMs},""" +
      s""""seconds":${s.seconds}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

/** Records every Spark job with its stages, tasks, executor CPU, input
  * records and shuffle bytes. Jobs are credited to spans afterwards by
  * submission time — exact when the spans ran serially — or grouped by
  * the `servebench.edge` local property, which threads started by a
  * tagged thread inherit.
  */
final class JobListener extends SparkListener {
  final class Job(val id: Int, val startMs: Long, val edge: String) {
    @volatile var endMs: Long = -1
    var tasks = 0
    var cpuNs = 0L
    var records = 0L
    var shuffleBytes = 0L
  }

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Job]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val edge = Option(e.properties).flatMap(p => Option(p.getProperty(JobListener.EdgeKey)))
      .getOrElse("")
    val j = new Job(e.jobId, e.time, edge)
    jobs(e.jobId) = j
    e.stageIds.foreach(s => stageJob(s) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).foreach { j =>
      j.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        j.cpuNs += m.executorCpuTime
        j.records += m.inputMetrics.recordsRead
        j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      }
    }
  }

  /** Wait (bounded) until every job seen so far has ended, so their task
    * events — posted before the job end on the same bus — are counted.
    */
  def settle(timeoutMs: Long = 10000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    def open = synchronized(jobs.valuesIterator.count(_.endMs < 0))
    Thread.sleep(100)
    while (open > 0 && System.currentTimeMillis() < deadline) Thread.sleep(50)
  }

  def snapshot: Seq[Job] = synchronized(jobs.values.toSeq)
}

object JobListener {
  val EdgeKey = "servebench.edge"

  def attach(sc: SparkContext): JobListener = {
    val l = new JobListener
    sc.addSparkListener(l)
    l
  }

  def detach(sc: SparkContext, l: JobListener): Unit = sc.removeSparkListener(l)

  /** Jobs submitted inside `[startMs, endMs]`. */
  def within(jobs: Seq[JobListener#Job], startMs: Long, endMs: Long): Seq[JobListener#Job] =
    jobs.filter(j => j.startMs >= startMs && j.startMs <= endMs)
}

/** Aggregated per-layer figures of one traced run, by metric name. */
final class Layers {
  private val m = mutable.LinkedHashMap.empty[String, (Double, String)]
  def put(name: String, value: Double, unit: String): Unit = m(name) = (value, unit)
  /** Every metric of [[Layers.Names]], in order; 0 where not measured. */
  def all: Seq[(String, Double, String)] =
    Layers.Names.map { case (k, u) => (k, m.get(k).map(_._1).getOrElse(0.0), u) }
}

object Layers {
  /** Every per-layer metric the traced run reports, with its unit, in
    * BENCHMARK.json order. A layer a workload does not exercise reads 0.
    */
  val Names: Seq[(String, String)] = Seq(
    "api.query_parse_s" -> "s",
    "api.query_execute_s" -> "s",
    "api.edge_s" -> "s",
    "ingest.parse_us_per_pt" -> "us",
    "ingest.frame_s" -> "s",
    "ingest.pts_per_commit" -> "points",
    "store.ingest_s" -> "s",
    "store.ingest_jobs" -> "count",
    "store.ingest_tasks" -> "count",
    "store.compactions" -> "count",
    "store.compact_s" -> "s",
    "store.write_amp" -> "ratio",
    "store.data_files" -> "count",
    "store.resolve_s" -> "s",
    "query.plan_s" -> "s",
    "rollup.routed_frac" -> "ratio",
    "rollup.ooo_slices" -> "count",
    "spark.jobs_per_query" -> "count",
    "spark.tasks_per_query" -> "count",
    "spark.job_wall_s_per_query" -> "s",
    "spark.executor_cpu_s_per_query" -> "s",
    "spark.scan_rows_per_dp" -> "ratio",
    "spark.shuffle_bytes_per_query" -> "B",
    "jvm.gc_s" -> "s",
    "trace.overhead_s" -> "s")
}
