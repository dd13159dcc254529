package perfbench

import java.io.{BufferedWriter, FileWriter}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Listeners and spans of a traced run. Attached only when the run was
  * started with `--trace 1`; an untraced run never constructs one.
  *
  *  - a SparkListener records jobs (whether a streaming batch or some
  *    other caller, e.g. a consumer pull, submitted them) and task
  *    metrics;
  *  - a QueryExecutionListener records each action's planning phases
  *    from `QueryExecution.tracker`;
  *  - a StreamingQueryListener records every micro-batch's progress;
  *  - `span` keeps emit/batch/pull/receipt/query spans in memory until
  *    [[writeSpans]] writes them out at the end. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  val tasks = new ConcurrentLinkedQueue[Task]()
  val qes = new ConcurrentLinkedQueue[Qe]()
  val progress = new ConcurrentLinkedQueue[Progress]()
  /** SQL execution id -> (start, end) epoch ms. */
  val execs = new java.util.concurrent.ConcurrentHashMap[Long, (Long, Long)]()
  private val spans = new ConcurrentLinkedQueue[String]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      val batch = p.exists(_.getProperty("sql.streaming.queryId") != null)
      val exec = p.flatMap(x => Option(x.getProperty("spark.sql.execution.id")))
        .map(_.toLong).getOrElse(-1L)
      jobs.put(e.jobId, Job(e.jobId, e.time, -1L, batch, exec)); ()
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => execs.put(s.executionId, (s.time, -1L)); ()
      case x: SparkListenerSQLExecutionEnd =>
        Option(execs.get(x.executionId)).foreach(v => execs.put(x.executionId, (v._1, x.time))); ()
      case _ => ()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val i = e.taskInfo
      if (m != null && i != null) {
        val delay = math.max(0L, i.duration - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - (if (i.gettingResult) i.finishTime - i.gettingResultTime else 0L))
        tasks.add(Task(i.finishTime, m.executorRunTime, m.executorCpuTime, m.jvmGCTime, delay,
          m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled))
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      qes.add(Qe(qe.id, System.currentTimeMillis(), durationNs / 1e6,
        qe.tracker.phases.map { case (k, v) => k -> v.durationMs }))
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      progress.add(Progress(p.id.toString, p.batchId,
        java.time.Instant.parse(p.timestamp).toEpochMilli,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap, p.numInputRows))
    }
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(qeListener)
  spark.streams.addListener(streamListener)

  def drain(): Unit = org.apache.spark.perfbench.Bus.drain(spark.sparkContext)

  def span(kind: String, id: String, startNs: Long, endNs: Long, parent: String = ""): Unit = {
    spans.add(s"""{"span":"$kind","id":"$id","parent":"$parent","start_ns":$startNs,"end_ns":$endNs}""")
    ()
  }

  def writeSpans(path: String): Unit = {
    val w = new BufferedWriter(new FileWriter(path))
    try spans.asScala.foreach { s => w.write(s); w.newLine() } finally w.close()
  }

  /** Union length (ms) of the given jobs' spans. */
  private def union(js: Seq[Job]): Double = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    js.filter(_.end >= 0).map(j => (j.start, j.end)).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total.toDouble
  }

  /** Spark-scheduler layer over the epoch-ms window [fromMs, toMs]. */
  def schedulerMetrics(fromMs: Long, toMs: Long, batches: Double, pulls: Double): Map[String, Double] = {
    val js = jobs.values.asScala.filter(j => j.start >= fromMs && j.start <= toMs).toSeq
    val ts = tasks.asScala.filter(t => t.end >= fromMs && t.end <= toMs).toSeq
    val batchJobs = js.count(_.batch)
    Map(
      "spark.jobs" -> js.size.toDouble,
      "spark.batch_jobs_per_batch" -> (if (batches > 0) batchJobs / batches else 0.0),
      "spark.other_jobs_per_pull" -> (if (pulls > 0) (js.size - batchJobs) / pulls else 0.0),
      "spark.tasks" -> ts.size.toDouble,
      "spark.task_run_ms" -> ts.map(_.runMs).sum.toDouble,
      "spark.task_cpu_ms" -> ts.map(_.cpuNs).sum / 1e6,
      "spark.gc_ms" -> ts.map(_.gcMs).sum.toDouble,
      "spark.scheduler_delay_ms" -> ts.map(_.delayMs).sum.toDouble,
      "spark.shuffle_write_bytes" -> ts.map(_.shuffleWrite).sum.toDouble,
      "spark.spill_bytes" -> ts.map(_.spill).sum.toDouble)
  }

  /** Operator layer, per action: planning phases (QueryExecution
    * tracker), time inside Spark jobs (union of the jobs' spans) and the
    * residue of the wall time. With `calls` (a single-threaded client's
    * timed calls: wall ms, start and end epoch ms, the actions they ran)
    * each call is one unit and owns the jobs started inside it. Without,
    * the units are the SQL executions that ended in the window, owning
    * the jobs tagged with their execution id. */
  def queryMetrics(fromMs: Long, toMs: Long,
                   calls: Seq[(Double, Long, Long, Set[Long])] = Seq.empty): Map[String, Double] = {
    val inWin = qes.asScala.filter(q => q.end >= fromMs && q.end <= toMs).toSeq
    val allJobs = jobs.values.asScala.toSeq
    def ph(qs: Seq[Qe], k: String) = qs.map(_.phases.getOrElse(k, 0L)).sum.toDouble
    // (analysis, optimization, planning, exec, residue, jobs) per unit
    val units: Seq[(Double, Double, Double, Double, Double, Double)] =
      if (calls.nonEmpty) calls.map { case (wall, s, e, ids) =>
        val qs = inWin.filter(q => ids.contains(q.id))
        val js = allJobs.filter(j => j.start >= s && j.start <= e)
        val (a, o, p, x) = (ph(qs, "analysis"), ph(qs, "optimization"), ph(qs, "planning"), union(js))
        (a, o, p, x, math.max(0.0, wall - a - o - p - x), js.size.toDouble)
      } else {
        val byExec = allJobs.groupBy(_.execId)
        val n = math.max(1, inWin.size).toDouble
        val (a, o, p) = (ph(inWin, "analysis") / n, ph(inWin, "optimization") / n, ph(inWin, "planning") / n)
        execs.asScala.toSeq.collect { case (id, (s, e)) if e >= fromMs && e <= toMs =>
          val js = byExec.getOrElse(id, Seq.empty)
          val x = union(js)
          (a, o, p, x, math.max(0.0, (e - s) - x - o - p), js.size.toDouble)
        }
      }
    val n = math.max(1, units.size).toDouble
    Map(
      "query.analysis_ms" -> units.map(_._1).sum / n,
      "query.optimization_ms" -> units.map(_._2).sum / n,
      "query.planning_ms" -> units.map(_._3).sum / n,
      "query.exec_ms" -> units.map(_._4).sum / n,
      "query.residue_ms" -> units.map(_._5).sum / n,
      "query.jobs" -> units.map(_._6).sum / n)
  }

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }
}

object Tracer {
  final case class Job(id: Int, start: Long, var end: Long, batch: Boolean, execId: Long)
  final case class Task(end: Long, runMs: Long, cpuNs: Long, gcMs: Long,
                        delayMs: Long, shuffleWrite: Long, spill: Long)
  final case class Qe(id: Long, end: Long, durationMs: Double, phases: Map[String, Long])
  final case class Progress(queryId: String, batchId: Long, startMs: Long,
                            durations: Map[String, Long], rows: Long)
}
