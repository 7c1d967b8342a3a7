package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory span store for one benchmark run.
  *
  * The benchmark opens a span around every op and every direct catalog
  * call. Spark reports jobs, stages, tasks, planned queries and
  * streaming progress through its public listeners; jobs carry the
  * enclosing op's id in the [[Trace.OpProperty]] local property, and
  * planning and streaming events, which carry no properties, are
  * attributed to the op whose span contains their start time (ops run
  * one at a time on one client thread).
  *
  * Recording is switched per pass through [[Trace.enabled]], so a traced
  * run can alternate traced and untraced passes and report what tracing
  * costs. Listeners are installed only when the run is traced, except
  * the streaming listener, which is also the source of the untraced
  * batch-latency figures. */
object Trace {
  val OpProperty = "perfbench.op"

  @volatile var enabled: Boolean = false

  final case class Span(id: Int, parent: Int, kind: String, name: String,
      t0Ms: Long, t1Ms: Long)
  final case class Job(id: Int, op: Int, t0Ms: Long, t1Ms: Long,
      stages: Seq[Int], desc: String)
  final case class Stage(id: Int, t0Ms: Long, t1Ms: Long, tasks: Int,
      runMs: Long, cpuNs: Long, gcMs: Long, shuffleWrite: Long,
      shuffleRead: Long, spill: Long, inputBytes: Long, inputRows: Long)
  final case class Plan(t0Ms: Long, analysisMs: Long, optimizationMs: Long,
      planningMs: Long, exchanges: Int)
  final case class Batch(t0Ms: Long, durations: Map[String, Long],
      inputRows: Long, stateRows: Long, stateMemory: Long,
      stateCommitMs: Long)

  val spans = new ConcurrentLinkedQueue[Span]()
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  val jobs = new ConcurrentLinkedQueue[Job]()
  val stages = new ConcurrentLinkedQueue[Stage]()
  /** task durations per stage, for the skew figure */
  val taskMs = new java.util.concurrent.ConcurrentHashMap[Int, ConcurrentLinkedQueue[Long]]()
  val plans = new ConcurrentLinkedQueue[Plan]()
  /** Batches are recorded whether or not tracing is on: they are the
    * only view of micro-batch latency the benchmark has. */
  val batches = new ConcurrentLinkedQueue[Batch]()

  private val nextId = new java.util.concurrent.atomic.AtomicInteger(1)
  def newId(): Int = nextId.getAndIncrement()

  class JobListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) {
      val props = Option(e.properties)
      val op = props.flatMap(p => Option(p.getProperty(OpProperty)))
        .flatMap(_.toIntOption).getOrElse(0)
      val desc = props.flatMap(p => Option(p.getProperty("spark.job.description")))
        .getOrElse("")
      jobStarts.put(e.jobId, Job(e.jobId, op, e.time, e.time,
        e.stageIds, desc))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStarts.remove(e.jobId)).foreach(j =>
        jobs.add(j.copy(t1Ms = e.time)))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (enabled) {
      taskMs.computeIfAbsent(e.stageId, _ => new ConcurrentLinkedQueue[Long]())
        .add(e.taskInfo.duration)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (enabled) {
        val si = e.stageInfo
        val m = si.taskMetrics
        val t0 = si.submissionTime.getOrElse(0L)
        stages.add(Stage(si.stageId, t0, si.completionTime.getOrElse(t0),
          si.numTasks,
          if (m == null) 0 else m.executorRunTime,
          if (m == null) 0 else m.executorCpuTime,
          if (m == null) 0 else m.jvmGCTime,
          if (m == null) 0 else m.shuffleWriteMetrics.bytesWritten,
          if (m == null) 0 else m.shuffleReadMetrics.totalBytesRead,
          if (m == null) 0 else m.diskBytesSpilled + m.memoryBytesSpilled,
          if (m == null) 0 else m.inputMetrics.bytesRead,
          if (m == null) 0 else m.inputMetrics.recordsRead))
      }
  }

  /** Installed through `spark.sql.queryExecutionListeners`, so every
    * session of the run (including each op's child session) gets one. */
  class PlanListener extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = if (enabled) record(qe)
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()

    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def ms(p: String): Long = ph.get(p).map(_.durationMs).getOrElse(0L)
      val t0 = ph.values.map(_.startTimeMs).minOption
        .getOrElse(System.currentTimeMillis())
      val exchanges = try countExchanges(qe.executedPlan)
        catch { case _: Throwable => 0 }
      plans.add(Plan(t0, ms("analysis"), ms("optimization"), ms("planning"),
        exchanges))
    }
  }

  /** Shuffle exchanges in the final (post-AQE) physical plan. */
  def countExchanges(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => countExchanges(a.executedPlan)
    case q: QueryStageExec => countExchanges(q.plan)
    case e: ShuffleExchangeLike =>
      1 + e.children.map(countExchanges).sum
    case other =>
      other.children.map(countExchanges).sum +
        other.subqueries.map(countExchanges).sum
  }

  /** Installed through `spark.sql.streaming.streamingQueryListeners`. */
  class BatchListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val t0 = try java.time.Instant.parse(p.timestamp).toEpochMilli
        catch { case _: Throwable => System.currentTimeMillis() }
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      val so = p.stateOperators.toSeq
      batches.add(Batch(t0, d, p.numInputRows,
        so.map(_.numRowsTotal).sum, so.map(_.memoryUsedBytes).sum,
        so.map(_.commitTimeMs).sum))
    }
  }

  /** Drop everything recorded so far (between warm-up and measurement). */
  def reset(): Unit = {
    spans.clear(); jobStarts.clear(); jobs.clear(); stages.clear()
    taskMs.clear(); plans.clear(); batches.clear()
  }

  /** Union length of [t0, t1) intervals, in ms. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- iv.sortBy(_._1)) {
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  def stageTasks(stage: Int): Seq[Long] =
    Option(taskMs.get(stage)).map(_.asScala.toSeq).getOrElse(Nil)

  /** The recorded spans as JSON-ready maps: ops and catalog calls from
    * the benchmark, jobs parented to ops, stages parented to jobs. */
  def spanDump(): Seq[Map[String, Any]] = {
    val stageById = stages.asScala.map(s => s.id -> s).toMap
    spans.asScala.toSeq.map(s => Map[String, Any]("id" -> s.id,
      "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
      "t0_ms" -> s.t0Ms, "t1_ms" -> s.t1Ms)) ++
    jobs.asScala.toSeq.flatMap { j =>
      val jid = s"job-${j.id}"
      Map[String, Any]("id" -> jid, "parent" -> j.op, "kind" -> "job",
        "name" -> j.desc, "t0_ms" -> j.t0Ms, "t1_ms" -> j.t1Ms) +:
      j.stages.flatMap(stageById.get).map(st => Map[String, Any](
        "id" -> s"stage-${st.id}", "parent" -> jid, "kind" -> "stage",
        "name" -> st.id.toString, "t0_ms" -> st.t0Ms, "t1_ms" -> st.t1Ms,
        "tasks" -> st.tasks, "run_ms" -> st.runMs,
        "shuffle_write_bytes" -> st.shuffleWrite,
        "input_bytes" -> st.inputBytes))
    }
  }
}

/** Micro-batch latency of the measured passes, from progress events. */
object Batches {
  def summary(): Map[String, Double] = {
    val bs = Trace.batches.asScala.toSeq
    val trig = bs.map(_.durations.getOrElse("triggerExecution", 0L).toDouble)
    Map("batches" -> bs.size.toDouble,
      "batch_p50_ms" -> Stats.pct(trig, 0.5),
      "batch_p90_ms" -> Stats.pct(trig, 0.9),
      "rows_per_s" -> (if (trig.sum <= 0) 0.0
        else bs.map(_.inputRows).sum / (trig.sum / 1e3)))
  }
}
