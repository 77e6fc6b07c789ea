package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.DoubleAdder

import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer counters for one JVM, filled from Spark's own instrumentation
  * and read from outside the program.
  *
  * Spark work is attributed to the benchmark's spans by the job local
  * property [[Trace.SpanKey]] (`<op id>/<span name>`), which the suite
  * runner sets before each call into the program. Events without the
  * property (Catalyst phases, block updates) go to [[Trace.current]], the
  * operation running at the time; the runner settles the listener bus
  * before it moves on, so no event lands on the wrong operation. Events
  * while [[Trace.current]] is null (set-up) are not counted.
  *
  * For sessions the program builds itself (`graft.Run`), the runner names
  * [[JobListener]] and [[PlanListener]] in the `spark.extraListeners` and
  * `spark.sql.queryExecutionListeners` system properties.
  */
object Trace {
  val SpanKey = "perfbench.span"
  private val MB = 1024.0 * 1024.0

  @volatile var current: String = null

  private val totals = new ConcurrentHashMap[String, DoubleAdder]()
  private val perOp = new ConcurrentHashMap[String, ConcurrentHashMap[String, DoubleAdder]]()
  private val jobStarts = new ConcurrentHashMap[Int, (Long, String, String)]()
  private val stageOp = new ConcurrentHashMap[Int, String]()
  private val executionSite = new ConcurrentHashMap[String, String]()

  final case class Span(op: String, name: String, parent: String, startNs: Long, endNs: Long)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()

  /** Record `body` as span `name` of operation `op`. */
  def span[T](op: String, name: String, parent: String = "")(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally spans.add(Span(op, name, parent, t0, System.nanoTime()))
  }

  def add(op: String, key: String, v: Double): Unit = if (op != null) {
    totals.computeIfAbsent(key, _ => new DoubleAdder).add(v)
    perOp.computeIfAbsent(op, _ => new ConcurrentHashMap[String, DoubleAdder]())
      .computeIfAbsent(key, _ => new DoubleAdder).add(v)
  }

  /** The program module a job's call site lies in: the first `graft.`
    * frame of the result stage's long call site, as `package.File`
    * (`operators.GraphAlgs`, `car.EmbeddingTrainer`, `Run`), or
    * `perfbench` for actions the benchmark itself runs.
    */
  def module(details: String): String = {
    val frames = details.linesIterator.map(_.trim).toSeq
    frames.find(_.startsWith("graft.")).orElse(frames.find(_.startsWith("perfbench.")))
      .map { f =>
        val cls = f.takeWhile(_ != '(').split('.').dropRight(1).mkString(".")
          .takeWhile(_ != '$')
        if (cls.startsWith("perfbench.")) "perfbench" else cls.stripPrefix("graft.")
      }.getOrElse("other")
  }

  /** The module of a job: its own call site, or, for jobs Spark runs on
    * its own threads (AQE shuffle stages, broadcasts), the call site of
    * the SQL execution they belong to.
    */
  private def siteOf(e: SparkListenerJobStart): String = {
    val own = if (e.stageInfos.isEmpty) "other" else module(e.stageInfos.maxBy(_.stageId).details)
    if (own != "other") own
    else Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => Option(executionSite.get(id))).getOrElse("other")
  }

  private def opOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty(SpanKey)))
      .map(_.split('/').head).getOrElse(current)

  object Jobs extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val op = opOf(e.properties)
      if (op != null) {
        val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
          .map(_.split('/').last).getOrElse("run")
        jobStarts.put(e.jobId, (e.time, op, s"$span|${siteOf(e)}"))
        e.stageIds.foreach(stageOp.put(_, op))
        add(op, "sched.jobs", 1)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStarts.remove(e.jobId)).foreach { case (t0, op, spanSite) =>
        val s = (e.time - t0) / 1e3
        val Array(span, site) = spanSite.split('|')
        add(op, "job_wall_s", s)
        add(op, s"span.$span.job_s", s)
        add(op, s"site.$site.job_s", s)
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageOp.get(e.stageInfo.stageId)).foreach(add(_, "sched.stages", 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageOp.get(e.stageId)).foreach { op =>
        add(op, "sched.tasks", 1)
        if (e.reason != Success) add(op, "sched.failed_tasks", 1)
        val m = e.taskMetrics
        if (m != null) {
          val ti = e.taskInfo
          val gettingResult =
            if (ti.gettingResultTime > 0) ti.finishTime - ti.gettingResultTime else 0L
          add(op, "sched.task_wait_s", math.max(0L, ti.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime - gettingResult) / 1e3)
          add(op, "exec.task_run_s", m.executorRunTime / 1e3)
          add(op, "exec.task_cpu_s", m.executorCpuTime / 1e9)
          add(op, "exec.deser_s", m.executorDeserializeTime / 1e3)
          add(op, "shuffle.write_mb", m.shuffleWriteMetrics.bytesWritten / MB)
          add(op, "shuffle.read_mb", m.shuffleReadMetrics.totalBytesRead / MB)
          add(op, "shuffle.records", m.shuffleWriteMetrics.recordsWritten.toDouble)
          add(op, "shuffle.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
          add(op, "spill.mem_mb", m.memoryBytesSpilled / MB)
          add(op, "spill.disk_mb", m.diskBytesSpilled / MB)
          add(op, "io.read_mb", m.inputMetrics.bytesRead / MB)
          add(op, "io.written_mb", m.outputMetrics.bytesWritten / MB)
          add(op, "io.records_written", m.outputMetrics.recordsWritten.toDouble)
        }
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => executionSite.put(s.executionId.toString, module(s.details))
      case _ =>
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD && b.storageLevel.isValid)
        add(current, "storage.block_mb", (b.memSize + b.diskSize) / MB)
    }
  }

  object Plans extends QueryExecutionListener with AdaptiveSparkPlanHelper {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val op = current
      add(op, "plan.executions", 1)
      Seq("analysis", "optimization", "planning").foreach { ph =>
        add(op, s"plan.${ph}_s", qe.tracker.phases.get(ph).map(_.durationMs / 1e3).getOrElse(0.0))
      }
      val bytes = collectWithSubqueries(qe.executedPlan) {
        case b: BroadcastExchangeExec => b.metrics.get("dataSize").map(_.value).getOrElse(0L)
      }.sum
      add(op, "broadcast.mb", bytes / MB)
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      add(current, "plan.failures", 1)
  }

  /** Janino compile count and time, read as process-wide totals. */
  def codegen: (Long, Double) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime / 1e9)

  /** The traced JVM's record fields: totals, per-operation counters and spans. */
  def record: Seq[(String, String)] = Seq(
    "layers" -> Json.num(totals.asScala.map { case (k, v) => k -> v.sum }.toMap),
    "op_layers" -> Json.obj(perOp.asScala.toSeq.sortBy(_._1).map { case (op, m) =>
      op -> Json.num(m.asScala.map { case (k, v) => k -> v.sum }.toMap) }),
    "spans" -> Json.arr(spans.asScala.toSeq.map(s => Json.obj(Seq(
      "op" -> Json.str(s.op), "name" -> Json.str(s.name), "parent" -> Json.str(s.parent),
      "start_ns" -> s.startNs.toString, "end_ns" -> s.endNs.toString)))))
}

/** `spark.extraListeners` entry: forwards to [[Trace.Jobs]]. */
class JobListener extends SparkListener {
  override def onJobStart(e: SparkListenerJobStart): Unit = Trace.Jobs.onJobStart(e)
  override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.Jobs.onJobEnd(e)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Trace.Jobs.onStageCompleted(e)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.Jobs.onTaskEnd(e)
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = Trace.Jobs.onBlockUpdated(e)
  override def onOtherEvent(e: SparkListenerEvent): Unit = Trace.Jobs.onOtherEvent(e)
}

/** `spark.sql.queryExecutionListeners` entry: forwards to [[Trace.Plans]]. */
class PlanListener extends QueryExecutionListener {
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = Trace.Plans.onSuccess(f, qe, ns)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = Trace.Plans.onFailure(f, qe, e)
}

/** CPU time of every task, in every session of the JVM; always registered,
  * for `cpu_s`.
  */
class TaskCpuListener extends SparkListener {
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null) TaskCpuListener.ns.add(e.taskMetrics.executorCpuTime)
}

object TaskCpuListener {
  private val ns = new java.util.concurrent.atomic.LongAdder
  def seconds: Double = ns.sum / 1e9
}
