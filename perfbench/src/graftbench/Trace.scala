package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans recorded by the benchmark around its own calls into graft's
  * modules. A span's layer is its name up to the first dot
  * (`read.plan` → `read`). Spans stay in memory and are written out once
  * the run ends. With tracing off `span` is a plain call. */
object Trace {
  final case class Span(id: Int, name: String, parent: Int, op: Int,
                        start: Long, var end: Long = 0L) {
    def layer: String = name.takeWhile(_ != '.')
    def ms: Double = (end - start) / 1e6
  }

  @volatile var on = false
  @volatile var op: Int = -1
  val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  private var spark: SparkSession = _

  /** Names of the open spans, outermost first, joined by '/'. */
  private def path: String = stack.reverseIterator.map(_.name).mkString("/")

  def enable(s: SparkSession): Unit = { spark = s; on = true }

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val s = Span(spans.size, name, stack.headOption.fold(-1)(_.id), op, System.nanoTime())
      spans += s
      stack = s :: stack
      // jobs carry the innermost span at submission time (job properties
      // are captured synchronously, unlike listener delivery)
      val sc = spark.sparkContext
      sc.setLocalProperty(Probe.SpanProp, path)
      try body
      finally {
        s.end = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(Probe.SpanProp, if (stack.isEmpty) null else path)
      }
    }

  /** Time spent in each layer's spans minus the time covered by their
    * child spans, summed over all recorded spans. */
  def selfMs(): Map[String, Double] = {
    val childMs = mutable.Map[Int, Double]().withDefaultValue(0.0)
    spans.foreach(s => if (s.parent >= 0) childMs(s.parent) += s.ms)
    spans.groupBy(_.layer).map { case (l, ss) =>
      l -> ss.map(s => s.ms - childMs(s.id)).sum
    }
  }

  /** Per op, total ms of the spans named `name`. */
  def msByOp(name: String): Map[Int, Double] =
    spans.filter(_.name == name).groupBy(_.op).map { case (o, ss) => o -> ss.map(_.ms).sum }
}

/** One Spark job as the listener saw it. `span` is the path of spans open
  * when it was submitted (`bench.curate/ext.emit/table.stage`); `site` is the innermost graft
  * frame of the call site Spark records for the job (`module/File.scala
  * /method`), or "" when the job was launched by the benchmark itself. */
final case class JobRec(id: Int, op: Int, span: String, site: String,
                        start: Long, var end: Long = -1L)

final class OpCounters {
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var filesRead = 0L
  var activeMs = 0L
  var analysisMs = 0L
  var optimizationMs = 0L
  var planningMs = 0L
}

/** Spark listener + query-execution listener feeding per-op counters. The
  * op id is read from [[Trace.op]]: the harness drains the listener bus at
  * every op boundary, so each event is delivered while its op is current. */
final class Probe extends SparkListener with QueryExecutionListener {
  val jobs = mutable.ArrayBuffer[JobRec]()
  val byOp = mutable.Map[Int, OpCounters]()
  private val stageOp = mutable.Map[Int, Int]()
  private val open = mutable.Map[Int, JobRec]()
  private var running = 0
  private var busySince = 0L

  def reset(): Unit = synchronized { jobs.clear(); byOp.clear() }

  private def cur(op: Int): OpCounters = byOp.getOrElseUpdate(op, new OpCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = Trace.op
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Probe.SpanProp))).getOrElse("")
    val details = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
    val rec = JobRec(e.jobId, op, span, Probe.site(details), e.time)
    jobs += rec
    open(e.jobId) = rec
    e.stageIds.foreach(stageOp(_) = op)
    if (running == 0) busySince = e.time
    running += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    open.remove(e.jobId).foreach { r =>
      r.end = e.time
      running -= 1
      if (running == 0) cur(r.op).activeMs += e.time - busySince
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val c = cur(stageOp.getOrElse(e.stageId, Trace.op))
      c.tasks += 1
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      c.inputBytes += m.inputMetrics.bytesRead
      c.inputRecords += m.inputMetrics.recordsRead
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      val c = cur(Trace.op)
      val ph = qe.tracker.phases
      c.analysisMs += ph.get("analysis").fold(0L)(_.durationMs)
      c.optimizationMs += ph.get("optimization").fold(0L)(_.durationMs)
      c.planningMs += ph.get("planning").fold(0L)(_.durationMs)
      c.filesRead += Probe.Plans.collectWithSubqueries(qe.executedPlan) {
        case s: FileSourceScanExec => s.metrics.get("numFiles").fold(0L)(_.value)
      }.sum
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object Probe {
  val SpanProp = "graftbench.span"
  object Plans extends AdaptiveSparkPlanHelper

  private val Frame = """graft\.(\w+)\.([\w$]+?)\$?\.([\w$]+)\((\w+\.scala):\d+\)""".r

  /** `module/File.scala/method` of the innermost graft frame in a call
    * site's long form (frames are listed innermost first). */
  def site(details: String): String =
    details.linesIterator.collectFirst {
      case Frame.unanchored(module, _, method, file) => s"$module/$file/$method"
    }.getOrElse("")

  def install(spark: SparkSession): Probe = {
    val p = new Probe
    spark.sparkContext.addSparkListener(p)
    spark.listenerManager.register(p)
    p
  }
}
