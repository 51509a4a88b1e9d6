package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Listens to Spark from outside the engine: jobs and stages
  * (`SparkListener`), Catalyst phases ([[PlanListener]]),
  * micro-batch progress (`StreamingQueryListener`) and janino compile
  * failures (a log appender on the code generator's logger).
  *
  * Every record carries Spark's own wall-clock timestamps; [[Spans]]
  * assigns each to the benchmark op whose interval contains it, which
  * is exact because the client is a closed loop running one op at a
  * time. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val stages = new ConcurrentLinkedQueue[StageRec]()
  def plans: ConcurrentLinkedQueue[PlanRec] = Tracer.plans
  val progress = new ConcurrentLinkedQueue[ProgressRec]()
  val codegenFailures = new ConcurrentLinkedQueue[java.lang.Long]()

  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val execDetails = new java.util.concurrent.ConcurrentHashMap[Long, String]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      // a job submitted from a helper thread (AQE stages, broadcasts)
      // carries that thread's call site; its SQL execution keeps the
      // call site of the action that started it
      val exec = Option(e.properties).toSeq
        .flatMap(p => Seq("spark.sql.execution.id", "spark.sql.execution.root.id")
          .flatMap(k => Option(p.getProperty(k))))
        .flatMap(id => Option(execDetails.get(id.toLong)))
      val lines = (e.stageInfos.sortBy(-_.stageId).map(_.details) ++ exec)
        .flatMap(_.linesIterator).map(_.trim)
      // no engine frame: the benchmark itself ran the action on a frame
      // an engine call returned ("client"), or Spark did ("other")
      val frame = lines.find(_.startsWith("graft."))
      val client = lines.find(_.startsWith("perfbench."))
      val module = frame.map(moduleOf)
        .getOrElse(if (client.isDefined) "client" else "other")
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      jobStart.put(e.jobId, JobRec(e.jobId, e.time, -1L, module,
        frame.orElse(client).orElse(lines.headOption).getOrElse("")))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach(j => jobs.add(j.copy(end = e.time)))
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart => execDetails.put(x.executionId, x.details)
      case _ => ()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val m = Option(si.taskMetrics)
      stages.add(StageRec(si.stageId, stageJob.getOrDefault(si.stageId, -1),
        si.submissionTime.getOrElse(0L), si.completionTime.getOrElse(0L),
        si.numTasks,
        m.map(_.executorRunTime).getOrElse(0L),
        m.map(x => x.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
        m.map(_.inputMetrics.recordsRead).getOrElse(0L)))
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      if (d.contains("addBatch"))
        progress.add(ProgressRec(
          java.time.Instant.parse(p.timestamp).toEpochMilli, d))
    }
  }

  private val appender = new AbstractAppender("perfbench-codegen", null, null,
      true, Property.EMPTY_ARRAY) {
    override def append(e: LogEvent): Unit = {
      val name = Option(e.getLoggerName).getOrElse("")
      val msg = Option(e.getMessage).map(_.getFormattedMessage).getOrElse("")
      if (name.endsWith("CodeGenerator") && msg.toLowerCase.contains("failed to compile"))
        codegenFailures.add(e.getTimeMillis)
    }
  }

  def start(): this.type = {
    spark.sparkContext.addSparkListener(sparkListener)
    Tracer.planning = true
    spark.streams.addListener(streamListener)
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    appender.start()
    ctx.getConfiguration.getRootLogger.addAppender(appender, null, null)
    ctx.updateLoggers()
    this
  }

  /** Drain Spark's asynchronous buses, then detach every listener. */
  def stop(): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    Tracer.planning = false
    spark.streams.removeListener(streamListener)
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    ctx.getConfiguration.getRootLogger.removeAppender(appender.getName)
    ctx.updateLoggers()
    appender.stop()
  }
}

object Tracer {
  /** Catalyst phase records of every session, cloned ones included (a
    * stream's micro-batches run in a clone): [[PlanListener]] is
    * registered through the static `spark.sql.queryExecutionListeners`
    * conf, which every session's listener manager loads. */
  val plans = new ConcurrentLinkedQueue[PlanRec]()
  @volatile var planning = false

  /** Set before the session is built, in traced runs only. */
  def installPlanListener(): Unit =
    System.setProperty("spark.sql.queryExecutionListeners",
      classOf[PlanListener].getName)

  final case class JobRec(id: Int, start: Long, end: Long, module: String,
      frame: String)
  final case class StageRec(id: Int, job: Int, submit: Long, complete: Long,
      tasks: Int, executorMs: Long, shuffleBytes: Long, rowsRead: Long)
  final case class PlanRec(start: Long, planMs: Long)
  final case class ProgressRec(start: Long, durations: Map[String, Long])

  /** The engine module of a call-site frame: the source file name of
    * the first `graft.` frame, e.g. `FactVersioned` for
    * `graft.operators.FactVersioned$.upsert(FactVersioned.scala:1830)`. */
  def moduleOf(frame: String): String = {
    val open = frame.indexOf('(')
    val dot = frame.indexOf(".scala", open)
    if (open < 0 || dot < 0) "other" else frame.substring(open + 1, dot)
  }

  /** Length of the union of `[start, end]` intervals. */
  def unionMs(iv: Iterable[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.toSeq.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** `[start, end]` clipped to `[lo, hi]`. */
  def clip(iv: (Long, Long), lo: Long, hi: Long): (Long, Long) =
    (math.max(iv._1, lo), math.min(iv._2, hi))

  /** Records grouped by the op whose interval holds their start time. */
  def byOp[T](ops: Seq[Runner.OpRec], items: Iterable[T])(t: T => Long)
      : Map[Int, Seq[T]] = {
    val sorted = ops.sortBy(_.startMs).toArray
    val starts = sorted.map(_.startMs)
    items.toSeq.flatMap { x =>
      val ts = t(x)
      val i = java.util.Arrays.binarySearch(starts, ts) match {
        case n if n >= 0 => n
        case n => -n - 2
      }
      if (i >= 0 && ts <= sorted(i).endMs) Some(sorted(i).id -> x) else None
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
  }
}

/** Records analysis + optimization + planning time of each query
  * execution while a [[Tracer]] is started. */
class PlanListener extends QueryExecutionListener {
  private def record(qe: QueryExecution): Unit = if (Tracer.planning) {
    val ph = qe.tracker.phases
    val planning = Seq("analysis", "optimization", "planning").flatMap(ph.get)
    if (planning.nonEmpty)
      Tracer.plans.add(Tracer.PlanRec(planning.map(_.startTimeMs).min,
        planning.map(p => p.endTimeMs - p.startTimeMs).sum))
  }
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
}
