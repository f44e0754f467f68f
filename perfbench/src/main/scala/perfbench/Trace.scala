package perfbench

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable.ArrayBuffer

/** One timed interval of the traced run. Times are epoch milliseconds;
  * `parent` is the id of the enclosing span (-1 for a root) and `op` the id
  * of the op it belongs to (-1 outside ops). */
final case class Span(id: Int, name: String, start: Double, end: Double,
    parent: Int, op: Int)

/** One Spark job as the listener saw it, attributed to the op running when
  * it started. */
final case class Job(id: Int, op: Int, start: Double, var end: Double,
    var stages: Int, var tasks: Int)

/** The Catalyst phase times (ms) of one QueryExecution an op ran; start is
  * when its optimization began, end when it finished. */
final case class Qe(op: Int, analysis: Double, optimization: Double,
    planning: Double, start: Double, end: Double)

/** Spans and counters for the traced run, all read from outside the engine:
  * the benchmark's own calls (session, table load, build, force) and Spark's
  * public hooks — a SparkListener for jobs, stages and tasks, a
  * QueryExecutionListener plus each plan's `queryExecution.tracker` for the
  * Catalyst phases, CodegenMetrics for the count of compiled classes and the
  * code generator's own "Code generated in N ms" log line for compile time.
  * Everything stays in memory until the run writes its result. */
final class Trace {
  val spans = ArrayBuffer[Span]()
  private var open = List.empty[Int]
  @volatile private var currentOp = -1

  /** Epoch milliseconds with sub-millisecond resolution. */
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  def span[T](name: String, op: Int)(body: => T): T = {
    val id = spans.length
    val parent = open.headOption.getOrElse(-1)
    spans += Span(id, name, now(), Double.NaN, parent, op)
    open = id :: open
    try body
    finally {
      spans(id) = spans(id).copy(end = now())
      open = open.tail
    }
  }

  def beginOp(op: Int): Unit = currentOp = op
  def endOp(): Unit = currentOp = -1

  // ---------------------------------------------------------------- jobs
  val jobs = ArrayBuffer[Job]()
  /** Per-op task sums: run ms, cpu ns, gc ms, shuffle bytes, shuffle
    * records, spill bytes. */
  val taskSums = scala.collection.mutable.Map[Int, Array[Double]]()
  private val jobOfStage = scala.collection.mutable.Map[Int, Job]()

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val j = Job(e.jobId, currentOp, e.time.toDouble, Double.NaN, 0, 0)
      jobs += j
      e.stageIds.foreach(s => jobOfStage(s) = j)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.find(_.id == e.jobId).foreach(_.end = e.time.toDouble)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      jobOfStage.get(e.stageInfo.stageId).foreach(_.stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val job = jobOfStage.get(e.stageId)
      job.foreach(_.tasks += 1)
      val m = e.taskMetrics
      if (m != null) {
        val a = taskSums.getOrElseUpdate(job.map(_.op).getOrElse(-1), new Array[Double](6))
        a(0) += m.executorRunTime
        a(1) += m.executorCpuTime
        a(2) += m.jvmGCTime
        a(3) += m.shuffleWriteMetrics.bytesWritten
        a(4) += m.shuffleWriteMetrics.recordsWritten
        a(5) += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  // ------------------------------------------------------ query executions
  /** Deduplicated by identity per op. */
  val qes = ArrayBuffer[Qe]()
  private val seenQe = scala.collection.mutable.Set[(Int, Int)]()

  def recordQe(qe: QueryExecution, op: Int, end: Double): Unit = synchronized {
    if (seenQe.add((op, System.identityHashCode(qe)))) {
      val ph = qe.tracker.phases
      def ms(p: String): Double = ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
      // the span starts when the plan is optimized for execution; analysis
      // usually ran earlier, when the Dataset was built
      val exec = ph.view.filterKeys(k => k != "analysis" && k != "parsing").values
      val start = if (exec.isEmpty) end else exec.map(_.startTimeMs).min.toDouble
      qes += Qe(op, ms("analysis"), ms("optimization"), ms("planning"), start, end)
    }
  }

  val qeListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      recordQe(qe, currentOp, now())
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      recordQe(qe, currentOp, now())
  }

  // --------------------------------------------------------------- codegen
  def codegenClasses: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  @volatile var codegenMs = 0.0

  private val codegenLogger =
    "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
  private val tap = new AbstractAppender("perfbench-codegen", null, null, true,
      Property.EMPTY_ARRAY) {
    private val Ms = """Code generated in ([0-9.]+) ms""".r.unanchored
    override def append(e: LogEvent): Unit = e.getMessage.getFormattedMessage match {
      case Ms(v) => Trace.this.synchronized { codegenMs += v.toDouble }
      case _ =>
    }
  }

  private var attached = false

  def attach(spark: SparkSession): Unit = if (!attached) {
    attached = true
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    if (!tap.isStarted) tap.start()
    cfg.addAppender(tap)
    val lc = new LoggerConfig(codegenLogger, Level.INFO, false)
    lc.addAppender(tap, Level.INFO, null)
    cfg.addLogger(codegenLogger, lc)
    ctx.updateLoggers()
  }

  def detach(spark: SparkSession): Unit = if (attached) {
    attached = false
    drain(spark)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    ctx.getConfiguration.removeLogger(codegenLogger)
    ctx.updateLoggers()
  }

  /** Listener events arrive asynchronously: wait until every event posted
    * so far has been delivered, so that an op's counters are complete
    * before the next op starts. */
  def drain(spark: SparkSession): Unit =
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
}
