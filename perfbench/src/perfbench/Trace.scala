package perfbench

import scala.collection.mutable

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory spans plus Spark listener counters attributed to the span
  * that was open when each job started.
  *
  * A span has a name, start, end and parent. Spans opened on a thread
  * with no open span (the streaming thread's foreachBatch body) hang off
  * the root span. Jobs carry the open span's id as a local property, so
  * task, stage and job events land on that span. Only jobs submitted
  * while the root span is open count. Spans named `bench.*` are the
  * benchmark's own bookkeeping (output counts); layer totals leave them
  * out.
  */
final class Trace(spark: SparkSession) {
  final class Span(val id: Int, val name: String, val parent: Int, val start: Long) {
    @volatile var end: Long = -1L
    def bench: Boolean = name.startsWith("bench.")
  }

  private val sc = spark.sparkContext
  private val Prop = "perfbench.span"
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Span]] { override def initialValue() = Nil }
  @volatile private var root: Span = _
  @volatile private var rootStartMs = Long.MaxValue

  /** Counters per span id. */
  private val counters = mutable.Map.empty[Int, mutable.Map[String, Double]]
  private val jobSpan = mutable.Map.empty[Int, Int]
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long, Int)]
  private val named = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  @volatile private var planMs = 0.0
  @volatile private var aqeReplans = 0L
  @volatile private var writeFiles = 0L
  private var compiles = 0L
  private var compileMs = 0.0

  private def add(span: Int, key: String, v: Double): Unit = synchronized {
    val m = counters.getOrElseUpdate(span, mutable.Map.empty[String, Double].withDefaultValue(0.0))
    m(key) += v
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      if (root != null && e.time >= rootStartMs) {
        val s = Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
          .map(_.toInt).filter(_ < spans.length).getOrElse(root.id)
        jobSpan(e.jobId) = s
        e.stageIds.foreach(st => stageSpan(st) = s)
        jobStart(e.jobId) = e.time
        add(s, "driver.jobs", 1)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobStart.remove(e.jobId).foreach(t0 => jobIntervals += ((t0, e.time, jobSpan(e.jobId))))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Trace.this.synchronized(stageSpan.get(e.stageInfo.stageId)).foreach(add(_, "driver.stages", 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Trace.this.synchronized(stageSpan.get(e.stageId)).foreach(taskEnd(_, e))
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case _: SparkListenerSQLAdaptiveExecutionUpdate if root != null => aqeReplans += 1
      case _ =>
    }
  }

  private def taskEnd(s: Int, e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val info = e.taskInfo
    add(s, "driver.tasks", 1)
    if (m != null && info != null) {
      add(s, "exec.cpu_s", m.executorCpuTime / 1e9)
      add(s, "exec.run_s", m.executorRunTime / 1e3)
      add(s, "exec.gc_s", m.jvmGCTime / 1e3)
      val gettingResult =
        if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L
      val delay = info.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - gettingResult
      if (delay > 0) add(s, "sched.delay_s", delay / 1e3)
      add(s, "exchange.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add(s, "exchange.records", m.shuffleWriteMetrics.recordsWritten.toDouble)
      add(s, "exchange.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add(s, "exchange.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      add(s, "scan.bytes", m.inputMetrics.bytesRead.toDouble)
      add(s, "scan.records", m.inputMetrics.recordsRead.toDouble)
      add(s, "write.bytes", m.outputMetrics.bytesWritten.toDouble)
      add(s, "write.records", m.outputMetrics.recordsWritten.toDouble)
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (root != null) {
        planMs += qe.tracker.phases.values.map(_.durationMs).sum
        writeFiles += filesWritten(qe.executedPlan)
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  /** Files written by the file-source write commands of a plan (their
    * `numFiles` SQL metric), adaptive query stages included. */
  private def filesWritten(p: SparkPlan): Long = Trace.Plans.collect(p) {
    case w: DataWritingCommandExec => w.cmd.metrics.get("numFiles").map(_.value).getOrElse(0L)
    case c: CommandResultExec => filesWritten(c.commandPhysicalPlan)
  }.sum

  sc.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  /** Counts Spark's "Code generated in <ms> ms" log events: one per
    * compile (compile-cache hits log nothing). Attached for the root
    * span only; the logger keeps the root logger's appenders at WARN. */
  private val codegenLog = new AbstractAppender("perfbench-codegen", null, null, true,
      Property.EMPTY_ARRAY) {
    override def append(e: LogEvent): Unit = e.getMessage.getFormattedMessage match {
      case Trace.CodeGenerated(ms) => Trace.this.synchronized { compiles += 1; compileMs += ms.toDouble }
      case _ =>
    }
  }
  private lazy val logCtx = LogManager.getContext(false).asInstanceOf[LoggerContext]

  private def attachCodegenLog(): Unit = {
    val cfg = logCtx.getConfiguration
    codegenLog.start()
    val lc = new LoggerConfig(Trace.CodegenLogger, Level.INFO, false)
    lc.addAppender(codegenLog, Level.INFO, null)
    cfg.getRootLogger.getAppenders.values.forEach(a => lc.addAppender(a, Level.WARN, null))
    cfg.addLogger(Trace.CodegenLogger, lc)
    logCtx.updateLoggers()
  }

  private def detachCodegenLog(): Unit = {
    logCtx.getConfiguration.removeLogger(Trace.CodegenLogger)
    logCtx.updateLoggers()
    codegenLog.stop()
  }

  /** Open the root span; everything traced until [[finish]] nests under
    * it. Events of earlier jobs are delivered first, so none lands here. */
  def start(name: String): Unit = {
    org.apache.spark.graftaccess.BusAccess.drainListenerBus(sc, 30000L)
    planMs = 0.0; aqeReplans = 0L; writeFiles = 0L
    attachCodegenLog()
    rootStartMs = System.currentTimeMillis()
    root = open(name)
  }

  private def open(name: String): Span = synchronized {
    val parent = stack.get.headOption.orElse(Option(root)).map(_.id).getOrElse(-1)
    val s = new Span(spans.length, name, parent, System.nanoTime())
    spans += s
    stack.set(s :: stack.get)
    sc.setLocalProperty(Prop, s.id.toString)
    s
  }

  private def close(s: Span): Unit = {
    s.end = System.nanoTime()
    val rest = stack.get.drop(1)
    stack.set(rest)
    sc.setLocalProperty(Prop, rest.headOption.orElse(Option(root)).map(_.id.toString).orNull)
  }

  /** Add to a named count the benchmark measured itself. */
  def count(name: String, v: Long): Unit = synchronized { named(name) += v }
  def counts: Map[String, Double] = synchronized(named.toMap)

  def span[T](name: String)(body: => T): T = {
    val s = open(name)
    try body finally close(s)
  }

  /** Close the root span, wait for the listener bus, and detach. */
  def finish(): Unit = {
    close(root)
    stack.remove()
    sc.setLocalProperty(Prop, null)
    detachCodegenLog()
    org.apache.spark.graftaccess.BusAccess.drainListenerBus(sc, 30000L)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  def wallSeconds: Double = (root.end - root.start) / 1e9

  private def dur(s: Span): Double = (s.end - s.start) / 1e9

  /** Total length covered by a set of (start, end) intervals. */
  private def unionLength(iv: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var curS = Long.MinValue; var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) covered += curE - curS
    covered
  }

  /** Self time of each span: its duration minus the union of its
    * children's intervals. */
  def selfTimes: Seq[(Span, Double)] = {
    val kids = spans.groupBy(_.parent)
    spans.toSeq.map { s =>
      val covered = unionLength(kids.getOrElse(s.id, Nil).map(c => (c.start, c.end)).toSeq)
      s -> ((s.end - s.start - covered) / 1e9)
    }
  }

  /** Seconds of each span name (summed over its occurrences). */
  def spanSeconds(name: String): Double = spans.filter(_.name == name).map(dur).sum

  /** Jobs attributed to this trace, bookkeeping spans included. */
  def jobCount: Int = synchronized(jobSpan.size)

  /** One counter summed over the spans called `name`. */
  def spanCounter(name: String, key: String): Double = synchronized {
    spans.filter(_.name == name).flatMap(s => counters.get(s.id)).map(_(key)).sum
  }

  /** Layer totals over every non-bench span of this trace. */
  def layerTotals: Map[String, Double] = synchronized {
    val benchIds = spans.filter(_.bench).map(_.id).toSet
    val tot = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    counters.foreach { case (id, m) =>
      if (!benchIds(id)) m.foreach { case (k, v) => tot(k) += v }
    }
    tot("driver.codegen_compiles") = compiles.toDouble
    tot("driver.codegen_ms") = compileMs
    tot("driver.plan_ms") = planMs
    tot("driver.aqe_replans") = aqeReplans.toDouble
    tot("write.files") = writeFiles.toDouble
    // driver gap: root wall, minus bookkeeping spans, minus the union
    // of the intervals of the jobs the program ran
    val busyMs = unionLength(jobIntervals.toSeq
      .filter(j => !benchIds(j._3)).map(j => (j._1, j._2)))
    val benchS = spans.filter(_.bench).map(dur).sum
    tot("driver.gap_s") = math.max(0.0, wallSeconds - benchS - busyMs / 1e3)
    tot.toMap
  }

  /** Spans as JSON lines for the trace file. */
  def spanLines: Seq[String] = selfTimes.map { case (s, self) =>
    Json.obj(Seq("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "start_s" -> (s.start - root.start) / 1e9, "end_s" -> (s.end - root.start) / 1e9,
      "self_s" -> self))
  }
}

object Trace {
  private object Plans extends AdaptiveSparkPlanHelper
  val CodegenLogger = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
  private val CodeGenerated = "Code generated in ([0-9.Ee+-]+) ms".r.unanchored
}
