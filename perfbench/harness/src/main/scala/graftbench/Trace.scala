package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval: `pass` → `op:<entry>` → `build`/`execute`, or
  * `pass` → `stage:<name>`. Counters arrive from listeners on the bus
  * thread, hence the concurrent map. Times are System.nanoTime. */
final class Span(val id: Int, val parent: Int, val name: String) {
  var t0 = 0L
  var t1 = 0L
  var cg0 = 0L; var cg1 = 0L   // CodegenMetrics compile count at open / close
  var cgt0 = 0L; var cgt1 = 0L // logged compile micros at open / close
  val c = new ConcurrentHashMap[String, java.lang.Double]()
  /** [start, end] of every job submitted under this span, nanoTime base. */
  val jobs = ArrayBuffer.empty[(Long, Long)]
  def add(k: String, v: Double): Unit = c.merge(k, v, (a, b) => a + b)
  def get(k: String): Double = Option(c.get(k)).map(_.doubleValue).getOrElse(0.0)
  def dur: Double = (t1 - t0) / 1e9
}

/** Process-wide probes that exist whether or not tracing is on: the
  * streaming progress listener (registered through the session conf, so
  * every `newSession()` a streaming entry isolates itself in is covered),
  * the live-heap reading and the code-generation timer. */
object Probes {
  val tracer = new AtomicReference[Tracer](null)
  @volatile var armed = false

  // ---- streaming: one record per QueryProgressEvent while armed
  final case class Progress(triggerMs: Long, inputRows: Long, stateRows: Long,
      planMs: Long, addBatchMs: Long, commitMs: Long)
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[Progress]()

  // ---- heap: the live heap right after each untimed full collection the
  // harness makes at an operation, stage or pass boundary; the highest such
  // reading of the current pass, while armed. A collection inside an
  // operation would read that operation's transient data at a point that
  // differs run to run, so only the harness's own collections count.
  var heapPeak = 0L
  def collect(): Unit = {
    System.gc()
    if (armed) heapPeak = math.max(heapPeak,
      java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
  }

  // ---- codegen: Spark logs every compile as "Code generated in X ms"
  val codegenMicros = new AtomicLong(0L)
  def compiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  def installCodegenTimer(): Unit = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
    val pat = """Code generated in ([0-9.]+) ms""".r.unanchored
    val app = new AbstractAppender("graftbench-codegen", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = e.getMessage.getFormattedMessage match {
        case pat(ms) => codegenMicros.addAndGet((ms.toDouble * 1000).toLong)
        case _ => ()
      }
    }
    app.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val name = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
    val lc = new LoggerConfig(name, Level.INFO, false)
    lc.addAppender(app, Level.INFO, null)
    ctx.getConfiguration.addLogger(name, lc)
    ctx.updateLoggers()
  }
}

/** Registered by class name via spark.sql.streaming.streamingQueryListeners. */
class StreamProbe extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    if (Probes.armed) {
      val p = e.progress
      def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      val rec = Probes.Progress(d("triggerExecution"), p.numInputRows,
        p.stateOperators.map(_.numRowsTotal).sum, d("queryPlanning"), d("addBatch"),
        d("walCommit") + d("commitOffsets"))
      Probes.progress.add(rec)
      Option(Probes.tracer.get).foreach(_.onProgress(rec))
    }
}

/** In-memory span recorder. Jobs are attributed through the
  * `graftbench.span` local property set on the client thread when a span
  * opens (threads a streaming query starts inherit it); query-execution
  * and progress callbacks go to the span open when they are delivered,
  * which is the span that posted them because every span boundary drains
  * the listener bus first. Drains and span bookkeeping sit outside the
  * span's own [t0, t1]. */
final class Tracer(spark: SparkSession) {
  val spans = ArrayBuffer.empty[Span]
  @volatile private var cur: Span = null
  private val byId = new ConcurrentHashMap[Integer, Span]()
  private val jobSpan = new ConcurrentHashMap[Integer, Span]()
  private val jobT0 = new ConcurrentHashMap[Integer, java.lang.Long]()
  private val stageSpan = new ConcurrentHashMap[Integer, Span]()
  // event times are epoch millis; spans are nanoTime
  private val epochToNano = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private val Key = "graftbench.span"

  def drain(): Unit = org.apache.spark.sql.GraftPlanBridge.drainListenerBus(spark.sparkContext)

  def open(name: String): Span = {
    drain()
    val s = new Span(spans.size, if (cur == null) -1 else cur.id, name)
    spans += s; byId.put(s.id, s)
    s.cg0 = Probes.compiles; s.cgt0 = Probes.codegenMicros.get
    spark.sparkContext.setLocalProperty(Key, s.id.toString)
    cur = s
    s.t0 = System.nanoTime()
    s
  }

  def close(s: Span): Unit = {
    s.t1 = System.nanoTime()
    s.cg1 = Probes.compiles; s.cgt1 = Probes.codegenMicros.get
    drain()
    cur = if (s.parent < 0) null else byId.get(s.parent)
    spark.sparkContext.setLocalProperty(Key, if (cur == null) null else cur.id.toString)
  }

  def apply[T](name: String)(body: => T): T = {
    val s = open(name)
    try body finally close(s)
  }

  private def spanOf(props: java.util.Properties): Span =
    Option(props).flatMap(p => Option(p.getProperty(Key)))
      .flatMap(id => Option(byId.get(id.toInt))).getOrElse(cur)

  def onProgress(p: Probes.Progress): Unit = Option(cur).foreach { s =>
    s.add("streaming.batches", 1); s.add("streaming.input_rows", p.inputRows)
    s.add("streaming.state_rows", p.stateRows); s.add("streaming.plan_s", p.planMs / 1e3)
    s.add("streaming.add_batch_s", p.addBatchMs / 1e3); s.add("streaming.commit_s", p.commitMs / 1e3)
  }

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val s = spanOf(e.properties)
      if (s != null) {
        jobSpan.put(e.jobId, s); jobT0.put(e.jobId, e.time)
        e.stageIds.foreach(id => stageSpan.put(id, s))
        s.add("exec.jobs", 1)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobSpan.get(e.jobId)).foreach { s =>
        val t0 = Option(jobT0.get(e.jobId)).map(_.longValue).getOrElse(e.time)
        s.jobs.synchronized { s.jobs += ((t0 * 1000000L + epochToNano, e.time * 1000000L + epochToNano)) }
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageSpan.get(e.stageInfo.stageId)).foreach(_.add("exec.stages", 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = Option(stageSpan.get(e.stageId)).getOrElse(cur)
      val m = e.taskMetrics
      if (s != null && m != null) {
        s.add("exec.tasks", 1)
        s.add("exec.task_run_s", m.executorRunTime / 1e3)
        s.add("exec.task_cpu_s", m.executorCpuTime / 1e9)
        s.add("exec.task_gc_s", m.jvmGCTime / 1e3)
        s.add("exec.result_bytes", m.resultSize.toDouble)
        s.add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        s.add("shuffle.write_s", m.shuffleWriteMetrics.writeTime / 1e9)
        s.add("shuffle.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
        s.add("shuffle.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        s.add("Tables.scan_rows", m.inputMetrics.recordsRead.toDouble)
        s.add("Tables.scan_bytes", m.inputMetrics.bytesRead.toDouble)
        s.add("sink.bytes", m.outputMetrics.bytesWritten.toDouble)
      }
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Option(cur).foreach { s =>
        val phases = qe.tracker.phases
        val planMs = Seq("analysis", "optimization", "planning")
          .flatMap(phases.get).map(p => p.endTimeMs - p.startTimeMs).sum
        s.add("plans.queries", 1); s.add("plans.plan_s", planMs / 1e3)
        val v = graft.plans.PlanMetrics.of(qe.executedPlan)
        val k = graft.plans.PlanMetrics.Keys
        Seq("exchanges", "broadcasts", "scans", "shuffle_rows").foreach { n =>
          s.add(s"plans.$n", v(k.indexOf(n)).toDouble)
        }
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def install(): Unit = if (Probes.tracer.get != this) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    Probes.tracer.set(this)
  }

  def uninstall(): Unit = if (Probes.tracer.get == this) {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    Probes.tracer.set(null)
  }

  // ---- read-out -------------------------------------------------------
  private lazy val kids: Map[Int, Seq[Span]] = spans.toSeq.groupBy(_.parent)
  def children(s: Span): Seq[Span] = kids.getOrElse(s.id, Nil)
  def selfTime(s: Span): Double = s.dur - children(s).map(_.dur).sum
  def subtree(s: Span): Seq[Span] = s +: children(s).flatMap(subtree)
  def total(s: Span, k: String): Double = subtree(s).map(_.get(k)).sum
  def compiles(s: Span): Long = s.cg1 - s.cg0
  def compileS(s: Span): Double = (s.cgt1 - s.cgt0) / 1e6
  /** Wall time of `s` not covered by any job submitted in its subtree. */
  def driverOnly(s: Span): Double = {
    val iv = subtree(s).flatMap(x => x.jobs.synchronized(x.jobs.toList))
      .map { case (a, b) => (math.max(a, s.t0), math.min(b, s.t1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L; var end = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > end) { covered += b - a; end = b }
      else if (b > end) { covered += b - end; end = b }
    }
    math.max(0.0, s.dur - covered / 1e9)
  }

  def spansJson: String = spans.map { s =>
    val cs = s.c.asScala.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":${v.doubleValue}""" }
    s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},"t0_ns":${s.t0},""" +
      s""""t1_ns":${s.t1},"self_s":${selfTime(s)},"compiles":${compiles(s)},""" +
      s""""counts":{${cs.mkString(",")}}}"""
  }.mkString("[\n", ",\n", "\n]")
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
