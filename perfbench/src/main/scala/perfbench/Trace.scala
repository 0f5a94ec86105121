package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** The traced run's recorder, kept entirely in the benchmark: spans around
  * the benchmark's calls into the engine's public functions, a
  * SparkListener that sums task metrics per job and attributes each job to
  * the source module of its call site (the stage name), and a
  * StreamingQueryListener for
  * micro-batch progress. Everything stays in memory until [[write]].
  *
  * A job is tied to the operation that caused it through the local
  * property [[OpKey]], which the calling thread sets around the call
  * (Spark copies a thread's local properties into every job it submits,
  * including the lazy ones a result iterator starts later on that thread);
  * micro-batch jobs carry the stream's own batch-id property. */
final class Trace(spark: SparkSession) {
  import Trace._

  private val spanBuf = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val nextId = new AtomicLong(1)
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageToJob = new ConcurrentHashMap[Int, Job]()
  private val executions = new ConcurrentHashMap[Long, String]()
  private val progress = new java.util.concurrent.ConcurrentLinkedQueue[Progress]()

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      // the result stage carries the action's call site, e.g.
      // "parquet at MessageStore.scala:253"
      val site = e.stageInfos.maxByOption(_.stageId).map(_.name).getOrElse("")
      val batch = prop(BatchIdKey).map(_.toLong).getOrElse(-1L)
      // a streaming query stamps every job with the call site of its
      // start(); for those, take the innermost engine frame of the stream
      // thread, which is still blocked in the action that submitted the job
      // a job an adaptive plan submits from a helper thread names that
      // thread's frame; its SQL execution still names the action's site
      val execSite = prop("spark.sql.execution.root.id").orElse(prop("spark.sql.execution.id"))
        .flatMap(id => Option(executions.get(id.toLong))).getOrElse(site)
      val module =
        if (batch < 0) moduleOf(if (site.contains(".scala:")) site else execSite)
        else streamFrame().getOrElse(moduleOf(site))
      val j = new Job(e.jobId, prop(OpKey).getOrElse(""), batch, e.time, module, site)
      jobs.put(e.jobId, j)
      e.stageIds.foreach(stageToJob.put(_, j))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
        executions.put(x.executionId, x.description)
      case _ => ()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageToJob.get(e.stageId)).foreach(_.add(e.taskMetrics))
  }

  private val queryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      progress.add(Progress(p.batchId, p.numInputRows,
        java.time.Instant.parse(p.timestamp).toEpochMilli,
        d.getOrElse("triggerExecution", 0L), d.getOrElse("addBatch", 0L)))
    }
  }

  @volatile private var streamThread: Option[Thread] = None

  private def streamFrame(): Option[String] = {
    if (!streamThread.exists(_.isAlive))
      streamThread = Thread.getAllStackTraces.keySet.asScala
        .find(_.getName.startsWith("stream execution thread"))
    streamThread.flatMap(_.getStackTrace.find(_.getClassName.startsWith("graft.")))
      .map(f => String.valueOf(f.getFileName).stripSuffix(".scala"))
  }

  spark.sparkContext.addSparkListener(jobListener)
  spark.streams.addListener(queryListener)

  /** Time `body` as span `name`; `key` ties spans of one request or batch.
    * Nested calls on the same thread become children. */
  def span[T](name: String, key: String)(body: => T): T = {
    val id = nextId.getAndIncrement()
    val parent = current.get()
    current.set(id)
    val t0 = System.currentTimeMillis()
    try body
    finally {
      spanBuf.add(Span(name, id, parent, key, t0, System.currentTimeMillis()))
      current.set(parent)
    }
  }

  /** Run `body` with this thread's jobs tagged `op`. */
  def tagged[T](op: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setLocalProperty(OpKey, op)
    try body finally sc.setLocalProperty(OpKey, null)
  }

  def spans: Seq[Span] = spanBuf.asScala.toSeq
  def allJobs: Seq[Job] = jobs.values().asScala.toSeq.filter(_.endMs > 0).sortBy(_.id)
  def progresses: Seq[Progress] = progress.asScala.toSeq.sortBy(_.batchId)

  def stop(): Unit = {
    spark.sparkContext.removeSparkListener(jobListener)
    spark.streams.removeListener(queryListener)
  }

  /** Spans, jobs and batch progress as JSON lines. */
  def write(path: java.nio.file.Path): Unit = {
    val lines = spans.sortBy(_.startMs).map(s =>
      s"""{"span":"${s.name}","id":${s.id},"parent":${s.parent},"key":"${s.key}","start_ms":${s.startMs},"end_ms":${s.endMs}}""") ++
      allJobs.map(j =>
        s"""{"job":${j.id},"op":"${j.op}","batch":${j.batch},"module":"${j.module}","site":${Json.str(j.site)},"start_ms":${j.startMs},"end_ms":${j.endMs},"tasks":${j.tasks},"cpu_ms":${j.cpuNs / 1000000},"run_ms":${j.runMs},"gc_ms":${j.gcMs},"input_bytes":${j.inputBytes},"records_read":${j.recordsRead},"shuffle_bytes":${j.shuffleBytes},"spill_bytes":${j.spillBytes}}""") ++
      progresses.map(p =>
        s"""{"batch":${p.batchId},"rows":${p.rows},"start_ms":${p.startMs},"trigger_ms":${p.triggerMs},"add_batch_ms":${p.addBatchMs}}""")
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Trace {
  val OpKey = "perfbench.op"
  /** Local property Spark's micro-batch execution sets on its jobs. */
  val BatchIdKey = "streaming.sql.batchId"

  private val current = new ThreadLocal[Long] { override def initialValue = 0L }

  final case class Span(name: String, id: Long, parent: Long, key: String,
      startMs: Long, endMs: Long) {
    def ms: Long = endMs - startMs
  }

  final case class Progress(batchId: Long, rows: Long, startMs: Long,
      triggerMs: Long, addBatchMs: Long)

  /** One Spark job with its tasks' metrics summed. */
  final class Job(val id: Int, val op: String, val batch: Long, val startMs: Long,
      val module: String, val site: String) {
    @volatile var endMs = 0L
    var tasks, cpuNs, runMs, gcMs, inputBytes, recordsRead, shuffleBytes, spillBytes = 0L
    def add(m: org.apache.spark.executor.TaskMetrics): Unit = synchronized {
      tasks += 1
      if (m != null) {
        cpuNs += m.executorCpuTime
        runMs += m.executorRunTime
        gcMs += m.jvmGCTime
        inputBytes += m.inputMetrics.bytesRead
        recordsRead += m.inputMetrics.recordsRead
        shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        spillBytes += m.diskBytesSpilled
      }
    }
  }

  /** Source module of a call-site stage name: "parquet at
    * MessageStore.scala:253" → "MessageStore". */
  def moduleOf(stageName: String): String = {
    val at = stageName.lastIndexOf(" at ")
    val site = if (at < 0) stageName else stageName.substring(at + 4)
    site.takeWhile(_ != ':').stripSuffix(".scala").stripSuffix(".java")
  }

  /** Milliseconds of [from, to) covered by the union of `intervals`. */
  def covered(intervals: Seq[(Long, Long)], from: Long, to: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var (curA, curB) = (Long.MinValue, Long.MinValue)
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }
}
