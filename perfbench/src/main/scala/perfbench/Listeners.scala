package perfbench

import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** One finished micro-batch as its progress event reported it. */
final case class BatchRecord(queryId: String, batchId: Long, startMs: Long,
    durations: Map[String, Long], inputRows: Long) {
  def phase(name: String): Long = durations.getOrElse(name, 0L)
  /** Wall-clock end of the micro-batch: trigger start plus its execution. */
  def endMs: Long = startMs + phase("triggerExecution")
}

/** Collects every micro-batch's progress event. Phases come from these
  * events rather than `recentProgress`, which keeps a bounded window.
  */
final class BatchLog extends StreamingQueryListener {
  private val records = new ConcurrentLinkedQueue[BatchRecord]
  private val errors = new ConcurrentLinkedQueue[String]

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    records.add(BatchRecord(p.id.toString, p.batchId, Instant.parse(p.timestamp).toEpochMilli,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap, p.numInputRows))
  }
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
    e.exception.foreach(x => errors.add(s"query ${e.id} failed: $x"))

  def batches(queryId: String): Seq[BatchRecord] =
    records.asScala.filter(_.queryId == queryId).toSeq.sortBy(_.batchId)
  def failures: Seq[String] = errors.asScala.toSeq
}

/** Spark-side totals of one job, summed over its tasks. */
final class JobRecord(val jobId: Int, val startMs: Long, val span: String,
    val batchId: Option[Long], val writeTarget: Option[String]) {
  var endMs: Long = startMs
  var stages = 0
  var tasks = 0
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  /** Largest peak execution memory of any one task. */
  var peakExecMem = 0L
  def ms: Long = endMs - startMs
}

/** Benchmark-registered listener: per-job task totals, tagged with the
  * benchmark span that was open when the job's thread was started (the
  * `perfbench.span` local property), the micro-batch id Spark sets on the
  * stream thread, and the directory the job's SQL execution writes to.
  * Every job of a streaming query carries the query's start call site, so
  * the write target, not the call site, tells the sinks apart.
  */
final class JobLog extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRecord]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val writeTargets = mutable.HashMap.empty[Long, String]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      JobLog.WriteTarget.findFirstMatchIn(x.sparkPlanInfo.simpleString)
        .foreach(m => synchronized(writeTargets(x.executionId) = m.group(1)))
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val rec = new JobRecord(e.jobId, e.time, prop(JobLog.SpanKey).getOrElse(""),
      prop("streaming.sql.batchId").flatMap(_.toLongOption),
      prop("spark.sql.execution.id").flatMap(_.toLongOption).flatMap(writeTargets.get))
    jobs(e.jobId) = rec
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageJob.get(e.stageId).flatMap(jobs.get); m <- Option(e.taskMetrics)) {
      j.tasks += 1
      j.cpuNs += m.executorCpuTime
      j.gcMs += m.jvmGCTime
      j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      j.inputBytes += m.inputMetrics.bytesRead
      j.outputBytes += m.outputMetrics.bytesWritten
      j.peakExecMem = math.max(j.peakExecMem, m.peakExecutionMemory)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stages += 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  def all: Seq[JobRecord] = synchronized(jobs.values.toList)
}

object JobLog {
  val SpanKey = "perfbench.span"
  private val WriteTarget = """InsertIntoHadoopFsRelationCommand (\S+?),""".r
}

/** A timed region the benchmark opened around a call into the program. */
final case class Span(name: String, parent: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** The benchmark's tracing: spans around its calls into the program, the
  * job listener, and the micro-batch log. Spans and job records stay in
  * memory until the run writes its artifact. With tracing off only the
  * micro-batch log is registered — freshness needs it in every run.
  */
final class Tracer(spark: SparkSession, val on: Boolean) {
  val batches = new BatchLog
  val jobs: Option[JobLog] = if (on) Some(new JobLog) else None
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[String]

  spark.streams.addListener(batches)
  jobs.foreach(spark.sparkContext.addSparkListener)

  /** Time `body` as span `name`. Jobs started inside it, including those of
    * streaming queries started inside it, carry the name.
    */
  def span[T](name: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(JobLog.SpanKey)
    val parent = open.headOption.getOrElse("")
    open = name :: open
    sc.setLocalProperty(JobLog.SpanKey, name)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      sc.setLocalProperty(JobLog.SpanKey, prev)
      open = open.tail
      synchronized(spans += Span(name, parent, t0, t1))
    }
  }

  def allSpans: Seq[Span] = synchronized(spans.toList)
  def spanMs(name: String): Seq[Double] = allSpans.filter(_.name == name).map(_.ms)

  /** Wait until every event posted so far reached the listeners. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
}
