package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.engine.ingest.{EventSchema, JsonArrayBatchParser, Router}
import graft.engine.sources.Sources

/** A file as it reached the watched directory, under `landedName`. */
final case class Landed(file: GenFile, landedName: String, dueMs: Long, landMs: Long)

/** One streaming query run over the pipeline's checkpoint. */
final case class Round(startMs: Long, files: Seq[Landed])

/** The shared shape of both ingest workloads: set up, a lead-in, ingest
  * (the measured phase), then audit, read, restart, maintain, read again
  * and run the workload's share of the declared queries. Subclasses decide
  * how files arrive, how the streaming query is driven and which
  * queries they run.
  */
abstract class IngestWorkload(spark: SparkSession, seed: Long, seconds: Int, work: Path,
    tracer: Tracer, acct: Accounting, queryData: QueryData) {

  val endToEnd = mutable.LinkedHashMap.empty[String, Double]
  val perLayer = mutable.LinkedHashMap.empty[String, Double]
  /** Raw samples behind the reported metrics, kept in the artifact. */
  val samples = mutable.LinkedHashMap.empty[String, Seq[Double]]
  /** Why the run is not valid for timing, if it is not. */
  val invalid = mutable.ArrayBuffer.empty[String]

  /** Generate and stage every input of the lead-in and the measured phase. */
  protected def prepare(dir: Path): Unit
  /** Events per file, so set-up warms the same row path the run measures. */
  protected def eventsPerFile: Int
  /** Files per set-up pass, landed as two micro-batches. */
  protected def warmFiles: Int
  /** Land the staged inputs of the lead-in or of the measured phase and
    * drive the pipeline until all are routed.
    */
  protected def ingest(p: Pipeline, leadIn: Boolean): Seq[Round]
  /** Reject the run for timing when the load it saw was not the load asked. */
  protected def validate(rounds: Seq[Round], batches: Seq[BatchRecord], source: SourceLog): Unit = ()
  /** The declared queries this workload runs in its query phase. */
  protected def queryNames: Seq[String]

  /** Set-up repetitions of the ingest path, after the checked query pass
    * took the JVM's first-job cost. The first also takes the ingest
    * path's class loading and code generation. Set-up reports their
    * median.
    */
  val WarmReps = 2
  /** Timed read-mix repetitions per read phase, after an untimed one.
    * Passes of one run differ by about 5%, far less than runs do.
    */
  val ReadReps = 1
  /** Timed passes over the workload's queries; each query reports its
    * faster pass, so one pass slowed by the machine does not move it.
    */
  val QueryReps = 2
  /** Maintenance repetitions; `maintenance_s` is the median of all but the
    * first, which warms the compaction path. One pass over the trickle
    * table takes under a second, too short to time once; one over the
    * catch-up table, about two, spread 0.30 (IQR / median) over ten seeds.
    */
  val MaintenanceReps = 3

  private val queries = new QueryPhase(spark, queryData, queryNames, tracer, acct)

  def run(sessionS: Double): Unit = {
    val genT0 = System.nanoTime()
    prepare(work.resolve("staged"))
    val genS = (System.nanoTime() - genT0) / 1e9
    // the checked query pass is the queries' warm pass: their first run
    // pays code generation and JIT, and it runs first so the ingest warm
    // passes start from a JVM the queries already warmed
    val checkT0 = System.nanoTime()
    tracer.span("warm.queries")(queries.check())
    val checkS = (System.nanoTime() - checkT0) / 1e9
    val warmS = (1 to WarmReps).map { k =>
      val t0 = System.nanoTime()
      tracer.span("warm")(warm(k))
      (System.nanoTime() - t0) / 1e9
    }
    endToEnd("setup_s") = sessionS + genS + checkS + Stats.median(warmS)
    perLayer("setup.session_s") = sessionS
    perLayer("setup.generate_s") = genS
    perLayer("setup.query_check_s") = checkS
    perLayer("setup.warm_s") = Stats.median(warmS)
    samples("warm_s") = warmS

    // the lead-in: the measured phase's load on a throwaway table, so the
    // timed files meet a warm per-batch path; checked, not timed, and kept
    // off the main table, whose directory count the reads pay for
    val lead = new Pipeline(spark, work.resolve("leadin"))
    val leadRounds = tracer.span("leadin")(ingest(lead, leadIn = true))
    new Audit(spark, lead, new Expected(leadRounds.flatMap(_.files.map(_.file.truth))), acct)

    val p = new Pipeline(spark, work.resolve("main"))
    val rounds = tracer.span("ingest")(ingest(p, leadIn = false))
    endToEnd("retained_heap_mb") = retainedHeapMb()
    tracer.drain()
    tracer.batches.failures.foreach(f => acct.check("stream", ok = false, f))

    val expected = new Expected(rounds.flatMap(_.files.map(_.file.truth)))
    val audit = new Audit(spark, p, expected, acct)
    val batches = tracer.batches.batches(queryId).filter(_.inputRows > 0)
    val source = SourceLog.read(p.checkpoint)
    val endOf = batches.map(b => b.batchId -> b.endMs).toMap
    def committedAt(l: Landed) = source.batchOf.get(l.landedName).flatMap(endOf.get)

    // freshness: due time to the end of the micro-batch that committed
    // the file's rows, over every file with at least one valid row
    val fresh = rounds.flatMap(_.files).filter(_.file.truth.valid.nonEmpty).flatMap { l =>
      committedAt(l).map(end => (end - l.dueMs).toDouble)
    }
    require(fresh.nonEmpty, "no file committed a valid row")
    endToEnd("freshness_ms_p50") = Stats.percentile(fresh, 50)
    endToEnd("freshness_ms_p95") = Stats.percentile(fresh, 95)
    perLayer("freshness.samples") = fresh.size
    perLayer("freshness.highest_pct") = Stats.highestSupported(fresh.size).getOrElse(0.0)

    // events routed per wall second, query start to last commit, per round
    val perRound = rounds.map { r =>
      val ends = r.files.flatMap(committedAt)
      r.files.map(_.file.truth.events).sum * 1000.0 / (ends.max - r.startMs)
    }
    endToEnd("ingest_events_per_s") = Stats.median(perRound)
    samples("events_per_s_by_round") = perRound
    samples("batch_ms") = batches.map(_.phase("triggerExecution").toDouble)

    val (bFiles, bBytes) = p.bronzeFiles
    endToEnd("bronze_files") = bFiles
    endToEnd("bronze_mb") = bBytes / 1048576.0
    filesWritten = p.writtenFiles
    validate(rounds, batches, source)

    // the as-of read asks for the snapshot the middle micro-batch
    // committed; the rows it must hold come from ground truth of the
    // files Spark's file source assigned to that batch or an earlier one
    val (mid, midBatch) = { val s = p.bronze.snapshots; s(s.size / 2) }
    val midRows = rounds.flatMap(_.files)
      .filter(l => source.batchOf.get(l.landedName).exists(_ <= midBatch))
      .map(_.file.truth.valid.size.toLong).sum
    // the first pass over the full-size table warms its listing and scan
    // paths and is not timed
    val mixes = (0 to ReadReps).map(k =>
      tracer.span(if (k == 0) "read_warm" else "read")(
        Reads.mix(spark, p, expected, mid, midRows, acct, s"read#$k"))).tail
    endToEnd("bronze_query_ms") = Reads.medianMs(mixes)
    samples("read_mix_ms") = mixes.map(_.ms)

    tracer.span("restart")(restartCheck(p, audit))

    // earlier repetitions run on copies of the table, the last on the table
    val maint = (1 to MaintenanceReps).map { k =>
      val (target, prefix) =
        if (k == MaintenanceReps) (p, "") else (p.copy(work.resolve(s"maint$k")), "copy.")
      val t0 = System.nanoTime()
      maintain(target, prefix)
      (System.nanoTime() - t0) / 1e9
    }
    endToEnd("maintenance_s") = Stats.median(maint.tail)
    samples("maintenance_s") = maint
    val post = tracer.span("read_post")(
      Reads.mix(spark, p, expected, p.bronze.snapshotSeqs.last, expected.total, acct, "read_post"))

    val passes = (1 to QueryReps).map(k => tracer.span("queries")(queries.pass(s"pass#$k")))
    val perQuery = passes.transpose.map(_.min)
    endToEnd("queries_s") = perQuery.sum / 1000
    samples("query_pass_ms") = passes.map(_.sum)

    if (tracer.on) {
      val route = (1 to 3).map(_ => tracer.span("parse_route")(parseRoute(p)))
      tracer.drain()
      layers(rounds, batches, source, audit, mixes, post, route.size)
      queryLayers(queryNames.zip(perQuery).toMap, passes.size)
    }
  }

  /** The query id every run over the main checkpoint shares. */
  private var mainQueryId: String = ""
  protected def queryId: String = mainQueryId
  protected def started(q: StreamingQuery): StreamingQuery = { mainQueryId = q.id.toString; q }

  /** Wait for a query, counting a failure as one failed operation. */
  protected def finish(q: StreamingQuery, op: String)(await: StreamingQuery => Unit): Unit =
    try await(q)
    catch { case e: Exception => acct.check(op, ok = false, s"query failed: ${e.getMessage}") }
    finally q.stop()

  /** A small end-to-end pass over throwaway directories, so class loading,
    * code generation and JIT land in set-up rather than in the timings.
    */
  private def warm(k: Int): Unit = {
    val files = Inputs.generate(seed + 1000 + k, warmFiles, eventsPerFile,
      work.resolve(s"warm$k/staged"), "w")
    val p = new Pipeline(spark, work.resolve(s"warm$k"))
    // two micro-batches, so the table has batch directories to compact
    files.grouped(warmFiles / 2).foreach { part =>
      part.foreach(f => p.land(f, s"${f.name}.json"))
      finish(p.start(Trigger.AvailableNow()), "warm")(_.awaitTermination())
    }
    new Audit(spark, p, new Expected(files.map(_.truth)), acct)
    maintain(p, "warm.")
  }

  /** Restart on the same checkpoint with no new input: nothing is added. */
  private def restartCheck(p: Pipeline, audit: Audit): Unit = {
    finish(p.start(Trigger.AvailableNow()), "restart")(_.awaitTermination())
    val bronze = p.bronze.read(spark).count()
    val dead = p.deadLetters.count()
    val want = (audit.idCounts.values.sum, audit.deadCounts.values.sum)
    acct.check("restart", (bronze, dead) == want,
      s"restart changed (bronze, dead letters) from $want to ${(bronze, dead)}")
  }

  /** Day-granular compaction, then expiry of every older snapshot. The
    * main table and its copies always hold several directories per day,
    * so there compaction must rewrite; a warm table may hold a single one.
    */
  private def maintain(p: Pipeline, spanPrefix: String): Unit = {
    acct.attempt("compact")(tracer.span(spanPrefix + "compact")(
      p.bronze.compactBatches(spark, byDay = true)))(s =>
      if (s.isDefined || spanPrefix == "warm.") None else Some("nothing compacted"))
    acct.attempt("expire")(tracer.span(spanPrefix + "expire")(p.bronze.expireSnapshots(1)))(_ => None)
  }

  private def parseRoute(p: Pipeline): Unit =
    Router.withReason(new JsonArrayBatchParser(EventSchema.schema)
      .parse(Sources.textDir(spark, p.in.toString)), EventSchema.schema)
      .write.format("noop").mode("overwrite").save()

  private def retainedHeapMb(): Double = {
    System.gc()
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Per-layer metrics of the query phase: each listed query's best
    * time (0 for the queries the other workload runs) and the listener's
    * totals per timed pass. Per-query totals stay in the artifact.
    */
  private def queryLayers(ms: Map[String, Double], reps: Int): Unit = {
    val jobs = tracer.jobs.get.all.filter(_.span.startsWith("q."))
    QueryList.names.foreach(q => perLayer(s"queries.$q.ms") = ms.getOrElse(q, 0.0))
    def totals(js: Seq[JobRecord]) = scala.collection.immutable.ListMap(
      "jobs" -> js.size.toDouble / reps,
      "stages" -> js.map(_.stages).sum.toDouble / reps,
      "tasks" -> js.map(_.tasks).sum.toDouble / reps,
      "cpu_ms" -> js.map(_.cpuNs).sum / 1e6 / reps,
      "gc_ms" -> js.map(_.gcMs).sum.toDouble / reps,
      "shuffle_write_bytes" -> js.map(_.shuffleWriteBytes).sum.toDouble / reps,
      "spill_bytes" -> js.map(_.spillBytes).sum.toDouble / reps,
      "peak_exec_mem_mb" -> js.map(_.peakExecMem).maxOption.getOrElse(0L) / 1048576.0)
    totals(jobs).foreach { case (k, v) => perLayer(s"queries.$k") = v }
    queryTotals = queryNames.map(q => q -> totals(jobs.filter(_.span == s"q.$q")))
  }

  /** Listener totals per query of the traced run, for the artifact. */
  var queryTotals: Seq[(String, collection.Map[String, Double])] = Nil

  /** Per-layer metrics of the traced run. */
  private def layers(rounds: Seq[Round], batches: Seq[BatchRecord], source: SourceLog,
      audit: Audit, mixes: Seq[Reads.Mix], post: Reads.Mix, routeReps: Int): Unit = {
    val jobs = tracer.jobs.get.all
    def p50(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.percentile(xs, 50)
    val landed = rounds.flatMap(_.files)
    perLayer("loadgen.files") = landed.size
    perLayer("loadgen.lag_ms_max") = landed.map(l => (l.landMs - l.dueMs).toDouble).max

    def phase(name: String) = p50(batches.map(_.phase(name).toDouble))
    perLayer("sources.latest_offset_ms_p50") = phase("latestOffset")
    perLayer("sources.get_batch_ms_p50") = phase("getBatch")
    perLayer("sources.backlog_files_max") = IngestWorkload.backlogMax(landed, source, batches)
    perLayer("stream.trigger_ms_p50") = phase("triggerExecution")
    perLayer("stream.planning_ms_p50") = phase("queryPlanning")
    perLayer("stream.wal_commit_ms_p50") = phase("walCommit")
    perLayer("stream.commit_offsets_ms_p50") = phase("commitOffsets")
    perLayer("stream.route_batch_ms_p50") = phase("addBatch")
    perLayer("stream.batches") = batches.size
    perLayer("stream.rows_per_batch_p50") = p50(batches.map(_.inputRows.toDouble))

    val ingestJobs = jobs.filter(j => j.span == "ingest" && j.batchId.isDefined)
    val byBatch = ingestJobs.groupBy(_.batchId.get).map { case (b, js) => b -> IngestWorkload.sinksOf(js) }
    val counted = batches.map(b => byBatch.getOrElse(b.batchId, Nil))
    def perBatch(sink: String) =
      p50(counted.map(_.collect { case (j, `sink`) => j.ms.toDouble }.sum))
    perLayer("stream.jobs_per_batch") = p50(counted.map(_.size.toDouble))
    perLayer("sinks.dead_letter_write_ms_p50") = perBatch("dead_letter")
    perLayer("sinks.bronze_write_ms_p50") = perBatch("bronze")
    perLayer("sinks.ledger_ms_p50") = perBatch("ledger")
    // routeBatch's time outside any Spark job: sidecar meta, commit log
    // and schema log writes, plus planning of the two appends
    perLayer("sinks.bronze_commit_ms_p50") = p50(batches.zip(counted).map { case (b, js) =>
      math.max(0.0, b.phase("addBatch") - js.map(_._1.ms).sum.toDouble)
    })
    perLayer("sinks.files_written") = filesWritten
    perLayer("sinks.bytes_written") = ingestJobs.map(_.outputBytes).sum.toDouble
    perLayer("sinks.read_ms") = Reads.medianMs(mixes)
    perLayer("sinks.read_files") = mixes.head.files
    perLayer("sinks.read_input_bytes") =
      jobs.filter(_.span == "read").map(_.inputBytes).sum.toDouble / mixes.size
    perLayer("sinks.read_post_ms") = post.ms
    perLayer("sinks.read_post_files") = post.files
    perLayer("sinks.compact_ms") = tracer.spanMs("compact").last
    perLayer("sinks.expire_ms") = tracer.spanMs("expire").last
    perLayer("sinks.compact_bytes_rewritten") =
      jobs.filter(_.span == "compact").map(_.outputBytes).sum.toDouble

    val routeJobs = jobs.filter(_.span == "parse_route")
    perLayer("ingest.parse_route_ms") = Stats.median(tracer.spanMs("parse_route"))
    perLayer("ingest.cpu_ms") = routeJobs.map(_.cpuNs).sum / 1e6 / routeReps
    perLayer("ingest.valid_ratio") = audit.expected.total.toDouble / audit.expected.routed

    val measured = jobs.filter(j => IngestWorkload.MeasuredSpans(j.span))
    perLayer("spark.jobs") = measured.size
    perLayer("spark.tasks") = measured.map(_.tasks).sum
    perLayer("spark.cpu_ms") = measured.map(_.cpuNs).sum / 1e6
    perLayer("spark.gc_ms") = measured.map(_.gcMs).sum
    perLayer("spark.shuffle_bytes") = measured.map(_.shuffleWriteBytes).sum
    perLayer("spark.spill_bytes") = measured.map(_.spillBytes).sum
    perLayer("spark.shuffle_bytes_before_commit") =
      counted.flatten.collect { case (j, s) if s != "ledger" => j.shuffleWriteBytes }.sum.toDouble
  }

  private var filesWritten = 0L
}

object IngestWorkload {
  /** Spans whose jobs the per-workload Spark totals count: everything
    * after set-up except the standalone parse+route timing.
    */
  val MeasuredSpans: Set[String] =
    Set("ingest", "read", "restart", "compact", "expire", "read_post")

  /** The sink each job of one micro-batch worked for, from the directory
    * its SQL execution wrote: the dead-letter append, the bronze append,
    * or the stats ledger under bronze's `_manifest`. Jobs that write
    * nothing after the bronze append are the ledger's footer scans.
    */
  def sinksOf(batchJobs: Seq[JobRecord]): Seq[(JobRecord, String)] = {
    var afterBronze = false
    batchJobs.sortBy(_.jobId).map { j =>
      val sink = j.writeTarget match {
        case Some(t) if t.contains("/_manifest/") => "ledger"
        case Some(t) if t.endsWith("/dead_letters") => "dead_letter"
        case Some(t) if t.endsWith("/bronze") => afterBronze = true; "bronze"
        case None if afterBronze => "ledger"
        case _ => "other"
      }
      j -> sink
    }
  }

  /** Most files landed but not yet committed, sampled at every
    * micro-batch end.
    */
  def backlogMax(landed: Seq[Landed], source: SourceLog, batches: Seq[BatchRecord]): Double = {
    val endOf = batches.map(b => b.batchId -> b.endMs).toMap
    val tracked = landed.flatMap(l =>
      source.batchOf.get(l.landedName).flatMap(endOf.get).map(end => (l.landMs, end)))
    if (tracked.isEmpty) 0.0
    else batches.map { b =>
      tracked.count { case (land, end) => land <= b.endMs && end > b.endMs }
    }.max.toDouble
  }
}

/** Open loop: one generator thread lands 100-event files on a fixed
  * wall-clock schedule that does not slow when the consumer does, and a
  * short processing-time trigger consumes them. Per-micro-batch fixed
  * cost dominates; row work is tiny.
  */
final class Trickle(spark: SparkSession, seed: Long, seconds: Int, work: Path,
    tracer: Tracer, acct: Accounting, queryData: QueryData)
    extends IngestWorkload(spark, seed, seconds, work, tracer, acct, queryData) {
  import Trickle._

  private var leadFiles = Vector.empty[GenFile]
  private var files = Vector.empty[GenFile]

  protected def eventsPerFile: Int = EventsPerFile
  protected def warmFiles: Int = 4
  protected def queryNames: Seq[String] = QueryList.Trickle
  protected def prepare(dir: Path): Unit = {
    leadFiles = Inputs.generate(seed + 500, FilesPerSecond * LeadInSeconds, EventsPerFile, dir, "l")
    files = Inputs.generate(seed, FilesPerSecond * seconds, EventsPerFile, dir, "t")
  }

  protected def ingest(p: Pipeline, leadIn: Boolean): Seq[Round] = {
    val files = if (leadIn) leadFiles else this.files
    val q = started(p.start(Trigger.ProcessingTime(s"$TriggerMs milliseconds")))
    val startMs = System.currentTimeMillis()
    val firstDue = startMs + LeadMs
    val landed = new Array[Landed](files.size)
    @volatile var failure: Option[Throwable] = None
    val gen = new Thread(() =>
      try files.indices.foreach { i =>
        val due = firstDue + i * 1000L / FilesPerSecond
        val wait = due - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        val name = s"${files(i).name}-due$due.json"
        p.land(files(i), name)
        landed(i) = Landed(files(i), name, due, System.currentTimeMillis())
      } catch { case e: Throwable => failure = Some(e) },
      "perfbench-loadgen")
    gen.start()
    gen.join()
    failure.foreach(e => throw e)
    finish(q, "ingest")(_.processAllAvailable())
    Seq(Round(startMs, landed.toSeq))
  }

  /** The run measures the offered load only if the generator kept its
    * schedule, the backlog did not grow from the first half to the
    * second, and enough files committed for a p95 freshness.
    */
  override protected def validate(rounds: Seq[Round], batches: Seq[BatchRecord], source: SourceLog): Unit = {
    val landed = rounds.flatMap(_.files)
    val lag = landed.map(l => l.landMs - l.dueMs).max
    if (lag > MaxLagMs) invalid += s"generator fell ${lag} ms behind schedule"
    val samples = landed.count(_.file.truth.valid.nonEmpty)
    if (Stats.beyond(samples, 95) < Stats.MinBeyond)
      invalid += s"only ${Stats.beyond(samples, 95)} freshness samples beyond p95"
    val (first, second) = batches.splitAt(batches.size / 2)
    val b1 = IngestWorkload.backlogMax(landed, source, first)
    val b2 = IngestWorkload.backlogMax(landed, source, second)
    if (b2 > 2 * b1 + FilesPerSecond) invalid += s"backlog grew from $b1 to $b2 files"
  }
}

object Trickle {
  /** Offered load: 1,600 events/s, well under the pipeline's capacity;
    * at 15 s it lands 240 timed files, about 216 with valid rows, enough
    * for a p95 with ten samples beyond it. A micro-batch of more than 32
    * files pays an extra parallel-listing job, which lengthens the batch
    * and so enlarges the next one: at 24 files/s, with ~0.9 s batches,
    * runs flipped between ~0.9 s and ~1.6 s batches, and at 20 files/s
    * a run whose first micro-batch took 2.4 s stayed at 2.2-3.3 s
    * batches to its end. At 16 files/s a batch must take 2 s to reach
    * 32 files; batches took 0.7-1.3 s.
    */
  val FilesPerSecond = 16
  val EventsPerFile = 100
  val TriggerMs = 100
  /** Delay from query start to the first file's due time. */
  val LeadMs = 500L
  /** Seconds of the lead-in stream, on the same schedule. The set-up
    * passes run two micro-batches each; without a lead-in the first timed
    * micro-batches were still JIT-slow (1.2-1.6 s against 0.85-1.0 s at
    * the end of the run), so the p95 came from those few batches and
    * spread with how warm each JVM was. It runs on its own table: with
    * the lead-in's micro-batches on the main table, that table reached
    * 33 batch directories in some runs and its reads then listed them
    * with an extra parallel job, reading 1.9 s instead of 1.1-1.3 s.
    */
  val LeadInSeconds = 5
  val MaxLagMs = 250L
}

/** Closed backlog: rounds of large files are landed at once and drained
  * with `Trigger.AvailableNow`, tens of files per micro-batch. Per-row
  * parse, route and parquet-encode work dominates; fixed cost is
  * amortised. The table ends with a few large batch directories.
  */
final class Catchup(spark: SparkSession, seed: Long, seconds: Int, work: Path,
    tracer: Tracer, acct: Accounting, queryData: QueryData)
    extends IngestWorkload(spark, seed, seconds, work, tracer, acct, queryData) {
  import Catchup._

  private var leadRound = Vector.empty[GenFile]
  private var rounds = Vector.empty[Vector[GenFile]]

  protected def eventsPerFile: Int = EventsPerFile
  /** 4,000 rows per set-up pass. The checked query pass before them
    * already took the JVM's first-job and JIT cost.
    */
  protected def warmFiles: Int = 4
  protected def queryNames: Seq[String] = QueryList.Catchup
  /** One generator per round, all starting on the same day: the backlog
    * is a few days of events from several producers, so compaction
    * merges several batch directories per day.
    */
  protected def prepare(dir: Path): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val all = Await.result(Future.sequence(Vector.tabulate(1 + roundsFor(seconds)) { k =>
      Future(Inputs.generate(seed * 1000 + k, if (k == 0) LeadInFiles else FilesPerRound,
        EventsPerFile, dir, s"c${k}_"))
    }), scala.concurrent.duration.Duration.Inf)
    leadRound = all.head
    rounds = all.tail
  }

  /** The lead-in is one round on its own table. Without it the first
    * timed round drained 15-50% slower than the later ones, and it alone
    * set the p95.
    */
  protected def ingest(p: Pipeline, leadIn: Boolean): Seq[Round] =
    (if (leadIn) Vector(leadRound) else rounds).map { files =>
      val due = System.currentTimeMillis()
      val landed = files.map { f =>
        p.land(f, s"${f.name}.json")
        Landed(f, s"${f.name}.json", due, System.currentTimeMillis())
      }
      val startMs = System.currentTimeMillis()
      finish(started(p.start(Trigger.AvailableNow())), "ingest")(_.awaitTermination())
      Round(startMs, landed)
    }
}

object Catchup {
  /** Tens of files per micro-batch. Every file of a round commits in the
    * round's one micro-batch, so freshness here is the round's drain time.
    */
  val FilesPerRound = 45
  val EventsPerFile = 1000
  /** Files of the lead-in round: over 32, so it also warms the parallel
    * listing Spark's file index runs for larger micro-batches.
    */
  val LeadInFiles = 40
  /** Timed rounds, sized so the drain lasts about `seconds` on four cores. */
  def roundsFor(seconds: Int): Int = math.max(3, seconds / 4)
}
