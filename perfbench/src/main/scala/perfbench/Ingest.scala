package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import java.time.LocalDate

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.engine.sinks.{EvolvingTableSink, ParquetAppendSink}
import graft.engine.sources.Sources
import graft.engine.stream.StreamProcessor
import graft.fixtures.EventGen

/** A generated batch file, written in full under a staging directory
  * outside the watched one, with the ground truth of its contents.
  */
final case class GenFile(truth: FileTruth, staged: Path) {
  def name: String = truth.name
}

object Inputs {
  /** The reference deployment's fault flags: 10% corrupted batches and
    * 10% invalid-schema events.
    */
  val CorruptionChance = 0.1
  val InvalidSchemaChance = 0.1

  /** `files` batch files of `events` events each, from one generator
    * seeded with `seed`, staged under `dir`.
    */
  def generate(seed: Long, files: Int, events: Int, dir: Path, prefix: String): Vector[GenFile] = {
    Files.createDirectories(dir)
    val gen = new EventGen(seed, corruptionChance = CorruptionChance,
      invalidSchemaChance = InvalidSchemaChance)
    Vector.tabulate(files) { i =>
      val name = f"$prefix$i%05d"
      val text = gen.nextBatch(events)
      val staged = dir.resolve(s"$name.json")
      Files.write(staged, text.getBytes(UTF_8))
      GenFile(GroundTruth.classify(name, text), staged)
    }
  }
}

/** One bronze table, its dead-letter sink, checkpoint and watched input
  * directory under `root`, driven through the program's public entry
  * points as `IngestDemo` drives them.
  */
final class Pipeline(spark: SparkSession, root: Path) {
  val in: Path = Files.createDirectories(root.resolve("in"))
  val checkpoint: Path = root.resolve("checkpoint")
  val bronze = new EvolvingTableSink(root.resolve("bronze").toString)
  val dead = new ParquetAppendSink(root.resolve("dead_letters").toString)

  def start(trigger: Trigger): StreamingQuery =
    new StreamProcessor(bronze, dead,
      checkpointLocation = checkpoint.toString, trigger = trigger)
      .start(Sources.textDirStream(spark, in.toString))

  /** Rename a staged file into the watched directory: the source never
    * lists a half-written file, as an object-store PUT lands whole.
    */
  def land(f: GenFile, landedName: String): Unit =
    Files.move(f.staged, in.resolve(landedName), StandardCopyOption.ATOMIC_MOVE)

  def deadLetters: DataFrame = spark.read.parquet(dead.path)

  /** A pipeline over a copy of this one's bronze table. */
  def copy(to: Path): Pipeline = {
    val from = root.resolve("bronze")
    Files.createDirectories(to)
    val walk = Files.walk(from)
    try walk.forEach(f => Files.copy(f, to.resolve("bronze").resolve(from.relativize(f).toString)))
    finally walk.close()
    new Pipeline(spark, to)
  }

  /** Parquet files and bytes the bronze table's readers list: like
    * Spark's file index, skip `_`- and `.`-prefixed names that are not
    * partition directories (the stats ledger lives under `_manifest`).
    */
  def bronzeFiles: (Long, Long) = parquet(root.resolve("bronze"), tableOnly = true)

  /** Parquet files both sinks wrote, ledger included. */
  def writtenFiles: Long =
    parquet(root.resolve("bronze"), tableOnly = false)._1 +
      parquet(root.resolve("dead_letters"), tableOnly = false)._1

  private def parquet(dir: Path, tableOnly: Boolean): (Long, Long) = {
    val walk = Files.walk(dir)
    try {
      val files = walk.toArray.map(_.asInstanceOf[Path]).filter { f =>
        Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet") &&
          !(tableOnly && dir.relativize(f).iterator.asScala.map(_.toString).exists(n =>
            n.startsWith(".") || (n.startsWith("_") && !n.contains("="))))
      }
      (files.length.toLong, files.map(Files.size).sum)
    } finally walk.close()
  }
}

/** What the reads of a finished ingest must answer, from ground truth. */
final class Expected(val truth: Seq[FileTruth]) {
  val valid: Seq[ValidEvent] = truth.flatMap(_.valid)
  val total: Long = valid.size.toLong
  val byType: Map[String, Long] = valid.groupBy(_.eventType).map { case (k, v) => k -> v.size.toLong }
  val dead: Map[String, Long] = Reconcile.expectedDead(truth)
  val days: Seq[LocalDate] = valid.map(_.day).distinct.sorted
  /** The day the day-range read selects: the middle day of the data. */
  val rangeDay: LocalDate = days(days.size / 2)
  val rangeDayRows: Long = valid.count(_.day == rangeDay).toLong
  val routed: Long = truth.map(_.events.toLong).sum
}

/** The bronze state an ingest left, reconciled against ground truth. */
final class Audit(spark: SparkSession, p: Pipeline, val expected: Expected, acct: Accounting) {
  val idCounts: Map[String, Long] = p.bronze.read(spark).select("event_id").collect()
    .groupBy(_.getString(0)).map { case (k, v) => k -> v.length.toLong }
  val deadCounts: Map[String, Long] = Reads.counts(p.deadLetters.groupBy("_dead_letter_reason").count())

  acct.record(Reconcile.operations(expected.truth, deadCounts),
    Reconcile.bronze(expected.truth, idCounts) ++ Reconcile.deadLetters(expected.truth, deadCounts))
}

/** The micro-batch Spark's file source assigned each landed file to, read
  * from the checkpoint's source log: Spark's own metadata, written before
  * the batch runs, so it says which files a micro-batch committed
  * without asking the program's sinks. Each log file holds a version
  * line and one JSON entry per file; a compacted one holds every entry
  * up to its batch.
  */
final case class SourceLog(batchOf: Map[String, Long])

object SourceLog {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  /** `<batch>` or `<batch>.compact`; checksum files start with a dot. */
  private val LogFile = """\d+(\.compact)?""".r

  def read(checkpoint: Path): SourceLog = {
    val files = Files.list(checkpoint.resolve("sources").resolve("0"))
    val entries = try files.iterator.asScala.toList.filter(f => Files.isRegularFile(f) &&
        LogFile.matches(f.getFileName.toString))
      .flatMap(f => Files.readAllLines(f, UTF_8).asScala.drop(1).filter(_.nonEmpty))
    finally files.close()
    SourceLog(entries.map { line =>
      val e = mapper.readTree(line)
      val path = e.get("path").asText
      path.substring(path.lastIndexOf('/') + 1) -> e.get("batchId").asLong
    }.toMap)
  }
}

/** The reference's DuckDB demo reads, run through the engine's readers,
  * each checked against ground truth.
  */
object Reads extends AdaptiveSparkPlanHelper {

  def counts(df: DataFrame): Map[String, Long] =
    df.collect().map(r => String.valueOf(r.get(0)) -> r.getLong(1)).toMap

  /** Files the scans of an executed frame opened. */
  def scannedFiles(df: DataFrame): Long =
    collectWithSubqueries(df.queryExecution.executedPlan) {
      case s if s.metrics.contains("numFiles") => s.metrics("numFiles").value
    }.sum

  /** One pass of the mix: wall time per query, in order, and files scanned. */
  final case class Mix(queryMs: Seq[Double], files: Long) {
    def ms: Double = queryMs.sum
  }

  /** Sum over the mix's queries of each query's median over passes: a
    * pause that hits one query in one pass moves one sample, not the sum.
    */
  def medianMs(passes: Seq[Mix]): Double =
    passes.map(_.queryMs).transpose.map(Stats.median).sum

  /** One pass of the read mix: count(*), GROUP BY event_type, the
    * dead-letter GROUP BY reason, LIMIT 10, one `_event_date` day, and one
    * as-of read of snapshot `asOf` that must hold `asOfRows` rows.
    */
  def mix(spark: SparkSession, p: Pipeline, e: Expected, asOf: Long, asOfRows: Long,
      acct: Accounting, tag: String): Mix = {
    var files = 0L
    val times = scala.collection.mutable.ArrayBuffer.empty[Double]
    def run(op: String, df: => DataFrame)(ok: Array[Row] => Option[String]): Unit = {
      val t0 = System.nanoTime()
      acct.attempt(s"$tag $op") {
        val d = df
        val out = d.collect()
        files += scannedFiles(d)
        out
      }(ok)
      times += (System.nanoTime() - t0) / 1e6
    }
    def same[K](what: String, want: Map[K, Long], got: Map[K, Long]) =
      if (want == got) None else Some(s"$what: expected $want, found $got")
    def one(r: Array[Row]) = r.headOption.map(_.getLong(0)).getOrElse(-1L)
    run("count", p.bronze.read(spark).groupBy().count())(r =>
      same("rows", Map("" -> e.total), Map("" -> one(r))))
    run("by_event_type", p.bronze.read(spark).groupBy("event_type").count())(r =>
      same("per event_type", e.byType, r.map(x => x.getString(0) -> x.getLong(1)).toMap))
    run("dead_by_reason", p.deadLetters.groupBy("_dead_letter_reason").count())(r =>
      same("per reason", e.dead, r.map(x => x.getString(0) -> x.getLong(1)).toMap))
    run("limit_10", p.bronze.read(spark).limit(10))(r =>
      if (r.length == math.min(10L, e.total)) None else Some(s"${r.length} rows"))
    run("day_range", p.bronze.read(spark)
      .where(col("_event_date").between(lit(e.rangeDay.toString).cast("date"),
        lit(e.rangeDay.toString).cast("date"))).groupBy().count())(r =>
      same(s"rows on ${e.rangeDay}", Map("" -> e.rangeDayRows), Map("" -> one(r))))
    run("as_of", p.bronze.readAsOf(spark, asOf).groupBy().count())(r =>
      same(s"rows as of snapshot $asOf", Map("" -> asOfRows), Map("" -> one(r))))
    Mix(times.toList, files)
  }
}
