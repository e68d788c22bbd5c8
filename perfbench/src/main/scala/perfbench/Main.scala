package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import graft.engine.Sessions

/** One benchmark run in its own JVM:
  *
  *   perfbench.Main --workload <ingest_trickle|ingest_catchup> --seed <n>
  *     --seconds <s> --trace <0|1> --cpus <n> --spec <BENCHMARK.json>
  *     --bench <perfbench dir> --work <dir> --out <file>
  *
  * Writes the run's artifact (result line, every metric with its unit,
  * spans, failures) to `--out`. The metrics reported, and their units, are
  * the ones `--spec` declares. Exit code 0 on a valid run, 3 when the run
  * is not valid for timing, 1 when it could not complete.
  */
object Main {

  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** (name, unit) of each metric a list of the spec declares, in order. */
  def declared(spec: Path, list: String): Seq[(String, String)] =
    mapper.readTree(spec.toFile).get(list).elements().asScala
      .map(m => m.get("name").asText -> m.get("unit").asText).toList

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    val trace = opt("trace") == "1"
    val cpus = opt("cpus").toInt
    val spec = Paths.get(opt("spec"))
    val queryData = QueryData.under(Paths.get(opt("bench")))
    val work = Files.createDirectories(Paths.get(opt("work")))
    val out = Paths.get(opt("out"))
    val endToEnd = declared(spec, "end_to_end")
    val perLayer = declared(spec, "per_layer")

    val t0 = System.nanoTime()
    val spark = Sessions.local(cpus, "perfbench")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer(spark, trace)
    val acct = new Accounting
    val w = workload match {
      case "ingest_trickle" => new Trickle(spark, seed, seconds, work, tracer, acct, queryData)
      case "ingest_catchup" => new Catchup(spark, seed, seconds, work, tracer, acct, queryData)
      case other => sys.error(s"unknown workload $other")
    }
    val error =
      try { w.run(sessionS); None }
      catch { case e: Exception => Some(s"${e.getClass.getName}: ${e.getMessage}") }
    spark.stop()

    val reported = if (trace) perLayer else endToEnd
    val values = if (trace) w.perLayer else w.endToEnd
    val missing = reported.map(_._1).filterNot(values.contains)
    def withUnits(ms: Seq[(String, String)], vs: collection.Map[String, Double]) =
      ListMap(ms.filter(m => vs.contains(m._1)).map { case (k, u) =>
        k -> ListMap("value" -> vs(k), "unit" -> u) }: _*)
    val result = ListMap(
      "correct" -> (acct.failed == 0 && error.isEmpty && missing.isEmpty),
      "attempted" -> math.max(1L, acct.attempted + (if (error.isDefined) 1 else 0)),
      "failed" -> (acct.failed + (if (error.isDefined) 1 else 0)),
      "metrics" -> withUnits(reported, values))
    val artifact = ListMap(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "cpus" -> cpus, "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "result" -> result,
      "error_rate" -> acct.errorRate,
      "error" -> error,
      "missing_metrics" -> missing,
      "invalid" -> w.invalid.toList,
      "failures" -> acct.failureLog.take(100),
      "end_to_end" -> withUnits(endToEnd, w.endToEnd),
      "per_layer" -> withUnits(perLayer, w.perLayer),
      "query_totals" -> ListMap(w.queryTotals: _*),
      "samples" -> w.samples,
      "jobs" -> tracer.jobs.map(_.all.map(j => ListMap(
        "id" -> j.jobId, "span" -> j.span, "batch" -> j.batchId, "ms" -> j.ms,
        "writes" -> j.writeTarget, "stages" -> j.stages, "tasks" -> j.tasks,
        "cpu_ms" -> j.cpuNs / 1e6))),
      "spans" -> tracer.allSpans.map(s => ListMap("name" -> s.name, "parent" -> s.parent,
        "start_ms" -> (s.startNs - t0) / 1e6, "ms" -> s.ms)))
    mapper.writeValue(out.toFile, artifact)
    sys.exit(if (error.isDefined) 1 else if (w.invalid.nonEmpty) 3 else 0)
  }
}
