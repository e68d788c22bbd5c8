package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry

/** The declared queries of the query phases, each with the engine
  * operator it exercises: GlobalOrder, StatsManifest pruning and
  * RangeJoinRule. Each workload runs its share, so each run pays the
  * queries' warm pass for one or two of them only. Every one has a DuckDB
  * oracle in `SparkEntry.oracleSql`, whose answer over the benchmark's
  * copy of the sf0.01 tables is stored under `perfbench/oracle/`.
  *
  * Left out for their cost on four cores: `dedup_suffix_repeats`
  * (SuffixArray) took 15-35 s on its first run and 4-10 s per timed run;
  * `dedup_embed_clusters` (the LSH tiers and ConnectedComponents) 7-8 s
  * and 2-3 s. Either took a run pair past its time budget.
  */
object QueryList {
  val Trickle: Seq[String] = Seq("events_power_gini", "layout_stats_prune")
  val Catchup: Seq[String] = Seq("funnel_time_to_convert")

  val Operators: Map[String, String] = Map(
    "events_power_gini" -> "GlobalOrder rank and running sum",
    "funnel_time_to_convert" -> "RangeJoinRule binned range join",
    "layout_stats_prune" -> "StatsManifest z-ordered write and pruned read")

  def names: Seq[String] = Trickle ++ Catchup
}

/** An answer in the form the oracle comparison uses: columns sorted by
  * name, values normalised, rows sorted — the way `tools/check.py`
  * normalises both sides before an exact compare.
  */
final case class Answer(columns: Seq[String], rows: Seq[Seq[Any]])

object Answer {
  def of(df: DataFrame): Answer = of(df.columns.toSeq, df.collect().toSeq)

  /** The answer held by the first `columns.size` fields of `collected`. */
  def of(columns: Seq[String], collected: Seq[Row]): Answer = {
    val cols = columns.sorted
    val idx = cols.map(columns.indexOf(_))
    val rows = collected.map(r => idx.map(i => norm(r.get(i))))
    Answer(cols, rows.sortBy(_.map(key).mkString("\u0001")))
  }

  /** Integral values, whatever their type, compare as Long; doubles that
    * hold an integer below 2^53 do too, as pandas compares 3 with 3.0.
    */
  def norm(v: Any): Any = v match {
    case null => null
    case x: java.lang.Byte => x.longValue
    case x: java.lang.Short => x.longValue
    case x: java.lang.Integer => x.longValue
    case x: java.lang.Long => x.longValue
    case x: java.math.BigDecimal =>
      if (x.stripTrailingZeros.scale <= 0 && x.abs.compareTo(java.math.BigDecimal.valueOf(1L << 53)) < 0)
        x.longValueExact
      else x.doubleValue
    case x: java.lang.Float => norm(x.doubleValue: java.lang.Double)
    case x: java.lang.Double =>
      val d = x.doubleValue
      if (!d.isNaN && !d.isInfinite && d == math.rint(d) && math.abs(d) < (1L << 53)) d.toLong else d
    case x: java.sql.Date => x.toLocalDate.toString
    case x: java.time.LocalDate => x.toString
    case x: java.sql.Timestamp => x.toInstant.toString
    case x: java.time.Instant => x.toString
    case x: scala.collection.Seq[_] => x.map(norm).toList
    case x: Row => x.toSeq.map(norm).toList
    case x => x
  }

  private def key(v: Any): String = v match {
    case null => "\u0000"
    case d: Double => f"$d%.10e"
    case x => x.toString
  }

  /** Mismatches between an oracle answer and the engine's, empty when
    * they agree. When `ulp` is set, an integer column may differ by one
    * in the last place: a scaled value derived through a transcendental
    * function is correctly rounded on neither side.
    */
  def diff(want: Answer, got: Answer, ulp: Boolean): Seq[String] =
    if (want.columns != got.columns) Seq(s"columns want=${want.columns} got=${got.columns}")
    else if (want.rows.size != got.rows.size) Seq(s"rows want=${want.rows.size} got=${got.rows.size}")
    else want.columns.indices.flatMap { c =>
      val bad = want.rows.indices.filterNot(r => same(want.rows(r)(c), got.rows(r)(c), ulp))
      bad.headOption.map(r =>
        s"col ${want.columns(c)}: ${bad.size} diffs, first@$r: want=${want.rows(r)(c)} got=${got.rows(r)(c)}")
    }

  private def same(a: Any, b: Any, ulp: Boolean): Boolean = (a, b) match {
    case (x: Double, y: Double) => x == y || (x.isNaN && y.isNaN)
    case (x: Long, y: Long) => x == y || (ulp && math.abs(x - y) <= 1)
    case (x: List[_], y: List[_]) => x.size == y.size && x.zip(y).forall { case (p, q) => same(p, q, ulp) }
    case _ => a == b
  }

  private val Transcendental = """(?i)\b(log|log10|log2|ln|sqrt|pow|power|exp)\s*\(""".r
  def transcendental(sql: String): Boolean = Transcendental.findFirstIn(sql).isDefined
}

/** The benchmark's copy of the declared tables its queries read, and the
  * oracle answers stored next to it.
  */
final case class QueryData(tables: Path, oracle: Path)

object QueryData {
  def under(bench: Path): QueryData =
    QueryData(bench.resolve("data").resolve("sf0.01"), bench.resolve("oracle"))
}

/** The query phase: an untimed pass that checks every answer against its
  * stored oracle answer, then timed passes whose action hashes every
  * output column, so no column can be pruned away.
  */
object QueryPhase {
  private val HashCol = "__perfbench_row_hash"
}

final class QueryPhase(spark: SparkSession, data: QueryData, names: Seq[String], tracer: Tracer,
    acct: Accounting) {
  private val builds = SparkEntry.queries
  private val oracleSql = SparkEntry.oracleSql
  private val dataDir = data.tables.toString
  import QueryPhase.HashCol
  /** Each query's output digest from the checked pass. */
  private val digests = scala.collection.mutable.Map.empty[String, Seq[Long]]

  private def rowHash(df: DataFrame) = xxhash64(df.columns.map(c => col(s"`$c`")).toIndexedSeq: _*)

  /** Row count, and an order-independent digest of every column of every
    * row: the xor and the sum of the low halves of the rows' hashes.
    */
  def digest(df: DataFrame): Seq[Long] = {
    val r = df.select(rowHash(df).as("h"))
      .agg(count(lit(1)), bit_xor(col("h")), sum(col("h").bitwiseAND(0xffffffffL))).head()
    Seq(r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** Run every query once, check its answer against the oracle's and
    * keep its digest for the timed passes. One action collects the rows
    * with their hashes, so the digest is the one [[digest]] computes.
    */
  def check(): Unit = names.foreach { q =>
    acct.attempt(s"query $q check")(tracer.span(s"warm.q.$q") {
      val df = builds(q)(spark, dataDir)
      val rows = df.withColumn(HashCol, rowHash(df)).collect()
      val hs = rows.map(_.getLong(df.columns.length))
      digests(q) = Seq(hs.length.toLong, hs.foldLeft(0L)(_ ^ _), hs.map(_ & 0xffffffffL).sum)
      Answer.of(df.columns.toSeq, rows.toSeq)
    }) { got =>
      val want = Answer.of(spark.read.parquet(data.oracle.resolve(s"$q.parquet").toString))
      val problems = Answer.diff(want, got, Answer.transcendental(oracleSql(q)))
      if (problems.isEmpty) None else Some(problems.take(3).mkString("; "))
    }
  }

  /** One timed pass: each query's wall time, from building its frame to
    * its digest, in list order. A digest that differs from the checked
    * pass's fails the query.
    */
  def pass(tag: String): Seq[Double] = names.map { q =>
    val t0 = System.nanoTime()
    acct.attempt(s"query $q $tag")(tracer.span(s"q.$q")(digest(builds(q)(spark, dataDir)))) { d =>
      if (digests.get(q).contains(d)) None else Some(s"digest $d, checked pass gave ${digests.get(q)}")
    }
    (System.nanoTime() - t0) / 1e6
  }
}

/** Writes the oracle SQL of the listed queries as one JSON object, for
  * `oracle.py` to answer with DuckDB:
  *
  *   perfbench.OracleSql <out.json>
  */
object OracleSql {
  def main(args: Array[String]): Unit = {
    val sql = SparkEntry.oracleSql
    val out = QueryList.names.map(q => q -> sql(q)).toMap
    Files.write(java.nio.file.Paths.get(args(0)), Main.mapper.writeValueAsBytes(out))
  }
}
