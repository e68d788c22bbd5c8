package perfbench

import java.time.{Instant, LocalDate, ZoneOffset}

import scala.jdk.CollectionConverters._
import scala.util.Try

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** One event the pipeline must route to bronze. */
final case class ValidEvent(id: String, eventType: String, day: LocalDate)

/** What one generated batch file must turn into: its valid events and its
  * dead-letter rows per reason.
  */
final case class FileTruth(name: String, valid: Vector[ValidEvent], dead: Map[String, Int]) {
  def events: Int = valid.size + dead.values.sum
}

/** Ground truth for a batch file, derived with Jackson from the bytes the
  * generator wrote — never with the engine's parser or router, so a
  * defect there cannot hide in its own oracle. The routing rules are the
  * pipeline's documented contract: a file that is not a non-empty JSON
  * array is one `corrupted_batch` row; an element missing a required
  * field is `invalid_schema`; one with more top-level keys than the
  * schema has fields is `extra_fields`; anything else is valid.
  */
object GroundTruth {
  val Corrupted = "corrupted_batch"
  val InvalidSchema = "invalid_schema"
  val ExtraFields = "extra_fields"

  private val Required = Seq("user_id", "event_id", "event_timestamp", "event_type")
  private val SchemaWidth = 6
  private val mapper = new ObjectMapper()

  def classify(name: String, text: String): FileTruth =
    Try(mapper.readTree(text)).toOption.filter(n => n != null && n.isArray && n.size > 0) match {
      case None => FileTruth(name, Vector.empty, Map(Corrupted -> 1))
      case Some(arr) =>
        val routed = arr.elements().asScala.toVector.map(route)
        FileTruth(name,
          routed.collect { case Right(ev) => ev },
          routed.collect { case Left(r) => r }.groupBy(identity).map { case (r, rs) => r -> rs.size })
    }

  private def route(el: JsonNode): Either[String, ValidEvent] = {
    def text(f: String): Option[String] =
      Option(el.get(f)).filter(_.isTextual).map(_.asText)
    val required = Required.map(text)
    val day = text("event_timestamp").flatMap(ts =>
      Try(Instant.parse(ts).atZone(ZoneOffset.UTC).toLocalDate).toOption)
    if (!el.isObject || required.exists(_.isEmpty) || day.isEmpty) Left(InvalidSchema)
    else if (el.size > SchemaWidth) Left(ExtraFields)
    else Right(ValidEvent(required(1).get, required(3).get, day.get))
  }
}

/** Checks a sink's contents against ground truth. Each returns one line
  * per failed operation; an empty result means the sink is exact.
  */
object Reconcile {

  /** One operation per file with valid events: it fails when any of its
    * events is missing from bronze or present more than once. Rows whose
    * id no file produced fail one extra operation.
    */
  def bronze(truth: Seq[FileTruth], observed: Map[String, Long]): Seq[String] = {
    val perFile = truth.filter(_.valid.nonEmpty).flatMap { f =>
      val counts = f.valid.map(e => observed.getOrElse(e.id, 0L))
      val missing = counts.count(_ == 0L)
      val duplicated = counts.count(_ > 1L)
      if (missing + duplicated == 0) None
      else Some(s"${f.name}: $missing rows missing, $duplicated rows duplicated in bronze")
    }
    val known = truth.iterator.flatMap(_.valid.map(_.id)).toSet
    val unexpected = observed.keysIterator.count(id => !known(id))
    perFile ++ (if (unexpected == 0) Nil else Seq(s"bronze holds $unexpected rows no file produced"))
  }

  /** One operation per dead-letter reason seen in either side. */
  def deadLetters(truth: Seq[FileTruth], observed: Map[String, Long]): Seq[String] = {
    val expected = expectedDead(truth)
    (expected.keySet ++ observed.keySet).toSeq.sorted.flatMap { r =>
      val e = expected.getOrElse(r, 0L)
      val o = observed.getOrElse(r, 0L)
      if (e == o) None else Some(s"dead letters '$r': expected $e, found $o")
    }
  }

  def expectedDead(truth: Seq[FileTruth]): Map[String, Long] =
    truth.flatMap(_.dead.toSeq).groupBy(_._1).map { case (r, xs) => r -> xs.map(_._2.toLong).sum }

  /** Operations [[bronze]] and [[deadLetters]] count. */
  def operations(truth: Seq[FileTruth], observedDead: Map[String, Long]): Long =
    truth.count(_.valid.nonEmpty) + 1 + (expectedDead(truth).keySet ++ observedDead.keySet).size
}
