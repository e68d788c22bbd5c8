package perfbench

import org.scalatest.funsuite.AnyFunSuite

import graft.fixtures.EventGen

class ReconcileSpec extends AnyFunSuite {

  private val ev1 = """{"user_id":"u1","event_id":"e1","event_timestamp":"2024-01-01T00:00:05Z","event_type":"page_view","properties":{"url":"x"}}"""
  private val ev2 = """{"user_id":"u2","event_id":"e2","event_timestamp":"2024-01-02T00:00:05Z","event_type":"purchase","product_id":"p","properties":{"amount":1.5}}"""
  private val extra = """{"user_id":"u3","event_id":"e3","event_timestamp":"2024-01-02T00:00:05Z","event_type":"purchase","product_id":"p","properties":{},"more":"x"}"""
  private val invalid = """{"abcdefgh":"ijklmnopqrst"}"""

  test("classification follows the routing contract") {
    val t = GroundTruth.classify("f", Seq(ev1, ev2, extra, invalid).mkString("[", ",", "]"))
    assert(t.valid.map(_.id) == Vector("e1", "e2"))
    assert(t.valid.map(_.day.toString) == Vector("2024-01-01", "2024-01-02"))
    assert(t.dead == Map(GroundTruth.ExtraFields -> 1, GroundTruth.InvalidSchema -> 1))
    assert(GroundTruth.classify("c", s"[$ev1,$ev2".take(40)).dead == Map(GroundTruth.Corrupted -> 1))
    assert(GroundTruth.classify("e", "[]").dead == Map(GroundTruth.Corrupted -> 1))
  }

  test("ground truth agrees with what the generator says it wrote") {
    val gen = new EventGen(7L, corruptionChance = 0.1, invalidSchemaChance = 0.1)
    val batches = Seq.fill(200)(gen.nextBatchInfo(50))
    val truths = batches.zipWithIndex.map { case (b, i) => GroundTruth.classify(s"f$i", b.json) }
    batches.zip(truths).foreach { case (b, t) =>
      if (b.corrupted) assert(t.dead == Map(GroundTruth.Corrupted -> 1) && t.valid.isEmpty)
      else assert(t.events == b.records)
    }
    assert(batches.exists(_.corrupted))
    assert(truths.exists(_.dead.contains(GroundTruth.InvalidSchema)))
  }

  private val truth = Seq(
    FileTruth("a", Vector(ValidEvent("e1", "page_view", null), ValidEvent("e2", "purchase", null)),
      Map(GroundTruth.InvalidSchema -> 1)),
    FileTruth("b", Vector(ValidEvent("e3", "purchase", null)), Map.empty),
    FileTruth("c", Vector.empty, Map(GroundTruth.Corrupted -> 1)))
  private val exact = Map("e1" -> 1L, "e2" -> 1L, "e3" -> 1L)
  private val dead = Map(GroundTruth.InvalidSchema -> 1L, GroundTruth.Corrupted -> 1L)

  test("an exact sink reconciles cleanly") {
    assert(Reconcile.bronze(truth, exact).isEmpty)
    assert(Reconcile.deadLetters(truth, dead).isEmpty)
    assert(Reconcile.operations(truth, dead) == 2 + 1 + 2)
  }

  test("one dropped bronze row fails its file") {
    val f = Reconcile.bronze(truth, exact - "e2")
    assert(f.size == 1 && f.head.startsWith("a:") && f.head.contains("1 rows missing"))
  }

  test("one duplicated bronze row fails its file") {
    val f = Reconcile.bronze(truth, exact.updated("e3", 2L))
    assert(f.size == 1 && f.head.startsWith("b:") && f.head.contains("1 rows duplicated"))
  }

  test("rows no file produced and wrong dead-letter counts fail") {
    assert(Reconcile.bronze(truth, exact.updated("zz", 1L)).size == 1)
    assert(Reconcile.deadLetters(truth, dead.updated(GroundTruth.Corrupted, 2L)).size == 1)
    assert(Reconcile.deadLetters(truth, dead.updated(GroundTruth.ExtraFields, 1L)).size == 1)
  }
}
