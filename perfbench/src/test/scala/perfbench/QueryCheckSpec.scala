package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

class QueryCheckSpec extends AnyFunSuite {

  private def answer(cols: Seq[String], rows: Seq[Any]*) =
    Answer.of(cols, rows.map(r => Row.fromSeq(r)))

  test("answers compare after sorting columns and rows, across numeric types") {
    val oracle = answer(Seq("n", "a"), Seq(2L, "y"), Seq(1L, "x"))
    val engine = answer(Seq("a", "n"), Seq("x", 1), Seq("y", 2.0))
    assert(oracle.columns == Seq("a", "n"))
    assert(Answer.diff(oracle, engine, ulp = false).isEmpty)
  }

  test("a changed value, a missing row or a renamed column fails") {
    val oracle = answer(Seq("a", "n"), Seq("x", 1L), Seq("y", 2L))
    assert(Answer.diff(oracle, answer(Seq("a", "n"), Seq("x", 1L), Seq("y", 3L)), ulp = false).size == 1)
    assert(Answer.diff(oracle, answer(Seq("a", "n"), Seq("x", 1L)), ulp = false).head.startsWith("rows"))
    assert(Answer.diff(oracle, answer(Seq("a", "m"), Seq("x", 1L), Seq("y", 2L)), ulp = false)
      .head.startsWith("columns"))
  }

  test("a last-digit integer difference passes only for transcendental oracles") {
    val oracle = answer(Seq("v"), Seq(1234L))
    val engine = answer(Seq("v"), Seq(1235L))
    assert(Answer.diff(oracle, engine, ulp = true).isEmpty)
    assert(Answer.diff(oracle, engine, ulp = false).nonEmpty)
    assert(Answer.diff(oracle, answer(Seq("v"), Seq(1236L)), ulp = true).nonEmpty)
    assert(Answer.transcendental("SELECT round(ln(x), 4) FROM t"))
    assert(!Answer.transcendental("SELECT count(*) AS n FROM t"))
  }

  test("the query lists cover every listed operator once") {
    assert(QueryList.names.distinct.size == QueryList.names.size)
    assert(QueryList.names.toSet == QueryList.Operators.keySet)
  }

  test("the source log maps each landed file to its micro-batch, compacted or not") {
    val ckpt = Files.createTempDirectory("perfbench-sourcelog")
    val dir = Files.createDirectories(ckpt.resolve("sources").resolve("0"))
    def entry(name: String, batch: Long) =
      s"""{"path":"file:///x/in/$name","timestamp":1,"batchId":$batch}"""
    Files.write(dir.resolve("8"), Seq("v1", entry("a.json", 8)).mkString("\n").getBytes(UTF_8))
    Files.write(dir.resolve("9.compact"),
      Seq("v1", entry("a.json", 8), entry("b-due5.json", 9)).mkString("\n").getBytes(UTF_8))
    Files.write(dir.resolve(".9.compact.crc"), Array[Byte](0, -1, 3))
    assert(SourceLog.read(ckpt).batchOf == Map("a.json" -> 8L, "b-due5.json" -> 9L))
  }
}
