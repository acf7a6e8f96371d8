package graft

import org.scalatest.funsuite.AnyFunSuite

/** `graft.Bench` failure accounting: a failed key (best time -1.0) is
  * listed under `failed`, never elided, and left out of `total`.
  */
class BenchSpec extends AnyFunSuite {

  test("failed keys are listed and excluded from the total") {
    val line = Bench.summaryLine(Map("a" -> 1.5, "b" -> -1.0, "c" -> 0.25), "sf")
    assert(line.contains("\"value\":1.750,"))
    assert(line.contains("\"n\":3,"))
    assert(line.contains("\"failed\":[\"b\"],"))
    assert(line.contains("\"queries\":{\"a\":1.5000,\"c\":0.2500,\"b\":-1.0000}"))
  }

  test("the failed list survives the stdout budget that elides fast keys") {
    val ok = (1 to 300).map(i => f"query_key_$i%03d" -> (1.0 + i / 1000.0))
    val line = Bench.summaryLine((ok :+ ("broken" -> -1.0)).toMap, "sf")
    assert(line.length < 2000, s"${line.length} chars")
    assert(line.contains("\"failed\":[\"broken\"],"))
    assert(!line.contains("\"omitted\":0,"))
    assert(line.contains(f"\"value\":${ok.map(_._2).sum}%.3f,"))
  }

  test("no failures: an empty failed list") {
    assert(Bench.summaryLine(Map("a" -> 2.0), "sf").contains("\"failed\":[],"))
  }
}
