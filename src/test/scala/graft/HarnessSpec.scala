package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** The measurement harness the mains share: query selection
  * ([[SparkEntry.select]]), Bench's timed-run loop ([[Bench.measure]]) and
  * the one JSON writer ([[Bench.json]]). */
class HarnessSpec extends AnyFunSuite {
  private val known = Seq("q2", "q1", "x3")

  test("select: no spec selects every known name, sorted") {
    assert(SparkEntry.select(None, known) == Seq("q1", "q2", "x3"))
  }

  test("select: names are comma-split and trimmed; empty items are skipped") {
    assert(SparkEntry.select(Some(" q2 , ,q1"), known) == Seq("q1", "q2"))
  }

  test("select: an unknown name, or a spec naming nothing, fails naming it") {
    val e = intercept[IllegalArgumentException](
      SparkEntry.select(Some("q1,nope,q9"), known))
    assert(e.getMessage.contains("nope") && e.getMessage.contains("q9"),
      e.getMessage)
    intercept[IllegalArgumentException](SparkEntry.select(Some(" , "), known))
  }

  test("measure: runs positive durations, sorted, no error") {
    val runs = 2
    val m = Bench.measure(TestSpark.spark, "q1_pricing_summary",
      "/root/testdata/sf0.001", runs)
    assert(m.error.isEmpty, m.error)
    // the contention guard may double the sample on a noisy host
    assert(m.secs.length == (if (m.rerun) 2 * runs else runs), m)
    assert(m.secs.forall(_ > 0), m)
    assert(m.secs == m.secs.sorted, m)
    assert(m.median == m.secs(m.secs.length / 2))
  }

  test("measure: a query that throws comes back as an error") {
    val m = Bench.measure(TestSpark.spark, "q1_pricing_summary",
      TestSpark.tempDir("harness-empty").toString, 2)
    assert(m.error.exists(_.nonEmpty), m)
    assert(m.secs.isEmpty, m)
  }

  test("oracle_sql.json round-trips tab, CR, quote, backslash and U+0001") {
    val sql = "SELECT '\t' AS a,\r\n \"b\", '\\' || '\u0001' FROM t"
    val text = Verify.oracleJson(Map("q1" -> sql, "q0" -> "SELECT 1"))
    assert(!text.exists(c => c < ' '), text)
    val back = Bench.json.readTree(text)
    assert(back.get("q1").asText == sql)
    assert(back.get("q0").asText == "SELECT 1")
  }

  test("fixed: half-up at the given places, written without exponent") {
    def w(d: Double, places: Int) =
      Bench.json.writeValueAsString(Bench.fixed(d, places))
    assert(w(0.1235, 3) == "0.124")
    assert(w(86611.5, 0) == "86612")
    assert(w(1.0e7, 1) == "10000000.0")
    assert(w(0.0, 2) == "0.00")
  }

  test("BENCH_FULL.json read and re-written through Bench.json keeps every byte") {
    val orig = Files.readAllBytes(Paths.get("BENCH_FULL.json"))
    val back = Bench.json.writeValueAsString(
      Bench.json.readTree(new String(orig, "UTF-8"))) + "\n"
    assert(java.util.Arrays.equals(back.getBytes("UTF-8"), orig))
  }
}
