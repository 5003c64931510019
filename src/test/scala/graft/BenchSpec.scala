package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench record: a query that throws is listed under `failed` and
  * never timed, so it cannot read as a fast row. */
class BenchSpec extends AnyFunSuite {

  test("a throwing query is recorded as failed, not timed") {
    var calls = 0
    val passes = Bench.timedPasses(Seq(
      "ok" -> (() => Thread.sleep(5)),
      "boom" -> (() => throw new IllegalStateException("boom")),
      // throws only in the second pass: still not a timed row
      "flaky" -> (() => { calls += 1; if (calls > 1) sys.error("late") })))
    assert(passes.failed.sorted === Seq("boom", "flaky"))
    assert(passes.first.keySet === Set("ok"))
    assert(passes.min.keySet === Set("ok"))
    assert(passes.min("ok") >= 0.005 && passes.min("ok") <= passes.first("ok"))
    val (line, record, headline) = Bench.render(passes, "sf")
    for (json <- Seq(line, record)) {
      assert(json.contains("\"failed\":[\"boom\",\"flaky\"]"), json)
      assert(!json.contains("\"boom\":"), json)
      assert(json.contains("\"queries\":{\"ok\":"), json)
      assert(json.contains("\"first\":{\"ok\":"), json)
      assert(json.contains(s"\"first_total\":${passes.first("ok")}"), json)
    }
    assert(line.startsWith("{\"metric\":\"total\",\"value\":" +
      passes.min("ok") + ","), line)
    assert(headline.contains("\"n_queries\":1"), headline)
  }

  test("a run with no failure records an empty failed list") {
    val (line, _, _) =
      Bench.render(Bench.timedPasses(Seq("ok" -> (() => ()))), "sf")
    assert(line.contains("\"failed\":[]"), line)
  }
}
