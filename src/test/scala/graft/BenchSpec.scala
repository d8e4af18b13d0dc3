package graft

import graft.Bench.{Result, Run}
import org.scalatest.funsuite.AnyFunSuite

/** The pure pieces of [[Bench]]'s one protocol: the per-query stats, failure
  * poisoning, the bounded stdout line, the baseline ratios, and the
  * artifact reading back through the baseline regex.
  */
class BenchSpec extends AnyFunSuite {

  private def run(secs: Double) = Run(secs, gcMs = 1, jitMs = 2, maxTaskMs = 3,
    tasks = 4, taskSumMs = 5)
  private def ok(name: String, ts: Double*) = Result(name, Some(run(9.0)), ts.map(run))

  test("secs is the median of the 3 timed runs; min and spread beside it; warm-up not counted") {
    val r = ok("q", 3.0, 1.5, 2.0)
    assert(!r.failed)
    assert(r.secs == 2.0 && r.min == 1.5 && r.spread == 1.5)
  }

  test("any failed run makes the query failed and the total -1") {
    val short = Result("b", Some(run(1.0)), Seq(run(1.0), run(1.0))) // 3rd timed run threw
    val noWarm = Result("c", None, Nil)                               // warm-up threw
    for (f <- Seq(short, noWarm)) {
      assert(f.failed && f.secs == -1.0)
      assert(Bench.total(Seq(ok("a", 1.0, 2.0, 3.0), f)) == -1.0)
    }
    assert(Bench.total(Seq(ok("a", 1.0, 2.0, 3.0), ok("d", 5.0, 4.0, 6.0))) == 7.0)
  }

  test("stdout line keeps its fields and stays within the budget for 255 entries") {
    val rs = (1 to 255).map(i => ok(f"x_some_query_name_$i%03d", i, i + 0.5, i + 1.0))
    val line = Bench.summaryLine(rs, "/data/sf0.1", "bench.json")
    assert(line.length <= Bench.LineBudget)
    for (k <- Seq("metric\":\"total", "\"value\":", "\"unit\":\"sec\"", "\"n\":255", "\"failed\":[]"))
      assert(line.contains(k), k)
    assert(!line.contains('\n'))
    // most expensive first, the cut ones counted
    assert(line.contains("\"x_some_query_name_255\":255.500"))
    val kept = "\"x_some_query_name_\\d+\":".r.findAllIn(line).size
    assert(kept > 0 && line.contains(s""""omitted":${255 - kept}"""))

    val allFailed = rs.map(r => Result(r.name, None, Nil))
    val failedLine = Bench.summaryLine(allFailed, "/data/sf0.1", "bench.json")
    assert(failedLine.length <= Bench.LineBudget)
    assert(failedLine.contains("\"value\":-1.000") && failedLine.contains("\"failed\":[\"x_some"))
  }

  test("gt2x lists every query above 2x its baseline, with no side lists") {
    val base = Bench.artifact(Seq(ok("a", 1.0, 1.0, 1.0), ok("b", 1.0, 1.0, 1.0),
      ok("c", 1.0, 1.0, 1.0)), "/data/sf0.1", "null")
    val cur = Seq(ok("a", 3.0, 3.0, 3.0), ok("b", 9.0, 9.0, 9.0), ok("c", 1.5, 1.5, 1.5),
      Result("d", None, Nil))
    val vs = Bench.vsBaseline(cur, "/data/sf0.1", "bench.json", base)
    assert(vs.contains("\"gt2x\":[\"a\",\"b\"]"))
    assert(vs.contains("\"n\":3") && vs.contains("\"median_ratio\":3.000"))
    assert(!vs.contains("gt2x_"))
    // a baseline at another sf gives no ratios at all
    val other = Bench.vsBaseline(cur, "/data/sf0.01", "bench.json", base)
    assert(other == """{"file":"bench.json","sf_mismatch":true,"baseline_sf":"/data/sf0.1"}""")
  }

  test("the baseline regex reads back an artifact the writer produced") {
    val rs = Seq(ok("q1_agg", 0.25, 0.125, 0.5), ok("x_pagerank", 4.0, 3.5, 5.0),
      Result("x_broken", Some(run(1.0)), Nil))
    val txt = Bench.artifact(rs, "/data/sf0.1", "null")
    assert(Bench.readBaseline(txt) == (Some("/data/sf0.1"),
      Map("q1_agg" -> 0.25, "x_pagerank" -> 4.0, "x_broken" -> -1.0)))
    assert(txt.contains(""""x_pagerank": {"secs":4.000,"min":3.500,"spread":1.500,""" +
      """"runs":[4.000,3.500,5.000],"warmup":9.000,"""))
    assert(txt.contains("\"failed\":[\"x_broken\"]") && txt.contains("\"total\":-1.000"))
  }
}
