package perfbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {

  test("covered time is the union of intervals clipped to the window") {
    assert(Trace.coveredUs(Seq.empty, 0, 100) === 0)
    assert(Trace.coveredUs(Seq((10L, 20L), (15L, 30L), (40L, 50L)), 0, 100) === 30)
    assert(Trace.coveredUs(Seq((-5L, 20L), (90L, 150L)), 0, 100) === 30)
    assert(Trace.coveredUs(Seq((10L, 20L), (20L, 30L)), 0, 100) === 20)
  }

  // one query: construct runs a schema job, the action plans then runs
  // two overlapping jobs; the ranks decide who is whose parent
  private val ms = 1000L
  private val spans = IndexedSeq(
    Span("run", "driver", "measure", 0, 200 * ms),
    Span("query", "driver", "q", 10 * ms, 150 * ms),
    Span("construct", "queries", "q", 10 * ms, 50 * ms),
    Span("job", "tables", "parquet at Tables.scala:27", 20 * ms, 30 * ms),
    Span("action", "driver", "q", 50 * ms, 150 * ms),
    Span("phase", "plan", "planning", 50 * ms, 60 * ms),
    Span("job", "exec", "a", 70 * ms, 100 * ms),
    Span("job", "exec", "b", 90 * ms, 120 * ms),
    Span("post", "sink", "p", 95 * ms, 105 * ms))

  test("a span's parent is the innermost lower-rank span holding its start") {
    assert(Trace.parents(spans) === IndexedSeq(-1, 0, 1, 2, 1, 4, 4, 4, 7))
  }

  test("self time subtracts the union of the children's intervals") {
    val self = Trace.selfUs(spans).map(_ / ms)
    assert(self === IndexedSeq(
      60,  // run: 200 - query 140
      0,   // query: 140 - construct 40 - action 100
      30,  // construct: 40 - schema job 10
      10,  // schema job
      40,  // action: 100 - planning 10 - jobs' union [70, 120] 50
      10,  // planning
      30,  // job a
      20,  // job b: 30 - post 10
      10)) // post
    val byLayer = Trace.selfByLayerMs(spans)
    assert(byLayer === Map("driver" -> 100.0, "queries" -> 30.0, "tables" -> 10.0,
      "plan" -> 10.0, "exec" -> 50.0, "sink" -> 10.0))
    // self times add up to the root's wall plus the time jobs a and b
    // ran concurrently ([90, 100]): concurrent work is counted per job
    assert(byLayer.values.sum === 200.0 + 10.0)
  }
}
