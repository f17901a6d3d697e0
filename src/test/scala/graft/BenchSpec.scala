package graft

import org.json4s._
import org.json4s.jackson.JsonMethods.parse
import org.scalatest.funsuite.AnyFunSuite

/** What `graft.Bench` computes from its runs — query selection and the
  * two JSON lines — checked as pure functions, without a Spark session. */
class BenchSpec extends AnyFunSuite {

  private implicit val formats: Formats = DefaultFormats

  private def rs(sec: Double, shufW: Double = 1.0) =
    Bench.RunStat(sec, shufW, 2.0, 0.0)

  private val ok = Bench.QueryResult("q_a",
    Vector(rs(3.0, 4.0), rs(1.0, 2.0), rs(2.0, 3.0)), 0.5)
  private val failed = Bench.QueryResult("q_b", Vector(rs(-1.0, 0.0)), 0.0)
  private val (line, detail) = Bench.summary(Seq(ok, failed),
    "/data/sf0.1", "4", "\"pid\":7,\"lock_contended\":false")

  private def num(v: JValue): Double = v match {
    case JDouble(d) => d
    case JInt(i) => i.toDouble
    case other => fail(s"not a number: $other")
  }

  test("each query reports the median of its timed runs") {
    assert(ok.median == 2.0)
    assert(num(parse(line) \ "queries" \ "q_a") == 2.0)
    assert(num(parse(detail) \ "queries" \ "q_a") == 2.0)
    assert((parse(detail) \ "spread" \ "q_a").extract[Seq[Double]] ==
      Seq(1.0, 2.0, 3.0))
  }

  test("a failed query reports -1") {
    assert(num(parse(line) \ "queries" \ "q_b") == -1.0)
  }

  test("value is the sum of the per-query medians") {
    assert(num(parse(line) \ "value") == ok.median + failed.median)
    assert(num(parse(detail) \ "value") == num(parse(line) \ "value"))
  }

  test("the stdout line and the detail record both parse as JSON") {
    val l = parse(line)
    assert(l.asInstanceOf[JObject].obj.map(_._1) == List("metric", "value",
      "unit", "queries", "sf", "runs_per_query", "stat"))
    assert(l \ "sf" == JString("/data/sf0.1"))
    assert(num(l \ "runs_per_query") == Bench.Runs)
    val d = parse(detail)
    assert(num(d \ "cpus") == 4.0 && num(d \ "pid") == 7.0)
    assert(num(d \ "shuffle_write_mb" \ "q_a") == 3.0)
    assert(num(d \ "storage_used_mb_after" \ "q_a") == 0.5)
    assert((d \ "sec_shufw_runs" \ "q_a").extract[Seq[Seq[Double]]] ==
      Seq(Seq(3.0, 4.0), Seq(1.0, 2.0), Seq(2.0, 3.0)))
    // "*" (local[*]) is a string, not a bare token
    val (_, star) = Bench.summary(Seq(ok), "/d", "*", "\"pid\":1")
    assert(parse(star) \ "cpus" == JString("*"))
  }

  test("SPARK_GRAFT_BENCH_ONLY takes any registered query and rejects " +
      "an unknown name") {
    assert(Bench.selected(None) == Bench.headline)
    assert(!Bench.headline.contains("audit_incr_candidates"))
    assert(Bench.selected(Some("audit_incr_candidates, graph_pagerank")) ==
      Seq("audit_incr_candidates", "graph_pagerank"))
    val e = intercept[IllegalArgumentException](
      Bench.selected(Some("graph_pagerank,no_such_query")))
    assert(e.getMessage.contains("no_such_query"))
    intercept[IllegalArgumentException](Bench.selected(Some(" , ")))
  }
}
