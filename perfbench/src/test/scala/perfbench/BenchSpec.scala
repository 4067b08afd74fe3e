package perfbench

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  private def spans(xs: (Int, String, Double, Double, Int)*) =
    xs.map { case (id, n, s, e, p) => Span(id, n, s, e, p, 0) }

  test("union of intervals merges overlaps and skips empty ones") {
    assert(Intervals.unionLength(Nil) == 0.0)
    assert(Intervals.unionLength(Seq((0.0, 2.0), (1.0, 3.0), (5.0, 6.0))) == 4.0)
    assert(Intervals.unionLength(Seq((5.0, 6.0), (0.0, 10.0), (2.0, 3.0))) == 10.0)
    assert(Intervals.unionLength(Seq((1.0, 1.0), (3.0, 2.0))) == 0.0)
    assert(Intervals.unionLength(Seq((0.0, 1.0), (1.0, 2.0))) == 2.0)
  }

  test("clip cuts intervals to a window") {
    assert(Intervals.clip(Seq((0.0, 4.0), (5.0, 9.0), (10.0, 12.0)), 2.0, 6.0) ==
      Seq((2.0, 4.0), (5.0, 6.0)))
  }

  test("self time is duration minus the union of the children") {
    // op [0,10] holds ingest [1,4] and run [4,9]; run holds two
    // overlapping jobs [5,7] and [6,8]
    val ss = spans((1, "bench.op", 0, 10, 0), (2, "sources.ingest", 1, 4, 1),
      (3, "pagerank.run", 4, 9, 1), (4, "spark.job", 5, 7, 3),
      (5, "spark.job", 6, 8, 3))
    val self = Intervals.selfTimes(ss)
    assert(self(1) == 2.0)
    assert(self(2) == 3.0)
    assert(self(3) == 2.0)
    assert(self(4) == 2.0 && self(5) == 2.0)
  }

  test("a child running past its parent only counts inside the parent") {
    val self = Intervals.selfTimes(spans((1, "a", 0, 4, 0), (2, "b", 3, 6, 1)))
    assert(self(1) == 3.0)
  }

  test("tracer nests spans and hangs jobs under the innermost one") {
    val t = new Tracer(true)
    t.span("bench.op")(t.span("pagerank.run")(Thread.sleep(5)))
    val run = t.spans.find(_.name == "pagerank.run").get
    val op = t.spans.find(_.name == "bench.op").get
    assert(run.parent == op.id && op.parent == 0)
    t.addLeaf("spark.job", run.startMs + 1e-3, run.endMs, 0)
    assert(t.spans.find(_.name == "spark.job").get.parent == run.id)
    val off = new Tracer(false)
    assert(off.span("x")(7) == 7 && off.spans.isEmpty)
  }

  test("metric names follow the grammar") {
    Seq("total_s", "driver.busy_s", "host.copy_gbps_1t", "a-b.c_9")
      .foreach(n => assert(Stats.validName(n), n))
    Seq("", "_x", ".x", "a b", "a/b", "x" * 65, "pagerank:iter")
      .foreach(n => assert(!Stats.validName(n), n))
    (Main.EndToEnd ++ Layers.all).foreach { case (n, _) =>
      assert(Stats.validName(n), n)
    }
    val names = (Main.EndToEnd ++ Layers.all).map(_._1)
    assert(names.distinct == names)
  }

  test("BENCHMARK.json lists exactly the metrics the benchmark reports") {
    val f = new java.io.File("../BENCHMARK.json")
    assume(f.exists)
    val json = new String(java.nio.file.Files.readAllBytes(f.toPath))
    def section(key: String) = {
      val from = json.indexOf("\"" + key + "\"")
      val body = json.substring(json.indexOf('[', from), json.indexOf(']', from))
      "\"name\":\\s*\"([^\"]+)\",\\s*\"unit\":\\s*\"([^\"]+)\"".r
        .findAllMatchIn(body).map(m => m.group(1) -> m.group(2)).toSeq
    }
    assert(section("end_to_end") == Main.EndToEnd)
    assert(section("per_layer") == Layers.all)
  }

  test("tracing overhead compares each traced operation with its neighbours") {
    def op(t: Double, traced: Boolean, errors: Seq[String] = Nil) =
      Main.Sample(traced, Map("total_s" -> t), Nil, None, errors)
    // untraced times fall through the run; a traced one costs 0.1 or 0.2
    val ops = Seq(op(3.0, false), op(2.9, true), op(2.6, false),
      op(2.7, true), op(2.4, false))
    assert(math.abs(Main.overhead(ops) - 0.15) < 1e-12)
    // a failed neighbour drops the comparison; no full triple gives NaN
    assert(math.abs(Main.overhead(ops.updated(4, op(2.4, false, Seq("x")))) - 0.1) < 1e-12)
    assert(Main.overhead(ops.take(2)).isNaN)
  }

  test("median and quantiles interpolate") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(1.0, 2.0, 3.0, 4.0)) == 2.5)
    assert(Stats.median(Nil).isNaN)
    assert(Stats.quantile(Seq(0.0, 10.0), 0.25) == 2.5)
  }

  test("JSON numbers keep every digit and missing values become null") {
    assert(Json.num(0.1 + 0.2) == "0.30000000000000004")
    assert(Json.num(Double.NaN) == "null")
    assert(Json.str("a\"b\\c\n") == "\"a\\\"b\\\\c\\u000a\"")
  }
}
