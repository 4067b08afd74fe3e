package graft

import graft.Bench.{fixed, readIdle, Report, Row}
import graft.metrics.{RegressionRule, ResourceSnapshot}
import java.nio.file.{Files, Path}
import org.json4s._
import org.json4s.jackson.JsonMethods.parse
import org.scalatest.funsuite.AnyFunSuite

/** The bench record: [[Bench.Row]]s and [[Bench.Report]] render every
  * bench line, [[Bench.readIdle]] reads the committed idle reference
  * back, and `Verify.writeJson` writes the oracle map — all through one
  * JSON codec. The number text and key order are the driver contract.
  */
class BenchSpec extends AnyFunSuite {
  private val zero = ResourceSnapshot(0, 0, 0, 0, 0, 0, 0, 0, 0, 0)

  // a flat temp dir, removed with its files after the body
  private def inDir(body: Path => Unit): Unit = {
    val dir = Files.createTempDirectory("benchspec")
    try body(dir)
    finally {
      val files = Files.list(dir)
      try files.forEach(f => Files.delete(f)) finally files.close()
      Files.delete(dir)
    }
  }

  private def okRow(name: String, wall: Double, cpuMs: Long) =
    Row(name, Right(wall), zero.copy(executorCpuMs = cpuMs), 0.0, None)

  test("the reader over the committed BENCH_DETAIL.json matches json.load of it") {
    val path = java.nio.file.Paths.get("BENCH_DETAIL.json")
    val JString(sf) = parse(Files.readString(path)) \ "sf"
    val idle = readIdle(path, sf)
    assert(idle.unusable.isEmpty)
    assert(idle.walls.size == 321)
    assert(idle.refs.size == 321)
    assert(idle.calib1t.contains(0.78))
    assert(idle.calibWide.contains(0.82))
    // sums and two rows from Python's json.load of the same file
    def near(a: Double, b: Double) = math.abs(a - b) < 1e-6
    assert(near(idle.walls.values.sum, 777.02))
    assert(near(idle.refs.values.map(_.workMb).sum, 34547.23))
    assert(near(idle.refs.values.map(_.cpuSec).sum, 5055.22))
    assert(near(idle.refs.values.map(_.gcSec).sum, 735.434))
    assert(idle.refs("g13_s3_pagerank") ==
      RegressionRule.IdleRef(85.98, 5099.76 + 12431.3, 1407.384, 374.601))
    assert(idle.refs("d10_vocabulary") ==
      RegressionRule.IdleRef(1.10, 2.58, 12.018, 1.408))
  }

  test("an unusable idle reference names why: missing, other sf, malformed") { inDir { dir =>
    val missing = readIdle(dir.resolve("BENCH_DETAIL.json"), "/data/sf1")
    assert(missing.unusable.exists(_.contains("is missing")))
    assert(missing.walls.isEmpty && missing.refs.isEmpty && missing.calib1t.isEmpty)

    // calibrations are read whatever the sf; walls and refs only at a match
    val other = dir.resolve("other.json")
    Files.writeString(other, Report(Seq(okRow("q1", 2.0, 1000)), Nil,
      List("calib_1t_sec" -> fixed(2)(0.8), "calib_wide_sec" -> fixed(2)(0.9)),
      4, "/data/sf0.1").detailLine)
    val atOther = readIdle(other, "/data/sf1")
    assert(atOther.unusable.exists(_.contains("is for sf /data/sf0.1, not /data/sf1")))
    assert(atOther.walls.isEmpty && atOther.refs.isEmpty)
    assert(atOther.calib1t.contains(0.8) && atOther.calibWide.contains(0.9))
    val atSame = readIdle(other, "/data/sf0.1")
    assert(atSame.unusable.isEmpty)
    assert(atSame.walls == Map("q1" -> 2.0))
    assert(atSame.refs == Map("q1" -> RegressionRule.IdleRef(2.0, 0.0, 1.0, 0.0)))

    val bad = dir.resolve("bad.json")
    Files.writeString(bad, """{"queries":{"q1":2.0},"calib_1t_sec":0.8""")
    val malformed = readIdle(bad, "/data/sf0.1")
    assert(malformed.unusable.exists(_.contains("is unparseable")))
    assert(malformed.walls.isEmpty && malformed.calib1t.isEmpty)
  }}

  test("canned rows render the pinned contract line") {
    val rows = Row("a_fail", Left("IllegalStateException"), zero, 0.0, None) +:
      (1 to 16).map(i => okRow(f"q$i%02d", i * 1.5, i * 250L))
    val report = Report(rows,
      List("contention_suspects" -> Seq("q16"), "work_changed" -> Nil,
        "regressions" -> Seq("q15"), "demoted" -> Seq("q16")),
      List("s3_iter_sec" -> JArray(List(fixed(1)(1.0), fixed(1)(2.25))),
        "tri_id_sec" -> fixed(1)(3.14159),
        "q14_max_rel_err" -> fixed(4)(0.01234),
        "q20_max_rel_err" -> fixed(5)(0.000012),
        "idle_ref_n" -> JLong(2),
        "calib_vs_idle" -> fixed(2)(1.049)),
      4, "/data/sf0.1")
    assert(report.contractLine ==
      """{"metric":"total","value":204.00,"unit":"sec","queries":{""" +
      """"a_fail":"err:IllegalStateException","q16":[24.00,4.00],""" +
      """"q15":[22.50,3.75],"q14":[21.00,3.50],"q13":[19.50,3.25],""" +
      """"q12":[18.00,3.00],"q11":[16.50,2.75],"q10":[15.00,2.50],""" +
      """"q09":[13.50,2.25],"q08":[12.00,2.00],"q07":[10.50,1.75],""" +
      """"q06":[9.00,1.50],"q05":[7.50,1.25],"q04":[6.00,1.00],""" +
      """"q03":[4.50,0.75],"q02":[3.00,0.50]},"queries_omitted":1,""" +
      """"errors":1,"contention_suspects":["q16"],"work_changed":[],""" +
      """"regressions":["q15"],"demoted":["q16"],"s3_iter_sec":[1.0,2.3],""" +
      """"tri_id_sec":3.1,"q14_max_rel_err":0.0123,""" +
      """"q20_max_rel_err":0.00001,"idle_ref_n":2,"calib_vs_idle":1.05,""" +
      """"sf":"/data/sf0.1"}""")
  }

  test("canned rows render the pinned queries line and resource row") {
    val mib = 1048576L
    val row = Row("q1", Right(3.0),
      ResourceSnapshot(shuffleReadBytes = 5 * mib / 2, shuffleWriteBytes = 0,
        memorySpillBytes = mib, diskSpillBytes = mib / 4, inputBytes = mib,
        outputBytes = 7, executorRunMs = 300, executorCpuMs = 250,
        jvmGcMs = 5, peakStageShuffleWriteBytes = 9, inputRecords = 10,
        shuffleRecords = 20),
      1.5, Some(2.0))
    assert(org.json4s.jackson.JsonMethods.compact(row.resourceJson) ==
      """{"shuffle_read_mb":2.5,"shuffle_write_mb":0.0,"spill_mb":1.25,""" +
      """"input_mb":1.0,"input_rows":10,"shuffle_rows":20,""" +
      """"executor_run_ms":300,"executor_cpu_ms":250,"gc_ms":5,""" +
      """"cache_mb":1.5,"idle_wall_sec":2.0,"vs_idle":1.50}""")
    val report = Report(Seq(row, row.copy(name = "q2", wall = Left("Boom"))),
      Nil, Nil, 4, "/data/sf0.1")
    assert(report.queriesLine ==
      """{"metric":"queries","value":3.00,"unit":"sec",""" +
      """"queries":{"q1":3.00,"q2":"err:Boom"},"errors":1,"cpus":4,""" +
      """"sf":"/data/sf0.1"}""")
  }

  test("an sf holding a quote and a backslash round-trips through every line") {
    val sf = "/data/sf\"q\\x"
    val report = Report(Seq(okRow("q1", 2.0, 1000)), Nil, Nil, 4, sf)
    for (line <- Seq(report.queriesLine, report.detailLine, report.contractLine))
      assert(parse(line) \ "sf" == JString(sf), line)
    inDir { dir =>
      val detail = dir.resolve("BENCH_DETAIL.json")
      Files.writeString(detail, report.detailLine)
      assert(readIdle(detail, sf).walls == Map("q1" -> 2.0))
    }
  }

  test("Verify writes oracle SQL with quotes, backslashes and control chars as JSON") { inDir { dir =>
    val sql = "SELECT \"a\\b\"\tFROM t\r\n WHERE c = '\u0001'"
    Verify.writeJson(dir.toString, Seq("q_odd" -> sql, "q_plain" -> "SELECT 1"),
      Seq("q_odd", "f\"2"))
    val oracleText = Files.readString(dir.resolve("oracle_sql.json"))
    assert(oracleText.forall(_ >= ' '), "a raw control char reached the file")
    assert(parse(oracleText) ==
      JObject(List("q_odd" -> JString(sql), "q_plain" -> JString("SELECT 1"))))
    assert(parse(Files.readString(dir.resolve("failed_queries.json"))) ==
      JArray(List(JString("q_odd"), JString("f\"2"))))
  }}
}

/** The work-keyed, CPU-evidenced regression ladder that Bench judges
  * each row against its idle reference with.
  */
class RegressionRuleSpec extends AnyFunSuite {

  // the r16 end-of-round window VERBATIM (BENCH_EOD.json vs the
  // committed idle BENCH_DETAIL.json at the same HEAD): three flags,
  // all idle-clean — the rule must now emit zero regressions while
  // still demoting all three to discounted suspects
  private val r16HostRatio = math.max(1.0, math.max(0.81 / 0.78, 0.86 / 0.97))
  private val r16Samples = Seq(
    // wall 2.2× idle, cpu 2.0× (hyperthread stealing), gc 5.7× — the
    // co-tenant GC-wake shape
    RegressionRule.Sample("g18_hub_salt32", 23.8, 5120.19, 419.273, 65.685),
    // 1.7 s of idle cpu "quadrupling" under a burst — sub-5 s noise
    RegressionRule.Sample("g19_bfs_hops", 1.7, 0.74, 7.032, 5.216),
    // wall 2.3× at FLAT cpu — scheduling delay by definition
    RegressionRule.Sample("g35_modularity", 4.5, 1.12, 24.505, 1.060))
  private val r16Idle = Map(
    "g18_hub_salt32" -> RegressionRule.IdleRef(10.75, 4609.16, 207.470, 11.612),
    "g19_bfs_hops" -> RegressionRule.IdleRef(0.65, 0.70, 1.672, 0.0),
    "g35_modularity" -> RegressionRule.IdleRef(1.95, 1.01, 20.105, 0.988))

  test("the r16 contended window emits ZERO regressions, 3 demotions") {
    val v = RegressionRule.judge(r16Samples, r16Idle, r16HostRatio, Set.empty)
    assert(v.regressions.isEmpty, s"false flags survived: ${v.regressions}")
    assert(v.demoted.toSet ==
      Set("g18_hub_salt32", "g19_bfs_hops", "g35_modularity"))
    assert(v.workChanged.isEmpty)
  }

  test("a genuine regression (cpu up, gc flat, work matched) still fires") {
    val v = RegressionRule.judge(
      Seq(RegressionRule.Sample("real_regression", 5.0, 100.0, 30.0, 1.0)),
      Map("real_regression" -> RegressionRule.IdleRef(2.0, 100.0, 10.0, 0.9)),
      r16HostRatio, Set.empty)
    assert(v.regressions == Seq("real_regression"))
    assert(v.demoted.isEmpty)
  }

  test("work moved ⇒ workChanged, never a wall regression") {
    val v = RegressionRule.judge(
      Seq(RegressionRule.Sample("plan_moved", 9.0, 200.0, 30.0, 1.0)),
      Map("plan_moved" -> RegressionRule.IdleRef(2.0, 100.0, 10.0, 0.9)),
      1.0, Set.empty)
    assert(v.workChanged == Seq("plan_moved"))
    assert(v.regressions.isEmpty)
  }

  test("an existing contention suspect is excluded outright") {
    val v = RegressionRule.judge(
      Seq(RegressionRule.Sample("suspect", 5.0, 100.0, 30.0, 1.0)),
      Map("suspect" -> RegressionRule.IdleRef(2.0, 100.0, 10.0, 0.9)),
      1.0, Set("suspect"))
    assert(v.regressions.isEmpty && v.demoted.isEmpty)
  }

  test("confirmDemoted: canned snapshots close the one-round blind spot") {
    import graft.metrics.RegressionRule.{confirmDemoted, IdleRef, Sample}
    val idle = IdleRef(wallSec = 10.0, workMb = 100.0, cpuSec = 40.0,
      gcSec = 1.0)
    // allocation-heavy true regression: re-run still 3x wall at matched
    // work, cpu genuinely up -> confirmed even though gc tripled (the
    // gc-wake demotion is not honored on a fresh System.gc'd re-run)
    assert(confirmDemoted(
      Sample("q", 30.0, 101.0, 90.0, 9.0), idle, hostRatio = 1.0))
    // contention that moved on: wall recovered -> stays demoted
    assert(!confirmDemoted(
      Sample("q", 11.0, 101.0, 42.0, 1.0), idle, hostRatio = 1.0))
    // slow wall but cpu flat (scheduling delay persists, not engine)
    assert(!confirmDemoted(
      Sample("q", 30.0, 101.0, 41.0, 1.0), idle, hostRatio = 1.0))
    // work moved on the re-run: plan signal, not a wall verdict
    assert(!confirmDemoted(
      Sample("q", 30.0, 200.0, 90.0, 1.0), idle, hostRatio = 1.0))
    // sub-5s idle cpu carries no ratio signal
    assert(!confirmDemoted(
      Sample("q", 3.0, 1.0, 4.0, 0.0),
      IdleRef(1.0, 1.0, 2.0, 0.0), hostRatio = 1.0))
    // host-speed discount: 2.2x wall on a 1.2x-slower host is clean
    assert(!confirmDemoted(
      Sample("q", 22.0, 101.0, 90.0, 1.0), idle, hostRatio = 1.2))
  }
}
