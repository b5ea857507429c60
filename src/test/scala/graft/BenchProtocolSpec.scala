package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Round-14 bench protocol contracts: a throwing query is an ERROR flag,
  * never a fake timing; a slow memo-building first run re-runs with its
  * just-built entries evicted so the min still charges the build.
  */
class BenchProtocolSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("a deliberately broken query records an error flag, not a timing") {
    val good = (s: org.apache.spark.sql.SparkSession, d: String) =>
      s.range(5).toDF("x")
    val boom = (s: org.apache.spark.sql.SparkSession, d: String) => {
      s.range(5).toDF("x").filter(expr("assert_true(x < 2, 'boom')").isNull)
    }
    // telemetry goes under target/, never to the committed repo-root file
    val telemetry = java.nio.file.Paths.get("target", "bench_spec_telemetry.txt")
    java.nio.file.Files.createDirectories(telemetry.getParent)
    java.nio.file.Files.deleteIfExists(telemetry)
    val prev = sys.props.get("graft.bench.telemetry")
    sys.props("graft.bench.telemetry") = telemetry.toString
    val res = try Bench.runQueries("/root/testdata/sf0.001", "4", " spec",
      Seq("z_good" -> good, "z_boom" -> boom), 2, stopSession = false)
    finally prev match {
      case Some(p) => sys.props("graft.bench.telemetry") = p
      case None => sys.props -= "graft.bench.telemetry"
    }
    val byName = res.map(r => r._1 -> r._3).toMap
    assert(byName("z_good") == false)
    assert(byName("z_boom") == true, "throwing query must carry the error flag")
    assert(java.nio.file.Files.readString(telemetry).contains("z_boom"),
      "the spec's telemetry lands in the injected file")
  }

  test("memo eviction: evict removes the entry and unpersists its blocks; rebuild pays again") {
    val key = s"benchspec-evict-${System.nanoTime()}"
    var builds = 0
    def build() = graft.queries.Shared.memoized(spark, key) {
      builds += 1
      graft.operators.Dedup.cachedForReuse(spark.range(100).toDF("x"))
    }
    val before = graft.queries.Shared.memoKeys
    build(); build()
    assert(builds == 1, "second call must ride the memo")
    val built = graft.queries.Shared.memoKeys -- before
    assert(built == Set(key))
    assert(graft.queries.Shared.buildSeconds(key).exists(_ >= 0.0))
    graft.queries.Shared.evict(built)
    assert(!graft.queries.Shared.memoKeys.contains(key))
    build()
    assert(builds == 2, "post-eviction call must rebuild (pay the build again)")
    graft.queries.Shared.evict(Set(key))
  }

  test("stall flagging: injected fake stalls against steady references") {
    val steady = Map("q_big" -> 4.0, "q_mid" -> 1.0, "q_tiny" -> 0.05, "q_err" -> 1.0)
    val results = Seq(
      ("q_big", 19.4, false),  // 4.85x steady — the r14 q_pagerank shape: FLAG
      ("q_mid", 2.9, false),   // 2.9x — under the 3x factor: clean
      ("q_tiny", 0.35, false), // 7x but sub-second noise: never flagged
      ("q_err", 9.0, true),    // failed — error-flagged already, not stalled
      ("q_new", 50.0, false))  // no steady reference: cannot flag
    assert(Bench.flagStalled(results, steady) == Seq("q_big"))
    // a post-rerun min back inside 3x clears the flag
    assert(Bench.flagStalled(Seq(("q_big", 4.6, false)), steady).isEmpty)
    // empty steady map (no STEADY.json): flagging degrades to off
    assert(Bench.flagStalled(results, Map.empty).isEmpty)
  }

  test("steady references load from a committed {name:sec} JSON file") {
    val f = java.nio.file.Files.createTempFile("graft-steady", ".json")
    java.nio.file.Files.writeString(f,
      """{"q1":0.52,"q_pagerank":4.1,"mx26_incremental_near_dedup":3.2}""")
    val m = Bench.loadSteady(f.toString)
    assert(m == Map("q1" -> 0.52, "q_pagerank" -> 4.1,
      "mx26_incremental_near_dedup" -> 3.2))
    assert(Bench.loadSteady(f.toString + ".does-not-exist").isEmpty)
  }

  test("memo consumption accounting: a cache HIT is drained as consumed; a build is not") {
    val key = s"benchspec-consume-${System.nanoTime()}"
    graft.queries.Shared.drainConsumed() // reset
    graft.queries.Shared.memoized(spark, key) {
      graft.operators.Dedup.cachedForReuse(spark.range(10).toDF("x"))
    }
    assert(!graft.queries.Shared.drainConsumed().contains(key),
      "the building call must not read as consumption")
    graft.queries.Shared.memoized(spark, key) {
      fail("second call must be a memo hit"); null
    }
    assert(graft.queries.Shared.drainConsumed().contains(key),
      "a memo hit must drain as consumed")
    assert(graft.queries.Shared.drainConsumed().isEmpty, "drain clears")
    graft.queries.Shared.evict(Set(key))
  }
}
