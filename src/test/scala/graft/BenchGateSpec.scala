package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench load gate (round-15 verdict item 7): a loaded box must
  * refuse to record medians unless explicitly forced — the r15
  * artifact run (load1 2.775) cost a round of comparability.
  */
class BenchGateSpec extends AnyFunSuite {

  test("gate refuses a loaded box, admits a quiet one, and always " +
      "admits --force and load-unsupported platforms") {
    // quiet box: proceed
    assert(Bench.loadGateOk(0.31, Bench.LoadGateDefault, force = false))
    // exactly at the gate: still proceed (inclusive threshold)
    assert(Bench.loadGateOk(1.0, 1.0, force = false))
    // loaded box: refuse — this is the r15 artifact-run shape
    assert(!Bench.loadGateOk(2.775, Bench.LoadGateDefault,
      force = false))
    // --force overrides (deliberate loaded runs stay possible; the
    // load1_start stamp still records the conditions)
    assert(Bench.loadGateOk(2.775, Bench.LoadGateDefault,
      force = true))
    // getSystemLoadAverage returns a negative value on platforms
    // without load reporting — never refuse there
    assert(Bench.loadGateOk(-1.0, Bench.LoadGateDefault,
      force = false))
    // a raised gate admits what the default refuses
    assert(Bench.loadGateOk(2.775, 4.0, force = false))
  }

  test("a qNNN selector picks its query only, never a longer prefix") {
    val names = Seq("q1_a", "q15_b", "q150_c", "q151_d", "q159_e")
    assert(Bench.select(Seq("q15"), names) == Seq("q15_b"))
    assert(Bench.select(Seq("q1"), names) == Seq("q1_a"))
    // duplicates collapse; the order is the full bench's name order
    assert(Bench.select(Seq("q15", "q151", "q15"), names) ==
      Seq("q151_d", "q15_b"))
  }

  test("a full query name selects exactly that query") {
    val names = SparkEntry.queries.keys
    assert(Bench.select(Seq("q156_redis_move_fold"), names) ==
      Seq("q156_redis_move_fold"))
    assert(Bench.select(Seq("q03_region_revenue"), names) ==
      Seq("q03_region_revenue"))
  }

  test("an unknown selector fails fast instead of timing nothing") {
    val names = SparkEntry.queries.keys
    Seq("q9999", "q15_no_such_query", "data/q15").foreach {
      s => intercept[IllegalArgumentException](Bench.select(Seq(s), names))
    }
    // one bad selector fails the whole list
    intercept[IllegalArgumentException](
      Bench.select(Seq("q156", "q9999"), names))
  }

  test("a failing query reports its exception on stderr and times as -1s") {
    val buf = new java.io.ByteArrayOutputStream
    val err = new java.io.PrintStream(buf, true, "UTF-8")
    val t = Bench.timeOrFail("q999_broken", err) { _ =>
      throw new IllegalStateException("no column x")
    }
    assert(t == Seq(-1.0, -1.0, -1.0))
    val out = buf.toString("UTF-8")
    assert(out.contains(
      "[bench] q999_broken failed: java.lang.IllegalStateException: " +
        "no column x"))
    // the stack trace follows, naming where the query threw
    assert(out.contains("at graft.BenchGateSpec"))
    // a query that runs gets its sorted triple and reports nothing
    buf.reset()
    assert(Bench.timeOrFail("q1_ok", err)(_ => ()).size == 3)
    assert(buf.size == 0)
  }

  test("flags parse into a mode; unknown and contradictory flags fail") {
    assert(Bench.parseArgs(Seq("--force", "--profile", "q156")) ==
      Bench.Mode(force = true, profile = true, explain = false,
        Seq("q156")))
    assert(Bench.parseArgs(Seq("--explain", "q03")) ==
      Bench.Mode(force = false, profile = false, explain = true,
        Seq("q03")))
    assert(Bench.parseArgs(Nil) ==
      Bench.Mode(force = false, profile = false, explain = false, Nil))
    Seq(Seq("--bogus"), Seq("--profile", "--explain"),
        Seq("--explain", "--force", "q03")).foreach { a =>
      intercept[IllegalArgumentException](Bench.parseArgs(a))
    }
  }
}
