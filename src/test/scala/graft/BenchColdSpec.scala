package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench gate's cold-pass adjudication (VERDICT r14 #4): queries
  * still flagged after the in-run cooldown are re-run reps=3 in a
  * FRESH JVM and the gate diffs the min — so the BENCH_GATE list stops
  * carrying same-window machine noise (r13: 14 false outliers, r14: 4,
  * every one refuted by the judge's idle reruns).
  */
class BenchColdSpec extends AnyFunSuite {

  test("coldRerun spawns a fresh JVM and returns the flagged queries' medians") {
    // cheapest stable query at the smallest SF: child cost is JVM +
    // Spark init + warm-up, not the query
    val got = Bench.coldRerun(Seq("q_rename_drop"), "/root/testdata/sf0.001", "4")
    assert(got.keySet == Set("q_rename_drop"), got.toString)
    assert(got("q_rename_drop") > 0.0 && got("q_rename_drop") < 120.0,
      got.toString)
  }

  test("a run that throws has no timing; a clean run is timed") {
    var ran = false
    assert(Bench.timed("q_throws") {
      ran = true
      throw new IllegalStateException("query failed")
    }.isEmpty)
    assert(ran)
    assert(Bench.timed("q_ok")(()).exists(_ >= 0.0))
  }

  test("coldRerun refuses machine-level flag storms and degrades to empty") {
    // >16 flagged = the whole window was loaded; rerunning them all
    // would measure the same load again
    val many = (0 until 17).map(i => s"q_fake_$i")
    assert(Bench.coldRerun(many, "/root/testdata/sf0.001", "4").isEmpty)
  }
}
