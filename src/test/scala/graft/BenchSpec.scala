package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Bench harness isolation: the r12 driver sf1 rerun showed one query's
  * SparkException (executor OOM stops the whole local context) cascading
  * into IllegalStateException on the next three queries. These tests
  * force that failure shape — a query that stops the SparkContext and
  * then fails — and assert the harness records the error, hands every
  * subsequent sample a fresh live session, and re-runs the warmup on it. */
class BenchSpec extends AnyFunSuite {

  private def newSession(): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[2]")
      .appName("graft-bench-spec")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(graft.sources.NioLocalFileSystem.SessionConf)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  // The forced failure: stop the context (what an executor OOM does in
  // local mode), then return a frame whose count() throws on the corpse.
  private val killer: (SparkSession, String) => DataFrame =
    (s, _) => { s.sparkContext.stop(); s.range(5).toDF() }
  private val healthy: (SparkSession, String) => DataFrame =
    (s, _) => s.range(3).toDF()

  test("a context-killing query is recorded, the next query still runs") {
    var warms = 0
    val samples = Bench.runSamples(
      Seq("a_kill" -> killer, "b_ok" -> healthy),
      sfDir = "", runsFor = _ => 1, trace = false,
      newSession = () => newSession(), warm = _ => warms += 1)
    assert(samples.map(_.name) == Seq("a_kill", "b_ok"))
    assert(samples.head.err.isDefined, "the killer must surface its error")
    assert(samples(1).err.isEmpty,
      s"the query after the kill must succeed, got ${samples(1).err}")
    // initial session + one replacement, each warmed exactly once
    assert(warms == 2)
    // don't leave a live local[2] context for the shared SparkSpec.session
    // to getOrCreate-reuse — stop it and let the guard rebuild local[4]
    SparkSession.getActiveSession.foreach(_.stop())
    assert(!SparkSpec.session.sparkContext.isStopped)
  }

  test("ratioTail: worst_ratio is floored at 1s baseline, worst_abs is not") {
    // q_small: 0.5 s baseline ballooning 2x — jitter-scale, must NOT be
    // the headline ratio; q_big: 5 s baseline at 1.3x — the floored
    // worst; q_creep: biggest absolute delta (+2 s) at a smaller ratio.
    val medians = Seq("q_small" -> 1.0, "q_big" -> 6.5, "q_creep" -> 12.0)
    val baseline = Map("q_small" -> 0.5, "q_big" -> 5.0, "q_creep" -> 10.0)
    val tail = Bench.ratioTail(medians, baseline)
    assert(tail.contains(""""worst_ratio":{"query":"q_big","ratio":1.3,"floor_sec":1.0}"""),
      s"floored worst_ratio must skip the sub-second 2x query, got: $tail")
    assert(tail.contains(""""worst_abs":{"query":"q_creep","delta_sec":2.0"""),
      s"worst_abs must report the largest wall delta, got: $tail")
    assert(tail.contains(""""q_small":2.0"""),
      "per-query ratios keep every query, floored or not")
  }

  test("ratioTail: all-sub-floor baselines emit no worst_ratio but keep worst_abs") {
    val tail = Bench.ratioTail(Seq("q" -> 0.9), Map("q" -> 0.3))
    assert(!tail.contains("worst_ratio"), s"no query clears the floor: $tail")
    assert(tail.contains(""""worst_abs":{"query":"q","delta_sec":0.6"""), tail)
    assert(tail.contains(""""total_vs_baseline":3.0"""), tail)
  }

  test("repeated kills across passes re-isolate every time") {
    val samples = Bench.runSamples(
      Seq("a_kill" -> killer, "b_ok" -> healthy),
      sfDir = "", runsFor = _ => 2, trace = false,
      newSession = () => newSession())
    val byPass = samples.groupBy(_.pass)
    (1 to 2).foreach { p =>
      val Seq(k, ok) = byPass(p).sortBy(_.name)
      assert(k.err.isDefined, s"pass $p killer error missing")
      assert(ok.err.isEmpty, s"pass $p healthy query poisoned: ${ok.err}")
    }
    SparkSession.getActiveSession.foreach(_.stop())
    assert(!SparkSpec.session.sparkContext.isStopped)
  }
}
