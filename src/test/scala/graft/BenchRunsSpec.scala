package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Pins the bench measurement policy (no SparkSession needed): the
  * fixed pass schedule, query selection, min-of-passes headline,
  * fastest-pair noise figure, failed/flaky classification and the
  * cross-round tripwire's artifact parsing.
  */
class BenchRunsSpec extends AnyFunSuite with Matchers {
  import BenchRuns._

  test("fastestPairDeltaPct compares the two smallest positive totals") {
    // 100 vs 102 -> 2%; the 150 spike does not contaminate the figure
    fastestPairDeltaPct(Seq(150.0, 102.0, 100.0)) shouldBe 2.0 +- 1e-9
  }

  test("fastestPairDeltaPct ignores non-positive totals and degenerates to 0") {
    fastestPairDeltaPct(Seq(100.0, -1.0, 0.0)) shouldBe 0.0
    fastestPairDeltaPct(Seq.empty) shouldBe 0.0
    fastestPairDeltaPct(Seq(100.0)) shouldBe 0.0
  }

  test("passTotal sums only successful (non-negative) query times") {
    passTotal(Map("a" -> 1.5, "b" -> -1.0, "c" -> 2.5)) shouldBe 4.0
  }

  test("summarize reports per-query minimum over successful passes") {
    val s = summarize(Seq("a", "b"), Seq(
      Map("a" -> 3.0, "b" -> 5.0),
      Map("a" -> 2.0, "b" -> 6.0)))
    s.minTimes.toMap shouldBe Map("a" -> 2.0, "b" -> 5.0)
    s.failed shouldBe empty
    s.flaky shouldBe empty
  }

  test("summarize classifies all-passes-failed as failed, some-failed as flaky") {
    val s = summarize(Seq("dead", "flaky", "ok"), Seq(
      Map("dead" -> -1.0, "flaky" -> -1.0, "ok" -> 1.0),
      Map("dead" -> -1.0, "flaky" -> 4.0, "ok" -> 1.5)))
    val best = s.minTimes.toMap
    best("dead") shouldBe -1.0
    best("flaky") shouldBe 4.0 // best successful time still reported
    s.failed shouldBe Seq("dead")
    s.flaky shouldBe Seq("flaky")
  }

  test("parseQueryTimes extracts the queries map from a bench artifact line") {
    val json = """{"metric":"total","value":9.5,"unit":"sec",""" +
      """"queries":{"q1_agg":1.25,"asof_join":0.303520402,"neg":-1.0,""" +
      """"sci":1.2e-2},"failed":[],"sf":"/root/testdata/sf0.1"}"""
    parseQueryTimes(json) shouldBe Map(
      "q1_agg" -> 1.25, "asof_join" -> 0.303520402,
      "neg" -> -1.0, "sci" -> 0.012)
  }

  test("parseQueryTimes degrades to empty on missing/truncated/renamed " +
    "shapes — a tripwire must never fail the bench feeding the artifact") {
    parseQueryTimes("") shouldBe empty
    parseQueryTimes("""{"metric":"total"}""") shouldBe empty
    parseQueryTimes("""{"queries":{"q":1.0""") shouldBe empty // truncated
    parseQueryTimes("not json at all") shouldBe empty
  }

  test("parseNoiseFlag reads the artifact's own contamination verdict; " +
    "pre-flag artifacts and junk read as not flagged") {
    parseNoiseFlag("""{"queries":{},"noise_flagged":true,"sf":"x"}""") shouldBe true
    parseNoiseFlag("""{"queries":{},"noise_flagged": true}""") shouldBe true
    parseNoiseFlag("""{"queries":{},"noise_flagged":false}""") shouldBe false
    parseNoiseFlag("""{"queries":{"q":1.0}}""") shouldBe false // pre-flag artifact
    parseNoiseFlag("") shouldBe false
  }

  test("regressions names queries past the factor, ratio-sorted, and " +
    "ignores new/removed/failed/sub-100ms pairs") {
    val prev = Map("stable" -> 1.0, "slower" -> 1.0, "much_slower" -> 2.0,
      "removed" -> 1.0, "was_failed" -> -1.0, "jitter" -> 0.02)
    val now = Seq("stable" -> 1.2, "slower" -> 1.6, "much_slower" -> 5.0,
      "brand_new" -> 9.0, "was_failed" -> 3.0, "now_failed" -> -1.0,
      "jitter" -> 0.09)
    val r = regressions(prev, now, factor = 1.5)
    r.map(_._1) shouldBe Seq("much_slower", "slower") // ratio-descending
    r.head._2 shouldBe 2.5 +- 1e-9
    r(1)._2 shouldBe 1.6 +- 1e-9
    // a sub-100ms pair is scheduler jitter, not a regression, even at 4.5x
    r.map(_._1) should not contain "jitter"
    // but a small-previous query that grew past 100ms DOES trip
    regressions(Map("grew" -> 0.05), Seq("grew" -> 0.5))
      .map(_._1) shouldBe Seq("grew")
  }

  test("schedule runs 2 warm-ups, 1 honesty pass and 3 recorded passes; " +
    "a spent budget skips only the honesty pass and the third recorded") {
    var modes = Vector.empty[Boolean]
    val full = schedule(() => false) { noop => modes :+= noop; Map("q" -> 1.0) }
    (full.warmup.size, full.noop.size, full.recorded.size) shouldBe ((2, 1, 3))
    modes shouldBe Vector(false, false, true, false, false, false)
    modes = Vector.empty
    val spent = schedule(() => true) { noop => modes :+= noop; Map("q" -> 1.0) }
    (spent.warmup.size, spent.noop.size, spent.recorded.size) shouldBe ((2, 0, 2))
    modes shouldBe Vector(false, false, false, false)
  }

  test("select keeps the named queries and fails on an unknown name, " +
    "listing the known ones") {
    val known = Map("q1_agg" -> 1, "asof_join" -> 2, "pq_topk" -> 3)
    select(known, None) shouldBe known
    select(known, Some(" q1_agg, pq_topk ")) shouldBe
      Map("q1_agg" -> 1, "pq_topk" -> 3)
    val e = intercept[IllegalArgumentException](select(known, Some("q1_agg,q1_agh")))
    e.getMessage should include("q1_agh")
    e.getMessage should include("asof_join, pq_topk, q1_agg")
    an[IllegalArgumentException] should be thrownBy select(known, Some(" , "))
  }

  test("the committed c32 artifact, written in the tiered format with " +
    "ext_* keys, still parses as a tripwire base") {
    val json = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("bench_queries_c32.json")), "UTF-8")
    json should include("\"ext_passes\"")
    parseQueryTimes(json) should have size 121
    parseNoiseFlag(json) shouldBe false
  }
}
