package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import graft.tools.BenchCompare

/** Unit tests for the bench guard: best-ever contention reference
  * (round 10) plus the round-11 noise model — sf-keyed v2 table with
  * bounded observation histories, median baseline for drift, and
  * best+2*MAD per-query flags. Pure logic — no SparkSession. */
class BenchGuardSpec extends AnyFunSuite {

  test("an optimizer segment that throws lands in errors with its " +
    "exception class, and in no timing") {
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val got = graft.Bench.runSegments(Seq(
      "elbo_train_300it" -> (() => 0.5),
      "rff_gpr_300it" -> (() => throw new IllegalStateException("boom")),
      "rff_gpr_dist_30it" -> (() => 1.5)), errors)
    assert(got == Seq("elbo_train_300it" -> 0.5, "rff_gpr_dist_30it" -> 1.5))
    assert(errors == Map("rff_gpr_300it" -> "IllegalStateException"))
  }

  test("parseQueryTimes extracts q_ keys only") {
    val txt = """{"value":93.7,"queries":{"q_a":1.500,"q_b":0.250,
      "elbo_train_30it":0.086,"rff_gpr_30it":0.120},"q_c":2.000}"""
    val m = BenchCompare.parseQueryTimes(txt)
    assert(m === Map("q_a" -> 1.5, "q_b" -> 0.25, "q_c" -> 2.0))
  }

  test("mergeBest is a per-key minimum with pass-through for new keys") {
    val prior = Map("q_a" -> 1.0, "q_b" -> 0.5)
    val now = Map("q_a" -> 1.4, "q_b" -> 0.3, "q_new" -> 2.0)
    val m = BenchCompare.mergeBest(prior, now)
    assert(m === Map("q_a" -> 1.0, "q_b" -> 0.3, "q_new" -> 2.0))
  }

  test("contention reference is monotone: repeated sub-2x drifts " +
    "cannot ratchet the baseline") {
    // the round-9 failure mode: successive sub-2x drifts re-baselined
    var hist = Map("q_a" -> Vector(1.0))
    hist = BenchCompare.appendObs(hist, Map("q_a" -> 1.8))
    hist = BenchCompare.appendObs(hist, Map("q_a" -> 1.9))
    assert(BenchCompare.bestOf(hist("q_a")) === 1.0) // min unchanged
    assert(!BenchCompare.isContended(1.9, 1.0))
    assert(BenchCompare.isContended(2.1, 1.0))
  }

  test("v2 round-trip: render then parse preserves sf sections and " +
    "observation order") {
    val all = Map(
      "/root/testdata/sf0.1" -> Map(
        "q_a" -> Vector(1.5, 0.9, 1.1), "q_b" -> Vector(0.5)),
      "/tmp/sfdata/sf1" -> Map("q_a" -> Vector(9.0)))
    val txt = BenchCompare.renderAllSfs(all)
    assert(BenchCompare.parseAllSfs(txt) === all)
  }

  test("v1 legacy table degrades to single-observation histories " +
    "for its one sf") {
    val v1 = """{"sf":"/root/testdata/sf0.1","queries":{"q_a":0.800,"q_b":1.200}}"""
    val all = BenchCompare.parseAllSfs(v1)
    assert(all === Map("/root/testdata/sf0.1" ->
      Map("q_a" -> Vector(0.8), "q_b" -> Vector(1.2))))
  }

  test("sf-merged write: a run at another sf preserves this sf's " +
    "section (the round-10 ADVICE overwrite hazard)") {
    val before = Map(
      "/root/testdata/sf0.1" -> Map("q_a" -> Vector(0.8, 0.9)))
    // a full run at sf0.001 merges its own section only
    val other = "/root/testdata/sf0.001"
    val updated = before + (other -> BenchCompare.appendObs(
      before.getOrElse(other, Map.empty), Map("q_a" -> 0.01)))
    val txt = BenchCompare.renderAllSfs(updated)
    val back = BenchCompare.parseAllSfs(txt)
    assert(back("/root/testdata/sf0.1")("q_a") === Vector(0.8, 0.9))
    assert(back(other)("q_a") === Vector(0.01))
  }

  test("appendObs caps history at HistCap, dropping oldest") {
    val hist = Map("q_a" -> (1 to 8).map(_.toDouble).toVector)
    val out = BenchCompare.appendObs(hist, Map("q_a" -> 9.0))
    assert(out("q_a") === (2 to 9).map(_.toDouble).toVector)
    assert(out("q_a").length === BenchCompare.HistCap)
  }

  test("median/spread: MAD with floor") {
    val obs = Vector(1.0, 1.1, 1.05, 3.0) // one contended-ish outlier
    assert(math.abs(BenchCompare.medianOf(obs) - 1.075) < 1e-9)
    // MAD = median(|x-1.075|) = median(0.075,0.025,0.025,1.925) = 0.05
    assert(math.abs(BenchCompare.spreadOf(obs) - 0.05) < 1e-9)
    // single observation → floor max(0.02, 5% of best)
    assert(BenchCompare.spreadOf(Vector(0.1)) === 0.02)
    assert(math.abs(BenchCompare.spreadOf(Vector(10.0)) - 0.5) < 1e-9)
  }

  test("drift baseline is the median, not the min-compound: a run " +
    "matching typical committed values reads quiet even when every " +
    "query is above its lucky best") {
    // each query's best-ever is a one-off low; typical runs are ~10%
    // higher — the round-10 min-sum baseline flagged exactly this
    val hist = Map(
      "q_a" -> Vector(1.0, 1.10, 1.12, 1.09),
      "q_b" -> Vector(2.0, 2.20, 2.18, 2.22))
    val now = Map("q_a" -> 1.11, "q_b" -> 2.21) // a typical honest run
    val dr = BenchCompare.drift(hist, now, Set.empty)
    assert(dr.pct < 0.05) // quiet
    assert(dr.flagged.isEmpty) // within median + 2*MAD everywhere
  }

  test("drift flags a genuine per-query regression beyond " +
    "median + 2*spread and excludes contended keys") {
    val hist = Map(
      "q_a" -> Vector(1.0, 1.05, 1.02, 1.04),
      "q_b" -> Vector(2.0, 2.05, 2.02),
      "q_c" -> Vector(1.0))
    val now = Map("q_a" -> 1.6, "q_b" -> 2.03, "q_c" -> 9.0,
      "q_new" -> 5.0) // q_c contended, q_new has no baseline
    val dr = BenchCompare.drift(hist, now, Set("q_c"))
    assert(dr.flagged === Seq("q_a"))
    // common set excludes q_c and q_new
    assert(math.abs(dr.baselineTotal - (1.03 + 2.02)) < 1e-9)
    assert(math.abs(dr.nowTotal - (1.6 + 2.03)) < 1e-9)
  }

  test("drift on empty common set is zero, not NaN") {
    val dr = BenchCompare.drift(Map.empty, Map("q_a" -> 1.0), Set.empty)
    assert(dr.baselineTotal === 0.0 && dr.nowTotal === 0.0 && dr.pct === 0.0)
  }

  test("cross-sf artifacts contribute nothing to the minima (the " +
    "round-10 seeding lesson: an sf0.001 artifact made six sf0.1 " +
    "best-evers physically unreachable)") {
    val small = """{"sf":"/root/testdata/sf0.001","queries":{"q_a":0.010}}"""
    val right = """{"sf":"/root/testdata/sf0.1","queries":{"q_a":0.800}}"""
    val sf = "/root/testdata/sf0.1"
    assert(BenchCompare.parseQueryTimesForSf(small, sf).isEmpty)
    assert(BenchCompare.parseQueryTimesForSf(right, sf) ===
      Map("q_a" -> 0.8))
    val best = BenchCompare.mergeBest(
      BenchCompare.parseQueryTimesForSf(small, sf),
      BenchCompare.parseQueryTimesForSf(right, sf))
    assert(!BenchCompare.isContended(1.2, best("q_a")))
    assert(BenchCompare.isContended(1.2,
      BenchCompare.parseQueryTimes(small)("q_a")))
  }
}
