package graft.ops

import graft.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Offset-free exact-substring dedup (Lee et al. 2022 §4) semantics:
  * the capability gap vs chunk-aligned span dedup, the keep-first
  * policy, interval merging of overlapping windows, and
  * internal-repeat handling. */
class DedupSubstrSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private def docs(rows: (Long, String)*) = {
    val s = spark
    import s.implicits._
    rows.toSeq.toDF("id", "t")
  }

  private def collectClean(df: org.apache.spark.sql.DataFrame) =
    df.select("id", "text_clean", "n_tokens", "n_removed", "modified")
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3), r.getBoolean(4))))
      .toMap

  test("catches an UNALIGNED cross-doc repeat that chunk-aligned span " +
    "dedup provably misses (the defining difference)") {
    // the shared 6-token run starts at token 0 of doc 1 but token 3 of
    // doc 2 — w=6 chunking cuts doc 2 at [0,6) and [6,12), so the run
    // straddles a chunk boundary and NO chunk fingerprint matches
    val shared = "alpha beta gamma delta epsilon zeta"
    val df = docs(
      1L -> s"$shared tail1 tail2 tail3 tail4 tail5 tail6",
      2L -> s"pre1 pre2 pre3 $shared post1 post2 post3")
    val spans = collectClean(
      Dedup.dedupSpansKeepFirst(df, "t", "id", w = 6))
    assert(spans(2L)._4 == false && spans(2L)._3 == 0L,
      s"span dedup should MISS the unaligned repeat: $spans")
    val subs = collectClean(
      Dedup.dedupSubstringsKeepFirst(df, "t", "id", k = 6))
    // keep-first: doc 1 holds the first occurrence, untouched
    assert(subs(1L)._4 == false && subs(1L)._1 ==
      s"$shared tail1 tail2 tail3 tail4 tail5 tail6", s"$subs")
    // doc 2 loses exactly the 6 shared tokens, context preserved
    assert(subs(2L) ==
      (("pre1 pre2 pre3 post1 post2 post3", 12L, 6L, true)), s"$subs")
  }

  test("longer shared spans remove every covered position once " +
    "(overlapping windows merge into one interval)") {
    // a 9-token shared run = 4 overlapping 6-windows; covered
    // positions must count 9, not 4*6
    val shared = "w1 w2 w3 w4 w5 w6 w7 w8 w9"
    val df = docs(
      1L -> s"$shared a b c",
      2L -> s"x y $shared z")
    val subs = collectClean(
      Dedup.dedupSubstringsKeepFirst(df, "t", "id", k = 6))
    assert(subs(1L)._4 == false, s"$subs")
    assert(subs(2L) == (("x y z", 12L, 9L, true)), s"$subs")
  }

  test("within-doc internal repeat: first occurrence kept, second " +
    "removed (occurrence count includes same-doc repeats)") {
    val run = "r1 r2 r3 r4 r5 r6"
    val df = docs(1L -> s"$run mid $run")
    val subs = collectClean(
      Dedup.dedupSubstringsKeepFirst(df, "t", "id", k = 6))
    assert(subs(1L) == ((s"$run mid", 13L, 6L, true)), s"$subs")
  }

  test("no repeats -> nothing modified; docs shorter than k have no " +
    "windows and pass through") {
    val df = docs(
      1L -> "a b c d e f g h",
      2L -> "p q r s t u v w",
      3L -> "tiny doc")
    val subs = collectClean(
      Dedup.dedupSubstringsKeepFirst(df, "t", "id", k = 6))
    assert(subs.values.forall(v => !v._4 && v._3 == 0L), s"$subs")
    assert(subs(3L)._1 == "tiny doc")
  }

  test("frequentWindowFps boundary is exact: a window in maxDf docs " +
    "is NOT fitted, in maxDf+1 docs it is; within-doc repeats do not " +
    "inflate the distinct-doc count") {
    val run = "b1 b2 b3 b4 b5 b6" // exactly one 6-window
    val df = docs(
      1L -> s"$run x1 $run", // window twice in ONE doc
      2L -> s"y1 y2 $run",
      3L -> s"$run z1 z2")
    // run appears in 3 DISTINCT docs (internal repeat counts once)
    assert(Dedup.frequentWindowFps(df, "t", "id", 6, maxDf = 3).isEmpty)
    val fitted = Dedup.frequentWindowFps(df, "t", "id", 6, maxDf = 2)
    assert(fitted.length == 1)
    // apply removes ALL occurrences, including both in doc 1
    val out = collectClean(
      Dedup.dedupSubstringsApply(df, "t", "id", 6, fitted))
    assert(out(1L) == (("x1", 13L, 12L, true)), s"$out")
    assert(out(2L) == (("y1 y2", 8L, 6L, true)), s"$out")
    assert(out(3L) == (("z1 z2", 8L, 6L, true)), s"$out")
    // empty model: apply is the identity on content
    val id0 = collectClean(
      Dedup.dedupSubstringsApply(df, "t", "id", 6, Array.empty[Long]))
    assert(id0.values.forall(v => !v._4 && v._3 == 0L), s"$id0")
  }

  /** Independent reference implementation: window identity is the
    * k-token gram STRING (no fingerprinting — collisions impossible),
    * keep-first by (id, position) lexicographic, coverage by the
    * plain exists-scan the fused kernel replaced. */
  private def refKeepFirst(rows: Seq[(Long, String)], k: Int)
      : Map[Long, (String, Long, Long, Boolean)] = {
    val occ = for {
      (id, t) <- rows
      toks = t.split(" ", -1)
      i <- 0 to toks.length - k
    } yield (toks.slice(i, i + k).mkString(" "), id, i)
    val dups = occ.groupBy(_._1).values.filter(_.size >= 2).flatMap { os =>
      val keeper = os.minBy(o => (o._2, o._3))
      os.filter(_ != keeper).map(o => (o._2, o._3))
    }.toSet
    rows.map { case (id, t) =>
      val toks = t.split(" ", -1)
      val starts = dups.collect { case (i2, s) if i2 == id => s }
      def covered(i: Int) = starts.exists(s => s <= i && i < s + k)
      val kept = toks.indices.filterNot(covered).map(toks)
      id -> ((kept.mkString(" "), toks.length.toLong,
        toks.indices.count(covered).toLong, starts.nonEmpty))
    }.toMap
  }

  test("fused two-pointer rebuild is bit-identical to the exists-scan " +
    "spec — including the worst case the old form paid quadratically " +
    "for: one phrase repeated 1,000x") {
    val phrase = "p1 p2 p3 p4 p5 p6"
    val rows = Seq(
      1L -> Seq.fill(1000)(phrase).mkString(" "), // 6,000 tokens, all dup past the first phrase
      2L -> s"lead in $phrase and out",           // cross-doc repeat, unaligned
      3L -> "no repeats here at all ok",
      4L -> s"$phrase $phrase tail")              // internal repeat
    val got = collectClean(
      Dedup.dedupSubstringsKeepFirst(docs(rows: _*), "t", "id", k = 6))
    val want = refKeepFirst(rows, 6)
    assert(got == want, s"got=$got\nwant=$want")
    // the repeated-phrase doc collapses to its first 6 tokens
    assert(got(1L) == ((phrase, 6000L, 5994L, true)), s"${got(1L)}")
  }

  test("keep-first order is (id, position) lexicographic: the lowest " +
    "id's earliest occurrence is the keeper") {
    val run = "k1 k2 k3 k4 k5 k6"
    // doc 2 sees the run EARLIER in its text than doc 1 does, but doc
    // 1 has the smaller id -> doc 1 keeps, doc 2 loses
    val df = docs(
      1L -> s"pad1 pad2 $run",
      2L -> s"$run pad3 pad4")
    val subs = collectClean(
      Dedup.dedupSubstringsKeepFirst(df, "t", "id", k = 6))
    assert(subs(1L)._4 == false, s"$subs")
    assert(subs(2L) == (("pad3 pad4", 8L, 6L, true)), s"$subs")
  }

  test("a window set fitted on an archive applies to NEW docs at any " +
    "token offset: the whole boilerplate run goes, other text stays") {
    val boiler =
      "all rights reserved by the example corporation inc worldwide"
    val archive = docs((1L to 30L).map(i =>
      i -> s"doc $i body text number$i word$i more$i stuff$i $boiler"): _*)
    val fps = Dedup.frequentWindowFps(archive, "t", "id", k = 6,
      maxDf = 10)
    // the 9-token run = 4 overlapping 6-windows, each in all 30 docs
    // > maxDf; every other window is per-doc unique
    assert(fps.length == 4, s"got ${fps.length} fitted windows")
    // new docs carry the run at DIFFERENT offsets (start / middle)
    val fresh = docs(
      31L -> s"$boiler and then fresh tail31 a b c",
      32L -> s"lead32 x y $boiler trailing32",
      33L -> "clean33 doc with no boilerplate at all right here")
    val out = collectClean(
      Dedup.dedupSubstringsApply(fresh, "t", "id", 6, fps))
    assert(out(31L) == (("and then fresh tail31 a b c", 16L, 9L, true)),
      s"$out")
    assert(out(32L) == (("lead32 x y trailing32", 13L, 9L, true)), s"$out")
    assert(out(33L) == (("clean33 doc with no boilerplate at all right " +
      "here", 9L, 0L, false)), s"$out")
  }
}
