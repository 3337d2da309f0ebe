package graft.ops

import graft.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** CCNet line-level dedup semantics + URL host normalization. */
class LineDedupSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  test("blank lines are structure, not boilerplate: paragraph breaks " +
    "survive however many docs share them, in fit AND one-shot") {
    val s = spark
    import s.implicits._
    // every doc has a blank paragraph separator; 'footer' is real
    // boilerplate in all 4 docs
    val df = (1L to 4L).map(i =>
      (i, s"intro $i\n\nbody $i\nfooter")).toDF("id", "t")
    val one = TextAnalysis.lineDedup(df, "t", "id", maxDf = 2)
      .select("id", "cleaned").as[(Long, String)].collect().sortBy(_._1)
    one.foreach { case (i, c) =>
      assert(c == s"intro $i\n\nbody $i",
        s"blank separator must survive, footer must drop: ($i, $c)")
    }
    val fps = TextAnalysis.frequentLineFps(df, "t", "id", maxDf = 2)
    assert(fps.length == 1, s"only 'footer' is boilerplate: ${fps.toSeq}")
    val applied = TextAnalysis.lineDedupApply(df, "t", fps)
      .select("id", "cleaned").as[(Long, String)].collect().sortBy(_._1)
    assert(applied.toSeq == one.toSeq, "fit+apply == one-shot")
  }

  test("lines over maxDf docs are dropped, order preserved, boundary " +
    "exact (df == maxDf survives, df == maxDf+1 does not)") {
    val s = spark
    import s.implicits._
    // 'common' appears in 3 docs, 'pair' in 2, bodies unique
    val df = Seq(
      (1L, "common\nbody one\npair"),
      (2L, "common\npair\nbody two"),
      (3L, "body three\ncommon")).toDF("id", "t")
    val atTwo = TextAnalysis.lineDedup(df, "t", "id", maxDf = 2)
      .select("id", "cleaned", "kept_lines", "total_lines")
      .as[(Long, String, Long, Long)].collect().sortBy(_._1)
    // maxDf=2: only 'common' (df=3) dropped; 'pair' (df=2) survives
    assert(atTwo.map(_._2).toSeq ==
      Seq("body one\npair", "pair\nbody two", "body three"))
    assert(atTwo.map(r => (r._3, r._4)).toSeq ==
      Seq((2L, 3L), (2L, 3L), (1L, 2L)))
    val atOne = TextAnalysis.lineDedup(df, "t", "id", maxDf = 1)
      .select("id", "cleaned").as[(Long, String)].collect().sortBy(_._1)
    // maxDf=1: 'pair' goes too
    assert(atOne.map(_._2).toSeq ==
      Seq("body one", "body two", "body three"))
  }

  test("a doc made entirely of boilerplate reassembles to the empty " +
    "string; duplicate lines WITHIN one doc count that doc once") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, "x\nx\nx\nx"), // 'x' 4 times in ONE doc: df('x') = 2, not 5
      (2L, "x\nunique")).toDF("id", "t")
    val out = TextAnalysis.lineDedup(df, "t", "id", maxDf = 2)
      .select("id", "cleaned").as[(Long, String)].collect().sortBy(_._1)
    assert(out.map(_._2).toSeq == Seq("x\nx\nx\nx", "x\nunique"))
    val strict = TextAnalysis.lineDedup(df, "t", "id", maxDf = 1)
      .select("id", "cleaned", "kept_lines")
      .as[(Long, String, Long)].collect().sortBy(_._1)
    assert(strict.map(_._2).toSeq == Seq("", "unique"))
    assert(strict.map(_._3).toSeq == Seq(0L, 1L))
  }

  test("line matching is trim-insensitive ('  footer ' == 'footer')") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, "  footer \na"), (2L, "footer\nb"))
      .toDF("id", "t")
    val out = TextAnalysis.lineDedup(df, "t", "id", maxDf = 1)
      .select("id", "cleaned").as[(Long, String)].collect().sortBy(_._1)
    assert(out.map(_._2).toSeq == Seq("a", "b"))
  }

  test("a boilerplate set fitted on an archive applies to NEW docs: " +
    "every fitted line drops, the unseen body line survives") {
    val s = spark
    import s.implicits._
    val archive = (1L to 30L).map { i =>
      (i, s"shared header\nbody $i is unique\n" +
        (if (i % 2 == 0) "even footer\n" else "") + "shared footer")
    }.toDF("id", "t")
    val fps = TextAnalysis.frequentLineFps(archive, "t", "id", 10)
    // header (30) + footer (30) + even footer (15) all exceed maxDf=10
    assert(fps.length == 3)
    val fresh = (31L to 42L).map { i =>
      (i, s"shared header\nnew body $i\neven footer\nshared footer")
    }.toDF("id", "t")
    val got = TextAnalysis.lineDedupApply(fresh, "t", fps)
      .select("id", "cleaned", "kept_lines", "total_lines")
      .as[(Long, String, Long, Long)].collect()
    assert(got.length == 12)
    assert(got.forall { case (i, c, k, n) =>
      c == s"new body $i" && k == 1L && n == 4L }, got.toSeq.toString)
  }

  test("urlHost lowercases and strips exactly a leading www. label") {
    val s = spark
    import s.implicits._
    val cases = Seq(
      "https://WWW.Example.COM/path" -> "example.com",
      "http://www.sub.www.example.org/x" -> "sub.www.example.org",
      "https://wwwx.example.net/" -> "wwwx.example.net",
      "http://example.com:8080/a b" -> "example.com:8080",
      "https://example.io" -> "example.io")
    val got = cases.map(_._1).toDF("u")
      .select(TextAnalysis.urlHost(col("u"))).as[String].collect().toSeq
    assert(got == cases.map(_._2))
  }
}
