package graft.ops

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** BPE induction: learned merges match a hand-computed reference on
  * the classic corpus, segmentation applies them in order, and
  * degenerate corpora stop early. */
class BpeSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("learns the classic merges on the Sennrich-style toy corpus") {
    // 'lo' appears in low(7) + lower(3) = 10 words; 'es' and 'st' in
    // newest(6) + widest(4) = 10 but 'e s' ties with 's t' — (e,s)
    // wins lexicographically; after es, (es,t) has 10.
    val corpus = (Seq.fill(7)("low") ++ Seq.fill(3)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(4)("widest")).mkString(" ")
    val df = Seq((1L, corpus)).toDF("doc_id", "text")
    val merges = Bpe.learn(df, "text", 4)
    // hand-derived: pair counts over {low:7, lower:3, newest:6, widest:4}
    // round1: (l,o)=10, (o,w)=10, (e,s)=10, (s,t)=10, (w,e)=3+6, ...
    //   tie at 10 -> (e,s) lexicographically smallest
    assert(merges(0).a == "e" && merges(0).b == "s" &&
      merges(0).pairCount == 10L, s"round1: ${merges(0)}")
    // round2: (es,t)=10, (l,o)=10, (o,w)=10 -> (es,t) beats (l,o)?
    //   'es' > 'l' lexicographically... binary: 'e'(101) < 'l'(108),
    //   so (es,t) wins
    assert(merges(1).a == "es" && merges(1).b == "t" &&
      merges(1).pairCount == 10L, s"round2: ${merges(1)}")
    // round3: (l,o)=10 wins; round4: (lo,w)=10
    assert(merges(2).a == "l" && merges(2).b == "o", s"round3: ${merges(2)}")
    assert(merges(3).a == "lo" && merges(3).b == "w" &&
      merges(3).pairCount == 10L, s"round4: ${merges(3)}")
  }

  test("learn matches a plain JVM reference learner on a tie-heavy " +
    "corpus, ties broken in UTF-8 (not UTF-16) order") {
    val texts = TieCorpus.texts
    val merges = Bpe.learn(TieCorpus.docs(spark), "text", 12)
    val (ref, _) = RefMergeLearner.learn(texts, 12, wordPiece = false)
    assert(merges.map(m => (m.a, m.b, m.merged, m.pairCount,
      m.cntA, m.cntB)) == ref)
    assert(merges.map(_.round) == (1 to merges.length))
    TieCorpus.assertUtf8First(merges.map(_.a))
  }

  test("the learn kernel's string merge == the Column applyMerge " +
    "segment uses, on repeated-symbol runs") {
    val D = Bpe.Delim
    val seqs = Seq("aaaa", "aaaaa", "aaaaaaa", "abab", "xaaay")
      .map(w => w.map(c => s"$c").mkString(D, D, D))
    val chain = Seq(("a", "a"), ("aa", "aa"), ("aa", "a"))
    def kernel(seq: String) = chain.scanLeft(seq) { case (s, (a, b)) =>
      MergeRounds.applyMerge(s, a, b, a + b) }
    val got = seqs.toDF("s").select(col("s") +: chain.indices.map { i =>
        chain.take(i + 1).foldLeft(col("s")) { case (c, (a, b)) =>
          Bpe.applyMerge(c, a, b) }.as(s"m$i")
      }: _*).collect()
    got.foreach { r =>
      val want = kernel(r.getString(0)).tail
      assert((1 to chain.length).map(r.getString) == want,
        s"seq <${r.getString(0)}>")
    }
    // the documented deviation: a run of five merges alternately
    assert(kernel(seqs(1))(1) == s"${D}aa${D}a${D}aa$D")
  }

  test("segment applies the merge list in order; unknown words fall " +
    "back to characters") {
    val merges = Seq(("e", "s"), ("es", "t"), ("l", "o"), ("lo", "w"))
    val got = Seq("lowest", "low", "xyz").toDF("tok")
      .select(col("tok"), Bpe.segment(col("tok"), merges).as("syms"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    assert(got("lowest") == Seq("low", "est"), got("lowest"))
    assert(got("low") == Seq("low"))
    assert(got("xyz") == Seq("x", "y", "z"))
  }

  test("single-character vocabulary has no pairs: learn stops with " +
    "no merges") {
    val df = Seq((1L, "a b c a b")).toDF("doc_id", "text")
    assert(Bpe.learn(df, "text", 5).isEmpty)
  }

  test("fused piece-count kernel == composable segment fold on a real " +
    "corpus with learned merges (incl. empty and delimiter words)") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val merges = Bpe.learn(d, "text", 6).map(m => (m.a, m.b))
    assert(merges.nonEmpty)
    // executable spec: the per-word segment fold the kernel replaces
    val words = filter(split(col("text"), " "),
      w => w =!= lit("") && !w.contains(Bpe.Delim))
    val specNp = aggregate(words, lit(0L),
      (acc, w) => acc + size(Bpe.segment(w, merges)).cast("long"))
    val kernelNp = TextHashExpressions.bpePieceCount(col("text"), merges)
    val diff = d
      .select(col("doc_id"), specNp.as("a"), kernelNp.as("b"))
      .where(col("a") =!= col("b")).count()
    assert(diff == 0L)
    // degenerate rows: empty text, delimiter-poisoned word, repeats
    val edge = Seq((1L, ""), (2L, s"ab${Bpe.Delim}cd ok"),
      (3L, "aaaa aaaa bb")).toDF("doc_id", "text")
    val got = edge
      .select(col("doc_id"), specNp.as("a"), kernelNp.as("b"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    got.foreach { case (id, a, b) => assert(a == b, s"doc $id: $a != $b") }
    // a supplementary-plane character is ONE symbol on both sides
    // (code points, not UTF-16 chars): merges [(a, b)] give 2 + 1 and 3
    val ab = Seq(("a", "b"))
    val astral = Seq((4L, "\uD83D\uDE00x ab"),
      (5L, "a\uD83D\uDE00\uD83D\uDE00")).toDF("doc_id", "text")
      .select(col("doc_id"),
        aggregate(words, lit(0L), (acc, w) =>
          acc + size(Bpe.segment(w, ab)).cast("long")).as("a"),
        TextHashExpressions.bpePieceCount(col("text"), ab).as("b"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(astral == Map(4L -> ((3L, 3L)), 5L -> ((3L, 3L))), s"$astral")
  }
}
