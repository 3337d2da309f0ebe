package graft.ops

import graft.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** WordPiece tokenizer induction ([[WordPiece]]): marked-symbol
  * sequences, likelihood-ratio merge selection (the defining
  * difference from BPE's count argmax), MaxMatch greedy
  * longest-match-first apply, and BERT's whole-word-[UNK] rule. */
class WordPieceSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val MK = WordPiece.Mark

  test("initSeq marks every non-initial character") {
    val s = spark
    import s.implicits._
    val got = Seq("abc").toDF("tok")
      .select(WordPiece.initSeq(col("tok")).as("s"))
      .head().getString(0)
    val D = Bpe.Delim
    assert(got == s"${D}a$D${MK}b$D${MK}c$D", s"got <$got>")
  }

  test("learn picks the max likelihood-ratio pair, not the max " +
    "count — a rarer but perfectly-cohesive pair beats a frequent " +
    "loose one") {
    val s = spark
    import s.implicits._
    // 'qu' appears 5 times and q/(#u) never apart: score 5/(5*9)
    // 'th' appears 6 times but t and h are both common elsewhere:
    //   score 6/(9*8) — smaller, despite the bigger count
    val docs = (Seq.fill(5)("qu un") ++ Seq.fill(6)("th") ++
      Seq.fill(3)("ta ha") ++ Seq("u u u"))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val m = WordPiece.learn(docs, "text", 1).head
    assert((m.a, m.b) == ("q", MK + "u"),
      s"picked (${m.a}, ${m.b}) count=${m.pairCount} ca=${m.cntA} cb=${m.cntB}")
    assert(m.merged == "qu")
    // verify the th pair really had the larger raw count
    assert(m.pairCount < 6)
  }

  test("applyMerge preserves the left symbol's position class and " +
    "strips the right mark") {
    val D = Bpe.Delim
    val seq = s"${D}a$D${MK}b$D${MK}c$D"
    def merge(a: String, b: String) =
      MergeRounds.applyMerge(seq, a, b, WordPiece.merged(a, b))
    val got = merge(MK + "b", MK + "c")
    assert(got == s"${D}a$D${MK}bc$D", s"got <$got>")
    val got2 = merge("a", MK + "b")
    assert(got2 == s"${D}ab$D${MK}c$D", s"got <$got2>")
  }

  test("maxMatch is greedy longest-match-first with position-aware " +
    "vocabulary classes") {
    val s = spark
    import s.implicits._
    val vocab = Map("a" -> 1L, "ab" -> 2L, MK + "b" -> 3L,
      MK + "c" -> 4L, MK + "bc" -> 5L, "abc" -> 6L)
      .map { case (k, v) => k -> v } // surfaces carry marks
    val seg = (tok: String) => Seq(tok).toDF("tok")
      .select(WordPiece.maxMatch(col("tok"), vocab).as("m"))
      .select("m.np", "m.unk", "m.dg").head()
    // 'abc' matches the full word-initial piece in one step
    val r1 = seg("abc")
    assert((r1.getInt(0), r1.getBoolean(1)) == (1, false), s"$r1")
    // 'abcb': abc + ##b — greedy takes the longest prefix first
    val r2 = seg("abcb")
    assert((r2.getInt(0), r2.getBoolean(1)) == (2, false), s"$r2")
    // 'ba': 'b' is only in vocab as a CONTINUATION piece, so the
    // word-initial position fails -> whole word UNK (BERT rule)
    val r3 = seg("ba")
    assert(r3.getBoolean(1), s"$r3")
    // digest is position-weighted over the MAP VALUES (the hashes):
    // 1*v("abc") + 2*v("##b") = 1*6 + 2*3 = 12
    val r4 = seg("abcb")
    assert(r4.getLong(2) == 12L, s"$r4")
  }

  test("maxMatch matches a JVM reference MaxMatch on every word of " +
    "a generated corpus (no UNKs when applying to the training " +
    "corpus itself)") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(7)
    val words = Vector.tabulate(60)(i =>
      Vector.fill(1 + rnd.nextInt(8))(
        ('a' + rnd.nextInt(5)).toChar).mkString)
    val docs = words.grouped(6).zipWithIndex
      .map { case (g, i) => (i.toLong, g.mkString(" ")) }
      .toVector.toDF("doc_id", "text")
    val (merges, vocab) = WordPiece.learnWithVocab(docs, "text", 6)
    assert(merges.nonEmpty)
    val surfaces = vocab.keySet
    def refSeg(tok: String): Option[Int] = {
      var pos = 0; var np = 0
      while (pos < tok.length) {
        val maxL = tok.length - pos
        val l = (maxL to 1 by -1).find { ll =>
          val key = (if (pos > 0) MK else "") + tok.substring(pos, pos + ll)
          surfaces(key)
        }
        l match {
          case Some(ll) => pos += ll; np += 1
          case None => return None
        }
      }
      Some(np)
    }
    val got = words.distinct.toDF("tok")
      .select(col("tok"), WordPiece.maxMatch(col("tok"), vocab).as("m"))
      .collect()
      .map(r => r.getString(0) ->
        (r.getStruct(1).getInt(0), r.getStruct(1).getBoolean(1)))
      .toMap
    words.distinct.foreach { w =>
      refSeg(w) match {
        case Some(np) =>
          assert(got(w) == ((np, false)), s"word $w: got ${got(w)}, want $np")
        case None => assert(got(w)._2, s"word $w should be UNK")
      }
    }
    // training-corpus self-apply never UNKs (first chars are in the
    // alphabet word-initially by construction)
    assert(got.values.forall(!_._2))
  }

  test("native maxMatch kernel == HOF spec on edge cases: empty, " +
    "UNK-forcing, boundary lengths, multi-byte chars") {
    val s = spark
    import s.implicits._
    val vocab = Map("a" -> 11L, "ab" -> 22L, MK + "b" -> 33L,
      MK + "bc" -> 44L, "abc" -> 55L, "é" -> 66L, MK + "é" -> 77L,
      "x" -> 88L)
    val toks = Seq("", "a", "ab", "abc", "abcb", "abcbc", "ba", "zzz",
      "aab", "é", "éé", "aé", "xa", "x", "abcbcbcbcbc",
      "a" * 40, "abq")
    val df = toks.toDF("tok").select(col("tok"),
      WordPiece.maxMatch(col("tok"), vocab).as("k"),
      WordPiece.maxMatchSpec(col("tok"), vocab).as("s"))
    df.collect().foreach { r =>
      assert(r.getStruct(1) == r.getStruct(2),
        s"token <${r.getString(0)}>: kernel ${r.getStruct(1)} vs " +
          s"spec ${r.getStruct(2)}")
    }
  }

  test("learn matches a plain JVM reference learner on a tie-heavy " +
    "corpus, ties broken in UTF-8 (not UTF-16) order") {
    val (merges, vocab) =
      WordPiece.learnWithVocab(TieCorpus.docs(spark), "text", 12)
    val (ref, alphabet) =
      RefMergeLearner.learn(TieCorpus.texts, 12, wordPiece = true)
    assert(merges.map(m => (m.a, m.b, m.merged, m.pairCount,
      m.cntA, m.cntB)) == ref)
    assert(merges.map(_.round) == (1 to merges.length))
    assert(vocab.keySet == alphabet ++ ref.map(_._3))
    TieCorpus.assertUtf8First(merges.map(_.a))
  }

  test("learn runs one Spark job per merge round (k = 6 on the sf0.01 " +
    "documents launches at most k + 2 jobs)") {
    val sc = spark.sparkContext
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    // job ids grow in submission order and the bus delivers events in
    // order, so the jobs between two marker jobs are the learner's
    val ids = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String)]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        ids.add((e.jobId, Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")))
    }
    def marker(name: String): Unit = {
      sc.setJobDescription(name)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
    }
    sc.addSparkListener(listener)
    try {
      marker("wp-jobs-start")
      val (merges, _) = WordPiece.learnWithVocab(docs, "text", 6)
      marker("wp-jobs-end")
      assert(merges.length == 6)
      val deadline = System.nanoTime() + 30e9.toLong
      def seen(name: String) =
        ids.toArray(Array.empty[(Int, String)]).find(_._2 == name)
      while (seen("wp-jobs-end").isEmpty && System.nanoTime() < deadline)
        Thread.sleep(20)
      val (lo, hi) = (seen("wp-jobs-start").get._1, seen("wp-jobs-end").get._1)
      assert(hi - lo - 1 <= 6 + 2, s"${hi - lo - 1} jobs for 6 rounds")
    } finally sc.removeSparkListener(listener)
  }

  test("learn early-stops when no pair remains") {
    val s = spark
    import s.implicits._
    val docs = Seq((0L, "a b c")).toDF("doc_id", "text")
    val merges = WordPiece.learn(docs, "text", 4)
    assert(merges.isEmpty)
  }
}
