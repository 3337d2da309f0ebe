package graft.ops

import java.nio.charset.StandardCharsets.UTF_8

/** Plain-JVM reference for the [[MergeRounds]] learners: words as
  * symbol lists (no delimited strings, no Spark), the merge applied as
  * two left-to-right scans that each skip the symbol after a match —
  * what two leftmost non-overlapping `replace` passes over a delimited
  * sequence do — and ties broken by comparing UTF-8 bytes. */
object RefMergeLearner {

  /** Merges (a, b, merged, pairCount, cntA, cntB) and the round-1
    * symbol inventory. `wordPiece` selects the marked symbols,
    * a + stripMark(b) and the likelihood-ratio score; otherwise plain
    * characters, a + b and the raw pair count. */
  def learn(texts: Seq[String], k: Int, wordPiece: Boolean)
      : (Seq[(String, String, String, Long, Long, Long)], Set[String]) = {
    val mark = WordPiece.Mark
    val freq = texts.flatMap(_.split(" ", -1))
      .filter(t => t.nonEmpty && !t.contains(Bpe.Delim) &&
        !(wordPiece && t.contains(mark)))
      .groupBy(identity).map { case (t, ts) => t -> ts.size.toLong }
    var words: Seq[(Vector[String], Long)] = freq.toSeq.map { case (t, f) =>
      val cps = t.codePoints().toArray.toVector.map(cp => new String(Character.toChars(cp)))
      (if (wordPiece) cps.head +: cps.tail.map(mark + _) else cps, f)
    }
    def bytesLess(x: String, y: String): Boolean = {
      val (bx, by) = (x.getBytes(UTF_8), y.getBytes(UTF_8))
      val i = bx.indices.find(i => i >= by.length || bx(i) != by(i))
      i match {
        case None => bx.length < by.length
        case Some(i) => i < by.length && (bx(i) & 0xff) < (by(i) & 0xff)
      }
    }
    def pass(s: Vector[String], a: String, b: String, m: String): Vector[String] = {
      val out = Vector.newBuilder[String]
      var i = 0
      while (i < s.length) {
        if (i + 1 < s.length && s(i) == a && s(i + 1) == b) {
          out += m
          if (i + 2 < s.length) out += s(i + 2)
          i += 3
        } else { out += s(i); i += 1 }
      }
      out.result()
    }
    val merges = Vector.newBuilder[(String, String, String, Long, Long, Long)]
    var alphabet = Set.empty[String]
    var round = 1
    var done = false
    while (round <= k && !done) {
      val syms = words.flatMap { case (s, f) => s.map(_ -> f) }
        .groupMapReduce(_._1)(_._2)(_ + _)
      if (round == 1) alphabet = syms.keySet
      val pairs = words.flatMap { case (s, f) => s.sliding(2).collect {
          case Seq(a, b) => (a, b) -> f } }
        .groupMapReduce(_._1)(_._2)(_ + _)
      if (pairs.isEmpty) done = true
      else {
        def score(p: ((String, String), Long)): Double =
          if (wordPiece) p._2.toDouble / (syms(p._1._1) * syms(p._1._2)).toDouble
          else p._2.toDouble
        val top = pairs.toSeq.sortWith { (x, y) =>
          val (sx, sy) = (score(x), score(y))
          if (sx != sy) sx > sy
          else if (x._1._1 != y._1._1) bytesLess(x._1._1, y._1._1)
          else bytesLess(x._1._2, y._1._2)
        }.head
        val ((a, b), c) = top
        val m = if (wordPiece) a + b.substring(1) else a + b
        merges += ((a, b, m, c, syms(a), syms(b)))
        words = words.map { case (s, f) => (pass(pass(s, a, b, m), a, b, m), f) }
        round += 1
      }
    }
    (merges.result(), alphabet)
  }
}

/** A corpus built for score ties, shared by the BPE and WordPiece
  * reference tests: "ab"/"ba" and "cd"/"dc" tie pairwise, random words
  * over a 2-byte-UTF-8 alphabet tie often, and the words "｡x" and
  * "😀x" give the pairs (U+FF61, x) and (U+1F600, x) identical counts
  * and scores. U+FF61 is first in UTF-8 (EF … < F0 …) but second in
  * UTF-16 (FF61 > D83D). */
object TieCorpus {
  val fw = "｡"
  val emoji = new String(Character.toChars(0x1F600))

  val texts: Seq[String] = {
    val rnd = new scala.util.Random(11)
    Seq.fill(30)(s"${fw}x ${emoji}x ab ba cd dc") ++
      Vector.fill(40)(Vector.fill(4)(Vector.fill(1 + rnd.nextInt(4))(
        "abcé".charAt(rnd.nextInt(4))).mkString).mkString(" "))
  }

  def docs(spark: org.apache.spark.sql.SparkSession) = {
    import spark.implicits._
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
  }

  /** The (U+FF61, x) merge comes before the (U+1F600, x) one. */
  def assertUtf8First(lefts: Seq[String]): Unit = {
    assert(emoji.compareTo(fw) < 0) // UTF-16 order would pick 😀
    val (i, j) = (lefts.indexOf(fw), lefts.indexOf(emoji))
    assert(i >= 0 && j > i, s"merge order of the tied pairs: $lefts")
  }
}
