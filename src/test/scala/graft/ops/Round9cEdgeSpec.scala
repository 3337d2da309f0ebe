package graft.ops

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Edge contracts for the round-9c operators: degenerate inputs must
  * produce defined, empty-or-identity results, and each op's
  * accounting identity must telescope. */
class Round9cEdgeSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("editVerifiedPairs: empty frame and all-distinct corpus both " +
    "yield zero pairs, not a throw") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Dedup.editVerifiedPairs(empty, "text", "doc_id",
      maxBucket = 10, prefixLen = 120).count() === 0L)
    val distinct = (1L to 20L)
      .map(i => (i, (1 to 30).map(j => s"w${i}_$j").mkString(" ")))
      .toDF("doc_id", "text")
    assert(Dedup.editVerifiedPairs(distinct, "text", "doc_id",
      maxBucket = 10, prefixLen = 120).count() === 0L)
  }

  test("blocklist kernel: empty text counts nothing; a pattern equal " +
    "to the whole text counts once") {
    val z = BlocklistFns.automaton.countsOf("")
    assert(z.forall(_ == 0L))
    val one = BlocklistFns.automaton.countsOf("merge")
    assert(one(BlocklistFns.Patterns.indexOf("merge")) === 1L)
    assert(one.sum === 1L)
  }

  test("hammingPairs64: empty frame yields no pairs; a single row " +
    "yields no pairs; tau=0 keeps only exact signature matches") {
    val empty = Seq.empty[(Long, Long)].toDF("id", "h")
    assert(Dedup.hammingPairs64(empty, "h", "id", tau = 3).count() === 0L)
    val one = Seq((1L, 42L)).toDF("id", "h")
    assert(Dedup.hammingPairs64(one, "h", "id", tau = 3).count() === 0L)
    val mixed = Seq((1L, 42L), (2L, 42L), (3L, 43L)).toDF("id", "h")
    val exact = Dedup.hammingPairs64(mixed, "h", "id", tau = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact === Set((1L, 2L)))
  }

  test("kneserNeyPerplexity: docs with < 2 tokens vanish (no bigram), " +
    "a 2-token doc scores; empty frame stays empty") {
    val df = Seq((1L, "solo"), (2L, "a b")).toDF("doc_id", "text")
    val out = NgramLm.kneserNeyPerplexity(df, "text", "doc_id")
      .collect()
    assert(out.length === 1 && out.head.getLong(0) === 2L)
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(NgramLm.kneserNeyPerplexity(empty, "text", "doc_id")
      .count() === 0L)
  }

  test("q_pipeline_posttrain accounting telescopes: n_in = blocked + " +
    "lowq + dup + kept per source, and kept docs render non-empty") {
    val rows = graft.SparkEntry
      .queries("q_pipeline_posttrain")(spark, "/root/testdata/sf0.001")
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nIn, b, lq, dup, k) = (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))
      assert(nIn === b + lq + dup + k, s"telescope broken: $r")
      assert(dup >= 0L)
      if (k > 0) assert(r.getLong(6) >= k, "fewer turns than docs")
    }
  }

  test("hardNegatives: single-label corpus mines nothing (no valid " +
    "negative exists)") {
    val e = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
      .withColumn("label", lit(7))
    assert(Similarity.hardNegatives(e, "vec_id", "embedding", "label",
      3).count() === 0L)
  }

  test("mmrSelect equals a driver-side reference MMR on real vectors " +
    "and prefers diversity over the plain top-k") {
    val e = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    val got = Similarity.mmrSelect(e, "vec_id", "embedding", k = 4,
      lam = 0.7, oneMinusLam = 0.3)
    // reference: same greedy loop, naively on the driver
    val vecs = e.select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val probe = vecs.head
    var sel = List.empty[(Long, Array[Float])]
    val want = (0 until 4).map { _ =>
      val cands = vecs.filter(v => !sel.exists(_._1 == v._1))
      val best = cands.map { case (id, v) =>
        val rel = cos(v, probe._2)
        val score = if (sel.isEmpty) rel
          else 0.7 * rel - 0.3 * sel.map(s => cos(v, s._2)).max
        (score, -id, id, v)
      }.maxBy(t => (t._1, t._2))
      sel = sel :+ ((best._3, best._4))
      best._3
    }
    assert(got.map(_._2) === want)
    assert(got.map(_._2).distinct.length === 4)
    assert(got.head._2 === probe._1 && got.head._3 === 1.0)
    // diversity: MMR's picks are at least as spread as cosine top-k
    // to the probe (strictly more spread on real clustered vectors)
    def spread(ids: Seq[Long]): Double = {
      val vs = ids.map(i => vecs.find(_._1 == i).get._2)
      val ps = for (i <- vs.indices; j <- i + 1 until vs.size)
        yield cos(vs(i), vs(j))
      ps.sum / ps.size
    }
    val topk = vecs.map(v => (cos(v._2, probe._2), -v._1, v._1))
      .sorted.reverse.take(4).map(_._3)
    assert(spread(got.map(_._2)) <= spread(topk) + 1e-12,
      "MMR selected a LESS diverse set than plain top-k")
  }

  test("ccnet chunk scoring: an archive-fitted LM applied to an EMPTY " +
    "batch yields an empty frame, not a throw") {
    val docsDf = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val lm = NgramLm.train(docsDf, "text", "doc_id")
    val empty = docsDf.where(lit(false))
    // the q_quality_ccnet scoring chain: chunk, bigram rows, LM joins
    val ch = TextAnalysis.chunks(empty, "text", "doc_id", 32, 32)
      .select(col("chunk"),
        (col("doc_id") * lit(4096L) + col("chunk_id")).as("cid"))
    val scored = NgramLm.bigramRows(ch, "chunk", "cid")
      .join(lm.bigrams, Seq("b"), "left")
      .join(lm.prefixes, Seq("w1"), "left")
      .groupBy("cid").agg(count(lit(1)).as("nb"))
    assert(scored.count() === 0L)
  }
}
