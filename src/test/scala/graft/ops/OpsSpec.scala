package graft.ops

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral checks for the pipeline operators: known duplicates are
  * found, similarity estimates track ground truth, approximate results
  * bound exact ones. (Cross-engine numeric parity is covered by the
  * DuckDB oracle corpus.) */
class OpsSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def docsWithDups = {
    val base = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    // inject exact + near duplicates with known ids
    val rows = base.limit(5).collect().map(r =>
      (r.getLong(0), r.getString(1)))
    val exact = rows.map { case (id, t) => (id + 10000L, t) }
    val near = rows.map { case (id, t) =>
      (id + 20000L, t.split(" ").dropRight(1).mkString(" ") + " zzz")
    }
    base.unionByName((exact ++ near).toSeq.toDF("doc_id", "text"))
  }

  test("exactGroups finds injected exact duplicates with min-id keeper") {
    val groups = Dedup.exactGroups(docsWithDups, "text", "doc_id")
    val dups = groups.filter(col("n_copies") > 1).collect()
    assert(dups.length == 5)
    assert(dups.forall(_.getLong(1) < 10000L)) // keeper is the original
  }

  test("minhash est_jaccard is 1.0 for exact dups and high for near dups") {
    val cand = Dedup.minhashCandidates(docsWithDups, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    // every injected exact duplicate pair must be a candidate with est 1.0
    (0 until 5).foreach { i =>
      val hit = cand.find { case (a, b, _) => b - a == 10000L }
      assert(hit.nonEmpty, "exact dup pair missed by LSH")
    }
    val exactPairs = cand.filter { case (a, b, _) => b - a == 10000L }
    assert(exactPairs.forall(_._3 == 1.0))
  }

  test("containmentPairs surfaces an excerpt pair that MinHash LSH " +
    "misses, and the rare-gram df cap keeps common phrases out of " +
    "the blocking join") {
    val words = (1 to 60).map(i => f"cw$i%02d")
    val base = (0 until 30).map(i =>
      (i.toLong, s"filler doc number $i with its own body text " +
        (1 to 10).map(k => s"w${i}_$k").mkString(" ")))
    val rows = base ++ Seq(
      (9001L, words.mkString(" ")),                 // the long page
      (9002L, words.slice(7, 25).mkString(" ")))    // its excerpt
    val df = rows.toDF("doc_id", "text")
    val pairs = Dedup.containmentPairs(df, "text", "doc_id",
        n = 3, maxDf = 10, minShared = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((9001L, 9002L)), "excerpt pair must block")
    // the shared 'filler doc number' prefix grams appear in 30 docs —
    // over maxDf, so they cannot glue unrelated filler docs together
    assert(pairs.forall { case (a, b) => (a, b) == ((9001L, 9002L)) },
      s"common-phrase grams leaked pairs: $pairs")
    // MinHash LSH on the same data does NOT surface the excerpt pair
    val mh = Dedup.minhashCandidates(df, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!mh.contains((9001L, 9002L)),
      "if LSH caught the excerpt, this fixture stopped demonstrating " +
        "the containment gap — rebuild it")
    // exact asymmetric re-score: contained fully, low Jaccard
    val scored = df.select(lit(1).as("k"), col("doc_id"), col("text"))
    val a = scored.where(col("doc_id") === 9001L)
      .select(col("text").as("ta"))
    val b = scored.where(col("doc_id") === 9002L)
      .select(col("text").as("tb"))
    val r = a.crossJoin(b).select(
      Dedup.ngramContainmentMax(col("ta"), col("tb"), 3).as("cmax"),
      Dedup.ngramJaccard(col("ta"), col("tb"), 3).as("j")).head
    assert(r.getDouble(0) == 1.0, s"excerpt containment ${r.getDouble(0)}")
    assert(r.getDouble(1) < 0.3, s"jaccard ${r.getDouble(1)} not low")
  }

  test("simhash of near-identical docs is close in hamming distance") {
    val sims = Dedup.simhash16(docsWithDups, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0 until 5).foreach { _ => () }
    sims.keys.filter(_ < 10000L).take(5).foreach { id =>
      sims.get(id + 10000L).foreach { dup =>
        assert(sims(id) == dup, "exact dup must have identical simhash")
      }
      sims.get(id + 20000L).foreach { near =>
        val ham = java.lang.Long.bitCount(sims(id) ^ near)
        assert(ham <= 6, s"near-dup hamming $ham too large")
      }
    }
  }

  test("ngramJaccard: identical → 1.0, disjoint → 0.0, near-dup high") {
    val df = Seq(
      ("a b c d e f g h", "a b c d e f g h", "identical"),
      ("a b c d e f g h", "p q r s t u v w", "disjoint"),
      ("a b c d e f g h i j k l", "a b c d e f g h i j k x", "near"))
      .toDF("ta", "tb", "kind")
    val got = df.select(col("kind"),
      Dedup.ngramJaccard(col("ta"), col("tb"), 3).as("j"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got("identical") == 1.0)
    assert(got("disjoint") == 0.0)
    assert(got("near") > 0.6 && got("near") < 1.0)
  }

  test("cosineTop1 matches a driver-side brute force") {
    val embDf = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
      .limit(60).cache()
    val got = Similarity.cosineTop1(embDf, "vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val vecs = embDf.collect().map(r => (r.getLong(0),
      r.getSeq[Float](r.fieldIndex("embedding")).map(_.toDouble).toArray))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var (d, na, nb) = (0.0, 0.0, 0.0)
      var i = 0
      while (i < a.length) {
        d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      d / math.sqrt(na * nb)
    }
    vecs.foreach { case (id, v) =>
      val want = vecs.filter(_._1 != id).map(o => cos(v, o._2)).max
      assert(math.abs(got(id) - want) < 1e-9, s"vec $id")
    }
  }

  test("annTop1 is bounded by the exact top1 and hits on bucket collisions") {
    val embDf = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet").cache()
    val exact = Similarity.cosineTop1(embDf, "vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val ann = Similarity.annTop1(embDf, "vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(ann.nonEmpty)
    ann.foreach { case (id, c) =>
      assert(c <= exact(id) + 1e-9, s"ann beat exact for $id")
    }
  }

  test("IVF assignment matches driver brute force and ivfTop1 is " +
    "bounded by exact top1") {
    val embDf = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet").cache()
    val cents = embDf.orderBy("vec_id").limit(8)
      .select(col("vec_id").as("cid"), col("embedding").as("cemb"))
    val cells = Similarity.assignCells(embDf, "vec_id", "embedding", cents)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val vecs = embDf.collect().map(r => (r.getLong(0),
      r.getSeq[Float](r.fieldIndex("embedding")).map(_.toDouble).toArray))
    val cvecs = vecs.filter(_._1 < 8)
    def l2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    vecs.foreach { case (id, v) =>
      // min distance, ties to smallest centroid id
      val want = cvecs.map { case (cid, c) => (l2(v, c), cid) }.min._2
      assert(cells(id) == want, s"vec $id: got ${cells(id)}, want $want")
    }
    val exact = Similarity.cosineTop1(embDf, "vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val ivf = Similarity.ivfTop1(embDf, "vec_id", "embedding", cents)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(ivf.nonEmpty)
    ivf.foreach { case (id, c) =>
      assert(c <= exact(id) + 1e-9, s"ivf beat exact for $id")
    }
  }

  test("persisted IVF index: query reads ONLY the probed cell " +
    "partitions and matches a driver oracle over those cells") {
    val embDf = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet").cache()
    val cents = Similarity.collectCentroids(
      embDf.orderBy("vec_id").limit(8)
        .select(col("vec_id").as("cid"), col("embedding").as("cemb")))
    val base = java.nio.file.Files
      .createTempDirectory("graft_ivf_index").toString
    Similarity.writeIvfIndex(embDf, "vec_id", "embedding", cents, base)
    assert(Similarity.loadIvfCentroids(spark, base).toSeq == cents.toSeq)
    val q = embDf.where(col("vec_id") === 42L)
      .select("embedding").collect().head
      .getSeq[Float](0).map(_.toDouble)
    val got = Similarity.queryIvfIndex(spark, base, q, probes = 2, k = 5)
    val rows = got.collect().map(r => (r.getLong(0), r.getDouble(1)))
    // driver oracle: brute-force cosine over vectors in the 2 cells
    def l2(a: Seq[Double], b: Seq[Double]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val probeCells = cents.map { case (cid, v) => (l2(v, q), cid) }
      .sorted.take(2).map(_._2).toSet
    val vecs = embDf.collect().map(r => (r.getLong(0),
      r.getSeq[Float](1).map(_.toDouble)))
    val inCells = vecs.filter { case (_, v) =>
      probeCells.contains(cents.map { case (cid, c) =>
        (l2(c, v), cid) }.min._2)
    }
    def cos(a: Seq[Double], b: Seq[Double]) = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / math.sqrt(a.map(x => x * x).sum) /
        math.sqrt(b.map(x => x * x).sum)
    }
    val want = inCells.map { case (id, v) => (id, cos(v, q)) }
      .sortBy { case (id, c) => (-c, id) }.take(5)
    assert(rows.map(_._1).toSeq == want.map(_._1).toSeq,
      s"got ${rows.toSeq}, want ${want.toSeq}")
    rows.zip(want).foreach { case ((_, g), (_, w)) =>
      assert(math.abs(g - w) < 1e-9)
    }
    // the scan prunes: listed files cover only the probed partitions
    got.collect()
    val scanned = got.queryExecution.executedPlan.collectLeaves()
      .collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.relation.location.listFiles(f.partitionFilters, f.dataFilters)
            .flatMap(_.files.map(_.getPath.toString))
      }.flatten
    assert(scanned.nonEmpty &&
      scanned.forall(p => probeCells.exists(c => p.contains(s"cell=$c"))),
      s"scan must touch only probed cells, saw:\n${scanned.mkString("\n")}")
    val allCells = embDf.select(
      Similarity.nearestCentroid(Similarity.asDouble(col("embedding")),
        cents).getField("c")).distinct().count()
    assert(allCells > 2, "fixture must have more cells than probes")
  }

  test("charEntropy: hand-computed values, case-fold invariance, " +
    "boilerplate low / diverse text high, empty-safe") {
    import spark.implicits._
    val rows = Seq(
      (1L, ""), (2L, "aaaa"), (3L, "abab"), (4L, "AbAb"),
      (5L, "ab cd"), (6L, "the quick brown fox jumps"))
      .toDF("doc_id", "text")
    val got = rows.select(col("doc_id"),
        graft.ops.TextHashExpressions.charEntropy(col("text")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got(1L) == 0.0, "empty text")
    assert(got(2L) == 0.0, "single class")
    assert(math.abs(got(3L) - math.log(2.0)) < 1e-12, "two equal classes")
    assert(got(4L) == got(3L), "case folding")
    // 'ab cd' = 4 letters + 1 space, all distinct classes
    val want5 = -(4 * (0.2 * math.log(0.2)) + 0.2 * math.log(0.2))
    assert(math.abs(got(5L) - want5) < 1e-12)
    assert(got(6L) > got(3L), "diverse prose above a 2-char loop")
    // non-BMP: an emoji is ONE 'other' codepoint, not two surrogate
    // units — "😀a" must equal any other 1-other + 1-letter text
    val nonBmp = Seq((7L, "😀a"), (8L, ".a"))
      .toDF("doc_id", "text")
      .select(col("doc_id"),
        graft.ops.TextHashExpressions.charEntropy(col("text")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(nonBmp(7L) == nonBmp(8L),
      s"surrogate pair must count once: $nonBmp")
  }

  test("newNearDupsAgainstCorpus flags exact and perturbed copies of " +
    "archive docs, ignores fresh docs, and reports template-family " +
    "hits as oversize without pairwise scoring") {
    import spark.implicits._
    val rng = new scala.util.Random(17)
    def doc(n: Int) = Seq.fill(n)(s"w${rng.nextInt(5000)}").mkString(" ")
    val base = Seq.tabulate(30)(i => (i.toLong, doc(12)))
    val template = doc(12)
    val corpus = (base ++ Seq.tabulate(60)(i => (1000L + i, template)))
      .toDF("doc_id", "text")
    val perturbed = base(6)._2.split(" ").dropRight(1).mkString(" ") + " zq"
    val batch = Seq(
      (9001L, base(5)._2), // exact copy
      (9002L, perturbed), // near copy (11/12 tokens shared)
      (9003L, doc(12)), // fresh
      (9004L, template)) // member of the oversize family
      .toDF("doc_id", "text")
    val got = Dedup.newNearDupsAgainstCorpus(batch, corpus,
        "text", "doc_id", maxBucket = 10)
      .collect().map(r => r.getLong(0) ->
        ((Option(r.get(1)).map(_.asInstanceOf[Double]), r.getLong(2),
          r.getBoolean(3)))).toMap
    assert(got(9001L)._1.contains(1.0), s"exact copy: ${got.get(9001L)}")
    assert(got(9001L)._2 >= 1)
    got.get(9002L).foreach { case (est, _, _) =>
      assert(est.exists(_ >= 0.5), s"near copy underscored: $est")
    }
    assert(got.contains(9002L), "near copy must collide in some band")
    got.get(9003L).foreach { case (est, _, over) =>
      assert(est.forall(_ < 0.5) && !over, "fresh doc misflagged")
    }
    assert(got(9004L)._3, "family member must carry oversize_hit")
    assert(got(9004L)._1.isEmpty,
      "oversize collisions must not be pairwise-scored")
  }

  test("chunks equals a driver reference chunker over randomized " +
    "texts for several window/stride geometries") {
    import spark.implicits._
    val rng = new scala.util.Random(5)
    val rows = Seq.tabulate(200) { i =>
      val n = rng.nextInt(40) // 0..39 tokens (0 -> empty string)
      (i.toLong, Seq.fill(n)(s"t${rng.nextInt(9)}").mkString(" "))
    }
    def ref(text: String, w: Int, s: Int): Seq[(Int, String, Long)] = {
      val toks = text.split(" ", -1)
      val k = (math.max(toks.length - w, 0) + s - 1) / s + 1
      (0 until k).map { i =>
        val slice = toks.slice(i * s, i * s + w)
        (i, slice.mkString(" "), slice.length.toLong)
      }
    }
    val df = rows.toDF("doc_id", "text")
    for ((w, s) <- Seq((8, 8), (8, 5), (16, 3), (1, 1))) {
      val collected = TextAnalysis.chunks(df, "text", "doc_id", w, s)
        .collect()
        .map(r => (r.getLong(0), r.getInt(1)) -> (r.getString(2), r.getLong(3)))
      // row count BEFORE toMap: a duplicate (doc, chunk) key or any
      // stray extra row must fail, not vanish into the map
      assert(collected.length == rows.map(r => ref(r._2, w, s).length).sum,
        s"row count at w=$w s=$s")
      val got = collected.toMap
      rows.foreach { case (id, text) =>
        val want = ref(text, w, s)
        want.foreach { case (cid, chunk, nTok) =>
          assert(got((id, cid)) == ((chunk, nTok)),
            s"doc $id chunk $cid at w=$w s=$s")
        }
      }
    }
  }

  test("farthest-first seeding is deterministic, spreads centroids " +
    "wider than first-k, and warm-starts Lloyd's at least as well") {
    val embDf = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet").cache()
    val k = 8
    val far = Similarity.kmeansFarthestInit(embDf, "vec_id", "embedding", k)
    val again = Similarity.kmeansFarthestInit(embDf, "vec_id", "embedding", k)
    assert(far.map(_._2).toSeq == again.map(_._2).toSeq, "must be deterministic")
    assert(far.length == k && far.map(_._1).toSeq == (0L until k.toLong))
    val firstK = Similarity.collectCentroids(
      embDf.orderBy("vec_id").limit(k)
        .select(col("vec_id").as("cid"), col("embedding").as("cemb")))
    def minPairDist(cs: Array[(Long, Seq[Double])]): Double =
      (for (i <- cs.indices; j <- cs.indices if i < j) yield
        cs(i)._2.zip(cs(j)._2).map { case (a, b) => (a - b) * (a - b) }.sum
      ).min
    assert(minPairDist(far) >= minPairDist(firstK),
      "farthest-first must not pack seeds tighter than first-k")
    def inertia(cents: Array[(Long, Seq[Double])]): Double =
      Similarity.cellAssignmentsWithDist(embDf, "vec_id", "embedding",
        Similarity.kmeansIterate(embDf, "vec_id", "embedding", cents, 3))
        .agg(sum("dist")).head().getDouble(0)
    assert(inertia(far) <= inertia(firstK) * 1.05,
      "Lloyd's from farthest-first must not end materially worse")
  }

  test("multi-probe IVF: top1 is monotone in probes and bounded by exact") {
    val embDf = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet").cache()
    val cents = embDf.orderBy("vec_id").limit(8)
      .select(col("vec_id").as("cid"), col("embedding").as("cemb"))
    val exact = Similarity.cosineTop1(embDf, "vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val p1 = Similarity.ivfTop1(embDf, "vec_id", "embedding", cents)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val p3 = Similarity.ivfTop1(embDf, "vec_id", "embedding", cents,
      probes = 3).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(p3.size >= p1.size)
    p1.foreach { case (id, c1) =>
      assert(p3(id) >= c1 - 1e-12, s"probe expansion lost recall for $id")
      assert(p3(id) <= exact(id) + 1e-9, s"ivf beat exact for $id")
    }
    // with 8 cells over ~100 vecs, 3 probes must strictly help someone
    assert(p1.exists { case (id, c1) => p3(id) > c1 + 1e-12 },
      "3-probe search never improved on 1-probe")
  }

  test("cosineNearDups exact vs LSH-bucketed: bucketed is a subset with " +
    "identical cosines") {
    val embDf = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet").limit(120).cache()
    val ex = Similarity.cosineNearDups(embDf, "vec_id", "embedding", 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val lsh = Similarity.cosineNearDups(embDf, "vec_id", "embedding", 0.2,
      exact = false).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(lsh.nonEmpty, "no bucketed near-dup pairs at tau=0.2")
    lsh.foreach { case (pair, c) =>
      assert(ex.contains(pair), s"bucketed pair $pair not in exact set")
      assert(math.abs(ex(pair) - c) < 1e-12)
    }
  }

  test("multimodal: metadata typed, decode stub deterministic, " +
    "frame checksum computed") {
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .limit(20)
    val media = Multimodal.asMedia(df, "text", "text-as-bytes")
    val meta = media.select(col("meta.kind"), col("meta.n_bytes"),
      col("meta.sha")).collect()
    meta.foreach { r =>
      assert(r.getString(0) == "text-as-bytes")
      assert(r.getLong(1) > 0)
      assert(r.getString(2).length == 64)
    }
    val f1 = Multimodal.decodeStub(media, "media")
      .select("doc_id", "features").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val f2 = Multimodal.decodeStub(media.repartition(3), "media")
      .select("doc_id", "features").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(f1 == f2, "decode stub must be partition-layout independent")
    assert(f1.values.forall(v => v.length == 4 && v.forall(x => x >= 0 && x < 1)))
    val fsc = media.select(
      Multimodal.frameSampleChecksum("text", 16, 64).as("c")).collect()
    fsc.foreach(r => assert(r.getLong(0) > 0))
  }

  test("resizeStub shrinks media by the factor, recomputes metadata, " +
    "and is partition-invariant") {
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .limit(40)
    val media = Multimodal.asMedia(df, "text", "text-as-bytes")
    def run(d: org.apache.spark.sql.DataFrame) =
      Multimodal.resizeStub(d, "media", factor = 4)
        .select(col("doc_id"), col("media_small"),
          col("media_small_meta.n_bytes"), col("media_small_meta.sha"))
        .collect()
        .map(r => r.getLong(0) ->
          (r.getAs[Array[Byte]](1).toSeq, r.getLong(2), r.getString(3)))
        .toMap
    val a = run(media)
    val b = run(media.repartition(5))
    assert(a == b, "resize depends on partitioning")
    val orig = media.select(col("doc_id"), col("meta.n_bytes")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    a.foreach { case (id, (bytes, n, sha)) =>
      assert(n == (orig(id) + 3) / 4, s"doc $id size")
      assert(bytes.length.toLong == n)
      assert(sha.length == 64)
    }
  }

  test("minhash pair-gen cap bounds a template-family blowup; the " +
    "diverted family is still deduped linearly by minhashGroups") {
    // skew fixture: one 300-doc template family (identical text → all
    // 4 band buckets hold 300 rows) plus distinct singletons
    val family = (0 until 300).map(i =>
      (100000L + i, "common template boilerplate text shared by every " +
        "member of this synthetic family of documents"))
    val unique = (0 until 50).map(i =>
      (200000L + i, s"unique document number $i with tokens " +
        s"u${i}alpha u${i}beta u${i}gamma u${i}delta u${i}epsilon"))
    val df = (family ++ unique).toDF("doc_id", "text")

    val uncapped = Dedup.minhashCandidates(df, "text", "doc_id").count()
    assert(uncapped >= 300L * 299 / 2, s"fixture not quadratic: $uncapped")

    val capped = Dedup.minhashCandidates(df, "text", "doc_id",
      maxBucket = 50, numBands = Dedup.NumBands).count()
    assert(capped < 1000, s"cap failed to bound pairs: $capped")

    val os = Dedup.oversizeBuckets(df, "text", "doc_id", 50).collect()
    assert(os.length == 4, s"expected the family in all 4 bands: ${os.length}")
    assert(os.forall(_.getAs[Long]("n_docs") == 300L))

    val g = Dedup.minhashGroups(df, "text", "doc_id")
      .filter(col("n_copies") > 1).collect()
    assert(g.exists(_.getAs[Long]("n_copies") == 300L),
      "diverted family not recovered by linear group dedup")
  }

  test("cosineNearDups bucket cap: capped pairs are the subset from " +
    "small buckets only") {
    val embDf = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet").cache()
    val nBits = 4
    val sizes = Similarity.lshBuckets(embDf, "vec_id", "embedding", nBits)
      .groupBy("bucket").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cap = (sizes.values.max - 1).toInt // the biggest bucket must divert
    val buckets = Similarity.lshBuckets(embDf, "vec_id", "embedding", nBits)
      .collect().map(r => r.getLong(0) -> r.getLong(r.fieldIndex("bucket"))).toMap
    val un = Similarity.cosineNearDups(embDf, "vec_id", "embedding", 0.1,
      exact = false, nBits = nBits)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = Similarity.cosineNearDups(embDf, "vec_id", "embedding", 0.1,
      exact = false, nBits = nBits, maxBucket = cap)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.subsetOf(un))
    val want = un.filter { case (a, _) => sizes(buckets(a)) <= cap }
    assert(capped == want, "capped set is not exactly the small-bucket pairs")
    assert(capped.size < un.size, "cap never bound — fixture too uniform")
  }

  test("salted annTop1 is result-identical to the unsalted join") {
    val embDf = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet").cache()
    val plain = Similarity.annTop1(embDf, "vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val salted = Similarity.annTop1(embDf, "vec_id", "embedding",
      nBits = 8, salt = 4)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(salted == plain, "salting changed ANN results")
  }

  test("multi-table LSH recall@1 vs brute force clears a floor; " +
    "nBitsFor sizes buckets to the corpus") {
    val embDf = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet").cache()
    val n = embDf.count()
    val exact = Similarity.cosineTop1(embDf, "vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // single-table recall at a corpus-sized bucket space
    val nBits = Similarity.nBitsFor(n, 64L)
    def recallOf(tables: Int): Double = {
      val ann = Similarity.annTop1(embDf, "vec_id", "embedding",
        nBits = nBits, tables = tables)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      exact.count { case (id, c) =>
        ann.get(id).exists(_ >= c - 1e-9)
      }.toDouble / exact.size
    }
    val r1 = recallOf(1)
    val r4 = recallOf(4)
    assert(r4 >= 0.5, s"4-table recall@1 $r4 below floor")
    assert(r4 > r1, s"amplification didn't help: 1-table $r1, 4-table $r4")
    assert(Similarity.nBitsFor(1000000000L, 1024L) == 20)
    assert(Similarity.nBitsFor(500L, 1024L) == 1)
  }

  test("codegen'd vector kernels are bit-identical to their composable " +
    "higher-order-function specs") {
    val embDf = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet").limit(100).cache()
    val a = embDf.select(col("vec_id"), col("embedding"),
      Similarity.asDouble(col("embedding")).as("embd"))
    // dot: native vs spec (both forward-order sums)
    val dots = a.select(
      Similarity.dot(col("embedding"), col("embedding")).as("fast"),
      Similarity.dotSpec(col("embd"), col("embd")).as("spec")).collect()
    dots.foreach(r => assert(r.getDouble(0) == r.getDouble(1),
      s"dot mismatch: ${r.getDouble(0)} vs ${r.getDouble(1)}"))
    // lshBucket: native single-pass vs per-bit aggregate spec, incl. a
    // nonzero table offset
    Seq((8, 0), (6, 0), (4, 12)).foreach { case (nBits, off) =>
      val b = a.select(
        Similarity.lshBucket(col("embedding"), nBits, off).as("fast"),
        Similarity.lshBucketSpec(col("embedding"), nBits, off).as("spec"))
        .collect()
      b.foreach(r => assert(r.getLong(0) == r.getLong(1),
        s"bucket mismatch at nBits=$nBits off=$off"))
    }
    // l2sq against a literal centroid (the IVF assignment shape)
    val c0 = embDf.orderBy("vec_id").limit(1)
      .collect()(0).getSeq[Float](1).map(_.toDouble)
    val l2 = a.select(
      Similarity.l2sq(col("embedding"), typedLit(c0)).as("fast"),
      aggregate(zip_with(col("embd"), typedLit(c0),
        (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, v) => acc + v).as("spec")).collect()
    l2.foreach(r => assert(r.getDouble(0) == r.getDouble(1), "l2sq mismatch"))
  }

  test("native nearest-centroid kernel is bit-identical to the " +
    "array_min-over-structs spec (dist AND tie-broken cell)") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cents = Similarity.collectCentroids(
      e.orderBy("vec_id").limit(16)
        .select(col("vec_id").as("cid"), col("embedding").as("cemb")))
    val rows = e.select(
      Similarity.nearestCentroid(col("embedding"), cents).as("fast"),
      Similarity.nearestCentroidSpec(col("embedding"), cents).as("spec"))
      .collect()
    rows.foreach { r =>
      val (f, s) = (r.getStruct(0), r.getStruct(1))
      assert(f.getDouble(0) == s.getDouble(0), "dist mismatch")
      assert(f.getLong(1) == s.getLong(1), "cell mismatch")
    }
    // a duplicated vector ties against itself at dist 0 across two
    // centroid entries → the smaller cid must win in both forms
    val v = Seq.fill(4)(1.0f)
    val tieCents: Array[(Long, Seq[Double])] =
      Array((7L, Seq(1.0, 1.0, 1.0, 1.0)), (3L, Seq(1.0, 1.0, 1.0, 1.0)))
    val tie = Seq((1L, v)).toDF("id", "emb")
      .select(Similarity.nearestCentroid(col("emb"), tieCents).as("fast"),
        Similarity.nearestCentroidSpec(col("emb"), tieCents).as("spec"))
      .collect()(0)
    assert(tie.getStruct(0).getLong(1) == 3L &&
      tie.getStruct(1).getLong(1) == 3L)
  }

  test("native PQ encode and ADC distance are bit-identical to their " +
    "composable slice/array_min specs") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cb = Pq.codebooksFromFirst(e, "vec_id", "embedding", m = 4, ksub = 8)
    assert(cb.length == 4 && cb.forall(_.length == 8) &&
      cb.forall(_.forall(_.length == 16)))
    val rows = e.select(
      Pq.encodeCol(col("embedding"), cb).as("fast"),
      Pq.encodeColSpec(col("embedding"), cb).as("spec"),
      Pq.adcDist(col("embedding"),
        Pq.encodeCol(col("embedding"), cb), cb).as("dfast"),
      Pq.adcDistSpec(col("embedding"),
        Pq.encodeColSpec(col("embedding"), cb), cb).as("dspec"))
      .collect()
    rows.foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1), "code mismatch")
      assert(r.getDouble(2) == r.getDouble(3), "adc mismatch")
    }
    // codes actually use the codebook: at least two distinct codes in
    // some subspace (the corpus is not one cluster)
    val distinct = rows.map(_.getSeq[Long](0)).distinct
    assert(distinct.length > 1, "degenerate encoding")
  }

  test("PQ training reduces distortion and is partition-invariant " +
    "(bit-identical codebooks)") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .cache()
    val cb0 = Pq.codebooksFromFirst(e, "vec_id", "embedding", m = 4, ksub = 8)
    val cb1 = Pq.trainCodebooks(e, "vec_id", "embedding", cb0, iters = 2)
    def distortion(cb: Pq.Codebooks): Double =
      e.select(Pq.quantizationError(col("embedding"),
        Pq.encodeCol(col("embedding"), cb), cb).as("qe"))
        .agg(avg(col("qe"))).collect()(0).getDouble(0)
    val (d0, d1) = (distortion(cb0), distortion(cb1))
    assert(d1 < d0, s"training did not reduce distortion: $d0 -> $d1")
    // fixed-point sums ⇒ identical codebooks under any partitioning
    val cb1b = Pq.trainCodebooks(e.repartition(7), "vec_id", "embedding",
      cb0, iters = 2)
    assert(cb1 == cb1b, "trained codebooks depend on partitioning")
    e.unpersist()
  }

  test("adcTop1 bounds the exact L2 top-1 from below in rank terms and " +
    "returns one row per query") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .limit(64).cache()
    val cb = Pq.codebooksFromFirst(e, "vec_id", "embedding", m = 4, ksub = 8)
    val coded = Pq.encode(e, "vec_id", "embedding", cb)
    val queries = e.limit(8)
    val top1 = Pq.adcTop1(coded, queries, "vec_id", "embedding", cb)
      .collect()
    assert(top1.length == 8)
    top1.foreach(r => assert(r.getDouble(1) >= 0.0))
    e.unpersist()
  }

  test("dedupSpansKeepFirst removes shared spans from every doc but " +
    "the lowest-id holder; partials and within-doc repeats survive") {
    val df = Seq(
      (1L, "a1 a2 a3 a4 b1 b2 b3 b4 tail"),
      (2L, "a1 a2 a3 a4 c1 c2 c3 c4"),
      (3L, "x1 x2 x3 x4 x5"),
      (4L, "d1 d2 d3 d4 d1 d2 d3 d4")).toDF("doc_id", "text")
    val out = Dedup.dedupSpansKeepFirst(df, "text", "doc_id", 4)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(3), r.getBoolean(4))).toMap
    assert(out(1L) == ("a1 a2 a3 a4 b1 b2 b3 b4 tail", 0L, false),
      "keeper doc untouched (incl. its trailing partial)")
    assert(out(2L) == ("c1 c2 c3 c4", 4L, true),
      "duplicated leading span removed from the higher-id doc")
    assert(out(3L) == ("x1 x2 x3 x4 x5", 0L, false), "unique doc untouched")
    assert(out(4L) == ("d1 d2 d3 d4 d1 d2 d3 d4", 0L, false),
      "a span repeated only WITHIN one doc is not cross-doc duplicated")
  }

  test("adcRerankTop1 with full candidate depth equals brute-force " +
    "exact top-1; shallow depth can only raise the distance") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .limit(60).cache()
    val n = e.count().toInt
    val cb = Pq.codebooksFromFirst(e, "vec_id", "embedding", m = 4, ksub = 8)
    val coded = Pq.encode(e, "vec_id", "embedding", cb)
    val queries = e.where(col("vec_id") < 6)
    val brute = coded.crossJoin(
        broadcast(queries.select(col("vec_id").as("qid"),
          col("embedding").as("qemb"))))
      .where(col("qid") =!= col("vec_id"))
      .groupBy(col("qid"))
      .agg(min(struct(
        VecExpressions.l2sq(col("qemb"), col("embedding")).as("dist"),
        col("vec_id").cast("long").as("id"))).as("b"))
      .select(col("qid"), col("b.id"), col("b.dist"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    val full = Pq.adcRerankTop1(coded, queries, "vec_id", "embedding",
        cb, n - 1)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    assert(full == brute,
      "candidate depth n-1 makes the re-rank exhaustive → exact result")
    val shallow = Pq.adcRerankTop1(coded, queries, "vec_id", "embedding",
        cb, 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    shallow.foreach { case (q, dist) =>
      assert(dist >= brute(q)._2 - 1e-12,
        s"query $q: shallow re-rank cannot beat the exact minimum")
    }
    e.unpersist()
  }

  test("newAgainstCorpus keeps only batch docs whose signature is " +
    "absent from the corpus") {
    val corpus = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").limit(20).cache()
    val rows = corpus.limit(3).collect().map(r =>
      (r.getLong(0), r.getString(1)))
    // batch: 3 exact copies of corpus docs + 2 genuinely new docs
    val batch = (rows.map { case (id, t) => (id + 50000L, t) } ++
      Seq((60001L, "completely fresh text about quasars"),
        (60002L, "another brand new document entirely"))).toSeq
      .toDF("doc_id", "text")
    val surv = Dedup.newAgainstCorpus(batch, corpus, "text", "doc_id")
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(surv == Set(60001L, 60002L), s"got $surv")
    corpus.unpersist()
  }

  test("native n-gram fingerprint kernel matches the composable " +
    "hash-list fold spec, order included") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
      .unionByName(Seq((910001L, ""), (910002L, "a b"), (910003L, "a b c"),
        (910004L, "x x x x")).toDF("doc_id", "text"))
    Seq(2, 3).foreach { n =>
      val rows = docs
        .withColumn("__hl", Dedup.tokenHashList(col("text")))
        .select(col("doc_id"),
          graft.ops.TextHashExpressions.ngramFps(col("text"), n).as("fast"),
          array_distinct(Dedup.ngramFingerprints(col("__hl"), n)).as("spec"))
        .collect()
      rows.foreach(r => assert(r.getSeq[Long](1) == r.getSeq[Long](2),
        s"n=$n doc ${r.getLong(0)}"))
    }
  }

  test("ngramFpStrings: fps equal the ngramFps kernel (same distinct " +
    "order), phrases are the FIRST-occurrence token windows") {
    val docs = Seq((1L, "a b c d a b c"), (2L, "x y"), (3L, ""),
      (4L, "p q r p q r p q r")).toDF("doc_id", "text")
    val rows = docs.select(col("doc_id"),
        graft.ops.TextHashExpressions.ngramFpStrings(col("text"), 3).as("fs"),
        graft.ops.TextHashExpressions.ngramFps(col("text"), 3).as("fp"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getSeq[org.apache.spark.sql.Row](1),
        r.getSeq[Long](2)))).toMap
    rows.foreach { case (id, (fs, fp)) =>
      assert(fs.map(_.getLong(0)) == fp, s"doc $id fp order")
    }
    val d1 = rows(1L)._1.map(r => r.getLong(0) -> r.getString(1))
    // 5 windows, distinct fps: abc, bcd, cda, dab; the repeated
    // trailing abc reuses the FIRST occurrence
    assert(d1.map(_._2) == Seq("a b c", "b c d", "c d a", "d a b"))
    assert(rows(2L)._1.isEmpty && rows(3L)._1.isEmpty)
    assert(rows(4L)._1.map(_.getString(1)) ==
      Seq("p q r", "q r p", "r p q"))
  }

  test("dupNgramRate computes the cross-document duplicated-trigram " +
    "fraction") {
    val df = Seq(
      (1L, "a b c d"), // trigrams a_b_c, b_c_d
      (2L, "a b c e"), // trigrams a_b_c, b_c_e
      (3L, "x y z w"), // trigrams x_y_z, y_z_w
      (4L, "pq")       // no trigrams -> dropped
    ).toDF("doc_id", "text")
    val rates = Dedup.dupNgramRate(df, "text", "doc_id")
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(1), r.getLong(2))).toMap
    assert(rates.keySet == Set(1L, 2L, 3L))
    assert(rates(1L) == ((0.5, 2L))) // a_b_c shared with doc 2
    assert(rates(2L) == ((0.5, 2L)))
    assert(rates(3L) == ((0.0, 2L)))
  }

  test("AMS sketch: shards merge by cell-wise sum, retractions cancel " +
    "exactly, and the F2 estimate tracks the exact second moment") {
    val rows = (1 to 3000).map(i => (i.toLong, (i % 97).toString))
    val df = rows.toDF("i", "k")
    val full = Sketches.amsBuild(df, col("k")).collect()
      .map(r => ((r.getInt(0), r.getLong(1)), r.getLong(2))).toMap
    // mergeability: two shards built independently sum to the full sketch
    val s1 = Sketches.amsBuild(df.where(col("i") <= 1500), col("k"))
    val s2 = Sketches.amsBuild(df.where(col("i") > 1500), col("k"))
    val merged = s1.unionByName(s2).groupBy("r", "p")
      .agg(sum(col("cell")).as("cell")).collect()
      .map(r => ((r.getInt(0), r.getLong(1)), r.getLong(2))).toMap
    assert(merged == full, "shard-sum sketch != full sketch")
    // retractions: adding the negated sketch zeroes every cell
    val negated = full.map { case (k, v) => (k, -v) }
    val cancelled = (full.keySet ++ negated.keySet)
      .map(k => full.getOrElse(k, 0L) + negated.getOrElse(k, 0L))
    assert(cancelled.forall(_ == 0L))
    // estimate quality on the skewed multiset (97 keys ~31 each)
    val est = Sketches.amsF2(Sketches.amsBuild(df, col("k")))
      .head.getDouble(0)
    val exact = rows.groupBy(_._2).map(kv => {
      val n = kv._2.length.toLong; n * n
    }).sum.toDouble
    assert(est > 0.4 * exact && est < 2.5 * exact,
      s"AMS F2 $est vs exact $exact")
  }

  test("jlProject matVec kernel is bit-identical to the composable " +
    "spec and preserves pairwise distances on average") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val m = Similarity.signProjection(64, 16)
    // composable spec: per output row j, a forward-order zip_with fold
    val spec = array(m.map(row =>
      aggregate(zip_with(col("embedding"), typedLit(row.toSeq),
        (x, w) => x.cast("double") * w), lit(0.0), (a, v) => a + v)
    ).toIndexedSeq: _*)
    val cmp = e.select(Similarity.jlProject(col("embedding"), m).as("k"),
        spec.as("s"))
      .where(not(col("k") <=> col("s"))).count()
    assert(cmp == 0L, s"$cmp rows diverge from the composable spec")
    // JL: projected squared distance / k tracks the true squared
    // distance on average (within 15% over sampled pairs)
    val pairs = e.limit(40).select(col("vec_id").as("ia"),
        col("embedding").as("ea"))
      .crossJoin(e.limit(40).select(col("vec_id").as("ib"),
        col("embedding").as("eb")))
      .where(col("ia") < col("ib"))
    val r = pairs.select(
        (VecExpressions.l2sq(Similarity.jlProject(col("ea"), m),
          Similarity.jlProject(col("eb"), m)) / lit(16.0) /
          VecExpressions.l2sq(col("ea"), col("eb"))).as("ratio"))
      .agg(avg("ratio")).head.getDouble(0)
    assert(math.abs(r - 1.0) < 0.15, s"JL mean distance ratio $r")
  }

  test("topRanks + rrfFuse: bounded candidate lists fuse with exact " +
    "reciprocal-rank scores; consensus docs outrank single-list docs") {
    val a = Seq((1L, 0.9), (2L, 0.8), (3L, 0.7)).toDF("id", "s")
    val b = Seq((2L, 0.99), (4L, 0.5), (1L, 0.1)).toDF("id", "s")
    val ra = Ranking.topRanks(a, "s", "id", 2) // ids 1, 2
    val rb = Ranking.topRanks(b, "s", "id", 2) // ids 2, 4
    val fused = Ranking.rrfFuse(ra, rb, "id").collect()
      .map(r => r.getLong(0) ->
        (Option(r.get(1)), Option(r.get(2)), r.getDouble(3))).toMap
    assert(fused.keySet == Set(1L, 2L, 4L))
    // doc 2: rank 2 lexical + rank 1 semantic
    assert(fused(2L) == ((Some(2L), Some(1L), 1.0 / 62 + 1.0 / 61)))
    assert(fused(1L) == ((Some(1L), None, 1.0 / 61)))
    assert(fused(4L) == ((None, Some(2L), 1.0 / 62)))
    // the both-lists doc beats every single-list doc
    assert(fused(2L)._3 > fused(1L)._3 && fused(2L)._3 > fused(4L)._3)
  }

  test("noveltyRate: exact copies of an earlier doc score 0, wholly " +
    "original text scores 1, partial reuse in between") {
    val df = Seq(
      (1L, "a b c d"),  // introduces a_b_c, b_c_d -> 1.0
      (2L, "a b c d"),  // exact copy of doc 1 -> 0.0
      (3L, "a b c e"),  // a_b_c seen, b_c_e new -> 0.5
      (4L, "x y z w"),  // all new -> 1.0
      (5L, "pq")        // no trigrams -> dropped
    ).toDF("doc_id", "text")
    val rates = Dedup.noveltyRate(df, "text", "doc_id")
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(1), r.getLong(2))).toMap
    assert(rates.keySet == Set(1L, 2L, 3L, 4L))
    assert(rates(1L) == ((1.0, 2L)))
    assert(rates(2L) == ((0.0, 2L)))
    assert(rates(3L) == ((0.5, 2L)))
    assert(rates(4L) == ((1.0, 2L)))
  }

  test("dedupedCorpus keeps exactly one full row per signature, the " +
    "min-id representative") {
    val df = docsWithDups
    val out = Dedup.dedupedCorpus(df, "text", "doc_id").collect()
    val groups = Dedup.minhashGroups(df, "text", "doc_id").collect()
    assert(out.length == groups.length)
    val keepIds = groups.map(_.getAs[Long]("keep_id")).toSet
    assert(out.map(_.getAs[Long]("doc_id")).toSet == keepIds)
    // the injected exact duplicates (ids 10000+base) never survive —
    // their originals (base < 10000) are the min-id representatives
    assert(!out.exists { r =>
      val id = r.getAs[Long]("doc_id"); id >= 10000L && id < 20000L
    }, "an exact duplicate survived instead of its original")
  }

  test("native minhash/simhash kernels are bit-identical to their " +
    "composable specs (incl. empty and repeated-token texts)") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
      .unionByName(Seq((900001L, ""), (900002L, "a a a"),
        (900003L, "  leading and  double  spaces "))
        .toDF("doc_id", "text"))
      .cache()
    val fast = Dedup.minhashSignatures(docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) ->
        (0 until Dedup.NumPerms).map(i => r.getLong(1 + i))).toMap
    val spec = Dedup.minhashSignaturesSpec(docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) ->
        (0 until Dedup.NumPerms).map(i => r.getLong(1 + i))).toMap
    assert(fast == spec, "minhash signature mismatch")
    val fastS = Dedup.simhash16(docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val specS = Dedup.simhash16Spec(docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fastS == specS, "simhash mismatch")
  }

  test("bounded TopKAgg matches driver brute force and is partition-" +
    "invariant (mergeable partial buffers)") {
    val embDf = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
      .limit(80).cache()
    val vecs = embDf.collect().map(r => (r.getLong(0),
      r.getSeq[Float](r.fieldIndex("embedding")).map(_.toDouble).toArray))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var (d, na, nb) = (0.0, 0.0, 0.0); var i = 0
      while (i < a.length) {
        d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      d / math.sqrt(na * nb)
    }
    def run(df: org.apache.spark.sql.DataFrame) =
      Similarity.cosineTopK(df, "vec_id", "embedding", 3)
        .collect().map { r =>
          r.getLong(0) -> r.getSeq[org.apache.spark.sql.Row](1)
            .map(s => (s.getDouble(0), s.getLong(1)))
        }.toMap
    val got = run(embDf)
    val gotRep = run(embDf.repartition(7))
    vecs.foreach { case (id, v) =>
      val want = vecs.filter(_._1 != id)
        .map(o => (cos(v, o._2), o._1)).sortBy(-_._1).take(3)
      val g = got(id)
      assert(g.length == 3, s"vec $id: ${g.length} results")
      g.zip(want).foreach { case ((gs, _), (ws, _)) =>
        assert(math.abs(gs - ws) < 1e-12, s"vec $id score $gs vs $ws")
      }
      // partition layout must not change the scores
      gotRep(id).zip(g).foreach { case ((a, _), (b, _)) =>
        assert(a == b, s"vec $id: partition-dependent topk")
      }
    }
  }

  test("knnGraph: k-bounded out-degree, mutual flag is the exact " +
    "symmetric-edge predicate, and no rank Window in the plan") {
    val embDf = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet").cache()
    val g = Similarity.knnGraph(embDf, "vec_id", "embedding", k = 3)
      .cache()
    val edges = g.select("src", "dst", "mutual").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getBoolean(2))).toMap
    assert(edges.nonEmpty)
    // mutual(u,v) == edge (v,u) also present — for EVERY edge
    edges.foreach { case ((u, v), m) =>
      assert(m == edges.contains((v, u)), s"mutual flag wrong on ($u,$v)")
    }
    // out-degree bounded by k
    val deg = g.groupBy("src").count()
      .agg(max(col("count"))).head.getLong(0)
    assert(deg <= 3, s"out-degree $deg exceeds k")
    // ranks are 1..deg(src) descending by cosine
    val badRank = g.groupBy("src")
      .agg(count(lit(1)).as("n"), max(col("rank")).as("mx"),
        min(col("rank")).as("mn"))
      .where(col("mx") =!= col("n") || col("mn") =!= 1)
      .count()
    assert(badRank == 0, "ranks must be a dense 1..n per node")
    val plan = Similarity.knnGraph(embDf, "vec_id", "embedding", 3)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"no rank Window allowed:\n$plan")
    assert(plan.contains("top_k"), s"expected bounded TopKAgg:\n$plan")
  }

  test("kmeansIterate reduces inertia and the fixed-point centroid " +
    "update is partition-invariant") {
    val embDf = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet").cache()
    val c0 = Similarity.collectCentroids(
      embDf.orderBy("vec_id").limit(8)
        .select(col("vec_id").as("cid"), col("embedding").as("cemb")))
    def inertia(cents: Array[(Long, Seq[Double])]): Double =
      Similarity.cellAssignmentsWithDist(embDf, "vec_id", "embedding", cents)
        .agg(avg(col("dist"))).head.getDouble(0)
    val i0 = inertia(c0)
    val c1 = Similarity.kmeansIterate(embDf, "vec_id", "embedding", c0, 1)
    val i1 = inertia(c1)
    val c2 = Similarity.kmeansIterate(embDf, "vec_id", "embedding", c0, 2)
    val i2 = inertia(c2)
    assert(i1 < i0, s"one Lloyd round did not reduce inertia: $i0 -> $i1")
    assert(i2 <= i1 + 1e-12, s"second round regressed: $i1 -> $i2")
    // exact int64 sums → bit-identical centroids under any partitioning
    val c1rep = Similarity.kmeansIterate(embDf.repartition(13),
      "vec_id", "embedding", c0, 1)
    assert(c1.map(_._1).toSeq == c1rep.map(_._1).toSeq)
    c1.zip(c1rep).foreach { case ((_, a), (_, b)) =>
      a.zip(b).foreach { case (x, y) =>
        assert(x == y, "partition-dependent centroid")
      }
    }
  }

  test("native stopword-counts kernel matches the composable " +
    "filter/array_contains spec per language") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
      .unionByName(Seq((910001L, ""), (910002L, "the the und la 的"))
        .toDF("doc_id", "text"))
    TextAnalysis.LangPriority.foreach { lang =>
      val rows = docs.select(col("doc_id"),
        TextAnalysis.stopwordCount(col("text"), lang).as("fast"),
        TextAnalysis.stopwordCountSpec(col("text"), lang).as("spec"))
        .collect()
      rows.foreach(r => assert(r.getLong(1) == r.getInt(2).toLong,
        s"$lang mismatch for doc ${r.getLong(0)}"))
    }
  }

  test("stopwordCount rejects an unknown language clearly") {
    val ex = intercept[IllegalArgumentException] {
      TextAnalysis.stopwordCount(col("text"), "xx")
    }
    assert(ex.getMessage.contains("unknown language"))
  }

  test("langId returns a label from the priority set and is deterministic") {
    val preds = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(TextAnalysis.langId(col("text")).as("p")).distinct()
      .collect().map(_.getString(0)).toSet
    assert(preds.subsetOf(TextAnalysis.LangPriority.toSet + "und"))
  }

  test("Bloom positions are total over the FULL long range: negative " +
    "keys round-trip build -> probe with zero false negatives and " +
    "kernel == spec (a plain % would set no bit on build but probe a " +
    "real bit — a silent false negative)") {
    val keys = Seq(-1L, -5L, Long.MinValue + 7L, -999999999999L, 3L, 0L)
    val in = keys.toDF("k")
    val bits = Bloom.build(in, "k", 1 << 12, 5)
    val probed = in
      .withColumn("hit", Bloom.mightContain(bits, col("k"), 1 << 12, 5))
      .withColumn("hitSpec",
        Bloom.mightContainSpec(bits, col("k"), 1 << 12, 5))
      .collect()
    probed.foreach { r =>
      assert(r.getBoolean(1), s"false negative for key ${r.getLong(0)}")
      assert(r.getBoolean(1) == r.getBoolean(2), s"kernel != spec: $r")
    }
  }

  test("Bloom filter has zero false negatives and a small fp rate; " +
    "bloom-prefiltered incremental dedup equals the exact path") {
    val keys = (0L until 2000L).map(i => (i * 2654435761L) % (1L << 45))
    val in = keys.toDF("k")
    val bits = Bloom.build(in, "k", 1 << 16, 5)
    val probeSet = keys.map(k => (k, true)) ++
      (0L until 2000L).map(i => ((i * 40503L + 7L) % (1L << 45), false))
    val probed = probeSet.toDF("k", "inserted")
      .withColumn("hit", Bloom.mightContain(bits, col("k"), 1 << 16, 5))
      .withColumn("hitSpec",
        Bloom.mightContainSpec(bits, col("k"), 1 << 16, 5))
    // native kernel ≡ composable column spec, bit for bit
    assert(probed.where(col("hit") =!= col("hitSpec")).count() == 0)
    val got = probed
      .collect().map(r => (r.getBoolean(1), r.getBoolean(2)))
    assert(got.filter(_._1).forall(_._2), "false negative!")
    val fps = got.filter(!_._1).count(_._2)
    assert(fps < 100, s"fp rate too high: $fps/2000") // ~1% expected
    // prefiltered incremental dedup: identical survivors to exact path
    val corpus = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").limit(40).cache()
    val rows = corpus.limit(3).collect().map(r =>
      (r.getLong(0), r.getString(1)))
    val batch = (rows.map { case (id, t) => (id + 70000L, t) } ++
      Seq((80001L, "fresh text about pulsars"),
        (80002L, "entirely new document here"))).toSeq
      .toDF("doc_id", "text")
    val exact = Dedup.newAgainstCorpus(batch, corpus, "text", "doc_id")
      .collect().map(_.getAs[Long]("doc_id")).toSet
    val fast = Dedup.newAgainstCorpusBloom(batch, corpus, "text", "doc_id")
    val fastIds = fast.collect().map(_.getAs[Long]("doc_id")).toSet
    assert(fastIds == exact, s"bloom path $fastIds != exact $exact")
    // every bloom-proven row is genuinely new
    val proven = fast.where(col("bloom_new"))
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(proven.subsetOf(exact))
    corpus.unpersist()
  }

  test("sharded Bloom index: zero false negatives per shard, the " +
    "table bits equal per-shard Bloom.build arrays, and absent keys " +
    "only ever produce false positives") {
    val m = 1 << 10 // small filter so fps actually occur
    val kh = 5
    val n = 1200
    val keyed = (0L until n.toLong)
      .map(i => ((i * 2654435761L) % (1L << 45), (i % 8).toInt))
      .toDF("k", "shard")
    val index = Bloom.shardIndex(keyed, "shard", "k", m, kh).cache()
    // table bits == the monolithic build of each shard's key set
    val words = index.collect()
      .map(r => (r.getInt(0), r.getLong(1).toInt) -> r.getLong(2)).toMap
    (0 until 8).foreach { sh =>
      val bits = Bloom.build(keyed.where(col("shard") === sh), "k", m, kh)
      bits.zipWithIndex.foreach { case (w, i) =>
        assert(words.getOrElse((sh, i), 0L) == w, s"shard $sh word $i")
      }
    }
    val present = keyed.select(col("k"), col("shard").as("true_shard"))
    val cand = Bloom.probeShards(index, keyed.select("k"), "k", m, kh)
    val candSet = cand.collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    // no false negatives: every (key, true shard) is a candidate
    present.collect().foreach { r =>
      assert(candSet((r.getLong(0), r.getInt(1))),
        s"missed true shard for ${r.getLong(0)}")
    }
    // absent keys: candidates are pure false positives, and at this
    // deliberately tiny m there are SOME (the measuring regime) but
    // far fewer than the 8x all-shards worst case
    val absent = (0L until n.toLong)
      .map(i => (i * 40503L + 11L) % (1L << 45)).toDF("k")
    val fps = Bloom.probeShards(index, absent, "k", m, kh).count()
    assert(fps > 0, "tiny filter should show measurable fps")
    assert(fps < n.toLong * 8 / 4, s"fp pairs $fps out of ${n * 8}")
    index.unpersist()
  }

  test("luhnValid accepts real card-shaped numbers and rejects " +
    "off-by-one check digits; digitRuns keeps maximal-run semantics") {
    // 4532015112830366 is a canonical Luhn-valid test number
    val rows = Seq(
      ("4532015112830366", true),
      ("4532015112830367", false), // off-by-one check digit
      ("79927398713", true), // the classic Luhn example (11 digits)
      ("79927398710", false),
      ("0000000000000000", true) // all zeros sums to 0
    ).toDF("r", "want")
    val got = rows.select(col("r"), col("want"),
        TextAnalysis.luhnValid(col("r")).as("ok")).collect()
    got.foreach(r => assert(r.getBoolean(2) == r.getBoolean(1),
      s"luhn(${r.getString(0)})"))
    // maximal runs: a 20-digit run is NOT a 13..19 candidate; runs
    // split by non-digits are separate candidates
    val t = Seq("x 45320151128303669999 y 4532015112830366 12 " +
      "1234567890123").toDF("text")
    val runs = t.select(
        TextAnalysis.digitRuns(col("text"), 13, 19).as("rs"))
      .head().getSeq[String](0)
    assert(runs == Seq("4532015112830366", "1234567890123"), s"$runs")
  }

  test("contamination flags a planted benchmark leak at rate 1.0 and " +
    "clean synthetic docs at 0.0") {
    val bench = Seq(
      (1L, "unique eval question alpha beta gamma delta epsilon"),
      (2L, "another held out probe zeta eta theta iota"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (10L, "unique eval question alpha beta gamma delta epsilon"), // leak
      (11L, "totally fresh training text qq ww ee rr tt yy"),       // clean
      (12L, "prefix words then unique eval question alpha beta"))   // partial
      .toDF("doc_id", "text")
    val r = Dedup.contamination(corpus, bench, "text", "doc_id")
      .collect().map(x => x.getLong(0) ->
        (x.getLong(1), x.getLong(2), x.getDouble(3))).toMap
    assert(r(10L)._3 == 1.0, s"full leak should be 1.0: ${r(10L)}")
    assert(r(11L)._3 == 0.0, s"clean doc should be 0.0: ${r(11L)}")
    assert(r(12L)._3 > 0.0 && r(12L)._3 < 1.0,
      s"partial overlap strictly between: ${r(12L)}")
    // shared trigrams: (unique,eval,question), (eval,question,alpha),
    // (question,alpha,beta) — the leaked 5-word span yields exactly 3
    assert(r(12L)._2 == 3L)
  }

  test("temperatureSample flattens the domain mixture: rare domains " +
    "keep a higher rate than abundant ones, capped at 1.0") {
    val rows = ((0 until 900).map(i => (i.toLong, "big")) ++
      (0 until 100).map(i => (1000L + i, "small"))).toDF("id", "dom")
    val kept = Sampling.temperatureSample(rows, "id", "dom",
      alpha = 0.5, targetRows = 500.0)
    val rates = kept.groupBy("dom")
      .agg(min(col("sample_rate")).as("r"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // alpha=0.5: weights prop to sqrt(0.9), sqrt(0.1) → small domain's
    // PER-ROW keep rate must exceed the big domain's
    assert(rates("small") > rates("big"),
      s"small ${rates("small")} should exceed big ${rates("big")}")
    assert(rates.values.forall(r => r > 0.0 && r <= 1.0))
    // deterministic: same call keeps the same rows
    val a = kept.select("id").collect().map(_.getLong(0)).toSet
    val b = Sampling.temperatureSample(rows, "id", "dom", 0.5, 500.0)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(a == b)
  }

  test("CMS never underestimates, is exact on a zipf head, and " +
    "shard sketches merge by cell-wise sum") {
    // zipf-ish multiset: key k appears (200 - k) times, k in [0, 200)
    val rows = (0L until 200L).flatMap(k =>
      Seq.fill((200 - k).toInt)(k)).toDF("k")
    val sketch = Sketches.cmsBuild(rows, col("k"))
    val probes = rows.select("k").distinct()
    val est = Sketches.cmsEstimate(probes, "k", sketch)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0L until 200L).foreach { k =>
      val exact = 200L - k
      assert(est(k) >= exact, s"CMS underestimated key $k")
    }
    // 40200 items into 4x1024 cells: the head keys should be exact
    assert(est(0L) == 200L && est(1L) == 199L)
    // mergeability: shard sketches sum to the whole sketch
    def cells(df: org.apache.spark.sql.DataFrame) =
      Sketches.cmsBuild(df, col("k")).collect()
        .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val whole = cells(rows)
    val a = cells(rows.where(col("k") < 100))
    val b = cells(rows.where(col("k") >= 100))
    val merged = (a.keySet ++ b.keySet).map { c =>
      c -> (a.getOrElse(c, 0L) + b.getOrElse(c, 0L)) }.toMap
    assert(merged == whole)
  }

  test("histogram quantiles: exact on a uniform grid, within a bucket " +
    "width of the true percentile, and shard histograms merge by sum") {
    // 0..9999 uniformly: true p-quantile of the continuous fit is
    // 10000p; with [0,10000)/100 buckets each estimate lands within
    // one 100-wide bucket of it
    val rows = spark.range(10000L).select(col("id").cast("double").as("x"))
    val q = Sketches.histogramQuantiles(rows, col("x"), 0.0, 10000.0,
      100, Seq(0.5, 0.9, 0.99)).head()
    assert(q.getLong(0) == 10000L)
    Seq((2, 5000.0), (3, 9000.0), (4, 9900.0)).foreach { case (i, want) =>
      assert(math.abs(q.getDouble(i) - want) <= 100.0,
        s"quantile $i: ${q.getDouble(i)} vs $want")
    }
    // mergeability: shard histograms sum cell-wise to the whole
    def cells(df: org.apache.spark.sql.DataFrame) =
      Sketches.histogram(df, col("x"), 0.0, 10000.0, 100)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val whole = cells(rows)
    val a = cells(rows.where(col("x") < 3000))
    val b = cells(rows.where(col("x") >= 3000))
    val merged = (a.keySet ++ b.keySet).map { c =>
      c -> (a.getOrElse(c, 0L) + b.getOrElse(c, 0L)) }.toMap
    assert(merged == whole)
    // out-of-range values clamp into the edge buckets, not vanish
    val clamped = Sketches.histogram(
      Seq(-5.0, 20000.0).toDF("x"), col("x"), 0.0, 10000.0, 100)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clamped == Map(0L -> 1L, 99L -> 1L))
  }

  test("HLL estimates 20k distinct keys within 3 sigma and register " +
    "arrays merge by max across shards") {
    val n = 20000L
    // keys with duplicates (each value appears ~3x): HLL must count
    // distinct values, not rows
    val keys = spark.range(3 * n).select((col("id") % n).as("k"))
    val est = Sketches.hllCardinality(keys, col("k"))
      .head().getDouble(0)
    // b=10 → relative error sigma = 1.04/sqrt(1024) = 3.25%
    assert(math.abs(est - n) / n < 3 * 0.0325,
      s"estimate $est too far from $n")
    // mergeability: per-shard registers max-merged == whole registers
    val (bucket, rho) = Sketches.hllParts(col("k"), 10)
    def regs(df: org.apache.spark.sql.DataFrame) =
      df.select(bucket.as("b"), rho.as("r")).groupBy("b")
        .agg(max(col("r")).as("mr"))
        .collect().map(x => x.getLong(0) -> x.getInt(1)).toMap
    val whole = regs(keys)
    val shardA = regs(keys.where(col("k") % 2 === 0))
    val shardB = regs(keys.where(col("k") % 2 =!= 0))
    val merged = (shardA.keySet ++ shardB.keySet).map { b =>
      b -> math.max(shardA.getOrElse(b, 0), shardB.getOrElse(b, 0))
    }.toMap
    assert(merged == whole)
  }

  test("HLL set algebra: union estimate tracks |A ∪ B| and the " +
    "inclusion-exclusion intersection tracks the planted overlap — " +
    "all from register tables, never rescanning the data") {
    // A = [0, 12k), B = [8k, 20k): |A|=12k, |B|=12k, |A∩B|=4k, |A∪B|=20k
    val rows = spark.range(20000L).select(col("id"),
        when(col("id") < 12000L, lit("A")).otherwise(lit("Z")).as("ga"),
        when(col("id") >= 8000L, lit("B")).otherwise(lit("Z")).as("gb"))
    val tagged = rows.select(col("ga").as("grp"), col("id"))
      .where(col("grp") === "A")
      .unionByName(rows.select(col("gb").as("grp"), col("id"))
        .where(col("grp") === "B"))
    val regs = Sketches.hllRegistersBy(tagged, col("grp"), col("id"))
    val out = Sketches.hllSetAlgebra(regs).collect()
    assert(out.length == 1)
    val r = out.head
    val (ca, cb, cu, ci) = (r.getDouble(2), r.getDouble(3),
      r.getDouble(4), r.getDouble(5))
    // b=10 sigma = 3.25%; the intersection is a difference of three
    // estimates, so give it 3 sigma of the UNION size
    assert(math.abs(ca - 12000) / 12000 < 3 * 0.0325, s"A $ca")
    assert(math.abs(cb - 12000) / 12000 < 3 * 0.0325, s"B $cb")
    assert(math.abs(cu - 20000) / 20000 < 3 * 0.0325, s"U $cu")
    assert(math.abs(ci - 4000) < 3 * 0.0325 * 3 * 20000, s"I $ci")
    // union consistency: the union estimate from merged registers
    // equals the direct estimate of the concatenated key set
    val direct = Sketches.hllCardinality(
      tagged.select("id"), col("id")).head.getDouble(0)
    assert(math.abs(cu - direct) < 1e-9,
      "register-max union must equal the direct union sketch")
  }

  test("bigram-LM perplexity ranks repeated in-distribution text " +
    "below gibberish, and scores unseen held-out bigrams finitely") {
    val base = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val common = base.limit(1).collect()(0).getString(1)
    val train = base.unionByName(Seq(
      (40001L, common), (40002L, common), (40003L, common))
      .toDF("doc_id", "text"))
    val lm = NgramLm.train(train, "text", "doc_id")
    assert(lm.vocab > 0)
    val probe = Seq(
      (1L, common),                                   // seen many times
      (2L, "zq xv qj wk vx kq jz xz vq kw zj qx"))    // gibberish
      .toDF("doc_id", "text")
    val scores = NgramLm.perplexity(probe, "text", "doc_id", lm)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(scores(1L) < scores(2L),
      s"common ${scores(1L)} should beat gibberish ${scores(2L)}")
    assert(scores.values.forall(v => !v.isNaN && !v.isInfinite))
    // unseen prefix hits the pure add-one floor −ln(1/(0+V)) = ln V
    assert(math.abs(scores(2L) - math.log(lm.vocab.toDouble)) < 1e-9)
  }

  test("scrubPii redacts URLs before emails/digits and counts on the " +
    "original text") {
    val rows = Seq(
      (1L, "mail alice@example.com and visit https://x.io/a?id=1234567 ok"),
      (2L, "digits 12345678901 and 123456 and 1234567"),
      (3L, "clean text with no pii at all"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), TextAnalysis.scrubPii(col("text")).as("s"),
        TextAnalysis.emailCount(col("text")).as("ne"),
        TextAnalysis.urlCount(col("text")).as("nu"),
        TextAnalysis.digitRunCount(col("text")).as("nd"))
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(rows(1L)._1 == "mail <EMAIL> and visit <URL> ok")
    assert((rows(1L)._2, rows(1L)._3) == (1L, 1L))
    assert(rows(1L)._4 == 1L) // digit run inside the URL, counted on original
    assert(rows(2L)._1 == "digits <NUM> and 123456 and <NUM>")
    assert(rows(2L)._4 == 2L)
    assert(rows(3L) == ("clean text with no pii at all", 0L, 0L, 0L))
    // structured numeric forms claim their spans before the digit sweep
    val more = Seq(
      (4L, "call 555-867-5309 or 555 123 4567 now"),
      (5L, "host 10.0.42.1 and padded 192.168.001.255 up"),
      (6L, "raw 5558675309 stays a digit run"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), TextAnalysis.scrubPii(col("text")).as("s"),
        TextAnalysis.phoneCount(col("text")).as("np"),
        TextAnalysis.ipv4Count(col("text")).as("ni"))
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    assert(more(4L) == (("call <PHONE> or <PHONE> now", 2L, 0L)))
    assert(more(5L) == (("host <IP> and padded <IP> up", 0L, 2L)))
    assert(more(6L) == (("raw <NUM> stays a digit run", 0L, 0L)))
  }

  test("bm25 favors rare terms and saturates with tf; non-matching " +
    "docs are absent") {
    val docs = Seq(
      (1L, "rare common common common filler filler filler filler"),
      (2L, "common filler filler filler filler filler filler filler"),
      (3L, "common common common common common common common common"),
      (4L, "filler filler filler filler filler filler filler filler"),
      (5L, "nothing matching here at all in this document text"))
      .toDF("doc_id", "text")
    val sc = Ranking.bm25(docs, "text", "doc_id", Seq("rare", "common"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(!sc.contains(4L) && !sc.contains(5L))
    // doc 1 holds the only 'rare' occurrence → top score
    assert(sc(1L) > sc(2L) && sc(1L) > sc(3L))
    // tf saturation: 8x 'common' beats 1x but by far less than 8x
    assert(sc(3L) > sc(2L) && sc(3L) < 8.0 * sc(2L))
  }

  test("embeddingClusters links oversize buckets linearly and closes " +
    "transitive chains within a bucket; coverage is exactly once") {
    val base = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select("vec_id", "embedding")
    val dim = base.head().getSeq[Float](1).length
    // family A: 40 exact copies — identical vectors share a bucket by
    // construction, 40 > cap ⇒ the oversize member→min path links them
    val copyV = {
      val v = Array.fill(dim)(0.0f); v(2) = 0.6f; v(3) = 0.8f; v.toSeq }
    val famA = (0 until 40).map(k => (90000L + k, copyV))
    // family B: 3 near-collinear rotations — adjacent cos ≈ 0.9997
    // passes t, endpoints cos ≈ 0.9988 fails it ⇒ only the closure
    // puts all three together (they share a bucket: ~collinear)
    val famB = (0 until 3).map { k =>
      val theta = k * 0.025
      val v = Array.fill(dim)(0.0f)
      v(2) = (0.6 * math.cos(theta) - 0.8 * math.sin(theta)).toFloat
      v(3) = (0.8 * math.cos(theta) + 0.6 * math.sin(theta)).toFloat
      (91000L + k, v.toSeq)
    }
    val df = base.unionByName((famA ++ famB).toDF("vec_id", "embedding"))
    val cl = Similarity.embeddingClusters(df, "vec_id", "embedding",
      threshold = 0.9995, nBits = 6, maxBucket = 30)
    val aCl = cl.where(col("vec_id") >= 90000L && col("vec_id") < 90040L)
      .collect().map(_.getLong(1)).toSet
    assert(aCl.size == 1, s"copies should share one cluster, got $aCl")
    val bCl = cl.where(col("vec_id") >= 91000L)
      .collect().map(_.getLong(1)).toSet
    assert(bCl.size == 1, s"chain should share one cluster, got $bCl")
    assert(cl.count() == df.count())
    assert(cl.select("vec_id").distinct().count() == df.count())
  }

  /** Local union-find oracle for connected components. */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // relabel every root to the component MINIMUM (union by min above
    // already guarantees the root is the min)
    parent.keys.map(k => k -> find(k)).toMap
  }

  test("connectedComponents matches a union-find oracle on a " +
    "deterministic random graph, a long chain, and stars") {
    // long chain (diameter 40 — the label-propagation killer),
    // two stars, a clique, isolated pairs, plus pseudo-random edges
    val chain = (0L until 40L).map(i => (i + 100L, i + 101L))
    val star = (1L to 10L).map(i => (500L, 500L + i))
    val clique = for (a <- 600L to 605L; b <- (a + 1) to 605L) yield (a, b)
    var x = 48271L
    val rand = (0 until 60).map { _ =>
      x = (x * 48271L) % 2147483647L
      val a = 700L + (x % 50L); x = (x * 48271L) % 2147483647L
      (a, 700L + (x % 50L))
    }.filter(p => p._1 != p._2)
    val edges = chain ++ star ++ clique ++ rand ++ Seq((900L, 901L))
    val expect = unionFind(edges)
    val got = Dedup.connectedComponents(
        edges.toDF("a", "b"), "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expect, s"diff: ${(got.toSet diff expect.toSet).take(5)} " +
      s"/ ${(expect.toSet diff got.toSet).take(5)}")
    // chain collapsed to one component rooted at its min
    assert((100L to 140L).forall(got(_) == 100L))
  }

  test("connectedComponents localContract round 0: duplicate edges, " +
    "cross-partition chains and sentinel-extreme ids land on the " +
    "union-find oracle") {
    // chain spread one-edge-per-partition (repartition(16) on 15
    // edges): the partition-local union-find sees NO local structure
    // and must leave all collapsing to the keyed contraction rounds
    val chain = (0L until 15L).map(i => (i, i + 1L))
    // heavy duplication (every edge 7×, both orientations) with NO
    // upstream distinct — the contraction is the only dedup left
    val dups = (1 to 7).flatMap(_ =>
      Seq((20L, 21L), (21L, 20L), (21L, 22L), (22L, 21L)))
    // Long.MinValue is the parent table's EMPTY sentinel; it must
    // still work as a real node id (dedicated scalar slot)
    val extreme = Seq((Long.MinValue, 30L), (30L, 31L),
      (Long.MaxValue, 40L))
    val edges = chain ++ dups ++ extreme
    val expect = unionFind(edges)
    val got = Dedup.connectedComponents(
        edges.toDF("a", "b").repartition(16), "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expect, s"diff: ${(got.toSet diff expect.toSet).take(5)} " +
      s"/ ${(expect.toSet diff got.toSet).take(5)}")
    assert(got(31L) == Long.MinValue) // min-id root through the sentinel
  }

  test("minhashClusters collapses transitive near-dup chains that " +
    "pairwise grouping cannot") {
    val base = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    // a chain of near-dups: each step rewrites a different small slice
    // of a long template, so A~B and B~C collide but A and C need not
    val words = (0 until 60).map(i => s"w$i")
    val chain = (0 until 6).map { k =>
      val toks = words.zipWithIndex.map { case (w, i) =>
        if (i >= k * 8 && i < k * 8 + 8) s"x${k}_$i" else w }
      (30000L + k, toks.mkString(" "))
    }
    val df = base.unionByName(chain.toDF("doc_id", "text"))
    val clusters = Dedup.minhashClusters(df, "text", "doc_id",
      maxBucket = 50)
    val chainClusters = clusters
      .where(col("doc_id") >= 30000L && col("doc_id") < 30006L)
      .collect().map(_.getLong(1)).toSet
    assert(chainClusters == Set(30000L),
      s"chain should be one cluster rooted at 30000, got $chainClusters")
    // cluster map covers every doc with tokens, exactly once
    val sigs = Dedup.minhashSignatures(df, "text", "doc_id")
    assert(clusters.count() == sigs.count())
    assert(clusters.select("doc_id").distinct().count() == clusters.count())
  }

  test("canonicalPerCluster keeps the highest-score member, ties to " +
    "the lowest id, and counts members — vs a driver fold") {
    import spark.implicits._
    val rows = Seq(
      (1L, 10L, 5L), (1L, 11L, 9L), (1L, 12L, 9L), // tie at 9 → id 11
      (2L, 20L, 3L),                               // singleton
      (3L, 31L, 1L), (3L, 30L, 7L))
      .toDF("cluster_id", "doc_id", "score")
    val got = Dedup.canonicalPerCluster(rows, "cluster_id", "doc_id",
      col("score")).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(got == Map(1L -> (11L, 9L, 3L), 2L -> (20L, 3L, 1L),
      3L -> (30L, 7L, 2L)))
    // partition invariance (struct-max is order-free)
    val got7 = Dedup.canonicalPerCluster(rows.repartition(7), "cluster_id",
      "doc_id", col("score")).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(got7 == got)
  }

  test("vocabulary matches a driver-side count and probes the top set " +
    "via broadcast") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val naive = d.select("text").as[String].collect()
      .flatMap(_.split(" ")).groupBy(identity)
      .map { case (t, xs) => (t, xs.length.toLong) }
    val naiveDf = d.select("doc_id", "text").as[(Long, String)].collect()
      .flatMap { case (id, t) => t.split(" ").distinct.map(_ -> id) }
      .groupBy(_._1).map { case (t, xs) => (t, xs.length.toLong) }
    val top = TextAnalysis.vocabulary(d, "doc_id", "text",
      minCount = 5L, topV = 30)
    val got = top.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.length == 30)
    got.foreach { case (tok, tf, df) =>
      assert(naive(tok) == tf, s"tf($tok)")
      assert(naiveDf(tok) == df, s"df($tok)")
    }
    // the cutoff is the true frequency order (ties broken by hash —
    // just check no excluded token beats the included minimum)
    val minTf = got.map(_._2).min
    val included = got.map(_._1).toSet
    naive.filter { case (t, c) => !included.contains(t) }
      .foreach { case (t, c) => assert(c <= minTf, s"$t excluded at $c") }
    top.collect()
    assert(top.queryExecution.executedPlan.toString
      .contains("BroadcastHashJoin"),
      "vocabulary: spelling recovery must probe a broadcast top set")
  }

  test("chunks: strided windows cover every token exactly, overlap by " +
    "window-stride, the last chunk reaches the end, and short docs " +
    "yield one chunk") {
    import spark.implicits._
    val text = (1 to 100).map(i => s"w$i").mkString(" ")
    val rows = Seq((1L, text), (2L, "a b c"), (3L, "solo"))
      .toDF("doc_id", "text")
    val ch = TextAnalysis.chunks(rows, "text", "doc_id", 32, 24)
      .orderBy("doc_id", "chunk_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3)))
    val doc1 = ch.filter(_._1 == 1L)
    // starts 0,24,48,72 -> 4 chunks; ceil((100-32)/24)+1 = 4
    assert(doc1.length == 4)
    doc1.zipWithIndex.foreach { case ((_, cid, chunk, nTok), i) =>
      assert(cid == i)
      val toks = chunk.split(" ")
      assert(toks.length == nTok)
      assert(toks.head == s"w${i * 24 + 1}", s"chunk $i start")
    }
    assert(doc1.last._4 == 100 - 72, "last chunk exactly reaches the end")
    // overlap: chunk i's tail tokens reappear at chunk i+1's head
    val c0 = doc1(0)._3.split(" "); val c1 = doc1(1)._3.split(" ")
    assert(c0.drop(24).sameElements(c1.take(8)))
    // short docs produce exactly one whole-doc chunk
    assert(ch.filter(_._1 == 2L).toSeq == Seq((2L, 0, "a b c", 3L)))
    assert(ch.filter(_._1 == 3L).toSeq == Seq((3L, 0, "solo", 1L)))
    // union of distinct tokens across chunks covers the doc exactly
    val covered = doc1.flatMap(_._3.split(" ")).toSet
    assert(covered == (1 to 100).map(i => s"w$i").toSet)
  }

  test("matryoshka truncation: prefix-dim top-1 agrees with the full-" +
    "dim truth for most queries, and full-dim cosine upper-bounds the " +
    "agreement pair's quality") {
    val out = graft.SparkEntry.queries("q_embed_matryoshka")(spark,
      "/root/testdata/sf0.001").collect()
    assert(out.length == 11, "one row per query vector (ids 0..10)")
    out.foreach { r =>
      // agree is exactly the id-equality flag, cosines are cosines
      assert(r.getAs[Long]("agree") ==
        (if (r.getAs[Long]("full_id") == r.getAs[Long]("trunc_id")) 1L
         else 0L))
      Seq("full_cos", "trunc_cos").foreach { c =>
        val v = r.getAs[Double](c)
        assert(v >= -1.0001 && v <= 1.0001, s"$c out of range: $v")
      }
    }
    // untrained synthetic embeddings carry no Matryoshka structure, so
    // agreement is weak — the diagnostic must REPORT that, and must do
    // so deterministically
    val again = graft.SparkEntry.queries("q_embed_matryoshka")(spark,
      "/root/testdata/sf0.001").collect()
    assert(out.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
  }

  test("zipf fit: natural-ish corpus slope is negative and the " +
    "intercept tops the curve") {
    val r = graft.SparkEntry.queries("q_text_zipf")(spark,
      "/root/testdata/sf0.001").head()
    // sf0.001's template corpus has a small vocabulary: v = min(100, |V|)
    assert(r.getAs[Long]("v") >= 20 && r.getAs[Long]("v") <= 100)
    val slope = r.getAs[Double]("zipf_slope")
    assert(slope < -0.05, s"token frequencies should decay with rank: $slope")
    assert(r.getAs[Double]("zipf_intercept") > 0.0,
      "ln(tf) at rank 1 must be positive on any non-trivial corpus")
  }

  test("connectedComponents equals a union-find oracle on random " +
    "graphs (uniform, hub-skewed, chain) under arbitrary " +
    "repartitioning") {
    val rnd = new scala.util.Random(7)
    for (trial <- 0 until 4) {
      val n = 60 + rnd.nextInt(80)
      val edges = (0 until n * 2).map { _ =>
        val a = rnd.nextInt(n)
        val b = rnd.nextInt(3) match {
          case 0 => rnd.nextInt(n)   // uniform
          case 1 => rnd.nextInt(5)   // hub-heavy: one big skewed comp
          case _ => (a + 1) % n      // chain: the diameter stressor
        }
        (a.toLong + 1000L, b.toLong + 1000L)
      }.filter(e => e._1 != e._2)
      // union-find oracle; attaching the larger root under the smaller
      // keeps every component's root at its minimum id — exactly the
      // operator's component label contract
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x
        else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val want = edges.flatMap(e => Seq(e._1, e._2)).distinct
        .map(x => x -> find(x)).toMap
      val df = edges.toDF("id_a", "id_b").repartition(3 + trial * 2)
      val got = Dedup.connectedComponents(df, "id_a", "id_b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"trial $trial: components diverge")
    }
  }
}
