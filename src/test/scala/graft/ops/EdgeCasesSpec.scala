package graft.ops

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Degenerate-input behavior: every operator must return a defined,
  * empty-or-identity result on empty frames and single rows instead
  * of throwing — the property that keeps incremental pipelines alive
  * when an ingest batch, partition, or filtered corpus comes up empty. */
class EdgeCasesSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private lazy val noDocs = spark.read
    .parquet("/root/testdata/sf0.001/documents.parquet")
    .where(lit(false))

  test("round-6 ops on degenerate input: empty lists fuse to empty, " +
    "unseeded propagation stays null, short docs carry no novelty, " +
    "empty graphs and sketches produce defined rows") {
    // RRF of two empty candidate lists
    val noScores = Seq.empty[(Long, Double)].toDF("id", "s")
    val ra = Ranking.topRanks(noScores, "s", "id", 5)
    assert(ra.count() == 0)
    assert(Ranking.rrfFuse(ra, ra, "id").count() == 0)
    // label propagation with an empty seed set: every label stays null
    val lp = GraphRank.labelPropagate(
      Seq((1L, 2L), (2L, 3L)).toDF("src", "dst"), "src", "dst",
      Seq.empty[(Long, Int)].toDF("node", "label"), "node", "label", 2)
      .collect()
    assert(lp.length == 3 && lp.forall(_.isNullAt(1)))
    // novelty: docs too short for a trigram simply vanish
    val short = Seq((1L, "just two"), (2L, "one")).toDF("doc_id", "text")
    assert(Dedup.noveltyRate(short, "text", "doc_id").count() == 0)
    // triangle stats on an empty edge list: one defined row of zeros
    // on EVERY column (max_deg/n_wedges were null aggs before round 7)
    val ts = GraphRank.triangleStats(
      Seq.empty[(Long, Long)].toDF("src", "dst"), "src", "dst").head()
    assert(ts.getLong(0) == 0 && ts.getLong(1) == 0 &&
      ts.getLong(2) == 0 && ts.getLong(3) == 0 &&
      ts.getLong(4) == 0 && ts.getDouble(5) == 0.0)
    // PageRank of an empty graph: empty frame, not a throw
    assert(GraphRank.pageRankInt(
      Seq.empty[(Long, Long)].toDF("src", "dst"), "src", "dst",
      iters = 3).count() == 0)
    // duplicate seed rows collapse to ONE row per node (min label):
    // each was otherwise doubling that node's votes and output rows
    val dupSeeds = Seq((1L, 7), (1L, 3), (2L, 5)).toDF("node", "label")
    val lps = GraphRank.labelPropagate(
      Seq((1L, 9L), (2L, 9L)).toDF("src", "dst"), "src", "dst",
      dupSeeds, "node", "label", 1).collect()
    assert(lps.count(_.getLong(0) == 1L) == 1, "one row per node")
    assert(lps.find(_.getLong(0) == 1L).get.getInt(1) == 3,
      "duplicate seeds resolve to the smallest label")
    // AMS sketch of nothing: empty cell table
    assert(Sketches.amsBuild(noDocs, col("text")).count() == 0)
    // group split with zero val/test rates: everything lands in train
    val sp = Sampling.groupSplit(Seq((1L, "a"), (2L, "b"))
      .toDF("id", "g"), "g", 0.0, 0.0)
    assert(sp.collect().forall(_.getString(2) == "train"))
    // CUSUM on a single event: one row, clamped at the first step
    val one = Seq((1L, 10L, 1L, 80.0))
      .toDF("user_id", "ts", "event_id", "value")
    val c1 = Events.cusum(one, "user_id", "ts", "event_id", "value",
      50.0, 25.0).head()
    assert(c1.getDouble(4) == 5.0 && c1.getDouble(5) == 0.0)
  }

  test("dedup over an empty corpus: groups, signatures, candidates, " +
    "clusters, and canonical selection are all empty, not errors") {
    assert(Dedup.minhashSignatures(noDocs, "text", "doc_id").count() == 0)
    assert(Dedup.minhashGroups(noDocs, "text", "doc_id").count() == 0)
    assert(Dedup.minhashCandidates(noDocs, "text", "doc_id").count() == 0)
    assert(Dedup.minhashClusters(noDocs, "text", "doc_id",
      maxBucket = 50).count() == 0)
    val noClusters = Seq.empty[(Long, Long, Long)]
      .toDF("cluster_id", "doc_id", "score")
    assert(Dedup.canonicalPerCluster(noClusters, "cluster_id", "doc_id",
      col("score")).count() == 0)
  }

  test("text + sampling over an empty corpus: vocabulary, samples, " +
    "packing, manifest-shaped aggregates are empty, not errors") {
    assert(TextAnalysis.vocabulary(noDocs, "doc_id", "text", 1L, 10)
      .count() == 0)
    assert(Sampling.sampleFixedN(noDocs, "doc_id", 10).count() == 0)
    assert(Sampling.sampleWeighted(noDocs, "doc_id", col("n_chars"), 10)
      .count() == 0)
    assert(Sampling.temperatureSample(noDocs, "doc_id", "source", 0.5, 10.0)
      .count() == 0)
    assert(Sampling.packSequences(noDocs, "doc_id", "text", 64, 2)
      .count() == 0)
    assert(Sampling.domainCap(noDocs, "doc_id", "source", 5).count() == 0)
    assert(TextAnalysis.chunks(noDocs, "text", "doc_id", 32, 24)
      .count() == 0)
    assert(Dsir.importanceWeights(noDocs, "text",
      Array.fill(Dsir.NumBuckets)(0.0)).count() == 0)
    assert(Bpe.learn(noDocs, "text", 3).isEmpty)
    assert(WordPiece.learnWithVocab(noDocs, "text", 3) == ((Nil, Map.empty)))
    assert(QualityClassifier.withFeatures(noDocs, "text").count() == 0)
  }

  test("sketches over an empty frame: histograms and quantiles are " +
    "empty; HLL and CMS sketch tables are empty") {
    assert(Sketches.histogram(noDocs, col("n_chars").cast("double"),
      0.0, 640.0, 64).count() == 0)
    assert(Sketches.histogramQuantiles(noDocs,
      col("n_chars").cast("double"), 0.0, 640.0, 64,
      Seq(0.5)).count() == 0)
    assert(Sketches.cmsBuild(noDocs, col("doc_id")).count() == 0)
    assert(Sketches.hllCardinalityBy(noDocs, col("source"), col("text"))
      .count() == 0)
  }

  test("events ops: empty left, empty both sides, and single-row keys " +
    "behave as identities") {
    val empty = Seq.empty[(Long, Long, Long, Double)]
      .toDF("event_id", "user_id", "ts", "value")
    val one = Seq((1L, 9L, 100L, 1.0))
      .toDF("event_id", "user_id", "ts", "value")
    assert(Events.asofJoin(empty, one, "user_id", "ts", "event_id",
      Seq("value")).count() == 0)
    assert(Events.asofJoin(empty, empty, "user_id", "ts", "event_id",
      Seq("value")).count() == 0)
    val s1 = Events.sessionize(one, "user_id", "ts", "event_id", 10L)
    assert(s1.select("session_idx").head().getLong(0) == 1L)
    assert(Events.sessionize(empty, "user_id", "ts", "event_id", 10L)
      .count() == 0)
    assert(Events.rangeJoinBucketed(empty, one
      .select(col("user_id"), col("ts").as("lo"),
        (col("ts") + 10L).as("hi")), "user_id", "ts", "lo", "hi",
      100L).count() == 0)
  }

  test("round-5 ops over empty / degenerate frames: repeat mix, " +
    "containment blocking, top-quantile-by, diff, transitions are " +
    "empty or identity, never errors") {
    assert(Sampling.repeatFactorSample(noDocs, "doc_id", "source",
      Map("src0" -> 2.0), 1.0).count() == 0)
    assert(Dedup.containmentPairs(noDocs, "text", "doc_id").count() == 0)
    assert(Sampling.topQuantileByGroup(
      noDocs.withColumn("s", lit(0.5)), "source", "s",
      0.75, 0.0, 1.0, 64).count() == 0)
    // diff of identical snapshots: every row unchanged
    val d3 = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet").limit(5)
    val diff = Diff.corpusDiff(d3, d3, "doc_id", "text", "source")
    assert(diff.count() == 5 &&
      diff.where(col("status") =!= "unchanged").count() == 0)
    // diff against an empty new snapshot: everything removed
    val gone = Diff.corpusDiff(d3, noDocs.select("doc_id", "text",
      "source"), "doc_id", "text", "source")
    assert(gone.count() == 5 &&
      gone.where(col("status") =!= "removed").count() == 0)
    // transitions need >= 2 events per key to emit anything
    val oneEach = Seq((1L, 10L, 100L, "a"), (2L, 20L, 200L, "b"))
      .toDF("user_id", "ts", "event_id", "event_type")
    assert(Events.transitions(oneEach, "user_id", "ts", "event_id",
      "event_type").count() == 0)
    assert(Events.transitions(oneEach.where(lit(false)), "user_id",
      "ts", "event_id", "event_type").count() == 0)
  }

  test("vocabulary with an unreachable minCount and oversized topV is " +
    "empty / truncated, never an error") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet").limit(3)
    assert(TextAnalysis.vocabulary(docs, "doc_id", "text",
      minCount = 1000000L, topV = 10).count() == 0)
    val small = TextAnalysis.vocabulary(docs, "doc_id", "text",
      minCount = 1L, topV = 100000)
    assert(small.count() > 0)
  }
}
