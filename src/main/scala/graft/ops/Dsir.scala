package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** DSIR-style data selection (Xie et al. 2023, "Data Selection for
  * Language Models via Importance Resampling"): estimate hashed
  * n-gram bag-of-buckets distributions for a small TARGET corpus
  * (the domain you want more of) and the RAW corpus, weight every
  * raw document by its log importance ratio Σ log(p_target[b] /
  * p_raw[b]) over its feature buckets, and resample with Gumbel
  * top-n — the standard recipe for "select pretraining data that
  * looks like the target domain".
  *
  * Everything is deterministic arithmetic on the portable token
  * hash, so an external engine rebuilds the identical weights and
  * the identical selected set.
  *
  * Scale shape: the bucket tables are ONE conditional hash aggregate
  * (map-side partial, output ≤ [[NumBuckets]] rows — model-sized);
  * the log-ratio vector is then inlined as a plan literal (the
  * centroid-inlining pattern), so weighting is a pure one-scan map —
  * no join, no shuffle; selection is TakeOrdered
  * (per-partition heaps), never a global sort. */
object Dsir {

  /** Hashed feature space size m — buckets, not vocabulary. */
  val NumBuckets = 256

  /** Per-document feature-bucket list: hashed unigrams AND bigrams
    * (the paper's feature map), with multiplicity, each mod
    * [[NumBuckets]]. Bigram folds ride the same 45-bit fingerprint
    * universe as the dedup kernels. Native one-pass kernel
    * ([[TextHashExpressions.dsirBuckets]]); [[bucketListSpec]] is the
    * composable form it is equivalence-tested against. */
  def bucketList(text: Column): Column =
    TextHashExpressions.dsirBuckets(text, NumBuckets)

  /** Composable executable spec of [[bucketList]] — O(tokens²)
    * hashing (the gram windows re-evaluate the hash-array
    * expression), kept for equivalence testing only. */
  def bucketListSpec(text: Column): Column = {
    val hl = Dedup.tokenHashList(text)
    concat(
      transform(hl, h => h % lit(NumBuckets.toLong)),
      transform(Dedup.ngramFingerprints(hl, 2),
        g => g % lit(NumBuckets.toLong)))
  }

  /** DuckDB rendering of [[bucketList]] given a token-hash-list
    * column `hl` (same fold, same constants). */
  def BucketListSql(hl: String): String =
    s"list_concat([h % $NumBuckets for h in $hl], " +
      s"[((($hl[i]*31 + $hl[i+1]) % ${Dedup.NgramFpMod}) % $NumBuckets) " +
      s"for i in range(1, len($hl))])"

  /** Add-one-smoothed log bucket probabilities for target and raw in
    * ONE scan: (bucket, n_raw, n_target) via a conditional aggregate,
    * densified on the driver over the full bucket domain (zero-count
    * buckets still get smoothed mass). Returns the m-length log-ratio
    * vector log p_target[b] − log p_raw[b]. */
  def logRatios(df: DataFrame, textCol: String,
                isTarget: Column): Array[Double] = {
    val counts = df
      .select(explode(bucketList(col(textCol))).as("b"),
        isTarget.cast("long").as("t"))
      .groupBy("b")
      // coalesce: a bucket whose rows all have a NULL target flag
      // (null group column) must count as zero, not null
      .agg(count(lit(1)).as("n_raw"),
        coalesce(sum(col("t")), lit(0L)).as("n_tgt"))
      .collect()
      .map(r => r.getLong(0).toInt -> (r.getLong(1), r.getLong(2))).toMap
    val rawTot = counts.values.map(_._1).sum
    val tgtTot = counts.values.map(_._2).sum
    Array.tabulate(NumBuckets) { b =>
      val (nr, nt) = counts.getOrElse(b, (0L, 0L))
      math.log((nt + 1.0) / (tgtTot + NumBuckets).toDouble) -
        math.log((nr + 1.0) / (rawTot + NumBuckets).toDouble)
    }
  }

  /** Per-document log importance weight: fold the inlined log-ratio
    * vector over the doc's bucket list — a pure codegen'd map (the
    * ratio table is m literals, like inlined k-means centroids).
    * Null-text rows carry no features and are dropped. (An empty
    * string is ONE empty token under the whitespace-split convention
    * both engines share — such docs keep that single feature rather
    * than vanishing.) Adds `log_w` and `n_feats`. */
  def importanceWeights(df: DataFrame, textCol: String,
                        ratios: Array[Double]): DataFrame = {
    require(ratios.length == NumBuckets, s"need $NumBuckets ratios")
    // the weight kernel is computeOnce-pinned: n_feats > 0 would
    // otherwise sink below the projection and re-run the kernel in a
    // Filter (PlanAudit r11)
    df.withColumn("__w", PlanHints.computeOnce(
        TextHashExpressions.dsirWeight(col(textCol),
          NumBuckets, ratios.toSeq)))
      .withColumn("log_w", col("__w.log_w"))
      .withColumn("n_feats", col("__w.n_feats"))
      .where(col("n_feats") > 0)
      .drop("__w")
  }

  /** Composable executable spec of [[importanceWeights]] (fold over
    * the inlined ratio table — same summation order, bit-identical;
    * equivalence-tested, not the hot path). */
  def importanceWeightsSpec(df: DataFrame, textCol: String,
                            ratios: Array[Double]): DataFrame = {
    require(ratios.length == NumBuckets, s"need $NumBuckets ratios")
    val lut = typedLit(ratios.toSeq)
    val bl = bucketListSpec(col(textCol))
    df.withColumn("__bl", bl)
      .where(size(col("__bl")) > 0)
      .withColumn("log_w", aggregate(col("__bl"), lit(0.0),
        (acc, b) => acc + element_at(lut, b.cast("int") + lit(1))))
      .withColumn("n_feats", size(col("__bl")).cast("long"))
      .drop("__bl")
  }

  /** Gumbel top-n resample over the log weights: key = log_w +
    * Gumbel(u) with u the deterministic hash draw (−ln(−ln u)) —
    * sampling without replacement ∝ softmax(log_w), reproducible and
    * engine-portable. The key is rounded to 6 decimals (ties break
    * by id) so the cross-engine float boundary cannot flip
    * membership. Plans as TakeOrderedAndProject. */
  def resample(df: DataFrame, idCol: String, n: Int): DataFrame = {
    require(n > 0, s"bad sample size $n")
    val key = round(col("log_w") -
      log(-log(Sampling.hashFraction(col(idCol)))), 6)
    df.orderBy(key.desc, col(idCol).asc).limit(n)
  }

  /** DuckDB form of [[resample]]'s order key (descending). */
  def ResampleKeySql(idCol: String): String =
    s"round(logw - ln(-ln(${Sampling.HashFractionSql(idCol)})), 6)"
}
