package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic corpus sampling and sequence packing — the two
  * "shape the training mix" stages of a large-scale data pipeline
  * (domain re-weighting à la Gopher/DoReMi, then contiguous-token
  * packing into fixed context windows à la GPT-2/LLaMA pretraining).
  *
  * Everything is HASH-deterministic, not RNG-based: membership is a
  * pure function of the row id, so a sample is reproducible across
  * engines, re-runs, and cluster sizes, can be verified row-for-row by
  * an external oracle, and stays STABLE under incremental ingest (a
  * re-run over a grown corpus keeps every previously-sampled row —
  * the property that makes hash sampling the production standard).
  *
  * Scale shapes: sampling is a pure per-row predicate (no shuffle, no
  * join — the rate table rides in the codegen'd `when` chain);
  * packing is per-shard sequential by construction (a contiguous
  * token stream IS a sequential layout), parallel ACROSS shards, with
  * shard count scaled to the corpus so each shard's window scan stays
  * bounded.
  */
object Sampling {

  /** 2^60 — the size of [[TextAnalysis.tokenHash]]'s output space. */
  val HashSpace: Double = 1152921504606846976.0

  /** Deterministic uniform draw in [0, 1): the portable 60-bit md5
    * hash of the id rendered as a decimal string, scaled. Both engines
    * render integers identically, so the draw is cross-engine exact. */
  def hashFraction(id: Column): Column =
    TextAnalysis.tokenHash(id.cast("string")) / lit(HashSpace)

  /** DuckDB form of [[hashFraction]] (same bits, same scale). */
  val HashFractionSql: String => String = col =>
    s"(${TextAnalysis.TokenHashSql(s"CAST($col AS VARCHAR)")} / " +
      "CAST(1152921504606846976 AS DOUBLE))"

  /** Uniform deterministic sample: keep iff hash(id) < rate. */
  def sampleByHash(df: DataFrame, idCol: String, rate: Double): DataFrame =
    df.where(hashFraction(col(idCol)) < lit(rate))

  /** Leakage-safe train/val/test assignment: the split is a function
    * of the GROUP key (dedup cluster id, domain, author …), not the
    * row — so near-duplicates, which share a cluster, can never
    * straddle train and test (the contamination path a row-wise
    * split leaves open; cf. Lee et al. 2022 §6 on duplicated
    * train/test text inflating eval). One deterministic hash draw per
    * row on the group key: no shuffle, no join, replayable, stream-
    * safe; cuts are [0, valRate) → "val", [valRate, valRate+testRate)
    * → "test", rest "train". */
  def groupSplit(df: DataFrame, groupCol: String,
                 valRate: Double, testRate: Double): DataFrame = {
    require(valRate >= 0 && testRate >= 0 && valRate + testRate < 1.0,
      s"bad split rates $valRate/$testRate")
    val f = hashFraction(col(groupCol))
    df.withColumn("split",
      when(f < lit(valRate), lit("val"))
        .when(f < lit(valRate) + lit(testRate), lit("test"))
        .otherwise(lit("train")))
  }

  /** Leakage-safe k-fold assignment (the cross-validation dual of
    * [[groupSplit]]): fold = portable 60-bit hash of the GROUP key
    * mod k — pure integer arithmetic, so folds are cross-engine
    * exact, replayable, and whole duplicate families
    * (sharing a group key) land in one fold by construction. One
    * scan, no shuffle, no join. */
  def groupKFold(df: DataFrame, groupCol: String, k: Int): DataFrame = {
    require(k >= 2, s"bad fold count $k")
    df.withColumn("fold",
      pmod(TextAnalysis.tokenHash(col(groupCol).cast("string")),
        lit(k.toLong)))
  }

  /** Stratified (per-group-rate) deterministic sample — domain
    * re-weighting: each group keeps its own hash-threshold share.
    * `rates` is model-sized and compiles to a `when` chain, so the
    * plan is ONE codegen'd scan: no join, no shuffle, no broadcast —
    * the predicate pushes into the source read where formats allow.
    * Groups absent from `rates` keep `defaultRate`. */
  def stratifiedSample(df: DataFrame, idCol: String, groupCol: String,
                       rates: Map[String, Double],
                       defaultRate: Double): DataFrame =
    df.where(hashFraction(col(idCol)) <
      perGroupValue(groupCol, rates, defaultRate))

  /** Model-sized (group → value) table as a codegen'd `when` chain —
    * the shared rate/factor lookup of [[stratifiedSample]] and
    * [[repeatFactorSample]] (no join, no broadcast; groups absent
    * from the map — including a null group — take the default). */
  private def perGroupValue(groupCol: String, values: Map[String, Double],
                            default: Double): Column =
    values.foldLeft(lit(default)) { case (acc, (g, r)) =>
      when(col(groupCol) === lit(g), lit(r)).otherwise(acc)
    }

  /** Temperature-flattened domain mixture sampling (the standard
    * rebalancing for multilingual/domain training mixes, cf. the
    * exponentially-smoothed sampling of mBERT/XLM-R): domain s gets
    * mixture weight q_s ∝ (n_s/N)^alpha (alpha < 1 up-weights tails)
    * and keep-rate min(1, target·q_s/n_s) toward a `targetRows`
    * budget, applied as the same deterministic hash-threshold draw as
    * [[stratifiedSample]].
    *
    * Fully in-plan: domain counts are one map-side-partial aggregate
    * whose output is domain-cardinality-sized; the derived rate table
    * broadcasts back, so the data pass is one scan + broadcast-join +
    * filter — no driver round-trip, no shuffle of the data. Returns
    * the kept rows with their `sample_rate`. NULL-group rows never
    * match the per-group rate join and are dropped (identical in the
    * DuckDB oracle's USING join) — coalesce null groups to a sentinel
    * upstream if they must participate; [[stratifiedSample]]'s
    * when-chain path applies `defaultRate` to them instead. */
  def temperatureSample(df: DataFrame, idCol: String, groupCol: String,
                        alpha: Double, targetRows: Double): DataFrame = {
    val counts = df.groupBy(groupCol).agg(count(lit(1)).as("__n"))
    val tot = counts.agg(sum(col("__n")).as("__tot"))
    val w = counts.crossJoin(broadcast(tot))
      .withColumn("__w", pow(
        col("__n").cast("double") / col("__tot").cast("double"),
        lit(alpha)))
    val sw = w.agg(sum(col("__w")).as("__sw"))
    val rates = w.crossJoin(broadcast(sw))
      .select(col(groupCol), least(lit(1.0),
        lit(targetRows) * (col("__w") / col("__sw")) /
          col("__n").cast("double")).as("sample_rate"))
    df.join(broadcast(rates), Seq(groupCol))
      .where(hashFraction(col(idCol)) < col("sample_rate"))
  }

  /** Per-domain cap (the RefinedWeb-style "at most `cap` documents
    * per site/source" rule): each group keeps the `cap` rows with the
    * smallest deterministic hash draw — a uniform within-group sample
    * that is reproducible, engine-portable, and nested (the cap-25
    * set is a subset of the cap-100 set, because membership is
    * rank-in-a-fixed-order per group).
    *
    * Scale shape: the winner set per group comes from the bounded
    * [[TopK]] aggregate — O(cap) mergeable state per group, map-side
    * partials — NEVER a rank Window (which would funnel each domain
    * through one task; the hot domain is exactly the one being
    * capped). Survivor ids then equi-join back to recover full rows;
    * the join's build side is groups×cap rows (AQE broadcasts it when
    * small). `idCol` must be integral (the TopK state is primitive
    * (double, long) pairs). */
  def domainCap(df: DataFrame, idCol: String, groupCol: String,
                cap: Int): DataFrame =
    df.join(domainCapIds(df, idCol, groupCol, cap), Seq(idCol))

  /** Just the surviving ids of [[domainCap]] — the composable piece
    * when the caller joins survivors back to a CHEAPER lineage than
    * the one the cap was computed over (e.g. the modern-pipeline
    * composition caps the scored docs but re-derives only the
    * scrubbed text for survivors, so the scoring chain runs once). */
  def domainCapIds(df: DataFrame, idCol: String, groupCol: String,
                   cap: Int): DataFrame = {
    require(cap > 0 && cap <= 1024, s"bad domain cap $cap")
    df.groupBy(col(groupCol))
      .agg(TopK.topK(-hashFraction(col(idCol)), col(idCol).cast("long"),
        cap).as("__top"))
      .select(explode(col("__top")).as("__t"))
      .select(col("__t.id").as(idCol))
  }

  /** Deterministic EXACT-size sample: the `n` rows with the smallest
    * hash draw (ties broken by id). Where [[sampleByHash]] gives a
    * binomial-sized sample, this gives exactly n — the "pick 10k eval
    * docs" operation — while keeping every hash-sampling property:
    * reproducible, engine-independent, and NESTED (the fixed-100
    * sample is a subset of the fixed-1000 sample, because membership
    * is rank-in-a-fixed-order).
    *
    * Scale shape: orderBy+limit plans as TakeOrderedAndProject —
    * per-partition top-n heaps merged on the driver, O(n) memory,
    * never a global sort. */
  def sampleFixedN(df: DataFrame, idCol: String, n: Int): DataFrame = {
    require(n > 0, s"bad sample size $n")
    df.orderBy(hashFraction(col(idCol)).asc, col(idCol).asc).limit(n)
  }

  /** Weighted sample WITHOUT replacement, exactly n rows (Efraimidis–
    * Spirakis exponential-rank sampling): row i wins with probability
    * proportional to `weight` by taking the n smallest keys
    * −ln(u_i)/w_i, with u_i the deterministic hash draw — so the
    * sample is reproducible, engine-portable, and plans as
    * TakeOrderedAndProject like [[sampleFixedN]]. The quality- or
    * length-weighted corpus selection step. Weights must be > 0. */
  def sampleWeighted(df: DataFrame, idCol: String, weight: Column,
                     n: Int): DataFrame = {
    require(n > 0, s"bad sample size $n")
    // enforce the documented weight domain IN the plan: a negative
    // weight makes a negative key that deterministically wins every
    // slot, a zero weight divides by zero — both silently poison the
    // sample, so the row itself raises instead
    val w = when(weight.cast("double") > 0.0, weight.cast("double"))
      .otherwise(raise_error(concat(
        lit("sampleWeighted: weight must be > 0, got "),
        weight.cast("string"))).cast("double"))
    val key = -log(hashFraction(col(idCol))) / w
    df.orderBy(key.asc, col(idCol).asc).limit(n)
  }

  /** DuckDB form of [[sampleWeighted]]'s order key. */
  def WeightedKeySql(idCol: String, weightExpr: String): String =
    s"(-ln(${HashFractionSql(idCol)}) / CAST($weightExpr AS DOUBLE))"

  /** Repeat-factor (epoch) mixing — the "this source gets 2.4 epochs,
    * that one 0.3" stage of assembling a pretraining mix (LLaMA-style
    * data recipes specify fractional epochs per source; Gopher/DoReMi
    * weights reduce to the same form): a row under factor f is
    * emitted ⌊f⌋ times always, plus one more iff its deterministic
    * hash draw (salted, so it is independent of any earlier
    * [[stratifiedSample]] draw on the same ids) lands below the
    * fractional part f − ⌊f⌋ — in expectation exactly f copies, and
    * f < 1 degrades to plain down-sampling (⌊f⌋ = 0). Each emitted
    * copy carries an `epoch` index 0..n−1 so downstream
    * shuffling/packing can interleave epochs rather than concatenate
    * them.
    *
    * Scale shape: ONE codegen'd scan — the factor table rides in a
    * `when` chain like [[stratifiedSample]], the copy count is pure
    * row arithmetic, and the fan-out is `explode(sequence(...))`,
    * which multiplies rows WITHOUT any shuffle or join; stateless
    * per row, replayable, and stable under ingest. */
  def repeatFactorSample(df: DataFrame, idCol: String, groupCol: String,
                         factors: Map[String, Double],
                         defaultFactor: Double): DataFrame = {
    require((defaultFactor +: factors.values.toSeq).forall(f =>
      f >= 0.0 && f <= 64.0), s"factors must be in [0, 64]: $factors")
    val f = perGroupValue(groupCol, factors, defaultFactor)
    val fl = floor(f)
    val draw = hashFraction(concat(col(idCol).cast("string"), lit("#rep")))
    val n = fl.cast("long") +
      when(draw < f - fl, lit(1L)).otherwise(lit(0L))
    // sequence(0, n-1) would DESCEND for n = 0 (Spark fills start>stop
    // with step -1) — drop zero-copy rows before the fan-out
    df.withColumn("__n", n).where(col("__n") >= lit(1L))
      .withColumn("epoch", explode(sequence(lit(0L), col("__n") - lit(1L))))
      .drop("__n")
  }

  /** Per-group top-quantile selection — "keep each domain's best
    * (1−q) share by score" (per-language/per-source quality floors;
    * a GLOBAL floor over-prunes weak domains and under-prunes strong
    * ones). Thresholds come from the portable grouped histogram
    * sketch ([[Sketches.histogramQuantilesBy]]): one partial-agg'd
    * pass builds groups×nBuckets integer registers, the interpolated
    * per-group quantile broadcasts back (the threshold table is
    * group-cardinality-sized), and the keep filter is one more scan —
    * no driver round-trip, no data-sized shuffle, and the identical
    * integer registers make the kept set engine-exact. Returns the
    * surviving rows plus their group's `threshold`. */
  /** Domain contracts (shared with the DuckDB oracle, which computes
    * the identical joins): rows with a NULL group never match the
    * per-group threshold join and are dropped — coalesce null groups
    * to a sentinel upstream if they must participate; scores below
    * `lo` clamp into bucket 0, so a group whose scores ALL lie below
    * `lo` has no within-bucket ranking and can be dropped entirely —
    * choose `lo` at or below the score floor. */
  def topQuantileByGroup(df: DataFrame, groupCol: String, scoreCol: String,
                         q: Double, lo: Double, hi: Double,
                         nBuckets: Int): DataFrame = {
    require(q > 0.0 && q < 1.0, s"bad quantile $q")
    val th = Sketches.histogramQuantilesBy(df, col(groupCol),
        col(scoreCol), lo, hi, nBuckets, Seq(q))
      .select(col("grp").as(groupCol),
        col(Sketches.quantileLabel(q)).as("threshold"))
    df.join(broadcast(th), Seq(groupCol))
      .where(col(scoreCol) >= col("threshold"))
  }

  /** DuckDB form of [[repeatFactorSample]]'s salted fractional draw. */
  def RepeatDrawSql(idCol: String): String =
    s"(${TextAnalysis.TokenHashSql(s"CAST($idCol AS VARCHAR) || '#rep'")} " +
      "/ CAST(1152921504606846976 AS DOUBLE))"

  /** Contiguous-token sequence packing: documents are laid out as one
    * token stream per shard (shard = hash(id) mod `nShards`, order by
    * id within the shard) and chunked into fixed `window`-token
    * training sequences that documents may span — the standard
    * concat-then-chunk pretraining layout. Adds:
    *  - `shard`, `n_tokens`, `start_off` (exclusive-cumsum offset of
    *    the doc in its shard's stream),
    *  - `first_window` / `last_window` (window indices covering it),
    *  - `crosses` (true iff the doc spans a window boundary).
    *
    * The per-shard `Window.partitionBy(shard).orderBy(id)` cumsum is
    * the honest scale shape: a contiguous stream is sequential BY
    * DEFINITION, so the parallelism axis is the shard count — size
    * `nShards` to the corpus (rows/nShards bounded per executor) just
    * as production packers run one stream per writer task. */
  def packSequences(df: DataFrame, idCol: String, textCol: String,
                    window: Int, nShards: Int): DataFrame = {
    require(window > 0 && nShards > 0)
    val shard = pmod(TextAnalysis.tokenHash(col(idCol).cast("string")),
      lit(nShards.toLong))
    val w = Window.partitionBy(col("shard")).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("shard", shard)
      .withColumn("n_tokens",
        size(TextAnalysis.tokens(col(textCol))).cast("long"))
      .withColumn("start_off", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .withColumn("first_window", floor(col("start_off") / window))
      .withColumn("last_window",
        floor((col("start_off") + col("n_tokens") - 1) / window))
      .withColumn("crosses", col("first_window") =!= col("last_window"))
  }

  /** No-split greedy sequence packing — the SFT/instruction-tuning
    * layout where a document must NEVER cross a sequence boundary
    * (attention can't mask across examples that share a window):
    * docs stream through their shard in id order; each doc (truncated
    * to `window` tokens if longer) lands in the current bin when it
    * fits, else opens a new bin. Returns one row per doc with
    * `shard`, `n_tokens`, `t` (post-truncation tokens), `bin` (0-based
    * within the shard), `truncated`.
    *
    * Scale shape: only (shard, id, n_tokens) shuffles — 24 bytes/doc,
    * text never moves. The per-shard walk is sequential BY DEFINITION
    * (greedy packing is order-dependent state), so as with
    * [[packSequences]] the parallelism axis is the shard count; the
    * kernel itself is a one-pass O(docs/shard) iterator with O(1)
    * state. Several shard values may share a partition (hash
    * placement), so the kernel re-anchors its state on every shard
    * change rather than assuming one shard per partition. */
  def packNoSplit(df: DataFrame, idCol: String, textCol: String,
                  window: Int, nShards: Int): DataFrame =
    packNoSplitBy(df, idCol,
      size(TextAnalysis.tokens(col(textCol))).cast("long"),
      window, nShards)

  /** [[packNoSplit]] generalized to ANY per-doc token-count column —
    * the hook that lets the packing layout count what the trainer
    * actually consumes (e.g. learned-BPE piece counts via
    * [[Bpe.segment]]) instead of whitespace tokens. `tokCount` is
    * evaluated in the pre-shuffle projection, so whatever it costs
    * runs where the text lives and only (shard, id, n_tokens) —
    * 24 bytes/doc — ever shuffles. */
  def packNoSplitBy(df: DataFrame, idCol: String, tokCount: Column,
                    window: Int, nShards: Int): DataFrame =
    packNoSplitOrdered(df,
      pmod(TextAnalysis.tokenHash(col(idCol).cast("string")),
        lit(nShards.toLong)),
      col(idCol), tokCount, window, nShards)
      .withColumnRenamed("ord", idCol)

  /** The fully-general greedy walk: EXPLICIT shard and within-shard
    * order columns — what a composed pipeline needs when the packing
    * order is not id order (e.g. pack in [[epochShuffle]] rank order
    * within the shuffle's own shards). One kernel, three entry
    * points; output column for the order key is `ord`. */
  def packNoSplitOrdered(df: DataFrame, shardCol: Column,
                         orderCol: Column, tokCount: Column,
                         window: Int, nShards: Int): DataFrame = {
    require(window > 0 && nShards > 0)
    val spark = df.sparkSession
    import spark.implicits._
    df.select(
        shardCol.cast("long").as("shard"),
        orderCol.cast("long").as("ord"),
        tokCount.cast("long").as("n_tokens"))
      .repartition(nShards, col("shard"))
      .sortWithinPartitions("shard", "ord")
      .as[(Long, Long, Long)]
      .mapPartitions { it =>
        var curShard = -1L; var bin = 0L; var fill = 0L
        it.map { case (shard, ord, n) =>
          val t = math.min(n, window.toLong)
          if (shard != curShard) { curShard = shard; bin = 0L; fill = t }
          else if (fill + t <= window) fill += t
          else { bin += 1L; fill = t }
          (shard, ord, n, t, bin, n > window)
        }
      }
      .toDF("shard", "ord", "n_tokens", "t", "bin", "truncated")
  }

  /** Length-bucketed dynamic batching: docs group into length buckets
    * (`bucket = ceil(n_tokens / granularity)`), order by id within
    * (shard, bucket), and fill fixed-size batches of `batchSize` docs;
    * each batch pads to ITS OWN max length — the fairseq/T5 batching
    * layout that cuts padding waste versus padding everything to the
    * global max. Returns one row per doc with `shard`, `bucket`,
    * `n_tokens`, `batch` (0-based within (shard, bucket)), `pos`
    * (0-based slot in its batch).
    *
    * Scale shape: the window partitions on (shard, bucket) — rows per
    * partition are corpus/(nShards·buckets), bounded by sizing
    * `nShards` to the corpus exactly as [[packSequences]] documents;
    * only (shard, bucket, id, n_tokens) shuffles. */
  def lengthBucketBatches(df: DataFrame, idCol: String, textCol: String,
                          granularity: Int, batchSize: Int,
                          nShards: Int): DataFrame = {
    require(granularity > 0 && batchSize > 0 && nShards > 0)
    val w = Window.partitionBy(col("shard"), col("bucket"))
      .orderBy(col(idCol))
    df.select(
        pmod(TextAnalysis.tokenHash(col(idCol).cast("string")),
          lit(nShards.toLong)).as("shard"),
        col(idCol),
        size(TextAnalysis.tokens(col(textCol))).cast("long").as("n_tokens"))
      // ceil division in exact integer form: (n + g - 1) div g
      .withColumn("bucket",
        expr(s"(n_tokens + ${granularity - 1}) div $granularity"))
      .withColumn("__rn", row_number().over(w).cast("long"))
      .withColumn("batch", expr(s"(__rn - 1) div $batchSize"))
      .withColumn("pos", expr(s"(__rn - 1) % $batchSize"))
      .drop("__rn")
  }

  /** UniMax budget allocation (Chung et al. 2023): split a token
    * budget across languages so every language is funded as equally
    * as possible without repeating any language more than `epochCap`
    * epochs — integer water-filling over per-language caps
    * cap_l = toks_l · epochCap. The threshold t solves
    * Σ min(cap_l, t) = budget; languages with cap ≤ t take their full
    * cap ("saturated" — the epoch limit, not the budget, binds), the
    * rest take the floor-quantized t. The budget itself is relative —
    * `budgetNum/budgetDen` of the corpus token mass — so the contract
    * is meaningful at every scale factor.
    *
    * All arithmetic is int64 (`div` == DuckDB `//` on the non-negative
    * operands here), so the allocation is bit-exact cross-engine. The
    * only window runs over the LANGUAGE grain — a handful of rows by
    * definition — after one map-side-partial token agg; corpus rows
    * are touched exactly once. */
  def unimaxAllocation(df: DataFrame, groupCol: String, tok: Column,
                       budgetNum: Long, budgetDen: Long,
                       epochCap: Int): DataFrame = {
    require(budgetNum > 0 && budgetDen > 0 && epochCap > 0)
    val langs = df.groupBy(groupCol)
      .agg(sum(tok).cast("long").as("toks"))
      .withColumn("cap", col("toks") * epochCap)
    val rankW = Window.orderBy(col("cap"), col(groupCol))
    val ranked = langs
      .withColumn("rk", row_number().over(rankW))
      .withColumn("s", sum(col("cap")).over(
        rankW.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    // one-row register frame: budget, n, the funded-prefix size k and
    // its cap prefix-sum s_k (condition monotone in rk, so k = count)
    val regs = ranked
      .withColumn("budget",
        expr(s"$budgetNum * sum(toks) over () div $budgetDen"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy()))
      .agg(max(col("budget")).as("budget"), max(col("n")).as("n"),
        sum(when(col("s") + col("cap") * (col("n") - col("rk"))
          <= col("budget"), 1L).otherwise(0L)).as("k"),
        coalesce(max(when(col("s") + col("cap") * (col("n") - col("rk"))
          <= col("budget"), col("s"))), lit(0L)).as("sk"))
    ranked.crossJoin(broadcast(regs))
      .withColumn("tq", when(col("k") < col("n"),
        expr("(budget - sk) div (n - k)")))
      .select(col(groupCol), col("toks"), col("cap"),
        when(col("rk") <= col("k"), col("cap")).otherwise(col("tq"))
          .as("alloc"),
        (col("rk") <= col("k")).as("saturated"))
  }

  /** Realize a [[unimaxAllocation]] as an actual (doc, epoch)
    * training multiset: each language's budget becomes a fractional
    * epoch factor f_l = alloc_l / toks_l (≤ epochCap by
    * construction), and every doc of language l is emitted ⌊f_l⌋
    * times plus one more iff its salted hash draw lands below
    * frac(f_l) — the [[repeatFactorSample]] emitter driven by a
    * COMPUTED factor table instead of a hand-written one, so in
    * expectation each language contributes alloc_l tokens. Emitted
    * copies carry an `epoch` index 0..n−1 for downstream
    * interleaving.
    *
    * Scale shape: the allocation is language-grain (a broadcast
    * join onto the corpus — model-sized by definition), the copy
    * count is row arithmetic, and the fan-out is
    * `explode(sequence(...))` — no shuffle of docs anywhere. The
    * draw salt differs from [[repeatFactorSample]]'s so composing
    * both stages on the same ids keeps the draws independent. A
    * language with zero token mass has no defined epoch factor —
    * its docs (all empty) are dropped with the allocation's 0/0
    * guarded to zero copies. */
  /** The shared (doc, epoch) emitter: ⌊f⌋ copies always, one more on
    * the salted sub-fractional draw — ONE definition for the in-plan
    * and pre-fitted paths so they cannot drift. */
  private def unimaxEmit(df: DataFrame, idCol: String,
                         f: Column): DataFrame = {
    val fl = floor(f)
    val draw = hashFraction(concat(col(idCol).cast("string"), lit("#umx")))
    val n = fl.cast("long") +
      when(draw < f - fl, lit(1L)).otherwise(lit(0L))
    df.withColumn("__n", n).where(col("__n") >= lit(1L))
      .withColumn("epoch", explode(sequence(lit(0L), col("__n") - lit(1L))))
      .drop("__n")
  }

  def unimaxRealize(df: DataFrame, idCol: String, groupCol: String,
                    tok: Column, budgetNum: Long, budgetDen: Long,
                    epochCap: Int): DataFrame = {
    val alloc = unimaxAllocation(df, groupCol, tok, budgetNum,
        budgetDen, epochCap)
      .select(col(groupCol),
        when(col("toks") > 0L,
          col("alloc").cast("double") / col("toks").cast("double"))
          .otherwise(lit(0.0)).as("__f"))
    unimaxEmit(df.join(broadcast(alloc), Seq(groupCol)), idCol,
      col("__f")).drop("__f")
  }

  /** DuckDB form of [[unimaxRealize]]'s salted fractional draw. */
  def UnimaxDrawSql(idCol: String): String =
    s"(${TextAnalysis.TokenHashSql(s"CAST($idCol AS VARCHAR) || '#umx'")} " +
      "/ CAST(1152921504606846976 AS DOUBLE))"

  /** Deterministic epoch-reshuffled training order — the "global
    * shuffle without shuffling the data" layout: per epoch, every doc
    * gets an epoch-salted shard (hash(id, epoch) mod nShards) and an
    * epoch-salted within-shard rank (order by a second independent
    * hash), so (a) each epoch's order is a fresh pseudorandom
    * permutation, (b) any worker reproduces ITS shard's order from
    * the id list alone — resumable mid-epoch with no shuffle state,
    * and (c) the whole layout is a pure function of (id, epoch):
    * bit-replayable across engines and restarts. Returns one row per
    * (doc, epoch) with `epoch`, `shard`, 0-based `rank`.
    *
    * Scale shape: the fan-out is explode(sequence) (no shuffle), the
    * rank window partitions on (epoch, shard) — rows per partition
    * are corpus/nShards, the axis you size exactly as
    * [[packSequences]] documents; only (id, epoch, shard, okey) —
    * 32 bytes/doc/epoch — ever shuffles. */
  def epochShuffle(df: DataFrame, idCol: String, nShards: Int,
                   epochs: Int): DataFrame = {
    require(nShards > 0 && epochs > 0)
    val w = Window.partitionBy(col("epoch"), col("shard"))
      .orderBy(col("__okey"), col(idCol))
    df.select(col(idCol),
        explode(sequence(lit(0L), lit(epochs - 1L))).as("epoch"))
      .withColumn("shard", pmod(TextAnalysis.tokenHash(
        concat(col(idCol).cast("string"), lit("#shf#"),
          col("epoch").cast("string"))), lit(nShards.toLong)))
      .withColumn("__okey", TextAnalysis.tokenHash(
        concat(col(idCol).cast("string"), lit("#ord#"),
          col("epoch").cast("string"))))
      .withColumn("rank", (row_number().over(w) - 1).cast("long"))
      .drop("__okey")
  }

  /** Chat-template rendering with loss masks (the SFT layout step):
    * a salted hash on the doc id picks 2 or 4 turns, token boundaries
    * fall at floor(i·n/T), turns alternate `<|user|>`/`<|assistant|>`
    * markers, and the doc closes with `<|eos|>`. Docs under 4 tokens
    * render as a single unmasked user turn. Returns
    * `struct(t INT, masked LONG, rendered STRING)` where `masked`
    * counts assistant-turn tokens (the spans a trainer backpropagates
    * through). Pure per-row expression — no shuffle. */
  def chatTemplate(text: Column, docId: Column): Column = {
    val ws = TextAnalysis.tokens(text)
    val n = size(ws)
    val t = when(n >= 4,
      (pmod(TextAnalysis.tokenHash(
        concat(docId.cast("string"), lit("#chat"))), lit(2L))
        .cast("int") + 1) * 2).otherwise(1)
    def bnd(i: Column) = floor(i.cast("double") * n / t).cast("int")
    val parts = transform(sequence(lit(0), t - 1), i =>
      concat(when(pmod(i, lit(2)) === 0, lit("<|user|>"))
        .otherwise(lit("<|assistant|>")), lit(" "),
        array_join(slice(ws, bnd(i) + 1, bnd(i + 1) - bnd(i)), " ")))
    val rendered = concat(array_join(parts, " "), lit(" <|eos|>"))
    val masked = aggregate(
      filter(sequence(lit(0), t - 1), i => pmod(i, lit(2)) === 1),
      lit(0L), (acc, i) => acc + (bnd(i + 1) - bnd(i)).cast("long"))
    struct(t.as("t"), masked.as("masked"), rendered.as("rendered"))
  }

  /** Scale-safe per-source token-budget selection (round-10): keep,
    * within each source, the longest (score desc, id asc) prefix whose
    * running token mass fits `floor(mass · num / den)` — WITHOUT a
    * per-source sort over the data grain. The sort-window form is
    * exact but its parallelism axis is the source count: at 100 TB
    * with a handful of sources each domain funnels through one
    * reducer (the round-9 100× probe measured it 4× worse than
    * anything else, 18.8× at 100× input). This form finds each
    * source's cut by iterative histogram refinement instead:
    *
    *  1. one aggregate for per-source mass/budget/score range;
    *  2. per pass, docs inside each source's candidate interval are
    *     bucketed against per-source boundary arrays (a broadcast
    *     join + one map-side-combined aggregate; output is
    *     sources × buckets — model-sized) and the driver walks the
    *     histogram top-down to find the bucket containing the cut;
    *  3. when a source's crossing bucket collapses to an exact score
    *     tie, refinement switches to the id axis (ids are unique, so
    *     integer refinement always converges);
    *  4. the final boundary bucket (≤ `cap` docs per source) is
    *     resolved exactly by the original running-sum window — over
    *     the bounded boundary set only, never the data grain.
    *
    * Every pass is a scan + tiny aggregate: no data-sized shuffle, no
    * per-source sequential stage; passes ≈ log_buckets(n/cap) (3 at
    * 10¹¹ docs). The projected (source, score, nt, id) frame persists
    * MEMORY_AND_DISK across passes — 4 narrow columns, spill-safe.
    * Exactness: bucket membership and keep filters use the SAME
    * driver-computed boundary literals and strict comparisons, so a
    * doc is counted above the cut iff the final filter keeps it; the
    * boundary window replays the reference running-sum semantics on
    * the residue. Kept set is identical to the sort-window form
    * (deterministic on (score, id)), pinned by SamplingSpec.
    *
    * Returns the kept rows as (srcCol, idCol, ntCol, scoreCol,
    * budget). Requires non-negative nt and a numeric id.
    *
    * The persisted projection is registered with
    * [[graft.core.CacheRegistry]] because the RETURNED frame still
    * reads it lazily — long-lived callers must call
    * `CacheRegistry.drain()` after materializing the result, or the
    * cached blocks accumulate for the session's lifetime. */
  def selectBudget(df: DataFrame, srcCol: String, scoreCol: String,
                   ntCol: String, idCol: String, num: Long, den: Long,
                   buckets: Int = 128, cap: Long = 4096,
                   maxPasses: Int = 12): DataFrame = {
    require(num > 0 && den > 0 && buckets >= 2 && cap >= 1)
    val spark = df.sparkSession
    import org.apache.spark.sql.types._
    // tracked, not unpersisted here: the returned frame reads base
    // lazily, so release happens at the harness drain after the
    // consumer materializes (core.CacheRegistry)
    val base = graft.core.CacheRegistry.track(
      df.select(col(srcCol).cast("string").as("_sb_src"),
        col(scoreCol).cast("double").as("_sb_score"),
        col(ntCol).cast("long").as("_sb_nt"),
        col(idCol).cast("long").as("_sb_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val init = base.groupBy("_sb_src").agg(
      sum("_sb_nt").as("m"), count(lit(1)).as("c"),
      min("_sb_score").as("mns"), max("_sb_score").as("mxs"),
      min("_sb_id").as("mni"), max("_sb_id").as("mxi")).collect()

    // finished per-source keep spec:
    //   definite keep: score > hiKeep, or score == tie && id <= keepIdMax
    //   boundary (window-resolved, <= cap docs): score in (bLo, bHi],
    //     or score == tie && keepIdMax < id <= idHi; running sum <= rem
    final case class Spec(src: String, budget: Long, rem: Long,
      hiKeep: Double, tie: java.lang.Double, keepIdMax: java.lang.Long,
      bLo: java.lang.Double, bHi: java.lang.Double, idHi: java.lang.Long)
    // score-phase state: cut inside (lo, hi]; massAbove = sum nt over
    // score > hi (all definite keeps so far)
    final case class SState(src: String, budget: Long, massAbove: Long,
      lo: Double, hi: Double)
    // id-phase state: cut among score == tie ties inside id (idLo,
    // idHi]; taken = mass of definite keeps (score > tie, plus id
    // buckets already below the cut)
    final case class IState(src: String, budget: Long, taken: Long,
      tie: Double, idLo: Long, idHi: Long)

    val specs = scala.collection.mutable.ArrayBuffer.empty[Spec]
    var sAct = List.empty[SState]
    var iAct = List.empty[IState]
    init.foreach { r =>
      val (src, mass, cnt) = (r.getString(0), r.getLong(1), r.getLong(2))
      val (mns, mxs) = (r.getDouble(3), r.getDouble(4))
      val (mni, mxi) = (r.getLong(5), r.getLong(6))
      val budget = mass / den * num + mass % den * num / den // overflow-safe floor(mass*num/den) for den*num < 2^63/mass%den… exact for positive args
      if (budget >= mass) // whole source fits: keep all outright
        specs += Spec(src, budget, 0L, Double.NegativeInfinity,
          null, null, null, null, null)
      else if (cnt <= cap) // small source: boundary IS the source
        specs += Spec(src, budget, budget, Double.PositiveInfinity,
          null, null, Double.NegativeInfinity, Double.PositiveInfinity,
          null)
      else if (mns == mxs) // one exact score: straight to the id axis
        iAct ::= IState(src, budget, 0L, mns, mni - 1, mxi)
      else sAct ::= SState(src, budget, 0L, math.nextDown(mns), mxs)
    }

    def bndD(lo: Double, hi: Double): Array[Double] =
      (1 until buckets).map(k => lo + (hi - lo) * k / buckets).toArray
    def bndL(lo: Long, hi: Long): Array[Long] =
      (1 until buckets).map(k => lo + (hi - lo) / buckets * k +
        (hi - lo) % buckets * k / buckets).toArray

    // ---- score phase: shrink each source's (lo, hi] around the cut
    var pass = 0
    while (sAct.nonEmpty && pass < maxPasses) {
      pass += 1
      val st = spark.createDataFrame(
        spark.sparkContext.parallelize(sAct.map(s =>
          org.apache.spark.sql.Row(s.src, s.lo, s.hi,
            bndD(s.lo, s.hi).toSeq)), 1),
        StructType(Seq(StructField("_sb_src", StringType),
          StructField("_lo", DoubleType), StructField("_hi", DoubleType),
          StructField("_bnd", ArrayType(DoubleType)))))
      val hist = base.join(broadcast(st), Seq("_sb_src"))
        .where(col("_sb_score") > col("_lo") &&
          col("_sb_score") <= col("_hi"))
        .withColumn("_bk", size(filter(col("_bnd"),
          b => col("_sb_score") > b)))
        .groupBy("_sb_src", "_bk")
        .agg(sum("_sb_nt").as("m"), count(lit(1)).as("c"),
          min("_sb_score").as("mns"), max("_sb_score").as("mxs"),
          min("_sb_id").as("mni"), max("_sb_id").as("mxi"))
        .collect()
        .groupBy(_.getString(0))
      sAct = sAct.flatMap { s =>
        val bnd = bndD(s.lo, s.hi)
        val bkts = hist.getOrElse(s.src, Array.empty)
          .map(r => r.getInt(1) -> r).toMap
        def loOf(j: Int) = if (j == 0) s.lo else bnd(j - 1)
        def hiOf(j: Int) = if (j == buckets - 1) s.hi else bnd(j)
        var acc = s.massAbove
        var j = buckets - 1
        var crossed = -1
        while (j >= 0 && crossed < 0) {
          bkts.get(j) match {
            case Some(r) if acc + r.getLong(2) > s.budget => crossed = j
            case Some(r) => acc += r.getLong(2); j -= 1
            case None => j -= 1
          }
        }
        if (crossed < 0) {
          // unreachable by invariant (massAbove + interval mass >
          // budget); degrade safely to keep-everything-in-interval
          specs += Spec(s.src, s.budget, 0L, s.lo, null, null, null,
            null, null)
          Nil
        } else {
          val r = bkts(crossed)
          val (c, mns, mxs) = (r.getLong(3), r.getDouble(4),
            r.getDouble(5))
          val (jlo, jhi) = (loOf(crossed), hiOf(crossed))
          val sub = bndD(jlo, jhi)
          if (c <= cap || sub.distinct.length < 2 ||
              sub.head <= jlo || sub.last >= jhi) {
            // bounded (or sub-ulp-degenerate) boundary bucket: resolve
            // by the exact window over (jlo, jhi]
            specs += Spec(s.src, s.budget, s.budget - acc, jhi, null,
              null, jlo, jhi, null)
            Nil
          } else if (mns == mxs) {
            // exact score tie bigger than cap: refine on the id axis
            iAct ::= IState(s.src, s.budget, acc, mns,
              r.getLong(6) - 1, r.getLong(7))
            Nil
          } else Some(SState(s.src, s.budget, acc, jlo, jhi))
        }
      }
    }
    // pass cap exhausted: resolve residue intervals by exact window
    sAct.foreach { s =>
      specs += Spec(s.src, s.budget, s.budget - s.massAbove, s.hi, null,
        null, s.lo, s.hi, null)
    }

    // ---- id phase: unique ids, integer refinement always converges
    var ipass = 0
    while (iAct.nonEmpty && ipass < 64) {
      ipass += 1
      val st = spark.createDataFrame(
        spark.sparkContext.parallelize(iAct.map(s =>
          org.apache.spark.sql.Row(s.src, s.tie, s.idLo, s.idHi,
            bndL(s.idLo, s.idHi).toSeq)), 1),
        StructType(Seq(StructField("_sb_src", StringType),
          StructField("_tie", DoubleType), StructField("_ilo", LongType),
          StructField("_ihi", LongType),
          StructField("_bnd", ArrayType(LongType)))))
      val hist = base.join(broadcast(st), Seq("_sb_src"))
        .where(col("_sb_score") === col("_tie") &&
          col("_sb_id") > col("_ilo") && col("_sb_id") <= col("_ihi"))
        .withColumn("_bk", size(filter(col("_bnd"),
          b => col("_sb_id") > b)))
        .groupBy("_sb_src", "_bk")
        .agg(sum("_sb_nt").as("m"), count(lit(1)).as("c"))
        .collect()
        .groupBy(_.getString(0))
      iAct = iAct.flatMap { s =>
        val bnd = bndL(s.idLo, s.idHi)
        val bkts = hist.getOrElse(s.src, Array.empty)
          .map(r => r.getInt(1) -> r).toMap
        def loOf(j: Int) = if (j == 0) s.idLo else bnd(j - 1)
        def hiOf(j: Int) = if (j == buckets - 1) s.idHi else bnd(j)
        // ties are taken in id ASC order: walk buckets bottom-up
        var acc = s.taken
        var j = 0
        var crossed = -1
        while (j < buckets && crossed < 0) {
          bkts.get(j) match {
            case Some(r) if acc + r.getLong(2) > s.budget => crossed = j
            case Some(r) => acc += r.getLong(2); j += 1
            case None => j += 1
          }
        }
        if (crossed < 0) { // unreachable by invariant; keep all ties
          specs += Spec(s.src, s.budget, 0L, s.tie, s.tie, s.idHi,
            null, null, null)
          Nil
        } else {
          val c = bkts(crossed).getLong(3)
          val (jlo, jhi) = (loOf(crossed), hiOf(crossed))
          if (c <= cap)
            // definite: score > tie, or tie && id <= jlo; boundary:
            // tie && jlo < id <= jhi with the remaining budget
            { specs += Spec(s.src, s.budget, s.budget - acc, s.tie,
                s.tie, jlo, null, null, jhi); Nil }
          else Some(IState(s.src, s.budget, acc, s.tie, jlo, jhi))
        }
      }
    }

    val specDf = broadcast(spark.createDataFrame(
      spark.sparkContext.parallelize(specs.toList.map(s =>
        org.apache.spark.sql.Row(s.src, s.budget, s.rem, s.hiKeep,
          s.tie, s.keepIdMax, s.bLo, s.bHi, s.idHi)), 1),
      StructType(Seq(StructField("_sb_src", StringType),
        StructField("_budget", LongType), StructField("_rem", LongType),
        StructField("_hik", DoubleType), StructField("_tie", DoubleType),
        StructField("_kid", LongType), StructField("_blo", DoubleType),
        StructField("_bhi", DoubleType),
        StructField("_idhi", LongType)))))
    val joined = base.join(specDf, Seq("_sb_src"))
    val keepFull = joined.where(col("_sb_score") > col("_hik") ||
      (col("_tie").isNotNull && col("_sb_score") === col("_tie") &&
        col("_sb_id") <= col("_kid")))
    val boundary = joined.where(
      (col("_blo").isNotNull && col("_sb_score") > col("_blo") &&
        col("_sb_score") <= col("_bhi")) ||
      (col("_tie").isNotNull && col("_sb_score") === col("_tie") &&
        col("_sb_id") > coalesce(col("_kid"), lit(Long.MinValue)) &&
        col("_sb_id") <= col("_idhi")))
    val w = Window.partitionBy("_sb_src")
      .orderBy(col("_sb_score").desc, col("_sb_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val boundaryKept = boundary
      .withColumn("_cum", sum(col("_sb_nt")).over(w))
      .where(col("_cum") <= col("_rem"))
    val outCols = Seq(col("_sb_src").as(srcCol),
      col("_sb_id").as(idCol), col("_sb_nt").as(ntCol),
      col("_sb_score").as(scoreCol), col("_budget").as("budget"))
    keepFull.select(outCols: _*)
      .unionByName(boundaryKept.select(outCols: _*))
  }
}
