package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Hash-space bigram language model for perplexity-based quality
  * scoring — the CCNet-style filter (Wenzek et al. 2020: docs are
  * kept/binned by LM perplexity) re-expressed as two hash aggregates
  * and one key join, with no model file and no UDF.
  *
  * Tokens are the deterministic portable 45-bit hashes of
  * [[Dedup.tokenHashList]]; a bigram is the same 45-bit polynomial
  * fold [[Dedup.ngramFingerprints]] uses for n = 2, so both engines
  * (and a stream) compute identical keys. Training = one scan →
  * per-bigram and per-prefix counts (map-side partial aggregates
  * keyed by hash — the zipf head is merely a hot *reduce key of a
  * count*, never a row explosion). Scoring joins doc bigrams to the
  * aggregated counts: many-to-one on post-aggregation keys, then one
  * per-doc aggregate. At 100 TB the exact-join path is 3 key-shuffles
  * of token-count-sized data; when the pruned LM fits an executor
  * (top-K bigrams + unigram backoff), broadcast it instead and
  * scoring becomes a pure map — the join path below stays the
  * bit-exact oracle either way.
  */
object NgramLm {

  private val M = Dedup.NgramFpMod

  /** Token-hash-list frame: (keep..., idCol, __hl) — the ONE
    * tokenize+hash pass over the corpus. Multi-use LM queries persist
    * an instance of this frame and derive training, scoring and vocab
    * from it via the `FromHl` forms below, so the corpus is scanned
    * once instead of once per subplan (optimization guide §1.2/§2.4:
    * remove passes/shuffles — the r14 plan audit measured
    * q_sample_rho at 28 parquet scans of the same documents table
    * from exactly this duplication). */
  def hashListFrame(df: DataFrame, textCol: String, idCol: String,
                    keep: Seq[String] = Nil): DataFrame =
    df.select((col(idCol) +: keep.map(col)) :+
      Dedup.tokenHashList(col(textCol)).as("__hl"): _*)

  /** [[bigramRows]] over a pre-built [[hashListFrame]]. */
  def bigramRowsFromHl(hl: DataFrame, idCol: String): DataFrame =
    hl.where(size(col("__hl")) >= 2)
      .select(col(idCol), explode(
        transform(slice(col("__hl"), lit(1), size(col("__hl")) - 1),
          (h, i) => struct(h.as("w1"),
            ((h * lit(31L) + element_at(col("__hl"), i + lit(2))) % lit(M))
              .as("b")))).as("u"))
      .select(col(idCol), col("u.w1").as("w1"), col("u.b").as("b"))

  /** One row per bigram occurrence: (idCol, w1, b) with w1 = prefix
    * token hash and b = 45-bit bigram fingerprint
    * ((w1·31 + w2) mod M). Docs with fewer than 2 tokens contribute
    * nothing. Pure map (tokenize + fold per row → explode). */
  def bigramRows(df: DataFrame, textCol: String, idCol: String): DataFrame =
    bigramRowsFromHl(hashListFrame(df, textCol, idCol), idCol)

  /** A trained bigram LM: per-bigram counts (b, cb), per-prefix
    * counts (w1, cu), and the corpus vocabulary size (distinct token
    * hashes over ALL positions). The count tables are lazy plans —
    * persist them when scoring repeatedly. */
  final case class Lm(bigrams: DataFrame, prefixes: DataFrame, vocab: Long)

  /** [[train]] over a pre-built (ideally persisted) [[hashListFrame]]:
    * the two count aggregates and the vocabulary action all read the
    * frame instead of re-tokenizing the corpus. */
  def trainFromHl(hl: DataFrame, idCol: String): Lm = {
    val bg = bigramRowsFromHl(hl, idCol)
    val bigrams = bg.groupBy("b").agg(count(lit(1)).as("cb"))
    val prefixes = bg.groupBy("w1").agg(count(lit(1)).as("cu"))
    val vocab = hl
      .select(explode(col("__hl")).as("h"))
      .agg(countDistinct(col("h"))).head().getLong(0)
    Lm(bigrams, prefixes, vocab)
  }

  /** Train on a corpus: two hash aggregates over the bigram rows plus
    * one distinct-count action for the vocabulary. */
  def train(df: DataFrame, textCol: String, idCol: String): Lm =
    trainFromHl(hashListFrame(df, textCol, idCol), idCol)

  /** Top-k collocations by pointwise mutual information (Church &
    * Hanks 1990): pairs of ADJACENT tokens whose co-occurrence count
    * c(w₁w₂) beats independence, pmi = ln(N·c(w₁w₂)/(c(w₁)·c(w₂))),
    * with a min-count floor against the low-frequency PMI blowup —
    * the collocation/phrase-mining signal (tokenizer merge
    * candidates, boilerplate phrases, entity heads).
    *
    * Scale shape: pair and token counts are two hash aggregates on
    * 45-bit hashes (map-side partial; strings never enter an
    * aggregate); the two token-count joins are many-to-one on
    * post-aggregation keys; N is a one-row frame joined in-plan; the
    * top-k is ONE bounded [[TopK]] aggregate keyed by the pair
    * fingerprint; spellings are recovered AFTER selection by one
    * map pass probing the broadcast k-row winner set (the q_text_vocab
    * trick in [[graft.TextQueries]]). All counts integers ⇒
    * every pmi double and the selected set are engine-exact.
    *
    * Returns (rank, spelling, cp, pmi) for the k winners, ranked
    * (pmi desc, fingerprint asc). */
  def pmiCollocations(df: DataFrame, textCol: String, idCol: String,
                      minCount: Int = 5, k: Int = 10,
                      cache: DataFrame => DataFrame = identity): DataFrame = {
    val hl = Dedup.tokenHashList(col(textCol))
    val pairs = df.select(hl.as("__hl"))
      .where(size(col("__hl")) >= 2)
      .select(explode(
        transform(slice(col("__hl"), lit(1), size(col("__hl")) - 1),
          (h, i) => struct(h.as("w1"),
            element_at(col("__hl"), i + lit(2)).as("w2")))).as("u"))
      .select(col("u.w1").as("w1"), col("u.w2").as("w2"))
    // `cache` wraps the two count tables (both vocab-sized): cpair
    // feeds N and the scored chain, ctok joins twice — uncached, each
    // consumer re-runs the corpus tokenize+aggregate subtree (guide
    // §7.2 duplicated-subtree pattern; measured 18 parquet scans of
    // documents in the r14 q_text_pmi plan)
    val cpair = cache(pairs.groupBy("w1", "w2").agg(count(lit(1)).as("cp")))
    val ctok = cache(
      df.select(explode(Dedup.tokenHashList(col(textCol))).as("h"))
        .groupBy("h").agg(count(lit(1)).as("ct")))
    val nf = cpair.agg(sum(col("cp")).as("nn"))
    val scored = cpair.where(col("cp") >= minCount)
      .join(ctok.select(col("h").as("w1"), col("ct").as("c1")), "w1")
      .join(ctok.select(col("h").as("w2"), col("ct").as("c2")), "w2")
      .crossJoin(nf)
      .select(((col("w1") * lit(31L) + col("w2")) % lit(M)).as("b"),
        col("cp"),
        // cast BEFORE multiplying: cp·N and c(w₁)·c(w₂) in int64
        // overflow at corpus scale (N ~ 10¹³ bigrams at 100 TB wraps
        // silently here and THROWS in DuckDB); exact-int doubles
        // below 2⁵³ multiply to identical IEEE products on both
        // engines, so parity is unaffected
        log(col("cp").cast("double") * col("nn").cast("double") /
          (col("c1").cast("double") * col("c2").cast("double")))
          .as("pmi"))
    // pmi rides out of the TopK buffer itself; cp is recovered by the
    // spelling pass below (one row per bigram occurrence, so its
    // count(*) IS cp) — re-joining `scored` for either would run the
    // whole pair-aggregate + token-joins subplan a second time for a
    // k-row result
    val top = Ranking.topRanksWithScore(scored, "pmi", "b", k)
    // spelling recovery: strings only move for the k winners
    val ws = TextAnalysis.tokens(col(textCol))
    val spellings = df
      .select(hl.as("__hl"), ws.as("__ws"))
      .where(size(col("__hl")) >= 2)
      .select(explode(transform(
        sequence(lit(1), size(col("__hl")) - 1),
        i => struct(((element_at(col("__hl"), i) * lit(31L) +
          element_at(col("__hl"), i + 1)) % lit(M)).as("b"),
          concat_ws(" ", element_at(col("__ws"), i),
            element_at(col("__ws"), i + 1)).as("sp")))).as("u"))
      .select(col("u.b").as("b"), col("u.sp").as("sp"))
      .join(broadcast(top.select("b")), "b")
      .groupBy("b").agg(min(col("sp")).as("spelling"),
        count(lit(1)).as("cp"))
    top.join(spellings, "b")
      .select(col("rank"), col("spelling"), col("cp"),
        col("pmi"))
  }

  /** Per-doc perplexity under interpolated Kneser–Ney smoothing
    * (Kneser & Ney 1995; Chen & Goodman 1999's interpolated form with
    * a fixed discount D):
    *
    *   p_KN(w|v) = max(c(vw)−D, 0)/c(v·) + D·N₁₊(v·)/c(v·) · p_cont(w)
    *   p_cont(w) = N₁₊(·w) / N₁₊(··)
    *
    * where the N₁₊ are DISTINCT-continuation counts off the bigram
    * TYPE table — the "how many contexts has w followed" signal that
    * makes KN the strongest count-based smoother. The better LM is a
    * better boilerplate/quality scorer than add-one ([[perplexity]]).
    *
    * Scale shape: the type table is one hash aggregate on (w1, w2)
    * 45-bit hash pairs; c(v·)/N₁₊(v·)/N₁₊(·w)/N₁₊(··) are rollups OF
    * the type table (post-agg grains); scoring joins occurrences
    * many-to-one on post-agg keys. Strings never shuffle. All counts
    * integer ⇒ every probability is the identical pure-IEEE expression
    * on any engine. Returns (idCol, n_bigrams, nll). */
  def kneserNeyPerplexity(df: DataFrame, textCol: String, idCol: String,
                          discount: Double = 0.75,
                          cache: DataFrame => DataFrame = identity)
      : DataFrame =
    kneserNeyPerplexityFromHl(
      hashListFrame(df, textCol, idCol), idCol, discount, cache)

  /** [[kneserNeyPerplexity]] over a pre-built [[hashListFrame]].
    * `cache` is applied to the bigram TYPE table, which four subplans
    * read (the scoring join and the c(v·)/N₁₊ rollups): pass a
    * persist hook (e.g. `f => CacheRegistry.track(f.persist())`) so
    * the type aggregate — itself a full pass over the occurrence rows
    * — runs once instead of four times. The table is vocab-sized
    * (distinct bigram TYPES), orders of magnitude below the corpus. */
  def kneserNeyPerplexityFromHl(hl: DataFrame, idCol: String,
                                discount: Double = 0.75,
                                cache: DataFrame => DataFrame = identity)
      : DataFrame = {
    val occ = hl
      .where(size(col("__hl")) >= 2)
      .select(col(idCol), explode(
        transform(slice(col("__hl"), lit(1), size(col("__hl")) - 1),
          (h, i) => struct(h.as("w1"),
            element_at(col("__hl"), i + lit(2)).as("w2")))).as("u"))
      .select(col(idCol), col("u.w1").as("w1"), col("u.w2").as("w2"))
    val cvw = cache(occ.groupBy("w1", "w2").agg(count(lit(1)).as("cvw")))
    val cv = cvw.groupBy("w1")
      .agg(sum(col("cvw")).as("cv"), count(lit(1)).as("n1v"))
    val cw = cvw.groupBy("w2").agg(count(lit(1)).as("n1w"))
    val nt = cvw.agg(count(lit(1)).as("nt"))
    val prob = greatest(col("cvw") - lit(discount), lit(0.0)) /
      col("cv").cast("double") +
      lit(discount) * col("n1v").cast("double") /
        col("cv").cast("double") *
        (col("n1w").cast("double") / col("nt").cast("double"))
    occ.join(cvw, Seq("w1", "w2")).join(cv, "w1").join(cw, "w2")
      .crossJoin(nt)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"), avg(-log(prob)).as("nll"))
  }

  /** Per-doc perplexity signal under add-one smoothing:
    * p(w₂|w₁) = (c(w₁w₂) + 1) / (c(w₁·) + V); returns
    * (idCol, n_bigrams, nll) with nll = avg −ln p over the doc's
    * bigrams. Unseen bigrams/prefixes (held-out scoring) count as 0
    * via the left joins, so every doc with ≥ 2 tokens gets a finite
    * score; perplexity = exp(nll). */
  def perplexity(df: DataFrame, textCol: String, idCol: String,
                 lm: Lm): DataFrame =
    perplexityFromHl(hashListFrame(df, textCol, idCol), idCol, lm)

  /** [[perplexity]] over a pre-built [[hashListFrame]]. */
  def perplexityFromHl(hl: DataFrame, idCol: String, lm: Lm): DataFrame = {
    val bg = bigramRowsFromHl(hl, idCol)
    val nll: Column = -log((col("cb") + lit(1.0)) /
      (col("cu") + lit(lm.vocab)).cast("double"))
    bg.join(lm.bigrams, Seq("b"), "left")
      .join(lm.prefixes, Seq("w1"), "left")
      .na.fill(0L, Seq("cb", "cu"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"), avg(nll).as("nll"))
  }
}
